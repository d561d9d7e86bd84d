package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ops.Classifier
import graft.streaming.StatefulOps
import graft.tables.DeltaExport
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, udf, when}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types._

object SessionIsolationSpec {
  // UDF bodies run on this JVM's executor threads (local mode) and
  // reach the latches through this object, not a serialized copy
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** Library code never changes the caller's session conf: the reference
  * plans N+1 concurrent queries on one session, so a conf flipped and
  * later restored leaks into whatever else is planned in that window.
  */
class SessionIsolationSpec extends SparkSpec {
  import SessionIsolationSpec._

  test("perceptronTrain leaves the caller's AQE and shuffle " +
      "partitions alone while it trains") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
    val blockOnce = udf { (t: String) =>
      entered.countDown()
      release.await(2, TimeUnit.MINUTES)
      t
    }
    val train = spark.range(0, 20, 1, 2).select(
      blockOnce(when(col("id") % 2 === 0, lit("good clean prose"))
        .otherwise(lit("spam buy now"))).as("text"),
      (col("id") % 2 === 0).as("label"))
    val run = Future(
      Classifier.perceptronTrain(train, col("label"), epochs = 3))
    try {
      assert(entered.await(2, TimeUnit.MINUTES),
        "training never reached the blocking UDF")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
    } finally release.countDown()
    assert(Await.result(run, 5.minutes).length == 65)
  }

  test("a RocksDB stream started through StatefulOps.RocksDbState " +
      "leaves the caller's provider conf alone") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val c = SessionBridge.pinned(spark, StatefulOps.RocksDbState)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.sqlContext
    import c.implicits._
    val stream = MemoryStream[StatefulOps.Contribution]
    val q = StatefulOps.runningTotals(stream.toDS()).toDF()
      .writeStream.format("memory")
      .queryName(s"iso_rocks_${System.nanoTime()}")
      .outputMode("append").start()
    try {
      stream.addData(StatefulOps.Contribution("a", 1))
      q.processAllAvailable()
      assert(q.isActive)
      assert(spark.conf.getOption(key) == before)
      // the query itself does run its state in RocksDB
      assert(q.lastProgress.stateOperators.head.customMetrics.keySet()
        .asScala.exists(_.startsWith("rocksdb")))
    } finally q.stop()
  }

  test("readSnapshot of an id-mode table leaves the caller's conf alone") {
    val dir = SparkSpec.tmpDir("iso_idmode")
    val path = s"$dir/t.parquet"
    val fileSchema = StructType(Seq(StructField("garbled", StringType,
      nullable = true,
      new MetadataBuilder().putLong("parquet.field.id", 1L).build())))
    val stage = s"$dir/stage"
    SessionBridge.pinned(spark,
        Map("spark.sql.parquet.fieldId.write.enabled" -> "true"))
      .createDataFrame(java.util.List.of(Row("a"), Row("b")), fileSchema)
      .coalesce(1).write.parquet(stage)
    val part = Files.list(Paths.get(stage)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(path, "_delta_log"))
    Files.move(part, Paths.get(path, "f1.parquet"))
    val logical = StructType(Seq(StructField("id", StringType,
      nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", "col-a1")
        .putLong("delta.columnMapping.id", 1L).build())))
    val mapper = new ObjectMapper()
    def action(kind: String)(
        fill: com.fasterxml.jackson.databind.node.ObjectNode => Unit) = {
      val o = mapper.createObjectNode()
      fill(o.putObject(kind))
      mapper.writeValueAsString(o)
    }
    val log = Seq(
      action("protocol") { p =>
        p.put("minReaderVersion", 2); p.put("minWriterVersion", 5) },
      action("metaData") { m =>
        m.put("id", "iso-idmode")
        m.putObject("format").put("provider", "parquet")
        m.put("schemaString", logical.json)
        m.putArray("partitionColumns")
        val conf = m.putObject("configuration")
        conf.put("delta.columnMapping.mode", "id")
        conf.put("delta.columnMapping.maxColumnId", "1") },
      action("add") { a =>
        a.put("path", "f1.parquet")
        a.putObject("partitionValues")
        a.put("size", Files.size(Paths.get(path, "f1.parquet")))
        a.put("modificationTime", 1L)
        a.put("dataChange", true) })
    Files.write(Paths.get(path, "_delta_log", f"${0L}%020d.json"),
      log.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // a fresh session: confs other suites leave on the shared one
    // cannot hide a change
    val caller = spark.newSession()
    val before = caller.conf.getAll.toSet
    val snap = DeltaExport.readSnapshot(caller, path)
    assert(snap.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    val after = caller.conf.getAll.toSet
    assert(after -- before == Set.empty, "set by readSnapshot")
    assert(before -- after == Set.empty, "unset by readSnapshot")
  }

  test("src/main sets session conf only where it owns the session") {
    // the bridge that scopes confs to a clone, and two mains that
    // build their own session
    val allowed = Set(
      "org/apache/spark/sql/graftbridge/SessionBridge.scala",
      "graft/tools/ExportDemo.scala",
      "graft/ScaleBench.scala")
    val root = Paths.get("src/main/scala")
    val setter = """conf\.(set|unset)\(""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"scanned only ${files.size} files")
    val hits = files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      if (allowed(rel)) Nil
      else Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if setter.findFirstIn(line).isDefined =>
          s"$rel:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
