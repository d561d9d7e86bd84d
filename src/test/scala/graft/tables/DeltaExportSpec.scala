package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class DeltaExportSpec extends SparkSpec {
  import graft.SparkSpec._

  private val mapper = new ObjectMapper()
  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("v", IntegerType)))

  private def df(rows: (String, Int)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))), schema)

  private def logLines(path: String, v: Long) =
    Files.readAllLines(
      Paths.get(path, "_delta_log", f"$v%020d.json"),
      StandardCharsets.UTF_8).asScala.filter(_.nonEmpty)
      .map(mapper.readTree).toSeq

  private def logVersions(path: String): Seq[Long] = {
    val d = Paths.get(path, "_delta_log")
    if (!Files.exists(d)) Seq.empty
    else Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted
  }

  test("first export anchors delta v0: protocol, metaData, full add set") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2, "c" -> 3), "id")
    assert(DeltaExport.export(t) == 0L)
    val lines = logLines(path, 0L)
    val proto = lines.flatMap(n => Option(n.get("protocol")))
    assert(proto.size == 1 && proto.head.get("minReaderVersion").asInt == 1)
    val meta = lines.flatMap(n => Option(n.get("metaData")))
    assert(meta.size == 1)
    assert(DataType.fromJson(meta.head.get("schemaString").asText) ==
      t.schema())
    assert(meta.head.get("partitionColumns").size() == 0)
    val adds = lines.flatMap(n => Option(n.get("add")))
    assert(adds.map(_.get("path").asText).sorted ==
      t.fileManifest(t.latestVersion.get).sorted)
    // sizes and row stats must match the physical files
    adds.foreach { a =>
      val f = Paths.get(path, a.get("path").asText)
      assert(a.get("size").asLong == Files.size(f))
      assert(a.get("dataChange").asBoolean)
      assert(mapper.readTree(a.get("stats").asText)
        .get("numRecords").asLong >= 0)
    }
    assert(adds.map(a => mapper.readTree(a.get("stats").asText)
      .get("numRecords").asLong).sum == 3L)
  }

  test("CHECK constraints export as delta.constraints.* + writer version 3") {
    val path = s"${tmpDir("dxc")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.addCheckConstraint("positive_v", "v > 0")
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t)
    val lines = logLines(path, 0L)
    val meta = lines.flatMap(n => Option(n.get("metaData"))).head
    assert(meta.get("configuration")
      .get("delta.constraints.positive_v").asText == "v > 0")
    val proto = lines.flatMap(n => Option(n.get("protocol"))).head
    assert(proto.get("minWriterVersion").asInt == 3)
    assert(DeltaExport.readSnapshot(spark, path).count() == 1L)
  }

  test("re-export is incremental: one entry per new commit, diff-only") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    DeltaExport.export(t)
    assert(DeltaExport.export(t) == 0L) // idempotent: nothing new
    assert(logVersions(path) == Seq(0L))
    val before = t.fileManifest(t.latestVersion.get).toSet
    t.upsert(df("b" -> 20, "c" -> 3), "id")
    t.deleteMatching(df("a" -> 0).select("id"), "id")
    assert(DeltaExport.export(t) == 2L)
    assert(logVersions(path) == Seq(0L, 1L, 2L))
    val after = t.fileManifest(t.latestVersion.get).toSet
    // replaying adds minus removes across all entries = live manifest
    val live = collection.mutable.Set.empty[String]
    logVersions(path).foreach(v => logLines(path, v).foreach { n =>
      Option(n.get("add")).foreach(a => live += a.get("path").asText)
      Option(n.get("remove")).foreach(r => live -= r.get("path").asText)
    })
    assert(live == after)
    // incremental entries touch only the diff, never the carried files
    val touched = Seq(1L, 2L).flatMap(v => logLines(path, v)).flatMap(n =>
      Option(n.get("add")).orElse(Option(n.get("remove")))
        .map(_.get("path").asText))
    assert(touched.toSet.intersect(before.intersect(after)).isEmpty)
  }

  test("schema evolution emits a new metaData action with the widened schema") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t)
    val widened = StructType(schema.fields :+ StructField("w", LongType))
    val wdf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("b", 2, 9L))), widened)
    t.upsert(wdf, "id", mergeSchema = true)
    val dv = DeltaExport.export(t)
    val meta = logLines(path, dv).flatMap(n => Option(n.get("metaData")))
    assert(meta.size == 1)
    assert(DataType.fromJson(meta.head.get("schemaString").asText) ==
      t.schema())
    // and the reader surfaces pre-evolution rows null-filled
    val back = DeltaExport.readSnapshot(spark, path)
    assert(back.schema == t.schema())
    assert(back.collect().map(r => (r.getString(0),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet ==
      Set(("a", -1L), ("b", 9L)))
  }

  test("readSnapshot round-trips every exported snapshot state") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2, "c" -> 3), "id")
    t.upsert(df("b" -> 20, "d" -> 4), "id")
    t.deleteMatching(df("c" -> 0).select("id"), "id")
    DeltaExport.export(t)
    val direct = t.read().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val viaDelta = DeltaExport.readSnapshot(spark, path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(viaDelta == direct)
    assert(viaDelta == Map("a" -> 1, "b" -> 20, "d" -> 4))
  }

  test("trimmed source log re-anchors: one commit, still an exact snapshot") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path, checkpointInterval = 2)
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t)
    val gAtExport = t.latestVersion.get
    // advance several commits, then break the chain from the exported
    // graft version OUT OF BAND (delete a commit body directly, as a
    // foreign cleanup would). The in-band path can no longer produce
    // this state: vacuum's dangling-reader guard auto-exports before
    // reaping, so cleanupMetadata never trims an un-exported commit —
    // the re-anchor is the safety net for trims the engine didn't do.
    t.upsert(df("b" -> 2), "id")
    t.upsert(df("c" -> 3), "id")
    t.optimize(numFiles = 1)
    Files.delete(
      Paths.get(path, "_log", f"${gAtExport + 1}%020d.commit"))
    Files.deleteIfExists(
      Paths.get(path, "_log", f".${gAtExport + 1}%020d.commit.crc"))
    val dv = DeltaExport.export(t)
    assert(logVersions(path).last == dv)
    val info = logLines(path, dv)
      .flatMap(n => Option(n.get("commitInfo"))).head
    assert(info.get("operation").asText.contains("RE-ANCHOR"))
    val viaDelta = DeltaExport.readSnapshot(spark, path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(viaDelta == Map("a" -> 1, "b" -> 2, "c" -> 3))
    // further incremental export keeps working after the re-anchor
    t.upsert(df("d" -> 4), "id")
    assert(DeltaExport.export(t) == dv + 1)
    assert(DeltaExport.readSnapshot(spark, path).count() == 4L)
  }

  test("checkpoint every 10 entries: pointer flips, reader replays only the tail") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("k0" -> 0), "id")
    DeltaExport.export(t) // delta v0, no checkpoint yet (interval 10)
    assert(!Files.exists(Paths.get(path, "_delta_log", "_last_checkpoint")))
    (1 to 10).foreach(i => t.upsert(df(s"k$i" -> i), "id"))
    val dv = DeltaExport.export(t) // delta v10 → checkpoint due
    assert(dv == 10L)
    val lc = Paths.get(path, "_delta_log", "_last_checkpoint")
    assert(Files.exists(lc))
    val lcNode = mapper.readTree(
      new String(Files.readAllBytes(lc), StandardCharsets.UTF_8))
    assert(lcNode.get("version").asLong == 10L)
    val ckpt = Paths.get(path, "_delta_log",
      f"${10L}%020d.checkpoint.parquet")
    assert(Files.exists(ckpt))
    // checkpoint contents = protocol + metaData + the live add set
    val ck = spark.read.parquet(ckpt.toString)
    assert(ck.count() == lcNode.get("size").asLong)
    val addPaths = ck.filter("add IS NOT NULL")
      .select("add.path").collect().map(_.getString(0)).sorted
    assert(addPaths.toSeq == t.fileManifest(t.latestVersion.get).sorted)
    // reader from the checkpoint equals the direct read, and still
    // applies entries AFTER the checkpoint
    t.upsert(df("after" -> 99), "id")
    DeltaExport.export(t)
    val viaDelta = DeltaExport.readSnapshot(spark, path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val direct = t.read().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(viaDelta == direct)
    assert(viaDelta.contains("after"))
    // and the checkpoint is actually the replay base: delete the
    // pre-checkpoint json entries — the reader must not need them
    (0L to 9L).foreach { v =>
      Files.deleteIfExists(
        Paths.get(path, "_delta_log", f"$v%020d.json"))
      Files.deleteIfExists(
        Paths.get(path, "_delta_log", f".$v%020d.json.crc"))
    }
    assert(DeltaExport.readSnapshot(spark, path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap == direct)
    // exports continue normally on the cleaned log (replayAdds and the
    // incremental chain both anchor on checkpoint + surviving tail)
    t.upsert(df("post_clean" -> 7), "id")
    DeltaExport.export(t)
    assert(DeltaExport.readSnapshot(spark, path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap ==
      direct + ("post_clean" -> 7))
  }

  test("cleanupLog trims entries behind the checkpoint; readers unaffected") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("k0" -> 0), "id")
    DeltaExport.export(t)
    // no checkpoint yet → cleanup must refuse to touch anything (a
    // checkpoint-less log needs every entry to replay)
    assert(DeltaExport.cleanupLog(t, retentionMs = 0L).isEmpty)
    assert(logVersions(path) == Seq(0L))
    (1 to 10).foreach(i => t.upsert(df(s"k$i" -> i), "id"))
    DeltaExport.export(t) // delta v10 → checkpoint written
    // entries inside the retention window survive even below the ckpt
    assert(DeltaExport.cleanupLog(t, retentionMs = 24L * 3600 * 1000).isEmpty)
    assert(logVersions(path) == (0L to 10L))
    // past retention: everything strictly below the checkpoint goes,
    // the checkpoint version's own entry and the tail stay
    assert(DeltaExport.cleanupLog(t, retentionMs = 0L) == (0L to 9L))
    assert(logVersions(path) == Seq(10L))
    val direct = t.read().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(DeltaExport.readSnapshot(spark, path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap == direct)
    // the trimmed log keeps exporting incrementally and a second
    // checkpoint supersedes the first, which then ages out too
    (11 to 20).foreach(i => t.upsert(df(s"k$i" -> i), "id"))
    assert(DeltaExport.export(t) == 20L)
    assert(Files.exists(Paths.get(path, "_delta_log",
      f"${20L}%020d.checkpoint.parquet")))
    assert(DeltaExport.cleanupLog(t, retentionMs = 0L) == (10L to 19L))
    assert(logVersions(path) == Seq(20L))
    assert(!Files.exists(Paths.get(path, "_delta_log",
      f"${10L}%020d.checkpoint.parquet")))
    assert(Files.exists(Paths.get(path, "_delta_log",
      f"${20L}%020d.checkpoint.parquet")))
    assert(DeltaExport.readSnapshot(spark, path).count() == 21L)
  }

  test("many-file checkpoint is a distributed multi-part write that round-trips") {
    val path = s"${tmpDir("dx")}/T.parquet"
    // force the multi-part path on a small fixture: >40 actions → the
    // checkpoint must land as N.checkpoint.K.M.parquet parts written
    // by parallel tasks (the 100 TB shape: a 10M-file table's
    // checkpoint can never be one driver-built file)
    spark.conf.set("spark.graft.export.checkpointPartActions", "40")
    try {
      val t = ResourceTable(spark, path).createIfNotExists(schema)
      val wide = spark.createDataFrame(
        spark.sparkContext.parallelize(
          (0 until 120).map(i => Row(s"w$i", i)), 120), schema)
      t.append(wide) // one commit, ~120 data files
      DeltaExport.export(t) // anchor v0, below the checkpoint interval
      (1 to 10).foreach(i => t.upsert(df(s"x$i" -> (1000 + i)), "id"))
      val dv = DeltaExport.export(t) // crosses interval → checkpoint
      assert(dv == 10L)
      val names = Files.list(Paths.get(path, "_delta_log")).iterator()
        .asScala.map(_.getFileName.toString)
        .filter(n => n.contains(".checkpoint.") && !n.startsWith("."))
        .toSeq.sorted
      assert(names.nonEmpty)
      assert(names.forall(
        _.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet""")),
        s"expected multi-part checkpoint names, got $names")
      val lcNode = mapper.readTree(new String(Files.readAllBytes(
        Paths.get(path, "_delta_log", "_last_checkpoint")),
        StandardCharsets.UTF_8))
      assert(lcNode.get("version").asLong == 10L)
      assert(lcNode.get("parts").asInt == names.size && names.size >= 2)
      // the parts together restate the FULL state: protocol, metaData,
      // every live add with size/modificationTime/stats intact
      val ck = spark.read.parquet(
        names.map(n => Paths.get(path, "_delta_log", n).toString): _*)
      assert(ck.count() == lcNode.get("size").asLong)
      assert(ck.filter("protocol IS NOT NULL").count() == 1L)
      assert(ck.filter("metaData IS NOT NULL").count() == 1L)
      val adds = ck.filter("add IS NOT NULL")
        .select("add.path", "add.size", "add.stats").collect()
      assert(adds.map(_.getString(0)).sorted.toSeq ==
        t.fileManifest(t.latestVersion.get).sorted)
      assert(adds.forall(r => r.getLong(1) > 0L && !r.isNullAt(2)))
      // replay through the multi-part checkpoint alone: drop the
      // pre-checkpoint json entries, the reader must not miss them
      (0L to 9L).foreach { v =>
        Files.deleteIfExists(Paths.get(path, "_delta_log", f"$v%020d.json"))
        Files.deleteIfExists(
          Paths.get(path, "_delta_log", f".$v%020d.json.crc"))
      }
      val direct = t.read().collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(DeltaExport.readSnapshot(spark, path).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap == direct)
      // and the NEXT checkpoint rebuilds from the multi-part base
      (11 to 21).foreach(i => t.upsert(df(s"y$i" -> (2000 + i)), "id"))
      assert(DeltaExport.export(t) == 21L)
      assert(DeltaExport.readSnapshot(spark, path).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap ==
        t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap)
    } finally
      spark.conf.unset("spark.graft.export.checkpointPartActions")
  }

  test("foreign partitioned delta log: partition values re-injected as typed columns") {
    // a log OUR exporter never writes: partitionColumns non-empty,
    // data files without the partition columns (per the protocol),
    // hive-style dirs, a null partition value, and a remove in the tail
    val dir = tmpDir("dxf")
    val path = s"$dir/ft.parquet"
    val full = StructType(Seq(
      StructField("id", StringType), StructField("v", IntegerType),
      StructField("p", StringType), StructField("d", DateType)))
    val data = StructType(full.fields.take(2))
    def writeDataFile(rel: String, rows: Seq[(String, Int)]): Long = {
      val stage = s"$dir/stage-${rel.replace('/', '_')}"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
        data).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(path, rel)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      Files.size(dest)
    }
    val s1 = writeDataFile("p=a/f1.parquet", Seq("a1" -> 1, "a2" -> 2))
    val s2 = writeDataFile("p=b/f2.parquet", Seq("b1" -> 3))
    val s3 = writeDataFile("p=b/f3.parquet", Seq("b2" -> 4))
    val s4 = writeDataFile("p=a/f4.parquet", Seq("a3" -> 5))
    def line(kind: String)(fill: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
      val o = mapper.createObjectNode()
      fill(o.putObject(kind))
      mapper.writeValueAsString(o)
    }
    def addLine(rel: String, size: Long, p: String, d: String): String =
      line("add") { a =>
        a.put("path", rel)
        val pv = a.putObject("partitionValues")
        pv.put("p", p)
        if (d == null) pv.putNull("d") else pv.put("d", d)
        a.put("size", size); a.put("modificationTime", 1L)
        a.put("dataChange", true)
      }
    val v0 = Seq(
      line("protocol") { p =>
        p.put("minReaderVersion", 1); p.put("minWriterVersion", 2) },
      line("metaData") { m =>
        m.put("id", "foreign-1")
        val fmt = m.putObject("format")
        fmt.put("provider", "parquet"); fmt.putObject("options")
        m.put("schemaString", full.json)
        val pc = m.putArray("partitionColumns")
        pc.add("p"); pc.add("d")
        m.putObject("configuration"); m.put("createdTime", 1L) },
      addLine("p=a/f1.parquet", s1, "a", "2021-01-01"),
      addLine("p=b/f2.parquet", s2, "b", null),
      addLine("p=b/f3.parquet", s3, "b", null))
    val v1 = Seq(
      line("remove") { r =>
        r.put("path", "p=b/f3.parquet")
        r.put("deletionTimestamp", 2L); r.put("dataChange", true) },
      addLine("p=a/f4.parquet", s4, "a", "2022-02-02"))
    Files.createDirectories(Paths.get(path, "_delta_log"))
    Files.write(Paths.get(path, "_delta_log", f"${0L}%020d.json"),
      v0.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(path, "_delta_log", f"${1L}%020d.json"),
      v1.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val back = DeltaExport.readSnapshot(spark, path)
    // literal-injected partition columns may report STRICTER
    // nullability than the declared schema (p is provably non-null
    // here) — names and types must match exactly
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(back.schema) == shape(full))
    val got = back.collect().map(r => (r.getString(0), r.getInt(1),
      r.getString(2), Option(r.getDate(3)).map(_.toString).orNull)).toSet
    assert(got == Set(
      ("a1", 1, "a", "2021-01-01"), ("a2", 2, "a", "2021-01-01"),
      ("b1", 3, "b", null),
      ("a3", 5, "a", "2022-02-02")))
    // partition filters work on the re-injected columns
    assert(back.filter("p = 'a'").count() == 3L)
    assert(back.filter("d IS NULL").count() == 1L)
    // ONE partitioned scan — not a union of per-tuple scans — and a
    // partition predicate prunes file GROUPS before any footer opens
    assert(!back.queryExecution.executedPlan.toString.contains("Union"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pq = DeltaExport.readSnapshot(spark, path).filter("p = 'b'")
      val scan = pq.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      assert(scan.selectedPartitions.totalNumberOfFiles == 1L,
        "partition pruning should keep only p=b's single live file")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // versionAsOf replays the partitioned history too
    assert(DeltaExport.readSnapshot(spark, path, 0L).count() == 4L)

    // ---- checkpoint-bearing foreign log: drop the json history and
    // leave only a hand-built checkpoint naming the same state ----
    val ckSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType))))))
    val ckRows = Seq(
      Row(Row(1, 2), null, null),
      Row(null, Row("foreign-1", full.json, Seq("p", "d")), null),
      Row(null, null, Row("p=a/f1.parquet",
        Map("p" -> "a", "d" -> "2021-01-01"), s1, 1L, true)),
      Row(null, null, Row("p=b/f2.parquet",
        Map("p" -> "b", "d" -> null), s2, 1L, true)),
      Row(null, null, Row("p=a/f4.parquet",
        Map("p" -> "a", "d" -> "2022-02-02"), s4, 1L, true)))
    val stage = s"$dir/ck-stage"
    spark.createDataFrame(
        spark.sparkContext.parallelize(ckRows, 1), ckSchema)
      .write.mode("overwrite").parquet(stage)
    val ckPart = Files.list(Paths.get(stage)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(ckPart,
      Paths.get(path, "_delta_log", f"${1L}%020d.checkpoint.parquet"))
    Files.write(Paths.get(path, "_delta_log", "_last_checkpoint"),
      """{"version":1,"size":5}""".getBytes(StandardCharsets.UTF_8))
    Seq(0L, 1L).foreach(v => Files.delete(
      Paths.get(path, "_delta_log", f"$v%020d.json")))
    val viaCkpt = DeltaExport.readSnapshot(spark, path)
    assert(shape(viaCkpt.schema) == shape(full))
    assert(viaCkpt.collect().map(r => (r.getString(0), r.getInt(1),
      r.getString(2), Option(r.getDate(3)).map(_.toString).orNull))
      .toSet == got)
  }

  test("exported-log reads skip files by add stats") {
    // three commits with disjoint id ranges → three live files whose
    // exported min/max stats prove two of them irrelevant to a
    // selective predicate; the scan must open ONE file, and the
    // result must equal the unpruned read
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a1" -> 1, "b1" -> 2), "id")
    t.upsert(df("m1" -> 3, "n1" -> 4), "id")
    t.upsert(df("x1" -> 5, "y1" -> 6), "id")
    DeltaExport.export(t)
    val snap = DeltaExport.readSnapshot(spark, path)
    val total = snap.inputFiles.length
    assert(total >= 3)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = DeltaExport.readSnapshot(spark, path)
        .filter(org.apache.spark.sql.functions.col("id") === "x1")
      val scan = q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      assert(scan.selectedPartitions.totalNumberOfFiles == 1L,
        "stats should prune to exactly the file whose range covers x1")
      assert(q.collect().map(_.getString(0)).toSeq == Seq("x1"))
      // a predicate stats cannot bound keeps every file (conservative)
      val all = DeltaExport.readSnapshot(spark, path)
        .filter(org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("id")) === 2)
      val scanAll = all.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      assert(scanAll.selectedPartitions.totalNumberOfFiles == total.toLong)
      assert(all.count() == 6L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("property: stats pruning never changes filtered results") {
    // many commits with overlapping random key ranges, then a battery
    // of predicates spanning every canSkip shape — the pruned read
    // must equal filtering the unpruned snapshot row-for-row
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val rows = Seq.fill(30)(
        (f"k${rnd.nextInt(1000)}%04d", rnd.nextInt(100)))
        .distinctBy(_._1)
      t.upsert(df(rows: _*), "id")
    }
    DeltaExport.export(t)
    val truth = DeltaExport.readSnapshot(spark, path).collect().toSeq
    val truthDf = spark.createDataFrame(
      spark.sparkContext.parallelize(truth), t.schema())
    val preds = Seq(
      "id <= 'k0100'", "id >= 'k0900' OR v < 5", "v = 50",
      "id = 'k0001' AND v >= 0", "id > 'k0500' AND id < 'k0600'",
      "v IS NOT NULL", "id IN ('k0001', 'k0999')",
      "id LIKE 'k03%'", "v BETWEEN 10 AND 20",
      "id <= 'k0000'" /* provably empty */)
    preds.foreach { p =>
      val got = DeltaExport.readSnapshot(spark, path).filter(p)
        .collect().map(_.toString).sorted.toSeq
      val want = truthDf.filter(p).collect().map(_.toString).sorted.toSeq
      assert(got == want, s"pruning changed results for: $p")
    }
  }

  test("timestampAsOf resolves versions from commitInfo timestamps") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t)
    Thread.sleep(15) // distinct per-commit wall-clock ms
    t.upsert(df("b" -> 2), "id")
    DeltaExport.export(t)
    Thread.sleep(15)
    t.upsert(df("c" -> 3), "id")
    DeltaExport.export(t)
    def ciTs(v: Long): Long = logLines(path, v)
      .flatMap(n => Option(n.get("commitInfo")))
      .flatMap(n => Option(n.get("timestamp"))).map(_.asLong).head
    val (ts0, ts1, ts2) = (ciTs(0L), ciTs(1L), ciTs(2L))
    assert(ts0 < ts1 && ts1 < ts2)
    assert(DeltaExport.versionAtTimestamp(spark, path, ts0) == 0L)
    assert(DeltaExport.versionAtTimestamp(spark, path, ts1) == 1L)
    // between two commits → the older one; at the newest → newest
    assert(DeltaExport.versionAtTimestamp(spark, path, ts1 + 1) == 1L)
    assert(DeltaExport.versionAtTimestamp(spark, path, ts2) == 2L)
    // after the latest commit: loud (delta-spark's 'timestamp after
    // latest commit' behavior), never a silent resolve-to-newest
    val eAfter = intercept[IllegalArgumentException] {
      DeltaExport.versionAtTimestamp(spark, path, Long.MaxValue)
    }
    assert(eAfter.getMessage.contains("after the latest commit"))
    assert(DeltaExport.readSnapshotAsOf(spark, path, ts1)
      .count() == 2L)
    // before the first commit: loud, never a wrong snapshot
    val e = intercept[IllegalArgumentException] {
      DeltaExport.versionAtTimestamp(spark, path, ts0 - 1)
    }
    assert(e.getMessage.contains("no delta version at or before"))
    // foreign entries without commitInfo fall back to file mtimes
    val f1 = Paths.get(path, "_delta_log", f"${1L}%020d.json")
    val stripped = Files.readAllLines(f1, StandardCharsets.UTF_8)
      .asScala.filterNot(_.contains("commitInfo")).mkString("\n")
    Files.write(f1, stripped.getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(
      Paths.get(path, "_delta_log", f".${1L}%020d.json.crc"))
    assert(DeltaExport.versionAtTimestamp(spark, path, ts2) == 2L)
    assert(DeltaExport.versionAtTimestamp(spark, path, ts0) == 0L)
    // an ICT writer's inCommitTimestamp takes precedence over the
    // wall-clock timestamp field
    val f0 = Paths.get(path, "_delta_log", f"${0L}%020d.json")
    val withIct = Files.readAllLines(f0, StandardCharsets.UTF_8).asScala
      .map(_.replace(s""""timestamp":$ts0""",
        s""""inCommitTimestamp":${ts0 - 100000},"timestamp":$ts0"""))
      .mkString("\n")
    assert(withIct.contains("inCommitTimestamp"))
    Files.write(f0, withIct.getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(
      Paths.get(path, "_delta_log", f".${0L}%020d.json.crc"))
    assert(DeltaExport.versionAtTimestamp(spark, path, ts0 - 100000) == 0L)
  }

  test("versionAsOf time-travels the exported log; unreachable history is loud") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t) // delta v0
    t.upsert(df("b" -> 2), "id")
    DeltaExport.export(t) // delta v1
    t.upsert(df("a" -> 10), "id")
    t.deleteMatching(df("b" -> 0).select("id"), "id")
    DeltaExport.export(t) // delta v2, v3
    def at(v: Long) = DeltaExport.readSnapshot(spark, path, v).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(at(0L) == Map("a" -> 1))
    assert(at(1L) == Map("a" -> 1, "b" -> 2))
    assert(at(2L) == Map("a" -> 10, "b" -> 2))
    assert(at(3L) == Map("a" -> 10))
    // past the newest exported version → loud
    val over = intercept[IllegalArgumentException](at(4L))
    assert(over.getMessage.contains("past the newest"))
    // a version still reachable THROUGH a later checkpoint path: push
    // the log across the checkpoint interval, then clean — versions
    // below the checkpoint become unavailable and say so
    (4 to 13).foreach(i => t.upsert(df(s"k$i" -> i), "id"))
    DeltaExport.export(t) // crosses delta v10 → checkpoint
    assert(at(3L) == Map("a" -> 10)) // pre-ckpt json still present
    DeltaExport.cleanupLog(t, retentionMs = 0L)
    val gone = intercept[IllegalStateException](at(3L))
    assert(gone.getMessage.contains("no longer available"))
    // vacuum reaps an old version's files → named failure, not a
    // mid-job FileNotFound (probe the checkpoint version itself: its
    // json entry survives cleanup, but optimize+vacuum reaps its files)
    val ckptV = mapper.readTree(new String(Files.readAllBytes(
      Paths.get(path, "_delta_log", "_last_checkpoint")),
      StandardCharsets.UTF_8)).get("version").asLong
    t.optimize(numFiles = 1)
    DeltaExport.export(t)
    t.vacuum(retentionMs = 0L)
    val reaped = intercept[IllegalStateException](at(ckptV))
    assert(reaped.getMessage.contains("removed by vacuum"))
    // the latest snapshot stays readable throughout
    assert(DeltaExport.readSnapshot(spark, path).count() == 11L)
  }

  test("property: readSnapshot == model over random histories incl. trim + cleanup") {
    val rnd = new scala.util.Random(8) // deterministic
    (1 to 3).foreach { trial =>
      val path = s"${tmpDir("dxp")}/T.parquet"
      val t = ResourceTable(spark, path, checkpointInterval = 2)
        .createIfNotExists(schema)
      var model = Map.empty[String, Int]
      (1 to 12).foreach { step =>
        (if (model.isEmpty) 0 else rnd.nextInt(6)) match {
          case 0 | 1 => // upsert 1–3 keys from a small colliding space
            val kv = (0 until 1 + rnd.nextInt(3))
              .map(_ => s"k${rnd.nextInt(6)}" -> rnd.nextInt(100)).toMap
            t.upsert(df(kv.toSeq: _*), "id"); model ++= kv
          case 2 => // delete (possibly absent) key
            val k = s"k${rnd.nextInt(6)}"
            t.deleteMatching(df(k -> 0).select("id"), "id"); model -= k
          case 3 => t.optimize(numFiles = 1)
          case 4 => // reap old versions + trim the source log: the next
            // export must RE-ANCHOR, not fail or misread
            t.vacuum(retentionMs = 0L); t.cleanupMetadata(keepLast = 1)
          case 5 => DeltaExport.cleanupLog(t, retentionMs = 0L)
        }
        DeltaExport.export(t)
        val got = DeltaExport.readSnapshot(spark, path).collect()
          .map(r => r.getString(0) -> r.getInt(1)).toMap
        assert(got == model, s"trial $trial step $step: $got != $model")
      }
    }
  }

  test("add actions carry Delta-spec min/max/nullCount stats, " +
      "conservatively omitted where the encoding is unsafe") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val wide = StructType(Seq(
      StructField("id", StringType),
      StructField("n", IntegerType),
      StructField("d", DoubleType),
      StructField("day", DateType),
      StructField("uni", StringType)))
    val t = ResourceTable(spark, path).createIfNotExists(wide)
    val rows = Seq(
      Row("a", 5, 1.5, java.sql.Date.valueOf("2024-01-03"), "héllo"),
      Row("b", -2, 9.25, java.sql.Date.valueOf("2024-02-14"), "wörld"),
      Row("c", 11, null, java.sql.Date.valueOf("2024-01-01"), "zz"))
    t.upsert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), wide), "id")
    DeltaExport.export(t)
    val adds = logLines(path, 0L).flatMap(n => Option(n.get("add")))
    assert(adds.nonEmpty)
    val stats = adds.map(a => mapper.readTree(a.get("stats").asText))
    assert(stats.map(_.get("numRecords").asLong).sum == 3L)
    // single-file table: the one add's bounds are the table's bounds
    val s = stats.find(_.get("numRecords").asLong == 3L).get
    assert(s.get("minValues").get("id").asText == "a")
    assert(s.get("maxValues").get("id").asText == "c")
    assert(s.get("minValues").get("n").asLong == -2L)
    assert(s.get("maxValues").get("n").asLong == 11L)
    assert(s.get("minValues").get("d").asDouble == 1.5)
    assert(s.get("maxValues").get("d").asDouble == 9.25)
    // dates render as ISO LocalDate strings (the Delta JSON encoding)
    assert(s.get("minValues").get("day").asText == "2024-01-01")
    assert(s.get("maxValues").get("day").asText == "2024-02-14")
    // bounds are per-side conservative: the non-ASCII min ("héllo") is
    // omitted (unsigned-byte footer order is only provably code-point
    // order on ASCII), while the ASCII max ("zz") is still emitted —
    // absence over a wrong bound, but no pruning power thrown away
    assert(s.get("minValues").get("uni") == null)
    assert(s.get("maxValues").get("uni").asText == "zz")
    // nullCount is exact: d has one null, others none
    assert(s.get("nullCount").get("d").asLong == 1L)
    assert(s.get("nullCount").get("n").asLong == 0L)
    // and an external-style reader of the same log still round-trips
    assert(DeltaExport.readSnapshot(spark, path).count() == 3L)
  }

  test("vacuum brings a stale export current instead of stranding " +
      "external readers on reaped files") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    DeltaExport.export(t)
    val staleLive = DeltaExport.liveFiles(t)
    // rewrite every row: the new manifest shares no files with the
    // exported snapshot, so the stale export's live set is exactly
    // what a retention-0 vacuum would reap
    t.upsert(df("a" -> 10, "b" -> 20), "id")
    assert((DeltaExport.liveFiles(t) --
      t.fileManifest(t.latestVersion.get).toSet) == staleLive)
    val reaped = t.vacuum(retentionMs = 0L)
    assert(reaped > 0) // the old snapshot's files did get reaped...
    staleLive.foreach(rel =>
      assert(!Files.exists(Paths.get(path, rel))))
    // ...but the export was brought current first, so the external
    // read path still resolves — to the CURRENT snapshot
    assert(DeltaExport.readSnapshot(spark, path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap ==
      Map("a" -> 10, "b" -> 20))
    // dry-run never writes: a fresh stale export stays untouched
    t.upsert(df("c" -> 3), "id")
    val entriesBefore = logVersions(path)
    t.vacuum(retentionMs = 0L, dryRun = true)
    assert(logVersions(path) == entriesBefore)
  }

  test("idempotent-append watermarks export as txn actions and " +
      "survive checkpoint replay") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    t.append(df("b" -> 2), txn = Some(("sinkA", 7L)))
    t.append(df("c" -> 3), txn = Some(("sinkB", 1L)))
    val dv = DeltaExport.export(t)
    val txnActions = (0L to dv).flatMap(v => logLines(path, v))
      .flatMap(n => Option(n.get("txn")))
    assert(txnActions.map(x =>
      x.get("appId").asText -> x.get("version").asLong).toMap ==
      Map("sinkA" -> 7L, "sinkB" -> 1L))
    // an advanced watermark re-exports; an unchanged one does not
    t.append(df("d" -> 4), txn = Some(("sinkA", 9L)))
    val dv2 = DeltaExport.export(t)
    val latestTxns = logLines(path, dv2)
      .flatMap(n => Option(n.get("txn")))
    assert(latestTxns.map(x =>
      x.get("appId").asText -> x.get("version").asLong) ==
      Seq("sinkA" -> 9L))
    // force a checkpoint, then assert the txn state is restated in it
    (1 to 10).foreach(i => t.upsert(df(s"k$i" -> i), "id"))
    val dv3 = DeltaExport.export(t)
    val ckpt = Paths.get(path, "_delta_log",
      f"$dv3%020d.checkpoint.parquet")
    assert(Files.exists(ckpt))
    val txnRows = spark.read.parquet(ckpt.toString)
      .filter("txn IS NOT NULL").select("txn.appId", "txn.version")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(txnRows == Map("sinkA" -> 9L, "sinkB" -> 1L))
    // and the snapshot read-back still resolves every row
    assert(DeltaExport.readSnapshot(spark, path).count() ==
      t.read().count())
  }

  test("trim of exactly the last-exported commit re-anchors (the " +
      "incremental diff needs lastG's own manifest)") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t)
    val gAtExport = t.latestVersion.get
    t.upsert(df("b" -> 2), "id")
    t.upsert(df("c" -> 3), "id")
    // delete ONLY the last-exported commit: every version after it is
    // intact, but the incremental loop's first diff (against lastG's
    // manifest) is impossible — must re-anchor, not crash
    Files.delete(Paths.get(path, "_log", f"$gAtExport%020d.commit"))
    Files.deleteIfExists(
      Paths.get(path, "_log", f".$gAtExport%020d.commit.crc"))
    val dv = DeltaExport.export(t)
    val info = logLines(path, dv)
      .flatMap(n => Option(n.get("commitInfo"))).head
    assert(info.get("operation").asText.contains("RE-ANCHOR"))
    assert(DeltaExport.readSnapshot(spark, path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap ==
      Map("a" -> 1, "b" -> 2, "c" -> 3))
  }

  test("concurrent exporters converge on one consistent log") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    (0 until 8).foreach(i => t.upsert(df(s"k$i" -> i), "id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { _ =>
      new Thread(() =>
        try DeltaExport.export(ResourceTable(spark, path))
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"export raced into: ${errs.peek()}")
    // one contiguous log, no gaps, no leftover tmp files
    val vs = logVersions(path)
    assert(vs == (0L to vs.last))
    assert(Files.list(Paths.get(path, "_delta_log")).iterator().asScala
      .forall(!_.getFileName.toString.endsWith(".tmp")))
    // and the replayed snapshot is exactly the table
    assert(DeltaExport.readSnapshot(spark, path).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap ==
      t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap)
    // a later incremental export still lines up
    t.upsert(df("z" -> 99), "id")
    DeltaExport.export(t)
    assert(DeltaExport.readSnapshot(spark, path).count() ==
      t.read().count())
  }

  test("reader refuses foreign protocols instead of misreading") {
    val path = s"${tmpDir("dx")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t)
    // bump minReaderVersion beyond what the reader supports
    val f0 = Paths.get(path, "_delta_log", f"${0L}%020d.json")
    val rewritten = Files.readAllLines(f0, StandardCharsets.UTF_8).asScala
      .map(_.replace("\"minReaderVersion\":1", "\"minReaderVersion\":3"))
      .mkString("\n")
    Files.write(f0, rewritten.getBytes(StandardCharsets.UTF_8))
    // the out-of-band rewrite invalidates the local fs checksum sidecar
    Files.deleteIfExists(
      Paths.get(path, "_delta_log", f".${0L}%020d.json.crc"))
    val e = intercept[IllegalStateException] {
      DeltaExport.readSnapshot(spark, path)
    }
    assert(e.getMessage.contains("reader version"))
  }

  test("foreign column-mapped log (name mode): physical names restored") {
    // a log delta-spark writes after ALTER TABLE ... SET TBLPROPERTIES
    // ('delta.columnMapping.mode'='name'): parquet files carry ONLY
    // physical col-<uuid> names (nested included), partitionValues are
    // keyed by the physical partition-column name, and the logical
    // schema lives in schemaString field metadata
    val dir = tmpDir("dxm")
    val path = s"$dir/cm.parquet"
    def fmeta(phys: String, id: Long) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", StringType, nullable = true, fmeta("col-a1", 1)),
      StructField("v", IntegerType, nullable = true, fmeta("col-b2", 2)),
      StructField("nested", StructType(Seq(
        StructField("x", IntegerType, nullable = true, fmeta("col-d4", 4)),
        StructField("y", StringType, nullable = true, fmeta("col-e5", 5)))),
        nullable = true, fmeta("col-c3", 3)),
      StructField("p", StringType, nullable = true, fmeta("col-f6", 6))))
    // data files under PHYSICAL names, partition column absent
    val physData = StructType(Seq(
      StructField("col-a1", StringType),
      StructField("col-b2", IntegerType),
      StructField("col-c3", StructType(Seq(
        StructField("col-d4", IntegerType),
        StructField("col-e5", StringType))))))
    def writeDataFile(rel: String, rows: Seq[Row]): Long = {
      val stage = s"$dir/stage-${rel.replace('/', '_')}"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), physData)
        .write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(path, rel)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      Files.size(dest)
    }
    val s1 = writeDataFile("f1.parquet", Seq(
      Row("a1", 1, Row(10, "x1")), Row("a2", 2, Row(20, "x2"))))
    val s2 = writeDataFile("f2.parquet", Seq(Row("b1", 3, Row(30, "x3"))))
    def line(kind: String)(fill: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
      val o = mapper.createObjectNode()
      fill(o.putObject(kind))
      mapper.writeValueAsString(o)
    }
    val v0 = Seq(
      line("protocol") { p =>
        p.put("minReaderVersion", 2); p.put("minWriterVersion", 5) },
      line("metaData") { m =>
        m.put("id", "foreign-cm-1")
        val fmt = m.putObject("format")
        fmt.put("provider", "parquet"); fmt.putObject("options")
        m.put("schemaString", logical.json)
        m.putArray("partitionColumns").add("p")
        val conf = m.putObject("configuration")
        conf.put("delta.columnMapping.mode", "name")
        conf.put("delta.columnMapping.maxColumnId", "6")
        m.put("createdTime", 1L) },
      line("add") { a =>
        a.put("path", "f1.parquet")
        a.putObject("partitionValues").put("col-f6", "east")
        a.put("size", s1); a.put("modificationTime", 1L)
        a.put("dataChange", true) },
      line("add") { a =>
        a.put("path", "f2.parquet")
        a.putObject("partitionValues").put("col-f6", "west")
        a.put("size", s2); a.put("modificationTime", 1L)
        a.put("dataChange", true) })
    Files.createDirectories(Paths.get(path, "_delta_log"))
    Files.write(Paths.get(path, "_delta_log", f"${0L}%020d.json"),
      v0.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val back = DeltaExport.readSnapshot(spark, path)
    // logical names at every depth, physical gone
    assert(back.schema.fieldNames.toSeq == Seq("id", "v", "nested", "p"))
    assert(back.schema("nested").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("x", "y"))
    val got = back.selectExpr("id", "v", "nested.x", "nested.y", "p")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4))).toSet
    assert(got == Set(
      ("a1", 1, 10, "x1", "east"), ("a2", 2, 20, "x2", "east"),
      ("b1", 3, 30, "x3", "west")))
    // predicate on a restored logical column prunes correctly
    assert(back.filter("p = 'east'").count() == 2L)
    assert(back.filter("nested.x >= 20").count() == 2L)
    // name-mode partitioned logs also plan as ONE partitioned scan
    assert(!back.queryExecution.executedPlan.toString.contains("Union"))

    // protocol v3 + readerFeatures [columnMapping] reads the same way
    val f0 = Paths.get(path, "_delta_log", f"${0L}%020d.json")
    val asV3 = Files.readAllLines(f0, StandardCharsets.UTF_8).asScala
      .map(_.replace(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping"],""" +
          """"writerFeatures":["columnMapping"]}}"""))
      .mkString("\n")
    Files.write(f0, asV3.getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(
      Paths.get(path, "_delta_log", f".${0L}%020d.json.crc"))
    assert(DeltaExport.readSnapshot(spark, path).count() == 3L)

    // v2Checkpoint as an enabled reader feature reads fine now (the
    // feature is implemented; manifest replay is tested separately) —
    // enablement does not require a v2 checkpoint to exist yet
    val withV2 = asV3.replace("\"readerFeatures\":[\"columnMapping\"]",
      "\"readerFeatures\":[\"columnMapping\",\"v2Checkpoint\"]")
    Files.write(f0, withV2.getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(
      Paths.get(path, "_delta_log", f".${0L}%020d.json.crc"))
    assert(DeltaExport.readSnapshot(spark, path).count() == 3L)

    // a reader feature this reader genuinely lacks stays a loud
    // refusal (typeWidening graduated to the supported set, so the
    // alien here is collations — real, and unimplemented)
    val withAlien = asV3.replace("\"readerFeatures\":[\"columnMapping\"]",
      "\"readerFeatures\":[\"columnMapping\",\"collations-preview\"]")
    Files.write(f0, withAlien.getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(
      Paths.get(path, "_delta_log", f".${0L}%020d.json.crc"))
    val eAlien = intercept[IllegalStateException] {
      DeltaExport.readSnapshot(spark, path)
    }
    assert(eAlien.getMessage.contains("collations-preview"))
  }

  test("foreign id-mode column-mapped log: columns matched by parquet field id") {
    // strict id-mode per PROTOCOL.md "Column Mapping": the parquet
    // files carry column names matching NEITHER the logical nor the
    // declared physical names — only the parquet field_id stamped in
    // the file identifies each column. partitionValues stay keyed by
    // the physical partition-column name.
    val dir = tmpDir("dxi")
    val path = s"$dir/im.parquet"
    def fmeta(phys: String, id: Long) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", StringType, nullable = true, fmeta("col-a1", 1)),
      StructField("v", IntegerType, nullable = true, fmeta("col-b2", 2)),
      StructField("nested", StructType(Seq(
        StructField("x", IntegerType, nullable = true, fmeta("col-d4", 4)),
        StructField("y", StringType, nullable = true, fmeta("col-e5", 5)))),
        nullable = true, fmeta("col-c3", 3)),
      StructField("p", StringType, nullable = true, fmeta("col-f6", 6))))
    def fid(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val fileData = StructType(Seq(
      StructField("garbled_1", StringType, nullable = true, fid(1)),
      StructField("garbled_2", IntegerType, nullable = true, fid(2)),
      StructField("garbled_3", StructType(Seq(
        StructField("inner_4", IntegerType, nullable = true, fid(4)),
        StructField("inner_5", StringType, nullable = true, fid(5)))),
        nullable = true, fid(3))))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    def writeDataFile(rel: String, rows: Seq[Row]): Long = {
      val stage = s"$dir/stage-${rel.replace('/', '_')}"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), fileData)
        .write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(path, rel)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      Files.size(dest)
    }
    val s1 = writeDataFile("f1.parquet", Seq(
      Row("a1", 1, Row(10, "x1")), Row("a2", 2, Row(20, "x2"))))
    val s2 = writeDataFile("f2.parquet", Seq(Row("b1", 3, Row(30, "x3"))))
    def line(kind: String)(fill: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
      val o = mapper.createObjectNode()
      fill(o.putObject(kind))
      mapper.writeValueAsString(o)
    }
    val v0 = Seq(
      line("protocol") { p =>
        p.put("minReaderVersion", 2); p.put("minWriterVersion", 5) },
      line("metaData") { m =>
        m.put("id", "foreign-im-1")
        val fmt = m.putObject("format")
        fmt.put("provider", "parquet"); fmt.putObject("options")
        m.put("schemaString", logical.json)
        m.putArray("partitionColumns").add("p")
        val conf = m.putObject("configuration")
        conf.put("delta.columnMapping.mode", "id")
        conf.put("delta.columnMapping.maxColumnId", "6")
        m.put("createdTime", 1L) },
      line("add") { a =>
        a.put("path", "f1.parquet")
        a.putObject("partitionValues").put("col-f6", "east")
        a.put("size", s1); a.put("modificationTime", 1L)
        a.put("dataChange", true) },
      line("add") { a =>
        a.put("path", "f2.parquet")
        a.putObject("partitionValues").put("col-f6", "west")
        a.put("size", s2); a.put("modificationTime", 1L)
        a.put("dataChange", true) })
    Files.createDirectories(Paths.get(path, "_delta_log"))
    Files.write(Paths.get(path, "_delta_log", f"${0L}%020d.json"),
      v0.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val back = DeltaExport.readSnapshot(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v", "nested", "p"))
    assert(back.schema("nested").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("x", "y"))
    val got = back.selectExpr("id", "v", "nested.x", "nested.y", "p")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4))).toSet
    assert(got == Set(
      ("a1", 1, 10, "x1", "east"), ("a2", 2, 20, "x2", "east"),
      ("b1", 3, 30, "x3", "west")))
    assert(back.filter("p = 'east'").count() == 2L)
    assert(back.filter("nested.x >= 20").count() == 2L)
    // id-mode partitioned logs also plan as ONE partitioned scan
    assert(!back.queryExecution.executedPlan.toString.contains("Union"))
    // the id-mode scan matches by field id whatever the session's
    // fieldId conf says: with it explicitly off, both at planning and
    // at execution, the rows still come back (Spark's own reader would
    // name-match the physical col-* columns to nothing: all nulls)
    val fieldIdKey = "spark.sql.parquet.fieldId.read.enabled"
    val prevFieldId = spark.conf.getOption(fieldIdKey)
    spark.conf.set(fieldIdKey, "false")
    try {
      val back2 = DeltaExport.readSnapshot(spark, path)
      val got2 = back2.selectExpr("id", "v", "nested.x", "nested.y", "p")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
          r.getString(3), r.getString(4))).toSet
      assert(got2 == got)
      assert(back2.filter("p = 'east'").count() == 2L)
      assert(spark.conf.get(fieldIdKey) == "false")
    } finally prevFieldId.fold(spark.conf.unset(fieldIdKey))(
      spark.conf.set(fieldIdKey, _))
    // a field missing its columnMapping.id is a malformed id-mode log
    val brokenLogical = StructType(logical.fields.map {
      case f if f.name == "v" =>
        StructField(f.name, f.dataType, f.nullable, new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-b2").build())
      case f => f
    })
    def esc(s: String) = s.replace("\"", "\\\"")
    val f0 = Paths.get(path, "_delta_log", f"${0L}%020d.json")
    val rewritten = Files.readAllLines(f0, StandardCharsets.UTF_8)
      .asScala.map(_.replace(esc(logical.json), esc(brokenLogical.json)))
      .mkString("\n")
    assert(rewritten.contains(esc(brokenLogical.json)),
      "schemaString replacement did not take")
    Files.write(f0, rewritten.getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(
      Paths.get(path, "_delta_log", f".${0L}%020d.json.crc"))
    val e = intercept[IllegalStateException] {
      DeltaExport.readSnapshot(spark, path).collect()
    }
    assert(e.getMessage.contains("delta.columnMapping.id"))
  }

  test("foreign v2 uuid checkpoint: sidecar file actions replayed") {
    // a log shaped like delta-spark's v2Checkpoint output: the only
    // replayable base is a UUID-named parquet manifest whose file
    // actions live in _delta_log/_sidecars/ parquet files, plus a
    // json tail past it. PROTOCOL.md "V2 Spec".
    val dir = tmpDir("dxv")
    val path = s"$dir/v2.parquet"
    val full = StructType(Seq(
      StructField("id", StringType), StructField("v", IntegerType)))
    def writeDataFile(rel: String, rows: Seq[(String, Int)]): Long = {
      val stage = s"$dir/stage-${rel.replace('/', '_')}"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
        full).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(path, rel)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      Files.size(dest)
    }
    val s1 = writeDataFile("f1.parquet", Seq("a1" -> 1, "a2" -> 2))
    val s2 = writeDataFile("f2.parquet", Seq("b1" -> 3))
    val s3 = writeDataFile("f3.parquet", Seq("c1" -> 4))
    def stageParquet(rows: Seq[Row], sch: StructType, dest: java.nio.file.Path): Unit = {
      val stage = s"$dir/stage-${dest.getFileName}"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sch)
        .write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
    }
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val removeT = StructType(Seq(StructField("path", StringType)))
    val sideSchema = StructType(Seq(
      StructField("add", addT), StructField("remove", removeT)))
    val scDir = Paths.get(path, "_delta_log", "_sidecars")
    stageParquet(Seq(
      Row(Row("f1.parquet", Map.empty[String, String], s1, 1L, true),
        null)),
      sideSchema, scDir.resolve("sc1.parquet"))
    // a remove TOMBSTONE in a sidecar must not un-live anything
    stageParquet(Seq(
      Row(Row("f2.parquet", Map.empty[String, String], s2, 1L, true),
        null),
      Row(null, Row("f0-vacuumed-long-ago.parquet"))),
      sideSchema, scDir.resolve("sc2.parquet"))
    val manifestSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType))))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType))))))
    stageParquet(Seq(
      Row(Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")),
        null, null, null),
      Row(null, Row("foreign-v2-1", full.json, Seq.empty[String]),
        null, null),
      Row(null, null, Row(1L), null),
      Row(null, null, null, Row("sc1.parquet", 1L, 1L)),
      Row(null, null, null, Row("sc2.parquet", 1L, 1L))),
      manifestSchema, Paths.get(path, "_delta_log",
        f"${1L}%020d.checkpoint.ab12cd34-0000-4000-8000-000000000001.parquet"))
    Files.write(Paths.get(path, "_delta_log", "_last_checkpoint"),
      """{"version":1}""".getBytes(StandardCharsets.UTF_8))
    // json tail past the v2 base: f3 arrives, f1 leaves
    def line(kind: String)(fill: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
      val o = mapper.createObjectNode()
      fill(o.putObject(kind))
      mapper.writeValueAsString(o)
    }
    val v2 = Seq(
      line("add") { a =>
        a.put("path", "f3.parquet")
        a.putObject("partitionValues")
        a.put("size", s3); a.put("modificationTime", 2L)
        a.put("dataChange", true) },
      line("remove") { r =>
        r.put("path", "f1.parquet")
        r.put("deletionTimestamp", 2L); r.put("dataChange", true) })
    Files.write(Paths.get(path, "_delta_log", f"${2L}%020d.json"),
      v2.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val back = DeltaExport.readSnapshot(spark, path)
    assert(back.collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("b1", 3), ("c1", 4)))
    // time travel to the checkpoint version itself
    assert(DeltaExport.readSnapshot(spark, path, 1L).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("a1", 1), ("a2", 2), ("b1", 3)))

    // json-lines manifest variant with inline file actions
    val path2 = s"$dir/v2j.parquet"
    def writeDataFile2(rel: String, rows: Seq[(String, Int)]): Long = {
      val stage = s"$dir/stage2-${rel.replace('/', '_')}"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
        full).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(path2, rel)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      Files.size(dest)
    }
    val t1 = writeDataFile2("g1.parquet", Seq("j1" -> 7))
    val manifest = Seq(
      line("checkpointMetadata")(_.put("version", 0L)),
      line("protocol") { p =>
        p.put("minReaderVersion", 3); p.put("minWriterVersion", 7)
        p.putArray("readerFeatures").add("v2Checkpoint")
        p.putArray("writerFeatures").add("v2Checkpoint") },
      line("metaData") { m =>
        m.put("id", "foreign-v2-2")
        val fmt = m.putObject("format")
        fmt.put("provider", "parquet"); fmt.putObject("options")
        m.put("schemaString", full.json)
        m.putArray("partitionColumns")
        m.putObject("configuration"); m.put("createdTime", 1L) },
      line("add") { a =>
        a.put("path", "g1.parquet")
        a.putObject("partitionValues")
        a.put("size", t1); a.put("modificationTime", 1L)
        a.put("dataChange", true) })
    Files.createDirectories(Paths.get(path2, "_delta_log"))
    Files.write(Paths.get(path2, "_delta_log",
      f"${0L}%020d.checkpoint.ab12cd34-0000-4000-8000-000000000002.json"),
      manifest.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(path2, "_delta_log", "_last_checkpoint"),
      """{"version":0}""".getBytes(StandardCharsets.UTF_8))
    val back2 = DeltaExport.readSnapshot(spark, path2)
    assert(back2.collect().map(r => (r.getString(0), r.getInt(1)))
      .toSeq == Seq(("j1", 7)))
  }

  // ---- test-side DV encoders, written INDEPENDENTLY from the spec
  // documents (ZeroMQ z85, RoaringFormatSpec, Delta PROTOCOL.md
  // "Deletion Vectors") so they cross-check the reader rather than
  // mirroring its code ----

  private val Z85Alpha =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"

  private def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0)
    val sb = new StringBuilder
    var i = 0
    while (i < bytes.length) {
      var acc = 0L
      (0 until 4).foreach(j => acc = (acc << 8) | (bytes(i + j) & 0xFFL))
      val chars = new Array[Char](5)
      (4 to 0 by -1).foreach { k =>
        chars(k) = Z85Alpha.charAt((acc % 85).toInt); acc /= 85
      }
      sb.appendAll(chars)
      i += 4
    }
    sb.toString
  }

  /** One 32-bit roaring bitmap, no-run cookie, array containers. */
  private def roaringArrayBitmap(values: Seq[Int]): Array[Byte] = {
    val groups = values.sorted.groupBy(v => v >>> 16).toSeq.sortBy(_._1)
    val n = groups.size
    val bb = java.nio.ByteBuffer
      .allocate(8 + 4 * n + 4 * n + 2 * values.size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(12346); bb.putInt(n)
    groups.foreach { case (k, vs) =>
      bb.putShort(k.toShort); bb.putShort((vs.size - 1).toShort)
    }
    var off = 8 + 4 * n + 4 * n
    groups.foreach { case (_, vs) => bb.putInt(off); off += 2 * vs.size }
    groups.foreach { case (_, vs) =>
      vs.foreach(v => bb.putShort((v & 0xFFFF).toShort))
    }
    bb.array()
  }

  /** One 32-bit roaring bitmap, run cookie, a single run container. */
  private def roaringRunBitmap(start: Int, len: Int): Array[Byte] = {
    val card = len + 1
    val bb = java.nio.ByteBuffer.allocate(4 + 1 + 4 + 2 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(12347) // size-1 == 0 in the high 16 bits
    bb.put(1.toByte) // run bitset: container 0 is a run container
    bb.putShort((start >>> 16).toShort); bb.putShort((card - 1).toShort)
    bb.putShort(1.toShort) // one run
    bb.putShort((start & 0xFFFF).toShort); bb.putShort(len.toShort)
    bb.array()
  }

  /** RoaringBitmapArray blob: LE magic + LE count + bitmaps. */
  private def dvBlob(bitmaps: Array[Byte]*): Array[Byte] = {
    val bb = java.nio.ByteBuffer
      .allocate(12 + bitmaps.map(_.length).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(DeletionVectors.PortableMagic)
    bb.putLong(bitmaps.size.toLong)
    bitmaps.foreach(bb.put)
    bb.array()
  }

  /** Write a DV sidecar file: version byte 1, then at offset 1 the
    * big-endian size, the blob, and its big-endian CRC-32.
    */
  private def writeDvFile(at: java.nio.file.Path,
                          blob: Array[Byte]): Int = {
    val crc = new java.util.zip.CRC32()
    crc.update(blob)
    val bb = java.nio.ByteBuffer.allocate(1 + 4 + blob.length + 4)
    bb.put(1.toByte)
    bb.putInt(blob.length) // BIG endian (buffer default)
    bb.put(blob)
    bb.putInt(crc.getValue.toInt)
    Files.write(at, bb.array())
    1 // the offset the framing starts at
  }

  test("foreign log with deletion vectors: dead rows drop by position") {
    val dir = tmpDir("dxdv")
    val path = s"$dir/dv.parquet"
    val data = StructType(Seq(
      StructField("id", StringType), StructField("v", IntegerType)))
    def writeDataFile(rel: String, rows: Seq[(String, Int)]): Long = {
      val stage = s"$dir/stage-${rel.replace('/', '_')}"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
        data).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(path, rel)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      Files.size(dest)
    }
    // f1: a0..a4 at positions 0..4; f2: b0..b2 at positions 0..2
    val s1 = writeDataFile("f1.parquet",
      (0 to 4).map(i => s"a$i" -> i))
    val s2 = writeDataFile("f2.parquet",
      (0 to 2).map(i => s"b$i" -> (10 + i)))
    // inline DV for f1: kill positions 0 and 2 (array containers)
    val inlineBlob = dvBlob(roaringArrayBitmap(Seq(0, 2)))
    // sidecar DV for f2: kill position 1 (run container exercises the
    // run-cookie decode branch), named by a z85 uuid per `u` storage
    val sidecarBlob = dvBlob(roaringRunBitmap(1, 0))
    val uuid = java.util.UUID.fromString(
      "12345678-9abc-def0-1234-56789abcdef0")
    val ub = java.nio.ByteBuffer.allocate(16)
    ub.putLong(uuid.getMostSignificantBits)
    ub.putLong(uuid.getLeastSignificantBits)
    val sidecarOffset = writeDvFile(
      Paths.get(path, s"deletion_vector_$uuid.bin"), sidecarBlob)
    def line(kind: String)(fill: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
      val o = mapper.createObjectNode()
      fill(o.putObject(kind))
      mapper.writeValueAsString(o)
    }
    def addLine(rel: String, size: Long,
                dv: Option[(String, String, Int, Int, Long)]): String =
      line("add") { a =>
        a.put("path", rel)
        a.putObject("partitionValues")
        a.put("size", size); a.put("modificationTime", 1L)
        a.put("dataChange", true)
        dv.foreach { case (st, d, off, sz, card) =>
          val o = a.putObject("deletionVector")
          o.put("storageType", st); o.put("pathOrInlineDv", d)
          o.put("offset", off); o.put("sizeInBytes", sz)
          o.put("cardinality", card)
        }
      }
    val v0 = Seq(
      line("protocol") { p =>
        p.put("minReaderVersion", 3); p.put("minWriterVersion", 7)
        p.putArray("readerFeatures").add("deletionVectors")
        p.putArray("writerFeatures").add("deletionVectors") },
      line("metaData") { m =>
        m.put("id", "foreign-dv-1")
        val fmt = m.putObject("format")
        fmt.put("provider", "parquet"); fmt.putObject("options")
        m.put("schemaString", data.json)
        m.putArray("partitionColumns")
        m.putObject("configuration"); m.put("createdTime", 1L) },
      addLine("f1.parquet", s1, None),
      addLine("f2.parquet", s2, None))
    // v1 re-adds both files WITH their DVs — exactly what delta-spark
    // commits when DELETE takes the DV path
    val v1 = Seq(
      addLine("f1.parquet", s1, Some(("i", z85Encode(inlineBlob), 0,
        inlineBlob.length, 2L))),
      addLine("f2.parquet", s2, Some(("u", z85Encode(ub.array()),
        sidecarOffset, sidecarBlob.length, 1L))))
    Files.createDirectories(Paths.get(path, "_delta_log"))
    Files.write(Paths.get(path, "_delta_log", f"${0L}%020d.json"),
      v0.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(path, "_delta_log", f"${1L}%020d.json"),
      v1.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val back = DeltaExport.readSnapshot(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(back.collect().map(_.getString(0)).toSet ==
      Set("a1", "a3", "a4", "b0", "b2"))
    // pre-DV time travel still sees all 8 rows
    assert(DeltaExport.readSnapshot(spark, path, 0L).count() == 8L)
    // a DV-less re-add CLEARS the vector (post-compaction state)
    Files.write(Paths.get(path, "_delta_log", f"${2L}%020d.json"),
      Seq(addLine("f1.parquet", s1, None))
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    assert(DeltaExport.readSnapshot(spark, path)
      .collect().map(_.getString(0)).toSet ==
      Set("a0", "a1", "a2", "a3", "a4", "b0", "b2"))
    // a corrupted sidecar checksum is loud, never silent wrong rows
    val dvFile = Paths.get(path, s"deletion_vector_$uuid.bin")
    val corrupt = Files.readAllBytes(dvFile)
    corrupt(6) = (corrupt(6) ^ 0x7F).toByte
    Files.write(dvFile, corrupt)
    Files.deleteIfExists(
      Paths.get(path, s".deletion_vector_$uuid.bin.crc"))
    val eCrc = intercept[org.apache.spark.SparkException] {
      DeltaExport.readSnapshot(spark, path, 1L).count()
    }
    assert(Option(eCrc.getMessage).exists(m =>
      m.contains("checksum") || m.contains("DV")) ||
      eCrc.getCause != null)
  }

  test("partitioned foreign log with deletion vectors: single scan, dead rows drop") {
    val dir = tmpDir("dxdvp")
    val path = s"$dir/dvp.parquet"
    val full = StructType(Seq(
      StructField("id", StringType), StructField("v", IntegerType),
      StructField("p", StringType)))
    val data = StructType(full.fields.take(2))
    def writeDataFile(rel: String, rows: Seq[(String, Int)]): Long = {
      val stage = s"$dir/stage-${rel.replace('/', '_')}"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
        data).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(path, rel)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      Files.size(dest)
    }
    val s1 = writeDataFile("p=a/f1.parquet", (0 to 2).map(i => s"a$i" -> i))
    val s2 = writeDataFile("p=b/f2.parquet", (0 to 1).map(i => s"b$i" -> i))
    val blob = dvBlob(roaringArrayBitmap(Seq(1, 2)))
    def line(kind: String)(fill: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
      val o = mapper.createObjectNode()
      fill(o.putObject(kind))
      mapper.writeValueAsString(o)
    }
    def addLine(rel: String, size: Long, p: String,
                dv: Option[Array[Byte]]): String =
      line("add") { a =>
        a.put("path", rel)
        a.putObject("partitionValues").put("p", p)
        a.put("size", size); a.put("modificationTime", 1L)
        a.put("dataChange", true)
        dv.foreach { b =>
          val o = a.putObject("deletionVector")
          o.put("storageType", "i"); o.put("pathOrInlineDv", z85Encode(b))
          o.put("offset", 0); o.put("sizeInBytes", b.length)
          o.put("cardinality", 2L)
        }
      }
    val v0 = Seq(
      line("protocol") { pr =>
        pr.put("minReaderVersion", 3); pr.put("minWriterVersion", 7)
        pr.putArray("readerFeatures").add("deletionVectors")
        pr.putArray("writerFeatures").add("deletionVectors") },
      line("metaData") { m =>
        m.put("id", "foreign-dvp-1")
        val fmt = m.putObject("format")
        fmt.put("provider", "parquet"); fmt.putObject("options")
        m.put("schemaString", full.json)
        m.putArray("partitionColumns").add("p")
        m.putObject("configuration"); m.put("createdTime", 1L) },
      addLine("p=a/f1.parquet", s1, "a", None),
      addLine("p=b/f2.parquet", s2, "b", None))
    // kill a1 and a2 (positions 1, 2 of f1) via an inline DV re-add
    val v1 = Seq(addLine("p=a/f1.parquet", s1, "a", Some(blob)))
    Files.createDirectories(Paths.get(path, "_delta_log"))
    Files.write(Paths.get(path, "_delta_log", f"${0L}%020d.json"),
      v0.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(path, "_delta_log", f"${1L}%020d.json"),
      v1.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val back = DeltaExport.readSnapshot(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v", "p"))
    assert(back.collect().map(r => (r.getString(0), r.getString(2)))
      .toSet == Set(("a0", "a"), ("b0", "b"), ("b1", "b")))
    assert(back.filter("p = 'a'").count() == 1L)
    // still ONE partitioned scan, even with the DV anti-join on top
    assert(!back.queryExecution.executedPlan.toString.contains("Union"))
    // pre-DV time travel sees all five rows
    assert(DeltaExport.readSnapshot(spark, path, 0L).count() == 5L)
  }

  test("REORG PURGE exports as dataChange=false remove(dv)+add(clean)") {
    val path = s"${tmpDir("dxrp")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df((1 to 40).map(i => s"k$i" -> i): _*), "id")
    t.enableDeletionVectors()
    t.deleteMatching(df((1 to 40).filter(_ % 3 == 0)
      .map(i => s"k$i" -> i): _*).select("id"), "id")
    DeltaExport.export(t)
    // the DV delete exported a DATA change: remove(clean)+add(dv), true
    val delLines = logLines(path, logVersions(path).max)
    assert(delLines.flatMap(n => Option(n.get("add")))
      .exists(a => a.get("deletionVector") != null &&
        a.get("dataChange").asBoolean))
    val (purged, _) = t.purgeDeletionVectors(minDeadFraction = 0.01)
    assert(purged > 0)
    val v = DeltaExport.export(t)
    val lines = logLines(path, v)
    val removes = lines.flatMap(n => Option(n.get("remove")))
    val adds = lines.flatMap(n => Option(n.get("add")))
    // removes name the DV descriptor they cancel; adds are DV-free;
    // BOTH sides carry dataChange=false — a delta streaming consumer
    // must not reprocess a purge
    assert(removes.nonEmpty &&
      removes.forall(r => r.get("deletionVector") != null &&
        !r.get("dataChange").asBoolean))
    assert(adds.nonEmpty &&
      adds.forall(a => a.get("deletionVector") == null &&
        !a.get("dataChange").asBoolean))
    // the exported snapshot still replays to the purged table
    val back = DeltaExport.readSnapshot(spark, path)
    assert(back.count() == t.read().count())
    assert(back.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      t.read().select("id").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("export crash cuts: stale _last_checkpoint, orphaned checkpoint " +
      "tmp and torn entry tmp all leave readers consistent") {
    val path = s"${tmpDir("dxcrash")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    // drive past the first checkpoint boundary (interval 10),
    // exporting after every commit so the log grows one entry at a time
    (1 to 11).foreach { i =>
      t.upsert(df(s"k$i" -> i), "id")
      DeltaExport.export(t)
    }
    val lc = Paths.get(path, "_delta_log", "_last_checkpoint")
    assert(Files.exists(lc), "no checkpoint after 11 entries")
    val staleLc = Files.readAllBytes(lc)
    // advance to the second checkpoint
    (12 to 21).foreach { i =>
      t.upsert(df(s"k$i" -> i), "id")
      DeltaExport.export(t)
    }
    assert(!java.util.Arrays.equals(Files.readAllBytes(lc), staleLc),
      "second checkpoint never published")
    val expected = t.read().count()
    // CUT 1 — killed between checkpoint publish and pointer flip:
    // the newer checkpoint is complete on disk but _last_checkpoint
    // still names the old one. Readers must replay old ckpt + longer
    // tail to the same snapshot.
    Files.write(lc, staleLc)
    assert(DeltaExport.readSnapshot(spark, path).count() == expected)
    // CUT 2 — killed mid-checkpoint-write: an orphaned staging dir.
    val tmpDirP = Paths.get(path, "_delta_log",
      ".ckpt-00000000000000000099-dead.tmp")
    Files.createDirectories(tmpDirP)
    Files.write(tmpDirP.resolve("part-junk.parquet"),
      "not parquet".getBytes(StandardCharsets.UTF_8))
    // CUT 3 — killed mid-entry-publish: a torn json staging file.
    Files.write(Paths.get(path, "_delta_log",
      ".00000000000000000099.json.dead.tmp"),
      "{\"add\":{\"pa".getBytes(StandardCharsets.UTF_8))
    assert(DeltaExport.readSnapshot(spark, path).count() == expected)
    // recovery converges: the next export + commit proceeds normally
    // and repairs nothing it does not own
    t.upsert(df("k99" -> 99), "id")
    DeltaExport.export(t)
    assert(DeltaExport.readSnapshot(spark, path).count() == expected + 1)
    // and the INDEPENDENT python reader replays the same snapshot
    // through the stale pointer + orphaned tmps (zero graft code)
    val back = DeltaExport.readSnapshot(spark, path)
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(back == t.read().select("id").collect()
      .map(_.getString(0)).sorted.toSeq)
    val exp = s"${Paths.get(path).getParent}/expected.parquet"
    t.read().coalesce(1).write.mode("overwrite").parquet(exp)
    val pb = new ProcessBuilder("python3", "tools/check_delta_export.py",
      path, exp)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    proc.waitFor()
    assert(proc.exitValue() == 0, s"python reader failed:\n$out")
    assert(out.contains("MATCH"), out)
  }

  test("version checksum: every exported entry gets a <v>.crc " +
      "matching the replayed live state, DV counters included") {
    val path = s"${tmpDir("dxcrc")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.enableDeletionVectors()
    // one two-row file: the DV delete must leave a card-1 survivor
    // (a one-row file would die whole and LEAVE the manifest instead)
    t.upsert(df("a" -> 1, "b" -> 2).coalesce(1), "id")
    DeltaExport.export(t)
    t.upsert(df("c" -> 3), "id")
    t.deleteMatching(df("a" -> 1).select("id"), "id") // DV delete
    DeltaExport.export(t)
    val vs = logVersions(path)
    assert(vs.size >= 3)
    vs.foreach(v => assert(Files.exists(
      Paths.get(path, "_delta_log", f"$v%020d.crc")), s"no crc for $v"))
    // newest crc equals the graft manifest's own accounting AND the
    // physical bytes on disk
    val c = mapper.readTree(Files.readAllBytes(
      Paths.get(path, "_delta_log", f"${vs.max}%020d.crc")))
    val files = t.fileListAt(t.latestVersion.get)
    assert(c.get("numFiles").asLong == files.size.toLong)
    assert(c.get("tableSizeBytes").asLong ==
      files.map(f => Files.size(Paths.get(path, f._1))).sum)
    assert(c.get("numMetadata").asInt == 1 &&
      c.get("numProtocol").asInt == 1)
    val dvCards = files.flatMap(_._2.dv).map(_.card)
    assert(dvCards.sum == 1L) // exactly the one DV-killed row
    assert(c.get("numDeletedRecordsOpt").asLong == dvCards.sum)
    assert(c.get("numDeletionVectorsOpt").asLong == dvCards.size.toLong)
    // an OLD version's crc describes ITS snapshot, not the newest
    val c0 = mapper.readTree(Files.readAllBytes(
      Paths.get(path, "_delta_log", f"${0L}%020d.crc")))
    assert(c0.get("numFiles").asLong ==
      t.fileListAt(1L).size.toLong) // anchor = graft v1 (create+upsert)
  }

  test("TIMESTAMP_NTZ schema exports the timestampNtz reader+writer " +
      "feature and round-trips") {
    val path = s"${tmpDir("dxntz")}/T.parquet"
    val ntzSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("at", TimestampNTZType)))
    val t = ResourceTable(spark, path).createIfNotExists(ntzSchema)
    t.upsert(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("a", java.time.LocalDateTime.of(2026, 1, 2, 3, 4, 5)),
        Row("b", java.time.LocalDateTime.of(2026, 6, 7, 8, 9, 10)))),
      ntzSchema), "id")
    DeltaExport.export(t)
    val proto = logLines(path, 0L)
      .flatMap(n => Option(n.get("protocol"))).head
    assert(proto.get("minReaderVersion").asInt == 3)
    assert(proto.get("minWriterVersion").asInt == 7)
    assert(proto.get("readerFeatures").asScala.map(_.asText).toSet
      .contains("timestampNtz"))
    assert(proto.get("writerFeatures").asScala.map(_.asText).toSet
      .contains("timestampNtz"))
    val back = DeltaExport.readSnapshot(spark, path)
    assert(back.schema("at").dataType == TimestampNTZType)
    assert(back.count() == 2L)
  }

  test("in-commit timestamps: writer feature + property + monotonic " +
      "commitInfo field in every exported commit") {
    val path = s"${tmpDir("dxict")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
      .enableInCommitTimestamps()
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t)
    t.upsert(df("b" -> 2), "id")
    t.upsert(df("c" -> 3), "id")
    DeltaExport.export(t)
    val v0 = logLines(path, 0L)
    val proto = v0.flatMap(n => Option(n.get("protocol"))).head
    // ICT has no legacy carrier: table-features form, writer-only
    assert(proto.get("minWriterVersion").asInt == 7)
    assert(proto.get("minReaderVersion").asInt == 1)
    assert(proto.get("writerFeatures").asScala.map(_.asText).toSet
      .contains("inCommitTimestamp"))
    assert(proto.get("readerFeatures") == null)
    val meta = v0.flatMap(n => Option(n.get("metaData"))).head
    assert(meta.get("configuration")
      .get("delta.enableInCommitTimestamps").asText == "true")
    // enabled at the anchor (delta v0) → provenance properties omitted
    assert(meta.get("configuration")
      .get("delta.inCommitTimestampEnablementVersion") == null)
    // every entry: commitInfo is the FIRST action and its
    // inCommitTimestamp is strictly increasing across versions
    val icts = logVersions(path).map { v =>
      val lines = logLines(path, v)
      val ci = lines.head.get("commitInfo")
      assert(ci != null, s"entry $v: commitInfo not first")
      ci.get("inCommitTimestamp").asLong
    }
    assert(icts == icts.sorted && icts.distinct == icts,
      s"inCommitTimestamps not strictly increasing: $icts")
    assert(DeltaExport.readSnapshot(spark, path).count() == 3L)
    // timestampAsOf resolves by the ICT clock
    assert(DeltaExport.versionAtTimestamp(spark, path, icts.last) ==
      logVersions(path).last)
    assert(DeltaExport.versionAtTimestamp(spark, path, icts.head) == 0L)
  }

  test("ICT mid-log upgrade: first post-enable commit re-states " +
      "metaData with enablement provenance + upgraded protocol") {
    val path = s"${tmpDir("dxictu")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t) // anchored WITHOUT ict
    assert(logLines(path, 0L).head.get("commitInfo")
      .get("inCommitTimestamp") == null)
    t.enableInCommitTimestamps()
    t.upsert(df("b" -> 2), "id")
    t.upsert(df("c" -> 3), "id")
    DeltaExport.export(t)
    val v1 = logLines(path, 1L)
    val c = v1.flatMap(n => Option(n.get("metaData"))).head
      .get("configuration")
    assert(c.get("delta.enableInCommitTimestamps").asText == "true")
    assert(c.get("delta.inCommitTimestampEnablementVersion").asLong == 1L)
    val ictTs = v1.head.get("commitInfo").get("inCommitTimestamp").asLong
    assert(c.get("delta.inCommitTimestampEnablementTimestamp").asLong ==
      ictTs)
    assert(v1.flatMap(n => Option(n.get("protocol"))).head
      .get("writerFeatures").asScala.map(_.asText).toSet
      .contains("inCommitTimestamp"))
    // the upgrade metaData is stated ONCE, not per following commit
    val v2 = logLines(path, 2L)
    assert(v2.flatMap(n => Option(n.get("metaData"))).isEmpty)
    assert(v2.head.get("commitInfo").get("inCommitTimestamp").asLong >
      ictTs)
    assert(DeltaExport.readSnapshot(spark, path).count() == 3L)
  }

  test("checkpoint carries FOREIGN domainMetadata forward (incl. " +
      "tombstones), not just graft's own domains") {
    // PROTOCOL.md: a checkpoint must hold the latest domainMetadata
    // action of EVERY domain. A foreign writer (or a future graft)
    // may stamp domains this exporter doesn't know; dropping them at
    // checkpoint time would lose their state permanently once
    // cleanupLog trims the declaring entries.
    val path = s"${tmpDir("dxdom")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("k0" -> 0), "id")
    DeltaExport.export(t) // delta v0
    // a foreign writer appends domain actions to an exported entry:
    // one live domain and one removed-domain tombstone
    val e0 = Paths.get(path, "_delta_log", f"${0L}%020d.json")
    Files.write(e0, (new String(Files.readAllBytes(e0),
      StandardCharsets.UTF_8) +
      """{"domainMetadata":{"domain":"com.example.widget","configuration":"{\"w\":1}","removed":false}}""" +
      "\n" +
      """{"domainMetadata":{"domain":"com.example.gone","configuration":"{}","removed":true}}""" +
      "\n").getBytes(StandardCharsets.UTF_8))
    // the out-of-band append invalidates the local-FS checksum sidecar
    Files.deleteIfExists(
      Paths.get(path, "_delta_log", f".${0L}%020d.json.crc"))
    (1 to 10).foreach(i => t.upsert(df(s"k$i" -> i), "id"))
    val dv = DeltaExport.export(t) // crosses interval → checkpoint
    val ckpt = Paths.get(path, "_delta_log",
      f"$dv%020d.checkpoint.parquet")
    assert(Files.exists(ckpt), s"expected checkpoint at $dv")
    val doms = spark.read.parquet(ckpt.toString)
      .filter("domainMetadata IS NOT NULL")
      .select("domainMetadata.domain", "domainMetadata.configuration",
        "domainMetadata.removed")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getBoolean(2))).toMap
    assert(doms.get("com.example.widget")
      .contains(("""{"w":1}""", false)), doms.toString)
    assert(doms.get("com.example.gone").contains(("{}", true)),
      doms.toString)
    // _last_checkpoint.size still counts every action incl. the
    // carried domains
    val lc = mapper.readTree(new String(Files.readAllBytes(
      Paths.get(path, "_delta_log", "_last_checkpoint")),
      StandardCharsets.UTF_8))
    assert(lc.get("size").asLong ==
      spark.read.parquet(ckpt.toString).count())
    // cleanup drops the declaring entry; the domain state survives in
    // the checkpoint and replay still works
    assert(DeltaExport.readSnapshot(spark, path).count() == 11L)
  }
}
