package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Spec-strict foreign-reader edges of the exported protocol action:
  * every reader-visible feature must be ON the readerFeatures list
  * whenever that list is emitted at all, writer-7 logs must NAME every
  * enforced feature (legacy version implications do not apply there),
  * mid-log ICT enablement provenance must survive later metaData
  * restatements, and a checkpoint-only reader must never see a
  * downgraded protocol vs the json tail. The protocol and metaData
  * come from one derivation: the checkpoint restates the json
  * metaData exactly, a property set after the first export reaches
  * the log, and an entry that changes neither restates neither.
  */
class ExportProtocolSpec extends SparkSpec {
  import graft.SparkSpec._

  private val mapper = new ObjectMapper()
  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("v", IntegerType)))

  private def df(rows: (String, Int)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))),
      schema)

  private def logLines(path: String, v: Long) =
    Files.readAllLines(
      Paths.get(path, "_delta_log", f"$v%020d.json"),
      StandardCharsets.UTF_8).asScala.filter(_.nonEmpty)
      .map(mapper.readTree).toSeq

  private def featureSet(n: com.fasterxml.jackson.databind.JsonNode,
                         list: String): Set[String] =
    Option(n.get(list)).map(_.asScala.map(_.asText).toSet)
      .getOrElse(Set.empty)

  private def entryVersions(path: String): Seq[Long] =
    Files.list(Paths.get(path, "_delta_log")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted

  /** The newest `kind` action in the json entries at or below `upTo`. */
  private def newest(path: String, kind: String,
                     upTo: Long = Long.MaxValue) =
    entryVersions(path).filter(_ <= upTo).reverseIterator
      .flatMap(v => logLines(path, v).flatMap(n => Option(n.get(kind)))
        .lastOption)
      .next()

  private def conf(meta: com.fasterxml.jackson.databind.JsonNode) =
    meta.get("configuration").fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap

  /** The legacy features a (minReader, minWriter) pair carries, or the
    * listed ones on the table-features form.
    */
  private def implied(proto: com.fasterxml.jackson.databind.JsonNode) = {
    val w = proto.get("minWriterVersion").asInt
    if (w >= 7) featureSet(proto, "writerFeatures")
    else Set("appendOnly" -> 2, "checkConstraints" -> 3,
      "changeDataFeed" -> 4, "generatedColumns" -> 4,
      "identityColumns" -> 6).collect { case (n, v) if w >= v => n }
  }

  test("timestampNtz alone forcing reader 3 still lists columnMapping " +
      "in readerFeatures for a mapped table") {
    val path = s"${tmpDir("xpntzmap")}/T.parquet"
    val ntzSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("at", TimestampNTZType)))
    val t = ResourceTable(spark, path).createIfNotExists(ntzSchema)
      .enableColumnMapping()
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("a", java.time.LocalDateTime.of(2026, 1, 1, 0, 0)))),
      ntzSchema)
    t.upsert(rows, "id")
    DeltaExport.export(t)
    val proto = logLines(path, 0L)
      .flatMap(n => Option(n.get("protocol"))).head
    assert(proto.get("minReaderVersion").asInt == 3)
    val rf = featureSet(proto, "readerFeatures")
    // no DV, no widening: ntz is the ONLY reason readerFeatures
    // exists — mapping must still be on it, or foreign readers skip
    // name mapping on a reader-3 contract
    assert(rf.contains("timestampNtz"), rf)
    assert(rf.contains("columnMapping"), rf)
    assert(featureSet(proto, "writerFeatures").contains("columnMapping"))
    // the snapshot stays readable through the mapped names
    assert(DeltaExport.readSnapshot(spark, path).count() == 1L)
  }

  test("append-only table on the table-features protocol names the " +
      "appendOnly writer feature") {
    val path = s"${tmpDir("xpao")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
      .setAppendOnly()
      .enableDeletionVectors() // forces writer 7
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    DeltaExport.export(t)
    val proto = logLines(path, 0L)
      .flatMap(n => Option(n.get("protocol"))).head
    assert(proto.get("minWriterVersion").asInt == 7)
    val wf = featureSet(proto, "writerFeatures")
    // writer 7 enforces ONLY listed features — omitting appendOnly
    // would let spec-compliant foreign writers remove data
    assert(wf.contains("appendOnly"), wf)
    assert(logLines(path, 0L)
      .flatMap(n => Option(n.get("metaData"))).head
      .get("configuration").get("delta.appendOnly").asText == "true")
  }

  test("mid-log ICT enablement provenance is carried by every later " +
      "metaData restatement, in-batch and across exports") {
    val path = s"${tmpDir("xpictp")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t) // anchored WITHOUT ict
    t.enableInCommitTimestamps()
    t.upsert(df("b" -> 2), "id")
    // schema change IN THE SAME export batch as the upgrade commit
    t.setColumnDefault("v", "0")
    DeltaExport.export(t)
    def metaConf(v: Long) = logLines(path, v)
      .flatMap(n => Option(n.get("metaData")))
      .map(_.get("configuration"))
    val upgrade = metaConf(1L).head
    assert(upgrade.get("delta.inCommitTimestampEnablementVersion")
      .asLong == 1L)
    val enTs = upgrade
      .get("delta.inCommitTimestampEnablementTimestamp").asLong
    // the SET DEFAULT restatement (delta v2, same batch) keeps it
    val inBatch = metaConf(2L).head
    assert(inBatch.get("delta.inCommitTimestampEnablementVersion")
      .asLong == 1L, inBatch)
    assert(inBatch.get("delta.inCommitTimestampEnablementTimestamp")
      .asLong == enTs)
    // a restatement in a LATER export invocation reads the provenance
    // back from the exported log
    t.dropColumnDefault("v")
    DeltaExport.export(t)
    val crossExport = metaConf(3L).head
    assert(crossExport.get("delta.inCommitTimestampEnablementVersion")
      .asLong == 1L, crossExport)
    assert(crossExport.get("delta.inCommitTimestampEnablementTimestamp")
      .asLong == enTs)
  }

  test("checkpoint restates the json log's newest protocol verbatim " +
      "(clustering + appendOnly survive checkpoint-only replay)") {
    val path = s"${tmpDir("xpckpt")}/T.parquet"
    val t = ResourceTable(spark, path)
      .createIfNotExists(schema, clusterCols = Seq("id"))
      .setAppendOnly()
      .enableInCommitTimestamps() // forces writer 7 from the anchor
    (1 to 11).foreach { i =>
      t.upsert(df(s"k$i" -> i), "id")
      DeltaExport.export(t)
    }
    val ckpts = Files.list(Paths.get(path, "_delta_log")).iterator()
      .asScala.map(_.getFileName.toString)
      .filter(_.contains("checkpoint")).toSeq
    assert(ckpts.nonEmpty, "no checkpoint after 11 exported commits")
    val ck = spark.read.parquet(
      ckpts.map(n => s"$path/_delta_log/$n"): _*)
    val proto = ck.filter("protocol IS NOT NULL")
      .select("protocol.minReaderVersion", "protocol.minWriterVersion",
        "protocol.writerFeatures").collect()
    assert(proto.length == 1)
    assert(proto.head.getInt(1) == 7)
    val wf = proto.head.getSeq[String](2).toSet
    // the json protocol names these; a reader replaying from the
    // checkpoint alone must see the same contract
    assert(wf.contains("clustering"), wf)
    assert(wf.contains("domainMetadata"), wf)
    assert(wf.contains("appendOnly"), wf)
    assert(wf.contains("inCommitTimestamp"), wf)
    // and the checkpoint metaData carries the enforcement property
    val conf = ck.filter("metaData IS NOT NULL")
      .select("metaData.configuration").collect().head
      .getMap[String, String](0)
    assert(conf.get("delta.appendOnly").contains("true"), conf)
    // domain metadata is restated too: a checkpoint-only reader (the
    // json anchor that declared it may be cleaned) keeps the
    // clustering column declaration (PROTOCOL.md "Domain Metadata")
    val dom = ck.filter("domainMetadata IS NOT NULL")
      .select("domainMetadata.domain", "domainMetadata.configuration")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dom.contains("delta.clustering"), dom)
    assert(dom("delta.clustering").contains("\"clusteringColumns\""),
      dom)
    assert(dom("delta.clustering").contains("id"), dom)
    assert(DeltaExport.readSnapshot(spark, path).count() == 11L)
  }

  private val ictProvenance = Set(
    "delta.inCommitTimestampEnablementVersion",
    "delta.inCommitTimestampEnablementTimestamp")

  /** Exports `t` once per step until a checkpoint exists, then checks
    * that the checkpoint's metaData restates the newest json metaData
    * at or below its version.
    */
  private def assertCheckpointMetaMatchesJson(path: String,
                                              step: Int => Unit): Unit = {
    (1 to 11).foreach(step)
    val ckpt = Files.list(Paths.get(path, "_delta_log")).iterator()
      .asScala.map(_.getFileName.toString)
      .collect { case n if n.endsWith(".checkpoint.parquet") =>
        n.takeWhile(_ != '.').toLong }.toSeq
    assert(ckpt.nonEmpty, "no checkpoint after 11 exports")
    val v = ckpt.max
    val row = spark.read
      .parquet(f"$path/_delta_log/$v%020d.checkpoint.parquet")
      .filter("metaData IS NOT NULL")
      .select("metaData.schemaString", "metaData.configuration")
      .collect()
    assert(row.length == 1)
    val json = newest(path, "metaData", v)
    assert(row.head.getString(0) == json.get("schemaString").asText)
    assert(row.head.getMap[String, String](1).toMap -- ictProvenance ==
      conf(json) -- ictProvenance)
  }

  test("checkpoint metaData equals the newest json metaData for a " +
      "generated-column table") {
    val path = s"${tmpDir("xpgenck")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(StructType(Seq(
      StructField("id", StringType), StructField("v", IntegerType),
      StructField("w", IntegerType))))
    t.addGeneratedColumn("w", "v * 2")
    assertCheckpointMetaMatchesJson(path, { i =>
      t.upsert(df(s"k$i" -> i), "id")
      DeltaExport.export(t)
    })
    assert(newest(path, "metaData").get("schemaString").asText
      .contains("delta.generationExpression"))
  }

  test("checkpoint metaData equals the newest json metaData for an " +
      "identity table") {
    val path = s"${tmpDir("xpidck")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(StructType(Seq(
      StructField("id", StringType), StructField("v", IntegerType),
      StructField("rid", LongType))))
    t.addIdentityColumn("rid")
    assertCheckpointMetaMatchesJson(path, { i =>
      t.upsert(df(s"k$i" -> i), "id")
      DeltaExport.export(t)
    })
    assert(newest(path, "metaData").get("schemaString").asText
      .contains("delta.identity.highWaterMark"))
  }

  test("appendOnly and a CHECK constraint set after the first export " +
      "reach the exported metaData and protocol") {
    val path = s"${tmpDir("xplate")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    DeltaExport.export(t)
    t.setAppendOnly()
    t.addCheckConstraint("pos", "v > 0")
    t.upsert(df("b" -> 2), "id")
    DeltaExport.export(t)
    val c = conf(newest(path, "metaData"))
    assert(c.get("delta.appendOnly").contains("true"), c)
    assert(c.get("delta.constraints.pos").contains("v > 0"), c)
    val features = implied(newest(path, "protocol"))
    assert(features("appendOnly") && features("checkConstraints"),
      features)
  }

  test("change data feed enabled after the first export declares the " +
      "table property with its first cdc entry") {
    val path = s"${tmpDir("xplatecdf")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    DeltaExport.export(t)
    t.enableChangeDataFeed()
    t.deleteMatching(df("a" -> 0).select("id"), "id")
    val dv = DeltaExport.export(t)
    assert(logLines(path, dv).exists(_.has("cdc")))
    assert(conf(newest(path, "metaData"))
      .get("delta.enableChangeDataFeed").contains("true"))
    assert(implied(newest(path, "protocol"))("changeDataFeed"))
  }

  test("an export with no property or schema change restates neither " +
      "protocol nor metaData") {
    val path = s"${tmpDir("xpquiet")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
      .enableChangeDataFeed().enableInCommitTimestamps()
    t.addCheckConstraint("pos", "v > 0")
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    assert(DeltaExport.export(t) == 0L)
    t.upsert(df("a" -> 10, "c" -> 3), "id")
    t.deleteMatching(df("b" -> 0).select("id"), "id")
    val dv = DeltaExport.export(t)
    assert(dv == 2L)
    (1L to dv).foreach { v =>
      val kinds = logLines(path, v).flatMap(_.fieldNames().asScala)
      assert(!kinds.contains("protocol") && !kinds.contains("metaData"),
        s"entry $v restated: $kinds")
    }
    assert(DeltaExport.readSnapshot(spark, path).count() == 2L)
  }

  test("append-only enforcement is keyed on the exemption flag: " +
      "RESTORE and OPTIMIZE pass, DELETE still refuses") {
    val path = s"${tmpDir("xpaor")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
      .setAppendOnly()
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    val v1 = t.latestVersion.get
    t.upsert(df("c" -> 3), "id")
    // compaction rearranges bytes without changing logical content
    t.compactSmallFiles(minBytes = 1L << 20)
    assert(t.read().count() == 3L)
    // RESTORE legitimately removes files (delta-spark never routes it
    // through the append-only check) — an op-label substring match
    // used to hard-block it
    t.restore(v1)
    assert(t.read().count() == 2L)
    val del = intercept[IllegalStateException] {
      t.deleteWhere(org.apache.spark.sql.functions.col("id") === "a")
    }
    assert(del.getMessage.contains("append-only"), del.getMessage)
  }
}
