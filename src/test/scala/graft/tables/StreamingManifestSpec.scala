package graft.tables

import graft.SparkSpec
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  EqualTo, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.types._

/** Huge-manifest planning (the TahoeLogFileIndex discipline): a
  * snapshot read over a manifest too big to materialize must stream
  * the commit body, prune per entry in flight, and retain only
  * surviving files on the driver. The 1M-file test is synthetic by
  * design — the point is the PLANNING budget, so data files never need
  * to exist (the manifest's recorded bytes/mtime mean zero FS probes).
  */
class StreamingManifestSpec extends SparkSpec {
  import graft.SparkSpec._

  private val tableSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("v", IntegerType)))

  private def statsIndexOf(df: org.apache.spark.sql.DataFrame)
      : StatsFileIndex =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation
          if lr.relation.isInstanceOf[HadoopFsRelation] &&
            lr.relation.asInstanceOf[HadoopFsRelation].location
              .isInstanceOf[StatsFileIndex] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location
          .asInstanceOf[StatsFileIndex]
    }.getOrElse(fail("read did not plan through a StatsFileIndex"))

  test("streaming planning path returns the same rows as the eager path") {
    val t = ResourceTable(spark, s"${tmpDir("smspec")}/T.parquet")
      .createIfNotExists(tableSchema)
    val rows = (1 to 500).map(i => Row(s"id$i", i))
    t.upsert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows), tableSchema), "id")
    val eager = t.read().collect().map(_.toString).sorted
    spark.conf.set("graft.manifest.streamPlanBytes", "0")
    try {
      val streamed = t.read()
      assert(statsIndexOf(streamed) ne null)
      assert(streamed.collect().map(_.toString).sorted.sameElements(eager))
      // filtered read through the streaming planner also agrees
      val f = t.read().filter("v = 42").collect()
      assert(f.length == 1 && f.head.getString(0) == "id42")
    } finally spark.conf.unset("graft.manifest.streamPlanBytes")
  }

  test("1M-file manifest plans within a survivor-bounded driver budget") {
    val nFiles = 1000000
    val root = new java.io.File(tmpDir("smhuge"), "H.parquet")
    val logDir = new java.io.File(root, "_log")
    assert(logDir.mkdirs())
    val commit = new java.io.File(logDir, f"${0L}%020d.commit")
    // stream-write the body: never build a 100+ MB string either
    val idSchema = StructType(Seq(StructField("id", LongType))).json
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(commit), 1 << 20)
    val gen = new com.fasterxml.jackson.core.JsonFactory()
      .createGenerator(out)
    gen.writeStartObject()
    gen.writeNumberField("version", 0L)
    gen.writeStringField("op", "WRITE")
    gen.writeNumberField("ts", 1700000000000L)
    gen.writeStringField("dir", "snap-0-synthetic")
    gen.writeFieldName("schema")
    gen.writeRawValue(idSchema)
    gen.writeObjectFieldStart("files")
    var i = 0
    while (i < nFiles) {
      // file i holds ids [i*100, i*100+99] — an id-equality predicate
      // can touch exactly one file
      gen.writeObjectFieldStart(s"snap-0-synthetic/part-$i.parquet")
      gen.writeNumberField("rows", 100L)
      gen.writeNumberField("bytes", 4096L)
      gen.writeNumberField("mtime", 1700000000000L)
      gen.writeObjectFieldStart("cols")
      gen.writeObjectFieldStart("id")
      gen.writeNumberField("min", i.toLong * 100)
      gen.writeNumberField("max", i.toLong * 100 + 99)
      gen.writeNumberField("nulls", 0L)
      gen.writeEndObject()
      gen.writeEndObject()
      gen.writeEndObject()
      i += 1
    }
    gen.writeEndObject()
    gen.writeEndObject()
    gen.close()
    assert(commit.length() > 8L * 1024 * 1024,
      "synthetic manifest must exceed the streaming threshold")

    val t = ResourceTable(spark, root.toString)
    val df = t.readVersion(0) // must take the streaming path (size gate)
    assert(df.schema.fieldNames.sameElements(Array("id")))
    val index = statsIndexOf(df)

    // a selective predicate: stream all 1M entries, materialize ONE
    val pruned = index.listFiles(Seq.empty, Seq(
      EqualTo(AttributeReference("id", LongType)(), Literal(123456L))))
    assert(index.lastScanned == nFiles.toLong)
    assert(index.lastMaterialized == 1L)
    val kept = pruned.flatMap(_.files.map(_.getPath.getName))
    assert(kept == Seq("part-1234.parquet"))

    // a range predicate keeps a contiguous band of files, still tiny
    val band = index.listFiles(Seq.empty, Seq(
      org.apache.spark.sql.catalyst.expressions.And(
        org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
          AttributeReference("id", LongType)(), Literal(500000L)),
        org.apache.spark.sql.catalyst.expressions.LessThan(
          AttributeReference("id", LongType)(), Literal(501000L)))))
    assert(index.lastScanned == nFiles.toLong)
    assert(index.lastMaterialized == 10L)
    assert(band.map(_.files.length).sum == 10)
  }

  // ---- the `_log` commit codec (FileStats.Commit) ------------------

  private def decode(body: String): FileStats.Commit =
    FileStats.Commit.decode(() =>
      new java.io.ByteArrayInputStream(body.getBytes("UTF-8")))

  test("codec: a commit with every field set round-trips through encode and decode") {
    val st = FileStats.FileStat(rows = 10, cols = Map(
        "id" -> FileStats.ColStats(Some("a"), Some("zé"), Some(0L)),
        "n" -> FileStats.ColStats(Some(-5L), Some(7L), Some(2L)),
        "x" -> FileStats.ColStats(Some(-0.5), Some(1.0e10), None),
        "e" -> FileStats.ColStats(None, None, Some(10L))),
      bytes = Some(4096L), mtime = Some(1700000000123L),
      dv = Some(FileStats.DvInfo("i", "wi5b=000010000siXQKl0rr9", 0, 30, 3L)),
      baseRowId = Some(100L), rowVer = Some(6L))
    val c = FileStats.Commit(version = 6L, op = Some("MERGE"),
      ts = Some(1700000000999L), dir = "snap-6-0a1b2c3d",
      txns = Map("app-1" -> 7L, "app \"2\"" -> 9L), rowHwm = Some(110L),
      key = Some("id"), dataChange = Some(false),
      schemaJson = Some(tableSchema.json),
      files = Seq("snap-6-0a1b2c3d/part-0.parquet" -> st,
        "snap-5-ffffffff/part-1.parquet" ->
          st.copy(dv = None, baseRowId = None, rowVer = None)))
    val body = c.encode
    val back = decode(body)
    assert(back == c)
    assert(back.encode == body)
    assert(back.isRearrangement)
    assert(back.schema.contains(tableSchema))
    // the streamed manifest yields the same header and entries
    val cs = new FileStats.CommitStream(() =>
      new java.io.ByteArrayInputStream(body.getBytes("UTF-8")))
    try {
      assert(cs.header == c.copy(files = Nil))
      assert(cs.files.toSeq == c.files)
    } finally cs.close()
    // a torn body never decodes to a shorter manifest
    Seq(body.dropRight(1), body.take(body.indexOf("part-1"))).foreach { torn =>
      intercept[Exception](decode(torn))
    }
  }

  test("codec: a legacy body decodes, bare-name keys resolved against dir") {
    val c = decode(
      """{"version":3,"dir":"snap-3","files":{"part-0.parquet":{"rows":5,"cols":{"id":{"min":"a","max":"e","nulls":0}}},"snap-2/part-9.parquet":{"rows":1,"cols":{}}}}""")
    assert(c.version == 3L && c.dir == "snap-3")
    assert(c.op.isEmpty && c.ts.isEmpty && c.schemaJson.isEmpty &&
      c.schema.isEmpty)
    assert(c.txns.isEmpty && c.rowHwm.isEmpty && c.key.isEmpty &&
      c.dataChange.isEmpty && !c.isRearrangement)
    assert(c.files.map(_._1) ==
      Seq("snap-3/part-0.parquet", "snap-2/part-9.parquet"))
    val st = c.files.head._2
    assert(st.rows == 5L && st.bytes.isEmpty && st.mtime.isEmpty &&
      st.dv.isEmpty && st.baseRowId.isEmpty)
    assert(st.cols("id") == FileStats.ColStats(Some("a"), Some("e"), Some(0L)))
    // without the dataChange flag, an OPTIMIZE is told by its op label
    assert(decode(
      """{"version":4,"op":"OPTIMIZE","dir":"snap-4","files":{}}""")
      .isRearrangement)
  }

  // verbatim commit-writer output: a DV delete of a row-tracking table
  // with a txn watermark, and the OPTIMIZE (dataChange=false) after it
  private val writtenBodies = Seq(
    """{"version":3,"op":"DELETE","ts":1792391776788,"dir":"snap-3-6249a99a","txns":{"app-1":7},"rowHwm":6,"key":"id","schema":{"type":"struct","fields":[{"name":"id","type":"string","nullable":true,"metadata":{}},{"name":"n","type":"long","nullable":true,"metadata":{}},{"name":"x","type":"double","nullable":true,"metadata":{}},{"name":"v","type":"integer","nullable":true,"metadata":{}}]},"files":{"snap-2-7147251a/part-00001-724e1123-cf43-470a-8c1e-5a3eb5c47bfa-c000.zstd.parquet":{"rows":2,"bytes":1207,"mtime":1792391774614,"brid":4,"rcv":2,"cols":{"id":{"min":"c","max":"dé","nulls":0},"n":{"min":30,"max":30,"nulls":1},"x":{"min":2.0,"max":1.0E10,"nulls":0},"v":{"min":3,"max":4,"nulls":0}}},"snap-2-7147251a/part-00000-724e1123-cf43-470a-8c1e-5a3eb5c47bfa-c000.zstd.parquet":{"rows":2,"bytes":1205,"mtime":1792391774822,"brid":2,"rcv":2,"dv":{"st":"i","d":"^Bg9^0rr9100000iXQKl0rr91000005c8Xg00000","off":0,"sz":30,"card":1},"cols":{"id":{"min":"a","max":"b","nulls":0},"n":{"min":1,"max":2,"nulls":0},"x":{"min":-0.25,"max":1.5,"nulls":0},"v":{"min":1,"max":1,"nulls":1}}}}}""",
    """{"version":4,"op":"OPTIMIZE","ts":1792391777827,"dir":"snap-4-7cdfa735","txns":{"app-1":7},"rowHwm":9,"dataChange":false,"schema":{"type":"struct","fields":[{"name":"id","type":"string","nullable":true,"metadata":{}},{"name":"n","type":"long","nullable":true,"metadata":{}},{"name":"x","type":"double","nullable":true,"metadata":{}},{"name":"v","type":"integer","nullable":true,"metadata":{}}]},"files":{"snap-4-7cdfa735/part-00000-2c86e63f-b249-4a8f-86b7-e1e0e0fded03-c000.zstd.parquet":{"rows":3,"bytes":1230,"mtime":1792391777770,"brid":6,"rcv":4,"cols":{"id":{"min":"b","max":"dé","nulls":0},"n":{"min":2,"max":30,"nulls":1},"x":{"min":-0.25,"max":1.0E10,"nulls":0},"v":{"min":3,"max":4,"nulls":1}}}}}""")

  test("codec: bodies the commit writer produced re-encode to the same bytes") {
    writtenBodies.foreach { body =>
      assert(decode(body).encode == body)
    }
    val del = decode(writtenBodies.head)
    assert(del.txns == Map("app-1" -> 7L) && del.rowHwm.contains(6L) &&
      del.key.contains("id") && del.files.exists(_._2.dv.isDefined))
    assert(decode(writtenBodies(1)).dataChange
      .contains(false))
    // and a fresh commit of this writer, read back through the table
    val t = ResourceTable(spark, s"${tmpDir("smcodec")}/T.parquet")
      .createIfNotExists(tableSchema)
    t.upsert(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a", 1), Row("b", 2))),
      tableSchema), "id")
    val v = t.latestVersion.get
    val cf = new HPath(s"${t.path}/_log", f"$v%020d.commit")
    val fs = cf.getFileSystem(spark.sessionState.newHadoopConf())
    val raw = {
      val in = fs.open(cf)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    assert(t.commit(v) == decode(raw))
    assert(t.commit(v).encode == raw)
  }

  // the streamed reader against the whole-body decode of the same file
  test("CommitStream header and entries mirror fromJson on a real commit") {
    val t = ResourceTable(spark, s"${tmpDir("smcs")}/T.parquet")
      .createIfNotExists(tableSchema)
    t.upsert(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a", 1), Row("b", 2))),
      tableSchema), "id")
    val v = t.latestVersion.get
    val cf = new HPath(s"${t.path}/_log", f"$v%020d.commit")
    val fs = cf.getFileSystem(spark.sessionState.newHadoopConf())
    val eager = FileStats.Commit.decode(() => fs.open(cf))
    assert(eager.files.nonEmpty)
    val cs = new FileStats.CommitStream(() => fs.open(cf))
    try {
      assert(cs.header == eager.copy(files = Nil))
      assert(cs.header.dir == eager.dir && cs.header.op == eager.op &&
        cs.header.ts == eager.ts && cs.header.schemaJson == eager.schemaJson)
      assert(cs.files.toSeq == eager.files)
    } finally cs.close()
  }
}
