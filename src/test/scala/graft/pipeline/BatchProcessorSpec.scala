package graft.pipeline

import graft.SparkSpec
import graft.tables.ResourceTable

/** End-to-end batch semantics — the reference's unit-test suite
  * (tests/unit/test_bundle_processor.py) reproduced over our table
  * layer.
  */
class BatchProcessorSpec extends SparkSpec {
  import graft.SparkSpec._

  private def prepared(msgs: Seq[(String, Int, Long)]) =
    BundlePipeline.prepare(kafkaBatch(spark, msgs))

  test("empty batch is a no-op (no table created)") {
    val dir = tmpDir("bp")
    val bp = new BatchProcessor(dir)
    val res = bp.processBatch(
      prepared(Seq(("not json", 0, 0L))), batchId = 1)
    assert(res.isEmpty)
    assert(!new java.io.File(s"$dir/Patient.parquet").exists())
  }

  test("PUT inserts a patient; DELETE in a later batch removes it") {
    val dir = tmpDir("bp")
    val bp = new BatchProcessor(dir, upkeepInterval = 0)
    bp.processBatch(prepared(Seq((fixture("single-patient.json"), 0, 0L))), 1)
    val table = ResourceTable(spark, s"$dir/Patient.parquet")
    val after1 = table.read().collect()
    assert(after1.length == 1)
    val row = after1.head
    assert(row.getAs[String]("id") == "cd30dceb-20c8-1e15-ad0c-c9fe2a48ea4e")
    assert(row.getAs[String]("birthDate") == "1964-09-08")
    assert(row.getAs[String]("gender") == "male")
    assert(row.getAs[String]("resource_json").nonEmpty)

    bp.processBatch(
      prepared(Seq((fixture("delete-single-patient.json"), 0, 1L))), 2)
    assert(table.read().count() == 0)
  }

  test("deltaExport keeps the exported log current per batch") {
    import graft.tables.DeltaExport
    val dir = tmpDir("bp")
    val bp = new BatchProcessor(dir, upkeepInterval = 0,
      deltaExport = true)
    bp.processBatch(prepared(Seq((fixture("single-patient.json"), 0, 0L))), 1)
    val path = s"$dir/Patient.parquet"
    assert(new java.io.File(s"$path/_delta_log").isDirectory)
    assert(DeltaExport.readSnapshot(spark, path).count() == 1L)
    // the next batch's delete is mirrored in the same batch path
    bp.processBatch(
      prepared(Seq((fixture("delete-single-patient.json"), 0, 1L))), 2)
    assert(DeltaExport.readSnapshot(spark, path).count() == 0L)
  }

  test("re-processing the same batch is idempotent (streaming replay)") {
    val dir = tmpDir("bp")
    val bp = new BatchProcessor(dir, upkeepInterval = 0)
    val batch = prepared(Seq((fixture("single-patient.json"), 0, 0L)))
    bp.processBatch(batch, 1)
    bp.processBatch(batch, 1) // crash-replay of the same offsets
    assert(ResourceTable(spark, s"$dir/Patient.parquet").read().count() == 1)
  }

  test("in-batch latest-wins: 7 mixed PUT/DELETE messages over 2 partitions") {
    // Mirror of the reference's canonical scenario (tests:280–374):
    // survivors must be ids {0, 2}, and patient 2 has active=false
    // from the newer offset-99 PUT.
    val dir = tmpDir("bp")
    val bp = new BatchProcessor(dir, upkeepInterval = 0)
    bp.processBatch(prepared(Seq(
      (fixture("batches/put-0.json"), 0, 0L),
      (fixture("batches/put-2.json"), 0, 1L),
      (fixture("batches/put-2-newer.json"), 0, 99L),
      (fixture("batches/put-1.json"), 1, 0L),
      (fixture("batches/delete-1.json"), 1, 1L),
      (fixture("batches/put-1.json"), 1, 2L),
      (fixture("batches/delete-1.json"), 1, 3L))), 1)
    val rows = ResourceTable(spark, s"$dir/Patient.parquet").read().collect()
    assert(rows.map(_.getAs[String]("id")).toSet == Set("0", "2"))
    val p2 = rows.find(_.getAs[String]("id") == "2").get
    assert(p2.getAs[Boolean]("active") == false)
  }

  test("batch 0 triggers optimize+vacuum (upkeep cadence)") {
    val dir = tmpDir("bp")
    // clustered table → upkeep reclusters (full optimize commit)
    val bp = new BatchProcessor(dir, upkeepInterval = 50,
      clusteringColumns = Map("Patient" -> Seq("id")))
    // batch_id 0 % 50 == 0 → upkeep runs (reference tests:230–231)
    bp.processBatch(prepared(Seq((fixture("single-patient.json"), 0, 0L))), 0)
    val t = ResourceTable(spark, s"$dir/Patient.parquet")
    assert(t.read().count() == 1)
    // upkeep committed an optimize snapshot on top of create+upsert
    assert(t.latestVersion.exists(_ >= 2L))
  }

  test("unclustered upkeep bin-packs small files instead of rewriting the table") {
    val dir = tmpDir("bp")
    val bp = new BatchProcessor(dir, upkeepInterval = 2)
    // two non-upkeep batches leave two small files...
    bp.processBatch(prepared(Seq((fixture("single-patient.json"), 0, 0L))), 1)
    bp.processBatch(prepared(Seq((fixture("batches/put-2.json"), 0, 1L))), 3)
    val t = ResourceTable(spark, s"$dir/Patient.parquet")
    val before = t.fileManifest(t.latestVersion.get).size
    assert(before >= 2, s"expected >=2 files, got $before")
    // ...and the next upkeep batch coalesces them (O(small files))
    bp.processBatch(prepared(Seq((fixture("batches/put-2-newer.json"), 0, 2L))), 4)
    assert(t.fileManifest(t.latestVersion.get).size < before + 1)
    assert(t.history().collect().exists(_.getString(2) == "OPTIMIZE"))
  }

  /** `n` one-entry Patient PUT bundles, one message each, over two
    * partitions: a multi-partition batch whose dedup shuffles. */
  private def patientPuts(n: Int): Seq[(String, Int, Long)] =
    (0 until n).map { i =>
      (s"""{"resourceType":"Bundle","type":"transaction","entry":[""" +
        s"""{"fullUrl":"p$i","resource":{"resourceType":"Patient",""" +
        s""""id":"p$i","active":true},"request":{"method":"PUT",""" +
        s""""url":"Patient/p$i"}}]}""", i % 2, i.toLong)
    }

  test("a small insert into a fresh table commits one data file") {
    val dir = tmpDir("bp")
    val bp = new BatchProcessor(dir, upkeepInterval = 0)
    bp.processBatch(prepared(patientPuts(40)), 1)
    val t = ResourceTable(spark, s"$dir/Patient.parquet")
    assert(t.read().count() == 40)
    // the dedup -> encode -> write plan stays lazy, so adaptive
    // execution coalesces the dedup shuffle into one write task
    // instead of one file per shuffle partition
    val files = t.fileManifest(t.latestVersion.get)
    assert(files.size == 1, s"expected 1 data file, got ${files.size}")
  }

  test("batch-0 upkeep finds nothing to compact after a small insert") {
    val dir = tmpDir("bp")
    val bp = new BatchProcessor(dir, upkeepInterval = 50)
    bp.processBatch(prepared(patientPuts(40)), 0)
    val t = ResourceTable(spark, s"$dir/Patient.parquet")
    assert(t.read().count() == 40)
    assert(!t.history().collect().exists(_.getString(2) == "OPTIMIZE"))
  }

  test("processBatch leaves no cached plan behind") {
    val dir = tmpDir("bp")
    spark.catalog.clearCache()
    val cache = spark.sharedState.cacheManager
    val bp = new BatchProcessor(dir, upkeepInterval = 0)
    bp.processBatch(prepared(patientPuts(4)), 1)
    // a batch with DELETEs: the table holds rows, so upsert caches its
    // source, and the delete branch caches its ids
    bp.processBatch(prepared(Seq(
      (fixture("batches/put-1.json"), 0, 10L),
      (fixture("batches/delete-1.json"), 0, 11L)) ++
      patientPuts(2).map { case (j, p, o) => (j, p, o + 20L) }), 2)
    assert(cache.isEmpty)
    assert(ResourceTable(spark, s"$dir/Patient.parquet").read().count() == 4)
    val logging = new BatchProcessor(dir, upkeepInterval = 0,
      logTopicCounts = true)
    logging.processBatch(prepared(patientPuts(3)), 3)
    assert(cache.isEmpty)
  }

  test("clustering columns flow through to the table layer") {
    val dir = tmpDir("bp")
    val bp = new BatchProcessor(dir, upkeepInterval = 0,
      clusteringColumns = Map("Patient" -> Seq("id", "birthDate")))
    bp.processBatch(prepared(Seq((fixture("single-patient.json"), 0, 0L))), 1)
    assert(ResourceTable(spark, s"$dir/Patient.parquet").clusterBy() ==
      Seq("id", "birthDate"))
  }

  test("opt-in per-topic counts reach the metrics hook") {
    val dir = tmpDir("bp")
    val m = new BatchMetrics.Recording
    val bp = new BatchProcessor(dir, upkeepInterval = 0, metrics = m,
      logTopicCounts = true)
    bp.processBatch(prepared(Seq((fixture("single-patient.json"), 0, 0L))), 1)
    assert(m.topics == scala.collection.mutable.Map("fhir.msg" -> 1L))
  }

  test("metrics hooks record written/deleted counts") {
    val dir = tmpDir("bp")
    val m = new BatchMetrics.Recording
    val bp = new BatchProcessor(dir, upkeepInterval = 0, metrics = m)
    bp.processBatch(prepared(Seq((fixture("single-patient.json"), 0, 0L))), 1)
    bp.processBatch(
      prepared(Seq((fixture("delete-single-patient.json"), 0, 1L))), 2)
    assert(m.written("Patient") == 1)
    assert(m.deleted("Patient") == 1)
    assert(m.batches == 2)
  }
}
