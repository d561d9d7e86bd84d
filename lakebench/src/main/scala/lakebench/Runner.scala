package lakebench

import graft.fhir.FhirEncoder
import graft.pipeline.{BatchProcessor, BundlePipeline}
import graft.sources.FileBundleSource
import graft.streaming.{Engine, Settings}
import graft.tables.{DeltaExport, ResourceTable}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The Kafka wire record, as the MemoryStream source carries it. */
final case class KafkaRecord(key: Array[Byte], value: Array[Byte], topic: String,
                             partition: Int, offset: Long, timestamp: java.sql.Timestamp)

/** A MemoryStream that the engine's N+1 queries read at once. Each query
  * commits its own progress, out of step with the others, so the shared
  * buffer is never trimmed (a run's traffic fits in memory).
  */
final class SharedMemoryStream(id: Int, spark: SparkSession)
    extends MemoryStream[KafkaRecord](id, spark, None)(Encoders.product[KafkaRecord]) {
  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()
}

/** Drives the engine the way its runnable entry point deploys it, and
  * replays the same batches through the public layer functions for the
  * traced run.
  */
final class Runner(val spark: SparkSession, val params: Params, val work: String) {
  val configured: Seq[String] = params.strings("common.configured_types")
  val allTypes: Seq[String] = params.doubleMap("common.type_mix").map(_._1)
  val progress = new ProgressCollector
  spark.streams.addListener(progress)
  private var engines = 0

  def settings(db: String, upkeepInterval: Int = Settings().upkeepInterval,
               retentionHours: Long = Settings().vacuumRetentionHours,
               availableNow: Boolean = false): Settings = {
    engines += 1
    Settings(
      checkpointDir = s"$work/checkpoints/$engines",
      deltaDatabaseDir = db,
      triggerAvailableNow = availableNow,
      resourceTypes = configured,
      upkeepInterval = upkeepInterval,
      vacuumRetentionHours = retentionHours,
      master = spark.sparkContext.master,
      warehouseDir = s"$work/warehouse",
      deltaExport = true)
  }

  /** Writes bundles as FileBundleSource journal files. */
  def writeJournal(dir: String, bundles: Seq[Bundle], files: Int): Unit = {
    Files.createDirectories(Path.of(dir))
    bundles.grouped(math.max(1, (bundles.size + files - 1) / files)).zipWithIndex.foreach {
      case (bs, i) =>
        Files.write(Path.of(dir, f"part-$i%05d.ndjson"),
          bs.map(b => Gen.journalLine(b) + "\n").mkString.getBytes(UTF_8))
    }
  }

  /** Drains a journal into `db` through the deployable file source with
    * AvailableNow; returns (wall seconds, queries, recorded metrics).
    */
  def drain(journal: String, db: String): (Double, Seq[StreamingQuery], RecordingMetrics) = {
    val rec = new RecordingMetrics
    val t0 = System.nanoTime()
    val qs = Engine.start(FileBundleSource.stream(spark, journal),
      settings(db, availableNow = true), rec)
    qs.foreach(_.awaitTermination())
    ((System.nanoTime() - t0) / 1e9, qs, rec)
  }

  def records(bundles: Seq[Bundle], tsMs: Long): Seq[KafkaRecord] = bundles.map { b =>
    KafkaRecord(s"${b.partition}".getBytes(UTF_8), b.value.getBytes(UTF_8), "fhir.msg",
      b.partition, b.offset, new java.sql.Timestamp(tsMs))
  }

  def memoryStream(): MemoryStream[KafkaRecord] = {
    engines += 1
    new SharedMemoryStream((1 << 20) + engines, spark)
  }

  /** Applies a journal to the tables in `db` with one call of the
    * engine's batch function, BatchProcessor.processBatch, as micro-batch
    * `batchId` of one query would (set-up only: no N+1 fan-out, no
    * streaming state).
    */
  def applyJournal(journal: String, db: String, batchId: Long,
                   metrics: RecordingMetrics = new RecordingMetrics): Unit = {
    val s = settings(db)
    new BatchProcessor(db, s.upkeepInterval, s.vacuumRetentionHours * 3600 * 1000,
      metrics = metrics, deltaExport = s.deltaExport,
      checkpointInterval = s.deltaCheckpointInterval,
      optimizeWrite = Some(s.autoOptimizeOptimizeWrite),
      autoCompact = Some(s.autoOptimizeAutoCompact))
      .processBatch(BundlePipeline.prepare(FileBundleSource.batch(spark, journal)), batchId): Unit
  }

  def wire(records: Seq[KafkaRecord]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(records.map(r =>
      Row(r.key, r.value, r.topic, r.partition, r.offset, r.timestamp)), 1),
      BundlePipeline.kafkaWireSchema)

  private def materialize(tr: Tracer, df: DataFrame, countKey: String): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    tr.count(countKey, p.count().toDouble)
    p
  }

  /** One micro-batch through the public layer functions in the order
    * BatchProcessor.processBatch calls them, one span per call. Every
    * stage's input is persisted and materialized before the stage's span
    * opens, so no span re-executes its upstream.
    */
  def replayBatch(tr: Tracer, source: => DataFrame, batchId: Long, db: String,
                  upkeepInterval: Int, retentionMs: Long): Unit =
    tr.span("batch", batchId) {
      val src = tr.span("sources.batch")(materialize(tr, source, "rows_out"))
      val bundles = src.count().toDouble
      val prepared = tr.span("pipeline.prepare") {
        tr.count("rows_in", bundles)
        materialize(tr, BundlePipeline.prepare(src), "rows_out")
      }
      src.unpersist()
      (configured :+ "default").foreach { q =>
        tr.span("query", rtype = q) {
          val view = tr.span("pipeline.for_type")(materialize(tr,
            if (q == "default") BundlePipeline.forOtherTypes(prepared, configured)
            else BundlePipeline.forType(prepared, q), "rows_out"))
          val types = view.select("resource_type").distinct().collect().flatMap(r => Option(r.getString(0)))
          types.sorted.foreach(rt => tr.span("type", rtype = rt) {
            replayType(tr, view.filter(col("resource_type") === rt), rt, batchId, db,
              upkeepInterval, retentionMs)
          })
          view.unpersist()
        }
      }
      prepared.unpersist()
    }

  private def replayType(tr: Tracer, forType: DataFrame, rt: String, batchId: Long,
                         db: String, upkeepInterval: Int, retentionMs: Long): Unit = {
    val rowsIn = forType.count().toDouble
    val deduped = tr.span("pipeline.dedup") {
      tr.count("rows_in", rowsIn)
      materialize(tr, BundlePipeline.deduplicate(forType), "rows_out")
    }
    val puts = deduped.filter(col("request_method") === "PUT")
    val in = puts.agg(count(lit(1)), coalesce(sum(length(col("resource"))), lit(0L))).first()
    val encoded = tr.span("fhir.encode") {
      tr.count("rows_in", in.getLong(0).toDouble)
      tr.count("json_bytes", in.getLong(1).toDouble)
      materialize(tr, FhirEncoder.encode(puts, rt), "rows_out")
    }
    val s = Settings()
    val path = s"$db/$rt.parquet"
    val table = ResourceTable(spark, path, s.deltaCheckpointInterval,
      Some(s.autoOptimizeOptimizeWrite), Some(s.autoOptimizeAutoCompact))
      .createIfNotExists(encoded.schema, Seq.empty)
    // manifests and log sizes are read outside the spans, so the spans
    // time only the layer calls
    val before = table.fileManifest(table.latestVersion.get).toSet
    val log0 = DiskUsage.of(path).log
    val n = tr.span("tables.upsert")(table.upsert(encoded, "id"))
    val after = table.fileManifest(table.latestVersion.get).toSet
    val added = (after -- before).toSeq
    tr.named("tables.upsert").last.counts ++= Seq(
      "rows_upserted" -> n.toDouble,
      "files_rewritten" -> (before -- after).size.toDouble,
      "files_added" -> added.size.toDouble,
      "rows_written" -> (if (added.isEmpty) 0.0
        else spark.read.parquet(added.map(f => s"$path/$f"): _*).count().toDouble),
      "commit_log_bytes" -> (DiskUsage.of(path).log - log0).toDouble,
      "commits" -> 1.0)
    encoded.unpersist()
    val deleteIds = deduped.filter(col("request_method") === "DELETE").select("request_resource_id")
    if (!deleteIds.isEmpty) tr.span("tables.delete") {
      tr.count("rows_deleted", table.deleteMatching(deleteIds, "id").toDouble)
    }
    if (upkeepInterval > 0 && batchId % upkeepInterval == 0) tr.span("tables.upkeep") {
      table.compactSmallFiles()
      tr.count("files_vacuumed", table.vacuum(retentionMs).toDouble)
    }
    val d0 = DiskUsage.of(path).deltaLog
    tr.span("tables.export")(DeltaExport.export(table))
    tr.named("tables.export").last.counts("delta_log_bytes") =
      (DiskUsage.of(path).deltaLog - d0).toDouble
    deduped.unpersist()
  }
}
