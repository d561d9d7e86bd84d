package graft.pipeline

import graft.fhir.FhirEncoder
import graft.tables.{DeltaExport, Lakehousekeeper, ResourceTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-micro-batch processing — the reference's `process_batch`
  * (bzkf/fhir-to-lakehouse src/bundle_processor.py:79–155) re-expressed
  * Spark-first:
  *
  *   (type, method) counts → isEmpty gate → distinct resource types
  *   (driver list) → per type: filter → latest-wins dedup (W1) → PUT
  *   rows → encode (E1) → create-if-not-exists (S3) → MERGE upsert (J1)
  *   → DELETE rows → MERGE delete (J2) → every `upkeepInterval`
  *   batches OPTIMIZE+VACUUM (J3/J4; batch 0 triggers it, as in the
  *   reference — tests rely on `batch_id % interval == 0`).
  *
  * The only driver-side materialization is the per-(type, method)
  * count list (a handful of rows per batch, same as the reference's
  * `.distinct().collect()` at bundle_processor.py:96–99); all row
  * processing is distributed.
  *
  * Materialize once: the prepared batch is persisted ONCE, and every
  * stage below it (dedup → encode → write) stays one lazy plan. Two
  * reasons. Adaptive execution sizes a write only through a shuffle
  * it can coalesce, so a 130-row type lands as one file instead of
  * `spark.sql.shuffle.partitions` small ones. And a cached plan that
  * holds an exchange freezes its output at `shuffle.partitions`
  * partitions (`canChangeCachedPlanOutputPartitioning` is false),
  * which a per-type `cache()` of the dedup would bring back: every
  * insert then commits that many small files, and upkeep reads them
  * back to rewrite them as one.
  */
final class BatchProcessor(
    tableDir: String,
    upkeepInterval: Int = 50,
    vacuumRetentionMs: Long = 24L * 3600 * 1000,
    clusteringColumns: Map[String, Seq[String]] = Map.empty,
    metrics: BatchMetrics = BatchMetrics.noop,
    logTopicCounts: Boolean = false,
    checkpointInterval: Int = 100, // delta checkpoint_interval, settings.py:48
    // engine-scoped write behavior (never session-global — two engines
    // on one session must not race): None defers to the session conf
    optimizeWrite: Option[Boolean] = None,
    autoCompact: Option[Boolean] = None,
    // in-engine S6: (re-)register each touched table in the catalog
    // per batch, like the reference under metastore_url
    // (bundle_processor.py:212–217)
    registerTables: Boolean = false,
    // keep each touched table's exported _delta_log current per batch,
    // so external delta readers track the stream the way they track
    // the reference's real Delta tables (S8) — incremental, O(files
    // touched by the batch)
    deltaExport: Boolean = false) {

  def tablePath(resourceType: String): String =
    s"$tableDir/$resourceType.parquet"

  /** Process one micro-batch of *prepared* envelope rows (the output of
    * [[BundlePipeline.prepare]]). Returns per-type (upserted, deleted)
    * counts.
    */
  def processBatch(df: DataFrame, batchId: Long): Map[String, (Long, Long)] = {
    // The batch's ONE materialization: it serves the counts job and the
    // per-type filters below; without it every action re-executes the
    // upstream prepare pipeline (source decode + from_json + explode).
    // Nothing downstream caches again (see the class comment): dedup →
    // encode → write stays lazy so adaptive execution sizes the files.
    df.persist()
    try processCached(df, batchId) finally df.unpersist()
  }

  private def processCached(
      df: DataFrame, batchId: Long): Map[String, (Long, Long)] = {
    val spark = df.sparkSession
    // A1 + A2 + A3 in ONE job over the cache: per-(type, method)
    // counts give the total row count (empty gate), the distinct type
    // list and which types carry DELETEs, without a second scan.
    // Dedup only drops rows, so a type with no DELETE row before
    // dedup has none after it and skips the delete branch job-free.
    val counts = df.groupBy("resource_type", "request_method").count()
      .collect()
      .map(r => (Option(r.getString(0)), r.getString(1)) -> r.getLong(2))
    val batchRows = counts.map(_._2).sum
    if (batchRows == 0) return Map.empty
    metrics.batchSize(batchRows)
    val types = counts.flatMap(_._1._1).distinct
    val withDeletes =
      counts.collect { case ((Some(rt), "DELETE"), _) => rt }.toSet

    types.map { rt =>
      val forType = df.filter(col("resource_type") === rt) // P9
      val deduped = BundlePipeline.deduplicate(forType)    // W1
      // A4 — opt-in per-topic counts, computed per type on the
      // post-dedup rows like the reference's only_latest_df logging
      // (bundle_processor.py:131), not on the raw batch
      if (logTopicCounts)
        deduped.groupBy(col("topic")).count().collect().foreach { r =>
          metrics.topicCount(r.getAs[String]("topic"), r.getAs[Long]("count"))
        }

      val putDf = deduped.filter(col("request_method") === "PUT")
      val encoded = FhirEncoder.encode(putDf, rt)          // E1

      val table = ResourceTable(spark, tablePath(rt), checkpointInterval,
          optimizeWrite, autoCompact)
        .createIfNotExists(encoded.schema,
          clusteringColumns.getOrElse(rt, Seq.empty))      // S3

      val upserted = timeIt(metrics.mergeSeconds) {
        table.upsert(encoded, "id")                        // J1
      }
      metrics.resourcesWritten(rt, upserted)

      // re-derived from the persisted batch; the plan prunes it to the
      // dedup's columns plus the id. A type whose DELETEs all lost to a
      // newer PUT passes an empty id set, which commits a copy-forward
      // version like any unmatched delete.
      val deleted =
        if (!withDeletes(rt)) 0L
        else timeIt(metrics.deleteSeconds) {
          table.deleteMatching(deduped
            .filter(col("request_method") === "DELETE")    // P9
            .select("request_resource_id"), "id")          // J2
        }
      metrics.resourcesDeleted(rt, deleted)

      if (upkeepInterval > 0 && batchId % upkeepInterval == 0) {
        timeIt(metrics.upkeepSeconds) {
          // J3 — Delta OPTIMIZE parity: routine upkeep bin-packs
          // only small files (O(small), no-op when nothing to do);
          // a CLUSTERED table reclusters fully, like OPTIMIZE on
          // liquid-clustering tables. A fixed full rewrite every 50
          // batches would be O(table) write amplification at scale.
          if (clusteringColumns.getOrElse(rt, Seq.empty).nonEmpty)
            table.optimize()
          else table.compactSmallFiles()
          table.vacuum(vacuumRetentionMs)                  // J4
        }
      }

      // S6 in-engine: roll the catalog entry forward to this batch's
      // snapshot (after upkeep, so it reflects any compaction). The
      // reference registers per batch under metastore_url with the
      // same retry wrapper (bundle_processor.py:212–217, :325–329);
      // its Delta pointer is static where ours advances, so ours
      // registers after the merge instead of before it — and because
      // the data is already durably committed by then, a registration
      // failure must not crash-loop the stream over a catalog entry:
      // warn loudly and let the next batch (or the CLI) retry.
      if (registerTables)
        try ResourceTable.retry() {
          Lakehousekeeper.registerTable(spark, tablePath(rt)): Unit
        } catch {
          // NonFatal only: an interrupt (query stop) or OOM must
          // propagate, not be logged-and-continued
          case scala.util.control.NonFatal(e) => System.err.println(
            s"catalog registration failed for ${tablePath(rt)} " +
              s"(data committed, entry stale): ${e.getMessage}")
        }
      // same durability stance as registration: the data is already
      // committed, so a failed log mirror must not crash-loop the
      // stream — warn and let the next batch (or the CLI) catch up
      if (deltaExport)
        try DeltaExport.export(table): Unit
        catch {
          case scala.util.control.NonFatal(e) => System.err.println(
            s"delta export failed for ${tablePath(rt)} " +
              s"(data committed, exported log stale): ${e.getMessage}")
        }
      rt -> (upserted, deleted)
    }.toMap
  }

  private def timeIt[T](record: Double => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    record((System.nanoTime() - t0) / 1e9)
    r
  }
}

/** Metric hooks matching the reference's OTel surface
  * (src/metrics.py:37–144): batch sizes, per-type written/deleted
  * counters, delta-op duration histograms.
  */
trait BatchMetrics {
  def batchSize(n: Long): Unit
  def topicCount(topic: String, n: Long): Unit = ()
  def resourcesWritten(resourceType: String, n: Long): Unit
  def resourcesDeleted(resourceType: String, n: Long): Unit
  def mergeSeconds(s: Double): Unit
  def deleteSeconds(s: Double): Unit
  def upkeepSeconds(s: Double): Unit
}

object BatchMetrics {
  val noop: BatchMetrics = new BatchMetrics {
    def batchSize(n: Long): Unit = ()
    def resourcesWritten(resourceType: String, n: Long): Unit = ()
    def resourcesDeleted(resourceType: String, n: Long): Unit = ()
    def mergeSeconds(s: Double): Unit = ()
    def deleteSeconds(s: Double): Unit = ()
    def upkeepSeconds(s: Double): Unit = ()
  }

  /** Simple in-memory accumulator (test/observability default).
    * SYNCHRONIZED: one instance is shared across the N+1 concurrently
    * running streaming queries Engine wires it into, each calling from
    * its own micro-batch thread — unsynchronized read-modify-writes
    * would lose counts and concurrent mutable.Map inserts can corrupt
    * the map (PrometheusBridge uses LongAdder/ConcurrentHashMap for
    * the same hooks for the same reason).
    */
  final class Recording extends BatchMetrics {
    val written = scala.collection.mutable.Map.empty[String, Long]
    val deleted = scala.collection.mutable.Map.empty[String, Long]
    val topics = scala.collection.mutable.Map.empty[String, Long]
    var batches = 0L
    var rows = 0L
    override def topicCount(topic: String, n: Long): Unit =
      synchronized { topics(topic) = topics.getOrElse(topic, 0L) + n }
    def batchSize(n: Long): Unit =
      synchronized { batches += 1; rows += n }
    def resourcesWritten(rt: String, n: Long): Unit =
      synchronized { written(rt) = written.getOrElse(rt, 0L) + n }
    def resourcesDeleted(rt: String, n: Long): Unit =
      synchronized { deleted(rt) = deleted.getOrElse(rt, 0L) + n }
    def mergeSeconds(s: Double): Unit = ()
    def deleteSeconds(s: Double): Unit = ()
    def upkeepSeconds(s: Double): Unit = ()
  }
}
