package lakebench

import graft.pipeline.BatchMetrics
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One streaming progress event, reduced to what the benchmark uses. */
final case class Progress(query: String, batchId: Long, inputRows: Long,
                          startMs: Long, durations: Map[String, Long],
                          endOffset: Long) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  def commit: Stats.Commit =
    Stats.Commit(query, batchId, endOffset, commitMs, durations.getOrElse("addBatch", 0L))
}

/** Records every progress event of the engine's queries. Costs the
  * engine nothing it does not already pay: Spark builds the progress
  * whether or not anyone listens.
  */
final class ProgressCollector extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Progress]()
  private val offsetPattern = "-?\\d+".r

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(offsetPattern.findFirstIn).map(_.toLong).getOrElse(-1L)
    events.add(Progress(Option(p.name).getOrElse(p.id.toString), p.batchId,
      p.numInputRows, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, end))
  }

  def of(queries: Set[String]): Seq[Progress] =
    events.asScala.filter(e => queries(e.query)).toSeq
  def clear(): Unit = events.clear()
}

/** The engine's own metric hooks, recorded (merge/delete/upkeep time,
  * non-empty batches, resources written per type). Shared by the N+1
  * query threads.
  */
final class RecordingMetrics extends BatchMetrics {
  private var merge, delete, upkeep = 0.0
  private var batchCount = 0L
  private val written = scala.collection.mutable.Map.empty[String, Long]

  def batchSize(n: Long): Unit = synchronized { batchCount += 1 }
  def resourcesWritten(rt: String, n: Long): Unit =
    synchronized { written(rt) = written.getOrElse(rt, 0L) + n }
  def resourcesDeleted(rt: String, n: Long): Unit = ()
  def mergeSeconds(s: Double): Unit = synchronized { merge += s }
  def deleteSeconds(s: Double): Unit = synchronized { delete += s }
  def upkeepSeconds(s: Double): Unit = synchronized { upkeep += s }

  def snapshot: RecordingMetrics.Snapshot = synchronized {
    RecordingMetrics.Snapshot(merge, delete, upkeep, batchCount, written.toMap)
  }
}

object RecordingMetrics {
  final case class Snapshot(mergeS: Double, deleteS: Double, upkeepS: Double,
                            batches: Long, written: Map[String, Long])
}

/** On-disk bytes under a database dir, split by role. */
final case class DiskUsage(data: Long, log: Long, deltaLog: Long) {
  def total: Long = data + log + deltaLog
}

object DiskUsage {
  def of(dir: String): DiskUsage = {
    val root = Path.of(dir)
    if (!Files.exists(root)) return DiskUsage(0, 0, 0)
    val s = Files.walk(root)
    try {
      var data, log, delta = 0L
      s.iterator.asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val parts = root.relativize(f).iterator.asScala.map(_.toString).toSet
        val n = Files.size(f)
        if (parts("_delta_log")) delta += n
        else if (parts("_log")) log += n
        else data += n
      }
      DiskUsage(data, log, delta)
    } finally s.close()
  }
}

object Heap {
  /** Driver heap in use after full collections, in MB. */
  def retainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
