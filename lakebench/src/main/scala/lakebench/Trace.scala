package lakebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work inside one time window. */
final case class SparkWork(jobs: Long, stages: Long, tasks: Long, taskS: Double,
                           shuffleRead: Long, shuffleWrite: Long, output: Long,
                           spill: Long, busyS: Double, gcS: Double, planningS: Double)

/** Job/stage/task events and query planning times with wall-clock
  * stamps, so any window (a span) can be charged with the work that
  * ran inside it. Registered only for the traced run.
  */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  import SparkRecorder.Task
  private val jobs = new ConcurrentLinkedQueue[Long]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    plans.add((System.currentTimeMillis(), ms / 1000))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Work whose events fall in [t0, t1] (epoch ms); the listener bus
    * must be drained first.
    */
  def window(t0: Long, t1: Long, gcS: Double): SparkWork = {
    val ts = tasks.asScala.filter(t => t.finish >= t0 && t.finish <= t1).toSeq
    SparkWork(
      jobs.asScala.count(t => t >= t0 && t <= t1),
      stages.asScala.count(t => t >= t0 && t <= t1),
      ts.size, ts.map(_.runMs).sum / 1000.0,
      ts.map(_.shRead).sum, ts.map(_.shWrite).sum, ts.map(_.out).sum, ts.map(_.spill).sum,
      Trace.unionMs(ts.map(t => (math.max(t.launch, t0), math.min(t.finish, t1)))) / 1000.0,
      gcS, plans.asScala.filter(p => p._1 >= t0 && p._1 <= t1).map(_._2).sum)
  }
}

object SparkRecorder {
  private final case class Task(launch: Long, finish: Long, runMs: Long, shRead: Long,
                                shWrite: Long, out: Long, spill: Long)
}

/** One traced span: a layer call made by the benchmark. */
final class Span(val id: Int, val parent: Int, val name: String, val batch: Long,
                 val rtype: String, val startMs: Long) {
  var endMs: Long = startMs
  var durS: Double = 0.0
  var childS: Double = 0.0
  var work: SparkWork = _
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def selfS: Double = durS - childS
}

/** Span tree recorder for the traced replay: workload, batch, resource
  * type, stage. Spans are nested calls on one thread, so a span's
  * children never overlap and its self time is its duration minus the
  * sum of theirs. Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  val recorder = new SparkRecorder
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def start(): Unit = {
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
  }
  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(recorder)
    spark.listenerManager.unregister(recorder)
  }

  def span[T](name: String, batch: Long = -1L, rtype: String = "")(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name,
      if (batch >= 0) batch else parent.map(_.batch).getOrElse(-1L),
      if (rtype.nonEmpty) rtype else parent.map(_.rtype).getOrElse(""),
      System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val gc0 = Trace.gcS()
    val t0 = System.nanoTime()
    try body
    finally {
      s.durS = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      parent.foreach(_.childS += s.durS)
      org.apache.spark.lakebench.Bus.drain(spark.sparkContext)
      s.work = recorder.window(s.startMs, s.endMs, Trace.gcS() - gc0)
    }
  }

  /** Adds `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def total(name: String): Double = named(name).map(_.durS).sum
  def sum(name: String, key: String): Double =
    named(name).map(_.counts.getOrElse(key, 0.0)).sum

  /** Writes all spans as one JSON document. */
  def write(path: String, header: Map[String, String]): Unit = {
    val sb = new StringBuilder("{")
    header.foreach { case (k, v) => sb ++= s"${Gen.quote(k)}:${Gen.quote(v)}," }
    sb ++= "\"spans\":["
    sb ++= spans.map { s =>
      val w = s.work
      val counts = s.counts.map { case (k, v) => s"${Gen.quote(k)}:$v" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Gen.quote(s.name)},"batch":${s.batch},""" +
        s""""type":${Gen.quote(s.rtype)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_s":${s.durS},"self_s":${s.selfS},"counts":{$counts},""" +
        s""""spark":{"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""task_s":${w.taskS},"shuffle_read_bytes":${w.shuffleRead},""" +
        s""""shuffle_write_bytes":${w.shuffleWrite},"output_bytes":${w.output},""" +
        s""""spill_bytes":${w.spill},"busy_s":${w.busyS},"gc_s":${w.gcS},"planning_s":${w.planningS}}}"""
    }.mkString(",\n")
    sb ++= "]}\n"
    val p = java.nio.file.Path.of(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, sb.toString)
  }
}

object Trace {
  /** Length of the union of [start, end] intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** JVM collection time so far, in seconds. */
  def gcS(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
}
