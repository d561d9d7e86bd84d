package lakebench

import graft.sources.FileBundleSource
import graft.streaming.Settings
import graft.tables.ResourceTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.SplittableRandom
import scala.collection.mutable
import scala.util.chaining._

/** What one run measured and verified. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]
  val mismatches = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Epoch ms of the first timed operation. */
  var firstTimedMs = 0L

  def mismatch(what: String): Unit = { mismatches += what; failed += 1 }
  def timing(prefix: String, xs: Seq[Double]): Timing = {
    val t = Stats.timing(xs)
    notes += s"$prefix ${t.describe("s")}"
    t
  }
}

/** The three workloads. Each runs untraced first (end-to-end metrics and
  * the zero-cost collectors); with `trace` it then replays the same
  * input through the layer functions with spans.
  */
final class Workloads(r: Runner, seed: Long, seconds: Int, trace: Boolean,
                      traceOut: String) {
  private val p = r.params
  private val spark = r.spark
  private val cores = spark.sparkContext.defaultParallelism
  private val out = new Outcome
  private val (minEntries, maxEntries) = p.range("backfill.bundle_entries")
  private val journalFiles = p.int("backfill.journal_files")
  private val upkeep = p.int("churn.upkeep_interval")
  private val retentionH = p.int("churn.vacuum_retention_hours").toLong

  private def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  private def delete(dir: String): Unit = {
    val f = new java.io.File(dir)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  private def copy(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(from), new java.io.File(to))

  private def churnMix: ChurnMix = {
    val (lo, hi) = p.range("churn.bundle_entries")
    ChurnMix(lo, hi, p.double("churn.delete_share"), p.double("churn.put_then_delete_share"),
      p.double("churn.new_share"), p.double("churn.repeat_share"), p.double("churn.zipf_s"),
      p.double("churn.malformed_share"))
  }

  private def tickEntries: Int =
    math.max(1, p.int("churn.rate_entries_per_s") * p.int("churn.tick_ms") / 1000)

  /** Generator positioned after the pre-loaded table and `ticks` churn ticks. */
  private def churnGen(ticks: Int): (Gen, Seq[Bundle], Seq[Seq[Bundle]]) = {
    val g = new Gen(seed, p)
    val preload = g.backfill(p.int("churn.table_entries"), minEntries, maxEntries)
    val ts = Seq.fill(ticks)(g.churnTick(tickEntries, churnMix))
    (g, preload, ts)
  }

  private def queryNames(qs: Seq[StreamingQuery]): Set[String] = qs.map(_.name).toSet

  private def failedQueries(qs: Seq[StreamingQuery]): Int =
    qs.count(_.exception.isDefined)

  /** End-of-run accounting shared by every workload. */
  private def finish(db: String, state: State): Unit = {
    out.layers("jvm.retained_heap_mb") = Heap.retainedMb()
    val disk = DiskUsage.of(db)
    out.e2e("stored_bytes_per_live_byte") = disk.total.toDouble / state.liveJsonBytes
    out.layers ++= Seq("disk.data_bytes" -> disk.data.toDouble,
      "disk.log_bytes" -> disk.log.toDouble, "disk.delta_log_bytes" -> disk.deltaLog.toDouble)
    out.layers("tables.files_live") = r.allTypes.map { rt =>
      val t = ResourceTable(spark, s"$db/$rt.parquet")
      if (t.exists) t.fileManifest(t.latestVersion.get).size else 0
    }.sum.toDouble
    val (vs, bad) = time(Verify.tables(spark, db, r.allTypes, state))
    bad.foreach(out.mismatch)
    out.notes += f"verified ${r.allTypes.size} tables and their Delta logs in $vs%.2f s"
  }

  private def streamingLayers(ps: Seq[Progress], rec: RecordingMetrics.Snapshot): Unit = {
    val n = math.max(1, ps.size)
    def mean(k: String) = ps.map(_.durations.getOrElse(k, 0L)).sum / 1000.0 / n
    val withData = math.max(1L, rec.batches)
    out.layers ++= Seq(
      "sources.input_rows" -> ps.map(_.inputRows).sum.toDouble,
      "sources.get_batch_s" -> (mean("getBatch") + mean("latestOffset")),
      "pipeline.add_batch_s" -> mean("addBatch"),
      "streaming.trigger_s" -> mean("triggerExecution"),
      "streaming.query_planning_s" -> mean("queryPlanning"),
      "streaming.wal_commit_s" -> mean("walCommit"),
      "streaming.batches" -> ps.size.toDouble,
      "tables.recorded_merge_s" -> rec.mergeS / withData,
      "tables.recorded_delete_s" -> rec.deleteS / withData,
      "tables.recorded_upkeep_s" -> rec.upkeepS / withData)
  }

  /** Per-layer numbers of a traced replay: write stages per replayed
    * batch, read stages per read, and Spark work per root span of
    * `sparkUnit` ("batch" or "read"). `untracedS` is the untraced time of
    * the same batches and reads.
    */
  private def traceLayers(tr: Tracer, sparkUnit: String, untracedS: Double): Unit = {
    val b = math.max(1, tr.named("batch").size).toDouble
    val reads = math.max(1, tr.named("read").size).toDouble
    def per(name: String) = tr.total(name) / b
    def ratio(a: Double, d: Double) = if (d > 0) a / d else 0.0
    val roots = tr.named(sparkUnit)
    val n = math.max(1, roots.size).toDouble
    val wall = roots.map(_.durS).sum
    val tracedS = (tr.named("batch") ++ tr.named("read")).map(_.durS).sum
    val w = roots.map(_.work)
    out.layers ++= Seq(
      "sources.batch_s" -> per("sources.batch"),
      "pipeline.prepare_s" -> per("pipeline.prepare"),
      "pipeline.for_type_s" -> per("pipeline.for_type"),
      "pipeline.dedup_s" -> per("pipeline.dedup"),
      "pipeline.dedup_keep_ratio" ->
        ratio(tr.sum("pipeline.dedup", "rows_out"), tr.sum("pipeline.dedup", "rows_in")),
      "fhir.encode_s" -> per("fhir.encode"),
      "fhir.encode_rows_in" -> tr.sum("fhir.encode", "rows_in") / b,
      "fhir.encode_rows_out" -> tr.sum("fhir.encode", "rows_out") / b,
      "fhir.json_bytes_parsed" -> tr.sum("fhir.encode", "json_bytes") / b,
      "tables.upsert_s" -> per("tables.upsert"),
      "tables.delete_s" -> per("tables.delete"),
      "tables.upkeep_s" -> per("tables.upkeep"),
      "tables.export_s" -> per("tables.export"),
      "tables.files_rewritten_per_batch" -> tr.sum("tables.upsert", "files_rewritten") / b,
      "tables.rows_rewritten_per_row_upserted" ->
        ratio(tr.sum("tables.upsert", "rows_written"), tr.sum("tables.upsert", "rows_upserted")),
      "tables.commit_log_bytes" ->
        ratio(tr.sum("tables.upsert", "commit_log_bytes"), tr.sum("tables.upsert", "commits")),
      "tables.delta_log_bytes" ->
        ratio(tr.sum("tables.export", "delta_log_bytes"), tr.named("tables.export").size),
      "tables.snapshot_resolve_s" -> tr.total("tables.snapshot_resolve") / reads,
      "tables.files_scanned" -> tr.sum("tables.prune_info", "files_scanned") / reads,
      "tables.files_in_snapshot" -> tr.sum("tables.prune_info", "files_in_snapshot") / reads,
      "tables.planning_s" -> w.map(_.planningS).sum / n,
      "spark.jobs" -> w.map(_.jobs).sum / n,
      "spark.stages" -> w.map(_.stages).sum / n,
      "spark.tasks" -> w.map(_.tasks).sum / n,
      "spark.task_s" -> w.map(_.taskS).sum / n,
      "spark.shuffle_read_bytes" -> w.map(_.shuffleRead).sum / n,
      "spark.shuffle_write_bytes" -> w.map(_.shuffleWrite).sum / n,
      "spark.output_bytes" -> w.map(_.output).sum / n,
      "spark.spill_bytes" -> w.map(_.spill).sum / n,
      "spark.parallel_efficiency" -> ratio(w.map(_.taskS).sum, wall * cores),
      "spark.driver_gap_s" -> (wall - w.map(_.busyS).sum) / n,
      "jvm.gc_s" -> w.map(_.gcS).sum / n,
      "trace.overhead_ratio" -> ratio(tracedS, untracedS),
      "trace.spans" -> tr.spans.size.toDouble)
    out.notes += f"trace: ${tr.named("batch").size} batch(es) and ${tr.named("read").size} " +
      f"read(s) replayed in $tracedS%.3f s against $untracedS%.3f s untraced " +
      f"(overhead ratio ${ratio(tracedS, untracedS)}%.3f); span tree in $traceOut"
  }

  private def traced(header: Map[String, String])(body: Tracer => Unit): Tracer = {
    val tr = new Tracer(spark)
    tr.start()
    try tr.span("workload")(body(tr))
    finally tr.stop()
    tr.write(traceOut, header)
    tr
  }

  // ------------------------------------------------------------ backfill

  /** Untimed drain of a small journal from another seed: the first drain
    * in a JVM compiles the whole ingest path and costs several warm ones.
    */
  private def warmUp(work: String): Unit = {
    r.writeJournal(s"$work/warmup-journal",
      new Gen(seed + 1, p).backfill(p.int("backfill.warmup_entries"), minEntries, maxEntries), 1)
    val (wall, qs, _) = r.drain(s"$work/warmup-journal", s"$work/warmup")
    out.failed += failedQueries(qs)
    out.notes += f"warm-up drain $wall%.2f s"
    delete(s"$work/warmup")
  }

  /** Drains a seeded PUT-only journal into empty tables, again and again
    * until the time is up; each drain is a fresh engine on fresh tables.
    */
  def backfill(): Outcome = {
    val work = s"${r.work}/backfill"
    val gen = new Gen(seed, p)
    val journal = s"$work/journal"
    r.writeJournal(journal, gen.backfill(p.int("backfill.entries"), minEntries, maxEntries),
      journalFiles)
    val state = gen.state
    val expected = state.live.size.toLong
    warmUp(work)
    out.firstTimedMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + seconds * 1000000000L
    val walls, rates, skews = mutable.ArrayBuffer.empty[Double]
    val visible = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[Progress]
    val recs = mutable.ArrayBuffer.empty[RecordingMetrics.Snapshot]
    var db = ""
    while (walls.isEmpty || System.nanoTime() < deadline) {
      if (db.nonEmpty) delete(db)
      db = s"$work/db-${walls.size}"
      r.progress.clear()
      val t0 = System.currentTimeMillis()
      val (wall, qs, rec) = r.drain(journal, db)
      org.apache.spark.lakebench.Bus.drain(spark.sparkContext)
      val snap = rec.snapshot
      val committed = snap.written.values.sum
      if (committed != expected) out.mismatch(s"backfill drain ${walls.size}: committed $committed != $expected")
      out.failed += failedQueries(qs)
      walls += wall
      rates += committed / wall
      val ps = r.progress.of(queryNames(qs))
      progress ++= ps
      recs += snap
      out.attempted += ps.size
      // the resources of a query's types become visible when that query
      // commits its last batch: one sample per query and drain
      val perQuery = qs.map(q => ps.filter(_.query == q.name))
      perQuery.foreach(_.map(_.commitMs).maxOption.foreach(done => visible += (done - t0) / 1000.0))
      skews += Stats.skew(perQuery.map(_.map(_.durations.getOrElse("addBatch", 0L)).sum.toDouble))
    }
    out.e2e("throughput_per_s") = Stats.median(rates.toSeq)
    val lat = out.timing("query_committed_after_drain_start", visible.toSeq)
    out.e2e("latency_p50_s") = lat.p50
    out.e2e("latency_tail_s") = lat.tail
    out.notes += s"drains=${walls.size} entries_per_drain=$expected " +
      s"drain_s=${walls.map(w => f"$w%.2f").mkString(",")}"
    streamingLayers(progress.toSeq, recs.last)
    out.layers("streaming.fanout_skew") = Stats.median(skews.toSeq)
    finish(db, state)

    if (trace) {
      val replayDb = s"$work/replay"
      traced(Map("workload" -> "backfill", "seed" -> seed.toString)) { tr =>
        r.replayBatch(tr, FileBundleSource.batch(spark, journal), 0L, replayDb,
          Settings().upkeepInterval, Settings().vacuumRetentionHours * 3600 * 1000)
        out.attempted += 1
      }.pipe(tr => traceLayers(tr, "batch", Stats.median(walls.toSeq)))
      Verify.tables(spark, replayDb, r.allTypes, state).foreach(m => out.mismatch(s"replay: $m"))
    }
    out
  }

  // --------------------------------------------------------------- churn

  /** Open-loop live traffic at a fixed rate against pre-loaded tables. */
  def churn(): Outcome = {
    val work = s"${r.work}/churn"
    val tickMs = p.int("churn.tick_ms")
    val warmTicks = p.int("churn.warmup_s") * 1000 / tickMs
    val timedTicks = seconds * 1000 / tickMs
    val (gen, preload, ticks) = churnGen(warmTicks + timedTicks)
    r.writeJournal(s"$work/journal", preload, journalFiles)
    val db = s"$work/db"
    val (build, _) = time(r.drain(s"$work/journal", db))
    out.notes += f"set-up: table build $build%.2f s"
    // the traced replay starts from a copy of the pre-loaded tables
    val replayDb = s"$work/replay"
    if (trace) copy(db, replayDb)

    val stream = r.memoryStream()
    val rec = new RecordingMetrics
    r.progress.clear()
    val qs = graft.streaming.Engine.start(stream.toDF(), r.settings(db, upkeep, retentionH), rec)
    val names = queryNames(qs)
    // tick k is due at start + k * tickMs; the generator never waits for
    // the engine, and records how late it ran
    val start = System.currentTimeMillis() + 200
    val offsets = new Array[Long](ticks.size)
    val lateness = new Array[Long](ticks.size)
    val records = ticks.zipWithIndex.map { case (t, k) => r.records(t, start + k.toLong * tickMs) }
    val gen0 = new Thread(() => records.indices.foreach { k =>
      val due = start + k.toLong * tickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      offsets(k) = stream.addData(records(k)).json.toLong
      lateness(k) = System.currentTimeMillis() - due
    }, "lakebench-generator")
    gen0.setDaemon(true)
    out.firstTimedMs = start + warmTicks.toLong * tickMs
    gen0.start()
    gen0.join()
    try qs.foreach(_.processAllAvailable())
    finally qs.foreach(_.stop())
    org.apache.spark.lakebench.Bus.drain(spark.sparkContext)
    out.failed += failedQueries(qs)

    val ps = r.progress.of(names)
    val commits = ps.map(_.commit)
    val timed = (warmTicks until ticks.size).map(k => (offsets(k), start + k.toLong * tickMs))
    val fresh = Stats.freshness(timed, commits, names)
    if (fresh.size != timed.size) out.mismatch(s"churn: ${timed.size - fresh.size} ticks never committed")
    val f = out.timing("freshness", fresh)
    out.e2e("latency_p50_s") = f.p50
    out.e2e("latency_tail_s") = f.tail
    val entries = (warmTicks until ticks.size).map(k => ticks(k).filterNot(_.malformed).map(_.entries.size).sum).sum
    val span = timed.zip(fresh).map { case ((_, due), fr) => due + fr * 1000 }.max - timed.head._2
    out.e2e("throughput_per_s") = entries / (span / 1000.0)
    val timedPs = ps.filter(_.startMs + 1 >= out.firstTimedMs)
    out.attempted += ps.size
    streamingLayers(timedPs, rec.snapshot)
    out.layers("streaming.fanout_skew") = Stats.fanoutSkew(timed.map(_._1), commits, names)
    out.notes += f"generator lateness max ${lateness.drop(warmTicks).max / 1000.0}%.3f s"
    out.notes += f"rate=${p.int("churn.rate_entries_per_s")} entries/s offered, " +
      f"${out.e2e("throughput_per_s")}%.1f committed/s; batches=${ps.size}"
    finish(db, gen.state)

    if (trace) {
      // replay the Observation query's batch boundaries on the copy of
      // the pre-loaded tables, within a time budget
      val ends = commits.filter(_.query == qs(r.configured.indexOf("Observation")).name)
        .map(_.endOffset).filter(_ >= 0).distinct.sorted
      val budget = System.nanoTime() + 2L * seconds * 1000000000L
      var prev = -1L
      var replayed = 0
      traced(Map("workload" -> "churn", "seed" -> seed.toString)) { tr =>
        ends.iterator.zipWithIndex.takeWhile(_ => System.nanoTime() < budget).foreach { case (end, i) =>
          val batch = offsets.indices.filter(k => offsets(k) > prev && offsets(k) <= end)
            .flatMap(records(_))
          r.replayBatch(tr, r.wire(batch), i.toLong, replayDb, upkeep, retentionH * 3600 * 1000)
          prev = end
          replayed = offsets.count(_ <= end)
          out.attempted += 1
        }
      }.pipe { tr =>
        val lastEnd = prev
        val busy = Trace.unionMs(ps.filter(_.endOffset <= lastEnd).map(e => (e.startMs, e.commitMs))) / 1000.0
        traceLayers(tr, "batch", busy)
      }
      Verify.tables(spark, replayDb, r.allTypes, churnGen(replayed)._1.state)
        .foreach(m => out.mismatch(s"replay: $m"))
    }
    out
  }

  // ------------------------------------------------------------ read_mix

  /** Closed-loop reads, with no writes, on tables built from a backlog
    * and then changed by a fixed prefix of churn traffic (updates,
    * in-batch repeats, deletes), so the layout is the one live operation
    * leaves. One client repeats a fixed cycle of lookups, aggregates and
    * joins whose targets are drawn from the seed.
    */
  def readMix(): Outcome = {
    import Workloads._
    val work = s"${r.work}/read_mix"
    val g = new Gen(seed, p, "read_mix.type_mix")
    r.writeJournal(s"$work/journal",
      g.backfill(p.int("read_mix.table_entries"), minEntries, maxEntries), journalFiles)
    val churnJournal = s"$work/churn-journal"
    r.writeJournal(churnJournal, Seq.fill(p.int("read_mix.churn_entries") / tickEntries)(
      g.churnTick(tickEntries, churnMix)).flatten, 1)
    val db = s"$work/db"
    val replayDb = s"$work/replay"
    val (build, _) = time(r.applyJournal(s"$work/journal", db, 0L))
    // the traced run replays the churn batch on the tables as they were
    // before it
    if (trace) copy(db, replayDb)
    val rec = new RecordingMetrics
    val (churnS, _) = time(r.applyJournal(churnJournal, db, 1L, rec))
    val snap = rec.snapshot
    out.layers ++= Seq("tables.recorded_merge_s" -> snap.mergeS,
      "tables.recorded_delete_s" -> snap.deleteS, "tables.recorded_upkeep_s" -> snap.upkeepS)
    out.notes += f"set-up: table build $build%.2f s, churn batch $churnS%.2f s"
    val state = g.state
    val liveByType = Seq("Observation", "Patient").map(t => t -> state.liveOf(t).toIndexedSeq).toMap
    val rnd = new SplittableRandom(seed * 31 + 7)
    // every cycle holds the same lookups by type and by absent id, so a
    // run's lookup median does not move with how its random draws split
    val lookups = p.int("read_mix.lookups_per_cycle")
    val patients = math.round(lookups * p.double("read_mix.patient_lookup_share")).toInt
    val absent = math.round(lookups * p.double("read_mix.absent_lookup_share")).toInt
    val cycle = Seq.tabulate(lookups)(i =>
        (if (i < patients) "Patient" else "Observation", absent > 0 && i % (lookups / absent) == 0)) ++
      Seq.fill(p.int("read_mix.aggregates_per_cycle"))(("aggregate", false)) ++
      Seq.fill(p.int("read_mix.joins_per_cycle"))(("join", false))
    var n = 0
    def nextRead(): Read = {
      n += 1
      cycle((n - 1) % cycle.size) match {
        case (t @ ("Observation" | "Patient"), isAbsent) =>
          val id =
            if (isAbsent) f"${rnd.nextLong()}%016x"
            else liveByType(t)(rnd.nextInt(liveByType(t).size)).id
          Lookup(t, id, state.live.get(s"$t/$id"))
        case ("aggregate", _) =>
          val st = Gen.statuses("Observation")
          Aggregate(st(rnd.nextInt(st.size)))
        case _ =>
          val cs = Gen.codes("Observation")
          Join(cs(rnd.nextInt(cs.size))._1)
      }
    }
    def table(t: String) = ResourceTable(spark, s"$db/$t.parquet")
    val code = col("code.coding").getItem(0).getField("code")
    def filterOf(op: Read) = op match {
      case Lookup(_, id, _) => col("id") === id
      case Aggregate(st) => col("status") === st
      case Join(c) => code === c
    }
    def tableOf(op: Read) = op match {
      case Lookup(t, _, _) => t
      case _ => "Observation"
    }
    def resolve(op: Read) = op match {
      case _: Lookup => table(tableOf(op)).read(filterOf(op))
      case _ => table(tableOf(op)).read()
    }
    def execute(op: Read, df: org.apache.spark.sql.DataFrame): Boolean = op match {
      case Lookup(_, _, want) =>
        val got = df.select(col("meta.versionId"), col("resource_json")).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        got == want.map(w => (w.version.toString, w.json)).toSeq
      case Aggregate(st) =>
        val got = df.filter(col("status") === st).groupBy(code.as("c"))
          .agg(count(lit(1)), sum(col("valueQuantity.value"))).collect()
          .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
        val want = liveByType("Observation").filter(_.status == st).groupBy(_.code)
          .map { case (c, rs) => c -> (rs.size.toLong, BigDecimal(rs.map(_.cents).sum, 2)) }
        got == want
      case Join(c) =>
        val obs = df.filter(code === c)
        val pat = table("Patient").read()
        val got = obs.join(pat, obs("subject.reference") === concat(lit("Patient/"), pat("id")))
          .groupBy(pat("gender")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val patients = liveByType("Patient").map(x => x.id -> x.gender).toMap
        val want = liveByType("Observation").filter(_.code == c).flatMap(o => patients.get(o.subject))
          .groupBy(identity).map { case (g, gs) => g -> gs.size.toLong }
        got == want
    }
    def run(op: Read): Boolean =
      try execute(op, resolve(op)) catch {
        case scala.util.control.NonFatal(e) =>
          out.notes += s"${op.kind} failed: ${e.getMessage}"
          false
      }

    // untimed warm-up cycles with their own targets, then the timed
    // sequence starts over at the beginning of a cycle
    val warm = Seq.fill(cycle.size * p.int("read_mix.warmup_cycles"))(nextRead())
    warm.foreach(op => if (!run(op)) out.mismatch(s"warm-up ${op.kind} $op answered wrong"))

    out.firstTimedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val done = mutable.ArrayBuffer.empty[(Read, Double)]
    while (System.nanoTime() < deadline) {
      val op = nextRead()
      val (s, ok) = time(run(op))
      out.attempted += 1
      if (!ok) out.mismatch(s"${op.kind} $op answered wrong")
      done += ((op, s))
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    out.e2e("throughput_per_s") = done.size / elapsed
    def kind(k: String) = done.filter(_._1.kind == k).map(_._2).toSeq
    val lk = out.timing("lookup", kind("lookup"))
    out.e2e("latency_p50_s") = lk.p50
    out.e2e("latency_tail_s") = lk.tail
    Seq("aggregate", "join").foreach { k =>
      val xs = kind(k)
      if (xs.nonEmpty) out.layers(s"read.${k}_p50_s") = out.timing(k, xs).p50
    }
    out.layers("read.lookup_p50_s") = lk.p50
    out.notes += f"reads=${done.size} in $elapsed%.2f s"
    finish(db, state)

    if (trace) {
      val budget = System.nanoTime() + 2L * seconds * 1000000000L
      var untraced = churnS
      traced(Map("workload" -> "read_mix", "seed" -> seed.toString)) { tr =>
        r.replayBatch(tr, FileBundleSource.batch(spark, churnJournal), 1L, replayDb,
          Settings().upkeepInterval, Settings().vacuumRetentionHours * 3600 * 1000)
        out.attempted += 1
        done.iterator.zipWithIndex.takeWhile(_ => System.nanoTime() < budget).foreach { case ((op, s), i) =>
          untraced += s
          tr.span("read", i.toLong, tableOf(op)) {
            val df = tr.span("tables.snapshot_resolve")(resolve(op))
            tr.span("tables.prune_info") {
              val (kept, total) = table(tableOf(op)).pruneInfo(filterOf(op))
              tr.count("files_scanned", kept)
              tr.count("files_in_snapshot", total)
            }
            val ok = tr.span(s"read.${op.kind}")(execute(op, df))
            out.attempted += 1
            if (!ok) out.mismatch(s"traced ${op.kind} $op answered wrong")
          }
        }
      }.pipe(tr => traceLayers(tr, "read", untraced))
      Verify.tables(spark, replayDb, r.allTypes, state).foreach(m => out.mismatch(s"replay: $m"))
    }
    out
  }
}

object Workloads {
  private sealed trait Read { def kind: String }
  private final case class Lookup(rtype: String, id: String, want: Option[Res]) extends Read {
    def kind = "lookup"
  }
  private final case class Aggregate(status: String) extends Read { def kind = "aggregate" }
  private final case class Join(code: String) extends Read { def kind = "join" }
}
