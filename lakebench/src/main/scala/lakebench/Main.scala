package lakebench

import graft.streaming.{Engine, Settings}
import org.apache.spark.sql.SparkSession

/** Metric names and units, in the order BENCHMARK.json lists them. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_s" -> "s",
    "latency_tail_s" -> "s",
    "stored_bytes_per_live_byte" -> "ratio")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.input_rows" -> "count", "sources.get_batch_s" -> "s", "sources.batch_s" -> "s",
    "pipeline.prepare_s" -> "s", "pipeline.for_type_s" -> "s", "pipeline.dedup_s" -> "s",
    "pipeline.dedup_keep_ratio" -> "ratio", "pipeline.add_batch_s" -> "s",
    "fhir.encode_s" -> "s", "fhir.encode_rows_in" -> "count", "fhir.encode_rows_out" -> "count",
    "fhir.json_bytes_parsed" -> "bytes",
    "tables.upsert_s" -> "s", "tables.delete_s" -> "s", "tables.export_s" -> "s",
    "tables.upkeep_s" -> "s", "tables.recorded_merge_s" -> "s",
    "tables.recorded_delete_s" -> "s", "tables.recorded_upkeep_s" -> "s",
    "tables.files_rewritten_per_batch" -> "count",
    "tables.rows_rewritten_per_row_upserted" -> "ratio",
    "tables.commit_log_bytes" -> "bytes", "tables.delta_log_bytes" -> "bytes",
    "tables.files_live" -> "count",
    "tables.snapshot_resolve_s" -> "s", "tables.files_scanned" -> "count",
    "tables.files_in_snapshot" -> "count", "tables.planning_s" -> "s",
    "disk.data_bytes" -> "bytes", "disk.log_bytes" -> "bytes", "disk.delta_log_bytes" -> "bytes",
    "streaming.trigger_s" -> "s", "streaming.query_planning_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.batches" -> "count",
    "streaming.fanout_skew" -> "ratio",
    "read.lookup_p50_s" -> "s", "read.aggregate_p50_s" -> "s", "read.join_p50_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.parallel_efficiency" -> "ratio",
    "spark.driver_gap_s" -> "s", "jvm.gc_s" -> "s", "jvm.retained_heap_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio", "trace.spans" -> "count")

  /** The result line: exactly the keys the benchmark contract names. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, String)], values: collection.Map[String, Double]): String = {
    val ms = metrics.map { case (n, u) =>
      s""""$n":{"value":${values.getOrElse(n, 0.0)},"unit":"$u"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

/** Entry point:
  * {{{
  * Main --workload backfill|churn|read_mix --seed N --seconds S --trace 0|1
  *      --params lakebench/workloads.json --work .bench_build/lakebench
  * }}}
  * Prints every metric by name and unit, then one JSON result line.
  */
object Main {
  val workloads = Seq("backfill", "churn", "read_mix")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val params = Params.load(opt("params"))
    val base = new java.io.File(opt("work")).getAbsolutePath
    val work = s"$base/run-$workload-$seed-${ProcessHandle.current.pid}"
    val traceOut = s"$base/traces/$workload-seed$seed.json"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val cores = Runtime.getRuntime.availableProcessors
    val base0 = Settings(master = s"local[$cores]", warehouseDir = s"$work/warehouse")
    // the session as EngineMain builds it (no Hive jars here)
    val spark = (Engine.sessionConfigs(base0) -
        "spark.sql.catalogImplementation" - "spark.hive.metastore.uris")
      .foldLeft(SparkSession.builder()
        .master(base0.master)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        // a small status store, so the heap left after a run does not
        // depend on where the store's eviction cycle happens to be
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "500")
        .config("spark.sql.ui.retainedExecutions", "50")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val runner = new Runner(spark, params, work)
      val w = new Workloads(runner, seed, seconds, trace, traceOut)
      val out = workload match {
        case "backfill" => w.backfill()
        case "churn" => w.churn()
        case "read_mix" => w.readMix()
      }
      out.e2e("setup_s") = (out.firstTimedMs - jvmStart) / 1000.0
      params.describe(workload).foreach(l => println(s"param $l"))
      out.notes.foreach(n => println(s"note $n"))
      out.mismatches.foreach(m => println(s"MISMATCH $m"))
      Metrics.endToEnd.foreach { case (n, u) => println(s"metric $n ${out.e2e.getOrElse(n, 0.0)} $u") }
      Metrics.perLayer.filter(m => out.layers.contains(m._1)).foreach { case (n, u) =>
        println(s"layer $n ${out.layers(n)} $u")
      }
      val correct = out.mismatches.isEmpty && out.failed == 0
      println(s"verdict ${if (correct) "correct" else "WRONG"} " +
        s"attempted=${out.attempted} failed=${out.failed}")
      println(Metrics.resultLine(correct, out.attempted, out.failed,
        if (trace) Metrics.perLayer else Metrics.endToEnd,
        if (trace) out.layers else out.e2e))
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    }
  }
}
