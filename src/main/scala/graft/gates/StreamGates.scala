package graft.gates

import graft.ops.{Curation, Dedup, Multimodal, Similarity, TextStats, TopK}
import graft.streaming.StatefulOps
import graft.tables.ResourceTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry._

/** Structured-Streaming gates: windows/watermarks, stateful
  * ops, stream joins, dedup, and the engine's N+1 ingest e2e paths
  * (SURVEY.md §2 T1–T8, S1–S2).
  *
  * Split out of SparkEntry (round 17, verdict item 8) with ZERO
  * behavior change: same keys, same lambdas, same oracle SQL —
  * SparkEntry composes the per-domain maps back into the driver
  * contract. Helpers/fixtures stay in [[graft.SparkEntry]] (imported
  * above) so memoization remains JVM-global across domains.
  */
private[graft] object StreamGates {

  /** Stateful gates pin their streams to 4 shuffle partitions: a
    * stateful operator's cost here is per-partition fixed overhead
    * (state store open/commit/eviction × partitions × sides ×
    * batches), not row throughput. On a real cluster you would size
    * this to the executors.
    */
  private val FewPartitions = Map("spark.sql.shuffle.partitions" -> "4")

  private val drainOnce: StreamingQuery => Unit = _.processAllAvailable()

  /** Runs one streaming query into a memory sink and returns the
    * sink's table, materialized before the query goes away. `build`
    * gets a clone of `s` with `pins` set and returns the query's
    * DataFrame, planned on that clone, plus how to feed the running
    * query. The query snapshots the clone's conf at start, and `s`
    * never sees the pins.
    */
  private def memorySink(s: SparkSession, mode: String,
      pins: Map[String, String] = Map.empty)(
      build: SparkSession => (DataFrame, StreamingQuery => Unit))
      : DataFrame = {
    val c = SessionBridge.pinned(s, pins)
    val (df, feed) = build(c)
    val name = s"gate_sink_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try feed(q) finally q.stop()
    val out = c.table(name).cache()
    out.count()
    out
  }

  /** events.parquet as a file stream with `ts` cast to `tsType`. The
    * file-stream source needs a directory/glob base: a glob matching
    * exactly events.parquet keeps the parent as basePath.
    */
  private def eventStream(c: SparkSession, dir: String,
                          tsType: DataType): DataFrame = {
    val raw = t(c, dir, "events")
    val stream = c.readStream.schema(raw.schema)
      .parquet(s"$dir/events.parque[t]")
    if (raw.schema("ts").dataType == LongType)
      stream.withColumn("ts",
        expr("timestamp_micros(ts DIV 1000)").cast(tsType))
    else stream.withColumn("ts", col("ts").cast(tsType))
  }

  /** Hourly per-type event counts over the events file stream. */
  private def hourlyCounts(c: SparkSession, dir: String): DataFrame =
    eventStream(c, dir, TimestampNTZType)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("cnt"))

  /** The view and purchase events of `dir` as two MemoryStreams on
    * `c`, every row added up front. Returns them as
    * (v_id, v_ts_us, user_id, v_ts) and (p_id, p_ts_us, p_user, p_ts),
    * a `sentinel(tsUs)` that adds one user -1 view and purchase, and
    * the newest event time.
    */
  private def viewsAndPurchases(c: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long => Unit, Long) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.sqlContext
    import c.implicits._
    val ev = eventsUs(c, dir)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"))
      .filter(col("event_type").isin("view", "purchase"))
      .collect()
    val views = MemoryStream[(Long, Long, Long)]
    val purch = MemoryStream[(Long, Long, Long)]
    def tup(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    views.addData(ev.filter(_.getString(3) == "view").map(tup).toSeq)
    purch.addData(ev.filter(_.getString(3) == "purchase").map(tup).toSeq)
    val vDf = views.toDF().toDF("v_id", "v_ts_us", "user_id")
      .withColumn("v_ts", expr("timestamp_micros(v_ts_us)"))
    val pDf = purch.toDF().toDF("p_id", "p_ts_us", "p_user")
      .withColumn("p_ts", expr("timestamp_micros(p_ts_us)"))
    def sentinel(ts: Long): Unit = {
      views.addData(Seq((-1L, ts, -1L)))
      purch.addData(Seq((-1L, ts, -1L)))
    }
    (vDf, pDf, sentinel, ev.iterator.map(_.getLong(1)).maxOption
      .getOrElse(0L))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Structured Streaming in the gate: a real streaming query
    //      (parquet file stream → event-time window agg → memory sink,
    //      complete mode) whose final table must equal the batch
    //      oracle — exactly-once stream/batch parity ----
    "q_stream_window" -> ((s, dir) =>
      memorySink(s, "complete") { c => (hourlyCounts(c, dir), drainOnce) }),


    // ---- the SAME streaming window aggregation under the ROCKSDB
    //      state-store provider (+ changelog checkpointing) — the
    //      out-of-core state path: per-key state lives in an embedded
    //      LSM tree bounded by executor disk, not heap, and checkpoint
    //      cost is O(batch) deltas. Drop-in for every stateful op in
    //      this file; shares q_stream_window's oracle — the provider
    //      must not change a single row ----
    "q_stream_rocksdb" -> ((s, dir) =>
      memorySink(s, "complete", StatefulOps.RocksDbState) { c =>
        (hourlyCounts(c, dir), drainOnce)
      }),


    // ---- ARBITRARY STATEFUL STREAMING (Spark 4 transformWithState):
    //      per-key running count/sum over three ordered micro-batches,
    //      one output row per key per batch it appears in. The
    //      StatefulProcessor owns a named ValueState per key in
    //      RocksDB (the API refuses the heap provider) — the custom-
    //      state successor to flatMapGroupsWithState. Integer measure
    //      (floor(value*100)) keeps every fold order-free, so DuckDB
    //      replays the per-batch emissions as cumulative window sums
    //      over the same batch split. MemoryStream feeding is gate
    //      harness, not operator semantics ----
    "q_stream_tws" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), (col("event_id") % 3).as("b"),
          floor(col("value") * 100).cast(LongType).as("m"))
        .collect()
      memorySink(s, "append", StatefulOps.RocksDbState ++ FewPartitions) {
        c =>
          implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.sqlContext
          import c.implicits._
          val stream = MemoryStream[StatefulOps.Contribution]
          (StatefulOps.runningTotals(stream.toDS()).toDF(), q =>
            for (b <- 0L to 2L) {
              stream.addData(ev.filter(_.getLong(1) == b).map(r =>
                StatefulOps.Contribution(r.getString(0), r.getLong(2))).toSeq)
              q.processAllAvailable()
            })
      }
    }),


    // ---- stream-stream LEFT SEMI range join: "views that converted
    //      within 10 minutes", emitted as soon as the match arrives —
    //      no watermark wait for matched rows, state still bounded by
    //      the range condition + watermarks ----
    "q_stream_semi_join" -> ((s, dir) =>
      memorySink(s, "append", FewPartitions) { c =>
        val (vDf, pDf, _, _) = viewsAndPurchases(c, dir)
        (graft.streaming.StreamOps.eventTimeRangeJoin(
          vDf, pDf, "v_ts", "p_ts", col("p_user") === col("user_id"),
          maxDelay = "10 minutes", joinType = "left_semi"), drainOnce)
      }.select(col("v_id"), col("user_id"), col("v_ts_us"))),


    "q_stream_outer_join" -> ((s, dir) =>
      memorySink(s, "append", FewPartitions) { c =>
        val (vDf, pDf, sentinel, maxTs) = viewsAndPurchases(c, dir)
        (graft.streaming.StreamOps.eventTimeRangeJoinOuter(
          vDf, pDf, "v_ts", "p_ts", col("p_user") === col("user_id"),
          maxDelay = "10 minutes"), q => {
          q.processAllAvailable()
          // two sentinel rounds: watermark advances at batch END, and
          // the eviction that releases unmatched rows runs in the NEXT
          // batch
          for (day <- 1 to 2) {
            sentinel(maxTs + day * 86400000000L)
            q.processAllAvailable()
          }
        })
      }.filter(col("user_id") >= 0)
        .select(col("v_id"), col("user_id"), col("v_ts_us"),
          coalesce(col("p_id"), lit(-1L)).as("p_id"),
          coalesce(col("p_ts_us"), lit(-1L)).as("p_ts_us"))),


    // ---- the REAL ingest path in the gate: bundles synthesized from
    //      orders go through BatchProcessor (prepare → dedup → encode
    //      → ResourceTable upsert), then the table is read back; its
    //      id set must equal the relational oracle ----
    "q_ingest_e2e" -> ((s, dir) => {
      // spread BEFORE the bundle synthesis: the nested to_json runs in
      // the scan task, and BundlePipeline.prepare's own spread sits
      // ABOVE this projection — too late for a one-row-group file
      // (profiled: 0.53 s single-task synthesis job). Placement only;
      // dedup/upsert key on id+offset, not row order.
      val bundles = graft.Par.spreadIfLarge(t(s, dir, "orders")).select(
        to_json(struct(array(struct(
          to_json(struct(
            lit("Patient").as("resourceType"),
            col("o_orderkey").cast(StringType).as("id"),
            (col("o_orderstatus") === "O").as("active"))).as("resource"),
          struct(lit("PUT").as("method"),
            concat_ws("/", lit("Patient"), col("o_orderkey")).as("url"))
            .as("request"))).as("entry"))).as("value"),
        lit(0).as("partition"),
        col("o_orderkey").as("offset"))
      val tableDir = java.nio.file.Files
        .createTempDirectory("graft_ingest").toString
      val bp = new graft.pipeline.BatchProcessor(tableDir, upkeepInterval = 0)
      bp.processBatch(
        graft.pipeline.BundlePipeline.prepare(bundles), batchId = 1)
      graft.tables.ResourceTable(s, s"$tableDir/Patient.parquet")
        .read().select(col("id"), col("active"))
    }),


    // ---- T5 as a CORRECTNESS gate (not just ScaleBench-measured):
    //      the engine's real N+1 fan-out — Engine.start over a journal
    //      file source, THREE typed queries (Patient/Observation/
    //      Encounter) plus the default catch-all (Procedure lands
    //      there), Trigger.AvailableNow drain, per-type tables read
    //      back and union-compared against the relational oracle.
    //      PUT-then-DELETE at a higher offset for every 2nd kept key
    //      exercises W1's latest-wins across the fan-out (the analogue
    //      of the reference's only integration assertion,
    //      test_deployment_in_k8s.py:55–60) ----
    "q_fanout_e2e" -> ((s, dir) => {
      import graft.streaming.{Engine, Settings}
      val typeOf = element_at(
        array(lit("Patient"), lit("Observation"), lit("Encounter"),
          lit("Procedure")),
        (col("o_orderkey") % 4 + 1).cast(IntegerType))
      // every 5th order (5 is coprime with the %4 type mapping, so
      // all four types still see traffic): bounded gate cost
      // (the engine e2e is the expensive shape — 4 concurrent queries
      // each scanning the journal and merging; volume adds no proof)
      // spread before the envelope/bundle to_json synthesis (see
      // q_ingest_e2e); journal row order is irrelevant — latest-wins
      // dedup keys on the envelope OFFSET, not file position
      val orders = graft.Par.spreadIfLarge(t(s, dir, "orders"))
        .filter(col("o_orderkey") % 5 === 0)
      def envelope(offset: Column, bundle: Column) =
        to_json(struct(lit("fhir.msg").as("topic"),
          lit(0).as("partition"), offset.as("offset"),
          bundle.as("bundle"))).as("value")
      val puts = orders.select(envelope(col("o_orderkey") * 2,
        to_json(struct(array(struct(
          to_json(struct(typeOf.as("resourceType"),
            col("o_orderkey").cast(StringType).as("id"))).as("resource"),
          struct(lit("PUT").as("method"),
            concat_ws("/", typeOf, col("o_orderkey")).as("url"))
            .as("request"))).as("entry")))))
      val deletes = orders.filter(col("o_orderkey") % 10 === 0)
        .select(envelope(col("o_orderkey") * 2 + 1,
          to_json(struct(array(struct(
            lit(null).cast(StringType).as("resource"),
            struct(lit("DELETE").as("method"),
              concat_ws("/", typeOf, col("o_orderkey")).as("url"))
              .as("request"))).as("entry")))))
      val base = java.nio.file.Files
        .createTempDirectory("graft_fanout").toString
      puts.unionAll(deletes).write.mode("overwrite")
        .text(s"$base/journal")
      val settings = Settings(
        checkpointDir = s"$base/checkpoint",
        deltaDatabaseDir = s"$base/delta",
        resourceTypes = Seq("Patient", "Observation", "Encounter"),
        upkeepInterval = 0,
        triggerAvailableNow = true)
      val queries = Engine.start(
        graft.sources.FileBundleSource.stream(s, s"$base/journal"),
        settings)
      try queries.foreach(_.awaitTermination())
      finally queries.foreach(_.stop())
      Seq("Patient", "Observation", "Encounter", "Procedure").map { rt =>
        graft.tables.ResourceTable(s, s"$base/delta/$rt.parquet")
          .read().select(lit(rt).as("resource_type"), col("id"))
      }.reduce(_ unionAll _)
    }),


    // ---- STREAMING similarity search: a stream of query vectors
    //      scored against the static corpus (stateless stream-static
    //      join) — the exact-threshold baseline of the ANN family,
    //      run through a real streaming query and hash-matched. The
    //      brute-force scan is the semantics here; the LSH/IVF gate
    //      queries are the sub-linear scale paths ----
    "q_stream_ann" -> ((s, dir) =>
      memorySink(s, "append") { c =>
        val emb = t(c, dir, "embeddings")
        val stream = c.readStream.schema(emb.schema)
          .parquet(s"$dir/embeddings.parque[t]")
          .filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 100000).as("q_id"),
            col("embedding").as("q_vec"))
        val corpus = emb.select(col("vec_id").as("c_id"),
          col("embedding").as("c_vec"))
        (stream.join(corpus,
            Similarity.cosine(col("q_vec"), col("c_vec")) >= 0.45)
          .select(col("q_id"), col("c_id")), drainOnce)
      }),


    // ---- STREAMING PQ: a stream of query vectors probes the encoded
    //      static corpus — stateless cell equi-join, exact integer ADC
    //      threshold as the residual condition ----
    "q_stream_pq" -> ((s, dir) =>
      memorySink(s, "append") { c =>
        val emb = t(c, dir, "embeddings")
        val cb = pqMemo.computeIfAbsent(dir, _ => graft.ops.Pq.trainOn(emb))
        val stream = c.readStream.schema(emb.schema)
          .parquet(s"$dir/embeddings.parque[t]")
          .filter(col("vec_id") % 25 === 0)
          .withColumn("vec_id", col("vec_id") + 200000)
        (graft.ops.Pq.adcHitsStream(
          stream, emb, cb, maxAdc = 900000000000L, probes = 2), drainOnce)
      }),


    // ---- STREAMING near-dup against a corpus LSH index: incoming
    //      docs (a simulated re-crawl: corpus docs re-keyed +10000)
    //      probe the banded minhash index as a stateless stream-static
    //      equi-join; candidates are confirmed by exact text equality,
    //      which makes the result exactly oracle-able — an identical
    //      text has an identical signature, so LSH NEVER misses an
    //      exact duplicate ----
    "q_stream_neardup" -> ((s, dir) =>
      memorySink(s, "append", FewPartitions) { c =>
        val docs = t(c, dir, "documents")
        val index = Dedup.bandedIndex(docs, "doc_id", "text")
        val stream = c.readStream.schema(docs.schema)
          .parquet(s"$dir/documents.parque[t]")
          .filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        val cand = Dedup.nearDupAgainstIndex(
          stream, index, "doc_id", "text", minJaccard = 0.5)
        // exact confirm: join the candidate's corpus doc back to its
        // text and compare with the incoming text (both stream-static)
        val corpusText = docs.select(col("doc_id").as("corpus_doc"),
          col("text").as("corpus_text"))
        val inText = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc"),
            col("text").as("in_text"))
        (cand
          .join(corpusText, Seq("corpus_doc"))
          .join(inText, Seq("doc"))
          .filter(col("in_text") === col("corpus_text"))
          .select(col("doc"), col("corpus_doc")), drainOnce)
      // band multiplicity collapses AFTER materialization (a stream
      // can't dropDuplicates unboundedly; the memory table can)
      }.distinct()),


    // ---- gap sessionization (batch form of the stateful op) ----
    "q_sessionize" -> ((s, dir) =>
      graft.ops.Sessionize.byGap(eventsUs(s, dir), gapSeconds = 21600)),


    // ---- the SAME sessions from a REAL streaming query on the
    //      transformWithState API: event-time TIMERS flush idle keys
    //      once the watermark passes last+gap (v2 stateful, RocksDB
    //      state). Time-contiguous batches (cuts extended to strict
    //      ts boundaries so nothing is watermark-late) + a far-future
    //      sentinel key closing the tail — emitted sessions must
    //      equal the batch gap-sessionization relationally ----
    "q_stream_tws_session" -> ((s, dir) => {
      import graft.ops.Sessionize
      val ev = eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id")).collect()
        .map(r => Sessionize.Event(r.getLong(0), r.getLong(1),
          r.getLong(2)))
        .sortBy(e => (e.tsMicros, e.eventId))
      val n = ev.length
      def cutAt(target: Int, floor: Int): Int = {
        var i = math.max(target, floor)
        while (i > 0 && i < n && ev(i).tsMicros == ev(i - 1).tsMicros)
          i += 1
        i
      }
      val c1 = cutAt(n / 3, 1)
      val c2 = cutAt(2 * n / 3, c1)
      memorySink(s, "append", StatefulOps.RocksDbState ++ FewPartitions) {
        c =>
          implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.sqlContext
          import c.implicits._
          val stream = MemoryStream[Sessionize.Event]
          (StatefulOps.sessionizeTws(stream.toDS(), gapSeconds = 21600)
            .toDF(), q => {
            Seq(ev.slice(0, c1), ev.slice(c1, c2), ev.slice(c2, n))
              .foreach { b =>
                stream.addData(b.toSeq)
                q.processAllAvailable()
              }
            // sentinel key far past every last+gap: timers flush the
            // tail sessions; the sentinel's own first session closes on
            // its second event and is filtered back out
            val maxTs = ev.last.tsMicros
            for (d <- 1 to 2) {
              stream.addData(Seq(Sessionize.Event(-1L,
                maxTs + d * 2592000000000L, 0L)))
              q.processAllAvailable()
            }
          })
      }.filter(col("userId") =!= -1L)
        .select(col("userId").as("user_id"),
          col("sessionStartUs").as("session_start_us"),
          col("sessionEndUs").as("session_end_us"),
          col("nEvents").as("n_events"),
          col("firstEventId").as("first_event_id"))
    }),


    // ---- stream ⋈ static-dimension broadcast join (T5-style fan-out
    //      enrichment; the static side never re-scans per batch) ----
    "q_stream_static_join" -> ((s, dir) =>
      memorySink(s, "complete") { c =>
        import c.implicits._
        val raw = t(c, dir, "events")
        val stream = c.readStream.schema(raw.schema)
          .parquet(s"$dir/events.parque[t]")
        val dim = Seq(("click", 1L), ("view", 2L), ("signup", 5L),
          ("purchase", 10L), ("error", 0L)).toDF("event_type", "weight")
        (stream.join(broadcast(dim), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("weight")).as("weighted")),
          drainOnce)
      }),


    // ---- built-in session_window (event-time gap sessions as a
    //      native operator — must agree with the q_sessionize logic) --
    "q_session_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event_id"))
        .select(col("user_id"),
          unix_micros(col("session_window.start").cast(TimestampType))
            .as("session_start_us"),
          col("n_events"), col("first_event_id"))
    }),


    // ---- STREAMING curation: refreshFlags as the foreachBatch state
    //      maintainer of a REAL streaming query — three ordered
    //      micro-batches (two with re-deliveries carrying new text)
    //      fold into the standing flag state as delete+insert change
    //      rows; the stage counts hash-match the oracle's batch
    //      recompute over the final corpus (row-identity of the
    //      final state is proven in CurationSpec's streaming-fold
    //      test, not re-proven in the timed gate).
    //      At 100 TB this is the shape that never re-reads the
    //      corpus: each batch costs O(batch + flag-state scan) ----
    "q_stream_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
      val bx = Curation.benchmarkIndex(
        docs.filter(col("doc_id") % 50 === 0))
      val all = corpus.as[(Long, String)].collect().sortBy(_._1)
      // b0: ids≡0 (mod 3); b1: ids≡1 + RE-delivery of (≡0 ∧ %5=0)
      // with ' v2' text; b2: ids≡2 + re-delivery of (≡1 ∧ %5=0)
      def redeliver(m: Int) = all.filter(r =>
        r._1 % 3 == m && r._1 % 5 == 0).map(r => (r._1, r._2 + " v2"))
      val batches = Seq(
        all.filter(_._1 % 3 == 0).toSeq,
        (all.filter(_._1 % 3 == 1) ++ redeliver(0)).toSeq,
        (all.filter(_._1 % 3 == 2) ++ redeliver(1)).toSeq)
      val empty = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("h", StringType), StructField("f1", BooleanType),
          StructField("f2", BooleanType),
          StructField("clean", BooleanType),
          StructField("f3", BooleanType),
          StructField("f4", BooleanType))))
      var state = empty
      val ms = MemoryStream[(Long, String)]
      val q = ms.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // re-delivered keys leave the state then re-enter with the
          // batch's text — delete+insert is the keyed-upsert CDF shape
          val known = batch.select(col("doc_id"))
            .join(state.select(col("doc_id")), Seq("doc_id"),
              "left_semi")
          val changes = batch
            .withColumn("_change_type", lit("insert"))
            .unionByName(known
              .withColumn("text", lit(null).cast(StringType))
              .select(col("doc_id"), col("text"))
              .withColumn("_change_type", lit("delete")))
          state = Curation.refreshFlags(state, changes, bx,
            "doc_id", "text").localCheckpoint(true)
          ()
        }.start()
      try { batches.foreach { b =>
        ms.addData(b: _*): Unit; q.processAllAvailable() } }
      finally q.stop()
      // stream ≡ batch (row-identical final state) is proven in the
      // spec suite (CurationSpec's streaming-fold test) — the gate
      // times only the streamed fold; the oracle replays the final
      // corpus through the funnel and hash-checks the stage counts
      val out = Curation.stages(state)
        .select(col("stage"), col("n")).cache()
      out.count()
      out
    }),


    // ---- END-TO-END training-data ingest: a REAL streaming query
    //      chains quality gate -> canonical-URL keep-first -> shard
    //      assignment -> INSERT-ONLY merge (zero file rewrites,
    //      exactly-once txn watermarks) into an ACID table, across
    //      three ordered micro-batches; the driver-side batch split
    //      is gate fixture, not engine. Cross-batch keep-first +
    //      in-batch min(doc_id) + doc_id-ordered batches == the
    //      global min-per-canonical the oracle computes ----
    "q_train_ingest_e2e" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val fixture = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val batches = fixture.grouped(
        math.max((fixture.length + 2) / 3, 1)).toSeq
      val tableDir = java.nio.file.Files
        .createTempDirectory("graft_train_ingest").toString
      val tab = graft.tables.ResourceTable(s, s"$tableDir/docs.parquet")
      tab.createIfNotExists(StructType(Seq(
        StructField("canonical_url", StringType),
        StructField("doc_id", LongType),
        StructField("shard", LongType))))
      val ms = MemoryStream[(Long, String)]
      val q = ms.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val page = expr("doc_id DIV 3").cast(StringType)
          val host = concat(lit("h"),
            expr("(doc_id DIV 3) % 50").cast(StringType))
          val url = when(col("doc_id") % 3 === 0,
              concat(lit("https://www."), host, lit(".example.com/p/"),
                page, lit("?utm_source=feed&id="), page))
            .when(col("doc_id") % 3 === 1,
              concat(lit("HTTP://"), host, lit(".EXAMPLE.com/p/"),
                page, lit("?id="), page, lit("&utm_campaign=x")))
            .otherwise(
              concat(lit("https://"), host, lit(".example.com/p/"),
                page, lit("/?id="), page, lit("#sec-2")))
          val kept = TextStats.qualityScore(batch).filter(col("keep"))
            .withColumn("canonical_url", graft.ops.Urls.canonicalize(url))
          val firstPerKey = kept.groupBy(col("canonical_url"))
            .agg(min(col("doc_id")).as("doc_id"))
          val sharded = graft.ops.Sampling
            .shardAssign(firstPerKey, "doc_id", "sh1", nShards = 16)
            .select(col("canonical_url"), col("doc_id"), col("shard"))
          tab.insertIfAbsent(sharded, "canonical_url",
            txn = Some(("train_ingest", batchId)))
          ()
        }.start()
      try batches.foreach { b =>
        ms.addData(b.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      tab.read()
    }),


    // ---- sliding event-time windows (10 min length / 5 min slide):
    //      each event lands in two overlapping windows; watermarked
    //      state is dropped as windows close ----
    "q_stream_sliding" -> ((s, dir) =>
      memorySink(s, "complete", FewPartitions) { c =>
        (graft.streaming.StreamOps.slidingCounts(
            eventStream(c, dir, TimestampType), "ts",
            windowLength = "10 minutes", slide = "5 minutes",
            watermark = "30 minutes")
          .select(unix_micros(col("w_start")).as("w_start_us"), col("cnt")),
          drainOnce)
      }),


    // ---- streaming dedup with watermarked state eviction: duplicate
    //      (user_id, event_type) arrivals within the watermark are
    //      dropped and key state is evicted as the watermark advances —
    //      bounded state on unbounded streams (vs dropDuplicates'
    //      unbounded key set) ----
    "q_stream_dedup" -> ((s, dir) =>
      memorySink(s, "append", FewPartitions) { c =>
        // watermarks require TIMESTAMP (not NTZ); the session is UTC
        // and no time column is output, so the cast cannot skew results
        (graft.streaming.StreamOps.dedupWithinWatermark(
            eventStream(c, dir, TimestampType), "ts",
            Seq("user_id", "event_type"), watermark = "1 hour")
          .select(col("user_id"), col("event_type")), drainOnce)
      }),


    // ---- STREAMING change feed (Delta readChangeFeed-as-a-stream):
    //      the commit log replayed through a checkpointed file source,
    //      one exactly-once micro-batch event per committed version;
    //      the union of every streamed version's row-level changes
    //      hash-matches a per-version SQL reconstruction ----
    "q_change_feed_stream" -> ((s, dir) => {
      val (tab, _, _, _) = versionedDemo(s, dir)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cdfs").toString
      val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val q = graft.streaming.ChangeFeed.start(s, tab.path, "c_custkey",
        ckpt, (v, df) => buf.synchronized {
          buf += df.withColumn("version", lit(v)): Unit
        })
      q.awaitTermination() // AvailableNow: drain the log, then stop
      buf.synchronized(buf.reduce(_.unionByName(_)))
    }),

  )

  def oracleSql: Map[String, String] = Map(

    // stream ≡ batch (final state) is proven in CurationSpec's
    // streaming-fold test; the gate times only the streamed fold. The
    // oracle replays the final corpus (base + the two re-delivery
    // waves' text) through the same funnel CTE chain, so the hash
    // check still pins the streamed counts to a batch recompute's
    "q_stream_funnel" ->
      """WITH corpus0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 AND doc_id % 3 <> 2
        |         THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 50 <> 0),
        |profiles(plang, pidx, stops) AS (VALUES
        |  ('en', 0, ['the','and','of','to','a','in','is','it','that']),
        |  ('de', 1, ['der','die','das','und','ist','nicht','ein','zu']),
        |  ('fr', 2, ['le','la','les','et','est','un','une','que']),
        |  ('es', 3, ['el','la','los','y','es','un','una','que']),
        |  ('zh', 4, ['的','是','了','在','和','有'])),
        |ltoks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM corpus0),
        |s1 AS (
        |  SELECT c.doc_id, c.text FROM corpus0 c JOIN (
        |    SELECT doc_id FROM (
        |      SELECT t.doc_id, p.plang, row_number() OVER (
        |          PARTITION BY t.doc_id ORDER BY
        |          CAST(len(list_filter(t.ts, x -> list_contains(p.stops, x))) AS DOUBLE)
        |            / greatest(len(t.ts), 1) DESC, p.pidx ASC) AS rn
        |      FROM ltoks t CROSS JOIN profiles p)
        |    WHERE rn = 1 AND plang = 'en') e USING (doc_id)),
        |qf AS (
        |  SELECT doc_id,
        |    CAST(length(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x != '')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
        |      AS n_nonspace,
        |    CAST(length(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> lower(x) IN ('the','a','of','and','to','in','is','it')))
        |      AS BIGINT) AS stop_cnt,
        |    CAST(length(list_filter(string_split(text, ''),
        |        x -> regexp_matches(x, '[[:punct:]]'))) AS BIGINT) AS punct_cnt
        |  FROM s1),
        |qs AS (
        |  SELECT doc_id,
        |    -0.6 + 0.12 * (CAST(n_nonspace AS DOUBLE)
        |        / CAST(greatest(n_tokens, 1) AS DOUBLE))
        |      + 2.4 * (CAST(stop_cnt AS DOUBLE)
        |        / CAST(greatest(n_tokens, 1) AS DOUBLE))
        |      - 1.8 * (CAST(punct_cnt AS DOUBLE)
        |        / CAST(greatest(n_chars, 1) AS DOUBLE))
        |      + 0.9 * (CAST(n_tokens AS DOUBLE)
        |        / (CAST(n_tokens AS DOUBLE) + 50.0)) AS score
        |  FROM qf),
        |s2 AS (
        |  SELECT s1.doc_id, s1.text FROM s1
        |  JOIN qs USING (doc_id) WHERE qs.score >= 0.5),
        |s3 AS (
        |  SELECT s2.doc_id, s2.text FROM s2 JOIN (
        |    SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(text)
        |  ) k USING (doc_id)),
        |bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, length(text) - 23),
        |    i -> substr(text, CAST(i AS INT), 25)))) AS sh
        |  FROM documents WHERE doc_id % 50 = 0 AND length(text) >= 25),
        |dirty AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, length(text) - 23),
        |      i -> substr(text, CAST(i AS INT), 25)))) AS sh
        |    FROM s3 WHERE length(text) >= 25)
        |  WHERE sh IN (SELECT sh FROM bsh)),
        |s4 AS (
        |  SELECT doc_id FROM s3
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty))
        |SELECT 'corpus' AS stage, count(*) AS n FROM corpus0
        |UNION ALL SELECT 'lang_en', count(*) FROM s1
        |UNION ALL SELECT 'quality', count(*) FROM s2
        |UNION ALL SELECT 'exact_dedup', count(*) FROM s3
        |UNION ALL SELECT 'decontaminated', count(*) FROM s4"""
        .stripMargin,


    // the streamed pipeline's cross-batch keep-first over doc_id-
    // ordered batches == a global min-per-canonical over kept docs
    "q_train_ingest_e2e" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x != '')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
        |      AS n_nonspace,
        |    CAST(length(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> lower(x) IN ('the','a','of','and','to','in','is','it')))
        |      AS BIGINT) AS stop_cnt,
        |    CAST(length(list_filter(string_split(text, ''),
        |        x -> regexp_matches(x, '[[:punct:]]'))) AS BIGINT) AS punct_cnt
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(n_nonspace AS DOUBLE)
        |      / CAST(greatest(n_tokens, 1) AS DOUBLE) AS awl,
        |    CAST(stop_cnt AS DOUBLE)
        |      / CAST(greatest(n_tokens, 1) AS DOUBLE) AS swr,
        |    CAST(punct_cnt AS DOUBLE)
        |      / CAST(greatest(n_chars, 1) AS DOUBLE) AS pr,
        |    CAST(n_tokens AS DOUBLE)
        |      / (CAST(n_tokens AS DOUBLE) + 50.0) AS lt
        |  FROM f),
        |kq AS (
        |  SELECT doc_id FROM s
        |  WHERE (-0.6 + 0.12 * awl + 2.4 * swr - 1.8 * pr + 0.9 * lt) >= 0.5),
        |u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 'https://www.h' || CAST((doc_id // 3) % 50 AS VARCHAR)
        |        || '.example.com/p/' || CAST(doc_id // 3 AS VARCHAR)
        |        || '?utm_source=feed&id=' || CAST(doc_id // 3 AS VARCHAR)
        |      WHEN 1 THEN 'HTTP://h' || CAST((doc_id // 3) % 50 AS VARCHAR)
        |        || '.EXAMPLE.com/p/' || CAST(doc_id // 3 AS VARCHAR)
        |        || '?id=' || CAST(doc_id // 3 AS VARCHAR) || '&utm_campaign=x'
        |      ELSE 'https://h' || CAST((doc_id // 3) % 50 AS VARCHAR)
        |        || '.example.com/p/' || CAST(doc_id // 3 AS VARCHAR)
        |        || '/?id=' || CAST(doc_id // 3 AS VARCHAR) || '#sec-2'
        |    END AS url
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM kq)),
        |c AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url),
        |      '^[a-z][a-z0-9+.-]*://', '', 'g'),
        |      '^www\.', '', 'g'),
        |      '#.*$', '', 'g'),
        |      '(utm_[a-z]+|fbclid|gclid|msclkid)=[^&#]*&?', '', 'g'),
        |      '[?&]+$', '', 'g'),
        |      '/\?', '?', 'g'),
        |      '/$', '', 'g') AS canonical_url
        |  FROM u),
        |fk AS (
        |  SELECT canonical_url, min(doc_id) AS doc_id
        |  FROM c GROUP BY canonical_url)
        |SELECT canonical_url, doc_id,
        |  ('0x' || substr(md5('sh1:' || CAST(doc_id AS VARCHAR)), 1, 4))
        |    ::BIGINT % 16 AS shard
        |FROM fk""".stripMargin,


    "q_stream_ann" ->
      """SELECT a.vec_id + 100000 AS q_id, b.vec_id AS c_id
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id % 10 = 0
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45"""
        .stripMargin,


    "q_ingest_e2e" ->
      """SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS id,
        |  o_orderstatus = 'O' AS active
        |FROM orders""".stripMargin,


    // N+1 fan-out e2e: every 3rd order becomes a PUT bundle of the
    // type keyed by o_orderkey%4; every 2nd kept key is then DELETEd at a
    // higher offset, so latest-wins drops it from the tables
    "q_fanout_e2e" ->
      """SELECT CASE CAST(o_orderkey % 4 AS INTEGER)
        |    WHEN 0 THEN 'Patient' WHEN 1 THEN 'Observation'
        |    WHEN 2 THEN 'Encounter' ELSE 'Procedure' END
        |    AS resource_type,
        |  CAST(o_orderkey AS VARCHAR) AS id
        |FROM orders
        |WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0""".stripMargin,


    "q_stream_window" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,


    // the RocksDB provider must be row-for-row identical to the
    // default provider — same oracle as q_stream_window
    "q_stream_rocksdb" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,


    // transformWithState running totals: per-batch emissions replay as
    // cumulative window sums over the same event_id%3 batch split
    "q_stream_tws" ->
      """WITH e AS (
        |  SELECT event_type AS key, event_id % 3 AS b,
        |    CAST(floor(value * 100) AS BIGINT) AS m
        |  FROM events),
        |per AS (
        |  SELECT key, b, count(*) AS c, sum(m) AS s
        |  FROM e GROUP BY 1, 2)
        |SELECT key,
        |  row_number() OVER (PARTITION BY key ORDER BY b) AS upd,
        |  CAST(sum(c) OVER (PARTITION BY key ORDER BY b) AS BIGINT)
        |    AS cnt,
        |  CAST(sum(s) OVER (PARTITION BY key ORDER BY b) AS BIGINT)
        |    AS total
        |FROM per""".stripMargin,

    "q_stream_pq" -> PqOracle.streamSql,


    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |              OR ts_us - lag(ts_us) OVER w > 21600000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |numbered AS (
        |  SELECT user_id, event_id, ts_us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |  min(event_id) AS first_event_id
        |FROM numbered GROUP BY user_id, session_id""".stripMargin,


    // the streamed (transformWithState + timers) sessions must equal
    // the batch gap sessionization — same oracle minus session_id
    "q_stream_tws_session" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |              OR ts_us - lag(ts_us) OVER w > 21600000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |numbered AS (
        |  SELECT user_id, event_id, ts_us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_id
        |  FROM flagged)
        |SELECT user_id, min(ts_us) AS session_start_us,
        |  max(ts_us) AS session_end_us, count(*) AS n_events,
        |  min(event_id) AS first_event_id
        |FROM numbered GROUP BY user_id, session_id""".stripMargin,


    "q_stream_static_join" ->
      """SELECT event_type, count(*) AS cnt,
        |  count(*) * CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |    WHEN 'signup' THEN 5 WHEN 'purchase' THEN 10 ELSE 0 END
        |    AS weighted
        |FROM events
        |WHERE event_type IN ('click','view','signup','purchase','error')
        |GROUP BY event_type""".stripMargin,


    "q_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |              OR ts_us - lag(ts_us) OVER w >= 21600000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |numbered AS (
        |  SELECT user_id, event_id, ts_us,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts_us) AS session_start_us,
        |  count(*) AS n_events, min(event_id) AS first_event_id
        |FROM numbered GROUP BY user_id, sid""".stripMargin,


    "q_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",


    // exact-dup recall of the LSH index probe is total (identical
    // text ⇒ identical signature ⇒ every band collides), so the
    // text-confirmed candidate set IS the exact equality join
    "q_stream_neardup" ->
      """SELECT DISTINCT a.doc_id + 10000 AS doc, b.doc_id AS corpus_doc
        |FROM documents a JOIN documents b ON a.text = b.text
        |WHERE a.doc_id % 7 = 0""".stripMargin,


    // each event belongs to the two 10-min windows whose starts are
    // floor(t/5min)*5min and that minus 5min (µs integer arithmetic)
    "q_stream_sliding" ->
      """SELECT ws AS w_start_us, count(*) AS cnt FROM (
        |  SELECT (epoch_us(ts) // 300000000) * 300000000
        |           - k.k * 300000000 AS ws
        |  FROM events, (SELECT unnest([0, 1]) AS k) k)
        |GROUP BY ws""".stripMargin,


    "q_stream_semi_join" ->
      """WITH v AS (
        |  SELECT event_id AS v_id, epoch_us(ts) AS v_ts_us, user_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id, epoch_us(ts) AS p_ts_us, user_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v_id, user_id, v_ts_us FROM v
        |WHERE EXISTS (
        |  SELECT 1 FROM p
        |  WHERE p.user_id = v.user_id
        |    AND p.p_ts_us >= v.v_ts_us
        |    AND p.p_ts_us <= v.v_ts_us + 600000000)""".stripMargin,


    "q_stream_outer_join" ->
      """WITH v AS (
        |  SELECT event_id AS v_id, user_id, epoch_us(ts) AS v_ts_us
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.v_id, v.user_id, v.v_ts_us,
        |  coalesce(p.p_id, -1) AS p_id,
        |  coalesce(p.p_ts_us, -1) AS p_ts_us
        |FROM v LEFT JOIN p ON v.user_id = p.user_id
        |  AND p.p_ts_us >= v.v_ts_us
        |  AND p.p_ts_us <= v.v_ts_us + 600000000""".stripMargin,


    "q_change_feed_stream" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |  'insert' AS _change_type, CAST(1 AS BIGINT) AS version
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |  'update_preimage', 2
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey, upper(c_name), c_nationkey, c_acctbal + 1000,
        |  c_mktsegment, 'update_postimage', 2
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
        |  'NEWSEG', 'insert', 2
        |FROM customer WHERE c_custkey % 100 = 1
        |UNION ALL
        |SELECT c_custkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN upper(c_name)
        |       ELSE c_name END,
        |  c_nationkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000
        |       ELSE c_acctbal END,
        |  c_mktsegment, 'delete', 3
        |FROM customer WHERE c_mktsegment = 'MACHINERY'""".stripMargin,

  )
}
