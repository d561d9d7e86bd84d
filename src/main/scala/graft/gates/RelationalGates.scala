package graft.gates

import graft.ops.{Curation, Dedup, Multimodal, Similarity, TextStats, TopK}
import graft.tables.ResourceTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry._

/** General relational SQL gates: TPC-H shapes, joins,
  * windows, set ops, grouping, subqueries, scalar/date functions and
  * null semantics (SURVEY.md §2.9 + the 55 general-SQL gates).
  *
  * Split out of SparkEntry (round 17, verdict item 8) with ZERO
  * behavior change: same keys, same lambdas, same oracle SQL —
  * SparkEntry composes the per-domain maps back into the driver
  * contract. Helpers/fixtures stay in [[graft.SparkEntry]] (imported
  * above) so memoization remains JVM-global across domains.
  */
private[graft] object RelationalGates {

  /** Shadows the imported loader for THIS file's pure-query gates:
    * fact-sized tables (the optimizer size estimate is the file size)
    * spread to cluster width right after the read — the testdata
    * files are single-row-group and therefore one-task scans, so the
    * scan+filter+partial-agg stage of every lineitem/orders query
    * otherwise runs on one core (guide §2.5). Dimension tables and
    * broadcast sides pass through untouched; this file builds no
    * fixtures and writes no tables, so none of the cached-partition /
    * small-file-commit hazards of a blanket spread apply here.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Par.spreadIfLarge(graft.SparkEntry.t(s, dir, name))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1).cast(DecimalType(18, 2)) -
               col("l_discount").cast(DecimalType(18, 2))))
            .cast(DoubleType).as("sum_disc_price"))
    }),


    // ---- §2.2 P7/P9 filter + projection (pushdown surface) ----
    "q_filter_proj" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast(DateType) <
          lit(java.sql.Date.valueOf("1996-01-01")))
        .filter(col("l_quantity") >= 30)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")
    }),


    // ---- §2.5/§2.6 join + agg (the MERGE-shaped equi-join) ----
    "q_join_agg" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("o_totalprice")).as("total_price"))
    }),


    // ---- broadcast join explicit (small dim side) ----
    "q_broadcast_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part").filter(col("p_size") <= 10)
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
    }),


    // ---- running/analytic window frame ----
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("running_cnt"),
        sum(col("value").cast(DecimalType(18, 6))).over(w)
          .cast(DoubleType).as("running_val"))
    }),


    // ---- event-time RANGE frame: sliding 60 s per-user activity
    //      window (range frames size by VALUE distance, not row
    //      count — order within the frame is irrelevant) ----
    "q_window_range" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc)
        .rangeBetween(-60000000L, 0L) // 60 s of microseconds back
      eventsUs(s, dir).select(
        col("event_id"), col("user_id"), col("ts_us"),
        count(lit(1)).over(w).as("cnt_60s"),
        max(col("value")).over(w).as("max_60s"))
    }),


    // ---- bounded + EMPTY ROWS frames (round 19, promoted from
    //      WindowFuzzSpec): pure-following / pure-preceding frames
    //      are empty at partition edges — aggregates must surface
    //      NULL (min/max) there, and the bounded trailing count must
    //      shrink at the head. Order by the unique o_orderkey, so
    //      every frame is bit-deterministic ----
    "q_window_frames" -> ((s, dir) => {
      // % 1000, not % 10: the bucket count IS the window stage's
      // max parallelism at scale — 10 buckets would serialize a
      // 100 TB shuffle onto 10 tasks; 1000 keeps frames exercised at
      // every test SF (15–150 rows/bucket) AND the stage wide
      val p = col("o_custkey") % 1000
      def w = Window.partitionBy(p).orderBy(col("o_orderkey").asc)
      t(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        count(lit(1)).over(w.rowsBetween(-2, 0)).as("cnt3"),
        max(col("o_orderkey")).over(w.rowsBetween(1, 3)).as("mx_f"),
        min(col("o_orderkey")).over(w.rowsBetween(-5, -2)).as("mn_p"))
    }),


    // ---- preserved-side residual ON predicate (round 19, promoted
    //      from JoinFuzzSpec): `ON key AND a.pred` on the PRESERVED
    //      side of a LEFT join null-extends the failing rows instead
    //      of filtering them — the exact opposite of the same
    //      predicate in WHERE, and the shape optimizers get wrong
    //      when EliminateOuterJoin over-fires ----
    "q_outer_join_residual" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey") &&
          (o("o_orderkey") % 3) === 0, "left")
        .select(o("o_orderkey").as("k"),
          coalesce(c("c_nationkey"), lit(-1L)).cast(LongType).as("nat"),
          when(c("c_custkey").isNull, 0L).otherwise(1L).as("matched"))
    }),


    // ---- per-group top-n (rank window) ----
    "q_topn_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),


    // ---- as-of join: latest purchase at-or-before each event ----
    "q_asof_join" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
        .select("event_id", "user_id", "ts_us", "event_type")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"),
          col("ts_us").as("p_ts_us"), col("event_id"))
      graft.ops.AsOf.joinAsOf(
        ev, purchases, key = "user_id",
        leftTime = "ts_us", rightTime = "p_ts_us",
        rightCols = Map("p_event_id" -> "purchase_id",
          "p_ts_us" -> "purchase_ts_us"),
        tieBreak = "event_id")
    }),


    // ---- interval containment join: views attributed to 2-hour
    //      purchase windows via the bin-bucketed equi-join (a bare
    //      range-predicate join would plan as a nested loop; see
    //      ops/IntervalJoin for the 100 TB shape) ----
    "q_interval_join" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val points = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val iv = ev.filter(col("event_type") === "purchase" &&
          col("event_id") % 40 === 0)
        .select(col("event_id").as("iv_id"), col("ts_us").as("start_us"),
          (col("ts_us") + 7200000000L).as("end_us"))
      graft.ops.IntervalJoin.joinPointsToIntervals(
          points, "ts_us", iv, "start_us", "end_us", binUs = 7200000000L)
        .select("event_id", "user_id", "ts_us", "iv_id", "start_us")
    }),


    // ---- the SAME semantics written as a NAIVE range join, fixed by
    //      the Catalyst optimizer rule (plans/RangeBinJoinRule): the
    //      rule rewrites the nested-loop shape into the bin equi-join
    //      inside this query, and the driver's oracle hash-verifies
    //      the rewrite end-to-end ----
    "q_interval_join_rule" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      // the rule reads binUs at optimization; a clone scopes it to
      // this query
      val c = org.apache.spark.sql.graftbridge.SessionBridge.pinned(s,
        Map("graft.rules.intervalJoin.binUs" -> "7200000000"))
      val ev = eventsUs(c, dir)
      val points = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val iv = ev.filter(col("event_type") === "purchase" &&
          col("event_id") % 40 === 0)
        .select(col("event_id").as("iv_id"),
          col("ts_us").as("start_us"),
          (col("ts_us") + 7200000000L).as("end_us"))
      // the naive join Catalyst would nested-loop; the rule fixes it
      points.join(iv,
          col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
        .select("event_id", "user_id", "ts_us", "iv_id", "start_us")
    }),


    // ---- analytic window functions: lag/lead/first/last/ntile ----
    "q_window_analytics" -> ((s, dir) => {
      val order = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val frame = order.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      events(s, dir).select(
        col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(order).as("prev_id"),
        lead(col("event_id"), 1).over(order).as("next_id"),
        first(col("event_id")).over(frame).as("first_id"),
        last(col("event_id")).over(frame).as("last_id"),
        ntile(4).over(order).as("quartile"))
    }),


    // ---- left outer join with null-group aggregation ----
    "q_left_join" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val bigOrders = t(s, dir, "orders")
        .filter(col("o_totalprice") >= 200000)
      customer.join(bigOrders,
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big_orders"),
          dsum(coalesce(col("o_totalprice"), lit(0.0))).as("big_total"))
    }),


    // ---- the SQL entry point itself + correlated scalar subquery:
    //      identical SQL text runs on spark.sql and the oracle ----
    "q_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT o_orderkey,
          |  (SELECT count(*) FROM lineitem_v l
          |   WHERE l.l_orderkey = o.o_orderkey) AS n_items,
          |  (SELECT sum(l_quantity) FROM lineitem_v l
          |   WHERE l.l_orderkey = o.o_orderkey) AS total_qty
          |FROM orders_v o""".stripMargin)
    }),


    // ---- §2.4 A3 distinct ----
    "q_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
    }),


    // ---- §2.9 order by + limit (deterministic tie-break) ----
    "q_topn" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    }),


    // ---- metadata-only aggregates (Delta "metadata-only query"):
    //      COUNT(*) and numeric MIN/MAX answered from the commit
    //      manifest alone — zero data files opened, no Spark job.
    //      The pre-DV version's min/max is provably exact; the head
    //      (DV-bearing) min/max must REFUSE (the extremal row may be
    //      dead) — the refusal is part of the contract and the gate ----
    "q_stats_agg" -> ((s, dir) => {
      import s.implicits._
      val tab = dvDemo(s, dir)
      val head = tab.latestVersion.get
      val v0 = head - 2 // before the two DV deletes
      val (mn, mx) = tab.statsMinMax("c_custkey", v0)
        .getOrElse(sys.error("pre-DV min/max must be metadata-answerable"))
      Seq((tab.statsCount(v0), tab.statsCount(),
          mn.asInstanceOf[Long], mx.asInstanceOf[Long],
          tab.statsMinMax("c_custkey").isEmpty))
        .toDF("cnt_v0", "cnt_live", "min_key", "max_key",
          "head_minmax_refused")
    }),


    // ---- left semi join (EXISTS) ----
    "q_semi_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val bigLines = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      orders.join(bigLines, col("o_orderkey") === col("l_orderkey"),
          "left_semi")
        .select("o_orderkey", "o_totalprice")
    }),


    // ---- set op: INTERSECT ----
    "q_intersect" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderstatus") === "O").select("o_custkey")
        .intersect(
          orders.filter(col("o_orderstatus") === "F").select("o_custkey"))
    }),


    // ---- set op: UNION ALL ----
    "q_union_all" -> ((s, dir) => {
      t(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), lit("supplier").as("kind"))
        .unionByName(t(s, dir, "customer")
          .select(col("c_custkey").as("id"), lit("customer").as("kind")))
    }),


    // ---- §2.8 event-time tumbling window (streaming-shaped agg) ----
    "q_time_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 6)))
            .cast(DoubleType).as("sum_val"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("cnt"), col("sum_val"))
    }),


    // ---- time-series resample + gap-fill: hourly activity grid per
    //      user over each user's own active span, missing hours
    //      zero-filled (sequence+explode up-sample, then a left join
    //      back to the observed buckets) ----
    "q_resample" -> ((s, dir) => {
      val hourUs = 3600000000L
      val ev = eventsUs(s, dir).select(col("user_id"),
        (col("ts_us") - (col("ts_us") % hourUs)).as("hr_us"))
      val counts = ev.groupBy(col("user_id"), col("hr_us"))
        .agg(count(lit(1)).as("cnt"))
      val slots = counts.groupBy(col("user_id"))
        .agg(min(col("hr_us")).as("lo"), max(col("hr_us")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("hr_us"))
      slots.join(counts, Seq("user_id", "hr_us"), "left")
        .select(col("user_id"), col("hr_us"),
          coalesce(col("cnt"), lit(0L)).as("cnt"),
          col("cnt").isNull.as("is_gap"))
    }),


    // ---- gap-fill with LOCF interpolation: hourly max(value) per
    //      user, missing hours carry the last observed value forward
    //      (last(ignoreNulls) over a rows window) ----
    "q_gap_ffill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourUs = 3600000000L
      val ev = eventsUs(s, dir).select(col("user_id"),
        (col("ts_us") - (col("ts_us") % hourUs)).as("hr_us"), col("value"))
      val hourly = ev.groupBy(col("user_id"), col("hr_us"))
        .agg(max(col("value")).as("v"))
      val slots = hourly.groupBy(col("user_id"))
        .agg(min(col("hr_us")).as("lo"), max(col("hr_us")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("hr_us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr_us"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      slots.join(hourly, Seq("user_id", "hr_us"), "left")
        .select(col("user_id"), col("hr_us"),
          last(col("v"), ignoreNulls = true).over(w).as("v_ffill"),
          col("v").isNull.as("is_filled"))
        .filter(col("user_id") < 200)
    }),


    // ---- §2.2 P1 casts across types ----
    "q_cast_types" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(LongType).as("qty_int"),
        col("l_orderkey").cast(StringType).as("key_str"),
        col("l_shipdate").cast(DateType).cast(StringType).as("ship_date"))
    }),


    // ---- scalar expressions: CASE WHEN / coalesce / floor ----
    "q_case_expr" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_discount") >= 0.05, "hi")
          .when(col("l_discount") >= 0.02, "mid")
          .otherwise("lo").as("disc_band"),
        floor(col("l_extendedprice")).as("price_floor"),
        coalesce(lit(null).cast(StringType), col("l_returnflag")).as("rf"))
    }),


    // ---- salted skew join: hot keys scatter over (key, salt); result
    //      must be row-identical to the plain join ----
    "q_skew_join" -> ((s, dir) => {
      import graft.ops.Skew
      Skew.saltedJoin(
          t(s, dir, "lineitem").withColumnRenamed("l_suppkey", "suppkey"),
          t(s, dir, "supplier")
            .select(col("s_suppkey").as("suppkey"), col("s_nationkey")),
          key = "suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
    }),


    // ---- UNPIVOT/melt (wide → long) ----
    "q_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount")
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")),
          variableColumnName = "metric", valueColumnName = "val")
    }),


    // ---- explicit GROUPING SETS with grouping_id ----
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
          |  count(*) AS cnt
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
          .stripMargin)
    }),


    // ---- correlated EXISTS through the SQL entry point ----
    "q_exists_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_ex")
      t(s, dir, "orders").createOrReplaceTempView("orders_ex")
      s.sql(
        """SELECT c_custkey, c_name FROM customer_ex c
          |WHERE EXISTS (SELECT 1 FROM orders_ex o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)"""
          .stripMargin)
    }),


    // ---- higher-order array functions (filter/transform/aggregate) --
    "q_hof_arrays" -> ((s, dir) => {
      val ts = split(trim(col("text")), "\\s+")
      t(s, dir, "documents").select(col("doc_id"),
        size(filter(ts, x => length(x) > 3)).cast(LongType).as("n_long"),
        aggregate(ts, lit(0L), (a, x) => a + length(x).cast(LongType))
          .as("total_len"))
    }),


    // ---- exact interpolated percentiles per group ----
    "q_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"))
    }),


    // ---- approximate percentile sketch (GK-style mergeable summary).
    //      The sketch internals aren't replayable in DuckDB, so the
    //      gate emits the GK rank-guarantee DECISION instead of the
    //      raw estimate: approx_percentile(q, acc) must return a
    //      dataset element whose rank interval [count(<v), count(≤v)]
    //      intersects [(q−ε)·N, (q+ε)·N] with ε = 1/acc — decidable
    //      from two conditional counts, exactly the published
    //      contract. The oracle replays N and TRUE literals, so any
    //      estimator regression hash-fails the gate ----
    "q_approx_percentile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val eps = 1.0 / 1000
      val ap = li.groupBy(col("l_returnflag")).agg(
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("ap90"))
      li.join(broadcast(ap), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < col("ap50"), 1L).otherwise(0L))
            .as("_lt50"),
          sum(when(col("l_quantity") <= col("ap50"), 1L).otherwise(0L))
            .as("_le50"),
          sum(when(col("l_extendedprice") < col("ap90"), 1L).otherwise(0L))
            .as("_lt90"),
          sum(when(col("l_extendedprice") <= col("ap90"), 1L).otherwise(0L))
            .as("_le90"))
        .select(col("l_returnflag"), col("n"),
          (col("_lt50").cast(DoubleType) <=
            (lit(0.5) + lit(eps)) * col("n").cast(DoubleType) &&
            col("_le50").cast(DoubleType) >=
              (lit(0.5) - lit(eps)) * col("n").cast(DoubleType))
            .as("ap50_ok"),
          (col("_lt90").cast(DoubleType) <=
            (lit(0.9) + lit(eps)) * col("n").cast(DoubleType) &&
            col("_le90").cast(DoubleType) >=
              (lit(0.9) - lit(eps)) * col("n").cast(DoubleType))
            .as("ap90_ok"))
    }),


    // ---- explicit shuffle-hash join strategy (no sort phase; the
    //      right physical choice when both sides are large but one
    //      hashes comfortably per partition) ----
    "q_shuffle_hash_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders").hint("shuffle_hash")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"))
    }),


    // ---- rollup (hierarchical grouping sets) ----
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
    }),


    // ---- cube (full grouping-set lattice) ----
    "q_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("o_totalprice")).as("total_price"))
    }),


    // ---- pivot (wide conditional aggregation) ----
    "q_pivot" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "view", "signup", "purchase", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),


    // ---- scalar function batch: strings, dates, math ----
    "q_scalar_funcs" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        lpad(col("o_orderkey").cast(StringType), 10, "0").as("key_pad"),
        regexp_extract(col("o_orderpriority"), "(\\d+)", 1).as("prio_num"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        abs(col("o_totalprice") * -1).as("abs_price"),
        sqrt(col("o_totalprice")).as("sqrt_price"),
        (col("o_totalprice") * col("o_totalprice")).as("price_sq"),
        length(col("o_orderpriority")).cast(LongType).as("prio_len"))
    }),


    // ---- null semantics: coalesce / nullif / null-safe equality ----
    "q_null_semantics" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
          lit("REDACTED")).as("seg_coalesced"),
        (nullif(col("c_mktsegment"), lit("BUILDING")) <=> lit(null))
          .as("is_building"))
    }),


    // ---- approx distinct (HLL++) made hash-decidable: DuckDB can't
    //      replay Spark's sketch, so the gate emits the exact counts
    //      plus booleans asserting the estimate sits inside 3·rsd of
    //      exact (default rsd = 0.05; the estimate is deterministic,
    //      the 3× headroom keeps the gate stable across SFs while
    //      still hash-failing on any estimator regression) ----
    "q_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_partkey")).as("_ap"),
          approx_count_distinct(col("l_orderkey")).as("_ao"))
        .select(col("exact_parts"), col("exact_orders"),
          (abs(col("_ap") - col("exact_parts")).cast(DoubleType) <=
            lit(0.15) * col("exact_parts").cast(DoubleType))
            .as("approx_parts_ok"),
          (abs(col("_ao") - col("exact_orders")).cast(DoubleType) <=
            lit(0.15) * col("exact_orders").cast(DoubleType))
            .as("approx_orders_ok"))
    }),


    // ---- anti join (NOT EXISTS shape — the complement of q_semi_join) --
    "q_anti_join" -> ((s, dir) => {
      val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_totalprice")
    }),


    // ---- EXCEPT (set difference, null-safe distinct semantics) ----
    "q_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    }),


    // ---- FULL OUTER join with unmatched rows on both sides ----
    "q_full_outer" -> ((s, dir) => {
      val bigOrders = t(s, dir, "orders")
        .filter(col("o_totalprice") >= 250000)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val richCust = t(s, dir, "customer")
        .filter(col("c_acctbal") >= 9000)
        .select(col("c_custkey").as("custkey"), col("c_name"))
      richCust.join(bigOrders, Seq("custkey"), "full_outer")
    }),


    // ---- explicit CROSS join (dimension lattice, no key) ----
    "q_cross_join" -> ((s, dir) => {
      t(s, dir, "nation").crossJoin(t(s, dir, "region"))
        .select(col("n_name"), col("r_name"),
          (col("n_regionkey") === col("r_regionkey")).as("is_home"))
    }),


    // ---- several DISTINCT aggregates in one GROUP BY (Expand plan) ----
    "q_count_distinct_multi" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("cnt"))
    }),


    // ---- conditional aggregation: count_if / FILTER-style sums /
    //      boolean any/all ----
    "q_conditional_agg" -> ((s, dir) => {
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(expr("count_if(o_totalprice > 150000)").as("n_big"),
          dsum(when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(lit(0))).as("f_total"),
          expr("bool_or(o_orderstatus = 'P')").as("any_pending"),
          expr("bool_and(o_totalprice > 0)").as("all_positive"))
    }),


    // ---- ranking distributions: rank / dense_rank / percent_rank /
    //      cume_dist / ntile (unique order key ⇒ deterministic) ----
    "q_rank_dist" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).as("quartile"))
    }),


    // ---- value windows over explicit ROWS frames: first/last/nth ----
    "q_first_last" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val w3 = w.rowsBetween(-2, 0)
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      events(s, dir).select(col("user_id"), col("event_id"),
        first(col("event_id")).over(w3).as("first_in_3"),
        last(col("event_id")).over(w3).as("last_in_3"),
        nth_value(col("event_id"), 2).over(wf).as("second_id"))
    }),


    // ---- global total sort (range-partitioned exchange + sort) ----
    "q_global_sort" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast(DateType).cast(StringType).as("ship_date"))
    }),


    // ---- calendar functions: trunc/extract/diff/last_day/add_months --
    "q_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast(DateType)
          .cast(StringType).as("month_start"),
        quarter(col("o_orderdate")).as("qtr"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        dayofweek(col("o_orderdate")).as("dow"),
        datediff(lit(java.sql.Date.valueOf("1998-12-31")),
          col("o_orderdate").cast(DateType)).as("days_to_end"),
        last_day(col("o_orderdate").cast(DateType)).cast(StringType)
          .as("month_end"),
        add_months(col("o_orderdate").cast(DateType), 3).cast(StringType)
          .as("plus3m"))
    }),


    // ---- moment statistics through exact decimal sums: stddev and
    //      correlation recomputed from (n, Σx, Σx², Σxy) so the double
    //      math is bit-identical across engines ----
    "q_stats_formula" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_st")
      s.sql(statsFormulaSql("lineitem_st"))
    }),


    // ---- TPC-H Q3 shape: selective 3-table join → agg → top-k.
    //      customer is the small filtered side (broadcast); lineitem
    //      never shuffles before the aggregate ----
    "q_tpch_q3" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").cast(DateType) <
          lit(java.sql.Date.valueOf("1997-06-01")))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast(DateType) >
          lit(java.sql.Date.valueOf("1997-06-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast(DateType).cast(StringType)
            .as("order_date"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) -
             col("l_discount").cast(DecimalType(18, 2))))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),


    // ---- TPC-H Q5 shape: six-table snowflake join with the dimension
    //      chain broadcast and one shuffle on the fact key ----
    // ---- TPC-H Q18 shape (large-volume customers): HAVING over a
    //      lineitem rollup, then joins back to orders/customer. The
    //      big-order key set is tiny after the HAVING (<1% of orders),
    //      so both enrichment joins broadcast it — one full lineitem
    //      aggregation, zero fact-table shuffles beyond it ----
    "q_tpch_q18" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      t(s, dir, "orders")
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
    }),


    // ---- event funnel (view → click → purchase, order-respecting):
    //      stage k's first timestamp must not precede stage k-1's.
    //      Three conditional min-aggregations chained on user_id — one
    //      shuffle key throughout, so every join after the first
    //      reuses the partitioning (or broadcasts the shrinking
    //      stage sets) ----
    "q_funnel" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_type"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("vt"))
      val c = ev.join(v, "user_id")
        .filter(col("event_type") === "click" && col("ts_us") >= col("vt"))
        .groupBy("user_id").agg(min("ts_us").as("ct"))
      val p = ev.join(c, "user_id")
        .filter(col("event_type") === "purchase" && col("ts_us") >= col("ct"))
        .groupBy("user_id").agg(min("ts_us").as("pt"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("vt"),
          coalesce(col("ct"), lit(-1L)).as("ct"),
          coalesce(col("pt"), lit(-1L)).as("pt"),
          when(col("pt").isNotNull, 3).when(col("ct").isNotNull, 2)
            .otherwise(1).cast(LongType).as("stage"))
    }),


    "q_tpch_q5" -> ((s, dir) => {
      val asia = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nat = t(s, dir, "nation")
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      val cust = t(s, dir, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").cast(DateType) >=
            lit(java.sql.Date.valueOf("1996-01-01")) &&
          col("o_orderdate").cast(DateType) <
            lit(java.sql.Date.valueOf("1997-01-01")))
      val sup = t(s, dir, "supplier")
      t(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust.select("c_custkey", "c_nationkey", "n_name")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) -
             col("l_discount").cast(DecimalType(18, 2))))
          .cast(DoubleType).as("revenue"))
    }),


    // ---- TPC-H Q6 shape: forecasting-revenue-change — a pure
    //      scan+filter+agg with every predicate pushed to parquet;
    //      per-row double product cast to DECIMAL before the sum so
    //      the total is partition-order independent ----
    "q_tpch_q6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast(DateType) >= lit("1996-01-01") &&
          col("l_shipdate").cast(DateType) < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
            .cast(DecimalType(18, 4)))
          .cast(DoubleType).as("revenue"))),


    // ---- MapType construction + lookup (scalar outputs only) ----
    "q_map_ops" -> ((s, dir) => {
      val m = map(lit("type"), col("event_type"),
        lit("user"), col("user_id").cast(StringType))
      t(s, dir, "events").select(col("event_id"),
        element_at(m, "type").as("m_type"),
        element_at(m, "user").as("m_user"),
        element_at(m, "missing").as("m_missing"),
        size(m).cast(LongType).as("m_size"))
    }),


    // ---- array aggregation: collect_list/collect_set canonicalized by
    //      sort_array + array_join so the output stays scalar and
    //      order-independent (collect_* ordering is nondeterministic
    //      under parallel merge — never emit the raw array) ----
    "q_array_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 200)
        .groupBy(col("o_custkey"))
        .agg(
          array_join(sort_array(collect_list(col("o_orderstatus"))), ",")
            .as("statuses"),
          array_join(sort_array(collect_set(col("o_orderpriority"))), ",")
            .as("priorities"),
          count(lit(1)).as("n_orders"))
    }),


    // ---- LATERAL correlated subquery join (per-customer top-3 orders
    //      by price; Catalyst decorrelates to a ranked window) ----
    "q_lateral" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_lat")
      t(s, dir, "orders").createOrReplaceTempView("orders_lat")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer_lat c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
          |WHERE c.c_custkey % 7 = 0""".stripMargin)
    }),


    // ---- DISJUNCTIVE-correlation EXISTS: legal ANSI that stock Spark
    //      4.1.2 internal-errors on (None.get in decorrelation —
    //      SubfuzzRepro seed 397, BASELINE.md round 18); executes here
    //      via graft.plans.DisjunctiveCorrelationRewrite's OR-of-
    //      conjunctive-branches split. Two genuinely correlated
    //      branches plus one empty uncorrelated arm, so the result
    //      depends on BOTH correlated paths, not on a vacuous
    //      always-true disjunct ----
    "q_disjunctive_exists" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_dx")
      t(s, dir, "orders").createOrReplaceTempView("orders_dx")
      s.sql(
        """SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg
          |FROM customer_dx
          |WHERE EXISTS (SELECT 1 FROM orders_dx
          |  WHERE (o_custkey = customer_dx.c_custkey
          |         AND (o_orderkey % 7) = 2)
          |     OR (o_custkey = customer_dx.c_custkey
          |         AND (o_orderkey % 5) = 1)
          |     OR o_totalprice < 0)
          |  AND (c_custkey % 3) <> 0""".stripMargin)
    }),


    // ---- disjunctive-correlation IN (same cliff, ListQuery path):
    //      the uncorrelated arm contributes a real value-set, the
    //      correlated arm narrows per-row — IN's value-set semantics
    //      make the branch overlap harmless by construction ----
    "q_disjunctive_in" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_din")
      t(s, dir, "orders").createOrReplaceTempView("orders_din")
      s.sql(
        """SELECT CAST(c_custkey AS BIGINT) AS k
          |FROM customer_din
          |WHERE c_custkey IN (SELECT o_custkey FROM orders_din
          |  WHERE o_custkey = customer_din.c_custkey
          |    AND (o_orderkey % 7) = 2 OR (o_orderkey % 11) = 3)
          |  AND (c_custkey % 2) = 0""".stripMargin)
    }),

  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,


    "q_filter_proj" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) < DATE '1996-01-01' AND l_quantity >= 30""".stripMargin,


    "q_join_agg" ->
      """SELECT n_name, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,


    "q_broadcast_join" ->
      """SELECT p_brand, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 10 GROUP BY p_brand""".stripMargin,


    "q_skew_join" ->
      """SELECT s_nationkey, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,


    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |             l_extendedprice, l_discount FROM lineitem)
        |  ON l_quantity, l_extendedprice, l_discount
        |  INTO NAME metric VALUE val)""".stripMargin,


    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
        .stripMargin,


    "q_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)"""
        .stripMargin,


    "q_hof_arrays" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(ts, t -> length(t) > 3)) AS BIGINT) AS n_long,
        |  CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS total_len
        |FROM (SELECT doc_id,
        |        regexp_split_to_array(trim(text), '\s+') AS ts
        |      FROM documents)""".stripMargin,


    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,


    "q_window_running" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS running_cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_val
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,


    "q_window_range" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  count(*) OVER w AS cnt_60s,
        |  max(value) OVER w AS max_60s
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC
        |             RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin,


    "q_window_frames" ->
      """SELECT o_orderkey AS k,
        |  count(*) OVER (PARTITION BY o_custkey % 1000
        |    ORDER BY o_orderkey ASC
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt3,
        |  CAST(max(o_orderkey) OVER (PARTITION BY o_custkey % 1000
        |    ORDER BY o_orderkey ASC
        |    ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS mx_f,
        |  CAST(min(o_orderkey) OVER (PARTITION BY o_custkey % 1000
        |    ORDER BY o_orderkey ASC
        |    ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING) AS BIGINT) AS mn_p
        |FROM orders""".stripMargin,


    "q_outer_join_residual" ->
      """SELECT a.o_orderkey AS k,
        |  CAST(COALESCE(b.c_nationkey, -1) AS BIGINT) AS nat,
        |  CAST(CASE WHEN b.c_custkey IS NULL THEN 0 ELSE 1 END
        |       AS BIGINT) AS matched
        |FROM orders a LEFT JOIN customer b
        |  ON a.o_custkey = b.c_custkey AND (a.o_orderkey % 3) = 0"""
        .stripMargin,


    "q_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 2""".stripMargin,


    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",


    "q_scalar_subquery" ->
      """SELECT o_orderkey,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey) AS n_items,
        |  (SELECT sum(l_quantity) FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey) AS total_qty
        |FROM orders o""".stripMargin,


    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  e.event_type, p.event_id AS purchase_id,
        |  epoch_us(p.ts) AS purchase_ts_us
        |FROM events e ASOF LEFT JOIN (
        |  SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,


    "q_window_analytics" ->
      """SELECT user_id, event_id,
        |  lag(event_id, 1) OVER w AS prev_id,
        |  lead(event_id, 1) OVER w AS next_id,
        |  first_value(event_id) OVER wf AS first_id,
        |  last_value(event_id) OVER wf AS last_id,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
        |  wf AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,


    "q_left_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big_orders,
        |  CAST(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS big_total
        |FROM customer LEFT JOIN (
        |  SELECT * FROM orders WHERE o_totalprice >= 200000) o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,


    "q_topn" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,


    // metadata-only aggregates: the manifest's answer must equal the
    // data's answer (count pre/post DV, exact numeric min/max), and
    // the DV-bearing head must refuse min/max
    "q_stats_agg" ->
      """SELECT count(*) AS cnt_v0,
        |  count(*) FILTER (WHERE NOT (c_custkey % 7 = 0
        |                           OR c_custkey % 11 = 0)) AS cnt_live,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key,
        |  TRUE AS head_minmax_refused
        |FROM customer""".stripMargin,


    "q_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)""".stripMargin,


    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,


    "q_union_all" ->
      """SELECT s_suppkey AS id, 'supplier' AS kind FROM supplier
        |UNION ALL
        |SELECT c_custkey AS id, 'customer' AS kind FROM customer""".stripMargin,


    "q_time_window" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2""".stripMargin,


    "q_cast_types" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) AS qty_int,
        |  CAST(l_orderkey AS VARCHAR) AS key_str,
        |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date
        |FROM lineitem""".stripMargin,


    "q_case_expr" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_discount >= 0.05 THEN 'hi'
        |       WHEN l_discount >= 0.02 THEN 'mid'
        |       ELSE 'lo' END AS disc_band,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  coalesce(NULL, l_returnflag) AS rf
        |FROM lineitem""".stripMargin,


    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,


    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,


    "q_pivot" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS "click",
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS "view",
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS "signup",
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS "purchase",
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS "error"
        |FROM events GROUP BY user_id""".stripMargin,


    "q_scalar_funcs" ->
      """SELECT o_orderkey,
        |  substring(o_orderpriority, 1, 1) AS prio_code,
        |  lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key_pad,
        |  regexp_extract(o_orderpriority, '(\d+)', 1) AS prio_num,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  abs(o_totalprice * -1) AS abs_price,
        |  sqrt(o_totalprice) AS sqrt_price,
        |  o_totalprice * o_totalprice AS price_sq,
        |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len
        |FROM orders""".stripMargin,


    "q_null_semantics" ->
      """SELECT c_custkey,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'REDACTED')
        |    AS seg_coalesced,
        |  nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL
        |    AS is_building
        |FROM customer""".stripMargin,


    "q_anti_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)""".stripMargin,


    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,


    "q_full_outer" ->
      """SELECT coalesce(c.custkey, o.custkey) AS custkey, c.c_name,
        |  o.n_orders
        |FROM (SELECT c_custkey AS custkey, c_name FROM customer
        |      WHERE c_acctbal >= 9000) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey AS custkey, count(*) AS n_orders FROM orders
        |  WHERE o_totalprice >= 250000 GROUP BY o_custkey) o
        |  USING (custkey)""".stripMargin,


    "q_cross_join" ->
      """SELECT n_name, r_name, n_regionkey = r_regionkey AS is_home
        |FROM nation CROSS JOIN region""".stripMargin,


    "q_count_distinct_multi" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,


    "q_conditional_agg" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_totalprice > 150000) AS n_big,
        |  CAST(sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice
        |       ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS f_total,
        |  bool_or(o_orderstatus = 'P') AS any_pending,
        |  bool_and(o_totalprice > 0) AS all_positive
        |FROM orders GROUP BY o_orderpriority""".stripMargin,


    "q_rank_dist" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin,


    "q_first_last" ->
      """SELECT user_id, event_id,
        |  first_value(event_id) OVER w3 AS first_in_3,
        |  last_value(event_id) OVER w3 AS last_in_3,
        |  nth_value(event_id, 2) OVER wf AS second_id
        |FROM events
        |WINDOW w3 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""
        .stripMargin,


    "q_global_sort" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date
        |FROM lineitem
        |ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC""".stripMargin,


    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR)
        |    AS month_start,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE),
        |       DATE '1998-12-31') AS INTEGER) AS days_to_end,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
        |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
        |       AS VARCHAR) AS plus3m
        |FROM orders""".stripMargin,


    "q_stats_formula" -> statsFormulaSql("lineitem"),


    "q_map_ops" ->
      """SELECT event_id, event_type AS m_type,
        |  CAST(user_id AS VARCHAR) AS m_user,
        |  CAST(NULL AS VARCHAR) AS m_missing,
        |  CAST(2 AS BIGINT) AS m_size
        |FROM events""".stripMargin,


    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-06-01'
        |  AND CAST(l_shipdate AS DATE) > DATE '1997-06-01'
        |GROUP BY l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,


    "q_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,


    "q_funnel" ->
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |v AS (
        |  SELECT user_id, min(t) AS vt FROM u
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT u.user_id, min(t) AS ct FROM u JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND t >= vt GROUP BY u.user_id),
        |p AS (
        |  SELECT u.user_id, min(t) AS pt FROM u JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND t >= ct GROUP BY u.user_id)
        |SELECT v.user_id, v.vt,
        |  COALESCE(c.ct, -1) AS ct,
        |  COALESCE(p.pt, -1) AS pt,
        |  CAST(CASE WHEN p.pt IS NOT NULL THEN 3
        |            WHEN c.ct IS NOT NULL THEN 2
        |            ELSE 1 END AS BIGINT) AS stage
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,


    "q_tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY n_name""".stripMargin,


    "q_tpch_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,


    "q_interval_join" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  iv.iv_id, iv.start_us
        |FROM events e
        |JOIN (SELECT event_id AS iv_id, epoch_us(ts) AS start_us,
        |        epoch_us(ts) + 7200000000 AS end_us
        |      FROM events
        |      WHERE event_type = 'purchase' AND event_id % 40 = 0) iv
        |  ON epoch_us(e.ts) >= iv.start_us AND epoch_us(e.ts) < iv.end_us
        |WHERE e.event_type = 'view'""".stripMargin,


    "q_interval_join_rule" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  iv.iv_id, iv.start_us
        |FROM events e
        |JOIN (SELECT event_id AS iv_id, epoch_us(ts) AS start_us,
        |        epoch_us(ts) + 7200000000 AS end_us
        |      FROM events
        |      WHERE event_type = 'purchase' AND event_id % 40 = 0) iv
        |  ON epoch_us(e.ts) >= iv.start_us AND epoch_us(e.ts) < iv.end_us
        |WHERE e.event_type = 'view'""".stripMargin,


    "q_gap_ffill" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hr_us, value
        |  FROM events),
        |hourly AS (
        |  SELECT user_id, hr_us, max(value) AS v FROM e GROUP BY 1, 2),
        |spans AS (
        |  SELECT user_id, min(hr_us) AS lo, max(hr_us) AS hi
        |  FROM hourly GROUP BY 1),
        |slots AS (
        |  SELECT user_id, CAST(h AS BIGINT) AS hr_us
        |  FROM spans, LATERAL unnest(
        |    range(lo, hi + 3600000000, 3600000000)) AS t(h))
        |SELECT s.user_id, s.hr_us,
        |  last_value(h.v IGNORE NULLS) OVER (PARTITION BY s.user_id
        |    ORDER BY s.hr_us ROWS UNBOUNDED PRECEDING) AS v_ffill,
        |  h.v IS NULL AS is_filled
        |FROM slots s
        |LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hr_us = h.hr_us
        |WHERE s.user_id < 200""".stripMargin,


    "q_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS approx_parts_ok, TRUE AS approx_orders_ok
        |FROM lineitem""".stripMargin,


    "q_approx_percentile" ->
      """SELECT l_returnflag, count(*) AS n,
        |  TRUE AS ap50_ok, TRUE AS ap90_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,


    "q_resample" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hr_us
        |  FROM events),
        |counts AS (
        |  SELECT user_id, hr_us, count(*) AS cnt FROM e GROUP BY 1, 2),
        |spans AS (
        |  SELECT user_id, min(hr_us) AS lo, max(hr_us) AS hi
        |  FROM counts GROUP BY 1),
        |slots AS (
        |  SELECT user_id, CAST(h AS BIGINT) AS hr_us
        |  FROM spans, LATERAL unnest(
        |    range(lo, hi + 3600000000, 3600000000)) AS t(h))
        |SELECT s.user_id, s.hr_us,
        |  COALESCE(c.cnt, 0) AS cnt, c.cnt IS NULL AS is_gap
        |FROM slots s
        |LEFT JOIN counts c ON s.user_id = c.user_id AND s.hr_us = c.hr_us""".stripMargin,


    "q_array_agg" ->
      """SELECT o_custkey,
        |  array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses,
        |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
        |    AS priorities,
        |  count(*) AS n_orders
        |FROM orders WHERE o_custkey <= 200
        |GROUP BY o_custkey""".stripMargin,


    "q_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        |WHERE c.c_custkey % 7 = 0""".stripMargin,


    "q_shuffle_hash_join" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,


    "q_disjunctive_exists" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE (o_custkey = customer.c_custkey
        |         AND (o_orderkey % 7) = 2)
        |     OR (o_custkey = customer.c_custkey
        |         AND (o_orderkey % 5) = 1)
        |     OR o_totalprice < 0)
        |  AND (c_custkey % 3) <> 0""".stripMargin,


    "q_disjunctive_in" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |  WHERE o_custkey = customer.c_custkey
        |    AND (o_orderkey % 7) = 2 OR (o_orderkey % 11) = 3)
        |  AND (c_custkey % 2) = 0""".stripMargin,

  )
}
