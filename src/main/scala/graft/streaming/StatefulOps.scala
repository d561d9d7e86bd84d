package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** One keyed contribution: `m` is an integer measure (callers
  * pre-scale doubles — integer folds are partition-order-exact).
  */
case class TwsContribution(key: String, m: Long)

/** Running totals for a key after its n-th update (`upd` counts the
  * micro-batches in which the key appeared — 1-based).
  */
case class TwsTotals(key: String, upd: Long, cnt: Long, total: Long)

private[streaming] case class TwsTotalsState(upd: Long, cnt: Long,
                                             total: Long)

/** Arbitrary stateful streaming on the Spark 4 `transformWithState`
  * API (the successor to `flatMapGroupsWithState`, SPARK-46815): a
  * [[StatefulProcessor]] owns named, individually-encoded state
  * variables (value / list / map, optional TTL) instead of one opaque
  * blob, and the operator REQUIRES the RocksDB state-store provider —
  * which is the 100 TB story here: per-key state lives out-of-core in
  * an embedded LSM tree with changelog checkpointing, so total state
  * is bounded by executor DISK, not heap. The reference has no
  * stateful streaming at all (SURVEY.md §2.8 — north-star extension);
  * this is the custom-state shape its roadmap items (counters,
  * running aggregates over the ingest feed) would need.
  *
  * Everything here folds in INTEGER arithmetic so emitted values are
  * independent of row order within a micro-batch — the property that
  * makes the operator exactly oracle-replayable.
  */
object StatefulOps {

  // top-level-style (object-member, not method-local) case classes
  // still trip Janino on the generated SafeProjection ("private member
  // cannot be accessed") when nested under an object — the aliases
  // below keep the `StatefulOps.Contribution` call surface while the
  // classes themselves live at package level where codegen binds them
  type Contribution = graft.streaming.TwsContribution
  val Contribution = graft.streaming.TwsContribution
  type Totals = graft.streaming.TwsTotals
  val Totals = graft.streaming.TwsTotals
  private type TotalsState = graft.streaming.TwsTotalsState
  private val TotalsState = graft.streaming.TwsTotalsState

  /** Per-key running count/sum, one output row per key per micro-batch
    * it appears in. State is a single [[ValueState]] per key: O(keys)
    * total, resident in RocksDB, evictable by TTL if the caller passes
    * one (dashboard-style "active entity" counters want e.g. 24 h).
    */
  class RunningTotals(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, Contribution, Totals] {
    @transient private var state: ValueState[TotalsState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TotalsState]("totals",
        Encoders.product[TotalsState], ttl)

    override def handleInputRows(key: String,
                                 rows: Iterator[Contribution],
                                 timerValues: TimerValues)
        : Iterator[Totals] = {
      // integer fold over the batch's rows for this key: order-free
      var c = 0L
      var s = 0L
      rows.foreach { r => c += 1; s += r.m }
      val prev =
        if (state.exists()) state.get() else TotalsState(0L, 0L, 0L)
      val next = TotalsState(prev.upd + 1, prev.cnt + c, prev.total + s)
      state.update(next)
      Iterator.single(Totals(key, next.upd, next.cnt, next.total))
    }
  }

  /** Running per-key totals over an unbounded keyed stream.
    * `transformWithState` plans one shuffle on the key; each task owns
    * its key range's RocksDB instance, so state scales with disk and
    * key skew only costs the skewed task. TimeMode.None: no timers —
    * eviction, when wanted, rides the state TTL instead.
    */
  def runningTotals(ds: Dataset[Contribution],
                    ttl: TTLConfig = TTLConfig.NONE): Dataset[Totals] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .transformWithState(new RunningTotals(ttl), TimeMode.None(),
        OutputMode.Append())
  }

  /** Gap sessionization on the transformWithState API with EVENT-TIME
    * TIMERS — the v2 form of
    * [[graft.ops.Sessionize.streamingWithFlush]]: a session closes on
    * arrival when a later same-key event exceeds the gap, and an IDLE
    * key's final session is flushed by a timer once the watermark
    * passes `last + gap` (registerTimer / handleExpiredTimer — the v2
    * replacement for GroupStateTimeout). State per key is one open
    * session in RocksDB plus at most ONE pending timer (reconciled
    * per batch); dead keys drop their state at flush, so the key
    * space can be unbounded. Deterministic: timers fire on watermark
    * progress, never wall-clock.
    */
  class GapSessions(gapSeconds: Long)
      extends StatefulProcessor[Long, graft.ops.Sessionize.TimedEvent,
        graft.ops.Sessionize.Session] {
    import graft.ops.Sessionize.{Session, SessionState, TimedEvent}
    @transient private var st: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
                                 tv: TimerValues): Iterator[Session] = {
      val gapUs = gapSeconds * 1000000L
      // the shared interval fold (Sessionize.foldSessions): the one
      // algorithm for both state APIs, late-event-safe (never rewinds
      // a session's end)
      val (foldClosed, cur) = graft.ops.Sessionize.foldSessions(
        key, if (st.exists()) Some(st.get()) else None, rows.toSeq,
        gapUs)
      var closed = foldClosed.reverse // keep ascending on emit
      // one pending timer per key: drop stale ones, re-arm at the
      // (possibly moved) close instant
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      cur.foreach { s =>
        val closeAtMs = s.last / 1000 + gapSeconds * 1000
        if (closeAtMs <= tv.getCurrentWatermarkInMs()) {
          // another key already advanced the watermark past this
          // session's gap — closed on arrival (timers must sit
          // strictly beyond the watermark)
          closed ::= Session(key, s.start, s.last, s.n, s.firstId)
          st.clear()
        } else {
          st.update(s)
          getHandle.registerTimer(closeAtMs)
        }
      }
      closed.reverseIterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[Session] = {
      if (!st.exists()) return Iterator.empty
      val s = st.get()
      st.clear()
      Iterator.single(Session(key, s.start, s.last, s.n, s.firstId))
    }
  }

  /** Event-time gap sessionization over an unbounded keyed stream —
    * [[GapSessions]] planned: one shuffle on the key, RocksDB state,
    * timers keyed by the engine's watermark.
    */
  def sessionizeTws(events: Dataset[graft.ops.Sessionize.Event],
                    gapSeconds: Long,
                    watermarkDelay: String = "0 seconds")
      : Dataset[graft.ops.Sessionize.Session] = {
    import graft.ops.Sessionize.{Session, TimedEvent}
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val timedEnc = Encoders.product[TimedEvent]
    implicit val sessionEnc = Encoders.product[Session]
    events
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", watermarkDelay)
      .as[TimedEvent]
      .groupByKey(_.userId)(Encoders.scalaLong)
      .transformWithState(new GapSessions(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The RocksDB state-store provider class every query in this file
    * needs (`transformWithState` refuses the default HDFS-backed
    * provider) — and the provider ANY stateful query here should run
    * under once state outgrows executor heap. Changelog checkpointing
    * uploads per-batch deltas instead of full SST snapshots, keeping
    * checkpoint cost O(batch), not O(state).
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  /** The confs that run a query's state under [[RocksDbProvider]]
    * with changelog checkpointing. Set them on a clone of the session
    * the query is planned on (`SessionBridge.pinned`), never on a
    * shared one: the query snapshots its conf at start and keeps the
    * provider it started with.
    */
  val RocksDbState: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled" -> "true")
}
