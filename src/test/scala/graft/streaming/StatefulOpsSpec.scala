package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.OutputMode

class StatefulOpsSpec extends SparkSpec {
  import StatefulOps._

  /** A clone of the shared session whose queries keep state in
    * RocksDB; the shared session's own conf is left alone.
    */
  private def rocks = SessionBridge.pinned(spark, RocksDbState)

  test("transformWithState running totals accumulate across batches " +
      "under the RocksDB provider") {
    val c = rocks
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.sqlContext
    import c.implicits._
    val stream = MemoryStream[Contribution]
    val q = runningTotals(stream.toDS())
      .toDF().writeStream.format("memory").queryName("tws")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(Contribution("a", 2), Contribution("a", 3),
        Contribution("b", 10))
      q.processAllAvailable()
      stream.addData(Contribution("a", 5))
      q.processAllAvailable()
      // key untouched in a batch → no emission, state intact
      stream.addData(Contribution("b", -4), Contribution("c", 0))
      q.processAllAvailable()
      val rows = c.table("tws").as[Totals].collect()
      assert(rows.toSet == Set(
        Totals("a", 1, 2, 5), Totals("b", 1, 1, 10),
        Totals("a", 2, 3, 10), Totals("b", 2, 2, 6),
        Totals("c", 1, 1, 0)), rows.mkString(";"))
      // the provider actually engaged: RocksDB custom metrics appear
      // on the stateful operator's progress
      val metrics = q.lastProgress.stateOperators.head
        .customMetrics.keySet()
      assert(metrics.asInstanceOf[java.util.Set[String]].stream()
        .anyMatch(_.startsWith("rocksdb")),
        s"no rocksdb metrics: $metrics")
    } finally q.stop()
    // the shared session never saw the provider
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").isEmpty ||
      spark.conf.get("spark.sql.streaming.stateStore.providerClass") !=
        RocksDbProvider)
  }

  test("sessionizeTws: gap close on arrival + event-time timer flush " +
      "for idle keys") {
    val c = rocks
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.sqlContext
    import graft.ops.Sessionize
    import c.implicits._
    val stream = MemoryStream[Sessionize.Event]
    val q = sessionizeTws(stream.toDS(), gapSeconds = 60)
      .toDF().writeStream.format("memory").queryName("twssess")
      .outputMode(OutputMode.Append).start()
    try {
      val t0 = 1700000000000000L // micros
      stream.addData(
        Sessionize.Event(7, t0, 1),
        Sessionize.Event(7, t0 + 30000000L, 2))
      q.processAllAvailable()
      assert(c.table("twssess").isEmpty) // still open
      // same-key event past the gap: closes on arrival, opens anew
      stream.addData(Sessionize.Event(7, t0 + 300000000L, 3))
      q.processAllAvailable()
      val closed = c.table("twssess").collect()
      assert(closed.length == 1)
      assert(closed.head.getAs[Long]("nEvents") == 2 &&
        closed.head.getAs[Long]("firstEventId") == 1)
      // a DIFFERENT key advances the watermark past 7's last+gap:
      // the registered timer must flush 7's second session
      stream.addData(Sessionize.Event(99, t0 + 600000000L, 4))
      q.processAllAvailable()
      stream.addData(Sessionize.Event(99, t0 + 601000000L, 5))
      q.processAllAvailable()
      val flushed = c.table("twssess").collect()
        .filter(_.getAs[Long]("userId") == 7L)
      assert(flushed.length == 2, flushed.mkString(";"))
      assert(flushed.map(_.getAs[Long]("firstEventId")).toSet ==
        Set(1L, 3L))
    } finally q.stop()
  }

  test("foldSessions: in-watermark late events never rewind a " +
      "session's end (no inverted sessions, no spurious splits)") {
    import graft.ops.Sessionize.{foldSessions, SessionState, TimedEvent}
    val gapUs = 60L * 1000000L
    def ev(tsSec: Long, id: Long) =
      TimedEvent(7L, tsSec * 1000000L, id, null)
    // carried open session [100s,100s]; batch brings a LATE t=50s and
    // an in-order t=115s — the naive fold rewound last to 50s and then
    // split 100/115 (only 15s apart) across an inverted session
    val (closed, open) = foldSessions(7L,
      Some(SessionState(100000000L, 100000000L, 1, 1L)),
      Seq(ev(50, 2), ev(115, 3)), gapUs)
    assert(closed.isEmpty, closed.toString)
    val s = open.get
    assert(s.start == 50000000L && s.last == 115000000L && s.n == 3,
      s.toString)
    assert(s.last >= s.start)

    // a late event more than a gap BEFORE the open session is its own,
    // immediately-closed session — never merged, never inverted
    val (closed2, open2) = foldSessions(7L,
      Some(SessionState(100000000L, 100000000L, 2, 1L)),
      Seq(ev(10, 9)), gapUs)
    assert(closed2.map(c => (c.sessionStartUs, c.sessionEndUs,
      c.nEvents, c.firstEventId)) ==
      List((10000000L, 10000000L, 1L, 9L)), closed2.toString)
    assert(open2.get.start == 100000000L && open2.get.n == 2)

    // two late events within gap of EACH OTHER merge into one closed
    // session, not two singletons
    val (closed3, _) = foldSessions(7L,
      Some(SessionState(500000000L, 500000000L, 1, 1L)),
      Seq(ev(10, 9), ev(40, 10)), gapUs)
    assert(closed3.map(c => (c.sessionStartUs, c.sessionEndUs,
      c.nEvents)) == List((10000000L, 40000000L, 2L)), closed3.toString)
  }

  test("sessionizeTws: a cross-batch in-watermark late event extends " +
      "the open session backwards instead of inverting it") {
    val c = rocks
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.sqlContext
    import graft.ops.Sessionize
    import c.implicits._
    val stream = MemoryStream[Sessionize.Event]
    val q = sessionizeTws(stream.toDS(), gapSeconds = 60,
      watermarkDelay = "120 seconds")
      .toDF().writeStream.format("memory").queryName("twslate")
      .outputMode(OutputMode.Append).start()
    try {
      val t0 = 1700000000000000L // micros
      stream.addData(Sessionize.Event(7, t0 + 100000000L, 1))
      q.processAllAvailable()
      // batch 2: late (t0+50s, inside the 120s watermark) + t0+115s
      stream.addData(
        Sessionize.Event(7, t0 + 50000000L, 2),
        Sessionize.Event(7, t0 + 115000000L, 3))
      q.processAllAvailable()
      assert(c.table("twslate").isEmpty,
        "contiguous events must stay ONE open session")
      // close it on arrival with a far-future same-key event
      stream.addData(Sessionize.Event(7, t0 + 400000000L, 4))
      q.processAllAvailable()
      val closed = c.table("twslate").collect()
      assert(closed.length == 1, closed.mkString(";"))
      val row = closed.head
      assert(row.getAs[Long]("sessionStartUs") == t0 + 50000000L &&
        row.getAs[Long]("sessionEndUs") == t0 + 115000000L &&
        row.getAs[Long]("nEvents") == 3,
        row.toString)
    } finally q.stop()
  }

  test("emitted totals are independent of row order within a batch") {
    def run(data: Seq[Contribution]): Set[Totals] = {
      val c = rocks
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.sqlContext
      import c.implicits._
      val stream = MemoryStream[Contribution]
      val name = s"tws_ord_${System.nanoTime()}"
      val q = runningTotals(stream.toDS())
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        stream.addData(data)
        q.processAllAvailable()
        c.table(name).as[Totals].collect().toSet
      } finally q.stop()
    }
    val data = Seq(Contribution("x", 1), Contribution("x", 7),
      Contribution("y", -2), Contribution("x", 4))
    assert(run(data) == run(data.reverse))
  }
}
