package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class ResourceTableSpec extends SparkSpec {
  import graft.SparkSpec._

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("v", IntegerType)))

  private def df(rows: (String, Int)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))), schema)

  test("createIfNotExists is idempotent; empty table reads back") {
    val path = tmpDir("rt")
    val t = ResourceTable(spark, s"$path/T.parquet").createIfNotExists(schema)
    assert(t.read().count() == 0)
    t.createIfNotExists(schema) // second call no-op
    assert(t.latestVersion.contains(0L))
  }

  test("upsert inserts then updates; delete removes; snapshots are versioned") {
    val t = ResourceTable(spark, s"${tmpDir("rt")}/T.parquet")
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    assert(t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap ==
      Map("a" -> 1, "b" -> 2))
    t.upsert(df("b" -> 20, "c" -> 3), "id") // update b, insert c
    assert(t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap ==
      Map("a" -> 1, "b" -> 20, "c" -> 3))
    t.deleteMatching(df("a" -> 0).select("id"), "id")
    assert(t.read().collect().map(_.getString(0)).toSet == Set("b", "c"))
    assert(t.latestVersion.contains(3L)) // create + 3 mutations
  }

  test("append-only tables refuse removes at the commit protocol; " +
      "appends, non-overlapping upserts and OPTIMIZE keep working") {
    val t = ResourceTable(spark, s"${tmpDir("rtao")}/T.parquet")
      .createIfNotExists(schema)
    t.setAppendOnly()
    t.append(df("a" -> 1, "b" -> 2))
    // an upsert whose keys overlap NOTHING is physically an append
    t.upsert(df("c" -> 3), "id")
    assert(t.read().count() == 3)
    // a rewriting upsert (overlapping key) removes a file → refuse
    val up = intercept[Exception] { t.upsert(df("a" -> 10), "id") }
    assert(up.getMessage.contains("append-only"), up.getMessage)
    // deletes refuse — classic and DV alike
    val del = intercept[Exception] {
      t.deleteMatching(df("b" -> 0).select("id"), "id")
    }
    assert(del.getMessage.contains("append-only"), del.getMessage)
    t.enableDeletionVectors()
    val dv = intercept[Exception] {
      t.deleteMatching(df("b" -> 0).select("id"), "id")
    }
    assert(dv.getMessage.contains("append-only"), dv.getMessage)
    // content survived every refusal
    assert(t.read().collect().map(r => r.getString(0) -> r.getInt(1))
      .toMap == Map("a" -> 1, "b" -> 2, "c" -> 3))
    // OPTIMIZE rearranges without changing content → allowed
    t.optimize(numFiles = 1)
    assert(t.read().count() == 3)
    // the export carries the property for foreign aware writers
    DeltaExport.export(t)
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val appendOnlyProp = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(t.path, "_delta_log",
          f"${0L}%020d.json"))
      .asScala.filter(_.nonEmpty).map(mapper.readTree)
      .flatMap(n => Option(n.get("metaData")))
      .flatMap(m => Option(m.get("configuration")))
      .flatMap(c => Option(c.get("delta.appendOnly")))
      .map(_.asText)
    assert(appendOnlyProp.headOption.contains("true"))
  }

  test("vacuum reaps dead commit-publish tmp orphans from _log") {
    val t = ResourceTable(spark, s"${tmpDir("rt")}/T.parquet")
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    // a writer killed between staging and hard-link leaves this orphan
    val orphan = java.nio.file.Paths.get(
      t.path, "_log", ".00000000000000000005.commit.deadbeef.tmp")
    java.nio.file.Files.write(orphan, "{\"torn\":".getBytes)
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    // invisible to version resolution while present
    assert(t.latestVersion.contains(1L))
    t.vacuum(retentionMs = 24L * 3600 * 1000)
    assert(!java.nio.file.Files.exists(orphan))
    // a FRESH tmp (possibly a live writer mid-publish) is kept
    val fresh = java.nio.file.Paths.get(
      t.path, "_log", ".00000000000000000006.commit.cafebabe.tmp")
    java.nio.file.Files.write(fresh, "{}".getBytes)
    t.vacuum(retentionMs = 24L * 3600 * 1000)
    assert(java.nio.file.Files.exists(fresh))
  }

  test("changes: CDF diff tags inserts, deletes, and update pre/post pairs only") {
    val t = ResourceTable(spark, s"${tmpDir("rtcdf")}/T.parquet")
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2, "c" -> 3), "id")
    val v1 = t.latestVersion.get
    t.upsert(df("b" -> 20, "d" -> 4), "id") // change b, insert d, keep a/c
    t.deleteMatching(df("c" -> 0).select("id"), "id")
    val v3 = t.latestVersion.get
    val got = t.changes(v1, v3, "id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set(
      ("d", 4, "insert"),
      ("c", 3, "delete"),
      ("b", 2, "update_preimage"),
      ("b", 20, "update_postimage")))
    // unchanged window (same version twice) is empty
    assert(t.changes(v3, v3, "id").count() == 0)
  }

  test("optimize preserves content; vacuum removes old snapshots") {
    val base = tmpDir("rt")
    val t = ResourceTable(spark, s"$base/T.parquet").createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2, "c" -> 3), "id")
    t.optimize(numFiles = 1)
    assert(t.read().count() == 3)
    val removed = t.vacuum(retentionMs = -1000) // everything non-current is old
    assert(removed >= 1)
    assert(t.read().count() == 3) // current snapshot untouched
  }

  test("clustered optimize sorts within partitions by cluster column") {
    val t = ResourceTable(spark, s"${tmpDir("rt")}/T.parquet")
      .createIfNotExists(schema, clusterCols = Seq("id"))
    t.upsert(df("z" -> 26, "a" -> 1, "m" -> 13), "id")
    t.optimize(numFiles = 1)
    val ids = t.read().collect().map(_.getString(0)).toSeq
    assert(ids == ids.sorted) // single file, sorted by id
  }

  test("zorder key interleaves and preserves per-dimension locality") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("p", 0), Row("p", 1), Row("p", 1000), Row("q", 0))),
      StructType(Seq(StructField("s", StringType),
        StructField("n", IntegerType))))
    val keyed = graft.functions.ZOrder
      .withZOrderKey(df, Seq("s", "n"), relativeError = 0.0)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getAs[Long]("_zorder"))
      .toMap
    // same string, closer numbers → closer z keys (bucketed ranks)
    val d01 = math.abs(keyed(("p", 0)) - keyed(("p", 1)))
    val d0k = math.abs(keyed(("p", 0)) - keyed(("p", 1000)))
    assert(d01 < d0k, keyed.toString)
    assert(keyed(("p", 0)) != keyed(("q", 0)))
  }

  test("multi-column clustering compacts via zorder ordering") {
    val t = ResourceTable(spark, s"${tmpDir("rt")}/T.parquet")
      .createIfNotExists(schema, clusterCols = Seq("id", "v"))
    t.upsert(df("d" -> 40, "a" -> 1, "c" -> 30, "b" -> 2), "id")
    t.optimize(numFiles = 1)
    assert(t.read().count() == 4) // content preserved under zorder rewrite
  }

  test("time travel: readVersion sees historical snapshots until vacuumed") {
    val t = ResourceTable(spark, s"${tmpDir("rt")}/T.parquet")
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")            // v1
    t.upsert(df("a" -> 2, "b" -> 9), "id")  // v2
    assert(t.readVersion(1).collect().map(r => (r.getString(0), r.getInt(1)))
      .toSet == Set("a" -> 1))
    assert(t.read().count() == 2)
    t.vacuum(retentionMs = -1000)
    intercept[IllegalStateException] { t.readVersion(1).collect() }
  }

  test("schema is pinned: upsert drops columns outside the table schema") {
    // the reference disables delta schema autoMerge (main.py:72)
    val t = ResourceTable(spark, s"${tmpDir("rt")}/T.parquet")
      .createIfNotExists(schema)
    val widened = df("a" -> 1)
      .withColumn("extra", org.apache.spark.sql.functions.lit("x"))
    t.upsert(widened, "id")
    assert(t.read().schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("schema evolution: mergeSchema widens; old rows and old snapshots read null-filled") {
    import org.apache.spark.sql.functions.lit
    val t = ResourceTable(spark, s"${tmpDir("rtevo")}/T.parquet")
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    val v1 = t.latestVersion.get
    val widened = df("b" -> 20, "c" -> 3).withColumn("extra", lit("x"))
    t.upsert(widened, "id", mergeSchema = true)
    assert(t.schema().fieldNames.toSeq == Seq("id", "v", "extra"))
    val rows = t.read().collect()
      .map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(rows == Map("a" -> None, "b" -> Some("x"), "c" -> Some("x")))
    // time travel across the evolution: each version reads under ITS
    // OWN recorded schema (Delta versionAsOf parity) — the pre-widening
    // snapshot has no `extra` column at all, and crucially a RESTORE
    // to a narrow version cannot silently drop columns from a later
    // version that physically has them
    val oldDf = t.readVersion(v1)
    assert(oldDf.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(oldDf.collect().map(_.getString(0)).toSet == Set("a", "b"))
  }

  test("concurrent commit conflict: loser retries, winner's snapshot intact") {
    val t = ResourceTable(spark, s"${tmpDir("rt")}/T.parquet")
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id") // v1
    val rival = ResourceTable(spark, t.path)
    // Inject the rival INSIDE t's publish window — after t has written
    // its v2 snapshot, before t creates the v2 commit file — so t's
    // create-fails-if-exists genuinely fires and retry() re-drives.
    t.onBeforePublish = () => {
      t.onBeforePublish = () => () // only the first publish attempt races
      rival.upsert(df("r" -> 7), "id") // rival wins v2
    }
    t.upsert(df("b" -> 5), "id") // loses v2, retries onto v3
    assert(t.latestVersion.contains(3L))
    assert(t.read().collect().map(_.getString(0)).toSet == Set("a", "r", "b"))
    // the winner's published v2 must be untouched by the loser's attempt
    assert(t.readVersion(2).collect().map(_.getString(0)).toSet == Set("a", "r"))
  }

  test("commit conflicts draw from their own budget, not the ×5 failure budget") {
    // a writer that loses MORE winner elections than the transient-
    // failure budget (5) must still land: lost elections are ordinary
    // optimistic concurrency (Delta retries them essentially
    // unboundedly), not failures. Injects a rival win inside EVERY
    // publish window for 8 straight attempts. The rival upserts the
    // SAME key, so every loss is a TRUE read-set conflict — the
    // rebase path (OccRebaseSpec) must decline and re-run, firing
    // the publish hook again each time.
    val t = ResourceTable(spark, s"${tmpDir("rtcb")}/T.parquet")
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    val rival = ResourceTable(spark, t.path)
    var rivals = 8
    t.onBeforePublish = () => {
      if (rivals > 0) { rivals -= 1; rival.upsert(df("b" -> (100 + rivals)), "id") }
    }
    t.upsert(df("b" -> 2), "id") // loses 8 elections, lands on the 9th
    assert(rivals == 0)
    assert(t.read().collect().map(_.getString(0)).toSet == Set("a", "b"))
    // the loser's value must win the serialization (it committed last)
    assert(t.read().filter(org.apache.spark.sql.functions.col("id") === "b")
      .collect().map(_.getInt(1)).toSeq == Seq(2))
    assert(t.latestVersion.contains(10L)) // base + 8 rivals + b
  }

  test("commit timestamps are strictly monotonic (in-commit-timestamp contract)") {
    val t = ResourceTable(spark, s"${tmpDir("rtts")}/T.parquet")
      .createIfNotExists(schema)
    // rapid commits land within one millisecond without the
    // max(parent+1, now) rule; versionAsOf depends on strict order
    (1 to 4).foreach(i => t.upsert(df(s"k$i" -> i), "id"))
    val ts = (0L to t.latestVersion.get)
      .map(v => t.commit(v).ts.get)
    assert(ts == ts.sorted && ts.distinct.size == ts.size,
      s"not strictly increasing: $ts")
  }

  test("stress: 3 genuinely concurrent writers all land; history stays linear") {
    val t0 = ResourceTable(spark, s"${tmpDir("rtc")}/T.parquet")
      .createIfNotExists(schema)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { w =>
      new Thread(() => {
        try {
          val t = ResourceTable(spark, t0.path)
          (0 until 2).foreach(i => t.upsert(df(s"w$w-$i" -> i), "id"))
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    // every one of the 6 upserts won some version: 6 rows, 6 commits
    assert(t0.read().collect().map(_.getString(0)).toSet ==
      (for (w <- 0 until 3; i <- 0 until 2) yield s"w$w-$i").toSet)
    assert(t0.latestVersion.contains(6L))
    // the whole history is readable — no version was clobbered
    (1L to 6L).foreach(v => t0.readVersion(v).count())
  }

  test("stress: optimize racing concurrent upserts never loses rows") {
    val t0 = ResourceTable(spark, s"${tmpDir("rto")}/T.parquet")
      .createIfNotExists(schema)
    t0.upsert(df((1 to 20).map(i => s"base$i" -> i): _*), "id")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val upserter = new Thread(() => {
      try {
        val t = ResourceTable(spark, t0.path)
        (0 until 3).foreach(i => t.upsert(df(s"new$i" -> i), "id"))
      } catch { case e: Throwable => failures.add(e) }
    })
    val optimizer = new Thread(() => {
      try {
        val t = ResourceTable(spark, t0.path)
        (0 until 2).foreach(_ => t.optimize(numFiles = 2))
      } catch { case e: Throwable => failures.add(e) }
    })
    upserter.start(); optimizer.start()
    upserter.join(); optimizer.join()
    assert(failures.isEmpty, s"failed: ${failures.peek()}")
    val ids = t0.read().collect().map(_.getString(0)).toSet
    assert(ids == ((1 to 20).map(i => s"base$i") ++
      (0 until 3).map(i => s"new$i")).toSet)
    // 1 base + 3 upserts + 2 optimizes, each on its own version
    assert(t0.latestVersion.contains(6L))
  }

  test("stress: two txn-appenders race an upserter and an OPTIMIZE — no lost or duplicated batch") {
    // the commit body's txns watermark map must MERGE forward under
    // retry (a losing appender recomputes against the winner's head),
    // never clobber: each appId's batches land exactly once even while
    // unrelated upserts and an OPTIMIZE interleave arbitrary commits
    val t0 = ResourceTable(spark, s"${tmpDir("rttxn")}/T.parquet")
      .createIfNotExists(schema)
    t0.upsert(df((1 to 10).map(i => s"base$i" -> i): _*), "id")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def appender(app: String, n: Int) = new Thread(() => {
      try {
        val t = ResourceTable(spark, t0.path)
        (0 until n).foreach { b =>
          assert(t.append(df(s"$app-$b" -> b), txn = Some((app, b.toLong))) == 1L)
          // at-least-once delivery: every batch REPLAYS once and must
          // be recognized as already applied whatever else committed
          assert(t.append(df(s"$app-$b-dup" -> b),
            txn = Some((app, b.toLong))) == 0L)
        }
      } catch { case e: Throwable => failures.add(e) }
    })
    val upserter = new Thread(() => {
      try {
        val t = ResourceTable(spark, t0.path)
        (0 until 3).foreach(i => t.upsert(df(s"up$i" -> i), "id"))
      } catch { case e: Throwable => failures.add(e) }
    })
    val optimizer = new Thread(() => {
      try {
        val t = ResourceTable(spark, t0.path)
        (0 until 2).foreach(_ => t.optimize(numFiles = 2))
      } catch { case e: Throwable => failures.add(e) }
    })
    val threads = Seq(appender("appA", 3), appender("appB", 3),
      upserter, optimizer)
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"failed: ${failures.peek()}")
    val ids = t0.read().collect().map(_.getString(0)).toList
    // no duplicated batch: the -dup replays appended nothing
    assert(!ids.exists(_.contains("dup")), ids.toString)
    assert(ids.size == ids.distinct.size, "duplicated rows")
    // no lost batch: every (appId, batchId) landed exactly once
    assert(ids.toSet == ((1 to 10).map(i => s"base$i") ++
      (0 until 3).map(i => s"up$i") ++
      (for (a <- Seq("appA", "appB"); b <- 0 until 3) yield s"$a-$b")).toSet)
    // both watermarks survived every interleaved commit
    assert(t0.txnVersion("appA").contains(2L))
    assert(t0.txnVersion("appB").contains(2L))
  }

  test("property: random PUT/DELETE interleavings == naive foldLeft replay") {
    val rnd = new scala.util.Random(42) // deterministic
    (1 to 4).foreach { _ =>
      val ops = List.fill(10)((
        if (rnd.nextBoolean()) "put" else "del",
        rnd.nextInt(5), // small key space to force collisions
        rnd.nextInt(100)))
      val t = ResourceTable(spark, s"${tmpDir("rtp")}/T.parquet")
        .createIfNotExists(schema)
      // apply each op as its own tiny batch (sequential, like the stream)
      ops.foreach {
        case ("put", k, v) => t.upsert(df(k.toString -> v), "id")
        case (_, k, _) => t.deleteMatching(df(k.toString -> 0).select("id"), "id")
      }
      val expected = ops.foldLeft(Map.empty[String, Int]) {
        case (m, ("put", k, v)) => m + (k.toString -> v)
        case (m, (_, k, _)) => m - k.toString
      }
      val got = t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(got == expected, s"ops: $ops")
    }
  }

  test("data skipping: clustered files are pruned by min/max stats") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtskip")}/T.parquet")
    val data = (1 to 10000).map(i => (i.toLong, s"name_$i", i % 7))
      .toDF("id", "name", "grp")
    t.createIfNotExists(data.schema, clusterCols = Seq("id"))
    t.upsert(data, "id")
    t.optimize(numFiles = 8) // range-clustered: disjoint id ranges/file
    // a selective range predicate must open a strict subset of files
    val pred = col("id") >= 9900L && col("id") <= 9950L
    val (kept, total) = t.pruneInfo(pred)
    assert(total == 8, s"expected 8 files, saw $total")
    assert(kept < total, s"no pruning: $kept of $total")
    // and the pruned read is row-identical to the unpruned one
    val viaSkip = t.read(pred).collect().map(_.getLong(0)).sorted
    val full = t.read().filter(pred).collect().map(_.getLong(0)).sorted
    assert(viaSkip.toSeq == full.toSeq && viaSkip.length == 51)
    // equality + IN prune too
    assert(t.pruneInfo(col("id") === 42L)._1 == 1)
    assert(t.pruneInfo(col("id").isin(5L, 9999L))._1 == 2)
    // disjunction keeps a file if either side might match
    assert(t.pruneInfo(col("id") === 42L || col("id") === 9999L)._1 == 2)
    // no-stats columns / unsupported shapes never skip
    assert(t.pruneInfo(length(col("name")) > 3)._1 == total)
    // impossible predicate reads nothing but still answers
    assert(t.read(col("id") > 99999L).count() == 0)
  }

  test("data skipping: lazily-composed filters prune at plan time") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtlazy")}/T.parquet")
    val data = (1 to 10000).map(i => (i.toLong, s"name_$i"))
      .toDF("id", "name")
    t.createIfNotExists(data.schema, clusterCols = Seq("id"))
    t.upsert(data, "id")
    t.optimize(numFiles = 8)
    // plain read() then a LATER filter: the manifest-backed FileIndex
    // must still prune files when the plan's data filters reach it
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = t.read().filter(col("id") === 42L)
      val scan = q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      assert(scan.selectedPartitions.totalNumberOfFiles == 1L,
        "a later-composed point predicate should open one file")
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(42L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("data skipping: string prefix and null-count pruning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtskip2")}/T.parquet")
    val data = (1 to 1000).map { i =>
      val key = f"k$i%04d"
      (key, if (i <= 500) null else s"v$i")
    }.toDF("id", "maybe")
    t.createIfNotExists(data.schema, clusterCols = Seq("id"))
    t.upsert(data, "id")
    t.optimize(numFiles = 4)
    // prefix predicate hits one range-clustered file
    val (kept, total) = t.pruneInfo(col("id").startsWith("k099"))
    assert(total == 4 && kept < total, s"$kept of $total")
    assert(t.read(col("id").startsWith("k099")).count() == 10)
    // files where `maybe` has no nulls are pruned for IS NULL
    val (keptNull, _) = t.pruneInfo(col("maybe").isNull)
    assert(keptNull < total, s"isNull kept $keptNull of $total")
    assert(t.read(col("maybe").isNull).count() == 500)
  }

  test("widened schema flips atomically with the commit: stale meta file is ignored") {
    import org.apache.spark.sql.functions.lit
    val root = s"${tmpDir("rtatomic")}/T.parquet"
    val t = ResourceTable(spark, root).createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    t.upsert(df("b" -> 2).withColumn("extra", lit("x")), "id",
      mergeSchema = true)
    // Simulate the crash window the old design had: the snapshot is
    // committed but no post-commit meta write ever happened — force the
    // fallback file back to the ORIGINAL schema and assert schema()
    // still sees the widened columns (from the commit body).
    val metaPath = new org.apache.hadoop.fs.Path(root, "_meta_schema.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(metaPath, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    assert(t.schema().fieldNames.toSeq == Seq("id", "v", "extra"))
    assert(t.read().columns.contains("extra"))
  }

  test("file-granular merge: upsert touching 1 of 8 clustered files rewrites exactly 1") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtgran")}/T.parquet")
    val data = (1 to 8000).map(i => (i.toLong, s"name_$i")).toDF("id", "name")
    t.createIfNotExists(data.schema, clusterCols = Seq("id"))
    t.upsert(data, "id")
    t.optimize(numFiles = 8) // disjoint id ranges per file
    val v = t.latestVersion.get
    val before = t.fileManifest(v)
    assert(before.size == 8)
    // a batch whose keys land in ONE file's range
    val batch = Seq((10L, "updated_10"), (20L, "updated_20")).toDF("id", "name")
    t.upsert(batch, "id")
    val after = t.fileManifest(t.latestVersion.get)
    val carried = after.toSet intersect before.toSet
    assert(carried.size == 7,
      s"expected 7 carried-forward files, got ${carried.size}")
    assert((after.toSet -- before.toSet).nonEmpty) // the one rewrite
    // content is still exact
    assert(t.read().count() == 8000)
    assert(t.read(col("id") === 10L).collect().head.getString(1) == "updated_10")
    // delete scoped the same way: ids in one file's range
    val beforeDel = t.fileManifest(t.latestVersion.get)
    t.deleteMatching(Seq(30L).toDF("id"), "id")
    val afterDel = t.fileManifest(t.latestVersion.get)
    assert((afterDel.toSet intersect beforeDel.toSet).size >= 7)
    assert(t.read().count() == 7999)
  }

  test("non-overlapping delete commits without touching any data file") {
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtnoop")}/T.parquet")
    val data = (1 to 100).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    t.createIfNotExists(data.schema, clusterCols = Seq("id"))
    t.upsert(data, "id")
    val v = t.latestVersion.get
    val before = t.fileManifest(v)
    t.deleteMatching(Seq(99999L).toDF("id"), "id") // provably out of range
    assert(t.latestVersion.contains(v + 1)) // still a committed version
    assert(t.fileManifest(v + 1) == before) // pure copy-forward
    assert(t.read().count() == 100)
  }

  test("compactSmallFiles coalesces only small files; big files carry by reference") {
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtcompact")}/T.parquet")
    val data = (1 to 20000)
      .map(i => (i.toLong, s"name_${i}_${(i * 2654435761L).toHexString}"))
      .toDF("id", "name")
    t.createIfNotExists(data.schema, clusterCols = Seq("id"))
    t.upsert(data, "id")
    t.optimize(numFiles = 2) // two comfortably-large files
    val bigFiles = t.fileManifest(t.latestVersion.get)
    (0 until 5).foreach { k => // streaming trickle: five tiny appends
      t.upsert(Seq((50000L + k, "x")).toDF("id", "name"), "id")
    }
    assert(t.fileManifest(t.latestVersion.get).size == 7)
    val (compacted, carried) = t.compactSmallFiles(minBytes = 10L << 10)
    assert(compacted == 5 && carried == 2, s"($compacted, $carried)")
    val after = t.fileManifest(t.latestVersion.get)
    assert(bigFiles.toSet.subsetOf(after.toSet),
      "large files must carry forward by reference, not rewrite")
    assert(after.size == 3)
    assert(t.read().count() == 20005)
    // nothing left to coalesce: a second run is a no-op
    assert(t.compactSmallFiles(minBytes = 10L << 10)._1 == 0)
    assert(t.history().collect().head.getString(2) == "OPTIMIZE")
  }

  test("optimizedWrite clusters new files at write time; autoCompact bounds file count") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    spark.conf.set("graft.table.optimizeWrite", "true")
    spark.conf.set("graft.table.optimizeWrite.rowsPerFile", "1000")
    spark.conf.set("graft.table.autoCompact", "true")
    spark.conf.set("graft.table.autoCompactMinFiles", "6")
    try {
      val t = ResourceTable(spark, s"${tmpDir("rtow")}/T.parquet")
      val data = (1 to 4000).map(i => (i.toLong, s"n$i")).toDF("id", "name")
        .repartition(8) // scatter ids across partitions
      t.createIfNotExists(data.schema, clusterCols = Seq("id"))
      t.upsert(data, "id")
      // ~4 range files straight from the first MERGE, disjoint on id:
      // a selective key predicate must prune to ONE file, no optimize()
      val (read, total) = t.pruneInfo(col("id") === 7L)
      assert(total >= 2 && total <= 6, s"files=$total")
      assert(read == 1, s"read $read of $total files")
      // pile on small upserts past the autoCompact threshold
      (0 until 6).foreach { k =>
        t.upsert(Seq((100000L + k, "x")).toDF("id", "name"), "id")
      }
      val files = t.fileManifest(t.latestVersion.get).size
      assert(files < 6, s"autoCompact left $files files")
      assert(t.history().collect().exists(r =>
        r.getString(2) == "OPTIMIZE"), "no OPTIMIZE commit recorded")
      assert(t.read().count() == 4006)
    } finally {
      spark.conf.unset("graft.table.optimizeWrite")
      spark.conf.unset("graft.table.optimizeWrite.rowsPerFile")
      spark.conf.unset("graft.table.autoCompact")
      spark.conf.unset("graft.table.autoCompactMinFiles")
    }
  }

  test("history and describeDetail report operations, counts, and intactness") {
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rthist")}/T.parquet")
    val data = (1 to 100).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    t.createIfNotExists(data.schema)
    t.upsert(data, "id")
    t.deleteMatching(Seq(1L, 2L).toDF("id"), "id")
    t.optimize(numFiles = 2)
    val h = t.history().collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(h == Map(0L -> "CREATE TABLE", 1L -> "MERGE",
      2L -> "DELETE", 3L -> "OPTIMIZE"), h.toString)
    val hd = t.history().collect().head // newest first
    assert(hd.getLong(0) == 3L)
    assert(hd.getAs[java.sql.Timestamp]("timestamp") != null)
    assert(hd.getAs[Long]("num_rows") == 98L)
    assert(hd.getAs[Boolean]("is_intact"))
    val d = t.describeDetail().collect().head
    assert(d.getAs[Long]("version") == 3L)
    assert(d.getAs[Long]("num_files") == 2L)
    assert(d.getAs[Long]("num_rows") == 98L)
    assert(d.getAs[Long]("size_bytes") > 0L)
    // vacuum the pre-optimize snapshots away -> old versions lose intactness
    t.vacuum(retentionMs = 0)
    val intact = t.history().collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("is_intact")).toMap
    assert(intact(3L))
    assert(!intact(1L), intact.toString)
  }

  test("append-only upsert (keys above every file range) rewrites zero files") {
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtapp")}/T.parquet")
    val data = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    t.createIfNotExists(data.schema, clusterCols = Seq("id"))
    t.upsert(data, "id")
    t.optimize(numFiles = 4)
    val before = t.fileManifest(t.latestVersion.get)
    // the streaming append pattern: all keys past the table's max —
    // no existing file can overlap, so the batch is a pure insert and
    // every prior file carries forward by reference
    val batch = (2001 to 2100).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    t.upsert(batch, "id")
    val after = t.fileManifest(t.latestVersion.get)
    assert(before.toSet.subsetOf(after.toSet),
      s"carried=${(after.toSet intersect before.toSet).size} of ${before.size}")
    assert((after.toSet -- before.toSet).nonEmpty) // the new batch files
    assert(t.read().count() == 1100)
  }

  test("cleanupMetadata never trims at or above the checkpoint hint " +
      "(latestVersion's probe must not stop at a cleanup gap)") {
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtceil")}/T.parquet",
      checkpointInterval = 10)
    val data = Seq((1L, "a")).toDF("id", "name")
    t.createIfNotExists(data.schema)
    // 12 upserts of the SAME key: every pre-head version's file is
    // rewritten, so after vacuum(0) none of them is intact
    (1 to 12).foreach(i =>
      t.upsert(Seq((1L, s"v$i")).toDF("id", "name"), "id"))
    t.vacuum(0)
    // hint sits at v10; keepLast=1 would previously trim v10/v11
    // (non-intact, != cur) leaving the probe a gap → stale head 10
    t.cleanupMetadata(keepLast = 1)
    assert(t.versionExists(10) && t.versionExists(11),
      "commits at/above the hint must survive cleanup")
    assert(t.latestVersion.contains(12L))
    assert(t.read().collect().map(_.getString(1)).toSeq == Seq("v12"))
  }

  test("createIfNotExists is concurrency-safe: racing creators both succeed") {
    import spark.implicits._
    val path = s"${tmpDir("rtrace")}/T.parquet"
    val schema0 = Seq((1L, "a")).toDF("id", "name").schema
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { _ =>
      new Thread(() =>
        try ResourceTable(spark, path).createIfNotExists(schema0): Unit
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"create raced into: ${errs.peek()}")
    val t = ResourceTable(spark, path)
    assert(t.exists && t.latestVersion.contains(0L))
    t.upsert(Seq((1L, "a")).toDF("id", "name"), "id")
    assert(t.read().count() == 1)
  }

  test("checkpointed latestVersion reads hint + tail, not the whole log") {
    import spark.implicits._
    val base = s"${tmpDir("rtckpt")}/T.parquet"
    val t = ResourceTable(spark, base, checkpointInterval = 5)
    val data = Seq((1L, "a")).toDF("id", "name")
    t.createIfNotExists(data.schema)
    (1 to 6).foreach(i => t.upsert(Seq((i.toLong, s"v$i")).toDF("id", "name"), "id"))
    // v5 crossed the interval → _last_checkpoint exists and is used
    assert(t.latestVersion.contains(6L))
    assert(t.lastLookupCost <= 4, s"cost ${t.lastLookupCost}")
    // fabricate a long log the way a year of micro-batches would:
    // commit files are the protocol, so writing them directly is fair
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val schemaJson = t.schema().json
    (7L to 249L).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(base, f"_log/$v%020d.commit")
      val out = fs.create(p, false)
      try out.write(
        s"""{"version":$v,"dir":"snap-$v-fab","schema":$schemaJson,"files":{}}"""
          .getBytes("UTF-8"))
      finally out.close()
    }
    val ckpt = new org.apache.hadoop.fs.Path(base, "_log/_last_checkpoint")
    val out = fs.create(ckpt, true)
    try out.write("""{"version":245}""".getBytes("UTF-8")) finally out.close()
    assert(t.latestVersion.contains(249L))
    assert(t.lastLookupCost <= 10,
      s"lookup cost ${t.lastLookupCost} — should probe from checkpoint, not list 250 commits")
    // time travel to a real retained version still works
    assert(t.readVersion(1).count() == 1)
    // a corrupt/stale checkpoint falls back to the full listing
    val out2 = fs.create(ckpt, true)
    try out2.write("""{"version":9999}""".getBytes("UTF-8")) finally out2.close()
    assert(t.latestVersion.contains(249L))
  }

  test("oversized batch falls back from broadcast to shuffled anti-join") {
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtbig")}/T.parquet")
    val data = (1 to 500).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    t.createIfNotExists(data.schema)
    t.upsert(data, "id")
    // default path: micro-batch side is broadcast
    t.lastMergePlan = None
    t.upsert(Seq((1L, "x")).toDF("id", "name"), "id")
    assert(t.lastMergePlan.exists(_.contains("Broadcast")),
      t.lastMergePlan.getOrElse("no plan"))
    // forced-large batch: the explicit broadcast hint must NOT be
    // planted (auto-broadcast off so the planner can't re-add it)
    spark.conf.set("graft.table.merge.broadcastRowLimit", "10")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      t.lastMergePlan = None
      val big = (1 to 50).map(i => (i.toLong, s"big$i")).toDF("id", "name")
      t.upsert(big, "id")
      assert(t.lastMergePlan.exists(p => !p.contains("BroadcastHashJoin")),
        t.lastMergePlan.getOrElse("no plan"))
      val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(25L) == "big25" && got(500L) == "n500" && got.size == 500)
    } finally {
      spark.conf.unset("graft.table.merge.broadcastRowLimit")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("vacuum enforce-retention-duration: refuses sub-minimum retention unless disabled") {
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtenf")}/T.parquet")
    val data = Seq((1L, "a")).toDF("id", "name")
    t.createIfNotExists(data.schema)
    t.upsert(data, "id")
    intercept[IllegalArgumentException] {
      t.vacuum(retentionMs = 24L * 3600 * 1000, enforceRetention = true)
    }
    // above the minimum passes the check
    assert(t.vacuum(retentionMs = 8L * 24 * 3600 * 1000,
      enforceRetention = true) >= 0)
    // explicit override allows sub-minimum (the CLI's no-enforce)
    assert(t.vacuum(retentionMs = -1000, enforceRetention = false) >= 0)
  }

  test("optimize compression knob writes the requested parquet codec") {
    import spark.implicits._
    val base = s"${tmpDir("rtcodec")}/T.parquet"
    val t = ResourceTable(spark, base)
    val data = (1 to 100).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    t.createIfNotExists(data.schema)
    t.upsert(data, "id")
    def codecOf(): String = {
      val file = t.fileManifest(t.latestVersion.get).head
      val p = new org.apache.hadoop.fs.Path(base, file)
      val conf = spark.sessionState.newHadoopConf()
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.toString
      finally r.close()
    }
    t.optimize(numFiles = 1, compression = "snappy")
    assert(codecOf() == "SNAPPY")
    t.optimize(numFiles = 1) // default parity: zstd (lakehousekeeper.py:198)
    assert(codecOf() == "ZSTD")
  }

  test("optimizeBySize derives the file count from snapshot bytes") {
    import spark.implicits._
    val base = s"${tmpDir("rtsize")}/T.parquet"
    val t = ResourceTable(spark, base)
    val data = (1 to 20000)
      .map(i => (i.toLong, s"padpadpadpadpadpad$i")).toDF("id", "name")
    t.createIfNotExists(data.schema)
    t.upsert(data.repartition(8), "id")
    assert(t.fileManifest(t.latestVersion.get).size == 8)
    // a huge target collapses to one file
    assert(t.optimizeBySize(targetBytes = 1L << 40) == 1)
    assert(t.fileManifest(t.latestVersion.get).size == 1)
    // a tiny target splits the snapshot into many near-target files,
    // and the results stay identical
    val n = t.optimizeBySize(targetBytes = 16 * 1024)
    assert(n > 1)
    assert(t.fileManifest(t.latestVersion.get).size == n)
    assert(t.read().count() == 20000)
  }

  test("stat compare never skips on non-finite doubles") {
    // a parquet double stat of Inf (legal when data contains Inf) must
    // make the file incomparable -> kept, not crash BigDecimal
    assert(FileStats.cmp(1L, Double.PositiveInfinity).isEmpty)
    assert(FileStats.cmp(Double.NaN, 1L).isEmpty)
    assert(FileStats.cmp(1L, Double.NaN).isEmpty)
    assert(FileStats.cmp(1L, 2.0).contains(-1))
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = ResourceTable(spark, s"${tmpDir("rtinf")}/T.parquet")
    val data = Seq(("a", 1.0), ("b", Double.PositiveInfinity),
      ("c", Double.NaN)).toDF("id", "x")
    t.createIfNotExists(data.schema)
    t.upsert(data, "id")
    // predicate over the Inf/NaN-bearing stats: must answer, never throw
    assert(t.read(col("x") > 0.5).count() >= 1)
    assert(t.read(col("x") === Double.PositiveInfinity).count() == 1)
  }

  test("optimizedWrite bin-packs unclustered writes to the rows-per-file target") {
    import spark.implicits._
    spark.conf.set("graft.table.optimizeWrite", "true")
    spark.conf.set("graft.table.optimizeWrite.rowsPerFile", "1000")
    try {
      val t = ResourceTable(spark, s"${tmpDir("rtowu")}/T.parquet")
      val data = (1 to 4000).map(i => (i.toLong, s"n$i")).toDF("id", "name")
        .repartition(16) // a wide upstream layout would write 16 files
      t.createIfNotExists(data.schema) // NO clustering columns
      t.upsert(data, "id")
      val files = t.fileManifest(t.latestVersion.get).size
      assert(files >= 3 && files <= 5, // ceil(4000/1000) ± empty parts
        s"unclustered optimizedWrite wrote $files files")
      assert(t.read().count() == 4000)
    } finally {
      spark.conf.unset("graft.table.optimizeWrite")
      spark.conf.unset("graft.table.optimizeWrite.rowsPerFile")
    }
  }

  test("autoCompact gate counts sub-threshold files — a right-sized table never compacts") {
    spark.conf.set("graft.table.autoCompact", "true")
    spark.conf.set("graft.table.autoCompactMinFiles", "3")
    // every file this spec writes is tiny; minBytes=1 marks them ALL
    // right-sized — the gate must stay silent no matter how many pile up
    spark.conf.set("graft.table.autoCompact.minBytes", "1")
    try {
      val t = ResourceTable(spark, s"${tmpDir("acg")}/T.parquet")
        .createIfNotExists(schema)
      (1 to 5).foreach(i => t.upsert(df(s"k$i" -> i), "id"))
      assert(t.fileManifest(t.latestVersion.get).size >= 3)
      assert(!t.history().collect().exists(_.getString(2) == "OPTIMIZE"),
        "compacted a table of right-sized files")
      // realistic threshold: the same files are now candidates and the
      // next mutation trips the gate
      spark.conf.set("graft.table.autoCompact.minBytes",
        ResourceTable.DefaultCompactMinBytes.toString)
      t.upsert(df("k9" -> 9), "id")
      assert(t.history().collect().exists(_.getString(2) == "OPTIMIZE"),
        "no OPTIMIZE commit after crossing the small-file threshold")
      assert(t.read().count() == 6)
    } finally {
      spark.conf.unset("graft.table.autoCompact")
      spark.conf.unset("graft.table.autoCompactMinFiles")
      spark.conf.unset("graft.table.autoCompact.minBytes")
    }
  }

  test("write-behavior overrides are per-handle — two engines on one session cannot race") {
    spark.conf.set("graft.table.autoCompactMinFiles", "3")
    try {
      // session conf says nothing (default false); the handle pins ON
      val on = ResourceTable(spark, s"${tmpDir("ovr")}/T.parquet", 100,
        None, Some(true)).createIfNotExists(schema)
      (1 to 4).foreach(i => on.upsert(df(s"k$i" -> i), "id"))
      assert(on.history().collect().exists(_.getString(2) == "OPTIMIZE"),
        "Some(true) override ignored")
      // session conf says ON; the handle pins OFF
      spark.conf.set("graft.table.autoCompact", "true")
      val off = ResourceTable(spark, s"${tmpDir("ovr")}/U.parquet", 100,
        None, Some(false)).createIfNotExists(schema)
      (1 to 4).foreach(i => off.upsert(df(s"k$i" -> i), "id"))
      assert(!off.history().collect().exists(_.getString(2) == "OPTIMIZE"),
        "Some(false) override ignored")
    } finally {
      spark.conf.unset("graft.table.autoCompact")
      spark.conf.unset("graft.table.autoCompactMinFiles")
    }
  }

  test("append adds rows without key semantics; txn watermarks make replays no-ops") {
    val t = ResourceTable(spark, s"${tmpDir("rtapp")}/T.parquet")
      .createIfNotExists(schema)
    assert(t.append(df("a" -> 1, "b" -> 2)) == 2L)
    // no key semantics: a second append of the same rows DUPLICATES
    assert(t.append(df("a" -> 1)) == 1L)
    assert(t.read().count() == 3)
    // every prior file carried by reference — append never rewrites
    assert(t.history().collect().head.getString(2) == "APPEND")

    // idempotent transactional appends (Delta txnAppId/txnVersion)
    assert(t.append(df("c" -> 3), txn = Some(("job", 1L))) == 1L)
    assert(t.append(df("c" -> 3), txn = Some(("job", 1L))) == 0L) // replay
    assert(t.read().count() == 4)
    assert(t.txnVersion("job").contains(1L))
    assert(t.append(df("d" -> 4), txn = Some(("job", 2L))) == 1L)
    assert(t.txnVersion("job").contains(2L))
    // the watermark survives UNRELATED commits in between
    t.upsert(df("e" -> 5), "id")
    assert(t.append(df("x" -> 9), txn = Some(("job", 2L))) == 0L)
    assert(t.read().count() == 6)
    // independent writers have independent watermarks
    assert(t.append(df("f" -> 6), txn = Some(("other", 1L))) == 1L)
    assert(t.txnVersion("job").contains(2L))
    assert(t.txnVersion("nope").isEmpty)

    // extra source columns without mergeSchema are REJECTED, not
    // silently projected away (Delta parity — a misconfigured sink
    // must not lose data with zero signal)
    val before = t.read().count()
    val extra = spark.createDataFrame(Seq(("g", 7, "oops")))
      .toDF("id", "v", "surprise")
    val ex = intercept[IllegalArgumentException](t.append(extra))
    assert(ex.getMessage.contains("surprise"), ex.getMessage)
    assert(t.read().count() == before) // nothing committed
    // with mergeSchema=true the same append evolves the schema instead
    assert(t.append(extra, mergeSchema = true) == 1L)
    assert(t.schema().fieldNames.contains("surprise"))
  }

  test("CDF across an OPTIMIZE step is empty without opening the compacted files") {
    val t = ResourceTable(spark, s"${tmpDir("rtcdfo")}/T.parquet")
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    t.upsert(df("c" -> 3), "id")
    t.optimize(numFiles = 1)
    val v = t.latestVersion.get
    val ch = t.changes(v - 1, v, "id")
    assert(ch.count() == 0)
    assert(ch.columns.toSeq == Seq("id", "v", "_change_type"))
    // and a range SPANNING the optimize still reports the real changes
    val spanning = t.changes(v - 2, v, "id").collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(spanning == Set("c" -> "insert"))
  }

  test("property: snapshot(v-1) + changes(v-1,v) reproduces snapshot(v) over random mutations") {
    val rnd = new scala.util.Random(7)
    val t = ResourceTable(spark, s"${tmpDir("rtprop")}/T.parquet")
      .createIfNotExists(schema)
    var model = Map.empty[String, Int]
    val ids = ('a' to 'j').map(_.toString)
    (1 to 10).foreach { step =>
      if (rnd.nextInt(4) == 0 && model.nonEmpty) {
        val del = rnd.shuffle(model.keys.toList).take(rnd.nextInt(3) + 1)
        t.deleteMatching(df(del.map(_ -> 0): _*).select("id"), "id")
        model = model -- del
      } else {
        val ups = rnd.shuffle(ids.toList).take(rnd.nextInt(4) + 1)
          .map(_ -> rnd.nextInt(100))
        t.upsert(df(ups: _*), "id")
        model = model ++ ups
      }
      val v = t.latestVersion.get
      val snap = t.readVersion(v).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(snap == model, s"step $step: snapshot != model")
      // CDF completeness: the previous snapshot plus the version's
      // change rows reconstructs the new snapshot exactly
      val prev = t.readVersion(v - 1).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      val ch = t.changes(v - 1, v, "id").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      val applied = ch.foldLeft(prev) {
        case (m, (id, _, "delete")) => m - id
        case (m, (id, nv, "insert")) => m + (id -> nv)
        case (m, (id, nv, "update_postimage")) => m + (id -> nv)
        case (m, (_, _, "update_preimage")) => m
        case (m, other) => fail(s"unexpected change row $other"); m
      }
      assert(applied == model, s"step $step: CDF replay != model")
      // pre-images are faithful to the prior snapshot
      ch.foreach {
        case (id, pv, "update_preimage") => assert(prev(id) == pv)
        case (id, pv, "delete") => assert(prev(id) == pv)
        case _ => ()
      }
    }
  }

  test("property: CDF replay holds across mergeSchema evolutions interleaved with mutations") {
    // changes() diffs manifests whose files may carry DIFFERENT
    // schemas after mergeSchema appends/upserts — the replay identity
    // (snapshot(v-1) + changes = snapshot(v)) must hold through the
    // widening, with pre-evolution rows surfacing null for new columns
    val rnd = new scala.util.Random(11)
    val t = ResourceTable(spark, s"${tmpDir("rtpropevo")}/T.parquet")
      .createIfNotExists(schema) // (id STRING, v INT)
    var model = Map.empty[String, (Int, Option[String])]
    var evolved = false
    val ids = ('a' to 'j').map(_.toString)
    var freshId = 0
    val wideSchema = StructType(schema.fields :+ StructField("tag", StringType))
    def wideDf(rows: Seq[(String, Int, Option[String])]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map(r => Row(r._1, r._2, r._3.orNull))), wideSchema)
    def rowTuple(r: org.apache.spark.sql.Row) =
      (r.getString(r.fieldIndex("id")), r.getInt(r.fieldIndex("v")),
        if (r.schema.fieldNames.contains("tag"))
          Option(r.getString(r.fieldIndex("tag"))) else None)
    (1 to 14).foreach { step =>
      rnd.nextInt(5) match {
        case 0 if model.nonEmpty => // delete
          val del = rnd.shuffle(model.keys.toList).take(rnd.nextInt(2) + 1)
          t.deleteMatching(spark.createDataFrame(
            spark.sparkContext.parallelize(del.map(Row(_))),
            StructType(Seq(StructField("id", StringType)))), "id")
          model --= del
        case 1 | 2 if evolved || step > 4 => // WIDENING upsert
          evolved = true
          val ups = rnd.shuffle(ids.toList).take(rnd.nextInt(3) + 1)
            .map(i => (i, rnd.nextInt(100),
              if (rnd.nextBoolean()) Some(s"t$step") else None))
          t.upsert(wideDf(ups), "id", mergeSchema = true)
          model ++= ups.map { case (i, vv, tg) => i -> (vv, tg) }
        case 3 if evolved => // mergeSchema APPEND of brand-new keys
          val news = (0 to rnd.nextInt(2)).map { _ =>
            freshId += 1
            (s"n$freshId", rnd.nextInt(100), Some(s"a$step"))
          }
          t.append(wideDf(news), mergeSchema = true): Unit
          model ++= news.map { case (i, vv, tg) => i -> (vv, tg) }
        case _ => // narrow upsert (pre-evolution schema)
          if (!evolved) {
            val ups = rnd.shuffle(ids.toList).take(rnd.nextInt(3) + 1)
              .map(_ -> rnd.nextInt(100))
            t.upsert(df(ups: _*), "id")
            model ++= ups.map { case (i, vv) => i -> (vv, None) }
          } else { // table already wide: sources must carry all columns
            val ups = rnd.shuffle(ids.toList).take(rnd.nextInt(2) + 1)
              .map(i => (i, rnd.nextInt(100), Option.empty[String]))
            t.upsert(wideDf(ups), "id")
            model ++= ups.map { case (i, vv, tg) => i -> (vv, tg) }
          }
      }
      val v = t.latestVersion.get
      val snap = t.readVersion(v).collect()
        .map(rowTuple).map(x => x._1 -> (x._2, x._3)).toMap
      assert(snap == model, s"step $step: snapshot != model")
      val prev = t.readVersion(v - 1).collect()
        .map(rowTuple).map(x => x._1 -> (x._2, x._3)).toMap
      val ch = t.changes(v - 1, v, "id").collect()
        .map(r => (rowTuple(r), r.getString(r.fieldIndex("_change_type"))))
      val applied = ch.foldLeft(prev) {
        case (m, ((id, _, _), "delete")) => m - id
        case (m, ((id, vv, tg), "insert")) => m + (id -> (vv, tg))
        case (m, ((id, vv, tg), "update_postimage")) => m + (id -> (vv, tg))
        case (m, (_, "update_preimage")) => m
        case (m, other) => fail(s"unexpected change row $other"); m
      }
      assert(applied == model, s"step $step: CDF replay != model")
      // pre-images are faithful to the prior snapshot (note: prev is
      // read under the CURRENT schema, so a just-widened column reads
      // null for rows whose pre-image predates it — same as Delta CDF)
      ch.foreach {
        case ((id, pv, ptg), "update_preimage") =>
          assert(prev(id) == ((pv, ptg)), s"step $step preimage $id")
        case ((id, pv, ptg), "delete") =>
          assert(prev(id) == ((pv, ptg)), s"step $step delete pre $id")
        case _ => ()
      }
    }
    assert(evolved, "random walk never evolved the schema — adjust seed")
  }

  test("CHECK constraints: validated on add, enforced on upsert, persisted, droppable") {
    val path = s"${tmpDir("rtck")}/T.parquet"
    val t = ResourceTable(spark, path).createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    // adding a constraint the existing data violates is refused
    val eAdd = intercept[IllegalArgumentException](
      t.addCheckConstraint("v_big", "v >= 2"))
    assert(eAdd.getMessage.contains("v_big"), eAdd.getMessage)
    // a satisfiable constraint adds, persists, and gates future writes
    t.addCheckConstraint("v_pos", "v > 0")
    t.addCheckConstraint("id_set", "id IS NOT NULL")
    val t2 = ResourceTable(spark, path) // fresh handle: persisted
    assert(t2.checkConstraints().keySet == Set("v_pos", "id_set"))
    t2.upsert(df("c" -> 3), "id") // satisfying batch passes
    val eUp = intercept[IllegalArgumentException](
      t2.upsert(df("d" -> 4, "e" -> 0), "id")) // e violates v > 0
    assert(eUp.getMessage.contains("v_pos") &&
      eUp.getMessage.contains("1 row"), eUp.getMessage)
    // nothing was written by the rejected batch
    assert(t2.read().collect().map(_.getString(0)).toSet ==
      Set("a", "b", "c"))
    // NULL is a violation (constraint must be TRUE), like Delta
    val nullRow = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("f", null))),
      schema)
    intercept[IllegalArgumentException](t2.upsert(nullRow, "id"))
    // dropped constraint stops gating
    t2.dropCheckConstraint("v_pos")
    t2.dropCheckConstraint("id_set")
    t2.upsert(df("e" -> 0), "id")
    assert(t2.read().count() == 4)
  }

  test("timestampAsOf resolves versions by commit time; restore republishes an old snapshot") {
    val t = ResourceTable(spark, s"${tmpDir("rtasof")}/T.parquet")
      .createIfNotExists(schema)
    t.upsert(df("a" -> 1), "id")
    val v1 = t.latestVersion.get
    val ts1 = System.currentTimeMillis()
    Thread.sleep(15) // commit timestamps are ms-granular
    t.upsert(df("a" -> 2, "b" -> 9), "id")
    // as-of a moment between the commits → v1's content
    assert(t.versionAsOf(ts1) == v1)
    assert(t.readAsOf(ts1).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap == Map("a" -> 1))
    // before the first commit → no snapshot
    intercept[IllegalArgumentException](t.versionAsOf(0L))

    // RESTORE: new head commit, v1 content, history preserved
    val restored = t.restore(v1)
    assert(restored == t.latestVersion.get && restored > v1 + 1)
    assert(t.read().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap == Map("a" -> 1))
    assert(t.history().collect().head.getString(2) == "RESTORE")
    // the pre-restore head is still readable (restore is not a rollback)
    assert(t.readVersion(restored - 1).count() == 2)
    // a vacuumed version cannot be restored — fail fast, named files
    t.upsert(df("c" -> 3), "id")
    t.vacuum(retentionMs = 0, enforceRetention = false)
    val e = intercept[IllegalStateException](t.restore(v1 + 1))
    assert(e.getMessage.contains("vacuum"), e.getMessage)
  }

  test("manifest-planned reads surface real file modification times") {
    // the StatsFileIndex path plans with ZERO per-file status probes;
    // _metadata.file_modification_time must still be the file's real
    // mtime (recorded in the commit manifest), never epoch 0
    val base = tmpDir("mtime")
    val t = ResourceTable(spark, s"$base/T.parquet").createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    val got = t.read()
      .select(org.apache.spark.sql.functions
        .col("_metadata.file_modification_time"))
      .collect().map(_.getTimestamp(0).getTime).toSet
    val want = t.fileListAt(t.latestVersion.get).map { case (rel, _) =>
      t.fs.getFileStatus(t.resolve(rel)).getModificationTime
    }.toSet
    assert(got == want, s"metadata mtimes $got != fs mtimes $want")
    assert(got.forall(_ > 0L))
  }

  test("manifest records bytes at commit; legacy manifests fail FAST on missing files") {
    val base = tmpDir("ffast")
    val t = ResourceTable(spark, s"$base/T.parquet").createIfNotExists(schema)
    t.upsert(df("a" -> 1, "b" -> 2), "id")
    // size arithmetic runs off commit-time recorded bytes — no listing
    val detail = t.describeDetail().collect().head
    assert(detail.getAs[Long]("size_bytes") > 0L)
    // forge a LEGACY (pre-bytes) manifest and delete a data file: the
    // listing fallback must NAME the missing file, not size it 0 and
    // die later inside a parquet read
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/T.parquet/_log"))
      .iterator().asScala.filter(_.toString.endsWith(".commit"))
      .foreach { p =>
        val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        java.nio.file.Files.write(p,
          body.replaceAll("\"bytes\":\\d+,", "").getBytes("UTF-8"))
      }
    val rel = t.fileManifest(t.latestVersion.get).head
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$base/T.parquet/$rel"))
    // a FRESH handle, like any real reader of a legacy table — commit
    // bodies are immutable by contract, so handles memoize them and
    // the forged rewrite above is invisible to `t`
    val legacy = ResourceTable(spark, s"$base/T.parquet")
    val e = intercept[IllegalStateException] {
      legacy.compactSmallFiles()
    }
    assert(e.getMessage.contains(rel.substring(rel.lastIndexOf('/') + 1)),
      s"message does not name the missing file: ${e.getMessage}")
  }
}
