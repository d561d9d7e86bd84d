package graft.gates

import graft.ops.{Curation, Dedup, Multimodal, Similarity, TextStats, TopK}
import graft.tables.ResourceTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry._

/** ACID table-layer gates: MERGE/DELETE/replaceWhere DML,
  * OPTIMIZE/clustering/skipping, time travel, CDF, clone, schema
  * evolution and the delta-log export (SURVEY.md §2 S3–S8, J1–J6).
  *
  * Split out of SparkEntry (round 17, verdict item 8) with ZERO
  * behavior change: same keys, same lambdas, same oracle SQL —
  * SparkEntry composes the per-domain maps back into the driver
  * contract. Helpers/fixtures stay in [[graft.SparkEntry]] (imported
  * above) so memoization remains JVM-global across domains.
  */
private[graft] object TableGates {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- GENERATED ALWAYS AS columns (Delta writer feature): the
    //      source omits o_year, the table computes year(o_orderdate)
    //      at write; the predicate UPDATE shifts a key slice's dates
    //      across a year boundary and the generated column recomputes
    //      from the POST-update row — the read-back must equal the
    //      relational expression at every row ----
    "q_generated_col" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_genc").toString
      val rt = graft.tables.ResourceTable(s, s"$tdir/o.parquet")
      rt.createIfNotExists(StructType(orders.schema.fields :+
        StructField("o_year", IntegerType)))
      rt.addGeneratedColumn("o_year", "year(o_orderdate)")
      rt.upsert(orders, "o_orderkey")
      rt.updateWhere(col("o_orderkey") % 1000 === 0,
        Map("o_orderdate" ->
          (col("o_orderdate") + expr("INTERVAL 366 DAYS"))))
      rt.read().select(col("o_orderkey"), col("o_year"))
    }),


    // ---- GENERATED ALWAYS AS IDENTITY (Delta writer feature 6):
    //      three appended batches each claim the next contiguous id
    //      range off the table's high-water mark; deleting a whole
    //      batch does NOT recycle its range (Delta's documented gap
    //      semantics). WHICH row of a batch gets WHICH id is
    //      partition-layout dependent, so the gate keys each surviving
    //      row by its batch (doc_id % 3) — the (batch, id-range)
    //      mapping is exact and DuckDB replays it as generate_series ----
    "q_identity_col" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_ident").toString
      val rt = graft.tables.ResourceTable(s, s"$tdir/d.parquet")
      rt.createIfNotExists(StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("rid", LongType))))
      rt.addIdentityColumn("rid")
      val a = docs.filter(col("doc_id") % 3 === 0)
      rt.append(a)
      rt.append(docs.filter(col("doc_id") % 3 === 1))
      rt.deleteMatching(a.select("doc_id"), "doc_id")
      rt.append(docs.filter(col("doc_id") % 3 === 2))
      rt.read().select((col("doc_id") % 3).as("batch"), col("rid"))
    }),


    // ---- §2.6 J1 MERGE upsert semantics (pure-query form) ----
    "q_merge_upsert" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val source = customer.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), upper(col("c_name")).as("c_name"),
          col("c_nationkey"), (col("c_acctbal") + 1000).as("c_acctbal"),
          col("c_mktsegment"))
      ResourceTable.mergeUpsert(customer, source, "c_custkey")
    }),


    // ---- ROW TRACKING (Delta fresh row ids): three appended batches
    //      claim contiguous id ranges off the commit-carried mark;
    //      a deletion-vector delete of the whole first batch kills
    //      its rows IN PLACE, so every surviving row keeps its id
    //      (positions never move under a DV). WHICH row of a batch
    //      holds WHICH id is layout-dependent; the (batch, id-range)
    //      mapping is exact and DuckDB replays it as row_number
    //      series — same convention as q_identity_col ----
    "q_row_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_rowid").toString
      val rt = graft.tables.ResourceTable(s, s"$tdir/d.parquet")
      rt.createIfNotExists(StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType))))
      rt.enableRowTracking()
      rt.enableDeletionVectors()
      val a = docs.filter(col("doc_id") % 3 === 0)
      rt.append(a)
      rt.append(docs.filter(col("doc_id") % 3 === 1))
      rt.append(docs.filter(col("doc_id") % 3 === 2))
      rt.deleteMatching(a.select("doc_id"), "doc_id")
      rt.readWithRowIds()
        .select((col("doc_id") % 3).as("batch"), col("_row_id"))
    }),


    // ---- OPTIMISTIC MULTI-WRITER COMMITS (Delta ConflictChecker
    //      shape): four genuinely concurrent writers upsert disjoint
    //      key slices of orders into ONE table. Losing writers with
    //      logically-disjoint commits REBASE their already-written
    //      files onto the new head (zero recompute) instead of
    //      re-running; overlap would force a re-run. Either path is
    //      serializable, so the final content is deterministic — the
    //      gate additionally asserts the history stayed linear (one
    //      commit per writer, no lost updates) ----
    "q_concurrent_upsert" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_occ").toString
      val path = s"$tdir/c.parquet"
      graft.tables.ResourceTable(s, path).createIfNotExists(
        StructType(Seq(StructField("c_custkey", LongType),
          StructField("c_acctbal", DoubleType))))
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { w =>
        new Thread(() => {
          try graft.tables.ResourceTable(s, path)
            .upsert(customer.filter(col("c_custkey") % 4 === w),
              "c_custkey"): Unit
          catch { case e: Throwable => failures.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      require(failures.isEmpty, s"writer failed: ${failures.peek()}")
      val rt = graft.tables.ResourceTable(s, path)
      require(rt.latestVersion.contains(4L),
        s"history not linear: ${rt.latestVersion}")
      rt.read()
    }),


    // ---- §2.6 J2 MERGE delete semantics (anti join) ----
    "q_merge_delete" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val buildingCust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      ResourceTable.mergeDelete(orders, buildingCust, "o_custkey")
    }),


    // ---- deletion-vector DELETE (J2 at O(deleted rows)): two DV
    //      deletes mark rows dead by roaring bitmap — zero data files
    //      rewritten (the fixture asserts the manifest is unchanged) —
    //      and the snapshot read drops the dead positions. The oracle
    //      replays the deletes as a filter over the same source ----
    "q_delete_dv" -> ((s, dir) =>
      dvDemo(s, dir).read()
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))),


    // ---- CHANGE DATA FEED export (Delta cdc actions + _change_data
    //      files): the exported log's change files, read back as plain
    //      parquet, must equal the changes the mutations made — update
    //      pre/post pairs from the MERGE, delete images (post-update
    //      values!) from the DV kill. DuckDB replays both ----
    "q_cdf_export" -> ((s, dir) => {
      val tab = cdfDemo(s, dir)
      s.read.parquet(s"${tab.path}/_change_data")
        .select(col("c_custkey"), col("c_acctbal"),
          col("_change_type").as("change_type"))
    }),


    // ---- metadata-only COUNT(*) via the Catalyst rule: with
    //      GraftExtensions registered, count(*) over the pre-DV
    //      snapshot COLLAPSES to a LocalRelation (zero files opened —
    //      MetadataAggSpec asserts the plan); the DV-bearing head
    //      plans its anti-join normally and counts through it, so
    //      both legs stay exact ----
    "q_count_metadata" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      val tab = dvDemo(s, dir)
      val v0 = tab.latestVersion.get - 2
      tab.readVersion(v0).agg(count(lit(1)).as("cnt_v0"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
        .crossJoin(tab.read().agg(count(lit(1)).as("cnt_live")))
    }),


    // ---- REORG TABLE ... APPLY (PURGE) parity (J3 meets J2): files
    //      whose DV dead fraction crossed the threshold are rewritten
    //      (survivors materialized, DV cleared), the rest carry by
    //      reference — O(purged bytes), never O(table). Same oracle
    //      shape as q_delete_dv: the purge must not change logical
    //      content, so DuckDB replays the deletes as a filter ----
    "q_dv_purge" -> ((s, dir) =>
      dvPurgeDemo(s, dir).read()
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))),


    // ---- bucketed co-located join: both sides pre-shuffled at write
    //      time by the join key, join itself is exchange-free ----
    "q_bucketed_join" -> ((s, dir) => {
      import graft.tables.Bucketing
      val joined = Bucketing.bucketedEquiJoin(
        t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey"),
        t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"),
        key = "custkey", buckets = 8,
        leftName = "b_orders", rightName = "b_customer")
      joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_price"))
    }),


    // ---- stats-based data skipping: a clustered ResourceTable read
    //      with a selective key range opens only the files whose
    //      commit-log min/max overlap it (Delta data-skipping parity);
    //      results must equal the plain relational filter ----
    "q_table_skipping" -> ((s, dir) => {
      // fixture memoized per dir (board convention): the table is
      // immutable after build and the gate times the PRUNED READ
      val rt = skipDemoMemo.computeIfAbsent(dir, _ => {
        val orders = t(s, dir, "orders")
        val tdir = java.nio.file.Files
          .createTempDirectory("graft_skip").toString
        val tb = graft.tables.ResourceTable(s, s"$tdir/orders_t.parquet")
        tb.createIfNotExists(orders.schema, clusterCols = Seq("o_orderkey"))
        tb.upsert(orders, "o_orderkey")
        tb.optimize(numFiles = 8)
        tb
      })
      rt.read(col("o_orderkey").between(100L, 1500L))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("o_totalprice")).as("total_price"))
    }),


    // ---- LIQUID-CLUSTERING ON THE INCREMENTAL PATH (Delta re-clusters
    //      via autoCompact too, reference bundle_processor.py:176–202):
    //      8 interleaved appends each span the FULL key range, so every
    //      small file's min/max covers everything and stats skipping
    //      prunes nothing. ONE compactSmallFiles pass — never a full
    //      optimize() — range-sorts the coalesced bins on the cluster
    //      key, and the same range predicate now skips most files.
    //      Both prune states ride the output as hash-checked booleans;
    //      the aggregate rows are exact-oracled ----
    "q_incremental_cluster" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val tdir = java.nio.file.Files
        .createTempDirectory("graft_inccl").toString
      val rt = graft.tables.ResourceTable(s, s"$tdir/orders_ic.parquet")
      rt.createIfNotExists(orders.schema, clusterCols = Seq("o_orderkey"))
      // 8 APPENDS (not upserts): appends never rewrite existing files,
      // so the pre-compaction layout is 8 full-range files at ANY
      // executor count — an upsert fixture consolidated files under
      // local[4] merges (AQE-coalesced rewrites), flipping
      // full_scan_before on machines that don't export
      // SPARK_GRAFT_CPUS. Keys ≡ i (mod 8) are disjoint, so the table
      // content is identical either way — including under the
      // CONCURRENT submission below (guide §2.6: overlap independent
      // jobs): append-only commits are always logically disjoint, so
      // losing writers REBASE their already-written file onto the new
      // head (the q_concurrent_upsert-proven J5 path) and the final
      // snapshot is the same 8 full-range files whatever the commit
      // order. Sequential submission left ~7/8 of the cluster idle
      // during each append's single-file write.
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val writers = (0 until 8).map { i =>
        new Thread(() => {
          try rt.append(orders.filter(col("o_orderkey") % 8 === i)
            .coalesce(1)): Unit
          catch { case e: Throwable => failures.add(e) }
        })
      }
      writers.foreach(_.start()); writers.foreach(_.join())
      require(failures.isEmpty, s"append failed: ${failures.peek()}")
      // SF-PARAMETRIC range: o_orderkey is dense 0..max, so
      // [100, max/10] is ~10% of the keyspace at every SF and lands in
      // ≤2 of the 8 range bins after compaction. (A fixed hi of 1500
      // covered 93% of the sf0.001 keyspace — nothing could skip;
      // caught by the round-19 sf0.001 board sweep.)
      val maxKey = orders.agg(max(col("o_orderkey")))
        .collect()(0).getLong(0)
      val pred = col("o_orderkey").between(100L, maxKey / 10L)
      val (keptBefore, totalBefore) = rt.pruneInfo(pred)
      // incremental compaction only: everything qualifies as small,
      // fixed 8 range-disjoint bins so the layout is SF-independent
      rt.compactSmallFiles(minBytes = 1L << 26, targetBytes = 1L << 26,
        numFiles = Some(8))
      val (keptAfter, totalAfter) = rt.pruneInfo(pred)
      rt.read(pred)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("full_scan_before",
          lit(keptBefore == totalBefore && totalBefore >= 8))
        .withColumn("skipping_after",
          lit(keptAfter < totalAfter && keptAfter <= 2))
    }),


    // ---- file-level BLOOM MEMBERSHIP INDEX (Delta's bloom filter
    //      index): a point lookup on a high-cardinality column that
    //      is NOT the clustering key overlaps every file's [min,max],
    //      so stats skipping opens the whole table — the per-file
    //      bloom sidecar prunes to the files that might match, with
    //      results identical to the relational filter ----
    "q_bloom_skipping" -> ((s, dir) => {
      // fixture memoized per dir: immutable after build; the gate
      // times the bloom-sidecar-pruned SCAN
      val rt = bloomDemoMemo.computeIfAbsent(dir, _ => {
        val orders = t(s, dir, "orders")
        val tdir = java.nio.file.Files
          .createTempDirectory("graft_bloom").toString
        val tb = graft.tables.ResourceTable(s, s"$tdir/orders_b.parquet")
        // clustered by DATE → o_orderkey interleaves across every file
        tb.createIfNotExists(orders.schema,
          clusterCols = Seq("o_orderdate"))
        tb.enableBloomIndex(Seq("o_orderkey"))
        tb.upsert(orders, "o_orderkey")
        tb.optimize(numFiles = 8)
        tb
      })
      // the StatsFileIndex + bloom-probe hook prunes at PLAN time
      // from the pushed IN filter, where min/max stats cannot
      rt.read().filter(col("o_orderkey").isin(7L, 311L, 1202L))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
    }),


    // ---- DYNAMIC FILE PRUNING join (Delta DFP): the fact table is
    //      clustered by the join key but the query has NO fact-side
    //      predicate — a static plan scans every fact file. joinPruned
    //      collects the dim side's actual key set (bounded), turns it
    //      into an IN filter on the fact scan, and the manifest
    //      min/max stats (the InSet skipping case) shrink the scan to
    //      the files whose key range intersects the dim keys. Results
    //      are identical to the plain join; only the IO differs ----
    "q_dfp_join" -> ((s, dir) => {
      // fixture memoized per dir: immutable after build; the gate
      // times the dynamically-file-pruned JOIN
      val rt = dfpDemoMemo.computeIfAbsent(dir, _ => {
        val orders = t(s, dir, "orders")
        val tdir = java.nio.file.Files
          .createTempDirectory("graft_dfp").toString
        val tb = graft.tables.ResourceTable(s, s"$tdir/orders_f.parquet")
        tb.createIfNotExists(orders.schema, clusterCols = Seq("o_custkey"))
        tb.upsert(orders, "o_orderkey")
        tb.optimize(numFiles = 8)
        tb
      })
      val dim = t(s, dir, "customer")
        .filter(col("c_custkey") % 100 === 7) // selective dim side
        .select(col("c_custkey"), col("c_mktsegment"))
      rt.joinPruned(dim, "o_custkey", "c_custkey")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
    }),


    // ---- hive-style partitioned layout: the scan must prune to the
    //      one matching partition directory (PartitionFilters) ----
    "q_partition_pruning" -> ((s, dir) => {
      // fixture memoized per dir: the partitioned layout is written
      // once; the gate times the PartitionFilters-pruned scan
      val base = ppartDemoMemo.computeIfAbsent(dir, _ => {
        val b = java.nio.file.Files
          .createTempDirectory("graft_ppart").toString
        events(s, dir).write.partitionBy("event_type")
          .mode("overwrite").parquet(s"$b/ev")
        b
      })
      s.read.parquet(s"$base/ev")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("value"), 6).as("sum_val"))
    }),


    // ---- time travel (Delta versionAsOf parity): read the snapshot
    //      BEFORE the delete that followed it; the oracle reconstructs
    //      that intermediate state relationally ----
    "q_time_travel" -> ((s, dir) => {
      val (tab, _, v2, _) = versionedDemo(s, dir)
      tab.readVersion(v2)
    }),


    // ---- SHALLOW CLONE (Delta zero-copy fork): clone v2 of the
    //      versioned history — the fixture REQUIRES the clone manifest
    //      to be 100% absolute references (zero bytes copied) — then
    //      diverge the CLONE by deleting its NEWSEG rows: the rewrite
    //      localizes only the touched files, the rest stay foreign,
    //      and the SOURCE history is untouched ----
    "q_shallow_clone" -> ((s, dir) => {
      val (tab, _, v2, _) = versionedDemo(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_clone").toString
      val c = tab.shallowCloneTo(s"$tmp/clone.parquet", Some(v2))
      // absolute refs are FULLY-QUALIFIED URIs (scheme-full) so a
      // cross-store clone can never re-anchor against the wrong store
      require(c.fileManifest(0L).nonEmpty &&
        c.fileManifest(0L).forall(_.startsWith("file:/")),
        "shallow clone must reference, not copy")
      c.deleteMatching(
        c.read().filter(col("c_mktsegment") === "NEWSEG")
          .select("c_custkey"), "c_custkey")
      val after = c.fileManifest(c.latestVersion.get)
      require(after.exists(_.startsWith("file:/")),
        "divergence must keep untouched foreign refs foreign")
      c.read()
    }),


    // ---- RENAME COLUMN under column mapping (Delta name mode): the
    //      rename is a metadata-only commit (fixture REQUIRES zero
    //      files touched), then a MERGE flows THROUGH the new logical
    //      name while the files keep their physical one ----
    "q_rename_column" -> ((s, dir) => {
      val tab = renameDemoMemo.computeIfAbsent(dir, _ => {
        val base = t(s, dir, "customer").repartition(4)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_cm").toString
        val tb = ResourceTable(s, s"$tmp/customer.parquet")
          .createIfNotExists(base.schema)
        tb.upsert(base, "c_custkey")
        tb.enableColumnMapping()
        val before = tb.fileManifest(tb.latestVersion.get)
        tb.renameColumn("c_acctbal", "account_balance")
        require(tb.fileManifest(tb.latestVersion.get) == before,
          "rename must be metadata-only")
        val mods = tb.read().filter(col("c_custkey") % 10 === 0)
          .withColumn("account_balance", col("account_balance") + 1000)
        tb.upsert(mods, "c_custkey")
        tb
      })
      tab.read()
    }),


    // ---- conditional MERGE builder (Delta whenMatched/whenNotMatched
    //      with conditions): one commit deletes FURNITURE matches,
    //      doubles the others' balances (t+s pre-merge), and inserts
    //      only positive-balance new rows ----
    "q_merge_builder" -> ((s, dir) => {
      val tab = mergeDemoMemo.computeIfAbsent(dir, _ => {
        val base = t(s, dir, "customer").repartition(4)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_mb").toString
        val tb = ResourceTable(s, s"$tmp/customer.parquet")
          .createIfNotExists(base.schema)
        tb.upsert(base, "c_custkey")
        val source = base.filter(col("c_custkey") % 7 === 0)
          .unionByName(base.filter(col("c_custkey") % 100 === 3)
            .withColumn("c_custkey", col("c_custkey") + 2000000L))
        tb.merge(source, "c_custkey")
          .whenMatchedDelete(col("t.c_mktsegment") === "FURNITURE")
          .whenMatchedUpdate(Map("c_acctbal" ->
            (col("t.c_acctbal") + col("s.c_acctbal"))))
          .whenNotMatchedInsert(col("s.c_acctbal") > 0)
          .execute()
        tb
      })
      tab.read()
    }),


    // ---- predicate DML (Delta DELETE WHERE + UPDATE SET WHERE): no
    //      key anywhere — DELETE drops negative balances, UPDATE then
    //      reprices the AUTOMOBILE segment from the pre-update row ----
    "q_delete_update_where" -> ((s, dir) => {
      val tab = dmlDemoMemo.computeIfAbsent(dir, _ => {
        val base = t(s, dir, "customer").repartition(4)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_dml").toString
        val tb = ResourceTable(s, s"$tmp/customer.parquet")
          .createIfNotExists(base.schema)
        tb.upsert(base, "c_custkey")
        tb.deleteWhere(col("c_acctbal") < 0)
        tb.updateWhere(col("c_mktsegment") === "AUTOMOBILE",
          Map("c_acctbal" -> col("c_custkey") * lit(2.0)))
        tb
      })
      tab.read()
    }),


    // ---- REPLACE WHERE (Delta predicate overwrite): BUILDING-segment
    //      rows atomically replaced with a reloaded batch in ONE
    //      commit; the fixture REQUIRES stats pruning to carry
    //      non-matching files by reference AND matching files to
    //      rewrite. Idempotent content → safe under re-runs ----
    "q_replace_where" -> ((s, dir) => {
      val tab = replaceDemoMemo.computeIfAbsent(dir, _ => {
        val base = t(s, dir, "customer").repartition(4)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_rw").toString
        val tb = ResourceTable(s, s"$tmp/customer.parquet")
          .createIfNotExists(base.schema,
            clusterCols = Seq("c_mktsegment"))
        tb.upsert(base, "c_custkey")
        tb.optimize(numFiles = 4) // segment-clustered → stats prune
        tb
      })
      val before = tab.fileManifest(tab.latestVersion.get).toSet
      val repl = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .withColumn("c_acctbal", lit(0.0))
      tab.overwriteWhere(col("c_mktsegment") === lit("BUILDING"), repl)
      val after = tab.fileManifest(tab.latestVersion.get).toSet
      require((before & after).nonEmpty,
        "stats pruning must carry non-matching files by reference")
      require(before != after, "matching files must rewrite")
      tab.read()
    }),


    // ---- transactional APPEND (Delta txnAppId/txnVersion parity):
    //      a replayed (appId, batchId) append is a no-op, a later
    //      batch id lands — duplicate rows from the real append prove
    //      no key semantics interfered ----
    "q_append_txn" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_append").toString
      val supplier = t(s, dir, "supplier")
      val tab = ResourceTable(s, s"$tmp/S.parquet")
        .createIfNotExists(supplier.schema)
      tab.append(supplier, txn = Some(("gate", 1L)))
      tab.append(supplier, txn = Some(("gate", 1L))) // replay: skipped
      tab.append(supplier.filter(col("s_suppkey") <= 10),
        txn = Some(("gate", 2L)))
      tab.read()
    }),


    // ---- RESTORE (Delta RESTORE ... VERSION AS OF parity): mutate
    //      twice, then roll the head back to the pre-mutation snapshot
    //      as a NEW commit (history preserved, no data copied); the
    //      read-back equals the original table exactly ----
    "q_restore" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_restore").toString
      val supplier = t(s, dir, "supplier")
      val tab = ResourceTable(s, s"$tmp/Supplier.parquet")
        .createIfNotExists(supplier.schema)
      tab.upsert(supplier, "s_suppkey")
      val v1 = tab.latestVersion.get
      tab.upsert(supplier.filter(col("s_suppkey") % 3 === 0)
          .select(col("s_suppkey"), upper(col("s_name")).as("s_name"),
            col("s_nationkey"), (col("s_acctbal") + 1).as("s_acctbal")),
        "s_suppkey")
      tab.deleteMatching(
        supplier.filter(col("s_suppkey") % 4 === 0).select("s_suppkey"),
        "s_suppkey")
      tab.restore(v1)
      tab.read()
    }),


    // ---- schema evolution (Delta mergeSchema parity): a widened
    //      upsert flips schema and data in one atomic commit; files
    //      written before the new column existed read back null-filled
    //      through the evolved schema ----
    "q_schema_evolution" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_evo").toString
      val nation = t(s, dir, "nation")
      val tab = ResourceTable(s, s"$tmp/Nation.parquet")
        .createIfNotExists(nation.schema)
      tab.upsert(nation, "n_nationkey")
      val widened = nation.filter(col("n_nationkey") < 10)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          concat(lit("note-"), col("n_name")).as("note"))
      tab.upsert(widened, "n_nationkey", mergeSchema = true)
      tab.read().select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"), col("note"))
    }),


    // ---- TYPE WIDENING (Delta typeWidening): an INT table column
    //      widens to LONG when a mergeSchema batch carries the wider
    //      type — schema-only commit, the original int32 files are
    //      served upcast in place (never rewritten). The aggregate
    //      spans rows from both narrow and wide files ----
    "q_type_widening" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_twiden").toString
      val orders = t(s, dir, "orders")
      def cents(dt: String) = (col("o_totalprice")
        .cast(DecimalType(18, 2)) * 100).cast(dt).as("cents")
      val narrow = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), cents("int"))
      val tab = ResourceTable(s, s"$tmp/O.parquet")
        .createIfNotExists(narrow.schema)
      tab.append(narrow)
      tab.upsert(orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), cents("long")),
        "o_orderkey", mergeSchema = true)
      tab.read().groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
    }),


    // ---- COLUMN DEFAULTS (Delta allowColumnDefaults): ALTER COLUMN
    //      SET DEFAULT is a metadata-only commit; batches that OMIT
    //      the column get the default computed, batches that carry it
    //      keep their values — the aggregate spans both kinds ----
    "q_column_defaults" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_cdef").toString
      val cust = t(s, dir, "customer")
      val full = cust.select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").as("segment"))
      val tab = ResourceTable(s, s"$tmp/C.parquet")
        .createIfNotExists(full.schema)
      tab.append(full.filter(col("c_custkey") % 3 === 0))
      tab.setColumnDefault("segment", "'UNSEGMENTED'")
      // the rest arrives WITHOUT the segment column → default fills
      tab.append(full.filter(col("c_custkey") % 3 =!= 0)
        .drop("segment"))
      tab.read().groupBy(col("segment"))
        .agg(count(lit(1)).as("cnt"),
          // dsum, not a raw decimal sum: DuckDB's wide decimal sums
          // reach pandas as float64, so a Decimal-typed Spark result
          // renders '…X.50' vs the oracle's '…X.5' whenever the cents
          // end in 0 (first seen at sf0.1)
          dsum(col("c_acctbal")).as("bal"))
    }),


    // ---- change data feed (Delta table_changes parity): row-level
    //      diff between the base version and the head across an
    //      upsert+insert batch and a delete batch ----
    "q_change_feed" -> ((s, dir) => {
      val (tab, v1, _, v3) = versionedDemo(s, dir)
      tab.changes(v1, v3, "c_custkey")
    }),


    // ---- the same change feed through the SQL TABLE FUNCTION
    //      surface (delta's `table_changes`): shares q_change_feed's
    //      oracle — the TVF must be row-identical to the API call ----
    "q_cdf_tvf" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      val (tab, v1, _, v3) = versionedDemo(s, dir)
      s.sql("SELECT * FROM graft_table_changes(" +
        s"'${tab.path}', $v1, $v3, 'c_custkey')")
    }),


    // ---- incremental view maintenance from the change feed: a
    //      per-segment (count, sum) aggregate at v1 is advanced to the
    //      v3 state purely from CDF deltas (+post/insert, -pre/delete)
    //      — never rescanning the new snapshot. The oracle aggregates
    //      the reconstructed v3 directly, so a hash match proves the
    //      feed is algebraically complete (preimages included). At
    //      100 TB this is the difference between touching the delta
    //      and recomputing the world ----
    "q_incremental_agg" -> ((s, dir) => {
      val (tab, v1, _, v3) = versionedDemo(s, dir)
      val dec = col("c_acctbal").cast(DecimalType(18, 2))
      val base = tab.readVersion(v1).groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("bcnt"), sum(dec).as("bsum"))
      val delta = tab.changes(v1, v3, "c_custkey")
        .withColumn("sgn",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("sgn")).as("dcnt"),
          sum(dec * col("sgn").cast(DecimalType(18, 2))).as("dsum"))
      base.join(delta, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          (coalesce(col("bcnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
            .as("cnt"),
          (coalesce(col("bsum"), lit(0).cast(DecimalType(28, 2))) +
           coalesce(col("dsum"), lit(0).cast(DecimalType(28, 2))))
            .cast(DoubleType).as("sum_bal"))
        .filter(col("cnt") > 0)
    }),


    // ---- Delta Lake log interop (the reference's tables are REAL
    //      Delta tables read by Trino/DuckDB delta_scan,
    //      hack/trino/catalog/fhir.properties:1–9): mirror the commit
    //      log as a standard `_delta_log`, then read the snapshot back
    //      ONLY through that exported log — a hash match against the
    //      relational v3 oracle proves the exported actions describe
    //      the exact snapshot any external delta reader would see ----
    "q_delta_export" -> ((s, dir) => {
      val (tab, _, _, _) = versionedDemo(s, dir)
      graft.tables.DeltaExport.export(tab)
      graft.tables.DeltaExport.readSnapshot(s, tab.path)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
    }),


    // ---- selective read through the exported log: the pushed key
    //      predicate reaches StatsFileIndex, which prunes files whose
    //      exported min/max stats prove both disjuncts false (the
    //      mid-range files) before any footer is opened; the hash
    //      match proves pruning never drops a qualifying file ----
    "q_delta_export_skip" -> ((s, dir) => {
      val (tab, _, _, _) = versionedDemo(s, dir)
      graft.tables.DeltaExport.export(tab)
      graft.tables.DeltaExport.readSnapshot(s, tab.path)
        .filter(col("c_custkey") <= 500 || col("c_custkey") >= 1000000)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
    }),

  )

  def oracleSql: Map[String, String] = Map(

    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,


    "q_merge_upsert" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 10 <> 0
        |UNION ALL
        |SELECT c_custkey, upper(c_name) AS c_name, c_nationkey,
        |  c_acctbal + 1000 AS c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 10 = 0""".stripMargin,


    "q_merge_delete" ->
      """SELECT * FROM orders
        |WHERE o_custkey NOT IN (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin,


    // four disjoint concurrent upserts serialize to the plain union
    "q_concurrent_upsert" ->
      "SELECT c_custkey, c_acctbal FROM customer",


    // zero-based contiguous ranges per append batch; the DV delete of
    // batch A leaves B's and C's id ranges untouched
    "q_row_ids" ->
      """WITH n AS (
        |  SELECT count(*) FILTER (WHERE doc_id % 3 = 0) AS na,
        |         count(*) FILTER (WHERE doc_id % 3 = 1) AS nb
        |  FROM documents),
        |b AS (SELECT row_number() OVER () AS i FROM documents
        |      WHERE doc_id % 3 = 1),
        |c AS (SELECT row_number() OVER () AS i FROM documents
        |      WHERE doc_id % 3 = 2)
        |SELECT CAST(1 AS BIGINT) AS batch,
        |  (SELECT na FROM n) + i - 1 AS _row_id FROM b
        |UNION ALL
        |SELECT CAST(2 AS BIGINT),
        |  (SELECT na + nb FROM n) + i - 1 FROM c""".stripMargin,


    "q_delete_dv" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |WHERE NOT (c_custkey % 7 = 0 OR c_custkey % 11 = 0)""".stripMargin,


    // change-data-feed export: update pairs from the MERGE, delete
    // images (carrying the post-update values) from the DV kill
    "q_cdf_export" ->
      """WITH upd AS (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_custkey % 13 = 0)
        |SELECT c_custkey, c_acctbal,
        |  'update_preimage' AS change_type FROM upd
        |UNION ALL
        |SELECT c_custkey, c_acctbal + 1000.0,
        |  'update_postimage' AS change_type FROM upd
        |UNION ALL
        |SELECT c_custkey,
        |  CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 1000.0
        |       ELSE c_acctbal END,
        |  'delete' AS change_type
        |FROM customer WHERE c_custkey % 17 = 0""".stripMargin,


    // rule-rewritten count/min/max (pre-DV snapshot) + anti-join count
    "q_count_metadata" ->
      """SELECT count(*) AS cnt_v0,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key,
        |  (SELECT count(*) FROM customer
        |   WHERE NOT (c_custkey % 7 = 0 OR c_custkey % 11 = 0))
        |    AS cnt_live
        |FROM customer""".stripMargin,


    // REORG PURGE must be logically invisible: same oracle as the DV
    // deletes it compacts away
    "q_dv_purge" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |WHERE NOT (c_custkey % 7 = 0 OR c_custkey % 11 = 0)""".stripMargin,


    "q_table_skipping" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE o_orderkey BETWEEN 100 AND 1500
        |GROUP BY o_orderstatus""".stripMargin,


    "q_incremental_cluster" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  TRUE AS full_scan_before,
        |  TRUE AS skipping_after
        |FROM orders
        |WHERE o_orderkey BETWEEN 100
        |  AND (SELECT max(o_orderkey) FROM orders) // 10
        |GROUP BY o_orderstatus""".stripMargin,


    "q_bloom_skipping" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey IN (7, 311, 1202)""".stripMargin,


    "q_dfp_join" ->
      """SELECT c_custkey, c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey % 100 = 7
        |GROUP BY c_custkey, c_mktsegment""".stripMargin,


    "q_partition_pruning" ->
      """SELECT user_id, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id""".stripMargin,


    "q_generated_col" ->
      """SELECT o_orderkey,
        |  CAST(year(CASE WHEN o_orderkey % 1000 = 0
        |    THEN o_orderdate + INTERVAL 366 DAY
        |    ELSE o_orderdate END) AS INTEGER) AS o_year
        |FROM orders""".stripMargin,


    // each batch owns the contiguous id range claimed off the
    // high-water mark at its append; batch A (doc_id%3=0, ids
    // 1..na) is deleted afterwards and its range never recycles
    "q_identity_col" ->
      """WITH n AS (
        |  SELECT count(*) FILTER (WHERE doc_id % 3 = 0) AS na,
        |         count(*) FILTER (WHERE doc_id % 3 = 1) AS nb
        |  FROM documents),
        |b AS (SELECT row_number() OVER () AS i FROM documents
        |      WHERE doc_id % 3 = 1),
        |c AS (SELECT row_number() OVER () AS i FROM documents
        |      WHERE doc_id % 3 = 2)
        |SELECT CAST(1 AS BIGINT) AS batch,
        |  (SELECT na FROM n) + i AS rid FROM b
        |UNION ALL
        |SELECT CAST(2 AS BIGINT),
        |  (SELECT na + nb FROM n) + i FROM c""".stripMargin,


    // the rename is invisible relationally: same values, new column name
    "q_rename_column" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000
        |       ELSE c_acctbal END AS account_balance,
        |  c_mktsegment
        |FROM customer""".stripMargin,


    // clause order: delete fires first for FURNITURE matches; update
    // doubles via t+s (the source IS the base row); inserts filtered
    "q_merge_builder" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 7 = 0 AND c_mktsegment <> 'FURNITURE'
        |       THEN c_acctbal + c_acctbal ELSE c_acctbal END
        |    AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |WHERE NOT (c_custkey % 7 = 0 AND c_mktsegment = 'FURNITURE')
        |UNION ALL
        |SELECT c_custkey + 2000000, c_name, c_nationkey, c_acctbal,
        |       c_mktsegment
        |FROM customer WHERE c_custkey % 100 = 3 AND c_acctbal > 0"""
        .stripMargin,


    // DELETE (on the pre-update balance) then UPDATE from the old row
    "q_delete_update_where" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_mktsegment = 'AUTOMOBILE'
        |       THEN CAST(c_custkey * 2.0 AS DOUBLE)
        |       ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer WHERE c_acctbal >= 0""".stripMargin,


    // non-matching rows untouched ∪ the reloaded BUILDING batch
    "q_replace_where" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_mktsegment <> 'BUILDING'
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey,
        |       CAST(0.0 AS DOUBLE) AS c_acctbal, c_mktsegment
        |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,


    // v2 state minus the NEWSEG rows the clone-side delete removed
    "q_shallow_clone" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 10 <> 0
        |UNION ALL
        |SELECT c_custkey, upper(c_name), c_nationkey, c_acctbal + 1000,
        |       c_mktsegment
        |FROM customer WHERE c_custkey % 10 = 0""".stripMargin,


    "q_time_travel" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 10 <> 0
        |UNION ALL
        |SELECT c_custkey, upper(c_name), c_nationkey, c_acctbal + 1000,
        |       c_mktsegment
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
        |       'NEWSEG'
        |FROM customer WHERE c_custkey % 100 = 1""".stripMargin,


    "q_restore" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",


    "q_append_txn" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
        |UNION ALL
        |SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
        |WHERE s_suppkey <= 10""".stripMargin,


    "q_schema_evolution" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        |  CASE WHEN n_nationkey < 10 THEN 'note-' || n_name
        |       ELSE NULL END AS note
        |FROM nation""".stripMargin,


    "q_type_widening" ->
      """SELECT o_orderkey % 10 AS bucket, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1""".stripMargin,


    "q_column_defaults" ->
      """SELECT CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment
        |            ELSE 'UNSEGMENTED' END AS segment,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |         AS bal
        |FROM customer GROUP BY 1""".stripMargin,


    "q_change_feed" ->
      """SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey,
        |       c_acctbal, 'NEWSEG' AS c_mktsegment,
        |       'insert' AS _change_type
        |FROM customer WHERE c_custkey % 100 = 1
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |       'delete'
        |FROM customer WHERE c_mktsegment = 'MACHINERY'
        |UNION ALL
        |SELECT c_custkey, upper(c_name), c_nationkey, c_acctbal + 1000,
        |       c_mktsegment, 'update_postimage'
        |FROM customer
        |WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'MACHINERY'
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |       c_mktsegment, 'update_preimage'
        |FROM customer
        |WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'MACHINERY'""".stripMargin,


    // the TVF must be row-identical to the API call — same oracle
    "q_cdf_tvf" ->
      """SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey,
        |       c_acctbal, 'NEWSEG' AS c_mktsegment,
        |       'insert' AS _change_type
        |FROM customer WHERE c_custkey % 100 = 1
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |       'delete'
        |FROM customer WHERE c_mktsegment = 'MACHINERY'
        |UNION ALL
        |SELECT c_custkey, upper(c_name), c_nationkey, c_acctbal + 1000,
        |       c_mktsegment, 'update_postimage'
        |FROM customer
        |WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'MACHINERY'
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |       c_mktsegment, 'update_preimage'
        |FROM customer
        |WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'MACHINERY'""".stripMargin,


    "q_incremental_agg" ->
      """WITH v3 AS (
        |  SELECT c_acctbal, c_mktsegment FROM customer
        |  WHERE c_mktsegment <> 'MACHINERY' AND c_custkey % 10 <> 0
        |  UNION ALL
        |  SELECT c_acctbal + 1000, c_mktsegment FROM customer
        |  WHERE c_mktsegment <> 'MACHINERY' AND c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_acctbal, 'NEWSEG' FROM customer
        |  WHERE c_custkey % 100 = 1)
        |SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM v3 GROUP BY c_mktsegment""".stripMargin,


    "q_delta_export" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |WHERE c_mktsegment <> 'MACHINERY' AND c_custkey % 10 <> 0
        |UNION ALL
        |SELECT c_custkey, upper(c_name), c_nationkey, c_acctbal + 1000,
        |       c_mktsegment
        |FROM customer
        |WHERE c_mktsegment <> 'MACHINERY' AND c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
        |       'NEWSEG'
        |FROM customer WHERE c_custkey % 100 = 1""".stripMargin,


    "q_delta_export_skip" ->
      """WITH v3 AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer
        |  WHERE c_mktsegment <> 'MACHINERY' AND c_custkey % 10 <> 0
        |  UNION ALL
        |  SELECT c_custkey, upper(c_name), c_nationkey, c_acctbal + 1000,
        |         c_mktsegment
        |  FROM customer
        |  WHERE c_mktsegment <> 'MACHINERY' AND c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
        |         'NEWSEG'
        |  FROM customer WHERE c_custkey % 100 = 1)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM v3 WHERE c_custkey <= 500 OR c_custkey >= 1000000""".stripMargin,

  )
}
