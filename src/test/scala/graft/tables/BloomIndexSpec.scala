package graft.tables

import graft.SparkSpec
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-level Bloom membership index: point lookups on a
  * high-cardinality NON-cluster column must prune to the files that
  * might contain the probed values — with identical results to the
  * unindexed scan (never a false negative), conservative keeps for
  * unindexed directories, sidecars that follow their data directory's
  * lifecycle, and stability under deletion vectors and column
  * mapping renames.
  */
class BloomIndexSpec extends SparkSpec {
  import graft.SparkSpec._

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("tag", StringType),
    StructField("v", IntegerType)))

  // k is deliberately interleaved across files (k % nFiles ordering)
  // so every file's [min,max] spans the whole key range — min/max
  // stats CANNOT prune a point lookup; only the bloom index can.
  private def rows(n: Int): Seq[Row] =
    (0 until n).sortBy(i => i % 8).map(i =>
      Row(i.toLong, s"tag$i", i))

  private def freshTable(dir: String, n: Int = 800): ResourceTable = {
    val rt = ResourceTable(spark, s"$dir/T.parquet")
      .createIfNotExists(schema)
    rt.enableBloomIndex(Seq("k", "tag"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows(n), 8), schema)
    rt.append(df)
    rt
  }

  private def statsIndexOf(df: DataFrame): StatsFileIndex =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation
          if lr.relation.isInstanceOf[HadoopFsRelation] &&
            lr.relation.asInstanceOf[HadoopFsRelation].location
              .isInstanceOf[StatsFileIndex] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location
          .asInstanceOf[StatsFileIndex]
    }.getOrElse(fail("read did not plan through a StatsFileIndex"))

  test("point lookup prunes files and matches the unpruned result") {
    val rt = freshTable(tmpDir("bloomspec"))
    val lookup = rt.read().filter(col("k") === 311L)
    val got = lookup.collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(311L))
    val idx = statsIndexOf(lookup)
    // 8 interleaved files, every [min,max] covers k=311 — only the
    // bloom probe can prune; expect ≪ 8 survivors (1 + fpp stragglers)
    assert(idx.lastScanned == 8, s"scanned ${idx.lastScanned}")
    assert(idx.lastMaterialized < 8,
      s"bloom pruned nothing: materialized ${idx.lastMaterialized}")
  }

  test("pruneInfo and read(filter) report the bloom-pruned scan") {
    val rt = freshTable(tmpDir("bloomspec_info"))
    val (kept, total) = rt.pruneInfo(col("k") === 311L)
    assert(total == 8 && kept < 8, s"pruneInfo kept $kept of $total")
    val lookup = rt.read(col("k") === 311L)
    assert(lookup.collect().map(_.getLong(0)).toSeq == Seq(311L))
    assert(statsIndexOf(lookup).lastMaterialized == kept)
  }

  test("IN lookup keeps exactly the union of matching files; string column works") {
    val rt = freshTable(tmpDir("bloomspec_in"))
    val in = rt.read().filter(col("tag").isin("tag5", "tag443", "nope"))
    assert(in.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(5L, 443L))
    val idx = statsIndexOf(in)
    assert(idx.lastMaterialized < 8)
  }

  test("directories written before enablement are conservatively kept") {
    val dir = tmpDir("bloomspec_pre")
    val rt = ResourceTable(spark, s"$dir/T.parquet")
      .createIfNotExists(schema)
    // both batches cover the SAME interleaved key range, so min/max
    // stats can never separate them — only the bloom probe can, and
    // only for the second (indexed) batch's files
    val df1 = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows(800).map(r => Row(r.getLong(0), "old", r.getInt(2))),
        4), schema)
    rt.append(df1) // unindexed
    rt.enableBloomIndex(Seq("k"))
    val df2 = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows(800).map(r => Row(r.getLong(0), "new", r.getInt(2))),
        4), schema)
    rt.append(df2) // indexed
    val both = rt.read().filter(col("k") === 311L)
    assert(both.select("tag").collect().map(_.getString(0)).sorted
      .toSeq == Seq("new", "old"))
    val idx = statsIndexOf(both)
    // all 4 unindexed files kept (conservative), indexed 4 prune to ~1
    assert(idx.lastScanned == 8)
    assert(idx.lastMaterialized >= 5 && idx.lastMaterialized < 8,
      s"materialized ${idx.lastMaterialized}")
  }

  test("deletion vectors only add false positives — results stay exact") {
    val rt = freshTable(tmpDir("bloomspec_dv"))
    rt.enableDeletionVectors()
    rt.deleteWhere(col("k") === 311L)
    assert(rt.read().filter(col("k") === 311L).count() == 0)
    assert(rt.read().filter(col("k") === 312L).count() == 1)
  }

  test("probeKeepCap abandons pruning, never correctness") {
    val dir = tmpDir("bloomspec_cap")
    val rt = freshTable(dir)
    spark.conf.set("graft.table.bloomIndex.probeKeepCap", "0")
    try {
      val df = rt.read().filter(col("k") === 311L)
      assert(df.count() == 1)
      assert(statsIndexOf(df).lastMaterialized == 8) // no pruning
    } finally
      spark.conf.unset("graft.table.bloomIndex.probeKeepCap")
  }

  test("rewrites re-index; vacuum reaps the dead directory's sidecar") {
    val dir = tmpDir("bloomspec_vac")
    val rt = freshTable(dir)
    val root = new HPath(s"$dir/T.parquet")
    val fsys = root.getFileSystem(
      spark.sessionState.newHadoopConf())
    def sidecars() = fsys.listStatus(BloomIndex.indexRoot(root))
      .map(_.getPath.getName).toSet
    val before = sidecars()
    assert(before.nonEmpty)
    rt.optimize(numFiles = 4) // full rewrite → new dir, new sidecar
    assert(sidecars().size == before.size + 1)
    // lookup still prunes through the rewritten files
    val post = rt.read().filter(col("k") === 101L)
    assert(post.count() == 1)
    assert(statsIndexOf(post).lastMaterialized < 4)
    rt.vacuum(retentionMs = 0L)
    val after = sidecars()
    assert(!after.exists(before.contains),
      s"dead dir's sidecar survived vacuum: $after")
    assert(after.size == 1) // the rewrite's own sidecar remains
  }

  test("mapped rename keeps the index live under the new logical name") {
    val dir = tmpDir("bloomspec_ren")
    val rt = freshTable(dir)
    rt.enableColumnMapping()
    rt.renameColumn("k", "key_id")
    assert(rt.bloomIndexColumns.contains("key_id"))
    val post = rt.read().filter(col("key_id") === 311L)
    assert(post.collect().map(_.getLong(0)).toSeq == Seq(311L))
    // physical column (and sidecar keying) unchanged → still prunes
    assert(statsIndexOf(post).lastMaterialized < 8)
  }

  test("huge-manifest streaming read path also probes the index") {
    val dir = tmpDir("bloomspec_stream")
    val rt = freshTable(dir)
    spark.conf.set("graft.manifest.streamPlanBytes", "1")
    try {
      val df = rt.read().filter(col("k") === 311L)
      assert(df.count() == 1)
      val idx = statsIndexOf(df)
      assert(idx.lastMaterialized < 8,
        s"streaming path did not bloom-prune: ${idx.lastMaterialized}")
    } finally spark.conf.unset("graft.manifest.streamPlanBytes")
  }
}
