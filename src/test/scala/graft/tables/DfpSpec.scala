package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dynamic file pruning (`ResourceTable.joinPruned`): a join whose
  * only selectivity lives on the DIM side must still shrink the fact
  * scan — the dim key set becomes a fact-side IN filter pruned by
  * manifest min/max stats (the InSet skipping case) — while producing
  * EXACTLY the rows of the plain join. Covers: key-set path, the
  * over-cap [min,max] range fallback, empty dim, left_semi, the
  * outer-join rejection, and the files-scanned telemetry.
  */
class DfpSpec extends SparkSpec {
  import graft.SparkSpec._

  private val factSchema = StructType(Seq(
    StructField("fk", LongType),
    StructField("payload", StringType)))

  /** Fact table clustered by fk: optimize() gives files with disjoint
    * fk ranges, so a selective key set should open few files.
    */
  private def fact(dir: String, n: Int = 1000): ResourceTable = {
    val rt = ResourceTable(spark, s"$dir/fact.parquet")
      .createIfNotExists(factSchema, clusterCols = Seq("fk"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until n).map(i => Row(i.toLong, s"p$i")), 4),
      factSchema)
    rt.append(df)
    rt.optimize(numFiles = 8)
    rt
  }

  private def dimOf(keys: Seq[Long]) = {
    import spark.implicits._
    keys.map(k => (k, s"d$k")).toDF("dk", "dname")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("joinPruned equals the plain join and scans fewer files") {
    val rt = fact(tmpDir("dfp1"))
    // 17 keys: past the In→InSet conversion threshold (10), so the
    // scan-level prune exercises the InSet stats case; 5000 misses
    val dim = dimOf(Seq(3L, 7L, 5000L) ++ (900L to 913L))
    val got = rt.joinPruned(dim, "fk", "dk")
      .select(col("fk"), col("payload"), col("dname"))
    val want = rt.read().join(dim, col("fk") === col("dk"))
      .select(col("fk"), col("payload"), col("dname"))
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() == 16)
    val (kept, total) = rt.joinPrunedInfo(dim, "fk", "dk")
    assert(total == 8)
    // keys {3,7} ∪ [900,913] live in at most 3 of 8 disjoint-range files
    assert(kept <= 3, s"expected <=3 files kept, got $kept/$total")
  }

  test("over-cap dim degrades to the [min,max] range and stays exact") {
    val rt = fact(tmpDir("dfp2"))
    spark.conf.set("graft.table.dfp.maxKeys", "3")
    try {
      val dim = dimOf(Seq(100L, 101L, 102L, 103L, 110L)) // 5 > cap 3
      val got = rt.joinPruned(dim, "fk", "dk")
      assert(got.count() == 5)
      val (kept, total) = rt.joinPrunedInfo(dim, "fk", "dk")
      // range [100,110] intersects 1 of 8 files (125-wide ranges)
      assert(kept < total, s"range fallback should prune: $kept/$total")
    } finally spark.conf.unset("graft.table.dfp.maxKeys")
  }

  test("empty dim yields an empty inner join") {
    val rt = fact(tmpDir("dfp3"), n = 100)
    assert(rt.joinPruned(dimOf(Seq.empty), "fk", "dk").count() == 0)
    // the fact filter folds to an empty relation: no file is read
    val (kept, total) = rt.joinPrunedInfo(dimOf(Seq.empty), "fk", "dk")
    assert(kept == 0 && total > 0, s"$kept/$total")
    // all-null dim keys are the same: no key can match
    import spark.implicits._
    val nullDim = Seq((Option.empty[Long], "x")).toDF("dk", "dname")
    assert(rt.joinPruned(nullDim, "fk", "dk").count() == 0)
  }

  test("left_semi keeps only fact columns; outer joins are rejected") {
    val rt = fact(tmpDir("dfp4"), n = 100)
    val dim = dimOf(Seq(1L, 2L, 999L))
    val semi = rt.joinPruned(dim, "fk", "dk", "left_semi")
    assert(semi.columns.toSeq == Seq("fk", "payload"))
    assert(semi.count() == 2)
    intercept[IllegalArgumentException] {
      rt.joinPruned(dim, "fk", "dk", "left_outer")
    }
  }

  test("dim key type is cast to the fact key type") {
    val rt = fact(tmpDir("dfp5"), n = 50)
    import spark.implicits._
    val dim = Seq((3, "a"), (7, "b")).toDF("dk", "dname") // INT vs LONG
    assert(rt.joinPruned(dim, "fk", "dk").count() == 2)
  }
}
