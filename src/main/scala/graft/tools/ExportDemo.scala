package graft.tools

import graft.tables.{DeltaExport, ResourceTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builds a demo table with a non-trivial history — upserts, a
  * mergeSchema evolution, a delete, idempotent txn appends, enough
  * commits to trigger a delta checkpoint — exports its `_delta_log`
  * with change data, and dumps the EXPECTED current snapshot as plain
  * parquet. `tools/check_delta_export.py` then replays the exported
  * log with an INDEPENDENT reader (DuckDB + the json/parquet files
  * directly, zero graft code) and hash-compares: the external-reader
  * proof the in-repo `DeltaExport.readSnapshot` round trip cannot
  * give by itself.
  *
  * The reader replays the newest checkpoint plus the json tail. The
  * demo runs no log cleanup, so the json chain from version 0
  * survives: the checker also compares the checkpoint's metaData with
  * the json log and replays every change-data commit. Cleanup's own
  * trimming is pinned by DeltaExportSpec and CdfExportSpec.
  *
  * Usage: runMain graft.tools.ExportDemo <outDir> [sfDir] [v2]
  * A third arg of `v2` exports V2 (uuid-manifest + sidecar)
  * checkpoints instead of classic ones, so the independent reader
  * proves BOTH checkpoint layouts externally readable.
  */
object ExportDemo {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_export_demo")
    val sf = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.lift(2).contains("v2"))
      spark.conf.set("spark.graft.export.checkpointV2", "true")

    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    val path = s"$out/table.parquet"
    // clustered: the exported log carries the clustering writer
    // feature + delta.clustering domain, and the reader's checkpoint +
    // tail replay proves the domain survives in the checkpoint (the
    // python reader's feature-implies-domain check)
    val t = ResourceTable(spark, path)
      .createIfNotExists(cust.schema, clusterCols = Seq("c_custkey"))
      .enableChangeDataFeed()

    // history: base load, then 12 single-row upserts (descending
    // acctbal so stats vary per file), a schema evolution, a delete,
    // two txn-watermarked appends — 17 commits, comfortably past the
    // 10-commit checkpoint cadence
    t.upsert(cust, "c_custkey")
    DeltaExport.export(t)
    (1 to 12).foreach { i =>
      t.upsert(cust.filter(col("c_custkey") === i)
        .withColumn("c_acctbal", col("c_acctbal") + i * 10.0), "c_custkey")
    }
    t.upsert(cust.limit(5).withColumn("flagged", lit(true)),
      "c_custkey", mergeSchema = true)
    t.deleteMatching(cust.filter(col("c_custkey") % 97 === 0)
      .select("c_custkey"), "c_custkey")
    t.append(cust.filter(col("c_custkey") === 1)
      .withColumn("c_custkey", col("c_custkey") + 1000000L)
      .withColumn("flagged", lit(false)), txn = Some(("demoSink", 3L)))
    t.append(cust.filter(col("c_custkey") === 2)
      .withColumn("c_custkey", col("c_custkey") + 2000000L)
      .withColumn("flagged", lit(false)), txn = Some(("demoSink", 4L)))
    val dv = DeltaExport.export(t)

    t.read().coalesce(1)
      .write.mode("overwrite").parquet(s"$out/expected.parquet")
    println(s"""{"table":"$path","deltaVersion":$dv,""" +
      s""""expected":"$out/expected.parquet"}""")
    spark.stop()
  }
}
