package lakebench

import graft.tables.{DeltaExport, ResourceTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Compares the engine's tables with the generator's expected state. */
object Verify {

  /** Typed columns checked per resource type, each with the value the
    * generator expects in it.
    */
  def typedColumns(rtype: String): Seq[(Column, Res => String)] = {
    val common = Seq[(Column, Res => String)](
      col("id") -> (_.id),
      col("meta.versionId") -> (_.version.toString),
      col("meta.lastUpdated") -> (_.lastUpdated))
    val specific: Seq[(Column, Res => String)] = rtype match {
      case "Observation" => Seq(
        col("status") -> (_.status),
        col("code.coding").getItem(0).getField("code") -> (_.code),
        col("subject.reference") -> (r => s"Patient/${r.subject}"),
        col("valueQuantity.value").cast("string") ->
          (r => BigDecimal(r.cents, 2).setScale(6).bigDecimal.toPlainString))
      case "Patient" => Seq(
        col("gender") -> (_.gender),
        col("birthDate") -> (r => Gen.date(r.day)))
      case "Encounter" | "Procedure" | "MedicationStatement" => Seq(col("status") -> (_.status))
      case "Condition" => Seq(col("code.coding").getItem(0).getField("code") -> (_.code))
      case _ => Seq.empty
    }
    common ++ specific
  }

  /** (rows, distinct ids, xor of row hashes) over the typed columns and
    * the raw resource JSON.
    */
  private def summary(df: DataFrame, cols: Seq[Column]): (Long, Long, Long) = {
    val r = df.select(xxhash64(concat_ws("\u0001", cols: _*)).as("h"), cols.head.as("k"))
      .agg(count(lit(1)), countDistinct(col("k")), coalesce(bit_xor(col("h")), lit(0L)))
      .first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def tableSummary(df: DataFrame, rtype: String): (Long, Long, Long) =
    summary(df, typedColumns(rtype).map(_._1) :+ col("resource_json"))

  private def expectedSummary(spark: SparkSession, rtype: String,
                              rs: Seq[Res]): (Long, Long, Long) = {
    import spark.implicits._
    val fs = typedColumns(rtype).map(_._2) :+ ((r: Res) => r.json)
    val df = rs.map(r => fs.map(_(r))).toDF("v")
    summary(df, fs.indices.map(i => col("v").getItem(i)))
  }

  /** Mismatch descriptions for every type table under `db` (empty when
    * all equal the expected state, and so do their exported Delta logs).
    */
  def tables(spark: SparkSession, db: String, types: Seq[String], state: State): Seq[String] = {
    // one type per thread: each check is a few small jobs, dominated by
    // per-job latency rather than data
    val pool = java.util.concurrent.Executors.newFixedThreadPool(types.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(types)(rt => Future(table(spark, db, rt, state))),
      Duration.Inf).flatten
    finally pool.shutdown()
  }

  private def table(spark: SparkSession, db: String, rt: String, state: State): Seq[String] = {
    val path = s"$db/$rt.parquet"
    val expected = state.liveOf(rt).toSeq
    val t = ResourceTable(spark, path)
    if (!t.exists) {
      if (expected.isEmpty) Nil else Seq(s"$rt: table missing, ${expected.size} rows expected")
    } else {
      val want = expectedSummary(spark, rt, expected)
      val got = tableSummary(t.read(), rt)
      val exported = tableSummary(DeltaExport.readSnapshot(spark, path), rt)
      (if (got != want) Seq(s"$rt: table $got != expected $want") else Nil) ++
        (if (exported != got) Seq(s"$rt: exported _delta_log $exported != table $got") else Nil)
    }
  }
}
