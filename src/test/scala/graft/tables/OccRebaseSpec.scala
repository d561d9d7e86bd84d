package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Optimistic commit REBASE (Delta ConflictChecker shape): a writer
  * that loses the commit election but is logically disjoint from the
  * winner re-anchors its already-written files on the new head —
  * zero recompute — instead of re-running the whole operation.
  *
  * The witness that NO re-run happened: the snapshot directory name
  * is minted as `snap-<version>-<uuid>` at first attempt, BEFORE the
  * election. A rebased commit therefore publishes a version HIGHER
  * than its dir prefix; a re-run writes a fresh dir with the new
  * version. Specs read the commit body's `dir` field to tell the two
  * apart.
  */
class OccRebaseSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("v", IntegerType)))

  private def df(rows: (String, Int)*) = rows.toDF("id", "v")

  private def newTable(name: String): ResourceTable =
    ResourceTable(spark, s"${SparkSpec.tmpDir(name)}/T.parquet")
      .createIfNotExists(schema)

  /** dir-prefix version recorded in commit v (`snap-<v>-<uuid>`). */
  private def dirVersion(t: ResourceTable, v: Long): Long =
    t.commit(v).dir.split('-')(1).toLong

  test("disjoint upsert REBASES: files written once, re-anchored on the new head") {
    val t = newTable("occ1")
    t.upsert(df("aaa" -> 1), "id") // v1
    val rival = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      rival.upsert(df("rrr" -> 7), "id") // rival wins v2, keys disjoint
    }
    t.upsert(df("bbb" -> 5), "id") // planned v2, rebases onto v3
    assert(t.latestVersion.contains(3L))
    // the rebase witness: v3's data dir was minted for v2
    assert(dirVersion(t, 3L) === 2L)
    assert(t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      === Map("aaa" -> 1, "rrr" -> 7, "bbb" -> 5))
    // history linear, winner's snapshot intact
    assert(t.readVersion(2).collect().map(_.getString(0)).toSet
      === Set("aaa", "rrr"))
  }

  test("overlapping upsert RE-RUNS: winner's row must be rewritten") {
    val t = newTable("occ2")
    t.upsert(df("aaa" -> 1), "id")
    val rival = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      rival.upsert(df("bbb" -> 100), "id") // same key the loser writes
    }
    t.upsert(df("bbb" -> 5), "id")
    assert(t.latestVersion.contains(3L))
    // re-run witness: the dir was re-minted at the new version
    assert(dirVersion(t, 3L) === 3L)
    // serialization: the loser committed last, its value stands
    assert(t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      === Map("aaa" -> 1, "bbb" -> 5))
  }

  test("append rebases across ANY disjoint winner") {
    val t = newTable("occ3")
    t.append(df("aaa" -> 1)) // v1
    val rival = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      rival.upsert(df("aaa" -> 99), "id") // REWRITES the base file
    }
    t.append(df("bbb" -> 2)) // append removes nothing: still rebases
    assert(t.latestVersion.contains(3L))
    assert(dirVersion(t, 3L) === 2L)
    assert(t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      === Map("aaa" -> 99, "bbb" -> 2))
  }

  test("OPTIMIZE rebases across a concurrent append (maintenance-vs-stream race)") {
    val t = newTable("occ4")
    t.upsert(df("aaa" -> 1, "bbb" -> 2), "id") // v1
    t.upsert(df("ccc" -> 3), "id")             // v2: second file
    val rival = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      rival.append(df("zzz" -> 9)) // stream keeps writing during compaction
    }
    t.optimize(numFiles = 1)
    assert(t.latestVersion.contains(4L))
    assert(dirVersion(t, 4L) === 3L) // compaction output re-anchored
    // the concurrent append's row SURVIVES the compaction commit
    assert(t.read().collect().map(_.getString(0)).toSet
      === Set("aaa", "bbb", "ccc", "zzz"))
    // and the winner's file is carried by reference: 1 compacted + 1 appended
    assert(t.fileManifest(4L).size === 2)
  }

  test("optimize re-runs when the winner rewrote a file it was compacting") {
    val t = newTable("occ5")
    t.upsert(df("aaa" -> 1), "id")
    val rival = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      rival.upsert(df("aaa" -> 99), "id") // rewrites the file under compaction
    }
    t.optimize(numFiles = 1)
    assert(t.latestVersion.contains(3L))
    assert(dirVersion(t, 3L) === 3L) // write-set check forced a re-run
    assert(t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      === Map("aaa" -> 99))
  }

  test("schema change by the winner forces a re-run") {
    val t = newTable("occ6")
    t.upsert(df("aaa" -> 1), "id")
    val rival = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      // the winner WIDENS the schema; keys stay disjoint, so only the
      // schema check can (and must) decline the rebase
      rival.upsert(Seq(("rrr", 7, "x")).toDF("id", "v", "extra"), "id",
        mergeSchema = true)
    }
    t.upsert(Seq(("bbb", 2, "y")).toDF("id", "v", "extra"), "id",
      mergeSchema = true)
    assert(t.latestVersion.contains(3L))
    assert(dirVersion(t, 3L) === 3L)
    assert(t.read().schema.fieldNames.toSet === Set("id", "v", "extra"))
    assert(t.read().count() === 3)
  }

  test("same-appId txn watermark advanced by a twin forces a re-run, not a double apply") {
    val t = newTable("occ7")
    t.append(df("aaa" -> 1))
    val twin = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      // a restarted twin of the same sink delivers the same batch first
      twin.append(df("bbb" -> 2), txn = Some(("sinkA", 5L)))
    }
    val n = t.append(df("bbb" -> 2), txn = Some(("sinkA", 5L)))
    assert(n === 0L) // replay detected on the re-run
    assert(t.read().count() === 2) // not 3: the batch applied exactly once
  }

  test("DV delete rebases across a disjoint append, bitmaps intact") {
    val t = newTable("occ8")
    t.enableDeletionVectors()
    t.upsert(df("aaa" -> 1, "bbb" -> 2), "id") // v1
    val rival = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      rival.append(df("zzz" -> 9))
    }
    t.deleteMatching(Seq("aaa").toDF("id"), "id")
    assert(t.latestVersion.contains(3L))
    assert(t.read().collect().map(_.getString(0)).toSet
      === Set("bbb", "zzz"))
    // the DV'd file and the winner's file both live in the manifest
    assert(t.fileManifest(3L).size === 2)
  }

  test("insert-if-absent re-runs when the winner REMOVED an overlapping key") {
    val t = newTable("occ9")
    t.upsert(df("aaa" -> 1, "bbb" -> 2), "id")
    val rival = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      rival.deleteMatching(Seq("bbb").toDF("id"), "id")
    }
    // "bbb" existed at plan time (insert skipped); the winner deleted
    // it → keep-first must re-decide and INSERT it
    val n = t.insertIfAbsent(df("bbb" -> 50), "id")
    assert(n === 1L)
    assert(t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      === Map("aaa" -> 1, "bbb" -> 50))
  }

  test("rename column rebases across a concurrent append") {
    val t = newTable("occ10")
    t.enableColumnMapping()
    t.upsert(df("aaa" -> 1), "id")
    val rival = ResourceTable(spark, t.path)
    t.onBeforePublish = () => {
      t.onBeforePublish = () => ()
      rival.append(df("bbb" -> 2))
    }
    t.renameColumn("v", "val")
    assert(t.read().schema.fieldNames.toSet === Set("id", "val"))
    // both rows readable under the renamed schema
    assert(t.read().select("val").as[Int].collect().sorted === Array(1, 2))
  }
}
