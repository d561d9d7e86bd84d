package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.Random

/** Export-protocol FUZZING (VERDICT r14 item 7): ExportProtocolSpec
  * pins the five known advisory edges; this spec randomizes the
  * feature lattice — DV × columnMapping × ICT × ntz × widening ×
  * appendOnly × CDF × rowTracking × clustering — with and without
  * MID-LOG upgrades
  * and across the 10-commit checkpoint cut — plus FOREIGN-WRITER
  * domainMetadata injection (an unknown domain appended to an exported
  * entry must survive every later checkpoint rebuild verbatim) — and
  * round-trips every combination through BOTH readers:
  *
  *  1. [[DeltaExport.readSnapshot]] must equal the table's own read
  *     (row multiset, compared per trial in-process), and
  *  2. the INDEPENDENT python reader (tools/check_delta_export.py via
  *     the one-process batch driver tools/check_many_exports.py, zero
  *     graft code) must replay every log to the same snapshot AND
  *     verify stats bounds, DV decodes, txn watermarks, version
  *     checksums and the CDF multiset identity per commit.
  *
  * Seeded deterministically so CI is reproducible; override with
  * SPARK_GRAFT_FUZZ_SEED / SPARK_GRAFT_FUZZ_N (default 100 trials —
  * the "≥100 random feature/history combos" bar).
  */
class ExportFuzzSpec extends SparkSpec {
  import graft.SparkSpec._

  private val trials =
    sys.env.get("SPARK_GRAFT_FUZZ_N").map(_.toInt).getOrElse(100)
  private val seed =
    sys.env.get("SPARK_GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260815L)

  private case class Feat(
      dv: Boolean, mapping: Boolean, ict: Boolean, ntz: Boolean,
      widen: Boolean, appendOnly: Boolean, cdf: Boolean,
      rowTracking: Boolean,
      // upgrade points: -1 = at create, else after that many commits
      mappingAt: Int, ictAt: Int, rowTrackingAt: Int,
      rename: Boolean, clustered: Boolean, nCommits: Int)

  private def draw(rng: Random): Feat = {
    // appendOnly forbids dataChange removes, so it excludes DV deletes
    // and overwrites by construction (the protocol enforces exactly
    // that; the fuzzer respects it rather than asserting refusals here)
    val appendOnly = rng.nextInt(5) == 0
    val dv = !appendOnly && rng.nextBoolean()
    val mapping = rng.nextBoolean()
    val cdf = rng.nextBoolean()
    // ~1 in 4 histories cross the 10-commit checkpoint cut
    val n = if (rng.nextInt(4) == 0) 11 + rng.nextInt(4)
            else 3 + rng.nextInt(6)
    Feat(
      dv = dv,
      mapping = mapping,
      ict = rng.nextBoolean(),
      ntz = rng.nextBoolean(),
      widen = rng.nextBoolean(),
      appendOnly = appendOnly,
      cdf = cdf,
      rowTracking = rng.nextBoolean(),
      mappingAt = if (rng.nextBoolean()) -1 else rng.nextInt(3),
      ictAt = if (rng.nextBoolean()) -1 else rng.nextInt(3),
      rowTrackingAt = if (rng.nextBoolean()) -1 else rng.nextInt(3),
      // rename × CDF composes since cdc files follow the data files'
      // PHYSICAL naming under column mapping (rename-stable) — the
      // independent reader maps final-logical -> physical per file
      rename = mapping && rng.nextBoolean(),
      // clustered trials export the clustering writer feature + the
      // delta.clustering domain; combined with nCommits >= 11 they
      // prove the domain survives CHECKPOINT-only replay (the python
      // reader's feature-implies-domain check runs on every trial)
      clustered = rng.nextInt(3) == 0,
      nCommits = n)
  }

  private def schemaFor(f: Feat): StructType = {
    val base = Seq(
      StructField("id", StringType),
      StructField("v", IntegerType))
    StructType(
      if (f.ntz) base :+ StructField("at", TimestampNTZType) else base)
  }

  /** Source rows matching the table's CURRENT schema: after the
    * mid-history widening the source must carry the long `v` and the
    * added `extra` column (the table schema is pinned — a source
    * missing a table column is refused by design), and after the
    * column-mapping rename the logical name is `val`.
    */
  private def rowsFor(f: Feat, keys: Seq[String], v: Int,
                      widened: Boolean, renamed: Boolean): DataFrame = {
    val vName = if (renamed) "val" else "v"
    val fields = Seq(StructField("id", StringType),
      StructField(vName, if (widened) LongType else IntegerType)) ++
      (if (f.ntz) Seq(StructField("at", TimestampNTZType)) else Nil) ++
      (if (widened) Seq(StructField("extra", StringType)) else Nil)
    val rows = keys.map { k =>
      val vv: Any = if (widened) v.toLong else v
      val cells = Seq[Any](k, vv) ++
        (if (f.ntz) Seq(java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
          .plusMinutes(v.toLong)) else Nil) ++
        (if (widened) Seq(s"x$v") else Nil)
      Row(cells: _*)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), StructType(fields))
  }

  private def runTrial(i: Int, base: String,
                       manifest: StringBuilder): Unit = {
    val rng = new Random(seed + i)
    val f = draw(rng)
    // a third of the trials run the whole history + export over the
    // fake S3-semantics store (non-atomic create, conditional-PUT
    // elections, listing latency) — the full feature lattice must
    // hold on an object store, not just file:// (bytes land at the
    // same local dir, so the independent python reader replays the
    // log unchanged)
    val localPath = s"$base/t$i.parquet"
    val path = if (i % 3 == 2) s"s3x://$localPath" else localPath
    var t = ResourceTable(spark, path).createIfNotExists(schemaFor(f),
      clusterCols = if (f.clustered) Seq("id") else Seq.empty)
    if (f.appendOnly) t = t.setAppendOnly()
    if (f.dv) t = t.enableDeletionVectors()
    if (f.cdf) t = t.enableChangeDataFeed()
    if (f.mapping && f.mappingAt < 0) t = t.enableColumnMapping()
    if (f.ict && f.ictAt < 0) t = t.enableInCommitTimestamps()
    if (f.rowTracking && f.rowTrackingAt < 0) t = t.enableRowTracking()

    var nextKey = 0
    var live = Set.empty[String]
    var widened = false
    var renamed = false
    var injectedDomain = false
    var injectedAtV = ""
    (0 until f.nCommits).foreach { c =>
      // mid-log feature upgrades land between commits — the protocol
      // row must restate correctly through later checkpoints
      if (f.mapping && f.mappingAt == c) t = t.enableColumnMapping()
      if (f.ict && f.ictAt == c) t = t.enableInCommitTimestamps()
      if (f.rowTracking && f.rowTrackingAt == c) t = t.enableRowTracking()

      val roll = rng.nextInt(10)
      if (f.appendOnly || roll < 5 || live.isEmpty) {
        // zero-padded keys: each fresh batch's id range sorts ABOVE
        // every earlier file's max, so appendOnly inserts are pure
        // appends (an unpadded k10 lands inside [k1,k9] and the merge
        // would rewrite — remove — the overlapping file)
        val keys = (0 until 2 + rng.nextInt(3)).map { _ =>
          nextKey += 1; f"k$nextKey%05d"
        }
        t.upsert(rowsFor(f, keys, c, widened, renamed), "id")
        live ++= keys
      } else if (roll < 7) { // overwrite upsert
        val k = live.toSeq.sorted.apply(rng.nextInt(live.size))
        t.upsert(rowsFor(f, Seq(k), 100 + c, widened, renamed), "id")
      } else if (roll < 9) { // delete (DV route when enabled)
        val k = live.toSeq.sorted.apply(rng.nextInt(live.size))
        t.deleteWhere(col("id") === k)
        live -= k
      } else { // maintenance (append-only exempt by protocol design)
        rng.nextInt(3) match {
          case 0 => t.compactSmallFiles(minBytes = 1L << 26,
            targetBytes = 1L << 26, numFiles = Some(1))
          case 1 => t.optimize(numFiles = 2)
          case _ =>
            // REORG PURGE: only rewrites files whose DV dead fraction
            // qualifies — a no-op commit-free pass on DV-less tables
            t.purgeDeletionVectors(minDeadFraction = 0.01)
        }
      }
      // widening mid-history: int v -> long via mergeSchema (old files
      // served widened in place, a new metaData restates the schema)
      if (f.widen && !widened && c == f.nCommits / 2) {
        widened = true
        val k = { nextKey += 1; f"k$nextKey%05d" }
        t.upsert(rowsFor(f, Seq(k), 999, widened = true,
          renamed = renamed), "id", mergeSchema = true)
        live += k
      }
      // column-mapping rename mid-history: physical names stay pinned,
      // the logical rename rides a metaData restatement
      if (f.rename && !renamed && c == f.nCommits - 2 &&
          !t.clusterBy().contains("v")) {
        renamed = true
        t.renameColumn("v", "val")
      }
      // interleaved exports at random points exercise incremental
      // export + the 10-commit checkpoint cut (final export below)
      if (rng.nextInt(3) == 0) {
        DeltaExport.export(t)
        // FOREIGN-WRITER domain injection (half the trials that export
        // early): append an unknown domainMetadata action to the
        // newest exported entry — a later checkpoint must carry it
        // forward verbatim (asserted below), never silently rebuild
        // only graft's own domains
        if (!injectedDomain && rng.nextBoolean()) {
          val logDir = new java.io.File(s"$localPath/_delta_log")
          val all = Option(logDir.listFiles()).toSeq.flatten
          // only inject ABOVE the newest checkpoint: an entry at or
          // below it is never part of a later rebuild's tail, so the
          // domain would be legitimately invisible to the next
          // checkpoint (replay starts at the checkpoint)
          val ckV = all.filter(_.getName.contains(".checkpoint"))
            .map(_.getName.take(20)).sorted.lastOption.getOrElse("")
          val newest = all
            .filter(_.getName.matches("\\d{20}\\.json"))
            .sortBy(_.getName).lastOption
            .filter(_.getName.take(20) > ckV)
          newest.foreach { e =>
            java.nio.file.Files.write(e.toPath,
              ("""{"domainMetadata":{"domain":"com.example.fuzz","configuration":"{\"i\":""" +
                i + """}","removed":false}}""" + "\n")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8),
              java.nio.file.StandardOpenOption.APPEND)
            java.nio.file.Files.deleteIfExists(
              new java.io.File(logDir, s".${e.getName}.crc").toPath)
            injectedDomain = true
            injectedAtV = e.getName.take(20)
          }
        }
      }
    }
    DeltaExport.export(t)

    // a checkpoint cut AFTER the foreign-domain injection must have
    // carried the unknown domain forward (classic single/multi-part
    // and V2 manifests all keep non-file actions in the named
    // checkpoint files)
    if (injectedDomain) {
      val logDir = new java.io.File(s"$localPath/_delta_log")
      val ckParts = Option(logDir.listFiles()).toSeq.flatten
        .filter(_.getName.matches("\\d{20}\\.checkpoint.*\\.parquet"))
      // only checkpoints cut AT/after the injected entry can have
      // replayed it — an older checkpoint predates the injection
      val newestCk = ckParts.map(_.getName.take(20)).sorted.lastOption
        .filter(_ >= injectedAtV)
      newestCk.foreach { v =>
        val parts = ckParts.filter(_.getName.startsWith(v))
          .map(_.toString)
        val doms = spark.read.parquet(parts: _*)
          .filter("domainMetadata IS NOT NULL")
          .select("domainMetadata.domain")
          .collect().map(_.getString(0)).toSet
        assert(doms.contains("com.example.fuzz"),
          s"trial $i ($f): checkpoint $v dropped the foreign domain " +
            s"(kept: $doms)")
      }
    }

    // reader 1: readSnapshot equals the table's own snapshot (multiset)
    val mine = t.read().collect().map(_.toString).sorted.toSeq
    val theirs = DeltaExport.readSnapshot(spark, path).collect()
      .map(_.toString).sorted.toSeq
    assert(theirs == mine,
      s"trial $i ($f): readSnapshot diverged\n" +
        s" table: $mine\n export: $theirs")

    // reader 2 (batched below): dump the expected snapshot. The
    // manifest records the LOCAL path — the python reader replays the
    // bytes directly, independent of the scheme Spark wrote through
    val exp = s"$base/expected$i"
    t.read().coalesce(1).write.mode("overwrite").parquet(exp)
    manifest.synchronized {
      manifest.append(localPath).append('\t').append(exp).append('\n')
    }
  }

  test(s"fuzz: $trials random feature/history combos — readSnapshot " +
      "and the independent python reader both replay every log " +
      "(every third trial over the S3-semantics store)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3x.impl", classOf[S3LikeFs].getName)
    val base = tmpDir("xfuzz")
    val manifest = new StringBuilder
    // trials are independent tables — run them on a small pool
    // (Spark schedules concurrent tiny jobs fine; wall-clock here is
    // mostly per-job latency, not CPU)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until trials).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          try runTrial(i, base, manifest)
          catch { case e: Throwable => failures.add(e) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(30, java.util.concurrent.TimeUnit.MINUTES))
    if (!failures.isEmpty) throw failures.peek()
    val mf = Paths.get(base, "manifest.tsv")
    Files.write(mf, manifest.toString.getBytes(StandardCharsets.UTF_8))
    val pb = new ProcessBuilder("python3", "tools/check_many_exports.py",
      mf.toString)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    proc.waitFor()
    assert(proc.exitValue() == 0,
      s"python reader failed:\n${ExportFuzzSpec.failureReport(out)}")
    assert(out.contains(s"$trials ok / 0 fail"), out.linesIterator
      .filter(_.contains("ok /")).mkString("\n"))
  }

  test("failure report carries each failing table's full check log") {
    val out = Seq("FUZZ-OK   /t/a", "FUZZ-FAIL /t/b: exit 1",
      "snapshot: 3 rows MATCH", "ckpt-meta v10: MISMATCH schemaString",
      "FUZZ-OK   /t/c", "FUZZ-FAIL /t/d: KeyError: 'add'",
      "replayed 4 entries", "2 ok / 2 fail of 4 exports").mkString("\n")
    assert(ExportFuzzSpec.failureReport(out) == Seq(
      "FUZZ-FAIL /t/b: exit 1", "snapshot: 3 rows MATCH",
      "ckpt-meta v10: MISMATCH schemaString",
      "FUZZ-FAIL /t/d: KeyError: 'add'", "replayed 4 entries",
      "2 ok / 2 fail of 4 exports").mkString("\n"))
  }
}

object ExportFuzzSpec {
  private val Summary = """\d+ ok / \d+ fail.*""".r

  /** The checker output reduced to every failing table's full log —
    * its `FUZZ-FAIL` line and each line up to the next `FUZZ-` line —
    * plus the summary line. The reason a table failed (a `MISMATCH`
    * line, a replay error) follows its `FUZZ-FAIL` line, not on it.
    */
  def failureReport(out: String): String = {
    var inFail = false
    out.linesIterator.filter { l =>
      if (l.startsWith("FUZZ-")) inFail = l.startsWith("FUZZ-FAIL")
      else if (Summary.matches(l)) inFail = true
      inFail
    }.mkString("\n")
  }
}
