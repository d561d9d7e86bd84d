package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType,
  FloatType, IntegerType, LongType, MetadataBuilder, ShortType,
  StructField, StructType}

import java.nio.charset.StandardCharsets

/** A versioned, ACID-ish table over Parquet: immutable data files plus a
  * Delta-style ordered commit log. This supplies the reference's Delta
  * Lake semantics (bzkf/fhir-to-lakehouse src/bundle_processor.py:168–321)
  * in an environment without the delta-spark jar:
  *
  *  - `createIfNotExists`  ≙ DeltaTable.createIfNotExists (S3)
  *  - `upsert`             ≙ MERGE whenMatchedUpdateAll /
  *                           whenNotMatchedInsertAll (J1)
  *  - `deleteMatching`     ≙ MERGE whenMatchedDelete (J2)
  *  - `optimize`           ≙ OPTIMIZE executeCompaction [+ clusterBy →
  *                           sortWithinPartitions analogue] (J3)
  *  - `vacuum`             ≙ VACUUM retentionHours (J4)
  *
  * Beyond that reference floor, the table grew the rest of the Delta
  * feature surface round-over-round (each with its own gate/spec —
  * the matrix lives in SURVEY.md §8): time travel (`readAsOf` /
  * `restore` / `shallowCloneTo`), change data feed (`changes` /
  * `changesByContent` + enableChangeDataFeed), schema evolution under
  * column mapping (`renameColumn` / `dropColumn`), deletion vectors
  * (`deleteMatchingDv` / `purgeDeletionVectors`), predicate DML
  * (`deleteWhere` / `updateWhere` / `overwriteWhere`), conditional
  * MERGE (`merge` builder), generated / identity / default columns and
  * CHECK constraints, row tracking (`enableRowTracking` /
  * `readWithRowIds`), in-commit timestamps, append-only enforcement,
  * bloom file-skipping indexes, size-targeted + incremental OPTIMIZE
  * (`optimizeBySize` / `compactSmallFiles`), and
  * idempotent-writer txn watermarks (`withTransaction` / `txnVersion`).
  *
  * Commit protocol — FILE-GRANULAR, like Delta's MERGE rewrite scope:
  * every commit file `_log/<v%020d>.commit` embeds the snapshot's full
  * data-file MANIFEST (root-relative paths + per-file min/max/null
  * stats) and schema. A mutation writes ONLY the files it must — new
  * rows plus rewrites of the files whose key-range stats overlap the
  * batch — into a brand-new *writer-unique* dir `snap-<v>-<uuid>`, and
  * carries every untouched file forward BY REFERENCE in the manifest.
  * The commit file is created with overwrite=false ⇒ optimistic
  * concurrency: a losing writer deletes its own orphan dir and retries
  * on the next version — it can never clobber the winner's published
  * files, because no two writers ever share a dir. Readers follow the
  * manifest of the highest commit — a consistent snapshot at all times,
  * no locks. Vacuum deletes files the current manifest does not
  * reference once they age past retention. The body format has ONE
  * codec, [[FileStats.Commit]]: `encode` writes every body, the
  * streaming [[FileStats.CommitStream]] parses every body, and every
  * reader here goes through `commit(v)` (memoized, completeness-gated)
  * or, for huge manifests, a stream of the same parser.
  *
  * At 100 TB this is the difference between O(batch ∩ table) and
  * O(table) of write amplification per micro-batch: an upsert whose
  * keys land in one clustered file rewrites exactly that file, exactly
  * like Delta MERGE prunes to matched files. `_log` reads are bounded
  * by a `_last_checkpoint` pointer written every `checkpointInterval`
  * commits (reference settings.py:48, checkpoint_interval=100):
  * `latestVersion` probes forward from the checkpoint instead of
  * listing the whole, ever-growing log.
  *
  * Scale notes: all data movement is `spark.read.parquet` →
  * `df.write.parquet` — fully distributed, no driver row
  * materialization. The merge anti-join broadcasts the bounded
  * micro-batch side (maxOffsetsPerTrigger) and falls back to a shuffled
  * join past `graft.table.merge.broadcastRowLimit` rows, so an
  * oversized backfill batch degrades to a shuffle instead of OOMing the
  * driver. Uses the Hadoop FileSystem API throughout so the same code
  * runs on HDFS/S3A, not just local disk.
  */
final class ResourceTable(val spark: SparkSession, val path: String,
                          val checkpointInterval: Int = 100,
                          optimizeWriteOverride: Option[Boolean] = None,
                          autoCompactOverride: Option[Boolean] = None) {
  import ResourceTable._

  private val root = new HPath(path)
  private[tables] def fs: FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())
  private def logDir = new HPath(root, "_log")
  private def commitFile(v: Long) = new HPath(logDir, f"$v%020d.commit")
  private def lastCheckpointFile = new HPath(logDir, "_last_checkpoint")

  /** Test-only seam: runs between the snapshot write and the
    * commit-file create, i.e. inside the optimistic-concurrency window.
    * Lets a spec inject a rival commit to deterministically exercise
    * the create-fails-if-exists conflict path.
    */
  private[graft] var onBeforePublish: () => Unit = () => ()
  /** Test-only: physical plan of the last merge anti-join (broadcast
    * vs shuffled fallback assertions).
    */
  private[tables] var lastMergePlan: Option[String] = None
  /** Test-only: #fs calls (probes or listed entries) of the last
    * latestVersion lookup — asserts checkpointed lookups stay O(tail),
    * not O(#commits).
    */
  private[tables] var lastLookupCost: Int = 0

  def exists: Boolean = fs.exists(logDir) && latestVersion.isDefined

  /** Whether version `v`'s commit file is still present in the log
    * (false once [[cleanupMetadata]] trimmed it). Presence of the
    * commit ≠ the version's DATA being intact — see `history()`'s
    * `is_intact` for that.
    */
  def versionExists(v: Long): Boolean = v >= 0 && fs.exists(commitFile(v))

  /** Whether commit `v` is a pure rearrangement (dataChange=false —
    * OPTIMIZE/compaction/purge): classified by the commit's explicit
    * flag since round 14, with the op-label heuristic as the fallback
    * for commits written before the flag existed.
    */
  private[tables] def isRearrangement(v: Long): Boolean =
    commit(v).isRearrangement

  /** Highest committed version. With a `_last_checkpoint` pointer the
    * lookup probes forward from the checkpointed version (O(commits
    * since checkpoint) existence checks); only checkpoint-less logs pay
    * the full O(#commits) listing.
    */
  def latestVersion: Option[Long] = {
    if (!fs.exists(logDir)) { lastLookupCost = 1; return None }
    checkpointHint() match {
      case Some(v) if fs.exists(commitFile(v)) =>
        var cur = v
        var cost = 2 // hint read + first probe
        while (fs.exists(commitFile(cur + 1))) { cur += 1; cost += 1 }
        lastLookupCost = cost
        Some(cur)
      case _ => // no/corrupt/stale checkpoint: authoritative listing
        val vs = loggedVersions()
        lastLookupCost = math.max(vs.length, 1)
        vs.lastOption
    }
  }

  /** Every version with a commit file in `_log`, ascending — the one
    * listing of the log (O(#commits); [[latestVersion]] avoids it
    * whenever a checkpoint hint exists).
    */
  private def loggedVersions(): Seq[Long] =
    fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.endsWith(".commit"))
      .map(_.stripSuffix(".commit").toLong).sorted.toSeq

  private def checkpointHint(): Option[Long] =
    try {
      if (!fs.exists(lastCheckpointFile)) None
      else """"version"\s*:\s*(\d+)""".r
        .findFirstMatchIn(readFile(lastCheckpointFile))
        .map(_.group(1).toLong)
    } catch { case _: Throwable => None } // a hint, never load-bearing

  /** Snapshot read of the current table state (S5). */
  def read(): DataFrame = latestVersion match {
    case Some(v) => readVersion(v)
    case None => throw new IllegalStateException(s"no table at $path")
  }

  /** Time travel: read any retained snapshot version (Delta's
    * `versionAsOf`). Vacuumed versions are gone; the commit log keeps
    * the full version history.
    */
  def readVersion(v: Long): DataFrame = {
    // a commit body past this size is a huge manifest (≳100k files):
    // its entries come from a CommitStream reopened on every planning
    // pass — entries prune as they parse, survivors are the only
    // driver-resident state — instead of from the memoized commit's
    // file list. Trade-offs of the streamed source, both deliberate: no
    // up-front vacuumed-file check (a missing file fails at execution
    // instead — an O(live files) check would defeat the point), and
    // legacy pre-bytes manifest rows cost one status probe per planning
    // pass instead of once.
    val huge = fs.getFileStatus(commitFile(v)).getLen > streamPlanBytes
    val c = if (huge) readCommit(v, withFiles = false) else commit(v)
    // the schema the COMMIT recorded, not the head's: after a RESTORE
    // to a pre-evolution version the head schema is narrower than a
    // later version's files, and reading v under it would silently
    // drop the evolved columns from a version that physically has
    // them (Delta's versionAsOf serves each version under its own
    // schema). Pre-schema-field commit bodies fall back to the head.
    val vSchema = c.schema.getOrElse(schema())
    // `fs` is a def that clones the Hadoop conf per call — hoist ONE
    // FileSystem for the whole manifest (1M per-entry clones ≈ minutes)
    val fsys = fs
    // plan through a StatsFileIndex over the COMMIT MANIFEST: file
    // statuses come from the recorded per-file bytes and mtime (zero FS
    // listing calls to plan — an explicit-path spark.read.parquet still
    // stats every file; `_metadata.file_modification_time` is real, not
    // epoch 0), and any filter a caller composes later prunes whole
    // files against the manifest's min/max/nullCount at plan time
    // (stats, plus the bloom hook below). Legacy pre-bytes/pre-mtime
    // manifest rows: ONE status probe fills both.
    def entry(rel: String, st: FileStats.FileStat): StatsFileIndex.Entry = {
      val p = fsys.makeQualified(resolve(rel))
      val (sz, mt) = (st.bytes, st.mtime) match {
        case (Some(b), Some(m)) => (b, m)
        case (b, m) =>
          val fst = fsys.getFileStatus(p)
          (b.getOrElse(fst.getLen), m.getOrElse(fst.getModificationTime))
      }
      StatsFileIndex.Entry(p, sz, mt, Some(st))
    }
    val (index, dvFiles) =
      if (!huge) {
        val files = c.manifest
        if (files.isEmpty)
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], vSchema)
        if (missingFiles(files.map(_._1)).nonEmpty)
          throw new IllegalStateException(
            s"version $v of $path was vacuumed")
        (new StatsFileIndex(new HPath(path),
          files.map { case (rel, st) => entry(rel, st) }), files)
      } else {
        val cf = commitFile(v)
        def entries(): Iterator[StatsFileIndex.Entry] = {
          val cs = new FileStats.CommitStream(() => fsys.open(cf))
          val underlying = cs.files.map { case (rel, st) => entry(rel, st) }
          // planning passes drain the stream fully — close the parser
          // (and its stream handle) at exhaustion instead of leaking it
          new Iterator[StatsFileIndex.Entry] {
            override def hasNext: Boolean = {
              val h = underlying.hasNext
              if (!h) cs.close()
              h
            }
            override def next(): StatsFileIndex.Entry = underlying.next()
          }
        }
        // DV pass: one extra stream retaining ONLY entries that carry a
        // dv — O(#DV files) driver state, so the huge-manifest budget
        // holds (deletes are recent and bounded; a manifest that is
        // mostly DVs should be compacted)
        val dvs = {
          val cs = new FileStats.CommitStream(() => fsys.open(cf))
          try cs.files.filter(_._2.dv.isDefined).toList
          finally cs.close()
        }
        (StatsFileIndex.streaming(new HPath(path), () => entries()), dvs)
      }
    // under column mapping the files store PHYSICAL names: scan
    // physical, alias back to this version's logical names after DV
    val vPhys = physSchema(vSchema)
    val undv = applyDv(spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index.withExtraPrune(bloomPruneHook),
        StructType(Nil),
        StatsFileIndex.relaxNullability(vPhys).asInstanceOf[StructType],
        None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
        Map.empty)(spark)), dvFiles)
    if (vPhys == vSchema) undv
    else undv.select(vSchema.fields.map(f =>
      col(physName(f)).as(f.name, f.metadata)): _*)
  }

  /** Commit bodies above this size are read through a streamed
    * manifest ([[readVersion]]). 8 MiB ≈ 50–100k file entries — past
    * the point where a resident file map is the dominant driver cost of
    * planning a read. Overridable (spec hook) via
    * `graft.manifest.streamPlanBytes` in the session conf.
    */
  private def streamPlanBytes: Long =
    spark.conf.getOption("graft.manifest.streamPlanBytes")
      .map(_.toLong).getOrElse(8L * 1024 * 1024)

  /** Version visible at `tsMs` — Delta `timestampAsOf` resolution: the
    * newest commit published at or before the timestamp. Walks the
    * commit list newest-first, so cost is O(commits newer than tsMs) +
    * one log listing. Legacy commits without a recorded timestamp are
    * skipped (conservative — never guess a publish time).
    */
  def versionAsOf(tsMs: Long): Long =
    loggedVersions().reverseIterator
      .find(v => commit(v).ts.exists(_ <= tsMs))
      .getOrElse(throw new IllegalArgumentException(
        s"$path has no snapshot at or before timestamp $tsMs"))

  /** Delta `timestampAsOf` read: the table as of a wall-clock instant. */
  def readAsOf(tsMs: Long): DataFrame = readVersion(versionAsOf(tsMs))

  /** Delta `RESTORE TABLE ... TO VERSION AS OF v` parity: publish a NEW
    * commit whose manifest and schema are version `v`'s. History is
    * preserved (the restore is itself a commit, like Delta's), no data
    * is copied — old files are carried by reference and become
    * vacuum-protected again as part of the head manifest. A vacuumed
    * version cannot be restored: fail fast naming the missing files.
    */
  def restore(v: Long): Long = retry() {
    val cur = latestVersion.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    require(v <= cur, s"cannot restore $path to unknown version $v")
    val target = commit(v)
    val files = target.manifest
    val missing = missingFiles(files.map(_._1))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"$path: version $v was vacuumed — cannot restore (missing " +
          s"${missing.take(3).mkString(", ")}" +
          (if (missing.size > 3) s" and ${missing.size - 3} more)" else ")"))
    val schemaJson = target.schemaJson.getOrElse(schema().json)
    commitFiles(None, files, schemaJson, Some(cur), op = "RESTORE",
      appendOnlyExempt = true)
  }

  // ---- column mapping (Delta name-mode) -----------------------------
  //
  // Logical→physical column names ride IN the schema's per-field
  // metadata (ResourceTable.PhysKey/IdKey), and the schema lives in
  // the commit body — so enable/rename/drop are each ONE atomic
  // metadata-only commit and the mapping time-travels with the
  // version, exactly like Delta's delta.columnMapping.* field
  // metadata. Parquet files always store PHYSICAL names (stable from
  // the moment mapping is enabled); readers scan physical and alias
  // back to logical; per-file stats stay keyed physical, so skipping
  // keeps working across renames with one name translation at the
  // predicate boundary.

  /** True when any field of `s` carries a physical-name mapping. */
  private def mapped(s: StructType): Boolean =
    s.fields.exists(_.metadata.contains(ResourceTable.PhysKey))

  private def physName(f: StructField): String =
    if (f.metadata.contains(ResourceTable.PhysKey))
      f.metadata.getString(ResourceTable.PhysKey)
    else f.name

  /** Physical name of a logical column under the CURRENT schema. */
  private[tables] def physNameOf(logical: String): String =
    schema().fields.find(_.name == logical).map(physName)
      .getOrElse(logical)

  /** `s` with every field renamed to its physical name (metadata
    * kept) — the schema parquet scans must use under mapping.
    */
  private def physSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physName(f))))

  /** Opt into column mapping (Delta `delta.columnMapping.mode=name`):
    * one metadata-only commit freezes each column's CURRENT name as
    * its permanent physical name (with a field id), after which
    * [[renameColumn]]/[[dropColumn]] are O(commit) metadata
    * operations — no data file is ever read or rewritten, at any
    * table size. Idempotent.
    */
  def enableColumnMapping(): ResourceTable = {
    retry() {
      val cur = latestVersion.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val s = schema()
      if (!mapped(s)) {
        val annotated = StructType(s.fields.zipWithIndex.map {
          case (f, i) => f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(ResourceTable.PhysKey, f.name)
              .putLong(ResourceTable.IdKey, i + 1L).build())
        })
        // metadata-only commit: rebase composes with any winner that
        // left the schema alone (the rebase schema check arbitrates)
        commitFiles(None, fileListAt(cur), annotated.json, Some(cur),
          op = "SET COLUMN MAPPING",
          rebase = Some(Rebase(fileListAt(cur), (_, _) => false))): Unit
      }
    }
    this
  }

  private def requireRenameSafe(name: String): Unit = {
    if (clusterBy().contains(name))
      throw new IllegalArgumentException(
        s"$path: column '$name' is a clustering column — re-cluster " +
          "(optimize with new clusterBy) before renaming/dropping it")
    val refs = checkConstraints().filter(_._2.matches(
      s".*\\b${java.util.regex.Pattern.quote(name)}\\b.*"))
    if (refs.nonEmpty)
      throw new IllegalArgumentException(
        s"$path: column '$name' is referenced by CHECK constraint(s) " +
          s"${refs.keys.mkString(", ")} — drop them first")
    // Delta refuses renaming/dropping columns involved in generation:
    // the stored SQL text would silently dangle (or worse, bind to a
    // later re-added column)
    val gens = generatedColumns()
    val genRefs = gens.filter { case (c, e) =>
      c == name || e.matches(
        s".*\\b${java.util.regex.Pattern.quote(name)}\\b.*")
    }
    if (genRefs.nonEmpty)
      throw new IllegalArgumentException(
        s"$path: column '$name' is generated or referenced by " +
          s"generation expression(s) of ${genRefs.keys.mkString(", ")}" +
          " — drop the generated column declaration first")
    if (identityColumns().contains(name))
      throw new IllegalArgumentException(
        s"$path: column '$name' is an identity column — its " +
          "declaration and allocation state are name-keyed")
  }

  /** ALTER TABLE ... RENAME COLUMN — metadata-only under column
    * mapping (requires [[enableColumnMapping]], like Delta): the
    * physical name is untouched, so every existing file keeps
    * reading; one commit, zero data IO.
    */
  def renameColumn(oldName: String, newName: String): Long = retry() {
    val cur = latestVersion.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val s = schema()
    if (!mapped(s))
      throw new IllegalStateException(
        s"$path: RENAME COLUMN requires column mapping — call " +
          "enableColumnMapping() first (delta.columnMapping contract)")
    if (!s.fieldNames.contains(oldName))
      throw new IllegalArgumentException(
        s"$path: no column '$oldName' to rename")
    if (s.fieldNames.contains(newName))
      throw new IllegalArgumentException(
        s"$path: column '$newName' already exists")
    requireRenameSafe(oldName)
    val renamed = StructType(s.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val v = commitFiles(None, fileListAt(cur), renamed.json, Some(cur),
      op = "RENAME COLUMN",
      rebase = Some(Rebase(fileListAt(cur), (_, _) => false)))
    // the bloom index list is LOGICAL names — follow the rename (the
    // physical column, and with it every existing sidecar, is stable
    // under a mapped rename, so the index stays live seamlessly)
    val bloomCols = bloomIndexColumns
    if (bloomCols.contains(oldName))
      writeFile(bloomMetaFile, bloomCols.map(c =>
        if (c == oldName) newName else c).mkString("\n"))
    v
  }

  /** ALTER TABLE ... DROP COLUMN — metadata-only under column
    * mapping: the field leaves the schema, its physical bytes stay in
    * existing files (ignored by every read; a later full rewrite
    * physically sheds them). One commit, zero data IO. A subsequent
    * mergeSchema add of the same logical name gets a FRESH physical
    * name, so the orphaned bytes can never resurrect.
    */
  def dropColumn(name: String): Long = retry() {
    val cur = latestVersion.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val s = schema()
    if (!mapped(s))
      throw new IllegalStateException(
        s"$path: DROP COLUMN requires column mapping — call " +
          "enableColumnMapping() first (delta.columnMapping contract)")
    if (!s.fieldNames.contains(name))
      throw new IllegalArgumentException(
        s"$path: no column '$name' to drop")
    if (s.fields.length == 1)
      throw new IllegalArgumentException(
        s"$path: cannot drop the only column")
    requireRenameSafe(name)
    val remaining = StructType(s.fields.filterNot(_.name == name))
    val v = commitFiles(None, fileListAt(cur), remaining.json, Some(cur),
      op = "DROP COLUMN",
      rebase = Some(Rebase(fileListAt(cur), (_, _) => false)))
    val bloomCols = bloomIndexColumns
    if (bloomCols.contains(name)) {
      val rest = bloomCols.filterNot(_ == name)
      if (rest.isEmpty) { fs.delete(bloomMetaFile, false): Unit }
      else writeFile(bloomMetaFile, rest.mkString("\n"))
    }
    v
  }

  /** New top-level fields added by mergeSchema get fresh physical
    * names + ids when mapping is on (never reusing a dropped column's
    * physical slot — Delta's col-uuid discipline).
    */
  private def annotateNewFields(base: StructType,
                                fs: Seq[StructField]): Seq[StructField] =
    if (!mapped(base)) fs.toSeq
    else {
      var nextId = base.fields.map(f =>
        if (f.metadata.contains(ResourceTable.IdKey))
          f.metadata.getLong(ResourceTable.IdKey) else 0L).max
      fs.toSeq.map { f =>
        nextId += 1
        f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(ResourceTable.PhysKey,
              s"col-${java.util.UUID.randomUUID()}")
            .putLong(ResourceTable.IdKey, nextId).build())
      }
    }

  /** TYPE WIDENING (Delta's `typeWidening` table feature): the lossless
    * primitive upcasts a write may apply to the TABLE schema when the
    * source is wider, or to the SOURCE batch when the table is wider.
    * Exactly Delta's automatic set: integral byte→short→int→long and
    * float→double — widenings the parquet readers serve in place
    * (SPARK-40876: an int32 file column reads under a LONG schema), so
    * existing files never rewrite.
    */
  private def widensTo(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  /** Reconcile a source batch's column TYPES with the table schema —
    * the piece of Delta's write-path schema enforcement the add-column
    * merge doesn't cover. Per shared column, in order:
    *  - equal types: untouched (the hot path adds no projection);
    *  - source NARROWER: the source column upcasts to the table type
    *    (an int batch into a long table is always safe);
    *  - source WIDER and `mergeSchema`: the TABLE field widens — a
    *    schema-only change recorded in the field's
    *    `delta.typeChanges` metadata (the Delta typeWidening
    *    contract), committed atomically with the data; existing
    *    narrow files are served widened by the parquet reader;
    *  - source WIDER without `mergeSchema`, or not losslessly
    *    convertible at all: refuse loudly (silent truncation or a
    *    corrupt file/schema mismatch are the alternatives).
    * Returns the conformed source and the (possibly widened) schema.
    */
  private def conformTypes(src: DataFrame, tableSchema: StructType,
      mergeSchema: Boolean): (DataFrame, StructType) = {
    var out = src
    val srcByName = src.schema.fields.map(f => f.name -> f).toMap
    val fields = tableSchema.fields.map { tf =>
      srcByName.get(tf.name) match {
        // structural comparison: nested metadata / nullability
        // differences are NOT a type mismatch (strict StructType
        // equality would spuriously refuse struct-typed columns)
        case Some(sf) if !DataType.equalsStructurally(
            sf.dataType, tf.dataType, ignoreNullability = true) =>
          if (widensTo(sf.dataType, tf.dataType)) {
            out = out.withColumn(tf.name, col(tf.name).cast(tf.dataType))
            tf
          } else if (widensTo(tf.dataType, sf.dataType) && mergeSchema) {
            val prior =
              if (tf.metadata.contains("delta.typeChanges"))
                tf.metadata.getMetadataArray("delta.typeChanges")
              else Array.empty[org.apache.spark.sql.types.Metadata]
            val change = new MetadataBuilder()
              .putString("fromType", tf.dataType.typeName)
              .putString("toType", sf.dataType.typeName).build()
            tf.copy(dataType = sf.dataType,
              metadata = new MetadataBuilder().withMetadata(tf.metadata)
                .putMetadataArray("delta.typeChanges", prior :+ change)
                .build())
          } else throw new IllegalArgumentException(
            s"write to $path: column '${tf.name}' is " +
              s"${sf.dataType.simpleString} in the source but " +
              s"${tf.dataType.simpleString} in the table — " +
              (if (widensTo(tf.dataType, sf.dataType))
                "pass mergeSchema=true to widen the table type"
              else "no lossless conversion exists; cast explicitly"))
        case _ => tf
      }
    }
    (out, StructType(fields))
  }

  /** Delta SHALLOW CLONE parity (`CREATE TABLE tgt SHALLOW CLONE src
    * [VERSION AS OF v]`): a new table whose version-0 manifest
    * REFERENCES the source version's data files by ABSOLUTE path —
    * O(manifest) metadata written, ZERO data bytes copied or read,
    * however large the table. That is the 100 TB dev/test-fork shape:
    * cloning a petabyte table costs one commit write.
    *
    * The clone then diverges independently: every mutation writes only
    * its own files under the clone root and drops the absolute
    * references it rewrites; the clone's vacuum lists only clone-local
    * `snap-*` dirs, so it structurally cannot reap source bytes.
    * `u`-storage DV sidecars are carried as absolute `p` descriptors
    * (the Delta protocol's own absolute-path DV storage type); inline
    * `i` DVs copy verbatim. Table properties travel (clustering,
    * CHECK constraints, DV/CDF opt-ins — Delta CLONE semantics); txn
    * watermarks deliberately do NOT: the clone is a NEW table, and a
    * streaming writer pointed at it must not skip batches it never
    * delivered there.
    *
    * The standard Delta caveat applies verbatim: VACUUM on the SOURCE
    * knows nothing of clones, so source vacuum past the clone point
    * can reap files the clone still references — reads then fail fast
    * on the missing file (they can never silently drop rows).
    */
  def shallowCloneTo(targetPath: String,
                     version: Option[Long] = None): ResourceTable = {
    val v = version.getOrElse(latestVersion.getOrElse(
      throw new IllegalStateException(s"no table at $path")))
    if (!versionExists(v))
      throw new IllegalStateException(
        s"version $v of $path never existed")
    val cloned = commit(v)
    val files = cloned.manifest
    val gone = missingFiles(files.map(_._1))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"$path: cannot clone version $v — ${gone.size} referenced " +
          s"file(s) vacuumed (first: ${gone.head})")
    val schemaJson = cloned.schemaJson.getOrElse(schema().json)
    // FULLY-QUALIFIED URIs (scheme + authority), not bare paths: a
    // bare `/table/snap-0/x.parquet` re-anchors against the TARGET's
    // scheme/authority at read time, silently pointing a cross-bucket
    // or cross-filesystem clone at the wrong store — and a
    // relative-rooted source would re-root under the clone entirely
    val absFiles = files.map { case (rel, st) =>
      val dv = st.dv.map { d =>
        if (d.st == "u")
          d.copy(st = "p", d = fs.makeQualified(DeletionVectors
            .filePath(root, d.descriptor)).toUri.toString)
        else d
      }
      fs.makeQualified(resolve(rel)).toUri.toString -> st.copy(dv = dv)
    }
    val tgt = new ResourceTable(spark, targetPath, checkpointInterval)
    if (tgt.exists)
      throw new IllegalStateException(
        s"$targetPath: clone target already exists")
    tgt.fs.mkdirs(tgt.logDir)
    tgt.writeFile(new HPath(tgt.root, "_meta_schema.json"), schemaJson)
    Seq("_meta_cluster.txt", "_meta_constraints.txt",
        "_meta_generated.txt", "_meta_identity.txt",
        "_meta_dv_enabled", "_meta_cdf_enabled",
        "_meta_rowtracking").foreach { m =>
      val src = new HPath(root, m)
      if (fs.exists(src))
        tgt.writeFile(new HPath(tgt.root, m), readFile(src))
    }
    // identity watermarks travel: a clone that restarted each column
    // at `start` would re-assign ids already present in the cloned
    // rows. Copy each column's TOP reservation marker (the whole
    // allocation state — lower markers are redundant by construction)
    identityColumns().keys.foreach { c =>
      val d = identityDir(c)
      val tops = (try fs.listStatus(d)
        catch { case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus] })
        .map(_.getPath.getName).filter(_.startsWith("r-"))
      if (tops.nonEmpty) {
        val td = new HPath(tgt.root, s"_identity_$c")
        tgt.fs.mkdirs(td)
        tops.foreach(m =>
          tgt.createExclusive(new HPath(td, m)).close())
      }
    }
    // version-0 commit: manifest only — no data directory is created
    // (the dir field names the slot commitFiles would have; the empty-
    // snapshot fallback in snapshotLocation is the only reader of it).
    // The row-id high-water mark travels like identity watermarks: a
    // clone that restarted at 0 would hand new files id ranges the
    // cloned files already occupy
    val body = FileStats.Commit(0L, Some("CLONE"),
      Some(System.currentTimeMillis()), "snap-0-clone",
      rowHwm = cloned.rowHwm, schemaJson = Some(schemaJson),
      files = absFiles.toMap.toSeq).encode
    tgt.publishExclusive(tgt.commitFile(0L),
      body.getBytes(StandardCharsets.UTF_8))
    tgt
  }

  /** Change data feed between two retained versions (Delta CDF's
    * `table_changes` semantics, computed from snapshots): every row is
    * tagged `insert` (key only in `toV`), `delete` (key only in
    * `fromV`, pre-image), or — for keys in both versions with any
    * column changed — an `update_preimage`/`update_postimage` PAIR,
    * like Delta's. The preimages make the feed algebraically complete:
    * any distributive aggregate over the table can be maintained
    * incrementally by adding post-rows and subtracting pre-rows (see
    * q_incremental_agg). Implemented as ONE full-outer join of the two
    * snapshots on the key (each side packed into a struct), classified
    * with a null-safe struct compare and exploded into 0/1/2 image
    * rows — a single key shuffle, no driver-side state, so the diff
    * costs one co-partitioned pass however large the snapshots
    * (reference parity: delta CDF via delta-rs, lakehousekeeper.py
    * uses table history the same way).
    */
  def changes(fromV: Long, toV: Long, key: String): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    // FILE-GRANULAR CDF scope: a file carried by reference between the
    // two versions holds byte-identical rows on both sides and can emit
    // no change event, so only the symmetric difference of the two
    // manifests is read — O(files the range touched), never O(2·table).
    // (Delta CDF reads per-commit add/remove actions the same way.)
    // A key row in a shared file cannot also have a newer image in a
    // touched file: the merge would have rewritten that file, not
    // carried it. Bonus: CDF between historical versions survives
    // vacuum as long as the TOUCHED files are retained — carried files
    // are never opened.
    // A single OPTIMIZE step rewrites files without changing logical
    // content (Delta's dataChange=false commits) — its diff is empty by
    // construction, so don't even open the compacted files. Ranges
    // spanning an optimize still work through the file diff below.
    if (toV == fromV + 1 && isRearrangement(toV))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(schema().fields :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType)))
    val fromFiles = fileListAt(fromV).filter(_._2.rows > 0)
    val toFiles = fileListAt(toV).filter(_._2.rows > 0)
    // file identity includes its deletion vector: a path carried with a
    // DIFFERENT dv between the versions changed logical content without
    // being rewritten, so it must be read on BOTH sides (each under its
    // own version's dv) — Delta's (path, dvId) file-uniqueness key
    def ident(f: (String, FileStats.FileStat)) = (f._1, f._2.dv)
    val shared = fromFiles.map(ident).toSet
      .intersect(toFiles.map(ident).toSet)
    val from = readFilesWithSchema(fromFiles.filterNot(f => shared(ident(f))))
    val to = readFilesWithSchema(toFiles.filterNot(f => shared(ident(f))))
    val cols = from.columns.toSeq
    val f = from.select(col(key).as("_k"),
      struct(cols.map(col): _*).as("_pre"))
    val t = to.select(col(key).as("_k"),
      struct(cols.map(col): _*).as("_post"))
    def img(src: String, ct: String) =
      struct(col(src).as("_img"), lit(ct).as("_ct"))
    f.join(t, Seq("_k"), "full_outer")
      .select(explode(
        when(col("_pre").isNull, array(img("_post", "insert")))
          .when(col("_post").isNull, array(img("_pre", "delete")))
          .when(!(col("_pre") <=> col("_post")),
            array(img("_pre", "update_preimage"),
              img("_post", "update_postimage")))).as("_e"))
      // unchanged keys fall through every branch to a NULL array, and
      // explode emits no row for NULL — exactly "no change event"
      .select((cols.map(c => col(s"_e._img.$c")) :+
        col("_e._ct").as("_change_type")): _*)
  }

  /** KEYLESS change feed between two versions: the exact MULTISET
    * difference of the snapshots, emitted as `insert`/`delete` image
    * rows (an update surfaces as its delete+insert pair — the
    * algebraically-equivalent CDF shape for commits that recorded no
    * merge key: RESTORE, legacy pre-key commits). Same file-granular
    * scope as [[changes]]; the diff groups the touched rows on ALL
    * columns with per-side counts and re-expands |Δcount| rows, so it
    * costs one shuffle keyed on the full row — heavier per byte than
    * the keyed path, which is why [[changes]] stays the default.
    */
  def changesByContent(fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, lit,
      sequence, when, abs}
    if (toV == fromV + 1 && isRearrangement(toV))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(schema().fields :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType)))
    val fromFiles = fileListAt(fromV).filter(_._2.rows > 0)
    val toFiles = fileListAt(toV).filter(_._2.rows > 0)
    def ident(f: (String, FileStats.FileStat)) = (f._1, f._2.dv)
    val shared = fromFiles.map(ident).toSet
      .intersect(toFiles.map(ident).toSet)
    val from = readFilesWithSchema(
      fromFiles.filterNot(f => shared(ident(f))))
    val to = readFilesWithSchema(toFiles.filterNot(f => shared(ident(f))))
    val cols = from.columns.toSeq
    // one tagged aggregation (grouping treats NULL as a value, unlike
    // a join on the columns): Δ = occurrences in `to` − in `from`
    val tagged = from.select((cols.map(col) :+ lit(-1L).as("_s")): _*)
      .unionByName(to.select((cols.map(col) :+ lit(1L).as("_s")): _*))
    tagged.groupBy(cols.map(col): _*)
      .agg(org.apache.spark.sql.functions.sum(col("_s")).as("_d"))
      .filter(col("_d") =!= 0)
      .select((cols.map(col) :+
        when(col("_d") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change_type") :+
        explode(sequence(lit(1L), abs(col("_d")))).as("_i")): _*)
      .drop("_i")
  }

  /** Data-skipping read: `read().filter(filter)`. The filter reaches
    * the snapshot's [[StatsFileIndex]] as pushed data filters, so files
    * whose manifest min/max/null stats (or bloom sidecar) prove it can
    * match no row are never opened; the filter is re-applied row-level
    * after the scan. With clustered optimize() (disjoint key ranges per
    * file) a selective key predicate reads O(1) files, not the table.
    */
  def read(filter: org.apache.spark.sql.Column): DataFrame =
    read().filter(filter)

  /** (files read, files total) for `filter` — the skipping telemetry.
    * Lists the planned scan's own [[StatsFileIndex]] with the scan's
    * pushed filters, so the count is what [[read]]`(filter)` opens:
    * stats and bloom pruning both. A filter the optimizer folds to an
    * empty relation reads nothing; an empty snapshot has no files.
    */
  def pruneInfo(filter: org.apache.spark.sql.Column): (Int, Int) = {
    def scanOf(df: DataFrame) = df.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.isInstanceOf[StatsFileIndex] =>
        (s, s.relation.location.asInstanceOf[StatsFileIndex])
    }
    val snapshot = read()
    scanOf(snapshot.filter(filter)) match {
      case Some((scan, idx)) =>
        val listed = idx.listFiles(scan.partitionFilters, scan.dataFilters)
          .map(_.files.size).sum
        (listed, idx.lastScanned.toInt)
      case None => (0, scanOf(snapshot).fold(0) { case (_, idx) =>
        idx.listFiles(Nil, Nil)
        idx.lastScanned.toInt
      })
    }
  }

  /** DYNAMIC FILE PRUNING join (Delta's DFP, done at manifest grade):
    * join this table — the FACT side — against `dim` on
    * `factKey = dimKey`, but first shrink the fact SCAN to the files
    * that can contain the dim side's actual key set. A selective dim
    * (the normal star-schema shape: "orders for these 50 customers"
    * against a 100 TB fact) otherwise scans every fact file because
    * the static plan has no fact-side predicate at all.
    *
    * Mechanics: one bounded job collects the dim side's distinct join
    * keys (cap `graft.table.dfp.maxKeys`, default 100k — the same
    * bounded-driver-boundary discipline as the bloom probe cap). At or
    * under the cap the keys become an `IN` filter on the fact scan —
    * pruned per file by manifest min/max stats (the [[FileStats]]
    * `In`/`InSet` cases; clustered tables then read O(matching files))
    * AND by the file-level bloom index when one is enabled on
    * `factKey` (exact membership for high-cardinality keys). Past the
    * cap it degrades to the key RANGE [min,max] — still unbeatable for
    * time-ish or clustered keys, never wrong. The filter is a superset
    * of the join's own semi-filter, so results are IDENTICAL to
    * `read().join(dim, …)` — only the IO differs.
    *
    * Only inner and left_semi joins are accepted: for outer joins a
    * fact-side pre-filter would drop rows the join must preserve.
    */
  def joinPruned(dim: DataFrame, factKey: String, dimKey: String,
                 joinType: String = "inner"): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "leftsemi",
      s"joinPruned supports inner/left_semi joins, not $joinType")
    val fact = read().filter(dfpFilter(dim, factKey, dimKey))
    fact.join(dim, fact(factKey) === dim(dimKey), joinType)
  }

  /** (files read, files total) a [[joinPruned]] with these arguments
    * would scan — the DFP telemetry. */
  def joinPrunedInfo(dim: DataFrame, factKey: String, dimKey: String)
      : (Int, Int) =
    pruneInfo(dfpFilter(dim, factKey, dimKey))

  private def dfpFilter(dim: DataFrame, factKey: String,
                        dimKey: String): org.apache.spark.sql.Column = {
    val maxKeys = spark.conf.get("graft.table.dfp.maxKeys", "100000").toInt
    val kt = schema()(factKey).dataType
    val keyDf = dim.select(col(dimKey).cast(kt).as("__dfp_k"))
      .where(col("__dfp_k").isNotNull).distinct()
    val ks = keyDf.limit(maxKeys + 1).collect().map(_.get(0))
    if (ks.isEmpty) lit(false) // no dim keys → inner join is empty
    else if (ks.length <= maxKeys)
      col(factKey).isin(ks.toIndexedSeq: _*)
    else {
      // over the cap: degrade to the [min,max] range — one more tiny
      // dim-side aggregate, still a strict superset of the key set
      val mm = keyDf
        .agg(org.apache.spark.sql.functions.min(col("__dfp_k")),
          org.apache.spark.sql.functions.max(col("__dfp_k")))
        .collect()(0)
      col(factKey) >= lit(mm.get(0)) && col(factKey) <= lit(mm.get(1))
    }
  }

  // ---------------- manifest plumbing ---------------------------------

  // Commits are immutable once complete, so the last decoded one is
  // safe to memoize — fileListAt/schema/txn lookups on the same version
  // (the common pattern within one mutation) cost one read and one
  // decode total.
  @volatile private var commitCache: (Long, FileStats.Commit) = (-1L, null)

  /** Version `v`'s commit, decoded ([[FileStats.Commit]] — the one
    * codec of the `_log` format).
    */
  private[tables] def commit(v: Long): FileStats.Commit = {
    val cached = commitCache
    if (cached._1 == v) return cached._2
    val c = readCommit(v, withFiles = true)
    commitCache = (v, c)
    c
  }

  /** A commit file becomes VISIBLE at its atomic create() — that is
    * the winner-election point — but its bytes land between create and
    * close. A reader that opens the file inside that window sees a
    * truncated body (or a checksum mismatch on ChecksumFileSystems).
    * Writers never touch a commit after close, so the first COMPLETE
    * read is final: the body decodes, has a `dir`, and ends in its
    * closing brace. Retry until then, bounded by a deadline that is
    * orders of magnitude beyond the write window (commit bodies are
    * written in one call). `withFiles = false` decodes the header only
    * (`files` stays empty) for the huge-manifest read, which streams
    * the entries itself — the header cannot see a torn tail, so that
    * decode first checks the body's final byte.
    */
  private def readCommit(v: Long, withFiles: Boolean): FileStats.Commit = {
    val cf = commitFile(v)
    val fsys = fs
    if (!fsys.exists(cf))
      throw new IllegalStateException(
        s"version $v of $path never existed")
    def closed: Boolean = {
      val len = fsys.getFileStatus(cf).getLen
      val in = fsys.open(cf)
      try { in.seek(math.max(0L, len - 1)); in.read() == '}' }
      finally in.close()
    }
    val deadline = System.nanoTime() + 5000L * 1000 * 1000
    var last: Throwable = null
    while (true) {
      // on file:// bodies publish by atomic hard link and can never be
      // torn; the completeness check + retry loop remain for stores
      // whose create-then-write election (HDFS-like) can expose an
      // in-flight body to a fast reader
      try {
        if (withFiles) return FileStats.Commit.decode(() => fsys.open(cf))
        if (closed) {
          val cs = new FileStats.CommitStream(() => fsys.open(cf))
          try return cs.header finally cs.close()
        }
        last = null
      } catch { case e: Throwable => last = e }
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"commit $cf still unreadable at deadline " +
            "(in-flight write should settle in ms)", last)
      Thread.sleep(5)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit `c`'s wall-clock time: its recorded `ts`, or — for bodies
    * written before the field existed — its commit file's mtime.
    */
  private[tables] def commitTs(c: FileStats.Commit): Long =
    c.ts.getOrElse(fs.getFileStatus(commitFile(c.version)).getModificationTime)

  /** The version's data-file manifest: root-relative path → stats,
    * sorted by path.
    */
  private[tables] def fileListAt(v: Long): Seq[(String, FileStats.FileStat)] =
    commit(v).manifest

  private[tables] def resolve(rel: String): HPath = new HPath(root, rel)

  /** Read a manifest-file subset under the CURRENT schema (how all
    * snapshot reads work — older files surface missing columns as
    * null). Empty subset → empty frame; vacuumed files → fail fast.
    */
  private def readFilesWithSchema(
      files: Seq[(String, FileStats.FileStat)]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema())
    val gone = missingFiles(files.map(_._1))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"$path: ${gone.size} referenced file(s) vacuumed " +
          s"(first: ${gone.head})")
    readFiles(files, schema())
  }

  /** The data files (root-relative) version `v` references — Delta's
    * `DESCRIBE DETAIL`-ish surface, and how specs assert the MERGE
    * rewrite scope (untouched files carry the same path across
    * versions).
    */
  def fileManifest(v: Long): Seq[String] = fileListAt(v).map(_._1)

  /** Referenced files that no longer exist, via ONE listing per
    * distinct dir (not one existence probe per file).
    */
  private def missingFiles(rels: Seq[String]): Seq[String] =
    rels.groupBy(r => r.substring(0, r.lastIndexOf('/'))).flatMap {
      case (d, group) =>
        val dirPath = new HPath(root, d)
        if (!fs.exists(dirPath)) group
        else {
          val present = fs.listStatus(dirPath)
            .map(_.getPath.getName).toSet
          group.filterNot(r =>
            present(r.substring(r.lastIndexOf('/') + 1)))
        }
    }.toSeq

  /** All referenced files of `v` exist (readable without error). */
  private def versionIntact(v: Long): Boolean =
    missingFiles(fileListAt(v).map(_._1)).isEmpty

  /** True when every data file of `v` lives in one directory — the
    * precondition for registering that dir as an external `LOCATION`.
    * Fresh rewrites (create/optimize) are single-dir; a chain of
    * file-granular merges usually is not (run optimize() first).
    */
  def isSingleLocation(v: Long): Boolean =
    fileListAt(v).map(f => f._1.substring(0, f._1.lastIndexOf('/')))
      .distinct.size <= 1

  /** Absolute path of the snapshot dir holding version `v`'s files
    * (for external-table registration against the current snapshot).
    * Multi-dir versions have no single location — optimize() first.
    */
  def snapshotLocation(v: Long): String = {
    val dirs = fileListAt(v)
      .map(f => f._1.substring(0, f._1.lastIndexOf('/'))).distinct
    dirs match {
      case Seq(d) => resolve(d).toString
      case Seq() => // empty snapshot: its own commit dir stands in
        new HPath(root, commit(v).dir).toString
      case many => throw new IllegalStateException(
        s"version $v of $path spans ${many.size} directories; " +
          "run optimize() before registering an external location")
    }
  }

  /** Table schema at the current version: the commit body is
    * authoritative (it flips atomically with the data — an
    * upsert(mergeSchema=true) can never publish columns the schema
    * doesn't show); `_meta_schema.json` only serves pre-schema-field
    * commit logs and empty tables.
    */
  def schema(): StructType =
    latestVersion.flatMap(v => commit(v).schema).getOrElse(
      DataType.fromJson(readFile(new HPath(root, "_meta_schema.json")))
        .asInstanceOf[StructType])

  def clusterBy(): Seq[String] = {
    val p = new HPath(root, "_meta_cluster.txt")
    if (!fs.exists(p)) Seq.empty
    else readFile(p).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  // ------------------------------------------------- CHECK constraints

  private def constraintsFile = new HPath(root, "_meta_constraints.txt")

  /** The table's CHECK constraints, name → boolean SQL expression —
    * Delta `ALTER TABLE ... ADD CONSTRAINT` parity. Persisted like the
    * clustering metadata (one `name\texpr` line each).
    */
  def checkConstraints(): Map[String, String] =
    if (!fs.exists(constraintsFile)) Map.empty
    else readFile(constraintsFile).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap

  /** Add a named CHECK constraint. Like Delta, the EXISTING data is
    * validated first (one aggregate over the current snapshot) and the
    * add is refused if any row violates; subsequent `upsert`s reject
    * batches containing violating rows before anything is written. A
    * row violates when the expression is not TRUE (false or NULL).
    */
  def addCheckConstraint(name: String, sqlExpr: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n') &&
      !sqlExpr.exists(_ == '\n'),
      "constraint names/expressions must be single-line, tab-free")
    val existing = checkConstraints()
    require(!existing.contains(name), s"constraint $name already exists")
    val bad = violations(read(), Map(name -> sqlExpr))
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"cannot add CHECK constraint $name to $path: " +
          s"${bad.head._2} existing row(s) violate ($sqlExpr)")
    writeFile(constraintsFile, (existing + (name -> sqlExpr))
      .map { case (n, e) => s"$n\t$e" }.mkString("\n"))
  }

  def dropCheckConstraint(name: String): Unit = {
    val remaining = checkConstraints() - name
    if (remaining.isEmpty) { fs.delete(constraintsFile, false); () }
    else writeFile(constraintsFile,
      remaining.map { case (n, e) => s"$n\t$e" }.mkString("\n"))
  }

  /** (constraint, violating-row count) for every violated constraint —
    * ALL constraints evaluated in ONE aggregate job over `df`.
    */
  private def violations(df: DataFrame,
      cs: Map[String, String]): Seq[(String, Long)] = {
    if (cs.isEmpty) return Seq.empty
    val counts = df.select(cs.toSeq.map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(false)), 1L).otherwise(0L)).as(n)
    }: _*).collect().headOption
    cs.keys.toSeq.sorted.flatMap { n =>
      counts.map(r => Option(r.getAs[Long](n)).getOrElse(0L))
        .filter(_ > 0).map(n -> _)
    }
  }

  // ------------------------------------------------ generated columns

  private def generatedFile = new HPath(root, "_meta_generated.txt")

  /** Generated columns, name → SQL expression — Delta
    * `GENERATED ALWAYS AS (expr)` parity. A write that omits the
    * column gets it computed from the expression; a write that
    * provides it is refused unless every row satisfies
    * `col <=> (expr)` (Delta's enforcement). Persisted like the CHECK
    * constraints.
    */
  def generatedColumns(): Map[String, String] =
    if (!fs.exists(generatedFile)) Map.empty
    else readFile(generatedFile).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap

  /** Declare `name` GENERATED ALWAYS AS (sqlExpr). The column must
    * already exist in the table schema (Delta only accepts generated
    * columns at definition time; declaring over existing DATA is
    * allowed here iff every current row already satisfies the
    * equation — same validate-then-enforce contract as
    * [[addCheckConstraint]]). The expression may only reference other
    * non-generated columns (no chains — Delta's rule, and it keeps
    * one computation pass sufficient).
    */
  def addGeneratedColumn(name: String, sqlExpr: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n') &&
      !sqlExpr.exists(_ == '\n'),
      "generated-column names/expressions must be single-line, tab-free")
    val s = schema()
    require(s.fieldNames.contains(name),
      s"$path: no column '$name' in the table schema — generated " +
        "columns are declared over existing schema columns")
    val existing = generatedColumns()
    require(!existing.contains(name),
      s"column $name is already generated")
    val refs = referencedColumns(sqlExpr)
    val genSet = existing.keySet + name
    val chained = refs.intersect(genSet)
    require(chained.isEmpty,
      s"generation expression for $name references generated " +
        s"column(s) ${chained.mkString(", ")} — chains are not allowed")
    val unknown = refs.diff(s.fieldNames.toSet)
    require(unknown.isEmpty,
      s"generation expression for $name references unknown " +
        s"column(s) ${unknown.mkString(", ")}")
    val bad = violations(read(),
      Map(name -> s"$name <=> ($sqlExpr)"))
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"cannot declare $name GENERATED ALWAYS AS ($sqlExpr) on " +
          s"$path: ${bad.head._2} existing row(s) violate the equation")
    writeFile(generatedFile, (existing + (name -> sqlExpr))
      .map { case (n, e) => s"$n\t$e" }.mkString("\n"))
  }

  def dropGeneratedColumn(name: String): Unit = {
    val remaining = generatedColumns() - name
    if (remaining.isEmpty) { fs.delete(generatedFile, false); () }
    else writeFile(generatedFile,
      remaining.map { case (n, e) => s"$n\t$e" }.mkString("\n"))
  }

  /** Top-level column names a SQL expression references (via the
    * parser, not regex — `substr(o_comment, 1, 2)` must not match a
    * column named `1`).
    */
  private def referencedColumns(sqlExpr: String): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
      case a: UnresolvedAttribute => a.nameParts.head
    }.toSet
  }

  /** Write-side application of [[generatedColumns]]: columns the
    * source omits are computed (cast to the declared type, so the
    * projection caches WITH the batch); columns the source provides
    * are validated against their equation in one aggregate and the
    * write refused on any mismatch — a provided value that disagrees
    * with its generation expression is a bug upstream, and silently
    * overwriting either side loses data. No generated columns → the
    * source passes through untouched (one metadata existence check).
    */
  private def applyGenerated(source: DataFrame): DataFrame = {
    val gens = generatedColumns()
    if (gens.isEmpty) return source
    val tbl = schema()
    val present = source.schema.fieldNames.toSet
    val (provided, missing) = gens.partition { case (c, _) => present(c) }
    if (provided.nonEmpty) {
      val bad = violations(source, provided.map { case (c, e) =>
        c -> s"$c <=> ($e)" })
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"GENERATED ALWAYS AS violation writing to $path: " +
            bad.map { case (c, n) =>
              s"$c disagrees with its generation expression ($n row(s))"
            }.mkString(", "))
    }
    missing.foldLeft(source) { case (df, (c, e)) =>
      df.withColumn(c, expr(e).cast(tbl(c).dataType))
    }
  }

  // ------------------------------------------------- column defaults

  /** Column DEFAULT values, name → SQL text — Delta's
    * `allowColumnDefaults` feature (PROTOCOL.md "Column Default
    * Values"): a write batch that OMITS the column gets the default
    * computed in its place; existing rows are untouched (Delta
    * forbids ADD COLUMN ... DEFAULT for exactly that reason — only
    * ALTER COLUMN SET DEFAULT, affecting future writes, exists).
    * Stored as `CURRENT_DEFAULT` field metadata IN THE SCHEMA, so the
    * default is versioned with the schema (time travel sees the
    * default that was live at that version) and the export carries it
    * verbatim.
    */
  def columnDefaults(): Map[String, String] =
    schema().fields.iterator
      .filter(_.metadata.contains(ResourceTable.DefaultKey))
      .map(f => f.name ->
        f.metadata.getString(ResourceTable.DefaultKey)).toMap

  /** ALTER COLUMN name SET DEFAULT (sqlExpr) — a metadata-only
    * commit (files carry by reference; any disjoint winner rebases).
    * The expression must be CONSTANT (no column references — Delta's
    * rule) and must cast losslessly to the column type; both are
    * validated here, once, not per write.
    */
  def setColumnDefault(name: String, sqlExpr: String): Long = {
    val s0 = schema()
    require(s0.fieldNames.contains(name),
      s"$path: no column '$name' to set a default on")
    require(!generatedColumns().contains(name) &&
      !identityColumns().contains(name),
      s"$path: column '$name' is generated — it cannot also carry " +
        "a DEFAULT (the generation expression already owns writes)")
    val refs = referencedColumns(sqlExpr)
    require(refs.isEmpty,
      s"DEFAULT for $name references column(s) ${refs.mkString(", ")}" +
        " — defaults must be constant expressions")
    val dt = s0(name).dataType
    // one local row: refuse a default whose cast to the column type
    // is lossy/invalid — try_cast, so ANSI mode surfaces the refusal
    // as THIS error, not a CAST_INVALID_INPUT at some later write
    val probe = spark.range(1)
      .select(expr(sqlExpr).as("_raw"),
        expr(s"try_cast(($sqlExpr) AS ${dt.sql})").as("_c"))
      .head()
    if (!probe.isNullAt(0) && probe.isNullAt(1))
      throw new IllegalArgumentException(
        s"DEFAULT ($sqlExpr) for $name does not cast to " +
          s"${dt.simpleString}")
    retry() {
      val cur = latestVersion.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val updated = StructType(schema().fields.map(f =>
        if (f.name == name) f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(ResourceTable.DefaultKey, sqlExpr).build())
        else f))
      commitFiles(None, fileListAt(cur), updated.json, Some(cur),
        op = "SET DEFAULT",
        rebase = Some(Rebase(fileListAt(cur), (_, _) => false)))
    }
  }

  /** ALTER COLUMN name DROP DEFAULT — the inverse metadata commit. */
  def dropColumnDefault(name: String): Long = retry() {
    val cur = latestVersion.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val updated = StructType(schema().fields.map(f =>
      if (f.name == name) f.copy(metadata = new MetadataBuilder()
        .withMetadata(f.metadata)
        .remove(ResourceTable.DefaultKey).build())
      else f))
    commitFiles(None, fileListAt(cur), updated.json, Some(cur),
      op = "DROP DEFAULT",
      rebase = Some(Rebase(fileListAt(cur), (_, _) => false)))
  }

  /** Write-side application of [[columnDefaults]]: table columns the
    * source OMITS entirely are filled with their default (cast to
    * the declared type). Columns the source provides — even with
    * NULLs — pass through untouched (SQL DEFAULT semantics: the
    * default fires on omission, not on NULL). No defaults → one
    * metadata existence check and the source passes through.
    */
  private def applyDefaults(source: DataFrame): DataFrame = {
    val defs = columnDefaults()
    if (defs.isEmpty) return source
    val tbl = schema()
    val present = source.schema.fieldNames.toSet
    defs.filterNot { case (c, _) => present(c) }
      .foldLeft(source) { case (df, (c, e)) =>
        df.withColumn(c, expr(e).cast(tbl(c).dataType))
      }
  }

  // ------------------------------------------------- identity columns

  private def identityFile = new HPath(root, "_meta_identity.txt")
  private def identityDir(c: String) = new HPath(root, s"_identity_$c")

  /** Identity columns, name → (start, step) — Delta
    * `GENERATED ALWAYS AS IDENTITY (START WITH s INCREMENT BY k)`.
    * Like Delta's ALWAYS flavor, writes may not provide the column;
    * each write batch is assigned fresh values. Values are UNIQUE and
    * monotonic per batch but, as in Delta, NOT guaranteed
    * consecutive across batches: a crashed or conflicted write leaves
    * a gap (its reserved range is simply never used).
    */
  def identityColumns(): Map[String, (Long, Long)] =
    if (!fs.exists(identityFile)) Map.empty
    else readFile(identityFile).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val p = line.split("\t")
        p(0) -> (p(1).toLong, p(2).toLong)
      }.toMap

  /** Declare `name` an identity column. The column must exist in the
    * schema as LONG and the table must be empty (Delta only accepts
    * identity at table creation; backfilling ids for existing rows
    * would have to invent an order).
    */
  def addIdentityColumn(name: String, start: Long = 1L,
                        step: Long = 1L): Unit = {
    require(step != 0, "identity step must be non-zero")
    val s = schema()
    require(s.fieldNames.contains(name),
      s"$path: no column '$name' in the table schema")
    require(s(name).dataType ==
      org.apache.spark.sql.types.LongType,
      s"$path: identity column '$name' must be LONG")
    require(!generatedColumns().contains(name),
      s"$path: '$name' is already GENERATED ALWAYS AS")
    val existing = identityColumns()
    require(!existing.contains(name), s"'$name' is already identity")
    require(read().limit(1).isEmpty,
      s"$path: identity columns are declared on EMPTY tables " +
        "(no deterministic order exists to backfill ids)")
    writeFile(identityFile,
      (existing + (name -> ((start, step))))
        .map { case (n, (st, sp)) => s"$n\t$st\t$sp" }.mkString("\n"))
  }

  /** Furthest-allocated identity value for `col` (None before any
    * assignment) — what DeltaExport publishes as
    * `delta.identity.highWaterMark`.
    */
  private[tables] def identityHighWaterMark(colName: String)
      : Option[Long] = {
    val (_, step) = identityColumns().getOrElse(colName,
      return None)
    val tops = (try fs.listStatus(identityDir(colName))
      catch { case _: java.io.FileNotFoundException =>
        return None })
      .map(_.getPath.getName).filter(_.startsWith("r-"))
      .map(_.stripPrefix("r-").split("_") match {
        case Array(_, l) => l.toLong })
    if (tops.isEmpty) None
    else Some(if (step > 0) tops.max else tops.min)
  }

  /** Atomically reserve `n` identity values for `col`: markers
    * `r-<first>-<last>` under `_identity_<col>/` are claimed with the
    * same O_EXCL exclusive-create primitive as the commit election,
    * so concurrent writers can NEVER double-allocate — the loser of a
    * marker race re-lists and claims past the new top. A reservation
    * whose write later fails is a permanent gap (Delta's documented
    * identity behavior). Markers strictly below the top are deleted
    * eagerly (the top alone determines the next range), so the dir
    * holds O(1) files in steady state.
    */
  private def reserveIdentity(colName: String, start: Long, step: Long,
                              n: Long): Long = {
    val dir = identityDir(colName)
    fs.mkdirs(dir)
    var attempt = 0
    while (true) {
      val tops = (try fs.listStatus(dir)
        catch { case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus] })
        .map(_.getPath.getName)
        .filter(_.startsWith("r-"))
        .map(_.stripPrefix("r-").split("_") match {
          case Array(f, l) => (f.toLong, l.toLong)
        })
      // "top" = reservation whose LAST value is furthest along the
      // sequence (steps may be negative: compare in step direction)
      val dirSign = if (step > 0) 1L else -1L
      val next =
        if (tops.isEmpty) start
        else tops.map(_._2 * dirSign).max * dirSign + step
      val first = next
      val last = first + step * (n - 1)
      val marker = new HPath(dir, s"r-${first}_$last")
      try {
        createExclusive(marker).close()
        // eager cleanup: everything below the new top is redundant
        tops.foreach { case (fv, lv) =>
          try fs.delete(new HPath(dir, s"r-${fv}_$lv"), false)
          catch { case _: Throwable => () }
        }
        return first
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          attempt += 1
          if (attempt > 50)
            throw new IllegalStateException(
              s"$path: could not reserve identity range for $colName " +
                s"after $attempt attempts")
          Thread.sleep(5L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Write-side identity assignment. Values are
    * `first + step·(rows before this one in the batch)`: one
    * #partitions-sized count collect turns per-partition row numbers
    * into batch-global positions without any global window — the
    * batch never funnels through one task. Row order within a
    * partition follows `monotonically_increasing_id`, i.e. source
    * order; positions are stable across recomputation for the
    * deterministic bounded batches the write paths take.
    */
  private def applyIdentity(source: DataFrame): DataFrame = {
    val ids = identityColumns()
    if (ids.isEmpty) return source
    val provided = ids.keySet.intersect(source.schema.fieldNames.toSet)
    if (provided.nonEmpty)
      throw new IllegalArgumentException(
        s"$path: cannot provide identity column(s) " +
          s"${provided.mkString(", ")} (GENERATED ALWAYS AS IDENTITY)")
    // one small job: per-partition counts → batch size + offsets
    val counts = source
      .groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    val n = counts.map(_._2).sum
    if (n == 0) {
      // still produce the columns so the union/projection aligns
      return ids.foldLeft(source) { case (df, (c, _)) =>
        df.withColumn(c, lit(null).cast("long"))
      }
    }
    val offsets = counts.scanLeft(0 -> 0L) {
      case ((_, acc), (pid, c)) => pid -> (acc + c)
    }.tail.zip(counts).map { case ((pid, end), (_, c)) =>
      pid -> (end - c)
    }.toMap
    val offCol = offsets.foldLeft(lit(0L)) { case (e, (pid, off)) =>
      when(spark_partition_id() === pid, lit(off)).otherwise(e)
    }
    ids.foldLeft(source) { case (df, (c, (start, step))) =>
      val first = reserveIdentity(c, start, step, n)
      df.withColumn("__rn",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(spark_partition_id())
              .orderBy(monotonically_increasing_id())) - 1)
        .withColumn(c, lit(first) + lit(step) * (offCol + col("__rn")))
        .drop("__rn")
    }
  }

  // --------------------------------------------------- row tracking

  private def rowTrackingFile = new HPath(root, "_meta_rowtracking")

  /** Opt into Delta ROW TRACKING (fresh/physical row ids): every file
    * committed from now on is assigned a contiguous id range off the
    * table's row-id high-water mark (carried in each commit body, so
    * assignment needs no extra IO and serializes with the commit
    * election itself — rebased commits recompute off the new head).
    * Row i of a file has id `baseRowId + i`; DV deletes keep surviving
    * ids stable (positions don't move), rewrites assign FRESH ids
    * (Delta's behavior for writers that don't materialize row ids —
    * stable-across-rewrite ids would need the materialized-column
    * extension). Ids are never reused: the mark only grows.
    */
  def enableRowTracking(): ResourceTable = {
    writeFile(rowTrackingFile, "true")
    this
  }

  private[tables] def rowTrackingEnabled: Boolean =
    fs.exists(rowTrackingFile)

  /** Snapshot read with `_row_id` and `_row_commit_version`
    * materialized — `baseRowId + row_index` per file, the Delta
    * row-tracking read surface. Refuses loudly if any live file
    * predates the opt-in (it has no id range; Delta likewise requires
    * a backfill). One scan + one broadcast hash join against the
    * manifest-sized (path → baseRowId) map; DV positions drop first,
    * and surviving rows keep their physical row_index — so their ids.
    */
  def readWithRowIds(): DataFrame = {
    require(rowTrackingEnabled,
      s"$path: row tracking is not enabled (enableRowTracking())")
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val s = schema()
    val files = fileListAt(v).filterNot(_._2.rows == 0)
    val missing = files.filter(_._2.baseRowId.isEmpty).map(_._1)
    require(missing.isEmpty,
      s"$path: ${missing.size} file(s) predate row tracking and " +
        s"carry no id range (e.g. ${missing.take(3).mkString(", ")}) " +
        "— rewrite them (optimize) to assign ids")
    import spark.implicits._
    val out = s.fields.map(f => col(f.name)) ++
      Seq(col("_row_id"), col("_row_commit_version"))
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(s.fields ++ Seq(
          StructField("_row_id", org.apache.spark.sql.types.LongType),
          StructField("_row_commit_version",
            org.apache.spark.sql.types.LongType))))
    val phys = physSchema(s)
    val scan0 = applyDv(spark.read.schema(phys)
      .parquet(files.map(f => resolve(f._1).toString): _*), files)
      .withColumn("_gr_file", regexp_replace(
        col("_metadata.file_path"), DvSchemeRe, "/"))
      .withColumn("_gr_pos", col("_metadata.row_index"))
    val logical =
      if (phys == s) scan0
      else scan0.select(s.fields.map(f =>
        col(physName(f)).as(f.name, f.metadata)) ++
        Seq(col("_gr_file"), col("_gr_pos")): _*)
    val ids = files.map { case (rel, st) =>
      (fs.makeQualified(resolve(rel)).toUri.toString
        .replaceFirst(DvSchemeRe, "/"),
        st.baseRowId.get, st.rowVer.getOrElse(-1L))
    }.toDF("_gr_file", "_gr_base", "_row_commit_version")
    logical.join(broadcast(ids), Seq("_gr_file"))
      .withColumn("_row_id", col("_gr_base") + col("_gr_pos"))
      .select(out: _*)
  }

  /** Abort (before anything is written) if `src` contains rows that
    * violate any CHECK constraint — the upsert-side enforcement.
    */
  private def enforceConstraints(src: DataFrame): Unit = {
    val bad = violations(src, checkConstraints())
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"CHECK constraint violation writing to $path: " +
          bad.map { case (n, c) => s"$n ($c row(s))" }.mkString(", "))
  }

  private def readFile(p: HPath): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Idempotent table creation from a schema (S3). Properties mirror the
    * reference's Delta table properties surface; clustering columns feed
    * the optimize() sort analogue of liquid clustering.
    */
  def createIfNotExists(schema: StructType,
                        clusterCols: Seq[String] = Seq.empty): ResourceTable = {
    if (!exists) {
      fs.mkdirs(logDir)
      writeFile(new HPath(root, "_meta_schema.json"), schema.json)
      if (clusterCols.nonEmpty)
        writeFile(new HPath(root, "_meta_cluster.txt"),
          clusterCols.mkString("\n"))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      try { commitFiles(Some(empty), Seq.empty, schema.json,
        expectedCurrent = None, op = "CREATE TABLE"): Unit }
      catch {
        // IfNotExists semantics under concurrency: two creators can
        // both pass the exists check; the loser's commit-0 election
        // loss means the table NOW exists — which is exactly what
        // this method promises, not an error
        case _: ConflictRetryable if exists => ()
      }
    }
    this
  }

  /** Micro-batch rows above this are merged with a shuffled anti-join
    * instead of a driver-hosted broadcast (backfill batches under
    * Trigger.AvailableNow can blow past maxOffsetsPerTrigger sizing).
    */
  private def broadcastRowLimit: Long =
    spark.conf.get("graft.table.merge.broadcastRowLimit", "4000000").toLong

  /** Batches at most this many rows get their distinct keys collected
    * for per-key file pruning (tight); larger batches prune on the
    * batch's [min,max] key range only (coarse, still conservative).
    */
  private val collectKeysLimit = 100000L

  /** Delta's optimizedWrite (settings.py:47, default false): when
    * enabled and the table is clustered, each mutation's NEW files are
    * range-partitioned + sorted on the cluster key at write time, so
    * per-file min/max stats are disjoint from the first commit — merge
    * pruning gets optimize()-quality skipping without waiting for the
    * next compaction. Costs one extra shuffle of the (bounded) batch.
    * The constructor override (how the streaming engine scopes its
    * Settings to its own tables) wins over the session conf — two
    * engines sharing one session must not race on a global flag.
    */
  private def optimizeWriteEnabled: Boolean =
    optimizeWriteOverride.getOrElse(
      spark.conf.get("graft.table.optimizeWrite", "false").toBoolean)

  /** Delta's autoCompact (settings.py:46, default false): after a
    * mutation commits, compact when the manifest has accumulated at
    * least `graft.table.autoCompactMinFiles` files SMALLER than the
    * compaction threshold (Delta autoCompact's minNumFiles semantics —
    * it counts compaction candidates, not table size).
    */
  private def autoCompactEnabled: Boolean =
    autoCompactOverride.getOrElse(
      spark.conf.get("graft.table.autoCompact", "false").toBoolean)
  private def autoCompactMinFiles: Int =
    spark.conf.get("graft.table.autoCompactMinFiles", "50").toInt
  /** What "small" means to the auto-compact gate AND to the compaction
    * it triggers — one threshold so the gate counts exactly what the
    * compactor would coalesce.
    */
  private def autoCompactMinBytes: Long =
    spark.conf.get("graft.table.autoCompact.minBytes",
      DefaultCompactMinBytes.toString).toLong

  /** Rows per clustered output file under optimizedWrite. */
  private def optimizeWriteRowsPerFile: Long =
    spark.conf.get("graft.table.optimizeWrite.rowsPerFile", "4000000").toLong

  /** Partition `df` into `n` cluster-ordered output files: multi-col
    * clustering → Z-order key sort, one col → range + sort, none →
    * plain repartition. The single source of truth for optimize(),
    * optimizedWrite, and incremental compaction.
    */
  private def clusterInto(df: DataFrame, n: Int): DataFrame = {
    val cols = clusterBy()
    if (cols.size > 1)
      graft.functions.ZOrder.withZOrderKey(df, cols)
        .repartitionByRange(n, col("_zorder"))
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
    else if (cols.size == 1)
      df.repartitionByRange(n, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
    else df.repartition(n)
  }

  // Delta optimizedWrite bin-packs UNCLUSTERED writes too (its whole
  // point is right-sized files regardless of layout) — clusterInto with
  // no cluster columns is the plain repartition that delivers that.
  // Cost in both shapes: one extra shuffle of the (bounded) batch.
  private def clusterForWrite(df: DataFrame, rows: Long): DataFrame =
    if (!optimizeWriteEnabled) df
    else clusterInto(df, math.max(1L,
      (rows + optimizeWriteRowsPerFile - 1) / optimizeWriteRowsPerFile)
      .min(Int.MaxValue).toInt)

  private def maybeAutoCompact(): Unit =
    if (autoCompactEnabled) {
      // BEST-EFFORT: the mutation that triggered this has already
      // committed; a compaction that loses every concurrency retry
      // (hot multi-writer table) must not fail the caller — the next
      // mutation, or upkeep, gets another shot.
      try {
        // incremental bin-packing, NOT the whole-snapshot optimize():
        // auto-compaction after every mutation must stay O(small
        // files) or it is itself the write-amplification problem. The
        // gate counts files BELOW the compaction threshold from the
        // manifest's recorded bytes — a table of right-sized files
        // pays one commit read here, no FS listing and no no-op
        // compaction pass, on every mutation forever.
        val minBytes = autoCompactMinBytes
        val smallFiles = latestVersion.fold(0) { ver =>
          val files = fileListAt(ver)
          val sizes = manifestSizes(files)
          files.count(f => sizes(f._1) < minBytes)
        }
        if (smallFiles >= autoCompactMinFiles)
          compactSmallFiles(minBytes, math.max(1L << 30, minBytes))
      } catch {
        case e: Throwable =>
          System.err.println(
            s"auto-compact skipped for $path: ${e.getMessage}")
      }
    }

  /** The batch's (row count, rewrite-scope predicate) in ONE Spark job
    * for bounded batches: a per-key groupBy capped at
    * `collectKeysLimit + 1` rows yields the distinct keys (tight
    * per-key file pruning) AND the total row count (sum of per-key
    * counts). Only an overflowing batch pays a second job — a single
    * count+min/max aggregate — and prunes on the key range (coarse,
    * still conservative). Missing/poisoned stats keep the file.
    */
  private def keyProfile(src: DataFrame, key: String)
      : (Long, FileStats.FileStat => Boolean) = {
    val lim = collectKeysLimit.min(Int.MaxValue - 1).toInt
    val statKey = physNameOf(key) // stats key physical under mapping
    val grouped = src.groupBy(col(key))
      .agg(count(lit(1)).as("_n")).limit(lim + 1).collect()
    if (grouped.length <= lim) {
      val rows = grouped.map(_.getLong(1)).sum
      val keys = grouped.map(_.get(0)).toSeq
      (rows, st => !FileStats.canSkipKeys(st, statKey, keys))
    } else {
      val r = src.agg(count(lit(1)).as("_n"),
        min(col(key)).as("_mn"), max(col(key)).as("_mx")).head()
      (r.getLong(0),
        st => !FileStats.canSkipRange(st, statKey, r.get(1), r.get(2)))
    }
  }

  /** J1 — MERGE upsert: source rows replace target rows with the same
    * key; unmatched source rows are inserted. Correct because the caller
    * (W1 dedup) guarantees key-uniqueness within the source.
    *
    * File-granular: only files whose key-range stats overlap the batch
    * are read, anti-joined, and rewritten; every other file rides along
    * by manifest reference (Delta MERGE's rewrite scope). On a
    * key-clustered table a localized batch rewrites O(overlap) files,
    * not O(table).
    *
    * `mergeSchema = false` (default) pins the table schema like the
    * reference (`delta.schema.autoMerge.enabled=false`, main.py:72):
    * source columns outside the table schema are dropped. With
    * `mergeSchema = true` the table schema widens by the source's new
    * top-level columns (Delta's autoMerge): existing rows — including
    * copied-forward files, which keep their physical schema — read
    * back with nulls in the added columns, and the widened schema is
    * committed atomically with the data in the commit file's single
    * atomic create.
    */
  def upsert(source: DataFrame, key: String,
             mergeSchema: Boolean = false): Long = {
    // the source is a bounded micro-batch (maxOffsetsPerTrigger); cache
    // it so the pruning stats, the anti-join probe side, the union
    // side, and the returned count are one computation, not several
    val src = applyGenerated(applyIdentity(applyDefaults(source))).cache()
    // CHECK constraints gate the batch BEFORE anything is written (one
    // aggregate over the bounded batch, all constraints at once);
    // deletes can't introduce violations, so only the upsert pays
    // this — and a violation runs once, never burning the retry budget
    try enforceConstraints(src)
    catch { case e: Throwable => src.unpersist(); throw e }
    val result = try retry() {
      val cur = latestVersion
      val curV = cur.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val files = fileListAt(curV)
      // type reconciliation first: the batch conforms to the table
      // types (or the table WIDENS under mergeSchema — typeWidening)
      val (srcT, tableSchema) = conformTypes(src, schema(), mergeSchema)
      val newCols = srcT.schema.fields
        .filterNot(f => tableSchema.fieldNames.contains(f.name))
      val outSchema =
        if (mergeSchema && newCols.nonEmpty)
          StructType(tableSchema.fields ++
            annotateNewFields(tableSchema, newCols.toSeq))
        else tableSchema
      val outCols = outSchema.fieldNames.toSeq

      // Empty table (or only zero-row placeholder files): pure insert,
      // ONE Spark job — no pruning stats are needed and the returned
      // row count rides along as an observed metric of the write job.
      // (optimizedWrite pays one extra count to size its range files —
      // the knob is off by default, so the hot path stays single-job.)
      if (!files.exists(_._2.rows > 0)) {
        commitCounted(srcT, outCols, outSchema.json, Seq.empty, cur,
          op = "MERGE", key = Some(key))
      } else {
        val (srcRows, mayOverlap) = keyProfile(srcT, key)
        val (touched, untouched) = files.partition(f => mayOverlap(f._2))
        // empty files add nothing — merge them away instead of carrying
        val kept = untouched.filterNot(_._2.rows == 0)

        val srcOut = srcT.select(outCols.map(col): _*)
        val newData =
          if (touched.isEmpty) srcOut // pure insert: write only the batch
          else {
            // widened table types serve existing narrow files in place
            // (parquet upcast read) — no rewrite outside the key overlap
            val target0 = readFiles(touched, tableSchema)
            val target =
              if (mergeSchema && newCols.nonEmpty)
                newCols.foldLeft(target0)((t, f) =>
                  t.withColumn(f.name, lit(null).cast(f.dataType)))
              else target0
            // Broadcast the bounded micro-batch's key column so the
            // target side never shuffles; past the row limit (oversized
            // backfill) fall back to a shuffled anti-join rather than
            // materializing the batch on the driver.
            val probe = srcT.select(key)
            val joined = target.join(
              if (srcRows <= broadcastRowLimit) broadcast(probe) else probe,
              Seq(key), "left_anti")
            lastMergePlan = Some(joined.queryExecution.sparkPlan.toString)
            joined.select(outCols.map(col): _*).unionByName(srcOut)
          }
        // upper bound on the new files' rows: the batch plus every
        // row of the rewritten files (sizes clustered output)
        val newRowsBound = srcRows + touched.map(_._2.rows).sum
        // lost-election rebase: our read set is the key-overlapping
        // files (all in the removed set, so the write-set check
        // covers winner removes); a winner ADD whose stats overlap
        // the batch keys could hold rows this merge should have
        // rewritten → re-run
        commitFiles(Some(clusterForWrite(newData, newRowsBound)), kept,
          outSchema.json, cur, op = "MERGE", key = Some(key),
          rebase = Some(Rebase(files.filterNot(_._2.rows == 0),
            (adds, _) => adds.exists(f => mayOverlap(f._2)))))
        srcRows
      }
    } finally src.unpersist()
    maybeAutoCompact()
    result
  }

  /** Highest batch id the writer `appId` has committed, if any —
    * Delta's `txnVersion` idempotence lookup, answered from the head
    * commit's carried watermark map.
    */
  def txnVersion(appId: String): Option[Long] =
    latestVersion.flatMap(v => commit(v).txns.get(appId))

  /** Pure APPEND — the fact/event-table write path: the batch's rows
    * land as new files and every existing file carries forward by
    * reference. No key semantics, no anti-join, no rewrites — O(batch)
    * work at any table size. CHECK constraints gate the batch like
    * upsert.
    *
    * `txn = Some((appId, batchId))` makes the append IDEMPOTENT under
    * replays (Delta's txnAppId/txnVersion): a batch at or below the
    * appId's committed watermark is skipped and 0 is returned — how a
    * restarted streaming sink achieves exactly-once appends on top of
    * at-least-once `foreachBatch` delivery.
    */
  def append(source: DataFrame, mergeSchema: Boolean = false,
             txn: Option[(String, Long)] = None): Long = {
    val src = applyGenerated(applyIdentity(applyDefaults(source))).cache()
    try {
      enforceConstraints(src)
      // Delta parity: without mergeSchema an append carrying columns
      // the table doesn't have is a misconfiguration — reject it
      // loudly rather than silently projecting the data away (a
      // streaming sink pointed at the wrong table would otherwise
      // lose columns with zero signal). Validated OUTSIDE retry(),
      // like enforceConstraints: a deterministic rejection cannot
      // succeed on re-drive, so burning the backoff budget on it
      // only delays the error
      if (!mergeSchema) {
        val tableSchema = schema()
        val extra = src.schema.fields
          .filterNot(f => tableSchema.fieldNames.contains(f.name))
        if (extra.nonEmpty)
          throw new IllegalArgumentException(
            s"append to $path: source has column(s) not in the table " +
              s"schema: ${extra.map(_.name).mkString(", ")} — pass " +
              "mergeSchema=true to evolve the schema, or drop them")
      }
    } catch { case e: Throwable => src.unpersist(); throw e }
    val result = try retry() {
      val cur = latestVersion
      val curV = cur.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val replayed = txn.exists { case (app, batch) =>
        commit(curV).txns.get(app).exists(batch <= _)
      }
      if (replayed) 0L
      else {
        val (srcT, tableSchema) = conformTypes(src, schema(), mergeSchema)
        val newCols = srcT.schema.fields
          .filterNot(f => tableSchema.fieldNames.contains(f.name))
        val outSchema =
          if (mergeSchema && newCols.nonEmpty)
            StructType(tableSchema.fields ++
              annotateNewFields(tableSchema, newCols.toSeq))
          else tableSchema
        val outCols = outSchema.fieldNames.toSeq
        val files = fileListAt(curV).filterNot(_._2.rows == 0)
        // blind append: no read set, no removes — ANY winner commit
        // that leaves the schema alone rebases
        commitCounted(srcT, outCols, outSchema.json, files, cur,
          op = "APPEND", txn = txn,
          rebase = Some(Rebase(files, (_, _) => false)))
      }
    } finally src.unpersist()
    maybeAutoCompact()
    result
  }

  /** INSERT-ONLY MERGE — Delta's `whenNotMatchedInsertAll`-only merge
    * with its headline optimization: matched rows stay untouched, so
    * NO existing file is rewritten at any overlap — surviving source
    * rows land as new files and every live file carries forward by
    * manifest reference. The only table data read is the KEY COLUMN
    * of stat-overlapping files (manifest min/max pruning first, then
    * a column-pruned scan with deletion vectors applied), anti-joined
    * against the bounded batch. This is the dedup-ingest primitive
    * (keep-FIRST semantics): re-deliveries and re-crawls of known
    * keys drop, new keys append — O(batch + overlapping-keys) work at
    * any table size, where `upsert` pays O(batch + overlapping-file
    * ROWS) plus the rewrite.
    *
    * Delta semantics for in-batch duplicates: source rows that share
    * a key ALL insert when the key is absent — pre-aggregate the
    * batch if keys must stay unique (the caller owns batch-internal
    * dedup, as with `upsert`'s W1 contract).
    *
    * `txn = Some((appId, batchId))` gives idempotent replays exactly
    * like [[append]]. Returns rows actually inserted.
    */
  def insertIfAbsent(source: DataFrame, key: String,
                     txn: Option[(String, Long)] = None): Long = {
    val src = applyGenerated(applyIdentity(applyDefaults(source))).cache()
    try enforceConstraints(src)
    catch { case e: Throwable => src.unpersist(); throw e }
    val result = try retry() {
      val cur = latestVersion
      val curV = cur.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val replayed = txn.exists { case (app, batch) =>
        commit(curV).txns.get(app).exists(batch <= _)
      }
      if (replayed) 0L
      else {
        val tableSchema0 = schema()
        // no mergeSchema surface here: narrower batches upcast, wider
        // ones refuse with the widening hint
        val (srcT, tableSchema) =
          conformTypes(src, tableSchema0, mergeSchema = false)
        val outCols = tableSchema.fieldNames.toSeq
        val live = fileListAt(curV).filterNot(_._2.rows == 0)
        val (_, mayOverlap) = keyProfile(srcT, key)
        val touched = live.filter(f => mayOverlap(f._2))
        val srcOut = srcT.select(outCols.map(col): _*)
        val newRows =
          if (touched.isEmpty) srcOut
          else {
            // key-column-only scan of just the overlapping files;
            // readFiles applies DVs, so a DV-deleted key no longer
            // blocks re-insertion (Delta's read-state semantics)
            val existing = readFiles(touched, tableSchema).select(key)
            val joined = srcOut.join(existing, Seq(key), "left_anti")
            lastMergePlan = Some(joined.queryExecution.sparkPlan.toString)
            joined
          }
        // insert-only merge rebases when the winner's manifest delta
        // stays clear of the batch's key range — its read set is the
        // key-overlapping files it CARRIES (nothing is removed), so
        // winner REMOVES matter here too: a concurrently-deleted key
        // this merge chose not to re-insert must force a re-run
        commitCounted(newRows, outCols, tableSchema.json, live, cur,
          op = "MERGE", txn = txn, key = Some(key),
          rebase = Some(Rebase(live,
            (adds, removes) =>
              (adds ++ removes).exists(f => mayOverlap(f._2)))))
      }
    } finally src.unpersist()
    maybeAutoCompact()
    result
  }

  /** Write `src` projected to `outCols` as a commit's new data,
    * returning the row count observed ON the write job itself (or via
    * the one explicit count optimizedWrite needs to size its range
    * files) — the shared tail of upsert's pure-insert path and
    * append.
    */
  private def commitCounted(src: DataFrame, outCols: Seq[String],
      outSchemaJson: String, kept: Seq[(String, FileStats.FileStat)],
      cur: Option[Long], op: String,
      txn: Option[(String, Long)] = None,
      key: Option[String] = None,
      rebase: Option[Rebase] = None): Long =
    if (optimizeWriteEnabled) {
      val n = src.count()
      commitFiles(Some(clusterForWrite(
          src.select(outCols.map(col): _*), n)),
        kept, outSchemaJson, cur, op = op, txn = txn, key = key,
        rebase = rebase)
      n
    } else {
      val obs = org.apache.spark.sql.Observation()
      commitFiles(Some(src.select(outCols.map(col): _*)
          .observe(obs, count(lit(1)).as("_rows"))),
        kept, outSchemaJson, cur, op = op, txn = txn, key = key,
        rebase = rebase)
      obs.get("_rows").asInstanceOf[Long]
    }

  // ---------------- deletion vectors --------------------------------

  /** file_path scheme normalizer shared with DeltaExport's DV scan:
    * `file:///x` and `file:/x` both become `/x`, so the anti-join key
    * matches however the FS qualifies paths.
    */
  private val DvSchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

  /** DV blobs at or below this size are stored INLINE (z85 in the
    * commit manifest); larger ones land as one `u`-storage sidecar
    * `deletion_vector_<uuid>.bin` under the table root — the same
    * split delta-spark makes. ~2 KB of z85 per manifest entry is the
    * worst inline overhead; a sidecar is one extra file create.
    */
  private def inlineDvMaxBytes: Int =
    spark.conf.getOption("graft.table.dv.inlineMaxBytes")
      .map(_.toInt).getOrElse(1536)

  /** Decoded dead positions of these manifest entries' DVs, as a
    * `(_gdv_file, _gdv_pos)` DataFrame — descriptors decode ON
    * EXECUTORS (one task per DV; bytes and positions never gather on
    * the driver), the exact shape [[DeltaExport.readSnapshot]] uses
    * for foreign DV logs.
    */
  private def dvPositions(
      dvs: Seq[(String, FileStats.DvInfo)]): DataFrame = {
    import spark.implicits._
    val dvConf = new SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val rootStr = root.toString
    val descs = dvs.map { case (rel, d) =>
      (fs.makeQualified(resolve(rel)).toUri.toString
        .replaceFirst(DvSchemeRe, "/"),
        d.st, d.d, d.off, d.sz, d.card)
    }.sortBy(_._1)
    spark.createDataset(descs)
      .repartition(math.max(1, math.min(descs.size, 64)))
      .flatMap { case (file, st, data, off, size, card) =>
        val bytes = DeletionVectors.bitmapBytes(dvConf.value,
          new HPath(rootStr),
          DeletionVectors.Descriptor(st, data, off, size, card))
        val pos = DeletionVectors.decodePositions(bytes)
        if (pos.length != card)
          throw new IllegalStateException(
            s"$file: deletion vector decoded ${pos.length} positions " +
              s"but the manifest promised $card")
        pos.iterator.map(p => (file, p))
      }.toDF("_gdv_file", "_gdv_pos")
  }

  /** Drop DV-dead rows from a scan over exactly `files`. No DVs → the
    * plan is untouched (the common case pays nothing). With DVs the
    * scan anti-joins on (file, row position); the dead set broadcasts
    * while the manifest-known total cardinality stays under the merge
    * broadcast limit, so the table side never shuffles — past it the
    * join degrades to a shuffle of O(live + deleted) keyed rows, the
    * same shape delta-spark's DV scan resolves to.
    */
  private def applyDv(df: DataFrame,
                      files: Seq[(String, FileStats.FileStat)]): DataFrame = {
    val dvs = files.collect { case (r, st) if st.dv.isDefined =>
      r -> st.dv.get }
    if (dvs.isEmpty) return df
    val dead0 = dvPositions(dvs)
    val dead =
      if (dvs.map(_._2.card).sum <= broadcastRowLimit) broadcast(dead0)
      else dead0
    df.withColumn("_gdv_file", regexp_replace(
        col("_metadata.file_path"), DvSchemeRe, "/"))
      .withColumn("_gdv_pos", col("_metadata.row_index"))
      .join(dead, Seq("_gdv_file", "_gdv_pos"), "left_anti")
      .drop("_gdv_file", "_gdv_pos")
  }

  /** The ONLY way rewrite paths may materialize a subset of manifest
    * files: raw parquet of the paths with each file's DV applied.
    * Reading the paths directly would RESURRECT DV-deleted rows into
    * the rewrite output.
    */
  private def readFiles(files: Seq[(String, FileStats.FileStat)],
                        readSchema: StructType): DataFrame = {
    val phys = physSchema(readSchema)
    val scanned = applyDv(spark.read.schema(phys)
      .parquet(files.map(f => resolve(f._1).toString): _*), files)
    if (phys == readSchema) scanned
    // column mapping: scan carried physical names — alias back to
    // logical (metadata kept so a re-commit of this frame round-trips)
    else scanned.select(readSchema.fields.map(f =>
      col(physName(f)).as(f.name, f.metadata)): _*)
  }

  /** Delta's `delta.enableDeletionVectors` analogue: once set, the
    * standard [[deleteMatching]] routes through the deletion-vector
    * path (zero file rewrites) — callers keep the MERGE-delete API
    * and opt into the storage behavior per table, exactly how the
    * property works on a Delta table. A table property only, like
    * the others: no session setting turns it on.
    */
  def enableDeletionVectors(): ResourceTable = {
    writeFile(new HPath(root, "_meta_dv_enabled"), "true")
    this
  }

  /** Opt this table into a file-level BLOOM MEMBERSHIP INDEX on
    * `cols` (Delta's bloom filter index): every subsequent commit's
    * new data directory gets a `_index/<dir>.bloom` sidecar, and
    * point-lookup reads (`c = v`, `c IN (…)`) prune files the filter
    * proves cannot match — the skipping min/max stats cannot provide
    * for high-cardinality columns that aren't the clustering key.
    * Takes effect for NEW files only (like Delta); run
    * [[optimize]]/[[compactSmallFiles]] to index existing data via
    * its rewrite. Logical names; renames patch the list (physical
    * bytes — and therefore existing sidecars — are untouched by a
    * mapped rename).
    */
  def enableBloomIndex(cols: Seq[String]): ResourceTable = {
    require(cols.nonEmpty, "bloom index needs at least one column")
    writeFile(bloomMetaFile, cols.mkString("\n"))
    this
  }

  private def bloomMetaFile = new HPath(root, "_meta_bloom.txt")

  private[tables] def bloomIndexColumns: Seq[String] =
    if (!fs.exists(bloomMetaFile)) Seq.empty
    else readFile(bloomMetaFile).split("\n").map(_.trim)
      .filter(_.nonEmpty).toSeq

  /** Bloom sizing: the target false-positive rate of each sidecar. */
  private val bloomFpp = 0.01

  /** The probe-survivor cap (session conf) past which pruning is
    * abandoned for a column (collects must stay bounded on the
    * driver).
    */
  private def bloomProbeKeepCap: Int =
    spark.conf.get("graft.table.bloomIndex.probeKeepCap", "100000").toInt

  /** The extra-prune hook [[readVersion]] installs on its
    * [[StatsFileIndex]]: lazily (only when a filtered scan plans)
    * checks for index metadata, extracts servable equality probes
    * from the pushed filters, and runs one [[BloomIndex.probe]] per
    * distinct probe set (memoized — Catalyst may plan a scan more
    * than once). Filters reference PHYSICAL names at scan level,
    * which is also the namespace the sidecars are keyed by.
    */
  private def bloomPruneHook
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        Option[HPath => Boolean] = {
    val memo = scala.collection.mutable.Map
      .empty[String, Option[String => Boolean]]
    filters => {
      // kill switch, same convention as graft.rules.*: probing is an
      // accelerator — off means stats-only pruning, never wrong rows
      if (!spark.conf.get("graft.table.bloomIndex.probe", "true")
            .toBoolean) None
      else {
      val physCols = bloomIndexColumns.map(physNameOf).toSet
      if (physCols.isEmpty) None
      else {
        val hashes = BloomIndex.eqHashes(filters, physCols)
        if (hashes.isEmpty) None
        else {
          val key = hashes.toSeq.sortBy(_._1)
            .map { case (c, hs) => s"$c:${hs.sorted.mkString(",")}" }
            .mkString(";")
          memo.synchronized {
            memo.getOrElseUpdate(key,
              BloomIndex.probe(spark, fs, root, hashes,
                bloomProbeKeepCap))
          }.map(keepRel => (p: HPath) =>
            keepRel(s"${p.getParent.getName}/${p.getName}"))
        }
      }
      }
    }
  }

  /** Opt this table into CHANGE DATA FEED export (Delta's
    * `delta.enableChangeDataFeed` table property): DeltaExport will
    * emit `cdc` actions + `_change_data/` row-level change files for
    * every mutating commit that rewrites or DV-kills rows, so external
    * Delta streaming consumers read the same feed [[changes]] serves
    * in-engine. Mutation commits record their merge/delete key either
    * way; the flag only gates the export-side materialization.
    */
  def enableChangeDataFeed(): ResourceTable = {
    writeFile(new HPath(root, "_meta_cdf_enabled"), "true")
    this
  }

  private[tables] def changeDataFeedEnabled: Boolean =
    fs.exists(new HPath(root, "_meta_cdf_enabled"))

  /** Opt this table into IN-COMMIT TIMESTAMPS on export (Delta's
    * `delta.enableInCommitTimestamps` property + the writer-only
    * `inCommitTimestamp` table feature, PROTOCOL.md "In-Commit
    * Timestamps"). Graft commit timestamps are already monotonic —
    * `max(now, parent + 1)`, exactly the ICT contract — so the export
    * only has to surface them in every `commitInfo`, making
    * `timestampAsOf` resolution clock-skew-proof for FOREIGN readers
    * of the exported log too (the in-repo reader already prefers
    * `inCommitTimestamp` when a log carries it).
    */
  def enableInCommitTimestamps(): ResourceTable = {
    writeFile(new HPath(root, "_meta_ict_enabled"), "true")
    this
  }

  private[tables] def ictEnabled: Boolean =
    fs.exists(new HPath(root, "_meta_ict_enabled"))

  /** Delta's `delta.appendOnly`: once set, no dataChange commit may
    * REMOVE data — deletes, updates, rewriting upserts, replaceWhere
    * and DV kills all refuse at the commit protocol (the exact check
    * Delta runs), while appends, insert-only merges, non-overlapping
    * upserts and OPTIMIZE rearrangements keep working. The audit-log
    * table shape: immutability enforced by the table, not by
    * convention. Exported as the `delta.appendOnly` property so
    * foreign aware writers keep enforcing it.
    */
  def setAppendOnly(): ResourceTable = {
    writeFile(new HPath(root, "_meta_append_only"), "true")
    this
  }

  private[tables] def appendOnly: Boolean =
    fs.exists(new HPath(root, "_meta_append_only"))

  private[tables] def dvEnabled: Boolean =
    fs.exists(new HPath(root, "_meta_dv_enabled"))

  /** J2 at O(deleted rows): delete by DELETION VECTOR instead of file
    * rewrite. Matching rows' positions are found with one scan of the
    * stats-overlapping files, unioned per file with any existing DV,
    * encoded as roaring bitmaps on executors (inline z85 under
    * [[inlineDvMaxBytes]], else a sidecar under the table root), and
    * committed as manifest `dv` entries — zero data-file bytes are
    * rewritten. A file whose every physical row is dead leaves the
    * manifest entirely. Reads drop DV positions transparently; any
    * rewrite (upsert / optimize / classic delete) materializes
    * survivors and clears the file's DV.
    *
    * Scale contract vs [[deleteMatching]]: the classic path rewrites
    * O(bytes of touched files); this path writes O(deleted rows)
    * bitmap bytes — the right tool when deletes are sparse (GDPR
    * erasure, record retractions) over huge clustered files.
    */
  def deleteMatchingDv(ids: DataFrame, key: String): Long = {
    import spark.implicits._
    val idsKeyed = ids.toDF(key).cache()
    val result = try retry() {
      val cur = latestVersion
      val curV = cur.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val files = fileListAt(curV)
      val (nIds, mayOverlap) = keyProfile(idsKeyed, key)
      val (touched, untouched) = files.partition(f => mayOverlap(f._2))
      val kept = untouched.filterNot(_._2.rows == 0)
      if (touched.isEmpty) {
        // copy-forward commit, same contract as the rewrite path
        commitFiles(None, kept, schema().json, cur, op = "DELETE",
          key = Some(key),
          rebase = Some(Rebase(files.filterNot(_._2.rows == 0),
            (adds, _) => adds.exists(f => mayOverlap(f._2)))))
        nIds
      } else {
        val matches = rawDvScan(touched)
          .join(
            if (nIds <= broadcastRowLimit) broadcast(idsKeyed)
            else idsKeyed,
            Seq(key), "left_semi")
          .select(col("_gdv_file").as[String], col("_gdv_pos").as[Long])
        commitDvMatches(matches, touched, kept, cur, Some(key),
          rebase = Some(Rebase(files.filterNot(_._2.rows == 0),
            (adds, _) => adds.exists(f => mayOverlap(f._2)))))
        nIds
      }
    } finally idsKeyed.unpersist()
    result
  }

  /** Shared DV-delete head: a RAW scan of the touched files (no DV
    * filter — rows already dead may re-match; the per-file union with
    * the existing DV inside [[commitDvMatches]] dedups them) tagged
    * with `_gdv_file`/`_gdv_pos`, physical parquet names restored to
    * logical under column mapping. The keyed and predicate delete
    * paths must stay byte-identical here — a mapping or
    * path-normalization fix applied to one must reach the other.
    */
  private def rawDvScan(
      touched: Seq[(String, FileStats.FileStat)]): DataFrame = {
    val tableSchema = schema()
    val physT = physSchema(tableSchema)
    val rawScan = spark.read.schema(physT)
      .parquet(touched.map(f => resolve(f._1).toString): _*)
      .withColumn("_gdv_file", regexp_replace(
        col("_metadata.file_path"), DvSchemeRe, "/"))
      .withColumn("_gdv_pos", col("_metadata.row_index"))
    if (physT == tableSchema) rawScan
    else rawScan.select(tableSchema.fields.map(f =>
      col(physName(f)).as(f.name)) ++
      Seq(col("_gdv_file"), col("_gdv_pos")): _*)
  }

  /** Shared DV-delete tail: union the matched (file, position) rows
    * with any existing DVs, encode per file on executors, and commit
    * the updated manifest — zero data files rewritten. Used by the
    * keyed path ([[deleteMatchingDv]]) and the predicate path
    * ([[deleteWhere]] under `dvEnabled`).
    */
  private def commitDvMatches(
      matches: org.apache.spark.sql.Dataset[(String, Long)],
      touched: Seq[(String, FileStats.FileStat)],
      kept: Seq[(String, FileStats.FileStat)],
      cur: Option[Long], key: Option[String],
      rebase: Option[Rebase] = None): Unit = {
    import spark.implicits._
    val existing = touched.collect {
      case (r, st) if st.dv.isDefined => r -> st.dv.get
    }
    val allDead =
      if (existing.isEmpty) matches
      else matches.union(dvPositions(existing)
        .select(col("_gdv_file").as[String],
          col("_gdv_pos").as[Long]))
    val dvConf = new SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val rootStr = root.toString
    val inlineMax = inlineDvMaxBytes
    // one encode task per touched file; positions of ONE file
    // gather in its task (bounded by that file's rows — the same
    // boundedness delta's DV writer assumes)
    val encoded = allDead.groupByKey(_._1)
      .mapGroups { (file, it) =>
        val pos = it.map(_._2).toArray.distinct.sorted
        val blob = DeletionVectors.encodePositions(pos)
        if (blob.length <= inlineMax)
          (file, "i", DeletionVectors.z85EncodePadded(blob), 0,
            blob.length, pos.length.toLong)
        else {
          val d = DeletionVectors.writeSidecar(dvConf.value,
            new HPath(rootStr), blob, pos.length.toLong)
          (file, d.storageType, d.pathOrInlineDv, d.offset,
            d.sizeInBytes, d.cardinality)
        }
      }.collect()
      .map(e => e._1 ->
        FileStats.DvInfo(e._2, e._3, e._4, e._5, e._6)).toMap
    val qualified = touched.map { case (rel, st) =>
      (fs.makeQualified(resolve(rel)).toUri.toString
        .replaceFirst(DvSchemeRe, "/"), rel, st)
    }
    val updated = qualified.flatMap { case (q, rel, st) =>
      encoded.get(q) match {
        case Some(d) if d.card >= st.rows => None // fully dead
        case Some(d) => Some(rel -> st.copy(dv = Some(d)))
        case None => Some(rel -> st) // stats false positive
      }
    }
    commitFiles(None, kept ++ updated, schema().json, cur,
      op = "DELETE", key = key, rebase = rebase): Unit
  }

  /** J2 — MERGE delete: drop target rows whose key appears in `ids`
    * (a single-column DataFrame of key values). Same file-granular
    * scope as upsert: only files whose stats admit a listed key are
    * rewritten.
    */
  def deleteMatching(ids: DataFrame, key: String): Long = {
    if (dvEnabled) return deleteMatchingDv(ids, key)
    val idsKeyed = ids.toDF(key).cache()
    val result = try retry() {
      val cur = latestVersion
      val curV = cur.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val files = fileListAt(curV)
      val (nIds, mayOverlap) = keyProfile(idsKeyed, key)
      val (touched, untouched) = files.partition(f => mayOverlap(f._2))
      val kept = untouched.filterNot(_._2.rows == 0)
      // a non-overlapping delete still COMMITS (copy-forward version):
      // Delta likewise publishes a version for an unmatched
      // MERGE/DELETE — the spec pins this as the contract
      val newData =
        if (touched.isEmpty) None // no file can hold a listed key
        else {
          val target = readFiles(touched, schema())
          val joined = target.join(
            if (nIds <= broadcastRowLimit) broadcast(idsKeyed)
            else idsKeyed,
            Seq(key), "left_anti")
          lastMergePlan = Some(joined.queryExecution.sparkPlan.toString)
          Some(joined)
        }
      // rebase: winner adds holding a listed key would escape this
      // delete (the commit must delete them under serialization) →
      // re-run; winner removes of overlapping files are our own
      // removed set, covered by the write-set check
      commitFiles(newData, kept, schema().json, cur, op = "DELETE",
        key = Some(key),
        rebase = Some(Rebase(files.filterNot(_._2.rows == 0),
          (adds, _) => adds.exists(f => mayOverlap(f._2)))))
      nIds
    } finally idsKeyed.unpersist()
    maybeAutoCompact()
    result
  }

  /** General conditional MERGE (Delta's full
    * `whenMatched…/whenNotMatched…` builder): matched clauses apply
    * IN CALL ORDER — the first clause whose condition holds decides
    * the row (update with assignments, or delete); a matched row
    * selected by no clause carries unchanged; unmatched source rows
    * insert under an optional condition. Conditions and assignments
    * may reference both sides as `t.<col>` (target) and `s.<col>`
    * (source) — assignments evaluate against the PRE-merge pair, SQL
    * semantics. The source must be key-unique (the [[upsert]]
    * contract). Same file-granular scope as every mutation: only
    * key-overlapping files rewrite.
    */
  def merge(source: DataFrame, key: String): MergeBuilder =
    new MergeBuilder(this, source, key, Vector.empty, None)

  private[tables] def executeMerge(
      source: DataFrame, key: String,
      matched: Seq[(org.apache.spark.sql.Column,
        Option[Map[String, org.apache.spark.sql.Column]])],
      notMatchedInsert: Option[org.apache.spark.sql.Column],
      // Delta txnAppId/txnVersion: a merge at or below the appId's
      // committed watermark replays as a no-op (0 rows) — exactly-once
      // incremental maintenance on at-least-once drivers
      txn: Option[(String, Long)] = None): Long = {
    // GENERATED ALWAYS invariant under clause updates: assigning a
    // generated column directly, or one of its referenced columns,
    // through a whenMatchedUpdate set-map would leave stored values
    // disagreeing with their expression (clause projections evaluate
    // per-row with both sides in scope — recomputation there is a
    // rewrite this builder doesn't do). Refuse loudly; updateWhere
    // recomputes, and full-row upsert computes at the source.
    locally {
      val gens = generatedColumns()
      if (gens.nonEmpty) {
        val guarded = gens.keySet ++
          gens.values.flatMap(referencedColumns)
        val touched = matched.flatMap(_._2).flatMap(_.keys)
          .filter(guarded).distinct
        if (touched.nonEmpty)
          throw new IllegalArgumentException(
            s"$path: merge clause updates column(s) " +
              s"${touched.mkString(", ")} involved in GENERATED " +
              "ALWAYS AS expressions — use updateWhere (which " +
              "recomputes) or a full-row upsert")
      }
    }
    val src = applyGenerated(applyIdentity(applyDefaults(source))).cache()
    try {
      enforceConstraints(src)
      retry() {
        val cur = latestVersion
        val curV = cur.getOrElse(
          throw new IllegalStateException(s"no table at $path"))
        val replayed = txn.exists { case (app, batch) =>
          commit(curV).txns.get(app).exists(batch <= _)
        }
        if (replayed) 0L
        else {
        val files = fileListAt(curV)
        val tableSchema = schema()
        val outCols = tableSchema.fieldNames.toSeq
        val (srcRows, mayOverlap) = keyProfile(src, key)
        val (touched, untouched) = files.partition(f => mayOverlap(f._2))
        val kept = untouched.filterNot(_._2.rows == 0)
        val srcCols = src.columns.toSeq
        val s = (if (srcRows <= broadcastRowLimit) broadcast(src)
          else src).alias("s")
        // unmatched-source inserts (untouched files provably hold no
        // source key, so "not in the touched files" = "not in the
        // table" — the upsert pruning argument)
        val inserts = notMatchedInsert.map { cond =>
          val probe =
            if (touched.isEmpty)
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                StructType(Seq(tableSchema(key))))
            else readFiles(touched, tableSchema).select(key)
          src.alias("s").join(probe, Seq(key), "left_anti")
            .filter(cond)
            .select(outCols.map(c =>
              (if (srcCols.contains(c)) col(c)
               else lit(null)).cast(tableSchema(c).dataType).as(c)): _*)
        }
        val survivors =
          if (touched.isEmpty) None
          else {
            val tj = readFiles(touched, tableSchema).alias("t")
              .join(s, col(s"t.$key") === col(s"s.$key"), "left_outer")
            val isMatched = col(s"s.$key").isNotNull
            // first-true clause index; 0 = no clause → carry unchanged
            val clauseIdx = matched.zipWithIndex.reverse
              .foldLeft(lit(0)) { case (acc, ((cond, _), i)) =>
                when(isMatched && coalesce(cond, lit(false)), lit(i + 1))
                  .otherwise(acc)
              }
            val deletes = matched.zipWithIndex.collect {
              case ((_, None), i) => i + 1
            }
            val keptRows =
              if (deletes.isEmpty) tj
              else tj.filter(!clauseIdx.isin(deletes.map(
                Integer.valueOf): _*))
            Some(keptRows.select(outCols.map { c =>
              matched.zipWithIndex.foldLeft(col(s"t.$c")) {
                case (acc, ((_, Some(set)), i)) => set.get(c) match {
                  case Some(e) =>
                    when(clauseIdx === (i + 1),
                      e.cast(tableSchema(c).dataType)).otherwise(acc)
                  case None => acc
                }
                case (acc, _) => acc
              }.as(c)
            }: _*))
          }
        val newData = (survivors, inserts) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        }
        // same rebase shape as upsert: read set = key-overlapping
        // files, all removed, so only winner ADDS need the stats test
        commitFiles(newData, kept, tableSchema.json, cur, op = "MERGE",
          txn = txn, key = Some(key),
          rebase = Some(Rebase(files.filterNot(_._2.rows == 0),
            (adds, _) => adds.exists(f => mayOverlap(f._2)))))
        srcRows
        }
      }
    } finally src.unpersist()
  }

  /** Delta `DELETE FROM … WHERE predicate` — row deletion by an
    * arbitrary predicate, no key required. Stats-pruned rewrite scope
    * like every mutation: files provably outside the predicate carry
    * by reference; may-overlap files rewrite keeping their
    * non-matching survivors (predicate-null rows survive — SQL DELETE
    * semantics). Returns files rewritten. O(overlapping files), never
    * O(table).
    */
  def deleteWhere(predicate: org.apache.spark.sql.Column): Long = retry() {
    import spark.implicits._
    val cur = latestVersion
    val curV = cur.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val files = fileListAt(curV)
    val (touched, untouched) = splitByPredicate(files, predicate)
    val kept = untouched.filterNot(_._2.rows == 0)
    val matching = coalesce(predicate, lit(false))
    if (dvEnabled && touched.nonEmpty) {
      // same routing as deleteMatching: under the DV property the
      // predicate delete writes bitmaps, not files — O(deleted rows)
      val matches = rawDvScan(touched)
        .filter(matching)
        .select(col("_gdv_file").as[String], col("_gdv_pos").as[Long])
      // rebase: a winner ADD that may hold a predicate-matching row
      // would escape this delete → re-run (splitByPredicate re-tests
      // the winner's files against the same pruning logic)
      commitDvMatches(matches, touched, kept, cur, key = None,
        rebase = Some(Rebase(files.filterNot(_._2.rows == 0),
          (adds, _) => splitByPredicate(adds, predicate)._1.nonEmpty)))
    } else {
      val newData =
        if (touched.isEmpty) None
        else Some(readFiles(touched, schema()).filter(!matching))
      commitFiles(newData, kept, schema().json, cur, op = "DELETE",
        rebase = Some(Rebase(files.filterNot(_._2.rows == 0),
          (adds, _) =>
            splitByPredicate(adds, predicate)._1.nonEmpty))): Unit
    }
    touched.size.toLong
  }

  /** Delta `UPDATE … SET assignments WHERE predicate`: matching rows
    * take the assignment expressions (evaluated against the OLD row —
    * SQL UPDATE semantics), everything else is untouched. Same
    * stats-pruned rewrite scope as [[deleteWhere]]; assignments must
    * target existing columns (no implicit schema evolution — Delta
    * refuses the same way). Returns files rewritten.
    */
  def updateWhere(predicate: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column])
      : Long = retry() {
    val cur = latestVersion
    val curV = cur.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val s = schema()
    val unknown = assignments.keys.filterNot(s.fieldNames.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"$path: UPDATE assigns unknown column(s) " +
          s"${unknown.mkString(", ")}")
    // Delta semantics: UPDATE recomputes a generated column when the
    // update touches its references; assigning one directly is
    // refused (GENERATED ALWAYS). Recomputation happens via an extra
    // assignment evaluated against the POST-update row (generation
    // expressions only reference non-generated columns, so one extra
    // when-projection layer suffices).
    val gens = generatedColumns()
    val directGen = assignments.keys.filter(gens.contains)
    if (directGen.nonEmpty)
      throw new IllegalArgumentException(
        s"$path: cannot UPDATE generated column(s) " +
          s"${directGen.mkString(", ")} (GENERATED ALWAYS — update " +
          "their referenced columns instead)")
    val files = fileListAt(curV)
    val (touched, untouched) = splitByPredicate(files, predicate)
    val kept = untouched.filterNot(_._2.rows == 0)
    val matching = coalesce(predicate, lit(false))
    val newData =
      if (touched.isEmpty) None
      else {
        val target = readFiles(touched, s)
        // one projection: each assigned column flips to its new
        // expression ONLY where the predicate holds — evaluated
        // against the pre-update row, so swaps (SET a=b, b=a) work.
        // The match verdict rides along as a marker column: the
        // generated-column recompute below must fire for the rows
        // that MATCHED PRE-update, even if the update changed a
        // predicate column.
        val assigned = target.select(
          (s.fieldNames.toSeq.map { c =>
            assignments.get(c) match {
              case Some(e) =>
                when(matching, e.cast(s(c).dataType)).otherwise(col(c))
                  .as(c)
              case None => col(c)
            }
          } :+ matching.as("__upd")): _*)
        // second layer: generated columns recompute from the
        // POST-update row on updated rows only
        Some((if (gens.isEmpty) assigned
          else assigned.select(
            (s.fieldNames.toSeq.map { c =>
              gens.get(c) match {
                case Some(e) =>
                  when(col("__upd"),
                    expr(e).cast(s(c).dataType)).otherwise(col(c)).as(c)
                case None => col(c)
              }
            } :+ col("__upd")): _*)).drop("__upd"))
      }
    // rebase: winner adds that may hold predicate-matching rows would
    // escape this UPDATE → re-run
    commitFiles(newData, kept, schema().json, cur, op = "UPDATE",
      rebase = Some(Rebase(files.filterNot(_._2.rows == 0),
        (adds, _) => splitByPredicate(adds, predicate)._1.nonEmpty)))
    touched.size.toLong
  }

  /** Shared stats-pruned file split for predicate DML: (may contain a
    * matching row, provably cannot). Mapping-aware like pruneFiles.
    */
  private def splitByPredicate(
      files: Seq[(String, FileStats.FileStat)],
      predicate: org.apache.spark.sql.Column)
      : (Seq[(String, FileStats.FileStat)],
         Seq[(String, FileStats.FileStat)]) = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema())
    val pred = empty.filter(predicate).queryExecution.analyzed
      .collectFirst {
        case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          fl.condition
      }
    val nameMap = schema().fields.map(f => f.name -> physName(f)).toMap
    val physPred = pred.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if nameMap.getOrElse(a.name, a.name) != a.name =>
        a.withName(nameMap(a.name))
    })
    files.partition { case (_, st) =>
      physPred.forall(p => !FileStats.canSkip(p, st))
    }
  }

  /** Delta `replaceWhere` (predicate overwrite): atomically replace
    * exactly the rows matching `predicate` with `source`, in ONE
    * commit — the partition-overwrite pattern (daily re-loads,
    * backfills) without physical partitions. Delta's contract is
    * enforced: every source row must satisfy the predicate, else the
    * "overwrite" would silently widen past its declared scope —
    * refused loudly, like delta-spark's replaceWhere check.
    *
    * Scale shape: files whose min/max stats PROVE they hold no
    * matching row carry by reference (the same stats skipping
    * snapshot reads plan with); only may-overlap files rewrite, keeping
    * their non-matching survivors (predicate-null rows count as
    * non-matching, Delta's semantics). Write amplification is
    * O(files overlapping the predicate), never O(table).
    */
  def overwriteWhere(predicate: org.apache.spark.sql.Column,
                     source: DataFrame): Long = {
    val src = applyGenerated(applyIdentity(applyDefaults(source))).cache()
    val matching = coalesce(predicate, lit(false))
    // deterministic refusals run ONCE, before the retry loop: a
    // constraint violation or an out-of-scope source row cannot
    // succeed on re-drive (upsert/append make the same split)
    try {
      enforceConstraints(src)
      if (src.filter(!matching).limit(1).count() > 0)
        throw new IllegalArgumentException(
          s"$path: replaceWhere source contains rows that do not " +
            "satisfy the predicate — refusing to write outside the " +
            "declared scope (delta replaceWhere contract)")
    } catch { case e: Throwable => src.unpersist(); throw e }
    try retry() {
      val cur = latestVersion
      val curV = cur.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val files = fileListAt(curV)
      // type reconciliation like EVERY other write path: the batch
      // conforms to the table types or refuses loudly — without it a
      // type-mismatched source writes data files diverging from the
      // committed schema, leaving the head unreadable
      val (srcT, tableSchema) =
        conformTypes(src, schema(), mergeSchema = false)
      val cols = tableSchema.fieldNames.toSeq.map(col)
      val (touched, untouched) = splitByPredicate(files, predicate)
      val newData =
        if (touched.isEmpty) srcT.select(cols: _*)
        else readFiles(touched, tableSchema).filter(!matching)
          .unionByName(srcT.select(cols: _*))
      // rebase: winner adds that may match the predicate must be
      // replaced too (replaceWhere's atomic-scope contract) → re-run
      commitFiles(Some(newData), untouched.filterNot(_._2.rows == 0),
        tableSchema.json, cur, op = "REPLACE WHERE",
        rebase = Some(Rebase(files.filterNot(_._2.rows == 0),
          (adds, _) => splitByPredicate(adds, predicate)._1.nonEmpty)))
      src.count()
    } finally src.unpersist()
  }

  /** J3 — compaction: rewrite the current snapshot into `numFiles`
    * files; when clustering columns are configured, cluster by them —
    * one column: range-partition + sort (classic clustering); several
    * columns: sort by the Z-order key (the `OPTIMIZE ZORDER` / liquid
    * clustering analogue — row-group min/max stats then prune on
    * EVERY clustered column, not just the sort prefix). `compression`
    * mirrors the reference compactor's writer properties
    * (lakehousekeeper.py:196–214, default ZSTD).
    */
  def optimize(numFiles: Int = 4,
               compression: String = "zstd"): Unit = retry() {
    val cur = latestVersion
    val rewritten = clusterInto(read(), numFiles)
    // rebase: a compaction reads nothing beyond the files it rewrites
    // (all removed, write-set-checked), so any winner whose commit
    // left those files alone — e.g. a concurrent append — composes:
    // the winner's files carry into the re-anchored manifest. THE
    // reference's deployment shape is exactly this race: the
    // lakehousekeeper maintenance CLI compacting under a live
    // streaming upsert engine (lakehousekeeper.py vs main.py)
    commitFiles(Some(rewritten), Seq.empty, schema().json, cur,
      compression, op = "OPTIMIZE", appendOnlyExempt = true,
      dataChange = false,
      rebase = Some(Rebase(
        cur.map(fileListAt).getOrElse(Seq.empty), (_, _) => false)))
  }

  /** INCREMENTAL compaction — Delta OPTIMIZE's actual bin-packing
    * scope: only files smaller than `minBytes` are read and rewritten
    * (coalesced toward `targetBytes` each); every already-right-sized
    * file carries forward BY REFERENCE. This is the O(small-files)
    * upkeep a 100 TB table needs — the whole-snapshot `optimize()` is
    * O(table) write amplification per run and exists for explicit
    * re-clustering, not routine upkeep. Like Delta's bin-packing, the
    * compacted output is not re-clustered against the carried files
    * (their stats ranges may overlap); run `optimize()` when global
    * clustering matters more than write cost. Returns
    * (files compacted, files carried).
    */
  def compactSmallFiles(minBytes: Long = DefaultCompactMinBytes,
                        targetBytes: Long = 1L << 30,
                        compression: String = "zstd",
                        numFiles: Option[Int] = None): (Int, Int) = {
    require(minBytes > 0 && targetBytes >= minBytes)
    require(numFiles.forall(_ > 0))
    retry() {
      val cur = latestVersion.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val files = fileListAt(cur)
      val sizes = manifestSizes(files)
      val (small, large) = files.partition(f => sizes(f._1) < minBytes)
      if (small.size < 2) (0, files.size) // nothing worth coalescing
      else {
        val smallBytes = small.map(f => sizes(f._1)).sum
        // numFiles overrides the byte-derived bin count (the
        // optimize(numFiles) analogue for the incremental path —
        // useful when the caller wants a fixed range-disjoint layout
        // regardless of current bytes)
        val n = numFiles.getOrElse(
          math.max(1L, (smallBytes + targetBytes - 1) / targetBytes)
            .min(Int.MaxValue).toInt)
        val read = readFiles(small, schema())
        // incremental clustering: on a clustered table the coalesced
        // output is range-sorted on the cluster key so the NEW files
        // get disjoint, prunable stats — existing large files keep
        // their ranges untouched (Delta's incremental OPTIMIZE shape;
        // full optimize() remains the global re-cluster)
        // rebase like optimize(): only the small files are read and
        // removed; any winner leaving them alone composes
        commitFiles(Some(clusterInto(read, n)), large, schema().json,
          Some(cur), compression, op = "OPTIMIZE",
          appendOnlyExempt = true, dataChange = false,
          rebase = Some(Rebase(files, (_, _) => false)))
        (small.size, large.size)
      }
    }
  }

  /** Delta `REORG TABLE ... APPLY (PURGE)` parity: selectively
    * rewrite ONLY the files whose deletion-vector dead fraction
    * reached `minDeadFraction`, materializing their survivors (DV
    * applied) and clearing those DVs; every other file — no DV, or a
    * still-sparse one — carries forward BY REFERENCE. DV deletes keep
    * DELETE at O(deleted rows), but every later read of a DV'd file
    * pays the position anti-join and scans the dead bytes; once a
    * file is mostly dead that recurring toll outweighs a one-time
    * rewrite. This is the DV lifecycle's third step: DV delete (cheap
    * mutation) → purge (targeted rewrite of the WORST files,
    * O(purged bytes) never O(table)) → vacuum (reap the orphaned
    * sidecars past retention). Commits as OPTIMIZE: logical content
    * is unchanged by construction, so the change feed over the purge
    * step is empty (Delta's dataChange=false semantics) and time
    * travel still reads the pre-purge version under its own DVs.
    * Returns (files purged, files carried).
    */
  def purgeDeletionVectors(minDeadFraction: Double = 0.05,
                           compression: String = "zstd"): (Int, Int) = {
    require(minDeadFraction > 0 && minDeadFraction <= 1,
      s"minDeadFraction must be in (0, 1]: $minDeadFraction")
    retry() {
      val cur = latestVersion.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val files = fileListAt(cur)
      val (doomed, carried) = files.partition { case (_, st) =>
        st.rows > 0 &&
          st.dv.exists(_.card.toDouble / st.rows >= minDeadFraction)
      }
      if (doomed.isEmpty) (0, carried.size)
      else {
        val survivors = readFiles(doomed, schema())
        // one output file per purged input keeps the snapshot's
        // file-size profile; survivors of mostly-dead files come out
        // small, and the next compactSmallFiles pass coalesces them
        // rebase like optimize(): reads only the doomed files
        commitFiles(Some(clusterInto(survivors, doomed.size)),
          carried, schema().json, Some(cur), compression,
          op = "OPTIMIZE", appendOnlyExempt = true,
          dataChange = false,
          rebase = Some(Rebase(files, (_, _) => false)))
        (doomed.size, carried.size)
      }
    }
  }

  /** Per-file physical bytes of manifest entries: straight from the
    * manifest's commit-time recorded lengths (zero FS calls); only
    * legacy entries written before bytes were recorded fall back to an
    * FS listing.
    */
  private def manifestSizes(
      files: Seq[(String, FileStats.FileStat)]): Map[String, Long] = {
    val (known, legacy) = files.partition(_._2.bytes.isDefined)
    known.map(f => f._1 -> f._2.bytes.get).toMap ++
      fileSizes(legacy.map(_._1))
  }

  /** FS-listed bytes of manifest entries: one listing per distinct
    * snapshot dir. A manifest-referenced file missing from the
    * filesystem (vacuumed snapshot, external deletion) fails FAST with
    * the offending path — classifying it as 0 bytes would send it into
    * a compaction read that dies with an opaque parquet error.
    */
  private def fileSizes(rels: Seq[String]): Map[String, Long] = rels
    .groupBy(r => r.substring(0, r.lastIndexOf('/')))
    .iterator.flatMap { case (d, group) =>
      val dirPath = new HPath(root, d)
      if (!fs.exists(dirPath))
        throw new IllegalStateException(
          s"$path: manifest references ${group.size} file(s) in missing " +
            s"directory $d — snapshot vacuumed or externally deleted")
      val byName = fs.listStatus(dirPath)
        .map(s => s.getPath.getName -> s.getLen).toMap
      group.map { r =>
        val name = r.substring(r.lastIndexOf('/') + 1)
        byName.get(name) match {
          case Some(len) => r -> len
          case None => throw new IllegalStateException(
            s"$path: manifest references missing file $r — " +
              "snapshot vacuumed or externally deleted")
        }
      }
    }.toMap

  /** Size-targeted compaction (Delta `OPTIMIZE` maxFileSize /
    * delta-rs `target_size` parity, lakehousekeeper.py:206–214): pick
    * the output file count from the snapshot's ACTUAL bytes — one FS
    * listing per snapshot dir, no data read — so compacted files land
    * near `targetBytes` each. At 100 TB a fixed file COUNT is always
    * wrong (4 files of 25 TB or 10⁶ tiny files); a size target keeps
    * scan parallelism and open-file cost balanced at any scale.
    * Returns the chosen file count.
    */
  def optimizeBySize(targetBytes: Long = 1L << 30,
                     compression: String = "zstd"): Int = {
    require(targetBytes > 0)
    val cur = latestVersion.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val totalBytes = manifestBytes(fileListAt(cur))
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      .min(Int.MaxValue).toInt
    optimize(n, compression)
    n
  }

  /** J4 — vacuum: delete data files older than `retentionMs` that the
    * CURRENT manifest no longer references (rewritten away, deleted,
    * compacted over, or orphaned by a losing writer), then sweep
    * emptied snapshot dirs. Returns the number of data files removed
    * (counted, not deleted, under `dryRun` — `VACUUM ... DRY RUN`
    * parity, lakehousekeeper.py:167–182).
    *
    * `enforceRetention` is Delta's retentionDurationCheck
    * (lakehousekeeper.py:122–146): when enabled, a retention below
    * `minRetentionMs` (default 1 week, Delta's
    * deletedFileRetentionDuration) is refused — pass
    * `enforceRetention = false` to override deliberately. The engine's
    * own upkeep runs unchecked, as the reference disables the check in
    * its session (main.py:71).
    *
    * SAFETY: retention must exceed the longest possible in-flight
    * write. A concurrent writer's files sit UNREFERENCED in its
    * unpublished snap dir until its commit lands; a vacuum with
    * retention shorter than that window would reap them and the
    * writer would publish a manifest pointing at deleted files. This
    * is exactly why Delta refuses sub-minimum retention — never run
    * `vacuum(0)` against a live table outside a quiesced test.
    */
  def vacuum(retentionMs: Long = 24L * 3600 * 1000,
             dryRun: Boolean = false,
             enforceRetention: Boolean = false,
             minRetentionMs: Long = DefaultMinRetentionMs): Int = {
    if (enforceRetention && retentionMs < minRetentionMs)
      throw new IllegalArgumentException(
        s"retention ${retentionMs}ms is below the minimum " +
          s"${minRetentionMs}ms; pass enforceRetention=false to " +
          "override (lakehousekeeper --enforce-retention-duration)")
    val cur = latestVersion.getOrElse(return 0)
    val referenced = fileListAt(cur).map(_._1).toSet
    // An exported _delta_log pins its LAST-EXPORTED snapshot for
    // external readers; if that export is stale, its live files may be
    // unreferenced by the current manifest and about to be reaped —
    // every external reader would dangle. Bring the export current
    // first (incremental, O(new commits)): a current export's live set
    // is the current manifest, which vacuum never touches. Old delta
    // ENTRIES may still reference reaped files — external time travel
    // past retention breaks exactly as Delta's own vacuum documents.
    if (!dryRun && DeltaExport.exported(this) &&
        (DeltaExport.liveFiles(this) -- referenced).nonEmpty)
      try DeltaExport.export(this)
      catch { case e: IllegalStateException =>
        throw new IllegalStateException(
          s"$path: vacuum would reap files still live in the exported " +
            "_delta_log, and the export could not be brought current — " +
            "fix or remove the _delta_log directory first", e)
      }
    val curDir = commit(cur).dir
    val cutoff = System.currentTimeMillis() - retentionMs
    var n = 0
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snap-"))
      .foreach { s =>
        val dname = s.getPath.getName
        // a snap dir can VANISH between the root listing and here: a
        // concurrent writer that loses its commit election deletes its
        // own staged dir (commitFiles' cleanup). Such a dir is by
        // definition uncommitted — skip it; retention only protects
        // COMMITTED files from deletion, it cannot make the listing
        // race go away.
        val vanished =
          try Some(fs.listStatus(s.getPath))
          catch { case _: java.io.FileNotFoundException => None }
        vanished.foreach { entries =>
          var remaining = entries.length
          entries.foreach { e =>
            val rel = s"$dname/${e.getPath.getName}"
            if (!e.isDirectory && !referenced(rel) &&
                e.getModificationTime < cutoff) {
              if (!dryRun) fs.delete(e.getPath, false)
              if (e.getPath.getName.endsWith(".parquet")) n += 1
              remaining -= 1
            }
          }
          // sweep dirs emptied by file deletion (never the current
          // commit's own dir — its next write target may race)
          if (!dryRun && remaining == 0 && dname != curDir &&
              s.getModificationTime < cutoff)
            fs.delete(s.getPath, true)
        }
      }
    reapOrphanSidecars(cur, cutoff, dryRun)
    reapOrphanBloomSidecars(cutoff, dryRun)
    // commit-publish tmp orphans: a writer killed between staging the
    // body and hard-linking it leaves `.N.commit.<uuid>.tmp` in _log
    // (invisible to every lister — reaped here once clearly dead)
    if (!dryRun)
      fs.listStatus(logDir)
        .filter(s => !s.isDirectory && s.getPath.getName.startsWith(".") &&
          s.getPath.getName.endsWith(".tmp") &&
          s.getModificationTime < cutoff)
        .foreach(s => fs.delete(s.getPath, false))
    n
  }

  /** Bloom sidecars share their data directory's lifecycle exactly:
    * `_index/<dir>.bloom` dies when `<dir>` dies (swept above once
    * its files age out unreferenced). `.tmp-*` leftovers are crashed
    * builds — reap past the cutoff too. Driver-side O(directories).
    */
  private def reapOrphanBloomSidecars(cutoff: Long,
                                      dryRun: Boolean): Unit = {
    val idx = BloomIndex.indexRoot(root)
    val listed =
      try fs.listStatus(idx)
      catch { case _: java.io.FileNotFoundException => return }
    listed.foreach { s =>
      val nm = s.getPath.getName
      val dirName =
        if (nm.startsWith(".tmp-")) nm.stripPrefix(".tmp-")
          .stripSuffix(".bloom")
        else nm.stripSuffix(".bloom")
      if (nm.endsWith(".bloom") && s.getModificationTime < cutoff &&
          (nm.startsWith(".tmp-") ||
            !fs.exists(new HPath(root, dirName))))
        if (!dryRun) fs.delete(s.getPath, true)
    }
  }

  /** DV sidecars live at the table root: reap the ones the CURRENT
    * manifest no longer references (rewrites clear DVs, leaving the
    * .bin orphaned) past the retention cutoff. Old graft/delta log
    * entries referencing a reaped sidecar break exactly like time
    * travel to vacuumed data files — the documented contract.
    * Driver-side O(sidecars): there is at most one live sidecar per
    * data file and usually far fewer.
    */
  private def reapOrphanSidecars(cur: Long, cutoff: Long,
                                 dryRun: Boolean): Unit = {
    val liveSidecars = fileListAt(cur).flatMap(_._2.dv)
      .filter(_.st == "u")
      .map(d => DeletionVectors
        .filePath(root, d.descriptor).getName)
      .toSet
    fs.listStatus(root)
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith("deletion_vector_") &&
        s.getPath.getName.endsWith(".bin") &&
        !liveSidecars(s.getPath.getName) &&
        s.getModificationTime < cutoff)
      .foreach(s => if (!dryRun) fs.delete(s.getPath, false))
  }

  /** delta-rs `cleanup_metadata` parity (lakehousekeeper.py:163): drop
    * commit-log entries whose data files were already vacuumed, keeping
    * at least `keepLast` most-recent commits. Bounds log growth on a
    * long-lived table; time travel to a cleaned version fails the same
    * way a vacuumed one does.
    */
  def cleanupMetadata(keepLast: Int = 100): Int = {
    val cur = latestVersion.getOrElse(return 0)
    // INVARIANT with latestVersion's probe: the probe walks forward
    // from the checkpoint hint and stops at the first missing commit,
    // so deleting any commit AT or ABOVE the hint would open a gap
    // that makes the probe return a stale head (wedging writers in a
    // conflict loop against versions they cannot see). Hints can lag
    // (their write is best-effort), so the hint, not `cur`, is the
    // deletion ceiling.
    val ceiling = checkpointHint().getOrElse(Long.MaxValue)
    var n = 0
    loggedVersions().dropRight(keepLast).foreach { v =>
      if (v != cur && v < ceiling && !versionIntact(v)) {
        fs.delete(commitFile(v), false); n += 1
      }
    }
    n
  }

  /** Delta `DESCRIBE HISTORY` parity: one row per retained commit —
    * (version, timestamp, operation, num_files, num_rows, is_intact).
    * `operation`/`timestamp` come from the commit body (null for
    * commits written before the fields existed); `is_intact` reports
    * whether the version can still be time-traveled to (false once
    * vacuum reaped its files). Driver-side metadata like Delta's own
    * history — bounded by [[cleanupMetadata]], never O(data).
    */
  def history(): DataFrame = {
    import spark.implicits._
    val rows = loggedVersions().reverse
      .map { v =>
        val c = commit(v)
        val files = c.files
        (v, c.ts.map(new java.sql.Timestamp(_)).orNull,
          c.op.orNull, files.size.toLong,
          // LIVE rows (physical minus DV-dead), the same convention
          // as describeDetail/statsCount — reconciling the two
          // surfaces must not show phantom rows after a DV delete
          files.map(f =>
            f._2.rows - f._2.dv.map(_.card).getOrElse(0L)).sum,
          missingFiles(files.map(_._1)).isEmpty)
      }
    rows.toDF("version", "timestamp", "operation", "num_files",
      "num_rows", "is_intact")
  }

  /** Delta `DESCRIBE DETAIL` parity: a one-row summary of the CURRENT
    * snapshot — location, version, file count, total bytes, row count
    * (from manifest stats — no data read).
    */
  def describeDetail(): DataFrame = {
    import spark.implicits._
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val files = fileListAt(v)
    // num_rows is the LIVE count: physical rows minus DV-dead rows —
    // all from the manifest, no data read
    Seq((path, v, files.size.toLong, manifestBytes(files),
        files.map(f => f._2.rows - f._2.dv.map(_.card).getOrElse(0L)).sum,
        files.flatMap(_._2.dv).map(_.card).sum))
      .toDF("location", "version", "num_files", "size_bytes",
        "num_rows", "num_deletion_vector_rows")
  }

  /** Metadata-only COUNT(*) — Delta's "metadata-only query" shape:
    * the live row count (physical rows minus deletion-vector
    * cardinalities, Delta's numRecords convention) answered from the
    * commit manifest alone. Zero data files opened, no Spark job —
    * O(manifest) driver work, which at 100 TB is the difference
    * between milliseconds and a full table scan. `version < 0`
    * means the head.
    */
  def statsCount(version: Long = -1L): Long = {
    val v = if (version >= 0) version
      else latestVersion.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
    fileListAt(v).map { case (_, st) =>
      st.rows - st.dv.map(_.card).getOrElse(0L)
    }.sum
  }

  /** Metadata-only MIN/MAX of a column: the manifest's per-file
    * min/max merged across the version's live files. Returns `None` —
    * the caller falls back to a scan — unless the answer is PROVABLY
    * exact: any live file carrying a deletion vector (the extremal
    * row may be dead), any file missing the column's stats, or
    * non-numeric stats (string footer stats may be writer-truncated;
    * Long/Double stats are exact) all refuse. Files whose stats say
    * all-null contribute nothing, matching SQL MIN/MAX semantics;
    * an all-null (or empty) table yields `Some((null, null))` like
    * SQL's MIN/MAX over no non-null rows.
    */
  def statsMinMax(column: String, version: Long = -1L)
      : Option[(Any, Any)] = {
    val v = if (version >= 0) version
      else latestVersion.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
    val files = fileListAt(v)
    if (files.exists(_._2.dv.isDefined)) return None
    var mn: Any = null
    var mx: Any = null
    val statCol = physNameOf(column) // stats key physical under mapping
    files.foreach { case (_, st) =>
      st.cols.get(statCol) match {
        case None => return None // stats absent/poisoned → not provable
        case Some(cs) => (cs.min, cs.max) match {
          case (None, None) => () // all-null file: no extremal evidence
          case (Some(a: Long), Some(b: Long)) =>
            if (mn == null || FileStats.cmp(a, mn).exists(_ < 0)) mn = a
            if (mx == null || FileStats.cmp(b, mx).exists(_ > 0)) mx = b
          case (Some(a: Double), Some(b: Double)) =>
            if (mn == null || FileStats.cmp(a, mn).exists(_ < 0)) mn = a
            if (mx == null || FileStats.cmp(b, mx).exists(_ > 0)) mx = b
          case _ => return None // non-numeric stats → not provably exact
        }
      }
    }
    Some((mn, mx))
  }

  /** Total physical bytes of manifest-referenced files — recorded
    * manifest lengths, FS listing only for legacy entries.
    */
  private def manifestBytes(
      files: Seq[(String, FileStats.FileStat)]): Long =
    manifestSizes(files).values.sum

  /** Conflict-check spec for optimistic commit REBASE — Delta's
    * ConflictChecker shape (delta-spark OptimisticTransaction /
    * ConflictChecker; PROTOCOL.md requires only that the winner's
    * version is not overwritten, concurrency control is writer
    * policy). When a writer loses the commit election, the expensive
    * artifact — the written data files — is usually still valid: only
    * the MANIFEST it planned against is stale. Instead of deleting
    * the files and re-running the whole job (read + join + write,
    * minutes at scale), the loser re-checks the winner's commits
    * against its own read/write sets, and when they are logically
    * disjoint, re-anchors the same files on the new head: one
    * manifest diff + one O_EXCL create, zero recompute.
    *
    * `baseFiles` is the manifest this commit planned against (what
    * its kept/removed split was computed from). `conflicts(adds,
    * removes)` answers "could the winner's file changes invalidate
    * this commit's READ set?" — adds/removes are the winner's
    * manifest delta (by (path, dv) identity, so a DV-modified file
    * shows on both sides). The write-set check is built in: every
    * file this commit removes must still be live at the head, else
    * the rebase aborts to a full re-run.
    *
    * Not covered (falls back to re-run, always sound): schema changes
    * by either side, txn-watermark races on the same appId, and
    * table-property DDL (constraints/generated/identity declare on
    * empty or quiesced tables in this engine).
    */
  private[tables] final case class Rebase(
      baseFiles: Seq[(String, FileStats.FileStat)],
      conflicts: (Seq[(String, FileStats.FileStat)],
                  Seq[(String, FileStats.FileStat)]) => Boolean)

  /** Write `newData` (when present) into a writer-unique dir, then
    * publish the commit whose manifest = new files ∪ `keptFiles`
    * (carried forward by reference with their existing stats). The
    * commit file — created with overwrite=false — is the only pointer
    * readers follow. If another writer won the race the create throws,
    * this writer's orphan dir is deleted, and the caller's retry
    * recomputes against the new state (optimistic concurrency, like
    * Delta). Schema and manifest flip in the same atomic create.
    */
  private def commitFiles(newData: Option[DataFrame],
      keptFiles: Seq[(String, FileStats.FileStat)],
      schemaJson: String,
      expectedCurrent: Option[Long],
      compression: String = "zstd",
      op: String = "WRITE",
      txn: Option[(String, Long)] = None,
      key: Option[String] = None,
      rebase: Option[Rebase] = None,
      // explicit exemption from delta.appendOnly enforcement — set by
      // dataChange=false rearrangements (OPTIMIZE paths) and by
      // RESTORE (an admin operation Delta itself never routes through
      // its append-only check); never inferred from the op label
      appendOnlyExempt: Boolean = false,
      // false = rearrangement (same logical rows, different files):
      // persisted into the commit body so CDF diffs and the delta
      // export classify the commit by FLAG, not by op-label substring
      dataChange: Boolean = true): Long = {
    val next = expectedCurrent.getOrElse(-1L) + 1
    val dirName =
      s"snap-$next-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new HPath(root, dirName)
    val conf = spark.sessionState.newHadoopConf()
    // under column mapping, data files store PHYSICAL names — rename
    // the logical frame at the single write choke point (stats then
    // key physical straight from the footers, matching every reader)
    val outSchema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val newDataPhys =
      if (!mapped(outSchema)) newData
      else newData.map(_.select(outSchema.fields.map(f =>
        col(f.name).as(physName(f))): _*))
    val newStats: Seq[(String, FileStats.FileStat)] = newDataPhys match {
      case Some(df) =>
        // zstd like the reference's writer properties
        // (lakehousekeeper.py:206–214)
        df.write.mode("overwrite").option("compression", compression)
          .parquet(dir.toString)
        // per-file min/max/null stats for data skipping, straight from
        // the just-written parquet footers (metadata-only read).
        // Serial on the driver for micro-batch file counts; above the
        // threshold the reads run as a Spark job (a 10k-file backfill
        // commit must not serialize 10k footer RPCs on the driver)
        val parts = fs.listStatus(dir)
          .filter(_.getPath.getName.endsWith(".parquet")).toSeq
        val byName = FileStats.readFooters(spark, conf, parts,
          spark.conf.get("graft.table.statsDistributedThreshold",
            "64").toInt)
        parts.map(st => s"$dirName/${st.getPath.getName}" ->
            byName(st.getPath.getName))
          // empty part files (a writer partition with no rows) carry no
          // data and have no stats, so every later merge would
          // conservatively rewrite them — keep them out of the
          // manifest; vacuum sweeps the orphaned bytes
          .filter(_._2.rows > 0)
      case None => Seq.empty
    }
    // file-level bloom index: build the new directory's sidecar now
    // (same pre-election lifecycle as the data dir — a lost race or
    // failed publish deletes both). One distributed, column-pruned
    // pass over the NEW files only; sized by the batch's largest file
    // (footer row counts just read above). Failure leaves the commit
    // unindexed, never unpublished — the index is an accelerator.
    if (newStats.nonEmpty) {
      val bloomCols = bloomIndexColumns
      if (bloomCols.nonEmpty)
        try BloomIndex.build(spark, fs, root, dirName,
          bloomCols.map(physNameOf),
          math.max(1024L, newStats.map(_._2.rows).max), bloomFpp)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"$path: bloom index build for $dirName " +
            s"failed (commit proceeds unindexed): ${e.getMessage}")
        }
    }
    // election + (optional) rebase loop. Mutable cursor: on a LOST
    // election with a rebase spec, the loser re-anchors against the
    // new head (recomputing kept/txns/next) and tries the next slot —
    // the data files written above are reused verbatim. Any check
    // failure falls back to the classic path: delete the dir, throw
    // a CONFLICT, let retry() re-run the operation.
    var curExpected = expectedCurrent
    var curKept = keptFiles
    var curNext = next
    var rebasesLeft = 20 // bound: heavy contention falls back to re-run
    // the commit body is encoded BEFORE each election attempt so
    // nothing lengthens the create-to-write window (a torn body wedges
    // readers on the deadline spin)
    val rowTracking = rowTrackingEnabled
    def encodeBody(): Array[Byte] = {
      val parent = curExpected.map(commit)
      // ROW TRACKING assignment happens HERE, inside the election
      // loop: the parent body's high-water mark is authoritative
      // because commits serialize on the O_EXCL create — no side
      // markers needed (unlike identity, which binds values to DATA
      // before the election). A rebase recomputes off the new head,
      // so concurrent writers' ranges can never collide.
      val (outNew, rowHwm) =
        if (!rowTracking) (newStats, None)
        else {
          var hwm = parent.flatMap(_.rowHwm).getOrElse(0L)
          val assigned = newStats.sortBy(_._1).map { case (r, st) =>
            val b = hwm; hwm += st.rows
            r -> st.copy(baseRowId = Some(b), rowVer = Some(curNext))
          }
          (assigned, Some(hwm))
        }
      // MONOTONIC commit timestamp (Delta's in-commit-timestamp
      // contract): never behind the parent's — clock skew between
      // writers must not reorder history, or versionAsOf's
      // newest-first scan would resolve the wrong snapshot
      val ts = math.max(System.currentTimeMillis(),
        parent.flatMap(_.ts).getOrElse(0L) + 1)
      FileStats.Commit(curNext, Some(op), Some(ts), dirName,
        // txn watermarks carry forward so any later commit can answer
        // "has (appId, batchId) already been applied?" from the head
        // alone
        txns = parent.map(_.txns).getOrElse(Map.empty) ++ txn,
        rowHwm = rowHwm,
        // `key` records the mutation's merge/delete key so a later CDF
        // export can replay this commit's row-level changes
        key = key,
        dataChange = if (dataChange) None else Some(false),
        schemaJson = Some(schemaJson),
        files = (curKept ++ outNew).toMap.toSeq)
        .encode.getBytes(StandardCharsets.UTF_8)
    }
    var body = encodeBody()
    def loseAndThrow(cause: Throwable): Nothing = {
      fs.delete(dir, true)
      BloomIndex.deleteSidecar(fs, root, dirName)
      throw new CommitConflictException(path, curNext, cause)
    }
    onBeforePublish()
    // delta.appendOnly enforced exactly where Delta enforces it: a
    // dataChange commit may not REMOVE data, by (path, dv) identity —
    // so file rewrites AND deletion-vector kills are caught, while
    // pure appends (including an upsert whose batch overlaps nothing,
    // and insert-only merges) commit fine and OPTIMIZE steps
    // (dataChange=false rearrangements) stay allowed. Re-checked
    // after every rebase: the anchor manifest moves.
    def checkAppendOnly(): Unit =
      if (appendOnly && !appendOnlyExempt &&
          curExpected.isDefined) {
        val keptIds = curKept.map(f => (f._1, f._2.dv)).toSet
        val removed = fileListAt(curExpected.get)
          .filterNot(f => keptIds((f._1, f._2.dv)))
        if (removed.nonEmpty) {
          fs.delete(dir, true)
          BloomIndex.deleteSidecar(fs, root, dirName)
          throw new IllegalStateException(
            s"$path: $op would remove ${removed.size} data file(s) " +
              "from an append-only table (delta.appendOnly)")
        }
      }
    checkAppendOnly()
    var published = false
    while (!published) {
      try {
        publishExclusive(commitFile(curNext), body)
        published = true
      } catch {
        // lost the race: rebase if the spec allows, else remove this
        // writer's unpublished dir so it doesn't linger until vacuum
        // and let retry() re-drive against the winner's head — typed
        // as a CONFLICT so the retry wrapper charges its concurrency
        // budget, not the failure budget
        case e @ (_: java.nio.file.FileAlreadyExistsException |
                  _: org.apache.hadoop.fs.FileAlreadyExistsException) =>
          val rb = rebase.getOrElse(loseAndThrow(e))
          // kill switch: graft.table.rebase=false forces every lost
          // election back to the classic full re-run
          if (!spark.conf.get("graft.table.rebase", "true").toBoolean ||
              curExpected.isEmpty || rebasesLeft <= 0) loseAndThrow(e)
          rebasesLeft -= 1
          val head = latestVersion.getOrElse(loseAndThrow(e))
          if (head < curNext) loseAndThrow(e)
          // base first: the head stays memoized for the re-anchor
          val baseSchema = commit(expectedCurrent.get).schemaJson
          val headC = commit(head)
          // winner changed the schema → our projection/scope may be
          // stale in ways file stats can't arbitrate
          if (headC.schemaJson != baseSchema) loseAndThrow(e)
          // winner advanced our own appId's watermark → this batch
          // may already be applied; the operation's own replay check
          // must re-decide
          if (txn.exists { case (app, b) =>
                headC.txns.get(app).exists(b <= _) })
            loseAndThrow(e)
          def ident(f: (String, FileStats.FileStat)) = (f._1, f._2.dv)
          val baseIdents = rb.baseFiles.map(ident).toSet
          val keptIdents = keptFiles.map(ident).toSet
          val removedIdents = baseIdents -- keptIdents
          val headFiles = headC.files
          val headIdents = headFiles.map(ident).toSet
          // write-set check: every file this commit rewrites/removes
          // must be untouched at the head (same path AND same DV)
          if (!removedIdents.subsetOf(headIdents)) loseAndThrow(e)
          // read-set check: the winner's own manifest delta, judged
          // by the operation (e.g. "no added/removed file overlaps
          // my batch's key range")
          val winnerAdds = headFiles.filterNot(f => baseIdents(ident(f)))
          val winnerRemoves =
            rb.baseFiles.filterNot(f => headIdents(ident(f)))
          if (rb.conflicts(winnerAdds, winnerRemoves)) loseAndThrow(e)
          // re-anchor: the head's manifest minus our removals, plus
          // any entries this commit MODIFIED in place rather than
          // removed (a DV-delete passes touched files through
          // keptFiles with updated descriptors — their old identity
          // is in the removed set, so the path filter drops the
          // head's copy and the modified entry re-enters here)
          val removedPaths = removedIdents.map(_._1)
          curKept = headFiles.filterNot(f => removedPaths(f._1)) ++
            keptFiles.filterNot(f => baseIdents(ident(f)))
          curExpected = Some(head)
          curNext = head + 1
          body = encodeBody()
          checkAppendOnly()
        case e: Throwable =>
          fs.delete(dir, true)
          BloomIndex.deleteSidecar(fs, root, dirName)
          throw e
      }
    }
    // roll the lookup checkpoint forward every checkpointInterval
    // commits (reference settings.py:48). A plain overwrite: the file
    // is a monotone hint, never load-bearing for correctness — so a
    // failed hint write must NOT fail (or re-drive!) the already-
    // published commit: retry() would re-apply the whole mutation and
    // double-append the batch
    if (checkpointInterval > 0 && curNext > 0 &&
        curNext % checkpointInterval == 0)
      try writeFile(lastCheckpointFile, s"""{"version":$curNext}""")
      catch { case e: Throwable => System.err.println(
        s"$path: checkpoint hint write failed (commit $curNext is " +
          s"published and safe): ${e.getMessage}")
      }
    curNext
  }

  private def writeFile(p: HPath, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Create-fails-if-exists with REAL atomicity per filesystem — the
    * commit protocol's winner election. HDFS's create(overwrite=false)
    * is atomic at the NameNode, but Hadoop's RawLocalFileSystem
    * implements it as exists()-then-create: two racing local writers
    * can BOTH pass the check and the second silently overwrites the
    * first — a lost commit (caught by the concurrent-writer stress
    * spec). On file:// the O_EXCL open (NIO CREATE_NEW) is the true
    * atomic create; on stores advertising [[ConditionalPut]] (S3's
    * `If-None-Match: *` conditional write — S3A's own
    * create(overwrite=false) is HEAD-then-PUT and NOT atomic) the
    * election is the store's conditional PUT; everywhere else the
    * store's own create is.
    */
  private def createExclusive(p: HPath): java.io.OutputStream =
    fs match {
      case cp: ConditionalPut =>
        // election callers only create empty markers (both callsites
        // `.close()` immediately); the PUT carries the empty body and
        // the returned stream REFUSES writes — on this store the
        // object is already published whole, so silently discarding
        // written bytes would be a store-dependent data-loss
        // divergence (use publishExclusive to publish WITH a body)
        if (!cp.putIfAbsent(p, Array.emptyByteArray))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            p.toString)
        new java.io.OutputStream {
          override def write(b: Int): Unit =
            throw new UnsupportedOperationException(
              s"$p: createExclusive on a ConditionalPut store " +
                "publishes an empty marker; write bodies via " +
                "publishExclusive")
        }
      case _ if fs.getUri.getScheme == "file" =>
        java.nio.file.Files.newOutputStream(
          java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      case _ => fs.create(p, /*overwrite=*/ false)
    }

  /** Atomically publish a commit body at `p` — winner election and
    * body durability in ONE step. On file:// the body is first written
    * and CLOSED as a hidden same-directory tmp (its bytes are in the
    * page cache, which survives process death), then HARD-LINKED to
    * the commit name: link(2) is atomic and fails with EEXIST, so a
    * lost election throws FileAlreadyExistsException with nothing
    * published, and a writer killed at ANY instruction leaves either
    * no commit or a complete one. The previous create-then-write
    * publish could tear: a SIGKILL between the output stream's buffer
    * flushes left a truncated HEAD commit that wedged every later
    * reader and writer (readCommit deadline-spins — caught by
    * KillRecoverySpec at exactly the 16 KiB buffer boundary once
    * manifests outgrew one flush). Elsewhere (HDFS-like stores)
    * create(overwrite=false) is atomic at the store and remains the
    * election; the body follows on the winner's stream, torn-cleanup
    * on write failure as before.
    */
  private def publishExclusive(p: HPath, body: Array[Byte]): Unit =
    fs match {
      case cp: ConditionalPut =>
        // S3-class stores: a single conditional PUT is BOTH the
        // election and body durability — an object never appears
        // half-written, so the torn-write class the file:// hard link
        // fixes does not exist here, and a lost election leaves
        // nothing published
        if (!cp.putIfAbsent(p, body))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            p.toString)
      case _ => publishExclusiveGeneric(p, body)
    }

  private def publishExclusiveGeneric(p: HPath,
                                      body: Array[Byte]): Unit =
    if (fs.getUri.getScheme == "file") {
      val dst = java.nio.file.Paths.get(p.toUri.getPath)
      val tmp = dst.resolveSibling(
        s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      java.nio.file.Files.write(tmp, body)
      try java.nio.file.Files.createLink(dst, tmp)
      finally {
        // success or EEXIST alike: the tmp served its purpose (the
        // link shares the inode); a crash right here only orphans a
        // dotfile no lister matches
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: Throwable => () }
      }
    } else {
      val out = fs.create(p, /*overwrite=*/ false)
      try {
        try out.write(body) finally out.close()
      } catch { case e: Throwable =>
        try fs.delete(p, false) catch { case _: Throwable => () }
        throw e
      }
    }
}

/** Fluent conditional-MERGE builder ([[ResourceTable.merge]]) —
  * immutable; each `when…` returns a new builder, `execute()` runs
  * the merge. Matched clauses fire in call order, Delta's semantics.
  */
final class MergeBuilder private[tables] (
    t: ResourceTable, source: DataFrame, key: String,
    matched: Vector[(org.apache.spark.sql.Column,
      Option[Map[String, org.apache.spark.sql.Column]])],
    notMatchedInsert: Option[org.apache.spark.sql.Column],
    txn: Option[(String, Long)] = None) {
  import org.apache.spark.sql.functions.lit

  def whenMatchedUpdate(
      set: Map[String, org.apache.spark.sql.Column],
      condition: org.apache.spark.sql.Column = lit(true)): MergeBuilder =
    new MergeBuilder(t, source, key,
      matched :+ (condition -> Some(set)), notMatchedInsert, txn)

  def whenMatchedDelete(
      condition: org.apache.spark.sql.Column = lit(true)): MergeBuilder =
    new MergeBuilder(t, source, key,
      matched :+ (condition -> None), notMatchedInsert, txn)

  def whenNotMatchedInsert(
      condition: org.apache.spark.sql.Column = lit(true)): MergeBuilder =
    new MergeBuilder(t, source, key, matched, Some(condition), txn)

  /** Delta txnAppId/txnVersion idempotence: a merge at or below the
    * appId's committed watermark replays as a no-op — the watermark
    * and the merge land in ONE commit, so a driver crash between them
    * cannot exist.
    */
  def withTransaction(appId: String, version: Long): MergeBuilder =
    new MergeBuilder(t, source, key, matched, notMatchedInsert,
      Some((appId, version)))

  /** Run the merge; returns the source row count (the upsert
    * convention; 0 when the transaction watermark marks the batch
    * replayed). A builder with no clauses is a no-op misuse —
    * refused loudly.
    */
  def execute(): Long = {
    require(matched.nonEmpty || notMatchedInsert.nonEmpty,
      "merge needs at least one whenMatched/whenNotMatched clause")
    t.executeMerge(source, key, matched, notMatchedInsert, txn)
  }
}

object ResourceTable {
  /** Schema-field metadata keys carrying the column-mapping state
    * (the graft analogue of `delta.columnMapping.physicalName`/`.id`;
    * DeltaExport translates them to the Delta keys on export).
    */
  val PhysKey = "graft.columnMapping.physicalName"
  val IdKey = "graft.columnMapping.id"

  /** Schema-field metadata key for a column DEFAULT — Delta's own
    * `CURRENT_DEFAULT` key (PROTOCOL.md "Column Default Values"), so
    * the export carries it verbatim. The value is the SQL text of a
    * constant expression.
    */
  val DefaultKey = "CURRENT_DEFAULT"

  /** Marker for a LOST WINNER ELECTION — ordinary optimistic
    * concurrency, never a real failure. [[retry]] charges these to
    * `conflictAttempts`, not the failure budget; any metadata-plane
    * publisher (table commits, delta-log export) participates by
    * mixing it in.
    */
  trait ConflictRetryable extends Throwable

  /** Another writer published this version first — ordinary optimistic
    * concurrency (Delta's ConcurrentAppendException analogue), retried
    * from its own budget by [[ResourceTable.retry]].
    */
  final class CommitConflictException(path: String, version: Long,
                                      cause: Throwable)
    extends RuntimeException(
      s"$path: version $version was committed by another writer", cause)
    with ConflictRetryable

  /** Delta's default deletedFileRetentionDuration: 1 week. */
  val DefaultMinRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** Files below this are compaction candidates — compactSmallFiles'
    * default threshold AND the auto-compact gate's definition of
    * "small", so the gate counts exactly what the compactor would
    * coalesce.
    */
  val DefaultCompactMinBytes: Long = 32L << 20

  def apply(spark: SparkSession, path: String): ResourceTable =
    new ResourceTable(spark, path)

  def apply(spark: SparkSession, path: String,
            checkpointInterval: Int): ResourceTable =
    new ResourceTable(spark, path, checkpointInterval)

  /** Engine-scoped write behavior: `Some(...)` pins optimizedWrite /
    * autoCompact for THIS table handle regardless of session confs, so
    * two engines with different Settings can share one SparkSession.
    */
  def apply(spark: SparkSession, path: String, checkpointInterval: Int,
            optimizeWrite: Option[Boolean],
            autoCompact: Option[Boolean]): ResourceTable =
    new ResourceTable(spark, path, checkpointInterval,
      optimizeWrite, autoCompact)

  /** J5 — the reference's tenacity retry (exponential backoff ×5) around
    * table commits (bundle_processor.py:240–244), with one crucial
    * split: a LOST WINNER ELECTION is not a failure, it is optimistic
    * concurrency working as designed, so [[CommitConflictException]]
    * draws from its own much larger budget with short jittered sleeps
    * (Delta's commit loop likewise retries conflicts essentially
    * unboundedly while real errors stay at tenacity's ×5). Folding
    * conflicts into the failure budget made 5 concurrent writers
    * enough to spuriously exhaust it — at 1000 executors that would
    * be every micro-batch.
    */
  def retry[T](attempts: Int = 5, backoffMs: Long = 100,
               conflictAttempts: Int = 200)(body: => T): T = {
    var left = attempts
    var conflictsLeft = conflictAttempts
    var backoff = backoffMs
    while (true) {
      try return body
      catch {
        case e: ConflictRetryable =>
          if (conflictsLeft <= 1) throw e
          conflictsLeft -= 1
          // flat jittered sleep: desynchronizes the losers; an
          // exponential curve here would serialize high contention
          // into multi-second convoys
          Thread.sleep(
            10 + java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(90))
        case e: Throwable =>
          if (left <= 1) throw e
          left -= 1
          Thread.sleep(backoff)
          backoff *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Pure merge semantics (J1) as a standalone transformation, used by
    * the q_merge_upsert gate query (`upsert` runs its own file-granular
    * merge): rows of `target` not keyed in `source`, plus all of
    * `source`.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, key: String): DataFrame =
    target.join(source.select(key), Seq(key), "left_anti")
      .unionByName(source.select(target.columns.map(col): _*))

  /** Pure delete semantics (J2): target rows whose key does NOT appear
    * in `ids`.
    */
  def mergeDelete(target: DataFrame, ids: DataFrame, key: String): DataFrame =
    target.join(ids.toDF(key), Seq(key), "left_anti")
}
