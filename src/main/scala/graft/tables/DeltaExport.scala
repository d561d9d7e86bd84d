package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType,
  DataType, DateType, DoubleType, FloatType, IntegerType, LongType,
  MapType, MetadataBuilder, ShortType, StringType, StructField,
  StructType, TimestampNTZType}

import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Delta Lake transaction-log interop for [[ResourceTable]].
  *
  * The reference's tables are REAL Delta tables, readable by external
  * engines — Trino's delta connector and DuckDB `delta_scan` both read
  * them directly (bzkf/fhir-to-lakehouse
  * hack/trino/catalog/fhir.properties:1–9,
  * tests/integration/check-counts.sql:11–15). This environment has no
  * delta jar, so ResourceTable keeps its own commit log; [[export]]
  * closes the interop gap by MIRRORING that log as a minimal standard
  * `_delta_log/` — protocol, metaData, add/remove actions — beside the
  * data files, so any delta-protocol reader (delta-rs, DuckDB
  * `delta_scan`, Trino, delta-spark) can read every exported snapshot
  * without graft on the classpath.
  *
  * Emitted subset of the protocol (Delta PROTOCOL.md, public spec):
  * protocol v1/v2, metaData with Spark-JSON schemaString (the formats
  * coincide — Delta's schemaString IS the Spark StructType JSON),
  * add actions with file size, modification time and
  * `numRecords`/`minValues`/`maxValues`/`nullCount` stats (from the
  * manifest — no data re-read), remove actions with deletion
  * timestamps, `txn` (SetTransaction) actions mirroring the table's
  * idempotent-append watermarks, and parquet checkpoints every 10
  * commits with a `_last_checkpoint` pointer (PROTOCOL.md
  * "Checkpoints"), so readers replay checkpoint + tail instead of
  * the whole log. Tables that use the richer features export them
  * too, with the protocol upgraded to the feature set in use and
  * never narrowed (reader 3 / writer 7 table features): deletion
  * vectors, column mapping, change data feed (`cdc` actions), type
  * widening, TIMESTAMP_NTZ, in-commit timestamps, row tracking +
  * domain metadata, generated/identity/default columns, check
  * constraints, and V2 checkpoints with UUID sidecar manifests. A
  * plain append-only table still exports at (1,2) so the oldest
  * readers stay compatible.
  *
  * Export is INCREMENTAL and idempotent: delta versions map 1:1 onto
  * graft commits from the anchor forward; a re-export after k new
  * commits appends exactly k new log entries (each the manifest diff —
  * O(files touched), never O(table)). If `cleanupMetadata` trimmed the
  * chain between exports, the next export RE-ANCHORS: one commit that
  * removes every previously-exported file and adds the current
  * manifest — still a correct snapshot for every reader, with the
  * discontinuity recorded in commitInfo. Log entries publish via
  * tmp-file + atomic rename, so a concurrent external reader never
  * sees a half-written action file (the same torn-publish discipline
  * ChangeFeed's binaryFile source demanded of the graft log itself).
  *
  * [[readSnapshot]] is the matching consumer: a standalone reader of
  * exactly this protocol subset (driver-side log replay like Delta's
  * own Snapshot — the log is O(#commits), bounded by cleanupMetadata,
  * never O(data)). It exists so the round-trip is provable in-repo:
  * the q_delta_export gate reads a table ONLY through the exported
  * log and hash-matches the relational oracle.
  */
object DeltaExport {
  private val mapper = new ObjectMapper()
  private val f = JsonNodeFactory.instance

  private def deltaDir(t: ResourceTable) = new HPath(t.path, "_delta_log")
  private def entryFile(t: ResourceTable, v: Long) =
    new HPath(deltaDir(t), f"$v%020d.json")

  /** Stable table id across exports: derived from the table path, so
    * readers that pin metaData.id see the same table on re-export.
    */
  private def tableId(t: ResourceTable): String =
    java.util.UUID.nameUUIDFromBytes(
      t.path.getBytes(StandardCharsets.UTF_8)).toString

  private def listEntries(t: ResourceTable): Seq[Long] = {
    val d = deltaDir(t)
    if (!t.fs.exists(d)) Seq.empty
    else t.fs.listStatus(d).map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong).sorted.toSeq
  }

  /** A concurrent exporter published this entry first. [[export]]
    * re-drives incrementally against the winner's log via the shared
    * [[ResourceTable.retry]] conflict budget.
    */
  final class ExportConflictException(path: String, v: Long)
    extends RuntimeException(
      s"$path: delta log entry $v was published by a concurrent export")
    with ResourceTable.ConflictRetryable

  private def writeEntry(t: ResourceTable, v: Long,
                         lines: Seq[ObjectNode]): Unit = {
    val dir = deltaDir(t)
    t.fs.mkdirs(dir)
    val body = lines.map(mapper.writeValueAsString)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    t.fs match {
      // S3-class stores have NO atomic rename (copy+delete) — exactly
      // why delta-spark needs a LogStore with conditional writes
      // there. A store advertising ConditionalPut publishes the entry
      // as one conditional PUT: election + body durability in one
      // call, losers get the conflict type with nothing written.
      case cp: ConditionalPut =>
        if (!cp.putIfAbsent(entryFile(t, v), body))
          throw new ExportConflictException(t.path, v)
      case _ =>
        // tmp name unique PER WRITER: concurrent exporters each stage
        // their own file and let the rename onto the destination decide
        // the winner — a shared tmp name would have them clobbering
        // each other's staging (and its checksum sidecar) mid-write
        val tmp = new HPath(dir, f".$v%020d.json.${
          java.util.UUID.randomUUID().toString.take(8)}.tmp")
        val out = t.fs.create(tmp, true)
        try out.write(body)
        finally out.close()
        if (!t.fs.rename(tmp, entryFile(t, v))) {
          t.fs.delete(tmp, false)
          if (t.fs.exists(entryFile(t, v)))
            throw new ExportConflictException(t.path, v)
          throw new IllegalStateException(
            s"${t.path}: could not publish delta log entry $v")
        }
    }
  }

  private def commitInfo(graftV: Long, ts: Long, op: String,
                         metrics: Option[(Int, Int, Long)] = None,
                         ict: Option[Long] = None)
      : ObjectNode = {
    val ci = f.objectNode()
    // ICT tables carry the monotonic commit clock INSIDE the commit
    // (PROTOCOL.md "In-Commit Timestamps": commitInfo must be the first
    // action — it is, in every writeEntry below — and the field must be
    // strictly increasing, which graft's max(now, parent+1) commit
    // timestamps already guarantee)
    ict.foreach(v => ci.put("inCommitTimestamp", v))
    ci.put("timestamp", ts)
    ci.put("operation", op)
    ci.set("operationParameters", f.objectNode())
    // DESCRIBE HISTORY parity for external tools: Delta renders
    // operationMetrics values as strings
    metrics.foreach { case (na, nr, rows) =>
      val m = f.objectNode()
      m.put("numAddedFiles", na.toString)
      m.put("numRemovedFiles", nr.toString)
      m.put("numOutputRows", rows.toString)
      ci.set[ObjectNode]("operationMetrics", m)
      ()
    }
    ci.put("graftVersion", graftV)
    wrap("commitInfo", ci)
  }

  /** Features with a legacy carrier: the (minReader, minWriter) pair
    * that implies each (PROTOCOL.md feature-by-version table).
    */
  private val LegacyFeatures: Map[String, (Int, Int)] = Map(
    "appendOnly" -> (1, 2), "invariants" -> (1, 2),
    "checkConstraints" -> (1, 3), "changeDataFeed" -> (1, 4),
    "generatedColumns" -> (1, 4), "columnMapping" -> (2, 5),
    "identityColumns" -> (1, 6))

  /** Reader-visible features, in listing order: files narrower than
    * the schema (typeWidening), a TIMESTAMP_NTZ an unaware reader
    * would treat as session-zoned, physical column names, the V2
    * checkpoint layout. Each is listed on both lists.
    */
  private val ReaderFeatures = Seq("deletionVectors", "typeWidening",
    "timestampNtz", "columnMapping", "v2Checkpoint")

  private val FeatureOrder = ReaderFeatures ++ Seq("changeDataFeed",
    "generatedColumns", "identityColumns", "checkConstraints",
    "rowTracking", "domainMetadata", "allowColumnDefaults",
    "appendOnly", "invariants", "inCommitTimestamp", "clustering")

  /** The protocol action declaring `features`. A set every feature of
    * which has a legacy carrier renders as the lowest legacy version
    * pair, so a plain table stays at (1,2) for the oldest readers.
    * Anything else takes the table-features form (PROTOCOL.md "Table
    * Features"): writer 7 enforces ONLY the features it lists, so
    * writerFeatures names every one, legacy ones included (an
    * append-only table that omits appendOnly there lets foreign
    * writers remove data). readerFeatures exists at reader 3 only,
    * and then lists every reader-visible feature — a mapped table
    * forced to reader 3 by timestampNtz alone still declares
    * columnMapping, or spec-strict readers skip the mapping. Column
    * mapping alone keeps reader 2.
    */
  private def protocol(features: Set[String]): ObjectNode = {
    val p = f.objectNode()
    if (features.forall(LegacyFeatures.contains)) {
      val carriers = features.toSeq.map(LegacyFeatures)
      p.put("minReaderVersion", (1 +: carriers.map(_._1)).max)
      p.put("minWriterVersion", (2 +: carriers.map(_._2)).max)
    } else {
      val rf = ReaderFeatures.filter(features)
      val reader3 = rf.exists(_ != "columnMapping")
      p.put("minReaderVersion",
        if (reader3) 3 else if (rf.nonEmpty) 2 else 1)
      p.put("minWriterVersion", 7)
      def list(fs: Seq[String]) = {
        val a = f.arrayNode(); fs.foreach(a.add); a
      }
      if (reader3) p.replace("readerFeatures", list(rf))
      p.replace("writerFeatures", list(FeatureOrder.filter(features) ++
        (features -- FeatureOrder).toSeq.sorted))
    }
    wrap("protocol", p)
  }

  /** The feature set a protocol action declares or implies: the listed
    * features on the table-features form, else every legacy feature
    * its version pair carries.
    */
  private def featuresOf(p: JsonNode): Set[String] = {
    val r = p.get("minReaderVersion").asInt
    val w = p.get("minWriterVersion").asInt
    def listed(k: String) =
      Option(p.get(k)).toSeq.flatMap(_.asScala.map(_.asText))
    if (w >= 7) (listed("readerFeatures") ++ listed("writerFeatures")).toSet
    else LegacyFeatures.collect {
      case (n, (fr, fw)) if r >= fr && w >= fw => n
    }.toSet
  }

  /** The graft mapping metadata translated to Delta's
    * `delta.columnMapping.physicalName`/`.id` field keys; returns the
    * delta-ready schema json plus the max column id for the
    * `delta.columnMapping.maxColumnId` table property. `st` is
    * `schemaJson` parsed.
    */
  private def deltaSchemaJson(schemaJson: String, st: StructType)
      : (String, Option[Long]) = {
    if (!st.fields.exists(_.metadata.contains(ResourceTable.PhysKey)))
      (schemaJson, None)
    else {
      var maxId = 0L
      val fields = st.fields.map { fd =>
        if (!fd.metadata.contains(ResourceTable.PhysKey)) fd
        else {
          val id =
            if (fd.metadata.contains(ResourceTable.IdKey))
              fd.metadata.getLong(ResourceTable.IdKey)
            else 0L
          maxId = math.max(maxId, id)
          // translate the graft keys; every OTHER metadata key
          // (delta.typeChanges, CURRENT_DEFAULT, ...) passes through
          // verbatim — dropping them here would strip the widening /
          // default state from mapped tables' exported schemas
          fd.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(fd.metadata)
              .remove(ResourceTable.PhysKey)
              .remove(ResourceTable.IdKey)
              .putString("delta.columnMapping.physicalName",
                fd.metadata.getString(ResourceTable.PhysKey))
              .putLong("delta.columnMapping.id", id).build())
        }
      }
      (StructType(fields).json, Some(maxId))
    }
  }

  /** The metaData action's body for `schemaJson` (parsed: `st`)
    * under the pinned table properties, without `createdTime` (stamped
    * when an entry restates it) and without ICT enablement provenance
    * (which depends on the exported log, see [[restate]]).
    */
  private def metaData(t: ResourceTable, p: Pinned, schemaJson: String,
                       st: StructType): ObjectNode = {
    val m = f.objectNode()
    m.put("id", tableId(t))
    val fmt = f.objectNode()
    fmt.put("provider", "parquet")
    fmt.set("options", f.objectNode())
    m.set("format", fmt)
    val (deltaJson0, maxColId) = deltaSchemaJson(schemaJson, st)
    // GENERATED ALWAYS AS: delta-spark stores the SQL text as field
    // metadata `delta.generationExpression` (PROTOCOL.md "Generated
    // Columns"); aware writers enforce/compute, readers ignore it
    val gens = p.gens
    // GENERATED ALWAYS AS IDENTITY: delta-spark stores start/step/
    // allowExplicitInsert plus the furthest-allocated value as
    // `delta.identity.*` field metadata (PROTOCOL.md "Identity
    // Columns"); the high-water mark lets a foreign aware writer
    // continue the sequence without scanning data
    val idents = p.idents
    val deltaJson =
      if (gens.isEmpty && idents.isEmpty) deltaJson0
      else {
        val st = DataType.fromJson(deltaJson0).asInstanceOf[StructType]
        StructType(st.fields.map { fd =>
          val withGen = gens.get(fd.name) match {
            case Some(e) => fd.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(fd.metadata)
                .putString("delta.generationExpression", e).build())
            case None => fd
          }
          idents.get(withGen.name) match {
            case Some((start, step)) =>
              val mb = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(withGen.metadata)
                .putLong("delta.identity.start", start)
                .putLong("delta.identity.step", step)
                .putBoolean("delta.identity.allowExplicitInsert", false)
              p.identityHwm.get(withGen.name).foreach(hw =>
                mb.putLong("delta.identity.highWaterMark", hw))
              withGen.copy(metadata = mb.build())
            case None => withGen
          }
        }).json
      }
    m.put("schemaString", deltaJson)
    m.set("partitionColumns", f.arrayNode())
    val conf = f.objectNode()
    // the table property external CDF readers key on — set iff this
    // table opted into change-data export (then every mutating commit
    // in this log carries cdc actions or is inference-safe)
    if (p.cdf)
      conf.put("delta.enableChangeDataFeed", "true")
    maxColId.foreach { mx =>
      conf.put("delta.columnMapping.mode", "name")
      conf.put("delta.columnMapping.maxColumnId", mx.toString)
    }
    // CHECK constraints travel as `delta.constraints.<name>` table
    // properties (PROTOCOL.md "CHECK Constraints") so a foreign aware
    // writer keeps enforcing them; readers ignore the keys
    p.constraints.foreach { case (name, sql) =>
      conf.put(s"delta.constraints.$name", sql)
    }
    if (p.rowTracking)
      conf.put("delta.enableRowTracking", "true")
    if (p.appendOnly)
      conf.put("delta.appendOnly", "true")
    if (p.ict)
      conf.put(IctKey, "true")
    m.set("configuration", conf)
    m
  }

  /** Row-tracking high-water-mark domain metadata (PROTOCOL.md
    * "Row Tracking" / "Domain Metadata"): a foreign aware writer
    * continues the id sequence from here. Emitted with every exported
    * commit of a row-tracking table (it is one tiny action) so the
    * live json tail always carries the current mark; readers ignore
    * domain metadata entirely.
    */
  private def rowTrackingDomain(p: Pinned, c: FileStats.Commit)
      : Seq[ObjectNode] =
    if (!p.rowTracking) Seq.empty
    else c.rowHwm.toSeq
      // graft's mark is the next UNASSIGNED id; Delta's is the highest
      // ASSIGNED one — off by one, and absent before any assignment
      .filter(_ > 0).map { hwm =>
        val d = f.objectNode()
        d.put("domain", "delta.rowTracking")
        d.put("configuration", s"""{"rowIdHighWaterMark":${hwm - 1}}""")
        d.put("removed", false)
        wrap("domainMetadata", d)
      }

  /** Liquid-clustering state: the `delta.clustering` domainMetadata
    * action carrying the clustering column PHYSICAL-name paths
    * (delta-spark's ClusteringMetadataDomain shape) — aware writers
    * keep clustering on these columns, readers ignore the domain.
    * Emitted by anchors, re-anchors and checkpoints. Physical names
    * resolve against an EXPLICIT schema (the one the surrounding
    * entry or checkpoint also states), so a concurrent schema change
    * can't make the domain and its metaData row disagree inside one
    * entry.
    */
  private def clusteringDomain(p: Pinned,
                               schemaJson: String): Seq[ObjectNode] = {
    val cols = p.clusterBy
    if (cols.isEmpty) Seq.empty
    else {
      val s = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val phys = cols.map { c =>
        val fd = s.fields.find(_.name == c)
        fd.filter(_.metadata.contains(ResourceTable.PhysKey))
          .map(_.metadata.getString(ResourceTable.PhysKey))
          .getOrElse(c)
      }
      val d = f.objectNode()
      d.put("domain", "delta.clustering")
      val conf = f.objectNode()
      val arr = f.arrayNode()
      phys.foreach { p =>
        val path = f.arrayNode(); path.add(p); arr.add(path)
      }
      conf.set[ObjectNode]("clusteringColumns", arr)
      d.put("configuration", conf.toString)
      d.put("removed", false)
      Seq(wrap("domainMetadata", d))
    }
  }

  /** A `cdc` action: one `_change_data/` file of this commit's
    * row-level change images. dataChange=false per the protocol (the
    * change files are CDF-reader-only; snapshot readers ignore them).
    */
  private def cdcAction(rel: String, size: Long): ObjectNode = {
    val c = f.objectNode()
    c.put("path", rel)
    c.set("partitionValues", f.objectNode())
    c.put("size", size)
    c.put("dataChange", false)
    wrap("cdc", c)
  }

  /** Materialize graft commit `g`'s row-level changes as one
    * `_change_data/` parquet file and return its cdc action. Keyed
    * commits (MERGE/DELETE record their key) replay through
    * [[ResourceTable.changes]] — full Delta fidelity including
    * update_pre/postimage pairs; keyless mutations (RESTORE, legacy
    * commits) fall back to [[ResourceTable.changesByContent]], whose
    * insert/delete multiset images are algebraically equivalent.
    * Always writes a file — even an EMPTY one (a rewrite that changed
    * no logical row): per the protocol, a commit carrying any cdc
    * action is read from cdc alone, which is exactly what protects a
    * content-neutral rewrite from being misread as delete+insert of
    * every row it touched.
    */
  private def writeChangeData(t: ResourceTable, c: FileStats.Commit,
                              deltaV: Long): ObjectNode = {
    val g = c.version
    val cdfLogical = c.key match {
      case Some(k) => t.changes(g - 1, g, k)
      case None => t.changesByContent(g - 1, g)
    }
    // change data files follow the DATA files' naming (PROTOCOL.md
    // column mapping): under mapping the parquet stores PHYSICAL
    // column names — physical names are also rename-stable, so a
    // later logical rename leaves historical change files joinable
    val cdf = {
      // KEY THE RENAME MAP BY THE LIVE HEAD SCHEMA, not the schema at
      // commit g: ResourceTable.changes/changesByContent read historical
      // files through readFilesWithSchema, which aliases every physical
      // column to its CURRENT logical name — so cdfLogical's column
      // names are live-logical regardless of g. Physical names are
      // rename-stable, so live-logical -> physical is the correct map
      // for every commit; keying by schema-at-g would miss columns
      // renamed after g and leak post-rename LOGICAL names into the
      // change file (unreadable by a spec-conformant CDF reader).
      val renames = t.schema().fields.collect {
        case fd if fd.metadata.contains(ResourceTable.PhysKey) =>
          fd.name -> fd.metadata.getString(ResourceTable.PhysKey)
      }.toMap
      // one atomic projection (same shape readFiles uses): sequential
      // withColumnRenamed is wrong under chained renames — if column
      // a's logical name equals column b's PHYSICAL name (rename v->w
      // then id->v), an intermediate step duplicates a name and the
      // next rename hits both columns
      if (renames.isEmpty) cdfLogical
      else cdfLogical.select(cdfLogical.columns.map(c =>
        org.apache.spark.sql.functions.col(c)
          .as(renames.getOrElse(c, c))): _*)
    }
    val cdDir = new HPath(t.path, "_change_data")
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new HPath(cdDir, f".cdc-$deltaV%020d-$uuid.tmp")
    // one file: the payload is one commit's touched-row images, the
    // same bounded set the commit itself wrote
    cdf.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = t.fs.listStatus(tmp).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("."))
      .headOption.getOrElse(throw new IllegalStateException(
        s"${t.path}: change-data write for commit $g produced no part"))
    val name = f"cdc-$deltaV%020d-$uuid.parquet"
    val dest = new HPath(cdDir, name)
    if (!t.fs.rename(part, dest))
      throw new IllegalStateException(
        s"${t.path}: could not publish change-data file $dest")
    t.fs.delete(tmp, true)
    cdcAction(s"_change_data/$name", t.fs.getFileStatus(dest).getLen)
  }

  private def add(rel: String, st: FileStats.FileStat, size: Long,
                  ts: Long, types: Map[String, DataType],
                  dataChange: Boolean = true): ObjectNode = {
    val a = f.objectNode()
    a.put("path", rel)
    a.set("partitionValues", f.objectNode())
    a.put("size", size)
    // real per-file mtime when the manifest recorded one (post-mtime
    // commits always do); the commit wall-clock is Delta's own
    // fallback shape for writers that don't track per-file times
    a.put("modificationTime", st.mtime.getOrElse(ts))
    a.put("dataChange", dataChange)
    a.put("stats", statsJson(st, types))
    // the manifest's DvInfo IS a Delta descriptor — verbatim translation
    st.dv.foreach(d => a.replace("deletionVector", dvNode(d)))
    // row tracking: the manifest's id range translates verbatim
    // (PROTOCOL.md "Row Tracking" — fresh/physical row ids)
    st.baseRowId.foreach(a.put("baseRowId", _))
    st.rowVer.foreach(a.put("defaultRowCommitVersion", _))
    wrap("add", a)
  }

  private def dvNode(d: FileStats.DvInfo): ObjectNode = {
    val n = f.objectNode()
    n.put("storageType", d.st)
    n.put("pathOrInlineDv", d.d)
    // offset only applies to on-disk storage (PROTOCOL.md DV descriptor)
    if (d.st != "i") n.put("offset", d.off)
    n.put("sizeInBytes", d.sz)
    n.put("cardinality", d.card)
    n
  }

  /** Delta per-file statistics (PROTOCOL.md "Per-file Statistics"):
    * `numRecords` plus `minValues`/`maxValues`/`nullCount` maps, so
    * external readers (delta-rs, DuckDB delta_scan, Trino) get the
    * same file skipping the engine's own [[FileStats]] reads do —
    * straight from the manifest, no data re-read.
    *
    * Bounds are emitted CONSERVATIVELY: a wrong bound makes an
    * external reader skip a file it needed, so any value we cannot
    * render exactly in the column's Delta JSON encoding is omitted
    * (omission only costs the reader a pruning opportunity). Omitted:
    * timestamps (their stats-JSON rendering is writer-dependent),
    * non-finite doubles (JSON cannot encode them), and non-ASCII
    * string bounds (parquet footer order is unsigned-byte; only on
    * ASCII does it provably match the reader's code-point order —
    * the same discipline FileStats.canSkip applies). `nullCount` is
    * exact from the footers and always emitted.
    */
  private def statsJson(st: FileStats.FileStat,
                        types: Map[String, DataType]): String = {
    val o = f.objectNode()
    o.put("numRecords", st.rows)
    val minV = f.objectNode()
    val maxV = f.objectNode()
    val nulls = f.objectNode()
    st.cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
      cs.numNulls.foreach(nulls.put(c, _))
      types.get(c).foreach { dt =>
        def render(v: Any, into: ObjectNode): Unit = (dt, v) match {
          case (ByteType | ShortType | IntegerType | LongType, l: Long) =>
            into.put(c, l)
          case (FloatType | DoubleType, d: Double)
              if !d.isNaN && !d.isInfinite =>
            into.put(c, d)
          case (StringType, s: String) if s.forall(_ < 128) =>
            into.put(c, s)
          case (DateType, l: Long) =>
            into.put(c, java.time.LocalDate.ofEpochDay(l).toString)
          case _ => ()
        }
        cs.min.foreach(render(_, minV))
        cs.max.foreach(render(_, maxV))
      }
    }
    if (minV.size() > 0) o.set("minValues", minV)
    if (maxV.size() > 0) o.set("maxValues", maxV)
    if (nulls.size() > 0) o.set("nullCount", nulls)
    mapper.writeValueAsString(o)
  }

  /** Column → type for stats rendering, from the schema the given
    * graft commit recorded (falling back to the current table schema
    * for pre-schema-field commit bodies).
    */
  private def typesAt(t: ResourceTable,
                      c: FileStats.Commit): Map[String, DataType] =
    c.schema.getOrElse(t.schema())
      // per-file stats key PHYSICAL names under column mapping
      .fields.map(fd => (if (fd.metadata.contains(ResourceTable.PhysKey))
          fd.metadata.getString(ResourceTable.PhysKey)
        else fd.name) -> fd.dataType).toMap

  private def remove(rel: String, ts: Long,
                     dv: Option[FileStats.DvInfo] = None,
                     dataChange: Boolean = true): ObjectNode = {
    val r = f.objectNode()
    r.put("path", rel)
    r.put("deletionTimestamp", ts)
    r.put("dataChange", dataChange)
    // delta replay keys files by (path, dvId): a remove canceling a
    // DV-bearing add must name the SAME descriptor
    dv.foreach(d => r.replace("deletionVector", dvNode(d)))
    wrap("remove", r)
  }

  /** Delta SetTransaction action (PROTOCOL.md "Transaction
    * Identifiers"): the idempotent-append watermark graft commits
    * carry (txnAppId → version), mirrored so an external delta WRITER
    * resuming the same appId sees exactly the state an in-engine
    * writer would.
    */
  private def txn(appId: String, version: Long, ts: Long): ObjectNode = {
    val n = f.objectNode()
    n.put("appId", appId)
    n.put("version", version)
    n.put("lastUpdated", ts)
    wrap("txn", n)
  }

  /** The txn actions commit `g` must emit: appIds whose watermark is
    * new or advanced relative to `g`'s predecessor state.
    */
  private def txnDelta(prev: Map[String, Long], cur: Map[String, Long],
                       ts: Long): Seq[ObjectNode] =
    cur.toSeq.sortBy(_._1).collect {
      case (app, v) if !prev.get(app).contains(v) => txn(app, v, ts)
    }

  private def wrap(kind: String, node: ObjectNode): ObjectNode = {
    val o = f.objectNode(); o.set(kind, node); o
  }

  /** Physical sizes for manifest entries: recorded `bytes` where the
    * commit carries them, ONE listing per distinct dir for the rest.
    */
  private def sizes(t: ResourceTable,
                    files: Seq[(String, FileStats.FileStat)])
      : Map[String, Long] = {
    val (known, unknown) = files.partition(_._2.bytes.isDefined)
    val listed = unknown.map(_._1)
      .groupBy(r => r.substring(0, r.lastIndexOf('/')))
      .flatMap { case (d, group) =>
        val names = group.map(r => r.substring(r.lastIndexOf('/') + 1)).toSet
        t.fs.listStatus(new HPath(t.path, d))
          .filter(s => names(s.getPath.getName))
          .map(s => s"$d/${s.getPath.getName}" -> s.getLen)
          .toSeq
      }
    known.map { case (r, st) => r -> st.bytes.get }.toMap ++ listed
  }

  /** Delta VERSION CHECKSUM (`<v>.crc`, delta-spark's VersionChecksum):
    * one json object of post-commit table state an aware reader uses
    * to VALIDATE its replayed snapshot. Emitted from state the
    * exporter already holds — file sizes come from the graft
    * manifest's recorded bytes, so no data-file IO (the [[sizes]]
    * fallback lists only legacy pre-bytes entries). metadata/protocol
    * are omitted, the legacy-crc shape delta-spark explicitly
    * tolerates — restating them here would add bytes to every commit
    * for no validation gain. Best-effort by
    * design: the crc is a hint, never load-bearing — a failed write
    * must not fail the already-published export entry (delta treats
    * its own crc the same way).
    */
  private def writeCrc(t: ResourceTable, p: Pinned, v: Long,
                       files: Seq[(String, FileStats.FileStat)],
                       ts: Long): Unit =
    try {
      val sz = sizes(t, files)
      val c = f.objectNode()
      c.put("tableSizeBytes", files.map(fl => sz(fl._1)).sum)
      c.put("numFiles", files.size.toLong)
      c.put("numMetadata", 1L)
      c.put("numProtocol", 1L)
      if (p.ict) c.put("inCommitTimestampOpt", ts)
      val dvs = files.flatMap(_._2.dv)
      if (dvs.nonEmpty || p.dvEnabled) {
        c.put("numDeletedRecordsOpt", dvs.map(_.card).sum)
        c.put("numDeletionVectorsOpt", dvs.size.toLong)
      }
      val dir = deltaDir(t)
      val tmp = new HPath(dir, f".$v%020d.crc.${
        java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = t.fs.create(tmp, true)
      try out.write((mapper.writeValueAsString(c) + "\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!t.fs.rename(tmp, new HPath(dir, f"$v%020d.crc")))
        t.fs.delete(tmp, false): Unit
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"${t.path}: version checksum for $v failed " +
        s"(entry is published and safe): ${e.getMessage}")
    }

  /** Delta `timestampAsOf` resolution over any delta log: the newest
    * version whose commit timestamp is at or before `tsMs`. The
    * timestamp is `commitInfo.timestamp` when the writer recorded one
    * (ours always does), else the entry file's modification time —
    * Delta's own fallback order. Walks entries newest-first and stops
    * at the first match, so cost is O(commits newer than tsMs).
    * Unresolvable requests fail loudly: a timestamp before the oldest
    * surviving entry (history cleaned or table younger than asked) is
    * an error, never a silently-wrong snapshot — and a checkpoint-only
    * log carries no per-commit times at all. A timestamp AFTER the
    * newest commit is also an error (delta-spark's 'timestamp after
    * latest commit' behavior) rather than silently resolving to the
    * newest version — pass `versionAsOf` the latest version to pin it
    * explicitly. Assumption: commit timestamps are non-decreasing in
    * version order, which our own writer guarantees; foreign logs
    * written with skewed clocks are NOT monotonized the way Delta's
    * DeltaHistoryManager adjusts them, so on such logs the resolved
    * version can differ from delta-spark's.
    */
  def versionAtTimestamp(spark: SparkSession, tablePath: String,
                         tsMs: Long): Long = {
    val root = new HPath(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new HPath(root, "_delta_log")
    val CommitName = """(\d{20})\.json""".r
    val entries =
      if (!fs.exists(dir)) Seq.empty[Long]
      else fs.listStatus(dir).map(_.getPath.getName)
        .collect { case CommitName(v) => v.toLong }.sorted.toSeq
    if (entries.isEmpty) throw new IllegalStateException(
      s"$tablePath: no commit entries to resolve a timestamp against " +
        "(checkpoint-only log?)")
    def tsOf(v: Long): Long = {
      val p = new HPath(dir, f"$v%020d.json")
      val in = fs.open(p)
      val body =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      body.linesIterator.filter(_.nonEmpty).map(mapper.readTree)
        .flatMap(n => Option(n.get("commitInfo")))
        .flatMap(n =>
          // inCommitTimestamp (the ICT writer feature) takes precedence
          // over the wall-clock timestamp, per Delta's own resolution
          Option(n.get("inCommitTimestamp"))
            .orElse(Option(n.get("timestamp"))))
        .map(_.asLong)
        .nextOption()
        .getOrElse(fs.getFileStatus(p).getModificationTime)
    }
    val latestTs = tsOf(entries.last)
    if (tsMs > latestTs) throw new IllegalArgumentException(
      s"$tablePath: timestamp $tsMs is after the latest commit " +
        s"(version ${entries.last} at $latestTs) — use versionAsOf " +
        s"${entries.last} to read the current snapshot explicitly")
    entries.reverse.find(v => tsOf(v) <= tsMs).getOrElse(
      throw new IllegalArgumentException(
        s"$tablePath: no delta version at or before timestamp $tsMs " +
          s"— oldest surviving entry ${entries.head} is newer " +
          "(history cleaned, or the table is younger than asked)"))
  }

  /** Delta `timestampAsOf` read of an exported/foreign log. */
  def readSnapshotAsOf(spark: SparkSession, tablePath: String,
                       tsMs: Long): DataFrame =
    readSnapshot(spark, tablePath,
      versionAtTimestamp(spark, tablePath, tsMs))

  /** The non-empty action lines of json entry `v`. */
  private def entryLines(t: ResourceTable, v: Long): Iterator[String] = {
    val in = t.fs.open(entryFile(t, v))
    val body =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    body.linesIterator.filter(_.nonEmpty)
  }

  /** The graft version a delta entry mirrors (from its commitInfo). */
  private def graftVersionOf(t: ResourceTable, deltaV: Long): Long =
    entryLines(t, deltaV).map(mapper.readTree)
      .flatMap(n => Option(n.get("commitInfo")))
      .flatMap(n => Option(n.get("graftVersion")))
      .map(_.asLong)
      .nextOption()
      .getOrElse(throw new IllegalStateException(
        s"${t.path}: delta log entry $deltaV has no graft commitInfo — " +
          "not written by DeltaExport; refusing to extend a foreign log"))

  /** Mirror every graft commit since the last export into
    * `_delta_log/`; first export anchors delta version 0 at the
    * CURRENT graft snapshot (older graft history is not re-created —
    * external readers want the data, not the archaeology). Returns the
    * latest delta version. Idempotent: nothing new to export → no
    * writes.
    *
    * Every entry states the table's Delta state at the graft version
    * it mirrors — one derivation ([[deltaState]]) for the anchor, the
    * re-anchor, each incremental entry and the checkpoint — and
    * restates the protocol or the metaData only when that state
    * differs from the newest one the exported log already declares
    * ([[restate]]): the protocol as its union with the declared one
    * (it never narrows), the metaData when any of its fields but
    * `createdTime` changed (schema, properties, identity high-water
    * marks). A property set after the first export thereby reaches the
    * log with the next exported commit.
    *
    * Safe under CONCURRENT exporters: entries publish by atomic
    * rename, a lost race surfaces as [[ExportConflictException]], and
    * [[ResourceTable.retry]]'s conflict budget re-drives incrementally
    * against the winner's entries — both exporters converge on the
    * same log. (Racing checkpoint writers are likewise benign: both
    * restate the same replayed state.) Real failures surface
    * immediately (`attempts = 1`): an export is maintenance, not a
    * commit — nothing is lost by failing fast.
    */
  def export(t: ResourceTable): Long =
    ResourceTable.retry(attempts = 1, conflictAttempts = 50) {
      exportOnce(t)
    }

  private def protoNodeRow(p: JsonNode): Row = {
    def feats(k: String): Seq[String] =
      Option(p.get(k))
        .map(_.iterator().asScala.map(_.asText).toSeq).orNull
    Row(p.get("minReaderVersion").asInt,
      p.get("minWriterVersion").asInt,
      feats("readerFeatures"), feats("writerFeatures"))
  }

  private val IctKey = "delta.enableInCommitTimestamps"
  private val IctVersionKey = "delta.inCommitTimestampEnablementVersion"
  private val IctTimestampKey =
    "delta.inCommitTimestampEnablementTimestamp"

  /** A table's Delta state: the protocol as the feature set it
    * declares, and the metaData action's body.
    */
  private final case class DeltaState(features: Set[String],
                                      meta: JsonNode) {
    /** The protocol action declaring [[features]]. */
    def protocolAction: ObjectNode = protocol(features)
  }

  /** The newest protocol features and metaData the exported json log
    * declares; None where no surviving entry holds that action.
    */
  private final case class Declared(features: Option[Set[String]],
                                    meta: Option[JsonNode])

  /** The table's Delta state at a graft version with schema
    * `schemaJson` and live `files`. Deletion vectors count once
    * enabled, before the first one exists: delta-spark upgrades the
    * protocol at enablement. Row tracking and clustering state ride
    * domain metadata, hence its dependency feature. The schema's own
    * features come from its field metadata — graft's column-mapping
    * keys (Delta name mode), `delta.typeChanges` (type-widened, so
    * files narrower than the schema exist), `CURRENT_DEFAULT` (column
    * defaults) — and from a TIMESTAMP_NTZ at any nesting depth.
    */
  private def deltaState(t: ResourceTable, p: Pinned, schemaJson: String,
                         files: Seq[(String, FileStats.FileStat)])
      : DeltaState = {
    val st = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    def carry(key: String) = st.fields.exists(_.metadata.contains(key))
    def ntz(dt: DataType): Boolean = dt match {
      case s: StructType => s.fields.exists(fd => ntz(fd.dataType))
      case a: ArrayType => ntz(a.elementType)
      case m: MapType => ntz(m.keyType) || ntz(m.valueType)
      case other => other == TimestampNTZType
    }
    def when(on: Boolean, fs: String*) = if (on) fs else Nil
    DeltaState((
      when(p.dvEnabled || files.exists(_._2.dv.isDefined),
        "deletionVectors") ++
      when(p.cdf, "changeDataFeed") ++
      when(carry(ResourceTable.PhysKey), "columnMapping") ++
      when(p.gens.nonEmpty, "generatedColumns") ++
      when(p.idents.nonEmpty, "identityColumns") ++
      when(p.constraints.nonEmpty, "checkConstraints") ++
      when(p.rowTracking, "rowTracking", "domainMetadata") ++
      when(carry("delta.typeChanges"), "typeWidening") ++
      when(carry(ResourceTable.DefaultKey), "allowColumnDefaults") ++
      when(p.clusterBy.nonEmpty, "clustering", "domainMetadata") ++
      when(p.ict, "inCommitTimestamp") ++
      when(ntz(st), "timestampNtz") ++
      when(p.appendOnly, "appendOnly")).toSet,
      metaData(t, p, schemaJson, st))
  }

  /** What the exported json log declares last: one newest-first scan
    * that stops once it holds both a protocol and a metaData action.
    * Only lines that begin with either action are parsed.
    */
  private def declaredIn(t: ResourceTable, entries: Seq[Long]): Declared = {
    var d = Declared(None, None)
    val it = entries.reverseIterator
    while ((d.features.isEmpty || d.meta.isEmpty) && it.hasNext) {
      val acts = entryLines(t, it.next())
        .filter(l => l.startsWith("{\"protocol\"") ||
          l.startsWith("{\"metaData\""))
        .map(mapper.readTree).toSeq
      def newest(kind: String) =
        acts.flatMap(n => Option(n.get(kind))).lastOption
      d = Declared(d.features.orElse(newest("protocol").map(featuresOf)),
        d.meta.orElse(newest("metaData")))
    }
    d
  }

  /** The protocol and metaData actions the entry at delta version `v`
    * (commit time `ts`) must carry so the log declares `state`, plus
    * what the log declares after it. An action is restated only when
    * it differs from the declared one — always when that is unknown:
    *   - protocol: the union of the derived and the declared features,
    *     so the protocol never narrows;
    *   - metaData: compared without `createdTime`. A table with ICT on
    *     whose log does not declare it yet stamps this entry as the
    *     enablement point (PROTOCOL.md "In-Commit Timestamps": commits
    *     before it resolve timestampAsOf by file time); the anchor
    *     (v = 0) needs no provenance, as ICT covers the whole log.
    *     Once stamped, the provenance is carried by every later
    *     restatement, or the pre-enablement commits would be read
    *     under ICT rules.
    */
  private def restate(state: DeltaState, declared: Declared, v: Long,
                      ts: Long): (Seq[ObjectNode], DeltaState) = {
    val union = state.copy(features =
      state.features ++ declared.features.getOrElse(Set.empty))
    val meta = state.meta.deepCopy[ObjectNode]()
    val conf = meta.get("configuration").asInstanceOf[ObjectNode]
    if (conf.has(IctKey)) {
      val prior = declared.meta.map(_.get("configuration"))
      val provenance =
        if (prior.exists(c => c.path(IctKey).asText == "true"))
          prior.flatMap(c => Option(c.get(IctVersionKey))
            .zip(Option(c.get(IctTimestampKey))))
            .map { case (pv, pts) => (pv.asText, pts.asText) }
        else if (v == 0) None
        else Some((v.toString, ts.toString))
      provenance.foreach { case (pv, pts) =>
        conf.put(IctVersionKey, pv)
        conf.put(IctTimestampKey, pts)
      }
    }
    val sameMeta = declared.meta.filter { m =>
      val c = m.deepCopy[ObjectNode](); c.remove("createdTime")
      c == meta
    }
    if (sameMeta.isEmpty) meta.put("createdTime", ts)
    val proto = union.protocolAction
    ((if (declared.features.contains(union.features)) Nil else Seq(proto)) ++
      (if (sameMeta.isEmpty) Seq(wrap("metaData", meta)) else Nil),
      DeltaState(featuresOf(proto.get("protocol")),
        sameMeta.getOrElse(meta)))
  }

  /** Protocol/domain inputs pinned ONCE per export run (r16 ADVICE):
    * exportOnce pins the schema to the replayed head, and these
    * side-file-backed table properties must be read exactly once per
    * run too — re-reading t.dvEnabled / t.clusterBy() etc. at each of
    * the several emission sites would let a concurrent property change
    * flip mid-run and publish an entry whose protocol, metaData,
    * domain and checkpoint rows disagree with each other. The flags
    * live in `_meta_*` side files, not the commit log, so they cannot
    * be derived from commit(latest); single-read pinning restores
    * the internal-consistency half of the purity invariant (a property
    * change racing the export still lands in the NEXT run, atomically).
    */
  private final class Pinned(t: ResourceTable) {
    val dvEnabled: Boolean = t.dvEnabled
    val cdf: Boolean = t.changeDataFeedEnabled
    val clusterBy: Seq[String] = t.clusterBy()
    val constraints: Map[String, String] = t.checkConstraints()
    val rowTracking: Boolean = t.rowTrackingEnabled
    val ict: Boolean = t.ictEnabled
    val appendOnly: Boolean = t.appendOnly
    val gens: Map[String, String] = t.generatedColumns()
    val idents: Map[String, (Long, Long)] = t.identityColumns()
    val identityHwm: Map[String, Long] =
      idents.keysIterator.flatMap(n =>
        t.identityHighWaterMark(n).map(n -> _)).toMap
  }

  private def exportOnce(t: ResourceTable): Long = {
    val latest = t.latestVersion.getOrElse(
      throw new IllegalStateException(s"no table at ${t.path}"))
    // pin every side-file-backed protocol/domain input ONCE for this
    // run — see [[Pinned]]
    val p = new Pinned(t)
    // the schema AT the replayed head, not the live one: a concurrent
    // writer can advance the table's schema between `latest` and any
    // later t.schema() read. Schema-derived fields are thereby a pure
    // function of the log at `latest` (the invariant publishCheckpoint's
    // never-overwrite rule relies on); the side-file-backed property
    // flags can't be log-derived, so they are pinned once in `p` —
    // internally consistent across everything this run publishes.
    val head = t.commit(latest)
    val schemaAtLatest = head.schemaJson.getOrElse(t.schema().json)
    // ICT tables surface the (already monotonic) graft commit clock in
    // every exported commitInfo
    def ict(ts: Long): Option[Long] =
      if (p.ict) Some(ts) else None
    val entries = listEntries(t)
    // a checkpoint with no json entries would make a fresh anchor at
    // v0 INVISIBLE to checkpoint-aware readers (they replay ckpt +
    // entries after it) — refuse rather than silently export stale
    if (entries.isEmpty &&
        t.fs.exists(new HPath(deltaDir(t), "_last_checkpoint")))
      throw new IllegalStateException(
        s"${t.path}: _delta_log has a checkpoint but no json " +
          "entries; cannot determine export state — remove the " +
          "_delta_log directory and re-export")
    val lastDelta = entries.lastOption.getOrElse(-1L)
    val lastG = if (entries.isEmpty) -1L else graftVersionOf(t, lastDelta)
    if (lastG > latest)
      throw new IllegalStateException(
        s"${t.path}: delta log is ahead of the table (graft $lastG > " +
          s"$latest) — was the table restored under an exported log? " +
          "Export to a fresh copy instead")
    if (lastG == latest) return lastDelta
    var declared = declaredIn(t, entries)
    // one entry `v` mirroring graft version `g`: commitInfo, then the
    // restated protocol/metaData, then `body`
    def publish(v: Long, g: Long, ts: Long, op: String,
                metrics: Option[(Int, Int, Long)], schemaJson: String,
                files: Seq[(String, FileStats.FileStat)])(
        body: Seq[ObjectNode]): DeltaState = {
      val (decl, now) =
        restate(deltaState(t, p, schemaJson, files), declared, v, ts)
      writeEntry(t, v, commitInfo(g, ts, op, metrics, ict(ts)) +:
        (decl ++ body))
      writeCrc(t, p, v, files, ts)
      declared = Declared(Some(now.features), Some(now.meta))
      now
    }
    // no log yet → the anchor; trimmed chain → ONE re-anchor commit
    // (remove all, add current). The range starts AT lastG, not after
    // it: the incremental loop diffs against lastG's own manifest
    // (fileListAt(lastG)), so a trim that removed exactly up to the
    // last-exported commit must re-anchor too, not crash the diff
    if (entries.isEmpty ||
        (lastG to latest).exists(g => !t.versionExists(g))) {
      val v = lastDelta + 1
      val ts = t.commitTs(head)
      val prev = replayAdds(t)
      val files = head.manifest
      val sz = sizes(t, files)
      val types = typesAt(t, head)
      val cur = files.map(_._1).toSet
      val now = publish(v, latest, ts,
        if (v == 0) "GRAFT EXPORT ANCHOR"
        else "GRAFT EXPORT RE-ANCHOR (source log trimmed)",
        None, schemaAtLatest, files)(
        rowTrackingDomain(p, head) ++
          clusteringDomain(p, schemaAtLatest) ++
          // full txn state, not a delta: the trimmed source chain
          // means the predecessor state is unknowable, and re-stating
          // a watermark is idempotent under log replay
          txnDelta(Map.empty, head.txns, ts) ++
          prev.toSeq.sorted.filterNot(cur).map(remove(_, ts)) ++
          files.map { case (r, st) => add(r, st, sz(r), ts, types) })
      maybeCheckpoint(t, p, v, now, schemaAtLatest, head)
      return v
    }
    // each graft commit is read and decoded once per run: commits g-1
    // and g pass through the loop as a pair
    val commits = (lastG to latest).iterator
      .map(g => if (g == latest) head else t.commit(g))
    val states = commits.sliding(2).map { case Seq(prev, cur) =>
      val g = cur.version
      val ts = t.commitTs(cur)
      val before = prev.manifest
      val after = cur.manifest
      // file identity is (path, deletion vector): a DV delete keeps the
      // path but changes logical content, exported per the protocol as
      // remove(path, old dv) + add(path, new dv) in one commit — the
      // shape delta-spark's own DV writes take
      def ident(fl: (String, FileStats.FileStat)) = (fl._1, fl._2.dv)
      val beforeIdent = before.map(ident).toSet
      val afterIdent = after.map(ident).toSet
      val adds = after.filterNot(fl => beforeIdent(ident(fl)))
      val removes = before.filterNot(fl => afterIdent(ident(fl)))
      val sz = sizes(t, adds)
      val types = typesAt(t, cur)
      val v = lastDelta + g - lastG
      // Delta compaction semantics: an OPTIMIZE step (bin-pack,
      // re-cluster, REORG PURGE) rearranges bytes without changing
      // logical content, so its adds AND removes export
      // dataChange=false — a delta streaming consumer of this log
      // must not reprocess the rewritten files as new data. The
      // commit's own dataChange flag decides (op-label fallback only
      // for pre-flag commits)
      val dc = !cur.isRearrangement
      // CHANGE DATA FEED: a dataChange commit that also REMOVES files
      // (partial rewrite / DV kill) cannot be row-inferred from its
      // add/remove actions, so a CDF-enabled table materializes the
      // commit's change images as a _change_data file + cdc action.
      // Insert-only commits stay inference-read (delta writers skip
      // cdc there too); OPTIMIZE steps change no logical row.
      val cdc =
        if (p.cdf && dc && removes.nonEmpty)
          Seq(writeChangeData(t, cur, v))
        else Seq.empty
      publish(v, g, ts, cur.op.getOrElse("GRAFT COMMIT"),
        Some((adds.size, removes.size, adds.map(_._2.rows).sum)),
        // the schema AT g, not the table's current one: exporting two
        // schema evolutions in one batch must leave the intermediate
        // version readable (versionAsOf) under the schema its files
        // were written with
        cur.schemaJson.getOrElse(schemaAtLatest),
        after)(
        rowTrackingDomain(p, cur) ++
          cdc ++
          txnDelta(prev.txns, cur.txns, ts) ++
          removes.map { case (r, st) =>
            remove(r, ts, st.dv, dataChange = dc) } ++
          adds.map { case (r, st) =>
            add(r, st, sz(r), ts, types, dataChange = dc) })
    }.toVector
    val dv = lastDelta + states.size
    maybeCheckpoint(t, p, dv, states.last, schemaAtLatest, head)
    dv
  }

  /** Whether the table carries an exported `_delta_log` with at least
    * one entry (what [[ResourceTable.vacuum]]'s dangling-reader guard
    * keys on).
    */
  def exported(t: ResourceTable): Boolean =
    t.fs.exists(deltaDir(t)) && listEntries(t).nonEmpty

  /** The exported log's CURRENT live file set — the table-relative
    * paths an external reader of the log resolves right now.
    */
  def liveFiles(t: ResourceTable): Set[String] =
    if (!exported(t)) Set.empty else replayAdds(t)

  /** Replay the exported log's live PATH set. Starts from the newest
    * checkpoint when one exists (a log whose old json entries were
    * cleaned is still fully replayable, exactly as a reader would
    * see it). Driver state is O(#live paths) strings — the minimum any
    * caller (vacuum's dangling-reader guard, the re-anchor diff) needs;
    * full add actions are never materialized driver-side (the
    * checkpoint build that used to is a Spark job now).
    */
  private def replayAdds(t: ResourceTable): Set[String] = {
    val live = mutable.LinkedHashSet.empty[String]
    val (ckptV, ckptFiles) = newestCheckpoint(t.fs, deltaDir(t))
    if (ckptV >= 0)
      t.spark.read.parquet(ckptFiles.map(_.toString): _*)
        .filter("add IS NOT NULL").select("add.path").collect()
        .foreach(r => live += r.getString(0))
    listEntries(t).filter(_ > ckptV).foreach { v =>
      entryLines(t, v).map(mapper.readTree)
        .foreach { n =>
          Option(n.get("add")).foreach(a => live += a.get("path").asText)
          Option(n.get("remove")).foreach(r =>
            live -= r.get("path").asText)
        }
    }
    live.toSet
  }

  // ------------------------------------------------------ checkpoints

  /** Delta checkpoints every 10 commits by default; readers then replay
    * checkpoint + tail instead of the whole log — O(tail) at any
    * history length.
    */
  val CheckpointInterval = 10

  /** The Delta checkpoint schema (PROTOCOL.md "Checkpoints"): one row
    * per action, exactly one of the struct columns non-null.
    */
  private def checkpointSchema: StructType = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))),
    // PROTOCOL.md "Domain Metadata": checkpoints must restate the
    // latest per-domain state — a reader replaying from the checkpoint
    // alone (after cleanupLog dropped the json entries that carried
    // the actions) would otherwise lose the clustering declaration and
    // the row-tracking high-water mark
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))))

  /** Actions per published checkpoint part file. Below this the
    * checkpoint lands as the classic single `N.checkpoint.parquet`;
    * above it, as the protocol's multi-part
    * `N.checkpoint.K.M.parquet` layout so a 10M-file table's
    * checkpoint is written by many tasks, not one. Overridable via
    * `spark.graft.export.checkpointPartActions` (specs set it low to
    * exercise the multi-part path on small fixtures).
    */
  val DefaultCheckpointPartActions = 100000L

  private def checkpointPartActions(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.export.checkpointPartActions")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(_ > 0).getOrElse(DefaultCheckpointPartActions)

  /** Write the checkpoint for delta version `dv`: the REPLAYED state
    * (protocol + metaData + live adds + txn watermarks), named by the
    * protocol's convention, then flip `_last_checkpoint`. `state` is
    * what the log declares at `dv`; its protocol and metaData rows are
    * restated from it, so a reader replaying from the checkpoint alone
    * sees exactly the json log's contract.
    *
    * The replay is a SPARK JOB, like Delta's own checkpointing: the
    * prior checkpoint parquet is unioned with the json tail (parsed
    * via `from_json`), reconciled last-action-wins per path and
    * max-version per txn appId — no per-file driver materialization,
    * so a 10M-file table checkpoints in executor memory. The parquet
    * lands in a temp dir and renames into place; `_last_checkpoint`
    * flips only after every part is published, so a concurrent reader
    * never follows the pointer into a torn checkpoint.
    */
  private def writeCheckpoint(t: ResourceTable, p: Pinned, dv: Long,
                              state: DeltaState, schemaJson: String,
                              graftHead: FileStats.Commit): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    val spark = t.spark
    val dir = deltaDir(t)
    val (ckptV, ckptFiles) = newestCheckpoint(t.fs, dir)
    val tail = listEntries(t).filter(v => v > ckptV && v <= dv)
    val addT = checkpointSchema("add").dataType
    val txnT = checkpointSchema("txn").dataType
    val domT = checkpointSchema("domainMetadata").dataType
    val lineSchema = StructType(Seq(
      StructField("add", addT),
      StructField("remove", StructType(Seq(
        StructField("path", StringType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType)))),
      StructField("domainMetadata", domT)))
    // the json tail as (log version, add, remove, txn, domainMetadata)
    // — version from the file name, so later entries win the per-path
    // (and per-domain) reconciliation
    val tailActs =
      if (tail.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("v", LongType))))
          .withColumn("add", lit(null).cast(addT))
          .withColumn("remove",
            lit(null).cast(lineSchema("remove").dataType))
          .withColumn("txn", lit(null).cast(lineSchema("txn").dataType))
          .withColumn("domainMetadata", lit(null).cast(domT))
      else
        spark.read.text(tail.map(v => entryFile(t, v).toString): _*)
          .select(
            regexp_extract(input_file_name(), "(\\d+)\\.json", 1)
              .cast(LongType).as("v"),
            from_json(col("value"), lineSchema).as("a"))
          .select(col("v"), col("a.add").as("add"),
            col("a.remove").as("remove"), col("a.txn").as("txn"),
            col("a.domainMetadata").as("domainMetadata"))
    // prior checkpoint's adds (live set at ckptV) and txn watermarks.
    // Rebuild the add struct field-by-field: a checkpoint written by
    // another writer may order or extend the struct differently
    val (baseAdds, baseTxns, baseDoms) =
      if (ckptV < 0) {
        val none = tailActs.limit(0)
        (none.select(col("v"), col("add")),
          none.select(col("txn.appId").as("appId"),
            col("txn.version").as("version")),
          none.select(col("v"),
            col("domainMetadata").cast(domT).as("domainMetadata")))
      } else {
        val ckRaw = spark.read.parquet(ckptFiles.map(_.toString): _*)
        // a prior V2 checkpoint keeps its FILE actions in sidecars —
        // fold them in, or the rebuild would lose the base live-set
        val scPaths =
          if (!ckRaw.columns.contains("sidecar")) Seq.empty[String]
          else ckRaw.filter(col("sidecar").isNotNull)
            .select("sidecar.path").collect().map(_.getString(0))
            .map(n => if (n.contains("://") || n.startsWith("/")) n
              else new HPath(new HPath(dir, "_sidecars"), n).toString)
            .toSeq
        val ck =
          if (scPaths.isEmpty) ckRaw
          else ckRaw.unionByName(spark.read.parquet(scPaths: _*),
            allowMissingColumns = true)
        val hasDvField = scala.util.Try(
          ck.schema("add").dataType.asInstanceOf[StructType]
            .fieldNames.contains("deletionVector")).getOrElse(false)
        val dvField =
          if (hasDvField) col("add.deletionVector")
          else lit(null)
        val adds = ck.filter(col("add").isNotNull)
          .select(lit(ckptV).as("v"), struct(
            col("add.path").as("path"),
            col("add.partitionValues").as("partitionValues"),
            col("add.size").as("size"),
            col("add.modificationTime").as("modificationTime"),
            col("add.dataChange").as("dataChange"),
            col("add.stats").as("stats"),
            dvField.as("deletionVector")).cast(addT).as("add"))
        val txns =
          if (!ck.schema.fieldNames.contains("txn"))
            adds.limit(0).select(lit(null).cast(StringType).as("appId"),
              lit(null).cast(LongType).as("version"))
          else ck.filter(col("txn").isNotNull)
            .select(col("txn.appId").as("appId"),
              col("txn.version").as("version"))
        // the prior checkpoint's domain states (rebuilt field-by-field
        // like the add struct: a foreign writer's checkpoint may order
        // or extend the struct differently)
        val doms =
          if (!ck.schema.fieldNames.contains("domainMetadata"))
            adds.limit(0).select(col("v"),
              lit(null).cast(domT).as("domainMetadata"))
          else ck.filter(col("domainMetadata").isNotNull)
            .select(lit(ckptV).as("v"), struct(
              col("domainMetadata.domain").as("domain"),
              col("domainMetadata.configuration").as("configuration"),
              col("domainMetadata.removed").as("removed"))
              .cast(domT).as("domainMetadata"))
        (adds, txns, doms)
      }
    // last action per path wins (base adds carry the checkpoint's
    // version, strictly below every tail entry); survivors are adds
    val liveAdds = baseAdds
      .select(col("v"), col("add.path").as("path"), col("add"))
      .unionByName(tailActs
        .filter(col("add").isNotNull || col("remove").isNotNull)
        .select(col("v"),
          coalesce(col("add.path"), col("remove.path")).as("path"),
          col("add")))
      .groupBy(col("path"))
      // tie-break inside one version: a DV update exports
      // remove(path, old dv) + add(path, new dv) in the SAME commit,
      // so at equal v the add must win the reconciliation
      .agg(max_by(struct(col("v"), col("add")),
        struct(col("v"), col("add").isNotNull)).as("w"))
      .filter(col("w.add").isNotNull)
      .select(col("w.add").as("add"))
    val allTxns = baseTxns
      .unionByName(tailActs.filter(col("txn").isNotNull)
        .select(col("txn.appId").as("appId"),
          col("txn.version").as("version")))
      .groupBy(col("appId")).agg(max(col("version")).as("version"))
    // latest state per DOMAIN replayed from the prior checkpoint + the
    // json tail — carried forward verbatim (incl. removed-domain
    // tombstones): the protocol requires a checkpoint to hold the
    // latest domainMetadata action of EVERY domain, not just the two
    // graft writes itself. Bounded driver collect: domains are
    // table-level singletons (a handful of rows).
    val replayedDoms = baseDoms
      .unionByName(tailActs.filter(col("domainMetadata").isNotNull)
        .select(col("v"), col("domainMetadata")))
      .groupBy(col("domainMetadata.domain").as("domain"))
      .agg(max_by(col("domainMetadata"), col("v")).as("d"))
      .select(col("d"))
      .collect()
      .map { r =>
        val d = r.getStruct(0)
        // a foreign entry may omit `removed` — the protocol default
        // is an active (non-removed) domain
        d.getString(0) -> (d.getString(1),
          !d.isNullAt(2) && d.getBoolean(2))
      }.toMap
    val protoT = checkpointSchema("protocol").dataType
    val metaT = checkpointSchema("metaData").dataType
    val body = liveAdds
      .select(lit(null).cast(protoT).as("protocol"),
        lit(null).cast(metaT).as("metaData"), col("add"),
        lit(null).cast(txnT).as("txn"),
        lit(null).cast(domT).as("domainMetadata"))
      .unionByName(allTxns
        .select(lit(null).cast(protoT).as("protocol"),
          lit(null).cast(metaT).as("metaData"),
          lit(null).cast(addT).as("add"),
          struct(col("appId"), col("version")).cast(txnT).as("txn"),
          lit(null).cast(domT).as("domainMetadata")))
      .persist()
    try {
      val nBody = body.count()
      // v2Checkpoint is a reader-writer table feature: the V2 layout's
      // protocol row takes the table-features form, legacy features
      // listed explicitly so the upgrade loses nothing
      val v2Mode = spark.conf
        .getOption("spark.graft.export.checkpointV2")
        .exists(_.toBoolean)
      val protoRow = protoNodeRow((if (!v2Mode) state
        else state.copy(features = state.features + "v2Checkpoint"))
        .protocolAction.get("protocol"))
      def strMap(n: JsonNode) =
        n.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      val m = state.meta
      val metaRow = Row(m.get("id").asText,
        Row(m.get("format").get("provider").asText,
          strMap(m.get("format").get("options"))),
        m.get("schemaString").asText,
        m.get("partitionColumns").asScala.map(_.asText).toSeq,
        strMap(m.get("configuration")), m.get("createdTime").asLong)
      // latest per-domain state at the EXPORTED graft head (the
      // version this export run replayed to — NOT the table's live
      // head, which a concurrent writer may already have advanced:
      // a checkpoint at dv must be a pure function of the log at dv,
      // or two racing exporters publish non-equivalent checkpoints).
      // Graft's OWN two domains are recomputed (rowTracking reads the
      // hwm from the graftHead commit; clustering physical names
      // come from the same schemaJson the checkpoint metaData row
      // carries) and override the replayed state; every OTHER domain
      // found in the prior checkpoint or json tail is carried forward
      // verbatim — dropping one would permanently lose its state once
      // cleanupLog trims the entries that declared it. The V2 path
      // inherits these rows too since the manifest carries `head`.
      val graftDoms = (clusteringDomain(p, schemaJson) ++
          rowTrackingDomain(p, graftHead))
        .map { n =>
          val d = n.get("domainMetadata")
          d.get("domain").asText ->
            (d.get("configuration").asText, d.get("removed").asBoolean)
        }.toMap
      val domainRows = (replayedDoms ++ graftDoms).toSeq.sortBy(_._1)
        .map { case (name, (conf, removed)) =>
          Row(null, null, null, null, Row(name, conf, removed))
        }
      // _last_checkpoint.size counts the checkpoint's ACTIONS —
      // protocol + metaData + the domain rows + the body
      val nHead = 2L + domainRows.size
      val head = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(protoRow, null, null, null, null),
          Row(null, metaRow, null, null, null)) ++ domainRows, 1),
        checkpointSchema)
      val nParts = math.max(1L, (nBody + checkpointPartActions(spark) - 1)
        / checkpointPartActions(spark)).toInt
      if (v2Mode) {
        writeCheckpointV2(t, dv, head, body, nBody, nHead, nParts)
        return
      }
      val tmp = new HPath(dir, f".ckpt-$dv%020d-${
        java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val sized =
        if (nParts == 1) head.unionByName(body).coalesce(1)
        // coalesce never RAISES a partition count (AQE may have
        // squeezed the reconcile down to one); repartition guarantees
        // the part layout the naming below promises
        else head.unionByName(body).repartition(nParts)
      sized.write.mode("overwrite").parquet(tmp.toString)
      val parts = t.fs.listStatus(tmp).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") &&
          !p.getName.startsWith("."))
        .sortBy(_.getName).toSeq
      if (parts.isEmpty) throw new IllegalStateException(
        s"${t.path}: checkpoint write produced no parquet part")
      publishCheckpoint(t, dv, parts, tmp, nBody + nHead)
    } finally body.unpersist()
  }

  /** V2 (UUID-named) checkpoint write — PROTOCOL.md "V2 Spec", the
    * layout delta-spark writes under `v2Checkpoint`: FILE actions land
    * in `_delta_log/_sidecars/<uuid>.parquet` part files (written by a
    * Spark job, like the multi-part classic layout), and ONE manifest
    * `<v>.checkpoint.<uuid>.parquet` carries the non-file actions —
    * protocol, metaData, txn watermarks, a `checkpointMetadata`
    * {version} row, and one `sidecar` row per part. Opt-in
    * (`spark.graft.export.checkpointV2=true`): the manifest's protocol
    * row demands the `v2Checkpoint` reader feature, which
    * [[readSnapshot]] (and modern delta readers) support but classic
    * readers refuse — exactly the trade the real feature makes.
    * Publish order mirrors the classic path: sidecars first, manifest
    * rename second, `_last_checkpoint` flip last — a reader can never
    * follow a pointer into a manifest whose sidecars are missing.
    */
  private def writeCheckpointV2(t: ResourceTable, dv: Long,
                                head: org.apache.spark.sql.DataFrame,
                                body: org.apache.spark.sql.DataFrame,
                                nBody: Long, nHead: Long,
                                nParts: Int): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    val spark = t.spark
    val dir = deltaDir(t)
    if (completeCheckpoints(t.fs, dir).contains(dv)) return
    val scDir = new HPath(dir, "_sidecars")
    t.fs.mkdirs(scDir)
    // ---- sidecars: the file actions only ----
    val adds = body.filter(col("add").isNotNull).select(col("add"))
    val tmp = new HPath(dir, f".ckpt2-$dv%020d-${
      java.util.UUID.randomUUID().toString.take(8)}.tmp")
    (if (nParts == 1) adds.coalesce(1) else adds.repartition(nParts))
      .write.mode("overwrite").parquet(tmp.toString)
    val parts = t.fs.listStatus(tmp).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("."))
      .sortBy(_.getName).toSeq
    val sidecars = parts.map { p =>
      val name = s"${java.util.UUID.randomUUID()}.parquet"
      val dest = new HPath(scDir, name)
      if (!t.fs.rename(p, dest))
        throw new IllegalStateException(
          s"${t.path}: could not publish checkpoint sidecar $dest")
      (name, t.fs.getFileStatus(dest).getLen,
        t.fs.getFileStatus(dest).getModificationTime)
    }
    t.fs.delete(tmp, true)
    // ---- manifest: non-file actions + sidecar pointers ----
    val v2Schema = StructType(checkpointSchema.fields ++ Seq(
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType))))))
    val wide = (c: org.apache.spark.sql.DataFrame) => c
      .withColumn("sidecar",
        lit(null).cast(v2Schema("sidecar").dataType))
      .withColumn("checkpointMetadata",
        lit(null).cast(v2Schema("checkpointMetadata").dataType))
    val scRows = spark.createDataFrame(
      spark.sparkContext.parallelize(sidecars.map { case (n, sz, mt) =>
        Row(null, null, null, null, null, Row(n, sz, mt), null)
      } :+ Row(null, null, null, null, null, null, Row(dv)), 1),
      v2Schema)
    val manifestDf = wide(head)
      .unionByName(wide(body.filter(col("txn").isNotNull)))
      .unionByName(scRows)
      .coalesce(1)
    val tmpM = new HPath(dir, f".ckpt2m-$dv%020d-${
      java.util.UUID.randomUUID().toString.take(8)}.tmp")
    manifestDf.write.mode("overwrite").parquet(tmpM.toString)
    val mPart = t.fs.listStatus(tmpM).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("."))
      .headOption.getOrElse(throw new IllegalStateException(
        s"${t.path}: v2 checkpoint manifest write produced no part"))
    val mDest = new HPath(dir, f"$dv%020d.checkpoint.${
      java.util.UUID.randomUUID()}.parquet")
    if (!t.fs.rename(mPart, mDest))
      throw new IllegalStateException(
        s"${t.path}: could not publish v2 checkpoint manifest $mDest")
    t.fs.delete(tmpM, true)
    flipLastCheckpoint(t, s"""{"version":$dv,"size":${nBody + nHead}}""")
  }

  /** Rename the staged checkpoint part(s) into the protocol's naming
    * and flip `_last_checkpoint`. A checkpoint at dv is a pure
    * function of the replayed log at dv: if one is already published
    * (concurrent exporter, or a crashed run that died between publish
    * and pointer flip), its content is equivalent — NEVER
    * delete-then-rename over it, which would open a window where the
    * pointer names a missing file.
    */
  private def publishCheckpoint(t: ResourceTable, dv: Long,
                                parts: Seq[HPath], tmp: HPath,
                                size: Long): Unit = {
    val dir = deltaDir(t)
    if (completeCheckpoints(t.fs, dir).contains(dv)) {
      t.fs.delete(tmp, true)
      return
    }
    val dests =
      if (parts.size == 1)
        Seq(new HPath(dir, f"$dv%020d.checkpoint.parquet"))
      else parts.indices.map(i => new HPath(dir,
        f"$dv%020d.checkpoint.${i + 1}%010d.${parts.size}%010d.parquet"))
    parts.zip(dests).foreach { case (src, dest) =>
      if (!t.fs.exists(dest) && !t.fs.rename(src, dest)) {
        // lost a race to an equivalent writer mid-publish: their part
        // landed first (same dv ⇒ same content); keep theirs
        if (!t.fs.exists(dest)) {
          t.fs.delete(tmp, true)
          throw new IllegalStateException(
            s"${t.path}: could not publish checkpoint $dv part $dest")
        }
      }
    }
    t.fs.delete(tmp, true)
    flipLastCheckpoint(t,
      if (parts.size == 1) s"""{"version":$dv,"size":$size}"""
      else s"""{"version":$dv,"size":$size,"parts":${parts.size}}""")
  }

  /** Publish `_last_checkpoint` via temp-write + rename (shared by
    * the classic and v2 layouts; the pointer is a hint — readers fall
    * back to a listing through the flip window).
    */
  private def flipLastCheckpoint(t: ResourceTable, body: String): Unit = {
    val dir = deltaDir(t)
    val lc = new HPath(dir, "_last_checkpoint")
    val tmpLc = new HPath(dir, s"._last_checkpoint.${
      java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = t.fs.create(tmpLc, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    t.fs.delete(lc, false)
    if (!t.fs.rename(tmpLc, lc)) {
      t.fs.delete(tmpLc, false)
      if (!t.fs.exists(lc))
        throw new IllegalStateException(
          s"${t.path}: could not publish _last_checkpoint")
    }
  }

  private val SinglePartName = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiPartName =
    """(\d{20})\.checkpoint\.(\d+)\.(\d+)\.parquet""".r
  // UUID-named V2 checkpoint (PROTOCOL.md "V2 Spec"): one manifest
  // file, parquet or json, whose file actions may live in sidecars
  private val UuidName =
    """(\d{20})\.checkpoint\.([0-9a-fA-F-]{8,})\.(parquet|json)""".r

  /** The checkpoint version a log file name carries, if it is one —
    * classic single-file (`N.checkpoint.parquet`), multi-part
    * (`N.checkpoint.K.M.parquet`), or UUID-named v2
    * (`N.checkpoint.U.{parquet|json}`) (PROTOCOL.md "Checkpoints").
    */
  private def checkpointVersionOf(name: String): Option[Long] =
    name match {
      case SinglePartName(v) => Some(v.toLong)
      case MultiPartName(v, _, _) => Some(v.toLong)
      case UuidName(v, _, _) => Some(v.toLong)
      case _ => None
    }

  /** Every COMPLETE checkpoint in `dir`: version → its part file(s) in
    * part order. A multi-part checkpoint counts only when all M of its
    * `N.checkpoint.K.M.parquet` parts are present (a crashed writer's
    * partial set is not replayable); racing writers that chose
    * different part counts coexist under distinct M and whichever set
    * completed first wins. A UUID-named v2 checkpoint is complete as a
    * single manifest (its sidecars are resolved at replay); classic
    * naming wins when both exist at a version — same state, simpler
    * replay.
    */
  private def completeCheckpoints(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Map[Long, Seq[HPath]] = {
    if (!fs.exists(dir)) return Map.empty
    val paths = fs.listStatus(dir).map(_.getPath).toSeq
    val named = paths.flatMap { p =>
      p.getName match {
        case SinglePartName(v) => Some((v.toLong, -1L, -1L, p))
        case MultiPartName(v, k, m) =>
          Some((v.toLong, k.toLong, m.toLong, p))
        case _ => None
      }
    }
    val classic = named.groupBy(_._1).flatMap { case (v, entries) =>
      val single = entries.collectFirst { case (_, -1L, -1L, p) => p }
      val multi = entries.filter(_._2 >= 0).groupBy(_._3).collectFirst {
        case (m, ps) if ps.map(_._2).toSet == (1L to m).toSet =>
          ps.sortBy(_._2).map(_._4)
      }
      single.map(p => v -> Seq(p)).orElse(multi.map(v -> _))
    }
    val uuid = paths.flatMap { p =>
      p.getName match {
        case UuidName(v, _, _) => Some(v.toLong -> p)
        case _ => None
      }
    }.groupBy(_._1).map { case (v, ps) =>
      // racing v2 writers: any one manifest is a complete checkpoint;
      // pick deterministically
      v -> Seq(ps.map(_._2).minBy(_.getName))
    }
    uuid ++ classic // right side wins merge: classic preferred
  }

  /** The newest REPLAYABLE checkpoint: `(version, part files)` — the
    * `_last_checkpoint` pointer when it names a complete checkpoint,
    * else the newest complete one by listing. The pointer flip is
    * delete-then-rename (no portable atomic replace across Hadoop
    * filesystems), so there is a window where the pointer is absent or
    * names parts a crashed writer never published — Delta readers
    * likewise treat the pointer as a hint and fall back to a listing.
    * `(-1, empty)` when none.
    */
  private def newestCheckpoint(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): (Long, Seq[HPath]) = {
    val complete = completeCheckpoints(fs, dir)
    if (complete.isEmpty) return (-1L, Seq.empty)
    val lc = new HPath(dir, "_last_checkpoint")
    val pointed: Long =
      if (!fs.exists(lc)) -1L
      else {
        val in = fs.open(lc)
        try scala.util.Try(mapper.readTree(new String(
          in.readAllBytes(), StandardCharsets.UTF_8))
          .get("version").asLong).getOrElse(-1L)
        finally in.close()
      }
    val v =
      if (pointed >= 0 && complete.contains(pointed)) pointed
      else complete.keys.max
    (v, complete(v))
  }

  /** Checkpoint cadence check after exporting up to `dv`; `graftHead`
    * is the graft commit delta `dv` mirrors (captured by the export
    * run — domain state is derived from it, never from the table's
    * possibly-advanced live head).
    */
  private def maybeCheckpoint(t: ResourceTable, p: Pinned, dv: Long,
                              state: DeltaState, schemaJson: String,
                              graftHead: FileStats.Commit): Unit = {
    if (dv - newestCheckpoint(t.fs, deltaDir(t))._1 >= CheckpointInterval)
      writeCheckpoint(t, p, dv, state, schemaJson, graftHead)
  }

  /** Delta's metadata cleanup (`delta.logRetentionDuration`) for the
    * exported log: delete json entries and superseded checkpoint files
    * that are BOTH strictly below the newest published checkpoint
    * (readers replay checkpoint + tail, so these are never consulted
    * for the current snapshot) AND older than `retentionMs` by file
    * modification time (external time travel over the exported log
    * stays possible inside the window). Without this, a 100k-commit
    * table carries 100k json files forever; with it the log is
    * O(CheckpointInterval + retention-window commits). No-op until a
    * checkpoint exists — a checkpoint-less log needs every entry.
    * Returns the deleted entry versions.
    */
  def cleanupLog(t: ResourceTable,
                 retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[Long] = {
    val ckptV = newestCheckpoint(t.fs, deltaDir(t))._1
    if (ckptV < 0) return Seq.empty
    val cutoff = System.currentTimeMillis() - retentionMs
    val dead = listEntries(t).filter(v => v < ckptV &&
      t.fs.getFileStatus(entryFile(t, v)).getModificationTime < cutoff)
    dead.foreach { v =>
      t.fs.delete(entryFile(t, v), false)
      // the version checksum rides its entry's lifecycle
      t.fs.delete(new HPath(deltaDir(t), f"$v%020d.crc"), false): Unit
    }
    // superseded checkpoints (single- or multi-part) below the live
    // one age out the same way
    t.fs.listStatus(deltaDir(t)).map(_.getPath)
      .filter { p =>
        checkpointVersionOf(p.getName).exists(_ < ckptV) &&
          t.fs.getFileStatus(p).getModificationTime < cutoff
      }.foreach(t.fs.delete(_, false))
    // change-data files ride the SAME lifecycle as their log entries
    // (delta-spark vacuums CDC under the log retention too): a cdc
    // file whose entry is gone can never be replayed — reap it. The
    // survivors' referenced set comes from one pass over the retained
    // json tail; files newer than the cutoff are kept unconditionally
    // (their entry may be mid-publish by a concurrent exporter).
    val cdDir = new HPath(t.path, "_change_data")
    if (t.fs.exists(cdDir)) {
      val referenced = listEntries(t).flatMap { v =>
        entryLines(t, v).map(mapper.readTree)
          .flatMap(n => Option(n.get("cdc")).map(_.get("path").asText))
      }.map(p => p.stripPrefix("_change_data/")).toSet
      t.fs.listStatus(cdDir).map(_.getPath)
        .filter(p => !p.getName.startsWith(".") &&
          !referenced(p.getName) &&
          t.fs.getFileStatus(p).getModificationTime < cutoff)
        .foreach(t.fs.delete(_, false))
    }
    // V2 sidecars: a superseded uuid manifest is deleted above, which
    // orphans its `_sidecars/` parts — reap every sidecar no SURVIVING
    // manifest references, past the same cutoff (conservative: keep
    // unconditionally-newer files, a concurrent checkpointer may be
    // mid-publish between sidecar rename and manifest rename)
    val scDir = new HPath(deltaDir(t), "_sidecars")
    if (t.fs.exists(scDir)) {
      val spark = t.spark
      val surviving = t.fs.listStatus(deltaDir(t)).map(_.getPath)
        .filter(p => p.getName match {
          case UuidName(_, _, _) => true
          case _ => false
        })
      val referenced = surviving.flatMap { m =>
        if (m.getName.endsWith(".parquet")) {
          val df = spark.read.parquet(m.toString)
          if (!df.columns.contains("sidecar")) Seq.empty
          else df.filter(org.apache.spark.sql.functions
              .col("sidecar").isNotNull)
            .select("sidecar.path").collect().map(_.getString(0)).toSeq
        } else {
          val in = t.fs.open(m)
          val body =
            try new String(in.readAllBytes(), StandardCharsets.UTF_8)
            finally in.close()
          body.linesIterator.filter(_.nonEmpty).map(mapper.readTree)
            .flatMap(n => Option(n.get("sidecar"))
              .map(_.get("path").asText)).toSeq
        }
      }.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      t.fs.listStatus(scDir).map(_.getPath)
        .filter(p => !p.getName.startsWith(".") &&
          !referenced(p.getName) &&
          t.fs.getFileStatus(p).getModificationTime < cutoff)
        .foreach(t.fs.delete(_, false))
    }
    dead
  }

  /** Per-field key Delta column mapping stores the parquet-physical
    * name under (PROTOCOL.md "Column Mapping").
    */
  private val PhysNameKey = "delta.columnMapping.physicalName"

  /** Reader features this reader actually implements; a protocol v3
    * log demanding anything else refuses loudly.
    */
  private val SupportedReaderFeatures =
    Set("columnMapping", "timestampNtz", "vacuumProtocolCheck",
      "deletionVectors", "v2Checkpoint",
      // narrow files under a widened schema: this reader scans with
      // an explicit (widened) Spark schema, and the parquet readers
      // upcast in place (SPARK-40876) — nothing else to do
      "typeWidening")

  /** Protocol gate shared by the checkpoint and json replay paths.
    * v1 = plain parquet; v2 = column mapping (the metaData
    * configuration decides the mode — `name` is read, `id` refused);
    * v3 = table features, allowed only when every listed readerFeature
    * is implemented here. A v3 protocol WITHOUT a readerFeatures list
    * is malformed — refuse rather than guess what it requires.
    */
  private def checkReaderProtocol(tablePath: String, mrv: Int,
                                  features: Option[Seq[String]]): Unit =
    if (mrv == 3) {
      val bad = features.fold(Seq("<missing readerFeatures>"))(
        _.filterNot(SupportedReaderFeatures))
      if (bad.nonEmpty) throw new IllegalStateException(
        s"$tablePath: delta reader version 3 demands reader features " +
          s"this reader lacks: ${bad.mkString(", ")}")
    } else if (mrv > 2) throw new IllegalStateException(
      s"$tablePath: requires delta reader version $mrv; " +
        "this reader supports 1-3")

  /** The name-mapped twin of a logical type: every nested StructField
    * renamed to its `delta.columnMapping.physicalName` (parquet files
    * of a column-mapped table store ONLY physical names).
    */
  private def physicalType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(physicalName(f), physicalType(f.dataType), f.nullable)))
    case a: ArrayType => a.copy(elementType = physicalType(a.elementType))
    case m: MapType =>
      m.copy(keyType = physicalType(m.keyType),
        valueType = physicalType(m.valueType))
    case o => o
  }

  private def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else f.name

  /** Id-mode column mapping stores a stable integer per field. */
  private val ColIdKey = "delta.columnMapping.id"

  /** The field-id-annotated twin of a logical type for `id`-mode
    * column mapping: every nested StructField keeps its LOGICAL name
    * but carries `parquet.field.id` = `delta.columnMapping.id`, so
    * Spark's parquet reader (`spark.sql.parquet.fieldId.read.enabled`)
    * matches columns by the parquet field_id the writer stamped into
    * the files — names in the files are irrelevant, per PROTOCOL.md
    * "Column Mapping" id mode.
    */
  private def fieldIdType(dt: DataType, where: String): DataType =
    dt match {
      case s: StructType => StructType(s.fields.map { f =>
        if (!f.metadata.contains(ColIdKey))
          throw new IllegalStateException(
            s"$where: columnMapping.mode=id but field `${f.name}` " +
              s"carries no $ColIdKey — malformed log")
        StructField(f.name, fieldIdType(f.dataType, where), f.nullable,
          new MetadataBuilder()
            .putLong("parquet.field.id", f.metadata.getLong(ColIdKey))
            .build())
      })
      case a: ArrayType =>
        a.copy(elementType = fieldIdType(a.elementType, where))
      case m: MapType =>
        m.copy(keyType = fieldIdType(m.keyType, where),
          valueType = fieldIdType(m.valueType, where))
      case o => o
    }

  /** A live file's newest add action, as replayed from the log. */
  private final case class LiveAdd(
      pv: Map[String, String],
      dv: Option[DeletionVectors.Descriptor],
      size: Long, modTime: Long, stats: Option[String])

  /** Standalone reader for the exported protocol subset: replays
    * `_delta_log/` (protocol gate, last metaData schema, add/remove
    * set) and reads the live files under the log's schema. Works on
    * ANY delta log at protocol (1,x) — our own exports, foreign
    * checkpoint-bearing logs (single- or multi-part), and PARTITIONED
    * foreign tables: partition columns are absent from the data files
    * per the protocol, so each add's `partitionValues` is re-injected
    * as literal columns cast to the schema's types (one scan per
    * distinct partition tuple, unioned — plan size O(#partitions),
    * never O(#files)). Column-mapped foreign logs (reader v2, or v3
    * with the columnMapping feature) are read in `name` mode: the
    * parquet scans under the schema's physical names, then one
    * positional struct-cast per top-level column restores the logical
    * names at every nesting depth — zero per-row cost, pure rename.
    * Deletion vectors (v3 + deletionVectors feature) are applied by
    * decoding each add's roaring DV on an executor and anti-joining
    * the scan on its native parquet row position ([[DeletionVectors]]).
    * `id`-mode mapping scans under the logical names annotated with
    * `parquet.field.id` so Spark's field-id matching resolves columns
    * regardless of the names in the files. UUID-named V2 checkpoints
    * (parquet or json-lines manifest, file actions inline or in
    * `_sidecars/` parquet files) replay like classic ones. Reader
    * features beyond {columnMapping, timestampNtz, vacuumProtocolCheck,
    * deletionVectors, v2Checkpoint} refuse loudly instead of returning
    * wrong rows.
    *
    * `versionAsOf >= 0` time-travels to that delta version (Delta's
    * `versionAsOf` reader option): replay stops at the requested
    * version, and the checkpoint is used as the base only when it
    * does not overshoot it. Unreachable history fails loudly — a
    * version past the newest entry, a version whose entries were
    * cleaned by [[cleanupLog]], or files vacuumed since — never a
    * silently wrong snapshot.
    */
  def readSnapshot(spark: SparkSession, tablePath: String,
                   versionAsOf: Long = -1L): DataFrame = {
    val root = new HPath(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new HPath(root, "_delta_log")
    if (!fs.exists(dir))
      throw new IllegalStateException(s"$tablePath: no _delta_log")
    var schemaJson: String = null
    var partCols: Seq[String] = Seq.empty
    var tableConf: Map[String, String] = Map.empty
    // live path → its newest add action (partitionValues, deletion
    // vector, size/modTime for the scan's file statuses, stats for
    // file skipping): a re-add of the same path REPLACES the whole
    // record, so the newest DV (or its clearing, on a DV-less re-add
    // after compaction) always wins
    val live = mutable.LinkedHashMap.empty[String, LiveAdd]
    // start from the checkpoint when one is published: replay is then
    // O(tail), not O(#commits) — how Delta keeps 100k-commit logs
    // readable. Foreign checkpoints may carry txn/remove tombstone
    // rows; only protocol/metaData/add matter for a snapshot. The
    // pointer is a HINT (its flip is not atomic): newestCheckpoint
    // verifies the named file exists and falls back to a listing.
    val (pointerV, pointerFiles) = newestCheckpoint(fs, dir)
    // time travel may not replay THROUGH a checkpoint newer than the
    // requested version — it would bake in later state
    val useCkpt = pointerV >= 0 && (versionAsOf < 0 || pointerV <= versionAsOf)
    // commit entries only — a UUID v2-checkpoint manifest also ends
    // in .json and must not be replayed as a commit
    val CommitName = """(\d{20})\.json""".r
    val allJson = fs.listStatus(dir).map(_.getPath.getName)
      .collect { case CommitName(v) => v.toLong }.sorted.toSeq
    if (versionAsOf >= 0) {
      val newest = math.max(pointerV, allJson.lastOption.getOrElse(-1L))
      if (versionAsOf > newest) throw new IllegalArgumentException(
        s"$tablePath: versionAsOf $versionAsOf is past the newest " +
          s"exported delta version $newest")
      if (!useCkpt && (allJson.isEmpty || allJson.head > 0))
        throw new IllegalStateException(
          s"$tablePath: delta version $versionAsOf is no longer " +
            s"available — entries before ${allJson.headOption.getOrElse(pointerV)} " +
            "were cleaned (cleanupLog) and the checkpoint is newer than " +
            "the requested version")
    }
    // ---- shared action handlers: parquet-row form (checkpoints and
    // sidecars) and json form (commit tail and json v2 manifests) ----
    def applyCkptRow(row: org.apache.spark.sql.Row, cols: Set[String],
                     sidecars: mutable.Buffer[String]): Unit = {
      if (cols("protocol") && !row.isNullAt(row.fieldIndex("protocol"))) {
        val p = row.getStruct(row.fieldIndex("protocol"))
        val mrv = p.getInt(p.fieldIndex("minReaderVersion"))
        val fIdx = p.schema.fieldNames.indexOf("readerFeatures")
        val feats =
          if (fIdx < 0 || p.isNullAt(fIdx)) None
          else Some(p.getSeq[String](fIdx).toSeq)
        checkReaderProtocol(tablePath, mrv, feats)
      }
      if (cols("metaData") && !row.isNullAt(row.fieldIndex("metaData"))) {
        val m = row.getStruct(row.fieldIndex("metaData"))
        schemaJson = m.getString(m.fieldIndex("schemaString"))
        val parts = m.getSeq[String](m.fieldIndex("partitionColumns"))
        partCols = if (parts == null) Seq.empty else parts.toSeq
        val cIdx = m.schema.fieldNames.indexOf("configuration")
        tableConf =
          if (cIdx < 0 || m.isNullAt(cIdx)) Map.empty
          else m.getMap[String, String](cIdx).toMap
      }
      if (cols("add") && !row.isNullAt(row.fieldIndex("add"))) {
        val a = row.getStruct(row.fieldIndex("add"))
        val p = a.getString(a.fieldIndex("path"))
        val pvIdx = a.schema.fieldNames.indexOf("partitionValues")
        val pv =
          if (pvIdx < 0 || a.isNullAt(pvIdx)) Map.empty[String, String]
          else a.getMap[String, String](pvIdx).toMap
        val dvIdx = a.schema.fieldNames.indexOf("deletionVector")
        val dv =
          if (dvIdx < 0 || a.isNullAt(dvIdx)) None
          else {
            val s = a.getStruct(dvIdx)
            def gi(n: String) = s.schema.fieldNames.indexOf(n)
            Some(DeletionVectors.Descriptor(
              s.getString(gi("storageType")),
              s.getString(gi("pathOrInlineDv")),
              if (gi("offset") < 0 || s.isNullAt(gi("offset"))) 0
              else s.getInt(gi("offset")),
              s.getInt(gi("sizeInBytes")),
              s.getLong(gi("cardinality"))))
          }
        def optLong(n: String): Option[Long] = {
          val i = a.schema.fieldNames.indexOf(n)
          if (i < 0 || a.isNullAt(i)) None else Some(a.getLong(i))
        }
        val stIdx = a.schema.fieldNames.indexOf("stats")
        val stats =
          if (stIdx < 0 || a.isNullAt(stIdx)) None
          else Option(a.getString(stIdx))
        live(p) = LiveAdd(pv, dv, optLong("size").getOrElse(-1L),
          optLong("modificationTime").getOrElse(0L), stats)
      }
      // a v2 manifest's file actions may live in sidecar files
      if (cols("sidecar") && !row.isNullAt(row.fieldIndex("sidecar"))) {
        val s = row.getStruct(row.fieldIndex("sidecar"))
        sidecars += s.getString(s.fieldIndex("path"))
      }
    }
    // `inCheckpoint`: a checkpoint's remove rows are vacuum tombstones,
    // not state transitions — never un-live a path for them; sidecar
    // actions are only legal inside a v2 manifest
    def applyJsonAction(n: JsonNode, inCheckpoint: Boolean,
                        sidecars: mutable.Buffer[String]): Unit = {
      Option(n.get("protocol")).foreach { p =>
        val mrv = p.get("minReaderVersion").asInt
        val feats = Option(p.get("readerFeatures")).map(f =>
          (0 until f.size()).map(f.get(_).asText).toSeq)
        checkReaderProtocol(tablePath, mrv, feats)
      }
      Option(n.get("metaData")).foreach { m =>
        schemaJson = m.get("schemaString").asText
        val parts = m.get("partitionColumns")
        partCols =
          if (parts == null) Seq.empty
          else (0 until parts.size()).map(parts.get(_).asText)
        tableConf = Option(m.get("configuration")).map { c =>
          val it = c.fields()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next()
            b += e.getKey ->
              (if (e.getValue.isNull) null else e.getValue.asText)
          }
          b.result()
        }.getOrElse(Map.empty)
      }
      Option(n.get("add")).foreach { a =>
        val pvNode = a.get("partitionValues")
        val pv =
          if (pvNode == null) Map.empty[String, String]
          else {
            val it = pvNode.fields()
            val b = Map.newBuilder[String, String]
            while (it.hasNext) {
              val e = it.next()
              b += e.getKey ->
                (if (e.getValue.isNull) null else e.getValue.asText)
            }
            b.result()
          }
        val dv = Option(a.get("deletionVector")).map(d =>
          DeletionVectors.Descriptor(
            d.get("storageType").asText,
            d.get("pathOrInlineDv").asText,
            Option(d.get("offset")).map(_.asInt).getOrElse(0),
            d.get("sizeInBytes").asInt,
            d.get("cardinality").asLong))
        live(a.get("path").asText) = LiveAdd(pv, dv,
          Option(a.get("size")).map(_.asLong).getOrElse(-1L),
          Option(a.get("modificationTime")).map(_.asLong).getOrElse(0L),
          Option(a.get("stats")).filterNot(_.isNull).map(_.asText))
      }
      if (!inCheckpoint)
        Option(n.get("remove")).foreach(r =>
          live.remove(r.get("path").asText))
      if (inCheckpoint)
        Option(n.get("sidecar")).foreach(s =>
          sidecars += s.get("path").asText)
    }
    val ckptV: Long =
      if (!useCkpt) -1L
      else {
        val v = pointerV
        val sidecars = mutable.Buffer.empty[String]
        val (jsonParts, pqParts) =
          pointerFiles.partition(_.getName.endsWith(".json"))
        if (pqParts.nonEmpty) {
          val ck = spark.read.parquet(pqParts.map(_.toString): _*)
          val cols = ck.columns.toSet
          // toLocalIterator: one partition resident at a time — the
          // driver accumulates only the live-file map, never a second
          // full copy of the checkpoint rows
          ck.toLocalIterator().asScala
            .foreach(applyCkptRow(_, cols, sidecars))
        }
        // a UUID-named v2 manifest may be json-lines of actions
        jsonParts.foreach { jp =>
          val in = fs.open(jp)
          val body =
            try new String(in.readAllBytes(), StandardCharsets.UTF_8)
            finally in.close()
          body.linesIterator.filter(_.nonEmpty).map(mapper.readTree)
            .foreach(applyJsonAction(_, inCheckpoint = true, sidecars))
        }
        if (sidecars.nonEmpty) {
          // sidecar paths are relative to _delta_log/_sidecars/ (or
          // absolute), PROTOCOL.md "V2 Spec"; sidecars are parquet
          val scDir = new HPath(dir, "_sidecars")
          val files = sidecars.toSeq.distinct.map { rel =>
            if (rel.contains("://") || rel.startsWith("/")) rel
            else new HPath(scDir, rel).toString
          }
          val sc = spark.read.parquet(files: _*)
          val cols = sc.columns.toSet
          sc.toLocalIterator().asScala
            .foreach(applyCkptRow(_, cols, sidecars))
        }
        v
      }
    val versions = allJson
      .filter(v => v > ckptV && (versionAsOf < 0 || v <= versionAsOf))
    versions.foreach { v =>
      val in = fs.open(new HPath(dir, f"$v%020d.json"))
      val body =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      body.linesIterator.filter(_.nonEmpty).map(mapper.readTree)
        .foreach(applyJsonAction(_, inCheckpoint = false,
          mutable.Buffer.empty))
    }
    if (schemaJson == null)
      throw new IllegalStateException(s"$tablePath: log has no metaData")
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val mapMode = Option(tableConf.getOrElse("delta.columnMapping.mode",
      "none")).getOrElse("none")
    if (mapMode != "none" && mapMode != "name" && mapMode != "id")
      throw new IllegalStateException(
        s"$tablePath: delta.columnMapping.mode=$mapMode is not " +
          "supported; this reader handles none, name, and id")
    // id mode matches parquet columns by field_id, which Spark's
    // reader only does under this conf. Leaving it set is safe: it
    // changes nothing for read schemas without parquet.field.id
    // metadata, which only our id-mode scans carry. If a caller later
    // turns it OFF and then executes this DataFrame, the scan refuses
    // loudly (FieldIdParquetFileFormat guards at reader build) rather
    // than silently name-matching to all-null columns.
    if (mapMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val needDv = live.values.exists(_.dv.isDefined)
    // normalize "file:///x", "file:/x", "s3a://bucket/x" to one shape
    // so the scan's `_metadata.file_path` joins the descriptor side
    val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"
    // `name` mode: scan under the PHYSICAL schema and restore logical
    // names with one positional struct-cast per top-level column
    // (renames at every nesting depth; identical types so it folds to
    // a no-op). `id` mode: scan under the LOGICAL names annotated with
    // parquet.field.id — Spark's field-id matching resolves the
    // columns (via FieldIdParquetFileFormat, which re-attaches the
    // annotations Catalyst's nested-schema pruning strips; without it
    // the reader silently name-matches = nulls). DV-bearing snapshots
    // also surface each row's file identity and native parquet row
    // position for the final dead-row anti-join.
    //
    // EVERY mode scans through a StatsFileIndex built from the log's
    // add actions: file statuses come from add.size/modificationTime
    // (zero FS listings to plan — the listing IS the log, which also
    // makes the snapshot immune to concurrent-writer races), and the
    // add.stats min/max/nullCount prune FILES against the query's
    // pushed data filters before any footer is opened — delta-spark's
    // TahoeFileIndex shape. In name/id modes the stats are keyed by
    // the parquet-physical column names, which is exactly the
    // namespace the pushed-down filters use in name mode; id mode
    // filters use logical names and fall out conservative (no skip,
    // never wrong).
    def entryOf(r: String): StatsFileIndex.Entry = {
      val lf = live(r)
      StatsFileIndex.Entry(
        fs.makeQualified(new HPath(root, r)),
        // pre-spec foreign adds may omit size; one status probe per
        // such file (our exports always carry it)
        if (lf.size >= 0) lf.size
        else fs.getFileStatus(new HPath(root, r)).getLen,
        lf.modTime,
        // thread the add's deletion vector into the FileStat: the
        // exact-stats consumers (exactMinMax et al) refuse DV-bearing
        // files — their extremum may be a deleted row — and that guard
        // keys on FileStat.dv
        lf.stats.flatMap(StatsFileIndex.fromDeltaStats)
          .map(st => lf.dv.fold(st)(d => st.copy(dv =
            Some(FileStats.DvInfo(d.storageType, d.pathOrInlineDv,
              d.offset, d.sizeInBytes, d.cardinality))))))
    }
    def scan(rels: Seq[String], logical: StructType): DataFrame = {
      import org.apache.spark.sql.functions.{col, regexp_replace, lit}
      import org.apache.spark.sql.execution.datasources.HadoopFsRelation
      import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      val readSchema = mapMode match {
        case "name" => physicalType(logical).asInstanceOf[StructType]
        case "id" => fieldIdType(logical, tablePath)
          .asInstanceOf[StructType]
        case _ => logical
      }
      val index = new StatsFileIndex(root, rels.map(entryOf))
      val fmt =
        if (mapMode == "id") new FieldIdParquetFileFormat(readSchema)
        else new ParquetFileFormat()
      val raw0 = spark.baseRelationToDataFrame(HadoopFsRelation(
        index, StructType(Nil),
        StatsFileIndex.relaxNullability(readSchema)
          .asInstanceOf[StructType],
        None, fmt, Map.empty)(spark))
      val raw =
        if (!needDv) raw0
        else raw0
          .withColumn("_gdv_file", regexp_replace(
            col("_metadata.file_path"), SchemeRe, "/"))
          .withColumn("_gdv_pos", col("_metadata.row_index"))
      if (mapMode != "name") raw
      else {
        val phys = readSchema
        val dvCols =
          if (!needDv) Seq.empty
          else Seq(col("_gdv_file"), col("_gdv_pos"))
        raw.select(logical.fields.zip(phys.fields).map { case (lf, pf) =>
          col(s"`${pf.name}`").cast(lf.dataType).as(lf.name)
        }.toSeq ++ dvCols: _*)
      }
    }
    // the dead-row filter: decode every descriptor ON AN EXECUTOR
    // (sidecar reads included — the driver never holds bytes or
    // positions), then anti-join on (file, position). O(#DVs) tasks,
    // O(deleted rows) shuffle — the same shape delta-spark's own
    // DV scan resolves to
    def dropDeleted(df: DataFrame): DataFrame =
      if (!needDv) df
      else {
        import spark.implicits._
        val dvConf = new SerializableHadoopConf(
          spark.sessionState.newHadoopConf())
        val rootStr = root.toString
        val descs = live.toSeq.collect {
          case (rel, la) if la.dv.isDefined =>
            val d = la.dv.get
            (fs.makeQualified(new HPath(root, rel)).toUri.toString
              .replaceFirst(SchemeRe, "/"),
              d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes,
              d.cardinality)
        }.sortBy(_._1)
        val deleted = spark.createDataset(descs)
          .repartition(math.max(1, math.min(descs.size, 64)))
          .flatMap { case (file, st, data, off, size, card) =>
            val bytes = DeletionVectors.bitmapBytes(dvConf.value,
              new HPath(rootStr),
              DeletionVectors.Descriptor(st, data, off, size, card))
            val pos = DeletionVectors.decodePositions(bytes)
            if (card >= 0 && pos.length != card)
              throw new IllegalStateException(
                s"$file: deletion vector decoded ${pos.length} " +
                  s"positions but the log promised $card")
            pos.iterator.map(p => (file, p))
          }.toDF("_gdv_file", "_gdv_pos")
        df.join(deleted, Seq("_gdv_file", "_gdv_pos"), "left_anti")
          .drop("_gdv_file", "_gdv_pos")
      }
    if (live.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // historical snapshots may reference files VACUUM has since reaped;
    // fail naming them (Delta's own time travel fails the same way)
    // instead of a mid-job FileNotFound. ONE listing per distinct
    // parent dir, not one existence probe per file — N HEAD requests
    // on an object store for an N-file snapshot is the wrong shape
    // (same discipline as `sizes` above)
    if (versionAsOf >= 0) {
      val present = live.keys.toSeq
        .groupBy(r => r.lastIndexOf('/') match {
          case -1 => ""
          case i => r.substring(0, i)
        })
        .keys.flatMap { d =>
          val dp = if (d.isEmpty) root else new HPath(root, d)
          if (!fs.exists(dp)) Seq.empty
          else fs.listStatus(dp).map(s =>
            if (d.isEmpty) s.getPath.getName
            else s"$d/${s.getPath.getName}")
        }.toSet
      val gone = live.keys.toSeq.sorted.filterNot(present)
      if (gone.nonEmpty) throw new IllegalStateException(
        s"$tablePath: delta version $versionAsOf references " +
          s"${gone.size} file(s) removed by vacuum: " +
          gone.take(5).mkString(", "))
    }
    if (partCols.isEmpty)
      dropDeleted(scan(live.keys.toSeq.sorted, schema))
    else {
      import org.apache.spark.sql.functions.{col, lit}
      val missing = partCols.filterNot(schema.fieldNames.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"$tablePath: partitionColumns ${missing.mkString(", ")} not " +
          "in the log's schema")
      // column-mapped logs key each add's partitionValues by the
      // PHYSICAL partition-column name (PROTOCOL.md "Writer
      // Requirements for Column Mapping"); fall back to the logical
      // name for writers that predate that rule
      val pvKey = partCols.map(c =>
        c -> (if (mapMode == "none") c else physicalName(schema(c)))).toMap
      // per the protocol, partition columns are NOT stored in the data
      // files. Plain logs (no column mapping, no DVs — the common
      // date-partitioned foreign shape) plan as ONE partitioned scan:
      // StatsFileIndex carries each add's partitionValues as a typed
      // InternalRow group, FileSourceScanExec appends the partition
      // columns, and partition predicates prune GROUPS inside
      // listFiles — plan size O(1) in the partition count, where the
      // union-of-scans fallback below is O(#partitions) and
      // unplannable at a 10k-partition table.
      val dataSchema =
        StructType(schema.fields.filterNot(fd => partCols.contains(fd.name)))
      def rawOf(pv: Map[String, String], c: String): String =
        pv.getOrElse(pvKey(c), pv.getOrElse(c, null))
      locally {
        import org.apache.spark.sql.catalyst.InternalRow
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
        import org.apache.spark.sql.execution.datasources.HadoopFsRelation
        import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        import org.apache.spark.sql.functions.{col, regexp_replace}
        // name-mode logs scan under physical names throughout — the
        // partition columns included (their physical name is also the
        // partitionValues key) — and ONE rename select restores the
        // logical names above the scan, same as the unpartitioned
        // path. id-mode logs scan the data columns under logical
        // names + field-id annotations (FieldIdParquetFileFormat) and
        // keep logical partition-column names — partition values come
        // from the log, not the files, so no id matching applies.
        val scanData = mapMode match {
          case "name" => physicalType(dataSchema).asInstanceOf[StructType]
          case "id" => fieldIdType(dataSchema, tablePath)
            .asInstanceOf[StructType]
          case _ => dataSchema
        }
        val partStruct = StructType(partCols.map { c =>
          val f = schema(c)
          if (mapMode == "name")
            StructField(physicalName(f), f.dataType, f.nullable)
          else StructField(f.name, f.dataType, f.nullable)
        })
        // Delta's partition-value serialization is a string per value
        // (PROTOCOL.md "Partition Value Serialization"); Cast under
        // UTC covers every scalar type it defines
        def pvToRow(pv: Map[String, String]): InternalRow =
          InternalRow.fromSeq(partCols.map { c =>
            val raw = rawOf(pv, c)
            if (raw == null) null
            else Cast(Literal(raw), schema(c).dataType, Some("UTC"))
              .eval(null)
          })
        val groups = live.toSeq.groupBy(_._2.pv).toSeq
          .sortBy(_._2.head._1) // deterministic group order
          .map { case (pv, files) =>
            (pvToRow(pv), files.map(_._1).sorted.map(entryOf))
          }
        val index = new StatsFileIndex(root, groups, partStruct)
        val fmt =
          if (mapMode == "id") new FieldIdParquetFileFormat(scanData)
          else new ParquetFileFormat()
        val df0 = spark.baseRelationToDataFrame(HadoopFsRelation(
          index, partStruct,
          StatsFileIndex.relaxNullability(scanData)
            .asInstanceOf[StructType],
          None, fmt, Map.empty)(spark))
        // DV-bearing snapshots surface file identity and native row
        // position for the dead-row anti-join, same as unpartitioned
        val df = if (!needDv) df0 else df0
          .withColumn("_gdv_file", regexp_replace(
            col("_metadata.file_path"), SchemeRe, "/"))
          .withColumn("_gdv_pos", col("_metadata.row_index"))
        val dvCols =
          if (!needDv) Seq.empty
          else Seq(col("_gdv_file"), col("_gdv_pos"))
        // restore the schema's declared column order (the scan emits
        // data columns then partition columns) and, for name mode, the
        // logical names at every nesting depth
        val physByLogical: Map[String, String] =
          if (mapMode != "name") Map.empty
          else schema.fields.map(f => f.name -> physicalName(f)).toMap
        dropDeleted(df.select(schema.fields.toSeq.map { f =>
          if (mapMode != "name") col(f.name)
          else col(s"`${physByLogical(f.name)}`")
            .cast(f.dataType).as(f.name)
        } ++ dvCols: _*))
      }
    }
  }
}
