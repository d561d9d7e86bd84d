package graft.tables

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Per-file column statistics for data skipping — the engine-side
  * analogue of Delta's per-file stats (`delta.checkpoint.writeStatsAsStruct`,
  * reference bundle_processor.py:188–195): ResourceTable commits record
  * min/max/nullCount per top-level scalar column, and filtered reads
  * prune whole files whose stats prove no row can match.
  *
  * Stats come from the parquet FOOTERS of the just-written snapshot —
  * row groups already carry typed min/max, so collection is a
  * metadata-only read (no second data scan). Micro-batch commits read
  * footers on the driver (a handful of RPCs); above a file-count
  * threshold [[readFooters]] lifts the same loop into a Spark job, so
  * a 10k-file backfill commit scales with the cluster, not the driver.
  *
  * Skipping is CONSERVATIVE: any expression shape, type pairing, or
  * missing statistic we cannot reason about keeps the file. String
  * comparisons only skip when both operands are pure ASCII (parquet
  * orders binary stats by unsigned byte, which matches code-point order
  * exactly there); the row-level filter is always re-applied after the
  * scan, so pruning can never change results — only IO.
  */
object FileStats {

  /** min/max live in a small normalized domain: Long (ints, dates as
    * epoch days, timestamps as epoch micros), Double, or String.
    */
  final case class ColStats(min: Option[Any], max: Option[Any],
                            numNulls: Option[Long])
  /** Deletion vector attached to one manifest file: same shape as the
    * Delta descriptor ([[DeletionVectors.Descriptor]]) so export is a
    * verbatim translation. `st` is the storage type (`i` inline z85 /
    * `u` sidecar), `d` the payload, `card` the deleted-row count.
    * `rows` in [[FileStat]] stays the file's PHYSICAL row count (the
    * stats describe the parquet file; the live count is
    * rows − dv.card), matching Delta's own numRecords convention.
    */
  final case class DvInfo(st: String, d: String, off: Int, sz: Int,
                          card: Long) {
    def descriptor: graft.tables.DeletionVectors.Descriptor =
      graft.tables.DeletionVectors.Descriptor(st, d, off, sz, card)
  }

  /** `bytes` is the file's physical length, recorded at commit time so
    * size-driven upkeep (auto-compact gate, size-targeted compaction,
    * DESCRIBE DETAIL) never needs an FS listing; `None` only in
    * pre-bytes commit bodies, whose readers fall back to listing.
    * `mtime` is the file's modification time at commit, so snapshot
    * reads surface a real `_metadata.file_modification_time` without
    * any per-file status probe; `None` in pre-mtime commit bodies.
    * `dv` marks rows deleted IN PLACE (O(deleted rows) deletes): scans
    * drop the DV's positions, rewrites materialize survivors and clear
    * it.
    */
  /** `baseRowId`/`rowVer` are Delta ROW TRACKING metadata (PROTOCOL.md
    * "Row Tracking"): when the table opts in, every file is assigned a
    * fresh id range at commit — row i of the file has row id
    * `baseRowId + i` — and `rowVer` records the commit version that
    * added the file (Delta's defaultRowCommitVersion). Both ride the
    * manifest entry so rewrite paths carry them untouched (st.copy).
    */
  final case class FileStat(rows: Long, cols: Map[String, ColStats],
                            bytes: Option[Long] = None,
                            mtime: Option[Long] = None,
                            dv: Option[DvInfo] = None,
                            baseRowId: Option[Long] = None,
                            rowVer: Option[Long] = None)

  // ---------------- collection (parquet footer → FileStat) -----------

  def readFooter(conf: Configuration, file: HPath): FileStat =
    readFooter(conf, file.getFileSystem(conf).getFileStatus(file))

  /** Footer stats from an already-listed status — the commit path has
    * one from its output-dir listing, so going through the status
    * costs no extra RPC and fills `mtime` for free.
    */
  def readFooter(conf: Configuration,
                 status: org.apache.hadoop.fs.FileStatus): FileStat = {
    val input = HadoopInputFile.fromStatus(status, conf)
    val reader = ParquetFileReader.open(input)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      // column → per-row-group stats, merged; a single unusable row
      // group poisons that column (None) — never guess
      var merged = Map.empty[String, Option[ColStats]]
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          if (!name.contains('.')) {
            val next = toColStats(cc)
            merged += (name -> ((merged.get(name), next) match {
              case (None, n) => n
              case (Some(None), _) | (_, None) => None
              case (Some(Some(a)), Some(b2)) => mergeStats(a, b2)
            }))
          }
        }
      }
      FileStat(rows, merged.collect { case (k, Some(v)) => k -> v },
        bytes = Some(input.getLength),
        mtime = Some(status.getModificationTime))
    } finally reader.close()
  }

  private def toColStats(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[ColStats] = {
    val st = cc.getStatistics
    if (st == null) return None
    val nulls = if (st.isNumNullsSet) Some(st.getNumNulls) else None
    if (!st.hasNonNullValue)
      // distinguish a provably ALL-NULL chunk (every value null:
      // min/max undefined but the absence is known) from stats that
      // were simply NOT COLLECTED — parquet-mr hands back an EMPTY
      // Statistics object when min/max were dropped (over the stats
      // size cap, or flagged corrupt), and reading that as "no values
      // here" would skip files whose real values are unknown
      return if (st.isNumNullsSet && st.getNumNulls == cc.getValueCount)
        Some(ColStats(None, None, nulls))
      else None
    val ann = cc.getPrimitiveType.getLogicalTypeAnnotation
    val isString = ann match {
      case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => true
      case _ => false
    }
    // the compare domain stores timestamps as epoch MICROS (Spark's
    // TimestampType literals): MILLIS-annotated INT64 stats rescale,
    // MICROS pass through, NANOS pass through UNSCALED because Spark
    // only reads them via nanosAsLong (LongType column → raw-nanos
    // literals, the same domain). Unsigned ints are incomparable as
    // signed longs — refuse.
    def tsScale(l: Long): Option[Long] = ann match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            // abs-free bound check: math.abs(Long.MinValue) is
            // negative, which would let MinValue slip past an
            // abs-based guard and overflow into a corrupt stat.
            if (l > Long.MaxValue / 1000 || l < Long.MinValue / 1000) None
            else Some(l * 1000L)
          case _ => Some(l) // MICROS exact; NANOS = nanosAsLong domain
        }
      case u: LogicalTypeAnnotation.IntLogicalTypeAnnotation
          if !u.isSigned => None
      case _ => Some(l)
    }
    def norm(v: Any): Option[Any] = v match {
      case i: java.lang.Integer => tsScale(i.longValue)
      case l: java.lang.Long => tsScale(l.longValue)
      case f: java.lang.Float => Some(f.doubleValue)
      case d: java.lang.Double => Some(d.doubleValue)
      case b: Binary if isString => Some(b.toStringUsingUTF8)
      case _ => None
    }
    (norm(st.genericGetMin), norm(st.genericGetMax)) match {
      case (Some(mn), Some(mx)) => Some(ColStats(Some(mn), Some(mx), nulls))
      case _ => None
    }
  }

  /** Footer stats for a commit's new files — serial on the driver for
    * the common micro-batch shape (a handful of files: one metadata
    * RPC each, no job-scheduling overhead), lifted into a Spark job
    * above `distributedThreshold` files so a 10k-file commit (large
    * backfill, wide repartition) never serializes 10k footer reads on
    * the driver. Results are identical by construction: both paths run
    * the same [[readFooter]] per status (the hadoop Configuration is
    * shipped via its own Writable round trip so foreign-FS settings —
    * s3a endpoints, auth providers — reach the executors too).
    * Keyed by the file NAME (commit manifests key `dirName/fileName`,
    * and every status here comes from one listing of one directory).
    */
  def readFooters(spark: org.apache.spark.sql.SparkSession,
                  conf: Configuration,
                  statuses: Seq[org.apache.hadoop.fs.FileStatus],
                  distributedThreshold: Int): Map[String, FileStat] =
    if (statuses.size <= distributedThreshold)
      statuses.map(st => st.getPath.getName -> readFooter(conf, st)).toMap
    else {
      val confBytes = {
        val baos = new java.io.ByteArrayOutputStream()
        conf.write(new java.io.DataOutputStream(baos))
        baos.toByteArray
      }
      val sc = spark.sparkContext
      val parallelism = math.min(statuses.size,
        math.max(1, sc.defaultParallelism))
      sc.parallelize(statuses, parallelism)
        .mapPartitions { it =>
          // one Configuration rebuild per task, not per file
          val c = new Configuration(false)
          c.readFields(new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(confBytes)))
          it.map(st => st.getPath.getName -> readFooter(c, st))
        }
        .collect().toMap
    }

  private def mergeStats(a: ColStats, b: ColStats): Option[ColStats] = {
    def pick(x: Option[Any], y: Option[Any], wantMin: Boolean): Option[Option[Any]] =
      (x, y) match {
        case (None, o) => Some(o)
        case (o, None) => Some(o)
        case (Some(v1), Some(v2)) => cmp(v1, v2) match {
          case Some(c) => Some(Some(if ((c <= 0) == wantMin) v1 else v2))
          case None => None // incomparable across groups → poison
        }
      }
    for {
      mn <- pick(a.min, b.min, wantMin = true)
      mx <- pick(a.max, b.max, wantMin = false)
    } yield ColStats(mn, mx,
      for (n1 <- a.numNulls; n2 <- b.numNulls) yield n1 + n2)
  }

  // ---------------- the `_log` commit codec ----------------------------

  import com.fasterxml.jackson.core.{JsonGenerator, JsonToken}
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  private val mapper = new ObjectMapper()

  /** One `_log/<v>.commit` body — the single codec of graft's commit
    * log: [[encode]] is the only writer of a body, [[CommitStream]] the
    * only parser ([[Commit.decode]] is that parser with its manifest
    * drained). Fields absent from older bodies are `None`/empty.
    *
    *  - `op` / `ts`: operation name and monotonic wall-clock millis
    *    (the DESCRIBE HISTORY surface).
    *  - `dir`: the writer-unique snapshot dir the commit wrote into; a
    *    body without one is incomplete.
    *  - `txns`: writer-transaction watermarks (Delta's
    *    `txnAppId`/`txnVersion` idempotence): appId → highest batch id
    *    applied, carried forward commit-to-commit so a replayed
    *    foreachBatch append is recognized and skipped.
    *  - `rowHwm`: row-id high-water mark (row tracking) — every id below
    *    it is spoken for, forever.
    *  - `key`: the merge/delete key column a mutation recorded — what a
    *    CDF export needs to replay the commit's row-level changes.
    *  - `dataChange`: `Some(false)` marks a rearrangement (same logical
    *    rows, different files); legacy bodies fall back to the op label
    *    ([[isRearrangement]]).
    *  - `schemaJson`: the schema the commit recorded (pre-schema-field
    *    bodies: readers fall back to `_meta_schema.json`).
    *  - `files`: the manifest in body order, keyed root-relative — a
    *    legacy bare-name key is resolved against `dir` at decode time.
    */
  final case class Commit(version: Long, op: Option[String],
                          ts: Option[Long], dir: String,
                          txns: Map[String, Long] = Map.empty,
                          rowHwm: Option[Long] = None,
                          key: Option[String] = None,
                          dataChange: Option[Boolean] = None,
                          schemaJson: Option[String] = None,
                          files: Seq[(String, FileStat)] = Nil) {
    /** The recorded schema, parsed on first use (None when absent or
      * unparseable — callers fall back to the head schema).
      */
    lazy val schema: Option[StructType] = schemaJson.flatMap(j =>
      scala.util.Try(DataType.fromJson(j).asInstanceOf[StructType]).toOption)

    /** `files` sorted by path — the order every manifest reader sees. */
    lazy val manifest: Seq[(String, FileStat)] = files.sortBy(_._1)

    /** dataChange=false (OPTIMIZE/compaction/purge), by the explicit
      * flag, or by the op label for bodies written before the flag.
      */
    def isRearrangement: Boolean =
      dataChange.map(!_).getOrElse(op.contains("OPTIMIZE"))

    /** The body bytes' text. Field order is fixed and `files` is always
      * LAST — [[CommitStream]] decodes the header before the manifest.
      */
    def encode: String = {
      val out = new java.io.StringWriter()
      val g = mapper.getFactory.createGenerator(out)
      g.writeStartObject()
      g.writeNumberField("version", version)
      op.foreach(g.writeStringField("op", _))
      ts.foreach(g.writeNumberField("ts", _))
      g.writeStringField("dir", dir)
      if (txns.nonEmpty) {
        g.writeObjectFieldStart("txns")
        txns.foreach { case (app, batch) => g.writeNumberField(app, batch) }
        g.writeEndObject()
      }
      rowHwm.foreach(g.writeNumberField("rowHwm", _))
      key.foreach(g.writeStringField("key", _))
      dataChange.foreach(g.writeBooleanField("dataChange", _))
      schemaJson.foreach { s => g.writeFieldName("schema"); g.writeRawValue(s) }
      g.writeObjectFieldStart("files")
      files.foreach { case (rel, st) => g.writeFieldName(rel); writeFileStat(g, st) }
      g.writeEndObject()
      g.writeEndObject()
      g.close()
      out.toString
    }
  }

  object Commit {
    /** Full decode: the header plus the drained manifest. Throws on a
      * malformed or truncated body.
      */
    def decode(open: () => java.io.InputStream): Commit = {
      val cs = new CommitStream(open)
      try cs.header.copy(files = cs.files.toVector)
      finally cs.close()
    }
  }

  private def writeFileStat(g: JsonGenerator, st: FileStat): Unit = {
    g.writeStartObject()
    g.writeNumberField("rows", st.rows)
    st.bytes.foreach(g.writeNumberField("bytes", _))
    st.mtime.foreach(g.writeNumberField("mtime", _))
    st.baseRowId.foreach(g.writeNumberField("brid", _))
    st.rowVer.foreach(g.writeNumberField("rcv", _))
    st.dv.foreach { d =>
      g.writeObjectFieldStart("dv")
      g.writeStringField("st", d.st); g.writeStringField("d", d.d)
      g.writeNumberField("off", d.off); g.writeNumberField("sz", d.sz)
      g.writeNumberField("card", d.card)
      g.writeEndObject()
    }
    g.writeObjectFieldStart("cols")
    st.cols.foreach { case (c, cs) =>
      g.writeObjectFieldStart(c)
      def put(key: String, v: Option[Any]): Unit = v.foreach {
        case l: Long => g.writeNumberField(key, l)
        case d: Double => g.writeNumberField(key, d)
        case s: String => g.writeStringField(key, s)
        case _ => ()
      }
      put("min", cs.min); put("max", cs.max)
      cs.numNulls.foreach(g.writeNumberField("nulls", _))
      g.writeEndObject()
    }
    g.writeEndObject()
    g.writeEndObject()
  }

  /** The commit parser. A 100 TB table's head manifest can reference
    * 10⁶–10⁷ files; materializing that as a driver collection costs
    * O(live files) resident objects before a single predicate prunes
    * anything. This reader parses the body INCREMENTALLY off an
    * InputStream: the [[header]] eagerly — every field precedes
    * `files`, which [[Commit.encode]] always emits LAST — and the
    * per-file manifest as a one-shot iterator that holds exactly one
    * entry at a time. A planner folding filters over the iterator
    * retains only surviving files: driver peak is O(files the
    * predicate can touch), not O(table). Values type as integral→Long,
    * floating→Double, else text — the [[canSkip]] compare domain. A
    * truncated body throws; the iterator ends only at the body's
    * closing brace.
    */
  final class CommitStream(open: () => java.io.InputStream)
      extends AutoCloseable {
    private val parser = mapper.getFactory.createParser(open())
    private var atFiles = false
    private var filesTaken = false

    private def truncated() =
      new IllegalStateException("commit body is truncated")

    /** Every header field, `files` left empty — stream it via [[files]].
      * A malformed body throws out of the CONSTRUCTOR — the parser (and
      * its stream) is closed on the way out, since the caller never
      * gets a reference to close().
      */
    val header: Commit =
      try readHeader()
      catch {
        case e: Throwable =>
          try parser.close() catch { case _: Throwable => () }
          throw e
      }

    private def readHeader(): Commit = {
      if (parser.nextToken() != JsonToken.START_OBJECT)
        throw new IllegalStateException("commit body is not a JSON object")
      var version: Option[Long] = None
      var op: Option[String] = None
      var ts: Option[Long] = None
      var dir: Option[String] = None
      var txns = Map.empty[String, Long]
      var rowHwm: Option[Long] = None
      var key: Option[String] = None
      var dataChange: Option[Boolean] = None
      var schemaJson: Option[String] = None
      var done = false
      while (!done) parser.nextToken() match {
        case JsonToken.FIELD_NAME =>
          val name = parser.currentName()
          val t = parser.nextToken()
          name match {
            case "files" =>
              if (t != JsonToken.START_OBJECT)
                throw new IllegalStateException("files is not an object")
              atFiles = true; done = true
            case "version" => version = Some(parser.getLongValue)
            case "op" => op = Some(parser.getText)
            case "ts" => ts = Some(parser.getLongValue)
            case "dir" => dir = Some(parser.getText)
            case "txns" if t == JsonToken.START_OBJECT =>
              while (parser.nextToken() == JsonToken.FIELD_NAME) {
                val app = parser.currentName()
                parser.nextToken()
                txns += app -> parser.getLongValue
              }
            case "rowHwm" => rowHwm = Some(parser.getLongValue)
            case "key" => key = Some(parser.getText)
            case "dataChange" => dataChange = Some(parser.getBooleanValue)
            case "schema" =>
              schemaJson = Some(mapper.readTree[JsonNode](parser).toString)
            case _ => parser.skipChildren()
          }
        case JsonToken.END_OBJECT => done = true
        case null => throw truncated()
        case t => throw new IllegalStateException(s"unexpected token $t")
      }
      Commit(
        version.getOrElse(throw new IllegalStateException(
          "commit body has no version")),
        op, ts,
        dir.getOrElse(throw new IllegalStateException(
          "commit body has no dir")),
        txns, rowHwm, key, dataChange, schemaJson)
    }

    /** The per-file manifest, streamed, keys root-relative. One-shot:
      * entries are produced straight off the parser, never retained.
      */
    def files: Iterator[(String, FileStat)] = {
      require(!filesTaken, "CommitStream.files is one-shot")
      filesTaken = true
      if (!atFiles) Iterator.empty
      else new Iterator[(String, FileStat)] {
        private var nextItem: (String, FileStat) = _
        private var done = false
        advance()
        private def advance(): Unit = parser.nextToken() match {
          case JsonToken.FIELD_NAME =>
            val k = parser.currentName()
            if (parser.nextToken() != JsonToken.START_OBJECT)
              throw new IllegalStateException(s"file $k: not an object")
            val rel = if (k.contains('/')) k else s"${header.dir}/$k"
            nextItem = rel -> readFileStat()
          case JsonToken.END_OBJECT =>
            // past the manifest: the body must still close cleanly
            var end = false
            while (!end) parser.nextToken() match {
              case JsonToken.FIELD_NAME =>
                parser.nextToken(); parser.skipChildren()
              case JsonToken.END_OBJECT => end = true
              case _ => throw truncated()
            }
            done = true; nextItem = null
          case _ => throw truncated()
        }
        override def hasNext: Boolean = !done
        override def next(): (String, FileStat) = {
          if (done) throw new NoSuchElementException
          val r = nextItem; advance(); r
        }
      }
    }

    private def readFileStat(): FileStat = {
      var rows = 0L; var bytes: Option[Long] = None
      var mtime: Option[Long] = None
      var dv: Option[DvInfo] = None
      var cols = Map.empty[String, ColStats]
      var brid: Option[Long] = None
      var rcv: Option[Long] = None
      var end = false
      while (!end) parser.nextToken() match {
        case JsonToken.FIELD_NAME => parser.currentName() match {
          case "rows" => parser.nextToken(); rows = parser.getLongValue
          case "bytes" =>
            parser.nextToken(); bytes = Some(parser.getLongValue)
          case "mtime" =>
            parser.nextToken(); mtime = Some(parser.getLongValue)
          case "brid" =>
            parser.nextToken(); brid = Some(parser.getLongValue)
          case "rcv" =>
            parser.nextToken(); rcv = Some(parser.getLongValue)
          case "dv" =>
            if (parser.nextToken() != JsonToken.START_OBJECT)
              throw new IllegalStateException("dv is not an object")
            var st = ""; var d = ""; var off = 0; var sz = 0
            var card = 0L
            var dvEnd = false
            while (!dvEnd) parser.nextToken() match {
              case JsonToken.FIELD_NAME => parser.currentName() match {
                case "st" => parser.nextToken(); st = parser.getText
                case "d" => parser.nextToken(); d = parser.getText
                case "off" => parser.nextToken(); off = parser.getIntValue
                case "sz" => parser.nextToken(); sz = parser.getIntValue
                case "card" =>
                  parser.nextToken(); card = parser.getLongValue
                case _ => parser.nextToken(); parser.skipChildren()
              }
              case _ => dvEnd = true
            }
            dv = Some(DvInfo(st, d, off, sz, card))
          case "cols" =>
            if (parser.nextToken() != JsonToken.START_OBJECT)
              throw new IllegalStateException("cols is not an object")
            var colsEnd = false
            while (!colsEnd) parser.nextToken() match {
              case JsonToken.FIELD_NAME =>
                val c = parser.currentName()
                cols += (c -> readColStats())
              case _ => colsEnd = true
            }
          case _ => parser.nextToken(); parser.skipChildren()
        }
        case _ => end = true
      }
      FileStat(rows, cols, bytes, mtime, dv, brid, rcv)
    }

    private def readColStats(): ColStats = {
      if (parser.nextToken() != JsonToken.START_OBJECT)
        throw new IllegalStateException("col stats is not an object")
      var mn: Option[Any] = None; var mx: Option[Any] = None
      var nulls: Option[Long] = None
      var end = false
      def value(): Any = parser.nextToken() match {
        case JsonToken.VALUE_NUMBER_INT => parser.getLongValue: Any
        case JsonToken.VALUE_NUMBER_FLOAT => parser.getDoubleValue: Any
        case _ => parser.getText: Any
      }
      while (!end) parser.nextToken() match {
        case JsonToken.FIELD_NAME => parser.currentName() match {
          case "min" => mn = Some(value())
          case "max" => mx = Some(value())
          case "nulls" => parser.nextToken(); nulls = Some(parser.getLongValue)
          case _ => parser.nextToken(); parser.skipChildren()
        }
        case _ => end = true
      }
      ColStats(mn, mx, nulls)
    }

    override def close(): Unit = parser.close()
  }

  // ---------------- predicate evaluation (skip decision) -------------

  /** True iff `stats` PROVE no row of the file can satisfy `pred`. */
  def canSkip(pred: Expression, stat: FileStat): Boolean = pred match {
    case And(l, r) => canSkip(l, stat) || canSkip(r, stat)
    case Or(l, r) => canSkip(l, stat) && canSkip(r, stat)
    case EqualTo(Attr(c), Lit(v)) => outOfRange(stat, c, v)
    case EqualTo(Lit(v), Attr(c)) => outOfRange(stat, c, v)
    case EqualNullSafe(Attr(c), Lit(v)) =>
      if (v == null) noNulls(stat, c) else outOfRange(stat, c, v)
    case GreaterThan(Attr(c), Lit(v)) => boundSkip(stat, c)(mx => le(mx, v))
    case GreaterThan(Lit(v), Attr(c)) => // v > col ⇔ col < v
      boundSkipMin(stat, c)(mn => ge(mn, v))
    case GreaterThanOrEqual(Attr(c), Lit(v)) =>
      boundSkip(stat, c)(mx => lt(mx, v))
    case GreaterThanOrEqual(Lit(v), Attr(c)) =>
      boundSkipMin(stat, c)(mn => gt(mn, v))
    case LessThan(Attr(c), Lit(v)) => boundSkipMin(stat, c)(mn => ge(mn, v))
    case LessThan(Lit(v), Attr(c)) => boundSkip(stat, c)(mx => le(mx, v))
    case LessThanOrEqual(Attr(c), Lit(v)) =>
      boundSkipMin(stat, c)(mn => gt(mn, v))
    case LessThanOrEqual(Lit(v), Attr(c)) =>
      boundSkip(stat, c)(mx => lt(mx, v))
    case In(Attr(c), vs) =>
      val lits = vs.map(Lit.unapply)
      lits.forall(_.isDefined) &&
        lits.flatten.forall(v => outOfRange(stat, c, v))
    // OptimizeIn rewrites any In past the conversion threshold
    // (default 10) into InSet, so every dynamically-built key filter
    // (dynamic file pruning collects up to 10^5 join keys) arrives
    // here. Per-expression the set is sorted ONCE (weak-memoized on
    // the hset instance); each file then pays one binary search for
    // "is any key inside my [min,max]" — O(log k) per file, not O(k).
    case i @ InSet(Attr(c), _) =>
      inSetSorted(i).exists(arr => noSetKeyInRange(arr, stat, c))
    case IsNull(Attr(c)) => noNulls(stat, c)
    case IsNotNull(Attr(c)) => allNulls(stat, c)
    case StartsWith(Attr(c), Lit(v: String)) => prefixSkip(stat, c, v)
    case _ => false
  }

  private object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute if u.nameParts.size == 1 =>
        Some(u.nameParts.head)
      case _ => None
    }
  }

  private def normLit(l: Literal): Any = l.value match {
    case null => null
    case b: java.lang.Byte => b.longValue
    case s: java.lang.Short => s.longValue
    case i: java.lang.Integer => i.longValue // ints, DateType days
    case j: java.lang.Long => j.longValue // longs, timestamp micros
    case f: java.lang.Float => f.doubleValue
    case d: java.lang.Double => d.doubleValue
    case u: UTF8String => u.toString
    case other => other
  }

  private object Lit {
    def unapply(e: Expression): Option[Any] = e match {
      case l: Literal => Some(normLit(l))
      case c if c.foldable && c.deterministic =>
        // the analyzer wraps literals in implicit Casts; fold them
        Some(normLit(Literal.create(c.eval(), c.dataType)))
      case _ => None
    }
  }

  /** Three-way compare across the normalized stat/literal domain; None
    * when the pairing is incomparable (→ never skip on it).
    */
  private[tables] def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    // BigDecimal(double) throws on NaN/Infinity; a parquet stat or a
    // literal can legally be non-finite -> incomparable, never skip.
    case (x: Long, y: Double) if java.lang.Double.isFinite(y) =>
      Some(BigDecimal(x).compare(BigDecimal(y)))
    case (x: Double, y: Long) if java.lang.Double.isFinite(x) =>
      Some(BigDecimal(x).compare(BigDecimal(y)))
    // +0.0 == -0.0 under SQL comparison semantics but Double.compare
    // ORDERS them (-0.0 < 0.0) — normalize signed zero (x + 0.0) so a
    // file holding +0.0 rows is never skipped for the literal -0.0.
    // NaN keeps Double.compare's greatest-value ordering, matching
    // Spark's NaN semantics.
    case (x: Double, y: Double) =>
      Some(java.lang.Double.compare(x + 0.0, y + 0.0))
    case (x: String, y: String) if isAscii(x) && isAscii(y) =>
      Some(Integer.signum(x.compareTo(y)))
    case _ => None
  }

  private def isAscii(s: String): Boolean = s.forall(_ < 0x80)

  private def lt(a: Any, b: Any) = cmp(a, b).exists(_ < 0)
  private def le(a: Any, b: Any) = cmp(a, b).exists(_ <= 0)
  private def gt(a: Any, b: Any) = cmp(a, b).exists(_ > 0)
  private def ge(a: Any, b: Any) = cmp(a, b).exists(_ >= 0)

  private def outOfRange(stat: FileStat, c: String, v: Any): Boolean =
    v != null && stat.cols.get(c).exists(cs =>
      cs.min.exists(mn => lt(v, mn)) || cs.max.exists(mx => gt(v, mx)))

  // -------- InSet skipping (dynamic file pruning's key-set filter) ----

  /** Sorted, normalized, null-free copy of an InSet's value set —
    * memoized per hset INSTANCE (weak keys: the cache dies with the
    * plan). None when any element normalizes outside the comparable
    * stat domain (mixed/unknown types → never skip). Null elements are
    * dropped: `x IN (…, NULL)` is never TRUE via the NULL, so a file
    * can be skipped on the non-null keys alone.
    */
  private val inSetCache =
    new java.util.WeakHashMap[AnyRef, Option[Array[Any]]]

  private def inSetSorted(i: InSet): Option[Array[Any]] =
    inSetCache.synchronized {
      val hit = inSetCache.get(i.hset)
      if (hit != null) return hit
      val norm = i.hset.iterator.map(normValue).filter(_ != null).toArray
      val comparable = norm.forall {
        case _: java.lang.Long | _: java.lang.Double => true
        case s: String => isAscii(s)
        case _ => false
      }
      // a homogeneous sortable domain is required for the binary
      // search; Long/Double mix still compares via cmp, but sorting
      // mixed arrays with a partial order is fragile — require one type
      val oneType = norm.map(_.getClass).distinct.length <= 1
      val res =
        if (!comparable || !oneType || norm.isEmpty) None
        else Some(norm.sortWith((a, b) => cmp(a, b).exists(_ < 0)))
      inSetCache.put(i.hset, res)
      res
    }

  /** True iff NO element of sorted `arr` falls inside the file's
    * [min,max] for column `c` — i.e. stats prove the set misses the
    * file. Missing stats keep the file (conservative).
    */
  private def noSetKeyInRange(arr: Array[Any], stat: FileStat,
                              c: String): Boolean =
    stat.cols.get(c).exists { cs =>
      (cs.min, cs.max) match {
        case (Some(mn), Some(mx)) =>
          // first element >= mn, via binary search over the total order
          var lo = 0; var hi = arr.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (lt(arr(mid), mn)) lo = mid + 1 else hi = mid
          }
          // skip iff no element >= mn, or the smallest such is > mx.
          // cmp=None (incomparable pairing) must KEEP the file.
          lo == arr.length ||
            cmp(arr(lo), mx).exists(_ > 0)
        case _ => false
      }
    }

  // -------- MERGE rewrite-scope helpers (ResourceTable upsert/delete) --

  /** Normalize a runtime value (from `Row.get`) into the stats compare
    * domain (Long/Double/String), mirroring parquet's stat encodings:
    * dates as epoch days, timestamps as epoch micros. Unknown types
    * stay as-is and fall out as incomparable (→ never skip).
    */
  private def normValue(v: Any): Any = v match {
    case b: java.lang.Byte => b.longValue
    case s: java.lang.Short => s.longValue
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
    case f: java.lang.Float => f.doubleValue
    case d: java.lang.Double => d.doubleValue
    case u: UTF8String => u.toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case t: java.time.Instant =>
      t.getEpochSecond * 1000000L + t.getNano / 1000
    case other => other
  }

  /** True iff stats PROVE no value of `keys` occurs in the file's
    * column `c` — every key sits outside the file's [min,max]. Missing
    * or poisoned stats, incomparable types, and null keys keep the file
    * (conservative).
    */
  def canSkipKeys(stat: FileStat, c: String, keys: Iterable[Any]): Boolean =
    keys.forall(k => outOfRange(stat, c, normValue(k)))

  /** True iff stats prove the file's `c` range and [lo, hi] are
    * disjoint. Null bounds (all-null batch keys) never skip.
    */
  def canSkipRange(stat: FileStat, c: String, lo: Any, hi: Any): Boolean = {
    val l = normValue(lo)
    val h = normValue(hi)
    l != null && h != null && stat.cols.get(c).exists(cs =>
      cs.min.exists(mn => lt(h, mn)) || cs.max.exists(mx => gt(l, mx)))
  }

  private def boundSkip(stat: FileStat, c: String)(f: Any => Boolean) =
    stat.cols.get(c).exists(_.max.exists(f))
  private def boundSkipMin(stat: FileStat, c: String)(f: Any => Boolean) =
    stat.cols.get(c).exists(_.min.exists(f))

  private def noNulls(stat: FileStat, c: String): Boolean =
    stat.cols.get(c).exists(_.numNulls.contains(0L))
  private def allNulls(stat: FileStat, c: String): Boolean =
    stat.cols.get(c).exists(_.numNulls.contains(stat.rows)) && stat.rows > 0

  /** startsWith(prefix): matching rows live in [prefix, nextPrefix).
    * Skip when the file's whole range is outside that interval.
    */
  private def prefixSkip(stat: FileStat, c: String, p: String): Boolean =
    stat.cols.get(c).exists { cs =>
      val below = cs.max.exists(mx => lt(mx, p))
      val above = nextPrefix(p).exists(np => cs.min.exists(mn => ge(mn, np)))
      below || above
    }

  private def nextPrefix(p: String): Option[String] = {
    if (!isAscii(p)) return None
    val chars = p.toCharArray
    var i = chars.length - 1
    while (i >= 0) {
      if (chars(i) < 0x7f) {
        chars(i) = (chars(i) + 1).toChar
        return Some(new String(chars, 0, i + 1))
      }
      i -= 1
    }
    None
  }
}
