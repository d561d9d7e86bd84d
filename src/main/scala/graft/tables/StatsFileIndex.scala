package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  BoundReference, Expression, Predicate => CatalystPredicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  PartitionDirectory}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** File-level data skipping for exported-log snapshots — the
  * delta-spark TahoeFileIndex pattern: the log already carries
  * per-file min/max/nullCount stats, so a selective predicate should
  * prune FILES at planning time, before any footer is opened. Catalyst
  * hands every scan's data filters to `FileIndex.listFiles`; files
  * whose stats prove the conjunction unsatisfiable are dropped via
  * [[FileStats.canSkip]] (conservative: missing/foreign-typed stats
  * keep the file). At 100 TB this is the difference between "open
  * every footer in the table" and "open the files the predicate can
  * touch" — the same stats discipline [[ResourceTable.read]] applies
  * to its own commit log, now on the delta-protocol read path.
  *
  * File sizes and modification times come from the log's add actions
  * (never a filesystem listing — O(0) FS calls to plan a scan, which
  * is also what makes snapshot reads consistent under concurrent
  * writers: the listing IS the log).
  *
  * Driver footprint: entries are consumed from a re-openable SOURCE
  * iterator, pruned AS THEY STREAM, and only survivors are ever
  * materialized (the delta TahoeLogFileIndex discipline — prune
  * against the log before building file entries, never after). The
  * Seq constructors wrap an in-memory file list (fine to ~10⁶ files,
  * the InMemoryFileIndex shape) — [[ResourceTable.readVersion]] hands
  * them the memoized commit's manifest. [[StatsFileIndex.streaming]]
  * takes a source that re-opens a [[FileStats.CommitStream]] (the same
  * commit parser) on every planning pass — readVersion's choice for a
  * body past `graft.manifest.streamPlanBytes` — so planning a filtered
  * read over a 10⁷-file manifest retains O(files the predicate
  * touches), not O(table).
  */
final class StatsFileIndex private (
    root: HPath,
    source: () => Iterator[(InternalRow, StatsFileIndex.Entry)],
    override val partitionSchema: StructType,
    sizeHint: Option[Long],
    extraPrune: Seq[Expression] => Option[HPath => Boolean])
    extends FileIndex {

  def this(root: HPath,
           partitions: Seq[(InternalRow, Seq[StatsFileIndex.Entry])],
           partitionSchema: StructType) =
    this(root,
      () => partitions.iterator.flatMap { case (row, es) =>
        es.iterator.map(row -> _)
      },
      partitionSchema,
      Some(partitions.iterator.flatMap(_._2).map(_.size).sum),
      StatsFileIndex.NoPrune)

  def this(root: HPath, files: Seq[StatsFileIndex.Entry]) =
    this(root, Seq((InternalRow.empty, files)), StructType(Nil))

  /** Same index with a membership-index hook: given the scan's pushed
    * data filters, an optional extra file-level KEEP predicate —
    * evaluated once per [[listFiles]], applied per entry after stats
    * pruning (a [[BloomIndex]] probe on the ResourceTable read path).
    */
  def withExtraPrune(
      f: Seq[Expression] => Option[HPath => Boolean]): StatsFileIndex =
    new StatsFileIndex(root, source, partitionSchema, sizeHint, f)

  /** Planning telemetry for the last [[listFiles]]: entries streamed
    * through vs entries materialized as FileStatus. The 1M-file spec
    * asserts materialized stays at survivor count while scanned covers
    * the whole manifest.
    */
  @volatile var lastScanned: Long = -1L
  @volatile var lastMaterialized: Long = -1L

  override def rootPaths: Seq[HPath] = Seq(root)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // partition-filter pruning is a CORRECTNESS duty for a custom
    // FileIndex: FileSourceStrategy does not re-apply partition-only
    // predicates after the scan (partition columns are not in the
    // files), so an unpruned group would return rows the filter
    // excludes. Bind by attribute name to the partitionSchema and
    // evaluate per row, exactly PartitioningAwareFileIndex's shape.
    val pred =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) None
      else {
        val bound = partitionFilters.reduce(
          org.apache.spark.sql.catalyst.expressions.And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType,
              partitionSchema(i).nullable)
        }
        val p = CatalystPredicate.createInterpreted(bound)
        p.initialize(0)
        Some(p)
      }
    // single pass: stream entries, drop partition-pruned rows and
    // stats-skipped files in flight, group survivors by run of the
    // (shared) partition-row instance — sources emit one group's
    // entries contiguously, so run-grouping preserves group structure
    // without holding anything beyond the survivors.
    // membership-index probe (when installed): one distributed index
    // scan up front, then an O(1) per-entry keep test in the stream
    val extraKeep: Option[HPath => Boolean] =
      if (dataFilters.isEmpty) None else extraPrune(dataFilters)
    var scanned = 0L
    val groups =
      scala.collection.mutable.ArrayBuffer
        .empty[(InternalRow, scala.collection.mutable.ArrayBuffer[FileStatus])]
    // distinct partition rows pruned by `pred`, kept so every surviving
    // group still appears (even if all its files were stats-skipped)
    var lastRow: InternalRow = null
    var lastRowKept = false
    source().foreach { case (row, e) =>
      scanned += 1
      if (!(row eq lastRow)) {
        lastRow = row
        lastRowKept = pred.forall(_.eval(row))
        if (lastRowKept)
          groups += ((row, scala.collection.mutable.ArrayBuffer.empty))
      }
      if (lastRowKept &&
          e.stats.forall(st => !dataFilters.exists(f =>
            FileStats.canSkip(f, st))) &&
          extraKeep.forall(_(e.path)))
        groups.last._2 += new FileStatus(
          e.size, false, 1, 128L * 1024 * 1024, e.modTime, e.path)
    }
    lastScanned = scanned
    lastMaterialized = groups.iterator.map(_._2.size.toLong).sum
    groups.iterator
      .map { case (row, fs) => PartitionDirectory(row, fs.toArray) }
      .toSeq
  }

  override def inputFiles: Array[String] =
    source().map(_._2.path.toString).toArray

  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long =
    sizeHint.getOrElse(source().map(_._2.size).sum)

  /** Exact PHYSICAL row total of the index's files, when every entry
    * carries parsed stats — the metadata-only COUNT(*) answer for an
    * unfiltered scan of this index (deletion-vector row drops happen
    * ABOVE the scan in the plan, so a bare scan really does emit the
    * physical rows; plans with a DV anti-join never match the
    * count-star rewrite anyway). `None` if any entry's stats are
    * missing — unknowable, never guessed. One manifest pass, no IO.
    */
  lazy val exactRowCount: Option[Long] = {
    var total = 0L
    var unknown = false
    val it = source()
    while (it.hasNext && !unknown) {
      it.next()._2.stats match {
        // rows < 0 is fromDeltaStats' unknown-count sentinel (a
        // foreign add whose stats carry min/max but no numRecords) —
        // unknowable, never guessed
        case Some(st) if st.rows >= 0 => total += st.rows
        case _ => unknown = true
      }
    }
    if (unknown) None else Some(total)
  }

  /** Exact PHYSICAL row count per distinct partition value — the
    * metadata-only `GROUP BY partition-cols COUNT(*)` answer (Delta's
    * OptimizeMetadataOnlyQuery does the same for partition queries).
    * One manifest pass, keys compared structurally (UTF8String et al
    * have value equality; partition types are atomic). None when the
    * index is unpartitioned or any entry's stats are missing. The DV
    * caveat matches [[exactRowCount]]: DV row drops plan ABOVE the
    * scan, so a bare partitioned scan really emits physical rows.
    */
  def exactPartitionCounts: Option[Seq[(InternalRow, Long)]] = {
    if (partitionSchema.isEmpty) return None
    val types = partitionSchema.map(_.dataType).toSeq
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], (InternalRow, Long)]
    val it = source()
    while (it.hasNext) {
      val (row, e) = it.next()
      val st = e.stats.getOrElse(return None)
      if (st.rows < 0) return None // unknown-count sentinel
      // the source reuses one row reference across consecutive
      // entries — key structurally, copy once per distinct group
      val key = row.toSeq(types).toIndexedSeq
      acc.get(key) match {
        case Some((r, c)) => acc(key) = (r, c + st.rows)
        case None => acc(key) = (row.copy(), st.rows)
      }
    }
    Some(acc.values.toSeq)
  }

  /** Exact MIN/MAX of `column` across the index's files, when
    * PROVABLE: every file carries the column's numeric (Long/Double)
    * stats and none carries a deletion vector (a DV may have killed
    * the extremal row). `Some((null, null))` = provably all-null.
    * Same trust boundary as [[graft.tables.ResourceTable.statsMinMax]];
    * string stats refuse (writers may truncate them).
    */
  def exactMinMax(column: String): Option[(Any, Any)] = {
    var mn: Any = null
    var mx: Any = null
    val it = source()
    while (it.hasNext) {
      val st = it.next()._2.stats.getOrElse(return None)
      if (st.dv.isDefined) return None
      st.cols.get(column) match {
        case None => return None
        case Some(cs) => (cs.min, cs.max) match {
          // absent min/max is all-null ONLY when the null count proves
          // it (nullCount == rows) — stats can legitimately omit
          // min/max for a column that HAS values (foreign writers
          // recording only nullCount, string chunks over the stats
          // size cap), and treating those as "no values" would rewrite
          // MIN/MAX to NULL over real data
          case (None, None) =>
            if (!cs.numNulls.contains(st.rows) || st.rows <= 0)
              return None
          case (Some(a @ (_: Long | _: Double)),
                Some(b @ (_: Long | _: Double))) =>
            if (mn == null || FileStats.cmp(a, mn).exists(_ < 0)) mn = a
            if (mx == null || FileStats.cmp(b, mx).exists(_ > 0)) mx = b
          case _ => return None
        }
      }
    }
    Some((mn, mx))
  }
}

object StatsFileIndex {
  /** One live file: qualified path + the add action's size/modTime and
    * parsed stats (None → never skipped).
    */
  final case class Entry(path: HPath, size: Long, modTime: Long,
                         stats: Option[FileStats.FileStat])

  /** Index over a re-openable streaming entry source (unpartitioned).
    * Each planning pass re-opens the source and holds one entry at a
    * time; survivors of stats pruning are the only thing materialized.
    * `sizeHint` (when the caller already knows total bytes, e.g. from a
    * checkpoint summary) avoids the extra stream pass `sizeInBytes`
    * would otherwise cost.
    */
  def streaming(root: HPath, source: () => Iterator[Entry],
                sizeHint: Option[Long] = None): StatsFileIndex = {
    val row = InternalRow.empty
    new StatsFileIndex(root, () => source().map(row -> _),
      StructType(Nil), sizeHint, NoPrune)
  }

  /** Default extra-prune hook: never prunes. */
  val NoPrune: Seq[Expression] => Option[HPath => Boolean] = _ => None

  /** File sources cannot trust declared non-nullability: a file
    * written before a schema evolution legitimately lacks the evolved
    * columns, and the vectorized reader ERRORS on a missing column
    * whose requested field is non-nullable instead of null-filling.
    * `spark.read.schema(...)` applies exactly this relaxation
    * implicitly; a hand-built HadoopFsRelation must do it explicitly.
    */
  def relaxNullability(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(
        elementType = relaxNullability(a.elementType), containsNull = true)
      case m: MapType => m.copy(
        valueType = relaxNullability(m.valueType), valueContainsNull = true)
      case o => o
    }
  }

  private val mapper = new ObjectMapper()

  /** Delta-spec per-file stats JSON (`{"numRecords":N,"minValues":{},
    * "maxValues":{},"nullCount":{}}`, PROTOCOL.md "Per-file
    * Statistics") → the [[FileStats.FileStat]] compare domain. Only
    * top-level scalar columns translate; nested stats objects and
    * unparseable bodies yield conservative absences. Delta's
    * truncated string maxValues end in a non-ASCII tie-breaker char,
    * which [[FileStats.cmp]] already treats as incomparable — never
    * an unsound skip.
    */
  def fromDeltaStats(json: String): Option[FileStats.FileStat] =
    try {
      val n = mapper.readTree(json)
      // -1 = numRecords absent (legal partial stats from foreign
      // writers): min/max/nullCount still serve file skipping, but
      // every exact-count consumer (exactRowCount,
      // exactPartitionCounts, exactMinMax's all-null proof) treats a
      // negative count as unknowable
      val rows = Option(n.get("numRecords")).map(_.asLong).getOrElse(-1L)
      def obj(k: String) = Option(n.get(k)).filter(_.isObject)
      val mins = obj("minValues")
      val maxs = obj("maxValues")
      val nulls = obj("nullCount")
      def scalar(o: Option[com.fasterxml.jackson.databind.JsonNode],
                 c: String): Option[Any] =
        o.flatMap(x => Option(x.get(c)))
          .filter(v => !v.isObject && !v.isNull)
          .map {
            case v if v.isIntegralNumber => v.asLong: Any
            case v if v.isFloatingPointNumber => v.asDouble: Any
            case v if v.isBoolean => v.asBoolean: Any
            case v => v.asText: Any
          }
      val names =
        (mins.toSeq ++ maxs.toSeq ++ nulls.toSeq)
          .flatMap(_.fields().asScala.map(_.getKey)).distinct
      val cols = names.map { c =>
        c -> FileStats.ColStats(
          scalar(mins, c), scalar(maxs, c),
          nulls.flatMap(x => Option(x.get(c)))
            .filter(v => v.isIntegralNumber).map(_.asLong))
      }.toMap
      Some(FileStats.FileStat(rows, cols, None))
    } catch { case NonFatal(_) => None }
}
