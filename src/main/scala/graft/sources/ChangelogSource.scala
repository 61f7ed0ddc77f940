package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import scala.language.existentials
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** `graft-changelog` — a DataSource V2 micro-batch streaming source that
  * replays a parquet-backed changelog in monotone offset ranges.
  *
  * This is the in-repo stand-in for the reference's Oracle AQ/JMS dequeue
  * boundary (O10, jms_publisher.clj:169-194), redesigned for Spark's pull
  * model (SURVEY.md §1.3): instead of a push listener with ack/redelivery,
  * the source polls the changelog's max offset per trigger, plans the
  * (start, end] range as parallel partition reads, and relies on
  * checkpointed offsets for exactly-once range accounting — the same
  * replayable-source + checkpoint contract that replaces JMS no-ack
  * redelivery. Admission control (`maxRowsPerBatch`) mirrors the
  * reference's channel-buffer backpressure (jms_publisher.clj:207).
  *
  * Options: `path` (parquet file/dir), `offsetColumn` (monotone BIGINT,
  * default `event_id`), `valueColumn` (payload, default `props`),
  * `maxRowsPerBatch` (admission control, default unlimited; a TARGET,
  * not a strict cap — batch ends snap to parquet row-group boundaries,
  * so one batch can admit up to a whole row group past the configured
  * value when a single group exceeds it; size executor memory for
  * max(maxRowsPerBatch, largest row group), see
  * [[ChangelogMicroBatchStream.latestOffset]]),
  * `numPartitions` (range splits per batch, default 4). Files are reached
  * through the session's Hadoop conf plus these options (see
  * [[ChangelogConfig]]).
  *
  * Emitted schema: (offset BIGINT, value STRING).
  */
class ChangelogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-changelog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ChangelogSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ChangelogTable(new CaseInsensitiveStringMap(properties))
}

object ChangelogSource {
  val Schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType)))

  /** One row group's offset bounds and row count — the storage ATOM of
    * the changelog: parquet decodes whole row groups, so batch admission
    * and partition planning align to these boundaries; any range cut
    * inside a group re-decodes it per reader.
    *
    * When the writer emitted column+offset indexes for the offset column,
    * `pages` carries the PAGE-level bounds inside the group — then the
    * page becomes the atom: the reader's pushed range predicate prunes at
    * page granularity (ColumnIndexFilter), so a cut at a page edge
    * decodes no page twice, and admission can honor a ReadMaxRows budget
    * far below the group size. Files without indexes keep the group atom
    * (empty `pages`). */
  final case class GroupMeta(minOff: Long, maxOff: Long, rows: Long,
                             pages: Seq[GroupMeta] = Nil) extends Serializable

  /** The admission/planning atoms of a file set: pages where the writer
    * emitted indexes, whole row groups otherwise. */
  def atomsOf(metas: Seq[FileMeta]): Seq[GroupMeta] =
    metas.flatMap(_.groups.flatMap(g => if (g.pages.nonEmpty) g.pages else Seq(g)))

  /** Sorted distinct atom end-offsets that are an atom boundary in EVERY
    * overlapping file — cutting a range at one of these decodes no atom
    * twice. Computed by a single sweep over the atoms sorted by minOff
    * with a running max end: candidate `b` lies inside some atom iff an
    * atom starting at or before `b` ends after it. O(n log n) in the atom
    * count; the per-candidate `exists` scan this replaces was O(n²) per
    * trigger, a multi-second driver stall at ~50k page atoms
    * (1e9 rows / default ~20k-row pages). */
  def admissibleBoundaries(atoms: Seq[GroupMeta]): Array[Long] = {
    if (atoms.isEmpty) return Array.empty
    val byMin = atoms.sortBy(_.minOff)
    val cands = atoms.map(_.maxOff).distinct.sorted.toArray
    val out = Array.newBuilder[Long]
    var i = 0
    var maxEnd = Long.MinValue
    cands.foreach { b =>
      while (i < byMin.length && byMin(i).minOff <= b) {
        maxEnd = math.max(maxEnd, byMin(i).maxOff); i += 1
      }
      if (maxEnd <= b) out += b
    }
    out.result()
  }

  /** Everything a single footer read yields: offset-column row-group bounds
    * plus the column shape and byte length the executor reader needs to
    * open its cursor. Serializable — shipped to executors inside
    * ChangelogInputPartition so the reader never re-opens the footer (or
    * even stats the file) for a metadata sniff. */
  final case class FileMeta(path: String, len: Long, minOff: Long, maxOff: Long,
                            offInt64: Boolean, valUtf8: Boolean,
                            groups: Seq[GroupMeta] = Nil) extends Serializable

  /** Driver-side footer cache keyed by (path -> len, mtime). A changelog
    * segment file is immutable once written; a replaced/appended file gets
    * a new (len, mtime) and is re-read. Size is bounded by the number of
    * live files: entries are stored per path, stale versions overwritten.
    * Without this, every trigger paid O(files) footer opens THREE times
    * (latestOffset poll, reportLatestOffset, planInputPartitions) — at the
    * many-segment-file scale the pruning targets, metadata reads dominated
    * the batch. */
  private val metaCache = new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), FileMeta)]()

  /** Footer metadata for every data file under cfg.path, served from the
    * cache when (len, mtime) is unchanged. Files whose offset column has no
    * populated row group are dropped (empty segments). */
  def fileMetas(cfg: ChangelogConfig): Seq[FileMeta] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val root = new Path(cfg.path)
    val conf = cfg.hadoopConf.value
    val fs = FileSystem.get(root.toUri, conf)
    val statuses =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).filter(s => s.getPath.getName.endsWith(".parquet")).toSeq
      else Seq(fs.getFileStatus(root))
    statuses.flatMap { st =>
      val key = st.getPath.toString
      val stamp = (st.getLen, st.getModificationTime)
      val cached = metaCache.get(key)
      if (cached != null && cached._1 == stamp) Some(cached._2).filter(_.minOff != Long.MaxValue)
      else {
        var mn = Long.MaxValue
        var mx = Long.MinValue
        val groups = scala.collection.mutable.ArrayBuffer[GroupMeta]()
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        val meta = try {
          // page atoms are only USEFUL when the read path can push the
          // range predicate (the INT64 vectorized/filtered cursors): the
          // non-filterable fallback decodes the whole file per batch, so
          // finer admission atoms would MULTIPLY the re-decode instead of
          // preventing it — gate page emission on the same condition that
          // selects a filterable cursor
          val pageCapable = {
            val schema0 = reader.getFooter.getFileMetaData.getSchema
            schema0.containsField(cfg.offsetColumn) &&
              schema0.getType(schema0.getFieldIndex(cfg.offsetColumn))
                .asPrimitiveType().getPrimitiveTypeName == PrimitiveTypeName.INT64
          }
          reader.getFooter.getBlocks.asScala.foreach { block =>
            block.getColumns.asScala
              .filter(_.getPath.toDotString == cfg.offsetColumn)
              .foreach { c =>
                val s = c.getStatistics
                require(s != null && s.hasNonNullValue,
                  s"offset column ${cfg.offsetColumn} has no parquet statistics in $key")
                (s.genericGetMin, s.genericGetMax) match {
                  case (lo: Number, hi: Number) =>
                    mn = math.min(mn, lo.longValue()); mx = math.max(mx, hi.longValue())
                    // page atoms from the column+offset indexes, when the
                    // writer emitted them; one page without stats (null
                    // page) voids the whole group's page list — atoms must
                    // tile the group or admission could cut inside an
                    // unaccounted page
                    val pages: Seq[GroupMeta] = try {
                      if (!pageCapable) Nil
                      else {
                      val ci = reader.readColumnIndex(c)
                      val oi = reader.readOffsetIndex(c)
                      if (ci == null || oi == null) Nil
                      else {
                        val nulls = ci.getNullPages
                        val mins = ci.getMinValues
                        val maxs = ci.getMaxValues
                        val n = oi.getPageCount
                        def dec(bb: java.nio.ByteBuffer): Long = {
                          val b = bb.duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN)
                          if (b.remaining() >= 8) b.getLong else b.getInt.toLong
                        }
                        if ((0 until n).exists(nulls.get(_))) Nil
                        else (0 until n).map { i =>
                          val rows =
                            (if (i + 1 < n) oi.getFirstRowIndex(i + 1) else block.getRowCount) -
                              oi.getFirstRowIndex(i)
                          GroupMeta(dec(mins.get(i)), dec(maxs.get(i)), rows)
                        }
                      }
                      }
                    } catch { case _: Throwable => Nil }
                    groups += GroupMeta(lo.longValue(), hi.longValue(), block.getRowCount, pages)
                  case other =>
                    throw new IllegalArgumentException(
                      s"offset column ${cfg.offsetColumn} is not numeric: $other")
                }
              }
          }
          val schema = reader.getFooter.getFileMetaData.getSchema
          def prim(name: String) =
            if (schema.containsField(name)) Some(schema.getType(schema.getFieldIndex(name)).asPrimitiveType())
            else None
          val offInt64 = prim(cfg.offsetColumn).exists(_.getPrimitiveTypeName == PrimitiveTypeName.INT64)
          val valUtf8 = prim(cfg.valueColumn).exists(p =>
            p.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
              p.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType())
          FileMeta(key, st.getLen, mn, mx, offInt64, valUtf8, groups.toSeq)
        } finally reader.close()
        metaCache.put(key, (stamp, meta))
        Some(meta).filter(_.minOff != Long.MaxValue)
      }
    }
  }
}

/** The source's options plus the Hadoop conf every file access uses: the
  * driver's footer reads and the executors' cursors. [[ChangelogTable]]
  * takes it from the session once, so `spark.hadoop.*`, session Hadoop
  * settings (filesystem implementations, credentials) and the read's own
  * options reach the source; a config built by hand defaults to the
  * Hadoop defaults. Readers copy it per cursor, never mutate it. */
final case class ChangelogConfig(path: String, offsetColumn: String, valueColumn: String,
                                 maxRowsPerBatch: Long, numPartitions: Int,
                                 hadoopConf: SerializableConfiguration =
                                   new SerializableConfiguration(new Configuration()))
    extends Serializable

class ChangelogTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val cfg = ChangelogConfig(
    path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-changelog requires a 'path' option")),
    offsetColumn = options.getOrDefault("offsetColumn", "event_id"),
    valueColumn = options.getOrDefault("valueColumn", "props"),
    maxRowsPerBatch = options.getLong("maxRowsPerBatch", Long.MaxValue),
    numPartitions = options.getInt("numPartitions", 4),
    hadoopConf = new SerializableConfiguration(SparkSession.active.sessionState
      .newHadoopConfWithOptions(options.asCaseSensitiveMap().asScala.toMap)))
  require(cfg.numPartitions >= 1,
    s"graft-changelog numPartitions must be >= 1, got ${cfg.numPartitions}")
  require(cfg.maxRowsPerBatch >= 1,
    s"graft-changelog maxRowsPerBatch must be >= 1, got ${cfg.maxRowsPerBatch}")

  override def name(): String = s"graft-changelog(${cfg.path})"
  override def schema(): StructType = ChangelogSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder { override def build(): Scan = new ChangelogScan(cfg) }
}

class ChangelogScan(cfg: ChangelogConfig) extends Scan {
  override def readSchema(): StructType = ChangelogSource.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangelogMicroBatchStream(cfg)
  override def toBatch: Batch = new Batch {
    private val bounds = ChangelogMicroBatchStream.offsetBounds(cfg)
    override def planInputPartitions(): Array[InputPartition] =
      ChangelogMicroBatchStream.splitRange(cfg, bounds._1 - 1, bounds._2)
    override def createReaderFactory(): PartitionReaderFactory = new ChangelogReaderFactory(cfg)
  }
}

/** Offset = highest replayed value of the offset column. */
case class ChangelogOffset(last: Long) extends Offset {
  override def json(): String = last.toString
}

object ChangelogMicroBatchStream {
  /** (min, max) across the whole changelog — the micro-batch analogue of an
    * AQ poll. Served from the driver-side footer cache: a steady-state
    * trigger re-reads only the footers of files whose (len, mtime) changed
    * since the last poll, so the poll cost is O(new files), not O(files). */
  def offsetBounds(cfg: ChangelogConfig): (Long, Long) = {
    val b = ChangelogSource.fileMetas(cfg)
    if (b.isEmpty) (0L, -1L) else (b.map(_.minOff).min, b.map(_.maxOff).max)
  }

  /** Split (start, end] into up to numPartitions contiguous ranges CUT AT
    * ROW-GROUP BOUNDARIES, each carrying ONLY the files whose footer
    * offset range overlaps it — a reader never opens a file that cannot
    * contain its rows (at scale a changelog dir holds many compacted
    * segment files and each batch touches a recent suffix of them).
    *
    * Cutting at group boundaries matters for the same reason admission
    * snaps to them ([[ChangelogMicroBatchStream.latestOffset]]): an
    * arithmetic cut inside a group makes EVERY partition whose range
    * touches that group decode it fully (no page indexes → the range
    * predicate prunes at group granularity only) — with one big group,
    * numPartitions× decode amplification. Here each atom lands in exactly
    * one partition, ranges are balanced by ROW COUNT (not offset span, so
    * skewed segment sizes still split evenly), and a single-group file
    * yields a single partition that decodes the group once.
    *
    * Ranges with no overlapping file are dropped outright. Each partition
    * ships the full FileMeta (bounds, column shape, byte length) so
    * executors open the data pages directly with zero metadata
    * round-trips. The clamp to >= 1 guards a non-positive numPartitions
    * reaching this from a hand-built config: zero partitions would
    * silently drop the batch while the checkpoint advanced past it. */
  def splitRange(cfg: ChangelogConfig, start: Long, end: Long): Array[InputPartition] = {
    if (end <= start) return Array.empty
    val metas = ChangelogSource.fileMetas(cfg)
    val n = math.max(1L, math.min(cfg.numPartitions.toLong, end - start)).toInt
    // atoms overlapping (start, end], as (cut boundary, weight): the cut
    // candidate is the atom's max offset (pages where indexed, else row
    // groups — page-edge cuts are safe for the same no-re-decode reason:
    // the reader's range predicate prunes at page granularity); weight
    // its row count
    val atoms = ChangelogSource.atomsOf(metas)
      .filter(g => g.maxOff > start && g.minOff <= end)
      .sortBy(_.maxOff)
    val boundaries: Seq[Long] =
      if (atoms.isEmpty) {
        // no group metadata (legacy cache entries): arithmetic split
        val step = (end - start) / n
        (1 until n).map(i => start + i.toLong * step)
      } else {
        // greedy row-balanced cuts at group boundaries strictly inside the
        // range. A cut is only usable if it is a boundary in EVERY
        // overlapping file — segment files with interleaved offset ranges
        // are legal here, and a cut inside another file's group would put
        // that group in two partitions (the decode amplification this
        // split exists to avoid); with the usual disjoint segment layout
        // every boundary passes. Membership via binary search over the
        // precomputed sorted set (the inline exists-scan was O(atoms²)).
        val admissible = ChangelogSource.admissibleBoundaries(atoms)
        def atomBoundaryEverywhere(b: Long): Boolean =
          java.util.Arrays.binarySearch(admissible, b) >= 0
        val target = math.max(1L, atoms.map(_.rows).sum / n)
        var acc = 0L
        val cuts = scala.collection.mutable.ArrayBuffer[Long]()
        atoms.foreach { g =>
          acc += g.rows
          if (acc >= target && g.maxOff < end && cuts.length < n - 1 &&
              atomBoundaryEverywhere(g.maxOff)) {
            cuts += g.maxOff
            acc = 0L
          }
        }
        cuts.toSeq
      }
    val edges = (start +: boundaries.distinct.sorted) :+ end
    edges.sliding(2).flatMap { case Seq(lo, hi) if hi > lo =>
      // file [mn, mx] overlaps range (lo, hi] iff mn <= hi && mx > lo
      val files = metas.filter(m => m.minOff <= hi && m.maxOff > lo)
      if (files.isEmpty) None
      else Some(ChangelogInputPartition(lo, hi, files): InputPartition)
    case _ => None
    }.toArray
  }
}

class ChangelogMicroBatchStream(cfg: ChangelogConfig)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import ChangelogMicroBatchStream._

  /** Fixed end offset for Trigger.AvailableNow: captured once so the run
    * drains exactly the log contents present at start, in rate-limited
    * batches, then stops. */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(offsetBounds(cfg)._2)

  private def currentMax: Long = availableNowEnd.getOrElse(offsetBounds(cfg)._2)

  override def initialOffset(): Offset = ChangelogOffset(offsetBounds(cfg)._1 - 1)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(Offset, ReadLimit)")

  override def getDefaultReadLimit: ReadLimit =
    if (cfg.maxRowsPerBatch == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(cfg.maxRowsPerBatch)

  override def reportLatestOffset(): Offset = ChangelogOffset(currentMax)

  /** Advance at most ~maxRows offsets past `start`, SNAPPED to a storage-
    * atom boundary: parquet decodes whole atoms (PAGES when the writer
    * emitted column indexes — the reader's pushed range predicate prunes
    * at page granularity — else whole row groups), so an end offset
    * inside an atom would make this batch AND the next one decode it —
    * O(batches) re-reads of the same bytes on a coarse-grained file
    * (measured 10× throughput loss on a single-group changelog).
    * `maxRowsPerBatch` is therefore a TARGET rounded to the storage atom,
    * the same semantics as the file source's whole-file admission: the
    * end snaps DOWN to the largest atom boundary within the budget, or UP
    * to the first boundary past `from` when a single atom exceeds the
    * budget (progress requires at least one whole atom). On indexed files
    * the atom is a page (default writers: ≤20k rows), so the overshoot is
    * bounded by one page, not one row group. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ChangelogOffset].last
    val avail = currentMax
    limit match {
      case mr: ReadMaxRows =>
        val proposed = math.min(avail, from + mr.maxRows())
        // page atoms where the writer emitted column indexes (sub-group
        // admission — the pushed range predicate prunes unread pages),
        // whole row groups otherwise
        val atoms = ChangelogSource.atomsOf(ChangelogSource.fileMetas(cfg))
        // a candidate end is PREFERRED when it is an atom boundary in
        // EVERY overlapping file (precomputed sorted sweep — see
        // admissibleBoundaries): with interleaved segment offset ranges,
        // a cut that is one file's atom edge can still land inside
        // ANOTHER file's atom, which this batch and the next would then
        // both decode. That preference is subordinate to BOUNDED
        // admission: overshoot past the budget never exceeds one atom.
        val admissible = ChangelogSource.admissibleBoundaries(atoms).filter(_ > from)
        val allBounds = atoms.map(_.maxOff).filter(_ > from)
        val end =
          if (allBounds.isEmpty) proposed // no group metadata (legacy cache entries)
          else {
            val under = admissible.filter(_ <= proposed)
            if (under.nonEmpty) under.last // sorted ascending → max
            else {
              // No everywhere-admissible boundary within the budget. The
              // smallest one qualifies only when it is no farther than
              // the first per-file atom end past the budget (the
              // single-oversized-atom snap-up the Scaladoc documents);
              // otherwise fall back to per-file snapping — largest
              // per-file atom end within budget, else the first past
              // `from`. A per-file cut can land inside an OVERLAPPING
              // file's atom (that atom is decoded by this batch and the
              // next — a bounded decode cost); snapping to a far-away
              // everywhere boundary instead would admit an unbounded
              // backlog in one batch (a compacted single-group segment
              // overlapping its fine-grained sources vetoes every
              // interior boundary, collapsing `admissible` to the global
              // max — executor OOM, not a decode stall).
              val oneAtomUp = allBounds.filter(_ > proposed).minOption.getOrElse(avail)
              admissible.headOption match {
                case Some(e) if e <= oneAtomUp => e
                case _ =>
                  val perFileUnder = allBounds.filter(_ <= proposed)
                  if (perFileUnder.nonEmpty) perFileUnder.max else oneAtomUp
              }
            }
          }
        ChangelogOffset(math.min(end, avail))
      case _ => ChangelogOffset(avail)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    splitRange(cfg, start.asInstanceOf[ChangelogOffset].last, end.asInstanceOf[ChangelogOffset].last)

  override def createReaderFactory(): PartitionReaderFactory = new ChangelogReaderFactory(cfg)
  override def deserializeOffset(json: String): Offset = ChangelogOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class ChangelogInputPartition(lo: Long, hi: Long,
                                   files: Seq[ChangelogSource.FileMeta]) extends InputPartition

class ChangelogReaderFactory(cfg: ChangelogConfig) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangelogInputPartition]
    new ChangelogPartitionReader(cfg, p.lo, p.hi, p.files)
  }
}

/** Executor-side reader: emits (offset, value) rows with lo < offset <= hi.
  *
  * Fast path: Spark's own vectorized parquet reader
  * (`VectorizedParquetRecordReader`) with (a) the schema clipped to the two
  * requested columns — no other column is decoded — and (b) the offset
  * range pushed as a parquet filter predicate, so row groups (and, with
  * column indexes, pages) whose statistics fall outside (lo, hi] are
  * skipped without decoding. Rows are served out of the reader's columnar
  * batch with no per-row materialization; a residual range check handles
  * row-group granularity. This path requires the changelog layout the
  * source documents: INT64 offset column, BINARY(UTF8) value column.
  *
  * Any other file shape (INT32 offsets, non-string payloads) falls back to
  * the row-at-a-time parquet-hadoop Group reader — same row-group filter
  * pushdown where the types allow, full-row decode otherwise.
  */
class ChangelogPartitionReader(cfg: ChangelogConfig, lo: Long, hi: Long,
                               assignedFiles: Seq[ChangelogSource.FileMeta]) extends PartitionReader[InternalRow] {
  import org.apache.parquet.filter2.compat.FilterCompat
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader

  private val files = assignedFiles.iterator
  private var cursor: Cursor = _
  private var current: InternalRow = _

  /** Per-file row cursor: null row = exhausted. */
  private sealed trait Cursor { def nextRow(): InternalRow; def close(): Unit }

  private def rangePredicate: FilterPredicate = FilterApi.and(
    FilterApi.gt(FilterApi.longColumn(cfg.offsetColumn), java.lang.Long.valueOf(lo)),
    FilterApi.ltEq(FilterApi.longColumn(cfg.offsetColumn), java.lang.Long.valueOf(hi)))

  /** Spark's vectorized columnar reader over just (offsetColumn,
    * valueColumn), offset range pushed as a row-group/page filter. The
    * emitted rows are views into the current columnar batch — valid until
    * the next `nextRow()` call, per the PartitionReader contract.
    *
    * The offset column is requested as NULLABLE even though the source
    * contract says it never is: footer statistics only prove at least one
    * non-null value exists per row group, so a contract-violating file with
    * some null offsets must surface as a loud error in the residual check
    * (next()), not as getLong over an undefined slot silently mis-filtering
    * rows. */
  private final class VectorizedCursor(meta: ChangelogSource.FileMeta) extends Cursor {
    private val reader: VectorizedParquetRecordReader = {
      val conf = new Configuration(cfg.hadoopConf.value)
      val requested = StructType(Seq(
        StructField(cfg.offsetColumn, LongType, nullable = true),
        StructField(cfg.valueColumn, StringType)))
      // the conf keys ParquetReadSupport/SpecificParquetRecordReaderBase
      // read during initialize (same wiring ParquetFileFormat does);
      // ParquetToSparkSchemaConverter reads the SQLConf keys with no
      // default, so each must be present in the Configuration
      import org.apache.spark.sql.internal.SQLConf
      conf.set("org.apache.spark.sql.parquet.row.requested_schema", requested.json)
      conf.set("parquet.read.support.class",
        "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
      conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
      conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
      conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
      conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
      conf.set(SQLConf.CASE_SENSITIVE.key, "false")
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, rangePredicate)
      val p = new Path(meta.path)
      // mapred.FileSplit extends the mapreduce one and is what
      // SpecificParquetRecordReaderBase.initialize casts the split to;
      // the byte length rides in from the driver's footer cache
      val split = new org.apache.hadoop.mapred.FileSplit(p, 0, meta.len, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
      val r = new VectorizedParquetRecordReader(
        java.time.ZoneId.of("UTC"), "CORRECTED", "UTC", "CORRECTED", "UTC",
        /* useOffHeap = */ false, /* capacity = */ 4096)
      try {
        r.initialize(split, ctx)
        r.initBatch(new StructType(), InternalRow.empty)
      } catch { case t: Throwable => r.close(); throw t }
      r
    }
    override def nextRow(): InternalRow =
      if (reader.nextKeyValue()) reader.getCurrentValue.asInstanceOf[InternalRow] else null
    override def close(): Unit = reader.close()
  }

  /** Row-at-a-time Group-API fallback for non-standard column shapes. */
  private final class GroupCursor(meta: ChangelogSource.FileMeta, filterable: Boolean) extends Cursor {
    @annotation.nowarn("cat=deprecation")
    private val builder = ParquetReader.builder(new GroupReadSupport(), new Path(meta.path))
      .withConf(new Configuration(cfg.hadoopConf.value))
    private val reader: ParquetReader[Group] =
      (if (filterable) builder.withFilter(FilterCompat.get(rangePredicate)) else builder).build()
    override def nextRow(): InternalRow = {
      val g = reader.read()
      if (g == null) return null
      val schema = g.getType
      val offIdx = schema.getFieldIndex(cfg.offsetColumn)
      val off = schema.getType(offIdx).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveTypeName.INT32 => g.getInteger(offIdx, 0).toLong
        case _                       => g.getLong(offIdx, 0)
      }
      val valIdx = schema.getFieldIndex(cfg.valueColumn)
      val value = if (g.getFieldRepetitionCount(valIdx) == 0) null
        else UTF8String.fromString(g.getValueToString(valIdx, 0))
      new GenericInternalRow(Array[Any](off, value))
    }
    override def close(): Unit = reader.close()
  }

  /** Cursor choice comes straight from the shipped FileMeta — the column
    * shape was sniffed once on the driver (cached per (len, mtime)), so the
    * executor opens data pages with no metadata round-trip of its own.
    * Sniffed per file because a changelog dir may mix column shapes across
    * files, and applying an INT64 filter to an INT32 file is a parquet type
    * error. */
  private def openCursor(meta: ChangelogSource.FileMeta): Cursor =
    if (meta.offInt64 && meta.valUtf8) new VectorizedCursor(meta)
    else new GroupCursor(meta, filterable = meta.offInt64)

  override def next(): Boolean = {
    while (true) {
      if (cursor == null) {
        if (!files.hasNext) return false
        cursor = openCursor(files.next())
      }
      val r = cursor.nextRow()
      if (r == null) { cursor.close(); cursor = null }
      else if (r.isNullAt(0)) {
        throw new IllegalStateException(
          s"graft-changelog: null value in offset column ${cfg.offsetColumn} " +
            "— the changelog contract requires a non-null monotone offset per row")
      } else {
        val off = r.getLong(0)
        if (off > lo && off <= hi) { current = r; return true }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (cursor != null) { cursor.close(); cursor = null }
}
