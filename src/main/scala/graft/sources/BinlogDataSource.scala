package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.{BinlogBinaryParser, ParsedBinlogEvent}

/** DataSourceV2 connector for raw MySQL binlog binary files — the custom
  * file-format route SURVEY §7.6 reserves for this source:
  *
  *   spark.read.format("binlog").load("/path/to/binlogs")
  *
  * (registered via DataSourceRegister; the full class name works too).
  *
  * Layout: the decode is stateful within a file (TABLE_MAP/GTID
  * association), so the file is the unit of work; binlog files are
  * bounded by max_binlog_size, so at 100 TB the fan-out is the file
  * count. A batch read packs small whole files into per-core splits by
  * Spark's file-source rule ([[FileScan.packed]]; a binlog file is never
  * cut); a stream reads one partition per file; with a `splitIndex` every
  * read gets one partition per transaction-aligned byte range, never
  * packed. This is
  * the one binlog binary scan: the CLI's
  * `--binlog-binary` input and [[BinlogBinaryParser.parse]]'s typed view
  * both read through it. Column pruning is pushed into the reader:
  * unprojected columns are never materialized into rows.
  */
class BinlogDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "binlog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BinlogDataSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // a removed knob fails loudly: silently ignoring it would hand a user
    // who asked to survive purges whatever stream the other options pick
    require(!properties.keySet.asScala.exists(_.equalsIgnoreCase("purgeSafe")),
      "the binlog source's purgeSafe option is gone: tail offsets are " +
        "always keyed by the file's own suffix and survive retention — " +
        "use tailActive=true")
    new BinlogTable(FileScan.resolvePaths(properties),
      Option(properties.get("maxFilesPerTrigger")).map(_.toInt),
      Option(properties.get("splitIndex")),
      Option(properties.get("splitIndexAutoBuild")).exists(_.toBoolean),
      Option(properties.get("splitBytes")).map(_.toLong),
      Option(properties.get("tailActive")).exists(_.toBoolean),
      Option(properties.get("maxBytesPerTrigger")).map(_.toLong))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object BinlogDataSource {
  /** The event schema — ParsedBinlogEvent flattened, `extra` as a map. */
  val schema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("timestamp", StringType),
    StructField("immediate_commmit_timestamp", StringType),
    StructField("orignal_commmit_timestamp", StringType),
    StructField("log_position", LongType),
    StructField("table", StringType),
    StructField("schema", StringType),
    StructField("query", StringType),
    StructField("gtid_next", StringType),
    StructField("xid", LongType),
    StructField("binlog_file", StringType),
    StructField("file_seq", LongType),
    StructField("event_index", LongType),
    StructField("extra", MapType(StringType, StringType)),
    StructField("row_images", ArrayType(ArrayType(StringType)))
  ))
}

private class BinlogTable(paths: Seq[String], maxFilesPerTrigger: Option[Int],
    splitIndex: Option[String] = None, autoBuild: Boolean = false,
    splitBytes: Option[Long] = None, tailActive: Boolean = false,
    maxBytesPerTrigger: Option[Long] = None)
    extends Table with SupportsRead {
  require(paths.nonEmpty, "binlog source requires a path (use .load(path))")

  override def name(): String = s"binlog(${paths.mkString(", ")})"
  override def schema(): StructType = BinlogDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FileScanBuilder(BinlogDataSource.schema, BinlogFilePruning)((required, pushed) =>
      new BinlogScan(paths, required, pushed, maxFilesPerTrigger, splitIndex,
        autoBuild, splitBytes, tailActive, maxBytesPerTrigger))
}

/** File pruning: predicates on `binlog_file`/`file_seq` are decidable per
  * FILE, so matching filters skip whole files at planning (the source's
  * partition pruning — at 100 TB a `file_seq >= N` tail read touches only
  * the N+ files). */
private object BinlogFilePruning extends FileNameRules {
  private val cols = Set("binlog_file", "file_seq")

  override def prunable(f: Filter): Boolean = f match {
    case EqualTo(a, _) => cols(a)
    case In(a, _) => cols(a)
    case GreaterThan("file_seq", _) | GreaterThanOrEqual("file_seq", _) |
         LessThan("file_seq", _) | LessThanOrEqual("file_seq", _) => true
    case _ => false
  }

  override def keeps(f: Filter, name: String): Boolean =
    keeps(f, name, graft.ingest.BinlogTextParser.fileSeq(name))

  /** Does a file with this (basename, seq) possibly satisfy the filter?
    * Conservative by construction: a null or non-numeric comparison value
    * is undecidable per-file, so it keeps the file (pruning is a pure
    * optimization — Spark re-evaluates every filter as residual; a pushed
    * `IN (1, NULL)` must not fail the scan at planning, ADVICE r3). */
  def keeps(f: Filter, name: String, seq: Option[Long]): Boolean = f match {
    case EqualTo("binlog_file", v) => name == v
    case In("binlog_file", vs) => vs.contains(name)
    case EqualTo("file_seq", v) => asLong(v).forall(l => seq.contains(l))
    case In("file_seq", vs) => vs.exists(v => asLong(v).forall(l => seq.contains(l)))
    case GreaterThan("file_seq", v) => asLong(v).forall(l => seq.exists(_ > l))
    case GreaterThanOrEqual("file_seq", v) => asLong(v).forall(l => seq.exists(_ >= l))
    case LessThan("file_seq", v) => asLong(v).forall(l => seq.exists(_ < l))
    case LessThanOrEqual("file_seq", v) => asLong(v).forall(l => seq.exists(_ <= l))
    case _ => true
  }

  /** None = undecidable (null / non-numeric) → caller keeps the file. */
  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case n: Number => Some(n.longValue())
    case _ => None
  }
}

private class BinlogScan(paths: Seq[String], required: StructType,
    pushed: Array[Filter] = Array.empty,
    maxFilesPerTrigger: Option[Int] = None,
    splitIndex: Option[String] = None,
    autoBuild: Boolean = false,
    splitBytes: Option[Long] = None,
    tailActive: Boolean = false,
    maxBytesPerTrigger: Option[Long] = None) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The files the pushed filters keep: whole files packed into per-core
    * splits by [[FileScan.packed]], or with a `splitIndex` one partition
    * per transaction-aligned range by [[BinlogScan.plan]]. With
    * `splitIndexAutoBuild=true` the header-only walk runs as its own
    * small job before this scan's tasks launch — the "first pass records
    * offsets" pattern with no separate orchestration step. */
  override def planInputPartitions(): Array[InputPartition] = {
    val kept = BinlogFilePruning.kept(BinlogScan.files(paths).toSeq, pushed.toSeq)
    (if (splitIndex.isEmpty)
      FileScan.packed(kept, splittable = false)((file, _, _) => BinlogRange(file))
    else BinlogScan.plan(kept.map(_.getPath.toString), splitIndex, autoBuild, splitBytes))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    FileReaderFactory(BinlogRows(required))

  /** Two streaming postures: the default count-based stream consumes
    * whole (closed, immutable) files; `tailActive=true` switches to
    * (file suffix, byte-frontier) offsets so the GROWING last file
    * yields its newly-committed bytes each trigger and consumed files
    * may be purged ([[BinlogTailMicroBatchStream]]). Checkpoint
    * compatibility is deliberately ONE-WAY: a count-based checkpoint
    * (`{"n":N}`, whole files only) upgrades to the tail posture in place
    * (TailOffset.fromJson translates it against the listing), but no
    * suffix-keyed tail checkpoint drives the count-based source — its
    * parser rejects a `seq` offset loudly, since a suffix is not a
    * listing count once files have been purged. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // multi-path is a BATCH convenience (replays, ad-hoc unions of named
    // files); a stream's offsets index ONE naturally-ordered listing. To
    // consume several feeds in one query, union N single-path streams —
    // each gets its own offsets in the checkpoint (cdc69/cdc72's
    // posture; graft.streaming.Drains.drainBinlog is the canonical
    // drain, and BinlogTailOps.lagMetricsUnion reads the per-source lag).
    // DECIDED (r15): this stays the supported shape rather than a
    // native multi-dir stream. A composite in-source offset would
    // re-encode what Spark's offset log already does natively (one
    // line per source, independent admission and replay), gain no
    // plan-level behavior (the union is already plan-level, no extra
    // shuffle), and strand existing union checkpoints — their
    // per-source offset lines have no in-place translation into a
    // composite form, which would violate the family's in-place
    // upgrade discipline (cdc68/cdc71).
    require(paths.length == 1,
      s"a binlog STREAM watches exactly one directory, got ${paths.length} " +
        "paths — union one readStream per feed instead (each keeps its " +
        "own offsets in the shared checkpoint)")
    if (tailActive)
      new BinlogTailMicroBatchStream(paths.head, required, maxFilesPerTrigger,
        maxBytesPerTrigger)
    else
      new BinlogMicroBatchStream(paths.head, required, maxFilesPerTrigger,
        splitIndex, autoBuild, splitBytes)
  }

  override def description(): String =
    s"binlog(${paths.mkString(", ")}) prunedBy=[${pushed.mkString(", ")}]"
}

private[graft] object BinlogScan {
  /** The binlog files under `paths` with their statuses, in natural
    * order ([[FileScan.list]]; every visible name is a binlog file). */
  def files(paths: Seq[String]): Array[FileStatus] =
    FileScan.list(paths, _ => true)

  /** [[files]] of one path, as path strings. */
  def listFiles(path: String): Array[String] =
    files(Seq(path)).map(_.getPath.toString)

  /** The partitions for `files`, shared by the split-index batch scan and
    * the count-based stream: one per file, or with a `splitIndex` (a shard
    * directory built by [[graft.ingest.BinlogOffsetIndex.build]]) one per
    * transaction-aligned byte range, so huge files fan out — each file's
    * ranges load from ITS OWN shard, never the siblings'. With
    * `autoBuild`, files with no (readable) shard are walked right here at
    * planning, in ONE header-only job for all of them (the per-file form
    * launched a single-task job plus a conf broadcast per file, r7
    * ADVICE), so files appearing after an earlier build get shards too.
    * The filesystem work is one parallel shard probe (skipped entirely on
    * a never-built index directory; a serial per-file loop put one round
    * trip per file on the planning path), at most one build job, and one
    * parallel stat sweep of the files that have ranges. A file whose
    * length no longer matches its index entry, or whose stat fails,
    * decodes whole-file — the index is an optimization, never a
    * correctness dependency. */
  def plan(files: Seq[String], splitIndex: Option[String],
      autoBuild: Boolean, splitBytes: Option[Long]): Seq[FileSplit[BinlogRange]] =
    (splitIndex match {
      case None => files.map(BinlogRange(_))
      case Some(ip) =>
        // the SESSION's Hadoop conf, not a bare new Configuration(): index
        // paths on filesystems configured via spark.hadoop.* (credentials,
        // fs impls) must resolve with the same conf build() wrote through
        val spark = org.apache.spark.sql.SparkSession.active
        val conf = spark.sparkContext.hadoopConfiguration
        val idx = graft.ingest.BinlogOffsetIndex
        var ranges = idx.loadFiles(conf, ip, files)
        if (autoBuild) {
          val missing = files.filter(f => ranges(f).isEmpty)
          if (missing.nonEmpty) {
            idx.buildFiles(spark, missing, ip, splitBytes.getOrElse(128L << 20))
            ranges = ranges ++ idx.loadFiles(conf, ip, missing)
          }
        }
        val lens = idx.statLens(conf, files.filter(f => ranges(f).nonEmpty))
        files.flatMap { p =>
          ranges(p) match {
            case rs if rs.nonEmpty && lens.get(p).contains(rs.head.fileLen) =>
              rs.map(r => BinlogRange(p, r.start, r.end, r.startIndex, r.checksumLen))
            case _ => Seq(BinlogRange(p))
          }
        }
    }).map(r => FileSplit(Seq(r)))
}

/** Micro-batch binlog tail: the offset is a position in the naturally-
  * ordered file list (binlog files are created with strictly increasing
  * suffixes and never rewritten once rotated). Each trigger consumes the
  * files that appeared since the last committed offset — whole files
  * only, so run `FLUSH BINARY LOGS` (reference README.md:68-73) or copy
  * completed files into the watched directory. State is one integer;
  * that encoding requires the watched directory to be APPEND-ONLY while
  * the stream (or its checkpoint) is live — purging old files would
  * shift the listing under a count-based offset.
  *
  * With `splitIndex` (+ `splitIndexAutoBuild`), each consumed file fans
  * out into one task per transaction-aligned range, exactly like the
  * batch scan — a multi-hundred-MB rotated binlog no longer serializes
  * its micro-batch into one task. Auto-build walks just the files new to
  * this trigger (a small header-only job at planning) and writes their
  * shards, so the next stream restart finds them pre-indexed.
  */
private class BinlogMicroBatchStream(path: String, required: StructType,
    maxFilesPerTrigger: Option[Int] = None,
    splitIndex: Option[String] = None, autoBuild: Boolean = false,
    splitBytes: Option[Long] = None)
    extends FileCountMicroBatchStream(
      () => BinlogScan.files(Seq(path)).toIndexedSeq, maxFilesPerTrigger) {

  // auto-build walks just the files new to this trigger
  override protected def planSlice(files: Seq[FileStatus]): Seq[InputPartition] =
    BinlogScan.plan(files.map(_.getPath.toString), splitIndex, autoBuild, splitBytes)

  override def createReaderFactory(): PartitionReaderFactory =
    FileReaderFactory(BinlogRows(required))
}

/** One binlog file range: `start == 0 && end == Long.MaxValue` is the
  * whole file, decoded to EOF; any other range comes from the
  * transaction-aligned offset index or the tail stream's frontiers, with
  * the decoder state (event index, checksum-tail length) at `start`. */
private[sources] case class BinlogRange(file: String, start: Long = 0L,
    end: Long = Long.MaxValue, startIndex: Long = 0L, checksumLen: Int = 0)

/** The binlog reader of one range, for [[FileReaderFactory]]. */
private[sources] case class BinlogRows(required: StructType) extends RangeReader[BinlogRange] {
  override def open(range: BinlogRange, conf: Configuration): PartitionReader[InternalRow] =
    new BinlogPartitionReader(range, required, conf)
}

/** Streams one file-range's events through the incremental decoder — heap
  * holds one event body at a time (not the file), so arbitrarily large
  * binlogs (≥2 GiB included) decode correctly. Projects only the required
  * columns, each through a converter resolved once per reader. */
private class BinlogPartitionReader(part: BinlogRange, required: StructType,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val converters = required.fieldNames.map(BinlogPartitionReader.converter)

  private var stream: java.io.InputStream = _

  private lazy val events: Iterator[ParsedBinlogEvent] = {
    val p = new Path(part.file)
    val fs = p.getFileSystem(conf)
    val raw = fs.open(p)
    if (part.start > 0) raw.seek(part.start) // range partition: event boundary
    val in = new java.io.BufferedInputStream(raw, 1 << 16)
    stream = in
    // column pruning reaches the DECODER: when row_images is not
    // projected, the reader skips image value decoding (the dominant
    // decode cost) — header-only CDC scans don't pay for payloads — and
    // an unprojected `extra` is never collected
    BinlogBinaryParser.decodeStream(in, p.getName,
      withRowImages = required.fieldNames.contains("row_images"),
      withExtra = required.fieldNames.contains("extra"),
      startOffset = part.start, endOffset = part.end,
      startIndex = part.startIndex, initialChecksumLen = part.checksumLen)
  }

  private var current: ParsedBinlogEvent = _

  override def next(): Boolean =
    if (events.hasNext) { current = events.next(); true } else false

  override def get(): InternalRow = {
    val values = new Array[Any](converters.length)
    var i = 0
    while (i < values.length) { values(i) = converters(i)(current); i += 1 }
    new GenericInternalRow(values)
  }

  override def close(): Unit =
    if (stream != null) {
      try stream.close() catch { case _: java.io.IOException => () }
    }
}

private object BinlogPartitionReader {
  /** The Catalyst value of one column of a decoded event. */
  def converter(name: String): ParsedBinlogEvent => Any = name match {
    case "event_type" => e => UTF8String.fromString(e.event_type)
    case "timestamp" => e => UTF8String.fromString(e.timestamp)
    case "immediate_commmit_timestamp" =>
      e => UTF8String.fromString(e.immediate_commmit_timestamp)
    case "orignal_commmit_timestamp" =>
      e => UTF8String.fromString(e.orignal_commmit_timestamp)
    case "log_position" => e => e.log_position.map(Long.box).orNull
    case "table" => e => UTF8String.fromString(e.table)
    case "schema" => e => UTF8String.fromString(e.schema)
    case "query" => e => UTF8String.fromString(e.query)
    case "gtid_next" => e => UTF8String.fromString(e.gtid_next)
    case "xid" => e => e.xid.map(Long.box).orNull
    case "binlog_file" => e => UTF8String.fromString(e.binlog_file)
    case "file_seq" => e => e.file_seq.map(Long.box).orNull
    case "event_index" => e => Long.box(e.event_index)
    case "extra" => e =>
      ArrayBasedMapData(
        e.extra.keys.map(k => UTF8String.fromString(k)).toArray,
        e.extra.values.map(v => UTF8String.fromString(v)).toArray)
    case "row_images" => e =>
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        e.row_images.map { img =>
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            img.map(v =>
              if (v == null) null else UTF8String.fromString(v)).toArray[Any])
        }.toArray[Any])
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }
}
