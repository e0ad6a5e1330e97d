package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import org.apache.spark.graftshim.SerializableHadoopConf

/** The file-scan core under the `binlog` and `avrofile` sources. It makes
  * each of these decisions once for both formats: how the path options
  * resolve ([[FileScan.resolvePaths]]), which files a path lists and in
  * what order ([[FileScan.list]]), how a batch read packs and splits them
  * into tasks ([[FileScan.packed]]), which pushed filters prune files
  * ([[FileScanBuilder]]), and how a task reads its files
  * ([[FileReaderFactory]]). A format gives only a name predicate for
  * listings, its [[FileNameRules]] and a [[RangeReader]] that opens one
  * (file, range) as rows; its schema,
  * decoder, `description()` and streams stay its own.
  */
private[sources] object FileScan {

  /** The DSv2 path contract: `.load(p)` arrives as the `path` property,
    * `.load(p1, p2, …)` as a JSON-array `paths` property (plus an
    * optional `path`) — resolve both forms. Jackson is Spark's own
    * bundled JSON mapper, so the array parse matches what Spark wrote. */
  def resolvePaths(properties: util.Map[String, String]): Seq[String] = {
    val multi = Option(properties.get("paths")).map { json =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]]).toSeq
    }.getOrElse(Seq.empty)
    val single = Option(properties.get("path")).toSeq
    (single ++ multi).distinct
  }

  /** The files under `paths`, in natural (`ls -v`) order: numeric suffix
    * first, then name — the reference's binlog processing order
    * (comparator.sh:85); names with no numeric suffix (Avro's) sort by
    * name alone. Each path is a file, a directory, or a glob over files
    * or directories. Directory and glob listings keep only the names
    * `accept` takes and skip hidden ones: "."/"_" prefixed names are
    * metadata (checksum sidecars, `_SUCCESS` markers, in-progress temp
    * files), as in Spark's file sources. A file named explicitly is read
    * whatever its name. Paths are qualified, so one file reached through
    * two spellings of several paths (relative vs absolute, `//`, scheme
    * present vs defaulted) is listed once. Each file comes with its
    * status, its length among them. */
  def list(paths: Seq[String], accept: String => Boolean): Array[FileStatus] =
    paths.flatMap(listOne(_, accept)).distinctBy(_.getPath.toString).toArray
      .sortBy(st => (fileSeqKey(st.getPath.getName), st.getPath.getName))

  private def listOne(path: String, accept: String => Boolean): Array[FileStatus] = {
    val hadoopPath = new Path(path)
    // driver-side listing with the session's conf (spark.hadoop.*
    // credentials / fs impls); bare Configuration() only as the
    // sessionless fallback
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    val fs = hadoopPath.getFileSystem(conf)
    def listed(name: String): Boolean =
      !name.startsWith(".") && !name.startsWith("_") && accept(name)
    val named = if (fs.exists(hadoopPath)) Some(fs.getFileStatus(hadoopPath)) else None
    named match {
      case Some(st) if st.isFile =>
        st.setPath(fs.makeQualified(hadoopPath))
        Array(st)
      case _ => (Option(fs.globStatus(hadoopPath)) match {
        case Some(matches) if matches.nonEmpty =>
          matches.flatMap { st =>
            if (st.isFile) Array(st)
            else fs.listStatus(st.getPath).filter(_.isFile)
          }
        case _ => fs.listStatus(hadoopPath).filter(_.isFile)
      }).filter(st => listed(st.getPath.getName))
    }
  }

  /** The natural-order sort key: suffix-less names sort last. */
  private[sources] def fileSeqKey(name: String): Long =
    graft.ingest.BinlogTextParser.fileSeq(name).getOrElse(Long.MaxValue)

  /** A batch read's splits, planned by Spark's own file-source rule:
    * `FilePartition.maxSplitBytes` sizes a split from the files' lengths,
    * their open cost and the leaf-node parallelism; a `splittable` file
    * longer than that is cut into ranges of that size
    * (`PartitionedFileUtil.splitFiles`); and `FilePartition
    * .getFilePartitions` fills splits next-fit in listing order, each
    * piece costing its length plus the open cost. So small files pack
    * several to a task, and no more files than cores of even sizes are
    * never packed. `range(file, start, length)` is the format's range. */
  def packed[R](files: Seq[FileStatus], splittable: Boolean)(
      range: (String, Long, Long) => R): Seq[FileSplit[R]] = {
    val spark = SparkSession.active
    val maxSplitBytes = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, files.toArray)))
    val pieces = files.flatMap(st => PartitionedFileUtil.splitFiles(
      FileStatusWithMetadata(st), st.getPath, splittable, maxSplitBytes, InternalRow.empty))
    FilePartition.getFilePartitions(spark, pieces, maxSplitBytes).map(p =>
      FileSplit(p.files.toSeq.map(f => range(f.toPath.toString, f.start, f.length))))
  }
}

/** A format's file-pruning rules: which pushed filters a file's name
  * alone can decide, and whether a file of that name may match. */
private[sources] trait FileNameRules {
  def prunable(f: Filter): Boolean
  /** Conservative: anything undecidable keeps the file. */
  def keeps(f: Filter, name: String): Boolean

  /** The listed files the pushed filters keep. */
  def kept(files: Seq[FileStatus], pushed: Seq[Filter]): Seq[FileStatus] =
    files.filter(st => pushed.forall(keeps(_, st.getPath.getName)))
}

/** The one scan builder. Column pruning reaches the reader; filters the
  * format's rules can decide per file are pushed for file pruning at
  * planning, and every filter is also returned as residual, so Spark
  * re-evaluates them — pruning is an optimization, never a correctness
  * dependency. */
private[sources] class FileScanBuilder(full: StructType, rules: FileNameRules)(
    scan: (StructType, Array[Filter]) => Scan)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(rules.prunable)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = scan(required, pushed)
}

/** One task's input: ranges of one or more files, read in order. */
private[sources] case class FileSplit[R](ranges: Seq[R]) extends InputPartition

/** What a format gives the reader: one (file, range) opened as rows. It
  * ships to the executors inside the [[FileReaderFactory]]. */
private[sources] trait RangeReader[R] extends Serializable {
  def open(range: R, conf: Configuration): PartitionReader[InternalRow]
}

/** The one reader factory. It is built on the DRIVER, where the session
  * conf is capturable; the readers run executor-side and must receive it
  * (a bare `new Configuration()` there would lose `spark.hadoop.*`
  * credentials / fs impls on object stores; `SparkSession.active` would
  * throw). */
private[sources] class FileReaderFactory[R](rows: RangeReader[R], conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChainedReader(partition.asInstanceOf[FileSplit[R]].ranges.iterator
      .map(rows.open(_, conf.value)))
}

private[sources] object FileReaderFactory {
  def apply[R](rows: RangeReader[R]): FileReaderFactory[R] =
    new FileReaderFactory(rows, SerializableHadoopConf.session())
}

/** Reads the ranges of a [[FileSplit]] one after another, each through
  * its own reader, which is opened when the previous one is exhausted
  * and closed then. */
private class ChainedReader(readers: Iterator[PartitionReader[InternalRow]])
    extends PartitionReader[InternalRow] {

  private var current: PartitionReader[InternalRow] = _

  override def next(): Boolean = {
    var found = current != null && current.next()
    while (!found && readers.hasNext) {
      close()
      current = readers.next()
      found = current.next()
    }
    found
  }

  override def get(): InternalRow = current.get()

  override def close(): Unit =
    if (current != null) { current.close(); current = null }
}
