package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.AvroSource

/** DataSourceV2 connector for Avro container files (S3's scale path):
  *
  *   spark.read.format("avrofile").load("/path/to/files")
  *
  * [[AvroSource.read]] is this connector, on the shared file-scan core
  * ([[FileScan]]: `.avro` names, the path contract and the reader of the
  * `binlog` source). What it does:
  *   - **Packed and split by Spark's file-source rule**: a batch read
  *     packs small containers several to a task and cuts a container
  *     longer than the split size (`FilePartition.maxSplitBytes`, at most
  *     `spark.sql.files.maxPartitionBytes`) into byte ranges. Avro's sync
  *     markers make any byte range readable (`DataFileReader.sync(start)`
  *     seeks to the next block boundary; read while `!pastSync(end)`), so
  *     at 100 TB one giant container no longer serializes into one task.
  *   - **Direct InternalRow conversion**: GenericRecord → catalyst values
  *     in one pass (UTF8String / micros / epoch-days / Decimal), skipping
  *     the external Row + encoder round-trip.
  *   - **Column pruning**: unprojected top-level fields are never
  *     converted.
  *
  * Schema semantics: the reader schema comes
  * from the first file's header, each file resolves writer→reader by
  * Avro rules (field defaults apply; an incompatible writer schema fails
  * the task loudly), and `["null", T]` unions become nullable `T`.
  * Reference surface: the per-file `avro-tools tojson` fork loop,
  * `/root/reference/avro_to_json.sh:52-70`.
  */
class AvroDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  // "avro" itself is reserved by Spark (redirects to the spark-avro
  // package), so the connector registers as "avrofile"
  override def shortName(): String = "avrofile"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = org.apache.spark.sql.SparkSession.active
    AvroSource.toStructType(AvroSource.readSchema(spark, FileScan.resolvePaths(options): _*))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AvroTable(FileScan.resolvePaths(properties), Option(schema),
      Option(properties.get("maxFilesPerTrigger")).map(_.toInt),
      Option(properties.get("fileNameColumn")))

  // a user-supplied schema lets a STREAMING tail start on a directory
  // that has no files yet (inference needs a file header); the Avro
  // reader schema is then derived from the StructType. Note: a derived
  // reader schema carries no field defaults, so writer-schema EVOLUTION
  // resolution needs the inferred (file-header) schema — omit the
  // explicit schema when files exist.
  override def supportsExternalMetadata(): Boolean = true
}

private[graft] object AvroDataSource {
  /** The Avro containers under `paths`, in name order ([[FileScan.list]]). */
  def files(paths: Seq[String]): Array[FileStatus] =
    FileScan.list(paths, _.endsWith(".avro"))
}

/** `fileNameColumn`: name of a virtual partition-style STRING column
  * holding each record's source-file basename. CDC delivery directories
  * are name-bucketed (Datastream drops `<stream>_<timestamp>.avro` files),
  * so predicates on this column prune whole files at planning — the
  * file-level analogue of `BinlogFilePruning` (Avro blocks carry no
  * column stats; file name is the pruning ceiling for this format). */
private class AvroTable(paths: Seq[String], userSchema: Option[StructType],
    maxFilesPerTrigger: Option[Int], fileNameColumn: Option[String] = None)
    extends Table with SupportsRead {
  require(paths.nonEmpty, "avro source requires a path (use .load(path))")

  private lazy val spark = org.apache.spark.sql.SparkSession.active
  // the FILE-HEADER schema always wins when a file exists (it carries
  // the field defaults that drive writer→reader evolution); the
  // caller-provided StructType is only the fallback that lets a
  // streaming tail start on a still-empty delivery directory
  private lazy val avroSchema =
    try AvroSource.readSchema(spark, paths: _*)
    catch {
      case e: IllegalArgumentException =>
        userSchema match {
          case Some(st) => graft.ingest.AvroSink.toAvroSchema(st, "Record")
          case None => throw e
        }
    }

  override def name(): String = s"avro(${paths.mkString(", ")})"
  override def schema(): StructType = {
    val base = AvroSource.toStructType(avroSchema)
    fileNameColumn match {
      case Some(c) =>
        require(!base.fieldNames.contains(c),
          s"fileNameColumn '$c' collides with a data field")
        base.add(StructField(c, StringType, nullable = false))
      case None => base
    }
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FileScanBuilder(schema(), AvroFilePruning(fileNameColumn))((required, pushed) =>
      new AvroScan(paths, avroSchema, required, maxFilesPerTrigger, fileNameColumn, pushed))
}

/** File-name pruning: predicates on the virtual `fileNameColumn` are
  * decidable per FILE, so they skip whole containers at planning. */
private case class AvroFilePruning(fileNameColumn: Option[String]) extends FileNameRules {
  import org.apache.spark.sql.sources._

  override def prunable(f: Filter): Boolean = fileNameColumn.exists(col => f match {
    case EqualTo(a, _: String) => a == col
    case In(a, vs) => a == col && vs.forall(_.isInstanceOf[String])
    case StringStartsWith(a, _) => a == col
    case GreaterThan(a, _: String) => a == col
    case GreaterThanOrEqual(a, _: String) => a == col
    case LessThan(a, _: String) => a == col
    case LessThanOrEqual(a, _: String) => a == col
    case _ => false
  })

  override def keeps(f: Filter, name: String): Boolean = f match {
    case EqualTo(_, v: String) => name == v
    case In(_, vs) => vs.exists(v => v == name)
    case StringStartsWith(_, p) => name.startsWith(p)
    case GreaterThan(_, v: String) => name > v
    case GreaterThanOrEqual(_, v: String) => name >= v
    case LessThan(_, v: String) => name < v
    case LessThanOrEqual(_, v: String) => name <= v
    case _ => true
  }
}

private class AvroScan(paths: Seq[String], avroSchema: Schema, required: StructType,
    maxFilesPerTrigger: Option[Int] = None,
    fileNameColumn: Option[String] = None,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Micro-batch tail over an append-only directory of containers —
    * Datastream-style CDC delivery drops completed .avro files into a
    * bucket; the offset is a position in the name-sorted listing (see
    * [[FileCountMicroBatchStream]]). Whole files per trigger (a file is
    * only listed once fully written). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(paths.length == 1,
      s"an avrofile STREAM watches exactly one directory, got ${paths.length} paths")
    new AvroMicroBatchStream(paths.head, rows, maxFilesPerTrigger)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val kept = AvroFilePruning(fileNameColumn).kept(AvroDataSource.files(paths).toSeq, pushed.toSeq)
    FileScan.packed(kept, splittable = true)(AvroRange(_, _, _)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = FileReaderFactory(rows)

  private def rows = AvroRows(avroSchema.toString, required, fileNameColumn)

  override def description(): String =
    s"avro(${paths.mkString(", ")}) ReadSchema=[${required.fieldNames.mkString(", ")}]" +
      (if (pushed.nonEmpty) s" prunedBy=[${pushed.mkString(", ")}]" else "")
}

// a transiently-empty listing is fine for a tail (batch reads keep the
// loud no-files require of the schema read)
private class AvroMicroBatchStream(path: String, rows: AvroRows,
    maxFilesPerTrigger: Option[Int])
    extends FileCountMicroBatchStream(
      () => AvroDataSource.files(Seq(path)).toIndexedSeq, maxFilesPerTrigger) {

  override protected def planSlice(slice: Seq[FileStatus]): Seq[InputPartition] =
    slice.map(st => FileSplit(Seq(AvroRange(st.getPath.toString, 0L, st.getLen))))

  override def createReaderFactory(): PartitionReaderFactory = FileReaderFactory(rows)
}

/** One container's byte range `[start, start + length)`. */
private case class AvroRange(file: String, start: Long, length: Long)

/** The Avro reader of one range, for [[FileReaderFactory]]. */
private case class AvroRows(readerSchemaJson: String, required: StructType,
    fileNameColumn: Option[String]) extends RangeReader[AvroRange] {
  override def open(range: AvroRange, conf: Configuration): PartitionReader[InternalRow] =
    new AvroPartitionReader(range, this, conf)
}

/** Reads one (file, byte-range) slice: seek to the first sync point at or
  * after `start`, read blocks until past `start + length` — the standard
  * splittable-Avro contract (each record belongs to exactly one range). */
private class AvroPartitionReader(part: AvroRange, rows: AvroRows, conf: Configuration)
    extends PartitionReader[InternalRow] {
  import rows.{fileNameColumn, required}

  private val readerSchema = new Schema.Parser().parse(rows.readerSchemaJson)
  private val reader: DataFileReader[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      new FsInput(new Path(part.file), conf),
      new GenericDatumReader[GenericRecord](null, readerSchema))
    r.sync(part.start)
    r
  }

  /** Record → row, with the virtual file-name column (constant per
    * file) spliced in at its projected ordinal when requested. */
  private val converter: GenericRecord => InternalRow =
    fileNameColumn.filter(required.fieldNames.contains) match {
      case Some(c) =>
        val vi = required.fieldIndex(c)
        val dataSchema = StructType(required.fields.filterNot(_.name == c))
        val fc = AvroCatalyst.fieldsConverter(readerSchema, dataSchema)
        val fileName = UTF8String.fromString(new Path(part.file).getName)
        rec => {
          val vals = fc(rec)
          val out = new Array[Any](vals.length + 1)
          System.arraycopy(vals, 0, out, 0, vi)
          out(vi) = fileName
          System.arraycopy(vals, vi, out, vi + 1, vals.length - vi)
          new GenericInternalRow(out)
        }
      case None => AvroCatalyst.recordConverter(readerSchema, required)
    }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (reader.hasNext && !reader.pastSync(part.start + part.length)) {
      current = converter(reader.next())
      true
    } else false

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()
}

/** GenericRecord → catalyst converters, built once per (schema, type). */
private[sources] object AvroCatalyst {

  def recordConverter(schema: Schema, required: StructType): GenericRecord => InternalRow = {
    val fc = fieldsConverter(schema, required)
    rec => new GenericInternalRow(fc(rec))
  }

  def fieldsConverter(schema: Schema, required: StructType): GenericRecord => Array[Any] = {
    val fields = required.fields.map { sf =>
      val f = schema.getField(sf.name)
      require(f != null, s"field ${sf.name} missing from Avro schema")
      (f.name(), valueConverter(nonNull(f.schema()), sf.dataType))
    }
    rec => {
      val out = new Array[Any](fields.length)
      var i = 0
      while (i < fields.length) {
        val v = rec.get(fields(i)._1)
        out(i) = if (v == null) null else fields(i)._2(v)
        i += 1
      }
      out
    }
  }

  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s

  private def valueConverter(s: Schema, dt: DataType): Any => Any = dt match {
    case StringType => v => UTF8String.fromString(v.toString)
    case IntegerType | DateType => v => v.asInstanceOf[java.lang.Integer].intValue()
      // Avro `date` is already epoch days — catalyst DateType's encoding
    case LongType => v => v.asInstanceOf[java.lang.Long].longValue()
    case TimestampType =>
      val millis = Option(s.getLogicalType).exists(_.getName == "timestamp-millis")
      v => {
        val l = v.asInstanceOf[java.lang.Long].longValue()
        if (millis) Math.multiplyExact(l, 1000L) else l
      }
    case FloatType => v => v.asInstanceOf[java.lang.Float].floatValue()
    case DoubleType => v => v.asInstanceOf[java.lang.Double].doubleValue()
    case BooleanType => v => v.asInstanceOf[java.lang.Boolean].booleanValue()
    case BinaryType => {
      case b: java.nio.ByteBuffer =>
        val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
      case f: org.apache.avro.generic.GenericFixed => f.bytes().clone()
      case other => other.asInstanceOf[Array[Byte]]
    }
    case d: DecimalType => v => {
      val bytes = v match {
        case b: java.nio.ByteBuffer =>
          val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
        case f: org.apache.avro.generic.GenericFixed => f.bytes().clone()
      }
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale),
        d.precision, d.scale)
    }
    case st: StructType =>
      val conv = recordConverter(s, st)
      v => conv(v.asInstanceOf[GenericRecord])
    case ArrayType(et, _) =>
      val elem = valueConverter(nonNull(s.getElementType), et)
      v => new GenericArrayData(
        v.asInstanceOf[java.util.Collection[_]].asScala
          .map(e => if (e == null) null else elem(e)).toArray[Any])
    case MapType(StringType, vt, _) =>
      val value = valueConverter(nonNull(s.getValueType), vt)
      v => {
        val m = v.asInstanceOf[java.util.Map[_, _]].asScala.toSeq
        ArrayBasedMapData(
          m.map(kv => UTF8String.fromString(kv._1.toString)).toArray[Any],
          m.map(kv => if (kv._2 == null) null else value(kv._2)).toArray[Any])
      }
    case other =>
      throw new IllegalArgumentException(s"unsupported catalyst type $other")
  }
}
