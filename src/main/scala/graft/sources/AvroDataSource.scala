package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
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
  * [[AvroSource.read]] is this connector. What it does:
  *   - **Splittable files**: Avro's sync markers make any byte range
  *     readable (`DataFileReader.sync(start)` seeks to the next block
  *     boundary; read while `!pastSync(end)`). Files larger than
  *     `spark.sql.files.maxPartitionBytes` fan out across tasks — at
  *     100 TB one giant container no longer serializes into one task.
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
    AvroSource.toStructType(AvroSource.readSchema(spark, options.get("path")))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AvroTable(properties.get("path"), Option(schema),
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

/** `fileNameColumn`: name of a virtual partition-style STRING column
  * holding each record's source-file basename. CDC delivery directories
  * are name-bucketed (Datastream drops `<stream>_<timestamp>.avro` files),
  * so predicates on this column prune whole files at planning — the
  * file-level analogue of `BinlogFilePruning` (Avro blocks carry no
  * column stats; file name is the pruning ceiling for this format). */
private class AvroTable(path: String, userSchema: Option[StructType],
    maxFilesPerTrigger: Option[Int], fileNameColumn: Option[String] = None)
    extends Table with SupportsRead {
  require(path != null, "avro source requires a path (use .load(path))")

  private lazy val spark = org.apache.spark.sql.SparkSession.active
  // the FILE-HEADER schema always wins when a file exists (it carries
  // the field defaults that drive writer→reader evolution); the
  // caller-provided StructType is only the fallback that lets a
  // streaming tail start on a still-empty delivery directory
  private lazy val avroSchema =
    try AvroSource.readSchema(spark, path)
    catch {
      case e: IllegalArgumentException =>
        userSchema match {
          case Some(st) => graft.ingest.AvroSink.toAvroSchema(st, "Record")
          case None => throw e
        }
    }

  override def name(): String = s"avro($path)"
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
    new AvroScanBuilder(path, avroSchema, schema(), maxFilesPerTrigger, fileNameColumn)
}

private class AvroScanBuilder(path: String, avroSchema: Schema, full: StructType,
    maxFilesPerTrigger: Option[Int] = None, fileNameColumn: Option[String] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  private var required: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** File-name pruning: predicates on the virtual `fileNameColumn` are
    * decidable per FILE, so they skip whole containers at planning. All
    * filters are also returned as residual — Spark re-evaluates them, so
    * pruning is an optimization, never a correctness dependency. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = fileNameColumn match {
      case Some(c) => filters.filter(AvroFilePruning.prunable(_, c))
      case None => Array.empty
    }
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan =
    new AvroScan(path, avroSchema, required, maxFilesPerTrigger,
      fileNameColumn, pushed)
}

private object AvroFilePruning {
  import org.apache.spark.sql.sources._

  def prunable(f: Filter, col: String): Boolean = f match {
    case EqualTo(a, _: String) => a == col
    case In(a, vs) => a == col && vs.forall(_.isInstanceOf[String])
    case StringStartsWith(a, _) => a == col
    case GreaterThan(a, _: String) => a == col
    case GreaterThanOrEqual(a, _: String) => a == col
    case LessThan(a, _: String) => a == col
    case LessThanOrEqual(a, _: String) => a == col
    case _ => false
  }

  /** Does a file with this basename possibly satisfy the filter?
    * Conservative: anything undecidable keeps the file. */
  def keeps(f: Filter, name: String): Boolean = f match {
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

private class AvroScan(path: String, avroSchema: Schema, required: StructType,
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
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new AvroMicroBatchStream(path, avroSchema.toString, required,
      maxFilesPerTrigger, fileNameColumn)

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val splitSize = spark.sessionState.conf.filesMaxPartitionBytes
    AvroScanHelper.listAvroFiles(spark, path)
      .filter(st => pushed.forall(AvroFilePruning.keeps(_, st.getPath.getName)))
      .flatMap { st =>
        val len = st.getLen
        if (len <= splitSize) Seq(AvroInputPartition(st.getPath.toString, 0L, len))
        else (0L until len by splitSize).map { start =>
          AvroInputPartition(st.getPath.toString, start, math.min(splitSize, len - start))
        }
      }.map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(avroSchema.toString, required, fileNameColumn,
      org.apache.spark.graftshim.SerializableHadoopConf.session())

  override def description(): String =
    s"avro($path) ReadSchema=[${required.fieldNames.mkString(", ")}]" +
      (if (pushed.nonEmpty) s" prunedBy=[${pushed.mkString(", ")}]" else "")
}

private[graft] object AvroScanHelper {
  def listAvroFiles(spark: org.apache.spark.sql.SparkSession,
      path: String, allowEmpty: Boolean = false): Seq[org.apache.hadoop.fs.FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.exists(p) && fs.getFileStatus(p).isFile) Seq(fs.getFileStatus(p))
      else Option(fs.globStatus(new Path(
          if (path.endsWith(".avro")) path else path.stripSuffix("/") + "/*.avro")))
        .getOrElse(Array.empty).filter(_.isFile).toSeq
    require(allowEmpty || files.nonEmpty, s"no .avro files under $path")
    files.sortBy(_.getPath.getName)
  }
}

private class AvroMicroBatchStream(path: String, schemaJson: String,
    required: StructType, maxFilesPerTrigger: Option[Int],
    fileNameColumn: Option[String] = None)
    extends FileCountMicroBatchStream[(String, Long)](
      () => {
        val spark = org.apache.spark.sql.SparkSession.active
        // a transiently-empty listing is fine for a tail (batch reads
        // keep the loud no-files require)
        AvroScanHelper.listAvroFiles(spark, path, allowEmpty = true)
          .map(st => (st.getPath.toString, st.getLen)).toIndexedSeq
      },
      maxFilesPerTrigger) {

  override protected def planSlice(slice: Seq[(String, Long)]): Seq[InputPartition] =
    slice.map(f => AvroInputPartition(f._1, 0L, f._2))

  // the lister already stats lengths — bytesBehind is free here
  override protected def byteLen(f: (String, Long)): Long = f._2

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(schemaJson, required, fileNameColumn,
      org.apache.spark.graftshim.SerializableHadoopConf.session())
}

private case class AvroInputPartition(file: String, start: Long, length: Long)
    extends InputPartition

/** Factory construction happens on the DRIVER (see BinlogReaderFactory's
  * note); `conf` is REQUIRED so an executor-side default can never
  * resurface. */
private class AvroReaderFactory(readerSchemaJson: String, required: StructType,
    fileNameColumn: Option[String],
    conf: org.apache.spark.graftshim.SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new AvroPartitionReader(
      partition.asInstanceOf[AvroInputPartition], readerSchemaJson, required,
      fileNameColumn, conf)
}

/** Reads one (file, byte-range) slice: seek to the first sync point at or
  * after `start`, read blocks until past `start + length` — the standard
  * splittable-Avro contract (each record belongs to exactly one range). */
private class AvroPartitionReader(part: AvroInputPartition,
    readerSchemaJson: String, required: StructType,
    fileNameColumn: Option[String],
    sconf: org.apache.spark.graftshim.SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val readerSchema = new Schema.Parser().parse(readerSchemaJson)
  private val reader: DataFileReader[GenericRecord] = {
    val conf = sconf.value
    val r = new DataFileReader[GenericRecord](
      new FsInput(new Path(part.file), conf),
      new GenericDatumReader[GenericRecord](null, readerSchema))
    r.sync(part.start)
    r
  }

  /** Record → row, with the virtual file-name column (constant per
    * partition) spliced in at its projected ordinal when requested. */
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
