package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.GenericRecord
import org.apache.avro.mapred.FsInput
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** S3 — native Avro container-file source (SURVEY §7.4).
  *
  * The reference shells out to `avro-tools tojson` once per file
  * (avro_to_json.sh:52-70); here the container files are read in place by
  * graft's own DSv2 connector, [[graft.sources.AvroDataSource]]
  * (`spark.read.format("avrofile")`: small files pack several to a task
  * and large ones split into byte ranges at sync markers, by Spark's
  * file-source rule), and `["null", T]` unions resolve
  * directly to nullable `T` — no union-wrapper structs, no per-file JVM
  * forks, no JSON intermediate. This object holds the driver-side schema
  * pieces the connector uses: the writer schema from the first file's
  * header ([[readSchema]], avro's `DataFileReader` over `FsInput`) and its
  * Spark mapping ([[toStructType]]).
  *
  * The environment has `avro-1.12.1` + `avro-mapred-1.12.1` but no
  * `spark-avro` connector, hence a connector of its own.
  */
object AvroSource {

  /** Read `.avro` container files (a concrete path, directory, or glob)
    * into a DataFrame — delegates to the DSv2 connector
    * ([[graft.sources.AvroDataSource]], `spark.read.format("avrofile")`):
    * small files packed and large ones split by sync-marker byte range
    * under Spark's file-source rule, direct InternalRow conversion
    * (no external-Row round-trip), top-level column pruning. Reader
    * schema comes from the first file's header (one cheap driver-side
    * metadata read); each file then resolves writer→reader by Avro rules —
    * a compatibly-evolved writer schema resolves by field name/default,
    * and an incompatible one (missing field, no default) fails the task
    * loudly instead of silently null-filling (ADVICE r01). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("avrofile").load(path)

  /** Resolve the writer schema from the header of the first file the
    * `avrofile` scan would read. */
  def readSchema(spark: SparkSession, paths: String*): Schema = {
    val conf = spark.sparkContext.hadoopConfiguration
    val first = graft.sources.AvroDataSource.files(paths).headOption.getOrElse(
      throw new IllegalArgumentException(s"no .avro files under ${paths.mkString(", ")}")).getPath
    val reader = new DataFileReader[GenericRecord](
      new FsInput(first, conf),
      new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    try reader.getSchema
    finally reader.close()
  }

  /** Avro schema → Spark StructType. `["null", T]` unions become nullable
    * `T`; logical types timestamp-millis/micros map to TimestampType. */
  def toStructType(schema: Schema): StructType = {
    toDataType(schema) match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"top-level Avro schema must be a record, got $other")
    }
  }

  private def toDataType(schema: Schema): DataType = schema.getType match {
    case Schema.Type.RECORD =>
      StructType(schema.getFields.asScala.toSeq.map { f =>
        StructField(f.name(), toDataType(f.schema()), nullable = isNullable(f.schema()))
      })
    case Schema.Type.UNION =>
      val branches = schema.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(branches.size == 1,
        s"only ['null', T] unions supported, got ${schema.getTypes}")
      toDataType(branches.head)
    case Schema.Type.ARRAY =>
      ArrayType(toDataType(schema.getElementType),
        containsNull = isNullable(schema.getElementType))
    case Schema.Type.MAP =>
      MapType(StringType, toDataType(schema.getValueType),
        valueContainsNull = isNullable(schema.getValueType))
    case Schema.Type.STRING | Schema.Type.ENUM => StringType
    case Schema.Type.INT =>
      schema.getLogicalType match {
        case l if l != null && l.getName == "date" => DateType
        case _ => IntegerType
      }
    case Schema.Type.LONG =>
      schema.getLogicalType match {
        case l if l != null && (l.getName == "timestamp-millis" || l.getName == "timestamp-micros") =>
          TimestampType
        case _ => LongType
      }
    case Schema.Type.FLOAT   => FloatType
    case Schema.Type.DOUBLE  => DoubleType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.BYTES | Schema.Type.FIXED =>
      schema.getLogicalType match {
        case d: org.apache.avro.LogicalTypes.Decimal =>
          DecimalType(d.getPrecision, d.getScale)
        case _ => BinaryType
      }
    case other => throw new IllegalArgumentException(s"unsupported Avro type $other")
  }

  private def isNullable(s: Schema): Boolean =
    s.getType == Schema.Type.UNION && s.getTypes.asScala.exists(_.getType == Schema.Type.NULL)
}
