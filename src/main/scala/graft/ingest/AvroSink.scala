package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Native Avro container-file SINK — the write-side complement of
  * [[AvroSource]] (no spark-avro connector in this environment, so it
  * writes through avro-mapred: `AvroKeyOutputFormat` via
  * `saveAsNewAPIHadoopFile`). One container file per partition, written
  * in parallel — where the reference forks one JVM per file to CONVERT
  * avro (avro_to_json.sh:52-70), the engine both reads and writes the
  * container format in place.
  *
  * Schema mapping is the inverse of [[AvroSource.toStructType]]: nullable
  * fields become `["null", T]` unions, TimestampType becomes
  * timestamp-micros, nested structs/arrays/maps recurse.
  */
object AvroSink {

  def write(df: DataFrame, path: String, recordName: String = "Record"): Unit = {
    val sparkSchema = df.schema
    val avroSchema = toAvroSchema(sparkSchema, recordName)
    val schemaJson = avroSchema.toString

    val job = Job.getInstance(df.sparkSession.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, avroSchema)

    df.rdd
      .mapPartitions { rows =>
        val schema = new Schema.Parser().parse(schemaJson)
        rows.map { row =>
          (new AvroKey[GenericRecord](toRecord(row, schema)), NullWritable.get())
        }
      }
      .saveAsNewAPIHadoopFile(
        path,
        classOf[AvroKey[GenericRecord]],
        classOf[NullWritable],
        classOf[AvroKeyOutputFormat[GenericRecord]],
        job.getConfiguration)
  }

  /** StructType → Avro record schema (nullable ⇒ ["null", T] union). */
  def toAvroSchema(schema: StructType, recordName: String): Schema = {
    val fields = schema.fields.map { f =>
      val base = toAvroType(f.dataType, s"${recordName}_${f.name}")
      val t = if (f.nullable) Schema.createUnion(
        java.util.List.of(Schema.create(Schema.Type.NULL), base)) else base
      new Schema.Field(f.name, t,
        null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(recordName, null, "graft", false, fields.toList.asJava)
  }

  private def toAvroType(dt: DataType, nestedName: String): Schema = dt match {
    case StringType => Schema.create(Schema.Type.STRING)
    case LongType => Schema.create(Schema.Type.LONG)
    case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case ArrayType(et, containsNull) =>
      val e = toAvroType(et, nestedName + "_item")
      Schema.createArray(if (containsNull) Schema.createUnion(
        java.util.List.of(Schema.create(Schema.Type.NULL), e)) else e)
    case MapType(StringType, vt, valueContainsNull) =>
      val v = toAvroType(vt, nestedName + "_value")
      Schema.createMap(if (valueContainsNull) Schema.createUnion(
        java.util.List.of(Schema.create(Schema.Type.NULL), v)) else v)
    case st: StructType => toAvroSchema(st, nestedName)
    case other => throw new IllegalArgumentException(
      s"unsupported type for Avro write: $other")
  }

  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s

  private def toRecord(row: Row, schema: Schema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    schema.getFields.asScala.foreach { f =>
      val i = row.fieldIndex(f.name)
      rec.put(f.name, if (row.isNullAt(i)) null else toAvro(row.get(i), nonNull(f.schema())))
    }
    rec
  }

  private def toAvro(v: Any, s: Schema): Any = v match {
    case null => null
    case r: Row => toRecord(r, s)
    case ts: java.sql.Timestamp =>
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    case d: java.sql.Date =>
      d.toLocalDate.toEpochDay.toInt
    case bd: java.math.BigDecimal =>
      // unscaled big-endian bytes at the SCHEMA's scale (Avro decimal)
      val scale = s.getLogicalType.asInstanceOf[LogicalTypes.Decimal].getScale
      java.nio.ByteBuffer.wrap(
        bd.setScale(scale).unscaledValue().toByteArray)
    case seq: scala.collection.Seq[_] =>
      seq.map(toAvro(_, nonNull(s.getElementType))).asJava
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, vv) =>
        k.toString -> toAvro(vv, nonNull(s.getValueType))
      }.toMap.asJava
    case bytes: Array[Byte] => java.nio.ByteBuffer.wrap(bytes)
    case other => other
  }
}
