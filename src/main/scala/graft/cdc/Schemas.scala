package graft.cdc

import org.apache.spark.sql.types._

/** Data model for the CDC comparison engine (SURVEY.md §1).
  *
  * Two record families, mirrored from the reference:
  *   - binlog events: the dynamic map emitted by the reference's text parser
  *     (reference json_parser.go:27,53) projected to the 8 fields the
  *     comparison consumes (reference compare_timestamps.go:13-22);
  *   - Avro change records, Datastream-shaped (reference
  *     compare_timestamps.go:43-64).
  *
  * Misspelled field names (`immediate_commmit_timestamp` with three m's,
  * `orignal_*`) are the reference's **on-disk contract**
  * (json_parser.go:95,102; compare_timestamps.go:16) and are kept verbatim at
  * the ingest boundary.
  */
object Schemas {

  /** Read schema for `binlog_metadata.json` (JSON lines, one event per line).
    * Extra keys on disk are ignored by the reader — the same projection the
    * reference applies via struct tags (compare_timestamps.go:130-134).
    * `_corrupt_record` is the PERMISSIVE-mode quarantine column (SURVEY P6/K3).
    */
  val binlogReadSchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("timestamp", StringType),                   // RFC3339, parsed later
    StructField("immediate_commmit_timestamp", StringType), // sic — 3 m's
    StructField("orignal_commmit_timestamp", StringType),   // sic
    StructField("log_position", LongType),
    StructField("table", StringType),
    StructField("schema", StringType),
    StructField("binlog_file", StringType),
    StructField("gtid_next", StringType),
    StructField("xid", LongType),
    StructField("_corrupt_record", StringType)
  ))

  /** One-field wrapper struct used by the Avro-JSON encoding of nullable
    * unions: `{"string": v}` / `{"long": v}` / `{"int": v}` / `{"boolean": v}`
    * (reference compare_timestamps.go:26-40).
    */
  private def wrapped(t: DataType): StructType = {
    val name = t match {
      case StringType  => "string"
      case LongType    => "long"
      case IntegerType => "int"
      case BooleanType => "boolean"
      case other       => other.typeName
    }
    StructType(Seq(StructField(name, t)))
  }

  /** Read schema for `avro_rows.json` — the avro-tools `tojson` intermediate
    * with union-wrapped values (reference avro_to_json.sh:60;
    * compare_timestamps.go:43-64). The payload is the reference author's demo
    * table; the engine treats payload as opaque / schema-parameterized.
    */
  val avroWrappedReadSchema: StructType = StructType(Seq(
    StructField("source_timestamp", LongType), // epoch millis, unwrapped
    StructField("source_metadata", StructType(Seq(
      StructField("database", StringType),
      StructField("table", StringType),
      StructField("change_type", wrapped(StringType)),
      StructField("gtid", wrapped(StringType)),
      StructField("datastream_master_server_uuid", wrapped(StringType)),
      StructField("datastream_master_server_id", wrapped(LongType)),
      StructField("binlog_file", wrapped(StringType)),
      StructField("binlog_position", wrapped(LongType)),
      StructField("is_deleted", wrapped(BooleanType)),
      StructField("primary_keys", ArrayType(StringType))
    ))),
    StructField("payload", StructType(Seq(
      StructField("order_id", wrapped(IntegerType)),
      StructField("customer_name", wrapped(StringType)),
      StructField("product_name", wrapped(StringType)),
      StructField("quantity", wrapped(IntegerType)),
      StructField("order_timestamp", wrapped(LongType))
    ))),
    StructField("_corrupt_record", StringType)
  ))

  /** Typed view of one `Comparator.compare` output row (SURVEY §1.4's
    * `Dataset[ComparisonResult]`): the full-outer pair key, presence flags,
    * the independent mismatch flags, and the prioritized status. */
  case class ComparisonResult(
      binlog_file: String,
      position: Long,
      b_present: Boolean,
      a_present: Boolean,
      ts_parse_error: Boolean,
      ts_mismatch: Boolean,
      gtid_mismatch: Boolean,
      change_type_mismatch: Boolean,
      inferred_change_type: String,
      is_dml: Boolean,
      status: String)

  /** Comparison outcome statuses — a strict generalization of the reference's
    * printf streams (compare_timestamps.go:189-191,218-227,242-244,267-268).
    */
  object Status {
    val Match              = "MATCH"
    val MismatchTs         = "MISMATCH_TS"
    val MismatchGtid       = "MISMATCH_GTID"
    val MismatchChangeType = "MISMATCH_CHANGE_TYPE"
    val AvroOnly           = "AVRO_ONLY"
    val BinlogOnly         = "BINLOG_ONLY"
    /** Unmatched binlog event that is not DML (e.g. XID): join-eligible but
      * excluded from the BINLOG_ONLY report (compare_timestamps.go:124 vs
      * :258-263). */
    val BinlogOnlySuppressed = "BINLOG_ONLY_SUPPRESSED"
  }
}
