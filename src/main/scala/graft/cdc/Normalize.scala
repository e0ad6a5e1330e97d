package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's scalar normalization / comparison expressions (SURVEY §2.3,
  * E1–E15) as pure `Column` functions. All built-ins — fully codegen'd, no
  * UDFs, so every expression stays inside WholeStageCodegen at scale.
  */
object Normalize {

  /** E4 — event-type classification from a header or `Event type:` value
    * (reference json_parser.go:55-66,124-131): canonical V2 DML names win,
    * otherwise strip one trailing "Event". */
  def classifyEventType(h: Column): Column =
    when(h.contains("WriteRowsEventV2"), "WriteRowsEventV2")
      .when(h.contains("UpdateRowsEventV2"), "UpdateRowsEventV2")
      .when(h.contains("DeleteRowsEventV2"), "DeleteRowsEventV2")
      .otherwise(regexp_replace(h, "Event$", ""))

  // ------------------------------------------------------------ timestamps

  /** RFC3339 shape guard: Go's `time.Parse(time.RFC3339, _)` requires the `T`
    * separator, a full date-time, and an explicit zone — Spark's cast is
    * laxer (accepts space separator, missing zone), so parity needs the shape
    * check up front. Fractional seconds allowed (Go accepts them even with
    * the second-precision layout). */
  val Rfc3339Pattern: String =
    "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d{1,9})?(Z|[+-]\\d{2}:\\d{2})$"

  /** Try-parse an RFC3339 / RFC3339Nano string; null when Go's parser would
    * error (reference compare_timestamps.go:200-204). Nanosecond digits are
    * truncated to Spark's microsecond precision — acceptable vs the 100 ms
    * comparison tolerance (SURVEY §1.3). */
  def parseRfc3339(c: Column): Column =
    when(c.rlike(Rfc3339Pattern), try_to_timestamp(c))

  // ------------------------------------------------------------- filenames

  /** E14 — basename extraction (reference json_parser.go:24). */
  def basename(path: Column): Column =
    element_at(split(path, "/"), -1)

  /** E15 — natural-version sort key for `mysql-bin.NNNNNN` names
    * (reference comparator.sh:85 `ls -v`). Null (not an ANSI cast error)
    * when the name has no numeric suffix — regexp_extract yields "" then,
    * which a bare cast rejects under Spark 4's default ANSI mode. */
  def fileSeq(name: Column): Column =
    nullif(regexp_extract(name, "\\.(\\d+)$", 1), lit("")).cast(LongType)

  // ------------------------------------------------------------ predicates

  /** P3 — relevant-event filter (reference compare_timestamps.go:124). */
  def isRelevantEventType(c: Column): Column =
    c.endsWith("RowsEventV2") || c === "XID"

  /** P7 — DML filter for the BINLOG_ONLY report; note the reference's
    * asymmetric six-suffix set (compare_timestamps.go:258-263) — V1 suffixes
    * are `WriteRowsEventV1` but `UpdateRowsV1`/`DeleteRowsV1`. */
  def isDml(c: Column): Column =
    Seq("WriteRowsEventV2", "UpdateRowsEventV2", "DeleteRowsEventV2",
        "WriteRowsEventV1", "UpdateRowsV1", "DeleteRowsV1")
      .map(s => c.endsWith(s)).reduce(_ || _)

  /** E12 — change-type inference from the binlog event type
    * (compare_timestamps.go:231-238). `strict = false` keeps the reference's
    * latent bug: the DELETE branch tests suffix `DeleteRowsV2`, which
    * `DeleteRowsEventV2` does **not** end with, so V2 deletes infer `""` and
    * can never raise a change-type mismatch. `strict = true` is the corrected
    * semantics. */
  def inferredChangeType(c: Column, strict: Boolean = false): Column = {
    val deleteSuffixes =
      if (strict) Seq("DeleteRowsEventV2", "DeleteRowsV1")
      else Seq("DeleteRowsV2", "DeleteRowsV1")
    when(c.endsWith("WriteRowsEventV2") || c.endsWith("WriteRowsV1"), "INSERT")
      .when(c.endsWith("UpdateRowsEventV2") || c.endsWith("UpdateRowsV1"), "UPDATE")
      .when(deleteSuffixes.map(s => c.endsWith(s)).reduce(_ || _), "DELETE")
      .otherwise(lit(""))
  }

  /** E10 — tolerance band comparison over epoch micros, strict `>`
    * (compare_timestamps.go:214-216). */
  def outsideTolerance(aMicros: Column, bMicros: Column, toleranceMs: Long): Column =
    abs(aMicros - bMicros) > toleranceMs * 1000L

  /** E10 with a column-valued tolerance (e.g. a tolerance sweep). */
  def outsideTolerance(aMicros: Column, bMicros: Column, toleranceMs: Column): Column =
    abs(aMicros - bMicros) > toleranceMs * 1000L
}
