package graft.cdc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Phase D — the report over a `Comparator.compare` result (SURVEY A1/A2;
  * reference compare_timestamps.go:279-290).
  *
  * Every count the report prints comes from ONE grouped aggregate,
  * [[rollup]]: rows, matched rows and ts-mismatched rows per
  * (schema, table, status). It is bounded by tables × statuses, so callers
  * collect it to the driver and derive both the per-table [[breakdown]]
  * and the five counters of the [[summary]] from the same rows. Detail rows
  * are never collected: [[detail]] stays a distributed, sorted frame.
  */
object Report {
  import Schemas.Status

  /** Rows, matched rows and ts-mismatched matched rows per
    * (schema, table, status). The schema and table come from the binlog
    * side when it has them, else from the Avro side. Columns: `schema`,
    * `table`, `status`, `count`, `matched`, `ts_mismatches`. */
  def rollup(compared: DataFrame): DataFrame = {
    val matchedRow = col("_a_present") && col("_b_present")
    compared
      .groupBy(
        coalesce(nullif(col("b_schema"), lit("")), col("a_database"), lit("")).as("schema"),
        coalesce(nullif(col("b_table"), lit("")), col("a_table"), lit("")).as("table"),
        col("status"))
      .agg(
        count(lit(1)).as("count"),
        count(when(matchedRow, 1)).as("matched"),
        count(when(matchedRow && col("ts_mismatch"), 1)).as("ts_mismatches"))
  }

  /** The reference's five counters plus the verdict, folded from collected
    * [[rollup]] rows into a one-row local frame:
    *   - `matched`      — Avro rows that found a binlog key (:195), mismatched
    *                      or not;
    *   - `mismatches`   — timestamp parse failures + tolerance violations
    *                      within the matched set (:209,:217); GTID/change-type
    *                      flags are *excluded*, as in the reference
    *                      (:228,:245);
    *   - `avro_only`    — probe misses (:188);
    *   - `binlog_only`  — unmatched binlog keys that are DML (:253-274);
    *   - `consistent`   — A2 verdict (:286-290).
    */
  def summary(spark: SparkSession, rollup: Seq[Row]): DataFrame = {
    def total(field: String, status: String => Boolean = _ => true): Long =
      rollup.filter(r => status(r.getAs[String]("status"))).map(_.getAs[Long](field)).sum
    val matched = total("matched")
    val mismatches = total("ts_mismatches")
    val avroOnly = total("count", _ == Status.AvroOnly)
    val binlogOnly = total("count", _ == Status.BinlogOnly)
    spark.createDataFrame(java.util.List.of(Row(matched, mismatches, avroOnly, binlogOnly,
      mismatches == 0L && avroOnly == 0L && binlogOnly == 0L)), SummarySchema)
  }

  /** [[summary]] of `compared`; runs its [[rollup]] when called. */
  def summary(compared: DataFrame): DataFrame =
    summary(compared.sparkSession, rollup(compared).collect().toSeq)

  private val SummarySchema = StructType(
    Seq("matched", "mismatches", "avro_only", "binlog_only")
      .map(StructField(_, LongType, nullable = false)) :+
      StructField("consistent", BooleanType, nullable = false))

  /** Generalized breakdown the reference can't produce but trivially collapses
    * to its numbers: counts per (schema, table, status) (SURVEY §2.4), from
    * collected [[rollup]] rows, without suppressed non-DML binlog rows. A
    * local frame of one partition, sorted by (schema, table, status) in
    * Spark's string order (UTF-8 bytes), so a write gives one file in
    * that order. */
  def breakdown(spark: SparkSession, rollup: Seq[Row]): DataFrame = {
    val order: Ordering[String] = Ordering.fromLessThan((a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
    val rows = rollup
      .filter(_.getAs[String]("status") != Status.BinlogOnlySuppressed)
      .map(r => Row(r.getAs[String]("schema"), r.getAs[String]("table"),
        r.getAs[String]("status"), r.getAs[Long]("count")))
      .sortBy(r => (r.getString(0), r.getString(1), r.getString(2)))(
        Ordering.Tuple3(order, order, order))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), BreakdownSchema).coalesce(1)
  }

  private val BreakdownSchema = StructType(
    Seq("schema", "table", "status").map(StructField(_, StringType, nullable = false)) :+
      StructField("count", LongType, nullable = false))

  /** Detail report — everything the reference prints line-by-line
    * (AVRO_ONLY / MISMATCH / BINLOG_ONLY streams), as data. Suppressed
    * non-DML unmatched binlog rows are excluded, matching the printed output.
    *
    * Sorted by (status, binlog_file, position). Leading with `status`
    * lets a `partitionBy("status")` write keep this global sort (its
    * required ordering is a prefix); without it the write adds a local
    * sort on `status` and the optimizer cuts the global sort down to a
    * range repartition, so each file held one sorted run per partition of
    * the compared frame. */
  def detail(compared: DataFrame): DataFrame =
    compared
      .filter(col("status") =!= Status.Match &&
              col("status") =!= Status.BinlogOnlySuppressed)
      .orderBy(col("status"), col("binlog_file"), col("position"))
}
