package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.Schemas

/** File sources (SURVEY §2.1). Each returns a DataFrame with the declared
  * read schema so Catalyst prunes columns at the scan and pushes filters
  * down; malformed lines land in `_corrupt_record` (PERMISSIVE mode), the
  * Spark equivalent of the reference's warn-and-skip (compare_timestamps.go:
  * 113-116,171-174) with a quarantine side-channel instead of stderr (K3).
  */
object Sources {

  /** S6 — `binlog_metadata.json` JSON-lines scan with explicit schema.
    * Accepts globs / directories / multi-paths (the reference's per-file
    * append loop is a multi-path UNION ALL, SURVEY §2.7). */
  def binlogJson(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .schema(Schemas.binlogReadSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(paths: _*)

  /** S7 — `avro_rows.json` (avro-tools `tojson` output, union-wrapped). */
  def avroJson(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .schema(Schemas.avroWrappedReadSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(paths: _*)

  /** A PERMISSIVE read split into (clean, quarantine), holding the shared
    * cache so callers can release it once both outputs are materialized
    * (long-lived sessions would otherwise accumulate cached partitions). */
  final case class QuarantinedRead(clean: DataFrame, quarantine: DataFrame,
      private val cached: DataFrame) {
    def unpersist(): Unit = { cached.unpersist(); () }
  }

  /** Split malformed rows out of a PERMISSIVE read: clean + quarantine.
    * The quarantine side carries the raw line for K3-style diagnostics.
    *
    * Spark refuses queries whose only referenced column is the internal
    * corrupt-record column (SPARK-21610), so the parsed frame is cached and
    * both sides read from it — one scan, both outputs. Call
    * `QuarantinedRead.unpersist()` when done.
    */
  def quarantine(df: DataFrame): QuarantinedRead = {
    val cached = df.cache()
    val bad = cached.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    val good = cached.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    QuarantinedRead(good, bad, cached)
  }

  /** S6, order-preserving — JSON-lines binlog read that derives the exact
    * within-file row order the reference's map-insert semantics depend on
    * (last-wins dedup, compare_timestamps.go:147).
    *
    * A split-parallel `spark.read.json` cannot provide this: Spark orders
    * partitions by split size, so partition index does not track row order
    * when a file spans several splits. Here each file is read whole
    * (`wholetext`, one task per file — the reference's own unit of work,
    * comparator.sh:85) and split into lines with `posexplode`, so `line_no`
    * IS the file order. Output: schema columns + `_corrupt_record` +
    * `binlog_file_from_path`, `file_seq` (E14/E15) and `line_no`; total
    * order = (file_seq, binlog_file_from_path, line_no), matching `ls -v`
    * for the `mysql-bin.NNNNNN` naming and falling back to basename order
    * for files without a numeric suffix.
    */
  def binlogJsonOrdered(spark: SparkSession, paths: String*): DataFrame = {
    val base = graft.cdc.Normalize.basename(input_file_name())
    spark.read.option("wholetext", true).text(paths: _*)
      .select(
        base.as("binlog_file_from_path"),
        graft.cdc.Normalize.fileSeq(base).as("file_seq"),
        posexplode(split(col("value"), "\n")).as(Seq("line_no", "_line")))
      .filter(trim(col("_line")) =!= "")
      .withColumn("_parsed", from_json(col("_line"), Schemas.binlogReadSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))
      // from_json leaves the corrupt column null on some failure shapes
      // (e.g. non-object JSON); fold those to the raw line for K3 parity.
      .withColumn("_corrupt_record",
        when(col("_parsed").isNull || col("_parsed._corrupt_record").isNotNull,
          col("_line")))
      .select(
        (Schemas.binlogReadSchema.fieldNames.toIndexedSeq
          .filterNot(_ == "_corrupt_record")
          .map(f => col("_parsed." + f).as(f)) ++
          Seq(col("_corrupt_record"), col("binlog_file_from_path"),
            col("file_seq"), col("line_no"))): _*)
  }
}
