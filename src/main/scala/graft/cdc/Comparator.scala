package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The comparison engine — the reference's whole dataflow
  * (compare_timestamps.go:101-292) re-expressed as one declarative Spark plan:
  *
  *   prepareBinlog  →  filter P3/P4 + last-wins dedup          (phase A)
  *   prepareAvro    →  filter P5                               (phase B scan)
  *   compare        →  full-outer equi-join + flag expressions (phases B+C)
  *   Report.rollup  →  per-(schema, table, status) counts      (phase D)
  *
  * Scale notes (100 TB):
  *   - the reference's in-heap `map[BinlogKey]BinlogEvent` becomes the join —
  *     Catalyst/AQE pick broadcast vs shuffled-hash vs sort-merge from stats,
  *     and every choice is spillable and partition-parallel;
  *   - last-wins dedup is `max_by` in a sort aggregate (its buffer holds a
  *     struct, which a hash aggregate's fixed-width buffer cannot): a
  *     map-side partial agg after a local sort, one shuffle on the join key,
  *     instead of a window sort;
  *   - the binlog side carries only [[BinlogCompareColumns]] through the
  *     dedup, so a scan decodes only the columns the compare reads (the
  *     binary `binlog` scan then skips row images and event extras);
  *   - all comparison logic is `Column` expressions — whole-stage codegen,
  *     no per-row (de)serialization, no driver collects.
  */
object Comparator {
  import Normalize._
  import Schemas.Status

  /** @param toleranceMs  timestamp tolerance, strict `>` beyond it is a
    *                     mismatch (reference hard-codes 100 ms,
    *                     compare_timestamps.go:214)
    * @param strictChangeType corrected DELETE-suffix semantics instead of the
    *                     reference's dead branch (SURVEY E12) */
  case class Config(toleranceMs: Long = 100L, strictChangeType: Boolean = false)

  /** Go's `time.Time` zero value (year 1) in epoch micros: a binlog event with
    * *both* timestamp fields empty is compared against this and therefore
    * always mismatches (reference compare_timestamps.go:197-216). */
  val GoZeroTimeMicros: Long = -62135596800000000L

  /** The binlog value columns the compare reads, each with its renamed
    * `b_*` name: [[renameBinlogSide]] projects them and [[prepareBinlog]]
    * carries exactly these (besides the key and `_seq`) through its dedup. */
  private[graft] val BinlogCompareColumns: Seq[(String, String)] = Seq(
    "event_type" -> "b_event_type",
    "timestamp" -> "b_ts_str",
    "immediate_commmit_timestamp" -> "b_icts_str",
    "gtid_next" -> "b_gtid_next",
    "table" -> "b_table",
    "schema" -> "b_schema")

  /** P3/P4 + Go-zero-value normalization WITHOUT the dedup aggregate — the
    * streaming-safe prepare (a streaming aggregation cannot precede a
    * stream-stream join; live CDC feeds carry unique (file, position) keys,
    * dedup exists for re-read batch files). */
  def normalizeBinlog(raw: DataFrame): DataFrame =
    raw
      .withColumn("event_type", coalesce(col("event_type"), lit("")))
      .withColumn("binlog_file", coalesce(col("binlog_file"), lit("")))
      .withColumn("log_position", coalesce(col("log_position"), lit(0L)))
      .filter(isRelevantEventType(col("event_type")))                    // P3
      .filter(col("binlog_file") =!= "" && col("log_position") =!= 0L)  // P4

  /** Phase A (reference loadBinlogData, compare_timestamps.go:101-151):
    * relevance filter, zero-value key filter, last-wins dedup.
    *
    * Output: the key (`binlog_file`, `log_position`), the winning row's
    * [[BinlogCompareColumns]] and its `_seq`. Every other input column is
    * dropped before the dedup, so a pruning scan never reads it.
    *
    * @param raw    binlog events with at least the key and
    *               [[BinlogCompareColumns]]
    * @param seq    strictly increasing input-order column — the distributed
    *               stand-in for the reference's map-insert order (:147).
    *               Callers reading files should derive it from
    *               (file sequence, row index), not `monotonically_increasing_id`
    *               after a repartition.
    */
  def prepareBinlog(raw: DataFrame, seq: Column): DataFrame = {
    // Go zero values: a missing field decodes to ""/0, so null folds to the
    // zero value *before* the filters (reference :137-140 drops those rows).
    val normalized = normalizeBinlog(raw.withColumn("_seq", seq))

    // Last-wins dedup (map insert, reference :147) as max_by over the seq —
    // no window sort, one shuffle that the full-outer join below reuses
    // (same key). The max_by buffer holds a struct, which a hash
    // aggregate's fixed-width buffer cannot, so Spark plans a sort
    // aggregate: partial max_by per input partition after a local sort on
    // the key, the shuffle, a sort, then the final max_by.
    val valueCols = BinlogCompareColumns.map(_._1) :+ "_seq"
    normalized
      .groupBy(col("binlog_file"), col("log_position"))
      .agg(max_by(struct(valueCols.map(col): _*), col("_seq")).as("_v"))
      .select(col("binlog_file") +: col("log_position") +:
        valueCols.map(c => col("_v." + c).as(c)): _*)
  }

  /** Unwrap the Avro-JSON union wrappers and flatten `source_metadata` to the
    * comparison columns (reference compare_timestamps.go:26-64; wrappers
    * `{"string": v}` etc.). Input: `Schemas.avroWrappedReadSchema` shape. */
  def flattenWrappedAvro(raw: DataFrame): DataFrame =
    raw.select(
      col("source_timestamp"),
      col("source_metadata.database").as("database"),
      col("source_metadata.table").as("table"),
      col("source_metadata.change_type.string").as("change_type"),
      col("source_metadata.gtid.string").as("gtid"),
      col("source_metadata.binlog_file.string").as("binlog_file"),
      col("source_metadata.binlog_position.long").as("binlog_position"),
      col("source_metadata.is_deleted.boolean").as("is_deleted"),
      col("source_metadata.primary_keys").as("primary_keys")
    )

  /** Flatten a resolved (native-Avro) change record — same columns, no
    * wrappers (SURVEY §7.4). */
  def flattenResolvedAvro(raw: DataFrame): DataFrame =
    raw.select(
      col("source_timestamp"),
      col("source_metadata.database").as("database"),
      col("source_metadata.table").as("table"),
      col("source_metadata.change_type").as("change_type"),
      col("source_metadata.gtid").as("gtid"),
      col("source_metadata.binlog_file").as("binlog_file"),
      col("source_metadata.binlog_position").as("binlog_position"),
      col("source_metadata.is_deleted").as("is_deleted"),
      col("source_metadata.primary_keys").as("primary_keys")
    )

  /** Phase B input filter (reference :176-179): Go zero values as null.
    * `source_timestamp` also folds to its Go zero value (0 ⇒ epoch 1970,
    * reference compare_timestamps.go:44,213): a record missing the field
    * must compare against 1970 and hence mismatch, not slide through as a
    * null-propagated MATCH. */
  def prepareAvro(flat: DataFrame): DataFrame =
    flat
      .withColumn("binlog_file", coalesce(col("binlog_file"), lit("")))
      .withColumn("binlog_position", coalesce(col("binlog_position"), lit(0L)))
      .withColumn("source_timestamp", coalesce(col("source_timestamp"), lit(0L)))
      .filter(col("binlog_file") =!= "" && col("binlog_position") =!= 0L) // P5

  /** Phases B+C — the full-outer comparison (reference :154-274).
    *
    * Expects `prepareBinlog` / `prepareAvro` outputs. Avro-side key
    * duplicates keep join multiplicity (each Avro row compared independently,
    * reference :168-247); the binlog side is unique per key after dedup, so
    * BINLOG_ONLY rows appear exactly once per key (reference :253-274).
    *
    * Output: one row per joined pair with key columns, both sides' payloads
    * (`b_*` / `a_*`), boolean flag columns mirroring the reference's
    * independent printf streams, and a prioritized `status`.
    */
  def compare(binlog: DataFrame, avro: DataFrame, cfg: Config = Config()): DataFrame =
    compareJoined(binlog, avro, cfg, "full_outer")

  /** The canonical renamed binlog-side projection (`b_*` columns) consumed
    * by [[statusColumns]]. `keep` passes extra columns through unrenamed
    * (e.g. a streaming event-time/watermark column). */
  private[graft] def renameBinlogSide(binlog: DataFrame, keep: Seq[String] = Nil): DataFrame =
    binlog.select(Seq(col("binlog_file").as("b_file"), col("log_position").as("b_pos")) ++
      BinlogCompareColumns.map { case (c, b) => coalesce(col(c), lit("")).as(b) } ++
      Seq(lit(true).as("_b_present")) ++ keep.map(col): _*)

  /** The canonical renamed Avro-side projection (`a_*` columns). */
  private[graft] def renameAvroSide(avro: DataFrame, keep: Seq[String] = Nil): DataFrame =
    avro.select(Seq(
      col("binlog_file").as("a_file"),
      col("binlog_position").as("a_pos"),
      col("source_timestamp").as("a_source_ts_ms"),
      coalesce(col("gtid"), lit("")).as("a_gtid"),
      coalesce(col("change_type"), lit("")).as("a_change_type"),
      coalesce(col("database"), lit("")).as("a_database"),
      coalesce(col("table"), lit("")).as("a_table"),
      lit(true).as("_a_present")) ++ keep.map(col): _*)

  /** Same comparison columns over a caller-chosen join type. Structured
    * Streaming uses `left_outer` (stream side = avro): full-outer isn't
    * streamable, and BINLOG_ONLY inherently needs end-of-stream knowledge
    * (SURVEY §2.9) — see [[graft.streaming.StreamingComparator]].
    */
  private[graft] def compareJoined(
      binlog: DataFrame, avro: DataFrame, cfg: Config, joinType: String): DataFrame = {
    val b = renameBinlogSide(binlog)
    val a = renameAvroSide(avro)
    statusColumns(a.join(b,
      a("a_file") === b("b_file") && a("a_pos") === b("b_pos"), joinType), cfg)
  }

  /** E10 as a BAND over a tolerance sweep — the core shared by the batch
    * [[compareBandSweep]], the stream-static
    * [[graft.streaming.StreamingComparator.compareStreamBandSweep]] and the
    * stream-stream [[graft.streaming.StreamingComparator.compareStreamsBandSweep]].
    *
    * A pair is within tolerance iff |Δt| ≤ tol. With bucket width
    * W = `max(maxTol·1000, 1)` µs (tol = 0 ⇒ exact-µs buckets), two
    * timestamps within the COARSEST band land in the same or adjacent
    * buckets, so the binlog side explodes to its bucket ± 1 (constant 3×)
    * and pair discovery is an EQUI-join on (key, bucket) carrying the exact
    * band check ([[inBand]]) — never a theta join (q25's range-join shape).
    * Bands nest (|Δ| ≤ tol ⇒ |Δ| ≤ maxTol), so the |Δ| of a coarsest-band
    * partner decides every finer tolerance in a stateless post-join
    * projection ([[statuses]]): each side is joined once, whatever the
    * sweep width.
    *
    * CONTRACT: the binlog side is unique per (file, position) —
    * `prepareBinlog`'s last-wins dedup output, the expectation `compare`
    * documents. Then the three bucket rows of one binlog row carry distinct
    * buckets, so at most one can match a given avro row and the band join
    * never duplicates a pair. Callers keep their own join types,
    * watermark/time-bound predicates and E8 parse-error handling; the
    * both-empty Go-zero time does enter the band and matches nothing, so
    * that always-mismatch quirk falls out of the band itself.
    *
    * Columns: `_b_us`/`_b_bkt` on the binlog side, `_a_us`/`_a_bkt` on the
    * avro side; [[statuses]] drops all four. */
  private[graft] final class ToleranceBand(tols: Seq[Long]) {
    require(tols.nonEmpty, "a tolerance sweep needs at least one tolerance")
    private val maxUs = tols.max * 1000L
    private val width = math.max(maxUs, 1L)

    /** A renamed binlog side (`b_*` columns) with its E8 commit micros and
      * one row per bucket − 1, bucket, bucket + 1. */
    def bucketBinlog(b: DataFrame): DataFrame =
      b.withColumn("_b_us", binlogTsMicros)
        .withColumn("_b_nb", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("_b_bkt", expr(s"_b_us div ${width}L") + col("_b_nb"))
        .drop("_b_nb")

    /** A frame carrying `a_source_ts_ms` with its micros and bucket. */
    def bucketAvro(a: DataFrame): DataFrame =
      a.withColumn("_a_us", col("a_source_ts_ms") * 1000L)
        .withColumn("_a_bkt", expr(s"_a_us div ${width}L"))

    /** The band join condition at the coarsest tolerance (keys apart). */
    def inBand: Column =
      col("_a_bkt") === col("_b_bkt") && delta <= lit(maxUs)

    /** |Δ| of a banded pair, in µs. */
    def delta: Column = abs(col("_a_us") - col("_b_us"))

    /** One row per tolerance (`tolerance_ms`) with the comparison columns;
      * `pairDelta` is the pair's |Δ| µs, null when no partner lies within
      * the coarsest band — outside every tolerance then. A null
      * `a_source_ts_ms` gives a NULL verdict, as the default tolerance
      * expression does (coalesced match-ward in [[statusColumns]]). */
    def statuses(flagged: DataFrame, pairDelta: Column, cfg: Config): DataFrame = {
      val outside = when(col("a_source_ts_ms").isNull, lit(null).cast("boolean"))
        .otherwise(!coalesce(pairDelta <= col("tolerance_ms") * 1000L, lit(false)))
      statusColumns(flagged.withColumn("tolerance_ms", explode(typedlit(tols))),
        cfg, tsOutside = Some(outside))
        .drop("_a_us", "_a_bkt", "_b_us", "_b_bkt")
    }
  }

  /** The WHOLE tolerance sweep as ONE batch plan: for every `tol`, the
    * statuses of `compare(binlog, avro, Config(tol))`, bit for bit, from one
    * full-outer join and one [[ToleranceBand]] leg — a 5-tolerance sweep
    * reads each side twice in total instead of ten times. The band leg
    * carries the smallest |Δ| per (file, pos, avro-µs) membership key:
    * duplicate avro rows on one key are compared independently (reference
    * :168-247), and rows with equal timestamps are indistinguishable for
    * tolerance. Parse-error binlog rows never enter the band (they mismatch
    * by E8's rule). Same unique-(file, position) binlog-side contract as
    * the band core. Output: `compare`'s columns plus `tolerance_ms`. */
  def compareBandSweep(binlog: DataFrame, avro: DataFrame,
      tols: Seq[Long], cfg: Config = Config()): DataFrame = {
    val band = new ToleranceBand(tols)
    val b = renameBinlogSide(binlog)
    val a = renameAvroSide(avro)
    val joined = a.join(b,
      a("a_file") === b("b_file") && a("a_pos") === b("b_pos"), "full_outer")
    val bT = band.bucketBinlog(renameBinlogSide(binlog).filter(!binlogTsParseError))
      .select(col("b_file"), col("b_pos"), col("_b_us"), col("_b_bkt"))
    val aT = band.bucketAvro(renameAvroSide(avro))
      .select(col("a_file"), col("a_pos"), col("_a_us"), col("_a_bkt"))
    val within = bT.join(aT,
        col("b_file") === col("a_file") && col("b_pos") === col("a_pos") && band.inBand)
      .groupBy(col("a_file").as("_w_file"), col("a_pos").as("_w_pos"),
        col("_a_us").as("_w_us"))
      .agg(min(band.delta).as("_w_delta"))
    val flagged = joined.join(within,
        col("a_file") === col("_w_file") && col("a_pos") === col("_w_pos") &&
          col("a_source_ts_ms") * 1000L === col("_w_us"), "left")
      .drop("_w_file", "_w_pos", "_w_us")
    band.statuses(flagged, col("_w_delta"), cfg).drop("_w_delta")
  }

  /** The comparison flag/status expressions over an already-joined frame
    * carrying the canonical `b_*` / `a_*` columns — shared by the batch
    * full-outer plan and the streaming joins (which build their own join
    * with watermark/time-bound predicates). */
  private[graft] def statusColumns(joined: DataFrame, cfg: Config,
      tsOutside: Option[Column] = None): DataFrame = {
    // E8 timestamp coalesce + parse, with the reference's quirks
    // (compare_timestamps.go:197-216):
    //  - prefer immediate_commmit_timestamp (RFC3339Nano) else timestamp
    //    (RFC3339); a non-empty value that fails to parse is a counted
    //    mismatch and short-circuits the GTID/change-type checks (:206-211);
    //  - *both* empty ⇒ Go zero time (year 1) ⇒ always outside tolerance.
    val parseError = binlogTsParseError
    val binlogMicros = binlogTsMicros
    val avroMicros = col("a_source_ts_ms") * 1000L

    val bothPresent = col("_b_present") && col("_a_present")
    // tsOutside: caller-supplied out-of-band verdict (ToleranceBand)
    // replacing the default post-join tolerance expression — E8's
    // parse-error short-circuit stays in front either way
    val tsMismatch = parseError ||
      tsOutside.getOrElse(outsideTolerance(avroMicros, binlogMicros, cfg.toleranceMs))
    // E11 / E13 — flagged only; never counted in `mismatches`
    // (reference :228,:245 commented out); skipped after a parse error (:210).
    val gtidMismatch = !parseError &&
      col("a_gtid") =!= "" && col("b_gtid_next") =!= "" &&
      col("a_gtid") =!= col("b_gtid_next")
    // the inferred type is already upper case ("INSERT"/"UPDATE"/"DELETE"/"");
    // an `upper` over it would only be constant-folded at planning
    val inferredCt = inferredChangeType(col("b_event_type"), cfg.strictChangeType)
    val ctMismatch = !parseError &&
      col("a_change_type") =!= "" && inferredCt =!= "" &&
      upperCase(col("a_change_type")) =!= inferredCt

    joined
      .withColumn("_b_present", coalesce(col("_b_present"), lit(false)))
      .withColumn("_a_present", coalesce(col("_a_present"), lit(false)))
      .withColumn("binlog_file", coalesce(col("b_file"), col("a_file")))
      .withColumn("position", coalesce(col("b_pos"), col("a_pos")))
      .withColumn("ts_parse_error", bothPresent && coalesce(parseError, lit(false)))
      .withColumn("ts_mismatch", bothPresent && coalesce(tsMismatch, lit(false)))
      .withColumn("gtid_mismatch", bothPresent && coalesce(gtidMismatch, lit(false)))
      .withColumn("change_type_mismatch", bothPresent && coalesce(ctMismatch, lit(false)))
      .withColumn("inferred_change_type",
        when(col("_b_present"), inferredCt).otherwise(lit("")))
      .withColumn("is_dml", col("_b_present") && isDml(col("b_event_type")))
      .withColumn("status",
        when(!col("_b_present"), Status.AvroOnly)
          .when(!col("_a_present"),
            when(col("is_dml"), Status.BinlogOnly)
              .otherwise(Status.BinlogOnlySuppressed))
          .when(col("ts_mismatch"), Status.MismatchTs)
          .when(col("gtid_mismatch"), Status.MismatchGtid)
          .when(col("change_type_mismatch"), Status.MismatchChangeType)
          .otherwise(Status.Match))
      .drop("b_file", "b_pos", "a_file", "a_pos")
  }

  /** `upper(c)` without ICU for ASCII input. Spark's `upper` builds ICU's
    * case-mapping tables on its first evaluation in a JVM, a one-off build
    * that dominates a cold compare's peak memory; change types are ASCII in
    * practice, so ASCII rows (as many characters as bytes) fold a–z to A–Z
    * with `translate`. Other rows keep `upper` — dotless ı and long ſ fold
    * to I and S there — so the result equals `upper(c)` for every valid
    * UTF-8 input, and ICU's tables are built only if such a row is
    * evaluated. */
  private[graft] def upperCase(c: Column): Column =
    when(length(c) === octet_length(c),
      translate(c, "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
      .otherwise(upper(c))

  /** E8's parse-error predicate over the canonical `b_icts_str`/`b_ts_str`
    * columns — also derivable post-hoc from a `compare` output, which
    * keeps those columns (used by e.g. tolerance sweeps). */
  def binlogTsParseError: Column = {
    val icts = col("b_icts_str")
    val ts   = col("b_ts_str")
    (icts =!= "" && parseRfc3339(icts).isNull) ||
      (icts === "" && ts =!= "" && parseRfc3339(ts).isNull)
  }

  /** E8's coalesced binlog commit time in epoch micros (Go zero time when
    * both fields are empty) over the canonical `b_*` columns. */
  def binlogTsMicros: Column = {
    val icts = col("b_icts_str")
    val ts   = col("b_ts_str")
    when(icts =!= "", unix_micros(parseRfc3339(icts)))
      .when(ts =!= "", unix_micros(parseRfc3339(ts)))
      .otherwise(lit(GoZeroTimeMicros))
  }

  /** Typed projection of a `compare` output (SURVEY §1.4): the API-boundary
    * `Dataset[ComparisonResult]`; the untyped frame stays the internal
    * representation (pure Column expressions, no per-row deserialization
    * until a caller asks for the typed view). */
  def typed(compared: DataFrame): Dataset[Schemas.ComparisonResult] = {
    val spark = compared.sparkSession
    import spark.implicits._
    compared.select(
      col("binlog_file"), col("position"),
      col("_b_present").as("b_present"), col("_a_present").as("a_present"),
      col("ts_parse_error"), col("ts_mismatch"), col("gtid_mismatch"),
      col("change_type_mismatch"), col("inferred_change_type"), col("is_dml"),
      col("status")
    ).as[Schemas.ComparisonResult]
  }
}
