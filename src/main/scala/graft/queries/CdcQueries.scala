package graft.queries

import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.cdc.{Comparator, Report}
import graft.queries.CdcFixtures.{fixtureBase, ivmFixture, decodeIvmDelta,
  ivmReport}
import graft.streaming.Drains.{drainBinlogFeed, drainIdempotentWithRedelivery,
  drainWithRedelivery, streamDirs, tmpFixtureDir, withDrainPartitions}

/** The CDC comparison engine (graft.cdc, SURVEY §2.5/§3.3) exercised through
  * the driver's oracle gate: both comparator inputs are synthesized
  * *deterministically* from the `events` table (pure integer arithmetic on
  * `event_id`/`user_id`/epoch seconds), the real `Comparator.compare` plan
  * produces the statuses, and the oracle SQL replays the reference
  * semantics — tolerance strict >100 ms, Go-zero-time on missing
  * timestamps, parse-error short-circuit, the dead V2-DELETE branch, XID
  * suppression — directly against the same arithmetic.
  *
  * Construction (binlog side; `error` events fall to the P3 relevance
  * filter, `signup` maps to XID):
  *   - key: file = mysql-bin.<user_id%4 padded>, position = event_id+4
  *   - icts: ''            when event_id%17=0  (→ fallback path)
  *           unparseable   when event_id%19=0  (→ counted mismatch)
  *           RFC3339(sec)  otherwise
  *   - timestamp: RFC3339(sec) when event_id%3=0 else '' (fallback cover)
  *   - gtid_next: uuid:<id> when event_id%23=0
  * Avro side (DML events only, dropping event_id%11=0 → BINLOG_ONLY):
  *   - source_timestamp: sec*1000 + 150 ms when event_id%7=0 (→ MISMATCH_TS)
  *   - change_type: 'INSERT' when event_id%5=0 else canonical map
  *   - gtid: uuid:<id+1> when event_id%23=0 (→ flagged mismatch)
  *   - extra AVRO_ONLY rows at position event_id+20000000 when event_id%13=0
  */
object CdcQueries {

  private def sides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (binlog, avroRaw) = sidesRaw(spark, dir)
    (binlog, Comparator.prepareAvro(avroRaw))
  }

  private val fixtureRfc = concat(date_format(timestamp_seconds(col("sec")),
    "yyyy-MM-dd'T'HH:mm:ss"), lit("Z"))
  private val fixtureFile = concat(lit("mysql-bin."),
    lpad((col("user_id") % 4).cast("string"), 6, "0"))

  /** The binlog side in its RAW (pre-normalize) JSON shape — what a feed
    * file contains. cdc16 streams this through `normalizeBinlog` inside
    * the streaming plan; `sidesRaw` prepares it for the static consumers. */
  private def binlogRawSide(spark: SparkSession, dir: String): DataFrame = {
    val rfc = fixtureRfc
    val file = fixtureFile
    fixtureBase(spark, dir)
      .filter(col("event_type") =!= "error")
      .select(
        when(col("event_type") === "purchase", "WriteRowsEventV2")
          .when(col("event_type") === "click", "UpdateRowsEventV2")
          .when(col("event_type") === "view", "DeleteRowsEventV2")
          .otherwise("XID").as("event_type"),
        when(col("event_id") % 3 === 0, rfc).otherwise(lit("")).as("timestamp"),
        when(col("event_id") % 17 === 0, lit(""))
          .when(col("event_id") % 19 === 0, lit("2024-01-01 12:00:00"))
          .otherwise(rfc).as("immediate_commmit_timestamp"),
        lit("").as("orignal_commmit_timestamp"),
        (col("event_id") + 4).as("log_position"),
        lit("events").as("table"),
        lit("app").as("schema"),
        file.as("binlog_file"),
        when(col("event_id") % 23 === 0, concat(lit("uuid:"), col("event_id")))
          .otherwise(lit("")).as("gtid_next"),
        col("event_id"))
  }

  /** The synthesized inputs with the avro side RAW (un-prepared): cdc12
    * streams the raw feed from disk and prepares it inside the streaming
    * plan, so the prepare projections are part of what the drain
    * exercises. Binlog side is returned prepared (it is the static side
    * in both consumers). */
  private def sidesRaw(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = fixtureBase(spark, dir)
    val file = fixtureFile

    val binlog = binlogRawSide(spark, dir)

    val dml = base.filter(col("event_type").isin("purchase", "click", "view"))
    val avroMain = dml
      .filter(col("event_id") % 11 =!= 0)
      .select(
        (col("sec") * 1000 +
          when(col("event_id") % 7 === 0, 150L).otherwise(0L)).as("source_timestamp"),
        lit("app").as("database"),
        lit("events").as("table"),
        when(col("event_id") % 5 === 0, lit("INSERT"))
          .otherwise(
            when(col("event_type") === "purchase", "INSERT")
              .when(col("event_type") === "click", "UPDATE")
              .otherwise("DELETE")).as("change_type"),
        when(col("event_id") % 23 === 0, concat(lit("uuid:"), col("event_id") + 1))
          .otherwise(lit("")).as("gtid"),
        file.as("binlog_file"),
        (col("event_id") + 4).as("binlog_position"))
    val avroExtra = dml
      .filter(col("event_id") % 13 === 0)
      .select(
        (col("sec") * 1000).as("source_timestamp"),
        lit("app").as("database"),
        lit("events").as("table"),
        lit("INSERT").as("change_type"),
        lit("").as("gtid"),
        file.as("binlog_file"),
        (col("event_id") + 20000000L).as("binlog_position"))

    val prepared = Comparator.prepareBinlog(binlog, col("event_id"))
    (prepared, avroMain.unionByName(avroExtra))
  }

  /** The three report queries are views over ONE comparison run — exactly
    * the reference's shape (compare_timestamps makes a single pass and
    * emits every report from it). Within a session the compared frame is
    * materialized once and shared; per (session, dir) so different scale
    * factors don't collide. Spill-safe storage level — at 100 TB this
    * would be a checkpoint/table, same idea. */
  private val comparedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def compared(spark: SparkSession, dir: String): DataFrame =
    comparedCache.computeIfAbsent((spark, dir), { _ =>
      val (b, a) = sides(spark, dir)
      Comparator.compare(b, a)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Unpersist and drop every comparison frame materialized by
    * [[compared]] — the hygiene hook for long-lived sessions (without it
    * cached partitions accumulate per (session, dir) forever; ADVICE
    * r2/r3). Safe to call between query batches: the next cdc query
    * simply re-materializes. */
  def releaseCache(): Unit = {
    val it = comparedCache.values().iterator()
    while (it.hasNext) it.next().unpersist()
    comparedCache.clear()
  }

  /** Shared oracle CTE: per-event flags replaying the comparator semantics. */
  private val oracleCte: String =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000000000 AS sec,
      |    'mysql-bin.' || lpad(CAST(user_id % 4 AS VARCHAR), 6, '0') AS bfile
      |  FROM events
      |), b AS (
      |  SELECT event_id, bfile, event_id + 4 AS pos,
      |    CASE event_type WHEN 'purchase' THEN 'WriteRowsEventV2'
      |         WHEN 'click' THEN 'UpdateRowsEventV2'
      |         WHEN 'view' THEN 'DeleteRowsEventV2' ELSE 'XID' END AS btype,
      |    CASE WHEN event_id % 17 = 0 THEN (CASE WHEN event_id % 3 = 0 THEN sec * 1000000 ELSE NULL END)
      |         WHEN event_id % 19 = 0 THEN NULL
      |         ELSE sec * 1000000 END AS binlog_us,
      |    (event_id % 17 <> 0 AND event_id % 19 = 0) AS parse_err,
      |    CASE WHEN event_id % 23 = 0 THEN 'uuid:' || event_id ELSE '' END AS gtid_next,
      |    CASE event_type WHEN 'purchase' THEN 'INSERT' WHEN 'click' THEN 'UPDATE' ELSE '' END AS inferred_ct,
      |    event_type IN ('purchase', 'click', 'view') AS is_dml
      |  FROM base WHERE event_type <> 'error'
      |), a AS (
      |  SELECT event_id, bfile, event_id + 4 AS pos,
      |    sec * 1000 + CASE WHEN event_id % 7 = 0 THEN 150 ELSE 0 END AS src_ms,
      |    CASE WHEN event_id % 5 = 0 THEN 'INSERT'
      |         ELSE CASE event_type WHEN 'purchase' THEN 'INSERT'
      |              WHEN 'click' THEN 'UPDATE' ELSE 'DELETE' END END AS ct,
      |    CASE WHEN event_id % 23 = 0 THEN 'uuid:' || (event_id + 1) ELSE '' END AS gtid
      |  FROM base WHERE event_type IN ('purchase', 'click', 'view') AND event_id % 11 <> 0
      |  UNION ALL
      |  SELECT event_id, bfile, event_id + 20000000 AS pos, sec * 1000, 'INSERT', ''
      |  FROM base WHERE event_type IN ('purchase', 'click', 'view') AND event_id % 13 = 0
      |), joined AS (
      |  SELECT b.bfile AS b_file, a.bfile AS a_file,
      |    COALESCE(b.pos, a.pos) AS position, b.pos IS NOT NULL AS b_present,
      |    a.pos IS NOT NULL AS a_present,
      |    COALESCE(b.parse_err, FALSE) AS parse_err,
      |    CASE WHEN b.pos IS NULL OR a.pos IS NULL THEN FALSE
      |         WHEN b.parse_err THEN TRUE
      |         WHEN b.binlog_us IS NULL THEN TRUE
      |         ELSE abs(a.src_ms * 1000 - b.binlog_us) > 100000 END AS ts_mis,
      |    CASE WHEN b.pos IS NULL OR a.pos IS NULL THEN FALSE
      |         WHEN b.parse_err THEN FALSE
      |         ELSE a.gtid <> '' AND b.gtid_next <> '' AND a.gtid <> b.gtid_next END AS gtid_mis,
      |    CASE WHEN b.pos IS NULL OR a.pos IS NULL THEN FALSE
      |         WHEN b.parse_err THEN FALSE
      |         ELSE a.ct <> '' AND b.inferred_ct <> '' AND upper(a.ct) <> upper(b.inferred_ct) END AS ct_mis,
      |    COALESCE(b.is_dml, FALSE) AS is_dml
      |  FROM b FULL OUTER JOIN a ON b.bfile = a.bfile AND b.pos = a.pos
      |), st AS (
      |  SELECT COALESCE(b_file, a_file) AS binlog_file, position, b_present, a_present,
      |    ts_mis, gtid_mis, ct_mis,
      |    CASE WHEN NOT b_present THEN 'AVRO_ONLY'
      |         WHEN NOT a_present THEN
      |           CASE WHEN is_dml THEN 'BINLOG_ONLY' ELSE 'BINLOG_ONLY_SUPPRESSED' END
      |         WHEN ts_mis THEN 'MISMATCH_TS'
      |         WHEN gtid_mis THEN 'MISMATCH_GTID'
      |         WHEN ct_mis THEN 'MISMATCH_CHANGE_TYPE'
      |         ELSE 'MATCH' END AS status
      |  FROM joined
      |)""".stripMargin

  // cdc01 — full comparison, grouped by outcome status.
  def cdc01StatusCounts(spark: SparkSession, dir: String): DataFrame =
    compared(spark, dir).groupBy("status").count().orderBy("status")

  val cdc01Oracle: String =
    oracleCte + "\nSELECT status, COUNT(*) AS count FROM st GROUP BY status ORDER BY status"

  // cdc02 — the reference's five-counter summary + verdict (Report.summary).
  def cdc02Summary(spark: SparkSession, dir: String): DataFrame =
    Report.summary(compared(spark, dir))

  val cdc02Oracle: String =
    oracleCte +
    """
      |SELECT
      |  CAST(COUNT(*) FILTER (WHERE a_present AND b_present) AS BIGINT) AS matched,
      |  CAST(COUNT(*) FILTER (WHERE a_present AND b_present AND ts_mis) AS BIGINT) AS mismatches,
      |  CAST(COUNT(*) FILTER (WHERE status = 'AVRO_ONLY') AS BIGINT) AS avro_only,
      |  CAST(COUNT(*) FILTER (WHERE status = 'BINLOG_ONLY') AS BIGINT) AS binlog_only,
      |  COUNT(*) FILTER (WHERE status = 'AVRO_ONLY') = 0
      |    AND COUNT(*) FILTER (WHERE status = 'BINLOG_ONLY') = 0
      |    AND COUNT(*) FILTER (WHERE a_present AND b_present AND ts_mis) = 0 AS consistent
      |FROM st""".stripMargin

  // cdc03 — per-binlog-file breakdown of statuses (the generalized report
  // the reference cannot produce, SURVEY §2.4).
  def cdc03FileBreakdown(spark: SparkSession, dir: String): DataFrame =
    compared(spark, dir).groupBy("binlog_file", "status").count()
      .orderBy("binlog_file", "status")

  val cdc03Oracle: String =
    oracleCte +
    "\nSELECT binlog_file, status, COUNT(*) AS count FROM st GROUP BY 1, 2 ORDER BY 1, 2"

  // cdc04 — tolerance sweep (E10's parameterized tolerance): status counts
  // at several tolerances in ONE pass over the cached comparison — the
  // compare output keeps the raw b_* timestamp strings, so the sweep
  // re-derives the band check per tolerance without re-joining.
  def cdc04ToleranceSweep(spark: SparkSession, dir: String): DataFrame = {
    import graft.cdc.{Comparator, Normalize, Schemas}
    val tols = Seq(0L, 50L, 100L, 250L, 1000L)
    val base = compared(spark, dir)
    val parseError = Comparator.binlogTsParseError
    val tsMis = col("_b_present") && col("_a_present") && coalesce(
      parseError || Normalize.outsideTolerance(
        col("a_source_ts_ms") * 1000L, Comparator.binlogTsMicros, col("tolerance_ms")),
      lit(false))
    base
      .select(col("*"), explode(typedlit(tols)).as("tolerance_ms"))
      .withColumn("status_t",
        when(!col("_b_present"), Schemas.Status.AvroOnly)
          .when(!col("_a_present"),
            when(col("is_dml"), Schemas.Status.BinlogOnly)
              .otherwise(Schemas.Status.BinlogOnlySuppressed))
          .when(tsMis, Schemas.Status.MismatchTs)
          .when(col("gtid_mismatch"), Schemas.Status.MismatchGtid)
          .when(col("change_type_mismatch"), Schemas.Status.MismatchChangeType)
          .otherwise(Schemas.Status.Match))
      .groupBy(col("tolerance_ms"), col("status_t").as("status"))
      .agg(count(lit(1)).as("count"))
      .orderBy("tolerance_ms", "status")
  }

  val cdc04Oracle: String =
    oracleCte +
    """, tol AS (
      |  SELECT unnest([0, 50, 100, 250, 1000]) AS tolerance_ms
      |), joined2 AS (
      |  SELECT b.bfile AS b_file, a.bfile AS a_file,
      |    b.pos IS NOT NULL AS b_present, a.pos IS NOT NULL AS a_present,
      |    COALESCE(b.parse_err, FALSE) AS parse_err,
      |    b.binlog_us, a.src_ms,
      |    CASE WHEN b.pos IS NULL OR a.pos IS NULL THEN FALSE
      |         WHEN b.parse_err THEN FALSE
      |         ELSE a.gtid <> '' AND b.gtid_next <> '' AND a.gtid <> b.gtid_next END AS gtid_mis,
      |    CASE WHEN b.pos IS NULL OR a.pos IS NULL THEN FALSE
      |         WHEN b.parse_err THEN FALSE
      |         ELSE a.ct <> '' AND b.inferred_ct <> '' AND upper(a.ct) <> upper(b.inferred_ct) END AS ct_mis,
      |    COALESCE(b.is_dml, FALSE) AS is_dml
      |  FROM b FULL OUTER JOIN a ON b.bfile = a.bfile AND b.pos = a.pos
      |)
      |SELECT CAST(tolerance_ms AS BIGINT) AS tolerance_ms, status, COUNT(*) AS count FROM (
      |  SELECT t.tolerance_ms,
      |    CASE WHEN NOT b_present THEN 'AVRO_ONLY'
      |         WHEN NOT a_present THEN
      |           CASE WHEN is_dml THEN 'BINLOG_ONLY' ELSE 'BINLOG_ONLY_SUPPRESSED' END
      |         WHEN parse_err OR binlog_us IS NULL
      |              OR abs(src_ms * 1000 - binlog_us) > t.tolerance_ms * 1000 THEN 'MISMATCH_TS'
      |         WHEN gtid_mis THEN 'MISMATCH_GTID'
      |         WHEN ct_mis THEN 'MISMATCH_CHANGE_TYPE'
      |         ELSE 'MATCH' END AS status
      |  FROM joined2, tol t)
      |GROUP BY tolerance_ms, status ORDER BY tolerance_ms, status""".stripMargin

  // cdc05 — S1 end-to-end under the oracle gate: the first 200 `orders`
  // rows are encoded into REAL binlog v4 binary files (CRC32-checksummed;
  // LONGLONG, BIT, ENUM-as-STRING, binary JSON, LONG, NEWDECIMAL, DATE,
  // VARCHAR columns — the metadata-bearing types deliberately placed
  // BEFORE the decimal/varchar columns so any TABLE_MAP metadata
  // misalignment corrupts them), decoded back through
  // `spark.read.format("binlog")`, and compared by the oracle against the
  // same parquet rows in DuckDB. Fixture generation is driver-side by
  // design (200 rows, a test vector — not a data path); the decode is the
  // distributed DSv2 scan under test. Reference Stage 1:
  // /root/reference/comparator.sh:85-101, README.md:35-52.
  def cdc05BinarySource(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc05Fixture(spark, dir)
    cdc05Projection(spark.read.format("binlog").load(fixtureDir))
      .orderBy("o_orderkey")
  }

  /** The cdc05 decode projection, shared verbatim with cdc13's streaming
    * drain so the two routes cannot drift. */
  private def cdc05Projection(decoded: DataFrame): DataFrame =
    decoded
      .filter(col("event_type") === "WriteRowsEventV2")
      .select(explode(col("row_images")).as("img"))
      .select(
        element_at(col("img"), 1).cast("long").as("o_orderkey"),
        element_at(col("img"), 2).cast("long").as("flags_bit"),
        element_at(col("img"), 3).cast("long").as("status_idx"),
        element_at(col("img"), 4).as("meta_json"),
        element_at(col("img"), 5).cast("long").as("o_custkey"),
        element_at(col("img"), 6).as("total_dec"),
        element_at(col("img"), 7).as("o_date"),
        element_at(col("img"), 8).as("priority"))

  /** Encode the cdc05 test vector: 200 orders rows → two checksummed
    * binlog files (two 50-row WRITE_ROWS events per file, wrapped in
    * GTID/BEGIN/XID). Deterministic bytes per input dir; rewritten on
    * every call (a few KB). */
  private def writeCdc05Fixture(spark: SparkSession, dir: String): String = {
    import graft.ingest.BinlogBinaryWriter._
    val rows = Tables.orders(spark, dir)
      .orderBy("o_orderkey")
      .limit(200)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        Tables.cents(col("o_totalprice")).as("cents"),
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"), col("o_orderpriority"))
      .collect()
    // loud driver-side bound: this collect is a 200-row test vector by
    // contract — fail fast if an edit ever widens it (judge r4 nit #1)
    require(rows.length <= 200,
      s"cdc05 fixture must stay a bounded test vector, got ${rows.length} rows")

    val cols = Seq(
      ColDef.longlong,          // o_orderkey
      ColDef.bit(12),           // o_orderkey % 4096
      ColDef.enum(1),           // o_orderstatus ordinal (F=1, O=2, P=3)
      ColDef.json(4),           // {"k": o_orderkey, "p": priority}
      ColDef.long,              // o_custkey
      ColDef.newDecimal(14, 2), // o_totalprice
      ColDef.date,              // o_orderdate
      ColDef.varchar(20))       // o_orderpriority

    def image(r: org.apache.spark.sql.Row): Seq[Option[Array[Byte]]] = {
      val key = r.getLong(0)
      val status = r.getString(2)
      val ordinal = status match { case "F" => 1; case "O" => 2; case "P" => 3 }
      Seq(
        Some(encLongLong(key)),
        Some(encBit(key % 4096, 12)),
        Some(encEnum(ordinal, 1)),
        Some(encJson(Json.JObj(Seq(
          "k" -> Json.JInt(key), "p" -> Json.JStr(r.getString(7)))), 4)),
        Some(encLong(r.getLong(1).toInt)),
        Some(encNewDecimal(r.getLong(3), 14, 2)),
        Some(encDate(r.getInt(4), r.getInt(5), r.getInt(6))),
        Some(encVarchar(r.getString(7), 20)))
    }

    val t0 = 1714564800L
    val sid = (1 to 16).map(_.toByte).toArray
    val out = tmpFixtureDir("graft_cdc05_", dir)
    out.mkdirs()
    rows.grouped(100).zipWithIndex.foreach { case (fileRows, fi) =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      f.event(t0, 33, gtidBody(sid, fi + 1L))
      f.event(t0, 2, queryBody("sf", "BEGIN"))
      fileRows.grouped(50).foreach { batch =>
        f.event(t0 + fi, 19, tableMapBody(11, "sf", "orders", cols))
        f.event(t0 + fi, 30, rowsBody(11, cols.size, batch.map(image).toSeq))
      }
      f.event(t0 + fi, 16, xidBody(1000L + fi))
      java.nio.file.Files.write(
        new java.io.File(out, f"mysql-bin.${fi + 1}%06d").toPath, f.bytes)
    }
    out.getPath
  }

  val cdc05Oracle: String =
    """SELECT o_orderkey,
      |  o_orderkey % 4096 AS flags_bit,
      |  CAST(CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 WHEN 'P' THEN 3 END AS BIGINT) AS status_idx,
      |  '{"k":' || CAST(o_orderkey AS VARCHAR) || ',"p":"' || o_orderpriority || '"}' AS meta_json,
      |  o_custkey,
      |  CAST(c // 100 AS VARCHAR) || '.' || lpad(CAST(c % 100 AS VARCHAR), 2, '0') AS total_dec,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |  o_orderpriority AS priority
      |FROM (SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS c
      |      FROM orders ORDER BY o_orderkey LIMIT 200)
      |ORDER BY o_orderkey""".stripMargin

  // The fixture/drain scaffolds (tmpFixtureDir, withDrainPartitions, the
  // drain/redelivery family) live in graft.streaming.Drains since r13 —
  // they serve six query families, so they belong to the streaming
  // package, not to this (sibling) queries file. The imports at the top
  // keep every historical call site below textually unchanged.

  // cdc06 — S2 end-to-end under the oracle gate: the first 300 `events`
  // rows are rendered into the reference decoder's TEXT block format
  // (`=== Header ===` + `key: value` lines — reference json_parser.go:26-53,
  // comparator.sh:91-95), parsed back by the distributed stateful block
  // parser (BinlogTextParser, SURVEY §2.10), and every typed field is
  // compared against DuckDB replaying the same derivations on the parquet
  // rows. The fixture deliberately exercises each parser branch: E1 headers
  // (incl. the `Event type:` override on an unknown header), E4
  // classification (XidEvent→Xid, QueryEvent→Query suffix-strip), E5 Date
  // parse + unparseable fallback, E6 BOTH high-precision layouts
  // (parenthesized RFC3339Nano extract; Go `-0700 MST` layout with
  // trailing-zero-trimmed fractions and a non-UTC offset) + raw
  // passthrough, E7 Log-position try-cast fallback into `extra`, E14/E15
  // basename + file_seq, P1 blank/`--` drops, and pre-header noise skip.
  def cdc06TextSource(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc06Fixture(spark, dir)
    graft.ingest.BinlogTextParser.parse(spark, fixtureDir).toDF()
      .select(col("event_type"), col("timestamp"),
        col("immediate_commmit_timestamp"), col("orignal_commmit_timestamp"),
        col("log_position"), col("table"), col("schema"), col("query"),
        col("gtid_next"), col("xid"), col("binlog_file"), col("file_seq"),
        col("event_index"),
        element_at(col("extra"), "fallback_note").as("raw_pos"))
      .orderBy("binlog_file", "event_index")
  }

  /** Render the cdc06 test vector: 300 events rows → three decoder-text
    * files (one per user_id%3) in the reference's block format. Driver-side
    * by design (bounded test vector, a few KB); the distributed parse is
    * what's under test. Deterministic bytes per input dir. */
  private def writeCdc06Fixture(spark: SparkSession, dir: String): String = {
    val rows = Tables.events(spark, dir)
      .orderBy("event_id")
      .limit(300)
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), expr("ts div 1000000000").cast("long").as("sec"))
      .collect()
    require(rows.length <= 300,
      s"cdc06 fixture must stay a bounded test vector, got ${rows.length} rows")

    val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    def secStr(sec: Long) = dateFmt.format(java.time.Instant.ofEpochSecond(sec))

    val out = tmpFixtureDir("graft_cdc06_", dir)
    out.mkdirs()
    rows.groupBy(r => r.getLong(1) % 3 + 1).foreach { case (seq, fileRows) =>
      val sb = new StringBuilder
      sb ++= "binlog decoder text dump\n"  // pre-header noise: parser skips
      sb ++= "stray key: stray value\n\n"  // kv before any header: skipped
      fileRows.sortBy(_.getLong(0)).foreach { r =>
        val id = r.getLong(0); val typ = r.getString(2); val sec = r.getLong(3)
        val us = id % 1000000L
        val header = typ match {
          case "purchase" => if (id % 37 == 0) "UnknownEvent" else "WriteRowsEventV2"
          case "click"    => "UpdateRowsEventV2"
          case "view"     => "DeleteRowsEventV2"
          case "signup"   => "XidEvent"
          case _          => "QueryEvent"
        }
        sb ++= s"=== $header ===\n"
        if (typ == "purchase" && id % 37 == 0)
          sb ++= "Event type: WriteRowsEventV2 (42)\n"   // override path
        sb ++= s"Date: ${if (id % 31 == 0) "bad-date" else secStr(sec)}\n"
        sb ++= s"Log position: ${if (id % 29 == 0) s"pos-$id" else (id + 4).toString}\n"
        // non-numeric positions collapse into the typed-null deviation (E7);
        // a parallel unwhitelisted key keeps the raw value reachable via
        // `extra`, which is the map path this line exercises
        if (id % 29 == 0) sb ++= s"Fallback note: pos-$id\n"
        sb ++= "Table: events\nSchema: app\n"
        val icts = (id % 3) match {
          case 0 => f"${sec * 1000000 + us}%d (${secStr(sec).replace(' ', 'T')}%s.$us%06dZ)"
          case 1 =>
            val zone = if (id % 41 == 0) "+0530 IST" else "+0000 UTC"
            f"${secStr(sec)}%s.$us%06d $zone%s"
          case _ => s"icts-raw-$id"
        }
        sb ++= s"Immediate commmit timestamp: $icts\n"
        if (id % 43 == 0)
          sb ++= s"Orignal commmit timestamp: ${secStr(sec)} +0000 UTC\n"
        if (id % 23 == 0) sb ++= s"GTID_NEXT: uuid:$id\n"
        if (typ == "signup") sb ++= s"XID: $id\n"
        if (typ != "purchase" && typ != "click" && typ != "view" && typ != "signup")
          sb ++= s"Query: ROLLBACK /* $id */\n"
        sb ++= "--\n\n"
      }
      java.nio.file.Files.write(
        new java.io.File(out, f"mysql-bin.$seq%06d").toPath,
        sb.toString.getBytes("UTF-8"))
    }
    out.getPath
  }

  val cdc06Oracle: String =
    """WITH src AS (
      |  SELECT CAST(event_id AS BIGINT) AS id, CAST(user_id AS BIGINT) AS uid,
      |         event_type, epoch_ns(ts) // 1000000000 AS sec
      |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 300)
      |), f AS (
      |  SELECT *,
      |    'mysql-bin.' || lpad(CAST(uid % 3 + 1 AS VARCHAR), 6, '0') AS bfile,
      |    strftime(make_timestamp(sec * 1000000), '%Y-%m-%dT%H:%M:%S') AS sec_t,
      |    lpad(CAST(id % 1000000 AS VARCHAR), 6, '0') AS us6
      |  FROM src
      |)
      |SELECT
      |  CASE event_type WHEN 'purchase' THEN 'WriteRowsEventV2'
      |       WHEN 'click' THEN 'UpdateRowsEventV2'
      |       WHEN 'view' THEN 'DeleteRowsEventV2'
      |       WHEN 'signup' THEN 'Xid' ELSE 'Query' END AS event_type,
      |  CASE WHEN id % 31 = 0 THEN '' ELSE sec_t || 'Z' END AS "timestamp",
      |  CASE WHEN id % 3 = 0 THEN sec_t || '.' || us6 || 'Z'
      |       WHEN id % 3 = 1 THEN sec_t ||
      |         CASE WHEN rtrim(us6, '0') = '' THEN '' ELSE '.' || rtrim(us6, '0') END ||
      |         CASE WHEN id % 41 = 0 THEN '+05:30' ELSE 'Z' END
      |       ELSE 'icts-raw-' || CAST(id AS VARCHAR) END AS immediate_commmit_timestamp,
      |  CASE WHEN id % 43 = 0 THEN sec_t || 'Z' ELSE '' END AS orignal_commmit_timestamp,
      |  CAST(CASE WHEN id % 29 = 0 THEN NULL ELSE id + 4 END AS BIGINT) AS log_position,
      |  'events' AS "table", 'app' AS "schema",
      |  CASE WHEN event_type NOT IN ('purchase', 'click', 'view', 'signup')
      |       THEN 'ROLLBACK /* ' || CAST(id AS VARCHAR) || ' */' ELSE '' END AS query,
      |  CASE WHEN id % 23 = 0 THEN 'uuid:' || CAST(id AS VARCHAR) ELSE '' END AS gtid_next,
      |  CAST(CASE WHEN event_type = 'signup' THEN id ELSE NULL END AS BIGINT) AS xid,
      |  bfile AS binlog_file,
      |  uid % 3 + 1 AS file_seq,
      |  row_number() OVER (PARTITION BY bfile ORDER BY id) - 1 AS event_index,
      |  CASE WHEN id % 29 = 0 THEN 'pos-' || CAST(id AS VARCHAR) ELSE NULL END AS raw_pos
      |FROM f
      |ORDER BY binlog_file, event_index""".stripMargin

  // cdc07 — S3/S4 end-to-end under the oracle gate: a 400-row orders slice
  // is written as REAL Avro container files by the engine's own parallel
  // sink (AvroSink → 4 containers, executor-side — no driver collect),
  // read back through the splittable DSv2 `avrofile` scan, and compared by
  // DuckDB against the same parquet rows. Exercises the full writer→reader
  // type family: long, string, nullable-union string, decimal-free money
  // (integer cents), Avro `date` logical type, and timestamp-micros.
  // Reference surface: avro_to_json.sh:52-70 (the per-file tojson loop).
  def cdc07AvroSource(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc07Fixture(spark, dir)
    spark.read.format("avrofile").load(fixtureDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("total_cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("clerk"), col("o_orderpriority"),
        date_format(col("fake_ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy("o_orderkey")
  }

  /** Write the cdc07 fixture: 400 orders rows → 4 Avro container files via
    * the distributed AvroSink (the engine's write path IS part of what the
    * gate exercises). Rewritten on every call; stale output removed first
    * (the Hadoop committer refuses to overwrite). */
  private def writeCdc07Fixture(spark: SparkSession, dir: String): String = {
    val out = tmpFixtureDir("graft_cdc07_", dir) // deletes stale output; the
    // Hadoop committer creates the directory itself
    val slice = Tables.orders(spark, dir).orderBy("o_orderkey").limit(400)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        Tables.cents(col("o_totalprice")).as("total_cents"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        when(col("o_orderkey") % 10 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("clerk-"), col("o_custkey") % 100)).as("clerk"),
        col("o_orderpriority"),
        timestamp_seconds(col("o_orderkey") + 1700000000L).as("fake_ts"))
    graft.ingest.AvroSink.write(
      slice.repartition(4, col("o_orderkey")), out.getPath)
    out.getPath
  }

  val cdc07Oracle: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |  CASE WHEN o_orderkey % 10 = 0 THEN NULL
      |       ELSE 'clerk-' || CAST(o_custkey % 100 AS VARCHAR) END AS clerk,
      |  o_orderpriority,
      |  strftime(make_timestamp((o_orderkey + 1700000000) * 1000000),
      |           '%Y-%m-%d %H:%M:%S') AS ts_s
      |FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 400)
      |ORDER BY o_orderkey""".stripMargin

  // cdc08 — S6 end-to-end under the oracle gate: 250 events rows rendered
  // as `binlog_metadata.json` JSON-lines files (FIXTURES §1.3 shape, two
  // files, a malformed line injected after every 50 rows), read back by
  // the ORDER-PRESERVING wholetext+posexplode scan
  // (Sources.binlogJsonOrdered — the read the last-wins dedup depends on),
  // and compared field-by-field in DuckDB. The oracle replays the line
  // numbering including the malformed lines' slots, so the quarantine
  // drops are visible as line_no gaps, and (file_seq, line_no) pins E14/
  // E15 + the within-file order.
  def cdc08JsonSource(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc08Fixture(spark, dir)
    graft.ingest.Sources.binlogJsonOrdered(spark, fixtureDir)
      .filter(col("_corrupt_record").isNull)
      .select(col("event_type"), col("timestamp"),
        col("immediate_commmit_timestamp"), col("log_position"),
        col("table"), col("schema"), col("binlog_file"), col("gtid_next"),
        col("xid"), col("binlog_file_from_path"), col("file_seq"),
        col("line_no"))
      .orderBy("file_seq", "line_no")
  }

  private def writeCdc08Fixture(spark: SparkSession, dir: String): String = {
    val rows = Tables.events(spark, dir)
      .orderBy("event_id")
      .limit(250)
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), expr("ts div 1000000000").cast("long").as("sec"))
      .collect()
    require(rows.length <= 250,
      s"cdc08 fixture must stay a bounded test vector, got ${rows.length} rows")

    val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    def secT(sec: Long) = dateFmt.format(java.time.Instant.ofEpochSecond(sec))

    val out = tmpFixtureDir("graft_cdc08_", dir)
    out.mkdirs()
    rows.groupBy(r => r.getLong(1) % 2 + 1).foreach { case (seq, fileRows) =>
      val sb = new StringBuilder
      fileRows.sortBy(_.getLong(0)).zipWithIndex.foreach { case (r, idx) =>
        val id = r.getLong(0); val typ = r.getString(2); val sec = r.getLong(3)
        val et = typ match {
          case "purchase" => "WriteRowsEventV2"
          case "click"    => "UpdateRowsEventV2"
          case "view"     => "DeleteRowsEventV2"
          case "signup"   => "XID"
          case _          => "Query"
        }
        val fields = collection.mutable.ArrayBuffer(
          s""""event_type":"$et"""",
          s""""timestamp":"${secT(sec)}Z"""")
        if (id % 3 == 0)
          fields += f""""immediate_commmit_timestamp":"${secT(sec)}%s.${id % 1000000}%06dZ""""
        fields += s""""log_position":${id + 4}"""
        fields += s""""table":"events""""
        fields += s""""schema":"app""""
        fields += f""""binlog_file":"mysql-bin.$seq%06d""""
        if (id % 23 == 0) fields += s""""gtid_next":"uuid:$id""""
        if (typ == "signup") fields += s""""xid":$id"""
        sb ++= fields.mkString("{", ",", "}") + "\n"
        if ((idx + 1) % 50 == 0)
          sb ++= s"{corrupt line $idx\n"     // quarantine path (P6/K3)
      }
      java.nio.file.Files.write(
        new java.io.File(out, f"mysql-bin.$seq%06d").toPath,
        sb.toString.getBytes("UTF-8"))
    }
    out.getPath
  }

  val cdc08Oracle: String =
    """WITH src AS (
      |  SELECT CAST(event_id AS BIGINT) AS id, CAST(user_id AS BIGINT) AS uid,
      |         event_type, epoch_ns(ts) // 1000000000 AS sec
      |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 250)
      |), f AS (
      |  SELECT *,
      |    'mysql-bin.' || lpad(CAST(uid % 2 + 1 AS VARCHAR), 6, '0') AS bfile,
      |    strftime(make_timestamp(sec * 1000000), '%Y-%m-%dT%H:%M:%S') AS sec_t,
      |    lpad(CAST(id % 1000000 AS VARCHAR), 6, '0') AS us6,
      |    row_number() OVER (PARTITION BY uid % 2 ORDER BY id) - 1 AS idx
      |  FROM src
      |)
      |SELECT
      |  CASE event_type WHEN 'purchase' THEN 'WriteRowsEventV2'
      |       WHEN 'click' THEN 'UpdateRowsEventV2'
      |       WHEN 'view' THEN 'DeleteRowsEventV2'
      |       WHEN 'signup' THEN 'XID' ELSE 'Query' END AS event_type,
      |  sec_t || 'Z' AS "timestamp",
      |  CASE WHEN id % 3 = 0 THEN sec_t || '.' || us6 || 'Z' ELSE NULL END
      |    AS immediate_commmit_timestamp,
      |  id + 4 AS log_position,
      |  'events' AS "table", 'app' AS "schema",
      |  bfile AS binlog_file,
      |  CASE WHEN id % 23 = 0 THEN 'uuid:' || CAST(id AS VARCHAR) ELSE NULL END AS gtid_next,
      |  CAST(CASE WHEN event_type = 'signup' THEN id ELSE NULL END AS BIGINT) AS xid,
      |  bfile AS binlog_file_from_path,
      |  uid % 2 + 1 AS file_seq,
      |  CAST(idx + idx // 50 AS INT) AS line_no
      |FROM f ORDER BY file_seq, line_no""".stripMargin

  // cdc09 — S7 end-to-end under the oracle gate: 250 orders rows rendered
  // as `avro_rows.json` (the avro-tools tojson union-wrapped encoding,
  // FIXTURES §3.3 — `{"string": v}` / `{"long": v}` wrappers, nested
  // source_metadata, a primary_keys array), read by Sources.avroJson,
  // un-wrapped by Comparator.flattenWrappedAvro, and compared in DuckDB.
  def cdc09AvroJsonSource(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc09Fixture(spark, dir)
    Comparator.flattenWrappedAvro(
        graft.ingest.Sources.avroJson(spark, fixtureDir)
          .filter(col("_corrupt_record").isNull))
      .select(col("source_timestamp"), col("database"), col("table"),
        col("change_type"), col("gtid"), col("binlog_file"),
        col("binlog_position"), col("is_deleted"),
        concat_ws(",", col("primary_keys")).as("pk_csv"))
      .orderBy("binlog_position")
  }

  private def writeCdc09Fixture(spark: SparkSession, dir: String): String = {
    val rows = Tables.orders(spark, dir)
      .orderBy("o_orderkey")
      .limit(250)
      .select(col("o_orderkey").cast("long"), col("o_orderstatus"))
      .collect()
    require(rows.length <= 250,
      s"cdc09 fixture must stay a bounded test vector, got ${rows.length} rows")

    val out = tmpFixtureDir("graft_cdc09_", dir)
    out.mkdirs()
    // max(1, …): grouped(0) throws on an empty slice — an empty orders
    // table should yield an empty result, not a driver exception
    rows.grouped(math.max(1, (rows.length + 1) / 2)).zipWithIndex.foreach { case (half, fi) =>
      val sb = new StringBuilder
      half.foreach { r =>
        val k = r.getLong(0); val st = r.getString(1)
        val ct = st match {
          case "F" => "UPDATE"
          case "O" => "INSERT"
          case _   => "DELETE"
        }
        val gtid =
          if (k % 7 == 0) s""","gtid":{"string":"uuid:$k"}""" else ""
        sb ++= s"""{"source_timestamp":${1714564800000L + k * 1000},""" +
          s""""source_metadata":{"database":"shop","table":"orders",""" +
          s""""change_type":{"string":"$ct"}$gtid,""" +
          f""""binlog_file":{"string":"mysql-bin.${k % 3 + 1}%06d"},""" +
          s""""binlog_position":{"long":${k + 4}},""" +
          s""""is_deleted":{"boolean":${ct == "DELETE"}},""" +
          s""""primary_keys":["id","k${k % 5}"]},"payload":{}}""" + "\n"
      }
      java.nio.file.Files.write(
        new java.io.File(out, s"avro_rows_$fi.json").toPath,
        sb.toString.getBytes("UTF-8"))
    }
    out.getPath
  }

  val cdc09Oracle: String =
    """SELECT
      |  1714564800000 + o_orderkey * 1000 AS source_timestamp,
      |  'shop' AS database, 'orders' AS "table",
      |  CASE o_orderstatus WHEN 'F' THEN 'UPDATE' WHEN 'O' THEN 'INSERT'
      |       ELSE 'DELETE' END AS change_type,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 'uuid:' || CAST(o_orderkey AS VARCHAR)
      |       ELSE NULL END AS gtid,
      |  'mysql-bin.' || lpad(CAST(o_orderkey % 3 + 1 AS VARCHAR), 6, '0') AS binlog_file,
      |  o_orderkey + 4 AS binlog_position,
      |  o_orderstatus NOT IN ('F', 'O') AS is_deleted,
      |  'id,k' || CAST(o_orderkey % 5 AS VARCHAR) AS pk_csv
      |FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 250)
      |ORDER BY binlog_position""".stripMargin

  // cdc10 — the SQL-DDL/catalog route under the gate (d09 pattern, r7
  // VERDICT stretch): cdc05's binary decode, but reached through
  // `CREATE TABLE ... USING binlog OPTIONS(path ...)` + `spark.table`
  // instead of `format("binlog").load` — the exact surface a thrift/JDBC
  // or pure-SQL user gets. Shares cdc05's fixture and oracle; a mismatch
  // here with a green cdc05 isolates a catalog-resolution bug.
  // Table lifecycle: DROP IF EXISTS + CREATE on every call (idempotent
  // re-runs); the table intentionally survives the call — the returned
  // DataFrame is lazy, so dropping here would break its execution. The
  // driver sessions use the default in-memory catalog (session-scoped,
  // like the temp views d09/t07 leave behind); a deployment with a
  // persistent metastore should treat the fixed name as scratch.
  def cdc10CatalogSource(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc05Fixture(spark, dir)
    spark.sql("DROP TABLE IF EXISTS graft_cdc10_binlog")
    spark.sql(
      s"CREATE TABLE graft_cdc10_binlog USING binlog OPTIONS (path '$fixtureDir')")
    cdc05Projection(spark.table("graft_cdc10_binlog"))
      .orderBy("o_orderkey")
  }

  // cdc11 — DDL symmetry for the SECOND DSv2 source (r8 VERDICT missing
  // item #1): cdc07's Avro container read, but reached through
  // `CREATE TABLE ... USING avrofile OPTIONS(path ...)` + `spark.table`.
  // Shares cdc07's fixture, projection, and oracle, so a mismatch here
  // with a green cdc07 isolates catalog resolution of the avrofile
  // provider — previously only spec-asserted (CatalogDdlSpec), invisible
  // to the gate. Same table-lifecycle notes as cdc10.
  def cdc11CatalogAvro(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc07Fixture(spark, dir)
    spark.sql("DROP TABLE IF EXISTS graft_cdc11_avro")
    spark.sql(
      s"CREATE TABLE graft_cdc11_avro USING avrofile OPTIONS (path '$fixtureDir')")
    spark.table("graft_cdc11_avro")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("total_cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("clerk"), col("o_orderpriority"),
        date_format(col("fake_ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy("o_orderkey")
  }

  // cdc19 — Avro writer-schema EVOLUTION under the oracle gate: one
  // delivery directory holding containers from TWO generations of the
  // same feed — the legacy generation carries a field the current schema
  // dropped (`legacy_note`), the evolved generation carries a field the
  // legacy writers never knew (`clerk`, nullable with a null default) —
  // read back through one `avrofile` scan. That is the situation every
  // long-lived CDC bucket is in after a producer deploy; Avro's
  // writer→reader resolution (reader schema = the name-first file's
  // header, per-file writer schemas from each container, defaults fill
  // missing fields, unknown fields are skipped) must make the mixed
  // directory read as ONE table. The gate proves all four resolution
  // legs: legacy rows surface with clerk = NULL (reader default), evolved
  // rows carry their values, legacy_note vanishes, and both generations'
  // shared columns decode identically (the oracle replays the generation
  // split from the key parity).
  def cdc19SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc19Fixture(spark, dir)
    spark.read.format("avrofile").load(fixtureDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("total_cents"), col("clerk"))
      .orderBy("o_orderkey")
  }

  /** Write the cdc19 fixture: the same 400-order slice split by key parity
    * across two WRITER schemas — odd keys under the legacy schema (shared
    * columns + `legacy_note`, no `clerk`), even keys under the evolved
    * schema (shared columns + nullable `clerk`) — each written by the
    * engine's own parallel AvroSink, then spliced into ONE delivery dir
    * with the evolved containers named to sort FIRST (schema inference
    * reads the name-minimum file's header, so the reader schema is the
    * evolved one — exactly the "latest deploy wins" posture of a real
    * feed). */
  private def writeCdc19Fixture(spark: SparkSession, dir: String): String = {
    val out = tmpFixtureDir("graft_cdc19_", dir)
    val base = Tables.orders(spark, dir).orderBy("o_orderkey").limit(400)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        Tables.cents(col("o_totalprice")).as("total_cents"))
    val evolved = base.filter(col("o_orderkey") % 2 === 0)
      .withColumn("clerk",
        when(col("o_custkey").isNotNull,
          concat(lit("clerk-"), col("o_custkey") % 100)))
    val legacy = base.filter(col("o_orderkey") % 2 =!= 0)
      .withColumn("legacy_note", concat(lit("legacy-"), col("o_orderkey")))
    val w2 = new java.io.File(out, "w2")
    val w1 = new java.io.File(out, "w1")
    graft.ingest.AvroSink.write(evolved.repartition(2, col("o_orderkey")), w2.getPath)
    graft.ingest.AvroSink.write(legacy.repartition(2, col("o_orderkey")), w1.getPath)
    def splice(src: java.io.File, prefix: String): Unit = {
      val parts = Option(src.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(out, f"${prefix}_$i%03d.avro").toPath)
      }
      java.nio.file.Files.walk(src.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    splice(w2, "a_evolved") // evolved first by name ⇒ reader schema
    splice(w1, "b_legacy")
    out.getPath
  }

  val cdc19Oracle: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
      |  CASE WHEN o_orderkey % 2 = 0 AND o_custkey IS NOT NULL
      |       THEN 'clerk-' || CAST(o_custkey % 100 AS VARCHAR) END AS clerk
      |FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 400)
      |ORDER BY o_orderkey""".stripMargin

  // cdc12 — the STREAMING family under the oracle gate (r8 VERDICT
  // stretch #7): the avro change feed is drained as a bounded Structured
  // Streaming source (Trigger.AvailableNow over a JSON-lines fixture of
  // cdc01's exact avro side) through the stream-static comparator, the
  // BINLOG_ONLY family is reconciled in the documented end-of-stream
  // batch step, and the union's status counts share cdc01's oracle — so
  // the gate now pins "drained stream == batch compare" on real data,
  // where StreamingComparatorSpec could only pin it on a 5-row vector.
  // The drain lands in a parquet sink (bounded, distributed — never a
  // driver collect) and the returned frame is a lazy scan over it plus
  // the reconciliation join.
  def cdc12StreamDrain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpFixtureDir("graft_cdc12_", dir)
    val feed = new java.io.File(root, "feed").getPath
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val (binlogStaticLazy, avroRaw) = sidesRaw(spark, dir)
    // static subtrees re-run per micro-batch unless materialized (cdc50's
    // measured lesson: −30% on its drain) — prepare the snapshot once
    val binlogStatic = binlogStaticLazy.localCheckpoint(true)
    avroRaw.write.mode("overwrite").json(feed)
    withDrainPartitions(spark) {
      val avroStream = Comparator.prepareAvro(
        spark.readStream.schema(avroRaw.schema).json(feed))
      val q = graft.streaming.StreamingComparator
        .compareStream(avroStream, binlogStatic)
        .select("binlog_file", "position", "status")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // explicit schema + pre-created dir: an EMPTY feed (a legal quiet
    // period) runs zero micro-batches, so the sink may contain no parquet
    // files — schema inference would throw where an empty relation (and
    // BINLOG_ONLY-only counts from the reconciliation) is the right answer
    new java.io.File(sink).mkdirs()
    val drained = spark.read.schema(
        "binlog_file STRING, position BIGINT, status STRING").parquet(sink)
    val binlogOnly = graft.streaming.StreamingComparator.reconcileBinlogOnly(
        binlogStatic,
        drained.select(col("binlog_file"), col("position").as("binlog_position")))
      .select("binlog_file", "position", "status")
    drained.unionByName(binlogOnly)
      .groupBy("status").count().orderBy("status")
  }

  // cdc13 — the native binlog DSv2 source in its STREAMING role under the
  // gate: `readStream.format("binlog")` tails cdc05's exact fixture, the
  // bounded feed drains with Trigger.AvailableNow into a parquet sink
  // (distributed — no driver collect), and the drained rows go through
  // cdc05's shared projection and oracle. With cdc12 gating the
  // comparator's streaming JOIN semantics, this gates the streaming
  // SOURCE's micro-batch planning/decode: a divergence between the
  // batch and streaming read paths of BinlogDataSource (offset ordering,
  // partial-file splits, row_images decode) was previously visible only
  // to NativeStreamEndToEndSpec's synthetic vectors.
  def cdc13StreamBinlog(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val fixtureDir = writeCdc05Fixture(spark, dir)
    val root = tmpFixtureDir("graft_cdc13_", dir) // wipes stale ckpt too —
    root.mkdirs() //  a reused checkpoint would silently skip the re-decode
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val q = cdc05Projection(spark.readStream.format("binlog").load(fixtureDir))
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    spark.read.schema("o_orderkey BIGINT, flags_bit BIGINT, status_idx BIGINT, " +
        "meta_json STRING, o_custkey BIGINT, total_dec STRING, o_date STRING, " +
        "priority STRING")
      .parquet(sink)
      .orderBy("o_orderkey")
  }

  // cdc14 — the STATEFUL streaming dedup (flatMapGroupsWithState) under
  // the gate: the avro side's keyed records are written as TWO identical
  // JSON-lines files, streamed with maxFilesPerTrigger=1 so every key
  // arrives twice in DIFFERENT micro-batches, and
  // StreamingDedup.firstOccurrence must emit each key exactly once —
  // cross-batch state, not within-batch distinct. Payloads of the two
  // copies are identical, so the kept row is deterministic regardless of
  // arrival interleaving. The oracle is the distinct key set from the
  // shared `a` CTE. Drains to a parquet sink (no driver collect).
  def cdc14StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpFixtureDir("graft_cdc14_", dir)
    root.mkdirs()
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val (_, avroRaw) = sidesRaw(spark, dir)
    // pre-collapse to one row per key with min_by: avroMain/avroExtra
    // positions CAN collide once event_ids span ~20M (pos = id+4 vs
    // id+20000000), and on a collision firstOccurrence would keep
    // whichever payload ARRIVED first — arrival-order-dependent, while
    // the oracle's DISTINCT would keep both. With unique keys in the
    // feed, the only duplicates are the two file copies (identical
    // payloads), so the drained result is deterministic at any SF and
    // the oracle is a plain per-key MIN.
    val keyed = avroRaw
      .groupBy(col("binlog_file"), col("binlog_position").cast("long").as("binlog_position"))
      .agg(min(col("source_timestamp").cast("long")).as("source_timestamp"))
    // two identical files → every key is a cross-batch duplicate
    keyed.coalesce(1).write.mode("overwrite").json(new java.io.File(feed, "copy1").getPath)
    keyed.coalesce(1).write.mode("overwrite").json(new java.io.File(feed, "copy2").getPath)
    val spark2 = spark
    import spark2.implicits._
    withDrainPartitions(spark) {
      val stream = spark.readStream.schema(keyed.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true").json(feed.getPath)
        .as[graft.streaming.StreamingDedup.KeyedRecord]
      val q = graft.streaming.StreamingDedup.firstOccurrence(stream)
        .toDF()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    spark.read.schema(
        "binlog_file STRING, binlog_position BIGINT, source_timestamp BIGINT")
      .parquet(sink)
      .orderBy("binlog_file", "binlog_position")
  }

  val cdc14Oracle: String =
    oracleCte +
    """
      |SELECT bfile AS binlog_file, CAST(pos AS BIGINT) AS binlog_position,
      |  CAST(MIN(src_ms) AS BIGINT) AS source_timestamp
      |FROM a GROUP BY bfile, pos ORDER BY binlog_file, binlog_position""".stripMargin

  // cdc15 — WATERMARKED WINDOWED streaming aggregation under the gate
  // (§2.9's remaining tests-only surface): the events table streams as
  // epoch-µs JSON in one file, followed — in a strictly LATER micro-batch
  // (maxFilesPerTrigger=1; the sentinel file's mtime is explicitly bumped
  // so the file source must order it second) — by a single sentinel event
  // 30 days ahead whose only job is to advance the watermark past every
  // real window. Append mode then emits exactly the closed real windows
  // (the sentinel's own window stays in state, never emitted, and is
  // filtered defensively), which equals the batch tumbling-window
  // aggregate the oracle computes. This gates watermark advancement,
  // cross-batch state, and append-mode window emission — semantics the
  // batch oracle could not reach without the sentinel-flush construction.
  // Outputs are epoch-µs longs (integer gate discipline; timestamp
  // parquet annotations differ cross-engine).
  def cdc15StreamWindows(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpFixtureDir("graft_cdc15_", dir)
    root.mkdirs()
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), expr("ts div 1000").as("t_us"), col("event_type"))
    val aDir = new java.io.File(feed, "a"); val bDir = new java.io.File(feed, "b")
    ev.coalesce(1).write.mode("overwrite").json(aDir.getPath)
    // empty feed (degenerate sweep): max() is null — any sentinel time
    // works, since there are no real windows for the watermark to close
    val maxRow = ev.agg(max(col("t_us"))).head()
    val maxUs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val sentinelUs = maxUs + 30L * 24 * 3600 * 1000000L
    ev.sparkSession.range(1).select(
        lit(-1L).as("event_id"), lit(sentinelUs).as("t_us"),
        lit("__sentinel").as("event_type"))
      .coalesce(1).write.mode("overwrite").json(bDir.getPath)
    // the file source orders by modification time: force the sentinel
    // strictly later so it cannot share (or precede) the real batch —
    // if it ran FIRST, the watermark would mark every real event late
    val aFiles = Option(aDir.listFiles()).getOrElse(Array.empty)
    val aMax = if (aFiles.isEmpty) System.currentTimeMillis()
               else aFiles.map(_.lastModified()).max
    bDir.listFiles().foreach(f => f.setLastModified(aMax + 2000))
    withDrainPartitions(spark) {
      val stream = spark.readStream
        .schema("event_id LONG, t_us LONG, event_type STRING")
        .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
        .json(feed.getPath)
        .withColumn("ts", timestamp_micros(col("t_us")))
      val q = graft.streaming.EventWindows
        .windowedCounts(stream, "ts", "event_type", "1 hour", "1 hour")
        .select(unix_micros(col("window_start")).as("window_start_us"),
          unix_micros(col("window_end")).as("window_end_us"),
          col("event_type"), col("count").as("n_events"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    spark.read.schema(
        "window_start_us LONG, window_end_us LONG, event_type STRING, n_events LONG")
      .parquet(sink)
      .filter(col("event_type") =!= "__sentinel")
      .orderBy("window_start_us", "event_type")
  }

  val cdc15Oracle: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
      |  epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS window_end_us,
      |  event_type, COUNT(*) AS n_events
      |FROM events
      |GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin

  // cdc16 — the STREAM-STREAM comparator under the gate: both sides of
  // cdc01's fixture stream from disk (binlog raw → normalizeBinlog, avro
  // raw → prepareAvro, both inside the streaming plan), joined by
  // `compareStreamsWithParity`'s watermarked interval join, drained with
  // AvailableNow to a parquet sink, then the documented terminal batch
  // steps (reclassifyUnparseable + reconcileBinlogOnly) — and the status
  // counts must equal cdc01's: the oracle IS cdc01's oracle, so this
  // gates the full parity contract, not a weaker stream-only shape.
  // Sentinel rows a day ahead on BOTH feeds (the join watermark is the
  // min across inputs), written as separate later-mtime files so
  // maxFilesPerTrigger=1 forces them into later micro-batches, advance
  // the watermark past every real row; the outer join's null side then
  // flushes in the engine's no-data batches before AvailableNow
  // terminates (the StreamingComparatorSpec parity construction, run on
  // the real fixture). The sentinels' own keys (≥ 7e8, outside the
  // fixture's id+2e7 space) never emit (nothing ever passes THEIR
  // watermark bound) and are filtered defensively.
  /** cdc16/cdc52's shared two-sided streaming fixture: both cdc01 sides
    * written as JSON feeds (one real file each) plus far-future sentinel
    * files on BOTH feeds — written with later mtimes so
    * maxFilesPerTrigger=1 forces them into later micro-batches — that
    * advance the min-across-inputs watermark past every real row,
    * flushing the outer join's null side in the engine's no-data batches
    * before AvailableNow terminates. Sentinel keys (pos ≥ 7e8,
    * mysql-bin.000000) never emit and are filtered defensively
    * post-drain. */
  private def parityFeeds(spark: SparkSession, dir: String,
      root: java.io.File, binlogRaw: DataFrame, avroRaw: DataFrame)
      : (java.io.File, java.io.File) = {
    val bFeed = new java.io.File(root, "bfeed"); bFeed.mkdirs()
    val aFeed = new java.io.File(root, "afeed"); aFeed.mkdirs()
    binlogRaw.coalesce(1).write.mode("overwrite")
      .json(new java.io.File(bFeed, "b1").getPath)
    avroRaw.coalesce(1).write.mode("overwrite")
      .json(new java.io.File(aFeed, "a1").getPath)
    // sentinels one day past the fixture's max second (empty-feed guard:
    // any time works when there are no real rows to flush)
    val maxRow = fixtureBase(spark, dir).agg(max(col("sec"))).head()
    val farSec = (if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)) + 24 * 3600L
    val farRfc = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(farSec))
    spark.range(1).select(
        lit("WriteRowsEventV2").as("event_type"), lit(farRfc).as("timestamp"),
        lit(farRfc).as("immediate_commmit_timestamp"),
        lit("").as("orignal_commmit_timestamp"),
        lit(777777778L).as("log_position"), lit("events").as("table"),
        lit("app").as("schema"), lit("mysql-bin.000000").as("binlog_file"),
        lit("").as("gtid_next"), lit(777777774L).as("event_id"))
      .coalesce(1).write.mode("overwrite")
      .json(new java.io.File(bFeed, "b2").getPath)
    spark.range(1).select(
        lit(farSec * 1000).as("source_timestamp"), lit("app").as("database"),
        lit("events").as("table"), lit("INSERT").as("change_type"),
        lit("").as("gtid"), lit("mysql-bin.000000").as("binlog_file"),
        lit(777777777L).as("binlog_position"))
      .coalesce(1).write.mode("overwrite")
      .json(new java.io.File(aFeed, "a2").getPath)
    // file source orders by mtime: the sentinels must arrive LAST (cdc15)
    def bump(d: java.io.File, real: java.io.File): Unit = {
      val fs = Option(real.listFiles()).getOrElse(Array.empty)
      val base0 = if (fs.isEmpty) System.currentTimeMillis()
                  else fs.map(_.lastModified()).max
      Option(d.listFiles()).getOrElse(Array.empty)
        .foreach(f => f.setLastModified(base0 + 2000))
    }
    bump(new java.io.File(bFeed, "b2"), new java.io.File(bFeed, "b1"))
    bump(new java.io.File(aFeed, "a2"), new java.io.File(aFeed, "a1"))
    (bFeed, aFeed)
  }

  def cdc16StreamParity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpFixtureDir("graft_cdc16_", dir)
    root.mkdirs()
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath

    val binlogRaw = binlogRawSide(spark, dir)
    val (binlogStatic, avroRaw) = sidesRaw(spark, dir)
    val (bFeed, aFeed) = parityFeeds(spark, dir, root, binlogRaw, avroRaw)

    withDrainPartitions(spark) {
      val binlogStream = Comparator.normalizeBinlog(
        spark.readStream.schema(binlogRaw.schema)
          .option("maxFilesPerTrigger", 1)
          .option("recursiveFileLookup", "true").json(bFeed.getPath))
      val avroStream = Comparator.prepareAvro(
        spark.readStream.schema(avroRaw.schema)
          .option("maxFilesPerTrigger", 1)
          .option("recursiveFileLookup", "true").json(aFeed.getPath))
      val (main, _) = graft.streaming.StreamingComparator.compareStreamsWithParity(
        avroStream, binlogStream, maxSkew = "10 minutes", watermarkDelay = "1 second")
      val q = main.select("binlog_file", "position", "status")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    val drained = spark.read.schema(
        "binlog_file STRING, position BIGINT, status STRING").parquet(sink)
      .filter(col("position") < 700000000L)

    // terminal batch steps over the same snapshot (the documented contract)
    val untimed = graft.streaming.StreamingComparator
      .partitionUnparseableBinlog(Comparator.normalizeBinlog(binlogRaw))._2
    val reclassified = graft.streaming.StreamingComparator
      .reclassifyUnparseable(drained, untimed)
    val reconciled = graft.streaming.StreamingComparator.reconcileBinlogOnly(
        binlogStatic,
        avroRaw.select(col("binlog_file"), col("binlog_position")))
      .select("binlog_file", "position", "status")
    reclassified.select("binlog_file", "position", "status")
      .unionByName(reconciled)
      .groupBy("status").count().orderBy("status")
  }

  // cdc18 — checkpoint-restart parity: the fault-tolerance contract of
  // the streaming path under the oracle gate. The feed arrives in two
  // installments; a first AvailableNow drain consumes installment one
  // and the query STOPS; a second query starts from the SAME checkpoint
  // after installment two lands. The sink must end up exactly the batch
  // comparison: the file source's checkpointed offset log has to skip
  // every already-processed file (reprocessing would double those
  // status counts and hash-mismatch the oracle) while picking up every
  // new one, and the file sink's transaction log must make the two
  // drains' output read as one consistent table. This is the
  // crash/redeploy cycle every production streaming job lives through —
  // cdc12 gates one uninterrupted drain, cdc18 gates the restart seam.
  def cdc18RestartParity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpFixtureDir("graft_cdc18_", dir)
    val stage = new java.io.File(root, "stage")
    val feed = new java.io.File(root, "feed")
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val (binlogStaticLazy, avroRaw) = sidesRaw(spark, dir)
    val binlogStatic = binlogStaticLazy.localCheckpoint(true) // cdc12 note
    // ≥4 part files so the two installments are both non-trivial
    avroRaw.repartition(4).write.mode("overwrite").json(stage.getPath)
    feed.mkdirs()
    val parts = Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      .sortBy(_.getName)
    def deliver(fs: Array[java.io.File], tag: String): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(feed, s"${tag}_${f.getName}").toPath)
    }
    def drain(): Unit = withDrainPartitions(spark) {
      val avroStream = Comparator.prepareAvro(
        spark.readStream.schema(avroRaw.schema).json(feed.getPath))
      val q = graft.streaming.StreamingComparator
        .compareStream(avroStream, binlogStatic)
        .select("binlog_file", "position", "status")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val (first, second) = parts.splitAt(parts.length / 2)
    deliver(first, "h1"); drain() // installment one, then the query stops
    deliver(second, "h2"); drain() // restart from the same checkpoint
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    val drained = spark.read.schema(
        "binlog_file STRING, position BIGINT, status STRING").parquet(sink)
    val binlogOnly = graft.streaming.StreamingComparator.reconcileBinlogOnly(
        binlogStatic,
        drained.select(col("binlog_file"), col("position").as("binlog_position")))
      .select("binlog_file", "position", "status")
    drained.unionByName(binlogOnly)
      .groupBy("status").count().orderBy("status")
  }

  // cdc17 — the canonical CDC CONSUMER: apply an ordered change feed
  // (INSERT/UPDATE/DELETE per key) to materialize the final table
  // snapshot — what `comparator.sh`'s two feeds each DESCRIBE but the
  // reference never materializes (it only compares them). Semantics:
  // per primary key, the event with the greatest (source_ts, position)
  // wins; a key whose last event is a DELETE is absent from the
  // snapshot. This is the distributed MERGE INTO / upsert-compaction
  // every downstream CDC table maintenance job runs.
  //
  // Plan shape: ONE shuffle on the key, `max_by` hash aggregate with
  // map-side partial merge (q11's last-wins discipline — no window
  // sort over the feed), then a survivor filter. At 100 TB the feed
  // shuffles once on the primary key and the snapshot is written
  // bucket-partitioned by the same key, so the next day's apply
  // co-locates for free. (src_ms, pos) is a total order per key in the
  // fixture (positions are globally unique), so last-wins is
  // deterministic — the same contract a real binlog's (file, offset)
  // provides.
  def cdc17SnapshotApply(spark: SparkSession, dir: String): DataFrame =
    snapshotOf(applyState(cdc17Feed(spark, dir).withColumn("w", lit(1L))))

  /** The cdc17/cdc20 synthetic change feed: (user_id, src_ms, ct, pos). */
  private def cdc17Feed(spark: SparkSession, dir: String): DataFrame = {
    val base = fixtureBase(spark, dir)
      .filter(col("event_type").isin("purchase", "click", "view"))
    val ct = when(col("event_id") % 5 === 0, lit("INSERT"))
      .otherwise(
        when(col("event_type") === "purchase", "INSERT")
          .when(col("event_type") === "click", "UPDATE")
          .otherwise("DELETE"))
    val main = base.filter(col("event_id") % 11 =!= 0).select(
      col("user_id"),
      (col("sec") * 1000 +
        when(col("event_id") % 7 === 0, 150L).otherwise(0L)).as("src_ms"),
      ct.as("ct"),
      (col("event_id") + 4).as("pos"))
    val extra = base.filter(col("event_id") % 13 === 0).select(
      col("user_id"), (col("sec") * 1000).as("src_ms"),
      lit("INSERT").as("ct"), (col("event_id") + 20000000L).as("pos"))
    main.unionByName(extra)
  }

  /** The apply STATE fold: per key, the greatest-(src_ms, pos) change —
    * tombstones included — plus the accumulated change count. Input rows
    * carry a weight `w` (1 for raw feed rows, n_changes for a prior
    * state's rows), which is what makes the fold a commutative monoid:
    * applyState(s1 ∪ feed2) == applyState(feed1 ∪ feed2) for ANY split —
    * the algebra behind incremental snapshot maintenance (cdc20). */
  private def applyState(feed: DataFrame): DataFrame = feed
    .groupBy(col("user_id"))
    .agg(
      max_by(struct(col("ct"), col("src_ms"), col("pos")),
        struct(col("src_ms"), col("pos"))).as("last"),
      sum(col("w")).as("n_changes"))
    .select(col("user_id"), col("last.ct").as("ct"),
      col("last.src_ms").as("src_ms"), col("last.pos").as("pos"),
      col("n_changes"))

  /** State → published snapshot: drop tombstones, project the contract
    * columns. Tombstones must live in the STATE (a deleted key can be
    * re-inserted by a later installment) and die only here. */
  private def snapshotOf(state: DataFrame): DataFrame = state
    .select(col("user_id"), col("ct").as("last_change_type"),
      col("src_ms").as("last_ts_ms"), col("n_changes"))
    .filter(col("last_change_type") =!= "DELETE")
    .orderBy("user_id")

  // cdc20 — INCREMENTAL snapshot maintenance: the production posture of
  // cdc17's apply. The feed arrives in two installments; installment 1 is
  // folded to a keyed STATE table (tombstones retained — a deleted key
  // must stay deletable-then-reinsertable), PERSISTED to parquet (the
  // real overnight snapshot, read back cold), and installment 2 is folded
  // ONTO the read-back state. Because the apply fold is a commutative
  // monoid (max_by over the (src_ms, pos) total order + additive counts —
  // see applyState), the result must equal cdc17's one-shot apply over
  // the whole feed, which is exactly what sharing cdc17's oracle gates.
  // The split is by POSITION PARITY — adversarially interleaved, so every
  // key with ≥2 changes has events in both installments and a mere
  // "replay day 2" implementation cannot pass — associativity is the
  // only way through. At 100 TB: the state table is written
  // bucket-partitioned on the key, so tomorrow's apply shuffles only the
  // new day's feed.
  def cdc20IncrementalApply(spark: SparkSession, dir: String): DataFrame = {
    val feed = cdc17Feed(spark, dir)
    val day1 = feed.filter(col("pos") % 2 === 0).withColumn("w", lit(1L))
    val day2 = feed.filter(col("pos") % 2 =!= 0).withColumn("w", lit(1L))
    val snapDir = new java.io.File(tmpFixtureDir("graft_cdc20_", dir), "state")
    applyState(day1).write.mode("overwrite").parquet(snapDir.getPath)
    val state1 = spark.read.parquet(snapDir.getPath)
    snapshotOf(applyState(
      state1.withColumnRenamed("n_changes", "w").unionByName(day2)))
  }

  /** cdc17Feed's exact arithmetic as oracle CTEs (`base`, `a`) — shared
    * by every oracle that replays the change feed (cdc17/20/21). */
  private val cdcFeedCte: String =
    """base AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) // 1000000000 AS sec
      |  FROM events WHERE event_type IN ('purchase', 'click', 'view')
      |), a AS (
      |  SELECT user_id,
      |    sec * 1000 + CASE WHEN event_id % 7 = 0 THEN 150 ELSE 0 END AS src_ms,
      |    CASE WHEN event_id % 5 = 0 THEN 'INSERT'
      |         ELSE CASE event_type WHEN 'purchase' THEN 'INSERT'
      |              WHEN 'click' THEN 'UPDATE' ELSE 'DELETE' END END AS ct,
      |    event_id + 4 AS pos
      |  FROM base WHERE event_id % 11 <> 0
      |  UNION ALL
      |  SELECT user_id, sec * 1000, 'INSERT', event_id + 20000000
      |  FROM base WHERE event_id % 13 = 0
      |)""".stripMargin

  // cdc21 — SCD2 HISTORY build from the change feed: where cdc17 folds
  // the feed to its final snapshot (one row per surviving key), cdc21
  // materializes the full slowly-changing-dimension type-2 table — one
  // row per non-DELETE change, valid from its own (src_ms) until the
  // NEXT change to the same key (any type — a DELETE closes the open
  // interval without emitting a version), open-ended for the key's last
  // change. This is the warehouse-side history table every CDC consumer
  // eventually backfills. Plan: ONE shuffle on the key, one window sort
  // per key partition for `lead` — at 100 TB the feed shuffles once on
  // the primary key, same co-location cdc17's snapshot uses, and the
  // history appends partition-locally on the next incremental batch.
  // (src_ms, pos) is a per-key total order (positions globally unique),
  // so intervals are deterministic; same-ms consecutive changes yield a
  // zero-length interval for the earlier one, the documented SCD2
  // convention for intra-tick rewrites.
  def cdc21Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("src_ms"), col("pos"))
    cdc17Feed(spark, dir)
      .withColumn("valid_to_ms", lead(col("src_ms"), 1).over(w))
      .filter(col("ct") =!= "DELETE")
      .select(col("user_id"), col("pos").as("version_pos"),
        col("ct").as("change_type"), col("src_ms").as("valid_from_ms"),
        col("valid_to_ms"),
        when(col("valid_to_ms").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "valid_from_ms", "version_pos")
  }

  val cdc21Oracle: String =
    s"""WITH $cdcFeedCte, v AS (
      |  SELECT user_id, pos, ct, src_ms,
      |    lead(src_ms) OVER (PARTITION BY user_id
      |                       ORDER BY src_ms, pos) AS valid_to_ms
      |  FROM a
      |)
      |SELECT user_id, pos AS version_pos, ct AS change_type,
      |  src_ms AS valid_from_ms, valid_to_ms,
      |  CAST(CASE WHEN valid_to_ms IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM v WHERE ct <> 'DELETE'
      |ORDER BY user_id, valid_from_ms, version_pos""".stripMargin

  // cdc22 — replication-LAG percentiles, the CDC ops metric every
  // consumer dashboard graphs: per event-time window (hour of source
  // commit), the exact p50/p95/max of apply-lag. The fixture feed
  // carries no apply timestamp, so lag is synthesized as a deterministic
  // pseudo-random consumer delay (Knuth-hash of the globally-unique
  // `pos`, mod 5 s) — the PERCENTILE MACHINERY is the operator under
  // test, and the hash spreads delays across the full range so every
  // percentile is live at every SF. Exact integer percentiles by the
  // ceil-rank rule (`rn == (n*p+99) DIV 100` over the per-window lag
  // order, pos as tiebreak) — no interpolation, no doubles. Plan: ONE
  // shuffle on the window key, one bounded per-window sort (window
  // population is the declared cost bound; a window too hot to sort is
  // what q34's histogram-sketch form is for). At 100 TB the hour key
  // gives natural time-partition pruning for incremental refresh.
  def cdc22LagPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lagged = cdc17Feed(spark, dir)
      .withColumn("lag_ms", (col("pos") * 2654435761L) % 5000)
      .withColumn("hr", expr("src_ms DIV 3600000"))
    val byHr = Window.partitionBy("hr")
    lagged
      .withColumn("rn", row_number().over(byHr.orderBy(col("lag_ms"), col("pos"))))
      .withColumn("n", count(lit(1)).over(byHr))
      .groupBy("hr")
      .agg(count(lit(1)).as("n_changes"),
        max(when(col("rn") === expr("(n * 50 + 99) DIV 100"), col("lag_ms")))
          .as("p50_lag_ms"),
        max(when(col("rn") === expr("(n * 95 + 99) DIV 100"), col("lag_ms")))
          .as("p95_lag_ms"),
        max(col("lag_ms")).as("max_lag_ms"))
      .orderBy("hr")
  }

  val cdc22Oracle: String =
    s"""WITH $cdcFeedCte, l AS (
      |  SELECT src_ms // 3600000 AS hr,
      |    (pos * 2654435761) % 5000 AS lag_ms, pos
      |  FROM a
      |), r AS (
      |  SELECT hr, lag_ms,
      |    row_number() OVER (PARTITION BY hr ORDER BY lag_ms, pos) AS rn,
      |    COUNT(*) OVER (PARTITION BY hr) AS n
      |  FROM l
      |)
      |SELECT hr, COUNT(*) AS n_changes,
      |  CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN lag_ms END) AS BIGINT) AS p50_lag_ms,
      |  CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN lag_ms END) AS BIGINT) AS p95_lag_ms,
      |  CAST(MAX(lag_ms) AS BIGINT) AS max_lag_ms
      |FROM r GROUP BY hr ORDER BY hr""".stripMargin

  // cdc23 — out-of-order ARRIVAL metrics: for each event, its lateness
  // vs the maximum source timestamp among all earlier log positions (the
  // running high-watermark a streaming consumer would hold when this row
  // arrives), aggregated per source-hour. This is THE table you read to
  // choose a watermark delay: `max_lateness_ms` bounds the
  // `withWatermark` setting that loses zero events, `n_late / n_events`
  // says what a tighter bound drops. The feed is genuinely out of order
  // by construction (the %7 +150 ms skew and the pos+20M re-delivery
  // branch both displace src_ms against pos), so the counts are live.
  // Cost model: the running max runs as ops.Prefix's TWO-PHASE prefix
  // scan bucketed on `pos div 2^20` (monotone in the log order — binlog
  // file boundaries at scale): per-bucket windows stay partitioned, only
  // the one-row-per-bucket totals see a global order, and the carry
  // broadcasts back. No single-partition WindowExec over the feed.
  def cdc23LatenessMetrics(spark: SparkSession, dir: String): DataFrame = {
    graft.ops.Prefix.runningMaxExclusive(cdc17Feed(spark, dir),
        "pos", "src_ms", expr("pos div 1048576"), "hwm")
      .withColumn("late_ms",
        when(col("hwm") > col("src_ms"), col("hwm") - col("src_ms"))
          .otherwise(0L))
      .groupBy(expr("src_ms DIV 3600000").as("hr"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_ms") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_ms")).as("max_lateness_ms"),
        sum(col("late_ms")).as("sum_lateness_ms"))
      .orderBy("hr")
  }

  val cdc23Oracle: String =
    s"""WITH $cdcFeedCte, l AS (
      |  SELECT src_ms,
      |    MAX(src_ms) OVER (ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM a
      |), m AS (
      |  SELECT src_ms // 3600000 AS hr,
      |    CASE WHEN hwm > src_ms THEN hwm - src_ms ELSE 0 END AS late_ms
      |  FROM l
      |)
      |SELECT hr, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(MAX(late_ms) AS BIGINT) AS max_lateness_ms,
      |  CAST(SUM(late_ms) AS BIGINT) AS sum_lateness_ms
      |FROM m GROUP BY hr ORDER BY hr""".stripMargin

  // cdc24 — per-key change-SEQUENCE audit: classify every event by the
  // transition from its predecessor in the key's (src_ms, pos) order —
  // INSERT-after-INSERT (redundant snapshot re-delivery), UPDATE/DELETE
  // with no prior event (orphan: the consumer bootstrapped mid-stream),
  // UPDATE/DELETE after a DELETE (resurrection without re-insert). This
  // is the feed-quality audit a CDC consumer runs before trusting
  // cdc17's apply: orphans say the initial snapshot is missing, dup
  // inserts say the producer re-sends, after-delete says tombstone
  // handling upstream is broken. The fixture feed produces all of them
  // by construction (ct is a function of event_type/event_id, not of
  // history), so every class has live counts. Plan shape: ONE shuffle
  // on the key for the lag window (the same keyed sort cdc21's SCD2
  // build pays), then a tiny class aggregate; per-class n_events /
  // n_keys / pos_sum are integers, so the gate is exact. At 100 TB the
  // per-key ordered walk is exactly the apply's own access pattern —
  // no new data movement class.
  def cdc24SequenceAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("src_ms", "pos")
    cdc17Feed(spark, dir)
      .withColumn("prev_ct", lag(col("ct"), 1).over(w))
      .withColumn("kind",
        when(col("prev_ct").isNull && col("ct") =!= "INSERT",
          concat(lit("ORPHAN_"), col("ct")))
          .when(col("prev_ct") === "INSERT" && col("ct") === "INSERT",
            lit("DUP_INSERT"))
          .when(col("prev_ct") === "DELETE" && col("ct") =!= "INSERT",
            concat(lit("AFTER_DELETE_"), col("ct")))
          .otherwise(lit("OK")))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_keys"),
        sum(col("pos")).as("pos_sum"))
      .orderBy("kind")
  }

  val cdc24Oracle: String =
    s"""WITH $cdcFeedCte, l AS (
      |  SELECT user_id, ct, pos,
      |    lag(ct) OVER (PARTITION BY user_id ORDER BY src_ms, pos) AS prev_ct
      |  FROM a
      |), k AS (
      |  SELECT user_id, pos,
      |    CASE WHEN prev_ct IS NULL AND ct <> 'INSERT' THEN 'ORPHAN_' || ct
      |         WHEN prev_ct = 'INSERT' AND ct = 'INSERT' THEN 'DUP_INSERT'
      |         WHEN prev_ct = 'DELETE' AND ct <> 'INSERT' THEN 'AFTER_DELETE_' || ct
      |         ELSE 'OK' END AS kind
      |  FROM l
      |)
      |SELECT kind, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
      |  CAST(SUM(pos) AS BIGINT) AS pos_sum
      |FROM k GROUP BY kind ORDER BY kind""".stripMargin

  // cdc25 — TRANSACTION ASSEMBLY from commit markers: the binlog feed
  // interleaves row events with XID commit events per file; a consumer
  // that needs transactional atomicity (apply-all-or-none, exactly-once
  // sinks) must re-group each DML with the NEXT XID at a higher log
  // position in its file — the classic as-of association, computed here
  // with one conditional running-min window over the per-file position
  // order (no join, no self-cross). DMLs after the last XID of a file
  // are an open (uncommitted) tail — reported as committed=false. The
  // result is the transaction-size profile: how many txns of each size,
  // with a Σ commit-position checksum pinning WHICH commits were
  // assembled, not just how many. Plan shape: one shuffle on
  // binlog_file for the window (the file is the reference's natural
  // unit of order — cdc03/cdc05 pin the same key), then two tiny hash
  // aggs. At scale the per-file sort is the tail-read's own order, and
  // file count grows with data so the window partitioning is not skewed.
  def cdc25TxnAssembly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // "min over [current row, unbounded FOLLOWING]" is evaluated by Spark's
    // UnboundedFollowingWindowFunctionFrame, which recomputes the aggregate
    // from scratch per row — O(n²) per partition (measured: 46× on the 10×
    // data step). The same value over the REVERSED sort is a plain running
    // min, which the incremental [unbounded preceding, current row] frame
    // computes in O(n).
    val w = Window.partitionBy("binlog_file").orderBy(col("log_position").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binlogRawSide(spark, dir)
      .select(col("event_type"), col("binlog_file"), col("log_position"))
      .withColumn("commit_pos",
        min(when(col("event_type") === "XID", col("log_position"))).over(w))
      .filter(col("event_type") =!= "XID")
      .groupBy(col("binlog_file"),
        coalesce(col("commit_pos"), lit(-1L)).as("commit_pos"))
      .agg(count(lit(1)).as("txn_size"))
      .groupBy((col("commit_pos") >= 0).as("committed"), col("txn_size"))
      .agg(count(lit(1)).as("n_txns"),
        sum(col("commit_pos")).as("commit_pos_sum"))
      .orderBy("committed", "txn_size")
  }

  val cdc25Oracle: String =
    """WITH base AS (
      |  SELECT event_id, event_type,
      |    'mysql-bin.' || lpad(CAST(user_id % 4 AS VARCHAR), 6, '0') AS bfile
      |  FROM events WHERE event_type <> 'error'
      |), b AS (
      |  SELECT bfile, event_id + 4 AS pos,
      |    CASE event_type WHEN 'purchase' THEN 'WriteRowsEventV2'
      |         WHEN 'click' THEN 'UpdateRowsEventV2'
      |         WHEN 'view' THEN 'DeleteRowsEventV2' ELSE 'XID' END AS btype
      |  FROM base
      |), assoc AS (
      |  SELECT bfile, pos, btype,
      |    min(CASE WHEN btype = 'XID' THEN pos END)
      |      OVER (PARTITION BY bfile ORDER BY pos
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS commit_pos
      |  FROM b
      |), txns AS (
      |  SELECT bfile, COALESCE(commit_pos, -1) AS commit_pos,
      |    COUNT(*) AS txn_size
      |  FROM assoc WHERE btype <> 'XID' GROUP BY bfile, COALESCE(commit_pos, -1)
      |)
      |SELECT commit_pos >= 0 AS committed, txn_size,
      |  COUNT(*) AS n_txns, CAST(SUM(commit_pos) AS BIGINT) AS commit_pos_sum
      |FROM txns GROUP BY 1, 2 ORDER BY committed, txn_size""".stripMargin

  // cdc26 — HOT-KEY SKEW PROFILE of the change feed: per-key change
  // counts reduced to a log2-bucket histogram (bucket = bit length of
  // the count, i.e. floor(log2 n)+1 — an exact integer, no float log).
  // This is the table that decides every skew mitigation on this feed:
  // whether cdc17's per-key fold needs salting, what AQE skew-join
  // thresholds are real, and how wide the cdc24 window partitions run.
  // Two hash aggs — the (key) shuffle is one cdc17 already pays, the
  // histogram is 64 rows max at any scale. Exact integers gate it.
  def cdc26KeySkew(spark: SparkSession, dir: String): DataFrame = {
    cdc17Feed(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .groupBy(length(expr("bin(cnt)")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_events"),
        max(col("cnt")).as("max_cnt"))
      .orderBy("bucket")
  }

  val cdc26Oracle: String =
    s"""WITH $cdcFeedCte, c AS (
      |  SELECT user_id, COUNT(*) AS cnt FROM a GROUP BY user_id
      |)
      |SELECT length(bin(cnt)) AS bucket, COUNT(*) AS n_keys,
      |  CAST(SUM(cnt) AS BIGINT) AS n_events, MAX(cnt) AS max_cnt
      |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin

  // cdc27 — SNAPSHOT TIME-TRAVEL DIFF: fold the feed to its snapshot as
  // of the mid-point source time (cut = min + (max−min)/2, exact integer
  // arithmetic both engines reproduce) and to its final snapshot, then
  // reconcile: CREATED (absent at the cut — inserted later, or
  // tombstoned-then-reinserted), DELETED (present at the cut, tombstoned
  // later), CHANGED, UNCHANGED (same last (src_ms) and change count ⇒
  // same last event — positions are globally unique). This is the diff a
  // replication validator runs between two snapshot generations, and the
  // operator behind "what changed since T" reports. Plan shape: the two
  // applies are the SAME keyed fold (one with a pushed src_ms filter),
  // full-outer join on the key — both sides arrive partitioned by the
  // key from their folds, so the join adds no exchange; the class
  // aggregate is 4 rows. Key checksums pin the exact membership of each
  // class, not just its size.
  def cdc27SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val feed = cdc17Feed(spark, dir)
    val cut = feed.agg(
      (min(col("src_ms")) + expr("(max(src_ms) - min(src_ms)) div 2")).as("cut"))
    val atCut = feed.crossJoin(broadcast(cut))
      .filter(col("src_ms") <= col("cut")).drop("cut")
    val a = snapshotOf(applyState(atCut.withColumn("w", lit(1L))))
      .select(col("user_id"), col("last_ts_ms").as("a_ts"),
        col("n_changes").as("a_n"))
    val b = snapshotOf(applyState(feed.withColumn("w", lit(1L))))
      .select(col("user_id"), col("last_ts_ms").as("b_ts"),
        col("n_changes").as("b_n"))
    a.join(b, Seq("user_id"), "full_outer")
      .withColumn("kind",
        when(col("a_ts").isNull, "CREATED")
          .when(col("b_ts").isNull, "DELETED")
          .when(col("a_ts") === col("b_ts") && col("a_n") === col("b_n"),
            "UNCHANGED")
          .otherwise("CHANGED"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_keys"), sum(col("user_id")).as("key_checksum"))
      .orderBy("kind")
  }

  val cdc27Oracle: String =
    s"""WITH $cdcFeedCte, cut AS (
      |  SELECT MIN(src_ms) + (MAX(src_ms) - MIN(src_ms)) // 2 AS cut FROM a
      |), sa AS (
      |  SELECT user_id, src_ms AS a_ts, n_changes AS a_n FROM (
      |    SELECT user_id, ct, src_ms,
      |      row_number() OVER (PARTITION BY user_id
      |                         ORDER BY src_ms DESC, pos DESC) AS rn,
      |      count(*) OVER (PARTITION BY user_id) AS n_changes
      |    FROM a, cut WHERE src_ms <= cut)
      |  WHERE rn = 1 AND ct <> 'DELETE'
      |), sb AS (
      |  SELECT user_id, src_ms AS b_ts, n_changes AS b_n FROM (
      |    SELECT user_id, ct, src_ms,
      |      row_number() OVER (PARTITION BY user_id
      |                         ORDER BY src_ms DESC, pos DESC) AS rn,
      |      count(*) OVER (PARTITION BY user_id) AS n_changes
      |    FROM a)
      |  WHERE rn = 1 AND ct <> 'DELETE'
      |), j AS (
      |  SELECT COALESCE(sa.user_id, sb.user_id) AS user_id, a_ts, a_n, b_ts, b_n
      |  FROM sa FULL OUTER JOIN sb ON sa.user_id = sb.user_id
      |)
      |SELECT CASE WHEN a_ts IS NULL THEN 'CREATED'
      |            WHEN b_ts IS NULL THEN 'DELETED'
      |            WHEN a_ts = b_ts AND a_n = b_n THEN 'UNCHANGED'
      |            ELSE 'CHANGED' END AS kind,
      |  COUNT(*) AS n_keys, CAST(SUM(user_id) AS BIGINT) AS key_checksum
      |FROM j GROUP BY 1 ORDER BY kind""".stripMargin

  // cdc28 — WATERMARKED APPLY with late-event quarantine: the batch
  // replay of what a `withWatermark(100ms)` streaming consumer actually
  // computes. An event is LATE iff it arrives (in log-position order)
  // after the running high-watermark has passed src_ms + 100 ms
  // (cdc23's lateness definition, hardened into a routing decision):
  // late events go to the quarantine (counted, pos-checksummed — the
  // reprocessing queue), on-time events fold through the cdc17 apply to
  // the watermarked snapshot. The output row carries both sides, so the
  // gate pins the exact partition of the feed AND the fold over the
  // kept half. The feed's %7 +150 ms skew keeps the quarantine
  // non-empty at every SF. Plan: the ops.Prefix two-phase running max
  // on pos (cdc23's bucketed prefix scan — per-bucket windows plus a
  // broadcast bucket-total carry, no single-partition WindowExec),
  // then the standard keyed fold.
  def cdc28WatermarkApply(spark: SparkSession, dir: String): DataFrame = {
    val marked = graft.ops.Prefix.runningMaxExclusive(cdc17Feed(spark, dir),
        "pos", "src_ms", expr("pos div 1048576"), "hwm")
      .withColumn("late",
        col("hwm").isNotNull && col("src_ms") < col("hwm") - 100L)
    val snap = snapshotOf(applyState(
      marked.filter(!col("late")).withColumn("w", lit(1L))))
    val applied = snap.agg(count(lit(1)).as("n_keys"),
      sum(col("user_id")).as("key_checksum"),
      sum(col("n_changes")).as("n_changes_applied"))
    val quarantined = marked.filter(col("late"))
      .agg(count(lit(1)).as("n_quarantined"),
        sum(col("pos")).as("quarantined_pos_sum"))
    applied.crossJoin(quarantined)
  }

  val cdc28Oracle: String =
    s"""WITH $cdcFeedCte, marked AS (
      |  SELECT user_id, src_ms, ct, pos,
      |    MAX(src_ms) OVER (ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM a
      |), routed AS (
      |  SELECT *, hwm IS NOT NULL AND src_ms < hwm - 100 AS late FROM marked
      |), snap AS (
      |  SELECT user_id, n_changes FROM (
      |    SELECT user_id, ct,
      |      row_number() OVER (PARTITION BY user_id
      |                         ORDER BY src_ms DESC, pos DESC) AS rn,
      |      count(*) OVER (PARTITION BY user_id) AS n_changes
      |    FROM routed WHERE NOT late)
      |  WHERE rn = 1 AND ct <> 'DELETE'
      |), applied AS (
      |  SELECT COUNT(*) AS n_keys, CAST(SUM(user_id) AS BIGINT) AS key_checksum,
      |    CAST(SUM(n_changes) AS BIGINT) AS n_changes_applied
      |  FROM snap
      |), quar AS (
      |  SELECT COUNT(*) AS n_quarantined,
      |    CAST(SUM(pos) AS BIGINT) AS quarantined_pos_sum
      |  FROM routed WHERE late
      |)
      |SELECT * FROM applied, quar""".stripMargin

  // cdc29 — TOMBSTONE / COMPACTION-DEBT profile: the final keyed STATE
  // (tombstones retained — cdc20's persistence contract) bucketed by
  // key range (user_id div 100), reporting live vs tombstone counts and
  // the tombstone-id checksum per bucket. This is the table a state
  // store's compaction scheduler reads: buckets carrying mostly DELETE
  // markers are pure storage debt (they exist only to suppress
  // re-inserts) and compact first; a bucket's live fraction prices the
  // rewrite. Plan: the cdc17 keyed fold, then one tiny bucket agg —
  // bucket count scales as keyspace/100, and the div-bucketing is the
  // same range-partition arithmetic a real LSM state store compacts by.
  def cdc29CompactionDebt(spark: SparkSession, dir: String): DataFrame =
    applyState(cdc17Feed(spark, dir).withColumn("w", lit(1L)))
      .groupBy(expr("user_id div 100").as("key_bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("ct") =!= "DELETE", 1L).otherwise(0L)).as("n_live"),
        sum(when(col("ct") === "DELETE", 1L).otherwise(0L)).as("n_tombstones"),
        sum(when(col("ct") === "DELETE", col("user_id")).otherwise(0L))
          .as("tombstone_id_sum"))
      .orderBy("key_bucket")

  val cdc29Oracle: String =
    s"""WITH $cdcFeedCte, st AS (
      |  SELECT user_id, ct FROM (
      |    SELECT user_id, ct,
      |      row_number() OVER (PARTITION BY user_id
      |                         ORDER BY src_ms DESC, pos DESC) AS rn
      |    FROM a)
      |  WHERE rn = 1
      |)
      |SELECT user_id // 100 AS key_bucket, COUNT(*) AS n_keys,
      |  CAST(SUM(CASE WHEN ct <> 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
      |  CAST(SUM(CASE WHEN ct = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones,
      |  CAST(SUM(CASE WHEN ct = 'DELETE' THEN user_id ELSE 0 END) AS BIGINT) AS tombstone_id_sum
      |FROM st GROUP BY 1 ORDER BY key_bucket""".stripMargin

  // cdc30 — MULTI-TABLE FEED ROUTING: one change feed fanned out to
  // per-table snapshots (the Debezium-topic consumer shape: a single
  // stream carries many tables; the consumer routes each change by its
  // table identity and folds each route independently). The fixture
  // feed's table column is constant, so the route key is synthesized
  // from key parity — two tables with disjoint key spaces, exactly the
  // property real routing has. The output is the per-table snapshot
  // summary; a routing bug (row sent to both, or neither) breaks the
  // disjoint counts/checksums. Plan: ONE keyed fold over (table, key) —
  // the route key rides the same shuffle as the primary key, so fan-out
  // adds no extra exchange; this is why topic-routing consumers scale
  // linearly in table count.
  def cdc30MultiTableRoute(spark: SparkSession, dir: String): DataFrame =
    cdc17Feed(spark, dir)
      .withColumn("tbl", when(col("user_id") % 2 === 0, "users_even")
        .otherwise("users_odd"))
      .groupBy("tbl", "user_id")
      .agg(max_by(col("ct"), struct(col("src_ms"), col("pos"))).as("last_ct"),
        count(lit(1)).as("n_changes"))
      .filter(col("last_ct") =!= "DELETE")
      .groupBy("tbl")
      .agg(count(lit(1)).as("n_keys"), sum(col("user_id")).as("key_checksum"),
        sum(col("n_changes")).as("n_changes_total"))
      .orderBy("tbl")

  val cdc30Oracle: String =
    s"""WITH $cdcFeedCte, st AS (
      |  SELECT CASE WHEN user_id % 2 = 0 THEN 'users_even'
      |              ELSE 'users_odd' END AS tbl,
      |    user_id, ct, n_changes FROM (
      |    SELECT user_id, ct,
      |      row_number() OVER (PARTITION BY user_id
      |                         ORDER BY src_ms DESC, pos DESC) AS rn,
      |      count(*) OVER (PARTITION BY user_id) AS n_changes
      |    FROM a)
      |  WHERE rn = 1 AND ct <> 'DELETE'
      |)
      |SELECT tbl, COUNT(*) AS n_keys,
      |  CAST(SUM(user_id) AS BIGINT) AS key_checksum,
      |  CAST(SUM(n_changes) AS BIGINT) AS n_changes_total
      |FROM st GROUP BY tbl ORDER BY tbl""".stripMargin

  // cdc31 — IDEMPOTENT REPLAY (at-least-once → exactly-once): the feed
  // arrives TWICE (the duplicate delivery every at-least-once transport
  // — Kafka, Kinesis, a retried batch job — eventually produces), and
  // the consumer must still converge to the same snapshot as a single
  // clean delivery. The exactly-once recovery is deduplication on the
  // DELIVERY IDENTITY — the log position, globally unique in any real
  // binlog — before the keyed apply fold. Sharing cdc17's oracle is the
  // gate: a consumer that skips the dedup double-counts n_changes; one
  // that dedups on the wrong key (user_id) collapses distinct changes.
  // Plan shape: the dedup shuffles on pos, the fold on user_id — the
  // honest two-exchange cost of idempotence when delivery and primary
  // keys differ (bucketing the transport by primary key is the 100 TB
  // optimization that would fuse them, noted, not assumed).
  def cdc31IdempotentReplay(spark: SparkSession, dir: String): DataFrame = {
    val feed = cdc17Feed(spark, dir)
    val atLeastOnce = feed.unionByName(feed) // duplicate delivery
    val exactlyOnce = atLeastOnce.dropDuplicates(Seq("pos")) // delivery-id dedup
    snapshotOf(applyState(exactlyOnce.withColumn("w", lit(1L))))
  }

  // cdc32 — LOG CONTINUITY AUDIT (the GTID/offset-gap check every CDC
  // operator runs before trusting a feed): bucket the delivery
  // positions (pos div 1000) and report per-bucket density — count,
  // range, and missing-in-range = (max − min + 1 − n), the cheapest
  // exact gap mass when positions are unique (they are: cdc17Feed's
  // contract). The feed's own structure keeps every branch live:
  // event_id % 11 suppression punches real gaps in the main range, and
  // the +20M synthetic inserts create a second sparse range whose
  // buckets are nearly all gap. One hash aggregate on the bucket key —
  // map-side partial, output rows = occupied buckets, scale-free.
  def cdc32LogGaps(spark: SparkSession, dir: String): DataFrame =
    cdc17Feed(spark, dir)
      .groupBy(expr("pos div 1000").as("bucket"))
      .agg(count(lit(1)).as("n_pos"), min(col("pos")).as("min_pos"),
        max(col("pos")).as("max_pos"),
        (max(col("pos")) - min(col("pos")) + 1 - count(lit(1))).as("n_missing"))
      .orderBy("bucket")

  val cdc32Oracle: String =
    s"""WITH $cdcFeedCte
      |SELECT pos // 1000 AS bucket, COUNT(*) AS n_pos,
      |  MIN(pos) AS min_pos, MAX(pos) AS max_pos,
      |  MAX(pos) - MIN(pos) + 1 - COUNT(*) AS n_missing
      |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin

  // cdc33 — CHUNKED TABLE CHECKSUMS (the pt-table-checksum pattern —
  // THE consistency tool of the MySQL replication world this engine's
  // reference lives in): the applied state folds to per-key-chunk
  // (user_id div 10) rows of count + an order-independent content
  // checksum (sum of each row's md5 bucket over its full serialized
  // form, tombstones included — a replica must match deletes too) +
  // the chunk's key range. Two replicas compare this table instead of
  // shipping rows; a single divergent column anywhere flips exactly
  // one chunk's checksum. The SUM-of-hashes form (not hash-of-concat)
  // is what makes the checksum partition-order-independent — the only
  // kind a distributed engine can promise. One extra hash agg over
  // the keyed state; chunk count scales as |keys|/10.
  def cdc33TableChecksum(spark: SparkSession, dir: String): DataFrame =
    applyState(cdc17Feed(spark, dir).withColumn("w", lit(1L)))
      .withColumn("row_h",
        conv(substring(md5(concat_ws("|", col("user_id"), col("ct"),
          col("src_ms"), col("pos"), col("n_changes"))), 1, 8), 16, 10)
          .cast("long"))
      .groupBy(expr("user_id div 10").as("chunk"))
      .agg(count(lit(1)).as("n_keys"), sum(col("row_h")).as("chunk_checksum"),
        min(col("user_id")).as("min_key"), max(col("user_id")).as("max_key"))
      .orderBy("chunk")

  val cdc33Oracle: String =
    s"""WITH $cdcFeedCte, st AS (
      |  SELECT user_id, ct, src_ms, pos, n_changes FROM (
      |    SELECT user_id, ct, src_ms, pos,
      |      row_number() OVER (PARTITION BY user_id
      |                         ORDER BY src_ms DESC, pos DESC) AS rn,
      |      count(*) OVER (PARTITION BY user_id) AS n_changes
      |    FROM a) WHERE rn = 1
      |)
      |SELECT user_id // 10 AS chunk, COUNT(*) AS n_keys,
      |  CAST(SUM(CAST(('0x' || substr(md5(
      |    user_id || '|' || ct || '|' || src_ms || '|' || pos || '|' || n_changes
      |  ), 1, 8)) AS BIGINT)) AS BIGINT) AS chunk_checksum,
      |  MIN(user_id) AS min_key, MAX(user_id) AS max_key
      |FROM st GROUP BY 1 ORDER BY chunk""".stripMargin

  // cdc34 — NATIVE SESSION WINDOWS under the gate: Spark's
  // session_window (dynamic-gap merging in the state store — the one
  // windowing family cdc15's fixed tumbling windows don't reach)
  // drained via the cdc15 scaffolding: JSON feed + a far-future
  // sentinel whose watermark advance closes every real session, with
  // maxFilesPerTrigger forcing the sentinel into its own later
  // micro-batch. Session semantics being gated: events of one user
  // merge iff the next starts before last_ts + 30 min (strict <), and
  // the published session end is last_ts + gap — the oracle replays
  // exactly that with a per-user running new-session sum. State scales
  // as (users × open sessions); the watermark is what bounds it — the
  // property this drain exists to pin.
  def cdc34StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpFixtureDir("graft_cdc34_", dir)
    root.mkdirs()
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"))
    val aDir = new java.io.File(feed, "a"); val bDir = new java.io.File(feed, "b")
    ev.coalesce(1).write.mode("overwrite").json(aDir.getPath)
    val maxRow = ev.agg(max(col("t_us"))).head()
    val maxUs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val sentinelUs = maxUs + 30L * 24 * 3600 * 1000000L
    ev.sparkSession.range(1)
      .select(lit(-1L).as("user_id"), lit(sentinelUs).as("t_us"))
      .coalesce(1).write.mode("overwrite").json(bDir.getPath)
    val aFiles = Option(aDir.listFiles()).getOrElse(Array.empty)
    val aMax = if (aFiles.isEmpty) System.currentTimeMillis()
               else aFiles.map(_.lastModified()).max
    bDir.listFiles().foreach(f => f.setLastModified(aMax + 2000))
    withDrainPartitions(spark) {
      val stream = spark.readStream
        .schema("user_id LONG, t_us LONG")
        .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
        .json(feed.getPath)
        .withColumn("ts", timestamp_micros(col("t_us")))
        .withWatermark("ts", "1 minute")
      val q = stream
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    spark.read.schema(
        "user_id LONG, session_start_us LONG, session_end_us LONG, n_events LONG")
      .parquet(sink)
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "session_start_us")
  }

  val cdc34Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS t_us FROM events
      |), g AS (
      |  SELECT user_id, t_us,
      |    CASE WHEN t_us - lag(t_us) OVER w >= 1800000000 OR
      |              lag(t_us) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us)
      |), s AS (
      |  SELECT user_id, t_us,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY t_us
      |                      ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM g
      |)
      |SELECT user_id, MIN(t_us) AS session_start_us,
      |  MAX(t_us) + 1800000000 AS session_end_us,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, grp
      |ORDER BY user_id, session_start_us""".stripMargin

  // cdc35 — ACTIVE-ACTIVE MERGE with site priority: two origins feed
  // the same keyspace (site `a` = the full change feed; site `b` = a
  // replayed subset bearing its own delivery ids and forced UPDATEs —
  // the conflicting writer), and conflicts resolve by last-writer-wins
  // ordered on (src_ms, site_priority, pos) — the deterministic
  // conflict-resolution rule (LWW + fixed site tie-break) multi-master
  // replication deploys when clocks tie. Gated output: per winning
  // site, surviving keys + checksum + how many of its wins were
  // CONTESTED (the key saw both sites) — the conflict-rate metric an
  // active-active operator alarms on. One shuffle on the key; the
  // site dimension rides the same exchange.
  def cdc35ActiveActive(spark: SparkSession, dir: String): DataFrame = {
    val a = cdc17Feed(spark, dir)
      .select(col("user_id"), col("src_ms"), col("ct"), col("pos"),
        lit("a").as("site"), lit(1L).as("prio"))
    val b = cdc17Feed(spark, dir).filter(col("pos") % 3 === 0)
      .select(col("user_id"), col("src_ms"), lit("UPDATE").as("ct"),
        (col("pos") + 50000000L).as("pos"), lit("b").as("site"),
        lit(2L).as("prio"))
    a.unionByName(b)
      .groupBy("user_id")
      .agg(max_by(struct(col("ct"), col("site")),
          struct(col("src_ms"), col("prio"), col("pos"))).as("last"),
        count_distinct(col("site")).as("n_sites"))
      .select(col("user_id"), col("last.ct").as("ct"),
        col("last.site").as("site"), col("n_sites"))
      .filter(col("ct") =!= "DELETE")
      .groupBy("site")
      .agg(count(lit(1)).as("n_keys"), sum(col("user_id")).as("key_checksum"),
        sum(when(col("n_sites") === 2, 1L).otherwise(0L)).as("n_contested"))
      .orderBy("site")
  }

  val cdc35Oracle: String =
    s"""WITH $cdcFeedCte, sides AS (
      |  SELECT user_id, src_ms, ct, pos, 'a' AS site, 1 AS prio FROM a
      |  UNION ALL
      |  SELECT user_id, src_ms, 'UPDATE', pos + 50000000, 'b', 2
      |  FROM a WHERE pos % 3 = 0
      |), won AS (
      |  SELECT user_id, ct, site, n_sites FROM (
      |    SELECT user_id, ct, site,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY src_ms DESC, prio DESC, pos DESC) AS rn,
      |      count(DISTINCT site) OVER (PARTITION BY user_id) AS n_sites
      |    FROM sides)
      |  WHERE rn = 1 AND ct <> 'DELETE'
      |)
      |SELECT site, COUNT(*) AS n_keys,
      |  CAST(SUM(user_id) AS BIGINT) AS key_checksum,
      |  CAST(SUM(CASE WHEN n_sites = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_contested
      |FROM won GROUP BY site ORDER BY site""".stripMargin

  val cdc17Oracle: String =
    s"""WITH $cdcFeedCte, ranked AS (
      |  SELECT user_id, ct, src_ms,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY src_ms DESC, pos DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM a
      |)
      |SELECT user_id, ct AS last_change_type, src_ms AS last_ts_ms, n_changes
      |FROM ranked WHERE rn = 1 AND ct <> 'DELETE'
      |ORDER BY user_id""".stripMargin

  // cdc36 — COLUMN-CHURN AUDIT from UPDATE row-image pairs: the first 150
  // orders rows are encoded as real UpdateRowsEventV2 binary events (the
  // two-bitmap before/after wire layout, binlog_row_image=FULL) with
  // deterministic mutations — custkey bumped when key % 2 = 0, status
  // rotated when key % 3 = 0, total +1.00 when key % 5 = 0, priority and
  // the PK never touched — decoded back through the DSv2 binlog scan, and
  // reduced to the per-column change-frequency table (n_updates,
  // n_changed, changed-row key checksum). This is the "hot column" audit
  // behind minimal-row-image sizing, index design, and downstream
  // column-level CDC routing; it is also the only gate that exercises the
  // UPDATE decode path's image PAIRING (cdc01–04 consume synthesized
  // feeds): an off-by-one in before/after alternation flips every
  // changed-flag and the oracle — which recomputes the expected counts
  // from the same `orders` rows and mod rules — catches it. The pairing
  // is a pure per-event array transform (no join, no extra shuffle); the
  // unpivot to per-column rows is stack() over five booleans.
  def cdc36ColumnChurn(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc36Fixture(spark, dir)
    val decoded = spark.read.format("binlog").load(fixtureDir)
      .filter(col("event_type") === "UpdateRowsEventV2")
      .select(explode(expr(
        """transform(sequence(0, cast(size(row_images) div 2 as int) - 1),
          |  j -> struct(element_at(row_images, 2 * j + 1) AS b,
          |              element_at(row_images, 2 * j + 2) AS a))""".stripMargin))
        .as("p"))
      .select(
        element_at(col("p.b"), 1).cast("long").as("okey"),
        (element_at(col("p.b"), 2) =!= element_at(col("p.a"), 2)).as("ch_custkey"),
        (element_at(col("p.b"), 3) =!= element_at(col("p.a"), 3)).as("ch_status"),
        (element_at(col("p.b"), 4) =!= element_at(col("p.a"), 4)).as("ch_total"),
        (element_at(col("p.b"), 5) =!= element_at(col("p.a"), 5)).as("ch_priority"),
        (element_at(col("p.b"), 1) =!= element_at(col("p.a"), 1)).as("ch_okey"))
    decoded
      .select(col("okey"), expr(
        """stack(5, 'o_custkey', ch_custkey, 'o_orderstatus', ch_status,
          |  'o_totalprice', ch_total, 'o_orderpriority', ch_priority,
          |  'o_orderkey', ch_okey) AS (col_name, changed)""".stripMargin))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_updates"),
        sum(when(col("changed"), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("changed"), col("okey")).otherwise(0L)).as("changed_key_sum"))
      .orderBy("col_name")
  }

  /** Encode the cdc36 test vector: 150 orders rows → one binlog file of
    * three UpdateRowsEventV2 events (50 before/after pairs each) wrapped
    * in GTID/BEGIN/XID, with the documented mod-rule mutations. */
  private def writeCdc36Fixture(spark: SparkSession, dir: String): String = {
    import graft.ingest.BinlogBinaryWriter._
    val rows = Tables.orders(spark, dir)
      .orderBy("o_orderkey")
      .limit(150)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        Tables.cents(col("o_totalprice")).as("cents"), col("o_orderpriority"))
      .collect()
    require(rows.length <= 150,
      s"cdc36 fixture must stay a bounded test vector, got ${rows.length} rows")

    val cols = Seq(
      ColDef.longlong,          // o_orderkey (PK, never changes)
      ColDef.long,              // o_custkey
      ColDef.enum(1),           // o_orderstatus ordinal (F=1, O=2, P=3)
      ColDef.newDecimal(14, 2), // o_totalprice
      ColDef.varchar(20))       // o_orderpriority (never changes)

    def pair(r: org.apache.spark.sql.Row)
        : (Seq[Option[Array[Byte]]], Seq[Option[Array[Byte]]]) = {
      val key = r.getLong(0)
      val ck = r.getLong(1)
      val ordinal = r.getString(2) match { case "F" => 1; case "O" => 2; case "P" => 3 }
      val cents = r.getLong(3)
      val prio = r.getString(4)
      def img(c: Long, o: Int, t: Long): Seq[Option[Array[Byte]]] = Seq(
        Some(encLongLong(key)), Some(encLong(c.toInt)), Some(encEnum(o, 1)),
        Some(encNewDecimal(t, 14, 2)), Some(encVarchar(prio, 20)))
      val afterCk = if (key % 2 == 0) ck + 1 else ck
      val afterOrd = if (key % 3 == 0) (ordinal % 3) + 1 else ordinal
      val afterCents = if (key % 5 == 0) cents + 100 else cents
      (img(ck, ordinal, cents), img(afterCk, afterOrd, afterCents))
    }

    val t0 = 1714564800L
    val sid = (1 to 16).map(_.toByte).toArray
    val out = tmpFixtureDir("graft_cdc36_", dir)
    out.mkdirs()
    val f = new FileBuilder(checksums = true)
    f.fde(t0)
    f.event(t0, 33, gtidBody(sid, 1L))
    f.event(t0, 2, queryBody("sf", "BEGIN"))
    rows.grouped(50).foreach { batch =>
      f.event(t0, 19, tableMapBody(11, "sf", "orders", cols))
      f.event(t0, 31, updateRowsBody(11, cols.size, batch.map(pair).toSeq))
    }
    f.event(t0, 16, xidBody(2000L))
    java.nio.file.Files.write(
      new java.io.File(out, "mysql-bin.000001").toPath, f.bytes)
    out.getPath
  }

  val cdc36Oracle: String =
    """WITH base AS (
      |  SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 150
      |), rules(col_name, sel) AS (VALUES
      |  ('o_custkey', 2), ('o_orderstatus', 3), ('o_totalprice', 5),
      |  ('o_orderpriority', 0), ('o_orderkey', 0))
      |SELECT r.col_name,
      |  COUNT(*) AS n_updates,
      |  CAST(COUNT(*) FILTER (WHERE r.sel > 0 AND b.o_orderkey % r.sel = 0)
      |    AS BIGINT) AS n_changed,
      |  CAST(COALESCE(SUM(b.o_orderkey)
      |    FILTER (WHERE r.sel > 0 AND b.o_orderkey % r.sel = 0), 0)
      |    AS BIGINT) AS changed_key_sum
      |FROM base b CROSS JOIN rules r
      |GROUP BY r.col_name
      |ORDER BY r.col_name""".stripMargin

  // cdc37 — SCHEMA-EPOCH ASSIGNMENT from the log itself: ALTER TABLE
  // statements arrive as Query events INTERLEAVED with row events, and
  // every row event must be decoded under the schema version in force at
  // its log position — the assignment step every real CDC applier runs
  // before it can pick the right schema from its registry (cdc19 gates
  // the evolution semantics; this gates the epoch BOUNDARY placement).
  // Epoch = running count of prior ALTERs on the table, a running-frame
  // window over the total (file_seq, event_index) order — O(n), the
  // cdc25 frame discipline; at scale the window partitions by (schema,
  // table) since epochs are per-table. The fixture interleaves two
  // ALTERs into 8 write batches (epochs of 2/3/3 events); the oracle
  // recomputes the expected (rows, key-checksum) per epoch from the same
  // `orders` rows and the fixture's deterministic batch layout, so a
  // row event landing on the wrong side of a boundary breaks the gate.
  def cdc37DdlEpoch(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc37Fixture(spark, dir)
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("file_seq"), col("event_index"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    spark.read.format("binlog").load(fixtureDir)
      .withColumn("epoch",
        sum(when(col("event_type") === "Query" &&
          col("query").startsWith("ALTER TABLE orders"), 1L).otherwise(0L)).over(w))
      .filter(col("event_type") === "WriteRowsEventV2")
      .select(col("epoch"),
        size(col("row_images")).cast("long").as("n_rows"),
        expr("""aggregate(transform(row_images,
          |  im -> cast(element_at(im, 1) as bigint)), 0L, (a, x) -> a + x)""".stripMargin)
          .as("key_sum"))
      .groupBy("epoch")
      .agg(count(lit(1)).as("n_events"), sum(col("n_rows")).as("n_rows"),
        sum(col("key_sum")).as("key_sum"))
      .orderBy("epoch")
  }

  /** Encode the cdc37 test vector: 200 orders rows → 8 WriteRows batches
    * of 25 (each with its TableMap), with `ALTER TABLE orders ...` Query
    * events injected after batch 2 and batch 5 — epochs of 2 / 3 / 3 row
    * events. Single file, checksummed, GTID/BEGIN/XID-wrapped. */
  private def writeCdc37Fixture(spark: SparkSession, dir: String): String = {
    import graft.ingest.BinlogBinaryWriter._
    val rows = Tables.orders(spark, dir)
      .orderBy("o_orderkey")
      .limit(200)
      .select(col("o_orderkey"), col("o_custkey"))
      .collect()
    require(rows.length <= 200,
      s"cdc37 fixture must stay a bounded test vector, got ${rows.length} rows")

    val cols = Seq(ColDef.longlong, ColDef.long)
    def image(r: org.apache.spark.sql.Row): Seq[Option[Array[Byte]]] =
      Seq(Some(encLongLong(r.getLong(0))), Some(encLong(r.getLong(1).toInt)))

    val t0 = 1714564800L
    val sid = (1 to 16).map(_.toByte).toArray
    val out = tmpFixtureDir("graft_cdc37_", dir)
    out.mkdirs()
    val f = new FileBuilder(checksums = true)
    f.fde(t0)
    f.event(t0, 33, gtidBody(sid, 1L))
    f.event(t0, 2, queryBody("sf", "BEGIN"))
    rows.grouped(25).zipWithIndex.foreach { case (batch, bi) =>
      f.event(t0, 19, tableMapBody(11, "sf", "orders", cols))
      f.event(t0, 30, rowsBody(11, cols.size, batch.map(image).toSeq))
      if (bi == 1) f.event(t0, 2,
        queryBody("sf", "ALTER TABLE orders ADD COLUMN note VARCHAR(20)"))
      if (bi == 4) f.event(t0, 2,
        queryBody("sf", "ALTER TABLE orders DROP COLUMN note"))
    }
    f.event(t0, 16, xidBody(3000L))
    java.nio.file.Files.write(
      new java.io.File(out, "mysql-bin.000001").toPath, f.bytes)
    out.getPath
  }

  val cdc37Oracle: String =
    """WITH ranked AS (
      |  SELECT o_orderkey, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) AS rn
      |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 200)
      |), assigned AS (
      |  SELECT *,
      |    CASE WHEN rn <= 50 THEN 0 WHEN rn <= 125 THEN 1 ELSE 2 END AS epoch,
      |    ((rn - 1) // 25) AS batch
      |  FROM ranked
      |)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |  CAST(COUNT(DISTINCT batch) AS BIGINT) AS n_events,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM assigned GROUP BY epoch ORDER BY epoch""".stripMargin

  // cdc38 — GTID-SET COVERAGE AUDIT: the `gtid_executed`-interval math a
  // replication operator runs to answer "which transactions am I
  // missing?" — per source UUID, the contiguous GNO intervals actually
  // present in the log and the holes between them. The fixture writes
  // REAL Gtid events for two source servers with deterministic holes
  // (uuid A: gno 1–40 skipping multiples of 7; uuid B: 1–25 skipping
  // multiples of 11), interleaved in log order; the engine recovers
  // intervals with the gaps-and-islands rule (gno − row_number over the
  // per-uuid gno order — one shuffle on the uuid, O(n) windows), and the
  // oracle regenerates the same sets from the hole rules. A decoder that
  // drops or duplicates a Gtid event, or mis-formats the uuid, moves
  // interval/hole counts. At scale the uuid is the natural partition key
  // (a fleet has few sources, each with millions of gnos — the window is
  // per-uuid ordered, range-partitionable).
  def cdc38GtidCoverage(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc38Fixture(spark, dir)
    val W = org.apache.spark.sql.expressions.Window
    val g = spark.read.format("binlog").load(fixtureDir)
      .filter(col("event_type") === "Gtid")
      .select(substring_index(col("gtid_next"), ":", 1).as("uuid"),
        substring_index(col("gtid_next"), ":", -1).cast("long").as("gno"))
    g.withColumn("grp",
        col("gno") - row_number().over(W.partitionBy("uuid").orderBy("gno")))
      .groupBy("uuid")
      .agg(count(lit(1)).as("n_txns"),
        countDistinct(col("grp")).as("n_intervals"),
        min(col("gno")).as("min_gno"), max(col("gno")).as("max_gno"),
        (max(col("gno")) - min(col("gno")) + 1 - count(lit(1))).as("n_missing"))
      .orderBy("uuid")
  }

  /** Encode the cdc38 test vector: interleaved GTID+BEGIN+XID transactions
    * from two source UUIDs with deterministic GNO holes. */
  private def writeCdc38Fixture(spark: SparkSession, dir: String): String = {
    import graft.ingest.BinlogBinaryWriter._
    val t0 = 1714564800L
    val sidA = (1 to 16).map(_.toByte).toArray
    val sidB = (101 to 116).map(_.toByte).toArray
    val out = tmpFixtureDir("graft_cdc38_", dir)
    out.mkdirs()
    val f = new FileBuilder(checksums = true)
    f.fde(t0)
    val txns =
      (1 to 40).filter(_ % 7 != 0).map(g => (sidA, g.toLong)) ++
        (1 to 25).filter(_ % 11 != 0).map(g => (sidB, g.toLong))
    // interleave in a deterministic round-robin-ish log order: sort by gno
    // then uuid so the two sources' transactions alternate through the file
    txns.sortBy { case (sid, g) => (g, sid(0).toInt) }.zipWithIndex.foreach {
      case ((sid, gno), i) =>
        f.event(t0, 33, gtidBody(sid, gno))
        f.event(t0, 2, queryBody("sf", "BEGIN"))
        f.event(t0, 16, xidBody(10000L + i))
    }
    java.nio.file.Files.write(
      new java.io.File(out, "mysql-bin.000001").toPath, f.bytes)
    out.getPath
  }

  val cdc38Oracle: String =
    """WITH g AS (
      |  SELECT '01020304-0506-0708-090a-0b0c0d0e0f10' AS uuid,
      |    CAST(r.range + 1 AS BIGINT) AS gno
      |  FROM range(40) r WHERE (r.range + 1) % 7 <> 0
      |  UNION ALL
      |  SELECT '65666768-696a-6b6c-6d6e-6f7071727374',
      |    CAST(r.range + 1 AS BIGINT)
      |  FROM range(25) r WHERE (r.range + 1) % 11 <> 0
      |), isl AS (
      |  SELECT uuid, gno,
      |    gno - row_number() OVER (PARTITION BY uuid ORDER BY gno) AS grp
      |  FROM g
      |)
      |SELECT uuid, COUNT(*) AS n_txns,
      |  CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_intervals,
      |  CAST(MIN(gno) AS BIGINT) AS min_gno,
      |  CAST(MAX(gno) AS BIGINT) AS max_gno,
      |  CAST(MAX(gno) - MIN(gno) + 1 - COUNT(*) AS BIGINT) AS n_missing
      |FROM isl GROUP BY uuid ORDER BY uuid""".stripMargin

  // cdc39 — STREAMING multi-table fan-out (cdc30's routing in its
  // streaming role): the change feed drains through `writeStream
  // .partitionBy(tbl)` into a route-partitioned parquet layout — the
  // Debezium-consumer-to-lakehouse shape, where the SINK's physical
  // layout IS the routing — and the per-table snapshot summary is then
  // computed from the read-back files, against cdc30's unchanged oracle.
  // A mismatch with a green cdc30 isolates the streaming path: micro-
  // batch planning, the partitioned sink commit protocol, or partition-
  // column round-tripping (tbl leaves the data files and returns via
  // directory discovery). Empty-feed guard: pre-created dir + explicit
  // schema (the cdc12 lesson — zero micro-batches leave no files, and
  // inference would throw where an empty snapshot is correct).
  def cdc39StreamRoute(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpFixtureDir("graft_cdc39_", dir)
    val feedDir = new java.io.File(root, "feed").getPath
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val feed = cdc17Feed(spark, dir)
    feed.write.mode("overwrite").json(feedDir)
    withDrainPartitions(spark) {
      val s = spark.readStream.schema(feed.schema).json(feedDir)
        .withColumn("tbl", when(col("user_id") % 2 === 0, "users_even")
          .otherwise("users_odd"))
      val q = s.writeStream.format("parquet")
        .partitionBy("tbl")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    new java.io.File(sink).mkdirs()
    val drained = spark.read
      .schema("user_id BIGINT, src_ms BIGINT, ct STRING, pos BIGINT, tbl STRING")
      .parquet(sink)
    drained
      .groupBy("tbl", "user_id")
      .agg(max_by(col("ct"), struct(col("src_ms"), col("pos"))).as("last_ct"),
        count(lit(1)).as("n_changes"))
      .filter(col("last_ct") =!= "DELETE")
      .groupBy("tbl")
      .agg(count(lit(1)).as("n_keys"), sum(col("user_id")).as("key_checksum"),
        sum(col("n_changes")).as("n_changes_total"))
      .orderBy("tbl")
  }

  // cdc40 — ROTATE-CHAIN CONTINUITY AUDIT: a binlog stream's file chain
  // is self-describing — every file ends with a ROTATE event naming its
  // successor and start position — and a consumer that trusts directory
  // listing order alone misses renames/gaps the chain would expose. The
  // fixture writes three files, each (except the last) ending in a real
  // Rotate event; the audit decodes per-file content (row counts + key
  // checksums from deterministic orders slices) alongside the rotate
  // target, and verifies the declared successor equals the next file's
  // actual name (a lead window over file_seq). This is the first gate on
  // the Rotate decode path (position + name surfaced via `extra`).
  def cdc40RotateChain(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc40Fixture(spark, dir)
    val W = org.apache.spark.sql.expressions.Window
    val decoded = spark.read.format("binlog").load(fixtureDir)
    val rot = decoded.filter(col("event_type") === "Rotate")
      .select(col("file_seq"),
        element_at(col("extra"), "next_file").as("next_file"),
        element_at(col("extra"), "rotate_position").cast("long").as("rotate_pos"))
    val content = decoded.filter(col("event_type") === "WriteRowsEventV2")
      .select(col("file_seq"), col("binlog_file"),
        size(col("row_images")).cast("long").as("nr"),
        expr("""aggregate(transform(row_images,
          |  im -> cast(element_at(im, 1) as bigint)), 0L, (a, x) -> a + x)""".stripMargin)
          .as("ks"))
      .groupBy("file_seq", "binlog_file")
      .agg(sum(col("nr")).as("n_rows"), sum(col("ks")).as("key_sum"))
    val chained = content.join(rot, Seq("file_seq"), "left")
      .withColumn("declared_next", col("next_file"))
      .withColumn("actual_next",
        lead(col("binlog_file"), 1).over(W.orderBy("file_seq")))
      .withColumn("chain_ok",
        (col("declared_next").isNull && col("actual_next").isNull) ||
          (col("declared_next") === col("actual_next")))
    chained.select(col("file_seq"), col("binlog_file"), col("n_rows"),
        col("key_sum"), col("declared_next"), col("rotate_pos"), col("chain_ok"))
      .orderBy("file_seq")
  }

  /** Encode the cdc40 test vector: 150 orders rows across three binlog
    * files (50 each), files 1 and 2 ending with a real ROTATE event
    * naming the successor. */
  private def writeCdc40Fixture(spark: SparkSession, dir: String): String = {
    import graft.ingest.BinlogBinaryWriter._
    val rows = Tables.orders(spark, dir)
      .orderBy("o_orderkey")
      .limit(150)
      .select(col("o_orderkey"), col("o_custkey"))
      .collect()
    require(rows.length <= 150,
      s"cdc40 fixture must stay a bounded test vector, got ${rows.length} rows")
    val cols = Seq(ColDef.longlong, ColDef.long)
    def image(r: org.apache.spark.sql.Row): Seq[Option[Array[Byte]]] =
      Seq(Some(encLongLong(r.getLong(0))), Some(encLong(r.getLong(1).toInt)))
    val t0 = 1714564800L
    val sid = (1 to 16).map(_.toByte).toArray
    val out = tmpFixtureDir("graft_cdc40_", dir)
    out.mkdirs()
    rows.grouped(50).zipWithIndex.foreach { case (batch, fi) =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      f.event(t0, 33, gtidBody(sid, fi + 1L))
      f.event(t0, 2, queryBody("sf", "BEGIN"))
      f.event(t0, 19, tableMapBody(11, "sf", "orders", cols))
      f.event(t0, 30, rowsBody(11, cols.size, batch.map(image).toSeq))
      f.event(t0, 16, xidBody(4000L + fi))
      if (fi < 2) f.event(t0, 4, rotateBody(f"mysql-bin.${fi + 2}%06d"))
      java.nio.file.Files.write(
        new java.io.File(out, f"mysql-bin.${fi + 1}%06d").toPath, f.bytes)
    }
    out.getPath
  }

  val cdc40Oracle: String =
    """WITH ranked AS (
      |  SELECT o_orderkey,
      |    row_number() OVER (ORDER BY o_orderkey) AS rn
      |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 150)
      |), per_file AS (
      |  SELECT ((rn - 1) // 50) + 1 AS file_seq,
      |    COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |  FROM ranked GROUP BY 1
      |)
      |SELECT CAST(file_seq AS BIGINT) AS file_seq,
      |  printf('mysql-bin.%06d', file_seq) AS binlog_file,
      |  n_rows, key_sum,
      |  CASE WHEN file_seq < 3
      |       THEN printf('mysql-bin.%06d', file_seq + 1) END AS declared_next,
      |  CASE WHEN file_seq < 3 THEN CAST(4 AS BIGINT) END AS rotate_pos,
      |  TRUE AS chain_ok
      |FROM per_file ORDER BY file_seq""".stripMargin

  // cdc41 — STREAMING SCHEMA-EPOCH assignment (cdc37's running-count
  // epoch as STATE): the same DDL-interleaved fixture tails through the
  // binlog micro-batch source, and the epoch every row event decodes
  // under comes from [[graft.streaming.SchemaEpochs]]'
  // flatMapGroupsWithState — one long of state per table, folded over
  // each micro-batch's log-ordered slice — instead of cdc37's batch
  // running-frame window (which needs the whole log at once; an applier
  // tailing a live stream never has that). Shares cdc37's oracle: the
  // drained, epoch-tagged rows must aggregate to exactly the batch
  // assignment's table — state ≡ window, the same equivalence cdc20
  // gates for the apply fold.
  def cdc41StreamDdlEpoch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val fixtureDir = writeCdc37Fixture(spark, dir)
    val root = tmpFixtureDir("graft_cdc41_", dir)
    root.mkdirs()
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    import spark.implicits._
    withDrainPartitions(spark) {
      val ev = spark.readStream.format("binlog").load(fixtureDir)
        .filter(col("event_type") === "WriteRowsEventV2" ||
          (col("event_type") === "Query" &&
            col("query").startsWith("ALTER TABLE ")))
        .select(
          // row events carry the TableMap name; ALTERs name their target
          // in the statement (their `table` field is the decoder's
          // placeholder, not the DDL target) — one key space for both
          when(col("event_type") === "Query",
            regexp_extract(col("query"), "^ALTER TABLE (\\w+)", 1))
            .otherwise(col("table")).as("tbl"),
          col("file_seq"), col("event_index"),
          (col("event_type") === "Query").as("is_alter"),
          coalesce(size(col("row_images")).cast("long"), lit(0L)).as("n_rows"),
          coalesce(expr("""aggregate(transform(row_images,
            |  im -> cast(element_at(im, 1) as bigint)), 0L, (a, x) -> a + x)""".stripMargin),
            lit(0L)).as("key_sum"))
        .as[graft.streaming.SchemaEpochs.TableEvent]
      val q = graft.streaming.SchemaEpochs.assign(ev)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    spark.read.schema("tbl STRING, epoch BIGINT, n_rows BIGINT, key_sum BIGINT")
      .parquet(sink)
      .filter(col("tbl") === "orders")
      .groupBy("epoch")
      .agg(count(lit(1)).as("n_events"), sum(col("n_rows")).as("n_rows"),
        sum(col("key_sum")).as("key_sum"))
      .orderBy("epoch")
  }

  // cdc42 — STREAMING SCD2 history (cdc21's warehouse history table as
  // STATE): the change feed splits into two strictly time-ordered
  // micro-batches (file mtimes pinned so the file source's time order is
  // the feed order — the SchemaEpochsSpec discipline), tails through
  // [[graft.streaming.StreamingScd2]]'s flatMapGroupsWithState — one open
  // version of state per key, closed versions emitted as the next change
  // arrives, open versions emitted provisionally — and the drained sink
  // reconciles last-wins per (key, version): a closed emission supersedes
  // its provisional open one. Shares cdc21's oracle: the reconciled
  // drain must BE the batch `lead`-window history, state ≡ window — the
  // same equivalence cdc41 gates for schema epochs and cdc20 for the
  // apply fold.
  def cdc42StreamScd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = tmpFixtureDir("graft_cdc42_", dir)
    root.mkdirs()
    val feedDir = new java.io.File(root, "feed")
    feedDir.mkdirs()
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val feed = cdc17Feed(spark, dir).select("user_id", "src_ms", "ct", "pos")
    // coalesce: an empty feed has NULL min/max and the cut is unused
    val cut = feed
      .agg(expr("coalesce(min(src_ms) + (max(src_ms) - min(src_ms)) div 2," +
        " 0L)").as("c"))
      .head.getLong(0)
    def pinMtimes(ms: Long, seen: Set[String]): Set[String] = {
      val fs = Option(feedDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet"))
      fs.filterNot(f => seen(f.getName)).foreach(_.setLastModified(ms))
      fs.map(_.getName).toSet
    }
    feed.filter(col("src_ms") <= cut).coalesce(1)
      .write.mode("append").parquet(feedDir.getPath)
    val first = pinMtimes(1000000000000L, Set.empty)
    feed.filter(col("src_ms") > cut).coalesce(1)
      .write.mode("append").parquet(feedDir.getPath)
    pinMtimes(1000000060000L, first)
    withDrainPartitions(spark) {
      val changes = spark.readStream
        .schema("user_id BIGINT, src_ms BIGINT, ct STRING, pos BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(feedDir.getPath)
        .as[graft.streaming.StreamingScd2.Change]
      val q = graft.streaming.StreamingScd2.build(changes)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    spark.read
      .schema("user_id BIGINT, version_pos BIGINT, change_type STRING," +
        " valid_from_ms BIGINT, valid_to_ms BIGINT")
      .parquet(sink)
      .groupBy("user_id", "version_pos")
      .agg(max_by(
        struct(col("change_type"), col("valid_from_ms"), col("valid_to_ms")),
        struct(col("valid_to_ms").isNotNull)).as("v"))
      .select(col("user_id"), col("version_pos"),
        col("v.change_type").as("change_type"),
        col("v.valid_from_ms").as("valid_from_ms"),
        col("v.valid_to_ms").as("valid_to_ms"),
        when(col("v.valid_to_ms").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "valid_from_ms", "version_pos")
  }

  // cdc43 — BINLOG → AVRO → READ-BACK roundtrip identity: the reference
  // pipeline's two media (binlog bytes in, Avro containers out) composed
  // as one gate — cdc05's binary decode projection is WRITTEN through
  // the distributed AvroSink (4 containers, executor-side, the cdc07
  // write path) and read back via the avrofile DSv2 source, and the
  // result must BE cdc05's direct decode (shares cdc05's oracle
  // verbatim). This pins the sink/source pair as mutual inverses over
  // every type the projection carries (longs, nullable strings) — a
  // serialization asymmetry anywhere (union encoding, empty-string vs
  // null, sync-marker block splits across the 4 containers) lands as a
  // hash mismatch. Scale shape: decode and write are both distributed
  // (the repartition is the cdc07 4-container layout); nothing driver-
  // side but the bounded fixture writer cdc05 already owns.
  def cdc43AvroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val fixtureDir = writeCdc05Fixture(spark, dir)
    val decoded = cdc05Projection(
      spark.read.format("binlog").load(fixtureDir))
    val out = tmpFixtureDir("graft_cdc43_", dir)
    graft.ingest.AvroSink.write(
      decoded.repartition(4, col("o_orderkey")), out.getPath)
    spark.read.format("avrofile").load(out.getPath)
      .select(col("o_orderkey"), col("flags_bit"), col("status_idx"),
        col("meta_json"), col("o_custkey"), col("total_dec"),
        col("o_date"), col("priority"))
      .orderBy("o_orderkey")
  }

  // cdc44 — MULTI-SOURCE GLOBAL WATERMARK (the Flink/Beam min-rule:
  // a join over several feeds may only advance its event-time clock to
  // the MINIMUM of the per-source watermarks, because the slowest feed
  // can still deliver older events): the feed splits into two "regions"
  // (user_id parity — cdc35's active-active fixture shape), each
  // carries its own watermark max(src_ms) − 300 000, and the admission
  // audit reports, per source, how many events sit at or below the
  // GLOBAL (min) watermark — closable now — vs held open only because
  // the OTHER source lags (the n_held_by_peer column is the number an
  // operator actually pages on: state the slow feed is pinning in
  // everyone else). Pure aggregates: two max-shuffles and one broadcast
  // 1-row watermark table; the admission pass is one scan. cdc23 gates
  // single-feed lateness; cdc44 gates the cross-feed composition rule.
  def cdc44MultiWatermark(spark: SparkSession, dir: String): DataFrame = {
    val feed = cdc17Feed(spark, dir)
      .withColumn("source", pmod(col("user_id"), lit(2)).cast("long"))
    val wm = feed.groupBy("source")
      .agg((max(col("src_ms")) - 300000L).as("src_wm"))
    val global = wm.agg(min(col("src_wm")).as("global_wm"))
    feed.join(broadcast(wm), "source")
      .crossJoin(broadcast(global))
      .groupBy("source")
      .agg(count(lit(1)).as("n_events"),
        max(col("src_wm")).as("src_wm"),
        max(col("global_wm")).as("global_wm"),
        sum(when(col("src_ms") <= col("global_wm"), 1L).otherwise(0L))
          .as("n_closable"),
        sum(when(col("src_ms") <= col("src_wm") &&
          col("src_ms") > col("global_wm"), 1L).otherwise(0L))
          .as("n_held_by_peer"))
      .orderBy("source")
  }

  val cdc44Oracle: String =
    s"""WITH $cdcFeedCte, f AS (
      |  SELECT user_id % 2 AS source, src_ms FROM a
      |), wm AS (
      |  SELECT source, MAX(src_ms) - 300000 AS src_wm
      |  FROM f GROUP BY source
      |), g AS (SELECT MIN(src_wm) AS global_wm FROM wm)
      |SELECT f.source, COUNT(*) AS n_events,
      |  CAST(MAX(wm.src_wm) AS BIGINT) AS src_wm,
      |  CAST(MAX(g.global_wm) AS BIGINT) AS global_wm,
      |  CAST(SUM(CASE WHEN f.src_ms <= g.global_wm THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_closable,
      |  CAST(SUM(CASE WHEN f.src_ms <= wm.src_wm
      |    AND f.src_ms > g.global_wm THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_held_by_peer
      |FROM f JOIN wm USING (source) CROSS JOIN g
      |GROUP BY f.source ORDER BY f.source""".stripMargin

  // cdc45 — STREAMING INCREMENTAL VIEW MAINTENANCE over the binlog
  // source: q66 gates the delta rule Δ(A⋈B) = ΔA⋈B′ ∪ A⋈ΔB as batch
  // algebra; cdc45 DRIVES it from a live change feed — the engine's own
  // incremental shape end-to-end (the reference's one-pass probe loop,
  // compare_timestamps.go:168, applied to a derived view). ΔA (the
  // orders delta, q66's key-residue split) rides the wire as REAL
  // binlog-v4 files written by the distributed [[graft.ingest
  // .BinlogSink]] (no driver collect), streams back through
  // `readStream.format("binlog")` with maxFilesPerTrigger=1 so the
  // delta arrives across MULTIPLE micro-batches, and foreachBatch
  // maintains the materialized view: each batch appends the partial
  // aggregates of ΔA_k ⋈ B′ to the view's parquet state — partition-
  // local appends, additive partials, never a view rewrite. The initial
  // state is the old view's partials plus the one-shot A⋈ΔB leg, so
  // after the drain Σ(state) = q66's exact incremental decomposition
  // and the gate SHARES q66's oracle: a mismatch against a green q66
  // isolates the streaming delivery (source micro-batch planning,
  // sink encode, foreachBatch state handling), not the algebra.
  // At 100 TB: per batch the work is |ΔA_k| join-probes against B′
  // (keyed equi-join, delta-sized) plus a ≤|priorities|-row append —
  // the view is never rescanned, which is the entire point of IVM.

  def cdc45StreamIvm(spark: SparkSession, dir: String): DataFrame = {
    val (feed, state, ckpt) = streamDirs("graft_cdc45_", dir)
    val fx = ivmFixture(spark, dir)
    // ΔA → four real binlog files (keyed repartition: deterministic
    // membership, any partitioning sums to the same view)
    graft.ingest.BinlogSink.writeKeyedStrings(
      fx.aDelta.repartition(4, col("o_orderkey")), feed)
    // state₀ = old view's partials + the A⋈ΔB leg (ΔB applied batch-side
    // — the feed under maintenance here is A's; q66 already gates the
    // both-sides algebra, so B′ enters as the static join side)
    fx.partials(fx.aBase, fx.bBase)
      .unionByName(fx.partials(fx.aBase, fx.bDelta))
      .write.mode("overwrite").parquet(state)
    val bPrime = fx.bBase.unionByName(fx.bDelta)
      .localCheckpoint(true) // B′ = B ∪ ΔB: built once, probed per batch
    drainBinlogFeed(spark, feed, ckpt) { (batch, _) =>
      graft.streaming.ViewMaintenance.appendBatch(
        fx.partials(decodeIvmDelta(batch), bPrime), state)
    }
    ivmReport(fx, graft.streaming.ViewMaintenance.readState(spark, state,
      "o_orderpriority STRING, cents BIGINT, n BIGINT"))
  }

  // cdc46 — E10's tolerance as a BAND-JOIN PREDICATE (SURVEY §4's one
  // deferred Catalyst candidate, closed): the same five-tolerance sweep
  // as cdc04, but each tolerance's MISMATCH_TS verdict comes from the
  // band core (`Comparator.ToleranceBand`) — within-tolerance pairs found
  // by an equi-join on (key, time-bucket) with the band check riding the
  // join condition (q25's range-join shape; bucket width = the coarsest
  // tolerance), not by a post-join filter expression. Shares cdc04's
  // oracle: identical counts at every tolerance is exactly the
  // "same rows via the band-join plan" contract — a divergence isolates
  // the band machinery (bucket math, ±1 adjacency, duplicate-key
  // membership) from the tolerance semantics.
  def cdc46BandTolerance(spark: SparkSession, dir: String): DataFrame = {
    val (b, a) = sides(spark, dir)
    val bp = b.localCheckpoint(true) // both sweep legs share the prepared sides
    val ap = a.localCheckpoint(true)
    // ONE plan for the whole sweep: compareBandSweep joins the
    // tolerance-independent comparison once and resolves all five bands
    // in one (key, bucket)-keyed equi-join at the coarsest tolerance
    // (each side read twice in total); per tolerance the statuses are
    // bit-for-bit compare()'s, which cdc04's shared oracle gates.
    Comparator.compareBandSweep(bp, ap, Seq(0L, 50L, 100L, 250L, 1000L))
      .groupBy("tolerance_ms", "status").agg(count(lit(1)).as("count"))
      .select("tolerance_ms", "status", "count")
      .orderBy("tolerance_ms", "status")
  }

  // cdc47 — streaming IVM WITH RETRACTIONS: cdc45 maintains a view under
  // inserts; real changelogs also DELETE, and a maintained aggregate must
  // retract — the signed-multiset algebra (Σop, Σop·value per group)
  // every IVM engine runs on its delta stream. The retraction is carried
  // NATIVELY: the changelog rides the wire as binlog WRITE_ROWS (+1) and
  // DELETE_ROWS (−1) events (BinlogSink.writeChanges — inserts precede
  // their deletes on each file, a real changelog's contract), streams
  // back through the binlog source across multiple micro-batches, and
  // foreachBatch lands each batch's SIGNED partial aggregates in the
  // view state under cdc48's exactly-once discipline (batch_id-partition
  // overwrite + an injected batch-0 redelivery — signed sums would
  // double-count a replay, unlike cdc49's idempotent maxima, so the
  // sink MUST absorb it). Signed sums are commutative/associative, so
  // any batch split folds to the same view — which is exactly what the
  // oracle gates: the drained view equals the batch aggregate over the
  // surviving multiset. At 100 TB: per batch the work is one delta-sized
  // map + a ≤|groups|-row write; deletes cost the same as inserts (the
  // point of signed partials — no base-view lookup, no rescan).
  def cdc47StreamRetract(spark: SparkSession, dir: String): DataFrame = {
    val (feed, state, ckpt) = streamDirs("graft_cdc47_", dir)
    val base = fixtureBase(spark, dir)
      .filter(col("event_type").isin("purchase", "click", "view"))
    // signed changelog: every DML row inserts; every %3 row is later
    // retracted (same key/group — a genuine delete of an existing row)
    val ins = base.select(lit(1).as("op"), col("user_id").as("k"),
      col("event_type").as("grp"), col("event_id").as("ord"))
    val del = base.filter(col("event_id") % 3 === 0)
      .select(lit(-1).as("op"), col("user_id").as("k"),
        col("event_type").as("grp"), (col("event_id") + 100000000L).as("ord"))
    val changelog = ins.unionByName(del)
      .repartition(4, col("k"))
      .sortWithinPartitions("ord") // inserts precede their deletes per file
      .select("op", "k", "grp")
    graft.ingest.BinlogSink.writeChanges(changelog, feed)
    // Signed sums are NOT redelivery-idempotent (a replayed batch would
    // double its +/− weights — unlike cdc49's register maxima), so this
    // gate uses applyIdempotent's batch_id-partition overwrite, and
    // PROVES it by re-applying batch 0's write from the recorded file(s)
    // — the same crash-after-commit replay cdc48 injects, now absorbed
    // by a retraction-bearing view.
    def signedPartials(batch: DataFrame): DataFrame = batch
      .filter(col("event_type")
        .isin("WriteRowsEventV2", "DeleteRowsEventV2"))
      .select(when(col("event_type") === "WriteRowsEventV2", 1L)
        .otherwise(-1L).as("w"),
        explode(col("row_images")).as("img"))
      .select(col("w"),
        element_at(col("img"), 1).cast("long").as("k"),
        element_at(col("img"), 2).as("event_type"))
      .groupBy("event_type")
      .agg(sum(col("w")).as("n"), sum(col("w") * col("k")).as("ksum"))
    drainIdempotentWithRedelivery(spark, feed, ckpt, state)(signedPartials)
    graft.streaming.ViewMaintenance.readState(spark, state,
        "event_type STRING, n BIGINT, ksum BIGINT, batch_id BIGINT")
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_rows"), sum(col("ksum")).as("value_sum"))
      .orderBy("event_type")
  }

  val cdc47Oracle: String =
    """SELECT event_type,
      |  CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_rows,
      |  CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 0 ELSE user_id END)
      |    AS BIGINT) AS value_sum
      |FROM events WHERE event_type IN ('purchase', 'click', 'view')
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // cdc48 — IDEMPOTENT (exactly-once) foreachBatch SINK discipline:
  // foreachBatch gives at-least-once delivery — a batch whose sink write
  // committed but whose checkpoint offset didn't is REDELIVERED on
  // restart, and cdc45's plain parquet appends would double-count it.
  // The production fix is batch-id-keyed idempotent writes: partials
  // land in a state table PARTITIONED BY batch_id with dynamic
  // partition-overwrite, so a redelivered batch REPLACES its own
  // partition instead of appending next to it. The gate PROVES the
  // property by injecting the failure: after the drain, the first
  // batch's write is deliberately re-executed (same batch_id, same
  // rows — the redelivery), and the final view still has to equal q66's
  // batch decomposition — sharing q66's oracle, so a double-count is a
  // hash mismatch, not a silent drift. cdc18 gates SOURCE restart
  // parity (offsets); cdc48 gates SINK redelivery parity (writes) —
  // together the two halves of streaming exactly-once.
  def cdc48IdempotentSink(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val (feed, state, ckpt) = streamDirs("graft_cdc48_", dir)
    val fx = ivmFixture(spark, dir)
    graft.ingest.BinlogSink.writeKeyedStrings(
      fx.aDelta.repartition(4, col("o_orderkey")), feed)
    val bPrime = fx.bBase.unionByName(fx.bDelta).localCheckpoint(true)
    // state₀ under the same discipline (batch_id −1 = the old view's
    // partials against the OLD B, −2 = the one-shot A⋈ΔB leg — NOT a
    // B′ join, which would double-count ΔB)
    ViewMaintenance.applyIdempotent(fx.partials(fx.aBase, fx.bBase), state, -1L)
    ViewMaintenance.applyIdempotent(fx.partials(fx.aBase, fx.bDelta), state, -2L)
    // drain + the injected batch-0 redelivery the partition overwrite
    // must absorb (see drainIdempotentWithRedelivery)
    drainIdempotentWithRedelivery(spark, feed, ckpt, state)(b =>
      fx.partials(decodeIvmDelta(b), bPrime))
    ivmReport(fx, ViewMaintenance.readState(spark, state,
      "o_orderpriority STRING, cents BIGINT, n BIGINT, batch_id BIGINT")
      .drop("batch_id"))
  }

  // cdc49 — STREAMING SKETCH-VIEW MAINTENANCE: the third face of the IVM
  // family (cdc45 joins, cdc47 signed aggregates, this: MERGEABLE
  // SKETCHES — the view class a 100-TB deployment actually maintains,
  // because registers are bytes where distinct-sets are terabytes).
  // The change feed streams through the binlog source and foreachBatch
  // appends per-batch HLL REGISTER PARTIALS (group, register, max rho —
  // q61's exact 64-register/48-bit integer arithmetic); the final view
  // is the register-max fold over all partials. Register max is a
  // commutative idempotent monoid, so ANY batch split — and any batch
  // REDELIVERY, for free, unlike cdc48's sums — folds to the same
  // registers; the oracle gates the drained registers, the register-sum,
  // and the resulting estimate against the batch sketch plus the exact
  // distinct count. Deletes deliberately absent: register max cannot
  // retract (sketch views are insert-only monotone — documented
  // contract, cdc47 is the retraction story).
  def cdc49StreamSketch(spark: SparkSession, dir: String): DataFrame = {
    val (feed, state, ckpt) = streamDirs("graft_cdc49_", dir)
    val base = fixtureBase(spark, dir)
      .filter(col("event_type").isin("purchase", "click", "view"))
    graft.ingest.BinlogSink.writeKeyedStrings(
      base.select(col("user_id"), col("event_type"))
        .repartition(4, col("user_id")), feed)
    drainBinlogFeed(spark, feed, ckpt) { (batch, _) =>
      graft.streaming.ViewMaintenance.appendBatch(
        graft.ops.Hll.withRegRho(
            batch.filter(col("event_type") === "WriteRowsEventV2")
              .select(explode(col("row_images")).as("img"))
              .select(element_at(col("img"), 1).cast("long").as("user_id"),
                element_at(col("img"), 2).as("event_type")),
            col("user_id"))
          .groupBy("event_type", "reg").agg(max(col("rho")).as("r")),
        state)
    }
    val regs = graft.streaming.ViewMaintenance.readState(spark, state,
        "event_type STRING, reg BIGINT, r INT")
      .groupBy("event_type", "reg").agg(max(col("r")).as("r"))
    val sums = regs.groupBy("event_type")
      .agg(graft.ops.Hll.sum48OverR.as("sum48"),
        count(lit(1)).as("n_regs_hit"))
    val exact = base.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    sums.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"), col("n_regs_hit"),
        col("sum48"), graft.ops.Hll.estExpr("sum48").as("est"))
      .orderBy("event_type")
  }

  val cdc49Oracle: String =
    """WITH dml AS (
      |  SELECT user_id, event_type FROM events
      |  WHERE event_type IN ('purchase', 'click', 'view')
      |), b AS (
      |  SELECT event_type,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM dml
      |), rho AS (
      |  SELECT event_type, h >> 54 AS reg,
      |    CASE WHEN h % 18014398509481984 = 0 THEN 55
      |         ELSE 55 - length(bin(h % 18014398509481984)) END AS rho
      |  FROM b
      |), regs AS (
      |  SELECT event_type, reg, MAX(rho) AS r FROM rho GROUP BY 1, 2
      |), s AS (
      |  SELECT event_type,
      |    CAST(SUM(281474976710656 >> CAST(r AS INT))
      |      + (64 - COUNT(*)) * 281474976710656 AS BIGINT) AS sum48,
      |    COUNT(*) AS n_regs_hit
      |  FROM regs GROUP BY event_type
      |), x AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      |  FROM dml GROUP BY event_type
      |)
      |SELECT s.event_type, x.n_exact, s.n_regs_hit, s.sum48,
      |  CAST((((281474976710656 * 4096) // s.sum48) * 709) // 1000
      |    AS BIGINT) AS est
      |FROM s JOIN x USING (event_type) ORDER BY s.event_type""".stripMargin

  // cdc50 — E10's tolerance band SERVED UNDER STREAMING: cdc46 gates the
  // band-join plan in batch; this drains the same five-tolerance sweep
  // through the STREAM-STATIC comparator
  // (StreamingComparator.compareStreamBandSweep) — the within-band Δ
  // rides a second chained stream-static equi-join on (file, pos,
  // time-bucket) against the once-bucketed static side (no distinct, no
  // stream-derived rejoin). One drain, BINLOG_ONLY reconciled in
  // the documented end-of-stream batch step — tolerance-independent
  // (left-outer emits every avro row at every tolerance), so it is
  // computed once and replicated across the sweep by explode. Shares
  // cdc04's oracle: a divergence isolates the STREAMING band delivery
  // (micro-batch planning, the chained-join plan, the drain) from the
  // band machinery (cdc46) and the tolerance semantics (cdc04).
  def cdc50StreamBandTolerance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tols = Seq(0L, 50L, 100L, 250L, 1000L)
    val root = tmpFixtureDir("graft_cdc50_", dir)
    val feed = new java.io.File(root, "feed").getPath
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val (binlogStaticLazy, avroRaw) = sidesRaw(spark, dir)
    // materialize the static side ONCE: the main join and the band leg
    // would otherwise re-execute the prepare shuffle every micro-batch
    // (a static subtree is re-run per micro-batch unless materialized)
    val binlogStatic = binlogStaticLazy.localCheckpoint(true)
    avroRaw.write.mode("overwrite").json(feed)
    withDrainPartitions(spark) {
      val avroStream = Comparator.prepareAvro(
        spark.readStream.schema(avroRaw.schema).json(feed))
      // the whole sweep in ONE stream-static plan: one main join + one
      // coarsest-band leg + a stateless per-tolerance explode (the
      // nesting argument on Comparator.ToleranceBand)
      val q = graft.streaming.StreamingComparator
        .compareStreamBandSweep(avroStream, binlogStatic, tols)
        .select(col("tolerance_ms"), col("binlog_file"),
          col("position"), col("status"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    val drained = spark.read.schema("tolerance_ms BIGINT, " +
        "binlog_file STRING, position BIGINT, status STRING")
      .parquet(sink)
    val binlogOnly = graft.streaming.StreamingComparator.reconcileBinlogOnly(
        binlogStatic,
        drained.filter(col("tolerance_ms") === 0L)
          .select(col("binlog_file"), col("position").as("binlog_position")))
      .select(col("binlog_file"), col("position"), col("status"),
        explode(typedlit(tols)).as("tolerance_ms"))
    drained.unionByName(binlogOnly.select(
        "tolerance_ms", "binlog_file", "position", "status"))
      .groupBy("tolerance_ms", "status").agg(count(lit(1)).as("count"))
      .orderBy("tolerance_ms", "status")
  }



  // cdc52 — the tolerance band under STREAM-STREAM (the one tolerance
  // posture left: cdc46 batch band, cdc50 stream-static band, cdc16
  // stream-stream post-join-filter). The band folds into ONE join in
  // StreamingComparator.compareStreamsBandSweep: bucket ± 1 at the
  // coarsest tolerance exploded on the binlog side, the bucket on the
  // avro side, a single watermarked left-outer equi-join on (file, pos,
  // bucket) carrying the exact band check, and per-tolerance verdicts
  // from the carried Δ after the join — the whole five-tolerance sweep
  // in one plan (explode factor 3).
  // Harness is cdc16's: sentinel files flush the outer join's null side;
  // the terminal batch steps then (a) reclassify an unmatched avro row
  // to MISMATCH_TS when its key exists in the binlog snapshot — which
  // folds the out-of-band, parse-error, AND Go-zero-time classes in one
  // presence check — and (b) reconcile BINLOG_ONLY, replicated across
  // the sweep by explode (tolerance-independent, the cdc50 device).
  // Shares cdc04's oracle: a divergence isolates the stream-stream band
  // delivery from the band machinery (cdc46), the streaming band
  // serving (cdc50), and the tolerance semantics (cdc04).
  def cdc52StreamStreamBand(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.cdc.Schemas
    val tols = Seq(0L, 50L, 100L, 250L, 1000L)
    val root = tmpFixtureDir("graft_cdc52_", dir)
    root.mkdirs()
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val binlogRaw = binlogRawSide(spark, dir)
    val (binlogStaticLazy, avroRaw) = sidesRaw(spark, dir)
    val binlogStatic = binlogStaticLazy.localCheckpoint(true) // cdc12 note
    val (bFeed, aFeed) = parityFeeds(spark, dir, root, binlogRaw, avroRaw)
    withDrainPartitions(spark) {
      val binlogStream = Comparator.normalizeBinlog(
        spark.readStream.schema(binlogRaw.schema)
          .option("maxFilesPerTrigger", 1)
          .option("recursiveFileLookup", "true").json(bFeed.getPath))
      val avroStream = Comparator.prepareAvro(
        spark.readStream.schema(avroRaw.schema)
          .option("maxFilesPerTrigger", 1)
          .option("recursiveFileLookup", "true").json(aFeed.getPath))
      // the E8 parse-error class carries no event time — split off
      // pre-join; its pairs resolve at the terminal presence check
      val (timed, _) = graft.streaming.StreamingComparator
        .partitionUnparseableBinlog(binlogStream)
      val q = graft.streaming.StreamingComparator
        .compareStreamsBandSweep(avroStream, timed, tols,
          maxSkew = "10 minutes", watermarkDelay = "1 second")
        .select("tolerance_ms", "binlog_file", "position", "status")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    new java.io.File(sink).mkdirs() // empty feed → empty relation (cdc12 note)
    val drained = spark.read.schema(
        "tolerance_ms BIGINT, binlog_file STRING, position BIGINT, status STRING")
      .parquet(sink)
      .filter(col("position") < 700000000L)
    // terminal (a): no in-band partner BUT the key exists in the binlog
    // snapshot ⇒ MISMATCH_TS (out-of-band / parse-error / Go-zero, one
    // presence check); truly absent ⇒ AVRO_ONLY stands
    val bKeys = binlogStatic.select(col("binlog_file").as("_k_file"),
      col("log_position").as("_k_pos")).distinct()
    val reclassified = drained.join(bKeys,
        col("binlog_file") === col("_k_file") &&
          col("position") === col("_k_pos"), "left_outer")
      .withColumn("status",
        when(col("status") === Schemas.Status.AvroOnly && col("_k_pos").isNotNull,
          lit(Schemas.Status.MismatchTs)).otherwise(col("status")))
      .drop("_k_file", "_k_pos")
    // terminal (b): BINLOG_ONLY, tolerance-independent → explode (cdc50)
    val binlogOnly = graft.streaming.StreamingComparator.reconcileBinlogOnly(
        binlogStatic,
        avroRaw.select(col("binlog_file"), col("binlog_position")))
      .select(col("binlog_file"), col("position"), col("status"),
        explode(typedlit(tols)).as("tolerance_ms"))
    reclassified.select("tolerance_ms", "binlog_file", "position", "status")
      .unionByName(binlogOnly.select(
        "tolerance_ms", "binlog_file", "position", "status"))
      .groupBy("tolerance_ms", "status").agg(count(lit(1)).as("count"))
      .orderBy("tolerance_ms", "status")
  }






  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc52_stream_stream_band" -> (cdc52StreamStreamBand _),
    "cdc50_stream_band" -> (cdc50StreamBandTolerance _),
    "cdc49_stream_sketch" -> (cdc49StreamSketch _),
    "cdc48_idempotent_sink" -> (cdc48IdempotentSink _),
    "cdc47_stream_retract" -> (cdc47StreamRetract _),
    "cdc46_band_tolerance" -> (cdc46BandTolerance _),
    "cdc45_stream_ivm" -> (cdc45StreamIvm _),
    "cdc44_multi_watermark" -> (cdc44MultiWatermark _),
    "cdc43_avro_roundtrip" -> (cdc43AvroRoundtrip _),
    "cdc42_stream_scd2" -> (cdc42StreamScd2 _),
    "cdc01_status_counts" -> (cdc01StatusCounts _),
    "cdc02_summary" -> (cdc02Summary _),
    "cdc03_file_breakdown" -> (cdc03FileBreakdown _),
    "cdc04_tolerance_sweep" -> (cdc04ToleranceSweep _),
    "cdc05_binary_source" -> (cdc05BinarySource _),
    "cdc06_text_source" -> (cdc06TextSource _),
    "cdc07_avro_source" -> (cdc07AvroSource _),
    "cdc08_json_source" -> (cdc08JsonSource _),
    "cdc09_avrojson_source" -> (cdc09AvroJsonSource _),
    "cdc10_catalog_source" -> (cdc10CatalogSource _),
    "cdc11_catalog_avro" -> (cdc11CatalogAvro _),
    "cdc12_stream_drain" -> (cdc12StreamDrain _),
    "cdc13_stream_binlog" -> (cdc13StreamBinlog _),
    "cdc14_stream_dedup" -> (cdc14StreamDedup _),
    "cdc15_stream_windows" -> (cdc15StreamWindows _),
    "cdc16_stream_parity" -> (cdc16StreamParity _),
    "cdc17_snapshot_apply" -> (cdc17SnapshotApply _),
    "cdc18_restart_parity" -> (cdc18RestartParity _),
    "cdc19_schema_evolution" -> (cdc19SchemaEvolution _),
    "cdc20_incremental_apply" -> (cdc20IncrementalApply _),
    "cdc21_scd2_history" -> (cdc21Scd2History _),
    "cdc22_lag_percentiles" -> (cdc22LagPercentiles _),
    "cdc23_lateness_metrics" -> (cdc23LatenessMetrics _),
    "cdc24_sequence_audit" -> (cdc24SequenceAudit _),
    "cdc25_txn_assembly" -> (cdc25TxnAssembly _),
    "cdc26_key_skew" -> (cdc26KeySkew _),
    "cdc27_snapshot_diff" -> (cdc27SnapshotDiff _),
    "cdc28_watermark_apply" -> (cdc28WatermarkApply _),
    "cdc29_compaction_debt" -> (cdc29CompactionDebt _),
    "cdc30_multitable_route" -> (cdc30MultiTableRoute _),
    "cdc31_idempotent_replay" -> (cdc31IdempotentReplay _),
    "cdc32_log_gaps" -> (cdc32LogGaps _),
    "cdc33_table_checksum" -> (cdc33TableChecksum _),
    "cdc34_stream_sessions" -> (cdc34StreamSessions _),
    "cdc35_active_active" -> (cdc35ActiveActive _),
    "cdc36_column_churn" -> (cdc36ColumnChurn _),
    "cdc37_ddl_epoch" -> (cdc37DdlEpoch _),
    "cdc38_gtid_coverage" -> (cdc38GtidCoverage _),
    "cdc39_stream_route" -> (cdc39StreamRoute _),
    "cdc40_rotate_chain" -> (cdc40RotateChain _),
    "cdc41_stream_ddl_epoch" -> (cdc41StreamDdlEpoch _),
  )

  val oracles: Map[String, String] = Map(
    "cdc01_status_counts" -> cdc01Oracle,
    "cdc02_summary" -> cdc02Oracle,
    "cdc03_file_breakdown" -> cdc03Oracle,
    "cdc04_tolerance_sweep" -> cdc04Oracle,
    "cdc05_binary_source" -> cdc05Oracle,
    "cdc06_text_source" -> cdc06Oracle,
    "cdc07_avro_source" -> cdc07Oracle,
    "cdc08_json_source" -> cdc08Oracle,
    "cdc09_avrojson_source" -> cdc09Oracle,
    "cdc10_catalog_source" -> cdc05Oracle, // same decode, catalog-routed
    "cdc11_catalog_avro" -> cdc07Oracle, // same container read, catalog-routed
    "cdc12_stream_drain" -> cdc01Oracle, // drained stream == batch compare
    "cdc13_stream_binlog" -> cdc05Oracle, // streamed decode == batch decode
    "cdc14_stream_dedup" -> cdc14Oracle,
    "cdc15_stream_windows" -> cdc15Oracle,
    "cdc16_stream_parity" -> cdc01Oracle, // the parity contract IS cdc01
    "cdc17_snapshot_apply" -> cdc17Oracle,
    "cdc18_restart_parity" -> cdc01Oracle, // restart must equal the batch compare
    "cdc19_schema_evolution" -> cdc19Oracle,
    "cdc20_incremental_apply" -> cdc17Oracle, // incremental == one-shot apply
    "cdc21_scd2_history" -> cdc21Oracle,
    "cdc22_lag_percentiles" -> cdc22Oracle,
    "cdc23_lateness_metrics" -> cdc23Oracle,
    "cdc24_sequence_audit" -> cdc24Oracle,
    "cdc25_txn_assembly" -> cdc25Oracle,
    "cdc26_key_skew" -> cdc26Oracle,
    "cdc27_snapshot_diff" -> cdc27Oracle,
    "cdc28_watermark_apply" -> cdc28Oracle,
    "cdc29_compaction_debt" -> cdc29Oracle,
    "cdc30_multitable_route" -> cdc30Oracle,
    "cdc31_idempotent_replay" -> cdc17Oracle, // replayed feed == clean feed
    "cdc32_log_gaps" -> cdc32Oracle,
    "cdc33_table_checksum" -> cdc33Oracle,
    "cdc34_stream_sessions" -> cdc34Oracle,
    "cdc35_active_active" -> cdc35Oracle,
    "cdc36_column_churn" -> cdc36Oracle,
    "cdc37_ddl_epoch" -> cdc37Oracle,
    "cdc38_gtid_coverage" -> cdc38Oracle,
    "cdc39_stream_route" -> cdc30Oracle, // same routing summary, streamed
    "cdc40_rotate_chain" -> cdc40Oracle,
    "cdc41_stream_ddl_epoch" -> cdc37Oracle, // drained state == batch window
    "cdc42_stream_scd2" -> cdc21Oracle, // reconciled drain == batch SCD2
    "cdc43_avro_roundtrip" -> cdc05Oracle, // write∘read == identity on the decode
    "cdc44_multi_watermark" -> cdc44Oracle,
    // stream-maintained view == q66's batch IVM decomposition — a
    // mismatch against a green q66 isolates the streaming delivery
    "cdc45_stream_ivm" -> AnalyticQueries.q66Oracle,
    // band-join tolerance == cdc04's post-join-filter sweep, bit-for-bit
    "cdc46_band_tolerance" -> cdc04Oracle,
    "cdc50_stream_band" -> cdc04Oracle, // streaming band == batch sweep
    // stream-STREAM band (one exploded equi-join) == the batch sweep
    "cdc52_stream_stream_band" -> cdc04Oracle,
    "cdc47_stream_retract" -> cdc47Oracle,
    // redelivered-batch write absorbed ⇒ still q66's exact decomposition
    "cdc48_idempotent_sink" -> AnalyticQueries.q66Oracle,
    "cdc49_stream_sketch" -> cdc49Oracle,
  )
}
