package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ingest.Sources

/** Golden end-to-end matrix from FIXTURES.md §4 — every reference quirk
  * (strict tolerance edge, zero-time compare, dead DELETE branch, last-wins
  * dedup, XID suppression, probe multiplicity, parse-error short-circuit).
  */
class ComparatorSpec extends AnyFunSuite with SparkTestSession {
  import Schemas.Status

  // 2024-05-01T12:00:00Z
  private val T0 = 1714564800000L

  private val binlogLines = Seq(
    // 1 exact match (ns-precision icts)
    """{"event_type":"WriteRowsEventV2","timestamp":"2024-05-01T12:00:00Z","immediate_commmit_timestamp":"2024-05-01T12:00:00.123456789Z","log_position":1573,"table":"orders","schema":"shop","binlog_file":"mysql-bin.000001"}""",
    // 2 tolerance edge (Δ = exactly 100 ms ⇒ MATCH, strict >)
    """{"event_type":"UpdateRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":2000,"binlog_file":"mysql-bin.000001"}""",
    // 3 ts mismatch (Δ = 101 ms)
    """{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":3000,"binlog_file":"mysql-bin.000001"}""",
    // 4 missing both timestamps ⇒ zero-time compare ⇒ MISMATCH_TS
    """{"event_type":"WriteRowsEventV2","log_position":4000,"binlog_file":"mysql-bin.000001"}""",
    // 5 fallback to `timestamp` (no icts)
    """{"event_type":"WriteRowsEventV2","timestamp":"2024-05-01T12:00:00Z","log_position":5000,"binlog_file":"mysql-bin.000001"}""",
    // 6 gtid mismatch (flag only)
    """{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":6000,"gtid_next":"uuid:1","binlog_file":"mysql-bin.000001"}""",
    // 7 change-type mismatch (flag only)
    """{"event_type":"UpdateRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":7000,"binlog_file":"mysql-bin.000001"}""",
    // 8 V2 delete dead branch ⇒ no change-type flag
    """{"event_type":"DeleteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":8000,"binlog_file":"mysql-bin.000001"}""",
    // 10 binlog-only DML
    """{"event_type":"WriteRowsEventV2","timestamp":"2024-05-01T12:00:00Z","log_position":7777,"binlog_file":"mysql-bin.000001"}""",
    // 11 binlog-only XID ⇒ suppressed
    """{"event_type":"XID","timestamp":"2024-05-01T12:00:00Z","log_position":1604,"xid":77,"binlog_file":"mysql-bin.000001"}""",
    // 12 duplicate build key — first loses,
    """{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":4242,"binlog_file":"mysql-bin.000001"}""",
    // 12 ... last wins (ts +5 s)
    """{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:05Z","log_position":4242,"binlog_file":"mysql-bin.000001"}""",
    // 13 zero-value key ⇒ dropped
    """{"event_type":"WriteRowsEventV2","timestamp":"2024-05-01T12:00:00Z","log_position":0,"binlog_file":"mysql-bin.000001"}""",
    // 15 probe multiplicity target
    """{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":5555,"binlog_file":"mysql-bin.000001"}""",
    // 16 unparseable icts (no zone) ⇒ counted mismatch, gtid check skipped
    """{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-01 12:00:00","log_position":6666,"gtid_next":"uuid:1","binlog_file":"mysql-bin.000001"}""",
    // 17 irrelevant event types ⇒ filtered by P3
    """{"event_type":"Query","timestamp":"2024-05-01T11:59:59Z","log_position":1420,"schema":"shop","query":"BEGIN","binlog_file":"mysql-bin.000001"}""",
    // no event_type ⇒ skipped
    """{"timestamp":"2024-05-01T12:00:00Z","log_position":1111,"binlog_file":"mysql-bin.000001"}""",
    // 14 malformed line ⇒ quarantined
    """this is not json"""
  )

  private def avroLine(pos: Long, ts: Long, gtid: String = "",
      changeType: String = "", db: String = "shop", table: String = "orders") = {
    val g = if (gtid.isEmpty) "" else s""""gtid":{"string":"$gtid"},"""
    val ct = if (changeType.isEmpty) "" else s""""change_type":{"string":"$changeType"},"""
    s"""{"source_timestamp":$ts,"source_metadata":{"database":"$db","table":"$table",$g$ct"binlog_file":{"string":"mysql-bin.000001"},"binlog_position":{"long":$pos},"primary_keys":["id"]},"payload":{}}"""
  }

  private val avroLines = Seq(
    avroLine(1573, T0 + 123, changeType = "INSERT"),    // 1 MATCH (Δ≈0.456ms)
    avroLine(2000, T0 + 100, changeType = "UPDATE"),    // 2 MATCH edge
    avroLine(3000, T0 + 101),                           // 3 MISMATCH_TS
    avroLine(4000, T0),                                 // 4 MISMATCH_TS (zero time)
    avroLine(5000, T0 + 50),                            // 5 MATCH via fallback
    avroLine(6000, T0, gtid = "uuid:2"),                // 6 MISMATCH_GTID
    avroLine(7000, T0, changeType = "INSERT"),          // 7 MISMATCH_CHANGE_TYPE
    avroLine(8000, T0, changeType = "INSERT"),          // 8 MATCH (dead branch)
    avroLine(9999, T0),                                 // 9 AVRO_ONLY
    avroLine(4242, T0 + 5000),                          // 12 MATCH vs last-wins winner
    avroLine(5555, T0 + 10),                            // 15a MATCH
    avroLine(5555, T0 + 5000),                          // 15b MISMATCH_TS (same key)
    avroLine(6666, T0, gtid = "uuid:2"),                // 16 MISMATCH_TS (parse error), gtid skipped
    avroLine(1234, 0L).replace(""""binlog_position":{"long":1234}""",
      """"binlog_position":{"long":0}"""),              // 13 zero key ⇒ dropped
    """{"broken"""                                      // 14 malformed ⇒ quarantined
  )

  private lazy val compared = {
    val dir = Files.createTempDirectory("cdc").toFile
    val bf = new java.io.File(dir, "binlog_metadata.json")
    val af = new java.io.File(dir, "avro_rows.json")
    Files.write(bf.toPath, binlogLines.mkString("\n").getBytes)
    Files.write(af.toPath, avroLines.mkString("\n").getBytes)

    val bq = Sources.quarantine(Sources.binlogJson(spark, bf.getPath))
    val aq = Sources.quarantine(Sources.avroJson(spark, af.getPath))
    assert(bq.quarantine.count() == 1)
    assert(aq.quarantine.count() == 1)

    // Ordered-read path must agree with the reader path on the clean rows
    // and carry an exact within-file order.
    val ordered = Sources.binlogJsonOrdered(spark, bf.getPath)
    assert(ordered.filter(col("_corrupt_record").isNotNull).count() == 1)
    val lineNos = ordered.filter(col("_corrupt_record").isNull)
      .orderBy("line_no").select("line_no").collect().map(_.getInt(0)).toSeq
    assert(lineNos == lineNos.sorted && lineNos.distinct.size == lineNos.size)

    val binlog = Comparator.prepareBinlog(bq.clean, monotonically_increasing_id())
    val avro = Comparator.prepareAvro(Comparator.flattenWrappedAvro(aq.clean))
    Comparator.compare(binlog, avro).cache()
  }

  private def statusOf(pos: Long): Seq[String] =
    compared.filter(col("position") === pos)
      .select("status").collect().map(_.getString(0)).toSeq

  test("exact match within tolerance") { assert(statusOf(1573) == Seq(Status.Match)) }
  test("tolerance edge Δ=100ms is a match (strict >)") { assert(statusOf(2000) == Seq(Status.Match)) }
  test("Δ=101ms is a ts mismatch") { assert(statusOf(3000) == Seq(Status.MismatchTs)) }
  test("missing both binlog timestamps ⇒ zero-time mismatch") {
    assert(statusOf(4000) == Seq(Status.MismatchTs))
  }
  test("falls back to `timestamp` when icts absent") { assert(statusOf(5000) == Seq(Status.Match)) }
  test("gtid mismatch flagged") {
    assert(statusOf(6000) == Seq(Status.MismatchGtid))
    val r = compared.filter(col("position") === 6000).select("ts_mismatch", "gtid_mismatch").head()
    assert(!r.getBoolean(0) && r.getBoolean(1))
  }
  test("change-type mismatch flagged (UPDATE vs INSERT)") {
    assert(statusOf(7000) == Seq(Status.MismatchChangeType))
  }
  test("change type compares case-insensitively (lowercase Avro change_type)") {
    val dir = Files.createTempDirectory("cdc_ct").toFile
    val bf = new java.io.File(dir, "binlog_metadata.json")
    val af = new java.io.File(dir, "avro_rows.json")
    def event(pos: Long, eventType: String = "WriteRowsEventV2") =
      s"""{"event_type":"$eventType","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":$pos,"binlog_file":"mysql-bin.000001"}"""
    // beyond ASCII the fold is `upper`'s: dotless ı and long ſ fold to I
    // and S, so both spell INSERT; Ü stays Ü, so ÜPDATE is not UPDATE
    val changeTypes = Seq(100L -> "insert", 200L -> "update", 300L -> "\u0131nsert",
      400L -> "in\u017fert", 500L -> "\u00dcPDATE")
    Files.write(bf.toPath, (changeTypes.map(ct => event(ct._1)).dropRight(1) :+
      event(500, "UpdateRowsEventV2")).mkString("\n").getBytes(UTF_8))
    Files.write(af.toPath, changeTypes.map { case (pos, ct) =>
      avroLine(pos, T0, changeType = ct) }.mkString("\n").getBytes(UTF_8))
    val binlog = Comparator.prepareBinlog(
      Sources.quarantine(Sources.binlogJson(spark, bf.getPath)).clean,
      monotonically_increasing_id())
    val avro = Comparator.prepareAvro(Comparator.flattenWrappedAvro(
      Sources.quarantine(Sources.avroJson(spark, af.getPath)).clean))
    val status = Comparator.compare(binlog, avro).select("position", "status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(status == Map(100L -> Status.Match, 200L -> Status.MismatchChangeType,
      300L -> Status.Match, 400L -> Status.Match, 500L -> Status.MismatchChangeType))
    // the fold is `upper` on every one of these, and on ASCII punctuation
    import spark.implicits._
    val inputs = changeTypes.map(_._2) ++ Seq("", "Delete", "a-z_A-Z 0-9", "stra\u00dfe")
    val folded = inputs.toDF("c")
      .select(Comparator.upperCase(col("c")), upper(col("c"))).collect()
    folded.foreach(r => assert(r.getString(0) == r.getString(1), s"fold of $r"))
  }
  test("V2 delete dead branch never flags change type") {
    assert(statusOf(8000) == Seq(Status.Match))
  }
  test("strict mode fixes the dead DELETE branch") {
    val strict = Normalize.inferredChangeType(lit("DeleteRowsEventV2"), strict = true)
    val lax = Normalize.inferredChangeType(lit("DeleteRowsEventV2"), strict = false)
    val r = spark.range(1).select(strict.as("s"), lax.as("l")).head()
    assert(r.getString(0) == "DELETE" && r.getString(1) == "")
  }
  test("avro-only") { assert(statusOf(9999) == Seq(Status.AvroOnly)) }
  test("binlog-only DML reported") { assert(statusOf(7777) == Seq(Status.BinlogOnly)) }
  test("binlog-only XID suppressed") {
    assert(statusOf(1604) == Seq(Status.BinlogOnlySuppressed))
  }
  test("duplicate build key: last event wins") {
    assert(statusOf(4242) == Seq(Status.Match)) // mismatch if the first had won
  }
  test("zero-value keys dropped on both sides") {
    assert(compared.filter(col("position").isin(0L, 1234L)).count() == 0)
  }
  test("probe multiplicity: both avro rows compared, key matched once") {
    assert(statusOf(5555).sorted == Seq(Status.Match, Status.MismatchTs))
  }
  test("icts parse error: counted mismatch, gtid check short-circuited") {
    val r = compared.filter(col("position") === 6666)
      .select("status", "ts_parse_error", "gtid_mismatch").head()
    assert(r.getString(0) == Status.MismatchTs && r.getBoolean(1) && !r.getBoolean(2))
  }
  test("irrelevant / missing event_type rows never join") {
    assert(compared.filter(col("position").isin(1420L, 1111L)).count() == 0)
  }

  test("summary counters match the reference's five counts") {
    val s = Report.summary(compared).head()
    assert(s.getLong(s.fieldIndex("matched")) == 12)
    assert(s.getLong(s.fieldIndex("mismatches")) == 4)
    assert(s.getLong(s.fieldIndex("avro_only")) == 1)
    assert(s.getLong(s.fieldIndex("binlog_only")) == 1)
    assert(!s.getBoolean(s.fieldIndex("consistent")))
  }

  test("missing avro source_timestamp folds to Go zero ⇒ MISMATCH_TS") {
    // regression: null avro timestamp must compare against epoch 0 (the
    // Go zero value of the int64 field) and mismatch — not null-propagate
    // into a MATCH
    val b = Comparator.prepareBinlog(
      spark.read.schema(Schemas.binlogReadSchema).json(
        spark.createDataset(Seq(
          """{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":10,"binlog_file":"f"}"""
        ))(org.apache.spark.sql.Encoders.STRING)),
      monotonically_increasing_id())
    val a = Comparator.prepareAvro(Comparator.flattenWrappedAvro(
      spark.read.schema(Schemas.avroWrappedReadSchema).json(
        spark.createDataset(Seq(
          """{"source_metadata":{"binlog_file":{"string":"f"},"binlog_position":{"long":10}}}"""
        ))(org.apache.spark.sql.Encoders.STRING))))
    val r = Comparator.compare(b, a).select("status").head()
    assert(r.getString(0) == Status.MismatchTs)
  }

  test("typed Dataset[ComparisonResult] view round-trips the flags") {
    val t = Comparator.typed(compared).collect()
    assert(t.length == compared.count())
    val m = t.find(_.position == 6666L).get
    assert(m.ts_parse_error && m.ts_mismatch && !m.gtid_mismatch &&
      m.status == Status.MismatchTs && m.b_present && m.a_present)
    val bo = t.find(_.position == 7777L).get
    assert(bo.is_dml && !bo.a_present && bo.status == Status.BinlogOnly)
  }

  test("detail report excludes MATCH and suppressed rows") {
    val statuses = Report.detail(compared).select("status").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!statuses.contains(Status.Match))
    assert(!statuses.contains(Status.BinlogOnlySuppressed))
  }
}
