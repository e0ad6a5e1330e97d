package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Table-driven unit coverage of the Normalize column functions (SURVEY
  * §5.1): E4 classification (the text parser's, which has no Column
  * twin), E12's asymmetric suffix sets incl. the dead
  * V2-DELETE branch, P7's six-suffix DML set, E10 tolerance edges, RFC3339
  * shape guard, E14/E15 filename helpers.
  */
class NormalizeSpec extends AnyFunSuite with SparkTestSession {

  private def evalStr(c: org.apache.spark.sql.Column): String =
    spark.range(1).select(c.cast("string").as("v")).head().getString(0)

  test("E4 classification: canonical V2 names win, else strip one Event") {
    val cases = Seq(
      "WriteRowsEventV2 (42)" -> "WriteRowsEventV2",
      "UpdateRowsEventV2" -> "UpdateRowsEventV2",
      "DeleteRowsEventV2 extra" -> "DeleteRowsEventV2",
      "QueryEvent" -> "Query",
      "XidEvent" -> "Xid",
      "FormatDescriptionEvent" -> "FormatDescription",
      "GtidEvent" -> "Gtid",
      "NoSuffix" -> "NoSuffix")
    cases.foreach { case (in, out) =>
      assert(graft.ingest.BinlogTextParser.classifyHeader(in) == out, in)
    }
  }

  test("E12 inferred change type: lax reproduces the dead DELETE branch") {
    val cases = Seq(
      ("WriteRowsEventV2", "INSERT", "INSERT"),
      ("WriteRowsV1", "INSERT", "INSERT"),
      ("UpdateRowsEventV2", "UPDATE", "UPDATE"),
      ("UpdateRowsV1", "UPDATE", "UPDATE"),
      ("DeleteRowsEventV2", "", "DELETE"), // dead branch in lax mode
      ("DeleteRowsV1", "DELETE", "DELETE"),
      // the literal suffix the reference bug tests for: matched in lax
      // (reproducing the bug), dropped in strict (it never occurs — E4
      // always classifies V2 deletes as DeleteRowsEventV2)
      ("DeleteRowsV2", "DELETE", ""),
      ("XID", "", ""))
    cases.foreach { case (in, lax, strict) =>
      assert(evalStr(Normalize.inferredChangeType(lit(in), strict = false)) == lax, s"lax $in")
      assert(evalStr(Normalize.inferredChangeType(lit(in), strict = true)) == strict, s"strict $in")
    }
  }

  test("P7 DML set: the reference's asymmetric V1 suffixes") {
    val dml = Seq("WriteRowsEventV2", "UpdateRowsEventV2", "DeleteRowsEventV2",
      "WriteRowsEventV1", "UpdateRowsV1", "DeleteRowsV1")
    val notDml = Seq("XID", "Query", "UpdateRowsEventV1", "DeleteRowsEventV1")
    dml.foreach(s => assert(evalStr(Normalize.isDml(lit(s))) == "true", s))
    notDml.foreach(s => assert(evalStr(Normalize.isDml(lit(s))) == "false", s))
  }

  test("P3 relevance: *RowsEventV2 or exactly XID") {
    assert(evalStr(Normalize.isRelevantEventType(lit("DeleteRowsEventV2"))) == "true")
    assert(evalStr(Normalize.isRelevantEventType(lit("XID"))) == "true")
    assert(evalStr(Normalize.isRelevantEventType(lit("Xid"))) == "false")
    assert(evalStr(Normalize.isRelevantEventType(lit("Query"))) == "false")
  }

  test("E10 tolerance: strict greater-than at the boundary") {
    def outside(deltaMs: Long) =
      evalStr(Normalize.outsideTolerance(lit(deltaMs * 1000L), lit(0L), 100L))
    assert(outside(100) == "false") // edge: exactly 100 ms is a match
    assert(outside(101) == "true")
    assert(outside(-100) == "false")
    assert(outside(-101) == "true")
  }

  test("RFC3339 shape guard: Go-parseable forms only") {
    val ok = Seq("2024-05-01T12:00:00Z", "2024-05-01T12:00:00.123456789Z",
      "2024-05-01T12:00:00+02:00")
    // lowercase 'z' is rejected by Go's RFC3339 parser — must stay a
    // parse error here too (parity: counted mismatch + short-circuit)
    val bad = Seq("2024-05-01 12:00:00", "2024-05-01T12:00:00",
      "2024-05-01T12:00:00z", "not a date", "")
    ok.foreach(s => assert(evalStr(Normalize.parseRfc3339(lit(s))) != null, s))
    bad.foreach(s =>
      assert(spark.range(1).select(Normalize.parseRfc3339(lit(s)).as("v"))
        .head().isNullAt(0), s))
  }

  test("E14/E15 filename helpers") {
    assert(evalStr(Normalize.basename(lit("/var/log/mysql-bin.000042"))) == "mysql-bin.000042")
    assert(evalStr(Normalize.fileSeq(lit("mysql-bin.000042"))) == "42")
    assert(spark.range(1).select(Normalize.fileSeq(lit("no-suffix")).as("v")).head().isNullAt(0))
  }
}
