package graft.cdc

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Property-based invariants over the comparison plan (SURVEY §5.3):
  *   - matched + avro_only == number of valid-key Avro rows;
  *   - output row count == |keys(b)| + avro multiplicity accounting;
  *   - dedup idempotence (preparing twice == preparing once);
  *   - tolerance monotonicity (larger tolerance ⇒ mismatches non-increasing);
  *   - the one-plan band sweep gives `compare`'s statuses at every tolerance.
  *
  * ScalaCheck generators drive small random event sets through the real
  * Spark plan; samples are drawn from fixed seeds (scalatestplus isn't in
  * the offline cache, so sampling replaces the forAll bridge — same
  * generators, deterministic replay).
  */
class ComparatorPropertySpec extends AnyFunSuite with SparkTestSession {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g(Gen.Parameters.default.withSize(12), Seed(42L + i)))

  private val T0 = 1714564800000L // 2024-05-01T12:00:00Z

  private case class BRow(pos: Long, offMs: Long, eventType: String)
  private case class ARow(pos: Long, offMs: Long)

  private val genB = for {
    pos <- Gen.choose(1L, 20L)
    off <- Gen.oneOf(0L, 40L, 99L, 100L, 101L, 500L)
    et <- Gen.oneOf("WriteRowsEventV2", "UpdateRowsEventV2", "XID")
  } yield BRow(pos, off, et)

  private val genA = for {
    pos <- Gen.choose(1L, 25L)
    off <- Gen.oneOf(0L, 50L, 150L)
  } yield ARow(pos, off)

  private def rfc(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  private def binlogDf(rows: List[BRow]) = {
    import spark.implicits._
    rows.zipWithIndex.map { case (r, i) =>
      (r.eventType, "", rfc(T0 + r.offMs), "", r.pos, "t", "s", s"mysql-bin.000001", "", i.toLong)
    }.toDF("event_type", "timestamp", "immediate_commmit_timestamp",
      "orignal_commmit_timestamp", "log_position", "table", "schema",
      "binlog_file", "gtid_next", "seq")
  }

  private def avroDf(rows: List[ARow]) = {
    import spark.implicits._
    rows.map(r => (T0 + r.offMs, "db", "t", "", "", "mysql-bin.000001", r.pos))
      .toDF("source_timestamp", "database", "table", "change_type", "gtid",
        "binlog_file", "binlog_position")
  }

  private lazy val cases: Seq[(List[BRow], List[ARow])] =
    samples(Gen.zip(Gen.listOf(genB), Gen.listOf(genA)), 5)
      .map { case (bs, as) => (bs, as) }

  test("matched + avro_only == valid avro rows; row-count accounting") {
    cases.foreach { case (bs, as) =>
      val b = Comparator.prepareBinlog(binlogDf(bs), col("seq"))
      val a = Comparator.prepareAvro(avroDf(as))
      val compared = Comparator.compare(b, a).cache()
      try {
        val total = compared.count()
        val matched = compared.filter(col("_a_present") && col("_b_present")).count()
        val avroOnly = compared.filter(col("status") === Schemas.Status.AvroOnly).count()
        val unmatchedB = compared.filter(!col("_a_present")).count()
        withClue(s"bs=$bs as=$as: ") {
          assert(matched + avroOnly == as.size)
          assert(total == matched + avroOnly + unmatchedB)
          // dedup leaves exactly one row per distinct binlog key, each either
          // matched (≥1 avro rows) or unmatched
          val distinctBKeys = bs.map(_.pos).distinct.size
          val matchedBKeys = compared.filter(col("_a_present") && col("_b_present"))
            .select("position").distinct().count()
          assert(matchedBKeys + unmatchedB == distinctBKeys)
        }
      } finally { compared.unpersist(); () }
    }
  }

  test("prepareBinlog is idempotent (dedup fixed point)") {
    cases.map(_._1).foreach { bs =>
      val once = Comparator.prepareBinlog(binlogDf(bs), col("seq"))
      val twice = Comparator.prepareBinlog(
        once.withColumn("seq2", col("_seq")), col("seq2")).drop("seq2")
      val l = once.select("binlog_file", "log_position", "immediate_commmit_timestamp")
        .collect().map(_.toSeq).toSet
      val r = twice.select("binlog_file", "log_position", "immediate_commmit_timestamp")
        .collect().map(_.toSeq).toSet
      withClue(s"bs=$bs: ")(assert(l == r))
    }
  }

  test("tolerance monotonicity: larger tolerance never increases mismatches") {
    cases.foreach { case (bs, as) =>
      val b = Comparator.prepareBinlog(binlogDf(bs), col("seq"))
      val a = Comparator.prepareAvro(avroDf(as))
      def mismatches(tolMs: Long): Long =
        Comparator.compare(b, a, Comparator.Config(toleranceMs = tolMs))
          .filter(col("status") === Schemas.Status.MismatchTs).count()
      val m50 = mismatches(50)
      val m100 = mismatches(100)
      val m1000 = mismatches(1000)
      withClue(s"bs=$bs as=$as: ")(assert(m100 <= m50 && m1000 <= m100))
    }
  }

  test("band sweep at each tolerance == compare at that tolerance") {
    import spark.implicits._
    // the gates' sweep, and one whose coarsest bucket (100 ms) puts
    // in-band pairs such as 99 ms vs 150 ms in adjacent buckets
    val sweeps = Seq(Seq(0L, 50L, 100L, 250L, 1000L), Seq(0L, 50L, 100L))
    // beyond the random events: a Go-zero (both timestamps empty) and an
    // unparseable commit time, both of which mismatch at every tolerance
    val odd = Seq(
      ("WriteRowsEventV2", "", "", "", 21L, "t", "s", "mysql-bin.000001", "", 1000L),
      ("UpdateRowsEventV2", "", "not-a-time", "", 22L, "t", "s", "mysql-bin.000001", "", 1001L))
      .toDF("event_type", "timestamp", "immediate_commmit_timestamp",
        "orignal_commmit_timestamp", "log_position", "table", "schema",
        "binlog_file", "gtid_next", "seq")
    def multiset(df: org.apache.spark.sql.DataFrame): Map[(String, Long, String), Long] =
      df.groupBy("binlog_file", "position", "status").count().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)) -> r.getLong(3)).toMap
    cases.foreach { case (bs, as) =>
      val b = Comparator.prepareBinlog(binlogDf(bs).unionByName(odd), col("seq"))
      val a = Comparator.prepareAvro(avroDf(ARow(21L, 0L) :: ARow(22L, 0L) :: as))
      sweeps.foreach { tols =>
        val swept = Comparator.compareBandSweep(b, a, tols).cache()
        try tols.foreach { tol =>
          withClue(s"tols=$tols tol=$tol bs=$bs as=$as: ") {
            assert(multiset(swept.filter(col("tolerance_ms") === tol)) ==
              multiset(Comparator.compare(b, a, Comparator.Config(toleranceMs = tol))))
          }
        } finally { swept.unpersist(); () }
      }
    }
  }
}
