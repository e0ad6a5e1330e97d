package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{array, col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** [[PlanDump.formatted]] prints whole plans: a field list longer than
  * Spark's default `spark.sql.debug.maxToStringFields` is not cut. */
class PlanDumpSpec extends AnyFunSuite with SparkTestSession {

  test("formatted: a projection of 40 literals prints every field") {
    // one expression over 40 literal arguments (`id` keeps it from folding)
    val lits = (0 until 40).map(i => i * 7 + 1000)
    val df = spark.range(1)
      .select(array(col("id") +: lits.map(lit(_)): _*).as("a"))
    val before = spark.conf.getOption("spark.sql.debug.maxToStringFields")
    // Spark's own formatting at the default limit cuts this plan
    assert(df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .contains("more fields"))
    val txt = PlanDump.formatted(df)
    assert(!txt.contains("more fields"), txt)
    assert(txt.contains(lits.mkString(", ")), txt)
    // the limit is lifted for the formatting only
    assert(spark.conf.getOption("spark.sql.debug.maxToStringFields") == before)
  }
}
