package perfbench

import org.apache.spark.sql.SparkSession

import graft.ingest.BinlogOffsetIndex

/** Builds a binlog split index in a fresh JVM and times the build, as the
  * CLI's auto-build would on its first run over the directory.
  *
  * Usage: `perfbench.Index --binlog <dir> --index <dir> --split-bytes <n>
  *   --result <json>`; the result holds `build_s` and `ranges`.
  */
object Index {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("perfbench-index")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val t0 = System.nanoTime()
      val ranges = BinlogOffsetIndex.build(spark, a("binlog"), a("index"), a("split-bytes").toLong)
      Gen.writeJson(a("result"), Seq("build_s" -> (System.nanoTime() - t0) / 1e9,
        "ranges" -> ranges))
    } finally spark.stop()
  }
}
