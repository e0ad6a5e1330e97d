package graft

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the optimization-round evidence protocol (guide §1: capture the plan
  * before and after every change; the judge reads `plans/r<N>/` instead
  * of running Spark).
  *
  * Usage: runMain graft.PlanDump <name[,name...]> <outDir> [suffix]
  * writes <outDir>/<name><suffix>.txt (suffix e.g. "_before"/"_after").
  * Data dir from SPARK_GRAFT_SF_DIR (default sf0.01 — plan shape, not
  * data). Runs in [[SparkEntry.session]], as Bench does, so the dumped
  * plans are the benched plans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <name[,name...]> <outDir> [suffix]")
    val names = args(0).split(",").toSeq
    val outDir = new java.io.File(args(1))
    val suffix = if (args.length > 2) args(2) else ""
    outDir.mkdirs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.session(cpus)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val txt = formatted(fn(spark, sfDir))
      val out = new java.io.File(outDir, s"$name$suffix.txt")
      java.nio.file.Files.write(out.toPath,
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] wrote ${out.getPath} (${txt.length} chars)")
    }
    spark.stop()
  }

  /** `df`'s `explain("formatted")` text with no field list cut: Spark's
    * default `spark.sql.debug.maxToStringFields` (25) ends a long literal
    * argument list in `... N more fields`, hiding every later literal from
    * a plan diff. The limit is lifted for the formatting only. */
  def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val conf = df.sparkSession.conf
    val prev = conf.getOption(MaxFieldsKey)
    conf.set(MaxFieldsKey, Int.MaxValue.toLong)
    try df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    finally prev match {
      case Some(v) => conf.set(MaxFieldsKey, v)
      case None    => conf.unset(MaxFieldsKey)
    }
  }

  private val MaxFieldsKey = "spark.sql.debug.maxToStringFields"
}
