package graft.tools

/** Dev-only scale-curve runner: times the d-family (plus s/p headliners)
  * at sf0.01 and sf0.1 in one JVM (warmed, min of 2), printing the 10×
  * data-step time ratios recorded in docs/PLANS.md. Run with
  * `Test/runMain graft.tools.ScaleCurve`. */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.session("32")
    spark.sparkContext.setLogLevel("ERROR")

    val names = sys.env.get("SCALE_ONLY") match {
      case Some(pfx) => graft.SparkEntry.queries.keys.toSeq
        .filter(n => pfx.split(",").exists(n.startsWith)).sorted
      case None => graft.SparkEntry.queries.keys.toSeq
        .filter(n => n.startsWith("d") || n.startsWith("s0") || n.startsWith("p0") ||
          n.startsWith("t0"))
        .sorted
    }
    val sfs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")

    def once(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both SFs
    names.foreach(n => sfs.foreach(d => once(n, d)))
    val t = names.map { n =>
      n -> sfs.map(d => Seq(once(n, d), once(n, d), once(n, d)).min)
    }
    println(f"${"query"}%-26s sf0.01  sf0.1   ratio")
    t.foreach { case (n, Seq(a, b)) =>
      println(f"$n%-26s $a%6.3f $b%6.3f  ${b / a}%5.2f")
    }
    spark.stop()
  }
}
