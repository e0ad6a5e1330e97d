package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization through the `noop`
  * sink (a bare `count()` would let Catalyst prune most of the work), and
  * prints one JSON line with per-query and total wall seconds.
  *
  * CRASH-DURABLE + DEADLINE-AWARE (r15: the driver's official run hit its
  * wall-clock limit mid-suite — rc 124 — and the end-of-run-only artifact
  * write lost every number):
  *
  *   - the FULL artifact (per-query best-so-far mins + per-pass samples +
  *     `passes_completed`) is rewritten after the warmup and after EVERY
  *     pass, and a short summary line prints per pass — a kill at any
  *     point leaves both a parseable file and a parseable stdout tail;
  *   - a deadline budget (`SPARK_GRAFT_BENCH_DEADLINE_S`, default 3000 s
  *     of bench wall time) degrades the pass count 3→2→1: a pass after
  *     the first starts only if the previous pass's duration fits the
  *     remaining budget, and stops mid-pass at the hard reserve — pass 1
  *     always runs to completion so every query gets at least one timed
  *     sample;
  *   - the sf0.01 warmup (codegen JIT priming) skips the drain-shaped
  *     streaming gates: their cost is micro-batch fixed overhead, not
  *     codegen, so warming them buys nothing and costs nearly a full
  *     extra pass; min-of-3 absorbs their pass-1 JIT instead.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    // profile-mode listener-bus drains are excluded from the deadline
    // clock, so a profiled run degrades passes at the same points a
    // normal run would; profiled runs remain dev-only — the per-query
    // walls themselves are unchanged either way
    var profileDrainNs = 0L
    def elapsedS: Double =
      (System.nanoTime() - benchStart - profileDrainNs) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // total bench wall budget: passes after the first are skipped or cut
    // short so the run always ENDS (and writes + prints) inside it; sized
    // under the driver's observed ~1h window with margin for JVM startup
    val deadlineS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_S", "3000").toDouble
    // hard reserve kept for the end-of-run calibration + artifact write
    val reserveS = 45.0
    // dev-only subset (comma-separated name prefixes) — e.g. the top-10
    // under a constrained heap for the spill-safety demonstration; the
    // driver never sets it, so the official artifact is always the full set
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    def keep(name: String): Boolean = only.forall(_.exists(name.startsWith))
    val spark = SparkEntry.session(cpus)

    val ordered = SparkEntry.queries.toSeq.filter(q => keep(q._1)).sortBy(_._1)

    // Locale.ROOT: the default-locale `f` interpolator would emit comma
    // decimal separators (invalid JSON) on comma-decimal locales
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)

    // Warmup pass: run the COMPUTE queries once at a small SF first, so
    // each plan's janino codegen is compiled and the JIT is hot before any
    // timing starts — r2/r3 showed one-off codegen/GC stalls landing on
    // random queries and swinging the one-shot total by ±20%. Drain gates
    // are skipped (see [[graft.queries.Gate]]); the warmup also stops early
    // if it ever eats into the pass budget (deadline × 0.35), counting
    // what it skipped — an unwarmed compute gate just pays its JIT in
    // pass 1 and min-of-3 recovers.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    val drains = SparkEntry.gates.filter(_.drain).map(_.name).toSet
    var warmed = 0
    var warmupTruncated = false
    ordered.foreach { case (name, fn) =>
      if (!drains.contains(name)) {
        if (elapsedS > deadlineS * 0.35) warmupTruncated = true
        else {
          try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
          warmed += 1
        }
      }
    }
    val warmupJson = s"""{"warmed":$warmed,"drain_skipped":${
      ordered.count(q => drains.contains(q._1))},"truncated":$warmupTruncated}"""

    // CALIBRATION PROBE (r14 verdict task: the VM differs between rounds,
    // and a uniform environment shift across an artifact-to-artifact
    // comparison manufactured 111 false "movers" in r14). A fixed set of
    // byte-stable pure-compute queries is timed warm min-of-3 at the
    // START and END of the bench; the judge normalizes cross-round
    // ratios by the calibration delta before adjudicating movers, and
    // start-vs-end disagreement flags a mid-bench load shift from the
    // artifact alone.
    val calibrationSet = Seq("q16_scalar_exprs", "t01_token_stats",
      "s01_ann_bruteforce").filter(SparkEntry.queries.contains)
    def calibrate(): Map[String, Double] = calibrationSet.map { name =>
      val fn = SparkEntry.queries(name)
      // a failed run records -1 (the once() convention), never its
      // time-to-exception — a bogus 50 ms "sample" would corrupt the
      // normalization this probe exists to provide
      val samples = (1 to 3).map { _ =>
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      }.filter(_ >= 0)
      name -> (if (samples.isEmpty) -1.0 else samples.min)
    }.toMap
    def calJson(m: Map[String, Double]): String = calibrationSet
      .map(n => "\"" + n + "\":" + fmt(m.getOrElse(n, -1.0)))
      .mkString("{", ",", "}")

    // PROFILE MODE (dev-only, SPARK_GRAFT_BENCH_PROFILE=1): a listener
    // tallies jobs/tasks/task-time so each query's wall clock can be
    // split into parallel task work vs driver-side overhead (planning,
    // scheduling, micro-batch machinery) — the guide's "measure first"
    // step. Off by default; the timed path is unchanged either way (the
    // listener bus is async and its counters are read outside the
    // timed region).
    // "=1" means =1: an empty or "0" value stays off (r16 ADVICE — a
    // bare sys.env.contains turned profiling on for PROFILE=0)
    val profile = sys.env.get("SPARK_GRAFT_BENCH_PROFILE").contains("1")
    val profJobs = new java.util.concurrent.atomic.AtomicLong
    val profTasks = new java.util.concurrent.atomic.AtomicLong
    val profTaskMs = new java.util.concurrent.atomic.AtomicLong
    if (profile) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          profJobs.incrementAndGet()
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          profTasks.incrementAndGet()
          Option(t.taskMetrics).foreach(m =>
            profTaskMs.addAndGet(m.executorRunTime))
        }
      })

    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val (j0, t0n, m0) = (profJobs.get, profTasks.get, profTaskMs.get)
      val wall =
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
        }
      // outside the try: an interrupt during the drain can no longer
      // discard a valid wall sample (r16 ADVICE); the drain delivers
      // every event of this query before its counts are read
      if (profile) {
        val s0 = System.nanoTime()
        org.apache.spark.graftshim.ListenerBusShim.waitUntilEmpty(spark.sparkContext)
        profileDrainNs += System.nanoTime() - s0
        def f2(v: Double): String =
          String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
        System.err.println(s"[profile] $name jobs=${profJobs.get - j0} " +
          s"tasks=${profTasks.get - t0n} " +
          s"taskTimeS=${f2((profTaskMs.get - m0) / 1e3)} wallS=${f2(wall)}")
      }
      wall
    }

    // Three SEPARATED full passes, min per query, each pass in a DIFFERENT
    // query order. Rationale (rounds 7/8 both produced misleading official
    // artifacts): machine-load stalls cluster in TIME, so when every pass
    // visits queries in the same alphabetical order, one multi-minute stall
    // window covers the same contiguous query block in all passes and
    // min() cannot remove it (r8: q04–q13 reported at 2.8–6× their true
    // times). With pass 1 forward, pass 2 reversed, and pass 3 in a
    // fixed-seed shuffle, a stall window taints a given query in at most
    // one pass, and min-of-3 recovers the true time. Per-pass values are
    // emitted in the JSON ("passes") so a stall is adjudicable from the
    // artifact alone: a query whose three samples disagree wildly was
    // stalled, not regressed. The DEADLINE budget may degrade 3→2→1
    // passes; `passes_completed` records how many fully ran.
    val shuffled = new scala.util.Random(20260813L).shuffle(ordered)
    val orders = Seq(ordered, ordered.reverse, shuffled)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var passesCompleted = 0

    // ARTIFACT SNAPSHOT — rewritten after warmup and after every pass
    // with best-so-far mins, so a kill at ANY point leaves a complete
    // parseable file (r15: the end-only write + driver timeout produced
    // `parsed: null`; never again). Atomic-ish: write a temp then move.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    def snapshot(calibStart: Map[String, Double],
        calibEnd: Option[Map[String, Double]]): (String, String, Double) = {
      val results = ordered.map { case (name, _) =>
        val samples = passes.flatMap(_.get(name)).filter(_ >= 0)
        name -> (if (samples.isEmpty) -1.0 else samples.min)
      }
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val perPass = ordered.map { case (name, _) =>
        "\"" + name + "\":[" +
          passes.flatMap(_.get(name)).map(fmt).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      val calibration = s"""{"start":${calJson(calibStart)},"end":${
        calibEnd.map(calJson).getOrElse("null")}}"""
      val top10 = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val meta = s""""passes_completed":$passesCompleted,"passes_started":${
        passes.size},"deadline_s":${fmt(deadlineS)},"elapsed_s":${
        fmt(elapsedS)},"warmup":$warmupJson"""
      val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"passes":$perPass,"calibration":$calibration,$meta,"sf":"$sfDir"}"""
      val short = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"top10":$top10,"calibration":$calibration,$meta,"sf":"$sfDir","full_payload":"$outFile"}"""
      (full, short, total)
    }
    def writeSnapshot(calibStart: Map[String, Double],
        calibEnd: Option[Map[String, Double]]): (String, String, Double) = {
      val (full, short, total) = snapshot(calibStart, calibEnd)
      try {
        val tmp = java.nio.file.Paths.get(outFile + ".tmp")
        java.nio.file.Files.write(tmp,
          (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(outFile),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
      }
      (full, short, total)
    }

    val calibStart = calibrate()
    writeSnapshot(calibStart, None)

    var deadlineHit = false
    for ((order, idx) <- orders.zipWithIndex if !deadlineHit) {
      val passNo = idx + 1
      // a pass after the first starts only if the previous pass's cost
      // fits the remaining budget (pass 1 ALWAYS runs in full — every
      // query must get at least one timed sample)
      val prevPassCost = passes.lastOption
        .map(_.values.filter(_ >= 0).sum).getOrElse(0.0)
      if (passNo > 1 && elapsedS + prevPassCost + reserveS > deadlineS) {
        System.err.println(s"[bench] deadline: skipping pass $passNo " +
          s"(elapsed ${fmt(elapsedS)} s + est ${fmt(prevPassCost)} s " +
          s"would cross ${fmt(deadlineS)} s)")
        deadlineHit = true
      } else {
        val acc = scala.collection.mutable.Map.empty[String, Double]
        var cut = false
        order.foreach { case (name, fn) =>
          // mid-pass deadline stop (passes ≥2 only): already-timed
          // queries keep this pass's samples, the rest keep earlier ones
          if (!cut && passNo > 1 && elapsedS + reserveS > deadlineS) {
            cut = true; deadlineHit = true
            System.err.println(s"[bench] deadline: pass $passNo cut " +
              s"after ${acc.size}/${order.size} queries")
          }
          if (!cut) acc(name) = once(name, fn)
        }
        passes += acc.toMap
        if (!cut) passesCompleted += 1
        val (_, short, _) = writeSnapshot(calibStart, None)
        println(short)
      }
    }

    val calibEnd = calibrate()
    val (_, short, _) = writeSnapshot(calibStart, Some(calibEnd))
    // FINAL line is a short (~600 B) pure-JSON summary: the driver keeps
    // only the tail of stdout, and the full per-query line outgrows it at
    // 258 queries (r10's BENCH artifact parsed as null). A tail capture
    // of any plausible size always contains this whole line.
    println(short)
    spark.stop()
  }
}
