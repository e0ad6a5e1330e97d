package perfbench

import java.io.PrintStream
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Comparator
import graft.cdc.Schemas.Status
import graft.cli.Main
import graft.ingest.{AvroSource, BinlogBinaryParser, BinlogOffsetIndex}

/** The traced prefixes of the CLI's compare plan.
  *
  * Usage: `perfbench.Trace --mode <layers|cli> --result <json>
  *   [--index <dir> --split-bytes <n>] -- <Main args>`
  *
  * `--mode layers` runs, in one JVM, the third prefix once cold
  * (`cold.cdc.compare`) and then the three nested prefixes warm, each
  * written to the `noop` sink:
  *  1. `ingest.binlog`, `ingest.avro`: the two scans as `Main.prepare`
  *     builds them;
  *  2. `cdc.prepare_binlog`, `cdc.prepare_avro`: plus
  *     `Comparator.prepareBinlog` / `prepareAvro`;
  *  3. `cdc.compare`: plus `Comparator.compare` (`Main.prepare`'s plan).
  * The cold run's wall less the warm one's is what the JVM's first use of
  * the code (class loading, code generation, JIT) costs the prefix. With
  * `--index`, it then times `sources.split_index`: a fresh split index
  * over the binlog, built outside the prefixes.
  *
  * `--mode cli` runs the fourth prefix, `cli.main`: `Main.main` itself in
  * a cold JVM, so the report outputs (`Report.detail`, `breakdown`,
  * `summary` and their writes) run exactly as the CLI runs them. Its span
  * runs from the CLI's "processing" line to its "finished" line, the same
  * interval the untraced runs time.
  *
  * Prefixes 1 and 2 write only the columns the compare plan reads from
  * their frames, so that a column the CLI's plan prunes (and a pruning
  * scan never decodes) is not decoded or carried here either.
  *
  * A listener buckets jobs, task time, shuffle bytes, spill and cached
  * block bytes by the span in which each job started. Spans and buckets
  * stay in memory and are written to `--result` after the session stops,
  * when the listener bus has drained.
  */
object Trace {

  def main(argv: Array[String]): Unit = {
    val (own, rest) = argv.span(_ != "--")
    val opts = own.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mainArgs = rest.drop(1)
    val mode = opts("mode")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-cdc-compare")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val ready = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val args = Main.parseArgs(mainArgs.toList)
    val observed = mutable.LinkedHashMap.empty[String, Long]

    // Each step plans and writes its frame to the noop sink inside its
    // span, so planning counts as in the CLI's own timing; `counts` ride
    // along as observed metrics of the same job.
    def step(name: String, counts: (String, Column)*)(plan: => DataFrame): Unit = {
      val o = Observation(name)
      val aggs = counts.map { case (n, c) => c.as(n) }
      rec.span(name) {
        val df = if (aggs.isEmpty) plan else plan.observe(o, aggs.head, aggs.tail: _*)
        df.write.format("noop").mode("overwrite").save()
      }
      counts.foreach { case (n, _) => observed(n) = o.get(n).asInstanceOf[Long] }
    }
    // the scans and the prepared sides as Main.prepare builds them for
    // binary binlog and Avro input
    def binlogScan(): DataFrame = args.splitIndex match {
      case Some(idx) =>
        val rd = spark.read.format("binlog")
          .option("splitIndex", idx)
          .option("splitIndexAutoBuild", args.splitIndexAutoBuild.toString)
        args.splitBytes.foreach(b => rd.option("splitBytes", b.toString))
        rd.load(args.binlogBinary.get)
      case None => BinlogBinaryParser.parse(spark, args.binlogBinary.get).toDF()
    }
    def avroScan(): DataFrame = AvroSource.read(spark, args.avro.get)
    def prepareBinlog(scan: DataFrame): DataFrame =
      Comparator.prepareBinlog(scan, BinlogBinaryParser.seqColumn)
    def prepareAvro(scan: DataFrame): DataFrame =
      Comparator.prepareAvro(Comparator.flattenResolvedAvro(scan))
    def compare(binlog: DataFrame, avro: DataFrame): DataFrame =
      Comparator.compare(binlog, avro, Comparator.Config(args.toleranceMs, args.strictChangeType))
    // `frames`, each cut to the columns that some node of `plan` references.
    // Scan columns keep their ids through optimization, so the optimized
    // plan tells which ones a pruning scan decodes; the prepared sides'
    // columns are inlined by the optimizer, so for them the analyzed plan
    // tells which ones the compare uses.
    def readBy(plan: LogicalPlan, frames: DataFrame*): Seq[DataFrame] = {
      val refs = plan.collect { case n => n.references.toSeq }.flatten.map(_.exprId).toSet
      frames.map { df =>
        val keep = df.queryExecution.analyzed.output.filter(a => refs(a.exprId)).map(_.name)
        require(keep.nonEmpty, s"the compare plan reads none of ${df.columns.mkString(", ")}")
        System.err.println(s"[trace] keeps ${keep.mkString(", ")}")
        df.select(keep.map(col): _*)
      }
    }
    val rows = count(lit(1))

    def compared(): DataFrame = Main.prepare(spark, args).compared

    mode match {
      case "layers" =>
        step("cold.cdc.compare")(compared())
        // the frames are cut inside the first step's span, so that planning
        // the compare plan counts in every prefix as it does in the CLI
        lazy val Seq(sb, sa) = {
          val (bs, as) = (binlogScan(), avroScan())
          readBy(compare(prepareBinlog(bs), prepareAvro(as)).queryExecution.optimizedPlan, bs, as)
        }
        step("ingest.binlog", "binlog_events" -> rows)(sb)
        step("ingest.avro", "avro_records" -> rows)(sa)
        lazy val Seq(pb, pa) = {
          val (b, a) = (prepareBinlog(binlogScan()), prepareAvro(avroScan()))
          readBy(compare(b, a).queryExecution.analyzed, b, a)
        }
        step("cdc.prepare_binlog", "binlog_keys" -> rows)(pb)
        step("cdc.prepare_avro")(pa)
        step("cdc.compare", "compare_rows" -> rows,
            "match_rows" -> count(when(col("status") === Status.Match, 1)))(compared())
        opts.get("index").foreach { idx =>
          observed("split_ranges") = rec.span("sources.split_index")(BinlogOffsetIndex
            .build(spark, args.binlogBinary.get, idx, opts("split-bytes").toLong))
        }
        spark.stop()
      case "cli" =>
        // Main.main stops the session itself
        Console.withOut(new LineClock(Console.out, rec))(Main.main(mainArgs))
    }
    Gen.writeJson(opts("result"), Seq(
      "mode" -> mode,
      "session_s" -> (ready - jvmStart) / 1e3,
      "spans" -> rec.spansJson,
      "observed" -> Gen.Obj(observed.toSeq),
      "cache_peak_bytes" -> rec.cachePeak))
  }

  /** Console wrapper that marks the CLI's "processing" and "finished"
    * lines as the `cli.main` span. */
  private final class LineClock(out: PrintStream, rec: Recorder) extends PrintStream(out, true) {
    private var start = 0L
    private def mark(s: String): Unit = {
      val t = System.currentTimeMillis()
      if (s.startsWith("[graft] processing")) start = t
      else if (s.startsWith("[graft] finished")) rec.addSpan("cli.main", start, t)
    }
    override def println(x: String): Unit = { mark(x); super.println(x) }
    override def println(x: Object): Unit = println(String.valueOf(x))
  }

  private final class Bucket {
    var jobs, tasks, runMs, cpuNs, shuffleWrite, shuffleRead, spillDisk, spillMem,
      inputBytes, inputRecords, outputBytes = 0L
  }

  /** Listener state is touched only by the listener-bus thread until the
    * session stops; spans come from the driver thread, hence the lock. */
  private final class Recorder extends SparkListener {
    private val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
    private val jobTime = mutable.HashMap.empty[Int, Long]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val stageTasks = mutable.HashMap.empty[Int, Bucket]
    private val blocks = mutable.HashMap.empty[String, Long]
    var cachePeak = 0L

    def span[T](name: String)(body: => T): T = {
      val t0 = System.currentTimeMillis()
      try body finally addSpan(name, t0, System.currentTimeMillis())
    }
    def addSpan(name: String, start: Long, end: Long): Unit =
      synchronized { spans += ((name, start, end)) }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobTime(e.jobId) = e.time
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val b = stageTasks.getOrElseUpdate(e.stageId, new Bucket)
      b.tasks += 1
      b.runMs += m.executorRunTime
      b.cpuNs += m.executorCpuTime
      b.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      b.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      b.spillDisk += m.diskBytesSpilled
      b.spillMem += m.memoryBytesSpilled
      b.inputBytes += m.inputMetrics.bytesRead
      b.inputRecords += m.inputMetrics.recordsRead
      b.outputBytes += m.outputMetrics.bytesWritten
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD) {
        val bytes = i.memSize + i.diskSize
        if (bytes > 0) blocks(i.blockId.name) = bytes else blocks.remove(i.blockId.name)
        cachePeak = math.max(cachePeak, blocks.values.sum)
      }
    }

    def spansJson: Gen.Obj = synchronized {
      Gen.Obj(spans.toSeq.map { case (name, start, end) =>
        val inSpan = (j: Int) => jobTime.get(j).exists(t => t >= start && t <= end)
        val b = new Bucket
        b.jobs = jobTime.keys.count(inSpan).toLong
        stageTasks.foreach { case (stage, s) =>
          if (stageJob.get(stage).exists(inSpan)) {
            b.tasks += s.tasks; b.runMs += s.runMs; b.cpuNs += s.cpuNs
            b.shuffleWrite += s.shuffleWrite; b.shuffleRead += s.shuffleRead
            b.spillDisk += s.spillDisk; b.spillMem += s.spillMem
            b.inputBytes += s.inputBytes; b.inputRecords += s.inputRecords
            b.outputBytes += s.outputBytes
          }
        }
        name -> Gen.Obj(Seq(
          "start_ms" -> start, "end_ms" -> end, "wall_s" -> (end - start) / 1e3,
          "jobs" -> b.jobs, "tasks" -> b.tasks, "task_s" -> b.runMs / 1e3,
          "cpu_s" -> b.cpuNs / 1e9, "shuffle_write_bytes" -> b.shuffleWrite,
          "shuffle_read_bytes" -> b.shuffleRead, "spill_disk_bytes" -> b.spillDisk,
          "spill_mem_bytes" -> b.spillMem, "input_bytes" -> b.inputBytes,
          "input_records" -> b.inputRecords, "output_bytes" -> b.outputBytes))
      })
    }
  }
}
