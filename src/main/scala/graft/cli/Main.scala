package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{Comparator, Report}
import graft.ingest.{AvroSource, BinlogBinaryParser, BinlogTextParser, Sources}
import graft.sources.{AvroDataSource, BinlogScan}

/** End-to-end CDC comparison driver — the engine's equivalent of the
  * reference's `comparator.sh` + `avro_to_json.sh` + `compare_timestamps`
  * chain (SURVEY §3), as ONE Spark job with no intermediate files or
  * process forks.
  *
  * Usage:
  *   graft.cli.Main --follow <dir-of-raw-binlogs> [--follow <dir2> …]
  *     [--out <dir>]
  *     [--max-bytes-per-trigger <n>] [--max-files-per-trigger <n>]
  *     [--gtid-state] [--gtid-discard-from <seq>]
  *       — the LIVE-consumer posture ([[follow]]): tail the
  *         directories (each last file may still be growing; several
  *         --follow dirs union under one checkpoint with per-source
  *         offsets — the sharded-fleet shape), demux every table's
  *         committed changes into its own exactly-once compacted state
  *         under <out>/tables, hold torn tails back, print the census
  *         and per-feed lag; re-run (cron) to continue from
  *         <out>/ckpt, surviving binlog retention between runs. Each
  *         dir holds binlog data files only (`mysql-bin.NNNNNN`; a
  *         suffix-less file such as `mysql-bin.index` is refused).
  *         --gtid-state maintains the fleet's durable
  *         executed-gtid set under <out>/gtid; after a shard's
  *         failover, one run with --gtid-discard-from <seq> (the first
  *         post-failover file number) discards the replica's re-served
  *         overlap transactions via the recovered set (cdc74's
  *         posture, operable).
  *
  *   graft.cli.Main --out <dir> --as-of <published|N>
  *   graft.cli.Main --out <dir> --diff <from> <to>
  *       — READ-ONLY time travel over a --follow <out> ([[censusAtMark]]
  *         / [[censusDiff]]): the census pinned at a batch mark (at
  *         `published`, a consistent cross-table read at the group's
  *         cdc76 consistency mark — retried once if a live writer's
  *         compaction outruns the resolve), and the per-table changes
  *         landed in (from, to] (cdc77's partition-pruned release
  *         diff). A mark inside a compacted region refuses with the
  *         readable horizon.
  *
  *   graft.cli.Main
  *     (--binlog-text <dir-of-decoder-text> | --binlog-json <path>
  *      | --binlog-binary <dir-of-raw-binlogs>)
  *     (--avro <dir-of-.avro> | --avro-json <path>)
  *     [--tolerance-ms 100] [--strict-change-type] [--out <dir>]
  *     [--split-index <path>]   (binary input: offset index for huge-file
  *                               range splits, auto-built on first run)
  *     [--no-split-index-auto-build]  (use the index if present but never
  *                               build it at planning — for deployments
  *                               where a scheduled job owns the build)
  *     [--split-bytes <n>]      (target range size for the auto-built
  *                               index; default 128 MiB)
  *
  * The compare decodes only the columns it reads: the binlog side carries
  * `Comparator.BinlogCompareColumns` through its dedup, so the binary
  * `binlog` scan skips row images, event extras and query text.
  *
  * Outputs under --out (default /tmp/graft_out), written concurrently by
  * [[writeReport]], each as soon as what it reads exists:
  *   - `detail/status=<status>/` — every non-match row, sorted by
  *     (binlog_file, position) within each status; waits for the cached
  *     compare frame's declaration and runs beside the rollup;
  *   - `breakdown/` — row counts per (schema, table, status), sorted by
  *     (schema, table, status); waits for the collected rollup;
  *   - `summary/` — one row with the reference's five counters + verdict,
  *     also printed to stdout once every output is written; written after
  *     `breakdown/`;
  *   - `quarantine/<side>/` — each JSON source's rejected rows (K3); waits
  *     for nothing;
  *   - `metrics/` — one row with the input file counts per side (A3);
  *     waits for nothing.
  * Spark's default FIFO scheduler orders the concurrent jobs by submission.
  */
object Main {

  case class Args(
      binlogText: Option[String] = None,
      binlogJson: Option[String] = None,
      binlogBinary: Option[String] = None,
      avro: Option[String] = None,
      avroJson: Option[String] = None,
      toleranceMs: Long = 100L,
      strictChangeType: Boolean = false,
      out: String = "/tmp/graft_out",
      splitIndex: Option[String] = None,
      splitIndexAutoBuild: Boolean = true,
      splitBytes: Option[Long] = None,
      follow: Seq[String] = Nil,
      maxFilesPerTrigger: Option[Int] = None,
      maxBytesPerTrigger: Option[Long] = None,
      asOf: Option[String] = None,
      diff: Option[(Long, Long)] = None,
      gtidState: Boolean = false,
      gtidDiscardFrom: Option[Long] = None)

  def parseArgs(argv: List[String], acc: Args = Args()): Args = argv match {
    case Nil => acc
    case "--binlog-text" :: v :: rest => parseArgs(rest, acc.copy(binlogText = Some(v)))
    case "--binlog-json" :: v :: rest => parseArgs(rest, acc.copy(binlogJson = Some(v)))
    case "--binlog-binary" :: v :: rest => parseArgs(rest, acc.copy(binlogBinary = Some(v)))
    case "--avro" :: v :: rest => parseArgs(rest, acc.copy(avro = Some(v)))
    case "--avro-json" :: v :: rest => parseArgs(rest, acc.copy(avroJson = Some(v)))
    case "--tolerance-ms" :: v :: rest => parseArgs(rest, acc.copy(toleranceMs = v.toLong))
    case "--strict-change-type" :: rest => parseArgs(rest, acc.copy(strictChangeType = true))
    case "--out" :: v :: rest => parseArgs(rest, acc.copy(out = v))
    case "--split-index" :: v :: rest => parseArgs(rest, acc.copy(splitIndex = Some(v)))
    case "--no-split-index-auto-build" :: rest =>
      parseArgs(rest, acc.copy(splitIndexAutoBuild = false))
    case "--split-bytes" :: v :: rest =>
      parseArgs(rest, acc.copy(splitBytes = Some(v.toLong)))
    case "--follow" :: v :: rest =>
      parseArgs(rest, acc.copy(follow = acc.follow :+ v))
    case "--max-files-per-trigger" :: v :: rest =>
      parseArgs(rest, acc.copy(maxFilesPerTrigger = Some(v.toInt)))
    case "--max-bytes-per-trigger" :: v :: rest =>
      parseArgs(rest, acc.copy(maxBytesPerTrigger = Some(v.toLong)))
    case "--gtid-state" :: rest => parseArgs(rest, acc.copy(gtidState = true))
    case "--gtid-discard-from" :: v :: rest =>
      parseArgs(rest, acc.copy(gtidDiscardFrom = Some(v.toLong)))
    case "--as-of" :: v :: rest =>
      require(v == "published" || scala.util.Try(v.toLong).isSuccess,
        s"--as-of takes a numeric batch mark or 'published', got $v")
      parseArgs(rest, acc.copy(asOf = Some(v)))
    case "--diff" :: a :: b :: rest =>
      parseArgs(rest, acc.copy(diff = Some((a.toLong, b.toLong))))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  private def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toList)
    if (args.asOf.isDefined || args.diff.isDefined) {
      // READ-ONLY time-travel modes over an existing --follow --out: the
      // cdc75/cdc76/cdc77 primitives made operable (the same step
      // cdc63 -> --follow took for ingest). No stream starts, no state
      // is written; a mark inside a compacted region refuses with the
      // readable horizon rather than serving silently wrong history.
      require(args.follow.isEmpty,
        "--as-of/--diff are read-only modes over an existing --out; run " +
          "them in their own invocation, not combined with --follow")
      val spark = session("graft-cdc-time-travel")
      val tablesRoot = s"${args.out}/tables"
      args.asOf.foreach { v =>
        val pinned = censusAtMark(spark, args.out, tablesRoot, v)
        println(s"[graft] census as of mark ${pinned._1}:")
        pinned._2.show(truncate = false)
      }
      args.diff.foreach { case (from, to) =>
        println(s"[graft] changes in marks ($from, $to]:")
        censusDiff(spark, tablesRoot, from, to).show(truncate = false)
      }
      spark.stop()
      return
    }
    if (args.follow.nonEmpty) {
      val spark = session("graft-cdc-follow")
      follow(spark, args.follow, args.out, args.maxFilesPerTrigger,
          args.maxBytesPerTrigger.orElse(Some(1L << 30)),
          args.gtidState, args.gtidDiscardFrom)
        .show(truncate = false)
      // one lag row per feed, paired in the union's plan order
      graft.sources.BinlogTailOps.lagMetricsUnion(
          spark, args.follow, s"${args.out}/ckpt")
        .zip(args.follow).foreach { case (lag, feed) =>
          println(s"[graft] $feed: ${lag.filesListed} file(s) listed, " +
            s"frontier ${lag.frontierFile}@${lag.frontierPos}, " +
            s"consumable lag ${lag.committedLagBytes} B, held-back " +
            s"${lag.heldBackBytes} B (in-flight/torn tail)")
        }
      println(s"[graft] follow pass done; state under ${args.out}/tables, " +
        s"re-run to continue from ${args.out}/ckpt")
      spark.stop()
      return
    }
    require(args.binlogText.isDefined || args.binlogJson.isDefined ||
      args.binlogBinary.isDefined,
      "need --binlog-text, --binlog-json or --binlog-binary")
    require(args.avro.isDefined || args.avroJson.isDefined,
      "need --avro or --avro-json")
    require(args.splitBytes.isEmpty || args.splitIndex.isDefined,
      "--split-bytes only applies with --split-index (it sizes the " +
        "auto-built index ranges); pass --split-index <path> or drop it")

    val spark = session("graft-cdc-compare")

    // A3 — the reference's shell job metrics (comparator.sh:103-107,
    // avro_to_json.sh:75-85): count each side's input files up front and
    // abort loudly when a side has none, before any Spark work runs.
    val metrics = jobMetrics(spark, args)
    compareDefaults(spark, spark.sparkContext.getConf,
        metrics("binlog_bytes") + metrics("avro_bytes"))
      .foreach { case (k, v) => spark.conf.set(k, v) }
    println(s"[graft] processing ${metrics("binlog_files")} binlog file(s), " +
      s"${metrics("avro_files")} avro file(s)")

    val prepared = prepare(spark, args)
    writeReport(spark, prepared, metrics, args.out)
    println(s"[graft] finished: ${metrics("binlog_files")} binlog file(s), " +
      s"${metrics("avro_files")} avro file(s) compared; outputs in ${args.out}")
    prepared.release()
    spark.stop()
  }

  /** The session settings compare mode applies over `spark`'s current
    * ones for an input of `inputBytes` (both sides' files), minus every
    * key the deployment set itself in `deployed` (the SparkContext's conf:
    * spark-defaults, `--conf`, `-Dspark.*`), which wins.
    *
    *  - `spark.sql.shuffle.partitions` is sized to the data: one bucket
    *    per `spark.sql.adaptive.advisoryPartitionSizeInBytes` of input,
    *    at least the default parallelism and at most the session's
    *    current value (Spark's 200), so a large input keeps today's
    *    width. Every map task writes one bucket per partition, and AQE
    *    coalesced a small input's 200 buckets to a few reads anyway.
    *  - `canChangeCachedPlanOutputPartitioning` lets AQE coalesce the
    *    cached compare frame's partitions (the full-outer join's shuffle
    *    reads) from the measured map-output sizes. Spark's default keeps
    *    the join's partitions in the cache, so every report job over it
    *    ran that many tasks however small the input.
    *  - `inMemoryColumnarStorage.compressed=false`: the report cache is
    *    built once, read twice (detail, rollup) and dropped, so
    *    compressing it costs more than it saves. */
  def compareDefaults(spark: SparkSession, deployed: org.apache.spark.SparkConf,
      inputBytes: Long): Map[String, String] = {
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val cores = spark.sparkContext.defaultParallelism
    val width = spark.sessionState.conf.defaultNumShufflePartitions
    val sized = math.min(width,
      math.max(cores.toLong, (inputBytes + advisory - 1) / advisory)).toInt
    Map("spark.sql.shuffle.partitions" -> sized.toString,
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false")
      .filter { case (k, _) => !deployed.contains(k) }
  }

  /** Writes the compare-mode report of `prepared` under `out` and prints
    * the summary table (see the output list above). Each output starts as
    * soon as its input exists, as Spark jobs from a driver pool with one
    * thread per independent output:
    *  - `metrics/` and every `quarantine/<side>/` start at once; neither
    *    reads the compare;
    *  - `detail/` and the rollup start side by side once `compared.cache()`
    *    is declared. Whichever reaches a cache block first builds it;
    *    Spark's per-block lock makes the other wait and then read it, so
    *    the compare still runs once;
    *  - `breakdown/` and then `summary/` chain off the collected rollup.
    * Spark's default FIFO scheduler orders concurrent jobs by submission:
    * an earlier job's pending tasks take free cores first, and a later
    * job's tasks run on the cores the earlier ones leave idle.
    *
    * The pool threads get the caller's session and local properties
    * through `SQLExecution.withThreadLocalCaptured`; the caller thread's
    * own are left as they were. Each output's jobs carry the description
    * `graft report: <output>` and a tag unique to the call. The first
    * output to fail cancels every job of that tag, and no later output
    * starts; once every output has ended, `compared` is unpersisted and
    * that first failure rethrown. The summary table is printed after every
    * output has been written. The session stays up. */
  def writeReport(spark: SparkSession, prepared: Prepared,
      metrics: Map[String, Long], out: String): Unit = {
    import java.util.concurrent.{CompletableFuture, CompletionException, Executors}
    import java.util.concurrent.atomic.AtomicReference
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sc = spark.sparkContext
    val tag = s"graft-report-${java.util.UUID.randomUUID()}"
    val firstFailure = new AtomicReference[Throwable]()
    def described[T](output: String)(body: => T): T = {
      if (firstFailure.get != null) throw new java.util.concurrent.CancellationException(
        s"graft report: $output not started, an earlier output failed")
      sc.setJobDescription(s"graft report: $output")
      try body catch { case e: Throwable =>
        if (firstFailure.compareAndSet(null, e))
          sc.cancelJobsWithTag(tag, s"graft report: $output failed")
        throw e
      }
    }
    // detail, the rollup chain, metrics and one per quarantined side
    val pool = Executors.newFixedThreadPool(3 + prepared.quarantines.size)
    val running = collection.mutable.ArrayBuffer.empty[CompletableFuture[_]]
    def start[T](output: String)(body: => T): CompletableFuture[T] = {
      val f = SQLExecution.withThreadLocalCaptured(spark, pool) {
        sc.addJobTag(tag)
        described(output)(body)
      }
      running += f
      f
    }
    // waits for every started output; a failure outside `described` is
    // recorded here
    def settle(): Unit = running.foreach { f =>
      try f.join() catch {
        case e: CompletionException => firstFailure.compareAndSet(null, e.getCause)
      }
    }
    try {
      // job metrics with the outputs (the reference's conversion summary)
      start("metrics") {
        spark.createDataFrame(
            java.util.List.of(Row(metrics("binlog_files"), metrics("avro_files"))),
            StructType(Seq("binlog_files", "avro_files").map(StructField(_, LongType))))
          .write.mode("overwrite").json(s"$out/metrics")
      }
      // K3 — rejected source rows to a quarantine path (the reference's
      // debug_log stderr redirect, comparator.sh:32,95)
      prepared.quarantines.foreach { case (side, bad) =>
        start("quarantine")(bad.write.mode("overwrite").json(s"$out/quarantine/$side"))
      }
      val compared = prepared.compared.cache()
      val summary = try {
        // detail partitioned by status: per-status directories prune
        // cleanly when a consumer reads only one discrepancy family at scale
        start("detail") {
          Report.detail(compared).write.mode("overwrite")
            .partitionBy("status").json(s"$out/detail")
        }
        // breakdown and summary both come from one collected rollup
        start("rollup") {
          val rollup = Report.rollup(compared).collect().toSeq
          described("breakdown") {
            Report.breakdown(spark, rollup).write.mode("overwrite").json(s"$out/breakdown")
          }
          val summary = Report.summary(spark, rollup)
          described("summary")(summary.write.mode("overwrite").json(s"$out/summary"))
          summary
        }
      } finally { settle(); compared.unpersist() }
      Option(firstFailure.get).foreach(e => throw e)
      // a local relation: printing it runs no job
      summary.join().show(truncate = false)
    } finally { settle(); pool.shutdown() }
  }

  /** The FOLLOW posture — the cdc63 composition (ACTIVE-file tail →
    * multi-table demux → exactly-once maintained state → compaction)
    * made operable against a user-supplied binlog directory. One
    * invocation drains everything currently available (AvailableNow):
    * committed transactions of EVERY table in the feed land in that
    * table's changelog state under `<out>/tables/<db>.<table>` —
    * batch_id-partitioned parquet written exactly-once
    * (applyIdempotent) and compacted on its own schedule — while torn
    * tails are held back in-source. Re-running resumes from
    * `<out>/ckpt`: the live pattern is this command under cron, which
    * is exactly how the reference's one-shot pipeline is deployed
    * (comparator.sh), minus its FLUSH-BINARY-LOGS requirement. The
    * checkpoint's offsets are keyed by each file's own suffix, so it
    * survives binlog retention between invocations (purge only below
    * the committed frontier). Returns the per-table census (events/rows)
    * the command prints.
    *
    * Scale shape: the per-batch table routing collects only the
    * DISTINCT table names in that batch (bounded, loudly capped), the
    * feed is decoded once per batch (localCheckpoint), and ALL tables'
    * changes land in ONE dynamic-partition-overwrite write
    * (`db=<db>/tbl=<tbl>/batch_id=N` under `<out>/tables`) — one Spark
    * job per batch regardless of how many tables the batch carries,
    * with applyIdempotent's exactly-once guarantee intact (a
    * redelivered batch replaces its own (db, tbl, batch_id)
    * partitions). Each per-table directory IS a ViewMaintenance state
    * one level down, so compaction, time travel, and the published
    * consistency mark all operate unchanged; the census is one
    * partitioned read over the live partitions (driver listing + the
    * readState live rule), not an N-way union. A pre-r16 `<out>`
    * written in the `<db>.<tbl>` flat layout is refused loudly (the
    * cdc68 upgrade discipline) — finish it with the old build or start
    * a new `--out`. */
  def follow(spark: SparkSession, feeds: Seq[String], out: String,
      maxFilesPerTrigger: Option[Int] = None,
      maxBytesPerTrigger: Option[Long] = Some(1L << 30),
      gtidState: Boolean = false,
      gtidDiscardFrom: Option[Long] = None): DataFrame = {
    require(feeds.nonEmpty, "--follow needs at least one directory")
    require(gtidDiscardFrom.isEmpty || gtidState,
      "--gtid-discard-from needs --gtid-state: the discard filter reads " +
        "the durable executed set that flag maintains")
    require(feeds.distinct.length == feeds.length,
      s"--follow lists the same directory twice ($feeds): two streams " +
        "over one dir would ingest every row twice")
    val conf = spark.sparkContext.hadoopConfiguration
    // layout guard (the cdc68 upgrade discipline): a pre-r16 `<out>`
    // holds flat `<db>.<tbl>` state dirs with db/tbl as DATA columns;
    // this build writes partitioned `db=<db>/tbl=<tbl>` dirs with them
    // as PARTITION columns. Reading one layout with the other's schema
    // would serve nulls, so a mixed root is refused before any stream
    // starts (or any manifest is written), not discovered as wrong
    // answers later.
    locally {
      val rootP = new org.apache.hadoop.fs.Path(s"$out/tables")
      val rfs = rootP.getFileSystem(conf)
      if (rfs.exists(rootP)) {
        val alien = rfs.listStatus(rootP).filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(n => !n.startsWith("db=") && !n.startsWith(".") &&
            !n.startsWith("_"))
        require(alien.isEmpty,
          s"$out/tables holds pre-r16 flat per-table state dirs " +
            s"(${alien.take(3).mkString(", ")}…) — this build writes the " +
            "partitioned db=<db>/tbl=<tbl> layout and cannot mix the two. " +
            "Finish the old --out with the build that wrote it, or start " +
            "a new --out")
      }
    }
    // Spark's offset log pairs sources POSITIONALLY — it records no
    // path identity — so a resume with the feeds reordered would
    // silently hand each feed another feed's offsets (skipping or
    // re-serving whole files). Pin the exact ordered list
    // on first run; refuse any later mismatch loudly.
    val manifest = new org.apache.hadoop.fs.Path(out, "feeds")
    val mfs = manifest.getFileSystem(conf)
    if (mfs.exists(manifest)) {
      val in = mfs.open(manifest)
      val recorded =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      require(recorded == feeds.toList,
        s"this checkpoint was created for feeds $recorded but this run " +
          s"names $feeds — pass the SAME directories in the SAME order " +
          "(offsets pair positionally), or start a new --out")
    } else {
      val os = mfs.create(manifest, false)
      try os.write((feeds.mkString("\n") + "\n").getBytes("UTF-8"))
      finally os.close()
    }
    import graft.streaming.ViewMaintenance
    val ckpt = s"$out/ckpt"
    val tablesRoot = s"$out/tables"
    // per-table state schema: db/tbl are PARTITION directories above the
    // state dir, not data columns — each `db=X/tbl=Y` dir is a plain
    // ViewMaintenance state
    val stateSchema = "event_type STRING, binlog_file STRING, " +
      "file_seq BIGINT, event_index BIGINT, xid BIGINT, " +
      "row_images ARRAY<ARRAY<STRING>>, batch_id BIGINT"
    // GTID FAILOVER SURFACE (cdc74 made operable): with --gtid-state the
    // fleet's durable executed set — per-sid max gno, exactly-once per
    // batch — is maintained under <out>/gtid alongside the data, ready
    // for the day a shard fails over. After a failover the DBA reruns
    // with --gtid-discard-from <seq> (the first post-failover file
    // number): the set is recovered FROM THE STATE once at startup and
    // rows in files >= seq whose gtid the set covers are discarded via
    // one sid-keyed broadcast join (cdc73's filter) — the replica's
    // re-served overlap transactions vanish, its new transactions land,
    // and every other shard's ingestion is untouched. The file_seq
    // guard keeps redelivered PRE-failover batches bit-identical (a
    // covered row discarded from a redelivery would empty its own
    // batch_id partition — cdc74's exact design point).
    val gtidDir = s"$out/gtid"
    val gtidSchema = "sid STRING, gno BIGINT, batch_id BIGINT"
    val gno = substring_index(col("gtid_next"), ":", -1).cast("long")
    val marks: Option[DataFrame] = gtidDiscardFrom.map { _ =>
      // frozen ONCE at startup — the restarted consumer's recovery read;
      // mid-run batches keep extending the set through the write below
      ViewMaintenance.readState(spark, gtidDir, gtidSchema)
        .groupBy("sid").agg(max(col("gno")).as("exec_gno"))
        .localCheckpoint(true)
    }
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      require(id > ViewMaintenance.BaseMark, // applyIdempotent's reserve
        s"batch ids at or below ${ViewMaintenance.BaseMark} are reserved")
      val dml = batch
        .filter(col("event_type").isin("WriteRowsEventV2",
          "UpdateRowsEventV2", "DeleteRowsEventV2"))
        .select(col("schema").as("db"), col("table").as("tbl"),
          col("event_type"), col("binlog_file"), col("file_seq"),
          col("event_index"), col("xid"), col("row_images"),
          col("gtid_next"))
        .localCheckpoint(true) // the feed decodes ONCE per batch
      val b = (marks, gtidDiscardFrom) match {
        case (Some(m), Some(seq)) => dml
          .withColumn("__sid", substring_index(col("gtid_next"), ":", 1))
          .join(broadcast(m), col("__sid") === col("sid"), "left")
          .filter(!(col("file_seq") >= lit(seq) &&
            col("exec_gno").isNotNull && gno <= col("exec_gno")))
          .drop("__sid", "sid", "exec_gno", "gtid_next")
        case _ => dml.drop("gtid_next")
      }
      val tables = dml.select("db", "tbl").distinct().limit(1001)
        .collect().map(r => (r.getString(0), r.getString(1)))
      require(tables.length <= 1000,
        "follow routes per-table states for up to 1000 distinct tables " +
          "per batch — this feed carries more; split the subscription")
      // ONE write for the whole batch: dynamic partition overwrite lands
      // every table's slice in its own db=/tbl=/batch_id= partition —
      // the per-trigger cost is flat in the table count (r15 wrote N
      // sequential applyIdempotent jobs), and a redelivered batch still
      // replaces exactly its own partitions (the cdc48 absorption)
      b.withColumn("batch_id", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("db", "tbl", "batch_id")
        .parquet(tablesRoot)
      tables.foreach { case (db, tbl) =>
        // retainBases = 1 keeps the previous coverage point readable, so
        // a pinned historical read has one release of headroom; a LIVE
        // consistent reader must still resolve publishedMark per read —
        // a mark that ages past the coverage refuses loudly in
        // readStateAsOf (retry with a fresh mark), it is never served
        // silently wrong. Declining costs one FS listing per ACTIVE
        // table (tables absent from the batch are not probed).
        ViewMaintenance.maybeCompact(spark, tableStateDir(tablesRoot, db, tbl),
          stateSchema, maxLive = 8, keepLast = 2, retainBases = 1)(df => df)
      }
      if (gtidState) {
        // ONE durable executed set for the whole fleet, fed by rows from
        // every feed in the union — per-sid max gno, BEFORE the discard
        // (a discarded row's gno is already covered, so the set is
        // unchanged either way; the pre-discard read keeps one plan)
        ViewMaintenance.applyIdempotent(
          dml.filter(col("gtid_next") =!= "")
            .select(substring_index(col("gtid_next"), ":", 1).as("sid"),
              gno.as("gno"))
            .groupBy("sid").agg(max(col("gno")).as("gno")),
          gtidDir, id)
        // register-max state: the fold is the same per-sid max
        ViewMaintenance.maybeCompact(spark, gtidDir, gtidSchema,
          maxLive = 8, keepLast = 2)(df =>
          df.groupBy("sid").agg(max(col("gno")).as("gno")))
      }
      // consistency mark: published only after EVERY table's batch
      // landed, so a cross-table reader using
      // readStateAsOf(publishedMark(out)) never sees a torn batch —
      // a crash above leaves readers at the previous mark and the
      // redelivered batch completes it (cdc76's protocol)
      ViewMaintenance.publishMark(spark, out, id)
    }
    // pacing: default is BYTE-budgeted batches (1 GiB per source) with
    // no file cap — a 10k-file backlog drains in a few bounded batches
    // instead of 10k listings + per-file jobs (the gates'
    // maxFilesPerTrigger=1 is a multi-batch PROOF dial, not a
    // deployment default). Several --follow dirs become the union of
    // one stream per feed — each keeps its own offsets under the one
    // checkpoint (cdc69/cdc72/cdc74's posture; the feed SET is pinned
    // by the checkpoint, so add shards with a new --out).
    def src(feed: String): DataFrame = {
      val rd0 = spark.readStream.format("binlog")
        .option("tailActive", "true")
      val rd1 = maxFilesPerTrigger.fold(rd0)(n =>
        rd0.option("maxFilesPerTrigger", n))
      val rd = maxBytesPerTrigger.fold(rd1)(b =>
        rd1.option("maxBytesPerTrigger", b))
      rd.load(feed)
    }
    val q = feeds.map(src).reduce(_ unionByName _)
      .writeStream
      .foreachBatch(applyBatch _)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    census(spark, tablesRoot)
  }

  /** One per-table ViewMaintenance state dir under the partitioned
    * layout. Path segments go through the same escaping Spark's
    * partitioned write uses (a db/table name with a `/` or `=` must
    * resolve to the directory the write created, not a different or
    * invalid path). */
  def tableStateDir(tablesRoot: String, db: String, tbl: String): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    s"$tablesRoot/db=${escapePathName(db)}/tbl=${escapePathName(tbl)}"
  }

  /** The per-table census over every state this and PRIOR invocations
    * built — ONE partitioned read, not an N-way union: a driver-side
    * listing per table resolves the LIVE partition set (newest base +
    * uncovered deltas — readState's rule, via asOfHorizon), and one
    * scan over exactly those directories (`basePath` keeps db/tbl as
    * partition columns) aggregates all tables. Listing cost is the same
    * N bounded listings readState paid; the plan cost is one scan + one
    * hash aggregate however many tables exist. */
  def census(spark: SparkSession, tablesRoot: String): DataFrame =
    censusOver(spark, tablesRoot) { dir =>
      import graft.streaming.ViewMaintenance
      val (coverages, liveIds) = ViewMaintenance.asOfHorizon(spark, dir)
      coverages.lastOption.map(cv => ViewMaintenance.BaseMark - cv).toSeq ++
        liveIds
    }

  /** The census PINNED at a mark: each table read via the
    * readStateAsOf partition rule (asOfPartitionIds) — a table whose
    * first batch postdates the mark is absent, a mark inside a
    * compacted region refuses with the horizon. `markArg` is a numeric
    * batch mark or `published` (the group's consistency mark, cdc76's
    * protocol) — the published form re-resolves and retries ONCE when a
    * concurrent writer's compaction outruns the first resolve (the
    * readStateAtPublished discipline); a NAMED mark never retries, its
    * refusal is the contract. Returns (resolved mark, census). */
  def censusAtMark(spark: SparkSession, groupDir: String,
      tablesRoot: String, markArg: String): (Long, DataFrame) = {
    import graft.streaming.ViewMaintenance
    def resolve(): Long =
      if (markArg == "published")
        ViewMaintenance.publishedMark(spark, groupDir).getOrElse(
          throw new IllegalArgumentException(
            s"no published mark under $groupDir — has --follow completed " +
              "a batch against this --out?"))
      else markArg.toLong
    val mark = resolve()
    def at(m: Long): DataFrame = censusOver(spark, tablesRoot)(dir =>
      ViewMaintenance.asOfPartitionIds(spark, dir, m))
    // the refusal (asOfPartitionIds) fires while censusOver enumerates
    // partitions — eagerly, inside at() — so the catch sees it here
    try (mark, at(mark))
    catch {
      case _: IllegalArgumentException if markArg == "published" =>
        val fresh = resolve(); (fresh, at(fresh))
    }
  }

  /** Per-table census of the changes in `(from, to]` — readStateDiff's
    * CHEAP partition-pruned path over every table (only the delta
    * partitions between the marks are scanned; a `from` below a table's
    * compaction coverage refuses with the horizon — a changelog state
    * has no negate fallback). */
  def censusDiff(spark: SparkSession, tablesRoot: String,
      from: Long, to: Long): DataFrame =
    censusOver(spark, tablesRoot)(dir =>
      graft.streaming.ViewMaintenance.diffPartitionIds(spark, dir, from, to))

  private def censusOver(spark: SparkSession, tablesRoot: String)
      (partIds: String => Seq[Long]): DataFrame = {
    val rootPath = new org.apache.hadoop.fs.Path(tablesRoot)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def subDirs(p: org.apache.hadoop.fs.Path, prefix: String) =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.startsWith(prefix))
    val liveParts: Seq[String] = for {
      dbDir <- subDirs(rootPath, "db=")
      tblDir <- subDirs(dbDir, "tbl=")
      id <- partIds(tblDir.toString)
    } yield s"$tblDir/batch_id=$id"
    if (liveParts.isEmpty)
      spark.emptyDataFrame
        .select(lit("").as("tbl"), lit(0L).as("n_events"),
          lit(0L).as("n_rows"))
        .limit(0)
    else
      spark.read
        .schema("db STRING, tbl STRING, event_type STRING, " +
          "binlog_file STRING, file_seq BIGINT, event_index BIGINT, " +
          "xid BIGINT, row_images ARRAY<ARRAY<STRING>>, batch_id BIGINT")
        .option("basePath", tablesRoot)
        .parquet(liveParts: _*)
        .groupBy(col("db"), col("tbl"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum(size(col("row_images"))), lit(0L)).as("n_rows"))
        .select(concat(col("db"), lit("."), col("tbl")).as("tbl"),
          col("n_events"), col("n_rows"))
        .orderBy("tbl")
  }

  /** A3 — input-file counts per side, with the reference's empty-input
    * abort (`comparator.sh:103-107` exits 1 when no `mysql-bin.*` file is
    * found; `avro_to_json.sh:75-85` reports none-found for `*.avro`):
    * a side with zero input files fails here with IllegalArgumentException
    * before any executor work is scheduled. The binary binlog and Avro
    * sides count the listing their scans read — a directory, a file or a
    * glob, whatever the files are named. Each side's bytes
    * (`binlog_bytes`, `avro_bytes`) come from the same listing. */
  def jobMetrics(spark: SparkSession, args: Args): Map[String, Long] = {
    import org.apache.hadoop.fs.FileStatus
    def listed(path: String, pred: String => Boolean): Seq[FileStatus] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else if (fs.getFileStatus(p).isFile) Seq(fs.getFileStatus(p))
      else fs.listStatus(p).filter(st => st.isFile && pred(st.getPath.getName)).toSeq
    }
    // the scans' listings throw on a missing path: that reads nothing
    def scanned(files: => Seq[FileStatus]): Seq[FileStatus] =
      try files catch { case _: java.io.FileNotFoundException => Nil }
    val binlogFiles = (args.binlogText, args.binlogBinary, args.binlogJson) match {
      case (Some(dir), _, _) => listed(dir, _.startsWith("mysql-bin."))
      case (_, Some(path), _) => scanned(BinlogScan.files(Seq(path)).toSeq)
      case (_, _, Some(path)) => listed(path, _.endsWith(".json"))
      case _ => Nil
    }
    val avroFiles = (args.avro, args.avroJson) match {
      case (Some(path), _) =>
        scanned(AvroDataSource.files(Seq(path)).toSeq)
      case (_, Some(path)) => listed(path, _.endsWith(".json"))
      case _ => Nil
    }
    require(binlogFiles.nonEmpty,
      s"no binlog input files found (reference aborts: comparator.sh:103-107)")
    require(avroFiles.nonEmpty,
      s"no avro input files found (reference reports none-found: avro_to_json.sh:75-85)")
    Map("binlog_files" -> binlogFiles.size.toLong, "avro_files" -> avroFiles.size.toLong,
      "binlog_bytes" -> binlogFiles.map(_.getLen).sum,
      "avro_bytes" -> avroFiles.map(_.getLen).sum)
  }

  /** One prepared comparison: the compared frame, the per-source rejected
    * rows (K3 quarantine side outputs), and a release handle that
    * unpersists any source caches once the outputs are materialized
    * (ADVICE: long-lived sessions must not accumulate quarantine caches). */
  final case class Prepared(
      compared: DataFrame,
      quarantines: Map[String, DataFrame],
      release: () => Unit)

  /** The comparison plan for the given sources: `main` writes its reports
    * from it; tests read `compared` directly and then call `release()`. */
  def prepare(spark: SparkSession, args: Args): Prepared = {
    val releases = collection.mutable.ArrayBuffer.empty[() => Unit]
    val quarantines = collection.mutable.Map.empty[String, DataFrame]
    val binlog = (args.binlogText, args.binlogBinary) match {
      case (Some(dir), _) =>
        val parsed = BinlogTextParser.toComparatorInput(BinlogTextParser.parse(spark, dir))
        Comparator.prepareBinlog(parsed, BinlogTextParser.seqColumn)
      case (None, Some(dir)) =>
        // S1 — raw binary decode through the DSv2 `binlog` scan, no external
        // parser process; with --split-index huge files range-split across
        // tasks (the index is auto-built by the first run's header-only walk)
        val rd = spark.read.format("binlog")
        args.splitIndex.foreach { idx =>
          rd.option("splitIndex", idx)
            .option("splitIndexAutoBuild", args.splitIndexAutoBuild.toString)
          args.splitBytes.foreach(b => rd.option("splitBytes", b.toString))
        }
        Comparator.prepareBinlog(rd.load(dir), BinlogBinaryParser.seqColumn)
      case (None, None) =>
        // Order-preserving JSON-lines read: (file_seq, basename, line_no) is
        // the reference's `ls -v` + within-file order, independent of how
        // Spark assigns splits to partitions (SURVEY §7.6).
        val ordered = Sources.binlogJsonOrdered(spark, args.binlogJson.get)
        quarantines("binlog") = ordered.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record").as("raw_line"),
            col("binlog_file_from_path"), col("line_no"))
        val clean = ordered
          .filter(col("_corrupt_record").isNull).drop("_corrupt_record")
        Comparator.prepareBinlog(clean,
          struct(coalesce(col("file_seq"), lit(0L)),
            col("binlog_file_from_path"), col("line_no")))
    }
    val avro = args.avro match {
      case Some(path) =>
        Comparator.prepareAvro(Comparator.flattenResolvedAvro(AvroSource.read(spark, path)))
      case None =>
        val q = Sources.quarantine(Sources.avroJson(spark, args.avroJson.get))
        releases += (() => q.unpersist())
        quarantines("avro") = q.quarantine
        Comparator.prepareAvro(Comparator.flattenWrappedAvro(q.clean))
    }
    val compared = Comparator.compare(binlog, avro,
      Comparator.Config(args.toleranceMs, args.strictChangeType))
    Prepared(compared, quarantines.toMap, () => releases.foreach(_.apply()))
  }
}
