package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The drain core every streaming gate shares (promoted from CdcQueries
  * in r13 so query families depend on the streaming package, not on a
  * sibling queries file). Every stream a gate starts goes through it:
  *
  *   - [[drain]]/[[drainToParquet]] — the drain policy: AvailableNow to
  *     completion on a checkpoint, started under [[withDrainPartitions]]'
  *     fixed settings; [[drainToParquet]] adds the parquet sink and its
  *     read-back;
  *   - [[drainBinlog]] — the one binlog feed: N feeds unioned into one
  *     query, file by file (`maxFilesPerTrigger=1`), optionally in the
  *     `tailActive` posture, `foreachBatch`;
  *   - [[Redelivery]] — the exactly-once proof's recorder: remember which
  *     file(s) batch 0 ACTUALLY processed, then re-apply that batch from
  *     them after the drain, under the same settings — the injected
  *     crash-after-commit redelivery a replay-safe sink must absorb
  *     bit-for-bit (foreachBatch's documented at-least-once hazard, made
  *     concrete). [[drainWithRedelivery]],
  *     [[drainIdempotentWithRedelivery]] and
  *     [[drainBinlogRestartWithRedelivery]] are built on it.
  *
  * [[tmpFixtureDir]]/[[streamDirs]] are the fixture roots, [[deliver]]
  * moves a staging dir's [[visibleFiles]] into a feed, and [[inParallel]]
  * overlaps independent per-batch maintenance actions.
  */
object Drains {

  /** Pin `spark.sql.shuffle.partitions`, AQE and the scan split to the
    * fixed drain settings for `body`: [[DrainPartitions]],
    * [[DrainAdaptive]] and [[DrainScanPartitions]].
    *
    * Gates pair with a fresh checkpoint per run (tmpFixtureDir wipes stale
    * state), so the state partition count is a per-run setting, not a
    * compatibility surface — and the drained results (status counts,
    * keyed rows) are partition-count-invariant. At the batch default of
    * 32, each micro-batch of a few-hundred-row fixture pays 32
    * state-store commits PER stateful operator (a stream-stream join
    * carries four stores per partition), which is pure fixed cost; 4
    * partitions keep identical output at an eighth of it. Streaming pins
    * the value into the checkpoint's offset metadata at query start, so
    * the conf is held across the whole drain and restored after — a
    * restart drain (cdc18) re-reads the pinned value from the checkpoint
    * regardless. At 100 TB this value goes the other way (hundreds of
    * partitions), sized to the feed volume.
    *
    * AQE is the second setting (r17, guide §1.2 "algorithm before config"
    * applied to the micro-batch loop): with AQE on, every per-batch
    * foreachBatch query materializes each Exchange as its OWN job —
    * a 2-shuffle state write becomes 3-4 sequential job submissions of
    * pure driver latency on a few-hundred-row batch (the r16 profile:
    * drain gates at 114 ms/job, ≤2% task occupancy). Off, the same
    * query is ONE job; the drained state is identical either way
    * (AQE is physical-only, and Spark already force-disables it for
    * the streaming plan itself — this extends the batch queries INSIDE
    * the drain loop). At deployment batch volume, runtime re-planning
    * earns its latency back, and AQE would be on. */
  def withDrainPartitions[T](spark: SparkSession)(body: => T): T = {
    val pKey = "spark.sql.shuffle.partitions"
    val aKey = "spark.sql.adaptive.enabled"
    val mKey = "spark.sql.files.minPartitionNum"
    val prevP = spark.conf.get(pKey)
    val prevA = spark.conf.get(aKey)
    val prevM = spark.conf.getOption(mKey)
    spark.conf.set(pKey, DrainPartitions)
    spark.conf.set(aKey, DrainAdaptive)
    spark.conf.set(mKey, DrainScanPartitions)
    try body finally {
      spark.conf.set(pKey, prevP)
      spark.conf.set(aKey, prevA)
      prevM match {
        case Some(v) => spark.conf.set(mKey, v)
        case None    => spark.conf.unset(mKey)
      }
    }
  }

  /** The drain's shuffle (and state store) partition count. */
  val DrainPartitions = 4L

  /** AQE inside the drain: off (see [[withDrainPartitions]]). */
  val DrainAdaptive = false

  /** The drain's scan split floor: the bench session splits scans to the
    * core count for the compute-heavy corpus queries (Bench.scala's
    * minPartitionNum note); inside a drain every scan is a micro-batch
    * file or a few-row state partition, and a 32-way split of those is 32
    * tasks of pure open cost per read. Like the other two settings it
    * would be sized by feed volume at deployment. */
  val DrainScanPartitions = 1L

  /** Run independent maintenance actions CONCURRENTLY and wait for all
    * (guide §2.6 — Spark happily runs several jobs at once; per-batch
    * maintenance actions over DISJOINT state dirs are only sequential
    * because the driver calls them sequentially, and each is a
    * micro-batch-sized job whose cost is mostly driver fixed latency).
    * The first failure is rethrown after all actions settle — a
    * maintenance loop must not half-run a batch silently. Callers
    * guarantee disjointness (different state dirs). */
  def inParallel(actions: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = parallelEc
    val fs = actions.map(a => Future(a()))
    // settle ALL before propagating: a failed sibling must not leave a
    // concurrent write racing the caller's next step
    val settled = fs.map(f => f.map(Right(_): Either[Throwable, Unit])
      .recover { case t => Left(t) })
    val results = Await.result(Future.sequence(settled), Duration.Inf)
    results.collectFirst { case Left(t) => t }.foreach(throw _)
  }

  // CACHED pool, not fixed(4): inParallel now NESTS (a per-batch apply
  // overlaps tombstones with the insert maintenance, which itself
  // overlaps its two disjoint state writes) and every level BLOCKS its
  // caller thread in Await — a fixed pool exactly as deep as today's
  // call tree deadlocks the day one more level appears. The pool is
  // bounded in practice by the drain call structure (a handful of
  // micro-batch-sized actions), never by data volume.
  private lazy val parallelEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-drain-par-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))

  /** The per-`dir` tag of fixture roots and tables: the first 6 bytes of
    * the path's MD5, in hex. */
  def fixtureTag(dir: String): String =
    graft.ingest.BinlogBinaryParser.hex(java.security.MessageDigest
      .getInstance("MD5").digest(dir.getBytes("UTF-8")).take(6))

  /** A per-(prefix, dir) fixture root under java.io.tmpdir, wiped clean on
    * entry. NOT created here: the Hadoop committer behind AvroSink-style
    * writes requires its output path to not exist; text-fixture writers
    * mkdirs(). */
  def tmpFixtureDir(prefix: String, dir: String): java.io.File = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      prefix + fixtureTag(dir))
    if (out.exists()) {
      // Files.walk holds directory handles — close it, or every fixture
      // call leaks an fd until GC (dozens of gates per sweep JVM)
      val walk = java.nio.file.Files.walk(out.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    out
  }

  /** A fresh per-(prefix, dir) fixture root, created, and the (feed,
    * `out`, ckpt) paths under it every streaming gate uses — `out` names
    * the gate's state or sink directory; none of the three is created. */
  def streamDirs(prefix: String, dir: String, out: String = "state")
      : (java.io.File, String, String, String) = {
    val root = tmpFixtureDir(prefix, dir)
    root.mkdirs()
    (root, new java.io.File(root, "feed").getPath,
      new java.io.File(root, out).getPath,
      new java.io.File(root, "ckpt").getPath)
  }

  /** The visible files of `dir` in name order: dot-prefixed sidecars
    * (`.crc`) and subdirectories are not listed; a missing dir lists
    * none. */
  def visibleFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .sortBy(_.getName).toSeq

  /** Moves the first `limit` [[visibleFiles]] of `staging` into `feed`
    * (created if missing) under their own names — a fixture's delivery of
    * staged wire files to the watched dir. Hidden sidecars stay in
    * `staging`. Returns the moved files at their new paths, in name
    * order. */
  def deliver(staging: String, feed: String,
      limit: Int = Int.MaxValue): Seq[java.io.File] = {
    val fd = new java.io.File(feed)
    fd.mkdirs()
    visibleFiles(staging).take(limit).map { f =>
      val to = new java.io.File(fd, f.getName)
      require(f.renameTo(to), s"fixture deliver failed: $f")
      to
    }
  }

  /** The drain policy: run `w`'s query AvailableNow to completion on the
    * checkpoint `ckpt`, started under the drain settings (streaming pins
    * them into the checkpoint at start, and every micro-batch plans under
    * it). */
  def drain(spark: SparkSession, w: DataStreamWriter[Row], ckpt: String): Unit =
    withDrainPartitions(spark) {
      w.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

  /** [[drain]] `df` into a parquet sink at `sink`, and read it back. An
    * EMPTY feed (a legal quiet period) runs zero micro-batches, so the
    * sink may hold no parquet files: the sink dir is created and read
    * back with `df`'s own schema, giving the empty relation where schema
    * inference would throw. The read-back is a lazy, distributed scan —
    * never a driver collect. */
  def drainToParquet(df: DataFrame, sink: String, ckpt: String): DataFrame = {
    val spark = df.sparkSession
    drain(spark, df.writeStream.format("parquet").option("path", sink), ckpt)
    new java.io.File(sink).mkdirs()
    spark.read.schema(df.schema).parquet(sink)
  }

  /** The one binlog feed drain: one streaming query over the UNION of
    * `feeds`' binlog sources, file by file (`maxFilesPerTrigger=1` — a
    * delta arrives across MULTIPLE micro-batches), `apply` per batch.
    * Spark's offset log tracks each source independently (one offset line
    * per source per batch), so every feed keeps its own progress while
    * `apply` sees ONE batch stream — the scale-out shape of a fleet of
    * database shards into one maintained state, one checkpoint.
    *
    * `tail` selects the ACTIVE-file source — (file suffix,
    * byte-frontier) offsets, torn tail held back in-source. Gates call it
    * once per installment against ONE checkpoint, appending bytes to the
    * growing last file between runs; files below the committed frontier
    * may be DELETED between runs (binlog retention). Under a union each
    * shard's retention deletes its own consumed files independently, and
    * a restart resumes every shard from its own suffix frontier. */
  def drainBinlog(spark: SparkSession, feeds: Seq[String], ckpt: String,
      tail: Boolean = false)(apply: (DataFrame, Long) => Unit): Unit = {
    require(feeds.nonEmpty, "a binlog drain needs at least one feed")
    def src(feed: String): DataFrame = {
      val r = spark.readStream.format("binlog").option("maxFilesPerTrigger", 1)
      (if (tail) r.option("tailActive", "true") else r).load(feed)
    }
    drain(spark, feeds.map(src).reduce(_ unionByName _).writeStream
      .foreachBatch(apply), ckpt)
  }

  /** The redelivery recorder over binlog `feeds`: [[record]] remembers the
    * file names batch 0 actually processed (bounded by
    * maxFilesPerTrigger=1 per source) rather than inferring "the
    * lexicographically smallest" — if natural-version order ever
    * diverged from name order, an inferred redelivery would replace
    * batch 0's partition with DIFFERENT partials and fail spuriously
    * instead of isolating a sink bug. [[files]] serves the gates that
    * also capture a later batch (failover, straddle, last-batch
    * replays). [[replay]] re-applies a batch from its names under the
    * drain settings, like the drain it replays; with nothing recorded (an
    * empty feed wrote no files and ran no batches) nothing is replayed.
    *
    * Each name resolves to the ONE feed holding it — a name present in
    * several feeds is REFUSED, because routing it to the first match
    * would silently rebuild the batch from one shard's copy only and fail
    * the gate with a misleading sink-not-replay-safe diagnosis. Keep
    * per-shard file numbering disjoint. Fixture-side scaffold (local
    * files by design — real redelivery is Spark's own offset-range
    * replay). */
  final class Redelivery(spark: SparkSession, feeds: Seq[String]) {
    private var batch0 = Seq.empty[String]

    /** The binlog file names `batch` read. */
    def files(batch: DataFrame): Seq[String] =
      batch.select(col("binlog_file")).distinct()
        .collect().map(_.getString(0)).toSeq

    /** Batch 0 only, and only once: later batches and the replay itself
      * never overwrite the record. */
    def record(batch: DataFrame, id: Long): Unit =
      if (id == 0L && batch0.isEmpty) batch0 = files(batch)

    def replay(names: Seq[String] = batch0, id: Long = 0L)
        (apply: (DataFrame, Long) => Unit): Unit =
      if (names.nonEmpty) withDrainPartitions(spark) {
        apply(spark.read.format("binlog").load(names.map(path): _*), id)
      }

    private def path(name: String): String = {
      val hits = feeds.map(f => new java.io.File(f, name)).filter(_.isFile)
      require(hits.length == 1,
        s"batch file '$name' resolves to ${hits.length} feeds — union " +
          "redelivery needs disjoint per-shard file numbering")
      hits.head.getPath
    }
  }

  /** The shared EXACTLY-ONCE drain: per batch, land `partials(batch)` in
    * its own batch_id partition (ViewMaintenance.applyIdempotent); after
    * the drain, batch 0's write is re-applied from its recorded file(s) —
    * the injected redelivery the partition overwrite must absorb
    * bit-for-bit. */
  def drainIdempotentWithRedelivery(spark: SparkSession,
      feed: String, ckpt: String, state: String)
      (partials: DataFrame => DataFrame): Unit =
    drainWithRedelivery(spark, feed, ckpt)((batch, id) =>
      ViewMaintenance.applyIdempotent(partials(batch), state, id))

  /** The RESTART-mid-drain scaffold: binlog files staged under `staging`
    * are delivered into `feed` in two installments against ONE
    * checkpoint — deliver half, drain to completion, the query STOPS;
    * deliver the rest, drain again from the same checkpoint. The second
    * run's offset log must skip every file run 1 committed while picking
    * up every new one (the count-based offset encoding makes the watched
    * dir append-only in natural-version order — staged files carry
    * strictly increasing `mysql-bin.N` numbers, so later deliveries
    * always sort after consumed ones), and batch ids CONTINUE across the
    * seam, so a batch_id-partitioned sink state is never rewritten by
    * run 2. This composes cdc18's source-restart proof with the
    * maintenance sinks' replay-safety — and then goes one further: after
    * run 2, the recorded batch-0 file is re-applied (the injected
    * crash-after-commit redelivery), now landing ACROSS the restart
    * boundary. */
  def drainBinlogRestartWithRedelivery(spark: SparkSession,
      staging: String, feed: String, ckpt: String)
      (apply: (DataFrame, Long) => Unit): Unit = {
    val half = (visibleFiles(staging).length + 1) / 2
    val batch0 = new Redelivery(spark, Seq(feed))
    def drainOnce(): Unit = drainBinlog(spark, Seq(feed), ckpt) { (batch, id) =>
      batch0.record(batch, id)
      apply(batch, id)
    }
    deliver(staging, feed, half)
    drainOnce()
    deliver(staging, feed)
    drainOnce()
    batch0.replay()(apply)
  }

  /** The record-and-redeliver scaffold alone, for gates whose per-batch
    * apply manages its own (possibly multiple) replay-safe states (m11's
    * strict-probe flags + idempotent keeper minima; p14's
    * batch_id-filtered quota state): drain the binlog feed, remember
    * which file(s) batch 0 processed, then re-apply batch 0 from them —
    * the injected crash-after-commit replay the gate must absorb. */
  def drainWithRedelivery(spark: SparkSession,
      feed: String, ckpt: String)
      (apply: (DataFrame, Long) => Unit): Unit = {
    val batch0 = new Redelivery(spark, Seq(feed))
    drainBinlog(spark, Seq(feed), ckpt) { (batch, id) =>
      batch0.record(batch, id)
      apply(batch, id)
    }
    batch0.replay()(apply)
  }
}
