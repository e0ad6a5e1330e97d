package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Intra-file split index for huge binlog binary files — the last per-file
  * serialization in S1 (one binlog file = one task). A binlog has no sync
  * markers: events chain head-to-tail and rows events depend on the
  * TABLE_MAP/GTID state before them, so unlike Avro (sync-seek,
  * [[graft.sources.AvroDataSource]]) a byte range is not independently
  * decodable. The standard fix is an offset index: one header-only pass
  * records transaction-start boundaries — GTID/ANONYMOUS_GTID events begin
  * a transaction, and every transaction re-emits the TABLE_MAPs its rows
  * events need (row-based replication writes a TABLE_MAP per statement) —
  * and later scans range-split huge files at those boundaries, seeding the
  * decoder state (event index, CRC32 tail length) from the index.
  *
  * The index pass is itself distributed (one task per file) and reads
  * headers only: it frames the file with the decoder's own
  * [[BinlogFraming]], which skips every body except FORMAT_DESCRIPTION
  * (checksum algorithm) and TRANSACTION_PAYLOAD (inner events, which take
  * event_index values), so it runs at sequential-IO speed, not decode
  * speed, and seeds exactly the state the decoder reaches. Reference
  * analogue: the sequential per-file loop
  * `/root/reference/comparator.sh:85-101` — the engine splits what the
  * reference serializes.
  *
  * Binlog files are immutable once rotated; the index stores the file
  * length it walked and the scan falls back to whole-file decode when the
  * length no longer matches — the index is an optimization, never a
  * correctness dependency.
  */
object BinlogOffsetIndex {

  /** One independently-decodable byte range of one file. `start == 0`
    * means "from the magic" (decode normally); otherwise `start` is a
    * transaction boundary and `startIndex`/`checksumLen` seed the state
    * the skipped prefix would have produced. Keyed by the FULL path, not
    * the basename: a glob spanning subdirectories can hold duplicate
    * basenames (per-shard `mysql-bin.000001`), and applying one file's
    * ranges to another whenever lengths coincide would silently decode
    * garbage (ADVICE r6). */
  case class SplitRange(path: String, start: Long, end: Long,
      startIndex: Long, checksumLen: Int, fileLen: Long) {
    def basename: String = path.split('/').last
  }

  /** Shard file name for one binlog file: basename for readability plus a
    * path digest for identity — two `mysql-bin.000001` in different
    * directories get distinct shards. Hashes the QUALIFIED path (scheme +
    * authority), so `/data/x` and `file:/data/x` agree. */
  def shardName(conf: org.apache.hadoop.conf.Configuration, file: String): String = {
    val q = qualify(conf, file)
    val hex = BinlogBinaryParser.hex(java.security.MessageDigest
      .getInstance("MD5").digest(q.getBytes("UTF-8")).take(8))
    s"${q.split('/').last}.$hex.idx"
  }

  /** Fully-qualified form of a path (fs scheme + authority made explicit)
    * — index identity must not depend on how the caller spelled the
    * path. */
  private def qualify(conf: org.apache.hadoop.conf.Configuration,
      file: String): String = {
    val p = new Path(file)
    p.getFileSystem(conf).makeQualified(p).toString
  }

  /** Walk every binlog file under `path` (one Spark task per file),
    * recording a split boundary at the first transaction start at or
    * after each `splitBytes` multiple. The index is a DIRECTORY at
    * `indexPath` holding ONE SHARD PER BINLOG FILE (tab-separated, one
    * line per range), each written atomically (temp + rename) by the task
    * that walked the file: nothing funnels through the driver — at 100 TB
    * (~800 k ranges) a single collected index file would be a driver
    * choke and one huge rename — and readers load only the shards of the
    * files they scan. Returns the number of ranges written. */
  def build(spark: SparkSession, path: String, indexPath: String,
      splitBytes: Long = 128L << 20): Long =
    buildFiles(spark, graft.sources.BinlogScan.listFiles(path).toSeq,
      indexPath, splitBytes)

  /** [[build]] restricted to an explicit file list — the streaming tail
    * indexes just the files that appeared since the last trigger. */
  def buildFiles(spark: SparkSession, files: Seq[String], indexPath: String,
      splitBytes: Long = 128L << 20): Long = {
    if (files.isEmpty) return 0L
    val sb = splitBytes
    val ip = indexPath
    // executors must resolve paths with the SESSION's Hadoop conf
    // (spark.hadoop.* credentials / fs impls), not a bare Configuration()
    val confBc = spark.sparkContext.broadcast(
      org.apache.spark.graftshim.SerializableHadoopConf.session())
    val dir = new Path(indexPath)
    val dirFs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirFs.mkdirs(dir)
    spark.sparkContext
      .parallelize(files, math.max(1, files.length))
      .map { f =>
        val ranges = walkFile(f, sb, confBc.value.value)
        writeShard(confBc.value.value, ip, f, ranges)
        ranges.length.toLong
      }
      .sum().toLong
  }

  /** Atomically write one file's shard. Write-then-rename: a reader must
    * never observe a partial shard — a truncation landing exactly on a
    * line boundary would parse as a complete (wrong) index, which the
    * malformed-line fallback cannot catch. */
  private def writeShard(conf: org.apache.hadoop.conf.Configuration,
      indexPath: String, file: String, ranges: Seq[SplitRange]): Unit = {
    val out = new Path(indexPath, shardName(conf, file))
    val fs = out.getFileSystem(conf)
    val tmp = new Path(out.getParent,
      "." + out.getName + ".inprogress." + java.util.UUID.randomUUID())
    val os = fs.create(tmp, true)
    try os.write(ranges.map(r =>
      s"${r.path}\t${r.start}\t${r.end}\t${r.startIndex}\t${r.checksumLen}\t${r.fileLen}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally os.close()
    fs.delete(out, false)
    require(fs.rename(tmp, out), s"could not move index shard into place at $out")
  }

  /** Read ONE file's ranges from its shard, in order — reads only this
    * file's shard, never the siblings'. A missing, truncated,
    * partially-written (concurrent auto-build), or otherwise malformed
    * shard — or one whose recorded path is not `file` (digest collision /
    * hand-moved index) — yields an EMPTY seq: the scan then decodes the
    * whole file, honoring the "optimization, never a correctness
    * dependency" contract instead of failing at planning. */
  def loadFile(conf: org.apache.hadoop.conf.Configuration,
      indexPath: String, file: String): Seq[SplitRange] =
    try {
      val q = qualify(conf, file)
      val p = new Path(indexPath, shardName(conf, file))
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty
      else {
        val in = fs.open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val ranges = text.linesIterator.filter(_.nonEmpty).map { line =>
          val a = line.split('\t')
          require(a.length == 6, s"malformed index line: $line")
          SplitRange(a(0), a(1).toLong, a(2).toLong, a(3).toLong, a(4).toInt, a(5).toLong)
        }.toSeq
        require(ranges.forall(_.path == q),
          s"shard ${p.getName} does not describe $q")
        ranges.sortBy(_.start)
      }
    } catch {
      case e @ (_: RuntimeException | _: java.io.IOException) =>
        System.err.println(
          s"[graft] split-index shard for $file unreadable (${e.getMessage}); " +
            "falling back to whole-file decode")
        Seq.empty
    }

  /** Does the index directory exist yet? The planning short-circuit:
    * an absent directory means no file has a shard, so [[loadFiles]]
    * callers skip the per-file shard probes entirely (one round trip
    * instead of one per file on a never-built index). A present
    * directory with a missing shard = that file appeared after the
    * build and decodes whole. */
  def exists(conf: org.apache.hadoop.conf.Configuration, indexPath: String): Boolean =
    try {
      val p = new Path(indexPath)
      p.getFileSystem(conf).exists(p)
    } catch { case _: java.io.IOException => false }

  /** Bound on one parallel planning sweep (shard loads or stats). On
    * expiry the caller degrades instead of hanging: ranges fall back to
    * whole-file decode, stats to a direct per-file call — the
    * "optimization, never a correctness dependency" contract again. */
  private val PlanningSweepTimeout = scala.concurrent.duration.Duration(5, "min")

  /** Driver-side parallel sweep over planning-time filesystem round trips
    * (IO-bound → fixed 32-thread daemon pool). The pool is PER SWEEP and
    * `shutdownNow()`'d on exit: `Await.result`'s timeout abandons but does
    * not cancel in-flight futures, so on a shared pool a wedged filesystem
    * call would occupy a thread forever and repeated timeouts would starve
    * every later sweep into silent whole-file-decode degradation (r8
    * ADVICE). shutdownNow interrupts the stragglers and the pool dies with
    * the sweep. */
  private def parallelSweep[A](files: Seq[String], what: String)(
      one: String => A): Option[Map[String, A]] = {
    import scala.concurrent.{Await, Future}
    val exec = java.util.concurrent.Executors.newFixedThreadPool(
      32,
      (r: Runnable) => {
        val t = new Thread(r, "graft-idx-load")
        t.setDaemon(true)
        t
      })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(exec)
    try Some(Await.result(
      Future.traverse(files)(f => Future(f -> one(f))), PlanningSweepTimeout).toMap)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          s"[graft] parallel $what sweep over ${files.length} files exceeded " +
            s"$PlanningSweepTimeout; degrading (a hung filesystem call would " +
            "otherwise block planning forever)")
        None
    } finally exec.shutdownNow()
  }

  /** [[loadFile]] over many files with the shard reads in parallel —
    * batch planning would otherwise pay one filesystem round trip PER
    * FILE serially (r7 ADVICE); on an object store with thousands of
    * binlog files that serial chain dominates `planInputPartitions`.
    * Short-circuits to all-empty (= whole-file decode everywhere) when
    * the index directory has never been built, and degrades to all-empty
    * if the sweep times out (a hung remote read must not hang planning). */
  def loadFiles(conf: org.apache.hadoop.conf.Configuration, indexPath: String,
      files: Seq[String]): Map[String, Seq[SplitRange]] = {
    if (files.isEmpty) return Map.empty
    if (!exists(conf, indexPath)) return files.map(_ -> Seq.empty[SplitRange]).toMap
    parallelSweep(files, "index-shard")(f => loadFile(conf, indexPath, f))
      .getOrElse(files.map(_ -> Seq.empty[SplitRange]).toMap)
  }

  /** Parallel `getFileStatus` lengths for the kept files — the range
    * validity check (`fileLen` matches the index entry) otherwise pays
    * the same serial per-file metadata chain [[loadFiles]] removes.
    * Files whose stat fails (or a timed-out sweep) are simply absent;
    * callers fall back to a direct call or whole-file decode. */
  def statLens(conf: org.apache.hadoop.conf.Configuration,
      files: Seq[String]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    parallelSweep(files, "file-stat") { f =>
      try {
        val p = new Path(f)
        Some(p.getFileSystem(conf).getFileStatus(p).getLen)
      } catch { case _: java.io.IOException => None }
    } match {
      case Some(m) => m.collect { case (f, Some(len)) => f -> len }
      case None => Map.empty
    }
  }

  /** Header-only walk of one file → its split ranges (a single whole-file
    * range when no boundary lands past `splitBytes`). */
  private[ingest] def walkFile(file0: String, splitBytes: Long,
      conf: org.apache.hadoop.conf.Configuration): Seq[SplitRange] = {
    val file = qualify(conf, file0) // ranges carry the canonical identity
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = new java.io.BufferedInputStream(fs.open(p), 1 << 16)
    try {
      val frames = new BinlogFraming.Reader(in, 0L, 0L, 0, withBodies = false)
      require(frames.readMagic(), s"${p.getName}: not a binlog file (bad magic)")
      var nextTarget = splitBytes
      // (boundary offset, event index there, checksum length there)
      val bounds = collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      var f = frames.next()
      while (f != null) {
        if ((f.typeCode == 33 || f.typeCode == 34) && f.offset >= nextTarget) {
          bounds += ((f.offset, f.index, f.checksumLen))
          nextTarget = f.offset + splitBytes
        }
        f = frames.next()
      }
      if (bounds.isEmpty) Seq(SplitRange(file, 0L, fileLen, 0L, 0, fileLen))
      else {
        val starts = (0L, 0L, 0) +: bounds.toSeq
        val ends = bounds.toSeq.map(_._1) :+ fileLen
        starts.zip(ends).map { case ((s, idx, ck), e) =>
          SplitRange(file, s, e, idx, ck, fileLen)
        }
      }
    } finally in.close()
  }

  /** Header-only walk of one file from a known decode state, returning
    * the COMMIT FRONTIER: the byte position just past the last event that
    * CLOSES a transaction at or after `fromPos`, with the decoder state
    * (event index, checksum length) there — the safe stop for a
    * micro-batch tail of a GROWING binlog file (the torn tail past it —
    * rows flushed, commit record not yet written — is held back, cdc56's
    * class, resumed from the returned state next trigger). Closing
    * events: XID (type 16) and a whole TRANSACTION_PAYLOAD (type 40 —
    * compressed transactions carry their XID INSIDE the container, so the
    * container's own end is the boundary). Wherever [[BinlogFraming]]
    * stops (a torn trailing event, garbage sizes) the walk stops without
    * advancing the frontier; a file torn inside the 4-byte magic returns
    * the input state unchanged. The returned (index, checksumLen) are the
    * framer's own, so they seed [[BinlogBinaryParser.decodeStream]]
    * exactly.
    *
    * Runs wherever the caller is (the tail source calls it driver-side
    * at offset planning); per trigger it reads only the bytes past the
    * previous frontier — bounded by feed growth, not file size.
    *
    * `byteBudget` is the SOFT batch-size cap (the tail source's
    * `maxBytesPerTrigger`): once the walk has found at least one commit
    * boundary past `fromPos` and consumed the budget, it stops there —
    * so a consumer restarted against a weekend of growth advances in
    * budget-sized batches instead of planning one giant one, while a
    * single transaction larger than the budget still advances the
    * frontier by one whole transaction (the progress guarantee; commits
    * are the only legal stops, so the cap is soft exactly like Spark's
    * file-source maxBytesPerTrigger). */
  private[graft] def commitFrontier(file: String, fromPos: Long,
      fromIndex: Long, fromCk: Int,
      conf: org.apache.hadoop.conf.Configuration,
      byteBudget: Long = Long.MaxValue): (Long, Long, Int) = {
    val p = new Path(file)
    val raw = p.getFileSystem(conf).open(p)
    try {
      if (fromPos > 0L) raw.seek(fromPos)
      val frames = new BinlogFraming.Reader(new java.io.BufferedInputStream(raw, 1 << 16),
        fromPos, fromIndex, fromCk, withBodies = false)
      if (fromPos == 0L && !frames.readMagic()) return (fromPos, fromIndex, fromCk)
      var frontier = (fromPos, fromIndex, fromCk)
      // soft byte budget: stop at the last commit boundary once the
      // budget is consumed AND the frontier has advanced (see scaladoc)
      def more = !(frontier._1 > fromPos && frames.position - fromPos >= byteBudget)
      var f = if (more) frames.next() else null
      while (f != null) {
        if (!f.torn && (f.typeCode == 16 || f.typeCode == 40))
          frontier = (frames.position, frames.nextIndex, frames.checksumLen)
        f = if (more) frames.next() else null
      }
      frontier
    } finally raw.close()
  }
}
