package graft.sources

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

import graft.ingest.{BinlogOffsetIndex, BinlogTextParser}

/** Micro-batch tail of a binlog directory whose LAST file may still be
  * GROWING — the deployment posture the count-based
  * [[BinlogMicroBatchStream]] cannot serve (it consumes whole files only,
  * the reference's FLUSH-BINARY-LOGS workaround,
  * reference README.md:68-73): a real CDC consumer tails
  * `mysql-bin.000042` WHILE the server appends to it. Enabled with
  * `.option("tailActive", "true")` on the binlog source.
  *
  * The offset is `(seq, pos, idx, ck)`, keyed by the binlog file's own
  * numeric suffix — MySQL's native (file, pos) coordinate — never by an
  * index into the directory listing:
  *   - every file whose suffix is `< seq` is fully consumed;
  *   - `pos` — the committed byte frontier inside the file with suffix
  *     `== seq` (0 when that file is untouched or absent);
  *   - `idx`/`ck` — the decoder state (event index, checksum-tail length)
  *     at `pos`, seeding [[graft.ingest.BinlogBinaryParser.decodeStream]]
  *     exactly as the intra-file split index does.
  * The caught-up canonical form is `(lastSeq + 1, 0, 0, 0)` — "waiting
  * for a file that does not exist yet", which rotation then creates.
  * Every listed file must carry a numeric suffix, unique within the feed
  * ([[BinlogTailMicroBatchStream.list]]): a directory holding anything
  * else (MySQL's own `mysql-bin.index`) is refused, never mis-framed.
  *
  * Each trigger advances the frontier of the ACTIVE (last-listed) file to
  * the last COMMITTED transaction boundary
  * ([[BinlogOffsetIndex.commitFrontier]] — a driver-side header-only walk
  * of just the bytes that appeared since the previous trigger): the torn
  * tail a crash can leave mid-file (rows flushed, no commit record —
  * cdc56's class) is HELD BACK, never half-applied, and re-examined next
  * trigger once the commit record (or more data) lands. Files that are no
  * longer last are CLOSED by rotation (MySQL never splits a transaction
  * across binlog files), so their remainder past the old frontier is
  * consumed without a walk — every event, including a trailing ROTATE and
  * any DDL between transactions, is emitted exactly once once its file
  * closes; on the active file, events between the last commit and EOF
  * (an open transaction's GTID/BEGIN/rows, a trailing autocommit DDL)
  * wait for the next closing boundary or rotation. Only the LAST file
  * may grow.
  *
  * Retention: files OLDER than the committed frontier may be DELETED
  * (binlog retention / `PURGE BINARY LOGS`) while the stream or its
  * checkpoint lives. Delete only files with suffix strictly below the
  * last COMMITTED offset's `seq` — the frontier file itself (loudly
  * required present when `pos > 0`) and anything newer must stay; a
  * file purged BELOW a committed batch that later gets replayed is the
  * same data-retention tradeoff as expired Kafka offsets, so keep
  * retention longer than your longest replay window.
  *
  * Checkpoint UPGRADE is in place from the older postures: a count-based
  * `{"n":N}` or an index-keyed `{"n":N,"pos":..}` offset is translated
  * against the current listing at deserialize time
  * ([[BinlogTailMicroBatchStream.TailOffset.fromJson]]; upgrade FIRST,
  * purge after).
  *
  * `maxFilesPerTrigger` caps file COMPLETIONS per trigger; an active-file
  * advance consumes no file budget (its batch is bounded by feed growth,
  * not file size). `maxBytesPerTrigger` additionally SOFT-caps a
  * trigger's bytes — closed files count whole (at least one always
  * completes), and the active-file walk stops at the last commit
  * boundary inside the remaining budget (one whole transaction minimum,
  * the progress guarantee) — so a consumer restarted against a weekend
  * of growth catches up in budget-sized batches instead of planning one
  * giant one. Batches replay deterministically from their (start, end)
  * offsets: every partition either ends at a recorded frontier or spans
  * a rotated-closed (hence immutable) file. The intra-file split index is
  * deliberately not consulted here — tail batches are growth-sized by
  * construction; bulk backfill of closed history belongs to the batch
  * scan or the count-based stream, both of which fan huge files out
  * through the index.
  *
  * At 100 TB nothing here scales with history size: the per-trigger
  * driver work is one directory listing plus a header walk of the new
  * bytes, and partitions hand executors byte ranges exactly like the
  * split-index path.
  */
private class BinlogTailMicroBatchStream(path: String, required: StructType,
    maxFilesPerTrigger: Option[Int], maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  import BinlogTailMicroBatchStream.{TailOffset, list, seqOf}

  // snapshot the listing per planning cycle so latestOffset and
  // planInputPartitions agree within one trigger
  @volatile private var lastListing: IndexedSeq[String] = Vector.empty
  @volatile private var lastTarget: TailOffset = TailOffset.Start
  // AvailableNow bound: the frontier when the trigger started — a file
  // growing DURING the drain is consumed up to here and no further
  @volatile private var availableNowCap: Option[TailOffset] = None

  private def hadoopConf =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  override def initialOffset(): Offset = TailOffset.Start

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit =
    // the cap is everything available NOW: per-trigger file/byte budgets
    // still pace the run's individual batches (latestOffset), but must
    // not truncate the run itself — AvailableNow means "drain to here in
    // as many budget-sized batches as it takes", matching the file
    // source's maxBytesPerTrigger semantics. Spark doesn't hand prepare
    // the start offset, so this walks the active file from 0 — one
    // header-only pass per RUN (not per trigger), the price of an exact
    // cap on a file that keeps growing during the run.
    availableNowCap = Some(frontierTarget(initialFrom = None,
      budget = Int.MaxValue, byteBudget = Long.MaxValue))

  /** The current end-of-feed frontier: every file but the last fully
    * consumed, the last one walked to its committed boundary starting
    * from `initialFrom` when it names that same file. `budget` caps
    * file completions (admission control); `maxBytesPerTrigger` (when
    * set) soft-caps the trigger's bytes on top. */
  private def frontierTarget(initialFrom: Option[TailOffset], budget: Int,
      byteBudget: Long = maxBytesPerTrigger.getOrElse(Long.MaxValue))
      : TailOffset = {
    val listing = list(path)
    lastListing = listing
    val s = initialFrom.getOrElse(TailOffset.Start)
    val (i, pos, idx, ck) = s.resolve(listing)
    if (i >= listing.length) return s // everything listed is consumed
    TailWalk.walk(listing, i, pos, (pos, idx, ck),
        frontierInLast = i == listing.length - 1, budget, byteBudget,
        hadoopConf) match {
      case Left(next) =>
        // a budget ran out before (or exactly at) the active file: the
        // next-to-consume file's own suffix is the offset
        TailOffset(seqOf(listing(next)), 0L, 0L, 0)
      case Right((np, ni, nc)) =>
        TailOffset(seqOf(listing.last), np, ni, nc)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with SupportsAdmissionControl")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TailOffset]
    val budget = limit match {
      case m: ReadMaxFiles => m.maxFiles
      case _ => Int.MaxValue
    }
    val target = frontierTarget(Some(s), budget)
    val capped = availableNowCap match {
      case Some(cap) if cap.lt(target) => cap
      case _ => target
    }
    lastTarget = capped
    // never move backwards (a cap recorded before this run's start —
    // possible when a checkpointed offset already passed it)
    if (capped.lt(s)) s else capped
  }

  override def reportLatestOffset(): Offset = lastTarget

  override def deserializeOffset(json: String): Offset =
    TailOffset.fromJson(json, () => list(path),
      f => TailWalk.statLenOrUnknown(f, hadoopConf))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TailOffset]
    val e = end.asInstanceOf[TailOffset]
    if (!s.lt(e)) return Array.empty
    // the listing must cover every file this batch touches; refresh if
    // the snapshot is stale (restart replays re-list here). The requires
    // below guard the batch's ENDPOINT files — an interior file purged
    // in violation of the retention contract is indistinguishable from
    // legal sparse numbering, so replay safety for interiors rests on
    // the documented contract: retention stays behind COMMITTED batches,
    // never just written offsets (the same tradeoff as expired Kafka
    // offsets).
    val listing =
      if (lastListing.exists(f => seqOf(f) >= e.seq)) lastListing
      else list(path)
    lastListing = listing // restart replays re-list here; metrics too
    require(s.pos == 0L || listing.exists(f => seqOf(f) == s.seq),
      s"binlog tail: replay needs file with suffix ${s.seq} " +
        s"(consumed to ${s.pos}) but it was purged — keep retention " +
        "longer than the replay window")
    require(e.pos == 0L || listing.exists(f => seqOf(f) == e.seq),
      s"binlog tail: batch end inside file with suffix ${e.seq} " +
        "but it is missing from the listing")
    val parts = scala.collection.mutable.ArrayBuffer.empty[BinlogRange]
    listing.foreach { f =>
      val fs = seqOf(f)
      if (fs == s.seq && fs == e.seq) {
        if (e.pos > s.pos)
          parts += BinlogRange(f, s.pos, e.pos, s.idx, s.ck)
      } else if (fs == s.seq) {
        // closed by rotation: the remainder reads to EOF
        parts += BinlogRange(f, s.pos, Long.MaxValue, s.idx, s.ck)
      } else if (fs > s.seq && fs < e.seq) {
        parts += BinlogRange(f)
      } else if (fs == e.seq && e.pos > 0L) {
        parts += BinlogRange(f, 0L, e.pos, 0L, 0)
      }
    }
    parts.map(r => FileSplit(Seq(r)): InputPartition).toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    FileReaderFactory(BinlogRows(required))

  /** In-band lag for `StreamingQueryProgress.sources[].metrics`
    * (DSv2 `ReportsSourceMetrics`), computed from the planning cycle's
    * listing snapshot and the latest consumed (committed) offset, so
    * dashboards see how far the committed offset trails the feed
    * without the out-of-band [[BinlogTailOps.lagMetrics]] walk:
    *
    *   - `filesBehind` — listed files wholly beyond the consumed
    *     frontier file (no filesystem call);
    *   - `bytesBehind` — bytes between the consumed offset and listed
    *     EOF: the naive Kafka-style lag, equal to `committedLagBytes +
    *     heldBackBytes` of [[BinlogTailOps.lagMetrics]]. The in-band
    *     number deliberately skips the commit walk that splits those two
    *     (that walk runs once per TRIGGER for admission; re-running it
    *     per progress event would double the driver's header I/O) — a
    *     caught-up consumer therefore shows `bytesBehind` equal to its
    *     held-back torn tail, and the out-of-band metric is the tool
    *     that says whether that residue is consumable.
    *
    * Consumed prefixes may already be purged from the snapshot — a
    * shrunken listing reads as less, never more, behind. Cost: one
    * `getFileStatus` per not-fully-consumed file — for a caught-up
    * consumer exactly one (the active file) per progress event. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val listing = lastListing
    // NOT a blind cast: when a restart re-executes a pending batch
    // (offsets/N written, commits/N missing), Spark hands the raw
    // offset-log entry — a SerializedOffset — straight to metrics()
    // (ProgressContext.finishTrigger); Kafka's source converts in this
    // exact method for the same reason
    val c: TailOffset =
      if (!latestConsumedOffset.isPresent) TailOffset.Start
      else latestConsumedOffset.get match {
        case t: TailOffset => t
        case o => deserializeOffset(o.json()).asInstanceOf[TailOffset]
      }
    val (ci, cpos, _, _) = c.resolve(listing)
    var bytes = 0L
    (ci until listing.length).foreach { i =>
      bytes += math.max(0L, TailWalk.statLen(listing(i), hadoopConf) -
        (if (i == ci) cpos else 0L))
    }
    val m = new java.util.HashMap[String, String]()
    m.put("filesBehind", math.max(0, listing.length - 1 - ci).toString)
    m.put("bytesBehind", bytes.toString)
    m
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The tail's admission walk, shared by the stream and the out-of-band
  * [[BinlogTailOps.lagMetrics]] so the metric cannot drift from what the
  * stream will consume. From `startIdx` (frontier `startPos` inside
  * `listing(startIdx)`), complete closed files under `(budget,
  * byteBudget)` — the first file always completes (the progress
  * guarantee) and file lengths are only stat'ed when a byte budget is
  * actually set — then walk the LAST file's committed frontier, seeded
  * with `seed` when the frontier is already inside it. Left(i) = a
  * budget stopped at listing index `i` (the next file to consume,
  * untouched); Right((pos, idx, ck)) = the last file's new committed
  * frontier. */
private[sources] object TailWalk {
  def walk(listing: IndexedSeq[String], startIdx: Int, startPos: Long,
      seed: (Long, Long, Int), frontierInLast: Boolean, budget: Int,
      byteBudget: Long, conf: org.apache.hadoop.conf.Configuration)
      : Either[Int, (Long, Long, Int)] = {
    val maxIdx = listing.length - 1
    var i = startIdx
    var bytes = 0L
    while (i < maxIdx && (i - startIdx) < budget && bytes < byteBudget) {
      if (byteBudget != Long.MaxValue)
        bytes += math.max(0L,
          statLen(listing(i), conf) - (if (i == startIdx) startPos else 0L))
      i += 1
    }
    if (i < maxIdx || (i - startIdx) >= budget || bytes >= byteBudget)
      Left(i)
    else {
      val (fp, fi, fc) = if (frontierInLast) seed else (0L, 0L, 0)
      Right(BinlogOffsetIndex.commitFrontier(
        listing(maxIdx), fp, fi, fc, conf, byteBudget - bytes))
    }
  }

  def statLen(file: String,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val p = new org.apache.hadoop.fs.Path(file)
    try p.getFileSystem(conf).getFileStatus(p).getLen
    catch { case _: java.io.IOException => 0L }
  }

  /** statLen for VALIDATION sites (the legacy-upgrade length check):
    * a transient stat failure must SKIP the heuristic check
    * (Long.MaxValue passes any `len >= pos` require) rather than
    * masquerade as a 0-length file and hard-fail a legitimate upgrade
    * with a misleading "purge before upgrade?" message. Budget sites
    * keep [[statLen]]'s 0-on-error (conservative there: an unknown
    * length consumes no budget). */
  def statLenOrUnknown(file: String,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val p = new org.apache.hadoop.fs.Path(file)
    try p.getFileSystem(conf).getFileStatus(p).getLen
    catch { case _: java.io.IOException => Long.MaxValue }
  }
}

private[sources] object BinlogTailMicroBatchStream {

  def seqOf(file: String): Long = FileScan.fileSeqKey(file.split('/').last)

  /** The watched directory's natural-order listing, checked: suffix-keyed
    * offsets need the suffix to be a REAL key — every listed file must
    * carry a numeric suffix and suffixes must be unique. Otherwise a
    * suffix-less file (MySQL's own `mysql-bin.index`, any stray
    * non-binlog file) would sort last and be framed as the active file,
    * turning the real active file's torn tail into a "closed" remainder,
    * and two files sharing a key would plan duplicate partitions over
    * one byte range. Checked every planning cycle. */
  def list(path: String): IndexedSeq[String] = {
    val listing = BinlogScan.listFiles(path).toIndexedSeq
    listing.foreach { f =>
      require(BinlogTextParser.fileSeq(f.split('/').last).isDefined,
        s"the binlog tail needs numeric binlog suffixes; '$f' has none — " +
          "point the source at a directory of binlog data files only")
    }
    val dup = listing.groupBy(seqOf).collectFirst {
      case (_, fs) if fs.length > 1 => fs
    }
    require(dup.isEmpty,
      s"the binlog tail needs unique binlog suffixes; duplicates: ${dup.get}")
    listing
  }

  /** See [[BinlogTailMicroBatchStream]]'s offset contract. */
  case class TailOffset(seq: Long, pos: Long, idx: Long, ck: Int)
      extends Offset {
    override def json(): String =
      s"""{"seq":$seq,"pos":$pos,"idx":$idx,"ck":$ck}"""

    /** Strict feed-order comparison (file suffix, then byte frontier). */
    def lt(other: TailOffset): Boolean =
      seq < other.seq || (seq == other.seq && pos < other.pos)

    /** This offset against a [[list]]ing, as `(i, pos, idx, ck)`: `i` is
      * the first listed file at or past `seq` (the listing length when
      * everything listed is consumed); the byte frontier and decoder seed
      * apply when that file IS the frontier file, and are zero otherwise
      * (the frontier file is untouched, or was purged or not yet created
      * with nothing consumed in it). A newer file listed in place of a
      * frontier file with consumed bytes is refused — the frontier file
      * was purged too aggressively, and resuming anywhere else would lose
      * or re-serve. */
    def resolve(listing: IndexedSeq[String]): (Int, Long, Long, Int) = {
      val i = listing.indexWhere(f => seqOf(f) >= seq)
      if (i == -1) (listing.length, 0L, 0L, 0)
      else if (seqOf(listing(i)) == seq) (i, pos, idx, ck)
      else {
        require(pos == 0L,
          s"binlog tail: frontier file with suffix $seq has unconsumed " +
            s"bytes past $pos but is missing from the listing — purge " +
            "only files with suffix BELOW the committed frontier")
        (i, 0L, 0L, 0)
      }
    }
  }

  object TailOffset {
    val Start: TailOffset = TailOffset(0L, 0L, 0L, 0)

    private def field(json: String, name: String): Option[Long] =
      ("\"" + name + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json)
        .map(_.group(1).toLong)

    /** Parse this stream's own `{"seq":…}` form, or translate an older
      * posture's offset against the current listing `list()` — the
      * in-place upgrade path:
      *   - count-based `{"n":N}` — N whole files consumed, by
      *     construction no mid-file position — so an existing deployment
      *     upgrades to `tailActive=true` with no re-snapshot;
      *   - index-keyed `{"n":N,"pos":..,"idx":..,"ck":..}` — the listing-
      *     index tail this stream replaced.
      * A nonzero `pos` WITHOUT its decoder seed (`idx`/`ck`) is a corrupt
      * offset, not an upgrade form: resuming with a zero seed would
      * mis-number every event and leak checksum bytes into row decoding,
      * so it throws. The translation validates what it CAN: the listing
      * must still hold at least the counted files, the mid-file frontier
      * file must exist, and (`lenOf`) that file must be at least `pos`
      * bytes long — a purge masked by at least as many newer rotations
      * passes the count check with a SHIFTED listing, and the wrong file
      * is usually shorter than the frontier. A purge-before-upgrade that
      * is exactly balanced by newly rotated files of sufficient length
      * remains UNDETECTABLE from a count — which is why the contract is
      * upgrade FIRST (let one tail batch commit a suffix-keyed offset),
      * purge after. The reverse migration is rejected by the count-based
      * parser. */
    def fromJson(json: String, list: () => IndexedSeq[String],
        lenOf: String => Long = _ => Long.MaxValue): TailOffset = {
      val pos = field(json, "pos").getOrElse(0L)
      def req(name: String): Long =
        field(json, name).getOrElse(throw new IllegalArgumentException(
          s"bad binlog tail offset (pos without $name): $json"))
      val (idx, ck) = if (pos == 0L) (0L, 0) else (req("idx"), req("ck").toInt)
      field(json, "seq") match {
        case Some(seq) => TailOffset(seq, pos, idx, ck)
        case None =>
          val n = field(json, "n").getOrElse(throw new IllegalArgumentException(
            s"bad binlog tail offset (no seq or n): $json")).toInt
          if (n == 0 && pos == 0L) return Start
          val listing = list()
          def refuse(why: String): String =
            s"cannot upgrade index-based offset $json to a suffix-keyed " +
              s"one: $why"
          require(listing.length >= n, refuse(s"the listing has only " +
            s"${listing.length} files — upgrade the checkpoint BEFORE purging"))
          if (pos > 0L) {
            require(listing.length > n,
              refuse(s"its frontier file (index $n) is missing"))
            require(lenOf(listing(n)) >= pos, refuse(s"${listing(n)} is " +
              s"shorter than the frontier pos $pos — the listing shifted " +
              "under the index (purge before upgrade?); upgrade the " +
              "checkpoint BEFORE purging"))
            TailOffset(seqOf(listing(n)), pos, idx, ck)
          } else if (listing.length > n)
            TailOffset(seqOf(listing(n)), 0L, 0L, 0)
          else // caught up: waiting for the next file to be created
            TailOffset(seqOf(listing(n - 1)) + 1L, 0L, 0L, 0)
      }
    }
  }
}
