package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Observability for the binlog tail ([[BinlogTailMicroBatchStream]],
  * `tailActive=true`, offsets keyed by each file's own suffix):
  * how far behind the feed a consumer's CHECKPOINT is, split into the two
  * quantities an operator actually alerts on —
  *
  *   - `committedLagBytes`: bytes between the checkpointed offset and the
  *     feed's CURRENT committed frontier — work the next trigger would
  *     consume. A growing value means the consumer is falling behind.
  *   - `heldBackBytes`: bytes past the committed frontier (an in-flight
  *     transaction's rows, a torn tail). Nonzero is NORMAL on a live
  *     feed; a value that grows without ever flushing means an upstream
  *     writer died mid-transaction.
  *
  * The split matters because naive `EOF - offset` lag conflates them: a
  * consumer that has consumed everything consumable looks "behind" by
  * exactly the torn tail it is CORRECT to hold back.
  *
  * Reads the consumer's own checkpoint (Spark's offset log: the last
  * COMMITTED batch's end offset — `offsets/N` gated on `commits/N`), so
  * it runs out-of-band of the stream, driver-side only: one listing, one
  * offset-file read, and a header walk of the active file's bytes past
  * the offset (for a caught-up consumer that is just the new growth; a
  * badly-behind one pays a walk of the whole active file, same as the
  * stream's own next trigger) — at 100 TB nothing here scales with
  * history size. The frontier computation IS the stream's own admission
  * walk ([[TailWalk.walk]], shared code, run without the per-trigger
  * budgets) — the metric cannot drift from what the stream will consume.
  * The reference has no monitoring surface at all (its pipeline is
  * one-shot batch, comparator.sh:78-123).
  */
object BinlogTailOps {

  import BinlogTailMicroBatchStream.TailOffset

  /** Lag of a tail consumer's checkpoint against its feed directory.
    *
    * @param filesListed     natural-order listing size now
    * @param filesConsumed   listing index of the frontier file in the
    *                        CURRENT listing — equal to "files fully
    *                        consumed" for append-only feeds; after
    *                        retention it counts only the SURVIVING files
    *                        below the frontier (purged-then-consumed
    *                        files are no longer observable from the
    *                        listing)
    * @param frontierFile    file the checkpointed offset points into
    *                        ("" when everything listed is consumed)
    * @param frontierPos     committed byte frontier inside it
    * @param frontierIdx     decoder event index at the frontier (events
    *                        with `event_index >= frontierIdx` in
    *                        `frontierFile` are NOT yet consumed)
    * @param committedLagBytes bytes the next trigger would consume
    * @param heldBackBytes   bytes past the feed's committed frontier
    *                        (in-flight / torn tail — correctly held)
    */
  final case class TailLag(filesListed: Int, filesConsumed: Int,
      frontierFile: String, frontierPos: Long, frontierIdx: Long,
      committedLagBytes: Long, heldBackBytes: Long)

  /** All source offset lines of the last COMMITTED batch: from
    * `offsets/N` for the highest N present in `commits/`. The outer
    * Option is None when no batch has committed (or the checkpoint
    * doesn't exist yet). Inside, ONE entry per source in the query's
    * plan order (the order the sources were unioned); a source Spark
    * recorded at its initial offset serializes as the literal `-` and
    * comes back as None here. */
  def latestCommittedOffsetJsons(ckpt: String, conf: Configuration)
      : Option[Seq[Option[String]]] = {
    val commits = new Path(ckpt, "commits")
    val fs = commits.getFileSystem(conf)
    if (!fs.exists(commits)) return None
    val ids = fs.listStatus(commits).toSeq
      .map(_.getPath.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    if (ids.isEmpty) return None
    val off = new Path(new Path(ckpt, "offsets"), ids.max.toString)
    val in = fs.open(off)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    // line 0: "v1"; line 1: batch metadata; line 2+: ONE offset line per
    // source ("-" when that source has no recorded offset yet)
    Some(lines.drop(2).map(l => if (l.trim == "-") None else Some(l)))
  }

  /** The single source's offset line (single-source tail checkpoints).
    * A union query writes several lines — and "the last line" would
    * silently be some OTHER feed's offset applied to this feed's
    * listing, so multi-source checkpoints are refused here: use
    * [[lagMetricsUnion]] with the feeds in plan order. */
  def latestCommittedOffsetJson(ckpt: String, conf: Configuration)
      : Option[String] =
    latestCommittedOffsetJsons(ckpt, conf) match {
      case None => None
      case Some(offsets) =>
        require(offsets.length == 1,
          s"checkpoint $ckpt has ${offsets.length} source offset lines; " +
            "this reads single-source tail checkpoints only — for a " +
            "union query use lagMetricsUnion(feeds in plan order)")
        offsets.head
    }

  /** Lag metrics for a single-source tail consumer: checkpointed offset
    * vs the feed's current state, the suffix-keyed offset resolved
    * against the current listing (where consumed prefixes may have been
    * purged away). Driver-side; safe to call while the stream runs (the
    * offset log is written atomically per batch). */
  def lagMetrics(spark: SparkSession, feed: String, ckpt: String): TailLag = {
    val conf = spark.sparkContext.hadoopConfiguration
    lagFor(feed, latestCommittedOffsetJson(ckpt, conf), conf)
  }

  /** Per-source lag for a UNION checkpoint (the cdc69/cdc72 posture: N
    * feeds tailed by one query). Spark's offset log keeps one line per
    * source in the query's PLAN order — the order the streams were
    * unioned — so callers pass `feeds` in that same order and get one
    * [[TailLag]] per feed back. Refuses a feed-count mismatch loudly
    * rather than pair offsets with the wrong directories. */
  def lagMetricsUnion(spark: SparkSession, feeds: Seq[String],
      ckpt: String): Seq[TailLag] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val jsons: Seq[Option[String]] =
      latestCommittedOffsetJsons(ckpt, conf) match {
        case None => Seq.fill(feeds.length)(None)
        case Some(offsets) =>
          require(offsets.length == feeds.length,
            s"checkpoint $ckpt has ${offsets.length} source offset lines " +
              s"but ${feeds.length} feeds were named — pass every feed, " +
              "in the order the streams were unioned")
          offsets
      }
    feeds.lazyZip(jsons).map((f, j) => lagFor(f, j, conf))
  }

  /** One feed's lag against one (optional) committed offset line,
    * resolved against the feed's checked listing exactly as the stream
    * resolves it (legacy `{"n"…}` lines translate on the way in). The
    * frontier is computed by the stream's own admission walk
    * ([[TailWalk.walk]] with no budgets) so metric and stream cannot
    * disagree about what is consumable. */
  private def lagFor(feed: String, json: Option[String],
      conf: Configuration): TailLag = {
    val listing = BinlogTailMicroBatchStream.list(feed)
    val (n0, pos0, idx0, ck0) = json
      .fold(TailOffset.Start)(TailOffset.fromJson(_, () => listing,
        f => TailWalk.statLenOrUnknown(f, conf)))
      .resolve(listing)
    if (n0 >= listing.length)
      return TailLag(listing.length, n0, "", pos0, idx0, 0L, 0L)
    val maxN = listing.length - 1
    // the feed's committed frontier: the stream's own admission walk,
    // unbudgeted (Left is unreachable — only budgets produce it)
    val (cp, _, _) = TailWalk.walk(listing, n0, pos0, (pos0, idx0, ck0),
        frontierInLast = n0 == maxN, budget = Int.MaxValue,
        byteBudget = Long.MaxValue, conf) match {
      case Right(f) => f
      case Left(i) => throw new IllegalStateException(
        s"unbudgeted tail walk stopped at index $i — unreachable")
    }
    // closed files between the offset and the active file read whole;
    // on the active file, frontier past the offset is consumable lag
    var lag = 0L
    (n0 until maxN).foreach { i =>
      lag += math.max(0L,
        TailWalk.statLen(listing(i), conf) - (if (i == n0) pos0 else 0L))
    }
    lag += math.max(0L, cp - (if (n0 == maxN) pos0 else 0L))
    // anything past the frontier is correctly-held-back
    val held = math.max(0L, TailWalk.statLen(listing(maxN), conf) - cp)
    TailLag(listing.length, n0,
      new Path(listing(n0)).getName, pos0, idx0, lag, held)
  }
}
