package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}

/** Shared micro-batch tail over an append-only file listing (the binlog
  * and avrofile sources): the offset is a POSITION IN THE SORTED FILE
  * LIST — files are created with increasing names and never rewritten
  * once rotated, so each trigger consumes the files that appeared since
  * the last committed offset, whole files only. State is one integer;
  * that encoding requires the watched directory to be APPEND-ONLY while
  * the stream (or its checkpoint) is live — purging old files would
  * shift the listing under a count-based offset.
  *
  * The lister returns each file's status, so the byte lag comes with
  * the listing; listing and partition planning happen on the driver
  * only.
  */
private[sources] abstract class FileCountMicroBatchStream(
    list: () => IndexedSeq[FileStatus],
    maxFilesPerTrigger: Option[Int])
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  /** The partitions for one trigger's slice of consumed files — usually
    * one per file, but a source with an intra-file split index fans a
    * huge file into several, and may do a batch side effect for the
    * whole slice (building the shards of every file new to this trigger
    * in ONE job) instead of once per file. */
  protected def planSlice(slice: Seq[FileStatus]): Seq[InputPartition]

  private case class FileCountOffset(n: Int) extends Offset {
    override def json(): String = s"""{"n":$n}"""
  }

  // snapshot the listing per planning cycle so latestOffset and
  // planInputPartitions agree within one trigger
  @volatile private var lastListing: IndexedSeq[FileStatus] = Vector.empty
  // AvailableNow bound: files present when the trigger started
  @volatile private var availableNowCap: Option[Int] = None

  override def initialOffset(): Offset = FileCountOffset(0)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(list().length)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with SupportsAdmissionControl")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    lastListing = list()
    val total = availableNowCap.fold(lastListing.length)(math.min(_, lastListing.length))
    val s = start.asInstanceOf[FileCountOffset].n
    val capped = limit match {
      case m: ReadMaxFiles => math.min(total, s + m.maxFiles)
      case _ => total
    }
    FileCountOffset(capped)
  }

  override def reportLatestOffset(): Offset = FileCountOffset(lastListing.length)

  override def deserializeOffset(json: String): Offset = {
    // upgrading count→tail is supported (TailOffset.fromJson translates
    // `{"n":N}`); the reverse is refused loudly. A tail offset is keyed
    // by file SUFFIX, which is not a listing count once files have been
    // purged, so no `seq` offset downgrades — not even at a file
    // boundary. An older index-keyed tail offset mid-file (nonzero pos)
    // has no whole-file representation: silently reading just `n` would
    // re-serve the consumed prefix of file n.
    if (json.contains("\"seq\""))
      throw new IllegalArgumentException(
        s"checkpoint offset $json was written by the tailActive source, " +
          "whose offsets are keyed by file suffix; the count-based source " +
          "cannot resume it — keep tailActive=true on this checkpoint")
    "\"pos\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .filter(_.group(1).toLong != 0L)
      .foreach { m =>
        throw new IllegalArgumentException(
          s"checkpoint offset $json was written by the tailActive source " +
            s"mid-file (pos=${m.group(1)}); the count-based source cannot " +
            "resume it — keep tailActive=true on this checkpoint")
      }
    FileCountOffset("\"n\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(s"bad file-tail offset: $json")))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset].n
    val e = end.asInstanceOf[FileCountOffset].n
    // keep the snapshot when re-listing (a restart re-executes its
    // pending batch through here before any latestOffset call — the
    // metrics for that batch must not see an empty listing)
    val listing = if (lastListing.length >= e) lastListing else list()
    lastListing = listing
    planSlice(listing.slice(s, e)).toArray
  }

  /** In-band lag for `StreamingQueryProgress.sources[].metrics`, the
    * count-based analogue of [[BinlogTailMicroBatchStream]]'s:
    * `filesBehind` and `bytesBehind` vs the planning cycle's listing
    * snapshot, whose statuses carry the lengths (no filesystem call).
    * Raw serialized offsets (the pending-batch re-execution path)
    * convert via the json form, never a blind cast. */

  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val listing = lastListing
    val n =
      if (!latestConsumedOffset.isPresent) 0
      else latestConsumedOffset.get match {
        case f: FileCountOffset => f.n
        case o => deserializeOffset(o.json()).asInstanceOf[FileCountOffset].n
      }
    val m = new java.util.HashMap[String, String]()
    m.put("filesBehind", math.max(0, listing.length - n).toString)
    m.put("bytesBehind", listing.drop(math.max(0, n)).map(_.getLen).sum.toString)
    m
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
