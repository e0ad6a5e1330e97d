package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CdcFixtures.{TailFeedWriter, txns}

/** The torn active file of the tail-feed kit
  * ([[graft.queries.CdcFixtures.TailFeedWriter.activeFile]]), the fixture
  * every binlog-tail gate serves, checked byte-level without Spark:
  * installment 1 ends 7 bytes into B's XID header, its commit frontier
  * stops right after A's XID, and the whole file decodes every class, the
  * torn-forever class's rows with no XID after them.
  */
class TailFeedWriterSpec extends AnyFunSuite {

  private val conf = new org.apache.hadoop.conf.Configuration()

  /** `n` rows of fixture class `m` (`k % 131 == m`). */
  private def cls(m: Int, n: Int): Array[Row] =
    Array.tabulate(n)(i => Row(131L * i + m, s"u${7 * i + m}"))

  // B spans three rows events (100 rows per event)
  private val classes = Seq(cls(0, 3), cls(1, 250), cls(2, 4), cls(3, 120))

  /** A committed | cut in B's XID | C committed, D torn forever. */
  private def active(classes: Seq[Array[Row]]) = {
    val Seq(a, b, c, d) = txns(classes, 801L, 8001L)
    new TailFeedWriter(classes).activeFile(new java.io.File("mysql-bin.000500"),
      Seq(a), Some(b), Seq(c, d.copy(commit = false)))
  }

  /** The top-level frames of `bytes`, and the offset after the last whole
    * one. */
  private def frames(bytes: Array[Byte]): (Seq[BinlogFraming.Frame], Long) = {
    val r = new BinlogFraming.Reader(new java.io.ByteArrayInputStream(bytes),
      0L, 0L, 0, withBodies = false)
    assert(r.readMagic())
    (Iterator.continually(r.next()).takeWhile(_ != null).toList, r.position)
  }

  private def keys(evs: Seq[ParsedBinlogEvent]): Seq[Long] =
    evs.flatMap(_.row_images).map(_.head.toLong)

  test("installment 1 ends 7 bytes into B's XID header") {
    val inst = active(classes).get
    val (fs, end) = frames(inst.bytes.take(inst.cut))
    // the framer stops after B's last rows event, 7 header bytes short
    assert(fs.last.typeCode == 30 && !fs.last.torn)
    assert(end == inst.cut - 7)
    assert(frames(inst.bytes)._1.find(_.offset == end).map(_.typeCode).contains(16))
  }

  test("the commit frontier of installment 1 stops right after A's XID") {
    val inst = active(classes).get
    val file = new java.io.File(Files.createTempDirectory("tail_kit").toFile,
      "mysql-bin.000500")
    Files.write(file.toPath, inst.bytes.take(inst.cut))
    val (pos, idx, ck) = BinlogOffsetIndex.commitFrontier(file.getPath, 0L, 0L, 0, conf)
    val aXid = frames(inst.bytes)._1.find(_.typeCode == 16).get
    assert((pos, idx, ck) == (aXid.offset + aXid.eventSize, aXid.index + 1, 4))
  }

  test("installment 1 plus the append decodes every class, D after the last XID") {
    val inst = active(classes).get
    val evs = BinlogBinaryParser.decodeFile(inst.bytes, "mysql-bin.000500").toSeq
    val xids = evs.filter(_.event_type == "XID")
    assert(xids.flatMap(_.xid) == Seq(8001L, 8002L, 8003L))
    val (committed, torn) = evs.filter(_.event_type == "WriteRowsEventV2")
      .partition(_.event_index < xids.last.event_index)
    assert(keys(committed) == classes.take(3).flatten.map(_.getLong(0)))
    assert(keys(torn) == classes(3).map(_.getLong(0)).toSeq)
  }

  test("an empty B cuts cleanly after A; all-empty classes write no file") {
    val noB = active(classes.updated(1, Array.empty[Row])).get
    val (fs, end) = frames(noB.bytes.take(noB.cut))
    assert(end == noB.cut && fs.last.typeCode == 16)
    assert(active(classes.map(_ => Array.empty[Row])).isEmpty)
  }
}
