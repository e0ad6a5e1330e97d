package graft.ingest

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.BinlogBinaryWriter._

/** The contract between the whole-file decoder and the two header-only
  * walks of [[BinlogOffsetIndex]]: a [[BinlogBinaryParser.decodeStream]]
  * seeded with a state either walk hands out — a split boundary from
  * `walkFile`, a commit frontier from `commitFrontier` — decodes exactly
  * the whole-file decode's suffix from that event on (same `event_index`,
  * same rows). Randomized [[BinlogBinaryWriter]] chains cover CRC on and
  * off, plain and zstd payload containers, a nested container, malformed
  * containers (unknown compression, payload size past the body) and a torn
  * final event. Spark-free: the walks read through the local Hadoop
  * filesystem.
  */
class BinlogFramingSpec extends AnyFunSuite {

  private val T0 = 1714564800L
  private val cols = Seq(ColDef.longlong, ColDef.varchar(40))
  private val conf = new org.apache.hadoop.conf.Configuration()

  /** One TLV field of a TRANSACTION_PAYLOAD header, single-byte packed
    * integers only (every value here is < 251). */
  private def tlv(t: Int, v: Int): Array[Byte] = Array(t.toByte, 1.toByte, v.toByte)

  private def rowsOf(rnd: scala.util.Random, n: Int): Seq[Seq[Option[Array[Byte]]]] =
    Seq.fill(n)(Seq(Some(encLongLong(rnd.nextLong())),
      if (rnd.nextInt(5) == 0) None
      else Some(encVarchar("v" * rnd.nextInt(30), 40))))

  /** The inner events of one transaction: TABLE_MAP, a rows event, XID. */
  private def innerTxn(rnd: scala.util.Random, ts: Long, xid: Long): Array[Byte] =
    innerEventStream(Seq(
      (ts, 19, tableMapBody(3, "app", "t", cols)),
      (ts, 30 + rnd.nextInt(3), rowsBody(3, cols.size, rowsOf(rnd, 1 + rnd.nextInt(3)))),
      (ts, 16, xidBody(xid))))

  /** A random chain: every transaction shape once in a random order, the
    * rest random, optionally cut inside its final event. */
  private def chain(seed: Int, checksums: Boolean, torn: Boolean): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val f = new FileBuilder(checksums)
    f.fde(T0)
    val sid = Array.fill(16)(rnd.nextInt(256).toByte)
    val shapes = rnd.shuffle((0 to 5).toList) ++ List.fill(4 + rnd.nextInt(6))(rnd.nextInt(6))
    shapes.zipWithIndex.foreach { case (shape, i) =>
      val ts = T0 + i
      f.event(ts, if (rnd.nextBoolean()) 33 else 34, gtidBody(sid, i + 1L))
      shape match {
        case 0 => // plain row-based transaction
          f.event(ts, 2, queryBody("app", "BEGIN"))
          f.event(ts, 19, tableMapBody(3, "app", "t", cols))
          f.event(ts, 30 + rnd.nextInt(3),
            rowsBody(3, cols.size, rowsOf(rnd, 1 + rnd.nextInt(4))))
          if (rnd.nextBoolean()) f.event(ts, 27, new Array[Byte](rnd.nextInt(9)))
          f.event(ts, 16, xidBody(100L + i))
        case 1 | 2 => // payload container, zstd (1) or plain (2)
          f.event(ts, 40, transactionPayloadBody(innerTxn(rnd, ts, 100L + i),
            compress = shape == 1))
        case 3 => // a container nested in a container
          val nested = innerEventStream(Seq(
            (ts, 2, queryBody("app", "BEGIN")),
            (ts, 40, transactionPayloadBody(innerTxn(rnd, ts, 100L + i),
              compress = rnd.nextBoolean()))))
          f.event(ts, 40, transactionPayloadBody(nested, compress = rnd.nextBoolean()))
        case 4 => // unknown compression type: the container stays unexpanded
          f.event(ts, 40, tlv(2, 7) ++ tlv(1, 8) ++ Array(0.toByte) ++ new Array[Byte](8))
        case _ => // declared payload size past the body
          f.event(ts, 40, tlv(2, 255) ++ tlv(1, 200) ++ Array(0.toByte) ++
            Array.fill(8)(rnd.nextInt(256).toByte))
      }
    }
    val bytes = f.bytes
    if (!torn) bytes
    else {
      // cut somewhere inside the last event (header or body)
      val lastSize = {
        val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var p = 4
        var last = 0
        while (p < bytes.length) { last = b.getInt(p + 9); p += last }
        last
      }
      bytes.take(bytes.length - 1 - rnd.nextInt(lastSize - 1))
    }
  }

  /** Decode `bytes` from a walk-handed state to EOF (or `end`). */
  private def decodeFrom(bytes: Array[Byte], start: Long, index: Long, ck: Int,
      end: Long = Long.MaxValue): Seq[ParsedBinlogEvent] = {
    val in = new java.io.ByteArrayInputStream(bytes)
    in.skip(start)
    BinlogBinaryParser.decodeStream(in, "mysql-bin.000001", startOffset = start,
      endOffset = end, startIndex = index, initialChecksumLen = ck).toSeq
  }

  private val variants =
    for (seed <- 1 to 4; checksums <- Seq(false, true); torn <- Seq(false, true))
      yield (seed, checksums, torn)

  test("the chains exercise every container shape") {
    variants.foreach { case (seed, checksums, torn) =>
      val evs = BinlogBinaryParser.decodeFile(chain(seed, checksums, torn),
        "mysql-bin.000001").toSeq
      assert(evs.map(_.event_index) == evs.indices.map(_.toLong))
      val containers = evs.filter(_.event_type == "TransactionPayload")
      assert(containers.count(_.extra.contains("body_decode_error")) >= 2)
      assert(containers.exists(_.extra.get("compression_type").contains("0")))
      assert(containers.exists(c => c.extra.contains("in_payload") &&
        !c.extra.contains("body_decode_error")), "no nested container expanded")
      assert(evs.exists(e => e.extra.contains("in_payload") && e.row_images.nonEmpty))
    }
  }

  test("decode seeded at every walkFile boundary yields the whole-file suffix") {
    val dir = Files.createTempDirectory("binlog_frame_walk").toFile
    variants.foreach { case (seed, checksums, torn) =>
      val bytes = chain(seed, checksums, torn)
      val file = new java.io.File(dir, "mysql-bin.000001")
      Files.write(file.toPath, bytes)
      val whole = BinlogBinaryParser.decodeFile(bytes, "mysql-bin.000001").toSeq
      Seq(1L, 97L, 400L, 1L << 20).foreach { splitBytes =>
        val ranges = BinlogOffsetIndex.walkFile(file.getPath, splitBytes, conf)
        assert(ranges.map(_.end).init == ranges.map(_.start).tail,
          "ranges must tile the file")
        ranges.foreach { r =>
          val clue = s"seed $seed ck $checksums torn $torn split $splitBytes @${r.start}"
          assert(decodeFrom(bytes, r.start, r.startIndex, r.checksumLen) ==
            whole.drop(r.startIndex.toInt), clue)
        }
        val tiled = ranges.flatMap(r =>
          decodeFrom(bytes, r.start, r.startIndex, r.checksumLen, r.end))
        assert(tiled == whole, s"seed $seed ck $checksums torn $torn split $splitBytes")
      }
    }
  }

  test("decode seeded at every commitFrontier state, every prefix, yields the suffix") {
    val dir = Files.createTempDirectory("binlog_frame_frontier").toFile
    val file = new java.io.File(dir, "mysql-bin.000001")
    variants.foreach { case (seed, checksums, torn) =>
      val bytes = chain(seed, checksums, torn)
      val whole = BinlogBinaryParser.decodeFile(bytes, "mysql-bin.000001").toSeq
      val checked = collection.mutable.Set.empty[(Long, Long, Int)]
      var prev = (0L, 0L, 0)
      (0 to bytes.length).foreach { len =>
        val clue = s"seed $seed ck $checksums torn $torn prefix $len"
        val prefix = bytes.take(len)
        Files.write(file.toPath, prefix)
        val state @ (pos, idx, ck) =
          BinlogOffsetIndex.commitFrontier(file.getPath, 0L, 0L, 0, conf)
        // resuming from the previous prefix's frontier lands on the same one
        assert(BinlogOffsetIndex.commitFrontier(
          file.getPath, prev._1, prev._2, prev._3, conf) == state, clue)
        prev = state
        if (checked.add(state)) {
          assert(decodeFrom(bytes, pos, idx, ck) == whole.drop(idx.toInt), clue)
          // and the committed prefix is exactly the events before it
          if (pos > 0) assert(decodeFrom(prefix, 0L, 0L, 0, pos) == whole.take(idx.toInt), clue)
        }
      }
      // budgeted frontiers over the whole file: every step is a seed too
      Files.write(file.toPath, bytes)
      Seq(1L, 150L, 700L).foreach { budget =>
        var state = (0L, 0L, 0)
        var moved = true
        while (moved) {
          val next = BinlogOffsetIndex.commitFrontier(
            file.getPath, state._1, state._2, state._3, conf, budget)
          moved = next != state
          state = next
          assert(decodeFrom(bytes, state._1, state._2, state._3) ==
            whole.drop(state._2.toInt), s"seed $seed budget $budget @${state._1}")
        }
      }
    }
  }
}
