package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}

/** Binlog v4 event framing — the one copy of the rules that cut a binlog
  * byte stream into events, shared by the decoder
  * ([[BinlogBinaryParser.decodeStream]]) and the header-only walks of
  * [[BinlogOffsetIndex]] (split boundaries, commit frontier), so the
  * `event_index` the decoder assigns and the seeds the walks hand out
  * agree by construction:
  *   - a file opens with the 4-byte magic `0xFE 'b' 'i' 'n'` (the
  *     reference's `-offset 4` skip);
  *   - every event opens with the 19-byte little-endian common header:
  *     timestamp u32, type_code u8, server_id u32, event_size u32,
  *     end_log_pos u32, flags u16;
  *   - once a FORMAT_DESCRIPTION (type 15) declares `checksum_alg` 1, every
  *     later top-level event ends in a 4-byte CRC32 tail (`checksum_alg` 0
  *     turns it off again);
  *   - a TRANSACTION_PAYLOAD (type 40) holds a TLV header and a stream of
  *     complete inner events, possibly zstd-compressed; the inner events
  *     carry no checksum tail and take the next `event_index` values of the
  *     file, depth first ([[Payload]]).
  *
  * Reading ends at a clean EOF, a torn header, an event size below 19 or
  * past 2 GiB, or a torn body — silently: nothing yet reports which, or
  * how many bytes were left (ROADMAP.md item 3, decode accounting).
  */
private[ingest] object BinlogFraming {

  val HeaderLen = 19

  /** TRANSACTION_PAYLOAD nesting bound. MySQL nests exactly one level; a
    * crafted file of containers-in-containers degrades (deeper levels
    * unexpanded) instead of recursing StackOverflowError-deep — an Error
    * no catch in the decoder contains. */
  val MaxPayloadNesting = 16

  /** One framed event: its common header, its `event_index`, the checksum
    * tail length at its end, and its body `bytes[bodyOff, bodyOff +
    * bodyLen)` — `bytes` is null for a body a header-only read skipped. A
    * TRANSACTION_PAYLOAD frame carries its unpacked [[payload]] or the
    * [[payloadError]] that stopped the unpack. `offset` is the file offset
    * of the event (of its container, for an inner event); a `torn` frame
    * is the last one of its stream, its body cut short. */
  final class Frame private[BinlogFraming] (val offset: Long, val index: Long,
      val checksumLen: Int, val inPayload: Boolean, val timestamp: Long,
      val typeCode: Int, val serverId: Long, val eventSize: Long,
      val endLogPos: Long, val flags: Int) {
    private[BinlogFraming] var bytes: Array[Byte] = _
    private[BinlogFraming] var bodyOff = 0
    var torn = false
    var payload: Payload = _
    var payloadError: RuntimeException = _

    def bodyLen: Int = (eventSize - HeaderLen).toInt

    /** The body as a little-endian buffer at position 0. */
    def body: ByteBuffer =
      ByteBuffer.wrap(bytes, bodyOff, bodyLen).slice().order(ByteOrder.LITTLE_ENDIAN)

    /** A FORMAT_DESCRIPTION's `checksum_alg` (the fifth-last body byte,
      * present on servers ≥ 5.6.1), or -1. */
    def checksumAlg: Int =
      if (typeCode == 15 && bodyLen >= 62) bytes(bodyOff + bodyLen - 5) & 0xFF else -1

    /** The events a container expands to, depth first; empty otherwise. */
    def innerEvents: IndexedSeq[Frame] =
      if (payload == null) IndexedSeq.empty else payload.events
  }

  /** An unpacked TRANSACTION_PAYLOAD: its TLV header fields and its inner
    * events, depth first — a nested container's own inner events follow
    * it, down to [[MaxPayloadNesting]] levels. The inner stream ends at
    * its first frame that does not fit. */
  final class Payload(val compression: Long, val payloadBytes: Int,
      val uncompressedSize: Long, val events: IndexedSeq[Frame])

  /** Reads the top-level frames of a stream positioned at file offset
    * `start` (0 = at the magic, see [[readMagic]]), seeded with the
    * `event_index` and checksum length the skipped prefix left. With
    * `withBodies = false` it reads only the bodies framing itself needs —
    * FORMAT_DESCRIPTION and TRANSACTION_PAYLOAD — and skips the rest. */
  final class Reader(in: java.io.InputStream, start: Long, startIndex: Long,
      startChecksumLen: Int, withBodies: Boolean) {
    private var pos = start
    private var index = startIndex
    private var ckLen = startChecksumLen
    private var ended = false
    private val hdr = new Array[Byte](HeaderLen)

    /** Offset, `event_index` and checksum length just past the last whole
      * event read — the state a decode seeded here starts from. */
    def position: Long = pos
    def nextIndex: Long = index
    def checksumLen: Int = ckLen

    /** Consume the magic; false when the stream is shorter or differs. */
    def readMagic(): Boolean = {
      val magic = new Array[Byte](4)
      val ok = readFully(magic) && java.util.Arrays.equals(magic, BinlogBinaryParser.Magic)
      if (ok) pos = 4L
      ok
    }

    /** The next frame, or null once the stream ends. A `torn` frame (the
      * header whole, the body cut short) is returned once and ends it. */
    def next(): Frame = {
      if (ended || !readFully(hdr)) { ended = true; return null }
      val f = frame(ByteBuffer.wrap(hdr).order(ByteOrder.LITTLE_ENDIAN),
        pos, index, ckLen, inPayload = false)
      if (f.eventSize < HeaderLen || f.eventSize > Int.MaxValue) { ended = true; return null }
      val whole =
        if (withBodies || f.typeCode == 15 || f.typeCode == 40) {
          f.bytes = new Array[Byte](f.bodyLen)
          readFully(f.bytes)
        } else skipFully(f.bodyLen)
      if (!whole) { f.torn = true; ended = true; return f }
      if (f.typeCode == 40) unpack(f, depth = 1)
      // a FORMAT_DESCRIPTION sets the tail of the top-level events after
      // it, even one inside a container (MySQL writes none there)
      trackChecksum(f)
      f.innerEvents.foreach(trackChecksum)
      pos += f.eventSize
      index += 1 + f.innerEvents.length
      f
    }

    private def trackChecksum(e: Frame): Unit = e.checksumAlg match {
      case 1 => ckLen = 4
      case 0 => ckLen = 0
      case _ => ()
    }

    private def readFully(buf: Array[Byte]): Boolean = {
      var off = 0
      while (off < buf.length) {
        val r = in.read(buf, off, buf.length - off)
        if (r < 0) return false
        off += r
      }
      true
    }

    private def skipFully(n: Long): Boolean = {
      var left = n
      while (left > 0) {
        val s = in.skip(left)
        if (s > 0) left -= s
        else if (in.read() < 0) return false // skip() stalled: probe a byte
        else left -= 1
      }
      true
    }
  }

  /** Parse one common header from `h` (little-endian, at the header). */
  private def frame(h: ByteBuffer, offset: Long, index: Long, checksumLen: Int,
      inPayload: Boolean): Frame = {
    val timestamp = h.getInt & 0xFFFFFFFFL
    val typeCode = h.get & 0xFF
    val serverId = h.getInt & 0xFFFFFFFFL
    val eventSize = h.getInt & 0xFFFFFFFFL
    val endLogPos = h.getInt & 0xFFFFFFFFL
    val flags = h.getShort & 0xFFFF
    new Frame(offset, index, checksumLen, inPayload, timestamp, typeCode,
      serverId, eventSize, endLogPos, flags)
  }

  /** Unpack container `c` (MySQL 8.0.20+, the public WL#3549 wire format):
    * TLV header fields — 1 = payload size, 2 = compression type (0 ZSTD,
    * 255 NONE), 3 = uncompressed size — terminated by mark 0, then the
    * (possibly compressed) inner-event stream, framed at nesting `depth`.
    * Any malformation lands in `payloadError` and expands nothing. */
  private def unpack(c: Frame, depth: Int): Unit =
    try {
      val body = c.body
      var compression = 255L
      var uncompressedSize = -1L
      var payloadSize = -1L
      var done = false
      while (!done) readPackedLong(body) match {
        case 0 => done = true
        case t =>
          val len = readPackedLong(body).toInt
          val start = body.position()
          val v = readPackedLong(body)
          body.position(start + len)
          t match {
            case 1 => payloadSize = v
            case 2 => compression = v
            case 3 => uncompressedSize = v
            case _ => () // unknown optional field: skipped via len
          }
      }
      val rawLen = body.remaining() - c.checksumLen
      require(rawLen >= 0 && (payloadSize < 0 || payloadSize <= rawLen),
        s"payload size $payloadSize exceeds body $rawLen")
      val raw = new Array[Byte](if (payloadSize >= 0) payloadSize.toInt else rawLen)
      body.get(raw)
      val inner = compression match {
        case 0 => // ZSTD
          require(uncompressedSize >= 0 && uncompressedSize <= Int.MaxValue,
            s"bad uncompressed size $uncompressedSize")
          com.github.luben.zstd.Zstd.decompress(raw, uncompressedSize.toInt)
        case 255 => raw // NONE
        case other =>
          throw new IllegalArgumentException(s"unknown payload compression $other")
      }
      c.payload = new Payload(compression, raw.length, uncompressedSize,
        innerFrames(c, inner, depth))
    } catch {
      case e: RuntimeException => c.payloadError = e
    }

  /** Frame container `c`'s inner stream, depth first: each nested
    * container is unpacked one level deeper, its events following it. */
  private def innerFrames(c: Frame, inner: Array[Byte], depth: Int): IndexedSeq[Frame] = {
    if (depth > MaxPayloadNesting) return IndexedSeq.empty
    val out = collection.mutable.ArrayBuffer.empty[Frame]
    var p = 0
    var ok = true
    while (ok && p + HeaderLen <= inner.length) {
      val f = frame(ByteBuffer.wrap(inner, p, HeaderLen).order(ByteOrder.LITTLE_ENDIAN),
        c.offset, c.index + 1 + out.length, checksumLen = 0, inPayload = true)
      if (f.eventSize < HeaderLen || p + f.eventSize > inner.length) ok = false
      else {
        f.bytes = inner
        f.bodyOff = p + HeaderLen
        out += f
        if (f.typeCode == 40) {
          unpack(f, depth + 1)
          out ++= f.innerEvents
        }
        p += f.eventSize.toInt
      }
    }
    out.toIndexedSeq
  }

  /** MySQL length-encoded ("packed") integer, full long range. */
  def readPackedLong(b: ByteBuffer): Long = (b.get & 0xFF) match {
    case 252 => b.getShort & 0xFFFF
    case 253 => (b.get & 0xFFL) | ((b.get & 0xFFL) << 8) | ((b.get & 0xFFL) << 16)
    case 254 => b.getLong
    case v => v.toLong
  }
}
