package graft.ingest

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

/** Write-side inverse of [[BinlogBinaryParser]]: encodes rows into MySQL
  * binlog v4 *binary* files (same public wire format the parser decodes —
  * common header, TABLE_MAP metadata, row images, optional CRC32
  * checksums, binary JSON documents).
  *
  * This is a fixture / round-trip encoder, not a CDC production sink: it
  * exists so the binary decoder can be gated end-to-end — encode a slice
  * of a parquet table into real binlog bytes, read it back through
  * `spark.read.format("binlog")`, and let an independent engine verify the
  * decoded values against the original table (the `cdc05_binary_source`
  * oracle entry; reference Stage 1 is `/root/reference/comparator.sh:
  * 85-101`). Determinism: identical inputs produce identical bytes.
  */
object BinlogBinaryWriter {

  // ------------------------------------------------------------- JSON enc

  /** Minimal JSON value model for the binary JSON encoder. */
  sealed trait Json
  object Json {
    final case class JInt(v: Long) extends Json
    final case class JStr(s: String) extends Json
    final case class JBool(b: Boolean) extends Json
    case object JNull extends Json
    final case class JArr(vs: Seq[Json]) extends Json
    final case class JObj(fields: Seq[(String, Json)]) extends Json
  }

  /** Encode a document as MySQL binary JSON (type byte + payload), small
    * containers (2-byte words) — ample for fixture-sized documents.
    * Object keys are stored in MySQL's canonical order (length, then
    * bytes), which is also the decoder's render order. */
  def encodeJsonDoc(j: Json): Array[Byte] = {
    val (t, payload) = encodeJsonValue(j)
    Array(t.toByte) ++ payload
  }

  /** (type code, out-of-line payload). Inline-able scalars still return
    * their payload; containers decide placement. */
  private def encodeJsonValue(j: Json): (Int, Array[Byte]) = j match {
    case Json.JNull => (0x04, Array(0.toByte))
    case Json.JBool(b) => (0x04, Array((if (b) 1 else 2).toByte))
    case Json.JInt(v) if v >= Short.MinValue && v <= Short.MaxValue =>
      (0x05, le(v, 2))
    case Json.JInt(v) if v >= Int.MinValue && v <= Int.MaxValue =>
      (0x07, le(v, 4))
    case Json.JInt(v) => (0x09, le(v, 8))
    case Json.JStr(s) =>
      val bytes = s.getBytes("UTF-8")
      (0x0c, jsonVarlen(bytes.length) ++ bytes)
    case Json.JArr(vs) => (0x02, encodeContainer(None, vs))
    case Json.JObj(fields) =>
      val sorted = fields.sortBy { case (k, _) =>
        (k.getBytes("UTF-8").length, k)
      }
      (0x00, encodeContainer(Some(sorted.map(_._1)), sorted.map(_._2)))
  }

  /** Small-container layout: count u16, size u16, key entries
    * (offset u16 + length u16, objects only), value entries (type u8 +
    * inline scalar or offset u16 relative to container start), key bytes,
    * out-of-line values. */
  private def encodeContainer(keys: Option[Seq[String]], vs: Seq[Json]): Array[Byte] = {
    val w = 2
    val count = vs.size
    val keyBytes = keys.map(_.map(_.getBytes("UTF-8"))).getOrElse(Nil)
    val headerLen = 2 * w + keyBytes.size * (w + 2) + count * (w + 1)

    val encoded = vs.map(encodeJsonValue)
    def isInline(t: Int): Boolean = t == 0x04 || t == 0x05

    // key bytes sit immediately after the entry tables, in order
    var keyCursor = headerLen
    val keyOffsets = keyBytes.map { kb => val o = keyCursor; keyCursor += kb.length; o }
    var valCursor = keyCursor
    val valOffsets = encoded.map { case (t, payload) =>
      if (isInline(t)) -1
      else { val o = valCursor; valCursor += payload.length; o }
    }
    val size = valCursor

    val out = new ByteArrayOutputStream()
    out.write(le(count.toLong, w))
    out.write(le(size.toLong, w))
    keyBytes.zip(keyOffsets).foreach { case (kb, off) =>
      out.write(le(off.toLong, w)); out.write(le(kb.length.toLong, 2))
    }
    encoded.zip(valOffsets).foreach { case ((t, payload), off) =>
      out.write(t)
      if (off < 0) { // inline: payload padded to the word width
        out.write(payload.padTo(w, 0.toByte), 0, w)
      } else out.write(le(off.toLong, w))
    }
    keyBytes.foreach(out.write)
    encoded.zip(valOffsets).foreach { case ((_, payload), off) =>
      if (off >= 0) out.write(payload)
    }
    require(out.size() == size, s"container size bookkeeping: ${out.size()} != $size")
    out.toByteArray
  }

  private def jsonVarlen(len: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var v = len
    while (v >= 0x80) { out.write((v & 0x7F) | 0x80); v >>= 7 }
    out.write(v)
    out.toByteArray
  }

  // ------------------------------------------------------ cell encoders

  private def le(v: Long, width: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v)
    b.array().take(width)
  }

  private def be(v: Long, width: Int): Array[Byte] =
    (0 until width).reverse.map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray

  def encLong(v: Int): Array[Byte] = le(v.toLong, 4)
  def encLongLong(v: Long): Array[Byte] = le(v, 8)
  def encFloat(v: Float): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putFloat(v).array()
  def encDouble(v: Double): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(v).array()

  /** VARCHAR/VAR_STRING: 1-byte length prefix when maxLen < 256, else 2. */
  def encVarchar(s: String, maxLen: Int): Array[Byte] = {
    val bytes = s.getBytes("UTF-8")
    (if (maxLen < 256) Array(bytes.length.toByte) else le(bytes.length.toLong, 2)) ++ bytes
  }

  /** ENUM ordinal (1-based), `packLen` ∈ {1, 2} little-endian. */
  def encEnum(ordinal: Int, packLen: Int): Array[Byte] = le(ordinal.toLong, packLen)

  /** SET member bitmask, `packLen` ∈ 1..8 little-endian. */
  def encSet(mask: Long, packLen: Int): Array[Byte] = le(mask, packLen)

  /** BIT(n): ceil(n/8) bytes big-endian. */
  def encBit(v: Long, bits: Int): Array[Byte] = be(v, (bits + 7) / 8)

  /** DATE: 3 bytes little-endian, day(5) month(4) year(rest). */
  def encDate(year: Int, month: Int, day: Int): Array[Byte] =
    le(((year.toLong << 9) | (month.toLong << 5) | day.toLong), 3)

  /** Legacy TIMESTAMP (type 7): 4 bytes LE unix seconds. */
  def encTimestampV1(epochSec: Long): Array[Byte] = le(epochSec, 4)

  /** Legacy DATETIME (type 12): 8 bytes LE decimal YYYYMMDDHHMMSS. */
  def encDatetimeV1(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int): Array[Byte] =
    le(((y.toLong * 10000 + mo * 100 + d) * 1000000L) + h * 10000L + mi * 100L + s, 8)

  /** Legacy TIME (type 11): 3 bytes LE decimal HHMMSS. */
  def encTimeV1(h: Int, mi: Int, s: Int): Array[Byte] =
    le(h * 10000L + mi * 100L + s, 3)

  /** TIME2: one offset-binary big-endian number over 3+ceil(fsp/2) bytes —
    * bit-packed hour(10) min(6) sec(6) with the base-10^(2·fb) fraction
    * in the low bytes; negative times store the complement of the whole
    * value. `fracMicros` is the magnitude's fraction in microseconds. */
  def encTime2(negative: Boolean, h: Int, mi: Int, s: Int,
      fracMicros: Long, fsp: Int): Array[Byte] = {
    val fb = (fsp + 1) / 2
    val packed = (h.toLong << 12) | (mi.toLong << 6) | s.toLong
    val fracRaw = if (fb == 0) 0L else fracMicros / math.pow(10, 6 - 2 * fb).toLong
    val mag = (packed << (8 * fb)) | fracRaw
    val stored = (0x800000L << (8 * fb)) + (if (negative) -mag else mag)
    be(stored, 3 + fb)
  }

  /** JSON column value: length prefix (`prefixWidth` bytes LE) + binary
    * JSON document. */
  def encJson(doc: Json, prefixWidth: Int): Array[Byte] = {
    val bytes = encodeJsonDoc(doc)
    le(bytes.length.toLong, prefixWidth) ++ bytes
  }

  /** BLOB/TEXT: length prefix + raw bytes. */
  def encBlob(payload: Array[Byte], prefixWidth: Int): Array[Byte] =
    le(payload.length.toLong, prefixWidth) ++ payload

  private val dig2bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

  /** NEWDECIMAL from an unscaled long (value = unscaled / 10^scale):
    * base-10^9 groups big-endian with compressed partial groups, MSB of
    * the first byte = sign flag (negatives stored bitwise-inverted) — the
    * exact inverse of the parser's decodeNewDecimal. */
  def encNewDecimal(unscaled: Long, precision: Int, scale: Int): Array[Byte] = {
    val neg = unscaled < 0
    val mag = math.abs(unscaled)
    val pow = math.pow(10, scale).toLong
    val intPart = mag / pow
    val fracPart = mag % pow
    val intDigits = precision - scale

    val out = new ByteArrayOutputStream()
    val intStr = ("%0" + math.max(intDigits, 1) + "d").format(intPart)
    val lead = intDigits % 9
    var idx = 0
    if (lead > 0) {
      out.write(be(intStr.substring(0, lead).toLong, dig2bytes(lead)))
      idx = lead
    }
    while (idx < intDigits) {
      out.write(be(intStr.substring(idx, idx + 9).toLong, 4)); idx += 9
    }
    if (scale > 0) {
      val fracStr = ("%0" + scale + "d").format(fracPart)
      var f = 0
      while (f + 9 <= scale) { out.write(be(fracStr.substring(f, f + 9).toLong, 4)); f += 9 }
      val tail = scale - f
      if (tail > 0) out.write(be(fracStr.substring(f).toLong, dig2bytes(tail)))
    }
    val raw = out.toByteArray
    raw(0) = (raw(0) ^ 0x80).toByte
    if (neg) { var i = 0; while (i < raw.length) { raw(i) = (~raw(i)).toByte; i += 1 } }
    raw
  }

  // -------------------------------------------------------- event bodies

  /** A column in a TABLE_MAP: wire type code + metadata bytes. ENUM/SET
    * columns use wire type 254 (STRING) with `[realType, packLen]`
    * metadata, as MySQL emits them. */
  final case class ColDef(typeCode: Int, meta: Array[Byte])
  object ColDef {
    val tiny: ColDef = ColDef(1, Array.empty)
    val short: ColDef = ColDef(2, Array.empty)
    val long: ColDef = ColDef(3, Array.empty)
    val longlong: ColDef = ColDef(8, Array.empty)
    val float: ColDef = ColDef(4, Array(4.toByte))
    val double: ColDef = ColDef(5, Array(8.toByte))
    val date: ColDef = ColDef(10, Array.empty)
    val year: ColDef = ColDef(13, Array.empty)
    val timestampV1: ColDef = ColDef(7, Array.empty)
    val datetimeV1: ColDef = ColDef(12, Array.empty)
    val timeV1: ColDef = ColDef(11, Array.empty)
    def varchar(maxLen: Int): ColDef = ColDef(15, le(maxLen.toLong, 2))
    def newDecimal(precision: Int, scale: Int): ColDef =
      ColDef(246, Array(precision.toByte, scale.toByte))
    def blob(prefixWidth: Int): ColDef = ColDef(252, Array(prefixWidth.toByte))
    def json(prefixWidth: Int): ColDef = ColDef(245, Array(prefixWidth.toByte))
    def geometry(prefixWidth: Int): ColDef = ColDef(255, Array(prefixWidth.toByte))
    def bit(bits: Int): ColDef = ColDef(16, Array((bits % 8).toByte, (bits / 8).toByte))
    def enum(packLen: Int): ColDef = ColDef(254, Array(247.toByte, packLen.toByte))
    def set(packLen: Int): ColDef = ColDef(254, Array(248.toByte, packLen.toByte))
    def char(packLen: Int): ColDef = ColDef(254, Array(254.toByte, packLen.toByte))
    def time2(fsp: Int): ColDef = ColDef(19, Array(fsp.toByte))
  }

  def queryBody(schema: String, sql: String): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(le(7, 4)); o.write(le(0, 4))
    o.write(schema.getBytes("UTF-8").length)
    o.write(le(0, 2)); o.write(le(0, 2))
    o.write(schema.getBytes("UTF-8")); o.write(0)
    o.write(sql.getBytes("UTF-8"))
    o.toByteArray
  }

  def gtidBody(sid: Array[Byte], gno: Long): Array[Byte] = {
    require(sid.length == 16, "GTID sid must be 16 bytes")
    val o = new ByteArrayOutputStream()
    o.write(1); o.write(sid); o.write(le(gno, 8))
    o.toByteArray
  }

  def xidBody(xid: Long): Array[Byte] = le(xid, 8)

  /** ROTATE body: next-file start position (u64) + next file name bytes
    * (no terminator — the name runs to the checksum tail). */
  def rotateBody(nextFile: String, pos: Long = 4L): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(le(pos, 8))
    o.write(nextFile.getBytes("UTF-8"))
    o.toByteArray
  }

  /** MySQL length-encoded ("packed") integer. */
  private def packed(v: Long): Array[Byte] =
    if (v < 251) Array(v.toByte)
    else if (v < (1L << 16)) Array(252.toByte) ++ le(v, 2)
    else if (v < (1L << 24)) Array(253.toByte) ++ le(v, 3)
    else Array(254.toByte) ++ le(v, 8)

  /** TRANSACTION_PAYLOAD (type 40) body: TLV header (compression type,
    * uncompressed size, payload size), end mark, then the inner-event
    * byte stream — zstd-compressed when `compress` (the WL#3549 wire
    * format). Inner events must be written WITHOUT per-event checksums. */
  def transactionPayloadBody(innerEvents: Array[Byte], compress: Boolean): Array[Byte] = {
    val payload =
      if (compress) com.github.luben.zstd.Zstd.compress(innerEvents, 3)
      else innerEvents
    val o = new ByteArrayOutputStream()
    def tlv(t: Long, value: Long): Unit = {
      val v = packed(value)
      o.write(packed(t)); o.write(packed(v.length.toLong)); o.write(v)
    }
    tlv(2, if (compress) 0L else 255L)              // compression type
    if (compress) tlv(3, innerEvents.length.toLong) // uncompressed size
    tlv(1, payload.length.toLong)                   // payload size
    o.write(packed(0L))                             // header end mark
    o.write(payload)
    o.toByteArray
  }

  /** Concatenate events into an inner-payload byte stream (no magic, no
    * checksums) for [[transactionPayloadBody]]. Each element:
    * (tsSec, typeCode, body). */
  def innerEventStream(events: Seq[(Long, Int, Array[Byte])]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    var logPos = 0L
    events.foreach { case (ts, tc, body) =>
      val size = 19 + body.length
      logPos += size
      val h = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
      h.putInt(ts.toInt).put(tc.toByte).putInt(1)
        .putInt(size).putInt(logPos.toInt).putShort(0.toShort)
      o.write(h.array()); o.write(body)
    }
    o.toByteArray
  }

  def tableMapBody(tableId: Long, schema: String, table: String,
      cols: Seq[ColDef]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(le(tableId, 6).padTo(6, 0.toByte))
    o.write(le(0, 2))
    val sb = schema.getBytes("UTF-8"); val tb = table.getBytes("UTF-8")
    o.write(sb.length); o.write(sb); o.write(0)
    o.write(tb.length); o.write(tb); o.write(0)
    require(cols.size < 251, "packed-int >250 columns not needed for fixtures")
    o.write(cols.size)
    cols.foreach(c => o.write(c.typeCode))
    val metaLen = cols.map(_.meta.length).sum
    require(metaLen < 251, "packed-int metadata fits one byte for fixtures")
    o.write(metaLen)
    cols.foreach(c => o.write(c.meta))
    o.write(new Array[Byte]((cols.size + 7) / 8)) // null-allowed bitmap
    o.toByteArray
  }

  /** WRITE/DELETE rows body (v2). Each image: encoded cells in column
    * order, `None` = SQL NULL. */
  def rowsBody(tableId: Long, nCols: Int,
      images: Seq[Seq[Option[Array[Byte]]]]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(le(tableId, 6).padTo(6, 0.toByte))
    o.write(le(0, 2))
    o.write(le(2, 2)) // v2 extra-data length (self-inclusive)
    require(nCols < 251)
    o.write(nCols)
    val bmLen = (nCols + 7) / 8
    val present = new Array[Byte](bmLen)
    (0 until nCols).foreach(i => present(i / 8) = (present(i / 8) | (1 << (i % 8))).toByte)
    o.write(present)
    images.foreach { img =>
      require(img.size == nCols, "image arity mismatch")
      val nulls = new Array[Byte](bmLen)
      img.zipWithIndex.foreach { case (c, i) =>
        if (c.isEmpty) nulls(i / 8) = (nulls(i / 8) | (1 << (i % 8))).toByte
      }
      o.write(nulls)
      img.foreach(_.foreach(o.write))
    }
    o.toByteArray
  }

  /** UPDATE rows body (v2, type 31): same layout as [[rowsBody]] except
    * TWO present bitmaps (before-image and after-image column sets — both
    * full-width here, as mysqld writes with binlog_row_image=FULL), and
    * each row is a BEFORE image followed by its AFTER image. The decoder
    * surfaces the pair as two consecutive entries of `row_images`. */
  def updateRowsBody(tableId: Long, nCols: Int,
      pairs: Seq[(Seq[Option[Array[Byte]]], Seq[Option[Array[Byte]]])]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(le(tableId, 6).padTo(6, 0.toByte))
    o.write(le(0, 2))
    o.write(le(2, 2)) // v2 extra-data length (self-inclusive)
    require(nCols < 251)
    o.write(nCols)
    val bmLen = (nCols + 7) / 8
    val present = new Array[Byte](bmLen)
    (0 until nCols).foreach(i => present(i / 8) = (present(i / 8) | (1 << (i % 8))).toByte)
    o.write(present)
    o.write(present)
    def img(cells: Seq[Option[Array[Byte]]]): Unit = {
      require(cells.size == nCols, "image arity mismatch")
      val nulls = new Array[Byte](bmLen)
      cells.zipWithIndex.foreach { case (c, i) =>
        if (c.isEmpty) nulls(i / 8) = (nulls(i / 8) | (1 << (i % 8))).toByte
      }
      o.write(nulls)
      cells.foreach(_.foreach(o.write))
    }
    pairs.foreach { case (b, a) => img(b); img(a) }
    o.toByteArray
  }

  // --------------------------------------------------------- file builder

  /** Accumulates events into one binlog file image. With `checksums` on,
    * every event (including the FDE that declares them) carries a real
    * CRC32 tail computed over header + body, and event sizes include it.
    *
    * With a `sink` stream, events are written THROUGH as they are built
    * (heap holds one event at a time, so a partition's file size is
    * bounded by storage, not executor memory or the 2 GB byte-array
    * limit); without one they accumulate in memory and [[bytes]] returns
    * the file image (the fixture-writer mode). */
  final class FileBuilder(checksums: Boolean = false,
      sink: java.io.OutputStream = null) {
    private val buf = if (sink == null) new ByteArrayOutputStream() else null
    private val out: java.io.OutputStream = if (sink == null) buf else sink
    out.write(BinlogBinaryParser.Magic)
    private var logPos = 4L

    def event(tsSec: Long, typeCode: Int, body: Array[Byte],
        serverId: Long = 1, flags: Int = 0): Long = {
      val tail = if (checksums) 4 else 0
      val size = 19 + body.length + tail
      logPos += size
      val h = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
      h.putInt(tsSec.toInt).put(typeCode.toByte).putInt(serverId.toInt)
        .putInt(size).putInt(logPos.toInt).putShort(flags.toShort)
      out.write(h.array())
      out.write(body)
      if (checksums) {
        val crc = new CRC32()
        crc.update(h.array()); crc.update(body)
        out.write(le(crc.getValue, 4))
      }
      logPos
    }

    /** FORMAT_DESCRIPTION declaring checksum presence: 84-byte body whose
      * last 5 bytes are [checksum_alg, crc32×4] when checksums are on. */
    def fde(tsSec: Long): Long = {
      if (!checksums) event(tsSec, 15, new Array[Byte](84))
      else {
        // build manually: the alg byte and CRC are part of the body
        val body = new Array[Byte](84)
        body(79) = 1 // checksum_alg = CRC32; body[80..83] = crc
        val size = 19 + 84
        logPos += size
        val h = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
        h.putInt(tsSec.toInt).put(15.toByte).putInt(1)
          .putInt(size).putInt(logPos.toInt).putShort(0.toShort)
        val crc = new CRC32()
        crc.update(h.array()); crc.update(body, 0, 80)
        val c = le(crc.getValue, 4)
        System.arraycopy(c, 0, body, 80, 4)
        out.write(h.array()); out.write(body)
        logPos
      }
    }

    /** Flush the sink stream (no-op in buffering mode). */
    def flush(): Unit = out.flush()

    def bytes: Array[Byte] = {
      require(buf != null,
        "bytes is only available in buffering mode (no sink stream)")
      buf.toByteArray
    }
  }
}
