package graft.ingest

import java.nio.ByteBuffer
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.ingest.BinlogFraming.readPackedLong

/** S1 — native decoder for raw MySQL binlog *binary* files (binlog format
  * v4, the public format documented in the MySQL internals manual), the one
  * source the reference delegates to an external tool (`go-binlogparser
  * -offset 4`, comparator.sh:91-93; README.md:35-52) and SURVEY §7.6 lists
  * as the deferred hard part of the domain.
  *
  * [[BinlogFraming]] cuts the byte stream into events (magic, common
  * header, checksum tails, TRANSACTION_PAYLOAD containers); this decoder
  * reads the event-specific post-headers/bodies for the types the
  * comparison consumes: FORMAT_DESCRIPTION(15), QUERY(2), XID(16),
  * TABLE_MAP(19), GTID(33), ROTATE(4), WRITE/UPDATE/DELETE_ROWS v1(23/24/25)
  * and v2(30/31/32), ROWS_QUERY(29), INTVAR(5), TRANSACTION_PAYLOAD(40).
  * Every other type decodes header-only.
  *
  * The decode is inherently *stateful within a file* (a TABLE_MAP names the
  * schema/table for the row events that follow; a GTID event scopes the
  * transaction after it), so the parallelism unit is the file — the DSv2
  * `binlog` scan ([[graft.sources.BinlogDataSource]]) plans one task per
  * file, the same unit as the reference's per-file loop and as
  * [[BinlogTextParser]], or one per transaction-aligned byte range with a
  * split index ([[BinlogOffsetIndex]]).
  *
  * Output rows are [[ParsedBinlogEvent]] — identical shape to the text
  * parser, so `Comparator.prepareBinlog(parse(...), seqColumn)` runs the
  * whole comparison off raw binlogs with no external process. Event-type
  * names match the text parser's classifier (E4): canonical
  * `WriteRowsEventV2` / `UpdateRowsEventV2` / `DeleteRowsEventV2`, `XID`,
  * `Query`, `Gtid`, … (one trailing "Event" stripped).
  */
object BinlogBinaryParser {

  val Magic: Array[Byte] = Array(0xFE.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)

  /** type_code → canonical event-type name (after E4's Event-suffix strip). */
  val eventTypeNames: Map[Int, String] = Map(
    0 -> "Unknown", 1 -> "StartV3", 2 -> "Query", 3 -> "Stop", 4 -> "Rotate",
    5 -> "Intvar", 15 -> "FormatDescription", 16 -> "XID", 17 -> "BeginLoadQuery",
    18 -> "ExecuteLoadQuery", 19 -> "TableMap",
    23 -> "WriteRowsV1", 24 -> "UpdateRowsV1", 25 -> "DeleteRowsV1",
    26 -> "Incident", 27 -> "Heartbeat", 28 -> "Ignorable", 29 -> "RowsQuery",
    30 -> "WriteRowsEventV2", 31 -> "UpdateRowsEventV2", 32 -> "DeleteRowsEventV2",
    33 -> "Gtid", 34 -> "AnonymousGtid", 35 -> "PreviousGtids",
    36 -> "TransactionContext", 37 -> "ViewChange", 38 -> "XAPrepareLog",
    39 -> "PartialUpdateRows", 40 -> "TransactionPayload", 41 -> "HeartbeatV2")

  /** Read a directory/glob of raw `.bin`/`mysql-bin.NNNNNN` files: the
    * typed view of the DSv2 `binlog` scan, `spark.read.format("binlog")
    * .load(path)`. Each task streams its file through [[decodeStream]] one
    * event at a time — a task's heap holds one event body, not the whole
    * file, so oversized binlogs (a transaction overshooting
    * max_binlog_size, even past 2 GiB) decode without pinning file-sized
    * buffers. */
  def parse(spark: SparkSession, path: String): Dataset[ParsedBinlogEvent] = {
    import spark.implicits._
    spark.read.format("binlog").load(path).as[ParsedBinlogEvent]
  }

  /** Decode one in-memory binlog file image (pure function — the spec
    * surface). Delegates to the streaming decoder. */
  def decodeFile(bytes: Array[Byte], basename: String): Iterator[ParsedBinlogEvent] =
    decodeStream(new java.io.ByteArrayInputStream(bytes), basename)

  /** Incrementally decode a binlog byte stream: one 19-byte common header
    * + one event body in memory at a time, yielded lazily. A malformed
    * header or truncated bytes end the scan silently, wherever
    * [[BinlogFraming]] stops: the rest of the file is dropped and nothing
    * reports it yet (ROADMAP.md item 3). A bad magic fails loudly. The
    * stream is closed when the iterator is exhausted.
    *
    * `withRowImages = false` skips row-image VALUE decoding entirely
    * (TABLE_MAP state is still tracked for schema/table attribution) —
    * the CDC comparison consumes only headers/positions/timestamps, and
    * image decoding (strings, decimals, JSON documents) dominates decode
    * cost, so the DSv2 reader sets this from column pruning. Likewise
    * `withExtra = false` leaves `extra` empty instead of collecting each
    * event's header fields and body details into it.
    *
    * Range decode (intra-file splitting, [[BinlogOffsetIndex]]): with
    * `startOffset > 0` the caller has already positioned the stream at an
    * EVENT boundary (a transaction-start boundary from the offset index,
    * so the range's rows events carry their own TABLE_MAPs); the magic
    * check is skipped and `startIndex`/`initialChecksumLen` seed the
    * file-scoped state the skipped prefix would have produced. Decoding
    * stops at the first event whose start is at or past `endOffset` —
    * ranges tile the file exactly (every event belongs to the one range
    * containing its first byte). */
  def decodeStream(in: java.io.InputStream, basename: String,
      withRowImages: Boolean = true, withExtra: Boolean = true,
      startOffset: Long = 0L, endOffset: Long = Long.MaxValue,
      startIndex: Long = 0L, initialChecksumLen: Int = 0): Iterator[ParsedBinlogEvent] = {
    val frames = new BinlogFraming.Reader(in, startOffset, startIndex,
      initialChecksumLen, withBodies = true)
    if (startOffset == 0L)
      require(frames.readMagic(), s"$basename: not a binlog file (bad magic)")
    val fileSeq = BinlogTextParser.fileSeq(basename)

    new Iterator[ParsedBinlogEvent] {
      // file-scoped decoder state
      private var curSchema = ""
      private var curTable = ""
      private var curGtid = ""
      // TABLE_MAP registry: table_id → (schema, table, col types, metadata)
      private val tableDefs =
        collection.mutable.Map.empty[Long, (String, String, Array[Int], Array[Int])]

      private var nextEv: ParsedBinlogEvent = _
      private var finished = false
      // the inner events of the last TransactionPayload container, in order
      private var inner: Iterator[BinlogFraming.Frame] = Iterator.empty

      override def hasNext: Boolean = {
        if (nextEv == null && !finished) advance()
        nextEv != null
      }

      override def next(): ParsedBinlogEvent = {
        if (!hasNext) throw new NoSuchElementException
        val e = nextEv; nextEv = null; e
      }

      private def stop(): Unit = {
        finished = true
        try in.close() catch { case _: java.io.IOException => () }
      }

      private def advance(): Unit =
        if (inner.hasNext) nextEv = buildEvent(inner.next())
        else if (frames.position >= endOffset) stop() // range exhausted (intra-file split)
        else frames.next() match {
          case f if f == null || f.torn => stop() // torn tail: drop the event
          case f =>
            nextEv = buildEvent(f)
            inner = f.innerEvents.iterator
        }

      /** One event's row. Inner events of a container carry no checksum
        * tail and share the file's decoder state (TABLE_MAP registry, GTID
        * scope). */
      private def buildEvent(f: BinlogFraming.Frame): ParsedBinlogEvent = {
        val typeCode = f.typeCode
        val ckLen = f.checksumLen
        val body = f.body
        val name = eventTypeNames.getOrElse(typeCode, s"Type$typeCode")
        var query = ""
        var xid: Option[Long] = None
        var gtidNext = ""
        var evSchema = ""
        var evTable = ""
        var rowImages: Seq[Seq[String]] = Nil
        val extra =
          if (withExtra) collection.mutable.LinkedHashMap.empty[String, String] else null
        def put(key: String, value: => String): Unit = if (extra != null) extra(key) = value
        put("server_id", f.serverId.toString)
        put("flags", f.flags.toString)

        // A malformed BODY degrades to a header-only event (the binary
        // analogue of the reference's warn-and-skip, P6) — the common
        // header already carried type/position/time, which is what the
        // comparison consumes.
        try typeCode match {
          case 15 => // FORMAT_DESCRIPTION: the framer tracks its checksum_alg
            if (f.checksumAlg >= 0) put("checksum_alg", f.checksumAlg.toString)
          case 2 => // QUERY: proxy_id u32, exec_time u32, schema_len u8,
            // error_code u16, status_len u16, status, schema, \0, query
            val proxyId = body.getInt & 0xFFFFFFFFL
            val execTime = body.getInt & 0xFFFFFFFFL
            val schemaLen = body.get & 0xFF
            val errorCode = body.getShort & 0xFFFF
            val statusLen = body.getShort & 0xFFFF
            body.position(body.position() + statusLen)
            val schemaBytes = new Array[Byte](schemaLen)
            body.get(schemaBytes)
            body.get() // trailing NUL
            val queryBytes = new Array[Byte](body.remaining() - ckLen)
            body.get(queryBytes)
            evSchema = new String(schemaBytes, "UTF-8")
            query = new String(queryBytes, "UTF-8")
            put("slave_proxy_id", proxyId.toString)
            put("execution_time", execTime.toString)
            put("error_code", errorCode.toString)
          case 16 => // XID: u64 transaction id; ends the transaction scope
            xid = Some(body.getLong)
          case 19 => // TABLE_MAP: table_id u48, flags u16, schema_len u8,
            // schema, \0, table_len u8, table, \0, col_count (packed),
            // col_types, metadata_len (packed), metadata, null_bitmap
            val tableId = readLittleEndian(body, 6)
            body.getShort // flags
            val sl = body.get & 0xFF
            val sb = new Array[Byte](sl); body.get(sb); body.get()
            val tl = body.get & 0xFF
            val tb = new Array[Byte](tl); body.get(tb); body.get()
            curSchema = new String(sb, "UTF-8")
            curTable = new String(tb, "UTF-8")
            evSchema = curSchema
            evTable = curTable
            put("tableid", tableId.toString)
            val colCount = readPackedLong(body).toInt
            val types = new Array[Int](colCount)
            var c = 0
            while (c < colCount) { types(c) = body.get & 0xFF; c += 1 }
            val metaLen = readPackedLong(body).toInt
            val metaEnd = body.position() + metaLen
            // validate every type code BEFORE consuming metadata — an
            // unknown code means the meta layout is uninterpretable, and
            // a width mismatch means it was misinterpreted; both must fail
            // this TABLE_MAP loudly (→ body_decode_error, no registration)
            val widths = types.map(metadataWidth)
            require(widths.sum == metaLen,
              s"TABLE_MAP metadata length $metaLen != expected ${widths.sum}")
            val meta = new Array[Int](colCount)
            c = 0
            while (c < colCount) {
              meta(c) = widths(c) match {
                case 0 => 0
                case 1 => body.get & 0xFF
                case 2 => body.getShort & 0xFFFF
              }
              c += 1
            }
            body.position(metaEnd)
            tableDefs(tableId) = (curSchema, curTable, types, meta)
            put("column_count", colCount.toString)
          case 33 | 34 => // GTID / ANONYMOUS_GTID: flags u8, sid 16B, gno u64
            body.get() // commit flag
            val sid = new Array[Byte](16); body.get(sid)
            val gno = body.getLong
            curGtid = if (typeCode == 33) s"${formatUuid(sid)}:$gno" else ""
            gtidNext = curGtid
          case 4 => // ROTATE: position u64, next file name
            val rpos = body.getLong
            val nb = new Array[Byte](body.remaining() - ckLen); body.get(nb)
            put("next_file", new String(nb, "UTF-8"))
            put("rotate_position", rpos.toString)
          case 23 | 24 | 25 | 30 | 31 | 32 => // ROWS v1/v2: table_id u48, flags u16
            val tableId = readLittleEndian(body, 6)
            body.getShort
            evSchema = curSchema
            evTable = curTable
            gtidNext = curGtid
            put("tableid", tableId.toString)
            // v2 adds a self-inclusive u16 extra-data length
            if (typeCode >= 30) {
              val extraLen = body.getShort & 0xFFFF
              if (extraLen > 2) body.position(body.position() + extraLen - 2)
            }
            if (withRowImages) {
              tableDefs.get(tableId).foreach { case (_, _, types, meta) =>
                val isUpdate = typeCode == 24 || typeCode == 31
                rowImages = decodeRowImages(body, types, meta, isUpdate, ckLen)
                put("n_row_images", rowImages.size.toString)
              }
            }
          case 29 => // ROWS_QUERY: 1-byte stored length (capped; readers
            // take the full body), then the original SQL of the row events
            body.get()
            val qb = new Array[Byte](body.remaining() - ckLen); body.get(qb)
            query = new String(qb, "UTF-8")
          case 5 => // INTVAR: type u8 (1 = LAST_INSERT_ID, 2 = INSERT_ID),
            // value u64 — session-variable context for the next statement
            val vtype = body.get & 0xFF
            val value = body.getLong
            put("intvar_type", vtype.toString)
            put("intvar_value", value.toString)
          case 40 => // TRANSACTION_PAYLOAD: the framer unpacked it
            if (f.payloadError != null)
              put("body_decode_error", f.payloadError.getClass.getSimpleName)
            else {
              put("compression_type", f.payload.compression.toString)
              put("payload_bytes", f.payload.payloadBytes.toString)
              if (f.payload.uncompressedSize >= 0)
                put("uncompressed_size", f.payload.uncompressedSize.toString)
            }
          case _ => () // header-only decode for everything else
        } catch {
          case e: RuntimeException =>
            put("body_decode_error", e.getClass.getSimpleName)
        }
        if (f.inPayload) put("in_payload", "1")

        val rfc = Instant.ofEpochSecond(f.timestamp).atOffset(ZoneOffset.UTC)
          .format(DateTimeFormatter.ISO_OFFSET_DATE_TIME)
        val ev = ParsedBinlogEvent(
          event_type = name,
          timestamp = rfc,
          immediate_commmit_timestamp = "",
          orignal_commmit_timestamp = "",
          log_position = Some(f.endLogPos),
          table = evTable,
          schema = evSchema,
          query = query,
          gtid_next = gtidNext,
          xid = xid,
          binlog_file = basename,
          file_seq = fileSeq,
          event_index = f.index,
          extra = if (extra == null) Map.empty else extra.toMap,
          row_images = rowImages)
        if (typeCode == 16) curGtid = "" // XID closes the transaction
        ev
      }
    }
  }

  /** Bytes of per-column metadata in TABLE_MAP for a column type (the
    * public table from the MySQL row-based-replication format). The match
    * is exhaustive over known types on purpose: an unknown type code must
    * FAIL the TABLE_MAP decode (→ `body_decode_error`, no table
    * registration) rather than default to 0 and silently misalign every
    * later column's metadata — the silent-wrong-decode hazard ADVICE r2/r3
    * flagged for BIT/JSON/GEOMETRY, which are now covered. */
  private def metadataWidth(t: Int): Int = t match {
    case 4 | 5 => 1               // FLOAT / DOUBLE: value width
    case 249 | 250 | 251 | 252 => 1 // TINY/MEDIUM/LONG_/BLOB: length-prefix width
    case 245 | 255 => 1           // JSON / GEOMETRY: length-prefix width
    case 15 | 253 => 2            // VARCHAR / VAR_STRING: max length
    case 246 => 2                 // NEWDECIMAL: precision + scale
    case 254 | 247 | 248 => 2     // STRING / ENUM / SET: [real_type, pack_len]
    case 16 => 2                  // BIT: [bits % 8, bytes]
    case 17 | 18 | 19 => 1        // TIMESTAMP2 / DATETIME2 / TIME2: fsp
    case 0 | 1 | 2 | 3 | 6 | 7 | 8 | 9 | 10 | 11 | 12 | 13 | 14 => 0
      // DECIMAL, TINY..INT24, NULL, TIMESTAMP, DATE, TIME, DATETIME,
      // YEAR, NEWDATE: no metadata
    case other => throw new IllegalArgumentException(
      s"unknown column type $other in TABLE_MAP metadata")
  }

  private def bit(bitmap: Array[Byte], i: Int): Boolean =
    (bitmap(i / 8) >> (i % 8) & 1) == 1

  private def readBigEndian(b: ByteBuffer, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v = (v << 8) | (b.get & 0xFFL); i += 1 }
    v
  }

  private def readLittleEndian(b: ByteBuffer, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v |= (b.get & 0xFFL) << (8 * i); i += 1 }
    v
  }

  /** Fractional-seconds part of TIMESTAMP2/DATETIME2 as microseconds:
    * ceil(fsp/2) big-endian bytes holding the fraction in 10^-(2·bytes). */
  private def readFrac(b: ByteBuffer, fsp: Int): Long = {
    val nBytes = (fsp + 1) / 2
    if (nBytes == 0) 0L
    else {
      val raw = readBigEndian(b, nBytes)
      raw * math.pow(10, 6 - 2 * nBytes).toLong
    }
  }

  /** Bytes needed for a partial digit group (MySQL decimal packing). */
  private val dig2bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

  /** MySQL NEWDECIMAL: base-10^9 groups of 4 bytes big-endian with
    * compressed leading/trailing partial groups; sign = MSB of the first
    * byte (negative values stored bitwise-inverted). */
  private def decodeNewDecimal(b: ByteBuffer, precision: Int, scale: Int): String = {
    val intDigits = precision - scale
    val nBytes = (intDigits / 9) * 4 + dig2bytes(intDigits % 9) +
      (scale / 9) * 4 + dig2bytes(scale % 9)
    val raw = new Array[Byte](nBytes)
    b.get(raw)
    val negative = (raw(0) & 0x80) == 0
    if (negative) { var i = 0; while (i < nBytes) { raw(i) = (~raw(i)).toByte; i += 1 } }
    raw(0) = (raw(0) ^ 0x80).toByte
    val rb = ByteBuffer.wrap(raw)

    val sb = new StringBuilder
    val lead = intDigits % 9
    if (lead > 0) sb.append(readBigEndian(rb, dig2bytes(lead)).toString)
    (0 until intDigits / 9).foreach { _ =>
      val g = readBigEndian(rb, 4)
      sb.append(if (sb.isEmpty) g.toString else f"$g%09d")
    }
    val intPart = {
      val t = sb.toString.dropWhile(_ == '0')
      if (t.isEmpty) "0" else t
    }
    val fb = new StringBuilder
    (0 until scale / 9).foreach(_ => fb.append(f"${readBigEndian(rb, 4)}%09d"))
    val tail = scale % 9
    if (tail > 0) {
      val g = readBigEndian(rb, dig2bytes(tail))
      fb.append(("%0" + tail + "d").format(g))
    }
    (if (negative) "-" else "") + intPart + (if (scale > 0) "." + fb else "")
  }

  /** Decode the row images of one ROWS event. `isUpdate` events carry a
    * second present-columns bitmap and alternate before/after images.
    * Supported value types: the integer family, FLOAT/DOUBLE and
    * VARCHAR/VAR_STRING — anything else aborts this event's row decode
    * (caught upstream → header-only event with `body_decode_error`). */
  private def decodeRowImages(
      body: ByteBuffer, types: Array[Int], meta: Array[Int],
      isUpdate: Boolean, checksumLen: Int): Seq[Seq[String]] = {
    val width = readPackedLong(body).toInt
    val bmLen = (width + 7) / 8
    val present1 = new Array[Byte](bmLen); body.get(present1)
    val present2 =
      if (isUpdate) { val a = new Array[Byte](bmLen); body.get(a); a }
      else present1

    // present-column sets are per-EVENT constants — computed once here,
    // not per row image
    // a corrupted length prefix must fail the decode (→ body_decode_error),
    // not attempt a multi-GB allocation (OutOfMemoryError would escape the
    // RuntimeException catch and kill the task)
    def readSized(len: Long): Array[Byte] = {
      require(len >= 0 && len <= body.remaining(),
        s"declared length $len exceeds body (${body.remaining()} left)")
      val s = new Array[Byte](len.toInt); body.get(s)
      s
    }

    def presentCols(bm: Array[Byte]): Array[Int] =
      (0 until width).filter(bit(bm, _)).toArray
    val cols1 = presentCols(present1)
    val cols2 = if (isUpdate) presentCols(present2) else cols1

    def readValue(t: Int, m: Int): String = t match {
      case 1 => body.get.toString                               // TINY
      case 2 => body.getShort.toString                          // SHORT
      case 9 =>                                                 // INT24
        val v = (body.get & 0xFF) | ((body.get & 0xFF) << 8) | (body.get.toInt << 16)
        v.toString
      case 3 => body.getInt.toString                            // LONG
      case 8 => body.getLong.toString                           // LONGLONG
      case 4 => body.getFloat.toString                          // FLOAT
      case 5 => body.getDouble.toString                         // DOUBLE
      case 15 | 253 =>                                          // VARCHAR
        val len = if (m < 256) body.get & 0xFF else body.getShort & 0xFFFF
        val s = new Array[Byte](len); body.get(s)
        new String(s, "UTF-8")
      case 17 =>                                                // TIMESTAMP2
        // 4 bytes BIG-endian unix seconds + ceil(fsp/2) fractional bytes;
        // stringified as epoch seconds with 6 fractional digits when fsp>0
        val sec = readBigEndian(body, 4)
        val micros = readFrac(body, m)
        if (m == 0) sec.toString else sec.toString + "." + f"$micros%06d"
      case 18 =>                                                // DATETIME2
        // 5 bytes BIG-endian packed: sign(1) yearMonth(17) day(5)
        // hour(5) minute(6) second(6), then fractional like TIMESTAMP2
        val packed = readBigEndian(body, 5) - 0x8000000000L
        val ym = (packed >> 22) & 0x1FFFF
        val year = ym / 13; val month = ym % 13
        val day = (packed >> 17) & 0x1F
        val hour = (packed >> 12) & 0x1F
        val minute = (packed >> 6) & 0x3F
        val second = packed & 0x3F
        val micros = readFrac(body, m)
        val base = f"$year%04d-$month%02d-$day%02d $hour%02d:$minute%02d:$second%02d"
        if (m == 0) base else base + "." + f"$micros%06d"
      case 19 =>                                                // TIME2
        // 3+ceil(fsp/2) bytes BIG-endian: ONE offset-binary number
        // (integer part bit-packed hour(10) min(6) sec(6), fraction in
        // the low bytes) — negatives store the whole value's complement,
        // so integer and fraction must be decoded together
        val fb = (m + 1) / 2
        val raw = readBigEndian(body, 3 + fb)
        val signed = raw - (0x800000L << (8 * fb))
        val neg = signed < 0
        val mag = math.abs(signed)
        val packed = mag >> (8 * fb)
        val fracRaw = if (fb == 0) 0L else mag & ((1L << (8 * fb)) - 1)
        val micros = fracRaw * math.pow(10, 6 - 2 * fb).toLong
        val base = f"${(packed >> 12) & 0x3FF}%02d:${(packed >> 6) & 0x3F}%02d:${packed & 0x3F}%02d"
        (if (neg) "-" else "") + (if (m == 0) base else base + "." + f"$micros%06d")
      case 10 | 14 =>                                           // DATE / NEWDATE
        // 3 bytes little-endian packed: day(5) month(4) year(rest)
        val v = readLittleEndian(body, 3)
        f"${v >> 9}%04d-${(v >> 5) & 0xF}%02d-${v & 0x1F}%02d"
      case 7 =>                                                 // TIMESTAMP (v1)
        // 4 bytes little-endian unix seconds (pre-5.6.4 storage)
        readLittleEndian(body, 4).toString
      case 12 =>                                                // DATETIME (v1)
        // 8 bytes little-endian: the decimal number YYYYMMDDHHMMSS
        val v = readLittleEndian(body, 8)
        val (d, t) = (v / 1000000L, v % 1000000L)
        f"${d / 10000}%04d-${(d / 100) % 100}%02d-${d % 100}%02d " +
          f"${t / 10000}%02d:${(t / 100) % 100}%02d:${t % 100}%02d"
      case 11 =>                                                // TIME (v1)
        // 3 bytes little-endian: the decimal number HHMMSS
        val v = readLittleEndian(body, 3)
        f"${v / 10000}%02d:${(v / 100) % 100}%02d:${v % 100}%02d"
      case 13 =>                                                // YEAR
        val v = body.get & 0xFF
        if (v == 0) "0000" else (1900 + v).toString
      case 246 =>                                               // NEWDECIMAL
        decodeNewDecimal(body, precision = m & 0xFF, scale = (m >> 8) & 0xFF)
      case 249 | 250 | 251 | 252 =>                             // BLOB/TEXT
        // m = width of the little-endian length prefix (1..4 bytes)
        val s = readSized(readLittleEndian(body, m))
        new String(s, "UTF-8")
      case 245 =>                                               // JSON
        // m = length-prefix width; payload is MySQL binary JSON,
        // rendered to compact JSON text
        JsonBinary.decode(readSized(readLittleEndian(body, m)))
      case 255 =>                                               // GEOMETRY
        // m = length-prefix width; payload is WKB (SRID + geometry),
        // surfaced as lowercase hex — the comparison treats it opaquely
        hex(readSized(readLittleEndian(body, m)))
      case 16 =>                                                // BIT
        // m = [bits % 8, whole bytes]; value is ceil(bits/8) bytes
        // BIG-endian, surfaced as an unsigned integer
        val bitLen = m & 0xFF
        val nBytes = ((m >> 8) & 0xFF) + (if (bitLen > 0) 1 else 0)
        readBigEndian(body, nBytes).toString
      case 254 =>
        // STRING carries the REAL type in metadata byte 0 (ENUM/SET
        // columns reach the binlog as type 254): byte0 = real type with
        // two high length bits folded into ~0x30, byte1 = pack length.
        val m0 = m & 0xFF
        val m1 = (m >> 8) & 0xFF
        val (realType, packLen) =
          if ((m0 & 0x30) != 0x30) ((m0 | 0x30), m1 | (((m0 & 0x30) ^ 0x30) << 4))
          else (m0, m1)
        realType match {
          case 247 => // ENUM: 1- or 2-byte little-endian ordinal (1-based)
            readLittleEndian(body, packLen).toString
          case 248 => // SET: little-endian member bitmask
            readLittleEndian(body, packLen).toString
          case _ =>   // CHAR: length-prefixed like VARCHAR
            val len = if (packLen < 256) body.get & 0xFF else body.getShort & 0xFFFF
            val s = new Array[Byte](len); body.get(s)
            new String(s, "UTF-8")
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported column type $other")
    }

    def readImage(cols: Array[Int]): Seq[String] = {
      val nullBm = new Array[Byte]((cols.length + 7) / 8)
      body.get(nullBm)
      val out = new Array[String](cols.length)
      var ord = 0
      while (ord < cols.length) {
        out(ord) = if (bit(nullBm, ord)) null else readValue(types(cols(ord)), meta(cols(ord)))
        ord += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }

    val end = body.limit() - checksumLen
    val out = collection.mutable.ArrayBuffer.empty[Seq[String]]
    var useSecond = false
    while (body.position() < end) {
      out += readImage(if (useSecond) cols2 else cols1)
      if (isUpdate) useSecond = !useSecond
    }
    out.toSeq
  }

  /** MySQL binary JSON (the public `JSON` storage/replication format:
    * type byte + value; small/large objects and arrays with
    * offset-or-inline value entries; varlen-prefixed strings) rendered to
    * compact JSON text — no whitespace, keys in stored order — so the
    * output is deterministic cross-engine. Reference surfaces JSON row
    * columns through its external decoder (`/root/reference/README.md:
    * 35-52`); here the document is decoded natively. */
  private[ingest] object JsonBinary {

    def decode(d: Array[Byte]): String = {
      if (d.isEmpty) return "null"
      val sb = new StringBuilder
      value(d, d(0) & 0xFF, 1, sb)
      sb.toString
    }

    private def readLE(d: Array[Byte], off: Int, n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v |= (d(off + i) & 0xFFL) << (8 * i); i += 1 }
      v
    }

    /** Variable-length length: 7 data bits per byte (low bits first),
      * high bit = continuation. Returns (length, next offset). */
    private def varlen(d: Array[Byte], off0: Int): (Int, Int) = {
      var len = 0L; var off = off0; var shift = 0; var cont = true
      while (cont) {
        val b = d(off) & 0xFF
        len |= (b & 0x7FL) << shift
        shift += 7; off += 1; cont = (b & 0x80) != 0
      }
      (len.toInt, off)
    }

    private def escape(s: String): String = {
      val sb = new StringBuilder
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.toString
    }

    /** Render the value of binary type `t` whose payload starts at
      * absolute offset `off`. */
    private def value(d: Array[Byte], t: Int, off: Int, sb: StringBuilder): Unit =
      t match {
        case 0x00 | 0x01 => container(d, off, large = t == 0x01, isObj = true, sb)
        case 0x02 | 0x03 => container(d, off, large = t == 0x03, isObj = false, sb)
        case 0x04 => sb.append((d(off) & 0xFF) match {
          case 1 => "true"; case 2 => "false"; case _ => "null"
        })
        case 0x05 => sb.append(readLE(d, off, 2).toShort.toString)
        case 0x06 => sb.append((readLE(d, off, 2) & 0xFFFF).toString)
        case 0x07 => sb.append(readLE(d, off, 4).toInt.toString)
        case 0x08 => sb.append((readLE(d, off, 4) & 0xFFFFFFFFL).toString)
        case 0x09 => sb.append(readLE(d, off, 8).toString)
        case 0x0a => sb.append(java.lang.Long.toUnsignedString(readLE(d, off, 8)))
        case 0x0b =>
          sb.append(java.lang.Double.longBitsToDouble(readLE(d, off, 8)).toString)
        case 0x0c =>
          val (len, p) = varlen(d, off)
          sb.append('"').append(escape(new String(d, p, len, "UTF-8"))).append('"')
        case other =>
          throw new IllegalArgumentException(s"unsupported JSON binary type $other")
      }

    /** Objects/arrays: header (count, size), then for objects a key-entry
      * table (offset + length), then value entries — each a type byte plus
      * either an inline scalar or an offset relative to the container
      * start (`base`). Small containers use 2-byte words, large 4-byte;
      * int32/uint32 inline only in large. */
    private def container(d: Array[Byte], base: Int, large: Boolean,
        isObj: Boolean, sb: StringBuilder): Unit = {
      val w = if (large) 4 else 2
      val count = readLE(d, base, w).toInt
      val keyTable = base + 2 * w
      val valTable = keyTable + (if (isObj) count * (w + 2) else 0)
      sb.append(if (isObj) '{' else '[')
      var i = 0
      while (i < count) {
        if (i > 0) sb.append(',')
        if (isObj) {
          val ke = keyTable + i * (w + 2)
          val keyOff = readLE(d, ke, w).toInt
          val keyLen = readLE(d, ke + w, 2).toInt
          sb.append('"').append(escape(new String(d, base + keyOff, keyLen, "UTF-8")))
            .append("\":")
        }
        val ve = valTable + i * (w + 1)
        val vt = d(ve) & 0xFF
        val inline = vt == 0x04 || vt == 0x05 || vt == 0x06 ||
          (large && (vt == 0x07 || vt == 0x08))
        if (inline) value(d, vt, ve + 1, sb)
        else value(d, vt, base + readLE(d, ve + 1, w).toInt, sb)
        i += 1
      }
      sb.append(if (isObj) '}' else ']')
    }
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of `bytes`, two digits per byte. */
  private[graft] def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexDigits((bytes(i) >> 4) & 0xF)
      out(2 * i + 1) = HexDigits(bytes(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** A GTID's 16 server-id bytes as the server uuid, 8-4-4-4-12. */
  private[graft] def formatUuid(sid: Array[Byte]): String = {
    val h = hex(sid)
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20)}"
  }

  /** Input-order sequence column — same contract as the text parser's. */
  def seqColumn: org.apache.spark.sql.Column = BinlogTextParser.seqColumn
}
