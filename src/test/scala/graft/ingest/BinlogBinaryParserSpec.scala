package graft.ingest

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** S1 — raw binlog binary decode: synthetic v4 binlog files built
  * byte-for-byte per the public format, decoded to ParsedBinlogEvent and
  * flowed through the full comparator.
  */
class BinlogBinaryParserSpec extends AnyFunSuite with SparkTestSession {

  // ---- binary fixture builder -------------------------------------------

  private class FileBuilder {
    private val out = new ByteArrayOutputStream()
    out.write(BinlogBinaryParser.Magic)
    private var logPos = 4L

    def event(tsSec: Long, typeCode: Int, body: Array[Byte],
        serverId: Long = 1, flags: Int = 0): Long = {
      val size = 19 + body.length
      logPos += size
      val h = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
      h.putInt(tsSec.toInt).put(typeCode.toByte).putInt(serverId.toInt)
        .putInt(size).putInt(logPos.toInt).putShort(flags.toShort)
      out.write(h.array())
      out.write(body)
      logPos
    }

    def bytes: Array[Byte] = out.toByteArray
  }

  private def le(n: Int, width: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(n.toLong)
    b.array().take(width)
  }

  private def queryBody(schema: String, sql: String): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(le(7, 4))                      // slave_proxy_id
    o.write(le(0, 4))                      // execution_time
    o.write(schema.length)                 // schema_len
    o.write(le(0, 2))                      // error_code
    o.write(le(0, 2))                      // status_vars_len (none)
    o.write(schema.getBytes("UTF-8")); o.write(0)
    o.write(sql.getBytes("UTF-8"))
    o.toByteArray
  }

  private def tableMapBody(tableId: Long, schema: String, table: String): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    (0 until 6).foreach(i => o.write(((tableId >> (8 * i)) & 0xFF).toInt))
    o.write(le(0, 2))                      // flags
    o.write(schema.length); o.write(schema.getBytes("UTF-8")); o.write(0)
    o.write(table.length); o.write(table.getBytes("UTF-8")); o.write(0)
    o.write(1)                             // column count (packed int, 1 byte)
    o.write(3)                             // column type: MYSQL_TYPE_LONG
    o.write(0)                             // metadata length (LONG has none)
    o.write(0)                             // null bitmap
    o.toByteArray
  }

  /** One-column (LONG) rows body with one int image per value. */
  private def rowsBody(tableId: Long, values: Int*): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    (0 until 6).foreach(i => o.write(((tableId >> (8 * i)) & 0xFF).toInt))
    o.write(le(0, 2))                      // flags
    o.write(le(2, 2))                      // v2 extra-data length (just itself)
    o.write(1)                             // width (packed)
    o.write(0x01)                          // columns-present bitmap
    values.foreach { v =>
      o.write(0x00)                        // null bitmap: value present
      o.write(le(v, 4))
    }
    o.toByteArray
  }

  private def gtidBody(sid: Array[Byte], gno: Long): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(1)                             // commit flag
    o.write(sid)
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(gno)
    o.write(b.array())
    o.toByteArray
  }

  private def xidBody(xid: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(xid).array()

  private val T0 = 1714564800L // 2024-05-01T12:00:00Z

  private def buildFixture(): Array[Byte] = {
    val f = new FileBuilder
    f.event(T0, 15, new Array[Byte](84))   // FORMAT_DESCRIPTION (body unused)
    val sid = (1 to 16).map(_.toByte).toArray
    f.event(T0, 33, gtidBody(sid, 42))     // GTID uuid:42
    f.event(T0, 2, queryBody("shop", "BEGIN"))
    f.event(T0, 19, tableMapBody(7, "shop", "orders"))
    f.event(T0 + 1, 30, rowsBody(7, 42))   // WRITE_ROWS v2, one image
    f.event(T0 + 1, 16, xidBody(777))      // XID
    f.event(T0 + 2, 19, tableMapBody(8, "shop", "items"))
    f.event(T0 + 2, 32, rowsBody(8, 7))    // DELETE_ROWS v2 (no GTID scope now)
    f.bytes
  }

  test("decodes the v4 event chain with stateful table/gtid association") {
    val evs = BinlogBinaryParser.decodeFile(buildFixture(), "mysql-bin.000007").toSeq
    assert(evs.map(_.event_type) == Seq("FormatDescription", "Gtid", "Query",
      "TableMap", "WriteRowsEventV2", "XID", "TableMap", "DeleteRowsEventV2"))

    val write = evs(4)
    assert(write.schema == "shop" && write.table == "orders")
    assert(write.gtid_next == "01020304-0506-0708-090a-0b0c0d0e0f10:42")
    assert(write.timestamp == "2024-05-01T12:00:01Z")
    assert(write.binlog_file == "mysql-bin.000007" && write.file_seq.contains(7L))

    // log_position is the END position, cumulative from offset 4
    assert(evs.head.log_position.contains(4L + 19 + 84))
    assert(evs.map(_.event_index) == (0L to 7L))

    val q = evs(2)
    assert(q.query == "BEGIN" && q.schema == "shop")
    assert(evs(5).xid.contains(777L))

    // XID closed the gtid scope: the second rows event carries none
    val del = evs(7)
    assert(del.gtid_next == "" && del.table == "items")

    // row images decoded through the TABLE_MAP registry
    assert(write.row_images == Seq(Seq("42")))
    assert(del.row_images == Seq(Seq("7")))
  }

  test("GTID server uuid: sid bytes 0x80-0xFF render as unsigned hex") {
    // high bit set in every byte: 80 8f 90 9f … f0 ff
    val sid = (0 until 16).map(i => (0x80 + (i / 2) * 16 + (i % 2) * 15).toByte).toArray
    val f = new FileBuilder
    f.event(T0, 15, new Array[Byte](84))
    f.event(T0, 33, gtidBody(sid, 9))
    f.event(T0, 19, tableMapBody(7, "shop", "orders"))
    f.event(T0, 30, rowsBody(7, 1))
    val write = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000001").toSeq(3)
    val b = ByteBuffer.wrap(sid)
    val uuid = new java.util.UUID(b.getLong, b.getLong).toString
    assert(uuid == "808f909f-a0af-b0bf-c0cf-d0dfe0eff0ff")
    assert(write.gtid_next == s"$uuid:9")
  }

  test("hex renders every byte value as the per-byte %02x formatter does") {
    val all = (0 until 256).map(_.toByte).toArray
    assert(BinlogBinaryParser.hex(all) == all.map(b => f"${b & 0xFF}%02x").mkString)
    // the signed form index shard names were built with
    assert(BinlogBinaryParser.hex(all) == all.map(b => f"$b%02x").mkString)
  }

  test("decodes multi-type row images incl. NULLs and UPDATE before/after") {
    val f = new FileBuilder
    f.event(T0, 15, new Array[Byte](84))
    // 3 columns: LONG, VARCHAR(max 20), DOUBLE
    val tm = {
      val o = new ByteArrayOutputStream()
      (0 until 6).foreach(i => o.write(((9L >> (8 * i)) & 0xFF).toInt))
      o.write(le(0, 2))
      o.write(4); o.write("shop".getBytes("UTF-8")); o.write(0)
      o.write(1); o.write("t".getBytes("UTF-8")); o.write(0)
      o.write(3)                           // column count
      o.write(3); o.write(15); o.write(5)  // LONG, VARCHAR, DOUBLE
      o.write(3)                           // metadata length
      o.write(le(20, 2))                   // VARCHAR max length
      o.write(8)                           // DOUBLE width
      o.write(0)                           // null bitmap
      o.toByteArray
    }
    f.event(T0, 19, tm)

    def img(id: Option[Int], name: Option[String], score: Option[Double]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      var nulls = 0
      if (id.isEmpty) nulls |= 1
      if (name.isEmpty) nulls |= 2
      if (score.isEmpty) nulls |= 4
      o.write(nulls)
      id.foreach(v => o.write(le(v, 4)))
      name.foreach { s => o.write(s.length); o.write(s.getBytes("UTF-8")) }
      score.foreach { d =>
        val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(d)
        o.write(b.array())
      }
      o.toByteArray
    }
    def rows(typeCode: Int, bitmaps: Int, images: Array[Byte]*): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      (0 until 6).foreach(i => o.write(((9L >> (8 * i)) & 0xFF).toInt))
      o.write(le(0, 2)); o.write(le(2, 2)) // flags + v2 extra len
      o.write(3)                           // width
      (0 until bitmaps).foreach(_ => o.write(0x07)) // present bitmaps
      images.foreach(o.write)
      o.toByteArray
    }
    // WRITE: two images, second with NULL name
    f.event(T0 + 1, 30, rows(30, 1,
      img(Some(1), Some("ab"), Some(2.5)),
      img(Some(2), None, Some(-1.0))))
    // UPDATE: before/after pair
    f.event(T0 + 2, 31, rows(31, 2,
      img(Some(1), Some("ab"), Some(2.5)),
      img(Some(1), Some("xy"), Some(9.0))))

    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000002").toSeq
    val write = evs(2)
    assert(write.event_type == "WriteRowsEventV2")
    assert(write.row_images == Seq(
      Seq("1", "ab", "2.5"), Seq("2", null, "-1.0")))
    val upd = evs(3)
    assert(upd.event_type == "UpdateRowsEventV2")
    assert(upd.row_images == Seq(
      Seq("1", "ab", "2.5"), Seq("1", "xy", "9.0")))
    assert(upd.extra("n_row_images") == "2")
    assert(!write.extra.contains("body_decode_error"))
  }

  test("decodes TIMESTAMP2/DATETIME2 row columns") {
    val f = new FileBuilder
    f.event(T0, 15, new Array[Byte](84))
    val tm = {
      val o = new ByteArrayOutputStream()
      (0 until 6).foreach(i => o.write(((3L >> (8 * i)) & 0xFF).toInt))
      o.write(le(0, 2))
      o.write(1); o.write("s".getBytes); o.write(0)
      o.write(1); o.write("t".getBytes); o.write(0)
      o.write(2)                            // 2 columns
      o.write(17); o.write(18)              // TIMESTAMP2, DATETIME2
      o.write(2)                            // metadata length
      o.write(3)                            // ts fsp=3
      o.write(0)                            // dt fsp=0
      o.write(0)                            // null bitmap
      o.toByteArray
    }
    f.event(T0, 19, tm)
    val rows = {
      val o = new ByteArrayOutputStream()
      (0 until 6).foreach(i => o.write(((3L >> (8 * i)) & 0xFF).toInt))
      o.write(le(0, 2)); o.write(le(2, 2))
      o.write(2); o.write(0x03)             // width 2, both present
      o.write(0x00)                         // null bitmap
      // TIMESTAMP2 fsp=3: 4B BE seconds + 2B BE fraction (units of 1e-4 s)
      o.write(Array[Byte](
        ((T0 >> 24) & 0xFF).toByte, ((T0 >> 16) & 0xFF).toByte,
        ((T0 >> 8) & 0xFF).toByte, (T0 & 0xFF).toByte))
      o.write(Array[Byte](0x04, 0xD2.toByte)) // 1234 -> .123400
      // DATETIME2 fsp=0: 2024-05-01 12:34:56
      val ym = 2024L * 13 + 5
      val packed = 0x8000000000L | (ym << 22) | (1L << 17) | (12L << 12) | (34L << 6) | 56L
      o.write((0 until 5).reverse.map(i => ((packed >> (8 * i)) & 0xFF).toByte).toArray)
      o.toByteArray
    }
    f.event(T0 + 1, 30, rows)
    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000004").toSeq
    assert(evs(2).row_images == Seq(Seq(s"$T0.123400", "2024-05-01 12:34:56")))
  }

  test("decodes BLOB/TEXT row columns (2-byte length prefix)") {
    val f = new FileBuilder
    f.event(T0, 15, new Array[Byte](84))
    val tm = {
      val o = new ByteArrayOutputStream()
      (0 until 6).foreach(i => o.write(((6L >> (8 * i)) & 0xFF).toInt))
      o.write(le(0, 2))
      o.write(1); o.write("s".getBytes); o.write(0)
      o.write(1); o.write("t".getBytes); o.write(0)
      o.write(1); o.write(252)            // one BLOB column
      o.write(1); o.write(2)              // metadata: 2-byte length prefix
      o.write(0)
      o.toByteArray
    }
    f.event(T0, 19, tm)
    val payload = "hello blob"
    val rows = {
      val o = new ByteArrayOutputStream()
      (0 until 6).foreach(i => o.write(((6L >> (8 * i)) & 0xFF).toInt))
      o.write(le(0, 2)); o.write(le(2, 2))
      o.write(1); o.write(0x01); o.write(0x00)
      o.write(le(payload.length, 2))
      o.write(payload.getBytes("UTF-8"))
      o.toByteArray
    }
    f.event(T0 + 1, 30, rows)
    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000006").toSeq
    assert(evs(2).row_images == Seq(Seq(payload)))
  }

  test("decodes NEWDECIMAL row columns (sign, group packing)") {
    def file(metaPrecision: Int, metaScale: Int, value: Array[Byte]): Seq[Seq[String]] = {
      val f = new FileBuilder
      f.event(T0, 15, new Array[Byte](84))
      val tm = {
        val o = new ByteArrayOutputStream()
        (0 until 6).foreach(i => o.write(((4L >> (8 * i)) & 0xFF).toInt))
        o.write(le(0, 2))
        o.write(1); o.write("s".getBytes); o.write(0)
        o.write(1); o.write("t".getBytes); o.write(0)
        o.write(1); o.write(246)            // one NEWDECIMAL column
        o.write(2); o.write(metaPrecision); o.write(metaScale)
        o.write(0)
        o.toByteArray
      }
      f.event(T0, 19, tm)
      val rows = {
        val o = new ByteArrayOutputStream()
        (0 until 6).foreach(i => o.write(((4L >> (8 * i)) & 0xFF).toInt))
        o.write(le(0, 2)); o.write(le(2, 2))
        o.write(1); o.write(0x01); o.write(0x00)
        o.write(value)
        o.toByteArray
      }
      f.event(T0 + 1, 30, rows)
      BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000005").toSeq(2).row_images
    }

    // DECIMAL(10,2) = 1234567.89: int part 0x0012D687|sign, frac 0x59
    assert(file(10, 2, Array(0x80.toByte, 0x12, 0xD6.toByte, 0x87.toByte, 0x59))
      == Seq(Seq("1234567.89")))
    // negative: all bytes inverted
    assert(file(10, 2, Array(0x7F, 0xED.toByte, 0x29, 0x78, 0xA6.toByte))
      == Seq(Seq("-1234567.89")))
    // DECIMAL(20,6) = 12345123456789.654321 (partial + full int groups)
    assert(file(20, 6, Array(
      0x80.toByte, 0x30, 0x39,                       // lead "12345"
      0x07, 0x5B, 0xCD.toByte, 0x15,                 // group "123456789"
      0x09, 0xFB.toByte, 0xF1.toByte))               // frac "654321"
      == Seq(Seq("12345123456789.654321")))
  }

  test("CRC32-checksummed files: 4-byte tails excluded from every body") {
    val f = new FileBuilder
    // FDE declaring checksum alg 1: body ends [alg, crc32x4]
    val fde = new Array[Byte](84)
    fde(84 - 5) = 1
    f.event(T0, 15, fde)
    def ck(body: Array[Byte]): Array[Byte] =
      body ++ Array[Byte](0x11, 0x22, 0x33, 0x44) // unverified CRC tail
    f.event(T0, 2, ck(queryBody("shop", "BEGIN")))
    f.event(T0, 19, ck(tableMapBody(7, "shop", "orders")))
    f.event(T0 + 1, 30, ck(rowsBody(7, 42, 43)))
    f.event(T0 + 1, 16, ck(xidBody(9)))

    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000003").toSeq
    assert(evs.head.extra("checksum_alg") == "1")
    val q = evs(1)
    assert(q.query == "BEGIN", s"CRC bytes leaked into query: '${q.query}'")
    val w = evs(3)
    assert(w.row_images == Seq(Seq("42"), Seq("43")),
      "CRC tail misread as a row image")
    assert(!w.extra.contains("body_decode_error"))
    assert(evs(4).xid.contains(9L))
  }

  test("bad magic fails loudly; truncated tail stops cleanly") {
    intercept[IllegalArgumentException] {
      BinlogBinaryParser.decodeFile("nope".getBytes, "f").toSeq
    }
    val truncated = buildFixture().dropRight(5)
    val evs = BinlogBinaryParser.decodeFile(truncated, "mysql-bin.000007").toSeq
    assert(evs.size == 7) // last event dropped, no crash
  }

  test("malformed event body degrades to header-only, stream continues") {
    val f = new FileBuilder
    // QUERY event whose declared schema_len exceeds the body
    val bad = Array[Byte](0, 0, 0, 0, 0, 0, 0, 0, 99 /* schema_len */, 0, 0)
    f.event(T0, 2, bad)
    f.event(T0, 16, xidBody(5))
    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000001").toSeq
    assert(evs.size == 2)
    assert(evs.head.event_type == "Query" && evs.head.query == "")
    assert(evs.head.extra.contains("body_decode_error"))
    assert(evs(1).xid.contains(5L)) // decode continued past the bad body
  }

  test("invariants hold over randomized event chains (generative)") {
    val rnd = new scala.util.Random(42)
    (1 to 25).foreach { trial =>
      val f = new FileBuilder
      f.event(T0, 15, new Array[Byte](84))
      var expectedRows = List.empty[Seq[Seq[String]]]
      var nEvents = 1
      var mapped = false
      (0 until 1 + rnd.nextInt(20)).foreach { i =>
        rnd.nextInt(4) match {
          case 0 =>
            f.event(T0 + i, 19, tableMapBody(5, "s", "t")); mapped = true
            nEvents += 1
          case 1 if mapped =>
            val vals = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(1000))
            f.event(T0 + i, 30, rowsBody(5, vals: _*))
            expectedRows ::= vals.map(v => Seq(v.toString))
            nEvents += 1
          case 2 =>
            f.event(T0 + i, 16, xidBody(rnd.nextLong())); nEvents += 1
          case _ =>
            f.event(T0 + i, 2, queryBody("s", s"Q$i")); nEvents += 1
        }
      }
      val evs = BinlogBinaryParser.decodeFile(f.bytes, s"mysql-bin.$trial").toSeq
      // every event decoded, in order, with strictly increasing end positions
      assert(evs.size == nEvents)
      val positions = evs.flatMap(_.log_position)
      assert(positions == positions.sorted && positions.distinct == positions)
      assert(evs.map(_.event_index) == (0L until nEvents.toLong))
      // no decode errors anywhere, and row images match what was written
      assert(evs.forall(e => !e.extra.contains("body_decode_error")))
      val gotRows = evs.filter(_.event_type == "WriteRowsEventV2").map(_.row_images)
      assert(gotRows == expectedRows.reverse)
      // every rows event after a TABLE_MAP carries its table name
      assert(evs.filter(_.event_type == "WriteRowsEventV2").forall(_.table == "t"))
    }
  }

  test("binary source drives the full comparison end to end") {
    val dir = Files.createTempDirectory("binbin").toFile
    Files.write(new java.io.File(dir, "mysql-bin.000007").toPath, buildFixture())

    val spark2 = spark
    import spark2.implicits._
    val parsed = BinlogBinaryParser.parse(spark, dir.getPath)
    val binlog = graft.cdc.Comparator.prepareBinlog(
      parsed.toDF(), BinlogBinaryParser.seqColumn)

    // avro side: one record matching the WRITE_ROWS key (end_log_pos of
    // event 5), one at a key with no binlog event
    val writePos = BinlogBinaryParser.decodeFile(buildFixture(), "mysql-bin.000007")
      .toSeq(4).log_position.get
    val avro = graft.cdc.Comparator.prepareAvro(Seq(
      ((T0 + 1) * 1000L, "shop", "orders", "INSERT", "", "mysql-bin.000007", writePos),
      ((T0 + 9) * 1000L, "shop", "orders", "INSERT", "", "mysql-bin.000007", 999999L)
    ).toDF("source_timestamp", "database", "table", "change_type", "gtid",
      "binlog_file", "binlog_position"))

    val compared = graft.cdc.Comparator.compare(binlog, avro)
    val statuses = compared.select("position", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(statuses(writePos) == graft.cdc.Schemas.Status.Match)
    assert(statuses(999999L) == graft.cdc.Schemas.Status.AvroOnly)
    // the DELETE rows event is binlog-only DML
    val delPos = BinlogBinaryParser.decodeFile(buildFixture(), "mysql-bin.000007")
      .toSeq(7).log_position.get
    assert(statuses(delPos) == graft.cdc.Schemas.Status.BinlogOnly)
  }
}
