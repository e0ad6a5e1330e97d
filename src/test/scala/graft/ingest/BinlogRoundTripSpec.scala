package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.BinlogBinaryWriter._

/** Round-trip coverage for the extended row-image type family (ADVICE
  * r2/r3 items: BIT/JSON/GEOMETRY/ENUM/SET metadata widths and value
  * decodes): every fixture is encoded with [[BinlogBinaryWriter]] and
  * decoded with [[BinlogBinaryParser]], so the wire layout is asserted
  * from both sides.
  */
class BinlogRoundTripSpec extends AnyFunSuite {

  private val T0 = 1714564800L

  private def decodeRows(cols: Seq[ColDef],
      images: Seq[Seq[Option[Array[Byte]]]],
      checksums: Boolean = false): Seq[Seq[String]] = {
    val f = new FileBuilder(checksums)
    f.fde(T0)
    f.event(T0, 19, tableMapBody(5, "s", "t", cols))
    f.event(T0 + 1, 30, rowsBody(5, cols.size, images))
    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000009").toSeq
    val rowsEv = evs.find(_.event_type == "WriteRowsEventV2").get
    assert(!rowsEv.extra.contains("body_decode_error"),
      s"decode error: ${rowsEv.extra}")
    rowsEv.row_images
  }

  test("metadata-bearing types BEFORE varchar/decimal keep alignment") {
    // The r2/r3 silent-corruption hazard: BIT/JSON/GEOMETRY metadata widths
    // missing from metadataWidth misaligned every LATER column's metadata.
    // This layout breaks loudly if any width regresses.
    val cols = Seq(
      ColDef.bit(12),
      ColDef.json(4),
      ColDef.geometry(4),
      ColDef.enum(1),
      ColDef.set(2),
      ColDef.varchar(300),      // 2-byte length prefix (maxLen >= 256)
      ColDef.newDecimal(10, 2),
      ColDef.char(10))
    val wkb = Array[Byte](0x01, 0x02, 0x03, 0xFF.toByte)
    val img = Seq(
      Some(encBit(0xABC, 12)),
      Some(encJson(Json.JObj(Seq("a" -> Json.JInt(7))), 4)),
      Some(encBlob(wkb, 4)),
      Some(encEnum(2, 1)),
      Some(encSet(0x5L, 2)),
      Some(encVarchar("after the hazard", 300)),
      Some(encNewDecimal(-1234567, 10, 2)),
      Some(encVarchar("chr", 255)))  // CHAR pack length < 256: 1-byte prefix
    assert(decodeRows(cols, Seq(img)) == Seq(Seq(
      (0xABC).toString, """{"a":7}""", "010203ff", "2", "5",
      "after the hazard", "-12345.67", "chr")))
  }

  test("unknown TABLE_MAP column type fails loudly, not misaligned") {
    val f = new FileBuilder()
    f.fde(T0)
    // type 200 is not a known MySQL column type
    f.event(T0, 19, tableMapBody(5, "s", "t", Seq(ColDef(200, Array.empty))))
    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000009").toSeq
    assert(evs(1).extra.contains("body_decode_error"))
  }

  test("ENUM 2-byte ordinals and SET masks round-trip") {
    val cols = Seq(ColDef.enum(2), ColDef.set(8))
    val img = Seq(Some(encEnum(300, 2)), Some(encSet(0x8000000000000001L, 8)))
    assert(decodeRows(cols, Seq(img)) ==
      Seq(Seq("300", 0x8000000000000001L.toString)))
  }

  test("binary JSON: nested containers, escapes, literals, int widths") {
    def rt(j: Json): String = {
      val cols = Seq(ColDef.json(4))
      decodeRows(cols, Seq(Seq(Some(encJson(j, 4))))).head.head
    }
    assert(rt(Json.JNull) == "null")
    assert(rt(Json.JBool(true)) == "true")
    assert(rt(Json.JInt(42)) == "42")
    assert(rt(Json.JInt(100000)) == "100000")              // int32 path
    assert(rt(Json.JInt(1L << 40)) == (1L << 40).toString) // int64 path
    assert(rt(Json.JStr("a\"b\\c\nd")) == "\"a\\\"b\\\\c\\nd\"")
    assert(rt(Json.JArr(Seq(Json.JInt(1), Json.JBool(false), Json.JNull)))
      == "[1,false,null]")
    // keys stored (and rendered) in MySQL canonical order: length then bytes
    assert(rt(Json.JObj(Seq(
      "bb" -> Json.JInt(2), "a" -> Json.JInt(1),
      "nested" -> Json.JObj(Seq("x" -> Json.JArr(Seq(Json.JStr("y"))))))))
      == """{"a":1,"bb":2,"nested":{"x":["y"]}}""")
  }

  test("binary JSON large containers decode (4-byte words, inline int32)") {
    // hand-built: the writer emits small containers only, so the decoder's
    // large path needs an explicit byte-level fixture
    import java.io.ByteArrayOutputStream
    def le(v: Long, w: Int): Array[Byte] =
      (0 until w).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    val o = new ByteArrayOutputStream()
    // large object, 2 keys: {"a": 100000 (inline int32), "b": "zz"}
    val keyA = "a".getBytes; val keyB = "b".getBytes
    val header = 2 * 4 + 2 * (4 + 2) + 2 * (4 + 1) // count+size, keys, values
    val keyAOff = header
    val keyBOff = keyAOff + 1
    val strOff = keyBOff + 1
    val size = strOff + 3 // varlen(1) + "zz"
    o.write(le(2, 4)); o.write(le(size, 4))
    o.write(le(keyAOff, 4)); o.write(le(1, 2))
    o.write(le(keyBOff, 4)); o.write(le(1, 2))
    o.write(0x07); o.write(le(100000, 4))       // int32 inline in LARGE only
    o.write(0x0c); o.write(le(strOff, 4))       // string by offset
    o.write(keyA); o.write(keyB)
    o.write(2); o.write("zz".getBytes)          // varlen + bytes
    val doc = Array(0x01.toByte) ++ o.toByteArray
    assert(BinlogBinaryParser.JsonBinary.decode(doc) == """{"a":100000,"b":"zz"}""")

    // large array: [uint32-inline, literal-true]
    val a = new ByteArrayOutputStream()
    val asize = 2 * 4 + 2 * 5
    a.write(le(2, 4)); a.write(le(asize, 4))
    a.write(0x08); a.write(le(0xFFFFFFFFL, 4))  // uint32 4294967295
    a.write(0x04); a.write(le(1, 4))            // true
    val arr = Array(0x03.toByte) ++ a.toByteArray
    assert(BinlogBinaryParser.JsonBinary.decode(arr) == "[4294967295,true]")
  }

  test("DATE / YEAR / TIME2 row columns") {
    val cols = Seq(ColDef.date, ColDef.year, ColDef.time2(0), ColDef.time2(3))
    def time2(h: Int, m: Int, s: Int): Array[Byte] = {
      val v = 0x800000L + ((h.toLong << 12) | (m.toLong << 6) | s.toLong)
      (0 until 3).reverse.map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    }
    val img = Seq(
      Some(encDate(1998, 10, 3)),
      Some(Array(98.toByte)),                       // YEAR: 1900+98
      Some(time2(13, 5, 9)),
      Some(time2(1, 2, 3) ++ Array[Byte](0x04, 0xD2.toByte))) // .1234 (fsp=3 → 2B BE)
    assert(decodeRows(cols, Seq(img)) ==
      Seq(Seq("1998-10-03", "1998", "13:05:09", "01:02:03.123400")))
  }

  test("negative TIME2 with fractional seconds (whole-value complement)") {
    val cols = Seq(ColDef.time2(2), ColDef.time2(2), ColDef.time2(0), ColDef.time2(6))
    val img = Seq(
      Some(encTime2(negative = true, 0, 0, 1, 500000, 2)),   // -00:00:01.50
      Some(encTime2(negative = false, 10, 20, 30, 120000, 2)),
      Some(encTime2(negative = true, 838, 59, 59, 0, 0)),    // TIME range min
      Some(encTime2(negative = true, 1, 0, 0, 1, 6)))        // -01:00:00.000001
    assert(decodeRows(cols, Seq(img)) == Seq(Seq(
      "-00:00:01.500000", "10:20:30.120000", "-838:59:59", "-01:00:00.000001")))
  }

  test("legacy v1 temporal types (TIMESTAMP/DATETIME/TIME) round-trip") {
    val cols = Seq(ColDef.timestampV1, ColDef.datetimeV1, ColDef.timeV1)
    val img = Seq(
      Some(encTimestampV1(1714564800L)),
      Some(encDatetimeV1(2024, 5, 1, 12, 34, 56)),
      Some(encTimeV1(23, 59, 1)))
    assert(decodeRows(cols, Seq(img)) ==
      Seq(Seq("1714564800", "2024-05-01 12:34:56", "23:59:01")))
  }

  test("NULLs and checksummed multi-image events round-trip") {
    val cols = Seq(ColDef.longlong, ColDef.json(4), ColDef.varchar(20))
    val imgs = Seq(
      Seq(Some(encLongLong(1)), None, Some(encVarchar("x", 20))),
      Seq(Some(encLongLong(2)),
        Some(encJson(Json.JArr(Seq(Json.JInt(9))), 4)), None))
    assert(decodeRows(cols, imgs, checksums = true) == Seq(
      Seq("1", null, "x"), Seq("2", "[9]", null)))
  }

  test("RowsQuery carries the original SQL; Intvar carries its variable") {
    val f = new FileBuilder(checksums = true)
    f.fde(T0)
    val sql = "INSERT INTO t VALUES (1, 'x')"
    f.event(T0, 29, Array(sql.length.toByte) ++ sql.getBytes("UTF-8"))
    val iv = java.nio.ByteBuffer.allocate(9)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).put(2.toByte).putLong(777L).array()
    f.event(T0, 5, iv)
    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000029").toSeq
    assert(evs(1).event_type == "RowsQuery" && evs(1).query == sql)
    assert(evs(2).event_type == "Intvar")
    assert(evs(2).extra("intvar_type") == "2" && evs(2).extra("intvar_value") == "777")
  }

  test("TransactionPayload: zstd-compressed inner events decode with shared state") {
    def file(compress: Boolean): Array[Byte] = {
      val f = new FileBuilder(checksums = true)
      f.fde(T0)
      f.event(T0, 33, gtidBody((1 to 16).map(_.toByte).toArray, 5))
      val cols = Seq(ColDef.longlong, ColDef.varchar(20))
      val inner = innerEventStream(Seq(
        (T0, 19, tableMapBody(9, "shop", "orders", cols)),
        (T0 + 1, 30, rowsBody(9, 2, Seq(
          Seq(Some(encLongLong(7)), Some(encVarchar("inside", 20)))))),
        (T0 + 1, 16, xidBody(99))))
      f.event(T0 + 1, 40, transactionPayloadBody(inner, compress))
      // a LATER rows event must still see the TABLE_MAP registered INSIDE
      // the payload, and the XID inside must have closed the GTID scope
      f.event(T0 + 2, 30, rowsBody(9, 2, Seq(
        Seq(Some(encLongLong(8)), Some(encVarchar("after", 20))))))
      f.bytes
    }
    Seq(true, false).foreach { compress =>
      val evs = BinlogBinaryParser.decodeFile(file(compress), "mysql-bin.000040").toSeq
      assert(evs.map(_.event_type) == Seq("FormatDescription", "Gtid",
        "TransactionPayload", "TableMap", "WriteRowsEventV2", "XID",
        "WriteRowsEventV2"))
      val container = evs(2)
      assert(container.extra("compression_type") == (if (compress) "0" else "255"))
      assert(!container.extra.contains("body_decode_error"), container.extra.toString)
      val innerWrite = evs(4)
      assert(innerWrite.extra("in_payload") == "1")
      assert(innerWrite.schema == "shop" && innerWrite.table == "orders")
      assert(innerWrite.gtid_next == "01020304-0506-0708-090a-0b0c0d0e0f10:5")
      assert(innerWrite.row_images == Seq(Seq("7", "inside")))
      assert(evs(5).xid.contains(99L) && evs(5).extra("in_payload") == "1")
      // decoder state crossed the payload boundary in both directions
      val after = evs(6)
      assert(!after.extra.contains("in_payload"))
      assert(after.row_images == Seq(Seq("8", "after")))
      assert(after.gtid_next == "", "XID inside the payload should close the scope")
      assert(evs.map(_.event_index) == (0L to 6L))
    }
  }

  test("pathologically nested TransactionPayload degrades at the bound, no stack overflow") {
    // containers-in-containers far past MaxPayloadNesting (MySQL emits
    // depth 1) — the decode must complete with deeper levels unexpanded,
    // not recurse StackOverflowError-deep
    var inner = innerEventStream(Seq((T0, 16, xidBody(1L))))
    (1 to 200).foreach { _ =>
      inner = innerEventStream(Seq(
        (T0, 40, transactionPayloadBody(inner, compress = false))))
    }
    val f = new FileBuilder(checksums = false)
    f.fde(T0)
    f.event(T0, 40, transactionPayloadBody(inner, compress = false))
    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000041").toSeq
    // FDE + outer container + one container per expanded level (bounded)
    val containers = evs.count(_.event_type == "TransactionPayload")
    assert(containers >= 2 && containers <= 20,
      s"expected bounded expansion, got $containers containers")
    assert(!evs.exists(_.event_type == "XID"),
      "the innermost event sits past the bound and must not be expanded")
    assert(evs.map(_.event_index) == evs.indices.map(_.toLong))
  }

  test("FORMAT_DESCRIPTION inside a TransactionPayload: walk seeds follow the decoder") {
    // MySQL writes no FDE inside a container; when one declares CRC32 the
    // decoder trims 4-byte tails from the top-level events after the
    // container, so the split-index and commit-frontier walks seed the same
    val sid = (1 to 16).map(_.toByte).toArray
    val crcFde = new Array[Byte](84)
    crcFde(79) = 1 // checksum_alg = CRC32
    val tail = new Array[Byte](4)
    val f = new FileBuilder(checksums = false)
    f.fde(T0)
    f.event(T0, 33, gtidBody(sid, 1))
    f.event(T0, 40, transactionPayloadBody(innerEventStream(Seq(
      (T0, 15, crcFde), (T0, 16, xidBody(1)))), compress = false))
    f.event(T0, 33, gtidBody(sid, 2) ++ tail)
    f.event(T0, 2, queryBody("s", "BEGIN") ++ tail)
    f.event(T0, 16, xidBody(2) ++ tail)
    val file = new java.io.File(
      java.nio.file.Files.createTempDirectory("binlog_inner_fde").toFile, "mysql-bin.000042")
    java.nio.file.Files.write(file.toPath, f.bytes)
    val whole = BinlogBinaryParser.decodeFile(f.bytes, file.getName).toSeq
    assert(whole.filter(_.event_type == "Query").map(_.query) == Seq("BEGIN"))

    val conf = new org.apache.hadoop.conf.Configuration()
    val last = BinlogOffsetIndex.walkFile(file.getPath, 1L, conf).last
    assert(last.checksumLen == 4)
    val in = new java.io.ByteArrayInputStream(f.bytes)
    in.skip(last.start)
    assert(BinlogBinaryParser.decodeStream(in, file.getName, startOffset = last.start,
      startIndex = last.startIndex, initialChecksumLen = last.checksumLen).toSeq ==
      whole.drop(last.startIndex.toInt))
    assert(BinlogOffsetIndex.commitFrontier(file.getPath, 0L, 0L, 0, conf) ==
      ((f.bytes.length.toLong, whole.size.toLong, 4)))
  }

  test("fuzz: corrupted files never throw — they stop or degrade loudly") {
    val rnd = new scala.util.Random(99)
    // a realistic base file exercising every decode path
    val base = {
      val f = new FileBuilder(checksums = true)
      f.fde(T0)
      f.event(T0, 33, gtidBody((1 to 16).map(_.toByte).toArray, 1))
      f.event(T0, 2, queryBody("s", "BEGIN"))
      val cols = Seq(ColDef.longlong, ColDef.varchar(30), ColDef.newDecimal(10, 2),
        ColDef.json(4), ColDef.enum(1), ColDef.bit(12))
      f.event(T0, 19, tableMapBody(5, "s", "t", cols))
      f.event(T0, 30, rowsBody(5, cols.size, Seq(Seq(
        Some(encLongLong(1)), Some(encVarchar("x", 30)),
        Some(encNewDecimal(123456L, 10, 2)),
        Some(encJson(Json.JObj(Seq("k" -> Json.JInt(1))), 4)),
        Some(encEnum(1, 1)), Some(encBit(7, 12))))))
      f.event(T0, 16, xidBody(1))
      f.bytes
    }
    (1 to 300).foreach { trial =>
      val bytes = base.clone()
      // corrupt 1-8 random bytes after the magic
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        val i = 4 + rnd.nextInt(bytes.length - 4)
        bytes(i) = rnd.nextInt(256).toByte
      }
      // truncate sometimes
      val mutated =
        if (rnd.nextBoolean()) bytes.take(4 + rnd.nextInt(bytes.length - 4))
        else bytes
      // must terminate without throwing; event stream may be shorter or
      // carry body_decode_error extras, never an exception
      val evs = BinlogBinaryParser.decodeFile(mutated, s"mysql-bin.$trial").toSeq
      assert(evs.size <= 64, "runaway event count on corrupted input")
    }
  }

  test("generative: random typed rows round-trip exactly") {
    val rnd = new scala.util.Random(7)
    (1 to 30).foreach { _ =>
      val n = 1 + rnd.nextInt(6)
      val colsAndCells: Seq[(ColDef, (Option[Array[Byte]], String))] =
        (0 until n).map { _ =>
          rnd.nextInt(7) match {
            case 0 =>
              val v = rnd.nextLong()
              (ColDef.longlong, (Some(encLongLong(v)), v.toString))
            case 1 =>
              val v = rnd.nextInt(1 << 20)
              (ColDef.bit(21), (Some(encBit(v.toLong, 21)), v.toString))
            case 2 =>
              val ord = 1 + rnd.nextInt(250)
              (ColDef.enum(1), (Some(encEnum(ord, 1)), ord.toString))
            case 3 =>
              val s = rnd.alphanumeric.take(rnd.nextInt(30)).mkString
              (ColDef.varchar(100), (Some(encVarchar(s, 100)), s))
            case 4 =>
              val unscaled = rnd.nextInt(2000000000) - 1000000000
              (ColDef.newDecimal(15, 4),
                (Some(encNewDecimal(unscaled.toLong, 15, 4)),
                  f"${if (unscaled < 0) "-" else ""}${math.abs(unscaled.toLong) / 10000}.${math.abs(unscaled.toLong) % 10000}%04d"))
            case 5 =>
              val k = rnd.nextInt(10000)
              (ColDef.json(4),
                (Some(encJson(Json.JObj(Seq("v" -> Json.JInt(k.toLong))), 4)),
                  s"""{"v":$k}"""))
            case _ => (ColDef.long, (None, null))
          }
        }
      val got = decodeRows(colsAndCells.map(_._1),
        Seq(colsAndCells.map(_._2._1)), checksums = rnd.nextBoolean())
      assert(got == Seq(colsAndCells.map(_._2._2)))
    }
  }

  test("UpdateRowsEventV2 pairs: before/after alternation with NULL cells") {
    // The cdc36 wire path: two present bitmaps, then (before, after) per
    // row. A NULL appearing only on one side must not shift the other
    // side's cells, and the alternation must hold across rows.
    val cols = Seq(ColDef.longlong, ColDef.varchar(20), ColDef.newDecimal(10, 2))
    def img(k: Long, s: Option[String], c: Option[Long]) = Seq(
      Some(encLongLong(k)),
      s.map(encVarchar(_, 20)),
      c.map(encNewDecimal(_, 10, 2)))
    val pairs = Seq(
      (img(1, Some("a"), Some(100)), img(1, Some("b"), Some(100))),
      (img(2, None, Some(250)), img(2, Some("now"), None)),
      (img(3, Some("same"), None), img(3, Some("same"), None)))
    val f = new FileBuilder(checksums = true)
    f.fde(T0)
    f.event(T0, 19, tableMapBody(7, "s", "t", cols))
    f.event(T0 + 1, 31, updateRowsBody(7, cols.size, pairs))
    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000010").toSeq
    val up = evs.find(_.event_type == "UpdateRowsEventV2").get
    assert(!up.extra.contains("body_decode_error"), s"decode error: ${up.extra}")
    assert(up.row_images == Seq(
      Seq("1", "a", "1.00"), Seq("1", "b", "1.00"),
      Seq("2", null, "2.50"), Seq("2", "now", null),
      Seq("3", "same", null), Seq("3", "same", null)))
  }

  test("Rotate event surfaces next_file and position (checksummed tail excluded)") {
    val f = new FileBuilder(checksums = true)
    f.fde(T0)
    f.event(T0, 4, rotateBody("mysql-bin.000042"))
    val evs = BinlogBinaryParser.decodeFile(f.bytes, "mysql-bin.000041").toSeq
    val r = evs.find(_.event_type == "Rotate").get
    assert(r.extra.get("next_file").contains("mysql-bin.000042"),
      s"extra: ${r.extra}")
    assert(r.extra.get("rotate_position").contains("4"))
  }
}
