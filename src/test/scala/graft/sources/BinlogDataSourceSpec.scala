package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ingest.BinlogBinaryParser

/** The DataSourceV2 route into raw binlogs: spark.read.format("binlog"). */
class BinlogDataSourceSpec extends AnyFunSuite with SparkTestSession {

  // minimal two-file fixture (header-only events are enough for the source)
  private def writeFile(dir: java.io.File, name: String, nEvents: Int,
      t0: Long): Unit = {
    val out = new ByteArrayOutputStream()
    out.write(BinlogBinaryParser.Magic)
    var logPos = 4L
    (0 until nEvents).foreach { i =>
      val body = new Array[Byte](8) // XID body
      val size = 19 + body.length
      logPos += size
      val h = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
      h.putInt((t0 + i).toInt).put(16.toByte).putInt(1).putInt(size)
        .putInt(logPos.toInt).putShort(0.toShort)
      out.write(h.array()); out.write(body)
    }
    Files.write(new java.io.File(dir, name).toPath, out.toByteArray)
  }

  test("format(binlog) reads a directory, one partition per file") {
    val dir = Files.createTempDirectory("dsv2bin").toFile
    writeFile(dir, "mysql-bin.000001", 3, 1714564800L)
    writeFile(dir, "mysql-bin.000002", 2, 1714564900L)

    val df = spark.read.format("binlog").load(dir.getPath)
    assert(df.count() == 5)
    assert(df.rdd.getNumPartitions == 2)
    val files = df.select("binlog_file").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(files == Seq("mysql-bin.000001", "mysql-bin.000002"))
    assert(df.filter(col("event_type") === "XID").count() == 5)
    assert(df.select("file_seq").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
  }

  test("column pruning reaches the reader schema") {
    val dir = Files.createTempDirectory("dsv2bin2").toFile
    writeFile(dir, "mysql-bin.000001", 2, 1714564800L)
    val df = spark.read.format("binlog").load(dir.getPath)
      .select("log_position", "event_type")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("log_position") && scan.contains("event_type"))
    assert(!scan.contains("immediate_commmit_timestamp"),
      "pruned column still in the scan schema")
    val rows = df.collect()
    assert(rows.length == 2 && rows.forall(_.getLong(0) > 4))
  }

  test("streaming tail: new files consumed per restart, offsets persisted") {
    val dir = Files.createTempDirectory("dsv2stream").toFile
    val in = new java.io.File(dir, "binlogs"); in.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val out = new java.io.File(dir, "out").getPath
    writeFile(in, "mysql-bin.000001", 2, 1714564800L)

    // file sink (memory sink can't recover from a checkpoint)
    def runOnce(): Unit = {
      val q = spark.readStream.format("binlog").load(in.getPath)
        .select("binlog_file", "log_position", "event_type")
        .writeStream.format("json")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.json(out).count() == 2)

    // a rotated-in second file: only the new file is consumed on restart
    writeFile(in, "mysql-bin.000002", 3, 1714564900L)
    runOnce()
    val rows = spark.read.json(out)
      .groupBy("binlog_file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("mysql-bin.000001" -> 2L, "mysql-bin.000002" -> 3L))
  }

  test("maxFilesPerTrigger rate-limits the tail to one file per micro-batch") {
    val dir = Files.createTempDirectory("dsv2rate").toFile
    val in = new java.io.File(dir, "binlogs"); in.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt")
    val out = new java.io.File(dir, "out").getPath
    writeFile(in, "mysql-bin.000001", 1, 1714564800L)
    writeFile(in, "mysql-bin.000002", 2, 1714564900L)
    writeFile(in, "mysql-bin.000003", 3, 1714565000L)

    val q = spark.readStream.format("binlog")
      .option("maxFilesPerTrigger", 1).load(in.getPath)
      .select("binlog_file", "log_position")
      .writeStream.format("json").option("path", out)
      .option("checkpointLocation", ckpt.getPath)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    assert(spark.read.json(out).count() == 6) // all events delivered
    // one file per micro-batch ⇒ three committed batches
    val batches = new java.io.File(ckpt, "commits").list()
      .count(!_.startsWith("."))
    assert(batches == 3, s"expected 3 micro-batches, saw $batches")
  }

  test("filters on binlog_file/file_seq prune whole files at planning") {
    val dir = Files.createTempDirectory("dsv2prune").toFile
    writeFile(dir, "mysql-bin.000001", 2, 1714564800L)
    writeFile(dir, "mysql-bin.000002", 3, 1714564900L)
    writeFile(dir, "mysql-bin.000003", 4, 1714565000L)

    val bySeq = spark.read.format("binlog").load(dir.getPath)
      .filter(col("file_seq") >= 2L)
    assert(bySeq.rdd.getNumPartitions == 2, "file_seq pruning didn't skip files")
    assert(bySeq.count() == 7)

    val byName = spark.read.format("binlog").load(dir.getPath)
      .filter(col("binlog_file") === "mysql-bin.000002")
    assert(byName.rdd.getNumPartitions == 1)
    assert(byName.count() == 3)

    // a non-prunable filter still reads everything and stays correct
    val byPos = spark.read.format("binlog").load(dir.getPath)
      .filter(col("log_position") > 50L)
    assert(byPos.rdd.getNumPartitions == 3)
  }

  test("pruning row_images skips image decoding but keeps event rows") {
    import graft.ingest.BinlogBinaryWriter._
    val dir = Files.createTempDirectory("dsv2noimg").toFile
    val f = new FileBuilder()
    f.fde(1714564800L)
    f.event(1714564800L, 19, tableMapBody(5, "s", "t", Seq(ColDef.longlong)))
    f.event(1714564801L, 30, rowsBody(5, 1, Seq(Seq(Some(encLongLong(42))))))
    Files.write(new java.io.File(dir, "mysql-bin.000001").toPath, f.bytes)

    val headerOnly = spark.read.format("binlog").load(dir.getPath)
      .select("event_type", "log_position", "table")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val full = spark.read.format("binlog").load(dir.getPath)
      .select("event_type", "log_position", "table", "row_images")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(headerOnly.toSeq == full.toSeq) // same events, same attribution
    // with row_images projected the values are decoded
    val imgs = spark.read.format("binlog").load(dir.getPath)
      .filter(col("event_type") === "WriteRowsEventV2")
      .select("row_images").collect().head.getSeq[Seq[String]](0)
    assert(imgs == Seq(Seq("42")))
  }

  test("pruning extra and row_images leaves every other column unchanged") {
    import graft.ingest.BinlogBinaryWriter._
    val dir = Files.createTempDirectory("dsv2noextra").toFile
    val cols = Seq(ColDef.longlong, ColDef.varchar(16))
    val sid = (1 to 16).map(_.toByte).toArray
    val f = new FileBuilder(checksums = true)
    val t0 = 1714564800L
    f.fde(t0)
    (0 until 3).foreach { tx =>
      f.event(t0 + tx, 33, gtidBody(sid, tx + 1L))
      f.event(t0 + tx, 2, queryBody("shop", "BEGIN"))
      f.event(t0 + tx, 19, tableMapBody(7, "shop", "orders", cols))
      f.event(t0 + tx, 30, rowsBody(7, cols.size,
        Seq(Seq(Some(encLongLong(tx.toLong)), Some(encVarchar(s"v$tx", 16))))))
      f.event(t0 + tx, 16, xidBody(100L + tx))
    }
    f.event(t0 + 3, 4, rotateBody("mysql-bin.000002"))
    Files.write(new java.io.File(dir, "mysql-bin.000001").toPath, f.bytes)

    val df = spark.read.format("binlog").load(dir.getPath)
    val kept = df.columns.filterNot(Set("extra", "row_images")).toSeq
    val pruned = df.select(kept.map(col): _*).collect().map(_.toSeq).toSeq
    val full = df.collect()
    assert(full.forall(r => r.getMap[String, String](r.fieldIndex("extra")).nonEmpty))
    assert(pruned == full.map(r => kept.map(c => r.get(r.fieldIndex(c)))).toSeq)
  }

  test("null / non-numeric values in pushed filters keep the file (no throw)") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In}
    // pruning is an optimization; undecidable values must be conservative
    assert(BinlogFilePruning.keeps(In("file_seq", Array(1L, null)), "mysql-bin.000007", Some(7L)))
    assert(!BinlogFilePruning.keeps(In("file_seq", Array(1L, 2L)), "mysql-bin.000007", Some(7L)))
    assert(BinlogFilePruning.keeps(In("file_seq", Array(7L, null)), "mysql-bin.000007", Some(7L)))
    assert(BinlogFilePruning.keeps(EqualTo("file_seq", null), "mysql-bin.000007", Some(7L)))
    assert(BinlogFilePruning.keeps(EqualTo("file_seq", "x"), "mysql-bin.000007", Some(7L)))
    assert(BinlogFilePruning.keeps(GreaterThan("file_seq", null), "mysql-bin.000007", Some(7L)))
    // and the full scan path survives a null inside an IN list
    val dir = Files.createTempDirectory("dsv2null").toFile
    writeFile(dir, "mysql-bin.000001", 2, 1714564800L)
    val got = spark.read.format("binlog").load(dir.getPath)
      .filter(col("file_seq").isin(1L, null))
      .count()
    assert(got == 2)
  }

  test("decode streams incrementally: events surface before EOF is read") {
    val dir = Files.createTempDirectory("dsv2stream").toFile
    writeFile(dir, "mysql-bin.000001", 100, 1714564800L)
    val bytes = Files.readAllBytes(new java.io.File(dir, "mysql-bin.000001").toPath)
    var consumed = 0
    val counting = new java.io.InputStream {
      private val in = new java.io.ByteArrayInputStream(bytes)
      override def read(): Int = { val r = in.read(); if (r >= 0) consumed += 1; r }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = in.read(b, off, len); if (r > 0) consumed += r; r
      }
    }
    val it = BinlogBinaryParser.decodeStream(counting, "mysql-bin.000001")
    val first = it.next()
    assert(first.event_index == 0L)
    assert(consumed < bytes.length / 2,
      s"decoder buffered $consumed of ${bytes.length} bytes for one event — not streaming")
    assert(it.size == 99) // the rest still decodes to completion
  }

  test("agrees with the pure per-file decoder on every field") {
    import graft.ingest.BinlogBinaryWriter._
    val dir = Files.createTempDirectory("dsv2bin3").toFile
    writeFile(dir, "mysql-bin.000009", 4, 1714564800L)
    // a second file with GTID / TABLE_MAP / row-image state across events
    val cols = Seq(ColDef.longlong, ColDef.varchar(64))
    val f = new FileBuilder(checksums = true)
    f.fde(1714564800L)
    (0 until 3).foreach { tx =>
      f.event(1714564800L + tx, 33, gtidBody((1 to 16).map(_.toByte).toArray, tx + 1L))
      f.event(1714564800L + tx, 19, tableMapBody(7, "shop", "orders", cols))
      f.event(1714564800L + tx, 30, rowsBody(7, cols.size, (0 until 2).map(r =>
        Seq(Some(encLongLong(tx * 10L + r)), Some(encVarchar(s"v$tx-$r", 64))))))
      f.event(1714564800L + tx, 16, xidBody(100L + tx))
    }
    Files.write(new java.io.File(dir, "mysql-bin.000010").toPath, f.bytes)

    val spark2 = spark
    import spark2.implicits._
    val order = (e: graft.ingest.ParsedBinlogEvent) => (e.binlog_file, e.event_index)
    val viaScan = spark.read.format("binlog").load(dir.getPath)
      .as[graft.ingest.ParsedBinlogEvent].collect().toSeq.sortBy(order)
    val viaDecoder = Seq("mysql-bin.000009", "mysql-bin.000010").flatMap { name =>
      BinlogBinaryParser.decodeFile(
        Files.readAllBytes(new java.io.File(dir, name).toPath), name)
    }.sortBy(order)
    assert(viaScan.exists(_.row_images.nonEmpty), "fixture decoded no row images")
    assert(viaScan == viaDecoder)
    // the parser's typed view is that same scan
    assert(BinlogBinaryParser.parse(spark, dir.getPath).collect().toSeq.sortBy(order)
      == viaDecoder)
  }

  /** `n` sink-written files of 100 rows each in 10-row transactions. */
  private def writeSinkFiles(dir: java.io.File, n: Int): Unit =
    graft.ingest.BinlogSink.writeChanges(
      spark.range(0L, n * 100L, 1L, n)
        .select(lit(1).as("op"), col("id").as("k"), concat(lit("v"), col("id")).as("v")),
      dir.getPath, rowsPerTxn = 10)

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Every row of `df` (all columns), in (file_seq, event_index) order. */
  private def rowsInFileOrder(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.sortBy(r =>
      (r.getAs[Long]("file_seq"), r.getAs[Long]("event_index")))

  test("a batch read packs small files into one split per core, with the " +
      "rows of a one-file-per-partition read") {
    val dir = Files.createTempDirectory("dsv2pack").toFile
    writeSinkFiles(dir, 16)
    assert(spark.sparkContext.defaultParallelism == 4)
    val packed = spark.read.format("binlog").load(dir.getPath)
    assert(packed.rdd.getNumPartitions == 4)
    // next-fit in listing order: each split holds 4 consecutive files
    val perSplit = packed.groupBy(spark_partition_id().as("p"))
      .agg(collect_set("file_seq").as("seqs")).collect()
      .map(_.getSeq[Long](1).sorted).sortBy(_.head).toSeq
    assert(perSplit == (1L to 16L).grouped(4).map(_.toSeq).toSeq)
    // a one-byte split limit leaves every file alone
    val perFile = withConf("spark.sql.files.maxPartitionBytes", "1") {
      val df = spark.read.format("binlog").load(dir.getPath)
      assert(df.rdd.getNumPartitions == 16)
      rowsInFileOrder(df)
    }
    assert(perFile.map(_.getAs[String]("binlog_file")).distinct.size == 16)
    assert(rowsInFileOrder(packed) == perFile)
  }

  test("pack: a file larger than the split size stays alone") {
    val mb = 1L << 20
    val small = (1 to 8).map(i => s"f$i" -> mb)
    // Σ(len + 4 MB open cost) / 4 cores = 61 MB per split
    val parts = pack(small.take(4) ++ Seq("big" -> 200 * mb) ++ small.drop(4))
    assert(parts == Seq(
      split("f1", "f2", "f3", "f4"),
      split("big"),
      split("f5", "f6", "f7", "f8")))
    // no more files than cores, of even sizes: never packed
    assert(pack(small.take(4)) == small.take(4).map(f => split(f._1)))
  }

  test("split-index ranges are never packed") {
    val dir = Files.createTempDirectory("dsv2packsplit").toFile
    writeSinkFiles(dir, 8)
    val index = new java.io.File(dir.getParentFile, dir.getName + ".idx").getPath
    graft.ingest.BinlogOffsetIndex.build(spark, dir.getPath, index, splitBytes = 512)
    val ranges = dir.listFiles().filter(!_.getName.startsWith(".")).map(f =>
      graft.ingest.BinlogOffsetIndex.loadFile(
        spark.sparkContext.hadoopConfiguration, index, f.getPath).size).sum
    assert(ranges > 8, s"expected several ranges per file, got $ranges")
    val split = spark.read.format("binlog").option("splitIndex", index).load(dir.getPath)
    assert(split.rdd.getNumPartitions == ranges)
    val whole = spark.read.format("binlog").load(dir.getPath)
    assert(whole.rdd.getNumPartitions == 4)
    assert(rowsInFileOrder(split) == rowsInFileOrder(whole))
  }

  test("a count-based stream plans one partition per file") {
    val dir = Files.createTempDirectory("dsv2packstream").toFile
    writeSinkFiles(dir, 16)
    val stream = new BinlogMicroBatchStream(dir.getPath, BinlogDataSource.schema)
    val s0 = stream.initialOffset()
    val s1 = stream.latestOffset(s0,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(s0, s1).toSeq
    assert(parts.size == 16 && parts.forall {
      case FileSplit(Seq(_: BinlogRange)) => true
      case _ => false
    })
  }

  /** The core's batch planner over whole binlog files of these lengths. */
  private def pack(files: Seq[(String, Long)]) = FileScan.packed(
    files.map { case (f, len) =>
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, 0L, new org.apache.hadoop.fs.Path(f))
    }, splittable = false)((f, _, _) => BinlogRange(f))

  private def split(files: String*) = FileSplit(files.map(BinlogRange(_)))
}
