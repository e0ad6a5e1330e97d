package graft.cli

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.cdc.{Report, Schemas}

/** End-to-end CLI plan: decoder-text binlog input + Avro-JSON input through
  * Main.prepare — the whole reference chain (parse → normalize → compare →
  * report) in one Spark job.
  */
class MainSpec extends AnyFunSuite with SparkTestSession {
  import Schemas.Status

  test("jobMetrics counts input files and aborts on an empty side (A3)") {
    val dir = Files.createTempDirectory("mainmetrics").toFile
    val binlogDir = new java.io.File(dir, "bins"); binlogDir.mkdirs()
    val avroJson = new java.io.File(dir, "avro_rows.json")
    Files.write(avroJson.toPath, "{}".getBytes)

    // empty binlog side aborts before any Spark work (reference exit 1)
    val args = Main.Args(binlogText = Some(binlogDir.getPath),
      avroJson = Some(avroJson.getPath))
    intercept[IllegalArgumentException] { Main.jobMetrics(spark, args) }

    Files.write(new java.io.File(binlogDir, "mysql-bin.000001").toPath, "x".getBytes)
    Files.write(new java.io.File(binlogDir, "mysql-bin.000002").toPath, "x".getBytes)
    Files.write(new java.io.File(binlogDir, "not-a-binlog.txt").toPath, "x".getBytes)
    assert(Main.jobMetrics(spark, args) ==
      Map("binlog_files" -> 2L, "avro_files" -> 1L))

    // missing avro path aborts too
    val bad = args.copy(avroJson = Some(new java.io.File(dir, "nope.json").getPath))
    intercept[IllegalArgumentException] { Main.jobMetrics(spark, bad) }
  }

  test("text-parser + avro-json sources end to end") {
    val dir = Files.createTempDirectory("cli").toFile
    val binlogDir = new java.io.File(dir, "binlogs"); binlogDir.mkdirs()
    Files.write(new java.io.File(binlogDir, "mysql-bin.000001").toPath,
      """=== WriteRowsEventV2 ===
        |Date: 2024-05-01 12:00:00
        |Log position: 1573
        |Table: orders
        |Schema: shop
        |=== WriteRowsEventV2 ===
        |Date: 2024-05-01 12:00:00
        |Log position: 9999
        |Table: orders
        |Schema: shop
        |""".stripMargin.getBytes)
    val avroJson = new java.io.File(dir, "avro_rows.json")
    Files.write(avroJson.toPath, Seq(
      // match (Δ=50ms against the Date-derived timestamp)
      """{"source_timestamp":1714564800050,"source_metadata":{"database":"shop","table":"orders","binlog_file":{"string":"mysql-bin.000001"},"binlog_position":{"long":1573},"primary_keys":["id"]},"payload":{}}""",
      // avro-only
      """{"source_timestamp":1714564800000,"source_metadata":{"database":"shop","table":"orders","binlog_file":{"string":"mysql-bin.000001"},"binlog_position":{"long":4242},"primary_keys":["id"]},"payload":{}}"""
    ).mkString("\n").getBytes)

    val prepared = Main.prepare(spark, Main.Args(
      binlogText = Some(binlogDir.getPath), avroJson = Some(avroJson.getPath)))
    val compared = prepared.compared

    val statuses = compared.select("position", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(statuses == Map(
      1573L -> Status.Match,
      4242L -> Status.AvroOnly,
      9999L -> Status.BinlogOnly))

    val s = Report.summary(compared).head()
    assert(s.getLong(s.fieldIndex("matched")) == 1)
    assert(s.getLong(s.fieldIndex("avro_only")) == 1)
    assert(s.getLong(s.fieldIndex("binlog_only")) == 1)
    assert(!s.getBoolean(s.fieldIndex("consistent")))
    prepared.release()
  }

  test("binlog-json path: last-wins dedup follows (file_seq, line_no) order") {
    val dir = Files.createTempDirectory("cli2").toFile
    val binlogDir = new java.io.File(dir, "binlog_json"); binlogDir.mkdirs()
    def ev(table: String) =
      s"""{"event_type":"WriteRowsEventV2","timestamp":"2024-05-01T12:00:00Z","binlog_file":"mysql-bin.000001","log_position":100,"table":"$table","schema":"shop"}"""
    // "meta.10" sorts lexicographically BEFORE "meta.2"; natural file_seq
    // order (ls -v semantics) must win, so the file-10 row is the keeper.
    Files.write(new java.io.File(binlogDir, "meta.10").toPath,
      ev("third").getBytes)
    Files.write(new java.io.File(binlogDir, "meta.2").toPath,
      (ev("first") + "\n" + ev("second")).getBytes)
    val avroJson = new java.io.File(dir, "avro_rows.json")
    Files.write(avroJson.toPath,
      """{"source_timestamp":1714564800000,"source_metadata":{"database":"shop","table":"orders","binlog_file":{"string":"mysql-bin.000001"},"binlog_position":{"long":100},"primary_keys":["id"]},"payload":{}}""".getBytes)

    val prepared = Main.prepare(spark, Main.Args(
      binlogJson = Some(binlogDir.getPath), avroJson = Some(avroJson.getPath)))
    val rows = prepared.compared.select("position", "status", "b_table").collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 100L)
    assert(rows.head.getString(2) == "third") // last file's row won the dedup
    // K3 quarantine side outputs exist for both JSON sources (empty here)
    assert(prepared.quarantines.keySet == Set("binlog", "avro"))
    assert(prepared.quarantines("binlog").count() == 0)
    prepared.release()
  }

  test("binlog-binary + --split-index: multi-range file, auto-build toggle") {
    import graft.ingest.BinlogBinaryWriter._
    val dir = Files.createTempDirectory("clisplit").toFile
    val binDir = new java.io.File(dir, "bins"); binDir.mkdirs()
    val cols = Seq(ColDef.longlong, ColDef.varchar(64))
    val sid = (1 to 16).map(_.toByte).toArray
    val f = new FileBuilder(checksums = true)
    val t0 = 1714564800L
    f.fde(t0)
    (0 until 40).foreach { tx =>
      f.event(t0 + tx, 33, gtidBody(sid, tx + 1L))
      f.event(t0 + tx, 19, tableMapBody(7, "shop", "orders", cols))
      val images = (0 until 20).map { r =>
        Seq(Some(encLongLong(tx * 100L + r)),
          Some(encVarchar(s"row-$tx-$r-" + "x" * 40, 64)))
      }
      f.event(t0 + tx, 30, rowsBody(7, cols.size, images))
      f.event(t0 + tx, 16, xidBody(9000L + tx))
    }
    Files.write(new java.io.File(binDir, "mysql-bin.000001").toPath, f.bytes)
    val avroJson = new java.io.File(dir, "avro_rows.json")
    Files.write(avroJson.toPath,
      """{"source_timestamp":1714564800000,"source_metadata":{"database":"shop","table":"orders","binlog_file":{"string":"mysql-bin.000001"},"binlog_position":{"long":424242},"primary_keys":["id"]},"payload":{}}""".getBytes)

    def compare(args: Main.Args): Set[org.apache.spark.sql.Row] = {
      val p = Main.prepare(spark, args)
      try p.compared.select("position", "status").collect().toSet
      finally p.release()
    }
    val binary = Main.Args(binlogBinary = Some(binDir.getPath),
      avroJson = Some(avroJson.getPath))

    // no --split-index: the same binlog scan, one task per file
    val noIndex = compare(binary)
    assert(noIndex.count(_.getString(1) == Status.BinlogOnly) == 40)
    assert(noIndex.count(_.getString(1) == Status.AvroOnly) == 1)

    // --no-split-index-auto-build: index never built, comparison still runs
    val idxOff = new java.io.File(dir, "idx_off").getPath
    val comparedOff = compare(binary.copy(
      splitIndex = Some(idxOff), splitIndexAutoBuild = false))
    assert(!new java.io.File(idxOff).exists(), "no-auto-build must not build")

    // default auto-build: first run writes shards; the scan range-splits
    val idxOn = new java.io.File(dir, "idx_on").getPath
    val compared = compare(binary.copy(
      splitIndex = Some(idxOn), splitBytes = Some(8192L)))
    assert(new java.io.File(idxOn).listFiles().exists(_.getName.endsWith(".idx")))
    // the auto-built index actually range-split the file
    val ranges = graft.ingest.BinlogOffsetIndex.loadFile(
      spark.sparkContext.hadoopConfiguration, idxOn,
      new java.io.File(binDir, "mysql-bin.000001").getPath)
    assert(ranges.size > 3, s"expected several ranges, got ${ranges.size}")
    // identical comparison every way
    assert(comparedOff == noIndex && compared == noIndex)

    // flag parsing
    val a = Main.parseArgs(List("--binlog-binary", "/b", "--avro-json", "/a.json",
      "--split-index", "/i", "--no-split-index-auto-build", "--split-bytes", "8192"))
    assert(a.splitIndex.contains("/i") && !a.splitIndexAutoBuild
      && a.splitBytes.contains(8192L))
  }

  test("argument parsing") {
    val a = Main.parseArgs(List("--binlog-json", "/b.json", "--avro", "/a",
      "--tolerance-ms", "250", "--strict-change-type", "--out", "/tmp/x"))
    assert(a == Main.Args(
      binlogJson = Some("/b.json"), avro = Some("/a"),
      toleranceMs = 250L, strictChangeType = true, out = "/tmp/x"))
    val b = Main.parseArgs(List("--binlog-binary", "/bins", "--avro-json", "/a.json"))
    assert(b == Main.Args(binlogBinary = Some("/bins"), avroJson = Some("/a.json")))
    intercept[IllegalArgumentException](Main.parseArgs(List("--nope")))
  }

  test("spark.graft.centroid.chunks: honored by the fold operators") {
    // buildCentroids with the default chunks=0 resolves from
    // spark.graft.centroid.chunks (settable with --conf) — prove
    // the dial actually reaches the FOLD'S CHUNK KEYING (the `% chunks`
    // level-1 grouping expression in the analyzed plan), not just that a
    // value was parsed somewhere: the fold mean is chunking-invariant on
    // friendly data, so a value assertion alone cannot catch a dial that
    // validates but never reaches the groupBy
    import spark.implicits._
    val df = (0L until 8L).map(i =>
      (i, 0L, Seq(i.toFloat, 1.0f))).toDF("vec_id", "label", "embedding")
    def chunkKeying(chunks: Int): String = {
      val plan = graft.ops.Similarity.buildCentroids(df, dim = 2, chunks = chunks)
        .queryExecution.analyzed.toString
      val m = "% cast\\((\\d+) as bigint\\)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no chunk-keying modulo found in plan:\n$plan")
      m.get.group(1)
    }
    try {
      spark.conf.set(graft.ops.Similarity.ChunksConfKey, "2")
      assert(chunkKeying(0) == "2", "conf value did not reach the fold's chunk keying")
      assert(chunkKeying(16) == "16", "explicit chunks must win over the conf")
      val cb = graft.ops.Similarity.collectCodebook(
        graft.ops.Similarity.buildCentroids(df, dim = 2))
      // mean over ids 0..7 dim0 = 3.5 regardless of chunking — value check
      assert(cb.map(_._1) == Seq(0L) && cb.head._2.head == 3.5f)
      // an invalid conf fails loudly, naming the key
      spark.conf.set(graft.ops.Similarity.ChunksConfKey, "nope")
      val e = intercept[IllegalArgumentException](
        graft.ops.Similarity.buildCentroids(df, dim = 2))
      assert(e.getMessage.contains(graft.ops.Similarity.ChunksConfKey))
      // and a NEGATIVE explicit argument is a caller bug, not a conf fallback
      val e2 = intercept[IllegalArgumentException](
        graft.ops.Similarity.buildCentroids(df, dim = 2, chunks = -8))
      assert(e2.getMessage.contains("-8"))
    } finally spark.conf.unset(graft.ops.Similarity.ChunksConfKey)
  }

  test("parseArgs: repeated --follow accumulates dirs IN ORDER (the " +
      "order is the checkpoint's offset pairing); pacing flags parse") {
    val a = Main.parseArgs(List("--follow", "/a", "--follow", "/b",
      "--purge-safe", "--max-bytes-per-trigger", "1024",
      "--max-files-per-trigger", "3", "--out", "/o"))
    assert(a.follow == Seq("/a", "/b"))
    assert(a.purgeSafe)
    assert(a.maxBytesPerTrigger.contains(1024L))
    assert(a.maxFilesPerTrigger.contains(3))
    assert(a.out == "/o")
  }

  test("UnionBatch0: a batch-0 file name present in SEVERAL feeds is " +
      "refused (ambiguous routing would rebuild the replay from one " +
      "shard's copy only)") {
    import spark.implicits._
    val root = Files.createTempDirectory("union_b0").toFile
    val fa = new java.io.File(root, "a"); fa.mkdirs()
    val fb = new java.io.File(root, "b"); fb.mkdirs()
    Files.write(new java.io.File(fa, "mysql-bin.000001").toPath, "x".getBytes)
    val b0 = new graft.streaming.Drains.UnionBatch0(
      Seq(fa.getPath, fb.getPath))
    b0.record(Seq("mysql-bin.000001").toDF("binlog_file"), 0L)
    assert(b0.nonEmpty)
    assert(b0.paths == Seq(new java.io.File(fa, "mysql-bin.000001").getPath))
    // the same name appears on the second shard too: refuse loudly
    Files.write(new java.io.File(fb, "mysql-bin.000001").toPath, "y".getBytes)
    val ex = intercept[IllegalArgumentException] { b0.paths }
    assert(ex.getMessage.contains("disjoint"), s"got: $ex")
    // later batches never overwrite the batch-0 record
    b0.record(Seq("mysql-bin.000002").toDF("binlog_file"), 1L)
    intercept[IllegalArgumentException] { b0.paths } // unchanged
  }

  test("--follow: tails a live binlog dir into per-table exactly-once " +
      "states, holds torn tails, resumes across invocations and " +
      "retention (the operable cdc63 posture)") {
    import spark.implicits._
    val root = Files.createTempDirectory("cli_follow").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val out = new java.io.File(root, "out").getPath
    def stage(df: org.apache.spark.sql.DataFrame, table: String,
        tableId: Long, seq: Int): Unit = {
      val st = new java.io.File(root, s"st_$table$seq").getPath
      graft.ingest.BinlogSink.writeChanges(df.coalesce(1), st,
        table = table, tableId = tableId, fileSeqStart = seq)
      Option(new java.io.File(st).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .foreach(f => assert(f.renameTo(new java.io.File(feed, f.getName))))
    }
    // two tables interleaved in one feed (the demux), 3 + 2 rows
    stage(Seq((1, 1L, "a"), (1, 2L, "b"), (1, 3L, "c"))
      .toDF("op", "k", "v"), "ta", 21L, seq = 1)
    stage(Seq((1, 10L, 7L), (1, 20L, 8L)).toDF("op", "k", "x"),
      "tb", 22L, seq = 2)
    // an ACTIVE file: one committed txn for ta, then a TORN txn (no XID)
    import graft.ingest.BinlogBinaryWriter._
    val cols = Seq(ColDef.longlong, ColDef.varchar(8))
    val sid = (1 to 16).map(_.toByte).toArray
    val f = new FileBuilder(checksums = true)
    f.fde(1714564800L)
    f.event(1714564800L, 33, gtidBody(sid, 901L))
    f.event(1714564800L, 2, queryBody("sf", "BEGIN"))
    f.event(1714564800L, 19, tableMapBody(21L, "sf", "ta", cols))
    f.event(1714564800L, 30, rowsBody(21L, 2,
      Seq(Seq(Some(encLongLong(4L)), Some(encVarchar("d", 8))))))
    f.event(1714564800L, 16, xidBody(7001L))
    f.event(1714564800L, 33, gtidBody(sid, 902L))
    f.event(1714564800L, 2, queryBody("sf", "BEGIN"))
    f.event(1714564800L, 19, tableMapBody(21L, "sf", "ta", cols))
    f.event(1714564800L, 30, rowsBody(21L, 2,
      Seq(Seq(Some(encLongLong(99L)), Some(encVarchar("z", 8)))))) // torn
    Files.write(new java.io.File(feed, "mysql-bin.000009").toPath, f.bytes)

    def census(): Map[String, (Long, Long)] =
      Main.follow(spark, Seq(feed.getPath), out, purgeSafe = true)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    // pass 1: both tables served, the torn row held back — ta has 4
    // committed rows across 2 WRITE_ROWS events (the 3-row bulk event +
    // the active file's committed txn), the torn 5th row is absent
    assert(census() == Map("sf.ta" -> (2L, 4L), "sf.tb" -> (1L, 2L)))
    // an idle second pass changes nothing (exactly-once across runs)
    assert(census() == Map("sf.ta" -> (2L, 4L), "sf.tb" -> (1L, 2L)))
    // retention purges the consumed closed files (purge-safe offsets);
    // the torn txn completes on the wire; a new tb file arrives
    assert(new java.io.File(feed, "mysql-bin.000001").delete())
    assert(new java.io.File(feed, "mysql-bin.000002").delete())
    Files.write(new java.io.File(feed, "mysql-bin.000009").toPath,
      { val g = new FileBuilder(checksums = true)
        g.fde(1714564800L)
        g.event(1714564800L, 33, gtidBody(sid, 901L))
        g.event(1714564800L, 2, queryBody("sf", "BEGIN"))
        g.event(1714564800L, 19, tableMapBody(21L, "sf", "ta", cols))
        g.event(1714564800L, 30, rowsBody(21L, 2,
          Seq(Seq(Some(encLongLong(4L)), Some(encVarchar("d", 8))))))
        g.event(1714564800L, 16, xidBody(7001L))
        g.event(1714564800L, 33, gtidBody(sid, 902L))
        g.event(1714564800L, 2, queryBody("sf", "BEGIN"))
        g.event(1714564800L, 19, tableMapBody(21L, "sf", "ta", cols))
        g.event(1714564800L, 30, rowsBody(21L, 2,
          Seq(Seq(Some(encLongLong(99L)), Some(encVarchar("z", 8))))))
        g.event(1714564800L, 16, xidBody(7002L)) // the completion
        val all = g.bytes
        all.slice(new java.io.File(feed, "mysql-bin.000009").length().toInt,
          all.length) },
      java.nio.file.StandardOpenOption.APPEND)
    stage(Seq((1, 30L, 9L)).toDF("op", "k", "x"), "tb", 22L, seq = 12)
    // pass 3: the completed txn and the new file land exactly once
    assert(census() == Map("sf.ta" -> (3L, 5L), "sf.tb" -> (2L, 3L)))

    // the SHARDED posture: several --follow dirs union under one
    // fresh checkpoint (per-source offsets), one merged census.
    // feed currently holds file 9 (ta: 2 committed txns) and file 12
    // (tb: 1 row); feedB contributes 2 more tb rows
    val feedB = new java.io.File(root, "feed_b"); feedB.mkdirs()
    val stB = new java.io.File(root, "st_b").getPath
    graft.ingest.BinlogSink.writeChanges(
      Seq((1, 40L, 5L), (1, 50L, 6L)).toDF("op", "k", "x").coalesce(1),
      stB, table = "tb", tableId = 22L, fileSeqStart = 201)
    Option(new java.io.File(stB).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .foreach(f => assert(f.renameTo(new java.io.File(feedB, f.getName))))
    val out2 = new java.io.File(root, "out2").getPath
    val merged = Main.follow(spark,
        Seq(feed.getPath, feedB.getPath), out2, purgeSafe = true)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(merged == Map("sf.ta" -> (2L, 2L), "sf.tb" -> (2L, 3L)),
      s"the union census must merge both feeds' tables: $merged")
    // and the per-feed lag surface reads the union checkpoint
    val lags = graft.sources.BinlogTailOps.lagMetricsUnion(spark,
      Seq(feed.getPath, feedB.getPath), s"$out2/ckpt")
    assert(lags.length == 2 && lags.forall(_.committedLagBytes == 0L))

    // the feed manifest: offsets pair POSITIONALLY, so a resume with
    // the dirs reordered (or renamed) must refuse loudly instead of
    // silently handing each feed another feed's offsets
    val exOrder = intercept[IllegalArgumentException] {
      Main.follow(spark, Seq(feedB.getPath, feed.getPath), out2,
        purgeSafe = true)
    }
    assert(exOrder.getMessage.contains("SAME order"), s"got: $exOrder")
    // and the same dir twice is two streams double-ingesting one feed
    val exDup = intercept[IllegalArgumentException] {
      Main.follow(spark, Seq(feed.getPath, feed.getPath),
        new java.io.File(root, "out3").getPath, purgeSafe = true)
    }
    assert(exDup.getMessage.contains("twice"), s"got: $exDup")
  }

  test("--follow: a multi-table batch is a CONSTANT number of jobs, not " +
      "one write per table (the r15 serial-write fix)") {
    import spark.implicits._
    val root = Files.createTempDirectory("cli_follow_jobs").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val out = new java.io.File(root, "out").getPath
    // 12 distinct tables, one committed txn each; the default
    // byte-budgeted pacing drains all 12 files in ONE batch
    (1 to 12).foreach { i =>
      val st = new java.io.File(root, s"st_$i").getPath
      graft.ingest.BinlogSink.writeChanges(
        Seq((1, i.toLong, s"v$i")).toDF("op", "k", "v").coalesce(1),
        st, table = f"t$i%02d", tableId = 100L + i, fileSeqStart = i)
      Option(new java.io.File(st).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .foreach(f => assert(f.renameTo(new java.io.File(feed, f.getName))))
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val censusDf =
      try {
        val df = Main.follow(spark, Seq(feed.getPath), out, purgeSafe = false)
        // follow's streaming work is done at return (AvailableNow drained);
        // give the async listener bus a moment to deliver the tail
        Thread.sleep(1500)
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    val during = jobs.get()
    // one localCheckpoint + one distinct + ONE partitioned write + census
    // prep: a small constant. The r15 shape paid >= 12 write jobs alone
    // (one applyIdempotent per table), so the bound separates cleanly.
    assert(during <= 8,
      s"a 12-table batch ran $during jobs — the batch write is no longer " +
        "flat in the table count")
    val rows = censusDf.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == (1 to 12).map(i => (f"sf.t$i%02d", 1L, 1L)).toSet,
      s"census mismatch: $rows")
  }

  test("--follow --gtid-state: a failed-over shard's re-served overlap " +
      "is discarded via the recovered executed set (operable cdc74)") {
    val root = Files.createTempDirectory("cli_gtid").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val out = new java.io.File(root, "out").getPath
    import graft.ingest.BinlogBinaryWriter._
    val cols = Seq(ColDef.longlong, ColDef.varchar(8))
    val sid = (1 to 16).map(_.toByte).toArray
    def txn(f: FileBuilder, gno: Long, xid: Long, ks: Seq[Long]): Unit = {
      f.event(1714564800L, 33, gtidBody(sid, gno))
      f.event(1714564800L, 2, queryBody("sf", "BEGIN"))
      f.event(1714564800L, 19, tableMapBody(21L, "sf", "ta", cols))
      f.event(1714564800L, 30, rowsBody(21L, 2,
        ks.map(k => Seq(Some(encLongLong(k)), Some(encVarchar(s"v$k", 8))))))
      f.event(1714564800L, 16, xidBody(xid))
    }
    // the server's file: txns 901 (k=1,2) and 902 (k=3)
    val f1 = new FileBuilder(checksums = true); f1.fde(1714564800L)
    txn(f1, 901L, 7001L, Seq(1L, 2L)); txn(f1, 902L, 7002L, Seq(3L))
    Files.write(new java.io.File(feed, "mysql-bin.000001").toPath, f1.bytes)
    def census(discardFrom: Option[Long]): Map[String, (Long, Long)] =
      Main.follow(spark, Seq(feed.getPath), out, purgeSafe = false,
          gtidState = true, gtidDiscardFrom = discardFrom)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    assert(census(None) == Map("sf.ta" -> (2L, 3L)))
    // the durable executed set recorded the fleet's frontier
    import graft.streaming.ViewMaintenance
    val marks = ViewMaintenance.readState(spark, s"$out/gtid",
        "sid STRING, gno BIGINT, batch_id BIGINT")
      .groupBy("sid").agg(org.apache.spark.sql.functions.max("gno"))
      .collect().map(r => r.getLong(1)).toSeq
    assert(marks == Seq(902L), s"executed set: $marks")
    // FAILOVER: the replica's higher-numbered file re-serves txn 902
    // under the SAME gtid (different framing is irrelevant — the gtid
    // is the identity) and adds the new txn 903
    val f2 = new FileBuilder(checksums = true); f2.fde(1714564800L)
    txn(f2, 902L, 8002L, Seq(3L)); txn(f2, 903L, 8003L, Seq(4L))
    Files.write(new java.io.File(feed, "mysql-bin.000800").toPath, f2.bytes)
    // the recovery run: the overlap (k=3 again) is discarded, the new
    // txn lands — 4 events total, 4 distinct rows, NOT 5
    assert(census(Some(800L)) == Map("sf.ta" -> (3L, 4L)))
    // and the set advanced to the replica's frontier for the NEXT one
    val marks2 = ViewMaintenance.readState(spark, s"$out/gtid",
        "sid STRING, gno BIGINT, batch_id BIGINT")
      .groupBy("sid").agg(org.apache.spark.sql.functions.max("gno"))
      .collect().map(r => r.getLong(1)).toSeq
    assert(marks2 == Seq(903L), s"executed set after failover: $marks2")
  }

  test("--as-of/--diff: pinned census, published-mark census, release " +
      "diff, and the compacted-region refusal (operable time travel)") {
    import spark.implicits._
    val root = Files.createTempDirectory("cli_asof").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val out = new java.io.File(root, "out").getPath
    def stage(df: org.apache.spark.sql.DataFrame, table: String,
        tableId: Long, seq: Int): Unit = {
      val st = new java.io.File(root, s"st_$table$seq").getPath
      graft.ingest.BinlogSink.writeChanges(df.coalesce(1), st,
        table = table, tableId = tableId, fileSeqStart = seq)
      Option(new java.io.File(st).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .foreach(f => assert(f.renameTo(new java.io.File(feed, f.getName))))
    }
    // two files -> drained file-per-trigger so marks 0 and 1 both exist
    stage(Seq((1, 1L, "a"), (1, 2L, "b")).toDF("op", "k", "v"), "ta", 21L, 1)
    stage(Seq((1, 10L, 7L)).toDF("op", "k", "x"), "tb", 22L, 2)
    Main.follow(spark, Seq(feed.getPath), out, purgeSafe = false,
      maxFilesPerTrigger = Some(1), maxBytesPerTrigger = None).collect()
    val tablesRoot = s"$out/tables"
    def m(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    // mark 0: only ta's file had landed; tb postdates the mark
    val (m0, c0) = Main.censusAtMark(spark, out, tablesRoot, "0")
    assert(m0 == 0L && m(c0) == Map("sf.ta" -> (1L, 2L)))
    // published = the last completed batch -> the full census
    val (mp, cp) = Main.censusAtMark(spark, out, tablesRoot, "published")
    assert(mp == 1L &&
      m(cp) == Map("sf.ta" -> (1L, 2L), "sf.tb" -> (1L, 1L)))
    // release diff (0, 1]: exactly tb's arrival
    assert(m(Main.censusDiff(spark, tablesRoot, 0L, 1L)) ==
      Map("sf.tb" -> (1L, 1L)))
    // force a compaction that folds both marks of ta, with no retained
    // history: a named-mark read inside the region must refuse with the
    // horizon, not serve the nearest base
    import graft.streaming.ViewMaintenance
    val taDir = Main.tableStateDir(tablesRoot, "sf", "ta")
    val sch = "event_type STRING, binlog_file STRING, file_seq BIGINT, " +
      "event_index BIGINT, xid BIGINT, row_images ARRAY<ARRAY<STRING>>, " +
      "batch_id BIGINT"
    ViewMaintenance.compact(spark, taDir, sch, upto = 1L)(df => df)
    val ex = intercept[IllegalArgumentException] {
      Main.censusAtMark(spark, out, tablesRoot, "0")
    }
    assert(ex.getMessage.contains("compacted region"), s"got: $ex")
    // the diff refuses too: ta's (0, 1] deltas were folded away
    val exd = intercept[IllegalArgumentException] {
      Main.censusDiff(spark, tablesRoot, 0L, 1L).collect()
    }
    assert(exd.getMessage.contains("compaction"), s"got: $exd")
    // but the census AT the new coverage still serves (base alone)
    assert(m(Main.censusAtMark(spark, out, tablesRoot, "1")._2) ==
      Map("sf.ta" -> (1L, 2L), "sf.tb" -> (1L, 1L)))
  }

  test("--follow: a pre-r16 flat-layout --out is refused loudly (cdc68 " +
      "upgrade discipline), before any manifest or stream side effect") {
    val root = Files.createTempDirectory("cli_follow_layout").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val out = new java.io.File(root, "out")
    // simulate the r15 layout: a flat <db>.<tbl> state dir
    assert(new java.io.File(out, "tables/sf.ta/batch_id=0").mkdirs())
    val ex = intercept[IllegalArgumentException] {
      Main.follow(spark, Seq(feed.getPath), out.getPath, purgeSafe = false)
    }
    assert(ex.getMessage.contains("pre-r16"), s"got: $ex")
    // refused BEFORE the feeds manifest was pinned — a corrected re-run
    // against a fresh out must not inherit a half-written identity
    assert(!new java.io.File(out, "feeds").exists())
  }
}
