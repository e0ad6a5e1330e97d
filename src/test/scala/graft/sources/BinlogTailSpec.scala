package graft.sources

import java.nio.file.{Files, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ingest.{BinlogBinaryWriter, BinlogOffsetIndex}

/** The ACTIVE-file tail (`tailActive=true`): (file, byte-frontier) offset
  * arithmetic, the commit-frontier walk's torn-tail holdback, and the
  * end-to-end append-between-drains contract the cdc58 gate exercises at
  * oracle scale. */
class BinlogTailSpec extends AnyFunSuite with SparkTestSession {

  import BinlogBinaryWriter._

  private val cols = Seq(ColDef.longlong, ColDef.varchar(32))
  private val sid = (1 to 16).map(_.toByte).toArray
  private val t0 = 1714564800L

  /** One transaction (GTID/BEGIN/TABLE_MAP/WRITE_ROWS/XID) appending keys
    * `ks`; returns the file offset after the XID (a commit boundary). */
  private def txn(f: FileBuilder, gno: Long, ks: Seq[Long]): Long = {
    f.event(t0, 33, gtidBody(sid, gno))
    f.event(t0, 2, queryBody("app", "BEGIN"))
    f.event(t0, 19, tableMapBody(7, "app", "t", cols))
    f.event(t0, 30, rowsBody(7, cols.size,
      ks.map(k => Seq(Some(encLongLong(k)), Some(encVarchar(s"v$k", 32))))))
    f.event(t0, 16, xidBody(9000L + gno))
  }

  /** A torn transaction: GTID/BEGIN/TABLE_MAP/WRITE_ROWS, NO XID.
    * Returns the offset after the rows event (NOT a commit boundary). */
  private def tornTxn(f: FileBuilder, gno: Long, ks: Seq[Long]): Long = {
    f.event(t0, 33, gtidBody(sid, gno))
    f.event(t0, 2, queryBody("app", "BEGIN"))
    f.event(t0, 19, tableMapBody(7, "app", "t", cols))
    f.event(t0, 30, rowsBody(7, cols.size,
      ks.map(k => Seq(Some(encLongLong(k)), Some(encVarchar(s"v$k", 32))))))
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  test("commitFrontier: stops at the last XID, holds back the torn tail") {
    val dir = Files.createTempDirectory("tail_fr").toFile
    val f = new FileBuilder(checksums = true)
    f.fde(t0)
    val afterA = txn(f, 1L, Seq(1L, 2L))
    tornTxn(f, 2L, Seq(3L))
    val file = new java.io.File(dir, "mysql-bin.000001")
    Files.write(file.toPath, f.bytes)

    val (pos, idx, ck) = BinlogOffsetIndex.commitFrontier(
      file.getPath, 0L, 0L, 0, conf)
    assert(pos == afterA, "frontier must be the offset just past txn A's XID")
    assert(idx == 6L) // fde + gtid + begin + table_map + rows + xid
    assert(ck == 4)   // checksummed file

    // resuming FROM the frontier over only torn bytes does not advance
    assert(BinlogOffsetIndex.commitFrontier(
      file.getPath, pos, idx, ck, conf) == ((pos, idx, ck)))
  }

  test("commitFrontier: resumed walk advances once the commit record lands") {
    val dir = Files.createTempDirectory("tail_grow").toFile
    val f = new FileBuilder(checksums = true)
    f.fde(t0)
    val afterA = txn(f, 1L, Seq(1L))
    val cut = tornTxn(f, 2L, Seq(2L, 3L)) // torn HERE at drain time
    val afterB = f.event(t0, 16, xidBody(9002L)) // the commit record
    val afterC = txn(f, 3L, Seq(4L))
    val all = f.bytes
    val file = new java.io.File(dir, "mysql-bin.000001")

    // installment 1: file ends MID-EVENT (7 bytes into B's XID header)
    Files.write(file.toPath, all.slice(0, cut.toInt + 7))
    val (p1, i1, c1) = BinlogOffsetIndex.commitFrontier(
      file.getPath, 0L, 0L, 0, conf)
    assert(p1 == afterA)

    // append the rest; resume the walk from the recorded state
    Files.write(file.toPath, all.slice(cut.toInt + 7, all.length),
      StandardOpenOption.APPEND)
    val (p2, i2, _) = BinlogOffsetIndex.commitFrontier(
      file.getPath, p1, i1, c1, conf)
    assert(p2 == afterC && p2 == all.length.toLong)
    // the resumed walk re-reads B's 4 torn events, then B's XID and C's 5
    assert(i2 == i1 + 10)
    assert(afterB < afterC)
  }

  test("commitFrontier: file torn inside the magic returns the input state") {
    val dir = Files.createTempDirectory("tail_magic").toFile
    val file = new java.io.File(dir, "mysql-bin.000001")
    Files.write(file.toPath, Array[Byte](0xFE.toByte, 'b'))
    assert(BinlogOffsetIndex.commitFrontier(
      file.getPath, 0L, 0L, 0, conf) == ((0L, 0L, 0)))
  }

  test("TailOffset: json round-trip and feed ordering") {
    import BinlogTailMicroBatchStream.TailOffset
    val listing = Vector("/x/mysql-bin.000007", "/x/mysql-bin.000008")
    def parse(json: String): TailOffset = TailOffset.fromJson(json, () => listing)
    val o = TailOffset(3L, 12345L, 42L, 4)
    assert(parse(o.json()) == o)
    assert(TailOffset(2L, 999L, 0L, 0).lt(o))
    assert(TailOffset(3L, 12344L, 0L, 0).lt(o))
    assert(!o.lt(o))
    // the count-based source's offset form translates as "n whole files
    // consumed, frontier 0" — the in-place upgrade path: the n-th listed
    // file's own suffix, or one past the last when all n are consumed
    assert(parse("{\"n\":1}") == TailOffset(8L, 0L, 0L, 0))
    assert(parse("{\"n\":2}") == TailOffset(9L, 0L, 0L, 0))
    intercept[IllegalArgumentException] { parse("{}") }
    // a pos WITHOUT its decoder seed is a corrupt tail offset, not an
    // upgrade — resuming with a zero seed would mis-number every event
    intercept[IllegalArgumentException] {
      parse("{\"n\":2,\"pos\":81234}")
    }
    intercept[IllegalArgumentException] {
      parse("{\"n\":2,\"pos\":81234,\"idx\":6}")
    }
    intercept[IllegalArgumentException] {
      parse("{\"seq\":5,\"pos\":70000}")
    }
  }

  test("admission control: maxFiles budget completes closed files first") {
    import BinlogTailMicroBatchStream.TailOffset
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("tail_adm").toFile
    (1 to 3).foreach { i =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, i.toLong, Seq(i.toLong))
      Files.write(new java.io.File(dir, f"mysql-bin.$i%06d").toPath, f.bytes)
    }
    val stream = new BinlogTailMicroBatchStream(
      dir.getPath, BinlogDataSource.schema, Some(1))
    val s0 = stream.initialOffset().asInstanceOf[TailOffset]
    val s1 = stream.latestOffset(s0, ReadLimit.maxFiles(1))
      .asInstanceOf[TailOffset]
    // one closed file completed: the offset names the next file's suffix
    assert(s1 == TailOffset(2L, 0L, 0L, 0))
    val s2 = stream.latestOffset(s1, ReadLimit.maxFiles(1))
      .asInstanceOf[TailOffset]
    assert(s2 == TailOffset(3L, 0L, 0L, 0))
    // budget now reaches the ACTIVE file: frontier is its last XID
    val s3 = stream.latestOffset(s2, ReadLimit.maxFiles(1))
      .asInstanceOf[TailOffset]
    assert(s3.seq == 3L && s3.pos > 0L && s3.ck == 4)
    // steady state: no growth, no movement
    assert(stream.latestOffset(s3, ReadLimit.maxFiles(1)) == s3)
    // partitions for the closed-file batch span exactly that file
    val parts = stream.planInputPartitions(s0, s1)
    assert(parts.length == 1)
  }

  test("maxBytesPerTrigger: the frontier walk stops at the last commit " +
      "inside the budget; one transaction of progress is guaranteed") {
    val dir = Files.createTempDirectory("tail_bb").toFile
    val f = new FileBuilder(checksums = true)
    f.fde(t0)
    val after1 = txn(f, 1L, Seq(1L))
    val after2 = txn(f, 2L, Seq(2L))
    val after3 = txn(f, 3L, Seq(3L))
    val file = new java.io.File(dir, "mysql-bin.000001")
    Files.write(file.toPath, f.bytes)

    // budget past txn 1 but short of txn 2's commit → stop after txn 1
    val (p1, _, _) = BinlogOffsetIndex.commitFrontier(
      file.getPath, 0L, 0L, 0, conf, byteBudget = after1 + 10)
    assert(p1 == after1)
    // budget of ONE byte still advances one whole transaction (the
    // soft-cap progress guarantee — a stream must never stall)
    val (p2, _, _) = BinlogOffsetIndex.commitFrontier(
      file.getPath, 0L, 0L, 0, conf, byteBudget = 1L)
    assert(p2 == after1)
    // resumed budgeted walks cover the file in commit-sized steps
    val (p3, i3, c3) = BinlogOffsetIndex.commitFrontier(
      file.getPath, p2, 6L, 4, conf, byteBudget = 1L)
    assert(p3 == after2)
    val (p4, _, _) = BinlogOffsetIndex.commitFrontier(
      file.getPath, p3, i3, c3, conf, byteBudget = 1L)
    assert(p4 == after3)
  }

  test("maxBytesPerTrigger: closed files admit in budget-sized groups") {
    import BinlogTailMicroBatchStream.TailOffset
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("tail_bbf").toFile
    (1 to 3).foreach { i =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, i.toLong, Seq(i.toLong))
      Files.write(new java.io.File(dir, f"mysql-bin.$i%06d").toPath, f.bytes)
    }
    // budget smaller than one file: each trigger completes exactly one
    // closed file (the at-least-one-file progress guarantee), then the
    // active file advances by budgeted commits
    val stream = new BinlogTailMicroBatchStream(
      dir.getPath, BinlogDataSource.schema, None, Some(10L))
    val s0 = stream.initialOffset().asInstanceOf[TailOffset]
    val s1 = stream.latestOffset(s0, ReadLimit.allAvailable())
      .asInstanceOf[TailOffset]
    assert(s1 == TailOffset(2L, 0L, 0L, 0))
    val s2 = stream.latestOffset(s1, ReadLimit.allAvailable())
      .asInstanceOf[TailOffset]
    assert(s2 == TailOffset(3L, 0L, 0L, 0))
    val s3 = stream.latestOffset(s2, ReadLimit.allAvailable())
      .asInstanceOf[TailOffset]
    assert(s3.seq == 3L && s3.pos > 0L) // active file: one commit of progress
    assert(stream.latestOffset(s3, ReadLimit.allAvailable()) == s3)
  }

  test("crash recovery: the torn tail truncated away between triggers " +
      "(MySQL's recovery behavior) — the stream continues from the commit") {
    val dir = Files.createTempDirectory("tail_trunc").toFile
    val f = new FileBuilder(checksums = true)
    f.fde(t0)
    val afterA = txn(f, 1L, Seq(1L))
    tornTxn(f, 2L, Seq(2L)) // the torn tail a crash leaves
    val all = f.bytes
    val file = new java.io.File(dir, "mysql-bin.000001")
    Files.write(file.toPath, all)

    // trigger 1: frontier stops at the commit, torn bytes held back
    val (p1, i1, c1) = BinlogOffsetIndex.commitFrontier(
      file.getPath, 0L, 0L, 0, conf)
    assert(p1 == afterA)

    // server recovery truncates the file back to the committed boundary
    // (our frontier only ever points at commits, so it stays valid)...
    Files.write(file.toPath, all.slice(0, afterA.toInt))
    assert(BinlogOffsetIndex.commitFrontier(
      file.getPath, p1, i1, c1, conf) == ((p1, i1, c1)))

    // ...and the resumed server re-writes the transaction (new growth):
    // the walk advances to the new commit, never re-serving old bytes
    val f2 = new FileBuilder(checksums = true)
    f2.fde(t0)
    txn(f2, 1L, Seq(1L))
    val afterB2 = txn(f2, 2L, Seq(2L))
    Files.write(file.toPath, f2.bytes)
    val (p2, _, _) = BinlogOffsetIndex.commitFrontier(
      file.getPath, p1, i1, c1, conf)
    assert(p2 == afterB2)
  }

  test("maxBytesPerTrigger under AvailableNow: the run still drains " +
      "everything available, in budget-sized batches") {
    val root = Files.createTempDirectory("tail_bban").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath
    (1 to 2).foreach { i =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, i.toLong, Seq(i.toLong * 10, i.toLong * 10 + 1))
      Files.write(new java.io.File(feed, f"mysql-bin.$i%06d").toPath, f.bytes)
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.format("binlog")
      .option("tailActive", "true")
      .option("maxBytesPerTrigger", 10) // far below one file
      .load(feed.getPath)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen ++= batch
          .filter(col("event_type") === "WriteRowsEventV2")
          .select(explode(col("row_images")).as("img"))
          .select(element_at(col("img"), 1).cast("long"))
          .collect().map(r => (id, r.getLong(0)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seen.map(_._2).sorted == List(10L, 11L, 20L, 21L),
      s"AvailableNow must drain everything despite the byte budget: $seen")
    assert(seen.map(_._1).distinct.length >= 2,
      s"the byte budget should have paced the run into several batches: $seen")
  }

  test("purge-safe tail: consumed files deleted between drains, the " +
      "stream continues from its suffix-keyed frontier; purging the " +
      "frontier file itself fails loudly") {
    val root = Files.createTempDirectory("tail_purge").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath

    (1 to 2).foreach { i =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, i.toLong, Seq(i.toLong * 10))
      Files.write(new java.io.File(feed, f"mysql-bin.$i%06d").toPath, f.bytes)
    }
    val f3 = new FileBuilder(checksums = true)
    f3.fde(t0)
    txn(f3, 3L, Seq(30L))
    tornTxn(f3, 4L, Seq(40L))
    val all3 = f3.bytes
    val file3 = new java.io.File(feed, "mysql-bin.000003")
    Files.write(file3.toPath, all3)

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drain(): Unit = {
      val q = spark.readStream.format("binlog")
        .option("tailActive", "true")
        .load(feed.getPath)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          seen ++= batch
            .filter(col("event_type") === "WriteRowsEventV2")
            .select(explode(col("row_images")).as("img"))
            .select(element_at(col("img"), 1).cast("long"))
            .collect().map(r => (id, r.getLong(0)))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(seen.map(_._2).sorted == List(10L, 20L, 30L),
      s"drain 1 must hold back the torn txn: $seen")

    // binlog retention: files BELOW the frontier are purged; the torn
    // txn completes and a new one tears; an index-based offset would
    // now point at the wrong file — the suffix-keyed one must not care
    assert(new java.io.File(feed, "mysql-bin.000001").delete())
    assert(new java.io.File(feed, "mysql-bin.000002").delete())
    val f3b = new FileBuilder(checksums = true)
    f3b.fde(t0)
    txn(f3b, 3L, Seq(30L))
    txn(f3b, 4L, Seq(40L))
    tornTxn(f3b, 5L, Seq(99L))
    val grown = f3b.bytes
    Files.write(file3.toPath, grown.slice(all3.length, grown.length),
      StandardOpenOption.APPEND)
    drain()
    assert(seen.map(_._2).sorted == List(10L, 20L, 30L, 40L),
      s"after the purge the stream must deliver exactly the completed " +
        s"txn, never re-serve or lose: $seen")

    // rotation after the purge still advances
    val f4 = new FileBuilder(checksums = true)
    f4.fde(t0)
    txn(f4, 6L, Seq(60L))
    Files.write(new java.io.File(feed, "mysql-bin.000004").toPath, f4.bytes)
    drain()
    assert(seen.map(_._2).sorted == List(10L, 20L, 30L, 40L, 60L, 99L),
      s"rotation closed file 3 (its tail is consumable to EOF) and " +
        s"file 4 arrives once: $seen")

    // purging the FRONTIER file (unconsumed bytes past pos) must fail
    // loudly, not resume somewhere wrong
    val f5 = new FileBuilder(checksums = true)
    f5.fde(t0)
    txn(f5, 7L, Seq(70L))
    tornTxn(f5, 8L, Seq(80L))
    Files.write(new java.io.File(feed, "mysql-bin.000005").toPath, f5.bytes)
    drain() // frontier now mid-file-5 (torn txn 8 held)
    // lagMetrics resolves the suffix-keyed offset too, and the purge
    // (fewer files listed than consumed) doesn't confuse it
    val lag = BinlogTailOps.lagMetrics(spark, feed.getPath, ckpt)
    assert(lag.committedLagBytes == 0L && lag.heldBackBytes > 0L,
      s"drained, purged consumer: no consumable lag, torn tail held: $lag")
    assert(lag.frontierFile == "mysql-bin.000005")
    assert(new java.io.File(feed, "mysql-bin.000005").delete())
    val f6 = new FileBuilder(checksums = true)
    f6.fde(t0)
    txn(f6, 9L, Seq(90L))
    Files.write(new java.io.File(feed, "mysql-bin.000006").toPath, f6.bytes)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(ex).exists(c => Option(c.getMessage)
        .exists(_.contains("purge only files with suffix BELOW"))),
      s"purging the frontier file must fail with guidance, got: $ex")
  }

  test("purge-safe guards: purgeSafe without tailActive, corrupt " +
      "offsets, and non-numeric suffixes are all rejected loudly") {
    val root = Files.createTempDirectory("tail_guards").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val f1 = new FileBuilder(checksums = true)
    f1.fde(t0)
    txn(f1, 1L, Seq(1L))
    Files.write(new java.io.File(feed, "mysql-bin.000001").toPath, f1.bytes)

    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    def drain(opts: Map[String, String]): Unit = {
      val r = opts.foldLeft(spark.readStream.format("binlog")) {
        case (b, (k, v)) => b.option(k, v)
      }
      val q = r.load(feed.getPath)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .option("checkpointLocation",
          new java.io.File(root, s"ckpt${opts.hashCode}").getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // the removed purgeSafe option fails loudly, with or without
    // tailActive: ignoring it would hand a user who asked to survive
    // purges the count-based stream, which breaks on the first purge
    Seq(Map("purgeSafe" -> "true"),
        Map("tailActive" -> "true", "purgeSafe" -> "true")).foreach { opts =>
      val ex = intercept[IllegalArgumentException] { drain(opts) }
      assert(ex.getMessage.contains("purgeSafe option is gone") &&
        ex.getMessage.contains("always keyed by the file's own suffix") &&
        ex.getMessage.contains("use tailActive=true"), s"got: $ex")
    }

    // a suffix-less file in the watched dir collapses onto the
    // no-suffix sentinel — the suffix is the offset KEY here
    Files.write(new java.io.File(feed, "mysql-bin.index").toPath,
      "mysql-bin.000001\n".getBytes("UTF-8"))
    val ex2 = intercept[Exception] { drain(Map("tailActive" -> "true")) }
    assert(causes(ex2).exists(c => Option(c.getMessage)
      .exists(_.contains("numeric binlog suffixes"))), s"got: $ex2")

    // a pos without its decoder seed is corruption, not an upgrade form
    import BinlogTailMicroBatchStream.TailOffset
    assert(TailOffset.fromJson("{\"seq\":5}", () => Vector.empty) ==
      TailOffset(5L, 0L, 0L, 0))
    intercept[IllegalArgumentException] {
      TailOffset.fromJson("{\"seq\":5,\"pos\":70000}", () => Vector.empty)
    }
  }

  test("purge-safe upgrade: a count-based checkpoint translates to " +
      "suffix-keyed offsets in place (before any purge)") {
    val root = Files.createTempDirectory("tail_purge_upg").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath
    (1 to 2).foreach { i =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, i.toLong, Seq(i.toLong * 10))
      Files.write(new java.io.File(feed, f"mysql-bin.$i%06d").toPath, f.bytes)
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(tail: Boolean): Unit = {
      val q = spark.readStream.format("binlog")
        .option("tailActive", tail.toString) // count-based when false
        .load(feed.getPath)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= batch
            .filter(col("event_type") === "WriteRowsEventV2")
            .select(explode(col("row_images")).as("img"))
            .select(element_at(col("img"), 1).cast("long"))
            .collect().map(_.getLong(0))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(tail = false) // the existing count-based deployment
    assert(seen.sorted == List(10L, 20L))
    // upgrade in place: the first tail drain translates the
    // count-based offset against the intact listing and commits a
    // suffix-keyed one (upgrade FIRST — a batch must commit in the new
    // posture before retention may purge)
    val f3 = new FileBuilder(checksums = true)
    f3.fde(t0)
    txn(f3, 3L, Seq(30L))
    Files.write(new java.io.File(feed, "mysql-bin.000003").toPath, f3.bytes)
    drain(tail = true)
    assert(seen.sorted == List(10L, 20L, 30L))
    // retention kicks in below the committed frontier; the stream
    // continues from its suffix
    assert(new java.io.File(feed, "mysql-bin.000001").delete())
    assert(new java.io.File(feed, "mysql-bin.000002").delete())
    val f4 = new FileBuilder(checksums = true)
    f4.fde(t0)
    txn(f4, 4L, Seq(40L))
    Files.write(new java.io.File(feed, "mysql-bin.000004").toPath, f4.bytes)
    drain(tail = true)
    assert(seen.sorted == List(10L, 20L, 30L, 40L),
      s"the upgraded, purged consumer must continue exactly-once: $seen")
  }

  test("checkpoint upgrade: a count-based checkpoint drives the tail " +
      "source in place; the reverse (mid-file) is rejected loudly") {
    val root = Files.createTempDirectory("tail_upg").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath

    (1 to 2).foreach { i =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, i.toLong, Seq(i.toLong * 10))
      Files.write(new java.io.File(feed, f"mysql-bin.$i%06d").toPath, f.bytes)
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(tail: Boolean): Unit = {
      val q = spark.readStream.format("binlog")
        .option("tailActive", tail.toString)
        .load(feed.getPath)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= batch
            .filter(col("event_type") === "WriteRowsEventV2")
            .select(explode(col("row_images")).as("img"))
            .select(element_at(col("img"), 1).cast("long"))
            .collect().map(_.getLong(0))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: the EXISTING deployment — count-based, whole files
    drain(tail = false)
    assert(seen.sorted == List(10L, 20L))

    // a new ACTIVE file appears (committed + torn); the deployment
    // flips tailActive=true on the SAME checkpoint — no re-snapshot
    val f3 = new FileBuilder(checksums = true)
    f3.fde(t0)
    txn(f3, 3L, Seq(30L))
    tornTxn(f3, 4L, Seq(99L))
    Files.write(new java.io.File(feed, "mysql-bin.000003").toPath, f3.bytes)
    drain(tail = true)
    assert(seen.sorted == List(10L, 20L, 30L),
      s"the upgraded consumer must continue exactly-once and hold the " +
        s"torn tail: $seen")

    // the checkpoint is now MID-FILE (pos > 0: the torn tail is before
    // EOF) — downgrading to the count-based source must fail loudly,
    // not silently re-serve file 3's consumed prefix
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(tail = false)
    }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(ex).exists(c =>
        Option(c.getMessage).exists(_.contains("keep tailActive=true"))),
      s"downgrade must be rejected with the guidance message, got: $ex")

    // a FILE-BOUNDARY tail checkpoint is refused the same way: rotation
    // closes file 3 (its held-back rows now read to EOF) and the new
    // active file holds no commit yet, so the committed offset sits at
    // the start of file 4 — a suffix, which stops being a listing count
    // as soon as retention purges a file
    val f4 = new FileBuilder(checksums = true)
    f4.fde(t0)
    tornTxn(f4, 5L, Seq(98L))
    Files.write(new java.io.File(feed, "mysql-bin.000004").toPath, f4.bytes)
    drain(tail = true)
    assert(seen.sorted == List(10L, 20L, 30L, 99L), s"got: $seen")
    assert(BinlogTailOps.latestCommittedOffsetJson(ckpt, conf).exists(j =>
        j.contains("\"seq\":4") && j.contains("\"pos\":0")),
      "the tail checkpoint must now sit at a file boundary")
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(tail = false)
    }
    assert(causes(ex2).exists(c =>
        Option(c.getMessage).exists(_.contains("keep tailActive=true"))),
      s"a file-boundary downgrade must be rejected too, got: $ex2")
  }

  test("tail over a MySQL datadir: a mysql-bin.index beside the binlogs " +
      "is refused loudly, never framed as the active file, and no torn " +
      "row leaks") {
    val root = Files.createTempDirectory("tail_datadir").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    (1 to 2).foreach { i =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, i.toLong, Seq(i.toLong * 10))
      Files.write(new java.io.File(feed, f"mysql-bin.$i%06d").toPath, f.bytes)
    }
    val f3 = new FileBuilder(checksums = true)
    f3.fde(t0)
    txn(f3, 3L, Seq(30L))
    tornTxn(f3, 4L, Seq(99L))
    Files.write(new java.io.File(feed, "mysql-bin.000003").toPath, f3.bytes)
    // the server's own list of its binlog files, as every datadir holds
    // it: no numeric suffix, so it sorts after every binlog file
    Files.write(new java.io.File(feed, "mysql-bin.index").toPath,
      (1 to 3).map(i => f"./mysql-bin.$i%06d\n").mkString.getBytes("UTF-8"))

    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val outcome = scala.util.Try {
      spark.readStream.format("binlog")
        .option("tailActive", "true")
        .load(feed.getPath)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= batch
            .filter(col("event_type") === "WriteRowsEventV2")
            .select(explode(col("row_images")).as("img"))
            .select(element_at(col("img"), 1).cast("long"))
            .collect().map(_.getLong(0))
          ()
        }
        .option("checkpointLocation", new java.io.File(root, "ckpt").getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    assert(!seen.contains(99L),
      s"the torn transaction's row must never reach foreachBatch: $seen")
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(outcome.failed.toOption.exists(ex => causes(ex).exists(c =>
        Option(c.getMessage).exists(_.contains("numeric binlog suffixes")))),
      s"a non-binlog file in the watched dir must fail the drain: $outcome")
  }

  test("lagMetrics: splits consumable lag from correctly-held torn " +
      "bytes, reading the consumer's own checkpoint") {
    val root = Files.createTempDirectory("tail_lag").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath

    val f1 = new FileBuilder(checksums = true)
    f1.fde(t0)
    txn(f1, 1L, Seq(1L, 2L))
    val file1 = new java.io.File(feed, "mysql-bin.000001")
    Files.write(file1.toPath, f1.bytes)
    val f2 = new FileBuilder(checksums = true)
    f2.fde(t0)
    val frontier2 = txn(f2, 2L, Seq(3L))
    tornTxn(f2, 3L, Seq(4L))
    val file2 = new java.io.File(feed, "mysql-bin.000002")
    Files.write(file2.toPath, f2.bytes)

    // before any drain: no committed offset — everything committed is
    // lag, the torn tail is held-back
    val before = BinlogTailOps.lagMetrics(spark, feed.getPath, ckpt)
    assert(before.filesConsumed == 0)
    assert(before.committedLagBytes == file1.length() + frontier2)
    assert(before.heldBackBytes == file2.length() - frontier2)

    def drain(): Unit = {
      val q = spark.readStream.format("binlog")
        .option("tailActive", "true")
        .load(feed.getPath)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()

    // drained: zero consumable lag; the torn tail is all that remains,
    // and the frontier names the active file and its event index
    val after = BinlogTailOps.lagMetrics(spark, feed.getPath, ckpt)
    assert(after.filesListed == 2 && after.filesConsumed == 1)
    assert(after.frontierFile == "mysql-bin.000002")
    assert(after.frontierPos == frontier2)
    assert(after.committedLagBytes == 0L,
      s"a drained consumer has no consumable lag: $after")
    assert(after.heldBackBytes == file2.length() - frontier2)
    assert(after.frontierIdx == 6L) // fde+gtid+begin+table_map+rows+xid

    // growth without draining: the torn txn completes and another tears —
    // consumable lag reappears, held-back tracks the NEW torn tail
    val f3 = new FileBuilder(checksums = true)
    f3.fde(t0)
    txn(f3, 2L, Seq(3L))
    val frontier3 = txn(f3, 3L, Seq(4L))
    tornTxn(f3, 4L, Seq(5L))
    val grown = f3.bytes
    Files.write(file2.toPath, grown.slice(file2.length().toInt, grown.length),
      StandardOpenOption.APPEND)
    val lag2 = BinlogTailOps.lagMetrics(spark, feed.getPath, ckpt)
    assert(lag2.committedLagBytes == frontier3 - frontier2,
      s"the completed txn's bytes are consumable lag: $lag2")
    assert(lag2.heldBackBytes == grown.length - frontier3)
  }

  test("lagMetricsUnion: one TailLag per feed of a purge-safe union " +
      "checkpoint, paired in plan order; single-source lagMetrics and " +
      "a feed-count mismatch both refuse loudly") {
    val root = Files.createTempDirectory("tail_lagu").toFile
    val feedA = new java.io.File(root, "feed_a"); feedA.mkdirs()
    val feedB = new java.io.File(root, "feed_b"); feedB.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath

    // feed A: one closed file + an active file, all committed
    val fa1 = new FileBuilder(checksums = true)
    fa1.fde(t0)
    txn(fa1, 1L, Seq(10L))
    Files.write(new java.io.File(feedA, "mysql-bin.000001").toPath, fa1.bytes)
    val fa2 = new FileBuilder(checksums = true)
    fa2.fde(t0)
    txn(fa2, 2L, Seq(11L))
    val fileA2 = new java.io.File(feedA, "mysql-bin.000002")
    Files.write(fileA2.toPath, fa2.bytes)
    // feed B: an active file with a committed txn and a TORN tail
    val fb = new FileBuilder(checksums = true)
    fb.fde(t0)
    val frontierB = txn(fb, 1L, Seq(20L))
    tornTxn(fb, 2L, Seq(21L))
    val fileB = new java.io.File(feedB, "mysql-bin.000101")
    Files.write(fileB.toPath, fb.bytes)

    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit =
      graft.streaming.Drains.drainBinlog(spark, Seq(feedA.getPath, feedB.getPath),
        ckpt, tail = true) { (batch, _) =>
        seen ++= batch
          .filter(col("event_type") === "WriteRowsEventV2")
          .select(explode(col("row_images")).as("img"))
          .select(element_at(col("img"), 1).cast("long"))
          .collect().map(_.getLong(0))
        ()
      }
    drain()
    assert(seen.sorted == List(10L, 11L, 20L),
      s"the union drain must hold back feed B's torn txn: $seen")

    val lags = BinlogTailOps.lagMetricsUnion(spark,
      Seq(feedA.getPath, feedB.getPath), ckpt)
    assert(lags.length == 2)
    val Seq(lagA, lagB) = lags
    assert(lagA.committedLagBytes == 0L && lagA.heldBackBytes == 0L,
      s"feed A is fully drained and has no torn tail: $lagA")
    assert(lagB.committedLagBytes == 0L,
      s"feed B is drained of everything consumable: $lagB")
    assert(lagB.heldBackBytes == fileB.length() - frontierB,
      s"feed B's held-back bytes are exactly its torn tail: $lagB")
    assert(lagB.frontierFile == "mysql-bin.000101" &&
      lagB.frontierPos == frontierB)

    // retention on feed A + growth WITHOUT a drain: consumable lag
    // reappears on A only, and B's row is unchanged — per-source
    // pairing, not a blended number
    assert(new java.io.File(feedA, "mysql-bin.000001").delete())
    val fa3 = new FileBuilder(checksums = true)
    fa3.fde(t0)
    txn(fa3, 2L, Seq(11L))
    val grownTo = txn(fa3, 3L, Seq(12L))
    val grown = fa3.bytes
    Files.write(fileA2.toPath, grown.slice(fa2.bytes.length, grown.length),
      StandardOpenOption.APPEND)
    val lags2 = BinlogTailOps.lagMetricsUnion(spark,
      Seq(feedA.getPath, feedB.getPath), ckpt)
    assert(lags2(0).committedLagBytes == grownTo - fa2.bytes.length,
      s"feed A's new committed txn is consumable lag: ${lags2(0)}")
    assert(lags2(0).filesListed == 1, "the purge really shrank A's listing")
    assert(lags2(1) == lagB, "feed B's lag row must be untouched by A")

    // single-source lagMetrics on a union checkpoint refuses
    val ex1 = intercept[IllegalArgumentException] {
      BinlogTailOps.lagMetrics(spark, feedA.getPath, ckpt)
    }
    assert(ex1.getMessage.contains("lagMetricsUnion"))
    // a feed-count mismatch refuses rather than mispair
    val ex2 = intercept[IllegalArgumentException] {
      BinlogTailOps.lagMetricsUnion(spark, Seq(feedA.getPath), ckpt)
    }
    assert(ex2.getMessage.contains("source offset lines"))
  }

  test("latestCommittedOffsetJsons: a '-' offset line (a source with no " +
      "recorded offset) reads as None, not a parse error") {
    val root = Files.createTempDirectory("tail_dash").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(root, "ckpt")
    // a hand-written checkpoint: source 0 committed a suffix offset,
    // source 1 is still at its initial offset (Spark's OffsetSeq
    // serializes that as the literal '-')
    new java.io.File(ckpt, "offsets").mkdirs()
    new java.io.File(ckpt, "commits").mkdirs()
    Files.write(new java.io.File(ckpt, "offsets/0").toPath,
      "v1\n{}\n{\"seq\":2,\"pos\":0,\"idx\":0,\"ck\":0}\n-\n".getBytes("UTF-8"))
    Files.write(new java.io.File(ckpt, "commits/0").toPath,
      "v1\n{}".getBytes("UTF-8"))
    val jsons = BinlogTailOps.latestCommittedOffsetJsons(
      ckpt.getPath, conf)
    assert(jsons.contains(Seq(
      Some("{\"seq\":2,\"pos\":0,\"idx\":0,\"ck\":0}"), None)))
    // and lagMetricsUnion treats the '-' source as at-initial-offset:
    // its feed's whole committed content is consumable lag
    val f1 = new FileBuilder(checksums = true)
    f1.fde(t0)
    val frontier = txn(f1, 1L, Seq(1L))
    Files.write(new java.io.File(feed, "mysql-bin.000001").toPath, f1.bytes)
    val lags = BinlogTailOps.lagMetricsUnion(spark,
      Seq(feed.getPath, feed.getPath), ckpt.getPath)
    assert(lags(1).filesConsumed == 0 &&
      lags(1).committedLagBytes == frontier,
      s"the '-' source is at the initial offset: ${lags(1)}")
  }

  test("legacy→purgeSafe upgrade: a mid-file frontier whose translated " +
      "file is SHORTER than pos is rejected (a shifted listing), and a " +
      "long-enough file passes") {
    import BinlogTailMicroBatchStream.TailOffset
    val listing = Vector("/x/mysql-bin.000007", "/x/mysql-bin.000008")
    // frontier file long enough: translates to its suffix
    assert(TailOffset.fromJson(
      "{\"n\":0,\"pos\":500,\"idx\":6,\"ck\":4}",
      () => listing, _ => 1000L) == TailOffset(7L, 500L, 6L, 4))
    // frontier file SHORTER than pos: the listing shifted under the
    // index (a purge masked by newer rotations) — refuse loudly
    val ex = intercept[IllegalArgumentException] {
      TailOffset.fromJson(
        "{\"n\":0,\"pos\":500,\"idx\":6,\"ck\":4}",
        () => listing, _ => 200L)
    }
    assert(ex.getMessage.contains("shorter than the frontier pos"))
  }

  test("ReportsSourceMetrics: the drain's progress events carry in-band " +
      "filesBehind/bytesBehind, and the final values cross-check against " +
      "lagMetrics (bytesBehind = committedLag + heldBack)") {
    val root = Files.createTempDirectory("tail_metrics").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath
    (1 to 2).foreach { i =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, i.toLong, Seq(i.toLong * 10))
      Files.write(new java.io.File(feed, f"mysql-bin.$i%06d").toPath, f.bytes)
    }
    val f3 = new FileBuilder(checksums = true)
    f3.fde(t0)
    txn(f3, 3L, Seq(30L))
    tornTxn(f3, 4L, Seq(99L)) // torn forever
    Files.write(new java.io.File(feed, "mysql-bin.000003").toPath, f3.bytes)

    def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val q = spark.readStream.format("binlog")
        .option("tailActive", "true")
        .option("maxFilesPerTrigger", 1)
        .load(feed.getPath)
        .writeStream
        // the batch must EXECUTE for the trigger to report as a data
        // trigger (a no-op foreachBatch rate-limits into the no-data
        // progress path and recentProgress keeps only the last event)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.count(); () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }

    val progress = drain()
    val withBatch = progress.filter(_.numInputRows > 0)
    assert(withBatch.nonEmpty, "the drain must report batch progress")
    def metric(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
        k: String): Long = p.sources.head.metrics.get(k).toLong
    // early batches see the rest of the feed ahead of them, in-band
    assert(metric(withBatch.head, "filesBehind") >= 1,
      s"batch 0 (file 1 of 3) must report files behind: " +
        s"${withBatch.head.sources.head.metrics}")
    assert(metric(withBatch.head, "bytesBehind") >
      metric(withBatch.last, "bytesBehind"),
      "bytesBehind must shrink as the drain catches up")
    // final progress: caught up — behind by exactly the held-back torn
    // tail, which is what lagMetrics splits out
    val lag = BinlogTailOps.lagMetrics(spark, feed.getPath, ckpt)
    assert(lag.committedLagBytes == 0L)
    assert(metric(withBatch.last, "filesBehind") == 0L)
    assert(metric(withBatch.last, "bytesBehind") ==
      lag.committedLagBytes + lag.heldBackBytes,
      s"in-band bytesBehind must equal lagMetrics' committed+held: " +
        s"${withBatch.last.sources.head.metrics} vs $lag")

    // after retention the surface is the same: purge a consumed file,
    // grow the feed, drain — the consumed suffix resolves against the
    // shrunken listing
    assert(new java.io.File(feed, "mysql-bin.000001").delete())
    val f4 = new FileBuilder(checksums = true)
    f4.fde(t0)
    txn(f4, 5L, Seq(50L))
    Files.write(new java.io.File(feed, "mysql-bin.000004").toPath, f4.bytes)
    val progress2 = drain()
    val withBatch2 = progress2.filter(_.numInputRows > 0)
    assert(withBatch2.nonEmpty)
    val lag2 = BinlogTailOps.lagMetrics(spark, feed.getPath, ckpt)
    assert(metric(withBatch2.last, "filesBehind") == 0L)
    assert(metric(withBatch2.last, "bytesBehind") ==
      lag2.committedLagBytes + lag2.heldBackBytes,
      s"in-band metrics after retention must cross-check too: " +
        s"${withBatch2.last.sources.head.metrics} vs $lag2")
  }

  test("ReportsSourceMetrics: a raw serialized offset (what Spark hands " +
      "metrics() when a restart re-executes a pending batch) converts " +
      "via the json form instead of a blind-cast crash") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("tail_serof").toFile
    (1 to 2).foreach { i =>
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, i.toLong, Seq(i.toLong * 10))
      Files.write(new java.io.File(dir, f"mysql-bin.$i%06d").toPath, f.bytes)
    }
    def raw(j: String) =
      new org.apache.spark.sql.connector.read.streaming.Offset {
        override def json(): String = j
      }
    val stream = new BinlogTailMicroBatchStream(
      dir.getPath, BinlogDataSource.schema, Some(1))
    stream.latestOffset(stream.initialOffset(), ReadLimit.maxFiles(1))
    val m = stream.metrics(java.util.Optional.of(
      raw("{\"seq\":2,\"pos\":0,\"idx\":0,\"ck\":0}")))
    assert(m.get("filesBehind") == "0") // file 2 is the active file
    assert(m.get("bytesBehind").toLong > 0L) // its unconsumed bytes
    // LEGACY raw offsets (the upgrade replay) — the index-keyed and the
    // count-based form — translate against the live listing
    val m2 = stream.metrics(java.util.Optional.of(
      raw("{\"n\":1,\"pos\":0,\"idx\":0,\"ck\":0}")))
    assert(m2 == m)
    val m3 = stream.metrics(java.util.Optional.of(raw("{\"n\":1}")))
    assert(m3.get("bytesBehind") == m.get("bytesBehind"))
  }

  test("in-band metrics across the source family: the count-based " +
      "stream reports filesBehind/bytesBehind too, and a UNION drain's " +
      "progress carries one independent metrics map per source") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = Files.createTempDirectory("tail_fammet").toFile
    val feedA = new java.io.File(root, "feed_a"); feedA.mkdirs()
    val feedB = new java.io.File(root, "feed_b"); feedB.mkdirs()
    def writeTxn(feed: java.io.File, seq: Int, k: Long): Long = {
      val f = new FileBuilder(checksums = true)
      f.fde(t0)
      txn(f, k, Seq(k))
      val file = new java.io.File(feed, f"mysql-bin.$seq%06d")
      Files.write(file.toPath, f.bytes)
      file.length()
    }
    val lenA1 = writeTxn(feedA, 1, 1L)
    val lenA2 = writeTxn(feedA, 2, 2L)
    writeTxn(feedB, 101, 10L)

    // the count-based stream's metrics surface, driven directly
    val counted = new BinlogMicroBatchStream(feedA.getPath,
      BinlogDataSource.schema)
    counted.latestOffset(counted.initialOffset(), ReadLimit.maxFiles(1))
    val m0 = counted.metrics(java.util.Optional.empty())
    assert(m0.get("filesBehind") == "2")
    assert(m0.get("bytesBehind").toLong == lenA1 + lenA2)
    val m1 = counted.metrics(java.util.Optional.of(
      new org.apache.spark.sql.connector.read.streaming.Offset {
        override def json(): String = "{\"n\":1}" // raw serialized form
      }))
    assert(m1.get("filesBehind") == "1")
    assert(m1.get("bytesBehind").toLong == lenA2)

    // a two-source union drain: each source's progress row carries its
    // OWN metrics map (feed A fully drained; feed B drained too — both
    // end at zero, but the maps are per-source, not blended)
    val ckpt = new java.io.File(root, "ckpt").getPath
    val q = spark.readStream.format("binlog")
      .option("tailActive", "true").load(feedA.getPath)
      .unionByName(spark.readStream.format("binlog")
        .option("tailActive", "true").load(feedB.getPath))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.count(); () }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val last = q.recentProgress.filter(_.numInputRows > 0).last
    assert(last.sources.length == 2,
      s"a union reports one source progress row per feed: $last")
    last.sources.foreach { s =>
      assert(s.metrics.containsKey("filesBehind") &&
        s.metrics.containsKey("bytesBehind"),
        s"every source row carries the in-band metrics: $s")
    }
  }

  test("cutover marks under failover: the executed-GTID set discards " +
      "the replica's re-served transaction; a positional mark recorded " +
      "on the old server ADMITS it (the cdc73 negative proof)") {
    val dir = Files.createTempDirectory("tail_gtidcut").toFile
    // server A's last file: txn gno=1 (keys 1,2) — the snapshot covers it
    val fA = new FileBuilder(checksums = true)
    fA.fde(t0)
    txn(fA, 1L, Seq(1L, 2L))
    Files.write(new java.io.File(dir, "mysql-bin.000001").toPath, fA.bytes)
    // the snapshot's two candidate marks
    val snap = spark.read.format("binlog")
      .load(new java.io.File(dir, "mysql-bin.000001").getPath)
      .filter(col("event_type") === "WriteRowsEventV2")
    val pm = snap.agg(max(struct(col("file_seq"), col("event_index")))).head()
      .getStruct(0)
    val (posSeq, posIdx) = (pm.getLong(0), pm.getLong(1))
    val execG = snap
      .agg(max(substring_index(col("gtid_next"), ":", -1).cast("long")))
      .head().getLong(0)
    assert(execG == 1L)
    // failover: the replica re-serves gno=1 in a HIGHER-numbered file
    // (different framing), plus a new txn gno=2 (key 3)
    val fB = new FileBuilder(checksums = true)
    fB.fde(t0)
    txn(fB, 1L, Seq(1L))
    txn(fB, 1L, Seq(2L)) // same gtid, regrouped — the replica's batching
    txn(fB, 2L, Seq(3L))
    Files.write(new java.io.File(dir, "mysql-bin.000002").toPath, fB.bytes)
    val replica = spark.read.format("binlog")
      .load(new java.io.File(dir, "mysql-bin.000002").getPath)
      .filter(col("event_type") === "WriteRowsEventV2")
      .select(substring_index(col("gtid_next"), ":", -1).cast("long").as("g"),
        col("file_seq"), col("event_index"),
        explode(col("row_images")).as("img"))
      .select(col("g"), col("file_seq"), col("event_index"),
        element_at(col("img"), 1).cast("long").as("k"))
    // GTID-set cutover: exactly the new transaction survives
    val byGtid = replica.filter(col("g") > execG)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(byGtid.toList == List(3L),
      "the set mark must discard the re-served overlap exactly")
    // positional cutover: the replica's file outranks the recorded
    // position, so the overlap is ADMITTED — keys 1 and 2 double-count
    val byPos = replica.filter(col("file_seq") > posSeq ||
        (col("file_seq") === posSeq && col("event_index") > posIdx))
      .select("k").collect().map(_.getLong(0)).sorted
    assert(byPos.toList == List(1L, 2L, 3L),
      "a positional mark breaks on failover: it re-admits the overlap")
  }

  test("rotation mid-tail: the old active file's remainder past the " +
      "frontier (incl. a trailing ROTATE) is consumed to EOF, the new " +
      "last file is walked; an idle third drain is a no-op") {
    val root = Files.createTempDirectory("tail_rot").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath

    // active file 1: txn A committed, txn B torn at drain 1 (cut 7 bytes
    // into B's XID header — mid-event, the hardest tear)
    val f1 = new FileBuilder(checksums = true)
    f1.fde(t0)
    txn(f1, 1L, Seq(1L, 2L))
    val cut = tornTxn(f1, 2L, Seq(3L))
    f1.event(t0, 16, xidBody(9002L))
    f1.event(t0, 4, rotateBody("mysql-bin.000002")) // the server rotates
    val all1 = f1.bytes
    val file1 = new java.io.File(feed, "mysql-bin.000001")
    Files.write(file1.toPath, all1.slice(0, cut.toInt + 7))

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drain(): Unit = {
      val q = spark.readStream.format("binlog")
        .option("tailActive", "true")
        .load(feed.getPath)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          seen ++= batch
            .filter(col("event_type") === "WriteRowsEventV2")
            .select(explode(col("row_images")).as("img"))
            .select(element_at(col("img"), 1).cast("long"))
            .collect().map(r => (id, r.getLong(0)))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    drain()
    val run1 = seen.toList
    assert(run1.map(_._2).sorted == List(1L, 2L),
      s"drain 1 must hold back torn txn B, got $run1")

    // rotation: file 1 completes (B's XID + ROTATE) and file 2 appears
    // with txn C committed and txn D torn forever
    Files.write(file1.toPath, all1.slice(cut.toInt + 7, all1.length),
      StandardOpenOption.APPEND)
    val f2 = new FileBuilder(checksums = true)
    f2.fde(t0)
    txn(f2, 3L, Seq(4L, 5L))
    tornTxn(f2, 4L, Seq(99L))
    Files.write(new java.io.File(feed, "mysql-bin.000002").toPath, f2.bytes)

    drain()
    val run2 = seen.toList.drop(run1.length)
    assert(run2.map(_._2).sorted == List(3L, 4L, 5L),
      s"drain 2 must deliver B's held-back rows and C exactly once, " +
        s"hold back torn D, and emit no rows for the ROTATE: $run2")
    assert(run2.map(_._1).forall(id => run1.map(_._1).forall(_ < id)),
      "batch ids must continue across the rotation seam")

    // idle drain: nothing grew — no rows may re-emit
    drain()
    assert(seen.length == run1.length + run2.length,
      s"an idle drain must be a no-op, got ${seen.toList}")
  }

  test("end-to-end: bytes appended between two drains on one checkpoint " +
      "arrive exactly once; the torn tail never leaks") {
    val root = Files.createTempDirectory("tail_e2e").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath

    // closed file 1: two committed transactions
    val f1 = new FileBuilder(checksums = true)
    f1.fde(t0)
    txn(f1, 1L, Seq(1L, 2L))
    txn(f1, 2L, Seq(3L))
    Files.write(new java.io.File(feed, "mysql-bin.000001").toPath, f1.bytes)

    // active file 2: txn A committed; txn B torn at drain 1 (cut inside
    // B's XID header); after drain 1 the rest lands: B completes, C
    // commits, D stays torn forever
    val f2 = new FileBuilder(checksums = true)
    f2.fde(t0)
    txn(f2, 10L, Seq(10L, 11L))
    val cut = tornTxn(f2, 11L, Seq(12L, 13L))
    f2.event(t0, 16, xidBody(9011L))
    txn(f2, 12L, Seq(14L))
    tornTxn(f2, 13L, Seq(99L))
    val all = f2.bytes
    val active = new java.io.File(feed, "mysql-bin.000002")
    Files.write(active.toPath, all.slice(0, cut.toInt + 7))

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drain(): Unit = {
      val q = spark.readStream.format("binlog")
        .option("tailActive", "true")
        .load(feed.getPath)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          seen ++= batch
            .filter(col("event_type") === "WriteRowsEventV2")
            .select(explode(col("row_images")).as("img"))
            .select(element_at(col("img"), 1).cast("long"))
            .collect().map(r => (id, r.getLong(0)))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    drain()
    val run1 = seen.toList
    assert(run1.map(_._2).sorted == List(1L, 2L, 3L, 10L, 11L),
      s"drain 1 must hold back torn txn B, got $run1")

    Files.write(active.toPath, all.slice(cut.toInt + 7, all.length),
      StandardOpenOption.APPEND)
    drain()
    val run2 = seen.toList.drop(run1.length)
    assert(run2.map(_._2).sorted == List(12L, 13L, 14L),
      s"drain 2 must deliver B and C exactly once and hold back torn D, got $run2")
    assert(run2.map(_._1).forall(id => run1.map(_._1).forall(_ < id)),
      "batch ids must continue across the restart seam")
  }
}
