package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ingest.BinlogBinaryParser

/** The fixture writers of the CDC kits — the closed bulk history of the
  * tail-feed kit ([[CdcFixtures.writeBulk]]), the IVM ΔA feed, the
  * two-table demux installments and [[graft.streaming.Drains.deliver]]:
  * their files are a function of the rows alone, not of the session's
  * history, so a feed digest can be compared across gates run in one JVM.
  */
class CdcFixturesSpec extends AnyFunSuite with SparkTestSession {

  // the (k, v) shape of CdcFixtures.tailBase, over several input partitions
  private def rows = spark.range(0L, 20000L, 1L, 4)
    .select((col("id") * 3).as("k"), concat(lit("u"), col("id") % 97).as("v"))

  private def feedBytes(feed: java.io.File): Map[String, Array[Byte]] =
    feed.listFiles().filter(!_.getName.startsWith(".")).map(f =>
      f.getName -> Files.readAllBytes(f.toPath)).toMap

  private def digests(files: Map[String, Array[Byte]]): Map[String, String] =
    files.map { case (name, bytes) => name ->
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map(b => f"${b & 0xff}%02x").mkString }

  // other RDDs in between, range-partitioned ones among them
  private def otherJobs(): Unit = (1 to 3).foreach { i =>
    spark.range(0L, 5000L * i).repartitionByRange(3, col("id")).count()
    spark.sparkContext.parallelize(1 to 100).map(_ * i).sum()
  }

  test("writeBulk writes byte-identical files however many jobs ran before") {
    val root = Files.createTempDirectory("bulkstable").toFile
    val first = new java.io.File(root, "a")
    val second = new java.io.File(root, "b")
    CdcFixtures.writeBulk(rows, live = 4, files = 3, first.getPath, fileSeqStart = 5)
    otherJobs()
    CdcFixtures.writeBulk(rows, live = 4, files = 3, second.getPath, fileSeqStart = 5)
    val a = feedBytes(first)
    assert(a.keySet == Set("mysql-bin.000005", "mysql-bin.000006", "mysql-bin.000007"))
    assert(digests(feedBytes(second)) == digests(a))

    // each file holds one k range, in ascending k, and together every bulk row
    val keys = a.toSeq.sortBy(_._1).map { case (name, bytes) =>
      BinlogBinaryParser.decodeFile(bytes, name)
        .filter(_.event_type == "WriteRowsEventV2")
        .flatMap(_.row_images.map(_.head.toLong)).toSeq
    }
    keys.foreach(ks => assert(ks == ks.sorted))
    keys.sliding(2).foreach { case Seq(lo, hi) => assert(lo.last < hi.head) }
    val expected = (0L until 20000L).map(_ * 3).filter(_ % 131 >= 4)
    assert(keys.flatten == expected)
  }

  test("the IVM ΔA feed is byte-identical however many jobs ran before") {
    val root = Files.createTempDirectory("ivmstable").toFile
    val orders = spark.range(0L, 6000L, 1L, 4).select(col("id").as("o_orderkey"),
      concat(lit("p"), col("id") % 5).as("o_orderpriority"))
    val fx = CdcFixtures.IvmFixture(orders, orders, orders,
      orders.filter(col("o_orderkey") % 5 === 0), orders, orders)
    fx.writeDelta(new java.io.File(root, "a").getPath)
    otherJobs()
    fx.writeDelta(new java.io.File(root, "b").getPath)
    val a = feedBytes(new java.io.File(root, "a"))
    assert(a.size == 4)
    assert(digests(feedBytes(new java.io.File(root, "b"))) == digests(a))
  }

  test("the two-table demux installments are byte-identical however many jobs ran before") {
    val root = Files.createTempDirectory("demuxstable").toFile
    val base = spark.range(0L, 3000L, 1L, 4)
      .select((col("id") * 7).as("k"), (col("id") % 97).as("user_id"))
    def stage(tag: String): java.io.File = {
      val feed = new java.io.File(root, s"feed_$tag")
      new CdcFixtures.Demux(base, new java.io.File(root, tag)).stageHalves(feed.getPath)
      feed
    }
    val a = feedBytes(stage("a"))
    otherJobs()
    val b = feedBytes(stage("b"))
    assert(a.keySet == (1 to 4).map(i => f"mysql-bin.$i%06d").toSet)
    assert(digests(b) == digests(a))
    // the installments alternate tables, split at max(k) / 2
    val tables = a.toSeq.sortBy(_._1).map { case (name, bytes) =>
      val rows = BinlogBinaryParser.decodeFile(bytes, name)
        .filter(_.event_type == "WriteRowsEventV2").toSeq
      (rows.map(_.table).distinct, rows.flatMap(_.row_images.map(_.head.toLong)))
    }
    assert(tables.map(_._1) == Seq(Seq("ta"), Seq("tb"), Seq("ta"), Seq("tb")))
    val mid = 2999L * 7 / 2
    assert(tables.map(_._2).map(ks => ks.forall(_ <= mid)) == Seq(true, true, false, false))
  }

  test("deliver moves a staged set whole: same names and bytes, sidecars stay") {
    val root = Files.createTempDirectory("deliverstable").toFile
    def stagedAndDelivered(tag: String)
        : (Map[String, Array[Byte]], Seq[java.io.File], java.io.File, java.io.File) = {
      val staging = new java.io.File(root, s"stage_$tag")
      val feed = new java.io.File(root, s"feed_$tag")
      CdcFixtures.writeBulk(rows, live = 4, files = 3, staging.getPath)
      val staged = feedBytes(staging)
      (staged, graft.streaming.Drains.deliver(staging.getPath, feed.getPath), staging, feed)
    }
    val (stagedA, movedA, stagingA, feedA) = stagedAndDelivered("a")
    otherJobs()
    val (_, movedB, _, feedB) = stagedAndDelivered("b")
    assert(movedA.map(_.getName) == stagedA.keySet.toSeq.sorted)
    assert(movedA.forall(_.getParentFile == feedA))
    assert(digests(feedBytes(feedA)) == digests(stagedA))
    assert(movedB.map(_.getName) == movedA.map(_.getName))
    assert(digests(feedBytes(feedB)) == digests(feedBytes(feedA)))
    // nothing visible is left behind; the hidden sidecars stay where they were
    val left = stagingA.listFiles().toSeq
    assert(left.forall(_.getName.startsWith(".")))
    assert(left.nonEmpty)
    assert(feedA.listFiles().forall(f => !f.getName.startsWith(".")))
  }
}
