package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ingest.BinlogBinaryParser

/** The closed bulk history of the tail-feed kit ([[CdcFixtures.writeBulk]]):
  * its files are a function of the rows alone, not of the session's
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

  test("writeBulk writes byte-identical files however many jobs ran before") {
    val root = Files.createTempDirectory("bulkstable").toFile
    val first = new java.io.File(root, "a")
    val second = new java.io.File(root, "b")
    CdcFixtures.writeBulk(rows, live = 4, files = 3, first.getPath, fileSeqStart = 5)
    // other RDDs in between, range-partitioned ones among them
    (1 to 3).foreach { i =>
      spark.range(0L, 5000L * i).repartitionByRange(3, col("id")).count()
      spark.sparkContext.parallelize(1 to 100).map(_ * i).sum()
    }
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
}
