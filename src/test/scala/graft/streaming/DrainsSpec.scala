package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The drain core's redelivery recorder: what it records, where its names
  * route, and the dial its replay runs under. */
class DrainsSpec extends AnyFunSuite with SparkTestSession {

  /** A three-file binlog feed (keys 0..29, range-split by key). */
  private def feed(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("drains_feed").toString
    graft.ingest.BinlogSink.writeKeyedStrings(
      (0 until 30).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(3, col("k")), dir)
    dir
  }

  private def dataFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq

  private def names(batch: DataFrame): Seq[String] =
    batch.select("binlog_file").distinct().collect().map(_.getString(0)).sorted.toSeq

  test("Redelivery: a batch-0 file name present in SEVERAL feeds is " +
      "refused (ambiguous routing would rebuild the replay from one " +
      "shard's copy only)") {
    import spark.implicits._
    val root = Files.createTempDirectory("union_b0").toFile
    val fa = new java.io.File(root, "a"); fa.mkdirs()
    val fb = new java.io.File(root, "b"); fb.mkdirs()
    Files.write(new java.io.File(fa, "mysql-bin.000001").toPath, "x".getBytes)
    val b0 = new Drains.Redelivery(spark, Seq(fa.getPath, fb.getPath))
    b0.record(Seq("mysql-bin.000001").toDF("binlog_file"), 0L)
    var replayed = Seq.empty[Long]
    b0.replay()((_, id) => replayed :+= id)
    assert(replayed == Seq(0L))
    // the same name appears on the second shard too: refuse loudly
    Files.write(new java.io.File(fb, "mysql-bin.000001").toPath, "y".getBytes)
    val ex = intercept[IllegalArgumentException] { b0.replay()((_, _) => ()) }
    assert(ex.getMessage.contains("disjoint"), s"got: $ex")
    // later batches never overwrite the batch-0 record
    b0.record(Seq("mysql-bin.000002").toDF("binlog_file"), 1L)
    intercept[IllegalArgumentException] { b0.replay()((_, _) => ()) } // unchanged
  }

  test("Redelivery records batch 0 only, and only once") {
    val dir = feed()
    val Seq(f1, f2, _) = dataFiles(dir)
    def read(name: String): DataFrame =
      spark.read.format("binlog").load(new java.io.File(dir, name).getPath)
    val rec = new Drains.Redelivery(spark, Seq(dir))
    rec.record(read(f2), 1L) // a later batch
    rec.record(read(f1), 0L)
    rec.record(read(f2), 0L) // batch 0 again (a replay): already recorded
    var seen = Seq.empty[(Seq[String], Long)]
    rec.replay()((b, id) => seen :+= ((names(b), id)))
    assert(seen == Seq((Seq(f1), 0L)))
  }

  test("replay applies the drained batch 0 with id 0 under the drain dial") {
    val dir = feed()
    val ckpt = Files.createTempDirectory("drains_ckpt").toString
    val rec = new Drains.Redelivery(spark, Seq(dir))
    val drained = scala.collection.mutable.Map.empty[Long, Seq[String]]
    Drains.drainBinlog(spark, Seq(dir), ckpt) { (batch, id) =>
      rec.record(batch, id)
      drained(id) = names(batch)
    }
    assert(drained.size == 3, s"one file per batch: $drained")
    val aqe = "spark.sql.adaptive.enabled"
    val split = "spark.sql.files.minPartitionNum"
    val before = spark.conf.get(aqe)
    var seen = Option.empty[(Seq[String], Long, String, Option[String])]
    rec.replay() { (b, id) =>
      seen = Some((names(b), id, spark.conf.get(aqe), spark.conf.getOption(split)))
    }
    assert(seen == Some((drained(0L), 0L, "false", Some("1"))))
    assert(spark.conf.get(aqe) == before, "the dial is restored after the replay")
  }

  test("with nothing recorded, nothing is replayed") {
    var called = false
    val idle = new Drains.Redelivery(spark, Seq(feed()))
    idle.replay()((_, _) => called = true)
    // an empty feed runs no batches, so its drain records nothing
    val empty = Files.createTempDirectory("drains_empty").toString
    val ckpt = Files.createTempDirectory("drains_ckpt").toString
    val rec = new Drains.Redelivery(spark, Seq(empty))
    Drains.drainBinlog(spark, Seq(empty), ckpt)(rec.record)
    rec.replay()((_, _) => called = true)
    assert(!called)
  }
}
