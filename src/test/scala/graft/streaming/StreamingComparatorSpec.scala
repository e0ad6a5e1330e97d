package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.cdc.{Comparator, Schemas}
import graft.ingest.Sources

/** Stream-static CDC comparison: the Avro feed as a file-source stream
  * against a static binlog snapshot, asserting per-row statuses match the
  * batch comparator's semantics for the streamable status family.
  */
class StreamingComparatorSpec extends AnyFunSuite with SparkTestSession {
  import Schemas.Status

  private val binlogLines = Seq(
    """{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":1000,"binlog_file":"mysql-bin.000001"}""",
    """{"event_type":"UpdateRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":2000,"binlog_file":"mysql-bin.000001"}""")

  private def avroLine(pos: Long, tsMs: Long) =
    s"""{"source_timestamp":$tsMs,"source_metadata":{"database":"shop","table":"orders","binlog_file":{"string":"mysql-bin.000001"},"binlog_position":{"long":$pos},"primary_keys":["id"]},"payload":{}}"""

  test("micro-batch emits MATCH / MISMATCH_TS / AVRO_ONLY with batch semantics") {
    val t0 = 1714564800000L // 2024-05-01T12:00:00Z
    val dir = Files.createTempDirectory("cdcstream").toFile
    val binlogFile = new java.io.File(dir, "binlog_metadata.json")
    Files.write(binlogFile.toPath, binlogLines.mkString("\n").getBytes)
    val streamDir = new java.io.File(dir, "avro"); streamDir.mkdirs()
    Files.write(new java.io.File(streamDir, "batch1.json").toPath, Seq(
      avroLine(1000, t0 + 50),   // MATCH
      avroLine(2000, t0 + 500),  // MISMATCH_TS
      avroLine(3000, t0)         // AVRO_ONLY
    ).mkString("\n").getBytes)

    // The static side of a stream-static join must avoid expressions the
    // streaming checker rejects (e.g. monotonically_increasing_id) — use a
    // stable input-order column, as BinlogTextParser.seqColumn does.
    val binlogStatic = Comparator.prepareBinlog(
      Sources.binlogJson(spark, binlogFile.getPath)
        .filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      col("log_position"))

    val avroStream = Comparator.prepareAvro(Comparator.flattenWrappedAvro(
      StreamingComparator.avroJsonStream(spark, streamDir.getPath)
        .drop("_corrupt_record")))

    val q = StreamingComparator.compareStream(avroStream, binlogStatic)
      .select("position", "status")
      .writeStream.format("memory").queryName("cdc_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val rows = spark.table("cdc_stream").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(
      1000L -> Status.Match,
      2000L -> Status.MismatchTs,
      3000L -> Status.AvroOnly))
  }

  test("stream-static BAND mode matches the default path's statuses (and widens with tolerance)") {
    val t0 = 1714564800000L
    val dir = Files.createTempDirectory("cdcband").toFile
    val binlogFile = new java.io.File(dir, "binlog_metadata.json")
    Files.write(binlogFile.toPath, binlogLines.mkString("\n").getBytes)
    val streamDir = new java.io.File(dir, "avro"); streamDir.mkdirs()
    Files.write(new java.io.File(streamDir, "batch1.json").toPath, Seq(
      avroLine(1000, t0 + 50),   // in band at tol 100
      avroLine(2000, t0 + 500),  // out of band at 100, IN at 1000
      avroLine(3000, t0)         // AVRO_ONLY either way
    ).mkString("\n").getBytes)
    val binlogStatic = Comparator.prepareBinlog(
      Sources.binlogJson(spark, binlogFile.getPath)
        .filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      col("log_position"))
    def drain(tol: Long, name: String): Map[Long, String] = {
      val avroStream = Comparator.prepareAvro(Comparator.flattenWrappedAvro(
        StreamingComparator.avroJsonStream(spark, streamDir.getPath)
          .drop("_corrupt_record")))
      val q = StreamingComparator.compareStreamBandSweep(avroStream, binlogStatic,
          Seq(tol))
        .select("position", "status")
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.table(name).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(drain(100L, "cdc_band100") == Map(
      1000L -> Status.Match,
      2000L -> Status.MismatchTs,
      3000L -> Status.AvroOnly))
    assert(drain(1000L, "cdc_band1000") == Map(
      1000L -> Status.Match,
      2000L -> Status.Match, // Δ=500ms inside the 1000ms band
      3000L -> Status.AvroOnly))
  }

  test("stream-stream join pairs in-window events; AVRO_ONLY after watermark") {
    val t0 = 1714564800000L
    val dir = Files.createTempDirectory("cdcss").toFile
    val bDir = new java.io.File(dir, "binlog"); bDir.mkdirs()
    val aDir = new java.io.File(dir, "avro"); aDir.mkdirs()

    def put(d: java.io.File, name: String, content: String, mtime: Long): Unit = {
      val f = new java.io.File(d, name)
      Files.write(f.toPath, content.getBytes)
      assert(f.setLastModified(mtime))
    }
    val w0 = System.currentTimeMillis() - 60000
    // batch cadence: binlog event for pos 1000 arrives AFTER its avro record
    // (but within maxSkew); pos 3000 never gets a binlog partner; a far-
    // future avro record finally advances both watermarks past everything.
    put(aDir, "a1.json",
      Seq(avroLine(1000, t0 + 50), avroLine(3000, t0)).mkString("\n"), w0)
    put(bDir, "b1.json", binlogLines.head, w0 + 1000) // pos 1000 event
    val far = t0 + 3600L * 1000 * 24
    put(aDir, "a2.json", avroLine(999999, far), w0 + 2000)
    put(bDir, "b2.json",
      s"""{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-02T12:00:10Z","log_position":888888,"binlog_file":"mysql-bin.000001"}""",
      w0 + 3000)

    val binlogStream = Comparator.normalizeBinlog(
      spark.readStream.schema(Schemas.binlogReadSchema)
        .option("maxFilesPerTrigger", 1).json(bDir.getPath)
        .drop("_corrupt_record"))
    val avroStream = Comparator.prepareAvro(Comparator.flattenWrappedAvro(
      spark.readStream.schema(Schemas.avroWrappedReadSchema)
        .option("maxFilesPerTrigger", 1).json(aDir.getPath)
        .drop("_corrupt_record")))

    val q = StreamingComparator.compareStreams(
        avroStream, binlogStream, maxSkew = "10 minutes", watermarkDelay = "1 second")
      .select("position", "status")
      .writeStream.format("memory").queryName("cdc_ss")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val rows = spark.table("cdc_ss").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.get(1000L).contains(Status.Match))      // paired across batches
    assert(rows.get(3000L).contains(Status.AvroOnly))   // watermark passed, no partner
  }

  test("stream + terminal reconciliation == batch statuses, unparseable class included") {
    val t0 = 1714564800000L
    val dir = Files.createTempDirectory("cdcparity").toFile
    val bDir = new java.io.File(dir, "binlog"); bDir.mkdirs()
    val aDir = new java.io.File(dir, "avro"); aDir.mkdirs()

    val bLines = Seq(
      // MATCH partner
      s"""{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:00Z","log_position":1000,"binlog_file":"mysql-bin.000001"}""",
      // BOTH timestamps unparseable — batch says MISMATCH_TS (Go zero time)
      s"""{"event_type":"UpdateRowsEventV2","immediate_commmit_timestamp":"","log_position":2000,"binlog_file":"mysql-bin.000001"}""",
      // DML with no avro partner — BINLOG_ONLY
      s"""{"event_type":"DeleteRowsEventV2","immediate_commmit_timestamp":"2024-05-01T12:00:01Z","log_position":4000,"binlog_file":"mysql-bin.000001"}""",
      // non-DML with no partner — BINLOG_ONLY_SUPPRESSED
      s"""{"event_type":"XID","immediate_commmit_timestamp":"2024-05-01T12:00:02Z","log_position":5000,"binlog_file":"mysql-bin.000001"}""")
    val aLines = Seq(
      avroLine(1000, t0 + 50),  // MATCH
      avroLine(2000, t0),       // partner unparseable → MISMATCH_TS in batch
      avroLine(3000, t0))       // AVRO_ONLY
    // far-future rows advance both watermarks past everything above; they
    // are excluded from the parity key set (a live stream would keep
    // advancing on its own)
    val far = t0 + 3600L * 1000 * 24
    val bFar = s"""{"event_type":"WriteRowsEventV2","immediate_commmit_timestamp":"2024-05-02T12:00:10Z","log_position":888888,"binlog_file":"mysql-bin.000001"}"""

    def put(d: java.io.File, name: String, content: String, mtime: Long): Unit = {
      val f = new java.io.File(d, name)
      Files.write(f.toPath, content.getBytes)
      assert(f.setLastModified(mtime))
    }
    val w0 = System.currentTimeMillis() - 60000
    put(bDir, "b1.json", bLines.mkString("\n"), w0)
    put(aDir, "a1.json", aLines.mkString("\n"), w0)
    put(aDir, "a2.json", avroLine(999999, far), w0 + 1000)
    put(bDir, "b2.json", bFar, w0 + 2000)

    // ---- batch truth
    val bBatch = Sources.binlogJson(spark, bDir.getPath + "/*.json")
      .filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val aBatch = Comparator.flattenWrappedAvro(
      spark.read.schema(Schemas.avroWrappedReadSchema).json(aDir.getPath)
        .drop("_corrupt_record"))
    val batch = Comparator.compare(
        Comparator.prepareBinlog(bBatch, col("log_position")),
        Comparator.prepareAvro(aBatch))
      .select("position", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // ---- streaming pipeline: parity entry + terminal reconciliation
    val binlogStream = Comparator.normalizeBinlog(
      spark.readStream.schema(Schemas.binlogReadSchema)
        .option("maxFilesPerTrigger", 1).json(bDir.getPath)
        .drop("_corrupt_record"))
    val avroStream = Comparator.prepareAvro(Comparator.flattenWrappedAvro(
      spark.readStream.schema(Schemas.avroWrappedReadSchema)
        .option("maxFilesPerTrigger", 1).json(aDir.getPath)
        .drop("_corrupt_record")))
    val (main, _) = StreamingComparator.compareStreamsWithParity(
      avroStream, binlogStream, maxSkew = "10 minutes", watermarkDelay = "1 second")
    val q = main.writeStream.format("memory").queryName("cdc_parity")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // terminal reconciliation runs as BATCH over the same snapshot
    val untimedBatch = StreamingComparator
      .partitionUnparseableBinlog(Comparator.normalizeBinlog(bBatch))._2
    val reclassified = StreamingComparator.reclassifyUnparseable(
      spark.table("cdc_parity"), untimedBatch)
    val seen = aBatch.select("binlog_file", "binlog_position")
    val reconciled = StreamingComparator.reconcileBinlogOnly(
      Comparator.prepareBinlog(bBatch, col("log_position")), seen)

    val streamed = (reclassified.select("position", "status").collect() ++
        reconciled.select("position", "status").collect())
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    val keys = Set(1000L, 2000L, 3000L, 4000L, 5000L)
    assert(streamed.view.filterKeys(keys).toMap
      == batch.view.filterKeys(keys).toMap)
    assert(batch(2000L) == Status.MismatchTs) // the class under test
  }

  test("partitionUnparseableBinlog splits rows with no usable event time") {
    val spark2 = spark
    import spark2.implicits._
    val normalized = Comparator.normalizeBinlog(Seq(
      ("WriteRowsEventV2", "2024-05-01T12:00:00Z", "", 10L, "mysql-bin.000001"),
      ("WriteRowsEventV2", "", "2024-05-01T12:00:01Z", 11L, "mysql-bin.000001"),
      ("WriteRowsEventV2", "", "not-a-timestamp", 12L, "mysql-bin.000001"),
      ("WriteRowsEventV2", "", "", 13L, "mysql-bin.000001"),
    ).toDF("event_type", "immediate_commmit_timestamp", "timestamp",
      "log_position", "binlog_file"))
    val (timed, untimed) = StreamingComparator.partitionUnparseableBinlog(normalized)
    assert(timed.select("log_position").as[Long].collect().sorted.toSeq == Seq(10L, 11L))
    assert(untimed.select("log_position").as[Long].collect().sorted.toSeq == Seq(12L, 13L))
  }

  test("end-of-stream reconciliation reports unmatched DML as BINLOG_ONLY") {
    val spark2 = spark
    import spark2.implicits._
    val binlogStatic = Comparator.prepareBinlog(
      Seq(
        ("WriteRowsEventV2", "2024-05-01T12:00:00Z", 1000L, "mysql-bin.000001"),
        ("DeleteRowsEventV2", "2024-05-01T12:00:01Z", 2000L, "mysql-bin.000001"),
        ("XID", "2024-05-01T12:00:02Z", 3000L, "mysql-bin.000001")
      ).toDF("event_type", "immediate_commmit_timestamp", "log_position", "binlog_file")
        .withColumn("timestamp", lit(""))
        .withColumn("orignal_commmit_timestamp", lit(""))
        .withColumn("gtid_next", lit(""))
        .withColumn("table", lit("t")).withColumn("schema", lit("s"))
        .withColumn("xid", lit(null).cast("long")),
      col("log_position"))
    val seen = Seq(("mysql-bin.000001", 1000L))
      .toDF("binlog_file", "binlog_position")

    val rec = StreamingComparator.reconcileBinlogOnly(binlogStatic, seen)
      .collect().map(r => r.getAs[Long]("position") -> r.getAs[String]("status")).toMap
    assert(rec == Map(
      2000L -> Status.BinlogOnly,
      3000L -> Status.BinlogOnlySuppressed))
  }
}
