package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.{AvroSink, BinlogBinaryParser, BinlogSink}

/** Seed-independent half of the benchmark corpus, written once per
  * workload and checkout with the engine's own writers:
  *
  *  - the binlog: one `lineitem`-shaped INSERT per row through
  *    `BinlogSink.writeChanges`, `rows_per_event` rows per WRITE_ROWS
  *    event, `rows_per_txn` rows per transaction, one file per partition.
  *    It is decoded back with `BinlogBinaryParser`, and the decoded DML
  *    row count must equal the rows written;
  *  - `keys.jsonl`: every WRITE_ROWS key (file, end position, GTID, rows)
  *    in (file, position) order;
  *  - `template/`: through `AvroSink.write`, every Datastream record a
  *    seed can choose, in key order: for each row of each key the MATCH,
  *    MISMATCH_TS (±150 ms), MISMATCH_GTID and MISMATCH_CHANGE_TYPE
  *    variants, then the key's AVRO_ONLY extra one byte past the event's
  *    end (events are >= 19 bytes, so no event ends there). The sync
  *    interval is set to its minimum so that every record is a block of
  *    its own; `perfbench/run.py` picks a seed's records out of it and
  *    re-blocks them into the seed's containers.
  *
  * Hadoop's `.crc` side files and `_SUCCESS` markers are removed: real
  * binlog and Datastream drops carry neither.
  */
object Gen {

  /** BinlogSink stamps every event with this second; Avro times are set
    * around it. */
  val T0Ms: Long = 1714564800000L
  val Schema = "sf"
  val Table = "lineitem"
  /** Variants per row, in template order (run.py indexes records by it);
    * the key's extra follows its last row's variants. */
  val Variants = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("perfbench-gen")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try generate(spark, a) finally spark.stop()
  }

  private def generate(spark: SparkSession, a: Map[String, String]): Unit = {
    import spark.implicits._
    val rows = a("rows").toLong
    val dir = a("binlog")
    val id = col("id")
    val df = spark.range(0L, rows, 1L, a("files").toInt).select(
      lit(1).as("op"),
      id.as("l_orderkey"),
      (id % 7 + 1).cast("int").as("l_linenumber"),
      (id % 50 + 1).cast("double").as("l_quantity"),
      (pmod(xxhash64(id), lit(10000000L)) / 100.0).as("l_extendedprice"),
      expr("substring(sha2(cast(id as string), 256), 1, 10 + cast(id % 33 as int))")
        .as("l_comment"))
    BinlogSink.writeChanges(df, dir, maxLen = 64,
      rowsPerEvent = a("rows_per_event").toInt, table = Table, tableId = 21L,
      rowsPerTxn = a("rows_per_txn").toInt)
    dropSideFiles(Paths.get(dir))

    val ev = BinlogBinaryParser.parse(spark, dir).toDF()
      .select(col("event_type"), col("binlog_file"), col("log_position"),
        col("gtid_next"), size(col("row_images")).as("n"))
      .cache()
    val byType = ev.groupBy("event_type").agg(count(lit(1)).as("events"),
        sum(col("n")).as("rows"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dmlRows = byType.get("WriteRowsEventV2").map(_._2).getOrElse(0L)
    require(dmlRows == rows,
      s"decoded $dmlRows DML rows from $dir, but $rows were written")
    val keys = ev.filter(col("event_type") === "WriteRowsEventV2")
      .select(col("binlog_file"), col("log_position").as("pos"),
        col("gtid_next").as("gtid"), col("n").cast("long").as("nrows"))
      .orderBy("binlog_file", "pos")
      .as[(String, Long, String, Long)].collect()
    ev.unpersist()
    Files.write(Paths.get(a("keys")), keys.map { case (f, p, g, n) =>
      render(Obj(Seq("binlog_file" -> f, "pos" -> p, "gtid" -> g, "nrows" -> n))) + "\n"
    }.mkString.getBytes("UTF-8"))
    template(spark, keys.toSeq, a("template"))

    writeJson(a("result"), Seq(
      "events" -> byType.values.map(_._1).sum,
      "dml_events" -> byType.get("WriteRowsEventV2").map(_._1).getOrElse(0L),
      "dml_rows" -> dmlRows,
      "events_by_type" -> Obj(byType.toSeq.sortBy(_._1).map { case (t, (n, _)) => t -> n })))
  }

  private def template(spark: SparkSession, keys: Seq[(String, Long, String, Long)],
      out: String): Unit = {
    import spark.implicits._
    val file = col("binlog_file")
    val v = col("v")
    val extra = v === Variants
    val h = (salt: String) => xxhash64(lit(salt), file, col("pos"), col("r"))
    // v = 0..3 for each row r < nrows; the extra is r = nrows, v = 4
    val records = keys.zipWithIndex.map { case ((f, p, g, n), k) => (k.toLong, f, p, g, n) }
      .toDF("k", "binlog_file", "pos", "gtid", "nrows")
      .withColumn("r", explode(sequence(lit(0L), col("nrows"))))
      .withColumn("v", explode(when(col("r") < col("nrows"), sequence(lit(0), lit(Variants - 1)))
        .otherwise(array(lit(Variants)))))
    // in-tolerance jitter of -90..90 ms; a timestamp mismatch is ±150 ms,
    // past the CLI's default 100 ms tolerance
    val jitter = pmod(h("drift"), lit(181L)) - 90L
    val ts = lit(T0Ms) + when(v === 1, when(jitter % 2 === 0, 150L).otherwise(-150L))
      .when(extra, 0L)
      .otherwise(jitter)
    spark.sparkContext.hadoopConfiguration.setInt("avro.mapred.sync.interval", 32)
    AvroSink.write(
      records.repartition(1).sortWithinPartitions("k", "r", "v").select(
        lower(hex(h("uuid"))).as("uuid"),
        (ts + 5000L).as("read_timestamp"),
        ts.as("source_timestamp"),
        lit(s"${Schema}_$Table").as("object"),
        lit("mysql-cdc-binlog").as("read_method"),
        lit("projects/bench/locations/local/streams/graft").as("stream_name"),
        struct(lit(Schema).as("database"), lit(Table).as("table"),
          when(v === 3, lit("UPDATE")).otherwise(lit("INSERT")).as("change_type"),
          when(v === 2, concat(col("gtid"), lit("0"))).otherwise(col("gtid")).as("gtid"),
          file,
          (col("pos") + when(extra, 1L).otherwise(0L)).as("binlog_position"),
          lit(false).as("is_deleted"),
          array(lit("l_orderkey"), lit("l_linenumber")).as("primary_keys"))
          .as("source_metadata"),
        struct(pmod(h("k"), lit(6000000L)).as("l_orderkey"),
          (pmod(h("k"), lit(7L)) + 1L).cast("int").as("l_linenumber"),
          (pmod(h("q"), lit(5000L)) / 100.0).as("l_quantity"),
          substring(lower(hex(h("c"))), 1, 12).as("l_comment"))
          .as("payload")),
      out, recordName = "ChangeRecord")
    dropSideFiles(Paths.get(out))
  }

  /** Remove Hadoop's checksum side files and commit markers. */
  private def dropSideFiles(dir: Path): Unit =
    Files.list(dir).iterator().asScala.toList.foreach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".crc") || name == "_SUCCESS") Files.delete(p)
    }

  private[perfbench] final case class Obj(fields: Seq[(String, Any)])

  private def render(v: Any): String = v match {
    case Obj(fs) => fs.map { case (k, x) => s"${quote(k)}: ${render(x)}" }
      .mkString("{", ", ", "}")
    case s: String => quote(s)
    case other => other.toString
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case c => c.toString
    } + "\""

  private[perfbench] def writeJson(path: String, fields: Seq[(String, Any)]): Unit =
    Files.write(Paths.get(path), (render(Obj(fields)) + "\n").getBytes("UTF-8"))
}
