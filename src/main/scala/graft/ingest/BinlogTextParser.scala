package graft.ingest

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, OffsetDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A binlog event as parsed from the decoder's text blocks — the engine's
  * typed projection of the reference's dynamic map (json_parser.go:27,53).
  *
  * Whitelisted keys land in typed columns; everything else goes to `extra`.
  * Deviation from the reference (documented, SURVEY E7): `table`/`schema`
  * stay strings even when numeric-looking, instead of becoming JSON numbers
  * that the strict struct decode would then drop.
  */
case class ParsedBinlogEvent(
    event_type: String,
    timestamp: String,                     // RFC3339 (from `Date`)
    immediate_commmit_timestamp: String,   // sic — on-disk contract
    orignal_commmit_timestamp: String,     // sic
    log_position: Option[Long],
    table: String,
    schema: String,
    query: String,
    gtid_next: String,
    xid: Option[Long],
    binlog_file: String,
    file_seq: Option[Long],                // numeric suffix of binlog_file (E15)
    event_index: Long,                     // block index within the file
    extra: Map[String, String],
    /** Decoded row images (binary source only): one Seq[String] per image,
      * values stringified by column ordinal, SQL NULL as null; UPDATE
      * events alternate before/after images. Empty for the text parser
      * (the decoder text carries no row values). */
    row_images: Seq[Seq[String]] = Nil)

/** S2 + E1–E7 — the stateful text-block parser (SURVEY §2.10): accumulate
  * `key: value` lines under an `=== Header ===` block, flush on the next
  * header or EOF (reference json_parser.go:32-151).
  *
  * This is the one reference construct that doesn't decompose into per-row
  * `Column` expressions, so it runs as a typed flatMap over whole files
  * (`wholetext` read keeps line order without any cross-partition stitching).
  * One task per file: binlog files are bounded (typically ≤1 GB), so at
  * 100 TB the parallelism unit is the file, which is exactly the reference's
  * own unit of work (comparator.sh:85).
  */
object BinlogTextParser {

  /** Read a directory/glob of binlog-decoder text files and parse every block.
    * Files are whole rows (`wholetext`), so blocks never straddle partitions.
    */
  def parse(spark: SparkSession, paths: String*): Dataset[ParsedBinlogEvent] = {
    import spark.implicits._
    spark.read.option("wholetext", true).text(paths: _*)
      .select(input_file_name().as("path"), col("value"))
      .as[(String, String)]
      .flatMap { case (path, text) =>
        val base = path.split('/').last
        parseFile(base, text.linesIterator)
      }
  }

  /** Parse one file's lines (pure function — unit-testable without Spark). */
  def parseFile(binlogFileBasename: String, lines: Iterator[String]): Iterator[ParsedBinlogEvent] = {
    val headerRe = "^=== (.+?) ===$".r
    val kvRe = "^([^:]+): (.+)$".r
    val seq = fileSeq(binlogFileBasename)

    var current: collection.mutable.LinkedHashMap[String, String] = null
    var index = 0L
    val out = collection.mutable.ArrayBuffer.empty[ParsedBinlogEvent]

    def flush(): Unit = if (current != null) {
      out += materialize(current, binlogFileBasename, seq, index)
      index += 1
    }

    lines.map(_.trim).foreach { line =>
      if (line.nonEmpty && line != "--") {                    // P1
        headerRe.findFirstMatchIn(line) match {
          case Some(m) =>                                     // E1 — new block
            flush()
            current = collection.mutable.LinkedHashMap(
              "event_type" -> classifyHeader(m.group(1)))     // E4
          case None if current != null =>
            kvRe.findFirstMatchIn(line).foreach { m =>        // E2
              handleKeyValue(current, m.group(1).trim, m.group(2).trim)
            }
          case None => () // pre-header content: skipped (json_parser.go:70-72)
        }
      }
    }
    flush()
    out.iterator
  }

  /** E4 — canonical V2 DML names win, else strip one trailing "Event"
    * (json_parser.go:55-66). */
  def classifyHeader(h: String): String =
    if (h.contains("WriteRowsEventV2")) "WriteRowsEventV2"
    else if (h.contains("UpdateRowsEventV2")) "UpdateRowsEventV2"
    else if (h.contains("DeleteRowsEventV2")) "DeleteRowsEventV2"
    else h.stripSuffix("Event")

  private val whitelist = Set(
    "Table", "Schema", "Query", "XID", "GTID_NEXT", "Commit flag",
    "LAST_COMMITTED", "SEQUENCE_NUMBER", "Transaction length",
    "Immediate server version", "Orignal server version", "TableID", "Flags",
    "Column count", "Slave proxy ID", "Execution time", "Error code",
    "server_version", "version")

  private val dateLayout = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** One `key: value` line into the event map (json_parser.go:79-139). */
  private def handleKeyValue(
      event: collection.mutable.LinkedHashMap[String, String],
      key: String, value: String): Unit = {
    val normalizedKey = key.toLowerCase.replace(" ", "_")    // E3
    key match {
      case "Date" =>                                         // E5
        try {
          val t = LocalDateTime.parse(value, dateLayout)
          event("timestamp") = t.atOffset(ZoneOffset.UTC)
            .format(DateTimeFormatter.ISO_OFFSET_DATE_TIME)
        } catch { case _: Exception => event(normalizedKey) = value }
      case "Log position" =>
        value.toLongOption match {
          case Some(_) => event("log_position") = value
          case None    => event(normalizedKey) = value
        }
      case "Immediate commmit timestamp" | "Orignal commmit timestamp" => // E6
        event(normalizedKey) = parseHighPrecision(value)
      case "Event type" =>
        if (value.contains("WriteRowsEventV2")) event("event_type") = "WriteRowsEventV2"
        else if (value.contains("UpdateRowsEventV2")) event("event_type") = "UpdateRowsEventV2"
        else if (value.contains("DeleteRowsEventV2")) event("event_type") = "DeleteRowsEventV2"
      case _ =>
        // Whitelist and default arms share try-cast semantics (E7); our typed
        // schema keeps them as strings, so both collapse to a plain store.
        val _ = whitelist // documents intent; storage is uniform
        event(normalizedKey) = value
    }
  }

  /** E6 — the two accepted high-precision layouts (json_parser.go:102-122):
    * (a) a parenthesized `(...Z)` RFC3339Nano suffix, extracted and validated;
    * (b) `2006-01-02 15:04:05.999999999 -0700 MST`, reformatted to
    *     RFC3339Nano. On failure the raw value is kept. */
  def parseHighPrecision(value: String): String = {
    if (value.contains("(") && value.endsWith("Z)")) {
      val start = value.lastIndexOf("(")
      val extracted = value.substring(start + 1, value.length - 1)
      try { OffsetDateTime.parse(extracted); extracted }
      catch { case _: Exception => value }
    } else {
      val re = "^(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2})(\\.\\d+)? ([+-]\\d{4}) ([A-Za-z]+)$".r
      re.findFirstMatchIn(value) match {
        case Some(m) =>
          try {
            val ldt = LocalDateTime.parse(m.group(1), dateLayout)
            val nanos =
              Option(m.group(2)).map(f => (f.drop(1).padTo(9, '0').take(9)).toLong).getOrElse(0L)
            val off = m.group(3)
            val offset = ZoneOffset.of(off.substring(0, 3) + ":" + off.substring(3))
            val odt = ldt.plusNanos(nanos).atOffset(offset)
            formatRfc3339Nano(odt)
          } catch { case _: Exception => value }
        case None => value
      }
    }
  }

  /** Go `time.Format(time.RFC3339Nano)`: fraction without trailing zeros,
    * omitted entirely when zero; `Z` for UTC offset. */
  def formatRfc3339Nano(t: OffsetDateTime): String = {
    val base = t.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    val nanos = t.getNano
    val frac =
      if (nanos == 0) ""
      else "." + f"$nanos%09d".reverse.dropWhile(_ == '0').reverse
    val off =
      if (t.getOffset == ZoneOffset.UTC) "Z" else t.getOffset.getId
    base + frac + off
  }

  private def materialize(
      m: collection.mutable.LinkedHashMap[String, String],
      file: String, fileSeq: Option[Long], index: Long): ParsedBinlogEvent = {
    val typedKeys = Set("event_type", "timestamp", "immediate_commmit_timestamp",
      "orignal_commmit_timestamp", "log_position", "table", "schema", "query",
      "gtid_next", "xid")
    ParsedBinlogEvent(
      event_type = m.getOrElse("event_type", ""),
      timestamp = m.getOrElse("timestamp", ""),
      immediate_commmit_timestamp = m.getOrElse("immediate_commmit_timestamp", ""),
      orignal_commmit_timestamp = m.getOrElse("orignal_commmit_timestamp", ""),
      log_position = m.get("log_position").flatMap(_.toLongOption),
      table = m.getOrElse("table", ""),
      schema = m.getOrElse("schema", ""),
      query = m.getOrElse("query", ""),
      gtid_next = m.getOrElse("gtid_next", ""),
      xid = m.get("xid").flatMap(_.toLongOption),
      binlog_file = file,
      file_seq = fileSeq,
      event_index = index,
      extra = m.filterNot { case (k, _) => typedKeys.contains(k) }.toMap)
  }

  private val SeqSuffix = "\\.(\\d+)$".r

  /** A binlog file's numeric suffix (`mysql-bin.000042` → 42; SURVEY
    * E15), None when the name has none — the one parser every binlog
    * reader, file-pruning rule and tail offset shares. */
  def fileSeq(basename: String): Option[Long] =
    SeqSuffix.findFirstMatchIn(basename).map(_.group(1).toLong)

  /** Input-order sequence for `Comparator.prepareBinlog`: binlog order is
    * (file sequence, block index) — SURVEY §7.6's explicit ordering, safe
    * across repartitions (unlike `monotonically_increasing_id`). */
  def seqColumn: org.apache.spark.sql.Column =
    coalesce(col("file_seq"), lit(0L)) * lit(1L << 40) + col("event_index")

  /** Parsed events → the comparator's binlog input shape. */
  def toComparatorInput(parsed: Dataset[ParsedBinlogEvent]): DataFrame =
    parsed.toDF()
}
