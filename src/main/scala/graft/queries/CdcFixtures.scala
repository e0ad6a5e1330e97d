package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Fixture builders shared by the CDC and lifecycle query families (the
  * [[graft.streaming.Drains]] pattern applied to query-domain fixtures:
  * a dedicated shared object, so neither family imports the other's
  * scaffolds).
  *
  *   - [[fixtureBase]] — the `events` projection every wire-fixture gate
  *     synthesizes from;
  *   - [[IvmFixture]]/[[ivmFixture]]/[[decodeIvmDelta]]/[[ivmReport]] —
  *     q66's incremental-view splits, shared by every consumer of q66's
  *     oracle (q66 itself, cdc45/48 in CdcQueries, cdc51/53/58/59 in
  *     LifecycleQueries) so none can drift from the decomposition the
  *     oracle gates;
  *   - the tail-feed kit the binlog-tail gates (cdc56, cdc58, cdc63–cdc74,
  *     cdc79) build their feeds and reports from:
  *     - [[tailBase]] — the `(k, v)` rows; [[writeBulk]] — the closed,
  *       sink-written history; [[boundedClasses]] — the driver-side
  *       fixture classes `k % 131`;
  *     - [[TailFeedWriter]] with [[Txn]]/[[txns]] — crafted files:
  *       [[TailFeedWriter.file]], the torn active file
  *       ([[TailFeedWriter.tornFile]], [[TailFeedWriter.activeFile]] as
  *       [[Installments]]) and the failover pair
  *       ([[TailFeedWriter.failoverPair]]) under a [[serverSid]];
  *       [[writeFeedFile]] delivers a crafted file;
  *     - [[writtenKeys]]/[[imageKeys]] — the applied `k` of a decoded
  *       batch; [[classLabel]], [[census]], [[stateCensus]] — the report.
  */
object CdcFixtures {

  /** The `events` projection the wire-fixture gates synthesize from. */
  def fixtureBase(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      expr("ts div 1000000000").as("sec"))

  /** q66's fixture splits, shared by cdc45/cdc48 so the three consumers
    * of q66's oracle (q66 itself, the streaming IVM, the idempotent
    * sink) cannot drift from the decomposition the oracle gates. */
  case class IvmFixture(orders: DataFrame, line: DataFrame,
      aBase: DataFrame, aDelta: DataFrame,
      bBase: DataFrame, bDelta: DataFrame) {
    def partials(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("c")).as("cents"), count(lit(1)).as("n"))
  }

  def ivmFixture(spark: SparkSession, dir: String): IvmFixture = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val line = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), Tables.cents(col("l_extendedprice")).as("c"))
    IvmFixture(orders, line,
      orders.filter(col("o_orderkey") % 5 =!= 0),
      orders.filter(col("o_orderkey") % 5 === 0),
      line.filter(col("l_orderkey") % 7 =!= 0),
      line.filter(col("l_orderkey") % 7 === 0))
  }

  /** The binlog-decoded ΔA projection cdc45/cdc48 share. */
  def decodeIvmDelta(batch: DataFrame): DataFrame = batch
    .filter(col("event_type") === "WriteRowsEventV2")
    .select(explode(col("row_images")).as("img"))
    .select(element_at(col("img"), 1).cast("long").as("o_orderkey"),
      element_at(col("img"), 2).as("o_orderpriority"))

  /** A gate's fixture classes in `ms` order, from ONE collect: the rows
    * of `base` (shape `(k BIGINT, v)`) with `k % modulus == m`,
    * k-ascending, each capped — mid-event tears are exactly what the
    * distributed sink refuses to produce, so these classes are built
    * driver-side and must stay bounded test vectors. One ordered scan of
    * `k % modulus ∈ ms` is split per class driver-side; the combined
    * limit keeps the collect bounded (if it truncates, some class blew
    * its cap, and the per-class require reports it). */
  def boundedClasses(base: DataFrame, gate: String, ms: Seq[Long],
      modulus: Long = 131L, cap: Int = 200000)
      : Seq[Array[Row]] = {
    val rs = base.filter((col("k") % modulus).isin(ms.map(Long.box): _*))
      .orderBy("k")
      .limit(ms.size * cap + 1).collect()
    // Scala's % matches Spark's (sign of the dividend) — the driver-side
    // split classifies exactly the rows the filter admitted
    val byClass = rs.groupBy(_.getLong(0) % modulus)
    ms.map { m =>
      val cls = byClass.getOrElse(m, Array.empty[Row])
      require(cls.length <= cap,
        s"$gate fixture class $m must stay a bounded test vector, got " +
          s"${cls.length} rows (cap $cap)")
      cls
    }
  }

  /** The `(k BIGINT, v STRING)` rows most binlog-tail gates write: the
    * fixture base's DML events keyed by `event_id`, payload `u<user_id>`. */
  def tailBase(spark: SparkSession, dir: String): DataFrame =
    fixtureBase(spark, dir)
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("event_id").as("k"), concat(lit("u"), col("user_id")).as("v"))

  /** The closed history a tail gate delivers up front: the rows of `rows`
    * outside the first `live` fixture classes (`k % 131 >= live`),
    * split into `files` equal-width `k` ranges, one sink-written file of
    * 50-row transactions per range in ascending `k`, numbered from
    * `fileSeqStart`. The ranges come from the data's own `k` bounds, not
    * from a sample, so the files are byte-identical however many jobs
    * the session ran before. */
  def writeBulk(rows: DataFrame, live: Int, files: Int, feed: String,
      fileSeqStart: Int = 1): Unit = {
    val bulk = rows.filter(col("k") % 131 >= live)
    val bounds = bulk.agg(min(col("k")), max(col("k"))).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 0L)
      else (bounds.getAs[Number](0).longValue, bounds.getAs[Number](1).longValue)
    val range = ((col("k") - lo) * files / (hi - lo + 1)).cast("int")
    graft.ingest.BinlogSink.writeChanges(
      bulk.select(lit(1).as("op"), col("k"), col("v"))
        .repartitionById(files, range)
        .sortWithinPartitions(col("k")),
      feed, rowsPerTxn = 50, fileSeqStart = fileSeqStart)
  }

  /** Writes a crafted file `name` into `feed`. */
  def writeFeedFile(feed: String, name: String, bytes: Array[Byte]): Unit =
    java.nio.file.Files.write(new java.io.File(feed, name).toPath, bytes)

  /** The first column of every row image of `rows` (decoded row events)
    * as `k`. */
  def imageKeys(rows: DataFrame): DataFrame =
    rows.select(explode(col("row_images")).as("img"))
      .select(element_at(col("img"), 1).cast("long").as("k"))

  /** [[imageKeys]] of the WRITE_ROWS events of a decoded binlog batch. */
  def writtenKeys(events: DataFrame): DataFrame =
    imageKeys(events.filter(col("event_type") === "WriteRowsEventV2"))

  /** The fixture-class label of `k`: `labels(m)` for `k % 131 == m`,
    * "bulk" for every other row. */
  def classLabel(labels: Seq[String]): Column =
    labels.zipWithIndex.tail
      .foldLeft(when(col("k") % 131 === 0, labels.head)) {
        case (c, (label, m)) => c.when(col("k") % 131 === m, label)
      }
      .otherwise("bulk")

  /** Rows and key sum per `src` of `labeled` (columns `k`, `src`), split
    * first by shard `k % shards` when there is more than one. */
  def census(labeled: DataFrame, shards: Int = 1): DataFrame = {
    val by = (if (shards > 1) Seq("shard") else Nil) :+ "src"
    (if (shards > 1) labeled.withColumn("shard", (col("k") % shards).cast("long"))
      else labeled)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("k_sum"))
      .orderBy(by.map(col): _*)
  }

  /** [[census]] of a `(k)` key state, labelled by [[classLabel]]. */
  def stateCensus(spark: SparkSession, state: String, labels: Seq[String],
      shards: Int = 1): DataFrame =
    census(graft.streaming.ViewMaintenance
      .readState(spark, state, "k BIGINT, batch_id BIGINT")
      .withColumn("src", classLabel(labels)), shards)

  /** Server id bytes `1 + offset … 16 + offset`: offset 0 is the sink's
    * own server, any other offset a second server or shard. */
  def serverSid(offset: Int): Array[Byte] =
    (1 to 16).map(b => (b + offset).toByte).toArray

  /** One crafted transaction: GTID `gno`, `rows` of table `sf.<table>`
    * grouped `perEvent` to a rows event, then XID `xid` — none when
    * `commit = false`, which leaves it torn. */
  final case class Txn(gno: Long, xid: Long, rows: Array[Row],
      perEvent: Int = 100, commit: Boolean = true,
      table: String = "delta", tableId: Long = 11L)

  /** A crafted file that appears in two installments: the first `cut`
    * bytes, then the rest appended — the server's growth between two
    * drains. */
  final case class Installments(file: java.io.File, bytes: Array[Byte], cut: Int) {
    def writeFirst(): Unit =
      java.nio.file.Files.write(file.toPath, bytes.slice(0, cut))
    def append(): Unit =
      java.nio.file.Files.write(file.toPath, bytes.slice(cut, bytes.length),
        java.nio.file.StandardOpenOption.APPEND)
  }

  /** One committed [[Txn]] per class, at gnos `gno, gno + step, …` and
    * xids `xid, xid + step, …`. */
  def txns(classes: Seq[Array[Row]], gno: Long, xid: Long,
      step: Long = 1L): Seq[Txn] =
    classes.zipWithIndex.map { case (rs, i) =>
      Txn(gno + i * step, xid + i * step, rs)
    }

  /** Byte-level feed writer for the `(k BIGINT, v)` rows of the tail
    * gates, `v` a VARCHAR or a BIGINT: the VARCHAR bound is derived from
    * ALL `classes` up front, so every file a gate writes shares one column
    * definition; transactions are GTID/BEGIN/(TABLE_MAP+ROWS)…/XID. In
    * [[file]], [[tornFile]] and their wrappers an empty class skips its
    * transaction, and a writer whose classes are all empty writes no file
    * at all. */
  final class TailFeedWriter(classes: Seq[Array[Row]],
      sid: Array[Byte] = serverSid(0)) {
    import graft.ingest.BinlogBinaryWriter._

    private val t0 = 1714564800L
    private val bound = math.max(20,
      classes.flatten.collect { case Row(_, v: String) => v.getBytes("UTF-8").length }
        .foldLeft(0)(math.max) + 16)
    private def cols(r: Row): Seq[ColDef] = Seq(ColDef.longlong,
      if (r.get(1).isInstanceOf[String]) ColDef.varchar(bound) else ColDef.longlong)
    private def img(r: Row): Seq[Option[Array[Byte]]] =
      Seq(Some(encLongLong(r.getLong(0))), Some(r.get(1) match {
        case v: String => encVarchar(v, bound)
        case _ => encLongLong(r.getLong(1))
      }))

    /** The server uuid the decoder reports in `gtid_next` for `sid`. */
    def uuid: String = graft.ingest.BinlogBinaryParser.formatUuid(sid)

    def isEmpty: Boolean = classes.forall(_.isEmpty)

    /** A fresh file with its FDE written; returns (builder, offset after
      * the FDE). */
    def newFile(): (FileBuilder, Long) = {
      val f = new FileBuilder(checksums = true)
      val off = f.fde(t0)
      (f, off)
    }

    /** Appends `t` — even with no rows; returns (offset after its LAST
      * rows event, offset after its XID or -1 when torn). */
    def txn(f: FileBuilder, t: Txn): (Long, Long) = {
      f.event(t0, 33, gtidBody(sid, t.gno))
      f.event(t0, 2, queryBody("sf", "BEGIN"))
      var lastRows = 0L
      t.rows.grouped(t.perEvent).foreach { b =>
        val c = cols(b.head)
        f.event(t0, 19, tableMapBody(t.tableId, "sf", t.table, c))
        lastRows = f.event(t0, 30, rowsBody(t.tableId, c.size, b.toSeq.map(img)))
      }
      (lastRows, if (t.commit) f.event(t0, 16, xidBody(t.xid)) else -1L)
    }

    private def put(f: FileBuilder, t: Txn): Option[(Long, Long)] =
      Option.when(t.rows.nonEmpty)(txn(f, t))

    /** A fresh file holding `txns`. */
    def file(txns: Txn*): Array[Byte] = {
      val (f, _) = newFile()
      txns.foreach(put(f, _))
      f.bytes
    }

    /** The torn active file: `committed`, then `tearing`, then `later`.
      * Its first installment ends 7 bytes into `tearing`'s XID header —
      * mid-event, so only the append commits it — or, with no `tearing`
      * rows, cleanly after the last committed transaction (after the FDE
      * when there is none). Returns the builder, still open for events
      * after `later`, and the first installment's length. */
    def tornFile(committed: Seq[Txn], tearing: Option[Txn],
        later: Seq[Txn]): (FileBuilder, Int) = {
      val (f, fdeOff) = newFile()
      val clean = committed.flatMap(put(f, _)).lastOption.fold(fdeOff)(_._2)
      val cut = tearing.flatMap(put(f, _)).fold(clean)(_._1 + 7)
      later.foreach(put(f, _))
      (f, cut.toInt)
    }

    /** [[tornFile]] as the installments of `file`. */
    def activeFile(file: java.io.File, committed: Seq[Txn],
        tearing: Option[Txn], later: Seq[Txn]): Option[Installments] =
      Option.when(!isEmpty) {
        val (f, cut) = tornFile(committed, tearing, later)
        Installments(file, f.bytes, cut)
      }

    /** The failover file pair for the writer's four classes P, Q, R, S
      * at gnos `gno`… and xids `xid`…: the server's last file (P, Q) and
      * the replica's first, which re-serves Q under the same gtid
      * re-framed at 50 rows per event, then commits R and leaves S torn
      * forever. */
    def failoverPair(gno: Long, xid: Long): Option[(Array[Byte], Array[Byte])] =
      Option.when(!isEmpty) {
        val Seq(p, q, r, s) = txns(classes, gno, xid)
        (file(p, q), file(q.copy(perEvent = 50), r, s.copy(commit = false)))
      }

    /** The server's rotation record at the end of a closed file. */
    def rotate(f: FileBuilder, next: String): Long =
      f.event(t0, 4, rotateBody(next))
  }

  /** The q66 output shape over a maintained state table — full recompute
    * next to the streamed incremental, q66's oracle columns. */
  def ivmReport(fx: IvmFixture, state: DataFrame): DataFrame = {
    val incr = state
      .groupBy("o_orderpriority")
      .agg(sum(col("cents")).as("incr_cents"), sum(col("n")).as("n_rows_incr"))
    fx.partials(fx.orders, fx.line)
      .withColumnRenamed("cents", "full_cents")
      .withColumnRenamed("n", "n_rows_full")
      .join(incr, "o_orderpriority")
      .select(col("o_orderpriority"), col("full_cents"), col("incr_cents"),
        col("n_rows_full"), col("n_rows_incr"))
      .orderBy("o_orderpriority")
  }
}
