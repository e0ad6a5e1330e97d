package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.{Drains, ViewMaintenance}

/** Fixture builders shared by the CDC and lifecycle query families (the
  * [[graft.streaming.Drains]] pattern applied to query-domain fixtures:
  * a dedicated shared object, so neither family imports the other's
  * scaffolds).
  *
  *   - [[fixtureBase]] — the `events` projection every wire-fixture gate
  *     synthesizes from; [[dmlEvents]] its DML events and [[keyedBase]]
  *     those keyed `(k, user_id)`;
  *   - [[IvmFixture]]/[[ivmFixture]]/[[decodeIvmDelta]]/[[ivmReport]] —
  *     q66's incremental-view splits and the IVM seed (ΔA feed, B′,
  *     state₀, per-batch apply, [[IvmStateSchema]], [[ivmFold]]), shared
  *     by every consumer of q66's oracle (cdc45/48 in CdcQueries,
  *     cdc51/53/59/75/77 in LifecycleQueries) so none can drift from the
  *     decomposition the oracle gates;
  *   - [[SketchFixture]] — cdc49/cdc62's HLL feed, register partials and
  *     report;
  *   - [[Demux]] — the two-table demux feed of cdc57, cdc61 and cdc63:
  *     table frames, staged installments, per-table states, routed apply;
  *   - [[Cutover]] — cdc60/cdc65's snapshot mark mid-way through the
  *     closed files: state₀, positional discard and the straddle replay;
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
  *       batch; [[classLabel]], [[census]], [[stateCensus]] — the report,
  *       and [[censusOracle]] — its DuckDB mirror.
  */
object CdcFixtures {

  /** The `events` projection the wire-fixture gates synthesize from. */
  def fixtureBase(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      expr("ts div 1000000000").as("sec"))

  /** [[fixtureBase]]'s DML events (purchase, click, view). */
  def dmlEvents(spark: SparkSession, dir: String): DataFrame =
    fixtureBase(spark, dir).filter(col("event_type").isin("purchase", "click", "view"))

  /** [[dmlEvents]] keyed by `event_id`: `(k, user_id)`. */
  def keyedBase(spark: SparkSession, dir: String): DataFrame =
    dmlEvents(spark, dir).select(col("event_id").as("k"), col("user_id"))

  /** q66's fixture splits and the IVM seed steps its streaming consumers
    * share, so the consumers of q66's oracle (q66 itself, the streaming
    * IVM, the idempotent sink, the compaction/restart/retention drains)
    * cannot drift from the decomposition the oracle gates. */
  case class IvmFixture(orders: DataFrame, line: DataFrame,
      aBase: DataFrame, aDelta: DataFrame,
      bBase: DataFrame, bDelta: DataFrame) {
    def partials(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("c")).as("cents"), count(lit(1)).as("n"))

    /** ΔA → four real binlog files in `feed` (keyed repartition:
      * deterministic membership, any partitioning sums to the same view). */
    def writeDelta(feed: String): Unit =
      graft.ingest.BinlogSink.writeKeyedStrings(
        aDelta.repartition(4, col("o_orderkey")), feed)

    /** B′ = B ∪ ΔB: built once, on first use, and probed per batch. */
    lazy val bPrime: DataFrame = bBase.unionByName(bDelta).localCheckpoint(true)

    /** State₀ of `state` under the exactly-once discipline: batch_id −1 =
      * the old view's partials against the OLD B, −2 = the one-shot A⋈ΔB
      * leg — NOT a B′ join, which would double-count ΔB. [[bPrime]] is
      * built first, so no drain builds it. */
    def seedState(state: String): Unit = {
      bPrime
      ViewMaintenance.applyIdempotent(partials(aBase, bBase), state, -1L)
      ViewMaintenance.applyIdempotent(partials(aBase, bDelta), state, -2L)
    }

    /** The partials of a decoded ΔA batch against [[bPrime]]. */
    def deltaPartials(batch: DataFrame): DataFrame =
      partials(decodeIvmDelta(batch), bPrime)

    /** [[deltaPartials]] landed as batch `id` of `state`, exactly once. */
    def applyDelta(batch: DataFrame, state: String, id: Long): Unit =
      ViewMaintenance.applyIdempotent(deltaPartials(batch), state, id)

    /** [[ivmReport]] over the exactly-once `state`. */
    def report(spark: SparkSession, state: String): DataFrame =
      ivmReport(this,
        ViewMaintenance.readState(spark, state, IvmStateSchema).drop("batch_id"))
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

  /** The exactly-once state of q66's priority partials. */
  val IvmStateSchema = "o_orderpriority STRING, cents BIGINT, n BIGINT, batch_id BIGINT"

  /** The priority fold of q66's partials: additive sums summed — the
    * mergeable-partials contract that makes compaction lossless. */
  def ivmFold(df: DataFrame): DataFrame =
    df.groupBy("o_orderpriority")
      .agg(sum(col("cents")).as("cents"), sum(col("n")).as("n"))

  /** The binlog-decoded ΔA projection of the IVM consumers. */
  def decodeIvmDelta(batch: DataFrame): DataFrame = batch
    .filter(col("event_type") === "WriteRowsEventV2")
    .select(explode(col("row_images")).as("img"))
    .select(element_at(col("img"), 1).cast("long").as("o_orderkey"),
      element_at(col("img"), 2).as("o_orderpriority"))

  /** cdc49/cdc62's HLL sketch view over `events` (shape of [[dmlEvents]]):
    * the `(user_id, event_type)` feed, the per-batch register partials
    * (q61's 64-register/48-bit arithmetic, [[graft.ops.Hll]]) and the
    * report of the folded registers next to the exact distinct count. */
  final case class SketchFixture(events: DataFrame) {
    /** Four keyed binlog files of `(user_id, event_type)` in `feed`. */
    def writeFeed(feed: String): Unit =
      graft.ingest.BinlogSink.writeKeyedStrings(
        events.select(col("user_id"), col("event_type"))
          .repartition(4, col("user_id")), feed)

    /** A decoded batch's register partials: max rho per (event_type, reg). */
    def partials(batch: DataFrame): DataFrame =
      graft.ops.Hll.withRegRho(
          batch.filter(col("event_type") === "WriteRowsEventV2")
            .select(explode(col("row_images")).as("img"))
            .select(element_at(col("img"), 1).cast("long").as("user_id"),
              element_at(col("img"), 2).as("event_type")),
          col("user_id"))
        .groupBy("event_type", "reg").agg(max(col("rho")).as("r"))

    /** Per event type: exact distinct users, registers hit, register sum
      * and estimate of the [[registerFold]] of `regs`. */
    def report(regs: DataFrame): DataFrame = {
      val sums = registerFold(regs).groupBy("event_type")
        .agg(graft.ops.Hll.sum48OverR.as("sum48"),
          count(lit(1)).as("n_regs_hit"))
      val exact = events.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      sums.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"), col("n_regs_hit"),
          col("sum48"), graft.ops.Hll.estExpr("sum48").as("est"))
        .orderBy("event_type")
    }
  }

  /** The register-max fold of register partials — the sketch state's
    * natural monoid. */
  def registerFold(df: DataFrame): DataFrame =
    df.groupBy("event_type", "reg").agg(max(col("r")).as("r"))

  /** The two-table demux fixture over `base` (shape `(k, user_id)`):
    * tables ta(k, v STRING) and tb(k, x BIGINT) under distinct table ids,
    * staged as whole binlog files delivered into one feed, and
    * demultiplexed into one exactly-once state per table under `root`
    * (`state_ta`, `state_tb`). */
  final class Demux(base: DataFrame, root: java.io.File) {
    val stateA: String = new java.io.File(root, "state_ta").getPath
    val stateB: String = new java.io.File(root, "state_tb").getPath
    val schemaA = "k BIGINT, v STRING, batch_id BIGINT"
    val schemaB = "k BIGINT, x BIGINT, batch_id BIGINT"
    val ta: DataFrame = base.select(col("k"), concat(lit("u"), col("user_id")).as("v"))
    val tb: DataFrame = base.select(col("k"), (col("user_id") * 3L).as("x"))
    private val tableIds = Map("ta" -> 21L, "tb" -> 22L)

    /** `t` as a transaction of `table`. */
    def inTable(t: Txn, table: String): Txn =
      t.copy(table = table, tableId = tableIds(table))

    /** `rows` of `table` as inserts in one binlog file numbered `seq`
      * (`rowsPerTxn` rows per transaction, 0 for one per file), written to
      * the staging dir `name` under the root and delivered into `feed`. */
    def stage(name: String, rows: DataFrame, table: String, seq: Int,
        feed: String, rowsPerTxn: Int = 0): Unit = {
      val st = new java.io.File(root, name).getPath
      graft.ingest.BinlogSink.writeChanges(
        rows.select(lit(1).as("op") +: rows.columns.toSeq.map(col): _*).coalesce(1),
        st, table = table, tableId = tableIds(table), fileSeqStart = seq,
        rowsPerTxn = rowsPerTxn)
      Drains.deliver(st, feed)
    }

    /** Both tables split at the data-derived midpoint `max(k) / 2` into
      * four installments, numbered so the feed ALTERNATES tables in
      * natural-version order: ta(1), tb(2), ta(3), tb(4). */
    def stageHalves(feed: String): Unit = {
      val maxRow = base.agg(max(col("k"))).head()
      val mid = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) / 2
      stage("st1", ta.filter(col("k") <= mid), "ta", 1, feed)
      stage("st2", tb.filter(col("k") <= mid), "tb", 2, feed)
      stage("st3", ta.filter(col("k") > mid), "ta", 3, feed)
      stage("st4", tb.filter(col("k") > mid), "tb", 4, feed)
    }

    /** ONE pass over a decoded batch (one localCheckpoint — the feed is
      * read once), routed by its `table` column into one exactly-once
      * write per state; a table the batch does not touch gets an empty
      * batch. */
    def apply(batch: DataFrame, id: Long): Unit = {
      val b = batch.filter(col("event_type") === "WriteRowsEventV2")
        .select(col("table"), explode(col("row_images")).as("img"))
        .localCheckpoint(true)
      ViewMaintenance.applyIdempotent(
        b.filter(col("table") === "ta")
          .select(element_at(col("img"), 1).cast("long").as("k"),
            element_at(col("img"), 2).as("v")),
        stateA, id)
      ViewMaintenance.applyIdempotent(
        b.filter(col("table") === "tb")
          .select(element_at(col("img"), 1).cast("long").as("k"),
            element_at(col("img"), 2).cast("long").as("x")),
        stateB, id)
    }

    /** The maintenance loop of every routed state: each folds its live
      * batches into its own base on its own schedule (identity fold — the
      * states are exactly-once row sets). */
    def compact(spark: SparkSession): Unit = {
      ViewMaintenance.maybeCompact(spark, stateA, schemaA,
        maxLive = 1, keepLast = 0)(df => df)
      ViewMaintenance.maybeCompact(spark, stateB, schemaB,
        maxLive = 1, keepLast = 0)(df => df)
    }

    /** Per table `tbl`: rows, key sum and payload sum (`length(v)` for ta,
      * `x` for tb) of the served states. */
    def served(spark: SparkSession): DataFrame = {
      def agg(state: String, schema: String, tbl: String, payload: Column) =
        ViewMaintenance.readState(spark, state, schema)
          .withColumn("tbl", lit(tbl))
          .groupBy("tbl")
          .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("k_sum"),
            sum(payload).as("payload_sum"))
      agg(stateA, schemaA, "ta", length(col("v")))
        .unionByName(agg(stateB, schemaB, "tb", col("x")))
        .orderBy("tbl")
    }
  }

  /** A snapshot bootstrap's cutover over the closed `(k, v)` files now in
    * `feed`, applied to `state`. The recorded position is the
    * data-derived median row-event index of the MIDDLE file — a mark no
    * file boundary aligns with. [[seed]] lands state₀, the rows at or
    * before the mark, as batch −1; [[apply]] discards at-or-before-mark
    * rows POSITIONALLY, lands the rest exactly-once and records the first
    * batch that straddles the mark, which [[replayStraddle]] re-applies. */
  final class Cutover(spark: SparkSession, feed: String, state: String) {
    private val files = Drains.visibleFiles(feed).map(_.getName)
    private val (markSeq, markIdx) =
      if (files.isEmpty) (0L, -1L)
      else {
        val markFile = files((files.length - 1) / 2)
        val mi = spark.read.format("binlog").load(s"$feed/$markFile")
          .filter(col("event_type") === "WriteRowsEventV2")
          .agg(min(col("event_index")), max(col("event_index"))).head()
        val seq = graft.ingest.BinlogTextParser.fileSeq(markFile).get
        if (mi.isNullAt(0)) (seq, -1L)
        else (seq, (mi.getLong(0) + mi.getLong(1)) / 2)
      }
    private val atOrBeforeMark = col("file_seq") < markSeq ||
      (col("file_seq") === markSeq && col("event_index") <= markIdx)
    private def rows(ev: DataFrame): DataFrame = ev
      .filter(col("event_type") === "WriteRowsEventV2")
      .select(col("file_seq"), col("event_index"),
        explode(col("row_images")).as("img"))
      .select(col("file_seq"), col("event_index"),
        element_at(col("img"), 1).cast("long").as("k"),
        element_at(col("img"), 2).as("v"))
    private val straddle = new Drains.Redelivery(spark, Seq(feed))
    private var straddleFiles = Seq.empty[String]
    private var straddleId = -1L

    /** State₀: the bulk snapshot AS OF the mark (the batch-side apply of
      * everything at-or-before it) — in a real deployment this is the
      * table dump; here it is reconstructed from the same wire so the
      * oracle covers both paths. */
    def seed(): Unit =
      if (files.nonEmpty)
        ViewMaintenance.applyIdempotent(
          rows(spark.read.format("binlog").load(feed))
            .filter(atOrBeforeMark).select("k", "v"),
          state, -1L)

    def apply(batch: DataFrame, id: Long): Unit = {
      val r = rows(batch).localCheckpoint(true) // one decode, two probes
      if (straddleFiles.isEmpty) {
        // one aggregate decides "does this batch straddle the mark"
        val flags = r.agg(
          max(when(atOrBeforeMark, 1).otherwise(0)).as("pre"),
          max(when(atOrBeforeMark, 0).otherwise(1)).as("post")).head()
        if (!flags.isNullAt(0) && flags.getInt(0) == 1 && flags.getInt(1) == 1) {
          straddleFiles = straddle.files(batch)
          straddleId = id
        }
      }
      ViewMaintenance.applyIdempotent(
        r.filter(!atOrBeforeMark).select("k", "v"), state, id)
    }

    /** The injected replay of the straddling cutover batch, absorbed by
      * its own partition overwrite. */
    def replayStraddle(): Unit = straddle.replay(straddleFiles, straddleId)(apply)

    /** Rows, key sum and payload length of the state per `k % 10`. */
    def report(): DataFrame =
      ViewMaintenance.readState(spark, state, "k BIGINT, v STRING, batch_id BIGINT")
        .groupBy((col("k") % 10).as("grp"))
        .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("k_sum"),
          sum(length(col("v"))).as("payload_sum"))
        .orderBy("grp")
  }

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
    dmlEvents(spark, dir)
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
    * `rest` for every other row. */
  def classLabel(labels: Seq[String], rest: String = "bulk"): Column =
    labels.zipWithIndex.tail
      .foldLeft(when(col("k") % 131 === 0, labels.head)) {
        case (c, (label, m)) => c.when(col("k") % 131 === m, label)
      }
      .otherwise(rest)

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
    census(ViewMaintenance
      .readState(spark, state, "k BIGINT, batch_id BIGINT")
      .withColumn("src", classLabel(labels)), shards)

  /** The DuckDB mirror of [[census]] over [[tailBase]]'s keys: rows and
    * key sum per [[classLabel]] `src` (`labels(m)` for `k % 131 == m`,
    * `rest` for every other row), leaving out class `excluded` when given
    * — the torn class no drain may apply — and split first by shard
    * `k % shards` when there is more than one. */
  def censusOracle(labels: Seq[String], excluded: Option[Int] = None,
      rest: String = "bulk", shards: Int = 1): String = {
    val src = labels.zipWithIndex
      .map { case (label, m) => s"WHEN k % 131 = $m THEN '$label'" }
      .mkString("CASE ", "\n       ", s"\n       ELSE '$rest' END AS src")
    val (shard, by) =
      if (shards > 1) (s"k % $shards AS shard,\n  ", "1, 2") else ("", "1")
    val where = excluded.fold("")(m => s" WHERE k % 131 <> $m")
    s"""WITH base AS (
       |  SELECT event_id AS k FROM events
       |  WHERE event_type IN ('purchase', 'click', 'view')
       |)
       |SELECT $shard$src,
       |  COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS k_sum
       |FROM base$where
       |GROUP BY $by ORDER BY $by""".stripMargin
  }

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
