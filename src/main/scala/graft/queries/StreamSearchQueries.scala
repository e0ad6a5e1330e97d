package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.cosineSim
import SimilarityQueries.{duckCentroidCtes, duckCosOf, duckNearest, ivf}
import PqQueries.pqSearch

/** The STREAMING/SERVING search family (split from SimilarityQueries in
  * r12 — same code, same oracles): streaming index ingest with a frozen
  * codebook (s42), streaming query serving (s43), big-batch serving
  * (s44), and CDC-driven index sync (s46). Batch anchors they share
  * oracles with stay in their own families (s03 in SimilarityQueries,
  * s13 in PqQueries) — a streamed/served mismatch isolates delivery.
  */
object StreamSearchQueries {
  // s44 — BIG-BATCH serving: s03's IVF search with the query side SHUFFLED
  // instead of broadcast. s03's broadcast-probe contract is right for an
  // online query batch (thousands of rows); the offline shapes — scoring a
  // 100 TB corpus against millions of queries (semdedup sweeps, kNN-graph
  // refresh, eval-set retrieval) — can't broadcast the query table, so the
  // probe join becomes a cluster-keyed ShuffledHashJoin: both sides
  // exchange on the IVF cluster key, each cluster's queries meet exactly
  // that cluster's members, and nothing is driver- or memory-bound by the
  // query count. Same candidate cut, same ranking, same rows — the gate
  // shares s03's oracle, and PlanAudit pins that the probe join is
  // broadcast-free (the one BroadcastExchange allowed in the plan is the
  // bounded centroid table inside the assignment argmax).
  def s44BatchSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = ivf(emb).assigned
    val q = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("cluster").as("qc"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(q.hint("shuffle_hash"),
        col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("qc").as("cluster"), col("rank"),
        col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  // s46 — CDC-DRIVEN INDEX SYNC (the RAG-sync pattern): a change feed of
  // embedding UPDATES applied to a served vector index. Base corpus =
  // version 0; every vec_id % 3 == 0 receives a version-1 update with a
  // deterministically different vector (the reversed embedding — exact in
  // both engines); the applied state is last-wins per vec_id (max_by over
  // version — cdc20's apply shape), encoded against the quantizer FROZEN
  // on the base corpus (FAISS add() never retrains — s13/s42's contract),
  // and searched with the s03 candidate cut. The gate pins the end-to-end
  // property a sync pipeline must keep: search results reflect exactly
  // the post-apply state (updated vectors move clusters; stale versions
  // never match). Batch form of the s42 stream (drain ≡ batch there).
  def s46CdcIndexSync(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val kit = ivf(Tables.embeddings(spark, dir))
    val events = base.withColumn("version", lit(0L))
      .unionByName(base.filter(col("vec_id") % 3 === 0)
        .withColumn("embedding", reverse(col("embedding")))
        .withColumn("version", lit(1L)))
    val applied = events.groupBy("vec_id")
      .agg(max_by(col("embedding"), col("version")).as("embedding"),
        max(col("version")).as("version"))
    val assigned = kit.assign(applied)
    val q = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(q),
        col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        (col("version") === 1L).as("neighbor_updated"))
      .orderBy("query_id", "rank")
  }

  val s46Oracle: String = {
    s"""WITH ${duckCentroidCtes(64)}, applied AS (
      |  SELECT vec_id, embedding, version FROM (
      |    SELECT vec_id, embedding, version,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY version DESC) AS vr
      |    FROM (
      |      SELECT vec_id, embedding, 0 AS version FROM embeddings
      |      UNION ALL
      |      SELECT vec_id, list_reverse(embedding), 1 AS version
      |      FROM embeddings WHERE vec_id % 3 = 0))
      |  WHERE vr = 1
      |), assigned AS (
      |  ${duckNearest(Seq("vec_id", "embedding", "version"), src = "applied")}
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, clabel AS qc
      |  FROM assigned WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, a.vec_id, a.version, ${duckCosOf("qv", "a.embedding")} AS cos
      |  FROM assigned a JOIN q ON a.clabel = q.qc AND a.vec_id <> q.query_id
      |)
      |SELECT query_id, rank, neighbor_id, neighbor_updated FROM (
      |  SELECT query_id, vec_id AS neighbor_id, version = 1 AS neighbor_updated,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  }

  // s42 — STREAMING INDEX INGEST (s13's append leg as a stream): the
  // delta vectors arrive as a bounded micro-batch stream (two parquet
  // files, maxFilesPerTrigger=1) and every batch encodes against the
  // FROZEN coarse quantizer + codebook (FAISS add() never retrains)
  // inside foreachBatch — the production idempotent-append pattern —
  // landing cluster-coded rows in the parquet index. The search then
  // runs over base ∪ drained delta and must equal s13's one-shot batch
  // append, which sharing s13's oracle gates exactly: the cdc20/cdc41
  // state-≡-batch equivalence, for the vector index. Plan: encode per
  // micro-batch is s13's exact shape (broadcast centroid argmax +
  // narrow PqCodes map — per-batch work is a narrow pipeline over the
  // batch, no cross-batch state needed because the artifacts are
  // frozen); the search plan is s13's, untouched by how the index rows
  // arrived.
  def s42StreamIndexIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    val (_, feed, sink, ckpt) = graft.streaming.Drains.streamDirs("graft_s42_", dir, "sink")
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val kit = ivf(base)
    def encode(rows: DataFrame): DataFrame =
      kit.assign(rows.select("vec_id", "embedding"))
        .select(col("vec_id"), col("cluster"),
          PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"))
    // two installments → two micro-batches; adversarially interleaved
    // by id parity-of-20 so neither batch is a contiguous id range
    val delta = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "embedding")
    delta.filter(col("vec_id") % 20 === 0).coalesce(1)
      .write.mode("append").parquet(feed)
    delta.filter(col("vec_id") % 20 =!= 0).coalesce(1)
      .write.mode("append").parquet(feed)
    graft.streaming.Drains.drain(spark, spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        encode(b).write.mode("append").parquet(sink)
      }, ckpt)
    new java.io.File(sink).mkdirs() // empty feed → empty delta (see Drains.drainToParquet)
    val deltaCodes = spark.read
      .schema("vec_id BIGINT, cluster BIGINT, codes ARRAY<BIGINT>")
      .parquet(sink)
    val encoded = encode(base).unionByName(deltaCodes)
    val q = kit.assign(emb.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    pqSearch(emb, encoded, q, kit.codebook, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
  }

  // s43 — STREAMING QUERY SERVING (s42's mirror: there the VECTORS
  // streamed against frozen artifacts; here the QUERIES do): the query
  // vectors arrive as a bounded micro-batch stream (two parquet files,
  // maxFilesPerTrigger=1), and each batch runs s03's IVF nprobe=1
  // search inside foreachBatch against an index that was built ONCE and
  // persisted to parquet before the stream started — the scatter-gather
  // serving path, where the index is a frozen artifact and per-batch
  // work is batch-queries × probed-cluster only. Sharing s03's oracle
  // gates the serving property that makes this layout correct: ANN
  // queries are row-independent, so a query set split across arbitrary
  // micro-batches drains to exactly the one-shot batch answer (the
  // cdc20/cdc41/s42 state-≡-batch equivalence, for the query side).
  // Plan per batch: broadcast the batch's assigned queries, cluster-
  // keyed equi-join against the parquet index scan, per-query top-5
  // window over ≤ cluster-sized candidates.
  def s43StreamSearch(spark: SparkSession, dir: String): DataFrame = {
    val (root, feed, sink, ckpt) = graft.streaming.Drains.streamDirs("graft_s43_", dir, "sink")
    val index = new java.io.File(root, "index").getPath
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb).checkpointed
    // freeze the index as an artifact: cluster-assigned corpus, on disk
    kit.assigned
      .write.mode("overwrite").parquet(index)
    val assigned = spark.read.parquet(index) // footer schema — always written
    // query stream: s03's query set, adversarially split so neither
    // micro-batch is a contiguous id range
    val q0 = emb.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding")
    q0.filter(col("vec_id") % 100 === 0).coalesce(1)
      .write.mode("append").parquet(feed)
    q0.filter(col("vec_id") % 100 =!= 0).coalesce(1)
      .write.mode("append").parquet(feed)
    graft.streaming.Drains.drain(spark, spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val q = kit.assign(b)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            col("cluster").as("qc"))
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
        assigned.join(broadcast(q),
            col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
          .withColumn("cos", cosineSim(col("qv"), col("embedding")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("qc").as("cluster"),
            col("rank"), col("vec_id").as("neighbor_id"))
          .write.mode("append").parquet(sink)
      }, ckpt)
    new java.io.File(sink).mkdirs() // empty feed → empty result (see Drains.drainToParquet)
    spark.read
      .schema("query_id BIGINT, cluster INT, rank INT, neighbor_id BIGINT")
      .parquet(sink)
      .orderBy("query_id", "rank")
  }

  // s51 — STREAMING kNN-GRAPH MAINTENANCE (the graph index's INSERT
  // path, completing the maintenance matrix: s42 maintains the PQ list,
  // s46 syncs it under CDC, d32 maintains the LSH band index — this
  // maintains the NAVIGABLE GRAPH as vectors arrive). The coarse
  // quantizer is FROZEN before the stream (s13/s42's codebook
  // discipline); vectors arrive in id-ordered micro-batches (id-range
  // parquet slices, arrival order forced by mtime — the binlog
  // natural-version discipline on a parquet feed), and each batch
  // computes its vectors' directed top-3 edges against the ACCUMULATED
  // same-cluster members (ViewMaintenance state) plus same-batch
  // members with SMALLER ids — so the maintained edge set is exactly
  // "top-3 among same-cluster vectors with smaller vec_id", a strict
  // id-prefix rule that is batch-split-independent (the d32 trick),
  // which is what lets a plain batch oracle gate the stream. Both
  // states land under cdc48's exactly-once discipline (batch_id
  // partition overwrites; the candidate probe anti-joins the batch's
  // own ids out of the state so a replay sees the original candidate
  // set; the gate INJECTS a batch-0 redelivery and must absorb it).
  // Per batch the work is one cluster-keyed equi-join of the batch
  // against its clusters' members (the s03 candidate shape — never
  // all-pairs) plus a |batch|-row state write; at 100 TB the per-arrival
  // cost is the
  // honest IVF-routed insert (score within the routed cluster), the
  // bound a real DiskANN insert then improves with a graph walk —
  // s34/s50's priced search machinery, anchored by this exact
  // maintenance contract. Output: per-cluster edge counts and integer
  // id checksums of the drained edge state.
  /** One INSERT micro-batch of the maintained kNN graph — s51's math,
    * shared by s51 (parquet feed), s52/s53 (delete drain), and s54
    * (binlog wire feed): assign against the frozen quantizer; candidates
    * = accumulated same-cluster members (ANTI-joined against the batch's
    * own ids — under a redelivered batch the state already holds the
    * batch's members, and without the exclusion each batchmate would
    * appear TWICE in the window, crowding out a real neighbor; with it a
    * replay sees the exact candidate set of the original run) ∪
    * same-batch members with SMALLER ids (the strict id-prefix rule that
    * makes the maintained edge set batch-split-independent); directed
    * top-3 edges and the vectors land under the exactly-once discipline. */
  private def maintainGraphInsert(spark: SparkSession, kit: graft.ops.Ivf,
      state: String, edgesOut: String)(ins: DataFrame, id: Long): Unit = {
    import graft.streaming.ViewMaintenance
    // candidates AND probe side AND append: ONE eager single-partition
    // materialization — coalesce(1) keeps the micro-batch-sized
    // assignment one partition, so its state append is one file per
    // batch (the §6 file-sizing choice for a few-hundred-row write; a
    // per-shuffle-partition fan-out quadratically inflates every later
    // readState scan as batches accumulate), and the eager checkpoint
    // keeps every per-batch plan starting from a flat LogicalRDD
    val a = kit.assign(ins.select("vec_id", "embedding"))
      .select("vec_id", "cluster", "embedding")
      .coalesce(1)
      .localCheckpoint(true)
    val st = ViewMaintenance.readState(spark, state,
        "vec_id BIGINT, cluster BIGINT, embedding ARRAY<FLOAT>, batch_id BIGINT")
      // exclude the batch's OWN live partition by partition pruning
      // (literal predicate on the partition column — the scan never
      // opens those files): semantically redundant next to the anti-join
      // below (that partition, when it exists, holds exactly the batch's
      // vec_ids, which the anti-join drops), but it makes the edges read
      // independent of the CONCURRENT state overwrite of partition `id`
      // during an injected redelivery — the two writes below overlap (§2.6)
      .filter(col("batch_id") =!= lit(id))
      .drop("batch_id")
      // broadcast the batch side explicitly: a checkpointed RDD has no
      // stats, and with the drain dial's AQE off nothing else would stop
      // the planner sort-merging these micro-batch joins (§3.1)
      .join(broadcast(a.select("vec_id")), Seq("vec_id"), "left_anti")
    val cands = st.unionByName(a)
      .select(col("cluster"), col("vec_id").as("nbr"),
        col("embedding").as("nv"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("nbr"))
    val edgePartials = broadcast(a).join(cands, Seq("cluster"))
      .filter(col("nbr") < col("vec_id"))
      .withColumn("cos", cosineSim(col("embedding"), col("nv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("cluster"), col("vec_id"), col("nbr"))
      .coalesce(1) // micro-batch partials: one file per batch (§6)
    // the two state writes land in DISJOINT dirs and neither read
    // depends on the other's output (the state file index above was
    // frozen at readState time; the batch partition is pruned away), so
    // they overlap (§2.6) — each is a micro-batch-sized job whose cost
    // is mostly driver fixed latency, and sequential submission simply
    // doubled it
    graft.streaming.Drains.inParallel(
      () => ViewMaintenance.applyIdempotent(edgePartials, edgesOut, id),
      () => ViewMaintenance.applyIdempotent(a, state, id))
  }

  /** The s51/s54 serve-time census over a maintained edge state. */
  private def graphEdgeCensus(spark: SparkSession, edgesOut: String): DataFrame =
    graft.streaming.ViewMaintenance.readState(spark, edgesOut,
        "cluster BIGINT, vec_id BIGINT, nbr BIGINT, batch_id BIGINT")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("vec_id")).as("n_sources"),
        sum(col("vec_id")).as("src_id_sum"),
        sum(col("nbr")).as("nbr_id_sum"))
      .orderBy("cluster")

  def s51StreamGraphMaintain(spark: SparkSession, dir: String): DataFrame = {
    val (_, edgesOut) = drainInsertSlices(spark, dir, "graft_s51_")
    graphEdgeCensus(spark, edgesOut)
  }

  /** s51/s58's shared insert drain (factored so the pinned-serve gate
    * cannot drift from the maintenance gate): four id-range quartile
    * slices of the embeddings table — arrival order = id order
    * (mtime-forced, the cdc16 bump discipline; the file source picks
    * files by mod time) — arrive one file per micro-batch against a
    * FROZEN quantizer, run [[maintainGraphInsert]], and absorb an
    * injected batch-0 crash-after-commit redelivery (the anti-joined
    * probe plus the batch_id partition overwrites must take the replay
    * bit-for-bit). Returns the (vectors state, edges state) dirs. */
  private def drainInsertSlices(spark: SparkSession, dir: String,
      prefix: String): (String, String) = {
    val root = graft.streaming.Drains.tmpFixtureDir(prefix, dir)
    root.mkdirs()
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val state = new java.io.File(root, "state").getPath
    val edgesOut = new java.io.File(root, "edges").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // FROZEN quantizer: built once, not per batch
    val kit = ivf(Tables.embeddings(spark, dir)).checkpointed
    val maxRow = emb.agg(max(col("vec_id"))).head()
    if (!maxRow.isNullAt(0)) {
      val mx = maxRow.getLong(0)
      val cuts = Seq(0L, mx / 4 + 1, mx / 2 + 1, 3 * mx / 4 + 1, mx + 1)
      // the four slice writes are independent jobs into disjoint dirs
      // whose ARRIVAL order is forced by the explicit mtime stamps, not
      // by write order — overlap them (§2.6; each is a small job whose
      // cost is mostly driver/commit latency)
      val base = System.currentTimeMillis()
      graft.streaming.Drains.inParallel(
        cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
          () => {
            val d = new java.io.File(feed, s"slice$i")
            emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
              .coalesce(1).write.mode("overwrite").parquet(d.getPath)
            Option(d.listFiles()).getOrElse(Array.empty)
              .foreach(f => f.setLastModified(base + 4000L * i))
          }
        }.toSeq: _*)
    }
    // batch-0 file recording for the injected redelivery, keyed on
    // input_file_name() — a parquet feed has no binlog_file column, so
    // Drains.Redelivery (binlog names resolved to feeds) does not fit;
    // bounded: maxFilesPerTrigger=1
    val batch0Files = scala.collection.mutable.ArrayBuffer.empty[String]
    def applyBatch(batch: DataFrame, id: Long): Unit = {
        if (id == 0L && batch0Files.isEmpty)
          batch0Files ++= batch.select(input_file_name()).distinct()
            .collect().map(_.getString(0)).filter(_.nonEmpty)
        maintainGraphInsert(spark, kit, state, edgesOut)(batch, id)
    }
    // the drain dial (partitions + AQE-off) covers the whole drain AND
    // the injected replay — the same micro-batch-sized queries either way
    graft.streaming.Drains.withDrainPartitions(spark) {
      graft.streaming.Drains.drain(spark, spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed.getPath)
        .writeStream
        .foreachBatch(applyBatch _), ckpt)
      if (batch0Files.nonEmpty) {
        applyBatch(spark.read
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
          .parquet(batch0Files.toSeq: _*), 0L)
      }
    }
    (state, edgesOut)
  }

  // s54 — VECTORS OVER THE REAL BINLOG WIRE (closing s51/s52's one
  // compromise: their feeds were parquet slices because the sink spoke
  // only (BIGINT, STRING); with the r13 FLOAT wire types the embedding
  // rides a genuine CDC changelog — the RAG-ingest posture where the
  // vector column lives in the source database). The corpus encodes as
  // WRITE_ROWS of (vec_id, f0..f63) — 64 FLOAT columns, a schema a real
  // MySQL table could carry — range-partitioned by id so arrival is
  // id-ordered (the natural-version file order; range boundaries may
  // vary, which the strict id-prefix rule makes irrelevant), decodes
  // per micro-batch (Float.toString round-trips IEEE bits exactly, so
  // the cosines are bit-identical to s51's), and runs the SAME shared
  // insert maintenance. Shares s51's oracle: a mismatch isolates the
  // wire (encode, decode, float render) from the maintenance math. The
  // shared drainWithRedelivery injects the batch-0 replay.
  def s54WireVectorIngest(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val (root, feed, state, ckpt) =
      graft.streaming.Drains.streamDirs("graft_s54_", dir)
    val edgesOut = new java.io.File(root, "edges").getPath
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // FROZEN quantizer (s51's discipline)
    val kit = ivf(Tables.embeddings(spark, dir), dim = dim).checkpointed
    graft.ingest.BinlogSink.writeChanges(
      emb.select(lit(1).as("op") +: col("vec_id") +:
        (0 until dim).map(i => col("embedding")(i).as(s"f$i")): _*)
        .repartitionByRange(4, col("vec_id")),
      feed)
    graft.streaming.Drains.drainWithRedelivery(spark, feed, ckpt) { (batch, id) =>
      val ins = batch.filter(col("event_type") === "WriteRowsEventV2")
        .select(explode(col("row_images")).as("img"))
        .select(element_at(col("img"), 1).cast("long").as("vec_id"),
          array((2 to dim + 1).map(i =>
            element_at(col("img"), i).cast("float")): _*).as("embedding"))
      maintainGraphInsert(spark, kit, state, edgesOut)(ins, id)
      // compaction composes with the GRAPH maintenance: both states are
      // exactly-once row sets, so the fold is the identity; the covered
      // batch-0 replay after compaction still sees its original candidate
      // set (the base holds batch 0's vectors; the anti-join removes them
      // by id) and its recreated partitions are ignored by the live rule
      import graft.streaming.ViewMaintenance
      // disjoint dirs: the two folds overlap (§2.6)
      graft.streaming.Drains.inParallel(
        () => ViewMaintenance.maybeCompact(spark, state,
          "vec_id BIGINT, cluster BIGINT, embedding ARRAY<FLOAT>, batch_id BIGINT",
          maxLive = 2, keepLast = 1)(df => df),
        () => ViewMaintenance.maybeCompact(spark, edgesOut,
          "cluster BIGINT, vec_id BIGINT, nbr BIGINT, batch_id BIGINT",
          maxLive = 2, keepLast = 1)(df => df))
    }
    graphEdgeCensus(spark, edgesOut)
  }

  // s56 — SHARDED WIRE-VECTOR INGEST (cdc69's scale-out subscription
  // composed with s54's vector wire: the corpus lives in TWO sharded
  // source databases — vec_id % 2 — each emitting its own growing
  // binlog of (vec_id, f0..f63) WRITE_ROWS, and ONE streaming query
  // unions both tails into ONE maintained kNN graph on ONE checkpoint.
  // This is the distributed RAG-ingest posture: embeddings are written
  // where the data lives, and the index consumer subscribes to the
  // whole fleet). The subtlety is the strict id-prefix rule: the
  // maintained edge set equals "top-3 among same-cluster smaller ids"
  // only if every smaller id is in state-or-same-batch at insert time,
  // so the shards' file boundaries must ALIGN — each shard cuts its
  // half at the SAME global id quartiles (cut k = shard A's range-k
  // file + shard B's range-k file; per-source admission pairs them
  // into one batch, and same-batch smaller-id candidates cover the
  // cross-shard pairs inside a range). Misaligned boundaries would
  // drop cross-shard edges — a hash mismatch against s51's oracle,
  // which this gate shares (isolating the sharded-wire transport from
  // the maintenance math). A batch-0 redelivery is injected, routed
  // back to the owning shard's directory by file name. At 100 TB: N
  // source databases, one subscription per shard under one checkpoint,
  // per-batch cost unchanged from s51's cluster-keyed probe.
  def s56ShardedWireVectors(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val (root, _, state, ckpt) = graft.streaming.Drains.streamDirs("graft_s56_", dir)
    val feedA = new java.io.File(root, "feed_a"); feedA.mkdirs()
    val feedB = new java.io.File(root, "feed_b"); feedB.mkdirs()
    val edgesOut = new java.io.File(root, "edges").getPath
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // FROZEN quantizer (s51's discipline)
    val kit = ivf(Tables.embeddings(spark, dir), dim = dim).checkpointed
    val maxRow = emb.agg(max(col("vec_id"))).head()
    if (!maxRow.isNullAt(0)) {
      val mx = maxRow.getLong(0)
      // the SAME global cuts on both shards — the boundary alignment the
      // id-prefix rule needs
      val cuts = Seq(0L, mx / 4 + 1, mx / 2 + 1, 3 * mx / 4 + 1, mx + 1)
      // 8 independent (shard, range) wire writes into disjoint staging
      // dirs, renamed into the feeds under DISTINCT file numbers — the
      // tail source orders by suffix, not delivery time, so the writes
      // overlap (§2.6; all staged before the drain starts)
      graft.streaming.Drains.inParallel(
        (for {
          (Seq(lo, hi), k) <- cuts.sliding(2).zipWithIndex.toSeq
          (shard, feed, seqBase) <- Seq((0L, feedA, 1), (1L, feedB, 101))
        } yield { () =>
          val staging = new java.io.File(root, s"st_${shard}_$k").getPath
          graft.ingest.BinlogSink.writeChanges(
            emb.filter(col("vec_id") % 2 === shard &&
                col("vec_id") >= lo && col("vec_id") < hi)
              .select(lit(1).as("op") +: col("vec_id") +:
                (0 until dim).map(i => col("embedding")(i).as(s"f$i")): _*)
              .coalesce(1),
            staging, fileSeqStart = seqBase + k)
          graft.streaming.Drains.deliver(staging, feed.getPath)
          ()
        }): _*)
    }
    val feeds = Seq(feedA.getPath, feedB.getPath)
    val batch0 = new graft.streaming.Drains.Redelivery(spark, feeds)
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      batch0.record(batch, id)
      val ins = batch.filter(col("event_type") === "WriteRowsEventV2")
        .select(explode(col("row_images")).as("img"))
        .select(element_at(col("img"), 1).cast("long").as("vec_id"),
          array((2 to dim + 1).map(i =>
            element_at(col("img"), i).cast("float")): _*).as("embedding"))
      maintainGraphInsert(spark, kit, state, edgesOut)(ins, id)
    }
    graft.streaming.Drains.drainBinlog(spark, feeds, ckpt, tail = true)(applyBatch)
    // injected batch-0 redelivery, routed back to the owning shard
    batch0.replay()(applyBatch)
    graphEdgeCensus(spark, edgesOut)
  }

  val s51Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"), label = "clabel AS cluster")}
      |), edges AS (
      |  SELECT cluster, vec_id, nbr FROM (
      |    SELECT a.cluster, a.vec_id, b.vec_id AS nbr,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM assigned a JOIN assigned b
      |      ON b.cluster = a.cluster AND b.vec_id < a.vec_id)
      |  WHERE rk <= 3
      |)
      |SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n_edges,
      |  COUNT(DISTINCT vec_id) AS n_sources,
      |  CAST(SUM(vec_id) AS BIGINT) AS src_id_sum,
      |  CAST(SUM(nbr) AS BIGINT) AS nbr_id_sum
      |FROM edges GROUP BY cluster ORDER BY cluster""".stripMargin

  // s52 — DELETE PATH FOR THE MAINTAINED kNN GRAPH (s51 maintains the
  // insert path; a real ANN service also takes deletes — g16 proved
  // retractions for degree censuses and s20 proved tombstones for
  // IVF-PQ; this applies the tombstone semantics at the GRAPH layer).
  // The feed carries s51's id-ordered insert slices (op = +1) followed
  // by retraction slices (op = −1, the vec_id % 9 residue class — a
  // data-derived rule live at every SF): per batch, inserts run s51's
  // exact edge maintenance and deletes land in a TOMBSTONE state
  // (applyIdempotent — a replayed delete batch overwrites its own
  // partition). The serve-time read filters tombstoned SOURCES (the
  // node is gone) and tombstoned NEIGHBORS (its incident edges are
  // dead) — s20's posture: a source that lost neighbors serves FEWER
  // than 3 until a repair re-densifies, the documented trade every
  // tombstone index makes (the alternative, recomputing ranks 4+ at
  // delete time, rescans the cluster per delete). The oracle is s51's
  // batch kNN graph with a survivor filter on both endpoints, so a
  // mismatch isolates the delete machinery from the insert math (s51).
  // Both replay classes injected: batch 0 (an insert batch — the s51
  // anti-join argument makes the recomputed edge partition identical)
  // and the LAST batch (a delete batch — partition overwrite). At
  // 100 TB: a delete costs one ≤|batch|-row state write; serving pays
  // two keyed anti-joins against the (small, compactable) tombstone set.
  /** s52/s53/s55's shared drain: s51's insert maintenance + the tombstone
    * delete path, with both replay classes injected. Returns the frozen
    * quantizer and the (vectors, edges, tombstones) state dirs for the
    * caller's serve (or repair) step.
    *
    * `restart = true` delivers the six slices in two installments against
    * ONE checkpoint (slices 0–2, drain to completion, the query STOPS;
    * slices 3–5, drain again — cdc53's seam on the parquet feed, so the
    * delete slices and both replays land in run 2, across the restart).
    * `compactInDrain = true` runs `maybeCompact` on all three states
    * after every batch (identity folds — each state is an exactly-once
    * row set), so bases form MID-drain and, with `restart`, span the
    * restart seam (cdc59's composition on the graph states); the replays
    * then exercise the covered-partition live rule, not just partition
    * overwrite. */
  private def graphDeleteDrain(spark: SparkSession, dir: String,
      prefix: String, restart: Boolean = false,
      compactInDrain: Boolean = false): (graft.ops.Ivf, String, String, String) = {
    import graft.streaming.ViewMaintenance
    val root = graft.streaming.Drains.tmpFixtureDir(prefix, dir)
    root.mkdirs()
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val staging = new java.io.File(root, "staging"); staging.mkdirs()
    val state = new java.io.File(root, "state").getPath
    val edgesOut = new java.io.File(root, "edges").getPath
    val tomb = new java.io.File(root, "tomb").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // FROZEN quantizer (s51's discipline)
    val kit = ivf(Tables.embeddings(spark, dir)).checkpointed
    // four id-range INSERT slices then two DELETE slices, arrival order
    // forced by mtime (the s51/cdc16 bump discipline); deletes arrive
    // after every insert — the maintained-then-deleted lifecycle
    val sliceRoot = if (restart) staging else feed
    val maxRow = emb.agg(max(col("vec_id"))).head()
    if (!maxRow.isNullAt(0)) {
      val mx = maxRow.getLong(0)
      val cuts = Seq(0L, mx / 4 + 1, mx / 2 + 1, 3 * mx / 4 + 1, mx + 1)
      val base = System.currentTimeMillis()
      def slice(i: Int, df: DataFrame): Unit = {
        val d = new java.io.File(sliceRoot, s"slice$i")
        df.coalesce(1).write.mode("overwrite").parquet(d.getPath)
        Option(d.listFiles()).getOrElse(Array.empty)
          .foreach(f => f.setLastModified(base + 4000L * i))
      }
      val dels = emb.filter(col("vec_id") % 9 === 0)
        .select(lit(-1).as("op"), col("vec_id"),
          lit(null).cast("array<float>").as("embedding"))
      // six independent slice jobs into disjoint dirs, arrival order
      // forced by the explicit mtime stamps — overlapped (§2.6)
      graft.streaming.Drains.inParallel(
        (cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
          () => slice(i, emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
            .select(lit(1).as("op"), col("vec_id"), col("embedding")))
        }.toSeq ++ Seq(
          () => slice(4, dels.filter(col("vec_id") < mx / 2 + 1)),
          () => slice(5, dels.filter(col("vec_id") >= mx / 2 + 1)))): _*)
    }
    val batch0Files = scala.collection.mutable.ArrayBuffer.empty[String]
    val lastFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    var lastId = -1L
    def applyBatch(batch: DataFrame, id: Long): Unit = {
        if (id == 0L && batch0Files.isEmpty)
          batch0Files ++= batch.select(input_file_name()).distinct()
            .collect().map(_.getString(0)).filter(_.nonEmpty)
        if (id > 0L) {
          lastFiles.clear()
          lastFiles ++= batch.select(input_file_name()).distinct()
            .collect().map(_.getString(0)).filter(_.nonEmpty)
          lastId = id
        }
        // split once: inserts + deletes — LAZY persist (materialized by
        // the tombstone write, reused by the insert side) instead of an
        // eager localCheckpoint's extra per-batch job; the file-name
        // collects above ran on the RAW batch, where input_file_name()
        // still has its scan context (a cached scan loses it)
        val b = batch.persist()
        try {
          // tombstones ∥ insert maintenance: DISJOINT states (tomb vs
          // state+edges), overlapped per guide §2.6 — each side is
          // micro-batch-sized driver latency, so running them
          // sequentially doubles the batch's fixed cost for nothing
          graft.streaming.Drains.inParallel(
            // deletes → tombstones (idempotent: partition overwrite per batch)
            () => ViewMaintenance.applyIdempotent(
              b.filter(col("op") === -1).select("vec_id"), tomb, id),
            // inserts → the shared s51 edge maintenance (anti-joined state
            // probe, strict id-prefix rule, bounded top-3 window)
            () => maintainGraphInsert(spark, kit, state, edgesOut)(
              b.filter(col("op") === 1), id))
          if (compactInDrain) {
            // the maintenance loop: all three states, every batch —
            // exactly-once row sets fold by identity (the s54 argument:
            // replays still see their original candidate set through the
            // base, and recreated covered partitions are read-side
            // ignored); disjoint dirs, so the three folds overlap (§2.6)
            graft.streaming.Drains.inParallel(
              () => ViewMaintenance.maybeCompact(spark, state,
                "vec_id BIGINT, cluster BIGINT, embedding ARRAY<FLOAT>, batch_id BIGINT",
                maxLive = 2, keepLast = 1)(df => df),
              () => ViewMaintenance.maybeCompact(spark, edgesOut,
                "cluster BIGINT, vec_id BIGINT, nbr BIGINT, batch_id BIGINT",
                maxLive = 2, keepLast = 1)(df => df),
              () => ViewMaintenance.maybeCompact(spark, tomb,
                "vec_id BIGINT, batch_id BIGINT",
                maxLive = 2, keepLast = 1)(df => df))
          }
        } finally b.unpersist(false)
    }
    def runDrain(): Unit = graft.streaming.Drains.drain(spark, spark.readStream
      .schema("op INT, vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(feed.getPath)
      .writeStream
      .foreachBatch(applyBatch _), ckpt)
    // the drain dial (partitions + AQE-off) covers the drains AND the
    // injected replays — the same micro-batch-sized queries either way
    graft.streaming.Drains.withDrainPartitions(spark) {
      if (restart) {
        def deliver(idxs: Range): Unit = idxs.foreach { i =>
          val d = new java.io.File(staging, s"slice$i")
          if (d.exists())
            require(d.renameTo(new java.io.File(feed, s"slice$i")),
              s"fixture deliver failed: $d")
        }
        deliver(0 to 2); runDrain()
        deliver(3 to 5); runDrain()
      } else runDrain()
      def replay(files: Seq[String], id: Long): Unit =
        applyBatch(spark.read
          .schema("op INT, vec_id BIGINT, embedding ARRAY<FLOAT>")
          .parquet(files: _*), id)
      // injected replays: an INSERT batch (0) and the last (DELETE) batch
      if (batch0Files.nonEmpty) replay(batch0Files.toSeq, 0L)
      if (lastFiles.nonEmpty) replay(lastFiles.toSeq, lastId)
    }
    // the FROZEN quantizer rides along so serve-time callers never
    // rebuild it — buildCentroids is deterministic, so reusing the
    // drain's checkpointed table is the identical values for free
    (kit, state, edgesOut, tomb)
  }

  def s52StreamGraphDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val (_, _, edgesOut, tomb) = graphDeleteDrain(spark, dir, "graft_s52_")
    val tombs = ViewMaintenance.readState(spark, tomb,
        "vec_id BIGINT, batch_id BIGINT")
      .select("vec_id")
    ViewMaintenance.readState(spark, edgesOut,
        "cluster BIGINT, vec_id BIGINT, nbr BIGINT, batch_id BIGINT")
      .join(tombs, Seq("vec_id"), "left_anti") // node gone
      .join(tombs.select(col("vec_id").as("nbr")), Seq("nbr"), "left_anti") // edge dead
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("vec_id")).as("n_sources"),
        sum(col("vec_id")).as("src_id_sum"),
        sum(col("nbr")).as("nbr_id_sum"))
      .orderBy("cluster")
  }

  // s53 — GRAPH REPAIR (re-densification) after deletes: s52's serve is
  // the documented degraded posture — a source whose top-3 lost a
  // tombstoned neighbor serves fewer than 3 until repaired. This gate
  // IS the repair: after the drain, the AFFECTED set (surviving sources
  // with ≥ 1 tombstoned neighbor in the maintained edge state) has its
  // top-3 recomputed against the SURVIVING same-cluster members with
  // smaller ids, and the repaired edge set replaces their rows. The
  // unaffected sources' edges are provably already correct (none of
  // their original top-3 was deleted, so their top-3 among survivors is
  // unchanged), which is what lets the oracle be the from-scratch kNN
  // graph over the survivors — repair must restore the index to the
  // as-if-rebuilt state, the contract that makes tombstones a
  // deferred-maintenance strategy instead of permanent recall decay.
  // Per-cluster n_repaired pins WHO was repaired, not just the final
  // counts. At 100 TB: the affected set is |tombstones|-proportional
  // (only sources that POINTED AT a deleted vector), and the recompute
  // is one cluster-keyed join of that small set against its clusters'
  // survivors — never a rebuild, never all-pairs.
  /** s53's repair computation, shared with s55's serve: read the three
    * maintained states, drop tombstoned sources, recompute ONLY the
    * affected sources (survivors that lost ≥ 1 edge to a tombstone)
    * against surviving smaller-id members, keep the rest. Returns
    * (survivors, affected source ids, the repaired edge set) — the edge
    * set provably equals the from-scratch kNN graph over the survivors
    * (s53's oracle pins exactly that). */
  private def repairGraph(spark: SparkSession, state: String,
      edgesOut: String, tomb: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.streaming.ViewMaintenance
    val tombs = ViewMaintenance.readState(spark, tomb,
        "vec_id BIGINT, batch_id BIGINT")
      .select("vec_id").localCheckpoint(true) // probed four times below
    val vecs = ViewMaintenance.readState(spark, state,
        "vec_id BIGINT, cluster BIGINT, embedding ARRAY<FLOAT>, batch_id BIGINT")
      .drop("batch_id")
    val survivors = vecs.join(tombs, Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // repair probe side + candidate side
    val edges = ViewMaintenance.readState(spark, edgesOut,
        "cluster BIGINT, vec_id BIGINT, nbr BIGINT, batch_id BIGINT")
      .join(tombs, Seq("vec_id"), "left_anti") // tombstoned sources drop
      .localCheckpoint(true) // affected split + kept split
    // affected = surviving sources that lost ≥ 1 edge to a tombstone
    val affected = edges
      .join(tombs.select(col("vec_id").as("nbr")), Seq("nbr"), "left_semi")
      .select("vec_id").distinct()
    // recompute ONLY the affected sources: cluster-keyed join against
    // surviving smaller-id members (the s51 candidate shape, restricted)
    val aSide = survivors.join(affected, Seq("vec_id"), "left_semi")
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr"))
    val repaired = aSide.join(
        survivors.select(col("cluster"), col("vec_id").as("nbr"),
          col("embedding").as("nv")), Seq("cluster"))
      .filter(col("nbr") < col("vec_id"))
      .withColumn("cos", cosineSim(col("embedding"), col("nv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("cluster", "vec_id", "nbr")
    val kept = edges
      .join(affected, Seq("vec_id"), "left_anti") // unaffected: provably correct
      .select("cluster", "vec_id", "nbr")
    (survivors, affected, kept.unionByName(repaired))
  }

  def s53GraphRepair(spark: SparkSession, dir: String): DataFrame = {
    val (_, state, edgesOut, tomb) = graphDeleteDrain(spark, dir, "graft_s53_")
    val (survivors, affected, graph) = repairGraph(spark, state, edgesOut, tomb)
    val nRepaired = survivors.select("vec_id", "cluster")
      .join(affected, Seq("vec_id"), "left_semi")
      .groupBy("cluster").agg(count(lit(1)).as("n_repaired"))
    graph
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("vec_id")).as("n_sources"),
        sum(col("vec_id")).as("src_id_sum"),
        sum(col("nbr")).as("nbr_id_sum"))
      .join(nRepaired, Seq("cluster"), "left")
      .select(col("cluster"), col("n_edges"), col("n_sources"),
        col("src_id_sum"), col("nbr_id_sum"),
        coalesce(col("n_repaired"), lit(0L)).as("n_repaired"))
      .orderBy("cluster")
  }

  val s53Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"), label = "clabel AS cluster")}
      |), full_edges AS (
      |  SELECT cluster, vec_id, nbr FROM (
      |    SELECT a.cluster, a.vec_id, b.vec_id AS nbr,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM assigned a JOIN assigned b
      |      ON b.cluster = a.cluster AND b.vec_id < a.vec_id)
      |  WHERE rk <= 3
      |), surv AS (
      |  SELECT vec_id, embedding, cluster FROM assigned WHERE vec_id % 9 <> 0
      |), repaired_graph AS (
      |  SELECT cluster, vec_id, nbr FROM (
      |    SELECT a.cluster, a.vec_id, b.vec_id AS nbr,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM surv a JOIN surv b
      |      ON b.cluster = a.cluster AND b.vec_id < a.vec_id)
      |  WHERE rk <= 3
      |), affected AS (
      |  SELECT DISTINCT vec_id FROM full_edges
      |  WHERE vec_id % 9 <> 0 AND nbr % 9 = 0
      |), nrep AS (
      |  SELECT s.cluster, COUNT(*) AS n_repaired
      |  FROM surv s JOIN affected USING (vec_id) GROUP BY s.cluster
      |), census AS (
      |  SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n_edges,
      |    COUNT(DISTINCT vec_id) AS n_sources,
      |    CAST(SUM(vec_id) AS BIGINT) AS src_id_sum,
      |    CAST(SUM(nbr) AS BIGINT) AS nbr_id_sum
      |  FROM repaired_graph GROUP BY cluster
      |)
      |SELECT c.cluster, c.n_edges, c.n_sources, c.src_id_sum,
      |  c.nbr_id_sum, COALESCE(MIN(n.n_repaired), 0) AS n_repaired
      |FROM census c LEFT JOIN nrep n ON n.cluster = c.cluster
      |GROUP BY 1, 2, 3, 4, 5 ORDER BY c.cluster""".stripMargin

  val s52Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"), label = "clabel AS cluster")}
      |), edges AS (
      |  SELECT cluster, vec_id, nbr FROM (
      |    SELECT a.cluster, a.vec_id, b.vec_id AS nbr,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM assigned a JOIN assigned b
      |      ON b.cluster = a.cluster AND b.vec_id < a.vec_id)
      |  WHERE rk <= 3
      |), surv AS (
      |  SELECT cluster, vec_id, nbr FROM edges
      |  WHERE vec_id % 9 <> 0 AND nbr % 9 <> 0
      |)
      |SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n_edges,
      |  COUNT(DISTINCT vec_id) AS n_sources,
      |  CAST(SUM(vec_id) AS BIGINT) AS src_id_sum,
      |  CAST(SUM(nbr) AS BIGINT) AS nbr_id_sum
      |FROM surv GROUP BY cluster ORDER BY cluster""".stripMargin

  // s55 — SERVE-TIME ANN THROUGH THE FULL LIFECYCLE (the r13 stretch:
  // "the end-to-end proof a production index owner actually wants").
  // One index lives through everything the family proves piecewise:
  // the insert feed arrives across a RESTART seam (two AvailableNow
  // runs, one checkpoint — cdc53's posture on the parquet feed), all
  // three states COMPACT mid-drain on their own schedules (maybeCompact
  // every batch, bases spanning the restart — cdc59's composition),
  // deletes TOMBSTONE a data-derived residue class (s52), both replay
  // classes are injected AFTER the restart (an insert batch now covered
  // by a base, a delete batch in flight), the graph is REPAIRED (s53's
  // shared computation), and then the index actually SERVES: query
  // vectors (the % 17 == 3 residue) route through the frozen quantizer
  // to their cluster, enter at the cluster's apex (the LARGEST surviving
  // id — the strict id-prefix rule aims every edge at smaller ids, so
  // the max-id node is the DAG's natural entry; the min-id node has no
  // out-edges), expand a two-hop ball along repaired edges (≤ 1+3+9
  // candidates), and serve top-3 by exact cosine. The oracle rebuilds
  // the entire posture from the survivors' from-scratch kNN graph — so
  // a stale edge (missed repair), a resurrected tombstone (live-rule
  // breach after compaction), a lost batch (restart seam), or a
  // double-counted replay shifts the served neighbor ids and hash-
  // mismatches. At 100 TB: the candidate ball is ≤ 13 rows per cluster
  // (broadcast to the query side), serve cost is |queries| × 13 cosines
  // — the graph-walk economics that make navigable indexes serve, while
  // every maintenance state stays compacted and exactly-once.
  def s55LifecycleServe(spark: SparkSession, dir: String): DataFrame = {
    val (kit, state, edgesOut, tomb) = graphDeleteDrain(spark, dir,
      "graft_s55_", restart = true, compactInDrain = true)
    repairAndServe(spark, dir, kit, state, edgesOut, tomb)
  }

  /** s55/s57's shared repair-then-serve: [[repairGraph]] the maintained
    * states, then serve the `% 17 == 3` query class through the frozen
    * quantizer — per-cluster apex entry, two-hop ball (≤ 1+3+9
    * candidates) broadcast to the query join, top-3 by exact cosine.
    * Both gates pin the same contract (s55's oracle): whatever
    * lifecycle the states lived through, the index serves exactly what
    * a fresh survivors-only build would. */
  private def repairAndServe(spark: SparkSession, dir: String,
      kit: graft.ops.Ivf, state: String, edgesOut: String, tomb: String): DataFrame = {
    val (survivors, _, graph0) = repairGraph(spark, state, edgesOut, tomb)
    val graph = graph0.localCheckpoint(true) // probed per hop below
    // entry per cluster: the surviving apex (see scaladoc above)
    val entry = survivors.groupBy("cluster").agg(max(col("vec_id")).as("id"))
    def hop(frontier: DataFrame): DataFrame = frontier
      .join(graph.select(col("cluster"), col("vec_id").as("id"), col("nbr")),
        Seq("cluster", "id"))
      .select(col("cluster"), col("nbr").as("id"))
    val hop1 = hop(entry)
    val hop2 = hop(hop1)
    val cand = entry.unionByName(hop1).unionByName(hop2).distinct()
      .join(survivors.select(col("cluster"), col("vec_id").as("id"),
        col("embedding").as("cv")), Seq("cluster", "id"))
    // `kit` is the caller's FROZEN quantizer (the drain already built
    // and checkpointed it; buildCentroids is deterministic, so reuse is
    // bit-identical to a rebuild — and one less double-shuffle pass)
    val q = kit.assign(Tables.embeddings(spark, dir).filter(col("vec_id") % 17 === 3)
        .select("vec_id", "embedding"))
      .select(col("vec_id").as("query_id"), col("cluster"),
        col("embedding").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("id"))
    q.join(broadcast(cand), Seq("cluster")) // ≤ 13 candidates per cluster
      .withColumn("cos", cosineSim(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      // the quantizer's label is INT; the state schemas carry BIGINT
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_served"),
        sum(col("id")).as("served_id_sum"),
        sum(when(col("rk") === 1, col("id"))).as("top1_id_sum"))
      .orderBy("cluster")
  }

  val s55Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"), label = "clabel AS cluster")}
      |), surv AS (
      |  SELECT vec_id, embedding, cluster FROM assigned WHERE vec_id % 9 <> 0
      |), repaired_graph AS (
      |  SELECT cluster, vec_id, nbr FROM (
      |    SELECT a.cluster, a.vec_id, b.vec_id AS nbr,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM surv a JOIN surv b
      |      ON b.cluster = a.cluster AND b.vec_id < a.vec_id)
      |  WHERE rk <= 3
      |), entry AS (
      |  SELECT cluster, MAX(vec_id) AS id FROM surv GROUP BY cluster
      |), hop1 AS (
      |  SELECT r.cluster, r.nbr AS id FROM entry e
      |  JOIN repaired_graph r ON r.cluster = e.cluster AND r.vec_id = e.id
      |), hop2 AS (
      |  SELECT r.cluster, r.nbr AS id FROM hop1 h
      |  JOIN repaired_graph r ON r.cluster = h.cluster AND r.vec_id = h.id
      |), cand AS (
      |  SELECT DISTINCT u.cluster, u.id, s.embedding AS cv FROM (
      |    SELECT cluster, id FROM entry
      |    UNION ALL SELECT cluster, id FROM hop1
      |    UNION ALL SELECT cluster, id FROM hop2) u
      |  JOIN surv s ON s.cluster = u.cluster AND s.vec_id = u.id
      |), served AS (
      |  SELECT query_id, cluster, id, rk FROM (
      |    SELECT q.vec_id AS query_id, q.cluster, c.id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY ${duckCosOf("q.embedding", "c.cv")} DESC, c.id) AS rk
      |    FROM assigned q JOIN cand c ON c.cluster = q.cluster
      |    WHERE q.vec_id % 17 = 3)
      |  WHERE rk <= 3
      |)
      |SELECT CAST(cluster AS BIGINT) AS cluster,
      |  COUNT(DISTINCT query_id) AS n_queries, COUNT(*) AS n_served,
      |  CAST(SUM(id) AS BIGINT) AS served_id_sum,
      |  CAST(SUM(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS top1_id_sum
      |FROM served GROUP BY cluster ORDER BY cluster""".stripMargin

  // s57 — SERVE THROUGH RETENTION (the r14 verdict's fifth task: s55
  // proves the full lifecycle serves correctly; this proves the served
  // index never depends on PURGED WIRE HISTORY. The corpus rides s54's
  // real binlog wire — WRITE_ROWS of (vec_id, f0..f63) in four
  // id-ordered files — into the PURGE-SAFE tail; after the insert drain
  // (and the batch-0 redelivery, which crash-after-commit places BEFORE
  // retention), every consumed wire file below the frontier is DELETED
  // (a structural require pins that the listing shrank to just the
  // frontier file); the delete class (vec_id % 9) then arrives as
  // DELETE_ROWS files under higher suffixes — the binlog's native
  // retraction — tombstoning across the retention+restart seam; the
  // delete-batch replay is injected after run 2; all three states
  // compact per batch (identity folds), so serve-time reads touch
  // compacted parquet, never the wire. Repair and serve are s55's
  // shared path, and the gate shares s55's oracle: if ANY serve-time
  // artifact still depended on the purged files, the read would fail
  // or the census would shift — either is a gate failure. At 100 TB
  // this is the difference between an index whose source retention is
  // a server-side policy and one that silently requires infinite wire
  // history: state is the compacted parquet, the wire is transport.
  def s57ServeThroughRetention(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val dim = 64
    val root = graft.streaming.Drains.tmpFixtureDir("graft_s57_", dir)
    root.mkdirs()
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val state = new java.io.File(root, "state").getPath
    val edgesOut = new java.io.File(root, "edges").getPath
    val tomb = new java.io.File(root, "tomb").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // FROZEN quantizer (s51's discipline)
    val kit = ivf(Tables.embeddings(spark, dir), dim = dim).checkpointed
    def deliver(staging: String): Unit =
      graft.streaming.Drains.deliver(staging, feed.getPath)
    // the insert wire: four id-range files (the strict id-prefix rule's
    // arrival order), staged so each range is one numbered file
    val maxRow = emb.agg(max(col("vec_id"))).head()
    if (!maxRow.isNullAt(0)) {
      val mx = maxRow.getLong(0)
      val cuts = Seq(0L, mx / 4 + 1, mx / 2 + 1, 3 * mx / 4 + 1, mx + 1)
      // four independent wire writes into disjoint staging dirs, under
      // DISTINCT suffixes (the tail source orders by suffix, and all are
      // staged before the drain starts) — overlapped (§2.6)
      graft.streaming.Drains.inParallel(
        cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), k) =>
          () => {
            val staging = new java.io.File(root, s"st_$k").getPath
            graft.ingest.BinlogSink.writeChanges(
              emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
                .select(lit(1).as("op") +: col("vec_id") +:
                  (0 until dim).map(i => col("embedding")(i).as(s"f$i")): _*)
                .coalesce(1),
              staging, fileSeqStart = 1 + k)
            deliver(staging)
          }
        }.toSeq: _*)
    }
    val batches = new graft.streaming.Drains.Redelivery(spark, Seq(feed.getPath))
    var lastFiles = Seq.empty[String]
    var lastId = -1L
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      // split once: inserts + deletes — LAZY persist instead of an eager
      // localCheckpoint; the file-name collect below is the first action,
      // so it both records the batch's wire files AND materializes the
      // cache the two state writes then reuse (binlog_file is a DATA
      // column, so collecting it from the cached scan is sound — unlike
      // input_file_name(), which loses its context under caching)
      val b = batch.persist()
      val files = batches.files(b)
      batches.record(b, id)
      if (files.nonEmpty) { // rotation-remainder batches carry no events
        lastFiles = files; lastId = id
      }
      try {
        // tombstones ∥ insert maintenance: disjoint states, overlapped
        // (§2.6) — see graphDeleteDrain's applyBatch for the argument
        graft.streaming.Drains.inParallel(
          () => ViewMaintenance.applyIdempotent(
            b.filter(col("event_type") === "DeleteRowsEventV2")
              .select(explode(col("row_images")).as("img"))
              .select(element_at(col("img"), 1).cast("long").as("vec_id")),
            tomb, id),
          () => maintainGraphInsert(spark, kit, state, edgesOut)(
            b.filter(col("event_type") === "WriteRowsEventV2")
              .select(explode(col("row_images")).as("img"))
              .select(element_at(col("img"), 1).cast("long").as("vec_id"),
                array((2 to dim + 1).map(i =>
                  element_at(col("img"), i).cast("float")): _*).as("embedding")),
            id))
        // the maintenance loop: exactly-once row sets fold by identity;
        // disjoint dirs, so the three folds overlap (§2.6)
        graft.streaming.Drains.inParallel(
          () => ViewMaintenance.maybeCompact(spark, state,
            "vec_id BIGINT, cluster BIGINT, embedding ARRAY<FLOAT>, batch_id BIGINT",
            maxLive = 2, keepLast = 1)(df => df),
          () => ViewMaintenance.maybeCompact(spark, edgesOut,
            "cluster BIGINT, vec_id BIGINT, nbr BIGINT, batch_id BIGINT",
            maxLive = 2, keepLast = 1)(df => df),
          () => ViewMaintenance.maybeCompact(spark, tomb,
            "vec_id BIGINT, batch_id BIGINT",
            maxLive = 2, keepLast = 1)(df => df))
      } finally b.unpersist(false)
    }
    def drain(): Unit = graft.streaming.Drains.drainBinlog(
      spark, Seq(feed.getPath), ckpt, tail = true)(applyBatch)
    drain() // run 1: the insert wire
    // the batch-0 redelivery: crash-after-commit happens BEFORE retention
    batches.replay()(applyBatch)
    // RETENTION: every consumed wire file below the frontier vanishes
    // (the frontier file itself must stay — the tail's retention contract);
    // the structural require pins that the listing really shrank
    val before = Option(feed.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith(".")).sortBy(_.getName)
    if (before.length > 1) {
      before.dropRight(1).foreach(f =>
        require(f.delete(), s"purge failed: $f"))
      val left = Option(feed.listFiles()).getOrElse(Array.empty[java.io.File])
        .count(f => f.isFile && !f.getName.startsWith("."))
      require(left == 1,
        s"retention must leave only the frontier file, got $left")
    }
    // the delete class arrives on the wire AFTER the purge, under
    // higher suffixes: DELETE_ROWS, null data columns (the before
    // image's id is all a tombstone needs)
    val delStaging = new java.io.File(root, "st_del").getPath
    val dels = emb.filter(col("vec_id") % 9 === 0)
    if (!dels.isEmpty) {
      graft.ingest.BinlogSink.writeChanges(
        dels.select(lit(-1).as("op") +: col("vec_id") +:
          (0 until dim).map(i => lit(null).cast("float").as(s"f$i")): _*)
          .repartitionByRange(2, col("vec_id")),
        delStaging, fileSeqStart = 11)
      deliver(delStaging)
    }
    drain() // run 2: tombstones land across the retention+restart seam
    // the delete-batch replay — only while its wire files survive
    // (crash-after-commit precedes retention, the documented contract;
    // on a fixture with no delete class the last recorded batch may be
    // a purged insert file, which is exactly the replay retention has
    // already foreclosed)
    if (lastId > 0L && lastFiles.forall(f => new java.io.File(feed, f).isFile))
      batches.replay(lastFiles, lastId)(applyBatch)
    repairAndServe(spark, dir, kit, state, edgesOut, tomb)
  }

  // s58 — VERSION-PINNED INDEX SERVING (the reproducibility layer
  // composed with the ANN family: a production search deployment pins
  // each RELEASE of the maintained index to a state mark — cdc75's
  // readStateAsOf — so "the index release 1 served" stays readable
  // months later while maintenance keeps compacting the live frontier).
  // s51's exact insert drain (id-ordered quartile slices, frozen
  // quantizer, strict id-prefix edges, injected batch-0 redelivery) is
  // followed by the release discipline on BOTH states (vectors and
  // edges): compact to the release mark (coverage 1 = the first two
  // slices), then compact to the frontier RETAINING the release base.
  // The pinned census is then served from ONE retained base partition
  // per state (partition-pruned — at 100 TB a pinned read costs one
  // snapshot scan, never a log replay), the frontier census from the
  // current base. The strict id-prefix rule makes the pinned graph
  // equal to a from-scratch build over members with vec_id <= max/2 —
  // exactly what the oracle recomputes next to s51's full build, so a
  // pinned read leaking a newer batch, retention dropping the release
  // base, or a compaction fold corrupting either snapshot is a hash
  // mismatch.
  def s58PinnedIndexServe(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val (state, edgesOut) = drainInsertSlices(spark, dir, "graft_s58_")
    val vecSchema =
      "vec_id BIGINT, cluster BIGINT, embedding ARRAY<FLOAT>, batch_id BIGINT"
    val edgeSchema = "cluster BIGINT, vec_id BIGINT, nbr BIGINT, batch_id BIGINT"
    // the release discipline: both states pin release 1, then compact to
    // the frontier retaining the release base (identity folds — these
    // are set states, unique rows per partition)
    Seq((state, vecSchema), (edgesOut, edgeSchema)).foreach { case (d, sch) =>
      ViewMaintenance.compact(spark, d, sch, upto = 1L)(df => df)
      ViewMaintenance.compact(spark, d, sch, upto = 3L, retainBases = 1)(df => df)
    }
    def census(tag: String, m: Long): DataFrame = {
      val members = ViewMaintenance.readStateAsOf(spark, state, vecSchema, m)
        .groupBy("cluster").agg(countDistinct(col("vec_id")).as("n_members"))
      ViewMaintenance.readStateAsOf(spark, edgesOut, edgeSchema, m)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_edges"),
          countDistinct(col("vec_id")).as("n_sources"),
          sum(col("vec_id")).as("src_id_sum"),
          sum(col("nbr")).as("nbr_id_sum"))
        // a cluster whose pinned membership is a single vector has no
        // edges yet — it must still appear in the release census
        .join(members, Seq("cluster"), "right")
        .na.fill(0L, Seq("n_edges", "n_sources", "src_id_sum", "nbr_id_sum"))
        .select(lit(tag).as("mark"), col("cluster"), col("n_members"),
          col("n_edges"), col("n_sources"), col("src_id_sum"),
          col("nbr_id_sum"))
    }
    census("r1_pinned", 1L).unionByName(census("r2_frontier", 3L))
      .orderBy("mark", "cluster")
  }

  val s58Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"), label = "clabel AS cluster")}
      |), rel AS (
      |  SELECT 'r1_pinned' AS mark,
      |    (SELECT MAX(vec_id) // 2 FROM embeddings) AS cut
      |  UNION ALL SELECT 'r2_frontier', (SELECT MAX(vec_id) FROM embeddings)
      |), mem AS MATERIALIZED (
      |  SELECT r.mark, a.cluster, a.vec_id, a.embedding
      |  FROM rel r JOIN assigned a ON a.vec_id <= r.cut
      |), edges AS (
      |  SELECT mark, cluster, vec_id, nbr FROM (
      |    SELECT m.mark, m.cluster, m.vec_id, b.vec_id AS nbr,
      |      row_number() OVER (PARTITION BY m.mark, m.vec_id
      |        ORDER BY ${duckCosOf("m.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM mem m JOIN mem b
      |      ON b.mark = m.mark AND b.cluster = m.cluster
      |        AND b.vec_id < m.vec_id)
      |  WHERE rk <= 3
      |), mc AS (
      |  SELECT mark, cluster, COUNT(DISTINCT vec_id) AS n_members
      |  FROM mem GROUP BY 1, 2
      |), ec AS (
      |  SELECT mark, cluster, COUNT(*) AS n_edges,
      |    COUNT(DISTINCT vec_id) AS n_sources,
      |    CAST(SUM(vec_id) AS BIGINT) AS src_id_sum,
      |    CAST(SUM(nbr) AS BIGINT) AS nbr_id_sum
      |  FROM edges GROUP BY 1, 2
      |)
      |SELECT m.mark, CAST(m.cluster AS BIGINT) AS cluster, m.n_members,
      |  COALESCE(e.n_edges, 0) AS n_edges,
      |  COALESCE(e.n_sources, 0) AS n_sources,
      |  COALESCE(e.src_id_sum, 0) AS src_id_sum,
      |  COALESCE(e.nbr_id_sum, 0) AS nbr_id_sum
      |FROM mc m LEFT JOIN ec e ON e.mark = m.mark AND e.cluster = m.cluster
      |ORDER BY 1, 2""".stripMargin

  val gates: Seq[Gate] = Seq(
    // streamed ingest == batch append
    Gate("s42_stream_index_ingest", s42StreamIndexIngest, PqQueries.s13Oracle, drain = true),
    // drained query stream == one-shot batch search
    Gate("s43_stream_search", s43StreamSearch, SimilarityQueries.s03Oracle, drain = true),
    // shuffled-probe plan, identical rows
    Gate("s44_batch_search", s44BatchSearch, SimilarityQueries.s03Oracle),
    Gate("s46_cdc_index_sync", s46CdcIndexSync, s46Oracle),
    Gate("s51_stream_graph_maintain", s51StreamGraphMaintain, s51Oracle, drain = true),
    // s51's graph, survivor-filtered
    Gate("s52_stream_graph_delete", s52StreamGraphDelete, s52Oracle, drain = true),
    // repair restores the as-if-rebuilt-on-survivors graph exactly
    Gate("s53_graph_repair", s53GraphRepair, s53Oracle, drain = true),
    // wire-fed maintenance == parquet-fed maintenance (isolates the
    // binlog float encode/decode from the graph math)
    Gate("s54_wire_vector_ingest", s54WireVectorIngest, s51Oracle, drain = true),
    // the full lifecycle (restart + compaction + tombstones + repair)
    // must serve exactly what a fresh survivors-only index would
    Gate("s55_lifecycle_serve", s55LifecycleServe, s55Oracle, drain = true),
    // the sharded wire changes the TRANSPORT, not the maintained graph
    Gate("s56_sharded_wire_vectors", s56ShardedWireVectors, s51Oracle, drain = true),
    // retention purges the wire mid-lifecycle; the serve is unchanged
    // because state is compacted parquet, never the wire
    Gate("s57_serve_through_retention", s57ServeThroughRetention, s55Oracle, drain = true),
    // the pinned release census == a from-scratch build at the mark's
    // membership; the frontier == s51's full build
    Gate("s58_pinned_index", s58PinnedIndexServe, s58Oracle, drain = true),
  )
}
