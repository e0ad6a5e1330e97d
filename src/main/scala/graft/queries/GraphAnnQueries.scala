package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.cosineSim
import SimilarityQueries.{duckCentroidCtes, duckCosOf, duckNearest, ivf}

/** The GRAPH-ANN family (split from SimilarityQueries in r12 — same
  * code, same oracles): cluster-partitioned kNN-graph construction
  * (s25), the served DiskANN/HNSW-style search (s34) with its persisted
  * (s36) and attribute-filtered (s49) routes, and the calibration
  * instruments that PRICED the served configuration — recall vs hop
  * depth (s38), nprobe (s40), bridge edges (s41), and beam width (s50).
  * Shared search helpers (knnEdges/bridgeEdges/ivfSeeds/hopBall) and the
  * served-index oracle CTE text live here so the family cannot drift;
  * quantizer helpers come from SimilarityQueries/ops.Similarity.
  */
object GraphAnnQueries {
  // s25 — CLUSTER-PARTITIONED kNN-GRAPH construction: each vector's 3
  // nearest neighbors WITHIN its IVF cluster (cos desc, ties by id) —
  // the standard distributed seeding for NN-Descent / graph-based ANN
  // (an HNSW-quality graph starts from exactly this partitioned kNN),
  // and the input to mutual-kNN agglomerative clustering. The quadratic
  // term is n_c² per cluster (d14's declared cost class — bounded by
  // the s23 balance profile, never N²); the per-node top-k is a window
  // over (cluster, node). Mutual edges (i→j AND j→i) are counted via a
  // self-equi-join of the directed edge set on the swapped key — mutual
  // density is THE graph-quality signal NN-Descent convergence is
  // judged by. Integer output pins nodes, edge multiset (neighbor-id
  // checksum), and mutual count per cluster.
  /** The directed top-`k` intra-cluster kNN edge list over an
    * [[graft.ops.Similarity.assignToCentroids]] output — the ONE edge
    * definition every graph-index query shares (s25 build stats,
    * s34/s36 search, s38/s40/s41 calibration), so the gated search and
    * its calibration tables cannot drift (the graphBallSearch
    * anti-drift rationale, applied to the index build itself).
    * Output: (cluster, id_a, id_b), rank ≤ k by (cos desc, id_b). */
  private def knnEdges(assigned: DataFrame, k: Int = 3): DataFrame = {
    // per-row norms hoisted out of the n_c² intra-cluster pair loop —
    // bit-identical factored cosine (graft.functions.DotProduct scaladoc)
    import graft.functions.VectorFunctions.{cosineFromParts, dotProduct, sumSquares}
    val withN = assigned.withColumn("_n2", sumSquares(col("embedding")))
    val l = withN.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("va"), col("_n2").as("_na"))
    val r = withN.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("_n2").as("_nb"))
    val wk = Window.partitionBy("cluster", "id_a")
      .orderBy(col("cos").desc, col("id_b"))
    l.join(r, Seq("cluster"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("cos", cosineFromParts(
        dotProduct(col("va"), col("vb")), col("_na"), col("_nb")))
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
      .select("cluster", "id_a", "id_b")
  }

  /** One BRIDGE edge per vector — its top-cosine neighbor inside its
    * SECOND-nearest cluster (the rn=2 coarse assignment; DiskANN's
    * long-range links, relationally). The intra-cluster kNN ball cannot
    * leave the probed clusters, so without bridges recall saturates at
    * the coarse-quantizer truncation rate however many hops run; s41
    * prices the lift, and the SERVED search (s34/s36/s38) includes
    * these by default. Build cost: each vector joins ONE other
    * cluster's members — the same N²/k pair-mass class as the intra
    * kNN build, cluster-keyed, never all-pairs. Output: (id_a, id_b). */
  private def bridgeEdges(emb: DataFrame, kit: graft.ops.Ivf,
      assigned: DataFrame): DataFrame = {
    // each vector's SECOND-nearest cluster: the nprobe=2 probe minus the
    // assignment — both share the (ccos desc, clabel) tie-break, so the
    // leftover row is exactly rn = 2
    val second = kit.probes(emb.select("vec_id", "embedding"), 2)
      .join(assigned.select(col("vec_id"), col("cluster").as("c1")), Seq("vec_id"))
      .filter(col("cluster") =!= col("c1"))
    // same norm hoist as [[knnEdges]] — each vector scores one other
    // cluster's full membership
    import graft.functions.VectorFunctions.{cosineFromParts, dotProduct, sumSquares}
    val wB = Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))
    second.select(col("vec_id").as("id_a"),
        col("embedding").as("va"), col("cluster"))
      .withColumn("_na", sumSquares(col("va")))
      .join(assigned.select(col("cluster"), col("vec_id").as("id_b"),
          col("embedding").as("vb"))
        .withColumn("_nb", sumSquares(col("vb"))), Seq("cluster"))
      .withColumn("cos", cosineFromParts(
        dotProduct(col("va"), col("vb")), col("_na"), col("_nb")))
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") === 1)
      .select("id_a", "id_b")
  }

  /** The SERVED graph-search configuration, promoted from the measured
    * calibration curves (round-11): s40's nprobe sweep reads 266k /
    * 400k / 625k ppm recall@3 at nprobe 1/2/4 on sf0.1 (seed-scoring
    * cost grows linearly with nprobe — 625k ppm for 2× the nprobe=2
    * scoring is the curve's knee), and s41 measures bridge edges adding
    * a further lift at fixed nprobe (400k → 417k ppm at nprobe=2 on
    * sf0.1). The default serving path (s34/s36, measured by s38) is
    * therefore BRIDGED edges + nprobe = 4; s40/s41 keep pricing the
    * dials at their historical settings so the curves stay comparable
    * across rounds. */
  private val servedNprobe = 4

  def s25KnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = ivf(emb).assigned
    val edges = knnEdges(assigned)
    val mutual = edges.join(
        edges.select(col("cluster"), col("id_b").as("id_a"), col("id_a").as("id_b")),
        Seq("cluster", "id_a", "id_b"))
      .groupBy("cluster").agg((count(lit(1)) / 2).cast("long").as("n_mutual"))
    val nodes = assigned.groupBy("cluster").agg(count(lit(1)).as("n_nodes"))
    val estats = edges.groupBy("cluster")
      .agg(count(lit(1)).as("n_edges"), sum(col("id_b")).as("nbr_id_sum"))
    nodes.join(estats, Seq("cluster"), "left")
      .join(mutual, Seq("cluster"), "left")
      .select(col("cluster").cast("long").as("cluster"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("nbr_id_sum"), lit(0L)).as("nbr_id_sum"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
      .orderBy("cluster")
  }

  val s25Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS (
      |  ${duckNearest(Seq("vec_id", "embedding"))}
      |), edges AS (
      |  SELECT clabel, id_a, id_b FROM (
      |    SELECT a.clabel, a.vec_id AS id_a, b.vec_id AS id_b,
      |      row_number() OVER (PARTITION BY a.clabel, a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM assigned a JOIN assigned b
      |      ON a.clabel = b.clabel AND a.vec_id <> b.vec_id)
      |  WHERE rk <= 3
      |), mut AS (
      |  SELECT e1.clabel, COUNT(*) // 2 AS n_mutual
      |  FROM edges e1 JOIN edges e2
      |    ON e1.clabel = e2.clabel AND e1.id_a = e2.id_b AND e1.id_b = e2.id_a
      |  GROUP BY e1.clabel
      |), nodes AS (
      |  SELECT clabel, COUNT(*) AS n_nodes FROM assigned GROUP BY clabel
      |), es AS (
      |  SELECT clabel, COUNT(*) AS n_edges, SUM(id_b) AS nbr_id_sum
      |  FROM edges GROUP BY clabel
      |)
      |SELECT CAST(n.clabel AS BIGINT) AS cluster, n.n_nodes,
      |  CAST(COALESCE(es.n_edges, 0) AS BIGINT) AS n_edges,
      |  CAST(COALESCE(es.nbr_id_sum, 0) AS BIGINT) AS nbr_id_sum,
      |  CAST(COALESCE(m.n_mutual, 0) AS BIGINT) AS n_mutual
      |FROM nodes n LEFT JOIN es ON n.clabel = es.clabel
      |LEFT JOIN mut m ON n.clabel = m.clabel
      |ORDER BY cluster""".stripMargin

  // s34 — GRAPH-BASED ANN SEARCH (the DiskANN/HNSW family's search
  // pattern over the s25 kNN graph, made deterministic and relational):
  // entry points = PER-QUERY IVF SEEDS — the query's exact top-3 within
  // its probed clusters (s04's probe + s03's candidate cut, the coarse
  // quantizer every DiskANN deployment seeds from) — candidates = the
  // closed 1-hop out-neighborhood of the seeds in the directed top-3
  // kNN edge list plus the hop-2 expansion of its top-[[servedBeam]]
  // nodes by exact cosine (s50's priced beam), finished with the exact
  // re-rank. Best-first beam search is inherently sequential; the
  // beam-limited bounded-hop ball is its deterministic, relational
  // stand-in — same index (the kNN graph), same entry discipline, the
  // same score-then-prune frontier rule, and the expansion is two
  // vertex-keyed equi-joins plus one bounded window instead of a
  // data-dependent loop, so the whole search stays one declarative
  // plan. (r9 verdict: the earlier SHARED
  // per-cluster prototype entry measured ~3% recall@3 on s38's truth
  // join — a fixed entry two hops from nowhere; per-query seeds lift
  // the ball to the query's own neighborhood. r10 verdict: the served
  // configuration is now the MEASURED-BEST one — bridged edges +
  // nprobe = [[servedNprobe]], promoted from s40/s41's calibration
  // curves; recall measured in s38 and recorded in PLANS.md.) The gate
  // pins the seed choice, the exact candidate-set size, and the final
  // ranking. At scale: the edge list shuffles on the vertex key (id_a)
  // and is probed twice; seeding is a cluster-keyed equi-join (the s03
  // candidate shape); queries broadcast; the re-rank shuffles
  // (query_id, cand) only — query vectors never ride the candidate
  // shuffle.
  def s34GraphSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val edges = knnEdges(assigned).select("id_a", "id_b")
      .unionByName(bridgeEdges(emb, kit, assigned)) // served default
      .localCheckpoint() // probed at hop 1 and hop 2 — build the graph once
    val qRows = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probes = kit.probes(qRows, servedNprobe, "query_id", "qv")
    val seeds = ivfSeeds(probes, assigned).localCheckpoint() // ≤3 rows/query
    graphBallSearch(edges, qRows, seeds, emb)
  }

  /** Per-query IVF entry seeds: the query's exact top-`k` neighbors
    * within its PROBED clusters (s04's nprobe=2 probe + s03's candidate
    * cut). `probes` carries (query_id, qv, cluster) — one row per
    * (query, probed cluster); `members` carries (cluster, vec_id,
    * embedding). Cluster-keyed equi-join — the s03 shape, never
    * all-pairs. Output: (query_id, seed, rk), rk over BOTH probed
    * clusters' members. */
  private def ivfSeeds(probes: DataFrame, members: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("seed"))
    probes.join(members.select(col("cluster"), col("vec_id").as("seed"),
        col("embedding").as("sv")), Seq("cluster"))
      .filter(col("seed") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("sv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "seed", "rk")
  }

  /** The s34/s36 shared search body: closed 2-hop ball around each
    * query's IVF seed set over the directed kNN `edges`, exact cosine
    * re-rank top-3. `qRows` carries (query_id, qv) — one row per query;
    * `seeds` carries (query_id, seed, rk) — see [[ivfSeeds]]. `entry_id`
    * in the output is the rank-1 seed. One definition so the inline and
    * persisted-index routes cannot drift. */
  /** The served BEAM width: only the top-`servedBeam` hop-1 frontier
    * nodes (by exact cosine to the query) expand to hop 2. Promoted from
    * s50's measured curve (sf0.1: recall@3 identical to the unbounded
    * 2-hop ball — 633333 ppm — at 1195 vs 1910 candidates and 320 vs 536
    * hop-2 expansions; sf0.01 identical recall down to beam 2). */
  private val servedBeam = 8

  /** The served candidate ball around each query's seed set — shared by
    * the plain search ([[graphBallSearch]]), the filtered one (s49), and
    * the persisted route (s36) so the expansion cannot drift: the FULL
    * closed 1-hop frontier (every visited node is a candidate — its
    * exact-cosine score is computed for the re-rank anyway, and that
    * score IS the beam selection), of which only the top-[[servedBeam]]
    * expand to hop 2. Output (query_id, cand, cos): every candidate is
    * scored exactly ONCE here — the score that selected the beam is the
    * score the re-rank consumes (duplicates fold in the pair group-by;
    * cos is a pure function of the pair, so max is the single value). */
  private def hopBall(edges: DataFrame, seeds: DataFrame,
      emb: DataFrame, qRows: DataFrame, beam: Int = servedBeam): DataFrame = {
    def scoreCands(c: DataFrame): DataFrame = c
      .join(emb.select(col("vec_id").as("cand"), col("embedding")), Seq("cand"))
      .join(broadcast(qRows.select("query_id", "qv")), Seq("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .select("query_id", "cand", "cos")
    val h1 = seeds.select(col("query_id"), col("seed").as("id_a"))
      .join(edges, Seq("id_a"))
      .select(col("query_id"), col("id_b").as("cand"))
    val ball1 = seeds.select(col("query_id"), col("seed").as("cand"))
      .unionByName(h1).distinct()
      .filter(col("cand") =!= col("query_id"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand"))
    val scored1 = scoreCands(ball1)
      .withColumn("rk", row_number().over(w))
    val h2 = scored1.filter(col("rk") <= beam)
      .withColumnRenamed("cand", "id_a")
      .join(edges, Seq("id_a"))
      .select(col("query_id"), col("id_b").as("cand"))
      .filter(col("cand") =!= col("query_id"))
    scored1.select("query_id", "cand", "cos")
      .unionByName(scoreCands(h2.distinct()))
      .groupBy("query_id", "cand").agg(max(col("cos")).as("cos"))
  }

  private def graphBallSearch(edges: DataFrame, qRows: DataFrame,
      seeds: DataFrame, emb: DataFrame): DataFrame = {
    val q = qRows.join(seeds.filter(col("rk") === 1)
        .select(col("query_id"), col("seed").as("entry_id")), Seq("query_id"))
      .select("query_id", "entry_id")
    val ball = hopBall(edges, seeds, emb, qRows) // carries the exact cos
    val nc = ball.groupBy("query_id").agg(count(lit(1)).as("n_cand"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand"))
    ball
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .join(broadcast(q), Seq("query_id"))
      .join(broadcast(nc), Seq("query_id"))
      .select(col("query_id"), col("entry_id"), col("n_cand"), col("rank"),
        col("cand").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  // s36 — the GRAPH INDEX PERSISTED (DiskANN's disk story for the s34
  // search): the three index artifacts — the directed kNN edge list,
  // the coarse quantizer (centroid table, the seed router), and the
  // vec→cluster assignment — are written to parquet once and the
  // search re-derives EVERYTHING from the read-back (no centroid
  // recompute, no graph rebuild: a pure graph-index lookup, which is
  // the point of a persisted navigable graph). Shares s34's oracle — a
  // mismatch with a green s34 isolates persistence: long/float
  // round-trips, partition-column typing, or build/search drift. Raw
  // vectors for the IVF seeding and the exact re-rank come from the
  // corpus table, as on-disk graph indexes do (the graph is the index;
  // vectors stay in their own store).
  def s36GraphPersisted(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.streaming.Drains.tmpFixtureDir("graft_s36_", dir)
    root.mkdirs()
    val emb = Tables.embeddings(spark, dir)
    // ---- build (once): s34's exact index structures ----
    // checkpoint the two build artifacts so the three persisted writes
    // share ONE quantizer/assignment computation (they used to recompute
    // cent 3x and assigned 2x — §2.4 "don't compute things you throw
    // away"; deterministic builds, so the persisted bytes are identical),
    // then land the three disjoint artifact dirs concurrently (§2.6)
    val kit = ivf(emb).checkpointed
    val assigned = kit.assigned.localCheckpoint(true)
    graft.streaming.Drains.inParallel(
      () => knnEdges(assigned).select("id_a", "id_b")
        .unionByName(bridgeEdges(emb, kit, assigned)) // served default
        .write.mode("overwrite").parquet(new java.io.File(root, "edges").getPath),
      () => assigned.select("vec_id", "cluster")
        .write.mode("overwrite").parquet(new java.io.File(root, "assign").getPath),
      () => kit.centroids.write.mode("overwrite").parquet(new java.io.File(root, "cent").getPath))
    // ---- search (from the persisted artifacts + the vector store) ----
    val edgesR = spark.read.parquet(new java.io.File(root, "edges").getPath)
    val assignR = spark.read.parquet(new java.io.File(root, "assign").getPath)
    val centR = spark.read.parquet(new java.io.File(root, "cent").getPath)
    val members = assignR.join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .select("cluster", "vec_id", "embedding")
    val qRows = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probes = graft.ops.Similarity.probeCentroids(
      qRows, centR, Seq("query_id"), nprobe = servedNprobe, embCol = "qv")
    val seeds = ivfSeeds(probes, members).localCheckpoint()
    graphBallSearch(edgesR, qRows, seeds, emb)
  }

  /** The SERVED graph index (bridged edges + nprobe = [[servedNprobe]]
    * + beam = [[servedBeam]]) as oracle CTE text — coarse quantizer,
    * assignment, intra + bridge edges, query seeds, the scored hop-1
    * frontier, and the beam-limited 2-hop ball — shared by s34/s36's
    * oracle, s49's filtered variant, and s50's sweep so the
    * served-index SQL cannot drift between the gates. */
  private val duckServedGraphCtes: String =
    s"""${duckCentroidCtes(64)}, assigned AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"))}
      |), intra AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |      row_number() OVER (PARTITION BY a.clabel, a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM assigned a JOIN assigned b
      |      ON a.clabel = b.clabel AND a.vec_id <> b.vec_id)
      |  WHERE rk <= 3
      |), p2 AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"), rank = 2)}
      |), bridge AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT p.vec_id AS id_a, b.vec_id AS id_b,
      |      row_number() OVER (PARTITION BY p.vec_id
      |        ORDER BY ${duckCosOf("p.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM p2 p JOIN assigned b ON b.clabel = p.clabel)
      |  WHERE rk = 1
      |), edges AS MATERIALIZED (
      |  SELECT id_a, id_b FROM intra
      |  UNION ALL
      |  SELECT id_a, id_b FROM bridge
      |), q0 AS MATERIALIZED (
      |  SELECT vec_id AS query_id, embedding AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0
      |), qp AS MATERIALIZED (
      |  SELECT query_id, qv, clabel FROM (
      |    SELECT q.query_id, q.qv, c.clabel,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY ${duckCosOf("q.qv", "c.cf")} DESC, c.clabel) AS rn
      |    FROM q0 q, cent c)
      |  WHERE rn <= $servedNprobe
      |), seeds AS MATERIALIZED (
      |  SELECT query_id, seed, rk FROM (
      |    SELECT p.query_id, a.vec_id AS seed,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY ${duckCosOf("p.qv", "a.embedding")} DESC, a.vec_id) AS rk
      |    FROM qp p JOIN assigned a
      |      ON a.clabel = p.clabel AND a.vec_id <> p.query_id)
      |  WHERE rk <= 3
      |), q AS MATERIALIZED (
      |  SELECT q0.query_id, q0.qv, s.seed AS entry_id
      |  FROM q0 JOIN seeds s ON s.query_id = q0.query_id AND s.rk = 1
      |), ball1 AS MATERIALIZED (
      |  SELECT DISTINCT query_id, cand FROM (
      |    SELECT query_id, seed AS cand FROM seeds
      |    UNION ALL
      |    SELECT s.query_id, e.id_b FROM seeds s JOIN edges e ON e.id_a = s.seed)
      |  WHERE cand <> query_id
      |), scored1 AS MATERIALIZED (
      |  SELECT b.query_id, b.cand,
      |    row_number() OVER (PARTITION BY b.query_id
      |      ORDER BY ${duckCosOf("q0.qv", "e.embedding")} DESC, b.cand) AS rk
      |  FROM ball1 b
      |  JOIN q0 ON q0.query_id = b.query_id
      |  JOIN embeddings e ON e.vec_id = b.cand
      |), ball AS MATERIALIZED (
      |  SELECT DISTINCT query_id, cand FROM (
      |    SELECT query_id, cand FROM scored1
      |    UNION ALL
      |    SELECT s.query_id, e.id_b FROM scored1 s
      |    JOIN edges e ON e.id_a = s.cand WHERE s.rk <= $servedBeam)
      |  WHERE cand <> query_id
      |), nc AS (
      |  SELECT query_id, COUNT(*) AS n_cand FROM ball GROUP BY query_id
      |)""".stripMargin

  val s34Oracle: String =
    s"""WITH $duckServedGraphCtes, scored AS (
      |  SELECT b.query_id, q.entry_id, b.cand,
      |    ${duckCosOf("q.qv", "e.embedding")} AS cos
      |  FROM ball b
      |  JOIN q ON q.query_id = b.query_id
      |  JOIN embeddings e ON e.vec_id = b.cand
      |)
      |SELECT s.query_id, s.entry_id, nc.n_cand, s.rank, s.neighbor_id FROM (
      |  SELECT query_id, entry_id, cand AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, cand) AS INT) AS rank
      |  FROM scored) s
      |JOIN nc ON nc.query_id = s.query_id
      |WHERE s.rank <= 3
      |ORDER BY s.query_id, s.rank""".stripMargin

  // s49 — ATTRIBUTE-FILTERED search over the SERVED graph index (the
  // s17 question — "nearest neighbors WHERE label matches" — answered
  // by the graph index instead of the IVF list): the ball expands over
  // the UNfiltered bridged graph (filtering edges would disconnect it —
  // the known failure mode of pre-filtered navigable graphs at low
  // selectivity), then candidates POST-filter on the predicate before
  // the exact re-rank — the standard post-filtering strategy, priced
  // honestly: n_cand vs n_allowed on every row is the selectivity tax
  // (top-k among allowed comes from a ball sized for unfiltered top-k,
  // so low selectivity starves recall — the dial a deployment reads
  // before choosing post-filter vs a per-predicate index). Same label
  // predicate as s17 (label % 2 = 0), same served index as s34 (shared
  // hopBall + CTE text), integer/id-only output. A query whose ball
  // holds NO allowed candidate emits no rows (both engines — the
  // honest post-filter outcome; production either widens the ball or
  // falls back to the s17 per-predicate index for such queries).
  def s49GraphFiltered(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val edges = knnEdges(assigned).select("id_a", "id_b")
      .unionByName(bridgeEdges(emb, kit, assigned)) // served default
      .localCheckpoint()
    val qRows = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probes = kit.probes(qRows, servedNprobe, "query_id", "qv")
    val seeds = ivfSeeds(probes, assigned).localCheckpoint()
    val ball = hopBall(edges, seeds, emb, qRows) // carries the exact cos
      .localCheckpoint() // counted + filtered
    val nc = ball.groupBy("query_id").agg(count(lit(1)).as("n_cand"))
    val allowed = ball.join(
      emb.filter(col("label") % 2 === 0)
        .select(col("vec_id").as("cand"), col("label")),
      Seq("cand"))
    val na = allowed.groupBy("query_id").agg(count(lit(1)).as("n_allowed"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand"))
    allowed
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .join(broadcast(nc), Seq("query_id"))
      .join(broadcast(na), Seq("query_id"))
      .select(col("query_id"), col("n_cand"), col("n_allowed"), col("rank"),
        col("cand").as("neighbor_id"),
        col("label").cast("long").as("neighbor_label"))
      .orderBy("query_id", "rank")
  }

  val s49Oracle: String =
    s"""WITH $duckServedGraphCtes, allowed AS MATERIALIZED (
      |  SELECT b.query_id, b.cand, e.label, e.embedding
      |  FROM ball b JOIN embeddings e
      |    ON e.vec_id = b.cand AND e.label % 2 = 0
      |), na AS (
      |  SELECT query_id, COUNT(*) AS n_allowed FROM allowed GROUP BY query_id
      |), scored AS (
      |  SELECT a.query_id, a.cand, a.label,
      |    ${duckCosOf("q0.qv", "a.embedding")} AS cos
      |  FROM allowed a JOIN q0 ON q0.query_id = a.query_id
      |)
      |SELECT s.query_id, nc.n_cand, na.n_allowed, s.rank, s.neighbor_id,
      |  s.neighbor_label
      |FROM (
      |  SELECT query_id, cand AS neighbor_id,
      |    CAST(label AS BIGINT) AS neighbor_label,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, cand) AS INT) AS rank
      |  FROM scored) s
      |JOIN nc ON nc.query_id = s.query_id
      |JOIN na ON na.query_id = s.query_id
      |WHERE s.rank <= 3
      |ORDER BY s.query_id, s.rank""".stripMargin

  // s50 — BEAM-WIDTH pricing for the served graph search (the last
  // unpriced dial after s40's nprobe and s41's bridge curves): the
  // hop-ball expands its ENTIRE hop-1 frontier; a best-first beam
  // search expands only the top-B frontier nodes by exact distance to
  // the query. This table prices B: all hop-1 nodes stay CANDIDATES
  // (they were visited and scored anyway — that score IS the beam
  // selection), but only the top-B expand to hop 2. Per B ∈
  // {2, 4, 8, unbounded-sentinel}: expansion count (the cost side —
  // hop-2 edge probes are B per query instead of |frontier|), candidate
  // mass, and recall@3 against s38's exact truth join. The unbounded
  // arm reproduces the pre-beam 2-hop ball, anchoring the curve to the
  // round-11 served config. MEASURED (sf0.1, PLANS.md): beam = 8
  // matches the unbounded ball's recall exactly (633333 ppm, 76 hits)
  // at 1195 vs 1910 candidates and 320 vs 536 hop-2 edge probes;
  // beam = 4 drops one hit. The curve therefore PROMOTED beam = 8 as
  // the served default ([[servedBeam]], consumed by [[hopBall]] and
  // the shared oracle CTEs) — this gate remains the pricing
  // instrument, its beam-8 arm now gating the served ball. Plan: index
  // subtrees once (edges/seeds/truth localCheckpoint), the hop-1
  // frontier scored ONCE and sliced per arm, per-arm aggregates 1-row
  // crossJoined folds (the s40 shape).
  def s50BeamSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val edges = knnEdges(assigned).select("id_a", "id_b")
      .unionByName(bridgeEdges(emb, kit, assigned)) // served default
      .localCheckpoint()
    val qRows = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .localCheckpoint()
    val probes = kit.probes(qRows, servedNprobe, "query_id", "qv")
    val seeds = ivfSeeds(probes, assigned).localCheckpoint()
    val truth = graft.ops.Similarity.cosineTopK(emb, qRows, 3)
      .select(col("query_id"), col("neighbor_id").as("cand"))
      .localCheckpoint()
    val h1 = seeds.select(col("query_id"), col("seed").as("id_a"))
      .join(edges, Seq("id_a"))
      .select(col("query_id"), col("id_b").as("cand"))
    val ball1 = seeds.select(col("query_id"), col("seed").as("cand"))
      .unionByName(h1).distinct()
      .filter(col("cand") =!= col("query_id"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand"))
    val scored1 = ball1
      .join(emb.select(col("vec_id").as("cand"), col("embedding")), Seq("cand"))
      .join(broadcast(qRows), Seq("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rk", row_number().over(w))
      .select("query_id", "cand", "rk")
      .localCheckpoint() // every beam arm slices it
    val nq = qRows.agg(count(lit(1)).as("n_queries"))
    val arms = Seq(2, 4, 8, 1000000).map { b =>
      val beam = scored1.filter(col("rk") <= b).select("query_id", "cand")
      val h2 = beam.withColumnRenamed("cand", "id_a")
        .join(edges, Seq("id_a"))
        .select(col("query_id"), col("id_b").as("cand"))
      val ball = scored1.select("query_id", "cand").unionByName(h2)
        .distinct()
        .filter(col("cand") =!= col("query_id"))
        .localCheckpoint() // scored twice (hits + mass)
      val expanded = beam.agg(count(lit(1)).as("n_expanded"))
      val hits = truth.join(ball, Seq("query_id", "cand"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val mass = ball.agg(count(lit(1)).as("n_cand_total"))
      nq.crossJoin(expanded).crossJoin(mass).crossJoin(hits)
        .select(lit(b).as("beam"), col("n_queries"), col("n_expanded"),
          col("n_cand_total"), col("n_hits"),
          expr("(n_hits * 1000000) div nullif(3 * n_queries, 0)")
            .as("recall_ppm"))
    }
    arms.reduce(_ unionByName _).orderBy("beam")
  }

  val s50Oracle: String = {
    def armCtes(b: Int): String =
      s"""ball$b AS MATERIALIZED (
        |  SELECT DISTINCT query_id, cand FROM (
        |    SELECT query_id, cand FROM scored1
        |    UNION ALL
        |    SELECT s.query_id, e.id_b FROM scored1 s
        |    JOIN edges e ON e.id_a = s.cand WHERE s.rk <= $b)
        |  WHERE cand <> query_id
        |)""".stripMargin
    def armSelect(b: Int): String =
      s"""SELECT $b AS beam, nq.n_queries,
        |    (SELECT COUNT(*) FROM scored1 WHERE rk <= $b) AS n_expanded,
        |    (SELECT COUNT(*) FROM ball$b) AS n_cand_total,
        |    (SELECT COUNT(*) FROM truth t
        |     WHERE EXISTS (SELECT 1 FROM ball$b bl
        |       WHERE bl.query_id = t.query_id AND bl.cand = t.cand)) AS n_hits
        |  FROM nq""".stripMargin
    s"""WITH $duckServedGraphCtes, truth AS MATERIALIZED (
      |  SELECT query_id, cand FROM (
      |    SELECT query_id, vec_id AS cand,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, vec_id) AS rank
      |    FROM (
      |      SELECT query_id, vec_id,
      |        ${duckCosOf("q0.qv", "embeddings.embedding")} AS cos
      |      FROM embeddings, q0 WHERE vec_id <> query_id))
      |  WHERE rank <= 3
      |), nq AS (SELECT COUNT(*) AS n_queries FROM q0),
      |${armCtes(2)},
      |${armCtes(4)},
      |${armCtes(8)},
      |${armCtes(1000000)}
      |SELECT beam, n_queries, n_expanded, n_cand_total, n_hits,
      |  CAST((n_hits * 1000000) // NULLIF(3 * n_queries, 0) AS BIGINT)
      |    AS recall_ppm
      |FROM (
      |  ${armSelect(2)}
      |  UNION ALL
      |  ${armSelect(4)}
      |  UNION ALL
      |  ${armSelect(8)}
      |  UNION ALL
      |  ${armSelect(1000000)})
      |ORDER BY beam""".stripMargin
  }

  // s38 — GRAPH-SEARCH RECALL CALIBRATION (the graph family's d19/s19
  // analogue): the 1-hop and 2-hop candidate balls of the s34 search —
  // measured over the SERVED configuration (bridged edges + nprobe =
  // servedNprobe, the s40/s41-promoted default) — each scored against
  // the exact top-3 truth (s01's gated definition): recall vs candidate
  // mass is THE dial a navigable-graph deployment tunes (hop depth ≈
  // HNSW's ef), and every index family in this engine ships its
  // calibration table (LSH: d16/d19; IVF/PQ: s19/s29; graph: this).
  // Integer-exact: hit counts and ppm recalls over the fixed
  // 3-per-query truth set; candidate mass pins the cost side. Plan: the
  // s34 index subtrees once (edges localCheckpoint), two ball
  // expansions sharing them, truth = one broadcast-query corpus scan,
  // hits via (query, cand)-keyed semi-joins.
  def s38GraphRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val edges = knnEdges(assigned).select("id_a", "id_b")
      .unionByName(bridgeEdges(emb, kit, assigned)) // served default
      .localCheckpoint()
    val qRows = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probes = kit.probes(qRows, servedNprobe, "query_id", "qv")
    val seeds = ivfSeeds(probes, assigned).localCheckpoint() // s34's entry rule
    val h1 = seeds.select(col("query_id"), col("seed").as("id_a"))
      .join(edges, Seq("id_a"))
      .select(col("query_id"), col("id_b").as("cand"))
    val ball1 = seeds.select(col("query_id"), col("seed").as("cand"))
      .unionByName(h1).distinct()
      .filter(col("cand") =!= col("query_id"))
      .localCheckpoint() // ball2 extends it; both arms score it
    // hop 2 is the SERVED expansion: only the top-servedBeam frontier
    // nodes by exact cosine expand (s50's promoted default), so this
    // gate measures the recall of the configuration s34 actually serves
    val wB = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand"))
    val h2 = ball1
      .join(emb.select(col("vec_id").as("cand"), col("embedding")), Seq("cand"))
      .join(broadcast(qRows), Seq("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= servedBeam)
      .select(col("query_id"), col("cand").as("id_a"))
      .join(edges, Seq("id_a"))
      .select(col("query_id"), col("id_b").as("cand"))
    val ball2 = ball1.unionByName(h2).distinct()
      .filter(col("cand") =!= col("query_id"))
    val truth = graft.ops.Similarity.cosineTopK(
        emb, qRows, 3)
      .select(col("query_id"), col("neighbor_id").as("cand"))
    def arm(ball: DataFrame, hops: Int): DataFrame = {
      val hits = truth.join(ball, Seq("query_id", "cand"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val mass = ball.agg(count(lit(1)).as("n_cand_total"))
      val nq = qRows.agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(mass).crossJoin(hits)
        .select(lit(hops).as("hops"), col("n_queries"), col("n_cand_total"),
          col("n_hits"),
          // NULLIF: the engine-wide rate-division convention (q41/s29
          // lesson) — an empty corpus has zero queries and must yield a
          // NULL recall, not an ANSI divide-by-zero
          expr("(n_hits * 1000000) div nullif(3 * n_queries, 0)").as("recall_ppm"))
    }
    arm(ball1, 1).unionByName(arm(ball2, 2)).orderBy("hops")
  }

  val s38Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"))}
      |), intra AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |      row_number() OVER (PARTITION BY a.clabel, a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM assigned a JOIN assigned b
      |      ON a.clabel = b.clabel AND a.vec_id <> b.vec_id)
      |  WHERE rk <= 3
      |), p2 AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"), rank = 2)}
      |), bridge AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT p.vec_id AS id_a, b.vec_id AS id_b,
      |      row_number() OVER (PARTITION BY p.vec_id
      |        ORDER BY ${duckCosOf("p.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM p2 p JOIN assigned b ON b.clabel = p.clabel)
      |  WHERE rk = 1
      |), edges AS MATERIALIZED (
      |  SELECT id_a, id_b FROM intra
      |  UNION ALL
      |  SELECT id_a, id_b FROM bridge
      |), q AS MATERIALIZED (
      |  SELECT vec_id AS query_id, embedding AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0
      |), qp AS MATERIALIZED (
      |  SELECT query_id, qv, clabel FROM (
      |    SELECT q.query_id, q.qv, c.clabel,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY ${duckCosOf("q.qv", "c.cf")} DESC, c.clabel) AS rn
      |    FROM q, cent c)
      |  WHERE rn <= $servedNprobe
      |), seeds AS MATERIALIZED (
      |  SELECT query_id, seed FROM (
      |    SELECT p.query_id, a.vec_id AS seed,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY ${duckCosOf("p.qv", "a.embedding")} DESC, a.vec_id) AS rk
      |    FROM qp p JOIN assigned a
      |      ON a.clabel = p.clabel AND a.vec_id <> p.query_id)
      |  WHERE rk <= 3
      |), ball1 AS MATERIALIZED (
      |  SELECT DISTINCT query_id, cand FROM (
      |    SELECT query_id, seed AS cand FROM seeds
      |    UNION ALL
      |    SELECT s.query_id, e.id_b FROM seeds s JOIN edges e ON e.id_a = s.seed)
      |  WHERE cand <> query_id
      |), sc1 AS MATERIALIZED (
      |  SELECT b.query_id, b.cand,
      |    row_number() OVER (PARTITION BY b.query_id
      |      ORDER BY ${duckCosOf("q.qv", "e.embedding")} DESC, b.cand) AS rk
      |  FROM ball1 b JOIN q ON q.query_id = b.query_id
      |  JOIN embeddings e ON e.vec_id = b.cand
      |), ball2 AS MATERIALIZED (
      |  SELECT DISTINCT query_id, cand FROM (
      |    SELECT query_id, cand FROM ball1
      |    UNION ALL
      |    SELECT s.query_id, e.id_b FROM sc1 s
      |    JOIN edges e ON e.id_a = s.cand WHERE s.rk <= $servedBeam)
      |  WHERE cand <> query_id
      |), truth AS MATERIALIZED (
      |  SELECT query_id, cand FROM (
      |    SELECT query_id, vec_id AS cand,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, vec_id) AS rank
      |    FROM (
      |      SELECT query_id, vec_id, ${duckCosOf("q.qv", "embeddings.embedding")} AS cos
      |      FROM embeddings, q WHERE vec_id <> query_id))
      |  WHERE rank <= 3
      |), nq AS (SELECT COUNT(*) AS n_queries FROM q)
      |SELECT hops, n_queries, n_cand_total, n_hits,
      |  CAST((n_hits * 1000000) // NULLIF(3 * n_queries, 0) AS BIGINT) AS recall_ppm
      |FROM (
      |  SELECT 1 AS hops, nq.n_queries,
      |    (SELECT COUNT(*) FROM ball1) AS n_cand_total,
      |    (SELECT COUNT(*) FROM truth t
      |     WHERE EXISTS (SELECT 1 FROM ball1 b
      |       WHERE b.query_id = t.query_id AND b.cand = t.cand)) AS n_hits
      |  FROM nq
      |  UNION ALL
      |  SELECT 2, nq.n_queries,
      |    (SELECT COUNT(*) FROM ball2),
      |    (SELECT COUNT(*) FROM truth t
      |     WHERE EXISTS (SELECT 1 FROM ball2 b
      |       WHERE b.query_id = t.query_id AND b.cand = t.cand))
      |  FROM nq)
      |ORDER BY hops""".stripMargin

  // s40 — GRAPH-SEED NPROBE SWEEP: the recall/cost curve for s34's one
  // remaining dial. s38 showed hop-2 adds candidates but no hits — the
  // ball can't leave the probed clusters (kNN edges are intra-cluster),
  // so recall is capped by the coarse-quantizer truncation and nprobe
  // is the lever. This table prices it: per nprobe ∈ {1, 2, 4}, the
  // seed-scoring mass (exact pairs priced by the IVF probe — the cost
  // side), the 2-hop candidate mass, and recall@3 against s01's exact
  // truth. The deployment reads this exactly like d19 (LSH sweep) and
  // s29 (IVF/PQ recall matrix) — every index family ships its
  // calibration table, and each arm COMPOSES the gated s34 definitions
  // verbatim (same probe, same seeds, same ball). Plan: index subtrees
  // built once (edges/queries/truth localCheckpoint), three arms share
  // them; per-arm aggregates are 1-row folds crossJoined (the d25
  // scalar-combine shape).
  def s40GraphSeedSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    // the coarse-quantizer argmax is the heavy per-row kernel and rides
    // the scan (guide §2.5: a single-row-group input caps that stage at
    // ONE task) — spread the corpus once, and CHECKPOINT the assignment:
    // the three sweep arms probe it seven times between them, and each
    // probe used to re-run the whole argmax encode
    val assigned = kit.assign(emb.select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism, col("vec_id")))
      .localCheckpoint()
    val edges = knnEdges(assigned).select("id_a", "id_b")
      .localCheckpoint() // probed by all three arms' two hops
    val qRows = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .localCheckpoint()
    // exact-truth scoring is |queries| x |corpus| cosines in the scan
    // stage — same §2.5 spread
    val truth = graft.ops.Similarity.cosineTopK(
        emb.repartition(spark.sparkContext.defaultParallelism,
          col("vec_id")), qRows, 3)
      .select(col("query_id"), col("neighbor_id").as("cand"))
      .localCheckpoint()
    val nq = qRows.agg(count(lit(1)).as("n_queries"))
    val arms = Seq(1, 2, 4).map { np =>
      val probes = kit.probes(qRows, np, "query_id", "qv")
      val seedCost = probes
        .join(assigned.select(col("cluster"), col("vec_id").as("seed")),
          Seq("cluster"))
        .filter(col("seed") =!= col("query_id"))
        .agg(count(lit(1)).as("n_scored"))
      val seeds = ivfSeeds(probes, assigned)
        .localCheckpoint() // the heavy per-arm stage; ball + hits + mass reuse it
      val h1 = seeds.select(col("query_id"), col("seed").as("id_a"))
        .join(edges, Seq("id_a"))
        .select(col("query_id"), col("id_b").as("cand"))
      val h2 = h1.withColumnRenamed("cand", "id_a")
        .join(edges, Seq("id_a"))
        .select(col("query_id"), col("id_b").as("cand"))
      val ball = seeds.select(col("query_id"), col("seed").as("cand"))
        .unionByName(h1).unionByName(h2)
        .distinct()
        .filter(col("cand") =!= col("query_id"))
        .localCheckpoint() // scored twice (hits + mass)
      val hits = truth.join(ball, Seq("query_id", "cand"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val mass = ball.agg(count(lit(1)).as("n_cand_total"))
      nq.crossJoin(seedCost).crossJoin(mass).crossJoin(hits)
        .select(lit(np).as("nprobe"), col("n_queries"), col("n_scored"),
          col("n_cand_total"), col("n_hits"),
          expr("(n_hits * 1000000) div nullif(3 * n_queries, 0)")
            .as("recall_ppm"))
    }
    arms.reduce(_ unionByName _).orderBy("nprobe")
  }

  val s40Oracle: String = {
    def armCtes(np: Int): String =
      s"""qp$np AS MATERIALIZED (
        |  SELECT query_id, qv, clabel FROM (
        |    SELECT q.query_id, q.qv, c.clabel,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ${duckCosOf("q.qv", "c.cf")} DESC, c.clabel) AS rn
        |    FROM q, cent c)
        |  WHERE rn <= $np
        |), sc$np AS (
        |  SELECT COUNT(*) AS n_scored FROM qp$np p
        |  JOIN assigned a ON a.clabel = p.clabel AND a.vec_id <> p.query_id
        |), seeds$np AS MATERIALIZED (
        |  SELECT query_id, seed FROM (
        |    SELECT p.query_id, a.vec_id AS seed,
        |      row_number() OVER (PARTITION BY p.query_id
        |        ORDER BY ${duckCosOf("p.qv", "a.embedding")} DESC, a.vec_id) AS rk
        |    FROM qp$np p JOIN assigned a
        |      ON a.clabel = p.clabel AND a.vec_id <> p.query_id)
        |  WHERE rk <= 3
        |), ball$np AS MATERIALIZED (
        |  SELECT DISTINCT query_id, cand FROM (
        |    SELECT query_id, seed AS cand FROM seeds$np
        |    UNION ALL
        |    SELECT s.query_id, e.id_b FROM seeds$np s JOIN edges e ON e.id_a = s.seed
        |    UNION ALL
        |    SELECT s.query_id, e2.id_b FROM seeds$np s
        |    JOIN edges e ON e.id_a = s.seed
        |    JOIN edges e2 ON e2.id_a = e.id_b)
        |  WHERE cand <> query_id
        |)""".stripMargin
    def armSelect(np: Int): String =
      s"""SELECT $np AS nprobe, nq.n_queries,
        |    (SELECT n_scored FROM sc$np) AS n_scored,
        |    (SELECT COUNT(*) FROM ball$np) AS n_cand_total,
        |    (SELECT COUNT(*) FROM truth t
        |     WHERE EXISTS (SELECT 1 FROM ball$np b
        |       WHERE b.query_id = t.query_id AND b.cand = t.cand)) AS n_hits
        |  FROM nq""".stripMargin
    s"""WITH ${duckCentroidCtes(64)}, assigned AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"))}
      |), edges AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |      row_number() OVER (PARTITION BY a.clabel, a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM assigned a JOIN assigned b
      |      ON a.clabel = b.clabel AND a.vec_id <> b.vec_id)
      |  WHERE rk <= 3
      |), q AS MATERIALIZED (
      |  SELECT vec_id AS query_id, embedding AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0
      |), truth AS MATERIALIZED (
      |  SELECT query_id, cand FROM (
      |    SELECT query_id, vec_id AS cand,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, vec_id) AS rank
      |    FROM (
      |      SELECT query_id, vec_id, ${duckCosOf("q.qv", "embeddings.embedding")} AS cos
      |      FROM embeddings, q WHERE vec_id <> query_id))
      |  WHERE rank <= 3
      |), nq AS (SELECT COUNT(*) AS n_queries FROM q),
      |${armCtes(1)},
      |${armCtes(2)},
      |${armCtes(4)}
      |SELECT nprobe, n_queries, n_scored, n_cand_total, n_hits,
      |  CAST((n_hits * 1000000) // NULLIF(3 * n_queries, 0) AS BIGINT) AS recall_ppm
      |FROM (
      |  ${armSelect(1)}
      |  UNION ALL
      |  ${armSelect(2)}
      |  UNION ALL
      |  ${armSelect(4)})
      |ORDER BY nprobe""".stripMargin
  }

  // s41 — BRIDGE EDGES for the graph index (DiskANN's long-range links,
  // relationally): s40 measures the ceiling — the intra-cluster kNN ball
  // cannot leave the probed clusters, so recall@3 saturates at the IVF
  // truncation rate however many hops run. The fix every navigable-graph
  // index ships is cross-partition edges: here each vector gets ONE
  // bridge edge to its top-cosine neighbor inside its SECOND-nearest
  // cluster (the rn=2 coarse assignment — probeCentroids' gated
  // tie-break), and this table prices the lift: recall@3 + candidate
  // mass of the nprobe=2-seeded 2-hop ball over {intra-only edges,
  // intra+bridge}. Build cost: the bridge scoring joins each vector to
  // ONE other cluster's members — the same N²/k pair-mass class as the
  // intra kNN build itself, keyed on the cluster (never all-pairs); the
  // N×k second-cluster probe is a vec-keyed window over k rows per
  // vector, dwarfed by the pair scoring. Search cost: +1 out-edge per
  // vertex (edge list grows 4/3×), ball still ≤ 4 + 16 + 64.
  def s41GraphBridgedRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val edges = knnEdges(assigned).select("id_a", "id_b")
      .localCheckpoint()
    val edgesB = edges
      .unionByName(bridgeEdges(emb, kit, assigned)) // shared with s34/s36/s38
      .localCheckpoint()
    val qRows = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .localCheckpoint()
    val probesQ = kit.probes(qRows, 2, "query_id", "qv")
    val seeds = ivfSeeds(probesQ, assigned).localCheckpoint()
    val truth = graft.ops.Similarity.cosineTopK(emb, qRows, 3)
      .select(col("query_id"), col("neighbor_id").as("cand"))
      .localCheckpoint()
    val nq = qRows.agg(count(lit(1)).as("n_queries"))
    def arm(variant: String, es: DataFrame): DataFrame = {
      val h1 = seeds.select(col("query_id"), col("seed").as("id_a"))
        .join(es, Seq("id_a"))
        .select(col("query_id"), col("id_b").as("cand"))
      val h2 = h1.withColumnRenamed("cand", "id_a")
        .join(es, Seq("id_a"))
        .select(col("query_id"), col("id_b").as("cand"))
      val ball = seeds.select(col("query_id"), col("seed").as("cand"))
        .unionByName(h1).unionByName(h2)
        .distinct()
        .filter(col("cand") =!= col("query_id"))
        .localCheckpoint() // scored twice (hits + mass)
      val hits = truth.join(ball, Seq("query_id", "cand"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val mass = ball.agg(count(lit(1)).as("n_cand_total"))
      val ne = es.agg(count(lit(1)).as("n_edges"))
      nq.crossJoin(ne).crossJoin(mass).crossJoin(hits)
        .select(lit(variant).as("variant"), col("n_queries"), col("n_edges"),
          col("n_cand_total"), col("n_hits"),
          expr("(n_hits * 1000000) div nullif(3 * n_queries, 0)")
            .as("recall_ppm"))
    }
    arm("1_intra", edges).unionByName(arm("2_bridged", edgesB))
      .orderBy("variant")
  }

  val s41Oracle: String = {
    def armSelect(variant: String, ball: String, es: String): String =
      s"""SELECT '$variant' AS variant, nq.n_queries,
        |    (SELECT COUNT(*) FROM $es) AS n_edges,
        |    (SELECT COUNT(*) FROM $ball) AS n_cand_total,
        |    (SELECT COUNT(*) FROM truth t
        |     WHERE EXISTS (SELECT 1 FROM $ball b
        |       WHERE b.query_id = t.query_id AND b.cand = t.cand)) AS n_hits
        |  FROM nq""".stripMargin
    def ballCtes(name: String, es: String): String =
      s"""$name AS MATERIALIZED (
        |  SELECT DISTINCT query_id, cand FROM (
        |    SELECT query_id, seed AS cand FROM seeds
        |    UNION ALL
        |    SELECT s.query_id, e.id_b FROM seeds s JOIN $es e ON e.id_a = s.seed
        |    UNION ALL
        |    SELECT s.query_id, e2.id_b FROM seeds s
        |    JOIN $es e ON e.id_a = s.seed
        |    JOIN $es e2 ON e2.id_a = e.id_b)
        |  WHERE cand <> query_id
        |)""".stripMargin
    s"""WITH ${duckCentroidCtes(64)}, assigned AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"))}
      |), edges AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |      row_number() OVER (PARTITION BY a.clabel, a.vec_id
      |        ORDER BY ${duckCosOf("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM assigned a JOIN assigned b
      |      ON a.clabel = b.clabel AND a.vec_id <> b.vec_id)
      |  WHERE rk <= 3
      |), p2 AS MATERIALIZED (
      |  ${duckNearest(Seq("vec_id", "embedding"), rank = 2)}
      |), bridge AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT p.vec_id AS id_a, b.vec_id AS id_b,
      |      row_number() OVER (PARTITION BY p.vec_id
      |        ORDER BY ${duckCosOf("p.embedding", "b.embedding")} DESC, b.vec_id) AS rk
      |    FROM p2 p JOIN assigned b ON b.clabel = p.clabel)
      |  WHERE rk = 1
      |), edgesb AS MATERIALIZED (
      |  SELECT id_a, id_b FROM edges
      |  UNION ALL
      |  SELECT id_a, id_b FROM bridge
      |), q AS MATERIALIZED (
      |  SELECT vec_id AS query_id, embedding AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0
      |), qp AS MATERIALIZED (
      |  SELECT query_id, qv, clabel FROM (
      |    SELECT q.query_id, q.qv, c.clabel,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY ${duckCosOf("q.qv", "c.cf")} DESC, c.clabel) AS rn
      |    FROM q, cent c)
      |  WHERE rn <= 2
      |), seeds AS MATERIALIZED (
      |  SELECT query_id, seed FROM (
      |    SELECT p.query_id, a.vec_id AS seed,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY ${duckCosOf("p.qv", "a.embedding")} DESC, a.vec_id) AS rk
      |    FROM qp p JOIN assigned a
      |      ON a.clabel = p.clabel AND a.vec_id <> p.query_id)
      |  WHERE rk <= 3
      |), truth AS MATERIALIZED (
      |  SELECT query_id, cand FROM (
      |    SELECT query_id, vec_id AS cand,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, vec_id) AS rank
      |    FROM (
      |      SELECT query_id, vec_id, ${duckCosOf("q.qv", "embeddings.embedding")} AS cos
      |      FROM embeddings, q WHERE vec_id <> query_id))
      |  WHERE rank <= 3
      |), nq AS (SELECT COUNT(*) AS n_queries FROM q),
      |${ballCtes("balli", "edges")},
      |${ballCtes("ballb", "edgesb")}
      |SELECT variant, n_queries, n_edges, n_cand_total, n_hits,
      |  CAST((n_hits * 1000000) // NULLIF(3 * n_queries, 0) AS BIGINT) AS recall_ppm
      |FROM (
      |  ${armSelect("1_intra", "balli", "edges")}
      |  UNION ALL
      |  ${armSelect("2_bridged", "ballb", "edgesb")})
      |ORDER BY variant""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("s25_knn_graph", s25KnnGraph, s25Oracle),
    Gate("s34_graph_search", s34GraphSearch, s34Oracle),
    // same search, persisted graph index
    Gate("s36_graph_persisted", s36GraphPersisted, s34Oracle),
    Gate("s38_graph_recall", s38GraphRecall, s38Oracle),
    Gate("s40_graph_seed_sweep", s40GraphSeedSweep, s40Oracle),
    Gate("s41_graph_bridged_recall", s41GraphBridgedRecall, s41Oracle),
    Gate("s49_graph_filtered", s49GraphFiltered, s49Oracle),
    Gate("s50_beam_sweep", s50BeamSweep, s50Oracle),
  )
}
