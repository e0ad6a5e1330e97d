package graft.queries

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.cosineSim

/** Similarity search over the `embeddings` table (builder prompt /
  * SURVEY §7.7): brute-force cosine top-k as the baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path, plus
  * embedding-cosine near-dup pairs.
  *
  * Scale design: the query set is broadcast against the corpus scan
  * (N×Q stays linear in N); the LSH variant buckets both sides on an
  * 8-bit hyperplane signature so the candidate join shuffles on the
  * bucket key instead of comparing all pairs. Cosine runs through the
  * codegen'd `CosineSimilarity` Catalyst expression (one fused pass,
  * no intermediate arrays).
  *
  * Cross-engine exactness: outputs are integer ranks/ids (plus a
  * floor-scaled cosine where informative). Both engines compute the dot
  * product as an ascending left fold in double precision; adjacent
  * neighbor gaps (~1e-3) dwarf any last-bit divergence, so ranks are
  * stable. The LSH plane matrix is a ±1 literal baked identically into
  * the Spark plan and the oracle SQL from one deterministic generator.
  */
object SimilarityQueries {

  // ---------------------------------------------------------------- planes

  /** Deterministic ±1 hyperplane matrix (`nPlanes` × 64 dims) from md5
    * parity of `"${prefix}_${j}_${i}"` — generated once, embedded as a
    * literal on both engines. */
  private def planeTable(prefix: String, nPlanes: Int): Seq[Seq[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { j =>
      (0 until 64).map { i =>
        val h = md.digest(s"${prefix}_${j}_$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1 else -1
      }
    }
  }

  /** The s02 bucket table (8 planes × 64 dims). */
  lazy val planes: Seq[Seq[Int]] = planeTable("plane", 8)

  /** The d07 banding tables: 8 independent tables × 8 planes. */
  lazy val lshTables: Seq[Seq[Seq[Int]]] =
    (0 until 8).map(t => planeTable(s"tplane_$t", 8))

  /** Chunk count for the bounded centroid fold of every IVF gate: bounds
    * the level-2 fold row at `chunks` × 64 doubles (~512 KB) no matter how
    * large a cluster grows. The one value both the [[ivf]] kit and the
    * oracle's [[duckCentroidCtes]] bake in — the chunking is part of the
    * deterministic-fold contract. Deployment-overridable WITHOUT code via
    * `-Dgraft.centroidChunks=N`: a JVM property because the oracle SQL
    * strings are object-init vals, so the Spark plans and the oracle text
    * derive from this one value and the gates stay exact at any setting. */
  val centroidChunks: Int = {
    val v = sys.props.get("graft.centroidChunks").map { raw =>
      // name the property on a bad value: a bare NumberFormatException
      // inside this object initializer would surface as an opaque
      // ExceptionInInitializerError with no hint at the one-char typo
      try raw.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"-Dgraft.centroidChunks must be a positive integer, got '$raw'")
      }
    }.getOrElse(1024)
    require(v > 0, s"-Dgraft.centroidChunks must be positive, got $v")
    v
  }

  /** DuckDB `VALUES` rows `(tbl, pj, pvec)` — one row per plane, `pvec`
    * a 64-element ±1 list literal. Feeding the planes in as a relation
    * (instead of inlining the whole matrix literal inside a
    * `list_transform` lambda, which DuckDB re-evaluates per element —
    * round 3's gate-breaking >10-min oracle) keeps the oracle vectorized:
    * the dot product folds over a *column* reference, so the full d07
    * bucket computation runs in ~0.1 s at sf0.01. */
  private def duckPlanesValues(tables: Seq[Seq[Seq[Int]]]): String =
    tables.zipWithIndex.flatMap { case (pls, t) =>
      pls.zipWithIndex.map { case (p, j) =>
        s"($t, $j, ${p.mkString("[", ", ", "]")})"
      }
    }.mkString(",\n      |  ")

  /** CTE bodies computing per-(vec_id, tbl) hyperplane buckets over the
    * `embeddings` view — the exact mirror of
    * [[graft.ops.Similarity.lshBucket]]: the dot product is the same
    * ascending i-fold in double precision (`list_sum` over
    * `list_transform(range(1, 65), ...)`), and the bucket is a sum of
    * distinct powers of two (integer, order-independent), so the `> 0.0`
    * sign test is bit-identical cross-engine. Yields CTEs `pl`, `dots`,
    * `bk(vec_id, tbl, bucket)`. */
  private def duckBucketCtes(tables: Seq[Seq[Seq[Int]]]): String = {
    val dim = tables.head.head.size
    s"""pl(tbl, pj, pvec) AS (VALUES ${duckPlanesValues(tables)}),
      |dots AS (
      |  SELECT e.vec_id, p.tbl, p.pj,
      |    list_sum(list_transform(range(1, ${dim + 1}), i -> CAST(e.embedding[i] AS DOUBLE) * p.pvec[i])) AS dot
      |  FROM embeddings e CROSS JOIN pl p
      |),
      |bk AS (
      |  SELECT vec_id, tbl,
      |    CAST(sum(CASE WHEN dot > 0.0 THEN CAST(1 AS BIGINT) << pj ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id, tbl
      |)""".stripMargin
  }

  /** CTEs `cpart`/`cpsum`/`cfold`/`cent(clabel, cf)` — the exact DuckDB
    * mirror of [[graft.ops.Similarity.buildCentroids]]'s bounded two-level
    * ordered fold (same `vec_id % chunks` chunking, same ascending-id fold
    * within a chunk, same chunk-order fold of the partials), so the
    * centroid doubles are bit-identical cross-engine without either engine
    * ever holding a whole cluster in one row. */
  private[queries] def duckCentroidCtes(dim: Int, src: String = "embeddings",
      sfx: String = "", embCol: String = "embedding"): String =
    s"""cpart$sfx AS (
      |  SELECT label, vec_id % $centroidChunks AS chunk,
      |    list(struct_pack(id := vec_id, emb := $embCol) ORDER BY vec_id) AS vs
      |  FROM $src GROUP BY label, vec_id % $centroidChunks
      |), cpsum$sfx AS (
      |  SELECT label, chunk,
      |    list_transform(range(1, ${dim + 1}), d -> list_sum(list_transform(vs, v -> CAST(v.emb[d] AS DOUBLE)))) AS psum,
      |    len(vs) AS pcnt
      |  FROM cpart$sfx
      |), cfold$sfx AS (
      |  SELECT label, list(struct_pack(chunk := chunk, psum := psum, pcnt := pcnt) ORDER BY chunk) AS ps
      |  FROM cpsum$sfx GROUP BY label
      |), cent$sfx AS (
      |  SELECT label AS clabel,
      |    list_transform(range(1, ${dim + 1}), d ->
      |      CAST(list_sum(list_transform(ps, p -> p.psum[d])) /
      |           list_sum(list_transform(ps, p -> p.pcnt)) AS FLOAT)) AS cf
      |  FROM cfold$sfx
      |)""".stripMargin

  /** The IVF kit of `src` at the gates' one chunk count. */
  private[queries] def ivf(src: DataFrame, dim: Int = 64,
      embCol: String = "embedding"): graft.ops.Ivf =
    graft.ops.Ivf(src, dim, centroidChunks, embCol)

  /** The nearest-centroid ranking every IVF oracle shares: each row of
    * `src` (alias `e`, carrying `cols`) against each centroid of `cent`
    * (alias `c`), numbered by cosine DESC then label — the SQL mirror of
    * [[graft.ops.Similarity.probeCentroids]]' order (`rn = 1` is
    * `assignToCentroids`' argmax). */
  private[queries] def duckRanking(cols: Seq[String], src: String = "embeddings",
      cent: String = "cent"): String =
    s"""SELECT ${(cols.map("e." + _) :+ "c.clabel").mkString(", ")},
      |  row_number() OVER (PARTITION BY e.vec_id
      |    ORDER BY ${duckCosOf("e.embedding", "c.cf")} DESC, c.clabel) AS rn
      |FROM $src e, $cent c""".stripMargin

  /** `SELECT cols, label FROM (<ranking>) WHERE rn = rank`: each row's
    * `rank`-th nearest centroid as one subquery (a CTE body). */
  private[queries] def duckNearest(cols: Seq[String], src: String = "embeddings",
      cent: String = "cent", label: String = "clabel", rank: Int = 1): String =
    s"""SELECT ${(cols :+ label).mkString(", ")} FROM (
      |${duckRanking(cols, src, cent)})
      |WHERE rn = $rank""".stripMargin

  /** The `ranked` CTE (the full [[duckRanking]], for `rn <= n` probes)
    * followed by the `assigned` CTE of its `rn = 1` rows. */
  private[queries] def duckRankedCtes(ranked: String, assigned: String,
      cols: Seq[String], src: String = "embeddings", cent: String = "cent",
      label: String = "clabel"): String =
    s"""$ranked AS (
      |${duckRanking(cols, src, cent)}
      |), $assigned AS (
      |  SELECT ${(cols :+ label).mkString(", ")} FROM $ranked WHERE rn = 1
      |)""".stripMargin

  private[queries] val duckCos: String =
    "list_sum(list_transform(list_zip(qv, embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))" +
      " / sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))" +
      " * list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  // s01 — brute-force cosine top-k: the exact baseline. Query set broadcast
  // against one corpus scan; per-query ranking window.
  def s01AnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    graft.ops.Similarity.cosineTopK(emb, q, 10)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  val s01Oracle: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, vec_id, $duckCos AS cos
      |  FROM embeddings, q WHERE vec_id <> query_id
      |)
      |SELECT query_id, rank, neighbor_id FROM (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // s02 — LSH-bucketed ANN: candidates only from the query's hyperplane
  // bucket (the shuffle key), ranked by exact cosine within the bucket.
  def s02AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket",
        graft.ops.Similarity.lshBucket(col("embedding"), planes.map(_.map(_.toDouble))))
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("bucket"))
    graft.ops.Similarity.lshTopK(emb, q, 5)
      .select("query_id", "bucket", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  val s02Oracle: String =
    s"""WITH ${duckBucketCtes(Seq(planes))},
      |b AS (
      |  SELECT e.vec_id, e.embedding, bk.bucket FROM embeddings e JOIN bk USING (vec_id)
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket
      |  FROM b WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, qbucket, vec_id, $duckCos AS cos
      |  FROM b, q WHERE b.bucket = q.qbucket AND vec_id <> query_id
      |)
      |SELECT query_id, bucket, rank, neighbor_id FROM (
      |  SELECT query_id, qbucket AS bucket, vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // s03 — IVF-style ANN: k-means-free coarse quantizer using the label
  // partitions' centroids (computed with Similarity.buildCentroids'
  // bounded two-level ordered fold so both engines produce bit-identical
  // doubles and no row ever holds a whole cluster), nprobe=1 search inside
  // the query's cluster. At scale: centroids are a broadcast-size table,
  // the assignment is a per-row argmax over the broadcast, and the search
  // shuffles on the cluster id — the standard IVF layout.
  def s03AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = ivf(emb).assigned
    val q = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("cluster").as("qc"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(q),
        col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("qc").as("cluster"), col("rank"),
        col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  // s45 — MUTUAL NEAREST NEIGHBORS across two sides of the corpus (the
  // bitext-mining / alignment shape — Artetxe & Schwenk 2019's candidate
  // stage: a pair survives only if each end is the other's top-1). Sides
  // are the even/odd `label` halves standing in for two languages; both
  // share the IVF coarse quantizer, candidates meet in a cluster-keyed
  // equi-join (never all-pairs), each direction takes its top-1 by
  // (cos desc, id), and the mutual filter is an equi-join of the two
  // direction tables. Ids-only output. At 100 TB both direction top-1
  // cuts are WindowGroupLimit-able per key and the mutual join is keyed
  // by the pair — no step holds more than a cluster's candidates.
  def s45MutualNn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = ivf(emb).assign(emb.select("vec_id", "embedding", "label"))
    val a = assigned.filter(col("label") % 2 === 0)
      .select(col("vec_id").as("id_a"), col("embedding").as("va"), col("cluster"))
    val b = assigned.filter(col("label") % 2 === 1)
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("cluster"))
    val scored = a.join(b, Seq("cluster"))
      .withColumn("cos", cosineSim(col("va"), col("vb")))
    val wa = Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))
    val wb = Window.partitionBy("id_b").orderBy(col("cos").desc, col("id_a"))
    val topAB = scored.withColumn("r", row_number().over(wa))
      .filter(col("r") === 1).select(col("cluster"), col("id_a"), col("id_b"))
    val topBA = scored.withColumn("r", row_number().over(wb))
      .filter(col("r") === 1).select(col("id_a"), col("id_b"))
    topAB.join(topBA, Seq("id_a", "id_b"))
      .select(col("cluster").cast("long").as("cluster"), col("id_a"), col("id_b"))
      .orderBy("id_a")
  }

  val s45Oracle: String = {
    s"""WITH ${duckCentroidCtes(64)}, assigned AS (
      |  ${duckNearest(Seq("vec_id", "embedding", "label"))}
      |), a AS (
      |  SELECT vec_id AS id_a, embedding AS va, clabel AS cluster
      |  FROM assigned WHERE label % 2 = 0
      |), b AS (
      |  SELECT vec_id AS id_b, embedding AS vb, clabel AS cluster
      |  FROM assigned WHERE label % 2 = 1
      |), scored AS (
      |  SELECT a.cluster, id_a, id_b, ${duckCosOf("va", "vb")} AS cos
      |  FROM a JOIN b USING (cluster)
      |), tab AS (
      |  SELECT cluster, id_a, id_b FROM (
      |    SELECT cluster, id_a, id_b,
      |      row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS r
      |    FROM scored) WHERE r = 1
      |), tba AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT id_a, id_b,
      |      row_number() OVER (PARTITION BY id_b ORDER BY cos DESC, id_a) AS r
      |    FROM scored) WHERE r = 1
      |)
      |SELECT CAST(t.cluster AS BIGINT) AS cluster, id_a, id_b
      |FROM tab t JOIN tba USING (id_a, id_b)
      |ORDER BY id_a""".stripMargin
  }

  val s03Oracle: String = {
    s"""WITH ${duckCentroidCtes(64)}, assigned AS (
      |  ${duckNearest(Seq("vec_id", "embedding"))}
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, clabel AS qc
      |  FROM assigned WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, qc, a.vec_id, ${duckCosOf("qv", "a.embedding")} AS cos
      |  FROM assigned a JOIN q ON a.clabel = q.qc AND a.vec_id <> q.query_id
      |)
      |SELECT query_id, cluster, rank, neighbor_id FROM (
      |  SELECT query_id, qc AS cluster, vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  }

  // s04 — IVF with nprobe=2: same index layout as s03 (corpus rows live in
  // their single nearest cluster), but each query probes its TWO nearest
  // clusters and ranks over the union — the standard recall/cost dial of
  // IVF search. Candidate sets from the two probes are disjoint (a corpus
  // row has one home cluster), so the union needs no dedup.
  def s04AnnIvfProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val probes = kit.probes(
        assigned.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding"), 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probes),
        col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  val s04Oracle: String = {
    s"""WITH ${duckCentroidCtes(64)},
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, clabel AS qc
      |  FROM ranked WHERE vec_id % 50 = 0 AND rn <= 2
      |), scored AS (
      |  SELECT query_id, a.vec_id, ${duckCosOf("qv", "a.embedding")} AS cos
      |  FROM assigned a JOIN q ON a.clabel = q.qc AND a.vec_id <> q.query_id
      |)
      |SELECT query_id, rank, neighbor_id FROM (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  }

  // d05 — embedding-cosine near-dup pairs, exact: block-partitioned pair
  // join (no corpus broadcast, no nested-loop join — see
  // Dedup.embeddingNearDups). d07 is the approximate subquadratic path
  // for the same predicate.
  def d05EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.embeddingNearDups(
        Tables.embeddings(spark, dir), "vec_id", "embedding", 0.45, blocks = 8)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        floor(col("cos") * 1000000).cast("long").as("cos_micros"))
      .orderBy("vec_a", "vec_b")

  val d05Oracle: String =
    s"""SELECT vec_a, vec_b, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, qv, b.embedding,
      |    $duckCos AS cos
      |  FROM (SELECT vec_id, embedding AS qv FROM embeddings) a
      |  JOIN embeddings b ON a.vec_id < b.vec_id)
      |WHERE cos >= 0.45
      |ORDER BY vec_a, vec_b""".stripMargin

  // d07 — the approximate scale path for d05's predicate: multi-table
  // hyperplane-LSH candidates + exact cosine verify on candidates only.
  // The oracle mirrors the candidate generation (same deterministic plane
  // literals), so the gate checks blocking + verify cross-engine; measured
  // on this data no blocking scheme reaches recall 1.0 at cos 0.45
  // (qualifying pairs sit at the threshold), which is why the exact d05
  // keeps the all-pairs oracle and d07 owns the banding S-curve semantics
  // (recall ≈ 1 at true near-dup thresholds — see EmbeddingDedupSpec).
  def d07EmbedNearDupLsh(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.embeddingNearDupsLsh(
        Tables.embeddings(spark, dir), "vec_id", "embedding", 0.45,
        lshTables.map(_.map(_.map(_.toDouble))))
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        floor(col("cos") * 1000000).cast("long").as("cos_micros"))
      .orderBy("vec_a", "vec_b")

  val d07Oracle: String = {
    val cosAB =
      "list_sum(list_transform(list_zip(ea.embedding, eb.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))" +
        " / sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))" +
        " * list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""WITH ${duckBucketCtes(lshTables)},
      |e AS (SELECT vec_id, embedding FROM embeddings),
      |x AS (SELECT vec_id, CAST(tbl AS VARCHAR) || '-' || CAST(bucket AS VARCHAR) AS bkt FROM bk),
      |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      |  FROM x a JOIN x b ON a.bkt = b.bkt AND a.vec_id < b.vec_id),
      |scored AS (SELECT va AS vec_a, vb AS vec_b, $cosAB AS cos
      |  FROM cand JOIN e ea ON va = ea.vec_id JOIN e eb ON vb = eb.vec_id)
      |SELECT vec_a, vec_b, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
      |FROM scored WHERE cos >= 0.45 ORDER BY vec_a, vec_b""".stripMargin
  }

  // d16 — LSH recall evaluation for the text/embedding dedup family: the
  // s19 pattern (score the approximate operator against its own exact
  // baseline, both already gated) applied to d05/d07. d05's
  // block-partitioned all-pairs join is ground truth; d07's multi-table
  // hyperplane-LSH candidates + exact verify is the scale path; this
  // query joins the two pair sets and reports the confusion counts plus
  // an integer checksum of the MISSED pair set — so a silent recall
  // regression in the banding scheme (more tables, fewer planes, a bad
  // plane literal) becomes an oracle hash mismatch, not a guess. d07's
  // verify step re-checks the exact cosine, so false positives are
  // structurally zero — n_found counts candidates that survived verify.
  // The measured number documented in PLANS.md: recall < 1 at τ = 0.45
  // on this corpus because qualifying pairs sit AT the threshold (the
  // banding S-curve's flat region); the operator contract is recall ≈ 1
  // at true near-dup thresholds, and this query is the instrument that
  // proves it per-corpus instead of asserting it.
  def d16LshRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val exact = graft.ops.Dedup.embeddingNearDups(
        emb, "vec_id", "embedding", 0.45, blocks = 8)
      .select(col("id_a"), col("id_b"))
    val approx = graft.ops.Dedup.embeddingNearDupsLsh(
        emb, "vec_id", "embedding", 0.45,
        lshTables.map(_.map(_.map(_.toDouble))))
      .select(col("id_a").as("fa"), col("id_b").as("fb"))
    exact.join(approx,
        col("id_a") === col("fa") && col("id_b") === col("fb"), "left")
      .agg(
        count(lit(1)).as("n_true"),
        sum(when(col("fa").isNotNull, 1L).otherwise(0L)).as("n_found"),
        sum(when(col("fa").isNull, 1L).otherwise(0L)).as("n_missed"),
        sum(when(col("fa").isNull, col("id_a") * 1000000L + col("id_b"))
          .otherwise(0L)).cast("long").as("missed_pair_checksum"))
  }

  val d16Oracle: String = {
    val cosAB =
      "list_sum(list_transform(list_zip(ea.embedding, eb.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))" +
        " / sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))" +
        " * list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""WITH ${duckBucketCtes(lshTables)},
      |e AS (SELECT vec_id, embedding FROM embeddings),
      |x AS (SELECT vec_id, CAST(tbl AS VARCHAR) || '-' || CAST(bucket AS VARCHAR) AS bkt FROM bk),
      |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      |  FROM x a JOIN x b ON a.bkt = b.bkt AND a.vec_id < b.vec_id),
      |approx AS (SELECT va AS vec_a, vb AS vec_b
      |  FROM cand JOIN e ea ON va = ea.vec_id JOIN e eb ON vb = eb.vec_id
      |  WHERE $cosAB >= 0.45),
      |exact AS (SELECT ea.vec_id AS vec_a, eb.vec_id AS vec_b
      |  FROM e ea JOIN e eb ON ea.vec_id < eb.vec_id
      |  WHERE $cosAB >= 0.45)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
      |  CAST(SUM(CASE WHEN ap.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
      |  CAST(SUM(CASE WHEN ap.vec_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
      |  CAST(SUM(CASE WHEN ap.vec_a IS NULL
      |       THEN ex.vec_a * 1000000 + ex.vec_b ELSE 0 END) AS BIGINT) AS missed_pair_checksum
      |FROM exact ex LEFT JOIN approx ap
      |  ON ap.vec_a = ex.vec_a AND ap.vec_b = ex.vec_b""".stripMargin
  }

  // d14 — SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
  // web-scale through semantic deduplication", 2023): k-means-cluster the
  // embedding space, then drop near-duplicates WITHIN clusters only. This
  // is the semantic-dedup operator real curation pipelines run where
  // d05's exact all-pairs predicate is unaffordable: the pairwise cosine
  // join is partitioned by the cluster id, so the quadratic term is
  // n_c² per cluster instead of N² — with k sized so clusters stay
  // bounded (the paper runs k = 50 000 over 5 B embeddings), the
  // whole pass is one centroid broadcast + one shuffle on the cluster
  // key. Keep rule: a vector is DROPPED iff any lower-id vector in its
  // cluster is τ-similar (cos ≥ 0.35). This order-free rule is a
  // conservative superset of the paper's sequential greedy (a dropped
  // vector can still shadow later ones — they differ only on chains
  // a~b~c without a~c); it is chosen because it is engine-exact in one
  // join pass, where the sequential variant needs an iterative fixpoint
  // (d10's connected-components machinery serves that need). Output is
  // pure integers per cluster (sizes + kept-id checksum), pinning
  // centroid lineage, assignment, and the drop set. A nonempty cluster
  // always keeps its minimum id, so the kept side never vanishes.
  def d14SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = ivf(emb).assigned
    val left = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val right = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    val dropped = left.join(right, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= 0.35)
      .select(col("id_b").as("vec_id")).distinct()
    val tot = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"))
    val kept = assigned.join(dropped, Seq("vec_id"), "left_anti")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("vec_id")).cast("long").as("kept_id_sum"))
    tot.join(kept, Seq("cluster"))
      .select(col("cluster").cast("long").as("cluster"),
        col("n_vecs"), col("n_kept"), col("kept_id_sum"))
      .orderBy("cluster")
  }

  val d14Oracle: String =
    s"""WITH ${duckCentroidCtes(64)},
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, drops AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM assigned a JOIN assigned b
      |    ON a.clabel = b.clabel AND a.vec_id < b.vec_id
      |  WHERE ${duckCosOf("a.embedding", "b.embedding")} >= 0.35
      |)
      |SELECT CAST(s.clabel AS BIGINT) AS cluster,
      |  COUNT(*) AS n_vecs,
      |  COUNT(*) FILTER (WHERE d.vec_id IS NULL) AS n_kept,
      |  CAST(SUM(s.vec_id) FILTER (WHERE d.vec_id IS NULL) AS BIGINT) AS kept_id_sum
      |FROM assigned s LEFT JOIN drops d ON s.vec_id = d.vec_id
      |GROUP BY s.clabel ORDER BY cluster""".stripMargin

  /** The one cosine text the ANN oracles share (ascending fold in
    * doubles — duckCos's shape with nameable operands). */
  private[queries] def duckCosOf(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))" +
      s" / sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))" +
      s" * list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  // s07 — deterministic k-means (one Lloyd round): seed centroids are
  // the label partitions' bounded-fold means, every row reassigns to its
  // nearest centroid (aggregate argmax), per-cluster means recompute with
  // the same bounded fold, and the corpus assigns once more against the
  // LEARNED centroids. Output is pure integers (cluster sizes + id sums),
  // so the gate pins the entire two-generation centroid lineage — the
  // floats only decide assignments, where both engines are bit-identical.
  def s07Kmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label", "embedding")
    ivf(emb).kmeans(iters = 1).assigned
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("vec_id")).cast("long").as("id_sum"))
      .orderBy("cluster")
  }

  val s07Oracle: String = {
    s"""WITH ${duckCentroidCtes(64)},
      |${duckRankedCtes("r1", "a1", Seq("vec_id", "embedding"), label = "clabel AS label")},
      |${duckCentroidCtes(64, src = "a1", sfx = "2")}, r2 AS (
      |  ${duckRanking(Seq("vec_id"), cent = "cent2")}
      |)
      |SELECT CAST(clabel AS BIGINT) AS cluster, COUNT(*) AS n_vecs,
      |  CAST(SUM(vec_id) AS BIGINT) AS id_sum
      |FROM r2 WHERE rn = 1
      |GROUP BY clabel ORDER BY cluster""".stripMargin
  }

  // s09 — multi-round deterministic k-means (3 Lloyd rounds): the s07
  // pipeline at production iteration depth, exercising the between-round
  // centroid MATERIALIZATION (each round collects the ≤4096-row centroid
  // table and restarts the plan from a local relation — one corpus scan
  // per round instead of the O(iters²) recompute a lazily-nested lineage
  // pays; PlanAuditSpec pins the returned plan to a constant-size local
  // relation). Output pins the three-generation centroid lineage with
  // pure integers, like s07. Empty-cluster reseeding is enabled
  // (deterministic farthest-point, ties by id) but does not fire on this
  // data — KmeansSpec asserts both that no label empties here (so this
  // oracle needs no reseed arm) and, on a synthetic fixture where one
  // does, that the reseed rule is the documented one.
  def s09KmeansMulti(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label", "embedding")
    ivf(emb).kmeans(iters = 3, reseedEmpty = true).assigned
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("vec_id")).cast("long").as("id_sum"))
      .orderBy("cluster")
  }

  /** One Lloyd round in oracle SQL: assign `embeddings` to `cent$prev`
    * (argmax by cosine, ties by label), then refold with the bounded
    * two-level centroid CTEs — the exact SQL s07 uses, chained. */
  private def duckLloydRound(prev: String, next: String): String =
    duckRankedCtes(s"r$next", s"a$next", Seq("vec_id", "embedding"),
      cent = s"cent$prev", label = "clabel AS label") + ", " +
      duckCentroidCtes(64, src = s"a$next", sfx = next)

  val s09Oracle: String =
    s"""WITH ${duckCentroidCtes(64)},
      |${duckLloydRound("", "2")},
      |${duckLloydRound("2", "3")},
      |${duckLloydRound("3", "4")}, rf AS (
      |  ${duckRanking(Seq("vec_id"), cent = "cent4")}
      |)
      |SELECT CAST(clabel AS BIGINT) AS cluster, COUNT(*) AS n_vecs,
      |  CAST(SUM(vec_id) AS BIGINT) AS id_sum
      |FROM rf WHERE rn = 1
      |GROUP BY clabel ORDER BY cluster""".stripMargin

  // s17 — FILTERED ANN search (the metadata-predicate vector search every
  // production vector store implements): s03's IVF layout, but candidates
  // must satisfy a metadata predicate (here `label % 2 = 0`). The
  // predicate applies BEFORE the cluster-key candidate join — true
  // pre-filtering, so the top-k is the top-k OF THE FILTERED SET (a
  // post-rank filter would silently return fewer than k and miss
  // qualifying neighbors ranked past k). At scale the predicate is a
  // pushed parquet filter on the index side of the equi-join; queries
  // themselves are NOT filtered. Neighbor labels ride the output so the
  // gate also proves the filter held.
  def s17AnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = ivf(emb).assign(emb.select("vec_id", "label", "embedding"))
    val q = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    val cand = assigned.filter(col("label") % 2 === 0)
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    cand.join(broadcast(q),
        col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("neighbor_label"))
      .orderBy("query_id", "rank")
  }

  val s17Oracle: String = {
    s"""WITH ${duckCentroidCtes(64)}, assigned AS (
      |  ${duckNearest(Seq("vec_id", "label", "embedding"))}
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, clabel AS qc
      |  FROM assigned WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, a.vec_id, a.label, ${duckCosOf("qv", "a.embedding")} AS cos
      |  FROM assigned a JOIN q ON a.clabel = q.qc AND a.vec_id <> q.query_id
      |  WHERE a.label % 2 = 0
      |)
      |SELECT query_id, rank, neighbor_id, neighbor_label FROM (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    CAST(label AS BIGINT) AS neighbor_label,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  }

  // s18 — cluster purity: the evaluation join every clustering pipeline
  // runs — IVF-assign the embeddings, join the document table's metadata
  // on the shared id, and report each cluster's size, majority language,
  // and purity. The cross-table hop (embeddings ↔ documents) is an
  // equi-join on the id — at 100 TB both sides shuffle on it (or
  // co-bucket); the per-cluster majority is a two-level agg + one window
  // over cluster-sized rows, never the corpus.
  def s18ClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = ivf(emb).assigned
    val byLang = assigned
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .groupBy(col("cluster").cast("long").as("cluster"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("cluster").orderBy(col("n").desc, col("lang"))
    byLang
      .withColumn("rn", row_number().over(w))
      .withColumn("n_vecs", sum(col("n")).over(Window.partitionBy("cluster")))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("n_vecs"),
        col("lang").as("top_lang"), col("n").as("top_n"),
        (col("n").cast("double") / col("n_vecs")).as("purity"))
      .orderBy("cluster")
  }

  val s18Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS (
      |  ${duckNearest(Seq("vec_id"))}
      |), byl AS (
      |  SELECT CAST(a.clabel AS BIGINT) AS cluster, d.lang, COUNT(*) AS n
      |  FROM assigned a JOIN documents d ON d.doc_id = a.vec_id
      |  GROUP BY a.clabel, d.lang
      |)
      |SELECT cluster, n_vecs, lang AS top_lang, n AS top_n,
      |  CAST(n AS DOUBLE)/n_vecs AS purity
      |FROM (
      |  SELECT cluster, lang, n,
      |    row_number() OVER (PARTITION BY cluster ORDER BY n DESC, lang) AS rn,
      |    CAST(SUM(n) OVER (PARTITION BY cluster) AS BIGINT) AS n_vecs
      |  FROM byl)
      |WHERE rn = 1 ORDER BY cluster""".stripMargin

  // s19 — index-quality evaluation: recall@5 of the IVF index (s03)
  // against the exact brute-force ground truth (s01) — the metric every
  // ANN deployment reports before trusting an index. Both sides ARE the
  // gated operators (the DataFrames and the oracle SQL are s01's and
  // s03's own definitions, composed), so a recall regression isolates to
  // the index, not the evaluator. Scale: the truth side is exact top-k
  // over the sampled query set only (the standard evaluation protocol —
  // ground truth is priced per-query, never per-corpus-pair), and the
  // hit join carries (query_id, neighbor_id) pairs, k rows per query.
  def s19AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = s01AnnBruteForce(spark, dir).filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = s03AnnIvf(spark, dir).select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).cast("int").as("n_hits"))
    truth.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0)))
      .withColumn("recall5", col("n_hits").cast("double") / 5.0)
      .orderBy("query_id")
  }

  val s19Oracle: String =
    s"""WITH truth AS (
      |  SELECT query_id, neighbor_id FROM ($s01Oracle) WHERE rank <= 5
      |), approx AS (
      |  SELECT query_id, neighbor_id FROM ($s03Oracle)
      |), hits AS (
      |  SELECT t.query_id, CAST(COUNT(*) AS INT) AS n_hits
      |  FROM truth t JOIN approx a
      |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      |  GROUP BY t.query_id
      |)
      |SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
      |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE)/5.0 AS recall5
      |FROM (SELECT DISTINCT query_id FROM truth) q
      |LEFT JOIN hits h USING (query_id)
      |ORDER BY query_id""".stripMargin

  // s21 — RANGE search (FAISS range_search): all live neighbors within a
  // cosine radius, not a fixed k — the dedup/retrieval primitive when the
  // caller wants "everything at least this similar" (radius filtering,
  // duplicate sweeps, threshold retrieval). Runs on the s04 IVF layout at
  // nprobe=2: candidates come only from the query's two nearest clusters
  // (the candidate join stays a cluster-key equi-join against broadcast
  // probes), the radius predicate replaces the top-k window — so the
  // operator has NO per-query sort at all, the cheapest shape of the
  // family — and empty result sets survive through the left join (a query
  // with no in-range neighbor reports n_in_range = 0, the FAISS
  // empty-list contract). The id checksum and floor-scaled max cosine
  // prove both engines selected the identical neighbor SETS. Radius 0.3
  // is live on the synthetic embeddings (2–4 hits per query at sf0.01).
  def s21AnnRange(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val qSet = assigned.filter(col("vec_id") % 50 === 0)
    val probes = kit.probes(qSet.select("vec_id", "embedding"), 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    val hits = assigned.join(broadcast(probes),
        col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .filter(col("cos") >= 0.3)
      .groupBy("query_id")
      .agg(count(lit(1)).cast("int").as("n_in_range"),
        sum(col("vec_id")).as("id_checksum"),
        floor(max(col("cos")) * 1000000).cast("long").as("max_cos_micros"))
    qSet.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_in_range"), lit(0)).as("n_in_range"),
        col("id_checksum"), col("max_cos_micros"))
      .orderBy("query_id")
  }

  val s21Oracle: String =
    s"""WITH ${duckCentroidCtes(64)},
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, clabel AS qc
      |  FROM ranked WHERE vec_id % 50 = 0 AND rn <= 2
      |), scored AS (
      |  SELECT query_id, a.vec_id, ${duckCosOf("qv", "a.embedding")} AS cos
      |  FROM assigned a JOIN q ON a.clabel = q.qc AND a.vec_id <> q.query_id
      |), hits AS (
      |  SELECT query_id, CAST(COUNT(*) AS INT) AS n_in_range,
      |    CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
      |    CAST(floor(MAX(cos) * 1000000) AS BIGINT) AS max_cos_micros
      |  FROM scored WHERE cos >= 0.3 GROUP BY query_id
      |)
      |SELECT ql.query_id, COALESCE(h.n_in_range, 0) AS n_in_range,
      |  h.id_checksum, h.max_cos_micros
      |FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0) ql
      |LEFT JOIN hits h USING (query_id)
      |ORDER BY ql.query_id""".stripMargin

  // s23 — IVF inverted-list BALANCE statistics, FAISS's
  // `imbalance_factor` next to s22's distortion: per-cluster population
  // min/max and Σn², from which imbalance = k·Σn²/N² (reported as its
  // exact integer parts — the division is the reader's). An imbalanced
  // index is the OTHER way IVF degrades silently: search cost at
  // nprobe=p is the sum of the p probed list lengths, so one hot cluster
  // makes every query that probes it pay; FAISS prints exactly this
  // statistic after train(). One centroid broadcast + one count-shuffle
  // on the cluster key; constant-size output at any corpus scale.
  def s23IvfStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = ivf(emb).assigned
    assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("k_nonempty"),
        sum(col("n")).as("n_total"),
        min(col("n")).as("min_cluster"),
        max(col("n")).as("max_cluster"),
        sum(col("n") * col("n")).as("sum_sq_sizes"))
  }

  val s23Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS (
      |  ${duckNearest(Seq("vec_id"))}
      |), sizes AS (
      |  SELECT clabel, COUNT(*) AS n FROM assigned GROUP BY clabel
      |)
      |SELECT COUNT(*) AS k_nonempty,
      |  CAST(SUM(n) AS BIGINT) AS n_total,
      |  CAST(MIN(n) AS BIGINT) AS min_cluster,
      |  CAST(MAX(n) AS BIGINT) AS max_cluster,
      |  CAST(SUM(n * n) AS BIGINT) AS sum_sq_sizes
      |FROM sizes""".stripMargin

  // s24 — PER-CLUSTER PROTOTYPE (coreset) SELECTION: for every IVF
  // cluster, keep the 8 vectors most similar to their own centroid —
  // the "most prototypical" representatives. This is the selection
  // primitive behind cluster-based data pruning (keep prototypes /
  // drop them, per the density argument in SemDeDup §5 and
  // prototype-based coreset papers): once a corpus is clustered, both
  // pruning policies and human inspection want "the m examples that
  // define each cluster". Plan shape: the gated assignment
  // (broadcast-centroid argmax agg), ONE broadcast equi-join back to
  // the centroid table for the self-cosine (no pairwise join — cost is
  // N·1, not N·k), a per-cluster top-m window over (cos desc, vec_id),
  // and an integer reduction (count / id-checksum / cut-off id) that
  // pins the exact selected set. The window partitions by cluster —
  // thousands of lists at scale, bounded by the s23 balance profile.
  def s24ClusterPrototypes(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val w = Window.partitionBy("cluster").orderBy(col("ccos").desc, col("vec_id"))
    assigned
      .join(broadcast(kit.centroids.withColumnRenamed("clabel", "cluster")), Seq("cluster"))
      .withColumn("ccos", cosineSim(col("embedding"), col("cf")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 8)
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_sel"),
        sum(col("vec_id")).as("sel_id_sum"),
        max_by(col("vec_id"), col("rk")).as("cutoff_id"))
      .orderBy("cluster")
  }

  val s24Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, assigned AS (
      |  ${duckNearest(Seq("vec_id", "embedding"))}
      |), scored AS (
      |  SELECT a.vec_id, a.clabel,
      |    row_number() OVER (PARTITION BY a.clabel
      |      ORDER BY ${duckCosOf("a.embedding", "c.cf")} DESC, a.vec_id) AS rk
      |  FROM assigned a JOIN cent c ON a.clabel = c.clabel
      |)
      |SELECT CAST(clabel AS BIGINT) AS cluster, COUNT(*) AS n_sel,
      |  CAST(SUM(vec_id) AS BIGINT) AS sel_id_sum,
      |  CAST(max_by(vec_id, rk) AS BIGINT) AS cutoff_id
      |FROM scored WHERE rk <= 8
      |GROUP BY clabel ORDER BY cluster""".stripMargin

  // s27 — BINARY (sign-bit) quantization ANN, the last classic FAISS
  // compression layout the matrix lacked (IndexBinaryFlat): each 64-dim
  // float vector compresses 256× to 64 sign bits, candidates rank by
  // Hamming distance (two xor+bit_count integer ops — the cheapest
  // possible scan at 100 TB: 8 bytes/vector of memory traffic), and the
  // top-20 re-rank exactly by cosine. The signs pack into TWO 32-bit
  // words in a BIGINT pair rather than one 64-bit word because the
  // oracle engine raises on `1 << 63` overflow — the split costs one
  // extra xor and removes the sign-bit hazard in both engines. Packing
  // is a narrow map (codegen'd HOF over the array — no shuffle); the
  // candidate generation broadcasts the query signatures against one
  // corpus scan (s01's shape at 1/32 the bytes); Hamming is exact
  // integer arithmetic, so ranks are bit-identical cross-engine by
  // construction — no float-fold contract needed until the re-rank.
  def s27AnnBinary(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    def packWord(offset: Int): Column = expr(
      s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
         |  (acc, i) -> acc + IF(element_at(embedding, i + $offset + 1) > CAST(0 AS FLOAT),
         |                       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin)
    val coded = emb.select(col("vec_id"),
      packWord(0).as("sig_lo"), packWord(32).as("sig_hi"))
    val q = coded.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"),
        col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
    val wA = Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("vec_id"))
    val cand = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        (bit_count(col("sig_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("sig_hi").bitwiseXOR(col("q_hi")))).cast("int"))
      .select("query_id", "vec_id", "hamming")
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= 20)
      .select("query_id", "vec_id", "hamming")
    val qv = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wE = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(cand), "vec_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("hamming"))
      .orderBy("query_id", "rank")
  }

  val s27Oracle: String =
    s"""WITH coded AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(0, 32), i ->
      |      CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sig_lo,
      |    CAST(list_sum(list_transform(range(0, 32), i ->
      |      CASE WHEN embedding[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sig_hi
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id AS query_id, sig_lo AS q_lo, sig_hi AS q_hi
      |  FROM coded WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, c.vec_id,
      |    CAST(bit_count(xor(c.sig_lo, q.q_lo)) + bit_count(xor(c.sig_hi, q.q_hi)) AS INT) AS hamming
      |  FROM coded c, q WHERE c.vec_id <> q.query_id
      |), cand AS (
      |  SELECT query_id, vec_id, hamming FROM (
      |    SELECT query_id, vec_id, hamming,
      |      row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS arank
      |    FROM scored)
      |  WHERE arank <= 20
      |), qv AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
      |), rr AS (
      |  SELECT c.query_id, e.vec_id, c.hamming, ${duckCosOf("qv.qv", "e.embedding")} AS cos
      |  FROM cand c
      |  JOIN embeddings e ON e.vec_id = c.vec_id
      |  JOIN qv ON qv.query_id = c.query_id
      |)
      |SELECT query_id, rank, neighbor_id, hamming FROM (
      |  SELECT query_id, vec_id AS neighbor_id, hamming,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM rr)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // s28 — MAXIMAL MARGINAL RELEVANCE diversification (Carbonell &
  // Goldstein '98): re-rank each query's top-20 exact-cosine
  // candidates into 5 picks by greedily maximizing
  // 0.7·rel − 0.3·max_sim_to_already_picked — the de-duplicating
  // re-rank every RAG retrieval stack runs between ANN and the
  // context window. Greedy selection is inherently sequential in k,
  // so the plan unrolls the FIXED k=5 into 4 join+argmax stages over
  // the per-query candidate table (20 rows/query, localCheckpoint'd
  // once — ONE corpus scan total, constant plan depth, the s09
  // iteration lesson); the candidate×candidate sim table is bounded
  // at 380 rows/query and shuffles on query_id only. Both λ weights
  // are written as the literal doubles 0.7/0.3 in both engines (never
  // `1 − λ`, whose float result differs from the 0.3 literal); rel
  // and sim come from the shared ascending cosine fold, so scores are
  // bit-identical and the integer picks gate exactly.
  def s28MmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wC = Window.partitionBy("query_id").orderBy(col("rel").desc, col("vec_id"))
    val cand = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("rel", cosineSim(col("qv"), col("embedding")))
      .withColumn("crank", row_number().over(wC)).filter(col("crank") <= 20)
      .select("query_id", "vec_id", "rel", "embedding")
      .localCheckpoint()
    val pair = cand.as("a")
      .join(cand.as("b"), Seq("query_id"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("query_id"), col("a.vec_id").as("a_id"),
        col("b.vec_id").as("b_id"),
        cosineSim(col("a.embedding"), col("b.embedding")).as("sim"))
      .localCheckpoint()
    val candS = cand.select("query_id", "vec_id", "rel")
    var selected = candS
      .withColumn("rn", row_number().over(wC)).filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id"), lit(1).as("pick"))
    for (k <- 2 to 5) {
      val remaining = candS.join(selected.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), "left_anti")
      val maxSim = pair
        .join(selected.select(col("query_id"), col("vec_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy(col("query_id"), col("a_id").as("vec_id"))
        .agg(max(col("sim")).as("max_sim"))
      val wS = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id"))
      val pick = remaining.join(maxSim, Seq("query_id", "vec_id"))
        .withColumn("score",
          lit(0.7) * col("rel") - lit(0.3) * col("max_sim"))
        .withColumn("rn", row_number().over(wS)).filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), lit(k).as("pick"))
      selected = selected.unionByName(pick).localCheckpoint()
    }
    selected.select(col("query_id"), col("pick"),
        col("vec_id").as("picked_id"))
      .orderBy("query_id", "pick")
  }

  val s28Oracle: String = {
    val steps = (2 to 5).map { k =>
      s"""sel$k AS (
        |  SELECT query_id, vec_id, $k AS pick FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY CAST(0.7 AS DOUBLE) * c.rel
        |                 - CAST(0.3 AS DOUBLE) * m.max_sim DESC,
        |        c.vec_id) AS rn
        |    FROM cand c
        |    JOIN (SELECT p.query_id, p.a_id, MAX(p.sim) AS max_sim
        |          FROM pair p JOIN selu${k - 1} s
        |            ON s.query_id = p.query_id AND s.vec_id = p.b_id
        |          GROUP BY p.query_id, p.a_id) m
        |      ON m.query_id = c.query_id AND m.a_id = c.vec_id
        |    WHERE NOT EXISTS (SELECT 1 FROM selu${k - 1} s2
        |                      WHERE s2.query_id = c.query_id
        |                        AND s2.vec_id = c.vec_id)
        |  ) WHERE rn = 1
        |), selu$k AS (
        |  SELECT * FROM selu${k - 1} UNION ALL SELECT * FROM sel$k
        |)""".stripMargin
    }.mkString(", ")
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      |  WHERE vec_id % 50 = 0
      |), cand AS (
      |  SELECT query_id, vec_id, rel, embedding FROM (
      |    SELECT query_id, e.vec_id, ${duckCosOf("q.qv", "e.embedding")} AS rel,
      |      e.embedding,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY ${duckCosOf("q.qv", "e.embedding")} DESC, e.vec_id) AS crank
      |    FROM embeddings e, q WHERE e.vec_id <> q.query_id)
      |  WHERE crank <= 20
      |), pair AS (
      |  SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
      |    ${duckCosOf("a.embedding", "b.embedding")} AS sim
      |  FROM cand a JOIN cand b ON a.query_id = b.query_id
      |    AND a.vec_id <> b.vec_id
      |), selu1 AS (
      |  SELECT query_id, vec_id, 1 AS pick FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY rel DESC, vec_id) AS rn
      |    FROM cand) WHERE rn = 1
      |), $steps
      |SELECT query_id, pick, vec_id AS picked_id
      |FROM selu5 ORDER BY query_id, pick""".stripMargin
  }

  // s29 — the ANN RECALL MATRIX: corpus-level recall@5 of three gated
  // index layouts (s02 hyperplane-LSH, s03 IVF nprobe=1, s27 binary
  // signs) against s01's exact top-5 in ONE table — the benchmark
  // report a vector-infra team regenerates whenever the corpus or a
  // quantizer changes, and the s19 per-query evaluation aggregated to
  // the fleet view. Engine and oracle both COMPOSE the already-gated
  // definitions (the DataFrames and oracle SQL of s01/s02/s03/s27
  // verbatim), so this gate can only break if the composition itself
  // does. Truth is localCheckpoint'd once; each method row is a
  // (query_id, neighbor_id) semi-join + global count — nothing new
  // moves at scale beyond the three candidate pipelines themselves.
  def s29RecallMatrix(spark: SparkSession, dir: String): DataFrame = {
    val truth = s01AnnBruteForce(spark, dir).filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    def row(method: String, approx: DataFrame): DataFrame = {
      val h = truth.join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).agg(count(lit(1)).as("n_hits"))
      truth.agg(countDistinct(col("query_id")).as("n_queries"))
        .crossJoin(h)
        .select(lit(method).as("method"), col("n_queries"), col("n_hits"),
          // NULLIF: zero queries (empty corpus) → undefined recall, the
          // shared cross-engine null convention (q41's ANSI /0 lesson).
          (col("n_hits").cast("double")
            / nullif(col("n_queries").cast("double") * 5.0, lit(0.0))).as("recall5"))
    }
    row("a_lsh", s02AnnLsh(spark, dir))
      .unionByName(row("b_ivf", s03AnnIvf(spark, dir)))
      .unionByName(row("c_binary", s27AnnBinary(spark, dir)))
      .orderBy("method")
  }

  val s29Oracle: String = {
    def m(method: String, sql: String): String =
      s"""SELECT '$method' AS method,
        |  (SELECT COUNT(DISTINCT query_id) FROM truth) AS n_queries,
        |  (SELECT COUNT(*) FROM truth t
        |   JOIN (SELECT query_id, neighbor_id FROM ($sql)) a
        |     ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin
    s"""WITH truth AS (
      |  SELECT query_id, neighbor_id FROM ($s01Oracle) WHERE rank <= 5
      |)
      |SELECT method, n_queries, n_hits,
      |  CAST(n_hits AS DOUBLE) / NULLIF(CAST(n_queries AS DOUBLE) * 5.0, 0) AS recall5
      |FROM (
      |${m("a_lsh", s02Oracle)}
      |UNION ALL
      |${m("b_ivf", s03Oracle)}
      |UNION ALL
      |${m("c_binary", s27Oracle)}
      |)
      |ORDER BY method""".stripMargin
  }

  // s30 — SHARD-PARALLEL SEARCH MERGE: the distributed-serving layout —
  // the corpus split over 4 shards (vec_id mod 4, the id-hash sharding
  // a fleet of index servers uses), exact top-5 PER SHARD, then a
  // global merge of the 20 shard survivors. Sharing s01's oracle IS
  // the theorem being gated: per-shard top-k ⊇ the global top-k's
  // members in that shard, so merge-of-shard-top-k == direct top-k,
  // exactly — the property that makes scatter-gather serving correct.
  // A merge that takes shard-rank instead of score, or drops a shard,
  // fails the gate. Plan: the shard id rides the same scan (no extra
  // shuffle); the merge window sees ≤ 20 rows/query.
  def s30ShardedSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wS = Window.partitionBy("query_id", "shard")
      .orderBy(col("cos").desc, col("vec_id"))
    val perShard = emb.withColumn("shard", pmod(col("vec_id"), lit(4)))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("srank", row_number().over(wS)).filter(col("srank") <= 5)
      .select("query_id", "vec_id", "cos")
    val wG = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    perShard.withColumn("rank", row_number().over(wG).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** s30 shares s01's oracle restricted to the merge depth — see the
    * scatter-gather theorem in the s30 doc comment. */
  val s30Oracle: String =
    s"""SELECT query_id, rank, neighbor_id FROM ($s01Oracle)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // s31 — CENTROID DRIFT monitor: the index-staleness metric a vector
  // platform watches to decide when to RETRAIN the coarse quantizer —
  // per-label L2 distance between centroids trained on the day-1 half
  // (vec_id parity, cdc20's split discipline) and on the full corpus,
  // floor-scaled to integer micros for the exact gate. Both centroid
  // builds are the engine's bounded deterministic fold
  // (buildCentroids); the distance is one zip-fold in doubles — the
  // same ascending-fold contract every cosine in this file shares.
  // Plan: two bounded centroid builds (broadcast-sized outputs) and a
  // |labels|-row join — nothing corpus-sized moves.
  def s31CentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cA = ivf(emb.filter(col("vec_id") % 2 === 0)).centroids
      .select(col("clabel"), col("cf").as("cfa"))
    val cB = ivf(emb).centroids
      .select(col("clabel"), col("cf").as("cfb"))
    val counts = emb.groupBy(col("label").as("clabel"))
      .agg(count(lit(1)).as("n_full"),
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_half"))
    cA.join(cB, Seq("clabel")).join(counts, Seq("clabel"))
      .withColumn("drift_micro", floor(expr(
        """sqrt(aggregate(zip_with(cfa, cfb,
          |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
          |          * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
          |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)) * 1000000""".stripMargin))
        .cast("long"))
      .select("clabel", "n_half", "n_full", "drift_micro")
      .orderBy("clabel")
  }

  val s31Oracle: String =
    s"""WITH half AS (
      |  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 2 = 0
      |), ${duckCentroidCtes(64, src = "half", sfx = "_a")},
      |${duckCentroidCtes(64, sfx = "_b")},
      |counts AS (
      |  SELECT label AS clabel, COUNT(*) AS n_full,
      |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_half
      |  FROM embeddings GROUP BY label
      |)
      |SELECT a.clabel, c.n_half, c.n_full,
      |  CAST(floor(sqrt(list_sum(list_transform(list_zip(a.cf, b.cf),
      |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))) * 1000000) AS BIGINT) AS drift_micro
      |FROM cent_a a JOIN cent_b b ON a.clabel = b.clabel
      |JOIN counts c ON c.clabel = a.clabel
      |ORDER BY a.clabel""".stripMargin

  // s32 — DISTRIBUTED PCA TOP COMPONENT by power iteration: 3 rounds
  // of v ← normalize(Σᵢ xᵢ·(xᵢ·v)) over the corpus — the dominant
  // direction an embedding-quality audit reads (a collapsing encoder
  // shows one direction absorbing the variance), and the projection
  // axis cheap whitening/rank-reduction uses. The distributed float
  // hazard — Σᵢ xᵢwᵢ has no canonical order — is closed by the SAME
  // bounded two-level ordered fold buildCentroids uses (chunk by
  // vec_id, ascending-id level-1 kernel fold, ascending-chunk level-2
  // fold): the sum is deterministic at any parallelism. Between
  // rounds the 64-dim accumulator COLLECTS (one guarded row — the s09
  // materialization discipline) and re-lifts as a literal, so plan
  // depth is constant and the corpus scans once per round; the driver
  // normalization is the same ascending fold + IEEE sqrt the oracle's
  // list_sum replays. Output: per-label projection extremes onto the
  // converged axis, floor-scaled to integer micros. Uncentered
  // variant (the mean-removal composition is buildCentroids + one
  // VecSub — documented, not duplicated here). A zero-norm round
  // (empty corpus) keeps the previous axis — both engines then emit
  // zero rows, so the convention never reaches the gate.
  /** Dot of the `embedding` column with a literal axis — ascending zip
    * fold in doubles (the oracle's list_sum shape). */
  private[queries] def dotAxis(v: Seq[Double]): Column = {
    val vlit = array(v.map(lit): _*)
    aggregate(zip_with(col("embedding"), vlit,
      (x: Column, p: Column) => x.cast("double") * p),
      lit(0.0), (a: Column, b: Column) => a + b)
  }

  /** The 3-round power-iteration axis (see s32's doc comment) — shared
    * by s32 (projection card) and s33 (whitened residual search). Also
    * returns the spread, checkpointed embeddings frame the iterations
    * ran over, so a caller with a heavy per-row follow-up stage (s33's
    * residual encode + search) can ride the SAME N-way partitioning
    * instead of re-scanning the single-row-group file onto one task. */
  private[queries] def powerAxisEmb(
      spark: SparkSession, dir: String): (DataFrame, Seq[Double]) = {
    val dim = 64
    // the per-iteration scale step (a 64-dim dot + 64 mults per row) is a
    // narrow pipeline over the scan, so its parallelism is the input
    // split count — a single-row-group file caps it at ONE task (guide
    // §2.5: unsplittable input → repartition right after the read). One
    // deterministic spread, hoisted out of the three iterations; the
    // two-level fold's values are partition-independent (keyed chunking +
    // sorted collect), so v is bit-identical.
    val emb = Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .localCheckpoint()
    var v: Seq[Double] = Seq.fill(dim)(0.125) // exact 1/8 — unit start
    for (_ <- 1 to 3) {
      val scaled = emb
        .withColumn("w", dotAxis(v))
        .select(col("vec_id"),
          transform(col("embedding"),
            (x: Column) => x.cast("double") * col("w")).as("emb"))
      val level1 = scaled
        .groupBy((col("vec_id") % centroidChunks).as("_chunk"))
        .agg(array_sort(collect_list(struct(col("vec_id").as("id"),
          col("emb")))).as("vs"))
        .select(col("_chunk").as("chunk"),
          graft.functions.FoldFunctions.vecFieldSum(col("vs"), "emb", dim)
            .as("psum"))
      val sRows = level1
        .agg(array_sort(collect_list(struct(col("chunk"), col("psum"))))
          .as("ps"))
        .select(graft.functions.FoldFunctions.vecFieldSum(col("ps"), "psum", dim)
          .as("s"))
        .collect()
      require(sRows.length == 1, s"power-iteration fold returned ${sRows.length} rows")
      val s = sRows(0).getSeq[Double](0)
      val norm = math.sqrt(s.foldLeft(0.0)((a, x) => a + x * x))
      if (norm > 0) v = s.map(_ / norm)
    }
    (emb, v)
  }

  private[queries] def powerAxis(spark: SparkSession, dir: String): Seq[Double] =
    powerAxisEmb(spark, dir)._2

  def s32PowerIteration(spark: SparkSession, dir: String): DataFrame = {
    val v = powerAxis(spark, dir)
    Tables.embeddings(spark, dir).withColumn("p", dotAxis(v))
      .groupBy(col("label").as("clabel"))
      .agg(count(lit(1)).as("n"),
        floor(min(col("p")) * 1000000).cast("long").as("proj_min_micro"),
        floor(max(col("p")) * 1000000).cast("long").as("proj_max_micro"))
      .orderBy("clabel")
  }

  /** v0..v3 power-iteration CTE chain — shared by s32 and s33. */
  private[queries] val duckPowerCtes: String = {
    def round(k: Int): String =
      s"""w$k AS (
        |  SELECT e.vec_id,
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE) *
        |      list_sum(list_transform(list_zip(e.embedding, v.v),
        |        z -> CAST(z[1] AS DOUBLE) * z[2]))) AS emb
        |  FROM embeddings e, v${k - 1} v
        |), cp$k AS (
        |  SELECT vec_id % $centroidChunks AS chunk,
        |    list(struct_pack(id := vec_id, emb := emb) ORDER BY vec_id) AS vs
        |  FROM w$k GROUP BY vec_id % $centroidChunks
        |), ps$k AS (
        |  SELECT chunk, list_transform(range(1, 65),
        |    d -> list_sum(list_transform(vs, t -> t.emb[d]))) AS psum
        |  FROM cp$k
        |), s$k AS (
        |  SELECT list_transform(range(1, 65),
        |    d -> list_sum(list_transform(ps, p -> p.psum[d]))) AS s
        |  FROM (SELECT list(struct_pack(chunk := chunk, psum := psum)
        |                    ORDER BY chunk) AS ps FROM ps$k)
        |), v$k AS (
        |  SELECT list_transform(s,
        |    x -> x / sqrt(list_sum(list_transform(s, y -> y * y)))) AS v
        |  FROM s$k
        |)""".stripMargin
    s"""v0 AS (
      |  SELECT list_transform(range(1, 65), i -> CAST(0.125 AS DOUBLE)) AS v
      |), ${round(1)}, ${round(2)}, ${round(3)}""".stripMargin
  }

  val s32Oracle: String =
    s"""WITH $duckPowerCtes,
      |proj AS (
      |  SELECT e.label AS clabel,
      |    list_sum(list_transform(list_zip(e.embedding, v.v),
      |      z -> CAST(z[1] AS DOUBLE) * z[2])) AS p
      |  FROM embeddings e, v3 v
      |)
      |SELECT clabel, COUNT(*) AS n,
      |  CAST(floor(MIN(p) * 1000000) AS BIGINT) AS proj_min_micro,
      |  CAST(floor(MAX(p) * 1000000) AS BIGINT) AS proj_max_micro
      |FROM proj GROUP BY clabel ORDER BY clabel""".stripMargin

  // s33 — PCA-WHITENED residual search: project OUT the dominant
  // direction (s32's converged axis) and search what remains —
  // r = x − (x·v)v per vector, top-3 cosine over residuals. The
  // anisotropy fix retrieval stacks apply when one direction (length,
  // frequency, layout) swamps cosine and every neighbor list collapses
  // onto it. The residual rounds to FLOAT per dimension through one
  // double-arithmetic dag (subtract after the w·v[d] product, then one
  // cast) so both engines hold identical bits; the axis enters the
  // plan as a literal (constant depth — the s32 discipline), and the
  // search is s01's broadcast-query single-scan shape over residuals.
  def s33PcaResidualSearch(spark: SparkSession, dir: String): DataFrame = {
    // the residual encode + broadcast-query search is the heaviest
    // per-row stage in the s3x family (|corpus| × |queries| cosines) and
    // it used to ride a fresh one-task scan (guide §2.5: a single
    // row group caps a narrow pipeline at ONE task no matter what
    // minPartitionNum asks). Riding powerAxis's already-spread,
    // checkpointed frame gives the probe side defaultParallelism tasks
    // AND drops the second scan; residuals/cosines are row-wise and the
    // rank window re-shuffles by query_id, so values are identical.
    val (emb, v) = powerAxisEmb(spark, dir)
    val vlit = array(v.map(lit): _*)
    // residual norms hoisted out of the pair loop (DotProduct scaladoc:
    // bit-identical factored combine for equal-length arrays — residuals
    // keep the embeddings' fixed dim by construction)
    import graft.functions.VectorFunctions.{cosineFromParts, dotProduct, sumSquares}
    val res = emb.withColumn("w", dotAxis(v))
      .select(col("vec_id"),
        zip_with(col("embedding"), vlit,
          (x: Column, p: Column) =>
            (x.cast("double") - col("w") * p).cast("float")).as("r"))
      .withColumn("_rn2", sumSquares(col("r")))
    val q = res.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("r").as("qr"),
        col("_rn2").as("_qn2"))
    val wE = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    res.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineFromParts(
        dotProduct(col("qr"), col("r")), col("_qn2"), col("_rn2")))
      .withColumn("rank", row_number().over(wE).cast("int"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  val s33Oracle: String =
    s"""WITH $duckPowerCtes,
      |rw AS (
      |  SELECT e.vec_id, e.embedding, v.v,
      |    list_sum(list_transform(list_zip(e.embedding, v.v),
      |      z -> CAST(z[1] AS DOUBLE) * z[2])) AS w
      |  FROM embeddings e, v3 v
      |), res AS (
      |  SELECT vec_id, list_transform(range(1, 65),
      |    d -> CAST(CAST(embedding[d] AS DOUBLE) - w * v[d] AS FLOAT)) AS r
      |  FROM rw
      |), q AS (
      |  SELECT vec_id AS query_id, r AS qr FROM res WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, c.vec_id, ${duckCosOf("q.qr", "c.r")} AS cos
      |  FROM res c, q WHERE c.vec_id <> q.query_id
      |)
      |SELECT query_id, rank, neighbor_id FROM (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  // s37 — HYBRID SEARCH with Reciprocal Rank Fusion (the production
  // retrieval composition: BM25-family lexical + dense vector, fused by
  // RRF — what every two-tower search deployment actually serves):
  // lexical arm = d23's trigram-tf sparse cosine restricted to the query
  // entities (posting-list pair generation, integer-ppm scores, top-10
  // per query); vector arm = s01's broadcast-query cosine top-10 over
  // the same entity ids (the testdata convention doc_id == vec_id, as
  // m06's cross-modal bridge established); fusion = the standard
  // RRF k=60, kept exact as 10⁶ div (60 + rank) per arm — candidates
  // outside an arm's top-10 contribute 0, the standard top-k RRF. The
  // FULL OUTER candidate union is the interaction the single-arm gates
  // can't see: a fused rank moves when EITHER arm's tie-break moves.
  // Plan: both arms are their gated shapes; the fusion is one
  // (query, cand)-keyed full-outer join + a per-query top-5 window.
  def s37HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    // lexical arm — d23's machinery, unthresholded, directed from queries
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(tk) - 2), i -> concat_ws(' ',
          |  element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))""".stripMargin))
        .as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("int").as("tf"))
    // DIRECTED expansion: the arm serves a ~2% query batch, so the pair
    // generation must be priced per QUERY, not per corpus — instead of
    // PostingPairs over every kept posting list (all corpus×corpus pairs,
    // 98% discarded by the query filter), the query docs' postings join
    // the corpus postings on the term. The df cap still applies (kept
    // terms pre-counted + semi-joined, no collect buffer at all in this
    // arm), and the dot aggregation's input mass is |query postings| ×
    // avg posting length — the query batch's cost, not the corpus's.
    val kept = tf.groupBy("term").agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt").between(2, 100))
      .select("term")
    val ktf = tf.join(kept, Seq("term"), "left_semi").localCheckpoint()
    val n2 = ktf
      .groupBy("doc_id")
      .agg(sum(col("tf").cast("long") * col("tf")).as("n2"))
    val qtf = ktf.filter(col("doc_id") % 50 === 0)
      .select(col("term"), col("doc_id").as("query_id"), col("tf").as("qtf"))
    val directed = qtf
      .join(ktf.select(col("term"), col("doc_id").as("cand"), col("tf").as("ctf")),
        Seq("term"))
      .filter(col("query_id") =!= col("cand"))
      .groupBy("query_id", "cand")
      .agg(sum(col("qtf").cast("long") * col("ctf")).as("dot"))
      .join(n2.select(col("doc_id").as("query_id"), col("n2").as("n2_q")),
        Seq("query_id"))
      .join(n2.select(col("doc_id").as("cand"), col("n2").as("n2_c")), Seq("cand"))
      .withColumn("simsq_ppm", expr("(dot * dot * 1000000) div (n2_q * n2_c)"))
      .select("query_id", "cand", "simsq_ppm")
    val wL = Window.partitionBy("query_id")
      .orderBy(col("simsq_ppm").desc, col("cand"))
    val lex = directed.withColumn("r_lex", row_number().over(wL))
      .filter(col("r_lex") <= 10)
      .select("query_id", "cand", "r_lex")
    // vector arm — s01's gated shape at k = 10
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val vec = graft.ops.Similarity.cosineTopK(emb, q, 10)
      .select(col("query_id"), col("neighbor_id").as("cand"),
        col("rank").as("r_vec"))
    // RRF fusion
    val fused = lex.join(vec, Seq("query_id", "cand"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000 div (60 + r_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + r_vec)"), lit(0L)))
    val wF = Window.partitionBy("query_id").orderBy(col("rrf_ppm").desc, col("cand"))
    fused.withColumn("rank", row_number().over(wF).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand").as("neighbor_id"),
        col("rrf_ppm"),
        coalesce(col("r_lex"), lit(-1)).cast("int").as("r_lex"),
        coalesce(col("r_vec"), lit(-1)).cast("int").as("r_vec"))
      .orderBy("query_id", "rank")
  }

  val s37Oracle: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), tf AS MATERIALIZED (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS term
      |    FROM toks WHERE len(tk) >= 3)
      |  GROUP BY doc_id, term
      |), kept AS (
      |  SELECT term FROM tf GROUP BY term HAVING COUNT(*) BETWEEN 2 AND 100
      |), ktf AS MATERIALIZED (
      |  SELECT t.doc_id, t.term, t.tf FROM tf t JOIN kept k ON k.term = t.term
      |), n2 AS (
      |  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM ktf GROUP BY doc_id
      |), dots AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      |  FROM ktf a JOIN ktf b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), sim AS MATERIALIZED (
      |  SELECT doc_a, doc_b,
      |    CAST((dot * dot * 1000000) // (na.n2 * nb.n2) AS BIGINT) AS simsq_ppm
      |  FROM dots
      |  JOIN n2 na ON na.doc_id = doc_a
      |  JOIN n2 nb ON nb.doc_id = doc_b
      |), lex AS (
      |  SELECT query_id, cand, r_lex FROM (
      |    SELECT query_id, cand,
      |      CAST(row_number() OVER (PARTITION BY query_id
      |        ORDER BY simsq_ppm DESC, cand) AS INT) AS r_lex
      |    FROM (
      |      SELECT doc_a AS query_id, doc_b AS cand, simsq_ppm FROM sim
      |      UNION ALL
      |      SELECT doc_b, doc_a, simsq_ppm FROM sim)
      |    WHERE query_id % 50 = 0)
      |  WHERE r_lex <= 10
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      |  WHERE vec_id % 50 = 0
      |), vec AS (
      |  SELECT query_id, cand, r_vec FROM (
      |    SELECT query_id, vec_id AS cand,
      |      CAST(row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, vec_id) AS INT) AS r_vec
      |    FROM (
      |      SELECT query_id, vec_id, $duckCos AS cos
      |      FROM embeddings, q WHERE vec_id <> query_id))
      |  WHERE r_vec <= 10
      |), fused AS (
      |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
      |    COALESCE(l.cand, v.cand) AS cand, l.r_lex, v.r_vec,
      |    CAST(COALESCE(1000000 // (60 + l.r_lex), 0)
      |      + COALESCE(1000000 // (60 + v.r_vec), 0) AS BIGINT) AS rrf_ppm
      |  FROM lex l FULL JOIN vec v
      |    ON l.query_id = v.query_id AND l.cand = v.cand
      |)
      |SELECT query_id, rank, neighbor_id, rrf_ppm,
      |  CAST(COALESCE(r_lex, -1) AS INT) AS r_lex,
      |  CAST(COALESCE(r_vec, -1) AS INT) AS r_vec
      |FROM (
      |  SELECT query_id, cand AS neighbor_id, rrf_ppm, r_lex, r_vec,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_ppm DESC, cand) AS INT) AS rank
      |  FROM fused)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // s47 — MATRYOSHKA TRUNCATION RECALL (Kusupati et al. 2022): MRL-style
  // deployments serve the PREFIX of an embedding (first 16/32 of 64
  // dims) to cut index bytes and distance FLOPs 2–4×, betting that
  // prefix ordering approximates full ordering. s47 measures that bet
  // the way s19/s29/s38 measure theirs — exact top-3 under each prefix
  // length vs exact top-3 under the full vector, fleet recall in ppm —
  // with dim = 64 riding along as the must-be-exactly-1e6 control row.
  // The slice is `slice(embedding, 1, d)` on BOTH sides, so the kernel's
  // ascending-index cosine fold is unchanged and every truncated cosine
  // stays bit-identical cross-engine (the s01 float discipline survives
  // truncation because truncation preserves fold order). Queries are
  // s01's 1/50 id slice; the cost is the three brute-force scans (the
  // dim-64 truth scan runs once and reuses as its own control arm) —
  // this is the calibration table a team runs ONCE per model to pick a
  // serving dim, not a serving path (s03/s44 are the serving paths).
  def s47Matryoshka(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    def topkAt(d: Int): DataFrame = {
      val c = emb.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding"))
      val q = c.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      graft.ops.Similarity.cosineTopK(c, q, 3)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("dim", lit(d.toLong))
    }
    val truth = topkAt(64).drop("dim").localCheckpoint(true)
    val ests = Seq(16, 32).map(topkAt).reduce(_.unionByName(_))
      .unionByName(truth.withColumn("dim", lit(64L)))
    val nq = emb.filter(col("vec_id") % 50 === 0)
      .agg(count(lit(1)).as("n_queries"))
    val hits = ests.join(truth, Seq("query_id", "neighbor_id"))
      .groupBy("dim").agg(count(lit(1)).as("n_hits"))
    // literal dim spine: a prefix length with ZERO overlap must still
    // report its (honest) 0-recall row
    import spark.implicits._
    Seq(16L, 32L, 64L).toDF("dim")
      .join(hits, Seq("dim"), "left")
      .crossJoin(broadcast(nq))
      .select(col("dim"), col("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("coalesce(n_hits, 0L) * 1000000L" +
          " div greatest(3 * n_queries, 1L)").as("recall_ppm"))
      .orderBy("dim")
  }

  val s47Oracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      |  WHERE vec_id % 50 = 0
      |), dims AS (SELECT unnest([16, 32, 64]) AS dim),
      |scored AS (
      |  SELECT d.dim, q.query_id, e.vec_id,
      |    list_sum(list_transform(list_zip(q.qv[1:d.dim], e.embedding[1:d.dim]),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |    / sqrt(list_sum(list_transform(q.qv[1:d.dim],
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |      * list_sum(list_transform(e.embedding[1:d.dim],
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
      |  FROM embeddings e, q, dims d WHERE e.vec_id <> q.query_id
      |), top AS (
      |  SELECT dim, query_id, vec_id AS neighbor_id FROM (
      |    SELECT dim, query_id, vec_id,
      |      row_number() OVER (PARTITION BY dim, query_id
      |                         ORDER BY cos DESC, vec_id) AS rank
      |    FROM scored)
      |  WHERE rank <= 3
      |), truth AS (
      |  SELECT query_id, neighbor_id FROM top WHERE dim = 64
      |), hits AS (
      |  SELECT t.dim, COUNT(*) AS n_hits
      |  FROM top t JOIN truth u
      |    ON t.query_id = u.query_id AND t.neighbor_id = u.neighbor_id
      |  GROUP BY t.dim
      |), nq AS (SELECT COUNT(*) AS n_queries FROM q)
      |SELECT CAST(d.dim AS BIGINT) AS dim, nq.n_queries,
      |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(COALESCE(h.n_hits, 0) * 1000000
      |    // greatest(3 * nq.n_queries, 1) AS BIGINT) AS recall_ppm
      |FROM dims d LEFT JOIN hits h ON h.dim = d.dim
      |CROSS JOIN nq ORDER BY d.dim""".stripMargin

  // s48 — HARD-NEGATIVE MINING (the contrastive-training data step every
  // embedding-model pipeline runs — SimCSE/SBERT's triplet construction):
  // per anchor query, the exact nearest SAME-label neighbor (the
  // positive) and the exact nearest DIFFERENT-label neighbor (the hard
  // negative — the pair that actually moves a contrastive loss), plus
  // the margin between them. A small margin flags anchors whose labels
  // the embedding can't yet separate — the rows a curriculum samples
  // first. Exactness: cosines floored to micros through the shared
  // double dag (the s32/s22 discipline); selection ties break on
  // vec_id. Plan: the s01 broadcast-query single corpus scan, one
  // window over (query, same-label) — never all-pairs, anchors
  // broadcast.
  def s48HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv"))
    val wS = Window.partitionBy("query_id", "same")
      .orderBy(col("cos").desc, col("vec_id"))
    val top = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("same", col("label") === col("qlabel"))
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rk", row_number().over(wS))
      .filter(col("rk") === 1)
      .withColumn("cos_micro", floor(col("cos") * 1000000d).cast("long"))
    top.groupBy("query_id")
      .agg(max(when(col("same"), col("vec_id"))).as("pos_id"),
        max(when(col("same"), col("cos_micro"))).as("pos_cos_micro"),
        max(when(!col("same"), col("vec_id"))).as("neg_id"),
        max(when(!col("same"), col("cos_micro"))).as("neg_cos_micro"))
      .withColumn("margin_micro", col("pos_cos_micro") - col("neg_cos_micro"))
      .orderBy("query_id")
  }

  val s48Oracle: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, e.vec_id, e.label = q.qlabel AS same,
      |    ${duckCosOf("q.qv", "e.embedding")} AS cos
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
      |), top AS (
      |  SELECT query_id, vec_id, same,
      |    CAST(floor(cos * 1000000) AS BIGINT) AS cos_micro
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id, same
      |      ORDER BY cos DESC, vec_id) AS rk
      |    FROM scored)
      |  WHERE rk = 1
      |)
      |SELECT query_id,
      |  MAX(CASE WHEN same THEN vec_id END) AS pos_id,
      |  MAX(CASE WHEN same THEN cos_micro END) AS pos_cos_micro,
      |  MAX(CASE WHEN NOT same THEN vec_id END) AS neg_id,
      |  MAX(CASE WHEN NOT same THEN cos_micro END) AS neg_cos_micro,
      |  MAX(CASE WHEN same THEN cos_micro END)
      |    - MAX(CASE WHEN NOT same THEN cos_micro END) AS margin_micro
      |FROM top GROUP BY query_id ORDER BY query_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("d05_embed_neardup", d05EmbedNearDup, d05Oracle),
    Gate("d07_embed_neardup_lsh", d07EmbedNearDupLsh, d07Oracle),
    Gate("d14_semdedup", d14SemDedup, d14Oracle),
    Gate("d16_lsh_recall", d16LshRecall, d16Oracle),
    Gate("s01_ann_bruteforce", s01AnnBruteForce, s01Oracle),
    Gate("s02_ann_lsh", s02AnnLsh, s02Oracle),
    Gate("s03_ann_ivf", s03AnnIvf, s03Oracle),
    Gate("s04_ann_ivf_nprobe", s04AnnIvfProbe, s04Oracle),
    Gate("s07_kmeans", s07Kmeans, s07Oracle),
    Gate("s09_kmeans_multi", s09KmeansMulti, s09Oracle),
    Gate("s17_ann_filtered", s17AnnFiltered, s17Oracle),
    Gate("s18_cluster_purity", s18ClusterPurity, s18Oracle),
    Gate("s19_ann_recall", s19AnnRecall, s19Oracle),
    Gate("s21_ann_range", s21AnnRange, s21Oracle),
    Gate("s23_ivf_stats", s23IvfStats, s23Oracle),
    Gate("s24_cluster_prototypes", s24ClusterPrototypes, s24Oracle),
    Gate("s27_ann_binary", s27AnnBinary, s27Oracle),
    Gate("s28_mmr_diversify", s28MmrDiversify, s28Oracle),
    Gate("s29_recall_matrix", s29RecallMatrix, s29Oracle),
    Gate("s30_sharded_search", s30ShardedSearch, s30Oracle),
    Gate("s31_centroid_drift", s31CentroidDrift, s31Oracle),
    Gate("s32_power_iteration", s32PowerIteration, s32Oracle),
    Gate("s33_pca_residual_search", s33PcaResidualSearch, s33Oracle),
    Gate("s37_hybrid_rrf", s37HybridRrf, s37Oracle),
    Gate("s45_mutual_nn", s45MutualNn, s45Oracle),
    Gate("s47_matryoshka", s47Matryoshka, s47Oracle),
    Gate("s48_hard_negatives", s48HardNegatives, s48Oracle),
  )
}
