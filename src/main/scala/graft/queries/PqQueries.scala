package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.cosineSim
import SimilarityQueries.{duckCentroidCtes, duckCosOf, duckRankedCtes, ivf, dotAxis, powerAxis, duckPowerCtes}

/** The QUANTIZED-INDEX matrix (split from SimilarityQueries in r12 —
  * same code, same oracles): PQ (s05), IVF+PQ (s06/s10), residual
  * IVF+PQ (s08/s11/s16), SQ8 flat/IVF/residual (s14/s15/s39), the
  * persisted / frozen-codebook-append / tombstone legs (s12/s13/s20),
  * quantization distortion diagnostics (s22/s35), and the production
  * search configuration (s26). The shared ADC search pipeline
  * (pqSearch) and its oracle assembly (duckPqSearchSql) live here;
  * coarse-quantizer helpers come from SimilarityQueries/ops.Similarity.
  */
object PqQueries {
  // ------------------------------------------------------------- PQ (s05/s06)

  /** Shared s05/s06 search pipeline: per-query ADC LUT on the BROADCAST
    * side ([[graft.functions.PqLut]] — k×m subspace dots computed once
    * per query), candidates scored with m array reads each
    * ([[graft.functions.PqLutScore]]), cut to the top `candK` by
    * (approx desc, vec_id), then re-ranked by exact cosine. The candidate
    * window carries ONLY (query_id, vec_id, approx) — the query vector
    * never rides the big shuffle, preserving the ~64-byte-row movement
    * the PQ layout exists for; the exact vectors come back via broadcast
    * equi-joins that leave the corpus in place. */
  private[queries] def pqSearch(emb: DataFrame, encoded: DataFrame, q: DataFrame,
      codebook: Seq[(Long, Seq[Float])], m: Int, candK: Int,
      joinCond: org.apache.spark.sql.Column,
      qExact: Option[DataFrame] = None,
      approxBoost: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import graft.functions.PqFunctions
    val ql = q.withColumn("lut", PqFunctions.pqLut(col("qv"), codebook, m))
    val wA = Window.partitionBy("query_id").orderBy(col("approx").desc, col("vec_id"))
    // approxBoost (s11): a probe-side double added to the ADC score —
    // the per-cluster dot(q, c) term of the residual MIPS decomposition,
    // required for cross-cluster comparability at nprobe > 1. Kept
    // conditional (not `+ lit(0.0)`) so single-probe siblings' doubles
    // stay byte-identical to their r8-gated values.
    val lutScore = PqFunctions.pqLutScore(col("lut"), col("codes"), codebook, m)
    val cand = encoded.join(broadcast(ql), joinCond)
      .withColumn("approx", approxBoost.fold(lutScore)(b => lutScore + b))
      .select("query_id", "vec_id", "approx")
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= candK)
      .select("query_id", "vec_id")
    val wE = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    // multi-probe (s10): `q` carries one row per (query, probed cluster),
    // so the exact re-rank must join a ONE-row-per-query set (`qExact`) or
    // every candidate would duplicate through the query join
    emb.join(broadcast(cand), "vec_id")
      .join(broadcast(qExact.getOrElse(q).select("query_id", "qv")), "query_id")
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  // s05 — product-quantization ANN (the compression scale path): the
  // corpus carries only m=8 codeword labels per row (64 bytes instead of
  // a 256-byte float vector in every scan/shuffle at 100 TB); queries
  // rank by the ADC LUT score, keep the top 20 candidates, then re-rank
  // exactly by cosine over just those candidates. The codebook is the
  // deterministic bounded-fold centroid table (one codeword per label),
  // collected driver-side under a loud broadcast-size guard — the
  // HyperplaneBucket plane-matrix pattern with data-derived values.
  // Encoding is a NARROW map (codebook inside the expression): no
  // crossJoin, no shuffle.
  def s05AnnPq(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val encoded = emb.select(col("vec_id"),
      PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"))
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    pqSearch(emb, encoded, q, kit.codebook, m, candK = 20,
      joinCond = col("vec_id") =!= col("query_id"))
  }

  // s06 — IVF+PQ, the production ANN layout (coarse quantizer routes
  // each query to its cluster, PQ codes stand in for the vectors inside
  // it): the candidate join is an EQUI-join on the cluster id — the IVF
  // shuffle key — and the probe side carries 8 codeword labels per row.
  // This variant encodes raw vectors (not residuals) so the codebook
  // stays the shared bounded-fold centroid table both engines already
  // hold bit-identically.
  def s06AnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val encoded = assigned.select(col("vec_id"), col("cluster"),
      PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"))
    val q = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    pqSearch(emb, encoded, q, kit.codebook, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
  }

  // s10 — IVF+PQ at nprobe=2, the production recall/cost dial composed
  // with ADC scoring: each query probes its TWO nearest clusters (s04's
  // multi-probe mechanism) and the PQ approx ranking runs over the union
  // of both clusters' candidates. The candidate join stays a cluster-key
  // EQUI-join (the probe table just carries two rows per query); the
  // union needs no dedup because a corpus row has exactly one home
  // cluster. Codes are the s06 non-residual layout, so the ADC score is
  // cluster-independent and ranking across the union is well-defined —
  // at nprobe>1 the residual layout would need the per-cluster dot(q,c)
  // term added back (it is no longer constant per query), which is why
  // the multi-probe composition gates the non-residual variant.
  def s10AnnIvfPqProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val encoded = assigned.select(col("vec_id"), col("cluster"),
      PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"))
    val qRows = assigned.filter(col("vec_id") % 50 === 0)
    val probes = kit.probes(qRows.select("vec_id", "embedding"), 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    pqSearch(emb, encoded, probes, kit.codebook, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"),
      qExact = Some(qRows.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))))
  }

  val s10Oracle: String = duckPqSearchSql(8,
    s"""WITH ${duckCentroidCtes(64)},
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, qp AS (
      |  SELECT vec_id AS query_id, clabel AS qc
      |  FROM ranked WHERE vec_id % 50 = 0 AND rn <= 2
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv
      |  FROM assigned WHERE vec_id % 50 = 0
      |)""".stripMargin,
    appPreJoins = "  JOIN assigned a ON a.vec_id = co.vec_id\n",
    appPostJoins = "\n  JOIN qp ON qp.query_id = q0.query_id AND qp.qc = a.clabel")

  /** Shared s05/s06 oracle assembly — ONE definition of the PQ CTE text
    * (subspace dots, per-subspace argmax codes, LUT-sum approx, candidate
    * cut, exact re-rank), so a fold-order or tie-break fix cannot land in
    * one sibling and not the other. `prefixCtes` supplies everything up
    * to and including the `q` CTE; `appJoins` injects s06's
    * cluster-restriction joins ("" for s05). */
  private def duckPqSearchSql(m: Int, prefixCtes: String,
      appPreJoins: String, appPostJoins: String,
      corpusSrc: String = "embeddings", corpusVec: String = "embedding",
      centName: String = "cent", qVec: String = "qv",
      approxBoost: String = ""): String = {
    def subDot(a: String, b: String, s: Int) =
      s"list_sum(list_transform(range(1, 9), i -> CAST($a[${s * 8} + i] AS DOUBLE) * CAST($b[${s * 8} + i] AS DOUBLE)))"
    val qds = (0 until m).map(s => s"    ${subDot(s"q.$qVec", "c.cf", s)} AS d$s").mkString(",\n")
    val eds = (0 until m).map(s => s"    ${subDot(s"e.$corpusVec", "c.cf", s)} AS d$s").mkString(",\n")
    val rns = (0 until m).map(s =>
      s"    row_number() OVER (PARTITION BY vec_id ORDER BY d$s DESC, clabel) AS r$s").mkString(",\n")
    val codeCols = (0 until m).map(s =>
      s"    MAX(CASE WHEN r$s = 1 THEN clabel END) AS code$s").mkString(",\n")
    val codeJoins = (1 until m).map(s =>
      s"  JOIN qcd q$s ON q$s.clabel = co.code$s AND q$s.query_id = q0.query_id").mkString("\n")
    val approx = (0 until m).map(s => s"q$s.d$s").mkString(" + ")
    s"""$prefixCtes, qcd AS (
      |  SELECT q.query_id, c.clabel,
      |$qds
      |  FROM q CROSS JOIN $centName c
      |), ecd AS (
      |  SELECT e.vec_id, c.clabel,
      |$eds
      |  FROM $corpusSrc e CROSS JOIN $centName c
      |), er AS (
      |  SELECT vec_id, clabel,
      |$rns
      |  FROM ecd
      |), codes AS (
      |  SELECT vec_id,
      |$codeCols
      |  FROM er GROUP BY vec_id
      |), app AS (
      |  SELECT co.vec_id, q0.query_id, $approx$approxBoost AS approx
      |  FROM codes co
      |$appPreJoins  JOIN qcd q0 ON q0.clabel = co.code0
      |$codeJoins$appPostJoins
      |  WHERE co.vec_id <> q0.query_id
      |), cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, vec_id) AS arank
      |    FROM app)
      |  WHERE arank <= 20
      |), rr AS (
      |  SELECT c.query_id, e.vec_id, ${duckCosOf("q.qv", "e.embedding")} AS cos
      |  FROM cand c
      |  JOIN embeddings e ON e.vec_id = c.vec_id
      |  JOIN q ON q.query_id = c.query_id
      |)
      |SELECT query_id, rank, neighbor_id FROM (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM rr)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  }

  val s05Oracle: String = duckPqSearchSql(8,
    s"""WITH ${duckCentroidCtes(64)}, q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
      |)""".stripMargin,
    appPreJoins = "", appPostJoins = "")

  val s06Oracle: String = duckPqSearchSql(8,
    s"""WITH ${duckCentroidCtes(64)},
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, clabel AS qc
      |  FROM assigned WHERE vec_id % 50 = 0
      |)""".stripMargin,
    appPreJoins = "  JOIN assigned a ON a.vec_id = co.vec_id\n",
    appPostJoins = "\n  JOIN q qq ON qq.query_id = q0.query_id AND qq.qc = a.clabel")

  // s08 — residual IVF+PQ, the full FAISS-style layout: rows quantize to
  // their cluster and the PQ codebook is learned on the RESIDUALS
  // (emb − centroid — what remains after the coarse quantizer explains
  // the vector). Scoring uses the exact MIPS decomposition
  // dot(q, ê) = dot(q, c) + dot(q, r̂_e): the LUT is built from the FULL
  // query vector against the residual codewords, and at nprobe = 1 the
  // dropped dot(q, c) term is constant per query, so within-cluster
  // ranking is unchanged (building the LUT from the query residual
  // instead would subtract a per-candidate dot(c, r̂_e) and silently
  // degrade recall). Residuals are computed with the
  // double-subtract-then-round kernel (VecSubToFloat) so both engines
  // hold bit-identical residual floats; the residual codebook is the
  // bounded-fold mean of residuals per ORIGINAL label (per-cluster
  // residual means would be ~0 — useless codewords). The codebook
  // collect executes the bounded assign+residual lineage once at build
  // time (the CdcQueries-fixture pattern); the query-side branch prunes
  // to the ~2% query rows via filter pushdown.
  def s08AnnIvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    import graft.functions.VectorFunctions.vecSub
    val m = 8
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label", "embedding")
    val kit = ivf(emb)
    val assigned = kit.assign(emb)
    val withRes = assigned.join(broadcast(kit.centroids), col("cluster") === col("clabel"))
      .withColumn("res", vecSub(col("embedding"), col("cf")))
      .select("vec_id", "label", "cluster", "embedding", "res")
      // three actions consume this lineage (codebook fold, encode, the
      // query branch): materialize it once, bit-preserving (s16's pattern)
      .localCheckpoint()
    val resCodebook = ivf(withRes, embCol = "res").codebook
    val encoded = withRes.select(col("vec_id"), col("cluster"),
      PqFunctions.pqCodes(col("res"), resCodebook, m).as("codes"))
    val q = withRes.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    pqSearch(emb, encoded, q, resCodebook, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
  }

  /** The residual gates' (s08, s11, s16) shared oracle prefix: the `cent`
    * CTEs, each row's `r1` ranking and `a1` assignment, its `res` residual
    * against its assigned centroid (VecSubToFloat's double-subtract-then-
    * round) and the `centr` residual centroids over the original labels. */
  private def duckResidualCtes: String =
    s"""WITH ${duckCentroidCtes(64)},
      |${duckRankedCtes("r1", "a1", Seq("vec_id", "label", "embedding"))}, res AS (
      |  SELECT a.vec_id, a.label, a.clabel AS cluster, a.embedding,
      |    list_transform(range(1, 65), i -> CAST(CAST(a.embedding[i] AS DOUBLE) - CAST(c.cf[i] AS DOUBLE) AS FLOAT)) AS res
      |  FROM a1 a JOIN cent c ON c.clabel = a.clabel
      |), ${duckCentroidCtes(64, src = "res", sfx = "r", embCol = "res")}""".stripMargin

  val s08Oracle: String =
    duckPqSearchSql(8,
      s"""$duckResidualCtes, q AS (
        |  SELECT a.vec_id AS query_id, a.embedding AS qv, a.cluster AS qc
        |  FROM res a WHERE a.vec_id % 50 = 0
        |)""".stripMargin,
      appPreJoins = "  JOIN res a ON a.vec_id = co.vec_id\n",
      appPostJoins = "\n  JOIN q qq ON qq.query_id = q0.query_id AND qq.qc = a.cluster",
      corpusSrc = "res", corpusVec = "res", centName = "centr")

  /** Ascending-index dot product in doubles over two `array<float>`
    * columns — the exact Spark mirror of the oracle's
    * `list_sum(list_transform(list_zip(a, b), ...))` (same fold order,
    * float→double casts exact, so the doubles are bit-identical).
    * Interpreted HOF, used ONLY on broadcast-sized probe rows (the hot
    * path keeps the codegen'd kernels). */
  private def dotD(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  // s11 — residual IVF+PQ at nprobe=2: the COMPLETE production FAISS
  // search path (coarse quantizer + residual codes + multi-probe). At
  // nprobe > 1 the residual decomposition's dot(q, c) term is no longer
  // constant per query — each probed cluster contributes its own — so the
  // candidate score restores it explicitly:
  //   approx = dot(q, c_probe) + Σ_s LUT[q](code_s)   ≈ dot(q, ê)
  // (s08's comment documents exactly this requirement; s10 took the
  // non-residual escape hatch). The dot(q, c_probe) is computed ONCE per
  // (query, probe) on the broadcast side with the ascending double fold
  // both engines share; candidates still move only (query_id, vec_id,
  // approx) and the join stays a cluster-key equi-join.
  def s11AnnIvfPqResProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    import graft.functions.VectorFunctions.vecSub
    val m = 8
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label", "embedding")
    val kit = ivf(emb)
    val assigned = kit.assign(emb)
    val withRes = assigned.join(broadcast(kit.centroids), col("cluster") === col("clabel"))
      .withColumn("res", vecSub(col("embedding"), col("cf")))
      .select("vec_id", "label", "cluster", "embedding", "res")
      // three actions consume this lineage (codebook fold, encode, the
      // query branch): materialize it once, bit-preserving (s16's pattern)
      .localCheckpoint()
    val resCodebook = ivf(withRes, embCol = "res").codebook
    val encoded = withRes.select(col("vec_id"), col("cluster"),
      PqFunctions.pqCodes(col("res"), resCodebook, m).as("codes"))
    val qRows = withRes.filter(col("vec_id") % 50 === 0)
    val probes = kit.probes(qRows.select("vec_id", "embedding"), 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
      .join(broadcast(kit.centroids), col("qc") === col("clabel"))
      .withColumn("qcdot", dotD(col("qv"), col("cf")))
      .select("query_id", "qv", "qc", "qcdot")
    pqSearch(emb, encoded, probes, resCodebook, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"),
      qExact = Some(qRows.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))),
      approxBoost = Some(col("qcdot")))
  }

  val s11Oracle: String = {
    val dotQC =
      "list_sum(list_transform(list_zip(r.embedding, c.cf), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    duckPqSearchSql(8,
      s"""$duckResidualCtes, qp AS (
        |  SELECT r.vec_id AS query_id, r.clabel AS qc, $dotQC AS qcdot
        |  FROM r1 r JOIN cent c ON c.clabel = r.clabel
        |  WHERE r.vec_id % 50 = 0 AND r.rn <= 2
        |), q AS (
        |  SELECT a.vec_id AS query_id, a.embedding AS qv
        |  FROM res a WHERE a.vec_id % 50 = 0
        |)""".stripMargin,
      appPreJoins = "  JOIN res a ON a.vec_id = co.vec_id\n",
      appPostJoins = "\n  JOIN qp ON qp.query_id = q0.query_id AND qp.qc = a.cluster",
      corpusSrc = "res", corpusVec = "res", centName = "centr",
      approxBoost = " + qp.qcdot")
  }

  // s12 — PERSISTED IVF+PQ index: s06's layout written to disk and
  // searched from the read-back — the production lifecycle (an index is
  // built ONCE and searched by many query batches; every other s-query
  // rebuilds inline). The index is two parquet tables: codes partitioned
  // BY CLUSTER (the physical layout an IVF inverted list IS — a probe
  // reads only its cluster's directories at scale) and the broadcast-size
  // codebook. The search side re-derives everything from the PERSISTED
  // artifacts (centroids collected from the read-back codebook table, the
  // query's cluster re-assigned against them), so the gate pins the full
  // round-trip: float bits through parquet, the partition-column values,
  // and build/search consistency. Shares s06's oracle — a mismatch with a
  // green s06 isolates persistence.
  def s12AnnIvfPqPersisted(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    // CdcQueries' shared fixture-dir helper: deterministic per input dir
    // AND wipes stale contents — without the wipe, dynamic
    // partition-overwrite (spark.sql.sources.partitionOverwriteMode=
    // dynamic) would leave a previous dataset's cluster directories in
    // place and read them back as phantom index rows
    val root = graft.streaming.Drains.tmpFixtureDir("graft_s12_", dir)
    root.mkdirs()
    val emb = Tables.embeddings(spark, dir)
    // ---- index build (once) ----
    val kit = ivf(emb)
    val assigned = kit.assigned
    assigned.select(col("vec_id"), col("cluster"),
        PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(new java.io.File(root, "codes").getPath)
    graft.ops.Similarity.codebookDf(spark, kit.codebook)
      .write.mode("overwrite").parquet(new java.io.File(root, "codebook").getPath)
    // ---- search (from the persisted artifacts only) ----
    val centRead = spark.read.parquet(new java.io.File(root, "codebook").getPath)
    val cbRead = graft.ops.Similarity.collectCodebook(centRead)
    val encoded = spark.read.parquet(new java.io.File(root, "codes").getPath)
      // partition-column type inference reads small longs back as int
      .withColumn("cluster", col("cluster").cast("long"))
    val q = graft.ops.Similarity.assignToCentroids(
        emb.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding"),
        centRead, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    pqSearch(emb, encoded, q, cbRead, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
  }

  // s13 — incremental index append with a FROZEN codebook (FAISS add()
  // semantics, the rest of the persisted-index lifecycle): the coarse
  // quantizer + codebook are trained on the BASE corpus only (vec_id%10
  // != 0), the delta batch (vec_id%10 == 0) is assigned and encoded
  // against those FROZEN artifacts — never retrained — and search runs
  // over the union. This is how a production index absorbs a new data
  // drop: re-training would re-shuffle every inverted list; appending
  // encodes only the delta (a narrow map + one broadcast argmax over the
  // new rows). The oracle mirrors the train/append split exactly: cent
  // CTEs over the base subset, assignment and codes for ALL rows against
  // that cent — so the gate pins that the delta really was encoded with
  // the frozen codebook, not a retrained one.
  def s13AnnIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val kit = ivf(base)
    def encode(rows: DataFrame): DataFrame =
      kit.assign(rows.select("vec_id", "embedding"))
        .select(col("vec_id"), col("cluster"),
          PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"))
    // base index + appended delta, both against the frozen artifacts
    val encoded = encode(base).unionByName(encode(emb.filter(col("vec_id") % 10 === 0)))
    val q = kit.assign(emb.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    pqSearch(emb, encoded, q, kit.codebook, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
  }

  val s13Oracle: String = duckPqSearchSql(8,
    s"""WITH base AS (
      |  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 10 <> 0
      |), ${duckCentroidCtes(64, src = "base")},
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, clabel AS qc
      |  FROM assigned WHERE vec_id % 50 = 0
      |)""".stripMargin,
    appPreJoins = "  JOIN assigned a ON a.vec_id = co.vec_id\n",
    appPostJoins = "\n  JOIN q qq ON qq.query_id = q0.query_id AND qq.qc = a.clabel")

  // s14 — scalar-quantized (SQ8) flat ANN, the remaining classic FAISS
  // compression layout (PQ's codebook-free sibling): every dimension
  // quantizes independently to an 8-bit level against per-dimension
  // corpus [min,max] bounds, the approximate ranking scans RECONSTRUCTED
  // vectors (4× less memory traffic than raw floats at 100 TB), and the
  // top-20 re-rank exactly. Bounds are two 64-float aggregates (a 64-key
  // map-side-partial shuffle + guarded broadcast-size collect — no
  // training); encode/decode are narrow maps through the native
  // Sq8Codes/Sq8Decode kernels; the reconstructed-vector cosine reuses
  // the codegen'd CosineSimilarity. Every quantization op is a single
  // exactly-rounded IEEE double op, so codes and reconstructions are
  // bit-identical cross-engine.
  def s14AnnSq8(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sq8Functions
    val dim = 64
    val emb = Tables.embeddings(spark, dir)
    val bounds = emb
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("i").limit(dim + 1).collect()
    require(bounds.length == dim,
      s"expected $dim per-dimension bounds, got ${bounds.length}")
    val mins = bounds.map(_.getFloat(1)).toSeq
    val scales = bounds.map(r =>
      (r.getFloat(2).toDouble - r.getFloat(1).toDouble) / 255.0).toSeq
    val encoded = emb.select(col("vec_id"),
      Sq8Functions.sq8Codes(col("embedding"), mins, scales).as("codes"))
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wA = Window.partitionBy("query_id").orderBy(col("approx").desc, col("vec_id"))
    val cand = encoded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("approx",
        cosineSim(col("qv"), Sq8Functions.sq8Decode(col("codes"), mins, scales)))
      .select("query_id", "vec_id", "approx")
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= 20)
      .select("query_id", "vec_id")
    val wE = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(cand), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  val s14Oracle: String =
    s"""WITH bounds AS (
      |  SELECT i, MIN(e.embedding[i]) AS mn, MAX(e.embedding[i]) AS mx
      |  FROM embeddings e, range(1, 65) t(i) GROUP BY i
      |), b AS (
      |  SELECT list(CAST(mn AS FLOAT) ORDER BY i) AS mns,
      |    list((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) / 255.0 ORDER BY i) AS scs
      |  FROM bounds
      |), dec AS (
      |  SELECT e.vec_id,
      |    list_transform(range(1, 65), i ->
      |      CAST(CAST(b.mns[i] AS DOUBLE) +
      |        (CASE WHEN b.scs[i] = 0 OR isnan(e.embedding[i]) THEN 0
      |              ELSE CAST(LEAST(GREATEST(floor((CAST(e.embedding[i] AS DOUBLE) - CAST(b.mns[i] AS DOUBLE)) / b.scs[i]), 0), 255) AS BIGINT)
      |         END) * b.scs[i] AS FLOAT)) AS rec
      |  FROM embeddings e CROSS JOIN b
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, d.vec_id, ${duckCosOf("qv", "rec")} AS approx
      |  FROM dec d, q WHERE d.vec_id <> query_id
      |), cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, vec_id) AS arank
      |    FROM scored)
      |  WHERE arank <= 20
      |), rr AS (
      |  SELECT c.query_id, e.vec_id, ${duckCosOf("q.qv", "e.embedding")} AS cos
      |  FROM cand c
      |  JOIN embeddings e ON e.vec_id = c.vec_id
      |  JOIN q ON q.query_id = c.query_id
      |)
      |SELECT query_id, rank, neighbor_id FROM (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM rr)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // s15 — IVF+SQ8 (FAISS IVFSQ): the coarse quantizer routes each query
  // to its cluster and SQ8 levels stand in for the vectors inside it —
  // completing the quantization matrix the engine now spans (IVF ×
  // {flat s03, PQ s06, SQ8 here}). The candidate join stays the cluster
  // equi-join; the probe side carries 64 byte-levels per row; approx
  // ranks reconstructed vectors via the codegen'd cosine; exact re-rank
  // on the top 20. Bounds and centroids are both broadcast-sized
  // aggregates, encode is a narrow map — nothing new moves at scale.
  def s15AnnIvfSq8(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sq8Functions
    val dim = 64
    val emb = Tables.embeddings(spark, dir)
    val bounds = emb
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("i").limit(dim + 1).collect()
    require(bounds.length == dim,
      s"expected $dim per-dimension bounds, got ${bounds.length}")
    val mins = bounds.map(_.getFloat(1)).toSeq
    val scales = bounds.map(r =>
      (r.getFloat(2).toDouble - r.getFloat(1).toDouble) / 255.0).toSeq
    val assigned = ivf(emb, dim = dim).assigned
    val encoded = assigned.select(col("vec_id"), col("cluster"),
      Sq8Functions.sq8Codes(col("embedding"), mins, scales).as("codes"))
    val q = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    val wA = Window.partitionBy("query_id").orderBy(col("approx").desc, col("vec_id"))
    val cand = encoded.join(broadcast(q),
        col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
      .withColumn("approx",
        cosineSim(col("qv"), Sq8Functions.sq8Decode(col("codes"), mins, scales)))
      .select("query_id", "vec_id", "approx")
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= 20)
      .select("query_id", "vec_id")
    val wE = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(cand), "vec_id")
      .join(broadcast(q.select("query_id", "qv")), "query_id")
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  val s15Oracle: String =
    s"""WITH ${duckCentroidCtes(64)}, bounds AS (
      |  SELECT i, MIN(e.embedding[i]) AS mn, MAX(e.embedding[i]) AS mx
      |  FROM embeddings e, range(1, 65) t(i) GROUP BY i
      |), b AS (
      |  SELECT list(CAST(mn AS FLOAT) ORDER BY i) AS mns,
      |    list((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) / 255.0 ORDER BY i) AS scs
      |  FROM bounds
      |),
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, dec AS (
      |  SELECT a.vec_id, a.clabel,
      |    list_transform(range(1, 65), i ->
      |      CAST(CAST(b.mns[i] AS DOUBLE) +
      |        (CASE WHEN b.scs[i] = 0 OR isnan(a.embedding[i]) THEN 0
      |              ELSE CAST(LEAST(GREATEST(floor((CAST(a.embedding[i] AS DOUBLE) - CAST(b.mns[i] AS DOUBLE)) / b.scs[i]), 0), 255) AS BIGINT)
      |         END) * b.scs[i] AS FLOAT)) AS rec
      |  FROM assigned a CROSS JOIN b
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, clabel AS qc
      |  FROM assigned WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, d.vec_id, ${duckCosOf("qv", "rec")} AS approx
      |  FROM dec d JOIN q ON d.clabel = q.qc AND d.vec_id <> q.query_id
      |), cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, vec_id) AS arank
      |    FROM scored)
      |  WHERE arank <= 20
      |), rr AS (
      |  SELECT c.query_id, e.vec_id, ${duckCosOf("q.qv", "e.embedding")} AS cos
      |  FROM cand c
      |  JOIN embeddings e ON e.vec_id = c.vec_id
      |  JOIN q ON q.query_id = c.query_id
      |)
      |SELECT query_id, rank, neighbor_id FROM (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM rr)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // s16 — residual IVF+PQ with a k-means-TRAINED residual codebook: s08's
  // layout, but the residual codewords are refined by one Lloyd round
  // (assign each residual to its nearest label-mean codeword by cosine,
  // refold by assignment) instead of stopping at label means — FAISS's
  // actual train() for IndexIVFPQ runs k-means on residuals, and this is
  // that step under the gate (the refinement PLANS.md lists as the s08
  // residual). Everything around the codebook is s08 unchanged: encode is
  // a narrow map, LUT from the full query vector, nprobe = 1 so the
  // dropped dot(q, c) is constant per query. The refined codebook stays
  // ≤ #labels rows (a codeword losing every residual drops, s07's
  // documented semantics); kmeansCentroids materializes the round's
  // centroids as a local relation, so the corpus-scan lineage runs once
  // per round, not O(rounds²).
  def s16AnnIvfPqResKmeans(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    import graft.functions.VectorFunctions.vecSub
    val m = 8
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label", "embedding")
    val kit = ivf(emb)
    val assigned = kit.assign(emb)
    val withRes = assigned.join(broadcast(kit.centroids), col("cluster") === col("clabel"))
      .withColumn("res", vecSub(col("embedding"), col("cf")))
      .select("vec_id", "label", "cluster", "embedding", "res")
    // The residual table feeds FOUR actions (codebook init fold, the
    // Lloyd round's assign+refold, encode, the query branch): training is
    // iterative, so materialize the training set ONCE (bit-preserving
    // localCheckpoint, the d10 cadence) instead of re-running
    // scan+assign+join per action — at scale this is "cache the training
    // sample before k-means", exactly what FAISS's train() does.
    val withResM = withRes.localCheckpoint()
    val resCodebook = ivf(withResM, embCol = "res").kmeans(iters = 1).codebook
    val encoded = withResM.select(col("vec_id"), col("cluster"),
      PqFunctions.pqCodes(col("res"), resCodebook, m).as("codes"))
    val q = withResM.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    pqSearch(emb, encoded, q, resCodebook, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
  }

  val s16Oracle: String =
    duckPqSearchSql(8,
      s"""$duckResidualCtes, rl AS (
        |  SELECT a.vec_id, a.res, c.clabel,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY ${duckCosOf("a.res", "c.cf")} DESC, c.clabel) AS rn
        |  FROM res a, centr c
        |), al AS (
        |  SELECT vec_id, res, clabel AS label FROM rl WHERE rn = 1
        |), ${duckCentroidCtes(64, src = "al", sfx = "r2", embCol = "res")}, q AS (
        |  SELECT a.vec_id AS query_id, a.embedding AS qv, a.cluster AS qc
        |  FROM res a WHERE a.vec_id % 50 = 0
        |)""".stripMargin,
      appPreJoins = "  JOIN res a ON a.vec_id = co.vec_id\n",
      appPostJoins = "\n  JOIN q qq ON qq.query_id = q0.query_id AND qq.qc = a.cluster",
      corpusSrc = "res", corpusVec = "res", centName = "centr2")

  // s20 — tombstone-aware search: FAISS remove_ids() semantics, the
  // DELETE leg of index maintenance (s12 persists, s13 appends, s20
  // deletes). The coarse quantizer and codebook are NOT retrained — a
  // delete must not re-shuffle the inverted lists — the deleted ids are
  // an arbitrary id TABLE (production deletes arrive as GDPR/takedown id
  // lists, not predicates), and the index side drops them with a
  // LEFT ANTI join before the candidate join, so top-k is the top-k of
  // the live set (post-rank filtering would return < k). At 100 TB the
  // anti-join shuffles only (vec_id) pairs — or, with the s12 layout,
  // becomes a cluster-partition-local merge since both sides carry the
  // cluster key.
  def s20AnnTombstones(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assigned
    val encoded = assigned.select(col("vec_id"), col("cluster"),
      PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"))
    val tombstones = emb.filter(col("vec_id") % 9 === 0).select("vec_id")
    val live = encoded.join(tombstones, Seq("vec_id"), "left_anti")
    // queries are NOT filtered: a deleted vector may still arrive as a
    // query (re-ingestion lookup); it must find live neighbors only
    val q = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    pqSearch(emb, live, q, kit.codebook, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
  }

  val s20Oracle: String = duckPqSearchSql(8,
    s"""WITH ${duckCentroidCtes(64)}, live AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 9 <> 0
      |),
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, clabel AS qc
      |  FROM assigned WHERE vec_id % 50 = 0
      |)""".stripMargin,
    appPreJoins = "  JOIN assigned a ON a.vec_id = co.vec_id\n",
    appPostJoins = "\n  JOIN q qq ON qq.query_id = q0.query_id AND qq.qc = a.clabel",
    corpusSrc = "live")

  // s22 — PQ quantization DISTORTION, the index-quality diagnostic FAISS
  // prints at train time (imbalance + per-subquantizer error): for every
  // encoded row, the squared reconstruction error against its codeword,
  // aggregated corpus-wide PER SUBSPACE. A subspace whose error is an
  // outlier is mis-trained (bad codebook slice, collapsed clusters) —
  // this is the number an operator watches before shipping an index, and
  // a regression in encode/codebook lineage moves it even when search
  // top-k happens to survive. Engine: the native [[graft.functions
  // .PqSqError]] kernel decodes against the constructor codebook, so the
  // whole query is a NARROW map + posexplode + an 8-group aggregate — no
  // join, no shuffle beyond the fixed-size agg; at 100 TB it rides a
  // single corpus scan. Cross-engine exactness: per-row per-subspace
  // error is an ascending-j double fold of widen-subtract-square (no
  // libm `pow`), floor-scaled to micros PER ROW before the corpus sum so
  // the aggregate is an integer — layout- and fold-order-independent.
  def s22PqDistortion(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val encoded = emb.select(col("vec_id"), col("embedding"),
      PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"))
    encoded
      .select(posexplode(PqFunctions.pqSqError(
        col("embedding"), col("codes"), kit.codebook, m)).as(Seq("subspace", "err")))
      .select(col("subspace"),
        floor(col("err") * 1000000d).cast("long").as("err_micros"))
      .groupBy("subspace")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err_micros")).as("err_micros_sum"),
        max(col("err_micros")).as("max_err_micros"))
      .orderBy("subspace")
  }

  val s22Oracle: String = {
    val m = 8
    def subDot(a: String, b: String, s: Int) =
      s"list_sum(list_transform(range(1, 9), i -> CAST($a[${s * 8} + i] AS DOUBLE) * CAST($b[${s * 8} + i] AS DOUBLE)))"
    val eds = (0 until m).map(s => s"    ${subDot("e.embedding", "c.cf", s)} AS d$s").mkString(",\n")
    val rns = (0 until m).map(s =>
      s"    row_number() OVER (PARTITION BY vec_id ORDER BY d$s DESC, clabel) AS r$s").mkString(",\n")
    val codeCols = (0 until m).map(s =>
      s"    MAX(CASE WHEN r$s = 1 THEN clabel END) AS code$s").mkString(",\n")
    val codeList = (0 until m).map(s => s"co.code$s").mkString("[", ", ", "]")
    val diff = "(CAST(e.embedding[s.s*8 + i] AS DOUBLE) - CAST(c.cf[s.s*8 + i] AS DOUBLE))"
    s"""WITH ${duckCentroidCtes(64)}, ecd AS (
      |  SELECT e.vec_id, c.clabel,
      |$eds
      |  FROM embeddings e CROSS JOIN cent c
      |), er AS (
      |  SELECT vec_id, clabel,
      |$rns
      |  FROM ecd
      |), codes AS (
      |  SELECT vec_id,
      |$codeCols
      |  FROM er GROUP BY vec_id
      |), err AS (
      |  SELECT e.vec_id, CAST(s.s AS INT) AS subspace,
      |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
      |      $diff * $diff)) * 1000000.0) AS BIGINT) AS err_micros
      |  FROM embeddings e
      |  JOIN codes co USING (vec_id),
      |  LATERAL (SELECT unnest(range(0, $m)) AS s) s
      |  JOIN cent c ON c.clabel = $codeList[s.s + 1]
      |)
      |SELECT subspace, COUNT(*) AS n_vecs,
      |  CAST(SUM(err_micros) AS BIGINT) AS err_micros_sum,
      |  CAST(MAX(err_micros) AS BIGINT) AS max_err_micros
      |FROM err GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // s26 — the PRODUCTION SEARCH CONFIGURATION: every search-time feature
  // the ladder built, composed in one query — IVF multi-probe (s10's
  // nprobe=2 probes), PQ/ADC candidate scoring (s05's LUT path),
  // tombstone-masked index (s20's delete maintenance), and a metadata
  // pre-filter (s17's label predicate), finished with the exact
  // re-rank. This is what a real vector-search deployment actually
  // runs; gating the COMPOSITION catches interaction bugs the
  // single-feature queries can't (e.g. a filter applied after the
  // candidate cut would silently shrink recall — here it must be in
  // the index side of the ADC join to match the oracle). Plan shape is
  // s10's: candidate join stays a cluster-key equi-join against
  // broadcast probes; filter and tombstone anti-join land on the
  // encoded (8-longs-per-row) side BEFORE the join, so masked/filtered
  // vectors never ride the shuffle.
  def s26ProductionSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb)
    val assigned = kit.assign(emb.select("vec_id", "label", "embedding"))
    val encoded = assigned.select(col("vec_id"), col("cluster"), col("label"),
      PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"))
    val tombstones = emb.filter(col("vec_id") % 9 === 0).select("vec_id")
    val searchable = encoded.filter(col("label") % 2 === 0)
      .join(tombstones, Seq("vec_id"), "left_anti")
    val qRows = assigned.filter(col("vec_id") % 50 === 0)
    val probes = kit.probes(qRows.select("vec_id", "embedding"), 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    pqSearch(emb, searchable, probes, kit.codebook, m, candK = 20,
      joinCond = col("cluster") === col("qc") && col("vec_id") =!= col("query_id"),
      qExact = Some(qRows.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))))
  }

  val s26Oracle: String = duckPqSearchSql(8,
    s"""WITH ${duckCentroidCtes(64)}, live AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE vec_id % 9 <> 0 AND label % 2 = 0
      |),
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, qp AS (
      |  SELECT vec_id AS query_id, clabel AS qc
      |  FROM ranked WHERE vec_id % 50 = 0 AND rn <= 2
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv
      |  FROM assigned WHERE vec_id % 50 = 0
      |)""".stripMargin,
    appPreJoins = "  JOIN assigned a ON a.vec_id = co.vec_id\n",
    appPostJoins = "\n  JOIN qp ON qp.query_id = q0.query_id AND qp.qc = a.clabel",
    corpusSrc = "live")

  // s35 — OPQ-STYLE ROTATED PQ distortion (the OPQ/ITQ family's core
  // claim, measured): rotate every vector by the Householder reflection
  // H = I − 2uuᵀ/(u·u) with u = v − e₁ (v = s32's power-iteration axis),
  // which maps the corpus's dominant direction onto coordinate axis 1 —
  // energy that previously SPANNED subspaces now concentrates in
  // subspace 0 — then train and encode PQ on the rotated corpus and
  // report per-subspace quantization error next to the identity
  // baseline (s22's diagnostic, two variants side by side). This is the
  // decision table an index builder reads to choose OPQ-vs-PQ; the gate
  // pins both codebook lineages and every per-subspace error. Exactness:
  // u and u₂ = 2u/(u·u) derive from v by the SAME ascending fold /
  // division dag on both engines (driver fold == DuckDB list_sum; the
  // rotation is s33's project-subtract-cast-to-float shape with u₂ as
  // the projection axis and u as the subtraction axis); per-row errors
  // floor to micros before the corpus sum. Plan: rotation is a narrow
  // map (axis literals, no join); each arm is s22's single-scan shape;
  // the rotated table materializes once (localCheckpoint) so codebook
  // build and encode share it.
  def s35OpqDistortion(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqFunctions
    val m = 8
    val emb = Tables.embeddings(spark, dir)
    def arm(src: DataFrame, variant: String): DataFrame = {
      val kit = ivf(src)
      // the encode + distortion eval is the heavy per-row stage and it
      // rides the SCAN (narrow pipeline — no exchange before it), so its
      // parallelism is the input split count: a single-row-group parquet
      // file caps it at ONE task no matter what minPartitionNum asks
      // (guide §2.5 "unsplittable input — repartition immediately after
      // the read"). One deterministic hash repartition spreads the
      // corpus over the session's shuffle partitions before the kernels
      // run; row values (and the per-subspace folds) are
      // partition-independent, so the gate's output is unchanged.
      // explicit partition count (the session's core count): a bare
      // repartition(col) is AQE-coalescable and folds right back to one
      // partition on MB-scale data — the explicit N pins the spread
      src.repartition(src.sparkSession.sparkContext.defaultParallelism,
          col("vec_id"))
        .select(col("vec_id"),
          PqFunctions.pqCodes(col("embedding"), kit.codebook, m).as("codes"),
          col("embedding"))
        .select(posexplode(PqFunctions.pqSqError(
          col("embedding"), col("codes"), kit.codebook, m)).as(Seq("subspace", "err")))
        .select(lit(variant).as("variant"), col("subspace"),
          floor(col("err") * 1000000d).cast("long").as("err_micros"))
    }
    val v = powerAxis(spark, dir)
    val u = v.zipWithIndex.map { case (x, i) => if (i == 0) x - 1.0 else x }
    val uu = u.foldLeft(0.0)((a, x) => a + x * x)
    require(uu > 1e-12, s"degenerate rotation: power axis is e1 (u·u = $uu)")
    val u2 = u.map(x => 2.0 * x / uu)
    val ulit = array(u.map(lit): _*)
    val rot = emb.withColumn("w", dotAxis(u2))
      .select(col("label"), col("vec_id"),
        zip_with(col("embedding"), ulit,
          (x: Column, p: Column) =>
            (x.cast("double") - col("w") * p).cast("float")).as("embedding"))
      .localCheckpoint() // codebook build + encode share one materialization
    arm(emb.select("label", "vec_id", "embedding"), "identity")
      .unionByName(arm(rot, "opq"))
      .groupBy("variant", "subspace")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err_micros")).as("err_micros_sum"),
        max(col("err_micros")).as("max_err_micros"))
      .orderBy("variant", "subspace")
  }

  val s35Oracle: String = {
    val m = 8
    // s22's error-CTE block, parameterized over (source relation, embedding
    // column, centroid suffix) so the identity and rotated arms cannot
    // drift from the gated s22 formulation
    def errCtes(sfx: String, src: String, embCol: String, centSfx: String): String = {
      def subDot(a: String, b: String, s: Int) =
        s"list_sum(list_transform(range(1, 9), i -> CAST($a[${s * 8} + i] AS DOUBLE) * CAST($b[${s * 8} + i] AS DOUBLE)))"
      val eds = (0 until m).map(s =>
        s"    ${subDot(s"e.$embCol", "c.cf", s)} AS d$s").mkString(",\n")
      val rns = (0 until m).map(s =>
        s"    row_number() OVER (PARTITION BY vec_id ORDER BY d$s DESC, clabel) AS r$s").mkString(",\n")
      val codeCols = (0 until m).map(s =>
        s"    MAX(CASE WHEN r$s = 1 THEN clabel END) AS code$s").mkString(",\n")
      val codeList = (0 until m).map(s => s"co.code$s").mkString("[", ", ", "]")
      val diff = s"(CAST(e.$embCol[s.s*8 + i] AS DOUBLE) - CAST(c.cf[s.s*8 + i] AS DOUBLE))"
      s"""ecd$sfx AS (
        |  SELECT e.vec_id, c.clabel,
        |$eds
        |  FROM $src e CROSS JOIN cent$centSfx c
        |), er$sfx AS (
        |  SELECT vec_id, clabel,
        |$rns
        |  FROM ecd$sfx
        |), codes$sfx AS (
        |  SELECT vec_id,
        |$codeCols
        |  FROM er$sfx GROUP BY vec_id
        |), err$sfx AS (
        |  SELECT e.vec_id, CAST(s.s AS INT) AS subspace,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      $diff * $diff)) * 1000000.0) AS BIGINT) AS err_micros
        |  FROM $src e
        |  JOIN codes$sfx co USING (vec_id),
        |  LATERAL (SELECT unnest(range(0, $m)) AS s) s
        |  JOIN cent$centSfx c ON c.clabel = $codeList[s.s + 1]
        |)""".stripMargin
    }
    def armSelect(variant: String, sfx: String): String =
      s"""SELECT '$variant' AS variant, subspace, COUNT(*) AS n_vecs,
        |  CAST(SUM(err_micros) AS BIGINT) AS err_micros_sum,
        |  CAST(MAX(err_micros) AS BIGINT) AS max_err_micros
        |FROM err$sfx GROUP BY subspace""".stripMargin
    s"""WITH $duckPowerCtes, hu AS (
      |  SELECT list_transform(range(1, 65),
      |    i -> v[i] - CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END) AS u
      |  FROM v3
      |), hu2 AS (
      |  SELECT u, list_transform(u, x -> 2.0 * x / uu) AS u2 FROM (
      |    SELECT u, list_sum(list_transform(u, x -> x * x)) AS uu FROM hu)
      |), rw AS (
      |  SELECT e.vec_id, e.label, e.embedding, t.u,
      |    list_sum(list_transform(list_zip(e.embedding, t.u2),
      |      z -> CAST(z[1] AS DOUBLE) * z[2])) AS w
      |  FROM embeddings e, hu2 t
      |), rot AS (
      |  SELECT vec_id, label, list_transform(range(1, 65),
      |    d -> CAST(CAST(embedding[d] AS DOUBLE) - w * u[d] AS FLOAT)) AS r
      |  FROM rw
      |), ${duckCentroidCtes(64)},
      |${duckCentroidCtes(64, src = "rot", sfx = "r", embCol = "r")},
      |${errCtes("_i", "embeddings", "embedding", "")},
      |${errCtes("_r", "rot", "r", "r")}
      |SELECT variant, subspace, n_vecs, err_micros_sum, max_err_micros FROM (
      |  ${armSelect("identity", "_i")}
      |  UNION ALL
      |  ${armSelect("opq", "_r")})
      |ORDER BY variant, subspace""".stripMargin
  }

  // s39 — IVF + SQ8 ON RESIDUALS: the last cell of the quantization
  // matrix (IVF × {flat s03, PQ s06/s08/s16, SQ8 s15} — s15 scalar-
  // quantizes RAW vectors; this quantizes the RESIDUAL vec − centroid,
  // FAISS's IndexIVFScalarQuantizer with by_residual=true). Residuals
  // concentrate around 0, so the per-dimension [min,max] grid — trained
  // on the residual distribution, not the raw one — spends its 256
  // levels on a tighter range: same 4× memory traffic as s15, finer
  // effective resolution. Candidates reconstruct as centroid + dequant
  // (one exactly-rounded double add per dim, mirrored textually in the
  // oracle), rank by reconstructed cosine within the query's cluster
  // (nprobe=1), and the top-20 re-rank exactly. Plan shape: s15's —
  // bounds are two 64-key map-side-partial aggregates over residuals +
  // a guarded broadcast-size collect; encode/decode are narrow maps
  // through the native Sq8 kernels; the residual table materializes
  // once (localCheckpoint) and feeds bounds, encode, and queries.
  def s39AnnIvfSq8Res(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sq8Functions
    import graft.functions.VectorFunctions.vecSub
    val dim = 64
    val emb = Tables.embeddings(spark, dir)
    val kit = ivf(emb, dim = dim)
    val assigned = kit.assigned
    val withRes = assigned.join(broadcast(kit.centroids), col("cluster") === col("clabel"))
      .withColumn("res", vecSub(col("embedding"), col("cf")))
      .select("vec_id", "cluster", "embedding", "res")
      .localCheckpoint() // feeds bounds, encode, and the query branch
    val bounds = withRes
      .select(posexplode(col("res")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("i").limit(dim + 1).collect()
    require(bounds.length == dim,
      s"expected $dim per-dimension residual bounds, got ${bounds.length}")
    val mins = bounds.map(_.getFloat(1)).toSeq
    val scales = bounds.map(r =>
      (r.getFloat(2).toDouble - r.getFloat(1).toDouble) / 255.0).toSeq
    val encoded = withRes.select(col("vec_id"), col("cluster"),
      Sq8Functions.sq8Codes(col("res"), mins, scales).as("codes"))
    val q = withRes.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cluster").as("qc"))
    val wA = Window.partitionBy("query_id").orderBy(col("approx").desc, col("vec_id"))
    val cand = encoded.join(broadcast(q),
        col("cluster") === col("qc") && col("vec_id") =!= col("query_id"))
      .join(broadcast(kit.centroids.withColumnRenamed("clabel", "cluster")), Seq("cluster"))
      .withColumn("dec", Sq8Functions.sq8Decode(col("codes"), mins, scales))
      // reconstruction = centroid + dequantized residual, one rounded
      // double add per dimension — the oracle's exact textual mirror
      .withColumn("rec", expr(
        "zip_with(dec, cf, (x, y) -> CAST(CAST(x AS DOUBLE) + CAST(y AS DOUBLE) AS FLOAT))"))
      .withColumn("approx", cosineSim(col("qv"), col("rec")))
      .select("query_id", "vec_id", "approx")
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= 20)
      .select("query_id", "vec_id")
    val wE = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(cand), "vec_id")
      .join(broadcast(q.select("query_id", "qv")), "query_id")
      .withColumn("cos", cosineSim(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  val s39Oracle: String =
    s"""WITH ${duckCentroidCtes(64)},
      |${duckRankedCtes("ranked", "assigned", Seq("vec_id", "embedding"))}, res AS MATERIALIZED (
      |  SELECT a.vec_id, a.clabel AS cluster, a.embedding,
      |    list_transform(range(1, 65), i ->
      |      CAST(CAST(a.embedding[i] AS DOUBLE) - CAST(c.cf[i] AS DOUBLE) AS FLOAT)) AS res
      |  FROM assigned a JOIN cent c ON c.clabel = a.clabel
      |), bounds AS (
      |  SELECT i, MIN(r.res[i]) AS mn, MAX(r.res[i]) AS mx
      |  FROM res r, range(1, 65) t(i) GROUP BY i
      |), b AS (
      |  SELECT list(CAST(mn AS FLOAT) ORDER BY i) AS mns,
      |    list((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) / 255.0 ORDER BY i) AS scs
      |  FROM bounds
      |), recs AS (
      |  SELECT r.vec_id, r.cluster,
      |    list_transform(range(1, 65), i ->
      |      CAST(CAST(CAST(CAST(b.mns[i] AS DOUBLE) +
      |        (CASE WHEN b.scs[i] = 0 OR isnan(r.res[i]) THEN 0
      |              ELSE CAST(LEAST(GREATEST(floor((CAST(r.res[i] AS DOUBLE) - CAST(b.mns[i] AS DOUBLE)) / b.scs[i]), 0), 255) AS BIGINT)
      |         END) * b.scs[i] AS FLOAT) AS DOUBLE) + CAST(c.cf[i] AS DOUBLE) AS FLOAT)) AS rec
      |  FROM res r CROSS JOIN b JOIN cent c ON c.clabel = r.cluster
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, cluster AS qc
      |  FROM res WHERE vec_id % 50 = 0
      |), scored AS (
      |  SELECT query_id, d.vec_id, ${duckCosOf("qv", "rec")} AS approx
      |  FROM recs d JOIN q ON d.cluster = q.qc AND d.vec_id <> q.query_id
      |), cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, vec_id) AS arank
      |    FROM scored)
      |  WHERE arank <= 20
      |), rr AS (
      |  SELECT c.query_id, e.vec_id, ${duckCosOf("q.qv", "e.embedding")} AS cos
      |  FROM cand c
      |  JOIN embeddings e ON e.vec_id = c.vec_id
      |  JOIN q ON q.query_id = c.query_id
      |)
      |SELECT query_id, rank, neighbor_id FROM (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM rr)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("s05_ann_pq", s05AnnPq, s05Oracle),
    Gate("s06_ann_ivfpq", s06AnnIvfPq, s06Oracle),
    Gate("s08_ann_ivfpq_res", s08AnnIvfPqResidual, s08Oracle),
    Gate("s10_ann_ivfpq_probe", s10AnnIvfPqProbe, s10Oracle),
    Gate("s11_ann_ivfpq_res_probe", s11AnnIvfPqResProbe, s11Oracle),
    // same search, persisted index
    Gate("s12_ann_ivfpq_persisted", s12AnnIvfPqPersisted, s06Oracle),
    Gate("s13_ann_index_append", s13AnnIndexAppend, s13Oracle),
    Gate("s14_ann_sq8", s14AnnSq8, s14Oracle),
    Gate("s15_ann_ivf_sq8", s15AnnIvfSq8, s15Oracle),
    Gate("s16_ann_ivfpq_res_kmeans", s16AnnIvfPqResKmeans, s16Oracle),
    Gate("s20_ann_tombstones", s20AnnTombstones, s20Oracle),
    Gate("s22_pq_distortion", s22PqDistortion, s22Oracle),
    Gate("s26_production_search", s26ProductionSearch, s26Oracle),
    Gate("s35_opq_distortion", s35OpqDistortion, s35Oracle),
    Gate("s39_ann_ivf_sq8_res", s39AnnIvfSq8Res, s39Oracle),
  )
}
