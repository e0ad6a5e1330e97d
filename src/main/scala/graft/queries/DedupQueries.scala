package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over `documents` (builder prompt / SURVEY §7.7):
  * exact (hash groupBy), n-gram Jaccard via shingle inverted index,
  * MinHash + LSH banding, and SimHash signatures.
  *
  * Scale design:
  *   - exact dedup is one hash aggregate on md5(text) — map-side partial,
  *     single shuffle;
  *   - n-gram Jaccard never does an O(n²) cross join: pairs materialize only
  *     through the exploded shingle inverted index (shuffle keyed on the
  *     shingle), then group to intersection counts;
  *   - MinHash/LSH reduces that to the banded signature join: 4 rows per
  *     doc, shuffle keyed on band signature, candidate pairs verified with
  *     an exact array_intersect — the standard 100 TB near-dup pipeline;
  *   - SimHash is a pure per-row signature (no shuffle at all).
  *
  * Cross-engine exactness: shingle/token hashes come from md5 hex prefixes
  * (identical in Spark and DuckDB) parsed as 60-/32-bit BIGINTs; the MinHash
  * permutations are (a_j·h + b_j) mod p with p = 2^31−1, keeping every
  * product below 2^62 so BIGINT arithmetic never overflows in either engine.
  */
object DedupQueries {

  private val P = 2147483647L // 2^31 − 1

  /** doc_id, toks, distinct 60-bit-hashed 3-gram shingles + count (fused
    * ShingleHash60 expression — shuffles downstream carry 8-byte longs, not
    * shingle strings). Thin wrapper over the library op [[graft.ops.Dedup]]. */
  private def withShingles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.withShingles(
      Tables.documents(spark, dir).withColumn("toks", split(col("text"), " ")),
      "toks")

  /** DuckDB CTE for positioned 8-gram hashes of `src` (must expose
    * doc_id + toks; `cols` prepends extra carried columns, e.g.
    * "bucket, ") — the SQL mirror of [[grams8]] /
    * [[graft.functions.ShinglePos60]], defined ONCE so the four oracles
    * that locate substrings (d29/d30/d31/p11) can never drift apart. */
  private[queries] def duckGrams8Cte(src: String, cols: String = ""): String =
    s"""g AS (
      |  SELECT doc_id, ${cols}i,
      |    CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS gv
      |  FROM $src, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) q
      |)""".stripMargin

  /** DuckDB CTE chain turning a `hits(doc_id, i)` relation of
    * contaminated gram positions (each covering tokens [i, i+7]) into the
    * per-document clip report `pd(doc_id, removed, n_spans)` — the SQL
    * mirror of [[clipReport]]'s running-max islands, shared by the d30
    * and p11 oracles. */
  private[queries] val duckClipCtes: String =
    """isl AS (
      |  SELECT doc_id, i,
      |    CASE WHEN max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |         OR i > max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS ni
      |  FROM hits
      |), isl2 AS (
      |  SELECT doc_id, i, SUM(ni) OVER (PARTITION BY doc_id ORDER BY i
      |    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM isl
      |), sp2 AS (
      |  SELECT doc_id, island, MIN(i) AS s, MAX(i + 7) AS e
      |  FROM isl2 GROUP BY 1, 2
      |), pd AS (
      |  SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS removed,
      |    CAST(COUNT(*) AS BIGINT) AS n_spans
      |  FROM sp2 GROUP BY 1
      |)""".stripMargin

  private[queries] val shingleCte: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      list_transform(range(1, len(toks) - 1),
      |        i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])),
      |      g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT))) AS shingles
      |  FROM d
      |)""".stripMargin

  // d01 — exact dedup: content-hash groups with canonical keeper.
  def d01ExactDedup(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.exactGroups(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy("content_hash")

  val d01Oracle: String =
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
      |  CAST(MIN(doc_id) AS BIGINT) AS keeper_id
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Near-dup pair intersection counts via the shingle posting-list index
    * over a frame with (doc_id, shingles, n_sh): pairs are generated inside
    * the per-shingle posting list (one shuffle on the shingle, pairs
    * expanded from the grouped list) instead of a self-join — half the
    * shuffles and no duplicate shingle computation. Posting lists longer
    * than 100 docs are dropped (stop-shingle guard: at scale a hot shingle
    * would otherwise expand k²/2 pairs; the oracles mirror the bound).
    * Output: (doc_a, doc_b, na, nb, inter). Shared by d02 and the p01
    * curation pipeline. */
  private[queries] def jaccardPairCounts(docs: DataFrame): DataFrame =
    graft.ops.Dedup.jaccardPairCounts(docs, "doc_id")

  // d02 — n-gram Jaccard near-dup pairs via the shingle inverted index.
  def d02NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.jaccardPairs(withShingles(spark, dir), "doc_id", 0.5)
      .select("doc_a", "doc_b", "inter", "un", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Shared posting-list pair CTE block (`e` / `freq` / `scored`) — ONE
    * definition of the inverted-index pair SQL consumed by d02 and d10,
    * so a cap/threshold fix cannot land in one sibling and not the other
    * (the duckPqSearchSql lesson). Mirrors Dedup.jaccardPairCounts'
    * stop-shingle bound [2, 100]. */
  private[queries] val pairScoredCte: String =
    """, e AS (
      |  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM s
      |), freq AS (
      |  SELECT sh FROM e GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 100
      |), scored AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
      |    COUNT(*) AS inter,
      |    a.n + b.n - COUNT(*) AS un,
      |    CAST(COUNT(*) AS DOUBLE)/(a.n + b.n - COUNT(*)) AS jaccard
      |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  JOIN freq f ON f.sh = a.sh
      |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
      |)""".stripMargin

  val d02Oracle: String =
    shingleCte + pairScoredCte +
    """
      |SELECT doc_a, doc_b, inter, un, jaccard FROM scored
      |WHERE jaccard >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // d03 — MinHash (16 perms) + LSH (4 bands × 4 rows) candidate pairs,
  // verified with exact shingle-set Jaccard. The signature is one fused
  // Catalyst expression (MinHashSignature); the band join carries ids only
  // (distinct on two ints, not on shingle arrays), with shingle sets joined
  // back just for the few surviving candidates. Band buckets over 256
  // docs are dropped as degenerate (r10 — the hot-band quadratic
  // self-join; see minHashLshPairs), pre-counted BEFORE the join.
  def d03MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.minHashLshPairs(withShingles(spark, dir), "doc_id", 0.5)
      .orderBy("doc_a", "doc_b")

  val d03Oracle: String =
    shingleCte +
    s""", sig AS (
      |  SELECT doc_id, shingles, len(shingles) AS n,
      |    list_transform(range(0, 16), j -> list_min(list_transform(
      |      list_transform(shingles, h0 -> h0 % $P),
      |      h -> (((1664525 * j + 1013904223) % $P) * h + (22695477 * j + 12345) % $P) % $P))) AS sg
      |  FROM s
      |), banded AS (
      |  SELECT doc_id, shingles, n, unnest(list_transform(range(0, 4),
      |    b -> concat_ws('-', b, sg[4*b + 1], sg[4*b + 2], sg[4*b + 3], sg[4*b + 4]))) AS band
      |  FROM sig
      |), bcnt AS (
      |  SELECT band FROM banded GROUP BY band HAVING COUNT(*) BETWEEN 2 AND 256
      |), bandedk AS (
      |  SELECT b.* FROM banded b JOIN bcnt k USING (band)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.shingles AS sh_a, b.shingles AS sh_b, a.n AS na, b.n AS nb
      |  FROM bandedk a JOIN bandedk b ON a.band = b.band AND a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b, inter, jaccard FROM (
      |  SELECT doc_a, doc_b,
      |    CAST(len(list_intersect(sh_a, sh_b)) AS INT) AS inter,
      |    CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)/(na + nb - len(list_intersect(sh_a, sh_b))) AS jaccard
      |  FROM cand)
      |WHERE jaccard >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // d04 — SimHash: 32-bit per-document signature from token-frequency bit
  // votes (pure per-row compute, one fused Catalyst expression; near-dup =
  // small Hamming distance).
  def d04Simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("simhash", graft.ops.Dedup.simHashSignature(col("toks")))
      .select("doc_id", "simhash")
      .orderBy("doc_id")

  val d04Oracle: String =
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(range(0, 32), b ->
      |    CASE WHEN list_sum(list_transform(
      |           list_transform(string_split(text, ' '),
      |             t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)),
      |           c -> ((c >> b) & 1) * 2 - 1)) > 0
      |         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
      |FROM documents ORDER BY doc_id""".stripMargin

  // d06 — corpus-level MinHash sketches per source via the typed Aggregator
  // (constant-size buffer, map-side partial agg), then pairwise estimated
  // Jaccard between sources from sketch component agreement.
  def d06GroupMinhash(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHashFunctions.minHashSig
    import graft.functions.MinHashUnionAggregator
    val sigs = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("sig", minHashSig(shingleHash60Col))
      .groupBy("source")
      .agg(MinHashUnionAggregator.column(col("sig")).as("gsig"))
    val a = sigs.select(col("source").as("src_a"), col("gsig").as("sig_a"))
    val b = sigs.select(col("source").as("src_b"), col("gsig").as("sig_b"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("matches", expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), z -> z))"))
      .select(col("src_a"), col("src_b"), col("matches"),
        (col("matches").cast("double") / 16.0).as("est_jaccard"))
      .orderBy("src_a", "src_b")
  }

  private def shingleHash60Col = {
    import graft.functions.TextHashFunctions.shingleHash60
    shingleHash60(col("toks"))
  }

  val d06Oracle: String =
    shingleCte +
    s""", sig AS (
      |  SELECT doc_id, s2.source,
      |    list_transform(range(0, 16), j -> list_min(list_transform(
      |      list_transform(shingles, h0 -> h0 % $P),
      |      h -> (((1664525 * j + 1013904223) % $P) * h + (22695477 * j + 12345) % $P) % $P))) AS sg
      |  FROM s JOIN documents s2 USING (doc_id)
      |), e AS (
      |  SELECT source, j, sg[j] AS v FROM sig, generate_series(1, 16) t(j)
      |), g AS (
      |  SELECT source, j, MIN(v) AS v FROM e GROUP BY source, j
      |)
      |SELECT src_a, src_b, matches, CAST(matches AS DOUBLE)/16.0 AS est_jaccard FROM (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(COUNT(*) FILTER (WHERE a.v = b.v) AS INT) AS matches
      |  FROM g a JOIN g b ON a.j = b.j AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |ORDER BY src_a, src_b""".stripMargin

  // d08 — SimHash near-dup pairs: d04's fingerprints paired
  // subquadratically by pigeonhole banding (4 × 8-bit bands ⇒ Hamming ≤ 3
  // implies a whole band agrees — EXACT recall from an equi-join, no
  // all-pairs), exact Hamming verify only on candidates.
  def d08SimhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("simhash", graft.ops.Dedup.simHashSignature(col("toks")))
    // explicit production cap (library default is uncapped/exact): a band
    // value shared by >256 signatures is degenerate on this corpus class
    graft.ops.Dedup.simhashNearDups(sh, "doc_id", "simhash", maxBucket = 256)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  val d08Oracle: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 32), b ->
      |      CASE WHEN list_sum(list_transform(
      |             list_transform(string_split(text, ' '),
      |               t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)),
      |             c -> ((c >> b) & 1) * 2 - 1)) > 0
      |           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
      |  FROM documents
      |), e AS (
      |  SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS bval
      |  FROM sh, generate_series(0, 3) t(b)
      |), bk AS (
      |  SELECT b, bval FROM e GROUP BY b, bval HAVING COUNT(*) BETWEEN 2 AND 256
      |), ek AS (
      |  SELECT e.* FROM e JOIN bk USING (b, bval)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |    a.simhash AS sa, b2.simhash AS sb
      |  FROM ek a JOIN ek b2 ON a.b = b2.b AND a.bval = b2.bval
      |    AND a.doc_id < b2.doc_id
      |)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // d09 — the registered SQL surface under the gate: the same simhash
  // computation as d04, routed through `spark.sql` and the
  // GraftExtensions-registered function instead of the Column API (the
  // driver-contract sessions carry the extensions). A hash mismatch here
  // and a green d04 would isolate a registration/translation bug.
  def d09SqlSimhash(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("graft_documents")
    spark.sql(
      """SELECT doc_id, simhash32(split(text, ' ')) AS simhash
        |FROM graft_documents ORDER BY doc_id""".stripMargin)
  }

  // d10 — connected components over the d02 near-dup pair graph: the
  // TRANSITIVE closure production dedup needs (pairwise keep-the-min
  // leaves both ends of a chain A~B~C). Every document maps to the
  // minimum doc_id reachable through jaccard>=0.5 edges (itself if
  // isolated) via Dedup.connectedComponents' distributed min-label
  // propagation; the oracle computes the same closure with a recursive
  // CTE, so the gate pins the full per-document component mapping —
  // propagation rounds, symmetrization, isolated-vertex identity and all.
  def d10DedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Dedup.jaccardPairs(withShingles(spark, dir), "doc_id", 0.5)
    // checkpointEvery=1: each round's probe and successor read one
    // materialization instead of replaying the round's join chain —
    // value-identical (OpsSpec pins it), ~linear instead of O(rounds²)
    graft.ops.Dedup.connectedComponents(
        Tables.documents(spark, dir).select("doc_id"), pairs,
        "doc_id", "doc_a", "doc_b", checkpointEvery = 1)
      .orderBy("doc_id")
  }

  val d10Oracle: String =
    // the closure member needs RECURSIVE declared at the WITH head
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + pairScoredCte +
    """, pairs AS (
      |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5
      |), sym AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |), reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a
      |), mn AS (
      |  SELECT a AS doc_id, MIN(b) AS m FROM reach GROUP BY a
      |)
      |SELECT d.doc_id,
      |  CAST(LEAST(COALESCE(m.m, d.doc_id), d.doc_id) AS BIGINT) AS component
      |FROM documents d LEFT JOIN mn m USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // d12 — the deduplicated-corpus manifest: what a user actually RUNS
  // near-dup dedup for. d03-family pairs → d10's connected components →
  // keep the min-id doc per component → report, per (lang, source), the
  // before-count, kept-count, and kept token volume. Composes the two
  // gated operators into the delete decision itself (d10 stops at
  // labeling; the pairwise keep-the-min rule alone over-deletes on
  // transitive chains — exactly why components exist). Same scale shape
  // as its parts: shingle-keyed pair generation, vertex-keyed min-label
  // propagation with per-round materialization, then one grouped agg.
  def d12DedupManifest(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Dedup.jaccardPairs(withShingles(spark, dir), "doc_id", 0.5)
    val comp = graft.ops.Dedup.connectedComponents(
      Tables.documents(spark, dir).select("doc_id"), pairs,
      "doc_id", "doc_a", "doc_b", checkpointEvery = 1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(comp, Seq("doc_id"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("component"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("doc_id") === col("component"), col("n_tokens"))
          .otherwise(0L)).as("kept_tokens"))
      .orderBy("lang", "source")
  }

  val d12Oracle: String =
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + pairScoredCte +
    """, pairs AS (
      |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5
      |), sym AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |), reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a
      |), mn AS (
      |  SELECT a AS doc_id, MIN(b) AS m FROM reach GROUP BY a
      |), comp AS (
      |  SELECT d.doc_id, LEAST(COALESCE(m.m, d.doc_id), d.doc_id) AS component
      |  FROM documents d LEFT JOIN mn m USING (doc_id)
      |)
      |SELECT d.lang, d.source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN c.component = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN c.component = d.doc_id
      |                THEN CAST(len(string_split(d.text, ' ')) AS BIGINT)
      |                ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM documents d JOIN comp c USING (doc_id)
      |GROUP BY d.lang, d.source ORDER BY d.lang, d.source""".stripMargin

  // d11 — train/test decontamination sweep (the GPT-3/Gopher appendix-C
  // discipline, n-gram-collision flavor): for every TEST-split document,
  // count how many of its distinct 3-gram shingles also occur anywhere in
  // the TRAIN split, and flag heavy overlap. Reuses t06's md5-bucket
  // hashSplit (so the splits are the gated ones) and d02's 60-bit shingle
  // hashing. Scale shape: this is the inverted-index formulation — the
  // train shingle set is NEVER collected or broadcast (at 100 TB it is
  // itself huge); both sides shuffle on the shingle hash, the equi-join
  // co-partitions them, and the per-document hit count is a map-side-
  // partial agg on doc_id. Flag threshold 0.7 is live on the synthetic
  // corpus (6/61 test docs at sf0.01), not a constant.
  def d11Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = withShingles(spark, dir)
      .withColumn("split", graft.ops.TextOps.hashSplit(col("doc_id")))
    val trainSh = docs.filter(col("split") === "train")
      .select(explode(col("shingles")).as("sh")).distinct()
    val testDocs = docs.filter(col("split") === "test")
      .select(col("doc_id"), col("n_sh"))
    val hits = docs.filter(col("split") === "test")
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .join(trainSh, Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_hit"))
    testDocs
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0)))
      .withColumn("overlap_frac", col("n_hit").cast("double") / col("n_sh"))
      .withColumn("contaminated", col("overlap_frac") >= 0.7)
      .select("doc_id", "n_sh", "n_hit", "overlap_frac", "contaminated")
      .orderBy("doc_id")
  }

  val d11Oracle: String =
    shingleCte +
    """, sp AS (
      |  SELECT doc_id, shingles, CAST(len(shingles) AS INT) AS n_sh,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM s
      |), tr AS (
      |  SELECT DISTINCT unnest(shingles) AS sh FROM sp WHERE bucket < 80
      |), te AS (
      |  SELECT doc_id, unnest(shingles) AS sh FROM sp WHERE bucket >= 90
      |), hits AS (
      |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_hit
      |  FROM te JOIN tr USING (sh) GROUP BY doc_id
      |)
      |SELECT p.doc_id, p.n_sh, COALESCE(h.n_hit, 0) AS n_hit,
      |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE)/p.n_sh AS overlap_frac,
      |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE)/p.n_sh >= 0.7 AS contaminated
      |FROM sp p LEFT JOIN hits h USING (doc_id)
      |WHERE p.bucket >= 90
      |ORDER BY p.doc_id""".stripMargin

  // d13 — C4-style sub-document chunk dedup: 5-token windows, global
  // first-occurrence keeps (Dedup.chunkKeepFirst's single content-hash
  // shuffle), documents reassembled from their kept chunks in order. The
  // per-document manifest carries the kept-text md5 so the gate proves
  // both engines kept the IDENTICAL chunks in the identical order, not
  // merely the same number (a doc whose every chunk duplicates an earlier
  // one reassembles to NULL on both engines — collect_list skips the
  // dropped nulls, string_agg FILTER returns NULL over zero rows).
  def d13ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val marked = graft.ops.Dedup.chunkKeepFirst(
      Tables.documents(spark, dir), "doc_id", "text", chunkTokens = 5)
    marked.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        count(when(col("keep"), 1)).cast("int").as("n_kept"),
        sort_array(collect_list(when(col("keep"),
          struct(col("chunk_idx"), col("chunk"))))).as("_ks"))
      .withColumn("_kept_text", when(col("n_kept") > 0,
        array_join(expr("transform(_ks, x -> x.chunk)"), " ")))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        length(col("_kept_text")).as("out_len"),
        md5(col("_kept_text")).as("out_hash"))
      .orderBy("doc_id")
  }

  val d13Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |), c AS (
      |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |    array_to_string(l[5*i+1:5*i+5], ' ') AS chunk
      |  FROM t, LATERAL (SELECT unnest(range(0, CAST(ceil(len(l)/5.0) AS BIGINT))) AS i) g
      |), k AS (
      |  SELECT doc_id, chunk_idx, chunk,
      |    row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) = 1 AS keep
      |  FROM c
      |)
      |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
      |  CAST(COUNT(*) FILTER (WHERE keep) AS INT) AS n_kept,
      |  CAST(strlen(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE keep)) AS INT) AS out_len,
      |  md5(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE keep)) AS out_hash
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // d15 — BLOOM-FILTER decontamination: the approximate-membership scale
  // path for exact content matching. d11's inverted-index join ships the
  // benchmark's shingle table through a shuffle; at 100 TB the cheap
  // first pass is a broadcast Bloom bitmask over benchmark CONTENT
  // hashes — every executor filters locally, no shuffle touches the
  // corpus, and only bloom-positive rows (a tiny superset of the truth)
  // continue to an exact verify. Layout here: k = 2 bit positions per
  // key from the engines' shared md5-bucket idiom, m = 512 bits — m is
  // deliberately small so FALSE POSITIVES are live at sf0.1 (~0.07 FP
  // rate) and the gate pins the exact FP SET, not just the happy path;
  // a production deployment sizes m ≈ 10·n for ~1% FP and ships it as
  // one bitmask broadcast. The distinct-bit table stands in for the
  // bitmask (identical semantics under the gate); the in_set truth join
  // is gate instrumentation, not part of the operator. n_missed pins the
  // Bloom invariant NO FALSE NEGATIVES cross-engine: it must be 0 at
  // every SF, proven by the oracle hash, not asserted.
  /** d15/d33's shared bloom layout — 512 bits, k = 2 positions per key
    * from the engines' md5-bucket idiom. ONE definition for the batch
    * pass and the streaming probe (they share an oracle: a drift here
    * would read as a delivery bug). */
  private val bloomBits = 512
  private def bloomBit(i: Int, key: Column): Column =
    conv(substring(md5(concat(key, lit(s"#b$i"))), 1, 8), 16, 10)
      .cast("long") % bloomBits

  def d15BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    def bit(i: Int, key: Column): Column = bloomBit(i, key)
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("key"))
    val benchKeys = keyed.filter(col("doc_id") % 37 === 0)
      .select("key").distinct()
    val bits = benchKeys
      .select(explode(array(bit(0, col("key")), bit(1, col("key")))).as("bit"))
      .distinct()
    val probed = keyed
      .withColumn("b0", bit(0, col("key")))
      .withColumn("b1", bit(1, col("key")))
      .join(broadcast(bits.select(col("bit").as("b0"), lit(1).as("h0"))),
        Seq("b0"), "left")
      .join(broadcast(bits.select(col("bit").as("b1"), lit(1).as("h1"))),
        Seq("b1"), "left")
      .withColumn("flagged", col("h0").isNotNull && col("h1").isNotNull)
    probed
      .join(broadcast(benchKeys.withColumn("in_set", lit(1))), Seq("key"), "left")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("flagged") && col("in_set").isNotNull, 1L).otherwise(0L))
          .as("n_true_pos"),
        sum(when(col("flagged") && col("in_set").isNull, 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(!col("flagged") && col("in_set").isNotNull, 1L).otherwise(0L))
          .as("n_missed"),
        sum(when(col("flagged"), col("doc_id")).otherwise(0L)).cast("long")
          .as("flagged_id_sum"))
  }

  val d15Oracle: String = {
    def bit(i: Int, key: String) =
      s"CAST(('0x' || substr(md5($key || '#b$i'), 1, 8)) AS BIGINT) % 512"
    s"""WITH k AS (SELECT doc_id, md5(text) AS key FROM documents),
      |bench AS (SELECT DISTINCT key FROM k WHERE doc_id % 37 = 0),
      |bits AS (
      |  SELECT DISTINCT ${bit(0, "key")} AS bit FROM bench
      |  UNION
      |  SELECT ${bit(1, "key")} FROM bench
      |), p AS (
      |  SELECT doc_id, key,
      |    (${bit(0, "key")} IN (SELECT bit FROM bits))
      |      AND (${bit(1, "key")} IN (SELECT bit FROM bits)) AS flagged,
      |    key IN (SELECT key FROM bench) AS in_set
      |  FROM k
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(SUM(CASE WHEN flagged AND in_set THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pos,
      |  CAST(SUM(CASE WHEN flagged AND NOT in_set THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
      |  CAST(SUM(CASE WHEN NOT flagged AND in_set THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
      |  CAST(SUM(CASE WHEN flagged THEN doc_id ELSE 0 END) AS BIGINT) AS flagged_id_sum
      |FROM p""".stripMargin
  }

  // d17 — MinHash ESTIMATOR accuracy (the d16 instrument pointed at d03's
  // machinery): for every truly-overlapping pair above Jaccard 0.2, the
  // 16-perm signature agreement count next to the exact intersection, and
  // the estimator error as the PURE-INTEGER signed numerator
  // `matches·un − 16·inter` (the exact value of (est − jaccard)·16·un —
  // no double ever forms, so the gate pins the estimator bit-for-bit).
  // This is the per-corpus calibration table for choosing perms/bands: a
  // hashing regression (perm constants, shingle width, banding) moves
  // these integers even when d03's thresholded output happens to agree.
  // The ≥ 0.2 cut is the integer predicate 5·inter ≥ un. Plan shape is
  // d02's posting-list pair join plus one signature equi-join per side —
  // nothing quadratic, candidates bounded by the stop-shingle cap.
  def d17MinhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHashFunctions.minHashSig
    val docs = withShingles(spark, dir)
    val sigs = docs.select(col("doc_id"), minHashSig(col("shingles")).as("sig"))
    jaccardPairCounts(docs)
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 5 >= col("un"))
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("sig_matches", expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), z -> z))").cast("long"))
      .select(col("doc_a"), col("doc_b"), col("inter").cast("long").as("inter"),
        col("un").cast("long").as("un"), col("sig_matches"),
        (col("sig_matches") * col("un") - col("inter") * 16L).as("err_num"))
      .orderBy("doc_a", "doc_b")
  }

  val d17Oracle: String =
    shingleCte + pairScoredCte +
    s""", sig AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 16), j -> list_min(list_transform(
      |      list_transform(shingles, h0 -> h0 % $P),
      |      h -> (((1664525 * j + 1013904223) % $P) * h + (22695477 * j + 12345) % $P) % $P))) AS sg
      |  FROM s
      |)
      |SELECT p.doc_a, p.doc_b, CAST(p.inter AS BIGINT) AS inter,
      |  CAST(p.un AS BIGINT) AS un,
      |  CAST(len(list_filter(range(1, 17), i -> sa.sg[i] = sb.sg[i])) AS BIGINT) AS sig_matches,
      |  CAST(len(list_filter(range(1, 17), i -> sa.sg[i] = sb.sg[i])) * p.un
      |       - p.inter * 16 AS BIGINT) AS err_num
      |FROM scored p
      |JOIN sig sa ON sa.doc_id = p.doc_a
      |JOIN sig sb ON sb.doc_id = p.doc_b
      |WHERE p.inter * 5 >= p.un
      |ORDER BY p.doc_a, p.doc_b""".stripMargin

  // d18 — EXACT SUBSTRING-SPAN dedup signal (Lee et al., "Deduplicating
  // Training Data Makes Language Models Better", 2022): slide a 10-token
  // window over every document (positional — repeats within a doc count,
  // unlike d02's distinct shingle set), hash each window, and mark a
  // window DUPLICATED iff its hash also occurs in a DIFFERENT document.
  // The paper's ExactSubstr operator removes such spans; this query is
  // its detection pass, reduced per language to doc/window/dup-window
  // counts plus the id-checksum of affected docs — the table that
  // decides whether span-level dedup is worth running on a corpus at
  // all. The suffix-array construction the paper uses is a single-node
  // algorithm; the distributed re-expression is exactly this
  // hash-grouped window join (the hash plays the suffix array's role of
  // collocating equal spans), with the window hash as the ONLY wide
  // key. Shuffle volume is one row per token — the same class as d02's
  // posting explode, and the cross-doc test is MIN(doc)≠MAX(doc) inside
  // the hash group, so no pair materialization at all.
  def d18SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val win = expr(
      """transform(sequence(1, size(toks) - 9), i ->
        |  cast(conv(substring(md5(concat_ws(' ', slice(toks, i, 10))), 1, 15),
        |       16, 10) as bigint))""".stripMargin)
    val spans = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), explode(win).as("h"))
    val shared = spans.groupBy("h")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("h")
    val perDoc = spans.join(shared.withColumn("dup", lit(1L)), Seq("h"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_w"), sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_dup") > 0, 1L).otherwise(0L)).as("n_docs_with_dup"),
        sum(col("n_w")).as("total_windows"),
        sum(col("n_dup")).as("dup_windows"),
        sum(when(col("n_dup") > 0, col("doc_id")).otherwise(0L)).as("dup_doc_id_sum"))
      .orderBy("lang")
  }

  val d18Oracle: String =
    """WITH spans AS (
      |  SELECT doc_id, lang, unnest(list_transform(
      |    range(1, len(string_split(text, ' ')) - 8),
      |    i -> CAST(('0x' || substr(md5(array_to_string(
      |           (string_split(text, ' '))[i:i+9], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM documents
      |), shared AS (
      |  SELECT h FROM spans GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)
      |), per_doc AS (
      |  SELECT s.doc_id, s.lang, COUNT(*) AS n_w,
      |    COUNT(sh.h) AS n_dup
      |  FROM spans s LEFT JOIN shared sh ON s.h = sh.h
      |  GROUP BY s.doc_id, s.lang
      |)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_dup,
      |  CAST(SUM(n_w) AS BIGINT) AS total_windows,
      |  CAST(SUM(n_dup) AS BIGINT) AS dup_windows,
      |  CAST(SUM(CASE WHEN n_dup > 0 THEN doc_id ELSE 0 END) AS BIGINT) AS dup_doc_id_sum
      |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin

  // d19 — LSH (bands × rows) CALIBRATION SWEEP: the tuning table behind
  // d03's fixed (4×4) choice. One 16-perm MinHash signature, banded
  // three ways — (16×1), (8×2), (4×4) — giving the S-curve's three
  // operating points (match probability 1−(1−j^r)^b: permissive →
  // strict). Per config: candidate-pair count (the COST — every
  // candidate pays an exact verification) and exact-verified ≥0.5
  // count + id checksum (the YIELD). Real deployments pick (b, r) from
  // exactly this table; the sweep shares the signature build and each
  // config is the same band-key shuffle d03 runs, so cost scales with
  // the candidate mass, never pairwise. Integer outputs gate exactly.
  def d19LshSweep(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHashFunctions.minHashSig
    // the signature table feeds 12 subtrees of the one final action (2
    // self-join sides + 2 verification sides × 3 configs): without a
    // checkpoint every subtree re-runs the shingle + 16-perm MinHash
    // kernel over the corpus (guide §2.4 — don't recompute what one
    // materialization can share). Eager, not lazy: a lazy checkpoint
    // feeding many subtrees of one action materializes concurrently at
    // first use and re-computes (the round's recorded negative result).
    // The kernel itself is also spread off the one-row-group scan first
    // (§2.5 — the s35 discipline: explicit N, a bare repartition(col)
    // is AQE-coalescable); the md5-per-window + 16-perm work far
    // outweighs the one narrow (doc_id, text) exchange it costs.
    val docs = graft.ops.Dedup.withShingles(
        Tables.documents(spark, dir)
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .withColumn("toks", split(col("text"), " ")),
        "toks")
      .select(col("doc_id"), col("shingles"),
        col("n_sh"), minHashSig(col("shingles"), 16).as("sig"))
      .localCheckpoint()
    val configs = Seq((16, 1), (8, 2), (4, 4))
    configs.map { case (b, r) =>
      val bandExprs = (0 until b).map { i =>
        val parts = (1 to r).map(k => s"element_at(sig, ${r * i + k})")
        s"concat_ws('-', $i, ${parts.mkString(", ")})"
      }
      val banded = docs.select(col("doc_id"),
        explode(array(bandExprs.map(expr): _*)).as("band"))
      val cand = banded.select(col("doc_id").as("doc_a"), col("band"))
        .join(banded.select(col("doc_id").as("doc_b"), col("band")), Seq("band"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      val ver = cand
        .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
          col("n_sh").as("na")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
          col("n_sh").as("nb")), Seq("doc_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .filter(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")) >= 0.5)
        .agg(count(lit(1)).as("n_verified"),
          coalesce(sum(col("doc_a") + col("doc_b")), lit(0L)).as("verified_id_sum"))
      nCand.crossJoin(ver)
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_verified"), col("verified_id_sum"))
    }.reduce(_ unionByName _).orderBy("bands")
  }

  val d19Oracle: String = {
    def bandList(b: Int, r: Int): String = {
      val parts = (1 to r).map(k => s"sg[$r*b + $k]").mkString(", ")
      s"list_transform(range(0, $b), b -> concat_ws('-', b, $parts))"
    }
    def cfg(b: Int, r: Int): String =
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
        |  (SELECT COUNT(*) FROM cand_${b}_$r) AS n_candidates,
        |  (SELECT COUNT(*) FROM ver_${b}_$r) AS n_verified,
        |  (SELECT CAST(COALESCE(SUM(doc_a + doc_b), 0) AS BIGINT)
        |   FROM ver_${b}_$r) AS verified_id_sum""".stripMargin
    def candCtes(b: Int, r: Int): String =
      s"""banded_${b}_$r AS (
        |  SELECT doc_id, unnest(${bandList(b, r)}) AS band FROM sig
        |), cand_${b}_$r AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded_${b}_$r a JOIN banded_${b}_$r b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |), ver_${b}_$r AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT c.doc_a, c.doc_b,
        |      len(list_intersect(sa.shingles, sb.shingles)) AS inter,
        |      sa.n AS na, sb.n AS nb
        |    FROM cand_${b}_$r c
        |    JOIN sig sa ON sa.doc_id = c.doc_a
        |    JOIN sig sb ON sb.doc_id = c.doc_b)
        |  WHERE CAST(inter AS DOUBLE)/(na + nb - inter) >= 0.5
        |)""".stripMargin
    shingleCte +
    s""", sig AS (
      |  SELECT doc_id, shingles, len(shingles) AS n,
      |    list_transform(range(0, 16), j -> list_min(list_transform(
      |      list_transform(shingles, h0 -> h0 % $P),
      |      h -> (((1664525 * j + 1013904223) % $P) * h + (22695477 * j + 12345) % $P) % $P))) AS sg
      |  FROM s
      |), ${candCtes(16, 1)}, ${candCtes(8, 2)}, ${candCtes(4, 4)}
      |${cfg(16, 1)}
      |UNION ALL ${cfg(8, 2)}
      |UNION ALL ${cfg(4, 4)}
      |ORDER BY bands""".stripMargin
  }

  // d20 — INCREMENTAL exact dedup: the production posture of d01, the
  // dedup analogue of cdc20's incremental apply. Day-1 docs (even ids)
  // fold to a content-hash → keeper INDEX that is PERSISTED to parquet
  // (the real overnight index, read back cold); day-2 docs (odd ids,
  // plus injected syndicated copies of day-1 content at +10M and
  // intra-day duplicates at +20M — the corpus has no natural exact
  // dups) are deduped in two stages: intra-batch (min-id keeper per
  // hash) then anti-joined against the index. Per-language counts of
  // each drop class + kept-id checksum pin the exact routing. At
  // 100 TB this is THE dedup deployment shape: today's crawl shuffles
  // on its own hashes and probes the bucketed index — yesterday's
  // corpus is never rescanned. The oracle replays the same logic
  // one-shot, so the gate proves the persisted round-trip changes
  // nothing (cdc20's parity argument).
  def d20IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), md5(col("text")).as("h"))
    val day1 = base.filter(col("doc_id") % 2 === 0)
    val syndicated = day1.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000001L).as("doc_id"), col("lang"), col("h"))
    val intraDup = base.filter(col("doc_id") % 2 =!= 0 && col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("lang"), col("h"))
    val day2 = base.filter(col("doc_id") % 2 =!= 0)
      .unionByName(syndicated).unionByName(intraDup)

    val idxDir = new java.io.File(
      graft.streaming.Drains.tmpFixtureDir("graft_d20_", dir), "index")
    day1.groupBy("h").agg(min(col("doc_id")).as("keeper"))
      .write.mode("overwrite").parquet(idxDir.getPath)
    val index = spark.read.parquet(idxDir.getPath)

    val wIntra = Window.partitionBy("h").orderBy("doc_id")
    val marked = day2.withColumn("rk", row_number().over(wIntra))
    val survivors = marked.filter(col("rk") === 1)
      .join(index.select(col("h"), lit(1L).as("in_index")), Seq("h"), "left")
    marked.filter(col("rk") > 1)
      .groupBy("lang").agg(count(lit(1)).as("n_intra_dropped"))
      .join(survivors.groupBy("lang").agg(
        count(lit(1)).as("n_batch_uniques"),
        sum(when(col("in_index").isNotNull, 1L).otherwise(0L)).as("n_index_dropped"),
        sum(when(col("in_index").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("in_index").isNull, col("doc_id")).otherwise(0L)).as("kept_id_sum")),
        Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("n_intra_dropped"), lit(0L)).as("n_intra_dropped"),
        coalesce(col("n_batch_uniques"), lit(0L)).as("n_batch_uniques"),
        coalesce(col("n_index_dropped"), lit(0L)).as("n_index_dropped"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
      .orderBy("lang")
  }

  val d20Oracle: String =
    """WITH base AS (
      |  SELECT doc_id, lang, md5(text) AS h FROM documents
      |), day1 AS (
      |  SELECT * FROM base WHERE doc_id % 2 = 0
      |), day2 AS (
      |  SELECT doc_id, lang, h FROM base WHERE doc_id % 2 <> 0
      |  UNION ALL
      |  SELECT doc_id + 10000001, lang, h FROM day1 WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, lang, h FROM base
      |  WHERE doc_id % 2 <> 0 AND doc_id % 7 = 0
      |), idx AS (
      |  SELECT h, MIN(doc_id) AS keeper FROM day1 GROUP BY h
      |), marked AS (
      |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rk
      |  FROM day2
      |), surv AS (
      |  SELECT m.*, i.h IS NOT NULL AS in_index
      |  FROM marked m LEFT JOIN idx i ON m.h = i.h
      |  WHERE m.rk = 1
      |), intra AS (
      |  SELECT lang, COUNT(*) AS n_intra_dropped FROM marked
      |  WHERE rk > 1 GROUP BY lang
      |), ss AS (
      |  SELECT lang, COUNT(*) AS n_batch_uniques,
      |    SUM(CASE WHEN in_index THEN 1 ELSE 0 END) AS n_index_dropped,
      |    SUM(CASE WHEN in_index THEN 0 ELSE 1 END) AS n_kept,
      |    SUM(CASE WHEN in_index THEN 0 ELSE doc_id END) AS kept_id_sum
      |  FROM surv GROUP BY lang
      |)
      |SELECT COALESCE(i.lang, s.lang) AS lang,
      |  CAST(COALESCE(n_intra_dropped, 0) AS BIGINT) AS n_intra_dropped,
      |  CAST(COALESCE(n_batch_uniques, 0) AS BIGINT) AS n_batch_uniques,
      |  CAST(COALESCE(n_index_dropped, 0) AS BIGINT) AS n_index_dropped,
      |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(kept_id_sum, 0) AS BIGINT) AS kept_id_sum
      |FROM intra i FULL OUTER JOIN ss s ON i.lang = s.lang
      |ORDER BY lang""".stripMargin

  // d21 — INCREMENTAL NOVELTY SCORING: for each day-2 document (odd
  // ids), the fraction of its distinct 3-gram shingles NEVER SEEN in
  // the day-1 corpus (even ids) — the n-gram novelty signal curation
  // pipelines use to price an incremental crawl batch (a batch that is
  // mostly old n-grams adds little; per-doc novelty also feeds
  // quality-weighted sampling). Reduced per language: docs, shingle
  // masses, and the count + id-checksum of MOSTLY-NOVEL docs (integer
  // predicate 5·novel ≥ 4·total, i.e. ≥80%). Plan: day-1's distinct
  // shingle set is the probe side of ONE shingle-keyed left join
  // (d02's shuffle class — 8-byte keys); per-doc and per-lang aggs on
  // top. At 100 TB the day-1 set is the bucketed n-gram index d20's
  // pattern persists; today's batch probes it without rescanning
  // yesterday.
  def d21NoveltyScore(spark: SparkSession, dir: String): DataFrame = {
    val sh = withShingles(spark, dir)
      .select(col("doc_id"), col("lang"), explode(col("shingles")).as("h"))
    val day1 = sh.filter(col("doc_id") % 2 === 0).select("h").distinct()
      .withColumn("seen", lit(1L))
    val perDoc = sh.filter(col("doc_id") % 2 =!= 0)
      .join(day1, Seq("h"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("total_shingles"),
        sum(col("n_novel")).as("novel_shingles"),
        sum(when(col("n_novel") * 5 >= col("n_sh") * 4, 1L).otherwise(0L))
          .as("n_mostly_novel"),
        sum(when(col("n_novel") * 5 >= col("n_sh") * 4, col("doc_id"))
          .otherwise(0L)).as("mostly_novel_id_sum"))
      .orderBy("lang")
  }

  val d21Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
      |    list_transform(range(1, len(toks) - 1),
      |      i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])),
      |    g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)))) AS h
      |  FROM d
      |), day1 AS (
      |  SELECT DISTINCT h FROM sh WHERE doc_id % 2 = 0
      |), per_doc AS (
      |  SELECT s.doc_id, s.lang, COUNT(*) AS n_sh,
      |    SUM(CASE WHEN d1.h IS NULL THEN 1 ELSE 0 END) AS n_novel
      |  FROM sh s LEFT JOIN day1 d1 ON s.h = d1.h
      |  WHERE s.doc_id % 2 <> 0
      |  GROUP BY s.doc_id, s.lang
      |)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_sh) AS BIGINT) AS total_shingles,
      |  CAST(SUM(n_novel) AS BIGINT) AS novel_shingles,
      |  CAST(SUM(CASE WHEN n_novel * 5 >= n_sh * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_novel,
      |  CAST(SUM(CASE WHEN n_novel * 5 >= n_sh * 4 THEN doc_id ELSE 0 END) AS BIGINT) AS mostly_novel_id_sum
      |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin

  // d22 — COUNT-MIN SKETCH token frequencies (Cormode–Muthukrishnan):
  // the constant-memory mergeable frequency summary every streaming /
  // multi-pass corpus profiler carries where an exact (lang, term)
  // wordcount (t17) would hold the full vocabulary. Build: each token
  // fans out to depth=4 (row, bucket) cells — bucket_j(term) is the
  // engine's stable md5 bucket salted by the row index, identical hex
  // in both engines — and the whole sketch is ONE hash aggregate over
  // 4×256 cells: constant state per executor, map-side partial merge,
  // exactly the mergeability the structure exists for. Probe: the
  // exact heavy-hitter set (cnt·200 ≥ total, an integer predicate, no
  // top-k tie hazard) joins the 1024-cell sketch and takes min over
  // the 4 rows. The gate pins the CMS invariant est ≥ exact plus the
  // exact overestimates — collisions at width 256 against a ~10k-type
  // vocabulary keep the overestimate branch live, so a hashing or
  // min-fold bug cannot hide. All-integer output.
  def d22CountMin(spark: SparkSession, dir: String): DataFrame = {
    val depth = 4
    val width = 256
    def bucket(j: Int, term: Column): Column =
      conv(substring(md5(concat(lit(s"cms${j}_"), term)), 1, 8), 16, 10)
        .cast("long") % width
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
    val cells = toks
      .select(explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), bucket(j, col("term")).as("bucket"))): _*)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))
    val cnt = toks.groupBy("term").agg(count(lit(1)).as("exact"))
    val tot = cnt.agg(sum(col("exact")).as("total"))
    val heavy = cnt.crossJoin(broadcast(tot))
      .filter(col("exact") * 200 >= col("total"))
      .select("term", "exact")
    val probes = heavy
      .select(col("term"), col("exact"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), bucket(j, col("term")).as("bucket"))): _*)).as("p"))
      .select(col("term"), col("exact"), col("p.j").as("j"),
        col("p.bucket").as("bucket"))
    probes.join(broadcast(cells), Seq("j", "bucket"))
      .groupBy("term", "exact")
      .agg(min(col("cell")).as("est"))
      .withColumn("overest", col("est") - col("exact"))
      .select("term", "exact", "est", "overest")
      .orderBy("term")
  }

  val d22Oracle: String = {
    val width = 256
    def bucket(j: Int, term: String): String =
      s"CAST(('0x' || substr(md5('cms${j}_' || $term), 1, 8)) AS BIGINT) % $width"
    s"""WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
      |), cells AS (
      |  SELECT j, bucket, COUNT(*) AS cell FROM (
      |    ${(0 until 4).map(j =>
            s"SELECT $j AS j, ${bucket(j, "term")} AS bucket FROM toks")
            .mkString("\n    UNION ALL ")}
      |  ) GROUP BY j, bucket
      |), cnt AS (
      |  SELECT term, COUNT(*) AS exact FROM toks GROUP BY term
      |), tot AS (
      |  SELECT CAST(SUM(exact) AS BIGINT) AS total FROM cnt
      |), heavy AS (
      |  SELECT term, exact FROM cnt, tot WHERE exact * 200 >= total
      |), probes AS (
      |  ${(0 until 4).map(j =>
            s"SELECT term, exact, $j AS j, ${bucket(j, "term")} AS bucket FROM heavy")
            .mkString("\n  UNION ALL ")}
      |)
      |SELECT term, exact, MIN(cell) AS est, MIN(cell) - exact AS overest
      |FROM probes JOIN cells USING (j, bucket)
      |GROUP BY term, exact
      |ORDER BY term""".stripMargin
  }

  // d23 — TF-WEIGHTED SPARSE COSINE similarity join (the AllPairs/PPJoin
  // family): documents as sparse term-frequency vectors over word
  // TRIGRAMS, pairs generated through the posting-list inverted index
  // (the d02 machinery — one shuffle on the term, native PostingPairs
  // expansion, df-capped lists), scored with the exact weighted cosine.
  // This is the weighted complement of d02's set Jaccard: tf multiplicity
  // matters (repeated boilerplate phrases — t19's template replicas —
  // raise a pair's score under cosine but not under Jaccard). Trigram
  // terms, not unigrams: the synthetic corpus draws from a ~30-word
  // vocabulary, so every unigram is a stop-term at sf0.1 and the df cap
  // [2, 100] would keep nothing — the trigram space is combinatorial and
  // keeps the posting-list cost model live at every SF (the same reason
  // d02 shingles at n = 3). Exactness: cosine² in parts-per-million by
  // pure BIGINT arithmetic — dot²·10⁶ div (‖a‖²·‖b‖²) — no sqrt, no
  // float fold; norms are defined over the df-kept vocabulary (the
  // capped subspace IS the declared metric space, so the score is a true
  // cosine there). The posting lists feed both the pair expansion and
  // the norms from ONE materialization (localCheckpoint — the p01
  // anti-join-diamond lesson: the two consumers prune differently, so
  // ReuseExchange cannot fire).
  def d23TfCosine(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(tk) - 2), i -> concat_ws(' ',
          |  element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))""".stripMargin))
        .as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("int").as("tf"))
    // Pre-count + left-semi BEFORE the collect (the d02 buffer-bound
    // discipline): tf is unique per (doc, term), so count(*) per term IS
    // the posting length, and dropping out-of-band terms first means no
    // aggregation buffer ever exceeds the df cap — a post-collect size
    // filter would materialize a stop-term's full posting list in one
    // buffer before dropping it.
    val kept = tf.groupBy("term").agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt").between(2, 100))
      .select("term")
    val lists = tf.join(kept, Seq("term"), "left_semi")
      .groupBy("term")
      .agg(collect_list(struct(col("doc_id"), col("tf"))).as("ds"))
      .localCheckpoint()
    val n2 = lists
      .select(explode(col("ds")).as("dt"))
      .select(col("dt.doc_id").as("doc_id"), col("dt.tf").as("tf"))
      .groupBy("doc_id")
      .agg(sum(col("tf").cast("long") * col("tf")).as("n2"))
    val dots = lists
      .select(graft.functions.PostingPairs.postingPairs(col("ds"))
        .as(Seq("doc_a", "na", "doc_b", "nb")))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("na").cast("long") * col("nb")).as("dot"))
    dots
      .join(n2.select(col("doc_id").as("doc_a"), col("n2").as("n2_a")), Seq("doc_a"))
      .join(n2.select(col("doc_id").as("doc_b"), col("n2").as("n2_b")), Seq("doc_b"))
      .withColumn("simsq_ppm", expr("(dot * dot * 1000000) div (n2_a * n2_b)"))
      .filter(col("simsq_ppm") >= 250000)
      .select("doc_a", "doc_b", "dot", "n2_a", "n2_b", "simsq_ppm")
      .orderBy("doc_a", "doc_b")
  }

  val d23Oracle: String =
    """WITH toks AS (
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
      |)
      |SELECT doc_a, doc_b, dot, n2_a, n2_b, simsq_ppm FROM (
      |  SELECT doc_a, doc_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b,
      |    CAST((dot * dot * 1000000) // (na.n2 * nb.n2) AS BIGINT) AS simsq_ppm
      |  FROM dots
      |  JOIN n2 na ON na.doc_id = doc_a
      |  JOIN n2 nb ON nb.doc_id = doc_b)
      |WHERE simsq_ppm >= 250000
      |ORDER BY doc_a, doc_b""".stripMargin

  // d24 — SOFT DEDUP (down-weighting instead of deletion): every document
  // keeps weight 1/|component| over the d10 near-dup components, so a
  // family of k near-copies contributes one document's worth of mass to
  // the training mixture instead of k (or instead of 1 chosen arbitrarily
  // — the alternative policies are d12's hard keeper and no dedup; soft
  // weighting is what a sampler uses when it wants determinism without
  // discarding coverage). Weights are exact integer ppm (10⁶ div size;
  // the div-floor loses < 1 ppm per doc and is identical cross-engine).
  // Output per (lang, source): raw doc count, effective ppm mass (the
  // "deduplicated corpus size" the mixture planner reads), and the
  // distinct components touching the group. Plan: the gated CC labeling,
  // one component-keyed size join, one (lang, source) hash agg.
  def d24SoftDedup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Dedup.jaccardPairs(withShingles(spark, dir), "doc_id", 0.5)
    val comp = graft.ops.Dedup.connectedComponents(
      Tables.documents(spark, dir).select("doc_id"), pairs,
      "doc_id", "doc_a", "doc_b", checkpointEvery = 1)
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("csize"))
    Tables.documents(spark, dir).select("doc_id", "lang", "source")
      .join(comp, Seq("doc_id"))
      .join(sizes, Seq("component"))
      .withColumn("w_ppm", expr("1000000 div csize"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w_ppm")).as("eff_ppm"),
        countDistinct(col("component")).as("n_components"))
      .orderBy("lang", "source")
  }

  val d24Oracle: String =
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + pairScoredCte +
    """, pairs AS (
      |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5
      |), sym AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |), reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a
      |), mn AS (
      |  SELECT a AS doc_id, MIN(b) AS m FROM reach GROUP BY a
      |), comp AS (
      |  SELECT d.doc_id, d.lang, d.source,
      |    LEAST(COALESCE(m.m, d.doc_id), d.doc_id) AS component
      |  FROM documents d LEFT JOIN mn m USING (doc_id)
      |), sizes AS (
      |  SELECT component, COUNT(*) AS csize FROM comp GROUP BY component
      |)
      |SELECT c.lang, c.source, COUNT(*) AS n_docs,
      |  CAST(SUM(1000000 // s.csize) AS BIGINT) AS eff_ppm,
      |  CAST(COUNT(DISTINCT c.component) AS BIGINT) AS n_components
      |FROM comp c JOIN sizes s USING (component)
      |GROUP BY c.lang, c.source
      |ORDER BY c.lang, c.source""".stripMargin

  // d25 — NEAR-DUP-AWARE SPLIT LEAKAGE (the eval-integrity table): a
  // train/test split drawn per DOCUMENT leaks — near-duplicate pairs
  // straddle the boundary and the test set is contaminated by
  // construction; splitting per near-dup COMPONENT (every doc inherits
  // its d10 component's assignment) makes straddling impossible. This
  // query runs BOTH policies over the same deterministic assignment rule
  // (residue-5 on doc_id vs on component label) and reports the
  // straddling-pair count side by side — nonzero for the naive arm
  // (data-dependent, live at every SF), structurally zero for the
  // component arm, and the gate pins that the implementation actually
  // achieves the zero (a broken component join resurrects leaks). This
  // is t16's grouped-split argument upgraded from exact-key groups to
  // the transitive near-dup closure. Plan: the gated pair+CC subtrees,
  // two id-keyed assignment joins per arm, two hash aggs.
  def d25SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val pairs = graft.ops.Dedup.jaccardPairs(withShingles(spark, dir), "doc_id", 0.5)
      .select("doc_a", "doc_b").localCheckpoint() // probed by both arms
    val comp = graft.ops.Dedup.connectedComponents(
      docs, pairs.toDF(), "doc_id", "doc_a", "doc_b", checkpointEvery = 1)
    def arm(assign: DataFrame, policy: String): DataFrame = {
      val a = assign.select(col("doc_id").as("doc_a"), col("is_train").as("tr_a"))
      val b = assign.select(col("doc_id").as("doc_b"), col("is_train").as("tr_b"))
      val leaks = pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("tr_a") =!= col("tr_b"), 1L).otherwise(0L)).as("n_leaky_pairs"))
      val counts = assign.agg(
        sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_test"))
      counts.crossJoin(leaks).select(lit(policy).as("policy"),
        col("n_train"), col("n_test"), col("n_pairs"), col("n_leaky_pairs"))
    }
    val naive = docs.withColumn("is_train", col("doc_id") % 5 =!= 0)
    val byComp = comp.withColumn("is_train", col("component") % 5 =!= 0)
      .select("doc_id", "is_train")
    arm(naive, "per_document").unionByName(arm(byComp, "per_component"))
      .orderBy("policy")
  }

  val d25Oracle: String =
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + pairScoredCte +
    """, pairs AS (
      |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5
      |), sym AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |), reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a
      |), mn AS (
      |  SELECT a AS doc_id, MIN(b) AS m FROM reach GROUP BY a
      |), comp AS (
      |  SELECT d.doc_id,
      |    LEAST(COALESCE(m.m, d.doc_id), d.doc_id) AS component
      |  FROM documents d LEFT JOIN mn m USING (doc_id)
      |), naive AS (
      |  SELECT doc_id, doc_id % 5 <> 0 AS is_train FROM documents
      |), bycomp AS (
      |  SELECT doc_id, component % 5 <> 0 AS is_train FROM comp
      |), arms AS (
      |  SELECT 'per_document' AS policy, a.is_train AS tr_a, b.is_train AS tr_b
      |  FROM pairs p JOIN naive a ON a.doc_id = p.doc_a
      |  JOIN naive b ON b.doc_id = p.doc_b
      |  UNION ALL
      |  SELECT 'per_component', a.is_train, b.is_train
      |  FROM pairs p JOIN bycomp a ON a.doc_id = p.doc_a
      |  JOIN bycomp b ON b.doc_id = p.doc_b
      |), leak AS (
      |  SELECT policy, COUNT(*) AS n_pairs,
      |    CAST(SUM(CASE WHEN tr_a <> tr_b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_leaky_pairs
      |  FROM arms GROUP BY policy
      |), counts AS (
      |  SELECT 'per_document' AS policy,
      |    CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |    CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS n_test
      |  FROM naive
      |  UNION ALL
      |  SELECT 'per_component',
      |    CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM bycomp
      |)
      |SELECT c.policy, c.n_train, c.n_test, l.n_pairs, l.n_leaky_pairs
      |FROM counts c JOIN leak l USING (policy)
      |ORDER BY c.policy""".stripMargin

  // d26 — CONTAINMENT near-dup detection (Broder's containment
  // coefficient, inter/min(|A|,|B|)): the subset-duplication class that
  // Jaccard structurally MISSES — a document wholly contained in a
  // larger one (excerpts, truncated syndication, template cores) has
  // containment ≈ 1 but Jaccard ≈ |small|/|large|, below any sane
  // near-dup threshold. The natural corpus has no such pairs (replicas
  // are near-identical: all 25-256 containment-hits also pass Jaccard),
  // so half-documents are INJECTED (%41 → first half of the token
  // stream at doc_id + 20M) and the query reports exactly the
  // high-containment / low-Jaccard class — the pairs a Jaccard-only
  // pipeline ships as "not duplicates". Same posting-list cost model as
  // d02 (shared jaccardPairCounts); the score is one more integer-ppm
  // column off the same (inter, na, nb) triple.
  def d26Containment(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val injected = base.unionByName(
      base.filter(col("doc_id") % 41 === 0)
        .withColumn("tk", split(col("text"), " "))
        .select((col("doc_id") + 20000000L).as("doc_id"),
          array_join(expr("slice(tk, 1, cast(size(tk) div 2 as int))"), " ")
            .as("text")))
    val sh = graft.ops.Dedup.withShingles(
      injected.withColumn("toks", split(col("text"), " ")), "toks")
    graft.ops.Dedup.jaccardPairCounts(sh, "doc_id")
      .withColumn("cont_ppm", expr("(inter * 1000000) div least(na, nb)"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("cont_ppm") >= 800000 && col("jaccard") < 0.5)
      .select("doc_a", "doc_b", "inter", "na", "nb", "cont_ppm")
      .orderBy("doc_a", "doc_b")
  }

  val d26Oracle: String =
    """WITH dd AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 20000000,
      |    array_to_string(string_split(text, ' ')[1:
      |      len(string_split(text, ' ')) // 2], ' ')
      |  FROM documents WHERE doc_id % 41 = 0
      |), d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM dd
      |  WHERE len(string_split(text, ' ')) >= 3
      |), s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      list_transform(range(1, len(toks) - 1),
      |        i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])),
      |      g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT))) AS shingles
      |  FROM d
      |), e AS (
      |  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS sh FROM s
      |), freq AS (
      |  SELECT sh FROM e GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 100
      |), scored AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
      |    COUNT(*) AS inter,
      |    CAST(COUNT(*) AS DOUBLE)/(a.n + b.n - COUNT(*)) AS jaccard
      |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  JOIN freq f ON f.sh = a.sh
      |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
      |)
      |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
      |  CAST(na AS INT) AS na, CAST(nb AS INT) AS nb,
      |  CAST((inter * 1000000) // LEAST(na, nb) AS BIGINT) AS cont_ppm
      |FROM scored
      |WHERE (inter * 1000000) // LEAST(na, nb) >= 800000 AND jaccard < 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // d27 — WIDE-BAND SIMHASH near-dup (d08's declared 100-TB layout,
  // gated): 60-bit fingerprints split into 4 × 15-bit pigeonhole bands,
  // so the band-value space is 2^15 — 128× d08's 2^8 — and a band
  // bucket's expected occupancy (the quadratic self-join mass) shrinks
  // by the same factor; recall stays EXACT for Hamming ≤ 3 (any two
  // signatures within distance 3 agree on one whole band of 4). The
  // wider fingerprint also kills d08's small-space false candidates:
  // with 32 bits over this corpus's ~30-word vocabulary, hundreds of
  // unrelated doc pairs land within Hamming 3; at 60 bits only true
  // near-replicas do — so the gate injects deterministic tail-marker
  // replicas of every doc_id % 37 == 0 document (the d26 pattern) and
  // pins that each replica pairs with its source at small distance.
  def d27Simhash60(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val injected = base.unionByName(
      base.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          concat(col("text"), lit(" tail marker")).as("text")))
    val sh = injected
      .withColumn("toks", split(col("text"), " "))
      .withColumn("simhash", graft.ops.Dedup.simHashSignature60(col("toks")))
      .select("doc_id", "simhash")
    graft.ops.Dedup.simhashNearDups(sh, "doc_id", "simhash",
        maxHamming = 3, bands = 4, bits = 60, maxBucket = 256)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  val d27Oracle: String =
    """WITH dd AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 30000000, text || ' tail marker'
      |  FROM documents WHERE doc_id % 37 = 0
      |), sh AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 60), b ->
      |      CASE WHEN list_sum(list_transform(
      |             list_transform(string_split(text, ' '),
      |               t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)),
      |             c -> ((c >> b) & 1) * 2 - 1)) > 0
      |           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
      |  FROM dd
      |), e AS (
      |  SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bval
      |  FROM sh, generate_series(0, 3) t(b)
      |), bk AS (
      |  SELECT b, bval FROM e GROUP BY b, bval HAVING COUNT(*) BETWEEN 2 AND 256
      |), ek AS (
      |  SELECT e.* FROM e JOIN bk USING (b, bval)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |    a.simhash AS sa, b2.simhash AS sb
      |  FROM ek a JOIN ek b2 ON a.b = b2.b AND a.bval = b2.bval
      |    AND a.doc_id < b2.doc_id
      |)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // d28 — EDIT-DISTANCE VERIFY of LSH candidates: the exact-verification
  // stage of a production fuzzy-dedup funnel (LSH proposes, an exact
  // metric confirms before anything is dropped). Candidates are d03's
  // minhash-band pairs (bucket-keyed equi-join, df-capped — never
  // all-pairs); each candidate then passes (1) a free length gate —
  // |len_a − len_b| is a Levenshtein lower bound, so pairs whose length
  // gap alone exceeds the 20% budget never pay the O(n·m) distance — and
  // (2) exact Levenshtein over a 1000-char prefix (the per-pair cost
  // bound: at 100 TB compared cost is candidates × O(cap²), independent
  // of document length). GATE DOMAIN: ASCII-exact documents only
  // (octet_length = char length, the same test in both engines) —
  // Spark's levenshtein counts CODE POINTS while DuckDB's counts UTF-8
  // BYTES, so a non-ASCII pair would diverge ('é'→'e' is 1 vs 2); the
  // engine-side distance (code points) is the correct one, the
  // restriction just keeps the byte-based oracle honest on the domain
  // where the two definitions coincide. Verdict is integer ppm of the
  // longer compared prefix — no floats.
  def d28EditVerify(spark: SparkSession, dir: String): DataFrame = {
    val cap = 1000
    val docs = Tables.documents(spark, dir)
      .filter(octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), substring(col("text"), 1, cap).as("head"),
        least(length(col("text")), lit(cap)).as("len"))
    val cand = graft.ops.Dedup
      .minHashLshPairs(withShingles(spark, dir), "doc_id", 0.5)
      .select("doc_a", "doc_b")
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("head").as("head_a"),
        col("len").as("len_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("head").as("head_b"),
        col("len").as("len_b")), Seq("doc_b"))
      .filter(abs(col("len_a") - col("len_b")) * 5 <= greatest(col("len_a"), col("len_b")))
      .withColumn("lev", levenshtein(col("head_a"), col("head_b")))
      .withColumn("lev_ppm",
        expr("CAST(lev AS BIGINT) * 1000000 DIV greatest(len_a, len_b)"))
      .filter(col("lev_ppm") <= 200000)
      .select(col("doc_a"), col("doc_b"), col("lev"), col("lev_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  val d28Oracle: String =
    shingleCte +
    s""", sig AS (
      |  SELECT doc_id, shingles, len(shingles) AS n,
      |    list_transform(range(0, 16), j -> list_min(list_transform(
      |      list_transform(shingles, h0 -> h0 % $P),
      |      h -> (((1664525 * j + 1013904223) % $P) * h + (22695477 * j + 12345) % $P) % $P))) AS sg
      |  FROM s
      |), banded AS (
      |  SELECT doc_id, shingles, n, unnest(list_transform(range(0, 4),
      |    b -> concat_ws('-', b, sg[4*b + 1], sg[4*b + 2], sg[4*b + 3], sg[4*b + 4]))) AS band
      |  FROM sig
      |), bcnt AS (
      |  SELECT band FROM banded GROUP BY band HAVING COUNT(*) BETWEEN 2 AND 256
      |), bandedk AS (
      |  SELECT b.* FROM banded b JOIN bcnt k USING (band)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.shingles AS sh_a, b.shingles AS sh_b, a.n AS na, b.n AS nb
      |  FROM bandedk a JOIN bandedk b ON a.band = b.band AND a.doc_id < b.doc_id
      |), pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT doc_a, doc_b,
      |      CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)/(na + nb - len(list_intersect(sh_a, sh_b))) AS jaccard
      |    FROM cand)
      |  WHERE jaccard >= 0.5
      |), dl AS (
      |  SELECT doc_id, substr(text, 1, 1000) AS head,
      |    least(length(text), 1000) AS l
      |  FROM documents
      |  WHERE strlen(text) = length(text)
      |)
      |SELECT doc_a, doc_b, CAST(levenshtein(a.head, b.head) AS INT) AS lev,
      |  CAST(CAST(levenshtein(a.head, b.head) AS BIGINT) * 1000000 // greatest(a.l, b.l) AS BIGINT) AS lev_ppm
      |FROM pairs JOIN dl a ON doc_a = a.doc_id JOIN dl b ON doc_b = b.doc_id
      |WHERE abs(a.l - b.l) * 5 <= greatest(a.l, b.l)
      |  AND CAST(levenshtein(a.head, b.head) AS BIGINT) * 1000000 // greatest(a.l, b.l) <= 200000
      |ORDER BY doc_a, doc_b""".stripMargin

  // d29 — SHARED-SPAN MEASUREMENT between near-dup candidates: the
  // cross-document substring-dedup metric (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better" §4 — their unit is the
  // longest shared substring; ours is its token-level analogue). For each
  // d03 candidate pair, positioned 8-gram hashes of both documents meet
  // on an equi-join over (pair, gram-hash); matches on the same alignment
  // diagonal (i − j) that are consecutive form a shared span, extracted
  // with the classic gaps-and-islands trick (i − row_number per diagonal
  // is constant within a run) — so the longest common contiguous token
  // run is computed by joins + windows, never by per-pair string DP. All
  // windows are keyed by (pair, diagonal); candidate mass is LSH-capped;
  // at 100 TB this is the production "verify and LOCATE the overlap"
  // stage that decides clip-vs-drop for near-duplicate documents.
  // An L-run of 8-grams covers L+7 tokens. All-integer output.
  /** Positioned 8-gram hashes of a (doc_id, toks) frame: one row per
    * window start, (doc_id, pos, gv) with gv the 60-bit md5-prefix hash
    * of the space-joined window — the substring-location primitive shared
    * by d29 (span measurement) and d30 (span clipping). Native
    * [[graft.functions.ShinglePos60]] kernel (one fused loop per row; the
    * transform(sequence(...)) HOF route interprets a lambda and
    * re-dispatches md5 per window — on a corpus-scan-bound operator that
    * per-element overhead is the scan cost). */
  private[queries] def grams8(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.TextHashFunctions.shinglePos60(col("toks"), 8)).as("g8"))
      .select(col("doc_id"), col("g8.pos").as("pos"), col("g8.gv").as("gv"))

  def d29SharedSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3) // d03's shingle-eligibility domain
    val grams = grams8(docs)
    val cand = graft.ops.Dedup
      .minHashLshPairs(withShingles(spark, dir), "doc_id", 0.5)
      .select("doc_a", "doc_b")
    val matches = cand
      .join(grams.select(col("doc_id").as("doc_a"), col("pos").as("i"),
        col("gv")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("pos").as("j"),
        col("gv")), Seq("doc_b", "gv"))
    val wDiag = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("i")
    matches
      .withColumn("diag", col("i") - col("j"))
      .withColumn("grp", col("i") - row_number().over(wDiag))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("run")).as("n_matches"), count(lit(1)).as("n_runs"),
        (max(col("run")) + 7).as("longest_span_tokens"))
      .orderBy("doc_a", "doc_b")
  }

  val d29Oracle: String =
    shingleCte +
    s""", sig AS (
      |  SELECT doc_id, shingles, len(shingles) AS n,
      |    list_transform(range(0, 16), j -> list_min(list_transform(
      |      list_transform(shingles, h0 -> h0 % $P),
      |      h -> (((1664525 * j + 1013904223) % $P) * h + (22695477 * j + 12345) % $P) % $P))) AS sg
      |  FROM s
      |), banded AS (
      |  SELECT doc_id, shingles, n, unnest(list_transform(range(0, 4),
      |    b -> concat_ws('-', b, sg[4*b + 1], sg[4*b + 2], sg[4*b + 3], sg[4*b + 4]))) AS band
      |  FROM sig
      |), bcnt AS (
      |  SELECT band FROM banded GROUP BY band HAVING COUNT(*) BETWEEN 2 AND 256
      |), bandedk AS (
      |  SELECT b.* FROM banded b JOIN bcnt k USING (band)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.shingles AS sh_a, b.shingles AS sh_b, a.n AS na, b.n AS nb
      |  FROM bandedk a JOIN bandedk b ON a.band = b.band AND a.doc_id < b.doc_id
      |), pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT doc_a, doc_b,
      |      CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)/(na + nb - len(list_intersect(sh_a, sh_b))) AS jaccard
      |    FROM cand)
      |  WHERE jaccard >= 0.5
      |), ${duckGrams8Cte("d")}, mm AS (
      |  SELECT p.doc_a, p.doc_b, ga.i AS i, gb.i AS j
      |  FROM pairs p
      |  JOIN g ga ON ga.doc_id = p.doc_a
      |  JOIN g gb ON gb.doc_id = p.doc_b AND gb.gv = ga.gv
      |), runs AS (
      |  SELECT doc_a, doc_b, i - j AS diag,
      |    i - row_number() OVER (PARTITION BY doc_a, doc_b, i - j ORDER BY i) AS grp
      |  FROM mm
      |), rl AS (
      |  SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run
      |  FROM runs GROUP BY doc_a, doc_b, diag, grp
      |)
      |SELECT doc_a, doc_b, CAST(SUM(run) AS BIGINT) AS n_matches,
      |  COUNT(*) AS n_runs, CAST(MAX(run) + 7 AS BIGINT) AS longest_span_tokens
      |FROM rl GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin

  // d30 — SPAN-LEVEL DECONTAMINATION (clip, don't drop): d11 flags whole
  // documents; the production action for benchmark overlap is to remove
  // only the contaminated WINDOW and keep the rest of the document
  // (open-source pipelines clip matched benchmark spans ± a margin). The
  // held-out split's distinct 8-grams are the benchmark set; every train
  // document position whose 8-gram appears there is contaminated and
  // covers tokens [i, i+7]; overlapping covers union into maximal spans
  // via the running-max islands window (a span starts where i exceeds the
  // cummax of previous span ends — all windows keyed by doc_id). Output
  // is the per-language clip report: docs touched, tokens removed vs
  // total in touched docs, span count — the numbers a release card needs
  // to state benchmark-leakage handling. One gram-keyed semi-join + one
  // doc-keyed window; the benchmark gram set is itself distributed
  // (semi-join, never a broadcast list) so a 100× benchmark suite
  // changes nothing structurally.
  /** Per-document clip report over contaminated gram positions: each
    * (doc_id, pos) hit covers tokens [pos, pos+7]; overlapping covers
    * union into maximal spans via the running-max islands window (a span
    * starts where pos exceeds the cummax of previous span ends — windows
    * keyed by doc_id). Output: (doc_id, removed, n_spans). Shared by d30
    * and the p11 release funnel. */
  private[queries] def clipReport(hits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + 7)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("island",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"), max(col("pos") + 7).as("e"))
      .groupBy("doc_id")
      .agg(sum(col("e") - col("s") + 1).as("removed"),
        count(lit(1)).as("n_spans"))
  }

  def d30DecontaminateClip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("split", graft.ops.TextOps.hashSplit(col("doc_id")))
    val bench = grams8(docs.filter(col("split") === "test"))
      .select("gv").distinct()
    val hits = grams8(docs.filter(col("split") === "train"))
      .join(bench, Seq("gv"), "left_semi")
    val perDoc = clipReport(hits)
    docs.filter(col("split") === "train")
      .select(col("doc_id"), col("lang"), size(col("toks")).as("n_toks"))
      .join(perDoc, Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs_touched"),
        sum(col("removed")).as("tokens_removed"),
        sum(col("n_toks").cast("long")).as("tokens_in_touched"),
        sum(col("n_spans")).as("n_spans"))
      .orderBy("lang")
  }

  val d30Oracle: String =
    s"""WITH dd AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents
      |), ${duckGrams8Cte("dd", "bucket, ")}, bench AS (
      |  SELECT DISTINCT gv FROM g WHERE bucket >= 90
      |), hits AS (
      |  SELECT DISTINCT g.doc_id, g.i FROM g JOIN bench USING (gv) WHERE g.bucket < 80
      |), $duckClipCtes
      |SELECT lang, COUNT(*) AS n_docs_touched,
      |  CAST(SUM(removed) AS BIGINT) AS tokens_removed,
      |  CAST(SUM(len(toks)) AS BIGINT) AS tokens_in_touched,
      |  CAST(SUM(n_spans) AS BIGINT) AS n_spans
      |FROM dd JOIN pd USING (doc_id)
      |WHERE bucket < 80
      |GROUP BY lang ORDER BY lang""".stripMargin

  // d31 — CONTENT-DEFINED CHUNKING (the Rabin/gear-hash storage-dedup
  // primitive, token-level): chunk boundaries fall where the rolling
  // window's content hash ≡ 0 (mod 16) — a pure function of LOCAL
  // content, so an insertion early in a document only reshapes chunks
  // until the next boundary, where fixed-size chunking (d13) shifts every
  // subsequent window. Expected chunk ≈ 16 tokens. Boundary positions
  // come from the shared positioned-gram kernel; chunk spans derive from
  // boundary lag + the tail remainder (doc-keyed windows); chunk identity
  // is the md5 of the sliced token span, counted corpus-wide for the
  // cross-document duplicate-chunk report per language — the
  // incremental-transfer / delta-storage accounting at 100 TB. */
  def d31CdcChunking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dd = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .select("doc_id", "lang", "toks")
    val b = grams8(dd).filter(col("gv") % 16 === 0)
      .select(col("doc_id"), col("pos").as("i"))
    val wD = Window.partitionBy("doc_id").orderBy("i")
    val heads = b.withColumn("s", coalesce(lag(col("i"), 1).over(wD), lit(0)) + 1)
      .select(col("doc_id"), col("s"), col("i").as("e"))
    val lastb = b.groupBy("doc_id").agg(max(col("i")).as("mb"))
    val tails = dd.join(lastb, Seq("doc_id"), "left")
      .withColumn("mb", coalesce(col("mb"), lit(0)))
      .filter(col("mb") < size(col("toks")))
      .select(col("doc_id"), (col("mb") + 1).as("s"), size(col("toks")).as("e"))
    val ch = heads.unionByName(tails).join(dd, Seq("doc_id"))
      .select(col("doc_id"), col("s"), col("e"),
        md5(concat_ws(" ",
          slice(col("toks"), col("s"), col("e") - col("s") + 1))).as("h"))
    val hc = ch.groupBy("h").agg(count(lit(1)).as("c"))
    ch.join(dd.select("doc_id", "lang"), Seq("doc_id")).join(hc, Seq("h"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("n_distinct_chunks"),
        sum((col("e") - col("s") + 1).cast("long")).as("total_tokens"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_chunk_instances"),
        sum(when(col("c") > 1, (col("e") - col("s") + 1).cast("long"))
          .otherwise(0L)).as("dup_tokens"))
      .orderBy("lang")
  }

  val d31Oracle: String =
    s"""WITH dd AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
      |), ${duckGrams8Cte("dd")}, b AS (
      |  SELECT doc_id, i FROM g WHERE gv % 16 = 0
      |), heads AS (
      |  SELECT doc_id, COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS s, i AS e
      |  FROM b
      |), lastb AS (
      |  SELECT doc_id, MAX(i) AS mb FROM b GROUP BY doc_id
      |), tails AS (
      |  SELECT dd.doc_id, COALESCE(mb, 0) + 1 AS s, len(toks) AS e
      |  FROM dd LEFT JOIN lastb USING (doc_id)
      |  WHERE COALESCE(mb, 0) < len(toks)
      |), sp AS (
      |  SELECT * FROM heads UNION ALL SELECT * FROM tails
      |), ch AS (
      |  SELECT sp.doc_id, s, e,
      |    md5(array_to_string(list_slice(toks, s, e), ' ')) AS h
      |  FROM sp JOIN dd USING (doc_id)
      |), hc AS (
      |  SELECT h, COUNT(*) AS c FROM ch GROUP BY h
      |)
      |SELECT lang, COUNT(*) AS n_chunks,
      |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_chunks,
      |  CAST(SUM(e - s + 1) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunk_instances,
      |  CAST(SUM(CASE WHEN c > 1 THEN e - s + 1 ELSE 0 END) AS BIGINT) AS dup_tokens
      |FROM ch JOIN dd USING (doc_id) JOIN hc USING (h)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // d32 — STREAMING NEAR-DUP AT INGEST (the production posture of d03:
  // documents arrive as a stream and each must be flagged against
  // everything ALREADY ingested, not a completed corpus): the corpus
  // rides the wire as binlog files in doc_id-RANGE partitions (ordered
  // ingestion — the binlog source's natural-version file order), and
  // per micro-batch the new docs' MinHash band keys (d03's exact
  // banding, shared via Dedup.minHashBands) probe the ACCUMULATED band
  // index (a ViewMaintenance state of distinct bands — set union is
  // idempotent, so redelivery is free) plus the batch's own
  // smaller-id-first intra-batch minima; hits flag, then the batch's
  // bands join the index. Because batches are id-ordered and ALL docs
  // index (dups too — the d20 convention keeps syndication chains
  // findable), the flagged set is EXACTLY "∃ earlier doc sharing a band
  // bucket" — batch-split-independent, which is what lets a plain batch
  // oracle gate a stream. Flagging is EXISTENCE (semi-joins on the band
  // key, no pair materialization), so hot bands cost one probe, not a
  // k²/2 blowup — cheaper than d03's verified pairs because ingest only
  // needs the verdict; candidates needing exact-Jaccard verification
  // route to d03/d28 downstream. Output per lang: corpus size, flagged
  // count, flagged-id checksum.
  def d32StreamLshIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val (root, feed, state, ckpt) = graft.streaming.Drains.streamDirs("graft_d32_", dir)
    val flags = new java.io.File(root, "flags").getPath
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // id-RANGE partitions → the sink's file numbering IS ingestion order
    graft.ingest.BinlogSink.writeKeyedStrings(
      docs.repartitionByRange(4, col("doc_id")), feed) // VARCHAR bound derived from the data (r12 advice)
    graft.streaming.Drains.drainBinlog(spark, Seq(feed), ckpt) { (batch, _) =>
      val d = batch.filter(col("event_type") === "WriteRowsEventV2")
        .select(explode(col("row_images")).as("img"))
        .select(element_at(col("img"), 1).cast("long").as("doc_id"),
          element_at(col("img"), 2).as("text"))
        .withColumn("toks", split(col("text"), " "))
      val banded = graft.ops.Dedup.minHashBands(
          graft.ops.Dedup.withShingles(d, "toks"), "doc_id")
        .localCheckpoint(true) // probed twice + appended
      val idx = ViewMaintenance.readState(spark, state, "band STRING")
      val hitIdx = banded.join(idx, Seq("band"), "left_semi")
        .select("doc_id")
      val intraMin = banded.groupBy("band").agg(min(col("doc_id")).as("mn"))
      val hitIntra = banded.join(intraMin, Seq("band"))
        .filter(col("doc_id") > col("mn")).select("doc_id")
      // disjoint state dirs; the flags plan's index read froze its
      // listing at readState and appends never delete — overlap (§2.6)
      graft.streaming.Drains.inParallel(
        () => ViewMaintenance.appendBatch(
          hitIdx.unionByName(hitIntra).distinct(), flags),
        () => ViewMaintenance.appendBatch(
          banded.select("band").distinct(), state))
    }
    // distinct at read: the flags table is a SET — under a redelivered
    // batch the same doc_id would be appended twice, and a raw read would
    // duplicate rows through the report join below (the set-union
    // idempotence claim holds only if the reader folds duplicates)
    val flagged = ViewMaintenance.readState(spark, flags, "doc_id BIGINT")
      .distinct()
      .withColumn("flagged", lit(1L))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(flagged, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("flagged"), lit(0L))).as("n_flagged"),
        sum(when(col("flagged").isNotNull, col("doc_id")).otherwise(0L))
          .as("flagged_id_sum"))
      .orderBy("lang")
  }

  val d32Oracle: String =
    shingleCte +
    s""", sig AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 16), j -> list_min(list_transform(
      |      list_transform(shingles, h0 -> h0 % $P),
      |      h -> (((1664525 * j + 1013904223) % $P) * h + (22695477 * j + 12345) % $P) % $P))) AS sg
      |  FROM s
      |), banded AS (
      |  SELECT doc_id, unnest(list_transform(range(0, 4),
      |    b -> concat_ws('-', b, sg[4*b + 1], sg[4*b + 2], sg[4*b + 3], sg[4*b + 4]))) AS band
      |  FROM sig
      |), bmin AS (
      |  SELECT band, MIN(doc_id) AS mn FROM banded GROUP BY band
      |), flagged AS (
      |  SELECT DISTINCT b.doc_id FROM banded b
      |  JOIN bmin m USING (band) WHERE b.doc_id > m.mn
      |)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_flagged,
      |  CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN d.doc_id ELSE 0 END)
      |    AS BIGINT) AS flagged_id_sum
      |FROM documents d LEFT JOIN flagged f ON f.doc_id = d.doc_id
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // d33 — STREAMING DECONTAMINATION AT INGEST (d15's bloom pass in the
  // production posture, the d32 pattern applied to it: an LLM pipeline
  // decontaminates documents as they ARRIVE, not in a batch sweep over a
  // finished corpus). The eval-set fingerprint index — d15's exact
  // 512-bit/2-hash bloom BIT set over benchmark content hashes — is
  // maintained as ViewMaintenance state (distinct bits: set union is
  // idempotent, so an eval-set refresh is just another append and
  // redelivery is free); the corpus rides the wire as binlog files and
  // each micro-batch probes the index with two chained EXISTENCE
  // semi-joins (bit0 present AND bit1 present — no pair
  // materialization, and the ≤512-row bit table broadcasts), appending
  // bloom-positive doc_ids to a flags state. The index is static across
  // the drain, so the flagged set is batch-split-independent — which is
  // what lets this SHARE d15's oracle verbatim: a mismatch against a
  // green d15 isolates the streaming delivery (wire round-trip of the
  // text, per-batch probe plan, state handling), not the bloom math.
  // The in_set truth join stays gate instrumentation, computed
  // batch-side exactly as in d15. At 100 TB: per batch the work is two
  // broadcast semi-joins over the batch's rows — no shuffle touches the
  // corpus, the d15 scale argument unchanged by streaming.
  def d33StreamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    def bit(i: Int, key: Column): Column = bloomBit(i, key) // d15's layout
    val (root, feed, state, ckpt) = graft.streaming.Drains.streamDirs("graft_d33_", dir)
    val flags = new java.io.File(root, "flags").getPath
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the eval-set index: one append here; a refreshed eval set would be
    // another (distinct-at-read makes overlapping appends harmless)
    ViewMaintenance.appendBatch(
      docs.filter(col("doc_id") % 37 === 0)
        .select(md5(col("text")).as("key")).distinct()
        .select(explode(array(bit(0, col("key")), bit(1, col("key"))))
          .as("bit"))
        .distinct(),
      state)
    graft.ingest.BinlogSink.writeKeyedStrings(
      docs.repartitionByRange(4, col("doc_id")), feed) // VARCHAR bound derived from the data (r12 advice)
    graft.streaming.Drains.drainBinlog(spark, Seq(feed), ckpt) { (batch, _) =>
      val bits = ViewMaintenance.readState(spark, state, "bit BIGINT")
        .distinct()
      val d = batch.filter(col("event_type") === "WriteRowsEventV2")
        .select(explode(col("row_images")).as("img"))
        .select(element_at(col("img"), 1).cast("long").as("doc_id"),
          md5(element_at(col("img"), 2)).as("key"))
        .withColumn("b0", bit(0, col("key")))
        .withColumn("b1", bit(1, col("key")))
      ViewMaintenance.appendBatch(
        d.join(broadcast(bits.select(col("bit").as("b0"))),
            Seq("b0"), "left_semi")
          .join(broadcast(bits.select(col("bit").as("b1"))),
            Seq("b1"), "left_semi")
          .select("doc_id"),
        flags)
    }
    // d15's report columns over the DRAINED flag set (in_set = gate truth)
    val keyed = docs.select(col("doc_id"), md5(col("text")).as("key"))
    val benchKeys = keyed.filter(col("doc_id") % 37 === 0)
      .select("key").distinct()
    keyed
      // distinct at read — the d32 note: the flag SET must fold a
      // redelivered batch's duplicate appends before the report join
      .join(ViewMaintenance.readState(spark, flags, "doc_id BIGINT")
        .distinct()
        .withColumn("flagged", lit(1L)), Seq("doc_id"), "left")
      .join(broadcast(benchKeys.withColumn("in_set", lit(1))), Seq("key"), "left")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("flagged").isNotNull, 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("flagged").isNotNull && col("in_set").isNotNull, 1L)
          .otherwise(0L)).as("n_true_pos"),
        sum(when(col("flagged").isNotNull && col("in_set").isNull, 1L)
          .otherwise(0L)).as("n_false_pos"),
        sum(when(col("flagged").isNull && col("in_set").isNotNull, 1L)
          .otherwise(0L)).as("n_missed"),
        sum(when(col("flagged").isNotNull, col("doc_id")).otherwise(0L))
          .cast("long").as("flagged_id_sum"))
  }

  val gates: Seq[Gate] = Seq(
    Gate("d01_exact_dedup", d01ExactDedup, d01Oracle),
    Gate("d02_ngram_jaccard", d02NgramJaccard, d02Oracle),
    Gate("d03_minhash_lsh", d03MinhashLsh, d03Oracle),
    Gate("d04_simhash", d04Simhash, d04Oracle),
    Gate("d06_group_minhash", d06GroupMinhash, d06Oracle),
    Gate("d08_simhash_neardup", d08SimhashNearDup, d08Oracle),
    // same computation, SQL-routed
    Gate("d09_sql_simhash", d09SqlSimhash, d04Oracle),
    Gate("d10_dedup_components", d10DedupComponents, d10Oracle),
    Gate("d11_decontaminate", d11Decontaminate, d11Oracle),
    Gate("d12_dedup_manifest", d12DedupManifest, d12Oracle),
    Gate("d13_chunk_dedup", d13ChunkDedup, d13Oracle),
    Gate("d15_bloom_decontaminate", d15BloomDecontaminate, d15Oracle),
    Gate("d17_minhash_estimate", d17MinhashEstimate, d17Oracle),
    Gate("d18_span_dedup", d18SpanDedup, d18Oracle),
    Gate("d19_lsh_sweep", d19LshSweep, d19Oracle),
    Gate("d20_incremental_dedup", d20IncrementalDedup, d20Oracle),
    Gate("d21_novelty_score", d21NoveltyScore, d21Oracle),
    Gate("d22_countmin", d22CountMin, d22Oracle),
    Gate("d23_tf_cosine", d23TfCosine, d23Oracle),
    Gate("d24_soft_dedup", d24SoftDedup, d24Oracle),
    Gate("d25_split_leakage", d25SplitLeakage, d25Oracle),
    Gate("d26_containment", d26Containment, d26Oracle),
    Gate("d27_simhash60", d27Simhash60, d27Oracle),
    Gate("d28_edit_verify", d28EditVerify, d28Oracle),
    Gate("d29_shared_spans", d29SharedSpans, d29Oracle),
    Gate("d30_decontaminate_clip", d30DecontaminateClip, d30Oracle),
    Gate("d31_cdc_chunking", d31CdcChunking, d31Oracle),
    Gate("d32_stream_lsh_ingest", d32StreamLshIngest, d32Oracle, drain = true),
    // streamed probe == batch pass
    Gate("d33_stream_decontaminate", d33StreamDecontaminate, d15Oracle, drain = true),
  )
}
