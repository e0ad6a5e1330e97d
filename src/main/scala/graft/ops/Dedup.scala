package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PostingPairs.postingPairs
import graft.functions.TextHashFunctions.{minHashSig, shingleHash60, simHash32, simHash60}
import graft.functions.VectorFunctions.{cosineFromParts, dotProduct, sumSquares}

/** Reusable deduplication operators (the library surface behind the d01–d06
  * bench queries): exact content-hash dedup, shingle-Jaccard candidate
  * pairs via an inverted index, MinHash+LSH, SimHash signatures, and
  * embedding-cosine near-dups. All are pure DataFrame transforms
  * parameterized by column names — callers bring any schema.
  *
  * Scale design (100 TB): every operator shuffles at most on a bounded key
  * (content hash, shingle hash, band signature, block-pair key) with
  * map-side partial aggregation; nothing collects to the driver and
  * nothing broadcasts the corpus — candidate pairs materialize through
  * posting lists / LSH buckets (bounded by the stop-shingle / band-width
  * guards), and the one exact all-pairs operator
  * ([[embeddingNearDups]]) distributes its O(n²) compute through a
  * block-partitioned equi-join with O(n·blocks) data movement.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content with the group size
    * and the canonical (minimum-id) keeper. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))

  /** Keep one row per distinct `textCol` (the minimum-`idCol` row wins) —
    * the filter form of [[exactGroups]]. */
  def exactKeepers(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col(textCol)))
    df.withColumn("_keeper", min(col(idCol)).over(w))
      .filter(col(idCol) === col("_keeper"))
      .drop("_keeper")
  }

  /** C4-style sub-document exact dedup (Raffel et al. 2020 §2.2 dedup the
    * corpus "one three-sentence span at a time", generalized to fixed
    * token windows since this corpus has no sentence boundaries): `textCol`
    * splits into consecutive `chunkTokens`-token chunks and the GLOBAL
    * first occurrence of each distinct chunk — ordered by
    * (`idCol`, chunk position) — is kept; every later copy anywhere in the
    * corpus is marked dropped. Output: one row per chunk with
    * (`idCol`, chunk_idx, chunk, keep) — callers reassemble documents from
    * the kept chunks (see d13) or count removal volume.
    *
    * Scale shape: chunking is a pure per-row map; the keep decision is ONE
    * shuffle keyed on the 128-bit content hash (md5 — collision-safe at
    * corpus scale where a 60-bit key would birthday-collide) with a
    * per-key sort bounded by the duplicate count of that chunk. Nothing
    * collects, nothing broadcasts. The first-occurrence rule is a total
    * order on (`idCol`, chunk_idx), so the result is independent of
    * partitioning and cluster layout. */
  def chunkKeepFirst(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 5): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val c = chunkTokens
    val chunks = df
      .withColumn("_toks", split(col(textCol), " "))
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(_toks) / $c.0) as int) - 1), " +
          s"i -> array_join(slice(_toks, i * $c + 1, $c), ' '))"))
        .as(Seq("chunk_idx", "chunk")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("chunk")))
      .orderBy(col(idCol), col("chunk_idx"))
    chunks.withColumn("keep", row_number().over(w) === 1)
  }

  /** Add `shingles` (distinct 60-bit-hashed n-gram shingles of `toksCol`)
    * and `n_sh`; rows with fewer than `n` tokens are dropped (no shingle
    * exists). */
  def withShingles(df: DataFrame, toksCol: String, n: Int = 3): DataFrame =
    df.filter(size(col(toksCol)) >= n)
      .withColumn("shingles", shingleHash60(col(toksCol), n))
      .withColumn("n_sh", size(col("shingles")))

  /** Candidate-pair intersection counts over the shingle inverted index:
    * input must carry (`idCol`, `shingles`, `n_sh`) — see [[withShingles]].
    * Pairs materialize only inside per-shingle posting lists (one shuffle
    * keyed on the shingle, pairs expanded by the native [[PostingPairs]]
    * generator); lists longer than `maxPosting` are dropped — the
    * stop-shingle guard that bounds the k²/2 expansion of hot shingles at
    * scale. Output: (doc_a, doc_b, na, nb, inter). */
  def jaccardPairCounts(df: DataFrame, idCol: String, maxPosting: Int = 100): DataFrame = {
    val ex = df.select(col(idCol).as("doc_id"), col("n_sh"),
      explode(col("shingles")).as("sh"))
    // Pre-count + left-semi BEFORE the collect: shingles are distinct
    // per doc, so count(*) per `sh` IS the posting length, and dropping
    // out-of-band shingles here means no aggregation buffer ever holds
    // more than `maxPosting` entries. (A post-collect size filter would
    // first materialize a stop-shingle's FULL posting list in one
    // buffer on one executor — the 100-TB OOM.) The count shuffle is
    // cheap (map-side partial count), and the semi-join output is
    // already hash-partitioned on `sh`, so the collect that follows
    // reuses that partitioning instead of shuffling again.
    val kept = ex.groupBy("sh").agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt").between(2, maxPosting))
      .select("sh")
    ex.join(kept, Seq("sh"), "left_semi")
      .groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ds"))
      .select(postingPairs(col("ds")).as(Seq("doc_a", "na", "doc_b", "nb")))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
  }

  /** Near-dup pairs with exact Jaccard ≥ `minJaccard` over the inverted
    * index. Output: (doc_a, doc_b, inter, un, jaccard). */
  def jaccardPairs(df: DataFrame, idCol: String, minJaccard: Double,
      maxPosting: Int = 100): DataFrame =
    jaccardPairCounts(df, idCol, maxPosting)
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un"))
      .filter(col("jaccard") >= minJaccard)

  /** MinHash+LSH candidate pairs verified with exact Jaccard: `bands` bands
    * of `rowsPerBand` signature components are the bucket keys (shuffle
    * key); only same-bucket ids pair up, and the shingle sets are joined
    * back solely for the surviving candidates. Band buckets holding more
    * than `maxBucket` docs are dropped as DEGENERATE: a giant
    * near-identical cluster collides its band into one bucket whose
    * self-join is quadratic in the cluster size — the hot-band analogue
    * of [[jaccardPairCounts]]'s stop-shingles (exact dedup upstream is
    * the intended path for such clusters) — and the pre-count +
    * left-semi runs BEFORE the self-join, so the blowup never
    * materializes. Input like [[withShingles]].
    * Output: (doc_a, doc_b, inter, jaccard). */
  /** The MinHash band keys of a [[withShingles]] frame: one row per
    * (doc, band), `band` = band index + its signature slice — THE LSH
    * bucket key shared by the batch pair search ([[minHashLshPairs]])
    * and the streaming ingest index (d32), so the two cannot drift.
    * Output: (doc_id, band). */
  def minHashBands(df: DataFrame, idCol: String,
      bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val sig = df.select(col(idCol).as("doc_id"),
      minHashSig(col("shingles"), bands * rowsPerBand).as("sig"))
    val bandExprs = (0 until bands).map { b =>
      val parts = (1 to rowsPerBand).map(r => s"element_at(sig, ${rowsPerBand * b + r})")
      s"concat_ws('-', $b, ${parts.mkString(", ")})"
    }
    sig.select(col("doc_id"), explode(array(bandExprs.map(expr): _*)).as("band"))
  }

  def minHashLshPairs(df: DataFrame, idCol: String, minJaccard: Double,
      bands: Int = 4, rowsPerBand: Int = 4, maxBucket: Int = 256): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), col("shingles"), col("n_sh"))
    val banded = minHashBands(df, idCol, bands, rowsPerBand)
    val kept = banded.groupBy("band").agg(count(lit(1)).as("n_bd"))
      .filter(col("n_bd").between(2, maxBucket))
      .select("band")
    val bandedK = banded.join(kept, Seq("band"), "left_semi")
    val cand = bandedK.select(col("doc_id").as("doc_a"), col("band"))
      .join(bandedK.select(col("doc_id").as("doc_b"), col("band")), Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("n_sh").as("na")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  /** Per-row 32-bit SimHash signature of a token-array column — no shuffle
    * at all; near-dup = small Hamming distance between signatures. */
  def simHashSignature(toks: Column): Column = simHash32(toks)

  /** Per-row 60-bit SimHash signature — the wide-band scale variant
    * (see [[graft.functions.SimHash60]]): 15-bit pigeonhole bands give a
    * 2^15 band-value space, 128× the 32-bit layout's. */
  def simHashSignature60(toks: Column): Column = simHash60(toks)

  /** SimHash near-dup PAIRS with Hamming distance ≤ `maxHamming`, found
    * subquadratically by pigeonhole banding: the 32-bit signature splits
    * into `bands` contiguous bands; two signatures within Hamming
    * `bands - 1` of each other must agree on at least one whole band, so
    * candidates come from per-band equality joins (shuffle key =
    * (band index, band value) — never all-pairs) and the exact Hamming
    * check runs only on candidates. With the defaults (4 × 8-bit bands,
    * maxHamming 3) recall is EXACT and unconditional — `maxBucket`
    * defaults to `Int.MaxValue`, so no bucket is ever dropped and the
    * pigeonhole guarantee holds for every pair. Capping is OPT-IN for
    * corpora with giant near-identical clusters: pass a finite
    * `maxBucket` and a band value shared by more than that many
    * signatures is declared degenerate and contributes NO candidates
    * (a cluster that large belongs to exact dedup upstream — the
    * d02/d03 stop-term discipline; its pairs are then findable through
    * their OTHER bands only if those are under-cap too), trading that
    * recall loss for a bounded bucket self-join.
    *
    * '''Behavior change (r11):''' `maxBucket` previously defaulted to
    * 256 — a silent recall cap. The default is now `Int.MaxValue`
    * (exact recall), so a caller who relied on the old implicit cap now
    * gets an UNBOUNDED bucket self-join: a corpus with a giant
    * near-identical cluster (k docs sharing a band value) costs O(k²)
    * candidate pairs. If such clusters exist and are not exact-deduped
    * upstream, pass `maxBucket = 256` explicitly to restore the old
    * bounded behavior. Relying on the unbounded default logs a WARN at
    * plan time (r12 advice) so exact recall stays a deliberate choice —
    * the performance cliff is data-dependent and invisible until a hot
    * band value arrives, which is exactly when a silent default hurts.
    *
    * Output: (id_a, id_b, hamming). */
  def simhashNearDups(df: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 3, bands: Int = 4, bits: Int = 32,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole exactness needs maxHamming < bands ($maxHamming >= $bands)")
    if (maxBucket == Int.MaxValue)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "simhashNearDups: unbounded band buckets (maxBucket default) give " +
          "EXACT recall, but k docs sharing one band value cost O(k^2) " +
          "candidate pairs - pass maxBucket (e.g. 256) to cap hot buckets " +
          "when giant near-identical clusters are not exact-deduped upstream")
    require(bits % bands == 0, s"$bits bits must split evenly into $bands bands")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    // a literal array() of per-band structs — fully codegen'd, unlike the
    // earlier transform(sequence(...)) HOF, which interpreted one lambda
    // per band per row
    def side(id: String, sh: String) = df
      .select(col(idCol).as(id), col(simhashCol).as(sh))
      .select(col(id), col(sh), explode(array(
        (0 until bands).map(b => struct(
          lit(b).as("band"),
          shiftright(col(sh), b * bandBits).bitwiseAND(mask).as("bval"))): _*))
        .as(s"_bd_$id"))
    // hot-band cap, the d03/d02 discipline: a giant near-identical cluster
    // collides one band value into a bucket whose self-join is quadratic
    // in the cluster size. Pre-count band values and left-semi BEFORE the
    // self-join (singletons can't pair, over-cap buckets are declared
    // degenerate — exact dedup upstream is the intended path for such
    // clusters), so the blowup never materializes.
    val l = side("id_a", "sh_a")
    val r = side("id_b", "sh_b")
    val kept = l.groupBy("_bd_id_a").agg(count(lit(1)).as("n_bk"))
      .filter(col("n_bk").between(2, maxBucket))
      .select(col("_bd_id_a").as("_bd_keep"))
    l.join(kept, col("_bd_id_a") === col("_bd_keep"), "left_semi")
      .join(r.join(kept, col("_bd_id_b") === col("_bd_keep"), "left_semi"),
        col("_bd_id_a") === col("_bd_id_b") && col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact embedding-cosine near-dup pairs ≥ `minCos` via a
    * block-partitioned self-pair join (the triangular "1-bucket-theta"
    * layout). Each row hashes to one of `blocks` blocks; the LEFT join
    * side carries a row at the block-pair keys where its block is the LOW
    * half `(b, j ≥ b)`, the RIGHT side where it is the HIGH half
    * `(i ≤ b, b)` — so a pair with blocks `bx ≤ by` meets at EXACTLY the
    * key `(bx, by)`, once, by construction (the symmetric both-sides
    * replication this replaces materialized every pair at 4× and filtered
    * three quarters away after the join). The all-pairs comparison runs
    * inside an ordinary equi-join on the key — NO table broadcast, NO
    * nested-loop join, per-task memory bounded by two blocks; only the
    * same-block rendezvous `(b, b)` sees both orderings and self-rows,
    * dropped by one predicate inside the join.
    *
    * Exact all-pairs at a low cosine threshold has no sublinear candidate
    * generation (measured on the test embeddings: qualifying pairs sit at
    * the threshold and span clusters), so compute is inherently O(n²/2)
    * dot products — the point of this layout is that the *data movement*
    * is O(n·blocks/2) and no single node ever holds the corpus. Size
    * `blocks` ≈ n / rowsPerBlock so two blocks of `rowsPerBlock` vectors
    * fit one task's memory. For approximate-but-subquadratic semantics at
    * realistic near-dup thresholds (≥ ~0.8) use [[embeddingNearDupsLsh]].
    * Output: (id_a, id_b, cos), id_a < id_b. */
  def embeddingNearDups(df: DataFrame, idCol: String, embCol: String,
      minCos: Double, blocks: Int = 16): DataFrame = {
    val bucket = pmod(xxhash64(col(idCol)), lit(blocks.toLong))
    // per-row sum of squares hoisted out of the O(n²) pair loop: the
    // fused cosine recomputed BOTH norms for every pair (n times per
    // row); the factored combine is bit-identical for the fixed-dim
    // embeddings (DotProduct scaladoc has the argument), and it carries
    // one extra double per replicated row through the exchange
    val withN = df.select(col(idCol), col(embCol),
      sumSquares(col(embCol)).as("_n2"))
    val left = withN
      .select(col(idCol).as("_ia"), col(embCol).as("_va"),
        col("_n2").as("_na"), bucket.as("_klo"))
      .withColumn("_khi", explode(sequence(col("_klo"), lit(blocks - 1L))))
    val right = withN
      .select(col(idCol).as("_ib"), col(embCol).as("_vb"),
        col("_n2").as("_nb"), bucket.as("_khi"))
      .withColumn("_klo", explode(sequence(lit(0L), col("_khi"))))
    left.join(right,
        left("_klo") === right("_klo") && left("_khi") === right("_khi") &&
          (left("_klo") =!= left("_khi") || col("_ia") < col("_ib")))
      .withColumn("cos", cosineFromParts(
        dotProduct(col("_va"), col("_vb")), col("_na"), col("_nb")))
      .filter(col("cos") >= minCos)
      // cross-block pairs arrive in arbitrary label order: canonicalize
      // (cosine is exactly symmetric — same fold, commuted products)
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("cos"))
  }

  /** Approximate near-dup pairs: multi-table random-hyperplane LSH
    * candidate generation + exact cosine verify on the candidates only.
    * Each table in `planeTables` (nPlanes × dim, same planes on every
    * engine) yields one bucket per row; candidate pairs are ids sharing a
    * (table, bucket) key — the shuffle key — and only distinct candidates
    * fetch their embeddings back for the exact verify, so nothing is ever
    * all-pairs.
    *
    * Recall follows the banding S-curve `1 - (1 - p^b)^T` with
    * `p = 1 - θ/π` per hyperplane, `b` planes per table, `T` tables:
    * near-exact for true near-dups (cos ≥ ~0.9 ⇒ p ≥ ~0.9) and
    * intentionally steep below — tune (b, T) to put the S-curve knee at
    * the target threshold. Verified pairs are always a subset of
    * [[embeddingNearDups]]'s exact output. Output: (id_a, id_b, cos). */
  /** Connected components over a near-dup pair graph — the TRANSITIVE
    * closure production dedup needs: pairwise keep-the-min drops only one
    * side of each edge, so a chain A~B~C keeps A and C even though they
    * are transitively duplicates. Each vertex converges to the MINIMUM id
    * reachable from it (the component representative), via iterative
    * min-label propagation: every round each vertex takes the least of
    * its own label and its neighbors' labels, a fixed point in
    * O(component diameter) rounds.
    *
    * Scale shape: each round is one equi-join of the symmetrized edge
    * list with the label table (both shuffled on vertex id — a reused
    * partitioning) plus a min hash-aggregate; nothing collects, nothing
    * broadcasts the graph. The edge list is materialized ONCE up front
    * (`localCheckpoint` — Spark's ContextCleaner reclaims the cache when
    * the reference dies), so the rounds and the convergence probes never
    * re-execute the upstream pair-generation pipeline (which for near-dup
    * callers is the full corpus scan + shingle hashing). Near-dup
    * components are dense and tiny (diameter 2–4), so `maxIters` is a
    * loud-failure bound on LABEL-CHANGING rounds, not a tuning knob (the
    * final confirming round is free). Lineage: each round's plan nests
    * the previous round's (the k-means r8 lesson) — pass
    * `checkpointEvery > 0` to cut it at that cadence for deep/
    * unknown-diameter graphs (the checkpointed round's probe and its
    * successor both read the one materialization); the default 0 keeps
    * the plan pure for the shallow graphs dedup produces, at O(rounds²)
    * re-joins of the MATERIALIZED edge table.
    *
    * `vertices`: one row per `idCol` member. `edges`: (aCol, bCol) pairs,
    * any orientation, self-loops/duplicates tolerated. Output:
    * (`idCol`, `component`) — component = min reachable id; isolated
    * vertices are their own component. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      idCol: String, aCol: String, bCol: String,
      maxIters: Int = 20, checkpointEvery: Int = 0): DataFrame = {
    // one execution of the (possibly very expensive) edge pipeline,
    // shared by every round and probe
    val sym = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(edges.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .localCheckpoint(true)
    var comp = vertices.select(col(idCol).cast("long").as("id"),
      col(idCol).cast("long").as("comp"))
    var iter = 0
    var converged = false
    // `<=`: round maxIters+1 may run as the free CONFIRMING round of a
    // fixed point reached exactly at round maxIters — only label-changing
    // rounds count against the bound
    while (!converged && iter <= maxIters) {
      iter += 1
      // min over in-neighbour labels; left join keeps isolated vertices
      val nbrMin = sym.join(comp.withColumnRenamed("id", "dst_id"),
          col("dst") === col("dst_id"))
        .groupBy(col("src"))
        .agg(min(col("comp")).as("ncomp"))
      val stepped0 = comp.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("next"))
      // checkpoint STEPPED (not the projection): the convergence probe and
      // the next round then both read the one materialization instead of
      // re-executing the round's join twice
      val stepped =
        if (checkpointEvery > 0 && iter % checkpointEvery == 0)
          stepped0.localCheckpoint(true)
        else stepped0
      converged = stepped.filter(col("next") < col("comp")).isEmpty
      comp = stepped.select(col("id"), col("next").as("comp"))
    }
    require(converged,
      s"connected components did not converge within $maxIters label-changing " +
        "rounds — raise maxIters (component diameter exceeds the bound)")
    comp.select(col("id").as(idCol), col("comp").as("component"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the round-count answer to [[connectedComponents]]'s
    * diameter bound: min-label propagation needs O(diameter) rounds, so a
    * 100 TB web-graph-shaped corpus with million-hop chains (long path
    * components arise from e.g. boilerplate chains) stalls it; star
    * contraction converges in O(log² n) rounds REGARDLESS of diameter by
    * rewriting the edge set itself toward per-component stars centered at
    * the minimum id.
    *
    *  - large-star(c): every strictly-larger neighbor of c re-attaches to
    *    m = min(N(c) ∪ {c});
    *  - small-star(c): every smaller-or-equal neighbor (and c itself)
    *    re-attaches to the minimum of that smaller neighborhood.
    *
    * Both steps preserve connectivity (every rewritten edge replaces a
    * path through c); the fixed point is a star per component whose
    * center is the component minimum.
    *
    * Scale shape: each half-round is one vertex-keyed min-aggregate plus
    * one equi-join back onto the (re-oriented) edge list — the same
    * shuffle budget as one label-propagation round, never a buffer
    * proportional to a neighborhood (the min folds in the aggregate). The
    * edge set is `distinct` canonical (u < v) rows, so it SHRINKS
    * monotonically toward one edge per non-center vertex; convergence is
    * an edge-set fixed point (count equal + set difference empty — both
    * cheap aggregates over the new materialization, no extra pass over
    * the old one). Each round materializes via `localCheckpoint`, the
    * iteration discipline every loop in this engine uses.
    *
    * Output contract is identical to [[connectedComponents]]:
    * (`idCol`, component = min reachable id), isolated vertices map to
    * themselves — g08 gates the two algorithms against the same
    * recursive-closure oracle. */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame,
      idCol: String, aCol: String, bCol: String,
      maxIters: Int = 16): DataFrame = {
    var e = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var eCount = e.count() // carried across rounds: next round's old-size
    var converged = eCount == 0L // no edges: nothing to contract
    var iter = 0
    while (!converged && iter < maxIters) {
      iter += 1
      // LARGE-STAR over the full (symmetrized) neighborhood of each
      // center c: attach every neighbor n > c to min(N(c) ∪ {c}).
      val nbrs = e.select(col("u").as("c"), col("v").as("n"))
        .unionByName(e.select(col("v").as("c"), col("u").as("n")))
      val mins = nbrs.groupBy("c").agg(min(col("n")).as("mn"))
      val ls = nbrs.join(mins, Seq("c"))
        .filter(col("n") > col("c"))
        // m = least(mn, c) ≤ c < n, so (m, n) is already (small, large)
        .select(least(col("mn"), col("c")).as("u"), col("n").as("v"))
        .distinct()
        .localCheckpoint(true)
      // SMALL-STAR on the (small → large) orientation: for each center
      // c = v, its strictly-smaller neighbors are exactly the u's; attach
      // them (and c) to their minimum.
      val smaller = ls.select(col("v").as("c"), col("u").as("n"))
      val mins2 = smaller.groupBy("c").agg(min(col("n")).as("mn"))
      val next = smaller.join(mins2, Seq("c"))
        .filter(col("n") =!= col("mn"))
        .select(col("mn").as("u"), col("n").as("v"))
        .unionByName(mins2.select(col("mn").as("u"), col("c").as("v")))
        .distinct()
        .localCheckpoint(true)
      // fixed point: same canonical edge set — counts equal AND nothing
      // new (both sets are distinct, so a one-sided check suffices).
      // ONE action per round: e's count is carried from the previous
      // round, and next's size + its fresh-edge count come from a single
      // aggregate over a left join against the (checkpointed) old set.
      val st = next
        .join(e.select(col("u"), col("v"), lit(1).as("_in_e")),
          Seq("u", "v"), "left")
        .agg(count(lit(1)).as("n"),
          count(when(col("_in_e").isNull, 1)).as("fresh"))
        .head()
      converged = st.getLong(0) == eCount && st.getLong(1) == 0L
      eCount = st.getLong(0)
      e = next
    }
    require(converged,
      s"star contraction did not converge within $maxIters rounds — " +
        "raise maxIters")
    // converged edge set is a star per component centered at the min id:
    // leaf's min neighbor IS the center; the center's least(self, nbr)
    // is itself; isolated vertices never appear in e.
    val ctr = e.select(col("u").as("nid"), col("v").as("other"))
      .unionByName(e.select(col("v").as("nid"), col("u").as("other")))
      .groupBy("nid").agg(min(col("other")).as("mn"))
    vertices.select(col(idCol).cast("long").as("id"))
      .join(ctr, col("id") === col("nid"), "left")
      .select(col("id").as(idCol),
        least(col("id"), coalesce(col("mn"), col("id"))).as("component"))
  }

  def embeddingNearDupsLsh(df: DataFrame, idCol: String, embCol: String,
      minCos: Double, planeTables: Seq[Seq[Seq[Double]]]): DataFrame = {
    val buckets = array(planeTables.zipWithIndex.map { case (planes, t) =>
      concat_ws("-", lit(t), Similarity.lshBucket(col(embCol), planes))
    }: _*)
    val ids = df.select(col(idCol).as("doc_id"), explode(buckets).as("_bkt"))
    val cand = ids.withColumnRenamed("doc_id", "id_a")
      .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("_bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // same norm hoist as [[embeddingNearDups]]: a hub row's norm was
    // recomputed once per candidate partner
    val withN = df.select(col(idCol), col(embCol),
      sumSquares(col(embCol)).as("_n2"))
    cand
      .join(withN.select(col(idCol).as("id_a"), col(embCol).as("_va"),
        col("_n2").as("_na")), Seq("id_a"))
      .join(withN.select(col(idCol).as("id_b"), col(embCol).as("_vb"),
        col("_n2").as("_nb")), Seq("id_b"))
      .withColumn("cos", cosineFromParts(
        dotProduct(col("_va"), col("_vb")), col("_na"), col("_nb")))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }
}
