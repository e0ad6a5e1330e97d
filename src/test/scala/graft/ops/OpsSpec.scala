package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The reusable operator layer (graft.ops) — the bench queries delegate to
  * most of it (so the DuckDB oracle gate exercises those paths end to
  * end); this spec covers the general forms and the members without a
  * query wrapper.
  */
class OpsSpec extends AnyFunSuite with SparkTestSession {

  test("Dedup.exactKeepers keeps one min-id row per distinct text") {
    import spark.implicits._
    val df = Seq((3L, "dup"), (1L, "dup"), (2L, "uniq")).toDF("doc_id", "text")
    val got = Dedup.exactKeepers(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(1L, 2L))
  }

  test("Sessions.saltedSum equals the unsalted aggregate") {
    import spark.implicits._
    val df = (1 to 100).map(i => (s"k${i % 3}", i.toLong)).toDF("k", "v")
    val salted = Sessions.saltedSum(df, Seq("k"), "v", 16, col("v"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val plain = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(salted == plain)
  }

  test("Sessions.asOfJoin: inclusive ties, no-match null, carry across gaps") {
    import spark.implicits._
    val left = Seq(
      ("u1", 10L, "a"), // before any right row -> null
      ("u1", 20L, "b"), // exact tie with right ts=20 -> inclusive match
      ("u1", 35L, "c"), // between 30 and next -> carries 30
      ("u2", 50L, "d")  // key with no right rows at all -> null
    ).toDF("k", "t", "tag")
    val right = Seq(("u1", 20L, 200L), ("u1", 30L, 300L))
      .toDF("k", "t", "rv")
    val got = Sessions.asOfJoin(left, right, "k", "t", Seq("rv"))
      .orderBy("k", "t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(got == Seq(
      ("u1", 10L, "a", -1L), ("u1", 20L, "b", 200L),
      ("u1", 35L, "c", 300L), ("u2", 50L, "d", -1L)))
  }

  test("Sessions.asOfJoin forward: inclusive ties, next-match carry, null-ts left unmatched") {
    import spark.implicits._
    val left = Seq(
      ("u1", 10L, "a"),             // next right at 20 -> 200
      ("u1", 20L, "b"),             // exact tie -> inclusive match 200
      ("u1", 35L, "c"),             // after last right -> null
      ("u2", 50L, "d")              // key with no right rows -> null
    ).toDF("k", "t", "tag")
      .unionByName(Seq(("u1", Option.empty[Long], "e")).toDF("k", "t", "tag"))
    val right = Seq(("u1", 20L, 200L), ("u1", 30L, 300L))
      .toDF("k", "t", "rv")
    val got = Sessions.asOfJoin(left, right, "k", "t", Seq("rv"),
        forward = true)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -99L else r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq.sorted
    assert(got == Seq(
      ("u1", -99L, "e", -1L), // null-ts left must see no carry
      ("u1", 10L, "a", 200L), ("u1", 20L, "b", 200L),
      ("u1", 35L, "c", -1L), ("u2", 50L, "d", -1L)))
  }

  test("Sessions.asOfJoin: null-ts right rows never match; name collisions rejected") {
    import spark.implicits._
    val left = Seq(("u1", 50L, "a")).toDF("k", "t", "tag")
    // DuckDB ASOF semantics: l.ts >= NULL is never true, so the null-ts
    // right row must NOT be carried into the pre-first-match left row
    val right = Seq(("u1", Option.empty[Long], 99L), ("u1", Some(100L), 1L))
      .toDF("k", "t", "rv")
    val got = Sessions.asOfJoin(left, right, "k", "t", Seq("rv"))
      .collect().map(r => r.isNullAt(3)).toSeq
    assert(got == Seq(true), "null-ts right row leaked into the carry")
    // value-column name shared across sides → rejected up front
    val clash = Seq(("u1", 1L, 2L)).toDF("k", "t", "rv")
    val leftClash = Seq(("u1", 1L, 3L)).toDF("k", "t", "rv")
    intercept[IllegalArgumentException] {
      Sessions.asOfJoin(leftClash, clash, "k", "t", Seq("rv"))
    }
  }

  test("TextOps.hashSplit is deterministic and respects percentages") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("id")
      .withColumn("split", TextOps.hashSplit(col("id")))
    val counts = df.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000L)
    assert(counts("train") > 700 && counts("train") < 900)
    // re-evaluation gives the identical assignment (stable under re-runs)
    val again = (1L to 1000L).toDF("id")
      .withColumn("split", TextOps.hashSplit(col("id")))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("TextOps.langId picks the dominant marker set with precedence") {
    import spark.implicits._
    val markers = Seq(
      "en" -> Seq("the", "a"), "fr" -> Seq("le", "la"), "de" -> Seq("der"))
    val df = Seq(
      "the cat sat", "le chat the", "der hund", "x y z"
    ).toDF("text").withColumn("toks", split(col("text"), " "))
      .withColumn("lang", TextOps.langId(col("toks"), markers))
    val got = df.select("lang").collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "en", "de", "und")) // tie goes to earlier lang
  }

  test("probeCentroids argmax: a null centroid vector never wins (DESC NULLS LAST)") {
    import spark.implicits._
    // clabel 0 has a real vector; clabel 1 is broken (null cf). The
    // window form this aggregate replaced ordered `desc nulls last`, so
    // the null-scoring centroid could never win — the min_by key must
    // preserve that (a naive struct(-cos, label) key sorts null FIRST
    // and would assign every row to the broken centroid).
    val rows = Seq((10L, Seq(1.0f, 0.0f)), (11L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cent = Seq((0L, Option(Seq(0.6f, 0.8f))), (1L, Option.empty[Seq[Float]]))
      .toDF("clabel", "cf")
    val assigned = Similarity.assignToCentroids(rows, cent, Seq("vec_id"))
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned == Map(10L -> 0L, 11L -> 0L))
  }

  test("probeCentroids: min_by (nprobe=1) and window (nprobe>=2) paths rank alike") {
    import spark.implicits._
    // Each case: rows, a centroid table, and the cluster the window's
    // (cos DESC NULLS LAST, label) order puts first. The window path's
    // rank 1 is read by probing a DOUBLED table at nprobe = 2: both copies
    // of the best centroid tie on (cos, label) and outrank every other
    // centroid, so the two probe rows of a vector name its rank-1 cluster.
    // The cosine kernel's accumulators start at +0.0, so a zero dot is
    // +0.0 whatever the signs of the zero components: the signed-zero
    // case feeds -0.0 components and must fall to the label tie-break.
    def cent(cs: (Long, Option[Seq[Float]])*) = cs.toDF("clabel", "cf")
    def v(xs: Float*) = Option(xs.toSeq)
    val cases = Seq(
      ("tied cosines break by label", cent(7L -> v(1f, 0f), 3L -> v(1f, 0f), 5L -> v(0f, 1f)),
        Seq(1L -> Seq(2f, 0f), 2L -> Seq(0f, 3f)), Map(1L -> 3L, 2L -> 5L)),
      ("zero-norm embedding: every cosine NaN, label decides",
        cent(4L -> v(1f, 0f), 2L -> v(0f, 1f)), Seq(3L -> Seq(0f, 0f)), Map(3L -> 2L)),
      ("zero-norm centroid: its NaN cosine ranks first",
        cent(1L -> v(1f, 0f), 9L -> v(0f, 0f)), Seq(4L -> Seq(1f, 0f)), Map(4L -> 9L)),
      ("-0.0 against 0.0", cent(6L -> v(1f, 0f), 8L -> v(-1f, 0f), 0L -> v(0f, -1f)),
        Seq(5L -> Seq(-0.0f, 1f), 6L -> Seq(-0.0f, -0.0f)), Map(5L -> 6L, 6L -> 0L)),
      ("a null centroid ranks last", cent(0L -> None, 1L -> v(0f, 1f)),
        Seq(7L -> Seq(1f, 0f)), Map(7L -> 1L)))
    cases.foreach { case (name, c, rows, expected) =>
      val df = rows.toDF("vec_id", "embedding")
      val byMinBy = Similarity.assignToCentroids(df, c, Seq("vec_id"))
        .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
      val byWindow = Similarity.probeCentroids(df, c.unionByName(c), Seq("vec_id"), nprobe = 2)
        .select("vec_id", "cluster").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (id, ps) =>
          assert(ps.length == 2 && ps.map(_._2).distinct.length == 1,
            s"$name: vector $id's two probes are not both its best cluster: ${ps.toSeq}")
          id -> ps.head._2
        }
      assert(byMinBy == byWindow, s"$name: min_by $byMinBy, window $byWindow")
      assert(byMinBy == expected, s"$name: got $byMinBy, want $expected")
    }
  }

  test("TextOps.mixtureSample: deterministic, rate-proportional, default-keep") {
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("id", "lang")
    val kept = df.filter(
      TextOps.mixtureSample(col("id"), col("lang"), Map("en" -> 5000)))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // zh absent from rates → keep all; en at 5000/10000 → ~50% (md5-uniform)
    assert(kept("zh") == 2000L)
    assert(math.abs(kept("en") - 1000L) < 150, s"en kept ${kept("en")}")
    // decision is a pure function of the id — re-evaluation is identical
    val again = df.filter(
      TextOps.mixtureSample(col("id"), col("lang"), Map("en" -> 5000)))
      .agg(sum("id")).head().getLong(0)
    val first = df.filter(
      TextOps.mixtureSample(col("id"), col("lang"), Map("en" -> 5000)))
      .agg(sum("id")).head().getLong(0)
    assert(again == first)
    intercept[IllegalArgumentException](
      TextOps.mixtureSample(col("id"), col("lang"), Map("en" -> 10001)))
  }

  test("TextOps quality + fingerprint columns evaluate") {
    import spark.implicits._
    val df = Seq("the quick brown fox jumps over the lazy dog again and again")
      .toDF("text").withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("pieces", TextOps.regexPieces(col("text")))
      .withColumn("fp", TextOps.rollingFingerprint(col("toks")))
      .withColumn("q", TextOps.qualityBucket(
        size(col("toks")), lit(0.1), lit(4.0)))
    val r = df.head()
    assert(r.getAs[Long]("fp") > 0)
    assert(r.getAs[String]("q") == "TOO_SHORT") // 12 tokens < 25
    assert(r.getSeq[String](r.fieldIndex("pieces")).nonEmpty)
  }

  test("Dedup.jaccardPairs equals brute-force cross-join ground truth") {
    import spark.implicits._
    // synthetic corpus with controlled overlap: doc i shares a prefix with
    // doc i+1, so near-dup pairs exist at several Jaccard levels
    val words = ('a' to 'z').map(_.toString)
    val docs = (0 until 40).map { i =>
      val toks = (0 until 12).map(k => words((i / 2 + k) % 26))
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text").withColumn("toks", split(col("text"), " "))
    val sh = Dedup.withShingles(docs, "toks")

    val viaIndex = Dedup.jaccardPairs(sh, "doc_id", 0.3, maxPosting = 1000)
      .select("doc_a", "doc_b", "inter", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"), col("n_sh").as("na"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb"), col("n_sh").as("nb"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("inter").toLong)).toSet

    assert(viaIndex == brute)
    assert(brute.nonEmpty, "fixture produced no near-dup pairs — test is vacuous")
  }

  test("Dedup.simhashNearDups equals brute-force Hamming pairs (pigeonhole exactness)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // random 32-bit signatures plus planted near-dups (flip ≤ 3 bits)
    val base = (0 until 60).map(i => (i.toLong, rnd.nextInt().toLong & 0xFFFFFFFFL))
    val planted = (0 until 20).map { i =>
      val (_, sh) = base(rnd.nextInt(base.size))
      val flips = (0 until rnd.nextInt(4)).map(_ => 1L << rnd.nextInt(32))
      (100L + i, flips.foldLeft(sh)(_ ^ _))
    }
    val df = (base ++ planted).toDF("doc_id", "simhash")

    val viaBands = graft.ops.Dedup.simhashNearDups(df, "doc_id", "simhash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val a = df.select(col("doc_id").as("id_a"), col("simhash").as("sa"))
    val b = df.select(col("doc_id").as("id_b"), col("simhash").as("sb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming"))).toSet

    assert(viaBands == brute)
    assert(brute.nonEmpty, "fixture planted no near-dup pairs — test is vacuous")
  }

  test("Dedup.connectedComponents: chains collapse transitively, isolated stay put") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), cycle 10-11-12-10, isolated 20, and a
    // duplicate/reversed edge — every vertex must map to its component min
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (2L, 1L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(vertices, edges, "doc_id", "doc_a", "doc_b")
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
    // checkpointed cadence is value-identical (the lineage-cut path)
    val ck = Dedup.connectedComponents(vertices, edges, "doc_id", "doc_a", "doc_b",
        checkpointEvery = 1)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(ck == got)
    // a diameter beyond maxIters fails loudly instead of returning a
    // partially-propagated labeling
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(vertices, edges, "doc_id", "doc_a", "doc_b",
        maxIters = 1))
    assert(e.getMessage.contains("did not converge"))
  }

  test("Dedup.connectedComponentsStar matches min-label CC, converges on a long path") {
    import spark.implicits._
    // same fixture as the propagation test, plus a 9-hop path 30..39 that
    // exercises multi-round contraction, and a star already centered at a
    // NON-minimum (41-40, 41-42) that large-star must re-center
    val vertices = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L) ++
      (30L to 39L) ++ Seq(40L, 41L, 42L)).toDF("doc_id")
    val edges = (Seq((1L, 2L), (3L, 2L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (2L, 1L), (41L, 40L), (41L, 42L)) ++
      (30L until 39L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val star = Dedup.connectedComponentsStar(vertices, edges,
        "doc_id", "doc_a", "doc_b")
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val prop = Dedup.connectedComponents(vertices, edges,
        "doc_id", "doc_a", "doc_b")
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(star == prop)
    assert(star.filter(_._1 >= 30L).forall { case (v, c) =>
      c == (if (v <= 39L) 30L else 40L) })
    // edge-free graph: every vertex is its own component, zero rounds
    val lone = Dedup.connectedComponentsStar(Seq(5L, 6L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"),
        "doc_id", "doc_a", "doc_b")
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(lone == Seq(5L -> 5L, 6L -> 6L))
    // insufficient round bound fails loudly
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponentsStar(vertices, edges, "doc_id", "doc_a",
        "doc_b", maxIters = 1))
    assert(e.getMessage.contains("did not converge"))
  }

  test("Similarity.cosineTopK ranks the exact neighbor first") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1f, 0f))).toDF("query_id", "qv")
    val got = Similarity.cosineTopK(corpus, q, 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(got == Seq(2L, 3L))
  }

  test("TextOps.stratifiedRank: exact N per stratum, stable under repartitioning") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"lang${i % 3}")).toDF("id", "lang")
    def draw(d: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      d.withColumn("rnk", TextOps.stratifiedRank(col("lang"), col("id")))
        .filter(col("rnk") <= 10)
        .select("lang", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val a = draw(df)
    val b = draw(df.repartition(7))
    val c = draw(df.orderBy(col("id").desc))
    assert(a == b && a == c, "the draw must not depend on physical layout")
    assert(a.groupBy(_._1).forall(_._2.size == 10), "exactly N per stratum")
  }

  test("Dedup.chunkKeepFirst: global first occurrence wins, layout-independent") {
    import spark.implicits._
    // doc 1 owns "a b c" at idx 0; doc 2 repeats it at idx 1 and repeats
    // its own "x y z" later in doc 3; unique chunks always keep
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "p q r a b c"),
      (3L, "x y z"),
      (4L, "x y z u v w")
    ).toDF("doc_id", "text")
    def kept(d: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Boolean)] =
      Dedup.chunkKeepFirst(d, "doc_id", "text", chunkTokens = 3)
        .select("doc_id", "chunk_idx", "keep").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq.sorted
    val a = kept(df)
    assert(a == Seq(
      (1L, 0, true), (1L, 1, true),
      (2L, 0, true), (2L, 1, false),
      (3L, 0, true),
      (4L, 0, false), (4L, 1, true)))
    assert(a == kept(df.repartition(5)) && a == kept(df.orderBy(col("doc_id").desc)),
      "the keep decision must not depend on physical layout")
  }

  test("TextOps.stratifiedRank: strata smaller than N keep everything") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "lang")
    val kept = df.withColumn("rnk", TextOps.stratifiedRank(col("lang"), col("id")))
      .filter(col("rnk") <= 10).count()
    assert(kept == 3)
  }

  test("TextOps.bpeMergePair: simultaneous non-overlapping merge semantics") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("e", "r", "e", "r")),      // two disjoint matches
      (2L, Seq("r", "e", "r", "e")),      // interior match only: r,[er],e
      (3L, Seq("e", "r")),                // whole word merges
      (4L, Seq("e")),                     // too short — unchanged
      (5L, Seq("r", "r", "e")),           // no match at pos 1 (r,r)
      (6L, Seq("e", "e", "r", "r")),      // middle pair only: e,[er],r
      (7L, Seq[String]())                 // empty — unchanged (no ANSI crash)
    ).toDF("id", "syms")
    val got = df.withColumn("m", TextOps.bpeMergePair(col("syms"), "e", "r"))
      .orderBy("id").collect().map(_.getSeq[String](2).toList).toList
    assert(got == List(
      List("er", "er"), List("r", "er", "e"), List("er"),
      List("e"), List("r", "r", "e"), List("e", "er", "r"), List()))
    // self-pairs are rejected — their occurrences can overlap
    intercept[IllegalArgumentException] {
      TextOps.bpeMergePair(col("syms"), "a", "a")
    }
  }
}
