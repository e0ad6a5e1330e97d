package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Deterministic multi-round k-means (Similarity.kmeansCentroids):
  * between-round centroid materialization, drop-out vs reseed semantics,
  * and the deterministic farthest-point reseed rule on a fixture built so
  * one seed cluster provably empties in the first Lloyd round.
  *
  * Fixture geometry (dim 4): label 0's two members point at (1,·,0,0) and
  * (0,·,1,0) — their mean lands between the label-1 centroid (1,0,0,0)
  * and the label-2 centroid (0,0,1,0), so both members reassign away in
  * round 1 and label 0 empties.
  */
class KmeansSpec extends AnyFunSuite with SparkTestSession {

  private val v1 = Seq(1.0f, 0.1f, 0.0f, 0.0f) // id 1, label 0
  private val v2 = Seq(0.0f, 0.1f, 1.0f, 0.0f) // id 2, label 0

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, 0L, v1),
      (2L, 0L, v2),
      (3L, 1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (4L, 1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (5L, 2L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (6L, 2L, Seq(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
  }

  test("reseedEmpty=false: an emptied cluster drops out (the s07 contract)") {
    val cent = Similarity.kmeansCentroids(fixture, dim = 4, iters = 1, chunks = 4)
    assert(Similarity.collectCodebook(cent).map(_._1) == Seq(1L, 2L))
  }

  test("reseedEmpty=true: emptied label reseeds with the farthest point, ties by id") {
    val cent = Similarity.kmeansCentroids(
      fixture, dim = 4, iters = 1, chunks = 4, reseedEmpty = true)
    val cb = Similarity.collectCodebook(cent)
    assert(cb.map(_._1) == Seq(0L, 1L, 2L), "emptied label 0 not reseeded")
    // The farthest-point rule: rank all rows by (max cosine to the new
    // centroids ASC, id ASC). v1 and v2 are symmetric — exactly tied best
    // cosine — so the id tie-break must pick id 1, and label 0's reseeded
    // centroid is v1's embedding verbatim.
    assert(cb.head._2 == v1, s"expected v1 as the reseeded centroid, got ${cb.head._2}")
  }

  test("reseeded centroids feed the next round (multi-round with reseed)") {
    // Round 2 starts from {v1, c1', c2'}: id 1 now has cosine ~1 with the
    // reseeded centroid 0 (it IS centroid 0), so label 0 is re-populated
    // in the final assignment — the reseed is not a cosmetic row.
    val cent = Similarity.kmeansCentroids(
      fixture, dim = 4, iters = 2, chunks = 4, reseedEmpty = true)
    val assigned = Similarity.assignToCentroids(
      fixture.select("vec_id", "embedding"), cent, Seq("vec_id"))
    val byCluster = assigned.groupBy("cluster").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byCluster.contains(0L), s"reseeded cluster 0 attracted no rows: $byCluster")
    assert(byCluster.values.sum == 6L)
  }

  test("materialized rounds produce the same centroids the lazy lineage did") {
    // The r8 formulation nested each round's plan inside the next; the
    // materialized form must be value-identical. Re-derive one round by
    // hand (assign to seed centroids, refold) and compare bit-for-bit.
    val df = fixture
    val seed = Similarity.buildCentroids(df, dim = 4, chunks = 4)
    val assigned = Similarity.assignToCentroids(
      df.select("vec_id", "embedding"), seed, Seq("vec_id"))
    val lazyRound = Similarity.buildCentroids(
      assigned, dim = 4, chunks = 4, labelCol = "cluster")
    val materialized = Similarity.kmeansCentroids(df, dim = 4, iters = 1, chunks = 4)
    assert(Similarity.collectCodebook(materialized) ==
      Similarity.collectCodebook(lazyRound))
  }

  test("no cluster empties on the real embeddings fixture (s09's oracle has no reseed arm)") {
    // s09_kmeans_multi runs reseedEmpty=true but its DuckDB oracle mirrors
    // only the assign+fold rounds; this pins the precondition that makes
    // that mirror exact on the gate data — at the gate's ACTUAL
    // configuration: SimilarityQueries.centroidChunks (the value both the
    // query and the oracle bake, including a -D override) and both SFs
    // the driver gate runs. If this ever fails, the oracle needs a reseed
    // arm before s09 can stay green.
    val chunks = graft.queries.SimilarityQueries.centroidChunks
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val emb = graft.Tables.embeddings(spark, dir)
        .select("vec_id", "label", "embedding")
      val seedLabels = Similarity.collectCodebook(
        Similarity.buildCentroids(emb, dim = 64, chunks = chunks)).map(_._1)
      val cent3 = Similarity.kmeansCentroids(
        emb, dim = 64, iters = 3, chunks = chunks, reseedEmpty = true)
      assert(Similarity.collectCodebook(cent3).map(_._1) == seedLabels,
        s"a cluster emptied at $dir / chunks=$chunks")
    }
  }

  test("chunks: an explicit count keys the fold; zero or negative fails loudly") {
    // prove the count reaches the FOLD'S CHUNK KEYING (the `% chunks`
    // level-1 grouping expression in the analyzed plan), not just that a
    // value was accepted: the fold mean is chunking-invariant on friendly
    // data, so a value assertion alone cannot catch a count that
    // validates but never reaches the groupBy
    import spark.implicits._
    val df = (0L until 8L).map(i =>
      (i, 0L, Seq(i.toFloat, 1.0f))).toDF("vec_id", "label", "embedding")
    def chunkKeying(chunks: Int): String = {
      val plan = Similarity.buildCentroids(df, dim = 2, chunks = chunks)
        .queryExecution.analyzed.toString
      val m = "% cast\\((\\d+) as bigint\\)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no chunk-keying modulo found in plan:\n$plan")
      m.get.group(1)
    }
    assert(chunkKeying(2) == "2")
    assert(chunkKeying(16) == "16")
    // mean over ids 0..7 dim0 = 3.5 regardless of chunking — value check
    val cb = Similarity.collectCodebook(Similarity.buildCentroids(df, dim = 2, chunks = 2))
    assert(cb.map(_._1) == Seq(0L) && cb.head._2.head == 3.5f)
    // a zero or negative count is a caller bug: loud, naming the value
    Seq(0, -8).foreach { bad =>
      val e = intercept[IllegalArgumentException](
        Similarity.buildCentroids(df, dim = 2, chunks = bad))
      assert(e.getMessage.contains(s"got $bad"), e.getMessage)
      val k = intercept[IllegalArgumentException](
        Similarity.kmeansCentroids(df, dim = 2, iters = 1, chunks = bad))
      assert(k.getMessage.contains(s"got $bad"), k.getMessage)
    }
  }
}
