package graft.ops

import org.apache.spark.sql.DataFrame

/** The IVF set-up of one embedding frame: its coarse-quantizer centroids
  * (the bounded-fold [[Similarity.buildCentroids]] at one chunk count),
  * the driver-side codebook, the `assigned` corpus and multi-probe
  * assignments. A thin wrapper: the fold order and the argmax tie-break
  * are the unchanged [[Similarity]] kernels', so every frame here is the
  * plan a hand-written build/assign/probe produced.
  *
  * `src` carries `idCol`, `embCol` and the seed `labelCol`; `chunks` is
  * the fold's chunk count, which any oracle mirroring the fold must bake
  * in too.
  */
final class Ivf private (src: DataFrame, val centroids: DataFrame, dim: Int,
    chunks: Int, labelCol: String, idCol: String, embCol: String) {

  /** The centroid table collected driver-side, sorted by label. */
  lazy val codebook: Seq[(Long, Seq[Float])] = Similarity.collectCodebook(centroids)

  /** `src`'s (id, embedding) rows plus their nearest `cluster`. */
  lazy val assigned: DataFrame = assign(src.select(idCol, embCol))

  /** `df`'s rows plus their nearest `cluster` (ties by label). */
  def assign(df: DataFrame): DataFrame =
    Similarity.assignToCentroids(df, centroids, Seq(idCol), embCol)

  /** `df`'s rows, one per each of their `nprobe` nearest clusters, keyed
    * by `id` and scored on `emb`. */
  def probes(df: DataFrame, nprobe: Int, id: String = idCol,
      emb: String = embCol): DataFrame =
    Similarity.probeCentroids(df, centroids, Seq(id), nprobe, emb)

  /** The same kit over eagerly local-checkpointed centroids: a frozen
    * quantizer that later batches reuse without rebuilding the fold. */
  def checkpointed: Ivf = withCentroids(centroids.localCheckpoint())

  /** The kit over the centroids of `iters` Lloyd rounds seeded from this
    * kit's centroids ([[Similarity.kmeansCentroids]]). */
  def kmeans(iters: Int, reseedEmpty: Boolean = false): Ivf = withCentroids(
    Similarity.kmeansCentroids(src, dim, iters, chunks, reseedEmpty, labelCol, idCol, embCol))

  private def withCentroids(cent: DataFrame): Ivf =
    new Ivf(src, cent, dim, chunks, labelCol, idCol, embCol)
}

object Ivf {
  def apply(src: DataFrame, dim: Int, chunks: Int, embCol: String = "embedding",
      labelCol: String = "label", idCol: String = "vec_id"): Ivf =
    new Ivf(src, Similarity.buildCentroids(src, dim, chunks, labelCol, idCol, embCol),
      dim, chunks, labelCol, idCol, embCol)
}
