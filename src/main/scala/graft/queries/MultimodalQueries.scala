package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.cosineSim
import graft.multimodal.MediaPipeline

/** Multimodal pipeline exercised through the oracle gate: document text
  * payloads stand in for media bytes (the only binary-able column in the
  * testdata), flowing through the real typed `mapPartitions` batch-decode
  * path. The stubbed decoder's md5-derived features are exact binary
  * fractions (hexbyte/256), so even the float feature is oracle-checkable.
  */
object MultimodalQueries {

  // m01 — binary ingestion → batched decode → per-object features.
  def m01MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("text"),
      lit("text").as("kind"), lit("text/plain").as("mime"))
    val media = MediaPipeline.fromBinary(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "kind", "mime")
    MediaPipeline.decodeFeatures(media, batchSize = 64)
      .toDF()
      .select(
        col("media_id"), col("kind"), col("byte_len"), col("content_hash"),
        col("feature")(0).cast("double").as("f0"))
      .orderBy("media_id")
  }

  val m01Oracle: String =
    """SELECT doc_id AS media_id, 'text' AS kind,
      |  CAST(strlen(text) AS BIGINT) AS byte_len,
      |  md5(text) AS content_hash,
      |  CAST(('0x' || substr(md5(text), 1, 2)) AS INT)/256.0 AS f0
      |FROM documents ORDER BY 1""".stripMargin

  // m02 — frame sampling: n=4 deterministic frames per media object via the
  // typed flatMap boundary, per-frame length + hash. The stub's slice
  // arithmetic (start_i = (i·len/4) mod len, 16-byte frames) is replayed
  // by the oracle over the same ASCII payloads.
  def m02FrameSamples(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("text"),
      lit("video").as("kind"), lit("video/fake").as("mime"))
    val media = MediaPipeline.fromBinary(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "kind", "mime")
    MediaPipeline.sampleFrames(media, n = 4)
      .toDF()
      .select(
        col("media_id"), col("frame_idx"),
        length(col("frame")).as("frame_len"),
        expr("CAST(conv(substr(md5(frame), 1, 8), 16, 10) AS BIGINT)").as("frame_hash"))
      .orderBy("media_id", "frame_idx")
  }

  val m02Oracle: String =
    """WITH f AS (
      |  SELECT doc_id AS media_id, i AS frame_idx,
      |    substr(text, ((i*strlen(text))//4 % strlen(text)) + 1,
      |           LEAST(16, strlen(text) - ((i*strlen(text))//4 % strlen(text)))) AS frame
      |  FROM documents, generate_series(0, 3) t(i)
      |)
      |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
      |  CAST(strlen(frame) AS INT) AS frame_len,
      |  CAST(('0x' || substr(md5(frame), 1, 8)) AS BIGINT) AS frame_hash
      |FROM f ORDER BY media_id, frame_idx""".stripMargin

  // m03 — batched resize through the decoder boundary: the third leg of
  // the decode / frame-sample / resize triple. The stub's tag+truncate
  // arithmetic ('resized:WxH:' ++ first 16 payload bytes) is replayed by
  // the oracle over the same ASCII payloads, so the batch boundary,
  // binary schema, and row mapping are all gate-checked even though the
  // resample itself is a stand-in for a real codec.
  def m03Resize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("text"),
      lit("image").as("kind"), lit("image/fake").as("mime"))
    val media = MediaPipeline.fromBinary(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "kind", "mime")
    MediaPipeline.resizeImages(media, 64, 64)
      .toDF()
      .select(
        col("media_id"),
        length(col("resized")).as("out_len"),
        md5(col("resized")).as("out_hash"))
      .orderBy("media_id")
  }

  val m03Oracle: String =
    """SELECT doc_id AS media_id,
      |  CAST(14 + LEAST(16, strlen(text)) AS INT) AS out_len,
      |  md5('resized:64x64:' || substr(text, 1, 16)) AS out_hash
      |FROM documents ORDER BY 1""".stripMargin

  // m04 — exact MEDIA dedup by payload content hash (the d01 operator at
  // the binary boundary): a media lake's first dedup pass groups on the
  // decoder-reported content hash — computed INSIDE the batched decode,
  // so identical bytes dedup regardless of filename/id — and reports, per
  // duplicate group, the canonical keeper and the bytes reclaimed. The
  // corpus has no exact duplicates below sf0.1, so duplicates are
  // INJECTED deterministically (every doc_id % 7 == 0 payload re-ingested
  // under media_id + 10M — the t12/t14 structure-injection pattern),
  // keeping the group/keeper/savings arithmetic live at every SF while
  // natural sf0.1 duplicates still flow through. One shuffle on the
  // 128-bit hash; at 100 TB this is the same single-pass layout as d01
  // with payload bytes never leaving their executor (only hash + length
  // ride the shuffle).
  def m04MediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val injected = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val docs = base.unionByName(injected)
      .select(col("doc_id"), col("text"),
        lit("image").as("kind"), lit("image/fake").as("mime"))
    val media = MediaPipeline.fromBinary(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "kind", "mime")
    MediaPipeline.decodeFeatures(media, batchSize = 64)
      .toDF()
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"),
        min(col("media_id")).as("keeper_id"),
        (max(col("byte_len")) * (count(lit(1)) - 1)).as("bytes_saved"))
      .filter(col("n_copies") >= 2)
      .orderBy("content_hash")
  }

  val m04Oracle: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 7 = 0
      |)
      |SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
      |  CAST(MIN(media_id) AS BIGINT) AS keeper_id,
      |  CAST(MAX(strlen(text)) * (COUNT(*) - 1) AS BIGINT) AS bytes_saved
      |FROM m GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1""".stripMargin

  // m05 — cross-media duplicate-FRAME detection: where m04 dedups whole
  // objects by content hash, m05 works at the sub-object level — sample
  // frames through the decoder boundary (m02's path), hash each frame,
  // and find hashes occurring in ≥2 DISTINCT media objects (shared
  // intros/credits/watermark stills — the video-dedup signal that whole-
  // file hashing misses). Replicas injected as in m04 (%7 re-ingested at
  // media_id+10M) keep the cross-media families live. Output is one
  // summary row: frame/hash totals, shared-hash mass, and the affected-
  // media count + id-checksum (pins WHICH objects share frames). Plan:
  // the frame explode is a narrow typed flatMap (4 rows/object), one
  // hash-key shuffle for the family agg, a semi-join back for the
  // affected set — no pairwise term; the same inverted-index shape as
  // d18 one level down the media hierarchy.
  def m05FrameDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val injected = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val docs = base.unionByName(injected)
      .select(col("doc_id"), col("text"),
        lit("video").as("kind"), lit("video/fake").as("mime"))
    val media = MediaPipeline.fromBinary(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "kind", "mime")
    val frames = MediaPipeline.sampleFrames(media, n = 4)
      .toDF()
      .select(col("media_id"),
        expr("CAST(conv(substr(md5(frame), 1, 8), 16, 10) AS BIGINT)").as("h"))
    val fam = frames.groupBy("h")
      .agg(countDistinct(col("media_id")).as("nm"), count(lit(1)).as("nf"))
    val famStats = fam.agg(
      count(lit(1)).as("n_hashes"),
      sum(col("nf")).as("n_frames"),
      sum(when(col("nm") >= 2, 1L).otherwise(0L)).as("n_shared_hashes"),
      sum(when(col("nm") >= 2, col("nf")).otherwise(0L)).as("n_shared_frames"))
    val affected = frames
      .join(fam.filter(col("nm") >= 2).select("h"), Seq("h"), "left_semi")
      .select("media_id").distinct()
      .agg(count(lit(1)).as("n_affected_media"),
        sum(col("media_id")).as("affected_id_sum"))
    famStats.crossJoin(affected)
  }

  val m05Oracle: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 7 = 0
      |), f AS (
      |  SELECT media_id,
      |    CAST(('0x' || substr(md5(
      |      substr(text, ((i*strlen(text))//4 % strlen(text)) + 1,
      |             LEAST(16, strlen(text) - ((i*strlen(text))//4 % strlen(text))))
      |    ), 1, 8)) AS BIGINT) AS h
      |  FROM m, generate_series(0, 3) t(i)
      |), fam AS (
      |  SELECT h, COUNT(DISTINCT media_id) AS nm, COUNT(*) AS nf FROM f GROUP BY h
      |), fs AS (
      |  SELECT COUNT(*) AS n_hashes, CAST(SUM(nf) AS BIGINT) AS n_frames,
      |    CAST(SUM(CASE WHEN nm >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_hashes,
      |    CAST(SUM(CASE WHEN nm >= 2 THEN nf ELSE 0 END) AS BIGINT) AS n_shared_frames
      |  FROM fam
      |), aff AS (
      |  SELECT COUNT(*) AS n_affected_media,
      |    CAST(SUM(media_id) AS BIGINT) AS affected_id_sum
      |  FROM (SELECT DISTINCT media_id FROM f
      |        WHERE h IN (SELECT h FROM fam WHERE nm >= 2))
      |)
      |SELECT * FROM fs, aff""".stripMargin

  // m06 — CROSS-MODAL SEARCH: the "embed the media, search the
  // embeddings" bridge — media bytes flow through the REAL typed
  // mapPartitions decode boundary into an 8-dim feature vector (the
  // stub's md5-derived exact binary fractions: each dim is
  // hexbyte/256, lossless in float AND double, so even the cosine is
  // oracle-checkable), then top-3 nearest media per query by the
  // shared ascending cosine fold — s01's broadcast-query/one-scan
  // shape applied at the media boundary. This gates the full
  // modality bridge (binary → batch decode → vector column →
  // similarity join) as one lineage: a batching, schema, or
  // float-scaling bug anywhere in MediaPipeline lands as a rank
  // mismatch. A real deployment swaps the stub for a codec+encoder;
  // the plumbing (the part Spark owns) is what's gated.
  def m06CrossModalSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("text"),
      lit("image").as("kind"), lit("image/fake").as("mime"))
    val media = MediaPipeline.fromBinary(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "kind", "mime")
    val feats = MediaPipeline.decodeFeatures(media, batchSize = 64)
      .toDF().select(col("media_id"), col("feature"))
    val q = feats.filter(col("media_id") % 50 === 0)
      .select(col("media_id").as("query_id"), col("feature").as("qf"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("media_id"))
    feats.join(broadcast(q), col("media_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qf"), col("feature")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("media_id").as("neighbor_media_id"))
      .orderBy("query_id", "rank")
  }

  val m06Oracle: String = {
    val cos = "list_sum(list_transform(list_zip(q.qf, f.feature), x -> x[1] * x[2]))" +
      " / sqrt(list_sum(list_transform(q.qf, x -> x * x))" +
      " * list_sum(list_transform(f.feature, x -> x * x)))"
    s"""WITH f AS (
      |  SELECT doc_id AS media_id,
      |    list_transform(range(0, 8), i ->
      |      CAST(CAST(('0x' || substr(md5(text), i * 2 + 1, 2)) AS INT) AS DOUBLE)
      |        / CAST(256 AS DOUBLE)) AS feature
      |  FROM documents
      |), q AS (
      |  SELECT media_id AS query_id, feature AS qf FROM f WHERE media_id % 50 = 0
      |), scored AS (
      |  SELECT q.query_id, f.media_id, $cos AS cos
      |  FROM f, q WHERE f.media_id <> q.query_id
      |)
      |SELECT query_id, rank, media_id AS neighbor_media_id FROM (
      |  SELECT query_id, media_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, media_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin
  }

  // m07 — the MEDIA MANIFEST card: one row summarizing the corpus
  // through EVERY typed decoder boundary in one lineage — ingestion
  // (object count, byte mass), exact payload dedup (m04's content
  // identity), and frame sampling (m05's per-frame hashes) — the
  // dataset card a multimodal release ships next to p06's text card,
  // and the nightly drift monitor for the media side. Aggregates are
  // all counts/sums of exact hashes: a batching or slicing bug in
  // any boundary flips a number.
  def m07MediaManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("text"),
      lit("video").as("kind"), lit("video/fake").as("mime"))
    val media = MediaPipeline.fromBinary(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "kind", "mime")
    val feats = MediaPipeline.decodeFeatures(media, batchSize = 64).toDF()
    val base = feats.agg(
      count(lit(1)).as("n_media"),
      coalesce(sum(col("byte_len")), lit(0L)).as("total_bytes"),
      count_distinct(col("content_hash")).as("n_unique_payloads"))
    val frames = MediaPipeline.sampleFrames(media, n = 4).toDF()
      .select(expr("CAST(conv(substr(md5(frame), 1, 8), 16, 10) AS BIGINT)").as("h"))
      .agg(count(lit(1)).as("n_frames"),
        count_distinct(col("h")).as("n_unique_frame_hashes"))
    base.crossJoin(frames)
      .withColumn("dup_payloads", col("n_media") - col("n_unique_payloads"))
      .select("n_media", "total_bytes", "n_unique_payloads", "dup_payloads",
        "n_frames", "n_unique_frame_hashes")
  }

  val m07Oracle: String =
    """WITH f AS (
      |  SELECT doc_id AS media_id,
      |    CAST(('0x' || substr(md5(
      |      substr(text, ((i*strlen(text))//4 % strlen(text)) + 1,
      |             LEAST(16, strlen(text) - ((i*strlen(text))//4 % strlen(text))))
      |    ), 1, 8)) AS BIGINT) AS h
      |  FROM documents, generate_series(0, 3) t(i)
      |), b AS (
      |  SELECT COUNT(*) AS n_media,
      |    CAST(COALESCE(SUM(strlen(text)), 0) AS BIGINT) AS total_bytes,
      |    COUNT(DISTINCT md5(text)) AS n_unique_payloads
      |  FROM documents
      |), fr AS (
      |  SELECT COUNT(*) AS n_frames,
      |    COUNT(DISTINCT h) AS n_unique_frame_hashes
      |  FROM f
      |)
      |SELECT n_media, total_bytes, n_unique_payloads,
      |  n_media - n_unique_payloads AS dup_payloads,
      |  n_frames, n_unique_frame_hashes
      |FROM b, fr""".stripMargin

  // m08 — SCENE SEGMENTATION (shot-boundary detection): 8 ordered frames
  // per media object through the decoder boundary, a boundary wherever
  // consecutive frame hashes differ, scenes = runs of identical frames —
  // the video-curation primitive behind per-scene sampling, scene-level
  // dedup, and "static clip" filtering (n_scenes = 1 means every sampled
  // frame matched). Short payloads make the stub sampler re-read
  // overlapping byte windows, so repeated frames genuinely occur and the
  // run-length structure is live at every SF. The natural corpus is all
  // 8-distinct-frame objects (every doc ≥ 48 chars), so two clip classes
  // are INJECTED deterministically — %11 replaced by a 128-byte constant
  // payload (every 16-byte frame window is identical → one scene, the
  // "static clip"; 128 = 8·16 so no short tail window sneaks in a
  // boundary) and %13≡5 given a 32-byte constant prefix (the leading
  // frames collapse into one run → a middle bucket) — keeping all three
  // histogram regimes live. Plan: the frame explode is the narrow typed flatMap
  // (8 rows/object); the boundary detection is one lag window per media
  // object (8-row partitions); the histogram is a hash agg on the
  // per-media scene count. Output pins the exact scene-count
  // distribution and which media land in each bucket.
  def m08SceneSegments(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, lit("b" * 128))
          .when(col("doc_id") % 13 === 5,
            concat(lit("a" * 32), substring(col("text"), 1, 32)))
          .otherwise(col("text")).as("text"),
        lit("video").as("kind"), lit("video/fake").as("mime"))
    val media = MediaPipeline.fromBinary(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "kind", "mime")
    val frames = MediaPipeline.sampleFrames(media, n = 8)
      .toDF()
      .select(col("media_id"), col("frame_idx"),
        expr("CAST(conv(substr(md5(frame), 1, 8), 16, 10) AS BIGINT)").as("h"))
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    val scenes = frames
      .withColumn("prev", lag(col("h"), 1).over(w))
      .groupBy("media_id")
      .agg(sum(when(col("prev").isNull || col("prev") =!= col("h"), 1L)
        .otherwise(0L)).as("n_scenes"))
    scenes.groupBy("n_scenes")
      .agg(count(lit(1)).as("n_media"), sum(col("media_id")).as("media_id_sum"))
      .orderBy("n_scenes")
  }

  val m08Oracle: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 11 = 0 THEN repeat('b', 128)
      |         WHEN doc_id % 13 = 5 THEN repeat('a', 32) || substr(text, 1, 32)
      |         ELSE text END AS text
      |  FROM documents
      |), f AS (
      |  SELECT media_id, i,
      |    CAST(('0x' || substr(md5(
      |      substr(text, ((i*strlen(text))//8 % strlen(text)) + 1,
      |             LEAST(16, strlen(text) - ((i*strlen(text))//8 % strlen(text))))
      |    ), 1, 8)) AS BIGINT) AS h
      |  FROM m, generate_series(0, 7) t(i)
      |), runs AS (
      |  SELECT media_id,
      |    SUM(CASE WHEN prev IS NULL OR prev <> h THEN 1 ELSE 0 END) AS n_scenes
      |  FROM (SELECT media_id, h,
      |          lag(h) OVER (PARTITION BY media_id ORDER BY i) AS prev
      |        FROM f)
      |  GROUP BY media_id
      |)
      |SELECT CAST(n_scenes AS BIGINT) AS n_scenes, COUNT(*) AS n_media,
      |  CAST(SUM(media_id) AS BIGINT) AS media_id_sum
      |FROM runs GROUP BY n_scenes ORDER BY n_scenes""".stripMargin

  // m09 — TEMPORAL ALIGNMENT between near-duplicate videos: m05 finds
  // frames shared across media; a video DEDUP decision needs more — how
  // LONG a run of frames two media share in the same order (full re-upload
  // vs a loop/clip that merely reuses stills). The fixture injects both
  // classes: exact re-uploads (%7 at +10M — all 4 frames align, run 4)
  // and LOOPED variants (%5 at +20M, payload doubled — the sampler lands
  // on the original's frames 0/2 but at shifted indices, so hashes are
  // shared while no two matches sit on one diagonal: run 1). Matching
  // pairs come from the frame inverted index under the house hot-key
  // discipline (per-hash distinct-media count, semi-join into [2,32]
  // before the self-join — a watermark still shared by thousands of
  // videos must not go quadratic), runs from d29's gaps-and-islands on
  // the (pair, diagonal) key (ia − row_number), and the output folds to
  // the run-length histogram with a pair-id checksum pinning WHICH pairs
  // sit in each class. Plan shape: typed frame flatMap (4 rows/object),
  // one hash-keyed count + semi-join, the capped hash-keyed pair join,
  // pair-keyed windows — no all-pairs term anywhere.
  def m09TemporalAlign(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val docs = base
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          concat(col("text"), col("text")).as("text")))
      .select(col("doc_id"), col("text"),
        lit("video").as("kind"), lit("video/fake").as("mime"))
    val media = MediaPipeline.fromBinary(
      docs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "kind", "mime")
    val frames = MediaPipeline.sampleFrames(media, n = 4)
      .toDF()
      .select(col("media_id"), col("frame_idx"),
        expr("CAST(conv(substr(md5(frame), 1, 8), 16, 10) AS BIGINT)").as("h"))
    val fam = frames.groupBy("h")
      .agg(countDistinct(col("media_id")).as("nm"))
      .filter(col("nm").between(2, 32)).select("h")
    val ff = frames.join(fam, Seq("h"), "left_semi")
    val mt = ff.select(col("media_id").as("ma"), col("frame_idx").as("ia"),
        col("h"))
      .join(ff.select(col("media_id").as("mb"), col("frame_idx").as("ib"),
        col("h")), Seq("h"))
      .filter(col("ma") < col("mb"))
    val w = Window.partitionBy(col("ma"), col("mb"), col("ia") - col("ib"))
      .orderBy("ia")
    val runs = mt.withColumn("grp", col("ia") - row_number().over(w))
      .groupBy(col("ma"), col("mb"), (col("ia") - col("ib")).as("diag"),
        col("grp"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy("ma", "mb").agg(max(col("run_len")).as("run_len"))
      .groupBy("run_len")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("ma") + col("mb")).as("pair_id_sum"))
      .orderBy("run_len")
  }

  val m09Oracle: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, text || text FROM documents
      |  WHERE doc_id % 5 = 0
      |), f AS (
      |  SELECT media_id, i AS frame_idx,
      |    CAST(('0x' || substr(md5(
      |      substr(text, ((i*strlen(text))//4 % strlen(text)) + 1,
      |             LEAST(16, strlen(text) - ((i*strlen(text))//4 % strlen(text))))
      |    ), 1, 8)) AS BIGINT) AS h
      |  FROM m, generate_series(0, 3) t(i)
      |), fam AS (
      |  SELECT h FROM f GROUP BY h
      |  HAVING COUNT(DISTINCT media_id) BETWEEN 2 AND 32
      |), ff AS (
      |  SELECT * FROM f WHERE h IN (SELECT h FROM fam)
      |), mt AS (
      |  SELECT a.media_id AS ma, b.media_id AS mb,
      |    a.frame_idx AS ia, b.frame_idx AS ib
      |  FROM ff a JOIN ff b ON a.h = b.h AND a.media_id < b.media_id
      |), runs AS (
      |  SELECT ma, mb, COUNT(*) AS run_len FROM (
      |    SELECT ma, mb, ia - ib AS diag,
      |      ia - row_number() OVER (PARTITION BY ma, mb, ia - ib
      |                              ORDER BY ia) AS grp
      |    FROM mt)
      |  GROUP BY ma, mb, diag, grp
      |), longest AS (
      |  SELECT ma, mb, MAX(run_len) AS run_len FROM runs GROUP BY ma, mb
      |)
      |SELECT run_len, COUNT(*) AS n_pairs,
      |  CAST(SUM(ma + mb) AS BIGINT) AS pair_id_sum
      |FROM longest GROUP BY run_len ORDER BY run_len""".stripMargin

  // m10 — STREAMING MEDIA INGEST with a maintained manifest: the media
  // family's streaming member (every other family has one — text t30,
  // dedup d32, similarity s42/s43/s46, CDC throughout). Media objects
  // arrive in id-range-ordered binlog batches; per micro-batch the
  // payloads run through the REAL typed mapPartitions decode and
  // frame-sample boundaries (MediaPipeline — the plumbing under test;
  // codecs stay the documented deterministic fakes) and the manifest
  // maintains incrementally via ViewMaintenance partials: counts and
  // byte mass as additive sums, payload/frame uniqueness as appended
  // per-batch distinct-hash sets folded at serve time (set union —
  // idempotent, redelivery-free; at 100 TB that hash set IS the dedup
  // index a media pipeline keeps anyway). Shares m07's oracle: the
  // drained manifest must equal the one-shot batch manifest, so a
  // mismatch isolates the streaming delivery and the per-batch decode
  // boundaries, not the manifest arithmetic.
  def m10StreamManifest(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val (root, feed, counts, ckpt) = graft.streaming.Drains.streamDirs("graft_m10_", dir, "counts")
    val ph = new java.io.File(root, "ph").getPath
    val fh = new java.io.File(root, "fh").getPath
    graft.ingest.BinlogSink.writeKeyedStrings(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .repartitionByRange(4, col("doc_id")), feed) // VARCHAR bound derived from the data (r12 advice)
    graft.streaming.Drains.drainBinlog(spark, Seq(feed), ckpt) { (batch, _) =>
      val docs = batch.filter(col("event_type") === "WriteRowsEventV2")
        .select(explode(col("row_images")).as("img"))
        .select(element_at(col("img"), 1).cast("long").as("doc_id"),
          element_at(col("img"), 2).as("text"),
          lit("video").as("kind"), lit("video/fake").as("mime"))
      val media = MediaPipeline.fromBinary(
        docs.withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload", "kind", "mime")
      // the two decode materializations are independent, and the three
      // state appends land in disjoint dirs — two parallel rounds
      // instead of five sequential driver actions per batch (§2.6)
      var feats: DataFrame = null
      var frames: DataFrame = null
      graft.streaming.Drains.inParallel(
        () => feats = MediaPipeline.decodeFeatures(media, batchSize = 64)
          .toDF()
          .localCheckpoint(true), // counts + hash set share one decode
        () => frames = MediaPipeline.sampleFrames(media, n = 4).toDF()
          .select(expr(
            "CAST(conv(substr(md5(frame), 1, 8), 16, 10) AS BIGINT)").as("h"))
          .localCheckpoint(true))
      graft.streaming.Drains.inParallel(
        () => ViewMaintenance.appendBatch(feats.agg(
          count(lit(1)).as("n_media"),
          coalesce(sum(col("byte_len")), lit(0L)).as("total_bytes"),
          lit(0L).as("n_frames"))
          .unionByName(frames.agg(lit(0L).as("n_media"),
            lit(0L).as("total_bytes"), count(lit(1)).as("n_frames"))), counts),
        () => ViewMaintenance.appendBatch(
          feats.select(col("content_hash")).distinct(), ph),
        () => ViewMaintenance.appendBatch(frames.select(col("h")).distinct(), fh))
    }
    val sums = ViewMaintenance.readState(spark, counts,
        "n_media BIGINT, total_bytes BIGINT, n_frames BIGINT")
      .agg(sum(col("n_media")).as("n_media"),
        sum(col("total_bytes")).as("total_bytes"),
        sum(col("n_frames")).as("n_frames"))
    val uniqP = ViewMaintenance.readState(spark, ph, "content_hash STRING")
      .agg(count_distinct(col("content_hash")).as("n_unique_payloads"))
    val uniqF = ViewMaintenance.readState(spark, fh, "h BIGINT")
      .agg(count_distinct(col("h")).as("n_unique_frame_hashes"))
    sums.crossJoin(uniqP).crossJoin(uniqF)
      .withColumn("dup_payloads", col("n_media") - col("n_unique_payloads"))
      .select("n_media", "total_bytes", "n_unique_payloads", "dup_payloads",
        "n_frames", "n_unique_frame_hashes")
  }

  // m11 — STREAMING MEDIA DEDUP AT INGEST (m04's whole-object dedup in
  // the arrival posture, closing the media maintenance pair with m10:
  // the manifest tracks what arrived, this decides KEEP vs DUPLICATE as
  // it arrives). Media objects — m04's exact corpus including the %7
  // replicas re-ingested at id+10M — ride id-range-ordered binlog
  // batches; each batch runs the REAL typed decode (MediaPipeline
  // through the binary boundary, m10's discipline), then flags an
  // object as duplicate iff the ACCUMULATED keeper index (ViewMaintenance
  // state of per-hash min ids — min is idempotent, so index redelivery
  // is free) holds a STRICTLY smaller id for its content hash, or an
  // earlier-id batchmate shares it — the d32 strict-prefix trick, so
  // with id-ordered arrival
  // the flagged set is exactly "all copies except the per-hash global
  // keeper" and the drained report reconstructs m04's table
  // bit-for-bit: SHARES m04's oracle, a mismatch isolates the streaming
  // delivery (wire round-trip, per-batch decode, index handling), not
  // the dedup semantics. At 100 TB: per batch one hash-keyed semi-probe
  // of the broadcast-sized index delta plus a ≤|hashes|-row append —
  // the corpus never reshuffles.
  def m11StreamMediaDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val (root, feed, idx, ckpt) = graft.streaming.Drains.streamDirs("graft_m11_", dir, "idx")
    val flags = new java.io.File(root, "flags").getPath
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = base.unionByName(
      base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    graft.ingest.BinlogSink.writeKeyedStrings(
      corpus.repartitionByRange(4, col("doc_id")), feed) // VARCHAR bound derived from the data (r12 advice)
    // drain + the injected batch-0 redelivery (the cdc48 discipline, via
    // the shared scaffold): the strict-inequality probe below and the
    // idempotent index minima must absorb the replay bit-for-bit
    graft.streaming.Drains.drainWithRedelivery(spark, feed, ckpt) { (batch, _) =>
        val docs = batch.filter(col("event_type") === "WriteRowsEventV2")
          .select(explode(col("row_images")).as("img"))
          .select(element_at(col("img"), 1).cast("long").as("media_id"),
            element_at(col("img"), 2).as("text"),
            lit("image").as("kind"), lit("image/fake").as("mime"))
        val feats = MediaPipeline.decodeFeatures(
            MediaPipeline.fromBinary(
              docs.withColumn("payload", encode(col("text"), "UTF-8")),
              "media_id", "payload", "kind", "mime"),
            batchSize = 64).toDF()
          .select("media_id", "content_hash", "byte_len")
          .localCheckpoint(true) // index probe + intra minima + appends
        val known = ViewMaintenance.readState(spark, idx,
          "content_hash STRING, keeper BIGINT, blen BIGINT")
        // STRICT keeper < media_id, not bare hash existence: under a
        // redelivered batch the index already holds the batch's OWN
        // per-hash minima (keeper == the keeper's id), and a bare
        // existence probe would flag the keepers themselves; the strict
        // inequality makes the probe yield the identical flag set on
        // replay, so the re-appended rows fold in the serve-time
        // distinct — redelivery-safe for real, not by assumption.
        val hitIdx = feats.join(
          known.select(col("content_hash").as("_kh"), col("keeper")),
          col("_kh") === col("content_hash") &&
            col("keeper") < col("media_id"), "left_semi")
        val intraMin = feats.groupBy("content_hash")
          .agg(min(col("media_id")).as("mn"))
        val hitIntra = feats.join(intraMin, Seq("content_hash"))
          .filter(col("media_id") > col("mn"))
          .select("content_hash", "media_id", "byte_len")
        // disjoint state dirs; the flags plan's index read froze its file
        // listing at readState above, and appends never delete — the two
        // writes overlap (§2.6)
        graft.streaming.Drains.inParallel(
          () => ViewMaintenance.appendBatch(
            hitIdx.select("content_hash", "media_id", "byte_len")
              .unionByName(hitIntra).distinct(), flags),
          () => ViewMaintenance.appendBatch(
            feats.groupBy("content_hash")
              .agg(min(col("media_id")).as("keeper"),
                max(col("byte_len")).as("blen")), idx))
    }
    // m04's exact report from the drained states: per hash with ≥1
    // flagged copy — copies = flagged + the keeper; all copies carry one
    // payload, so byte_len is constant per hash and m04's
    // max(byte_len)·(n−1) is blen·n_flagged
    val keepers = ViewMaintenance.readState(spark, idx,
        "content_hash STRING, keeper BIGINT, blen BIGINT")
      .groupBy("content_hash")
      .agg(min(col("keeper")).as("keeper_id"), max(col("blen")).as("blen"))
    ViewMaintenance.readState(spark, flags,
        "content_hash STRING, media_id BIGINT, byte_len BIGINT")
      .distinct() // redelivered appends fold (the d32/d33 set discipline)
      .groupBy("content_hash").agg(count(lit(1)).as("n_flagged"))
      .join(keepers, Seq("content_hash"))
      .select(col("content_hash"),
        (col("n_flagged") + 1L).as("n_copies"),
        col("keeper_id"),
        (col("blen") * col("n_flagged")).as("bytes_saved"))
      .orderBy("content_hash")
  }

  // m12 — SET-STATE COMPACTION (cdc51 proves compaction for additive
  // sums; this proves it for the other two partial classes in one gate:
  // m11's flags are a SET state — fold = distinct — and its keeper index
  // is an idempotent MIN/MAX register state — fold = per-hash
  // min(keeper)/max(blen)). Same wire, decode, and strict-probe
  // semantics as m11, but the corpus REMAPS ids so duplicates are
  // ADJACENT — original at 2·doc_id, its %7 replica at 2·doc_id + 1 —
  // putting live flag rows in EVERY id-range batch (m11's tail-replica
  // layout leaves early batches flag-empty, and an empty partial writes
  // no partition: the set-state compaction would silently never fire at
  // small SFs, and the replayed batch 0 would carry no flags to prove
  // anything with — the r13 review catch). Both states land under
  // applyIdempotent, both compact MID-drain via the maybeCompact policy
  // (fires exactly once, after batch 2, covering 0–1 — now guaranteed
  // for BOTH states because every batch writes both partials), and the
  // injected batch-0 redelivery exercises the covered-replay path on
  // both folds: the replayed batch re-probes the compacted index —
  // whose base holds exactly the folded minima, so the strict
  // keeper < media_id rule yields the identical flag set — and its
  // recreated batch_id=0 partitions are ignored by the read-side live
  // rule. The oracle is m04's report under the id remap (same
  // semantics, adjacent keepers). Serve-time reads need no distinct —
  // exactly-once + compaction make the states duplicate-free by
  // construction (m11 keeps the at-least-once posture for contrast).
  def m12CompactedMediaDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val (root, feed, idx, ckpt) = graft.streaming.Drains.streamDirs("graft_m12_", dir, "idx")
    val flags = new java.io.File(root, "flags").getPath
    val idxSchema = "content_hash STRING, keeper BIGINT, blen BIGINT, batch_id BIGINT"
    val flagSchema = "content_hash STRING, media_id BIGINT, byte_len BIGINT, batch_id BIGINT"
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = base.select((col("doc_id") * 2L).as("doc_id"), col("text"))
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") * 2L + 1L).as("doc_id"), col("text")))
    graft.ingest.BinlogSink.writeKeyedStrings(
      corpus.repartitionByRange(4, col("doc_id")), feed)
    graft.streaming.Drains.drainWithRedelivery(spark, feed, ckpt) { (batch, id) =>
        val docs = batch.filter(col("event_type") === "WriteRowsEventV2")
          .select(explode(col("row_images")).as("img"))
          .select(element_at(col("img"), 1).cast("long").as("media_id"),
            element_at(col("img"), 2).as("text"),
            lit("image").as("kind"), lit("image/fake").as("mime"))
        val feats = MediaPipeline.decodeFeatures(
            MediaPipeline.fromBinary(
              docs.withColumn("payload", encode(col("text"), "UTF-8")),
              "media_id", "payload", "kind", "mime"),
            batchSize = 64).toDF()
          .select("media_id", "content_hash", "byte_len")
          .localCheckpoint(true) // index probe + intra minima + both writes
        // exclude the batch's OWN live partition by partition pruning: a
        // replayed batch's index partition holds exactly this batch's
        // per-hash minima, and every row they would flag (media_id >
        // own-batch min) is ALREADY in hitIntra below — so the flag set
        // is identical, and the probe plan no longer touches the files
        // the CONCURRENT index overwrite of partition `id` deletes
        // (compacted minima live under base ids and stay visible)
        val known = ViewMaintenance.readState(spark, idx, idxSchema)
          .filter(col("batch_id") =!= lit(id))
        val hitIdx = feats.join(
          known.select(col("content_hash").as("_kh"), col("keeper")),
          col("_kh") === col("content_hash") &&
            col("keeper") < col("media_id"), "left_semi")
        val intraMin = feats.groupBy("content_hash")
          .agg(min(col("media_id")).as("mn"))
        val hitIntra = feats.join(intraMin, Seq("content_hash"))
          .filter(col("media_id") > col("mn"))
          .select("content_hash", "media_id", "byte_len")
        // disjoint state dirs — the two exactly-once writes overlap (§2.6)
        graft.streaming.Drains.inParallel(
          () => ViewMaintenance.applyIdempotent(
            hitIdx.select("content_hash", "media_id", "byte_len")
              .unionByName(hitIntra).distinct(), flags, id),
          () => ViewMaintenance.applyIdempotent(
            feats.groupBy("content_hash")
              .agg(min(col("media_id")).as("keeper"),
                max(col("byte_len")).as("blen")), idx, id))
        // MID-drain compaction via the POLICY (cdc51 pins the explicit
        // form; this pins maybeCompact): with maxLive=2/keepLast=1 the
        // fold fires exactly once — after batch 2, covering batches 0–1
        // — and declines everywhere else, including after the injected
        // batch-0 replay (the recreated covered partition is not live).
        // Disjoint dirs, both run after both writes — overlapped (§2.6)
        graft.streaming.Drains.inParallel(
          () => ViewMaintenance.maybeCompact(spark, flags, flagSchema,
            maxLive = 2, keepLast = 1)(_.distinct()),
          () => ViewMaintenance.maybeCompact(spark, idx, idxSchema,
            maxLive = 2, keepLast = 1)(
            _.groupBy("content_hash")
              .agg(min(col("keeper")).as("keeper"), max(col("blen")).as("blen"))))
    }
    val keepers = ViewMaintenance.readState(spark, idx, idxSchema)
      .groupBy("content_hash")
      .agg(min(col("keeper")).as("keeper_id"), max(col("blen")).as("blen"))
    ViewMaintenance.readState(spark, flags, flagSchema)
      .groupBy("content_hash").agg(count(lit(1)).as("n_flagged"))
      .join(keepers, Seq("content_hash"))
      .select(col("content_hash"),
        (col("n_flagged") + 1L).as("n_copies"),
        col("keeper_id"),
        (col("blen") * col("n_flagged")).as("bytes_saved"))
      .orderBy("content_hash")
  }

  // m13 — RESTART-MID-DRAIN for the SET state class (cdc53 additive,
  // g17 signed, this closes the matrix: m11's flag set + keeper-minima
  // register index). Same corpus, wire, decode, strict-probe and
  // serve-time-distinct semantics as m11, but the feed arrives in two
  // installments across two Trigger.AvailableNow runs on ONE checkpoint,
  // with the recorded batch-0 file re-applied across the restart
  // boundary. The restart hazard here is the at-least-once appends: a
  // reprocessed file would re-append its flags AND its keeper minima —
  // the minima fold idempotently but the flag set relies on the probe
  // replaying identically, which only holds if the offset log skips
  // exactly the right files. Shares m04's oracle.
  def m13RestartMediaDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val (root, feed, idx, ckpt) = graft.streaming.Drains.streamDirs("graft_m13_", dir, "idx")
    val staging = new java.io.File(root, "staging").getPath
    val flags = new java.io.File(root, "flags").getPath
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the m12 adjacent-id remap: flag rows exist in EVERY batch, so both
    // installments of the two-run drain carry set-state work and the
    // cross-restart batch-0 replay probes with real flags (the r13
    // review catch, applied to the restart gate too)
    val corpus = base.select((col("doc_id") * 2L).as("doc_id"), col("text"))
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") * 2L + 1L).as("doc_id"), col("text")))
    graft.ingest.BinlogSink.writeKeyedStrings(
      corpus.repartitionByRange(4, col("doc_id")), staging)
    graft.streaming.Drains.drainBinlogRestartWithRedelivery(
        spark, staging, feed, ckpt) { (batch, _) =>
        val docs = batch.filter(col("event_type") === "WriteRowsEventV2")
          .select(explode(col("row_images")).as("img"))
          .select(element_at(col("img"), 1).cast("long").as("media_id"),
            element_at(col("img"), 2).as("text"),
            lit("image").as("kind"), lit("image/fake").as("mime"))
        val feats = MediaPipeline.decodeFeatures(
            MediaPipeline.fromBinary(
              docs.withColumn("payload", encode(col("text"), "UTF-8")),
              "media_id", "payload", "kind", "mime"),
            batchSize = 64).toDF()
          .select("media_id", "content_hash", "byte_len")
          .localCheckpoint(true)
        val known = ViewMaintenance.readState(spark, idx,
          "content_hash STRING, keeper BIGINT, blen BIGINT")
        val hitIdx = feats.join(
          known.select(col("content_hash").as("_kh"), col("keeper")),
          col("_kh") === col("content_hash") &&
            col("keeper") < col("media_id"), "left_semi")
        val intraMin = feats.groupBy("content_hash")
          .agg(min(col("media_id")).as("mn"))
        val hitIntra = feats.join(intraMin, Seq("content_hash"))
          .filter(col("media_id") > col("mn"))
          .select("content_hash", "media_id", "byte_len")
        // disjoint state dirs; appends never delete and the flags plan's
        // index listing froze at readState — overlapped (§2.6)
        graft.streaming.Drains.inParallel(
          () => ViewMaintenance.appendBatch(
            hitIdx.select("content_hash", "media_id", "byte_len")
              .unionByName(hitIntra).distinct(), flags),
          () => ViewMaintenance.appendBatch(
            feats.groupBy("content_hash")
              .agg(min(col("media_id")).as("keeper"),
                max(col("byte_len")).as("blen")), idx))
    }
    val keepers = ViewMaintenance.readState(spark, idx,
        "content_hash STRING, keeper BIGINT, blen BIGINT")
      .groupBy("content_hash")
      .agg(min(col("keeper")).as("keeper_id"), max(col("blen")).as("blen"))
    ViewMaintenance.readState(spark, flags,
        "content_hash STRING, media_id BIGINT, byte_len BIGINT")
      .distinct() // cross-restart replay folds (the m11 set discipline)
      .groupBy("content_hash").agg(count(lit(1)).as("n_flagged"))
      .join(keepers, Seq("content_hash"))
      .select(col("content_hash"),
        (col("n_flagged") + 1L).as("n_copies"),
        col("keeper_id"),
        (col("blen") * col("n_flagged")).as("bytes_saved"))
      .orderBy("content_hash")
  }

  val m12Oracle: String =
    """WITH m AS (
      |  SELECT doc_id * 2 AS media_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, text FROM documents WHERE doc_id % 7 = 0
      |)
      |SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
      |  CAST(MIN(media_id) AS BIGINT) AS keeper_id,
      |  CAST(MAX(strlen(text)) * (COUNT(*) - 1) AS BIGINT) AS bytes_saved
      |FROM m GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("m01_media_features", m01MediaFeatures, m01Oracle),
    Gate("m02_frame_samples", m02FrameSamples, m02Oracle),
    Gate("m03_resize", m03Resize, m03Oracle),
    Gate("m04_media_dedup", m04MediaDedup, m04Oracle),
    Gate("m05_frame_dedup", m05FrameDedup, m05Oracle),
    Gate("m06_crossmodal_search", m06CrossModalSearch, m06Oracle),
    Gate("m07_media_manifest", m07MediaManifest, m07Oracle),
    Gate("m08_scene_segments", m08SceneSegments, m08Oracle),
    Gate("m09_temporal_align", m09TemporalAlign, m09Oracle),
    // stream-maintained manifest == the one-shot batch manifest
    Gate("m10_stream_manifest", m10StreamManifest, m07Oracle, drain = true),
    // dedup-at-ingest == batch dedup
    Gate("m11_stream_media_dedup", m11StreamMediaDedup, m04Oracle, drain = true),
    // compacted set/min-max states + covered replay == batch dedup
    // (m04's report under the adjacent-id remap — see the gate comment)
    Gate("m12_compacted_media_dedup", m12CompactedMediaDedup, m12Oracle, drain = true),
    // two-run drain + cross-restart replay == batch dedup (isolates the
    // offset/restart seam for the set-state class; m12's remapped oracle)
    Gate("m13_restart_media_dedup", m13RestartMediaDedup, m12Oracle, drain = true),
  )
}
