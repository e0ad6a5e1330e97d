package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over the `documents` table (builder prompt /
  * SURVEY §7.7): token counting, language-ID heuristic, quality scoring,
  * and document fingerprinting. Everything is built-in `Column` expressions
  * and SQL higher-order functions — codegen-friendly, no UDFs, no shuffles
  * except the final aggregates; at 100 TB these are embarrassingly parallel
  * scans.
  *
  * Cross-engine exactness: token arithmetic is integer; fingerprints use
  * md5 (identical hex in Spark and DuckDB) and a modular rolling hash whose
  * fold stays below 2^63 so BIGINT semantics agree.
  */
object TextQueries {

  private def withTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).withColumn("toks", split(col("text"), " "))

  // t01 — token counting + type-token ratio.
  def t01TokenStats(spark: SparkSession, dir: String): DataFrame =
    withTokens(spark, dir)
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        length(col("text")).as("len_chars"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))).as("ttr"))
      .orderBy("doc_id")

  val t01Oracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      |  CAST(length(text) AS INT) AS len_chars,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)/len(string_split(text, ' ')) AS ttr
      |FROM documents ORDER BY doc_id""".stripMargin

  // t02 — marker-token language-ID heuristic with fixed precedence, compared
  // against the labelled `lang` column.
  def t02LangId(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    val markers = Seq(
      "en" -> Seq("the", "a"),
      "fr" -> Seq("le", "la", "les"),
      "de" -> Seq("der", "das", "und"))
    withTokens(spark, dir)
      .withColumn("en_hits", TextOps.markerHits(col("toks"), markers.head._2))
      .withColumn("lang_pred", TextOps.langId(col("toks"), markers))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"), sum(col("en_hits").cast("long")).as("total_en_hits"))
      .orderBy("lang", "lang_pred")
  }

  val t02Oracle: String =
    """SELECT lang, lang_pred, COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(en_hits AS BIGINT)) AS BIGINT) AS total_en_hits
      |FROM (
      |  SELECT lang,
      |    len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS en_hits,
      |    len(list_filter(string_split(text,' '), x -> x IN ('le','la','les'))) AS fr_hits,
      |    len(list_filter(string_split(text,' '), x -> x IN ('der','das','und'))) AS de_hits,
      |    CASE WHEN len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) > 0
      |              AND len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) >= len(list_filter(string_split(text,' '), x -> x IN ('le','la','les')))
      |              AND len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) >= len(list_filter(string_split(text,' '), x -> x IN ('der','das','und')))
      |         THEN 'en'
      |         WHEN len(list_filter(string_split(text,' '), x -> x IN ('le','la','les'))) > 0
      |              AND len(list_filter(string_split(text,' '), x -> x IN ('le','la','les'))) >= len(list_filter(string_split(text,' '), x -> x IN ('der','das','und')))
      |         THEN 'fr'
      |         WHEN len(list_filter(string_split(text,' '), x -> x IN ('der','das','und'))) > 0 THEN 'de'
      |         ELSE 'und' END AS lang_pred
      |  FROM documents)
      |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin

  // t03 — quality scoring: stopword ratio + mean token length + bucket.
  def t03QualityScore(spark: SparkSession, dir: String): DataFrame =
    withTokens(spark, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", graft.ops.TextOps.markerHits(col("toks"), Seq("the", "a")))
      .withColumn("tok_chars", graft.ops.TextOps.tokenCharSum(col("toks")))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("mean_tok_len", col("tok_chars").cast("double") / col("n_tokens"))
      .withColumn("quality", graft.ops.TextOps.qualityBucket(
        col("n_tokens"), col("stop_ratio"), col("mean_tok_len")))
      .select("doc_id", "n_tokens", "n_stop", "stop_ratio", "mean_tok_len", "quality")
      .orderBy("doc_id")

  val t03Oracle: String =
    """SELECT doc_id, n_tokens, n_stop,
      |  CAST(n_stop AS DOUBLE)/n_tokens AS stop_ratio,
      |  CAST(tok_chars AS DOUBLE)/n_tokens AS mean_tok_len,
      |  CASE WHEN n_tokens < 25 THEN 'TOO_SHORT'
      |       WHEN CAST(n_stop AS DOUBLE)/n_tokens > 0.125 THEN 'STOPWORD_HEAVY'
      |       WHEN CAST(tok_chars AS DOUBLE)/n_tokens < 3.5 THEN 'SHORT_TOKENS'
      |       ELSE 'OK' END AS quality
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
      |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS INT) AS n_stop,
      |    CAST(list_sum(list_transform(string_split(text,' '), x -> length(x))) AS BIGINT) AS tok_chars
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // t04 — document fingerprinting: md5 prefix + modular rolling hash over
  // token codes (token length ⊕ first-char — cheap, deterministic, and
  // identical BIGINT arithmetic in both engines; fold stays < 2^51).
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame =
    withTokens(spark, dir)
      .withColumn("fp_md5", substring(md5(col("text")), 1, 16))
      .withColumn("rolling", graft.ops.TextOps.rollingFingerprint(col("toks")))
      .select("doc_id", "fp_md5", "rolling")
      .orderBy("doc_id")

  val t04Oracle: String =
    """SELECT doc_id,
      |  substr(md5(text), 1, 16) AS fp_md5,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text,' '),
      |        x -> CAST(length(x)*131 + ascii(substr(x, 1, 1)) AS BIGINT))),
      |    (acc, c) -> (acc * 1000003 + c) % 2147483647) AS rolling
      |FROM documents ORDER BY doc_id""".stripMargin

  // t05 — BPE-ish regex tokenization (letter runs / digit runs / single
  // punctuation), the pre-tokenizer shape used by byte-pair encoders.
  def t05RegexTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("pieces",
        regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
      .select(
        col("doc_id"),
        size(col("pieces")).as("n_pieces"),
        size(array_distinct(col("pieces"))).as("n_distinct_pieces"))
      .orderBy("doc_id")

  val t05Oracle: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_pieces,
      |  CAST(len(list_distinct(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS INT) AS n_distinct_pieces
      |FROM documents ORDER BY doc_id""".stripMargin

  // t06 — deterministic hash split (train/valid/test 80/10/10): the
  // reproducible-sampling primitive of a training-data pipeline. Split
  // assignment is a pure function of the stable id (md5 bucket), so it is
  // stable under repartitioning, re-runs, and engine changes — unlike
  // TABLESAMPLE/rand(seed), whose results are partitioning-dependent.
  def t06HashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", graft.ops.TextOps.hashSplit(col("doc_id")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
      .orderBy("split")

  val t06Oracle: String =
    """SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
      |            ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens
      |FROM (
      |  SELECT text,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // t07 — the round-8 fold kernels under the gate through PURE SQL (the
  // d09 pattern): marker_count / token_char_sum / rolling_fp routed via
  // `spark.sql` and the GraftExtensions registrations instead of the
  // Column API. A hash mismatch here with green t03/t04 isolates a SQL
  // registration/translation bug.
  def t07SqlTokenKernels(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("graft_documents_t07")
    spark.sql(
      """SELECT doc_id,
        |  marker_count(split(text, ' '), array('the', 'a')) AS n_stop,
        |  token_char_sum(split(text, ' ')) AS tok_chars,
        |  rolling_fp(split(text, ' ')) AS rolling
        |FROM graft_documents_t07 ORDER BY doc_id""".stripMargin)
  }

  val t07Oracle: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS INT) AS n_stop,
      |  CAST(list_sum(list_transform(string_split(text,' '), x -> length(x))) AS BIGINT) AS tok_chars,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text,' '),
      |        x -> CAST(length(x)*131 + ascii(substr(x, 1, 1)) AS BIGINT))),
      |    (acc, c) -> (acc * 1000003 + c) % 2147483647) AS rolling
      |FROM documents ORDER BY doc_id""".stripMargin

  // t08 — deterministic mixture sampling (the "data mixing" op): apply
  // per-language sampling rates (down-sample dominant English to 50%,
  // fr/es to 75%, keep de/zh) with the exact-integer md5-bucket decision,
  // then report the resulting per-(lang, source) training mix. Stable
  // under repartitioning and engine changes — the oracle replays the
  // identical bucket arithmetic.
  def t08MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val rates = Map("en" -> 5000, "fr" -> 7500, "es" -> 7500)
    withTokens(spark, dir)
      .filter(graft.ops.TextOps.mixtureSample(col("doc_id"), col("lang"), rates))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("total_tokens"))
      .orderBy("lang", "source")
  }

  val t08Oracle: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens
      |FROM (
      |  SELECT lang, source, text,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 8)) AS BIGINT) % 10000 AS bucket
      |  FROM documents)
      |WHERE bucket < (CASE lang WHEN 'en' THEN 5000
      |                          WHEN 'fr' THEN 7500
      |                          WHEN 'es' THEN 7500
      |                          ELSE 10000 END)
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // t09 — per-document top terms by tf-idf ranking (keyword extraction,
  // the text-analysis staple). The score is tf/df — an idf-FLAVORED
  // ranking (rewards frequent-in-doc, rare-in-corpus terms), NOT
  // order-identical to tf·ln(N/df) in general (the linear 1/df discounts
  // common terms harder than the logarithm, and exact tf/df ties resolve
  // alphabetically). Chosen deliberately: a single IEEE division of two
  // small ints is exactly rounded and bit-identical in Spark and DuckDB,
  // where each engine's libm `ln` need not be — the deterministic-gate
  // discipline every query here follows. Scale shape: one shuffle on
  // (doc_id, term) for tf, one on term for df (map-side partial both),
  // one term-keyed equi-join, one per-document top-k window.
  def t09TopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf").cast("long").as("tf"), col("df").cast("long").as("df"))
      .orderBy("doc_id", "rank")
  }

  val t09Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
      |), dfreq AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      |)
      |SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
      |FROM (
      |  SELECT t.doc_id, t.term, t.tf, d.df,
      |    CAST(row_number() OVER (PARTITION BY t.doc_id
      |      ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC, t.term) AS INT) AS rank
      |  FROM tf t JOIN dfreq d USING (term))
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // t10 — Gopher-style repetition signals (Rae et al. 2021 §A1.1: the
  // duplicate-n-gram and top-n-gram quality filters): per-document bigram
  // counts from the native BigramStats kernel, the two derived fractions,
  // and the repetition gate. Thresholds (top2 > 0.08, dup2 > 0.12) are
  // live on the synthetic corpus (~7% of sf0.01 docs flagged), not a
  // constant column. Pure per-row scan — embarrassingly parallel at any
  // scale; the only shuffle is the presentation orderBy.
  def t10Repetition(spark: SparkSession, dir: String): DataFrame =
    withTokens(spark, dir)
      .withColumn("bs", graft.functions.TextHashFunctions.bigramStats(col("toks")))
      .select(
        col("doc_id"),
        element_at(col("bs"), 1).as("total2"),
        element_at(col("bs"), 2).as("distinct2"),
        element_at(col("bs"), 3).as("top2"))
      .withColumn("dup2_frac", when(col("total2") > 0,
        lit(1.0) - col("distinct2").cast("double") / col("total2")))
      .withColumn("top2_frac", when(col("total2") > 0,
        col("top2").cast("double") / col("total2")))
      .withColumn("repetitive", col("top2_frac") > 0.08 || col("dup2_frac") > 0.12)
      .orderBy("doc_id")

  val t10Oracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |bg AS (
      |  SELECT doc_id, l[i] || ' ' || l[i+1] AS b
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) g
      |), pc AS (
      |  SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS INT) AS total2,
      |         CAST(COUNT(*) AS INT) AS distinct2, CAST(MAX(c) AS INT) AS top2
      |  FROM pc GROUP BY doc_id
      |), j AS (
      |  SELECT t.doc_id,
      |    CASE WHEN t.l IS NULL THEN NULL ELSE COALESCE(a.total2, 0) END AS total2,
      |    CASE WHEN t.l IS NULL THEN NULL ELSE COALESCE(a.distinct2, 0) END AS distinct2,
      |    CASE WHEN t.l IS NULL THEN NULL ELSE COALESCE(a.top2, 0) END AS top2
      |  FROM t LEFT JOIN agg a USING (doc_id)
      |)
      |SELECT doc_id, total2, distinct2, top2,
      |  CASE WHEN total2 > 0
      |       THEN CAST(1.0 AS DOUBLE) - CAST(distinct2 AS DOUBLE)/total2 END AS dup2_frac,
      |  CASE WHEN total2 > 0 THEN CAST(top2 AS DOUBLE)/total2 END AS top2_frac,
      |  (CASE WHEN total2 > 0 THEN CAST(top2 AS DOUBLE)/total2 END) > 0.08
      |    OR (CASE WHEN total2 > 0
      |             THEN CAST(1.0 AS DOUBLE) - CAST(distinct2 AS DOUBLE)/total2 END) > 0.12
      |    AS repetitive
      |FROM j ORDER BY doc_id""".stripMargin

  // t11 — deterministic sequence packing (the "documents → fixed-budget
  // training sequences" step every pretraining pipeline runs before
  // tokenized shards are written): within each (lang, doc-id shard),
  // documents are laid out in doc_id order, a running token total is
  // taken, and a document opens sequence `floor(tokens_before / 2048)` —
  // greedy first-fit-in-order with a 2048-token budget, reported as
  // per-sequence stats. All integer window/agg arithmetic: bit-exact
  // cross-engine, reproducible under repartitioning. Scale shape:
  // packing is inherently order-defined, so the window partitions by
  // (lang, doc_id div 100000) — fixed-size id shards, the way production
  // packers shard — keeping parallelism at #langs × #shards instead of a
  // one-partition-per-language global sort (the shard id is constant 0 at
  // test SFs; it exists for the 100 TB layout, not the fixture).
  def t11SequencePack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang", "block_id").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withTokens(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr("doc_id div 100000").as("block_id"),
        size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id", expr("(cum - n_tokens) div 2048"))
      .groupBy("lang", "block_id", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "block_id", "seq_id")
  }

  val t11Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang, doc_id // 100000 AS block_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, lang, block_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY lang, block_id ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d
      |)
      |SELECT lang, CAST(block_id AS BIGINT) AS block_id,
      |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
      |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
      |FROM c GROUP BY lang, block_id, seq_id
      |ORDER BY lang, block_id, seq_id""".stripMargin

  // t12 — PII redaction (the scrubbing pass a corpus pipeline runs before
  // anything ships): regex-detect and mask emails and phone-shaped
  // strings, report per-document redaction counts plus a hash of the
  // scrubbed text. The synthetic corpus carries no PII, so the query
  // injects it deterministically first (email on doc_id % 3, phone on
  // doc_id % 5 — replayed identically by the oracle), making the counts
  // live rather than constant. The patterns stay inside the Java∩RE2
  // common dialect (t05's discipline) so both engines match the same
  // spans. Pure per-row scan.
  def t12PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val text2 = concat(col("text"),
      when(col("doc_id") % 3 === 0, concat(
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(
        lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    Tables.documents(spark, dir)
      .withColumn("text2", text2)
      .withColumn("n_emails", size(regexp_extract_all(
        col("text2"), lit("user[0-9]+@example\\.com"), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(
        col("text2"), lit("555-[0-9]{4}"), lit(0))))
      .withColumn("redacted", regexp_replace(
        regexp_replace(col("text2"), "user[0-9]+@example\\.com", "<EMAIL>"),
        "555-[0-9]{4}", "<PHONE>"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        length(col("redacted")).as("out_len"), md5(col("redacted")).as("out_hash"))
      .orderBy("doc_id")
  }

  val t12Oracle: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    text ||
      |    (CASE WHEN doc_id % 3 = 0
      |          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |          ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0
      |          THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |          ELSE '' END) AS text2
      |  FROM documents
      |), r AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text2, 'user[0-9]+@example\.com')) AS INT) AS n_emails,
      |    CAST(len(regexp_extract_all(text2, '555-[0-9]{4}')) AS INT) AS n_phones,
      |    regexp_replace(regexp_replace(text2, 'user[0-9]+@example\.com', '<EMAIL>', 'g'),
      |                   '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |  FROM w
      |)
      |SELECT doc_id, n_emails, n_phones,
      |  CAST(strlen(redacted) AS INT) AS out_len, md5(redacted) AS out_hash
      |FROM r ORDER BY doc_id""".stripMargin

  // t13 — exact stratified sampling: 25 documents per language, drawn by
  // the stable salted-md5 order (TextOps.stratifiedRank), the evaluation-
  // set / ablation-subset primitive ("give me the same N per stratum
  // every run, on any cluster"). The sum of sampled doc_ids rides the
  // output so the gate proves BOTH engines selected the identical rows,
  // not merely the same number of them.
  def t13StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("rnk",
        graft.ops.TextOps.stratifiedRank(col("lang"), col("doc_id")))
      .filter(col("rnk") <= 25)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("doc_id")).as("id_checksum"),
        sum(col("n_chars")).as("sampled_chars"))
      .orderBy("lang")

  val t13Oracle: String =
    """SELECT lang, COUNT(*) AS n_sampled,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
      |  CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
      |FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY
      |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#strat'), 1, 8)) AS BIGINT),
      |      doc_id) AS rnk
      |  FROM documents)
      |WHERE rnk <= 25
      |GROUP BY lang ORDER BY lang""".stripMargin

  // t14 — the full Gopher rule battery (Rae et al. 2021 §A1.1), the
  // document-level quality gate run before anything enters a training mix:
  // word-count bounds, mean-word-length bounds, symbol-to-word ratio,
  // bullet-line and ellipsis-line fractions, alphabetic-word fraction,
  // and minimum stop-word evidence — each reported per document plus the
  // composite keep verdict. The flat synthetic corpus has no lines or
  // symbols, so the line/symbol structure is injected deterministically
  // first (t12's discipline — bullets on doc_id % 4, an ellipsis line on
  // % 7, symbol runs on % 11, replayed identically by the oracle), which
  // makes every one of the seven rules live (at sf0.01: 199/2/29/125/49/
  // 7/112 individual failures, 166/500 kept). All fractions are single
  // IEEE divisions of exact ints — bit-identical cross-engine. Pure
  // per-row scan; the only shuffle is the presentation orderBy.
  def t14GopherFilters(spark: SparkSession, dir: String): DataFrame = {
    val text2 = concat(col("text"),
      when(col("doc_id") % 4 === 0,
        lit("\n• bullet item\n• more points\n• third item"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("\ntrailing thought..."))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" ## ## ## ## ## ## ##"))
        .otherwise(lit("")))
    Tables.documents(spark, dir)
      .withColumn("text2", text2)
      .withColumn("words", split(col("text2"), "[ \\n]+"))
      .withColumn("lines", split(col("text2"), "\\n"))
      .withColumn("n_words", size(col("words")))
      .withColumn("word_chars", graft.ops.TextOps.tokenCharSum(col("words")))
      .withColumn("n_sym", size(filter(col("words"), w => w.contains("#"))))
      .withColumn("n_alpha", size(filter(col("words"), w => w.rlike("[a-z]"))))
      .withColumn("n_stop", graft.ops.TextOps.markerHits(col("words"), Seq("the", "a")))
      .withColumn("n_lines", size(col("lines")))
      .withColumn("n_bullet", size(filter(col("lines"), l => l.startsWith("•"))))
      .withColumn("n_ell", size(filter(col("lines"), l => l.endsWith("..."))))
      .withColumn("mean_word_len", col("word_chars").cast("double") / col("n_words"))
      .withColumn("sym_frac", col("n_sym").cast("double") / col("n_words"))
      .withColumn("bullet_frac", col("n_bullet").cast("double") / col("n_lines"))
      .withColumn("ellipsis_frac", col("n_ell").cast("double") / col("n_lines"))
      .withColumn("alpha_frac", col("n_alpha").cast("double") / col("n_words"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.5, 10.0) &&
          col("sym_frac") <= 0.1 &&
          col("bullet_frac") <= 0.5 &&
          col("ellipsis_frac") <= 0.3 &&
          col("alpha_frac") >= 0.8 &&
          col("n_stop") >= 2)
      .select("doc_id", "n_words", "mean_word_len", "sym_frac", "bullet_frac",
        "ellipsis_frac", "alpha_frac", "n_stop", "keep")
      .orderBy("doc_id")
  }

  val t14Oracle: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    text ||
      |    (CASE WHEN doc_id % 4 = 0
      |          THEN chr(10) || '• bullet item' || chr(10) || '• more points' || chr(10) || '• third item'
      |          ELSE '' END) ||
      |    (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'trailing thought...' ELSE '' END) ||
      |    (CASE WHEN doc_id % 11 = 0 THEN ' ## ## ## ## ## ## ##' ELSE '' END) AS text2
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, string_split_regex(text2, '[ \n]+') AS words,
      |    string_split(text2, chr(10)) AS lines
      |  FROM w
      |), r AS (
      |  SELECT doc_id,
      |    CAST(len(words) AS INT) AS n_words,
      |    CAST(list_sum(list_transform(words, x -> length(x))) AS BIGINT) AS word_chars,
      |    len(list_filter(words, x -> contains(x, '#'))) AS n_sym,
      |    len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
      |    CAST(len(list_filter(words, x -> x IN ('the','a'))) AS INT) AS n_stop,
      |    len(lines) AS n_lines,
      |    len(list_filter(lines, l -> starts_with(l, '•'))) AS n_bullet,
      |    len(list_filter(lines, l -> ends_with(l, '...'))) AS n_ell
      |  FROM f
      |)
      |SELECT doc_id, n_words,
      |  CAST(word_chars AS DOUBLE)/n_words AS mean_word_len,
      |  CAST(n_sym AS DOUBLE)/n_words AS sym_frac,
      |  CAST(n_bullet AS DOUBLE)/n_lines AS bullet_frac,
      |  CAST(n_ell AS DOUBLE)/n_lines AS ellipsis_frac,
      |  CAST(n_alpha AS DOUBLE)/n_words AS alpha_frac,
      |  n_stop,
      |  n_words BETWEEN 50 AND 100000
      |    AND CAST(word_chars AS DOUBLE)/n_words BETWEEN 3.5 AND 10.0
      |    AND CAST(n_sym AS DOUBLE)/n_words <= 0.1
      |    AND CAST(n_bullet AS DOUBLE)/n_lines <= 0.5
      |    AND CAST(n_ell AS DOUBLE)/n_lines <= 0.3
      |    AND CAST(n_alpha AS DOUBLE)/n_words >= 0.8
      |    AND n_stop >= 2 AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  // t15 — CCNet-style corpus-LM familiarity tiers (Wenzek et al. 2020
  // §4.3: score each document under a language model, split the corpus
  // into head/middle/tail by score percentile; the head feeds training).
  // The LM here is the corpus's own bigram frequency table — the
  // hash-count analog of CCNet's KenLM, chosen because counts are
  // integers both engines agree on bit-for-bit where log-perplexities
  // are libm-divergent. Plan: one shuffle to count bigrams (map-side
  // partial), one bigram-keyed equi-join back (the count table prunes to
  // a top-V vocabulary at production scale — rare bigrams contribute
  // count≈1 noise), then tertiles by the
  // ops.Prefix two-phase rank over the per-DOC score table (per-score
  // offsets + a score-partitioned window) — the only global-order step
  // is over the distinct-score table, never the N_docs rows. Tier
  // boundaries are rank arithmetic (`(rn-1)*3 DIV n`), not score
  // thresholds, so the gate stays live at every SF (absolute counts grow
  // with corpus size; ranks don't). Zero-bigram docs (single-token) pin
  // avg_fam = 0 and sort to the tail deterministically.
  def t15FamiliarityTiers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = withTokens(spark, dir).select(col("doc_id"), col("toks"))
    val bg = docs.select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val cnt = bg.groupBy("bigram").agg(count(lit(1)).as("c"))
    val perDoc = bg.join(cnt, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("familiarity"))
    val scored = docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("familiarity"), lit(0L)).as("familiarity"))
      .withColumn("avg_fam", when(col("n_bigrams") === 0, 0L)
        .otherwise(expr("familiarity DIV n_bigrams")))
    val n = scored.agg(count(lit(1)).as("n_docs"))
    // two-phase rank (ops.Prefix): bucket on the QUANTIZED score (raw
    // avg_fam cardinality grows with the corpus — bigram counts scale
    // with N — so the coarsened bucket keeps the offset table 2^16×
    // smaller than the score range), full score leads the within-bucket
    // order — no single-partition sort of the N_docs score table
    graft.ops.Prefix.runningRank(scored, expr("avg_fam div 65536"),
        bucketDesc = true, Seq(col("avg_fam").desc, col("doc_id")), "rn")
      .crossJoin(broadcast(n))
      .withColumn("tier", expr("CASE ((rn - 1) * 3) DIV n_docs " +
        "WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END"))
      .select(col("doc_id"), col("n_bigrams"), col("familiarity"),
        col("avg_fam"), col("tier"))
      .orderBy("doc_id")
  }

  val t15Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |), bg AS (
      |  SELECT doc_id, l[i] || ' ' || l[i+1] AS bigram
      |  FROM t, LATERAL (SELECT unnest(range(1, len(l))) AS i) g
      |), cnt AS (
      |  SELECT bigram, COUNT(*) AS c FROM bg GROUP BY 1
      |), perdoc AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(c) AS familiarity
      |  FROM bg JOIN cnt USING (bigram) GROUP BY doc_id
      |), scored AS (
      |  SELECT t.doc_id,
      |    CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |    CAST(COALESCE(p.familiarity, 0) AS BIGINT) AS familiarity,
      |    CAST(CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0
      |         ELSE p.familiarity // p.n_bigrams END AS BIGINT) AS avg_fam
      |  FROM t LEFT JOIN perdoc p USING (doc_id)
      |), ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY avg_fam DESC, doc_id) AS rn,
      |    COUNT(*) OVER () AS n_docs
      |  FROM scored
      |)
      |SELECT doc_id, n_bigrams, familiarity, avg_fam,
      |  CASE ((rn - 1) * 3) // n_docs
      |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS tier
      |FROM ranked ORDER BY doc_id""".stripMargin

  // t16 — leakage-safe GROUPED split: t06 assigns splits by document id,
  // which lets near-duplicate documents from one source straddle
  // train/test (the contamination path d11/d15 then have to clean up).
  // The standard fix (GroupShuffleSplit in scikit-learn terms) hashes the
  // GROUP key — here `source`, the provenance unit near-dups cluster
  // in — so every source lands wholly in one split by construction.
  // Same md5-bucket idiom as t06, so the two queries differ ONLY in the
  // hashed key; per-split distinct-source counts plus a doc-id sum pin
  // the assignment exactly. Pure scan + one 3-group aggregate — the
  // grouping is a pure function of a row-local column at any scale.
  def t16GroupedSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", graft.ops.TextOps.hashSplit(col("source")))
      .groupBy("split")
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
        sum(col("doc_id")).as("doc_id_sum"))
      .orderBy("split")

  val t16Oracle: String =
    """SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
      |            ELSE 'test' END AS split,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
      |  CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
      |FROM (
      |  SELECT doc_id, source, text,
      |    CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // t17 — exact per-language heavy-hitter tokens (support ≥ 1% of the
  // language's token mass): the vocabulary/stop-word discovery pass a
  // tokenizer pipeline runs before training. EXACT two-aggregation form —
  // one shuffle on (lang, term) with map-side partial counts, one
  // broadcast-sized per-lang total joined back, integer predicate
  // `100·cnt ≥ total` (no double shares). This is the deterministic
  // alternative to Misra-Gries/SpaceSaving sketches, whose merge states
  // are partition-layout-dependent and therefore ungateable; at 100 TB
  // the (lang, term) agg is the same wordcount shape Spark was built on,
  // and the 1% support floor bounds the output at ≤100 terms per
  // language regardless of corpus size.
  def t17HeavyTokens(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
    val cnt = toks.groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy("lang").agg(sum(col("cnt")).as("total"))
    cnt.join(broadcast(tot), "lang")
      .filter(col("cnt") * 100 >= col("total"))
      .select(col("lang"), col("term"), col("cnt"), col("total"))
      .orderBy("lang", "term")
  }

  val t17Oracle: String =
    """WITH t AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
      |), c AS (
      |  SELECT lang, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2
      |), g AS (
      |  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total FROM c GROUP BY 1
      |)
      |SELECT c.lang, c.term, c.cnt, g.total
      |FROM c JOIN g USING (lang) WHERE c.cnt * 100 >= g.total
      |ORDER BY c.lang, c.term""".stripMargin

  // t18 — per-language VOCABULARY statistics: type count, token mass,
  // hapax/dis legomena counts, and the modal frequency — the
  // Heaps/Zipf-shape table a tokenizer-training run reads to size its
  // vocabulary and a corpus-health check reads to spot boilerplate
  // collapse (a scraped-garbage language shows up as a crashing
  // type/token ratio and a vanishing hapax share). Same (lang, term)
  // wordcount shuffle as t17 — map-side partial counts, then a
  // per-lang re-aggregation whose output is ONE row per language at
  // any corpus size; all five statistics are integers, so the gate is
  // exact. At 100 TB this is two chained hash aggregates on narrowing
  // keys — the canonical Spark shape; nothing is collected or sorted.
  def t18VocabStats(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
    cnt.groupBy("lang").agg(
      count(lit(1)).as("n_types"),
      sum(col("cnt")).as("n_tokens"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"),
      sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("n_dis"),
      max(col("cnt")).as("max_freq"))
      .orderBy("lang")
  }

  val t18Oracle: String =
    """WITH t AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
      |), c AS (
      |  SELECT lang, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2
      |)
      |SELECT lang, COUNT(*) AS n_types, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
      |  CAST(MAX(cnt) AS BIGINT) AS max_freq
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  // t19 — TEMPLATE / BOILERPLATE detection by shared document prefixes:
  // within each source, documents opening with the same 5-token prefix
  // form a "template family" when ≥3 of them share it — the scraper
  // boilerplate signal (cookie banners, license headers, forum
  // scaffolding) that C4/RefinedWeb remove before training. Per source:
  // template-family count, docs covered, and the covered-id checksum
  // (pins exactly WHICH docs matched, so a prefix-arithmetic drift
  // can't hide in equal counts). Shuffle key is (source, prefix) —
  // cardinality ~n_docs, map-side partial agg; no pairwise term at any
  // scale. Prefixes shorter than 5 tokens use the whole document (both
  // engines slice-and-clamp identically). The synthetic corpus has no
  // naturally repeated prefixes (every count was 0), so boilerplate is
  // INJECTED deterministically — doc_id % 9 == 0 re-ingested at
  // doc_id + 10M with a cookie-banner prefix prepended (m04's replica
  // pattern) — keeping every output column live while natural
  // templates, should the data ever grow them, still flow.
  def t19TemplateDetect(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select("source", "doc_id", "text")
    val injected = base.filter(col("doc_id") % 9 === 0)
      .select(col("source"), (col("doc_id") + 10000000L).as("doc_id"),
        concat(lit("COOKIE NOTICE ACCEPT ALL - "), col("text")).as("text"))
    val fams = base.unionByName(injected)
      .select(col("source"), col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("prefix"))
      .groupBy("source", "prefix")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
    fams.groupBy("source")
      .agg(count(lit(1)).as("n_prefixes"),
        sum(when(col("n") >= 3, 1L).otherwise(0L)).as("n_templates"),
        sum(when(col("n") >= 3, col("n")).otherwise(0L)).as("templated_docs"),
        sum(when(col("n") >= 3, col("id_sum")).otherwise(0L)).as("templated_id_sum"))
      .orderBy("source")
  }

  val t19Oracle: String =
    """WITH corpus AS (
      |  SELECT source, doc_id, text FROM documents
      |  UNION ALL
      |  SELECT source, doc_id + 10000000,
      |    'COOKIE NOTICE ACCEPT ALL - ' || text
      |  FROM documents WHERE doc_id % 9 = 0
      |), fams AS (
      |  SELECT source,
      |    array_to_string((string_split(text, ' '))[1:5], ' ') AS prefix,
      |    COUNT(*) AS n, SUM(doc_id) AS id_sum
      |  FROM corpus GROUP BY source, prefix
      |)
      |SELECT source, COUNT(*) AS n_prefixes,
      |  CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_templates,
      |  CAST(SUM(CASE WHEN n >= 3 THEN n ELSE 0 END) AS BIGINT) AS templated_docs,
      |  CAST(SUM(CASE WHEN n >= 3 THEN id_sum ELSE 0 END) AS BIGINT) AS templated_id_sum
      |FROM fams GROUP BY source ORDER BY source""".stripMargin

  // t20 — PACKING-WASTE PLANNING table: per language and per candidate
  // context length L ∈ {128, 512, 2048}, the exact padding waste of the
  // naive one-doc-per-sequence layout — seqs = Σ⌈n/L⌉ and waste =
  // Σ(⌈n/L⌉·L − n), all in integer arithmetic ((n + L − 1) div L). This
  // is the table that justifies (or kills) running t11's sequence
  // packing at a given context length: waste/(waste + tokens) is the
  // fraction of compute a training run would burn on pad tokens. One
  // scan, one (lang) hash agg with map-side partials; the per-L sums
  // are three fused conditional aggregates, not three passes.
  def t20PackingWaste(spark: SparkSession, dir: String): DataFrame = {
    val n = col("n_tokens")
    def seqs(l: Int) = sum(expr(s"(n_tokens + ${l - 1}) div $l"))
    def waste(l: Int) = sum(expr(s"((n_tokens + ${l - 1}) div $l) * $l - n_tokens"))
    withTokens(spark, dir)
      .select(col("lang"), size(col("toks")).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(n).as("total_tokens"),
        seqs(128).as("seqs_128"), waste(128).as("waste_128"),
        seqs(512).as("seqs_512"), waste(512).as("waste_512"),
        seqs(2048).as("seqs_2048"), waste(2048).as("waste_2048"))
      .orderBy("lang")
  }

  val t20Oracle: String =
    """WITH d AS (
      |  SELECT lang, len(string_split(text, ' ')) AS n FROM documents
      |)
      |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens,
      |  CAST(SUM((n + 127) // 128) AS BIGINT) AS seqs_128,
      |  CAST(SUM(((n + 127) // 128) * 128 - n) AS BIGINT) AS waste_128,
      |  CAST(SUM((n + 511) // 512) AS BIGINT) AS seqs_512,
      |  CAST(SUM(((n + 511) // 512) * 512 - n) AS BIGINT) AS waste_512,
      |  CAST(SUM((n + 2047) // 2048) AS BIGINT) AS seqs_2048,
      |  CAST(SUM(((n + 2047) // 2048) * 2048 - n) AS BIGINT) AS waste_2048
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // t21 — CROSS-SOURCE SYNDICATION MATRIX: which source pairs carry the
  // same content (mirrors, syndication, scraped re-posts) — the
  // provenance table a curation pipeline consults before treating
  // sources as independent (double-counting syndicated content skews
  // both mixture weights and dedup statistics). Content identity is the
  // exact hash; the matrix entry (a, b) counts distinct shared hashes.
  // The corpus has no natural cross-source duplicates, so syndication
  // is injected deterministically: doc_id % 6 == 0 re-published at
  // +30M into the NEXT source (src<k> → src<(k+1) mod 20> — both
  // engines derive it from the digits). Plan: per-(hash, source)
  // distinct, then pairs INSIDE each hash group via a self equi-join
  // on the hash — group sizes are source-bounded (≤20), so the
  // quadratic term is capped at 190 per hash regardless of corpus
  // size; shuffle keys are (hash) only.
  def t21SyndicationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("source"), col("text"))
    val nextSrc = concat(lit("src"),
      ((substring(col("source"), 4, 10).cast("long") + 1) % 20).cast("string"))
    val corpus = base.unionByName(
      Tables.documents(spark, dir).filter(col("doc_id") % 6 === 0)
        .select(nextSrc.as("source"), col("text")))
    val e = corpus.select(md5(col("text")).as("h"), col("source")).distinct()
    e.join(e.select(col("h"), col("source").as("source_b")), Seq("h"))
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  val t21Oracle: String =
    """WITH corpus AS (
      |  SELECT source, text FROM documents
      |  UNION ALL
      |  SELECT 'src' || CAST((CAST(substr(source, 4) AS BIGINT) + 1) % 20 AS VARCHAR),
      |    text
      |  FROM documents WHERE doc_id % 6 = 0
      |), e AS (
      |  SELECT DISTINCT md5(text) AS h, source FROM corpus
      |)
      |SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      |FROM e a JOIN e b ON a.h = b.h AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // t22 — SCRIPT / ENCODING AUDIT: per language, the exact multibyte
  // mass of the text — Σ(byte length − char length), the count of docs
  // containing ANY multibyte character, and the ASCII-only count. Two
  // distinct things are being gated. As a data product it is the
  // label-vs-script consistency check (a 'zh' corpus that is almost
  // entirely ASCII is mislabeled or transliterated — exactly what this
  // synthetic corpus shows, which real lang-ID pipelines flag daily).
  // As an engine property it pins UTF-8 handling parity: Spark's
  // length/octet_length and DuckDB's length/strlen must count the SAME
  // chars and bytes for every non-ASCII codepoint in the corpus, or
  // the integer masses diverge — the cheapest possible cross-engine
  // encoding conformance test. One scan, one tiny hash agg. The
  // synthetic corpus is pure ASCII in every language (including 'zh' —
  // the mislabel finding itself), so the multibyte branch is fed by
  // injected replicas: doc_id % 8 == 0 re-ingested at +40M with a CJK
  // prefix ("数据 " — two 3-byte codepoints), proving byte/char parity
  // on real multibyte content.
  def t22ScriptAudit(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select("lang", "doc_id", "text")
    val injected = base.filter(col("doc_id") % 8 === 0)
      .select(col("lang"), (col("doc_id") + 40000000L).as("doc_id"),
        concat(lit("数据 "), col("text")).as("text"))
    base.unionByName(injected)
      .select(col("lang"), col("doc_id"),
        (octet_length(col("text")) - length(col("text"))).cast("long").as("mb"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("mb")).as("multibyte_mass"),
        sum(when(col("mb") > 0, 1L).otherwise(0L)).as("n_multibyte_docs"),
        sum(when(col("mb") === 0, 1L).otherwise(0L)).as("n_ascii_docs"),
        sum(when(col("mb") > 0, col("doc_id")).otherwise(0L)).as("multibyte_id_sum"))
      .orderBy("lang")
  }

  val t22Oracle: String =
    """WITH documents_plus AS (
      |  SELECT lang, doc_id, text FROM documents
      |  UNION ALL
      |  SELECT lang, doc_id + 40000000, '数据 ' || text
      |  FROM documents WHERE doc_id % 8 = 0
      |)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(strlen(text) - length(text)) AS BIGINT) AS multibyte_mass,
      |  CAST(SUM(CASE WHEN strlen(text) > length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_multibyte_docs,
      |  CAST(SUM(CASE WHEN strlen(text) = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_ascii_docs,
      |  CAST(SUM(CASE WHEN strlen(text) > length(text) THEN doc_id ELSE 0 END) AS BIGINT) AS multibyte_id_sum
      |FROM documents_plus GROUP BY lang ORDER BY lang""".stripMargin

  // t23 — SLIDING-WINDOW CHUNKING with overlap (the RAG / long-context
  // ingestion step): size 32 tokens, stride 24 (8-token overlap) — the
  // "chunk the corpus for retrieval" operator d13 (disjoint 5-gram
  // dedup chunks) and t11 (packing) don't cover, because overlap means
  // a token belongs to up to two chunks. Per doc: token/chunk counts,
  // the short tail chunk's length, and a checksum over every chunk's
  // md5 (the engine's stable-bucket idiom) — so a boundary off-by-one
  // in ANY chunk of ANY doc breaks the gate. Chunking is a pure
  // per-row map over the token array (HOF over bounded chunk indices —
  // no explode, no shuffle); at 100 TB this runs entirely inside the
  // scan stage and the only shuffle is whatever consumes the chunks.
  def t23RagChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        expr("1 + (CASE WHEN n_tokens <= 32 THEN 0 ELSE (n_tokens - 32 + 23) div 24 END)"))
      .withColumn("last_chunk_len", col("n_tokens") - (col("n_chunks") - 1) * 24)
      .withColumn("chunk_checksum", expr(
        """aggregate(sequence(0, CAST(n_chunks AS INT) - 1), CAST(0 AS BIGINT),
          |  (acc, j) -> acc + CAST(conv(substring(
          |      md5(concat_ws(' ', slice(toks, j * 24 + 1, 32))), 1, 8), 16, 10) AS BIGINT)
          |    % 1000000000)""".stripMargin))
      .select("doc_id", "n_tokens", "n_chunks", "last_chunk_len", "chunk_checksum")
      .orderBy("doc_id")

  val t23Oracle: String =
    """WITH c AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), k AS (
      |  SELECT doc_id, toks, n_tokens,
      |    1 + (CASE WHEN n_tokens <= 32 THEN 0
      |              ELSE (n_tokens - 32 + 23) // 24 END) AS n_chunks
      |  FROM c
      |)
      |SELECT doc_id, n_tokens, n_chunks,
      |  n_tokens - (n_chunks - 1) * 24 AS last_chunk_len,
      |  CAST(list_sum(list_transform(range(0, CAST(n_chunks AS INT)), j ->
      |    CAST(('0x' || substr(md5(array_to_string(toks[(j * 24 + 1):(j * 24 + 32)], ' ')), 1, 8)) AS BIGINT)
      |      % 1000000000)) AS BIGINT) AS chunk_checksum
      |FROM k ORDER BY doc_id""".stripMargin

  // t24 — COLLOCATION MINING by PMI-ratio (the classic corpus
  // linguistics table, and the phrase-vocabulary input a tokenizer
  // merges candidate pairs from): adjacent-bigram counts vs unigram
  // expectations, ranked by lift = c_xy·N / (c_x·c_y). The ranking
  // deliberately uses the RATIO, not log-PMI — ln diverges across
  // libm implementations (the t09 lesson) while the ratio is two
  // exact-integer-to-double casts, one product each side, one
  // division: bit-identical cross-engine, and monotone in PMI so the
  // ranking is the same. Products stay double-exact while
  // c_xy·N < 2^53 — beyond that, rank on the exact integer cross
  // comparison instead (documented envelope). Plan: bigram + unigram
  // wordcount shuffles, two term-keyed joins, then a distributed
  // top-20 (TakeOrderedAndProject) over the thresholded candidate set
  // (c_xy ≥ 20 — still corpus-sized at scale, so the top-k must never
  // be a single-partition sort).
  def t24Collocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("toks"))
    val uni = docs.select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c_term"))
    val big = docs.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))""".stripMargin))
        .as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_xy"))
    val n = big.agg(sum(col("c_xy")).as("n_bigrams"))
    val cand = big.filter(col("c_xy") >= 20)
      .withColumn("x", split(col("bg"), " ").getItem(0))
      .withColumn("y", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("term").as("x"), col("c_term").as("c_x")), Seq("x"))
      .join(uni.select(col("term").as("y"), col("c_term").as("c_y")), Seq("y"))
      .crossJoin(broadcast(n))
      .withColumn("lift",
        (col("c_xy").cast("double") * col("n_bigrams").cast("double"))
          / (col("c_x").cast("double") * col("c_y").cast("double")))
    // top-20 via orderBy().limit() — TakeOrderedAndProject's distributed
    // per-partition top-k + driver merge (the g01 discipline), never a
    // single-partition sort of the candidate table: candidates are
    // corpus-sized at scale (every bigram with c_xy ≥ 20), and the old
    // global row_number window moved ALL of them to one partition before
    // keeping 20. The positional window then ranks the 20 survivors only.
    val w = Window.orderBy(col("lift").desc, col("x"), col("y"))
    cand.orderBy(col("lift").desc, col("x"), col("y"))
      .limit(20)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("rank", "x", "y", "c_xy", "c_x", "c_y", "lift")
      .orderBy("rank")
  }

  val t24Oracle: String =
    """WITH d AS (
      |  SELECT string_split(text, ' ') AS toks FROM documents
      |), uni AS (
      |  SELECT term, COUNT(*) AS c_term
      |  FROM (SELECT unnest(toks) AS term FROM d) GROUP BY term
      |), big AS (
      |  SELECT bg, COUNT(*) AS c_xy FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |    FROM d WHERE len(toks) >= 2) GROUP BY bg
      |), n AS (
      |  SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bigrams FROM big
      |), cand AS (
      |  SELECT string_split(bg, ' ')[1] AS x, string_split(bg, ' ')[2] AS y,
      |    c_xy FROM big WHERE c_xy >= 20
      |), scored AS (
      |  SELECT c.x, c.y, c.c_xy, ux.c_term AS c_x, uy.c_term AS c_y,
      |    (CAST(c.c_xy AS DOUBLE) * CAST(n.n_bigrams AS DOUBLE))
      |      / (CAST(ux.c_term AS DOUBLE) * CAST(uy.c_term AS DOUBLE)) AS lift
      |  FROM cand c
      |  JOIN uni ux ON ux.term = c.x
      |  JOIN uni uy ON uy.term = c.y
      |  CROSS JOIN n
      |)
      |SELECT rank, x, y, c_xy, c_x, c_y, lift FROM (
      |  SELECT *, CAST(row_number() OVER (ORDER BY lift DESC, x, y) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 20 ORDER BY rank""".stripMargin

  // t25 — HEAPS-LAW VOCABULARY GROWTH: distinct types seen after the
  // first N tokens of the corpus in (doc_id, position) order, for a
  // ladder of N — the curve a tokenizer-sizing or crawl-saturation
  // analysis reads (flattening curve ⇒ the crawl is re-visiting its
  // vocabulary). Exact formulation: each type's FIRST global position
  // (min over one (term) shuffle), then one broadcast of the 9-row
  // threshold table against the vocabulary scan — never a per-prefix
  // recount. The global token order comes from the ops.Prefix two-phase
  // running sum bucketed on doc_id ranges (per-bucket windows + a
  // broadcast bucket-total carry — no single-partition sort of the doc
  // table). All integers; exact gate.
  def t25HeapsCurve(spark: SparkSession, dir: String): DataFrame = {
    val thresholds = Seq(1000L, 2000L, 5000L, 10000L, 20000L, 50000L,
      100000L, 200000L, 500000L)
    val maxThr = thresholds.max
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("sz", size(col("toks")).cast("long"))
    // global token offset via the ops.Prefix two-phase running sum
    // (bucketed on doc_id ranges — monotone in the doc order), exclusive
    // form derived from the inclusive sum minus the row's own size.
    // Positions past the LARGEST threshold cannot change any output row
    // (a type first seen later is dropped by the fp ≤ threshold join;
    // one first seen earlier keeps its exact min inside the kept
    // prefix), so docs that start past the bound never explode and
    // tokens past it never ride the term shuffle — the curve's cost is
    // bounded by max(threshold), not by the corpus (the r10 3.2× bench
    // note was this query paying corpus-sized work for a fixed-prefix
    // answer).
    val toks = graft.ops.Prefix.runningSumsInclusive(docs, Seq("doc_id"),
        expr("doc_id div 65536"), Seq("sz" -> "run_sz"))
      .withColumn("off", col("run_sz") - col("sz"))
      .filter(col("off") < maxThr)
      .select(col("off"), posexplode(col("toks")).as(Seq("i", "term")))
      .select((col("off") + col("i") + 1).as("gp"), col("term"))
      .filter(col("gp") <= maxThr)
    val fp = toks.groupBy("term").agg(min(col("gp")).as("fp"))
    // total from the PRE-explode sizes: count(exploded) == sum(sz) by
    // construction, and aggregating the doc-level frame keeps the whole
    // prefix+explode subtree single-consumer (it used to run twice —
    // the r10 bench's 3.2× regression was mostly this double execution)
    val total = docs.agg(sum(col("sz")).as("total_tokens"))
    val thr = spark.range(1).select(explode(array(
      thresholds.map(lit(_)): _*)).as("threshold"))
    fp.join(broadcast(thr), col("fp") <= col("threshold"))
      .groupBy("threshold").agg(count(lit(1)).as("n_types"))
      .crossJoin(broadcast(total))
      .withColumn("n_tokens_seen", least(col("threshold"), col("total_tokens")))
      .select("threshold", "n_tokens_seen", "n_types")
      .orderBy("threshold")
  }

  val t25Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), o AS (
      |  SELECT doc_id, toks,
      |    COALESCE(SUM(CAST(len(toks) AS BIGINT)) OVER (
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) AS off
      |  FROM d
      |), tok AS (
      |  SELECT off + unnest(range(1, len(toks) + 1)) AS gp,
      |    unnest(toks) AS term
      |  FROM o
      |), fp AS (
      |  SELECT term, MIN(gp) AS fp FROM tok GROUP BY term
      |), tot AS (
      |  SELECT COUNT(*) AS total_tokens FROM tok
      |), thr AS (
      |  SELECT CAST(unnest([1000, 2000, 5000, 10000, 20000, 50000,
      |                      100000, 200000, 500000]) AS BIGINT) AS threshold
      |)
      |SELECT threshold, LEAST(threshold, total_tokens) AS n_tokens_seen,
      |  COUNT(*) AS n_types
      |FROM fp JOIN thr ON fp.fp <= thr.threshold CROSS JOIN tot
      |GROUP BY threshold, total_tokens ORDER BY threshold""".stripMargin

  // t26 — TOKENIZER FERTILITY PROFILE per language: chars-per-token and
  // bytes-per-char ratios — the two numbers a tokenizer-budget plan
  // reads (fertility decides how many TOKENS a byte budget buys per
  // language; bytes-per-char exposes multi-byte scripts that make byte
  // budgets lie about character volume). All masses are exact integers
  // (char count, whitespace-token count, UTF-8 octet count) with ratios
  // in div-floored ppm. The raw corpus is ASCII, so a CJK phrase is
  // INJECTED deterministically (%17 prefix) to keep the bytes≠chars arm
  // live — t22's script-audit injection discipline. Engine-fn mapping
  // pinned by the gate: Spark `length`/`octet_length` == DuckDB
  // `length`/`strlen` (characters vs octets). One scan, one hash agg.
  def t26Fertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"),
        when(col("doc_id") % 17 === 0, concat(lit("模型训练数据 "), col("text")))
          .otherwise(col("text")).as("text"))
    docs
      .select(col("lang"), length(col("text")).cast("long").as("chars"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        octet_length(col("text")).cast("long").as("bytes"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("chars"),
        sum(col("toks")).as("tokens"),
        sum(col("bytes")).as("bytes_utf8"))
      .withColumn("chars_per_token_ppm", expr("(chars * 1000000) div tokens"))
      .withColumn("bytes_per_char_ppm", expr("(bytes_utf8 * 1000000) div chars"))
      .orderBy("lang")
  }

  val t26Oracle: String =
    """WITH d AS (
      |  SELECT lang,
      |    CASE WHEN doc_id % 17 = 0 THEN '模型训练数据 ' || text
      |         ELSE text END AS text
      |  FROM documents
      |), m AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(length(text)) AS BIGINT) AS chars,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
      |    CAST(SUM(strlen(text)) AS BIGINT) AS bytes_utf8
      |  FROM d GROUP BY lang
      |)
      |SELECT lang, n_docs, chars, tokens, bytes_utf8,
      |  CAST((chars * 1000000) // tokens AS BIGINT) AS chars_per_token_ppm,
      |  CAST((bytes_utf8 * 1000000) // chars AS BIGINT) AS bytes_per_char_ppm
      |FROM m ORDER BY lang""".stripMargin

  // t27 — ZIPF RANK-FREQUENCY CURVE in octave (power-of-two) rank
  // buckets: the third member of the corpus-statistics trio (t25 Heaps =
  // vocabulary growth, t18 = per-language vocabulary shape, this = the
  // global rank-frequency decay a Zipf fit reads). Per bucket
  // [2^b, 2^(b+1)): type count, token mass, and the boundary
  // frequencies — enough to eyeball the slope without ever computing a
  // float log: bucketing is an exact range JOIN against a 20-row
  // broadcast bucket table, NOT floor(log2(rank)) (whose IEEE rounding
  // at bucket boundaries is exactly the cross-engine divergence this
  // engine bans). The rank is a global (freq DESC, term) row_number
  // over the vocabulary — computed via the TWO-PHASE ops/Prefix scan,
  // not a bare partition-less window (which would sort the whole
  // vocabulary on one executor — the plan shape PlanAuditSpec bans
  // elsewhere; t27 was the last holdout, docs/PLANS.md:1712). The rank
  // bucket is `length(bin(f))` = floor(log2 f)+1 in INTEGER bit
  // arithmetic (no float log anywhere): exactly monotone in f, so
  // bucket-desc order coarsens (f desc, term) as runningRank's
  // contract requires, and its cardinality is ≤64 (one per f octave)
  // so the rank-offset table broadcasts. The float-log ban above is
  // about cross-engine OUTPUT divergence; this bucket never reaches
  // the output — any deterministic monotone bucketing yields the
  // bit-identical global rank.
  def t27ZipfCurve(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
    val ranked = graft.ops.Prefix.runningRank(freq,
        length(bin(col("f"))), bucketDesc = true,
        Seq(col("f").desc, col("term")), "rank")
      .withColumn("rank", col("rank").cast("long"))
    val buckets = spark.range(0, 20)
      .select(col("id").cast("int").as("b"),
        expr("cast(pow(2, id) as bigint)").as("lo"),
        expr("cast(pow(2, id + 1) as bigint) - 1").as("hi"))
    ranked.join(broadcast(buckets),
        col("rank") >= col("lo") && col("rank") <= col("hi"))
      .groupBy("b", "lo")
      .agg(count(lit(1)).as("n_types"),
        sum(col("f")).as("token_mass"),
        max(col("f")).as("f_top"),
        min(col("f")).as("f_bottom"))
      .orderBy("b")
  }

  val t27Oracle: String =
    """WITH freq AS (
      |  SELECT term, COUNT(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY term
      |), ranked AS (
      |  SELECT f,
      |    CAST(row_number() OVER (ORDER BY f DESC, term) AS BIGINT) AS rank
      |  FROM freq
      |), buckets AS (
      |  SELECT CAST(r.range AS INT) AS b,
      |    CAST(2 ** r.range AS BIGINT) AS lo,
      |    CAST(2 ** (r.range + 1) AS BIGINT) - 1 AS hi
      |  FROM range(20) r
      |)
      |SELECT b, lo, COUNT(*) AS n_types,
      |  CAST(SUM(f) AS BIGINT) AS token_mass,
      |  CAST(MAX(f) AS BIGINT) AS f_top,
      |  CAST(MIN(f) AS BIGINT) AS f_bottom
      |FROM ranked JOIN buckets ON rank >= lo AND rank <= hi
      |GROUP BY b, lo ORDER BY b""".stripMargin

  // t28 — ZIPF SLOPE FIT over t27's octave table, kept entirely in
  // integers: for f ∝ rank^(−s), octave buckets are exactly one unit
  // apart in log2(rank), so the per-octave decay of the bucket-top
  // frequency IS the local slope — f_top(b+1)/f_top(b) = 2^(−s) — and
  // the s-vs-1 comparison needs no logarithm at all, just the
  // cross-multiplication 2·f_top(b+1) ≶ f_top(b) (s > 1 iff the
  // doubled next-octave top still falls short). decay_ppm reports the
  // exact integer ratio per octave pair; a downstream fit can take its
  // −log2 offline — the GATE never computes a float log (t27's
  // boundary-divergence ban, extended to the fit). Plan shape: t27's
  // curve (vocabulary-sized rank sort + 20-row bucket join), then a
  // lead window over the ≤20-row AGGREGATED octave table — the one
  // place a global-order window is by design (ops.Prefix doc, step 3).
  def t28ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("b")
    t27ZipfCurve(spark, dir)
      .select(col("b"), col("f_top"))
      .withColumn("b_next", lead(col("b"), 1).over(w))
      .withColumn("f_top_next", lead(col("f_top"), 1).over(w))
      .filter(col("b_next").isNotNull)
      .select(col("b"), col("b_next"), col("f_top"), col("f_top_next"),
        expr("(f_top_next * 1000000) div f_top").as("decay_ppm"),
        when(col("f_top_next") * 2 < col("f_top"), lit("STEEPER_THAN_ZIPF1"))
          .when(col("f_top_next") * 2 === col("f_top"), lit("ZIPF1_EXACT"))
          .otherwise(lit("SHALLOWER_THAN_ZIPF1")).as("octave_verdict"))
      .orderBy("b")
  }

  val t28Oracle: String =
    """WITH freq AS (
      |  SELECT term, COUNT(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY term
      |), ranked AS (
      |  SELECT f,
      |    CAST(row_number() OVER (ORDER BY f DESC, term) AS BIGINT) AS rank
      |  FROM freq
      |), buckets AS (
      |  SELECT CAST(r.range AS INT) AS b,
      |    CAST(2 ** r.range AS BIGINT) AS lo,
      |    CAST(2 ** (r.range + 1) AS BIGINT) - 1 AS hi
      |  FROM range(20) r
      |), curve AS (
      |  SELECT b, CAST(MAX(f) AS BIGINT) AS f_top
      |  FROM ranked JOIN buckets ON rank >= lo AND rank <= hi
      |  GROUP BY b
      |), paired AS (
      |  SELECT b, lead(b) OVER (ORDER BY b) AS b_next,
      |    f_top, lead(f_top) OVER (ORDER BY b) AS f_top_next
      |  FROM curve
      |)
      |SELECT b, b_next, f_top, f_top_next,
      |  CAST((f_top_next * 1000000) // f_top AS BIGINT) AS decay_ppm,
      |  CASE WHEN f_top_next * 2 < f_top THEN 'STEEPER_THAN_ZIPF1'
      |       WHEN f_top_next * 2 = f_top THEN 'ZIPF1_EXACT'
      |       ELSE 'SHALLOWER_THAN_ZIPF1' END AS octave_verdict
      |FROM paired WHERE b_next IS NOT NULL ORDER BY b""".stripMargin

  // t29 — BPE tokenizer TRAINING (Sennrich et al. 2016): 3 merge rounds
  // over the corpus's lowercase-alpha words. The classic trainer layout:
  // aggregate the corpus to a (word, freq) vocabulary FIRST (Heaps' law —
  // vocab grows ~O(N^0.8) sublinearly, so at 100 TB this is the only
  // corpus-sized scan), then each round is one pair-count shuffle over the
  // vocab-sized symbol table + a 1-row bounded top-pair collect + a pure
  // array-map merge (the s09 Lloyd-rounds pattern, applied to tokenizer
  // training). Merges are restricted to pairs with left≠right, which makes
  // the simultaneous merge unambiguous: occurrences of a pair (a,b) with
  // a≠b can never overlap (an overlap at i, i+1 would force a=b), so
  // "replace everywhere at once" needs no greedy left-to-right tiebreak
  // and the SQL oracle can replicate it with a pure per-position filter +
  // transform. Counts are freq-weighted BIGINTs; symbols are ASCII — every
  // compared value is exact in both engines.
  /** Freq-weighted adjacent-symbol pair counts over a (freq, syms) word
    * table — the BPE learning statistic (t29 trains on it; t33 re-derives
    * the same merges before applying them per language). */
  private def bpePairCounts(df: DataFrame): DataFrame =
    df.select(col("freq"),
        explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("freq"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum(col("freq")).as("pair_count"))

  /** The global lowercase-alpha word-frequency table with its symbol
    * decomposition — BPE's training corpus view (t29/t33). */
  private def bpeWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", regexp_extract_all(col("word"), lit("[a-z]"), lit(0)))
      .select("freq", "syms")

  def t29BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val words = bpeWords(spark, dir).localCheckpoint()

    var cur = words
    var out: Option[DataFrame] = None
    for (round <- 1 to 3) {
      val pc = bpePairCounts(cur)
      val top = pc.orderBy(col("pair_count").desc, col("a"), col("b")).limit(1)
      val rows = top.collect() // 1 row by construction (bounded collect)
      require(rows.nonEmpty,
        s"t29: no mergeable symbol pair at round $round — corpus has no multi-char alpha words")
      val (a, b, cnt) =
        (rows(0).getString(0), rows(0).getString(1), rows(0).getLong(2))
      // compression curve: both totals are computed INDEPENDENTLY of
      // pair_count on each side of the gate, so the hash compare proves
      // the merge invariant syms_after = syms_before − pair_count (each
      // non-overlapping occurrence removes exactly one symbol) — a
      // cross-engine check on the merge kernel itself, not just its count
      val before = cur.agg(sum(col("freq") * size(col("syms"))).as("syms_before"))
      cur = cur.withColumn("syms",
        graft.ops.TextOps.bpeMergePair(col("syms"), a, b)).localCheckpoint()
      val after = cur.select(explode(col("syms")).as("s"), col("freq"))
        .agg(count_distinct(col("s")).as("vocab_after"),
          sum(col("freq")).as("syms_after"))
      // the round row is built from the COLLECTED top pair (already the
      // distributed aggregation's result) — re-embedding the `top` plan
      // here would re-execute the whole pair-count shuffle at final
      // collection, doubling every round's cost for identical values
      val roundRow = spark.range(1)
        .select(lit(round).as("round"), lit(a).as("left_sym"),
          lit(b).as("right_sym"), lit(cnt).as("pair_count"))
        .crossJoin(broadcast(before))
        .crossJoin(broadcast(after))
        .select(col("round"), col("left_sym"), col("right_sym"),
          col("pair_count"), col("vocab_after"),
          col("syms_before"), col("syms_after"))
      out = Some(out.fold(roundRow)(_.unionAll(roundRow)))
    }
    out.get.orderBy("round")
  }

  /** Shared DuckDB BPE SQL — the merge transform and one learn round
    * (pK/tK/sK), composed by BOTH t29's and t33's oracles so the learned
    * merges can never drift between the trainer and the encoder. */
  private def duckBpeMergeExpr(t: String): String =
    s"""list_transform(
       |      list_filter(range(1, len(syms)+1),
       |        i -> NOT (i > 1 AND syms[i-1] = $t.a AND syms[i] = $t.b)),
       |      i -> CASE WHEN syms[i] = $t.a AND i < len(syms) AND syms[i+1] = $t.b
       |                THEN syms[i] || syms[i+1] ELSE syms[i] END) AS syms""".stripMargin

  private def duckBpeLearnRound(k: Int): String =
    s"""p$k AS (
       |  SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS c
       |  FROM s${k - 1}, LATERAL (SELECT unnest(range(1, len(syms))) AS i) g
       |  WHERE syms[i] <> syms[i+1] GROUP BY 1, 2
       |), t$k AS (SELECT a, b, c FROM p$k ORDER BY c DESC, a, b LIMIT 1
       |), s$k AS (
       |  SELECT freq, ${duckBpeMergeExpr(s"t$k")}
       |  FROM s${k - 1}, t$k
       |)""".stripMargin

  /** The global word table + 3 learn rounds (w, s0, p/t/s 1-3). */
  private val duckBpeLearnChain: String =
    s"""w AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word
       |), s0 AS (
       |  SELECT freq, regexp_extract_all(word, '[a-z]') AS syms FROM w
       |), ${duckBpeLearnRound(1)}, ${duckBpeLearnRound(2)}, ${duckBpeLearnRound(3)}""".stripMargin

  val t29Oracle: String = {
    def stats(k: Int): String =
      s"""v$k AS (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS v,
         |    CAST(SUM(freq) AS BIGINT) AS sa FROM s$k, unnest(s$k.syms) AS u(s)
         |), b$k AS (SELECT CAST(SUM(freq * len(syms)) AS BIGINT) AS sb
         |  FROM s${k - 1})""".stripMargin
    s"""WITH $duckBpeLearnChain,
       |${stats(1)}, ${stats(2)}, ${stats(3)}
       |SELECT 1 AS round, a AS left_sym, b AS right_sym, c AS pair_count,
       |  (SELECT v FROM v1) AS vocab_after,
       |  (SELECT sb FROM b1) AS syms_before,
       |  (SELECT sa FROM v1) AS syms_after FROM t1
       |UNION ALL
       |SELECT 2, a, b, c, (SELECT v FROM v2), (SELECT sb FROM b2), (SELECT sa FROM v2) FROM t2
       |UNION ALL
       |SELECT 3, a, b, c, (SELECT v FROM v3), (SELECT sb FROM b3), (SELECT sa FROM v3) FROM t3
       |ORDER BY round""".stripMargin
  }

  // t30 — STREAMING corpus ingest + quality gate: the continuous-curation
  // leg of the text family (the s42/s43 pattern applied to documents).
  // The corpus arrives as two adversarially-split micro-batches (doc_id %
  // 7 tags batch 1, so neither batch is a contiguous range); each batch
  // runs t03's per-document quality scoring inside `foreachBatch` and
  // appends the gated per-doc rows; the drained sink aggregates to the
  // per-(lang, quality) training-mix table. Per-document scoring is
  // embarrassingly parallel — state-free, so drained stream ≡ one-shot
  // batch by construction, and the gate shares the batch arithmetic with
  // the DuckDB oracle. At scale this is the production shape for "filter
  // the crawl as it lands": no global state, restart-safe checkpointing,
  // per-batch cost proportional to batch size.
  def t30StreamQuality(spark: SparkSession, dir: String): DataFrame = {
    val (_, feed, sink, ckpt) = graft.streaming.Drains.streamDirs("graft_t30_", dir, "sink")
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    docs.filter(col("doc_id") % 7 === 0).coalesce(1)
      .write.mode("append").parquet(feed)
    docs.filter(col("doc_id") % 7 =!= 0).coalesce(1)
      .write.mode("append").parquet(feed)
    graft.streaming.Drains.drain(spark, spark.readStream
      .schema("doc_id BIGINT, lang STRING, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.withColumn("toks", split(col("text"), " "))
          .withColumn("n_tokens", size(col("toks")))
          .withColumn("n_stop", graft.ops.TextOps.markerHits(col("toks"), Seq("the", "a")))
          .withColumn("tok_chars", graft.ops.TextOps.tokenCharSum(col("toks")))
          .withColumn("quality", graft.ops.TextOps.qualityBucket(
            col("n_tokens"),
            col("n_stop").cast("double") / col("n_tokens"),
            col("tok_chars").cast("double") / col("n_tokens")))
          .select("doc_id", "lang", "n_tokens", "quality")
          .write.mode("append").parquet(sink)
      }, ckpt)
    new java.io.File(sink).mkdirs() // empty feed → empty result (see Drains.drainToParquet)
    spark.read
      .schema("doc_id BIGINT, lang STRING, n_tokens INT, quality STRING")
      .parquet(sink)
      .groupBy("lang", "quality")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
      .orderBy("lang", "quality")
  }

  val t30Oracle: String =
    """SELECT lang, quality, COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
      |FROM (
      |  SELECT lang, n_tokens,
      |    CASE WHEN n_tokens < 25 THEN 'TOO_SHORT'
      |         WHEN CAST(n_stop AS DOUBLE)/n_tokens > 0.125 THEN 'STOPWORD_HEAVY'
      |         WHEN CAST(tok_chars AS DOUBLE)/n_tokens < 3.5 THEN 'SHORT_TOKENS'
      |         ELSE 'OK' END AS quality
      |  FROM (
      |    SELECT lang,
      |      CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
      |      CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS INT) AS n_stop,
      |      CAST(list_sum(list_transform(string_split(text,' '), x -> length(x))) AS BIGINT) AS tok_chars
      |    FROM documents))
      |GROUP BY lang, quality ORDER BY lang, quality""".stripMargin

  // t31 — GOOD-TURING FREQUENCY SMOOTHING (Good 1953; the Katz-backoff
  // prerequisite): count-of-counts N_r over the term frequency table,
  // the smoothed count r* = (r+1)·N_{r+1}/N_r kept as an EXACT rational
  // (integer numerator and denominator — no float division in the gate;
  // `rstar_ppm` carries the fixed-point quotient for the reader), and
  // the unseen-probability mass P₀ = N₁/N as the same ppm integer on
  // every row. The LM-smoothing table every n-gram model ships with,
  // in the engine's integer-exact discipline. Scale shape: one
  // term-keyed count shuffle (the corpus vocabulary fold), then
  // count-of-counts over the TERM-COUNT table — cardinality ≤ distinct
  // frequencies (hundreds at any corpus size) — and a self-join on
  // r+1 over that tiny table; nothing downstream of the first shuffle
  // is data-sized. The smoothing band is the 15 SMALLEST distinct
  // frequencies present in the data (a distributed TakeOrdered over
  // the tiny N_r table), not a literal cutoff: Good–Turing only
  // smooths the low-frequency head, and "low" depends on the corpus —
  // a fixed `r <= 15` emits zero rows on a corpus whose rarest term
  // occurs 40 times, silently gating nothing (round-10 verdict).
  def t31GoodTuring(spark: SparkSession, dir: String): DataFrame = {
    val tc = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("r"))
      .localCheckpoint(true)
    val nr = tc.groupBy("r").agg(count(lit(1)).as("n_r")).localCheckpoint(true)
    val totals = tc.agg(sum("r").as("n_tokens"),
      sum(when(col("r") === 1, lit(1L)).otherwise(lit(0L))).as("n_singletons"))
    val nrNext = nr.select((col("r") - 1).as("r"), col("n_r").as("n_r_next"))
    nr.orderBy("r").limit(15)
      .join(nrNext, Seq("r"), "left")
      .crossJoin(broadcast(totals))
      .select(col("r"), col("n_r"),
        coalesce(col("n_r_next"), lit(0L)).as("n_r_next"),
        ((col("r") + 1) * coalesce(col("n_r_next"), lit(0L))).as("rstar_num"),
        col("n_r").as("rstar_den"),
        expr("((r + 1) * coalesce(n_r_next, 0L) * 1000000L) div n_r")
          .as("rstar_ppm"),
        expr("(n_singletons * 1000000L) div n_tokens").as("p0_ppm"))
      .orderBy("r")
  }

  val t31Oracle: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
      |), tc AS (
      |  SELECT term, COUNT(*) AS r FROM toks GROUP BY term
      |), nr AS (
      |  SELECT r, COUNT(*) AS n_r FROM tc GROUP BY r
      |), tot AS (
      |  SELECT CAST(SUM(r) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_singletons
      |  FROM tc
      |)
      |SELECT a.r, a.n_r,
      |  CAST(COALESCE(b.n_r, 0) AS BIGINT) AS n_r_next,
      |  CAST((a.r + 1) * COALESCE(b.n_r, 0) AS BIGINT) AS rstar_num,
      |  a.n_r AS rstar_den,
      |  CAST(((a.r + 1) * COALESCE(b.n_r, 0) * 1000000) // a.n_r AS BIGINT)
      |    AS rstar_ppm,
      |  CAST((t.n_singletons * 1000000) // t.n_tokens AS BIGINT) AS p0_ppm
      |FROM (SELECT r, n_r FROM nr ORDER BY r LIMIT 15) a
      |LEFT JOIN nr b ON b.r = a.r + 1 CROSS JOIN tot t
      |ORDER BY a.r""".stripMargin

  // t32 — KNESER-NEY CONTINUATION COUNTS (Kneser & Ney 1995; the other
  // half of the modern-LM smoothing pair next to t31's Good-Turing): the
  // lower-order KN distribution weighs a word by how many DISTINCT left
  // contexts it completes (N1+(•w)), not how often it occurs — the
  // "Francisco" correction (huge raw count, one context). Computed
  // integer-exact over the bigram TYPE table: c_cont(w) = rows with
  // right = w, fanout(w) = N1+(w•) = rows with left = w, and the two
  // normalized masses as ppm integers — pkn_ppm over the bigram-type
  // total (the actual KN lower-order probability), pml_ppm over the
  // token total (the ML unigram it replaces). Output = top-15 terms by
  // continuation count, which visibly reorders vs t09's raw-count top.
  // Scale shape: one token-keyed count shuffle, one bigram-type-keyed
  // distinct shuffle, two GROUP BYs over the type table, 1-row totals
  // broadcast, and a distributed TakeOrdered top-15 — nothing
  // single-partition, nothing data-sized after the type table.
  def t32KneserNey(spark: SparkSession, dir: String): DataFrame = {
    val toks = withTokens(spark, dir).select(col("toks"))
    val pairs = toks.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("bg"))
      .select(col("bg.l").as("l"), col("bg.r").as("r"))
    val types = pairs.groupBy("l", "r").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val raw = toks.select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("r_raw"))
    val cont = types.groupBy("r").agg(count(lit(1)).as("c_cont"))
      .withColumnRenamed("r", "term")
    val fan = types.groupBy("l").agg(count(lit(1)).as("fanout"))
      .withColumnRenamed("l", "term")
    val totals = types.agg(count(lit(1)).as("n_bigram_types"))
      .crossJoin(raw.agg(sum("r_raw").as("n_tokens")))
    raw.join(cont, Seq("term"), "inner")
      .join(fan, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(col("term"), col("r_raw"), col("c_cont"),
        coalesce(col("fanout"), lit(0L)).as("fanout"),
        expr("c_cont * 1000000L div n_bigram_types").as("pkn_ppm"),
        expr("r_raw * 1000000L div n_tokens").as("pml_ppm"))
      .orderBy(col("c_cont").desc, col("term")).limit(15)
  }

  val t32Oracle: String =
    """WITH t AS (
      |  SELECT string_split(text, ' ') AS l FROM documents
      |), bg AS (
      |  SELECT l[i] AS lw, l[i+1] AS rw
      |  FROM t, LATERAL (SELECT unnest(range(1, len(l))) AS i) g
      |), types AS (
      |  SELECT lw, rw FROM bg GROUP BY lw, rw
      |), raw AS (
      |  SELECT unnest(l) AS term FROM t
      |), rawc AS (
      |  SELECT term, COUNT(*) AS r_raw FROM raw GROUP BY term
      |), cont AS (
      |  SELECT rw AS term, COUNT(*) AS c_cont FROM types GROUP BY rw
      |), fan AS (
      |  SELECT lw AS term, COUNT(*) AS fanout FROM types GROUP BY lw
      |), tot AS (
      |  SELECT (SELECT COUNT(*) FROM types) AS n_bigram_types,
      |    (SELECT CAST(SUM(r_raw) AS BIGINT) FROM rawc) AS n_tokens
      |)
      |SELECT r.term, r.r_raw, c.c_cont,
      |  CAST(COALESCE(f.fanout, 0) AS BIGINT) AS fanout,
      |  CAST(c.c_cont * 1000000 // t.n_bigram_types AS BIGINT) AS pkn_ppm,
      |  CAST(r.r_raw * 1000000 // t.n_tokens AS BIGINT) AS pml_ppm
      |FROM rawc r JOIN cont c USING (term) LEFT JOIN fan f USING (term)
      |CROSS JOIN tot t
      |ORDER BY c.c_cont DESC, r.term LIMIT 15""".stripMargin

  // t33 — BPE ENCODE, per language (t29's consumer): train the 3 merges
  // GLOBALLY on the corpus word table (t29's exact loop — same pair
  // statistic, same (count desc, a, b) tiebreak, so the learned merges
  // are identical), then APPLY them to every language's word table and
  // report the tokenizer-fairness metric multilingual work quotes: which
  // languages actually get the compression. chars_total is the symbol
  // count before any merge, syms_total after all three, saved_ppm their
  // exact ratio — a language whose character bigrams never won a merge
  // shows saved_ppm 0 (train-set skew made visible, the t15/p12 concern
  // at the tokenizer layer). Scale shape: the learn phase is t29's (3
  // bounded 1-row collects over a pair-count shuffle); the apply phase
  // is 3 narrow per-row kernel maps (bpeMergePair) over the (lang, word)
  // table and one lang-keyed aggregate — nothing new shuffles.
  def t33BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    var cur = bpeWords(spark, dir).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val rounds = 3
    for (round <- 1 to rounds) {
      val rows = bpePairCounts(cur)
        .orderBy(col("pair_count").desc, col("a"), col("b")).limit(1)
        .collect() // 1 row by construction (bounded collect, t29's shape)
      require(rows.nonEmpty,
        s"t33: no mergeable symbol pair at round $round")
      val (a, b) = (rows(0).getString(0), rows(0).getString(1))
      merges += ((a, b))
      // the post-merge table feeds only the NEXT round's pair counts —
      // after the last round nothing consumes it, so skip that job (the
      // apply phase below re-derives from documents)
      if (round < rounds)
        cur = cur.withColumn("syms",
          graft.ops.TextOps.bpeMergePair(col("syms"), a, b)).localCheckpoint()
    }
    val lw = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        regexp_extract_all(col("word"), lit("[a-z]"), lit(0)))
    val applied = merges.foldLeft(lw) { case (df, (a, b)) =>
      df.withColumn("syms", graft.ops.TextOps.bpeMergePair(col("syms"), a, b))
    }
    applied.groupBy("lang")
      .agg(sum(col("freq")).as("n_word_occurrences"),
        sum(col("freq") * length(col("word"))).as("chars_total"),
        sum(col("freq") * size(col("syms"))).as("syms_total"))
      .select(col("lang"), col("n_word_occurrences"), col("chars_total"),
        col("syms_total"),
        expr("(chars_total - syms_total) * 1000000L div chars_total")
          .as("saved_ppm"))
      .orderBy("lang")
  }

  val t33Oracle: String = {
    // the learn chain IS t29's (shared duckBpeLearnChain); the apply
    // chain runs the same per-position merge over the per-LANG table
    def applyRound(k: Int): String =
      s"""lw$k AS (
         |  SELECT lang, word, freq, ${duckBpeMergeExpr(s"t$k")}
         |  FROM lw${k - 1}, t$k
         |)""".stripMargin
    s"""WITH $duckBpeLearnChain,
       |lw0 AS (
       |  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS freq,
       |    regexp_extract_all(word, '[a-z]') AS syms
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
       |        FROM documents) t
       |  WHERE regexp_matches(word, '^[a-z]+$$')
       |  GROUP BY lang, word
       |), ${applyRound(1)}, ${applyRound(2)}, ${applyRound(3)}
       |SELECT lang, CAST(SUM(freq) AS BIGINT) AS n_word_occurrences,
       |  CAST(SUM(freq * strlen(word)) AS BIGINT) AS chars_total,
       |  CAST(SUM(freq * len(syms)) AS BIGINT) AS syms_total,
       |  CAST((SUM(freq * strlen(word)) - SUM(freq * len(syms))) * 1000000
       |    // SUM(freq * strlen(word)) AS BIGINT) AS saved_ppm
       |FROM lw3 GROUP BY lang ORDER BY lang""".stripMargin
  }

  // t34 — POSITIONAL-INDEX PHRASE SEARCH: the serving-side primitive
  // behind every "exact phrase" query — a positional inverted index
  // (term → (doc, pos) postings) intersected with position offsets,
  // NOT a document scan. The phrase under test is data-derived (the
  // corpus's most frequent word trigram, ties by gram — so the gate
  // stays live at every SF), its three words broadcast as a 1-row
  // filter so only THEIR postings enter the join, and the match is the
  // classic two-step intersection p₂.pos = p₁.pos+1 ∧ p₃.pos = p₁.pos+2
  // keyed on doc_id. Output: the phrase, its document frequency, total
  // occurrences, and a doc checksum pinning WHICH documents match.
  // Scale shape: postings shuffle once on the term for the filter
  // semi-join, once on doc_id for the intersection — the phrase-query
  // cost is proportional to the three posting lists, never the corpus;
  // hot stop-words as phrase terms are the documented dial (cap or
  // bigram-index them, the d02 discipline).
  def t34PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val toks = withTokens(spark, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "w")))
    val grams = withTokens(spark, dir)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 2),
        zip_with(slice(col("toks"), lit(2), size(col("toks")) - 2),
          slice(col("toks"), lit(3), size(col("toks")) - 2),
          (b, c) => struct(b.as("b"), c.as("c"))),
        (a, bc) => concat(a, lit(" "), bc.getField("b"), lit(" "),
          bc.getField("c")))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g")).limit(1)
      .select(split(col("g"), " ").as("ws"))
      .select(element_at(col("ws"), 1).as("w1"),
        element_at(col("ws"), 2).as("w2"),
        element_at(col("ws"), 3).as("w3"))
    val withPhrase = toks.crossJoin(broadcast(grams))
    val p1 = withPhrase.filter(col("w") === col("w1"))
      .select(col("doc_id"), col("pos"), col("w1"), col("w2"), col("w3"))
    val p2 = toks.select(col("doc_id").as("d2"), col("pos").as("pos2"),
      col("w").as("wb"))
    val p3 = toks.select(col("doc_id").as("d3"), col("pos").as("pos3"),
      col("w").as("wc"))
    val hits = p1
      .join(p2, col("d2") === col("doc_id") &&
        col("pos2") === col("pos") + 1 && col("wb") === col("w2"))
      .join(p3, col("d3") === col("doc_id") &&
        col("pos3") === col("pos") + 2 && col("wc") === col("w3"))
    hits.groupBy("w1", "w2", "w3")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        sum(col("doc_id") * col("pos")).as("match_checksum"))
  }

  val t34Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |), grams AS (
      |  SELECT l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS g
      |  FROM t, LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) x
      |), top1 AS (
      |  SELECT string_split(g, ' ') AS ws FROM (
      |    SELECT g, COUNT(*) AS c FROM grams GROUP BY g
      |    ORDER BY c DESC, g LIMIT 1)
      |), phrase AS (
      |  SELECT ws[1] AS w1, ws[2] AS w2, ws[3] AS w3 FROM top1
      |), postings AS (
      |  SELECT doc_id, i - 1 AS pos, l[i] AS w
      |  FROM t, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) x
      |), hits AS (
      |  SELECT p1.doc_id, p1.pos, ph.w1, ph.w2, ph.w3
      |  FROM postings p1
      |  CROSS JOIN phrase ph
      |  JOIN postings p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
      |    AND p2.w = ph.w2
      |  JOIN postings p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
      |    AND p3.w = ph.w3
      |  WHERE p1.w = ph.w1
      |)
      |SELECT w1, w2, w3, COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_occurrences,
      |  CAST(SUM(doc_id * pos) AS BIGINT) AS match_checksum
      |FROM hits GROUP BY w1, w2, w3""".stripMargin

  // t35 — HASHED-BIGRAM IMPORTANCE WEIGHTS (the DSIR recipe, Xie et al.
  // 2023: resample pretraining data toward a target domain by the ratio
  // of hashed n-gram likelihoods): bigrams hash into 1024 buckets (the
  // shared 60-bit md5 discipline), the TARGET distribution comes from
  // the English slice, the SOURCE from the whole corpus, and each doc
  // scores the MEAN per-bigram importance ratio P_target/P_source.
  // Declared deviation from the paper: DSIR sums LOG ratios; ln() is
  // libm-dependent and ungateable cross-engine, so the engine ships the
  // mean LIKELIHOOD ratio in exact integers — same ranking intent
  // (target-like docs score high), bit-exact gate. Overflow-safe
  // staging: per-bucket masses to ppb first (≤1e9), then the ratio to
  // ppm (product ≤1e15) — holds at any corpus size. Plan: one
  // bigram-keyed count shuffle each side, a 1024-row ratio table
  // BROADCAST to the per-doc scan, one doc-keyed aggregate; single-token
  // docs carry no bigram and drop (documented). Output: top-20 docs by
  // score — the resampling head.
  def t35ImportanceWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = withTokens(spark, dir).select(col("doc_id"), col("lang"), col("toks"))
    val bigrams = docs.select(col("doc_id"), col("lang"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .withColumn("bkt",
        conv(substring(md5(col("bg")), 1, 15), 16, 10).cast("long") % 1024L)
      .drop("bg") // only the bucket travels
      // three consumers (source counts, target counts, per-doc probe):
      // materialize the tokenize+hash scan once instead of thrice — the
      // t25 lesson, applied before the bench finds it
      .localCheckpoint(true)
    val sCnt = bigrams.groupBy("bkt").agg(count(lit(1)).as("s_cnt"))
    val tCnt = bigrams.filter(col("lang") === "en")
      .groupBy("bkt").agg(count(lit(1)).as("t_cnt"))
    val totals = sCnt.agg(sum("s_cnt").as("s_tot"))
      .crossJoin(tCnt.agg(sum("t_cnt").as("t_tot")))
    val ratio = sCnt.join(tCnt, Seq("bkt"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bkt"), expr(
        """((coalesce(t_cnt, 0L) * 1000000000L div t_tot) * 1000000L)
          |  div greatest(s_cnt * 1000000000L div s_tot, 1L)""".stripMargin)
        .as("ratio_ppm"))
    bigrams.join(broadcast(ratio), Seq("bkt"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(ratio_ppm) div count(1)").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id")).limit(20)
  }

  val t35Oracle: String =
    """WITH bg AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(b), 1, 15)) AS BIGINT) % 1024 AS bkt
      |  FROM (
      |    SELECT doc_id, lang,
      |      unnest(list_transform(range(1, len(string_split(text, ' '))),
      |        i -> string_split(text, ' ')[i] || ' ' ||
      |             string_split(text, ' ')[i + 1])) AS b
      |    FROM documents)
      |), s AS (
      |  SELECT bkt, COUNT(*) AS s_cnt FROM bg GROUP BY bkt
      |), t AS (
      |  SELECT bkt, COUNT(*) AS t_cnt FROM bg WHERE lang = 'en' GROUP BY bkt
      |), tot AS (
      |  SELECT (SELECT CAST(SUM(s_cnt) AS BIGINT) FROM s) AS s_tot,
      |         (SELECT CAST(SUM(t_cnt) AS BIGINT) FROM t) AS t_tot
      |), r AS (
      |  SELECT s.bkt,
      |    CAST(((COALESCE(t.t_cnt, 0) * 1000000000 // tot.t_tot) * 1000000)
      |      // greatest(s.s_cnt * 1000000000 // tot.s_tot, 1) AS BIGINT)
      |      AS ratio_ppm
      |  FROM s LEFT JOIN t USING (bkt) CROSS JOIN tot
      |)
      |SELECT doc_id, lang, COUNT(*) AS n_bigrams,
      |  CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) AS score_ppm
      |FROM bg JOIN r USING (bkt)
      |GROUP BY doc_id, lang
      |ORDER BY score_ppm DESC, doc_id LIMIT 20""".stripMargin

  // t36 — LM-SCORE DOCUMENT FILTERING (CCNet's perplexity filter, in
  // this engine's integer-exact discipline): score every document by
  // the MEAN Kneser–Ney lower-order probability of its tokens —
  // pkn(w) = N1+(·w) / bigram-type-total, t32's exact distribution —
  // and emit the 20 LOWEST-scoring docs: the rows a CCNet-style
  // pipeline drops or down-weights (low continuation mass ≈ tokens
  // that complete few contexts ≈ boilerplate/noise). Declared
  // deviation: CCNet scores with a smoothed LM's log-perplexity; logs
  // are libm-dependent and ungateable, so the engine ships the mean
  // continuation probability in exact ppm (same ordering intent:
  // unusual-token docs score low). A doc token never seen as a bigram
  // RIGHT side carries pkn = 0 (the unseen-continuation convention).
  // Plan: one bigram-type shuffle (t32's), one vocab-keyed count, the
  // corpus token table joins the vocab table on the term key (the
  // standard term-keyed shuffle), one doc-keyed aggregate, distributed
  // TakeOrdered bottom-20.
  def t36LmScoreFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = withTokens(spark, dir).select(col("doc_id"), col("lang"), col("toks"))
    val pairs = docs.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("bg"))
      .select(col("bg.l").as("l"), col("bg.r").as("r"))
    val types = pairs.distinct().localCheckpoint(true) // feeds cont + total
    val cont = types.groupBy("r").agg(count(lit(1)).as("c_cont"))
      .withColumnRenamed("r", "term")
    val nTypes = types.agg(count(lit(1)).as("n_bigram_types"))
    docs.select(col("doc_id"), col("lang"), explode(col("toks")).as("term"))
      .join(cont, Seq("term"), "left")
      .crossJoin(broadcast(nTypes))
      .select(col("doc_id"), col("lang"),
        expr("coalesce(c_cont, 0L) * 1000000L div n_bigram_types")
          .as("pkn_ppm"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_toks"),
        expr("sum(pkn_ppm) div count(1)").as("score_ppm"))
      .orderBy(col("score_ppm").asc, col("doc_id")).limit(20)
  }

  val t36Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
      |), types AS (
      |  SELECT DISTINCT l, r FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |        i -> struct_pack(l := toks[i], r := toks[i + 1]))) AS bg
      |    FROM d) t(bg), LATERAL (SELECT bg.l AS l, bg.r AS r)
      |), cont AS (
      |  SELECT r AS term, COUNT(*) AS c_cont FROM types GROUP BY r
      |), nt AS (
      |  SELECT COUNT(*) AS n_bigram_types FROM types
      |), tok AS (
      |  SELECT doc_id, lang, unnest(toks) AS term FROM d
      |)
      |SELECT doc_id, lang, COUNT(*) AS n_toks,
      |  CAST(SUM(COALESCE(c.c_cont, 0) * 1000000 // nt.n_bigram_types)
      |    // COUNT(*) AS BIGINT) AS score_ppm
      |FROM tok LEFT JOIN cont c USING (term) CROSS JOIN nt
      |GROUP BY doc_id, lang
      |ORDER BY score_ppm ASC, doc_id LIMIT 20""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("t01_token_stats", t01TokenStats, t01Oracle),
    Gate("t02_lang_id", t02LangId, t02Oracle),
    Gate("t03_quality_score", t03QualityScore, t03Oracle),
    Gate("t04_fingerprint", t04Fingerprint, t04Oracle),
    Gate("t05_regex_tokens", t05RegexTokens, t05Oracle),
    Gate("t06_hash_split", t06HashSplit, t06Oracle),
    Gate("t07_sql_token_kernels", t07SqlTokenKernels, t07Oracle),
    Gate("t08_mixture_sample", t08MixtureSample, t08Oracle),
    Gate("t09_top_terms", t09TopTerms, t09Oracle),
    Gate("t10_repetition", t10Repetition, t10Oracle),
    Gate("t11_sequence_pack", t11SequencePack, t11Oracle),
    Gate("t12_pii_redact", t12PiiRedact, t12Oracle),
    Gate("t13_stratified_sample", t13StratifiedSample, t13Oracle),
    Gate("t14_gopher_filters", t14GopherFilters, t14Oracle),
    Gate("t15_familiarity_tiers", t15FamiliarityTiers, t15Oracle),
    Gate("t16_grouped_split", t16GroupedSplit, t16Oracle),
    Gate("t17_heavy_tokens", t17HeavyTokens, t17Oracle),
    Gate("t18_vocab_stats", t18VocabStats, t18Oracle),
    Gate("t19_template_detect", t19TemplateDetect, t19Oracle),
    Gate("t20_packing_waste", t20PackingWaste, t20Oracle),
    Gate("t21_syndication_matrix", t21SyndicationMatrix, t21Oracle),
    Gate("t22_script_audit", t22ScriptAudit, t22Oracle),
    Gate("t23_rag_chunks", t23RagChunks, t23Oracle),
    Gate("t24_collocations", t24Collocations, t24Oracle),
    Gate("t25_heaps_curve", t25HeapsCurve, t25Oracle),
    Gate("t26_fertility", t26Fertility, t26Oracle),
    Gate("t27_zipf_curve", t27ZipfCurve, t27Oracle),
    Gate("t28_zipf_slope", t28ZipfSlope, t28Oracle),
    Gate("t29_bpe_merges", t29BpeMerges, t29Oracle),
    Gate("t30_stream_quality", t30StreamQuality, t30Oracle, drain = true),
    Gate("t31_good_turing", t31GoodTuring, t31Oracle),
    Gate("t32_kneser_ney", t32KneserNey, t32Oracle),
    Gate("t33_bpe_encode", t33BpeEncode, t33Oracle),
    Gate("t34_phrase_search", t34PhraseSearch, t34Oracle),
    Gate("t35_importance_weights", t35ImportanceWeights, t35Oracle),
    Gate("t36_lm_score_filter", t36LmScoreFilter, t36Oracle),
  )
}
