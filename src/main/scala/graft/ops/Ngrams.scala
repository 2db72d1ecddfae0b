package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-level n-gram statistics: heavy-hitter shingles and per-document
  * TF-IDF top terms (SURVEY.md §2 rows 41-42) — the "what is this corpus
  * made of" passes a training-data pipeline runs ahead of filtering
  * decisions (hot boilerplate n-grams, per-doc salient terms).
  *
  * Scale shape (100 TB): both operators are groupBy aggregations on int64 /
  * short-string keys, so every shuffle is preceded by map-side partial
  * aggregation; the top-k steps are either a global TakeOrdered (bounded
  * K rows cross the wire per partition) or a per-doc window on the doc_id
  * shuffle. The document-frequency join in TF-IDF co-partitions on the
  * token key — no broadcast needed, no skew beyond token popularity, which
  * AQE's skew-join splitting absorbs.
  */
object Ngrams {

  // ---- ngram_topk: corpus heavy-hitter bigrams ----------------------------

  /** Top-K bigram shingles by document frequency. Reuses the dedup
    * pipeline's persisted distinct-shingle sets (each doc contributes a
    * shingle once, so count(*) IS document frequency). TakeOrdered brings
    * only K rows per partition to the driver-side sort — no global sort
    * shuffle. Ties break on the smaller shingle hash. */
  val TopNgrams = 20

  def ngramTopk(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingleSets(spark, dir)
      .select(explode(col("sh")).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle"))
      .limit(TopNgrams)

  val ngramTopkSql: String =
    s"""WITH ${Dedup.ShSqlCte},
       |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shs)
       |SELECT shingle, count(*) AS df
       |FROM ex GROUP BY shingle
       |ORDER BY df DESC, shingle
       |LIMIT $TopNgrams""".stripMargin

  // ---- tfidf_topterms: per-document salient terms -------------------------

  /** Per-doc top-3 tokens by tf × integer idf. The idf surrogate is
    * floor(1e6 · N / df) — a pure int64-in / double-divide / floor-out
    * expression both engines evaluate bit-identically (a float ln() would
    * not be portable, and ranking only needs monotonicity in N/df).
    * Plan: explode → tf groupBy (map-side combined) → df groupBy on token
    * → co-partitioned tf⋈df join on token → corpus-size broadcast → per-doc
    * window top-3. Score ties resolve to the lexicographically smaller
    * token. */
  val TfidfTopK = 3

  /** Per-(doc, token) counts, materialized once per (session, dir): the
    * tf frame feeds the TF-IDF df aggregation and final join, the token
    * totals, and the vocabulary build — without the persist, Catalyst
    * re-runs the explode + groupBy (the dominant stage) per consumer. */
  def tfFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"ngrams.tf:$dir") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    }

  def tfidfTopterms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = tfFrame(spark, dir)
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "tok")
      // bounded-cross: broadcast 1-row doc count
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * floor(lit(1000000.0) * col("n_docs") / col("df")).cast("long"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))))
      .where(col("rnk") <= TfidfTopK)
      .select("doc_id", "rnk", "tok", "tf", "df", "score")
      .orderBy("doc_id", "rnk")
  }

  /** Per-token corpus totals (occurrences), off the shared tf frame. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    tfFrame(spark, dir).groupBy("tok").agg(sum("tf").as("n"))

  /** Oracle twin of [[tokenCounts]] (CTEs `toks`, `tf`, `tn`). */
  val TokenCountsCtes: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
      |tn AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY tok)""".stripMargin

  // ---- token_drift --------------------------------------------------------

  /** Token-distribution drift between two corpus snapshots (the even /
    * odd doc_id halves stand in for "last month" vs "this month"): per
    * token, each half's e6 frequency share and the absolute share delta,
    * top DriftTopK by that delta. This is the drift monitor a continuously
    * fed corpus runs to catch scrapes going stale or a source changing
    * character. One full-outer co-partitioned join of two map-side
    * -combined token aggregates; output is bounded by K. */
  val DriftTopK = 20

  def tokenDrift(spark: SparkSession, dir: String): DataFrame = {
    val tf = tfFrame(spark, dir)
    def half(rem: Int, tag: String) = tf
      .where(col("doc_id") % 2 === rem)
      .groupBy("tok").agg(sum("tf").as(s"n_$tag"))
    val a = half(0, "a")
    val b = half(1, "b")
    // scalar totals as a 1-row broadcast (the tfidf n_docs pattern) —
    // an unpartitioned window here would drag each half's whole
    // vocabulary through a single partition
    val tots = a.agg(sum("n_a").as("tot_a"))
      // bounded-cross: 1-row x 1-row totals
      .crossJoin(b.agg(sum("n_b").as("tot_b")))
    a.join(b, Seq("tok"), "full_outer")
      // bounded-cross: broadcast 1-row totals
      .crossJoin(broadcast(tots))
      .select(col("tok"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        expr("CAST(floor(1.0e6 * coalesce(n_a, 0) / tot_a) AS BIGINT)").as("share_a_e6"),
        expr("CAST(floor(1.0e6 * coalesce(n_b, 0) / tot_b) AS BIGINT)").as("share_b_e6"))
      .withColumn("delta_e6", abs(col("share_a_e6") - col("share_b_e6")))
      .orderBy(col("delta_e6").desc, col("tok"))
      .limit(DriftTopK)
  }

  val tokenDriftSql: String =
    s"""WITH $TokenCountsCtes,
       |a AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS n_a FROM tf WHERE doc_id % 2 = 0 GROUP BY tok),
       |b AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS n_b FROM tf WHERE doc_id % 2 = 1 GROUP BY tok),
       |tot AS (
       |  SELECT (SELECT CAST(sum(n_a) AS BIGINT) FROM a) AS tot_a,
       |         (SELECT CAST(sum(n_b) AS BIGINT) FROM b) AS tot_b),
       |j AS (
       |  SELECT coalesce(a.tok, b.tok) AS tok,
       |         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
       |         CAST(floor(1.0e6 * coalesce(n_a, 0) / tot_a) AS BIGINT) AS share_a_e6,
       |         CAST(floor(1.0e6 * coalesce(n_b, 0) / tot_b) AS BIGINT) AS share_b_e6
       |  FROM a FULL OUTER JOIN b ON a.tok = b.tok CROSS JOIN tot)
       |SELECT tok, n_a, n_b, share_a_e6, share_b_e6,
       |       abs(share_a_e6 - share_b_e6) AS delta_e6
       |FROM j
       |ORDER BY delta_e6 DESC, tok
       |LIMIT $DriftTopK""".stripMargin

  // ---- vocab_build --------------------------------------------------------

  /** Tokenizer vocabulary: tokens with document frequency ≥ MinVocabDf,
    * ids assigned by (occurrences desc, token) rank.
    *
    * The id is the distributed [[Tables.globalRank]] rather than one
    * global row_number window (whose sort input — the whole vocabulary —
    * would funnel through a single task), so the plan survives a
    * vocabulary that is itself large (open-vocab corpora, byte-level
    * n-gram vocabularies). The order (n_occ desc, tok) is total, so the
    * id is the exact global rank. */
  val MinVocabDf = 2L

  def vocabBuild(spark: SparkSession, dir: String): DataFrame = {
    val v = tfFrame(spark, dir)
      .groupBy("tok")
      .agg(count(lit(1)).as("df"), sum("tf").as("n_occ"))
      .where(col("df") >= MinVocabDf)
    Tables.globalRank(v, Nil, col("n_occ").desc, col("tok"))
      .select(col("rnk").as("vocab_id"), col("tok"), col("df"), col("n_occ"))
      .orderBy("vocab_id")
  }

  // ---- ngram_coverage_curve: Zipf coverage audit --------------------------

  /** Vocabulary-size vs corpus-coverage curve: tokens ranked globally by
    * occurrence count (desc, ties lexicographic), bucketed by rank
    * power-of-two (bucket b = ranks [2^b, 2^{b+1})), with cumulative
    * occurrence coverage in 1e-4 ticks per bucket — the Zipf/Heaps audit
    * that answers "how big must the vocabulary be to cover X% of the
    * corpus" BEFORE committing a vocab size or a BPE merge budget. The
    * bucket CASE is ONE generated string evaluated by both engines, so
    * the bucket boundaries cannot drift.
    *
    * Scale shape: per-token counts map-side combine; the global rank is
    * [[Tables.globalRank]] (no single-partition sort); bucketing and the
    * cumulative window run on the bounded ≤41-bucket frame. */
  private def rankBucketCase(c: String): String =
    (0 until 40).map(b => s"WHEN $c < ${1L << (b + 1)} THEN $b")
      .mkString("CASE ", " ", " ELSE 40 END")

  def ngramCoverageCurve(spark: SparkSession, dir: String): DataFrame = {
    val tn = tfFrame(spark, dir).groupBy("tok").agg(sum("tf").as("n"))
    val perBucket = Tables.globalRank(tn, Nil, col("n").desc, col("tok"))
      .withColumn("bucket", expr(rankBucketCase("rnk")).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_types"), sum("n").as("bucket_occ"))
    // cumulative + total over the bounded <=41-bucket frame
    perBucket
      .withColumn("cum_occ", sum("bucket_occ").over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total_occ", sum("bucket_occ").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("coverage_e4", expr("(10000 * cum_occ) div total_occ"))
      .select("bucket", "n_types", "bucket_occ", "cum_occ", "coverage_e4")
      .orderBy("bucket")
  }

  def ngramCoverageCurveSql: String =
    s"""WITH $TokenCountsCtes,
       |nr AS (
       |  SELECT tok, n,
       |         CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rnk
       |  FROM tn),
       |nb AS (SELECT CAST(${rankBucketCase("rnk")} AS BIGINT) AS bucket, n FROM nr),
       |ng AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_types,
       |         CAST(sum(n) AS BIGINT) AS bucket_occ
       |  FROM nb GROUP BY bucket),
       |nc AS (
       |  SELECT bucket, n_types, bucket_occ,
       |         CAST(sum(bucket_occ) OVER (ORDER BY bucket
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_occ,
       |         CAST(sum(bucket_occ) OVER () AS BIGINT) AS total_occ
       |  FROM ng)
       |SELECT bucket, n_types, bucket_occ, cum_occ,
       |       (10000 * cum_occ) // total_occ AS coverage_e4
       |FROM nc ORDER BY bucket""".stripMargin

  // ---- oov_rate: per-source vocabulary coverage ---------------------------

  /** Out-of-vocabulary rate per source against the trained vocabulary
    * (vocab_build's df ≥ MinVocabDf membership rule): the fraction of a
    * source's token OCCURRENCES falling outside the vocab, in 1e-4
    * ticks — the tokenizer-coverage drift monitor that flags a source
    * whose text the trained vocabulary segments badly (new jargon,
    * another language, OCR noise) before its fertility shows up in
    * bpe_compression. Occurrence-weighted on purpose: a rare OOV type
    * repeated everywhere hurts more than many hapaxes.
    *
    * Scale shape: rides the memoized (doc, tok, tf) frame; vocab
    * membership is a df-table join keyed on the token (the vocab side is
    * vocabulary-sized), the source rollup map-side combines to #sources
    * rows. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val tf = tfFrame(spark, dir)
    val vocab = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .where(col("df") >= MinVocabDf)
      .select("tok")
    val srcs = Tables.documents(spark, dir).select("doc_id", "source")
    tf.join(vocab.withColumn("in_vocab", lit(1L)), Seq("tok"), "left")
      .join(srcs, "doc_id")
      .groupBy("source")
      .agg(sum("tf").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate_e4", expr("(10000 * n_oov) div n_tokens"))
      .orderBy("source")
  }

  val oovRateSql: String =
    s"""WITH $TokenCountsCtes,
       |ovv AS (
       |  SELECT tok FROM tf GROUP BY tok HAVING count(*) >= $MinVocabDf),
       |ovj AS (
       |  SELECT d.source, t.tf,
       |         CASE WHEN v.tok IS NULL THEN t.tf ELSE 0 END AS oov_tf
       |  FROM tf t
       |  JOIN documents d ON t.doc_id = d.doc_id
       |  LEFT JOIN ovv v ON t.tok = v.tok)
       |SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |       CAST(sum(oov_tf) AS BIGINT) AS n_oov,
       |       (10000 * CAST(sum(oov_tf) AS BIGINT)) // CAST(sum(tf) AS BIGINT)
       |         AS oov_rate_e4
       |FROM ovj GROUP BY source ORDER BY source""".stripMargin

  val vocabBuildSql: String =
    s"""WITH $TokenCountsCtes,
       |v AS (
       |  SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS n_occ
       |  FROM tf GROUP BY tok
       |  HAVING count(*) >= $MinVocabDf)
       |SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, tok) AS BIGINT) AS vocab_id,
       |       tok, df, n_occ
       |FROM v ORDER BY vocab_id""".stripMargin

  val tfidfToptermsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.tok, CAST(tf.tf AS BIGINT) AS tf,
       |         CAST(df.df AS BIGINT) AS df,
       |         CAST(tf.tf AS BIGINT)
       |           * CAST(floor(CAST(1000000 AS DOUBLE) * n.n_docs / df.df) AS BIGINT) AS score
       |  FROM tf JOIN df USING (tok) CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, tok, tf, df, score,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk
       |  FROM scored)
       |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, tf, df, score
       |FROM ranked WHERE rnk <= $TfidfTopK
       |ORDER BY doc_id, rnk""".stripMargin

  // ---- ngram_pmi: collocation mining by integer lift ----------------------

  /** Collocation strength of adjacent token pairs, scored by LIFT —
    * n_ab·N / (n_a·n_b), the monotone core of PMI without its log(): a
    * float ln() is not bit-portable across engines, and ranking only
    * needs monotonicity (the tfidf integer-idf trick applied to pair
    * association). Counts are occurrences, not document frequencies;
    * the score is ONE textually identical double chain floored to e6 on
    * both sides. Plan: bigram explode → pair groupBy (map-side combined,
    * MinPairCount floor ahead of the joins) → two co-partitioned unigram
    * joins on the token key → 1-row total broadcast → TakeOrdered(K) —
    * bounded K rows per partition to the driver, no global sort. */
  val PmiTopK = 20
  val MinPairCount = 5L

  /** Adjacent-token pairs with their source doc: one explode over the
    * token arrays. Query-local (each consumer aggregates it immediately
    * into a far smaller frame). */
  private def bigramOccurrences(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS a, tk[i + 1] AS b))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))

  /** Corpus bigram counts (occurrences), materialized once per (session,
    * dir) — the bigram-LM "training pass" shared by the PMI collocation
    * miner and the fluency scorer. */
  def bigramCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"ngrams.bigram:$dir") {
      bigramOccurrences(spark, dir)
        .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    }

  def ngramPmi(spark: SparkSession, dir: String): DataFrame = {
    val uni = tfFrame(spark, dir).groupBy("tok").agg(sum("tf").as("n_tok"))
    val tot = bigramCounts(spark, dir).agg(sum("n_ab").as("n_big"))
    bigramCounts(spark, dir)
      .where(col("n_ab") >= MinPairCount)
      .join(uni.select(col("tok").as("a"), col("n_tok").as("n_a")), "a")
      .join(uni.select(col("tok").as("b"), col("n_tok").as("n_b")), "b")
      // bounded-cross: broadcast 1-row corpus total
      .crossJoin(broadcast(tot))
      .withColumn("lift_e6", expr(
        "CAST(floor(1.0e6 * n_ab * n_big / n_a / n_b) AS BIGINT)"))
      .select("a", "b", "n_ab", "n_a", "n_b", "lift_e6")
      .orderBy(col("lift_e6").desc, col("a"), col("b"))
      .limit(PmiTopK)
  }

  val ngramPmiSql: String =
    s"""WITH tk AS (
       |  SELECT string_split(lower(trim(text)), ' ') AS tk FROM documents
       |  WHERE len(string_split(lower(trim(text)), ' ')) >= 2),
       |bgidx AS (
       |  SELECT tk, unnest(range(1, len(tk))) AS i FROM tk),
       |bg AS (SELECT tk[i] AS a, tk[i+1] AS b FROM bgidx),
       |-- unigram counts are CORPUS-wide (the Spark side's tf frame spans
       |-- every document), not restricted to bigram-eligible docs
       |ex AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
       |       FROM documents),
       |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok FROM ex GROUP BY tok),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM bg),
       |pairs AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
       |  FROM bg GROUP BY a, b HAVING count(*) >= $MinPairCount)
       |SELECT p.a, p.b, p.n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
       |       CAST(floor(1.0e6 * n_ab * n_big / ua.n_tok / ub.n_tok) AS BIGINT)
       |         AS lift_e6
       |FROM pairs p
       |JOIN uni ua ON p.a = ua.tok
       |JOIN uni ub ON p.b = ub.tok
       |CROSS JOIN nb
       |ORDER BY lift_e6 DESC, p.a, p.b
       |LIMIT $PmiTopK""".stripMargin

  // ---- lm_fluency: bigram-LM surprise scoring -----------------------------

  /** Per-document fluency under a corpus-trained bigram language model —
    * the perplexity-proxy filter of the CCNet lineage (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020 — there a KenLM 5-gram; here the model is trained
    * on the corpus itself): a document whose adjacent-token transitions
    * are rare relative to each head token's frequency reads as disfluent
    * (gibberish, shuffled boilerplate, OCR noise) and is a removal
    * candidate. Per pair (a,b) the integer surprise is
    * floor(1e6·n_a/n_ab) — monotone in -log P(b|a) = -log(n_ab/n_a), and
    * ≥ 1e6 by construction; a float log() would not be bit-portable
    * across engines (the tfidf/pmi integer trick). The document score is
    * the floored mean surprise over its pairs; no smoothing is needed
    * because the model is trained on the scoring corpus, so every scored
    * pair has n_ab ≥ 1.
    *
    * Plan: the per-pair surprise is precomputed on the SMALL side — the
    * distinct-pair counts frame joins the unigram totals on the head
    * token (both are aggregates, orders of magnitude under the
    * occurrence frame, and both ride the memoized doc-level builds the
    * PMI/BPE family shares: the corpus totals are identical whether
    * counted over copies or over distinct texts). The SCORING side is
    * rep-level (the doc_rarity contraction): a document's
    * (n_pairs, sum_s) is a pure function of its normalized text given
    * the pair table, so the bigram-occurrence explode + (a,b) join run
    * only over [[Dedup.textGroups]] distinct-text reps — cost tracks
    * distinct content, not copy count (the doc-level join was 73 s at
    * the 5M-doc stress point, the family's last copy-linear scorer).
    * The top-K docs provably come from the top-K text groups ordered by
    * best-member key (surprise DESC, rep ASC): any other group is
    * preceded by ≥ K group minima — so the member expansion is a
    * broadcast of ≤ K rep rows → TakeOrdered(K) → broadcast join back
    * to documents for lang/source. Output is K rows at every corpus
    * size. */
  val FluencyTopK = 20

  def lmFluency(spark: SparkSession, dir: String): DataFrame = {
    val uni = tfFrame(spark, dir).groupBy("tok").agg(sum("tf").as("n_a"))
    val pairSurprise = bigramCounts(spark, dir)
      .join(uni.withColumnRenamed("tok", "a"), "a")
      .withColumn("s", expr("CAST(floor(1.0e6 * n_a / n_ab) AS BIGINT)"))
      .select("a", "b", "s")
    val tg = Dedup.textGroups(spark, dir).withColumnRenamed("rep", "trep")
    val repBg = Tables.documents(spark, dir)
      .join(tg.where(col("doc_id") === col("trep")).select("doc_id"), "doc_id")
      .select(col("doc_id").as("trep"), split(lower(trim(col("text"))), " ").as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("trep"), explode(expr(
        "transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS a, tk[i + 1] AS b))")).as("p"))
      .select(col("trep"), col("p.a").as("a"), col("p.b").as("b"))
    val repScored = repBg
      .join(pairSurprise, Seq("a", "b"))
      .groupBy("trep")
      .agg(count(lit(1)).as("n_pairs"), sum("s").as("sum_s"))
      .withColumn("surprise_e6", expr("sum_s div n_pairs"))
      .orderBy(col("surprise_e6").desc, col("trep"))
      .limit(FluencyTopK)
    tg.join(broadcast(repScored), "trep")
      .orderBy(col("surprise_e6").desc, col("doc_id"))
      .limit(FluencyTopK)
      .join(Tables.documents(spark, dir).select("doc_id", "lang", "source"), "doc_id")
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("surprise_e6").desc, col("doc_id"))).cast("long"))
      .select("rnk", "doc_id", "lang", "source", "n_pairs", "surprise_e6")
      .orderBy("rnk")
  }

  val lmFluencySql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
       |  FROM documents
       |  WHERE len(string_split(lower(trim(text)), ' ')) >= 2),
       |bgidx AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM tk),
       |bg AS (SELECT doc_id, tk[i] AS a, tk[i+1] AS b FROM bgidx),
       |pairs AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM bg GROUP BY a, b),
       |ex AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
       |       FROM documents),
       |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_a FROM ex GROUP BY tok),
       |sc AS (
       |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(CAST(floor(1.0e6 * u.n_a / p.n_ab) AS BIGINT)) AS BIGINT)
       |           AS sum_s
       |  FROM bg g
       |  JOIN pairs p ON g.a = p.a AND g.b = p.b
       |  JOIN uni u ON g.a = u.tok
       |  GROUP BY g.doc_id),
       |top AS (
       |  SELECT doc_id, n_pairs, sum_s // n_pairs AS surprise_e6
       |  FROM sc ORDER BY surprise_e6 DESC, doc_id LIMIT $FluencyTopK)
       |SELECT CAST(row_number() OVER (ORDER BY t.surprise_e6 DESC, t.doc_id)
       |         AS BIGINT) AS rnk,
       |       t.doc_id, d.lang, d.source, t.n_pairs, t.surprise_e6
       |FROM top t JOIN documents d USING (doc_id)
       |ORDER BY rnk""".stripMargin

  // ---- bpe_merges: byte-pair-encoding merge-rule induction ----------------

  /** Number of merge rounds induced (each round = one vocabulary pass);
    * the oracle CTE chain is generated from the same value, so Spark and
    * DuckDB always train the same number of rounds. */
  final val BpeRounds = 5

  /** BPE tokenizer training (Sennrich, Haddow & Birch, ACL 2016): induce
    * the first BpeRounds merge rules over the corpus vocabulary — each
    * round counts adjacent symbol pairs weighted by word frequency,
    * picks the most frequent pair (ties to the lexicographically
    * smaller), and rewrites every word with that pair merged. Words
    * start as character sequences; the output is the ordered rule list
    * (round, pair, merged, freq) a tokenizer ships as its merges file.
    *
    * Two deliberate deviations, both part of the operator contract:
    * self-pairs (a, a) are excluded from rule candidacy — with a ≠ b
    * guaranteed, no two merge sites can overlap, so the simultaneous
    * rewrite IS canonical greedy left-to-right BPE (run-merging of
    * repeated symbols is the one case where greedy order matters, and
    * it is degenerate for natural text); and the rewrite applies the
    * space-delimited string replacement twice per round, because a
    * single leftmost-scan replace consumes the delimiter shared by two
    * adjacent merge sites ("a b a b") — with a ≠ b the second pass
    * provably reaches the all-sites fixpoint. Both engines' replace()
    * are leftmost-non-overlapping with identical resume semantics, and
    * the oracle gate enforces that bit-for-bit.
    *
    * Scale shape (100 TB): every frame here is VOCABULARY-sized, not
    * corpus-sized — the corpus is read once through the memoized tf
    * frame; pair counting is a map-side-combined groupBy on short-string
    * keys; the winning rule is a 1-row TakeOrdered broadcast back over
    * the vocabulary; the rewrite is per-word string work inside
    * whole-stage codegen. K rounds cost K vocabulary passes, flat in
    * corpus size. */
  /** Runs the BpeRounds training loop once: returns (rules, final
    * vocabulary) where the vocabulary keeps the original token beside its
    * merged symbol sequence — consumed by bpe_merges (rules) and
    * bpe_compression (final segmentation). */
  private def bpeLoop(spark: SparkSession, dir: String): (Seq[DataFrame], DataFrame) = {
    // the empty token (whitespace-degenerate documents) is excluded up
    // front: sequence(1, 0) is DESCENDING in Spark but empty in DuckDB's
    // range(1, 1), so '' is the one token whose character split the two
    // engines disagree on — and it carries no pairs anyway
    var words = tokenCounts(spark, dir)
      .where(length(col("tok")) >= 1)
      .select(col("tok"), expr(
        "array_join(transform(sequence(1, length(tok)), i -> substr(tok, i, 1)), ' ')")
        .as("sym"), col("n"))
    val rules = (1 to BpeRounds).map { r =>
      val pairs = words
        .where(expr("size(split(sym, ' ')) >= 2"))
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(split(sym, ' ')) - 1)," +
            " i -> concat(element_at(split(sym, ' '), i), ' '," +
            " element_at(split(sym, ' '), i + 1)))")).as("pair"))
        .where(expr("element_at(split(pair, ' '), 1) <> element_at(split(pair, ' '), 2)"))
        .groupBy("pair").agg(sum("n").as("freq"))
      // both frames are materialized EAGERLY per round (the rule is 1 row,
      // the vocabulary a few 100k rows): without the checkpoint, round r's
      // lineage re-derives every earlier round's rewrite on each of its
      // two consumers — quadratic recompute in BpeRounds
      val best = pairs.orderBy(col("freq").desc, col("pair")).limit(1)
        .select(col("pair"), expr("replace(pair, ' ', '')").as("merged"), col("freq"))
        .localCheckpoint(true)
      // bounded-cross: broadcast 1-row best-pair row
      words = words.crossJoin(broadcast(
          best.select(col("pair").as("bp"), col("merged").as("bm"))))
        .select(col("tok"), expr(
          "trim(replace(replace(concat(' ', sym, ' ')," +
            " concat(' ', bp, ' '), concat(' ', bm, ' '))," +
            " concat(' ', bp, ' '), concat(' ', bm, ' ')))").as("sym"), col("n"))
        .localCheckpoint(true)
      best.select(lit(r.toLong).as("round"), col("pair"), col("merged"), col("freq"))
    }
    (rules, words)
  }

  /** Memoized (rules, final vocabulary) from ONE bpeLoop run: the loop is
    * the expensive part (BpeRounds vocabulary passes with per-round
    * localCheckpoint materializations), and both bpe_merges and
    * bpe_compression consume it — without the memo each paid a full
    * retrain per registry run. Both frames are registered under their
    * own memo keys from the SAME loop execution (mirroring the sim.*
    * memo-key convention, keyed on the round knob + dir). */
  private def bpeTrained(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    var loopWords: DataFrame = null
    val rules = Tables.memoPersist(spark, s"ngrams.bpeRules:$BpeRounds:$dir") {
      val (rs, words) = bpeLoop(spark, dir)
      loopWords = words
      rs.reduce(_ unionByName _)
    }
    // first call: loopWords was just captured; later calls: both memo
    // entries were written together, so this block never re-trains
    val words = Tables.memoPersist(spark, s"ngrams.bpeWords:$BpeRounds:$dir") {
      if (loopWords != null) loopWords else bpeLoop(spark, dir)._2
    }
    (rules, words)
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeTrained(spark, dir)._1.orderBy("round")

  /** Shared oracle CTE chain: w0 (character-split vocabulary, empty token
    * excluded) through w{BpeRounds}, with b1..b{BpeRounds} the per-round
    * winning rules. Mirrors [[bpeLoop]] round for round. */
  private def BpeCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (
         |  SELECT pr, CAST(sum(n) AS BIGINT) AS freq FROM (
         |    SELECT n, unnest(list_transform(range(1, len(string_split(sym, ' '))),
         |      i -> string_split(sym, ' ')[i] || ' ' || string_split(sym, ' ')[i + 1])) AS pr
         |    FROM w${r - 1} WHERE len(string_split(sym, ' ')) >= 2)
         |  WHERE string_split(pr, ' ')[1] <> string_split(pr, ' ')[2]
         |  GROUP BY pr),
         |b$r AS (SELECT pr AS pair, replace(pr, ' ', '') AS merged, freq
         |  FROM p$r ORDER BY freq DESC, pr LIMIT 1),
         |w$r AS (
         |  SELECT tok, trim(replace(replace(concat(' ', sym, ' '),
         |      concat(' ', b.pair, ' '), concat(' ', b.merged, ' ')),
         |      concat(' ', b.pair, ' '), concat(' ', b.merged, ' '))) AS sym, n
         |  FROM w${r - 1} CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT tok, array_to_string(list_transform(range(1, length(tok) + 1),
       |    i -> substr(tok, i, 1)), ' ') AS sym, n
       |  FROM tn WHERE length(tok) >= 1),
       |$rounds""".stripMargin
  }

  def bpeMergesSql: String = {
    val sel = (1 to BpeRounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, pair, merged, freq FROM b$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH $TokenCountsCtes,
       |$BpeCtes
       |$sel
       |ORDER BY round""".stripMargin
  }

  // ---- bpe_compression: apply the learned merges, report per source -------

  /** Applies the trained segmentation back to the corpus and reports, per
    * source, the whitespace-token count, character count, BPE-token count,
    * and characters-per-BPE-token (e4 fixed-point) — the compression /
    * fertility read a tokenizer ships with and the per-source drift
    * monitor for "this source tokenizes badly" (code vs prose, wrong
    * language). The corpus side is the memoized tf frame joined to the
    * final vocabulary segmentation on the token key (both vocabulary-
    * partitioned); aggregation is map-side combined on the handful of
    * sources. Whitespace-degenerate empty tokens are excluded (the
    * operator contract — see bpeLoop). */
  def bpeCompression(spark: SparkSession, dir: String): DataFrame = {
    val vocab = bpeTrained(spark, dir)._2
      .select(col("tok"), expr("size(split(sym, ' '))").cast("long").as("n_sym"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    tfFrame(spark, dir)
      .join(docs, "doc_id")
      .join(vocab, "tok")
      .groupBy("source")
      .agg(sum("tf").as("n_words"),
        sum(col("tf") * length(col("tok"))).as("n_chars"),
        sum(col("tf") * col("n_sym")).as("n_bpe_tokens"))
      .select(col("source"), col("n_words"), col("n_chars"), col("n_bpe_tokens"),
        expr("n_chars * 10000 div n_bpe_tokens").as("chars_per_bpe_e4"))
      .orderBy("source")
  }

  def bpeCompressionSql: String =
    s"""WITH $TokenCountsCtes,
       |$BpeCtes,
       |v AS (SELECT tok, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sym
       |  FROM w$BpeRounds)
       |SELECT d.source,
       |  CAST(sum(t.tf) AS BIGINT) AS n_words,
       |  CAST(sum(t.tf * length(t.tok)) AS BIGINT) AS n_chars,
       |  CAST(sum(t.tf * v.n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(t.tf * length(t.tok)) * 10000 // sum(t.tf * v.n_sym) AS BIGINT)
       |    AS chars_per_bpe_e4
       |FROM tf t
       |JOIN documents d ON d.doc_id = t.doc_id
       |JOIN v ON v.tok = t.tok
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin
}
