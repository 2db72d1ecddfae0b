package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data pipeline utilities over the documents table: threshold
  * quality filtering, deterministic stratified sampling, and greedy
  * sequence packing (SURVEY.md §2 rows 30-32).
  *
  * All three are single-pass plans: the filter is a narrow projection,
  * sampling is a stateless hash test (no shuffle at all), and packing is
  * one window partitioned by the stratum key — each scales linearly and
  * partitions cleanly at 100 TB.
  */
object Pipeline {

  // ---- quality_filter -----------------------------------------------------

  /** Keep documents inside the quality envelope: token count in range and
    * enough stopword signal. Thresholds chosen to split the corpus, not
    * pass it through. */
  val MinTokens = 30
  val MaxTokens = 90
  val MinStopE4 = 500L

  /** (doc_id, source, lang, n_tokens) — the whitespace token count every
    * planning operator keys on, materialized ONCE per (session, dir).
    * Eleven registry queries need nothing but this narrow frame, and each
    * was independently re-reading and re-splitting the full text column —
    * at the 1000× stress point that re-tokenization was the largest wall
    * (quantile_merge 8.0 s). The persisted frame
    * is four int/short-string columns (no text), so it is RAM-trivial at
    * any corpus scale and every consumer below becomes a groupBy/window
    * over longs. The oracle SQL for those consumers still derives counts
    * from `documents` directly, so the correctness gate re-proves the
    * equivalence per query. */
  private[ops] def docTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"docs.tokens:$dir") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
    }

  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(split(col("text"), " "))
    val nStop = TextStats.hits(TextStats.Stopwords("en"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), nTok.cast("long").as("n_tokens"),
        TextStats.ratioE4(nStop, nTok).as("stop_ratio_e4"))
      .where(col("n_tokens").between(MinTokens, MaxTokens) &&
        col("stop_ratio_e4") >= MinStopE4)
      .orderBy("doc_id")
  }

  val qualityFilterSql: String = {
    val stops = TextStats.Stopwords("en").map(s => s"'$s'").mkString(",")
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         len(list_filter(string_split(text, ' '),
       |             t -> t IN ($stops))) AS n_stop
       |  FROM documents)
       |SELECT doc_id, lang, n_tokens,
       |       CASE WHEN n_tokens = 0 THEN 0
       |            ELSE CAST(floor(10000.0 * n_stop / n_tokens) AS BIGINT) END AS stop_ratio_e4
       |FROM t
       |WHERE n_tokens BETWEEN $MinTokens AND $MaxTokens
       |  AND (CASE WHEN n_tokens = 0 THEN 0
       |            ELSE CAST(floor(10000.0 * n_stop / n_tokens) AS BIGINT) END) >= $MinStopE4
       |ORDER BY doc_id""".stripMargin
  }

  // ---- sample_stratified --------------------------------------------------

  /** Deterministic per-stratum sampling: a multiplicative hash of doc_id
    * lands in [0,100); a document is kept when its bucket is under the
    * stratum's rate (en 50%, everything else 20%). Stateless — no
    * shuffle, reproducible across runs and engines. doc_id is reduced mod
    * a prime BEFORE the multiply so the product stays far below 2^63 for
    * any conceivable id (a raw multiply would wrap negative in Spark and
    * error in DuckDB once doc_id passes ~3.5e9). */
  val HashMult: Long = graft.functions.HashExprs.Mix1
  val HashModPrime = 1000003L

  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % HashModPrime * HashMult % 100).as("bucket"))
      .withColumn("rate", when(col("lang") === "en", 50L).otherwise(20L))
      .where(col("bucket") < col("rate"))
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")

  val sampleStratifiedSql: String =
    s"""SELECT doc_id, lang, (doc_id % $HashModPrime * $HashMult) % 100 AS bucket
       |FROM documents
       |WHERE (doc_id % $HashModPrime * $HashMult) % 100 <
       |      CASE WHEN lang = 'en' THEN 50 ELSE 20 END
       |ORDER BY doc_id""".stripMargin

  // ---- pack_sequences -----------------------------------------------------

  /** Greedy sequence packing: within each language stratum, documents in
    * doc_id order accumulate token counts; a document starts in the bin
    * its running prefix falls into (bins of ContextTokens). One window
    * per stratum — the packing a context-window batcher does before
    * tokenized training shards are written. */
  val ContextTokens = 512L

  /** Shared packing stage: running token prefix per lang stratum → bin.
    * One definition serves the standalone operator and the composed pass
    * so the binning rule cannot silently diverge between them. */
  private def packWindow(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("bin",
        floor((col("cum_tokens") - col("n_tokens")).cast("double") / ContextTokens)
          .cast("long"))
  }

  /** Shared quality-envelope predicate over (n_tokens, stop_ratio_e4). */
  private def qualityEnvelope(df: DataFrame): DataFrame =
    df.where(col("n_tokens").between(MinTokens, MaxTokens) &&
      col("stop_ratio_e4") >= MinStopE4)

  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packWindow(docTokens(spark, dir).select("doc_id", "lang", "n_tokens"))
      .orderBy("doc_id")

  // ---- source_mix: data-mixing plan per source ----------------------------

  /** Source-mix rebalancing plan: per-source doc/token totals, each
    * source's share of the corpus, and the deterministic down-sampling
    * rate that would equalize token mass across sources (capped at 1e6 =
    * keep everything — an under-represented source can't be up-sampled by
    * dropping rows). This is the planning pass of a data-mixture step:
    * its OUTPUT is #sources rows, so the unpartitioned windows below run
    * over an already-reduced frame, not the corpus (the corpus-side work
    * is one map-side-combined groupBy). All ratios are one double
    * multiply-divide then floor — bit-identical across engines while the
    * token totals stay under 2^53 (≈9e15 tokens ≫ any real corpus). */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = docTokens(spark, dir)
      .select("source", "n_tokens")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("src_tokens"))
    val all = Window.partitionBy()
    perSrc
      .withColumn("total_tokens", sum("src_tokens").over(all))
      .withColumn("n_sources", count(lit(1)).over(all))
      .withColumn("share_e6",
        floor(lit(1000000.0) * col("src_tokens") / col("total_tokens")).cast("long"))
      .withColumn("rate_e6", least(lit(1000000L),
        floor(lit(1000000.0) * col("total_tokens")
          / (col("n_sources") * col("src_tokens"))).cast("long")))
      .select("source", "n_docs", "src_tokens", "share_e6", "rate_e6")
      .orderBy("source")
  }

  val sourceMixSql: String =
    s"""WITH agg AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
       |         count(*) AS n_sources
       |  FROM agg)
       |SELECT source, n_docs, src_tokens,
       |  CAST(floor(1000000.0 * src_tokens / total_tokens) AS BIGINT) AS share_e6,
       |  least(CAST(1000000 AS BIGINT),
       |        CAST(floor(1000000.0 * total_tokens / (n_sources * src_tokens)) AS BIGINT)) AS rate_e6
       |FROM agg CROSS JOIN tot
       |ORDER BY source""".stripMargin

  // ---- shard_assign: deterministic training-shard routing -----------------

  /** Deterministic shard router + balance audit: a multiplicative hash
    * assigns every document a shard in [0, NumShards); the aggregate
    * reports per-shard doc/token mass and id range. At scale this hash IS
    * the `repartition(NumShards, shard)` key the shard writer uses — the
    * audit proves the router spreads mass evenly before 100 TB gets
    * committed to it. The product is reduced mod the PRIME before the
    * power-of-two shard modulus: HashMult ≡ 1 (mod 8), so taking the
    * product's low bits directly would pass doc_id's low-bit structure
    * straight through (stride-8 ids would all land in one shard); the
    * prime reduction mixes high bits into the low ones first. */
  val NumShards = 8

  def shardAssign(spark: SparkSession, dir: String): DataFrame =
    docTokens(spark, dir)
      .select(col("doc_id"), col("n_tokens"),
        (col("doc_id") % HashModPrime * HashMult % HashModPrime % NumShards).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")

  val shardAssignSql: String =
    s"""SELECT (doc_id % $HashModPrime * $HashMult) % $HashModPrime % $NumShards AS shard,
       |       count(*) AS n_docs,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM documents
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  // ---- sample_reservoir: fixed-count per-stratum sample -------------------

  /** Deterministic reservoir-style sampling: exactly min(k, |stratum|)
    * documents per language, chosen by ranking on a well-mixed
    * multiplicative hash (prime-reduced, same family as the shard router)
    * with doc_id as the total tie-break. Unlike the rate-based sampler
    * this pins the output SIZE, which is what an eval-set or
    * per-language budget needs. One window per stratum — the same shuffle
    * shape as sessionize, million-scale stratum keys partition cleanly. */
  val ReservoirK = 50

  def sampleReservoir(spark: SparkSession, dir: String): DataFrame = {
    val h = col("doc_id") % HashModPrime * HashMult % HashModPrime
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))))
      .where(col("rnk") <= ReservoirK)
      .select("lang", "rnk", "doc_id")
      .orderBy("lang", "rnk")
  }

  val sampleReservoirSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |         (doc_id % $HashModPrime * $HashMult) % $HashModPrime AS h
       |  FROM documents),
       |r AS (
       |  SELECT lang, doc_id,
       |         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rnk
       |  FROM h)
       |SELECT lang, rnk, doc_id FROM r
       |WHERE rnk <= $ReservoirK
       |ORDER BY lang, rnk""".stripMargin

  // ---- sample_weighted: fixed-count weighted sample ------------------------

  /** Weighted reservoir-style sample: k documents per language chosen
    * with probability increasing in token mass. The classic A-ES key
    * u^(1/w) needs pow(), whose rounding is not engine-portable; the
    * integer surrogate rank = h·1e6 div w preserves "heavier ⇒ smaller
    * expected key" with pure int64 arithmetic (h < HashModPrime ≈ 2^20,
    * so h·1e6 < 2^40 — no wrap), at the cost of the exact A-ES inclusion
    * distribution. Same one-window-per-stratum shuffle as the uniform
    * reservoir. */
  val WeightedK = 25

  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    docTokens(spark, dir)
      .select("doc_id", "lang", "n_tokens")
      .where(col("n_tokens") > 0)
      .withColumn("wkey", expr(s"(doc_id % $HashModPrime * $HashMult % $HashModPrime) * 1000000 div n_tokens"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("wkey"), col("doc_id"))))
      .where(col("rnk") <= WeightedK)
      .select("lang", "rnk", "doc_id", "n_tokens", "wkey")
      .orderBy("lang", "rnk")

  val sampleWeightedSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) > 0),
       |k AS (
       |  SELECT doc_id, lang, n_tokens,
       |         (doc_id % $HashModPrime * $HashMult % $HashModPrime) * 1000000 // n_tokens AS wkey
       |  FROM t),
       |r AS (
       |  SELECT lang, doc_id, n_tokens, wkey,
       |         row_number() OVER (PARTITION BY lang ORDER BY wkey, doc_id) AS rnk
       |  FROM k)
       |SELECT lang, rnk, doc_id, n_tokens, wkey FROM r
       |WHERE rnk <= $WeightedK
       |ORDER BY lang, rnk""".stripMargin

  // ---- lang_quantiles: exact rank-based corpus quantiles ------------------

  /** Per-language exact token-count quantiles by explicit rank selection:
    * median at rank ⌈n/2⌉, p90 at rank ⌈9n/10⌉ over (n_tokens, doc_id)
    * order. Rank arithmetic is pure int64 — no percentile interpolation,
    * whose float semantics differ across engines. The conditional-max
    * pivot keeps it to one window + one groupBy on the stratum key. */
  /** Shared rank stage for the per-language corpus reports: (doc_id, lang,
    * n_tokens) plus exact per-stratum rank and size — one window per
    * language. The quantile and winsorize operators both consume this, so
    * the tie-break and tokenizer cannot desynchronize between them. */
  private def rankedByTokens(spark: SparkSession, dir: String): DataFrame =
    docTokens(spark, dir)
      .select("doc_id", "lang", "n_tokens")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n_tokens"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))

  /** Oracle twin of [[rankedByTokens]] (CTEs `t`, `r`). */
  private val RankedSqlCtes: String =
    """t AS (
      |  SELECT doc_id, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT lang, n_tokens,
      |         row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rnk,
      |         count(*) OVER (PARTITION BY lang) AS n
      |  FROM t)""".stripMargin

  def langQuantiles(spark: SparkSession, dir: String): DataFrame =
    rankedByTokens(spark, dir)
      .groupBy("lang")
      .agg(
        max(col("n")).as("n_docs"),
        max(when(col("rnk") === expr("(n + 1) div 2"), col("n_tokens"))).as("median_tokens"),
        max(when(col("rnk") === expr("(n * 9 + 9) div 10"), col("n_tokens"))).as("p90_tokens"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))
      .orderBy("lang")

  val langQuantilesSql: String =
    s"""WITH $RankedSqlCtes
       |SELECT lang, max(n) AS n_docs,
       |       max(CASE WHEN rnk = (n + 1) // 2 THEN n_tokens END) AS median_tokens,
       |       max(CASE WHEN rnk = (n * 9 + 9) // 10 THEN n_tokens END) AS p90_tokens,
       |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
       |FROM r GROUP BY lang ORDER BY lang""".stripMargin

  // ---- lang_trim: winsorized per-language token statistics ----------------

  /** Trimmed (winsorized) per-language token-count mean: drop the bottom
    * and top 10% of documents by (n_tokens, doc_id) rank, then average
    * the kept mass — the robust estimate a corpus report wants when a few
    * giant or empty documents would swamp the raw mean. Reuses the exact
    * rank machinery of [[langQuantiles]] (integer `div` arithmetic, total
    * tie-break), so the trim boundaries are bit-identical across engines;
    * the only float op is one e4 fixed-point division at the end. Same
    * shuffle shape as every stratum window: one partition per language. */
  def langTrim(spark: SparkSession, dir: String): DataFrame =
    rankedByTokens(spark, dir)
      .where(col("rnk") > expr("n div 10") && col("rnk") <= expr("n - n div 10"))
      .groupBy("lang")
      .agg(max("n").as("n_docs"), count(lit(1)).as("n_kept"),
        sum("n_tokens").as("kept_tokens"))
      .withColumn("trim_mean_e4",
        expr("CAST(floor(1.0e4 * kept_tokens / n_kept) AS BIGINT)"))
      .orderBy("lang")

  val langTrimSql: String =
    s"""WITH $RankedSqlCtes,
       |k AS (
       |  SELECT lang, max(n) AS n_docs, count(*) AS n_kept,
       |         CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
       |  FROM r
       |  WHERE rnk > n // 10 AND rnk <= n - n // 10
       |  GROUP BY lang)
       |SELECT lang, n_docs, n_kept, kept_tokens,
       |       CAST(floor(1.0e4 * kept_tokens / n_kept) AS BIGINT) AS trim_mean_e4
       |FROM k ORDER BY lang""".stripMargin

  // ---- pipeline_e2e: the composed training-data pass ----------------------

  /** The full pass a corpus makes on its way to training shards, composed
    * from the SAME stage definitions the standalone operators use
    * (qualityEnvelope, packWindow, the sampling hash): quality envelope →
    * exact-dedup keepers → deterministic stratified sample → sequence
    * packing. The filtered frame is persisted because the dedup-by-join
    * shape references it twice (join input and keeper aggregate) — without
    * it the scan + normalization + stopword count would run twice. */
  def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val nStop = TextStats.hits(TextStats.Stopwords("en"))
    val filtered = Tables.memoPersist(spark, s"pipeline.filtered:$dir") {
      qualityEnvelope(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), lower(trim(col("text"))).as("norm"),
            nTok.cast("long").as("n_tokens"),
            TextStats.ratioE4(nStop, nTok).as("stop_ratio_e4")))
    }
    val keepers = filtered.groupBy("norm")
      .agg(min("doc_id").as("keeper_id"))
    val deduped = filtered
      .join(keepers, filtered("doc_id") === keepers("keeper_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val sampled = deduped
      .where(col("doc_id") % HashModPrime * HashMult % 100 <
        when(col("lang") === "en", 50L).otherwise(20L))
    packWindow(sampled).orderBy("doc_id")
  }

  val pipelineE2eSql: String = {
    val stops = TextStats.Stopwords("en").map(s => s"'$s'").mkString(",")
    s"""WITH stats AS (
       |  SELECT doc_id, lang, lower(trim(text)) AS norm,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS n_stop
       |  FROM documents),
       |filtered AS (
       |  SELECT doc_id, lang, norm, n_tokens
       |  FROM stats
       |  WHERE n_tokens BETWEEN $MinTokens AND $MaxTokens
       |    AND (CASE WHEN n_tokens = 0 THEN 0
       |              ELSE CAST(floor(10000.0 * n_stop / n_tokens) AS BIGINT) END) >= $MinStopE4),
       |keepers AS (
       |  SELECT min(doc_id) AS keeper_id FROM filtered GROUP BY norm),
       |sampled AS (
       |  SELECT f.doc_id, f.lang, f.n_tokens
       |  FROM filtered f JOIN keepers k ON f.doc_id = k.keeper_id
       |  WHERE (f.doc_id % $HashModPrime * $HashMult) % 100 <
       |        CASE WHEN f.lang = 'en' THEN 50 ELSE 20 END)
       |SELECT doc_id, lang, n_tokens,
       |       CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |       CAST(floor(CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |         ROWS UNBOUNDED PRECEDING) - n_tokens AS DOUBLE) / $ContextTokens) AS BIGINT) AS bin
       |FROM sampled
       |ORDER BY doc_id""".stripMargin
  }

  val packSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, lang, n_tokens, cum_tokens,
       |       CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / $ContextTokens) AS BIGINT) AS bin
       |FROM c ORDER BY doc_id""".stripMargin

  // ---- mix_temperature: temperature-scaled source mixing ------------------

  /** Temperature-scaled source mixing (α = 0.5): the multilingual-training
    * recipe that upsamples the tail by sampling source i proportional to
    * its token share raised to α, instead of equalizing outright like
    * `source_mix`. Integer-portable math: the per-source temperature
    * weight is floor(sqrt(tokens)) — an exact BIGINT in both engines
    * (IEEE sqrt is correctly rounded, inputs ≪ 2^53) — so the weight SUM
    * is exact integer arithmetic, never an order-dependent float sum.
    * The per-document sampling rate normalizes the per-doc inclusion
    * density tokens^(α−1) by the sparsest source: rate_e6 =
    * floor(1e6 · sqrt(min_tokens / tokens)), one correctly-rounded
    * double chain both engines share. Corpus-side cost is one map-side
    * -combined groupBy; everything after runs on #sources rows. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = docTokens(spark, dir)
      .select("source", "n_tokens")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("src_tokens"))
      .withColumn("temp_w", floor(sqrt(col("src_tokens").cast("double"))).cast("long"))
    val all = Window.partitionBy()
    perSrc
      .withColumn("total_tokens", sum("src_tokens").over(all))
      .withColumn("total_w", sum("temp_w").over(all))
      .withColumn("min_tokens", min("src_tokens").over(all))
      .withColumn("share_e6",
        floor(lit(1000000.0) * col("src_tokens") / col("total_tokens")).cast("long"))
      .withColumn("temp_share_e6",
        floor(lit(1000000.0) * col("temp_w") / col("total_w")).cast("long"))
      .withColumn("rate_e6",
        floor(lit(1000000.0)
          * sqrt(col("min_tokens").cast("double") / col("src_tokens"))).cast("long"))
      .select("source", "n_docs", "src_tokens", "temp_w",
        "share_e6", "temp_share_e6", "rate_e6")
      .orderBy("source")
  }

  val mixTemperatureSql: String =
    """WITH agg AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
      |  FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n_docs, src_tokens,
      |         CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT) AS temp_w
      |  FROM agg),
      |tot AS (
      |  SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
      |         CAST(sum(temp_w) AS BIGINT) AS total_w,
      |         CAST(min(src_tokens) AS BIGINT) AS min_tokens
      |  FROM w)
      |SELECT source, n_docs, src_tokens, temp_w,
      |  CAST(floor(1000000.0 * src_tokens / total_tokens) AS BIGINT) AS share_e6,
      |  CAST(floor(1000000.0 * temp_w / total_w) AS BIGINT) AS temp_share_e6,
      |  CAST(floor(1000000.0 * sqrt(CAST(min_tokens AS DOUBLE) / src_tokens)) AS BIGINT) AS rate_e6
      |FROM w CROSS JOIN tot
      |ORDER BY source""".stripMargin

  // ---- token_budget_plan: largest-remainder budget apportionment ----------

  /** Token-budget apportionment across sources by largest-remainder
    * (Hamilton) rounding: the planner that turns mix_temperature's
    * α = 0.5 weights into an INTEGER per-source token allocation summing
    * EXACTLY to the global budget — floor quotas systematically
    * under-allocate and naive per-source rounding misses the budget by
    * up to #sources tokens, so the leftover goes to the largest
    * fractional remainders (ties to the smaller source name).
    *
    * Exactness without wide integers: B·w/W is decomposed as
    * (B div W)·w + ((B mod W)·w) div W — algebraically exact, and every
    * intermediate is bounded by W·w (≪ 2^63 even at 100 TB budgets where
    * the naive product B·w overflows int64). epochs_e6 reports the
    * resulting per-source pass count (>1e6 means the plan upsamples that
    * source past one epoch — the repetition-budget flag).
    *
    * Scale shape: one map-side-combined groupBy over the corpus;
    * everything after (scalar totals, remainder rank, bonus) runs on
    * #sources rows — the remainder window is over that bounded frame. */
  val TokenBudget = 10000000L

  def tokenBudgetPlan(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = docTokens(spark, dir)
      .select("source", "n_tokens")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("src_tokens"))
      .withColumn("temp_w", floor(sqrt(col("src_tokens").cast("double"))).cast("long"))
    val all = Window.partitionBy()
    perSrc
      .withColumn("total_w", sum("temp_w").over(all))
      .withColumn("base",
        expr(s"($TokenBudget div total_w) * temp_w + (($TokenBudget % total_w) * temp_w) div total_w"))
      .withColumn("rem", expr(s"(($TokenBudget % total_w) * temp_w) % total_w"))
      .withColumn("leftover", lit(TokenBudget) - sum("base").over(all))
      .withColumn("rrnk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .withColumn("bonus", (col("rrnk") <= col("leftover")).cast("long"))
      .withColumn("alloc_tokens", col("base") + col("bonus"))
      .withColumn("epochs_e6",
        floor(lit(1000000.0) * col("alloc_tokens") / col("src_tokens")).cast("long"))
      .select("source", "n_docs", "src_tokens", "temp_w", "base", "rem",
        "bonus", "alloc_tokens", "epochs_e6")
      .orderBy("source")
  }

  val tokenBudgetPlanSql: String =
    s"""WITH tbagg AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY source),
       |tbw AS (
       |  SELECT source, n_docs, src_tokens,
       |         CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT) AS temp_w
       |  FROM tbagg),
       |tbtot AS (SELECT CAST(sum(temp_w) AS BIGINT) AS total_w FROM tbw),
       |tbq AS (
       |  SELECT source, n_docs, src_tokens, temp_w,
       |         ($TokenBudget // total_w) * temp_w
       |           + (($TokenBudget % total_w) * temp_w) // total_w AS base,
       |         (($TokenBudget % total_w) * temp_w) % total_w AS rem
       |  FROM tbw CROSS JOIN tbtot),
       |tblo AS (SELECT CAST($TokenBudget - sum(base) AS BIGINT) AS leftover FROM tbq),
       |tbr AS (
       |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rrnk
       |  FROM tbq)
       |SELECT source, n_docs, src_tokens, temp_w, base, rem,
       |       CAST(CASE WHEN rrnk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS bonus,
       |       base + CASE WHEN rrnk <= leftover THEN 1 ELSE 0 END AS alloc_tokens,
       |       CAST(floor(1000000.0 * (base + CASE WHEN rrnk <= leftover THEN 1 ELSE 0 END)
       |            / src_tokens) AS BIGINT) AS epochs_e6
       |FROM tbr CROSS JOIN tblo ORDER BY source""".stripMargin

  // ---- curriculum_plan: length-decile curriculum stages -------------------

  /** Sequence-length curriculum plan: documents ranked globally by token
    * count (asc, ties to the smaller doc_id) and cut into 10 stages by
    * exact decile — the short-to-long schedule a curriculum trainer
    * consumes, with per-stage mass (doc count, token range, token sum) so
    * the stage boundaries can be audited against batch-size and
    * context-length constraints BEFORE training starts.
    *
    * Scale shape: [[Tables.globalRank]] — global row_number semantics
    * without a single-partition sort; the stage aggregation is a 10-key
    * map-side-combined groupBy. */
  def curriculumPlan(spark: SparkSession, dir: String): DataFrame = {
    val docs = docTokens(spark, dir).select("doc_id", "n_tokens")
    Tables.globalRank(docs, Nil, col("n_tokens").asc, col("doc_id"))
      .withColumn("stage", expr("(rnk - 1) * 10 div n_total + 1"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"), sum("n_tokens").as("sum_tokens"))
      .orderBy("stage")
  }

  val curriculumPlanSql: String =
    """WITH cd AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |cr AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(row_number() OVER (ORDER BY n_tokens ASC, doc_id) AS BIGINT) AS rnk,
      |         CAST(count(*) OVER () AS BIGINT) AS n_total
      |  FROM cd)
      |SELECT (rnk - 1) * 10 // n_total + 1 AS stage,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
      |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM cr GROUP BY 1 ORDER BY stage""".stripMargin

  // ---- quality_dup_corr: quality-score vs duplication audit ---------------

  /** Does low quality co-occur with duplication? Per stopword-ratio
    * bucket (stop_ratio_e4 div 1000 — the qualityFilter score axis), the
    * fraction of documents whose normalized content fingerprint appears
    * more than once in the corpus. Template spam clusters in BOTH low
    * buckets and high duplication, and this is the audit that shows
    * whether the quality gate and the dedup pass are removing the same
    * documents (redundant) or different ones (complementary) — read
    * before sequencing the two passes in a pipeline.
    *
    * Scale shape: the copy count groups on the 8-byte content
    * fingerprint (split_assign's ckey — the text itself never keys a
    * shuffle), the join back is fingerprint-keyed, and the final
    * aggregation is a ≤11-key map-side-combined groupBy. */
  def qualityDupCorr(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(split(col("text"), " "))
    val nStop = TextStats.hits(TextStats.Stopwords("en"))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextStats.fingerprint(lower(trim(col("text")))).as("ckey"),
        TextStats.ratioE4(nStop, nTok).as("stop_ratio_e4"))
    val copies = scored.groupBy("ckey").agg(count(lit(1)).as("n_copies"))
    scored.join(copies, "ckey")
      .withColumn("bucket", expr("stop_ratio_e4 div 1000"))
      .withColumn("is_dup", (col("n_copies") >= 2).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dup_docs"))
      .withColumn("dup_rate_e4", expr("(10000 * n_dup_docs) div n_docs"))
      .orderBy("bucket")
  }

  val qualityDupCorrSql: String = {
    val stops = TextStats.Stopwords("en").map(s => s"'$s'").mkString(",")
    s"""WITH qd AS (
       |  SELECT doc_id,
       |         ${TextStats.fpSql("lower(trim(text))")} AS ckey,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         len(list_filter(string_split(text, ' '),
       |             t -> t IN ($stops))) AS n_stop
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id, ckey,
       |         CASE WHEN n_tokens = 0 THEN 0
       |              ELSE CAST(floor(10000.0 * n_stop / n_tokens) AS BIGINT)
       |         END AS stop_ratio_e4
       |  FROM qd),
       |qc AS (SELECT ckey, CAST(count(*) AS BIGINT) AS n_copies FROM qs GROUP BY ckey),
       |qj AS (
       |  SELECT s.stop_ratio_e4 // 1000 AS bucket,
       |         CASE WHEN c.n_copies >= 2 THEN 1 ELSE 0 END AS is_dup
       |  FROM qs s JOIN qc c ON s.ckey = c.ckey)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       |       (10000 * CAST(sum(is_dup) AS BIGINT)) // count(*) AS dup_rate_e4
       |FROM qj GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---- source_quality_matrix: per-(source, lang) quality profile ----------

  /** The (source × lang) quality matrix — the detail view behind
    * source_mix and source_lang_gini: per cell, document count, token
    * mass, mean stopword ratio (floor over one double division — the
    * quality_filter score axis), and how many documents the quality
    * gate would pass. Mixing decisions read this to see WHICH language
    * slice of a source drags its quality down before reweighting or
    * dropping the whole source.
    *
    * Scale shape: one map-side-combined groupBy on the (source, lang)
    * composite key — #sources × #langs output rows; the per-doc scoring
    * is scan-side codegen arithmetic. */
  def sourceQualityMatrix(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(split(col("text"), " "))
    val nStop = TextStats.hits(TextStats.Stopwords("en"))
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"), nTok.cast("long").as("n_tokens"),
        TextStats.ratioE4(nStop, nTok).as("stop_ratio_e4"))
      .withColumn("passes", (col("n_tokens").between(MinTokens, MaxTokens) &&
        col("stop_ratio_e4") >= MinStopE4).cast("long"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        expr("CAST(floor(CAST(sum(stop_ratio_e4) AS DOUBLE) / count(1)) AS BIGINT)")
          .as("mean_stop_e4"),
        sum("passes").as("n_passing"))
      .orderBy("source", "lang")
  }

  val sourceQualityMatrixSql: String = {
    val stops = TextStats.Stopwords("en").map(s => s"'$s'").mkString(",")
    s"""WITH sq AS (
       |  SELECT source, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         len(list_filter(string_split(text, ' '),
       |             t -> t IN ($stops))) AS n_stop
       |  FROM documents),
       |sqs AS (
       |  SELECT source, lang, n_tokens,
       |         CASE WHEN n_tokens = 0 THEN 0
       |              ELSE CAST(floor(10000.0 * n_stop / n_tokens) AS BIGINT)
       |         END AS stop_ratio_e4
       |  FROM sq),
       |sqp AS (
       |  SELECT source, lang, n_tokens, stop_ratio_e4,
       |         CASE WHEN n_tokens BETWEEN $MinTokens AND $MaxTokens
       |                   AND stop_ratio_e4 >= $MinStopE4
       |              THEN 1 ELSE 0 END AS passes
       |  FROM sqs)
       |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |       CAST(floor(CAST(sum(stop_ratio_e4) AS DOUBLE) / count(*)) AS BIGINT)
       |         AS mean_stop_e4,
       |       CAST(sum(passes) AS BIGINT) AS n_passing
       |FROM sqp GROUP BY source, lang ORDER BY source, lang""".stripMargin
  }

  // ---- split_assign: dup-consistent train/val/test split ------------------

  /** Deterministic train/val/test assignment keyed on the CONTENT
    * fingerprint, not the row id: exact duplicates land in the same split
    * by construction, so a copy of a training document can never leak
    * into eval. The audit proves it: `leaked_keys` counts content keys
    * observed in more than one split — sum of per-split distinct keys
    * minus global distinct keys — and must be 0. Split thresholds:
    * bucket < 80 train, < 90 val, else test. At scale this is two
    * map-side-combined aggregations over (split, key); the distinct is
    * the same composite-key shuffle as agg_skew_distinct. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextStats.fingerprint(lower(trim(col("text")))).as("ckey"))
      .withColumn("bucket", col("ckey") % HashModPrime * HashMult % HashModPrime % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
    val perSplit = keyed.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("ckey").as("n_keys"))
    val leaked = perSplit.agg(sum("n_keys").as("sum_keys"))
      // bounded-cross: both sides 1-row aggregates
      .crossJoin(keyed.agg(countDistinct("ckey").as("tot_keys")))
      .select((col("sum_keys") - col("tot_keys")).as("leaked_keys"))
    // bounded-cross: <=3 split rows x broadcast 1-row leak count
    perSplit.crossJoin(broadcast(leaked))
      .select("split", "n_docs", "n_keys", "leaked_keys")
      .orderBy("split")
  }

  val splitAssignSql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, ${TextStats.fpSql("lower(trim(text))")} AS ckey
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, ckey,
       |         (ckey % $HashModPrime * $HashMult) % $HashModPrime % 100 AS bucket
       |  FROM keyed),
       |s AS (
       |  SELECT doc_id, ckey,
       |         CASE WHEN bucket < 80 THEN 'train'
       |              WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM b),
       |per AS (
       |  SELECT split, count(*) AS n_docs, count(DISTINCT ckey) AS n_keys
       |  FROM s GROUP BY split),
       |leak AS (
       |  SELECT CAST((SELECT sum(n_keys) FROM per) -
       |              (SELECT count(DISTINCT ckey) FROM s) AS BIGINT) AS leaked_keys)
       |SELECT split, n_docs, n_keys, leaked_keys
       |FROM per CROSS JOIN leak
       |ORDER BY split""".stripMargin

  // ---- epoch_order: deterministic global training order -------------------

  /** Deterministic per-epoch global shuffle order: every document gets an
    * exact global position in each epoch, ordered by an epoch-specific
    * multiplicative hash (epoch 0 → Mix2, epoch 1 → Mix3 — fixed
    * constants, so runs and engines agree). The position is a
    * [[Tables.globalRank]] within each epoch over (h, doc_id), not a
    * global row_number window — no single task ever sorts the corpus.
    * This is the "shuffle the corpus reproducibly per epoch" step a
    * training loader needs to slice by position range. */
  val Epochs = 2

  def epochOrder(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(sequence(lit(0L), lit((Epochs - 1).toLong))).as("epoch"))
      .withColumn("h",
        when(col("epoch") === 0,
          col("doc_id") % HashModPrime * graft.functions.HashExprs.Mix2 % HashModPrime)
          .otherwise(
            col("doc_id") % HashModPrime * graft.functions.HashExprs.Mix3 % HashModPrime))
    Tables.globalRank(base, Seq("epoch"), col("h"), col("doc_id"))
      .select(col("epoch"), col("rnk").as("pos"), col("doc_id"))
      .orderBy("epoch", "pos")
  }

  val epochOrderSql: String =
    s"""WITH e AS (
       |  SELECT doc_id, unnest(range(0, $Epochs)) AS epoch FROM documents),
       |h AS (
       |  SELECT doc_id, epoch,
       |         CASE WHEN epoch = 0
       |              THEN (doc_id % $HashModPrime * ${graft.functions.HashExprs.Mix2}) % $HashModPrime
       |              ELSE (doc_id % $HashModPrime * ${graft.functions.HashExprs.Mix3}) % $HashModPrime
       |         END AS h
       |  FROM e)
       |SELECT epoch, row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS pos,
       |       doc_id
       |FROM h ORDER BY epoch, pos""".stripMargin

  // ---- quantile_sketch: fixed-memory histogram quantiles ------------------

  /** Fixed-memory approximate quantiles with a measured error bound: a
    * QSketchBuckets-cell histogram (bucket = n_tokens div QSketchW,
    * capped) replaces the exact rank sort, the estimate is the upper
    * edge of the bucket containing the target rank, and BOTH the
    * estimate and the exact value ship in the output so the error is
    * visible, not asserted (err ∈ [0, QSketchW−1] whenever the cap is
    * not hit — the sketch twin of lang_quantiles, completing the
    * estimate-vs-truth family with hll_distinct / cms_topk /
    * minhash_est).
    *
    * Scale shape: the histogram is one map-side-combined groupBy on
    * (lang, bucket) — ≤ QSketchBuckets cells per language regardless of
    * corpus size, the whole point at 100 TB where the exact path's
    * per-language rank window must shuffle every row. The cumulative
    * walk and rank pivot run on the tiny histogram frame. The exact
    * columns reuse the shared rankedByTokens stage (at scale a
    * deployment would drop them and keep only the sketch — they are the
    * certification half of this operator, mirroring ann_recall). */
  val QSketchW = 8L
  val QSketchBuckets = 256L

  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val hist = docTokens(spark, dir)
      .select("lang", "n_tokens")
      .withColumn("b", least(lit(QSketchBuckets - 1), expr(s"n_tokens div $QSketchW")))
      .groupBy("lang", "b").agg(count(lit(1)).as("n_b"))
    val wCum = Window.partitionBy("lang").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("lang")
    val ests = hist
      .withColumn("cum", sum("n_b").over(wCum))
      .withColumn("n", sum("n_b").over(wAll))
      .groupBy("lang")
      .agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("b") * QSketchW + (QSketchW - 1)))
          .as("p50_est"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("b") * QSketchW + (QSketchW - 1)))
          .as("p90_est"))
    val exact = rankedByTokens(spark, dir)
      .groupBy("lang")
      .agg(
        max(col("n")).as("n_docs"),
        max(when(col("rnk") === expr("(n + 1) div 2"), col("n_tokens"))).as("p50_exact"),
        max(when(col("rnk") === expr("(n * 9 + 9) div 10"), col("n_tokens"))).as("p90_exact"))
    exact.join(ests, "lang")
      .select(col("lang"), col("n_docs"),
        col("p50_exact"), col("p50_est"), (col("p50_est") - col("p50_exact")).as("p50_err"),
        col("p90_exact"), col("p90_est"), (col("p90_est") - col("p90_exact")).as("p90_err"))
      .orderBy("lang")
  }

  val quantileSketchSql: String =
    s"""WITH $RankedSqlCtes,
       |hist AS (
       |  SELECT lang, least(${QSketchBuckets - 1}, n_tokens // $QSketchW) AS b,
       |         count(*) AS n_b
       |  FROM t GROUP BY lang, b),
       |cums AS (
       |  SELECT lang, b, n_b,
       |         CAST(sum(n_b) OVER (PARTITION BY lang ORDER BY b
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |         CAST(sum(n_b) OVER (PARTITION BY lang) AS BIGINT) AS n
       |  FROM hist),
       |ests AS (
       |  SELECT lang,
       |         min(CASE WHEN cum >= (n + 1) // 2
       |                  THEN b * $QSketchW + ${QSketchW - 1} END) AS p50_est,
       |         min(CASE WHEN cum >= (n * 9 + 9) // 10
       |                  THEN b * $QSketchW + ${QSketchW - 1} END) AS p90_est
       |  FROM cums GROUP BY lang),
       |exact AS (
       |  SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
       |         max(CASE WHEN rnk = (n + 1) // 2 THEN n_tokens END) AS p50_exact,
       |         max(CASE WHEN rnk = (n * 9 + 9) // 10 THEN n_tokens END) AS p90_exact
       |  FROM r GROUP BY lang)
       |SELECT e.lang, n_docs,
       |       p50_exact, p50_est, p50_est - p50_exact AS p50_err,
       |       p90_exact, p90_est, p90_est - p90_exact AS p90_err
       |FROM exact e JOIN ests s ON e.lang = s.lang
       |ORDER BY e.lang""".stripMargin

  // ---- quantile_merge: histogram-sketch mergeability certification --------

  /** Cell-wise MERGE of per-source token-length histograms into the
    * global quantile sketch — the property that makes the fixed-memory
    * histogram the 100 TB quantile answer: per-shard/per-source/per-day
    * histograms combine by cell-wise SUM into exactly the histogram a
    * single global pass would build (counts are associative), so
    * quantile estimates re-aggregate across any partitioning of the
    * corpus without a re-scan. The hll_merge certification pattern,
    * applied to the second sketch family: the SPARK side computes the
    * 'ALL' row by summing the per-source cell counts (never re-touching
    * documents), the ORACLE builds the global histogram directly from
    * the base table — hash equality is the numeric proof of the merge
    * identity.
    *
    * Scale shape: one map-side-combined (source, cell) groupBy — at most
    * sources × QSketchBuckets rows shuffle — then a cell-keyed rollup of
    * that tiny frame; estimates are the standard cumulative-window read
    * over ≤ QSketchBuckets rows per scope. */
  def quantileMerge(spark: SparkSession, dir: String): DataFrame = {
    val hist = docTokens(spark, dir)
      .select("source", "n_tokens")
      .withColumn("b", least(lit(QSketchBuckets - 1), expr(s"n_tokens div $QSketchW")))
      .groupBy("source", "b").agg(count(lit(1)).as("n_b"))
    // THE merge: cell-wise sum of the per-source sketches
    val merged = hist.groupBy("b").agg(sum("n_b").as("n_b"))
      .withColumn("scope", lit("ALL"))
    val all = hist.select(col("source").as("scope"), col("b"), col("n_b"))
      .unionByName(merged.select("scope", "b", "n_b"))
    val wCum = Window.partitionBy("scope").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, 0)
    all
      .withColumn("cum", sum("n_b").over(wCum))
      .withColumn("n", sum("n_b").over(Window.partitionBy("scope")))
      .groupBy("scope")
      .agg(max("n").as("n_docs"),
        min(when(col("cum") >= expr("(n + 1) div 2"),
          col("b") * QSketchW + (QSketchW - 1))).as("p50_est"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"),
          col("b") * QSketchW + (QSketchW - 1))).as("p90_est"))
      .orderBy("scope")
  }

  val quantileMergeSql: String =
    s"""WITH qmt AS (
       |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |qmh AS (
       |  SELECT source AS scope,
       |         least(${QSketchBuckets - 1}, n_tokens // $QSketchW) AS b,
       |         CAST(count(*) AS BIGINT) AS n_b
       |  FROM qmt GROUP BY source, b
       |  UNION ALL
       |  SELECT 'ALL' AS scope,
       |         least(${QSketchBuckets - 1}, n_tokens // $QSketchW) AS b,
       |         CAST(count(*) AS BIGINT) AS n_b
       |  FROM qmt GROUP BY b),
       |qmc AS (
       |  SELECT scope, b, n_b,
       |         CAST(sum(n_b) OVER (PARTITION BY scope ORDER BY b
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |         CAST(sum(n_b) OVER (PARTITION BY scope) AS BIGINT) AS n
       |  FROM qmh)
       |SELECT scope, CAST(max(n) AS BIGINT) AS n_docs,
       |       min(CASE WHEN cum >= (n + 1) // 2
       |                THEN b * $QSketchW + ${QSketchW - 1} END) AS p50_est,
       |       min(CASE WHEN cum >= (n * 9 + 9) // 10
       |                THEN b * $QSketchW + ${QSketchW - 1} END) AS p90_est
       |FROM qmc GROUP BY scope
       |ORDER BY scope""".stripMargin

  // ---- source_lang_gini: per-source language diversity --------------------

  /** Language diversity per source, scored by Gini impurity — 1 − Σpᵢ²,
    * the log-free diversity measure (a Shannon entropy would drag a
    * non-bit-portable ln() across the oracle boundary; Gini is a pure
    * ratio of integer moments and ranks the same way). The mixing-QA
    * twin of mix_temperature: before reweighting sources, know which
    * ones are monolingual and which are genuinely mixed. Two
    * map-side-combined groupBys — (source, lang) then source — with the
    * squared count accumulating in DECIMAL(38,0) (a Long n² wraps past
    * ~3e9 docs per language at corpus scale); only per-source scalars
    * leave the executors. */
  def sourceLangGini(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum("n").as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("n").cast("decimal(38,0)") * col("n")).as("s2"))
      .withColumn("gini_e6", expr(
        """CAST(floor(1.0e6 * (CAST(n_docs AS DOUBLE) * n_docs - CAST(s2 AS DOUBLE))
          | / (CAST(n_docs AS DOUBLE) * n_docs)) AS BIGINT)""".stripMargin))
      .select("source", "n_docs", "n_langs", "gini_e6")
      .orderBy("source")

  val sourceLangGiniSql: String =
    """WITH g AS (
      |  SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang),
      |s AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
      |         CAST(count(*) AS BIGINT) AS n_langs,
      |         sum(CAST(n AS HUGEINT) * n) AS s2
      |  FROM g GROUP BY source)
      |SELECT source, n_docs, n_langs,
      |       CAST(floor(1.0e6 * (CAST(n_docs AS DOUBLE) * n_docs - CAST(s2 AS DOUBLE))
      |        / (CAST(n_docs AS DOUBLE) * n_docs)) AS BIGINT) AS gini_e6
      |FROM s ORDER BY source""".stripMargin

  // ---- padding_waste: length-bucketed batch padding planner ---------------

  /** Pad-to-multiple batching efficiency: when sequences are batched by
    * length bucket (pad every doc up to the next PadMultiple tokens,
    * truncate at PadMax), how many padding tokens does each bucket burn
    * and how much text falls off the end — the planner a training stack
    * consults BEFORE fixing its bucket boundaries (the complement of
    * pack_sequences, which eliminates padding by packing; this measures
    * what NOT packing costs). Pure integer arithmetic end-to-end; one
    * map-side-combined groupBy on ≤ PadMax/PadMultiple bucket keys. */
  val PadMultiple = 16L
  val PadMax = 512L

  def paddingWaste(spark: SparkSession, dir: String): DataFrame =
    docTokens(spark, dir)
      .select("n_tokens")
      .withColumn("padded_len", expr(
        s"least($PadMax, ((n_tokens + ${PadMultiple - 1}) div $PadMultiple) * $PadMultiple)"))
      .withColumn("kept", least(col("n_tokens"), lit(PadMax)))
      .groupBy("padded_len")
      .agg(count(lit(1)).as("n_docs"),
        sum("kept").as("sum_tokens"),
        sum(col("n_tokens") - col("kept")).as("sum_truncated"))
      .withColumn("sum_padded", col("padded_len") * col("n_docs"))
      .withColumn("waste_e4", expr(
        "CAST(floor(1.0e4 * (sum_padded - sum_tokens) / sum_padded) AS BIGINT)"))
      .select("padded_len", "n_docs", "sum_tokens", "sum_padded",
        "sum_truncated", "waste_e4")
      .orderBy("padded_len")

  val paddingWasteSql: String =
    s"""WITH t AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |b AS (
       |  SELECT least($PadMax, ((n_tokens + ${PadMultiple - 1}) // $PadMultiple) * $PadMultiple)
       |           AS padded_len,
       |         least(n_tokens, $PadMax) AS kept,
       |         n_tokens - least(n_tokens, $PadMax) AS trunc
       |  FROM t),
       |g AS (
       |  SELECT padded_len, count(*) AS n_docs,
       |         CAST(sum(kept) AS BIGINT) AS sum_tokens,
       |         CAST(sum(trunc) AS BIGINT) AS sum_truncated
       |  FROM b GROUP BY padded_len)
       |SELECT padded_len, n_docs, sum_tokens,
       |       padded_len * n_docs AS sum_padded, sum_truncated,
       |       CAST(floor(1.0e4 * (padded_len * n_docs - sum_tokens)
       |            / (padded_len * n_docs)) AS BIGINT) AS waste_e4
       |FROM g ORDER BY padded_len""".stripMargin

  // ---- source_cap: per-source document cap (salted two-phase top-K) -------

  /** Per-source cap: keep at most CapK documents per source, chosen
    * deterministically as the K smallest (fingerprint, doc_id) — the
    * C4-lineage "cap any one domain's share of the corpus"
    * pseudo-random-but-reproducible selection. The SEMANTICS are one
    * row_number per source (what the oracle states); the PLAN must not
    * be, because source cardinality is tiny against corpus size — a
    * window partitioned by source alone funnels a hot source's entire
    * slice through one task. So selection is two-phase min-K: rank
    * within (source, salt = fp mod CapSalts) and keep the local top
    * CapK — sound by pigeonhole, since any global-top-K row is top-K in
    * its own salt cell — then rank the ≤ CapSalts·CapK survivors per
    * source. Phase 1's sort key spreads over CapSalts× more reducers
    * (sized to task granularity at 100 TB, 4 here to demonstrate the
    * shape); phase 2's window input is bounded by constants, not data.
    * The ledger proves the selection: fp_sum/fp_threshold pin WHICH
    * docs were kept, not just how many. */
  val CapK = 15
  val CapSalts = 4L

  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextStats.fingerprint(col("text")).as("fp"))
    val local = docs
      .withColumn("salt", col("fp") % CapSalts)
      .withColumn("local_rn", row_number().over(
        Window.partitionBy("source", "salt").orderBy("fp", "doc_id")))
      .where(col("local_rn") <= CapK)
    val kept = local
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("fp", "doc_id")))
      .where(col("rn") <= CapK)
    val totals = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    kept.groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum("fp").as("kept_fp_sum"),
        max("fp").as("fp_threshold"))
      .join(totals, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("kept_fp_sum"), col("fp_threshold"))
      .orderBy("source")
  }

  val sourceCapSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, ${TextStats.fpSql("text")} AS fp FROM documents),
       |r AS (
       |  SELECT source, fp, doc_id,
       |         row_number() OVER (PARTITION BY source ORDER BY fp, doc_id) AS rn
       |  FROM d),
       |k AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |         CAST(sum(fp) AS BIGINT) AS kept_fp_sum,
       |         max(fp) AS fp_threshold
       |  FROM r WHERE rn <= $CapK GROUP BY source),
       |t AS (SELECT source, count(*) AS n_docs FROM d GROUP BY source)
       |SELECT t.source, n_docs, n_kept,
       |       n_docs - n_kept AS n_dropped, kept_fp_sum, fp_threshold
       |FROM t JOIN k ON t.source = k.source
       |ORDER BY t.source""".stripMargin

  // ---- ccnet_bucket: head/middle/tail LM-proxy quality terciles -----------

  /** CCNet-style corpus bucketing (Wenzek et al. 2020 §4.4): score every
    * document with a wellformedness proxy, rank the corpus globally, and
    * cut it into head / middle / tail terciles — the split CCNet ships as
    * its quality axis (head = most fluent, trained on first). The LM
    * perplexity of the paper is replaced by the engine's log-free df
    * proxy (the doc_rarity precedent): per document, the tf-weighted mean
    * power-of-2 rarity bucket of its tokens' corpus document frequencies,
    * in e4 ticks — integer-exact, no float log, same monotone ordering
    * signal. Output is the per (source × tercile) doc count and token
    * mass: the table a curator reads to see which sources concentrate in
    * the tail before sequencing training mixes.
    *
    * Scale shape: rides the memoized [[Ngrams.tfFrame]]; token df is one
    * map-side-combined groupBy on the token, the doc score one keyed join
    * + groupBy(doc) over (tok, tf) rows, and the global tercile is a
    * [[Tables.globalRank]] — never a single-partition sort. Final rollup
    * ≤ sources×3 keys. */
  val CcnetDfBuckets = 32

  private def ccnetDfBucketCase(dfCol: String): String =
    (0 until CcnetDfBuckets).map { k =>
      val hi = (1L << (k + 1)) - 1
      if (k == CcnetDfBuckets - 1) s"ELSE $k"
      else s"WHEN $dfCol <= $hi THEN $k"
    }.mkString("CASE ", " ", " END")

  /** Per-document CCNet tercile (doc_id, score_e4, tercile) — the
    * source×tercile rollup (ccnetBucket) and the cross-gate ablation
    * (filterAblation) read the SAME per-doc frame.
    *
    * Memoized because both consumers would pay the full df-bucket scoring
    * + global rank chain independently; the frame is three
    * longs per document, so one build serves both. */
  private[ops] def ccnetDocTercile(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"pipeline.ccnetTercile:$dir") {
      ccnetDocTercileBuild(spark, dir)
    }

  private def ccnetDocTercileBuild(spark: SparkSession, dir: String): DataFrame = {
    val tf = Ngrams.tfFrame(spark, dir)
    val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfT, "tok")
      .withColumn("b", expr(ccnetDfBucketCase("df")).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("b")).as("wsum"), sum("tf").as("tf_sum"))
      .select(col("doc_id"),
        when(col("tf_sum") === 0, 0L)
          .otherwise(floor(lit(10000.0) * col("wsum") / col("tf_sum")).cast("long"))
          .as("score_e4"))
    // exact global rank: head = highest mean-df (most fluent)
    Tables.globalRank(scored, Nil, col("score_e4").desc, col("doc_id"))
      .withColumn("tercile", expr("(rnk - 1) * 3 div n_total + 1"))
      .select("doc_id", "score_e4", "tercile")
  }

  def ccnetBucket(spark: SparkSession, dir: String): DataFrame = {
    ccnetDocTercile(spark, dir)
      .join(docTokens(spark, dir).select("doc_id", "source", "n_tokens"), "doc_id")
      .groupBy("source", "tercile")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        min("score_e4").as("min_score_e4"), max("score_e4").as("max_score_e4"))
      .orderBy("source", "tercile")
  }

  /** Oracle CTE chain ending in `cb` = per-doc CCNet tercile (doc_id,
    * score_e4, tercile) — shared by the ccnet_bucket rollup and
    * filter_ablation. */
  private[ops] def CcnetTercileCtes: String =
    s"""cx AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
       |  FROM documents),
       |ctf AS (SELECT doc_id, tok, count(*) AS tf FROM cx GROUP BY doc_id, tok),
       |cdf AS (SELECT tok, count(*) AS df FROM ctf GROUP BY tok),
       |cs AS (
       |  SELECT doc_id,
       |         CASE WHEN sum(tf) = 0 THEN 0
       |              ELSE CAST(floor(10000.0 *
       |                sum(tf * (${ccnetDfBucketCase("df")}))
       |                / sum(tf)) AS BIGINT)
       |         END AS score_e4
       |  FROM ctf JOIN cdf USING (tok) GROUP BY doc_id),
       |cr AS (
       |  SELECT doc_id, score_e4,
       |         CAST(row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS BIGINT) AS rnk,
       |         CAST(count(*) OVER () AS BIGINT) AS n_total
       |  FROM cs),
       |cb AS (
       |  SELECT doc_id, score_e4, (rnk - 1) * 3 // n_total + 1 AS tercile
       |  FROM cr)""".stripMargin

  val ccnetBucketSql: String =
    s"""WITH $CcnetTercileCtes,
       |cd AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT source, tercile, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |       min(score_e4) AS min_score_e4, max(score_e4) AS max_score_e4
       |FROM cb JOIN cd USING (doc_id)
       |GROUP BY source, tercile ORDER BY source, tercile""".stripMargin

  // ---- filter_ablation: quality-gate agreement / ablation matrix ----------

  /** Cross-gate ablation matrix over the three independent quality
    * gates the engine ships — Gopher rules (row 177), a Flesch
    * readability split (row 200, flesch_e3 ≥ 50000 = "readable"), and
    * the CCNet head tercile (row 178) — one cell per (gopher_pass,
    * flesch_easy, ccnet_head) combination with document count and token
    * mass: the curation question this answers is MARGINAL value ("what
    * does adding the readability gate remove that Gopher didn't
    * already?") and gate agreement, which no single-gate rollup shows.
    * Every per-doc gate frame is the SAME frame its own rollup reads
    * (gopherFlags / fleschE3Col / ccnetDocTercile), so the ablation
    * cannot drift from the shipped gates.
    *
    * Scale shape: three per-doc gate frames joined on doc_id (the
    * heaviest — ccnet — is rank-based and already range-partitioned),
    * rolled to ≤ 8 cells map-side. */
  def filterAblation(spark: SparkSession, dir: String): DataFrame = {
    // One documents pass for three of the four gates: the
    // Gopher flags frame carries the raw-split token count and the
    // Flesch score off the same scan, so the former docTokens ⋈ gopher
    // ⋈ flesch three-way doc_id join collapses into one frame — only
    // the CCNet tercile (a genuinely different, globally-ranked frame)
    // still joins. The readability and token-count definitions are the
    // shared ones (TextStats.fleschE3Col / the docTokens split), so the
    // gate arithmetic cannot drift; the join domain is unchanged
    // (docTokens and the flesch projection were full-corpus supersets
    // of the gopher ⋈ tercile intersection).
    val g = graft.ops.TextStats.gopherFlags(spark, dir)
      .select(col("doc_id"), col("n_tokens"),
        (col("f_wc") + col("f_wlen") + col("f_stop") + col("f_dom") === 0)
          .cast("long").as("g_pass"),
        (col("flesch_e3") >= 50000L).cast("long").as("r_easy"))
    val c = ccnetDocTercile(spark, dir)
      .select(col("doc_id"), (col("tercile") === 1).cast("long").as("c_head"))
    g.join(c, "doc_id")
      .groupBy("g_pass", "r_easy", "c_head")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .orderBy("g_pass", "r_easy", "c_head")
  }

  def filterAblationSql: String =
    s"""WITH ${graft.ops.TextStats.GopherFlagsCtes},
       |${graft.ops.TextStats.FleschCtes},
       |$CcnetTercileCtes,
       |ad AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |gates AS (
       |  SELECT ad.doc_id, ad.n_tokens,
       |         CASE WHEN gf.f_wc + gf.f_wlen + gf.f_stop + gf.f_dom = 0
       |              THEN 1 ELSE 0 END AS g_pass,
       |         CASE WHEN fsc.flesch_e3 >= 50000 THEN 1 ELSE 0 END AS r_easy,
       |         CASE WHEN cb.tercile = 1 THEN 1 ELSE 0 END AS c_head
       |  FROM ad
       |  JOIN gf ON gf.doc_id = ad.doc_id
       |  JOIN fsc ON fsc.doc_id = ad.doc_id
       |  JOIN cb ON cb.doc_id = ad.doc_id)
       |SELECT CAST(g_pass AS BIGINT) AS g_pass,
       |       CAST(r_easy AS BIGINT) AS r_easy,
       |       CAST(c_head AS BIGINT) AS c_head,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM gates GROUP BY g_pass, r_easy, c_head
       |ORDER BY g_pass, r_easy, c_head""".stripMargin
}
