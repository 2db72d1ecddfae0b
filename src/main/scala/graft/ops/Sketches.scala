package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Cardinality sketching (SURVEY.md §2 row 55): a deterministic
  * HyperLogLog re-expressed as two partial-aggregating groupBys.
  *
  * At 100 TB, "how many distinct X per group" is the first question every
  * corpus report asks, and exact distinct is a full shuffle of the key
  * space. HLL is the standard answer: per (group, bucket) keep only the
  * max rank — fixed sketch memory per group (m buckets), both
  * aggregations map-side combine, and the merge is associative so the
  * same plan computes incrementally over new partitions.
  *
  * Engine-portable hashing: production Spark would use `xxhash64`, but no
  * other engine reproduces it bit-for-bit, so the driver's DuckDB gate
  * could not verify it. Instead the hash family is the same
  * prime-modulus affine mix the shard router and LSH stages use
  * (pairwise-independent; Mersenne prime 2^31−1), and the geometric rank
  * is the trailing-zero count of the mixed value, extracted with pure
  * int64 ops: t = h & −h isolates the lowest set bit, and t mod 37 is a
  * perfect hash of the 31 possible powers of two (2 generates the
  * multiplicative group mod 37), decoded by a generated CASE — identical
  * SQL text runs on both engines.
  *
  * The estimator is the raw HLL harmonic mean with α_64 fixed at
  * AlphaE6·1e-6 (709337e-6); no small-range (linear counting) correction, because
  * that needs ln(), whose last-ulp rounding is not guaranteed identical
  * across engines — the bias below ~2.5·m distinct values is accepted
  * and visible in the emitted err_e4 column. All power-of-2 terms are
  * exact int64 (2^(40−rho)), and the one float division sequence is
  * written with identical literal text on both sides.
  */
object Sketches {

  val HllP: Long = TextStats.FpMod // 2^31 − 1, same modulus as the fingerprints
  val HllM1: Long = graft.functions.HashExprs.Mix1 // bucket mix
  val HllM2: Long = graft.functions.HashExprs.Mix2 // rank mix
  val HllBuckets = 64
  val AlphaE6 = 709337L   // 0.7213 / (1 + 1.079/64), e6 fixed point

  /** Generated CASE decoding 2^k → k for k in [0, 30] via t mod 37. */
  def tzCaseSql(e: String): String = {
    val whens = (0 to 30)
      .map(k => s"WHEN ${(BigInt(2).pow(k) % 37)} THEN $k").mkString(" ")
    s"CASE (($e) & -($e)) % 37 $whens END"
  }

  /** Geometric rank: trailing zeros of the 31-bit mix + 1; all-zero → 32. */
  def rhoSql(e: String): String =
    s"CASE WHEN ($e) = 0 THEN 32 ELSE (${tzCaseSql(e)}) + 1 END"

  // identical float math on both engines: alpha * m^2 * 2^40 / S, e6
  // scaled. Scientific notation, NOT decimal-point literals: both engines
  // parse `4.5e15` as DOUBLE, while DuckDB types `4503599627370496.0` as
  // DECIMAL(18,1) and overflows multiplying it.
  private val estSql =
    s"CAST(floor($AlphaE6 * 4.503599627370496e15 / s_total / 1.0e6) AS BIGINT)"
  private val errSql =
    "CAST(floor(1.0e4 * abs(hll_est - n_exact) / n_exact) AS BIGINT)"

  // ---- hll_distinct -------------------------------------------------------

  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mix2 = s"event_id % $HllP * $HllM2 % $HllP"
    val sketch = ev
      .select(col("event_type"),
        expr(s"event_id % $HllP * $HllM1 % $HllP % $HllBuckets").as("bucket"),
        expr(rhoSql(mix2)).as("rho"))
      .groupBy("event_type", "bucket")
      .agg(max("rho").as("rho_max"))
      .groupBy("event_type")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(40 - rho_max AS INT))"))
        .as("s_present"),
        count(lit(1)).as("n_buckets"))
      .withColumn("s_total",
        col("s_present") + (lit(HllBuckets.toLong) - col("n_buckets")) * lit(1L << 40))
      .withColumn("hll_est", expr(estSql))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("event_id").as("n_exact"))
    sketch.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("hll_est"),
        expr(errSql).as("err_e4"))
      .orderBy("event_type")
  }

  // ---- cms_topk -----------------------------------------------------------

  /** Count-min sketch over the token stream, read back for the exact
    * top-K tokens. Depth 3 (one row per shared mix multiplier), width
    * 1024: the sketch is AT MOST 3×1024 cells no matter the corpus size —
    * that bound is the whole point at 100 TB, where an exact token count
    * table has vocabulary cardinality but the sketch stays resident in
    * one broadcast. Build = union of the three (row, position, weight)
    * projections → one map-side-combined groupBy on (row, pos); reading
    * an estimate = min over the three cells, always ≥ the true count, so
    * the emitted over_n column is provably non-negative and shows the
    * collision overcount directly. Token weights come from the memoized
    * tf frame the TF-IDF pass already shares. */
  val CmsWidth = 1024L
  val CmsTopK = 20

  private val CmsMixes = Seq(
    1L -> graft.functions.HashExprs.Mix1,
    2L -> graft.functions.HashExprs.Mix2,
    3L -> graft.functions.HashExprs.Mix3)

  /** Global token counts + fingerprint, memoized (shared by the sketch
    * build, both readbacks, and the top-K). */
  private def tokN(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memoPersist(spark, s"sketches.tokn:$dir") {
      Ngrams.tokenCounts(spark, dir)
        .withColumn("th", TextStats.fingerprint(col("tok")))
    }

  /** Top-K exact tokens read back against a (row_idx, pos, cell) sketch:
    * estimate = min over the three row cells, always ≥ exact. */
  private def cmsReadback(spark: SparkSession, dir: String,
      cells: DataFrame): DataFrame = {
    val top = tokN(spark, dir).orderBy(col("n").desc, col("tok")).limit(CmsTopK)
    val joined = CmsMixes.foldLeft(top) { case (acc, (j, m)) =>
      acc.join(broadcast(
        cells.where(col("row_idx") === j)
          .select((col("pos")).as(s"p$j"), col("cell").as(s"c$j"))),
        col("th") * m % TextStats.FpMod % CmsWidth === col(s"p$j"))
    }
    joined
      .withColumn("cms_n", least(col("c1"), col("c2"), col("c3")))
      .select(col("tok"), col("n").as("exact_n"), col("cms_n"),
        (col("cms_n") - col("n")).as("over_n"))
      .orderBy(col("exact_n").desc, col("tok"))
  }

  def cmsTopk(spark: SparkSession, dir: String): DataFrame = {
    val cells = CmsMixes.map { case (j, m) =>
      tokN(spark, dir).select(lit(j).as("row_idx"),
        (col("th") * m % TextStats.FpMod % CmsWidth).as("pos"), col("n"))
    }.reduce(_ union _)
      .groupBy("row_idx", "pos").agg(sum("n").as("cell"))
    cmsReadback(spark, dir, cells)
  }

  // ---- cms_merge: count-min-sketch linearity certification ----------------

  /** Cell-wise SUM-merge of per-source count-min sketches into the
    * global sketch — the third member of the sketch-algebra trilogy
    * (hll_merge: register max; quantile_merge: histogram sum; here: CMS
    * is LINEAR, Σ_sources CMS(source) = CMS(corpus) cell for cell, so
    * per-shard sketches re-aggregate and even subtract for corpus
    * diffs). The SPARK side builds one sketch per source from
    * source-scoped token counts and merges them; the ORACLE is the
    * direct global build (cms_topk's own SQL verbatim) — hash equality
    * on the top-K readback through the MERGED sketch is the numeric
    * proof of linearity.
    *
    * Scale shape: the per-source sketch frame is ≤ sources × 3 × 1024
    * rows; everything upstream is the map-side-combined token
    * aggregation the CMS family already pays. */
  def cmsMerge(spark: SparkSession, dir: String): DataFrame = {
    val srcTok = Ngrams.tfFrame(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source", "tok").agg(sum("tf").as("n"))
      .withColumn("th", TextStats.fingerprint(col("tok")))
    val srcCells = CmsMixes.map { case (j, m) =>
      srcTok.select(col("source"), lit(j).as("row_idx"),
        (col("th") * m % TextStats.FpMod % CmsWidth).as("pos"), col("n"))
    }.reduce(_ union _)
      .groupBy("source", "row_idx", "pos").agg(sum("n").as("cell"))
    // THE merge: cell-wise sum of the per-source sketches
    val merged = srcCells.groupBy("row_idx", "pos").agg(sum("cell").as("cell"))
    cmsReadback(spark, dir, merged)
  }

  /** Oracle: the DIRECT global sketch (cms_topk's SQL, verbatim) — the
    * Spark side must reproduce it from the per-source merge exactly. */
  def cmsMergeSql: String = cmsTopkSql

  val cmsTopkSql: String = {
    val posOf = (m: Long) => s"th * $m % ${TextStats.FpMod} % $CmsWidth"
    val rows = CmsMixes.map { case (j, m) =>
      s"SELECT n, $j AS row_idx, ${posOf(m)} AS pos FROM h"
    }.mkString("\n    UNION ALL ")
    s"""WITH ${Ngrams.TokenCountsCtes},
       |h AS (
       |  SELECT tok, n, ${TextStats.fpSql("tok")} AS th FROM tn),
       |cells AS (
       |  SELECT row_idx, pos, CAST(sum(n) AS BIGINT) AS cell FROM (
       |    $rows) u
       |  GROUP BY row_idx, pos),
       |top AS (SELECT tok, n, th FROM h ORDER BY n DESC, tok LIMIT $CmsTopK)
       |SELECT t.tok, t.n AS exact_n,
       |       least(c1.cell, c2.cell, c3.cell) AS cms_n,
       |       least(c1.cell, c2.cell, c3.cell) - t.n AS over_n
       |FROM top t
       |JOIN cells c1 ON c1.row_idx = 1 AND c1.pos = t.${posOf(CmsMixes(0)._2)}
       |JOIN cells c2 ON c2.row_idx = 2 AND c2.pos = t.${posOf(CmsMixes(1)._2)}
       |JOIN cells c3 ON c3.row_idx = 3 AND c3.pos = t.${posOf(CmsMixes(2)._2)}
       |ORDER BY exact_n DESC, tok""".stripMargin
  }

  val hllDistinctSql: String = {
    val mix2 = s"event_id % $HllP * $HllM2 % $HllP"
    s"""WITH b AS (
       |  SELECT event_type,
       |         event_id % $HllP * $HllM1 % $HllP % $HllBuckets AS bucket,
       |         ${rhoSql(mix2)} AS rho
       |  FROM events),
       |m AS (
       |  SELECT event_type, bucket, max(rho) AS rho_max
       |  FROM b GROUP BY event_type, bucket),
       |s AS (
       |  SELECT event_type,
       |         CAST(sum(CAST(1 AS BIGINT) << CAST(40 - rho_max AS INT)) AS BIGINT) AS s_present,
       |         count(*) AS n_buckets
       |  FROM m GROUP BY event_type),
       |e AS (
       |  SELECT event_type,
       |         s_present + ($HllBuckets - n_buckets) * (CAST(1 AS BIGINT) << 40) AS s_total
       |  FROM s),
       |est AS (
       |  SELECT event_type, $estSql AS hll_est FROM e),
       |x AS (
       |  SELECT event_type, count(DISTINCT event_id) AS n_exact
       |  FROM events GROUP BY event_type)
       |SELECT est.event_type, x.n_exact, est.hll_est, $errSql AS err_e4
       |FROM est JOIN x ON est.event_type = x.event_type
       |ORDER BY est.event_type""".stripMargin
  }

  // ---- hll_merge: sketch mergeability certification -----------------------

  /** Register-wise MERGE of per-group HLL sketches, certified against a
    * directly-built global sketch — the property that makes HLL the
    * 100 TB distinct-count answer: per-partition/per-shard/per-day
    * sketches combine by bucket-wise max into exactly the sketch a
    * single global pass would build (max is associative/commutative/
    * idempotent), so distinct counts distribute, re-aggregate across
    * time windows, and never double-count.
    *
    * The certification is cross-engine: the SPARK side computes the
    * 'ALL' row by MERGING the per-event_type registers (groupBy bucket,
    * max of per-group maxima — never touching raw rows again), while
    * the ORACLE builds the 'ALL' registers directly from the base table.
    * Hash equality between the two IS the numeric proof of the merge
    * identity. Per-type rows (elements = user_id, which overlap heavily
    * across types) ride along, so the output also shows why naive
    * per-group estimate SUMS over-count while the merge does not.
    *
    * Scale shape: one scan → (type, bucket) partial maxima with map-side
    * combine (≤ types × 64 rows shuffle); the merge is a second groupBy
    * over that tiny frame. The exact countDistinct columns are the
    * verification affordance, not the scale path. */
  /** Per-(event_type, bucket) HLL register maxima over user_id — the
    * sketch state itself, factored so the BATCH merge certification
    * (hll_merge) and the STREAMING twin (HllStreamSpec) aggregate the
    * selfsame frame: `max` is a streaming-safe aggregate, so this exact
    * declaration runs unmodified under readStream with bounded state
    * (≤ types × HllBuckets rows), which is the incremental-sketch
    * serving path at 100 TB. */
  private[graft] def hllUserRegisters(ev: DataFrame): DataFrame = {
    val mix2 = s"user_id % $HllP * $HllM2 % $HllP"
    ev.select(col("event_type"),
        expr(s"user_id % $HllP * $HllM1 % $HllP % $HllBuckets").as("bucket"),
        expr(rhoSql(mix2)).as("rho"))
      .groupBy("event_type", "bucket")
      .agg(max("rho").as("rho_max"))
  }

  def hllMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val regs = hllUserRegisters(ev)
    def estimate(byGroup: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
      byGroup
        .groupBy(key.as("scope"))
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(40 - rho_max AS INT))"))
          .as("s_present"),
          count(lit(1)).as("n_buckets"))
        .withColumn("s_total",
          col("s_present") + (lit(HllBuckets.toLong) - col("n_buckets")) * lit(1L << 40))
        .withColumn("hll_est", expr(estSql))
        .select("scope", "hll_est")
    val perType = estimate(regs, col("event_type"))
      .join(ev.groupBy(col("event_type").as("scope"))
        .agg(countDistinct("user_id").as("n_exact")), Seq("scope"))
    // THE merge: bucket-wise max of the per-group registers
    val mergedRegs = regs.groupBy("bucket").agg(max("rho_max").as("rho_max"))
    val merged = estimate(mergedRegs, lit("ALL"))
      // bounded-cross: 1-row merged estimate x 1-row exact count
      .crossJoin(ev.agg(countDistinct("user_id").as("n_exact")))
    perType.unionByName(merged)
      .select(col("scope"), col("n_exact"), col("hll_est"),
        expr(errSql).as("err_e4"))
      .orderBy("scope")
  }

  // ---- kmv_overlap: bottom-k distinct sketch with set-operation algebra ----

  /** K-minimum-values sketch size. 128 ≪ the ~900 distinct shingles per
    * source at sf0.1, so the estimate is a genuine sketch readback, not a
    * disguised exact count; the whole sketch table is sources × K rows. */
  val KmvK = 128
  /** First-phase salt classes for the distributed bottom-K (see below). */
  val KmvSalt = 32

  /** KMV (bottom-k) distinct sketch per source over the corpus's bigram
    * shingles, with the SET-OPERATION algebra HLL cannot express
    * (Beyer et al., SIGMOD'07 "On synopses for distinct-value estimation
    * under multiset operations"): for every source pair, the union KMV
    * sketch is the bottom-K of the two sketches' merge, the union
    * estimate is (K−1)·M / v_K (v_K = the merged Kth minimum, M = the
    * hash modulus), and the intersection rides the SAME sketch — count
    * the merged bottom-K members present in BOTH source sketches (the
    * membership test is sound because the merged Kth minimum is ≤ each
    * side's own Kth minimum). HLL registers (row 55/167) union but
    * never intersect; KMV is the mergeable-sketch answer to "how much
    * does source A's content overlap source B's" when the exact pair
    * matrix (row 79's shape) is unaffordable — at 100 TB the exact
    * matrix shuffles the corpus per pair, while the KMV answer reads
    * sources × K int64s for ALL pairs at once.
    *
    * Distributed bottom-K: a single per-source window would sort every
    * source's full distinct-shingle set on one task; instead phase 1
    * ranks within (source, h mod Salt) — map-side-partitionable, K rows
    * kept per salt class — bounding phase 2's true per-source window to
    * ≤ Salt·K candidate rows regardless of corpus size (the global K
    * smallest are each among their salt class's K smallest). KmvSpec
    * pins two-phase ≡ single-window on sf0.001; the ORACLE uses the
    * single window, so the oracle hash match re-proves it per run.
    *
    * Estimator arithmetic is all-int64 except the one division, written
    * with identical literal text on both engines (127 · 2.147483647e9 is
    * an exact double product; the division is a single IEEE op).
    *
    * DEFAULT row = sketch columns only: the 100 TB read is sources × K
    * int64s after the one distinct-shingle scan that builds the
    * sketches. The exact union/intersection compare (hll_distinct's
    * n_exact pattern — it self-joins the distinct (source, h) frame and
    * re-aggregates per-source distinct counts, work that dwarfs the
    * sketch it certifies at corpus scale) is quarantined behind the
    * `kmv_overlap_audit` opt-in key, the rows-160/173/179 expanded-
    * contract precedent applied to a verification affordance. */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame =
    kmvEstimates(spark, dir)
      .select(col("source_a"), col("source_b"), col("m"),
        col("kmv_union"), col("kmv_inter"), col("kmv_jacc_e4"))
      .orderBy("source_a", "source_b")

  /** Sketch estimates per source pair (shared by the default row and the
    * exact-audit opt-in): bottom-K per source (two-phase), pair-merged
    * bottom-K, union/intersection/Jaccard estimators. */
  private def kmvEstimates(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val srcSh = kmvSrcSh(spark, dir)
    val w1 = Window.partitionBy(col("source"), pmod(col("h"), lit(KmvSalt.toLong)))
      .orderBy("h")
    val w2 = Window.partitionBy("source").orderBy("h")
    val sk = srcSh
      .withColumn("r1", row_number().over(w1)).where(col("r1") <= KmvK).drop("r1")
      .withColumn("rk", row_number().over(w2)).where(col("rk") <= KmvK)
      .select("source", "h")
    val srcs = srcSh.select("source").distinct()
    // merged pair sketch: every sketch row fans out to its pairs with the
    // OTHER sources (broadcast nested-loop over the tiny source list),
    // then per-(pair, h) membership flags collapse duplicates
    val fromA = sk.select(col("source").as("source_a"), col("h"))
      .join(broadcast(srcs.select(col("source").as("source_b"))),
        col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("h"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
    val fromB = sk.select(col("source").as("source_b"), col("h"))
      .join(broadcast(srcs.select(col("source").as("source_a"))),
        col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("h"),
        lit(0L).as("in_a"), lit(1L).as("in_b"))
    val merged = fromA.unionByName(fromB)
      .groupBy("source_a", "source_b", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
    val wp = Window.partitionBy("source_a", "source_b").orderBy("h")
    val est = merged.withColumn("rk", row_number().over(wp))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_merged"),
        max(when(col("rk") <= KmvK, col("h"))).as("v_k"),
        sum(when(col("rk") <= KmvK && col("in_a") === 1 && col("in_b") === 1,
          1L).otherwise(0L)).as("n_both"))
      .withColumn("m", least(col("n_merged"), lit(KmvK.toLong)))
      .withColumn("kmv_union", when(col("n_merged") < KmvK, col("n_merged"))
        .otherwise(expr(
          s"CAST(floor(${KmvK - 1} * 2.147483647e9 / v_k) AS BIGINT)")))
      .withColumn("kmv_inter", expr("(n_both * kmv_union) div m"))
      .withColumn("kmv_jacc_e4", expr("(n_both * 10000) div m"))
    est
  }

  /** The distinct (source, shingle-hash) frame both the sketch build and
    * the exact audit read — one corpus scan, memoized. */
  private def kmvSrcSh(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"sketches.srcsh:$dir") {
      Dedup.shingleSets(spark, dir)
        .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
        .select(col("source"), explode(col("sh")).as("h"))
        .distinct()
    }

  /** Opt-in exact-audit row: the sketch estimates joined against their
    * exact counterparts (intersection by equi-join on h — fan-out
    * bounded by the source count — union by inclusion–exclusion over
    * per-source distinct counts) with e4 error columns. Gate-scale
    * verification affordance, NOT the serving path: the exact columns
    * re-scan and self-join the distinct (source, h) frame, which at
    * 100 TB costs orders of magnitude more than the sketch they check. */
  def kmvOverlapAudit(spark: SparkSession, dir: String): DataFrame = {
    val srcSh = kmvSrcSh(spark, dir)
    val est = kmvEstimates(spark, dir)
    // exact counterparts: intersection by equi-join on h, union by
    // inclusion-exclusion over per-source distinct counts
    val perSrc = srcSh.groupBy("source").agg(count(lit(1)).as("nd"))
    val interX = srcSh.as("x")
      .join(srcSh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter_exact"))
    est
      .join(broadcast(perSrc.select(col("source").as("source_a"),
        col("nd").as("nd_a"))), Seq("source_a"))
      .join(broadcast(perSrc.select(col("source").as("source_b"),
        col("nd").as("nd_b"))), Seq("source_b"))
      .join(interX, Seq("source_a", "source_b"), "left")
      .withColumn("n_inter_exact", coalesce(col("n_inter_exact"), lit(0L)))
      .withColumn("n_union_exact", col("nd_a") + col("nd_b") - col("n_inter_exact"))
      .withColumn("union_err_e4", expr(
        "(abs(kmv_union - n_union_exact) * 10000) div n_union_exact"))
      .withColumn("inter_err_e4", expr(
        """CASE WHEN n_inter_exact = 0 THEN CAST(-1 AS BIGINT)
          |ELSE (abs(kmv_inter - n_inter_exact) * 10000) div n_inter_exact
          |END""".stripMargin))
      .select(col("source_a"), col("source_b"),
        col("n_union_exact"), col("kmv_union"), col("union_err_e4"),
        col("n_inter_exact"), col("kmv_inter"), col("inter_err_e4"),
        col("kmv_jacc_e4"))
      .orderBy("source_a", "source_b")
  }

  /** Oracle CTE chain through the sketch estimates (`est`): the SAME
    * sketch algebra with the single-window bottom-K (the two-phase
    * rewrite is proven equivalent by KmvSpec and re-proven by each
    * row's hash match per run). Shared by the default sketch-only row
    * and the exact-audit opt-in. */
  private val KmvEstCtes: String =
    s"""${Dedup.ShSqlCte},
       |src_sh AS (
       |  SELECT DISTINCT d.source, u.h
       |  FROM (SELECT doc_id, unnest(sh) AS h FROM shs) u
       |  JOIN documents d USING (doc_id)),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |           row_number() OVER (PARTITION BY source ORDER BY h) AS rk
       |    FROM src_sh) r WHERE rk <= $KmvK),
       |srcs AS (SELECT DISTINCT source FROM src_sh),
       |merged AS (
       |  SELECT source_a, source_b, h,
       |         max(in_a) AS in_a, max(in_b) AS in_b FROM (
       |    SELECT s.source AS source_a, t.source AS source_b, s.h,
       |           1 AS in_a, 0 AS in_b
       |    FROM sk s JOIN srcs t ON s.source < t.source
       |    UNION ALL
       |    SELECT t.source, s.source, s.h, 0, 1
       |    FROM sk s JOIN srcs t ON t.source < s.source) u
       |  GROUP BY source_a, source_b, h),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY source_a, source_b ORDER BY h) AS rk
       |  FROM merged),
       |stats AS (
       |  SELECT source_a, source_b,
       |         CAST(count(*) AS BIGINT) AS n_merged,
       |         max(CASE WHEN rk <= $KmvK THEN h END) AS v_k,
       |         CAST(sum(CASE WHEN rk <= $KmvK AND in_a = 1 AND in_b = 1
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_both
       |  FROM ranked GROUP BY source_a, source_b),
       |est AS (
       |  SELECT source_a, source_b, n_merged, n_both,
       |         least(n_merged, $KmvK) AS m,
       |         CASE WHEN n_merged < $KmvK THEN n_merged
       |              ELSE CAST(floor(${KmvK - 1} * 2.147483647e9 / v_k) AS BIGINT)
       |         END AS kmv_union
       |  FROM stats)""".stripMargin

  val kmvOverlapSql: String =
    s"""WITH $KmvEstCtes
       |SELECT source_a, source_b, m, kmv_union,
       |       n_both * kmv_union // m AS kmv_inter,
       |       n_both * 10000 // m AS kmv_jacc_e4
       |FROM est
       |ORDER BY source_a, source_b""".stripMargin

  val kmvOverlapAuditSql: String =
    s"""WITH $KmvEstCtes,
       |persrc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS nd
       |  FROM src_sh GROUP BY source),
       |interx AS (
       |  SELECT x.source AS source_a, y.source AS source_b,
       |         CAST(count(*) AS BIGINT) AS n_inter_exact
       |  FROM src_sh x JOIN src_sh y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2),
       |full_pairs AS (
       |  SELECT e.source_a, e.source_b,
       |         pa.nd + pb.nd - coalesce(i.n_inter_exact, 0) AS n_union_exact,
       |         e.kmv_union,
       |         coalesce(i.n_inter_exact, 0) AS n_inter_exact,
       |         e.n_both * e.kmv_union // e.m AS kmv_inter,
       |         e.n_both * 10000 // e.m AS kmv_jacc_e4,
       |         e.m
       |  FROM est e
       |  JOIN persrc pa ON pa.source = e.source_a
       |  JOIN persrc pb ON pb.source = e.source_b
       |  LEFT JOIN interx i
       |    ON i.source_a = e.source_a AND i.source_b = e.source_b)
       |SELECT source_a, source_b, n_union_exact, kmv_union,
       |       abs(kmv_union - n_union_exact) * 10000 // n_union_exact
       |         AS union_err_e4,
       |       n_inter_exact, kmv_inter,
       |       CASE WHEN n_inter_exact = 0 THEN CAST(-1 AS BIGINT)
       |            ELSE abs(kmv_inter - n_inter_exact) * 10000 // n_inter_exact
       |       END AS inter_err_e4,
       |       kmv_jacc_e4
       |FROM full_pairs
       |ORDER BY source_a, source_b""".stripMargin

  val hllMergeSql: String = {
    val mix2 = s"user_id % $HllP * $HllM2 % $HllP"
    s"""WITH b AS (
       |  SELECT event_type,
       |         user_id % $HllP * $HllM1 % $HllP % $HllBuckets AS bucket,
       |         ${rhoSql(mix2)} AS rho
       |  FROM events),
       |m AS (
       |  SELECT event_type AS scope, bucket, max(rho) AS rho_max
       |  FROM b GROUP BY event_type, bucket),
       |mall AS (
       |  SELECT 'ALL' AS scope, bucket, max(rho) AS rho_max
       |  FROM b GROUP BY bucket),
       |mu AS (SELECT * FROM m UNION ALL SELECT * FROM mall),
       |s AS (
       |  SELECT scope,
       |         CAST(sum(CAST(1 AS BIGINT) << CAST(40 - rho_max AS INT)) AS BIGINT) AS s_present,
       |         count(*) AS n_buckets
       |  FROM mu GROUP BY scope),
       |e AS (
       |  SELECT scope,
       |         s_present + ($HllBuckets - n_buckets) * (CAST(1 AS BIGINT) << 40) AS s_total
       |  FROM s),
       |est AS (
       |  SELECT scope, $estSql AS hll_est FROM e),
       |x AS (
       |  SELECT event_type AS scope, count(DISTINCT user_id) AS n_exact
       |  FROM events GROUP BY event_type
       |  UNION ALL
       |  SELECT 'ALL' AS scope, count(DISTINCT user_id) AS n_exact FROM events)
       |SELECT est.scope, x.n_exact, est.hll_est, $errSql AS err_e4
       |FROM est JOIN x ON est.scope = x.scope
       |ORDER BY est.scope""".stripMargin
  }
}
