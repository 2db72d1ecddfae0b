package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact set-similarity self-join via document-frequency-ordered prefix
  * filtering (SURVEY.md §2 row 82) — the EXACT complement to the
  * recall-bounded MinHash LSH path (Dedup.scala rows 19/21): every pair
  * with trigram-shingle Jaccard ≥ τ is returned, with zero false
  * negatives, and still with no all-pairs comparison.
  *
  * The algorithm is the published prefix-filter scheme (Chaudhuri/Ganti/
  * Kaushik SSJoin, ICDE'06; Bayardo/Ma/Srikant "Scaling Up All Pairs
  * Similarity Search", WWW'07): order every document's shingle set by a
  * single global total order (ascending corpus document frequency, ties on
  * the shingle hash), keep only the first p = s − ⌈τ·s⌉ + 1 shingles as
  * the document's "prefix", and generate a candidate pair only when two
  * prefixes share a shingle. Any pair with J ≥ τ must overlap in ≥ ⌈τ·s⌉
  * shingles of either set, so skipping a full prefix would leave fewer
  * than ⌈τ·s⌉ positions — the candidate set is provably complete
  * (SetJoinSpec checks this against a brute-force join on the test data).
  *
  * Scale shape (100 TB): document frequency is one map-side-combined
  * groupBy on int64 shingle hashes; the per-document prefix selection is
  * a window partitioned by doc_id (each partition is one document's
  * bounded shingle set); and the candidate join keys are, BY CONSTRUCTION,
  * the globally RAREST shingles in the corpus — the df-ascending order
  * exists precisely so hot boilerplate shingles never become join keys.
  * Bucket sizes are therefore small and near-uniform, the opposite of the
  * skew a naive inverted-index join would hit; AQE absorbs the residue.
  * Verification re-joins candidate doc ids against the persisted shingle
  * sets (ids travel, documents don't), exactly the dedup_minhash shape.
  */
object SetJoin {

  /** Jaccard threshold in 1e-4 fixed point (0.5). */
  val TauE4 = 5000L

  /** Shingle width: trigrams, not the dedup path's bigrams — the corpus
    * vocabulary is small, so bigram df is too flat for a selective prefix;
    * trigram space is vocab³ and planted near-dups separate cleanly. */
  val NgramN = 3

  private val norm = lower(trim(col("text")))

  /** doc_id + distinct trigram-shingle hash set, persisted: the frame
    * feeds the df aggregation, the prefix explode, and both verification
    * lookups. Hash math is the engine's shared rolling-hash family
    * (HashExprs.NgramHashSetExpr ≡ TextStats.fpSql of the joined text). */
  private[graft] def triSets(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"setjoin.tris:$dir") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(norm, " ").as("toks"))
        .where(size(col("toks")) >= NgramN)
        .select(col("doc_id"),
          graft.functions.HashExprs
            .ngramHashSet(col("toks"), NgramN, TextStats.FpPrime, TextStats.FpMod)
            .as("sh"))
    }

  /** doc_id → representative (the group's min doc_id) for groups of
    * IDENTICAL shingle sets, memoized: the exact-duplicate collapse that
    * bounds the prefix join's duplicate-multiplicity blow-up. The group
    * key is the sorted set itself — a hash collision would silently merge
    * distinct sets and break the exactness contract. */
  private[graft] def repMembers(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"setjoin.members:$dir") {
      Dedup.repOf(triSets(spark, dir), array_sort(col("sh")))
    }

  private def repSizes(spark: SparkSession, dir: String): DataFrame =
    Dedup.groupSizes(repMembers(spark, dir))

  /** Representative shingle-set frame (one row per DISTINCT set),
    * memoized: the sets×members collapse join shuffles the full
    * array-carrying corpus frame, so it runs once for every rep-level
    * search below rather than once per consumer query. */
  private[graft] def repSetsFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"setjoin.repsets:$dir") {
      triSets(spark, dir).join(repMembers(spark, dir), "doc_id")
        .where(col("doc_id") === col("rep"))
        .select("doc_id", "sh")
    }

  /** The df-ordered prefix of every set in `ex` (doc_id, sz, s): its
    * first p = s − ⌈τ·s⌉ + 1 shingles under the global (df, shingle)
    * order. Any pair with overlap ≥ ⌈τ·s⌉ shares a shingle of this
    * prefix, and df ascending makes the join keys the corpus's RAREST
    * shingles. */
  private def dfPrefix(ex: DataFrame, tauE4: Long): DataFrame = {
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    ex.join(dfreq, "s")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .where(col("pos") <=
        col("sz") - ceil(col("sz") * lit(tauE4 / 10000.0)).cast("long") + 1)
      .select(col("doc_id"), col("s"))
  }

  /** The prefix-filter candidate generator over the rep sets, verified
    * exactly by id-rejoin: (rep_a, rep_b, jaccard_e4 ≥ τ) with rep_a <
    * rep_b, both sides probing their prefix — or, `ordered`, (rep_a,
    * rep_b, containment_e4 ≥ τc) in every direction, where only the probe
    * side is cut to its prefix and the index side explodes every shingle.
    * The df order is computed over representatives: the prefix theorem
    * holds for ANY consistent global order, and copy counts then no
    * longer inflate a shingle's rank. Memoized: the verified pair set is
    * tiny (distinct-content near-dup pairs) and both registered keys of
    * each join read it. */
  private def prefixJoin(spark: SparkSession, dir: String, ordered: Boolean): DataFrame = {
    val (tau, score) = if (ordered) (TauCE4, "containment_e4") else (TauE4, "jaccard_e4")
    Tables.memoPersist(spark, s"setjoin.$score:$tau:$dir") {
      val sized = repSetsFrame(spark, dir)
        .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("sz"))
      val ex = sized.select(col("doc_id"), col("sz"), explode(col("sh")).as("s"))
      val pref = dfPrefix(ex, tau)
      val (index, distinctSets, value) =
        if (ordered) (ex.select("doc_id", "s"), col("a.doc_id") =!= col("b.doc_id"),
          floor(lit(10000.0) * col("isz") / col("sz_a")).cast("long"))
        else (pref, col("a.doc_id") < col("b.doc_id"),
          Dedup.jaccardE4(col("isz"), col("sz_a"), col("sz_b")))
      def side(s: String) =
        sized.select(col("doc_id").as(s"rep_$s"), col("sh").as(s"sh_$s"), col("sz").as(s"sz_$s"))
      pref.as("a").join(index.as("b"), col("a.s") === col("b.s") && distinctSets)
        .select(col("a.doc_id").as("rep_a"), col("b.doc_id").as("rep_b"))
        .distinct()
        .join(side("a"), "rep_a").join(side("b"), "rep_b")
        .withColumn("isz", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn(score, value)
        .where(col(score) >= tau)
        .select("rep_a", "rep_b", score)
    }
  }

  /** Within groups of one join: identical sets score 1, both ways. */
  private def within(spark: SparkSession, dir: String, ordered: Boolean): DataFrame =
    repSizes(spark, dir)
      .withColumn(if (ordered) "containment_e4" else "jaccard_e4", lit(10000L))

  private def report(spark: SparkSession, dir: String, ordered: Boolean): DataFrame =
    Dedup.repReport(prefixJoin(spark, dir, ordered), within(spark, dir, ordered),
      repSizes(spark, dir), ordered)

  private def expanded(spark: SparkSession, dir: String, ordered: Boolean): DataFrame =
    Dedup.expandPairs(Dedup.repRows(prefixJoin(spark, dir, ordered), within(spark, dir, ordered)),
      repMembers(spark, dir), ordered)
      .orderBy("doc_a", "doc_b")

  /** All pairs with trigram Jaccard ≥ τ, exactly, at REP level: one row
    * per DISTINCT-content pair with the verified Jaccard, both group
    * sizes and n_pairs; duplicate groups (rep_a = rep_b, J = 1) carry
    * C(size, 2). At 1000 copies per document the expanded report is
    * ~2.5e9 rows while the search underneath stays flat, so consumers
    * that need every (copy_a, copy_b) row opt into
    * [[jaccardPrefixPairsFull]]. */
  def jaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    report(spark, dir, ordered = false)

  /** The expanded per-copy pair report, opt-in: across groups J(a, b) =
    * J(rep(a), rep(b)) because Jaccard is a set function and group
    * members ARE the same set; within a group every pair has J = 1. */
  def jaccardPrefixPairsFull(spark: SparkSession, dir: String): DataFrame =
    expanded(spark, dir, ordered = false)

  // ---- containment_join: asymmetric set-containment (quote detection) -----

  /** Containment threshold in 1e-4 fixed point (0.8). */
  val TauCE4 = 8000L

  /** All ORDERED pairs (a, b), a ≠ b, with containment
    * C(a→b) = |A∩B| / |A| ≥ τc — the asymmetric complement to the
    * symmetric Jaccard join above: a near-complete quote of document a
    * inside a much larger b scores C(a→b) ≈ 1 while Jaccard ≈ |A|/|B|
    * can be arbitrarily small, which is exactly the quote/subset/
    * boilerplate-inclusion case a dedup pass misses (Broder's
    * containment coefficient; the probe-prefix candidate scheme is the
    * asymmetric variant of SSJoin/AllPairs, Vernica et al. SIGMOD'10).
    *
    * Candidate generation is PROBE-side prefix only: a pair with
    * overlap ≥ ⌈τc·s_a⌉ must hit A's first s_a − ⌈τc·s_a⌉ + 1 shingles
    * under the global (df, shingle) order, so the probe explodes only
    * that prefix while the INDEX side explodes every shingle — lossless
    * for the one-directional predicate (each direction is generated
    * from its own probe prefix; ContainmentJoinSpec pins completeness
    * against brute force). Probe join keys are again the globally
    * RAREST shingles of each probe set, so candidates = Σ_a Σ_{s∈pref(a)}
    * df(s), not all-pairs.
    *
    * Rep-level like [[jaccardPrefix]]: one row per DISTINCT-content
    * ORDERED pair; mutual-containment duplicate groups (rep_a = rep_b,
    * C = 1) carry size·(size−1) ordered pairs. */
  def containmentJoin(spark: SparkSession, dir: String): DataFrame =
    report(spark, dir, ordered = true)

  /** Expanded per-copy ordered pair report, opt-in; the expansion keeps
    * the direction (doc_a is the probe side). */
  def containmentJoinPairsFull(spark: SparkSession, dir: String): DataFrame =
    expanded(spark, dir, ordered = true)

  // ---- oracles: brute force over member or rep sets -----------------------

  /** Oracle trigram sets `tri` (doc_id, sh) and their groups of identical
    * sets `reps` (sh, rep, gsz). */
  private val TriCtes: String =
    s"""tk AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
       |tri AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      list_transform(range(1, len(tk) - 1),
       |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
       |      g -> ${TextStats.fpSql("g")})) AS sh
       |  FROM tk WHERE len(tk) >= $NgramN),
       |reps AS (
       |  SELECT list_sort(t.sh) AS sh, min(t.doc_id) AS rep,
       |         CAST(count(*) AS BIGINT) AS gsz
       |  FROM tri t GROUP BY list_sort(t.sh))""".stripMargin

  private val JaccardSql = Dedup.jaccardE4Sql("isz", "sa.n", "sb.n")
  private val ContainmentSql = "CAST(floor(10000.0 * isz / sa.n) AS BIGINT)"

  /** Oracle brute force over the `id`-keyed sets of `sets`: every pair
    * (`cmp` on ids) sharing ≥1 trigram, `score`d from its overlap isz and
    * the set sizes sa.n / sb.n, kept at ≥ `tau` — `scored` (ida, idb,
    * score). */
  private def bruteSql(sets: String, id: String, cmp: String, score: String,
      tau: Long): String =
    s"""$TriCtes,
       |ex AS (SELECT $id AS id, unnest(sh) AS s FROM $sets),
       |sz AS (SELECT $id AS id, CAST(len(sh) AS BIGINT) AS n FROM $sets),
       |cand AS (
       |  SELECT a.id AS ida, b.id AS idb, CAST(count(*) AS BIGINT) AS isz
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.id $cmp b.id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT ida, idb, $score AS score
       |  FROM cand JOIN sz sa ON sa.id = ida JOIN sz sb ON sb.id = idb
       |  WHERE $score >= $tau)""".stripMargin

  /** Oracle: brute-force ground truth — every pair sharing ≥1 trigram,
    * exact Jaccard, threshold. The Spark side must reproduce this EXACTLY
    * (the prefix filter is lossless); a hash mismatch here means a recall
    * hole, which is the whole claim under test. */
  val jaccardPrefixPairsFullSql: String =
    s"""WITH ${bruteSql("tri", "doc_id", "<", JaccardSql, TauE4)}
       |SELECT ida AS doc_a, idb AS doc_b, score AS jaccard_e4
       |FROM scored ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle: brute-force ordered containment, same lossless-prefix claim. */
  val containmentJoinPairsFullSql: String =
    s"""WITH ${bruteSql("tri", "doc_id", "<>", ContainmentSql, TauCE4)}
       |SELECT ida AS doc_a, idb AS doc_b, score AS containment_e4
       |FROM scored ORDER BY doc_a, doc_b""".stripMargin

  /** Oracles for the REP-level defaults: brute force over DISTINCT sets
    * (rep = min doc_id per identical sorted set) plus the within rows. */
  val jaccardPrefixSql: String = Dedup.repReportSql(
    bruteSql("reps", "rep", "<", JaccardSql, TauE4),
    "scored", "reps", Seq("jaccard_e4" -> "CAST(10000 AS BIGINT)"))

  val containmentJoinSql: String = Dedup.repReportSql(
    bruteSql("reps", "rep", "<>", ContainmentSql, TauCE4),
    "scored", "reps", Seq("containment_e4" -> "CAST(10000 AS BIGINT)"), ordered = true)
}
