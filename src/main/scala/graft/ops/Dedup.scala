package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.graftshim.GraftShim
import graft.Tables

/** Document deduplication: exact, MinHash+LSH near-dup with n-gram Jaccard
  * verification, and SimHash fingerprints (SURVEY.md §2 rows 18-21).
  *
  * Scale shape (100 TB): exact dedup is one hash-shuffle groupBy; MinHash
  * candidates come ONLY from equi-joins on (band_id, band_key) buckets —
  * there is no crossJoin anywhere, and the pair side carries doc ids, not
  * documents (shingle sets are re-joined by id afterwards). Bucket skew is
  * bounded by the 2-row banding; AQE skew-join covers the rest.
  *
  * All hashes are hand-rolled int64 arithmetic (rolling char hash mod
  * 2^31-1, affine minhash perms) so the DuckDB oracle reproduces every bit.
  */
object Dedup {

  /** One modulus shared with the fingerprint/checksum hash math — see
    * TextStats.FpMod; a lone edit here would desynchronize the engines. */
  val P: Long = TextStats.FpMod
  val NumPerms = 16
  val NumBands = 8 // 2 rows per band

  /** Affine permutation constants, derived deterministically. */
  val PermA: Seq[Long] =
    (0 until NumPerms).map(j => ((1103515245L * (j + 1) + 12345L) % P).max(1L))
  val PermB: Seq[Long] =
    (0 until NumPerms).map(j => (1103515245L * (j + 17) + 54321L) % P)

  private def charHash(s: Column): Column =
    graft.functions.HashExprs.byteRollHash(s, TextStats.FpPrime, P)

  private val norm: Column = lower(trim(col("text")))

  // ---- the near-duplicate pair contract -----------------------------------
  //
  // Every pair key of the near-dup family (MinHash, SimHash, winnowing,
  // the prefix set joins in SetJoin, the embedding near-dups in
  // Similarity) reports at REP level. Documents with identical content
  // collapse to one representative (rep = min doc_id, [[repOf]]); a
  // per-method candidate generator emits rep-level pairs (rep_a, rep_b,
  // scores…); [[repReport]] adds the group sizes, n_pairs and one within
  // row (rep_a = rep_b) per duplicate group; and the opt-in *_pairs_full
  // keys expand the same rows ([[repRows]]) to members with
  // [[expandPairs]]. Σ n_pairs equals the expanded row count exactly, so
  // the expansion adds rows, never information: the candidate search
  // scales with DISTINCT content, and only the expanded output is
  // quadratic in duplicate multiplicity.

  /** (doc_id, rep): rep = min doc_id over the rows of `frame` sharing
    * `key`. The key is the content itself (a sorted set, normalized
    * text), never a fingerprint of it — a hash collision would merge
    * distinct content. One shuffle on the key. */
  private[ops] def repOf(frame: DataFrame, key: Column): DataFrame =
    frame.select(col("doc_id"), key.as("key"))
      .withColumn("rep", min("doc_id").over(Window.partitionBy("key")))
      .select("doc_id", "rep")

  /** (rep, size): member count per group. */
  private[ops] def groupSizes(members: DataFrame): DataFrame =
    members.groupBy("rep").agg(count(lit(1)).as("size"))

  /** One within row (rep_a = rep_b, scores…, size) per group of `within`
    * (rep, size, scores…) with more than one member: the scores every
    * member pair of an identical-content group shares. */
  private def withinRows(within: DataFrame, scores: Seq[String]): DataFrame =
    within.where(col("size") > 1)
      .select(Seq(col("rep").as("rep_a"), col("rep").as("rep_b")) ++
        scores.map(col) :+ col("size"): _*)

  private def scoresOf(pairs: DataFrame): Seq[String] =
    pairs.columns.toSeq.filterNot(Set("rep_a", "rep_b"))

  /** The rep rows of one method, as the member expansion reads them: its
    * cross-group `pairs` (rep_a, rep_b, scores…) plus its within rows. */
  private[graft] def repRows(pairs: DataFrame, within: DataFrame): DataFrame =
    pairs.unionByName(withinRows(within, scoresOf(pairs)).drop("size"))

  /** The one rep report over a method's cross-group `pairs` (rep_a,
    * rep_b, scores…) and its `within` groups: every cross row gains both
    * group sizes from `sizes` (rep, size) and n_pairs = size_a·size_b,
    * every within row C(size, 2) — or size·(size−1) when pairs are
    * `ordered` (containment holds both ways inside a group). Integer
    * `div`: Spark `/` is a double division, exact only while
    * size·(size−1) < 2^53. */
  private[graft] def repReport(pairs: DataFrame, within: DataFrame, sizes: DataFrame,
      ordered: Boolean = false): DataFrame = {
    def side(s: String) = sizes.select(col("rep").as(s"rep_$s"), col("size").as(s"size_$s"))
    val cross = pairs.join(side("a"), "rep_a").join(side("b"), "rep_b")
      .select(pairs.columns.toSeq.map(col) ++ Seq(col("size_a"), col("size_b"),
        (col("size_a") * col("size_b")).as("n_pairs")): _*)
    val wi = withinRows(within, scoresOf(pairs))
      .withColumn("size_a", col("size")).withColumn("size_b", col("size"))
      .withColumn("n_pairs",
        expr(if (ordered) "size * (size - 1)" else "size * (size - 1) div 2"))
      .drop("size")
    // One nullability per column in both arms: AQE drops an empty arm at
    // run time, and the written schema would otherwise follow whichever
    // arm had rows (n_pairs: NOT NULL as size_a·size_b, nullable as `div`).
    val nullable = (cross.schema ++ wi.schema).filter(_.nullable).map(_.name).toSet
    def widened(arm: DataFrame) = arm.select(arm.schema.map { f =>
      if (f.nullable || !nullable(f.name)) col(f.name)
      else GraftShim.column(KnownNullable(GraftShim.expression(col(f.name)))).as(f.name)
    }: _*)
    widened(cross).unionByName(widened(wi)).orderBy("rep_a", "rep_b")
  }

  /** The one member expansion: rep rows (rep_a, rep_b, scores…; size
    * columns are dropped) to member pairs (doc_a, doc_b, scores…). A
    * cross row yields every member pair of its two groups and a within
    * row every pair of distinct members, all with the rep row's scores
    * (each score is a function of the two contents). Unordered pairs
    * come out as doc_a < doc_b; `ordered` keeps the probe side first.
    * Both joins are output-sized id arithmetic. */
  private[graft] def expandPairs(rows: DataFrame, members: DataFrame,
      ordered: Boolean = false): DataFrame = {
    val scores = rows.columns.toSeq
      .filterNot(Set("rep_a", "rep_b", "size_a", "size_b", "n_pairs")).map(col)
    def side(s: String) = members.select(col("rep").as(s"rep_$s"), col("doc_id").as(s"d$s"))
    val (da, db) = (col("da"), col("db"))
    val (a, b, distinctMembers) =
      if (ordered) (da, db, da =!= db) else (least(da, db), greatest(da, db), da < db)
    rows.join(side("a"), "rep_a").join(side("b"), "rep_b")
      .where(col("rep_a") =!= col("rep_b") || distinctMembers)
      .select(a.as("doc_a") +: b.as("doc_b") +: scores: _*)
  }

  /** Exact Jaccard in 1e-4 fixed point from |A∩B| and both set sizes: the
    * union is |A|+|B|−|A∩B|, one intersection per pair. */
  private[ops] def jaccardE4(isz: Column, na: Column, nb: Column): Column =
    floor(lit(10000.0) * isz / (na + nb - isz)).cast("long")

  /** Oracle twin of [[jaccardE4]]. */
  private[ops] def jaccardE4Sql(isz: String, na: String, nb: String): String =
    s"CAST(floor(10000.0 * $isz / ($na + $nb - $isz)) AS BIGINT)"

  /** The one oracle rep report, written apart from the Spark one so the
    * gate still checks it: `cross` rows (rep_a, rep_b, scores… in
    * `within`'s order, any column names) plus a within row per `groups`
    * row (rep, gsz, …) with gsz > 1 passing `where`, scored by `within`
    * (name → SQL over `groups`), both sized from `groups`. */
  private[ops] def repReportSql(ctes: String, cross: String, groups: String,
      within: Seq[(String, String)], where: String = "TRUE",
      ordered: Boolean = false): String = {
    val wcols = within.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val wpairs = if (ordered) "ga.gsz * (ga.gsz - 1)" else "ga.gsz * (ga.gsz - 1) // 2"
    s"""WITH $ctes,
       |rr(rep_a, rep_b, ${within.map(_._1).mkString(", ")}) AS (
       |  SELECT * FROM $cross
       |  UNION ALL
       |  SELECT rep, rep, $wcols FROM $groups WHERE gsz > 1 AND $where)
       |SELECT r.*, ga.gsz AS size_a, gb.gsz AS size_b,
       |       CASE WHEN r.rep_a = r.rep_b THEN $wpairs
       |            ELSE ga.gsz * gb.gsz END AS n_pairs
       |FROM rr r
       |JOIN $groups ga ON r.rep_a = ga.rep
       |JOIN $groups gb ON r.rep_b = gb.rep
       |ORDER BY r.rep_a, r.rep_b""".stripMargin
  }

  // ---- dedup_exact --------------------------------------------------------

  /** Exact dedup on normalized text: one row per distinct document with the
    * keeper (min doc_id) and copy count. Rides the memoized [[textGroups]]
    * frame, whose rep IS the group's min doc_id, so the report is a count
    * over an already-persisted (doc_id, rep) long frame, no text re-scan. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    groupSizes(textGroups(spark, dir))
      .select(col("rep").as("keeper_doc_id"), col("size").as("n_copies"))
      .orderBy("keeper_doc_id")

  val dedupExactSql: String =
    """SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY lower(trim(text))
      |ORDER BY keeper_doc_id""".stripMargin

  // ---- dedup_minhash (+ n-gram Jaccard verify) ----------------------------

  /** (doc_id, sh): distinct bigram-shingle hashes of every document with
    * ≥ 2 tokens, over any (doc_id, text) frame — batch or streaming. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(norm, " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        graft.functions.HashExprs.shingleHashSet(col("toks"), TextStats.FpPrime, P)
          .as("sh"))

  /** The corpus shingle sets. Persisted (memory+disk): the LSH DAG
    * references them three times — band generation and both sides of the
    * pair→set join — and shingle hashing is the dominant cost, so
    * recomputing it per branch triples the work. At scale this is the
    * standard materialize-signatures step of distributed LSH; the frame
    * is ids + int64 arrays (far smaller than the text) and spills to disk
    * if needed. */
  private[graft] def shingleSets(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"dedup.shingleSets:$dir") {
      shinglesOf(Tables.documents(spark, dir))
    }

  /** doc_id + 16-element minhash signature array (one codegen'd pass over
    * the shingle set instead of 16 interpreted transform+min passes). */
  private def minhashesOf(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
      graft.functions.HashExprs.minHash(col("sh"), PermA, PermB, P).as("mh"))

  private def minhashes(spark: SparkSession, dir: String): DataFrame =
    minhashesOf(shingleSets(spark, dir))

  /** (doc_id, band_id, band_key): 8 bands of 2 minhash rows packed into one
    * int64 key (< P^2 < 2^63). */
  private def bandsOf(sets: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band_id"),
        (element_at(col("mh"), 2 * b + 1) * P + element_at(col("mh"), 2 * b + 2))
          .as("band_key"))
    }
    minhashesOf(sets)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bnd"))
      .select(col("doc_id"), col("bnd.band_id").as("band_id"),
        col("bnd.band_key").as("band_key"))
  }

  /** Banding over an arbitrary (doc_id, text) frame — the streaming
    * near-dup twin reads it, so its buckets are bit-identical to the
    * batch index. */
  private[graft] def bandsOfDocs(docs: DataFrame): DataFrame = bandsOf(shinglesOf(docs))

  /** The MinHash candidate generator over any (doc_id, sh) frame: banding,
    * same-bucket candidate equi-join (pairs are formed per bucket, never
    * all-pairs), exact-Jaccard verification by id-rejoin. Emits (rep_a,
    * rep_b, jaccard_e4) with rep_a < rep_b. Shared by the shingle-rep
    * pipeline and the agreement matrix's text-rep pipeline. */
  private def lshVerifyChain(sets: DataFrame): DataFrame = {
    val b = bandsOf(sets)
    b.as("a")
      .join(b.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("rep_a"), col("b.doc_id").as("rep_b"))
      .distinct()
      .join(sets.select(col("doc_id").as("rep_a"), col("sh").as("sh_a")), "rep_a")
      .join(sets.select(col("doc_id").as("rep_b"), col("sh").as("sh_b")), "rep_b")
      .withColumn("isz", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("rep_a"), col("rep_b"),
        jaccardE4(col("isz"), size(col("sh_a")), size(col("sh_b"))).as("jaccard_e4"))
  }

  /** doc_id → representative over groups of IDENTICAL shingle sets,
    * memoized. Identical sets ⇒ identical minhash rows ⇒ same key in every
    * band ⇒ the pair is always an LSH candidate, and its Jaccard is
    * exactly 1 — so a rep pair is a candidate iff each member pair is,
    * each group is a CLIQUE of the verified graph, and contracting it to
    * its min member preserves both the component structure and the
    * min-label itself. */
  private[graft] def repMembers(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"dedup.repMembers:$dir") {
      repOf(shingleSets(spark, dir), array_sort(col("sh")))
    }

  private def repSizes(spark: SparkSession, dir: String): DataFrame =
    groupSizes(repMembers(spark, dir))

  /** Verified rep-level MinHash pairs (rep_a, rep_b, jaccard_e4): the
    * banding, candidate joins and per-pair array intersections run once
    * per DISTINCT shingle set, however many copies the corpus carries.
    * Memoized + persisted: read by both pair reports, the cluster
    * closure, the graph reports and the threshold sweep. */
  private[ops] def repVerifiedPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"dedup.repPairs:$dir") {
      val sets = shingleSets(spark, dir).join(repMembers(spark, dir), "doc_id")
        .where(col("doc_id") === col("rep")).select("doc_id", "sh")
      lshVerifyChain(sets)
    }

  /** MinHash within groups: identical sets pair at J = 1. */
  private def minhashWithin(spark: SparkSession, dir: String): DataFrame =
    repSizes(spark, dir).withColumn("jaccard_e4", lit(10000L))

  /** The expanded member pair frame, EXACTLY what direct all-doc banding
    * would emit (a member pair is a candidate iff its rep pair is, or
    * both sit in one group), memoized for the two expanded reports. */
  private def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"dedup.pairs:$dir") {
      expandPairs(repRows(repVerifiedPairs(spark, dir), minhashWithin(spark, dir)),
        repMembers(spark, dir))
    }

  /** Default near-dup report, one row per DISTINCT-content pair: the
    * verified Jaccard plus the group sizes and n_pairs. Consumers that
    * only need mass (dedup rates, cluster seeds, sampling weights) read
    * this frame and never materialize the expansion; the expanded
    * per-copy report, quadratic in duplicate multiplicity BY
    * CONSTRUCTION, stays available as [[dedupMinhashPairsFull]]. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    repReport(repVerifiedPairs(spark, dir), minhashWithin(spark, dir), repSizes(spark, dir))

  /** The expanded per-copy pair report, opt-in. */
  def dedupMinhashPairsFull(spark: SparkSession, dir: String): DataFrame =
    verifiedPairs(spark, dir).orderBy("doc_a", "doc_b")

  // ---- minhash_est --------------------------------------------------------

  /** Signature-agreement Jaccard estimate vs the exact value, per
    * candidate pair — the accuracy report for the minhash sketch itself
    * (completing the estimate-vs-truth set with hll_distinct and
    * cms_topk). The estimate is matching-positions/16 in e4 fixed point:
    * 10000/16 = 625 exactly, so est_e4 = n_agree · 625 is pure int64. At
    * 100 TB this is the cheap first-pass score a pipeline uses to SKIP
    * the exact intersection for clearly-far pairs: it needs only the
    * 16-element signatures already materialized for banding. Joins both
    * sides' signatures onto (a, b, jaccard_e4) pairs. */
  private def withEstimate(spark: SparkSession, dir: String, pairs: DataFrame,
      a: String, b: String): DataFrame = {
    val mh = minhashes(spark, dir)
    val agree = zip_with(col("mh_a"), col("mh_b"),
      (x, y) => when(x === y, 1).otherwise(0))
    pairs
      .join(mh.select(col("doc_id").as(a), col("mh").as("mh_a")), a)
      .join(mh.select(col("doc_id").as(b), col("mh").as("mh_b")), b)
      .select(col(a), col(b), col("jaccard_e4"),
        (aggregate(agree, lit(0), (acc, x) => acc + x) * lit(625L)).as("est_e4"))
  }

  private def withAbsErr(df: DataFrame): DataFrame =
    df.withColumn("abs_err_e4", abs(col("est_e4") - col("jaccard_e4")))

  /** Rep-level estimator report. The estimate and the exact Jaccard are
    * both pure functions of the two shingle sets, so every member pair of
    * two groups carries its rep pair's (est, exact, err); identical sets
    * give identical signatures (est = 10000, err = 0). */
  def minhashEst(spark: SparkSession, dir: String): DataFrame =
    repReport(
      withAbsErr(withEstimate(spark, dir, repVerifiedPairs(spark, dir), "rep_a", "rep_b")),
      minhashWithin(spark, dir).withColumn("est_e4", lit(10000L))
        .withColumn("abs_err_e4", lit(0L)),
      repSizes(spark, dir))
      .select("rep_a", "rep_b", "jaccard_e4", "est_e4", "size_a", "size_b", "n_pairs",
        "abs_err_e4")

  /** The expanded per-copy estimator report, opt-in (rides the expanded
    * pair frame [[verifiedPairs]]). */
  def minhashEstPairsFull(spark: SparkSession, dir: String): DataFrame =
    withAbsErr(withEstimate(spark, dir, verifiedPairs(spark, dir), "doc_a", "doc_b"))
      .orderBy("doc_a", "doc_b")

  /** Oracle CTE: doc_id + distinct shingle hashes, mirrored hash math. */
  private[ops] val ShSqlCte: String =
    s"""shs AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      list_transform(range(1, len(string_split(lower(trim(text)), ' '))),
       |        i -> string_split(lower(trim(text)), ' ')[i] || ' ' ||
       |             string_split(lower(trim(text)), ' ')[i+1]),
       |      s -> ${TextStats.fpSql("s")})) AS sh
       |  FROM documents
       |  WHERE len(string_split(lower(trim(text)), ' ')) >= 2)""".stripMargin

  private val MinhashSqlCte: String = {
    val cols = (0 until NumPerms).map { j =>
      s"list_min(list_transform(sh, x -> (${PermA(j)} * x + ${PermB(j)}) % $P)) AS m$j"
    }.mkString(",\n    ")
    s"""mh AS (
       |  SELECT doc_id, sh,
       |    $cols
       |  FROM shs)""".stripMargin
  }

  private val BandsSqlCte: String = {
    val selects = (0 until NumBands).map { b =>
      s"SELECT doc_id, $b AS band_id, m${2 * b} * $P + m${2 * b + 1} AS band_key FROM mh"
    }.mkString("\n  UNION ALL ")
    s"bands AS (\n  $selects)"
  }

  /** Oracle candidate chain over the bands CTE `<p>bands`: distinct
    * same-bucket pairs `<p>cpairs` and their intersection and set sizes
    * `<p>csized`. */
  private def candSql(p: String): String =
    s"""${p}cpairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${p}bands a JOIN ${p}bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |${p}csized AS (
       |  SELECT p.doc_a, p.doc_b,
       |         len(list_intersect(sa.sh, sb.sh)) AS isz,
       |         len(sa.sh) AS sza, len(sb.sh) AS szb
       |  FROM ${p}cpairs p
       |  JOIN shs sa ON p.doc_a = sa.doc_id
       |  JOIN shs sb ON p.doc_b = sb.doc_id)""".stripMargin

  private def CsizedJaccard: String = jaccardE4Sql("isz", "sza", "szb")

  /** Shared oracle chain: shingles → minhash → bands → distinct candidate
    * pairs → pair sizes, over every document. */
  private[ops] def CandSqlCtes: String =
    s"""$ShSqlCte,
       |$MinhashSqlCte,
       |$BandsSqlCte,
       |${candSql("")}""".stripMargin

  /** Oracle groups of identical (sorted) shingle sets. A rep pair is a
    * candidate in full banding iff it is in rep banding — identical sets
    * share every band key — so the rep reports read the full chain
    * restricted to rep ids. */
  private val ShGroupsCte: String =
    """groups AS (
      |  SELECT min(doc_id) AS rep, count(*) AS gsz
      |  FROM shs GROUP BY list_sort(sh))""".stripMargin

  /** Oracle estimator pairs: exact Jaccard, agreeing signature positions
    * × 625, and their gap, per candidate pair. */
  private def EstCte: String = {
    val agree = (0 until NumPerms)
      .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString("\n      + ")
    s"""est AS (
       |  SELECT s.doc_a, s.doc_b, $CsizedJaccard AS jaccard_e4,
       |    CAST(($agree) * 625 AS BIGINT) AS est_e4,
       |    abs(CAST(($agree) * 625 AS BIGINT) - $CsizedJaccard) AS abs_err_e4
       |  FROM csized s
       |  JOIN mh a ON s.doc_a = a.doc_id
       |  JOIN mh b ON s.doc_b = b.doc_id)""".stripMargin
  }

  def minhashEstSql: String = repReportSql(
    s"$CandSqlCtes,\n$ShGroupsCte,\n$EstCte", "est", "groups",
    Seq("jaccard_e4" -> "CAST(10000 AS BIGINT)", "est_e4" -> "CAST(10000 AS BIGINT)",
      "abs_err_e4" -> "CAST(0 AS BIGINT)"))

  /** Oracle for the expanded estimator report, brute force at member level. */
  def minhashEstPairsFullSql: String =
    s"""WITH $CandSqlCtes,
       |$EstCte
       |SELECT * FROM est ORDER BY doc_a, doc_b""".stripMargin

  def dedupMinhashSql: String = repReportSql(
    s"""$CandSqlCtes,
       |$ShGroupsCte,
       |xp AS (SELECT doc_a, doc_b, $CsizedJaccard FROM csized)""".stripMargin,
    "xp", "groups", Seq("jaccard_e4" -> "CAST(10000 AS BIGINT)"))

  /** Oracle for the expanded opt-in variant, brute force at member level. */
  def dedupMinhashPairsFullSql: String =
    s"""WITH $CandSqlCtes
       |SELECT doc_a, doc_b, $CsizedJaccard AS jaccard_e4
       |FROM csized
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dedup_simhash_pairs ------------------------------------------------

  /** SimHash near-dup pairs, single-probe: candidate pairs come from an
    * equi-join on the fingerprint's top-[[BucketBits]] bucket (width
    * derived from N — see [[BucketBits]]), then the exact popcount-of-xor
    * Hamming filter — never all-pairs. This is a RECALL HEURISTIC, not an
    * exhaustive Hamming search: a qualifying pair whose differing bits
    * all fall in the bucket prefix is missed (guaranteed-recall at distance d
    * needs d+1 bands with a per-band OR join — the usual trade the
    * single-probe variant declines in exchange for one narrow shuffle). */
  val MaxHamming = 6L

  /** (doc_id, simhash, bucket, rep, size), memoized: every document's
    * fingerprint with its identical-fingerprint group (rep = min doc_id,
    * size = multiplicity) — one window shuffle on the fingerprint. Key
    * carries the derived bucket width. */
  private def simhashes(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"dedup.simhashes:$BucketBits:$dir") {
      val fp = Window.partitionBy("simhash")
      simhashOf(Tables.documents(spark, dir))
        .select(col("doc_id"), col("simhash"), col("bucket"),
          min("doc_id").over(fp).as("rep"), count(lit(1)).over(fp).as("size"))
    }

  private[graft] def simhashMembers(spark: SparkSession, dir: String): DataFrame =
    simhashes(spark, dir).select("doc_id", "rep")

  /** One row per DISTINCT fingerprint (rep, simhash, bucket, size): the
    * copy-collapse that makes both pair reports scale with distinct
    * content. On copy-heavy corpora every bucket/band join would pay
    * multiplicity² candidate rows per duplicated fingerprint; joining
    * reps pays 1. */
  private def simhashReps(spark: SparkSession, dir: String): DataFrame =
    simhashes(spark, dir).where(col("doc_id") === col("rep"))
      .select("rep", "simhash", "bucket", "size")

  /** SimHash within groups: identical fingerprints pair at Hamming 0. */
  private def simhashWithin(spark: SparkSession, dir: String): DataFrame =
    simhashReps(spark, dir).withColumn("hamming", lit(0L))

  /** A SimHash rep report over the generator's `pairs`. */
  private def simhashReport(spark: SparkSession, dir: String, pairs: DataFrame): DataFrame =
    repReport(pairs, simhashWithin(spark, dir), simhashReps(spark, dir))

  /** The expanded per-copy SimHash report over the generator's `pairs`,
    * opt-in: output quadratic in duplicate multiplicity. */
  private def simhashFull(spark: SparkSession, dir: String, pairs: DataFrame): DataFrame =
    expandPairs(repRows(pairs, simhashWithin(spark, dir)), simhashMembers(spark, dir))
      .orderBy("doc_a", "doc_b")

  /** The single-probe candidate generator over (rep, simhash, bucket):
    * bucket equi-join, exact popcount filter → (rep_a, rep_b, hamming). */
  private def singleProbePairs(r: DataFrame): DataFrame = {
    val a = r.select(col("rep").as("rep_a"), col("simhash").as("sh_a"), col("bucket"))
    val b = r.select(col("rep").as("rep_b"), col("simhash").as("sh_b"),
      col("bucket").as("bucket_b"))
    a.join(b, col("bucket") === col("bucket_b") && col("rep_a") < col("rep_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .where(col("hamming") <= MaxHamming)
      .select("rep_a", "rep_b", "hamming")
  }

  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashReport(spark, dir, singleProbePairs(simhashReps(spark, dir)))

  /** Expanded per-copy report, opt-in (SURVEY row 181). */
  def dedupSimhashPairsFull(spark: SparkSession, dir: String): DataFrame =
    simhashFull(spark, dir, singleProbePairs(simhashReps(spark, dir)))

  /** Oracle groups of identical fingerprints (bucket is a prefix of the
    * fingerprint, so one bucket per group; a rep pair is a candidate iff
    * any member pair is). */
  private val SimGroupsCte: String =
    """sg AS (
      |  SELECT simhash, min(doc_id) AS rep, count(*) AS gsz, min(bucket) AS bucket
      |  FROM sh GROUP BY simhash)""".stripMargin

  def dedupSimhashPairsSql: String = repReportSql(
    s"""$SimhashCtes,
       |$SimGroupsCte,
       |scx AS (
       |  SELECT a.rep AS ra, b.rep AS rb,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM sg a JOIN sg b ON a.bucket = b.bucket AND a.rep < b.rep
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming)""".stripMargin,
    "scx", "sg", Seq("hamming" -> "CAST(0 AS BIGINT)"))

  /** Oracle for the expanded opt-in, brute force at member level. */
  def dedupSimhashPairsFullSql: String =
    s"""WITH $SimhashCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b
       |  ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dedup_simhash_multiprobe -------------------------------------------

  /** Guaranteed-recall SimHash pairs: 4 bands of 15 bits over the 63-bit
    * fingerprint; by pigeonhole, any pair within Hamming distance 3
    * agrees exactly on at least one band, so the per-band equi-join
    * misses nothing up to that distance (differing bits above the banded
    * range only make band agreement easier). A pair can agree on several
    * bands, so the candidate set is de-duplicated BEFORE the exact
    * popcount filter (semantically required here, unlike the range join).
    * Contract: d+1 bands guarantee distance d; band WIDTH is the scale
    * knob — 2^15 bucket values keep per-bucket candidate counts linear
    * (measured 78 s → ~3 s at 50k docs vs the old 8-bit bands). */
  val MpBands = 4
  val MpBandBits = 15
  val MpMaxHamming = 3L

  /** The multiprobe candidate generator over distinct fingerprints: a rep
    * pair collides in some band iff every member pair would, so
    * candidacy is decided once per distinct-fingerprint pair. */
  private def multiProbePairs(spark: SparkSession, dir: String): DataFrame = {
    val mask = (1L << MpBandBits) - 1
    val bandStructs = (0 until MpBands).map { j =>
      struct(lit(j).as("band_id"),
        shiftright(col("simhash"), MpBandBits * j).bitwiseAND(lit(mask)).as("band_val"))
    }
    val banded = simhashReps(spark, dir)
      .select(col("rep"), col("simhash"), explode(array(bandStructs: _*)).as("b"))
      .select(col("rep"), col("simhash"),
        col("b.band_id").as("band_id"), col("b.band_val").as("band_val"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("rep_a"), col("y.rep").as("rep_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .where(col("hamming") <= MpMaxHamming)
      .select("rep_a", "rep_b", "hamming")
  }

  def dedupSimhashMultiprobe(spark: SparkSession, dir: String): DataFrame =
    simhashReport(spark, dir, multiProbePairs(spark, dir))

  /** Expanded per-copy multiprobe report, opt-in (SURVEY row 182). */
  def dedupSimhashMultiprobeFull(spark: SparkSession, dir: String): DataFrame =
    simhashFull(spark, dir, multiProbePairs(spark, dir))

  /** Oracle multiprobe bands over `from`'s (`id`, simhash) rows. */
  private def mpBandsSql(id: String, from: String): String = {
    val mask = (1L << MpBandBits) - 1
    (0 until MpBands).map { j =>
      s"SELECT $id, simhash, $j AS band_id, (simhash >> ${MpBandBits * j}) & $mask AS band_val FROM $from"
    }.mkString("banded AS (\n  ", "\n  UNION ALL ", ")")
  }

  /** Oracle twin of the rep-level multiprobe default (group-by-simhash
    * band join — identical fingerprints share every band, so rep
    * candidacy decides member candidacy). */
  def dedupSimhashMultiprobeSql: String = repReportSql(
    s"""$SimhashCtes,
       |$SimGroupsCte,
       |${mpBandsSql("rep", "sg")},
       |mcx AS (
       |  SELECT DISTINCT x.rep AS ra, y.rep AS rb,
       |         CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.rep < y.rep
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= $MpMaxHamming)""".stripMargin,
    "mcx", "sg", Seq("hamming" -> "CAST(0 AS BIGINT)"))

  /** Oracle for the expanded multiprobe opt-in, brute force at member level. */
  def dedupSimhashMultiprobeFullSql: String =
    s"""WITH $SimhashCtes,
       |${mpBandsSql("doc_id", "sh")},
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id)
       |SELECT p.doc_a, p.doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM pairs p
       |JOIN sh a ON p.doc_a = a.doc_id
       |JOIN sh b ON p.doc_b = b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MpMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dedup_clusters -----------------------------------------------------

  /** Connected components over the verified near-dup pairs (jaccard ≥
    * ClusterMinJaccardE4): keeper selection needs CLUSTERS, not pairs — a
    * chain a~b~c must keep one document, not two "pair winners". Min-label
    * propagation: every member's label converges to the smallest doc_id
    * reachable through the pair graph. The loop is driver-side CONTROL
    * only (a scalar convergence count per round, never a data collect);
    * each round is one co-partitioned join + groupBy, and rounds grow with
    * the graph DIAMETER, which for near-dup clusters (cliques/stars from
    * copies of one source doc) is 2-3 — the standard distributed
    * connected-components shape. A checkpoint-per-round keeps the
    * iterated plan from growing unboundedly. */
  val ClusterMinJaccardE4 = 5000L

  /** Spark twin of the oracle's `verified` CTE at REP level: rep pairs
    * surviving the cluster threshold, as (doc_a, doc_b) edges. ONE
    * definition for the closure and the graph reports — mirroring
    * [[VerifiedEdgesCtes]] on the SQL side — so the edge threshold cannot
    * drift between them on either engine. */
  private def thresholdedRepPairs(spark: SparkSession, dir: String): DataFrame =
    repVerifiedPairs(spark, dir)
      .where(col("jaccard_e4") >= ClusterMinJaccardE4)
      .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"))

  /** (rep, nrep, nsz): every thresholded rep edge in both directions with
    * the neighbour group's size. In the member graph each group is a
    * clique and each rep edge a complete bipartite graph, so every member
    * of a group shares one degree, (size − 1) + Σ nsz ([[repDegrees]]). */
  private def repNeighbours(re: DataFrame, sizes: DataFrame): DataFrame =
    re.join(sizes.select(col("rep").as("doc_b"), col("size").as("nsz")), "doc_b")
      .select(col("doc_a").as("rep"), col("doc_b").as("nrep"), col("nsz"))
      .union(re
        .join(sizes.select(col("rep").as("doc_a"), col("size").as("nsz")), "doc_a")
        .select(col("doc_b").as("rep"), col("doc_a").as("nrep"), col("nsz")))

  /** (rep, size, deg): the member degree of every group. */
  private def repDegrees(sizes: DataFrame, nbr: DataFrame): DataFrame =
    sizes.join(nbr.groupBy("rep").agg(sum("nsz").as("cd")), Seq("rep"), "left")
      .select(col("rep"), col("size"),
        (col("size") - 1 + coalesce(col("cd"), lit(0L))).as("deg"))

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    convergedClusters(spark, dir).orderBy("doc_id")

  /** Converged (doc_id, cluster_id) labels, memoized per (session, dir):
    * the closure loop runs ONCE however many queries derive from it
    * (dedup_clusters emits it ordered; cluster_size_hist aggregates it). */
  private def convergedClusters(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"dedup.clusters:$dir") {
      convergedClustersLoop(spark, dir)
    }

  private def convergedClustersLoop(spark: SparkSession, dir: String): DataFrame = {
    // exact-duplicate contraction: on copy-heavy corpora the verified
    // edge set is QUADRATIC in duplicate multiplicity (an M-copy clique is
    // M(M−1)/2 edges). Each identical-set group is a clique of the
    // verified graph, so the loop runs directly on the rep-level edge set
    // — whose size tracks DISTINCT content, not copy count — and members
    // take their rep's converged label afterwards (min-reachable is
    // preserved because each rep IS its group's min). The quadratic
    // expanded frame is never touched at all.
    val members = repMembers(spark, dir)
    val contracted = thresholdedRepPairs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = contracted.union(
      contracted.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var labels = edges.select(col("doc_a").as("doc_id"))
      .distinct()
      .withColumn("lbl", col("doc_id"))
      .localCheckpoint(eager = true)
    // labels only ever decrease, so the label sum is a strictly-monotone
    // convergence witness: one scalar aggregate per round instead of an
    // old-vs-new join. The sum runs in DECIMAL(38,0) — a Long sum wraps
    // at ~1e9 docs × 1e10 ids and a wrapped witness can end the loop
    // before the fixpoint. An empty graph (no pair over the threshold)
    // yields a NULL sum → None → the loop never runs and the result is
    // empty, matching the oracle. Each round propagates neighbor minima
    // AND pointer-doubles (jump to the label's own label), so rounds grow
    // with log(diameter), not diameter — a similarity CHAIN
    // (copy_i ~ copy_i+1 from drifting near-copies, the 10× stress shape)
    // converges in ~4 rounds instead of ~10.
    def lblSum(df: DataFrame): Option[java.math.BigDecimal] = {
      val r = df.agg(sum(col("lbl").cast("decimal(38,0)"))).head
      if (r.isNullAt(0)) None else Some(r.getDecimal(0))
    }
    var prevSum: Option[java.math.BigDecimal] = None
    var curSum = lblSum(labels)
    while (curSum.isDefined && prevSum.forall(p => curSum.get.compareTo(p) < 0)) {
      val prop = edges.join(labels, col("doc_a") === col("doc_id"))
        .select(col("doc_b").as("doc_id"), col("lbl"))
      val relabeled = labels.select("doc_id", "lbl").union(prop)
        .groupBy("doc_id").agg(min("lbl").as("lbl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // p_id is unique (relabeled is grouped by doc_id), so the shortcut
      // join is 1:1 — no re-aggregation needed after it. localCheckpoint
      // (not persist): an iterated plan otherwise GROWS by one round's
      // lineage per round — caching only short-circuits execution, the
      // analyzer/optimizer still walk the whole accumulated logical plan,
      // and by round N that planning time dwarfs the actual 250k-row
      // shuffles (measured 10 s/round → 1.3 s with truncation).
      val next = relabeled
        .join(relabeled.select(col("doc_id").as("p_id"), col("lbl").as("p_lbl")),
          col("lbl") === col("p_id"), "left")
        .select(col("doc_id"), coalesce(col("p_lbl"), col("lbl")).as("lbl"))
        .localCheckpoint(eager = true)
      prevSum = curSum
      curSum = lblSum(next)
      relabeled.unpersist(blocking = false)
      labels = next
    }
    // expand: the output domain is every doc incident to a verified edge
    // = members of any ≥2-member group (within-clique edges always clear
    // the threshold at J = 1) plus members of groups whose rep carries a
    // cross edge; each member takes its rep's converged label, falling
    // back to the rep itself for groups whose every edge was
    // within-clique (their rep never entered the loop).
    val outReps = groupSizes(members).where(col("size") >= 2).select("rep")
      .union(contracted.select(col("doc_a").as("rep")))
      .union(contracted.select(col("doc_b").as("rep")))
      .distinct()
    val result = members.join(outReps, "rep")
      .join(labels.select(col("doc_id").as("rep"), col("lbl")), Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("rep")).as("cluster_id"))
      .localCheckpoint(eager = true)
    // result is a checkpoint leaf — the loop-local edge cache can go now
    contracted.unpersist(blocking = false)
    result
  }

  /** Oracle verification over the candidate chain `<p>csized`: the pairs
    * clearing the cluster threshold `<p>verified` and the symmetric edge
    * list `<p>edges`. */
  private def edgesSql(p: String): String =
    s"""${p}verified AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM ${p}csized
       |  WHERE $CsizedJaccard >= $ClusterMinJaccardE4),
       |${p}edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM ${p}verified
       |  UNION SELECT doc_b, doc_a FROM ${p}verified)""".stripMargin

  /** Shared oracle chain: banding → candidate pairs → exact-jaccard
    * verification → symmetric edge list. ONE definition serves the
    * graph reports, so the edge threshold cannot drift between them. */
  private[ops] def VerifiedEdgesCtes: String = s"$CandSqlCtes,\n${edgesSql("")}"

  // ---- graph_degree -------------------------------------------------------

  /** Degree histogram of the verified near-dup graph — the health report
    * read BEFORE running the cluster closure: a heavy high-degree tail
    * means giant components (boilerplate-driven) and predicts closure
    * cost, and its total mass is the edge count the propagation loop will
    * carry. Rep-level arithmetic ([[repDegrees]]): the histogram needs
    * only the rep edge list and the group sizes, never the expanded
    * quadratic edge set; min_doc per degree is a min over group reps
    * (each rep IS its group's min member). */
  def graphDegree(spark: SparkSession, dir: String): DataFrame = {
    val sizes = repSizes(spark, dir)
    repDegrees(sizes, repNeighbours(thresholdedRepPairs(spark, dir), sizes))
      .where(col("deg") > 0)
      .groupBy(col("deg").as("degree"))
      .agg(sum("size").as("n_docs"), min("rep").as("min_doc"))
      .orderBy("degree")
  }

  def graphDegreeSql: String =
    s"""WITH $VerifiedEdgesCtes,
       |deg AS (
       |  SELECT a AS doc_id, count(*) AS degree FROM edges GROUP BY a)
       |SELECT degree, count(*) AS n_docs, min(doc_id) AS min_doc
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  // ---- dup_triangles ------------------------------------------------------

  /** Triangle census + global clustering coefficient of the verified
    * near-dup graph — read alongside the degree histogram before the
    * closure: a high coefficient with few triangles says tight template
    * cliques; many wedges with few triangles says hub-and-spoke
    * boilerplate whose closure will chain.
    *
    * Exact member-level counts by REP arithmetic (never the expanded
    * edge set): the member graph is within-group cliques ∪ complete
    * bipartite graphs on rep edges (identical shingle sets share bands,
    * candidacy, and Jaccard — the clique theorem the closure already
    * rides), so
    *   triangles = Σ_groups C(g,3)                      (pure within)
    *             + Σ_rep-edges (A,B) C(a,2)·b + a·C(b,2) (two-in-one-group)
    *             + Σ_rep-triangles (A,B,C) a·b·c         (all distinct)
    *   wedges    = Σ_groups g·C(deg,2), deg = (g−1) + Σ_{B∈N(A)} b
    *   edges     = Σ_groups C(g,2) + Σ_rep-edges a·b
    * with the rep triangles from ONE ordered two-hop equi-join on the
    * (tiny) rep edge list. The only double is the final coefficient:
    * 3T (exact int64) through one textually identical IEEE divide on
    * both engines. */
  def dupTriangles(spark: SparkSession, dir: String): DataFrame = {
    val gsz = repSizes(spark, dir)
    val re = thresholdedRepPairs(spark, dir)
    val tri = re.as("e1")
      .join(re.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .join(re.as("e3"),
        col("e3.doc_a") === col("e1.doc_a") && col("e3.doc_b") === col("e2.doc_b"))
      .select(col("e1.doc_a").as("ta"), col("e1.doc_b").as("tb"),
        col("e2.doc_b").as("tc"))
    def g(c: String, as: String) = gsz.select(col("rep").as(c), col("size").as(as))
    val triMass = tri
      .join(g("ta", "ga"), "ta").join(g("tb", "gb"), "tb").join(g("tc", "gc"), "tc")
      .agg(coalesce(sum(col("ga") * col("gb") * col("gc")), lit(0L)).as("t3"))
    val edgeMass = re
      .join(g("doc_a", "ga"), "doc_a").join(g("doc_b", "gb"), "doc_b")
      .agg(
        coalesce(sum(expr(
          "(ga * (ga - 1) div 2) * gb + ga * (gb * (gb - 1) div 2)")), lit(0L))
          .as("t2"),
        coalesce(sum(col("ga") * col("gb")), lit(0L)).as("e_cross"))
    val withinMass = gsz.agg(
      coalesce(sum(expr("size * (size - 1) * (size - 2) div 6")), lit(0L)).as("t1"),
      coalesce(sum(expr("size * (size - 1) div 2")), lit(0L)).as("e_within"))
    val wedges = repDegrees(gsz, repNeighbours(re, gsz))
      .agg(coalesce(sum(expr("size * (deg * (deg - 1) div 2)")), lit(0L)).as("w"))
    // bounded-cross: four 1-row aggregates
    triMass.crossJoin(edgeMass).crossJoin(withinMass).crossJoin(wedges)
      .withColumn("tt", col("t1") + col("t2") + col("t3"))
      .select(
        (col("e_within") + col("e_cross")).as("n_edges"),
        col("w").as("n_wedges"),
        col("tt").as("n_triangles"),
        expr("""CASE WHEN w > 0
                |     THEN CAST(floor(1.0e6 * (3 * tt) / w) AS BIGINT)
                |     ELSE 0 END""".stripMargin).as("global_cc_e6"))
  }

  /** Oracle: the member-level census spelled out on the expanded edge
    * set (fine at oracle scales; the engine never materializes it). */
  val dupTrianglesSql: String =
    s"""WITH $VerifiedEdgesCtes,
       |ue AS (SELECT a, b FROM edges WHERE a < b),
       |tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS tt FROM ue e1
       |  JOIN ue e2 ON e1.b = e2.a
       |  JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
       |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a),
       |wd AS (
       |  SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) AS w FROM deg),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS e FROM ue)
       |SELECT ne.e AS n_edges, wd.w AS n_wedges, tri.tt AS n_triangles,
       |       CASE WHEN wd.w > 0
       |            THEN CAST(floor(1.0e6 * (3 * tri.tt) / wd.w) AS BIGINT)
       |            ELSE 0 END AS global_cc_e6
       |FROM ne CROSS JOIN wd CROSS JOIN tri""".stripMargin

  /** Oracle chain for the cluster closure at REP level. The doc-level
    * recursive closure is quadratic in duplicate multiplicity (`reach`
    * holds every (node, reachable-label) pair, Σ component² rows) and
    * times out at the sf1-scale sweep, so the oracle applies the same
    * exact contraction the engine proves in [[repMembers]]: identical
    * shingle sets ⇒ identical minhash signatures ⇒ identical band keys
    * ⇒ every member pair of a group is an LSH candidate at Jaccard
    * exactly 1 ≥ the threshold — each group is a clique whose min
    * member is its rep, so contracting groups to reps preserves both
    * component structure and min labels. The contraction is re-derived
    * here in SQL from the raw shingle sets (grp partitions on the
    * sorted set itself, not a fingerprint), and candidates, exact
    * Jaccard verification, and the closure all still run independently
    * in DuckDB — only the provably-redundant duplicate copies leave
    * the recursion. */
  private[ops] val RepVerifiedEdgesCtes: String =
    s"""$ShSqlCte,
       |$MinhashSqlCte,
       |$BandsSqlCte,
       |grp AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY list_sort(sh)) AS rep
       |  FROM shs),
       |gsz AS (
       |  SELECT rep, CAST(count(*) AS BIGINT) AS gsz FROM grp GROUP BY rep),
       |rbands AS (
       |  SELECT b.doc_id, b.band_id, b.band_key
       |  FROM bands b JOIN grp g ON b.doc_id = g.doc_id
       |  WHERE g.rep = b.doc_id),
       |${candSql("r")},
       |${edgesSql("r")}""".stripMargin

  /** Rep-level recursive closure + member expansion, shared by the
    * cluster labels and the size histogram: min reachable rep per rep
    * node, then every group member takes its rep's converged label
    * (falling back to the rep itself for groups whose only edges are
    * within-clique). Output domain unchanged from the doc-level form:
    * members of any ≥2-member group plus members of groups whose rep
    * carries a cross edge. */
  private[ops] val RepClosureCtes: String =
    s"""$RepVerifiedEdgesCtes,
       |reach(node, m) AS (
       |  SELECT a, a FROM redges
       |  UNION
       |  SELECT e.b, r.m FROM reach r JOIN redges e ON e.a = r.node),
       |rcomp AS (
       |  SELECT node AS rep, min(m) AS cluster_id FROM reach GROUP BY node),
       |outreps AS (
       |  -- explicit DISTINCT over UNION ALL: inside a WITH RECURSIVE
       |  -- context DuckDB 1.0 does not reliably dedup a named CTE built
       |  -- from chained UNIONs (observed duplicates at sf0.01)
       |  SELECT DISTINCT rep FROM (
       |    SELECT rep FROM gsz WHERE gsz >= 2
       |    UNION ALL SELECT doc_a FROM rverified
       |    UNION ALL SELECT doc_b FROM rverified) u),
       |comp AS (
       |  SELECT g.doc_id, coalesce(rc.cluster_id, g.rep) AS cluster_id
       |  FROM grp g
       |  JOIN outreps o ON g.rep = o.rep
       |  LEFT JOIN rcomp rc ON g.rep = rc.rep)""".stripMargin

  /** Recursive-CTE transitive closure: min reachable id per node — the
    * oracle computes the exact fixpoint the propagation loop converges
    * to, over the contracted rep graph (see [[RepVerifiedEdgesCtes]]). */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE $RepClosureCtes
       |SELECT doc_id, cluster_id FROM comp ORDER BY doc_id""".stripMargin

  // ---- dup_pagerank: authority scoring over the near-dup graph ------------

  /** Fixed-point PageRank over the verified near-dup graph — authority
    * scoring for canonical-document selection: within a duplicate
    * cluster the highest-PR document is the most-connected version (the
    * one most other copies are near), a stronger canonical pick than
    * smallest-id when copies differ in quality. PrIters rounds of the
    * classic update in pure int64 fixed point (damping 85/100, teleport
    * 150000 e6-ticks, per-edge contribution pr div deg — integer
    * division, order-independent sums), so both engines land on
    * bit-identical scores; top PrTopN by (pr desc, doc_id).
    *
    * Scale shape (the graph_degree/dedup_clusters rep trick, applied to
    * an iterative kernel): every member of an identical-shingle-set
    * group is structurally symmetric in the doc-level graph — size−1
    * sibling edges plus complete bipartite edges to each neighboring
    * rep's group — so all members share one PR value every round, and
    * the engine iterates ONLY over rep nodes with group sizes as edge
    * multiplicities: recv = (size−1)·(pr div deg) from siblings plus
    * Σ_h size_h·(pr_h div deg_h) over rep neighbors. Per-round cost
    * tracks DISTINCT content (rep edges), not copy count — the oracle
    * brute-forces the expanded doc-level graph and the outputs must
    * agree exactly. Fixed iteration count (no convergence test) keeps
    * the loop deterministic and the lineage bounded; each round is
    * localCheckpoint-truncated like the cluster closure. */
  val PrIters = 3
  val PrTopN = 20L
  val PrTeleportE6 = 150000L

  def dupPagerank(spark: SparkSession, dir: String): DataFrame = {
    val members = repMembers(spark, dir)
    val sizes = groupSizes(members)
    val re = thresholdedRepPairs(spark, dir)
    val nbr = repNeighbours(re, sizes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // rep-level node domain = groups with an internal edge (size >= 2) or
    // a cross edge — exactly the docs dedup_clusters emits
    val deg = sizes.where(col("size") >= 2).select("rep")
      .union(re.select(col("doc_a").as("rep")))
      .union(re.select(col("doc_b").as("rep")))
      .distinct()
      .join(repDegrees(sizes, nbr), "rep")
      .localCheckpoint(eager = true)
    var pr = deg.withColumn("pr", lit(1000000L))
    for (_ <- 1 to PrIters) {
      val share = pr.select(col("rep"), col("size"), col("deg"),
        expr("pr div deg").as("sh"))
      val sibling = share.select(col("rep"),
        ((col("size") - 1) * col("sh")).as("recv"))
      val cross = nbr
        .join(share.select(col("rep").as("nrep"), (col("sh")).as("nsh")), "nrep")
        .select(col("rep"), (col("nsz") * col("nsh")).as("recv"))
      val recv = sibling.union(cross).groupBy("rep").agg(sum("recv").as("recv"))
      pr = deg.join(recv, "rep")
        .select(col("rep"), col("size"), col("deg"),
          (lit(PrTeleportE6) + expr(s"(85 * recv) div 100")).as("pr"))
        .localCheckpoint(eager = true)
    }
    // global top-N via sort+limit (TakeOrderedAndProject — a distributed
    // per-partition top-K, never a single-partition sort of the node
    // set); the rank window then runs over the bounded PrTopN-row frame
    val out = members.join(
        pr.select(col("rep"), col("deg").as("degree"), col("pr").as("pr_e6")), "rep")
      .orderBy(col("pr_e6").desc, col("doc_id")).limit(PrTopN.toInt)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("pr_e6").desc, col("doc_id"))).cast("long"))
      .select(col("rnk"), col("doc_id"), col("degree"), col("pr_e6"))
      .orderBy("rnk")
    nbr.unpersist(blocking = false)
    out
  }

  /** Oracle twin: brute-force doc-level PageRank over the expanded
    * `edges` CTE, one generated CTE per iteration (the Lloyd pattern —
    * the knob and the SQL cannot drift). */
  def dupPagerankSql: String = {
    val steps = (1 to PrIters).map { it =>
      s"""pr$it AS (
         |  SELECT d.doc_id, d.degree,
         |         $PrTeleportE6 + (85 * s.recv) // 100 AS pr
         |  FROM prdeg d JOIN (
         |    SELECT e.b AS doc_id, CAST(sum(p.pr // p.degree) AS BIGINT) AS recv
         |    FROM edges e JOIN pr${it - 1} p ON e.a = p.doc_id
         |    GROUP BY e.b) s ON d.doc_id = s.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $VerifiedEdgesCtes,
       |prdeg AS (
       |  SELECT a AS doc_id, CAST(count(*) AS BIGINT) AS degree
       |  FROM edges GROUP BY a),
       |pr0 AS (
       |  SELECT doc_id, degree, CAST(1000000 AS BIGINT) AS pr FROM prdeg),
       |$steps,
       |prranked AS (
       |  SELECT doc_id, degree, pr,
       |         row_number() OVER (ORDER BY pr DESC, doc_id) AS rnk
       |  FROM pr$PrIters)
       |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, degree,
       |       CAST(pr AS BIGINT) AS pr_e6
       |FROM prranked WHERE rnk <= $PrTopN
       |ORDER BY rnk""".stripMargin
  }

  // ---- decontaminate ------------------------------------------------------

  /** Eval-set decontamination: training documents sharing ≥ MinShared
    * bigram shingles with any document of the held-out set (source
    * 'src0' stands in for the benchmark corpus). The join key is the
    * shingle hash — the canonical decontamination shuffle — after
    * dropping shingles common to more than MaxShingleDf training docs
    * (hot n-grams carry no contamination signal and would dominate the
    * shuffle at 100 TB). */
  val EvalSource = "src0"
  val MinShared = 5L
  val MaxShingleDf = 100L

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
    val exploded = sets.select(col("doc_id"), col("source"),
      explode(col("sh")).as("h"))
    val hot = exploded.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") > MaxShingleDf).select("h")
    val cool = exploded.join(hot, Seq("h"), "left_anti")
    val eval_ = cool.where(col("source") === EvalSource)
      .select(col("h"), col("doc_id").as("eval_doc"))
    val train = cool.where(col("source") =!= EvalSource)
      .select(col("h"), col("doc_id").as("train_doc"))
    train.join(eval_, Seq("h"))
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinShared)
      .orderBy("train_doc", "eval_doc")
  }

  val decontaminateSql: String =
    s"""WITH $ShSqlCte,
       |exploded AS (
       |  SELECT s.doc_id, d.source, unnest(s.sh) AS h
       |  FROM shs s JOIN documents d ON s.doc_id = d.doc_id),
       |hot AS (
       |  SELECT h FROM exploded GROUP BY h HAVING count(*) > $MaxShingleDf),
       |cool AS (
       |  SELECT e.* FROM exploded e LEFT JOIN hot ON e.h = hot.h
       |  WHERE hot.h IS NULL)
       |SELECT t.doc_id AS train_doc, v.doc_id AS eval_doc,
       |       count(*) AS n_shared
       |FROM cool t JOIN cool v ON t.h = v.h
       |WHERE t.source <> '$EvalSource' AND v.source = '$EvalSource'
       |GROUP BY train_doc, eval_doc
       |HAVING count(*) >= $MinShared
       |ORDER BY train_doc, eval_doc""".stripMargin

  // ---- dedup_simhash ------------------------------------------------------

  /** 63-bit SimHash over the token-hash multiset: bit i set when strictly
    * more token hashes have bit i set than clear. 63 bits (not 64) keeps
    * the fingerprint non-negative, so shifts and bucket masks behave
    * identically on both engines; the width exists so the multi-probe
    * bands can be 15 bits wide — narrow bands over a short fingerprint
    * make buckets quadratic-ly hot at scale (measured: 8-bit bands over
    * 50k docs cost 78 s; 15-bit bands cost 3 s). Token hashes are 31-bit,
    * so bits above 30 derive from a second affine mix of the token hash. */
  val SimhashBits = 63

  /** Single-probe bucket width: SELF-DERIVED from the document count
    * (Knobs.simhashBucketBits: ⌈log2(N/8)⌉, floor 16 = the historical
    * fixed width) — with a fixed width, per-bucket population and hence
    * the pairs path's join grows linearly in N and pair candidates
    * quadratically; deriving the width keeps DISTINCT-fingerprint bucket
    * population ~constant. Duplicate fingerprints are rep-collapsed
    * before any bucket join (see [[simhashReps]]), so distinct
    * population is the right unit. */
  def BucketBits: Int = graft.Knobs.simhashBucketBits

  /** SimHash + bucket over any frame carrying (doc_id, text) — shared by
    * the fingerprint report and the agreement matrix's text-rep path. */
  private def simhashOf(docs: DataFrame): DataFrame = {
    val th = transform(split(norm, " "), t => charHash(t))
    // widen each 31-bit token hash to 62 bits: low half the hash itself,
    // high half an affine remix (same int64 math on both engines)
    val wide = transform(col("th"), x => x + (x * 1103515245L + 12345L) % P * P)
    docs
      .select(col("doc_id"), th.as("th"))
      .select(col("doc_id"), wide.as("tw"))
      .select(col("doc_id"),
        graft.functions.HashExprs.simHash(col("tw"), SimhashBits).as("simhash"))
      .withColumn("bucket", shiftright(col("simhash"), SimhashBits - BucketBits))
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashOf(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Shared oracle CTEs: token hashes → widened hashes → 63-bit simhash →
    * bucket (mirrors dedupSimhash exactly). A def, not a val: the bucket
    * shift embeds the corpus-derived [[BucketBits]], which must be read
    * AFTER the corpus directory is known, never frozen at object init. */
  private def SimhashCtes: String = {
    val bitTerms = (0 until SimhashBits).map { i =>
      s"CASE WHEN 2 * len(list_filter(tw, x -> ((x >> $i) & 1) = 1)) > len(tw) THEN ${1L << i} ELSE 0 END"
    }.mkString("\n    + ")
    s"""t AS (
       |  SELECT doc_id,
       |    list_transform(string_split(lower(trim(text)), ' '),
       |      s -> ${TextStats.fpSql("s")}) AS th
       |  FROM documents),
       |tws AS (
       |  SELECT doc_id,
       |    list_transform(th, x -> x + (x * 1103515245 + 12345) % $P * $P) AS tw
       |  FROM t),
       |s AS (
       |  SELECT doc_id,
       |    $bitTerms AS simhash
       |  FROM tws),
       |sh AS (
       |  SELECT doc_id, CAST(simhash AS BIGINT) AS simhash,
       |         CAST(simhash AS BIGINT) >> ${SimhashBits - BucketBits} AS bucket
       |  FROM s)""".stripMargin
  }

  def dedupSimhashSql: String =
    s"""WITH $SimhashCtes
       |SELECT doc_id, simhash, bucket
       |FROM sh ORDER BY doc_id""".stripMargin

  // ---- shingle_df_hist ----------------------------------------------------

  /** Document-frequency histogram of the shingle space, in power-of-two
    * buckets — the statistic that SIZES every df-gated knob in this
    * engine (decontaminate's hot-shingle cap, jaccard_prefix's
    * df-ascending prefix order, bloom sizing): how much of the shingle
    * mass is singleton vs boilerplate. The log2 bucket is derived by
    * integer CASE ranges, not floor(log2(·)) — a float log at bucket
    * boundaries is exactly the kind of cross-engine coin-flip the
    * portability contract bans. One map-side-combined groupBy on the
    * int64 shingle, one on the ≤16 bucket keys. */
  val DfHistBuckets = 16

  private def dfBucketCase(dfCol: String): String =
    (0 until DfHistBuckets).map { k =>
      val hi = (1L << (k + 1)) - 1
      if (k == DfHistBuckets - 1) s"ELSE $k"
      else s"WHEN $dfCol <= $hi THEN $k"
    }.mkString("CASE ", " ", " END")

  def shingleDfHist(spark: SparkSession, dir: String): DataFrame = {
    val df = shingleSets(spark, dir)
      .select(explode(col("sh")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
    df.withColumn("bucket", expr(dfBucketCase("df")).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("sum_df"))
      .orderBy("bucket")
  }

  def shingleDfHistSql: String =
    s"""WITH $ShSqlCte,
       |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shs),
       |dfs AS (SELECT shingle, count(*) AS df FROM ex GROUP BY shingle)
       |SELECT CAST(${dfBucketCase("df")} AS BIGINT) AS bucket,
       |       count(*) AS n_shingles, CAST(sum(df) AS BIGINT) AS sum_df
       |FROM dfs GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- dedup_threshold_sweep ----------------------------------------------

  /** Dedup yield as a function of the Jaccard threshold: for each
    * candidate τ, how many verified pairs qualify and how many distinct
    * documents they touch — the tuning curve consulted BEFORE fixing the
    * threshold that decides what fraction of a 100 TB corpus gets
    * dropped. Rides the memoized REP-level frames (no new candidate
    * generation, nothing quadratic in duplicate multiplicity); the sweep
    * is a ≤|taus|-fold conditional aggregation plus one distinct-rep
    * reduction per τ over the bounded rep-pair set. */
  val SweepTausE4 = Seq(5000L, 7000L, 8000L, 9000L)

  // ---- doc_rarity: rare-shingle noise detector ----------------------------

  /** Mean shingle document-frequency per document — the log-free fluency
    * proxy (the CCNet recipe scores wellformedness with an LM; corpus df
    * statistics give the same signal without one): a document whose
    * bigram shingles are all corpus-rare is overwhelmingly OCR garbage,
    * mojibake, or boilerplate-free noise, and ranks at the bottom here.
    * Reports the RarityTopN rarest documents by mean df in 1e-4 ticks
    * (floor(1e4·Σdf / n) — one integer division, order-independent
    * sums), ties to the smaller doc_id.
    *
    * Scale shape (rep-level): the score is a pure function of the
    * shingle SET given the corpus-wide df table, so every member of an
    * identical-set group ([[repMembers]]) shares one score, and df —
    * which counts DOCUMENTS containing a shingle — is recovered exactly as
    * the group-size-weighted rep df (Σ over reps containing h of |G|).
    * The explode + df join therefore run over DISTINCT shingle sets, not
    * copies (the doc-level join was the family's one remaining
    * copy-linear member: 44.5 s min-of-3 at the 5M-doc stress point,
    * where reps number ~5k). The global bottom-N docs can only come from
    * the bottom-N groups ordered by best-member key (mean, rep): any
    * other group is preceded by ≥N group minima, hence by ≥N docs — so
    * the member expansion is a broadcast of ≤N rep rows, and the rank
    * window only ever sees the bounded RarityTopN-row result. */
  val RarityTopN = 20L

  def docRarity(spark: SparkSession, dir: String): DataFrame = {
    val members = repMembers(spark, dir)
    val rex = shingleSets(spark, dir)
      .join(members.where(col("doc_id") === col("rep")).select("doc_id"), "doc_id")
      .join(groupSizes(members).withColumnRenamed("rep", "doc_id"), "doc_id")
      .select(col("doc_id").as("rep"), col("size"), explode(col("sh")).as("h"))
    val dfreq = rex.groupBy("h").agg(sum("size").as("df"))
    val repScore = rex.join(dfreq, "h")
      .groupBy("rep")
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("sum_df"))
      .withColumn("mean_df_e4", expr("(10000 * sum_df) div n_shingles"))
      .orderBy(col("mean_df_e4").asc, col("rep")).limit(RarityTopN.toInt)
    members.join(broadcast(repScore), "rep")
      .orderBy(col("mean_df_e4").asc, col("doc_id")).limit(RarityTopN.toInt)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("mean_df_e4").asc, col("doc_id"))).cast("long"))
      .select("rnk", "doc_id", "n_shingles", "sum_df", "mean_df_e4")
      .orderBy("rnk")
  }

  def docRaritySql: String =
    s"""WITH $ShSqlCte,
       |rex AS (SELECT doc_id, unnest(sh) AS h FROM shs),
       |rdf AS (SELECT h, count(*) AS df FROM rex GROUP BY h),
       |rper AS (
       |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |         CAST(sum(d.df) AS BIGINT) AS sum_df
       |  FROM rex e JOIN rdf d ON e.h = d.h GROUP BY e.doc_id),
       |rr AS (
       |  SELECT doc_id, n_shingles, sum_df,
       |         (10000 * sum_df) // n_shingles AS mean_df_e4,
       |         row_number() OVER (ORDER BY (10000 * sum_df) // n_shingles ASC,
       |                            doc_id) AS rnk
       |  FROM rper)
       |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, n_shingles, sum_df, mean_df_e4
       |FROM rr WHERE rnk <= $RarityTopN
       |ORDER BY rnk""".stripMargin

  // ---- cluster_size_hist: component-size health report --------------------

  /** Size histogram of the converged near-dup components — the
    * giant-component health check read AFTER the closure: one huge
    * cluster means boilerplate or a template stitched unrelated
    * documents together (and predicts how destructive keep-one-per-
    * cluster dedup will be), while a flat histogram of small cliques is
    * the healthy copy-corpus shape. Derives from the same converged
    * labels dedup_clusters emits (shared plan, shared rep-level loop);
    * two count-only groupBys on top, output bounded by the max component
    * size. */
  def clusterSizeHist(spark: SparkSession, dir: String): DataFrame =
    convergedClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy("csize")
      .agg(count(lit(1)).as("n_clusters"), min("cluster_id").as("min_cluster"))
      .orderBy("csize")

  def clusterSizeHistSql: String =
    s"""WITH RECURSIVE $RepClosureCtes,
       |cs AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize
       |  FROM comp GROUP BY cluster_id)
       |SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
       |       min(cluster_id) AS min_cluster
       |FROM cs GROUP BY csize ORDER BY csize""".stripMargin

  // ---- source_diversity: per-source shingle repetition mass ---------------

  /** Per-source content diversity: total shingle occurrences (Σ per-doc
    * distinct shingles) vs source-wide DISTINCT shingles — the gap is the
    * cross-document repetition mass, and dup_ratio_e4 =
    * floor(1e4·(occ − distinct)/occ) is the fraction of the source's
    * shingle volume that is re-observation of content it already has
    * (self-BLEU's corpus-level cousin, in integers). A source near 10000
    * is template spam or mirrored content; mixing-weight decisions read
    * this BEFORE trusting a source's token count as information mass.
    *
    * Scale shape: one explode over the memoized shingle sets, then two
    * map-side-combined aggregations keyed by (source[, hash]) — the
    * distinct is the standard composite-key shuffle (agg_skew_distinct's
    * shape); output is #sources rows. */
  def sourceDiversity(spark: SparkSession, dir: String): DataFrame = {
    val ex = shingleSets(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
      .select(col("source"), col("doc_id"), explode(col("sh")).as("h"))
    ex.groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("shingle_occ"),
        countDistinct("h").as("distinct_sh"))
      .withColumn("dup_ratio_e4",
        expr("(10000 * (shingle_occ - distinct_sh)) div shingle_occ"))
      .orderBy("source")
  }

  def sourceDiversitySql: String =
    s"""WITH $ShSqlCte,
       |sdx AS (
       |  SELECT d.source, s.doc_id, unnest(s.sh) AS h
       |  FROM shs s JOIN documents d ON s.doc_id = d.doc_id),
       |sdg AS (
       |  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |         CAST(count(*) AS BIGINT) AS shingle_occ,
       |         CAST(count(DISTINCT h) AS BIGINT) AS distinct_sh
       |  FROM sdx GROUP BY source)
       |SELECT source, n_docs, shingle_occ, distinct_sh,
       |       (10000 * (shingle_occ - distinct_sh)) // shingle_occ AS dup_ratio_e4
       |FROM sdg ORDER BY source""".stripMargin

  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    // Arithmetic over the REP-level frames: the output is |taus| count
    // rows, and filtering the expanded pair frame — quadratic in
    // duplicate multiplicity by contract — would cost its whole size.
    // Identical-set groups pair at J = 1, so for τ ≤ 1 every size-s group
    // contributes C(s,2) pairs and all its members are touched; a
    // qualifying cross rep pair contributes size_a·size_b pairs and
    // touches every member of both groups. The counts are IDENTICAL to
    // filtering the expansion (the oracle still computes the expanded
    // form), and flat in multiplicity.
    // Single-pass form: pairs(τ) = Σ C(s,2) over dup groups (τ-free for
    // τ ≤ 1) + Σ sa·sb over qualifying cross pairs — a conditional sum
    // per τ in ONE aggregation over the cross frame. Docs touched: a rep
    // r's members are touched at τ iff size(r) ≥ 2 OR r has a cross pair
    // with J ≥ τ — so join each rep its MAX cross Jaccard once, and the
    // per-τ distinct-doc reduction becomes conditional sums over one
    // bounded rep frame, read once rather than once per τ.
    val sizes = repSizes(spark, dir)
    val cross = repVerifiedPairs(spark, dir)
      .join(sizes.select(col("rep").as("rep_a"), col("size").as("sza")), "rep_a")
      .join(sizes.select(col("rep").as("rep_b"), col("size").as("szb")), "rep_b")
    val cpCols = SweepTausE4.map { tau =>
      coalesce(sum(when(col("jaccard_e4") >= tau, col("sza") * col("szb"))
        .otherwise(0L)), lit(0L)).as(s"cp_$tau")
    }
    val crossAgg = cross.agg(cpCols.head, cpCols.tail: _*)
    val maxJ = repVerifiedPairs(spark, dir)
      .select(col("rep_a").as("rep"), col("jaccard_e4"))
      .unionByName(repVerifiedPairs(spark, dir)
        .select(col("rep_b").as("rep"), col("jaccard_e4")))
      .groupBy("rep").agg(max("jaccard_e4").as("max_j"))
    val rdCols = coalesce(sum(when(col("size") >= 2, expr("size * (size - 1) div 2"))
        .otherwise(0L)), lit(0L)).as("wp") +:
      SweepTausE4.map { tau =>
        coalesce(sum(when(col("size") >= 2 || col("max_j") >= tau, col("size"))
          .otherwise(0L)), lit(0L)).as(s"td_$tau")
      }
    val repAgg = sizes.join(maxJ, Seq("rep"), "left")
      .agg(rdCols.head, rdCols.tail: _*)
    // ONE 1-row × 1-row crossJoin + an explicit row generator (stack)
    // instead of |taus| unioned crossJoin branches: each union branch
    // would re-compute BOTH aggregates, because Catalyst does not share
    // subtrees across union arms. Per-τ row: (τ, wp + cp_τ, td_τ).
    // bounded-cross: 1-row x 1-row
    val stackExpr = SweepTausE4
      .map(tau => s"${tau}L, wp + cp_$tau, td_$tau")
      .mkString(s"stack(${SweepTausE4.size}, ", ", ",
        ") as (tau_e4, n_pairs, n_docs_touched)")
    crossAgg.crossJoin(broadcast(repAgg))
      .selectExpr(stackExpr)
      .orderBy("tau_e4")
  }

  /** Sweep oracle: one conditional-aggregation pass per frame (τ-arms of
    * correlated subqueries made DuckDB re-run the banding chain per arm).
    * `jp` (the expanded doc-level pair frame — kept doc-level
    * deliberately, so the oracle still verifies the engine's rep-frame
    * arithmetic against the brute-force expansion) is MATERIALIZED once;
    * n_pairs(τ) is a conditional sum over it and n_docs_touched(τ) a
    * conditional sum over each doc's max pair Jaccard. */
  def dedupThresholdSweepSql: String = {
    val pCols = SweepTausE4.map { tau =>
      s"CAST(coalesce(sum(CASE WHEN jaccard_e4 >= $tau THEN 1 ELSE 0 END), 0) AS BIGINT) AS p_$tau"
    }.mkString(",\n         ")
    val tCols = SweepTausE4.map { tau =>
      s"CAST(coalesce(sum(CASE WHEN mj >= $tau THEN 1 ELSE 0 END), 0) AS BIGINT) AS t_$tau"
    }.mkString(",\n         ")
    val arms = SweepTausE4.map { tau =>
      s"""SELECT CAST($tau AS BIGINT) AS tau_e4, pa.p_$tau AS n_pairs,
         |       ta.t_$tau AS n_docs_touched
         |FROM pa, ta""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $CandSqlCtes,
       |jp AS MATERIALIZED (
       |  SELECT doc_a, doc_b, $CsizedJaccard AS jaccard_e4
       |  FROM csized),
       |pa AS (
       |  SELECT $pCols
       |  FROM jp),
       |touched AS (
       |  SELECT d, max(j) AS mj FROM (
       |    SELECT doc_a AS d, jaccard_e4 AS j FROM jp
       |    UNION ALL SELECT doc_b, jaccard_e4 FROM jp) GROUP BY d),
       |ta AS (
       |  SELECT $tCols
       |  FROM touched)
       |$arms
       |ORDER BY tau_e4""".stripMargin
  }

  // ---- dedup_agreement ----------------------------------------------------

  /** doc_id → representative (group min doc_id) over groups of IDENTICAL
    * normalized text — the finest collapse both detectors respect:
    * minhash AND simhash are pure functions of the normalized text, so
    * every member pair of two text groups lands in the same agreement
    * bucket with the same (jaccard, hamming) as the rep pair. */
  private[ops] def textGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"dedup.textGroups:$dir") {
      repOf(Tables.documents(spark, dir), norm)
    }

  /** Method-agreement matrix between the two near-dup detectors: the
    * MinHash-LSH candidate pairs (with exact Jaccard) full-outer-joined
    * against the single-probe SimHash Hamming pairs, bucketed into both /
    * minhash_only / simhash_only — the cross-check a pipeline runs
    * before trusting either detector alone, since the two families miss
    * DIFFERENT pairs (shingle-set resemblance vs bit-level token
    * distribution). Both sides run the production candidate generators
    * ([[lshVerifyChain]], [[singleProbePairs]]), so the report certifies
    * exactly what the dedup passes emit.
    *
    * Rep-level: both detectors are deterministic in the normalized text,
    * so the matrix is computed over text-group reps with each rep pair
    * weighted by |G_a|·|G_b| member pairs, plus the within-group pairs:
    * C(g,2) per group, always a simhash pair (hamming 0), a minhash pair
    * iff the group's text has ≥ 2 tokens (the shingle domain). The
    * expanded pair frames are quadratic in duplicate multiplicity and
    * are never built. */
  def dedupAgreement(spark: SparkSession, dir: String): DataFrame = {
    val tg = textGroups(spark, dir)
    val gsz = groupSizes(tg)
    val reps = tg.where(col("doc_id") === col("rep")).select("doc_id")
    // both text-rep candidate chains are deterministic per corpus dir,
    // so they are memoized like the other index builds
    val mhp = Tables.memoPersist(spark, s"dedup.agreeMhp:$dir") {
      lshVerifyChain(shingleSets(spark, dir).join(reps, "doc_id"))
    }
    val shp = Tables.memoPersist(spark, s"dedup.agreeShp:$BucketBits:$dir") {
      singleProbePairs(simhashOf(Tables.documents(spark, dir).join(reps, "doc_id"))
        .withColumnRenamed("doc_id", "rep"))
        .select(col("rep_a").as("s_a"), col("rep_b").as("s_b"), col("hamming"))
    }
    val cross = mhp.join(shp,
        col("rep_a") === col("s_a") && col("rep_b") === col("s_b"), "full_outer")
      .select(
        when(col("rep_a").isNotNull && col("s_a").isNotNull, "both")
          .when(col("rep_a").isNotNull, "minhash_only")
          .otherwise("simhash_only").as("method"),
        coalesce(col("jaccard_e4"), lit(0L)).as("j"),
        coalesce(col("hamming"), lit(0L)).as("h"),
        coalesce(col("rep_a"), col("s_a")).as("ra"),
        coalesce(col("rep_b"), col("s_b")).as("rb"))
      .join(gsz.select(col("rep").as("ra"), col("size").as("ga")), "ra")
      .join(gsz.select(col("rep").as("rb"), col("size").as("gb")), "rb")
      .select(col("method"), (col("ga") * col("gb")).as("w"), col("j"), col("h"))
    val inShingleDomain = col("in_sh").isNotNull
    val within = gsz.where(col("size") >= 2)
      .join(shingleSets(spark, dir).select(col("doc_id").as("rep"), lit(true).as("in_sh")),
        Seq("rep"), "left")
      .select(when(inShingleDomain, "both").otherwise("simhash_only").as("method"),
        expr("size * (size - 1) div 2").as("w"),
        when(inShingleDomain, 10000L).otherwise(0L).as("j"), lit(0L).as("h"))
    cross.unionByName(within)
      .groupBy("method")
      .agg(sum("w").as("n_pairs"),
        sum(col("w") * col("j")).as("sum_jaccard_e4"),
        sum(col("w") * col("h")).as("sum_hamming"))
      .orderBy("method")
  }

  def dedupAgreementSql: String =
    s"""WITH $CandSqlCtes,
       |$SimhashCtes,
       |mhp AS (
       |  SELECT doc_a, doc_b, $CsizedJaccard AS jaccard_e4
       |  FROM csized),
       |shp AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM sh a JOIN sh b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming),
       |agr AS (
       |  SELECT CASE WHEN m.doc_a IS NOT NULL AND p.doc_a IS NOT NULL THEN 'both'
       |              WHEN m.doc_a IS NOT NULL THEN 'minhash_only'
       |              ELSE 'simhash_only' END AS method,
       |         coalesce(m.jaccard_e4, 0) AS j, coalesce(p.hamming, 0) AS h
       |  FROM mhp m FULL OUTER JOIN shp p
       |    ON m.doc_a = p.doc_a AND m.doc_b = p.doc_b)
       |SELECT method, count(*) AS n_pairs,
       |       CAST(sum(j) AS BIGINT) AS sum_jaccard_e4,
       |       CAST(sum(h) AS BIGINT) AS sum_hamming
       |FROM agr GROUP BY method ORDER BY method""".stripMargin

  // ---- dedup_canonical: keep-one rewrite plan per near-dup cluster --------

  /** The step a curation pipeline runs AFTER the cluster closure: pick one
    * canonical document per converged near-dup cluster and account for what
    * the rewrite drops. Keep rule: longest document wins (n_chars DESC),
    * doc_id ASC tiebreak — deterministic, and "longest" is the standard
    * near-dup keeper heuristic (supersets beat their fragments).
    *
    * Scale shape: rides the memoized converged labels (the closure loop
    * runs once per session however many consumers), one equi-join to the
    * documents frame for lengths, one window rank partitioned by
    * cluster_id, one keyed aggregate — no new quadratic anything; output
    * is one row per cluster. */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val labeled = convergedClusters(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labeled.withColumn("rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(
        max(when(col("rk") === 1, col("doc_id"))).as("keep_doc_id"),
        count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).as("n_dropped"),
        sum(when(col("rk") > 1, col("n_chars")).otherwise(lit(0L)))
          .as("chars_dropped"))
      .orderBy("cluster_id")
  }

  def dedupCanonicalSql: String =
    s"""WITH RECURSIVE $RepClosureCtes,
       |ranked AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars,
       |         row_number() OVER (PARTITION BY c.cluster_id
       |                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
       |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
       |SELECT cluster_id,
       |       max(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id,
       |       count(*) AS n_members,
       |       count(*) - 1 AS n_dropped,
       |       CAST(sum(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT)
       |         AS chars_dropped
       |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // ---- dedup_snm: sorted-neighborhood candidate generation ----------------

  /** Sort-key prefix length and neighbor window — Hernández & Stolfo 1995
    * ("The Merge/Purge Problem for Large Databases"): order the corpus by
    * a discriminating key, compare each record only with its next
    * [[SnmWindow]] neighbors in that order. */
  val SnmKeyLen = 24
  val SnmWindow = 4L

  /** Sorted-neighborhood near-dup pass: a third, genuinely different
    * BLOCKING method next to hash buckets (MinHash-LSH bands) and
    * fingerprint buckets (SimHash) — candidate pairs come from adjacency
    * in a global (normalized-prefix, doc_id) sort order, then get the
    * family's exact shingle-Jaccard verification at the shared
    * [[ClusterMinJaccardE4]] threshold. Window-bounded recall is the
    * method's documented property (an M-copy run emits only W pairs per
    * member), and its strength is the complement: key-adjacent
    * near-dups with low shingle overlap never hash together but DO sort
    * together.
    *
    * Scale shape: the global order is [[Tables.globalRank]] (no
    * single-reducer sort), neighbor pairing is an equi-join on
    * rank+gap, verification re-joins the persisted shingle frame by id;
    * output is ≤ W·N rows by construction. */
  def dedupSnm(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(norm, 1, SnmKeyLen).as("key"),
        split(norm, " ").as("toks"))
      .where(size(col("toks")) >= 2) // the shingle domain, exactly
      .select("doc_id", "key")
    // Both join sides of the neighbor pairing read this frame; the rank
    // orders by (key, doc_id), a total order, so each side computes the
    // same ranks.
    val ranked =
      Tables.globalRank(keyed, Nil, col("key"), col("doc_id")).select("doc_id", "rnk")
    val pairs = ranked
      .select(col("doc_id").as("doc_a"), col("rnk"),
        explode(sequence(lit(1L), lit(SnmWindow))).as("rank_gap"))
      .withColumn("rnk_b", col("rnk") + col("rank_gap"))
      .join(ranked.select(col("doc_id").as("doc_b"),
        col("rnk").as("rnk_b")), "rnk_b")
      .select("doc_a", "doc_b", "rank_gap")
    val sh = shingleSets(spark, dir)
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .withColumn("isz", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard_e4", jaccardE4(col("isz"), size(col("sa")), size(col("sb"))))
      .where(col("jaccard_e4") >= ClusterMinJaccardE4)
      .select("doc_a", "doc_b", "rank_gap", "jaccard_e4")
      .orderBy("doc_a", "doc_b")
  }

  val dedupSnmSql: String =
    s"""WITH $ShSqlCte,
       |k AS (
       |  SELECT doc_id, substr(lower(trim(text)), 1, $SnmKeyLen) AS key
       |  FROM documents
       |  WHERE len(string_split(lower(trim(text)), ' ')) >= 2),
       |r AS (
       |  SELECT doc_id, key,
       |         CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS rnk
       |  FROM k),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         b.rnk - a.rnk AS rank_gap
       |  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + $SnmWindow),
       |v AS (
       |  SELECT p.doc_a, p.doc_b, p.rank_gap,
       |         len(list_intersect(sa.sh, sb.sh)) AS isz,
       |         len(sa.sh) AS sza, len(sb.sh) AS szb
       |  FROM p
       |  JOIN shs sa ON p.doc_a = sa.doc_id
       |  JOIN shs sb ON p.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, rank_gap, $CsizedJaccard AS jaccard_e4
       |FROM v
       |WHERE $CsizedJaccard >= $ClusterMinJaccardE4
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- winnow_overlap: MOSS-style winnowed-fingerprint overlap ------------

  /** Winnowing parameters (Schleimer et al. 2003): K-byte grams, window
    * of W gram hashes; guarantee threshold t = K + W - 1 = 11 — any
    * shared substring of ≥ 11 chars shares at least one fingerprint. */
  val WinnowK = 8
  val WinnowW = 4
  /** Fingerprints present in more than this many DISTINCT winnow sets are
    * corpus boilerplate and are excluded from overlap counting (the MOSS
    * "too common to be interesting" rule — and the df cap that keeps the
    * fp bucket join from going quadratic on hot fingerprints). */
  val WinnowMaxDf = 100L
  /** Pairs must share at least this many retained fingerprints. */
  val WinnowMinShared = 3L
  /** ...and cover at least this fraction (1e-4 fixed point) of the
    * smaller document's retained print set. The shared-count floor alone
    * leaves the REPORT near-quadratic on a common-vocabulary corpus
    * (sf0.001 measured: 87k pairs over 500 docs at ≥ 3 shared prints;
    * 31 at ≥ 50% coverage) — the df-capped candidate join underneath is
    * linear either way, this bounds the output contract. */
  val WinnowMinCovE4 = 5000L

  /** The retained winnow prints: documents grouped by identical winnowed
    * fingerprint set, each group's representative `rep` (least doc_id)
    * and `size`, and one row per print of the group whose document
    * frequency over the groups is at most [[WinnowMaxDf]]. Memoized: the
    * report reads it from both self-join sides and from the per-group
    * print count behind the coverage joins, the within rows and the
    * group sizes. Rep-scale: one row per distinct content's print. The
    * sets come from one codegen'd pass over the text column (rolling
    * gram hash + ring-buffer window minima — see
    * [[graft.functions.WinnowHashExpr]]). Documents shorter than K chars
    * have no gram and drop out. */
  private def winnowRetained(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark, s"dedup.winnow:$dir") {
      // gate on the cheap length probe, not size(fps) > 0: the latter
      // pushes below the projection and runs the O(n) winnow expression
      // twice per row (the char_collision_audit lesson), and
      // length(text) >= K is the oracle's own WHERE clause verbatim
      Tables.documents(spark, dir)
        .where(length(col("text")) >= WinnowK)
        .select(col("doc_id"),
          graft.functions.HashExprs.winnowFingerprints(
            col("text"), WinnowK, WinnowW, TextStats.FpPrime, P).as("fps"))
        .groupBy("fps").agg(min("doc_id").as("rep"), count(lit(1)).as("size"))
        // The pass must run once per document. So explode_outer: a plain
        // explode infers size(fps) > 0, which the optimizer pushes through
        // the group-by into a filter that runs the pass twice more (every
        // set here is non-empty, so both forms emit the same rows). And df
        // is a window over fp, not a join to a group-by of the same rows,
        // whose pruned copy would run the pass again.
        .select(col("rep"), col("size"), explode_outer(col("fps")).as("fp"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
        .where(col("df") <= WinnowMaxDf)
        .drop("df")
    }

  /** MOSS-style near-dup pair report over winnowed fingerprints: pairs of
    * documents sharing ≥ [[WinnowMinShared]] retained winnow prints AND
    * covering ≥ [[WinnowMinCovE4]] of the smaller retained print set,
    * with the shared count and coverage = shared / min(|fps_a|, |fps_b|)
    * in 1e-4 fixed point. Char-level and gap-tolerant where the MinHash
    * family is token-shingle-set based: a doc that copies scattered
    * ≥ (K+W−1)-char spans lights up here even when its token-set Jaccard
    * is low.
    *
    * Rep-level like the rest of the family: documents with IDENTICAL
    * winnow sets collapse to one representative, and within rows
    * (identical sets, full coverage) carry every retained print as
    * shared. The fp bucket join runs over representatives only and hot
    * fingerprints are df-capped, so the candidate search is never
    * quadratic in duplicate multiplicity. */
  def winnowOverlap(spark: SparkSession, dir: String): DataFrame = {
    // every rep of a pair or within row has a retained print, so the
    // sizes of the groups with one are all the report reads
    val retained = winnowRetained(spark, dir)
    val nSel = retained.groupBy("rep", "size").agg(count(lit(1)).as("n_sel"))
    val sizes = nSel.select("rep", "size")
    val pairs = retained.as("a")
      .join(retained.as("b"),
        col("a.fp") === col("b.fp") && col("a.rep") < col("b.rep"))
      .groupBy(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= WinnowMinShared)
      .join(nSel.select(col("rep").as("rep_a"), col("n_sel").as("na")), "rep_a")
      .join(nSel.select(col("rep").as("rep_b"), col("n_sel").as("nb")), "rep_b")
      .select(col("rep_a"), col("rep_b"), col("shared"),
        floor(lit(10000.0) * col("shared") / least(col("na"), col("nb")))
          .cast("long").as("cov_e4"))
      .where(col("cov_e4") >= WinnowMinCovE4)
    val within = nSel
      .where(col("n_sel") >= WinnowMinShared)
      .select(col("rep"), col("size"), col("n_sel").as("shared"),
        lit(10000L).as("cov_e4"))
    repReport(pairs, within, sizes)
  }

  def winnowOverlapSql: String = {
    val gramHash = TextStats.fpSql(s"substr(text, i, $WinnowK)")
    repReportSql(
      s"""ws AS (
         |  SELECT doc_id, list_sort(list_distinct(
         |           list_transform(range(1, nh - wlen + 2),
         |             j -> list_min(h[j : j + wlen - 1])))) AS fps
         |  FROM (
         |    SELECT doc_id, h, len(h) AS nh, LEAST($WinnowW, len(h)) AS wlen
         |    FROM (
         |      SELECT doc_id,
         |             list_transform(range(1, len(text) - $WinnowK + 2),
         |               i -> $gramHash) AS h
         |      FROM documents WHERE len(text) >= $WinnowK) g) t),
         |grp AS (
         |  SELECT min(doc_id) AS rep, count(*) AS grp, fps
         |  FROM ws GROUP BY fps),
         |repfps AS (SELECT rep, unnest(fps) AS fp FROM grp),
         |rf AS (
         |  SELECT r.rep, r.fp FROM repfps r
         |  JOIN (SELECT fp FROM repfps GROUP BY fp
         |        HAVING count(*) <= $WinnowMaxDf) ok ON r.fp = ok.fp),
         |nsel AS (SELECT rep, count(*) AS n_sel FROM rf GROUP BY rep),
         |wg AS (
         |  SELECT g.rep, g.grp AS gsz, n.n_sel
         |  FROM grp g LEFT JOIN nsel n ON g.rep = n.rep),
         |crossp AS (
         |  SELECT a.rep AS rep_a, b.rep AS rep_b, count(*) AS shared
         |  FROM rf a JOIN rf b ON a.fp = b.fp AND a.rep < b.rep
         |  GROUP BY a.rep, b.rep
         |  HAVING count(*) >= $WinnowMinShared),
         |crossed AS (
         |  SELECT c.rep_a, c.rep_b, c.shared,
         |         CAST(floor(10000.0 * c.shared / LEAST(na.n_sel, nb.n_sel))
         |              AS BIGINT) AS cov_e4
         |  FROM crossp c
         |  JOIN nsel na ON c.rep_a = na.rep
         |  JOIN nsel nb ON c.rep_b = nb.rep
         |  WHERE floor(10000.0 * c.shared / LEAST(na.n_sel, nb.n_sel))
         |        >= $WinnowMinCovE4)""".stripMargin,
      "crossed", "wg",
      Seq("shared" -> "n_sel", "cov_e4" -> "CAST(10000 AS BIGINT)"),
      where = s"n_sel >= $WinnowMinShared")
  }
}
