package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-rewrite cleaning passes: segment-level deduplication (the
  * CCNet/C4-style "drop repeated paragraphs everywhere" pass) and a PII
  * count/redaction pass (SURVEY.md §2 rows 83-84). Unlike the dedup
  * REPORTS in Dedup.scala, these REWRITE the documents and prove the
  * rewrite byte-identically via a portable fingerprint of the cleaned
  * text.
  *
  * Scale shape (100 TB): segment fingerprints are int64s; the keeper
  * decision is one row_number window partitioned by fingerprint (the
  * hash shuffle every distributed dedup pays), and the rebuild is a
  * per-document sort_array over that document's own bounded segment list
  * — no global sort, no driver round-trip. Hot boilerplate segments make
  * skewed fp partitions; the window computes only row_number over them
  * (no buffering of wide rows) and AQE splits the stragglers. The PII
  * pass is embarrassingly parallel per-row regex work in whole-stage
  * codegen.
  */
object Clean {

  /** Non-overlapping segment width, in tokens — the "paragraph" surrogate
    * for a corpus whose documents carry no newlines. */
  val SegTokens = 8

  private val norm = lower(trim(col("text")))

  // ---- segment_dedup ------------------------------------------------------

  /** Global segment-level dedup: split every document into consecutive
    * 8-token segments, fingerprint each, keep only the globally FIRST
    * occurrence of every fingerprint (ordered by doc_id, then position),
    * and report the rewritten document: segment and token keep-counts
    * plus the rolling fingerprint of the cleaned text (kept segments
    * re-joined in document order). An exact copy of an earlier document
    * cleans to the empty string (fingerprint 0). */
  /** (doc_id, seg_idx, seg, seg_toks, fp): the fingerprinted segment
    * frame — ONE definition shared by the dedup rewrite and the keep-K
    * ledger so segment boundaries and fingerprints cannot drift. */
  private def segFps(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(norm, " ").as("tk"))
    toks
      .withColumn("nsegs", ceil(size(col("tk")) / lit(SegTokens.toDouble)).cast("int"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nsegs") - 1), k =>
          struct(
            concat_ws(" ", slice(col("tk"), k * SegTokens + 1, lit(SegTokens))).as("seg"),
            size(slice(col("tk"), k * SegTokens + 1, lit(SegTokens))).cast("long").as("seg_toks")))))
      .select(col("doc_id"), col("pos").as("seg_idx"),
        col("col.seg").as("seg"), col("col.seg_toks").as("seg_toks"))
      .withColumn("fp", TextStats.fingerprint(col("seg")))
  }

  def segmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val segs = segFps(spark, dir)

    val kept = segs.withColumn("keep",
      row_number().over(Window.partitionBy("fp").orderBy("doc_id", "seg_idx")) === 1)

    kept.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("seg_toks")).otherwise(0L)).as("n_tokens_kept"),
        TextStats.fingerprint(
          array_join(
            transform(
              array_sort(collect_list(when(col("keep"),
                struct(col("seg_idx"), col("seg"))))),
              s => s.getField("seg")),
            " ")).as("cleaned_fp"))
      .orderBy("doc_id")
  }

  /** Oracle twin of [[segFps]] (CTEs tk → segix → segs → fps). */
  private def SegFpCtes: String =
    s"""tk AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
       |segix AS (
       |  SELECT doc_id, tk,
       |         unnest(range(0, CAST(ceil(len(tk) / ${SegTokens}.0) AS BIGINT))) AS k
       |  FROM tk),
       |segs AS (
       |  SELECT doc_id, k AS seg_idx,
       |         array_to_string(tk[k*$SegTokens+1 : k*$SegTokens+$SegTokens], ' ') AS seg,
       |         CAST(len(tk[k*$SegTokens+1 : k*$SegTokens+$SegTokens]) AS BIGINT) AS seg_toks
       |  FROM segix),
       |fps AS (
       |  SELECT doc_id, seg_idx, seg, seg_toks, ${TextStats.fpSql("seg")} AS fp
       |  FROM segs)""".stripMargin

  val segmentDedupSql: String =
    s"""WITH $SegFpCtes,
       |kept AS (
       |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id, seg_idx) = 1 AS keep
       |  FROM fps)
       |SELECT doc_id,
       |       count(*) AS n_segs,
       |       CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
       |       CAST(coalesce(sum(seg_toks) FILTER (WHERE keep), 0) AS BIGINT) AS n_tokens_kept,
       |       ${TextStats.fpSql("coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE keep), '')")} AS cleaned_fp
       |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- segment_keep_k: bounded-repetition segment ledger ------------------

  /** Keep-at-most-K segment ledger — the data-constrained-scaling rule
    * (Muennighoff et al. 2023, arXiv:2305.16264 — public: repeating data
    * up to ~4 epochs is nearly as valuable as fresh; beyond that returns
    * collapse), applied at the granularity where this corpus actually
    * repeats (segment_dedup's keep-ONE is the other endpoint): each
    * duplicate-segment group keeps min(n, KeepK) occurrences, and the
    * ledger reports per observed multiplicity the group counts and the
    * kept/dropped segment and token mass — the budget audit read before
    * choosing between keep-one, keep-K, or no segment dedup at all.
    *
    * Scale shape: the shared fingerprinted segment frame, one groupBy on
    * the 8-byte fp (count-only skew — hot boilerplate costs a count,
    * never a wide row), then a multiplicity-keyed rollup bounded by the
    * max copy count. */
  val KeepK = 4L

  def segmentKeepK(spark: SparkSession, dir: String): DataFrame =
    segFps(spark, dir)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min("seg_toks").as("seg_toks"))
      .withColumn("keep", least(col("n_copies"), lit(KeepK)))
      .groupBy("n_copies")
      .agg(count(lit(1)).as("n_groups"),
        sum("keep").as("n_kept_segs"),
        sum(col("n_copies") - col("keep")).as("n_dropped_segs"),
        sum(col("seg_toks") * col("keep")).as("kept_tokens"),
        sum(col("seg_toks") * (col("n_copies") - col("keep"))).as("dropped_tokens"))
      .orderBy("n_copies")

  def segmentKeepKSql: String =
    s"""WITH $SegFpCtes,
       |skg AS (
       |  SELECT fp, CAST(count(*) AS BIGINT) AS n_copies,
       |         CAST(min(seg_toks) AS BIGINT) AS seg_toks
       |  FROM fps GROUP BY fp),
       |skk AS (
       |  SELECT n_copies, seg_toks, least(n_copies, $KeepK) AS keep FROM skg)
       |SELECT n_copies, CAST(count(*) AS BIGINT) AS n_groups,
       |       CAST(sum(keep) AS BIGINT) AS n_kept_segs,
       |       CAST(sum(n_copies - keep) AS BIGINT) AS n_dropped_segs,
       |       CAST(sum(seg_toks * keep) AS BIGINT) AS kept_tokens,
       |       CAST(sum(seg_toks * (n_copies - keep)) AS BIGINT) AS dropped_tokens
       |FROM skk GROUP BY n_copies ORDER BY n_copies""".stripMargin

  // ---- source_copy_matrix: cross-source verbatim contamination ------------

  /** Which sources copy from which: pairs of sources sharing identical
    * fingerprinted segments, with the shared-fingerprint count — the
    * mirror/syndication detector (source_overlap measures SHINGLE
    * overlap, a fuzzy signal; this is verbatim segment identity), read
    * before treating two sources as independent evidence in a mixing
    * plan. Pair granularity is distinct fingerprints, so one hot
    * boilerplate segment counts once per pair, not once per occurrence.
    *
    * Scale shape: the (fp, source) frame is distinct-reduced map-side
    * BEFORE the self-join, and the per-fp join fan-out is bounded by
    * #sources² (≤400 rows per fingerprint however often it occurs) — a
    * hot fp costs its source-set square, never its occurrence square;
    * output is ≤ #sources² rows. */
  def sourceCopyMatrix(spark: SparkSession, dir: String): DataFrame = {
    val sfp = segFps(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .select("fp", "source").distinct()
    val a = sfp.select(col("fp"), col("source").as("source_a"))
    val b = sfp.select(col("fp").as("fp_b"), col("source").as("source_b"))
    a.join(b, col("fp") === col("fp_b") && col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_fps"))
      .orderBy("source_a", "source_b")
  }

  def sourceCopyMatrixSql: String =
    s"""WITH $SegFpCtes,
       |scm AS (
       |  SELECT DISTINCT f.fp, d.source
       |  FROM fps f JOIN documents d ON f.doc_id = d.doc_id)
       |SELECT a.source AS source_a, b.source AS source_b,
       |       CAST(count(*) AS BIGINT) AS n_shared_fps
       |FROM scm a JOIN scm b ON a.fp = b.fp AND a.source < b.source
       |GROUP BY a.source, b.source
       |ORDER BY source_a, source_b""".stripMargin

  // ---- curation_e2e: composed per-source curation summary -----------------

  /** The curation stack composed into ONE plan — per source:
    * corpus mass, quality-gate pass count (Pipeline.qualityFilter's
    * envelope), and the segment mass surviving the global keep-at-most-K
    * rewrite (segment_keep_k's rule applied occurrence-by-occurrence:
    * the first KeepK occurrences of each fingerprint in (doc_id,
    * seg_idx) order survive, later ones drop), with the kept-token
    * ratio. This is the one-page answer to "what does this source
    * contribute AFTER cleaning" — the sheet a mixing decision actually
    * reads, and the proof the gate, the rewrite, and the rollup compose
    * in a single DAG without materialization boundaries.
    *
    * Scale shape: the keep decision is the segment_dedup window
    * (partition by fp, rank by (doc_id, seg_idx) — count-only skew) with
    * rank <= KeepK instead of == 1; quality scoring is scan-side codegen;
    * both sides meet in one source-keyed rollup. */
  def curationE2e(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(split(col("text"), " "))
    val nStop = TextStats.hits(TextStats.Stopwords("en"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), nTok.cast("long").as("n_tokens"),
        TextStats.ratioE4(nStop, nTok).as("stop_ratio_e4"))
      .withColumn("passes",
        (col("n_tokens").between(Pipeline.MinTokens, Pipeline.MaxTokens) &&
          col("stop_ratio_e4") >= Pipeline.MinStopE4).cast("long"))
    val keptSegs = segFps(spark, dir)
      .withColumn("occ", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id", "seg_idx")))
      .withColumn("kept", (col("occ") <= KeepK).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"), sum("kept").as("n_segs_kept"),
        sum(col("seg_toks") * col("kept")).as("tokens_kept"))
    docs.join(keptSegs, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("passes").as("n_quality_pass"),
        sum(coalesce(col("n_segs"), lit(0L))).as("segs_total"),
        sum(coalesce(col("n_segs_kept"), lit(0L))).as("segs_kept"),
        sum("n_tokens").as("tokens_total"),
        sum(coalesce(col("tokens_kept"), lit(0L))).as("tokens_kept"))
      .withColumn("kept_ratio_e4", expr("(10000 * tokens_kept) div tokens_total"))
      .orderBy("source")
  }

  def curationE2eSql: String = {
    val stops = TextStats.Stopwords("en").map(s => s"'$s'").mkString(",")
    s"""WITH $SegFpCtes,
       |ced AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         len(list_filter(string_split(text, ' '),
       |             t -> t IN ($stops))) AS n_stop
       |  FROM documents),
       |ceq AS (
       |  SELECT doc_id, source, n_tokens,
       |         CASE WHEN n_tokens BETWEEN ${Pipeline.MinTokens} AND ${Pipeline.MaxTokens}
       |                   AND (CASE WHEN n_tokens = 0 THEN 0
       |                        ELSE CAST(floor(10000.0 * n_stop / n_tokens) AS BIGINT) END)
       |                       >= ${Pipeline.MinStopE4}
       |              THEN 1 ELSE 0 END AS passes
       |  FROM ced),
       |cek AS (
       |  SELECT doc_id, seg_toks,
       |         CASE WHEN row_number() OVER (PARTITION BY fp ORDER BY doc_id, seg_idx)
       |                   <= $KeepK THEN 1 ELSE 0 END AS kept
       |  FROM fps),
       |ceg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
       |         CAST(sum(kept) AS BIGINT) AS n_segs_kept,
       |         CAST(sum(seg_toks * kept) AS BIGINT) AS tokens_kept
       |  FROM cek GROUP BY doc_id)
       |SELECT q.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(q.passes) AS BIGINT) AS n_quality_pass,
       |       CAST(sum(coalesce(g.n_segs, 0)) AS BIGINT) AS segs_total,
       |       CAST(sum(coalesce(g.n_segs_kept, 0)) AS BIGINT) AS segs_kept,
       |       CAST(sum(q.n_tokens) AS BIGINT) AS tokens_total,
       |       CAST(sum(coalesce(g.tokens_kept, 0)) AS BIGINT) AS tokens_kept,
       |       (10000 * CAST(sum(coalesce(g.tokens_kept, 0)) AS BIGINT))
       |         // CAST(sum(q.n_tokens) AS BIGINT) AS kept_ratio_e4
       |FROM ceq q LEFT JOIN ceg g ON q.doc_id = g.doc_id
       |GROUP BY q.source ORDER BY q.source""".stripMargin
  }

  // ---- pii_scrub ----------------------------------------------------------

  /** Portable regex subset: these patterns parse and match identically
    * under Java regex (Spark) and RE2 (DuckDB) — character classes,
    * bounded repetition, no backreferences/lookaround. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{4}"
  val NumRunRe = "[0-9]{5,}"

  /** The corpus text carries no contact strings, so the scrubber would
    * trivially count zero everywhere; both engines therefore append the
    * SAME deterministic contact tail (a function of doc_id only) before
    * scrubbing — the augmentation is part of the operator contract, the
    * regex machinery under test is real. Mirrors Multimodal's
    * deterministic-fake-decode convention. */
  private def augmented: Column =
    concat(norm,
      lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example ph 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" ref "), (col("doc_id") * 7919).cast("string"),
      when(col("doc_id") % 3 === 0, lit(" cc admin@corp.example")).otherwise(lit("")),
      lit(" end"))

  private val augmentedSql: String =
    """lower(trim(text)) || ' contact user' || CAST(doc_id AS VARCHAR)
      | || '@mail.example ph 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      | || ' ref ' || CAST(doc_id * 7919 AS VARCHAR)
      | || (CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.example' ELSE '' END)
      | || ' end'""".stripMargin.replace("\n", "")

  /** Count emails / phone fragments / long digit runs, redact each class
    * with a typed placeholder (emails first, so their digits never
    * double-count as runs), and report original vs scrubbed lengths. */
  /** Per-doc PII counting/redaction chain — ONE definition shared by the
    * scrub rewrite and the per-source audit rollup so the class regexes
    * and redaction order cannot drift between them. */
  private def piiCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), augmented.as("aug"))
      .withColumn("n_emails", size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("s1", regexp_replace(col("aug"), EmailRe, "<EMAIL>"))
      .withColumn("n_phones", size(regexp_extract_all(col("s1"), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("s2", regexp_replace(col("s1"), PhoneRe, "<PHONE>"))
      .withColumn("n_num_runs", size(regexp_extract_all(col("s2"), lit(NumRunRe), lit(0))).cast("long"))
      .withColumn("scrubbed", regexp_replace(col("s2"), NumRunRe, "<NUM>"))

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiCounts(spark, dir)
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_num_runs"),
        length(col("aug")).cast("long").as("orig_len"),
        length(col("scrubbed")).cast("long").as("scrub_len"),
        TextStats.fingerprint(col("scrubbed")).as("scrub_fp"))
      .orderBy("doc_id")

  /** Per-source PII exposure rollup — the compliance report a corpus
    * release reviews before shipping: how many of each PII class each
    * source carries and how many characters redaction removes. Same
    * per-doc chain as pii_scrub (shared definition), one source-keyed
    * map-side-combined aggregation on top; output is #sources rows. */
  def piiAudit(spark: SparkSession, dir: String): DataFrame =
    piiCounts(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_emails").as("n_emails"),
        sum("n_phones").as("n_phones"),
        sum("n_num_runs").as("n_num_runs"),
        sum(length(col("aug")).cast("long") - length(col("scrubbed")).cast("long"))
          .as("chars_removed"))
      .orderBy("source")

  /** Oracle twin of [[piiCounts]] (CTEs aug → s1 → s2 → s3). */
  private def PiiCtes: String =
    s"""aug AS (SELECT doc_id, $augmentedSql AS aug FROM documents),
       |s1 AS (SELECT doc_id, aug,
       |         CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_emails,
       |         regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g') AS s1 FROM aug),
       |s2 AS (SELECT doc_id, aug, n_emails,
       |         CAST(len(regexp_extract_all(s1, '$PhoneRe')) AS BIGINT) AS n_phones,
       |         regexp_replace(s1, '$PhoneRe', '<PHONE>', 'g') AS s2 FROM s1),
       |s3 AS (SELECT doc_id, aug, n_emails, n_phones,
       |         CAST(len(regexp_extract_all(s2, '$NumRunRe')) AS BIGINT) AS n_num_runs,
       |         regexp_replace(s2, '$NumRunRe', '<NUM>', 'g') AS scrubbed FROM s2)""".stripMargin

  val piiScrubSql: String =
    s"""WITH $PiiCtes
       |SELECT doc_id, n_emails, n_phones, n_num_runs,
       |       CAST(len(aug) AS BIGINT) AS orig_len,
       |       CAST(len(scrubbed) AS BIGINT) AS scrub_len,
       |       ${TextStats.fpSql("scrubbed")} AS scrub_fp
       |FROM s3 ORDER BY doc_id""".stripMargin

  def piiAuditSql: String =
    s"""WITH $PiiCtes
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(s.n_emails) AS BIGINT) AS n_emails,
       |       CAST(sum(s.n_phones) AS BIGINT) AS n_phones,
       |       CAST(sum(s.n_num_runs) AS BIGINT) AS n_num_runs,
       |       CAST(sum(len(s.aug) - len(s.scrubbed)) AS BIGINT) AS chars_removed
       |FROM s3 s JOIN documents d ON s.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---- corpus_diff --------------------------------------------------------

  /** Differential corpus snapshot: when a training corpus is re-crawled /
    * re-filtered, the refresh decision needs an added / removed / changed /
    * unchanged ledger per source BEFORE anything retrains. v2 here is a
    * deterministic mutation of v1 (both engines construct it identically):
    * doc_id ≡ 3 (mod 17) rows are dropped, ≡ 5 rows get a text edit, and
    * ≡ 7 rows also appear cloned under doc_id+10⁷ — so every diff class is
    * populated and the expected counts are a pure function of the key
    * space.
    *
    * Scale shape: each side reduces to (doc_id, source, fp) — 24 bytes a
    * row no matter how wide the documents are, because the rolling
    * fingerprint collapses the text at scan time. The diff is ONE
    * full-outer sort-merge join on doc_id (high-cardinality, no skew) and
    * the ledger is a 20-row map-side-combined groupBy on source. Nothing
    * wider than a fingerprint ever shuffles. */
  val DiffMod = 17L

  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = docs.select(col("doc_id"), col("source"),
      TextStats.fingerprint(col("text")).as("fp"))
    val v2base = docs
      .where(col("doc_id") % DiffMod =!= 3)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % DiffMod === 5, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val v2add = docs
      .where(col("doc_id") % DiffMod === 7)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
        col("text"))
    val v2 = v2base.unionByName(v2add)
      .select(col("doc_id").as("doc_id2"), col("source").as("source2"),
        TextStats.fingerprint(col("text")).as("fp2"))
    v1.join(v2, v1("doc_id") === v2("doc_id2"), "full_outer")
      .select(
        coalesce(col("source"), col("source2")).as("src"),
        when(col("doc_id").isNull, "added")
          .when(col("doc_id2").isNull, "removed")
          .when(col("fp") =!= col("fp2"), "changed")
          .otherwise("same").as("status"))
      .groupBy(col("src").as("source"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "same", 1L).otherwise(0L)).as("n_same"))
      .orderBy("source")
  }

  val corpusDiffSql: String =
    s"""WITH v1 AS (
       |  SELECT doc_id, source, ${TextStats.fpSql("text")} AS fp FROM documents),
       |v2raw AS (
       |  SELECT doc_id, source,
       |         CASE WHEN doc_id % $DiffMod = 5 THEN text || ' v2' ELSE text END AS text
       |  FROM documents WHERE doc_id % $DiffMod <> 3
       |  UNION ALL
       |  SELECT doc_id + 10000000 AS doc_id, source, text
       |  FROM documents WHERE doc_id % $DiffMod = 7),
       |v2 AS (
       |  SELECT doc_id AS doc_id2, source AS source2,
       |         ${TextStats.fpSql("text")} AS fp2 FROM v2raw),
       |j AS (
       |  SELECT coalesce(v1.source, v2.source2) AS source,
       |         CASE WHEN v1.doc_id IS NULL THEN 'added'
       |              WHEN v2.doc_id2 IS NULL THEN 'removed'
       |              WHEN v1.fp <> v2.fp2 THEN 'changed'
       |              ELSE 'same' END AS status
       |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id2)
       |SELECT source,
       |       CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |       CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |       CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |       CAST(sum(CASE WHEN status = 'same' THEN 1 ELSE 0 END) AS BIGINT) AS n_same
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ---- substring_dup ------------------------------------------------------

  /** Sliding-window width in tokens: any exact duplicated substring of
    * ≥ SubstrW tokens contains at least one duplicated window, so the
    * report is complete at that granularity (the window surrogate for
    * Lee et al.'s suffix-array exact-substring dedup, which is not a
    * distributed-join shape). */
  val SubstrW = 10

  /** Exact substring-duplication report (the "dedup repeated substrings,
    * not just whole documents" pass of Lee et al., Deduplicating Training
    * Data Makes Language Models Better, ACL 2022): every OVERLAPPING
    * SubstrW-token window is fingerprinted; a window whose fingerprint
    * occurs ≥ 2 times anywhere in the corpus (other documents or a
    * repeat within its own) is duplicated; per document the report gives
    * the duplicated-window fraction — the signal a rewrite pass cuts
    * spans by, complementing segment_dedup's non-overlapping segments
    * which miss duplicates straddling segment boundaries.
    *
    * Scale shape (100 TB): windows are tokens-linear per document (one
    * per position), each fingerprinted to an int64 — the only corpus-
    * sized shuffles are the fp groupBy and the fp-co-partitioned
    * occurrence join, both map-side combined / count-only, so hot
    * boilerplate windows cost a skewed count, never wide rows (AQE
    * splits the stragglers). The W× byte blow-up of materializing each
    * window before hashing is a bounded constant (a rolling polynomial
    * hash would remove it at the price of a non-portable two-engine
    * prefix recurrence). */
  def substringDup(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(norm, " ").as("tk"))
    val wins = toks
      .withColumn("nw", (size(col("tk")) - SubstrW + 1).cast("long"))
      .where(col("nw") >= 1)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1L), col("nw")), i =>
          TextStats.fingerprint(
            concat_ws(" ", slice(col("tk"), i, lit(SubstrW)))))).as("fp"))
    val occ = wins.groupBy("fp").agg(count(lit(1)).as("n_occ"))
    val per = wins.join(occ, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_frac_e4",
        when(col("n_windows") === 0, 0L)
          .otherwise(expr("n_dup_windows * 10000 div n_windows")))
      .orderBy("doc_id")
  }

  val substringDupSql: String = {
    val winFp = TextStats.fpSql(
      s"array_to_string(list_slice(tk, i, i + ${SubstrW - 1}), ' ')")
    s"""WITH tks AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
       |wins AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(tk) - ${SubstrW - 2}),
       |           i -> $winFp)) AS fp
       |  FROM tks WHERE len(tk) >= $SubstrW),
       |occ AS (SELECT fp, count(*) AS n_occ FROM wins GROUP BY fp),
       |per AS (
       |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |         CAST(sum(CASE WHEN o.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
       |  FROM wins w JOIN occ o ON w.fp = o.fp GROUP BY w.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       |  CAST(CASE WHEN coalesce(p.n_windows, 0) = 0 THEN 0
       |       ELSE p.n_dup_windows * 10000 // p.n_windows END AS BIGINT) AS dup_frac_e4
       |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- dedup_normalized: normalization lift over exact dedup ---------------

  /** How many duplicates only NORMALIZATION catches: each document keyed
    * both exactly (lower+trim, the dedup_exact key) and normalized
    * (non-alphanumeric runs collapsed to single spaces — the
    * case/punctuation/whitespace-invariant key); a doc is a dup under a
    * key if it is not its group's min doc_id. Per-source ledger:
    * exact-dup count, normalized-dup count, and the lift (docs ONLY the
    * normalized key catches) — sizes the win of the cheap normalization
    * pass before any MinHash machinery runs.
    *
    * Scale: two window-min shuffles keyed by the two text keys (the hash
    * shuffle every distributed dedup pays; on a real corpus the keys
    * would be fingerprinted first — precedent Clean.scala segment fps),
    * then one map-side-combined per-source rollup. */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        lower(trim(col("text"))).as("ek"),
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("nk"))
    keyed
      .withColumn("e_keep", min("doc_id").over(Window.partitionBy("ek")))
      .withColumn("n_keep", min("doc_id").over(Window.partitionBy("nk")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("e_keep"), 1L).otherwise(0L))
          .as("n_exact_dups"),
        sum(when(col("doc_id") =!= col("n_keep"), 1L).otherwise(0L))
          .as("n_norm_dups"),
        sum(when(col("doc_id") =!= col("n_keep") && col("doc_id") === col("e_keep"),
          1L).otherwise(0L)).as("n_lift"))
      .orderBy("source")
  }

  val dedupNormalizedSql: String =
    """WITH k AS (
      |  SELECT doc_id, source,
      |         lower(trim(text)) AS ek,
      |         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nk
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, source,
      |         min(doc_id) OVER (PARTITION BY ek) AS e_keep,
      |         min(doc_id) OVER (PARTITION BY nk) AS n_keep
      |  FROM k)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN doc_id <> e_keep THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_exact_dups,
      |       CAST(sum(CASE WHEN doc_id <> n_keep THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_norm_dups,
      |       CAST(sum(CASE WHEN doc_id <> n_keep AND doc_id = e_keep
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_lift
      |FROM w GROUP BY source ORDER BY source""".stripMargin
}
