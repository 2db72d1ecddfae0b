package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing: opaque binary payloads + typed metadata,
  * with a deterministic fake "decode" (SURVEY.md §2 row 28).
  *
  * The image/audio codecs aren't available in this environment, so the
  * decode step is a clearly-marked deterministic stand-in — but the
  * Spark-side machinery is real: a `binary` payload column with a typed
  * metadata struct, a case-class `Dataset` boundary, and per-partition
  * imperative feature extraction via `mapPartitions` (the Scala analogue of
  * a vectorized decode UDF: one iterator pass per partition, no
  * driver-side collection, embarrassingly parallel at 100 TB).
  *
  * Payloads are synthesized from the documents table (UTF-8 text bytes) so
  * the DuckDB oracle can recompute every feature relationally.
  */
object Multimodal {

  case class MmIn(doc_id: Long, media_type: String, payload: Array[Byte],
    width: Int, height: Int)
  case class MmOut(doc_id: Long, media_type: String, n_bytes: Long,
    checksum: Long, feat: Long)

  val P: Long = TextStats.FpMod

  /** Deterministic fake decode: rolling polynomial hash of the payload
    * bytes (stands in for a real pixel/sample decode; same recurrence as
    * TextStats.fingerprint so the oracle reproduces it). */
  private def fakeDecodeChecksum(payload: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < payload.length) {
      h = (h * TextStats.FpPrime + (payload(i) & 0xff)) % P
      i += 1
    }
    h
  }

  /** media_type-dependent fake feature: pixel count for images, sample
    * count for audio, frame count for video — all from the typed
    * metadata, not the payload (the metadata IS real). */
  private def fakeFeature(m: MmIn): Long = m.media_type match {
    case "image" => m.width.toLong * m.height
    case "audio" => m.width.toLong * 1000L
    case _       => m.height.toLong * 24L
  }

  /** ASCII-only equivalence (same caveat as TextStats): the Spark side
    * computes n_bytes/checksum from the UTF-8 payload BYTES while the
    * oracle uses character length and per-char `ascii()` — identical only
    * while the testdata text is pure ASCII (one byte per char, ascii() =
    * byte value). If the corpus ever grows non-ASCII text, switch the
    * oracle to `octet_length(encode(text))` + a byte-wise fold rather than
    * weakening this side. */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
          .as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("n_chars") % 640 + 16).cast("int").as("width"),
        (col("n_chars") % 480 + 16).cast("int").as("height"))
      .as[MmIn]
    src.mapPartitions { it =>
      it.map(m => MmOut(m.doc_id, m.media_type, m.payload.length.toLong,
        fakeDecodeChecksum(m.payload), fakeFeature(m)))
    }.toDF()
      .orderBy("doc_id")
  }

  // ---- mm_header_fields ---------------------------------------------------

  /** Fixed-offset header-field extraction over the binary payload — the
    * EXIF/ISOBMFF-style probe (magic number at 0, a dimension word, a
    * sample-rate word) a media pipeline runs BEFORE any codec: route,
    * validate, and triage containers by header alone. Unlike the row-28
    * decode stand-in this needs no codec, so it is the multimodal
    * family's fully codegen'd member (SURVEY §2 row 183): three
    * [[graft.functions.BinaryBeFieldExpr]] byte loops inside one
    * whole-stage-codegen projection — no mapPartitions barrier, column
    * pruning and pushdown intact (MultimodalSpec pins the plan shape).
    * Truncated payloads yield NULL fields, not errors (short header =
    * absent field, the CDC missing-column contract).
    *
    * Oracle equivalence rides the documented ASCII contract
    * ([[mmFeatures]]): byte k of the UTF-8 payload is `ascii()` of text
    * char k+1 while the corpus is pure ASCII. */
  def mmHeaderFields(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
          .as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), col("media_type"),
        length(col("payload")).cast("long").as("n_bytes"),
        graft.functions.HashExprs.binaryBeField(col("payload"), 0, 4).as("magic_u32"),
        graft.functions.HashExprs.binaryBeField(col("payload"), 4, 2).as("dim_u16"),
        graft.functions.HashExprs.binaryBeField(col("payload"), 6, 3).as("rate_u24"))
      .orderBy("doc_id")

  val mmHeaderFieldsSql: String =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
      |    AS media_type,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  CASE WHEN length(text) >= 4 THEN CAST(
      |    ascii(substr(text, 1, 1)) * 16777216 + ascii(substr(text, 2, 1)) * 65536 +
      |    ascii(substr(text, 3, 1)) * 256 + ascii(substr(text, 4, 1)) AS BIGINT)
      |  END AS magic_u32,
      |  CASE WHEN length(text) >= 6 THEN CAST(
      |    ascii(substr(text, 5, 1)) * 256 + ascii(substr(text, 6, 1)) AS BIGINT)
      |  END AS dim_u16,
      |  CASE WHEN length(text) >= 9 THEN CAST(
      |    ascii(substr(text, 7, 1)) * 65536 + ascii(substr(text, 8, 1)) * 256 +
      |    ascii(substr(text, 9, 1)) AS BIGINT)
      |  END AS rate_u24
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- mm_content_chunks ---------------------------------------------------

  /** Content-defined chunking of the BINARY payload: the LBFS/rsync
    * rolling-cut scheme — row 89's insertion-robust
    * chunking applied at byte level — as one codegen'd
    * [[graft.functions.BinaryCdcChunksExpr]] call per payload, cutting on
    * the same hash family as the token chunker (gram fp % P2 · mix % P2 %
    * BoundaryMod == 0). Per-payload ledger: chunk count, byte mass
    * (= payload length by construction — a built-in boundary self-check),
    * largest chunk, order-independent fp sum, and n_shared_chunks = this
    * payload's chunks whose fingerprint recurs in ≥ 2 distinct payloads
    * corpus-wide — the binary-level dedup signal (shared intro/outro
    * bytes, embedded assets) that whole-payload checksums miss.
    *
    * Scale shape: chunking is scan-side codegen (no explode until the
    * bounded chunk rows, no mapPartitions barrier — MultimodalSpec pins
    * the plan); the dedup pass is one fp-keyed groupBy + a co-keyed
    * self-join shipping (fp, doc_id) pairs only — payload bytes never
    * enter a shuffle. Oracle equivalence rides the documented ASCII
    * contract ([[mmFeatures]]). */
  val CdcK = 8
  val CdcBoundaryMod = 64L

  def mmContentChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .where(length(col("text")) > 0)
      .select(col("doc_id"),
        expr("CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
          .as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), col("media_type"),
        explode(graft.functions.HashExprs.binaryCdcChunks(col("payload"),
          CdcK, CdcBoundaryMod, TextStats.FpPrime, TextStats.FpMod,
          Pipeline.HashModPrime, graft.functions.HashExprs.Mix3)).as("c"))
      .select(col("doc_id"), col("media_type"),
        col("c.len").as("clen"), col("c.fp").as("fp"))
    val shared = chunks.groupBy("fp")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= 2)
      .select(col("fp"), lit(1L).as("is_shared"))
    chunks.join(shared, Seq("fp"), "left")
      .groupBy("doc_id", "media_type")
      .agg(count(lit(1)).as("n_chunks"),
        sum("clen").as("n_chunk_bytes"),
        max("clen").as("max_chunk"),
        (sum("fp") % TextStats.FpMod).as("fp_sum"),
        sum(coalesce(col("is_shared"), lit(0L))).as("n_shared_chunks"))
      .orderBy("doc_id")
  }

  val mmContentChunksSql: String = {
    val p2 = Pipeline.HashModPrime
    val mix = graft.functions.HashExprs.Mix3
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
       |      AS media_type,
       |    text, len(text) AS n
       |  FROM documents WHERE len(text) >= 1),
       |g AS (
       |  SELECT doc_id, media_type, text, n,
       |    list_filter(list_transform(range(1, greatest(n - $CdcK + 2, 1)),
       |      i -> CASE WHEN ${TextStats.fpSql(s"substr(text, CAST(i AS INT), $CdcK)")}
       |                     % $p2 * $mix % $p2 % $CdcBoundaryMod = 0
       |                THEN i + $CdcK - 1 END), x -> x IS NOT NULL) AS cut
       |  FROM d),
       |e AS (
       |  SELECT doc_id, media_type, text, n,
       |    CASE WHEN len(cut) > 0 AND cut[len(cut)] = n THEN cut
       |         ELSE list_append(cut, CAST(n AS BIGINT)) END AS ends
       |  FROM g),
       |x AS (
       |  SELECT doc_id, media_type, text, ends,
       |         unnest(range(1, len(ends) + 1)) AS ci
       |  FROM e),
       |ck AS (
       |  SELECT doc_id, media_type,
       |    CASE WHEN ci = 1 THEN 0 ELSE ends[CAST(ci AS INT) - 1] END AS sb,
       |    ends[CAST(ci AS INT)] AS eb, text
       |  FROM x),
       |cf AS (
       |  SELECT doc_id, media_type, CAST(eb - sb AS BIGINT) AS clen,
       |    ${TextStats.fpSql("substr(text, CAST(sb AS INT) + 1, CAST(eb - sb AS INT))")} AS fp
       |  FROM ck),
       |sh AS (
       |  SELECT fp FROM (
       |    SELECT fp, count(DISTINCT doc_id) AS nd FROM cf GROUP BY fp)
       |  WHERE nd >= 2)
       |SELECT c.doc_id, c.media_type,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(c.clen) AS BIGINT) AS n_chunk_bytes,
       |  CAST(max(c.clen) AS BIGINT) AS max_chunk,
       |  CAST(sum(c.fp) % ${TextStats.FpMod} AS BIGINT) AS fp_sum,
       |  CAST(sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_shared_chunks
       |FROM cf c LEFT JOIN sh s ON c.fp = s.fp
       |GROUP BY c.doc_id, c.media_type
       |ORDER BY c.doc_id""".stripMargin
  }

  // ---- mm_frames ----------------------------------------------------------

  /** Frame sampling plumbing for the video rows: every FrameStride-th
    * frame index, with its (fake) byte offset into the payload — the
    * explode shape a real frame sampler produces ahead of a decode UDF.
    * One narrow explode per video row, no shuffle. */
  val FrameStride = 24

  def mmFrames(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(col("doc_id") % 3 === 2) // the video stripe of the mm table
      .select(col("doc_id"),
        (col("n_chars") % 480 + 16).cast("int").as("height"),
        (col("n_chars") % 640 + 16).cast("int").as("width"))
      .withColumn("n_frames", (col("height") * 24).cast("long"))
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(FrameStride.toLong)))
          .as("frame_idx"),
        col("width"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * col("width")).as("byte_offset"))
      .orderBy("doc_id", "frame_idx")

  val mmFramesSql: String =
    s"""WITH v AS (
       |  SELECT doc_id,
       |         CAST(n_chars % 480 + 16 AS INT) AS height,
       |         CAST(n_chars % 640 + 16 AS INT) AS width
       |  FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       |  SELECT doc_id, width, unnest(range(0, CAST(height AS BIGINT) * 24,
       |         $FrameStride)) AS frame_idx
       |  FROM v)
       |SELECT doc_id, frame_idx, frame_idx * width AS byte_offset
       |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  // ---- frame_dedup: cross-video duplicate-frame detection -----------------

  /** Duplicate frames ACROSS videos: each sampled frame gets a content
    * fingerprint (here the shared rolling hash over a fixed-width payload
    * slice at the frame's byte offset — the deterministic stand-in for a
    * real perceptual hash, same caveat as the decode fake; the slice +
    * hash + groupBy plumbing is the real part), and fingerprints seen in
    * ≥2 distinct videos are reported largest-group-first — the
    * intro/outro/static-card detector a video corpus runs before
    * training, and the frame-granular twin of dedup_exact.
    *
    * Scale shape: the fingerprint groupBy is the exact-dedup shuffle at
    * frame granularity with count-only payloads (frames never carry
    * pixels into the shuffle — only (fp, doc_id) pairs); the global
    * top-N is sort+limit, with the rank window over the bounded
    * FrameDupTopN-row result. */
  val FrameSnippetLen = 16
  val FrameDupTopN = 20L

  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = Tables.documents(spark, dir)
      .where(col("doc_id") % 3 === 2 && col("n_chars") > 0)
      .select(col("doc_id"), col("text"), col("n_chars"),
        (col("n_chars") % 480 + 16).cast("int").as("height"),
        (col("n_chars") % 640 + 16).cast("int").as("width"))
      .withColumn("n_frames", (col("height") * 24).cast("long"))
      .select(col("doc_id"), col("text"), col("n_chars"), col("width"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(FrameStride.toLong)))
          .as("frame_idx"))
      .withColumn("snippet", expr(
        s"substring(text, CAST((frame_idx * width) % n_chars AS INT) + 1, $FrameSnippetLen)"))
      .withColumn("fp", TextStats.fingerprint(col("snippet")))
    frames.groupBy("fp")
      .agg(count(lit(1)).as("n_frames"), countDistinct("doc_id").as("n_videos"),
        min("doc_id").as("min_doc"))
      .where(col("n_videos") >= 2)
      .orderBy(col("n_frames").desc, col("fp")).limit(FrameDupTopN.toInt)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n_frames").desc, col("fp"))).cast("long"))
      .select("rnk", "fp", "n_frames", "n_videos", "min_doc")
      .orderBy("rnk")
  }

  def frameDedupSql: String =
    s"""WITH fv AS (
       |  SELECT doc_id, text, n_chars,
       |         CAST(n_chars % 480 + 16 AS INT) AS height,
       |         CAST(n_chars % 640 + 16 AS INT) AS width
       |  FROM documents WHERE doc_id % 3 = 2 AND n_chars > 0),
       |ff AS (
       |  SELECT doc_id, text, n_chars, width,
       |         unnest(range(0, CAST(height AS BIGINT) * 24, $FrameStride)) AS frame_idx
       |  FROM fv),
       |fs AS (
       |  SELECT doc_id,
       |    ${TextStats.fpSql(s"substr(text, CAST((frame_idx * width) % n_chars AS INT) + 1, $FrameSnippetLen)")} AS fp
       |  FROM ff),
       |fg AS (
       |  SELECT fp, CAST(count(*) AS BIGINT) AS n_frames,
       |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_videos,
       |         min(doc_id) AS min_doc
       |  FROM fs GROUP BY fp),
       |fr AS (
       |  SELECT fp, n_frames, n_videos, min_doc,
       |         row_number() OVER (ORDER BY n_frames DESC, fp) AS rnk
       |  FROM fg WHERE n_videos >= 2)
       |SELECT CAST(rnk AS BIGINT) AS rnk, fp, n_frames, n_videos, min_doc
       |FROM fr WHERE rnk <= $FrameDupTopN
       |ORDER BY rnk""".stripMargin

  val mmFeaturesSql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       |    text,
       |    CAST(n_chars % 640 + 16 AS INT) AS width,
       |    CAST(n_chars % 480 + 16 AS INT) AS height
       |  FROM documents)
       |SELECT doc_id, media_type,
       |  CAST(length(text) AS BIGINT) AS n_bytes,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (h, c) -> (h * ${TextStats.FpPrime} + c) % $P) AS checksum,
       |  CASE media_type
       |    WHEN 'image' THEN CAST(width AS BIGINT) * height
       |    WHEN 'audio' THEN CAST(width AS BIGINT) * 1000
       |    ELSE CAST(height AS BIGINT) * 24 END AS feat
       |FROM m ORDER BY doc_id""".stripMargin
}
