package graft

/** Corpus-derived sizing knobs: the index-family parameters (IVF cell
  * count, LSH plane/table counts, SimHash bucket width) default to
  * functions of the CORPUS SIZE instead of fixed constants, so the
  * operators that bucket/cell their pair space stay scale-safe at
  * defaults: no operator needs a hand-set env var to survive a 10× data
  * growth.
  *
  * Resolution order per knob: explicit env override (GRAFT_LSH_PLANES,
  * GRAFT_LSH_TABLES, GRAFT_IVF_ROUTE_CELLS) wins where one exists;
  * otherwise the value is derived from the row count of the governing
  * table in the CURRENT corpus directory; if no directory is known yet
  * (no query has run) the derivation falls back to the small-corpus
  * floor, which equals the historical fixed default.
  *
  * Why a process-wide current directory instead of threading `dir` into
  * every knob read: the driver contract's `oracleSql: Map[String, String]`
  * takes no directory, yet the generated SQL must embed the SAME derived
  * constants as the Spark plans it mirrors (the correctness gate hashes
  * both sides). Every `SparkEntry.queries` invocation and every main
  * (Verify/Bench/...) records its directory here BEFORE building
  * plans, and `oracleSql` is evaluated afterwards in the same JVM, so
  * both sides read one value. The var is volatile, not thread-local:
  * concurrent use of DIFFERENT corpora in one JVM is out of contract for
  * the verify/bench mains (both are single-directory), and the test
  * suites' corpora are all below every derivation knee, where the
  * derived value equals the floor regardless of which directory wins.
  *
  * Row counts come from parquet FOOTER metadata (no SparkSession, no
  * scan): one cheap read per (dir, table), memoized for the JVM's life.
  * Missing table → count 0 → floor values (lets operator unit tests run
  * against synthetic frames without a corpus directory).
  */
object Knobs {
  @volatile private var currentDir: String = ""

  /** Record the corpus directory whose derived knobs subsequent plan
    * builds and oracle-SQL generation should read.
    *
    * Flip hardening: the var is process-wide, so a caller interleaving
    * two corpora in one JVM would silently re-knob plans built for the
    * other corpus. A flip between differing non-empty dirs is therefore
    * ALLOWED only when every derived knob value is identical under both
    * (the test suites' corpora all sit below the derivation knees, where
    * floors make this true; Verify and Bench are single-directory) —
    * otherwise fail loud instead of letting the race corrupt a
    * plan/oracle pair. */
  def noteDir(dir: String): Unit =
    if (dir != null && dir.nonEmpty && dir != currentDir) {
      val prev = currentDir
      if (prev.nonEmpty && derivedKnobs(prev) != derivedKnobs(dir))
        throw new IllegalStateException(
          s"Knobs.noteDir: corpus flip $prev -> $dir changes derived knob " +
            s"values (${derivedKnobs(prev)} -> ${derivedKnobs(dir)}); one " +
            "corpus per JVM is the contract.")
      currentDir = dir
    }

  /** The derived (post-env-override, where one exists) knob tuple a given corpus dir
    * yields — the flip-safety comparison key. */
  private def derivedKnobs(dir: String): (Int, Int, Int, Int, Long) = {
    def emb = rowCount(dir, "embeddings")
    def doc = rowCount(dir, "documents")
    (ivfCellsFor(emb),
      envInt("GRAFT_LSH_PLANES").getOrElse(lshPlanesFor(emb)),
      envInt("GRAFT_LSH_TABLES").getOrElse(lshTablesFor(
        envInt("GRAFT_LSH_PLANES").getOrElse(lshPlanesFor(emb)))),
      simhashBucketBitsFor(doc),
      compactTargetCharsFor(doc))
  }

  private val counts = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Footer-metadata row count of `dir/table.parquet` (file or directory
    * of part files); 0 when absent/unreadable. Only SUCCESSFUL reads are
    * memoized: a transient IO failure (or a corpus directory populated
    * after first touch) must not pin floor-sized knobs for the JVM's
    * lifetime — the failure path re-probes on the next access. A
    * genuinely missing table re-probes too; that is one cheap fs.exists
    * per knob read, not a scan. */
  def rowCount(dir: String, table: String): Long = {
    val key = s"$dir/$table"
    counts.get(key) match {
      case Some(n) => n
      case None =>
        val probed =
          try {
            val conf = new org.apache.hadoop.conf.Configuration()
            val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
            val fs = p.getFileSystem(conf)
            val files =
              if (!fs.exists(p)) Array.empty[org.apache.hadoop.fs.Path]
              else if (fs.getFileStatus(p).isDirectory)
                fs.listStatus(p).map(_.getPath)
                  .filter(f => f.getName.endsWith(".parquet"))
              else Array(p)
            if (files.isEmpty) None
            else Some(files.map { f =>
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
              try r.getRecordCount finally r.close()
            }.sum)
          } catch { case scala.util.control.NonFatal(_) => None }
        probed match {
          case Some(n) => counts.putIfAbsent(key, n); n
          case None => 0L
        }
    }
  }

  /** Vector-corpus size (embeddings table) of the current directory. */
  def embCount: Long = if (currentDir.isEmpty) 0L else rowCount(currentDir, "embeddings")

  /** Document-corpus size of the current directory. */
  def docCount: Long = if (currentDir.isEmpty) 0L else rowCount(currentDir, "documents")

  private def envInt(name: String): Option[Int] =
    sys.env.get(name).map(_.trim.toInt)

  private def ceilLog2(x: Double): Int =
    math.ceil(math.log(math.max(x, 1.0)) / math.log(2.0)).toInt

  /** IVF coarse-quantizer cell count. Derived operating point: a TARGET
    * CELL POPULATION pop = 256 — cells = ⌈N/pop⌉ — which keeps the
    * within-cell pair space of the cell-scoped family (dedup_semantic /
    * label_noise / embed_prune,
    * SemDeDup's NumCells ∝ N/k operating point) LINEAR in N: Σ|cell|²
    * ≈ N·pop. The ⌈4√N⌉ cap bounds the OTHER cost axis — exact
    * nearest-centroid assignment is N·cells rows, quadratic if cells
    * grow linearly forever; past the crossover at N = (4·pop)² ≈ 1e6
    * vectors the cap holds assignment to ≤ 4·N^1.5 while pair work
    * grows as N^1.5/4 — the classical √N balance of the two terms. At
    * ≥1e8 vectors exact assignment wants a hierarchical coarse
    * quantizer (route via √cells super-centroids); until then the cap
    * is the honest single-level answer. Floor 8 = the historical
    * default (binds for every corpus below 2048 vectors, so the
    * sf0.001/sf0.01/sf0.1 gates are byte-stable vs fixed-knob rounds). */
  def ivfCells: Int = ivfCellsFor(embCount)

  private def ivfCellsFor(n: Long): Int = {
    val linear = math.ceil(n.toDouble / 256).toLong
    val sqrtCap = math.ceil(4.0 * math.sqrt(n.toDouble)).toLong
    math.max(8L, math.min(linear, sqrtCap)).toInt
  }

  /** Hyperplanes per LSH table: p = ⌈log2(N/32)⌉ targets a ~32-vector
    * expected bucket population, keeping per-table candidate pairs
    * ≈ N·16 (linear in N) instead of N²/2^p+1 with fixed p. Floor 6 =
    * the historical default (binds below 4096 vectors). 1e9 vectors →
    * p = 25; the documented 100 TB operating point (p ≈ 18) trades more
    * per-bucket work for recall — certify with ann_recall, override via
    * GRAFT_LSH_PLANES. */
  // Override kept: the 100 TB point (p ≈ 18) is not what the derivation yields.
  def lshPlanes: Int = envInt("GRAFT_LSH_PLANES").getOrElse(lshPlanesFor(embCount))

  private def lshPlanesFor(n: Long): Int =
    if (n <= 0) 6 else math.max(6, ceilLog2(n / 32.0))

  /** LSH table count: raising p for scale lowers per-table collision
    * probability (1−θ/π)^p, so recall is bought back by raising L with
    * it — one extra table per extra plane past the floor, capped at 16
    * (the documented 100 TB setting). Fixed 8 below the p-knee, so
    * small corpora are byte-stable. */
  // Override kept: the 100 TB point (L ≈ 16) pairs with the p ≈ 18 override.
  def lshTables: Int = envInt("GRAFT_LSH_TABLES").getOrElse(lshTablesFor(lshPlanes))

  private def lshTablesFor(planes: Int): Int =
    math.min(16, 8 + math.max(0, planes - 6))

  /** Flat→hierarchical IVF routing threshold (cells). Below it the
    * assignment is the exact flat argmax over every cell (NearestCellExpr
    * with the centroid table as a codegen reference object); at or above
    * it the two-level router (row 162: super-route + within-super argmax)
    * takes over — the flat table would be ~cells×64×8 B per executor
    * (unguarded broadcast growth) and the flat
    * assignment cost N×cells dots, vs the router's ~2N√cells. Default
    * 4096 ⇒ table ≤ 2 MB and the switch engages exactly where the
    * derived ivfCells curve leaves the flat-affordable regime (the 1000×
    * stress point's 5657 cells routes hierarchically; every gate corpus
    * and the 100× point stay flat and byte-stable). The knob_report row
    * `ivf_route_hier` records the mode both engines resolved. */
  // Override kept: the only way to run the hierarchical route's oracle
  // check on a gate corpus, whose cell count sits far below the default.
  def ivfRouteHierCells: Int = envInt("GRAFT_IVF_ROUTE_CELLS").getOrElse(4096)

  def ivfRouteHier: Boolean = ivfCells >= ivfRouteHierCells

  /** SimHash single-probe bucket width in bits: ⌈log2(N/8)⌉ targets ~8
    * DISTINCT fingerprints per bucket (duplicate fingerprints are
    * rep-collapsed before the bucket join — see Dedup.scala — so the
    * population that matters is distinct content). Floor 16 = the
    * historical default (binds below ~512k documents; 1e9 docs → 27
    * bits). Cap 40: the bucket must stay well inside the 63-bit
    * fingerprint so the recall heuristic retains a meaningful low-bit
    * "don't care" region. */
  def simhashBucketBits: Int = simhashBucketBitsFor(docCount)

  private def simhashBucketBitsFor(n: Long): Int =
    if (n <= 0) 16 else math.max(16, math.min(40, ceilLog2(n / 8.0)))

  /** Compaction output-shard target size in CHARS (the corpus's portable
    * byte proxy — n_chars is exact on both engines; real deployments
    * would target file bytes). Derived: the target grows linearly with
    * the document count past the 500-doc knee — target =
    * floor · max(1, N/500) — so the PLAN stays scale-invariant (a
    * source's bin count is governed by its share of the corpus, not by
    * absolute size), and every gate corpus at or below 500 docs sits on
    * the floor (2048 chars ⇒ ~4 bins per fixture source). At the 1000×
    * point (5M docs) the derived target is ~20M chars ≈ a real 64-128 MB
    * parquet shard — the small-file-compaction operating point. */
  def compactTargetChars: Long = compactTargetCharsFor(docCount)

  private def compactTargetCharsFor(n: Long): Long =
    2048L * math.max(1L, n / 500L)

  /** The knob operating point as (knob, value) rows, in both sides of
    * the gate: the Spark frame evaluates the derivations at query time,
    * and the generated oracle SQL (same JVM, after noteDir) interpolates
    * the SAME values as literals — so every CORRECTNESS artifact records
    * the sizing the run actually used, and any Spark/oracle knob split
    * (a plan and its oracle built from different knob values)
    * becomes a visible hash mismatch instead of a silent plan
    * divergence. */
  private def knobRows: Seq[(String, Long)] = Seq(
    "doc_count" -> docCount,
    "emb_count" -> embCount,
    "ivf_cells" -> ivfCells.toLong,
    "ivf_route_hier" -> (if (ivfRouteHier) 1L else 0L),
    "lsh_planes" -> lshPlanes.toLong,
    "lsh_tables" -> lshTables.toLong,
    "simhash_bucket_bits" -> simhashBucketBits.toLong,
    "compact_target_chars" -> compactTargetChars)

  def knobReport(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    noteDir(dir)
    import spark.implicits._
    knobRows.sortBy(_._1).toDF("knob", "value")
  }

  def knobReportSql: String =
    knobRows.sortBy(_._1)
      .map { case (k, v) => s"SELECT '$k' AS knob, CAST($v AS BIGINT) AS value" }
      .mkString("\nUNION ALL ") + "\nORDER BY knob"
}
