package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.cdc.{ChangeFeed, Forwarder, HyperRemap}

/** One cold batch job in a fresh JVM: every listed `SparkEntry.queries` key
  * over the generated corpus, each result written in full (every column, in
  * order) as parquet, memo builds paid inside the job. Writes a result JSON
  * (setup and job time, per-query walls, the memo build ledger) and, after
  * the job, the keys' oracle SQL to `--oracle` unless that file exists.
  * With `--trace 1` it also writes the span file and the per-layer
  * counters, gathered after the timed job so they never inflate it. A traced
  * job then also runs the `--probe-keys` (operators of another layer, priced
  * in the same JVM after the job, outside job_s).
  *
  * Usage: BatchJob --corpus DIR --out DIR --work DIR --keys k1,k2,...
  *   --probe-keys k1,... --master URL --shuffle-partitions N --cores N
  *   --launch-ms EPOCH_MS --trace 0|1 --result FILE --oracle FILE */
object BatchJob {

  final case class QueryRun(key: String, span: Int, startMs: Double, endMs: Double,
      builds: Seq[(String, Double)], error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = new Support.Args(argv)
    val corpus = a("corpus")
    val out = a("out")
    val work = a("work")
    val keys = a("keys").split(',').toSeq
    val trace = a.flag("trace")
    val probeKeys = a("probe-keys").split(',').toSeq.filter(_.nonEmpty)
    val unknown = (keys ++ probeKeys).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")

    val spark = Support.session(a("master"), a.int("shuffle-partitions"), work)
    val readyMs = Support.wallMs
    val setupS = (readyMs - a.double("launch-ms")) / 1000.0
    val listener = if (trace) Some(new TraceListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer
    val sc = spark.sparkContext
    Tables.drainBuildTimes()

    val queries = SparkEntry.queries
    def runAll(keys: Seq[String], root: Int, layer: String): Seq[QueryRun] = {
      val runs = keys.map { key =>
        val id = tracer.open(s"query:$key", layer, root)
        sc.setLocalProperty("perfbench.span", id.toString)
        val t0 = Support.wallMs
        val error =
          try { queries(key)(spark, corpus).write.mode("overwrite").parquet(s"$out/$key"); None }
          catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        val t1 = tracer.close(id)
        QueryRun(key, id, t0, t1, Tables.drainBuildTimes(), error)
      }
      sc.setLocalProperty("perfbench.span", null)
      tracer.close(root)
      runs
    }
    val runs = runAll(keys, tracer.open("job", "job", 0), "query")
    val jobS = (runs.last.endMs - runs.head.startMs) / 1000.0

    // The oracle SQL is a function of the program and of knobs sized from
    // the corpus's row counts; the caller keys the file on both. Building
    // the map initialises every operator object (about 25 s on 4 cores), so
    // it is written once per key, after the timed job.
    val oracleFile = new java.io.File(a("oracle"))
    if (!oracleFile.exists()) {
      val oracle = SparkEntry.oracleSql
      val part = new java.io.File(s"${oracleFile.getPath}.$readyMs.part")
      Support.writeFile(part.getPath, Support.json(
        (keys ++ probeKeys).filter(oracle.contains).map(k => k -> oracle(k)).toMap))
      java.nio.file.Files.move(part.toPath, oracleFile.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    var probeRuns = Seq.empty[QueryRun]
    val traced: Map[String, Any] = listener.map { l =>
      TraceListener.drain(spark)
      val jobTotals = l.synchronized(Map(
        "jobs" -> l.jobs.toDouble, "stages" -> l.stages.toDouble, "skew" -> l.skew) ++
        l.total.toMap)
      val counters =
        if (keys.exists(_.startsWith("cdc_"))) cdcDecomposition(spark, corpus, out, tracer)
        else Map.empty[String, Double]
      val sinkS = sinkProbe(spark, out, work, runs.filter(_.error.isEmpty).map(_.key), tracer)
      probeRuns = runAll(probeKeys, tracer.open("probe", "probe", 0), "ops")
      TraceListener.drain(spark)
      buildSpans(tracer, l, runs ++ probeRuns)
      val reads = (runs ++ probeRuns)
        .map(r => l.synchronized(l.cachedReads.get(r.span).map(_.size).getOrElse(0))).sum
      TraceListener.drain(spark)
      Support.writeFile(s"$work/spans.jsonl", tracer.jsonl(id =>
        l.synchronized(l.bySpan.get(id).map(_.toMap).getOrElse(Map.empty))))
      Map("spark" -> jobTotals, "cached_reads" -> reads,
        "peak_cached_mb" -> l.peakStoredBytes / 1e6, "cdc" -> counters,
        "sink_write_s" -> sinkS, "cores" -> a.int("cores"))
    }.getOrElse(Map.empty)

    Support.writeFile(a("result"), Support.json(Map(
      "setup_s" -> setupS,
      "job_s" -> jobS,
      "queries" -> (runs ++ probeRuns).map(r => Map("key" -> r.key, "span" -> r.span,
        "probe" -> probeRuns.contains(r),
        "wall_ms" -> (r.endMs - r.startMs), "done_ms" -> (r.endMs - runs.head.startMs),
        "error" -> r.error.orNull,
        "builds" -> r.builds.map { case (k, s) => Map("key" -> k, "s" -> s) })),
      "trace" -> traced)))
    spark.stop()
  }

  /** Memo builds as spans. The ledger gives each build's duration in
    * completion order; each build ends with the memo's materializing count,
    * the SQL execution Spark describes as `count at Tables.scala`. Pairing the
    * two in order gives every build its interval, and nesting (a build whose
    * input is itself a memo frame) falls out of interval containment. */
  private def buildSpans(tracer: Tracer, l: TraceListener, runs: Seq[QueryRun]): Unit = {
    val ends = l.synchronized(l.execs.values.toVector)
      .filter(e => e.description.startsWith("count at Tables.scala"))
      .map(_.endMs).sorted
    val ledger = runs.flatMap(r => r.builds.map(b => (r, b)))
    val paired = ledger.size == ends.size
    val open = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    ledger.zipWithIndex.map { case ((r, (key, s)), i) =>
      val end = if (paired) ends(i) else r.endMs
      (r, key, end - s * 1000.0, end)
    }.sortBy(_._3).foreach { case (r, key, start, end) =>
      val parent = open.filter { case (_, s0, e0) => s0 <= start && end <= e0 }
        .sortBy(-_._2).headOption.map(_._1).getOrElse(r.span)
      open += ((tracer.add(s"build:$key", "memo", parent, start, end), start, end))
    }
  }

  /** The cdc chain layer by layer, each stage over its cached input:
    * decode (the memo frame the job already built), hypertable remap, and
    * routed + filtered fan-out, each fully materialized. Also the
    * conservation counters of the chain. */
  private def cdcDecomposition(spark: SparkSession, corpus: String, out: String,
      tracer: Tracer): Map[String, Double] = {
    val root = tracer.open("decompose:cdc", "cdc", 0)
    def timed(name: String)(df: DataFrame): (Double, Long) = {
      val (_, id) = tracer.around(name, "cdc", root) {
        df.write.format("noop").mode("overwrite").save()
      }
      val s = tracer.spans(id - 1)
      ((s.endMs - s.startMs) / 1000.0, df.count())
    }
    val decoded = ChangeFeed.decoded(spark, corpus)
    val docs = Tables.events(spark, corpus).count()
    val (remapS, routed) = timed("cdc:remap")(HyperRemap.remap(spark, decoded))
    val (fanoutS, delivered) =
      timed("cdc:fanout")(Forwarder.fanoutFromDecoded(spark, ChangeFeed.decodedWithMap(spark, corpus)))
    val changes = decoded.count()
    val dlq = new java.io.File(s"$out/cdc_dlq")
    val malformed =
      if (!dlq.exists()) 0L
      else spark.read.parquet(dlq.getPath).where("reason = 'parse_error'")
        .select("n_msgs").collect().map(_.getLong(0)).sum
    tracer.close(root)
    Map("remap_s" -> remapS, "fanout_s" -> fanoutS, "docs" -> docs.toDouble,
      "changes" -> changes.toDouble, "malformed" -> malformed.toDouble,
      "routed" -> routed.toDouble, "delivered" -> delivered.toDouble)
  }

  /** The sink alone: each written result read back and written again as
    * parquet. The job's own writes cannot be separated from the query that
    * feeds them; this copy prices the write layer (plus a parquet read of
    * the result, so it bounds the sink's share from above). */
  private def sinkProbe(spark: SparkSession, out: String, work: String,
      keys: Seq[String], tracer: Tracer): Double = {
    val root = tracer.open("sink_probe", "sink", 0)
    keys.foreach { key =>
      tracer.around(s"sink:$key", "sink", root) {
        spark.read.parquet(s"$out/$key").write.mode("overwrite").parquet(s"$work/sink_probe/$key")
      }
    }
    (tracer.close(root) - tracer.spans(root - 1).startMs) / 1000.0
  }
}
