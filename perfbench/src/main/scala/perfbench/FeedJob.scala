package perfbench

import java.io.File
import java.sql.DriverManager
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.cdc.{ChangeFeed, Forwarder, HyperRemap}
import graft.streaming.StreamRateHarness

/** The live change feed, open loop: `StreamRateHarness.run` commits seeded
  * wal2json documents into a Derby change table from one writer thread at a
  * fixed rate while the JDBC polling stream consumes them (decode, remap,
  * fan-out to the seed subscriptions, LWW snapshot).
  *
  * A short warm-up feed runs first in the same JVM; then the changes of the
  * measured feed's first `warmup-s` seconds are left out of the latency
  * samples (the new query's first micro-batches plan cold). Both count as
  * set-up, so the samples cover the feed's last `window-s` seconds.
  *
  * Delivery latency is measured from outside the program: a poller thread
  * reads the change table's committed high-water every few milliseconds
  * (the commit time of each document), and Spark's own per-trigger progress
  * gives each micro-batch's LSN window and completion time. A change's
  * latency is the completion of the batch whose window holds its LSN minus
  * the commit of its document.
  *
  * Usage: FeedJob --corpus DIR --work DIR --master URL --shuffle-partitions N
  *   --cores N --launch-ms EPOCH_MS
  *   --trace 0|1 --result FILE --seed N --rate DOCS_PER_S --trigger-ms MS
  *   --max-per-trigger LSNS --partitions N --warmup-docs N --warmup-s S
  *   --window-s S --malformed-share F --poll-ms MS */
object FeedJob {

  final case class Progress(runId: String, batchId: Long, startMs: Double,
      phases: Map[String, Double], start: Long, end: Long, latest: Long, inputRows: Long) {
    def completeMs: Double = startMs + phases.getOrElse("triggerExecution", 0.0)
  }

  private def offset(s: String): Long =
    Option(s).map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(0L)

  final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.sources.nonEmpty) {
        val s = p.sources(0)
        events.add(Progress(p.runId.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
          offset(s.startOffset), offset(s.endOffset), offset(s.latestOffset),
          p.numInputRows))
      }
    }
  }

  /** Records (time, committed high-water) each time the change table's
    * max(lsn) grows. The harness creates its Derby database under a fresh
    * `graft-stream-bench-*` directory in java.io.tmpdir; the poller waits
    * for the one that did not exist before and connects to it. */
  final class CommitPoller(tmp: File, before: Set[String], pollMs: Long) extends Thread("commit-poller") {
    setDaemon(true)
    @volatile var stopping = false
    @volatile var harnessDir: Option[File] = None
    val seen = mutable.ArrayBuffer.empty[(Double, Long)]

    private def connect(): Option[java.sql.PreparedStatement] =
      Option(tmp.listFiles()).getOrElse(Array.empty[File])
        .find(f => f.getName.startsWith("graft-stream-bench-") && !before(f.getName))
        .filter(d => new File(d, "db/service.properties").exists())
        .flatMap { d =>
          try {
            val c = DriverManager.getConnection(s"jdbc:derby:${d.getPath}/db")
            val ps = c.prepareStatement("SELECT MAX(lsn) FROM changes")
            harnessDir = Some(d)
            Some(ps)
          } catch { case _: java.sql.SQLException => None }
        }

    override def run(): Unit = {
      var ps: Option[java.sql.PreparedStatement] = None
      while (!stopping && ps.isEmpty) {
        ps = connect()
        if (ps.isEmpty) Thread.sleep(1)
      }
      var last = 0L
      ps.foreach { st =>
        while (!stopping) {
          val rs = st.executeQuery()
          val hi = if (rs.next()) rs.getLong(1) else 0L
          rs.close()
          val t = Support.wallMs
          if (hi > last) { seen.synchronized(seen += (t -> hi)); last = hi }
          java.util.concurrent.locks.LockSupport.parkNanos(pollMs * 1000000L)
        }
        st.getConnection.close()
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = new Support.Args(argv)
    val corpus = a("corpus")
    val rate = a.long("rate")
    val spark = Support.session(a("master"), a.int("shuffle-partitions"), a("work"))
    val log = new ProgressLog
    spark.streams.addListener(log)
    val listener = if (a.flag("trace")) Some(new TraceListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val warmDocs = a.int("warmup-docs")
    val warmLsn = (a.double("warmup-s") * rate).toLong
    val nDocs = warmLsn.toInt + (a.double("window-s") * rate).toInt
    // The harness counts a feed as drained only once a micro-batch decodes
    // a change at the feed's last LSN. A truncated last document decodes to
    // nothing, so the harness would wait out its deadline and fail: the last
    // document of the warm-up feed and of the measured feed stay whole.
    val msgs = documents(spark, corpus, a.long("seed"), a.double("malformed-share"),
      keepWhole = Set(warmDocs - 1, warmDocs + nDocs - 1))
    require(msgs.length >= warmDocs + nDocs,
      s"corpus has ${msgs.length} documents, feed needs ${warmDocs + nDocs}")
    def feed(docs: Array[Row]): StreamRateHarness.RateReport =
      StreamRateHarness.run(spark, docs, rate, a.long("max-per-trigger"), a.long("trigger-ms"),
        numPartitions = a.int("partitions"))

    // A short feed first pays the JVM's cold start (the first micro-batch
    // compiles the whole pipeline), so the measured feed starts without the
    // backlog that cold batch leaves behind.
    feed(msgs.take(warmDocs))
    TraceListener.drain(spark)
    val warmRuns = log.events.asScala.map(_.runId).toSet
    val fed = msgs.slice(warmDocs, warmDocs + nDocs)
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val poller = new CommitPoller(tmp,
      Option(tmp.list()).map(_.toSet).getOrElse(Set.empty), a.long("poll-ms"))
    poller.start()
    val report = feed(fed)
    poller.stopping = true
    poller.join()
    TraceListener.drain(spark)
    val harnessDir = poller.harnessDir.getOrElse(
      throw new IllegalStateException("never saw the harness's change table"))

    // The harness re-keys the fed documents to a dense 1..N LSN in order, so
    // the first `warmLsn` LSNs are the feed's first `warmup-s` seconds.
    val batches = log.events.asScala.toVector
      .filter(p => !warmRuns(p.runId) && p.end > p.start && p.end > warmLsn).sortBy(_.batchId)
    require(batches.nonEmpty, s"no micro-batch completed past the warm-up (LSN $warmLsn)")
    val commits = poller.seen.synchronized(poller.seen.toVector)
    val firstCommitMs = commits.find(_._2 > warmLsn).map(_._1).getOrElse(
      throw new IllegalStateException(s"never saw LSN ${warmLsn + 1} committed"))
    val windowStart = math.max(firstCommitMs, batches.head.startMs)
    val windowEnd = batches.last.completeMs
    val setupS = (firstCommitMs - a.double("launch-ms")) / 1000.0

    // Reference for the fed documents, outside the timed region.
    val schema = StructType(Seq(StructField("lsn", LongType), StructField("payload", StringType)))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(
      fed.zipWithIndex.map { case (r, i) => Row(i + 1L, r.getString(1)) }.toSeq, 4), schema)
    val decoded = ChangeFeed.decodedWithMapFromRaw(raw).persist()
    val changesPerLsn: Map[Long, Long] = decoded.groupBy("lsn").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // batches arrive in LSN order, so one forward scan of the commits serves all
    val samples = mutable.ArrayBuffer.empty[(Double, Long)]
    var ci = 0
    batches.foreach { b =>
      (math.max(b.start, warmLsn) + 1 to b.end).foreach { lsn =>
        while (ci < commits.size && commits(ci)._2 < lsn) ci += 1
        val n = changesPerLsn.getOrElse(lsn, 0L)
        if (n > 0 && ci < commits.size) samples += ((b.completeMs - commits(ci)._1, n))
      }
    }
    val sampled = samples.map(_._2).sum
    val unsampled = changesPerLsn.filter(_._1 > warmLsn).values.sum - sampled

    // The harness stops its query as soon as the last LSN is admitted, so the
    // final micro-batch is usually cancelled before it commits. Exactly-once
    // is checked over the committed batches only; the changes of the
    // cancelled batch are reported as pending, not delivered.
    val committedEnd = committedLsn(new File(harnessDir, "ckpt"))
    val pendingChanges = changesPerLsn.filter(_._1 > committedEnd).values.sum
    val expected = Forwarder.fanoutFromDecoded(spark, decoded)
      .where(col("lsn") <= committedEnd).persist()
    val delivered = spark.read.parquet(s"${harnessDir.getPath}/deliveries/batch_*")
      .where(col("lsn") <= committedEnd)
      .select(expected.columns.map(col).toSeq: _*)
    val expectedRows = expected.count()
    val wrong = expected.exceptAll(delivered).count() + delivered.exceptAll(expected).count()
    val remapped = HyperRemap.remap(spark, decoded)
    // the harness's snapshot is the state after its last committed batch
    val entities = remapped.where(col("lsn") <= committedEnd)
      .withColumn("uid", Forwarder.entityCol).select("base", "uid").distinct().count()
    val snapshotOk = report.stateRows == entities

    val traced: Map[String, Any] = listener.map { l =>
      val execs = l.synchronized(l.execs.values.toVector)
        .filter(e => e.startMs >= windowStart && e.startMs <= windowEnd)
      val tracer = new Tracer
      val execSpan = feedSpans(tracer, batches, execs)
      Support.writeFile(s"${a("work")}/spans.jsonl", tracer.jsonl(id =>
        execSpan.get(id).flatMap(x => l.synchronized(l.byExec.get(x).map(_.toMap)))
          .getOrElse(Map.empty)))
      // the window's Spark work: every execution a measured batch ran
      val inSpans = execSpan.values.toSet
      val window = l.synchronized(l.byExec.filter { case (x, _) => inSpans(x) }.values.toVector)
      def sum(k: String): Double = window.map(_.toMap(k)).sum
      def phase(names: String*): Seq[Double] =
        batches.map(b => names.map(b.phases.getOrElse(_, 0.0)).sum)
      // the foreachBatch writes, not the harness's own reads of the same paths
      def execMs(tag: String): Seq[Double] =
        execs.filter(e => e.rootId != e.id && e.plan.contains(tag)).map(e => e.endMs - e.startMs)
      Map(
        "spark" -> Map("jobs" -> window.map(_.jobs.toDouble).sum,
          "stages" -> window.map(_.stages.toDouble).sum, "tasks" -> sum("tasks"),
          "task_ms" -> sum("task_ms"), "gc_ms" -> sum("gc_ms"),
          "shuffle_mb" -> sum("shuffle_mb"), "spill_mb" -> sum("spill_mb"), "skew" -> l.skew),
        "wall_s" -> (windowEnd - windowStart) / 1000.0,
        "cores" -> a.int("cores"),
        "peak_cached_mb" -> l.peakStoredBytes / 1e6,
        "probe_ms" -> Support.quantile(phase("latestOffset"), 0.5),
        "reads_per_doc" -> batches.map(_.inputRows).sum.toDouble /
          batches.map(b => b.end - b.start).sum,
        "batch_ms" -> Support.quantile(phase("addBatch"), 0.5),
        "batch_p99_ms" -> Support.quantile(phase("addBatch"), 0.99),
        "plan_ms" -> Support.quantile(phase("queryPlanning", "getBatch"), 0.5),
        "commit_ms" -> Support.quantile(phase("walCommit", "commitOffsets"), 0.5),
        "sink_ms" -> Support.quantile(execMs("/deliveries/batch_"), 0.5),
        "sink_write_s" -> execMs("/deliveries/batch_").sum / 1000.0,
        "state_merge_ms" -> Support.quantile(execMs("/snapshot/state_"), 0.5),
        "state_rows" -> report.stateRows.toDouble,
        "backlog_max_docs" -> batches.map(b => (b.latest - b.end).toDouble).max,
        "docs_per_batch" -> Support.quantile(batches.map(b => (b.end - b.start).toDouble), 0.5),
        "cdc" -> Map(
          "docs" -> fed.length.toDouble,
          "changes" -> changesPerLsn.values.sum.toDouble,
          "malformed" -> (fed.length - changesPerLsn.size).toDouble,
          "routed" -> remapped.count().toDouble,
          "delivered" -> expectedRows.toDouble))
    }.getOrElse(Map.empty)

    Support.writeFile(a("result"), Support.json(Map(
      "setup_s" -> setupS,
      "deliver_p50_ms" -> Support.weightedQuantile(samples.toSeq, 0.5),
      "deliver_p99_ms" -> Support.weightedQuantile(samples.toSeq, 0.99),
      "job_s" -> (windowEnd - firstCommitMs) / 1000.0,
      "samples" -> sampled,
      "unsampled" -> unsampled,
      "batches" -> batches.size,
      "expected_deliveries" -> expectedRows,
      "wrong_deliveries" -> wrong,
      "state_rows" -> report.stateRows,
      "pending_changes_at_stop" -> pendingChanges,
      "committed_lsn" -> committedEnd,
      "entities" -> entities,
      "snapshot_ok" -> snapshotOk,
      "generator_wall_ms" -> report.generatorWallMs,
      "trace" -> traced)))
    spark.stop()
  }

  /** High-water LSN of the stream's last committed micro-batch: the end
    * offset (last line) of the newest batch whose commit was written. */
  private def committedLsn(ckpt: File): Long =
    Option(new File(ckpt, "commits").list()).getOrElse(Array.empty[String])
      .filter(_.forall(_.isDigit)).map(_.toLong).maxOption.map { id =>
        val lines = java.nio.file.Files.readAllLines(new File(ckpt, s"offsets/$id").toPath)
        lines.get(lines.size - 1).trim.toLong
      }.getOrElse(0L)

  /** The feed's wal2json documents in LSN order, built by the program's own
    * synthesis from the events corpus; a seeded share, except the documents
    * at the `keepWhole` positions, is truncated to half its length, which no
    * JSON parser accepts. */
  private def documents(spark: SparkSession, corpus: String, seed: Long,
      malformedShare: Double, keepWhole: Set[Int]): Array[Row] = {
    val rnd = new java.util.Random(seed)
    ChangeFeed.messages(spark, corpus).orderBy("lsn").collect().zipWithIndex.map { case (r, i) =>
      val p = r.getString(1)
      if (rnd.nextDouble() < malformedShare && !keepWhole(i))
        Row(r.getLong(0), p.substring(0, p.length / 2))
      else r
    }
  }

  /** Trigger spans from the progress events, each with its phases laid out
    * in execution order, and the SQL executions run inside foreachBatch as
    * children of the addBatch phase that contains them. Returns span id ->
    * SQL execution id, for attaching task metrics. */
  private def feedSpans(tracer: Tracer, batches: Seq[Progress],
      execs: Seq[SqlExec]): Map[Int, Long] = {
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    val addBatch = batches.map { b =>
      val id = tracer.add(s"trigger:${b.batchId}", "streaming", 0, b.startMs, b.completeMs)
      var t = b.startMs
      order.filter(b.phases.contains).map { ph =>
        val d = b.phases(ph)
        val layer = if (ph == "latestOffset") "sources" else "streaming"
        val sid = tracer.add(ph, layer, id, t, t + d)
        t += d
        ph -> (sid, t - d, t)
      }.toMap.get("addBatch")
    }.flatten
    // the micro-batch's own execution is the root of those foreachBatch
    // runs; root executions outside every addBatch are the harness's own
    // reads after the feed and are left out
    val (roots, nested) = execs.partition(e => e.rootId == e.id)
    val rootSpan = roots.flatMap { e =>
      addBatch.find { case (_, s, t) => s <= e.startMs && e.startMs <= t }.map { case (p, _, _) =>
        e.id -> tracer.add("sql:microbatch", "streaming", p, e.startMs, e.endMs)
      }
    }.toMap
    rootSpan.map(_.swap) ++ nested.filter(e => rootSpan.contains(e.rootId)).map { e =>
      val (name, layer) =
        if (e.plan.contains("/deliveries/batch_")) ("sql:deliveries", "sink")
        else if (e.plan.contains("/snapshot/state_")) ("sql:snapshot", "streaming")
        else ("sql:batch_stats", "streaming")
      tracer.add(name, layer, rootSpan(e.rootId), e.startMs, e.endMs) -> e.id
    }.toMap
  }
}
