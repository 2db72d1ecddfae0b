package graft.streaming

import java.sql.DriverManager
import java.util.concurrent.ConcurrentSkipListMap

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{ChangeFeed, Forwarder, Subscription}

/** Live-feed harness for the composed change-data pipeline: one paced
  * writer thread commits wal2json documents into a JDBC change table
  * `changes(lsn, payload)` while the polling source drives
  *
  *   poll → wal2json decode (+cmap) → hypertable remap →
  *   per-subscriber fan-out (parquet sink) + per-batch LWW state
  *
  * under bounded admission (maxLsnPerTrigger).
  *
  * Each micro-batch runs [[applyFeedBatch]] (also driven through a
  * kill/restart by JdbcPipelineSpec): the fan-out and the batch's own
  * state fold as two concurrent sinks, and the batch's stats taken from
  * an `observe` on the fan-out, so a batch costs about its slower sink,
  * and neither sink's work grows with the feed. [[run]] stops the query
  * only after its last micro-batch has committed, so every admitted
  * change is delivered inside the run. Latency and backlog are measured
  * by the caller, from outside: the run's directory (`ckpt/`,
  * `deliveries/batch_*`, `snapshot/state_*`) is left for it to read. */
object StreamRateHarness {

  /** Per-batch facts recorded by [[applyFeedBatch]] on the batch's own
    * execution path, not on the async StreamingQueryListener bus, so
    * correctness assertions can read every batch's record.
    *
    * `rows` counts decoded change rows (one wal2json document can carry
    * several changes); `lsns` counts distinct admitted lsns, the
    * exactly-once unit. Window tiling plus sum(lsns) == feed length pins
    * per-lsn exactly-once delivery including loss inside a window. */
  case class SyncBatch(batchId: Long, rows: Long, lsns: Long,
    minLsn: Long, maxLsn: Long)

  /** A [[run]]'s measurements. `work` is the run's directory (change
    * table, checkpoint, outputs); the caller reads and deletes it.
    * `drainLagMs` is the wall from the writer's last commit to the
    * stream's last committed micro-batch; `stateRows` is the row count
    * of the folded [[state]]. */
  case class RateReport(
    generatorWallMs: Long,
    drainLagMs: Long,
    stateRows: Long,
    committedLsn: Long,
    syncBatches: Seq[SyncBatch],
    work: String)

  private def exec(url: String, sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { c.createStatement().execute(sql) } finally c.close()
  }

  /** The cumulative LWW state of the feed applied under `work`: the fold
    * of every batch's state version (see [[applyFeedBatch]]). */
  def state(spark: SparkSession, work: String): DataFrame =
    Forwarder.foldSnapshotStates(spark.read.parquet(s"$work/snapshot/state_*"))

  /** End offset (the source's lsn) of the newest micro-batch whose commit
    * the checkpoint `ckpt` recorded; 0 before the first commit. */
  def committedLsn(ckpt: String): Long =
    Option(new java.io.File(ckpt, "commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).map(_.toLong).maxOption.map { id =>
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(ckpt, "offsets", id.toString))
        lines.get(lines.size - 1).trim.toLong
      }.getOrElse(0L)

  /** The composed feed's exactly-once apply of one decoded+cmap micro-batch.
    *
    * Two sinks run concurrently, each polling and decoding its own read of
    * the batch's fixed LSN range (at a few hundred documents a second read
    * is cheaper than a columnar cache): the fan-out over the query's
    * routable `subs` to `work/deliveries/batch_<id>` on this thread, with
    * an `observe` on its input yielding the [[SyncBatch]], and the batch's
    * own LWW fold to `work/snapshot/state_<id>` on a fresh thread, which
    * reads no earlier version ([[state]] folds them), so neither grows
    * with the feed. Every side effect is keyed by batchId in overwrite
    * mode, so a replayed batch (Spark replays only with identical
    * content) rewrites only its own output. The state thread is joined
    * before this returns or rethrows, even when the batch thread is
    * interrupted by a stop, so no write outlives its batch to race a
    * replay on the same path. `record` receives the batch's stats once
    * both sinks succeeded; a batch that decodes to no changes has none. */
  def applyFeedBatch(spark: SparkSession, work: String, batch: DataFrame,
      batchId: Long, subs: DataFrame, record: SyncBatch => Unit = _ => ()): Unit = {
    val joinState = forked(s"feed-state-$batchId") {
      Forwarder.snapshotState(Forwarder.keyed(batch))
        .write.mode("overwrite").parquet(s"$work/snapshot/state_$batchId")
    }
    // the posexplode index numbers each document's changes from 0, so
    // the count of idx = 0 rows is the distinct-lsn count, which observe
    // (no distinct aggregates) cannot take directly
    val stats = Observation()
    try {
      Forwarder.fanoutOver(spark, batch.observe(stats,
          count(lit(1)).as("rows"), count_if(col("idx") === 0).as("lsns"),
          min(col("lsn")).as("min_lsn"), max(col("lsn")).as("max_lsn")), subs)
        .write.mode("overwrite").parquet(s"$work/deliveries/batch_$batchId")
    } catch {
      case t: Throwable =>
        try joinState() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
    joinState()
    val m = stats.get.view.mapValues(_.asInstanceOf[Long])
    if (m("rows") > 0L)
      record(SyncBatch(batchId, m("rows"), m("lsns"), m("min_lsn"), m("max_lsn")))
  }

  /** Start `body` on a fresh thread, which inherits this thread's Spark
    * local properties (job group, SQL execution id) so its jobs are
    * cancelled with the query and nest under its micro-batch. Returns a
    * join that waits the thread out through interrupts (restoring the
    * interrupt flag after) and rethrows its failure. */
  private def forked(name: String)(body: => Unit): () => Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => try body catch { case e: Throwable => failure.set(e) }, name)
    t.setDaemon(true)
    t.start()
    () => {
      var interrupted = false
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
      Option(failure.get).foreach(e => throw e)
    }
  }

  /** Drive the pipeline: one writer inserts `msgs` (ordered by lsn) at
    * `ratePerSec`, in one committed slice per 100 ms, while the stream
    * consumes with `maxLsnPerTrigger` admission and a `triggerMs`
    * processing-time trigger; return the measured report. The caller
    * supplies messages (bounded — this is a bench driver, not a query
    * path). */
  def run(spark: SparkSession, msgsIn: Array[Row], ratePerSec: Long,
      maxLsnPerTrigger: Long, triggerMs: Long,
      numPartitions: Int = 4): RateReport = {
    require(msgsIn.nonEmpty, "no messages to stream")
    // Re-key to a DENSE 1..N outbox sequence (order-preserving): the
    // synthesized feed uses event_id as lsn — unique but sparse at
    // stress scales — while LSN-window admission prices the scanned key
    // range, so a sparse key space would burn triggers on empty windows.
    // A real outbox/sequence column is dense by construction; this is
    // that shape. LWW order is preserved (msgsIn arrives lsn-sorted).
    val msgs: Array[Row] = msgsIn.zipWithIndex.map { case (r, i) =>
      Row(i.toLong + 1L, r.getString(1))
    }
    val work = java.nio.file.Files.createTempDirectory("graft-stream-bench-").toString
    val url = s"jdbc:derby:$work/db;create=true"
    exec(url, "CREATE TABLE changes (lsn BIGINT PRIMARY KEY, payload VARCHAR(4000))")

    val maxLsn = msgs.last.getLong(0)
    val sliceRows = math.max(1, (ratePerSec / 10).toInt) // 100 ms ticks
    val genT0 = System.nanoTime()
    @volatile var generatorDoneAt = 0L
    // The writer's failure, captured so the run fails FAST with the
    // actual exception instead of at the deadline with no hint that the
    // writer crashed; getConnection sits inside the try so a connect
    // failure is captured too.
    @volatile var writerError: Throwable = null
    val writer = new Thread(() => {
      var c: java.sql.Connection = null
      try {
        c = DriverManager.getConnection(url)
        c.setAutoCommit(false)
        val ps = c.prepareStatement("INSERT INTO changes VALUES (?, ?)")
        msgs.grouped(sliceRows).zipWithIndex.foreach { case (slice, s) =>
          // pace to the slice's slot (genT0 + s·100 ms) before writing
          // it; a slow DB degrades the achieved rate, which the report
          // exposes via generatorWallMs
          val wait = (genT0 + s.toLong * 100L * 1000000L - System.nanoTime()) / 1000000L
          if (wait > 0) Thread.sleep(wait)
          slice.foreach { r =>
            ps.setLong(1, r.getLong(0)); ps.setString(2, r.getString(1))
            ps.addBatch()
          }
          ps.executeBatch()
          c.commit()
        }
      } catch {
        case t: Throwable => writerError = t
      } finally {
        if (c != null) c.close()
        generatorDoneAt = System.nanoTime()
      }
    }, "stream-bench-writer")

    // batchId → synchronous facts; keyed so an exactly-once replay of a
    // batch overwrites its own record instead of double-counting
    val syncStats = new ConcurrentSkipListMap[Long, SyncBatch]()

    val raw = spark.readStream
      .format("graft.sources.JdbcChangeFeed")
      .option("url", url).option("table", "changes")
      .option("startLsn", (msgs.head.getLong(0) - 1).toString)
      .option("numPartitions", numPartitions.toString)
      .option("maxLsnPerTrigger", maxLsnPerTrigger.toString)
      .load()
    val subs = Subscription.routable(spark)
    val q = ChangeFeed.decodedWithMapFromRaw(raw).writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyFeedBatch(spark, work, batch, batchId, subs, syncStats.put(batchId, _))
      }
      .start()

    writer.start()
    // Wait for the writer (failing fast on its own exception), then let
    // the stream process everything it committed and stop it only once
    // its last micro-batch has committed. A stalled stream is stopped at
    // the deadline, which returns processAllAvailable.
    val deadline = System.nanoTime() +
      math.max(120L, 20L * msgs.length / math.max(1L, ratePerSec)) * 1000000000L
    val streamDoneAt = try {
      while (generatorDoneAt == 0L && System.nanoTime() < deadline) Thread.sleep(100)
      Option(writerError).foreach { t =>
        throw new IllegalStateException(s"ingest writer crashed: $t", t)
      }
      val timer = new java.util.Timer("stream-bench-deadline", true)
      timer.schedule(new java.util.TimerTask { def run(): Unit = q.stop() },
        math.max(0L, (deadline - System.nanoTime()) / 1000000L))
      try q.processAllAvailable() finally timer.cancel()
      System.nanoTime()
    } finally q.stop()
    // a malformed last document decodes to no rows, but the source's
    // committed offset still reaches the feed's last lsn
    val committed = committedLsn(s"$work/ckpt")
    require(committed == maxLsn,
      s"stream failed to drain: committed lsn $committed < $maxLsn")
    val syncBatchSeq = {
      import scala.jdk.CollectionConverters._
      syncStats.values().asScala.toSeq.sortBy(_.batchId)
    }
    RateReport(
      generatorWallMs = (generatorDoneAt - genT0) / 1000000L,
      drainLagMs = math.max(0L, (streamDoneAt - generatorDoneAt) / 1000000L),
      stateRows = state(spark, work).count(),
      committedLsn = committed,
      syncBatches = syncBatchSeq,
      work = work)
  }
}
