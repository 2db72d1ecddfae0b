package graft.streaming

import java.sql.DriverManager
import java.util.concurrent.ConcurrentSkipListMap

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.cdc.{ChangeFeed, Forwarder, Subscription}

/** Sustained-rate measurement harness for the composed change-data
  * pipeline: writer threads commit wal2json documents into a JDBC change
  * table at a target rate while the polling source drives
  *
  *   poll → wal2json decode (+cmap) → hypertable remap →
  *   per-subscriber fan-out (parquet sink) + per-batch LWW state
  *
  * under bounded admission (maxLsnPerTrigger), recording per-batch rows,
  * wall, insert-to-completion latency and backlog.
  *
  * Each micro-batch runs [[applyFeedBatch]] (also driven through a
  * kill/restart by JdbcPipelineSpec): the fan-out and the batch's own
  * state fold as two concurrent sinks, and the batch's stats taken from
  * an `observe` on the fan-out, so a batch costs about its slower sink,
  * and neither sink's work grows with the feed. [[run]] stops the query
  * only after its last micro-batch has committed, so every admitted
  * change is delivered inside the run. */
object StreamRateHarness {

  case class BatchStat(batchId: Long, rows: Long, wallMs: Long,
    e2eMs: Long, backlogRows: Long)

  /** Per-batch facts recorded by [[applyFeedBatch]] on the batch's own
    * execution path, unlike [[BatchStat]], which rides the async
    * StreamingQueryListener bus (best-effort, possibly still in flight at
    * stop): correctness assertions read these, the listener stats serve
    * latency/backlog reporting only.
    *
    * `rows` counts decoded change rows (one wal2json document can carry
    * several changes); `lsns` counts distinct admitted lsns, the
    * exactly-once unit. Window tiling plus sum(lsns) == feed length pins
    * per-lsn exactly-once delivery including loss inside a window. */
  case class SyncBatch(batchId: Long, rows: Long, lsns: Long,
    minLsn: Long, maxLsn: Long)

  /** A [[run]]'s measurements. `work` is the run's directory (change
    * table, checkpoint, outputs); the caller reads and deletes it. */
  case class RateReport(
    nMsgs: Long,
    generatorRate: Long,
    generatorWallMs: Long,
    streamWallMs: Long,
    drainLagMs: Long,
    sustainedRowsPerSec: Double,
    maxBacklogRows: Long,
    nBatches: Int,
    maxBatchRows: Long,
    deliveredRows: Long,
    stateRows: Long,
    distinctEntities: Long,
    committedLsn: Long,
    batches: Seq[BatchStat],
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

  /** Drive the pipeline: insert `msgs` (ordered by lsn) at `ratePerSec`
    * while the stream consumes with `maxLsnPerTrigger` admission and a
    * `triggerMs` processing-time trigger; return the measured report.
    * The caller supplies messages (bounded — this is a bench driver, not
    * a query path).
    *
    * `preload = true` measures CONSUMER drain capacity instead of the
    * composed end-to-end rate: the generator inserts the whole message
    * set unpaced BEFORE the stream starts (ratePerSec only sizes its
    * commit slices), so streamWallMs/sustainedRowsPerSec price the
    * poll → decode → remap → fan-out + snapshot path alone. If the
    * composed run's achieved generator rate is below this, the ingest
    * write path is the bottleneck, not the stream.
    *
    * `writers` > 1 shards the ingest across N writer connections, since
    * one Derby connection saturates below the consumer's drain rate.
    * Slices are striped round-robin; each writer publishes its committed
    * position transactionally with its slice commit, and the source's
    * high-water becomes MIN over writers (progressTable option) — the
    * safe multi-writer outbox watermark. writers = 1 uses no progress
    * table and the source's max(lsn) high-water. */
  def run(spark: SparkSession, msgsIn: Array[Row], ratePerSec: Long,
      maxLsnPerTrigger: Long, triggerMs: Long,
      numPartitions: Int = 4, preload: Boolean = false,
      writers: Int = 1): RateReport = {
    require(msgsIn.nonEmpty, "no messages to stream")
    require(writers >= 1, "writers must be >= 1")
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
    val progressTable = if (writers > 1) Some("progress") else None
    progressTable.foreach { pt =>
      exec(url, s"CREATE TABLE $pt (writer INT PRIMARY KEY, committed_lsn BIGINT)")
      (0 until writers).foreach(k =>
        exec(url, s"INSERT INTO $pt VALUES ($k, ${msgs.head.getLong(0) - 1})"))
    }

    // lsn → insert-completion nanos, for end-to-end latency attribution
    val insertTimes = new ConcurrentSkipListMap[Long, Long]()
    val maxLsn = msgs.last.getLong(0)
    @volatile var generatorDoneAt = 0L
    val sliceRows = math.max(1, (ratePerSec / 10).toInt) // 100 ms ticks
    val nSlices = (msgs.length + sliceRows - 1) / sliceRows
    val genT0 = System.nanoTime()
    val writersDone = new java.util.concurrent.atomic.AtomicInteger(0)
    // First writer failure, captured so the harness fails FAST with the
    // actual exception: a writer dying on an uncaught SQLException (Derby
    // lock escalation between concurrent inserters + the reader's MIN
    // scan) otherwise surfaces only at the deadline with no hint a
    // writer crashed.
    val writerError =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    // Writer k owns slices s with s % writers == k (round-robin stripes
    // of the lsn-sorted feed, so each writer's own lsns are increasing
    // and its published position is monotone). Each slice's rows and the
    // writer's progress row commit in ONE transaction — the atomicity
    // the min-over-writers watermark needs. writers == 1 degenerates to
    // a single paced generator (no progress table, max(lsn) high-water).
    def writerThread(k: Int): Thread = new Thread(() => {
      // getConnection INSIDE the try: a connect-time failure (Derby
      // lock/boot contention between concurrent writers — exactly the
      // class the fail-fast targets) must set writerError and count the
      // writer done, not skip both and die at the deadline with no
      // exception attributed.
      var c: java.sql.Connection = null
      try {
        c = DriverManager.getConnection(url)
        c.setAutoCommit(false)
        val ps = c.prepareStatement("INSERT INTO changes VALUES (?, ?)")
        val pp = progressTable.map(pt =>
          c.prepareStatement(s"UPDATE $pt SET committed_lsn = ? WHERE writer = $k"))
        var s = k
        while (s < nSlices) {
          // pace to the slice's slot BEFORE writing it (slice s is due at
          // genT0 + s·100 ms on the GLOBAL schedule whichever writer owns
          // it) — waiting at the top of the loop means writer k's first
          // slice lands at its k·100 ms slot instead of every writer
          // bursting its first slice at t≈0; writers = 1 paces one slice
          // per 100 ms. A
          // slow DB naturally degrades the achieved rate, which the
          // report exposes via generatorWallMs; preload mode never
          // sleeps — it fills the table at the DB's own max rate.
          if (!preload) {
            val due = genT0 + s.toLong * 100L * 1000000L
            val wait = (due - System.nanoTime()) / 1000000L
            if (wait > 0) Thread.sleep(wait)
          }
          val i = s * sliceRows
          val until = math.min(i + sliceRows, msgs.length)
          var j = i
          while (j < until) {
            val r = msgs(j)
            ps.setLong(1, r.getLong(0)); ps.setString(2, r.getString(1))
            ps.addBatch()
            j += 1
          }
          ps.executeBatch()
          pp.foreach { p => p.setLong(1, msgs(until - 1).getLong(0)); p.executeUpdate() }
          c.commit()
          insertTimes.put(msgs(until - 1).getLong(0), System.nanoTime())
          s += writers
        }
        // done: this writer has nothing in flight — publish the feed's
        // end so it never holds the min-watermark back
        pp.foreach { p => p.setLong(1, maxLsn); p.executeUpdate(); c.commit() }
      } catch {
        case t: Throwable => writerError.compareAndSet(null, t)
      } finally {
        if (c != null) c.close()
        if (writersDone.incrementAndGet() == writers)
          generatorDoneAt = System.nanoTime()
      }
    }, s"stream-bench-writer-$k")
    val writerThreads = (0 until writers).map(writerThread)
    def startWriters(): Unit = writerThreads.foreach(_.start())
    def joinWriters(): Unit = writerThreads.foreach(_.join())

    val stats = new java.util.concurrent.ConcurrentLinkedQueue[BatchStat]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val end = try p.sources(0).endOffset.trim.toLong catch { case _: Throwable => -1L }
          val now = System.nanoTime()
          // latency: completion now vs insert time of the batch's newest
          // row. insertTimes maps each 100 ms pacing slice's LAST lsn to
          // the slice's single atomic commit time, so ceilingEntry(end)
          // is the slice CONTAINING end and its value is the exact commit
          // instant of end's insert — except when the stream polls
          // between a slice's executeBatch and its insertTimes.put, where
          // the attribution can land one slice late and bias e2e_ms low
          // by ≤1 slice (100 ms); STREAM_BENCH artifacts carry this note.
          val ins = Option(insertTimes.ceilingEntry(end)).map(_.getValue)
            .orElse(Option(insertTimes.lastEntry()).map(_.getValue))
          val e2e = ins.map(t => (now - t) / 1000000L).getOrElse(-1L)
          val backlog = Option(insertTimes.lastEntry()).map(_.getKey - end).getOrElse(0L)
          stats.add(BatchStat(p.batchId, p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", 0L), e2e,
            math.max(0L, backlog)))
        }
      }
    }
    spark.streams.addListener(listener)

    // batchId → synchronous facts; keyed so an exactly-once replay of a
    // batch overwrites its own record instead of double-counting
    val syncStats = new ConcurrentSkipListMap[Long, SyncBatch]()

    // preload mode: the whole backlog is in the table before the stream
    // sees its first trigger, so the stream wall prices the consumer path
    if (preload) { startWriters(); joinWriters() }
    val streamT0 = System.nanoTime()

    val rawBase = spark.readStream
      .format("graft.sources.JdbcChangeFeed")
      .option("url", url).option("table", "changes")
      .option("startLsn", (msgs.head.getLong(0) - 1).toString)
      .option("numPartitions", numPartitions.toString)
      .option("maxLsnPerTrigger", maxLsnPerTrigger.toString)
    val raw = progressTable.fold(rawBase)(pt =>
      rawBase.option("progressTable", pt)).load()
    val subs = Subscription.routable(spark)
    val q = ChangeFeed.decodedWithMapFromRaw(raw).writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyFeedBatch(spark, work, batch, batchId, subs, syncStats.put(batchId, _))
      }
      .start()

    if (!preload) startWriters()
    // Wait for the writers (failing fast on a writer's own exception),
    // then let the stream process everything they committed and stop it
    // only once its last micro-batch has committed. A stalled stream is
    // stopped at the deadline, which returns processAllAvailable.
    val deadline = System.nanoTime() +
      math.max(120L, 20L * msgs.length / math.max(1L, ratePerSec)) * 1000000000L
    val streamDoneAt = try {
      while (generatorDoneAt == 0L && writerError.get == null &&
        System.nanoTime() < deadline) Thread.sleep(100)
      Option(writerError.get).foreach { t =>
        throw new IllegalStateException(s"ingest writer crashed: $t", t)
      }
      val timer = new java.util.Timer("stream-bench-deadline", true)
      timer.schedule(new java.util.TimerTask { def run(): Unit = q.stop() },
        math.max(0L, (deadline - System.nanoTime()) / 1000000L))
      try q.processAllAvailable() finally timer.cancel()
      System.nanoTime()
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    // a malformed last document decodes to no rows, but the source's
    // committed offset still reaches the feed's last lsn
    val committed = committedLsn(s"$work/ckpt")
    require(committed == maxLsn,
      s"stream failed to drain: committed lsn $committed < $maxLsn")
    val batchStats = {
      import scala.jdk.CollectionConverters._
      stats.asScala.toSeq.sortBy(_.batchId)
    }
    val syncBatchSeq = {
      import scala.jdk.CollectionConverters._
      syncStats.values().asScala.toSeq.sortBy(_.batchId)
    }
    val delivered = spark.read.parquet(s"$work/deliveries/batch_*").count()
    val stateRows = state(spark, work).count()
    // bounded-state proof: the folded state is keyed (base, uid)
    // — including tombstoned entities, whose last_kind records the
    // delete — so its row count must equal the feed's distinct entity
    // count recomputed in batch over the full change table
    val entities = Forwarder.keyed(ChangeFeed.decodedWithMapFromRaw(
        spark.read.format("jdbc").option("url", url)
          .option("dbtable", "changes").load()
          .select(col("lsn").cast("long").as("lsn"), col("payload"))))
      .select("base", "uid").distinct().count()
    val genWallMs = (generatorDoneAt - genT0) / 1000000L
    // composed mode: wall from the first insert (gen + stream overlap);
    // preload mode: wall from stream start — the pure consumer price
    val streamWallMs =
      (streamDoneAt - (if (preload) streamT0 else genT0)) / 1000000L
    // throughput/count facts come from the synchronous records; the
    // listener stats only contribute the latency/backlog attribution
    val totalRows = syncBatchSeq.map(_.rows).sum
    RateReport(
      nMsgs = msgs.length.toLong,
      generatorRate = ratePerSec,
      generatorWallMs = genWallMs,
      streamWallMs = streamWallMs,
      drainLagMs =
        if (preload) 0L else math.max(0L, streamWallMs - genWallMs),
      sustainedRowsPerSec = 1000.0 * totalRows / math.max(1L, streamWallMs),
      maxBacklogRows = (0L +: batchStats.map(_.backlogRows)).max,
      nBatches = syncBatchSeq.size,
      maxBatchRows = (0L +: syncBatchSeq.map(_.rows)).max,
      deliveredRows = delivered,
      stateRows = stateRows,
      distinctEntities = entities,
      committedLsn = committed,
      batches = batchStats,
      syncBatches = syncBatchSeq,
      work = work)
  }
}
