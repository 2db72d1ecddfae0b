package graft.streaming

import java.sql.DriverManager
import java.util.concurrent.ConcurrentSkipListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.cdc.{ChangeFeed, Forwarder}

/** Sustained-rate measurement harness for the COMPOSED change-data
  * pipeline: a generator thread commits
  * wal2json documents into the JDBC change table at a target rate while
  * the row-175 polling source drives
  *
  *   poll → wal2json decode (+cmap) → hypertable remap →
  *   per-subscriber fan-out (parquet sink) + incremental LWW snapshot
  *
  * under BOUNDED admission (maxLsnPerTrigger — the row-161 backpressure
  * contract, here measured rather than only proven), recording per-batch
  * rows, wall, insert-to-completion latency and backlog. Every streaming
  * row in SURVEY §2 is proven by batch-equality; this harness supplies
  * the missing evidence class: does the pipeline KEEP UP, at what rate,
  * with what latency, and does a backlog drain in bounded batches.
  *
  * The per-batch apply is [[applyFeedBatch]], the same function
  * JdbcPipelineSpec drives through a kill/restart. */
object StreamRateHarness {

  case class BatchStat(batchId: Long, rows: Long, wallMs: Long,
    e2eMs: Long, backlogRows: Long)

  /** Per-batch facts recorded SYNCHRONOUSLY inside foreachBatch (the
    * batch's own execution path), unlike [[BatchStat]] which rides the
    * async StreamingQueryListener bus. Listener events are delivered
    * best-effort and can still be in flight when the query stops, so
    * correctness assertions (admission bound, batch count, drain) must
    * read THESE; the listener stats serve latency/backlog reporting only.
    *
    * `rows` counts DECODED change rows (one wal2json message can carry
    * several changes); `lsns` counts DISTINCT admitted lsns — the
    * exactly-once unit. Window tiling plus sum(lsns) == feed length pins
    * per-lsn exactly-once delivery including loss INSIDE a window. */
  case class SyncBatch(batchId: Long, rows: Long, lsns: Long,
    minLsn: Long, maxLsn: Long)

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
    batches: Seq[BatchStat],
    syncBatches: Seq[SyncBatch])

  private def exec(url: String, sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { c.createStatement().execute(sql) } finally c.close()
  }

  /** Newest cumulative snapshot version under `work` below `before`. */
  def latestStateId(work: String, before: Long = Long.MaxValue): Option[Long] =
    Option(new java.io.File(s"$work/snapshot").list()).toSeq.flatten
      .filter(_.startsWith("state_")).map(_.stripPrefix("state_").toLong)
      .filter(_ < before).sorted.lastOption

  /** The composed feed's exactly-once per-batch apply over a decoded+cmap
    * micro-batch: fan-out deliveries to `work/deliveries/batch_<id>`, then
    * the cumulative LWW state `work/snapshot/state_<id>` = the newest
    * earlier state merged with the batch's keyed changes (the batch's own
    * fold when there is none). Every side effect is keyed by batchId in
    * overwrite mode, so a replayed batch rewrites its own output instead
    * of double-applying (Spark replays a batch only with identical
    * content). One shuffle per batch for the state merge. */
  def applyFeedBatch(spark: SparkSession, work: String, batch: DataFrame,
      batchId: Long): Unit = {
    Forwarder.fanoutFromDecoded(spark, batch)
      .write.mode("overwrite").parquet(s"$work/deliveries/batch_$batchId")
    val delta = Forwarder.keyed(batch)
    latestStateId(work, batchId)
      .map(id => spark.read.parquet(s"$work/snapshot/state_$id"))
      .fold(Forwarder.snapshotState(delta))(Forwarder.mergeSnapshotState(_, delta))
      .write.mode("overwrite").parquet(s"$work/snapshot/state_$batchId")
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
    // scan) otherwise surfaces only minutes later as a generic
    // drain-deadline failure with no hint a writer crashed.
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
      // writer done, not skip both and die minutes later on the generic
      // drain deadline with no exception attributed.
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
    @volatile var confirmed = -1L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val end = try p.sources(0).endOffset.trim.toLong catch { case _: Throwable => -1L }
          confirmed = math.max(confirmed, end)
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
    def applyBatch(batch: DataFrame, batchId: Long): Unit = {
      val agg = batch.agg(count(lit(1)), countDistinct(col("lsn")),
        min(col("lsn")), max(col("lsn")))
        .head() // bounded-collect: 1-row aggregate, N-independent
      if (agg.getLong(0) > 0L)
        syncStats.put(batchId,
          SyncBatch(batchId, agg.getLong(0), agg.getLong(1),
            agg.getLong(2), agg.getLong(3)))
      applyFeedBatch(spark, work, batch, batchId)
    }

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
    val q = ChangeFeed.decodedWithMapFromRaw(raw).writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
      .foreachBatch(applyBatch _)
      .start()

    if (!preload) startWriters()
    // run until the generator finished AND the stream drained the feed.
    // Drain is judged first on the SYNCHRONOUS per-batch records: the
    // listener `confirmed` watermark rides an async event bus and can lag
    // the actual execution under load. A
    // malformed last document decodes to no rows, so the synchronous
    // high-water never reaches it; the source's admitted end offset
    // (`confirmed`) does, once that batch completes.
    def confirmedSync: Long =
      Option(syncStats.lastEntry()).map(_.getValue.maxLsn).getOrElse(-1L)
    def drainedFeed: Boolean = confirmedSync >= maxLsn || confirmed >= maxLsn
    val deadline = System.nanoTime() +
      math.max(120L, 20L * msgs.length / math.max(1L, ratePerSec)) * 1000000000L
    while ((generatorDoneAt == 0L || !drainedFeed) &&
      writerError.get == null && System.nanoTime() < deadline) Thread.sleep(100)
    // fail fast with the writer's ACTUAL exception, not a drain timeout
    Option(writerError.get).foreach { t =>
      try { q.stop(); spark.streams.removeListener(listener) }
      catch { case _: Throwable => () }
      throw new IllegalStateException(s"ingest writer crashed: $t", t)
    }
    val drained = drainedFeed
    val streamDoneAt = System.nanoTime()
    q.stop(); q.awaitTermination()
    spark.streams.removeListener(listener)

    require(drained,
      s"stream failed to drain: decoded $confirmedSync, admitted $confirmed < $maxLsn")
    val batchStats = {
      import scala.jdk.CollectionConverters._
      stats.asScala.toSeq.sortBy(_.batchId)
    }
    val syncBatchSeq = {
      import scala.jdk.CollectionConverters._
      syncStats.values().asScala.toSeq.sortBy(_.batchId)
    }
    val delivered = spark.read.parquet(s"$work/deliveries/batch_*").count()
    val stateDf = spark.read.parquet(s"$work/snapshot/state_${latestStateId(work).get}")
    val stateRows = stateDf.count()
    // bounded-state proof: the cumulative snapshot is keyed (base, uid)
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
      batches = batchStats,
      syncBatches = syncBatchSeq)
  }
}
