package graft

import graft.streaming.ChangeFeedStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming backpressure bound (SURVEY.md §2 row 161): a backlogged
  * file-source directory must drain in BOUNDED micro-batches when
  * maxFilesPerTrigger is set — the 100 TB replay story. Without the cap,
  * a resumed checkpoint far behind the head admits the whole backlog as
  * ONE catch-up batch (unbounded state/shuffle); with it, each
  * micro-batch's input is bounded by the largest admitted file. Both
  * behaviors are pinned here via the query's own progress telemetry, and
  * the capped drain must still produce the exact uncapped result (the
  * watermarked windowed aggregation is replay-order-insensitive within
  * the watermark). */
class BackpressureSpec extends SparkSpec {

  private val NumFiles = 5

  /** Stage the sf0.001 events into NumFiles id-ranged parquet files —
    * the "backlog" fixture. Returns (dir, max rows in any one file). */
  private def stageBacklog(): (String, Long) = {
    val out = scratchDir("graft-backlog-")
    val ev = Tables.events(spark, Sf0001)
    val n = ev.count()
    val per = (n + NumFiles - 1) / NumFiles
    val withPart = ev.withColumn(
      "part", (col("event_id") % lit(NumFiles)).cast("int"))
    (0 until NumFiles).foreach { p =>
      val work =
        scratchDir(s"graft-bp-$p-") + "/out"
      withPart.where(col("part") === p).drop("part")
        .coalesce(1).write.parquet(work)
      val part = new java.io.File(work).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$out/events-part$p.parquet"))
    }
    val maxPerFile = withPart.groupBy("part").count()
      .agg(max("count")).head.getLong(0)
    assert(per > 0 && maxPerFile < n, "fixture must actually split")
    (out, maxPerFile)
  }

  private case class Drain(batches: Seq[Long], result: Map[(Long, String), Long])

  private def drain(dir: String, cap: Option[Int], name: String): Drain = {
    val q = ChangeFeedStream.windowCounts(ChangeFeedStream.readEvents(spark, dir, cap))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.toSeq
      .map(_.numInputRows).filter(_ > 0)
    val result = spark.table(name)
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"), col("count"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    Drain(batches, result)
  }

  test("a backlog drains in bounded micro-batches under maxFilesPerTrigger") {
    val (dir, maxPerFile) = stageBacklog()
    val uncapped = drain(dir, None, "bp_uncapped")
    val capped = drain(dir, Some(1), "bp_capped")

    // uncapped: the whole backlog is one catch-up batch
    assert(uncapped.batches.size == 1,
      s"uncapped backlog should be one batch, got ${uncapped.batches}")
    // capped: one batch per file, each bounded by the largest file
    assert(capped.batches.size == NumFiles,
      s"capped drain should take $NumFiles batches, got ${capped.batches}")
    assert(capped.batches.forall(_ <= maxPerFile),
      s"every capped batch must be <= $maxPerFile rows, got ${capped.batches}")
    // and the bounded drain loses nothing: same aggregate as the
    // one-shot catch-up
    assert(capped.result == uncapped.result)
    assert(capped.result.nonEmpty)
  }
}
