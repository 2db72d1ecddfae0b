package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.ChangeFeedStream

/** Watermark lateness accounting: in append mode a window is emitted
  * exactly once, after the watermark passes its end — and an event
  * arriving BEHIND the watermark must be dropped (surfacing in
  * numRowsDroppedByWatermark), never silently folded into an
  * already-final window. This is the state-bound that makes windowed
  * aggregation runnable forever at 100 TB/day: without the drop rule,
  * every window ever opened stays amendable and state grows without
  * bound. Complete-mode behavior (late rows still aggregated, no
  * eviction) is covered by ChangeFeedStreamSpec; this spec pins the
  * append-mode contract. */
class LateDataSpec extends SparkSpec {

  /** One single-file parquet drop of synthetic events; ts in MINUTES of
    * event time, stored as raw nanoseconds (the events table's layout). */
  private def writeEventsFile(srcDir: String, name: String,
    rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val tmp = scratchDir("graft-late-w-")
    rows.toDF("event_id", "ts_min")
      .select(col("event_id"), (col("ts_min") * 60L * 1000000000L).as("ts"),
        lit(7L).as("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet")).head
    Files.copy(Paths.get(part), Paths.get(s"$srcDir/$name.parquet"))
  }

  test("append mode: late event is dropped and counted, final window stays on-time-only") {
    val work = scratchDir("graft-late-")
    val srcDir = s"$work/events"
    val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(srcDir))

    // file sink: the one append-mode sink that recovers from a checkpoint
    // (and the shape a real deployment writes window results with)
    val outDir = s"$work/out"
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      ChangeFeedStream.windowCounts(ChangeFeedStream.readEvents(spark, srcDir))
        .select(col("window.start").cast("long").as("win_s"),
          col("event_type"), col("count"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()

    // run 1: two on-time rows in window [1h, 2h) and a head row at 10h —
    // the 2h watermark lands at 8h, far past that window's end
    writeEventsFile(srcDir, "part1", Seq((0L, 60L), (1L, 70L), (2L, 600L)))
    val q1 = run(); q1.awaitTermination()

    // run 2: one LATE row at 1.5h (behind the 8h watermark) + head at 11h
    writeEventsFile(srcDir, "part2", Seq((3L, 90L), (4L, 660L)))
    val q2 = run(); q2.awaitTermination()

    val dropped = q2.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped === 1L, s"late row must be dropped by watermark, got $dropped")

    // the [1h, 2h) window must surface exactly once across both runs,
    // with ONLY the on-time count — the late row never amends it
    val emitted = spark.read.parquet(outDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toSeq
    val firstWindow = emitted.filter(_._1 == 3600L)
    assert(firstWindow === Seq(3600L -> 2L),
      s"window [1h,2h) must emit once with the 2 on-time rows, got $emitted")
  }
}
