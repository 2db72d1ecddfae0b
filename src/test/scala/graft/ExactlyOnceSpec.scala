package graft

import java.nio.file.{Files, Paths}
import graft.streaming.ChangeFeedStream
import org.apache.spark.sql.streaming.Trigger

/** At-least-once redelivery (the same LSNs arriving again after a
  * "reconnect") must not duplicate deliveries: keyed dedup within the
  * watermark plus the checkpoint makes the decoded feed exactly-once. */
class ExactlyOnceSpec extends SparkSpec {

  test("redelivered LSNs are dropped across a checkpointed restart") {
    val work = scratchDir("graft-eo-")
    val srcDir = s"$work/events"
    val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(srcDir))
    val src = Paths.get(s"$Sf0001/events.parquet")

    // durable parquet delivery log — the Spark analogue of the reference's
    // delivery channel, with the checkpoint making it exactly-once
    val sink = s"$work/deliveries"
    def run(): Long = {
      val q = ChangeFeedStream.dedupedChanges(
        ChangeFeedStream.readEvents(spark, srcDir))
        .drop("event_time")
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(sink).count()
    }

    Files.copy(src, Paths.get(s"$srcDir/part1.parquet"))
    val first = run()
    val expected = graft.cdc.ChangeFeed.decoded(spark, Sf0001).count()
    assert(first === expected, "first delivery must decode every change")

    // the same file again: identical LSNs, zero new deliveries
    Files.copy(src, Paths.get(s"$srcDir/part2.parquet"))
    val second = run()
    assert(second === expected,
      s"redelivery must be fully deduped: sink grew from $first to $second")
  }
}
