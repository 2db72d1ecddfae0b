package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** JDBC polling change-feed source (sources/JdbcChangeFeed.scala): the
  * BASELINE-declared ingest path, proved end-to-end against an embedded
  * Derby database — micro-batch poll by LSN high-water, then a KILL and
  * RESTART from the same checkpoint that must deliver exactly the rows
  * inserted while the stream was down (the replay_window (lo, hi]
  * semantics, reference src/cdc/replication.rs:95-282), never
  * re-delivering confirmed ones. */
class JdbcChangeFeedSpec extends SparkSpec {

  private def exec(url: String, sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { c.createStatement().execute(sql) } finally c.close()
  }

  test("polls by LSN, restart resumes from checkpointed confirmed LSN") {
    val work = scratchDir("graft-jdbc-cdc-")
    val url = s"jdbc:derby:$work/db;create=true"
    val ckpt = s"$work/ckpt"
    val out = s"$work/out"
    exec(url, "CREATE TABLE changes (lsn BIGINT PRIMARY KEY, payload VARCHAR(200))")
    (1 to 5).foreach(i =>
      exec(url, s"INSERT INTO changes VALUES ($i, '{\"kind\":\"insert\",\"n\":$i}')"))

    // exactly-once file sink: append stream + checkpoint recovery (the
    // memory sink cannot recover an append query from a checkpoint)
    def runOnce(): Long = {
      val q = spark.readStream
        .format("graft.sources.JdbcChangeFeed")
        .option("url", url)
        .option("table", "changes")
        .option("numPartitions", "2")
        .load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    def sunk(): Array[Long] =
      spark.read.parquet(out).select("lsn").collect().map(_.getLong(0)).sorted

    // first run delivers the full backlog
    val in1 = runOnce()
    assert(in1 === 5L, s"first poll must deliver the 5-row backlog, got $in1")
    assert(sunk() === (1L to 5L).toArray)

    // stream is DOWN; three more changes land
    (6 to 8).foreach(i =>
      exec(url, s"INSERT INTO changes VALUES ($i, '{\"kind\":\"update\",\"n\":$i}')"))

    // restart from the same checkpoint: exactly the missed (5, 8] window,
    // confirmed rows never re-delivered
    val in2 = runOnce()
    assert(in2 === 3L, s"restart must deliver only the 3 missed rows, got $in2")
    assert(sunk() === (1L to 8L).toArray)

    // idle poll: high-water unchanged -> empty batch, offset not regressed
    val in3 = runOnce()
    assert(in3 === 0L, s"idle poll must deliver nothing, got $in3")
    assert(sunk() === (1L to 8L).toArray)

    // payloads ride the feed intact (the wal2json decode runs downstream)
    val decoded = spark.read.parquet(out)
      .where(col("lsn") > 5)
      .select(get_json_object(col("payload"), "$.kind").as("kind"))
      .collect().map(_.getString(0))
    assert(decoded.length === 3 && decoded.forall(_ == "update"))
  }
}
