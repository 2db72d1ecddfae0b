package graft

import java.sql.DriverManager

import graft.cdc.{ChangeFeed, Forwarder, Subscription}
import graft.streaming.StreamRateHarness
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The COMPOSED change-data pipeline over the JDBC polling source —
  * SURVEY §2 rows 1/2/8/9/50 chained as one checkpointed stream
  * (round-12 verdict ask #7; previously each stage's twin was proven
  * separately):
  *
  *   JdbcChangeFeed poll → wal2json decode (+cmap) → hypertable remap →
  *   per-subscriber fan-out (append sink) + incremental LWW snapshot
  *
  * driven through a KILL and RESTART from the same checkpoint, with the
  * drained result asserted EQUAL to the batch chain over the full feed:
  * deliveries match Forwarder.fanoutFromDecoded, snapshot state matches
  * the cdc_snapshot report (Forwarder.stateToSnapshot of
  * Forwarder.snapshotState).
  *
  * The per-batch apply is StreamRateHarness.applyFeedBatch, the function
  * the live feed runs: foreachBatch keys every side effect by batchId —
  * deliveries land in an overwrite-mode per-batch dir, and the snapshot
  * state is one version per batch (state_N = the LWW fold of batch N
  * alone), folded on read, so a replayed batch overwrites its own
  * output instead of double-applying. */
class JdbcPipelineSpec extends SparkSpec {

  private def exec(url: String, sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { c.createStatement().execute(sql) } finally c.close()
  }

  private def insertMsgs(url: String, rows: Array[Row]): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement("INSERT INTO changes VALUES (?, ?)")
      rows.foreach { r =>
        ps.setLong(1, r.getLong(0)); ps.setString(2, r.getString(1))
        ps.addBatch()
      }
      ps.executeBatch(); c.commit()
    } finally c.close()
  }

  test("jdbc poll → decode → remap → fan-out → snapshot survives kill/restart") {
    val work = scratchDir("graft-jdbc-pipe-")
    val url = s"jdbc:derby:$work/db;create=true"
    val ckpt = s"$work/ckpt"
    val dlv = s"$work/deliveries"
    exec(url, "CREATE TABLE changes (lsn BIGINT PRIMARY KEY, payload VARCHAR(4000))")

    // real wal2json documents (multi-statement transactions, _hyper_
    // chunk tables, delete tombstones with oldkeys) from the synthesized
    // feed — 600 keeps the Derby insert fast while covering every shape
    val msgs = ChangeFeed.messages(spark, Sf0001).orderBy("lsn").limit(600).collect()
    val (phase1, phase2) = msgs.splitAt(400)
    insertMsgs(url, phase1)

    val subs = Subscription.routable(spark)
    def runOnce(): Unit = {
      val raw = spark.readStream
        .format("graft.sources.JdbcChangeFeed")
        .option("url", url).option("table", "changes")
        // the feed's first commit is lsn 0 and startLsn is EXCLUSIVE
        .option("startLsn", "-1")
        .option("numPartitions", "2")
        .load()
      val q = ChangeFeed.decodedWithMapFromRaw(raw).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          StreamRateHarness.applyFeedBatch(spark, work, batch, batchId, subs)
        }
        .start()
      q.awaitTermination()
    }

    runOnce() // delivers phase 1

    // pipeline is DOWN; more transactions commit (incl. the tombstones)
    insertMsgs(url, phase2)

    runOnce() // restart from the checkpoint: exactly the missed window

    // batch reference over the FULL feed as it now stands in the database
    val rawAll = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "changes").load()
      .select(col("LSN").as("lsn"), col("PAYLOAD").as("payload"))
    val withMapAll = ChangeFeed.decodedWithMapFromRaw(rawAll)

    def dkey(r: Row) = (r.getAs[String]("sub_id"), r.getAs[Long]("lsn"),
      r.getAs[Long]("idx"), r.getAs[String]("base"), r.getAs[String]("kind"))
    val streamedDlv = spark.read.parquet(s"$dlv/batch_*")
      .select("sub_id", "lsn", "idx", "base", "kind")
      .collect().map(dkey).sorted
    val batchDlv = Forwarder.fanoutFromDecoded(spark, withMapAll)
      .select("sub_id", "lsn", "idx", "base", "kind")
      .collect().map(dkey).sorted
    assert(streamedDlv.nonEmpty)
    // EQUALITY is the whole contract: every change delivered exactly once
    // across the kill/restart — no loss, no re-delivery
    assert(streamedDlv === batchDlv)

    def skey(r: Row) = (r.getAs[String]("base"), r.getAs[Long]("uid"),
      r.getAs[Long]("last_lsn"), r.getAs[String]("last_kind"),
      r.getAs[Long]("n_changes"))
    val streamedState = StreamRateHarness.state(spark, work)
    val streamedSnap = streamedState
      .where(col("last_kind") =!= "delete")
      .collect().map(skey).sorted
    val batchState = Forwarder.snapshotState(Forwarder.keyed(withMapAll))
    val batchSnap = Forwarder.stateToSnapshot(batchState)
      .collect().map(skey).sorted
    assert(streamedSnap.nonEmpty)
    assert(streamedSnap === batchSnap)

    // the fold of the per-batch versions — tombstones, last_idx and
    // n_changes included — equals the batch fold over the full feed
    val cols = Seq("base", "uid", "last_lsn", "last_idx", "last_kind", "n_changes")
    val batchCols = batchState.select(cols.map(col): _*)
    val st = streamedState.select(cols.map(col): _*)
    assert(st.where(col("last_kind") === "delete").count() > 0,
      "fixture must leave tombstones in the state")
    assert(st.exceptAll(batchCols).count() == 0 &&
      batchCols.exceptAll(st).count() == 0,
      "folded streamed state must equal the batch LWW fold")
  }
}
