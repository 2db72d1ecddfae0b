package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.cdc.{ChangeFeed, Forwarder}
import graft.streaming.StreamRateHarness

/** Measured sustained-rate + bounded-admission behavior of the composed
  * JDBC pipeline: the harness's writer paces real wal2json documents
  * into the change table while the stream consumes under a
  * maxLsnPerTrigger admission bound.
  *
  * The admission and drain assertions are DATA-derived from the
  * synchronous per-batch records the harness captures inside
  * foreachBatch, not from the async StreamingQueryListener bus, which is
  * delivered best-effort and was observed dropping events under
  * full-suite load. Asserted, not assumed:
  *   1. bounded admission — each batch's LSN-window ADVANCE over the
  *      previous batch's high-water is ≤ maxLsnPerTrigger (the actual
  *      admission contract of the row-175 source), and the minimum batch
  *      count follows arithmetically: ceil(span / bound) — deterministic
  *      given (1), independent of trigger cadence or box load;
  *   2. the stream DRAINS the feed: the harness stops its query only
  *      after the last micro-batch committed, so the checkpoint's last
  *      committed offset is the feed's last lsn, and the residual drain
  *      lag after the generator stops is bounded;
  *   3. bounded state — the fold of the per-batch state versions holds
  *      exactly one row per (base, uid) entity, equal to the entity count
  *      this spec recomputes in batch from the messages it fed (state
  *      grows with entities, never with feed length);
  *   4. deliveries flow: the fan-out sink under the run's directory saw
  *      rows. */
class StreamRateSpec extends SparkSpec {

  private val maxPerTrigger = 500L

  /** One harness run; its work dir is deleted after the suite. */
  private def run(msgs: Array[Row]): StreamRateHarness.RateReport = {
    val r = StreamRateHarness.run(spark, msgs, ratePerSec = 1000L,
      maxLsnPerTrigger = maxPerTrigger, triggerMs = 250L, numPartitions = 2)
    deleteAfterAll(r.work)
    r
  }

  /** Distinct (base, uid) entities of the fed messages, decoded and keyed
    * in batch by the same chain the stream runs. Tombstoned entities
    * count: the folded state keeps them, its last_kind records the
    * delete. */
  private def entities(msgs: Array[Row]): Long = {
    val schema = StructType(Seq(StructField("lsn", LongType), StructField("payload", StringType)))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(msgs.toSeq, 2), schema)
    Forwarder.keyed(ChangeFeed.decodedWithMapFromRaw(raw)).select("base", "uid").distinct().count()
  }

  /** Rows the fan-out sink wrote under the run's directory. */
  private def delivered(r: StreamRateHarness.RateReport): Long =
    spark.read.parquet(s"${r.work}/deliveries/batch_*").count()

  test("composed pipeline sustains the generator under bounded admission") {
    val msgs = ChangeFeed.messages(spark, Sf0001)
      .orderBy("lsn").limit(2000).collect()
    val startLsn = 0L // harness re-keys the outbox to dense lsn 1..N
    val r = run(msgs)

    // 1a. admission bound, measured per batch on synchronous records:
    // each batch admits the half-open LSN window (prevHigh, high] and
    // the advance must respect the bound
    assert(r.syncBatches.nonEmpty)
    r.syncBatches.foldLeft(startLsn) { (prevHigh, b) =>
      assert(b.maxLsn - prevHigh <= maxPerTrigger,
        s"batch ${b.batchId} advanced ${b.maxLsn - prevHigh} lsns " +
          s"(${prevHigh + 1}..${b.maxLsn}) > bound $maxPerTrigger")
      assert(b.minLsn > prevHigh,
        s"batch ${b.batchId} re-admitted lsn ${b.minLsn} <= $prevHigh")
      b.maxLsn
    }
    // 1b. the bound actually bit — minimum batch count derived from the
    // OBSERVED drained span, not from trigger cadence: a span of S lsns
    // under a bound of B needs >= ceil(S/B) batches by (1a)
    val span = r.syncBatches.last.maxLsn - startLsn
    val minBatches = ((span + maxPerTrigger - 1) / maxPerTrigger).toInt
    assert(r.syncBatches.size >= minBatches,
      s"admission arithmetic violated: span $span at bound $maxPerTrigger " +
        s"needs >= $minBatches batches, saw ${r.syncBatches.size}")

    // 2. drained (harness enforces sync high-water == max inserted);
    // residual lag after the generator stopped is bounded (generous:
    // 20 s absorbs box noise, still orders below an unbounded backlog).
    // Exact admitted-lsn count: every inserted lsn admitted exactly once
    // (windows tile AND the distinct-lsn total matches — no loss inside
    // a window; rows > lsns is fine, one message can carry N changes).
    assert(r.syncBatches.last.maxLsn == msgs.length.toLong)
    assert(r.committedLsn == msgs.length.toLong,
      s"checkpoint committed lsn ${r.committedLsn} != ${msgs.length}")
    assert(r.syncBatches.map(_.lsns).sum == msgs.length.toLong,
      s"admitted ${r.syncBatches.map(_.lsns).sum} lsns != ${msgs.length}")
    assert(r.drainLagMs <= 20000, s"drain lag ${r.drainLagMs} ms")

    // 3. bounded state: one row per entity, equal to the batch recompute
    val n = entities(msgs)
    assert(r.stateRows == n, s"state ${r.stateRows} rows != $n entities")
    assert(r.stateRows < msgs.length,
      "state must track entities, not feed length")

    // 4. deliveries flowed: the fan-out sink wrote rows
    assert(delivered(r) > 0)
  }

  test("a malformed last document still drains the feed") {
    // A truncated wal2json document decodes to no change rows, so the
    // decoded high-water stops one lsn short of the feed's end; drain
    // must follow the source's admitted offset instead of spinning to
    // the deadline.
    val whole = ChangeFeed.messages(spark, Sf0001)
      .orderBy("lsn").limit(600).collect()
    val last = whole.last.getString(1)
    val msgs = whole.init :+
      Row(whole.last.get(0), last.take(last.length / 2))
    val r = run(msgs)
    val n = msgs.length.toLong
    assert(r.syncBatches.last.maxLsn == n - 1)
    assert(r.committedLsn == n, s"checkpoint committed lsn ${r.committedLsn} != $n")
    assert(r.syncBatches.map(_.lsns).sum == n - 1,
      s"admitted ${r.syncBatches.map(_.lsns).sum} decodable lsns != ${n - 1}")
    val e = entities(msgs)
    assert(r.stateRows == e, s"state ${r.stateRows} rows != $e entities")
    assert(delivered(r) > 0)
  }
}
