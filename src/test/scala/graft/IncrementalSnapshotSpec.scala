package graft

import org.apache.spark.sql.functions._

import graft.cdc.{ChangeFeed, Forwarder}

/** Incremental state maintenance ≡ full replay (round-13 verdict ask #3).
  *
  * The replay-to-state family (cdc_snapshot / cdc_scd2 / fanout) is
  * honestly feed-linear — at 100 TB nobody replays the feed per query,
  * they maintain a checkpointed state and merge deltas. This spec pins
  * the algebra that makes that safe:
  *
  *   merge(state(feed ≤ L), changes in (L, L']) ≡ state(feed ≤ L')
  *
  * for split points covering both degenerate ends (L below every LSN →
  * state empty; L at the high-water → delta empty) and three interior
  * points. Equality is exact row-set equality on the snapshot REPORT
  * (tombstones dropped), checked via symmetric except-all — the same
  * contract the `cdc_snapshot_inc` oracle row proves against DuckDB's
  * full replay at the 60% point, here widened across splits. Tombstone
  * retention in the checkpoint is what the degenerate-delete case
  * exercises: an entity whose last pre-L change is a delete must stay
  * deleted after a merge that brings no new rows for it. */
class IncrementalSnapshotSpec extends SparkSpec {

  private def routed() = Forwarder.keyed(ChangeFeed.decodedWithMap(spark, Sf0001))

  test("merge(state(<=L), delta(L, max]) equals full replay at every split") {
    val r = routed().cache()
    try {
      val full = Forwarder.stateToSnapshot(Forwarder.snapshotState(r))
      assert(full.count() > 0)
      val maxLsn = r.agg(max("lsn")).head().getLong(0)
      val minLsn = r.agg(min("lsn")).head().getLong(0)
      val splits = Seq(minLsn - 1, // state empty, delta = whole feed
        maxLsn * 3 / 10, maxLsn * 3 / 5, maxLsn * 9 / 10,
        maxLsn) // delta empty, state = whole feed
      for (l <- splits) {
        val state = Forwarder.snapshotState(r.where(col("lsn") <= l))
        val delta = r.where(col("lsn") > l)
        val inc = Forwarder.stateToSnapshot(
          Forwarder.mergeSnapshotState(state, delta))
        val onlyInc = inc.exceptAll(full).count()
        val onlyFull = full.exceptAll(inc).count()
        assert(onlyInc == 0 && onlyFull == 0,
          s"split L=$l: incremental-only rows $onlyInc, replay-only rows $onlyFull")
      }
    } finally r.unpersist()
  }

  test("checkpoint state keeps tombstones the report drops") {
    val r = routed()
    val state = Forwarder.snapshotState(r)
    val tomb = state.where(col("last_kind") === "delete").count()
    assert(tomb > 0, "feed has deletes; state must retain them as tombstones")
    val report = Forwarder.stateToSnapshot(state)
    assert(report.where(col("last_kind") === "delete").count() == 0)
    assert(report.count() == state.count() - tomb)
  }

  test("scd2: closed(<=L) ∪ close(open, delta) ∪ versions(delta) equals full replay at every split") {
    val r = routed().where(org.apache.spark.sql.functions.col("uid").isNotNull).cache()
    try {
      val full = Forwarder.scd2Merged(r, r.limit(0))
      val fullCnt = full.count()
      assert(fullCnt > 0)
      val maxLsn = r.agg(max("lsn")).head().getLong(0)
      val minLsn = r.agg(min("lsn")).head().getLong(0)
      val splits = Seq(minLsn - 1, // cursor empty, delta = whole feed
        maxLsn * 3 / 10, maxLsn * 3 / 5, maxLsn * 9 / 10,
        maxLsn) // delta empty: every open version stays open
      for (l <- splits) {
        val inc = Forwarder.scd2Merged(
          r.where(col("lsn") <= l), r.where(col("lsn") > l))
        val onlyInc = inc.exceptAll(full).count()
        val onlyFull = full.exceptAll(inc).count()
        assert(onlyInc == 0 && onlyFull == 0,
          s"scd2 split L=$l: merge-only rows $onlyInc, replay-only rows $onlyFull")
      }
    } finally r.unpersist()
  }

  test("the registered cdc_scd2_inc equals cdc_scd2") {
    val inc = Forwarder.cdcScd2Incremental(spark, Sf0001)
    val rep = Forwarder.cdcScd2(spark, Sf0001)
    assert(inc.exceptAll(rep).count() == 0 && rep.exceptAll(inc).count() == 0)
    assert(inc.schema == rep.schema)
  }

  test("the registered cdc_snapshot_inc equals cdc_snapshot") {
    val inc = Forwarder.cdcSnapshotIncremental(spark, Sf0001)
    val rep = Forwarder.cdcSnapshot(spark, Sf0001)
    assert(inc.exceptAll(rep).count() == 0 && rep.exceptAll(inc).count() == 0)
    assert(inc.schema == rep.schema)
  }
}
