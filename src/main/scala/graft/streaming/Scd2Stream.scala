package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.{ChangeFeed, Forwarder}

/** Streaming twin of the batch SCD2 history (Forwarder.cdcScd2,
  * SURVEY.md §2 row 90): the reference's consumers replay the change feed
  * continuously, so the type-2 dimension must be maintainable
  * incrementally — a foreachBatch merge that closes open validity
  * intervals as later changes arrive, never recomputing history for
  * entities a micro-batch doesn't touch.
  *
  * The state is the batch checkpoint cursor ([[Forwarder.scd2Cursor]]):
  * one row per entity, its last change and its version count, from which
  * the open version is derivable. Each micro-batch runs the batch merge
  * against it — [[Forwarder.scd2New]]'s closed rows append to the
  * immutable closed-version log, and [[Forwarder.mergeScd2Cursor]]
  * advances the cursor — and the open versions are the one version rule
  * ([[Forwarder.scd2Versions]]) over the re-entered cursor, so the
  * streaming and batch histories share one definition. The feed is
  * LSN-ordered across batches (replication streams replay in commit
  * order), which is the merge's contract.
  *
  * Scd2StreamSpec pins the equivalence contract: after draining any
  * batch-boundary split of the feed, history(cursor, closed) equals the
  * batch cdcScd2 output row-for-row (open tails included, as the batch
  * operator also emits them with valid_to = −1). */
object Scd2Stream {

  /** Decode a raw events micro-batch to keyed changes — the same decode
    * and key chain as every batch CDC query. */
  def changesFrom(events: DataFrame): DataFrame =
    Forwarder.keyed(ChangeFeed.decodedWithMapFrom(events))
      .where(col("uid").isNotNull)

  /** Apply one micro-batch of keyed changes to the cursor (None before the
    * first batch): returns (advanced cursor, versions the batch closed).
    * Only entities present in `ch` produce closed rows. */
  def step(cursor: Option[DataFrame], ch: DataFrame): (DataFrame, DataFrame) = {
    val c = cursor.getOrElse(Forwarder.scd2Cursor(ch.where(lit(false))))
    (Forwarder.mergeScd2Cursor(c, ch),
      Forwarder.scd2New(c, ch).where(col("is_current") === 0))
  }

  /** Assembled history in the batch cdcScd2 output shape: the closed log
    * plus the cursor's open versions (valid_to = −1, is_current = 1). */
  def history(cursor: DataFrame, closed: DataFrame): DataFrame =
    closed.unionByName(
        Forwarder.scd2Versions(Forwarder.reentered(cursor, "n_versions")))
      .orderBy("base", "uid", "version")
}
