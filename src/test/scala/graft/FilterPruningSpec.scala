package graft

import org.apache.spark.sql.functions._

import graft.cdc.{Forwarder, Subscription}

/** The routed CDC filter family's route-before-filter order (the reference
  * routes every change per (table, change-kind) before SpecificFilter,
  * src/forwarder/mod.rs:106-126): auth_restrict's connect-time gate ahead
  * of the fan-out must emit the same rows as fanning out first and gating
  * afterwards. filter_eq and filter_in rows are oracle-checked under
  * their own keys. */
class FilterPruningSpec extends SparkSpec {

  private def tempCorpus(): String = {
    val d = scratchDir("graft-corpus-")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    d
  }

  test("auth_restrict gates at connect time and prunes to the accepted route") {
    val corpus = tempCorpus()
    // full fan-out, unauthorized legs discarded afterwards — the
    // gate-then-fanout order must emit identical rows
    val expected = Forwarder.fanout(spark, corpus)
      .join(broadcast(Subscription.authAllowed(spark)), Seq("sub_id"))
      .select("sub_id", "lsn", "idx", "base", "kind")
      .orderBy("sub_id", "lsn", "idx")
      .collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty, "fixture must deliver some authorized rows")
    val got = Subscription.authRestrict(spark, corpus)
      .collect().map(_.toSeq).toSeq
    assert(got == expected, "gate-then-fanout must equal fanout-then-gate")
  }
}
