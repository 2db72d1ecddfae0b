package graft

import graft.cdc.HyperRemap

/** Chunk-name remap semantics (reference src/forwarder/mod.rs:15-41,
  * src/cdc/mod.rs:12-18): a `_hyper_<idx>_*` chunk maps through the
  * catalog; an idx missing from the catalog, a non-chunk name, or a
  * malformed chunk name all fall back to the raw table name, and a NULL
  * table stays NULL. The remap is a column, never a join. */
class HyperRemapSpec extends SparkSpec {

  test("remap: catalog hit, catalog miss, non-chunk, malformed") {
    val s = spark
    import s.implicits._
    val changes = Seq(
      "_hyper_1_3_chunk", // idx 1 → cpustats
      "_hyper_2_9_chunk", // idx 2 → memstats
      "_hyper_9_1_chunk", // idx 9 not in catalog → raw name
      "cpustats",         // not a chunk → raw name
      "_hyper_x_chunk",   // malformed idx → raw name
      "_hyper_1",         // no trailing '_' after the idx → raw name
      "_HYPER_1_3_chunk", // prefix is case-sensitive → raw name
      "x_hyper_1_3_chunk", // prefix is anchored → raw name
      "_hyper_\u0661_3_chunk", // non-ASCII digit → raw name
      null                // NULL table → NULL base
    ).toDF("tbl").repartition(2)
    val remapped = HyperRemap.remap(spark, changes)
    val got = remapped.select("tbl", "base").collect()
      .map(r => Option(r.getString(0)) -> Option(r.getString(1))).toMap
    val raw = Seq("_hyper_9_1_chunk", "cpustats", "_hyper_x_chunk", "_hyper_1",
      "_HYPER_1_3_chunk", "x_hyper_1_3_chunk", "_hyper_\u0661_3_chunk")
    assert(got === (raw.map(t => Option(t) -> Option(t)) ++ Seq(
      Some("_hyper_1_3_chunk") -> Some("cpustats"),
      Some("_hyper_2_9_chunk") -> Some("memstats"),
      None -> None)).toMap)
    val plan = remapped.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"remap must not join:\n$plan")
  }
}
