package graft

import graft.ops.{Clean, Similarity}
import org.apache.spark.sql.functions._

/** Cross-family consistency for the late round-8 additions:
  *   - ann_nprobe_sweep must be monotone non-decreasing in nprobe per
  *     query (probing more cells only ever ADDS candidates, so recall
  *     against a fixed truth cannot drop) and its nprobe=NProbe point
  *     must agree with ann_ivf's retrieval on hit counts;
  *   - curation_e2e's global segment/token sums must equal the
  *     segment_keep_k ledger computed from the same shared frame (two
  *     independent aggregations of one keep rule). */
class SweepCompositionSpec extends SparkSpec {

  test("nprobe sweep recall is monotone per query") {
    val rows = Similarity.annNprobeSweep(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nprobe"), r.getAs[Long]("n_hits")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, qs) =>
      val byNp = qs.sortBy(_._2).map(_._3)
      byNp.zip(byNp.tail).foreach { case (a, b) =>
        assert(a <= b, s"query $qid: recall dropped when probing more cells")
      }
    }
  }

  test("nprobe sweep at NProbe counts ann_ivf's hits in the exact top-k") {
    val exact = Similarity.annTopk(spark, Sf0001).select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = Similarity.annIvf(spark, Sf0001).select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(exact)
      .groupBy(_._1).map { case (qid, rs) => qid -> rs.length.toLong }
    val sweep = Similarity.annNprobeSweep(spark, Sf0001)
      .where(col("nprobe") === Similarity.NProbe).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("n_hits")).toMap
    assert(sweep.nonEmpty)
    assert(hits.keySet.subsetOf(sweep.keySet), "ann_ivf answered a query the sweep lacks")
    sweep.foreach { case (qid, n) =>
      assert(n === hits.getOrElse(qid, 0L),
        s"query $qid: sweep n_hits at nprobe=${Similarity.NProbe} disagrees with ann_ivf")
    }
  }

  test("curation_e2e totals equal the segment_keep_k ledger") {
    val e2e = Clean.curationE2e(spark, Sf0001)
      .agg(sum("segs_total"), sum("segs_kept"), sum("tokens_kept")).head
    val ledger = Clean.segmentKeepK(spark, Sf0001)
      .agg(sum(col("n_copies") * col("n_groups")),
        sum("n_kept_segs"), sum("kept_tokens")).head
    (0 until 3).foreach { i =>
      assert(e2e.getLong(i) === ledger.getLong(i),
        s"column $i: composed plan and ledger disagree on the keep rule")
    }
  }
}
