package graft

import org.apache.spark.sql.functions._
import graft.ops.Sketches

/** kmv_overlap's distributed bottom-K (phase 1: rank within
  * (source, h mod Salt); phase 2: true per-source rank over the ≤ Salt·K
  * survivors) must select exactly the single-window bottom-K — the oracle
  * SQL uses the single window, so this pin is what licenses the rewrite.
  * Also pins the KMV soundness basics the estimator leans on: the merged
  * pair sketch's Kth minimum never exceeds either side's own Kth minimum
  * (which is what makes the intersection membership test valid), and the
  * small-set branch (n_merged < K) returns the exact union count.
  */
class KmvSpec extends SparkSpec {

  private def srcSh = ops.Dedup.shingleSets(spark, Sf0001)
    .join(Tables.documents(spark, Sf0001).select("doc_id", "source"), "doc_id")
    .select(col("source"), explode(col("sh")).as("h"))
    .distinct()

  test("two-phase bottom-K selects exactly the single-window bottom-K") {
    import org.apache.spark.sql.expressions.Window
    val w1 = Window.partitionBy(col("source"),
      pmod(col("h"), lit(Sketches.KmvSalt.toLong))).orderBy("h")
    val w2 = Window.partitionBy("source").orderBy("h")
    val twoPhase = srcSh
      .withColumn("r1", row_number().over(w1))
      .where(col("r1") <= Sketches.KmvK).drop("r1")
      .withColumn("rk", row_number().over(w2))
      .where(col("rk") <= Sketches.KmvK)
      .select("source", "h")
    val single = srcSh
      .withColumn("rk", row_number().over(w2))
      .where(col("rk") <= Sketches.KmvK)
      .select("source", "h")
    assert(twoPhase.exceptAll(single).isEmpty &&
      single.exceptAll(twoPhase).isEmpty,
      "two-phase bottom-K diverged from the single-window bottom-K")
  }

  test("merged Kth minimum <= each side's Kth minimum; small pairs exact") {
    // the exact-compare columns live on the opt-in audit row
    val out = Sketches.kmvOverlapAudit(spark, Sf0001).collect()
    assert(out.nonEmpty)
    val bySrc = srcSh.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { r =>
      val (a, b) = (r.getString(r.fieldIndex("source_a")),
        r.getString(r.fieldIndex("source_b")))
      val (skA, skB) = (bySrc(a).toSeq.sorted.take(Sketches.KmvK),
        bySrc(b).toSeq.sorted.take(Sketches.KmvK))
      val mergedSorted = (skA.toSet ++ skB.toSet).toSeq.sorted
      if (mergedSorted.size >= Sketches.KmvK &&
          skA.size >= Sketches.KmvK && skB.size >= Sketches.KmvK) {
        // both sketches truncated: the merged Kth minimum must sit at or
        // below BOTH sides' own Kth minima, or the membership test on a
        // truncated sketch could miss a true member
        val vMerged = mergedSorted(Sketches.KmvK - 1)
        assert(vMerged <= math.min(skA.last, skB.last),
          s"pair ($a,$b): merged Kth min $vMerged above a sketch maximum")
      } else if (mergedSorted.size < Sketches.KmvK) {
        // small-set branch: the estimate must be the exact union count
        assert(r.getLong(r.fieldIndex("kmv_union")) ==
          r.getLong(r.fieldIndex("n_union_exact")),
          s"pair ($a,$b): small-set branch not exact")
      }
    }
  }

  test("default sketch row agrees with the audit row's sketch columns") {
    val cols = Seq("source_a", "source_b", "kmv_union", "kmv_inter",
      "kmv_jacc_e4")
    val dflt = Sketches.kmvOverlap(spark, Sf0001)
      .selectExpr(cols: _*)
    val audit = Sketches.kmvOverlapAudit(spark, Sf0001)
      .selectExpr(cols: _*)
    assert(dflt.exceptAll(audit).isEmpty && audit.exceptAll(dflt).isEmpty,
      "default kmv_overlap sketch columns diverged from the audit row")
  }
}
