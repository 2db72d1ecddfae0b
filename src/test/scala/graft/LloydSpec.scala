package graft

import graft.ops.Similarity

/** Pins Lloyd training over 1..3 iterations (the iteration parameter of
  * the IVF centroid and PQ codebook trainers; the engine trains one):
  * the k-means objective must be monotone in the iteration count on the
  * deterministic test corpus, i.e. extra training passes only ever tighten
  * the IVF cells and PQ codebooks — through the engine's floor-quantized
  * centroid updates, which textbook Lloyd monotonicity does not
  * automatically survive. Also pins that the IVFADC retrieval is a subset
  * of the cells an exhaustive scan would visit: every IVFADC hit's ADC
  * distance matches what the exhaustive ann_pq_search assigns, so the
  * composed path differs from the exhaustive one ONLY by cell routing. */
class LloydSpec extends SparkSpec {

  test("PQ train error is non-increasing over Lloyd iterations 1..3") {
    val costs = (1 to 3).map(Similarity.pqTrainCostProbe(spark, Sf0001, _))
    assert(costs(0) >= costs(1) && costs(1) >= costs(2),
      s"PQ quantization error increased across iterations: $costs")
  }

  test("IVF spherical-k-means objective is non-decreasing over iterations 1..3") {
    val costs = (1 to 3).map(Similarity.ivfTrainCostProbe(spark, Sf0001, _))
    assert(costs(0) <= costs(1) && costs(1) <= costs(2),
      s"IVF assigned-cosine objective decreased across iterations: $costs")
  }

  test("IVFADC results agree with exhaustive ADC distances on shared pairs") {
    val ivf = Similarity.annIvfPqSearch(spark, Sf0001)
      .select("qid", "vec_id", "adc_d").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = Similarity.annPqSearch(spark, Sf0001)
      .select("qid", "vec_id", "adc_d").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ivf.nonEmpty, "IVFADC search returned nothing")
    val shared = ivf.keySet.intersect(full.keySet)
    assert(shared.nonEmpty, "IVFADC and exhaustive ADC share no results")
    shared.foreach { k =>
      assert(ivf(k) === full(k), s"ADC distance mismatch for $k")
    }
  }
}
