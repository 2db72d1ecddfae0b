package graft

import graft.ops.Similarity

/** Identical-vector collapse equivalence (round 11).
  *
  * The sf0.001/sf0.01 corpora carry few or no duplicate embeddings, so
  * the oracle gate exercises the collapsed plans mostly on singleton
  * groups. This spec builds a COPY-HEAVY corpus (three shifted-id
  * stripes of the sf0.001 embeddings — byte-identical vectors, labels
  * deliberately perturbed per stripe so identical vectors carry
  * DIFFERENT labels) and pins each collapsed operator row-for-row equal
  * to its retained naive member-level reference:
  *   - annLsh ≡ annLshNaiveProbe (the top-(k+1) group-prefix argument:
  *     every member of a group shares one ranked list minus itself);
  *   - dedupSemantic ≡ dedupSemanticNaiveProbe (best candidate from any
  *     group is its min member id when below the probe);
  *   - labelNoise ≡ labelNoiseNaiveProbe (prefix entries carry member
  *     labels, so within-group label variance must survive collapse).
  * The naive probes consume the member-level scoredPairs expansion and
  * the member-level cell joins, so the expansion frames are proven too.
  */
class DupCollapseSpec extends SparkSpec {

  lazy val dupDir: String = stripeCorpus(docs = false, vecs = true)

  test("the member-pair expansion equals the ORIGINAL member-level bucket join") {
    // annLshNaiveProbe rides the expansion itself, so this is the link
    // that grounds the whole chain: rep bucket join + id arithmetic must
    // reproduce the pre-round-11 member-level join exactly — same pairs,
    // same n_tbl (identical vectors collide in every table), same cos
    // through the same IEEE expressions
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("aid", "bid").collect().toSeq
        .map(r => (r.getAs[Long]("aid"), r.getAs[Long]("bid"),
          r.getAs[Long]("n_tbl"), r.getAs[Double]("cos")))
    val fast = norm(Similarity.scoredPairsExpandedProbe(spark, dupDir))
    val ref = norm(Similarity.scoredPairsMemberProbe(spark, dupDir))
    assert(fast.nonEmpty)
    assert(fast.exists { case (a, b, _, _) => (b - a) % 5000000L == 0 })
    assert(fast == ref)
  }

  test("annLsh collapse is row-identical to the naive member-level ranking") {
    val fast = Similarity.annLsh(spark, dupDir).collect().toSeq
    val ref = Similarity.annLshNaiveProbe(spark, dupDir).collect().toSeq
    assert(fast.nonEmpty)
    // the duplicate stripes must actually appear as neighbors, or the
    // corpus failed to exercise the within-group path
    assert(fast.exists { r =>
      (r.getAs[Long]("bid") - r.getAs[Long]("aid")) % 5000000L == 0
    })
    assert(fast == ref)
  }

  test("dedupSemantic collapse is row-identical to the naive cell join") {
    val fast = Similarity.dedupSemantic(spark, dupDir).collect().toSeq
    val ref = Similarity.dedupSemanticNaiveProbe(spark, dupDir).collect().toSeq
    assert(fast.nonEmpty)
    assert(fast == ref)
  }

  test("labelNoise collapse is row-identical under within-group label variance") {
    val fast = Similarity.labelNoise(spark, dupDir).collect().toSeq
    val ref = Similarity.labelNoiseNaiveProbe(spark, dupDir).collect().toSeq
    assert(fast.nonEmpty)
    assert(fast == ref)
  }
}
