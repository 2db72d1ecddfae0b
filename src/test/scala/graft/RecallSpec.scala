package graft

import graft.ops.Similarity

/** The one recall evaluator every `*_recall` key reads: per truth query
  * n_exact = |truth|, n_hits = |truth ∩ list|, recall_e4 = n_hits ·
  * 10000 div n_exact — pinned on a hand-built frame, and on sf0.001 each
  * truth (exact cosine, exact L2, group-level cosine) scored against
  * itself must read full recall for every query. */
class RecallSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("qid", "n_exact", "n_hits", "recall_e4").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("recall keeps hitless queries, ignores ids outside the truth, floors the e4 ratio") {
    val s = spark
    import s.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("qid", "cid")
    // query 1 hits 2 of 3 plus an id outside its truth; query 2 retrieves
    // only a miss; query 3 retrieves nothing; query 4 has no truth
    val list = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 77L), (4L, 40L))
      .toDF("qid", "cid")
    val got = rows(Similarity.recall(truth, list))
    assert(got === Seq((1L, 3L, 2L, 6666L), (2L, 2L, 0L, 0L), (3L, 1L, 0L, 0L)))
    got.foreach { case (_, nExact, nHits, e4) => assert(e4 === nHits * 10000 / nExact) }
  }

  test("each truth scored against itself reads 10000 for every query on sf0.001") {
    Seq("cosine" -> Similarity.cosineTruth(spark, Sf0001, Similarity.TopK),
        "l2" -> Similarity.l2Truth(spark, Sf0001),
        "group" -> Similarity.groupTruth(spark, Sf0001)).foreach { case (name, truth) =>
      val got = rows(Similarity.recall(truth, truth))
      assert(got.map(_._1) === (0L until Similarity.NumQueries), s"$name: query set")
      got.foreach { case (qid, nExact, nHits, e4) =>
        assert(nExact > 0 && nHits === nExact && e4 === 10000L, s"$name: query $qid")
      }
    }
  }
}
