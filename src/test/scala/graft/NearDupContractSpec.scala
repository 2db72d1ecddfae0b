package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Dedup, SetJoin, Similarity}

/** The near-duplicate pair contract, table-driven over every rep-level
  * report and its expanded twin: Σ n_pairs of the rep report equals the
  * expanded report's row count, and — wherever the expansion is the
  * shared one (Dedup.expandPairs) — expanding the rep report's own rows
  * reproduces the expanded report row for row. sf0.001 has no duplicate
  * texts or embeddings, so the table also runs on a copy-heavy stripe
  * corpus, where every report must emit within rows (rep_a = rep_b). */
class NearDupContractSpec extends SparkSpec {

  private type Key = (SparkSession, String) => DataFrame

  /** A rep report, its expanded twin, and the rep collapse the shared
    * expansion reads (None: the expansion is the method's own). */
  private case class Case(name: String, rep: Key, full: Key,
      members: Option[Key], ordered: Boolean = false)

  private val cases = Seq(
    Case("dedup_minhash", Dedup.dedupMinhash, Dedup.dedupMinhashPairsFull,
      Some(Dedup.repMembers)),
    Case("minhash_est", Dedup.minhashEst, Dedup.minhashEstPairsFull,
      Some(Dedup.repMembers)),
    Case("dedup_simhash_pairs", Dedup.dedupSimhashPairs, Dedup.dedupSimhashPairsFull,
      Some(Dedup.simhashMembers)),
    Case("dedup_simhash_multiprobe", Dedup.dedupSimhashMultiprobe,
      Dedup.dedupSimhashMultiprobeFull, Some(Dedup.simhashMembers)),
    Case("jaccard_prefix", SetJoin.jaccardPrefix, SetJoin.jaccardPrefixPairsFull,
      Some(SetJoin.repMembers)),
    Case("containment_join", SetJoin.containmentJoin, SetJoin.containmentJoinPairsFull,
      Some(SetJoin.repMembers), ordered = true),
    // the expanded twin reads Similarity's member-level scored pairs
    Case("embed_cosine_dup", Similarity.embedCosineDup, Similarity.embedCosineDupPairsFull,
      None))

  private def check(dir: String, copyHeavy: Boolean): Unit = cases.foreach { c =>
    val rep = c.rep(spark, dir)
    val rows = rep.collect()
    val full = c.full(spark, dir).collect().toSeq
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == full.size.toLong,
      s"${c.name}: Σ n_pairs ≠ expanded row count")
    if (copyHeavy)
      assert(rows.exists(r => r.getAs[Long]("rep_a") == r.getAs[Long]("rep_b")),
        s"${c.name}: no within row on the copy-heavy corpus")
    c.members.foreach { m =>
      val expanded = Dedup.expandPairs(rep, m(spark, dir), c.ordered)
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(expanded == full, s"${c.name}: expanded rep rows ≠ expanded report")
    }
  }

  test("rep reports on sf0.001: sum of n_pairs equals the expanded rows") {
    check(Sf0001, copyHeavy = false)
  }

  test("rep reports on a copy-heavy corpus: within rows, n_pairs, expansion") {
    check(stripeCorpus(docs = true, vecs = true), copyHeavy = true)
  }
}
