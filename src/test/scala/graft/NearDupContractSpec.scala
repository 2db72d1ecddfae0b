package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Dedup, SetJoin, Similarity}

/** The near-duplicate pair contract, table-driven over every rep-level
  * report and its expanded twin: Σ n_pairs of the rep report equals the
  * expanded report's row count, and — wherever the expansion is the
  * shared one (Dedup.expandPairs) — expanding the rep report's own rows
  * reproduces the expanded report row for row. sf0.001 has at most two
  * within rows (rep_a = rep_b) per report and none for most, so the
  * table also runs on a copy-heavy stripe corpus, where every report
  * must emit within rows. */
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

  private lazy val striped = stripeCorpus(docs = true, vecs = true)

  test("rep reports on a copy-heavy corpus: within rows, n_pairs, expansion") {
    check(striped, copyHeavy = true)
  }

  /** The parquet schema (with each column's required/optional) a report
    * writes. Spark reads every parquet column back as nullable, so the
    * footer is read directly. */
  private def writtenSchema(df: DataFrame): String = {
    val out = scratchDir("graft-repschema-")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString), new org.apache.hadoop.conf.Configuration()))
    try r.getFooter.getFileMetaData.getSchema.toString finally r.close()
  }

  test("every rep report writes one schema with and without within rows") {
    val reports = cases.map(c => c.name -> c.rep) :+
      ("winnow_overlap" -> (Dedup.winnowOverlap _: Key))
    // the stripe corpus has within rows for every report; sf0.01 has none
    // for all but the two SimHash reports, whose fingerprint groups
    // repeat in each of these corpora
    val sf001 = s"${new java.io.File(Sf0001).getParent}/sf0.01"
    val corpora = Seq(Sf0001, sf001, striped)
    reports.foreach { case (name, rep) =>
      val frames = corpora.map(rep(spark, _))
      if (!name.startsWith("dedup_simhash"))
        assert(frames.exists(_.where("rep_a = rep_b").isEmpty), s"$name: within rows everywhere")
      val schemas = frames.map(writtenSchema).distinct
      assert(schemas.size == 1, s"$name writes ${schemas.mkString(" / ")}")
    }
  }
}
