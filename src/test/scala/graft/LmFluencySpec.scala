package graft

import org.apache.spark.sql.functions._
import graft.ops.Ngrams

/** lm_fluency (SURVEY §2 row 184): a corpus-trained bigram-LM surprise
  * score must rank a document made of rare token transitions above one
  * made of common transitions, even when both draw from the same
  * vocabulary — the property that separates a fluency filter from a
  * token-frequency filter (oov_rate / dsir_weights would score the two
  * identically). */
class LmFluencySpec extends SparkSpec {
  private var fluDirCreated: Option[String] = None

  override def afterAll(): Unit = {
    fluDirCreated.foreach { d =>
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles()
        if (kids != null) kids.foreach(rm)
        p.delete(): Unit
      }
      rm(new java.io.File(d))
    }
    super.afterAll()
  }

  /** 40 fluent docs repeat the same two-token transitions; one scrambled
    * doc pairs the SAME tokens in orders the rest of the corpus never
    * produces (each adjacent pair occurs exactly once corpus-wide). */
  lazy val fluDir: String = {
    val out = scratchDir("graft-flucorpus-")
    fluDirCreated = Some(out)
    import spark.implicits._
    val fluent = (0L until 40L).map { i =>
      (i, "alpha beta gamma delta alpha beta gamma delta alpha beta", "en", "web")
    }
    val scrambled = Seq(
      (99L, "beta alpha delta gamma beta delta alpha gamma delta beta", "en", "web"))
    (fluent ++ scrambled)
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.parquet(s"$out/documents.parquet")
    out
  }

  test("scrambled transitions out-rank fluent ones") {
    val rows = Ngrams.lmFluency(spark, fluDir).collect()
    assert(rows.nonEmpty)
    val top = rows.head
    assert(top.getAs[Long]("rnk") == 1L)
    assert(top.getAs[Long]("doc_id") == 99L)
    // every fluent doc shares one score; the scrambled doc's is higher
    val byDoc = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("surprise_e6")).toMap
    val fluentScores = byDoc.filter(_._1 != 99L).values.toSet
    assert(fluentScores.size == 1)
    assert(byDoc(99L) > fluentScores.head)
  }

  test("surprise floor: a pair seen once under a frequent head token") {
    // In the scrambled doc "beta alpha" occurs once corpus-wide while
    // beta occurs 41 + 40·2 times... compute exactly instead: surprise
    // of pair (a,b) = floor(1e6 * n_a / n_ab) with counts over the WHOLE
    // corpus — spot-check one pair end-to-end through the public frames.
    val uni = Ngrams.tfFrame(spark, fluDir)
      .groupBy("tok").agg(sum("tf").as("n_a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bi = Ngrams.bigramCounts(spark, fluDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // "alpha beta" appears 3x in each of the 40 fluent docs, never in
    // the scrambled one
    assert(bi(("alpha", "beta")) == 120L)
    assert(bi(("beta", "alpha")) == 1L)
    assert(uni("alpha") == 40L * 3 + 2)
  }
}
