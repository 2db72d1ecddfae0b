package graft

import org.apache.spark.sql.functions._
import graft.ops.Chunks
import graft.relational.Queries

/** Physical-plan and robustness properties of the wave-2 operators that
  * the value-hash oracle cannot see: the salted join must actually take
  * the sort-merge path it exists to demonstrate, and content-defined
  * chunk boundaries must re-synchronize after an insertion. */
class SkewChunkSpec extends SparkSpec {

  test("join_salted takes a sort-merge join, not a broadcast") {
    val plan = Queries.joinSalted(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      "broadcast would bypass the skew problem the operator demonstrates")
  }

  test("salted join result is identical to the plain unsalted join") {
    val salted = Queries.joinSalted(spark, Sf0001).collect().map(_.toSeq).toSeq
    val plain = {
      val fact = Tables.events(spark, Sf0001)
        .select(col("user_id"), expr("cast(round(value * 100) as bigint)").as("vc"))
      val dim = Tables.customer(spark, Sf0001)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
      fact.join(dim, fact("user_id") === dim("c_custkey"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"),
          sum("vc").as("sum_cents"))
        .orderBy("nation").collect().map(_.toSeq).toSeq
    }
    assert(salted === plain)
  }

  test("content chunks reassemble to the full document") {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val chunks = Chunks.contentChunks(spark, Sf0001)
      .groupBy("doc_id").agg(sum("n_toks").as("chunk_toks"))
    val bad = docs.join(chunks, "doc_id")
      .where(col("n_tok") =!= col("chunk_toks")).count()
    assert(bad === 0L, "chunk token counts do not reassemble to documents")
  }

  test("content-defined boundaries re-synchronize after a prefix insertion") {
    // Build two in-memory docs: B = A with tokens inserted at the front.
    // A fixed-stride chunker shares ~no fingerprints between A and B;
    // content-defined chunking must recover most of A's chunks inside B.
    import spark.implicits._
    val a = (1 to 400).map(i => s"w${i % 37}").mkString(" ")
    val b = "inserted tokens at front " + a
    val dir = scratchDir("graft-cdcchunk-")
    Seq((0L, a, "en", "src0", a.length.toLong), (1L, b, "en", "src0", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Chunks.contentChunks(spark, dir)
    val fpsA = out.where(col("doc_id") === 0).select("chunk_fp").collect().map(_.getLong(0)).toSet
    val fpsB = out.where(col("doc_id") === 1).select("chunk_fp").collect().map(_.getLong(0)).toSet
    val shared = fpsA.intersect(fpsB).size.toDouble / fpsA.size
    assert(shared > 0.5, f"only ${shared * 100}%.0f%% of chunks survived the insertion")
  }
}
