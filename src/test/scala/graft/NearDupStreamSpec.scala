package graft

import graft.ops.Dedup
import graft.streaming.NearDupStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming/batch equivalence for MinHash-LSH near-dup flagging: the
  * streamed candidate set must equal the batch rule "doc shares a band
  * bucket with a smaller doc_id", both for a single micro-batch and for
  * an id-ordered two-batch replay (cross-batch state: a bucket's keeper
  * from batch 1 must flag batch 2 arrivals). */
class NearDupStreamSpec extends SparkSpec {

  private def batchFlagged(): Set[Long] = {
    val bands = Dedup.bandsOfDocs(
      Tables.documents(spark, Sf0001).select(col("doc_id"), col("text")))
    val keepers = bands.groupBy("band_id", "band_key")
      .agg(min("doc_id").as("keeper"))
    bands.join(keepers, Seq("band_id", "band_key"))
      .where(col("doc_id") > col("keeper"))
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
  }

  private def stageDocs(split: Boolean): String = {
    val work = scratchDir("graft-docs-")
    if (!split) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$Sf0001/documents.parquet"),
        java.nio.file.Paths.get(s"$work/docs-part1.parquet"))
    } else {
      // two id-ordered halves -> with maxFilesPerTrigger=1, two
      // micro-batches in doc_id order (the change-feed arrival order)
      val docs = Tables.documents(spark, Sf0001)
      val mid = docs.agg(expr("CAST(percentile_approx(doc_id, 0.5) AS LONG)"))
        .head.getLong(0)
      docs.where(col("doc_id") <= mid).coalesce(1)
        .write.parquet(s"$work/a-first")
      docs.where(col("doc_id") > mid).coalesce(1)
        .write.parquet(s"$work/b-second")
      val out = scratchDir("graft-docs2-")
      def onePart(sub: String, name: String): Unit = {
        val part = new java.io.File(s"$work/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$out/$name"))
      }
      onePart("a-first", "docs-part1.parquet")
      onePart("b-second", "docs-part2.parquet")
      return out
    }
    work
  }

  private def runStream(dir: String, oneFilePerTrigger: Boolean): Set[Long] = {
    val name = s"near_dup_${if (oneFilePerTrigger) "multi" else "single"}"
    val docs = NearDupStream.readDocs(spark, dir,
      if (oneFilePerTrigger) Some(1) else None)
    val q = NearDupStream.flagNearDups(docs)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
  }

  test("single micro-batch equals the batch smaller-id candidate rule") {
    val got = runStream(stageDocs(split = false), oneFilePerTrigger = false)
    val want = batchFlagged()
    assert(want.nonEmpty, "fixture corpus has no near-dup candidates")
    assert(got === want)
  }

  test("two id-ordered micro-batches carry bucket state across batches") {
    val got = runStream(stageDocs(split = true), oneFilePerTrigger = true)
    assert(got === batchFlagged())
  }
}
