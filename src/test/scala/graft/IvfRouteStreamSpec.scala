package graft

import graft.ops.Similarity
import graft.streaming.IvfRouteStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming/batch equivalence for IVF cell routing: the streamed
  * per-vector assignment must equal the batch cellAssignments rank-1
  * rule (max cosine, ties to the smaller seed_id) — single micro-batch
  * and a two-file replay (routing is stateless, so the split only
  * exercises the file-source plumbing at multiple triggers). */
class IvfRouteStreamSpec extends SparkSpec {

  private def batchAssign(): Map[Long, Long] =
    Similarity.cellAssignmentsProbe(spark, Sf0001)
      .where(col("rnk") === 1)
      .select("avid", "seed_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def stageEmbeddings(split: Boolean): String = {
    val out = scratchDir("graft-emb-")
    if (!split) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$Sf0001/embeddings.parquet"),
        java.nio.file.Paths.get(s"$out/emb-part1.parquet"))
      out
    } else {
      val work = scratchDir("graft-emb-w-")
      val emb = Tables.embeddings(spark, Sf0001)
      emb.where(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$work/a")
      emb.where(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$work/b")
      def onePart(sub: String, name: String): Unit = {
        val part = new java.io.File(s"$work/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$out/$name"))
      }
      onePart("a", "emb-part1.parquet")
      onePart("b", "emb-part2.parquet")
      out
    }
  }

  private def runStream(dir: String, oneFilePerTrigger: Boolean): Map[Long, Long] = {
    val name = s"ivf_route_${if (oneFilePerTrigger) "multi" else "single"}"
    val centroids = Similarity.centroidsFor(spark, Sf0001).collect()
    val q = IvfRouteStream.routeToCells(
        IvfRouteStream.readEmbeddings(spark, dir,
          if (oneFilePerTrigger) Some(1) else None),
        centroids)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("single micro-batch routing equals the batch rank-1 assignment") {
    val want = batchAssign()
    assert(want.nonEmpty, "batch assignment is empty")
    val got = runStream(stageEmbeddings(split = false), oneFilePerTrigger = false)
    assert(got === want)
  }

  test("two-file replay routes identically across micro-batches") {
    val got = runStream(stageEmbeddings(split = true), oneFilePerTrigger = true)
    assert(got === batchAssign())
  }
}
