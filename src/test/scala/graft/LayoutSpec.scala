package graft

import graft.functions.HashExprs
import graft.ops.Layout
import org.apache.spark.sql.functions._

/** Layout-planning operators: the Morton interleave expression, the
  * zone-map audit's layout contrast, and the compaction plan's running
  * sum and packing invariants. */
class LayoutSpec extends SparkSpec {

  test("z_interleave places bit i of x at 2i and bit i of y at 2i+1") {
    import spark.implicits._
    val cases = Seq[(Long, Long)](
      (0L, 0L), (1L, 0L), (0L, 1L), (0xffffL, 0L), (0L, 0xffffL),
      (0xffffL, 0xffffL), (12345L, 54321L), (255L, 31L),
      // inputs above 16 bits must be masked, not wrapped or thrown
      (0x12340000L + 7L, 0xabcd0000L + 9L))
    val got = cases.toDF("x", "y")
      .select(HashExprs.zInterleave(col("x"), col("y")))
      .collect().map(_.getLong(0))
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z
    }
    cases.zip(got).foreach { case ((x, y), g) =>
      assert(g === ref(x, y), s"x=$x y=$y")
    }
  }

  test("z_interleave stays inside whole-stage codegen") {
    // over a real scan (a local literal relation would constant-fold
    // away the projection and prove nothing)
    val df = Tables.events(spark, Sf0001)
      .select(HashExprs.zInterleave(
        expr("pmod(user_id, 256)"), expr("pmod(event_id, 256)")).as("z"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span:\n$plan")
    assert(plan.contains("z_interleave"), s"expression missing:\n$plan")
  }

  test("zorder layout prunes BOTH dimensions; linear only time") {
    val rows = Layout.zorderLayout(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val lin = rows("linear"); val zo = rows("zorder")
    // linear time layout: (almost) no files skippable on the user
    // predicate, most files skippable on the day predicate
    assert(lin.getAs[Long]("skip_x") <= Layout.ZBuckets / 16)
    assert(lin.getAs[Long]("skip_y") > Layout.ZBuckets / 2)
    // z-order: a majority of files skippable on the user predicate AND
    // still a non-trivial share on the day predicate
    assert(zo.getAs[Long]("skip_x") > Layout.ZBuckets / 2)
    assert(zo.getAs[Long]("skip_y") > Layout.ZBuckets / 4)
    // zone maps are materially tighter in x under z-order (≥2× at the
    // 15-user sf0.001 domain; ~9-12× at sf0.01+)
    assert(zo.getAs[Long]("sum_x_span") < lin.getAs[Long]("sum_x_span") / 2)
  }

  test("compaction plan conserves mass and respects the target") {
    val target = Knobs.compactTargetChars
    val plan = Layout.compactionPlan(spark, Sf0001).collect()
    val docs = Tables.documents(spark, Sf0001)
      .groupBy("source").agg(count(lit(1)).as("n"), sum("n_chars").as("ch"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(plan.nonEmpty)
    plan.foreach { r =>
      val src = r.getAs[String]("source")
      val (n, ch) = docs(src)
      assert(r.getAs[Long]("n_docs") === n, src)
      assert(r.getAs[Long]("total_chars") === ch, src)
      // first-fit-by-start contract: a bin's chars can exceed the target
      // only by less than one trailing document's worth — every doc in a
      // bin STARTS inside it, so the bin holds < target + max_doc chars
      val maxDoc = Tables.documents(spark, Sf0001)
        .where(col("source") === src).agg(max("n_chars")).collect()(0).getLong(0)
      assert(r.getAs[Long]("max_bin_chars") < target + maxDoc, src)
      // bins must be no more numerous than one per started target-span
      assert(r.getAs[Long]("n_bins") <= ch / target + 1, src)
    }
  }

  test("compaction's two-phase running start equals one window across chunks") {
    import org.apache.spark.sql.expressions.Window
    // 16 input partitions, 20 chunks of 1000 ids: sources b and c cross
    // every chunk boundary, source a sits inside the first chunk
    val d = spark.range(20000).repartition(16)
      .select(
        when(col("id") < 500, "a").when(col("id") % 2 === 0, "b")
          .otherwise("c").as("source"),
        col("id").as("doc_id"),
        (col("id") * 7919 % 1000 + 1).as("n_chars"))
    val want = d.withColumn("start", sum("n_chars").over(
        Window.partitionBy("source").orderBy("doc_id")) - col("n_chars"))
      .orderBy("doc_id").collect().toSeq
    val got = Layout.runningStart(d, 1000).orderBy("doc_id").collect().toSeq
    assert(got.size == want.size)
    val wrong = got.zip(want).count { case (a, b) => a != b }
    assert(wrong == 0, s"$wrong of ${want.size} start offsets differ")
  }
}
