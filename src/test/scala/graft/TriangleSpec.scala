package graft

import graft.ops.Dedup

/** dup_triangles' rep arithmetic must equal the member-level census over
  * the EXPANDED verified edge set. The oracle corpora carry few duplicate
  * groups, so (DupCollapseSpec precedent) the pin also runs on a
  * copy-heavy corpus where the within-group and bipartite arithmetic
  * terms actually fire. */
class TriangleSpec extends SparkSpec {

  // No Knobs.noteDir on the generated corpus: the MinHash census chain is
  // knob-free (fixed bands/permutations; only the SimHash family reads a
  // derived knob), and the tripled corpus would otherwise trip the
  // one-corpus-per-JVM flip guard on the unrelated compaction knob.

  /** Plain-Scala census over the expanded per-copy pair frame. */
  private def naive(dir: String): (Long, Long, Long) = {
    val edges = Dedup.dedupMinhashPairsFull(spark, dir)
      .where(org.apache.spark.sql.functions.col("jaccard_e4") >=
        org.apache.spark.sql.functions.lit(Dedup.ClusterMinJaccardE4))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val triangles = edges.toSeq.map { case (a, b) =>
      (adj(a) intersect adj(b)).count(c => c > b).toLong
    }.sum
    (edges.size.toLong, wedges, triangles)
  }

  private def engine(dir: String): (Long, Long, Long) = {
    val r = Dedup.dupTriangles(spark, dir).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("rep-arithmetic census equals the expanded member-level census (sf0.001)") {
    assert(engine(Sf0001) == naive(Sf0001))
  }

  test("rep-arithmetic census equals the expanded census on a copy-heavy corpus") {
    // three byte-identical stripes of the documents: every text group
    // becomes a 3-clique, so ALL arithmetic terms (within, bipartite,
    // rep-triangle) contribute
    val out = stripeCorpus(docs = true, vecs = false)
    assert(engine(out) == naive(out))
  }
}
