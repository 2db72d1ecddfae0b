package graft

import org.apache.spark.sql.functions._
import graft.ops.{Ngrams, Pipeline, Similarity, TextStats}
import graft.relational.Queries

/** Invariants for the corpus-analysis / mixing operators that the DuckDB
  * oracle's value-hash can't articulate: vote majorities, mass
  * conservation, balance, and threshold envelopes. */
class CorpusOpsSpec extends SparkSpec {

  test("vocab_build: ids are the exact dense global rank, ranked distributed") {
    val v = Ngrams.vocabBuild(spark, Sf0001)
    val rows = v.collect()
    // exact dense rank 1..N in (n_occ desc, tok) order
    assert(rows.map(_.getAs[Long]("vocab_id")).toSeq === (1L to rows.length).toSeq)
    val sorted = rows.sortBy(r => (-r.getAs[Long]("n_occ"), r.getAs[String]("tok")))
    assert(sorted.map(_.getAs[Long]("vocab_id")).toSeq === (1L to rows.length).toSeq)
    // the vocabulary-sized window must ride the range partitioning (local
    // rank per pid bucket), never a global single-partition sort
    val plan = v.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      "two-phase rank lost its range exchange")
    assert("(?s)Window \\[row_number.*partitionBy".r.findFirstIn(plan).isEmpty
      || plan.contains("pid"), "vocab rank window must be pid-partitioned")
  }

  test("knn_classify: one prediction per query, votes form a kNN majority") {
    val rows = Similarity.knnClassify(spark, Sf0001).collect()
    assert(rows.length == Similarity.NumQueries)
    assert(rows.map(_.getAs[Long]("qid")).distinct.length == rows.length)
    rows.foreach { r =>
      val votes = r.getAs[Long]("votes")
      assert(votes >= 1 && votes <= Similarity.KnnK)
      assert((0L until 10L).contains(r.getAs[Long]("pred_label")))
    }
  }

  test("embed_centroids: every (label, dim) cell, counts conserve the corpus") {
    val rows = Similarity.embedCentroids(spark, Sf0001).collect()
    val dims = rows.map(r => (r.getAs[Long]("label"), r.getAs[Long]("dim")))
    assert(dims.distinct.length == rows.length)
    assert(rows.map(_.getAs[Long]("dim")).forall(d => d >= 1 && d <= Similarity.Dim))
    // every label present in the embeddings table appears, and each label's
    // per-dim count is constant (= its vector count) across all 64 dims
    rows.groupBy(_.getAs[Long]("label")).foreach { case (_, g) =>
      assert(g.length == Similarity.Dim)
      assert(g.map(_.getAs[Long]("n")).distinct.length == 1)
    }
    // centroid_q = floor(sum/n) stays within the component range of its sum
    rows.foreach { r =>
      val c = r.getAs[Long]("centroid_q")
      assert(c * r.getAs[Long]("n") <= r.getAs[Long]("sum_q"))
    }
  }

  test("ngram_topk: descending df with shingle tie-break, bounded size") {
    val rows = Ngrams.ngramTopk(spark, Sf0001).collect()
    assert(rows.length <= Ngrams.TopNgrams)
    val keys = rows.map(r => (-r.getAs[Long]("df"), r.getAs[Long]("shingle")))
    assert(keys.sameElements(keys.sorted), "rows must arrive in (df desc, shingle) order")
  }

  test("tfidf_topterms: at most K terms per doc, rarer-term score dominates") {
    val rows = Ngrams.tfidfTopterms(spark, Sf0001).collect()
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, g) =>
      assert(g.length <= Ngrams.TfidfTopK)
      val byRank = g.sortBy(_.getAs[Int]("rnk"))
      val scores = byRank.map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("repetition_filter: survivors are under the threshold and consistent") {
    val rows = TextStats.repetitionFilter(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("rep_ratio_e4") < TextStats.RepMaxE4)
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("source_mix: shares under 1e6, over-represented sources get cut") {
    val rows = Pipeline.sourceMix(spark, Sf0001).collect()
    val shares = rows.map(_.getAs[Long]("share_e6"))
    assert(shares.forall(s => s >= 0 && s <= 1000000L))
    rows.foreach { r =>
      val rate = r.getAs[Long]("rate_e6")
      assert(rate >= 1 && rate <= 1000000L)
      // a source above the uniform share must be down-sampled, never kept whole
      if (r.getAs[Long]("share_e6") > 1000000L / rows.length)
        assert(rate < 1000000L)
    }
  }

  test("shard_assign: all shards hit, doc mass conserved") {
    val rows = Pipeline.shardAssign(spark, Sf0001).collect()
    assert(rows.length == Pipeline.NumShards)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val nDocs = Tables.documents(spark, Sf0001).count()
    assert(total == nDocs)
    // multiplicative-hash balance: no shard holds more than 3x its fair share
    val fair = nDocs.toDouble / Pipeline.NumShards
    assert(rows.map(_.getAs[Long]("n_docs")).max <= 3 * fair)
  }

  test("sample_reservoir: exactly min(k, stratum size) rows per language") {
    val perLang = Pipeline.sampleReservoir(spark, Sf0001).collect()
      .groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    val sizes = Tables.documents(spark, Sf0001).groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    assert(perLang.keySet == sizes.keySet)
    perLang.foreach { case (lang, n) =>
      assert(n == math.min(Pipeline.ReservoirK.toLong, sizes(lang)))
    }
  }

  test("lang_quantiles: quantiles ordered and inside the min/max envelope") {
    val rows = Pipeline.langQuantiles(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, med, p90, mx) = (r.getAs[Long]("min_tokens"), r.getAs[Long]("median_tokens"),
        r.getAs[Long]("p90_tokens"), r.getAs[Long]("max_tokens"))
      assert(mn <= med && med <= p90 && p90 <= mx)
    }
  }

  test("user_window_1h: trailing counts AND sums match a brute-force recount") {
    val rows = Queries.userWindow1h(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts"),
        r.getAs[Long]("value_cents"), r.getAs[Long]("n_1h"),
        r.getAs[Long]("sum_cents_1h")))
    val byUser = rows.groupBy(_._1)
    byUser.values.foreach { evs =>
      evs.foreach { case (_, ts, _, n, s) =>
        val in = evs.filter(e => e._2 <= ts && e._2 >= ts - Queries.TrailUs)
        assert(n == in.length, s"count mismatch at ts=$ts")
        assert(s == in.map(_._3).sum, s"sum mismatch at ts=$ts")
      }
    }
    assert(rows.map(_._4).max > 1, "some trailing window must hold >1 event")
  }

  test("dedup_clusters: labels are cluster minima and cover exactly the paired docs") {
    import graft.ops.Dedup
    val clusters = Dedup.dedupClusters(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val edges = Dedup.dedupMinhashPairsFull(spark, Sf0001).collect()
      .filter(_.getAs[Long]("jaccard_e4") >= Dedup.ClusterMinJaccardE4)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(clusters.keySet == nodes, "every paired doc gets a label, nothing else")
    edges.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"edge ($a,$b) must share a cluster")
    }
    // each cluster's id is its own smallest member
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
    }
  }

  test("cdc_snapshot: one live row per (base, entity), tombstones removed") {
    import graft.cdc.{ChangeFeed, Forwarder, HyperRemap}
    val snap = Forwarder.cdcSnapshot(spark, Sf0001).collect()
    val keys = snap.map(r => (r.getAs[String]("base"), r.getAs[Long]("uid")))
    assert(keys.distinct.length == keys.length)
    assert(snap.forall(_.getAs[String]("last_kind") != "delete"))
    // cross-check one bucket by replaying the decoded feed in Scala
    val feed = HyperRemap.remap(spark, ChangeFeed.decoded(spark, Sf0001)).collect()
      .map { r =>
        val names = r.getAs[collection.Seq[String]]("columnnames")
        val vals = r.getAs[collection.Seq[String]]("columnvalues")
        val kn = Option(r.getAs[collection.Seq[String]]("keynames")).getOrElse(collection.Seq.empty[String])
        val kv = Option(r.getAs[collection.Seq[String]]("keyvalues")).getOrElse(collection.Seq.empty[String])
        val m = (names.zip(vals) ++ kn.zip(kv)).toMap
        (r.getAs[String]("base"), m("user_id").toLong,
          r.getAs[Long]("lsn"), r.getAs[String]("kind"))
      }
    // NB: .filter + .keys, not .collect returning tuples — Map#collect
    // over 2-tuples rebuilds a Map and silently collapses keys per base
    val expected = feed.groupBy(e => (e._1, e._2))
      .filter { case (_, evs) => evs.maxBy(_._3)._4 != "delete" }
      .keys.toSet
    assert(keys.toSet == expected)
  }

  test("knn_classify prediction is exactly the majority vote of the shared neighbor scan") {
    val neighbors = Similarity.cosineTruth(spark, Sf0001, Similarity.KnnK)
      .select(col("qid"), col("rnk"), col("label")).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"), r.getAs[Long]("label")))
    // recompute the vote in plain Scala: (votes desc, label asc) winner
    val expected = neighbors.groupBy(_._1).map { case (qid, rows) =>
      val (label, votes) = rows.groupBy(_._3).view.mapValues(_.length).toSeq
        .minBy { case (l, v) => (-v, l) }
      qid -> (label, votes.toLong)
    }
    val pred = Similarity.knnClassify(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("qid") ->
        ((r.getAs[Long]("pred_label"), r.getAs[Long]("votes")))).toMap
    assert(pred == expected)
    // and the TopK prefix of that scan is exactly ann_topk's neighbor set
    val prefix = neighbors.filter(_._2 <= Similarity.TopK)
      .map { case (q, r, _) => (q, r) }.toSet
    val topk = Similarity.annTopk(spark, Sf0001)
      .select(col("qid"), col("rnk")).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"))).toSet
    assert(prefix == topk)
  }
}
