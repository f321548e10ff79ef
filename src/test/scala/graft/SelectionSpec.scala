package graft

/** Invariants of the r15 selection + community additions that the
  * hash-parity gate can't express directly: DSIR's target-slice
  * preference (the whole point of importance weighting), the token
  * budget's greedy order and spend bound, and LPA's dup-cluster
  * agreement with the planted near-dup structure.
  */
class SelectionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("dsir: selection prefers the target slice and scores are bounded") {
    val rows = SparkEntry.queries("q_dsir_sample")(spark, sf).collect()
    Scratch.release(spark)
    assert(rows.length <= queries.SelectionQueries.DsirTopK)
    assert(rows.nonEmpty)
    // the target slice ('en') is ~38% of the corpus; importance ranking
    // exists to over-select it — demand a strict majority in the top-k
    val en = rows.count(_.getAs[String]("lang") == "en")
    assert(en * 2 > rows.length, s"only $en/${rows.length} selected docs are 'en'")
    // ratio_bp ≤ 1e4·(Tr+m)/(Tt+m); with the target ≥ ~1/3 of the corpus
    // the per-doc mean can never reach 4e4 — a bound violation means the
    // smoothing or widening arithmetic broke
    rows.foreach { r =>
      val s = r.getAs[Long]("dsir_bp")
      assert(s > 0L && s < 40000L, s"dsir_bp out of range: $r")
    }
    // deterministic: a rerun returns the identical selection
    val again = SparkEntry.queries("q_dsir_sample")(spark, sf).collect()
    Scratch.release(spark)
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq ==
      again.map(_.getAs[Long]("doc_id")).toSeq)
  }

  test("token budget: greedy quality order, spend within budget, nothing affordable left out") {
    val rows = SparkEntry.queries("q_token_budget")(spark, sf)
      .orderBy(org.apache.spark.sql.functions.col("cum_toks")).collect()
    Scratch.release(spark)
    assert(rows.nonEmpty)
    val q = SparkEntry.queries("q_quality_score")(spark, sf).collect()
    val total = q.map(_.getAs[Long]("n_tokens")).sum
    val budget = total * queries.SelectionQueries.BudgetBp / 10000
    // spend bound: the running total never exceeds the budget
    assert(rows.last.getAs[Long]("cum_toks") <= budget)
    // greedy order: quality is non-increasing along the selection and
    // the cumulative sum is consistent with the per-doc token counts
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("quality_bp") >= b.getAs[Long]("quality_bp") ||
          (a.getAs[Long]("quality_bp") == b.getAs[Long]("quality_bp") &&
            a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")))
        assert(b.getAs[Long]("cum_toks") ==
          a.getAs[Long]("cum_toks") + b.getAs[Long]("n_tokens"))
      case _ =>
    }
    // maximality: the best unselected doc would overflow the budget
    val selected = rows.map(_.getAs[Long]("doc_id")).toSet
    val best = q.filterNot(r => selected(r.getAs[Long]("doc_id")))
      .sortBy(r => (-r.getAs[Long]("quality_bp"), r.getAs[Long]("doc_id")))
      .headOption
    best.foreach { r =>
      assert(rows.last.getAs[Long]("cum_toks") + r.getAs[Long]("n_tokens") > budget,
        s"affordable doc left unselected: $r")
    }
  }

  test("prototype pruning: keeps exactly the hardest half of every cluster") {
    val rows = SparkEntry.queries("q_prune_prototypes")(spark, sf).collect()
    Scratch.release(spark)
    assert(rows.nonEmpty)
    val labels = SparkEntry.queries("o51_kmeans")(spark, sf).collect()
    val sizes = labels.groupBy(_.getAs[Int]("cluster")).view.mapValues(_.length).toMap
    val kept = rows.groupBy(_.getAs[Int]("cluster")).view.mapValues(_.length).toMap
    // every cluster is represented and keeps exactly ceil(n_c / 2)
    assert(kept.keySet == sizes.keySet)
    kept.foreach { case (c, k) =>
      assert(k == (sizes(c) + 1) / 2, s"cluster $c kept $k of ${sizes(c)}")
    }
    // within a cluster, rank order is hardest-first: d2 non-increasing
    rows.groupBy(_.getAs[Int]("cluster")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Long]("rk"))
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("d2") >= b.getAs[Double]("d2") ||
            (a.getAs[Double]("d2") == b.getAs[Double]("d2")),
            s"rank order broken in cluster: $a -> $b")
        case _ =>
      }
    }
  }

  test("communities: planted near-dup pairs land in one community; labels are node ids") {
    val rows = SparkEntry.queries("q_graph_communities")(spark, sf).collect()
    Scratch.release(spark)
    assert(rows.nonEmpty)
    val label = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("community")).toMap
    // every community label is itself a node of the graph
    val nodes = label.keySet
    rows.foreach(r => assert(nodes(r.getAs[Long]("community")), s"foreign label: $r"))
    // the dedup corpus plants doc_id+100000 as a near-dup of doc_id
    // (first word dropped) — LPA must agree on the overwhelming majority
    // of planted pairs (synchronous LPA can leave a boundary node mid-
    // oscillation, so demand ≥90%, not all)
    val planted = label.keys.filter(id => id >= 100000L && label.contains(id - 100000L)).toSeq
    assert(planted.nonEmpty)
    val agree = planted.count(id => label(id) == label(id - 100000L))
    assert(agree * 10 >= planted.size * 9,
      s"only $agree/${planted.size} planted pairs share a community")
  }

  test("communities: the broadcast and the shuffle-join round shapes give identical rows") {
    // the node-bound gate always broadcasts at test scale, so force
    // each shape; the fallback is what a corpus past the bound runs
    def run(broadcastLabels: Boolean): (Seq[(Long, Long)], Ledger.Cost) = {
      var rows = Seq.empty[(Long, Long)]
      val (_, cost) = Ledger.measure(spark) {
        val df = queries.GraphAnalyticsQueries
          .lpaCommunities(spark, sf, Some(broadcastLabels))
        rows = df.collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("community")).toSeq.sorted
        df
      }
      Scratch.release(spark)
      (rows, cost)
    }
    val (bcast, bcastCost) = run(broadcastLabels = true)
    val (shuffled, shuffledCost) = run(broadcastLabels = false)
    assert(bcast.nonEmpty)
    assert(shuffled == bcast)
    // the fallback re-partitions every round's joined edges on a
    assert(shuffledCost.exchanges > bcastCost.exchanges,
      s"shapes not forced: $shuffledCost vs $bcastCost")
  }
}
