package graft

import org.apache.spark.sql.SparkSession

/** Dev harness for SCALE.md: measures a scale lever directly instead of
  * arguing it. `runMain graft.ScaleProbe <sfDir> <bits,bits,...>` runs
  * the multi-probe embedding near-dup pair generator at each sign-LSH
  * bit width and prints wall seconds + pair counts — demonstrating that
  * growing the bucket count with the corpus (constant occupancy)
  * restores linear candidate work where a FIXED bucket count is
  * quadratic (n²/2^bits candidate pairs).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = args(1)
    val spark = GraftSession.build()
    if (mode == "pii") println(piiProbe(spark, dir))
    else if (mode == "tfidf") println(tfidfProbe(spark, dir))
    else if (mode == "graphx") println(graphxProbe(spark, dir))
    else if (mode == "bloom") println(bloomProbe(spark, dir))
    else if (mode == "nsw") println(nswProbe(spark, dir))
    else if (mode == "act") println(actProbe(spark, dir))
    else if (mode == "floor") println(floorProbe(spark, dir))
    else if (mode == "graph") println(graphProbe(spark, dir))
    else if (mode == "lm") println(lmProbe(spark, dir))
    else if (mode == "lm2") println(lm2Probe(spark, dir))
    else if (mode == "mad") println(madProbe(spark, dir))
    else if (mode == "pack") println(packProbe(spark, dir))
    else if (mode == "sem") println(semProbe(spark, dir))
    else if (mode == "pr") println(prProbe(spark, dir))
    else if (mode == "stream") println(streamProbe(spark, dir))
    else if (mode == "mh") println(graft.queries.DedupQueries.mhProbe(spark, dir))
    else if (mode == "lpaskew") println(lpaSkewProbe(spark, dir))
    else if (mode == "ccparts") {
      // r19: what partition width does each CC consumer's Pregel run at,
      // and what does Catalyst ESTIMATE the pair relation's size to be?
      val ph = graft.queries.IoQueries.phashPairs(spark, dir)
        .select(org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b"))
      val mh = graft.queries.DedupQueries.minhash(spark, dir)
      def stat(n: String, df: org.apache.spark.sql.DataFrame): String =
        s"$n: estBytes=${df.queryExecution.optimizedPlan.stats.sizeInBytes} parts=${graft.operators.SizedRdd.parts(df)}"
      println(stat("phash_pairs", ph))
      println(stat("minhash_pairs", mh))
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(spark, dir).select(col("doc_id"))
      println(stat("cc_edges", graft.queries.DedupQueries.ccChainEdges(spark, dir)))
      println(stat("cc_docs", docs))
    }
    else if (mode == "docsim") println(graft.queries.DedupQueries.docsimProbe(spark, dir))
    else if (mode == "lpa") println(graft.queries.GraphAnalyticsQueries.lpaProbe(spark, dir))
    else if (mode.startsWith("prx")) println(prxProbe(spark, dir, mode.drop(3).toInt))
    else println(bitsProbe(spark, dir, mode))
    spark.stop()
  }

  /** Bloom payload probe (r14 — VERDICT r13 "what's wrong" #1): runs
    * q_sketch_bloom at `dir`, reports the filter sizing and the
    * broadcast-side payload of the packed-bitmap form vs the old
    * row-per-set-bit form, and projects both to the 100 TB design
    * target (1e9 member docs). The packed side is bounded by m/64 words
    * REGARDLESS of member count; the row-per-bit side grows with the
    * set-bit count (≈ 3·members below saturation).
    */
  private def bloomProbe(spark: SparkSession, dir: String): String = {
    val df = () => graft.queries.SketchQueries.queries("q_sketch_bloom")(spark, dir)
    df().queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())) // warm
    val t0 = System.nanoTime()
    val row = df().collect().head
    val wallS = (System.nanoTime() - t0) / 1e9
    val m = row.getAs[Long]("m_bits")
    val setBits = row.getAs[Long]("n_bits_set")
    val wordsMax = m / 64
    def proj(members: Long): String = {
      val pm = {
        val p = 8L * members
        math.max(512L, 1L << (64 - java.lang.Long.numberOfLeadingZeros(p - 1)))
      }
      val w = pm / 64
      val branch = if (pm <= (1L << 27)) "broadcast" else "shuffle-equi-join"
      f"members=$members%,d -> m=$pm%,d bits, packed<=$w%,d words (${w * 16 / 1048576}%,d MiB) via $branch; " +
        f"row-per-bit would be ~${3 * members}%,d rows (${3 * members * 24 / 1048576}%,d MiB)"
    }
    f"""bloom @ $dir: wall=$wallS%.3f s, m=$m%,d bits, set=$setBits%,d,
       |  packed broadcast <= $wordsMax%,d words (${wordsMax * 16}%,d B) vs $setBits%,d rows before
       |  projection ${proj(1000000L)}
       |  projection ${proj(1000000000L)}""".stripMargin
  }

  /** SemDeDup scale probe (r14): runs q_dedup_semantic over a warm IVF
    * index and reports the within-list pair-work budget next to the
    * wall time. The scale claim being measured: autoNList holds the
    * list LENGTH constant, so Σ|list|² — the only superlinear term in
    * cluster-then-compare dedup — grows linearly with the corpus
    * (lists × constant²), never n². Run at 1× and a scalegen 10× dir
    * to see the wall and the pair budget both move ~10×.
    */
  private def semProbe(spark: SparkSession, dir: String): String = {
    val ix = graft.queries.VectorQueries.ivfIndex(spark, dir) // build cold, probe warm
    val lists = ix.assigned.groupBy("cluster").count().collect().map(_.getLong(1))
    val t0 = System.nanoTime()
    val drops = graft.queries.DedupQueries.queries("q_dedup_semantic")(spark, dir).count()
    val wallS = (System.nanoTime() - t0) / 1e9
    Scratch.release(spark)
    // the query's corpus is base + mutated twin => each list ~doubles
    val pairWork = lists.map(l => (2 * l) * (2 * l)).sum / 2
    f"semantic @ $dir: wall=$wallS%.3f s (warm index), drops=$drops%,d, " +
      f"nList=${lists.length}%,d, meanList=${lists.sum / math.max(1, lists.length)}%,d, " +
      f"within-list pair budget ~$pairWork%,d (linear in corpus at constant list length)"
  }

  /** q_graph_pagerank phase split: (a) edge build + distinct
    * materialized, (b) degree count, (c) one join+agg iteration, (d) the
    * full declared query cold — attributes the wall between the one-time
    * edge derivation and the per-iteration cost.
    */
  private def prProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    def wall[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val (tFull, rows) = wall(
      graft.queries.GraphAnalyticsQueries.queries("q_graph_pagerank")(spark, dir).collect().length)
    Scratch.release(spark)
    val pairs = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val e = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
    val (tEdge, _) = wall { e.persist(); e.count() }
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edgesD = e.join(deg, "src"); edgesD.persist()
    val (tDeg, n) = wall(deg.count())
    val r0 = deg.select(col("src").as("node"), lit(1000000000000L / n).as("r"))
    val oneIter = edgesD.join(r0.withColumnRenamed("node", "src"), "src")
      .groupBy("dst").agg(sum(expr("r DIV outdeg")).as("c"))
    val (tWarmEdges, _) = wall(edgesD.count())
    val (tIter, _) = wall(oneIter.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())))
    val (tIter2, _) = wall(oneIter.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())))
    e.unpersist(); edgesD.unpersist()
    f"pagerank @ $dir: full=$tFull%.2f s ($rows rows), edge build+distinct=$tEdge%.2f s, " +
      f"deg count=$tDeg%.2f s (n=$n%,d), edgesD warm=$tWarmEdges%.2f s, " +
      f"one iter (cold codegen)=$tIter%.2f s, one iter (warm)=$tIter2%.2f s"
  }

  /** PageRank at a SCALED graph (r14): scalegen copies the TPC-H tables
    * verbatim, so the purchase graph never grows with the 10× dataset —
    * this probe scales it directly with `factor` DISJOINT offset
    * replicas of the trading-pair list (identical structure, factor×
    * nodes AND edges — conservative for the per-iteration claim, since
    * real growth adds edges faster than nodes). Times the same phases
    * as [[prProbe]] plus the full 6-iteration checkpointed loop, so the
    * O(nodes)-per-iteration shuffle claim is measured, not argued.
    */
  private def prxProbe(spark: SparkSession, dir: String, factor: Int): String = {
    import org.apache.spark.sql.functions._
    def wall[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val base = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val maxId = base.agg(max(greatest(col("c"), col("s")))).head().getLong(0) + 1
    val pairs = (0 until factor).map { k =>
      base.select((col("c") + k * maxId).as("c"), (col("s") + k * maxId).as("s"))
    }.reduce(_ unionAll _)
    val e = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
    val (tEdge, nEdges) = wall { e.persist(); e.count() }
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edgesD = e.join(deg, "src").repartition(col("src")); edgesD.persist()
    val (tDeg, n) = wall(deg.count())
    edgesD.count() // warm the iteration input outside the timings
    val baseR = 1000000000000L / n
    var ranks = deg.select(col("src").as("node"), lit(baseR).as("r"))
    val (tLoop, _) = wall {
      for (i <- 1 to 6) {
        ranks = edgesD.join(ranks.withColumnRenamed("node", "src"), "src")
          .groupBy("dst").agg(sum(expr("r DIV outdeg")).as("c"))
          .select(col("dst").as("node"),
            expr(s"(1500 * ${baseR}L + 8500 * c) DIV 10000").as("r"))
        if (i < 6) ranks = ranks.localCheckpoint()
      }
      ranks.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
    }
    e.unpersist(); edgesD.unpersist()
    f"pagerank ×$factor @ $dir: edges=$nEdges%,d nodes=$n%,d, " +
      f"edge build=$tEdge%.2f s, deg=$tDeg%.2f s, 6-iter loop (warm edges)=$tLoop%.2f s"
  }

  /** Per-phase decomposition of the per-query driver floor (VERDICT r8
    * #1a) for representative sub-150 ms queries: (1) DataFrame build +
    * analysis, (2) optimization + physical planning, (3) job execution.
    * Warmed first so codegen/JIT compile lands outside the measurement;
    * mean of 5 — the floor is a mean effect, not a min effect.
    */
  /** q_act_features phase split (r13, VERDICT r12 #7): times (a) the
    * scan alone, (b) scan+shuffle+sort+ntile (window output
    * materialized, no aggregation), (c) scan+shuffle+groupBy with the
    * full 21-aggregate surface but NO window (acts faked from l_linenumber),
    * (d) the full query — attributing the wall between the ordered
    * window and the exact-sum aggregation.
    */
  private def actProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def time(mk: => org.apache.spark.sql.DataFrame): Double = {
      mk.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())) // warm
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        mk.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val li = () => Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val scanS = time(li())
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val windowS = time(li().withColumn("_act", ntile(3).over(w))
      .select("l_orderkey", "_act", "l_quantity"))
    import graft.functions.ExactAgg.ssum4
    def aggCols = {
      val acts = for {
        m <- Seq("l_quantity", "l_extendedprice", "l_discount"); a <- 1 to 3
      } yield round(ssum4(when(col("_act") === a, col(m))) /
        count(when(col("_act") === a, lit(1))), 4).as(s"${m}_a$a")
      val stds = Seq("l_quantity", "l_extendedprice", "l_discount").map { m =>
        val sx = ssum4(col(m))
        val sxx = sum((col(m) * col(m)).cast("decimal(28,8)")).cast("double")
        val n = count(lit(1)).cast("double")
        round(sqrt(greatest((sxx - sx * sx / n) / greatest(n - 1, lit(1.0)), lit(0.0))), 4).as(s"${m}_s")
      }
      acts ++ stds
    }
    // no-window agg: same aggregate surface, act faked from an existing col
    val aggOnlyS = time {
      val base = li().withColumn("_act", (col("l_linenumber") % 3 + 1).cast("int"))
      val ac = aggCols
      base.groupBy(col("l_orderkey")).agg(ac.head, ac.tail: _*)
    }
    val fullS = time(graft.SparkEntry.queries("q_act_features")(spark, dir))
    f"""{"scan_s":$scanS%.3f,"window_s":$windowS%.3f,"aggonly_s":$aggOnlyS%.3f,"full_s":$fullS%.3f}"""
  }

  /** Full materialization of a frame, no rows to the driver — the
    * probe-side equivalent of Bench's drain.
    */
  private def forceDf(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))

  /** min-of-`reps` wall-clock MILLISECONDS of `f` — the shared probe
    * timing loop (r16 review: four probes hand-rolled this).
    */
  private def minMs(reps: Int = 5)(f: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }.min

  /** min-of-`reps` full-materialization milliseconds of a rebuilt frame. */
  private def execMinMs(mk: => org.apache.spark.sql.DataFrame): Double =
    minMs()(forceDf(mk))

  /** Shared cold-timed stage harness for the pack-level probes (ADVICE
    * r15 #4 — docsimProbe and lpaProbe each hand-rolled this): runs
    * `cold()` + one DISCARDED warmup of the first stage (JVM/codegen),
    * then cold-times each (name, thunk) stage in order. Dev-only.
    */
  private[graft] def coldStages(cold: () => Unit,
      stages: (String, () => Long)*): Seq[(String, Long, Double)] = {
    cold()
    stages.head._2.apply() // warmup — discard
    stages.map { case (name, f) =>
      cold()
      val t0 = System.nanoTime()
      val n = f()
      (name, n, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Attribution for q_pii_scrub (r16): raw kernel throughput off-Spark
    * over the ACTUAL decorated rows vs declared-query exec time vs a
    * scan-only baseline — separates regex cost from the stage floor.
    * Dev-only collect (bounded at probe SFs).
    */
  private def piiProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    val raw = Tables.documents(spark, dir).select(concat(col("text"),
      lit(" Contact user"), col("doc_id"), lit("@example.com or https://example.org/doc/"),
      col("doc_id"), lit(" tel +1 555-867-5309 ip 10.0."),
      pmod(col("doc_id"), lit(256)), lit(".7")).as("raw"))
      .collect().map(r => org.apache.spark.unsafe.types.UTF8String
        .fromString(r.getString(0)))
    var kernelMs = Double.MaxValue
    (1 to 5).foreach { _ =>
      val t0 = System.nanoTime()
      var i = 0; var acc = 0L
      while (i < raw.length) {
        acc += graft.functions.expressions.PiiScrub.compute(raw(i)).getLong(1)
        i += 1
      }
      kernelMs = math.min(kernelMs, (System.nanoTime() - t0) / 1e6 + (acc - acc))
    }
    val qMs = execMinMs(graft.SparkEntry.queries("q_pii_scrub")(spark, dir))
    val scanMs = execMinMs(Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text"))))
    f"""{"rows":${raw.length},"kernel_ms":$kernelMs%.1f,"query_exec_ms":$qMs%.1f,"scan_ms":$scanMs%.1f}"""
  }

  /** Attribution for q_tfidf_terms (r16): the full single-job query vs
    * just materializing the tok-partitioned token stream (scan + explode
    * + one exchange) — the delta is the aggregate/window work.
    */
  private def tfidfProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    val tokMs = execMinMs(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("tok"))
      .repartition(col("tok")))
    val qMs = execMinMs(graft.SparkEntry.queries("q_tfidf_terms")(spark, dir))
    f"""{"tok_exchange_ms":$tokMs%.1f,"query_ms":$qMs%.1f}"""
  }

  /** Attribution for the GraphX floor class (r16 — VERDICT r15 #6):
    * q_graphx_depth (113×) and q_dedup_cc (10.9×) measure GraphX's
    * fixed per-job machinery against trivial SQL twins. `minimal_ms`
    * times Pregel on a TWO-VERTEX graph — pure framework floor
    * (RDD materialization, vertex/edge partitioning, per-superstep
    * joins), zero data work; the declared queries sit on that floor.
    */
  private def graphxProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.graphx.{Edge, Graph => XGraph}
    val minimal = minMs() {
      val sc = spark.sparkContext
      val g = XGraph(sc.parallelize(Seq((1L, 0), (2L, Int.MaxValue)), 2),
        sc.parallelize(Seq(Edge(1L, 2L, 1)), 2), Int.MaxValue)
      g.pregel(Int.MaxValue, maxIterations = 2)(
        (_, a, m) => math.min(a, m),
        t => if (t.srcAttr != Int.MaxValue) Iterator((t.dstId, t.srcAttr + 1))
             else Iterator.empty,
        math.min).vertices.count()
      ()
    }
    def execMin(name: String): Double = minMs() {
      forceDf(graft.SparkEntry.queries(name)(spark, dir))
      graft.Scratch.release(spark)
    }
    val depth = execMin("q_graphx_depth")
    val cc = execMin("q_dedup_cc")
    f"""{"minimal_pregel_ms":$minimal%.1f,"q_graphx_depth_ms":$depth%.1f,"q_dedup_cc_ms":$cc%.1f}"""
  }

  private def floorProbe(spark: SparkSession, dir: String): String = {
    val names = Seq("o08_point_lookup", "o14_index_select", "o42_distinct",
      "o29_name_gen", "o11_eq_filter", "o38_count_per_group",
      "o47_topk_per_group", "o34_group_mean")
    names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      fn(spark, dir).queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
      val reps = 5
      var aMs = 0.0; var pMs = 0.0; var eMs = 0.0
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        df.queryExecution.analyzed
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
        val t3 = System.nanoTime()
        aMs += (t1 - t0) / 1e6; pMs += (t2 - t1) / 1e6; eMs += (t3 - t2) / 1e6
      }
      f"""{"q":"$n","analyze_ms":${aMs / reps}%.1f,"plan_ms":${pMs / reps}%.1f,"exec_ms":${eMs / reps}%.1f}"""
    }.mkString("[", ",", "]")
  }

  private def bitsProbe(spark: SparkSession, dir: String, arg: String): String =
    arg.split(",").map(_.trim.toInt).map { b =>
      // cold per width: drop the memoized bucket table
      graft.Scratch.releaseAll()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val pairs = graft.queries.DedupQueries.embedPairsMp(spark, dir, b).count()
      val dt = (System.nanoTime() - t0) / 1e9
      f"""{"bits":$b,"pairs":$pairs,"sec":$dt%.3f}"""
    }.mkString("[", ",", "]")

  /** NSW scale probe (`runMain graft.ScaleProbe <sfDir> nsw`): IVF+NSW
    * build and bounded-walk search timed separately over the dir's
    * embeddings, with recall@10 vs the exact scan of the probed lists.
    * nList grows with the corpus (≈500 vectors/list), so the per-list
    * graph build stays constant-size — the claim SCALE.md records.
    */
  private def nswProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIvf, AnnNsw}
    val emb = graft.Tables.embeddings(spark, dir)
    val n = emb.count()
    val nList = math.max(4, (n / 500).toInt)
    var t0 = System.nanoTime()
    val ivf = AnnIvf.buildIndex(emb, "vec_id", "embedding", nList)
    val nsw = AnnNsw.buildGraph(ivf, m = 8)
    nsw.graph.queryExecution.toRdd.foreachPartition(_ => ())
    val buildS = (System.nanoTime() - t0) / 1e9
    val probes = emb.limit(100).select(col("vec_id").as("pid"), col("embedding"))
      .persist()
    probes.count()
    t0 = System.nanoTime()
    val walk = AnnNsw.topK(nsw, probes, "pid", "embedding",
      k = 10, nProbe = 2, efSearch = 64)
      .select("probe_id", "vec_id").collect().map(_.toSeq).toSet
    val searchS = (System.nanoTime() - t0) / 1e9
    val exact = AnnIvf.topK(ivf, probes, "pid", "embedding",
      k = 10, nProbe = 2)
      .select("probe_id", "vec_id").collect().map(_.toSeq).toSet
    val recallBp = walk.intersect(exact).size * 10000L / math.max(1, exact.size)
    f"""{"n":$n,"nList":$nList,"build_sec":$buildS%.3f,"search_sec":$searchS%.3f,"recall_bp":$recallBp}"""
  }

  /** q_pack_sequences under source skew (r11 — VERDICT r10 perf-weak
    * #2): times the DECLARED bucketed two-level prefix sum against the
    * naive per-source-window formulation it replaced, on the same dir.
    * Run against a `scalegen --single-source` dir for the worst case:
    * every document in ONE source, so the naive window is a single
    * task while the bucketed form fans out across doc_id buckets.
    * min-of-2 per form, full materialization of the identical manifest.
    */
  private def packProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    def minOf2(mk: => org.apache.spark.sql.DataFrame): Double =
      (1 to 2).map { _ =>
        graft.Scratch.releaseAll()
        val t0 = System.nanoTime(); forceDf(mk); (System.nanoTime() - t0) / 1e9
      }.min
    val docs = graft.Tables.documents(spark, dir)
    val nDocs = docs.count()
    val nSrc = docs.select("source").distinct().count()
    val declared = minOf2(graft.SparkEntry.queries("q_pack_sequences")(spark, dir))
    val naive = minOf2 {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      docs.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cum_end", sum("n_tok").over(w))
        .withColumn("cum_start", col("cum_end") - col("n_tok"))
        .withColumn("seq_id", explode(expr(
          "sequence(cum_start DIV 512, (cum_end - 1) DIV 512)")))
        .withColumn("tok_start", greatest(lit(0L), col("seq_id") * 512L - col("cum_start")))
        .withColumn("tok_len",
          least(col("n_tok"), (col("seq_id") + 1L) * 512L - col("cum_start")) - col("tok_start"))
        .select("source", "seq_id", "doc_id", "n_tok", "tok_start", "tok_len")
    }
    f"""{"dir":"$dir","docs":$nDocs,"sources":$nSrc,"declared_sec":$declared%.3f,"naive_window_sec":$naive%.3f}"""
  }

  /** Phase decomposition of q_lm_score (r10 perf hunt): bigram explode
    * vs per-bigram counting vs the final per-doc aggregate.
    */
  private def lmProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
    var t0 = System.nanoTime()
    val docBi = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("bigrams", when(size(col("toks")) >= 2, expr(
        "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .otherwise(expr("CAST(array() AS array<string>)")))
      .select(col("doc_id"), explode(col("bigrams")).as("bigram"))
    val n = docBi.count()
    val explodeS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val cached = docBi.persist(); cached.count()
    val cacheS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nModel = cached.groupBy("bigram").agg(count(lit(1)).as("cnt")).count()
    val modelS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bigram")
    val nW = cached.withColumn("cnt", count(lit(1)).over(w))
      .groupBy("doc_id").agg(sum("cnt")).count()
    val winS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val full = graft.SparkEntry.queries("q_lm_score")(spark, dir)
    full.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
    val fullS = (System.nanoTime() - t0) / 1e9
    cached.unpersist()
    f"""{"n_bigrams":$n,"n_model":$nModel,"n_docs":$nW,"explode_sec":$explodeS%.3f,"cache_sec":$cacheS%.3f,"model_sec":$modelS%.3f,"window_agg_sec":$winS%.3f,"full_sec":$fullS%.3f}"""
  }

  /** r15 lm_score stage attribution over the CURRENT declared shape:
    * (1) bigram emission alone, (2) dm aggregate + persist, (3) model +
    * total, (4) the score join + final agg, (5) full query warm. Each
    * stage re-derives from the one before, barriers between.
    */
  private def lm2Probe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    def wall[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val docs = graft.Tables.documents(spark, dir)
    val docBi = graft.operators.Scans.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(call_function("token_shingles_all", col("text"), lit(2))).as("bigram"))
    val (tBi, nBi) = wall(docBi.count())
    val dm = docBi.groupBy("doc_id", "bigram").agg(count(lit(1)).as("k")).persist()
    val (tDm, nDm) = wall(dm.count())
    val model = dm.groupBy("bigram").agg(sum("k").as("cnt")).persist()
    val (tModel, nModel) = wall(model.count())
    val total = model.agg(sum("cnt").as("total"))
    val scored = dm.join(model, Seq("bigram"))
      .crossJoin(broadcast(total))
      .withColumn("freq_ppb",
        expr("CAST((CAST(cnt AS DECIMAL(28,0)) * 1000000000) DIV total AS BIGINT)"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"), sum(expr("k * freq_ppb")).as("s"))
    val (tScore, nSc) = wall(
      scored.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())))
    val (tFull1, _) = wall(
      graft.SparkEntry.queries("q_lm_score")(spark, dir)
        .queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())))
    graft.Scratch.release(spark)
    val (tFull2, _) = wall(
      graft.SparkEntry.queries("q_lm_score")(spark, dir)
        .queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())))
    dm.unpersist(); model.unpersist()
    // warm A/B of the two emission forms feeding the same dm aggregate
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    def winForm() = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("nxt", lead("tok", 1).over(byDoc))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat(col("tok"), lit(" "), col("nxt")).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("k"))
    def kerForm() = docBi.groupBy("doc_id", "bigram").agg(count(lit(1)).as("k"))
    def runIt(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
    runIt(winForm()); runIt(kerForm()) // warm both
    val tW = (1 to 3).map(_ => wall(runIt(winForm()))._1).min
    val tK = (1 to 3).map(_ => wall(runIt(kerForm()))._1).min
    f"""lm2 @ $dir: bigrams=$nBi%,d dm=$nDm%,d model=$nModel%,d; emit=$tBi%.2f s, dm agg=$tDm%.2f s, model=$tModel%.2f s, score join+agg=$tScore%.2f s, full#1=$tFull1%.2f s, full#2=$tFull2%.2f s, dm-via-window=$tW%.3f s, dm-via-kernel=$tK%.3f s"""
  }

  /** r15 q_outliers_mad stage attribution: scan+repartition+persist,
    * the count/gate action, and the main action, warm reps of the full
    * query after.
    */
  private def madProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    def wall[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def full(): Double = {
      val t = wall(graft.SparkEntry.queries("q_outliers_mad")(spark, dir)
        .queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())))._1
      graft.Scratch.release(spark)
      t
    }
    full() // warm codegen/scan
    val reps = (1 to 5).map(_ => full())
    val e = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(col("event_type")).persist()
    val (tPersist, nE) = wall(e.count())
    val cnts = e.groupBy("event_type").agg(count(lit(1)).as("n"))
    val (tGate, _) = wall(cnts.agg(max(col("n"))).head())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("value"), col("event_id"))
    val ranked = e.withColumn("rn", row_number().over(w))
      .join(broadcast(cnts), Seq("event_type"))
      .filter(expr("rn = (50 * n + 99) DIV 100"))
    val (tRank, _) = wall(
      ranked.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())))
    e.unpersist()
    f"mad @ $dir: full reps=${reps.map(t => f"$t%.2f").mkString(",")} s; " +
      f"persist(e)=$tPersist%.2f s ($nE%,d rows), gate=$tGate%.2f s, one rank pass=$tRank%.2f s"
  }

  /** Phase decomposition of the O-51..O-53 graph build (SCALE.md r10):
    * where does q_graph_build's wall go once the sampled quantizer is
    * in — scaling stats, KMeans train+assign, the driver-side Ward, or
    * the final joins? Replays [[GraphBuild.build]]'s exact steps with a
    * materialization barrier between phases.
    */
  private def graphProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    import graft.operators.clustering.{GraphBuild, TreeOps, Ward}
    val emb = graft.Tables.embeddings(spark, dir)
    var t0 = System.nanoTime()
    val input = emb.persist(); input.count()
    val scaled = input.select(col("vec_id"),
      GraphBuild.scaleFeatures(input, "embedding").as("scaled")).persist()
    scaled.count()
    val scaleS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val (labels, centers) = GraphBuild.microCluster(scaled, "vec_id", "scaled")
    val trainS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val sizes = labels.groupBy("cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val assignS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val tree = TreeOps.rebalance(
      TreeOps.fromDendro(Ward.linkage(centers), sizes), maxDepth = 5, maxFanout = 8)
    val rows = TreeOps.flatten(tree)._1
    val wardS = (System.nanoTime() - t0) / 1e9
    // fingerprint of the centroid doubles: equal across core counts and
    // partitionings when the fit is deterministic
    val centersHash = java.util.Arrays.deepHashCode(centers.asInstanceOf[Array[AnyRef]])
    f"""{"n":${sizes.values.sum},"k":${centers.length},"nodes":${rows.size},"scale_sec":$scaleS%.3f,"kmeans_sec":$trainS%.3f,"assign_sec":$assignS%.3f,"ward_sec":$wardS%.3f,"centers_hash":"$centersHash%08x"}"""
  }

  /** Wall + total shuffle bytes (write/read) of `body`, via a stage
    * listener (r19 — the LPA skew rehearsal's evidence unit).
    */
  private def withShuffleBytes[T](spark: SparkSession)(body: => T): (T, Double, Long, Long) = {
    val wr = new java.util.concurrent.atomic.AtomicLong
    val rd = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          wr.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          rd.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // listener events are async
      (r, wall, wr.get, rd.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** LPA shape skew rehearsal (r19 — VERDICT r18 #6): runs
    * q_graph_communities on `dir` under BOTH join shapes — the gated
    * broadcast(labels) + cache-partitioned aggregation (per-round
    * exchanged rows = partially-aggregated (a,label) counts) and the
    * fallback shuffle-join + repartition(a) (exchanged rows = raw
    * joined edges) — and prints wall + total shuffle bytes for each.
    * Drive it at a hot-label corpus (scalegen --shared-vocab plants
    * cross-replica near-dup clusters) to see what each shape would
    * put on the wire under label skew.
    */
  private def lpaSkewProbe(spark: SparkSession, dir: String): String = {
    // the env override is read inside the query per round; set it via
    // the process env when invoking — here we just measure both runs
    // as configured (caller sets SPARK_GRAFT_LPA_BCAST)
    def run(): (Long, Double, Long, Long) = {
      graft.Scratch.releaseAll()
      withShuffleBytes(spark) {
        graft.SparkEntry.queries("q_graph_communities")(spark, dir)
          .queryExecution.toRdd.count()
      }
    }
    run() // warmup (JIT) — discard
    val (n, wall, wr, rd) = run()
    f"""{"mode":"${sys.env.getOrElse("SPARK_GRAFT_LPA_BCAST", "gate")}","rows":$n,"wall_s":$wall%.2f,"shuffle_write_mb":${wr / 1048576.0}%.1f,"shuffle_read_mb":${rd / 1048576.0}%.1f}"""
  }

  /** Streaming micro-batch floor attribution (r19 — VERDICT r18 #4):
    * runs each streaming twin once and dumps every micro-batch's
    * `StreamingQueryProgress.durationMs` phases (queryPlanning,
    * getBatch/latestOffset, addBatch, walCommit, commitOffsets,
    * triggerExecution) via a listener, so "the state-store commit
    * floor" stops being an assertion and becomes a number per phase.
    */
  private def streamProbe(spark: SparkSession, dir: String): String = {
    import scala.jdk.CollectionConverters._
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")
        lines.synchronized {
          lines += s"""{"q":"${p.name}","batch":${p.batchId},"rows":${p.numInputRows},$d}"""
        }
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // warm the build memos the artifact-dependent twins read
    // (q_stream_ann_serve serves the IVF index): without this the
    // twin's first micro-batch pays the cold build inside addBatch and
    // the published floor attribution misstates the SERVING cost —
    // the same reason Bench orders dependent twins after the builds
    graft.queries.VectorQueries.ivfIndex(spark, dir)
    spark.streams.addListener(listener)
    try {
      val twins = graft.SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
      val walls = twins.map { name =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
        name -> (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(1000) // listener events are async
      val wallsJson = walls.map { case (n, s) => f""""$n":$s%.3f""" }.mkString(",")
      s"""{"walls":{$wallsJson},"batches":[${lines.mkString(",")}]}"""
    } finally spark.streams.removeListener(listener)
  }
}
