package graft

import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Plan-quality regression gate: the properties that make these queries
  * scale are asserted on the optimized plans, so a refactor that silently
  * loses pushdown/broadcast/top-k fails CI, not the 100 TB run.
  */
class PlanSpec extends SparkSpec {

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sf0001).queryExecution
      .explainString(FormattedMode)

  private def simplePlanOf(q: String): String =
    SparkEntry.queries(q)(spark, sf0001).queryExecution
      .explainString(SimpleMode)

  test("q01: filter pushed to parquet scan + column pruning") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_partkey"), "pruned columns must not be read")
  }

  test("q01/q21: hot paths run inside whole-stage codegen") {
    for (q <- Seq("q01_pricing_summary", "q21_band_expr")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      df.collect() // drive THIS query execution's AQE to its final plan
      val p = df.queryExecution.executedPlan.toString
      // codegen'd operators print as "*(id) Op" in the final adaptive plan
      assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
        s"$q must keep a whole-stage-codegen span:\n$p")
    }
  }

  test("q02: conjunctive predicates all pushed") {
    val p = planOf("q02_conj_filter")
    assert(p.contains("EqualTo(l_returnflag,R)"))
    assert(p.contains("GreaterThanOrEqual(l_quantity,30.0)"))
  }

  test("q03: broadcast joins + top-k as TakeOrderedAndProject (no global sort)") {
    val p = planOf("q03_top_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"), "small dims must broadcast at this scale")
  }

  test("q03: segment semi-join restricts lineitem before the revenue aggregation") {
    val p = simplePlanOf("q03_top_revenue")
    // filter-first shape: the lineitem⋈orders join sits BELOW the revenue
    // aggregate (plan lists operators above their inputs), so the agg input
    // is already segment-filtered; the orders restriction is a semi-join.
    val aggIdx = p.indexOf("partial_sum")
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(p.contains("LeftSemi"), "orders must be restricted via semi-join")
    assert(aggIdx > 0 && joinIdx > 0 && joinIdx > aggIdx,
      "revenue aggregation must consume the join output (join listed above the agg)")
  }

  test("q07: anti-join broadcasts the membership side") {
    val p = planOf("q07_anti_join")
    assert(p.contains("BroadcastHashJoin LeftAnti"))
  }

  test("q28: ANN top-k is a narrow scan + TakeOrderedAndProject") {
    val p = simplePlanOf("q28_ann_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange"), "brute-force ANN must not shuffle")
  }

  test("q43: bucket-local near-dup pairs materialize exactly one shuffle") {
    val df = SparkEntry.queries("q43_neardup_pairs")(spark, sf0001)
    df.collect() // drive AQE to the final physical plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the band-key regroup, the bucket-size window, and both sides of the
    // oversized-key join path all consume ONE materialized exchange — the
    // window/regroup/join partitionings line up, so everything beyond the
    // first shuffle write is a ReusedExchange (or reused shuffle read)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"the band-key regroup must be the only materialized hash shuffle:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoop"),
      "no broadcast side-channel: the oversized-key path must reuse the band-key partitioning")
  }

  test("q176-shape: hamming band join = one band-key shuffle + one pair-dedup shuffle") {
    import spark.implicits._
    val sigs = (0L until 400L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("id", "sig")
    val df = graft.functions.DedupFunctions
      .neardupPairsByHamming64(sigs, "sig", "id", Nil, bands = 8, maxDistance = 4)
    df.collect() // drive AQE to the final physical plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the band-key regroup (window + bucket groupBy + both oversized-key
    // join sides all consume it — ReusedExchange) plus the final pair
    // distinct (over O(pairs) rows, tiny against the corpus) — nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"only the band regroup and the pair distinct may shuffle:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      "the oversized-key path must reuse the band-key partitioning")
  }

  test("q53: blocked all-pairs scoring shuffles once (block regroup), joins blocks not rows") {
    val df = SparkEntry.queries("q53_emb_neighbors")(spark, sf0001)
    df.collect() // drive AQE to the final physical plan
    // the adaptive plan string appends the pre-AQE "Initial Plan" — only
    // the final section reflects what actually ran
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // both self-join sides plan the same block regroup; at runtime the
    // second one must resolve to a ReusedExchange, leaving ONE real shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    val reused = p.contains("ReusedExchange")
    assert(exchanges == 1 || (exchanges == 2 && reused),
      s"the block regroup must be the only materialized hash shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "block pairs join via broadcast nested loop (O((n/B)²) rows)")
  }

  test("q56: keyset pagination pushes the key predicate and avoids a global sort") {
    val p = planOf("q56_keyset_page")
    assert(p.contains("GreaterThan(o_orderkey,30)"), "keyset predicate must reach the scan")
    assert(p.contains("TakeOrderedAndProject"), "deep pages must be per-partition top-k")
  }

  test("q24: dedup groups is one hash-shuffle with partial aggregation") {
    val p = simplePlanOf("q24_exact_dup_groups")
    // partial_count before the exchange = map-side combine
    assert(p.contains("partial_count"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
  }

  test("q86: decontamination joins are broadcast-only — the corpus payload never shuffles") {
    val df = SparkEntry.queries("q86_decontaminate")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"benchmark grams and contaminated ids must broadcast, not shuffle the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"), "the n-gram probe is a broadcast hash join")
  }

  test("q89: knn join partial-aggregates the top-k buffer before its one exchange") {
    val df = SparkEntry.queries("q89_knn_join")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"bounded top-k buffer must run as a typed aggregate:\n$p")
    assert(!p.contains("SortMergeJoin"), "query set must broadcast")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"one exchange on q_id, carrying <= k pairs per (partition, query):\n$p")
  }

  test("q90: span dedup stays at its two-exchange minimum (regroup + reassembly)") {
    val df = SparkEntry.queries("q90_span_dedup")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"span dedup is keep-first regroup + per-doc reassembly — two shuffles, no more:\n$p")
  }

  test("q127: weighted sample is a per-task heap, the corpus never sorts or shuffles") {
    val p = simplePlanOf("q127_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), s"the ES priority is scan-side arithmetic:\n$p")
  }

  test("q128: the KLL sketch partial-aggregates its buffer before one exchange") {
    val df = SparkEntry.queries("q128_quantile_sketch")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"per-source sketch: one source-keyed shuffle of ≤k·H-double partials:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "typed aggregator must partial-aggregate map-side")
  }

  test("q129/q133: audit aggregates collapse to bucket/cell tables before any join") {
    // drift: two bucket histograms; chi2: one pair-keyed aggregate — in
    // both, the corpus crosses exchanges only as grouped partials
    for (q <- Seq("q129_drift_psi", "q133_chi2")) {
      val p = simplePlanOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin") || q == "q133_chi2",
        s"$q must not nested-loop corpus rows:\n$p")
      assert(p.contains("HashAggregate"), s"$q must pre-aggregate:\n$p")
    }
  }

  test("q132/q138: substring dedup exchanges carry digests and positions, never text") {
    for (q <- Seq("q132_repeated_spans", "q138_cut_spans")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      // every hash exchange key set must be digest/doc/position columns —
      // the raw text column never appears in an exchange's partitioning
      val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(exchanges.nonEmpty)
      assert(!exchanges.exists(_.contains("text")),
        s"$q shuffles must be keyed on digests/ids/positions, not text: $exchanges")
      // digest counts must be a partial-aggregating groupBy + join, NEVER
      // a window partitioned by the digest: a window partition cannot
      // partial-aggregate and AQE cannot split it, so one viral
      // boilerplate digest would land on a single task at 100 TB
      assert(!"windowspecdefinition\\(g#".r.findFirstIn(p).isDefined,
        s"$q must not run a window keyed on the window digest:\n$p")
    }
  }

  test("q141: incremental cut exchanges carry digests/ids/positions, never text; no digest window") {
    val df = SparkEntry.queries("q141_incremental_cut")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")),
      s"q141 shuffles must be keyed on digests/ids/positions, not text: $exchanges")
    assert(!"windowspecdefinition\\(g#".r.findFirstIn(p).isDefined,
      s"q141 must not run a window keyed on the window digest:\n$p")
  }

  test("q144: the top-K vocabulary is a TakeOrdered pass and broadcasts back") {
    val p = simplePlanOf("q144_oov_rate")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocabulary selection must be per-partition top-K, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary membership must broadcast onto the token stream:\n$p")
  }

  test("q149: the global prefix sum never converges on one partition") {
    val df = SparkEntry.queries("q149_seq_pack")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the naive formulation is sum().over(Window.orderBy(id)) — Exchange
    // SinglePartition; the bucketed form must not plan one anywhere
    // (the final .orderBy is rangepartitioning, which is fine)
    assert(!p.contains("Exchange SinglePartition"),
      s"the offset computation must stay bucket-parallel:\n$p")
    assert(p.contains("windowspecdefinition(bk#"),
      s"the within-bucket window must be keyed by the bucket:\n$p")
  }

  test("q115: no single-partition stage — vocabulary rank/order is distributed") {
    val df = SparkEntry.queries("q115_jaccard_join")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the old global-rank shape planned Exchange SinglePartition + a
    // partition-less window over the whole vocabulary; the (df, term)
    // lexicographic prefix order and the zipWithIndex rank assignment
    // need neither — every exchange stays hash/range partitioned
    assert(!p.contains("Exchange SinglePartition"),
      s"q115 must not converge any stage on one partition:\n$p")
  }

  test("q135: collocation dictionaries broadcast back — the corpus never shuffles rows") {
    val p = simplePlanOf("q135_collocations")
    assert(p.contains("BroadcastHashJoin"),
      s"unigram dictionary must broadcast onto the bigram table:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q91: cross-corpus near-dup joins on band keys, never a nested loop") {
    val df = SparkEntry.queries("q91_cross_neardup")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("NestedLoop"),
      s"candidate generation must be the band-key equi-join, not a cross product:\n$p")
  }

  test("q98: the z-ordered read pushes BOTH range predicates to the parquet scan") {
    val p = planOf("q98_zorder_skip")
    // the whole point of the layout: both dimensions' filters reach the
    // scan so parquet row-group stats can prune on each
    assert(p.contains("GreaterThanOrEqual(user_id"), s"user_id range must push:\n$p")
    assert(p.contains("GreaterThanOrEqual(ts"), s"ts range must push:\n$p")
    assert(p.contains("LessThanOrEqual(user_id") && p.contains("LessThanOrEqual(ts"))
  }

  test("q99: heavy hitters partial-aggregates the bounded MG buffer before its exchange") {
    val df = SparkEntry.queries("q99_heavy_hitters")(spark, sf0001)
    val p = df.queryExecution.explainString(SimpleMode)
    // typed-Aggregator aggregation plans as ObjectHashAggregate; the
    // map-side partial is what bounds the shuffle at <= k entries per task
    assert(p.contains("ObjectHashAggregate"), s"MG must run as ObjectHashAggregate:\n$p")
    val firstAgg = p.linesIterator.filter(_.contains("ObjectHashAggregate")).toSeq.last
    assert(firstAgg.contains("partial_"),
      s"the scan-side aggregate must be a PARTIAL (map-side combine):\n$p")
  }

  test("native search_sorted and pq_encode stay inside whole-stage codegen") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // repartition first: over a bare local Seq the optimizer folds the
    // whole projection into a LocalTableScan and no codegen stage exists
    val df = (1 to 100).map(_.toDouble).toDF("v").repartition(2)
      .select(graft.expr.NativeFunctions.search_sorted(col("v"), Array(10.0, 50.0)).as("b"))
    df.collect()
    val p1 = df.queryExecution.executedPlan.toString
    assert(p1.contains("*(1)"), s"search_sorted must not fall back to interpreted:\n$p1")

    val emb = (0 until 10).map(i => (i.toLong, Array.fill(8)(i.toFloat))).toDF("id", "e")
      .repartition(2)
      .select(graft.expr.NativeFunctions.pq_encode(col("e"),
        Array.fill(2 * 4 * 4)(0.5f), m = 2, k = 4, subDim = 4).as("c"))
    emb.collect()
    val p2 = emb.queryExecution.executedPlan.toString
    assert(p2.contains("*(1)"), s"pq_encode must not fall back to interpreted:\n$p2")
  }

  test("dynamic partition pruning fires on a partitioned fact × filtered dim join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fact partitioned by the join key (the TableLayout month/stage shape);
    // the dim filter is only known at run time — DPP turns it into a
    // partition filter on the fact scan instead of a full scan + join
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    catalog.Tables.events(spark, sf0001)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real source scan (a LocalRelation never triggers
    // the rule — verified), mirroring production where dims are tables
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    Seq(("purchase", "yes"), ("error", "yes"), ("click", "no"),
      ("view", "no"), ("signup", "no")).toDF("event_type", "keep")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.filter($"keep" === "yes"), Seq("event_type"))
    val p = joined.queryExecution.explainString(FormattedMode)
    assert(p.contains("dynamicpruning"),
      s"fact scan must carry a dynamic partition filter:\n$p")
  }

  test("bloom-filter runtime join pruning fires for selective non-broadcast joins") {
    import org.apache.spark.sql.functions._
    // at cluster scale a selective dim filter on a shuffle join injects a
    // bloom filter on the fact side, discarding non-joining rows before the
    // exchange; thresholds are size-gated, so pin them down to fire at
    // fixture scale and assert the rule rewrites the plan
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val l = catalog.Tables.lineitem(spark, sf0001)
      val o = catalog.Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      val p = joined.queryExecution.explainString(FormattedMode)
      assert(p.contains("might_contain"),
        s"fact side must be pre-filtered by the runtime bloom filter:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q180/q181: sketch stays in whole-stage codegen; pairing is the band equi-join") {
    val d180 = SparkEntry.queries("q180_emb_sketch")(spark, sf0001)
    d180.collect()
    val p180 = d180.queryExecution.executedPlan.toString
    assert(p180.contains("rhp_sketch64"), s"native expression must appear:\n$p180")
    // the sketch evaluates inside a codegen stage (starred operators),
    // not an interpreted fallback project
    assert(p180.contains("*(1)"), s"rhp_sketch64 must not fall back to interpreted:\n$p180")
    val df = SparkEntry.queries("q181_emb_sketch_neardup")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"sketch near-dup must pair inside band buckets, never a cross product:\n$p")
  }

  test("q198/q199: lifecycle and rank-frontier compose equi-joins only, no cartesian") {
    for (q <- Seq("q198_crawl_lifecycle", "q199_rank_frontier")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      df.collect() // drive AQE to the final physical plan
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"$q: plan x fixture and rank x frontier must join on keys, never cross:\n$p")
    }
  }

  test("q183: incremental crawl probes broadcast the batch — the indices never exchange") {
    val s = spark
    import org.apache.spark.sql.functions._
    // representative probe plan: a 3-row batch against the q183 state's
    // persisted text index (the corpus side must stream under a
    // broadcast join, the batch side being the broadcast)
    val state = java.nio.file.Files.createTempDirectory("planspec-crawl").toString
    val warc = graft.sources.Warc.readWarc(s, {
      val dir = java.nio.file.Files.createTempDirectory("planspec-warc")
      val in = getClass.getResourceAsStream("/graft/warc/tiny.warc.gz")
      val bytes = try in.readAllBytes() finally in.close()
      java.nio.file.Files.write(dir.resolve("tiny.warc.gz"), bytes)
      dir.toString
    })
    val p = graft.functions.CrawlFunctions.CrawlParams()
    graft.functions.CrawlFunctions.initCrawlState(s, state,
      warc.filter(col("record_index") <= 12), p)
    val probe = graft.functions.DedupFunctions.probeLshIndex(s,
      s"$state/text_index",
      warc.filter(col("record_index") <= 3)
        .filter(col("http_content_type").startsWith("text/html"))
        .select((col("record_index").cast("long") + lit(1000L)).as("rid"),
          graft.functions.HtmlFunctions.mainText(col("payload").cast("string")).as("mt")),
      "mt", "rid", p.shingleN, p.minhashBands, p.rowsPerBand, p.jaccardThreshold)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"the batch side must broadcast against the index scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the index must never exchange for a batch probe:\n$plan")
  }

  test("quicklookScenes: dims join broadcasts — pixel rows never sort-merge") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the dims aggregate has no size stats; without the explicit hint the
    // planner SMJs the megabyte-sized pixel rows (measured 50× the wall)
    val scene = Seq(("P1", "B04", 8, 8, -9999.0, Array.tabulate(64)(_.toFloat)),
      ("P1", "B03", 8, 8, -9999.0, Array.tabulate(64)(_.toFloat)),
      ("P1", "B02", 8, 8, -9999.0, Array.tabulate(64)(_.toFloat)))
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
    val tiles = raster.SceneIO.tileScene(scene, 4, 4)
    val dir = java.nio.file.Files.createTempDirectory("qlplan")
    val manifest = raster.SceneIO.quicklookScenes(tiles, ("B04", "B03", "B02"),
      dir.toString, qlH = 8, qlW = 8)
    val p = manifest.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), s"dims join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"pixel rows must never be sorted for the dims lookup:\n$p")
  }

  /** Expression nodes of an analyzed plan, subqueries included. */
  private def exprNodes(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    plan.collectWithSubqueries { case p => p.expressions.map(_.collect { case e => e }.size).sum }
      .sum

  test("canonicalizeUrl(resolveUrl(a, b)) analyzes to a handful of nodes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(("http://h.ex/a/b", "../c")).toDF("a", "b")
      .select(graft.functions.UrlFunctions.canonicalizeUrl(
        graft.functions.UrlFunctions.resolveUrl(col("a"), col("b"))).as("u"))
    // the Column-chain form of this expression analyzed to 32,178 nodes;
    // count the select's own expression, not the relation under it
    val n = df.queryExecution.analyzed.expressions.map(_.collect { case e => e }.size).sum
    assert(n < 10, s"canonicalizeUrl(resolveUrl(a, b)) analyzed to $n nodes")
  }

  test("every query builder's analyzed plan stays under 5,000 expression nodes (sf0.01)") {
    // Expression trees that re-read their input multiply under nesting;
    // Catalyst then re-analyzes, re-optimizes and re-plans them at every
    // action and eager cut. The largest plan measured 4,296 nodes (q171)
    // when this bound was set. Plans cut by localCheckpoint count from
    // the cut only.
    val bound = 5000
    val over = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (q, build) =>
      val n = exprNodes(build(spark, "/root/testdata/sf0.01").queryExecution.analyzed)
      if (n > bound) Some(s"$q: $n nodes") else None
    }
    assert(over.isEmpty, s"analyzed plans over $bound expression nodes:\n${over.mkString("\n")}")
  }
}
