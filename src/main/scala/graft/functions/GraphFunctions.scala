package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph connectivity — the clustering step behind near-dup
  * deduplication (and any entity-resolution pass): collapse the verified
  * pair graph into components, keep one canonical row per component.
  */
object GraphFunctions {

  /** Component labels with the SAME two-path shape as
    * [[DedupFunctions.dropByPairGraph]]: a verified near-dup edge set is
    * tiny relative to the corpus (only true near-dups survive
    * verification), so resolve union-find driver-side and broadcast the
    * label map back — zero iterative jobs; past `maxDriverEdges` fall
    * back to distributed [[connectedComponents]]. Returns (id, label),
    * label = smallest id reachable; vertices with no edge label
    * themselves. */
  def componentLabels(vertices: DataFrame, edges: DataFrame,
                      idCol: String = "id",
                      srcCol: String = "src", dstCol: String = "dst",
                      maxIterations: Int = 10,
                      maxDriverEdges: Int = 100_000): DataFrame = {
    val eSel = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // detection fused into the bounded collect (the pageRank discipline):
    // one job either yields the full edge set or proves it too big
    val eRows = eSel.limit(maxDriverEdges + 1).collect()
    if (eRows.length <= maxDriverEdges) {
      val touched = unionFindRoots(eRows.map(r => (r.getLong(0), r.getLong(1))))
      val spark = vertices.sparkSession
      import spark.implicits._
      val labelMap = broadcast(
        spark.createDataset(touched.toIndexedSeq).toDF("id", "label"))
      vertices.select(col(idCol).cast("long").as("id"))
        .join(labelMap, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    } else {
      connectedComponents(vertices.select(col(idCol).cast("long").as("id")),
        eSel.localCheckpoint(true),
        idCol = "id", srcCol = "src", dstCol = "dst",
        maxIterations = maxIterations)
    }
  }

  /** Driver-side union-find over a collected edge list, shared by
    * [[componentLabels]] and [[DedupFunctions.dropByPairGraph]]: returns
    * id → root for every edge endpoint that is not its component's root,
    * root = the smallest id reachable (min-id union, path-compressing
    * find). Roots and ids in no edge are absent. */
  private[functions] def unionFindRoots(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(p => Seq(p._1, p._2)).distinct
      .map(id => (id, find(id))).filter { case (id, root) => id != root }
  }

  /** Dense 0-based ids in `idCol` sort order — the graph-construction
    * step real crawl corpora need before arithmetic id tricks, vid↔id
    * bijections, or array-indexed rank vectors: external ids (URL
    * hashes, doc ids with holes) become contiguous 0..N−1 longs.
    *
    * WITHOUT a single-partition window: the naive
    * `row_number().over(Window.orderBy(id))` plans Exchange
    * SinglePartition — the whole vertex set serializes through one task
    * (at fixture scale milliseconds; at 10⁹ vertices the stage that
    * never finishes). This form range-partitions by `idCol`, sorts
    * within partitions, and assigns per-partition offsets with
    * `zipWithIndex` (ONE extra count job for the offsets — the same
    * distributed-rank shape as [[DedupFunctions.jaccardJoinExact]]'s
    * vocabulary bijection; PlanSpec asserts no single-partition
    * exchange survives in the consumers).
    *
    * The assigned id equals the row's 0-based rank in `idCol` order, so
    * a SQL oracle replays it as `row_number() over (order by id) - 1`.
    * `idCol` values must be DISTINCT (the rank is only a bijection on a
    * set — duplicate keys would take partition-dependent tie order);
    * nulls sort first, same as Spark's sort. Output: input columns +
    * `outCol` (long). */
  def densifyIds(df: DataFrame, idCol: String, outCol: String = "vid"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"densifyIds adds a `$outCol` column and the input already has one — rename it first")
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(col(idCol))
      .sortWithinPartitions(col(idCol))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex()
      .map { case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(rdd, schema)
  }

  /** Connected components by iterative min-label propagation.
    *
    * `edges` is an undirected edge list (src, dst); `vertices` one id per
    * row. Returns (id, label) with label = the smallest id reachable —
    * rows where `id === label` are the component canonicals.
    *
    * Scale shape: each round is one join of the (symmetrized) edge list
    * against the current labels plus a min-aggregation — keys only, no
    * payloads — and `localCheckpoint` truncates the lineage so round R
    * costs O(E) not O(R·E) (superseded checkpoints are released by the
    * ContextCleaner as their references drop). Each round also applies a
    * pointer-jumping step (label ← label-of-label), so convergence is
    * O(log diameter) rounds, not O(diameter) — the default
    * `maxIterations` covers components of diameter ≫ 2^10. The loop
    * exits early on a fixed point and THROWS if the budget is exhausted
    * before convergence rather than returning silently wrong labels.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          idCol: String = "id",
                          srcCol: String = "src", dstCol: String = "dst",
                          maxIterations: Int = 10): DataFrame = {
    // materialize the INPUTS once: the loop touches `sym` every round and
    // `labels` twice per round, and without a checkpoint each touch
    // re-executes (and re-plans) the caller's entire upstream pipeline —
    // for a near-dup pair graph that upstream is the whole corpus scan +
    // signature + bucketed join. O(E)+O(V) executor storage, exactly the
    // standard shape for an iterative algorithm.
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .localCheckpoint(true)
    var labels = vertices.select(col(idCol).as("id"), col(idCol).as("label"))
      .localCheckpoint(true)
    var i = 0
    var converged = false
    while (i < maxIterations && !converged) {
      val neighbourLabels = sym
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("dst_label")).as("min_neighbour"))
      val propagated = labels
        .join(neighbourLabels, labels("id") === neighbourLabels("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("min_neighbour"), col("label"))).as("label"))
      // pointer jumping: label ← label's own label, collapsing chains
      // exponentially (d1–d2–…–dk resolves in O(log k), not O(k) rounds)
      val next = propagated.alias("l")
        .join(propagated.select(col("id").as("p_id"), col("label").as("p_label")),
          col("l.label") === col("p_id"), "left")
        .select(col("l.id").as("id"),
          least(col("l.label"), coalesce(col("p_label"), col("l.label"))).as("label"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .filter(col("label") =!= col("old")).head(1).isEmpty
      labels = next
      i += 1
    }
    if (!converged) {
      converged = {
        val neighbourLabels = sym
          .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), Seq("dst"))
          .groupBy(col("src")).agg(min(col("dst_label")).as("min_neighbour"))
        labels.join(neighbourLabels, labels("id") === neighbourLabels("src"), "left")
          .filter(col("min_neighbour") < col("label")).head(1).isEmpty
      }
      require(converged,
        s"connectedComponents did not converge in $maxIterations rounds — " +
          "raise maxIterations (labels would be silently wrong)")
    }
    labels
  }

  /** PageRank by power iteration — crawl prioritization (which hosts or
    * pages deserve fetch budget, the Common-Crawl frontier-ranking role)
    * and link-based corpus quality weighting.
    *
    *   rank₀(v)     = 1/N
    *   rankᵢ₊₁(v)   = (1−d)/N + d·( Σ_{u→v} rankᵢ(u)/outdeg(u)
    *                                + danglingᵢ/N )
    *
    * where danglingᵢ is the total rank sitting on vertices with no
    * out-edges, redistributed uniformly — total rank stays exactly 1, so
    * ranks are comparable across graphs. A FIXED `iterations` count (not
    * a convergence test) keeps the result deterministic and lets the SQL
    * oracle replay the same unrolled rounds. Parallel edges contribute
    * once each (a page linking twice votes twice); self-loops are the
    * caller's choice to keep or drop. Edges must reference known
    * vertices: rank flowing to a dst absent from `vertices` would be
    * DROPPED and mass conservation would quietly fail, so the contract is
    * ENFORCED by default — one anti-join at construction (one extra job
    * next to the existing vertex count) throws on any edge endpoint
    * absent from `vertices`, the same loud-failure discipline as
    * [[connectedComponents]]'s convergence require. Callers that
    * deliberately rank a subgraph (edges pointing at pages they chose not
    * to model) opt into the documented mass leak with
    * `allowGhostVertices = true`.
    *
    * Scale shape: out-degrees are computed ONCE and folded into the edge
    * list as per-edge weights (contribution = rank·w), so each round is
    * one src-keyed join of 8-byte ranks against the checkpointed edge
    * list, one dst-keyed sum, and a vertex left-join — payloads never
    * exceed (id, double). The dangling mass is a one-row aggregate
    * cross-joined back (no driver round-trip per iteration), and
    * `localCheckpoint` truncates lineage so round R plans O(E), not
    * O(R·E). Returns (id, rank).
    *
    * WARM START (`initialRanks`): an incremental crawl re-ranks a grown
    * graph every batch, and starting the power iteration from the
    * PREVIOUS rank vector instead of uniform reaches the same fixed
    * point in far fewer rounds (the iteration is a contraction at rate
    * `damping`). `initialRanks` is (id, rank); vertices it misses — the
    * NEW pages of the batch — default to 1/N, rows for ids not in
    * `vertices` are ignored. The contract is exact chaining on an
    * unchanged graph: `pageRank(init = pageRank(uniform, k), m)` ≡
    * `pageRank(uniform, k+m)` bit-for-bit (q205's oracle replays all
    * k+m rounds; FunctionsSpec pins the identity). Total input mass
    * need not be exactly 1 — each round pulls the total toward 1
    * geometrically (the (1−d) term is mass-independent) — EXCEPT on
    * the `tolerance` path, where the init is renormalized to mass 1:
    * the mass excess of a grown graph decays at exactly rate `damping`
    * and would otherwise floor the L1-delta stop far above the shape's
    * actual convergence (see [[pageRankWithRounds]]). */
  def pageRank(vertices: DataFrame, edges: DataFrame,
               idCol: String = "id",
               srcCol: String = "src", dstCol: String = "dst",
               iterations: Int = 10, damping: Double = 0.85,
               allowGhostVertices: Boolean = false,
               initialRanks: Option[DataFrame] = None,
               tolerance: Option[Double] = None,
               maxDriverEdges: Int = 200_000): DataFrame =
    pageRankWithRounds(vertices, edges, idCol, srcCol, dstCol, iterations,
      damping, allowGhostVertices, initialRanks, tolerance, maxDriverEdges)._1

  /** [[pageRank]] plus the number of rounds actually executed — the
    * observable that makes the warm-start payoff measurable (a warm
    * vector converges in fewer rounds than uniform; FunctionsSpec pins
    * it, SCALE.md r19 measures it).
    *
    * CONVERGENCE EARLY-EXIT (`tolerance`): when set, each round pays one
    * extra aggregate — the L1 delta ‖r_t − r_{t−1}‖₁ — and the loop
    * stops as soon as it drops below `tolerance` (capped at
    * `iterations`, which becomes the round BUDGET rather than the exact
    * count). The fixed-round form (`tolerance = None`, the default)
    * stays the deterministic oracle twin: an early-exit result is
    * within `tolerance` L1 of wherever more rounds would land (the
    * iteration contracts at rate `damping`), but the ROUND COUNT a given
    * tolerance yields depends on a float sum whose addend order is
    * partition-dependent — so oracled queries pin fixed rounds, and
    * tolerance is for production re-ranks where "converged" beats
    * "bit-reproducible round count". */
  def pageRankWithRounds(vertices: DataFrame, edges: DataFrame,
               idCol: String = "id",
               srcCol: String = "src", dstCol: String = "dst",
               iterations: Int = 10, damping: Double = 0.85,
               allowGhostVertices: Boolean = false,
               initialRanks: Option[DataFrame] = None,
               tolerance: Option[Double] = None,
               maxDriverEdges: Int = 200_000): (DataFrame, Int) = {
    tolerance.foreach(t => require(t > 0, s"tolerance must be > 0, got $t"))
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0, 1), got $damping")
    val vSel = vertices.select(col(idCol).cast("long").as("id"))
    val eSel = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    // Small-graph fast path, the [[componentLabels]] discipline: below
    // `maxDriverEdges` vertices+edges the whole iteration is driver-side
    // maps over two bounded collects — zero per-round Spark jobs where
    // the distributed loop pays one checkpointed join+aggregate job per
    // round of pure fixed overhead (measured 0.35–0.45 s/round at
    // local[32] on a 5k-vertex graph whose arithmetic costs
    // microseconds). The detection IS the collect: limit(bound+1) either
    // returns ≤ bound rows (which are then the exact vertex/edge sets —
    // no separate count, checkpoint or re-collect jobs; r19 measured the
    // old shape spending ~6 eager jobs per call on a graph whose driver
    // loop runs in microseconds) or proves the side too big with one
    // bounded job and falls through. The arithmetic mirrors the
    // distributed path operation-for-operation (same dangling
    // redistribution, same ghost contract, same warm-init merge and
    // tolerance renormalization), so results agree to float-addend
    // order — inside the round-6 contract every oracled consumer pins
    // (FunctionsSpec pins driver ≡ distributed directly). Past the
    // bound, the distributed loop below is the 100 TB path, unchanged —
    // note (ADVICE r19) the over-bound path pays the probe's bounded
    // collect (≤ bound+1 rows, CollectLimit short-circuits) and then
    // re-evaluates the vertex/edge pipelines into the checkpoints: one
    // extra bounded scan, the deliberate price of making detection free
    // for the small-graph regime every bench/oracle caller is in.
    val vRows = vSel.limit(maxDriverEdges + 1).collect()
    if (vRows.length <= maxDriverEdges) {
      require(vRows.nonEmpty, "pageRank needs at least one vertex")
      val eRows = eSel.limit(maxDriverEdges + 1).collect()
      if (eRows.length <= maxDriverEdges)
        return pageRankOnDriver(vertices.sparkSession, vRows, eRows,
          iterations, damping, allowGhostVertices, initialRanks, tolerance)
    }
    val v = vSel.localCheckpoint(true)
    val n = v.count()
    require(n > 0, "pageRank needs at least one vertex")
    val e = eSel.localCheckpoint(true)
    if (!allowGhostVertices) {
      // null endpoints (a non-numeric src/dst the cast nulled) never
      // equi-join, so they survive the anti-join too — render them as
      // "null" instead of letting getLong NPE past the contract message
      val ghosts = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id")))
        .join(v, Seq("id"), "left_anti")
        .limit(5).collect()
        .map(r => if (r.isNullAt(0)) "null" else r.getLong(0).toString)
        .distinct
      require(ghosts.isEmpty,
        s"pageRank: edge endpoints absent from vertices (e.g. ${ghosts.mkString(", ")}) " +
          "— rank flowing to a ghost dst is dropped and total rank quietly falls " +
          "below 1. Include every link endpoint as a vertex (or pre-filter the " +
          "edge list); pass allowGhostVertices = true to accept the mass leak.")
    }
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val weighted = e
      .join(deg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w"))
      .localCheckpoint(true)
    // static dangling flag folded into the vertex table (and carried in
    // the rank vector): the per-round dangling mass becomes a filter+sum
    // scan of the previous vector instead of an anti-join against a
    // separate out-degree table — one fewer checkpoint at setup, and the
    // per-round dangling sub-job drops its join stages. (An alternative
    // that persist()ed the loop's tables to carry hash partitioning
    // across rounds — removing the per-round join exchanges outright —
    // was measured and reverted: nested InMemoryRelation plans grow one
    // level per round, and Spark's per-action plan-string machinery
    // (AQE listener updates) goes super-linear in that nesting, burning
    // minutes of driver CPU by round ~40 and OOMing on plan strings.
    // Checkpoint leaves keep every round's plan O(1); the contribution
    // join's exchanges remain, which AQE broadcast-optimizes at small
    // scale, and at cluster scale are the honest per-round cost of
    // DataFrame-API power iteration.)
    val vd = v
      .join(deg.select(col("src").as("id"), lit(true).as("__out")), Seq("id"), "left")
      .select(col("id"), col("__out").isNull.as("__dang"))
      .localCheckpoint(true)
    var ranks = (initialRanks match {
      case None => vd.select(col("id"), lit(1.0 / n).as("rank"), col("__dang"))
      case Some(init) =>
        // vertices the prior vector misses (new pages) start uniform;
        // prior rows for ids no longer in `vertices` drop with the join
        val merged = vd
          .join(init.select(col("id").cast("long").as("id"),
            col("rank").cast("double").as("__init_rank")), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("__init_rank"), lit(1.0 / n)).as("rank"),
            col("__dang"))
        if (tolerance.isDefined) {
          // TOLERANCE PATH ONLY: renormalize the warm vector to total
          // mass 1. A grown graph's merged init sums to ~1 + newN/n, and
          // that mass excess decays at EXACTLY rate `damping` — its
          // contribution to the per-round L1 delta floors at
          // (1−d)·ε₀·d^(t−1), so an un-renormalized warm start needs
          // ~log(tol)/log(d) rounds to silence it even when the SHAPE
          // converged in a handful (measured: 89 warm vs 24 cold rounds
          // at 2M vertices, tol 1e-8 — SCALE.md
          // r19). One extra aggregate at init fixes it. The fixed-round
          // path keeps the raw vector: q205's oracle contract is exact
          // chaining (init = round-k vector ⇒ ≡ k+m uniform rounds
          // bit-for-bit), which renormalization would break.
          val total = merged.agg(sum(col("rank")).as("m"))
          merged.crossJoin(broadcast(total))
            .select(col("id"), (col("rank") / col("m")).as("rank"),
              col("__dang"))
        } else merged
    }).localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (rounds < iterations && !converged) {
      // dangling mass: rank on the flagged vertices, as ONE row — a
      // filter+sum scan of the checkpoint leaf (no join), broadcast back
      // into the round's single action
      val dangling = ranks.filter(col("__dang"))
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dang"))
      val contrib = weighted
        .join(ranks.select(col("id").as("src"), col("rank")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") * col("w")).as("in_rank"))
      val next = vd
        .join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit((1.0 - damping) / n) + lit(damping)
            * (coalesce(col("in_rank"), lit(0.0)) + col("dang") / lit(n.toDouble)))
            .as("rank"),
          col("__dang"))
        .localCheckpoint(true)
      rounds += 1
      // L1 delta vs the previous vector — one keys-only join + aggregate
      // per round, paid ONLY when a tolerance is requested (the
      // fixed-round oracle path stays action-free inside the loop)
      if (tolerance.isDefined && rounds < iterations) {
        val delta = next
          .join(ranks.select(col("id"), col("rank").as("__prev")), Seq("id"))
          .agg(sum(abs(col("rank") - col("__prev"))).as("d"))
          .head().getDouble(0)
        converged = delta < tolerance.get
      }
      ranks = next
    }
    (ranks.select(col("id"), col("rank")), rounds)
  }

  /** The small-graph driver loop behind [[pageRankWithRounds]]: the same
    * power iteration over two collected arrays, mirroring the distributed
    * path operation-for-operation — deg counts EVERY edge row per
    * non-null src (ghost/null dsts included, exactly like the groupBy);
    * a cast-nulled vertex id joins nothing, so it is dangling and
    * receives only the teleport + dangling terms; ghost-src edges
    * contribute nothing (their src has no rank row); ghost-dst
    * contributions drop (the vertex re-attach is a left join); warm-init
    * rows with unknown ids are ignored, null init ranks default to 1/n,
    * and the tolerance path renormalizes the merged init to mass 1.
    * Returns a LocalRelation, so downstream joins see an honest (small)
    * size estimate instead of a checkpoint's unknown. */
  private def pageRankOnDriver(spark: org.apache.spark.sql.SparkSession,
      vRows: Array[org.apache.spark.sql.Row],
      eRows: Array[org.apache.spark.sql.Row],
      iterations: Int, damping: Double, allowGhostVertices: Boolean,
      initialRanks: Option[DataFrame], tolerance: Option[Double])
      : (DataFrame, Int) = {
    val n: Long = vRows.length.toLong
    val ids: Array[java.lang.Long] = vRows.map(r =>
      if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))
    val edgePairs: Array[(java.lang.Long, java.lang.Long)] = eRows.map { r =>
      (if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
        if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))
    }
    val index = new java.util.HashMap[java.lang.Long, Int](ids.length * 2)
    for (j <- ids.indices; if ids(j) != null) index.put(ids(j), j)
    if (!allowGhostVertices) {
      val ghosts = edgePairs.iterator
        .flatMap(p => Iterator(p._1, p._2))
        .filter(x => x == null || !index.containsKey(x))
        .map(x => if (x == null) "null" else x.toString)
        .distinct.take(5).toSeq
      require(ghosts.isEmpty,
        s"pageRank: edge endpoints absent from vertices (e.g. ${ghosts.mkString(", ")}) " +
          "— rank flowing to a ghost dst is dropped and total rank quietly falls " +
          "below 1. Include every link endpoint as a vertex (or pre-filter the " +
          "edge list); pass allowGhostVertices = true to accept the mass leak.")
    }
    val deg = new java.util.HashMap[java.lang.Long, Long]()
    for ((s, _) <- edgePairs; if s != null)
      deg.merge(s, 1L, (a, b) => a + b)
    val dangFlag: Array[Boolean] =
      ids.map(id => id == null || !deg.containsKey(id))
    val srcIdx = edgePairs.map(p =>
      if (p._1 == null) -1 else index.getOrDefault(p._1, -1))
    val dstIdx = edgePairs.map(p =>
      if (p._2 == null) -1 else index.getOrDefault(p._2, -1))
    val w = edgePairs.map(p =>
      if (p._1 == null) 0.0 else 1.0 / deg.get(p._1))
    var ranks: Array[Double] = initialRanks match {
      case None => Array.fill(ids.length)(1.0 / n)
      case Some(init) =>
        val m = new java.util.HashMap[java.lang.Long, java.lang.Double]()
        init
          .select(col("id").cast("long").as("id"),
            col("rank").cast("double").as("rank"))
          .collect().foreach { r =>
            if (!r.isNullAt(0))
              m.put(r.getLong(0),
                if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)))
          }
        val merged = ids.map { id =>
          val x = if (id == null) null else m.get(id)
          if (x == null) 1.0 / n else x.doubleValue()
        }
        if (tolerance.isDefined) {
          val total = merged.sum
          merged.map(_ / total)
        } else merged
    }
    var rounds = 0
    var converged = false
    while (rounds < iterations && !converged) {
      var dang = 0.0
      var j = 0
      while (j < ids.length) { if (dangFlag(j)) dang += ranks(j); j += 1 }
      val in = new Array[Double](ids.length)
      var k = 0
      while (k < edgePairs.length) {
        val si = srcIdx(k); val di = dstIdx(k)
        if (si >= 0 && di >= 0) in(di) += ranks(si) * w(k)
        k += 1
      }
      val next = new Array[Double](ids.length)
      j = 0
      while (j < ids.length) {
        next(j) = (1.0 - damping) / n + damping * (in(j) + dang / n)
        j += 1
      }
      rounds += 1
      if (tolerance.isDefined && rounds < iterations) {
        var delta = 0.0
        j = 0
        while (j < ids.length) { delta += math.abs(next(j) - ranks(j)); j += 1 }
        converged = delta < tolerance.get
      }
      ranks = next
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
    for (j <- ids.indices)
      rows.add(org.apache.spark.sql.Row(ids(j), ranks(j)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    (spark.createDataFrame(rows, schema), rounds)
  }
}
