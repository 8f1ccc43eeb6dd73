package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design: brute-force scoring is a narrow projection (no shuffle)
  * against a broadcast query vector — at 100 TB the cost is the scan. Top-k
  * is per-partition top-k + a single driver merge (`orderBy.limit` compiles
  * to TakeOrderedAndProject — no global sort materialization). The LSH
  * variant prunes the scan with a bucket equality filter; the IVF variant
  * prunes by nearest-centroid assignment with the centroid table broadcast.
  */
object SimilarityFunctions {

  /** Dot product of two array<float/double> columns — native codegen'd
    * expression ([[graft.expr.DotProductExpr]]): primitive loop over the
    * array buffers, no per-element lambda interpretation. */
  def dot(a: Column, b: Column): Column =
    graft.expr.NativeFunctions.dot_product(a, b)

  /** HOF formulation of [[dot]] — executable specification for tests. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Brute-force cosine top-k against one query vector (given as a literal
    * Scala array, i.e. already collected/broadcast — never a join). */
  def topKCosine(df: DataFrame, embCol: String, idCol: String,
                 query: Array[Float], k: Int): DataFrame = {
    val q = lit(query.map(_.toDouble))
    df.select(col(idCol), cosine(col(embCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Mutable bounded buffer for [[TopKAggregator]]: preallocated parallel
    * arrays with a length cursor, so the per-row append is a plain array
    * store (O(1)); entries past `len` are garbage. `len` is a var and the
    * hot path mutates IN PLACE — ObjectHashAggregate holds the buffer as
    * an object, and a per-row case-class copy was measured at ~35% of a
    * 3.8M-pair capped join's wall (sf1, SCALE.md r15 q154 capped mode). The encoder
    * only runs at spill/shuffle boundaries, where the current `len` is
    * captured like any other field. */
  final case class TopKBuf(scores: Array[Double], ids: Array[Long], var len: Int)

  /** EXECUTABLE SPECIFICATION TWIN of the native bounded top-k aggregate
    * ([[graft.expr.TopKPairsAgg]], which the production paths use): keeps
    * the k best (score, id) pairs, score-descending with id-ascending
    * tie-break (the same total order a `row_number` oracle uses).
    * TopKPerDocSpec pins native ≡ this twin ≡ QUALIFY on tied streams.
    * The production aggregate exists because this udaf formulation pays
    * an ExpressionEncoder round-trip per input row (~8 µs/row measured);
    * the bounded-buffer semantics here are the readable reference. One
    * deliberate divergence: the twin ranks NaN largest (Double.compare's
    * total order), the production aggregate SKIPS NaN scores — twin
    * comparisons therefore use finite scores. */
  class TopKAggregator(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, Long), TopKBuf, Array[(Double, Long)]]
      with Serializable {
    require(k >= 1, s"k must be >= 1, got $k")
    private val capacity = 2 * k
    // java.lang.Double.compare gives a TOTAL order (NaN ranks largest,
    // matching Spark's sort semantics and the row_number oracle; a naive
    // `>` comparator is intransitive under NaN and can blow up sortWith)
    private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
      val c = java.lang.Double.compare(a._1, b._1)
      c > 0 || (c == 0 && a._2 < b._2)
    }
    private def top(xs: Array[(Double, Long)]): Array[(Double, Long)] =
      xs.sortWith(better).take(k)
    /** In-place: sort the live prefix, keep the best k, reset the cursor. */
    private def compact(b: TopKBuf): TopKBuf = {
      val best = top(Array.tabulate(b.len)(i => (b.scores(i), b.ids(i))))
      var i = 0
      while (i < best.length) { b.scores(i) = best(i)._1; b.ids(i) = best(i)._2; i += 1 }
      b.len = best.length
      b
    }
    def zero: TopKBuf = TopKBuf(new Array[Double](capacity), new Array[Long](capacity), 0)
    def reduce(b: TopKBuf, x: (Double, Long)): TopKBuf = {
      b.scores(b.len) = x._1
      b.ids(b.len) = x._2
      b.len += 1
      if (b.len == capacity) compact(b) else b
    }
    def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      val both = Array.tabulate(a.len)(i => (a.scores(i), a.ids(i))) ++
        Array.tabulate(b.len)(i => (b.scores(i), b.ids(i)))
      val best = top(both)
      var i = 0
      while (i < best.length) { a.scores(i) = best(i)._1; a.ids(i) = best(i)._2; i += 1 }
      a.len = best.length
      a
    }
    def finish(b: TopKBuf): Array[(Double, Long)] =
      top(Array.tabulate(b.len)(i => (b.scores(i), b.ids(i))))
    def bufferEncoder: org.apache.spark.sql.Encoder[TopKBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TopKBuf]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()
  }

  /** Batched k-NN join: for every query row, the k nearest corpus rows by
    * cosine — the primitive behind retrieval eval sets and hard-negative
    * mining. Output: (q_id, c_id, score), k rows per query.
    *
    * Scale shape (10⁹-row corpus, 10²–10⁴ queries): the query set
    * broadcasts; scoring is a narrow pass over the corpus scan (native
    * [[graft.expr.DotProductExpr]] per pair); the per-query top-k runs as
    * a bounded-buffer Aggregator, so map-side partials reduce each
    * partition to ≤ k candidates per query BEFORE the one exchange on
    * q_id. A window `row_number` formulation would shuffle every scored
    * pair (rows × queries); this shuffles partitions × queries × k. */
  def knnJoin(queries: DataFrame, corpus: DataFrame,
              qIdCol: String, qEmbCol: String,
              cIdCol: String, cEmbCol: String, k: Int): DataFrame = {
    // the bounded buffer carries (score, id) as primitive (Double, Long) —
    // an integral id is required; a silent cast of e.g. a string id would
    // null out and corrupt the aggregation
    {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val t = corpus.schema(cIdCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"knnJoin requires an integral corpus id column, got ${t.simpleString} for '$cIdCol'")
    }
    corpus
      .join(broadcast(queries.select(col(qIdCol).as("q_id"), col(qEmbCol).as("__qe"))))
      .select(col("q_id"), cosine(col(cEmbCol), col("__qe")).as("__s"),
        col(cIdCol).cast("long").as("__c"))
      .groupBy(col("q_id"))
      .agg(topKPairs(col("__s"), col("__c"), k).as("__nn"))
      .select(col("q_id"), explode(col("__nn")).as("__p"))
      .select(col("q_id"), col("__p.id").as("c_id"), col("__p.score").as("score"))
  }

  /** The native bounded top-k aggregate ([[graft.expr.TopKPairsAgg]]):
    * per-row cost is two primitive column reads — the udaf/Aggregator
    * formulation paid an ExpressionEncoder round-trip per pair (~8 µs/row,
    * +60% on the sf1 capped-join sweep). Exact (score DESC, id ASC) top-k
    * with map-side partials bounding every exchange at 2k rows per
    * (partition, group). */
  private def topKPairs(score: Column, id: Column, k: Int): Column =
    graft.expr.NativeFunctions.topk_pairs(score, id, k)

  /** Cap a verified pair stream at the `k` best partners per `idACol` —
    * the per-doc decision mode of the exact pairwise joins
    * ([[DedupFunctions.jaccardJoinExact]] and friends). At 100 TB nobody
    * wants every pair materialized; they want "this doc's k closest
    * partners". Semantics are EXACTLY `row_number() OVER (PARTITION BY
    * id_a ORDER BY score [DESC|ASC], id_b ASC) <= k` — the
    * [[TopKAggregator]] uses the same total order, so a QUALIFY oracle
    * reproduces it bit-for-bit (scores here are single IEEE divisions of
    * exact integers, so both engines rank identical values).
    *
    * Scale shape: the candidate verification upstream is unchanged (exact
    * top-k must score every candidate — that is the price of exactness;
    * sublinear detection is the LSH family's job), but the OUTPUT and
    * every downstream exchange shrink from all-pairs to docs × k: the
    * bounded-buffer aggregator partial-aggregates map-side, so the one
    * added exchange carries ≤ 2k pairs per (partition, doc), independent
    * of how viral a near-dup cluster is — a doc with 10⁶ partners ships
    * 2k rows, not 10⁶. `ascending=true` ranks smaller scores better
    * (edit distance); default ranks larger better (similarity).
    *
    * Pairs with a NaN score are DROPPED before ranking: a NaN similarity
    * is undefined, not extreme — keeping it would rank it best-or-worst
    * depending on direction and diverge from the QUALIFY oracle, whose
    * ASC/DESC both sort NaN last-vs-first asymmetrically. */
  def topKPerDoc(pairs: DataFrame, idACol: String, idBCol: String,
                 scoreCol: String, k: Int,
                 ascending: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the bounded buffer carries (score, id) as primitive (Double, Long);
    // a silent cast of e.g. a string partner id would null out and corrupt
    // the aggregation — same guard as [[knnJoin]]
    requireIntegralId(pairs, idBCol, "topKPerDoc")
    // IEEE negation is exact for every finite value, so flipping the sign
    // in and back out loses nothing and reuses the desc-ordered aggregator.
    // NaN pairs are skipped INSIDE the aggregate (TopKPairsAgg.update) —
    // a pre-filter on the pair stream measured ~25% of the whole capped
    // join's wall by disturbing the verify plan (SCALE.md r15 q154 capped mode)
    val sign = if (ascending) lit(-1.0) else lit(1.0)
    pairs
      .groupBy(col(idACol))
      .agg(topKPairs(col(scoreCol).cast("double") * sign,
        col(idBCol).cast("long"), k).as("__nn"))
      .select(col(idACol), explode(col("__nn")).as("__p"))
      .select(col(idACol), col("__p.id").as(idBCol),
        // `+ 0.0` normalizes the one value IEEE negation does NOT
        // round-trip: a 0.0 score under ascending comes back −0.0, which
        // hashes differently from the oracle's +0.0 (x + 0.0 = x for every
        // other double, so this is a no-op elsewhere)
        (col("__p.score") * sign + lit(0.0)).as(scoreCol))
  }

  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val t = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"$op requires an integral id column, got ${t.simpleString} for '$idCol'")
  }

  /** Summarize a verified pair stream to per-doc decisions:
    * (id, n_partners, best_score) — the reconciliation-report mode (the
    * reference only ever reports per-collection counts, never pair lists;
    * collections/controller.py:604–618). `symmetric=true` counts both
    * directions of an unordered (id_a < id_b) stream; `ascending=true`
    * makes "best" the minimum (edit distance).
    *
    * Scale shape: count/min/max partial-aggregate map-side, so the output
    * exchange is doc-bounded no matter how many pairs the join verified —
    * the all-pairs row set never materializes anywhere downstream.
    *
    * Ids keep their ORIGINAL type (no silent long cast — a string id
    * would have nulled out); symmetric mode requires both id columns to
    * share a type, since their values interleave into one column. */
  def pairSummaryPerDoc(pairs: DataFrame, idACol: String, idBCol: String,
                        scoreCol: String, symmetric: Boolean,
                        ascending: Boolean = false): DataFrame = {
    val s = col(scoreCol).cast("double")
    if (symmetric) {
      val (ta, tb) = (pairs.schema(idACol).dataType, pairs.schema(idBCol).dataType)
      require(ta == tb, "pairSummaryPerDoc(symmetric) interleaves both id " +
        s"columns; types must match, got ${ta.simpleString} vs ${tb.simpleString}")
    }
    val base =
      if (symmetric)
        // one pass over the pair stream: explode each pair into both
        // endpoints scan-side (a unionByName of two selects would run the
        // whole verify join twice)
        pairs.select(explode(array(
            struct(col(idACol).as("id"), s.as("s")),
            struct(col(idBCol).as("id"), s.as("s")))).as("e"))
          .select(col("e.id").as("id"), col("e.s").as("s"))
      else pairs.select(col(idACol).as("id"), s.as("s"))
    base.groupBy(col("id"))
      .agg(count(lit(1)).as("n_partners"),
        (if (ascending) min(col("s")) else max(col("s"))).as("best_score"))
  }

  /** Random-hyperplane LSH bucket id (b signed projections → b-bit bucket).
    * Hyperplanes are generated deterministically from `seed` so the same
    * bucketing reproduces across runs/engines. */
  def rhpBucket(emb: Column, dim: Int, bits: Int, seed: Long): Column = {
    val rng = new scala.util.Random(seed)
    val planes = Array.fill(bits)(Array.fill(dim)(rng.nextGaussian()))
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(emb, lit(p)) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Engine-replayable hyperplane matrix for [[rhpSketch64]]: 64 planes ×
    * `dim` components, flattened row-major, each value from an integer
    * bit-mixing formula over the flat index — Knuth multiplicative hash,
    * xor-fold of the high half, a second multiply, then the TOP 12 bits
    * recentred to [-2048, 2047]. Every step is exact 64-bit integer
    * arithmetic (largest intermediate < 2^48), so the DuckDB oracle
    * re-derives the identical matrix from the same closed form instead of
    * trusting pinned literals. Top-bits extraction matters: low bits of a
    * multiplicative hash walk an arithmetic progression and would give
    * correlated (low-quality) hyperplane directions. */
  def rhpSketchPlanes(dim: Int): Array[Float] = {
    val flat = new Array[Float](64 * dim)
    var h = 0
    while (h < flat.length) {
      val a = ((h + 1L) * 2654435761L) % 4294967296L
      val b = ((a ^ (a >> 16)) * 40503L) % 4294967296L
      flat(h) = ((b >> 20) - 2048L).toFloat
      h += 1
    }
    flat
  }

  /** 64-bit random-hyperplane sign sketch (SimHash for embeddings): bit i
    * = [dot(emb, plane_i) >= 0], planes from [[rhpSketchPlanes]]. Hamming
    * distance estimates the angle (E[dist] = 64·θ/π: dist ≤ 11 ≈ cosine
    * ≥ 0.87, dist ≤ 4 ≈ cosine ≥ 0.98), and the sign-of-dot is
    * gain-invariant — sig(c·x) = sig(x) for c > 0. This is the embedding
    * column's on-ramp to the engine's SHARED 64-bit signature plane: the
    * same [[graft.functions.DedupFunctions.neardupPairsByHamming64]]
    * banded join, the same persisted writeHammingIndex/probeHammingIndex
    * buckets, the same 8-byte shuffle payload already carrying text
    * simhash and image/audio/video perceptual hashes. At 10⁹ vectors the
    * near-dup join ships 8 GB of signatures; the 256-byte floats never
    * leave their scan task. Native codegen'd expression
    * ([[graft.expr.RhpSketch64Expr]]); [[rhpSketch64Hof]] is the
    * bit-parity spec twin. */
  def rhpSketch64(emb: Column, dim: Int): Column =
    graft.expr.NativeFunctions.rhp_sketch64(emb, rhpSketchPlanes(dim), dim)

  /** Composable spec twin of [[rhpSketch64]] (interpreted; tests only):
    * 64 when(dot >= 0) terms over the same plane rows, same double
    * accumulation order via the native [[dot]]. */
  def rhpSketch64Hof(emb: Column, dim: Int): Column = {
    val flat = rhpSketchPlanes(dim)
    (0 until 64).map { i =>
      val plane = Array.tabulate(dim)(j => flat(i * dim + j).toDouble)
      when(dot(emb, lit(plane)) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-pruned cosine top-k: score only rows whose bucket matches the
    * query's bucket (recall < 1, cost ≈ 1/2^bits of the scan). */
  def topKCosineLsh(df: DataFrame, embCol: String, idCol: String,
                    query: Array[Float], k: Int, bits: Int, seed: Long): DataFrame = {
    val dim = query.length
    val qd = query.map(_.toDouble)
    val rng = new scala.util.Random(seed)
    val planes = Array.fill(bits)(Array.fill(dim)(rng.nextGaussian()))
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      if (p.zip(qd).map { case (x, y) => x * y }.sum >= 0) 1L << i else 0L
    }.reduce(_ | _)
    df.filter(rhpBucket(col(embCol), dim, bits, seed) === qBucket)
      .select(col(idCol), cosine(col(embCol), lit(qd)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF coarse quantization: assign every row to its nearest centroid
    * (centroids broadcast as literals); search probes only the query's
    * nearest `nProbe` cells. Returns the assignment column. */
  def ivfAssign(emb: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val diff = zip_with(emb, lit(c), (x, y) => x.cast("double") - y)
      struct(aggregate(diff, lit(0.0), (acc, v) => acc + v * v).as("dist"),
        lit(i).as("cell"))
    }
    least(scored: _*).getField("cell")
  }

  /** IVF top-k search: probe only the `nProbe` cells nearest the query
    * (centroids are driver-side constants — at scale, k-means outputs of a
    * sampled pass). The cell assignment is usually a precomputed partition
    * column (`ivfAssign` at ingest), making the probe a partition-pruned
    * scan; this function also works ad hoc by computing assignments
    * on the fly when `assignedCol` is absent. */
  def ivfSearch(df: DataFrame, embCol: String, idCol: String,
                centroids: Array[Array[Double]], query: Array[Float], k: Int,
                nProbe: Int, assignedCol: Option[String] = None): DataFrame = {
    val qd = query.map(_.toDouble)
    val probeCells = nearestCells(centroids, qd, nProbe)
    val withCell = assignedCol match {
      case Some(c) => df.withColumn("__cell", col(c))
      case None => df.withColumn("__cell", ivfAssign(col(embCol), centroids))
    }
    withCell.filter(col("__cell").isin(probeCells: _*))
      .select(col(idCol), cosine(col(embCol), lit(qd)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Cells to probe for a query: the `nProbe` centroids nearest to it. */
  private def nearestCells(centroids: Array[Array[Double]], qd: Array[Double],
                           nProbe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.zip(qd).map { case (x, y) => (x - y) * (x - y) }.sum) }
      .sortBy(_._2).take(nProbe).map(_._1).toSeq

  /** Persist an IVF index: train the coarse quantizer, then lay the corpus
    * out as parquet PARTITIONED BY its cell assignment with the centroid
    * table as a sidecar. This is the piece that turns [[ivfSearch]]'s
    * "probe only nProbe cells" from a full-scan filter into PARTITION
    * PRUNING — a query plans `cell IN (...)` as a partition filter and
    * never opens the other cells' files. At 10⁹ vectors that is the
    * difference between reading nProbe/nCells of the corpus and reading
    * all of it; the layout is written once and serves every subsequent
    * query (the FAISS build/search split, re-expressed as a parquet
    * directory layout plus a k×dim sidecar). Returns the centroids. */
  def writeIvfIndex(df: DataFrame, embCol: String, idCol: String, path: String,
                    nCells: Int, iterations: Int = 5): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val centroids = kmeansFit(df, embCol, idCol, nCells, iterations)
    df.withColumn("cell", ivfAssign(col(embCol), centroids))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    centroids
  }

  /** Append new vectors to a persisted IVF index WITHOUT retraining: they
    * are assigned against the existing centroid sidecar and land in their
    * cells' directories (dynamic partition append). The coarse quantizer
    * drifts only if the data distribution does — the standard IVF
    * operational model (retrain on a sample when recall degrades, append
    * in between). One narrow scan + partitioned write; no shuffle beyond
    * the file fan-out. */
  def appendToIvfIndex(df: DataFrame, path: String, embCol: String): Unit = {
    val centroids = readIvfCentroids(df.sparkSession, path)
    require(centroids.nonEmpty, s"no centroids under $path — build with writeIvfIndex first")
    df.withColumn("cell", ivfAssign(col(embCol), centroids))
      .write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** Centroid sidecar of a persisted IVF index, in cell order. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids").orderBy(col("cell"))
      .select(col("centroid")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** Top-k cosine search against a persisted IVF index: plans as a
    * partition-pruned scan of the `nProbe` nearest cells (assert-able via
    * the scan's PartitionFilters), a narrow projection scoring only those
    * rows, and a TakeOrderedAndProject — no shuffle of vector payloads. */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     embCol: String, idCol: String,
                     query: Array[Float], k: Int, nProbe: Int): DataFrame = {
    val centroids = readIvfCentroids(spark, path)
    require(centroids.nonEmpty, s"no centroids under $path")
    val qd = query.map(_.toDouble)
    val cells = nearestCells(centroids, qd, nProbe)
    spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(cells: _*))
      .select(col(idCol), cosine(col(embCol), lit(qd)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist an IVF-PQ index (the FAISS IVFPQ layout on parquet): the
    * coarse quantizer routes each vector to a cell directory, a PQ code
    * column rides NEXT TO the float vector in the same row, and both
    * codebooks persist as sidecars. Queries then pay three successively
    * cheaper filters: partition pruning (only nProbe cell directories
    * open), ADC over the m-byte codes (no float math per candidate), and
    * an exact re-rank of only the over-fetched short list — which costs no
    * join because the floats sit in the candidate rows already. */
  def writeIvfPqIndex(df: DataFrame, embCol: String, idCol: String, path: String,
                      nCells: Int, m: Int, kPq: Int = 256,
                      iterations: Int = 5): (Array[Array[Double]], PqCodebooks) = {
    val spark = df.sparkSession
    import spark.implicits._
    val centroids = kmeansFit(df, embCol, idCol, nCells, iterations)
    val cb = trainPq(df, embCol, idCol, m, kPq, iterations)
    df.withColumn("cell", ivfAssign(col(embCol), centroids))
      .withColumn("__codes", pqEncode(col(embCol), cb))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    Seq((cb.m, cb.k, cb.subDim, cb.flat.toSeq))
      .toDF("m", "k", "subDim", "flat")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
    (centroids, cb)
  }

  /** PQ codebook sidecar of a persisted IVF-PQ index. */
  def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      path: String): PqCodebooks = {
    val r = spark.read.parquet(s"$path/pq").head()
    PqCodebooks(r.getAs[Int]("m"), r.getAs[Int]("k"), r.getAs[Int]("subDim"),
      r.getSeq[Float](r.fieldIndex("flat")).toArray)
  }

  /** Top-k cosine against a persisted IVF-PQ index: partition-pruned scan
    * of the nProbe nearest cells → ADC top (k × overFetch) short list over
    * the code bytes → exact cosine re-rank of the short list from the
    * floats in the SAME rows. At 10¹⁰ vectors the exact math touches
    * k × overFetch rows; everything else is byte-table lookups over the
    * pruned slice. Size `overFetch` to the ADC tie width: vectors inside
    * one tight cluster can share identical code vectors, and the short
    * list must cover that tie set for the re-rank to recover the exact
    * order (FunctionsSpec demonstrates both the failure shape and the
    * sized fix). */
  def searchIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                  embCol: String, idCol: String,
                  query: Array[Float], k: Int, nProbe: Int,
                  overFetch: Int = 4): DataFrame = {
    require(overFetch >= 1, s"overFetch must be >= 1, got $overFetch")
    val centroids = readIvfCentroids(spark, path)
    val cb = readPqCodebooks(spark, path)
    val qd = query.map(_.toDouble)
    val cells = nearestCells(centroids, qd, nProbe)
    spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(cells: _*))
      .select(col(idCol), col(embCol),
        pqAdcScore(col("__codes"), cb, query).as("__adc"))
      .orderBy(col("__adc").desc, col(idCol).asc)
      .limit(k * overFetch)
      .select(col(idCol), cosine(col(embCol), lit(qd)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Exact all-pairs cosine above a threshold, BLOCKED: vectors group into
    * id-range blocks of `blockSize`, block pairs join (O((n/B)²) rows
    * instead of O(n²)), and a native B×B kernel
    * ([[graft.expr.CrossScoresExpr]]) scores each block pair in
    * cache-resident primitive loops. Bit-identical scores to the row-wise
    * broadcast-nested-loop formulation, ~3× its wall time at 2 k vectors.
    * This is the exactness baseline; [[nearDupPairs]] (LSH buckets) is the
    * candidate-pruned path when recall < 1 is acceptable. */
  def allPairsCosineBlocked(df: DataFrame, embCol: String, idCol: String,
                            threshold: Double, blockSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val e = df.select(col(idCol).cast("long").as("id"), col(embCol).as("emb"),
      norm(col(embCol)).as("nrm"), floor(col(idCol) / blockSize).as("bid"))
    val blocks = e.groupBy(col("bid"))
      .agg(array_sort(collect_list(struct(col("id"), col("emb"), col("nrm")))).as("ms"))
    val a = blocks.select(col("bid").as("bid_a"), col("ms").as("ma"))
    val b = blocks.select(col("bid").as("bid_b"), col("ms").as("mb"))
    val scores = ColumnBridge.column(graft.expr.CrossScoresExpr(
      ColumnBridge.expression(col("ma")), ColumnBridge.expression(col("mb")), threshold))
    a.join(b, col("bid_a") <= col("bid_b"))
      .select(explode(scores).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.cos").as("cos"))
  }

  /** Symmetric int8 quantization of an embedding column — 4× memory/IO
    * reduction for the vector stack (the difference between an index that
    * fits executor memory and one that spills at 10⁹ vectors). Returns
    * struct(scale: float, q: array<byte>) with `x ≈ q * scale`,
    * scale = max|x| / 127. Cosine on dequantized vectors preserves
    * neighbor ranking (recall@k asserted in FunctionsSpec).
    */
  def quantizeInt8(emb: Column): Column =
    graft.expr.NativeFunctions.quantize_int8(emb)

  /** Composable spec twin of [[quantizeInt8]] — the HOF formulation the
    * native [[graft.expr.QuantizeInt8Expr]] is tested bit-for-bit against.
    * Not for the hot path: the `scale` subtree is re-evaluated inside the
    * per-element lambda (O(d²) per row interpreted), which is exactly why
    * the native expression exists. */
  def quantizeInt8Hof(emb: Column): Column = {
    val mx = array_max(transform(emb, v => abs(v.cast("float"))))
    val scale = when(mx === 0f, 1f).otherwise(mx / 127f)
    struct(scale.as("scale"),
      transform(emb, v => round(v.cast("float") / scale).cast("byte")).as("q"))
  }

  /** Inverse of [[quantizeInt8]]: back to array<float>. */
  def dequantizeInt8(qs: Column): Column =
    transform(qs.getField("q"), v => v.cast("float") * qs.getField("scale"))

  /** Trained product-quantization codebooks: `m` subspaces × `k` centroids
    * × (dim/m) components, flattened row-major (the layout
    * [[graft.expr.PqEncodeExpr]] consumes). */
  final case class PqCodebooks(m: Int, k: Int, subDim: Int, flat: Array[Float])

  /** Train PQ codebooks: an independent k-means per contiguous subspace
    * (FAISS's PQ training, re-expressed as m [[kmeansFit]] runs over
    * `slice()` projections). Each run is iterations × (one scan + one
    * O(k × subDim) shuffle); only the k×dim codebook floats reach the
    * driver. Train on a hash-sample at 10⁹ vectors — PQ quality saturates
    * like any k-means. */
  def trainPq(df: DataFrame, embCol: String, idCol: String,
              m: Int, k: Int = 256, iterations: Int = 5): PqCodebooks = {
    val dim = df.select(size(col(embCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val flat = new Array[Float](m * k * subDim)
    for (s <- 0 until m) {
      val sub = df.select(col(idCol),
        slice(col(embCol), s * subDim + 1, subDim).as("__sub"))
      val cents = kmeansFit(sub, "__sub", idCol, k, iterations)
      for (c <- 0 until k; j <- 0 until subDim)
        flat((s * k + c) * subDim + j) = cents(c)(j).toFloat
    }
    PqCodebooks(m, k, subDim, flat)
  }

  /** PQ-encode an embedding column → `array<byte>` of m codes: dim × 4
    * bytes shrink to m bytes (dim=64, m=8 → 32×). Native codegen'd
    * expression; the corpus-sized pass runs at scan speed. */
  def pqEncode(emb: Column, cb: PqCodebooks): Column =
    graft.expr.NativeFunctions.pq_encode(emb, cb.flat, cb.m, cb.k, cb.subDim)

  /** Composable spec twin of [[pqEncode]] (interpreted; tests only). */
  def pqEncodeHof(emb: Column, cb: PqCodebooks): Column = {
    val subs = (0 until cb.m).map { s =>
      val scored = (0 until cb.k).map { c =>
        val cent = (0 until cb.subDim).map(j => cb.flat((s * cb.k + c) * cb.subDim + j))
        val diff = zip_with(slice(emb, s * cb.subDim + 1, cb.subDim),
          typedLit(cent), (x, y) => x.cast("double") - y)
        struct(aggregate(diff, lit(0.0), (acc, v) => acc + v * v).as("dist"),
          lit(c).as("code"))
      }
      least(scored: _*).getField("code").cast("byte")
    }
    array(subs: _*)
  }

  /** Asymmetric-distance (ADC) score of PQ codes against one query vector:
    * the query precomputes an m × k lookup table of per-subspace partial
    * DOT PRODUCTS driver-side (k × dim multiply-adds, once per query), and
    * each candidate's approximate inner product is m table lookups — no
    * decode, no per-candidate float math beyond m adds. */
  def pqAdcScore(codes: Column, cb: PqCodebooks, query: Array[Float]): Column = {
    require(query.length == cb.m * cb.subDim,
      s"query dim ${query.length} != ${cb.m * cb.subDim}")
    val lut = Array.tabulate(cb.m * cb.k) { i =>
      val s = i / cb.k
      val c = i % cb.k
      var acc = 0.0
      var j = 0
      while (j < cb.subDim) {
        acc += query(s * cb.subDim + j).toDouble * cb.flat((s * cb.k + c) * cb.subDim + j)
        j += 1
      }
      acc
    }
    // m interpreted steps per row (m ≈ 8) against the flattened literal LUT
    aggregate(zip_with(codes, sequence(lit(0), lit(cb.m - 1)),
        (code, s) => element_at(typedLit(lut.toSeq),
          s * cb.k + (code.cast("int") + lit(256)) % 256 + 1)),
      lit(0.0), (acc, v) => acc + v)
  }

  /** Top-k by PQ inner product: brute-force over the CODES (m bytes/row,
    * 32× less IO than floats), TakeOrderedAndProject on top. The standard
    * recall recipe is over-fetch (k′ = 4k) then exact re-rank of the short
    * list; recall of the raw ADC pass is asserted in FunctionsSpec. */
  def searchPq(df: DataFrame, codesCol: String, idCol: String,
               cb: PqCodebooks, query: Array[Float], k: Int): DataFrame =
    df.select(col(idCol), pqAdcScore(col(codesCol), cb, query).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** One k-means refinement step for the IVF coarse quantizer: assign every
    * vector to its nearest centroid ([[ivfAssign]]) and recompute the
    * per-cell mean, returned long-form as (cell, pos, mean_v) — one row per
    * centroid dimension.
    *
    * Scale shape: posexplode turns each row into `dim` (cell, pos, value)
    * triples and ONE hash aggregation with map-side partials reduces them —
    * shuffle volume is O(cells × dim) partials per task, independent of row
    * count. Iterate k times driver-side, collecting the (small) centroid
    * table between steps; at 10⁹ vectors each step is one scan + one
    * fixed-size shuffle.
    *
    * The per-cell mean is a plain double `avg`: last-ulp variation across
    * partition layouts is far below float input precision and does not move
    * any centroid assignment; exact fixed-point summation was tried and
    * rejected (floor-quantization injects a systematic −0.5e-8 bias per
    * component). */
  def kmeansStep(df: DataFrame, embCol: String,
                 centroids: Array[Array[Double]]): DataFrame =
    // cell in its own select: a generator in the same projection re-resolves
    // the expression tree and strips the struct-field aliases ivfAssign's
    // argmin relies on
    df.select(ivfAssign(col(embCol), centroids).as("cell"), col(embCol).as("__e"))
      .select(col("cell"), posexplode(col("__e")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("v").cast("double")).as("mean_v"))

  /** Train an IVF coarse quantizer: k-means via repeated [[kmeansStep]].
    * Initialization is DETERMINISTIC — the first `k` vectors in id order
    * (ids are content-stable), so the same corpus trains the same
    * centroids on any cluster layout. Each iteration is one distributed
    * scan + one O(k × dim) shuffle; only the centroid table (k × dim
    * doubles) ever reaches the driver. Empty cells keep their previous
    * centroid. At 10⁹ vectors, train on a [[graft.functions
    * .SamplingFunctions.hashSample]] of the corpus — k-means quality
    * saturates long before the full scan pays off. */
  def kmeansFit(df: DataFrame, embCol: String, idCol: String, k: Int,
                iterations: Int = 5): Array[Array[Double]] = {
    require(k >= 1 && iterations >= 1, "k and iterations must be >= 1")
    var centroids = df.orderBy(col(idCol)).limit(k)
      .select(col(embCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(centroids.length == k, s"need >= $k rows to seed $k centroids")
    for (_ <- 1 to iterations) {
      val means = kmeansStep(df, embCol, centroids).collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
        }
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        means.get(i).map(_.toArray).getOrElse(old)
      }
    }
    centroids
  }

  /** Mean squared distance to the assigned centroid — the k-means
    * objective, for convergence monitoring. */
  def kmeansDistortion(df: DataFrame, embCol: String,
                       centroids: Array[Array[Double]]): Double = {
    val dists = centroids.map(c => {
      val diff = zip_with(col(embCol), lit(c), (x, y) => x.cast("double") - y)
      aggregate(diff, lit(0.0), (acc, v) => acc + v * v)
    })
    df.select(least(dists: _*).as("d")).agg(avg(col("d"))).head().getDouble(0)
  }

  /** Outlier score: squared Euclidean distance to the NEAREST of the given
    * centroids — the standard embedding-space anomaly signal (mislabeled,
    * corrupted, or off-distribution rows sit far from every cluster).
    * Centroids are driver-side constants (a [[kmeansFit]] output), so this
    * is a narrow projection: no shuffle, scan-bound at any corpus size. */
  def outlierScore(emb: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "outlierScore needs at least one centroid")
    val dists = centroids.map { c =>
      val diff = zip_with(emb, lit(c), (x, y) => x.cast("double") - y)
      aggregate(diff, lit(0.0), (acc, v) => acc + v * v)
    }
    least(dists: _*)
  }

  /** All-pairs cosine above a threshold within LSH buckets (embedding
    * near-dup detection): bucket equi-join keeps the candidate set small;
    * only candidates pay the O(dim) cosine. */
  def nearDupPairs(df: DataFrame, embCol: String, idCol: String,
                   dim: Int, threshold: Double, bits: Int, seed: Long): DataFrame = {
    val bucketed = df.select(col(idCol).cast("long").as("id"), col(embCol).as("emb"),
      rhpBucket(col(embCol), dim, bits, seed).as("bucket"))
    val a = bucketed.select(col("id").as("id_a"), col("emb").as("emb_a"), col("bucket"))
    val b = bucketed.select(col("id").as("id_b"), col("emb").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", cosine(col("emb_a"), col("emb_b")))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** End-to-end semantic (embedding-cosine) dedup: RHP-LSH bucket pairs
    * above `threshold` ([[nearDupPairs]]) → connected components → keep
    * one canonical row (min id) per cluster, via the same pair-graph
    * machinery as the text path
    * ([[graft.functions.DedupFunctions.dropByPairGraph]]). Recall < 1 by
    * construction (pairs split across buckets are missed) — this is the
    * scale path; [[dedupSemanticExact]] is the exactness baseline. */
  def dedupSemantic(df: DataFrame, embCol: String, idCol: String, dim: Int,
                    threshold: Double, bits: Int = 8, seed: Long = 42L,
                    maxIterations: Int = 5,
                    maxDriverEdges: Int = 100_000): DataFrame =
    graft.functions.DedupFunctions.dropByPairGraph(df, idCol,
      nearDupPairs(df, embCol, idCol, dim, threshold, bits, seed),
      maxIterations, maxDriverEdges)

  /** Semantic dedup on the shared 64-bit hamming plane: sketch every
    * embedding ([[rhpSketch64]]), band-join the sketches
    * ([[graft.functions.DedupFunctions.neardupPairsByHamming64]] — total
    * recall at the sketch level for maxDistance < bands), connected
    * components, keep min id per cluster. Versus [[dedupSemantic]]'s
    * bucket-equi-join: the pair graph here is exact OVER THE SKETCHES
    * (the only approximation is the 64-trial angle estimate itself), the
    * join payload is 8 bytes/vector instead of the embedding, and the
    * same geometry/index family serves all modalities. Default geometry
    * bands=8 → 8-bit band keys, dist ≤ 7 ≈ cosine ≥ 0.94 — TIGHT
    * near-dups. Wider distance budgets: pass probeBits=1 to switch the
    * pair source to the multi-probe join
    * ([[graft.functions.DedupFunctions.neardupPairsByHammingMultiProbe]]
    * — total recall to bands·2−1 on WIDE keys; e.g. bands=6,
    * dist ≤ 11 ≈ cosine ≥ 0.87 at 11-bit keys) instead of adding bands,
    * which narrows every key and grows candidate verification as
    * n²/2^keyBits — the measured cliff in SCALE.md r16. Past dist ≈ 11
    * use IVF/PQ ([[searchIvfIndex]]) instead of the sketch plane. */
  def dedupSemanticSketch(df: DataFrame, embCol: String, idCol: String,
                          dim: Int, maxDistance: Int = 7, bands: Int = 8,
                          probeBits: Int = 0,
                          maxIterations: Int = 5,
                          maxDriverEdges: Int = 100_000): DataFrame = {
    val sigs = df.select(col(idCol).cast("long").as("id"),
      rhpSketch64(col(embCol), dim).as("sig"))
    val pairs =
      if (probeBits == 0)
        graft.functions.DedupFunctions.neardupPairsByHamming64(
          sigs, "sig", "id", bands = bands, maxDistance = maxDistance)
      else
        graft.functions.DedupFunctions.neardupPairsByHammingMultiProbe(
          sigs, "sig", "id", bands = bands, maxDistance = maxDistance,
          probeBits = probeBits)
    graft.functions.DedupFunctions.dropByPairGraph(df, idCol, pairs,
      maxIterations, maxDriverEdges)
  }

  /** [[dedupSemantic]] with the exact blocked all-pairs scorer as the pair
    * source — recall 1 at quadratic block-pair cost
    * ([[allPairsCosineBlocked]]); the DuckDB-oracle-verifiable variant. */
  def dedupSemanticExact(df: DataFrame, embCol: String, idCol: String,
                         threshold: Double, blockSize: Int = 64,
                         maxIterations: Int = 5,
                         maxDriverEdges: Int = 100_000): DataFrame =
    graft.functions.DedupFunctions.dropByPairGraph(df, idCol,
      allPairsCosineBlocked(df, embCol, idCol, threshold, blockSize),
      maxIterations, maxDriverEdges)
}
