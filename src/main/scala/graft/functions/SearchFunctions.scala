package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword retrieval over the document corpus: BM25 ranked search and an
  * inverted-index layout with conjunctive (AND) query answering — the
  * text-search counterpart to the ANN family in
  * [[SimilarityFunctions]] (sparse lexical retrieval vs dense vectors).
  *
  * Scale shape: BM25's corpus statistics (df per term, N, avgdl) are one
  * token aggregation — vocabulary-sized output, broadcast back; scoring
  * touches only rows containing a query term (the scan-side filter is an
  * `arrays_overlap` against the tiny query-term literal, so the exploded
  * stream is query-relevant tokens only, not the corpus's). The inverted
  * index is the posting-list layout search engines shard by term: queries
  * join the query-term postings and intersect by counting, never scanning
  * raw text.
  */
object SearchFunctions {

  private def toks(text: Column): Column = TextFunctions.tokens(TextFunctions.lowerCase(text))

  /** BM25 (Lucene-variant idf) scores for a bag-of-words query: one row
    * per document containing ≥1 query term, `(idCol, score)`.
    *
    *   score(d) = Σ_{t ∈ q} ln(1 + (N − df + 0.5)/(df + 0.5))
    *              · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Exact integer statistics (tf/df/dl) → deterministic scores the SQL
    * oracle replays bit-for-bit. Corpus stats are two scalar aggregates
    * (N, avgdl) plus a per-query-term df row — all broadcast; documents
    * without query terms are filtered scan-side BEFORE the explode. */
  def bm25(docs: DataFrame, textCol: String, idCol: String, query: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "empty query")
    val qTerms = query.map(_.toLowerCase).distinct
    val qLit = array(qTerms.map(lit): _*)
    val withTk = docs
      .select(col(idCol).as("id"), toks(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
    val stats = withTk.agg(count(lit(1)).as("n_docs"),
      avg(size(col("tk"))).as("avgdl"))
    // df counts documents containing the term (set semantics)
    val dfreq = withTk
      .select(col("id"), explode(array_distinct(col("tk"))).as("term"))
      .filter(col("term").isInCollection(qTerms))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val hits = withTk
      .filter(arrays_overlap(col("tk"), qLit)) // scan-side prefilter
      .select(col("id"), size(col("tk")).as("dl"), explode(col("tk")).as("term"))
      .filter(col("term").isInCollection(qTerms))
      .groupBy(col("id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    hits
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("part", col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id")).agg(sum(col("part")).as("score"))
      .withColumnRenamed("id", idCol)
  }

  /** Top-k BM25: deterministic ordering (score desc, id asc — identical
    * replica docs carry bit-identical scores, so the id breaks ties the
    * same way in every engine). Plans as TakeOrderedAndProject. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               query: Seq[String], k: Int): DataFrame =
    bm25(docs, textCol, idCol, query)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** Reciprocal-rank fusion of score lists (Cormack et al. 2009) — the
    * standard lexical+dense hybrid-retrieval combiner:
    * rrf(d) = Σ_lists 1/(kRrf + rank_list(d)), missing entries contribute
    * 0. Ranks are integers (row_number over score desc, id asc), so the
    * fused score is a sum of exact rationals — bit-identical in every
    * engine, no float-ordering hazard.
    *
    * Inputs are TOP-N lists (bounded — the single-partition rank window is
    * over ≤N rows per list, same envelope as any top-k result); the fuse
    * is |lists|−1 outer joins on bounded relations. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, scoreCol: String,
              kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.size >= 2, "fusion needs at least two rankings")
    val contribs = rankings.zipWithIndex.map { case (df, i) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(col(idCol), row_number().over(w).as("r"))
        .select(col(idCol), (lit(1.0) / (lit(kRrf) + col("r"))).as(s"c$i"))
    }
    val joined = contribs.reduce((a, b) =>
      a.join(b, Seq(idCol), "full_outer"))
    joined
      .withColumn("rrf", contribs.indices
        .map(i => coalesce(col(s"c$i"), lit(0.0)))
        .reduce(_ + _))
      .select(col(idCol), col("rrf"))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Posting-list inverted index: one row per (term, doc_id), doc ids
    * sorted within term via the aggregate below when materialized. The
    * layout a term-sharded search tier stores — build once, query by
    * joining the query terms' postings only. */
  def buildInvertedIndex(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(array_distinct(toks(col(textCol)))).as("term"))

  /** Conjunctive (AND) keyword query against a posting-list index: a doc
    * matches iff it appears in EVERY query term's postings — intersection
    * by counting distinct matched terms. Only the query terms' posting
    * rows are read (pushed `term IN (…)` filter); the raw text is never
    * scanned at query time. */
  def searchConjunctive(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val qTerms = terms.map(_.toLowerCase).distinct
    postings
      .filter(col("term").isInCollection(qTerms))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_matched"))
      .filter(col("n_matched") === qTerms.size)
      .select(col("doc_id"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick `k` results maximizing
    * `λ·relevance − (1−λ)·max cosine-sim to already-picked` — the
    * diversity pass a retrieval stack runs AFTER top-N candidate
    * generation, so near-duplicate hits don't fill the result page (and
    * a RAG context window doesn't spend its budget on ten copies of one
    * passage).
    *
    * MMR is inherently sequential (step i depends on the selected set),
    * so it runs on the driver over the BOUNDED candidate list the ANN /
    * BM25 stage already produced — the same bounded-by-construction
    * envelope as the k-means centroid collect, NOT a corpus collect; the
    * distributed work is candidate generation, which stays in
    * [[graft.functions.SimilarityFunctions.topKCosine]] et al. Ties
    * break by ascending id, making the selection engine-reproducible.
    *
    * Returns (id, rank) with rank 1-based in selection order. */
  def mmrRerank(candidates: DataFrame, idCol: String, relCol: String,
                embCol: String, lambda: Double, k: Int): DataFrame = {
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = candidates.sparkSession
    // driver-side collect bounded by the candidate list (top-N upstream)
    val cand = candidates
      .select(col(idCol).cast("long"), col(relCol).cast("double"),
        col(embCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    val chosenEmb = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var step = 1
    while (step <= math.min(k, cand.length)) {
      // argmax of the MMR objective; ties by ascending id (strict > on a
      // candidate with smaller id wins the tie because of iteration order)
      var best: (Long, Double, Array[Double]) = null
      var bestScore = Double.NegativeInfinity
      for ((id, rel, emb) <- cand if !chosen(id)) {
        val maxSim = if (chosenEmb.isEmpty) 0.0
        else chosenEmb.iterator.map(s => cos(emb, s)).max
        val score = lambda * rel - (1 - lambda) * maxSim
        if (score > bestScore || (score == bestScore && best != null && id < best._1)) {
          best = (id, rel, emb); bestScore = score
        }
      }
      selected += ((best._1, step))
      chosen += best._1
      chosenEmb += best._3
      step += 1
    }
    import spark.implicits._
    selected.toSeq.toDF(idCol, "rank")
  }
}
