package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained text-quality models for training-data curation: a multinomial
  * Naive Bayes classifier (the fastText-langid / domain-filter shape) and a
  * unigram language model with perplexity scoring (the CCNet quality-filter
  * shape). Both train with EXACT counts — no SGD, no randomness — so the
  * fitted model and every score are deterministic and replayable by a SQL
  * oracle.
  *
  * Scale design (the whole point of doing this on Spark):
  *
  *   - TRAINING is one explode + one (label, term) hash aggregation with
  *     map-side partials; the exchange carries vocabulary-sized data, not
  *     corpus-sized. Class priors / totals / vocabulary size are derived
  *     from that same aggregate (Catalyst reuses the exchange across the
  *     branches), so a 100 TB train corpus produces a model of a few
  *     hundred MB at worst — it never concentrates on the driver.
  *   - The fitted model stays a pair of DataFrames; SCORING broadcasts
  *     them and runs scan-side: explode → broadcast hash join on term →
  *     partial-aggregated (doc, label) sum. The only exchange in scoring
  *     carries one row per (doc, class) — independent of document length.
  *   - OOV terms cost nothing by construction: with Laplace smoothing the
  *     per-term contribution is log(cnt+1) − log(T_c + V), and log(0+1)=0,
  *     so unseen terms drop out of the join entirely and the closed-form
  *     `− n_tokens · log(T_c + V)` term accounts for every token. No
  *     left-join-per-token, no per-class default lookup.
  *
  * The reference has no trained filters (its quality gates are the static
  * heuristics mirrored in [[TextFunctions]]); these extend the engine along
  * the training-data-pipeline axis the driver's `documents` table exists
  * for (CCNet: Wenzek et al. 2020; fastText: Joulin et al. 2017).
  */
object ClassifierFunctions {

  /** Lowercased whitespace tokens — the shared pre-tokenizer, kept
    * RE2-compatible so the DuckDB oracle tokenizes identically. */
  private def toks(text: Column): Column = TextFunctions.tokens(lower(text))

  /** Fitted multinomial NB model.
    *
    * @param classStats per-class row: (label, log_prior, log_denom) where
    *                   log_denom = ln(T_c + V) — the Laplace denominator
    * @param termLikelihood vocabulary-sized rows: (term, label, log_cnt1)
    *                       with log_cnt1 = ln(cnt + 1)
    */
  final case class NbModel(classStats: DataFrame, termLikelihood: DataFrame)

  /** Train multinomial Naive Bayes with add-one (Laplace) smoothing over
    * lowercased whitespace tokens. Deterministic: exact integer counts.
    *
    * score(d, c) = ln P(c) + Σ_t [ ln(cnt(t,c)+1) − ln(T_c + V) ]
    *             = log_prior(c) + Σ_{t: cnt(t,c)>0} log_cnt1(t,c)
    *               − n_tokens(d) · log_denom(c)
    */
  def trainNaiveBayes(train: DataFrame, textCol: String, labelCol: String): NbModel = {
    val termCnt = train
      .select(col(labelCol).as("label"), explode(toks(col(textCol))).as("term"))
      .groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    // All three shapes below hang off the same (label, term) aggregate —
    // identical exchanges, so ReuseExchange evaluates the heavy explode
    // + shuffle once per job.
    val vocab = termCnt.agg(countDistinct(col("term")).as("v_size"))
    val perClassTotal = termCnt.groupBy(col("label")).agg(sum(col("cnt")).as("t_c"))
    val classDocs = train.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("n_c"))
    val allDocs = train.agg(count(lit(1)).as("n_docs"))
    val classStats = classDocs
      .crossJoin(allDocs)
      .join(perClassTotal, "label")
      .crossJoin(vocab)
      .select(
        col("label"),
        log(col("n_c").cast("double") / col("n_docs")).as("log_prior"),
        log((col("t_c") + col("v_size")).cast("double")).as("log_denom"))
    val termLikelihood =
      termCnt.select(col("term"), col("label"), log(col("cnt") + lit(1.0)).as("log_cnt1"))
    NbModel(classStats, termLikelihood)
  }

  /** Per-(doc, class) NB log-score. Output: (idCol, label, score).
    * The model sides broadcast; the only exchange carries one row per
    * (doc, class). Zero-token documents score log_prior alone. */
  def nbScore(docs: DataFrame, model: NbModel, textCol: String, idCol: String): DataFrame = {
    val base = docs
      .select(col(idCol), size(toks(col(textCol))).cast("double").as("n_tok"))
      .crossJoin(broadcast(model.classStats))
    val matched = docs
      .select(col(idCol), explode(toks(col(textCol))).as("term"))
      .join(broadcast(model.termLikelihood), "term")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("log_cnt1")).as("s_match"))
    base
      .join(matched, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("log_prior") + coalesce(col("s_match"), lit(0.0))
          - col("n_tok") * col("log_denom")).as("score"))
  }

  /** Argmax over [[nbScore]] — ties break to the lexicographically first
    * label so Spark and the SQL oracle pick identically.
    * Output: (idCol, pred_label, score). */
  def nbPredict(docs: DataFrame, model: NbModel, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("label").asc)
    nbScore(docs, model, textCol, idCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("label").as("pred_label"), col("score"))
  }

  /** Fitted unigram LM: vocabulary-sized (term, log2_cnt1) plus a single
    * (log2_denom) row with log2(T + V). */
  final case class UnigramLm(termCounts: DataFrame, stats: DataFrame)

  /** Train a Laplace-smoothed unigram LM over lowercased whitespace
    * tokens: p(t) = (cnt(t)+1) / (T+V). Same exchange-reuse shape as NB
    * training, minus the class dimension. */
  def trainUnigramLm(train: DataFrame, textCol: String): UnigramLm = {
    val termCnt = train
      .select(explode(toks(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
    val stats = termCnt
      .agg((sum(col("cnt")) + countDistinct(col("term"))).cast("double").as("t_plus_v"))
      .select(log2(col("t_plus_v")).as("log2_denom"))
    UnigramLm(termCnt.select(col("term"), log2(col("cnt") + lit(1.0)).as("log2_cnt1")), stats)
  }

  /** Per-document cross-entropy in bits/token under the unigram LM — the
    * CCNet-style quality signal (low bits ≈ head-like fluent text, high
    * bits ≈ OOV-heavy noise; perplexity = 2^bits).
    *
    *   H(d) = −(1/n) Σ_t log2 p(t) = log2(T+V) − (1/n) Σ_t log2(cnt(t)+1)
    *
    * OOV terms contribute log2(1) = 0 to the matched sum, so the scan-side
    * shape is the same broadcast join as [[nbScore]]. Zero-token documents
    * are excluded (entropy of nothing is undefined).
    * Output: (idCol, n_tok, bits). */
  def unigramBitsPerToken(docs: DataFrame, lm: UnigramLm, textCol: String,
                          idCol: String): DataFrame = {
    val base = docs
      .select(col(idCol), size(toks(col(textCol))).as("n_tok"))
      .filter(col("n_tok") > 0)
    val matched = docs
      .select(col(idCol), explode(toks(col(textCol))).as("term"))
      .join(broadcast(lm.termCounts), "term")
      .groupBy(col(idCol))
      .agg(sum(col("log2_cnt1")).as("s_match"))
    base
      .join(matched, Seq(idCol), "left")
      .crossJoin(broadcast(lm.stats))
      .select(col(idCol), col("n_tok"),
        (col("log2_denom")
          - coalesce(col("s_match"), lit(0.0)) / col("n_tok")).as("bits"))
  }

  // --------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  // 2023): score every raw-pool document by how much more likely a TARGET
  // distribution makes it than the SOURCE (raw-pool) distribution, then
  // resample with probability ∝ that importance weight. The published
  // method uses hashed n-gram bag features with bigram-bucket LMs; the
  // engine's feature space is the shared lowercased-whitespace unigram LM
  // ([[trainUnigramLm]]) so every weight is exactly replayable by the SQL
  // oracle. Selection is the deterministic Gumbel-top-k form of the
  // resampling step — the same content-hash-uniform discipline as
  // [[SamplingFunctions.weightedSample]].
  // --------------------------------------------------------------------

  /** Per-document log2 importance weight under `target` relative to
    * `source` (both Laplace-smoothed unigram LMs):
    *
    *   logw(d) = Σ_t [log2 p_tgt(t) − log2 p_src(t)]
    *           = Σ_{t matched} [log2(cnt_tgt(t)+1) − log2(cnt_src(t)+1)]
    *             + n_tok · (log2(T_src+V_src) − log2(T_tgt+V_tgt))
    *
    * OOV terms (in either LM) contribute log2(0+1) = 0 to the matched sum,
    * so the scan-side shape is ONE token explode with two broadcast
    * vocabulary joins and one doc-keyed partial-aggregated sum — document
    * text never crosses an exchange. Zero-token documents are excluded
    * (their importance ratio is the vacuous 1). Output: (idCol, n_tok,
    * logw); logw > 0 ⇔ the document looks more target-like than pool-like.
    */
  def dsirLogWeights(docs: DataFrame, target: UnigramLm, source: UnigramLm,
                     textCol: String, idCol: String): DataFrame = {
    val base = docs
      .select(col(idCol), size(toks(col(textCol))).as("n_tok"))
      .filter(col("n_tok") > 0)
    val matched = docs
      .select(col(idCol), explode(toks(col(textCol))).as("term"))
      .join(broadcast(target.termCounts.select(col("term"), col("log2_cnt1").as("lt"))),
        Seq("term"), "left")
      .join(broadcast(source.termCounts.select(col("term"), col("log2_cnt1").as("ls"))),
        Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("lt"), lit(0.0)) - coalesce(col("ls"), lit(0.0))).as("s_diff"))
    base
      .join(matched, Seq(idCol), "left")
      .crossJoin(broadcast(target.stats.select(col("log2_denom").as("den_t"))))
      .crossJoin(broadcast(source.stats.select(col("log2_denom").as("den_s"))))
      .select(col(idCol), col("n_tok"),
        (coalesce(col("s_diff"), lit(0.0))
          + col("n_tok") * (col("den_s") - col("den_t"))).as("logw"))
  }

  /** Gumbel-top-k importance resample: select exactly `k` rows with
    * probability ∝ 2^logw via the Gumbel-max trick. The Gumbel noise is
    * derived from the engine-reproducible content-hash uniform
    * u = (hashBucket(id)+0.5)/2^24 (never 0 or 1, so −ln u is finite and
    * positive), and a common positive rescale by 1/ln 2 keeps priorities
    * in the weight's own base-2 units:
    *
    *   priority = logw − log2(−ln u)
    *
    * Same corpus ⇒ same sample on any engine or partitioning; ties break
    * to the smaller id. Scale shape: priority is scan-side arithmetic and
    * the top-k is TakeOrderedAndProject — a k-row heap per task, P·k rows
    * to the driver, no corpus sort. */
  def dsirResample(weighted: DataFrame, idCol: String, logwCol: String,
                   k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (TextFunctions.hashBucket(col(idCol).cast("string"), 1 << 24)
      .cast("double") + lit(0.5)) / lit((1 << 24).toDouble)
    val pri = SamplingFunctions.tempCol(weighted, "__dsir_pri")
    weighted
      .withColumn(pri, col(logwCol) - log2(-log(u)))
      .orderBy(col(pri).desc, col(idCol).asc)
      .limit(k)
      .drop(pri)
  }

  // --------------------------------------------------------------------
  // Bigram stupid-backoff LM (Brants et al., EMNLP 2007 — the original
  // DISTRIBUTED n-gram LM): relative bigram frequency when the bigram was
  // observed, a fixed-penalty backoff to the Laplace unigram otherwise.
  // No normalization pass, no discounting iteration — exactly the variant
  // invented for map-reduce-scale corpora, and the natural step up from
  // [[unigramBitsPerToken]] as a fluency filter: word-salad text with
  // plausible unigrams now pays the backoff penalty on every transition.
  // --------------------------------------------------------------------

  /** Fitted stupid-backoff bigram LM.
    *
    * @param bigrams vocabulary²-bounded rows (wa, wb, log2_ratio) with
    *                log2_ratio = log2(cnt(wa,wb)) − log2(cnt(wa)) ≤ 0
    * @param unigram the Laplace unigram backoff distribution
    * @param alpha   backoff penalty factor (Brants et al. use 0.4)
    */
  final case class BigramLm(bigrams: DataFrame, unigram: UnigramLm, alpha: Double)

  /** Train the stupid-backoff bigram LM over lowercased whitespace tokens.
    * Two corpus-keyed aggregates (adjacent-pair counts and token counts),
    * both with map-side partials; the bigram ratio joins pair counts to
    * context counts at vocabulary scale, never corpus scale. The exchange
    * payload is the n-gram dictionary — the Brants et al. shape, where
    * count shards live keyed by n-gram. */
  def trainBigramLm(train: DataFrame, textCol: String,
                    alpha: Double = 0.4): BigramLm = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val ts = train.select(toks(col(textCol)).as("ts")).filter(size(col("ts")) > 0)
    val uniCnt = ts
      .select(explode(col("ts")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val pairCnt = ts
      .filter(size(col("ts")) >= 2)
      .select(explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("wa"), b.as("wb")))).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("cnt2"))
    val bigrams = pairCnt
      .join(uniCnt.select(col("term").as("wa"), col("cnt").as("cnt1")), "wa")
      .select(col("wa"), col("wb"),
        (log2(col("cnt2").cast("double")) - log2(col("cnt1").cast("double")))
          .as("log2_ratio"))
    // the same Laplace unigram [[trainUnigramLm]] fits, derived off the
    // uniCnt aggregate so the explode + exchange run once per job
    val stats = uniCnt
      .agg((sum(col("cnt")) + countDistinct(col("term"))).cast("double").as("t_plus_v"))
      .select(log2(col("t_plus_v")).as("log2_denom"))
    val unigram = UnigramLm(
      uniCnt.select(col("term"), log2(col("cnt") + lit(1.0)).as("log2_cnt1")), stats)
    BigramLm(bigrams, unigram, alpha)
  }

  /** Per-document cross-entropy in bits/token under stupid backoff:
    *
    *   bits(w_i | w_{i−1}) = −log2( cnt(w_{i−1} w_i) / cnt(w_{i−1}) )
    *     when the bigram was observed, else
    *   −log2 α + log2(T+V) − log2(cnt(w_i)+1)   (backoff to the Laplace
    *     unigram — OOV w_i pays the full log2(T+V) ceiling)
    *
    * The first token always scores under the unigram (no context, no α).
    * Scan shape: one transition explode joining the broadcast bigram and
    * unigram dictionaries, one first-token broadcast join, one doc-keyed
    * partial-aggregated sum — the corpus crosses no exchange wider than
    * (doc, bits). Zero-token documents are excluded.
    * Output: (idCol, n_tok, bits). */
  def backoffBitsPerToken(docs: DataFrame, lm: BigramLm, textCol: String,
                          idCol: String): DataFrame = {
    val backoffPenalty = -math.log(lm.alpha) / math.log(2.0)
    val uniDict = broadcast(
      lm.unigram.termCounts.select(col("term").as("wb"), col("log2_cnt1")))
    val stats = broadcast(lm.unigram.stats)
    val base = docs
      .select(col(idCol), toks(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 0)
    val first = base
      .select(col(idCol), element_at(col("ts"), 1).as("wb"))
      .join(uniDict, Seq("wb"), "left")
      .crossJoin(stats)
      .select(col(idCol),
        (col("log2_denom") - coalesce(col("log2_cnt1"), lit(0.0))).as("bits"))
    val trans = base
      .filter(size(col("ts")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("wa"), b.as("wb")))).as("p"))
      .select(col(idCol), col("p.wa").as("wa"), col("p.wb").as("wb"))
      .join(broadcast(lm.bigrams), Seq("wa", "wb"), "left")
      .join(uniDict, Seq("wb"), "left")
      .crossJoin(stats)
      .select(col(idCol),
        when(col("log2_ratio").isNotNull, -col("log2_ratio"))
          .otherwise(lit(backoffPenalty) + col("log2_denom")
            - coalesce(col("log2_cnt1"), lit(0.0))).as("bits"))
    first.unionByName(trans)
      .groupBy(col(idCol)).agg(sum(col("bits")).as("total_bits"))
      .join(base.select(col(idCol), size(col("ts")).as("n_tok")), Seq(idCol))
      .select(col(idCol), col("n_tok"),
        (col("total_bits") / col("n_tok")).as("bits"))
  }

  // --------------------------------------------------------------------
  // Platt scaling (Platt 1999): calibrate a raw classifier score into a
  // probability P(y=1 | s) = 1/(1 + exp(a·s + b)) by Newton-Raphson on
  // the regularized log-loss with Platt's prior-smoothed targets
  // t⁺ = (N⁺+1)/(N⁺+2), t⁻ = 1/(N⁻+2). A quality filter needs calibrated
  // probabilities, not raw log-odds, the moment thresholds are set ("keep
  // docs with P(good) ≥ 0.9") or scores from different models mix.
  // Deterministic: exact aggregates, a FIXED iteration count, and a
  // 2-parameter Newton solve — the oracle replays every iteration
  // unrolled, the same discipline as pageRank's oracle.
  // --------------------------------------------------------------------

  /** Fit Platt's sigmoid on (score, boolean label) rows. Each of the
    * `iterations` Newton steps is ONE map-side-partial aggregate (six
    * scalar sums: gradient, the 2×2 Hessian and the objective, fused)
    * with the current (a, b) baked in as literals; the solve is two
    * divisions on the driver — bounded scalars, never data. Steps are
    * SAFEGUARDED by the backtracking line search from
    * Lin-Weng-Keerthi's Platt pseudocode (A Note on Platt's Probabilistic
    * Outputs for SVM, 2007): a full Newton step is taken only if it
    * decreases the cross-entropy objective, else it halves (down to
    * 2⁻¹⁰) — on near-separable score distributions an undamped step can
    * overshoot and oscillate to a silently miscalibrated fit. Everything
    * stays deterministic (fixed outer iteration count, data-driven
    * halvings), and on well-conditioned data every full step is accepted,
    * so the unrolled undamped oracle replay (q196) is unchanged. If no
    * halving finds a decrease the iteration stops early at the current
    * optimum. Throws on a degenerate Hessian (all scores equal). Returns
    * (a, b). */
  private final case class PlattEval(g1: Double, g2: Double, h11: Double,
                                     h12: Double, h22: Double, f: Double)

  /** The safeguarded Newton loop, shared by the driver and distributed
    * paths of [[fitPlatt]] — identical arithmetic either way, only the
    * evaluation of the six sums differs. */
  private def plattSolve(np: Long, nn: Long, iterations: Int,
                         evalAt: (Double, Double) => PlattEval): (Double, Double) = {
    var a = 0.0
    var b = math.log((nn + 1.0) / (np + 1.0))
    var cur = evalAt(a, b)
    var stuck = false
    for (_ <- 1 to iterations if !stuck) {
      val det = cur.h11 * cur.h22 - cur.h12 * cur.h12
      require(math.abs(det) > 0,
        "fitPlatt: degenerate Hessian (are all scores identical?)")
      val da = (cur.h22 * cur.g1 - cur.h12 * cur.g2) / det
      val db = (cur.h11 * cur.g2 - cur.h12 * cur.g1) / det
      var step = 1.0
      var cand = evalAt(a - da, b - db)
      while (cand.f >= cur.f + 1e-10 && step >= 2.0 / 1024) {
        step /= 2
        cand = evalAt(a - step * da, b - step * db)
      }
      if (cand.f < cur.f + 1e-10) {
        a -= step * da; b -= step * db; cur = cand
      } else {
        // no decrease at the minimum step: the gradient is numerically
        // zero — (a, b) already sits at the optimum; further iterations
        // would re-derive the same rejected step
        stuck = true
      }
    }
    (a, b)
  }

  def fitPlatt(scored: DataFrame, scoreCol: String, labelCol: String,
               iterations: Int = 6,
               maxDriverRows: Int = 2000000): (Double, Double) = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val base = scored.select(col(scoreCol).cast("double").as("s"),
      col(labelCol).cast("boolean").as("y"))
    // r20 (guide §1.2 — don't run one corpus scan per evaluation point):
    // the fit consumes only (s, y) — ~9 bytes a row — and the unrolled
    // Newton previously paid ~8 eager jobs (checkpoint + count + one agg
    // per evaluation). Up to `maxDriverRows` (~32 MB collected) the probe
    // IS the data: limit(bound+1).collect() either feeds the driver loop
    // or proves the frame too big in one job (the pageRank r19
    // discipline). The distributed twin below is intact for bigger
    // frames; ClassifierSpec pins driver ≡ distributed on the same rows.
    // Null semantics replicate the aggregate path exactly: a null label
    // counts as false in np/nn, a row with null s contributes to NO sum
    // (every per-row term is null) but still counts in np/nn.
    val probe = base.limit(maxDriverRows + 1).collect()
    if (probe.length <= maxDriverRows) {
      var np = 0L; var nn = 0L
      for (r <- probe) { if (!r.isNullAt(1) && r.getBoolean(1)) np += 1 else nn += 1 }
      require(np > 0 && nn > 0, s"fitPlatt needs both classes, got +$np/-$nn")
      val tPos = (np + 1.0) / (np + 2.0)
      val tNeg = 1.0 / (nn + 2.0)
      val rows = probe.filter(!_.isNullAt(0))
      val n = rows.length
      val ss = new Array[Double](n)
      val tt = new Array[Double](n)
      var i = 0
      while (i < n) {
        ss(i) = rows(i).getDouble(0)
        tt(i) = if (!rows(i).isNullAt(1) && rows(i).getBoolean(1)) tPos else tNeg
        i += 1
      }
      def evalAt(a: Double, b: Double): PlattEval = {
        var g1 = 0.0; var g2 = 0.0; var h11 = 0.0; var h12 = 0.0
        var h22 = 0.0; var f = 0.0
        var j = 0
        while (j < n) {
          val s = ss(j); val t = tt(j)
          val z = a * s + b
          val p = 1.0 / (1.0 + math.exp(z))
          val w = p * (1.0 - p)
          g1 += (t - p) * s; g2 += t - p
          h11 += w * s * s; h12 += w * s; h22 += w
          f += (if (z >= 0) t * z + math.log1p(math.exp(-z))
                else (t - 1.0) * z + math.log1p(math.exp(z)))
          j += 1
        }
        PlattEval(g1, g2, h11, h12, h22, f)
      }
      plattSolve(np, nn, iterations, evalAt)
    } else {
      val df = base.localCheckpoint(true)
      val cnt = df.agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("np"),
        // not `!y`: a null label is negative here too, as in the target below
        sum(when(col("y"), 0L).otherwise(1L)).as("nn")).head()
      val np = cnt.getLong(0); val nn = cnt.getLong(1)
      require(np > 0 && nn > 0, s"fitPlatt needs both classes, got +$np/-$nn")
      val tPos = (np + 1.0) / (np + 2.0)
      val tNeg = 1.0 / (nn + 2.0)
      // One fused corpus-width scan per evaluation point: gradient, the
      // 2×2 Hessian AND the cross-entropy objective (overflow-safe split
      // form — z ≥ 0: t·z + log1p(e^{-z}); z < 0: (t−1)·z + log1p(e^{z}))
      // as six scalar sums. The accepted candidate's evaluation doubles
      // as the next iteration's gradient, so the safeguard costs ONE
      // extra scan total (the init) on well-conditioned data, not one
      // per step.
      def evalAt(a: Double, b: Double): PlattEval = {
        val z = lit(a) * col("s") + lit(b)
        val p = lit(1.0) / (lit(1.0) + exp(z))
        val t = when(col("y"), lit(tPos)).otherwise(lit(tNeg))
        val w = p * (lit(1.0) - p)
        val r = df.agg(
          sum((t - p) * col("s")).as("g1"),
          sum(t - p).as("g2"),
          sum(w * col("s") * col("s")).as("h11"),
          sum(w * col("s")).as("h12"),
          sum(w).as("h22"),
          sum(when(z >= 0, t * z + log1p(exp(-z)))
            .otherwise((t - lit(1.0)) * z + log1p(exp(z)))).as("f")).head()
        PlattEval(r.getDouble(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))
      }
      plattSolve(np, nn, iterations, evalAt)
    }
  }

  /** Apply a fitted Platt sigmoid: P(y=1 | s) = 1/(1 + exp(a·s + b)). */
  def plattProb(score: Column, a: Double, b: Double): Column =
    lit(1.0) / (lit(1.0) + exp(lit(a) * score + lit(b)))
}
