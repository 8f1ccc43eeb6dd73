package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[ClassifierFunctions]] — trained NB classifier and unigram-LM
  * perplexity. Semantics pinned against hand-computed values on a tiny
  * corpus (the closed-form Laplace scores), plus the plan properties that
  * make scoring scan-side: the model joins BROADCAST, and the per-doc
  * aggregation partial-aggregates before its one exchange. */
class ClassifierSpec extends SparkSpec {
  import ClassifierFunctions._
  import spark.implicits._

  // Tiny labeled corpus: en = {"the cat", "the dog"}, de = {"der hund"}.
  // Vocab V = 5 {the, cat, dog, der, hund}; T_en = 4, T_de = 2.
  private lazy val train = Seq(
    (1L, "the cat", "en"), (2L, "the dog", "en"), (3L, "der hund", "de"))
    .toDF("doc_id", "text", "lang")

  private lazy val model = trainNaiveBayes(train, "text", "lang")

  test("NB score matches the closed-form Laplace computation") {
    val test = Seq((10L, "the cat"), (11L, "der der")).toDF("doc_id", "text")
    val got = nbScore(test, model, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getDouble(2))).toMap
    // P(en)=2/3, P(de)=1/3; denominators: en 4+5=9, de 2+5=7.
    // "the cat" | en: ln(2/3) + ln(2+1) + ln(1+1) - 2 ln 9
    val theCatEn = math.log(2.0 / 3) + math.log(3.0) + math.log(2.0) - 2 * math.log(9.0)
    // "the cat" | de: both terms unseen in de → matched sum 0
    val theCatDe = math.log(1.0 / 3) - 2 * math.log(7.0)
    // "der der" | de: ln(1/3) + 2·ln(1+1) - 2 ln 7
    val derDerDe = math.log(1.0 / 3) + 2 * math.log(2.0) - 2 * math.log(7.0)
    assert(math.abs(got((10L, "en")) - theCatEn) < 1e-12)
    assert(math.abs(got((10L, "de")) - theCatDe) < 1e-12)
    assert(math.abs(got((11L, "de")) - derDerDe) < 1e-12)
    assert(got((10L, "en")) > got((10L, "de")))
    assert(got((11L, "de")) > got((11L, "en")))
  }

  test("NB predict: argmax with lexicographic tiebreak; zero-token doc scores priors") {
    val test = Seq((10L, "the cat"), (11L, "der hund"), (12L, "   ")).toDF("doc_id", "text")
    val pred = nbPredict(test, model, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred(10L) === "en")
    assert(pred(11L) === "de")
    // zero tokens → score = log_prior only; en has the larger prior (2/3)
    assert(pred(12L) === "en")
  }

  test("unigram bits/token matches the closed form; OOV-only doc hits the ceiling") {
    val lm = trainUnigramLm(train.select(col("text")), "text")
    // Unigram counts: the 2, cat 1, dog 1, der 1, hund 1; T=6, V=5, T+V=11.
    val test = Seq((1L, "the the cat"), (2L, "zzz qqq"), (3L, "")).toDF("doc_id", "text")
    val got = unigramBitsPerToken(test, lm, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    val expected1 = log2(11.0) - (2 * log2(3.0) + log2(2.0)) / 3.0
    assert(got(1L)._1 === 3)
    assert(math.abs(got(1L)._2 - expected1) < 1e-12)
    // every token OOV → bits = log2(T+V), the smoothing ceiling
    assert(math.abs(got(2L)._2 - log2(11.0)) < 1e-12)
    // zero-token docs are excluded, not scored
    assert(!got.contains(3L))
  }

  test("scoring plan: the exploded token stream joins the model BROADCAST, never sort-merge") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val m = trainNaiveBayes(docs, "text", "lang")
    val plan = nbScore(docs, m, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // the term-keyed join (corpus tokens × vocabulary model) must broadcast
    assert(plan.contains("BroadcastHashJoin [term"),
      "the vocabulary-sized model must broadcast into the token stream")
    // any sort-merge join may only be the (doc, label) score assembly —
    // one bounded row per doc×class, never keyed on term
    for (line <- plan.linesIterator if line.contains("SortMergeJoin"))
      assert(line.contains("doc_id"), s"unexpected SMJ not keyed on doc_id: $line")
  }

  test("NB separates classes when the text is actually informative") {
    // The driver corpus's lang column is independent of its text (all langs
    // share one vocabulary), so accuracy there is meaningless. Pin
    // separability on a corpus with (mostly) disjoint class vocabularies.
    val enWords = Vector("the", "cat", "sat", "on", "mat", "dog", "runs")
    val deWords = Vector("der", "hund", "katze", "auf", "matte", "läuft", "und")
    val rows = (0 until 200).map { i =>
      val words = if (i % 2 == 0) enWords else deWords
      val shared = if (i % 7 == 0) " spark" else "" // a little vocab overlap
      val text = (0 until 12).map(j => words((i * 31 + j * 17) % words.size))
        .mkString(" ") + shared
      (i.toLong, text, if (i % 2 == 0) "en" else "de")
    }
    val df = rows.toDF("doc_id", "text", "lang")
    val train = df.filter(col("doc_id") < 150)
    val test = df.filter(col("doc_id") >= 150)
    val m = trainNaiveBayes(train, "text", "lang")
    val pred = nbPredict(test, m, "text", "doc_id")
      .join(test.select(col("doc_id"), col("lang")), "doc_id")
    val n = pred.count()
    val good = pred.filter(col("pred_label") === col("lang")).count()
    assert(n === 50L)
    assert(good === n, s"disjoint-vocabulary classes must classify perfectly; got $good/$n")
  }

  test("DSIR log-weights match the closed-form two-LM computation") {
    // target = de slice {"der hund"}: T=2, V=2 → den_t = log2 4 = 2
    // source = all three docs: T=6, V=5 → den_s = log2 11
    val target = trainUnigramLm(train.filter(col("lang") === "de"), "text")
    val source = trainUnigramLm(train.select(col("text")), "text")
    val test0 = Seq((1L, "the cat"), (2L, "der der"), (3L, " ")).toDF("doc_id", "text")
    val got = dsirLogWeights(test0, target, source, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    // "the cat": no target matches; source matches log2(2+1) + log2(1+1)
    val w1 = -(log2(3.0) + 1.0) + 2.0 * (log2(11.0) - 2.0)
    // "der der": target 2·log2(1+1) = 2 cancels source 2·log2(1+1) = 2
    val w2 = 2.0 * (log2(11.0) - 2.0)
    assert(got(1L)._1 === 2)
    assert(math.abs(got(1L)._2 - w1) < 1e-12)
    assert(math.abs(got(2L)._2 - w2) < 1e-12)
    assert(got(2L)._2 > got(1L)._2, "the target-vocabulary doc must weigh more")
    assert(!got.contains(3L), "zero-token docs are excluded")
  }

  test("DSIR resample: exact k, deterministic across partitionings, replayable priorities") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").filter(col("n_chars") > 0)
    val target = trainUnigramLm(docs.filter(col("lang") === "de"), "text")
    val source = trainUnigramLm(docs, "text")
    val w = dsirLogWeights(docs, target, source, "text", "doc_id")
    val sel = dsirResample(w, "doc_id", "logw", k = 50)
    assert(sel.count() === 50L)
    val ids = sel.select("doc_id").collect().map(_.getLong(0)).sorted
    // same selection under a different parallelism
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val ids2 = dsirResample(
          dsirLogWeights(docs, target, source, "text", "doc_id"),
          "doc_id", "logw", k = 50)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(ids2.toSeq === ids.toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // the selection is the top-k of the replayable priority: recompute
    // driver-side from the collected weights and compare
    val all = w.collect().map(r => (r.getLong(0), r.getDouble(2)))
    def hb24(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(3)
      h.foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    }
    val expect = all.map { case (id, logw) =>
      val u = (hb24(id.toString).toDouble + 0.5) / (1 << 24).toDouble
      (id, logw - math.log(-math.log(u)) / math.log(2.0))
    }.sortBy { case (id, p) => (-p, id) }.take(50).map(_._1).sorted
    assert(ids.toSeq === expect.toSeq)
    // k larger than the pool returns everything
    assert(dsirResample(w, "doc_id", "logw", k = 100000).count() === w.count())
  }

  test("stupid-backoff bits/token match the closed form on the tiny corpus") {
    // bigram counts: (the,cat) 1, (the,dog) 1, (der,hund) 1;
    // unigram: the 2, cat/dog/der/hund 1; T+V = 11; α = 0.4
    val lm = trainBigramLm(train.select(col("text")), "text")
    val test0 = Seq(
      (1L, "the cat"),   // first log2(11/3); seen bigram −log2(1/2) = 1
      (2L, "cat der"),   // first log2(11/2); backoff + log2(11) − log2(2)
      (3L, "zzz qqq"),   // first log2(11); backoff + log2(11) (OOV wb)
      (4L, "the"),       // single token: unigram only, no α
      (5L, "")).toDF("doc_id", "text")
    val got = backoffBitsPerToken(test0, lm, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    val pen = -log2(0.4)
    assert(got(1L)._1 === 2)
    assert(math.abs(got(1L)._2 - (log2(11.0 / 3) + 1.0) / 2) < 1e-12)
    assert(math.abs(got(2L)._2 - (log2(11.0 / 2) + pen + log2(11.0) - 1.0) / 2) < 1e-12)
    assert(math.abs(got(3L)._2 - (log2(11.0) + pen + log2(11.0)) / 2) < 1e-12)
    assert(math.abs(got(4L)._2 - log2(11.0 / 3)) < 1e-12)
    assert(!got.contains(5L), "zero-token docs are excluded")
    // fluency separation: a seen-bigram chain undercuts the same unigrams
    // scrambled into unseen transitions
    assert(got(1L)._2 < got(2L)._2)
  }

  test("backoff LM ranks in-distribution transitions below word salad on a real split") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("n_chars") > 0)
      .withColumn("hb", TextFunctions.hashBucket(col("text"), 100))
    val lm = trainBigramLm(docs.filter(col("hb") >= 10), "text")
    val test0 = docs.filter(col("hb") < 10)
    val real = backoffBitsPerToken(test0, lm, "text", "doc_id")
    // scramble: reverse each doc's token order — same unigrams, broken bigrams
    val scrambled = test0.select(col("doc_id"),
      concat_ws(" ", reverse(split(trim(col("text")), "\\s+"))).as("text"))
    val mixed = backoffBitsPerToken(scrambled, lm, "text", "doc_id")
    val a = real.agg(avg(col("bits"))).head().getDouble(0)
    val b = mixed.agg(avg(col("bits"))).head().getDouble(0)
    assert(a < b, s"natural order must score fewer bits than reversed ($a vs $b)")
  }

  test("DSIR and backoff scoring plans broadcast the dictionaries into the token stream") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").filter(col("n_chars") > 0)
    val target = trainUnigramLm(docs.filter(col("lang") === "de"), "text")
    val source = trainUnigramLm(docs, "text")
    val p1 = dsirLogWeights(docs, target, source, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin [term"),
      "both LM vocabularies must broadcast into the exploded token stream")
    val lm = trainBigramLm(docs, "text")
    val p2 = backoffBitsPerToken(docs, lm, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin [wa"),
      "the bigram dictionary must broadcast into the transition stream")
    for (line <- p2.linesIterator if line.contains("SortMergeJoin"))
      assert(line.contains("doc_id"), s"unexpected SMJ not keyed on doc_id: $line")
  }

  test("Platt scaling: stationary fit, slope recovery, monotone probabilities, determinism") {
    // deterministic pseudo-labels from a known sigmoid of slope 1.2
    val rows = (0 until 400).map { i =>
      val s = (i % 100) / 10.0 - 5.0
      val u = ((i * 2654435761L) & 0xffffL).toDouble / 65536.0
      (s, 1.0 / (1.0 + math.exp(-1.2 * s)) > u)
    }
    val df = rows.toDF("s", "y")
    val (a, b) = fitPlatt(df, "s", "y")
    // Platt form p = 1/(1+exp(a·s+b)) increases in s ⇔ a < 0; slope ≈ −1.2
    assert(a < 0)
    assert(math.abs(-a - 1.2) < 0.4, s"slope off: a=$a")
    // first-order optimality: the gradient vanishes at the fit
    val np = rows.count(_._2); val nn = rows.size - np
    val (tp, tn) = ((np + 1.0) / (np + 2.0), 1.0 / (nn + 2.0))
    val g = rows.map { case (s, y) =>
      val p = 1.0 / (1.0 + math.exp(a * s + b))
      val t = if (y) tp else tn
      (t - p) * s -> (t - p)
    }
    assert(math.abs(g.map(_._1).sum) < 1e-6, "d/da not stationary")
    assert(math.abs(g.map(_._2).sum) < 1e-6, "d/db not stationary")
    // calibrated probabilities are monotone in the score
    val ps = Seq(-4.0, -1.0, 0.0, 1.0, 4.0)
      .map(s => 1.0 / (1.0 + math.exp(a * s + b)))
    assert(ps === ps.sorted)
    // determinism across partitionings
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val (a2, b2) = fitPlatt(df.repartition(7), "s", "y")
      assert(math.abs(a2 - a) < 1e-9 && math.abs(b2 - b) < 1e-9)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // r20: the bounded driver fast path ≡ the distributed twin on the
    // same rows (maxDriverRows = 0 forces the aggregate path)
    val (a3, b3) = fitPlatt(df, "s", "y", maxDriverRows = 0)
    assert(math.abs(a3 - a) < 1e-9 && math.abs(b3 - b) < 1e-9,
      s"driver fast path diverged from distributed: ($a,$b) vs ($a3,$b3)")
    // degenerate inputs refuse loudly
    intercept[IllegalArgumentException] {
      fitPlatt(Seq((1.0, true), (2.0, true)).toDF("s", "y"), "s", "y")
    }
  }

  test("Platt fit survives near-separable margins (backtracking safeguard)") {
    // perfectly separable, wide margins — the regime where an undamped
    // Newton step overshoots: w = p(1−p) → 0 far from the boundary, the
    // Hessian collapses and the raw step explodes. The safeguarded fit
    // must land on a finite stationary point with non-increasing loss.
    val rows = (1 to 60).map(i => (i.toDouble * 3, true)) ++
      (1 to 60).map(i => (-i.toDouble * 3, false))
    val df = rows.toDF("s", "y")
    val (a, b) = fitPlatt(df, "s", "y", iterations = 12)
    assert(java.lang.Double.isFinite(a) && java.lang.Double.isFinite(b),
      s"fit diverged: a=$a b=$b")
    assert(a < 0, "p must increase with the score")
    // the fitted loss is no worse than Platt's init (a=0, b=log(nn+1/np+1))
    val np = rows.count(_._2); val nn = rows.size - np
    val (tp, tn) = ((np + 1.0) / (np + 2.0), 1.0 / (nn + 2.0))
    def loss(aa: Double, bb: Double) = rows.map { case (s, y) =>
      val z = aa * s + bb
      val t = if (y) tp else tn
      if (z >= 0) t * z + math.log1p(math.exp(-z))
      else (t - 1) * z + math.log1p(math.exp(z))
    }.sum
    assert(loss(a, b) <= loss(0.0, math.log((nn + 1.0) / (np + 1.0))) + 1e-9)
    // probabilities stay calibrated-monotone and saturate the right way
    val pLo = 1.0 / (1.0 + math.exp(a * -150 + b))
    val pHi = 1.0 / (1.0 + math.exp(a * 150 + b))
    assert(pLo < 0.2 && pHi > 0.8, s"saturation wrong: $pLo / $pHi")
  }

  test("Platt fit: a null label is a negative on the driver and distributed paths alike") {
    val rows: Seq[(Option[Double], Option[Boolean])] = (0 until 80).map { i =>
      val s = (i % 20) / 2.0 - 5.0
      val u = ((i * 2654435761L) & 0xffffL).toDouble / 65536.0
      (Some(s), if (i % 7 == 0) None else Some(1.0 / (1.0 + math.exp(-s)) > u))
    } :+ ((None, Some(true)))
    val df = rows.toDF("s", "y")
    val (a, b) = fitPlatt(df, "s", "y")
    val (a0, b0) = fitPlatt(df, "s", "y", maxDriverRows = 0)
    assert(math.abs(a0 - a) < 1e-9 && math.abs(b0 - b) < 1e-9,
      s"null labels split the twins: driver ($a,$b) vs distributed ($a0,$b0)")
    // and the fit is the one with every null label written as false
    val relabelled = rows.map { case (sc, y) => (sc, y.orElse(Some(false))) }.toDF("s", "y")
    val (a1, b1) = fitPlatt(relabelled, "s", "y", maxDriverRows = 0)
    assert(math.abs(a1 - a) < 1e-9 && math.abs(b1 - b) < 1e-9)
  }

  test("confusion matrix is deterministic across shuffle parallelisms (float-argmax stability)") {
    def conf(): Map[(String, String), Long] = {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .filter(col("n_chars") > 0)
        .withColumn("hb", TextFunctions.hashBucket(col("text"), 100))
      val m = trainNaiveBayes(docs.filter(col("hb") >= 10), "text", "lang")
      val test = docs.filter(col("hb") < 10)
      nbPredict(test, m, "text", "doc_id")
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("pred_label")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    val base = conf()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(conf() === base,
        "per-doc score sums must argmax identically under a different partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
