package graft.functions

import graft.expr.LowerExpr
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything is built from `org.apache.spark.sql.functions` so the whole
  * pipeline stays inside whole-stage codegen — no UDFs in the hot path. At
  * 100 TB these run as a single narrow projection pass over the scan (no
  * shuffle), so throughput is IO-bound, which is the optimum.
  */
object TextFunctions {

  /** SQL `lower`, by [[graft.expr.CaseMap]]; graft lowercases only through it. */
  def lowerCase(text: Column): Column = ColumnBridge.column(LowerExpr(ColumnBridge.expression(text)))

  /** Whitespace tokenization. `split` on \s+ after trim; empty string → 0. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Token count (whitespace tokens). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** All word n-grams WITH repeats (space-joined), in order — the
    * multiset the overlap metrics count; the distinct-shingle native
    * expression serves the dedup family, which only needs membership. */
  def ngramList(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val tk = tokens(text)
    when(size(tk) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", slice(tk, i + lit(1), lit(n)))))
  }

  /** Clipped n-gram overlap between a candidate and a reference text —
    * the integer core of BLEU-n precision and ROUGE-n recall:
    * `struct(matches, cand_n, ref_n)` where `matches` = Σ over distinct
    * candidate n-grams g of min(count_cand(g), count_ref(g)) (the
    * standard clipping: a candidate repeating a reference gram more
    * often than the reference did gets no extra credit), `cand_n` /
    * `ref_n` = total n-gram counts. BLEU-n precision = matches/cand_n,
    * ROUGE-n recall = matches/ref_n — both single IEEE divisions of
    * exact integers, so a DuckDB oracle reproduces them bit-for-bit
    * (the q115 convention; the geometric-mean/exp composition of full
    * BLEU is left to [[bleu]], whose transcendentals are NOT
    * oracle-stable and are therefore not driver-gated).
    *
    * Scale shape: pure per-row column expressions — eval scoring runs as
    * a narrow projection over the scan, no shuffle, no UDF; cost per row
    * is O(distinct-grams × grams) array scanning, bounded by text
    * length (eval references are sentences/paragraphs). */
  def ngramOverlap(cand: Column, ref: Column, n: Int): Column =
    clippedOverlap(ngramList(cand, n), ngramList(ref, n))

  /** Clipped-overlap core shared by the word ([[ngramOverlap]]) and
    * character ([[charNgramOverlap]]) metrics: Σ over distinct candidate
    * grams of min(count_cand, count_ref), plus both totals. */
  private def clippedOverlap(cg: Column, rg: Column): Column = {
    val matches = aggregate(array_distinct(cg), lit(0),
      (acc, g) => acc + least(size(filter(cg, x => x === g)),
        size(filter(rg, x => x === g))))
    struct(matches.as("matches"), size(cg).as("cand_n"), size(rg).as("ref_n"))
  }

  /** All character n-grams WITH repeats over the whitespace-stripped
    * text — the chrF convention (spaces carry no signal; stripping them
    * keeps the metric tokenization-independent, which is chrF's point). */
  def charNgramList(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val s = regexp_replace(text, "\\s+", "")
    when(length(s) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(s) - (n - 1)),
        i => substring(s, i, lit(n))))
  }

  /** Clipped character n-gram overlap — the integer core of chrF-n:
    * `struct(matches, cand_n, ref_n)` with the same clipping as
    * [[ngramOverlap]]. chrP-n = matches/cand_n, chrR-n = matches/ref_n;
    * single IEEE divisions of exact integers, oracle-stable. */
  def charNgramOverlap(cand: Column, ref: Column, n: Int): Column =
    clippedOverlap(charNgramList(cand, n), charNgramList(ref, n))

  /** Full chrF score: Fβ of the macro-averaged character n-gram
    * precision/recall over orders 1..maxN (orders where both sides have
    * zero n-grams are skipped, the sacrebleu convention; β=2 weights
    * recall double). Entirely rational arithmetic — but the average and
    * Fβ compose several divisions, so the driver oracle pins the per-order
    * components ([[charNgramOverlap]]) and this composition is spec-only. */
  def chrF(cand: Column, ref: Column, maxN: Int = 6, beta: Double = 2.0): Column = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    val orders = (1 to maxN).map { n =>
      val o = charNgramOverlap(cand, ref, n)
      val m = o.getField("matches").cast("double")
      val cn = o.getField("cand_n"); val rn = o.getField("ref_n")
      val present = (cn > 0) || (rn > 0)
      (when(present, m / when(cn === 0, lit(1)).otherwise(cn)).otherwise(lit(0.0)),
        when(present, m / when(rn === 0, lit(1)).otherwise(rn)).otherwise(lit(0.0)),
        when(present, lit(1.0)).otherwise(lit(0.0)))
    }
    val k = orders.map(_._3).reduce(_ + _)
    val denom = when(k === 0, lit(1.0)).otherwise(k)
    val p = orders.map(_._1).reduce(_ + _) / denom
    val r = orders.map(_._2).reduce(_ + _) / denom
    val b2 = lit(beta * beta)
    when(k === 0, lit(0.0))
      .otherwise(when(p + r === 0, lit(0.0))
        .otherwise((lit(1.0) + b2) * p * r / (b2 * p + r)))
  }

  /** ROUGE-L integer core: `struct(lcs, cand_n, ref_n)` where `lcs` is
    * the token-level longest-common-subsequence length (native two-row
    * DP, [[graft.expr.LcsTokensExpr]]). ROUGE-L precision = lcs/cand_n,
    * recall = lcs/ref_n — single divisions of exact integers,
    * oracle-stable. Per-row cost is O(cand·ref) tokens: pre-truncate
    * open-ended documents; eval references are sentence/paragraph sized. */
  def rougeL(cand: Column, ref: Column): Column =
    struct(graft.expr.NativeFunctions.lcs_tokens(cand, ref).as("lcs"),
      tokenCount(cand).as("cand_n"), tokenCount(ref).as("ref_n"))

  /** ROUGE-L Fβ (β=1 → harmonic mean of LCS precision/recall; 0 when the
    * LCS is empty). Rational arithmetic, but composed divisions — the
    * driver oracle pins [[rougeL]]'s components; use r6-rounded outputs
    * when cross-engine comparing this composition. */
  def rougeLScore(cand: Column, ref: Column, beta: Double = 1.0): Column = {
    val o = rougeL(cand, ref)
    val l = o.getField("lcs").cast("double")
    val p = l / when(o.getField("cand_n") === 0, lit(1)).otherwise(o.getField("cand_n"))
    val r = l / when(o.getField("ref_n") === 0, lit(1)).otherwise(o.getField("ref_n"))
    val b2 = lit(beta * beta)
    when(p + r === 0, lit(0.0))
      .otherwise((lit(1.0) + b2) * p * r / (b2 * p + r))
  }

  /** Full BLEU score (uniform weights over 1..maxN, brevity penalty,
    * zero when any order has zero matches — the uncommon unsmoothed
    * convention, stated so the number is interpretable). For driver
    * oracle parity use [[ngramOverlap]]'s rational components; exp/ln
    * round-trips are not bit-stable across engines. */
  def bleu(cand: Column, ref: Column, maxN: Int = 4): Column = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    val parts = (1 to maxN).map { n =>
      val o = ngramOverlap(cand, ref, n)
      o.getField("matches").cast("double") /
        when(o.getField("cand_n") === 0, lit(1)).otherwise(o.getField("cand_n"))
    }
    val logSum = parts.map(p => log(p)).reduce(_ + _)
    val candLen = tokenCount(cand).cast("double")
    val refLen = tokenCount(ref).cast("double")
    val bp = when(candLen >= refLen, lit(1.0))
      .otherwise(exp(lit(1.0) - refLen / when(candLen === 0, lit(1)).otherwise(candLen)))
    when(parts.map(p => p > 0).reduce(_ && _),
      bp * exp(logSum / maxN)).otherwise(lit(0.0))
  }

  /** BPE-ish subword count estimate: alphanumeric runs + each non-space
    * symbol count as one token — the common pre-tokenizer shape used by
    * BPE vocabularies. One regexp_extract_all pass; the pattern avoids
    * lookaround so the DuckDB (RE2) oracle computes it identically. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** TF-IDF over lowercased whitespace terms (smooth idf:
    * `ln((N+1)/(df+1)) + 1`, the sklearn convention). Returns
    * (idCol, term, tf, tfidf).
    *
    * Scale shape: one explode feeds BOTH aggregations — (doc, term)
    * term-frequency and per-term document frequency — each a hash
    * aggregation with map-side partials; the (term, df) dictionary is
    * compact (vocabulary-sized, not corpus-sized) so Catalyst broadcasts
    * it into the final join when it fits, and AQE handles the skewed
    * stopword terms otherwise. `nDocs` is passed in (callers know their
    * corpus count) to keep this a pure plan builder. */
  def tfIdf(df: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
            nDocs: Long): org.apache.spark.sql.DataFrame = {
    // lowercase the document once (codegen) rather than per token through an
    // interpreted transform lambda; \s boundaries are case-invariant
    val toks = df.select(col(idCol),
      explode(tokens(lowerCase(col(textCol)))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = toks.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(docFreq, "term")
      .select(col(idCol), col("term"), col("tf"),
        (col("tf") * (log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + 1.0)).as("tfidf"))
  }

  /** Deterministic content-hash bucket in [0, buckets) — the train/test/
    * holdout split primitive: engine-independent (md5), stable across
    * runs/partitionings, and correlated with nothing in the data. Split
    * membership is `hashBucket(text, 100) < 10` for a 10% holdout. */
  def hashBucket(text: Column, buckets: Int): Column = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    pmod(conv(substring(md5(text), 1, 6), 16, 10).cast("long"), lit(buckets.toLong))
  }

  /** n-gram repetition ratio — the repetitive-text quality signal
    * (boilerplate/spam filtering): fraction of n-gram occurrences that are
    * repeats, `1 − distinct/total`. 0 for fully novel text and for texts
    * shorter than n tokens; → 1 for looping text. Distinct counting rides
    * the native shingle expression. */
  def repetitionRatio(text: Column, n: Int): Column = {
    val total = greatest(tokenCount(text) - (n - 1), lit(0)).cast("double")
    val distinctN = size(graft.expr.NativeFunctions.word_ngrams(text, n)).cast("double")
    when(total === 0, 0.0).otherwise(lit(1.0) - distinctN / total)
  }

  /** Dedup-normalization: lowercase, non-alphanumerics → space, collapse
    * runs, trim — the canonicalization pass run before exact-hashing so
    * trivially-reformatted copies collapse (RE2-compatible for the DuckDB
    * oracle). */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lowerCase(trim(text)), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\.,;:!\\?]", ""))

  /** Uppercase-letter ratio over all letters. */
  def upperRatio(text: Column): Column = {
    val uppers = length(text) - length(regexp_replace(text, "[A-Z]", ""))
    val letters = length(text) - length(regexp_replace(text, "[A-Za-z]", ""))
    when(letters === 0, 0.0).otherwise(uppers.cast("double") / letters)
  }

  /** Stopword ratio: fraction of tokens that are in the given stopword set. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val stops = filter(toks, t => lowerCase(t).isin(stopwords: _*))
    when(size(toks) === 0, 0.0)
      .otherwise(size(stops).cast("double") / size(toks))
  }

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /** Composite quality score in [0,1]: penalizes very short docs, extreme
    * punctuation density and all-caps shouting — the shape of heuristic
    * quality filters used for pretraining-data curation. Deterministic and
    * expressible in ANSI SQL for oracle checks. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / 100.0, lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(length(text), lit(1)).cast("double")
    val punctScore = when(punctRatio > 0.2, 0.0).otherwise(lit(1.0) - punctRatio * 5.0 * 0.5)
    val caseScore = lit(1.0) - upperRatio(text) * 0.5
    (lenScore * 0.4 + punctScore * 0.3 + caseScore * 0.3)
  }

  /** n-gram-free language-ID heuristic: score by presence of high-frequency
    * marker words per language; argmax wins, 'und' when nothing matches.
    * Real-world engines use char-n-gram models; the Spark-side shape
    * (single projection, no shuffle) is identical, so the scorer can be
    * swapped without touching the plan. */
  def langIdHeuristic(text: Column, markers: Map[String, Seq[String]]): Column = {
    val toks = transform(tokens(text), lower _)
    // score per language = number of tokens that are marker words
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") === 0, "und").otherwise(best.getField("lang"))
  }

  /** Rolling polynomial hash fingerprint of the token stream (document
    * fingerprinting): order-sensitive 64-bit hash, computed with a single
    * `aggregate` fold — distributed, no UDF. */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(1003L),
      (acc, t) => pmod(acc * 1000003L + crc32(t).cast("long"), lit(1000000007L)))

  /** Cross-engine-reproducible fingerprint: same mod-prime rolling hash as
    * [[fingerprint]] but the per-token value is the first 24 bits of
    * md5(token) (crc32 has no DuckDB counterpart). Production uses
    * [[fingerprint]]; this variant is the oracle-verified parity witness.
    * No overflow under ANSI: acc < 1e9+7, so acc*1000003 + 2^24 < 2^50. */
  def fingerprintMd5(text: Column): Column =
    aggregate(tokens(text), lit(1003L),
      (acc, t) => pmod(
        acc * 1000003L + conv(substring(md5(t), 1, 6), 16, 10).cast("long"),
        lit(1000000007L)))

  /** PII redaction: emails, dotted-quad IPs, and phone-like digit runs
    * replaced by typed placeholders — the scrubbing pass a training corpus
    * gets before anything else sees it. Three codegen'd regexp_replace
    * passes (RE2-compatible patterns: no lookaround, so the same patterns
    * run in DuckDB/Go/Rust scrubbers bit-identically); zero shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
      "\\b\\+?\\d[\\d -]{7,}\\d\\b", "<PHONE>")

  /** Shannon entropy (nats) of the character distribution — the
    * perplexity-proxy quality signal: gibberish and repeated-char spam sit
    * at the extremes, natural text in a narrow band. O(distinct·len) per
    * row as a pure expression tree; a native expression is the upgrade
    * path if profiles demand (distinct alphabet is small, so it hasn't). */
  def charEntropy(text: Column): Column = {
    val chars = split(text, "")
    val n = size(chars).cast("double")
    aggregate(array_distinct(chars), lit(0.0), (acc, c) => {
      val p = size(filter(chars, x => x === c)).cast("double") / n
      acc - p * log(p)
    })
  }

  /** Token-window chunking for LLM context preparation: overlapping windows
    * of `chunkSize` tokens stepping by `chunkSize - overlap`. Returns
    * `array<struct<chunk_idx int, chunk_text string>>` — explode it into
    * one training sample per chunk. Chunk i covers tokens
    * [i·step, i·step + chunkSize); the final chunk may be short; an
    * empty/whitespace text yields an empty array (no chunks).
    *
    * Pure expression tree (split/slice/concat_ws inside codegen) — chunking
    * 100 TB is a narrow projection with zero shuffle, and the downstream
    * explode multiplies rows ~len/step× without materializing the token
    * array more than once per row. */
  def chunkTokens(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize), got $overlap")
    val step = chunkSize - overlap
    val toks = tokens(text)
    val n = size(toks)
    val emptySchema = "array<struct<chunk_idx:int,chunk_text:string>>"
    when(n === 0, array().cast(emptySchema)).otherwise(
      transform(
        sequence(lit(0), floor((n - 1) / step).cast("int")),
        i => struct(
          i.cast("int").as("chunk_idx"),
          concat_ws(" ", slice(toks, i * step + 1, lit(chunkSize))).as("chunk_text"))))
  }

  /** Sequence packing: assign each document a bin id so every bin holds
    * ~`targetTokens` tokens — the sample-packing step that turns a ragged
    * corpus into fixed-budget training batches. Bin = cumulative token
    * count (before this doc) ÷ target, accumulated per `part` partition in
    * `ord` order — deterministic, one shuffle on the partition key, and an
    * oversized doc overflows its own bin without shifting earlier ones.
    *
    * Scale note: the window cumsum keeps each partition's packing
    * independent, so 100 TB packs as (partitions × linear scan); the
    * alternative greedy first-fit is inherently sequential and does not
    * distribute. */
  def packBins(tokenCount: Column, targetTokens: Long, part: Seq[Column],
               ord: Seq[Column]): Column = {
    require(targetTokens >= 1, s"targetTokens must be >= 1, got $targetTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(part: _*).orderBy(ord: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val before = coalesce(sum(tokenCount).over(w), lit(0L))
    floor(before / targetTokens).cast("long")
  }

  /** Boilerplate flagging: per-doc count of distinct word n-grams that land
    * in the corpus-wide top-`topK` most frequent n-grams (navigation chrome,
    * license headers, cookie banners — the text every crawl repeats). Docs
    * with zero hits are dropped; downstream either filters on a hit
    * threshold or strips the flagged grams.
    *
    * Scale shape: the top-K dictionary comes from one explode + hash
    * aggregation with map-side partials (n-grams computed scan-side by the
    * native [[graft.expr.WordNgramsExpr]]), and K rows broadcast back — the
    * corpus is scanned twice but never shuffled beyond fixed-size
    * (gram, count) partials. Top-K tie at the boundary is broken by the
    * gram itself, keeping the dictionary deterministic. */
  def boilerplateHits(df: org.apache.spark.sql.DataFrame, textCol: String,
                      idCol: String, n: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val grams = df.select(col(idCol),
      explode(graft.expr.NativeFunctions.word_ngrams(col(textCol), n)).as("__g"))
    val top = grams.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__g")).limit(topK).select(col("__g"))
    grams.join(broadcast(top), "__g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("boilerplate_hits"))
  }

  /** Collocation mining: adjacent-word bigrams ranked by pointwise mutual
    * information, `pmi = ln( (c_ab/B) / ((c_a/U)·(c_b/U)) )` with B = total
    * bigram and U = total unigram occurrences — high-PMI pairs are the
    * multi-word expressions ("machine learning", "new york") a tokenizer
    * or phrase-aware index wants to treat as units; raw bigram frequency
    * ranks "of the" first, which is exactly what PMI corrects. A
    * `minCount` floor is mandatory hygiene: a pair of two hapaxes scores
    * the maximum PMI on one occurrence.
    *
    * Scale shape: one token explode feeds the unigram aggregate, one
    * sliding zip feeds the bigram aggregate (both map-side partials,
    * vocabulary-sized outputs); unigram counts broadcast-join back onto
    * the bigram table twice (word vocabulary — the same bounded
    * dictionary [[boilerplateHits]] and the TF-IDF path broadcast);
    * totals ride 0-partition windows over those bounded tables. The
    * corpus itself never shuffles. */
  def collocationsPmi(df: org.apache.spark.sql.DataFrame, textCol: String,
                      minCount: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = tokens(lowerCase(col(textCol)))
    val uni = df.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .withColumn("u_total", sum(col("cw")).over())
    val bi = df.select(explode(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => struct(a.as("wa"), b.as("wb")))).as("p"))
      .groupBy(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .agg(count(lit(1)).as("cab"))
      .withColumn("b_total", sum(col("cab")).over())
      .filter(col("cab") >= minCount)
    bi
      .join(broadcast(uni.select(col("w").as("wa"), col("cw").as("ca"), col("u_total"))), "wa")
      .join(broadcast(uni.select(col("w").as("wb"), col("cw").as("cb"))), "wb")
      .withColumn("pmi",
        log((col("cab").cast("double") / col("b_total")) /
          ((col("ca").cast("double") / col("u_total")) *
            (col("cb").cast("double") / col("u_total")))))
      .select(col("wa"), col("wb"), col("cab"), col("pmi"))
      .orderBy(col("pmi").desc, col("wa"), col("wb"))
      .limit(topK)
  }
}
