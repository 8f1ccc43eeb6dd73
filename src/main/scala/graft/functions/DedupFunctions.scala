package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Generations

/** Deduplication operators for training-data pipelines: exact, MinHash/LSH,
  * SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB): every variant is a narrow projection to a compact
  * key (digest / band signature / simhash bucket) followed by ONE shuffle on
  * that key. Document payloads never shuffle — only (key, doc_id) pairs —
  * so the shuffle volume is O(rows × key width), not O(corpus bytes).
  * Candidate verification (Jaccard) happens only within buckets.
  */
object DedupFunctions {

  /** Exact-duplicate key: md5 of the raw text. Deterministic across engines
    * (used by the DuckDB oracle too). */
  def exactKey(text: Column): Column = md5(text.cast("string"))

  /** Exact dedup: keep the lowest-id row per identical text.
    * One hash-shuffle on the 128-bit digest; skew-safe (identical docs are
    * the skew, and they collapse in the map-side partial agg). */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val rn = SamplingFunctions.tempCol(df, "__rn")
    val w = Window.partitionBy(exactKey(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
  }

  /** Exact-duplicate groups: (digest, n_dups, canonical_id), groups of 1
    * included only when `includeSingletons`. */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String,
                     includeSingletons: Boolean = false): DataFrame = {
    val g = df.groupBy(exactKey(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("canonical_id"))
    if (includeSingletons) g else g.filter(col("n_dups") > 1)
  }

  /** Exact dedup keeping the BEST row of each duplicate group — C4 keeps
    * the longest copy, a quality-filtered pipeline keeps the
    * highest-scoring one; [[dedupExact]]'s keep-first is the special case
    * score = −id. Winner = max(struct(score, id)) per digest: the id
    * tiebreak makes the choice total and deterministic for equal scores.
    *
    * Scale shape: digest groupBy (map-side partials — identical docs ARE
    * the skew and they collapse in the partial agg) + an equi-join back
    * on (digest, id); no digest-keyed window, so a viral exact dup never
    * owns a whole sort partition. */
  def dedupExactKeepBest(df: DataFrame, textCol: String, idCol: String,
                         scoreCol: Column): DataFrame = {
    // collision-free scratch name: an input that already HAS a __h column
    // must survive intact (the add-then-drop hazard tempCol exists for)
    val h = SamplingFunctions.tempCol(df, "__h")
    val keyed = df.withColumn(h, exactKey(col(textCol)))
    val winners = keyed
      .select(col(h), struct(scoreCol.as("s"), col(idCol).as("i")).as("w"))
      .groupBy(col(h))
      .agg(max(col("w")).as("w"))
      .select(col(h), col("w").getField("i").as(idCol))
    keyed.join(winners.hint("shuffle_hash"), Seq(h, idCol), "left_semi")
      .drop(h)
  }

  /** Word n-gram shingles of a text column (n ≥ 1). n=1 → tokens. */
  def shingles(text: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    val toks = TextFunctions.tokens(text)
    if (n == 1) toks
    else when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** One MinHash value: min over shingles of md5(salt ++ shingle), kept as
    * the hex digest string so the DuckDB oracle can reproduce it exactly.
    * (Production note: xxhash64 is cheaper; md5 keeps cross-engine parity.) */
  def minhash(text: Column, n: Int, salt: String): Column =
    array_min(transform(shingles(text, n), s => md5(concat(lit(salt), s))))

  /** MinHash signature of `numHashes` salted hashes (salt `i` = "s<i>",
    * matching [[minhash]]). Delegates to the native Catalyst expression
    * [[graft.expr.MinHashSignatureExpr]] — one tight pass per row, no
    * shuffle; profiled 8× faster than the interpreted higher-order-function
    * fold at sf0.1 (0.5 s vs 4.0 s for 5 k docs). */
  def minhashSignature(text: Column, n: Int, numHashes: Int): Column =
    graft.expr.NativeFunctions.minhash_signature(text, n, numHashes)

  /** The composable HOF formulation of [[minhashSignature]] — kept as the
    * executable specification the native expression is tested against. */
  def minhashSignatureHof(text: Column, n: Int, numHashes: Int): Column = {
    val sh = shingles(text, n)
    aggregate(sh,
      array_repeat(lit(null).cast("string"), numHashes),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (a, j) => least(a, md5(concat(lit("s"), j.cast("string"), s)))))
  }

  /** Choose (bands, rowsPerBand) for a target Jaccard threshold under a
    * signature-size budget. A (b, r) scheme fires on a pair with
    * probability 1 − (1 − J^r)^b — an S-curve whose inflection sits near
    * (1/b)^(1/r). This scans every b×r ≤ maxHashes and picks the scheme
    * minimizing the weighted false-positive area below the threshold plus
    * false-negative area above it (the datasketch weighting, integrated
    * numerically) — so callers state intent ("dedupe at J ≥ 0.8 with 16
    * hashes") instead of hand-tuning band geometry. */
  def lshParams(threshold: Double, maxHashes: Int = 16,
                falseNegativeWeight: Double = 0.5): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1), got $threshold")
    require(maxHashes >= 2, s"maxHashes must be >= 2, got $maxHashes")
    def pCandidate(j: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(j, r), b)
    val steps = 200
    def error(b: Int, r: Int): Double = {
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < steps) {
        val j = (i + 0.5) / steps
        if (j < threshold) fp += pCandidate(j, b, r)
        else fn += 1.0 - pCandidate(j, b, r)
        i += 1
      }
      (1 - falseNegativeWeight) * fp / steps + falseNegativeWeight * fn / steps
    }
    val candidates = for {
      b <- 1 to maxHashes
      r <- 1 to maxHashes
      if b * r <= maxHashes
    } yield ((b, r), error(b, r))
    candidates.minBy(_._2)._1
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD
    * 2003 — the MOSS algorithm): hash every word k-gram (salted md5 hex,
    * the engine's cross-engine-replayable hash idiom), slide a window of
    * `w` consecutive hashes, keep each window's minimum, return the
    * DISTINCT minima. The guarantee that makes this the local-similarity
    * detector: any shared run of ≥ k+w−1 consecutive tokens between two
    * documents yields at least one SHARED fingerprint (the windows
    * covering the run's k-grams pick the same minimum somewhere), while
    * no match shorter than k tokens can fire at all — position-robust
    * (content-addressed, so prefix insertions don't move them) and
    * tunable noise/guarantee thresholds, where MinHash-LSH estimates
    * WHOLE-document similarity. Short docs: fewer than k tokens → empty;
    * fewer than w hashes → one window over what exists. ~m/(w/2)
    * fingerprints per m-token doc in expectation. Native expression
    * ([[graft.expr.WinnowExpr]] — one tokenize, one MessageDigest, ring
    * minima); [[winnowFingerprintsHof]] is the bit-parity spec twin. */
  def winnowFingerprints(text: Column, k: Int = 4, w: Int = 5): Column =
    graft.expr.NativeFunctions.winnow_fps(text, k, w)

  /** Composable spec twin of [[winnowFingerprints]] (tests only). */
  def winnowFingerprintsHof(text: Column, k: Int = 4, w: Int = 5): Column = {
    require(k >= 1 && w >= 1, s"winnow k=$k w=$w out of range")
    // Every intermediate array is BOUND ONCE as a lambda variable via the
    // single-element transform(array(x), v => …) pattern. Referencing the
    // raw sub-expression inside a HOF lambda instead re-evaluates it per
    // element — with `hashes` under the per-window slice that compounds
    // to O(windows × grams × k) full regex re-splits per document, which
    // turned a 5k-doc pass into a ~1 h single-task stage before this
    // binding (the scan stage is one task on a one-file table).
    def bind(x: Column)(body: Column => Column): Column =
      element_at(transform(array(x), body), 1)
    bind(split(trim(text), "\\s+")) { toks =>
      // try_element_at: rows shorter than k still EVALUATE this binding
      // (the masking `when` sits below it) — ANSI element_at would throw
      // on their out-of-range gram indices; the garbage grams those rows
      // produce are discarded by the guard
      bind(transform(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
        i => md5(concat(lit("wn|"),
          concat_ws(" ", (0 until k).map(o => try_element_at(toks, i + lit(o))): _*))))) { hashes =>
        // sequence(1, n) with n < 1 counts DOWN — both sequences are
        // floored at 1 and the no-gram case is masked by the outer when
        when(size(toks) >= k, array_distinct(
          transform(sequence(lit(1), greatest(size(hashes) - (w - 1), lit(1))),
            j => array_min(slice(hashes, j, lit(w))))))
          .otherwise(array().cast("array<string>"))
      }
    }
  }

  /** Winnowing-based similar-pair detection: explode fingerprints, one
    * fingerprint-keyed equi-join, count shared minima per pair —
    * (id_a, id_b, n_shared) with n_shared ≥ `minShared`. Each shared
    * fingerprint witnesses a shared ≥ k-token run, so `minShared` is a
    * "how much shared material" knob rather than a whole-doc similarity
    * threshold — quotes, license blocks, and partial plagiarism fire
    * here when whole-doc Jaccard stays cold. Viral fingerprints
    * (corpus-wide boilerplate) make hot join keys; cap them upstream
    * (cutRepeatedSpans) or dedupe exactly first — this operator is the
    * MOSS-style detector, not the viral-boilerplate path. */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 4, w: Int = 5, minShared: Int = 2): DataFrame = {
    // one-exchange bucket pattern (the repo-wide dedup shape): hash the
    // corpus ONCE, group ids per fingerprint, emit anchor-exploded pairs;
    // oversized buckets (viral boilerplate fingerprints) route losslessly
    // through a fp-keyed self-join off the SAME exchange instead of
    // building unbounded id arrays — a self-join formulation for the
    // whole corpus would re-run the fingerprint pass on both sides
    val maxBucket = 10000
    val fps = df.select(col(idCol).cast("long").as("id"),
      explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
    val w0 = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val sized = fps.withColumn("cnt", count(lit(1)).over(w0))
    val smallPairs = sized.filter(col("cnt") <= maxBucket)
      .groupBy(col("fp"))
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_b"))
    val big = sized.filter(col("cnt") > maxBucket)
    val bigPairs = big.select(col("fp"), col("id").as("id_a"))
      .join(big.select(col("fp"), col("id").as("id_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    smallPairs.unionByName(bigPairs)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** LSH band key from a precomputed signature column. */
  def bandKeyFromSignature(sig: Column, band: Int, rowsPerBand: Int): Column =
    concat_ws("|", slice(sig, band * rowsPerBand + 1, rowsPerBand))

  /** MinHash-LSH candidate pairs: explode docs into (band, bandKey) and
    * self-join within buckets. Returns (id_a, id_b, band) with id_a < id_b.
    * Shuffle is on band keys only; bucket sizes are bounded by real
    * near-dup cluster sizes, and AQE's skew-join split handles pathological
    * buckets at scale.
    */
  def lshCandidatePairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val keyed = df.select(
        col(idCol).as("id"),
        minhashSignature(col(textCol), n, bands * rowsPerBand).as("__sig"))
      .select(col("id"),
        posexplode(array((0 until bands).map(b =>
          bandKeyFromSignature(col("__sig"), b, rowsPerBand)): _*)).as(Seq("band", "band_key")))
    val a = keyed.select(col("id").as("id_a"), col("band"), col("band_key"))
    val b = keyed.select(col("id").as("id_b"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "band").distinct()
  }

  /** Cross-corpus near-duplicate pairs: MinHash-LSH candidates between two
    * DIFFERENT corpora (e.g. "is any eval doc a near-dup of a training
    * doc" — the document-level complement of [[decontaminate]]'s n-gram
    * test), verified with exact Jaccard. Returns (id_a, id_b, jaccard)
    * where id_a comes from `dfA` and id_b from `dfB`.
    *
    * Scale shape: both corpora shuffle band keys + distinct shingle sets
    * (computed scan-side by the native [[graft.expr.WordNgramsExpr]]) —
    * never raw text — and verification happens inside the bucket join.
    * When one side is small (an eval set), its keyed form broadcasts and
    * the big corpus never shuffles at all. */
  def crossNeardupPairs(dfA: DataFrame, dfB: DataFrame, textCol: String,
                        idColA: String, idColB: String,
                        n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                        jaccardThreshold: Double = 0.8): DataFrame = {
    def keyed(df: DataFrame, idCol: String, side: String) = df.select(
        col(idCol).as(s"id_$side"),
        graft.expr.NativeFunctions.word_ngrams(col(textCol), n).as(s"sh_$side"),
        minhashSignature(col(textCol), n, bands * rowsPerBand).as("__sig"))
      .select(col(s"id_$side"), col(s"sh_$side"),
        posexplode(array((0 until bands).map(b =>
          bandKeyFromSignature(col("__sig"), b, rowsPerBand)): _*)).as(Seq("band", "band_key")))
    keyed(dfA, idColA, "a").join(keyed(dfB, idColB, "b"), Seq("band", "band_key"))
      .select(col("id_a"), col("id_b"),
        jaccardFromDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
      .distinct()
  }

  /** The (band, band_key, id, shingles) keyed form a persisted LSH index
    * stores — one row per (doc, band), shingles carried so probes verify
    * exact Jaccard without ever re-reading corpus text. */
  private def lshIndexRows(df: DataFrame, textCol: String, idCol: String,
                           n: Int, bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.expr.NativeFunctions.word_ngrams(col(textCol), n).as("shingles"),
        minhashSignature(col(textCol), n, bands * rowsPerBand).as("__sig"))
      .select(col("id"), col("shingles"),
        posexplode(array((0 until bands).map(b =>
          bandKeyFromSignature(col("__sig"), b, rowsPerBand)): _*))
          .as(Seq("band", "band_key")))
      .select(col("band"), col("band_key"), col("id"), col("shingles"))

  /** Persist a near-dup (MinHash-LSH) index of a corpus for INCREMENTAL
    * dedup — the "corpus grows daily" operating mode: sign the corpus
    * ONCE into (band, band_key, id, shingles) parquet, then each new
    * batch probes it by equi-join without re-shingling, re-hashing or
    * re-shuffling a single corpus row. The reference's analogue is its
    * already-published check against the catalog (SURVEY P3 /
    * check_scenes); this is the same idea for near-duplicate text.
    *
    * Scale shape: the build is the signature scan + ONE partitioned
    * write; index size ≈ bands × (key + shingle payload). A daily batch
    * probe keys only the batch (its signature scan is batch-sized) and
    * broadcasts it when small — the index side then never shuffles at
    * all: a pure scan + broadcast-hash join + in-row Jaccard. Accepted
    * docs append to the index via dynamic partition append
    * ([[appendToLshIndex]]), the same operational model as the IVF
    * index's train-once/append-between ([[SimilarityFunctions.appendToIvfIndex]]). */
  def writeLshIndex(df: DataFrame, textCol: String, idCol: String,
                    path: String, n: Int = 3, bands: Int = 4,
                    rowsPerBand: Int = 2): Unit =
    lshIndexRows(df, textCol, idCol, n, bands, rowsPerBand)
      .write.mode("overwrite").partitionBy("band")
      .option("compression", "zstd").parquet(path)

  /** Append newly-accepted docs to a persisted LSH index without touching
    * existing rows (dynamic partition append; band count must match the
    * build). */
  def appendToLshIndex(df: DataFrame, textCol: String, idCol: String,
                       path: String, n: Int = 3, bands: Int = 4,
                       rowsPerBand: Int = 2): Unit =
    lshIndexRows(df, textCol, idCol, n, bands, rowsPerBand)
      .write.mode("append").partitionBy("band")
      .option("compression", "zstd").parquet(path)

  /** Probe a persisted LSH index with a batch of new docs: returns
    * verified (id_new, id_index, jaccard) pairs at or above the
    * threshold — the batch's near-dups of the ALREADY-INDEXED corpus.
    * Join on (band, band_key), exact Jaccard from the carried shingle
    * sets; candidate pairs sharing several bands collapse via distinct.
    * The batch side is broadcast-hinted: a daily batch is small against
    * a 100 TB index, so the planner turns this into an index scan that
    * never exchanges (falls back to a shuffle join past the broadcast
    * threshold — correct either way). */
  def probeLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    newDocs: DataFrame, textCol: String, idCol: String,
                    n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                    jaccardThreshold: Double = 0.8): DataFrame = {
    val idx = spark.read.parquet(path)
      .withColumnRenamed("id", "id_index")
      .withColumnRenamed("shingles", "sh_index")
    val probe = broadcast(
      lshIndexRows(newDocs, textCol, idCol, n, bands, rowsPerBand)
        .withColumnRenamed("id", "id_new")
        .withColumnRenamed("shingles", "sh_new"))
    idx.join(probe, Seq("band", "band_key"))
      .select(col("id_new"), col("id_index"),
        jaccardFromDistinct(col("sh_new"), col("sh_index")).as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
      .distinct()
  }

  /** Near-dup pairs with **bucket-local** verification — the scale path.
    *
    * Docs explode into (band, bandKey) rows carrying their distinct shingle
    * set; ONE shuffle groups them by key; pairs and exact Jaccard are then
    * computed inside each bucket from the carried arrays. Compared to the
    * self-join formulation ([[lshCandidatePairs]] + text re-joins) this
    * removes the join shuffle, the candidate `distinct`, and two text joins
    * — the verified-pair pipeline is a single exchange.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b (bucket members are
    * sorted by id, pairs are ordered combinations). A pair sharing k > 1
    * band keys appears k times; downstream union-find / min-label
    * aggregation absorbs duplicates, or call `.distinct()` when a unique
    * pair list is required.
    *
    * Scale notes: shuffle volume is O(rows × bands × shingle bytes) — the
    * shingle payload rides the one exchange instead of texts riding two
    * join exchanges. Bucket width is bounded by real near-dup cluster
    * sizes; a degenerate key (e.g. the empty-signature bucket shared by
    * every sub-n-token doc) would make `collect_list` materialize one
    * giant row, so keys wider than `maxBucket` are routed through a
    * band-key self-join instead — losslessly: results are identical to
    * the unlimited local formulation at any `maxBucket`, nothing is
    * dropped. The routing itself costs no extra exchange: bucket sizes
    * come from a partition-only window count over the SAME
    * (band, band_key) hash partitioning, so the regroup, the window, and
    * both self-join sides all consume the one shuffle (ReusedExchange;
    * the window spills oversized partitions instead of OOMing, which is
    * the point). The join path streams O(k²) pairs for a k-wide
    * degenerate key out of one task — slow but memory-bounded, and such
    * keys are hash collisions, not real near-dup clusters.
    */
  def neardupPairsLocal(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                        jaccardThreshold: Double = 0.8,
                        maxBucket: Int = 10000): DataFrame = {
    val keyed = df.select(
        col(idCol).as("id"),
        graft.expr.NativeFunctions.word_ngrams(col(textCol), n).as("sh"),
        minhashSignature(col(textCol), n, bands * rowsPerBand).as("__sig"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until bands).map(b =>
          bandKeyFromSignature(col("__sig"), b, rowsPerBand)): _*)).as(Seq("band", "band_key")))
    exactPairsFromKeyed(keyed, maxBucket)
      .filter(col("jaccard") >= jaccardThreshold)
  }

  /** The one-exchange bucket-local exact-verify core shared by
    * [[neardupPairsLocal]] (distinct-shingle Jaccard) and
    * [[weightedNeardupPairs]] (multiset Jaccard): regroup once on
    * (band, band_key), anchor-exploded pairing inside buckets
    * (intermediate arrays O(bucket), not O(bucket²)), keys wider than
    * `maxBucket` routed losslessly through a self-join off the SAME
    * exchange. Input keyed rows: (id, sh, band, band_key) with `sh` the
    * already-distinct element array. Returns (id_a, id_b, jaccard). */
  private def exactPairsFromKeyed(keyed: DataFrame, maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("band_key"))
    val sized = keyed.withColumn("cnt", count(lit(1)).over(w))
    val buckets = sized.filter(col("cnt") <= maxBucket)
      .groupBy(col("band"), col("band_key"))
      .agg(array_sort(collect_list(struct(col("id"), col("sh")))).as("ms"))
      .filter(size(col("ms")) > 1)
    val localPairs = buckets
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
      .select(explode(transform(
        slice(col("ms"), col("i") + lit(2), size(col("ms"))), b => struct(
          col("a").getField("id").as("id_a"),
          b.getField("id").as("id_b"),
          jaccardFromDistinct(col("a").getField("sh"), b.getField("sh")).as("jaccard")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.jaccard").as("jaccard"))
    val big = sized.filter(col("cnt") > maxBucket)
    val bigA = big.select(col("band"), col("band_key"), col("id").as("id_a"), col("sh").as("sh_a"))
    val bigB = big.select(col("band"), col("band_key"), col("id").as("id_b"), col("sh").as("sh_b"))
    val joinPairs = bigA.join(bigB, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardFromDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
    localPairs.unionByName(joinPairs)
  }

  /** WEIGHTED (term-frequency / multiset) near-dup pairs: the unary
    * expansion turns every token occurrence into the distinct element
    * `token#k` ([[graft.expr.MultisetElemsExpr]]), so set machinery
    * computes Σ min(tf)/Σ max(tf) exactly — and the MinHash over those
    * elements ([[graft.expr.WeightedMinHashSignatureExpr]]) collides with
    * probability equal to the weighted Jaccard, so the SAME band-key LSH
    * bucket join applies unchanged. Catches repetition asymmetry that
    * distinct-shingle Jaccard is blind to: a page repeating one
    * paragraph 5× scores 1.0 against itself-distinct but only ~1/5
    * against the single-copy page here. `n` = 1 is the pure tf measure
    * (word order invisible); n ≥ 2 keeps the repetition semantics while
    * making LSH buckets sparse on shared-vocabulary corpora (driver
    * corpus: random-pair weighted J ≈ 0.33 at n = 1 vs ≈ 0.025 at n = 2
    * — at n = 1 a 50 k-doc corpus generates quadratic candidate mass).
    *
    * Scale shape: identical to [[neardupPairsLocal]] — signatures and
    * element sets computed scan-side (element payload = the doc's own
    * token mass), ONE (band, band_key) hash exchange, exact verification
    * inside buckets, oversized keys through the lossless self-join.
    * Returns (id_a, id_b, jaccard), id_a < id_b. */
  def weightedNeardupPairs(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 1, bands: Int = 4, rowsPerBand: Int = 2,
                           jaccardThreshold: Double = 0.8,
                           maxBucket: Int = 10000): DataFrame = {
    val keyed = df.select(
        col(idCol).as("id"),
        graft.expr.NativeFunctions.multiset_elems(col(textCol), n).as("sh"),
        graft.expr.NativeFunctions
          .weighted_minhash_signature(col(textCol), n, bands * rowsPerBand).as("__sig"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until bands).map(b =>
          bandKeyFromSignature(col("__sig"), b, rowsPerBand)): _*)).as(Seq("band", "band_key")))
    exactPairsFromKeyed(keyed, maxBucket)
      .filter(col("jaccard") >= jaccardThreshold)
  }

  /** Exact weighted (multiset) Jaccard of two texts over n-gram
    * frequencies — the verification scalar behind
    * [[weightedNeardupPairs]], exposed for spot checks. */
  def weightedJaccard(a: Column, b: Column, n: Int = 1): Column =
    jaccardFromDistinct(graft.expr.NativeFunctions.multiset_elems(a, n),
      graft.expr.NativeFunctions.multiset_elems(b, n))

  /** MinHash estimate of Jaccard similarity from two equal-length
    * signatures: the fraction of agreeing components (an unbiased
    * estimator with stderr ≈ sqrt(J(1−J)/k)). This is the verification
    * path that matters at 10¹⁰ docs: candidates are scored from the k
    * hashes already shuffled for LSH — the shingle sets never leave the
    * scan stage at all. Null/length-mismatched signatures → null. */
  def jaccardEstimateFromSignatures(sigA: Column, sigB: Column): Column =
    when(size(sigA) === 0 || size(sigA) =!= size(sigB),
        lit(null).cast("double"))
      .otherwise(
        aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / size(sigA))

  /** Near-dup pairs verified by the MinHash ESTIMATE only — the
    * configuration for corpora where even shingle sets are too heavy to
    * shuffle (10¹⁰ docs): each doc ships exactly (id, k×32-byte
    * signature); band keys are sliced from the signature already in hand;
    * candidate pairs are scored with [[jaccardEstimateFromSignatures]]
    * inside the bucket join. Precision is the estimator's (stderr ≈
    * sqrt(J(1−J)/k)) — the exact-verification paths
    * ([[neardupPairsLocal]]/[[crossNeardupPairs]]) remain for when the
    * shingle payload is affordable. Returns (id_a, id_b, est), id_a < id_b. */
  def neardupPairsBySignature(df: DataFrame, textCol: String, idCol: String,
                              n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                              estThreshold: Double = 0.8,
                              maxBucket: Int = 10000): DataFrame = {
    // same one-exchange bucket-local shape as [[neardupPairsLocal]], with
    // the signature standing in for the shingle payload: regroup once on
    // (band, band_key), pair + estimate inside each bucket; keys wider
    // than maxBucket route losslessly through the self-join path off the
    // SAME exchange (the window/regroup/join partitionings line up)
    val keyed = df.select(
        col(idCol).as("id"),
        minhashSignature(col(textCol), n, bands * rowsPerBand).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(array((0 until bands).map(b =>
          bandKeyFromSignature(col("sig"), b, rowsPerBand)): _*)).as(Seq("band", "band_key")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("band_key"))
    val sized = keyed.withColumn("cnt", count(lit(1)).over(w))
    val buckets = sized.filter(col("cnt") <= maxBucket)
      .groupBy(col("band"), col("band_key"))
      .agg(array_sort(collect_list(struct(col("id"), col("sig")))).as("ms"))
      .filter(size(col("ms")) > 1)
    val ms = col("ms")
    val localPairs = buckets.select(explode(flatten(transform(ms, (a, i) =>
        transform(slice(ms, i + lit(2), size(ms)), b => struct(
          a.getField("id").as("id_a"),
          b.getField("id").as("id_b"),
          jaccardEstimateFromSignatures(
            a.getField("sig"), b.getField("sig")).as("est")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.est").as("est"))
    val big = sized.filter(col("cnt") > maxBucket)
    val bigA = big.select(col("band"), col("band_key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val bigB = big.select(col("band"), col("band_key"), col("id").as("id_b"), col("sig").as("sig_b"))
    val joinPairs = bigA.join(bigB, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardEstimateFromSignatures(col("sig_a"), col("sig_b")).as("est"))
    localPairs.unionByName(joinPairs)
      .filter(col("est") >= estThreshold)
      .distinct()
  }

  /** Jaccard similarity from two already-distinct shingle arrays
    * (|A∪B| = |A| + |B| − |A∩B| — one intersect, no union materialized). */
  def jaccardFromDistinct(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = (size(sa) + size(sb)).cast("double") - inter
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** Full near-dedup: LSH candidates → exact-Jaccard verification →
    * connected components (iterative min-id label propagation over the
    * verified-pair graph) → keep one canonical doc per component.
    *
    * Scale notes: label propagation converges in O(diameter) rounds —
    * near-dup clusters are small and dense, so `maxIterations` = 5 covers
    * real corpora; each round is one join on the pair edges (keys only, no
    * text payload). Returns the deduplicated corpus.
    */
  def dedupNear(df: DataFrame, textCol: String, idCol: String,
                n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                jaccardThreshold: Double = 0.8, maxIterations: Int = 5,
                maxDriverEdges: Int = 100_000): DataFrame = {
    // The verified-pair graph is tiny relative to the corpus (only real
    // near-dups survive Jaccard), so components resolve driver-side with
    // union-find on the collected edges and the drop-set broadcasts back —
    // zero iterative jobs. Distributed min-label propagation remains the
    // fallback for a pathological edge volume; the size probe is the
    // bounded collect itself (dropByPairGraph), so the common branch
    // pays ONE job and only the pathological branch re-runs the pair
    // pipeline for its checkpoint.
    val pairs = neardupPairsLocal(df, textCol, idCol, n, bands, rowsPerBand, jaccardThreshold)
    dropByPairGraph(df, idCol, pairs, maxIterations, maxDriverEdges)
  }

  /** Resolve a verified near-dup pair graph (columns `id_a`, `id_b`) to
    * connected components and keep one canonical row (min id) per
    * component — the shared back half of [[dedupNear]] (text LSH+Jaccard)
    * and [[graft.functions.SimilarityFunctions.dedupSemantic]]
    * (embedding cosine). Components resolve driver-side by union-find
    * while the edge set is small (it usually is: only true near-dups
    * survive verification) and fall back to distributed min-label
    * propagation past `maxDriverEdges`. */
  def dropByPairGraph(df: DataFrame, idCol: String, pairs: DataFrame,
                      maxIterations: Int = 5,
                      maxDriverEdges: Int = 100_000): DataFrame = {
    // detection fused into the bounded collect (the pageRank discipline,
    // r19): one job either yields the edge set the union-find needs or
    // proves it too big. The pathological big branch re-runs the pair
    // pipeline once for its checkpoint — the common branch saves two
    // eager jobs per call (the old shape checkpointed, counted, then
    // collected).
    val vSel = pairs.select("id_a", "id_b")
    val probe = vSel.limit(maxDriverEdges + 1).collect()
    if (probe.length <= maxDriverEdges) {
      val dropped = GraphFunctions.unionFindRoots(
        probe.map(r => (r.getLong(0), r.getLong(1)))).map(_._1)
      if (dropped.isEmpty) df
      else {
        // Drop via a broadcast anti-join, NOT `isin`: a literal Catalyst
        // `In` of up to maxDriverEdges ids blows up plan size and codegen
        // long before the data does. A one-column broadcast hash table is
        // O(|dropped|) memory on each executor and leaves the plan small.
        val spark = df.sparkSession
        import spark.implicits._
        val dropDf = broadcast(
          spark.createDataset(dropped.toIndexedSeq).toDF(idCol))
        df.join(dropDf, Seq(idCol), "left_anti")
      }
    } else {
      // canonical = min id per component; keep only canonical rows
      val labels = GraphFunctions.connectedComponents(
        df.select(col(idCol)), vSel.localCheckpoint(true),
        idCol = idCol, srcCol = "id_a", dstCol = "id_b",
        maxIterations = maxIterations)
      val keep = labels.filter(col("id") === col("label")).select(col("id"))
      df.join(keep.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
    }
  }

  /** Exact n-gram Jaccard similarity between two text columns (candidate
    * verification step after LSH). */
  def jaccard(textA: Column, textB: Column, n: Int): Column =
    jaccardFromDistinct(
      graft.expr.NativeFunctions.word_ngrams(textA, n),
      graft.expr.NativeFunctions.word_ngrams(textB, n))

  /** 64-bit SimHash over word tokens: per-bit majority vote of token
    * hashes. Single `aggregate` pass with a 64-counter array accumulator —
    * one fold over the tokens regardless of bit width, no UDF. Near-dups
    * differ in few bits; group by (simhash >> k) prefixes or multi-probe to
    * bucket. */
  def simhash64(text: Column): Column =
    graft.expr.NativeFunctions.simhash64(text)

  /** HOF formulation of [[simhash64]] — executable specification. */
  def simhash64Hof(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    val hashes = transform(toks, t => xxhash64(t))
    val bitIdx = sequence(lit(0), lit(63))
    val votes = aggregate(hashes, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitIdx,
        (a, i) => a + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, bitIdx,
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------------------
  // 64-bit signature plane: hamming band-prefix LSH. One machinery for
  // every 64-bit perceptual/structural signature the engine produces —
  // text simhash ([[simhash64]]/[[simhashMd5]]), image DCT pHash
  // ([[MultimodalFunctions.imagePhash]]), audio WHT fingerprint
  // ([[MultimodalFunctions.audioPhash]]), video keyframe pHash — so
  // cross-modal corpora near-dedup through the SAME bucketed join.
  // ------------------------------------------------------------------

  /** The (band, band_key) explode of a 64-bit signature column: `bands`
    * contiguous bit-slices partitioning the 64 bits as evenly as possible
    * (bands=8 → 8×8 bits; bands=5 → 13/13/13/13/12). By pigeonhole, two
    * signatures within hamming distance d < bands agree EXACTLY on at
    * least one band — so bucketing on (band, band_key) has total recall
    * for any distance threshold ≤ bands − 1, and the join never compares
    * signatures outside a shared bucket. Band count is ALSO the bucket-
    * width knob: expected bucket size on b-bit keys is n/2^b, so a
    * threshold-4 corpus join wants bands=5 (13-bit keys), not bands=8
    * (8-bit keys — 32× wider buckets for recall headroom nobody asked
    * for; SCALE.md r16 hamming join geometry measures the cliff). */
  private def hammingKeyed(df: DataFrame, sigCol: String, idCol: String,
                           partitionCols: Seq[String], bands: Int): DataFrame = {
    require(bands >= 1 && bands <= 64, s"bands=$bands out of range")
    val bounds = (0 to bands).map(b => b * 64 / bands)
    val pcols = partitionCols.map(col)
    df.select(pcols :+ col(idCol).cast("long").as("id") :+
        col(sigCol).cast("long").as("sig"): _*)
      .select(pcols ++ Seq(col("id"), col("sig"),
        posexplode(array((0 until bands).map { b =>
          val width = bounds(b + 1) - bounds(b)
          val mask = if (width == 64) -1L else (1L << width) - 1L
          shiftrightunsigned(col("sig"), bounds(b)).bitwiseAND(lit(mask))
        }: _*)).as(Seq("band", "band_key"))): _*)
  }

  /** Near-dup pairs over 64-bit signatures via band-prefix LSH — the
    * corpus-scale form of a brute hamming self-join. Returns
    * (partitionCols…, id_a, id_b, dist) with id_a < id_b and
    * dist ≤ maxDistance; `partitionCols` scope pairing (e.g. a
    * `modality` column keeps image/audio/video planes separate inside
    * ONE job). Recall is total — identical output to the O(n²) join —
    * whenever maxDistance < bands (pigeonhole over the band slices).
    *
    * Scale shape: the same one-exchange bucket-local pattern as
    * [[neardupPairsLocal]], but the payload per row is 8 BYTES: explode
    * into (band, band_key), one hash exchange, pair + bit_count inside
    * each bucket. Keys wider than `maxBucket` (hash-collision buckets,
    * e.g. the all-zero band of near-blank media) route losslessly
    * through a band-key self-join off the SAME exchange. At 10⁹ items
    * the shuffle carries bands × 16 B per item — the corpus itself
    * (pixels, PCM, text) never moves. */
  def neardupPairsByHamming64(df: DataFrame, sigCol: String, idCol: String,
                              partitionCols: Seq[String] = Nil,
                              bands: Int = 8, maxDistance: Int = 4,
                              maxBucket: Int = 10000): DataFrame = {
    require(maxDistance < bands,
      s"maxDistance=$maxDistance needs bands > maxDistance for total recall")
    val pcols = partitionCols.map(col)
    val keyCols = pcols ++ Seq(col("band"), col("band_key"))
    val keyed = hammingKeyed(df, sigCol, idCol, partitionCols, bands)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols: _*)
    val sized = keyed.withColumn("cnt", count(lit(1)).over(w))
    val buckets = sized.filter(col("cnt") <= maxBucket)
      .groupBy(keyCols: _*)
      .agg(array_sort(collect_list(struct(col("id"), col("sig")))).as("ms"))
      .filter(size(col("ms")) > 1)
    // pairing explodes the ANCHOR first (one row per bucket member), then
    // each anchor row emits only its own tail pairs: intermediate arrays
    // are O(bucket), never the O(bucket²) all-pairs array a single
    // flatten(transform(…)) row would materialize — at 6-bit band keys a
    // 10⁵-signature corpus makes that difference OOM vs streamed
    val localPairs = buckets
      .select(pcols ++ Seq(col("ms"), posexplode(col("ms")).as(Seq("i", "a"))): _*)
      .select(pcols :+ explode(transform(
        slice(col("ms"), col("i") + lit(2), size(col("ms"))), b => struct(
          col("a").getField("id").as("id_a"),
          b.getField("id").as("id_b"),
          bit_count(col("a").getField("sig").bitwiseXOR(b.getField("sig")))
            .cast("long").as("dist")))).as("p"): _*)
      .select(pcols ++ Seq(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.dist").as("dist")): _*)
    val big = sized.filter(col("cnt") > maxBucket)
    val bigA = big.select(keyCols ++ Seq(col("id").as("id_a"), col("sig").as("sig_a")): _*)
    val bigB = big.select(keyCols ++ Seq(col("id").as("id_b"), col("sig").as("sig_b")): _*)
    val joinPairs = bigA.join(bigB,
        partitionCols ++ Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(pcols ++ Seq(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).cast("long").as("dist")): _*)
    localPairs.unionByName(joinPairs)
      .filter(col("dist") <= maxDistance)
      .distinct()
  }

  /** Multi-probe band-prefix LSH over 64-bit signatures — WIDE distance
    * budgets without narrow band keys. [[neardupPairsByHamming64]] buys
    * recall by adding bands, which narrows every key: at maxDistance=11
    * it needs 12 bands → 6-bit keys → n/64-wide buckets of pure hash
    * collisions (the measured SCALE.md r16 cliff). This variant keeps
    * the keys WIDE and instead probes each band key's hamming-`probeBits`
    * neighborhood: pigeonhole over `bands` slices says a pair at
    * distance ≤ bands·(probeBits+1)−1 differs by ≤ probeBits bits in
    * SOME band, so the probe set (the exact key + its ≤probeBits-bit
    * flips) hits the build key — recall stays TOTAL, output ≡ the O(n²)
    * join. At maxDistance=11 this is bands=6/probeBits=1: 11-bit keys,
    * ~70 probe rows per item, candidate mass ≈ bands·(keyBits+1)·n²/2^k
    * — ~19× below the 12-band exact form (SCALE.md r16, embedding sign-sketch plane).
    *
    * Scale shape: one (band, band_key) hash equi-join — build side
    * carries bands rows × 16 B per item, probe side bands+64 rows; the
    * signatures themselves are the payload, the corpus never moves.
    * Skewed keys (near-blank media) ride AQE's skew-join split; use the
    * banded form with `maxBucket` routing when key skew is extreme and
    * the distance budget fits maxDistance < bands anyway. */
  def neardupPairsByHammingMultiProbe(df: DataFrame, sigCol: String, idCol: String,
                                      partitionCols: Seq[String] = Nil,
                                      bands: Int = 6, maxDistance: Int = 11,
                                      probeBits: Int = 1): DataFrame = {
    requireMultiProbeGeometry(bands, maxDistance, probeBits)
    val pcols = partitionCols.map(col)
    val build = hammingKeyed(df, sigCol, idCol, partitionCols, bands)
      .withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a")
    val probe = multiProbeKeyed(df, sigCol, idCol, partitionCols, bands)
      .withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b")
    build.join(probe, partitionCols ++ Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(pcols ++ Seq(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).cast("long").as("dist")): _*)
      .filter(col("dist") <= maxDistance)
      .distinct()
  }

  private def requireMultiProbeGeometry(bands: Int, maxDistance: Int,
                                        probeBits: Int): Unit = {
    require(probeBits == 1, "probeBits=1 is the supported neighborhood")
    require(bands >= 1 && bands <= 64, s"bands=$bands out of range")
    require(maxDistance < bands * (probeBits + 1),
      s"maxDistance=$maxDistance needs bands*(probeBits+1) > maxDistance for total recall")
  }

  /** [[hammingKeyed]] with the 1-bit probe neighborhood: each item emits,
    * per band, its exact key PLUS every single-bit flip of it —
    * bands + 64 (band, band_key) rows per item. Joining these against a
    * frame (or persisted index) of EXACT keys catches every pair whose
    * keys differ by ≤ 1 bit in some band. */
  private def multiProbeKeyed(df: DataFrame, sigCol: String, idCol: String,
                              partitionCols: Seq[String], bands: Int): DataFrame = {
    val bounds = (0 to bands).map(b => b * 64 / bands)
    val pcols = partitionCols.map(col)
    def slice(b: Int): Column = {
      val width = bounds(b + 1) - bounds(b)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col("sig"), bounds(b)).bitwiseAND(lit(mask))
    }
    val probeEntries = (0 until bands).flatMap { b =>
      val width = bounds(b + 1) - bounds(b)
      struct(lit(b).as("band"), slice(b).as("band_key")) +:
        (0 until width).map(bit =>
          struct(lit(b).as("band"),
            slice(b).bitwiseXOR(lit(1L << bit)).as("band_key")))
    }
    df.select(pcols :+ col(idCol).cast("long").as("id") :+
        col(sigCol).cast("long").as("sig"): _*)
      .select(pcols ++ Seq(col("id"), col("sig"),
        explode(array(probeEntries: _*)).as("e")): _*)
      .select(pcols ++ Seq(col("id"), col("sig"),
        col("e.band").as("band"), col("e.band_key").as("band_key")): _*)
  }

  /** [[probeHammingIndex]] with the 1-bit multi-probe neighborhood: the
    * batch's probe keys fan out (bands + 64 rows per item, still
    * broadcast-sized for a daily batch) against the index's EXACT keys —
    * wide distance budgets (maxDistance < bands·(probeBits+1)) against
    * an index built at the SAME band count, without rebuilding it with
    * narrower keys. Returns exactly what the two-sided brute join
    * restricted to (new, indexed) would. */
  def probeHammingIndexMultiProbe(spark: org.apache.spark.sql.SparkSession,
                                  path: String, newSigs: DataFrame,
                                  sigCol: String, idCol: String,
                                  partitionCols: Seq[String] = Nil,
                                  bands: Int = 6, maxDistance: Int = 11,
                                  probeBits: Int = 1): DataFrame = {
    requireMultiProbeGeometry(bands, maxDistance, probeBits)
    val pcols = partitionCols.map(col)
    val idx = spark.read.parquet(path)
      .withColumnRenamed("id", "id_index")
      .withColumnRenamed("sig", "sig_index")
    val probe = broadcast(
      multiProbeKeyed(newSigs, sigCol, idCol, partitionCols, bands)
        .withColumnRenamed("id", "id_new")
        .withColumnRenamed("sig", "sig_new"))
    idx.join(probe, partitionCols ++ Seq("band", "band_key"))
      .select(pcols ++ Seq(col("id_new"), col("id_index"),
        hamming64(col("sig_new"), col("sig_index")).cast("long").as("dist")): _*)
      .filter(col("dist") <= maxDistance)
      .distinct()
  }

  /** Persist a hamming-LSH signature index — the 64-bit-signature twin of
    * [[writeLshIndex]] for incremental MEDIA dedup: sign the corpus once
    * (pHash/afp/simhash upstream), write (band, band_key, …, id, sig)
    * parquet partitioned by band, then probe each new batch against it
    * without rescanning or re-decoding a single corpus item. Index size
    * ≈ bands × 16 B per item — ~1 GB per 10⁹ items per band set, a scan
    * that prunes to the probe's (band, band_key) buckets. */
  def writeHammingIndex(df: DataFrame, sigCol: String, idCol: String,
                        path: String, partitionCols: Seq[String] = Nil,
                        bands: Int = 8): Unit =
    hammingKeyed(df, sigCol, idCol, partitionCols, bands)
      .write.mode("overwrite").partitionBy("band")
      .option("compression", "zstd").parquet(path)

  /** Append newly-accepted items to a persisted hamming index without
    * touching existing rows (dynamic partition append; band count and
    * partition columns must match the build). */
  def appendToHammingIndex(df: DataFrame, sigCol: String, idCol: String,
                           path: String, partitionCols: Seq[String] = Nil,
                           bands: Int = 8): Unit =
    hammingKeyed(df, sigCol, idCol, partitionCols, bands)
      .write.mode("append").partitionBy("band")
      .option("compression", "zstd").parquet(path)

  /** Probe a persisted hamming index with a batch of new signatures:
    * returns (partitionCols…, id_new, id_index, dist ≤ maxDistance) —
    * the batch's near-dups of the ALREADY-INDEXED corpus, exactly what
    * the two-sided join on raw signatures would return (total recall
    * for maxDistance < bands). The batch side is broadcast-hinted: a
    * daily media batch is small against a corpus-scale index, so the
    * index side never exchanges — a pure scan + broadcast-hash join +
    * in-row bit_count (falls back to a shuffle join past the broadcast
    * threshold — correct either way). */
  def probeHammingIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        newSigs: DataFrame, sigCol: String, idCol: String,
                        partitionCols: Seq[String] = Nil, bands: Int = 8,
                        maxDistance: Int = 4): DataFrame = {
    require(maxDistance < bands,
      s"maxDistance=$maxDistance needs bands > maxDistance for total recall")
    val pcols = partitionCols.map(col)
    val idx = spark.read.parquet(path)
      .withColumnRenamed("id", "id_index")
      .withColumnRenamed("sig", "sig_index")
    val probe = broadcast(
      hammingKeyed(newSigs, sigCol, idCol, partitionCols, bands)
        .withColumnRenamed("id", "id_new")
        .withColumnRenamed("sig", "sig_new"))
    idx.join(probe, partitionCols ++ Seq("band", "band_key"))
      .select(pcols ++ Seq(col("id_new"), col("id_index"),
        hamming64(col("sig_new"), col("sig_index")).cast("long").as("dist")): _*)
      .filter(col("dist") <= maxDistance)
      .distinct()
  }

  /** 16-bit md5-based SimHash — cross-engine-reproducible variant of
    * [[simhash64]] (md5 token hash instead of xxhash64) so the DuckDB
    * oracle verifies it bit-for-bit. Production uses [[simhash64]]
    * (xxhash64 is ~10× cheaper than md5); this variant is the parity
    * witness for the simhash family. */
  def simhashMd5(text: Column): Column =
    graft.expr.NativeFunctions.simhash_md5_16(text)

  /** Corpus-level span dedup with document reassembly (the C4-style "drop
    * repeated spans, keep the first occurrence" pass): documents are cut
    * into non-overlapping `spanTokens`-token spans, every span that already
    * occurred earlier in the corpus (global order: (id, span position)) is
    * dropped, and each document is rebuilt from its surviving spans in
    * order. Documents whose spans are all duplicates disappear. Returns
    * (idCol, text) with the deduplicated text.
    *
    * Scale shape: two shuffles, both unavoidable for these semantics — the
    * keep-first decision groups identical spans (hash partition on the
    * span digest; identical spans collapse map-side only in count, not in
    * the argmin, so the window sort bounds memory by spilling), and the
    * reassembly groups a document's surviving spans (partition on id).
    * Shuffle payload is the span text riding each exchange once —
    * O(corpus bytes), inherent to rewriting the corpus. At 100 TB this is
    * the same two-exchange budget as a global sort, and the hot key (a
    * boilerplate span repeated 10⁹×) is exactly the key whose duplicates
    * the window discards after rank 1. */
  def dedupSpans(df: DataFrame, textCol: String, idCol: String,
                 spanTokens: Int): DataFrame = {
    val spans = df.select(col(idCol),
        explode(TextFunctions.chunkTokens(col(textCol), spanTokens, 0)).as("__c"))
      .select(col(idCol), col("__c.chunk_idx").as("__i"), col("__c.chunk_text").as("__t"))
    val w = Window.partitionBy(col("__t")).orderBy(col(idCol).asc, col("__i").asc)
    spans.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__i"), col("__t")))),
        s => s.getField("__t"))).as(textCol))
  }

  /** Test-set decontamination: drop corpus docs that share any distinct word
    * n-gram with a benchmark set (the standard guard against evaluation
    * leakage in training corpora; n=13 in published pipelines, parameterized
    * here).
    *
    * Scale shape (100 TB corpus, benchmark ≪ corpus): the benchmark n-gram
    * dictionary is benchmark-sized — thousands of docs, not billions — so it
    * broadcasts; corpus n-grams are computed scan-side by the native
    * [[graft.expr.WordNgramsExpr]] and probe the broadcast set with no
    * corpus shuffle. The contaminated-id set is then broadcast back for
    * the anti-join, so the corpus payload never crosses an exchange.
    * Docs too short to have an n-gram cannot leak and survive.
    *
    * `assumeSmallContamination` (default true) pins that contract: the
    * contaminated-id broadcast is forced, which is right whenever the
    * benchmark is benchmark-shaped (thousands of docs → the hit set is
    * bounded by docs sharing a gram with it). Set it false for the
    * pathological regime — a "benchmark" overlapping most of the corpus
    * makes the hit set corpus-sized — and the anti-join strategy is left
    * to Catalyst/AQE (the corpus pays a shuffle; it has to). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String, n: Int = 13,
                    assumeSmallContamination: Boolean = true): DataFrame = {
    val g = graft.expr.NativeFunctions.word_ngrams(col(textCol), n)
    val benchGrams = benchmark.select(explode(g).as("__g")).distinct()
    val contaminated = corpus.select(col(idCol), explode(g).as("__g"))
      .join(broadcast(benchGrams), "__g")
      .select(col(idCol)).distinct()
    val ids = if (assumeSmallContamination) broadcast(contaminated) else contaminated
    corpus.join(ids, Seq(idCol), "left_anti")
  }

  /** [[decontaminate]] for benchmark sets too large to broadcast as an
    * exact dictionary (decontaminating against a full eval-suite union:
    * tens of millions of n-grams, gigabytes as strings). Two phases:
    *
    *   1. PREFILTER — a Bloom filter over the benchmark grams (built with
    *      `DataFrameStatFunctions.bloomFilter`, i.e. mergeable partition
    *      sketches; ~1.2 MB per million grams at 1% fpp, broadcastable at
    *      any benchmark size that fits a disk) probes every corpus gram
    *      scan-side. Docs with NO hit — the overwhelming majority — are
    *      cleared without touching an exchange, and false positives can
    *      only FLAG docs, never clear them.
    *   2. VERIFY — only the flagged slice (contamination-sized, not
    *      corpus-sized) joins the exact dictionary to discard the Bloom
    *      false positives.
    *
    * Exactly equivalent to [[decontaminate]] (asserted in FunctionsSpec);
    * the win is that the exact-join input shrinks from the whole corpus to
    * the flagged docs. */
  /** Raise the session's runtime bloom-filter caps (items, bits) around
    * `f` when they sit below the requested sizing, then restore the
    * EXACT previous state — including unset, so a never-touched session
    * conf stays on Spark's own default rather than a hardcoded copy of
    * it. The same caps govern Catalyst's runtime bloom joins; leaking a
    * raise would change unrelated queries' memory behavior. */
  private[functions] def withRaisedBloomCaps[T](
      spark: org.apache.spark.sql.SparkSession,
      items: Long, bits: Long)(f: => T): T = {
    val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val prevItems = spark.conf.getOption(itemsConf)
    val prevBits = spark.conf.getOption(bitsConf)
    try {
      if (spark.conf.get(itemsConf, "4000000").toLong < items)
        spark.conf.set(itemsConf, items.toString)
      if (spark.conf.get(bitsConf, "67108864").toLong < bits)
        spark.conf.set(bitsConf, bits.toString)
      f
    } finally {
      prevItems.fold(spark.conf.unset(itemsConf))(spark.conf.set(itemsConf, _))
      prevBits.fold(spark.conf.unset(bitsConf))(spark.conf.set(bitsConf, _))
    }
  }

  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         textCol: String, idCol: String, n: Int = 13,
                         fpp: Double = 0.01,
                         expectedGrams: Long = 1000000L): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val g = graft.expr.NativeFunctions.word_ngrams(col(textCol), n)
    val benchGrams = benchmark.select(explode(g).as("__g")).distinct()
    // optimal bit count m = -n ln(p) / (ln 2)^2; built with Spark's own
    // BloomFilterAggregate (mergeable partition sketches, one binary out)
    // so the probe side can use the matching BloomFilterMightContain —
    // no UDF, the exact machinery Catalyst's runtime bloom joins inject
    // (neither is in the public function registry, hence the bridge)
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val numBits = math.max(64L,
      math.ceil(-expectedGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate silently CLAMPS (n, m) to the session caps
    // (defaults 4M items / 67M bits) — at the documented tens-of-millions
    // scale the effective fpp would quietly blow past the request and the
    // prefilter win would erode (results stay exact via VERIFY, but the
    // scan-side clear rate is the whole point). Raise the caps to cover
    // the requested sizing before building.
    // ...and restore them right after: the same caps govern the bloom
    // filters Catalyst injects into unrelated runtime-filter joins, so
    // leaving them raised would be a session-wide side effect.
    val bloomBytes =
      withRaisedBloomCaps(corpus.sparkSession, expectedGrams, numBits) {
        benchGrams
          .agg(toCol(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
              toExpr(xxhash64(col("__g"))), toExpr(lit(expectedGrams)), toExpr(lit(numBits)))
            .toAggregateExpression()).as("bf"))
          .head().getAs[Array[Byte]]("bf")
      }
    if (bloomBytes == null) {
      // empty benchmark gram set → the aggregate yields a null blob (which
      // lit() would reject unhelpfully); nothing can be contaminated
      corpus
    } else {
      val mightHit = exists(g,
        gr => toCol(new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          toExpr(lit(bloomBytes)), toExpr(xxhash64(gr)))))
      val flagged = corpus.filter(mightHit)
      val contaminated = flagged.select(col(idCol), explode(g).as("__g"))
        .join(benchGrams, "__g") // exact verify on the flagged slice only
        .select(col(idCol)).distinct()
      corpus.join(broadcast(contaminated), Seq(idCol), "left_anti")
    }
  }

  /** HOF formulation of [[simhashMd5]] — executable specification.
    * Bit i votes on bit (i%4) of hex digit (i/4) of md5(token). */
  def simhashMd5Hof(text: Column): Column = {
    val hs = transform(TextFunctions.tokens(text), t => md5(t))
    val bitIdx = sequence(lit(0), lit(15))
    val votes = aggregate(hs, array_repeat(lit(0), 16),
      (acc, h) => zip_with(acc, bitIdx, (a, i) => {
        val digit = conv(element_at(split(h, ""), (floor(i / 4) + 1).cast("int")), 16, 10).cast("int")
        val bit = call_function("shiftright", digit, (i % 4).cast("int")).bitwiseAND(1)
        a + when(bit === 1, 1).otherwise(-1)
      }))
    aggregate(zip_with(votes, bitIdx, (v, i) =>
        when(v > 0, call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Global rarest-first rank bijection over a (term, df) dictionary:
    * rank 1, 2, … assigned in (df, term) lexicographic order — ties are
    * impossible (term is unique) so the rank is deterministic under any
    * partitioning. Assigned DISTRIBUTED: range-partition by (df, term),
    * sort within partitions, zipWithIndex (one extra count job for the
    * per-partition offsets) — no single-partition vocabulary window, no
    * vocabulary broadcast, so open-vocab corpora (URLs, hashes, shingles)
    * survive. Because rank order IS the rarest-first total order, a doc's
    * sorted rank array doubles as its prefix-filter order: element i
    * (1-based, ascending) is the doc's i-th rarest token. Shared by
    * [[jaccardJoinExact]] and [[containmentJoinExact]]. */
  private def rankByDfTerm(dfreq: DataFrame): DataFrame = {
    val spark = dfreq.sparkSession
    val rankedRdd = dfreq
      .repartitionByRange(col("df"), col("term"))
      .sortWithinPartitions(col("df"), col("term"))
      .select(col("term"))
      .rdd.zipWithIndex()
      .map { case (r, i) => org.apache.spark.sql.Row(r.getString(0), i + 1L) }
    spark.createDataFrame(rankedRdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** EXACT set-similarity self-join via prefix filtering (AllPairs/PPJoin,
    * Bayardo et al. 2007 / Xiao et al. 2008): every pair with token-set
    * Jaccard ≥ `tau`, with NO probabilistic recall loss — the exact
    * complement to the MinHash/LSH family.
    *
    * Prefix-filter principle: order the vocabulary globally rarest-first;
    * if J(A,B) ≥ τ, the first |A| − ⌈τ|A|⌉ + 1 tokens of A and the
    * corresponding prefix of B MUST share a token. So candidates come from
    * an equi-join on prefix tokens only, plus the length-compatibility
    * bound |A| ≥ τ|B| (J ≥ τ forces sizes within a τ factor), then exact
    * verification on the candidate set.
    *
    * Scale shape: the document-frequency dictionary is vocabulary-sized
    * and BROADCASTS back into the scan; the candidate equi-join shuffles
    * only (prefix-token, id, n) rows — prefix length shrinks as τ grows
    * (τ=0.9 → ~10% of each set) and rare-first ordering makes the join
    * keys the LEAST skewed tokens in the corpus. Verification carries the
    * two token sets for candidate pairs only, never all pairs — and as
    * sorted INT rank arrays (the dictionary bijection), not strings, so
    * the dominant cost on candidate-dense corpora (small vocabularies,
    * near-clique clusters) is int-array intersection, not string hashing.
    * A PPJoin positional bound prunes candidates whose best-case overlap
    * already misses ⌈τ/(1+τ)·(n_a+n_b)⌉ before anything is shipped.
    *
    * No stage converges on one partition: the [[rankByDfTerm]] bijection
    * is assigned distributed, and because rank order IS the rarest-first
    * (df, term) total order, the per-doc prefix is a SLICE of the sorted
    * rank array — no per-doc window, no second pass over the exploded
    * token rows. Web-scale corpora grow token vocabularies with
    * URLs/hashes, so neither a single-partition vocabulary window nor a
    * vocabulary broadcast survives open-vocab input; both are gone
    * (PlanSpec asserts no single-partition exchange).
    *
    * The ⌈τ·n⌉ is computed with a 1e-9 epsilon pulled DOWN so float error
    * can only lengthen the prefix (more candidates, never lost recall);
    * JaccardJoinSpec pins equivalence with the brute-force cross join. */
  def jaccardJoinExact(docs: DataFrame, textCol: String, idCol: String,
                       tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val sets = docs
      .select(col(idCol).as("id"),
        array_distinct(TextFunctions.tokens(lower(col(textCol)))).as("tk"))
      .filter(size(col("tk")) > 0)
    // (r19 note: materializing `exploded` itself was measured a LOSS —
    // full token-row frames cost more to checkpoint+reread than the
    // scan+tokenize they save, same result as the containment A/B; the
    // win below is the ONE reduced shared frame, setsInt)
    val exploded = sets.select(col("id"), size(col("tk")).as("n"),
      explode(col("tk")).as("term"))
    val dfreq = exploded.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // verification currency: token sets as SORTED INT RANK arrays — the
    // rank is a bijection on the vocabulary, so intersection counts are
    // unchanged, but candidate pairs then ship ~8-byte ints instead of
    // strings and intersect without per-pair string hashing (measured 8×
    // on a degenerate small-vocabulary corpus where candidates are dense).
    val ranked = rankByDfTerm(dfreq)
    // no broadcast hint: word vocabularies would fit, but open-vocab
    // corpora (URLs, hashes) would not — both term-keyed joins below
    // share one exchange of `exploded`, so the shuffle is paid once.
    // Materialized once: EVERY downstream frame (prefix sides a and b,
    // both verify sides) reads this one reduced aggregate.
    val setsInt = exploded.join(ranked, "term").groupBy(col("id"), col("n"))
      .agg(sort_array(collect_list(col("rank"))).as("tkr"))
      .localCheckpoint(true)
    // r20: the rarest-first prefix IS a slice of tkr. rank order ==
    // (df, term) lexicographic order by construction, so sort_array put
    // each doc's tokens in exactly the order the r19 window produced —
    // element i (1-based) of tkr has window rn = i. The prefix frame is
    // posexplode(slice(...)) over the checkpoint: the second checkpoint,
    // the window (full exploded⋈dfreq shuffle + per-doc sort) and the
    // third scan+tokenize of the corpus all disappear (guide §2.4 —
    // remove shuffles outright; the r19 sf0.1 regression was these two
    // eager checkpoints' fixed cost, gone with the second checkpoint).
    val prefix = setsInt.select(col("id"), col("n"),
        posexplode(slice(col("tkr"), lit(1),
          (col("n") - ceil(lit(tau) * col("n") - lit(1e-9)) + 1).cast("int")))
          .as(Seq("pos", "rk")))
      .select(col("rk"), col("id"), col("n"),
        (col("pos") + 1).cast("int").as("rn"))
    val a = prefix.select(col("rk"), col("id").as("id_a"),
      col("n").as("n_a"), col("rn").as("rn_a"))
    val b = prefix.select(col("rk"), col("id").as("id_b"),
      col("n").as("n_b"), col("rn").as("rn_b"))
    val candidates = a.join(b, "rk")
      .filter(col("id_a") < col("id_b"))
      // J ≥ τ forces |A∩B| ≥ τ|A∪B| ≥ τ·max(|A|,|B|), and |A∩B| ≤ min —
      // so min ≥ τ·max, with the same downward epsilon
      .filter(least(col("n_a"), col("n_b")) >=
        lit(tau) * greatest(col("n_a"), col("n_b")) - lit(1e-9))
      // PPJoin positional filter: at the FIRST shared rank-ordered token
      // the overlap is ≤ 1 + min(remaining suffix lengths); J ≥ τ needs
      // overlap ≥ ⌈τ/(1+τ)·(n_a+n_b)⌉. Every viable pair's first-common-
      // token row satisfies this (so OR-over-rows loses no recall); rows
      // matched at later positions carry a smaller bound and prune early
      .filter(lit(1) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")) >=
        ceil(lit(tau) / (1 + tau) * (col("n_a") + col("n_b")) - lit(1e-9)))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b")).distinct()
    // verify-join order matters downstream: joining id_b FIRST leaves the
    // verified pair stream hash-partitioned on id_a, which the capped
    // mode's groupBy(id_a) reuses — the top-k aggregate then plans with
    // ZERO additional exchange (the pair stream never re-materializes;
    // measured at sf1 in SCALE.md r15). Same join cost either way here.
    val verify = candidates
      .join(setsInt.select(col("id").as("id_b"), col("tkr").as("tkr_b")), "id_b")
      .join(setsInt.select(col("id").as("id_a"), col("tkr").as("tkr_a")), "id_a")
      // r19: two-pointer merge COUNT over the sorted rank arrays instead
      // of size(array_intersect(...)) — the hash-set + materialized
      // intersection array cost ~5 µs per candidate pair (SCALE.md q115 attribution; 9.6 s
      // of q115's sf1 wall); the count is all the measure needs and the
      // arrays are sorted by construction. Same integer count ⇒ same IEEE
      // division ⇒ bit-identical jaccard.
      .withColumn("inter", graft.expr.NativeFunctions
        .sorted_intersect_count(col("tkr_a"), col("tkr_b")).cast("double"))
      .withColumn("jaccard", col("inter") /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= tau)
    verify.select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[jaccardJoinExact]] capped at the `k` most-similar partners per
    * id_a — exact `QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY
    * jaccard DESC, id_b) <= k` semantics via the bounded
    * [[SimilarityFunctions.topKPerDoc]] aggregator. Verification still
    * scores every candidate (exactness requires it), but the output and
    * every downstream exchange are docs × k instead of all pairs — at
    * 100 TB the all-pairs row set of a duplicate-heavy corpus is orders
    * of magnitude larger than the corpus itself. */
  def jaccardJoinTopK(docs: DataFrame, textCol: String, idCol: String,
                      tau: Double, k: Int): DataFrame =
    SimilarityFunctions.topKPerDoc(
      jaccardJoinExact(docs, textCol, idCol, tau), "id_a", "id_b", "jaccard", k)

  /** [[jaccardJoinExact]] summarized to per-doc decisions
    * (id, n_partners, best_jaccard), counting BOTH directions of the
    * unordered pair stream — the "which docs have near-dups, and how
    * close" report a curation pipeline acts on. */
  def jaccardJoinSummary(docs: DataFrame, textCol: String, idCol: String,
                         tau: Double): DataFrame =
    SimilarityFunctions.pairSummaryPerDoc(
        jaccardJoinExact(docs, textCol, idCol, tau),
        "id_a", "id_b", "jaccard", symmetric = true)
      .withColumnRenamed("best_score", "best_jaccard")

  /** EXACT set-containment self-join: every ORDERED pair (A, B) with
    * shingle containment |A∩B| / |A| ≥ `tau` — the asymmetric complement
    * of [[jaccardJoinExact]]. Jaccard misses the quote/boilerplate case
    * where a short document lives inside a much longer one (the union
    * term drowns the overlap); containment is the measure C4-style span
    * analysis and quote detection actually need. Sets are distinct word
    * `ngram`-shingles (the native [[graft.expr.NativeFunctions.word_ngrams]]
    * expression), because at shingle granularity containment means shared
    * PASSAGES, not shared vocabulary.
    *
    * Prefix-filter completeness (overlap form of Chaudhuri et al. 2006):
    * C(A,B) ≥ τ forces |A∩B| ≥ ⌈τ|A|⌉ = t, so at most |A| − t tokens of A
    * miss B — A's (|A| − t + 1)-prefix in ANY fixed global order must hit
    * B. The probing side therefore explodes only its prefix (rarest-first
    * so the join keys are the least-skewed shingles); the indexed side
    * has no τ-dependent prefix (a containing document can be arbitrarily
    * large) and posts all shingles, with the size bound n_b ≥ t applied
    * at candidate time.
    *
    * Scale shape: the shingle dictionary is corpus-sized, so NOTHING here
    * broadcasts or converges on one partition — the [[rankByDfTerm]]
    * bijection is assigned distributed, document frequency attaches via a
    * shuffle equi-join on the shingle, and candidates verify on the
    * candidate set only. r20: verification currency is the same SORTED
    * INT RANK arrays as [[jaccardJoinExact]] — one reduced per-doc frame
    * (setsInt) is the single materialized intermediate, and because rank
    * order is the rarest-first total order, BOTH the probing prefix (a
    * slice) and the full postings (a posexplode) fall out of that array:
    * the per-doc window, the exploded⋈dfreq re-join and the 4 extra
    * corpus scans of the r19 shape are gone, the candidate equi-join keys
    * are 8-byte longs instead of ~25-char shingle strings, and the verify
    * intersects int arrays via `sorted_intersect_count` instead of
    * hashing string arrays. (The r19 A/B that measured checkpointing a
    * LOSS here checkpointed the FULL frames — string shingle arrays and
    * token rows; this is the reduced-frame discipline that won for
    * jaccard, applied with the shingle dictionary ranked instead of
    * carried.) */
  def containmentJoinExact(docs: DataFrame, textCol: String, idCol: String,
                           tau: Double, ngram: Int = 3): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    val sets = docs
      .select(col(idCol).as("id"),
        graft.expr.NativeFunctions.word_ngrams(col(textCol), ngram).as("tk"))
      .filter(size(col("tk")) > 0)
    val exploded = sets.select(col("id"), size(col("tk")).as("n"),
      explode(col("tk")).as("term"))
    val dfreq = exploded.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ranked = rankByDfTerm(dfreq)
    // the ONE materialized frame: per-doc sorted rank arrays (ints, not
    // shingle strings — word_ngrams output is distinct, so the bijection
    // preserves set sizes and intersection counts exactly)
    val setsInt = exploded.join(ranked, "term").groupBy(col("id"), col("n"))
      .agg(sort_array(collect_list(col("rank"))).as("tkr"))
      .localCheckpoint(true)
    // probing side explodes only its prefix: a slice of tkr (rank order ==
    // (df, term) order, so element i has the r19 window's rn = i)
    val prefixA = setsInt.select(col("id"), col("n"),
        posexplode(slice(col("tkr"), lit(1),
          (col("n") - ceil(lit(tau) * col("n") - lit(1e-9)) + 1).cast("int")))
          .as(Seq("pos", "rk")))
      .select(col("rk"), col("id").as("id_a"), col("n").as("n_a"),
        (col("pos") + 1).cast("int").as("rn_a"))
    // B posts ALL tokens but carries its rank position: the positional
    // bound below kills matches deep in B at join time (B cannot be
    // statically prefixed — the required overlap depends on the partner —
    // but per-row it prunes exactly as hard)
    val postingsB = setsInt.select(col("id"), col("n"),
        posexplode(col("tkr")).as(Seq("pos", "rk")))
      .select(col("rk"), col("id").as("id_b"), col("n").as("n_b"),
        (col("pos") + 1).cast("int").as("rn_b"))
    val candidates = prefixA.join(postingsB, "rk")
      .filter(col("id_a") =!= col("id_b"))
      // the containing side must at least hold the required overlap
      .filter(col("n_b") >= ceil(lit(tau) * col("n_a") - lit(1e-9)))
      // first-common-token bound (same argument as jaccardJoinExact's
      // PPJoin filter): overlap ≤ 1 + min of remaining suffixes, and a
      // viable pair's first common token always yields a passing row
      .filter(lit(1) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")) >=
        ceil(lit(tau) * col("n_a") - lit(1e-9)))
      .select(col("id_a"), col("id_b"), col("n_a")).distinct()
    // id_b joins first so the verified stream stays hash-partitioned on
    // id_a — the topK/summary modes' groupBy(id_a) then needs no further
    // exchange (see jaccardJoinExact, SCALE.md r15)
    val verify = candidates
      .join(setsInt.select(col("id").as("id_b"), col("tkr").as("tkr_b")), "id_b")
      .join(setsInt.select(col("id").as("id_a"), col("tkr").as("tkr_a")), "id_a")
      // two-pointer merge count over sorted distinct rank arrays — the
      // same integer as size(array_intersect) over the shingle strings
      // (rank is a bijection), without per-pair string hashing
      .withColumn("inter", graft.expr.NativeFunctions
        .sorted_intersect_count(col("tkr_a"), col("tkr_b")).cast("double"))
      // no epsilon: both engines compute inter/n_a with the same IEEE
      // division, so the >= comparison agrees bit-for-bit (q115 convention)
      .withColumn("containment", col("inter") / col("n_a"))
      .filter(col("containment") >= tau)
    verify.select(col("id_a"), col("id_b"), col("containment"))
  }

  /** [[containmentJoinExact]] capped at the `k` best-containing partners
    * per id_a (the CONTAINED doc) — exact QUALIFY-top-k semantics, output
    * docs × k instead of all ordered pairs. */
  def containmentJoinTopK(docs: DataFrame, textCol: String, idCol: String,
                          tau: Double, k: Int, ngram: Int = 3): DataFrame =
    SimilarityFunctions.topKPerDoc(
      containmentJoinExact(docs, textCol, idCol, tau, ngram),
      "id_a", "id_b", "containment", k)

  /** Repeated-substring spans: for every document, the maximal token
    * intervals covered by SLIDING `L`-token windows whose window occurs
    * more than once in the corpus (in any document, including this one) —
    * the detection half of exact substring deduplication (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022, which removes repeated substrings ≥ 50 tokens; the reference
    * implementation builds a corpus suffix array). [[dedupSpans]] handles
    * DISJOINT fixed chunks; this finds arbitrarily-aligned repeats —
    * boilerplate headers, license blocks, quoted passages — and returns
    * (id, span_start, span_end, n_windows) with span bounds in token
    * positions, overlapping/adjacent windows merged per document.
    *
    * Scale shape: windows materialize scan-side (one row per token
    * position carrying a 128-bit window digest, never the window text);
    * corpus-wide window counts are a digest-keyed groupBy (map-side
    * partial aggregation) re-attached via an equi-join that AQE can
    * skew-split when one boilerplate digest goes viral — the row volume
    * is corpus token count, which is the honest cost of exact substring
    * dedup without a distributed suffix array; Lee et al. pay the same
    * in suffix-array construction.
    * The island merge is a second exchange keyed by document. md5 keeps
    * the digest reproducible for the DuckDB oracle — production would use
    * xxhash64 (8 B instead of a 32-char hex, same semantics), the same
    * trade [[minhash]] documents. */
  /** The composable-HOF formulation of the window digests — kept as the
    * executable specification [[graft.expr.WindowDigestsExpr]] is tested
    * against (same pattern as [[minhashSignatureHof]]). */
  def repeatedSpanDigestsHof(text: Column, L: Int): Column = {
    val tk = TextFunctions.tokens(text)
    when(size(tk) < L, array().cast("array<binary>")).otherwise(
      transform(sequence(lit(0), size(tk) - L),
        i => unhex(md5(concat_ws(" ", slice(tk, i + 1, lit(L)))))))
  }

  /** The removal half of exact substring dedup (Lee et al. ACL 2022):
    * [[repeatedSpans]] DETECTS repeated regions; this CUTS them, keeping
    * exactly the first occurrence. A token is dropped iff some repeated
    * L-window covering it is a NON-CANONICAL occurrence of its digest,
    * where the canonical occurrence is the corpus-wide minimum of
    * (doc, position) — so the first copy of every duplicated substring
    * survives verbatim (including within-document repeats: the earlier
    * position wins) and every later copy loses exactly the duplicated
    * tokens. Returns per doc: kept-token count, dropped count, and the
    * md5 of the re-joined clean text — the digest pins exact
    * reconstruction in the oracle.
    *
    * The canonical occurrence is `min(struct(id, i))` — lexicographic
    * (doc, position) order with no numeric encoding, so it is exact for
    * ANY id type and ANY position magnitude (a scalar `id·10⁶ + i`
    * encode would silently null out under a string id and silently
    * re-rank under a ≥10⁶ position; the struct min has neither failure
    * mode). For non-numeric ids "first" means the id ordering's min —
    * deterministic, documented, and the positions within a doc still
    * resolve earliest-first.
    *
    * Scale shape: the digest exchange from [[repeatedSpans]] plus a
    * (doc, position) exchange for the covered-token set and the final
    * per-doc regroup — a heavier pipeline than detection (it must
    * rebuild documents), all keyed, nothing driver-side. */
  def cutRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                       L: Int, hotThreshold: Long = 100000L,
                       salts: Int = 16): DataFrame = {
    require(L >= 2, s"window length must be >= 2 tokens, got $L")
    val windows = df
      .select(col(idCol).as("id"),
        posexplode(graft.expr.NativeFunctions.window_digests(col(textCol), L))
          .as(Seq("i", "g")))
    val occ = struct(col("id"), col("i"))
    val canon = windows
      .select(col("g"), occ.as("occ"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"), min(col("occ")).as("first_occ"))
    val droppedPos = joinWindowsByDigest(windows, canon, "inner",
        hotThreshold, salts)
      .filter(col("cnt") >= 2 && occ =!= col("first_occ"))
      .select(col("id"), explode(sequence(col("i"), col("i") + (L - 1))).as("p"))
      .distinct()
    rebuildAfterCut(df, textCol, idCol, droppedPos)
  }

  /** Skew-safe digest-keyed join for the substring-dedup family: join
    * per-position `windows` (id, i, g) with a digest-keyed table carrying
    * an occurrence count, WITHOUT ever letting one viral digest's rows
    * land on a single task.
    *
    * Why not AQE: `OptimizeSkewedJoin` pattern-matches joins whose
    * children are bare shuffle stages — here the count side is an
    * AGGREGATE over its exchange, so the rule structurally cannot fire
    * (verified: a 10:1 viral fixture plans `AQEShuffleRead coalesced`,
    * never `skew=true`). The salt is therefore explicit and
    * deterministic:
    *
    *  - the HOT digest list is detected from a deterministic 1/64 hash
    *    sample of the windows (sampled count ≥ hotThreshold/128, the 2×
    *    safety factor): hotness only affects PARTITIONING — results are
    *    salt-invariant (spec-pinned) — so a missed hot digest merely
    *    routes cold (the status quo) and a false positive replicates one
    *    build row. Sampling matters: deriving the list from the full
    *    count aggregate re-shuffles a windows-sized partial exchange
    *    (measured 3.3× total shuffle on the cut path, because the pruned
    *    broadcast-side aggregate cannot reuse the main aggregate's
    *    exchange); the sample shuffle is 1/64 of it. The list is bounded
    *    by totalWindows/hotThreshold rows, so it broadcasts;
    *  - probe rows of hot digests salt over `salts` sub-keys (hash of
    *    (id, i) — deterministic, no rand()); cold rows keep salt 0;
    *  - the count side replicates ONLY its hot rows `salts`× (cold rows
    *    once), so a corpus-sized digest table is never multiplied.
    *
    * The join is then uniformly keyed (g, salt): the viral digest's rows
    * spread over `salts` tasks by construction — pinned by the
    * TrainingPipelineSpec viral fixture. */
  private def joinWindowsByDigest(windows: DataFrame, byDigest: DataFrame,
                                  joinType: String,
                                  hotThreshold: Long, salts: Int,
                                  sampleOn: DataFrame = null): DataFrame = {
    // hot detection samples `sampleOn` when given — a CHAINED join (the
    // incremental cut's index join probes the output of the canon join)
    // should sample the RAW windows, not re-derive its upstream join for
    // the 1/64 probe
    val sampleSrc = Option(sampleOn).getOrElse(windows)
    // DOC-level sampling (hash of id only): the filter pushes below the
    // posexplode + digest projection, so the sample pass hashes 1/64 of
    // the DOCUMENTS, not all windows. Doc sampling sees exactly the skew
    // that matters — cross-document virality; a digest hot only inside
    // one unsampled document stays cold, and a single doc's windows are
    // bounded by that doc's length, not the corpus.
    // plan-statistics gate, no job: below ~1 GB of window rows even a
    // 100%-viral digest fits comfortably in one task, so skew cannot bite
    // and neither the sampling probe nor the salt machinery should run —
    // this keeps the small-corpus path (and its bench profile) identical
    // to the plain digest-keyed join. `graft.substring.skewGateBytes`
    // overrides the gate (specs set 0 to exercise the salted path).
    val gateBytes = BigInt(windows.sparkSession.conf
      .get("graft.substring.skewGateBytes", (1L << 30).toString).toLong)
    val smallInput = sampleSrc.queryExecution.optimizedPlan.stats.sizeInBytes <
      gateBytes
    if (smallInput)
      return windows.join(byDigest.hint("shuffle_hash"), Seq("g"), joinType)
    val sampleRate = 64L
    val hot = sampleSrc
      .filter(pmod(hash(col("id"), lit(0x9E3779B9)), lit(sampleRate)) === 0)
      .groupBy(col("g")).agg(count(lit(1)).as("__sc"))
      .filter(col("__sc") >= math.max(1L, hotThreshold / (sampleRate * 2)))
      .select(col("g"), lit(1).as("__hot"))
    // no hot digest (the common case): keep the plain digest-keyed join —
    // salting would force the digest table through an EXTRA (g, salt)
    // exchange (measured ~3× total shuffle on the cut path) for nothing.
    // The emptiness probe costs one sampled job; its outcome is a pure
    // function of the data, so the plan stays deterministic.
    if (hot.isEmpty)
      return windows.join(byDigest.hint("shuffle_hash"), Seq("g"), joinType)
    val saltedW = windows.join(broadcast(hot), Seq("g"), "left")
      .withColumn("__salt", when(col("__hot").isNotNull,
        pmod(hash(col("id"), col("i")), lit(salts))).otherwise(lit(0)))
      .drop("__hot")
    // the build side replicates by the SAME hot list the probe salts by
    // (a probe row salted s must find its build row at salt s — deciding
    // replication from the build side's own count would desynchronize)
    val saltedR = byDigest.join(broadcast(hot), Seq("g"), "left")
      .withColumn("__salt",
        explode(when(col("__hot").isNotNull,
          sequence(lit(0), lit(salts - 1))).otherwise(sequence(lit(0), lit(0)))))
      .drop("__hot")
    saltedW.join(saltedR.hint("shuffle_hash"), Seq("g", "__salt"), joinType)
      .drop("__salt")
  }

  /** Shared reassembly tail of the cut operators: drop `droppedPos`'s
    * (id, p) token positions and report per doc (n_tokens, n_dropped,
    * clean_md5). One (id, p)-keyed anti-join + the per-doc regroup. */
  private def rebuildAfterCut(df: DataFrame, textCol: String, idCol: String,
                              droppedPos: DataFrame): DataFrame = {
    val toks = df
      .select(col(idCol).as("id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("p", "w")))
    val keptAgg = toks
      .join(droppedPos, Seq("id", "p"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("w")))),
          s => s.getField("w")))).as("clean_md5"))
    // left join from the full token counts: a document whose every token
    // was cut still reports, with n_kept = 0 and the empty-string digest
    toks.groupBy(col("id")).agg(count(lit(1)).as("n_tokens"))
      .join(keptAgg, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  /** Persist the substring-dedup digest index of a corpus: one row per
    * DISTINCT L-token window digest with its occurrence count — 16 B + 8 B
    * per distinct window, the whole index a small fraction of corpus
    * bytes. The incremental complement of [[cutRepeatedSpans]], same
    * pattern as the persisted LSH index (q111): hash the 100 TB corpus
    * ONCE, then cut each daily batch against the index without ever
    * re-scanning (or re-shuffling) corpus text. */
  def writeWindowIndex(df: DataFrame, textCol: String, idCol: String,
                       L: Int, dir: String): Unit = {
    require(L >= 2, s"window length must be >= 2 tokens, got $L")
    windowIndexRows(df, textCol, L).write.mode("overwrite").parquet(dir)
  }

  /** Resolve the live segment path of a window index. Two layouts:
    * the flat layout [[writeWindowIndex]] creates (parquet directly under
    * `dir`), and the GENERATION layout [[compactWindowIndex]] publishes
    * (`dir/gen=N/`, highest complete generation wins). A generation is
    * complete iff its `_SUCCESS` marker exists — Spark's output committer
    * writes it LAST, so a crash mid-compaction leaves an ignorable
    * half-written generation and readers stay on gen N−1 (or the flat
    * files). This is the object-store-safe publish the delta-log family
    * uses: never delete-then-rename the live path. */
  private def resolveWindowIndexDir(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): String = {
    val gen = Generations.current(spark, dir, "gen=")
    if (gen < 0) dir else Generations.path(dir, "gen=", gen)
  }

  /** Read the live segment files of a window index. Flat-layout reads list
    * the root's parquet files EXPLICITLY: a raw directory read would
    * partition-discover any half-written (marker-less, crashed) `gen=N`
    * subdirectory and silently include its debris. */
  private def readWindowIndexSegments(spark: org.apache.spark.sql.SparkSession,
                                      dir: String): DataFrame = {
    val live = resolveWindowIndexDir(spark, dir)
    if (live != dir) return spark.read.parquet(live)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).collect {
      case st if st.isFile && st.getPath.getName.endsWith(".parquet") =>
        st.getPath.toString
    }
    require(files.nonEmpty, s"no window-index segment found at $dir")
    spark.read.parquet(files.toIndexedSeq: _*)
  }

  private def windowIndexRows(df: DataFrame, textCol: String, L: Int): DataFrame =
    df.select(posexplode(graft.expr.NativeFunctions.window_digests(col(textCol), L))
        .as(Seq("i", "g")))
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"))

  /** Append a batch's (digest, count) DELTA segment to a persisted window
    * index — the accepted-docs bookkeeping that keeps the q141 daily-batch
    * story fresh without ever re-scanning the corpus (the
    * [[appendToLshIndex]] operational model). The index is LOG-STRUCTURED:
    * a digest may appear in several segments, and readers merge by
    * summing counts per digest ([[readWindowIndex]]) — append cost is
    * batch-sized, period. The merge is sound because the cut predicate
    * only consumes the TOTAL corpus count of a digest, and counts are
    * additive across segments. Run [[compactWindowIndex]] when segment
    * count grows. */
  def appendToWindowIndex(df: DataFrame, textCol: String, idCol: String,
                          L: Int, dir: String): Unit = {
    require(L >= 2, s"window length must be >= 2 tokens, got $L")
    val spark = df.sparkSession
    windowIndexRows(df, textCol, L).write.mode("append")
      .parquet(resolveWindowIndexDir(spark, dir))
  }

  /** Read a window index, merging log-structured delta segments: one row
    * per digest with the summed corpus count. Single-segment indexes pass
    * through the aggregate unchanged (sum of one = identity); the
    * aggregation partial-applies map-side, so the merge costs one
    * index-sized exchange at most — and the index is a small fraction of
    * corpus bytes (24 B per DISTINCT window). */
  def readWindowIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame =
    readWindowIndexSegments(spark, dir)
      .groupBy(col("g")).agg(sum(col("cnt")).as("cnt"))

  /** Rewrite a log-structured window index as one merged segment, in a
    * NEW generation directory: write `dir/gen=N+1` (the committer's
    * `_SUCCESS` marker publishes it — written last), then GC the previous
    * generation (or the flat layout's root files). There is no moment
    * without a complete live segment: a crash before the marker leaves
    * readers on the old generation, a crash after it leaves both (readers
    * take the max, the stale one is re-GC'd by the next compaction) —
    * the delete-then-rename swap this replaces had a window where the
    * published path held NOTHING. Single concurrent writer assumed, as
    * with any log-structured store. Readers may OVERLAP a compaction: the
    * previous complete generation is retained for one full cycle (only
    * `gen<=N-1` debris is GC'd here; `gen=N` dies at the NEXT compaction),
    * so a reader that resolved `gen=N` just before `gen=N+1` published
    * still finds its files for the duration of its scan. */
  def compactWindowIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Unit = {
    // the flat layout counts as gen 0
    val curGen = math.max(Generations.current(spark, dir, "gen="), 0L)
    readWindowIndex(spark, dir).write.mode("overwrite")
      .parquet(Generations.path(dir, "gen=", curGen + 1))
    // GC: keep the just-published generation AND the one it replaced (a
    // reader that resolved gen=N moments before the publish must be able
    // to finish its scan — gen=N is deleted by the NEXT compaction, one
    // full cycle later); everything older, any half-written (marker-less)
    // future gens from crashes, and flat root files go now
    Generations.gc(spark, dir, "gen=", curGen, curGen + 1, sweepRoot = true)
  }

  /** Cut a NEW batch against a corpus index from [[writeWindowIndex]]:
    * every batch token covered by a window whose digest exists in the
    * corpus is dropped (the corpus copy is by definition earlier =
    * canonical), and batch-INTERNAL repeats of unindexed windows keep
    * their first occurrence exactly as [[cutRepeatedSpans]] would.
    * Equivalent to running the full cut over corpus ∪ batch and keeping
    * the batch rows (given corpus precedence) — the oracle proves that.
    *
    * Scale shape: the batch's windows join the index on the digest (the
    * index side partial-aggregated at build time; Catalyst broadcasts it
    * when small, shuffles both when not — the BATCH is the small side in
    * the daily regime, so the optimizer's shuffle choice keys on batch
    * size, not corpus size), then the same (id, p) exchange + per-doc
    * regroup as the batch-local cut. Corpus text is never touched. */
  def cutAgainstIndex(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                      textCol: String, idCol: String, L: Int,
                      indexDir: String, hotThreshold: Long = 100000L,
                      salts: Int = 16): DataFrame = {
    require(L >= 2, s"window length must be >= 2 tokens, got $L")
    // read THROUGH the log-structured merge: after appendToWindowIndex a
    // digest may live in several segments, and a raw read would fan the
    // left join out segment-count-fold (correct only via the downstream
    // position distinct, and linearly more expensive); the merge is one
    // index-sized aggregate with map-side partials
    val idx = readWindowIndex(spark, indexDir)
      .select(col("g"), col("cnt").as("ccnt"))
    val windows = batch
      .select(col(idCol).as("id"),
        posexplode(graft.expr.NativeFunctions.window_digests(col(textCol), L))
          .as(Seq("i", "g")))
    val occ = struct(col("id"), col("i"))
    val batchCanon = windows
      .select(col("g"), occ.as("occ"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("bcnt"), min(col("occ")).as("first_occ"))
    // both digest joins are skew-safe: a batch viral on its OWN digest
    // salts against batchCanon; a batch viral on an INDEXED digest salts
    // against the corpus index (left join — unmatched batch digests
    // survive with a null ccnt)
    val withCanon = joinWindowsByDigest(windows, batchCanon, "inner",
      hotThreshold, salts)
    val droppedPos = joinWindowsByDigest(withCanon, idx, "left",
        hotThreshold, salts, sampleOn = windows)
      .filter(coalesce(col("ccnt"), lit(0L)) >= 1 ||
        (col("bcnt") >= 2 && occ =!= col("first_occ")))
      .select(col("id"), explode(sequence(col("i"), col("i") + (L - 1))).as("p"))
      .distinct()
    rebuildAfterCut(batch, textCol, idCol, droppedPos)
  }

  def repeatedSpans(df: DataFrame, textCol: String, idCol: String,
                    L: Int, hotThreshold: Long = 100000L,
                    salts: Int = 16): DataFrame = {
    require(L >= 2, s"window length must be >= 2 tokens, got $L")
    // 16-byte binary digests (not hex strings) halve the exchange payload;
    // spans depend only on digest EQUALITY, so any injective encoding of
    // md5 yields identical output. The native expression computes all
    // windows in one pass per row — bit-identical to the HOF twin
    // [[repeatedSpanDigestsHof]], which the spec pins
    val windows = df
      .select(col(idCol).as("id"),
        posexplode(graft.expr.NativeFunctions.window_digests(col(textCol), L))
          .as(Seq("i", "g")))
    // corpus-wide digest counts via groupBy + equi-join back (the same
    // shape as [[cutRepeatedSpans]]), NOT count-over-Window keyed on the
    // digest: a window partition cannot partial-aggregate and AQE cannot
    // split it, so one viral boilerplate digest — the exact thing this
    // operator hunts — would send ALL its occurrence rows to a single
    // task. The groupBy partial-aggregates map-side and the join is
    // skew-splittable (OptimizeSkewedJoin); PlanSpec gates the shape.
    val repeated = windows
      .groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    // the join back is the skew-safe differentiated join — a viral
    // boilerplate digest (the exact thing this operator hunts) salts its
    // probe rows over `salts` tasks; see [[joinWindowsByDigest]]
    val marked = joinWindowsByDigest(windows, repeated, "inner",
      hotThreshold, salts)
    // gaps-and-islands: windows all span [i, i+L), and i is increasing
    // within a doc, so a new island starts exactly when the gap to the
    // previous start exceeds L (touching windows merge)
    val byDoc = Window.partitionBy(col("id")).orderBy(col("i"))
    marked
      .withColumn("brk", when(col("i") - lag(col("i"), 1).over(byDoc) > L, 1)
        .otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("id"), col("island"))
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) + L).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }
}
