package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.functions.{TextFunctions => T}
import QuerySpec.{r2, r4, r6}

/** Text and sampling: token statistics, language ID, quality
  * signals, n-gram and LM filters, retrieval, eval-set scoring, and the
  * deterministic splits, samples, shards and mixtures of a training corpus. */
object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ---- text analysis: token/punct counts -------------------------------
    QuerySpec("q23_token_stats", (s, d) =>
      Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens"),
          T.punctCount(col("text")).as("n_punct"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
        |FROM documents WHERE n_chars > 0 ORDER BY doc_id""".stripMargin)),
    // ---- text analysis: language-ID heuristic ----------------------------
    QuerySpec("q29_lang_guess", (s, d) => {
      val toks = transform(T.tokens(col("text")), t => T.lowerCase(t))
      def score(ws: Seq[String]) = size(filter(toks, t => t.isin(ws: _*)))
      val sEn = score(Seq("the", "a", "of"))
      val sEs = score(Seq("key", "value", "row"))
      val sDe = score(Seq("join", "merge", "group"))
      Tables.documents(s, d).select(col("doc_id"),
          when(sEn >= sEs && sEn >= sDe, "en")
            .when(sEs >= sDe, "es").otherwise("de").as("guess"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH t AS (SELECT doc_id,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','a','of'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('key','value','row'))) AS s_es,
        |  len(list_filter(toks, x -> x IN ('join','merge','group'))) AS s_de
        |  FROM t)
        |SELECT doc_id, CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
        |                    WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS guess
        |FROM s ORDER BY doc_id""".stripMargin)),
    // ---- text analysis: composite quality score --------------------------
    QuerySpec("q34_quality_score", (s, d) =>
      Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), r4(T.qualityScore(col("text"))).as("quality"))
        .orderBy(col("doc_id")),
      Some("""WITH b AS (SELECT doc_id, text,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |  length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
        |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_letter
        |  FROM documents WHERE n_chars > 0),
        |sc AS (SELECT doc_id,
        |  least(n_tok / 100.0, 1.0) AS len_score,
        |  CAST(n_punct AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
        |  CASE WHEN n_letter = 0 THEN 0.0 ELSE CAST(n_upper AS DOUBLE)/n_letter END AS upper_ratio
        |  FROM b)
        |SELECT doc_id, round(
        |  len_score*0.4 +
        |  (CASE WHEN punct_ratio > 0.2 THEN 0.0 ELSE 1.0 - punct_ratio*5.0*0.5 END)*0.3 +
        |  (1.0 - upper_ratio*0.5)*0.3, 4) AS quality
        |FROM sc ORDER BY doc_id""".stripMargin)),
    // ---- text: stopword ratio + mean token length ------------------------
    QuerySpec("q45_text_ratios", (s, d) =>
      Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"),
          r4(T.stopwordRatio(col("text"), Seq("the", "a", "of", "and"))).as("stop_ratio"),
          r4(T.meanTokenLen(col("text"))).as("mean_tok_len"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text), '\s+') AS tk FROM documents WHERE n_chars > 0)
        |SELECT doc_id,
        |  round(CAST(len(list_filter(tk, x -> lower(x) IN ('the','a','of','and'))) AS DOUBLE)
        |        / len(tk), 4) AS stop_ratio,
        |  round(CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE)
        |        / len(tk), 4) AS mean_tok_len
        |FROM t ORDER BY doc_id""".stripMargin)),
    // ---- text: BPE-ish subword token counting ----------------------------
    QuerySpec("q58_subword_count", (s, d) =>
      Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), T.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_subwords
        |FROM documents WHERE n_chars > 0 ORDER BY doc_id""".stripMargin)),
    // ---- text: corpus top n-grams by document frequency ------------------
    // Explode the native distinct-shingle arrays -> ONE hash aggregation
    // with map-side partials; at 100 TB the shuffle carries (ngram, count)
    // partials, not documents, and top-k is TakeOrderedAndProject.
    QuerySpec("q60_top_ngrams", (s, d) =>
      Tables.documents(s, d)
        .select(explode(graft.expr.NativeFunctions.word_ngrams(col("text"), 3)).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20),
      Some("""WITH toks AS (SELECT regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |ng AS (SELECT unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS ngram FROM toks)
        |SELECT ngram, count(*) AS n FROM ng
        |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin)),
    // ---- text: TF-IDF (smooth idf, sklearn convention) -------------------
    QuerySpec("q61_tfidf", (s, d) => {
      val docs = Tables.documents(s, d)
      T.tfIdf(docs, "text", "doc_id", nDocs = docs.count())
        .select(col("doc_id"), col("term"), col("tf"), r4(col("tfidf")).as("tfidf"))
        .orderBy(col("doc_id"), col("term"))
    },
      Some("""WITH toks AS (SELECT doc_id,
        |    unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |           x -> lower(x))) AS term
        |  FROM documents WHERE trim(text) <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents)
        |SELECT doc_id, term, tf,
        |  round(tf * (ln((nd + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
        |FROM tf JOIN dfreq USING (term), n
        |ORDER BY doc_id, term""".stripMargin)),
    // ---- pipeline: deterministic content-hash train/test split -----------
    QuerySpec("q62_hash_split", (s, d) =>
      Tables.documents(s, d)
        .select(when(T.hashBucket(col("text"), 100) < 10, "holdout")
          .otherwise("train").as("split"))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy(col("split")),
      Some("""WITH b AS (SELECT CASE WHEN
        |    CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |       CAST(strpos('0123456789abcdef', substr(md5(text), j, 1)) - 1 AS BIGINT)
        |         << (4 * (6 - j))), 'sum') AS BIGINT) % 100 < 10
        |  THEN 'holdout' ELSE 'train' END AS split FROM documents)
        |SELECT split, count(*) AS n FROM b GROUP BY split ORDER BY split""".stripMargin)),
    // ---- text: exact length percentiles (length-filter thresholds) -------
    // exact `percentile` (linear interpolation, same as DuckDB
    // quantile_cont) — percentile_approx is the sketch alternative when a
    // single-pass approximate answer suffices at corpus scale
    QuerySpec("q63_len_quantiles", (s, d) => {
      Tables.documents(s, d)
        .agg(expr("percentile(n_chars, 0.5)").as("p50_raw"),
          expr("percentile(n_chars, 0.9)").as("p90_raw"),
          expr("percentile(n_chars, 0.99)").as("p99_raw"))
        .select(r2(col("p50_raw")).as("p50"), r2(col("p90_raw")).as("p90"),
          r2(col("p99_raw")).as("p99"))
    },
      Some("""SELECT round(quantile_cont(n_chars, 0.5), 2) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 2) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 2) AS p99
        |FROM documents""".stripMargin)),
    // ---- text: n-gram repetition ratio (repetitive-text filter) ----------
    QuerySpec("q66_repetition", (s, d) =>
      Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), r4(T.repetitionRatio(col("text"), 3)).as("rep_ratio"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM documents WHERE n_chars > 0),
        |g AS (SELECT doc_id, greatest(len(tk) - 2, 0) AS total,
        |    len(list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 2, 0)),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS dist
        |  FROM t)
        |SELECT doc_id, CASE WHEN total = 0 THEN 0.0
        |  ELSE round(1.0 - CAST(dist AS DOUBLE) / total, 4) END AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin)),
    // ---- LLM-pipeline: overlapping token-window chunking -----------------
    QuerySpec("q73_chunks", (s, d) =>
      Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), explode(T.chunkTokens(col("text"), 32, 8)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.chunk_text").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |  array_to_string(tk[i*24+1 : least(i*24+32, len(tk))], ' ') AS chunk_text
        |FROM t, unnest(generate_series(0, (len(tk)-1)//24)) AS u(i)
        |WHERE len(tk) > 0
        |ORDER BY doc_id, chunk_idx""".stripMargin)),
    // ---- LLM-pipeline: sequence packing into ~2000-token bins ------------
    QuerySpec("q74_pack_bins", (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), T.tokenCount(col("text")).as("n_tok"))
        .withColumn("bin", T.packBins(col("n_tok"), 2000,
          Seq(col("source")), Seq(col("doc_id"))))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("source"), col("bin")),
      Some("""WITH t AS (SELECT source, doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        |b AS (SELECT source, doc_id, n_tok,
        |    CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000) AS BIGINT) AS bin
        |  FROM t)
        |SELECT source, bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),
    // ---- LLM-pipeline: deterministic stratified sampling by content hash -
    QuerySpec("q75_stratified_sample", (s, d) =>
      graft.functions.SamplingFunctions.stratifiedHashSample(
          Tables.documents(s, d), col("lang"), col("text"),
          Map("en" -> 0.5, "de" -> 1.0), defaultFraction = 0.2, buckets = 100)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("lang")),
      Some("""WITH h AS (SELECT lang,
        |    CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |      CAST(strpos('0123456789abcdef', substr(md5(text), j, 1)) - 1 AS BIGINT)
        |        << (4 * (6 - j))), 'sum') AS BIGINT) % 100 AS hb
        |  FROM documents)
        |SELECT lang, count(*) AS n_kept FROM h
        |WHERE hb < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 100 ELSE 20 END
        |GROUP BY lang ORDER BY lang""".stripMargin)),
    // ---- LLM-pipeline: PII redaction (synthetic PII appended per doc) ----
    QuerySpec("q78_pii_redact", (s, d) => {
      val pii = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com from 10.0."), (col("doc_id") % 256), lit(".7"))
      Tables.documents(s, d)
        .select(col("doc_id"), length(pii).as("len_raw"),
          length(T.redactPii(pii)).as("len_redacted"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH a AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com from 10.0.'
        |         || (doc_id % 256) || '.7' AS pii
        |  FROM documents)
        |SELECT doc_id, length(pii) AS len_raw,
        |  length(regexp_replace(regexp_replace(regexp_replace(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\+?\d[\d -]{7,}\d\b', '<PHONE>', 'g')) AS len_redacted
        |FROM a ORDER BY doc_id""".stripMargin)),
    // ---- LLM-pipeline: character-entropy quality signal ------------------
    QuerySpec("q79_char_entropy", (s, d) =>
      Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), r4(T.charEntropy(col("text"))).as("entropy"))
        .orderBy(col("doc_id")),
      Some("""WITH c AS (SELECT doc_id, regexp_split_to_array(text, '') AS ch
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, round(-list_aggregate(list_transform(list_distinct(ch),
        |    u -> (CAST(len(list_filter(ch, x -> x = u)) AS DOUBLE) / len(ch))
        |         * ln(CAST(len(list_filter(ch, x -> x = u)) AS DOUBLE) / len(ch))),
        |  'sum'), 4) AS entropy
        |FROM c ORDER BY doc_id""".stripMargin)),
    // ---- LLM-pipeline: IQR-fence length-outlier filter -------------------
    // The quartile row is a 1-row broadcast (scalar-subquery shape): the
    // corpus scan is filtered against it with no shuffle beyond the final
    // small aggregation. Fence multiplier 0.25 suits the synthetic
    // length distribution (1.5 is the textbook default).
    QuerySpec("q80_len_outliers", (s, d) => {
      val docs = Tables.documents(s, d)
      val q = docs.agg(
        expr("percentile(n_chars, 0.25)").as("q1"),
        expr("percentile(n_chars, 0.75)").as("q3"))
      val iqr = col("q3") - col("q1")
      docs.crossJoin(broadcast(q))
        .filter(col("n_chars") < col("q1") - iqr * 0.25 ||
          col("n_chars") > col("q3") + iqr * 0.25)
        .groupBy(col("source")).agg(count(lit(1)).as("n_outliers"))
        .orderBy(col("source"))
    },
      Some("""WITH q AS (SELECT quantile_cont(n_chars, 0.25) AS q1,
        |                 quantile_cont(n_chars, 0.75) AS q3 FROM documents)
        |SELECT source, count(*) AS n_outliers FROM documents, q
        |WHERE n_chars < q1 - 0.25 * (q3 - q1) OR n_chars > q3 + 0.25 * (q3 - q1)
        |GROUP BY source ORDER BY source""".stripMargin)),
    // ---- deterministic per-source cap (domain balancing) -----------------
    QuerySpec("q87_cap_per_source", (s, d) =>
      graft.functions.SamplingFunctions.capPerGroup(
          Tables.documents(s, d), col("source"), col("doc_id"), 20)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id")),
      Some("""SELECT source, doc_id FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20
        |ORDER BY source, doc_id""".stripMargin)),
    // ---- boilerplate n-gram flagging (top-20 corpus 3-grams per doc) -----
    QuerySpec("q88_boilerplate", (s, d) =>
      graft.functions.TextFunctions.boilerplateHits(
          Tables.documents(s, d), "text", "doc_id", n = 3, topK = 20)
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |ng AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g FROM toks),
        |top AS (SELECT g FROM ng GROUP BY g ORDER BY count(*) DESC, g LIMIT 20)
        |SELECT doc_id, count(*) AS boilerplate_hits FROM ng JOIN top USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ---- LLM-pipeline: deterministic seeded global shuffle → fixed-token
    // shard assignment (training export). Global cumsum via hash-prefix
    // buckets + driver prefix-summed offsets — no single-partition window;
    // ShardSpec pins invariance to bucket count and input partitioning ----
    QuerySpec("q109_shards", (s, d) =>
      graft.functions.SamplingFunctions.shardByTokenBudget(
          Tables.documents(s, d)
            .select(col("doc_id"), T.tokenCount(col("text")).as("n_tok")),
          col("doc_id"), col("n_tok"), seed = "s42", shardTokens = 8192,
          buckets = 64)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("shard")),
      // q109's oracle: the same seeded permutation (md5('s42' ∥ doc_id)) as a
      // plain global window — DuckDB can afford the single-partition cumsum
      // the Spark side deliberately avoids; agreement proves the bucketed
      // two-phase prefix sum computes exactly the global running total
      Some("""WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
        |    md5('s42' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |b AS (SELECT doc_id, n_tok,
        |    CAST(floor(coalesce(sum(n_tok) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 8192) AS BIGINT) AS shard
        |  FROM t)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1 ORDER BY shard""".stripMargin)),
    // ---- lexical retrieval: BM25 ranked search — corpus stats broadcast,
    // docs without query terms filtered scan-side BEFORE the explode ----
    QuerySpec("q118_bm25", (s, d) =>
      graft.functions.SearchFunctions.bm25TopK(
          Tables.documents(s, d), "text", "doc_id", Seq("spark", "vector"), k = 20)
        .select(col("doc_id"), r4(col("score")).as("score")),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |st AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM t),
        |q(term) AS (VALUES ('spark'), ('vector')),
        |dfq AS (SELECT term, count(*) AS df FROM t, q
        |  WHERE list_contains(tk, term) GROUP BY term),
        |tf AS (SELECT doc_id, len(tk) AS dl, term,
        |    len(list_filter(tk, x -> x = term)) AS tf
        |  FROM t, q WHERE list_contains(tk, term)),
        |sc AS (SELECT tf.doc_id,
        |    sum(ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |        * (tf.tf * 2.2)
        |        / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / st.avgdl))) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN st GROUP BY tf.doc_id)
        |SELECT doc_id, round(score, 4) AS score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),
    // ---- lexical retrieval: inverted-index conjunctive search — the
    // posting-list layout; oracle scans raw text, proving index ≡ scan ---
    QuerySpec("q119_inverted_index", (s, d) => {
      val S = graft.functions.SearchFunctions
      val idx = S.buildInvertedIndex(Tables.documents(s, d), "text", "doc_id")
      S.searchConjunctive(idx, Seq("spark", "hash", "merge")).orderBy(col("doc_id"))
    },
      Some("""WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> '')
        |SELECT doc_id FROM t
        |WHERE list_contains(tk, 'spark') AND list_contains(tk, 'hash')
        |  AND list_contains(tk, 'merge')
        |ORDER BY doc_id""".stripMargin)),
    // ---- LLM-pipeline: trained NB language classifier (fastText-langid
    // shape) — exact-count train on the 90% md5-bucket split, score the
    // held-out 10%, emit the confusion matrix. The fitted model is
    // vocabulary-sized and broadcasts; the only scoring exchange carries
    // one row per (doc, class) ------------------------------------------
    QuerySpec("q112_nb_classify", (s, d) => {
      val C = graft.functions.ClassifierFunctions
      val docs = Tables.documents(s, d).filter(col("n_chars") > 0)
        .withColumn("hb", T.hashBucket(col("text"), 100))
      val model = C.trainNaiveBayes(docs.filter(col("hb") >= 10), "text", "lang")
      val test = docs.filter(col("hb") < 10)
      C.nbPredict(test, model, "text", "doc_id")
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("pred_label"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("pred_label"))
    },
      Some("""WITH hb AS (SELECT doc_id, lang, text,
        |    CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |      CAST(strpos('0123456789abcdef', substr(md5(text), j, 1)) - 1 AS BIGINT)
        |        << (4 * (6 - j))), 'sum') AS BIGINT) % 100 AS hb
        |  FROM documents WHERE n_chars > 0),
        |tr AS (SELECT lang, text FROM hb WHERE hb >= 10),
        |te AS (SELECT doc_id, lang, text FROM hb WHERE hb < 10),
        |ttok AS (SELECT lang AS label,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM tr WHERE trim(text) <> ''),
        |cnts AS (SELECT label, term, count(*) AS cnt FROM ttok GROUP BY label, term),
        |cs AS (SELECT p.label,
        |    ln(p.n_c * 1.0 / (SELECT count(*) FROM tr)) AS log_prior,
        |    ln((t.t_c + (SELECT count(DISTINCT term) FROM cnts)) * 1.0) AS log_denom
        |  FROM (SELECT lang AS label, count(*) AS n_c FROM tr GROUP BY lang) p
        |  JOIN (SELECT label, sum(cnt) AS t_c FROM cnts GROUP BY label) t USING (label)),
        |nt AS (SELECT doc_id, lang,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        |  FROM te),
        |st AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM te WHERE trim(text) <> ''),
        |m AS (SELECT st.doc_id, c.label, sum(ln(c.cnt + 1.0)) AS s_match
        |  FROM st JOIN cnts c USING (term) GROUP BY st.doc_id, c.label),
        |sc AS (SELECT n.doc_id, n.lang, cs.label,
        |    cs.log_prior + coalesce(m.s_match, 0) - n.n_tok * cs.log_denom AS score
        |  FROM nt n CROSS JOIN cs
        |  LEFT JOIN m ON m.doc_id = n.doc_id AND m.label = cs.label),
        |pr AS (SELECT doc_id, lang, label AS pred_label FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, label ASC) = 1)
        |SELECT lang, pred_label, count(*) AS n_docs FROM pr
        |GROUP BY lang, pred_label ORDER BY lang, pred_label""".stripMargin)),
    // ---- LLM-pipeline: unigram-LM perplexity filter (CCNet shape) —
    // bits/token of each held-out doc under the LM trained on the 90%
    // split; OOV terms cost log2(1)=0 so scoring is a broadcast join ----
    QuerySpec("q113_perplexity", (s, d) => {
      val C = graft.functions.ClassifierFunctions
      val docs = Tables.documents(s, d).filter(col("n_chars") > 0)
        .withColumn("hb", T.hashBucket(col("text"), 100))
      val lm = C.trainUnigramLm(docs.filter(col("hb") >= 10), "text")
      C.unigramBitsPerToken(docs.filter(col("hb") < 10), lm, "text", "doc_id")
        .select(col("doc_id"), col("n_tok"), r4(col("bits")).as("bits"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH hb AS (SELECT doc_id, text,
        |    CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |      CAST(strpos('0123456789abcdef', substr(md5(text), j, 1)) - 1 AS BIGINT)
        |        << (4 * (6 - j))), 'sum') AS BIGINT) % 100 AS hb
        |  FROM documents WHERE n_chars > 0),
        |ttok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM hb WHERE hb >= 10 AND trim(text) <> ''),
        |cnts AS (SELECT term, count(*) AS cnt FROM ttok GROUP BY term),
        |den AS (SELECT log2(((SELECT sum(cnt) FROM cnts)
        |                     + (SELECT count(*) FROM cnts)) * 1.0) AS log2_denom),
        |te AS (SELECT doc_id, text FROM hb WHERE hb < 10),
        |nt AS (SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
        |  FROM te WHERE trim(text) <> ''),
        |st AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM te WHERE trim(text) <> ''),
        |m AS (SELECT doc_id, sum(log2(cnt + 1.0)) AS s_match
        |  FROM st JOIN cnts USING (term) GROUP BY doc_id)
        |SELECT n.doc_id, n.n_tok,
        |  round(d.log2_denom - coalesce(m.s_match, 0) / n.n_tok, 4) AS bits
        |FROM nt n LEFT JOIN m USING (doc_id) CROSS JOIN den d
        |ORDER BY n.doc_id""".stripMargin)),
    // ---- LLM-pipeline: weighted corpus mixing WITH upsampling — epoch
    // repetition by stratum factor (en ×0.5 downsample, de ×2.3 upsample),
    // fractional epochs decided by the same 24-bit md5 bucket as q75 so
    // the oracle replays every inclusion; zero shuffle before the agg ----
    QuerySpec("q110_mixture", (s, d) =>
      graft.functions.SamplingFunctions.repeatWeighted(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), T.tokenCount(col("text")).as("n_tok")),
          col("lang"), col("doc_id").cast("string"),
          Map("en" -> 0.5, "de" -> 2.3), defaultFactor = 1.0, buckets = 100)
        .groupBy(col("lang"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("lang"), col("epoch")),
      // q110's oracle: same stratum factors; copies = floor(f) + (hb < frac),
      // hb = the q75-style 24-bit md5 bucket of the doc id; epochs unnested
      Some("""WITH t AS (SELECT doc_id, lang,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
        |    CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |      CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
        |        << (4 * (6 - j))), 'sum') AS BIGINT) % 100 AS hb
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |    CAST(floor(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 2.3 ELSE 1.0 END) AS INTEGER)
        |      + CASE WHEN hb < round((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 2.3 ELSE 1.0 END
        |          - floor(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 2.3 ELSE 1.0 END)) * 100)
        |        THEN 1 ELSE 0 END AS n
        |  FROM t),
        |e AS (SELECT lang, n_tok, CAST(u.i AS INTEGER) AS epoch
        |  FROM c, unnest(generate_series(0, n - 1)) AS u(i) WHERE n > 0)
        |SELECT lang, epoch, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM e GROUP BY 1, 2 ORDER BY lang, epoch""".stripMargin)),
    // ---- exact-size weighted sample without replacement (Efraimidis-
    // Spirakis priorities from the 24-bit content hash): longer docs
    // proportionally likelier, sample size pinned to exactly 100; the
    // corpus never shuffles (TakeOrderedAndProject) ----------------------
    QuerySpec("q127_weighted_sample", (s, d) =>
      graft.functions.SamplingFunctions.weightedSample(
          Tables.documents(s, d).filter(col("n_chars") > 0),
          col("doc_id"), col("n_chars"), k = 100)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id")),
      Some("""WITH h AS (SELECT doc_id, source, n_chars,
        |    (CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |       CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
        |         << (4 * (6 - j))), 'sum') AS BIGINT) + 1) / 16777216.0 AS u
        |  FROM documents WHERE n_chars > 0),
        |top AS (SELECT doc_id, source, n_chars FROM h
        |  ORDER BY ln(u) / n_chars DESC, doc_id LIMIT 100)
        |SELECT doc_id, source, n_chars FROM top ORDER BY doc_id""".stripMargin)),
    // ---- corpus drift: PSI of the length distribution, reference corpus
    // vs what survives a min-length quality gate — two bucket-histogram
    // aggregates and a tiny join; the corpus itself never shuffles ------
    QuerySpec("q129_drift_psi", (s, d) => {
      val docs = Tables.documents(s, d)
      val bucket = least(floor(col("n_chars") / 100), lit(8L))
      graft.meta.DataQuality.driftReport(
          docs, docs.filter(col("n_chars") >= 250), bucket)
        .select(col("bucket").cast("long").as("bucket"),
          r6(col("p")).as("p"), r6(col("q")).as("q"),
          r6(col("psi_term")).as("psi_term"))
        .orderBy(col("bucket"))
    },
      Some("""WITH refh AS (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 8) AS bucket,
        |    count(*) AS n FROM documents GROUP BY 1),
        |refs AS (SELECT bucket, CAST(n AS DOUBLE) / sum(n) OVER () AS p FROM refh),
        |curh AS (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 8) AS bucket,
        |    count(*) AS n FROM documents WHERE n_chars >= 250 GROUP BY 1),
        |curs AS (SELECT bucket, CAST(n AS DOUBLE) / sum(n) OVER () AS q FROM curh)
        |SELECT COALESCE(refs.bucket, curs.bucket) AS bucket,
        |  round(COALESCE(p, 0), 6) AS p, round(COALESCE(q, 0), 6) AS q,
        |  round((COALESCE(q, 0) - COALESCE(p, 0)) *
        |        ln((COALESCE(q, 0) + 1e-6) / (COALESCE(p, 0) + 1e-6)), 6) AS psi_term
        |FROM refs FULL OUTER JOIN curs ON refs.bucket = curs.bucket
        |ORDER BY bucket""".stripMargin)),
    // ---- corpus audit: χ² independence of language × source — one
    // exchange keyed on the pair, grid completion over the cell table ----
    QuerySpec("q133_chi2", (s, d) =>
      graft.meta.DataQuality.chiSquareIndependence(
          Tables.documents(s, d), col("lang"), col("source"))
        .select(col("n"), col("n_rows"), col("n_cols"), col("dof"),
          r6(col("chi2")).as("chi2")),
      Some("""WITH cells AS (SELECT lang AS va, source AS vb, count(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |rm AS (SELECT va, sum(n) AS row_n FROM cells GROUP BY 1),
        |cm AS (SELECT vb, sum(n) AS col_n FROM cells GROUP BY 1),
        |grid AS (SELECT rm.va, cm.vb, row_n, col_n, COALESCE(cells.n, 0) AS nij
        |  FROM rm CROSS JOIN cm
        |  LEFT JOIN cells ON cells.va = rm.va AND cells.vb = cm.vb),
        |g2 AS (SELECT *, sum(nij) OVER () AS tot FROM grid),
        |g3 AS (SELECT *, CAST(row_n AS DOUBLE) * col_n / tot AS e FROM g2)
        |SELECT CAST(max(tot) AS BIGINT) AS n,
        |  count(DISTINCT va) AS n_rows, count(DISTINCT vb) AS n_cols,
        |  (count(DISTINCT va) - 1) * (count(DISTINCT vb) - 1) AS dof,
        |  round(sum(pow(nij - e, 2) / e), 6) AS chi2
        |FROM g3""".stripMargin)),
    // ---- collocation mining: adjacent bigrams ranked by PMI — two
    // vocabulary-sized aggregates, unigram dictionary broadcast back;
    // the corpus never shuffles ----------------------------------------
    QuerySpec("q135_collocations", (s, d) =>
      graft.functions.TextFunctions.collocationsPmi(
          Tables.documents(s, d), "text", minCount = 5, topK = 20)
        .select(col("wa"), col("wb"), col("cab"), r4(col("pmi")).as("pmi")),
      Some("""WITH tk AS (SELECT list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    x -> lower(x)) AS t
        |  FROM documents WHERE trim(text) <> ''),
        |uc AS (SELECT w, count(*) AS ca FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
        |ut AS (SELECT sum(ca) AS u_total FROM uc),
        |bi AS (SELECT unnest(t[1:len(t)-1]) AS wa, unnest(t[2:len(t)]) AS wb
        |  FROM tk WHERE len(t) >= 2),
        |bc AS (SELECT wa, wb, count(*) AS cab FROM bi GROUP BY 1, 2),
        |bt AS (SELECT sum(cab) AS b_total FROM bc),
        |res AS (SELECT bc.wa, bc.wb, cab,
        |    ln((CAST(cab AS DOUBLE) / (SELECT b_total FROM bt)) /
        |       ((CAST(ua.ca AS DOUBLE) / (SELECT u_total FROM ut)) *
        |        (CAST(ub.ca AS DOUBLE) / (SELECT u_total FROM ut)))) AS pmi
        |  FROM bc JOIN uc ua ON ua.w = bc.wa JOIN uc ub ON ub.w = bc.wb
        |  WHERE cab >= 5)
        |SELECT wa, wb, cab, round(pmi, 4) AS pmi FROM res
        |ORDER BY pmi DESC, wa, wb LIMIT 20""".stripMargin)),
    // ---- fixed per-stratum quota: exactly 10 docs per source, weighted
    // by length — one group-keyed exchange, per-group rank only ---------
    QuerySpec("q139_weighted_quota", (s, d) =>
      graft.functions.SamplingFunctions.weightedSamplePerGroup(
          Tables.documents(s, d).filter(col("n_chars") > 0),
          col("source"), col("doc_id"), col("n_chars"), k = 10)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("doc_id")),
      Some("""WITH h AS (SELECT source, doc_id, n_chars,
        |    (CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |       CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
        |         << (4 * (6 - j))), 'sum') AS BIGINT) + 1) / 16777216.0 AS u
        |  FROM documents WHERE n_chars > 0)
        |SELECT source, doc_id, n_chars FROM h
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY ln(u) / n_chars DESC, doc_id) <= 10
        |ORDER BY source, doc_id""".stripMargin)),
    // ---- tokenizer/vocabulary coverage: per-source OOV rate against the
    // corpus top-K vocabulary — the coverage audit run before committing
    // to a tokenizer. Vocabulary = one partial-agged TakeOrdered pass;
    // membership attaches by broadcast; corpus rows never shuffle -------
    QuerySpec("q144_oov_rate", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(T.lowerCase(col("text")))).as("w"))
      // deterministic boundary: ties at rank K order by (count desc, term)
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(30)
        .select(col("w"), lit(1L).as("iv"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          r6(lit(1.0) - sum(coalesce(col("iv"), lit(0L))).cast("double") /
            count(lit(1))).as("oov_rate"))
        .orderBy(col("source"))
    },
      Some("""WITH tk AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> ''),
        |vocab AS (SELECT w, 1 AS iv FROM (
        |    SELECT w, count(*) AS c FROM tk GROUP BY w
        |    ORDER BY c DESC, w LIMIT 30))
        |SELECT source, count(*) AS n_tokens,
        |  round(1.0 - CAST(sum(COALESCE(iv, 0)) AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM tk LEFT JOIN vocab USING (w)
        |GROUP BY source ORDER BY source""".stripMargin)),
    // ---- GPT-style sequence packing: each doc's global token offset in
    // the id-ordered corpus concatenation and the 512-token sequences it
    // spans — the distributed prefix sum runs over ≤256 quantile buckets
    // (boundaries are fixed literals, so the bucketing cannot drift
    // between jobs), never a single-partition window -------------------
    QuerySpec("q149_seq_pack", (s, d) =>
      graft.functions.SamplingFunctions.packSequences(
          Tables.documents(s, d)
            .select(col("doc_id"),
              graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
            .filter(col("n_tok") > 0),
          col("doc_id"), col("n_tok"), seqLen = 512)
        .select(col("id").as("doc_id"), col("wt").as("n_tok"), col("offset"),
          col("first_seq"), col("last_seq"), col("n_seqs"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
        |  FROM documents WHERE trim(text) <> ''),
        |o AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |    CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS "offset"
        |  FROM t)
        |SELECT doc_id, n_tok, "offset",
        |  "offset" // 512 AS first_seq,
        |  ("offset" + n_tok - 1) // 512 AS last_seq,
        |  ("offset" + n_tok - 1) // 512 - "offset" // 512 + 1 AS n_seqs
        |FROM o ORDER BY doc_id""".stripMargin)),
    // ---- the end-to-end curation walk, composed from the operator
    // surface: quality gate → exact dedup keeping the best copy →
    // benchmark decontamination → deterministic per-source cap → final
    // mix stats. The single composed oracle proves the stages agree not
    // just individually but THROUGH each other's outputs ----------------
    QuerySpec("q152_curation_pipeline", (s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val pool = docs.filter(col("doc_id") % 97 =!= 0 && col("n_chars") >= 150)
      val deduped = graft.functions.DedupFunctions.dedupExactKeepBest(
        pool, "text", "doc_id", col("n_chars"))
      val clean = graft.functions.DedupFunctions.decontaminate(
        deduped, bench, "text", "doc_id", n = 5)
      graft.functions.SamplingFunctions.capPerGroup(
          clean, col("source"), col("doc_id"), 15)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"))
    },
      Some("""WITH pool AS (SELECT * FROM documents
        |  WHERE doc_id % 97 <> 0 AND n_chars >= 150),
        |dedup AS (SELECT * FROM pool
        |  QUALIFY row_number() OVER (PARTITION BY md5(text)
        |    ORDER BY n_chars DESC, doc_id DESC) = 1),
        |btk AS (SELECT regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE doc_id % 97 = 0 AND trim(text) <> ''),
        |bg AS (SELECT DISTINCT unnest(list_transform(
        |    generate_series(1, greatest(len(tk) - 4, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS g
        |  FROM btk),
        |ctk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM dedup WHERE trim(text) <> ''),
        |cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 4, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))) AS g
        |  FROM ctk),
        |bad AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)),
        |clean AS (SELECT * FROM dedup
        |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        |capped AS (SELECT * FROM clean
        |  QUALIFY row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 15)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM capped GROUP BY source ORDER BY source""".stripMargin)),
    // ---- eval-set scoring: clipped n-gram overlap (the integer core of
    // BLEU-n precision / ROUGE-n recall) between each doc and its
    // successor — a narrow scan-side projection (no shuffle beyond the
    // pairing join), the shape eval scoring keeps at 100 TB. Ratios are
    // single IEEE divisions of exact integers (engine-identical); the
    // exp/ln composition of full BLEU is deliberately NOT driver-gated --
    QuerySpec("q159_ngram_overlap", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(graft.functions.TextFunctions.tokenCount(col("text")) >= 2)
      val a = docs.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("text").as("cand"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ref"))
      a.join(b, "doc_id")
        .select(col("doc_id"),
          T.ngramOverlap(col("cand"), col("ref"), 1).as("o1"),
          T.ngramOverlap(col("cand"), col("ref"), 2).as("o2"))
        .select(col("doc_id"),
          col("o1.matches").cast("long").as("m1"),
          col("o1.cand_n").cast("long").as("c1"),
          col("o1.ref_n").cast("long").as("r1"),
          col("o2.matches").cast("long").as("m2"),
          col("o2.cand_n").cast("long").as("c2"),
          r6(col("o1.matches").cast("double") / col("o1.cand_n")).as("bleu1_p"),
          r6(col("o2.matches").cast("double") / col("o2.ref_n")).as("rouge2_r"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2
        |    AND trim(text) <> ''),
        |g AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(tk)), i -> tk[i]) AS g1,
        |    list_transform(generate_series(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1]) AS g2
        |  FROM t),
        |p AS (SELECT a.doc_id, a.g1 AS c1g, b.g1 AS r1g, a.g2 AS c2g, b.g2 AS r2g
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 13 = 0),
        |m AS (SELECT doc_id,
        |    CAST(list_aggregate(list_transform(list_distinct(c1g), x ->
        |      least(len(list_filter(c1g, y -> y = x)),
        |            len(list_filter(r1g, y -> y = x)))), 'sum') AS BIGINT) AS m1,
        |    CAST(len(c1g) AS BIGINT) AS c1, CAST(len(r1g) AS BIGINT) AS r1,
        |    CAST(list_aggregate(list_transform(list_distinct(c2g), x ->
        |      least(len(list_filter(c2g, y -> y = x)),
        |            len(list_filter(r2g, y -> y = x)))), 'sum') AS BIGINT) AS m2,
        |    CAST(len(c2g) AS BIGINT) AS c2,
        |    CAST(len(r2g) AS BIGINT) AS r2
        |  FROM p)
        |SELECT doc_id, m1, c1, r1, m2, c2,
        |  round(m1 * 1.0 / c1, 6) AS bleu1_p,
        |  round(m2 * 1.0 / r2, 6) AS rouge2_r
        |FROM m ORDER BY doc_id""".stripMargin)),
    // ---- ROUGE-L integer core: token-level LCS via the native two-row DP
    // ([[graft.expr.LcsTokensExpr]]) -- precision/recall are single
    // divisions of the exact integers, so DuckDB's recursive-CTE DP replay
    // hash-matches. Texts truncated to 40 tokens (sentence/paragraph eval
    // refs; keeps the O(n*m) per-row cost bounded at any corpus scale) ----
    QuerySpec("q160_rouge_l", (s, d) => {
      // whitespace is normalized (collapse + trim) BEFORE truncation on
      // both this side and the oracle: the rejoin-then-retokenize pattern
      // would otherwise drop a leading-empty token (text starting with a
      // tab/newline) that DuckDB's list_slice keeps
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          trim(regexp_replace(col("text"), "\\s+", " ")).as("nt"))
        .filter(col("nt") =!= "")
      def trunc(c: Column) = concat_ws(" ", slice(T.tokens(c), 1, 40))
      val a = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), trunc(col("nt")).as("cand"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        trunc(col("nt")).as("ref"))
      a.join(b, "doc_id")
        .select(col("doc_id"), T.rougeL(col("cand"), col("ref")).as("o"))
        .select(col("doc_id"),
          col("o.lcs").cast("long").as("lcs"),
          col("o.cand_n").cast("long").as("cand_n"),
          col("o.ref_n").cast("long").as("ref_n"),
          r6(col("o.lcs").cast("double") / col("o.cand_n")).as("rouge_l_p"),
          r6(col("o.lcs").cast("double") / col("o.ref_n")).as("rouge_l_r"))
        .orderBy(col("doc_id"))
    },
      // q160's oracle replays the LCS dynamic program in DuckDB with a
      // recursive CTE: one iteration per candidate token, the DP row carried
      // as a list; the intra-row max is resolved by the prefix-max identity
      // new[j] = max(old[j], max_{j'<=j}(old[j'-1] + eq(j'))) (valid because
      // old[] is monotone nondecreasing), so each step is pure list ops
      Some("""WITH RECURSIVE n AS (
        |  SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, list_slice(regexp_split_to_array(nt, ' '), 1, 40) AS tk
        |  FROM n WHERE nt <> ''),
        |p AS (SELECT a.doc_id, a.tk AS cand, b.tk AS ref
        |  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 7 = 0),
        |dp AS (
        |  SELECT doc_id, cand, ref, 0 AS i,
        |    list_transform(generate_series(0, len(ref)), x -> 0) AS dpr
        |  FROM p
        |  UNION ALL
        |  SELECT doc_id, cand, ref, i + 1,
        |    list_prepend(0, list_transform(generate_series(1, len(ref)), j ->
        |      greatest(dpr[j + 1],
        |        list_max(list_transform(generate_series(1, j), j2 ->
        |          dpr[j2] + CASE WHEN cand[i + 1] = ref[j2] THEN 1 ELSE 0 END)))))
        |  FROM dp WHERE i < len(cand))
        |SELECT doc_id,
        |  CAST(dpr[len(ref) + 1] AS BIGINT) AS lcs,
        |  CAST(len(cand) AS BIGINT) AS cand_n,
        |  CAST(len(ref) AS BIGINT) AS ref_n,
        |  round(dpr[len(ref) + 1] * 1.0 / len(cand), 6) AS rouge_l_p,
        |  round(dpr[len(ref) + 1] * 1.0 / len(ref), 6) AS rouge_l_r
        |FROM dp WHERE i = len(cand) ORDER BY doc_id""".stripMargin)),
    // ---- chrF integer core: clipped CHARACTER n-gram overlap over
    // whitespace-stripped text (orders 2 and 6, the ends of chrF's 1..6
    // band). Text truncated to 160 chars for the oracle's list-ops replay;
    // the same narrow-projection shape as q159 ----------------------------
    QuerySpec("q161_chrf", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 160).as("t"))
        .filter(length(regexp_replace(col("t"), "\\s+", "")) >= 6)
      val a = docs.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("t").as("cand"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"), col("t").as("ref"))
      a.join(b, "doc_id")
        .select(col("doc_id"),
          T.charNgramOverlap(col("cand"), col("ref"), 2).as("o2"),
          T.charNgramOverlap(col("cand"), col("ref"), 6).as("o6"))
        .select(col("doc_id"),
          col("o2.matches").cast("long").as("m2"),
          col("o2.cand_n").cast("long").as("c2"),
          col("o2.ref_n").cast("long").as("r2"),
          col("o6.matches").cast("long").as("m6"),
          col("o6.cand_n").cast("long").as("c6"),
          r6(col("o2.matches").cast("double") / col("o2.cand_n")).as("chrp2"),
          r6(col("o6.matches").cast("double") / col("o6.ref_n")).as("chrr6"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH t AS (
        |  SELECT doc_id, regexp_replace(substr(text, 1, 160), '\s+', '', 'g') AS s
        |  FROM documents),
        |f AS (SELECT doc_id, s FROM t WHERE len(s) >= 6),
        |g AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(s) - 1), i -> substr(s, i, 2)) AS g2,
        |    list_transform(generate_series(1, len(s) - 5), i -> substr(s, i, 6)) AS g6
        |  FROM f),
        |p AS (SELECT a.doc_id, a.g2 AS c2g, b.g2 AS r2g, a.g6 AS c6g, b.g6 AS r6g
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 11 = 0),
        |m AS (SELECT doc_id,
        |    CAST(list_aggregate(list_transform(list_distinct(c2g), x ->
        |      least(len(list_filter(c2g, y -> y = x)),
        |            len(list_filter(r2g, y -> y = x)))), 'sum') AS BIGINT) AS m2,
        |    CAST(len(c2g) AS BIGINT) AS c2, CAST(len(r2g) AS BIGINT) AS r2,
        |    CAST(list_aggregate(list_transform(list_distinct(c6g), x ->
        |      least(len(list_filter(c6g, y -> y = x)),
        |            len(list_filter(r6g, y -> y = x)))), 'sum') AS BIGINT) AS m6,
        |    CAST(len(c6g) AS BIGINT) AS c6,
        |    len(r6g) AS r6n
        |  FROM p)
        |SELECT doc_id, m2, c2, r2, m6, c6,
        |  round(m2 * 1.0 / c2, 6) AS chrp2,
        |  round(m6 * 1.0 / r6n, 6) AS chrr6
        |FROM m ORDER BY doc_id""".stripMargin)),
    // ---- chat-corpus assembly: event log -> role-tagged session
    // transcripts truncated to a context budget (one user-keyed exchange
    // end-to-end; per-session aggregate state bounded by the budget) ------
    QuerySpec("q162_chat_assembly", (s, d) =>
      graft.functions.ChatFunctions.assembleConversations(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_id")),
      Some("""WITH g AS (SELECT user_id, event_id, ts, event_type, props,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id FROM g),
        |t AS (SELECT *,
        |  (CASE WHEN event_type IN ('view','click') THEN 'user' ELSE 'assistant' END)
        |    || ': ' || event_type || ' ' || coalesce(props, '') AS line FROM s),
        |w2 AS (SELECT *, len(regexp_split_to_array(trim(line), '\s+')) AS tok FROM t),
        |r AS (SELECT *, sum(tok) OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS run FROM w2)
        |SELECT user_id, session_id,
        |  count(*) AS n_turns,
        |  CAST(sum(CASE WHEN run <= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN run <= 24 THEN tok END), 0) AS BIGINT) AS tokens_kept,
        |  coalesce(string_agg(CASE WHEN run <= 24 THEN line END, chr(10) ORDER BY ts, event_id), '') AS transcript
        |FROM r GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),
    // ---- DSIR importance resampling (Xie et al. 2023): target LM = the
    // German slice, source LM = the whole pool; every doc scores
    // logw = Σ_t [log2 p_tgt(t) − log2 p_src(t)] (one token explode, two
    // broadcast vocabulary joins) and Gumbel-top-k keeps exactly 50 with
    // probability ∝ 2^logw. The md5-uniform makes the draw itself
    // engine-reproducible, so the oracle replays the SELECTION, not just
    // the weights — a priority-order flip anywhere hash-mismatches ------
    QuerySpec("q187_dsir", (s, d) => {
      val C = graft.functions.ClassifierFunctions
      val docs = Tables.documents(s, d).filter(col("n_chars") > 0)
      val target = C.trainUnigramLm(docs.filter(col("lang") === "de"), "text")
      val source = C.trainUnigramLm(docs, "text")
      val w = C.dsirLogWeights(docs, target, source, "text", "doc_id")
      C.dsirResample(w, "doc_id", "logw", k = 50)
        .select(col("doc_id"), col("n_tok"), r4(col("logw")).as("logw"))
        .orderBy(col("doc_id"))
    },
      // q187's oracle replays BOTH unigram LMs, the per-doc importance
      // weight, the Gumbel priority (md5-uniform, same 24-bit bucket
      // construction as q75/q110) and the top-50 selection itself
      Some("""WITH docs AS (SELECT doc_id, text, lang FROM documents WHERE n_chars > 0),
        |tcnt AS (SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |    FROM docs WHERE lang = 'de' AND trim(text) <> '') GROUP BY term),
        |tden AS (SELECT log2(((SELECT sum(cnt) FROM tcnt)
        |                      + (SELECT count(*) FROM tcnt)) * 1.0) AS den_t),
        |scnt AS (SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |    FROM docs WHERE trim(text) <> '') GROUP BY term),
        |sden AS (SELECT log2(((SELECT sum(cnt) FROM scnt)
        |                      + (SELECT count(*) FROM scnt)) * 1.0) AS den_s),
        |nt AS (SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
        |  FROM docs WHERE trim(text) <> ''),
        |st AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM docs WHERE trim(text) <> ''),
        |m AS (SELECT doc_id, sum(coalesce(t.l, 0) - coalesce(s.l, 0)) AS s_diff
        |  FROM st
        |  LEFT JOIN (SELECT term, log2(cnt + 1.0) AS l FROM tcnt) t USING (term)
        |  LEFT JOIN (SELECT term, log2(cnt + 1.0) AS l FROM scnt) s USING (term)
        |  GROUP BY doc_id),
        |w AS (SELECT n.doc_id, n.n_tok,
        |    coalesce(m.s_diff, 0) + n.n_tok * (sd.den_s - td.den_t) AS logw
        |  FROM nt n LEFT JOIN m USING (doc_id) CROSS JOIN tden td CROSS JOIN sden sd),
        |pri AS (SELECT doc_id, n_tok, logw,
        |    logw - log2(-ln((CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |      CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
        |        << (4 * (6 - j))), 'sum') AS BIGINT) + 0.5) / 16777216.0)) AS p
        |  FROM w),
        |sel AS (SELECT doc_id, n_tok, logw FROM pri ORDER BY p DESC, doc_id ASC LIMIT 50)
        |SELECT doc_id, n_tok, round(logw, 4) AS logw FROM sel ORDER BY doc_id""".stripMargin)),
    // ---- bigram stupid-backoff LM (Brants et al. 2007): bits/token of
    // each held-out doc — observed transitions pay −log2(c₂/c₁), unseen
    // ones −log2 α plus the Laplace unigram; the oracle rebuilds both
    // dictionaries and every transition from the raw text -----------------
    QuerySpec("q188_backoff_lm", (s, d) => {
      val C = graft.functions.ClassifierFunctions
      val docs = Tables.documents(s, d).filter(col("n_chars") > 0)
        .withColumn("hb", T.hashBucket(col("text"), 100))
      val lm = C.trainBigramLm(docs.filter(col("hb") >= 10), "text")
      C.backoffBitsPerToken(docs.filter(col("hb") < 10), lm, "text", "doc_id")
        .select(col("doc_id"), col("n_tok"), r4(col("bits")).as("bits"))
        .orderBy(col("doc_id"))
    },
      // q188's oracle rebuilds the bigram and unigram dictionaries from the
      // train split and replays every transition: observed bigrams as
      // −log2(c₂/c₁), backoffs as −log2 α + the Laplace unigram
      Some("""WITH hb AS (SELECT doc_id, text,
        |    CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |      CAST(strpos('0123456789abcdef', substr(md5(text), j, 1)) - 1 AS BIGINT)
        |        << (4 * (6 - j))), 'sum') AS BIGINT) % 100 AS hb
        |  FROM documents WHERE n_chars > 0),
        |tr AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM hb WHERE hb >= 10 AND trim(text) <> ''),
        |ucnt AS (SELECT term, count(*) AS cnt
        |  FROM (SELECT unnest(ts) AS term FROM tr) GROUP BY term),
        |den AS (SELECT log2(((SELECT sum(cnt) FROM ucnt)
        |                     + (SELECT count(*) FROM ucnt)) * 1.0) AS log2_denom),
        |bcnt AS (SELECT p[1] AS wa, p[2] AS wb, count(*) AS cnt2
        |  FROM (SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS p
        |        FROM tr WHERE len(ts) >= 2)
        |  GROUP BY 1, 2),
        |big AS (SELECT wa, wb, log2(cnt2 * 1.0) - log2(u.cnt * 1.0) AS log2_ratio
        |  FROM bcnt JOIN ucnt u ON u.term = bcnt.wa),
        |te AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM hb WHERE hb < 10 AND trim(text) <> ''),
        |firstb AS (SELECT doc_id,
        |    d.log2_denom - coalesce(log2(u.cnt + 1.0), 0) AS bits
        |  FROM (SELECT doc_id, ts[1] AS wb FROM te) f
        |  LEFT JOIN ucnt u ON u.term = f.wb CROSS JOIN den d),
        |trans AS (SELECT doc_id, p[1] AS wa, p[2] AS wb
        |  FROM (SELECT doc_id, unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS p
        |        FROM te WHERE len(ts) >= 2)),
        |tb AS (SELECT t.doc_id,
        |    CASE WHEN b.log2_ratio IS NOT NULL THEN -b.log2_ratio
        |         ELSE -(ln(0.4) / ln(2.0)) + d.log2_denom
        |              - coalesce(log2(u.cnt + 1.0), 0) END AS bits
        |  FROM trans t
        |  LEFT JOIN big b ON b.wa = t.wa AND b.wb = t.wb
        |  LEFT JOIN ucnt u ON u.term = t.wb CROSS JOIN den d),
        |tot AS (SELECT doc_id, sum(bits) AS total
        |  FROM (SELECT * FROM firstb UNION ALL SELECT * FROM tb) GROUP BY doc_id)
        |SELECT t.doc_id, len(e.ts) AS n_tok, round(t.total / len(e.ts), 4) AS bits
        |FROM tot t JOIN te e USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // ---- Platt calibration: the NB en-vs-de log-odds margin of every
    // held-out doc, calibrated into P(en | s) by 6 unrolled Newton steps
    // with Platt's smoothed targets. The oracle replays the NB scores,
    // both target constants, every Newton iteration (5 sums + the 2×2
    // solve) and the final sigmoid — any drift in the fit moves every
    // probability --------------------------------------------------------
    QuerySpec("q196_calibration", (s, d) => {
      val C = graft.functions.ClassifierFunctions
      val docs = Tables.documents(s, d).filter(col("n_chars") > 0)
        .withColumn("hb", T.hashBucket(col("text"), 100))
      val model = C.trainNaiveBayes(docs.filter(col("hb") >= 10), "text", "lang")
      val te = docs.filter(col("hb") < 10)
      val sc = C.nbScore(te, model, "text", "doc_id")
      val scored = sc.filter(col("label") === "en")
        .select(col("doc_id"), col("score").as("s_en"))
        .join(sc.filter(col("label") === "de")
          .select(col("doc_id"), col("score").as("s_de")), "doc_id")
        .join(te.select(col("doc_id"), (col("lang") === "en").as("y")), "doc_id")
        .select(col("doc_id"), (col("s_en") - col("s_de")).as("s"), col("y"))
        .localCheckpoint(true)
      val (a, b) = C.fitPlatt(scored, "s", "y", iterations = 6)
      scored.select(col("doc_id"), r4(col("s")).as("s"),
          r4(C.plattProb(col("s"), a, b)).as("p"))
        .orderBy(col("doc_id"))
    },
      // q196's oracle replays the NB margin (q112's replay), Platt's
      // smoothed targets, all six Newton iterations (five sums + the 2×2
      // solve each, MATERIALIZED so the chain evaluates once, not
      // exponentially through the scalar subqueries) and the final sigmoid
      Some {
        val steps = (1 to 6).map { i =>
          val p = s"t${i - 1}"
          s"""g$i AS MATERIALIZED (SELECT
             |    sum((tt - pp) * s) AS g1, sum(tt - pp) AS g2,
             |    sum(pp * (1 - pp) * s * s) AS h11,
             |    sum(pp * (1 - pp) * s) AS h12,
             |    sum(pp * (1 - pp)) AS h22
             |  FROM (SELECT s,
             |      CASE WHEN y THEN (SELECT tpos FROM tgt) ELSE (SELECT tneg FROM tgt) END AS tt,
             |      1.0 / (1.0 + exp((SELECT a FROM $p) * s + (SELECT b FROM $p))) AS pp
             |    FROM base)),
             |t$i AS MATERIALIZED (SELECT
             |    (SELECT a FROM $p) - (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12) AS a,
             |    (SELECT b FROM $p) - (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12) AS b
             |  FROM g$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH hb AS (SELECT doc_id, lang, text,
           |    CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
           |      CAST(strpos('0123456789abcdef', substr(md5(text), j, 1)) - 1 AS BIGINT)
           |        << (4 * (6 - j))), 'sum') AS BIGINT) % 100 AS hb
           |  FROM documents WHERE n_chars > 0),
           |tr AS (SELECT lang, text FROM hb WHERE hb >= 10),
           |te AS (SELECT doc_id, lang, text FROM hb WHERE hb < 10),
           |ttok AS (SELECT lang AS label,
           |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           |  FROM tr WHERE trim(text) <> ''),
           |cnts AS (SELECT label, term, count(*) AS cnt FROM ttok GROUP BY label, term),
           |cs AS (SELECT p.label,
           |    ln(p.n_c * 1.0 / (SELECT count(*) FROM tr)) AS log_prior,
           |    ln((t.t_c + (SELECT count(DISTINCT term) FROM cnts)) * 1.0) AS log_denom
           |  FROM (SELECT lang AS label, count(*) AS n_c FROM tr GROUP BY lang) p
           |  JOIN (SELECT label, sum(cnt) AS t_c FROM cnts GROUP BY label) t USING (label)),
           |nt AS (SELECT doc_id, lang,
           |    CASE WHEN trim(text) = '' THEN 0
           |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok
           |  FROM te),
           |st AS (SELECT doc_id,
           |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           |  FROM te WHERE trim(text) <> ''),
           |m AS (SELECT st.doc_id, c.label, sum(ln(c.cnt + 1.0)) AS s_match
           |  FROM st JOIN cnts c USING (term) GROUP BY st.doc_id, c.label),
           |sc AS (SELECT n.doc_id, n.lang, cs.label,
           |    cs.log_prior + coalesce(m.s_match, 0) - n.n_tok * cs.log_denom AS score
           |  FROM nt n CROSS JOIN cs
           |  LEFT JOIN m ON m.doc_id = n.doc_id AND m.label = cs.label),
           |sd AS (SELECT e.doc_id, e.lang, e.score - d.score AS s
           |  FROM (SELECT doc_id, lang, score FROM sc WHERE label = 'en') e
           |  JOIN (SELECT doc_id, score FROM sc WHERE label = 'de') d USING (doc_id)),
           |base AS MATERIALIZED (SELECT doc_id, s, (lang = 'en') AS y FROM sd),
           |ns AS MATERIALIZED (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS np,
           |    sum(CASE WHEN y THEN 0 ELSE 1 END) AS nn FROM base),
           |tgt AS MATERIALIZED (SELECT (np + 1.0) / (np + 2.0) AS tpos,
           |    1.0 / (nn + 2.0) AS tneg FROM ns),
           |t0 AS MATERIALIZED (SELECT 0.0 AS a, ln((nn + 1.0) / (np + 1.0)) AS b FROM ns),
           |$steps
           |SELECT doc_id, round(s, 4) AS s,
           |  round(1.0 / (1.0 + exp((SELECT a FROM t6) * s + (SELECT b FROM t6))), 4) AS p
           |FROM base ORDER BY doc_id""".stripMargin
      })
  )
}
