package graft.queries

import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.functions.{DedupFunctions => D, SimilarityFunctions => Sim, TextFunctions => T}
import QuerySpec.{memoLayout, r4, r6}

/** Deduplication: exact and normalized duplicate groups, MinHash/LSH,
  * SimHash and rolling-hash fingerprints (with their md5 parity
  * witnesses), exact set-similarity and containment joins, substring
  * dedup, fuzzy joins and winnowing. */
object DedupQueries {

  /** Shared DuckDB CTE for the winnowing queries (q185/q186): word
    * 4-grams → salted md5 hex → sliding 5-windows → distinct minima,
    * ending in m(doc_id, fps). Short docs (< 4 tokens) drop; docs with
    * 1..4 hashes take one window over what exists — both matching
    * [[graft.functions.DedupFunctions.winnowFingerprints]] exactly. */
  private val winnowFpsSql: String =
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(toks)-3, 0)),
        |    i -> md5('wn|' || toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS h
        |  FROM t),
        |m AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(h)-4, 1)),
        |    j -> list_aggregate(h[j:j+4], 'min'))) AS fps
        |  FROM g WHERE len(h) >= 1)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- dedup: exact duplicate groups (md5) -----------------------------
    QuerySpec("q24_exact_dup_groups", (s, d) =>
      D.exactDupGroups(Tables.documents(s, d), "text", "doc_id", includeSingletons = true)
        .orderBy(col("digest")),
      Some("""SELECT md5(text) AS digest, count(*) AS n_dups, min(doc_id) AS canonical_id
        |FROM documents GROUP BY md5(text) ORDER BY digest""".stripMargin)),
    // ---- dedup: corpus summary -------------------------------------------
    QuerySpec("q25_dedup_summary", (s, d) =>
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(D.exactKey(col("text"))).as("n_distinct")),
      Some("SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct FROM documents")),
    // ---- dedup: MinHash signature (3-shingles, 2 salted hashes) ----------
    QuerySpec("q26_minhash", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), D.minhashSignature(col("text"), 3, 2).as("sig"))
        .select(col("doc_id"), element_at(col("sig"), 1).as("mh0"),
          element_at(col("sig"), 2).as("mh1"))
        .orderBy(col("doc_id")),
      Some("""WITH sh AS (
        |  SELECT doc_id, list_transform(
        |    generate_series(1, greatest(len(regexp_split_to_array(trim(text),'\s+')) - 2, 0)),
        |    i -> regexp_split_to_array(trim(text),'\s+')[i] || ' ' ||
        |         regexp_split_to_array(trim(text),'\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(text),'\s+')[i+2]) AS shingles
        |  FROM documents)
        |SELECT doc_id,
        |  list_aggregate(list_transform(shingles, s -> md5('s0' || s)), 'min') AS mh0,
        |  list_aggregate(list_transform(shingles, s -> md5('s1' || s)), 'min') AS mh1
        |FROM sh ORDER BY doc_id""".stripMargin)),
    // ---- dedup: LSH band-bucket histogram --------------------------------
    QuerySpec("q27_lsh_buckets", (s, d) =>
      Tables.documents(s, d)
        .select(D.minhashSignature(col("text"), 3, 2).as("sig"))
        .select(D.bandKeyFromSignature(col("sig"), 0, 2).as("band_key"))
        .groupBy(col("band_key")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .orderBy(col("band_key")),
      Some("""WITH sh AS (
        |  SELECT doc_id, list_transform(
        |    generate_series(1, greatest(len(regexp_split_to_array(trim(text),'\s+')) - 2, 0)),
        |    i -> regexp_split_to_array(trim(text),'\s+')[i] || ' ' ||
        |         regexp_split_to_array(trim(text),'\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(text),'\s+')[i+2]) AS shingles
        |  FROM documents),
        |keys AS (
        |  SELECT doc_id,
        |    list_aggregate(list_transform(shingles, s -> md5('s0' || s)), 'min') || '|' ||
        |    list_aggregate(list_transform(shingles, s -> md5('s1' || s)), 'min') AS band_key
        |  FROM sh)
        |SELECT band_key, count(*) AS n FROM keys GROUP BY band_key
        |HAVING count(*) > 1 ORDER BY band_key""".stripMargin)),
    // ---- dedup: SimHash (no oracle: xxhash64 is Spark-specific) ----------
    QuerySpec("q35_simhash", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), D.simhash64(col("text")).as("simhash"))
        .orderBy(col("doc_id")),
      // q35_simhash / q36_fingerprint intentionally rows-only: they fold
      // xxhash64/crc32 (Spark-native hashes, no DuckDB counterpart);
      // q51/q52 are their md5-based oracle-verified parity witnesses.
      None),
    // ---- text: rolling-hash fingerprint (no oracle: crc32 fold) ----------
    QuerySpec("q36_fingerprint", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      // rows-only, as q35_simhash
      None),
    // ---- dedup: LSH candidates verified by exact n-gram Jaccard ----------
    QuerySpec("q43_neardup_pairs", (s, d) =>
      D.neardupPairsLocal(Tables.documents(s, d), "text", "doc_id",
          n = 3, bands = 1, rowsPerBand = 2, jaccardThreshold = 0.0)
        .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH toks AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id, text, list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS shingles FROM toks),
        |keys AS (SELECT doc_id, text, shingles,
        |    list_aggregate(list_transform(shingles, s -> md5('s0' || s)), 'min') || '|' ||
        |    list_aggregate(list_transform(shingles, s -> md5('s1' || s)), 'min') AS band_key
        |  FROM sh)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS DOUBLE)
        |    / (len(list_distinct(a.shingles)) + len(list_distinct(b.shingles))
        |       - len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles)))), 4) AS jaccard
        |FROM keys a JOIN keys b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin)),
    // ---- dedup end-to-end: near-dup removal, dropped doc ids -------------
    QuerySpec("q47_dedup_near_dropped", (s, d) => {
      val docs = Tables.documents(s, d)
      val kept = D.dedupNear(docs, "text", "doc_id",
        n = 3, bands = 1, rowsPerBand = 2, jaccardThreshold = 0.8)
      docs.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      Some("""WITH toks AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id, list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS shingles FROM toks),
        |keys AS (SELECT doc_id, shingles,
        |    list_aggregate(list_transform(shingles, s -> md5('s0' || s)), 'min') || '|' ||
        |    list_aggregate(list_transform(shingles, s -> md5('s1' || s)), 'min') AS band_key
        |  FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM keys a JOIN keys b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS DOUBLE)
        |    / (len(list_distinct(a.shingles)) + len(list_distinct(b.shingles))
        |       - len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles)))) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |labels AS (
        |  WITH RECURSIVE reach(id, label) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.id
        |    WHERE r.label < e.src)
        |  SELECT id, min(label) AS label FROM reach GROUP BY id)
        |SELECT id AS doc_id FROM labels WHERE label < id ORDER BY doc_id""".stripMargin)),
    // ---- dedup: md5-SimHash (cross-engine parity witness for simhash) ----
    QuerySpec("q51_simhash_md5", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), D.simhashMd5(col("text")).as("simhash"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE
        |    list_transform(regexp_split_to_array(trim(text), '\s+'), x -> md5(x)) END AS hs
        |  FROM documents)
        |SELECT doc_id, CAST(list_aggregate(list_transform(generate_series(0, 15), i ->
        |  CASE WHEN 2 * len(list_filter(hs, h ->
        |      (((strpos('0123456789abcdef', substr(h, i // 4 + 1, 1)) - 1) >> (i % 4)) & 1) = 1)) > len(hs)
        |    THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS simhash
        |FROM t ORDER BY doc_id""".stripMargin)),
    // ---- text: md5 rolling-hash fingerprint (oracle-verified variant) ----
    QuerySpec("q52_fingerprint_md5", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), T.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE
        |    regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents)
        |SELECT doc_id, CAST(list_reduce(
        |  list_prepend(CAST(1003 AS BIGINT), list_transform(tk, t ->
        |    CAST(list_aggregate(list_transform(generate_series(1, 6), j ->
        |      CAST(strpos('0123456789abcdef', substr(md5(t), j, 1)) - 1 AS BIGINT) << (4 * (6 - j))),
        |      'sum') AS BIGINT))),
        |  (a, b) -> (a * 1000003 + b) % 1000000007) AS BIGINT) AS fp
        |FROM t ORDER BY doc_id""".stripMargin)),
    // ---- dedup: normalized exact-dup summary (canonicalize → hash) -------
    QuerySpec("q59_norm_dedup", (s, d) =>
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(D.exactKey(col("text"))).as("n_exact"),
        countDistinct(D.exactKey(T.normalizeForDedup(col("text")))).as("n_norm")),
      Some("""SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_exact,
        |  count(DISTINCT md5(trim(regexp_replace(
        |    regexp_replace(lower(trim(text)), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g')))) AS n_norm
        |FROM documents""".stripMargin)),
    // ---- test-set decontamination (n-gram leakage guard) -----------------
    // Benchmark = every 97th doc; survivors share no 5-gram with it.
    QuerySpec("q86_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.functions.DedupFunctions.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", n = 5)
        .groupBy(col("source")).agg(count(lit(1)).as("n_clean"))
        .orderBy(col("source"))
    },
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
        |btk AS (SELECT regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE doc_id % 97 = 0 AND trim(text) <> ''),
        |bg AS (SELECT DISTINCT unnest(list_transform(
        |    generate_series(1, greatest(len(tk) - 4, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS g
        |  FROM btk),
        |ctk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM corpus WHERE trim(text) <> ''),
        |cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 4, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))) AS g
        |  FROM ctk),
        |bad AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g))
        |SELECT source, count(*) AS n_clean FROM corpus
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |GROUP BY source ORDER BY source""".stripMargin)),
    // ---- C4-style corpus span dedup + document reassembly ----------------
    QuerySpec("q90_span_dedup", (s, d) =>
      graft.functions.DedupFunctions.dedupSpans(
          Tables.documents(s, d), "text", "doc_id", spanTokens = 20)
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |idx AS (SELECT doc_id, tk, unnest(generate_series(0,
        |    CAST(ceil(len(tk) / 20.0) AS INT) - 1)) AS chunk_idx FROM toks),
        |spans AS (SELECT doc_id, chunk_idx,
        |    array_to_string(tk[chunk_idx*20+1 : chunk_idx*20+20], ' ') AS t FROM idx),
        |kept AS (SELECT doc_id, chunk_idx, t, row_number() OVER (PARTITION BY t
        |    ORDER BY doc_id, chunk_idx) AS rn FROM spans)
        |SELECT doc_id, string_agg(t, ' ' ORDER BY chunk_idx) AS text
        |FROM kept WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ---- cross-corpus near-dup join (train × eval leak check) ------------
    QuerySpec("q91_cross_neardup", (s, d) => {
      val docs = Tables.documents(s, d)
      D.crossNeardupPairs(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id", "doc_id",
          n = 3, bands = 1, rowsPerBand = 2, jaccardThreshold = 0.0)
        .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      Some("""WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id, list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS shingles FROM toks),
        |keys AS (SELECT doc_id, shingles,
        |    list_aggregate(list_transform(shingles, s -> md5('s0' || s)), 'min') || '|' ||
        |    list_aggregate(list_transform(shingles, s -> md5('s1' || s)), 'min') AS band_key
        |  FROM sh)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS DOUBLE)
        |    / (len(list_distinct(a.shingles)) + len(list_distinct(b.shingles))
        |       - len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles)))), 4) AS jaccard
        |FROM keys a JOIN keys b ON a.band_key = b.band_key
        |WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |ORDER BY id_a, id_b""".stripMargin)),
    // ---- MinHash Jaccard estimate vs exact, on cross-corpus candidates ---
    // The planet-scale verification path: score candidate pairs from the 8
    // signature components already shuffled for LSH; exact Jaccard shown
    // alongside to expose the estimator error.
    QuerySpec("q93_minhash_est", (s, d) => {
      val keyed = Tables.documents(s, d).select(
          col("doc_id"),
          D.minhashSignature(col("text"), 3, 8).as("sig"),
          graft.expr.NativeFunctions.word_ngrams(col("text"), 3).as("sh"))
        .withColumn("band_key", D.bandKeyFromSignature(col("sig"), 0, 2))
      val a = keyed.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
          col("sh").as("sh_a"), col("band_key"))
      val b = keyed.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
          col("sh").as("sh_b"), col("band_key"))
      a.join(b, "band_key")
        .select(col("id_a"), col("id_b"),
          r4(D.jaccardEstimateFromSignatures(col("sig_a"), col("sig_b"))).as("est"),
          r4(D.jaccardFromDistinct(col("sh_a"), col("sh_b"))).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      Some("""WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id, list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS shingles FROM toks),
        |keys AS (SELECT doc_id, shingles, list_transform(generate_series(0, 7), j ->
        |    list_aggregate(list_transform(shingles, s -> md5('s' || CAST(j AS VARCHAR) || s)), 'min')) AS sig
        |  FROM sh),
        |k2 AS (SELECT doc_id, shingles, sig, sig[1] || '|' || sig[2] AS band_key FROM keys)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_filter(generate_series(1, 8), j -> a.sig[j] = b.sig[j])) AS DOUBLE) / 8, 4) AS est,
        |  round(CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS DOUBLE)
        |    / (len(list_distinct(a.shingles)) + len(list_distinct(b.shingles))
        |       - len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles)))), 4) AS jaccard
        |FROM k2 a JOIN k2 b ON a.band_key = b.band_key
        |WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |ORDER BY id_a, id_b""".stripMargin)),
    // ---- signature-only near-dup (no shingle payload — the 10^10 path) ---
    QuerySpec("q95_sig_neardup", (s, d) =>
      D.neardupPairsBySignature(Tables.documents(s, d), "text", "doc_id",
          n = 3, bands = 4, rowsPerBand = 2, estThreshold = 0.5)
        .select(col("id_a"), col("id_b"), r4(col("est")).as("est"))
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id, list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS shingles FROM toks),
        |keys AS (SELECT doc_id, list_transform(generate_series(0, 7), j ->
        |    list_aggregate(list_transform(shingles, s -> md5('s' || CAST(j AS VARCHAR) || s)), 'min')) AS sig
        |  FROM sh),
        |k2 AS (SELECT doc_id, sig, unnest([
        |    '0:' || sig[1] || '|' || sig[2], '1:' || sig[3] || '|' || sig[4],
        |    '2:' || sig[5] || '|' || sig[6], '3:' || sig[7] || '|' || sig[8]]) AS band_key
        |  FROM keys),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_filter(generate_series(1, 8), j -> a.sig[j] = b.sig[j])) AS DOUBLE) / 8 AS e
        |  FROM k2 a JOIN k2 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(e, 4) AS est FROM pairs
        |WHERE e >= 0.5 ORDER BY id_a, id_b""".stripMargin)),
    // ---- semantic dedup: exact cosine pairs → components → dropped ids
    // (the LSH-bucketed dedupSemantic is the scale path; the exact pair
    // source makes this one verifiable against a recursive-CTE oracle) --
    QuerySpec("q97_semantic_dedup", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val kept = Sim.dedupSemanticExact(emb, "embedding", "vec_id", threshold = 0.45)
      emb.join(kept.select("vec_id"), Seq("vec_id"), "left_anti")
        .select(col("vec_id")).orderBy(col("vec_id"))
    },
      Some("""WITH pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.45),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |labels AS (
        |  WITH RECURSIVE reach(id, label) AS (
        |    SELECT vec_id, vec_id FROM embeddings
        |    UNION
        |    SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.id
        |    WHERE r.label < e.src)
        |  SELECT id, min(label) AS label FROM reach GROUP BY id)
        |SELECT id AS vec_id FROM labels WHERE label < id ORDER BY vec_id""".stripMargin)),
    // ---- LLM-pipeline: INCREMENTAL near-dup via a persisted LSH index —
    // corpus (even ids) signed once into a (band, band_key, shingles)
    // parquet index; the new batch (odd ids) probes by broadcast equi-join
    // with in-row exact-Jaccard verify, never re-signing the corpus -------
    QuerySpec("q111_lsh_incremental", (s, d) => {
      val dir = memoLayout("q111_lsh", d) { tmp =>
        D.writeLshIndex(Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
          "text", "doc_id", tmp, n = 3, bands = 1, rowsPerBand = 2)
      }
      D.probeLshIndex(s, dir,
          Tables.documents(s, d).filter(col("doc_id") % 2 === 1),
          "text", "doc_id", n = 3, bands = 1, rowsPerBand = 2,
          jaccardThreshold = 0.0)
        .select(col("id_new"), col("id_index"), r4(col("jaccard")).as("jaccard"))
        .orderBy(col("id_new"), col("id_index"))
    },
      // q111's oracle: the q43 band-key formula, corpus = even ids probed by
      // the odd-id batch — independent of the persisted index layout
      Some("""WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id, list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS shingles FROM toks),
        |keys AS (SELECT doc_id, shingles,
        |    list_aggregate(list_transform(shingles, s -> md5('s0' || s)), 'min') || '|' ||
        |    list_aggregate(list_transform(shingles, s -> md5('s1' || s)), 'min') AS band_key
        |  FROM sh)
        |SELECT b.doc_id AS id_new, a.doc_id AS id_index,
        |  round(CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS DOUBLE)
        |    / (len(list_distinct(a.shingles)) + len(list_distinct(b.shingles))
        |       - len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles)))), 4) AS jaccard
        |FROM keys a JOIN keys b ON a.band_key = b.band_key
        |WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |ORDER BY id_new, id_index""".stripMargin)),
    // ---- entity resolution: edit-distance fuzzy join with COMPLETE
    // length-band blocking (|Δlen| ≤ d is implied by levenshtein ≤ d) —
    // candidates from a plain equi-join, never a cartesian. TPC-H part
    // names are 5 words from a ~90-word vocabulary, so the TRUE pair
    // count is near-quadratic (156 k pairs from 4 k names at sf0.1) and
    // gram blocking measurably cannot beat the output bound — bands win
    // on constants here; q148 runs the q-gram path on the distribution
    // it is FOR (a mostly-unique registry) ------------------------------
    QuerySpec("q125_fuzzy_join", (s, d) =>
      graft.functions.EntityResolution.fuzzyPairs(
          Tables.part(s, d).filter(col("p_partkey") % 5 === 0),
          "p_name", "p_partkey", maxDist = 1, blocking = "band")
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey % 5 = 0)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin)),
    // ---- dedup: EXACT set-similarity join via prefix filtering (AllPairs/
    // PPJoin) — no probabilistic recall loss; oracle is the brute-force
    // cross join, so the hash match proves the prefix filter is complete --
    QuerySpec("q115_jaccard_join", (s, d) =>
      D.jaccardJoinExact(Tables.documents(s, d).filter(col("doc_id") % 7 === 0),
          "text", "doc_id", tau = 0.9)
        .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH t AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS tk
        |  FROM documents WHERE doc_id % 7 = 0 AND trim(text) <> ''),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.tk, b.tk)) * 1.0
        |      / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) AS j
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(j, 4) AS jaccard FROM p WHERE j >= 0.9
        |ORDER BY id_a, id_b""".stripMargin)),
    // ---- exact shingle-containment join: ordered near-superset pairs
    // (quote/boilerplate detection) — prefix filter on the probing side
    // only, full postings on the indexed side, nothing broadcasts or
    // converges on one partition (shingle dictionary is corpus-sized) ----
    QuerySpec("q130_containment", (s, d) =>
      graft.functions.DedupFunctions.containmentJoinExact(
          Tables.documents(s, d), "text", "doc_id", tau = 0.8, ngram = 3)
        .select(col("id_a"), col("id_b"), r4(col("containment")).as("containment"))
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s FROM t),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS c
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |  WHERE len(a.s) > 0 AND len(b.s) > 0)
        |SELECT id_a, id_b, round(c, 4) AS containment FROM p
        |WHERE c >= 0.8 ORDER BY id_a, id_b""".stripMargin)),
    // ---- exact repeated-substring spans (Lee et al. detection shape):
    // sliding 8-token windows, corpus-wide digest counts in one exchange,
    // per-doc island merge in a second — arbitrary-alignment repeats that
    // disjoint-chunk span dedup (q90) cannot see ------------------------
    QuerySpec("q132_repeated_spans", (s, d) =>
      graft.functions.DedupFunctions.repeatedSpans(
          Tables.documents(s, d), "text", "doc_id", L = 8)
        .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"), col("n_windows"))
        .orderBy(col("doc_id"), col("span_start")),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |w AS (SELECT doc_id,
        |    unnest(generate_series(0, len(tk) - 8)) AS i,
        |    unnest(list_transform(generate_series(1, len(tk) - 8 + 1),
        |           j -> md5(array_to_string(tk[j:j+7], ' ')))) AS g
        |  FROM t WHERE len(tk) >= 8),
        |c AS (SELECT *, count(*) OVER (PARTITION BY g) AS cnt FROM w),
        |m AS (SELECT doc_id, i FROM c WHERE cnt >= 2),
        |isl AS (SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 8
        |      THEN 1 ELSE 0 END AS brk FROM m),
        |i2 AS (SELECT doc_id, i,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island FROM isl)
        |SELECT doc_id, min(i) AS span_start, max(i) + 8 AS span_end,
        |       count(*) AS n_windows
        |FROM i2 GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin)),
    // ---- the removal half of exact substring dedup: cut every repeated
    // region except its corpus-first occurrence; clean_md5 pins the exact
    // rebuilt text against the oracle ------------------------------------
    QuerySpec("q138_cut_spans", (s, d) =>
      graft.functions.DedupFunctions.cutRepeatedSpans(
          Tables.documents(s, d), "text", "doc_id", L = 8)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |w AS (SELECT doc_id,
        |    unnest(generate_series(0, len(tk) - 8)) AS i,
        |    unnest(list_transform(generate_series(1, len(tk) - 8 + 1),
        |           j -> md5(array_to_string(tk[j:j+7], ' ')))) AS g
        |  FROM t WHERE len(tk) >= 8),
        |c AS (SELECT g, count(*) AS cnt, min(doc_id * 1000000 + i) AS first_occ
        |  FROM w GROUP BY g),
        |dp AS (SELECT DISTINCT doc_id, p FROM (
        |    SELECT w.doc_id, unnest(generate_series(w.i, w.i + 7)) AS p
        |    FROM w JOIN c USING (g)
        |    WHERE cnt >= 2 AND w.doc_id * 1000000 + w.i <> first_occ)),
        |toks AS (SELECT doc_id, unnest(generate_series(0, len(tk) - 1)) AS p,
        |    unnest(tk) AS wd FROM t),
        |kept AS (SELECT toks.* FROM toks LEFT JOIN dp
        |    ON toks.doc_id = dp.doc_id AND toks.p = dp.p WHERE dp.doc_id IS NULL),
        |ka AS (SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(wd, ' ' ORDER BY p)) AS clean_md5 FROM kept GROUP BY doc_id),
        |tc AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
        |SELECT tc.doc_id, n_tokens, n_tokens - COALESCE(n_kept, 0) AS n_dropped,
        |  COALESCE(clean_md5, md5('')) AS clean_md5
        |FROM tc LEFT JOIN ka ON tc.doc_id = ka.doc_id
        |ORDER BY tc.doc_id""".stripMargin)),
    // ---- incremental substring dedup (q111's persisted-index pattern
    // applied to the Lee et al. cut): the corpus is window-digested ONCE
    // into a (digest, count) index; each batch cuts against the index —
    // corpus-precedence for indexed digests, keep-first within the batch
    // for new ones — without re-scanning or re-shuffling corpus text.
    // The oracle replays the INDEX semantics directly (corpus always
    // canonical); it pins the documented corpus-precedence contract. The
    // equivalence with cutting the raw union under id-ordered precedence
    // needs corpus ids strictly below batch ids — here they interleave
    // (doc_id % 5) — and is proven by TrainingPipelineSpec's fixtures ----
    QuerySpec("q141_incremental_cut", (s, d) => {
      val docs = Tables.documents(s, d)
      val idxDir = memoLayout("q141idx", d) { dir =>
        graft.functions.DedupFunctions.writeWindowIndex(
          docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", L = 8, dir)
      }
      graft.functions.DedupFunctions.cutAgainstIndex(s,
          docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", L = 8, idxDir)
        .orderBy(col("doc_id"))
    },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |w AS (SELECT doc_id,
        |    unnest(generate_series(0, len(tk) - 8)) AS i,
        |    unnest(list_transform(generate_series(1, len(tk) - 8 + 1),
        |           j -> md5(array_to_string(tk[j:j+7], ' ')))) AS g
        |  FROM t WHERE len(tk) >= 8),
        |idx AS (SELECT g, count(*) AS ccnt FROM w WHERE doc_id % 5 <> 0 GROUP BY g),
        |bw AS (SELECT * FROM w WHERE doc_id % 5 = 0),
        |bc AS (SELECT g, count(*) AS bcnt, min(doc_id * 1000000 + i) AS first_occ
        |  FROM bw GROUP BY g),
        |dp AS (SELECT DISTINCT doc_id, p FROM (
        |    SELECT bw.doc_id, unnest(generate_series(bw.i, bw.i + 7)) AS p
        |    FROM bw JOIN bc USING (g) LEFT JOIN idx USING (g)
        |    WHERE COALESCE(ccnt, 0) >= 1
        |       OR (bcnt >= 2 AND bw.doc_id * 1000000 + bw.i <> first_occ))),
        |toks AS (SELECT doc_id, unnest(generate_series(0, len(tk) - 1)) AS p,
        |    unnest(tk) AS wd FROM t WHERE doc_id % 5 = 0),
        |kept AS (SELECT toks.* FROM toks LEFT JOIN dp
        |    ON toks.doc_id = dp.doc_id AND toks.p = dp.p WHERE dp.doc_id IS NULL),
        |ka AS (SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(wd, ' ' ORDER BY p)) AS clean_md5 FROM kept GROUP BY doc_id),
        |tc AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
        |SELECT tc.doc_id, n_tokens, n_tokens - COALESCE(n_kept, 0) AS n_dropped,
        |  COALESCE(clean_md5, md5('')) AS clean_md5
        |FROM tc LEFT JOIN ka ON tc.doc_id = ka.doc_id
        |ORDER BY tc.doc_id""".stripMargin)),
    // ---- cross-source duplication attribution: per source, the share of
    // docs that are NON-canonical exact dups (canonical = min doc_id per
    // digest) — which sources are net copies of others ------------------
    QuerySpec("q147_dup_attribution", (s, d) => {
      val g = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val canon = g.groupBy(col("h"))
        .agg(min(col("doc_id")).as("first_id"), count(lit(1)).as("cnt"))
      g.join(canon, "h")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cnt") >= 2 && col("doc_id") =!= col("first_id"), 1L)
            .otherwise(0L)).as("n_dup"))
        .withColumn("dup_rate", r6(col("n_dup").cast("double") / col("n_docs")))
        .orderBy(col("source"))
    },
      Some("""WITH g AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |c AS (SELECT h, min(doc_id) AS first_id, count(*) AS cnt
        |  FROM g GROUP BY h)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN cnt >= 2 AND doc_id <> first_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN cnt >= 2 AND doc_id <> first_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM g JOIN c USING (h)
        |GROUP BY source ORDER BY source""".stripMargin)),
    // ---- fuzzy join on a MOSTLY-UNIQUE registry (supplier names made
    // unique by an id suffix — the open-vocabulary distribution): the
    // q-gram prefix blocking this corpus shape requires; the oracle is
    // brute force, so the hash match proves the composed filter complete
    QuerySpec("q148_fuzzy_registry", (s, d) =>
      graft.functions.EntityResolution.fuzzyPairs(
          Tables.part(s, d).filter(col("p_partkey") % 5 === 0)
            .select(col("p_partkey"),
              concat(col("p_name"), lit(" "), col("p_partkey")).as("reg_name")),
          "reg_name", "p_partkey", maxDist = 1, q = 3, blocking = "qgram")
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH p AS (SELECT p_partkey, p_name || ' ' || p_partkey AS reg_name
        |  FROM part WHERE p_partkey % 5 = 0)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  levenshtein(a.reg_name, b.reg_name) AS dist
        |FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.reg_name, b.reg_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin)),
    // ---- exact dedup keeping the BEST copy (C4 keeps the longest):
    // winner = max(score, id) per digest via groupBy + semi-join back —
    // no digest-keyed window, so viral exact dups never own a sort ------
    QuerySpec("q150_keep_best", (s, d) =>
      graft.functions.DedupFunctions.dedupExactKeepBest(
          Tables.documents(s, d), "text", "doc_id", col("n_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
        .orderBy(col("source")),
      Some("""WITH k AS (SELECT * FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY md5(text)
        |    ORDER BY n_chars DESC, doc_id DESC) = 1)
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |FROM k GROUP BY source ORDER BY source""".stripMargin)),
    // ---- capped exact pairwise joins: per-doc top-k decisions instead of
    // the all-pairs row set (docs × k output bound — at 100 TB the pair
    // list of a duplicate-heavy corpus dwarfs the corpus; the reference
    // itself only ever reports per-collection counts, never pair lists —
    // collections/controller.py:604–618). Oracles are literal QUALIFY
    // row_number replays over the brute-force pair set, so the hash match
    // proves the bounded aggregator's total order is the window's --------
    QuerySpec("q154_jaccard_topk", (s, d) =>
      D.jaccardJoinTopK(Tables.documents(s, d).filter(col("doc_id") % 7 === 0),
          "text", "doc_id", tau = 0.8, k = 2)
        .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH t AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS tk
        |  FROM documents WHERE doc_id % 7 = 0 AND trim(text) <> ''),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.tk, b.tk)) * 1.0
        |      / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) AS j
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
        |f AS (SELECT id_a, id_b, j FROM p WHERE j >= 0.8
        |  QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY j DESC, id_b) <= 2)
        |SELECT id_a, id_b, round(j, 4) AS jaccard FROM f
        |ORDER BY id_a, id_b""".stripMargin)),
    QuerySpec("q155_containment_topk", (s, d) =>
      D.containmentJoinTopK(
          Tables.documents(s, d), "text", "doc_id", tau = 0.8, k = 1, ngram = 3)
        .select(col("id_a"), col("id_b"), r4(col("containment")).as("containment"))
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s FROM t),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS c
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |  WHERE len(a.s) > 0 AND len(b.s) > 0),
        |f AS (SELECT id_a, id_b, c FROM p WHERE c >= 0.8
        |  QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY c DESC, id_b) <= 1)
        |SELECT id_a, id_b, round(c, 4) AS containment FROM f
        |ORDER BY id_a, id_b""".stripMargin)),
    // ascending rank direction (edit DISTANCE: smaller is better) — the
    // sign-flip path through the bounded aggregator -----------------------
    QuerySpec("q157_fuzzy_topk", (s, d) =>
      graft.functions.EntityResolution.fuzzyPairsTopK(
          Tables.part(s, d).filter(col("p_partkey") % 5 === 0),
          "p_name", "p_partkey", maxDist = 1, k = 3, blocking = "band")
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey % 5 = 0),
        |pr AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    levenshtein(a.p_name, b.p_name) AS dist
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 1),
        |f AS (SELECT id_a, id_b, dist FROM pr
        |  QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY dist, id_b) <= 3)
        |SELECT id_a, id_b, dist FROM f ORDER BY id_a, id_b""".stripMargin)),
    // ---- per-doc summary of an exact pairwise join: (id, n_partners,
    // best) — count/min partial-aggregate map-side, output doc-bounded ----
    QuerySpec("q156_fuzzy_summary", (s, d) =>
      graft.functions.EntityResolution.fuzzyPairsSummary(
          Tables.part(s, d).filter(col("p_partkey") % 5 === 0),
          "p_name", "p_partkey", maxDist = 1, blocking = "band")
        .orderBy(col("id")),
      Some("""WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey % 5 = 0),
        |pr AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    levenshtein(a.p_name, b.p_name) AS dist
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 1),
        |e AS (SELECT id_a AS id, dist FROM pr
        |      UNION ALL SELECT id_b AS id, dist FROM pr)
        |SELECT id, count(*) AS n_partners, min(dist) AS best_dist
        |FROM e GROUP BY id ORDER BY id""".stripMargin)),
    // ---- winnowing (Schleimer–Wilkerson–Aiken MOSS fingerprints):
    // q185 pins the fingerprint sets (salted-md5 k-gram hashes → sliding
    // window minima → distinct — the DuckDB oracle replays every hash
    // and window), q186 the shared-fingerprint pair detector. Winnowing
    // witnesses SHARED RUNS (≥ k+w−1 tokens), the local-similarity axis
    // MinHash's whole-doc Jaccard can't see -----------------------------
    QuerySpec("q185_winnow_fps", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(D.winnowFingerprints(col("text"), 4, 5)).as("fp"))
        .orderBy(col("doc_id"), col("fp")),
      // q185/q186: the winnowing replay — every k-gram hash, window
      // minimum, and shared-fingerprint count recomputed by DuckDB
      Some((winnowFpsSql + """
        |SELECT doc_id, unnest(fps) AS fp FROM m ORDER BY doc_id, fp""".stripMargin))),
    QuerySpec("q186_winnow_pairs", (s, d) =>
      D.winnowPairs(Tables.documents(s, d), "text", "doc_id",
          k = 4, w = 5, minShared = 2)
        .orderBy(col("id_a"), col("id_b")),
      Some((winnowFpsSql + """
        |, f AS (SELECT doc_id, unnest(fps) AS fp FROM m)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin))),
    // ---- WEIGHTED (term-frequency) near-dup pairs: the unary expansion
    // (gram → gram#occ elements) makes set machinery compute multiset
    // Jaccard exactly, and the weighted MinHash rides the SAME band-key
    // bucket join. Bigram elements (n = 2): repetition stays visible but
    // LSH buckets stay sparse (random-pair J ≈ 0.025 vs 0.33 at n = 1 on
    // this shared-vocabulary corpus — the n = 1 form is quadratic here).
    // Planted twins: 200001 = verbatim copy of doc 1 (J = 1, must pair),
    // 200002 = doc 2 + two junk tokens (J ≈ 0.98), 200000 = doc 0
    // TRIPLED — J ≈ 1/3 under the weighted measure (the repetition
    // asymmetry distinct-shingle Jaccard can't see), below threshold,
    // must NOT appear. The oracle replays elements, all three salted
    // minima, the band join and every verification -----------------------
    QuerySpec("q191_weighted_neardup", (s, d) => {
      val base = Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), col("text"))
      val twins = base.filter(col("doc_id") <= 2).select(
        (col("doc_id") + lit(200000L)).as("doc_id"),
        when(col("doc_id") === 0,
            concat_ws(" ", col("text"), col("text"), col("text")))
          .when(col("doc_id") === 1, col("text"))
          .otherwise(concat(col("text"), lit(" zq zq"))).as("text"))
      D.weightedNeardupPairs(base.unionByName(twins), "text", "doc_id",
          n = 2, bands = 1, rowsPerBand = 3, jaccardThreshold = 0.6)
        .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // q191's oracle replays the unary expansion (bigram elements with an
      // occurrence index via a per-gram row_number), all three salted
      // signature minima, the band-key join and the exact multiset-Jaccard
      // verification
      Some("""WITH base AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
        |aug AS (SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    CASE doc_id WHEN 0 THEN text || ' ' || text || ' ' || text
        |                WHEN 1 THEN text
        |                ELSE text || ' zq zq' END
        |  FROM base WHERE doc_id <= 2),
        |tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM aug WHERE trim(text) <> ''),
        |bgl AS (SELECT doc_id, list_transform(
        |    generate_series(1, greatest(len(tk) - 1, 0)),
        |    i -> tk[i] || ' ' || tk[i+1]) AS bl FROM tk),
        |pos AS (SELECT doc_id, unnest(bl) AS term, generate_subscripts(bl, 1) AS pos FROM bgl),
        |el AS (SELECT doc_id,
        |    term || '#' || CAST(row_number() OVER (PARTITION BY doc_id, term ORDER BY pos) - 1 AS VARCHAR) AS elem
        |  FROM pos),
        |sig AS (SELECT doc_id, min(md5('s0' || elem)) || '|' || min(md5('s1' || elem))
        |    || '|' || min(md5('s2' || elem)) AS band_key
        |  FROM el GROUP BY doc_id),
        |els AS (SELECT doc_id, list(elem) AS es FROM el GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN sig b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |pairs AS (SELECT id_a, id_b,
        |    round(CAST(len(list_intersect(ea.es, eb.es)) AS DOUBLE)
        |      / (len(ea.es) + len(eb.es) - len(list_intersect(ea.es, eb.es))), 4) AS jaccard
        |  FROM cand JOIN els ea ON ea.doc_id = cand.id_a
        |            JOIN els eb ON eb.doc_id = cand.id_b)
        |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.6
        |ORDER BY id_a, id_b""".stripMargin))
  )
}
