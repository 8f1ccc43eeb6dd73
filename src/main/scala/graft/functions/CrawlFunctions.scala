package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Generations

/** The multimodal crawl front door as a library operator (q175 is one
  * invocation), plus its INCREMENTAL form (q183): a persisted crawl
  * state that new WARC batches append to without re-reading, re-decoding,
  * or re-pairing the corpus.
  *
  * Batch form ([[multimodalKeepers]]) — route a WARC record frame by
  * content type, reduce every modality to its near-dup keepers on the
  * shared signature machinery:
  *
  *  - text/html → density-rule main text ([[HtmlFunctions.mainText]]) +
  *    quality gate → exact dedup (keeper = first-crawled row) →
  *    MinHash-LSH + Jaccard near-dedup;
  *  - image/audio/video → the perceptual signature plane
  *    ([[MultimodalFunctions.signatureOf]]: PNG/JPEG decode → DCT pHash,
  *    PCM → WHT fingerprint, MP4 demux → keyframe H.264 decode → pHash)
  *    → modality-scoped hamming band-prefix LSH
  *    ([[DedupFunctions.neardupPairsByHamming64]]);
  *  - both pair graphs resolve through the same
  *    [[GraphFunctions.componentLabels]] union-find.
  *
  * Returns one row per kept representative:
  * (modality, keeper_uri, n_members) where keeper_uri is the canonical
  * URL ([[UrlFunctions.canonicalizeUrl]]) of the component's
  * first-crawled record and n_members counts the crawl records that
  * collapsed into it.
  *
  * Incremental form ([[initCrawlState]] / [[appendCrawlBatch]] /
  * [[crawlKeepers]]) — the daily-crawl regime: the corpus lives as a
  * members table (one row per deduped representative, labeled with its
  * component) plus the two persisted bucket indices
  * ([[DedupFunctions.writeLshIndex]] for text shingle bands,
  * [[DedupFunctions.writeHammingIndex]] for media signatures). A new
  * batch pays batch-extraction + batch-internal pairing + two index
  * probes; the corpus is touched only through the indices (16–24 B/row
  * bucket entries) and the members rows of components the batch actually
  * hits. The invariant — proven by the q183 oracle and
  * IncrementalCrawlSpec — is exact equivalence:
  * `crawlKeepers(init(B1) + append(B2))` ≡ `multimodalKeepers(B1 ∪ B2)`,
  * INCLUDING the case a batch doc bridges two previously-separate corpus
  * components (the case naive probe-and-drop incremental dedup gets
  * wrong: both corpus components must merge into one keeper).
  *
  * Why the equivalence is exact and not approximate: both sides run the
  * SAME deterministic band geometry. Banded-LSH candidate generation is a
  * pure function of a doc's shingle/minhash (text) or signature bits
  * (media), so the union-batch pair graph decomposes exactly into
  * pairs(B1) ∪ pairs(B2) ∪ crossPairs(B2 ↔ B1) — the first is already
  * folded into the stored labels (star edges rid→label re-encode its
  * transitive closure), the second is the batch-internal join, the third
  * is precisely what the index probes return
  * ([[DedupFunctions.probeLshIndex]] / probeHammingIndex match the
  * two-sided joins by construction). Exact duplicates across batches are
  * caught by the same probes (identical text ⇒ identical bands ⇒
  * jaccard 1 ≥ τ; identical bytes ⇒ hamming 0).
  *
  * Scale shape: the WARC scan is file = task; text and signatures are
  * staged ONCE (localCheckpoint — the extracted corpus and 16-byte
  * signatures, never the binary payloads, which die in the scan tasks);
  * the near-dup joins are the one-exchange bucketed forms; pair graphs
  * resolve driver-side while verified edges stay small and fall back to
  * distributed label propagation past `maxDriverEdges`. The incremental
  * relabel is scoped to TOUCHED components (members whose label a cross
  * pair reaches) — per-batch cost is O(batch + affected), never
  * O(corpus). Members publish by atomic generation
  * (`members/gen=N/_SUCCESS`, committer-last, same discipline as
  * [[DedupFunctions.compactWindowIndex]]): a crashed append leaves an
  * ignorable marker-less generation plus harmless duplicate index rows
  * (probes `.distinct()`), so re-running the same batch is idempotent.
  * Single writer per state dir, like every index family here.
  *
  * Id contract: rows are keyed by `record_index`, which [[graft.sources
  * .Warc.readWarc]] assigns PER FILE — single-file batches (the fixture)
  * are unique as-is; multi-file batches must pre-map `record_index` to a
  * globally-unique long (e.g. fileId << 32 | index) before calling in,
  * and incremental batches must never reuse an id across appends.
  *
  * Role anchor: the reference's collection pipeline reduces each
  * downloaded scene to one published representative before assets fan
  * out (bdc_collection_builder/celery/publish.py:575–605), and re-runs
  * discover only NEW scenes against the published catalog
  * (collections_utils.py list/published diff); this is the same
  * reduction and the same incremental re-run for a web crawl.
  */
object CrawlFunctions {

  /** Knobs shared by the batch and incremental forms. Must match between
    * [[initCrawlState]] and every [[appendCrawlBatch]] on one state dir —
    * band geometry IS the index layout. */
  final case class CrawlParams(minMainChars: Int = 40,
                               shingleN: Int = 3,
                               minhashBands: Int = 4,
                               rowsPerBand: Int = 2,
                               jaccardThreshold: Double = 0.6,
                               hammingBands: Int = 8,
                               maxDistance: Int = 4)

  /** Resolve HTTP redirect chains: follow `redirects` (src → dst, one
    * hop per fetch — src unique) from every URL to its final target, up
    * to `maxHops` hops. The canonical-URL step a crawler runs BEFORE
    * URL-keyed dedup/caps: a page reachable through 301 chains must
    * count under its terminal address.
    *
    * Output: input columns + (final_url, n_hops, terminal). `terminal`
    * is false when the walk stopped at the hop budget with the chain
    * still pointing onward (a longer-than-budget chain or a loop — real
    * crawlers give up the same way; browsers cap around 20).
    *
    * Scale shape (r19, binary lifting): the redirect map is DOUBLED
    * log₂(maxHops) times (jump table J_{2k} = J_k ∘ J_k — an entry
    * exists iff the chain continues for the full 2k hops; src unique
    * makes composition exact), then the frontier walks the jump tables
    * once, largest first, taking a jump when its entry exists and the
    * hop budget allows — greedy binary decomposition lands every row at
    * exactly min(chain length, maxHops) hops. The frontier crosses
    * O(log maxHops) joins in ONE lazy plan instead of materializing
    * maxHops+1 times (the old shape checkpointed the whole frontier per
    * hop — 9 eager jobs at maxHops = 8, paid even after every chain had
    * settled); only the fetch-log-sized jump tables checkpoint. At a
    * browser-style budget of 20 that is 5 frontier joins, not 21
    * frontier materializations. */
  def resolveRedirects(urls: DataFrame, redirects: DataFrame, urlCol: String,
                       srcCol: String = "src", dstCol: String = "dst",
                       maxHops: Int = 8): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // output names are the operator's contract — require them free rather
    // than silently clobbering (a frontier that already went through a
    // previous resolve pass carries all three)
    for (c <- Seq("final_url", "n_hops", "terminal"))
      require(!urls.columns.contains(c),
        s"resolveRedirects adds a `$c` column and the input already has one — rename it first")
    // working columns are tempCol-generated so an input that happens to
    // carry a __cur/__nxt column (e.g. a redirects table fed back in as
    // the frontier) can't make the hop join ambiguous
    val cur = SamplingFunctions.tempCol(urls, "__redirect_cur")
    val nxt = SamplingFunctions.tempCol(urls, "__redirect_nxt")
    val red = redirects
      .select(col(srcCol).as(cur), col(dstCol).as(nxt))
      // r20 (ADVICE): tolerate what the old per-hop walk tolerated —
      // exact-duplicate (src, dst) observations (the same redirect seen
      // twice in a fetch log) dedup away, and null srcs (which can never
      // equi-join a frontier row) drop; only a true src→{dst1, dst2}
      // CONFLICT trips the require below
      .filter(col(cur).isNotNull)
      .distinct()
      .localCheckpoint(true)
    // the documented src-unique contract, enforced LOUD: composed jump
    // tables (and the greedy walk) are only exact over a functional map —
    // a duplicated src would silently splice different chains together
    // where the old per-hop form fanned out. One bounded job on the
    // (small) redirect table.
    val dup = red.groupBy(col(cur)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"resolveRedirects requires one dst per src (redirect tables are " +
        s"one Location per URL); src '${if (dup.nonEmpty) dup(0).get(0) else ""}' has multiple rows")
    // jump tables J_1, J_2, J_4, … (largest ≤ maxHops), each checkpointed
    // so the next doubling and the walk read a leaf, not a growing tree
    var jumps: List[(Int, DataFrame)] = List((1, red))
    while (jumps.head._1 * 2 <= maxHops) {
      val (k, jk) = jumps.head
      val mid = SamplingFunctions.tempCol(urls, "__redirect_mid")
      val composed = jk.select(col(cur), col(nxt).as(mid))
        .join(jk.select(col(cur).as(mid), col(nxt)), mid)
        .select(col(cur), col(nxt))
        .localCheckpoint(true)
      jumps ::= (k * 2, composed)
    }
    // walk largest-jump-first: take a jump iff the entry exists (chain
    // runs ≥ k more hops) and the budget allows; greedy binary
    // decomposition yields n_hops = min(chain length, maxHops) exactly
    var state = urls
      .withColumn(cur, col(urlCol))
      .withColumn("n_hops", lit(0))
    for ((k, jk) <- jumps) {
      // `took` references the PRE-jump n_hops; update cur before n_hops
      // so both when()s resolve against it (withColumn rebinds names)
      val took = col(nxt).isNotNull && (col("n_hops") + lit(k) <= lit(maxHops))
      state = state.join(jk, Seq(cur), "left")
        .withColumn(cur, when(took, col(nxt)).otherwise(col(cur)))
        .withColumn("n_hops",
          when(took, col("n_hops") + lit(k)).otherwise(col("n_hops")))
        .drop(nxt)
    }
    // terminal iff the landing address has no outgoing redirect
    state.join(red, Seq(cur), "left")
      .withColumn("terminal", col(nxt).isNull).drop(nxt)
      .withColumnRenamed(cur, "final_url")
      .select(urls.columns.map(col).toIndexedSeq
        ++ Seq(col("final_url"), col("n_hops"), col("terminal")): _*)
  }

  /** Depth-N sitemap discovery — the fixed-point operator behind a
    * crawler's discovery loop, generalizing the hand-unrolled depth-2
    * walk q201 pinned: robots `Sitemap:` directives seed the frontier;
    * each depth fetches ONLY announced addresses (a semi-join of the
    * fetched-bodies table against the frontier — an orphan body nobody
    * announced is never read), parses `<urlset>` entries AND
    * `<sitemapindex>` children from every fetched body, and the children
    * not yet visited become the next frontier. The
    * [[resolveRedirects]] shrinking-frontier shape: settled addresses
    * leave the loop, a per-depth localCheckpoint keeps depth D's plan
    * O(one join), and already-visited addresses never refetch (cycle
    * guard — mutually-referencing indices terminate).
    *
    * LOUD depth cap, like [[GraphFunctions.connectedComponents]]'s
    * convergence require: if children announced past `maxDepth` actually
    * HAVE bodies in `bodies`, returning silently would mean silently
    * undiscovered URLs — the operator THROWS naming a sample; raise
    * `maxDepth` (real sitemap trees are ≤ 2–3 deep; browsers of the
    * protocol cap similarly). Announced children with NO body are fetch
    * misses, not depth overflow — they simply stay undiscovered, at any
    * depth.
    *
    * Output: one row per discovered URL entry —
    * (sm_url, depth, loc, lastmod, priority) where sm_url is the sitemap
    * that announced the entry and depth its distance from robots.txt
    * (1 = announced directly). Robots GATING of the discovered URLs is
    * deliberately downstream ([[RobotsFunctions.filterByRobots]]), as is
    * scheduling — discovery says what EXISTS.
    *
    * Scale shape: per depth, one semi-join on sitemap address + two
    * scan-side parses; sitemap bodies never cross an exchange (the
    * explode happens where the body lives), and the frontier is
    * addresses only. Job count = maxDepth, not corpus size — and the
    * FIXED per-call action count is kept minimal (one fused duplicate/
    * conflict aggregate, one body stage, one frontier checkpoint per
    * depth with `visited` a lazy union of those checkpoints, and the
    * overflow contract folded into the final depth's materialization:
    * ~maxDepth + 3 eager jobs) because a crawler invokes this per
    * batch, where per-call overhead dominates small frontiers. */
  def discoverSitemaps(robots: DataFrame, bodies: DataFrame,
                       hostCol: String = "host", robotsBodyCol: String = "body",
                       smUrlCol: String = "sm_url", smBodyCol: String = "body",
                       maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val body = SamplingFunctions.tempCol(bodies, "__discover_body")
    // one body per sitemap address — enforced WITHOUT moving bodies: a
    // keys-only digest aggregate (xxhash64 computed map-side; only
    // (address, count, distinct-digest) partials cross the exchange)
    // finds duplicates. DIFFERING bodies under one address fail LOUDLY
    // (a silent parse fan-out would double URL entries and defeat
    // per-host caps — resolve re-fetches upstream, latest wins, the q198
    // by-canon discipline); IDENTICAL re-fetches collapse, paying the
    // one body exchange only when duplicates actually exist (the common
    // clean input keeps the bodies-never-shuffle plan). The duplicate
    // count and the conflict samples come back in ONE driver action —
    // bounded aggregates (count + min/max sample), no collected list —
    // because this operator runs per crawl batch and its FIXED per-call
    // job count is the cost that dominates small batches.
    val stamped = bodies
      .select(col(smUrlCol).as("sm_url"), col(smBodyCol).as(body))
    val dup = stamped.groupBy(col("sm_url"))
      .agg(count(lit(1)).as("__n"),
        countDistinct(xxhash64(col(body))).as("__nd"))
      .filter(col("__n") > 1)
      .agg(count(lit(1)).as("n_dup"),
        min(when(col("__nd") > 1, col("sm_url"))).as("conf_a"),
        max(when(col("__nd") > 1, col("sm_url"))).as("conf_b"))
      .head()
    val conflicting =
      Seq(Option(dup.getString(1)), Option(dup.getString(2))).flatten.distinct
    require(conflicting.isEmpty,
      s"discoverSitemaps: multiple DIFFERING bodies share one sitemap address " +
        s"(e.g. ${conflicting.mkString(", ")}) — every parse downstream would fan " +
        "out; keep one body per address (latest fetch wins) before calling in")
    val smBodies =
      (if (dup.getLong(0) == 0L) stamped else stamped.dropDuplicates("sm_url"))
        .localCheckpoint(true)
    var frontier = RobotsFunctions
      .robotsSitemaps(robots, hostCol, robotsBodyCol)
      .select(col("sitemap_url").as("sm_url")).distinct()
      .localCheckpoint(true)
    // `visited` stays a LAZY union of the already-checkpointed per-depth
    // frontiers — each depth pays ONE checkpoint (the new frontier), and
    // the anti-join's other side is a union of materialized inputs whose
    // plan grows O(depth), never a second materialization
    val visitedParts = scala.collection.mutable.ListBuffer(frontier)
    def visited = visitedParts.reduce(_.unionByName(_))
    val levels = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (depth <- 1 to maxDepth) {
      val fetched = smBodies.join(frontier, Seq("sm_url"), "left_semi")
      levels += SitemapFunctions.sitemapUrls(fetched, body)
        .select(col("sm_url"), lit(depth).as("depth"),
          col("loc"), col("lastmod"), col("priority"))
      val children = SitemapFunctions.sitemapChildren(fetched, body)
        .select(col("child_loc").as("sm_url")).distinct()
      val fresh = children.join(visited, Seq("sm_url"), "left_anti")
      if (depth < maxDepth) {
        frontier = fresh.localCheckpoint(true)
        visitedParts += frontier
      } else {
        // the final depth's frontier is only ever read by the overflow
        // contract check — fold the require into its one materialization
        // instead of checkpoint-then-collect
        val overflow = smBodies.join(fresh, Seq("sm_url"), "left_semi")
          .select(col("sm_url")).limit(5).collect().map(_.getString(0))
        require(overflow.isEmpty,
          s"discoverSitemaps: sitemap children announced beyond maxDepth=$maxDepth " +
            s"have bodies to parse (e.g. ${overflow.mkString(", ")}) — their URLs " +
            "would be silently undiscovered; raise maxDepth")
      }
    }
    levels.reduce(_.unionByName(_))
  }

  def multimodalKeepers(warc: DataFrame,
                        minMainChars: Int = 40,
                        shingleN: Int = 3,
                        minhashBands: Int = 4,
                        rowsPerBand: Int = 2,
                        jaccardThreshold: Double = 0.6,
                        hammingBands: Int = 8,
                        maxDistance: Int = 4): DataFrame = {
    val p = CrawlParams(minMainChars, shingleN, minhashBands, rowsPerBand,
      jaccardThreshold, hammingBands, maxDistance)
    val G = GraphFunctions
    val exact = textGroups(warc, p)
    val tpairs = textBatchPairs(exact, p)
    val tlabels = G.componentLabels(exact.select(col("rid")), tpairs,
      idCol = "rid", srcCol = "id_a", dstCol = "id_b")
    val text = exact
      .join(tlabels.withColumnRenamed("id", "rid"), "rid")
      .groupBy(col("label"))
      .agg(min_by(col("canon"), col("rid")).as("keeper_uri"),
        sum(col("n_copies")).as("n_members"))
      .select(lit("text").as("modality"), col("keeper_uri"), col("n_members"))

    val (mediaMap, sigs) = mediaSigFrames(warc)
    val mpairs = mediaBatchPairs(sigs, p)
    val mlabels = G.componentLabels(sigs.select(col("rid")), mpairs,
      idCol = "rid", srcCol = "id_a", dstCol = "id_b")
    val mediaKept = mediaMap
      .join(mlabels.withColumnRenamed("id", "rid"), "rid")
      .groupBy(col("modality"), col("label"))
      .agg(min_by(col("canon"), col("rid")).as("keeper_uri"),
        count(lit(1)).as("n_members"))
      .select(col("modality"), col("keeper_uri"), col("n_members"))

    text.unionByName(mediaKept)
  }

  // ---- shared extraction front half ---------------------------------

  /** Text path, per-record half: 200-status text/html records →
    * (rid, canon, mt) — canonical URL + gated main text, one row per
    * record. Kept separate from [[groupText]] so the append path's
    * replay shield can anti-join HERE, before exact-dup grouping: a
    * mixed batch holding a replayed member record plus a NEW record with
    * byte-identical text must keep the new record (grouping first would
    * key the group by the old member rid and the anti-join would drop
    * the whole group — the new record silently lost). */
  private def textRecords(warc: DataFrame, p: CrawlParams): DataFrame =
    warc.filter(col("http_status") === 200)
      .filter(col("http_content_type").startsWith("text/html"))
      .select(col("record_index").cast("long").as("rid"),
        UrlFunctions.canonicalizeUrl(col("target_uri")).as("canon"),
        // charset-aware decode (charset param → meta sniff → UTF-8):
        // a legacy-encoding page must enter dedup under its TRUE text,
        // not the mojibake cast("string") would produce
        HtmlFunctions.mainText(HtmlFunctions.decodeBody(
          col("payload"), col("http_content_type"))).as("mt"))
      .filter(length(col("mt")) >= p.minMainChars)

  /** Exact-dup grouping over per-record text rows: (rid = first-crawled
    * record_index, canon = its canonical URL, n_copies = collapsed
    * record count). Checkpointed: the extracted text is staged once,
    * payloads die in the scan tasks. */
  private def groupText(records: DataFrame): DataFrame =
    records
      .groupBy(col("mt"))
      .agg(min(col("rid")).as("rid"),
        min_by(col("canon"), col("rid")).as("canon"),
        count(lit(1)).as("n_copies"))
      .localCheckpoint(true)

  private def textGroups(warc: DataFrame, p: CrawlParams): DataFrame =
    groupText(textRecords(warc, p))

  /** Media path front half: (rid → canon/modality map, decoded
    * signatures). Records whose payload does not really decode drop out
    * of the signature frame and therefore out of the members table —
    * same salvage semantics as the batch form. */
  private def mediaSigFrames(warc: DataFrame): (DataFrame, DataFrame) = {
    val media = warc.filter(col("http_status") === 200)
      .filter(col("http_content_type").startsWith("image/") ||
        col("http_content_type").startsWith("audio/") ||
        col("http_content_type").startsWith("video/"))
      .select(col("record_index").cast("long").as("rid"),
        UrlFunctions.canonicalizeUrl(col("target_uri")).as("canon"),
        when(col("http_content_type").startsWith("image/"), "image")
          .when(col("http_content_type").startsWith("audio/"), "audio")
          .otherwise("video").as("modality"),
        col("payload"))
    val mediaMap = media.select(col("rid"), col("canon"), col("modality"))
      .localCheckpoint(true)
    val sigs = MultimodalFunctions.mediaSignatures(media, "rid", "modality", "payload")
      .localCheckpoint(true)
    (mediaMap, sigs)
  }

  private def textBatchPairs(groups: DataFrame, p: CrawlParams): DataFrame =
    DedupFunctions.neardupPairsLocal(groups, "mt", "rid",
        p.shingleN, p.minhashBands, p.rowsPerBand, p.jaccardThreshold)
      .select(col("id_a"), col("id_b"))

  private def mediaBatchPairs(sigs: DataFrame, p: CrawlParams): DataFrame =
    DedupFunctions.neardupPairsByHamming64(sigs, "sig", "rid",
        partitionCols = Seq("modality"), p.hammingBands, p.maxDistance)
      .select(col("id_a"), col("id_b"))

  // ---- persisted incremental state -----------------------------------

  private def membersRoot(stateDir: String) = s"${stateDir.stripSuffix("/")}/members"
  private def textIndexDir(stateDir: String) = s"${stateDir.stripSuffix("/")}/text_index"
  private def mediaIndexDir(stateDir: String) = s"${stateDir.stripSuffix("/")}/media_index"

  /** Highest complete members generation; -1 = uninitialized. */
  private def currentGen(spark: SparkSession, stateDir: String): Long =
    Generations.current(spark, membersRoot(stateDir), "gen=")

  /** An index built from a batch with zero rows of its modality is a
    * marker-only directory (no parquet files — nothing to infer a schema
    * from, and nothing a probe could pair with): probes skip it. */
  private def indexHasRows(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    }
    false
  }

  /** Whether a crawl state dir has a committed members generation —
    * streaming callers route the first batch to [[initCrawlState]] and
    * the rest to [[appendCrawlBatch]] off this. */
  def stateInitialized(spark: SparkSession, stateDir: String): Boolean =
    currentGen(spark, stateDir) >= 0

  private def readMembers(spark: SparkSession, stateDir: String): DataFrame = {
    val gen = currentGen(spark, stateDir)
    require(gen >= 0, s"crawl state at $stateDir is not initialized")
    spark.read.parquet(Generations.path(membersRoot(stateDir), "gen=", gen))
  }

  /** Publish members generation N+1 atomically, then GC everything except
    * the new generation and the one it replaced (an in-flight reader of
    * gen N finishes its scan; gen N dies at the NEXT publish). */
  private def publishMembers(spark: SparkSession, stateDir: String,
                             members: DataFrame): Unit = {
    val next = currentGen(spark, stateDir) + 1
    members.write.mode("overwrite")
      .parquet(Generations.path(membersRoot(stateDir), "gen=", next))
    Generations.gc(spark, membersRoot(stateDir), "gen=", next - 1, next, sweepRoot = true)
  }

  /** Initialize a crawl state dir from the first batch: members gen=0
    * (labels from the batch pair graph) + the two bucket indices. */
  def initCrawlState(spark: SparkSession, stateDir: String, warc: DataFrame,
                     p: CrawlParams = CrawlParams()): Unit =
    ingest(spark, stateDir, warc, p, isInit = true)

  /** Append one new batch: batch-internal pairs + index probes + scoped
    * relabel + atomic members publish + index appends. Equivalent to
    * rebuilding from the union of every batch (see object doc). */
  def appendCrawlBatch(spark: SparkSession, stateDir: String, warc: DataFrame,
                       p: CrawlParams = CrawlParams()): Unit =
    ingest(spark, stateDir, warc, p, isInit = false)

  /** The deduped corpus view: one row per component —
    * (modality, keeper_uri, n_members), identical contract to
    * [[multimodalKeepers]]. */
  def crawlKeepers(spark: SparkSession, stateDir: String): DataFrame =
    readMembers(spark, stateDir)
      .groupBy(col("modality"), col("label"))
      .agg(min_by(col("canon"), col("rid")).as("keeper_uri"),
        sum(col("n_copies")).as("n_members"))
      .select(col("modality"), col("keeper_uri"), col("n_members"))

  private def ingest(spark: SparkSession, stateDir: String, warc: DataFrame,
                     p: CrawlParams, isInit: Boolean): Unit = {
    val G = GraphFunctions
    val (mediaMapAll, sigsAll) = mediaSigFrames(warc)
    // REPLAY SHIELD (append path): rows whose rid is already a member are
    // a re-delivered batch (an at-least-once stream, a retried job), not
    // new corpus — one anti-join drops them before they can pair against
    // their own index entries and inflate n_members. The TEXT anti-join
    // runs on the PER-RECORD frame, before exact-dup grouping, so groups
    // form over genuinely-new records only (grouping first would key a
    // mixed replayed+new identical-text group by the old member rid and
    // lose the new record); the media frames are per-record already, so
    // their rid anti-join needs no such reorder. A fully re-sent batch
    // collapses to ZERO rows here (CrawlStreamSpec pins it); a mixed
    // batch keeps exactly its new docs. Reusing an id for DIFFERENT
    // content violates the id contract above and reads as a replay (the
    // stored row wins).
    val membersPrev =
      if (isInit) None
      else Some(readMembers(spark, stateDir).localCheckpoint(true))
    val (tg, mediaMap, sigs) = membersPrev match {
      case None => (textGroups(warc, p), mediaMapAll, sigsAll)
      case Some(members) =>
        val known = members.select(col("rid"))
        (groupText(textRecords(warc, p).join(known, Seq("rid"), "left_anti")),
          mediaMapAll.join(known, Seq("rid"), "left_anti").localCheckpoint(true),
          sigsAll.join(known, Seq("rid"), "left_anti").localCheckpoint(true))
    }
    val batchRows = tg
      .select(lit("text").as("modality"), col("rid"), col("canon"), col("n_copies"))
      .unionByName(mediaMap
        .join(sigs.select(col("rid")), "rid")
        .select(col("modality"), col("rid"), col("canon"),
          lit(1L).as("n_copies")))
    // a pure replay appends nothing: no index growth, no generation churn
    if (!isInit && batchRows.isEmpty) return

    val batchPairs = textBatchPairs(tg, p).unionByName(mediaBatchPairs(sigs, p))

    val (vertices, edges, untouched) =
      if (isInit) (batchRows.select(col("rid")), batchPairs, None)
      else {
        val members = membersPrev.get
        val noPairs = spark.range(0)
          .select(col("id").as("id_a"), col("id").as("id_b"))
        val crossText =
          if (!indexHasRows(spark, textIndexDir(stateDir))) noPairs
          else DedupFunctions.probeLshIndex(spark, textIndexDir(stateDir),
              tg, "mt", "rid", p.shingleN, p.minhashBands, p.rowsPerBand,
              p.jaccardThreshold)
            .select(col("id_new").as("id_a"), col("id_index").as("id_b"))
        val crossMedia =
          if (!indexHasRows(spark, mediaIndexDir(stateDir))) noPairs
          else DedupFunctions.probeHammingIndex(spark, mediaIndexDir(stateDir),
              sigs, "sig", "rid", partitionCols = Seq("modality"),
              p.hammingBands, p.maxDistance)
            .select(col("id_new").as("id_a"), col("id_index").as("id_b"))
        val cross = crossText.unionByName(crossMedia).localCheckpoint(true)
        // only components a cross pair reaches can change (batch-internal
        // pairs touch batch docs only; merges need a cross edge) — scope
        // the relabel to them, everything else keeps its stored label
        val touched = members
          .join(cross.select(col("id_b").as("rid")).distinct(), "rid")
          .select(col("label")).distinct()
        val affected = members.join(touched, "label")
        val star = affected.filter(col("rid") =!= col("label"))
          .select(col("rid").as("id_a"), col("label").as("id_b"))
        val untouchedRows = members.join(touched, Seq("label"), "left_anti")
        (affected.select(col("rid")).unionByName(batchRows.select(col("rid"))),
          batchPairs.unionByName(cross).unionByName(star),
          Some((affected, untouchedRows)))
      }

    val labels = G.componentLabels(vertices, edges,
        idCol = "rid", srcCol = "id_a", dstCol = "id_b")
      .withColumnRenamed("id", "rid")

    val relabeled = untouched match {
      case None =>
        batchRows.join(labels, "rid")
      case Some((affected, untouchedRows)) =>
        affected.drop("label")
          .unionByName(batchRows)
          .join(labels, "rid")
          .unionByName(untouchedRows)
    }
    val members = relabeled.select(
      col("modality"), col("rid"), col("canon"), col("n_copies"), col("label"))

    // indices first, members last: a crash between the two leaves
    // duplicate index rows (probes distinct() them away) and a re-run of
    // the same batch republishes — never a published generation whose
    // docs the indices can't see
    if (isInit) {
      DedupFunctions.writeLshIndex(tg, "mt", "rid", textIndexDir(stateDir),
        p.shingleN, p.minhashBands, p.rowsPerBand)
      DedupFunctions.writeHammingIndex(sigs, "sig", "rid", mediaIndexDir(stateDir),
        partitionCols = Seq("modality"), p.hammingBands)
    } else {
      DedupFunctions.appendToLshIndex(tg, "mt", "rid", textIndexDir(stateDir),
        p.shingleN, p.minhashBands, p.rowsPerBand)
      DedupFunctions.appendToHammingIndex(sigs, "sig", "rid", mediaIndexDir(stateDir),
        partitionCols = Seq("modality"), p.hammingBands)
    }
    publishMembers(spark, stateDir, members)
  }
}
