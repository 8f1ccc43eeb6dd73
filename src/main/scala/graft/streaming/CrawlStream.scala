package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.catalog.Generations
import graft.functions.CrawlFunctions
import graft.functions.CrawlFunctions.CrawlParams

/** Streaming twin of the batch crawl lifecycle — the q198 composition in
  * its incremental regime: each micro-batch of fetched WARC records
  * flows extract → batch-internal pairing → persisted-index probes →
  * append of survivors into the crawl state, via
  * [[CrawlFunctions.appendCrawlBatch]] under `foreachBatch`. The
  * StatefulAggregates discipline applies: streaming state after N
  * micro-batches is BIT-IDENTICAL to [[CrawlFunctions.multimodalKeepers]]
  * over the union of every batch (CrawlStreamSpec pins two-batch ≡
  * one-batch, and q183's oracle already pins the underlying append
  * machinery).
  *
  * Exactly-once, two layers:
  *  1. a batch-id high-water mark in the state dir short-circuits
  *     Spark's own re-delivery (a restart re-runs the last micro-batch
  *     with the SAME batchId — skipped without reading the state);
  *  2. the append path's replay shield (ingest's rid anti-join against
  *     members) makes a re-delivered or manually re-sent batch — even
  *     under a NEW batchId, the at-least-once-source case — dedupe to
  *     zero appended rows: no index growth, no generation churn, no
  *     n_members inflation.
  * The high-water mark writes AFTER the append commits; a crash between
  * the two re-runs the batch on restart and layer 2 absorbs it.
  *
  * Scale shape: per micro-batch cost is batch extraction + two index
  * probes + the scoped relabel — O(batch + affected components), never
  * O(corpus) (the [[CrawlFunctions]] contract); the stream's payloads
  * die in the foreachBatch scan exactly as in the batch form. Single
  * writer per state dir, like every index family here.
  *
  * Role anchor: the reference's streaming half is its Celery queues —
  * new scenes arrive continuously and only NEW ones dispatch against the
  * published catalog (tasks.py:135–240); this is the same re-run
  * discipline for a continuous WARC feed. */
object CrawlStream {

  private def hwPath(stateDir: String) =
    new org.apache.hadoop.fs.Path(
      s"${stateDir.stripSuffix("/")}/_stream_batch")

  /** Highest micro-batch id whose append committed; -1 before the first.
    * An empty or unparsable high-water file (a crash inside a non-atomic
    * writer, manual truncation) reads as -1 rather than wedging every
    * restart — the worst case is one re-delivered batch, which the
    * append path's rid anti-join (layer 2) dedupes to zero rows. */
  def lastCommittedBatch(spark: SparkSession, stateDir: String): Long = {
    val p = hwPath(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      s.toLongOption.getOrElse(-1L)
    }
  }

  /** Write-temp-then-rename: a crash between create and write must never
    * leave a truncated marker in place of the committed one. */
  private def writeHighWater(spark: SparkSession, stateDir: String,
                             batchId: Long): Unit = {
    val p = hwPath(stateDir)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** One micro-batch through the lifecycle (public so a spec — or a
    * custom sink — can drive it without a StreamingQuery). Returns true
    * when the batch was processed, false when the high-water mark
    * short-circuited a re-delivery. */
  def processBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
                   batchId: Long, p: CrawlParams = CrawlParams()): Boolean = {
    if (batchId <= lastCommittedBatch(spark, stateDir)) return false
    if (!CrawlFunctions.stateInitialized(spark, stateDir))
      CrawlFunctions.initCrawlState(spark, stateDir, batch, p)
    else
      CrawlFunctions.appendCrawlBatch(spark, stateDir, batch, p)
    writeHighWater(spark, stateDir, batchId)
    true
  }

  /** Start the stream: `warcStream` must carry the WARC record columns
    * the batch form reads (record_index, target_uri, http_status,
    * http_content_type, payload) with record_index globally unique
    * across the stream's lifetime (the [[CrawlFunctions]] id contract).
    * Query the live corpus anytime with [[CrawlFunctions.crawlKeepers]]. */
  def run(spark: SparkSession, stateDir: String, warcStream: DataFrame,
          checkpointDir: String,
          p: CrawlParams = CrawlParams()): StreamingQuery =
    warcStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, stateDir, batch, batchId, p); ()
      }
      .start()

  // ---- the CLOSED crawler loop: plan → fetch → ingest → re-plan -------
  // q206's incremental plan is batch; these close it per micro-batch:
  // each batch of fetch results (a) appends its robots.txt bodies to the
  // persisted rules cache (unchanged bodies cost one digest anti-join),
  // (b) ingests content through the dedup state, (c) logs what was
  // fetched and what the batch's pages announce (out-links), and (d)
  // emits batch N+1's frontier — cache-served rules/delays, fetched-set
  // anti-join, politeness re-ladder. Same exactly-once layers as
  // [[processBatch]]; the url logs are append-only and read through
  // distinct(), so a replayed append is idempotent. Reference anchor:
  // the dispatch-only-NEW-scenes discipline against the published
  // catalog, tasks.py:135–240.

  private def dirOf(stateDir: String, part: String) =
    s"${stateDir.stripSuffix("/")}/$part"

  /** Where the loop keeps its robots cache inside the crawl state dir. */
  def robotsCacheDir(stateDir: String): String = dirOf(stateDir, "robots_cache")

  /** robots.txt responses of a micro-batch → (host, body), latest record
    * per host winning (the q198 by-canon discipline for re-fetches
    * within one batch). */
  def robotsOf(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    batch
      .filter(col("http_status") === 200 &&
        col("target_uri").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]+/robots\\.txt$"))
      .select(graft.functions.UrlFunctions.urlHost(col("target_uri")).as("host"),
        graft.functions.HtmlFunctions.decodeBody(
          col("payload"), col("http_content_type")).as("body"),
        col("record_index").cast("long").as("__rid"))
      .groupBy(col("host"))
      .agg(max_by(col("body"), col("__rid")).as("body"))
  }

  /** Canonical URLs the batch actually fetched (every response record,
    * any status — a 404 is still a spent fetch the next plan must not
    * re-schedule). */
  private def fetchedOf(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    batch.select(graft.functions.UrlFunctions
      .canonicalizeUrl(col("target_uri")).as("url")).distinct()
  }

  /** Canonical URLs the batch DISCOVERED: its own fetched addresses plus
    * the out-links of its 200 text/html pages (resolved against the
    * fetching page, canonicalized) — the candidate universe the next
    * plan gates and anti-joins. */
  private def discoveredOf(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val U = graft.functions.UrlFunctions
    val H = graft.functions.HtmlFunctions
    val links = batch
      .filter(col("http_status") === 200 &&
        col("http_content_type").startsWith("text/html"))
      .select(col("target_uri"),
        H.decodeBody(col("payload"), col("http_content_type")).as("html"))
      .select(col("target_uri"), explode(H.extractLinks(col("html"))).as("l"))
      .select(U.canonicalizeUrl(
        U.resolveUrl(col("target_uri"), col("l.href"))).as("url"))
    fetchedOf(batch).unionByName(links).distinct()
  }

  // ---- epoch URL logs ------------------------------------------------
  // The fetched/discovered logs are append-only but DUPLICATE-
  // ACCUMULATING: every batch appends its full (re)discovered set, and
  // the same popular URLs re-appear in batch after batch, so the rows a
  // planFrontier read must distinct() through grow with TOTAL APPENDS,
  // not with unique URLs — over months of micro-batches that read cost
  // is the loop's one unbounded term. Same cure as the robots cache and
  // the window index: compaction epochs. Appends land in the current
  // committed epoch `c=K/urls`; [[compactUrlLog]] rewrites the DISTINCT
  // set as `c=K+1/urls`, flips the `_SUCCESS` marker LAST, then GCs
  // older epochs — a crash anywhere before the marker leaves readers on
  // epoch K bit-for-bit, and a crashed plain append re-runs under the
  // high-water/distinct contract exactly as before.

  private def epochUrls(dir: String, epoch: Long): String =
    s"${Generations.path(dir, "c=", epoch)}/urls"

  private def appendUrls(spark: SparkSession, urls: DataFrame,
                         dir: String): Unit = {
    val k = Generations.current(spark, dir, "c=")
    if (k < 0) {
      urls.write.mode("overwrite").parquet(epochUrls(dir, 0L))
      Generations.commit(spark, dir, "c=", 0L)
    } else
      urls.write.mode("append").parquet(epochUrls(dir, k))
  }

  private def readUrls(spark: SparkSession, dir: String): DataFrame = {
    val k = Generations.current(spark, dir, "c=")
    if (k >= 0)
      spark.read.parquet(epochUrls(dir, k)).select("url").distinct()
    else
      spark.createDataset(Seq.empty[String])(
        org.apache.spark.sql.Encoders.STRING).toDF("url")
  }

  /** Rewrite a URL log as its distinct set in a fresh compaction epoch
    * (marker flipped last, older epochs GC'd after — the
    * compactRobotsCache discipline). Bounds the planFrontier read at
    * O(unique URLs) no matter how many batches appended; a no-op on an
    * uninitialized log. Single writer per state dir, like every write
    * here. */
  def compactUrlLog(spark: SparkSession, dir: String): Unit = {
    val k = Generations.current(spark, dir, "c=")
    if (k < 0) return
    val next = k + 1
    spark.read.parquet(epochUrls(dir, k)).select("url").distinct()
      .write.mode("overwrite").parquet(epochUrls(dir, next))
    Generations.commit(spark, dir, "c=", next)
    Generations.gc(spark, dir, "c=", k, next)
  }

  /** Batch N+1's frontier from the current state: cache-served rules
    * gate the discovered universe, the fetched set leaves by anti-join,
    * the rest ladders under cache-served Crawl-delays — q206's
    * composition, served entirely from what the loop has persisted.
    * Output: (url, crawl_delay, fetch_at). */
  def planFrontier(spark: SparkSession, stateDir: String,
                   defaultDelay: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.functions._
    val R = graft.functions.RobotsFunctions
    val cache = robotsCacheDir(stateDir)
    val rules = R.cachedRules(spark, cache)
    val delays = R.cachedDelays(spark, cache)
    val remaining = R
      .filterByRobots(readUrls(spark, dirOf(stateDir, "discovered")), rules, "url")
      .join(readUrls(spark, dirOf(stateDir, "fetched")), Seq("url"), "left_anti")
    R.scheduleFrontier(remaining, delays, "url", defaultDelay)
      .select(col("url"), col("crawl_delay"), col("fetch_at"))
  }

  /** One micro-batch through the CLOSED loop: robots-cache append +
    * content ingest + fetched/discovered logs, then the next frontier.
    * A re-delivered batch (same batchId) skips every write and re-plans
    * from unchanged state — the returned plan is identical and schedules
    * zero new fetches (CrawlStreamSpec pins both).
    *
    * `compactEvery` (0 = never) is the loop's MAINTENANCE CADENCE: after
    * every Nth batch commits, the robots cache and both URL logs compact
    * — reads stay O(hosts) / O(unique URLs) instead of growing with the
    * stream's lifetime, and compaction is read-transparent (RobotsSpec /
    * CrawlStreamSpec pin read-after ≡ read-before bit-for-bit), so plans
    * are unaffected. A crash between the high-water write and the
    * compaction skips that cadence point (re-delivery skips the whole
    * block); the next one catches up — maintenance, not correctness. */
  def ingestAndPlan(spark: SparkSession, stateDir: String, batch: DataFrame,
                    batchId: Long, userAgent: String,
                    defaultDelay: Double = 1.0,
                    p: CrawlParams = CrawlParams(),
                    compactEvery: Int = 0): DataFrame = {
    val R = graft.functions.RobotsFunctions
    if (batchId > lastCommittedBatch(spark, stateDir)) {
      // the batch is read by four consumers (robots, ingest, fetched,
      // discovered) — stage it once; payloads still die in this stage
      val b = batch.localCheckpoint(true)
      val cache = robotsCacheDir(stateDir)
      val robots = robotsOf(b)
      if (!R.cacheInitialized(spark, cache))
        R.writeRobotsCache(spark, cache, robots, "host", "body", userAgent)
      else
        R.appendRobotsCache(spark, cache, robots, "host", "body", userAgent)
      if (!CrawlFunctions.stateInitialized(spark, stateDir))
        CrawlFunctions.initCrawlState(spark, stateDir, b, p)
      else
        CrawlFunctions.appendCrawlBatch(spark, stateDir, b, p)
      appendUrls(spark, fetchedOf(b), dirOf(stateDir, "fetched"))
      appendUrls(spark, discoveredOf(b), dirOf(stateDir, "discovered"))
      writeHighWater(spark, stateDir, batchId)
      if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1)) {
        if (R.cacheInitialized(spark, cache)) R.compactRobotsCache(spark, cache)
        compactUrlLog(spark, dirOf(stateDir, "fetched"))
        compactUrlLog(spark, dirOf(stateDir, "discovered"))
      }
    }
    planFrontier(spark, stateDir, defaultDelay)
  }
}
