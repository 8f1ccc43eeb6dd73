package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Generations

/** Robots Exclusion Protocol (RFC 9309) — the crawl-politeness gate a
  * training-data pipeline must apply before a fetched URL may enter the
  * corpus. Pure column expressions throughout so the DuckDB oracle can
  * replay every line of the parse and every match of the decision:
  *
  *   - [[robotsRules]] parses raw robots.txt bodies into per-host
  *     (allow, rule) rows for ONE crawler product token, implementing the
  *     RFC's group model: a group is a run of consecutive `User-agent`
  *     lines followed by its rules; comments (`#…`) strip first; directive
  *     names match case-insensitively; groups for the specific product
  *     token win — `*` groups apply only when NO group anywhere in the
  *     file names the token (RFC 9309 §2.2.1); unknown directives
  *     (Crawl-delay, Sitemap, …) are ignored but do end a User-agent run;
  *     empty Allow/Disallow values match nothing and are dropped.
  *   - [[robotsAllowed]] / [[filterByRobots]] decide each URL against its
  *     host's rules with the RFC match semantics: rules are octet-prefix
  *     patterns over path + '?query' supporting the REQUIRED `*` wildcard
  *     and `$` end anchor (§2.2.3); the MOST SPECIFIC match (longest rule
  *     string) wins and Allow wins length ties (§2.2.2); a URL with no
  *     matching rule — or no robots.txt at all — is allowed.
  *   - [[robotsCrawlDelay]] + [[scheduleFrontier]] turn the de-facto
  *     Crawl-delay extension into per-host fetch scheduling.
  *   - [[robotsSitemaps]] lifts the group-independent `Sitemap:` records
  *     (§2.2.4) that seed a crawler's discovery loop.
  *
  * Scale shape: robots bodies are small (the RFC caps mandatory parsing at
  * 500 KiB) and hosts are vocabulary-sized next to a crawl, so the parse's
  * per-host windows are bounded; the URL stream is then decided SCAN-SIDE
  * — one hash join on host plus a fold over the bounded per-host rule
  * array. The host-keyed joins carry NO broadcast hint: per-host tables
  * (rules, delays) are bounded by the crawled-host count, which fits in a
  * broadcast for per-domain crawls (AQE broadcasts it automatically) but
  * reaches 10⁷–10⁸ rows on the open web, where the join degrades
  * gracefully to one (host, url) exchange instead of OOMing the driver. Percent-encoding equivalence between
  * rule and target is the fetcher's concern, same boundary as
  * [[UrlFunctions.canonicalizeUrl]].
  *
  * Reference anchor: the reference's downloaders fetch from provider APIs
  * and never crawl the open web (download.py role), so REP is new surface
  * along the crawl axis q164–q183 established.
  */
object RobotsFunctions {

  /** Regex equivalent of one REP rule pattern: anchored at the start,
    * `*` → `.*`, a TRAILING `$` → end anchor, every other regex
    * metacharacter (including interior `$`) escaped literal. Shared by the
    * decision fold; the oracle mirrors it with the same two rewrites. */
  private[functions] def ruleRegex(rule: Column): Column = {
    val hasEnd = rule.endsWith("$")
    val body = when(hasEnd, rule.substr(lit(1), length(rule) - 1)).otherwise(rule)
    val esc = regexp_replace(body, "([\\\\.\\[\\]\\{\\}\\(\\)\\^\\$\\|\\+\\?])", "\\\\$1")
    val wild = regexp_replace(esc, "\\*", ".*")
    concat(lit("^"), wild, when(hasEnd, lit("$")).otherwise(lit("")))
  }

  /** Shared relational parse: explode lines, strip comments, classify
    * directives, number groups by counting User-agent-run starts (a UA
    * line whose predecessor is not a UA line), then keep only the lines
    * of groups that APPLY to `userAgent` under RFC 9309 group selection
    * (exact case-insensitive token match anywhere in the file shadows
    * every `*` group). Output: (host, kind, v) with kind ∈
    * {ua, allow, disallow, delay, other}. */
  private def applyingLines(robots: DataFrame, hostCol: String,
                            bodyCol: String, userAgent: String): DataFrame = {
    require(userAgent.nonEmpty && userAgent != "*",
      s"userAgent must be a concrete product token, got '$userAgent'")
    val lines = robots.select(col(hostCol).as("host"),
      posexplode(split(col(bodyCol), "\r?\n")).as(Seq("i", "raw")))
    // whitespace-trim with a REGEX, not SQL trim: tab-indented lines and
    // tab-separated values ("User-agent:\tgraftbot") are valid robots.txt
    // and SQL trim strips spaces only
    val cls = lines
      .select(col("host"), col("i"),
        regexp_replace(regexp_replace(col("raw"), "#.*$", ""),
          "^\\s+|\\s+$", "").as("ln"))
      .select(col("host"), col("i"),
        when(col("ln").rlike("(?i)^user-agent\\s*:"), lit("ua"))
          .when(col("ln").rlike("(?i)^allow\\s*:"), lit("allow"))
          .when(col("ln").rlike("(?i)^disallow\\s*:"), lit("disallow"))
          .when(col("ln").rlike("(?i)^crawl-delay\\s*:"), lit("delay"))
          .otherwise(lit("other")).as("kind"),
        regexp_replace(regexp_extract(col("ln"), "^[^:]*:(.*)$", 1),
          "^\\s+|\\s+$", "").as("v"))
    val wSeq = Window.partitionBy(col("host")).orderBy(col("i"))
    val wGroup = Window.partitionBy(col("host"), col("g"))
    val wHost = Window.partitionBy(col("host"))
    val agentLc = lit(userAgent.toLowerCase(java.util.Locale.ROOT))
    cls
      .withColumn("startg",
        (col("kind") === "ua" &&
          coalesce(lag(col("kind"), 1).over(wSeq), lit("")) =!= "ua").cast("int"))
      .withColumn("g", sum(col("startg")).over(wSeq))
      .filter(col("g") > 0) // lines before any User-agent belong to no group
      .withColumn("spec_g", max(when(col("kind") === "ua"
        && TextFunctions.lowerCase(col("v")) === agentLc, 1).otherwise(0)).over(wGroup))
      .withColumn("star_g", max(when(col("kind") === "ua"
        && col("v") === "*", 1).otherwise(0)).over(wGroup))
      .withColumn("spec_h", max(col("spec_g")).over(wHost))
      .filter(col("spec_g") === 1 || (col("star_g") === 1 && col("spec_h") === 0))
      .select(col("host"), col("kind"), col("v"))
  }

  /** `Sitemap:` directive extraction — where a real crawler's DISCOVERY
    * loop starts. RFC 9309 §2.2.4 classes these as "other records":
    * they live OUTSIDE the group model (a Sitemap line binds to no
    * User-agent and applies to every crawler, whether it appears before
    * the first group, inside one, or after the last), so this parse
    * deliberately ignores groups entirely — unlike [[robotsRules]] /
    * [[robotsCrawlDelay]] there is no userAgent parameter to pass.
    * Directive name matches case-insensitively; values trim with the
    * whitespace regex; comments strip at `#` first (consistent with the
    * rest of the parser — a sitemap URL carrying a fragment is not a
    * fetchable sitemap address anyway); empty values drop; duplicates
    * collapse. Output: (host, sitemap_url).
    *
    * Scan-shaped: one line explode per robots body, no window (group
    * numbering is the rules parse's cost, not this one's), one distinct. */
  def robotsSitemaps(robots: DataFrame, hostCol: String, bodyCol: String): DataFrame =
    robots
      .select(col(hostCol).as("host"),
        explode(split(col(bodyCol), "\r?\n")).as("raw"))
      .select(col("host"),
        regexp_replace(regexp_replace(col("raw"), "#.*$", ""),
          "^\\s+|\\s+$", "").as("ln"))
      .filter(col("ln").rlike("(?i)^sitemap\\s*:"))
      .select(col("host"),
        regexp_replace(regexp_extract(col("ln"), "^[^:]*:(.*)$", 1),
          "^\\s+|\\s+$", "").as("sitemap_url"))
      .filter(col("sitemap_url") =!= "")
      .distinct()

  /** Parse robots.txt bodies for one crawler product token.
    * Input: one row per host with the raw body; output: (host, allow,
    * rule) — the non-empty Allow/Disallow rules of every group that
    * applies to `userAgent`. */
  def robotsRules(robots: DataFrame, hostCol: String, bodyCol: String,
                  userAgent: String): DataFrame =
    applyingLines(robots, hostCol, bodyCol, userAgent)
      .filter(col("kind").isin("allow", "disallow") && col("v") =!= "")
      .select(col("host"), (col("kind") === "allow").as("allow"),
        col("v").as("rule"))

  /** Per-host Crawl-delay seconds for one crawler token, from the groups
    * that apply under the same RFC 9309 selection as [[robotsRules]]
    * (Crawl-delay is a de-facto extension — Google ignores it, Bing and
    * Yandex honor it; a polite trainer-crawler should too). Hosts with no
    * applying parseable value are absent — callers supply their default;
    * multiple values take the MIN (the most conservative crawl is the
    * deterministic choice). Output: (host, crawl_delay: double). */
  def robotsCrawlDelay(robots: DataFrame, hostCol: String, bodyCol: String,
                       userAgent: String): DataFrame =
    applyingLines(robots, hostCol, bodyCol, userAgent)
      .filter(col("kind") === "delay"
        && col("v").rlike("^[0-9]+(\\.[0-9]+)?$"))
      .groupBy(col("host"))
      .agg(min(col("v").cast("double")).as("crawl_delay"))

  /** Decide every URL against the fitted rule table: adds boolean
    * `allowed`. Rules group to bounded per-host arrays, broadcast, and the
    * longest-match/allow-wins fold runs scan-side over each URL's array —
    * the URL stream crosses no exchange. The match target binds to a real
    * column BEFORE the fold so the per-rule lambda reads an attribute, not
    * a re-evaluated sub-expression (the r16 HOF-scoping lesson). */
  def robotsAllowed(urls: DataFrame, rules: DataFrame, urlCol: String): DataFrame = {
    require(!urls.columns.contains("allowed"),
      "robotsAllowed adds an `allowed` column and the input already has one — rename it first")
    // every rules-side column joins in under a tempCol-generated name:
    // Spark's drop-by-name removes ALL columns with that name, so dropping
    // a literal "host" would silently eat a caller's own host column
    val host = SamplingFunctions.tempCol(urls, "__robots_host")
    val tgt = SamplingFunctions.tempCol(urls, "__robots_tgt")
    val ruleHost = SamplingFunctions.tempCol(urls, "__robots_rule_host")
    val ruleArr = SamplingFunctions.tempCol(urls, "__robots_rules")
    val perHost = rules
      .groupBy(col("host"))
      .agg(collect_list(struct(col("allow"), col("rule"))).as(ruleArr))
      .withColumnRenamed("host", ruleHost)
    val emptyRules = array().cast("array<struct<allow:boolean,rule:string>>")
    val decided = urls
      .withColumn(host, UrlFunctions.urlHost(col(urlCol)))
      .withColumn(tgt, UrlFunctions.urlMatchTarget(col(urlCol)))
      .join(perHost, col(host) === col(ruleHost), "left")
      .withColumn("allowed",
        aggregate(
          coalesce(col(ruleArr), emptyRules),
          struct(lit(-1).as("len"), lit(true).as("allow")),
          (acc, r) => {
            val rl = r.getField("rule")
            val wins = (length(rl) > acc.getField("len")) ||
              (length(rl) === acc.getField("len") && r.getField("allow"))
            when(regexp_like(col(tgt), ruleRegex(rl)) && wins,
              struct(length(rl).as("len"), r.getField("allow").as("allow")))
              .otherwise(acc)
          }).getField("allow"))
    decided.drop(host, tgt, ruleHost, ruleArr)
  }

  /** [[robotsAllowed]] restricted to the fetchable URLs. */
  def filterByRobots(urls: DataFrame, rules: DataFrame, urlCol: String): DataFrame =
    robotsAllowed(urls, rules, urlCol).filter(col("allowed")).drop("allowed")

  // ---- persisted robots-rules cache -----------------------------------
  // An incremental crawl re-fetches robots.txt every batch, but bodies
  // rarely change: re-deriving the per-host rule windows for 10⁸ hosts
  // per batch is pure waste. The cache persists (host, body-digest) →
  // parsed rules + crawl delay, keyed the same way the hamming/LSH
  // indices persist signatures: append-only parquet generations, commit
  // marker written LAST, probes tolerant of crash debris.
  //
  // Layout: dir/c=K/ is a compaction EPOCH (committed iff c=K/_SUCCESS
  // exists — the marker writes LAST, so a crashed compaction is
  // invisible and readers stay on the previous epoch). Within the
  // current epoch: rules (host, gen, allow, rule), delays (host, gen,
  // crawl_delay), hosts (host, digest, gen) — hosts is the per-append
  // COMMIT record: rules/delays rows whose (host, gen) never landed in
  // hosts are invisible to readers, so a crashed append is ignorable.
  // The NEXT generation derives from max(gen) across ALL THREE tables,
  // not hosts alone: a crashed append leaves uncommitted rules/delays
  // debris at gen G with hosts still at G−1, and reusing G for a LATER
  // (different) batch would commit the stale debris into visibility —
  // deriving from the three-table max skips the debris gen forever.
  // One userAgent per cache dir (rules are UA-specific) — recorded in
  // dir/_user_agent and REQUIRED to match on append/read.
  //
  // Growth: stale generations accumulate at the per-host CHANGE rate
  // (unchanged bodies append nothing) and every read resolves
  // latest-per-host over all of them, so a daily crawl eventually pays
  // read cost proportional to generation COUNT, not host count.
  // [[compactRobotsCache]] is the fix: rewrite the latest views as one
  // gen-0 generation in epoch K+1 with the compactWindowIndex
  // atomic-publish discipline (tables first, `_SUCCESS` flip last, GC
  // after) — crash debris invisible, readers never see a half-epoch,
  // and the single-writer contract serializes it against appends.

  private def cachePath(dir: String, part: String) =
    s"${dir.stripSuffix("/")}/$part"

  private def epochPath(dir: String, epoch: Long, part: String) =
    s"${Generations.path(dir, "c=", epoch)}/$part"

  /** Whether `dir` holds an initialized robots cache — streaming callers
    * route the first batch to [[writeRobotsCache]] and the rest to
    * [[appendRobotsCache]] off this. */
  def cacheInitialized(spark: SparkSession, dir: String): Boolean =
    Generations.current(spark, dir, "c=") >= 0

  private def uaPath(dir: String) =
    new org.apache.hadoop.fs.Path(cachePath(dir, "_user_agent"))

  private def writeUa(spark: SparkSession, dir: String, userAgent: String): Unit = {
    val p = uaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(userAgent.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def requireUa(spark: SparkSession, dir: String, userAgent: String): Unit = {
    val p = uaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"robots cache at $dir is not initialized")
    val in = fs.open(p)
    val stored = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    require(stored == userAgent,
      s"robots cache at $dir was built for user-agent '$stored', not '$userAgent' " +
        "— rule selection is UA-specific; use a separate cache dir per product token")
  }

  private def stampDigests(robots: DataFrame, hostCol: String,
                           bodyCol: String): DataFrame =
    robots.select(col(hostCol).as("host"), col(bodyCol).as("body"),
      xxhash64(col(bodyCol)).as("digest"))

  /** Parse `stamped` (host, body, digest) and persist as generation
    * `gen` of epoch `epoch`: rules, delays, then the hosts commit record
    * LAST. */
  private def writeGen(spark: SparkSession, dir: String, epoch: Long,
                       stamped: DataFrame, userAgent: String, gen: Long,
                       overwrite: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    robotsRules(stamped, "host", "body", userAgent)
      .withColumn("gen", lit(gen))
      .select(col("host"), col("gen"), col("allow"), col("rule"))
      .write.mode(mode).parquet(epochPath(dir, epoch, "rules"))
    robotsCrawlDelay(stamped, "host", "body", userAgent)
      .withColumn("gen", lit(gen))
      .select(col("host"), col("gen"), col("crawl_delay"))
      .write.mode(mode).parquet(epochPath(dir, epoch, "delays"))
    stamped.select(col("host"), col("digest"), lit(gen).as("gen"))
      .write.mode(mode).parquet(epochPath(dir, epoch, "hosts"))
  }

  private def readPart(spark: SparkSession, dir: String, epoch: Long,
                       part: String): DataFrame =
    spark.read.parquet(epochPath(dir, epoch, part))

  private def requireEpoch(spark: SparkSession, dir: String): Long = {
    val e = Generations.current(spark, dir, "c=")
    require(e >= 0, s"robots cache at $dir is not initialized")
    e
  }

  /** (host, gen) of each host's LATEST committed generation within the
    * current epoch. */
  private def latestHostGen(hosts: DataFrame): DataFrame =
    hosts.groupBy(col("host")).agg(max(col("gen")).as("gen"))

  /** max(gen) over one table, -1 when it is empty (an empty FIRST batch
    * initializes all three tables with zero rows — the null aggregate
    * must read as "no generations yet", not NPE). */
  private def maxGenOf(df: DataFrame): Long =
    df.agg(coalesce(max(col("gen")), lit(-1L))).head().getLong(0)

  /** Initialize a robots cache from the first batch of fetched bodies. */
  def writeRobotsCache(spark: SparkSession, dir: String, robots: DataFrame,
                       hostCol: String, bodyCol: String,
                       userAgent: String): Unit = {
    require(userAgent.nonEmpty && userAgent != "*",
      s"userAgent must be a concrete product token, got '$userAgent'")
    writeUa(spark, dir, userAgent)
    writeGen(spark, dir, epoch = 0L,
      stampDigests(robots, hostCol, bodyCol).localCheckpoint(true),
      userAgent, gen = 0L, overwrite = true)
    Generations.commit(spark, dir, "c=", 0L)
  }

  /** Append one batch of fetched robots bodies: ONLY hosts whose body
    * digest differs from their latest cached digest (or that are new)
    * re-derive rules — a batch of unchanged bodies parses NOTHING (the
    * anti-join is the entire cost). Returns the number of hosts
    * (re)parsed, so callers (and RobotsSpec) can assert the zero. A host
    * whose body CHANGED gets a new generation; readers resolve to the
    * latest per host. Single writer per cache dir, like every index
    * family here. */
  def appendRobotsCache(spark: SparkSession, dir: String, robots: DataFrame,
                        hostCol: String, bodyCol: String,
                        userAgent: String): Long = {
    requireUa(spark, dir, userAgent)
    val epoch = requireEpoch(spark, dir)
    // the batch is scanned ONCE (into the anti-join) — checkpoint only
    // `changed`, which is EMPTY for an unchanged batch: the no-change
    // fast path materializes zero bodies, and its whole cost is the
    // keys-only digest anti-join plus one hosts read
    val stamped = stampDigests(robots, hostCol, bodyCol)
    val hosts = readPart(spark, dir, epoch, "hosts").localCheckpoint(true)
    val latestDigests = hosts
      .join(latestHostGen(hosts), Seq("host", "gen"), "left_semi")
      .select(col("host"), col("digest"))
    val changed = stamped
      .join(latestDigests, Seq("host", "digest"), "left_anti")
      .localCheckpoint(true)
    val n = changed.count()
    if (n > 0) {
      // next gen from the max across ALL THREE tables: a crashed append
      // leaves rules/delays debris one gen past hosts, and reusing that
      // gen for a different batch would commit the debris into
      // visibility — skipping it keeps the debris unreachable forever
      val maxGen = math.max(maxGenOf(hosts),
        math.max(maxGenOf(readPart(spark, dir, epoch, "rules")),
          maxGenOf(readPart(spark, dir, epoch, "delays"))))
      writeGen(spark, dir, epoch, changed, userAgent, gen = maxGen + 1L,
        overwrite = false)
    }
    n
  }

  /** The cached rule table, latest generation per host — feed straight
    * into [[robotsAllowed]]/[[filterByRobots]]. Crash-debris duplicate
    * rows collapse under the distinct (decisions are idempotent in
    * duplicate rules anyway: the longest-match fold revisits the same
    * (allow, rule) without changing the winner). */
  def cachedRules(spark: SparkSession, dir: String): DataFrame = {
    val epoch = requireEpoch(spark, dir)
    readPart(spark, dir, epoch, "rules")
      .join(latestHostGen(readPart(spark, dir, epoch, "hosts")),
        Seq("host", "gen"), "left_semi")
      .select(col("host"), col("allow"), col("rule"))
      .distinct()
  }

  /** The cached per-host Crawl-delay, latest generation per host — feed
    * straight into [[scheduleFrontier]]. min() collapses crash-debris
    * duplicates (same value). */
  def cachedDelays(spark: SparkSession, dir: String): DataFrame = {
    val epoch = requireEpoch(spark, dir)
    readPart(spark, dir, epoch, "delays")
      .join(latestHostGen(readPart(spark, dir, epoch, "hosts")),
        Seq("host", "gen"), "left_semi")
      .groupBy(col("host"))
      .agg(min(col("crawl_delay")).as("crawl_delay"))
  }

  /** Compact the cache: rewrite each host's LATEST rules/delays/digest as
    * ONE gen-0 generation in epoch K+1, flip the `_SUCCESS` marker, GC
    * epochs older than the one replaced. Read cost goes back to O(hosts)
    * no matter how many change generations accumulated; a crash anywhere
    * before the marker leaves readers on epoch K bit-for-bit (the
    * debris epoch is overwritten by the re-run); an in-flight reader of
    * epoch K finishes its scan (K survives until the NEXT compaction).
    * Single writer per cache dir — compaction serializes against appends
    * like every other write here. */
  def compactRobotsCache(spark: SparkSession, dir: String): Unit = {
    val epoch = requireEpoch(spark, dir)
    val next = epoch + 1
    val hosts = readPart(spark, dir, epoch, "hosts")
    val latest = latestHostGen(hosts).localCheckpoint(true)
    cachedRules(spark, dir)
      .select(col("host"), lit(0L).as("gen"), col("allow"), col("rule"))
      .write.mode("overwrite").parquet(epochPath(dir, next, "rules"))
    cachedDelays(spark, dir)
      .select(col("host"), lit(0L).as("gen"), col("crawl_delay"))
      .write.mode("overwrite").parquet(epochPath(dir, next, "delays"))
    hosts.join(latest, Seq("host", "gen"), "left_semi")
      .select(col("host"), col("digest"), lit(0L).as("gen"))
      .write.mode("overwrite").parquet(epochPath(dir, next, "hosts"))
    Generations.commit(spark, dir, "c=", next)
    Generations.gc(spark, dir, "c=", epoch, next)
  }

  /** Politeness-scheduled crawl frontier: assign every URL a fetch offset
    * so consecutive fetches against one host honor that host's
    * Crawl-delay (`defaultDelay` seconds where none is published). URLs
    * rank per host in a deterministic order — by default md5 of the URL,
    * ties to the URL itself (spreads paths instead of crawling a
    * directory in lock step); pass `orderBy` to rank by something earned
    * upstream instead (e.g. PageRank descending — the rank-weighted
    * politeness ladder; the ordering must be TOTAL per host, so end it
    * with a unique tiebreaker like the URL). fetch_at = rank × delay.
    * URLs must be UNIQUE — a frontier is a set; duplicate keys would rank
    * in arbitrary engine order, so dedup upstream (exact dedup or
    * `.distinct()`).
    *
    * Scale note: frontier scheduling is per-host SEQUENTIAL by definition
    * — the rank is one bounded-payload window per host keyed on (host),
    * and a pathological host with millions of pending URLs skews that
    * window's task; cap per-host frontier size upstream (the per-domain
    * cap operator) before scheduling, which a polite crawler needs anyway
    * (10⁶ URLs × 1 s delay is an 11-day frontier).
    *
    * The delays join carries NO broadcast hint: the delay table is one
    * row per crawled HOST, which at open-web scale is 10⁷–10⁸ rows — a
    * forced broadcast OOMs the driver no matter what AQE wants. Left
    * unhinted, AQE broadcasts it automatically whenever it actually fits
    * (fixture scale, per-domain crawls) and degrades to a shuffled hash
    * join on host — one (host, url) exchange — when it doesn't.
    * `hostCol` (r19): a frontier that already carries its host column —
    * every cap-then-schedule pipeline computes one for the per-host cap —
    * can pass it instead of having the host re-derived into a temp
    * column. Beyond skipping the urlHost recompute, this lets the
    * schedule window PARTITION ON THE SAME ATTRIBUTE the cap window
    * partitioned and sorted on, so Spark's EnsureRequirements plans zero
    * additional Exchange and zero additional Sort for the schedule — the
    * old shape re-shuffled and re-sorted the whole frontier on a
    * same-valued but distinct host attribute. The column is kept in the
    * output (it is the caller's own data).
    *
    * Output: input columns + (crawl_delay, fetch_at). */
  def scheduleFrontier(urls: DataFrame, delays: DataFrame, urlCol: String,
                       defaultDelay: Double,
                       orderBy: Seq[Column] = Nil,
                       hostCol: Option[String] = None): DataFrame = {
    require(defaultDelay >= 0, s"defaultDelay must be >= 0, got $defaultDelay")
    for (c <- Seq("crawl_delay", "fetch_at"))
      require(!urls.columns.contains(c),
        s"scheduleFrontier adds a `$c` column and the input already has one — rename it first")
    hostCol.foreach(h => require(urls.columns.contains(h),
      s"scheduleFrontier: hostCol '$h' not found in the frontier. Value " +
        s"contract: '$h' must equal UrlFunctions.urlHost($urlCol) row for " +
        s"row — it is a precomputed copy saving the derivation, NOT an " +
        s"alternative grouping; a stale or differently-derived column " +
        s"misgroups the per-host politeness ladder (ADVICE r19)"))
    val (withHost, host, dropHost) = hostCol match {
      case Some(h) => (urls, h, false)
      case None =>
        val h = SamplingFunctions.tempCol(urls, "__frontier_host")
        (urls.withColumn(h, UrlFunctions.urlHost(col(urlCol))), h, true)
    }
    val delayHost = SamplingFunctions.tempCol(withHost, "__frontier_delay_host")
    val order = if (orderBy.nonEmpty) orderBy
                else Seq(md5(col(urlCol)), col(urlCol))
    val w = Window.partitionBy(col(host)).orderBy(order: _*)
    val scheduled = withHost
      .join(delays.select(col("host").as(delayHost), col("crawl_delay")),
        col(host) === col(delayHost), "left")
      .withColumn("crawl_delay", coalesce(col("crawl_delay"), lit(defaultDelay)))
      .withColumn("fetch_at",
        (row_number().over(w) - 1).cast("double") * col("crawl_delay"))
      .drop(delayHost)
    if (dropHost) scheduled.drop(host) else scheduled
  }
}
