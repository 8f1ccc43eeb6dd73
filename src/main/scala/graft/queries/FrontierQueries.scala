package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import QuerySpec.{memoLayout, r2, r6}

/** Crawl frontier: robots.txt politeness, sitemap discovery, the
  * robots cache, PageRank prioritization and the crawl plans built on
  * them. */
object FrontierQueries {

  /** q192/q199's deterministic link graph, valid over ANY doc_id space:
    * vertices take dense ranks (vid = row_number over doc_id order),
    * out-links are arithmetic in vid space (every 7th vertex dangling,
    * 1–3 out-links, self-loops dropped, parallel edges vote twice), and
    * edges map back to real doc_ids through the vid↔doc_id bijection. On
    * contiguous 0..N−1 corpora (the verify SFs) vid = doc_id and the
    * graph is bit-identical to the pre-r17 arithmetic form; on replicated
    * corpora (MakeSf1's offset id space) the graph stays CLOSED over real
    * vertices — which is precisely what pageRank's strict ghost-vertex
    * contract caught at sf1: the old form aimed most edges at ids that
    * existed only in modular arithmetic, silently leaking rank mass.
    * Dense vids come from [[graft.functions.GraphFunctions.densifyIds]]
    * (range-partition + per-partition offsets), NOT a global row_number
    * window — the r17 form's Exchange SinglePartition serialized graph
    * construction on one task and was the q192 weak; identical vids, no
    * single-partition stage (PlanSpec asserts). */
  private def pagerankEdges(docs: DataFrame, n: Long): DataFrame = {
    val vmap = graft.functions.GraphFunctions
      .densifyIds(docs.select(col("doc_id")), "doc_id", "vid")
      .localCheckpoint(true)
    val cand = array(
      pmod(col("vid") * 31 + 7, lit(n)),
      pmod(col("vid") * 17 + 3, lit(n)),
      pmod(col("vid") * 13 + 11, lit(n)))
    val k = when(pmod(col("vid"), lit(7)) === 0, lit(0))
      .otherwise((pmod(col("vid"), lit(3)) + 1).cast("int"))
    vmap.select(col("vid"), explode(slice(cand, lit(1), k)).as("dvid"))
      .filter(col("vid") =!= col("dvid"))
      .join(vmap.select(col("vid"), col("doc_id").as("src")), "vid")
      .join(vmap.select(col("vid").as("dvid"), col("doc_id").as("dst")), "dvid")
      .select(col("src"), col("dst"))
  }

  /** The q189/q190 robots.txt fixture — two hosts, same body literals the
    * oracle's VALUES carry. h0 exercises specific-group shadowing, the
    * '*'/'$' patterns, the allow-wins tie and a Crawl-delay; h1 exercises
    * merged UA runs, empty values and a non-applying third group; h2 has
    * no robots.txt at all (the default-allow path). */
  private def robotsFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("h0.example", Seq(
        "# politeness for the fixture crawler",
        "Sitemap: http://h0.example/sitemap.xml", // outside any group (§2.2.4)
        "User-agent: graftbot",
        "Disallow: /private/",
        "Allow: /private/public/",
        "Disallow: /*.pdf$",
        "Disallow: /admin",
        "Allow: /admi*",
        "Crawl-delay: 10",
        "User-agent: *",
        "Disallow: /").mkString("\n")),
      ("h1.example", Seq(
        "User-agent: otherbot",
        "User-agent: *",
        "Disallow: /tmp/",
        "Disallow: /search?*q=",
        "Allow:",
        "Disallow:",
        "User-agent: thirdbot",
        "Disallow: /",
        "sitemap: http://h1.example/sitemap.xml") // lowercase, inside a group
        .mkString("\n"))).toDF("host", "body")
  }

  /** The q193 sitemap fixture — FETCHED sitemap bodies keyed by their
    * address (same literals as the oracle's VALUES): two urlsets that the
    * robots fixture's `Sitemap:` directives reference (entity-escaped
    * query URL, pretty-printed loc, junk priority, lastmod-only entry
    * with no loc) plus one ORPHAN body no directive points at — its URLs
    * must never reach discovery, which is exactly what the
    * [[graft.functions.RobotsFunctions.robotsSitemaps]] semi-join gate
    * proves. */
  private def sitemapFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("http://h0.example/sitemap.xml", "h0.example", Seq(
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>",
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">",
        "<url><loc>http://h0.example/</loc><lastmod>2026-01-05</lastmod><priority>0.9</priority></url>",
        "<url><loc>http://h0.example/public/page1</loc><priority>0.8</priority></url>",
        "<url><loc>http://h0.example/private/data</loc></url>",
        "<url><loc>http://h0.example/private/public/ok</loc><lastmod>2026-02-11</lastmod></url>",
        "<url><loc>http://h0.example/files/report.pdf</loc><priority>junk</priority></url>",
        "<url><loc>http://h0.example/search?a=1&amp;b=2</loc><priority>0.4</priority></url>",
        "<url><lastmod>2026-03-01</lastmod></url>",
        "</urlset>").mkString("\n")),
      ("http://h1.example/sitemap.xml", "h1.example", Seq(
        "<urlset>",
        "<url><loc>http://h1.example/tmp/cache</loc></url>",
        "<url><loc>http://h1.example/search?q=x1</loc></url>",
        "<url><loc>http://h1.example/ok/page</loc><priority>1.0</priority></url>",
        "<url>",
        "  <loc>",
        "    http://h1.example/spaced",
        "  </loc>",
        "</url>",
        "</urlset>").mkString("\n")),
      ("http://h2.example/orphan.xml", "h2.example", Seq(
        "<urlset>",
        "<url><loc>http://h2.example/only-via-orphan</loc></url>",
        "</urlset>").mkString("\n"))).toDF("sm_url", "host", "body")
  }

  /** The sitemap bodies a crawler would actually FETCH: the fixture
    * gated to the addresses the robots fixture's `Sitemap:` directives
    * announce (one semi-join — the discovery loop's front edge). The
    * orphan body drops here. */
  private def fetchedSitemaps(s: SparkSession): DataFrame = {
    val discovered = graft.functions.RobotsFunctions
      .robotsSitemaps(robotsFixture(s), "host", "body")
      .select(col("sitemap_url"))
    sitemapFixture(s).join(discovered,
      col("sm_url") === col("sitemap_url"), "left_semi")
  }

  /** The q201 recursion fixture — one host whose robots announces a
    * sitemapINDEX; the fetched-bodies table carries the index, its two
    * children (one with a pretty-printed loc; the index also has a
    * loc-less child entry that must drop) and an ORPHAN child the index
    * never lists. Same literals as the oracle's VALUES. */
  private def indexRobotsFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("hx.example", Seq(
      "User-agent: graftbot",
      "Disallow: /private/",
      "Crawl-delay: 3",
      "Sitemap: http://hx.example/sitemap_index.xml").mkString("\n")))
      .toDF("host", "body")
  }

  private def sitemapIndexFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("http://hx.example/sitemap_index.xml", Seq(
        "<?xml version=\"1.0\"?>",
        "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">",
        "<sitemap><loc>http://hx.example/sm/a.xml</loc><lastmod>2026-04-01</lastmod></sitemap>",
        "<sitemap>",
        "  <loc>",
        "    http://hx.example/sm/b.xml",
        "  </loc>",
        "</sitemap>",
        "<sitemap><lastmod>2026-04-02</lastmod></sitemap>",
        "</sitemapindex>").mkString("\n")),
      ("http://hx.example/sm/a.xml", Seq(
        "<urlset>",
        "<url><loc>http://hx.example/page1</loc><priority>0.7</priority></url>",
        "<url><loc>http://hx.example/private/secret</loc></url>",
        "<url><loc>http://hx.example/page2?b=2&amp;a=1</loc></url>",
        "</urlset>").mkString("\n")),
      ("http://hx.example/sm/b.xml", Seq(
        "<urlset>",
        "<url><loc>http://hx.example/page3</loc></url>",
        "</urlset>").mkString("\n")),
      ("http://hx.example/sm/c.xml", Seq(
        "<urlset>",
        "<url><loc>http://hx.example/only-via-orphan-child</loc></url>",
        "</urlset>").mkString("\n"))).toDF("sm_url", "body")
  }

  /** Deterministic URL of an arbitrary id under the robots-plane URL
    * scheme — host and path are pure arithmetic, so the oracle rebuilds
    * the identical strings for any id expression. */
  private def robotsUrlOf(id: Column): Column =
    concat(lit("http://h"), pmod(id, lit(3)), lit(".example"),
      when(pmod(id, lit(8)) === 0, lit("/"))
        .when(pmod(id, lit(8)) === 1, concat(lit("/public/page"), id))
        .when(pmod(id, lit(8)) === 2, lit("/private/data"))
        .when(pmod(id, lit(8)) === 3, lit("/private/public/ok"))
        .when(pmod(id, lit(8)) === 4, lit("/files/report.pdf"))
        .when(pmod(id, lit(8)) === 5, concat(lit("/search?q=x"), id))
        .when(pmod(id, lit(8)) === 6, lit("/tmp/cache"))
        .otherwise(lit("/admin")))

  /** Deterministic URL stream for the robots queries (one row per doc). */
  private def robotsUrls(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      robotsUrlOf(col("doc_id")).as("url"))

  /** The q192 oracle: all 8 power rounds unrolled over the deterministic
    * doc_id link graph — shared verbatim by q205 (warm start ≡ chained
    * rounds). */
  private lazy val pagerank8Sql: String = {
      val rounds = (1 to 8).map { i =>
        val p = s"r${i - 1}"
        s"""d$i AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS dang
           |  FROM $p LEFT JOIN deg ON $p.id = deg.src WHERE deg.src IS NULL),
           |r$i AS MATERIALIZED (SELECT v.id,
           |    (0.15 / nn.n) + 0.85 * (coalesce(c.s, 0) + (SELECT dang FROM d$i) / nn.n) AS rank
           |  FROM verts v CROSS JOIN nn
           |  LEFT JOIN (SELECT e.dst AS id, sum($p.rank / deg.deg) AS s
           |             FROM edges e JOIN $p ON $p.id = e.src
           |             JOIN deg ON deg.src = e.src
           |             GROUP BY e.dst) c ON c.id = v.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH vmap AS MATERIALIZED (SELECT doc_id,
         |    row_number() OVER (ORDER BY doc_id) - 1 AS vid FROM documents),
         |verts AS MATERIALIZED (SELECT doc_id AS id FROM vmap),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
         |ni AS (SELECT count(*) AS n FROM verts),
         |cand AS (SELECT vid,
         |    [(vid*31+7) % ni.n, (vid*17+3) % ni.n, (vid*13+11) % ni.n] AS cs,
         |    CASE WHEN vid % 7 = 0 THEN 0 ELSE CAST(vid % 3 + 1 AS INT) END AS k
         |  FROM vmap CROSS JOIN ni),
         |edges AS MATERIALIZED (SELECT sv.doc_id AS src, dv.doc_id AS dst
         |  FROM (SELECT vid, unnest(cs[1:k]) AS dvid FROM cand WHERE k > 0) e
         |  JOIN vmap sv ON sv.vid = e.vid
         |  JOIN vmap dv ON dv.vid = e.dvid
         |  WHERE sv.doc_id <> dv.doc_id),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS rank FROM verts CROSS JOIN nn),
         |$rounds
         |SELECT id AS doc_id, round(rank * 1000, 6) AS mrank
         |FROM r8 ORDER BY doc_id""".stripMargin
  }

  /** robots parse + decision + per-host delays over the fixture URL
    * stream, ending at CTEs `allowed` and `delays` — the shared gate
    * half of the q190/q203/q206 oracles. */
  private lazy val frontierGateSql: String =
    robotsParseSql + """,
      |cand AS (SELECT u.doc_id, ru.allow, len(ru.rule) AS rl
      |  FROM urls u JOIN rules ru ON ru.host = u.host AND regexp_matches(u.tgt, ru.pat)),
      |best AS (SELECT doc_id, allow FROM (
      |    SELECT doc_id, allow, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY rl DESC, allow DESC) AS rn FROM cand) WHERE rn = 1),
      |allowed AS (SELECT DISTINCT u.host, 'http://' || u.host || u.tgt AS url
      |  FROM urls u LEFT JOIN best b USING (doc_id)
      |  WHERE coalesce(b.allow, true)),
      |delays AS (SELECT host, min(CAST(v AS DOUBLE)) AS crawl_delay
      |  FROM flags2
      |  WHERE kind = 'delay' AND regexp_matches(v, '^[0-9]+(\.[0-9]+)?$')
      |    AND (spec_g = 1 OR (star_g = 1 AND spec_h = 0))
      |  GROUP BY host)""".stripMargin

  /** The q190 frontier-schedule oracle (rules decision + Crawl-delay
    * ladder over the fixture URL stream) — SHARED verbatim by q203,
    * whose cache-served rules must produce the identical schedule. */
  private lazy val frontierScheduleSql: String =
    frontierGateSql + """,
      |sched AS (SELECT a.url,
      |    coalesce(d.crawl_delay, 1.0) AS crawl_delay,
      |    (row_number() OVER (PARTITION BY a.host ORDER BY md5(a.url), a.url) - 1)
      |      * coalesce(d.crawl_delay, 1.0) AS fetch_at
      |  FROM allowed a LEFT JOIN delays d USING (host))
      |SELECT url, round(crawl_delay, 2) AS crawl_delay,
      |  round(fetch_at, 2) AS fetch_at
      |FROM sched ORDER BY url""".stripMargin

  /** q206's oracle: the gate, MINUS the first-3-per-host already-fetched
    * set (the same md5 ladder order the schedule uses), re-laddered —
    * the incremental plan replayed from scratch. */
  private lazy val incrementalPlanSql: String =
    frontierGateSql + """,
      |fetched AS (SELECT url FROM (
      |    SELECT url, row_number() OVER (PARTITION BY host
      |      ORDER BY md5(url), url) AS rn FROM allowed) WHERE rn <= 3),
      |rem AS (SELECT a.* FROM allowed a
      |  LEFT JOIN fetched f USING (url) WHERE f.url IS NULL),
      |sched AS (SELECT a.url,
      |    coalesce(d.crawl_delay, 1.0) AS crawl_delay,
      |    (row_number() OVER (PARTITION BY a.host ORDER BY md5(a.url), a.url) - 1)
      |      * coalesce(d.crawl_delay, 1.0) AS fetch_at
      |  FROM rem a LEFT JOIN delays d USING (host))
      |SELECT url, round(crawl_delay, 2) AS crawl_delay,
      |  round(fetch_at, 2) AS fetch_at
      |FROM sched ORDER BY url""".stripMargin

  /** Shared DuckDB CTE chain for the robots plane (q189/q190): the two
    * fixture bodies (same literals as the Spark side), the RFC 9309 parse
    * — line explode, comment strip, directive classification, UA-run
    * group numbering, specific-shadows-star selection — the rule→regex
    * translation, the group-independent `Sitemap:` directive extraction,
    * and the deterministic URL stream derived from doc_id. Ends with
    * CTEs `rules`, `flags2` (for Crawl-delay), `smdir` (announced
    * sitemap addresses) and `urls`. */
  private val robotsParseSql: String =
    """WITH RECURSIVE r(host, body) AS (VALUES
      |  ('h0.example', E'# politeness for the fixture crawler\nSitemap: http://h0.example/sitemap.xml\nUser-agent: graftbot\nDisallow: /private/\nAllow: /private/public/\nDisallow: /*.pdf$\nDisallow: /admin\nAllow: /admi*\nCrawl-delay: 10\nUser-agent: *\nDisallow: /'),
      |  ('h1.example', E'User-agent: otherbot\nUser-agent: *\nDisallow: /tmp/\nDisallow: /search?*q=\nAllow:\nDisallow:\nUser-agent: thirdbot\nDisallow: /\nsitemap: http://h1.example/sitemap.xml')),
      |lines AS (
      |  SELECT host, generate_subscripts(l, 1) AS i,
      |         regexp_replace(regexp_replace(unnest(l), '#.*$', ''),
      |                        '^\s+|\s+$', '', 'g') AS ln
      |  FROM (SELECT host, regexp_split_to_array(body, '\r?\n') AS l FROM r)),
      |cls AS (SELECT host, i,
      |    CASE WHEN regexp_matches(ln, '(?i)^user-agent\s*:') THEN 'ua'
      |         WHEN regexp_matches(ln, '(?i)^allow\s*:') THEN 'allow'
      |         WHEN regexp_matches(ln, '(?i)^disallow\s*:') THEN 'disallow'
      |         WHEN regexp_matches(ln, '(?i)^crawl-delay\s*:') THEN 'delay'
      |         ELSE 'other' END AS kind,
      |    regexp_replace(regexp_extract(ln, '^[^:]*:(.*)$', 1),
      |                   '^\s+|\s+$', '', 'g') AS v
      |  FROM lines),
      |lagged AS (SELECT *,
      |    coalesce(lag(kind) OVER (PARTITION BY host ORDER BY i), '') AS pk FROM cls),
      |grp AS (SELECT *, sum(CASE WHEN kind = 'ua' AND pk <> 'ua' THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY host ORDER BY i) AS g FROM lagged),
      |flags AS (SELECT *,
      |    max(CASE WHEN kind = 'ua' AND lower(v) = 'graftbot' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY host, g) AS spec_g,
      |    max(CASE WHEN kind = 'ua' AND v = '*' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY host, g) AS star_g
      |  FROM grp WHERE g > 0),
      |flags2 AS (SELECT *, max(spec_g) OVER (PARTITION BY host) AS spec_h FROM flags),
      |rules AS (SELECT host, kind = 'allow' AS allow, v AS rule,
      |    '^' || replace(regexp_replace(
      |      CASE WHEN v LIKE '%$' THEN v[1:len(v)-1] ELSE v END,
      |      '([\\.\[\]{}()^$|+?])', '\\\1', 'g'), '*', '.*')
      |    || CASE WHEN v LIKE '%$' THEN '$' ELSE '' END AS pat
      |  FROM flags2
      |  WHERE kind IN ('allow','disallow') AND v <> ''
      |    AND (spec_g = 1 OR (star_g = 1 AND spec_h = 0))),
      |smdir AS (SELECT DISTINCT sm_url FROM (
      |    SELECT regexp_replace(regexp_extract(ln, '^[^:]*:(.*)$', 1),
      |                          '^\s+|\s+$', '', 'g') AS sm_url
      |    FROM lines WHERE regexp_matches(ln, '(?i)^sitemap\s*:'))
      |  WHERE sm_url <> ''),
      |urls AS (SELECT doc_id,
      |    'h' || CAST(doc_id % 3 AS VARCHAR) || '.example' AS host,
      |    CASE doc_id % 8
      |      WHEN 0 THEN '/' WHEN 1 THEN '/public/page' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN '/private/data' WHEN 3 THEN '/private/public/ok'
      |      WHEN 4 THEN '/files/report.pdf' WHEN 5 THEN '/search?q=x' || CAST(doc_id AS VARCHAR)
      |      WHEN 6 THEN '/tmp/cache' ELSE '/admin' END AS tgt
      |  FROM documents)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- robots.txt politeness (RFC 9309): parse two fixture robots
    // bodies for the 'graftbot' token (specific-group shadowing, merged
    // UA runs, comments, unknown directives, empty values) and decide a
    // deterministic URL stream derived from doc_id — longest-match with
    // '*'/'$' patterns, allow-wins-ties, absent robots ⇒ allowed. The
    // oracle replays the parse line-by-line and every regex match --------
    QuerySpec("q189_robots", (s, d) => {
      val R = graft.functions.RobotsFunctions
      val rules = R.robotsRules(robotsFixture(s), "host", "body", "graftbot")
      R.robotsAllowed(robotsUrls(s, d), rules, "url")
        .orderBy(col("doc_id"))
    },
      // q189's oracle replays the whole RFC 9309 stack: line explode +
      // comment strip, directive classification, UA-run group numbering,
      // specific-shadows-star selection, rule→regex translation ('*'/'$'),
      // and the longest-match / allow-wins-tie decision per URL
      Some((robotsParseSql + """,
        |cand AS (SELECT u.doc_id, ru.allow, len(ru.rule) AS rl
        |  FROM urls u JOIN rules ru ON ru.host = u.host AND regexp_matches(u.tgt, ru.pat)),
        |best AS (SELECT doc_id, allow FROM (
        |    SELECT doc_id, allow, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY rl DESC, allow DESC) AS rn FROM cand) WHERE rn = 1)
        |SELECT u.doc_id, 'http://' || u.host || u.tgt AS url,
        |  coalesce(b.allow, true) AS allowed
        |FROM urls u LEFT JOIN best b USING (doc_id) ORDER BY u.doc_id""".stripMargin))),
    // ---- the politeness-complete frontier: q189's allowed URLs,
    // scheduled per host at the parsed Crawl-delay (h0 publishes 10 s for
    // graftbot; 1 s default elsewhere); rank order = md5 of the URL. The
    // oracle replays the delay parse, the filter and the schedule --------
    QuerySpec("q190_frontier", (s, d) => {
      val R = graft.functions.RobotsFunctions
      val robots = robotsFixture(s)
      val rules = R.robotsRules(robots, "host", "body", "graftbot")
      val delays = R.robotsCrawlDelay(robots, "host", "body", "graftbot")
      // a frontier is a SET of URLs — dedup before scheduling (ranking
      // duplicate keys would tie-break arbitrarily on any engine)
      val frontier = R.filterByRobots(robotsUrls(s, d), rules, "url")
        .select(col("url")).distinct()
      R.scheduleFrontier(frontier, delays, "url", defaultDelay = 1.0)
        .select(col("url"),
          r2(col("crawl_delay")).as("crawl_delay"),
          r2(col("fetch_at")).as("fetch_at"))
        .orderBy(col("url"))
    },
      // q190: the politeness-complete frontier — q189's allowed URLs,
      // scheduled per host at the parsed Crawl-delay (min of applying
      // values; 1 s default), rank order = md5 of the URL
      Some(frontierScheduleSql)),
    // ---- the complete pre-fetch crawl plan in ONE query: discovery
    // (the crawl stream ∪ the locs of sitemaps ANNOUNCED by robots
    // `Sitemap:` directives — the orphan body stays out, dedup) → redirect-chain
    // resolution to terminal addresses (loops dropped) → robots gate on
    // the ACTUAL fetch target → per-host cap (25, md5 rank) →
    // Crawl-delay frontier schedule. Every stage is a first-class
    // operator proven alone in q189–q195; the oracle replays the whole
    // composition ---------------------------------------------------------
    QuerySpec("q197_crawl_plan", (s, d) => {
      val R = graft.functions.RobotsFunctions
      val robots = robotsFixture(s)
      val rules = R.robotsRules(robots, "host", "body", "graftbot")
      val delays = R.robotsCrawlDelay(robots, "host", "body", "graftbot")
      val discovered = robotsUrls(s, d).select(col("url"))
        .unionByName(graft.functions.SitemapFunctions
          .sitemapUrls(fetchedSitemaps(s), "body")
          .select(col("loc").as("url")))
        .distinct()
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      val redirects = docs.filter(pmod(col("doc_id"), lit(10)) === 2)
        .select(robotsUrlOf(col("doc_id")).as("src"),
          robotsUrlOf(pmod(col("doc_id") * 7 + 5, lit(n))).as("dst"))
        .groupBy(col("src")).agg(min(col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val resolved = graft.functions.CrawlFunctions
        .resolveRedirects(discovered, redirects, "url")
        .filter(col("terminal"))
        .select(col("final_url").as("url")).distinct()
      val fetchable = R.filterByRobots(resolved, rules, "url")
        .withColumn("host", graft.functions.UrlFunctions.urlHost(col("url")))
      // host carried from cap into the schedule: same attribute ⇒ the
      // schedule window reuses cap's exchange AND sort (r19)
      val capped = graft.functions.SamplingFunctions
        .capPerGroup(fetchable, col("host"), col("url"), maxPerGroup = 25)
      R.scheduleFrontier(capped, delays, "url", defaultDelay = 1.0,
          hostCol = Some("host"))
        .select(col("url"), r2(col("crawl_delay")).as("crawl_delay"),
          r2(col("fetch_at")).as("fetch_at"))
        .orderBy(col("url"))
    },
      // q197's oracle replays the WHOLE crawl plan: discovery union,
      // redirect walk (recursive CTE), robots gate on terminal addresses,
      // md5-ranked per-host cap, and the Crawl-delay schedule
      Some((robotsParseSql + """,
        |sm(sm_url, host, body) AS (VALUES
        |  ('http://h0.example/sitemap.xml', 'h0.example', E'<?xml version="1.0" encoding="UTF-8"?>\n<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n<url><loc>http://h0.example/</loc><lastmod>2026-01-05</lastmod><priority>0.9</priority></url>\n<url><loc>http://h0.example/public/page1</loc><priority>0.8</priority></url>\n<url><loc>http://h0.example/private/data</loc></url>\n<url><loc>http://h0.example/private/public/ok</loc><lastmod>2026-02-11</lastmod></url>\n<url><loc>http://h0.example/files/report.pdf</loc><priority>junk</priority></url>\n<url><loc>http://h0.example/search?a=1&amp;b=2</loc><priority>0.4</priority></url>\n<url><lastmod>2026-03-01</lastmod></url>\n</urlset>'),
        |  ('http://h1.example/sitemap.xml', 'h1.example', E'<urlset>\n<url><loc>http://h1.example/tmp/cache</loc></url>\n<url><loc>http://h1.example/search?q=x1</loc></url>\n<url><loc>http://h1.example/ok/page</loc><priority>1.0</priority></url>\n<url>\n  <loc>\n    http://h1.example/spaced\n  </loc>\n</url>\n</urlset>'),
        |  ('http://h2.example/orphan.xml', 'h2.example', E'<urlset>\n<url><loc>http://h2.example/only-via-orphan</loc></url>\n</urlset>')),
        |blocks AS (SELECT host, unnest(regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)) AS b
        |  FROM sm WHERE sm_url IN (SELECT sm_url FROM smdir)),
        |sloc AS (SELECT replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1), '^\s+|\s+$', '', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS url
        |  FROM blocks),
        |disc AS (SELECT DISTINCT url FROM (
        |    SELECT 'http://' || host || tgt AS url FROM urls
        |    UNION ALL SELECT url FROM sloc WHERE url <> '')),
        |nn AS (SELECT count(*) AS n FROM documents),
        |dstu AS (SELECT doc_id,
        |    'http://h' || CAST(j % 3 AS VARCHAR) || '.example' ||
        |    CASE j % 8
        |      WHEN 0 THEN '/' WHEN 1 THEN '/public/page' || CAST(j AS VARCHAR)
        |      WHEN 2 THEN '/private/data' WHEN 3 THEN '/private/public/ok'
        |      WHEN 4 THEN '/files/report.pdf' WHEN 5 THEN '/search?q=x' || CAST(j AS VARCHAR)
        |      WHEN 6 THEN '/tmp/cache' ELSE '/admin' END AS dst
        |  FROM (SELECT doc_id, (doc_id*7+5) % nn.n AS j
        |        FROM documents CROSS JOIN nn WHERE doc_id % 10 = 2)),
        |red AS (SELECT 'http://' || u.host || u.tgt AS src, min(d.dst) AS dst
        |  FROM urls u JOIN dstu d ON d.doc_id = u.doc_id
        |  GROUP BY 1),
        |red2 AS (SELECT src, dst FROM red WHERE src <> dst),
        |walk(url, cur, nh) AS (
        |  SELECT url, url, 0 FROM disc
        |  UNION ALL
        |  SELECT w.url, r2.dst, w.nh + 1 FROM walk w JOIN red2 r2 ON r2.src = w.cur WHERE w.nh < 8),
        |lastw AS (SELECT url, max(nh) AS mx FROM walk GROUP BY url),
        |fin AS (SELECT w.url, w.cur AS furl FROM walk w JOIN lastw l ON l.url = w.url AND w.nh = l.mx),
        |term AS (SELECT DISTINCT f.furl AS url FROM fin f
        |  LEFT JOIN red2 ON red2.src = f.furl WHERE red2.src IS NULL),
        |tu AS (SELECT url, regexp_extract(url, '^http://([^/?]*)', 1) AS host,
        |    CASE WHEN regexp_replace(url, '^https?://[^/?]*', '') = '' THEN '/'
        |         ELSE regexp_replace(url, '^https?://[^/?]*', '') END AS tgt
        |  FROM term),
        |tc AS (SELECT t.url, ru.allow, len(ru.rule) AS rl
        |  FROM tu t JOIN rules ru ON ru.host = t.host AND regexp_matches(t.tgt, ru.pat)),
        |tb AS (SELECT url, allow FROM (
        |    SELECT url, allow, row_number() OVER (PARTITION BY url
        |      ORDER BY rl DESC, allow DESC) AS rn FROM tc) WHERE rn = 1),
        |fetchable AS (SELECT t.url, t.host FROM tu t LEFT JOIN tb USING (url)
        |  WHERE coalesce(tb.allow, true)),
        |capped AS (SELECT url, host FROM (
        |    SELECT url, host, row_number() OVER (PARTITION BY host
        |      ORDER BY md5(url), url) AS rn FROM fetchable) WHERE rn <= 25),
        |delays AS (SELECT host, min(CAST(v AS DOUBLE)) AS crawl_delay
        |  FROM flags2
        |  WHERE kind = 'delay' AND regexp_matches(v, '^[0-9]+(\.[0-9]+)?$')
        |    AND (spec_g = 1 OR (star_g = 1 AND spec_h = 0))
        |  GROUP BY host),
        |sched AS (SELECT c.url,
        |    coalesce(d.crawl_delay, 1.0) AS crawl_delay,
        |    (row_number() OVER (PARTITION BY c.host ORDER BY md5(c.url), c.url) - 1)
        |      * coalesce(d.crawl_delay, 1.0) AS fetch_at
        |  FROM capped c LEFT JOIN delays d USING (host))
        |SELECT url, round(crawl_delay, 2) AS crawl_delay, round(fetch_at, 2) AS fetch_at
        |FROM sched ORDER BY url""".stripMargin))),
    // ---- sitemap discovery → politeness → schedule: the whole crawl
    // front door before any fetch happens, now STARTING where a real
    // crawler starts — the robots fixture's `Sitemap:` directives
    // (RFC 9309 §2.2.4 "other records", group-independent) select which
    // fetched sitemap bodies enter discovery at all; the orphan body no
    // directive references is proven OUT. The selected sitemaps (entity
    // escapes, pretty-printed loc, junk priority, loc-less entry) parse
    // relationally; q189's robots rules gate the discovered URLs; q190's
    // Crawl-delay ladders schedule what survives. Oracle replays the
    // directive extraction, the gate join, parse, gate and schedule -----
    QuerySpec("q193_discovery", (s, _) => {
      val R = graft.functions.RobotsFunctions
      val robots = robotsFixture(s)
      val rules = R.robotsRules(robots, "host", "body", "graftbot")
      val delays = R.robotsCrawlDelay(robots, "host", "body", "graftbot")
      val urls = graft.functions.SitemapFunctions
        .sitemapUrls(fetchedSitemaps(s), "body")
        .withColumnRenamed("loc", "url")
        .drop("sm_url", "host")
      val frontier = R.filterByRobots(urls, rules, "url")
      R.scheduleFrontier(frontier, delays, "url", defaultDelay = 1.0)
        .select(col("url"), col("lastmod"), r2(col("priority")).as("priority"),
          r2(col("crawl_delay")).as("crawl_delay"),
          r2(col("fetch_at")).as("fetch_at"))
        .orderBy(col("url"))
    },
      // q193's oracle replays the sitemap parse (block explode, per-tag
      // extraction, entity decode, whitespace-regex trim, priority
      // defaulting), the robots gate and the Crawl-delay schedule
      Some((robotsParseSql + """,
        |sm(sm_url, host, body) AS (VALUES
        |  ('http://h0.example/sitemap.xml', 'h0.example', E'<?xml version="1.0" encoding="UTF-8"?>\n<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n<url><loc>http://h0.example/</loc><lastmod>2026-01-05</lastmod><priority>0.9</priority></url>\n<url><loc>http://h0.example/public/page1</loc><priority>0.8</priority></url>\n<url><loc>http://h0.example/private/data</loc></url>\n<url><loc>http://h0.example/private/public/ok</loc><lastmod>2026-02-11</lastmod></url>\n<url><loc>http://h0.example/files/report.pdf</loc><priority>junk</priority></url>\n<url><loc>http://h0.example/search?a=1&amp;b=2</loc><priority>0.4</priority></url>\n<url><lastmod>2026-03-01</lastmod></url>\n</urlset>'),
        |  ('http://h1.example/sitemap.xml', 'h1.example', E'<urlset>\n<url><loc>http://h1.example/tmp/cache</loc></url>\n<url><loc>http://h1.example/search?q=x1</loc></url>\n<url><loc>http://h1.example/ok/page</loc><priority>1.0</priority></url>\n<url>\n  <loc>\n    http://h1.example/spaced\n  </loc>\n</url>\n</urlset>'),
        |  ('http://h2.example/orphan.xml', 'h2.example', E'<urlset>\n<url><loc>http://h2.example/only-via-orphan</loc></url>\n</urlset>')),
        |blocks AS (SELECT host, unnest(regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)) AS b
        |  FROM sm WHERE sm_url IN (SELECT sm_url FROM smdir)),
        |parsed AS (SELECT host,
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1), '^\s+|\s+$', '', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS url,
        |    nullif(regexp_replace(regexp_extract(b, '(?s)<lastmod>(.*?)</lastmod>', 1), '^\s+|\s+$', '', 'g'), '') AS lastmod,
        |    CASE WHEN regexp_matches(regexp_replace(regexp_extract(b, '(?s)<priority>(.*?)</priority>', 1), '^\s+|\s+$', '', 'g'), '^[0-9]+(\.[0-9]+)?$')
        |         THEN CAST(regexp_replace(regexp_extract(b, '(?s)<priority>(.*?)</priority>', 1), '^\s+|\s+$', '', 'g') AS DOUBLE)
        |         ELSE 0.5 END AS priority
        |  FROM blocks),
        |smu AS (SELECT host, url, lastmod, priority,
        |    CASE WHEN regexp_replace(url, '^https?://[^/?]*', '') = '' THEN '/'
        |         ELSE regexp_replace(url, '^https?://[^/?]*', '') END AS tgt
        |  FROM parsed WHERE url <> ''),
        |smc AS (SELECT s.url, ru.allow, len(ru.rule) AS rl
        |  FROM smu s JOIN rules ru ON ru.host = s.host AND regexp_matches(s.tgt, ru.pat)),
        |smb AS (SELECT url, allow FROM (
        |    SELECT url, allow, row_number() OVER (PARTITION BY url
        |      ORDER BY rl DESC, allow DESC) AS rn FROM smc) WHERE rn = 1),
        |allowed AS (SELECT s.* FROM smu s LEFT JOIN smb USING (url)
        |  WHERE coalesce(smb.allow, true)),
        |delays AS (SELECT host, min(CAST(v AS DOUBLE)) AS crawl_delay
        |  FROM flags2
        |  WHERE kind = 'delay' AND regexp_matches(v, '^[0-9]+(\.[0-9]+)?$')
        |    AND (spec_g = 1 OR (star_g = 1 AND spec_h = 0))
        |  GROUP BY host),
        |sched AS (SELECT a.url, a.lastmod, a.priority,
        |    coalesce(d.crawl_delay, 1.0) AS crawl_delay,
        |    (row_number() OVER (PARTITION BY a.host ORDER BY md5(a.url), a.url) - 1)
        |      * coalesce(d.crawl_delay, 1.0) AS fetch_at
        |  FROM allowed a LEFT JOIN delays d USING (host))
        |SELECT url, lastmod, round(priority, 2) AS priority,
        |  round(crawl_delay, 2) AS crawl_delay, round(fetch_at, 2) AS fetch_at
        |FROM sched ORDER BY url""".stripMargin))),
    QuerySpec("q192_pagerank", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      graft.functions.GraphFunctions
        .pageRank(docs, pagerankEdges(docs, docs.count()),
          "doc_id", "src", "dst", iterations = 8)
        .select(col("id").as("doc_id"), r6(col("rank") * 1000).as("mrank"))
        .orderBy(col("doc_id"))
    },
      // q192's oracle replays all 8 power iterations unrolled — the same
      // dangling-mass anti-join, per-edge 1/outdeg contributions and
      // damping arithmetic, per round
      Some(pagerank8Sql)),
    // ---- the discovery RECURSION: robots `Sitemap:` directive →
    // sitemapINDEX fetch → child references (pretty-printed loc trims,
    // loc-less entry drops) → child sitemap fetches (the orphan child the
    // index never lists stays out) → urlset parse (entity-escaped query
    // URL) → robots gate (/private/ bites inside a child) → Crawl-delay
    // ladder. Depth-2 discovery exactly as a crawler walks it; every
    // fetch edge is a semi-join on announced addresses. Oracle replays
    // directive extraction, both parse levels, both gates and the
    // schedule from the same body literals ---------------------------------
    QuerySpec("q201_sitemap_recursion", (s, _) => {
      val R = graft.functions.RobotsFunctions
      val robots = indexRobotsFixture(s)
      val rules = R.robotsRules(robots, "host", "body", "graftbot")
      val delays = R.robotsCrawlDelay(robots, "host", "body", "graftbot")
      val bodies = sitemapIndexFixture(s)
      // the first-class fixed-point operator (the r17 form hand-unrolled
      // these two depths; CrawlSpec pins operator ≡ unrolled at depth 3)
      val urls = graft.functions.CrawlFunctions
        .discoverSitemaps(robots, bodies, maxDepth = 2)
        .withColumnRenamed("loc", "url")
        .drop("sm_url", "depth", "lastmod")
      val frontier = R.filterByRobots(urls, rules, "url")
      R.scheduleFrontier(frontier, delays, "url", defaultDelay = 1.0)
        .select(col("url"), r2(col("priority")).as("priority"),
          r2(col("crawl_delay")).as("crawl_delay"),
          r2(col("fetch_at")).as("fetch_at"))
        .orderBy(col("url"))
    },
      // q201's oracle replays the depth-2 discovery from the same body
      // literals: directive extraction, index parse (child gate: announced
      // only), child parse (orphan stays out), urlset parse, the robots
      // rule derived from the body, and the Crawl-delay ladder
      Some("""WITH r(host, body) AS (VALUES
        |  ('hx.example', E'User-agent: graftbot\nDisallow: /private/\nCrawl-delay: 3\nSitemap: http://hx.example/sitemap_index.xml')),
        |lines AS (SELECT host,
        |    regexp_replace(regexp_replace(unnest(regexp_split_to_array(body, '\r?\n')), '#.*$', ''), '^\s+|\s+$', '', 'g') AS ln
        |  FROM r),
        |smdir AS (SELECT DISTINCT regexp_replace(regexp_extract(ln, '^[^:]*:(.*)$', 1), '^\s+|\s+$', '', 'g') AS u
        |  FROM lines WHERE regexp_matches(ln, '(?i)^sitemap\s*:')),
        |rules AS (SELECT host, false AS allow, v AS rule,
        |    '^' || replace(regexp_replace(CASE WHEN v LIKE '%$' THEN v[1:len(v)-1] ELSE v END,
        |      '([\\.\[\]{}()^$|+?])', '\\\1', 'g'), '*', '.*')
        |    || CASE WHEN v LIKE '%$' THEN '$' ELSE '' END AS pat
        |  FROM (SELECT host, regexp_replace(regexp_extract(ln, '^[^:]*:(.*)$', 1), '^\s+|\s+$', '', 'g') AS v
        |        FROM lines WHERE regexp_matches(ln, '(?i)^disallow\s*:')) WHERE v <> ''),
        |delays AS (SELECT host, min(CAST(v AS DOUBLE)) AS crawl_delay
        |  FROM (SELECT host, regexp_replace(regexp_extract(ln, '^[^:]*:(.*)$', 1), '^\s+|\s+$', '', 'g') AS v
        |        FROM lines WHERE regexp_matches(ln, '(?i)^crawl-delay\s*:'))
        |  WHERE regexp_matches(v, '^[0-9]+(\.[0-9]+)?$') GROUP BY host),
        |sm(sm_url, body) AS (VALUES
        |  ('http://hx.example/sitemap_index.xml', E'<?xml version="1.0"?>\n<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n<sitemap><loc>http://hx.example/sm/a.xml</loc><lastmod>2026-04-01</lastmod></sitemap>\n<sitemap>\n  <loc>\n    http://hx.example/sm/b.xml\n  </loc>\n</sitemap>\n<sitemap><lastmod>2026-04-02</lastmod></sitemap>\n</sitemapindex>'),
        |  ('http://hx.example/sm/a.xml', E'<urlset>\n<url><loc>http://hx.example/page1</loc><priority>0.7</priority></url>\n<url><loc>http://hx.example/private/secret</loc></url>\n<url><loc>http://hx.example/page2?b=2&amp;a=1</loc></url>\n</urlset>'),
        |  ('http://hx.example/sm/b.xml', E'<urlset>\n<url><loc>http://hx.example/page3</loc></url>\n</urlset>'),
        |  ('http://hx.example/sm/c.xml', E'<urlset>\n<url><loc>http://hx.example/only-via-orphan-child</loc></url>\n</urlset>')),
        |chb AS (SELECT unnest(regexp_extract_all(body, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS b
        |  FROM sm WHERE sm_url IN (SELECT u FROM smdir)),
        |children AS (SELECT child FROM (
        |    SELECT replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1), '^\s+|\s+$', '', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS child
        |    FROM chb) WHERE child <> ''),
        |ub AS (SELECT unnest(regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)) AS b
        |  FROM sm WHERE sm_url IN (SELECT child FROM children)),
        |parsed AS (SELECT
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1), '^\s+|\s+$', '', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS url,
        |    CASE WHEN regexp_matches(regexp_replace(regexp_extract(b, '(?s)<priority>(.*?)</priority>', 1), '^\s+|\s+$', '', 'g'), '^[0-9]+(\.[0-9]+)?$')
        |         THEN CAST(regexp_replace(regexp_extract(b, '(?s)<priority>(.*?)</priority>', 1), '^\s+|\s+$', '', 'g') AS DOUBLE)
        |         ELSE 0.5 END AS priority
        |  FROM ub),
        |pu AS (SELECT url, priority,
        |    regexp_extract(url, '^http://([^/?]*)', 1) AS host,
        |    CASE WHEN regexp_replace(url, '^https?://[^/?]*', '') = '' THEN '/'
        |         ELSE regexp_replace(url, '^https?://[^/?]*', '') END AS tgt
        |  FROM parsed WHERE url <> ''),
        |pc AS (SELECT p.url, ru.allow, len(ru.rule) AS rl
        |  FROM pu p JOIN rules ru ON ru.host = p.host AND regexp_matches(p.tgt, ru.pat)),
        |pb AS (SELECT url, allow FROM (
        |    SELECT url, allow, row_number() OVER (PARTITION BY url ORDER BY rl DESC, allow DESC) AS rn FROM pc) WHERE rn = 1),
        |allowed AS (SELECT p.* FROM pu p LEFT JOIN pb USING (url) WHERE coalesce(pb.allow, true)),
        |sched AS (SELECT a.url, a.priority,
        |    coalesce(d.crawl_delay, 1.0) AS crawl_delay,
        |    (row_number() OVER (PARTITION BY a.host ORDER BY md5(a.url), a.url) - 1) * coalesce(d.crawl_delay, 1.0) AS fetch_at
        |  FROM allowed a LEFT JOIN delays d USING (host))
        |SELECT url, round(priority, 2) AS priority, round(crawl_delay, 2) AS crawl_delay, round(fetch_at, 2) AS fetch_at
        |FROM sched ORDER BY url""".stripMargin)),
    // ---- distributed dense-id assignment as its own oracled surface:
    // a non-contiguous, scrambled id space (7·doc_id + a bucket offset)
    // densifies to 0..N−1 in sort order WITHOUT a single-partition
    // window (range partition + per-partition zipWithIndex offsets; the
    // operator q192/q199's vid map runs on). The oracle is the
    // definition itself: row_number() over (order by id) − 1 ------------
    // ---- the INCREMENTAL crawl plan — the capstone of the cache/
    // anti-join loop: rules and delays come ENTIRELY from the persisted
    // robots cache (q203's machinery; batch 2's unchanged bodies cost
    // one anti-join), the already-fetched set (the first 3 scheduled per
    // host — capPerGroup's default md5 order IS scheduleFrontier's
    // ladder order, so "first K scheduled" is expressible as a cap)
    // leaves by anti-join, and only the REMAINING URLs ladder. This is
    // what batch N+1 of a real crawl plans: no robots re-derivation, no
    // re-planning of what's already fetched. Oracle replays gate, the
    // first-3 window, the set difference and the re-ladder from scratch -
    QuerySpec("q206_incremental_plan", (s, d) => {
      val R = graft.functions.RobotsFunctions
      val U = graft.functions.UrlFunctions
      val dir = memoLayout("q203_robots_cache", "battery") { tmp =>
        val robots = robotsFixture(s).localCheckpoint(true)
        R.writeRobotsCache(s, tmp,
          robots.filter(col("host") === "h0.example"),
          "host", "body", "graftbot")
        R.appendRobotsCache(s, tmp, robots, "host", "body", "graftbot")
      }
      val rules = R.cachedRules(s, dir)
      val delays = R.cachedDelays(s, dir)
      val fetchable = R.filterByRobots(robotsUrls(s, d), rules, "url")
        .select(col("url")).distinct()
        .withColumn("h", U.urlHost(col("url")))
      val fetched = graft.functions.SamplingFunctions
        .capPerGroup(fetchable, col("h"), col("url"), 3)
      // h kept through the anti-join (broadcast at this scale, so cap's
      // host partitioning survives into the schedule window — r19)
      val remaining = fetchable
        .join(fetched.select(col("url")), Seq("url"), "left_anti")
      R.scheduleFrontier(remaining, delays, "url", defaultDelay = 1.0,
          hostCol = Some("h"))
        .select(col("url"),
          r2(col("crawl_delay")).as("crawl_delay"),
          r2(col("fetch_at")).as("fetch_at"))
        .orderBy(col("url"))
    },
      Some(incrementalPlanSql)),
    // ---- warm-start pageRank: the incremental re-rank an ongoing crawl
    // runs every batch — start the power iteration from the PREVIOUS
    // rank vector instead of uniform. The contract is exact chaining on
    // an unchanged graph: init = rank_6, 2 more rounds ≡ 8 rounds from
    // uniform, so the oracle is q192's 8-round replay VERBATIM — any
    // drift in the warm-start path (init join, default for unseen
    // vertices, mass handling) hash-mismatches ---------------------------
    QuerySpec("q205_warm_pagerank", (s, d) => {
      val G = graft.functions.GraphFunctions
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val edges = pagerankEdges(docs, docs.count()).localCheckpoint(true)
      val r6ranks = G.pageRank(docs, edges, "doc_id", "src", "dst",
        iterations = 6)
      G.pageRank(docs, edges, "doc_id", "src", "dst", iterations = 2,
          initialRanks = Some(r6ranks))
        .select(col("id").as("doc_id"), r6(col("rank") * 1000).as("mrank"))
        .orderBy(col("doc_id"))
    },
      // q205 proves the warm-start contract — pageRank(init=rank_6, 2) ≡
      // pageRank(uniform, 8) on an unchanged graph — so its oracle IS the
      // same 8-round replay, verbatim
      Some(pagerank8Sql)),
    QuerySpec("q204_densify_ids", (s, d) => {
      val docs = Tables.documents(s, d)
        .select((col("doc_id") * 7 + pmod(col("doc_id"), lit(13)) * 1000000).as("ext_id"),
          col("doc_id"))
      graft.functions.GraphFunctions.densifyIds(docs, "ext_id", "vid")
        .select(col("ext_id"), col("doc_id"), col("vid"))
        .orderBy(col("ext_id"))
    },
      // q204's oracle IS the operator's definition: dense id = 0-based
      // rank in id order (densifyIds assigns it distributed; the SQL
      // window is the single-partition form it replaces)
      Some("""SELECT ext_id, doc_id,
        |  row_number() OVER (ORDER BY ext_id) - 1 AS vid
        |FROM (SELECT doc_id * 7 + (doc_id % 13) * 1000000 AS ext_id, doc_id
        |      FROM documents)
        |ORDER BY ext_id""".stripMargin)),
    // ---- the PERSISTED robots cache serving a frontier: init from h0's
    // body alone, append the full fixture (h0's unchanged body is caught
    // by the digest anti-join and re-derives NOTHING — RobotsSpec
    // asserts the zero; h1 is new and parses) — then the schedule is
    // built ENTIRELY from cache-served rules/delays. The oracle is
    // q190's from-scratch replay VERBATIM: cache-served ≡ re-derived is
    // the cache's correctness contract ---------------------------------
    QuerySpec("q203_robots_cache", (s, d) => {
      val R = graft.functions.RobotsFunctions
      val dir = memoLayout("q203_robots_cache", "battery") { tmp =>
        val robots = robotsFixture(s).localCheckpoint(true)
        R.writeRobotsCache(s, tmp,
          robots.filter(col("host") === "h0.example"),
          "host", "body", "graftbot")
        R.appendRobotsCache(s, tmp, robots, "host", "body", "graftbot")
      }
      val rules = R.cachedRules(s, dir)
      val delays = R.cachedDelays(s, dir)
      val frontier = R.filterByRobots(robotsUrls(s, d), rules, "url")
        .select(col("url")).distinct()
      R.scheduleFrontier(frontier, delays, "url", defaultDelay = 1.0)
        .select(col("url"),
          r2(col("crawl_delay")).as("crawl_delay"),
          r2(col("fetch_at")).as("fetch_at"))
        .orderBy(col("url"))
    },
      // q203 ≡ q190 on the RESULT — the from-scratch parse and the
      // cache-served rules must schedule identically (that IS the cache's
      // correctness contract); the incremental machinery (zero
      // re-derivation on unchanged bodies) is asserted in RobotsSpec
      Some(frontierScheduleSql)),
    // ---- robots-cache COMPACTION serving a frontier: the cache takes
    // h0, then the full fixture, then a CHANGED h1 body, then h1's
    // REVERT to the fixture body — four generations, two of them stale
    // — and compactRobotsCache rewrites the latest views as one gen-0
    // epoch (atomic `c=N/_SUCCESS` flip, the compactWindowIndex
    // discipline). The schedule then builds ENTIRELY from the compacted
    // cache; the oracle is q190's from-scratch replay VERBATIM —
    // compacted ≡ cache-served ≡ re-derived is the compaction's
    // correctness contract ------------------------------------------------
    QuerySpec("q207_compacted_cache", (s, d) => {
      val R = graft.functions.RobotsFunctions
      val dir = memoLayout("q207_compacted_cache", "battery") { tmp =>
        val robots = robotsFixture(s).localCheckpoint(true)
        R.writeRobotsCache(s, tmp,
          robots.filter(col("host") === "h0.example"),
          "host", "body", "graftbot")
        R.appendRobotsCache(s, tmp, robots, "host", "body", "graftbot")
        // a stale change + its revert: compaction must drop both stale
        // generations and serve exactly the fixture's latest rules
        R.appendRobotsCache(s, tmp,
          robots.filter(col("host") === "h1.example")
            .withColumn("body",
              lit("User-agent: graftbot\nDisallow: /interim/\nCrawl-delay: 9")),
          "host", "body", "graftbot")
        R.appendRobotsCache(s, tmp,
          robots.filter(col("host") === "h1.example"),
          "host", "body", "graftbot")
        R.compactRobotsCache(s, tmp)
      }
      val rules = R.cachedRules(s, dir)
      val delays = R.cachedDelays(s, dir)
      val frontier = R.filterByRobots(robotsUrls(s, d), rules, "url")
        .select(col("url")).distinct()
      R.scheduleFrontier(frontier, delays, "url", defaultDelay = 1.0)
        .select(col("url"),
          r2(col("crawl_delay")).as("crawl_delay"),
          r2(col("fetch_at")).as("fetch_at"))
        .orderBy(col("url"))
    },
      // q207 ≡ q203 ≡ q190 on the RESULT — compaction must be invisible
      // to readers, so the compacted cache replays the identical schedule
      Some(frontierScheduleSql)),
    // ---- the PRIORITY-AWARE frontier — the last piece of the
    // Common-Crawl frontier story: q192's PageRank over the doc link
    // graph becomes the fetch budget AND the fetch order. Per URL the
    // best rank of the docs claiming it (q190's URL scheme maps many
    // docs to one address) → robots gate → per-host cap keeps the TOP-10
    // BY RANK (capPerGroup's orderBy override, not the uniform md5
    // sample) → scheduleFrontier ladders each host BY RANK (highest
    // first, url tiebreak). Ordering crosses engines through
    // round(rank·1000, 6) — the same 6-decimal contract q192's hash
    // parity stands on. The oracle replays all 8 power rounds, the gate,
    // both rank-ordered windows and the ladder arithmetic ----------------
    QuerySpec("q199_rank_frontier", (s, d) => {
      val R = graft.functions.RobotsFunctions
      val robots = robotsFixture(s)
      val rules = R.robotsRules(robots, "host", "body", "graftbot")
      val delays = R.robotsCrawlDelay(robots, "host", "body", "graftbot")
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val ranks = graft.functions.GraphFunctions
        .pageRank(docs, pagerankEdges(docs, docs.count()),
          "doc_id", "src", "dst", iterations = 8)
        .select(col("id").as("doc_id"), r6(col("rank") * 1000).as("mrank"))
      val ranked = R.filterByRobots(robotsUrls(s, d), rules, "url")
        .join(ranks, "doc_id")
        .groupBy(col("url")).agg(max(col("mrank")).as("mrank"))
        .withColumn("h", graft.functions.UrlFunctions.urlHost(col("url")))
      // h carried from cap to schedule: same attribute, same order ⇒ the
      // schedule window reuses the cap window's exchange and sort (r19)
      val capped = graft.functions.SamplingFunctions
        .capPerGroup(ranked, col("h"), col("url"), 10,
          orderBy = Seq(col("mrank").desc, col("url")))
      R.scheduleFrontier(capped, delays, "url", defaultDelay = 1.0,
          orderBy = Seq(col("mrank").desc, col("url")), hostCol = Some("h"))
        .select(col("url"), col("mrank"),
          r2(col("crawl_delay")).as("crawl_delay"),
          r2(col("fetch_at")).as("fetch_at"))
        .orderBy(col("url"))
    },
      // q199's oracle: the q192 power-iteration replay composed with the
      // robots parse — per-URL best rank, gate, rank-ordered cap window,
      // rank-ordered politeness ladder; every ordering crosses engines
      // through round(rank·1000, 6)
      Some {
        val rounds = (1 to 8).map { i =>
          val p = s"r${i - 1}"
          s"""d$i AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS dang
             |  FROM $p LEFT JOIN deg ON $p.id = deg.src WHERE deg.src IS NULL),
             |r$i AS MATERIALIZED (SELECT v.id,
             |    (0.15 / nn.n) + 0.85 * (coalesce(c.s, 0) + (SELECT dang FROM d$i) / nn.n) AS rank
             |  FROM verts v CROSS JOIN nn
             |  LEFT JOIN (SELECT e.dst AS id, sum($p.rank / deg.deg) AS s
             |             FROM edges e JOIN $p ON $p.id = e.src
             |             JOIN deg ON deg.src = e.src
             |             GROUP BY e.dst) c ON c.id = v.id)""".stripMargin
        }.mkString(",\n")
        robotsParseSql + s""",
          |vmap AS MATERIALIZED (SELECT doc_id,
          |    row_number() OVER (ORDER BY doc_id) - 1 AS vid FROM documents),
          |verts AS MATERIALIZED (SELECT doc_id AS id FROM vmap),
          |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
          |ni AS (SELECT count(*) AS n FROM verts),
          |cand AS (SELECT vid,
          |    [(vid*31+7) % ni.n, (vid*17+3) % ni.n, (vid*13+11) % ni.n] AS cs,
          |    CASE WHEN vid % 7 = 0 THEN 0 ELSE CAST(vid % 3 + 1 AS INT) END AS k
          |  FROM vmap CROSS JOIN ni),
          |edges AS MATERIALIZED (SELECT sv.doc_id AS src, dv.doc_id AS dst
          |  FROM (SELECT vid, unnest(cs[1:k]) AS dvid FROM cand WHERE k > 0) e
          |  JOIN vmap sv ON sv.vid = e.vid
          |  JOIN vmap dv ON dv.vid = e.dvid
          |  WHERE sv.doc_id <> dv.doc_id),
          |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
          |r0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS rank FROM verts CROSS JOIN nn),
          |$rounds,
          |ranks AS (SELECT id AS doc_id, round(rank * 1000, 6) AS mrank FROM r8),
          |uc AS (SELECT u.doc_id, u.host, 'http://' || u.host || u.tgt AS url, u.tgt
          |  FROM urls u),
          |rc AS (SELECT DISTINCT c.url, ru.allow, len(ru.rule) AS rl
          |  FROM uc c JOIN rules ru ON ru.host = c.host AND regexp_matches(c.tgt, ru.pat)),
          |rb AS (SELECT url, allow FROM (
          |    SELECT url, allow, row_number() OVER (PARTITION BY url
          |      ORDER BY rl DESC, allow DESC) AS rn FROM rc) WHERE rn = 1),
          |au AS (SELECT c.host, c.url, max(r.mrank) AS mrank
          |  FROM uc c JOIN ranks r USING (doc_id)
          |  LEFT JOIN rb ON rb.url = c.url
          |  WHERE coalesce(rb.allow, true)
          |  GROUP BY c.host, c.url),
          |capped AS (SELECT host, url, mrank FROM (
          |    SELECT host, url, mrank, row_number() OVER (PARTITION BY host
          |      ORDER BY mrank DESC, url) AS rn FROM au) WHERE rn <= 10),
          |delays AS (SELECT host, min(CAST(v AS DOUBLE)) AS crawl_delay
          |  FROM flags2
          |  WHERE kind = 'delay' AND regexp_matches(v, '^[0-9]+(\\.[0-9]+)?$$')
          |    AND (spec_g = 1 OR (star_g = 1 AND spec_h = 0))
          |  GROUP BY host),
          |sched AS (SELECT c.url, c.mrank,
          |    coalesce(d.crawl_delay, 1.0) AS crawl_delay,
          |    (row_number() OVER (PARTITION BY c.host ORDER BY c.mrank DESC, c.url) - 1)
          |      * coalesce(d.crawl_delay, 1.0) AS fetch_at
          |  FROM capped c LEFT JOIN delays d USING (host))
          |SELECT url, mrank, round(crawl_delay, 2) AS crawl_delay,
          |  round(fetch_at, 2) AS fetch_at
          |FROM sched ORDER BY url""".stripMargin
      })
  )
}
