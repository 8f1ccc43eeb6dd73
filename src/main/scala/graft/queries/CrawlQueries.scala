package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.functions.{DedupFunctions => D}
import QuerySpec.{memoLayout, r2, writeFixtureAtomic}

/** Crawl: WARC scans and text extraction, URL canonicalization and
  * registered domains (curated and full-width PSL), redirects, the link
  * graph, charset decode and the crawl lifecycle. */
object CrawlQueries {

  /** The q198 lifecycle robots policy for the WARC fixture's two hosts —
    * same literals the python replay's rule table carries. fixture.example
    * names the graftbot token (plain prefix rule + a Crawl-delay);
    * mirror.example's star group exercises the `$` end anchor. */
  private def lifecycleRobotsFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("fixture.example", Seq(
        "User-agent: graftbot",
        "Disallow: /privacy",
        "Crawl-delay: 2").mkString("\n")),
      ("mirror.example", Seq(
        "User-agent: *",
        "Disallow: /terms$").mkString("\n"))).toDF("host", "body")
  }

  /** Full-PSL-width synthetic rule set (9,280 rules + the ~80 curated
    * real entries ≈ the active width of the real public_suffix_list.dat)
    * from pure arithmetic formulas, so the DuckDB oracle regenerates the
    * IDENTICAL list with generate_series — no 9k-line literal rides the
    * SQL. Covers every rule class at width: exact 2-label (8,000), exact
    * 3-label (800), wildcard bases (400), exceptions under those
    * wildcards (80). */
  private[graft] val syntheticPslRules: Seq[String] =
    (0 until 8000).map(i => s"s$i.t${i % 97}") ++
      (0 until 800).map(i => s"u$i.s${i % 40}.t${i % 97}") ++
      (0 until 400).map(i => s"*.w$i") ++
      (0 until 400 by 5).map(i => s"!ok.w$i")

  private[graft] def fullPslRules: Seq[String] = {
    val rules = graft.functions.UrlFunctions.BundledPslRules ++ syntheticPslRules
    // the q200 oracle's candidate generator is generate_series(1, 3) —
    // suffix depth is hardcoded to the rule set's current maximum. A
    // 4-label rule (the real PSL has pvt.k12.ma.us) would silently
    // under-match on the DuckDB side, so fail LOUDLY here the moment one
    // lands; bumping the series bound in the oracle is the paired fix.
    val maxDepth = rules.iterator
      .map(r => r.stripPrefix("!").stripPrefix("*.").count(_ == '.') + 1).max
    require(maxDepth <= 3,
      s"q200 oracle generates suffix candidates to depth 3 but the rule set " +
        s"now reaches depth $maxDepth — raise generate_series(1, 3) in the " +
        "q200 oracle alongside this bound")
    rules
  }

  /** URL battery for q171 — one case per canonicalization rule (case,
    * userinfo, default/custom ports, fragment, trailing slash incl. the
    * all-trailing-slashes rule, query sort + empty params + duplicate keys,
    * missing path, IPv4, bracketed IPv6 with/without/default port,
    * percent-escape normalization (unreserved decode / hex upcase /
    * malformed verbatim / reserved never decoded), single-label host,
    * PSL exception + wildcard + 2- and 3-label exact rules, non-URL
    * salvage). The oracle carries the same literals. */
  private val urlBattery: Seq[String] = Seq(
    "HTTP://WWW.Example.COM:80/a/b/?b=2&a=1#frag",
    "https://Example.com:443/",
    "https://example.com:8443/x/",
    "http://user:pw@Example.CO.UK/cart?item=3&&q=",
    "http://a.b.example.co.uk",
    "http://192.168.10.1:8080/admin#x",
    "http://example.com/a?z=9&a=2&a=1",
    "  http://example.com/a/  ",
    "not a url #frag",
    "http://localhost:80/x",
    "HTTPS://news.example.org/path/?UTM=3#a",
    "http://example.com?x=1",
    "ftp://Files.Example.com:21/data/",
    "http://sub.example.com.au/x",
    "https://example.com/a//b//",
    // bracketed IPv6 authorities
    "http://[2001:DB8::1]/x",
    "https://[2001:db8::1]:443/a/",
    "http://[2001:db8::1]:8080/a",
    // percent-escape normalization
    "http://example.com/%7euser/",
    "http://example.com/caf%c3%a9?x=%41&y=%zz",
    "http://example.com/100%",
    "http://example.com/a%2Fb?k=%2d%2E",
    // PSL exception / wildcard / multi-label exact rules
    "http://foo.www.ck/a",
    "http://a.b.ck/",
    "http://x.a.b.ck",
    "http://sub.city.kawasaki.jp/",
    "http://a.x.y.kawasaki.jp/p",
    "http://shop.example.co.ke/",
    "http://a.b.com.ng",
    "http://school.district.k12.ca.us/x")

  /** Materialize the committed WARC fixture (classpath resources, written
    * by scripts/gen_warc_fixture.py) into a temp directory so q164/q165
    * exercise the real binaryFile scan path end-to-end. Idempotent. */
  private def warcFixtureDir(): String = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-warc-fixture")
    java.nio.file.Files.createDirectories(dir)
    Seq("tiny.warc", "tiny.warc.gz").foreach { name =>
      val in = getClass.getResourceAsStream(s"/graft/warc/$name")
      val bytes = try in.readAllBytes() finally in.close()
      writeFixtureAtomic(dir, name, bytes)
    }
    dir.toString
  }

  /** The charset-decode WARC battery (scripts/gen_charset_fixture.py) —
    * its OWN directory so the q198 lifecycle's `*.warc.gz` scan over the
    * main fixture dir never picks these records up. Idempotent. */
  private def charsetWarcDir(): String = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-warc-charset")
    java.nio.file.Files.createDirectories(dir)
    val in = getClass.getResourceAsStream("/graft/warc/charset.warc.gz")
    val bytes = try in.readAllBytes() finally in.close()
    writeFixtureAtomic(dir, "charset.warc.gz", bytes)
    dir.toString
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- WARC container scan → per-record text extraction: the LLM-data
    // front door (Common Crawl → text). Both the plain and per-record-gzip
    // layouts read through the SAME parser; file = task (gzip is
    // unsplittable — exactly Common Crawl's parallel unit), records explode
    // executor-side, zero shuffle. Oracle rows are literals from the
    // INDEPENDENT python extraction replay (scripts/gen_warc_fixture.py) --
    QuerySpec("q164_warc_extract", (s, _) => {
      val H = graft.functions.HtmlFunctions
      graft.sources.Warc.readWarc(s, warcFixtureDir())
        .select(
          when(col("file").endsWith(".warc.gz"), "gz")
            .otherwise("plain").as("kind"),
          col("record_index").cast("long").as("record_index"),
          col("warc_type"), col("target_uri"),
          col("http_status").cast("long").as("http_status"),
          length(col("payload")).cast("long").as("payload_len"),
          // binary-integrity witness for every record: md5 of the DECODED
          // entity bytes (after dechunk/gunzip) — proves the body-coding
          // path bit-exact for binary payloads the text column can't hash
          md5(col("payload")).as("payload_md5"),
          when(col("http_content_type").startsWith("text/html"),
            H.htmlToText(col("payload").cast("string")))
            // binary responses (image/*, audio/*, …) are NEVER
            // UTF-8-decoded — a crawler treats them as opaque bytes
            .when(col("warc_type") === "response" &&
              !col("http_content_type").startsWith("text/"), lit(""))
            .otherwise(col("payload").cast("string")).as("text"))
        .select(col("kind"), col("record_index"), col("warc_type"),
          col("target_uri"), col("http_status"), col("payload_len"),
          col("payload_md5"),
          md5(col("text").cast("binary")).as("text_md5"),
          length(col("text")).cast("long").as("text_chars"))
        .orderBy(col("kind"), col("record_index"))
    },
      // q164/q165: oracle rows are literals computed by the INDEPENDENT
      // python extraction replay in scripts/gen_warc_fixture.py — the
      // fixture bytes and every expected digest share no code with the Scala
      // WARC parser / HTML extractor under test, so a drift anywhere in
      // record framing, gzip-member handling, HTTP header split, tag strip,
      // entity decode, or the density rule breaks a literal.
      Some("""WITH r(record_index, warc_type, target_uri, http_status,
        |       payload_len, payload_md5, text_md5, text_chars) AS (VALUES
        |  (CAST(0 AS BIGINT), 'warcinfo', '', CAST(-1 AS BIGINT), CAST(59 AS BIGINT), 'bf750d1cf4c3cf46a63dd4777ad49d2b', 'bf750d1cf4c3cf46a63dd4777ad49d2b', CAST(59 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'request', 'http://fixture.example/page-a', CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'd41d8cd98f00b204e9800998ecf8427e', 'd41d8cd98f00b204e9800998ecf8427e', CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'response', 'http://fixture.example/page-a', CAST(200 AS BIGINT), CAST(823 AS BIGINT), 'c7e01f18582742effbf4590997e99c84', 'bc0618804c87b63f9bdde1555c16a220', CAST(334 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'response', 'http://fixture.example/page-b', CAST(200 AS BIGINT), CAST(409 AS BIGINT), '530ec03dc04da42280882d4529c8d077', 'e84749f0ddb580a6a1bf8b67c53a2500', CAST(216 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'response', 'http://fixture.example/robots.txt', CAST(200 AS BIGINT), CAST(47 AS BIGINT), '504cc27d124aa4267375563c721fd87f', '504cc27d124aa4267375563c721fd87f', CAST(47 AS BIGINT)),
        |  (CAST(5 AS BIGINT), 'response', 'http://fixture.example/missing', CAST(404 AS BIGINT), CAST(45 AS BIGINT), '4070cda956e04b568baab9ae986c643d', '606f595e097047571ca4510cd647285a', CAST(12 AS BIGINT)),
        |  (CAST(6 AS BIGINT), 'response', 'http://fixture.example/page-c', CAST(200 AS BIGINT), CAST(172 AS BIGINT), '8a954749de82c04aa98cca9659407319', '705afa8578a7f38de6e9b05a12b35f18', CAST(116 AS BIGINT)),
        |  (CAST(7 AS BIGINT), 'response', 'http://fixture.example/chunked', CAST(200 AS BIGINT), CAST(409 AS BIGINT), '530ec03dc04da42280882d4529c8d077', 'e84749f0ddb580a6a1bf8b67c53a2500', CAST(216 AS BIGINT)),
        |  (CAST(8 AS BIGINT), 'response', 'http://fixture.example/gzipped', CAST(200 AS BIGINT), CAST(823 AS BIGINT), 'c7e01f18582742effbf4590997e99c84', 'bc0618804c87b63f9bdde1555c16a220', CAST(334 AS BIGINT)),
        |  (CAST(9 AS BIGINT), 'response', 'http://fixture.example/both', CAST(200 AS BIGINT), CAST(172 AS BIGINT), '8a954749de82c04aa98cca9659407319', '705afa8578a7f38de6e9b05a12b35f18', CAST(116 AS BIGINT)),
        |  (CAST(10 AS BIGINT), 'response', 'http://MIRROR.example:80/page-a-variant/', CAST(200 AS BIGINT), CAST(832 AS BIGINT), '49a1bd27d44ea8f71fde4423d5958641', '3e938e24b1e6f57ae38244ac310715d6', CAST(343 AS BIGINT)),
        |  (CAST(11 AS BIGINT), 'response', 'http://mirror.example/page-d?b=2&a=1#sec', CAST(200 AS BIGINT), CAST(266 AS BIGINT), 'd0ae7fd5a4ee147c86766ab1c7e92c5f', '326379951776523ac926ae9c3ea1f35a', CAST(182 AS BIGINT)),
        |  (CAST(12 AS BIGINT), 'response', 'http://fixture.example/img-a.png', CAST(200 AS BIGINT), CAST(1057 AS BIGINT), '95884e74971bbaf1063cb9941b0d0e5e', 'd41d8cd98f00b204e9800998ecf8427e', CAST(0 AS BIGINT)),
        |  (CAST(13 AS BIGINT), 'response', 'http://MIRROR.example:80/img-a-copy.png', CAST(200 AS BIGINT), CAST(1124 AS BIGINT), 'eb78cc0638bce88fccc6c8b35b496576', 'd41d8cd98f00b204e9800998ecf8427e', CAST(0 AS BIGINT)),
        |  (CAST(14 AS BIGINT), 'response', 'http://fixture.example/img-b.png', CAST(200 AS BIGINT), CAST(1106 AS BIGINT), '93bebab32bd65e07e5fb7603594ee844', 'd41d8cd98f00b204e9800998ecf8427e', CAST(0 AS BIGINT)),
        |  (CAST(15 AS BIGINT), 'response', 'http://fixture.example/tone-a.wav', CAST(200 AS BIGINT), CAST(2092 AS BIGINT), '2787ee01bfb29c0d230b8cdc625130b7', 'd41d8cd98f00b204e9800998ecf8427e', CAST(0 AS BIGINT)),
        |  (CAST(16 AS BIGINT), 'response', 'http://mirror.example/tone-a-gain.wav', CAST(200 AS BIGINT), CAST(2092 AS BIGINT), '6f54b6ce2d76f2c5de7278bf28864cd5', 'd41d8cd98f00b204e9800998ecf8427e', CAST(0 AS BIGINT)),
        |  (CAST(17 AS BIGINT), 'response', 'http://fixture.example/clip-a.mp4', CAST(200 AS BIGINT), CAST(4159 AS BIGINT), '6cba773aae2826c6b5acf5b2e30c0d3d', 'd41d8cd98f00b204e9800998ecf8427e', CAST(0 AS BIGINT)),
        |  (CAST(18 AS BIGINT), 'response', 'http://MIRROR.example:80/clip-a-copy.mp4', CAST(200 AS BIGINT), CAST(4159 AS BIGINT), '6cba773aae2826c6b5acf5b2e30c0d3d', 'd41d8cd98f00b204e9800998ecf8427e', CAST(0 AS BIGINT)),
        |  (CAST(19 AS BIGINT), 'response', 'http://fixture.example/clip-b.mp4', CAST(200 AS BIGINT), CAST(4176 AS BIGINT), 'd74b0da80ab80601edddd419f680eb85', 'd41d8cd98f00b204e9800998ecf8427e', CAST(0 AS BIGINT))),
        |k(kind) AS (VALUES ('gz'), ('plain'))
        |SELECT kind, record_index, warc_type, target_uri, http_status,
        |  payload_len, payload_md5, text_md5, text_chars
        |FROM k CROSS JOIN r ORDER BY kind, record_index""".stripMargin)),
    // ---- the composed crawl → clean-corpus walk (the switch-over user
    // story for a web-scale ingest): WARC scan → HTTP 200 HTML → density-
    // rule main text → quality gate → EXACT DEDUP by main text — the
    // coded-body twins (chunked/gzip) collapse onto their plain fetches,
    // exactly the duplicate shape a real crawl carries. Oracle = the
    // independent python replay of the full composition -----------------
    QuerySpec("q168_crawl_pipeline", (s, _) => {
      val H = graft.functions.HtmlFunctions
      graft.sources.Warc.readWarc(s, warcFixtureDir())
        .filter(col("file").endsWith(".warc.gz") &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(col("target_uri"),
          H.mainText(H.decodeBody(col("payload"),
            col("http_content_type"))).as("mt"))
        .filter(length(col("mt")) >= 40) // quality gate: enough main content
        .select(col("target_uri"), col("mt"),
          graft.functions.TextFunctions.tokenCount(col("mt"))
            .cast("long").as("tok"))
        .groupBy(md5(col("mt").cast("binary")))
        .agg(min(col("target_uri")).as("keeper_uri"),
          count(lit(1)).as("n_copies"),
          max(col("tok")).as("main_tokens"),
          max(length(col("mt"))).cast("long").as("main_chars"))
        .select(col("keeper_uri"), col("n_copies"), col("main_tokens"),
          col("main_chars"))
        .orderBy(col("keeper_uri"))
    },
      // q168: the composition's results replayed by the python generator
      // end-to-end (extraction + gate + dedup + counts share no code with
      // the Scala pipeline under test)
      Some("""WITH v(keeper_uri, n_copies, main_tokens, main_chars) AS (VALUES
        |  ('http://MIRROR.example:80/page-a-variant/', CAST(1 AS BIGINT), CAST(40 AS BIGINT), CAST(275 AS BIGINT)),
        |  ('http://fixture.example/both', CAST(2 AS BIGINT), CAST(15 AS BIGINT), CAST(90 AS BIGINT)),
        |  ('http://fixture.example/chunked', CAST(2 AS BIGINT), CAST(33 AS BIGINT), CAST(202 AS BIGINT)),
        |  ('http://fixture.example/gzipped', CAST(2 AS BIGINT), CAST(40 AS BIGINT), CAST(275 AS BIGINT)),
        |  ('http://mirror.example/page-d?b=2&a=1#sec', CAST(1 AS BIGINT), CAST(27 AS BIGINT), CAST(176 AS BIGINT)))
        |SELECT keeper_uri, n_copies, main_tokens, main_chars
        |FROM v ORDER BY keeper_uri""".stripMargin)),
    // ---- main-content extraction (jusText/Arc90-style density rule) over
    // the archived HTML 200-responses: per page the kept-block count and
    // main-text digest vs the full-page text length — pure column
    // expressions, boilerplate (nav/footer/link farms) drops by the
    // chars≥25 ∧ 3·link_chars≤chars rule --------------------------------
    QuerySpec("q165_html_main_text", (s, _) => {
      val H = graft.functions.HtmlFunctions
      graft.sources.Warc.readWarc(s, warcFixtureDir())
        .filter(col("file").endsWith(".warc.gz") &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(col("target_uri"),
          H.decodeBody(col("payload"), col("http_content_type")).as("html"))
        .select(col("target_uri"),
          size(H.keptBlocks(col("html"))).cast("long").as("n_blocks"),
          H.mainText(col("html")).as("mt"),
          H.htmlToText(col("html")).as("ft"))
        .select(col("target_uri"), col("n_blocks"),
          md5(col("mt").cast("binary")).as("main_md5"),
          length(col("mt")).cast("long").as("main_chars"),
          length(col("ft")).cast("long").as("full_chars"))
        .orderBy(col("target_uri"))
    },
      Some("""WITH v(target_uri, n_blocks, main_md5, main_chars, full_chars) AS (VALUES
        |  ('http://fixture.example/page-a', CAST(3 AS BIGINT), '7082a12b4c92208d0bef0ef955a0d96e', CAST(275 AS BIGINT), CAST(334 AS BIGINT)),
        |  ('http://fixture.example/page-b', CAST(2 AS BIGINT), '4f6e839a4693ac150824786770f70aa6', CAST(202 AS BIGINT), CAST(216 AS BIGINT)),
        |  ('http://fixture.example/page-c', CAST(2 AS BIGINT), '5c3d0254c0cbbf65083a65234e700c41', CAST(90 AS BIGINT), CAST(116 AS BIGINT)),
        |  ('http://fixture.example/chunked', CAST(2 AS BIGINT), '4f6e839a4693ac150824786770f70aa6', CAST(202 AS BIGINT), CAST(216 AS BIGINT)),
        |  ('http://fixture.example/gzipped', CAST(3 AS BIGINT), '7082a12b4c92208d0bef0ef955a0d96e', CAST(275 AS BIGINT), CAST(334 AS BIGINT)),
        |  ('http://fixture.example/both', CAST(2 AS BIGINT), '5c3d0254c0cbbf65083a65234e700c41', CAST(90 AS BIGINT), CAST(116 AS BIGINT)),
        |  ('http://MIRROR.example:80/page-a-variant/', CAST(3 AS BIGINT), 'bb81b9e00b56488fd33c9b43cb5c5039', CAST(275 AS BIGINT), CAST(343 AS BIGINT)),
        |  ('http://mirror.example/page-d?b=2&a=1#sec', CAST(1 AS BIGINT), '259e0d152fec0fa47a6b3ff5bb342a2f', CAST(176 AS BIGINT), CAST(182 AS BIGINT)))
        |SELECT target_uri, n_blocks, main_md5, main_chars, full_chars
        |FROM v ORDER BY target_uri""".stripMargin)),
    // ---- the FULL front-door-to-training-shards story in one query:
    // WARC scan → HTTP-200 HTML → density-rule main text → quality gate →
    // URL canonicalization + registered domain → EXACT dedup by content
    // (coded twins collapse) → minhash-LSH NEAR-dedup (the mirror's
    // lightly-edited copy collapses onto the original) → per-domain cap →
    // token-budget shard assignment. Oracle = the independent python
    // generator replaying every stage ------------------------------------
    QuerySpec("q170_crawl_shards", (s, _) => {
      val H = graft.functions.HtmlFunctions
      val U = graft.functions.UrlFunctions
      val D = graft.functions.DedupFunctions
      val Smp = graft.functions.SamplingFunctions
      val docs = graft.sources.Warc.readWarc(s, warcFixtureDir())
        .filter(col("file").endsWith(".warc.gz") &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(col("record_index").cast("long").as("rid"),
          U.canonicalizeUrl(col("target_uri")).as("keeper_uri"),
          U.registeredDomain(col("target_uri")).as("regdom"),
          H.mainText(H.decodeBody(col("payload"),
            col("http_content_type"))).as("mt"))
        .filter(length(col("mt")) >= 40)
        // stage the extracted corpus ONCE: the composition downstream is
        // multi-action (LSH checkpoint, probe, final join), and without a
        // cut each action re-executes and re-plans the WARC scan +
        // extraction + canonicalization — the same staging a production
        // crawl pipeline does between extract and dedup
        .localCheckpoint(true)
      // keeper = the min-rid (first-crawled) ROW: min_by picks
      // keeper_uri/regdom from that one row, so they stay mutually
      // consistent even when a content-duplicate group spans registered
      // domains (three independent min()s could report a regdom the
      // keeper doesn't live at). min(rid) + min_by(…, rid) — NOT
      // min(struct(rid, …)) — because rid is unique per group (same row
      // either way) and the separate aggregates let Catalyst PRUNE the
      // URL expressions out of every downstream sub-plan that only needs
      // (mt, rid): with a struct-min, the canonicalization would ride the
      // LSH checkpoint/probe plans and be re-compiled per action
      val exact = docs.groupBy(col("mt"))
        .agg(min(col("rid")).as("rid"),
          min_by(struct(col("keeper_uri"), col("regdom")), col("rid")).as("k"),
          count(lit(1)).as("n_copies"))
        .select(col("mt"), col("k.keeper_uri").as("keeper_uri"),
          col("k.regdom").as("regdom"), col("rid"), col("n_copies"))
      val near = D.dedupNear(exact, "mt", "rid",
        n = 3, bands = 4, rowsPerBand = 2, jaccardThreshold = 0.6)
      val capped = Smp.capPerGroup(near, col("regdom"), col("keeper_uri"), 2)
        .withColumn("tokens",
          graft.functions.TextFunctions.tokenCount(col("mt")).cast("long"))
      Smp.shardByTokenBudget(capped, col("rid"), col("tokens"), "crawl", 30L)
        .select(col("keeper_uri"), col("regdom"), col("n_copies"),
          col("tokens"), col("shard"))
        .orderBy(col("keeper_uri"))
    },
      // q170: the crawl→shards composition replayed end-to-end by the
      // python generator (extraction, canonicalization, exact dedup,
      // minhash LSH + jaccard + union-find near-dedup, per-domain cap,
      // md5-bucketed token-budget sharding — no code shared with Scala)
      Some("""WITH v(keeper_uri, regdom, n_copies, tokens, shard) AS (VALUES
        |  ('http://fixture.example/page-a', 'fixture.example', CAST(2 AS BIGINT), CAST(40 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('http://fixture.example/page-c', 'fixture.example', CAST(2 AS BIGINT), CAST(15 AS BIGINT), CAST(1 AS BIGINT)),
        |  ('http://mirror.example/page-d?a=1&b=2', 'mirror.example', CAST(1 AS BIGINT), CAST(27 AS BIGINT), CAST(1 AS BIGINT)))
        |SELECT keeper_uri, regdom, n_copies, tokens, shard
        |FROM v ORDER BY keeper_uri""".stripMargin)),
    // ---- URL canonicalization + registered domain (crawl front door):
    // pure column expressions — scheme/host case, userinfo, default
    // ports, fragments, trailing slash, query-param order, suffix-list
    // domain; the oracle replays the whole grammar with DuckDB's OWN
    // string/list ops over the same literals ----------------------------
    QuerySpec("q171_url_canon", (s, _) => {
      import s.implicits._
      val U = graft.functions.UrlFunctions
      urlBattery.toDF("url").select(col("url"),
          U.canonicalizeUrl(col("url")).as("canon"),
          U.urlHost(col("url")).as("host"),
          U.registeredDomain(col("url")).as("regdom"))
        .orderBy(col("url"))
    },
      // full replay of the URL grammar with DuckDB's own string/list ops
      // (regexp, string_split, list_filter, list_sort, unhex/decode) over
      // the battery literals — same contract, independent implementation:
      // IPv6-aware authority split, RFC 3986 percent-escape normalization,
      // and the PSL algorithm (exceptions > wildcards/exacts > default)
      Some {
        val U = graft.functions.UrlFunctions
        val vals = urlBattery.map(u => s"  ('$u')").mkString(",\n")
        def set(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(",")
        // percent normalization of an expression: pieces after each '%' —
        // unreserved byte (hex-pair regex) decodes, valid hex upcases,
        // malformed passes through verbatim
        // coalesce: DuckDB's array_to_string of an EMPTY list is NULL
        def pct(e: String): String =
          s"""(string_split($e, '%')[1] || coalesce(array_to_string(
             |    list_transform(string_split($e, '%')[2:], p -> CASE
             |      WHEN NOT regexp_matches(upper(p[1:2]), '^[0-9A-F]{2}$$') THEN '%' || p
             |      WHEN regexp_matches(upper(p[1:2]), '^(3[0-9]|4[1-9A-F]|5[0-9A]|6[1-9A-F]|7[0-9A]|2[DE]|5F|7E)$$')
             |        THEN decode(unhex(upper(p[1:2]))) || p[3:]
             |      ELSE '%' || upper(p[1:2]) || p[3:] END), ''), ''))""".stripMargin
        s"""WITH urls(url) AS (VALUES
           |$vals),
           |s1 AS (SELECT url, regexp_extract(trim(url), '^([^#]*)', 1) AS nofrag FROM urls),
           |s2 AS (SELECT url, nofrag,
           |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |  regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM s1),
           |s3 AS (SELECT *, lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1), '^[^@]*@', '')) AS authority,
           |  regexp_replace(rest, '^[^/?]*', '') AS pathquery FROM s2),
           |s4 AS (SELECT *, ${pct("regexp_extract(pathquery, '^([^?]*)', 1)")} AS path,
           |  CASE WHEN contains(pathquery, '?') THEN ${pct("regexp_replace(pathquery, '^[^?]*\\?', '')")} ELSE '' END AS query FROM s3),
           |s5 AS (SELECT *,
           |  CASE WHEN authority[1:1] = '[' THEN regexp_extract(authority, '^(\\[[^\\]]*\\])', 1)
           |       ELSE regexp_extract(authority, '^([^:]*)', 1) END AS host,
           |  CASE WHEN authority[1:1] = '[' THEN regexp_extract(authority, '^\\[[^\\]]*\\]:([0-9]+)$$', 1)
           |       WHEN contains(authority, ':') THEN regexp_extract(authority, ':([0-9]*)$$', 1)
           |       ELSE '' END AS port FROM s4),
           |s6 AS (SELECT *, string_split(host, '.') AS labels,
           |  host || CASE WHEN port <> '' AND NOT ((scheme='http' AND port='80') OR (scheme='https' AND port='443'))
           |    THEN ':' || port ELSE '' END AS canon_auth,
           |  CASE WHEN regexp_replace(path, '/+$$', '') = '' THEN '/'
           |       ELSE regexp_replace(path, '/+$$', '') END AS canon_path,
           |  list_filter(string_split(query, '&'), p -> p <> '') AS params FROM s5),
           |s7 AS (SELECT *, CASE WHEN len(params) > 0 THEN '?' || array_to_string(list_sort(params), '&') ELSE '' END AS canon_query,
           |  len(labels) AS n,
           |  labels[-1] AS l1,
           |  labels[-2] || '.' || labels[-1] AS l2,
           |  labels[-3] || '.' || labels[-2] || '.' || labels[-1] AS l3,
           |  labels[-4] || '.' || labels[-3] || '.' || labels[-2] || '.' || labels[-1] AS l4 FROM s6)
           |SELECT url,
           |  CASE WHEN scheme = '' THEN regexp_extract(trim(url), '^([^#]*)', 1)
           |       ELSE scheme || '://' || canon_auth || canon_path || canon_query END AS canon,
           |  host,
           |  CASE WHEN regexp_matches(host, '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$$') OR host[1:1] = '[' OR n <= 1 THEN host
           |       WHEN n >= 3 AND l3 IN (${set(U.Exceptions3)}) THEN l3
           |       WHEN n >= 2 AND l2 IN (${set(U.Exceptions2)}) THEN l2
           |       WHEN n >= 2 AND l2 IN (${set(U.WildcardBases2)}) THEN CASE WHEN n >= 4 THEN l4 ELSE host END
           |       WHEN n >= 3 AND l3 IN (${set(U.ThreeLevelSuffixes)}) THEN CASE WHEN n >= 4 THEN l4 ELSE host END
           |       WHEN l1 IN (${set(U.WildcardBases1)}) THEN CASE WHEN n >= 3 THEN l3 ELSE host END
           |       WHEN n >= 2 AND l2 IN (${set(U.TwoLevelSuffixes)}) THEN CASE WHEN n >= 3 THEN l3 ELSE host END
           |       ELSE l2 END AS regdom
           |FROM s7 ORDER BY url""".stripMargin
      }),
    // ---- the MULTIMODAL crawl front door in one query: WARC → route by
    // content type → text: density-rule main text + quality gate + exact
    // dedup + minhash-LSH near-dedup (the q170 front half); image: PNG
    // decode → DCT pHash; audio: WAV decode → WHT fingerprint; video:
    // MP4 demux → keyframe H.264 decode → pHash → hamming band-prefix
    // LSH pairs per modality → connected components → kept
    // representatives with member counts. The fixture plants a
    // cross-domain perceptual image copy, a ×2-gain audio twin, and a
    // re-hosted byte-identical clip next to the coded/mirrored text
    // duplicates; the oracle is the python generator replaying EVERY
    // stage — extraction, canonicalization, minhash banding, PNG/WAV
    // encode→hash, video distances from the independent encoder's
    // replayed literals, hamming pairing, union-find ---------------------
    QuerySpec("q175_multimodal_crawl", (s, _) => {
      graft.functions.CrawlFunctions.multimodalKeepers(
          graft.sources.Warc.readWarc(s, warcFixtureDir())
            .filter(col("file").endsWith(".warc.gz")),
          minMainChars = 40, shingleN = 3, minhashBands = 4,
          rowsPerBand = 2, jaccardThreshold = 0.6,
          hammingBands = 8, maxDistance = 4)
        .orderBy(col("modality"), col("keeper_uri"))
    },
      // q175: the multimodal crawl composition replayed end-to-end by the
      // python generator (extraction, canonicalization, minhash banding,
      // union-find, PNG/WAV encode → perceptual hash, hamming pairing —
      // no code shared with Scala; scripts/gen_warc_fixture.py q175_rows)
      Some("""WITH v(modality, keeper_uri, n_members) AS (VALUES
        |  ('audio', 'http://fixture.example/tone-a.wav', CAST(2 AS BIGINT)),
        |  ('image', 'http://fixture.example/img-a.png', CAST(2 AS BIGINT)),
        |  ('image', 'http://fixture.example/img-b.png', CAST(1 AS BIGINT)),
        |  ('text', 'http://fixture.example/page-a', CAST(3 AS BIGINT)),
        |  ('text', 'http://fixture.example/page-b', CAST(2 AS BIGINT)),
        |  ('text', 'http://fixture.example/page-c', CAST(2 AS BIGINT)),
        |  ('text', 'http://mirror.example/page-d?a=1&b=2', CAST(1 AS BIGINT)),
        |  ('video', 'http://fixture.example/clip-a.mp4', CAST(2 AS BIGINT)),
        |  ('video', 'http://fixture.example/clip-b.mp4', CAST(1 AS BIGINT)))
        |SELECT modality, keeper_uri, n_members
        |FROM v ORDER BY modality, keeper_uri""".stripMargin)),
    // ---- the incremental crawl: the q175 record stream split into
    // yesterday's crawl (records ≤ 12: the text pages + the first image)
    // and today's (≥ 13: the rest of the media, incl. the cross-batch
    // image byte-dup 12 ↔ 13). Today's batch pays extraction +
    // batch-internal pairing + two index probes; the corpus is reached
    // only through the persisted LSH/hamming buckets and the members
    // rows of touched components. The oracle is q175's: the incremental
    // state MUST reproduce the union-batch answer exactly — any probe
    // recall loss, relabel scope error, or bookkeeping drift
    // hash-mismatches ---------------------------------------------------
    QuerySpec("q183_incremental_crawl", (s, _) => {
      val C = graft.functions.CrawlFunctions
      val dir = memoLayout("q183_crawl_state", "battery") { tmp =>
        val warc = graft.sources.Warc.readWarc(s, warcFixtureDir())
          .filter(col("file").endsWith(".warc.gz"))
          .localCheckpoint(true)
        val p = C.CrawlParams() // identical knobs to q175
        C.initCrawlState(s, tmp, warc.filter(col("record_index") <= 12), p)
        C.appendCrawlBatch(s, tmp, warc.filter(col("record_index") >= 13), p)
      }
      C.crawlKeepers(s, dir)
        .orderBy(col("modality"), col("keeper_uri"))
    },
      // q183: the incremental crawl's contract IS q175's answer — same
      // VALUES (replayed end-to-end by scripts/gen_warc_fixture.py
      // q175_rows): init(records ≤ 12) + append(records ≥ 13) must equal
      // the union-batch run bit-for-bit
      Some("""WITH v(modality, keeper_uri, n_members) AS (VALUES
        |  ('audio', 'http://fixture.example/tone-a.wav', CAST(2 AS BIGINT)),
        |  ('image', 'http://fixture.example/img-a.png', CAST(2 AS BIGINT)),
        |  ('image', 'http://fixture.example/img-b.png', CAST(1 AS BIGINT)),
        |  ('text', 'http://fixture.example/page-a', CAST(3 AS BIGINT)),
        |  ('text', 'http://fixture.example/page-b', CAST(2 AS BIGINT)),
        |  ('text', 'http://fixture.example/page-c', CAST(2 AS BIGINT)),
        |  ('text', 'http://mirror.example/page-d?a=1&b=2', CAST(1 AS BIGINT)),
        |  ('video', 'http://fixture.example/clip-a.mp4', CAST(2 AS BIGINT)),
        |  ('video', 'http://fixture.example/clip-b.mp4', CAST(1 AS BIGINT)))
        |SELECT modality, keeper_uri, n_members
        |FROM v ORDER BY modality, keeper_uri""".stripMargin)),
    // ---- redirect-chain resolution: follow the deterministic (src→dst)
    // fetch-log table from every URL to its terminal address, 8-hop
    // budget — chains of 0–4 hops plus three genuine loops that exhaust
    // the budget (terminal = false). The oracle walks the same chains
    // with a recursive CTE -----------------------------------------------
    QuerySpec("q195_redirects", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      def urlOf(id: Column): Column =
        concat(lit("http://r"), pmod(id, lit(50)), lit(".example/p/"), id)
      val urls = docs.select(col("doc_id"), urlOf(col("doc_id")).as("url"))
      val redirects = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        .select(urlOf(col("doc_id")).as("src"),
          urlOf(pmod(col("doc_id") * 9 + 4, lit(n))).as("dst"))
      graft.functions.CrawlFunctions.resolveRedirects(urls, redirects, "url")
        .select(col("doc_id"), col("url"), col("final_url"),
          col("n_hops"), col("terminal"))
        .orderBy(col("doc_id"))
    },
      // q195's oracle walks the redirect chains with a recursive CTE (hop
      // counter bounds the loops exactly like the operator's budget) and
      // derives terminal from the final URL's out-edge
      Some("""WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
        |u AS (SELECT doc_id,
        |    'http://r' || CAST(doc_id % 50 AS VARCHAR) || '.example/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |red AS (SELECT
        |    'http://r' || CAST(doc_id % 50 AS VARCHAR) || '.example/p/' || CAST(doc_id AS VARCHAR) AS src,
        |    'http://r' || CAST(((doc_id*9+4) % nn.n) % 50 AS VARCHAR) || '.example/p/'
        |      || CAST((doc_id*9+4) % nn.n AS VARCHAR) AS dst
        |  FROM documents CROSS JOIN nn WHERE doc_id % 3 = 1),
        |walk(url, cur, n) AS (
        |  SELECT url, url, 0 FROM u
        |  UNION ALL
        |  SELECT w.url, r.dst, w.n + 1 FROM walk w JOIN red r ON r.src = w.cur WHERE w.n < 8),
        |last AS (SELECT url, max(n) AS mx FROM walk GROUP BY url),
        |fin AS (SELECT w.url, w.cur AS final_url, w.n AS n_hops
        |  FROM walk w JOIN last l ON l.url = w.url AND w.n = l.mx)
        |SELECT u.doc_id, f.url, f.final_url, f.n_hops, (r.src IS NULL) AS terminal
        |FROM fin f JOIN u ON u.url = f.url LEFT JOIN red r ON r.src = f.final_url
        |ORDER BY u.doc_id""".stripMargin)),
    // ---- crawl link graph: the fixture's HTML responses → out-link
    // extraction (quote styles, anchor text under the stripTags spec,
    // commented-out/script-embedded anchors excluded) → RFC 3986
    // resolution against each page's own URI. The oracle's VALUES are
    // the independent python replay (gen_warc_fixture.q194_rows — own
    // regexes + the stdlib's urljoin, fragments stripped) -----------------
    QuerySpec("q194_link_graph", (s, _) => {
      val H = graft.functions.HtmlFunctions
      val pages = graft.sources.Warc.readWarc(s, warcFixtureDir())
        .filter(col("file").endsWith(".warc.gz"))
        .filter(col("warc_type") === "response" && col("http_status") === 200
          && col("http_content_type").contains("text/html"))
        .select(col("target_uri"),
          H.decodeBody(col("payload"), col("http_content_type")).as("html"))
      pages
        .select(col("target_uri"),
          explode(graft.functions.HtmlFunctions.extractLinks(col("html"))).as("l"))
        .select(col("target_uri"), col("l.href").as("href"),
          graft.functions.UrlFunctions
            .resolveUrl(col("target_uri"), col("l.href")).as("resolved"),
          col("l.anchor").as("anchor"))
        .orderBy(col("target_uri"), col("href"))
    },
      // q194's oracle: the independent python replay's rows pinned as
      // literals (scripts/gen_warc_fixture.py q194_rows — own extraction
      // regexes, urllib.parse.urljoin resolution, fragments stripped)
      Some("""WITH v(target_uri, href, resolved, anchor) AS (VALUES
        |  ('http://MIRROR.example:80/page-a-variant/', '/', 'http://MIRROR.example:80/', 'Home'),
        |  ('http://MIRROR.example:80/page-a-variant/', '/about', 'http://MIRROR.example:80/about', 'About the site'),
        |  ('http://MIRROR.example:80/page-a-variant/', '/privacy', 'http://MIRROR.example:80/privacy', 'Privacy'),
        |  ('http://MIRROR.example:80/page-a-variant/', '/terms', 'http://MIRROR.example:80/terms', 'Terms'),
        |  ('http://fixture.example/chunked', 'a', 'http://fixture.example/a', 'one'),
        |  ('http://fixture.example/chunked', 'b', 'http://fixture.example/b', 'two'),
        |  ('http://fixture.example/chunked', 'c', 'http://fixture.example/c', 'three'),
        |  ('http://fixture.example/gzipped', '/', 'http://fixture.example/', 'Home'),
        |  ('http://fixture.example/gzipped', '/about', 'http://fixture.example/about', 'About the site'),
        |  ('http://fixture.example/gzipped', '/privacy', 'http://fixture.example/privacy', 'Privacy'),
        |  ('http://fixture.example/gzipped', '/terms', 'http://fixture.example/terms', 'Terms'),
        |  ('http://fixture.example/page-a', '/', 'http://fixture.example/', 'Home'),
        |  ('http://fixture.example/page-a', '/about', 'http://fixture.example/about', 'About the site'),
        |  ('http://fixture.example/page-a', '/privacy', 'http://fixture.example/privacy', 'Privacy'),
        |  ('http://fixture.example/page-a', '/terms', 'http://fixture.example/terms', 'Terms'),
        |  ('http://fixture.example/page-b', 'a', 'http://fixture.example/a', 'one'),
        |  ('http://fixture.example/page-b', 'b', 'http://fixture.example/b', 'two'),
        |  ('http://fixture.example/page-b', 'c', 'http://fixture.example/c', 'three'),
        |  ('http://mirror.example/page-d?b=2&a=1#sec', '/terms', 'http://mirror.example/terms', 'Terms'))
        |SELECT target_uri, href, resolved, anchor FROM v
        |ORDER BY target_uri, href""".stripMargin)),
    // ---- PageRank (crawl prioritization): 8 power iterations with
    // dangling-mass redistribution over a deterministic doc_id link graph
    // (every 7th vertex dangling, 1–3 arithmetic out-links, self-loops
    // dropped, parallel edges vote twice). The oracle replays all 8
    // rounds unrolled; mrank = rank × 1000 so round(…, 6) keeps ~6
    // significant digits at any SF ---------------------------------------
    // ---- the crawl LIFECYCLE closed in one query: q197 plans a fetch,
    // q170/q175 process fetches — this composes them. Discovery (archive
    // addresses ∪ out-links of fetched pages, canonicalized) → robots
    // gate (graftbot policy over both fixture hosts; /privacy and
    // $-anchored /terms rules provably bite) → per-host cap → Crawl-delay
    // schedule = the PLAN; joined against the .warc.gz archive as the
    // FETCH RESULTS; the fetched HTML subset runs gate → exact dedup →
    // near dedup → token shards = the CORPUS. One row per planned URL:
    // outcome ∈ miss/error/skip/thin/dup/near/kept (+ shard for kept).
    // Oracle = the python generator's independent replay of the whole
    // composition (gen_warc_fixture.q198_rows: own robots matcher, own
    // urljoin resolution, own minhash/union-find/shard arithmetic).
    // Reference anchor: the dispatch→download→publish chain,
    // tasks.py:135–240 + controller.py:318–365 -----------------------------
    QuerySpec("q198_crawl_lifecycle", (s, _) => {
      val R = graft.functions.RobotsFunctions
      val U = graft.functions.UrlFunctions
      val H = graft.functions.HtmlFunctions
      val Smp = graft.functions.SamplingFunctions
      // staged once: BOTH the response plane and the out-link plane read
      // this cut — unmaterialized, each branch re-ran the gunzip+parse of
      // the whole archive (r19; the checkpoint carries only the columns
      // the two branches need)
      val warc = graft.sources.Warc.readWarc(s, warcFixtureDir())
        .filter(col("file").endsWith(".warc.gz") && col("warc_type") === "response")
        .select(col("record_index"), col("target_uri"), col("http_status"),
          col("http_content_type"), col("payload"))
        .localCheckpoint(true)
      val responses = warc
        .select(col("record_index").cast("long").as("rid"),
          U.canonicalizeUrl(col("target_uri")).as("url"),
          col("http_status"), col("http_content_type"),
          col("payload"))
        // ONE record per canonical URL before the plan join: the python
        // replay's by_canon dict keeps the LAST archive record per
        // canonical address, and two records canonicalizing to the same
        // URL would otherwise fan plan rows out. Keep-max-rid = last in
        // record order; a left_semi on the per-URL max, same shape as the
        // exact-dedup keeper step below.
        .withColumn("__maxrid",
          max(col("rid")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("url"))))
        .filter(col("rid") === col("__maxrid")).drop("__maxrid")
        .localCheckpoint(true) // the archive is staged once; plan, join and
                               // corpus all read this cut, never the raw scan
      val links = warc
        .filter(col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(col("target_uri"),
          H.decodeBody(col("payload"), col("http_content_type")).as("html"))
        .select(col("target_uri"), explode(H.extractLinks(col("html"))).as("l"))
        .select(U.canonicalizeUrl(
          U.resolveUrl(col("target_uri"), col("l.href"))).as("url"))
      val discovered = responses.select(col("url")).unionByName(links).distinct()
      val robots = lifecycleRobotsFixture(s)
      val rules = R.robotsRules(robots, "host", "body", "graftbot")
      val delays = R.robotsCrawlDelay(robots, "host", "body", "graftbot")
      val fetchable = R.filterByRobots(discovered, rules, "url")
        .withColumn("h", U.urlHost(col("url")))
      // h carried through the cap: the schedule window reuses the cap
      // window's exchange and sort (r19)
      val plan = R.scheduleFrontier(
        Smp.capPerGroup(fetchable, col("h"), col("url"), 25),
        delays, "url", defaultDelay = 1.0, hostCol = Some("h"))
        .drop("h")
      // cut after the plan × fetch join: both downstream reads (HTML gate,
      // final classify) would otherwise re-run the robots decision fold
      // and the two schedule windows — measured 1.4x wall without the cut
      val joined = plan.join(responses, Seq("url"), "left")
        .localCheckpoint(true)
      val html = joined
        .filter(col("rid").isNotNull && col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        // charset-aware decode (identity on this all-ASCII fixture; the
        // q202 battery pins the legacy-charset behavior)
        .withColumn("mt", H.mainText(
          H.decodeBody(col("payload"), col("http_content_type"))))
        .filter(length(col("mt")) >= 40)
        .select(col("url"), col("rid"), col("mt"))
        .localCheckpoint(true)
      val keepers = html.join(
        html.groupBy(col("mt")).agg(min(col("rid")).as("rid")),
        Seq("mt", "rid"), "left_semi")
      val kept = graft.functions.DedupFunctions.dedupNear(keepers, "mt", "rid",
          n = 3, bands = 4, rowsPerBand = 2, jaccardThreshold = 0.6)
        .withColumn("tokens",
          graft.functions.TextFunctions.tokenCount(col("mt")).cast("long"))
      val sharded = Smp.shardByTokenBudget(kept, col("rid"), col("tokens"),
        "lifecycle", 30L)
      joined
        .join(html.select(col("url"), lit(true).as("gated")), Seq("url"), "left")
        .join(keepers.select(col("url"), lit(true).as("keeper")), Seq("url"), "left")
        .join(sharded.select(col("url"), col("shard")), Seq("url"), "left")
        .select(col("url"), r2(col("fetch_at")).as("fetch_at"),
          when(col("rid").isNull, "miss")
            .when(col("http_status") =!= 200, "error")
            .when(!col("http_content_type").startsWith("text/html"), "skip")
            .when(col("gated").isNull, "thin")
            .when(col("keeper").isNull, "dup")
            .when(col("shard").isNull, "near")
            .otherwise("kept").as("outcome"),
          col("shard"))
        .orderBy(col("url"))
    },
      // q198's oracle: the python generator's independent replay of the
      // whole lifecycle pinned as literals (gen_warc_fixture.q198_rows —
      // own robots matcher over the same policy literals, urljoin link
      // resolution, own canonicalization, minhash/union-find/shard
      // arithmetic). 27 planned URLs; /privacy on fixture.example and the
      // $-anchored /terms on mirror.example are provably ABSENT
      Some("""WITH v(url, fetch_at, outcome, shard) AS (VALUES
        |  ('http://fixture.example/', 26.0, 'miss', CAST(NULL AS BIGINT)),
        |  ('http://fixture.example/a', 28.0, 'miss', NULL),
        |  ('http://fixture.example/about', 20.0, 'miss', NULL),
        |  ('http://fixture.example/b', 4.0, 'miss', NULL),
        |  ('http://fixture.example/both', 10.0, 'dup', NULL),
        |  ('http://fixture.example/c', 34.0, 'miss', NULL),
        |  ('http://fixture.example/chunked', 2.0, 'dup', NULL),
        |  ('http://fixture.example/clip-a.mp4', 18.0, 'skip', NULL),
        |  ('http://fixture.example/clip-b.mp4', 12.0, 'skip', NULL),
        |  ('http://fixture.example/gzipped', 24.0, 'dup', NULL),
        |  ('http://fixture.example/img-a.png', 22.0, 'skip', NULL),
        |  ('http://fixture.example/img-b.png', 32.0, 'skip', NULL),
        |  ('http://fixture.example/missing', 6.0, 'error', NULL),
        |  ('http://fixture.example/page-a', 0.0, 'kept', 2),
        |  ('http://fixture.example/page-b', 30.0, 'kept', 1),
        |  ('http://fixture.example/page-c', 8.0, 'kept', 0),
        |  ('http://fixture.example/robots.txt', 16.0, 'skip', NULL),
        |  ('http://fixture.example/terms', 14.0, 'miss', NULL),
        |  ('http://fixture.example/tone-a.wav', 36.0, 'skip', NULL),
        |  ('http://mirror.example/', 1.0, 'miss', NULL),
        |  ('http://mirror.example/about', 4.0, 'miss', NULL),
        |  ('http://mirror.example/clip-a-copy.mp4', 7.0, 'skip', NULL),
        |  ('http://mirror.example/img-a-copy.png', 6.0, 'skip', NULL),
        |  ('http://mirror.example/page-a-variant', 5.0, 'near', NULL),
        |  ('http://mirror.example/page-d?a=1&b=2', 3.0, 'kept', 0),
        |  ('http://mirror.example/privacy', 0.0, 'miss', NULL),
        |  ('http://mirror.example/tone-a-gain.wav', 2.0, 'skip', NULL))
        |SELECT url, fetch_at, outcome, shard FROM v ORDER BY url""".stripMargin)),
    // ---- registered domain at FULL public-suffix-list width: a 12-way
    // deterministic host battery (synthetic exact2/exact3 hits, wildcard
    // suffixes, exception-vs-wildcard discrimination, curated co.uk /
    // k12.ca.us / kawasaki.jp city exceptions, suffix-itself, IP,
    // single-label, unlisted-TLD default) resolved by the per-depth
    // BROADCAST-JOIN geometry over 9,360 rules — the form the literal
    // arrays can't carry (SCALE.md r17, full-PSL geometry: the plan-width cliff).
    // The oracle regenerates the same rule set with generate_series and
    // replays the PSL precedence relationally -----------------------------
    QuerySpec("q200_psl_full", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val m = pmod(col("doc_id"), lit(8000))
      val j = pmod(col("doc_id"), lit(400))
      val j3 = pmod(col("doc_id"), lit(800))
      val c = pmod(col("doc_id"), lit(12))
      val host = when(c === 0, concat(lit("a.b.s"), m, lit(".t"), pmod(m, lit(97))))
        .when(c === 1, concat(lit("a.b.w"), j))
        .when(c === 2, concat(lit("a.ok.w"), j))
        .when(c === 3, concat(lit("ex"), col("doc_id"), lit(".com")))
        .when(c === 4, concat(lit("deep.sub.ex"), col("doc_id"), lit(".co.uk")))
        .when(c === 5, concat(lit("s"), m, lit(".t"), pmod(m, lit(97))))
        .when(c === 6, lit("192.168.0.1"))
        .when(c === 7, lit("localhost"))
        .when(c === 8, lit("b.city.kawasaki.jp"))
        .when(c === 9, lit("x.y.kawasaki.jp"))
        .when(c === 10, concat(lit("a"), col("doc_id"), lit(".k12.ca.us")))
        .otherwise(concat(lit("u"), j3, lit(".s"), pmod(j3, lit(40)),
          lit(".t"), pmod(j3, lit(97))))
      val urls = docs.select(col("doc_id"),
        concat(lit("http://"), host, lit("/p")).as("url"))
      graft.functions.UrlFunctions
        .registeredDomainJoined(urls, "url", fullPslRules, "regdom")
        .orderBy(col("doc_id"))
    },
      // q200's oracle regenerates the synthetic rule set from the same
      // arithmetic formulas (generate_series — no 9k-line literal), takes
      // the curated bundle as VALUES, and replays the PSL precedence
      // relationally: per-depth suffix candidates, exceptions prevail at
      // max depth, else max effective suffix length (wildcards = base+1),
      // else the default rule; IP / single-label / suffix-itself guards
      Some {
        val curated = graft.functions.UrlFunctions.BundledPslRules
          .map(r => s"('$r')").mkString(", ")
        s"""WITH crules(rule) AS (VALUES $curated),
           |srules AS (
           |  SELECT 's' || i || '.t' || (i % 97) AS rule FROM generate_series(0, 7999) t(i)
           |  UNION ALL SELECT 'u' || i || '.s' || (i % 40) || '.t' || (i % 97) FROM generate_series(0, 799) t(i)
           |  UNION ALL SELECT '*.w' || i FROM generate_series(0, 399) t(i)
           |  UNION ALL SELECT '!ok.w' || i FROM generate_series(0, 399) t(i) WHERE i % 5 = 0),
           |rules AS (SELECT rule FROM crules UNION ALL SELECT rule FROM srules),
           |parsed AS (SELECT
           |    CASE WHEN rule LIKE '!%' THEN 'e' WHEN rule LIKE '*.%' THEN 'w' ELSE 'x' END AS kind,
           |    CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
           |         WHEN rule LIKE '*.%' THEN substr(rule, 3) ELSE rule END AS sfx
           |  FROM rules),
           |r2 AS (SELECT kind, sfx, len(string_split(sfx, '.')) AS k FROM parsed),
           |hosts AS (SELECT doc_id,
           |    CASE CAST(doc_id % 12 AS INT)
           |      WHEN 0 THEN 'a.b.s' || (doc_id % 8000) || '.t' || ((doc_id % 8000) % 97)
           |      WHEN 1 THEN 'a.b.w' || (doc_id % 400)
           |      WHEN 2 THEN 'a.ok.w' || (doc_id % 400)
           |      WHEN 3 THEN 'ex' || doc_id || '.com'
           |      WHEN 4 THEN 'deep.sub.ex' || doc_id || '.co.uk'
           |      WHEN 5 THEN 's' || (doc_id % 8000) || '.t' || ((doc_id % 8000) % 97)
           |      WHEN 6 THEN '192.168.0.1'
           |      WHEN 7 THEN 'localhost'
           |      WHEN 8 THEN 'b.city.kawasaki.jp'
           |      WHEN 9 THEN 'x.y.kawasaki.jp'
           |      WHEN 10 THEN 'a' || doc_id || '.k12.ca.us'
           |      ELSE 'u' || (doc_id % 800) || '.s' || ((doc_id % 800) % 40) || '.t' || ((doc_id % 800) % 97)
           |    END AS host
           |  FROM documents),
           |hl AS (SELECT doc_id, host, string_split(host, '.') AS ls,
           |    len(string_split(host, '.')) AS n,
           |    (regexp_matches(host, '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$$') OR host LIKE '[%') AS isip
           |  FROM hosts),
           |cand AS (SELECT doc_id, k,
           |    array_to_string(ls[n - k + 1 : n], '.') AS sfx
           |  FROM hl, generate_series(1, 3) t(k) WHERE k <= n),
           |m AS (SELECT c.doc_id, r.kind, c.k
           |  FROM cand c JOIN r2 r ON r.sfx = c.sfx AND r.k = c.k),
           |excm AS (SELECT doc_id, max(k) AS ke FROM m WHERE kind = 'e' GROUP BY doc_id),
           |sufm AS (SELECT doc_id, max(CASE WHEN kind = 'w' THEN k + 1 ELSE k END) AS s
           |  FROM m WHERE kind <> 'e' GROUP BY doc_id),
           |dec AS (SELECT h.doc_id, h.host,
           |    CASE WHEN h.isip OR h.n <= 1 THEN h.host
           |         WHEN e.ke IS NOT NULL THEN array_to_string(h.ls[h.n - e.ke + 1 : h.n], '.')
           |         WHEN s.s IS NOT NULL THEN
           |           CASE WHEN h.n >= s.s + 1 THEN array_to_string(h.ls[h.n - s.s : h.n], '.')
           |                ELSE h.host END
           |         ELSE array_to_string(h.ls[h.n - 1 : h.n], '.') END AS regdom
           |  FROM hl h LEFT JOIN excm e USING (doc_id) LEFT JOIN sufm s USING (doc_id))
           |SELECT doc_id, 'http://' || host || '/p' AS url, regdom
           |FROM dec ORDER BY doc_id""".stripMargin
      }),
    // ---- charset-aware body decode: the dedicated WARC battery whose
    // bodies are NOT all UTF-8 (ISO-8859-1 accents, Windows-1252 curly
    // quotes in the 0x80–0x9F gap, GBK, an http-equiv meta sniff, a
    // bogus charset falling back, plain UTF-8, and an UNDECLARED
    // Windows-1252 page only the valid-UTF-8→cp1252 heuristic can
    // decode — the WET-extractor convention). The oracle rows are
    // literal VALUES from the INDEPENDENT python decode replay
    // (scripts/gen_charset_fixture.py), which ASSERTS that a naive
    // cast("string") decode yields a DIFFERENT main-text md5 on every
    // legacy-charset record — these hashes are only reachable through
    // correct charset resolution --------------------------------------
    QuerySpec("q202_charset_decode", (s, _) => {
      val H = graft.functions.HtmlFunctions
      graft.sources.Warc.readWarc(s, charsetWarcDir())
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .withColumn("mt", H.mainText(
          H.decodeBody(col("payload"), col("http_content_type"))))
        .select(col("target_uri").as("url"),
          H.bodyCharset(col("payload"), col("http_content_type")).as("cs"),
          md5(col("mt").cast("binary")).as("mt_md5"),
          length(col("mt")).cast("long").as("n_chars"))
        .orderBy(col("url"))
    },
      // q202's oracle: literal VALUES from the independent python decode
      // replay (scripts/gen_charset_fixture.py) — resolved charset name,
      // main-text md5 and char count per record; the generator asserts
      // these md5s are UNREACHABLE under a naive UTF-8 decode for every
      // legacy-charset record, so a hash match proves charset resolution
      Some("""SELECT * FROM (VALUES
        |  ('http://charset.example/iso', 'ISO-8859-1', 'cf1c2f526863cd849b38d846890653eb', CAST(174 AS BIGINT)),
        |  ('http://charset.example/win1252', 'windows-1252', '16ee0637097f1811caf5a0fe64ba58d2', CAST(222 AS BIGINT)),
        |  ('http://charset.example/meta-utf8', 'UTF-8', '4c69809aab130cc612b782f9c386f017', CAST(124 AS BIGINT)),
        |  ('http://charset.example/sniff1252', 'windows-1252', 'a04c48948953287154a318d2a3bf8a31', CAST(116 AS BIGINT)),
        |  ('http://charset.example/plain-utf8', 'UTF-8', '9febace1e10e47d51ebc3ef361dd957b', CAST(137 AS BIGINT)),
        |  ('http://charset.example/bogus', 'UTF-8', 'f06d540b859c6f37bfb6646cc4f37567', CAST(134 AS BIGINT)),
        |  ('http://charset.example/gbk', 'GBK', '5bb5b6e420132c10d10c1a3e32eef7bb', CAST(34 AS BIGINT)),
        |  ('http://charset.example/undeclared1252', 'windows-1252', 'd13be9eeb4e96f617cda4f043c685974', CAST(192 AS BIGINT))
        |) AS t(url, cs, mt_md5, n_chars) ORDER BY url""".stripMargin)),
    // ---- registered-domain extraction against the REAL public suffix
    // list (UrlFunctions.vendoredPslRules — the verbatim publicsuffix.org
    // snapshot from the Debian `publicsuffix` package, 9,506 rules,
    // ICANN + PRIVATE sections), through the broadcast-join geometry
    // built for full width (registeredDomainJoined, SCALE.md r17). The
    // battery exercises every precedence branch on REAL rules: exact
    // 2–5-label suffixes, *.ck / *.kawasaki.jp / *.compute.amazonaws.com
    // wildcards, !www.ck / !city.kawasaki.jp exceptions, PRIVATE-section
    // rules (blogspot.com, s3.amazonaws.com), a U-label IDN rule
    // (公司.cn), the default '*' rule, IP / single-label / suffix-itself
    // pass-throughs. Oracle rows are literal VALUES from the INDEPENDENT
    // python PSL replay (scripts/gen_psl_oracle.py), which asserts that
    // on 16 of the 28 rows the naive last-2-labels fallback yields a
    // DIFFERENT answer — a hash match proves real rule resolution ------
    QuerySpec("q208_psl_vendored", (s, _) => {
      import s.implicits._
      val hosts = Seq(
        "example.com", "www.example.com", "deep.a.b.example.com",
        "example.co.uk", "www.example.co.uk",
        "b.test.ck", "a.b.test.ck", "www.ck", "www.www.ck", "test.ck",
        "www.city.kawasaki.jp", "a.b.kawasaki.jp", "kawasaki.jp",
        "myblog.blogspot.com", "www.myblog.blogspot.com",
        "bucket.s3.amazonaws.com", "s3.amazonaws.com",
        "x.y.eu-west-1.compute.amazonaws.com",
        "host.pvt.k12.ma.us", "sub.host.pvt.k12.ma.us",
        "b.s3.cn-north-1.amazonaws.com.cn", "c.b.s3.cn-north-1.amazonaws.com.cn",
        "example.公司.cn", "example.unknowntld", "a.example.unknowntld",
        "192.168.0.1", "localhost", "a.schools.nsw.edu.au")
      val urls = hosts.map(h => s"http://$h/x").toDF("url")
      graft.functions.UrlFunctions
        .registeredDomainJoined(urls, "url",
          graft.functions.UrlFunctions.vendoredPslRules, "regdom")
        .orderBy(col("url"))
    },
      // q208's oracle: literal VALUES from the independent python PSL
      // replay (scripts/gen_psl_oracle.py) over the SAME vendored
      // publicsuffix.org snapshot — the generator implements the PSL
      // algorithm from the spec and asserts the naive last-2-labels
      // heuristic DIFFERS on 16 of the 28 rows
      Some("""SELECT * FROM (VALUES
        |  ('http://example.com/x', 'example.com'),
        |  ('http://www.example.com/x', 'example.com'),
        |  ('http://deep.a.b.example.com/x', 'example.com'),
        |  ('http://example.co.uk/x', 'example.co.uk'),
        |  ('http://www.example.co.uk/x', 'example.co.uk'),
        |  ('http://b.test.ck/x', 'b.test.ck'),
        |  ('http://a.b.test.ck/x', 'b.test.ck'),
        |  ('http://www.ck/x', 'www.ck'),
        |  ('http://www.www.ck/x', 'www.ck'),
        |  ('http://test.ck/x', 'test.ck'),
        |  ('http://www.city.kawasaki.jp/x', 'city.kawasaki.jp'),
        |  ('http://a.b.kawasaki.jp/x', 'a.b.kawasaki.jp'),
        |  ('http://kawasaki.jp/x', 'kawasaki.jp'),
        |  ('http://myblog.blogspot.com/x', 'myblog.blogspot.com'),
        |  ('http://www.myblog.blogspot.com/x', 'myblog.blogspot.com'),
        |  ('http://bucket.s3.amazonaws.com/x', 'bucket.s3.amazonaws.com'),
        |  ('http://s3.amazonaws.com/x', 's3.amazonaws.com'),
        |  ('http://x.y.eu-west-1.compute.amazonaws.com/x', 'y.eu-west-1.compute.amazonaws.com'),
        |  ('http://host.pvt.k12.ma.us/x', 'host.pvt.k12.ma.us'),
        |  ('http://sub.host.pvt.k12.ma.us/x', 'host.pvt.k12.ma.us'),
        |  ('http://b.s3.cn-north-1.amazonaws.com.cn/x', 'b.s3.cn-north-1.amazonaws.com.cn'),
        |  ('http://c.b.s3.cn-north-1.amazonaws.com.cn/x', 'b.s3.cn-north-1.amazonaws.com.cn'),
        |  ('http://example.公司.cn/x', 'example.公司.cn'),
        |  ('http://example.unknowntld/x', 'example.unknowntld'),
        |  ('http://a.example.unknowntld/x', 'example.unknowntld'),
        |  ('http://192.168.0.1/x', '192.168.0.1'),
        |  ('http://localhost/x', 'localhost'),
        |  ('http://a.schools.nsw.edu.au/x', 'a.schools.nsw.edu.au')
        |) AS t(url, regdom) ORDER BY url""".stripMargin))
  )
}
