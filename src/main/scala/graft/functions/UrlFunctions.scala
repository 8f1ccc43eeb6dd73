package graft.functions

import graft.expr.{CanonicalizeUrlExpr, ResolveUrlExpr, UrlHostExpr, UrlMatchTargetExpr}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** URL canonicalization, resolution and registered-domain extraction for
  * the crawl front door. `canonicalizeUrl`, `resolveUrl`, `urlHost` and
  * `urlMatchTarget` are each ONE native Catalyst expression
  * ([[graft.expr.UrlText]]: plain string routines, no parsing library),
  * registered for SQL as `canonicalize_url`, `resolve_url`, `url_host`
  * and `url_match_target`. As `regexp_*`/`when`/`transform` Column
  * chains they read the input several times, so nesting multiplies the
  * tree (`canonicalizeUrl(resolveUrl(…))` is 32k nodes); those chains are
  * the executable reference in UrlFunctionsSpec (`UrlColumnReference`),
  * property-tested against the native forms.
  *
  * Role anchor: the reference normalizes asset paths through one shared
  * grammar before publishing or comparing them
  * (bdc_collection_builder/celery/publish.py:131–156 — strip the
  * configured prefix, re-root, compare in canonical form); a web-crawl
  * catalog needs the same discipline on URLs, where the equivalences are
  * case (scheme/host), default ports, fragments, trailing slashes,
  * query-parameter order, and percent-escape spelling. Without it,
  * `HTTP://X.com:80/a?b=1&a=2#f` and `http://x.com/a?a=2&b=1` count as
  * two documents and defeat per-domain caps and URL-keyed dedup.
  *
  * The CONTRACT (replayed by the DuckDB oracle with ITS string ops):
  *  - scheme and host lowercase; userinfo (`user:pw@`) dropped;
  *  - bracketed IPv6 authorities parse as `[literal]` + optional port
  *    (the literal lowercases with the host; brackets are kept);
  *  - default ports removed (http:80, https:443); other ports kept;
  *  - fragment dropped;
  *  - path: empty → `/`; trailing slashes dropped from non-root paths
  *    (`/a/b//` → `/a/b`, a fixed point — canonicalizing twice changes
  *    nothing); dot-segments are NOT rewritten (resolving `..` belongs
  *    to a fetcher, not a dedup key);
  *  - percent-escapes in path and query normalize per RFC 3986 §2.3/§6.2.2:
  *    escapes of unreserved bytes decode (`%7E` → `~`, `%41` → `A`),
  *    all other escapes uppercase their hex (`%c3%a9` → `%C3%A9`);
  *    malformed escapes (`%zz`, a trailing `%`) pass through verbatim.
  *    Reserved bytes (`%2F`, `%26`, `%3D`…) are never decoded, so path
  *    and query STRUCTURE is decided before normalization and cannot
  *    change under it — the normalization is a fixed point;
  *  - query: parameters sorted bytewise by their full `k=v` text (after
  *    escape normalization), empty parameters (from `&&` or a trailing
  *    `&`) dropped, an empty query string drops its `?`. Duplicate keys
  *    keep all occurrences (sorted), preserving semantics for
  *    `a=1&a=2`-style params.
  *
  * Registered domain: the public-suffix-list ALGORITHM over a bundled
  * rule subset — exception rules prevail (the rule itself is the
  * registrable domain: `foo.www.ck` → `www.ck`), else the longest
  * matching rule wins among wildcard rules (`*.ck`: any single label
  * under the base extends the suffix: `a.foo.ck` → `a.foo.ck` is
  * suffix+1 = registrable... i.e. `x.a.foo.ck` → `a.foo.ck`) and exact
  * multi-label rules (`co.uk`, `k12.ca.us`), else the default `*` rule
  * (suffix = last label). Hosts that ARE a public suffix, IPv4/IPv6
  * literals, and single-label hosts return unchanged. Two geometries, one
  * algorithm: curated subsets ride the plan as broadcast-free literal
  * arrays ([[registeredDomainFromRules]] — a few hundred bytes, no join);
  * the FULL ~10k-rule PSL moves to per-depth broadcast lookup joins
  * ([[registeredDomainJoined]]), because literal arrays at that width put
  * hundreds of KB into every referencing plan (measured: SCALE.md r17, full-PSL geometry).
  */
object UrlFunctions {

  /** High-traffic two-label EXACT public-suffix rules (public-suffix-list
    * subset; the full list swaps in the same way — a bigger array). */
  val TwoLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gov.in", "ac.in",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "co.kr", "or.kr", "ac.kr", "go.kr",
    "com.mx", "org.mx", "gob.mx",
    "co.za", "org.za", "gov.za",
    "com.ar", "com.tr", "com.tw", "com.sg", "com.hk", "com.my",
    "co.nz", "org.nz", "govt.nz",
    "co.id", "or.id", "ac.id", "go.id",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke",
    "com.ng", "org.ng", "gov.ng", "edu.ng", "net.ng")

  /** Three-label EXACT rules (US locality-style PSL entries). */
  val ThreeLevelSuffixes: Seq[String] = Seq(
    "k12.ak.us", "k12.al.us", "k12.ca.us", "k12.ny.us", "k12.tx.us",
    "cc.ak.us", "cc.ca.us", "lib.ak.us", "lib.ca.us")

  /** Wildcard rule bases: `*.base` — every single label directly under
    * the base is itself a public suffix. One-label and two-label bases. */
  val WildcardBases1: Seq[String] = Seq("ck", "er", "fk", "gu", "mm", "np", "pg")
  val WildcardBases2: Seq[String] = Seq(
    "kawasaki.jp", "kitakyushu.jp", "kobe.jp", "nagoya.jp",
    "sapporo.jp", "sendai.jp", "yokohama.jp")

  /** Exception rules (`!rule` in the PSL): the rule itself is the
    * registrable domain, prevailing over any wildcard that covers it. */
  val Exceptions2: Seq[String] = Seq("www.ck")
  val Exceptions3: Seq[String] = Seq(
    "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
    "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp",
    "city.yokohama.jp")

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ColumnBridge.column(e)
  private def expr(c: Column) = ColumnBridge.expression(c)

  /** Lowercased host (no port, no userinfo) of a URL column; bracketed
    * IPv6 literals come back whole (`[2001:db8::1]`). */
  def urlHost(url: Column): Column = native(UrlHostExpr(expr(url)))

  /** RFC 3986 §5 relative-reference resolution for http(s) crawl graphs —
    * `resolveUrl(base, ref)` turns an in-page href into the absolute URL
    * a crawler would fetch. Matches python's `urljoin` (the oracle's
    * independent replay) on: absolute refs returned VERBATIM (no dot
    * normalization, §5.3's parse of a full URI); `//authority` refs
    * adopting the base scheme; absolute paths; query-only refs; empty
    * refs = the base; relative paths merged against the base directory
    * with remove-dot-segments (§5.2.4, bounded to 8 nesting rounds —
    * deeper ../ chains than 8 do not occur in real pages); the base
    * SCHEME lowercased on merge (urljoin semantics; host case kept).
    * One deliberate divergence: FRAGMENTS are stripped from the result —
    * a fetch target has no fragment (the replay strips after urljoin).
    * A null ref gives null; an absolute ref resolves even against a null
    * base. */
  def resolveUrl(base: Column, ref: Column): Column =
    native(ResolveUrlExpr(expr(base), expr(ref)))

  /** REP (RFC 9309 §2.2.2) match target of a URL: the URI path ('/' when
    * empty) plus '?query' when a non-empty query is present — the string
    * robots.txt Allow/Disallow patterns are matched against. Path case is
    * preserved (REP rule matching is case-sensitive); a bare trailing '?'
    * with no query is dropped, consistent with [[canonicalizeUrl]]. */
  def urlMatchTarget(url: Column): Column = native(UrlMatchTargetExpr(expr(url)))

  /** Canonical URL under the contract above. Non-URL strings (no
    * `scheme://`) come back trimmed-and-defragmented only — a salvage
    * identity, never a null that silently drops crawl rows. */
  def canonicalizeUrl(url: Column): Column = native(CanonicalizeUrlExpr(expr(url)))

  /** Registered (registrable) domain of a URL column under the bundled
    * PSL rule subset and the PSL algorithm: exception rules prevail
    * (`foo.www.ck` → `www.ck`), else the longest matching rule
    * (wildcards count base+1 labels: `x.y.kawasaki.jp` →
    * `x.y.kawasaki.jp`, `a.x.y.kawasaki.jp` → `x.y.kawasaki.jp`;
    * exacts: `a.b.co.uk` → `b.co.uk`, `s.district.k12.ca.us` →
    * `district.k12.ca.us`), else the default `*` rule
    * (`x.y.example.com` → `example.com`). Hosts that are themselves a
    * public suffix, IPv4/IPv6 literals, and single-label hosts return
    * unchanged. */
  def registeredDomain(url: Column): Column =
    registeredDomainFromRules(url, BundledPslRules)

  /** Load public-suffix rules from a file in PSL syntax — the ingestion
    * path a VENDORED `public_suffix_list.dat` snapshot drops into the
    * moment one is available ([[registeredDomainJoined]] takes the
    * result directly). Per the PSL format spec: a rule is the portion of
    * each line BEFORE the first whitespace (trailing annotations drop);
    * `//` comment lines — including the `===BEGIN/END ICANN DOMAINS===`
    * section markers, which live inside comments — and blank lines are
    * skipped; everything else (punycode `xn--` labels, raw Unicode
    * labels, wildcards, exceptions) passes through AS-IS for
    * [[parsePslRules]] to classify.
    *
    * Status note: the REAL publicsuffix.org snapshot is vendored at
    * [[vendoredPslRules]] (r19 — sourced from the Debian `publicsuffix`
    * package already on this zero-egress host); [[BundledPslRules]]
    * remains the small curated set for plan-geometry comparisons. Use
    * this function when the rules live outside the jar (a newer
    * snapshot on HDFS/S3).
    *
    * Driver-side read by design: the PSL is a ~240 KB static artifact
    * (bounded by the list's governance), and the rules become broadcast
    * lookup tables anyway; `spark.read.textFile` keeps every Hadoop
    * filesystem scheme usable. */
  def loadPslRules(spark: org.apache.spark.sql.SparkSession,
                   path: String): Seq[String] =
    spark.read.textFile(path).collect().toSeq
      .map(l => l.trim.split("\\s+", 2)(0))
      .filter(r => r.nonEmpty && !r.startsWith("//"))

  /** The REAL public suffix list, vendored: the verbatim
    * publicsuffix.org `public_suffix_list.dat` snapshot as packaged by
    * Debian (`publicsuffix 20230209.2326-1`,
    * /usr/share/publicsuffix/public_suffix_list.dat; Mozilla Public
    * License 2.0 — see the file's own header) at
    * `graft/psl/public_suffix_list.dat` on the classpath. 9,506 rules,
    * ICANN + PRIVATE sections, exact/wildcard/exception forms, rule
    * depths 1–5, punycode and U-label IDN entries — the list
    * [[registeredDomainJoined]] was built for (per-depth broadcast
    * lookups, plan flat at ~5 KB regardless of width; SCALE.md r17).
    * Refresh by overwriting the resource with a newer snapshot — the
    * parse accepts the raw file verbatim, like [[loadPslRules]]. */
  lazy val vendoredPslRules: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/psl/public_suffix_list.dat")
    require(in != null, "vendored PSL resource missing from classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines()
      .map(l => l.trim.split("\\s+", 2)(0))
      .filter(r => r.nonEmpty && !r.startsWith("//"))
      .toList
    finally src.close()
  }

  /** The bundled rule subset in PSL file syntax — one instance of what
    * [[registeredDomainFromRules]] accepts; the REAL public suffix list
    * is vendored at [[vendoredPslRules]] and swaps in verbatim. */
  val BundledPslRules: Seq[String] =
    TwoLevelSuffixes ++ ThreeLevelSuffixes ++
      WildcardBases1.map("*." + _) ++ WildcardBases2.map("*." + _) ++
      Exceptions2.map("!" + _) ++ Exceptions3.map("!" + _)

  /** PSL-file-syntax rule parse shared by the literal and the joined
    * forms: (exceptions, wildcard bases, exacts), each grouped by label
    * count; comment and blank lines dropped. */
  private def parsePslRules(rules: Seq[String])
      : (Map[Int, Seq[String]], Map[Int, Seq[String]], Map[Int, Seq[String]]) = {
    val clean = rules.map(_.trim.toLowerCase)
      .filter(r => r.nonEmpty && !r.startsWith("//"))
    def byLen(xs: Seq[String]): Map[Int, Seq[String]] =
      xs.groupBy(_.count(_ == '.') + 1)
    (byLen(clean.filter(_.startsWith("!")).map(_.drop(1))),
      byLen(clean.filter(_.startsWith("*.")).map(_.drop(2))),
      byLen(clean.filterNot(r => r.startsWith("!") || r.startsWith("*."))))
  }

  /** Registered domain under an ARBITRARY public-suffix rule list in PSL
    * file syntax: `rule` (exact), `*.base` (wildcard — every single label
    * under the base is a suffix), `!rule` (exception — the rule itself is
    * registrable, prevailing over any wildcard that covers it); comment
    * (`// …`) and blank lines are ignored, so the raw
    * public_suffix_list.dat feeds in directly. The PSL algorithm:
    * exceptions prevail, else the longest matching rule (wildcards count
    * base+1 labels), else the default `*` rule (suffix = last label).
    *
    * Still a no-join design at ANY list size: each distinct rule depth
    * compiles to one `isin` (OptimizeIn folds a literal In to an O(1)
    * InSet), so the full ~10k-rule PSL is a handful of hashed string
    * sets riding the plan — never a dimension join, never a UDF. */
  def registeredDomainFromRules(url: Column, rules: Seq[String]): Column = {
    val (exc, wild, exact) = parsePslRules(rules)

    val host = urlHost(url)
    val labels = split(host, "\\.")
    val n = size(labels)
    def lastK(k: Int): Column =
      if (k == 1) element_at(labels, -1)
      else concat_ws(".", (k to 1 by -1).map(i => element_at(labels, -i)): _*)
    val isIp = host.rlike("^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$") ||
      host.startsWith("[")
    // branch order = PSL precedence: exceptions (longest first), then
    // matching rules by EFFECTIVE suffix length descending (a wildcard of
    // base length k makes suffixes of k+1 labels), then the default '*'
    // rule. element_at negative indices stay behind n-guards (ANSI errors
    // on short arrays); `&&` and CASE branches both evaluate lazily.
    val start = when(isIp || n <= 1, host)
    val afterExc = exc.keys.toSeq.sorted.reverse.foldLeft(start) { (c, k) =>
      c.when(n >= k && lastK(k).isin(exc(k): _*), lastK(k))
    }
    val suffixLens = (wild.keys.map(_ + 1) ++ exact.keys).toSeq.distinct.sorted.reverse
    val chain = suffixLens.foldLeft(afterExc) { (c0, s) =>
      val c1 = wild.get(s - 1).fold(c0) { bases =>
        val guard = if (s - 1 >= 2) n >= (s - 1) && lastK(s - 1).isin(bases: _*)
                    else lastK(1).isin(bases: _*)
        c0.when(guard, when(n >= s + 1, lastK(s + 1)).otherwise(host))
      }
      exact.get(s).fold(c1) { sufs =>
        val guard = if (s >= 2) n >= s && lastK(s).isin(sufs: _*)
                    else lastK(1).isin(sufs: _*)
        c1.when(guard, when(n >= s + 1, lastK(s + 1)).otherwise(host))
      }
    }
    chain.otherwise(lastK(2))
  }

  /** [[registeredDomainFromRules]] at FULL-public-suffix-list width, as
    * per-depth broadcast lookup joins instead of literal arrays — the
    * scale-correct geometry once the rule list stops being a curated
    * subset. The literal form compiles every rule string into every plan
    * (and every codegen unit) that references the expression: measured at
    * ~9.3k rules (SCALE.md r17) that is hundreds of KB of plan per
    * query and a re-analysis cost on each composition. This form ships
    * the rules ONCE per depth as a broadcast hash relation — the plan
    * carries only the join, rule updates don't re-derive the expression
    * tree, and the URL stream still never shuffles (one broadcast join
    * per distinct rule depth, ≤ 5 for the real PSL).
    *
    * The broadcast hint here is CORRECT, unlike the crawl-state joins
    * that must not hint ([[RobotsFunctions.scheduleFrontier]]): the PSL
    * is a static artifact bounded at ~10⁴ rows by the list's governance,
    * not a per-host table that grows with the crawl.
    *
    * Decision semantics are IDENTICAL to the literal form (same parse,
    * same precedence chain, exceptions prevail, longest rule wins,
    * wildcards count base+1 labels, IP/single-label/suffix-itself hosts
    * pass through) — UrlFunctionsSpec pins equivalence on a fuzz battery
    * over both rule sets. Adds `outCol`; input columns untouched. */
  def registeredDomainJoined(df: DataFrame, urlCol: String,
                             rules: Seq[String],
                             outCol: String = "registered_domain"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"registeredDomainJoined adds `$outCol` and the input already has it — rename one")
    val (exc, wild, exact) = parsePslRules(rules)
    val spark = df.sparkSession
    import spark.implicits._
    val host = SamplingFunctions.tempCol(df, "__rd_host")
    def labels = split(col(host), "\\.")
    def n = size(labels)
    def lastK(k: Int): Column =
      if (k == 1) element_at(labels, -1)
      else concat_ws(".", (k to 1 by -1).map(i => element_at(labels, -i)): _*)
    val isIp = col(host).rlike("^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$") ||
      col(host).startsWith("[")

    // one bounded lookup relation per distinct rule depth: (suffix,
    // is_exception, is_wildcard_base, is_exact); the join key is the
    // host's last-k labels, null (⇒ no match) when the host is shorter
    val depths = (exc.keys ++ wild.keys ++ exact.keys).toSeq.distinct.sorted
    var cur = df.withColumn(host, urlHost(col(urlCol)))
    val flags = scala.collection.mutable.Map.empty[(Int, Char), String]
    for (k <- depths) {
      val rows = (exc.getOrElse(k, Nil).map((_, 'e')) ++
        wild.getOrElse(k, Nil).map((_, 'w')) ++
        exact.getOrElse(k, Nil).map((_, 'x')))
        .groupBy(_._1).map { case (sfx, ks) =>
          val kinds = ks.map(_._2).toSet
          (sfx, kinds('e'), kinds('w'), kinds('x'))
        }.toSeq
      val sfx = SamplingFunctions.tempCol(cur, s"__rd_sfx$k")
      val fe = SamplingFunctions.tempCol(cur, s"__rd_exc$k")
      val fw = SamplingFunctions.tempCol(cur, s"__rd_wild$k")
      val fx = SamplingFunctions.tempCol(cur, s"__rd_exact$k")
      val tbl = spark.createDataset(rows).toDF(sfx, fe, fw, fx)
      cur = cur.join(broadcast(tbl),
        when(n >= k, lastK(k)) === col(sfx), "left").drop(sfx)
      flags((k, 'e')) = fe; flags((k, 'w')) = fw; flags((k, 'x')) = fx
    }
    def has(k: Int, kind: Char): Column =
      flags.get((k, kind)).map(f => coalesce(col(f), lit(false)))
        .getOrElse(lit(false))

    // the literal form's precedence chain verbatim, flags for isin
    val start = when(isIp || n <= 1, col(host))
    val afterExc = exc.keys.toSeq.sorted.reverse.foldLeft(start) { (c, k) =>
      c.when(has(k, 'e'), lastK(k))
    }
    val suffixLens = (wild.keys.map(_ + 1) ++ exact.keys).toSeq.distinct.sorted.reverse
    val chain = suffixLens.foldLeft(afterExc) { (c0, s) =>
      val c1 =
        if (wild.contains(s - 1))
          c0.when(has(s - 1, 'w'),
            when(n >= s + 1, lastK(s + 1)).otherwise(col(host)))
        else c0
      if (exact.contains(s))
        c1.when(has(s, 'x'),
          when(n >= s + 1, lastK(s + 1)).otherwise(col(host)))
      else c1
    }
    cur.withColumn(outCol, chain.otherwise(lastK(2)))
      .drop(host +: flags.values.toSeq: _*)
  }
}
