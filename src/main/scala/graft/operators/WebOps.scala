package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL-centric web-pipeline operators: normalization, URL-keyed dedup and
  * domain blocklist filtering — the front half of every web-scale corpus
  * build (crawl dedup happens on the normalized URL long before any
  * content hash is computed).
  *
  * Everything is pure Catalyst string/regex expressions (codegen'd, no
  * UDFs) using only RE2-safe patterns, so the oracle replicates each step
  * verbatim in SQL and the comparison is exact. Scope is deliberately the
  * deterministic core (case folding, fragment strip, default-port drop,
  * userinfo strip, empty-path canonicalization, registrable-domain
  * approximation); IDN/punycode and public-suffix-list lookups are
  * out — they need tables, not rules, and belong in a dimension join. */
object WebOps {

  private val SchemeRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"

  /** Appends parsed + normalized columns to `df`:
    * `scheme` (lowercased), `host` (lowercased, userinfo/port stripped),
    * `domain` (registrable-domain approximation = last two labels),
    * `url_norm` (scheme://host[:port]/path?query — fragment stripped,
    * default ports 80/443 dropped, empty path → "/").
    * Non-URL rows parse to empty strings rather than erroring — at
    * corpus scale a malformed URL is data, not an exception. */
  def parseUrls(df: DataFrame, url: Column): DataFrame = {
    // Staged projections, NOT one big Column tree: every intermediate
    // referenced more than once downstream (noFrag 3x, auth 2x, host 3x,
    // scheme/port/pathq 2-3x inside url_norm) becomes an attribute, so it
    // is computed ONCE per row and passed as a codegen local. Inlining
    // them (the original shape) duplicates the sub-trees multiplicatively;
    // composed with resolveUrls + a second parseUrls in one plan that
    // crossed janino's 64 KB method limit and dropped the whole stage to
    // interpreted eval (bench run N: x_frontier_chain at 65 s on 6 rows).
    // CollapseProject keeps these Projects separate because the producers
    // (regexp_extract) are non-cheap and multiply referenced.
    // The coalesce makes __pu_nofrag — and therefore every derived column
    // — non-nullable BY CONSTRUCTION (a null url parses like a malformed
    // one: all-empty). This is not just semantics: a downstream join on
    // `host` infers IsNotNull(host) only for a nullable key, and predicate
    // pushdown substitutes that filter through every Project alias,
    // re-inlining the whole parse/resolve tree into one giant predicate —
    // the second half of the 64 KB codegen overflow.
    val s1 = df.withColumn("__pu_nofrag",
      coalesce(regexp_replace(url, "#.*", ""), lit("")))
    val s2 = s1.withColumn("__pu_auth",
      regexp_extract(col("__pu_nofrag"), SchemeRe + "([^/?#]*)", 2))
    val s3 = s2
      .withColumn("scheme", lower(regexp_extract(col("__pu_nofrag"), SchemeRe, 1)))
      .withColumn("host",
        lower(regexp_extract(col("__pu_auth"), "^(?:[^@]*@)?([^:]*)", 1)))
      .withColumn("__pu_port", regexp_extract(col("__pu_auth"), ":([0-9]+)$", 1))
      .withColumn("__pu_pathq",
        regexp_extract(col("__pu_nofrag"), SchemeRe + "[^/?#]*(.*)", 2))
    val portSeg = when(
      col("__pu_port") === "" ||
        (col("scheme") === "http" && col("__pu_port") === "80") ||
        (col("scheme") === "https" && col("__pu_port") === "443"), lit(""))
      .otherwise(concat(lit(":"), col("__pu_port")))
    val path1 = when(col("__pu_pathq") === "", lit("/")).otherwise(col("__pu_pathq"))
    s3.withColumn("domain", regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
      .withColumn("url_norm",
        when(col("scheme") === "", lit(""))
          .otherwise(concat(col("scheme"), lit("://"), col("host"), portSeg, path1)))
      .drop("__pu_nofrag", "__pu_auth", "__pu_port", "__pu_pathq")
  }

  /** URL-keyed dedup: one row per normalized URL with the representative
    * (minimum) id and the duplicate count. One shuffle keyed on the
    * normalized URL (bounded-length strings; at 10^12 rows key on
    * `xxhash64(url_norm)` instead via [[TrainingOps.dedupExactByHash]]
    * when the URL text itself isn't needed downstream). */
  def dedupByUrl(parsed: DataFrame, id: Column): DataFrame =
    parsed.groupBy(col("url_norm"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Drop rows whose registrable domain is on the blocklist (UT1-style
    * domain filtering). Blocklists are ~10^5 rows against 10^12 docs:
    * the anti-join broadcasts the blocklist, nothing shuffles. */
  def filterBlockedDomains(parsed: DataFrame, blocked: DataFrame): DataFrame =
    parsed.join(broadcast(blocked.select(col(blocked.columns.head).as("domain"))),
      Seq("domain"), "left_anti")

  /** Per-domain document cap (anti-domination sampling): keep at most
    * `cap` docs per registrable domain, selected by a content-addressed
    * MD5 rank — deterministic, repartition- and rerun-stable, and exactly
    * replicable in oracle SQL (same md5 hex, same lexicographic order,
    * doc_id tiebreak). One shuffle keyed on domain; the `rk <= cap`
    * filter directly over row_number lets Spark's WindowGroupLimit rule
    * keep only `cap` rows per key flowing out of each sort — a skewed
    * mega-domain never materializes past the limit. */
  def domainCapSample(parsed: DataFrame, cap: Int, id: Column,
                      salt: String = ":cap"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("domain"))
      .orderBy(md5(concat(id.cast("string"), lit(salt))), id)
    parsed.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= cap)
  }

  /** Parse robots.txt contents into (host, path_prefix) disallow rules
    * for the wildcard agent — the crawl-politeness dimension table.
    * Group semantics per the robots exclusion standard: consecutive
    * `User-agent` lines open a group; a `Disallow` rule belongs to the
    * nearest preceding group and applies to us iff that group names `*`.
    * Empty Disallow (allow-all) yields no rule. `Allow:` precedence and
    * `$`/`*` wildcards are out of scope (documented subset: prefix rules).
    *
    * Whole parse is explode + two windows keyed on host — robots files
    * are small and one-per-host, so per-key state is a few hundred lines;
    * everything is codegen'd expressions, no UDFs, and the oracle
    * replicates it line for line. */
  def parseRobots(robots: DataFrame, host: Column, content: Column): DataFrame =
    starGroupRules(robots, host, content,
      Seq("dis" -> when(lower(col("line")).startsWith("disallow:"), trim(expr("substring(line, 10)")))),
      col("dis").isNotNull && col("dis") =!= "",
      col("host"), col("dis").as("path_prefix"))

  /** robots.txt bodies as one row per line: (host, ln, raw, line), `line`
    * trimmed with its `#` comment cut. */
  private def robotsLines(robots: DataFrame, host: Column, content: Column): DataFrame =
    robots.select(host.as("host"), posexplode(split(content, "\n")).as(Seq("ln", "raw")))
      .withColumn("line", trim(regexp_replace(col("raw"), "#.*", "")))

  /** The rule lines of the wildcard-agent groups, the grouping of
    * [[parseRobots]] and [[parseRobotsRules]]: each line is classified
    * (`is_ua`, `ua`, then the parser's `rules` columns in order); a run of
    * consecutive `User-agent` lines opens group `grp` (per host, in line
    * order); the lines passing `keep` in a group that names `*` are
    * selected as `out`, distinct. */
  private def starGroupRules(robots: DataFrame, host: Column, content: Column,
                             rules: Seq[(String, Column)], keep: Column, out: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("host")).orderBy(col("ln"))
    val cls = rules.foldLeft(robotsLines(robots, host, content)
      .withColumn("is_ua", lower(col("line")).startsWith("user-agent:"))
      .withColumn("ua", when(col("is_ua"), trim(expr("substring(line, 12)"))))) {
      case (df, (name, c)) => df.withColumn(name, c)
    }
    val grouped = cls
      .withColumn("new_grp",
        col("is_ua") && !coalesce(lag(col("is_ua"), 1).over(w), lit(false)))
      .withColumn("grp", sum(when(col("new_grp"), 1).otherwise(0)).over(w))
    val starGroups = grouped.where(col("ua") === "*")
      .select(col("host"), col("grp")).distinct()
    grouped.where(keep)
      .join(starGroups, Seq("host", "grp"))
      .select(out: _*)
      .distinct()
  }

  /** Extract `Sitemap:` directives from robots.txt bodies — per the robots
    * exclusion standard these are group-independent (valid anywhere in the
    * file, any casing) and carry ABSOLUTE URLs. Output (host, pos, sitemap)
    * in file order feeds the fetcher whose responses [[parseSitemaps]]
    * parses: robots → sitemap URL → loc entries is the complete
    * frontier-seeding chain. Comments strip first (a `#` ends the value);
    * pure codegen string expressions, no shuffle. */
  def robotsSitemaps(robots: DataFrame, host: Column, content: Column): DataFrame =
    robotsLines(robots, host, content)
      .where(lower(col("line")).startsWith("sitemap:"))
      .withColumn("sitemap", trim(expr("substring(line, 9)")))
      .where(col("sitemap") =!= "")
      .withColumn("pos", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("host")).orderBy(col("ln"))) - 1)
      .select(col("host"), col("pos"), col("sitemap"))

  /** Parse sitemap.xml bodies into discovered URLs — the other half of
    * crawl-frontier seeding next to [[parseRobots]]. Emits one row per
    * `<loc>` entry: (host, kind, pos, loc) where kind is `urlset` (page
    * sitemap) or `sitemapindex` (pointer to further sitemaps — the caller
    * feeds those back into fetching). XML-escaped URLs are unescaped (the
    * sitemap spec requires entity escaping); `pos` preserves document
    * order. Pure regexp/codegen expressions over RE2-safe patterns — a
    * sitemap is flat enough that a real XML parser buys nothing, and the
    * oracle replicates the exact expressions in SQL. */
  def parseSitemaps(sitemaps: DataFrame, host: Column, content: Column): DataFrame = {
    val kind = when(col("_c").contains("<sitemapindex"), lit("sitemapindex"))
      .otherwise(lit("urlset"))
    val locs = expr("regexp_extract_all(_c, '<loc>\\\\s*([^<]*?)\\\\s*</loc>', 1)")
    val unescaped =
      Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'", "&amp;" -> "&")
        .foldLeft(col("loc0")) { case (c, (e, r)) => regexp_replace(c, e, r) }
    sitemaps.select(host.as("host"), content.as("_c"))
      .withColumn("kind", kind)
      .select(col("host"), col("kind"), posexplode(locs).as(Seq("pos", "loc0")))
      .withColumn("loc", unescaped)
      .select(col("host"), col("kind"), col("pos"), col("loc"))
  }

  /** Drop URLs disallowed by a robots rule for their host (prefix match
    * on the path+query). Rules tables are host-cardinality — tiny next
    * to a 10^12-row frontier — so the anti-join broadcasts the rules and
    * nothing shuffles; the prefix test rides the hash join's extra
    * condition. Requires [[parseUrls]] columns (`host`, `url_norm`). */
  /** Resolve an in-content href against its page URL (RFC 3986 §5
    * reference resolution) — the step between [[graft.html.Html.linkRefs]]
    * extraction and frontier ops, since real pages link relatively.
    * Handles: absolute hrefs (any scheme) pass through; protocol-relative
    * `//host/p` takes the page scheme; root-relative `/p` takes the page
    * authority; query-only `?q` replaces the page query; empty/
    * fragment-only resolves to the page itself; relative paths merge with
    * the page's base directory. Fragments are stripped from the result (a
    * frontier never fetches them). Dot segments (`.` and `..`) are
    * removed by a bounded unrolled rewrite — exact for nesting depth ≤ 8,
    * which covers real markup (the unroll bound is the documented limit;
    * deeper chains keep their residue). `..` above the root collapses to
    * the root, per the spec. Everything is codegen'd string expressions —
    * one narrow pass, no UDF, no shuffle. Input must carry `url_norm`
    * (from [[parseUrls]]); `href` is the raw attribute value. Pages whose
    * base failed to parse (`url_norm = ""`) resolve relative hrefs to ""
    * (the caller's drop signal) while absolute hrefs still pass. */
  def resolveUrls(parsed: DataFrame, href: Column, out: String = "resolved"): DataFrame = {
    // Same staged-projection discipline as [[parseUrls]] (see the comment
    // there): h, bauth, bpath, merged, pre, rest, path1 are each consumed
    // 2-6x downstream; as inlined Column trees the duplication compounds
    // through merged -> pre/rest -> resolved and blew the 64 KB codegen
    // method limit when composed in one plan. As attributes each is one
    // codegen local, evaluated once.
    val far = lit(1 << 20)
    val s1 = parsed
      // coalesce: same non-nullable-by-construction rationale as parseUrls
      .withColumn("__ru_h",
        coalesce(regexp_replace(href, "#.*", ""), lit(""))) // frontier never keeps fragments
      .withColumn("__ru_bscheme", regexp_extract(col("url_norm"), "^([a-z0-9+.-]+):", 1))
      .withColumn("__ru_bauth", regexp_extract(col("url_norm"), "^([a-z0-9+.-]+://[^/?#]*)", 1))
      .withColumn("__ru_bpathq", regexp_extract(col("url_norm"), "^[a-z0-9+.-]+://[^/?#]*(.*)$", 1))
    val s2 = s1.withColumn("__ru_bpath", regexp_extract(col("__ru_bpathq"), "^([^?]*)", 1))
    // base directory: path up to and including the last '/'
    val bdir = when(col("__ru_bpath").contains("/"),
      regexp_extract(col("__ru_bpath"), "^(.*/)", 1)).otherwise(lit("/"))
    val h = col("__ru_h")
    val s3 = s2.withColumn("__ru_merged",
      when(h.startsWith("//"), concat(col("__ru_bscheme"), lit(":"), h))
        .when(h.startsWith("/"), concat(col("__ru_bauth"), h))
        .when(h.startsWith("?"), concat(col("__ru_bauth"), col("__ru_bpath"), h))
        .when(h === "", concat(col("__ru_bauth"), col("__ru_bpathq")))
        .otherwise(concat(col("__ru_bauth"), bdir, h)))
    val s4 = s3.withColumn("__ru_pre",
      regexp_extract(col("__ru_merged"), "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1))
    val s5 = s4.withColumn("__ru_rest",
      col("__ru_merged").substr(length(col("__ru_pre")) + 1, far))
    val s6 = s5.withColumn("__ru_path1", regexp_extract(col("__ru_rest"), "^([^?]*)", 1))
    val s7 = s6.withColumn("__ru_query1",
      col("__ru_rest").substr(length(col("__ru_path1")) + 1, far))
    // dot-segment removal on the path part only ('..' in a query is
    // literal data); 8 unrolled fixed-point rounds, spec edge cases per
    // round: interior '/./', trailing '/.', interior '/x/../', '..'
    // at/above root, trailing '/x/..'
    val cleaned = (1 to 8).foldLeft(col("__ru_path1")) { (p, _) =>
      val a = regexp_replace(p, "/\\.(/|$)", "/")          // '/./' and trailing '/.'
      val b = regexp_replace(a, "/[^/]+/\\.\\.(/|$)", "/") // '/x/../' and trailing '/x/..'
      regexp_replace(b, "^(/\\.\\.)+(/|$)", "/")           // '..' above root -> root
    }
    val isAbs = h.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:")
    s7.withColumn(out,
        when(isAbs, h) // absolute hrefs pass through unchanged
          .when(col("url_norm") === "", lit(""))
          .otherwise(concat(col("__ru_pre"), cleaned, col("__ru_query1"))))
      .drop("__ru_h", "__ru_bscheme", "__ru_bauth", "__ru_bpathq",
        "__ru_bpath", "__ru_merged", "__ru_pre", "__ru_rest",
        "__ru_path1", "__ru_query1")
  }

  /** Full robots.txt rule parse (RFC 9309): like [[parseRobots]] but
    * emits BOTH `allow` and `disallow` rules for the wildcard-agent
    * group, preserving the raw patterns (which may contain `*` wildcards
    * and a trailing `$` end-anchor) for [[robotsFilterFull]]'s
    * longest-match evaluation. Same consecutive-User-agent group
    * semantics, comment stripping and case handling as [[parseRobots]];
    * empty rule values carry no information under longest-match and are
    * dropped. Output: (host, rule, pattern). */
  def parseRobotsRules(robots: DataFrame, host: Column, content: Column): DataFrame =
    starGroupRules(robots, host, content,
      Seq(
        "rule" -> when(lower(col("line")).startsWith("disallow:"), lit("disallow"))
          .when(lower(col("line")).startsWith("allow:"), lit("allow")),
        "pattern" -> when(col("rule") === "disallow", trim(expr("substring(line, 10)")))
          .when(col("rule") === "allow", trim(expr("substring(line, 7)")))),
      col("rule").isNotNull && col("pattern") =!= "",
      col("host"), col("rule"), col("pattern"))

  /** RFC 9309 robots compliance filter — the full matching semantics the
    * prefix-only [[robotsFilter]] documents as out of scope: `*` in a
    * pattern matches any octet sequence, a trailing `$` anchors the end
    * of the path (elsewhere `$` is literal), and when several rules match
    * a path the MOST SPECIFIC wins — longest pattern in octets, an
    * `allow` beating a `disallow` of equal length. A URL survives iff no
    * rule matches or the winning rule is an allow. An empty path
    * evaluates as "/" per the spec.
    *
    * The rule patterns compile to anchored regexes INSIDE the plan
    * (escape metachars → `*` to `.*` → trailing `$` re-anchored), so the
    * whole filter is expressions — no UDF. Rules are host-cardinality:
    * the inner match join broadcasts them and the frontier never
    * shuffles; the winner aggregation groups by the frontier row id,
    * whose partial agg carries a 12-byte (len, allow) pair per matched
    * row. RLIKE against a non-literal pattern recompiles per row — the
    * per-URL cost is rules-per-host, a small constant for real sites. */
  def robotsFilterFull(parsed: DataFrame, rules: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val path0 = regexp_extract(col("url_norm"), "^[a-z0-9+.-]+://[^/?#]*(.*)$", 1)
    val withPath = parsed.withColumn("_path", when(path0 === "", lit("/")).otherwise(path0))
    val compiled = rules
      .select(col("host").as("r_host"), col("rule"), col("pattern"))
      .withColumn("_esc",
        regexp_replace(col("pattern"), "([.^$+?(){}\\[\\]\\\\|*])", "\\\\$1"))
      .withColumn("_star", expr("replace(_esc, '\\\\*', '.*')"))
      .withColumn("_rx", concat(lit("^"),
        when(expr("right(_star, 2) = '\\\\$'"),
          concat(expr("substring(_star, 1, length(_star) - 2)"), lit("$")))
          .otherwise(col("_star"))))
    val winners = withPath
      .join(broadcast(compiled),
        withPath("host") === compiled("r_host") && expr("_path RLIKE _rx"), "inner")
      .groupBy(col(idCol).as("_id"))
      .agg(max(struct(length(col("pattern")).as("l"),
        (col("rule") === "allow").cast("int").as("a"))).as("w"))
      .where(col("w.a") === 0)
      .select(col("_id"))
    parsed.join(winners, parsed(idCol) === winners("_id"), "left_anti")
  }

  /** Politeness-scheduled crawl frontier: a crawler fetches at most ONE
    * url per host per round (the per-host rate limit every polite crawler
    * enforces), so the frontier op assigns each url the 0-based
    * `fetch_round` in which it becomes eligible — highest `priority`
    * first within its host, url string as the deterministic tie-break.
    * `maxRounds` caps per-host queue depth: a mega-host's tail beyond the
    * cap is dropped rather than scheduled into rounds nobody will reach,
    * which also bounds the op's output per key.
    *
    * Scale shape: ONE exchange keyed on host; the `rk <= maxRounds`
    * filter sits directly on the row_number so Spark's WindowGroupLimit
    * rule prunes each sort group at the cap on BOTH sides of the shuffle
    * (same shape as [[domainCapSample]]) — a host with 10^8 frontier
    * urls never materializes past maxRounds rows. */
  def frontierSchedule(frontier: DataFrame, priority: Column,
                       maxRounds: Int): DataFrame = {
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(priority.desc, col("url"))
    frontier.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= maxRounds)
      .select(col("url"), col("host"), (col("rk") - 1).as("fetch_round"))
  }

  def robotsFilter(parsed: DataFrame, rules: DataFrame): DataFrame = {
    val path = regexp_extract(col("url_norm"), "^[a-z0-9+.-]+://[^/?#]*(.*)$", 1)
    val withPath = parsed.withColumn("path", path)
    val r = broadcast(rules.select(col("host").as("r_host"), col("path_prefix")))
    withPath.join(r,
        withPath("host") === r("r_host") && withPath("path").startsWith(r("path_prefix")),
        "left_anti")
      .drop("path")
  }
}
