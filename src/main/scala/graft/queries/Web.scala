package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{WebOps, GraphOps}
import QuerySupport._

/** Web-crawl queries: URL parsing and normalization, domain filters,
  * robots.txt and sitemaps, frontier scheduling, and the link-graph
  * operators over a synthetic edge list. */
object Web extends QueryFamily("web") {

  /** Deterministic messy-URL synthesis over `documents` — valid verbatim
    * in BOTH Spark SQL and DuckDB (STRING is a VARCHAR alias in DuckDB),
    * so the queries and their oracles share one definition. The five
    * cases exercise every normalization rule: fragment strip, case fold,
    * default-port drop (80/443), userinfo strip, non-default port kept,
    * empty path. Case-4 collides heavily (one URL per source). */
  private val urlSynthSql: String =
    """CASE CAST(doc_id % 5 AS INT)
      | WHEN 0 THEN concat('https://', source, '.example.com/d/', CAST(doc_id % 25 AS STRING), '?q=1#frag')
      | WHEN 1 THEN concat('HTTP://', upper(source), '.Example.COM:80/d/', CAST(doc_id % 25 AS STRING))
      | WHEN 2 THEN concat('https://', source, '.example.com:443/d/', CAST(doc_id % 25 AS STRING), '?q=1')
      | WHEN 3 THEN concat('http://user@', source, '.example.org:8080/d/', CAST(doc_id % 25 AS STRING), '/x#top')
      | ELSE concat('https://', source, '.example.com')
      |END""".stripMargin

  /** Deterministic link-graph synthesis over `documents` (valid verbatim
    * in both engines): every link preserves doc_id mod 10, so the graph
    * has EXACTLY 10 weakly-connected components of 50 nodes — a
    * non-trivial target for the components op. Each residue's hub node
    * (ids 0–9) collects ~52 in-links: heavy enough to drive co-citation
    * and degree skew, just under the default hub cap. `% 500` matches the
    * corpus row count at both test sfs. */
  private val edgeSynthSql: String =
    """SELECT doc_id AS src, (doc_id + 10) % 500 AS dst FROM documents
      |UNION ALL SELECT doc_id, (doc_id + 230) % 500 FROM documents
      |UNION ALL SELECT doc_id, doc_id % 10 FROM documents""".stripMargin

  /** The DuckDB replica of [[WebOps.parseUrls]] over [[urlSynthSql]] —
    * shared by the three URL-query oracles. Yields (doc_id, url, scheme,
    * host, domain, url_norm, port, pathq). */
  private val urlParseOracleCte: String =
    s"""WITH u AS (SELECT doc_id, $urlSynthSql AS url FROM documents),
       |nf0 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nf FROM u),
       |p0 AS (SELECT doc_id, url,
       |  lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
       |  regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 2) AS auth,
       |  regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://[^/?#]*(.*)', 2) AS pathq
       |  FROM nf0),
       |q0 AS (SELECT doc_id, url, scheme,
       |  lower(regexp_extract(auth, '^(?:[^@]*@)?([^:]*)', 1)) AS host,
       |  regexp_extract(auth, ':([0-9]+)$$', 1) AS port, pathq FROM p0),
       |parsed AS (SELECT doc_id, url, scheme, host,
       |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
       |  CASE WHEN scheme = '' THEN '' ELSE
       |    scheme || '://' || host ||
       |    (CASE WHEN port = '' OR (scheme = 'http' AND port = '80') OR (scheme = 'https' AND port = '443')
       |          THEN '' ELSE ':' || port END) ||
       |    (CASE WHEN pathq = '' THEN '/' ELSE pathq END)
       |  END AS url_norm
       |  FROM q0)""".stripMargin

  /** robots.txt fixture covering the group semantics: an agent-specific
    * group (not ours), a multi-agent star group, an allow-all empty
    * Disallow, a comment line, uppercase directives, and a root block. */
  private def robotsFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("example.com",
        "# site robots\nSitemap: https://example.com/sitemap.xml\n" +
          "User-agent: googlebot\nDisallow: /private\n\n" +
          "User-agent: *\nUser-agent: testbot\nDisallow: /admin\nDISALLOW: /tmp/\nDisallow:\n\n" +
          "User-agent: otherbot\nDisallow: /"),
      ("blocked.org",
        "Sitemap: https://cdn.blocked.org/sm1.xml # primary\n" +
          "User-agent: *\nDisallow: /\n" +
          "sitemap: https://cdn.blocked.org/sm2.xml"))
      .toDF("host", "content")
  }

  /** Frontier URLs for x_robots_filter; the comments are the ground truth
    * the VALUES oracle encodes. */
  private val robotsUrls: Seq[(Long, String)] = Seq(
    (1L, "https://example.com/admin/panel"), // dropped: star-group /admin
    (2L, "https://example.com/private/x"),   // kept: /private is googlebot-only
    (3L, "https://example.com/tmp/file"),    // dropped: star-group /tmp/
    (4L, "https://example.com/tmp"),         // kept: '/tmp/' does not prefix-match '/tmp'
    (5L, "https://example.com/index.html"),  // kept
    (6L, "https://blocked.org/anything"),    // dropped: root disallow
    (7L, "https://other.net/admin"))         // kept: no rules for this host

  val defs: Seq[QueryDef] = Seq(
    // URL normalization: deterministic messy-URL synthesis (case, frag,
    // default ports, userinfo — one shared SQL snippet in both engines)
    // through pure-regex parse/canonicalize; zero UDFs, zero shuffles
    query("q_url_parse", build = (s, d) =>
        WebOps.parseUrls(t(s, d, "documents")
            .select(col("doc_id"), expr(urlSynthSql).as("url")), col("url"))
          .select(col("doc_id"), col("url"), col("scheme"), col("host"),
            col("domain"), col("url_norm")),
      oracle =
        (urlParseOracleCte + "\nSELECT doc_id, url, scheme, host, domain, url_norm FROM parsed")),
    // crawl-frontier dedup on the normalized URL (the web-corpus dedup
    // that happens before any content hash): variants collapse, min id
    query("q_url_dedup", build = (s, d) =>
        WebOps.dedupByUrl(
          WebOps.parseUrls(t(s, d, "documents")
            .select(col("doc_id"), expr(urlSynthSql).as("url")), col("url")),
          col("doc_id")),
      oracle =
        (urlParseOracleCte + "\nSELECT url_norm, MIN(doc_id) AS keep_id, " +
          "CAST(COUNT(*) AS BIGINT) AS n_dupes FROM parsed GROUP BY url_norm")),
    // UT1-style domain blocklist: broadcast anti-join on the
    // registrable domain drops every example.org doc
    query("q_domain_blocklist", build = (s, d) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val blocked = Seq("example.org").toDF("domain")
        WebOps.filterBlockedDomains(
            WebOps.parseUrls(t(s, d, "documents")
              .select(col("doc_id"), expr(urlSynthSql).as("url")), col("url")),
            blocked)
          .select(col("doc_id"), col("host"), col("domain"))
      },
      oracle =
        (urlParseOracleCte + "\nSELECT doc_id, host, domain FROM parsed WHERE domain <> 'example.org'")),
    // anti-domination sampling: at most 50 docs per registrable domain,
    // picked by content-addressed MD5 rank (rerun-stable; WindowGroupLimit
    // keeps a mega-domain from materializing past the cap)
    query("q_domain_cap", build = (s, d) =>
        WebOps.domainCapSample(
            WebOps.parseUrls(t(s, d, "documents")
              .select(col("doc_id"), expr(urlSynthSql).as("url")), col("url")),
            cap = 50, col("doc_id"))
          .select(col("doc_id"), col("domain"), col("rk")),
      // same md5 hex, same lexicographic order, same doc_id tiebreak →
      // the capped sample is identical row-for-row across engines
      oracle =
        (urlParseOracleCte + "\nSELECT doc_id, domain, rk FROM (SELECT doc_id, domain, " +
          "ROW_NUMBER() OVER (PARTITION BY domain ORDER BY md5(doc_id::VARCHAR || ':cap'), doc_id) AS rk " +
          "FROM parsed) t WHERE rk <= 50")),
    // politeness-scheduled frontier: one url per host per fetch round,
    // priority-ordered, per-host depth capped at 50 (WindowGroupLimit
    // prunes mega-hosts at the cap on both sides of the shuffle)
    query("q_frontier_schedule", build = (s, d) => {
        val frontier = t(s, d, "documents").select(
          concat(lit("https://"), col("source"), lit(".example.com/d/"),
            col("doc_id").cast("string")).as("url"),
          concat(col("source"), lit(".example.com")).as("host"),
          (col("doc_id") % 97).as("priority"))
        WebOps.frontierSchedule(frontier, col("priority"), maxRounds = 50)
      },
      // same window: priority DESC, url string tie-break, 0-based round
      oracle =
        ("""WITH f AS (SELECT 'https://' || source || '.example.com/d/' || doc_id AS url,
           |  source || '.example.com' AS host, doc_id % 97 AS priority FROM documents),
           |r AS (SELECT url, host,
           |  ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rk FROM f)
           |SELECT url, host, CAST(rk - 1 AS BIGINT) AS fetch_round FROM r WHERE rk <= 50""".stripMargin)),
    // robots.txt compliance: parse wildcard-agent disallow groups from
    // raw robots bodies, then broadcast-anti-join the frontier on
    // (host, path-prefix) — politeness filtering as a plan, no UDFs
    query("x_robots_filter", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val rules = WebOps.parseRobots(robotsFixture(s), col("host"), col("content"))
        val urls = sp.createDataset(robotsUrls).toDF("doc_id", "url")
        WebOps.robotsFilter(WebOps.parseUrls(urls, col("url")), rules)
          .select(col("doc_id"), col("host"), col("url_norm"))
      },
      oracle = {
        val kept = Seq(
          (2L, "example.com", "https://example.com/private/x"),
          (4L, "example.com", "https://example.com/tmp"),
          (5L, "example.com", "https://example.com/index.html"),
          (7L, "other.net", "https://other.net/admin"))
        val rows = kept.map { case (i, h, u) => s"($i, ${sqlStr(h)}, ${sqlStr(u)})" }
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, host, url_norm FROM " +
          s"(VALUES ${rows.mkString(", ")}) AS t(doc_id, host, url_norm)"
      }),
    // group-independent Sitemap: directives out of the same robots
    // fixture — the URL list parseSitemaps' fetch loop starts from
    query("x_robots_sitemaps", build = (s, _) =>
        WebOps.robotsSitemaps(robotsFixture(s), col("host"), col("content")),
      // by hand from the robots fixture: comment stripped, any casing,
      // file order per host
      oracle = ("SELECT * FROM (VALUES " +
        "('example.com', 0, 'https://example.com/sitemap.xml'), " +
        "('blocked.org', 0, 'https://cdn.blocked.org/sm1.xml'), " +
        "('blocked.org', 1, 'https://cdn.blocked.org/sm2.xml')" +
        ") AS t(host, pos, sitemap)")),
    // RFC 3986 reference resolution: raw in-content hrefs absolutized
    // against their page URL — the step between linkRefs extraction and
    // every frontier op; each case's ground truth is hand-derived
    query("x_resolve_urls", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val base = "https://a.com/dir/sub/page.html?q=1"
        val pages = Seq(
          (1L, base, "https://x.org/p"),
          (2L, base, "//cdn.com/img"),
          (3L, base, "/root/x"),
          (4L, base, "?page=2"),
          (5L, base, "#frag"),
          (6L, base, "other.html"),
          (7L, base, "../up.html"),
          (8L, base, "a/b/../c/./d?x=1#f"),
          (9L, "https://a.com", "rel"),
          (10L, "notaurl", "rel"))
          .toDF("doc_id", "url", "href")
        WebOps.resolveUrls(WebOps.parseUrls(pages, col("url")), col("href"))
          .select(col("doc_id"), col("href"), col("resolved"))
      },
      // hand-derived RFC 3986 resolutions for the inline href fixture
      oracle = ("SELECT CAST(doc_id AS BIGINT) AS doc_id, href, resolved FROM (VALUES " +
        "(1, 'https://x.org/p', 'https://x.org/p'), " +
        "(2, '//cdn.com/img', 'https://cdn.com/img'), " +
        "(3, '/root/x', 'https://a.com/root/x'), " +
        "(4, '?page=2', 'https://a.com/dir/sub/page.html?page=2'), " +
        "(5, '#frag', 'https://a.com/dir/sub/page.html?q=1'), " +
        "(6, 'other.html', 'https://a.com/dir/sub/other.html'), " +
        "(7, '../up.html', 'https://a.com/dir/up.html'), " +
        "(8, 'a/b/../c/./d?x=1#f', 'https://a.com/dir/sub/a/c/d?x=1'), " +
        "(9, 'rel', 'https://a.com/rel'), " +
        "(10, 'rel', '')" +
        ") AS t(doc_id, href, resolved)")),
    // the complete crawl-frontier chain as ONE plan: in-content links
    // from raw HTML bytes -> RFC 3986 resolution against the page URL
    // -> URL parse/normalize -> full RFC 9309 robots compliance ->
    // politeness scheduling; every hop hand-derived in the oracle
    query("x_frontier_chain", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val pages = Seq(
          ("https://w.com/dir/page.html",
            "<p>intro <a href='a.html'>one</a> <a href='/fish/x'>two</a> " +
              "<a href='https://ext.org/abs'>three</a></p>"),
          ("https://w.com/other.html",
            "<p>more <a href='../up.html'>four</a> <a href='//w.com/proto'>five</a></p>"))
          .toDF("page_url", "html")
        val rules = WebOps.parseRobotsRules(
          Seq(("w.com", "User-agent: *\nDisallow: /fish*")).toDF("host", "content"),
          col("host"), col("content"))
        val hrefs = pages.select(col("page_url"),
          explode(graft.functions.PdfFunctions.htmlLinkRefs(col("html").cast("binary"))).as("href"))
        val resolved = WebOps.resolveUrls(
            WebOps.parseUrls(hrefs, col("page_url")), col("href"))
          .select(col("resolved").as("url"))
        val allowed = WebOps.robotsFilterFull(
          WebOps.parseUrls(resolved, col("url")), rules, idCol = "url")
        WebOps.frontierSchedule(
          allowed.select(col("url"), col("host"), lit(1L).as("priority")),
          col("priority"), maxRounds = 10)
      },
      // hand-derived hop by hop: a.html merges with /dir/, /fish/x is
      // robots-disallowed, ../up.html climbs to the root, //w.com/proto
      // takes the page scheme, the external host has no rules; constant
      // priority -> url-string order within each host
      oracle = ("SELECT url, host, CAST(fetch_round AS BIGINT) AS fetch_round FROM (VALUES " +
        "('https://ext.org/abs', 'ext.org', 0), " +
        "('https://w.com/dir/a.html', 'w.com', 0), " +
        "('https://w.com/proto', 'w.com', 1), " +
        "('https://w.com/up.html', 'w.com', 2)" +
        ") AS t(url, host, fetch_round)")),
    // RFC 9309 FULL matching: * wildcards, trailing-$ anchors, Allow
    // overrides, longest-match precedence (allow wins length ties) —
    // each URL's ground truth is hand-derived in the VALUES oracle
    query("x_robots_full", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val robots = Seq(
          ("w.com",
            "User-agent: *\nDisallow: /*.php$\nDisallow: /fish*\nAllow: /fish/ok\n" +
              "Disallow: /a$\nAllow: /dual\nDisallow: /dual"),
          ("open.org", "User-agent: *\nAllow: /"))
          .toDF("host", "content")
        val rules = WebOps.parseRobotsRules(robots, col("host"), col("content"))
        val urls = Seq(
          (1L, "https://w.com/file.php"),     // dropped: /*.php$ anchored match
          (2L, "https://w.com/file.php?q=1"), // kept: query breaks the $ anchor
          (3L, "https://w.com/fishheads"),    // dropped: /fish* wildcard
          (4L, "https://w.com/fish/ok/x"),    // kept: allow /fish/ok (8) beats /fish* (6)
          (5L, "https://w.com/a"),            // dropped: /a$ exact
          (6L, "https://w.com/ab"),           // kept: /a$ is end-anchored
          (7L, "https://w.com/dual"),         // kept: equal length -> allow wins
          (8L, "https://w.com/"),             // kept: no rule matches
          (9L, "https://open.org/x"),         // kept: allow-all
          (10L, "https://nada.io/y"))         // kept: no rules for host
          .toDF("doc_id", "url")
        WebOps.robotsFilterFull(WebOps.parseUrls(urls, col("url")), rules)
          .select(col("doc_id"), col("host"), col("url_norm"))
      },
      // hand-derived RFC 9309 ground truth (see the query's per-URL notes)
      oracle = ("SELECT CAST(doc_id AS BIGINT) AS doc_id, host, url_norm FROM (VALUES " +
        "(2, 'w.com', 'https://w.com/file.php?q=1'), " +
        "(4, 'w.com', 'https://w.com/fish/ok/x'), " +
        "(6, 'w.com', 'https://w.com/ab'), " +
        "(7, 'w.com', 'https://w.com/dual'), " +
        "(8, 'w.com', 'https://w.com/'), " +
        "(9, 'open.org', 'https://open.org/x'), " +
        "(10, 'nada.io', 'https://nada.io/y')" +
        ") AS t(doc_id, host, url_norm)")),
    // link-graph degrees (popularity prior): union + ONE node-keyed
    // aggregation with map-side partial sums
    query("q_graph_degrees", build = (s, d) => {
        t(s, d, "documents").createOrReplaceTempView("documents")
        GraphOps.degrees(s.sql(edgeSynthSql))
      },
      oracle =
        (s"""WITH e AS ($edgeSynthSql),
            |n AS (SELECT src AS node, 1 AS o, 0 AS i FROM e UNION ALL SELECT dst, 0, 1 FROM e)
            |SELECT node, CAST(SUM(o) AS BIGINT) AS out_deg, CAST(SUM(i) AS BIGINT) AS in_deg
            |FROM n GROUP BY node""".stripMargin)),
    // co-citation similarity: LSH-shaped bucket self-join on dst with
    // the hub cap applied inside the join's own exchange
    query("q_graph_cocitation", build = (s, d) => {
        t(s, d, "documents").createOrReplaceTempView("documents")
        GraphOps.coCitation(s.sql(edgeSynthSql))
      },
      // the hub cap is mirrored via the same window COUNT — the oracle
      // detects both missed pairs and a broken cap
      oracle =
        (s"""WITH e AS ($edgeSynthSql),
            |dd AS (SELECT DISTINCT src AS s, dst AS d FROM e),
            |c AS (SELECT s, d, COUNT(*) OVER (PARTITION BY d) AS bn FROM dd),
            |f AS (SELECT s, d FROM c WHERE bn <= 64)
            |SELECT x.s AS a, y.s AS b, CAST(COUNT(*) AS BIGINT) AS shared
            |FROM f x JOIN f y ON x.d = y.d AND x.s < y.s GROUP BY 1, 2""".stripMargin)),
    // weakly-connected components via the pointer-doubling label
    // propagation proven for dedup clusters
    query("q_graph_components", build = (s, d) => {
        t(s, d, "documents").createOrReplaceTempView("documents")
        GraphOps.components(s.sql(edgeSynthSql))
      },
      oracle =
        (s"""WITH RECURSIVE e AS ($edgeSynthSql),
            |edges AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
            |reach AS (SELECT a AS id, a AS r FROM edges UNION SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a)
            |SELECT id AS node, MIN(r) AS component FROM reach GROUP BY id""".stripMargin)),
    // integer fixed-point PageRank: floor-division contributions make
    // the WHOLE rank table bitwise-reproducible (float PageRank is
    // summation-order-dependent and could never be hash-compared)
    query("q_graph_pagerank", build = (s, d) => {
        t(s, d, "documents").createOrReplaceTempView("documents")
        GraphOps.pageRankFixedPoint(s.sql(edgeSynthSql), iterations = 3)
      },
      // 3 iterations unrolled; every step integer (// is floor-div on
      // positives, same truncation as Spark's `div`); SUM(BIGINT) is
      // HUGEINT in DuckDB → cast back per iteration
      oracle =
        (s"""WITH e0 AS ($edgeSynthSql),
            |e AS (SELECT DISTINCT src AS s, dst AS d FROM e0),
            |nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
            |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
            |od AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY s),
            |r0 AS (SELECT node, 1000000000000 // (SELECT n FROM cnt) AS rank FROM nodes),
            |c1 AS (SELECT e.d AS node, CAST(SUM(r0.rank // od.od) AS BIGINT) AS c FROM e JOIN r0 ON e.s = r0.node JOIN od ON e.s = od.s GROUP BY e.d),
            |r1 AS (SELECT nodes.node, (1000000000000 - 1000000000000 * 85 // 100) // (SELECT n FROM cnt) + (85 * COALESCE(c1.c, 0)) // 100 AS rank FROM nodes LEFT JOIN c1 ON nodes.node = c1.node),
            |c2 AS (SELECT e.d AS node, CAST(SUM(r1.rank // od.od) AS BIGINT) AS c FROM e JOIN r1 ON e.s = r1.node JOIN od ON e.s = od.s GROUP BY e.d),
            |r2 AS (SELECT nodes.node, (1000000000000 - 1000000000000 * 85 // 100) // (SELECT n FROM cnt) + (85 * COALESCE(c2.c, 0)) // 100 AS rank FROM nodes LEFT JOIN c2 ON nodes.node = c2.node),
            |c3 AS (SELECT e.d AS node, CAST(SUM(r2.rank // od.od) AS BIGINT) AS c FROM e JOIN r2 ON e.s = r2.node JOIN od ON e.s = od.s GROUP BY e.d),
            |r3 AS (SELECT nodes.node, (1000000000000 - 1000000000000 * 85 // 100) // (SELECT n FROM cnt) + (85 * COALESCE(c3.c, 0)) // 100 AS rank FROM nodes LEFT JOIN c3 ON nodes.node = c3.node)
            |SELECT node, rank FROM r3""".stripMargin)),
    // crawl-frontier seeding: sitemap <loc> discovery (urlset +
    // sitemapindex), XML entities unescaped, document order kept
    query("x_sitemap", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val sm = sp.createDataset(Seq(
          ("example.com",
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
              "<url><loc>https://example.com/</loc><lastmod>2026-01-01</lastmod></url>\n" +
              "<url><loc> https://example.com/a?x=1&amp;y=2 </loc></url>\n" +
              "<url><loc>https://example.com/b</loc></url>\n</urlset>"),
          ("example.org",
            "<?xml version=\"1.0\"?><sitemapindex>" +
              "<sitemap><loc>https://example.org/sitemap1.xml</loc></sitemap>" +
              "<sitemap><loc>https://example.org/sitemap2.xml</loc></sitemap></sitemapindex>")))
          .toDF("host", "content")
        WebOps.parseSitemaps(sm, col("host"), col("content"))
      },
      oracle = ("SELECT * FROM (VALUES " +
        "('example.com', 'urlset', 0, 'https://example.com/'), " +
        "('example.com', 'urlset', 1, 'https://example.com/a?x=1&y=2'), " +
        "('example.com', 'urlset', 2, 'https://example.com/b'), " +
        "('example.org', 'sitemapindex', 0, 'https://example.org/sitemap1.xml'), " +
        "('example.org', 'sitemapindex', 1, 'https://example.org/sitemap2.xml')" +
        ") AS t(host, kind, pos, loc)"))
  )
}
