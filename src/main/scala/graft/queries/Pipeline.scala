package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Dedup

/** End-to-end compositions (`pipeline_*`): curation, WARC-to-WET, crawl
  * frontiers, recrawl scheduling and governance reports. */
object PipelineQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- the FULL curation pipeline as ONE declared query — the
    // training-data-prep flow end to end: quality gate (the
    // text_curation cuts) → near-dup survivors (portable simhash
    // keep-first) → language ID (seed model, token counts riding the
    // carry hook — no extra join) → per-language next-fit bin
    // packing. Proves the operators COMPOSE without work-column
    // collisions, and the oracle replays every stage from scratch ----
    // Plan (expect: in the checkpoint job, the four stages pipelined —
    // persisted quality gate (InMemoryRelation reused by the pair fold,
    // anti-join, and langid scans), simhash bucket fold, broadcast
    // langid model join + one doc-keyed aggregate, shard-keyed packing
    // exchange + within-partition sort; NO extra doc-keyed counts join
    // — __nt rides the carry hook)
    QuerySpec("pipeline_curate_e2e", (s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      graft.operators.Curation.curateAndPack(
          s.read.parquet(s"$dir/documents.parquet"), model)
        .orderBy(col("doc_id").asc)
    },
      pipelineCurateOracle),

    // ---- stage 0 + stages 1-4: boilerplate strip feeding the whole
    // curation pipeline as ONE query — the strip's kept lines become
    // the gate's input text (docs reduced to nothing drop first),
    // proving the two compositions share no work columns ----
    QuerySpec("pipeline_clean_curate", (s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      val cleaned = Dedup
        .stripBoilerplate(boilerplatePages(s, dir), minDocFreq = 5L)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text"))
      graft.operators.Curation.curateAndPack(cleaned, model)
        .orderBy(col("doc_id").asc)
    },
      pipelineCleanCurateOracle),

    // ---- the CommonCrawl WET flow end to end as ONE declared
    // query: WARC archives (real framing, every 3rd gzipped) →
    // response records → charset-sniffed decode → HTML text
    // extraction → the FULL curation pipeline (quality gate →
    // simhash keep-first → langid → per-language packing). The WARC
    // synthesis is invertible, so the oracle derives the WET text
    // from the raw column and replays the curate chain over it —
    // proving the crawl front end and the curation stages compose
    // without work-column collisions ----
    // Plan (expect: the records() MapPartitions kernel + ONE codegen
    // charset+html projection feeding the curate stages' persisted-gate
    // pipeline — the front end adds zero exchanges)
    QuerySpec("pipeline_warc_curate", (s, dir) => {
      import s.implicits._
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://w"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          html.as("html"))
      val wet = graft.operators.Warc
        .records(s, graft.operators.Warc.synthesizeWarc(pages)).toDF()
        .filter(col("rec_type") === "response")
        .select(col("doc_id"),
          graft.functions.vfs_html_text(
            graft.functions.vfs_charset_decode(col("body"),
              col("content_type"))).as("text"))
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      graft.operators.Curation.curateAndPack(wet, model)
        .orderBy(col("doc_id").asc)
    },
      pipelineWarcCurateOracle),

    // ---- the CRAWL FRONTIER pipeline as ONE declared query: link
    // extraction (hrefs as written: one relative, one root-relative)
    // → RFC 3986 resolution against the page URL → robots gate
    // (h0 disallows /abs for graftbot) → politeness schedule (h0's
    // declared 2 s, everyone else the 1 s default; per-host ordinals
    // by url) — proving the round's web operators COMPOSE; the
    // oracle replays every stage from the residue construction ----
    // Plan (expect: link explode + resolve codegen, robots left join,
    // ONE host window — no cartesian, no extra exchange between the
    // gate and the schedule)
    QuerySpec("pipeline_crawl_frontier", (s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://h"), col("doc_id") % 5,
            lit(".example/a/p"), col("doc_id")).as("page_url"),
          concat(lit("<body><main><a href=\"g"), col("doc_id"),
            lit("\">r</a> <a href=\"/abs/"), col("doc_id"),
            lit("\">a</a></main></body>")).as("html"))
      val links = pages.select(col("doc_id"), col("page_url"),
          explode(graft.functions.vfs_html_links(col("html")))
            .as("href"))
        .select(col("doc_id"),
          graft.functions.vfs_url_resolve(col("page_url"), col("href"))
            .as("url"))
      val robots = Seq(("h0.example",
        "User-agent: graftbot\nDisallow: /abs\nCrawl-delay: 2\n"))
        .toDF("host", "robots_txt")
      val allowed = graft.operators.WebCuration
        .robotsFilter(links, robots, "graftbot")
      graft.operators.WebCuration
        .politenessSchedule(allowed, robots, "graftbot", 1000L,
          orderCol = "url")
        .select(col("doc_id"), col("url"), col("host"),
          col("delay_milli"), col("fetch_seq"), col("fetch_at_milli"))
        .orderBy(col("doc_id").asc, col("url").asc)
    },
      // the frontier pipeline replayed stage by stage: construct both
      // urls per doc, drop h0's /abs (the robots gate), rank within
      // host by url, price with h0's 2 s / the 1 s default
      s"""WITH u AS (
        |  SELECT doc_id, 'https://h' || (doc_id % 5) ||
        |    '.example/a/g' || doc_id AS url FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'https://h' || (doc_id % 5) ||
        |    '.example/abs/' || doc_id FROM documents),
        |s AS (SELECT * FROM u
        |  WHERE NOT (doc_id % 5 = 0 AND url LIKE '%/abs/%')),
        |r AS (SELECT doc_id, url,
        |    'h' || (doc_id % 5) || '.example' AS host,
        |    CASE WHEN doc_id % 5 = 0 THEN 2000 ELSE 1000 END AS delay,
        |    row_number() OVER (PARTITION BY doc_id % 5
        |      ORDER BY url) AS seq
        |  FROM s)
        |SELECT doc_id, url, host,
        |  CAST(delay AS BIGINT) AS delay_milli,
        |  CAST(seq AS BIGINT) AS fetch_seq,
        |  CAST((seq - 1) * delay AS BIGINT) AS fetch_at_milli
        |FROM r ORDER BY doc_id ASC, url ASC""".stripMargin),

    // ---- the SITEMAP two-hop frontier: sitemapindex → child
    // sitemaps → urlset <loc>s (each hop through vfs_sitemap_locs;
    // the child fetch is a join on the hop-1 URL), the visited-set
    // anti-join (UrlIndex standing artifact: /q pages all visited,
    // /p pages visited for doc_id % 3 == 0), the robots gate (h0
    // disallows /r for graftbot), and the politeness schedule — the
    // crawl loop's OTHER discovery path composed end to end; every
    // stage replays from residue arithmetic ----
    // Plan (expect: two sitemap-locs explodes, the child fetch as a
    // hash join on the hop-1 URL, LEFT ANTI against the UrlIndex stored
    // keys, robots left join, ONE host window — the whole discovery
    // path without a cartesian)
    QuerySpec("pipeline_crawl_frontier_sitemap", (s, dir) => {
      import s.implicits._
      val host = concat(lit("https://h"), col("doc_id") % 5,
        lit(".example"))
      val index = concat(
        lit("<?xml version=\"1.0\"?><sitemapindex><sitemap><loc>"),
        host, lit("/sm/"), col("doc_id"),
        lit("/a.xml</loc></sitemap><sitemap><loc>"),
        host, lit("/sm/"), col("doc_id"),
        lit("/b.xml</loc></sitemap></sitemapindex>"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // hop 1: the index's <loc>s are child-sitemap URLs
      val hop1 = docs.select(col("doc_id"), index.as("xml"))
        .select(col("doc_id"),
          explode(graft.functions.vfs_sitemap_locs(col("xml")))
            .as("sm_url"))
      // the child-sitemap table a fetcher materializes (keyed by its
      // URL): child a carries two pages (entity decode + whitespace
      // trim), child b one CDATA-wrapped page
      val childA = docs.select(
        concat(host, lit("/sm/"), col("doc_id"), lit("/a.xml"))
          .as("sm_url"),
        concat(lit("<urlset><url><loc>"), host, lit("/p/"),
          col("doc_id"), lit("?x=1&amp;y=2</loc></url><url><loc>\n  "),
          host, lit("/q/"), col("doc_id"),
          lit("\n</loc></url></urlset>")).as("sm_xml"))
      val childB = docs.select(
        concat(host, lit("/sm/"), col("doc_id"), lit("/b.xml"))
          .as("sm_url"),
        concat(lit("<urlset><url><loc><![CDATA["), host, lit("/r/"),
          col("doc_id"), lit("?t=1]]></loc></url></urlset>"))
          .as("sm_xml"))
      // hop 2: fetch-join + extract the page URLs
      val pages = hop1.join(childA.unionByName(childB), "sm_url")
        .select(col("doc_id"),
          explode(graft.functions.vfs_sitemap_locs(col("sm_xml")))
            .as("url"))
      // visited set: a standing UrlIndex artifact probes the delta
      val visited = docs.select(
          concat(host, lit("/q/"), col("doc_id")).as("url"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(concat(host, lit("/p/"), col("doc_id"),
            lit("?x=1&y=2")).as("url")))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-urlidx-sm").toString + "/visited"
      graft.operators.UrlIndex.build(visited, idx)
      val fresh = graft.operators.UrlIndex.filterNew(s, idx, pages)
      val robots = Seq(("h0.example",
        "User-agent: graftbot\nDisallow: /r\nCrawl-delay: 2\n"))
        .toDF("host", "robots_txt")
      val allowed = graft.operators.WebCuration
        .robotsFilter(fresh, robots, "graftbot")
      graft.operators.WebCuration
        .politenessSchedule(allowed, robots, "graftbot", 1000L,
          orderCol = "url")
        .select(col("doc_id"), col("url"), col("host"),
          col("delay_milli"), col("fetch_seq"), col("fetch_at_milli"))
        .orderBy(col("doc_id").asc, col("url").asc)
    },
      // the sitemap two-hop frontier replayed stage by stage: hop-2
      // page URLs by residue (/p kept unless visited i.e. doc_id%3=0,
      // /q always visited, /r robots-dropped on h0 i.e. doc_id%5=0),
      // then the politeness pricing over the survivors
      s"""WITH u AS (
        |  SELECT doc_id, 'https://h' || (doc_id % 5) ||
        |    '.example/p/' || doc_id || '?x=1&y=2' AS url
        |  FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, 'https://h' || (doc_id % 5) ||
        |    '.example/r/' || doc_id || '?t=1'
        |  FROM documents WHERE doc_id % 5 <> 0),
        |r AS (SELECT doc_id, url,
        |    'h' || (doc_id % 5) || '.example' AS host,
        |    CASE WHEN doc_id % 5 = 0 THEN 2000 ELSE 1000 END AS delay,
        |    row_number() OVER (PARTITION BY doc_id % 5
        |      ORDER BY url) AS seq
        |  FROM u)
        |SELECT doc_id, url, host,
        |  CAST(delay AS BIGINT) AS delay_milli,
        |  CAST(seq AS BIGINT) AS fetch_seq,
        |  CAST((seq - 1) * delay AS BIGINT) AS fetch_at_milli
        |FROM r ORDER BY doc_id ASC, url ASC""".stripMargin),

    // ---- sitemap-driven RECRAWL scheduling: each doc's urlset
    // carries a /p page with a residue-rotated <lastmod> and a /q
    // page without one; the last-crawl ledger has /p crawled at a
    // fixed date and /q crawled only for even docs — the recrawl set
    // keeps modified /p pages (lastmod postdates the crawl) and
    // never-crawled /q pages, with the reason surfaced ----
    // Plan (expect: ONE codegen projection for the loc/lastmod pair
    // explode, one hash agg folding the ledger, one left join — the
    // whole daily schedule in two exchanges)
    QuerySpec("pipeline_recrawl", (s, dir) => {
      import s.implicits._
      val host = concat(lit("https://s"), col("doc_id") % 7,
        lit(".example"))
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>"),
        host, lit("/p/"), col("doc_id"),
        lit("</loc><lastmod>2026-0"), (col("doc_id") % 3) + 1,
        lit("-15</lastmod></url><url><loc>"),
        host, lit("/q/"), col("doc_id"),
        lit("</loc></url></urlset>"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val entries = docs.select(col("doc_id"),
          graft.functions.vfs_sitemap_locs(xml).as("ls"),
          graft.functions.vfs_sitemap_lastmods(xml).as("lm"))
        .select(col("doc_id"),
          posexplode(col("ls")).as(Seq("pos", "url")), col("lm"))
        .select(col("doc_id"), col("url"),
          element_at(col("lm"), col("pos").cast("int") + 1)
            .as("lastmod"))
      val crawled = docs.select(
          concat(host, lit("/p/"), col("doc_id")).as("url"),
          lit("2026-02-01").as("crawled_at"))
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select(concat(host, lit("/q/"), col("doc_id")).as("url"),
            lit("2026-01-01").as("crawled_at")))
      graft.operators.WebCuration.recrawlSet(entries, crawled)
        .select(col("doc_id"), col("url"), col("lastmod"),
          col("recrawl_reason"))
        .orderBy(col("doc_id").asc, col("url").asc)
    },
      // recrawl scheduling by residue: /p pages keep when their
      // rotated lastmod postdates the 2026-02-01 crawl (months 2 and
      // 3), /q pages keep when never crawled (odd docs)
      s"""SELECT doc_id,
        |  'https://s' || (doc_id % 7) || '.example/p/' || doc_id
        |    AS url,
        |  '2026-0' || ((doc_id % 3) + 1) || '-15' AS lastmod,
        |  'modified' AS recrawl_reason
        |FROM documents WHERE doc_id % 3 IN (1, 2)
        |UNION ALL
        |SELECT doc_id,
        |  'https://s' || (doc_id % 7) || '.example/q/' || doc_id,
        |  '', 'never_crawled'
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id ASC, url ASC""".stripMargin),

    // ---- CONDITIONAL recrawl: the ledger and a fresh probe sweep
    // both carry the fetch validators (Last-Modified/ETag, the
    // web_warc_headers columns) — a matching ETag SKIPS the page
    // even when the sitemap lastmod moved, a changed validator
    // recrawls regardless, validator-less pages fall back to the
    // sitemap arithmetic, /q pages are never in the ledger ----
    QuerySpec("pipeline_recrawl_conditional", (s, dir) => {
      val host = concat(lit("https://t"), col("doc_id") % 7,
        lit(".example"))
      val pUrl = concat(host, lit("/p/"), col("doc_id"))
      val qUrl = concat(host, lit("/q/"), col("doc_id"))
      val lastmod = concat(lit("2026-0"), (col("doc_id") % 3) + 1,
        lit("-15"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val entries = docs.select(col("doc_id"), pUrl.as("url"),
          lastmod.as("lastmod"))
        .unionByName(docs.select(col("doc_id"), qUrl.as("url"),
          lit("").as("lastmod")))
      val v = col("doc_id") % 5
      val lmOld = lit("Wed, 01 Jan 2026 00:00:00 GMT")
      val lmNew = lit("Thu, 05 Feb 2026 00:00:00 GMT")
      val crawled = docs.select(pUrl.as("url"),
        lit("2026-02-01").as("crawled_at"),
        when(v.isin(0L, 1L), concat(lit("\"e"), col("doc_id"),
          lit("\""))).otherwise(lit("")).as("etag"),
        when(v.isin(2L, 3L), lmOld).otherwise(lit(""))
          .as("last_modified"))
      val probes = docs.select(pUrl.as("url"),
        when(v === 0, concat(lit("\"e"), col("doc_id"), lit("\"")))
          .when(v === 1, concat(lit("\"f"), col("doc_id"), lit("\"")))
          .otherwise(lit("")).as("etag"),
        when(v === 2, lmOld).when(v === 3, lmNew).otherwise(lit(""))
          .as("last_modified"))
      graft.operators.WebCuration
        .recrawlSetConditional(entries, crawled, probes)
        .select(col("doc_id"), col("url"), col("lastmod"),
          col("recrawl_reason"))
        .orderBy(col("doc_id").asc, col("url").asc)
    },
      // conditional recrawl by residue: ETag/Last-Modified validator
      // pairs decide first (changed → recrawl, matched → skip even
      // when the sitemap lastmod moved), validator-less residue 4
      // falls back to the sitemap arithmetic, /q pages are never in
      // the ledger
      s"""SELECT doc_id,
        |  'https://t' || (doc_id % 7) || '.example/p/' || doc_id
        |    AS url,
        |  '2026-0' || ((doc_id % 3) + 1) || '-15' AS lastmod,
        |  'validator_changed' AS recrawl_reason
        |FROM documents WHERE doc_id % 5 IN (1, 3)
        |UNION ALL
        |SELECT doc_id,
        |  'https://t' || (doc_id % 7) || '.example/p/' || doc_id,
        |  '2026-0' || ((doc_id % 3) + 1) || '-15',
        |  'modified'
        |FROM documents WHERE doc_id % 5 = 4 AND doc_id % 3 IN (1, 2)
        |UNION ALL
        |SELECT doc_id,
        |  'https://t' || (doc_id % 7) || '.example/q/' || doc_id,
        |  '', 'never_crawled'
        |FROM documents
        |ORDER BY doc_id ASC, url ASC""".stripMargin),

    // ---- the governance drop report: blocklist → robots gate →
    // opt-out directives, each stage's counts residue-derivable
    // (the unquoted residue-3 meta pins the HTML5 attribute fix
    // through the oracle) ----
    QuerySpec("pipeline_governance_report", (s, dir) => {
      import s.implicits._
      val url = concat(lit("https://g"), col("doc_id") % 5,
        lit(".example"),
        when(col("doc_id") % 2 === 1, lit("/x/")).otherwise(lit("/p/")),
        col("doc_id"))
      val meta = when(col("doc_id") % 6 === 2,
          lit("<meta name=\"robots\" content=\"noindex\">"))
        .when(col("doc_id") % 6 === 3,
          lit("<meta name=robots content=noai>"))
        .otherwise(lit(""))
      val page = concat(lit("<html><head>"), meta,
        lit("</head><body><p>b</p></body></html>"))
      val header = when(col("doc_id") % 7 === 0, lit("noai"))
        .otherwise(lit(null).cast("string"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), url.as("url"), page.as("html"),
          header.as("x_robots_tag"))
      val robots = Seq(("g0.example", "User-agent: *\nDisallow: /x\n"))
        .toDF("host", "robots_txt")
      graft.operators.WebCuration.governanceReport(pages, robots,
          Seq("g4.example"), "graftbot", headerCol = "x_robots_tag")
        .orderBy(col("stage").asc)
    },
      // governance drop accounting: blocklist (host g4), robots gate
      // (g0's /x paths), opt-out (meta residues 2/3 — one quoted, one
      // UNQUOTED — plus the noai header every 7th doc), sequential
      s"""WITH a AS (SELECT count(*) AS n0,
        |    sum(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END) AS d1,
        |    sum(CASE WHEN doc_id % 5 = 0 AND doc_id % 2 = 1
        |      THEN 1 ELSE 0 END) AS d2,
        |    sum(CASE WHEN doc_id % 5 <> 4
        |      AND NOT (doc_id % 5 = 0 AND doc_id % 2 = 1)
        |      AND (doc_id % 6 IN (2, 3) OR doc_id % 7 = 0)
        |      THEN 1 ELSE 0 END) AS d3
        |  FROM documents)
        |SELECT CAST(1 AS BIGINT) AS stage, 'blocklist' AS stage_name,
        |  CAST(n0 AS BIGINT) AS rows_in,
        |  CAST(n0 - d1 AS BIGINT) AS rows_out,
        |  CAST(d1 AS BIGINT) AS dropped FROM a
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'robots', CAST(n0 - d1 AS BIGINT),
        |  CAST(n0 - d1 - d2 AS BIGINT), CAST(d2 AS BIGINT) FROM a
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'optout',
        |  CAST(n0 - d1 - d2 AS BIGINT),
        |  CAST(n0 - d1 - d2 - d3 AS BIGINT), CAST(d3 AS BIGINT) FROM a
        |ORDER BY stage ASC""".stripMargin),

    // ---- the web stage-0 pipeline as ONE query: blocklist -> URL
    // keep-first -> per-domain cap (2 longest per domain) — proves
    // the family composes with no work-column collisions (keep-first
    // drops its __nu/__rn before the cap's rankedTopN reserves
    // __rn/__st/__rk) ----
    QuerySpec("pipeline_web_curate", (s, dir) => {
      import graft.operators.WebCuration
      val gated = WebCuration.blocklistFilter(webUrls(s, dir), "url",
        (1 to 5).map(k => s"src$k.co.uk"))
      val kept = WebCuration.urlKeepFirst(gated)
      WebCuration.capPerDomain(kept, "url", negate(col("n_chars")),
          col("doc_id"), n = 2)
        .select(col("doc_id"),
          WebCuration.urlDomain(col("url")).as("domain"))
        .orderBy(col("domain").asc, col("doc_id").asc)
    },
      s"""WITH $webUrlCtes,
         |pg AS (SELECT * FROM wn WHERE domain NOT IN ('src1.co.uk',
         |  'src2.co.uk', 'src3.co.uk', 'src4.co.uk', 'src5.co.uk')),
         |pk AS (SELECT *, row_number() OVER (PARTITION BY norm_url
         |    ORDER BY doc_id ASC) AS krn FROM pg),
         |pc AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn
         |  FROM pk WHERE krn = 1)
         |SELECT doc_id, domain FROM pc WHERE rn <= 2
         |ORDER BY domain ASC, doc_id ASC""".stripMargin),

    // ---- the curation audit report: per-language-shard totals over
    // the packed output (docs, tokens, bins, overflows) — the one
    // aggregate every production curation run logs ----
    QuerySpec("pipeline_curate_report", (s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      graft.operators.Curation.curateReport(
          s.read.parquet(s"$dir/documents.parquet"), model)
        .orderBy(col("lang_code").asc)
    },
      pipelineCurateReportOracle)
  )

  /** The CLEAN-then-curate composition: the boilerplate strip's kept
    * lines become the curate chain's input text — stage 0 of the full
    * training-data flow feeding stages 1-4, proving the two pipelines
    * compose without CTE or work-column collisions. Docs whose every
    * line was boilerplate (or blank) drop before the gate. */
  private def pipelineCleanCurateOracle: String =
    s"""WITH RECURSIVE $boilerplateCtes,
       |cleaned AS (SELECT doc_id,
       |    array_to_string(kept, chr(10)) AS text
       |  FROM bout WHERE len(kept) > 0),
       |${pipelineCurateChain("cleaned")}
       |SELECT doc_id, CAST(lang_code AS BIGINT) AS lang_code,
       |  n AS n_tokens, bin_id, bin_off,
       |  CAST(CASE WHEN n > 256 THEN 1 ELSE 0 END AS BIGINT) AS overflow
       |FROM f ORDER BY doc_id ASC""".stripMargin

  /** The WARC-fed composition: the WET text (the web_warc_extract
    * derivation — title/heading/normalized-prose/links chain, exact
    * because the page synthesis is invertible) becomes the curate
    * chain's input, so the whole CC front end (framing, gzip,
    * charset sniff, HTML extraction) sits UNDER the quality gate,
    * near-dup, langid, and packing stages of ONE oracle replay. */
  private def pipelineWarcCurateOracle: String =
    s"""WITH RECURSIVE nrm AS (SELECT doc_id,
       |    array_to_string(list_filter(list_transform(
       |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
       |        chr(10)),
       |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
       |  FROM documents),
       |wet AS (SELECT doc_id,
       |    'Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
       |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
       |    chr(10) || 'one and two' AS text
       |  FROM nrm),
       |${pipelineCurateChain("wet")}
       |SELECT doc_id, CAST(lang_code AS BIGINT) AS lang_code,
       |  n AS n_tokens, bin_id, bin_off,
       |  CAST(CASE WHEN n > 256 THEN 1 ELSE 0 END AS BIGINT) AS overflow
       |FROM f ORDER BY doc_id ASC""".stripMargin

  /** [[pipelineCurateOracle]] folded to the per-shard audit report —
    * the `Curation.curateReport` twin (one group-by over the packed
    * recurrence's output). */
  private def pipelineCurateReportOracle: String =
    s"""$pipelineCurateCtes
       |SELECT CAST(lang_code AS BIGINT) AS lang_code,
       |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
       |  CAST(sum(CASE WHEN n > 256 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_overflow
       |FROM f GROUP BY 1 ORDER BY lang_code ASC""".stripMargin
}
