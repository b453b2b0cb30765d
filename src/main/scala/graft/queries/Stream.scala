package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming operators (`stream_*`), each run over a static frame so
  * its oracle is the batch rule it must match. */
object StreamQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- the streaming boilerplate loop's single-batch run: batch 0
    // builds the standing LineIndex from its own counts and strips
    // itself against them — identical to the one-shot form, so the
    // row shares its oracle ----
    QuerySpec("stream_boilerplate", (s, dir) => {
      val corpus = java.nio.file.Files
        .createTempDirectory("verify-boiler-ing").toString
      graft.streaming.Ingest.boilerplateBatch(
        boilerplatePages(s, dir), 0L, corpus, minDocFreq = 5L)
      s.read.parquet(s"$corpus/docs/batch=0")
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          col("clean_text"))
        .orderBy(col("doc_id").asc)
    },
      // the streaming loop's batch-0 body: build + self-strip == one-shot
      boilerplateOracle),

    // ---- the streaming decontamination loop, single-batch run (how
    // the oracle can see it): docs whose duplicated-token fraction
    // exceeds 0.5 drop, survivors land batch-addressed ----
    QuerySpec("stream_substring_dedup", (s, dir) => {
      val corpus = java.nio.file.Files
        .createTempDirectory("verify-substr-ing").toString
      graft.streaming.Ingest.substringDedupBatch(
        s.read.parquet(s"$dir/documents.parquet"), batchId = 0L,
        corpusDir = corpus, k = 4, maxDupFrac = 0.5)
      s.read.parquet(s"$corpus/docs")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long")
            .as("n_tokens"))
        .orderBy(col("doc_id").asc)
    },
      // survivors of the single-batch streaming decontamination loop:
      // keep iff duplicated tokens <= half the doc (shared span CTEs)
      s"""WITH ${substringSpanCtes(substringKeepFirstDu)},
         |sp AS (SELECT doc_id, min(idx) AS ss, max(idx) + 4 AS se
         |  FROM i GROUP BY doc_id, grp),
         |dt AS (SELECT doc_id, CAST(sum(se - ss) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens
         |FROM t LEFT JOIN dt ON t.doc_id = dt.doc_id
         |WHERE coalesce(dt.dup_tokens, 0) <= len(t.w) * 0.5
         |ORDER BY t.doc_id ASC""".stripMargin),

    // ---- streaming quality gate (single-batch run of the
    // filter-before-store ingest loop): a deterministic multi-line
    // page is built per doc (same construction in the oracle) —
    // every 7th doc trips the C4 page drop ('lorem ipsum {'), every
    // 5th fails Gopher's ellipsis-line rule (3 of 9 lines end
    // '...'), the rest pass both cascades and land with cleaned
    // text + headline signals ----
    QuerySpec("stream_quality_filter", (s, dir) => {
      val page = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(
          lit("The quick section about "), substring(col("text"), 1, 40),
          lit(" ends well here.\nToo short.\n"),
          lit("Please enable JavaScript to continue reading now.\n"),
          substring(col("text"), 41, 80),
          lit("\nThis sentence is long enough to satisfy the filter.\n"),
          lit("We keep that pace and write of many decent things " +
            "here to finish."),
          when(col("doc_id") % 7 === 0, lit("\nlorem ipsum {"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\nwait for it...\nand more to come...\nstill going on..."))
            .otherwise(lit(""))).as("text"))
      val out = java.nio.file.Files
        .createTempDirectory("verify-quality-ing").toString
      graft.streaming.Ingest.qualityGateBatch(page, batchId = 0L,
        outDir = out, minWords = 5, minKeptLines = 1)
      s.read.parquet(s"$out/batch=0")
        .select(col("doc_id"), col("text"), col("n_words"),
          col("stop_hits"), col("n_kept"))
        .orderBy(col("doc_id").asc)
    },
      qualityFilterOracle),

    // ---- streaming language routing: the frozen trigram model
    // scores each micro-batch and docs land PARTITIONED by predicted
    // language under a batch-addressed dir (per-language downstream
    // pipelines prune to their partition). The batch body over the
    // full table IS the batch scoring, so the row shares
    // text_langid_ngram's oracle derivation ----
    QuerySpec("stream_langid_route", (s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus
          .toDF("lang", "text"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val out = java.nio.file.Files
        .createTempDirectory("verify-langid-route").toString
      graft.streaming.Ingest.langIdRouteBatch(docs, batchId = 0L,
        model = model, outDir = out, keepLangs = Nil)
      s.read.parquet(s"$out/batch=0")
        .select(col("doc_id"), col("lang_pred"), col("matched"),
          col("score_milli"))
        .orderBy(col("doc_id").asc)
    },
      // the routed stream's batch body lands the identical scoring,
      // partitioned by lang_pred (keepLangs = all)
      langIdNgramOracle),

    // ---- the STREAMING page front door: one micro-batch of raw
    // pages through pageExtractBatch — extracted docs and the link
    // frontier land batch-addressed; the joined read-back must match
    // the web_html_extract derivation ----
    QuerySpec("stream_page_extract", (s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), html.as("html"))
      val out = java.nio.file.Files
        .createTempDirectory("verify-pages").toString
      graft.streaming.Ingest.pageExtractBatch(pages, 2L, out)
      val docs = s.read.parquet(s"$out/docs/batch=2")
        .select(col("doc_id"), col("title"),
          md5(col("text")).as("text_md5"))
      val nl = s.read.parquet(s"$out/links/batch=2")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_links"))
      docs.join(nl, "doc_id")
        .withColumn("batch_id", lit(2L))
        .orderBy(col("doc_id").asc)
    },
      // the streaming front door lands the same extraction
      // batch-addressed
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  'Doc & ' || doc_id AS title,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5,
        |  CAST(2 AS BIGINT) AS n_links,
        |  CAST(2 AS BIGINT) AS batch_id
        |FROM n ORDER BY doc_id ASC""".stripMargin),

    // ---- the recrawl scheduler's STREAMING twin: the same
    // instant-compare arithmetic as pipeline_recrawl riding a
    // stream-static join, plus the per-URL emitted-guard state —
    // over a static frame the fold replays the batch operator
    // exactly (unique fixture urls make the dedup the identity);
    // SLIM schema, the stream_politeness_schedule stance ----
    QuerySpec("stream_recrawl", (s, dir) => {
      import s.implicits._
      val host = concat(lit("https://s"), col("doc_id") % 7,
        lit(".example"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val entries = docs.select(col("doc_id"),
          concat(host, lit("/p/"), col("doc_id")).as("url"),
          concat(lit("2026-0"), (col("doc_id") % 3) + 1,
            lit("-15")).as("lastmod"))
        .unionByName(docs.select(col("doc_id"),
          concat(host, lit("/q/"), col("doc_id")).as("url"),
          lit("").as("lastmod")))
      val crawled = docs.select(
          concat(host, lit("/p/"), col("doc_id")).as("url"),
          lit("2026-02-01").as("crawled_at"))
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select(concat(host, lit("/q/"), col("doc_id")).as("url"),
            lit("2026-01-01").as("crawled_at")))
      graft.streaming.Ingest.recrawlStream(entries, crawled)
        .orderBy(col("url").asc)
    },
      // the streaming recrawl twin replays pipeline_recrawl's
      // arithmetic over the slim schema (unique urls → the per-URL
      // emitted-guard dedup is the identity)
      s"""SELECT
        |  'https://s' || (doc_id % 7) || '.example/p/' || doc_id
        |    AS url,
        |  '2026-0' || ((doc_id % 3) + 1) || '-15' AS lastmod,
        |  'modified' AS recrawl_reason
        |FROM documents WHERE doc_id % 3 IN (1, 2)
        |UNION ALL
        |SELECT
        |  'https://s' || (doc_id % 7) || '.example/q/' || doc_id,
        |  '', 'never_crawled'
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY url ASC""".stripMargin),

    // ---- the politeness schedule's STREAMING twin: the same
    // per-host ordinal assignment as a stateful fold (state = one
    // long per host, continuing across micro-batches) — over a
    // static frame the fold runs in one pass with empty state, so
    // the row replays web_politeness_schedule's arithmetic exactly
    // (the flatMapGroupsWithState oracle shape, no mode flag — the
    // fold has no watermark to gate) ----
    // Plan (expect: the politeness stage join feeding ONE
    // FlatMapGroupsWithState — per-host state replaces the window sort;
    // no second exchange)
    QuerySpec("stream_politeness_schedule", (s, dir) => {
      import s.implicits._
      val urls = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://h"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("url"))
      val robots = Seq(
        ("h0.example",
          "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /x\n"),
        ("h1.example", "User-agent: *\nCrawl-delay: 0.5\n"))
        .toDF("host", "robots_txt")
      graft.streaming.Ingest
        .politenessStream(urls, robots, "graftbot")
        .select(col("doc_id"), col("host"), col("delay_milli"),
          col("fetch_seq"), col("fetch_at_milli"))
        .orderBy(col("doc_id").asc)
    },
      // the streaming politeness fold in batchMode replays the batch
      // window's arithmetic exactly
      s"""SELECT doc_id,
        |  'h' || (doc_id % 5) || '.example' AS host,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 2000 WHEN 1 THEN 500
        |    ELSE 1000 END AS BIGINT) AS delay_milli,
        |  CAST(doc_id // 5 + 1 AS BIGINT) AS fetch_seq,
        |  CAST((doc_id // 5) * (CASE doc_id % 5 WHEN 0 THEN 2000
        |    WHEN 1 THEN 500 ELSE 1000 END) AS BIGINT)
        |    AS fetch_at_milli
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- the streaming WARC front door: one micro-batch of RAW
    // ARCHIVES (damage rotating by doc_id % 4 — clean / truncated
    // framing / declared-br body / clean gzip) through the
    // quarantining walk + charset-sniffed extraction; clean pages
    // land in docs/ (charset surfaced), damaged records land in
    // quarantine/ with their recovered identity — one output row per
    // doc either way ----
    QuerySpec("stream_warc_extract", (s, dir) => {
      import s.implicits._
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://w"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          encode(html, "UTF-8").as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, uri, page) =>
            val arc = (id % 4) match {
              case 1 =>
                val f = graft.operators.Warc.encodeArchive(uri, page)
                java.util.Arrays.copyOf(f, f.length - 8)
              case 2 => graft.operators.Warc.encodeArchive(uri, page,
                bodyCoding = 4)
              case 3 => graft.operators.Warc.encodeArchive(uri, page,
                gzip = true)
              case _ => graft.operators.Warc.encodeArchive(uri, page)
            }
            (id, arc)
          }
        }.toDF("doc_id", "warc")
      val out = java.nio.file.Files
        .createTempDirectory("verify-warc-stream").toString
      graft.streaming.Ingest.warcExtractBatch(warcs, 6L, out)
      val docs = s.read.parquet(s"$out/docs/batch=6")
        .select(col("doc_id"), lit("ok").as("status"),
          col("charset").as("detail"), md5(col("text")).as("text_md5"))
      val quarantined = s.read.parquet(s"$out/quarantine/batch=6")
        .select(col("doc_id"), lit("err").as("status"),
          col("rec_type").as("detail"),
          lit(null).cast("string").as("text_md5"))
      docs.unionByName(quarantined).orderBy(col("doc_id").asc)
    },
      // the streaming WARC front door: clean residues (0 = identity,
      // 3 = gzip) land with the standard md5 chain and charset UTF-8;
      // damaged residues (1 = truncated framing -> type unrecovered,
      // 2 = br body -> identity kept) land in quarantine
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id, 'ok' AS status, 'UTF-8' AS detail,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5
        |FROM n WHERE doc_id % 4 IN (0, 3)
        |UNION ALL
        |SELECT doc_id, 'err',
        |  CASE WHEN doc_id % 4 = 1 THEN '' ELSE 'response' END,
        |  NULL
        |FROM documents WHERE doc_id % 4 IN (1, 2)
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- the streaming page front door in MAIN-CONTENT mode: the
    // chrome-laden pages land with nav/form/footer text suppressed,
    // while the link frontier still carries the nav link ----
    QuerySpec("stream_page_extract_main", (s, dir) => {
      val page = chromePageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), page.as("html"))
      val out = java.nio.file.Files
        .createTempDirectory("verify-pages-main").toString
      graft.streaming.Ingest.pageExtractBatch(pages, 4L, out,
        mainOnly = true)
      val docs = s.read.parquet(s"$out/docs/batch=4")
        .select(col("doc_id"), col("title"),
          md5(col("text")).as("text_md5"))
      val nl = s.read.parquet(s"$out/links/batch=4")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_links"))
      docs.join(nl, "doc_id")
        .withColumn("batch_id", lit(4L))
        .orderBy(col("doc_id").asc)
    },
      // the main-content streaming front door: chrome suppressed in
      // the landed text, the nav link still in the frontier
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  'Main ' || doc_id AS title,
        |  md5('Main ' || doc_id || chr(10) || 'Doc ' || doc_id ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END)
        |    AS text_md5,
        |  CAST(1 AS BIGINT) AS n_links,
        |  CAST(4 AS BIGINT) AS batch_id
        |FROM n ORDER BY doc_id ASC""".stripMargin),

    // ---- the STREAMING loop's batch-0 run over the whole corpus:
    // standing seen set empty, so within-batch keep-first decides;
    // survivors land batch-addressed through the actual foreachBatch
    // body (replay-idempotent by construction) ----
    QuerySpec("stream_url_dedup", (s, dir) => {
      val cd = java.nio.file.Files
        .createTempDirectory("verify-urlstream").toString
      graft.streaming.Ingest.urlDedupBatch(webUrls(s, dir), 0L, cd)
      s.read.parquet(s"$cd/docs/batch=0")
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id").asc)
    },
      s"""WITH $webUrlCtes,
         |k AS (SELECT doc_id, url,
         |    row_number() OVER (PARTITION BY norm_url
         |      ORDER BY doc_id ASC) AS rn FROM wn)
         |SELECT doc_id, url FROM k WHERE rn = 1
         |ORDER BY doc_id ASC""".stripMargin),

    // ---- PSL attribution in the STREAMING URL loop: the landed rows
    // of a urlDedupBatch carry psl_domain (the per-row projection
    // rides the landing write — zero extra shuffle), so the streaming
    // surface stays at parity with the batch cap ----
    QuerySpec("stream_url_psl", (s, dir) => {
      val cd = java.nio.file.Files
        .createTempDirectory("verify-urlpslstream").toString
      graft.streaming.Ingest.urlDedupBatch(webPslUrls(s, dir), 0L, cd,
        psl = graft.operators.WebCuration.PslSampleSnapshot)
      s.read.parquet(s"$cd/docs/batch=0")
        .select(col("doc_id"), col("url"), col("psl_domain"))
        .orderBy(col("doc_id").asc)
    },
      // streaming URL loop with PSL attribution: every fixture URL is
      // unique (doc_id-embedded), so batch 0 lands every row — with its
      // psl_domain projection
      s"""WITH $webPslCtes
         |SELECT pu.doc_id, pu.url, pd.domain AS psl_domain
         |FROM pu JOIN pd ON pu.doc_id = pd.doc_id
         |ORDER BY pu.doc_id ASC""".stripMargin),

    // ---- the STREAMING curation loop's single-batch run: quality
    // gate → LSH near-dup keep-first (standing corpus empty, so the
    // within-batch verdict decides) → langid route of the landed
    // survivors into language-partitioned shards. The batch twin of
    // pipeline_curate_e2e's first three stages, exercised through
    // the actual foreachBatch body ----
    QuerySpec("stream_curate", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      val cd = java.nio.file.Files
        .createTempDirectory("verify-curate").toString
      graft.streaming.Ingest.curateBatch(docs, 0L, cd, model,
        minQualityMilli = 650L, minTokens = 20L, maxTokens = 90L,
        threshold = 0.9, bands = 16, rowsPerBand = 4, maxBucket = 1000,
        keepLangs = Nil)
      s.read.parquet(s"$cd/routed/batch=0")
        .select(col("doc_id"), col("lang_pred"), col("matched"),
          col("score_milli"))
        .orderBy(col("doc_id").asc)
    },
      streamCurateOracle),

    // ---- the alignment loop: the even half arrives as a batch and
    // mines against a STANDING IVF artifact over the odd half
    // (marginMineBatch — the foreachBatch body the stream runs).
    // Full probe width makes the delta path exact, so the row shares
    // the operator row's oracle with batch_id folded in ----
    QuerySpec("stream_margin_mining", (s, dir) => {
      val e = emb(s, dir)
      val tgt = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("id"), col("embedding").as("values"))
      val base = java.nio.file.Files
        .createTempDirectory("verify-minestream").toString
      graft.operators.IvfIndex.build(tgt, s"$base/tgt", nCentroids = 4)
      graft.streaming.Ingest.marginMineBatch(
        e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("id"), col("embedding").as("values")),
        0L, s"$base/tgt", tgt, s"$base/out", k = 4, nProbe = 4,
        minMarginMilli = 1000L, idCol = "id", vecCol = "values")
      s.read.parquet(s"$base/out/batch=0")
        .select(col("src_id"), col("tgt_id"), col("sim_micro"),
          col("margin_milli"), col("batch_id"))
        .orderBy(col("src_id").asc)
    },
      s"""$miningMarginCtes
         |SELECT src_id, tgt_id, sim_micro, margin_milli,
         |  CAST(0 AS BIGINT) AS batch_id
         |FROM ranked
         |WHERE cand_rank = 1 AND margin_milli >= 1000
         |ORDER BY src_id ASC""".stripMargin),

    // ---- event-time windowed aggregation (streaming shape, batch run) ----
    QuerySpec("stream_window_agg", (s, dir) => {
      graft.streaming.Ingest
        .windowedEventCounts(events(s, dir), batchMode = true)
        .orderBy(col("ws").asc, col("event_type").asc)
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  event_type, count(*) AS n,
        |  CAST(round(sum(value) * 100) AS BIGINT) AS value_c
        |FROM events GROUP BY 1, 2
        |ORDER BY ws ASC, event_type ASC""".stripMargin),

    // ---- streaming OHLC bars (batch-mode twin of ohlcStream: same
    // plan Structured Streaming runs, oracle-checkable) ----
    QuerySpec("stream_ohlc", (s, dir) => {
      graft.streaming.Ingest
        .ohlcStream(events(s, dir), batchMode = true)
        .orderBy(col("ws").asc, col("k").asc)
    },
      // streaming twin: hour windows as formatted strings (the window()
      // tumbling bucket == date_trunc for epoch-aligned hour windows)
      """WITH e AS (SELECT event_type AS k,
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events)
        |SELECT ws, k, count(*) AS n,
        |  (min(struct_pack(us := us, v := v))).v AS open_c,
        |  max(v) AS high_c, min(v) AS low_c,
        |  (max(struct_pack(us := us, v := v))).v AS close_c
        |FROM e GROUP BY ws, k
        |ORDER BY ws ASC, k ASC""".stripMargin),

    // ---- streaming ordered funnel (batch-mode run of the
    // flatMapGroupsWithState completion stream + count rollup,
    // zero-filled from the static step list — hash-matches q_funnel's
    // oracle) ----
    QuerySpec("stream_funnel", (s, dir) => {
      val steps = Seq("signup", "view", "click", "purchase")
      val completions = graft.streaming.Ingest.funnelStream(
        events(s, dir), steps, batchMode = true)
      import s.implicits._
      steps.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("step", "event_type")
        .join(completions.groupBy(col("step"), col("event_type"))
            .agg(count(lit(1)).as("n_keys")),
          Seq("step", "event_type"), "left")
        .select(col("step"), col("event_type"),
          coalesce(col("n_keys"), lit(0L)).as("n_keys"))
        .orderBy(col("step").asc)
    },
      // the streaming completions, rolled up and zero-filled, equal the
      // batch funnel — same oracle derivation as q_funnel
      """WITH s0 AS (SELECT user_id AS k, min(epoch_us(ts)) AS su
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s0 ON e.user_id = s0.k
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s0.su
        |  GROUP BY 1),
        |s2 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s1 ON e.user_id = s1.k
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.su
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s2 ON e.user_id = s2.k
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.su
        |  GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS event_type,
        |  count(*) AS n_keys FROM s0
        |UNION ALL SELECT 1, 'view', count(*) FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |ORDER BY step ASC""".stripMargin),

    // ---- streaming cohort retention (batch-mode run of the
    // flatMapGroupsWithState increment stream + the downstream count
    // rollup — hash-matches the batch retention twin) ----
    QuerySpec("stream_retention", (s, dir) => {
      graft.streaming.Ingest
        .retentionStream(events(s, dir), keyCol = "user_id",
          tsCol = "ts", bucketSec = 86400L, batchMode = true)
        .groupBy(col("cohort"), col("bucket_offset"))
        .agg(count(lit(1)).as("n_keys"))
        .orderBy(col("cohort").asc, col("bucket_offset").asc)
    },
      // the streaming increments, rolled up, equal the batch retention
      // table — same oracle derivation
      """WITH e AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 1000000 AS bucket
        |  FROM events),
        |c AS (SELECT user_id, min(bucket) AS cohort FROM e GROUP BY user_id)
        |SELECT c.cohort, (e.bucket - c.cohort) // 86400 AS bucket_offset,
        |  count(*) AS n_keys
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort ASC, bucket_offset ASC""".stripMargin),

    // ---- streaming gap sessionization (batch-mode run of the
    // flatMapGroupsWithState session stream — O(1) state per key,
    // sessions emit the instant they become unclosable; hash-matches
    // the batch w_sessionize window exactly) ----
    QuerySpec("stream_sessionize", (s, dir) => {
      graft.streaming.Ingest
        .sessionizeStream(events(s, dir), keyCol = "user_id",
          tsCol = "ts", gapSec = 1800L, batchMode = true)
        .orderBy(col("user_id").asc, col("session_id").asc)
    },
      // the emitted session rows equal the batch gap-sessionization —
      // same oracle derivation as w_sessionize
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, us,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS session_id FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(us) AS start_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id ASC, session_id ASC""".stripMargin),

    // string-keyed twin: UUID-style keys group by the string itself
    // (no lossy cast); the prefixed key is a bijection of user_id so
    // DuckDB re-derives the same sessions under the same string keys
    QuerySpec("stream_sessionize_strkey", (s, dir) => {
      graft.streaming.Ingest
        .sessionizeStream(
          events(s, dir).withColumn("user_id",
            concat(lit("u-"), col("user_id").cast("string"))),
          keyCol = "user_id", tsCol = "ts", gapSec = 1800L,
          batchMode = true)
        .orderBy(col("user_id").asc, col("session_id").asc)
    },
      """WITH e AS (SELECT concat('u-', CAST(user_id AS VARCHAR)) AS user_id,
        |  epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, us,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS session_id FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(us) AS start_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id ASC, session_id ASC""".stripMargin),

    // ---- the STREAMING DSIR scoring loop's batch-0 run: word models
    // frozen to standing saveWordModel artifacts (target = src0, raw
    // = whole corpus), the batch scored against them through the
    // actual foreachBatch body and landed batch-addressed
    // (replay-idempotent by construction) ----
    QuerySpec("stream_dsir_score", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = java.nio.file.Files
        .createTempDirectory("verify-dsirstream").toString
      TextAnalysis.saveWordModel(
        TextAnalysis.wordModel(docs.filter(col("source") === "src0")),
        s"$base/target_wm")
      TextAnalysis.saveWordModel(TextAnalysis.wordModel(docs),
        s"$base/raw_wm")
      graft.streaming.Ingest.dsirScoreBatch(docs, 0L,
        TextAnalysis.loadWordModel(s, s"$base/target_wm"),
        TextAnalysis.loadWordModel(s, s"$base/raw_wm"),
        s"$base/out", alphaMilli = 0L, "doc_id", "text")
      s.read.parquet(s"$base/out/batch=0")
        .select(col("doc_id"), col("source"), col("n_words"),
          col("imp_milli"), col("batch_id"))
        .orderBy(col("doc_id").asc)
    },
      // the streaming DSIR loop's batch-0 run scores against frozen
      // artifacts trained on the same split — the unigram chain + the
      // constant batch id
      s"""WITH $dsirCtes
         |SELECT d.doc_id, d.source, i.n_words, i.imp_milli,
         |  CAST(0 AS BIGINT) AS batch_id
         |FROM documents d JOIN dimp i ON d.doc_id = i.doc_id
         |ORDER BY d.doc_id ASC""".stripMargin),

    // ---- the same loop in the hashed-BIGRAM feature space: standing
    // ngramModel artifacts (saveWordModel keeps the LONG bucket
    // column), the batch scored through importanceMilliNgram ----
    QuerySpec("stream_dsir_score_ngram", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = java.nio.file.Files
        .createTempDirectory("verify-dsirstream-ng").toString
      TextAnalysis.saveWordModel(
        TextAnalysis.ngramModel(docs.filter(col("source") === "src0"),
          n = 2, buckets = 4096), s"$base/target_wm")
      TextAnalysis.saveWordModel(
        TextAnalysis.ngramModel(docs, n = 2, buckets = 4096),
        s"$base/raw_wm")
      graft.streaming.Ingest.dsirScoreBatch(docs, 0L,
        TextAnalysis.loadWordModel(s, s"$base/target_wm"),
        TextAnalysis.loadWordModel(s, s"$base/raw_wm"),
        s"$base/out", 0L, "doc_id", "text", Some((2, 4096)))
      s.read.parquet(s"$base/out/batch=0")
        .select(col("doc_id"), col("source"), col("n_words"),
          col("imp_milli"), col("batch_id"))
        .orderBy(col("doc_id").asc)
    },
      // the bigram-bucket twin of the streaming scorer
      s"""WITH $dsirNgramCtes
         |SELECT d.doc_id, d.source, i.n_words, i.imp_milli,
         |  CAST(0 AS BIGINT) AS batch_id
         |FROM documents d JOIN nimp i ON d.doc_id = i.doc_id
         |ORDER BY d.doc_id ASC""".stripMargin),

    // ---- streaming media ingest with fingerprint dedup: ONE batch
    // of (id, sig) prints through the decontamination loop against
    // an empty standing corpus — within-batch near-dups (the
    // +900000 twins, hamming 0 of their originals, plus any
    // original-vs-original pair ≤ 3) drop keep-first, survivors
    // land in the standing SigIndex ----
    QuerySpec("stream_media_dedup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val all = docs.select((col("doc_id") * 3).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + lit(900000L)).as("doc_id"),
            col("text")))
      val prints = graft.operators.Multimodal.audioFingerprint(s,
          graft.operators.Multimodal.synthesizeMedia(all), window = 4)
        .select(col("doc_id").as("id"), col("sig"))
      val cd = java.nio.file.Files
        .createTempDirectory("verify-mediadedup").toString
      graft.streaming.Ingest.mediaDedupBatch(prints, cd,
        "audio-energy-w4", maxHamming = 3, maxBucket = 1000)
      s.read.parquet(s"$cd/sigidx/sigs")
        .select(col("id").as("doc_id"), col("sig"))
        .orderBy(col("doc_id").asc)
    },
      // the streaming ingest loop's single-batch run: survivors =
      // prints that are not the HIGHER id of any capped pair ≤ 3
      s"""WITH $audioSigCtes,
        |${sigBandFoldCtes(16)},
        |drops AS (SELECT DISTINCT pb FROM pairs
        |  WHERE bit_count(xor(sa, sb)) <= 3)
        |SELECT s2.doc_id, s2.s AS sig FROM sig s2
        |LEFT JOIN drops ON drops.pb = s2.doc_id
        |WHERE drops.pb IS NULL
        |ORDER BY s2.doc_id ASC""".stripMargin),

    // ---- the IMAGE twin of the streaming media-dedup loop: dHash
    // prints (real container decode → RGB → NN 9×8 → luma → delta
    // signs) through the same decontamination body under the frozen
    // "image-dhash-9x8" family — all three media modalities now have
    // the streaming loop ----
    QuerySpec("stream_media_dedup_image", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val all = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + 2 + lit(900000L)).as("doc_id"),
            col("text")))
      val prints = graft.operators.Multimodal.imageFingerprint(s,
          graft.operators.Multimodal.synthesizeMedia(all))
        .select(col("doc_id").as("id"), col("sig"))
      val cd = java.nio.file.Files
        .createTempDirectory("verify-mediadedup-img").toString
      graft.streaming.Ingest.mediaDedupBatch(prints, cd,
        "image-dhash-9x8", maxHamming = 3, maxBucket = 1000)
      s.read.parquet(s"$cd/sigidx/sigs")
        .select(col("id").as("doc_id"), col("sig"))
        .orderBy(col("doc_id").asc)
    },
      // the image twin: identical survivor rule over the dHash sig
      // derivation (imageSigCtes) under the shared banded fold
      s"""WITH $imageSigCtes,
        |${sigBandFoldCtes(16)},
        |drops AS (SELECT DISTINCT pb FROM pairs
        |  WHERE bit_count(xor(sa, sb)) <= 3)
        |SELECT s2.doc_id, s2.s AS sig FROM sig s2
        |LEFT JOIN drops ON drops.pb = s2.doc_id
        |WHERE drops.pb IS NULL
        |ORDER BY s2.doc_id ASC""".stripMargin),

    // ---- the STREAMING twin: one micro-batch of the same corrupt
    // corpus through mediaQuarantineBatch — clean prints land at
    // ok/batch=3, failures at quarantine/batch=3 (written even when
    // empty: a missing dir means "never ran", not "clean") ----
    QuerySpec("stream_media_quarantine", (s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("verify-quarantine").toString
      graft.streaming.Ingest.mediaQuarantineBatch(
        corruptedPpmCorpus(s, dir).toDF(), 3L, out)
      val ok = s.read.parquet(s"$out/ok/batch=3")
        .select(col("doc_id"), col("sig"), col("width"), col("height"),
          lit(false).as("quarantined"))
      val bad = s.read.parquet(s"$out/quarantine/batch=3")
        .select(col("doc_id"), lit(-1L).as("sig"), lit(-1).as("width"),
          lit(-1).as("height"), lit(true).as("quarantined"))
      ok.unionByName(bad).withColumn("batch_id", lit(3L))
        .orderBy(col("doc_id").asc)
    },
      // the streaming twin lands the same rows batch-addressed
      s"""WITH ${imageSigCtesOver(
              "SELECT doc_id * 3 + 2 AS doc_id, text FROM documents")}
        |SELECT p.doc_id,
        |  CASE WHEN p.doc_id % 37 = 0 THEN CAST(-1 AS BIGINT)
        |    ELSE sig.s END AS sig,
        |  CASE WHEN p.doc_id % 37 = 0 THEN -1 ELSE 4 END AS width,
        |  CASE WHEN p.doc_id % 37 = 0 THEN -1
        |    ELSE CAST(p.h AS INTEGER) END AS height,
        |  p.doc_id % 37 = 0 AS quarantined,
        |  CAST(3 AS BIGINT) AS batch_id
        |FROM p JOIN sig USING (doc_id)
        |ORDER BY doc_id ASC""".stripMargin)
  )

  /** The streaming curation loop's single-batch run re-derived:
    * quality gate, MinHash-LSH keep-first over the GATED subset
    * ([[minHashSigCtesOver]] — full signatures, banding, bucket cap,
    * exact-jaccard verify at 900 milli), language ID over the landed
    * survivors ([[langIdCtesOver]]) with the und/500 fallback. */
  private def streamCurateOracle: String =
    s"""WITH tq AS (SELECT doc_id, text,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |    CAST(length(text) AS DOUBLE) AS n_chars
       |  FROM documents),
       |q AS (SELECT doc_id, text FROM tq
       |  WHERE $qualityExprSql >= 650 AND
       |    len(string_split_regex(trim(text), '\\s+')) BETWEEN 20 AND 90),
       |${minHashSigCtesOver("q")},
       |bb AS (SELECT doc_id, band, sig[band*4+1 : band*4+4] AS bsig
       |  FROM (SELECT doc_id, sig, unnest(range(0, 16)) AS band FROM s)),
       |capped AS (SELECT doc_id, band, bsig FROM bb
       |  QUALIFY count(*) OVER (PARTITION BY band, bsig) <= 1000),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |drops AS (SELECT DISTINCT cand.b FROM cand
       |  JOIN w wa ON wa.doc_id = cand.a
       |  JOIN w wb ON wb.doc_id = cand.b
       |  WHERE round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE) * 1000.0
       |      / len(list_distinct(wa.ws || wb.ws))) >= 900),
       |surv AS (SELECT q.doc_id, q.text FROM q
       |  LEFT JOIN drops ON drops.b = q.doc_id WHERE drops.b IS NULL),
       |${langIdCtesOver("surv")}
       |SELECT s2.doc_id,
       |  coalesce(struct_extract(b2.b, 'lang'), 'und') AS lang_pred,
       |  CAST(coalesce(struct_extract(b2.b, 'matched'), 0) AS BIGINT)
       |    AS matched,
       |  CAST(coalesce(struct_extract(b2.b, 'score'), 500) AS BIGINT)
       |    AS score_milli
       |FROM surv s2 LEFT JOIN best b2 ON b2.doc_id = s2.doc_id
       |ORDER BY s2.doc_id ASC""".stripMargin
}
