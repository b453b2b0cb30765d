package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Web-corpus curation (`web_*`): HTML/WARC/PDF extraction, charsets,
  * robots, URL normalization and dedup, per-domain caps, link
  * resolution and crawl scheduling. */
object WebQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- HTML → text extraction (the WET-style step): markup
    // dropped, script/style/comment content dropped, entities
    // decoded, whitespace normalized — the oracle re-derives the
    // expected prose from the ORIGINAL text column because the
    // page synthesis is exactly invertible ----
    // Plan (expect: ONE codegen projection over the scan —
    // vfs_html_text/title/links are pure per-row kernels, no shuffle)
    QuerySpec("web_html_extract", (s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.vfs_html_title(html).as("title"),
          md5(graft.functions.vfs_html_text(html)).as("text_md5"),
          size(graft.functions.vfs_html_links(html)).cast("long")
            .as("n_links"))
        .orderBy(col("doc_id").asc)
    },
      // HTML extraction: the page synthesis is invertible, so the
      // expected prose derives from the raw text — title line, the
      // decoded-entity heading, the whitespace-normalized document
      // text (blank collapses away when empty), the link-text line
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
        |  CAST(2 AS BIGINT) AS n_links
        |FROM n ORDER BY doc_id ASC""".stripMargin),

    // ---- main-content scoping: a chrome-laden page (nav menu,
    // header banner, aside, cookie form, footer) around the same
    // invertible payload — the main variant must drop every chrome
    // line and keep title + <main> prose, while the WET-parity full
    // extraction keeps the chrome; both md5s derive from the
    // original text column ----
    // Plan (expect: the same ONE codegen projection shape as the full
    // extraction — the chrome suppression is a depth counter inside the
    // kernel, not a second pass)
    QuerySpec("web_html_extract_main", (s, dir) => {
      val page = chromePageOf(col("doc_id"), col("text"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          md5(graft.functions.vfs_html_main_text(page)).as("main_md5"),
          md5(graft.functions.vfs_html_text(page)).as("full_md5"))
        .orderBy(col("doc_id").asc)
    },
      // main-content scoping: the main variant keeps only the title
      // and the <main> prose; the WET-parity full extraction keeps
      // every chrome line too — both recomputed from the raw text
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  md5('Main ' || doc_id || chr(10) || 'Doc ' || doc_id ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END)
        |    AS main_md5,
        |  md5('Main ' || doc_id || chr(10) || 'Home' || chr(10) ||
        |    'About' || chr(10) || 'Site Chrome' || chr(10) ||
        |    'Related stuff' || chr(10) || 'We use cookies' || chr(10) ||
        |    'Doc ' || doc_id ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || '(c) site ' || doc_id) AS full_md5
        |FROM n ORDER BY doc_id ASC""".stripMargin),

    // ---- the link half: every <a href> in document order, feeding
    // the URL-curation family straight from raw pages ----
    QuerySpec("web_html_links", (s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          posexplode(graft.functions.vfs_html_links(html))
            .as(Seq("pos", "href")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("href"))
        .orderBy(col("doc_id").asc, col("pos").asc)
    },
      s"""SELECT doc_id, CAST(0 AS BIGINT) AS pos,
        |  'https://ex.com/a?id=' || doc_id || '&x=1' AS href
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT), '/rel/' || doc_id
        |FROM documents
        |ORDER BY doc_id ASC, pos ASC""".stripMargin),

    // ---- WARC (ISO 28500, the CommonCrawl format): every doc's
    // page wrapped in a real warcinfo+request+response archive
    // (every 3rd gzipped), parsed back and piped into the HTML
    // kernel — the full crawl front end in one row ----
    // Plan (expect: MapPartitions record-explode kernel under the
    // per-doc record-count aggregate + one doc_id join; the html kernel
    // rides the response projection — no second pass over the archive
    // bytes)
    QuerySpec("web_warc_extract", (s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://w"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          html.as("html"))
      val recs = graft.operators.Warc
        .records(s, graft.operators.Warc.synthesizeWarc(pages)).toDF()
      val resp = recs.filter(col("rec_type") === "response")
        .select(col("doc_id"), col("target_uri"),
          col("http_status").cast("long").as("http_status"),
          // charset-SNIFFED decode (the WHATWG transport tier reads
          // the record's Content-Type header — the synthesizer
          // declares charset=utf-8, the CC common case), surfaced as
          // a column so pipelines can stratify by encoding
          graft.functions.vfs_charset_detect(col("body"),
            col("content_type")).as("charset"),
          md5(graft.functions.vfs_html_text(
            graft.functions.vfs_charset_decode(col("body"),
              col("content_type")))).as("text_md5"))
      val counts = recs.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_records"))
      resp.join(counts, "doc_id").orderBy(col("doc_id").asc)
    },
      // WARC: response records must carry the page through framing
      // (and every 3rd archive through gzip) byte-exactly — the md5
      // chain is the web_html_extract derivation
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  'https://w' || (doc_id % 5) || '.example/p/' || doc_id
        |    AS target_uri,
        |  CAST(200 AS BIGINT) AS http_status,
        |  'UTF-8' AS charset,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5,
        |  CAST(3 AS BIGINT) AS n_records
        |FROM n ORDER BY doc_id ASC""".stripMargin),

    // ---- non-identity response bodies (the wget/heritrix WARC
    // shape): the body's wire coding rotates by doc_id % 4 —
    // identity / chunked / gzip Content-Encoding / chunked OVER
    // gzip — and the decode walk must return every page
    // byte-identically to the identity case (same md5 chain for all
    // four residues) ----
    // Plan (expect: the records() MapPartitions kernel unchanged —
    // dechunk + gunzip happen inside the per-record parse, zero extra
    // operators)
    QuerySpec("web_warc_transfer_codings", (s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://w"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          html.as("html"))
      val recs = graft.operators.Warc
        .records(s, graft.operators.Warc
          .synthesizeWarc(pages, bodyCodings = true)).toDF()
      recs.filter(col("rec_type") === "response")
        .select(col("doc_id"), (col("doc_id") % 4).as("body_coding"),
          col("http_status").cast("long").as("http_status"),
          md5(graft.functions.vfs_html_text(
            graft.functions.vfs_charset_decode(col("body"),
              col("content_type")))).as("text_md5"))
        .orderBy(col("doc_id").asc)
    },
      // non-identity bodies: dechunk + gunzip must hand the HTML
      // kernel the identity page for every coding residue — one md5
      // chain regardless of doc_id % 4
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id, doc_id % 4 AS body_coding,
        |  CAST(200 AS BIGINT) AS http_status,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5
        |FROM n ORDER BY doc_id ASC""".stripMargin),

    // ---- WARC response headers (the conditional-request
    // validators + the header-level opt-out channel): the walk
    // surfaces Last-Modified / ETag / X-Robots-Tag AS WRITTEN by
    // residue — absent headers read "" (the content_type/location
    // convention) ----
    QuerySpec("web_warc_headers", (s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, html) =>
            val uri = s"https://hd${id % 5}.example/p/$id"
            val lm = s"Sat, 0${id % 7 + 1} Feb 2026 00:00:00 GMT"
            val extras = (id % 4) match {
              case 0 => Nil
              case 1 => Seq("Last-Modified" -> lm)
              case 2 => Seq("ETag" -> s"""\"v$id\"""")
              case _ => Seq("Last-Modified" -> lm,
                "ETag" -> s"""W/\"v$id\"""",
                "X-Robots-Tag" -> "noai")
            }
            (id, graft.operators.Warc.encodeArchive(uri,
              html.getBytes("UTF-8"), extraHeaders = extras))
          }
        }.toDF("doc_id", "warc")
      graft.operators.Warc.records(s, warcs).toDF()
        .filter(col("rec_type") === "response")
        .select(col("doc_id"), col("target_uri"),
          col("last_modified"), col("etag"), col("x_robots_tag"))
        .orderBy(col("doc_id").asc)
    },
      // response headers by residue: the validators and the opt-out
      // header AS WRITTEN, "" when the synthesizer omitted them
      s"""SELECT doc_id,
        |  'https://hd' || (doc_id % 5) || '.example/p/' || doc_id
        |    AS target_uri,
        |  CASE WHEN doc_id % 4 IN (1, 3)
        |    THEN 'Sat, 0' || (doc_id % 7 + 1) ||
        |      ' Feb 2026 00:00:00 GMT'
        |    ELSE '' END AS last_modified,
        |  CASE WHEN doc_id % 4 = 2 THEN '"v' || doc_id || '"'
        |    WHEN doc_id % 4 = 3 THEN 'W/"v' || doc_id || '"'
        |    ELSE '' END AS etag,
        |  CASE WHEN doc_id % 4 = 3 THEN 'noai' ELSE '' END
        |    AS x_robots_tag
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- zstd Content-Encoding (decoded via zstd-jni, the codec
    // Spark itself ships): odd docs carry zstd-coded bodies, even
    // docs identity — the decode walk must hand the HTML kernel the
    // SAME page either way (one md5 chain for both residues) ----
    QuerySpec("web_warc_zstd", (s, dir) => {
      import s.implicits._
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://z"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          html.as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.map { case (id, uri, page) =>
            val coding = if (id % 2 == 1) 5 else 0
            (id, graft.operators.Warc.encodeArchive(uri,
              page.getBytes("UTF-8"), bodyCoding = coding))
          }
        }.toDF("doc_id", "warc")
      graft.operators.Warc.records(s, warcs).toDF()
        .filter(col("rec_type") === "response")
        .select(col("doc_id"), (col("doc_id") % 2).as("zstd_coded"),
          col("http_status").cast("long").as("http_status"),
          md5(graft.functions.vfs_html_text(
            graft.functions.vfs_charset_decode(col("body"),
              col("content_type")))).as("text_md5"))
        .orderBy(col("doc_id").asc)
    },
      // zstd bodies decode to the identity page — one md5 chain for
      // both residues
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id, doc_id % 2 AS zstd_coded,
        |  CAST(200 AS BIGINT) AS http_status,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5
        |FROM n ORDER BY doc_id ASC""".stripMargin),

    // ---- the opt-out gate fed from the WARC chain's OWN
    // X-Robots-Tag column (not a caller-supplied one): noai headers
    // drop their pages, non-listed directives pass ----
    QuerySpec("web_optout_warc", (s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, html) =>
            val uri = s"https://o${id % 5}.example/p/$id"
            val extras = (id % 3) match {
              case 0 => Nil
              case 1 => Seq("X-Robots-Tag" -> "noai")
              case _ => Seq("X-Robots-Tag" ->
                "unavailable_after: 01 Jan 2027, nofollow")
            }
            (id, graft.operators.Warc.encodeArchive(uri,
              html.getBytes("UTF-8"), extraHeaders = extras))
          }
        }.toDF("doc_id", "warc")
      val resp = graft.operators.Warc.records(s, warcs).toDF()
        .filter(col("rec_type") === "response")
        .select(col("doc_id"),
          graft.functions.vfs_charset_decode(col("body"),
            col("content_type")).as("html"),
          col("x_robots_tag"))
      graft.operators.WebCuration
        .optOutFilter(resp, headerCol = "x_robots_tag")
        .select(col("doc_id"),
          md5(graft.functions.vfs_html_text(col("html")))
            .as("text_md5"))
        .orderBy(col("doc_id").asc)
    },
      // the WARC-fed opt-out gate: noai headers (residue 1) drop,
      // absent and non-listed directives pass
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id, md5(nt) AS text_md5
        |FROM n WHERE doc_id % 3 IN (0, 2)
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- charset-aware body decode (the WHATWG sniff): five
    // residue classes exercise every tier — BOM'd UTF-8, a declared
    // windows-1252 transport header, a <meta charset=shift_jis>
    // prescan, UNDECLARED cp1252 (the fallback), and declared UTF-8
    // — each body built by the encoder twin in its real charset
    // with a non-ASCII marker that would mojibake under a hard-coded
    // UTF-8 decode; the oracle rebuilds the decoded string from the
    // raw text via chr() codepoints ----
    // Plan (expect: ONE codegen projection — detect + decode are pure
    // per-row kernels over the encoder-twin bodies; the UTF-8 fast path
    // returns bytes zero-copy inside the same kernel, no plan change)
    QuerySpec("web_charset_decode", (s, dir) => {
      import graft.functions._
      val r = col("doc_id") % 5
      val label = element_at(array(lit("utf-8"), lit("windows-1252"),
        lit("shift_jis"), lit("windows-1252"), lit("utf-8")),
        (r + 1).cast("int"))
      val payload = concat(
        when(r === 2, lit("<meta charset=\"shift_jis\">"))
          .otherwise(lit("")),
        col("text"),
        element_at(array(lit(" é€"),
          lit(" café €"),
          lit(" 日本語"),
          lit(" café €"), lit(" ascii")), (r + 1).cast("int")))
      val bom = lit(Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte))
      val encoded = vfs_charset_encode(payload, label)
      val body = when(r === 0, concat(bom, encoded)).otherwise(encoded)
      val ct = when(r === 1, lit("text/html; charset=windows-1252"))
        .when(r === 2, lit("text/html"))
        .when(r === 4, lit("text/html; charset=utf-8"))
        .otherwise(lit(null).cast("string"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          vfs_charset_detect(body, ct).as("charset"),
          md5(vfs_charset_decode(body, ct)).as("text_md5"))
        .orderBy(col("doc_id").asc)
    },
      // charset sniff: the decoded string rebuilt from the raw text +
      // the residue's non-ASCII marker via chr() codepoints
      // (é=233, €=8364, 日本語=26085/26412/35486)
      s"""SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'UTF-8'
        |    WHEN 1 THEN 'windows-1252' WHEN 2 THEN 'Shift_JIS'
        |    WHEN 3 THEN 'windows-1252' ELSE 'UTF-8' END AS charset,
        |  md5(CASE doc_id % 5
        |    WHEN 0 THEN text || ' ' || chr(233) || chr(8364)
        |    WHEN 2 THEN '<meta charset="shift_jis">' || text || ' ' ||
        |      chr(26085) || chr(26412) || chr(35486)
        |    WHEN 4 THEN text || ' ascii'
        |    ELSE text || ' caf' || chr(233) || ' ' || chr(8364) END)
        |    AS text_md5
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- WARC quarantine twin: archives with per-residue damage —
    // clean / truncated final record (framing overrun) / a declared
    // br body this walk cannot decode / clean gzip — must yield err
    // ROWS with recovered identity, never task failures; counts and
    // the failing record's type derive from the residue alone ----
    // Plan (expect: spread exchange, ONE MapPartitions parse kernel
    // emitting err rows, then one hash agg for the per-archive counts —
    // damage routing adds zero operators over the strict walk)
    QuerySpec("web_warc_quarantine", (s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, html) =>
            val uri = s"https://q${id % 7}.example/p/$id"
            val bytes = html.getBytes("UTF-8")
            val arc = (id % 4) match {
              case 0 => graft.operators.Warc.encodeArchive(uri, bytes)
              case 1 =>
                val full = graft.operators.Warc.encodeArchive(uri, bytes)
                java.util.Arrays.copyOf(full, full.length - 8)
              case 2 => graft.operators.Warc.encodeArchive(uri, bytes,
                bodyCoding = 4)
              case _ => graft.operators.Warc.encodeArchive(uri, bytes,
                gzip = true)
            }
            (id, arc)
          }
        }.toDF("doc_id", "warc")
      graft.operators.Warc.recordsQuarantined(s, warcs).toDF()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("err").isNull, 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("err").isNotNull, 1L).otherwise(0L)).as("n_err"),
          max(when(col("err").isNotNull, col("rec_type")))
            .as("err_rec_type"))
        .orderBy(col("doc_id").asc)
    },
      // quarantine twin: record/err counts and the failing record's
      // type derive from the damage residue (1 = truncated framing →
      // type unrecovered, 2 = br body → identity kept)
      s"""SELECT doc_id, CAST(3 AS BIGINT) AS n_records,
        |  CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 2 ELSE 3 END
        |    AS BIGINT) AS n_ok,
        |  CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_err,
        |  CASE WHEN doc_id % 4 = 1 THEN ''
        |    WHEN doc_id % 4 = 2 THEN 'response' ELSE NULL END
        |    AS err_rec_type
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- PDF text extraction: every doc's text wrapped in a REAL
    // single-page PDF (every 2nd content stream Flate-compressed;
    // the shows rotate literal / split-TJ / hex string forms) — the
    // assembly contract makes extraction the exact inverse, so the
    // md5 of the extracted text must equal the md5 of the raw text ----
    // Plan (expect: the synthesize kernel feeding ONE codegen
    // vfs_pdf_text projection — inflate + text-operator walk per row,
    // no shuffle after the spread)
    QuerySpec("web_pdf_extract", (s, dir) => {
      val pdfs = graft.operators.Pdf.synthesizePdf(
        s.read.parquet(s"$dir/documents.parquet"))
      pdfs.select(col("doc_id"),
          md5(graft.functions.vfs_pdf_text(col("pdf"))).as("text_md5"),
          length(col("pdf")).cast("long").as("n_pdf_bytes") > 0)
        .toDF("doc_id", "text_md5", "nonempty")
        .orderBy(col("doc_id").asc)
    },
      // PDF extraction is the exact inverse of the synthesis, so the
      // oracle is simply the raw text's md5
      s"""SELECT doc_id, md5(text) AS text_md5, true AS nonempty
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- per-host politeness schedule: hosts h0/h1 declare
    // crawl-delays (2 s via the graftbot group, 0.5 s via *), the
    // rest fall to the 1 s default; fetch_seq within a host follows
    // doc_id order, so every output column derives from doc_id
    // arithmetic ----
    // Plan (expect: one left join on host + ONE host-keyed window sort
    // for the per-host ordinals — the honest per-host sequence; cap the
    // frontier first)
    QuerySpec("web_politeness_schedule", (s, dir) => {
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
      graft.operators.WebCuration
        .politenessSchedule(urls, robots, "graftbot")
        .select(col("doc_id"), col("host"), col("delay_milli"),
          col("fetch_seq"), col("fetch_at_milli"))
        .orderBy(col("doc_id").asc)
    },
      // politeness schedule: delay by host residue (declared 2000/500,
      // default 1000), per-host ordinal = doc_id//5 + 1 on the
      // consecutive-id corpus, offset = ordinal-1 times delay
      s"""SELECT doc_id,
        |  'h' || (doc_id % 5) || '.example' AS host,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 2000 WHEN 1 THEN 500
        |    ELSE 1000 END AS BIGINT) AS delay_milli,
        |  CAST(doc_id // 5 + 1 AS BIGINT) AS fetch_seq,
        |  CAST((doc_id // 5) * (CASE doc_id % 5 WHEN 0 THEN 2000
        |    WHEN 1 THEN 500 ELSE 1000 END) AS BIGINT)
        |    AS fetch_at_milli
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- opt-out compliance gate: meta robots directives rotate by
    // residue (index / noindex / "noai, index" / absent / spaced-
    // uppercase NOINDEX / header-only noai) — pages stating an
    // opt-out drop BEFORE the corpus, the data-governance step; the
    // survivors derive from the residue class alone ----
    // Plan (expect: ONE codegen projection — vfs_html_meta + the
    // token-list overlap fold directly in the filter, zero shuffle)
    QuerySpec("web_optout_filter", (s, dir) => {
      val r = col("doc_id") % 6
      val meta = element_at(array(
        lit("<meta name=\"robots\" content=\"index, follow\">"),
        lit("<meta name=\"robots\" content=\"noindex\">"),
        // UNQUOTED attribute values (valid HTML5): the stated
        // opt-out must not slip the gate for want of quotes...
        lit("<meta name=robots content=noai,index>"),
        // ...and an unquoted NON-listed directive must still pass
        lit("<meta name=robots content=nofollow>"),
        lit("<meta name='robots' content=' NOINDEX , nofollow'>"),
        lit("")), (r + 1).cast("int"))
      val page = concat(lit("<html><head>"), meta,
        lit("</head><body><p>body "), col("doc_id"),
        lit("</p></body></html>"))
      val header = when(r === 5, lit("noai")).otherwise(lit(null)
        .cast("string"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), page.as("html"),
          header.as("x_robots_tag"))
      graft.operators.WebCuration
        .optOutFilter(pages, headerCol = "x_robots_tag")
        .select(col("doc_id"),
          md5(graft.functions.vfs_html_text(col("html")))
            .as("text_md5"))
        .orderBy(col("doc_id").asc)
    },
      // opt-out gate: survivors are the no-directive and
      // index-only residues; extracted text is just the body line
      s"""SELECT doc_id, md5('body ' || doc_id) AS text_md5
        |FROM documents WHERE doc_id % 6 IN (0, 3)
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- canonical consolidation: a third of the pages declare a
    // <link rel=canonical> pointing at a SHARED canonical URL (100
    // pages per canonical — the syndication shape); the effective
    // identity is coalesce(canonical, own url) and keep-first over
    // it collapses each canonical group onto its smallest doc_id ----
    // Plan (expect: the canonical extraction as codegen, then
    // urlKeepFirst's ONE window over the normalized effective key)
    QuerySpec("web_html_canonical", (s, dir) => {
      val ownUrl = concat(lit("https://c"), col("doc_id") % 5,
        lit(".example/p/"), col("doc_id"))
      val canon = when(col("doc_id") % 3 === 1,
        concat(lit("<link rel=\"canonical\" href=\"https://canon" +
          ".example/c/"), col("doc_id") % 100, lit("\">")))
        .otherwise(lit(""))
      val page = concat(lit("<html><head>"), canon,
        lit("</head><body><p>p</p></body></html>"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), ownUrl.as("url"), page.as("html"))
        .withColumn("canonical",
          graft.functions.vfs_html_canonical(col("html")))
        .withColumn("effective_url",
          coalesce(col("canonical"), col("url")))
      graft.operators.WebCuration
        .urlKeepFirst(docs, "effective_url")
        .select(col("doc_id"), col("canonical"), col("effective_url"))
        .orderBy(col("doc_id").asc)
    },
      // canonical consolidation: non-declaring pages keep their own
      // URL; each 100-page canonical group keeps its SMALLEST member
      // (k_min = (1 - c) mod 3 picks the first doc_id = c + 100k with
      // doc_id % 3 = 1)
      s"""SELECT doc_id, NULL AS canonical,
        |  'https://c' || (doc_id % 5) || '.example/p/' || doc_id
        |    AS effective_url
        |FROM documents WHERE doc_id % 3 <> 1
        |UNION ALL
        |SELECT doc_id,
        |  'https://canon.example/c/' || (doc_id % 100),
        |  'https://canon.example/c/' || (doc_id % 100)
        |FROM documents
        |WHERE doc_id % 3 = 1
        |  AND doc_id // 100 = ((1 - (doc_id % 100)) % 3 + 3) % 3
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- redirect-chain resolution: half the archives are 301
    // responses with a RELATIVE Location (surfaced by the WARC walk,
    // absolutized via RFC 3986 against the record's own URI); docs
    // with doc_id % 4 == 3 get a SECOND synthetic hop (the landing
    // page itself moved) — resolveRedirects maps every crawled URL
    // to its final destination with the hop count, all residue-
    // derivable ----
    // Plan (expect: the WARC records kernel feeding maxHops+1 LEFT
    // joins against the slim edge table — a STATIC plan, edge side
    // broadcast under AQE, no iteration)
    QuerySpec("web_redirect_resolve", (s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://r"), col("doc_id") % 5,
            lit(".example/a/x/"), col("doc_id")).as("uri"),
          concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.map { case (id, uri, html) =>
            val arc =
              if (id % 2 == 1) graft.operators.Warc.encodeArchive(uri,
                Array.emptyByteArray, redirectTo = s"../p/$id")
              else graft.operators.Warc.encodeArchive(uri,
                html.getBytes("UTF-8"))
            (id, arc)
          }
        }.toDF("doc_id", "warc")
      val resp = graft.operators.Warc.records(s, warcs).toDF()
        .filter(col("rec_type") === "response")
      val crawlEdges = resp
        .filter(col("http_status").between(300, 399) &&
          col("location") =!= "")
        .select(col("target_uri").as("from_url"),
          graft.functions.vfs_url_resolve(col("target_uri"),
            col("location")).as("to_url"))
      val extra = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 4 === 3)
        .select(concat(lit("https://r"), col("doc_id") % 5,
            lit(".example/a/p/"), col("doc_id")).as("from_url"),
          concat(lit("https://final.example/"), col("doc_id"))
            .as("to_url"))
      graft.operators.WebCuration.resolveRedirects(
          resp.select(col("doc_id"), col("target_uri").as("url")),
          crawlEdges.unionByName(extra), maxHops = 3)
        .select(col("doc_id"), col("url"), col("final_url"),
          col("n_hops"), col("redirect_unresolved"))
        .orderBy(col("doc_id").asc)
    },
      // redirect resolution by residue: even docs stay put, odd docs
      // hop once via the relative Location, doc_id % 4 == 3 hops twice
      s"""SELECT doc_id,
        |  'https://r' || (doc_id % 5) || '.example/a/x/' || doc_id
        |    AS url,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |      'https://r' || (doc_id % 5) || '.example/a/x/' || doc_id
        |    WHEN doc_id % 4 = 1 THEN
        |      'https://r' || (doc_id % 5) || '.example/a/p/' || doc_id
        |    ELSE 'https://final.example/' || doc_id END AS final_url,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0
        |    WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END AS BIGINT) AS n_hops,
        |  false AS redirect_unresolved
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- RFC 3986 reference resolution: eight href shapes
    // (relative, dot-relative, root-relative, parent, query-only,
    // fragment-only, protocol-relative, absolute) against a
    // deep-path base — the step between vfs_html_links (hrefs as
    // written) and the URL frontier ----
    // Plan (expect: ONE codegen projection — vfs_url_resolve is a pure
    // per-row kernel; normalization stays a separate downstream step)
    QuerySpec("web_link_resolve", (s, dir) => {
      val base = concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/a/b/c?bq"))
      val href = element_at(array(lit("g"), lit("./g"), lit("/g"),
        lit("../g"), lit("?y"), lit("#s"),
        lit("//other.example/p"), lit("http://abs.example/z?q#f")),
        (col("doc_id") % 8 + 1).cast("int"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), href.as("href"),
          graft.functions.vfs_url_resolve(base, href).as("abs_url"))
        .orderBy(col("doc_id").asc)
    },
      // RFC 3986 resolution by residue class against the deep-path base
      s"""SELECT doc_id,
        |  CASE doc_id % 8 WHEN 0 THEN 'g' WHEN 1 THEN './g'
        |    WHEN 2 THEN '/g' WHEN 3 THEN '../g' WHEN 4 THEN '?y'
        |    WHEN 5 THEN '#s' WHEN 6 THEN '//other.example/p'
        |    ELSE 'http://abs.example/z?q#f' END AS href,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'https://h' || (doc_id % 7) || '.example/a/b/g'
        |    WHEN 1 THEN 'https://h' || (doc_id % 7) || '.example/a/b/g'
        |    WHEN 2 THEN 'https://h' || (doc_id % 7) || '.example/g'
        |    WHEN 3 THEN 'https://h' || (doc_id % 7) || '.example/a/g'
        |    WHEN 4 THEN 'https://h' || (doc_id % 7) || '.example/a/b/c?y'
        |    WHEN 5 THEN 'https://h' || (doc_id % 7) || '.example/a/b/c?bq#s'
        |    WHEN 6 THEN 'https://other.example/p'
        |    ELSE 'http://abs.example/z?q#f' END AS abs_url
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- sitemap XML: every doc carries a two-entry urlset whose
    // <loc> values exercise entity decode (&amp;) and whitespace
    // trim — the step between vfs_robots_sitemaps and the URL
    // frontier ----
    QuerySpec("web_sitemap_urls", (s, dir) => {
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>https://s"),
        col("doc_id") % 7, lit(".example/p/"), col("doc_id"),
        lit("?a=1&amp;b=2</loc><lastmod>2026-01-01</lastmod></url>" +
          "<url><loc>\n  https://s.example/"), col("doc_id"),
        lit("\n</loc></url></urlset>"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          posexplode(graft.functions.vfs_sitemap_locs(xml))
            .as(Seq("pos", "url")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("url"))
        .orderBy(col("doc_id").asc, col("pos").asc)
    },
      // sitemap <loc> extraction: entity decode + trim, document order
      s"""SELECT doc_id, CAST(0 AS BIGINT) AS pos,
        |  'https://s' || (doc_id % 7) || '.example/p/' || doc_id ||
        |    '?a=1&b=2' AS url
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT),
        |  'https://s.example/' || doc_id
        |FROM documents
        |ORDER BY doc_id ASC, pos ASC""".stripMargin),

    // ---- robots.txt gate (RFC 9309): six path shapes against a
    // rules file exercising longest-match, allow-over-disallow ties,
    // `*` wildcards, `$` anchors, multi-UA groups, and a
    // blocked-everything group for OTHER agents — the oracle derives
    // the surviving set from the residue class alone. The crawler
    // identifies as "GraftBot-News": no exact group exists, so the
    // row also pins §2.2.1 most-specific matching (the GraftBot
    // group must apply — exact-only selection would fall through to
    // no group at all and keep every URL) ----
    // Plan (expect: ONE left join on the lowercased host (AQE
    // broadcasts the KB-sized per-domain rules side) + the codegen'd
    // vfs_robots_allowed filter — no other exchange)
    QuerySpec("web_robots_filter", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val seg = element_at(array(lit("/private/x"),
        lit("/private/ok/y"), lit("/tmp123"), lit("/docs/"),
        lit("/public"), lit("/docs/a")),
        (col("doc_id") % 6 + 1).cast("int"))
      val urls = docs.select(col("doc_id"),
        concat(lit("https://h"), col("doc_id") % 7, lit(".example"),
          seg).as("url"))
      val robotsTxt =
        """# sample politeness file
          |User-agent: other
          |Disallow: /
          |
          |User-agent: GraftBot
          |User-agent: second-bot
          |Disallow: /private
          |Allow: /private/ok
          |Disallow: /tmp*3
          |Allow: /docs/$
          |Disallow: /docs
          |""".stripMargin
      val robots = urls
        .select(lower(parse_url(col("url"), lit("HOST"))).as("host"))
        .distinct()
        .withColumn("robots_txt", lit(robotsTxt))
      graft.operators.WebCuration.robotsFilter(urls, robots,
          "GraftBot-News")
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id").asc)
    },
      // robots gate: survivors by residue class — /private/ok/y beats
      // /private on length, /docs/$ beats /docs with allow-on-tie...
      // no: on LENGTH (6 > 5); /tmp*3 wildcards over /tmp123; /docs/a
      // escapes the anchored allow and hits the /docs disallow
      s"""SELECT doc_id,
        |  'https://h' || (doc_id % 7) || '.example' ||
        |    CASE doc_id % 6 WHEN 0 THEN '/private/x'
        |      WHEN 1 THEN '/private/ok/y' WHEN 2 THEN '/tmp123'
        |      WHEN 3 THEN '/docs/' WHEN 4 THEN '/public'
        |      ELSE '/docs/a' END AS url
        |FROM documents
        |WHERE doc_id % 6 IN (1, 3, 4)
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- RFC 9309 §2.2.1 user-agent group selection: exact token
    // beats prefix ("mybot-news" has its own group), prefix beats
    // `*` ("mybot-img" obeys the "mybot" group), everyone else gets
    // the blocked-everything `*` group — allowed derives from the
    // (agent residue, path residue) pair alone ----
    QuerySpec("web_robots_ua_match", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val robotsTxt =
        """User-agent: mybot
          |Disallow: /img
          |
          |User-agent: mybot-news
          |Disallow: /news
          |
          |User-agent: *
          |Disallow: /
          |""".stripMargin
      val agent = element_at(array(lit("mybot-news"),
        lit("mybot-img"), lit("somebot")),
        (col("doc_id") % 3 + 1).cast("int"))
      val path = element_at(array(lit("/news/p"), lit("/img/p")),
        (col("doc_id") % 2 + 1).cast("int"))
      docs.select(col("doc_id"), agent.as("agent"), path.as("path"),
          graft.functions.vfs_robots_allowed(lit(robotsTxt),
            agent, path).as("allowed"))
        .orderBy(col("doc_id").asc)
    },
      // §2.2.1 group selection: exact beats prefix beats '*' — allowed
      // derives from the (agent residue, path residue) pair
      s"""SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'mybot-news'
        |    WHEN 1 THEN 'mybot-img' ELSE 'somebot' END AS agent,
        |  CASE doc_id % 2 WHEN 0 THEN '/news/p'
        |    ELSE '/img/p' END AS path,
        |  ((doc_id % 3 = 0 AND doc_id % 2 = 1) OR
        |   (doc_id % 3 = 1 AND doc_id % 2 = 0)) AS allowed
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- crawl-delay + sitemap surfacing: group-scoped delay in
    // milliseconds through the same most-specific UA walk (NULL when
    // the selected group declares none), global sitemaps collected
    // file-wide regardless of group position ----
    // Plan (expect: ONE codegen projection — both expressions are pure
    // per-row kernels over the rules literal)
    QuerySpec("web_robots_crawl_delay", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val robotsTxt =
        """Sitemap: https://x.example/s1.xml
          |User-agent: mybot
          |Crawl-delay: 1.5
          |Disallow: /img
          |
          |User-agent: quietbot
          |Disallow: /q
          |
          |User-agent: *
          |Crawl-delay: 10
          |Sitemap: https://x.example/s2.xml
          |Disallow: /x
          |""".stripMargin
      val agent = element_at(array(lit("mybot-news"), lit("quietbot"),
        lit("otherbot")), (col("doc_id") % 3 + 1).cast("int"))
      docs.select(col("doc_id"), agent.as("agent"),
          graft.functions.vfs_robots_crawl_delay(lit(robotsTxt), agent)
            .as("delay_milli"),
          size(graft.functions.vfs_robots_sitemaps(lit(robotsTxt)))
            .cast("long").as("n_sitemaps"))
        .orderBy(col("doc_id").asc)
    },
      // crawl-delay through the same group walk: mybot-news inherits
      // the mybot group's 1.5 s (prefix), quietbot's group declares
      // none (NULL — not the '*' fallback), otherbot gets '*'; the two
      // global sitemaps count for every row
      s"""SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'mybot-news'
        |    WHEN 1 THEN 'quietbot' ELSE 'otherbot' END AS agent,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 1500
        |    WHEN 1 THEN NULL ELSE 10000 END AS BIGINT) AS delay_milli,
        |  CAST(2 AS BIGINT) AS n_sitemaps
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ======== URL-level web curation (CCNet/RefinedWeb stage 0) ====
    // the corpus has no URL column, so a deterministic per-doc URL is
    // built from (source, doc_id % 6) covering every normalizer rule
    // — same construction in the oracle's wurl CTE ----

    // ---- canonical URL + host + registered domain per doc ----
    QuerySpec("web_url_normalize", (s, dir) => {
      import graft.operators.WebCuration
      webUrls(s, dir).select(col("doc_id"),
          WebCuration.normalizeUrl(col("url")).as("norm_url"),
          WebCuration.urlHost(col("url")).as("host"),
          WebCuration.urlDomain(col("url")).as("domain"))
        .orderBy(col("doc_id").asc)
    },
      s"""WITH $webUrlCtes
         |SELECT doc_id, norm_url, host, domain FROM wn
         |ORDER BY doc_id ASC""".stripMargin),

    // ---- URL-keyed exact dedup: two fetch variants of one page
    // collapse to one normalized key; ONE hash aggregate ----
    // Plan (expect: ONE partial+final hash aggregate on the
    // normalized-url key — the regex canonicalization chain codegen'd
    // into the map-side partial, nothing else)
    QuerySpec("web_url_dedup", (s, dir) => {
      graft.operators.WebCuration.urlDedup(webUrls(s, dir))
        .orderBy(col("keeper").asc)
    },
      s"""WITH $webUrlCtes
         |SELECT norm_url, min(doc_id) AS keeper, count(*) AS cnt
         |FROM wn GROUP BY 1 ORDER BY keeper ASC""".stripMargin),

    // ---- head-domain cap: keep each registered domain's 3 LONGEST
    // docs (rank = -n_chars, ties to smallest doc_id) through the
    // bounded-histogram rankedTopN path — never a single-task sort ----
    // Plan (expect: the rankedTopN threshold path — band Filter via
    // element_at on MAP LITERALS (one domain-expression occurrence per
    // predicate, never an OR chain), window only over the bounded band)
    QuerySpec("web_domain_cap", (s, dir) => {
      import graft.operators.WebCuration
      WebCuration.capPerDomain(webUrls(s, dir), "url",
          negate(col("n_chars")), col("doc_id"), n = 3)
        .select(col("doc_id"),
          WebCuration.urlDomain(col("url")).as("domain"))
        .orderBy(col("domain").asc, col("doc_id").asc)
    },
      s"""WITH $webUrlCtes,
         |r AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM wn)
         |SELECT doc_id, domain FROM r WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin),

    // ---- domain blocklist: drop five .co.uk publishers, count the
    // survivors per registered domain ----
    QuerySpec("web_blocklist_filter", (s, dir) => {
      import graft.operators.WebCuration
      WebCuration.blocklistFilter(webUrls(s, dir), "url",
          (1 to 5).map(k => s"src$k.co.uk"))
        .groupBy(WebCuration.urlDomain(col("url")).as("domain"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("domain").asc)
    },
      s"""WITH $webUrlCtes
         |SELECT domain, count(*) AS n FROM wn
         |WHERE domain NOT IN ('src1.co.uk', 'src2.co.uk',
         |  'src3.co.uk', 'src4.co.uk', 'src5.co.uk')
         |GROUP BY 1 ORDER BY domain ASC""".stripMargin),

    // ---- the INCREMENTAL form: the seen set is a standing artifact
    // (UrlIndex) built on the even-id half (SF-stable split); the
    // odd-id delta keep-firsts within itself, then one anti-join
    // against the stored keys decides — cost ∝ delta, the corpus is
    // never rescanned ----
    QuerySpec("web_url_incremental", (s, dir) => {
      import graft.operators.{UrlIndex, WebCuration}
      val urls = webUrls(s, dir)
      val idx = java.nio.file.Files
        .createTempDirectory("verify-urlidx").toString
      UrlIndex.build(urls.filter(pmod(col("doc_id"), lit(2)) === 0),
        idx)
      val delta = urls.filter(pmod(col("doc_id"), lit(2)) === 1)
      UrlIndex.filterNew(s, idx, WebCuration.urlKeepFirst(delta))
        .select(col("doc_id"),
          WebCuration.normalizeUrl(col("url")).as("norm_url"))
        .orderBy(col("doc_id").asc)
    },
      s"""WITH $webUrlCtes,
         |k AS (SELECT doc_id, norm_url,
         |    row_number() OVER (PARTITION BY norm_url
         |      ORDER BY doc_id ASC) AS rn
         |  FROM wn WHERE doc_id % 2 = 1)
         |SELECT doc_id, norm_url FROM k
         |WHERE rn = 1 AND norm_url NOT IN
         |  (SELECT DISTINCT norm_url FROM wn WHERE doc_id % 2 = 0)
         |ORDER BY doc_id ASC""".stripMargin),

    // ---- PSL-backed per-domain cap: hosting-platform hosts
    // (userN.github.io, blogN.blogspot.com, appN.netlify.app — all
    // public-suffix-list entries ABSENT from the frozen 46-entry
    // head) group as DISTINCT registered domains, so the cap applies
    // per publisher instead of collapsing thousands of unrelated
    // sites into one; head-covered hosts (news.srcN.co.uk,
    // www.srcN.com) derive identically on both forms (spec-pinned
    // parity). Runs through capPerDomainPsl — the PSL suffix walk
    // materialized ONCE (rankedTopNMaterialized), survivors
    // semi-joined back; bandCap = 16 forces the threshold path ----
    // Plan (expect: the selection over an eager localCheckpoint barrier
    // — Scan ExistingRDD on the slim (id, stratum, rank, tiebreak)
    // frame, so the vfs_psl_domain suffix walk NEVER re-inlines into a
    // refinement pass — then a LEFT SEMI join of survivors back by
    // doc_id)
    QuerySpec("web_domain_cap_psl", (s, dir) => {
      import graft.operators.WebCuration
      WebCuration.capPerDomainPsl(webPslUrls(s, dir), "url",
          WebCuration.PslSampleSnapshot, negate(col("n_chars")),
          col("doc_id"), "doc_id", n = 3, bandCap = 16L)
        .select(col("doc_id"),
          WebCuration.urlDomainPsl(col("url"),
            WebCuration.PslSampleSnapshot).as("domain"))
        .orderBy(col("domain").asc, col("doc_id").asc)
    },
      s"""WITH $webPslCtes,
         |pr AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM pd)
         |SELECT doc_id, domain FROM pr WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin),

    // ---- WILDCARD + EXCEPTION rule semantics through the same cap:
    // the PslWildSnapshot fixture ('*.ck' makes every <label>.ck a
    // public suffix; '!portal.ck' carves a registrable domain back
    // out of it), hosts built so each rule kind decides at least one
    // branch — hash-matched against a HAND-derived DuckDB CASE (the
    // regex oracle rightly refuses these rule kinds). checkIds = true
    // also exercises the slim-frame uniqueness guard in earnest ----
    QuerySpec("web_domain_cap_psl_wild", (s, dir) => {
      import graft.operators.WebCuration
      WebCuration.capPerDomainPsl(webPslWildUrls(s, dir), "url",
          WebCuration.PslWildSnapshot, negate(col("n_chars")),
          col("doc_id"), "doc_id", n = 3, bandCap = 16L,
          checkIds = true)
        .select(col("doc_id"),
          WebCuration.urlDomainPsl(col("url"),
            WebCuration.PslWildSnapshot).as("domain"))
        .orderBy(col("domain").asc, col("doc_id").asc)
    },
      // wildcard + exception rules through the same cap — the
      // hand-derived CASE chain (webPslWildCtes) instead of the
      // generated regex groups
      s"""WITH $webPslWildCtes,
         |pr AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM pd)
         |SELECT doc_id, domain FROM pr WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin)
  )

  /** URL fixture for the WILDCARD + EXCEPTION snapshot
    * ([[operators.WebCuration.PslWildSnapshot]]): five branches, each
    * decided by a different rule kind — `*.ck` wildcard (3-label
    * registration), a host UNDER the `!portal.ck` exception, the
    * exception host itself, a plain `com` entry, and an unlisted TLD
    * (two-label fallback). */
  private def webPslWildUrls(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m = pmod(col("doc_id"), lit(5))
    val url = when(m === 0,
        concat(lit("https://shop"), pmod(col("doc_id"), lit(13)),
          lit(".biz"), pmod(col("doc_id"), lit(5)), lit(".ck/p/"), id))
      .when(m === 1,
        concat(lit("https://user"), pmod(col("doc_id"), lit(7)),
          lit(".portal.ck/x/"), id))
      .when(m === 2, concat(lit("https://portal.ck/"), id))
      .when(m === 3,
        concat(lit("https://blog"), pmod(col("doc_id"), lit(11)),
          lit(".example"), pmod(col("doc_id"), lit(3)),
          lit(".com/"), id))
      .otherwise(concat(lit("https://a.b"), pmod(col("doc_id"), lit(3)),
        lit(".zz/"), id))
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"), url.as("url"))
  }

  /** HAND-derived oracle chain for the wildcard/exception fixture —
    * hard-coded CASE rather than [[operators.WebCuration
    * .pslDomainRegexes]] (which loudly refuses `*.`/`!` entries
    * because a regex alternation cannot express them): the exception
    * decides FIRST (a host equal to or under `portal.ck` registers AT
    * it), then the wildcard's one-label-plus-`<label>.ck` capture,
    * then the plain-`com` capture, then the two-label fallback. The
    * branch order IS the longest-match semantics for this fixture
    * (every `.ck` host has ≤ 3 labels). */
  private def webPslWildCtes: String =
    s"""pu AS (SELECT doc_id, n_chars,
       |    CASE doc_id % 5
       |      WHEN 0 THEN 'https://shop' || (doc_id % 13) || '.biz' || (doc_id % 5) || '.ck/p/' || doc_id
       |      WHEN 1 THEN 'https://user' || (doc_id % 7) || '.portal.ck/x/' || doc_id
       |      WHEN 2 THEN 'https://portal.ck/' || doc_id
       |      WHEN 3 THEN 'https://blog' || (doc_id % 11) || '.example' || (doc_id % 3) || '.com/' || doc_id
       |      ELSE 'https://a.b' || (doc_id % 3) || '.zz/' || doc_id END AS url
       |  FROM documents),
       |ph AS (SELECT doc_id, n_chars,
       |    regexp_replace(regexp_extract(url,
       |      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2),
       |      '^www\\.', '') AS host
       |  FROM pu),
       |pd AS (SELECT doc_id, n_chars,
       |    CASE
       |      WHEN host = 'portal.ck' OR host LIKE '%.portal.ck'
       |        THEN 'portal.ck'
       |      WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.ck)$$', 1) <> ''
       |        THEN regexp_extract(host, '([^.]+\\.[^.]+\\.ck)$$', 1)
       |      WHEN regexp_extract(host, '([^.]+\\.com)$$', 1) <> ''
       |        THEN regexp_extract(host, '([^.]+\\.com)$$', 1)
       |      ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END
       |    AS domain
       |  FROM ph)""".stripMargin
}
