package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Helpers that several query families use: the table readers, the
  * query vector, milli rounding, sibling scale factors, the shared
  * synthesized pages and the DuckDB CTE builders (MinHash, language id,
  * fingerprint folds). */
object Shared {

  // DuckDB fragments: cast FLOAT[] to DOUBLE[] so accumulation is in
  // double, matching the Spark expressions
  private[graft] val qSub =
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 1)"

  /** UTF-8 bytes of `text`, derived arithmetically from code points
    * (DuckDB has no direct blob-byte iteration). */
  private[graft] val duckUtf8Bytes: String = duckUtf8BytesOf("text")

  /** q_budget_sample's budgets — ONE constant feeding both the engine
    * call and the oracle's IN list + CASE, so they cannot drift. */
  private[graft] val budgetSampleBudgets: Map[String, Long] =
    scala.collection.immutable.ListMap(
      "src0" -> 3000L, "src1" -> 1500L, "src2" -> 700L,
      "src3" -> 60000L)

  /** The fixed BM25 query — shared by the engine call and the oracle
    * generator so the two can't drift. */
  private[graft] val Bm25Terms = Seq("vector", "join", "spark")

  /** Fixed 24-query × 3-term workload for the batch BM25 / hybrid
    * rows — a deterministic rotation over common corpus vocabulary,
    * shared by the engine call and the oracle generator so the two
    * can't drift. */
  private[graft] val Bm25Vocab = Seq("vector", "join", "spark", "hash",
    "row", "batch", "scan", "filter", "merge", "window", "stream",
    "sort", "query", "table", "group", "key", "data", "column",
    "agg", "order", "fast", "slow", "small", "big")

  private[graft] val Bm25Workload: Seq[(Long, String)] =
    (0 until 24).flatMap { qid =>
      Seq(Bm25Vocab(qid), Bm25Vocab((qid + 7) % 24),
        Bm25Vocab((qid + 13) % 24)).map(t => (qid.toLong, t))
    }

  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** events.parquet's time column has shifted logical type between
    * rounds (TIMESTAMP(NANOS)-as-LONG, then TIMESTAMP(MICROS) NTZ);
    * normalize every flavor to a plain TIMESTAMP here so downstream
    * operators see one type (see [[graft.operators.TimeNorm]]). */
  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeNorm.normalize(
      s.read.parquet(s"$dir/events.parquet"), "ts")

  private[graft] def queryVec(s: SparkSession, dir: String, id: Long): Array[Float] =
    emb(s, dir).filter(col("vec_id") === id)
      .head().getSeq[Float](1).toArray

  /** rounded-integer distance column */
  private[graft] def milli(c: org.apache.spark.sql.Column) =
    round(c * 1000).cast("long")

  /** Resolve a sibling scale-factor directory of `dir` (e.g. the
    * sf0.1 twin of .../sf0.01); falls back to `dir` itself when the
    * sibling is absent so the query still runs standalone. */
  private[graft] def siblingSf(dir: String, sf: String): String = {
    val sib = java.nio.file.Paths.get(dir).toAbsolutePath
      .resolveSibling(sf)
    if (java.nio.file.Files.isDirectory(sib)) sib.toString else dir
  }

  private[graft] def duckCos(a: String, b: String) =
    s"(1 - list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"

  /** Mirrors [[graft.operators.Mining.marginCandidates]] over the
    * even/odd vec_id halves at k=4: brute-force cosine both ways,
    * rank by raw distance (asc, id asc — the engine's top-k tie
    * convention), micro-quantize per neighbor BEFORE summing (exact
    * integer sums, no float order hazard), then the one pinned
    * margin chain round(2000·sim_micro / (fwd_sum/fwd_n +
    * bwd_sum/bwd_n)) — each side averaged over its ACTUAL neighbor
    * count, so sub-k neighborhoods don't inflate the margin. */
  private[graft] def miningMarginCtes: String =
    s"WITH ${miningMarginCtesDir("", 0, 1)}"

  /** The directional CTE body (no leading WITH): `p` prefixes every
    * CTE name so the mutual oracle can instantiate BOTH directions in
    * one query; src/tgt are the vec_id parities of the two halves. */
  private[graft] def miningMarginCtesDir(p: String, srcPar: Int,
      tgtPar: Int): String =
    s"""${p}e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${p}src AS (SELECT vec_id AS sid, v AS sv FROM ${p}e WHERE vec_id % 2 = $srcPar),
       |${p}tgt AS (SELECT vec_id AS tid, v AS tv FROM ${p}e WHERE vec_id % 2 = $tgtPar),
       |${p}fscore AS (SELECT sid, tid, ${duckCos("sv", "tv")} AS d
       |  FROM ${p}src CROSS JOIN ${p}tgt),
       |${p}f4 AS (SELECT sid, tid,
       |    CAST(round((1 - d) * 1000000) AS BIGINT) AS sim_micro,
       |    row_number() OVER (PARTITION BY sid ORDER BY d ASC, tid ASC) AS rk
       |  FROM ${p}fscore QUALIFY rk <= 4),
       |${p}fsum AS (SELECT sid, CAST(sum(sim_micro) AS BIGINT) AS fwd_sum,
       |    count(*) AS fwd_n
       |  FROM ${p}f4 GROUP BY sid),
       |${p}bscore AS (SELECT t.tid, s.sid, ${duckCos("s.sv", "t.tv")} AS d
       |  FROM (SELECT DISTINCT tid FROM ${p}f4) c
       |  JOIN ${p}tgt t USING (tid) CROSS JOIN ${p}src s),
       |${p}b4 AS (SELECT tid,
       |    CAST(round((1 - d) * 1000000) AS BIGINT) AS sim_micro,
       |    row_number() OVER (PARTITION BY tid ORDER BY d ASC, sid ASC) AS rk
       |  FROM ${p}bscore QUALIFY rk <= 4),
       |${p}bsum AS (SELECT tid, CAST(sum(sim_micro) AS BIGINT) AS bwd_sum,
       |    count(*) AS bwd_n
       |  FROM ${p}b4 GROUP BY tid),
       |${p}m AS (SELECT f.sid AS src_id, f.tid AS tgt_id, f.sim_micro,
       |    CASE WHEN CAST(fs.fwd_sum AS DOUBLE) / fs.fwd_n
       |        + CAST(bs.bwd_sum AS DOUBLE) / bs.bwd_n > 0 THEN
       |      CAST(round(2000.0 * f.sim_micro
       |        / (CAST(fs.fwd_sum AS DOUBLE) / fs.fwd_n
       |          + CAST(bs.bwd_sum AS DOUBLE) / bs.bwd_n)) AS BIGINT)
       |    END AS margin_milli
       |  FROM ${p}f4 f JOIN ${p}fsum fs USING (sid)
       |    JOIN ${p}bsum bs ON f.tid = bs.tid),
       |${p}ranked AS (SELECT src_id, tgt_id, sim_micro, margin_milli,
       |    row_number() OVER (PARTITION BY src_id
       |      ORDER BY margin_milli DESC, tgt_id ASC) AS cand_rank
       |  FROM ${p}m WHERE margin_milli IS NOT NULL)""".stripMargin

  /** The quarantine fixture both the batch and streaming rows share:
    * the PPM image corpus (doc_id·3+2 → id % 3 = 2) with every 37th
    * asset truncated to its first 20 bytes — the magic survives (a
    * sniffer would still route it into the image family) but any PPM
    * needs ≥ 23 bytes (11-byte header + one 12-byte row), so the
    * decode of a truncated asset always throws. */
  private[graft] def corruptedPpmCorpus(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.operators.MediaRecord] = {
    import s.implicits._
    val img = s.read.parquet(s"$dir/documents.parquet")
      .select((col("doc_id") * 3 + 2).as("doc_id"), col("text"))
    graft.operators.Multimodal.synthesizeMedia(img).toDF()
      .withColumn("media",
        when(col("doc_id") % 37 === 0, expr("substring(media, 1, 20)"))
          .otherwise(col("media")))
      .withColumn("n_bytes", length(col("media")).cast("long"))
      .as[graft.operators.MediaRecord]
  }

  /** The synthesized HTML page the `web_html_*` rows share: the
    * document text ESCAPED into a page with every extractor hazard
    * planted — a title with entities + newline, a style element, a
    * comment, a script whose body contains markup-looking strings
    * and `<` comparisons, numeric+hex character references, and two
    * links (double- and single-quoted, one with an entity). The
    * escaping is exactly invertible, so the oracle derives the
    * expected extraction from the ORIGINAL text column. */
  private[graft] def htmlPageOf(id: Column, text: Column): Column = {
    val esc = regexp_replace(regexp_replace(regexp_replace(text,
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<!DOCTYPE html><html><head><title> Doc &amp;\n  "), id,
      lit(" </title><style>p{color:red}</style></head>\n" +
        "<body><!-- nav bar -->" +
        "<script type=\"text/javascript\">if(a<b){x=\"<div>y</div>\";}" +
        "</script>\n" +
        "<div class=\"main\"><h1>Doc &#72;&#x65;ading</h1>\n<p>"),
      esc,
      lit("</p>\n<a href=\"https://ex.com/a?id="), id,
      lit("&amp;x=1\">one</a> and <a href='/rel/"), id,
      lit("'>two</a>\n</div></body></html>"))
  }

  /** The chrome-laden page the `web_html_extract_main` row uses: a
    * nav menu, header banner, aside, cookie-consent form, and footer
    * around the invertible `<main>` payload. The chrome text is
    * page-UNIQUE per doc (the footer carries the id), so the
    * corpus-frequency boilerplate pass could not catch it — only
    * container-scoped suppression can. */
  private[graft] def chromePageOf(id: Column, text: Column): Column = {
    val esc = regexp_replace(regexp_replace(regexp_replace(text,
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<html><head><title>Main "), id,
      lit("</title></head><body>" +
        "<nav><ul><li><a href=\"/\">Home</a></li><li>About</li></ul></nav>" +
        "<header><h1>Site Chrome</h1></header>" +
        "<aside>Related stuff</aside>" +
        "<form action=\"/q\">We use cookies<input value=\"ok\"></form>" +
        "<main><h1>Doc "), id,
      lit("</h1><p>"), esc,
      lit("</p></main><footer>(c) site "), id,
      lit("</footer></body></html>"))
  }

  // ---- portable-hash oracle building blocks: DuckDB expressions that
  // reproduce the engine's integer hash kernels bit-exactly ----

  /** The CTE portion of [[sigBandFoldTail]] — `pairs(pa, pb, sa,
    * sb)` over a `sig(doc_id, s)` CTE; terminal consumers pick their
    * own projection (the pair list, or the keep-first survivor
    * anti-join of the streaming ingest oracle). */
  private[graft] def sigBandFoldCtes(bandBits: Int): String =
    s"""banded AS (SELECT doc_id, s, r.j AS band,
       |    (s >> (CAST(r.j AS INTEGER) * $bandBits)) & ${(1 << bandBits) - 1} AS bval
       |  FROM sig, range(0, 4) r(j)),
       |capped AS (SELECT doc_id, s, band, bval FROM (
       |    SELECT doc_id, s, band, bval,
       |           count(*) OVER (PARTITION BY band, bval) AS bn
       |    FROM banded) WHERE bn <= 1000),
       |pairs AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb,
       |    a.s AS sa, b.s AS sb
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared DuckDB tail reproducing the engine's banded bucket-fold
    * pair semantics ([[operators.Dedup]] sigBandFoldPairs) over a
    * `sig(doc_id, s)` CTE: 4 bands of `bandBits` bits, the 1000
    * bucket cap, DISTINCT strict a < b candidate join, inline
    * hamming ≤ `maxHamming`. ONE copy serving the simhash, audio,
    * and video oracles — the banding scheme cannot drift between
    * them. */
  private[graft] def sigBandFoldTail(bandBits: Int, maxHamming: Int = 3): String =
    s"""${sigBandFoldCtes(bandBits)}
       |SELECT pa AS a, pb AS b,
       |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(sa, sb)) <= $maxHamming
       |ORDER BY a ASC, b ASC""".stripMargin

  /** Shared CTE chain deriving the audio energy-delta sig table
    * `sig(doc_id, s)` over the synthesized corpus (originals at
    * doc_id*3 plus +900000 twins for every tenth doc) — byte-exact
    * WAV payload arithmetic, window 4, the [[sigBandFoldTail]] /
    * [[sigProbeTail]] consumers' common head. ONE copy serving the
    * self-pair, incremental-probe, and takedown oracles. */
  private[graft] def audioSigCtes: String =
    s"""d AS (SELECT doc_id * 3 AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id * 3 + 900000 AS doc_id, text FROM documents
       |  WHERE doc_id % 10 = 0),
       |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs FROM d),
       |st AS (SELECT doc_id, unnest(bs) AS v,
       |    unnest(range(1, len(bs) + 1)) AS i
       |  FROM b),
       |e AS (SELECT doc_id, (i - 1) // 4 AS win,
       |    sum((v - 128) * (v - 128)) AS en
       |  FROM st GROUP BY doc_id, win),
       |el AS (SELECT doc_id, list(en ORDER BY win) AS es
       |  FROM e GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST(coalesce(list_sum(list_transform(
       |    range(0, least(len(es) - 1, 63)),
       |    j -> CASE WHEN es[CAST(j + 2 AS INTEGER)] > es[CAST(j + 1 AS INTEGER)]
       |         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
       |         ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS s
       |  FROM el)""".stripMargin

  /** Shared CTE chain deriving the image dHash sig table
    * `sig(doc_id, s)` over the synthesized PPM corpus (originals at
    * doc_id*3+2 — the PPM branch of synthesizeMedia — plus
    * +900000 twins for every tenth doc): payload truncated to whole
    * 12-byte rows (zero-padded to one row minimum, the rasterPayload
    * rule), 4-wide RGB raster of h rows, NN-downsample to 9×8 with
    * the engine's exact index formula (sx = (x·4) div 9,
    * sy = (y·h) div 8), integer BT.601 luma
    * ((299r + 587g + 114b) div 1000), sign-of-horizontal-delta fold
    * (bit j = y·8+x set iff gray(y, x+1) > gray(y, x), 63 bits). */
  private[graft] def imageSigCtes: String = imageSigCtesOver(
    """SELECT doc_id * 3 + 2 AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id * 3 + 2 + 900000 AS doc_id, text FROM documents
      |  WHERE doc_id % 10 = 0""".stripMargin)

  /** The dHash derivation parameterized over the doc list `dBody`
    * (a SELECT yielding (doc_id, text)) — the image sig CTEs are
    * shared by the near-dup, incremental, streaming, AND quarantine
    * oracles, which differ only in which docs feed the corpus. */
  private[graft] def imageSigCtesOver(dBody: String): String =
    s"""d AS ($dBody),
       |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs0 FROM d),
       |p AS (SELECT doc_id,
       |    list_resize(bs0[1:greatest(12, len(bs0) - (len(bs0) % 12))],
       |      greatest(12, len(bs0) - (len(bs0) % 12)), 0) AS bs,
       |    greatest(12, len(bs0) - (len(bs0) % 12)) // 12 AS h
       |  FROM b),
       |gl AS (SELECT doc_id, list_transform(range(0, 72), k ->
       |    (299 * bs[CAST(((((k // 9) * h) // 8) * 4
       |         + ((k % 9) * 4) // 9) * 3 + 1 AS INTEGER)]
       |   + 587 * bs[CAST(((((k // 9) * h) // 8) * 4
       |         + ((k % 9) * 4) // 9) * 3 + 2 AS INTEGER)]
       |   + 114 * bs[CAST(((((k // 9) * h) // 8) * 4
       |         + ((k % 9) * 4) // 9) * 3 + 3 AS INTEGER)]) // 1000) AS g
       |  FROM p),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 63),
       |    j -> CASE WHEN g[CAST((j // 8) * 9 + (j % 8) + 2 AS INTEGER)]
       |            > g[CAST((j // 8) * 9 + (j % 8) + 1 AS INTEGER)]
       |    THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
       |    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
       |  FROM gl)""".stripMargin

  private[graft] def duckUtf8BytesOf(e: String): String =
    s"""flatten(list_transform(
      |    list_transform(range(1, length($e) + 1), i -> unicode($e[i])),
      |    cp -> CASE
      |      WHEN cp < 128 THEN [cp]
      |      WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
      |      WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64]
      |      ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64]
      |    END))""".stripMargin

  /** FNV-1a 64 fold over a byte-list expression, in HUGEINT mod 2^64
    * (list_reduce uses the first element as the init, so the offset
    * basis is prepended). */
  private[graft] def duckFnvFold(lst: String): String =
    s"""(list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform($lst, x -> CAST(x AS HUGEINT))),
       |      (a, b) -> (xor(a, b) * 1099511628211) % 18446744073709551616))""".stripMargin

  /** reinterpret an unsigned-64 HUGEINT value as signed BIGINT (the
    * engine's Long semantics, incl. min-shingle's SIGNED comparison) */
  private[graft] def duckSigned(h: String): String =
    s"""CAST(CASE WHEN $h >= 9223372036854775808
       |      THEN $h - 18446744073709551616 ELSE $h END AS BIGINT)""".stripMargin

  /** Dedup.portableWordHash twin: first 15 hex chars of md5 parsed
    * base-16 via a digit fold. */
  private[graft] def duckHex15(w: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
       |      i -> CAST(CASE WHEN ascii(md5($w)[i]) >= 97 THEN ascii(md5($w)[i]) - 87
       |           ELSE ascii(md5($w)[i]) - 48 END AS BIGINT))), (a, d) -> a * 16 + d)""".stripMargin

  /** The DSIR oracle chain: tokenization mirrors
    * [[operators.TextAnalysis.wordModel]] (trim → lower → whitespace
    * split, empty tokens dropped); `dtc`/`drc` are the target/raw
    * word counts, `dtt`/`drt` the add-one smoothing denominators
    * (nWords + vocab + 1), and `dr` replays the likelihood ratio in
    * the engine's EXACT double operation order — IEEE multiply and
    * divide are correctly rounded in both engines, so the floored
    * milli value is bit-equal; `dimp`'s final mean is `//`, DuckDB's
    * truncating integer division mirroring Spark's 64-bit `div`. */
  private[graft] def dsirCtes: String =
    """dtk AS (SELECT doc_id, source,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |dtw AS (SELECT * FROM dtk WHERE w <> ''),
      |dtc AS (SELECT w, count(*) AS tn FROM dtw
      |  WHERE source = 'src0' GROUP BY w),
      |dtt AS (SELECT count(*) + count(DISTINCT w) + 1 AS den
      |  FROM dtw WHERE source = 'src0'),
      |drc AS (SELECT w, count(*) AS rn FROM dtw GROUP BY w),
      |drt AS (SELECT count(*) + count(DISTINCT w) + 1 AS den
      |  FROM dtw),
      |dr AS (SELECT doc_id,
      |    CAST(floor((1000.0 * (coalesce(tn, 0) + 1)
      |        / (SELECT den FROM dtt))
      |      * ((SELECT den FROM drt)
      |        / (coalesce(rn, 0) + 1.0))) AS BIGINT) AS r
      |  FROM dtw LEFT JOIN dtc USING (w) LEFT JOIN drc USING (w)),
      |dimp AS (SELECT doc_id, count(*) AS n_words,
      |    CAST(sum(r) // count(*) AS BIGINT) AS imp_milli
      |  FROM dr GROUP BY doc_id)""".stripMargin

  /** The hashed-n-gram DSIR chain: tokenization as [[dsirCtes]] but
    * empty tokens are filtered BEFORE gram formation (mirroring
    * [[graft.functions.NgramBuckets]]); consecutive-token n-grams
    * join with one space and bucket `hex15(gram) % 4096` (the
    * portable md5 word hash — non-negative 60-bit, plain % is safe);
    * from there the ratio chain is [[dsirCtes]]' verbatim with the
    * bucket as the unit. The list comprehension generalizes over `n`:
    * `range(1, len(s) - (n-2))` is empty for docs under n tokens —
    * the kernel's empty-array stance at any n. */
  private[graft] def dsirNgramCtes: String = dsirNgramCtesN(2)

  private[graft] def dsirNgramCtesN(n: Int): String = {
    val gram = (0 until n).map(k =>
      if (k == 0) "s[i]" else s"s[i+$k]").mkString(" || ' ' || ")
    s"""ntk AS (SELECT doc_id, source,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      t -> t <> '') AS s
       |  FROM documents),
       |ngr AS (SELECT doc_id, source,
       |    unnest([$gram for i in range(1, len(s) - ${n - 2})])
       |      AS gram
       |  FROM ntk),
       |ngb AS (SELECT doc_id, source,
       |    ${duckHex15("gram")} % 4096 AS b
       |  FROM ngr),
       |ntc AS (SELECT b, count(*) AS tn FROM ngb
       |  WHERE source = 'src0' GROUP BY b),
       |ntt AS (SELECT count(*) + count(DISTINCT b) + 1 AS den
       |  FROM ngb WHERE source = 'src0'),
       |nrc AS (SELECT b, count(*) AS rcnt FROM ngb GROUP BY b),
       |nrt AS (SELECT count(*) + count(DISTINCT b) + 1 AS den
       |  FROM ngb),
       |nr AS (SELECT doc_id,
       |    CAST(floor((1000.0 * (coalesce(tn, 0) + 1)
       |        / (SELECT den FROM ntt))
       |      * ((SELECT den FROM nrt)
       |        / (coalesce(rcnt, 0) + 1.0))) AS BIGINT) AS r
       |  FROM ngb LEFT JOIN ntc USING (b) LEFT JOIN nrc USING (b)),
       |nimp AS (SELECT doc_id, count(*) AS n_words,
       |    CAST(sum(r) // count(*) AS BIGINT) AS imp_milli
       |  FROM nr GROUP BY doc_id)""".stripMargin
  }

  private[graft] def stratifiedSampleOracle: String =
    s"""WITH b AS (SELECT doc_id, lang, n_chars, $duckUtf8Bytes AS bs
       |           FROM documents),
       |r AS (SELECT doc_id, lang, n_chars,
       |  row_number() OVER (PARTITION BY lang
       |    ORDER BY ${duckSigned(duckFnvFold("bs"))} ASC, doc_id ASC) AS rn
       |  FROM b)
       |SELECT lang, doc_id, n_chars FROM r WHERE rn <= 3
       |ORDER BY lang ASC, doc_id ASC""".stripMargin

  /** Mixture quotas recomputed with the SAME double math as the
    * Scala driver (CAST AS DOUBLE — DuckDB would otherwise parse the
    * weight literals as DECIMAL and round differently):
    * N* = min ⌊n_s/w_s⌋, quota_s = ⌊w_s·N*⌋, then the per-source
    * smallest-(fingerprint, doc_id) rows. */
  private[graft] def mixtureSampleOracle: String =
    s"""WITH w AS (SELECT * FROM (VALUES
       |    ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.25 AS DOUBLE)),
       |    ('src2', CAST(0.15 AS DOUBLE)), ('src3', CAST(0.10 AS DOUBLE)))
       |  AS t(s, wt)),
       |c AS (SELECT source, count(*) AS n FROM documents
       |      WHERE source IN (SELECT s FROM w) GROUP BY source),
       |q AS (SELECT w.s, CAST(floor(w.wt *
       |    (SELECT min(floor(c2.n / w2.wt))
       |     FROM c c2 JOIN w w2 ON c2.source = w2.s)) AS BIGINT) AS quota
       |  FROM w),
       |b AS (SELECT doc_id, source, $duckUtf8Bytes AS bs FROM documents
       |      WHERE source IN (SELECT s FROM w)),
       |r AS (SELECT doc_id, source,
       |  row_number() OVER (PARTITION BY source
       |    ORDER BY ${duckSigned(duckFnvFold("bs"))} ASC, doc_id ASC) AS rn
       |  FROM b)
       |SELECT r.doc_id, r.source FROM r JOIN q ON r.source = q.s
       |WHERE r.rn <= q.quota
       |ORDER BY r.doc_id ASC""".stripMargin

  /** budgetSample mirror: ONE rule — a row keeps iff the running
    * weight sum strictly before it (fingerprint, tiebreak order,
    * within its source) is under the source's budget; the engine's
    * full-stratum / below-threshold / boundary-window paths are all
    * refinements of this rule. */
  private[graft] def budgetSampleOracle: String = {
    val srcs = budgetSampleBudgets.keys.map(s => s"'$s'").mkString(", ")
    val cases = budgetSampleBudgets.map { case (s, b) =>
      s"WHEN '$s' THEN $b" }.mkString(" ")
    s"""WITH b AS (SELECT doc_id, source, n_chars, $duckUtf8Bytes AS bs
       |  FROM documents WHERE source IN ($srcs)),
       |r AS (SELECT doc_id, source, n_chars,
       |  coalesce(sum(n_chars) OVER (PARTITION BY source
       |    ORDER BY ${duckSigned(duckFnvFold("bs"))} ASC, doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS before
       |  FROM b)
       |SELECT doc_id, source, n_chars FROM r
       |WHERE before < CASE source $cases END
       |ORDER BY doc_id ASC""".stripMargin
  }

  /** temperatureSample(α=0.5) mirror: sqrt is correctly-rounded IEEE
    * in both engines, and the weight normalization folds the sorted
    * source list from 0.0 exactly like the Scala side's ListMap sum —
    * from there the quota math is [[mixtureSampleOracle]]'s. */
  private[graft] def temperatureSampleOracle: String =
    s"""WITH d0 AS (SELECT * FROM documents
       |      WHERE source = 'src0' OR doc_id % 3 <> 0),
       |c AS (SELECT source, count(*) AS n FROM d0
       |      GROUP BY source),
       |tot AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)),
       |    (a, v) -> a + v) AS t FROM c),
       |w AS (SELECT source AS s,
       |    sqrt(CAST(n AS DOUBLE)) / (SELECT t FROM tot) AS wt FROM c),
       |q AS (SELECT w.s, CAST(floor(w.wt *
       |    (SELECT min(floor(c2.n / w2.wt))
       |     FROM c c2 JOIN w w2 ON c2.source = w2.s)) AS BIGINT) AS quota
       |  FROM w),
       |b AS (SELECT doc_id, source, $duckUtf8Bytes AS bs FROM d0),
       |r AS (SELECT doc_id, source,
       |  row_number() OVER (PARTITION BY source
       |    ORDER BY ${duckSigned(duckFnvFold("bs"))} ASC, doc_id ASC) AS rn
       |  FROM b)
       |SELECT r.doc_id, r.source FROM r JOIN q ON r.source = q.s
       |WHERE r.rn <= q.quota
       |ORDER BY r.doc_id ASC""".stripMargin

  /** Shared CTE prologue: per-doc word sets `w`, portable 64-hash
    * minhash signatures, and the (doc_id, band, bsig) band table `bb`
    * — the exact pipeline of [[operators.Dedup.bandedRelation]]. */
  private[graft] def minHashSigCtes: String = minHashSigCtesOver("documents")

  /** [[minHashSigCtes]] with the hashed table parameterized (any
    * earlier CTE with (doc_id, text) rows) — the composed-pipeline
    * oracles hash a quality-gated subset, not the whole corpus. */
  private[graft] def minHashSigCtesOver(docsTable: String): String = {
    val M = "18446744073709551616"
    val mask = (BigInt(1) << 64) - 1
    val params = graft.functions.MinHashSig.coefficients(64)
      .map { case (a, b) =>
        val au = BigInt(a) & mask
        val bu = BigInt(b) & mask
        s"[${au >> 32}, ${au & 0xFFFFFFFFL}, $bu]"
      }.mkString("[", ",\n    ", "]")
    val g = s"((((p[1] * x) % $M) * 4294967296) % $M" +
      s" + (p[2] * x) % $M + p[3]) % $M"
    s"""w AS (SELECT doc_id,
       |  list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS ws
       |  FROM $docsTable),
       |h AS (SELECT doc_id, list_transform(ws,
       |    wd -> ${duckFnvFold(duckUtf8BytesOf("wd"))}) AS hs FROM w),
       |s AS (SELECT doc_id, list_transform(
       |    $params,
       |    p -> list_min(list_transform(hs, x -> ${duckSigned(g)}))) AS sig
       |  FROM h)""".stripMargin
  }

  private[graft] def minHashBandCtes: String =
    s"""$minHashSigCtes,
       |bb AS (SELECT doc_id, band, sig[band*4+1 : band*4+4] AS bsig
       |  FROM (SELECT doc_id, sig, unnest(range(0, 16)) AS band FROM s))""".stripMargin

  /** Full MinHash-LSH dedup reproduced in DuckDB: FNV-1a word hashes
    * (mod-2^64 via HUGEINT with 32-bit-split modular multiplication —
    * a_u·h overflows int128 otherwise), the engine's EXACT affine
    * coefficients embedded as literals, signed-compare lane minima,
    * slice banding, bucket cap, candidate join, and exact-jaccard
    * verify. Matching this end-to-end is only possible because the
    * Spark side bands on the raw signature slice (array equality), not
    * an engine-specific hash of it. */
  private[graft] def minHashLshOracle: String =
    s"""WITH $minHashBandCtes,
       |capped AS (SELECT doc_id, band, bsig FROM bb
       |  QUALIFY count(*) OVER (PARTITION BY band, bsig) <= 1000),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |v AS (SELECT cand.a, cand.b,
       |    CAST(round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE) * 1000.0
       |      / len(list_distinct(wa.ws || wb.ws))) AS BIGINT) AS jaccard_milli
       |  FROM cand JOIN w wa ON wa.doc_id = cand.a
       |            JOIN w wb ON wb.doc_id = cand.b)
       |SELECT a, b, jaccard_milli FROM v
       |WHERE jaccard_milli >= 900
       |ORDER BY a ASC, b ASC""".stripMargin

  /** Shared ExactSubstr CTE prefix (sliding 4-grams `t`..`g2`, the
    * keep-first `rn > 1` verdict `d` over duplicated-start set `du`,
    * and the islands fold to maximal spans `i`) — ONE copy for every
    * oracle that re-derives spans (DataFrame spans, TVF, incremental,
    * streaming survivor set, strip), so a span-semantics fix cannot
    * leave a stale twin. `du` is the hook the incremental oracle
    * overrides. */
  private[graft] def substringSpanCtes(duCte: String): String =
    s"""t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(range(0, len(w) - 3)) AS idx, w
       |  FROM t WHERE len(w) >= 4),
       |g2 AS (SELECT doc_id, idx,
       |  array_to_string(w[CAST(idx + 1 AS INT):CAST(idx + 4 AS INT)], ' ')
       |    AS gram FROM g),
       |$duCte,
       |m AS (SELECT doc_id, idx, CASE WHEN idx <= coalesce(
       |  max(idx + 4) OVER (PARTITION BY doc_id ORDER BY idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |  THEN 0 ELSE 1 END AS brk FROM d),
       |i AS (SELECT doc_id, idx,
       |  sum(brk) OVER (PARTITION BY doc_id ORDER BY idx) AS grp FROM m)""".stripMargin

  /** The whole-corpus keep-first duplicated-start set. */
  private[graft] def substringKeepFirstDu: String =
    """r AS (SELECT doc_id, idx, row_number() OVER (PARTITION BY gram
      |  ORDER BY doc_id, idx) AS rn FROM g2),
      |d AS (SELECT doc_id, idx FROM r WHERE rn > 1)""".stripMargin

  /** ExactSubstr spans oracle (shared by the DataFrame query and the
    * vfs_dup_spans TVF). */
  private[graft] def substringSpansOracle: String =
    s"""WITH ${substringSpanCtes(substringKeepFirstDu)}
       |SELECT doc_id, CAST(min(idx) AS BIGINT) AS span_start,
       |  CAST(max(idx) + 4 AS BIGINT) AS span_end,
       |  CAST(max(idx) + 4 - min(idx) AS BIGINT) AS span_tokens
       |FROM i GROUP BY doc_id, grp
       |ORDER BY doc_id ASC, span_start ASC""".stripMargin

  /** The synthetic multi-line pages with REAL cross-doc boilerplate
    * (global nav, per-source footer, every-3rd-doc subscribe prompt,
    * two unique content lines, a blank line, a unique doc footer) —
    * ONE construction shared by every boilerplate row; the oracle
    * builds the identical page in its `p` CTE. */
  private[graft] def boilerplatePages(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), concat(
        lit("Home | About | Contact\n(c) "), col("source"),
        lit(" network syndication.\n"),
        substring(col("text"), 1, 50), lit("\n"),
        when(col("doc_id") % 3 === 0,
          lit("Subscribe to our newsletter today.")).otherwise(lit("")),
        lit("\n"), substring(col("text"), 51, 45),
        lit("\nDoc "), col("doc_id").cast("string"),
        lit(" exclusive content line.")).as("text"))

  /** Deterministic per-doc URL fixture for the web-curation rows —
    * doc_id % 6 picks a construction exercising every
    * [[operators.WebCuration.normalizeUrl]] rule (case, `www.`,
    * default ports, tracking params, param sorting, fragments,
    * trailing slashes, bare hosts) across ~3 registered domains per
    * source (`srcK.com` collapses four host variants, `srcK.co.uk`
    * exercises the two-level suffix); the oracle's `wurl` CTE builds
    * the identical string. */
  private[graft] def webUrls(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m = pmod(col("doc_id"), lit(6))
    val url = when(m === 0,
        concat(lit("HTTP://WWW."), upper(col("source")),
          lit(".COM:80/Articles/"), id,
          lit("?utm_source=feed&ref=rss&id="), id, lit("#sec-2")))
      .when(m === 1,
        concat(lit("https://news."), col("source"),
          lit(".co.uk:443/posts/"), id, lit("/")))
      .when(m === 2,
        concat(lit("https://"), col("source"),
          lit(".org/a/b/?fbclid=x"), id))
      .when(m === 3,
        concat(lit("http://"), col("source"), lit(".com/landing")))
      .when(m === 4,
        concat(lit("https://blog."), col("source"),
          lit(".com/post?b=2&a=1&utm_medium=email")))
      .otherwise(concat(lit("https://"), col("source"), lit(".com")))
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"), url.as("url"))
  }

  /** URL fixture for the PSL rows — hosting-platform hosts whose
    * suffixes the frozen head is missing (`userN.github.io`,
    * `blogN.blogspot.com`, `appN.netlify.app` — each N a distinct
    * publisher the PSL form must keep apart) plus two head-covered
    * constructions (`news.srcK.co.uk`, `www.srcK.com`) where the two
    * derivations must agree. The oracle's `pu` CTE builds the
    * identical string. */
  private[graft] def webPslUrls(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m = pmod(col("doc_id"), lit(5))
    val url = when(m === 0,
        concat(lit("https://user"), pmod(col("doc_id"), lit(97)),
          lit(".github.io/post/"), id))
      .when(m === 1,
        concat(lit("https://blog"), pmod(col("doc_id"), lit(89)),
          lit(".blogspot.com/"), id))
      .when(m === 2,
        concat(lit("https://news."), col("source"),
          lit(".co.uk/a/"), id))
      .when(m === 3,
        concat(lit("https://www."), col("source"), lit(".com/p/"), id))
      .otherwise(concat(lit("https://app"), pmod(col("doc_id"), lit(7)),
        lit(".netlify.app/x/"), id))
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"), url.as("url"))
  }

  /** The PSL-cap oracle chain: `pu` rebuilds the fixture, `ph`
    * derives the host exactly as `urlHost` (https only — no ports or
    * userinfo in this fixture; one leading `www.` stripped), and
    * `pd` mirrors the longest-match-wins suffix walk with the
    * [[operators.WebCuration.pslDomainRegexes]] groups (longest
    * label-count group first, two-label fallback) — regexes
    * interpolated from the SAME snapshot constant the engine query
    * passes, so the derivations cannot drift. */
  private[graft] def webPslCtes: String = {
    val groups = graft.operators.WebCuration.pslDomainRegexes(
      graft.operators.WebCuration.PslSampleSnapshot)
    val cases = groups.map(re =>
      s"WHEN regexp_extract(host, '$re', 1) <> '' " +
        s"THEN regexp_extract(host, '$re', 1)").mkString("\n|      ")
    s"""pu AS (SELECT doc_id, n_chars,
       |    CASE doc_id % 5
       |      WHEN 0 THEN 'https://user' || (doc_id % 97) || '.github.io/post/' || doc_id
       |      WHEN 1 THEN 'https://blog' || (doc_id % 89) || '.blogspot.com/' || doc_id
       |      WHEN 2 THEN 'https://news.' || source || '.co.uk/a/' || doc_id
       |      WHEN 3 THEN 'https://www.' || source || '.com/p/' || doc_id
       |      ELSE 'https://app' || (doc_id % 7) || '.netlify.app/x/' || doc_id END AS url
       |  FROM documents),
       |ph AS (SELECT doc_id, n_chars,
       |    regexp_replace(regexp_extract(url,
       |      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2),
       |      '^www\\.', '') AS host
       |  FROM pu),
       |pd AS (SELECT doc_id, n_chars,
       |    CASE $cases
       |      WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) <> ''
       |        THEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
       |      ELSE host END AS domain
       |  FROM ph)""".stripMargin
  }

  /** The web-curation oracle chain: `wurl` builds the identical URL
    * fixture, then `wn` mirrors
    * [[operators.WebCuration.normalizeUrl]] / `urlHost` /
    * `registeredDomain` with the SAME regexes — the tracking-param
    * pattern interpolated from
    * [[operators.WebCuration.TrackingParamRe]] and the two-level
    * suffix list from [[operators.WebCuration.TwoLevelSuffixes]], so
    * the two derivations cannot drift. */
  private[graft] def webUrlCtes: String = {
    val re = graft.operators.WebCuration.TrackingParamRe
    val (re3, re2) = graft.operators.WebCuration.domainRegexes
    s"""wurl AS (SELECT doc_id, n_chars,
       |    CASE doc_id % 6
       |      WHEN 0 THEN 'HTTP://WWW.' || upper(source) || '.COM:80/Articles/' || doc_id || '?utm_source=feed&ref=rss&id=' || doc_id || '#sec-2'
       |      WHEN 1 THEN 'https://news.' || source || '.co.uk:443/posts/' || doc_id || '/'
       |      WHEN 2 THEN 'https://' || source || '.org/a/b/?fbclid=x' || doc_id
       |      WHEN 3 THEN 'http://' || source || '.com/landing'
       |      WHEN 4 THEN 'https://blog.' || source || '.com/post?b=2&a=1&utm_medium=email'
       |      ELSE 'https://' || source || '.com' END AS url
       |  FROM documents),
       |w1 AS (SELECT doc_id, n_chars, url,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    lower(regexp_replace(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2), '^[^@]*@', '')) AS hp,
       |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^#]*)', 2) AS pathq
       |  FROM wurl),
       |w2 AS (SELECT *, regexp_replace(
       |    CASE WHEN scheme = 'http' THEN regexp_replace(hp, ':80$$', '')
       |         WHEN scheme = 'https' THEN regexp_replace(hp, ':443$$', '')
       |         ELSE hp END, '^www\\.', '') AS host0 FROM w1),
       |w3 AS (SELECT doc_id, n_chars, url, scheme,
       |    CASE WHEN scheme <> '' AND host0 <> '' THEN host0 END AS host,
       |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$$', '') AS path,
       |    regexp_extract(pathq, '\\?(.*)$$', 1) AS rawq
       |  FROM w2),
       |w4 AS (SELECT *, array_to_string(list_sort(list_filter(string_split(rawq, '&'),
       |      p -> p <> '' AND NOT regexp_matches(p, '$re'))), '&') AS q FROM w3),
       |wn AS (SELECT doc_id, n_chars, url,
       |    CASE WHEN host IS NOT NULL THEN scheme || '://' || host || path ||
       |      CASE WHEN q <> '' THEN '?' || q ELSE '' END END AS norm_url,
       |    host,
       |    CASE WHEN host IS NULL THEN NULL
       |         WHEN regexp_extract(host, '$re3', 1) <> ''
       |           THEN regexp_extract(host, '$re3', 1)
       |         WHEN regexp_extract(host, '$re2', 1) <> ''
       |           THEN regexp_extract(host, '$re2', 1)
       |         ELSE host END AS domain
       |  FROM w4)""".stripMargin
  }

  /** The boilerplate CTE chain over the built pages: the bdf table
    * (count DISTINCT docs per trimmed non-blank line) folds to ONE
    * boilerplate list and each page is list_filtered against it in
    * document order. CTE names are `b`-prefixed so the chain composes
    * with the curate chain (whose langid stage also defines `df`). */
  private[graft] def boilerplateCtes: String =
    """bpg AS (SELECT doc_id,
      |    'Home | About | Contact' || chr(10) ||
      |    '(c) ' || source || ' network syndication.' || chr(10) ||
      |    substr(text, 1, 50) || chr(10) ||
      |    CASE WHEN doc_id % 3 = 0
      |         THEN 'Subscribe to our newsletter today.'
      |         ELSE '' END || chr(10) ||
      |    substr(text, 51, 45) || chr(10) ||
      |    'Doc ' || doc_id || ' exclusive content line.' AS text
      |  FROM documents),
      |bocc AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
      |  FROM bpg),
      |bdf AS (SELECT trim(l) AS ln, count(DISTINCT doc_id) AS df
      |  FROM bocc WHERE len(trim(l)) > 0 GROUP BY 1),
      |bbl AS (SELECT coalesce(list(ln), []) AS bl
      |  FROM bdf WHERE df >= 5),
      |bout AS (SELECT doc_id,
      |    list_filter(string_split(text, chr(10)), l ->
      |      len(trim(l)) > 0 AND NOT list_contains(bbl.bl, trim(l)))
      |      AS kept,
      |    list_filter(string_split(text, chr(10)), l ->
      |      len(trim(l)) > 0 AND list_contains(bbl.bl, trim(l)))
      |      AS dropped
      |  FROM bpg CROSS JOIN bbl)""".stripMargin

  /** [[boilerplateCtes]] + the per-doc projection — shared verbatim
    * by the operator row, its TVF twin, the standing-artifact row,
    * and the streaming row. */
  private[graft] def boilerplateOracle: String =
    s"""WITH $boilerplateCtes
      |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
      |  CAST(len(dropped) AS BIGINT) AS n_dropped,
      |  array_to_string(kept, chr(10)) AS clean_text
      |FROM bout ORDER BY doc_id ASC""".stripMargin

  /** The synthetic-page Gopher+C4 gate, re-derived in DuckDB —
    * shared verbatim by the streaming gate row and its TVF twin
    * (same corpus construction, same cascades, same policy). */
  private[graft] def qualityFilterOracle: String =
"""WITH i AS (SELECT doc_id,
        |    'The quick section about ' || substr(text, 1, 40) ||
        |    ' ends well here.' || chr(10) || 'Too short.' || chr(10) ||
        |    'Please enable JavaScript to continue reading now.' ||
        |    chr(10) || substr(text, 41, 80) || chr(10) ||
        |    'This sentence is long enough to satisfy the filter.' ||
        |    chr(10) ||
        |    'We keep that pace and write of many decent things here to finish.' ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum {'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'wait for it...' ||
        |      chr(10) || 'and more to come...' || chr(10) ||
        |      'still going on...' ELSE '' END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    list_filter(string_split(text, chr(10)),
        |      l -> len(trim(l)) > 0) AS lines
        |  FROM i),
        |s AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
        |      + CAST((len(text) - len(replace(text, '...', ''))) // 3
        |          AS BIGINT) AS symbols,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> ends_with(trim(l), '...')))
        |      AS BIGINT) AS ell,
        |    CAST(len(list_filter(lines,
        |      l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS bul,
        |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS BIGINT) AS alpha,
        |    CAST(len(list_filter(
        |      ['the','be','to','of','and','that','have','with'],
        |      g -> list_contains(list_transform(toks, w -> lower(w)), g)))
        |      AS BIGINT) AS stop_hits
        |  FROM t),
        |gp AS (SELECT doc_id, n_words, stop_hits,
        |    CAST(CASE WHEN n_words BETWEEN 50 AND 100000
        |      AND (CASE WHEN n_words > 0
        |        THEN floor(1000.0 * sum_len / n_words) ELSE 0 END)
        |        BETWEEN 3000 AND 10000
        |      AND (CASE WHEN n_words > 0
        |        THEN floor(1000.0 * symbols / n_words) ELSE 0 END) <= 100
        |      AND (CASE WHEN n_lines > 0
        |        THEN floor(1000.0 * ell / n_lines) ELSE 0 END) <= 300
        |      AND (CASE WHEN n_lines > 0
        |        THEN floor(1000.0 * bul / n_lines) ELSE 0 END) <= 900
        |      AND (CASE WHEN n_words > 0
        |        THEN floor(1000.0 * alpha / n_words) ELSE 0 END) >= 800
        |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT)
        |      AS gopher_pass
        |  FROM s),
        |c AS (SELECT doc_id,
        |    CAST(CASE WHEN contains(text, '{')
        |      OR contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END
        |      AS BIGINT) AS page_drop,
        |    list_filter(lines, l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(string_split_regex(trim(l), '\s+')) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')) AS kept
        |  FROM t)
        |SELECT gp.doc_id, array_to_string(c.kept, chr(10)) AS text,
        |  gp.n_words, gp.stop_hits, CAST(len(c.kept) AS BIGINT) AS n_kept
        |FROM gp JOIN c ON c.doc_id = gp.doc_id
        |WHERE gp.gopher_pass = 1 AND c.page_drop = 0 AND len(c.kept) >= 1
        |ORDER BY gp.doc_id ASC""".stripMargin

  /** Shared CTE chain deriving the per-doc trigram langid argmin
    * struct (`best`) from the seed fixture — generated off the SAME
    * Scala constant the engine trains on, so the derivations cannot
    * drift. Terminal consumers LEFT JOIN `best` to documents (the
    * all-OOV "und"/500 fallback lives in the consumer's coalesce). */
  private[graft] def langIdCtes: String = langIdCtesOver("documents")

  /** [[langIdCtes]] with the SCORED table parameterized (any earlier
    * CTE with (doc_id, text) rows) — the composed-pipeline oracles
    * score a filtered survivor set, not the whole corpus. */
  private[graft] def langIdCtesOver(docsTable: String): String = {
    val values = operators.TextAnalysis.LangIdSeedCorpus
      .map { case (l, t) => s"('$l', '${t.replace("'", "''")}')" }
      .mkString(",\n    ")
    s"""fx(lang, txt) AS (VALUES
       |    $values),
       |ft AS (SELECT lang, list_distinct(list_transform(
       |    range(1, greatest(length(lower(txt)) - 2, 0) + 1),
       |    i -> substr(lower(txt), CAST(i AS INTEGER), 3))) AS gs
       |  FROM fx),
       |g AS (SELECT lang, unnest(gs) AS gram FROM ft),
       |df AS (SELECT gram, lang, CAST(count(*) AS BIGINT) AS df
       |  FROM g GROUP BY 1, 2),
       |tot AS (SELECT gram, CAST(sum(df) AS BIGINT) AS df_total
       |  FROM df GROUP BY 1
       |  ORDER BY df_total DESC, gram ASC LIMIT 4096),
       |langs AS (SELECT DISTINCT lang FROM fx),
       |nl AS (SELECT count(*) AS l FROM langs),
       |dense AS (SELECT t.gram, l.lang,
       |    (1000 * (coalesce(d.df, 0) + 1)) // (t.df_total + nl.l) AS w
       |  FROM tot t CROSS JOIN langs l CROSS JOIN nl
       |  LEFT JOIN df d ON d.gram = t.gram AND d.lang = l.lang),
       |dg AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(length(lower(text)) - 2, 0) + 1),
       |    i -> substr(lower(text), CAST(i AS INTEGER), 3)))) AS gram
       |  FROM $docsTable),
       |ev AS (SELECT dg.doc_id, dense.lang,
       |    CAST(count(*) AS BIGINT) AS matched,
       |    CAST(sum(dense.w) AS BIGINT) // CAST(count(*) AS BIGINT)
       |      AS score_milli
       |  FROM dg JOIN dense ON dg.gram = dense.gram
       |  GROUP BY 1, 2),
       |best AS (SELECT doc_id,
       |    min(struct_pack(neg := -score_milli, lang := lang,
       |      matched := matched, score := score_milli)) AS b
       |  FROM ev GROUP BY 1)""".stripMargin
  }

  /** Char-trigram language ID, re-derived end-to-end in DuckDB: the
    * SAME fixture (generated VALUES), the same distinct-trigram
    * extraction, add-one integer-milli weights, dense gram × lang
    * model, per-doc mean evidence, min-struct argmax, "und"/500
    * all-OOV fallback. */
  private[graft] def langIdNgramOracle: String =
    s"""WITH $langIdCtes
       |SELECT d.doc_id,
       |  coalesce(struct_extract(b.b, 'lang'), 'und') AS lang_pred,
       |  CAST(coalesce(struct_extract(b.b, 'matched'), 0) AS BIGINT)
       |    AS matched,
       |  CAST(coalesce(struct_extract(b.b, 'score'), 500) AS BIGINT)
       |    AS score_milli
       |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
       |ORDER BY d.doc_id ASC""".stripMargin

  /** OHLC oracle (shared by the DataFrame query and the vfs_ohlc
    * TVF): struct-min/max open/close — same lexicographic (us, v)
    * ordering as Spark's min(struct(...)), so timestamp ties agree. */
  private[graft] def timeOhlcOracle: String =
    """WITH e AS (SELECT event_type AS k,
      |  (epoch_us(ts) - epoch_us(ts) % 3600000000) // 1000000 AS bucket,
      |  epoch_us(ts) AS us,
      |  CAST(round(value * 100) AS BIGINT) AS v FROM events)
      |SELECT k AS event_type, bucket, count(*) AS n,
      |  (min(struct_pack(us := us, v := v))).v AS open_c,
      |  max(v) AS high_c, min(v) AS low_c,
      |  (max(struct_pack(us := us, v := v))).v AS close_c
      |FROM e GROUP BY k, bucket
      |ORDER BY event_type ASC, bucket ASC""".stripMargin

  /** The BM25 stats + scores CTEs (requires `t(doc_id, toks)` in
    * scope), mirroring [[graft.operators.TextAnalysis.bm25Scores]]
    * term by term: same association order in every double op
    * (exact-integer inputs, correctly rounded everywhere), per-term
    * floor to LONG, LONG sum — so the milli scores hash-match. Shared
    * by the standalone and hybrid-fusion oracles. */
  private[graft] def bm25ScCtes: String = {
    def contrib(i: Int, w: String): String =
      s"""CAST(floor(((n - df$i + 0.5) / (df$i + 0.5))
         |  * ((len(list_filter(toks, x -> x = '$w')) * 2.2)
         |    / (len(list_filter(toks, x -> x = '$w'))
         |      + 1.2 * (0.25 + 0.75 * (CAST(len(toks) * n AS DOUBLE) / tl))))
         |  * 1000.0) AS BIGINT)""".stripMargin
    val dfs = Bm25Terms.zipWithIndex.map { case (w, i) =>
      s"""CAST(sum(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)
         |    AS BIGINT) AS df$i""".stripMargin
    }.mkString(",\n")
    val sum = Bm25Terms.zipWithIndex
      .map { case (w, i) => contrib(i, w) }.mkString("\n+ ")
    s"""st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(len(toks)) AS BIGINT) AS tl,
       |$dfs
       |  FROM t),
       |sc AS (SELECT doc_id, $sum AS score_milli FROM t, st)""".stripMargin
  }

  /** Shared by `text_lm_score` and its TVF twin `sql_tvf_lm`: the
    * add-one-smoothed integer bigram model in DuckDB SQL (bigrams via
    * list_zip against the tail, costs in exact int64). */
  private[graft] def lmScoreOracle: String =
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '\s+') AS s
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(s) AS w FROM t),
      |bg AS (SELECT doc_id, p[1] AS a, p[2] AS b
      |  FROM (SELECT doc_id, unnest(list_zip(s, s[2:])) AS p FROM t)
      |  WHERE p[2] IS NOT NULL),
      |cab AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2),
      |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v FROM tok),
      |cost AS (SELECT bg.doc_id, (1000 * (ca.ca + v.v)) // (cab.cab + 1) AS c
      |  FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       CAST(CAST(sum(c) AS BIGINT) // count(*) AS BIGINT) AS mean_invp_milli
      |FROM cost GROUP BY 1 ORDER BY doc_id""".stripMargin

  private[graft] def bm25Oracle: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |$bm25ScCtes
       |SELECT doc_id, score_milli FROM sc WHERE score_milli > 0
       |ORDER BY doc_id ASC""".stripMargin

  /** The workload VALUES list — one (qid, term) row per
    * [[Bm25Workload]] entry. */
  private[graft] def bm25WorkloadValues: String =
    Bm25Workload.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** The workload-BM25 CTEs (requires `t(doc_id, toks)` in scope),
    * mirroring [[graft.operators.TextAnalysis.bm25ScoresTable]] over
    * [[Bm25Workload]]: same inverted-index decomposition (postings of
    * workload terms only, df from posting presence) and the SAME
    * double-op association order as the single-query CTEs. Produces
    * `scq(qid, doc_id, score_milli > 0)`. CTE names are q-suffixed so
    * they compose with `bm25ScCtes`/`hashedBowCtes` in one WITH. */
  private[graft] def bm25TableCtes: String =
    s"""q AS (SELECT CAST(qid AS BIGINT) AS qid, term
       |  FROM (VALUES $bm25WorkloadValues) AS v(qid, term)),
       |stq AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(len(toks)) AS BIGINT) AS tl FROM t),
       |tokq AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |  FROM t),
       |postq AS (SELECT term, doc_id, dl,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM tokq WHERE term IN (SELECT DISTINCT term FROM q)
       |  GROUP BY term, doc_id, dl),
       |dfsq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM postq GROUP BY term),
       |cq AS (SELECT q.qid, p.doc_id,
       |    CAST(floor(((n - df + 0.5) / (df + 0.5))
       |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
       |        * (CAST(dl * n AS DOUBLE) / tl))))
       |      * 1000.0) AS BIGINT) AS contrib
       |  FROM postq p JOIN dfsq USING (term)
       |  JOIN q ON q.term = p.term, stq),
       |scq AS (SELECT qid, doc_id,
       |    CAST(sum(contrib) AS BIGINT) AS score_milli
       |  FROM cq GROUP BY qid, doc_id HAVING sum(contrib) > 0)""".stripMargin

  // ---- oracle SQL generated from the same constants the Spark
  // implementation uses (TextAnalysis.LangProfiles) ----

  private[graft] def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** The quality_milli scalar over a relation exposing (text, toks,
    * n_chars) — shared by the standalone and composed-curation
    * oracles so the two can't drift. */
  private[graft] def qualityExprSql: String = {
    val stops = TextAnalysis.LangProfiles.flatMap(_._2).distinct
    s"""CAST(round(
       |    least(len(toks) / 100.0, 1.0) * 250
       |  + (CASE WHEN n_chars > 0 THEN length(regexp_replace(text, '[^[:alpha:]]', '', 'g')) / n_chars ELSE 0.0 END) * 250
       |  + least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ${inList(stops)})) AS DOUBLE) / len(toks) ELSE 0.0 END) * 5.0, 1.0) * 250
       |  + (1.0 - (CASE WHEN n_chars > 0 THEN length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / n_chars ELSE 0.0 END)) * 250
       |  ) AS BIGINT)""".stripMargin
  }

  /** The FULL curation pipeline re-derived from scratch: quality
    * gate ([[qualityExprSql]] + token window), portable-simhash
    * near-dup keep-first (the [[simHashOracle]] sig derivation over
    * the QUALITY subset + the shared band fold), language ID over the
    * survivors ([[langIdCtesOver]]), deterministic language coding,
    * and the next-fit packing recurrence (the text_packing_bins oracle's
    * CTE shape) per language shard. */
  private[graft] def pipelineCurateOracle: String =
    s"""$pipelineCurateCtes
       |SELECT doc_id, CAST(lang_code AS BIGINT) AS lang_code,
       |  n AS n_tokens, bin_id, bin_off,
       |  CAST(CASE WHEN n > 256 THEN 1 ELSE 0 END AS BIGINT) AS overflow
       |FROM f ORDER BY doc_id ASC""".stripMargin

  private[graft] def pipelineCurateCtes: String =
    s"WITH RECURSIVE ${pipelineCurateChain("documents")}"

  /** The curate chain PARAMETERIZED over its input table (doc_id,
    * text) — `documents` for the plain rows, the boilerplate-cleaned
    * view for [[pipelineCleanCurateOracle]]. */
  private[graft] def pipelineCurateChain(docsTable: String): String =
    s"""tq AS (SELECT doc_id, text,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM $docsTable),
       |q AS (SELECT doc_id, text, n_tokens FROM tq
       |  WHERE $qualityExprSql >= 650 AND n_tokens BETWEEN 20 AND 90),
       |h AS (SELECT doc_id, list_transform(
       |    list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
       |    w -> ${duckHex15("w")}) AS hs FROM q),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60),
       |    j -> CASE WHEN 2 * len(list_filter(hs, x -> ((x >> j) & 1) = 1)) > len(hs)
       |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
       |  FROM h),
       |${sigBandFoldCtes(15)},
       |drops AS (SELECT DISTINCT pb FROM pairs
       |  WHERE bit_count(xor(sa, sb)) <= 3),
       |surv AS (SELECT q.doc_id, q.text, q.n_tokens FROM q
       |  LEFT JOIN drops ON drops.pb = q.doc_id WHERE drops.pb IS NULL),
       |${langIdCtesOver("surv")},
       |pred AS (SELECT s2.doc_id, s2.n_tokens,
       |    CASE coalesce(struct_extract(b2.b, 'lang'), 'und')
       |      WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2
       |      WHEN 'fr' THEN 3 ELSE 4 END AS lang_code
       |  FROM surv s2 LEFT JOIN best b2 ON b2.doc_id = s2.doc_id),
       |tp AS (SELECT doc_id, lang_code, n_tokens,
       |    row_number() OVER (PARTITION BY lang_code ORDER BY doc_id) AS rn
       |  FROM pred),
       |f(lang_code, rn, doc_id, n, bin_id, bin_off, used_after) AS (
       |  SELECT lang_code, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT), n_tokens
       |  FROM tp WHERE rn = 1
       |  UNION ALL
       |  SELECT tp.lang_code, tp.rn, tp.doc_id, tp.n_tokens,
       |    CASE WHEN f.used_after + tp.n_tokens <= 256 THEN f.bin_id
       |         ELSE f.bin_id + 1 END,
       |    CASE WHEN f.used_after + tp.n_tokens <= 256 THEN f.used_after
       |         ELSE CAST(0 AS BIGINT) END,
       |    CASE WHEN f.used_after + tp.n_tokens <= 256
       |         THEN f.used_after + tp.n_tokens
       |         ELSE tp.n_tokens END
       |  FROM f JOIN tp ON tp.lang_code = f.lang_code AND tp.rn = f.rn + 1)""".stripMargin

  /** hashed-BoW CTE chain shared by the embedding and composed-dedup
    * oracles: toks → buckets (md5-fold mod 64) → dense counts → L2
    * norm (sum of squared integer counts — order-independent exact). */
  private[graft] def hashedBowCtes: String =
    s"""t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |b AS (SELECT doc_id, list_transform(toks, w -> ${duckHex15("w")} % 64) AS bk
       |  FROM t),
       |c AS (SELECT doc_id, list_transform(range(0, 64),
       |        i -> CAST(len(list_filter(bk, x -> x = i)) AS DOUBLE)) AS cnts
       |  FROM b),
       |n AS (SELECT doc_id, cnts,
       |        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(cnts, x -> x * x)), (a, v) -> a + v)) AS nrm
       |  FROM c)""".stripMargin
}
