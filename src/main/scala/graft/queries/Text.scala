package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.TextAnalysis

/** Text analysis (`text_*`): quality signals, language id, BM25/LM
  * scoring, DSIR importance, tokenization and packing. */
object TextQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- token counting ----
    QuerySpec("text_tokens", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          graft.operators.TextAnalysis.tokenCountBpeIsh(col("text"))
            .as("n_subwords"))
        .orderBy(col("doc_id").asc)
    },
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split_regex(trim(text), '[\s[:punct:]]+')) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id ASC""".stripMargin),

    // ---- quality scoring ----
    QuerySpec("text_quality", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.qualityMilli(col("text"))
            .as("quality_milli"))
        .orderBy(col("doc_id").asc)
    },
      textQualityOracle),

    // ---- language identification (deterministic heuristic) ----
    QuerySpec("text_langid", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id").asc)
    },
      textLangIdOracle),

    // ---- model-based language ID: char-trigram naive Bayes trained
    // IN-ENGINE on the seeded multilingual fixture, scored over the
    // corpus — integer milli weights and scores end-to-end, so train
    // AND inference hash-match the DuckDB re-derivation (which
    // rebuilds the same model from the same VALUES literals) ----
    QuerySpec("text_langid_ngram", (s, dir) => {
      import s.implicits._
      val fixture = graft.operators.TextAnalysis.LangIdSeedCorpus
        .toDF("lang", "text")
      val model = graft.operators.TextAnalysis.trainLangId(fixture)
      graft.operators.TextAnalysis.scoreLangId(
          s.read.parquet(s"$dir/documents.parquet"), model)
        .orderBy(col("doc_id").asc)
    },
      // model-based twin: the oracle REBUILDS the trigram model from
      // the same fixture literals (shared Scala constant -> generated
      // VALUES, so the two derivations cannot drift) and re-scores
      langIdNgramOracle),

    // ---- tokenizer fertility by predicted language: the
    // multilingual tokenizer-fairness audit (subwords per word by
    // language), composing the trigram langid prediction with the
    // token-count projections in one aggregate ----
    QuerySpec("text_fertility_by_lang", (s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus
          .toDF("lang", "text"))
      graft.operators.TextAnalysis.tokenizerFertility(
          s.read.parquet(s"$dir/documents.parquet"), model)
        .orderBy(col("lang_pred").asc)
    },
      // langid composed with the token counts, one aggregate per lang
      fertilityByLangOracle),

    // ---- text normalization + n-grams (dedup preprocessing) ----
    QuerySpec("text_normalize", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm"),
          size(TextAnalysis.wordNGrams(col("text"), 3)).cast("long")
            .as("n_3grams"))
        .orderBy(col("doc_id").asc)
    },
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]+', ' ', 'g'), '\s+', ' ', 'g')) AS norm,
        |  CAST(len(list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |    for i in range(1, len(s) - 1)])) AS BIGINT) AS n_3grams
        |FROM (SELECT doc_id, text,
        |      string_split_regex(trim(lower(text)), '\s+') AS s FROM documents)
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- Gopher-style repetition signals (quality filtering) ----
    QuerySpec("text_repetition", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.TextAnalysis.repetitionSignals(d)
        .orderBy(col("doc_id").asc)
    },
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS s
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, 2 AS n,
        |    unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS gram
        |  FROM toks
        |  UNION ALL
        |  SELECT doc_id, 3 AS n,
        |    unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |            for i in range(1, len(s) - 1)]) AS gram
        |  FROM toks),
        |cnt AS (SELECT doc_id, n, gram, count(*) AS c
        |  FROM grams GROUP BY doc_id, n, gram),
        |pern AS (SELECT doc_id, n, max(c) AS maxc, sum(c) AS total,
        |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupc
        |  FROM cnt GROUP BY doc_id, n),
        |perid AS (SELECT doc_id,
        |  max(CASE WHEN n = 2 THEN CAST(floor(1000.0 * maxc / total) AS BIGINT) END) AS top2_milli,
        |  max(CASE WHEN n = 2 THEN CAST(floor(1000.0 * dupc / total) AS BIGINT) END) AS dup2_milli,
        |  max(CASE WHEN n = 3 THEN CAST(floor(1000.0 * maxc / total) AS BIGINT) END) AS top3_milli,
        |  max(CASE WHEN n = 3 THEN CAST(floor(1000.0 * dupc / total) AS BIGINT) END) AS dup3_milli
        |  FROM pern GROUP BY doc_id),
        |lp AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\n'),
        |                x -> len(trim(x)) > 0) AS l,
        |    list_filter(string_split_regex(text, '\n{2,}'),
        |                x -> len(trim(x)) > 0) AS p
        |  FROM documents)
        |SELECT lp.doc_id,
        |  CAST(CASE WHEN len(l) > 0 THEN floor(1000.0 * (len(l) - len(list_distinct(l))) / len(l)) ELSE 0 END AS BIGINT) AS dup_line_milli,
        |  CAST(CASE WHEN len(p) > 0 THEN floor(1000.0 * (len(p) - len(list_distinct(p))) / len(p)) ELSE 0 END AS BIGINT) AS dup_para_milli,
        |  COALESCE(top2_milli, 0) AS top2_milli,
        |  COALESCE(dup2_milli, 0) AS dup2_milli,
        |  COALESCE(top3_milli, 0) AS top3_milli,
        |  COALESCE(dup3_milli, 0) AS dup3_milli
        |FROM lp LEFT JOIN perid USING (doc_id)
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- Gopher document-level quality rules (Rae et al. 2021) ----
    QuerySpec("text_gopher", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.TextAnalysis.gopherSignals(d)
        .orderBy(col("doc_id").asc)
    },
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    list_filter(string_split(text, chr(10)),
        |      l -> len(trim(l)) > 0) AS lines
        |  FROM documents),
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
        |m AS (SELECT doc_id, n_words,
        |    CAST(CASE WHEN n_words > 0
        |      THEN floor(1000.0 * sum_len / n_words) ELSE 0 END AS BIGINT)
        |      AS mean_word_len_milli,
        |    CAST(CASE WHEN n_words > 0
        |      THEN floor(1000.0 * symbols / n_words) ELSE 0 END AS BIGINT)
        |      AS symbol_word_milli,
        |    CAST(CASE WHEN n_lines > 0
        |      THEN floor(1000.0 * ell / n_lines) ELSE 0 END AS BIGINT)
        |      AS ellipsis_line_milli,
        |    CAST(CASE WHEN n_lines > 0
        |      THEN floor(1000.0 * bul / n_lines) ELSE 0 END AS BIGINT)
        |      AS bullet_line_milli,
        |    CAST(CASE WHEN n_words > 0
        |      THEN floor(1000.0 * alpha / n_words) ELSE 0 END AS BIGINT)
        |      AS alpha_word_milli,
        |    stop_hits
        |  FROM s)
        |SELECT doc_id, n_words, mean_word_len_milli, symbol_word_milli,
        |  ellipsis_line_milli, bullet_line_milli, alpha_word_milli,
        |  stop_hits,
        |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
        |    AND mean_word_len_milli BETWEEN 3000 AND 10000
        |    AND symbol_word_milli <= 100 AND ellipsis_line_milli <= 300
        |    AND bullet_line_milli <= 900 AND alpha_word_milli >= 800
        |    AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
        |FROM m ORDER BY doc_id ASC""".stripMargin),

    // ---- C4 line-level cleaning (Raffel et al. 2020). The corpus is
    // single-line word salad, so a deterministic multi-line page is
    // BUILT per row first (same construction in the oracle): a
    // punctuation-terminated keeper, a too-short line, a javascript
    // notice, a raw salad line (no terminal punct), a second keeper,
    // and — every 7th doc — a "lorem ipsum {" page-drop trigger ----
    QuerySpec("text_c4_clean", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val page = d.select(col("doc_id"), concat(
        lit("Alpha section about "), substring(col("text"), 1, 40),
        lit(" ends well.\nToo short.\n"),
        lit("Please enable JavaScript to continue reading this page.\n"),
        substring(col("text"), 41, 60),
        lit("\nThis sentence is long enough to satisfy the filter."),
        when(col("doc_id") % 7 === 0, lit("\nlorem ipsum {"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextAnalysis.c4CleanLines(page)
        .orderBy(col("doc_id").asc)
    },
      """WITH i AS (SELECT doc_id,
        |    'Alpha section about ' || substr(text, 1, 40) ||
        |    ' ends well.' || chr(10) || 'Too short.' || chr(10) ||
        |    'Please enable JavaScript to continue reading this page.' ||
        |    chr(10) || substr(text, 41, 60) || chr(10) ||
        |    'This sentence is long enough to satisfy the filter.' ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum {'
        |         ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)),
        |      l -> len(trim(l)) > 0) AS lines,
        |    CAST(CASE WHEN contains(text, '{')
        |      OR contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END
        |      AS BIGINT) AS page_drop
        |  FROM i),
        |k AS (SELECT doc_id, page_drop, lines,
        |    list_filter(lines, l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(string_split_regex(trim(l), '\s+')) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')) AS kept
        |  FROM c)
        |SELECT doc_id, page_drop,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CASE WHEN page_drop = 0 THEN array_to_string(kept, chr(10))
        |       END AS clean_text
        |FROM k ORDER BY doc_id ASC""".stripMargin),

    // ---- PII detection + redaction (privacy pass). The corpus is
    // synthetic word salad with no PII, so deterministic per-row PII
    // is INJECTED first (same construction in the oracle) — the scan
    // and redaction then run over realistic mixed text ----
    QuerySpec("text_pii", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val injected = d.select(col("doc_id"), concat(
        substring(col("text"), 1, 40),
        lit(" user"), col("doc_id").cast("string"),
        lit("@ex.com via 10."),
        pmod(col("doc_id"), lit(200)).cast("string"), lit(".0."),
        pmod(col("doc_id") * 3, lit(250)).cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" alt x.y@z.org"))
          .otherwise(lit("")),
        lit(" acct 90000000"),
        pmod(col("doc_id"), lit(10)).cast("string")).as("text"))
      graft.operators.TextAnalysis.piiStats(injected)
        .orderBy(col("doc_id").asc)
    },
      """WITH inj AS (
        |  SELECT doc_id,
        |    substring(text, 1, 40) || ' user' || doc_id ||
        |    '@ex.com via 10.' || (doc_id % 200) || '.0.' ||
        |    ((doc_id * 3) % 250) ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' alt x.y@z.org' ELSE '' END ||
        |    ' acct 90000000' || (doc_id % 10) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '\b\d{9,}\b')) AS BIGINT) AS n_longnum,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{9,}\b', '<NUM>', 'g') AS redacted
        |FROM inj ORDER BY doc_id ASC""".stripMargin),

    // ---- sequence packing (concat-and-chop batch prep) ----
    QuerySpec("text_packing", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Packing.packSequences(d,
          shard = pmod(col("doc_id"), lit(8L)),
          orderBy = col("doc_id"),
          nTokens = graft.operators.TextAnalysis.tokenCount(col("text")),
          seqLen = 512)
        .orderBy(col("doc_id").asc)
    },
      """WITH t AS (SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |o AS (SELECT doc_id, shard, n,
        |    CAST(COALESCE(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS toff
        |  FROM t)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n AS n_tokens,
        |  toff AS tok_offset,
        |  toff // 512 AS seq_id,
        |  toff % 512 AS seq_off,
        |  (toff + greatest(n - 1, 0)) // 512 AS seq_id_last
        |FROM o ORDER BY doc_id ASC""".stripMargin),

    // ---- no-straddle bin packing (SFT batch prep): whole docs into
    // fixed-capacity bins, next-fit in deterministic stream order ----
    QuerySpec("text_packing_bins", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Packing.packBinsNextFit(d,
          shard = pmod(col("doc_id"), lit(8L)),
          orderBy = col("doc_id"),
          nTokens = graft.operators.TextAnalysis.tokenCount(col("text")),
          binCapacity = 256)
        .orderBy(col("doc_id").asc)
    },
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    ((doc_id % 8) + 8) % 8 AS shard,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY ((doc_id % 8) + 8) % 8
        |      ORDER BY doc_id) AS rn
        |  FROM documents),
        |f(shard, rn, doc_id, n, bin_id, bin_off, used_after) AS (
        |  SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), n
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.shard, t.rn, t.doc_id, t.n,
        |    CASE WHEN f.used_after + t.n <= 256 THEN f.bin_id
        |         ELSE f.bin_id + 1 END,
        |    CASE WHEN f.used_after + t.n <= 256 THEN f.used_after
        |         ELSE CAST(0 AS BIGINT) END,
        |    CASE WHEN f.used_after + t.n <= 256 THEN f.used_after + t.n
        |         ELSE t.n END
        |  FROM f JOIN t ON t.shard = f.shard AND t.rn = f.rn + 1)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n AS n_tokens,
        |  bin_id, bin_off,
        |  CAST(CASE WHEN n > 256 THEN 1 ELSE 0 END AS BIGINT) AS overflow
        |FROM f ORDER BY doc_id ASC""".stripMargin),

    // ---- tokenizer-TRUE packing: train BPE in-engine, encode the
    // corpus, pack the REAL token counts (not a caller-supplied
    // proxy) — the end-to-end SFT-prep composition. BPE counts are
    // not DuckDB-derivable, so the gate is the text_bpe property
    // pattern: structural invariants of the packed output, each
    // computed distributed and pinned to exact constants ----
    QuerySpec("text_packing_bpe", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.trainBpe(docs, nMerges = 200)
      val enc = graft.operators.Bpe.bpeEncode(docs, model)
        .select(col("doc_id"), col("n_tokens")).cache()
      // both caches serve the six actions below and are released in
      // `finally` — a verify session runs 300+ queries in one
      // SparkSession
      val row =
        try {
          val packed = graft.operators.Packing.packBinsNextFit(enc,
              shard = pmod(col("doc_id"), lit(8L)),
              orderBy = col("doc_id"),
              nTokens = col("n_tokens"), binCapacity = 256).cache()
          try {
            val nDocs = packed.count()
            val encTotal = enc.agg(sum(col("n_tokens"))).head().getLong(0)
            val packedTotal = packed.agg(sum(col("n_tokens"))).head().getLong(0)
            // non-overflow bins never exceed capacity
            val bins = packed.groupBy(col("shard"), col("bin_id"))
              .agg(sum(col("n_tokens")).as("load"),
                max(col("overflow")).as("ovf"))
            val capViol = bins.filter(col("ovf") === 0 && col("load") > 256)
              .count()
            // bin ids are contiguous 0..max per shard
            val gaps = packed.groupBy(col("shard"))
              .agg((max(col("bin_id")) + 1 -
                countDistinct(col("bin_id"))).as("gap"))
              .agg(sum(col("gap"))).head().getLong(0)
            // stream order: bin ids never decrease along doc order
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("shard")).orderBy(col("doc_id"))
            val orderViol = packed
              .withColumn("prev", lag(col("bin_id"), 1).over(w))
              .filter(col("prev") > col("bin_id")).count()
            // the overflow flag is exactly (n_tokens > capacity)
            val flagViol = packed
              .filter((col("overflow") === 1L) =!= (col("n_tokens") > 256L))
              .count()
            (nDocs, if (packedTotal == encTotal) 1L else 0L, capViol,
              gaps, orderViol, flagViol)
          } finally packed.unpersist()
        } finally enc.unpersist()
      Seq(row)
        .toDF("n_docs", "token_total_match", "cap_violations",
          "bin_gaps", "order_violations", "flag_violations")
    },
      // tokenizer-true packing: BPE counts are not SQL-derivable, so
      // this is the text_bpe property pattern — structural invariants
      // pinned to exact constants (n_docs stays dynamic so the row
      // tracks the corpus)
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(1 AS BIGINT) AS token_total_match,
        |       CAST(0 AS BIGINT) AS cap_violations,
        |       CAST(0 AS BIGINT) AS bin_gaps,
        |       CAST(0 AS BIGINT) AS order_violations,
        |       CAST(0 AS BIGINT) AS flag_violations
        |FROM documents""".stripMargin),

    // ---- composed curation: exact-dup keeper ∩ quality band ∩
    // token-length band — the end-to-end "what goes into training"
    // filter, each leg of which is also oracle-checked alone ----
    QuerySpec("text_curation", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val enriched = d.select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        graft.operators.TextAnalysis.qualityMilli(col("text"))
          .as("quality_milli"))
      val keepers = d.groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper_id"))
        .select(col("keeper_id").as("doc_id"))
      enriched.join(keepers, Seq("doc_id"), "left_semi")
        .filter(col("quality_milli") >= 650 &&
          col("n_tokens").between(20, 90))
        .orderBy(col("doc_id").asc)
    },
      textCurationOracle),

    // ---- hashed bag-of-words embedding: model-free text
    // featurization (hashing trick), codegen'd kernel, bit-exact
    // cross-engine in milli form. Output is exploded to scalar
    // (doc_id, dim, val_milli) rows so the result is checker-portable
    // (array columns are not hashable downstream) ----
    QuerySpec("text_hash_embedding", (s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.hashEmbeddingMilli(col("text"), 64)
            .as("emb_milli"))
        .select(col("doc_id"),
          posexplode(col("emb_milli")).as(Seq("dim", "val_milli")))
        .orderBy(col("doc_id").asc, col("dim").asc)
    },
      textHashEmbeddingOracle),

    // ---- curriculum interleave: per-source quality rank + round-robin
    // source order — any prefix of the stream is quality-leaning AND
    // source-balanced ----
    QuerySpec("text_curriculum", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val scored = d.select(col("doc_id"), col("source"),
        graft.operators.TextAnalysis.qualityMilli(col("text"))
          .as("quality_milli"))
      graft.operators.Sampling.curriculumInterleave(scored,
        col("source"), col("quality_milli"), col("doc_id"))
    },
      textCurriculumOracle),

    // ---- RAG-style chunking: 200-char windows, 50-char overlap;
    // output integer stats per chunk (chars + whitespace tokens) ----
    QuerySpec("text_chunks", (s, dir) => {
      val chunked = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          posexplode(graft.operators.TextAnalysis
            .chunkText(col("text"), 200, 50)).as(Seq("chunk_idx", "chunk")))
      chunked.select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          length(col("chunk")).cast("long").as("chunk_chars"),
          graft.operators.TextAnalysis.tokenCount(col("chunk"))
            .as("chunk_tokens"))
        .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    },
      """WITH c AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |x AS (SELECT doc_id, text,
        |  unnest(range(0, CASE WHEN L <= 200 THEN 1
        |    ELSE CAST(ceil((L - 50) / 150.0) AS BIGINT) END)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |  CAST(length(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS BIGINT)
        |    AS chunk_chars,
        |  CAST(len(string_split_regex(
        |    trim(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)), '\s+'))
        |    AS BIGINT) AS chunk_tokens
        |FROM x
        |ORDER BY doc_id ASC, chunk_idx ASC""".stripMargin),

    // ---- content fingerprints (FNV-1a + min-shingle expressions;
    // oracle folds the same FNV-1a over arithmetically-derived UTF-8
    // bytes in HUGEINT mod 2^64) ----
    QuerySpec("text_fingerprint", (s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), vfs_fingerprint(col("text")).as("fp"),
          vfs_min_shingle(col("text"), 8).as("shingle_min"))
        .orderBy(col("doc_id").asc)
    },
      textFingerprintOracle),

    // ---- TF-IDF keywords: exact-integer rarity weight tf·1000·N/df,
    // top-3 per doc ----
    QuerySpec("text_tfidf", (s, dir) => {
      TextAnalysis.tfIdfKeywords(
          s.read.parquet(s"$dir/documents.parquet"), k = 3)
        .orderBy(col("doc_id").asc, col("rank").asc)
    },
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.word,
        |    CAST(floor(tf.tf * 1000.0 * n.n / df.df) AS BIGINT) AS score
        |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
        |r AS (SELECT doc_id, word, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, word ASC) AS BIGINT) AS rank FROM s)
        |SELECT doc_id, word, score, rank FROM r WHERE rank <= 3
        |ORDER BY doc_id ASC, rank ASC""".stripMargin),

    // ---- vocabulary build: global counts, rank, cumulative coverage ----
    QuerySpec("text_vocab", (s, dir) => {
      TextAnalysis.vocabulary(
          s.read.parquet(s"$dir/documents.parquet"), v = 50)
        .orderBy(col("rank").asc)
    },
      """WITH w AS (SELECT
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents),
        |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
        |r AS (SELECT word, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT)
        |      AS rank,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, word ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS total
        |  FROM c)
        |SELECT word, cnt, rank,
        |  CAST(floor(1000.0 * cum / total) AS BIGINT) AS cov_milli
        |FROM r WHERE rank <= 50
        |ORDER BY rank ASC""".stripMargin),

    // ---- OOV-rate quality signal: fraction of token occurrences
    // outside the corpus top-50 vocabulary, in milli ----
    QuerySpec("text_oov_rate", (s, dir) => {
      TextAnalysis.oovRate(
          s.read.parquet(s"$dir/documents.parquet"), v = 50)
        .orderBy(col("doc_id").asc)
    },
      """WITH w AS (SELECT
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents),
        |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
        |r AS (SELECT word,
        |    row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
        |  FROM c),
        |vocab AS (SELECT word FROM r WHERE rank <= 50),
        |t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS s
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(s) AS tok FROM t),
        |o AS (SELECT doc_id, count(*) AS oov FROM tok
        |  WHERE tok NOT IN (SELECT word FROM vocab) GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(floor(1000.0 * COALESCE(o.oov, 0) / len(t.s)) AS BIGINT)
        |    AS oov_milli
        |FROM t LEFT JOIN o ON o.doc_id = t.doc_id
        |ORDER BY t.doc_id ASC""".stripMargin),

    // ---- BPE tokenizer: train on the corpus word-count aggregate
    // (the distributed pass), encode every doc with the learned
    // merges. ACCEPTANCE row — DuckDB cannot run a merge loop, but it
    // pins the deterministic contract: every doc decodes back to its
    // normal form (lowercase, single spaces) and the learned subwords
    // compress vs the char-level baseline (chars + one </w> per word)
    QuerySpec("text_bpe", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.trainBpe(docs, nMerges = 200)
      val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
      graft.operators.Bpe.bpeEncode(docs, model)
        .join(docs.select(col("doc_id"), norm.as("__norm")),
          Seq("doc_id"))
        .select(
          when(graft.operators.Bpe.bpeDecodeCol(col("tokens"))
            === col("__norm"), 0L).otherwise(1L).as("__fail"),
          col("n_tokens"),
          (length(translate(col("__norm"), " ", "")) +
            size(split(col("__norm"), " "))).cast("long").as("__base"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__fail")).as("roundtrip_fail"),
          when(sum(col("n_tokens")) < sum(col("__base")), 1L)
            .otherwise(0L).as("compressed"))
    },
      // acceptance row: BPE train+encode contract — all docs roundtrip
      // through decode, learned merges compress vs the char baseline
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(0 AS BIGINT) AS roundtrip_fail,
        |       CAST(1 AS BIGINT) AS compressed
        |FROM documents""".stripMargin),

    // ---- bigram LM quality scoring: add-one-smoothed corpus bigram
    // model, per-doc mean INVERSE probability in integer milli (the
    // float-free, engine-portable stand-in for a perplexity filter:
    // cost(a,b) = (1000·(c(a)+V)) div (c(a,b)+1), integer mean) ----
    QuerySpec("text_lm_score", (s, dir) => {
      TextAnalysis.lmScore(
          s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("doc_id").asc)
    },
      // bigram LM score: same smoothed integer-milli inverse-probability
      // model derived in SQL — bigrams via list_zip against the tail
      lmScoreOracle),

    // ---- repetition REMOVAL: dedup lines within each doc, first
    // occurrence wins, order preserved. The corpus has no multi-line
    // docs at this sf, so the query derives one deterministically
    // (text + itself + a prefix, newline-joined): the operator must
    // drop the exact-duplicate second line and keep the prefix ----
    QuerySpec("text_strip_repeats", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat_ws("\n", col("text"), col("text"),
            substring(col("text"), 1, 50)).as("text"))
      TextAnalysis.stripRepeatedLines(docs)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lines_kept"), col("lines_total"))
        .orderBy(col("doc_id").asc)
    },
      // repetition removal: same derived multi-line corpus, first
      // occurrence kept in order (string_agg ORDER BY min pos)
      """WITH d AS (SELECT doc_id,
        |    text || chr(10) || text || chr(10) || substr(text, 1, 50) AS text
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos,
        |    unnest(string_split(text, chr(10))) AS line
        |  FROM d),
        |f AS (SELECT doc_id, line, min(pos) AS pos, count(*) AS cnt
        |  FROM l GROUP BY 1, 2)
        |SELECT doc_id,
        |       md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5,
        |       CAST(count(*) AS BIGINT) AS lines_kept,
        |       CAST(sum(cnt) AS BIGINT) AS lines_total
        |FROM f GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // ---- CROSS-corpus LM scoring: train the bigram model on the
    // even-id half (the standing reference), score the odd-id half —
    // unseen bigrams and unseen contexts cost through the same
    // coalesced add-one formula, so the scorer generalizes without
    // special cases (the CCNet train-on-wiki / score-the-crawl shape)
    QuerySpec("text_lm_cross", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = TextAnalysis.lmModel(docs.filter(col("doc_id") % 2 === 0))
      TextAnalysis.scoreLm(docs.filter(col("doc_id") % 2 === 1), model)
        .orderBy(col("doc_id").asc)
    },
      // cross-corpus LM: model from even ids only, left-joined costs
      // with coalesce for unseen bigrams/contexts
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS s
        |  FROM documents),
        |tr AS (SELECT * FROM t WHERE doc_id % 2 = 0),
        |te AS (SELECT * FROM t WHERE doc_id % 2 = 1),
        |tok AS (SELECT unnest(s) AS w FROM tr),
        |bgtr AS (SELECT p[1] AS a, p[2] AS b
        |  FROM (SELECT unnest(list_zip(s, s[2:])) AS p FROM tr)
        |  WHERE p[2] IS NOT NULL),
        |cab AS (SELECT a, b, count(*) AS cab FROM bgtr GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM tok),
        |bgte AS (SELECT doc_id, p[1] AS a, p[2] AS b
        |  FROM (SELECT doc_id, unnest(list_zip(s, s[2:])) AS p FROM te)
        |  WHERE p[2] IS NOT NULL),
        |cost AS (SELECT bgte.doc_id,
        |    (1000 * (coalesce(ca.ca, 0) + v.v)) // (coalesce(cab.cab, 0) + 1) AS c
        |  FROM bgte
        |  LEFT JOIN cab USING (a, b)
        |  LEFT JOIN ca USING (a)
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(CAST(sum(c) AS BIGINT) // count(*) AS BIGINT) AS mean_invp_milli
        |FROM cost GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // ---- DSIR importance resampling (Xie et al. 2023): src0 is the
    // target corpus, the whole table is the raw pool; integer-exact
    // unigram importance ratios in milli, every division a true
    // 64-bit div mirrored by DuckDB's // ----
    // Plan (expect: one Generate over the token split, TWO left joins
    // against the slim (word, count) models, partial+final doc-keyed
    // mean — the div chain codegen'd, no floats)
    QuerySpec("text_dsir_importance", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.wordModel(
        docs.filter(col("source") === "src0"))
      val raw = TextAnalysis.wordModel(docs)
      TextAnalysis.importanceMilli(docs, target, raw)
        .orderBy(col("doc_id").asc)
    },
      // DSIR importance: the dsirCtes chain replays the double-exact
      // likelihood ratio; the sample twin adds the hash-uniform keep
      s"""WITH $dsirCtes
         |SELECT doc_id, n_words, imp_milli FROM dimp
         |ORDER BY doc_id ASC""".stripMargin),

    // ---- the RESAMPLING step: deterministic Bernoulli keep with
    // p = min(1, imp/1500) — hash-stable membership, per-source
    // keep counts ----
    QuerySpec("text_dsir_sample", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.wordModel(
        docs.filter(col("source") === "src0"))
      val raw = TextAnalysis.wordModel(docs)
      TextAnalysis.dsirSample(docs, target, raw, col("text"),
          alphaMilli = 1500L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source").asc)
    },
      s"""WITH $dsirCtes,
         |db AS (SELECT d.doc_id, d.source, i.imp_milli,
         |    $duckUtf8Bytes AS bs
         |  FROM documents d JOIN dimp i ON d.doc_id = i.doc_id)
         |SELECT source, count(*) AS n_kept FROM db
         |WHERE CAST(${duckSigned(duckFnvFold("bs"))} AS DOUBLE)
         |    / 1.8446744073709552e19 + 0.5
         |  < least(1.0, CAST(imp_milli AS DOUBLE) / 1500.0)
         |GROUP BY source ORDER BY source ASC""".stripMargin),

    // ---- DSIR over hashed BIGRAM features — the paper's actual
    // feature space (Xie et al. 2023 use hashed n-grams, which
    // separate target-like PHRASING from target-like vocabulary):
    // consecutive-token bigrams bucketed by the portable md5 word
    // hash mod 4096, then the same pinned IEEE-double ratio chain
    // over bucket counts ----
    // Plan (expect: one Generate over the codegen'd vfs_ngram_buckets
    // array, TWO left joins against the slim (bucket, count) models,
    // partial+final doc-keyed mean — identical tail to the unigram
    // plan)
    QuerySpec("text_dsir_importance_ngram", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.ngramModel(
        docs.filter(col("source") === "src0"), n = 2, buckets = 4096)
      val raw = TextAnalysis.ngramModel(docs, n = 2, buckets = 4096)
      TextAnalysis.importanceMilliNgram(docs, target, raw,
          n = 2, buckets = 4096)
        .orderBy(col("doc_id").asc)
    },
      // hashed-bigram DSIR: the same pinned ratio chain over md5-hashed
      // gram BUCKETS (dsirNgramCtes — bigrams of the empty-filtered
      // token list, bucketed hex15 % 4096)
      s"""WITH $dsirNgramCtes
         |SELECT doc_id, n_words, imp_milli FROM nimp
         |ORDER BY doc_id ASC""".stripMargin),

    // ---- TRIGRAM twin: NgramBuckets supports n ∈ [1,8] but the
    // general-n path (gram window length, the <n-token empty stance)
    // was only bigram-exercised — this row pins n = 3 against the
    // same DuckDB list-comprehension derivation generalized over n ----
    QuerySpec("text_dsir_importance_ngram3", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.ngramModel(
        docs.filter(col("source") === "src0"), n = 3, buckets = 4096)
      val raw = TextAnalysis.ngramModel(docs, n = 3, buckets = 4096)
      TextAnalysis.importanceMilliNgram(docs, target, raw,
          n = 3, buckets = 4096)
        .orderBy(col("doc_id").asc)
    },
      // trigram twin: the same chain at n = 3 (three-token window,
      // range empty under 3 tokens)
      s"""WITH ${dsirNgramCtesN(3)}
         |SELECT doc_id, n_words, imp_milli FROM nimp
         |ORDER BY doc_id ASC""".stripMargin),

    // ---- the RESAMPLING step over the n-gram features: hash-stable
    // Bernoulli keep with p = min(1, imp/1500) on the bigram-bucket
    // importance — per-source keep counts ----
    QuerySpec("text_dsir_sample_ngram", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.ngramModel(
        docs.filter(col("source") === "src0"), n = 2, buckets = 4096)
      val raw = TextAnalysis.ngramModel(docs, n = 2, buckets = 4096)
      TextAnalysis.dsirSampleNgram(docs, target, raw, col("text"),
          alphaMilli = 1500L, n = 2, buckets = 4096)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source").asc)
    },
      // the n-gram resample twin: the unigram sample row's hash-uniform
      // keep rule over the bigram-bucket importance
      s"""WITH $dsirNgramCtes,
         |ndb AS (SELECT d.doc_id, d.source, i.imp_milli,
         |    $duckUtf8Bytes AS bs
         |  FROM documents d JOIN nimp i ON d.doc_id = i.doc_id)
         |SELECT source, count(*) AS n_kept FROM ndb
         |WHERE CAST(${duckSigned(duckFnvFold("bs"))} AS DOUBLE)
         |    / 1.8446744073709552e19 + 0.5
         |  < least(1.0, CAST(imp_milli AS DOUBLE) / 1500.0)
         |GROUP BY source ORDER BY source ASC""".stripMargin),

    // ---- model-based filtering: a Bernoulli token-evidence
    // classifier trained distributed on an 80% slice (label: lang =
    // 'en'), scoring the held-out 20%. Integer Laplace-posterior
    // weights (milli) and integer mean-evidence scores — no floats in
    // train OR inference, so the whole learn-then-score pipeline
    // hash-matches. vocab=24 of 31 corpus terms makes the top-df
    // selection (and its term tiebreak) part of the gate; the spec
    // proves discrimination on a separable corpus ----
    QuerySpec("text_classifier", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = TextAnalysis.trainTokenClassifier(
        docs.filter(col("doc_id") % 5 =!= 0),
        col("lang") === "en", vocab = 24)
      TextAnalysis.scoreTokenClassifier(
          docs.filter(col("doc_id") % 5 === 0), model)
        .orderBy(col("doc_id").asc)
    },
      // learn-then-score twin of trainTokenClassifier +
      // scoreTokenClassifier: integer Laplace-posterior weights over the
      // 80% train slice, integer mean-evidence scores on the held-out
      // 20% — `//` is DuckDB's floor division, matching Spark's idiv
      """WITH toks AS (SELECT doc_id, lang,
        |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS ws
        |  FROM documents),
        |cnt AS (SELECT w AS term,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS total
        |  FROM (SELECT lang, unnest(ws) AS w FROM toks WHERE doc_id % 5 != 0)
        |  GROUP BY w),
        |vocab AS (SELECT term, (1000 * (pos + 1)) // (total + 2) AS wm
        |  FROM cnt ORDER BY total DESC, term ASC LIMIT 24),
        |held AS (SELECT doc_id, unnest(ws) AS term FROM toks
        |  WHERE doc_id % 5 = 0),
        |sc AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS matched,
        |    CAST(SUM(v.wm) AS BIGINT) AS ev
        |  FROM held h JOIN vocab v USING (term) GROUP BY h.doc_id)
        |SELECT t.doc_id, COALESCE(sc.matched, CAST(0 AS BIGINT)) AS matched,
        |  CAST(COALESCE(sc.ev // sc.matched, 500) AS BIGINT) AS score_milli
        |FROM (SELECT doc_id FROM toks WHERE doc_id % 5 = 0) t
        |LEFT JOIN sc ON sc.doc_id = t.doc_id
        |ORDER BY t.doc_id ASC""".stripMargin),

    // ---- BM25 lexical relevance against a fixed query — the
    // lexical half of hybrid retrieval; exact-integer milli scores
    // (linear-rarity idf, per-term LONG contributions summed) so the
    // oracle hash-matches bit-for-bit ----
    QuerySpec("text_bm25", (s, dir) => {
      graft.operators.TextAnalysis.bm25Scores(
          s.read.parquet(s"$dir/documents.parquet"), Bm25Terms)
        .orderBy(col("doc_id").asc)
    },
      bm25Oracle),

    // ---- BM25 over a 24-query WORKLOAD table: the inverted-index
    // formulation (explode → term-filter → posting agg → per-qid
    // integer sum) that a query workload needs — every (doc, term)
    // posting scored once no matter how many qids share the term;
    // per-qid scores bit-identical to the literal-kernel path ----
    QuerySpec("text_bm25_table", (s, dir) => {
      import s.implicits._
      val q = Bm25Workload.toDF("qid", "term")
      graft.operators.TextAnalysis.bm25ScoresTable(
          s.read.parquet(s"$dir/documents.parquet"), q)
        .orderBy(col("qid").asc, col("doc_id").asc)
    },
      bm25TableOracle)
  )

  private def textFingerprintOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents)
       |SELECT doc_id, ${duckSigned(duckFnvFold("bs"))} AS fp,
       |  CASE WHEN len(bs) < 8 THEN ${duckSigned(duckFnvFold("bs"))}
       |       ELSE list_min(list_transform(range(1, len(bs) - 6),
       |         s -> ${duckSigned(duckFnvFold("bs[s:s+7]"))})) END AS shingle_min
       |FROM b ORDER BY doc_id ASC""".stripMargin

  /** Tokenizer fertility by predicted language: the langid CTE chain
    * composed with the text_tokens count derivations, grouped by
    * language — exact floor-division milli. */
  private def fertilityByLangOracle: String =
    s"""WITH $langIdCtes,
       |pred AS (SELECT
       |    coalesce(struct_extract(b.b, 'lang'), 'und') AS lang_pred,
       |    CAST(len(string_split_regex(trim(d.text), '\\s+'))
       |      AS BIGINT) AS nt,
       |    CAST(len(string_split_regex(trim(d.text), '[\\s[:punct:]]+'))
       |      AS BIGINT) AS ns
       |  FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id)
       |SELECT lang_pred, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(sum(ns) AS BIGINT) AS n_subwords,
       |  CASE WHEN CAST(sum(nt) AS BIGINT) > 0
       |    THEN (1000 * CAST(sum(ns) AS BIGINT)) // CAST(sum(nt) AS BIGINT)
       |    ELSE 0 END AS fertility_milli
       |FROM pred GROUP BY 1
       |ORDER BY lang_pred ASC""".stripMargin

  private def bm25TableOracle: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |$bm25TableCtes
       |SELECT qid, doc_id, score_milli FROM scq
       |ORDER BY qid ASC, doc_id ASC""".stripMargin

  private def textQualityOracle: String =
    s"""WITH t AS (SELECT doc_id, text,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |  CAST(length(text) AS DOUBLE) AS n_chars FROM documents)
       |SELECT doc_id, $qualityExprSql AS quality_milli
       |FROM t ORDER BY doc_id ASC""".stripMargin

  private def textCurationOracle: String =
    s"""WITH t AS (SELECT doc_id, text,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |  CAST(length(text) AS DOUBLE) AS n_chars,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |q AS (SELECT doc_id, n_tokens, $qualityExprSql AS quality_milli
       |  FROM t)
       |SELECT doc_id, n_tokens, quality_milli FROM q
       |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
       |  AND quality_milli >= 650 AND n_tokens BETWEEN 20 AND 90
       |ORDER BY doc_id ASC""".stripMargin

  private def textHashEmbeddingOracle: String =
    s"""WITH $hashedBowCtes,
       |m AS (SELECT doc_id, list_transform(cnts, x -> CASE WHEN nrm > 0
       |    THEN CAST(round(x / nrm * 1000) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END) AS emb_milli
       |  FROM n)
       |SELECT doc_id, CAST(r.i AS INT) AS dim,
       |       emb_milli[CAST(r.i AS INT) + 1] AS val_milli
       |FROM m CROSS JOIN range(0, 64) r(i)
       |ORDER BY doc_id ASC, dim ASC""".stripMargin

  private def textCurriculumOracle: String =
    s"""WITH t AS (SELECT doc_id, source, text,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |  CAST(length(text) AS DOUBLE) AS n_chars FROM documents),
       |q AS (SELECT doc_id, source, $qualityExprSql AS quality_milli
       |  FROM t),
       |r AS (SELECT doc_id, source, quality_milli,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY quality_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM q)
       |SELECT doc_id, source, quality_milli, rank FROM r
       |ORDER BY rank ASC, source ASC, doc_id ASC""".stripMargin

  private def textLangIdOracle: String = {
    val scores = TextAnalysis.LangProfiles.map { case (lang, words) =>
      s"len(list_filter(toks, x -> x IN ${inList(words)})) AS s_$lang"
    }.mkString(",\n  ")
    // argmax with ties broken by profile order (de < en < es < fr)
    s"""WITH t AS (SELECT doc_id, text,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
       |sc AS (SELECT doc_id, text,
       |  $scores
       |  FROM t)
       |SELECT doc_id, CASE
       |  WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > length(text) * 0.3 THEN 'zh'
       |  WHEN greatest(s_de, s_en, s_es, s_fr) > 0 THEN (
       |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_fr THEN 'es'
       |         ELSE 'fr' END)
       |  ELSE 'und' END AS lang_pred
       |FROM sc ORDER BY doc_id ASC""".stripMargin
  }
}
