package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language identification, content fingerprinting.
  * All are pure per-row column expressions (no shuffle) so they scale
  * linearly and stay inside whole-stage codegen.
  *
  * Beyond the reference's surface (it has no text ops) — added per the
  * north-star LLM-pipeline scope.
  */
object TextAnalysis {

  /** whitespace tokenization, the baseline token model */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Deterministic hashed bag-of-words embedding (the "hashing trick",
    * Weinberger et al. 2009, as in scikit-learn's HashingVectorizer):
    * token t lands in bucket `portableWordHash(t) mod dim` with weight
    * 1 per occurrence, and the count vector is L2-normalized. The
    * model-free featurization that lets raw TEXT flow into every
    * embedding operator here (semanticDedup / Knn / IVF / near-dup
    * LSH) without an external model — and because the hash is the
    * engine-portable md5 fold, any engine derives the identical
    * vector. A single codegen'd kernel pass per row
    * ([[graft.functions.HashedBow]]): no shuffle, one md5 per token.
    * Returns ARRAY<FLOAT> at unit L2 norm. NOTE: empty/whitespace-only
    * text still tokenizes to one empty-string token (split semantics,
    * matching the oracle's string_split_regex), so its vector is the
    * unit one-hot at bucket hash("") mod dim — NOT all-zero; don't use
    * a zero test to detect empty documents (use length/trim). */
  def hashEmbedding(text: Column, dim: Int = 64): Column =
    graft.functions.vfs_hash_embedding(text, dim)

  /** [[hashEmbedding]] rounded to milli units as ARRAY<BIGINT> — the
    * bit-exact cross-engine form the DuckDB oracle pins. */
  def hashEmbeddingMilli(text: Column, dim: Int = 64): Column =
    graft.functions.vfs_hash_embedding_milli(text, dim)

  /** Fixed-size character chunks with overlap — the RAG / context-
    * window preprocessing shape: chunk i covers
    * [i·(size−overlap), i·(size−overlap)+size). The final chunk may be
    * shorter; a text within one window yields exactly one chunk. Pure
    * projection (transform over a start-offset sequence) — zero
    * shuffle, explodes downstream only if the caller asks. */
  def chunkText(text: Column, size: Int, overlap: Int): Column = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need size > 0 and 0 <= overlap < size")
    val step = size - overlap
    val n = when(length(text) <= size, lit(1))
      .otherwise(ceil((length(text) - lit(overlap)).cast("double") / step))
      .cast("int")
    transform(sequence(lit(0), n - 1),
      i => text.substr(i * step + 1, lit(size)))
  }

  /** BPE-ish subword count upper bound: words + punctuation marks are
    * split points (a cheap, deterministic token-count proxy when no
    * tokenizer model is loadable). */
  def tokenCountBpeIsh(text: Column): Column =
    size(split(trim(text), "[\\s\\p{Punct}]+")).cast("long")

  /** Language stopword profiles (public-knowledge function-word lists). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "mit", "den", "von"),
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"))

  /** Deterministic language-ID heuristic:
    *   1. CJK codepoint ratio > 0.3 → "zh"
    *   2. otherwise argmax over stopword-profile hit counts (ties break
    *      by language code asc — profiles are pre-sorted)
    *   3. zero hits everywhere → "und"
    */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    val scores = LangProfiles.map { case (lang, words) =>
      (lang, size(filter(toks, t => t.isInCollection(words))))
    }
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("score"), lit(scores.head._1).as("lang"))) {
      case (acc, (lang, score)) =>
        when(score > acc.getField("score"),
          struct(score.as("score"), lit(lang).as("lang"))).otherwise(acc)
    }
    when(cjk > length(text) * 0.3, lit("zh"))
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Quality score in [0, 1000] (milli-units, integer output):
    * 250·min(tokens/100,1) + 250·alpha_ratio + 250·min(5·stop_ratio,1)
    * + 250·(1 − punct_ratio). Standard length/alpha/stopword/punct
    * heuristics (cf. C4/Gopher-style quality filters, re-derived). */
  def qualityMilli(text: Column): Column = {
    val nChars = length(text).cast("double")
    val toks = tokens(lower(text))
    val nTok = size(toks).cast("double")
    val alpha = length(regexp_replace(text, "[^\\p{L}]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double")
    val stops = LangProfiles.flatMap(_._2).distinct
    val nStop = size(filter(toks, t => t.isInCollection(stops))).cast("double")
    val lenScore = least(nTok / 100.0, lit(1.0))
    val alphaRatio = when(nChars > 0, alpha / nChars).otherwise(0.0)
    val stopScore = least(when(nTok > 0, nStop / nTok).otherwise(0.0) * 5.0, lit(1.0))
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(0.0)
    round((lenScore * 250 + alphaRatio * 250 + stopScore * 250 +
      (lit(1.0) - punctRatio) * 250)).cast("long")
  }

  /** Canonical text normalization for dedup pipelines: lowercase,
    * strip punctuation, collapse whitespace, trim. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\p{Punct}]+", " "),
      "\\s+", " "))

  /** Distinct word n-grams (n >= 1) as an array column. */
  def wordNGrams(text: Column, n: Int): Column =
    if (n == 1) array_distinct(tokens(lower(text)))
    else array_distinct(wordNGramsAll(text, n))

  /** Word n-grams WITHOUT dedup — occurrence counts matter for
    * repetition signals; [[wordNGrams]] is the distinct view of this.
    * The `when` guards `sequence(0, negative)`, which would generate a
    * DESCENDING range. */
  private def wordNGramsAll(text: Column, n: Int): Column = {
    val toks = tokens(lower(text))
    val idx = sequence(lit(0), size(toks) - n)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** `floor(1000·x/y)` as BIGINT, 0 when y = 0 — the repo's exact
    * integer-milli convention (floor of a correctly-rounded IEEE
    * quotient of exact integers is engine-portable). */
  private def milli(x: Column, y: Column): Column =
    when(y > 0, floor(lit(1000.0) * x / y)).otherwise(lit(0)).cast("long")

  /** Gopher-style repetition signals (Rae et al. 2021, table A1 —
    * re-derived): per document,
    *
    *   - `dup_line_milli` / `dup_para_milli` — fraction of non-blank
    *     lines/paragraphs that are copies of an earlier one (boiler-
    *     plate and templated pages). Pure per-row projection.
    *   - `top{n}_milli` — fraction of n-gram occurrences taken by the
    *     single most frequent n-gram (`n` ∈ `ns`).
    *   - `dup{n}_milli` — fraction of n-gram occurrences whose n-gram
    *     appears more than once.
    *
    * All in exact integer milli-units. 100 TB shape: the n-gram pass
    * is explode → two hash aggregations keyed by (doc, n[, gram]) —
    * map-side partial aggregation applies, cost linear in token count,
    * no driver-side state. Docs shorter than n get 0 (not dropped). */
  def repetitionSignals(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1) && ns.distinct == ns,
      "[GRAFT] repetitionSignals needs distinct n-gram sizes >= 1")
    val t = col(textCol)
    def dupArrMilli(arr: Column): Column =
      milli(size(arr) - size(array_distinct(arr)), size(arr))
    val lines = filter(split(t, "\n"), s => length(trim(s)) > 0)
    val paras = filter(split(t, "\n{2,}"), s => length(trim(s)) > 0)
    val perRow = docs.select(col(idCol),
      dupArrMilli(lines).as("dup_line_milli"),
      dupArrMilli(paras).as("dup_para_milli"))
    // explode_outer keeps zero-gram docs as a NULL-gram row, so every
    // doc survives to the final join with 0 metrics
    val gramRows = ns.map { n =>
      docs.select(col(idCol).as("__rid"), lit(n).as("n"),
        explode_outer(wordNGramsAll(t, n)).as("gram"))
    }.reduce(_ union _)
    val perN = gramRows
      .groupBy(col("__rid"), col("n"), col("gram")).count()
      .groupBy(col("__rid"), col("n")).agg(
        max(when(col("gram").isNotNull, col("count"))).as("maxc"),
        sum(when(col("gram").isNotNull, col("count")).otherwise(0L))
          .as("total"),
        sum(when(col("gram").isNotNull && col("count") > 1, col("count"))
          .otherwise(0L)).as("dupc"))
    val aggs = ns.flatMap { n =>
      Seq(
        max(when(col("n") === n, milli(col("maxc"), col("total"))))
          .as(s"top${n}_milli"),
        max(when(col("n") === n, milli(col("dupc"), col("total"))))
          .as(s"dup${n}_milli"))
    }
    val perId = perN.groupBy(col("__rid")).agg(aggs.head, aggs.tail: _*)
    // no ORDER BY here: a library operator must not bake a global sort
    // into every composition (callers that need a deterministic order
    // add their own — the oracle wrapper does)
    perRow.join(perId, perRow(idCol) === perId("__rid"), "left")
      .drop("__rid")
      .na.fill(0L)
  }

  /** The eight Gopher "required words" (Rae et al. 2021, table A1 —
    * re-derived): a document must contain at least two to pass the
    * stop-word rule. */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher rule signals as named column expressions over a text
    * column — shared by [[gopherSignals]] and the one-scan
    * [[qualityGate]] (whole-stage codegen's subexpression elimination
    * dedupes the repeated sub-terms inside the pass conjunction). */
  private def gopherExprs(t: Column): Seq[(String, Column)] = {
    val toks = tokens(t)
    val nWords = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, w) => acc + length(w))
    val meanLen = milli(sumLen, nWords)
    def occurrences(needle: String, width: Int): Column =
      ((length(t) - length(replace(t, lit(needle), lit("")))) / width)
        .cast("long")
    val symbols = occurrences("#", 1) + occurrences("...", 3)
    val symbolMilli = milli(symbols, nWords)
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines).cast("long")
    val ellipsisMilli = milli(size(filter(lines,
      l => endswith(trim(l), lit("...")))).cast("long"), nLines)
    val bulletMilli = milli(size(filter(lines,
      l => trim(l).rlike("^[-*•]"))).cast("long"), nLines)
    val alphaMilli = milli(size(filter(toks, w => w.rlike("[A-Za-z]")))
      .cast("long"), nWords)
    val lowerToks = transform(toks, lower(_))
    val stopHits = size(filter(typedLit(GopherStopWords),
      s => array_contains(lowerToks, s))).cast("long")
    val pass = (nWords.between(50L, 100000L) &&
      meanLen.between(3000L, 10000L) && symbolMilli <= 100L &&
      ellipsisMilli <= 300L && bulletMilli <= 900L &&
      alphaMilli >= 800L && stopHits >= 2L).cast("long")
    Seq("n_words" -> nWords, "mean_word_len_milli" -> meanLen,
      "symbol_word_milli" -> symbolMilli,
      "ellipsis_line_milli" -> ellipsisMilli,
      "bullet_line_milli" -> bulletMilli,
      "alpha_word_milli" -> alphaMilli,
      "stop_hits" -> stopHits, "gopher_pass" -> pass)
  }

  /** Gopher document-level quality RULES (Rae et al. 2021, table A1 —
    * re-derived): the named boolean filter cascade production corpora
    * run BEFORE model-based scoring, complementing [[qualityMilli]]
    * (one blended score) and [[repetitionSignals]] (the repetition
    * half of the same table). Per document, exact integer signals:
    *
    *   - `n_words` — whitespace tokens; rule: 50 ≤ n ≤ 100 000.
    *   - `mean_word_len_milli` — floor(1000·chars/words);
    *     rule: 3 000 ≤ m ≤ 10 000 (3–10 chars).
    *   - `symbol_word_milli` — (`#` + `...` occurrences)·1000/words;
    *     rule: ≤ 100 (0.1 symbols per word).
    *   - `ellipsis_line_milli` — fraction of non-blank lines ending
    *     in `...`; rule: ≤ 300.
    *   - `bullet_line_milli` — fraction of non-blank lines starting
    *     with a bullet (`-`, `*`, `•`); rule: ≤ 900.
    *   - `alpha_word_milli` — fraction of words containing at least
    *     one ASCII letter; rule: ≥ 800.
    *   - `stop_hits` — how many of [[GopherStopWords]] occur as
    *     tokens; rule: ≥ 2.
    *   - `gopher_pass` — 1 iff every rule holds.
    *
    * All thresholds are the paper's defaults. Pure per-row projection
    * (one scan, no UDF; few-file inputs spread first — the standing
    * compute-bound-kernel convention, a no-op on real many-file
    * corpora) — the 100 TB cost is one read of the text column.
    * Integer milli-units via the repo's floor convention, so the
    * DuckDB oracle reproduces every signal bit-for-bit. */
  def gopherSignals(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    // per-row rule evaluation is compute-bound (regex + HOF lambdas
    // per token/line) — spread a few-file input first (the repo's
    // standing kernel convention; no-op on many-file corpora)
    WorkCols.spread(docs).select(col(idCol) +:
      gopherExprs(col(textCol)).map { case (n, c) => c.as(n) }: _*)

  /** The C4 cleaning outputs as named column expressions — shared by
    * [[c4CleanLines]] and [[qualityGate]]. */
  private def c4Exprs(t: Column, minWords: Int): Seq[(String, Column)] = {
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val kept = filter(lines, l => {
      val lt = trim(l)
      (endswith(lt, lit(".")) || endswith(lt, lit("!")) ||
        endswith(lt, lit("?")) || endswith(lt, lit("\""))) &&
        size(split(lt, "\\s+")) >= minWords &&
        !contains(lower(lt), lit("javascript"))
    })
    val pageDrop = (contains(t, lit("{")) ||
      contains(lower(t), lit("lorem ipsum"))).cast("long")
    Seq("page_drop" -> pageDrop,
      "n_lines" -> size(lines).cast("long"),
      "n_kept" -> size(kept).cast("long"),
      "clean_text" -> when(pageDrop === 0L, array_join(kept, "\n")))
  }

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2 — re-derived):
    * the other canonical pre-training filter cascade. Lines are kept
    * only if, after trimming, they end in terminal punctuation
    * (`.`, `!`, `?`, `"`), have at least `minWords` whitespace words,
    * and do not mention "javascript" (case-insensitive); pages
    * containing `{` (code) or "lorem ipsum" (boilerplate) are flagged
    * dropped wholesale. Output per document: `page_drop` (1/0),
    * `n_lines` (non-blank), `n_kept`, and `clean_text` (kept lines
    * re-joined with `\n`; NULL when the page drops — the flag is the
    * verdict, the NULL keeps accidental downstream use loud).
    *
    * Pure per-row projection (one scan, no UDF; few-file inputs
    * spread first, as in [[gopherSignals]]); the curse-word list of
    * the paper is out of scope (corpus-specific policy, not engine
    * semantics). */
  def c4CleanLines(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minWords: Int = 5): DataFrame = {
    require(minWords >= 1, "[GRAFT] c4CleanLines: minWords must be >= 1")
    WorkCols.spread(docs).select(col(idCol) +:
      c4Exprs(col(textCol), minWords).map { case (n, c) => c.as(n) }: _*)
  }

  /** Both filter cascades in ONE per-row projection — the streaming
    * quality gate's per-batch shape ([[graft.streaming.Ingest
    * .qualityIngestStream]]): every [[gopherSignals]] column plus
    * every [[c4CleanLines]] column from a single scan of the text,
    * no join back on the id (which would also silently depend on id
    * uniqueness). */
  def qualityGate(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minWords: Int = 5): DataFrame = {
    require(minWords >= 1, "[GRAFT] qualityGate: minWords must be >= 1")
    val t = col(textCol)
    WorkCols.spread(docs).select(col(idCol) +:
      (gopherExprs(t) ++ c4Exprs(t, minWords))
        .map { case (n, c) => c.as(n) }: _*)
  }

  /** PII detection patterns — deliberately in the portable regex
    * subset (no backreferences/lookaround) so the same pattern runs
    * under Java regex (Spark codegen) and RE2-family engines. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** 9+ digit runs: account/card/SSN-like identifiers. */
  val LongNumberPattern = "\\b\\d{9,}\\b"

  /** Redact PII in place: email → `<EMAIL>`, then IPv4 → `<IP>`, then
    * long digit runs → `<NUM>`. Email first so its local-part digits
    * can't be re-matched; order is part of the contract. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      LongNumberPattern, "<NUM>")

  /** Per-document PII scan: match counts per category plus the
    * redacted text. Pure projection (codegen'd regex), no shuffle —
    * the standard pre-training privacy pass at corpus scale. */
  def piiStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      regexp_count(t, lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(t, lit(Ipv4Pattern)).cast("long").as("n_ipv4"),
      regexp_count(t, lit(LongNumberPattern)).cast("long").as("n_longnum"),
      redactPii(t).as("redacted"))
  }

  /** TF-IDF keyword extraction, exact-integer scored: per document the
    * top-`k` words by `floor(tf · 1000 · N / df)` where `tf` is the
    * in-document occurrence count, `df` the number of documents
    * containing the word, and `N` the corpus size (ties break word-
    * ascending). The linear `N/df` rarity weight replaces the usual
    * `log(N/df)`: monotone-identical ranking per fixed tf, but exact
    * integer arithmetic (floor of one IEEE quotient of exact ints) so
    * results are engine-portable bit-for-bit. Exact while
    * tf·1000·N ≤ 2⁵³.
    *
    * 100 TB shape: explode → (doc,word) hash agg (map-side partial) →
    * word-keyed df agg → shuffle join on word (AQE broadcasts the df
    * side when the vocabulary is small); N arrives via a broadcast
    * 1-row cross join, never a driver-side count. The final top-k is a
    * window keyed by document — per-partition work bounded by document
    * vocabulary, no global sort.
    */
  def tfIdfKeywords(docs: DataFrame, k: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "[GRAFT] k must be positive")
    WorkCols.requireFree(docs, "__w", "__tf", "__df", "__n", "__rn", "__id")
    val words = docs.select(col(idCol).as("__id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("__w"))
    val tf = words.groupBy(col("__id"), col("__w"))
      .agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, Seq("__w")).crossJoin(broadcast(n))
      .select(col("__id"), col("__w"),
        floor(col("__tf") * lit(1000.0) * col("__n") / col("__df"))
          .cast("long").as("score"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("score").desc, col("__w").asc)
    scored.withColumn("__rn", row_number().over(byDoc))
      .filter(col("__rn") <= k)
      .select(col("__id").as(idCol), col("__w").as("word"), col("score"),
        col("__rn").cast("long").as("rank"))
  }

  /** Okapi-BM25 lexical relevance of every document against a fixed
    * query-term set — the lexical half of hybrid retrieval
    * (vector kNN is the other half; see the `q_hybrid_rrf` fusion).
    * Engine-portable exact-integer construction: corpus statistics
    * (N docs, total tokens TL, per-term document frequency df) come
    * from ONE aggregate pass; each per-term contribution is then
    * floor(1000·idf·tfNorm) as a LONG and the document score is the
    * SUM of those longs — commutative integer addition, immune to the
    * aggregation-order nondeterminism a double sum would have.
    *
    *   idf(t)      = (N − df + 0.5) / (df + 0.5)
    *   tfNorm(t,D) = tf·(k1+1) / (tf + k1·((1−b) + b·(dl·N / TL)))
    *
    * with the standard operating point k1 = 1.2, b = 0.75 fixed as
    * literals. The classical log-idf is replaced by the same LINEAR
    * rarity weight as [[tfIdfKeywords]] (monotone-identical ranking
    * per fixed tf; `ln` is libm-dependent across engines, a division
    * of exact integers is correctly rounded everywhere). Every double
    * op has exact-integer inputs in a fixed association order, so the
    * DuckDB oracle lands on bit-identical milli scores.
    *
    * 100 TB shape: one stats aggregate (map-side partial, |terms|
    * driver-side longs) + one pure-projection scoring scan; terms
    * ride in as literals, no join, no shuffle.
    * Output: (idCol, score_milli > 0). */
  def bm25Scores(docs: DataFrame, terms: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "[GRAFT] bm25: no query terms")
    require(terms.distinct == terms, "[GRAFT] bm25: duplicate terms")
    val toks = split(trim(lower(col(textCol))), "\\s+")
    // codegen'd ONE-PASS multi-term counter (TermCounts): the text
    // tokenizes once per row and all |terms| counts come back as one
    // ARRAY<BIGINT>; whole-stage codegen's subexpression elimination
    // collapses the repeated element_at(tc, i) references to a single
    // kernel call per row in both the stats scan and the scoring scan
    // (each count is bit-identical to the old per-term TermCount, so
    // the oracle hash cannot move)
    val tc = graft.functions.vfs_term_counts(col(textCol), terms)
    def termCount(i: Int) = element_at(tc, i + 1)
    val statsAggs = count(lit(1)).cast("long").as("__n") +:
      sum(size(toks).cast("long")).as("__tl") +:
      terms.indices.map { i =>
        sum(when(termCount(i) > 0L, 1L).otherwise(0L)).as(s"__df_$i")
      }
    val st = docs.agg(statsAggs.head, statsAggs.tail: _*).head()
    val n = st.getAs[Long]("__n")
    val tl = math.max(1L, st.getAs[Long]("__tl"))
    val dlN = (size(toks) * lit(n)).cast("double") / lit(tl.toDouble)
    val contribs = terms.indices.map { i =>
      val df = st.getAs[Long](s"__df_$i")
      val idf = (n - df + 0.5) / (df + 0.5) // driver double, exact ints in
      val tf = termCount(i)
      val tfn = (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dlN))
      floor(lit(idf) * tfn * lit(1000.0)).cast("long")
    }
    docs.select(col(idCol),
        contribs.reduce(_ + _).as("score_milli"))
      .filter(col("score_milli") > 0)
  }

  /** BM25 over a QUERY WORKLOAD: `queries` is a (qid, term) table and
    * the result is (qid, idCol, score_milli > 0) — per qid, the exact
    * same milli scores [[bm25Scores]] produces for that qid's term
    * list (identical token model, stats, and double-op association
    * order; spec-pinned parity).
    *
    * Where [[bm25Scores]] bakes terms in as per-term literal kernels
    * (right for ONE query), this is the inverted-index formulation a
    * query workload needs: corpus tokens are exploded once, restricted
    * to the workload's distinct terms BEFORE the aggregation (the
    * term-filter join's small side is the query vocabulary — Catalyst
    * auto-broadcasts it), and each (doc, term) posting is scored once
    * no matter how many qids share the term; per-query fan-out happens
    * on the posting-sized table, not the corpus.
    *
    * 100 TB shape: one corpus stats scan; one explode + hash agg over
    * the TERM-FILTERED token stream (map-side partial combine, shuffle
    * keyed (doc, term) — proportional to matched tokens, not corpus
    * vocabulary); df from the posting table (term-sized); the final
    * (qid, doc) sum is an integer hash agg over contribution rows. No
    * driver-side loops, no per-term scans.
    * Duplicate (qid, term) pairs are collapsed (a term contributes
    * once per query, matching [[bm25Scores]]'s distinct-terms guard). */
  def bm25ScoresTable(docs: DataFrame, queries: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      qidCol: String = "qid", termCol: String = "term"): DataFrame = {
    WorkCols.requireFree(docs, "__qid", "__term", "__dl", "__tf", "__df")
    val q = queries
      .select(col(qidCol).cast("long").as("__qid"),
        col(termCol).as("__term"))
      .distinct()
    val toks = split(trim(lower(col(textCol))), "\\s+")
    // corpus-global stats (same n/tl every qid sees in bm25Scores)
    val st = docs.agg(count(lit(1)).cast("long").as("__n"),
      sum(size(toks).cast("long")).as("__tl")).head()
    val n = st.getLong(0)
    val tl = math.max(1L, st.getLong(1))
    val postings = docs
      .select(col(idCol), size(toks).as("__dl"),
        explode(toks).as("__term"))
      .join(q.select(col("__term")).distinct(), "__term")
      .groupBy(col("__term"), col(idCol), col("__dl"))
      .agg(count(lit(1)).cast("long").as("__tf"))
    val dfs = postings.groupBy(col("__term"))
      .agg(count(lit(1)).cast("long").as("__df"))
    // EXACTLY bm25Scores' arithmetic: idf's (n − df) is integer math
    // promoted by + 0.5, dlN is (dl·n) integer-multiplied then cast,
    // and the contribution association is ((idf · tfn) · 1000) — each
    // double op has exact-integer inputs in the same order, so per-qid
    // results are bit-identical to the literal-kernel path
    val idf = (lit(n) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))
    val dlN = (col("__dl") * lit(n)).cast("double") / lit(tl.toDouble)
    val tf = col("__tf")
    val tfn = (tf * lit(2.2)) /
      (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dlN))
    val contrib = floor(idf * tfn * lit(1000.0)).cast("long")
    postings.join(dfs, "__term").join(q, "__term")
      .select(col("__qid"), col(idCol), contrib.as("__c"))
      .groupBy(col("__qid"), col(idCol))
      .agg(sum(col("__c")).as("score_milli"))
      .filter(col("score_milli") > 0)
      .withColumnRenamed("__qid", qidCol)
  }

  /** Workload BM25 fused with per-query top-k: (qid, idCol, rank),
    * rank 1-based by (score desc, id asc) — BIT-IDENTICAL to
    * `Knn.rankByScore(bm25ScoresTable(docs, queries), k)` (same
    * arithmetic, spec-pinned), with the qid × doc cross NEVER
    * shuffled.
    *
    * Why it exists: [[bm25ScoresTable]] materializes one contribution
    * row per (qid, doc, term) through the final aggregate's exchange.
    * For a DENSE workload (common terms that match most of the corpus
    * — the inverted index's worst case) that shuffle carries
    * |qids with t| × |docs matching t| rows summed over terms
    * (measured 25 s for 64 queries × 500k all-matching docs). Here the
    * whole scoring pass is TWO corpus scans and nothing else: one
    * stats aggregate (n, total length, per-term df — the same
    * [[graft.functions.vfs_term_counts]] kernel [[bm25Scores]] uses,
    * so df never needs a postings table), then one projection of
    * (id, dl, term-count array) feeding a kernel that accumulates
    * every qid's score locally against the broadcast inverted
    * workload and streams (qid, id, score) into the bounded-heap
    * partial top-k — no explode, no posting aggregation, and at most
    * k rows per (partition, qid) ever reach an exchange
    * (measured 25 s → ~2 s, ScaleProbe).
    *
    * The trade: the workload (qid, term) table is collected and
    * broadcast, and every doc pays O(|text| + |workload terms|) in the
    * counting kernel (fine through thousands of distinct terms; the
    * stats/top-k remain distributed). For workloads whose vocabulary
    * is too large for that, compose [[bm25ScoresTable]] +
    * `rankByScore` — its explode path costs per MATCHED token
    * instead. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      textCol: String = "text", idCol: String = "doc_id",
      qidCol: String = "qid", termCol: String = "term"): DataFrame = {
    require(k > 0, "[GRAFT] bm25TopK: k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // persist the distinct workload before the gate's count: the
    // sizing action and the collect would otherwise each run the
    // distinct shuffle (the Knn.exactBatch gate convention)
    val wlDf = queries
      .select(col(qidCol).cast("long").as("qid"), col(termCol).as("term"))
      .distinct().persist()
    // byte-gate the workload collect: the fused kernel's trade is a
    // DRIVER-side inverted workload, and a pathological (qid, term)
    // table must fail loudly with the documented composition instead
    // of OOMing the driver silently. dim 16 ≈ the qid long + a short
    // term's bytes per row under the gate's 4-bytes-a-lane estimate.
    val wl =
      try {
        BroadcastGate.requireCollectFits(wlDf.count(), 16,
          "bm25TopK query workload",
          "Compose bm25ScoresTable + rankByScore for workloads whose " +
            "vocabulary exceeds the driver budget — its explode path " +
            "stays fully distributed.")
        wlDf.as[(Long, String)].collect()
      } finally wlDf.unpersist()
    require(wl.nonEmpty, "[GRAFT] bm25TopK: empty query workload")
    val termSet = wl.map(_._2).distinct.sorted
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val tc = graft.functions.vfs_term_counts(col(textCol),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(termSet))
    // ONE stats scan: n, total token length, and df for every workload
    // term from the same one-pass counting kernel the scoring scan
    // uses (df_t = docs with count > 0 — exactly the postings-table df)
    val statsAggs = count(lit(1)).cast("long").as("__n") +:
      sum(size(toks).cast("long")).as("__tl") +:
      termSet.indices.map { i =>
        sum(when(element_at(tc, i + 1) > 0L, 1L).otherwise(0L))
          .as(s"__df_$i")
      }
    val st = docs.agg(statsAggs.head, statsAggs.tail: _*).head()
    val n = st.getLong(0)
    val tl = math.max(1L, st.getLong(1))
    // driver-side literals, EXACTLY bm25ScoresTable's association
    // order: idf's (n − df) is integer math promoted by + 0.5
    val idfArr = termSet.indices.map { i =>
      val df = st.getLong(2 + i)
      (n - df + 0.5) / (df + 0.5)
    }.toArray
    // term index → qids that query it (the broadcast inverted
    // workload); qid ids are dense-encoded for the kernel accumulator
    val termIdx = termSet.zipWithIndex.toMap
    val qids = wl.map(_._1).distinct.sorted
    val qidIdx = qids.zipWithIndex.toMap
    val termQids: Array[Array[Int]] = {
      val m = Array.fill(termSet.length)(Vector.newBuilder[Int])
      wl.foreach { case (q, t) => m(termIdx(t)) += qidIdx(q) }
      m.map(_.result().toArray)
    }
    val bc = spark.sparkContext.broadcast((idfArr, termQids, qids))
    // ONE scoring scan: the codegen'd counting kernel hands each doc
    // its per-term tf array in doc order; the kernel scores EVERY qid
    // locally and streams (qid, id, score) into the partial top-k —
    // the qid × doc cross exists only as a pipelined iterator, never
    // as shuffle rows
    val perDoc = docs.select(col(idCol).cast("long").as("__id"),
      size(toks).as("__dl"), tc.as("__tc"))
    val scored = perDoc.as[(Long, Int, Seq[Long])]
      .mapPartitions { it =>
        val (idf, tq, qidArr) = bc.value
        val acc = new Array[Long](qidArr.length)
        val touched = new Array[Boolean](qidArr.length)
        it.flatMap { case (id, dl, tfs) =>
          // no-match fast path FIRST: most docs of a real corpus match
          // no workload term, and must cost O(|terms|), not O(|qids|)
          var any = false
          var ti = 0
          while (ti < idf.length && !any) {
            any = tfs(ti) > 0L; ti += 1
          }
          if (!any) Iterator.empty
          else {
            java.util.Arrays.fill(acc, 0L)
            java.util.Arrays.fill(touched, false)
            // dlN/tfn/contrib mirror bm25ScoresTable's double ops 1:1:
            // (dl·n) long-multiplied then toDouble, ((idf·tfn)·1000)
            val dlN = (dl.toLong * n).toDouble / tl.toDouble
            ti = 0
            while (ti < idf.length) {
              val tf = tfs(ti)
              if (tf > 0L) {
                val tfn = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dlN))
                val c = math.floor(idf(ti) * tfn * 1000.0).toLong
                val qs = tq(ti)
                var i = 0
                while (i < qs.length) {
                  acc(qs(i)) += c; touched(qs(i)) = true; i += 1
                }
              }
              ti += 1
            }
            val out = Vector.newBuilder[(Long, Long, Long)]
            var qi = 0
            while (qi < qidArr.length) {
              if (touched(qi) && acc(qi) > 0)
                out += ((qidArr(qi), id, acc(qi)))
              qi += 1
            }
            out.result().iterator
          }
        }
      }
      .toDF("qid", idCol, "score_milli")
    Knn.rankByScore(scored, k, qidCol = "qid", idCol = idCol,
      scoreCol = "score_milli")
      .withColumnRenamed("qid", qidCol)
  }

  /** Corpus vocabulary for tokenizer training: the top-`v` words by
    * global occurrence count (ties word-ascending) with rank and
    * cumulative corpus-coverage in milli-units — the curve that tells
    * you what vocabulary size buys what coverage.
    *
    * 100 TB shape: explode → one word-keyed hash agg (map-side partial
    * combine collapses each partition to its local vocabulary before
    * the shuffle); the rank/coverage window then runs over VOCABULARY-
    * sized data, not corpus-sized — a global sort of the word-count
    * table is the one unavoidable single-partition step and it is
    * vocab-bounded.
    */
  def vocabulary(docs: DataFrame, v: Int = 1000, textCol: String = "text")
      : DataFrame = {
    require(v > 0, "[GRAFT] v must be positive")
    WorkCols.requireFree(docs, "__w", "__cnt", "__total", "__cum")
    val counts = docs
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__cnt"))
    val total = counts.agg(sum(col("__cnt")).as("__total"))
    val ordered = org.apache.spark.sql.expressions.Window
      .orderBy(col("__cnt").desc, col("__w").asc)
    counts.crossJoin(broadcast(total))
      .withColumn("__cum", sum(col("__cnt")).over(
        ordered.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .withColumn("rank", row_number().over(ordered).cast("long"))
      .filter(col("rank") <= v)
      .select(col("__w").as("word"), col("__cnt").as("cnt"), col("rank"),
        floor(lit(1000.0) * col("__cum") / col("__total")).cast("long")
          .as("cov_milli"))
  }

  /** Out-of-vocabulary rate per doc against the corpus top-`v`
    * vocabulary — the CCNet/RefinedWeb-style quality signal: a doc
    * whose tokens mostly fall OUTSIDE the reference vocabulary is
    * usually noise (boilerplate, code dumps, wrong language) and a
    * filter threshold on this rate is a standard pretraining-corpus
    * cleanup stage. oov_milli = ⌊1000·|OOV token occurrences| /
    * |tokens|⌋ (multiplicity counted; the 1000·x product is exact in
    * double before the one division, so every engine floors the same
    * value).
    *
    * 100 TB shape: the vocabulary is v-bounded and BROADCAST; scoring
    * is one explode + broadcast anti join + per-doc count — cost ∝
    * the token stream, and the only exchange is the idCol-keyed count
    * with map-side partials. Computing the vocabulary itself is
    * [[vocabulary]]'s corpus-vocab-bounded aggregation (or pass a
    * frozen reference vocab from a prior run via `vocabOverride` —
    * the production stance: score new data against the STANDING
    * vocabulary instead of re-deriving it per batch). */
  def oovRate(docs: DataFrame, v: Int = 1000,
      textCol: String = "text", idCol: String = "doc_id",
      vocabOverride: Option[DataFrame] = None): DataFrame = {
    WorkCols.requireFree(docs, "__tok", "__total", "__oov")
    val vocab = vocabOverride.getOrElse(vocabulary(docs, v, textCol))
      .select(col("word").as("__tok"))
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val oov = docs
      .select(col(idCol), explode(toks).as("__tok"))
      .join(broadcast(vocab), Seq("__tok"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__oov"))
    docs.select(col(idCol), size(toks).cast("long").as("__total"))
      .join(oov, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__total") <= 0L, 0L)
          .otherwise(floor(lit(1000.0) * coalesce(col("__oov"), lit(0L))
            / col("__total")).cast("long"))
          .as("oov_milli"))
  }

  /** Bigram language-model quality score per document — the
    * "perplexity filter" stage of LLM data pipelines (cf. CCNet's
    * KenLM perplexity buckets) with NO floating point anywhere, so
    * the learn-then-score pipeline is bit-portable across engines:
    *
    * A document's tokens (lowercased whitespace split, the corpus
    * tokenizer) are scored by the add-one-smoothed bigram model of
    * the corpus itself. Instead of the usual `-log p` (whose libm
    * rounding is engine-specific), each bigram (a,b) costs its
    * INVERSE smoothed probability in integer milli —
    *
    *   cost(a,b) = (1000 · (c(a) + V)) div (c(a,b) + 1)
    *
    * where c(a,b) is the corpus bigram count, c(a) = Σ_b c(a,b) the
    * context count, and V the corpus vocabulary size. The per-doc
    * score is the integer mean cost — monotone in the arithmetic
    * mean of 1/p̂, a rank-equivalent stand-in for perplexity's
    * geometric mean at filter-threshold use, and exact in int64.
    * Common bigrams cost ≈ 1000·V/c(a,b); unseen bigrams cost
    * ≈ 1000·(c(a)+V) — rare/garbled text scores high.
    *
    * 100 TB shape: bigrams are formed INSIDE the row (array zip +
    * explode — no window, no per-doc shuffle); counting is two hash
    * aggregates with map-side partials keyed by (a,b) then a; the
    * model is one vocab²-bounded (in practice ≈ observed-bigram-
    * bounded) stats table joined back to the token stream on (a,b);
    * the final per-doc mean is an idCol-keyed count/sum with
    * partials. Docs with fewer than two tokens have no bigrams and
    * are absent from the output (nothing to score).
    *
    * Output: (idCol, n_bigrams, mean_invp_milli).
    *
    * Equivalent to `scoreLm(docs, lmModel(docs))` — self-scoring, the
    * corpus is its own reference. The production stance for streams /
    * new crawls is the split form: train ONCE on the reference corpus
    * ([[lmModel]]), score every new batch against that STANDING model
    * ([[scoreLm]]) — CCNet trains its KenLM on Wikipedia, not on the
    * crawl being filtered. */
  def lmScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    scoreLm(docs, lmModel(docs, textCol), idCol, textCol)

  /** A trained bigram LM: observed-bigram counts, context counts, and
    * the vocabulary size. Both frames are plain (persistable) tables —
    * write them out to freeze a reference model. */
  final case class LmModel(bigrams: DataFrame, contexts: DataFrame,
    vocabSize: Long)

  /** Train the [[lmScore]] bigram model on a reference corpus: one
    * pass forming bigrams inside the row (array zip + explode, no
    * window), two hash aggregates with map-side partials. The model
    * size is bounded by the OBSERVED bigram vocabulary, ≪ corpus. */
  def lmModel(docs: DataFrame, textCol: String = "text"): LmModel = {
    WorkCols.requireFree(docs, "__s", "__s2", "__p", "__w")
    val toks = docs.select(
      split(trim(lower(col(textCol))), "\\s+").as("__s"))
    val bg = toks
      .withColumn("__s2", expr("slice(__s, 2, greatest(size(__s) - 1, 0))"))
      .select(expr("explode(arrays_zip(__s, __s2))").as("__p"))
      .select(col("__p.__s").as("w1"), col("__p.__s2").as("w2"))
      .filter(col("w2").isNotNull)
    val cab = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    val ca = cab.groupBy(col("w1")).agg(sum(col("n")).as("n"))
    val vocabSize = toks
      .select(explode(col("__s")).as("__w"))
      .agg(countDistinct(col("__w"))).first().getLong(0)
    LmModel(cab, ca, vocabSize)
  }

  /** Freeze a trained [[LmModel]] to disk: `bigrams/` + `contexts/`
    * parquet and `lm.json` carrying the vocabulary size — the
    * reference-model artifact a scoring fleet (or stream) loads once
    * and reuses across batches. */
  def saveLmModel(model: LmModel, path: String): Unit = {
    model.bigrams.write.mode("overwrite").parquet(s"$path/bigrams")
    model.contexts.write.mode("overwrite").parquet(s"$path/contexts")
    // ArtifactIo: Hadoop-FS metadata write (a remote artifact path
    // would otherwise land lm.json on the driver's local disk)
    ArtifactIo.writeSidecar(path, "lm.json", "vocabSize" -> model.vocabSize)
  }

  /** Load a [[saveLmModel]] artifact. */
  def loadLmModel(spark: org.apache.spark.sql.SparkSession,
      path: String): LmModel = {
    val v = ArtifactIo.readSidecar(path, "lm.json").long("vocabSize")
    LmModel(spark.read.parquet(s"$path/bigrams"),
      spark.read.parquet(s"$path/contexts"), v)
  }

  /** Score documents against a STANDING bigram model (add-one
    * smoothing handles every unseen case: an unseen bigram of a known
    * context costs ≈ 1000·(c(a)+V), an unseen context costs exactly
    * 1000·V — both fall out of the same coalesced formula, no special
    * cases). Two left joins against the model tables (observed-bigram-
    * bounded, broadcastable for typical reference corpora), one
    * idCol-keyed mean with partials. Output as [[lmScore]]. */
  def scoreLm(docs: DataFrame, model: LmModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    WorkCols.requireFree(docs, "__s", "__s2", "__p", "__a", "__b",
      "__cab", "__ca", "__c", "__sum")
    val toks = docs.select(col(idCol),
      split(trim(lower(col(textCol))), "\\s+").as("__s"))
    // bigrams without a shuffle: zip the token array against its own
    // tail (the zip pads the final token's pair with null — dropped)
    val bg = toks
      .withColumn("__s2", expr("slice(__s, 2, greatest(size(__s) - 1, 0))"))
      .select(col(idCol),
        expr("explode(arrays_zip(__s, __s2))").as("__p"))
      .select(col(idCol), col("__p.__s").as("__a"),
        col("__p.__s2").as("__b"))
      .filter(col("__b").isNotNull)
    val cab = model.bigrams.select(col("w1").as("__a"),
      col("w2").as("__b"), col("n").as("__cab"))
    val ca = model.contexts.select(col("w1").as("__a"),
      col("n").as("__ca"))
    bg.join(cab, Seq("__a", "__b"), "left")
      .join(ca, Seq("__a"), "left")
      .select(col(idCol),
        idiv(lit(1000L) * (coalesce(col("__ca"), lit(0L))
            + lit(model.vocabSize)),
          coalesce(col("__cab"), lit(0L)) + lit(1L)).as("__c"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(col("__c")).as("__sum"))
      .select(col(idCol), col("n_bigrams"),
        idiv(col("__sum"), col("n_bigrams")).as("mean_invp_milli"))
  }

  /** Remove REPEATED lines within each document, keeping the first
    * occurrence in original order — the removal stage behind
    * [[repetitionSignals]] (Gopher/CCNet drop or trim docs with high
    * duplicate-line fractions; this operator repairs instead of
    * dropping: boilerplate headers, repeated navigation, chorus
    * lines). Deterministic: first occurrence wins, order preserved,
    * so the rebuilt text is engine-portable and hash-exact.
    *
    * 100 TB shape: explode lines → ONE (id, line)-keyed hash agg
    * (min position + multiplicity, map-side partials) → ONE id-keyed
    * rebuild agg (sort-by-position inside the row, no window). Cost ∝
    * the line stream; no self-join.
    *
    * Output: (idCol, textCol rebuilt, lines_kept, lines_total). */
  def stripRepeatedLines(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sep: String = "\n"): DataFrame = {
    WorkCols.requireFree(docs, "__pos", "__line", "__cnt", "__arr")
    docs
      .select(col(idCol), posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("__pos", "__line")))
      .groupBy(col(idCol), col("__line"))
      .agg(min(col("__pos")).as("__pos"), count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      .agg(
        array_sort(collect_list(struct(col("__pos"), col("__line"))))
          .as("__arr"),
        count(lit(1)).cast("long").as("lines_kept"),
        sum(col("__cnt")).cast("long").as("lines_total"))
      .select(col(idCol),
        concat_ws(sep, expr("transform(__arr, x -> x.__line)"))
          .as(textCol),
        col("lines_kept"), col("lines_total"))
  }

  /** Exact integer floor-division of two non-negative LONG columns —
    * `(a - a mod b) / b` keeps the double division exact (the
    * numerator is a multiple of b, magnitudes far under 2^53), so the
    * result is engine-portable where a bare `/`-then-floor can round
    * up across the integer boundary. */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Unigram frequency model for [[importanceMilli]]: slim
    * (word, n) counts plus the two corpus totals the smoothing needs.
    * Tokenization matches [[lmModel]] (trim → lower → whitespace
    * split), empty tokens dropped on BOTH sides of the oracle. */
  final case class WordModel(counts: DataFrame, nWords: Long,
    vocab: Long)

  def wordModel(docs: DataFrame, textCol: String = "text"): WordModel = {
    WorkCols.requireFree(docs, "__s", "__w")
    val w = docs
      .select(split(trim(lower(col(textCol))), "\\s+").as("__s"))
      .select(explode(col("__s")).as("__w"))
      .filter(col("__w") =!= "")
    val counts = w.groupBy(col("__w").as("word"))
      .agg(count(lit(1)).as("n"))
    val t = counts.agg(sum(col("n")), count(lit(1))).head()
    WordModel(counts, if (t.isNullAt(0)) 0L else t.getLong(0),
      t.getLong(1))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): per word, the
    * add-one-smoothed target/raw likelihood ratio in milli,
    *
    *   r_milli(w) = floor( (1000 · (cT(w)+1) / (NT+VT+1))
    *                       · ((NR+VR+1) / (cR(w)+1)) )
    *
    * and a document scores the MEAN of its words' ratios —
    * `imp_milli` > 1000 means "more target-like than raw". The MODEL
    * is pure integers (counts); the per-row ratio is deterministic
    * IEEE DOUBLE arithmetic in this exact operation order — multiply
    * and divide are correctly-rounded and engine-portable (unlike
    * transcendentals), so the DuckDB oracle reproduces every bit. A
    * fixed-point form was rejected: any single 64-bit scale floors
    * one side of the ratio to zero once a corpus outgrows it (a
    * million-fold count spread exhausts a ppm scale at ~10M tokens),
    * collapsing exactly the rare-word signal DSIR exists to measure;
    * doubles hold the full 13-orders-of-magnitude range. Count-to-
    * double conversion is exact below 2^53 ≈ 9·10^15 words per model.
    *
    * Cost: one word explode + two LEFT joins against slim
    * (word, count) models (broadcastable for typical target corpora,
    * shuffle-joined by AQE when the raw vocabulary is huge) + one
    * doc-keyed mean with partials. Docs with no words produce no row
    * (no importance is defined); the oracle drops them identically.
    * The model `counts` are lazy plans — a scoring fleet should
    * persist them or go through [[saveWordModel]]/[[loadWordModel]]
    * (the [[saveLmModel]] standing-artifact stance) so repeated
    * scoring doesn't re-tokenize the model corpora per action. */
  def importanceMilli(docs: DataFrame, target: WordModel,
      raw: WordModel, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    WorkCols.requireFree(docs, "__s", "__w", "__ct", "__cr", "__r",
      "__sum", "n_words", "imp_milli")
    val words = docs
      .select(col(idCol),
        split(trim(lower(col(textCol))), "\\s+").as("__s"))
      .select(col(idCol), explode(col("__s")).as("__w"))
      .filter(col("__w") =!= "")
    importanceOver(words, target, raw, idCol)
  }

  /** The shared DSIR scoring tail: per-unit smoothed ratio (the
    * [[importanceMilli]] IEEE-double chain in its pinned operation
    * order) over an exploded (id, `__w`) frame — `__w` is a STRING
    * word on the unigram path and a LONG hashed-gram bucket on the
    * [[importanceMilliNgram]] path; the joins and the math never
    * look inside the unit. */
  private def importanceOver(units: DataFrame, target: WordModel,
      raw: WordModel, idCol: String): DataFrame = {
    val ct = target.counts.select(col("word").as("__w"),
      col("n").as("__ct"))
    val cr = raw.counts.select(col("word").as("__w"),
      col("n").as("__cr"))
    val tDen = (target.nWords + target.vocab + 1L).toDouble
    val rDen = (raw.nWords + raw.vocab + 1L).toDouble
    units.join(ct, Seq("__w"), "left").join(cr, Seq("__w"), "left")
      .select(col(idCol),
        floor((lit(1000.0) * (coalesce(col("__ct"), lit(0L)) + lit(1L))
            .cast("double") / lit(tDen)) *
          (lit(rDen) / (coalesce(col("__cr"), lit(0L)) + lit(1L))
            .cast("double"))).cast("long").as("__r"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__r")).as("__sum"))
      .select(col(idCol), col("n_words"),
        expr("__sum div n_words").as("imp_milli"))
  }

  /** Hashed word-n-gram frequency model — the feature space the DSIR
    * paper actually uses (Xie et al. 2023 §3: hashed n-grams, which
    * separate "target-like PHRASING" from merely target-like
    * vocabulary): counts per `wordHash60(gram) mod buckets` bucket
    * ([[graft.functions.NgramBuckets]] — one codegen'd JVM pass per
    * doc, engine-portable md5 bucketing). The model reuses
    * [[WordModel]] with `word` = the LONG bucket id; `nWords` counts
    * GRAMS, `vocab` counts observed distinct buckets, so the
    * [[importanceMilli]] smoothing applies verbatim. The model is at
    * most `buckets` rows — broadcastable by construction, and
    * [[saveWordModel]]/[[loadWordModel]] freeze it unchanged (parquet
    * keeps the column type). Docs shorter than n grams contribute
    * nothing. */
  def ngramModel(docs: DataFrame, n: Int = 2, buckets: Int = 10000,
      textCol: String = "text"): WordModel = {
    WorkCols.requireFree(docs, "__w")
    // spread BEFORE the Generate: one md5 per gram is compute-bound,
    // and a one-file corpus would otherwise hash on one core (the
    // minhash/langid lesson)
    val g = WorkCols.spread(docs)
      .select(explode(shims.column(graft.functions
        .NgramBuckets(shims.expression(col(textCol)), n, buckets)))
        .as("__w"))
    val counts = g.groupBy(col("__w").as("word"))
      .agg(count(lit(1)).as("n"))
    val t = counts.agg(sum(col("n")), count(lit(1))).head()
    WordModel(counts, if (t.isNullAt(0)) 0L else t.getLong(0),
      t.getLong(1))
  }

  /** [[importanceMilli]] over hashed n-gram features: a document
    * scores the mean smoothed target/raw ratio of its gram BUCKETS
    * (same pinned IEEE-double chain, same `imp_milli` semantics —
    * > 1000 reads "more target-like than raw"). `n`/`buckets` must
    * match the values the two models were built with — a mismatch is
    * a silent feature-space change, so score through the same
    * constants you passed [[ngramModel]]. Docs with fewer than n
    * tokens produce no row (no grams, no importance), the unigram
    * path's no-words stance. */
  def importanceMilliNgram(docs: DataFrame, target: WordModel,
      raw: WordModel, n: Int = 2, buckets: Int = 10000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    WorkCols.requireFree(docs, "__w", "__ct", "__cr", "__r",
      "__sum", "n_words", "imp_milli")
    // spread before the Generate — the md5-per-gram kernel is
    // compute-bound (see [[ngramModel]])
    val grams = WorkCols.spread(docs).select(col(idCol),
      explode(shims.column(graft.functions.NgramBuckets(
        shims.expression(col(textCol)), n, buckets))).as("__w"))
    importanceOver(grams, target, raw, idCol)
  }

  /** Freeze a trained [[WordModel]] to disk (counts parquet +
    * totals json) — the standing-model artifact a scoring fleet
    * loads once, like [[saveLmModel]]. */
  def saveWordModel(model: WordModel, path: String): Unit = {
    model.counts.write.mode("overwrite").parquet(s"$path/counts")
    ArtifactIo.writeSidecar(path, "words.json",
      "nWords" -> model.nWords, "vocab" -> model.vocab)
  }

  /** Load a [[saveWordModel]] artifact. */
  def loadWordModel(spark: org.apache.spark.sql.SparkSession,
      path: String): WordModel = {
    val m = ArtifactIo.readSidecar(path, "words.json")
    WordModel(spark.read.parquet(s"$path/counts"), m.long("nWords"),
      m.long("vocab"))
  }

  /** DSIR selection: deterministic Bernoulli keep with probability
    * min(1, imp_milli / alphaMilli) — importance RESAMPLING with
    * hash-stable membership ([[Sampling.weightedHashSample]]: same
    * rows on any cluster, stable under appends). `alphaMilli` is the
    * importance at which a doc is kept with certainty; docs at the
    * raw-corpus baseline (imp ≈ 1000) keep with p ≈ 1000/alphaMilli.
    * One doc-keyed join hydrates the docs' columns back onto the
    * word-aggregated scores — inherent here (the score IS an
    * aggregate over the doc's words). */
  def dsirSample(docs: DataFrame, target: WordModel, raw: WordModel,
      key: Column, alphaMilli: Long, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(alphaMilli >= 1L,
      "[GRAFT] dsirSample: alphaMilli must be >= 1")
    WorkCols.requireFree(docs, "imp_milli")
    val imp = importanceMilli(docs, target, raw, idCol, textCol)
      .select(col(idCol), col("imp_milli"))
    Sampling.weightedHashSample(docs.join(imp, Seq(idCol)), key,
      least(lit(1.0),
        col("imp_milli").cast("double") / alphaMilli.toDouble))
  }

  /** [[dsirSample]] over hashed n-gram features — the resampling
    * step in the paper's own feature space: score with
    * [[importanceMilliNgram]], keep with hash-stable probability
    * min(1, imp_milli / alphaMilli). Docs with fewer than n tokens
    * have no gram importance and never keep (no score, no sample) —
    * the unigram form's no-words stance. */
  def dsirSampleNgram(docs: DataFrame, target: WordModel,
      raw: WordModel, key: Column, alphaMilli: Long, n: Int = 2,
      buckets: Int = 10000, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(alphaMilli >= 1L,
      "[GRAFT] dsirSampleNgram: alphaMilli must be >= 1")
    WorkCols.requireFree(docs, "imp_milli")
    val imp = importanceMilliNgram(docs, target, raw, n, buckets,
        idCol, textCol)
      .select(col(idCol), col("imp_milli"))
    Sampling.weightedHashSample(docs.join(imp, Seq(idCol)), key,
      least(lit(1.0),
        col("imp_milli").cast("double") / alphaMilli.toDouble))
  }

  /** Train a model-based document filter — the "quality classifier"
    * stage of LLM data pipelines (train a cheap classifier on a
    * labeled slice, score the whole corpus; cf. the GPT-3/CCNet-style
    * reference-corpus filters) — with NO external ML dependency and
    * NO floating point in the model:
    *
    * Bernoulli (presence-based) token evidence. For each of the top
    * `vocab` terms by document frequency (ties broken by term — the
    * selection is fully deterministic):
    *
    *   weight_milli(t) = (1000 · (df_pos + 1)) div (df_total + 2)
    *
    * — the add-one-smoothed P(label | t present) in integer milli
    * (Laplace posterior, the linear analog of a Naive-Bayes per-token
    * posterior; integer division instead of `ln` for the same
    * portability reason as [[bm25Scores]]' linear-rarity idf).
    *
    * 100 TB shape: ONE explode + hash aggregate over the corpus
    * (map-side partial combine; shuffle keyed by term, ∝ corpus token
    * volume), then a vocab-sized sort-limit. The model is `vocab`
    * rows — broadcastable by construction.
    *
    * `labelCol` is any BOOLEAN column expression over `docs` (e.g.
    * `col("lang") === "en"`, or a heuristic gate to distill).
    * Output: (term, df_pos, df_neg, weight_milli). */
  def trainTokenClassifier(docs: DataFrame, labelCol: Column,
      vocab: Int = 4096, textCol: String = "text"): DataFrame = {
    require(vocab > 0, "[GRAFT] classifier: vocab must be positive")
    val toks = array_distinct(split(trim(lower(col(textCol))), "\\s+"))
    docs.select(explode(toks).as("term"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("term"))
      .agg(sum(col("__y")).as("df_pos"),
        count(lit(1)).cast("long").as("__total"))
      .orderBy(col("__total").desc, col("term").asc)
      .limit(vocab)
      .select(col("term"), col("df_pos"),
        (col("__total") - col("df_pos")).as("df_neg"),
        idiv(lit(1000L) * (col("df_pos") + lit(1L)),
          col("__total") + lit(2L)).as("weight_milli"))
  }

  /** Score documents under a [[trainTokenClassifier]] model: the mean
    * evidence of the document's matched vocabulary terms, in milli —
    *
    *   score_milli = (Σ weight_milli of matched terms) div matched
    *
    * 500 = the neutral prior (also the score when NO term matches —
    * an all-OOV document carries no evidence either way); >= 500
    * reads "more positive-class evidence than not". Presence-based to
    * match training (each distinct term votes once).
    *
    * 100 TB shape: explode keeps doc-locality, the model join is an
    * explicit broadcast (vocab-sized by construction), and the
    * per-doc aggregate collapses map-side before its exchange — the
    * only shuffle carries one partial row per document.
    * Output: (idCol, matched, score_milli). */
  def scoreTokenClassifier(docs: DataFrame, model: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(Seq("term", "weight_milli").forall(model.columns.contains),
      "[GRAFT] classifier: model must have (term, weight_milli)")
    WorkCols.requireFree(docs, "__ev")
    val toks = array_distinct(split(trim(lower(col(textCol))), "\\s+"))
    val ev = docs.select(col(idCol), explode(toks).as("term"))
      .join(broadcast(model.select(col("term"), col("weight_milli"))),
        Seq("term"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("matched"),
        sum(col("weight_milli")).as("__ev"))
    docs.select(col(idCol))
      .join(ev, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("matched"), lit(0L)).as("matched"),
        coalesce(idiv(col("__ev"), col("matched")), lit(500L))
          .as("score_milli"))
  }

  /** N-gram windows over an ALREADY-NORMALIZED string column — the
    * lambda references `t` once per window, so callers must pass an
    * ATTRIBUTE (a pre-materialized projection), not an expression:
    * an inline `lower(text)` would be re-evaluated at every window
    * position inside the higher-order lambda (no CSE in interpreted
    * HOF evaluation — the [[graft.operators.Dedup]] minhash-inlining
    * lesson), turning a linear scan O(len²). `when` guards the
    * short-text case BEFORE building the sequence —
    * `sequence(1, len-2)` DESCENDS for len < 3 (the round-8 gotcha)
    * and would emit phantom grams. */
  /** Distinct char n-grams in one byte walk
    * ([[graft.functions.CharNGrams]] — the interpreted HOF form
    * re-walked the string per window, O(len²); see the kernel's
    * scaladoc). [[charNGramsOfHof]] keeps the original as the parity
    * oracle. */
  private def charNGramsOf(t: Column, n: Int): Column =
    org.apache.spark.sql.graft.shims.column(
      graft.functions.CharNGrams(
        org.apache.spark.sql.graft.shims.expression(t), n))

  /** The pre-r18 HOF form of [[charNGramsOf]] — parity oracle only
    * (KernelParitySpec). */
  private[graft] def charNGramsOfHof(t: Column, n: Int): Column =
    when(length(t) >= n,
      array_distinct(transform(
        sequence(lit(1), length(t) - (n - 1)),
        i => call_function("substr", t, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct character n-grams of the LOWERCASED text, windows over
    * the raw string including spaces (word-boundary grams carry much
    * of the language signal: "the", "er ", " de"). Pure projection.
    * Convenience form for ad-hoc use; the train/score operators
    * stage `lower(text)` into a materialized work column first (see
    * [[charNGramsOf]]'s O(len²) note). */
  def charNGrams(text: Column, n: Int): Column = {
    require(n > 0, "[GRAFT] charNGrams: n must be positive")
    charNGramsOf(lower(text), n)
  }

  /** Seeded multilingual training fixture for [[trainLangId]] — a few
    * plain-ASCII sentences of common function words per language
    * (public-knowledge vocabulary, the same stance as
    * [[LangProfiles]]). Deliberately tiny: it demonstrates the
    * train-in-engine path and covers short texts the stopword
    * heuristic ([[langId]]) cannot see; production callers train on
    * their own labeled corpus with the same two calls. */
  val LangIdSeedCorpus: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over the lazy dog and runs away with the ball",
    "en" -> "this is a house and that is a garden where children play all day long",
    "en" -> "we should think about what the people want and need every single day",
    "de" -> "der schnelle braune fuchs springt ueber den faulen hund und laeuft davon",
    "de" -> "das ist ein haus und dort ist ein garten wo kinder jeden tag spielen",
    "de" -> "wir sollten darueber nachdenken was die menschen wollen und brauchen",
    "es" -> "el rapido zorro marron salta sobre el perro perezoso y corre lejos",
    "es" -> "esta es una casa y ese es un jardin donde los ninos juegan todo el dia",
    "es" -> "debemos pensar en lo que la gente quiere y necesita cada dia entera",
    "fr" -> "le renard brun rapide saute par dessus le chien paresseux et court loin",
    "fr" -> "bonjour tout le monde ceci est une maison et voici un jardin pour les enfants",
    "fr" -> "nous devrions penser a ce que les gens veulent et ont besoin chaque jour")

  /** Train a character-TRIGRAM language-ID model — the model-based
    * upgrade of the [[langId]] stopword heuristic (char n-gram
    * profiles à la Cavnar & Trenkle 1994 / fastText's char-ngram
    * features, re-derived on the [[trainTokenClassifier]] integer
    * pattern): trigrams see INSIDE words, so a short text with no
    * function word at all ("bonjour") still scores.
    *
    * Per gram × language, add-one-smoothed presence evidence in
    * integer milli (no floating point in the model — the
    * [[trainTokenClassifier]] portability stance):
    *
    *   weight_milli(g, l) = (1000 · (df_{g,l} + 1)) div (df_g + L)
    *
    * where df_{g,l} counts training docs of language l containing g,
    * df_g = Σ_l df_{g,l}, and L = |languages|. The model is DENSE —
    * every vocab gram carries a row for every language — so a scored
    * document's matched-gram count is language-independent and
    * argmax-by-mean equals argmax-by-sum.
    *
    * 100 TB shape: one explode + hash aggregate over the training
    * corpus (map-side combine, shuffle keyed by gram), a vocab-sized
    * sort-limit, and a vocab × L dense join — the model is
    * broadcastable by construction. `labeled` needs (langCol,
    * textCol); languages are collected driver-side (|languages| is
    * tens, by nature of the task). Output: (gram, lang, df,
    * weight_milli). */
  def trainLangId(labeled: DataFrame, langCol: String = "lang",
      textCol: String = "text", vocab: Int = 4096): DataFrame = {
    require(vocab > 0, "[GRAFT] trainLangId: vocab must be positive")
    WorkCols.requireFree(labeled, "__t")
    // stage lower(text) as an attribute BEFORE the gram lambda — the
    // Generate's transform then reads it per row, not per window —
    // and SPREAD a few-file corpus first or the per-row gram kernel
    // runs on as few cores (the WorkCols.spread contract)
    val grams = WorkCols.spread(labeled
        .select(col(langCol).as("lang"), lower(col(textCol)).as("__t")))
      .select(col("lang"), explode(charNGramsOf(col("__t"), 3)).as("gram"))
      .groupBy(col("gram"), col("lang"))
      .agg(count(lit(1)).cast("long").as("df"))
    val langs = labeled.select(col(langCol).as("lang")).distinct()
    val nLangs = langs.count()
    require(nLangs > 0, "[GRAFT] trainLangId: empty training corpus")
    val top = grams.groupBy(col("gram"))
      .agg(sum(col("df")).as("df_total"))
      .orderBy(col("df_total").desc, col("gram").asc)
      .limit(vocab)
    top.crossJoin(langs)
      .join(grams, Seq("gram", "lang"), "left")
      .select(col("gram"), col("lang"),
        coalesce(col("df"), lit(0L)).as("df"),
        idiv(lit(1000L) * (coalesce(col("df"), lit(0L)) + lit(1L)),
          col("df_total") + lit(nLangs)).as("weight_milli"))
  }

  /** Lane-design cap for [[scoreLangId]]: one aggregate lane per
    * language, so L is tens-to-hundreds by nature of the task; past
    * this the pivoted-lane plan itself is the wrong shape and the
    * call fails loudly instead of building a 10k-column aggregate. */
  val MaxLangs: Int = 512

  /** Score documents under a [[trainLangId]] model: per language,
    * the mean trigram evidence in milli; the prediction is the
    * argmax language (ties break by language code asc — fully
    * deterministic), "und" with the neutral 500 when NO model gram
    * matches (the all-OOV stance of [[scoreTokenClassifier]]).
    *
    * 100 TB shape: the model is PIVOTED once (driver-cheap: vocab
    * rows) to one lang→weight map per gram, so the exploded trigram
    * stream joins the broadcast model exactly ONCE — the naive
    * (gram, lang) join would fan every trigram out × L languages and
    * key the aggregate by (doc, lang), an L× shuffle multiplier
    * (measured 7.5 s → ~2 s over 500k docs at L=4). Per-language
    * evidence folds as L map-side sum lanes keyed by doc alone, and
    * the argmax is a pure projection over the L lanes — no window,
    * one shuffle total. Output: (idCol, lang_pred, matched,
    * score_milli[, carry...]).
    *
    * `carry` rides EXTRA per-row projections of the docs scan
    * (name → column over `docs`) through the final prediction join,
    * appended to the output in the given order: a composer needing
    * per-doc signals alongside the prediction
    * ([[tokenizerFertility]]'s token counts) gets them from the SAME
    * scan instead of a second doc-keyed join of N slim rows — the
    * avoidable-shuffle anti-pattern this file otherwise avoids. Carry
    * columns are per-ROW projections by contract (they evaluate on
    * the docs scan before any aggregate). */
  def scoreLangId(docs: DataFrame, model: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      carry: Seq[(String, org.apache.spark.sql.Column)] = Nil): DataFrame =
    scoreLangIdImpl(docs, model, textCol, idCol, carry,
      forceJoin = false)

  /** The pre-r18 broadcast-join shape, callable directly — the
    * over-budget fallback of [[scoreLangId]] and the kernel path's
    * parity oracle (KernelParitySpec pins kernel == join on the seed
    * corpus and adversarial docs). */
  private[graft] def scoreLangIdJoin(docs: DataFrame, model: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      carry: Seq[(String, org.apache.spark.sql.Column)] = Nil): DataFrame =
    scoreLangIdImpl(docs, model, textCol, idCol, carry,
      forceJoin = true)

  private def scoreLangIdImpl(docs: DataFrame, model: DataFrame,
      textCol: String, idCol: String,
      carry: Seq[(String, org.apache.spark.sql.Column)],
      forceJoin: Boolean): DataFrame = {
    require(Seq("gram", "lang", "weight_milli")
        .forall(model.columns.contains),
      "[GRAFT] scoreLangId: model must have (gram, lang, weight_milli)")
    WorkCols.requireFree(docs, "__t", "__w", "__m")
    val spark = docs.sparkSession
    // ONE bounded driver action fetches everything the pivot needs:
    // the language labels (limit-collected, so a degenerate model
    // with millions of "languages" can never OOM the driver — the
    // lane design holds one aggregate lane per language, so past
    // MaxLangs the design is wrong for the input and we say so) and
    // the per-lang row counts, whose max is the vocab size used to
    // byte-gate the model broadcast below.
    val langRows = model.groupBy(col("lang"))
      .agg(count(lit(1)).as("__n")).limit(MaxLangs + 1).collect()
    require(langRows.nonEmpty, "[GRAFT] scoreLangId: empty model")
    require(langRows.length <= MaxLangs,
      s"[GRAFT] scoreLangId: model has > $MaxLangs distinct langs — " +
        "the pivoted-lane design carries one aggregate lane per " +
        "language; check the model's lang column")
    // lanes are ordered by array_sort, which compares the struct's
    // lang field as UTF8String BYTES — the driver-side list must use
    // the same order (Java's natural String sort compares UTF-16
    // code units, which diverges for non-BMP labels; see
    // [[Dedup.utf8ByteOrdering]])
    val langs = langRows.map(_.getString(0))
      .sorted(Dedup.utf8ByteOrdering)
    val vocabRows = langRows.map(_.getLong(1)).max
    // one POSITIONAL weight array per gram, lanes in sorted-lang
    // order: the per-row lane read is then an O(1) array index, not a
    // map hash probe, × L lanes × every trigram. The model is dense
    // by [[trainLangId]] construction — every vocab gram carries all
    // L languages — and the lane layout is VERIFIED per gram against
    // the expected label array: a filtered/hand-built model with a
    // missing, duplicate, or extra lane would otherwise silently sum
    // every language's evidence into its neighbor's lane.
    val langLit = array(langs.map(lit): _*)
    val wide = model.groupBy(col("gram"))
      .agg(array_sort(collect_list(struct(col("lang"),
        col("weight_milli")))).as("__s"))
      .select(col("gram"),
        when(transform(col("__s"), e => e.getField("lang")) === langLit,
          transform(col("__s"), e => e.getField("weight_milli")))
          .otherwise(raise_error(concat(
            lit("[GRAFT] scoreLangId: model is not dense at gram '"),
            col("gram"),
            lit("' — every gram must carry exactly one row per " +
              "language (trainLangId output is dense by " +
              "construction; do not filter model rows)"))))
          .as("__w"))
    carry.foreach { case (n, _) =>
      require(n != idCol && !Seq("lang_pred", "matched", "score_milli")
          .contains(n),
        s"[GRAFT] scoreLangId: carry name '$n' collides with an " +
          "output column")
    }
    // KERNEL path (r18): when the pivoted model fits the driver
    // collect budget — every trainLangId model does by construction —
    // the whole explode → broadcast-join → per-doc aggregate chain
    // collapses to ONE codegen projection over the docs scan
    // ([[graft.functions.LangIdScoreOf]]): zero shuffles, no Generate
    // row flood, same values bit-for-bit (KernelParitySpec). The
    // gate reads the same counts the broadcast gate does — never
    // data values — so the path choice is deterministic. Collecting
    // `wide` evaluates the dense-model raise_error guard for every
    // gram (the broadcast build did the same, just later).
    if (!forceJoin && BroadcastGate.vectorBatchBytes(vocabRows,
        2 * langs.length + 2) <= BroadcastGate.collectBudgetBytes) {
      // cast(gram as binary) keeps the vocab's RAW UTF-8 bytes — a
      // String round trip would U+FFFD-substitute ill-formed grams
      // and break byte-equality with the doc-side slices
      val rows = wide.select(col("gram").cast("binary"), col("__w"))
        .collect()
      val gramsB = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val flat = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.foreach { r =>
        val g = r.getAs[Array[Byte]](0)
        if (g != null) { // a NULL gram can never equi-join — drop it
          gramsB += g
          flat ++= r.getSeq[Long](1)
        }
      }
      val table = new graft.functions.LangIdTable(langs.toArray,
        gramsB.toArray, flat.toArray)
      val k = shims.column(graft.functions.LangIdScoreOf(
        shims.expression(col(textCol)), table))
      return WorkCols.spread(docs).select(Seq(col(idCol),
        k.getField("lang_pred").as("lang_pred"),
        k.getField("matched").as("matched"),
        k.getField("score_milli").as("score_milli")) ++
        carry.map { case (n, c) => c.as(n) }: _*)
    }
    def evCol(i: Int) = sum(element_at(col("__w"), lit(i + 1)))
      .as(s"__ev_${langs(i)}")
    // byte-gated hint (vocab rows × L longs) — an over-budget model
    // is left to the planner + AQE rather than force-broadcast
    val gatedWide = BroadcastGate.gated(wide, vocabRows,
      2 * langs.length + 2)
    val ev = WorkCols.spread(docs
        .select(col(idCol), lower(col(textCol)).as("__t")))
      .select(col(idCol), explode(charNGramsOf(col("__t"), 3)).as("gram"))
      .join(gatedWide, Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("__m"),
        langs.indices.map(evCol): _*)
    val scoreOf = langs.map(l =>
      l -> idiv(col(s"__ev_$l"), col("__m"))).toMap
    // deterministic argmax fold over the L lanes: langs ascend and
    // the replace is STRICT >, so ties keep the smaller code
    val best = langs.tail.foldLeft(
      struct(scoreOf(langs.head).as("score_milli"),
        lit(langs.head).as("lang"))) { (acc, l) =>
      when(scoreOf(l) > acc.getField("score_milli"),
        struct(scoreOf(l).as("score_milli"), lit(l).as("lang")))
        .otherwise(acc)
    }
    val scored = ev.select(col(idCol),
      best.getField("lang").as("lang_pred"),
      col("__m").as("matched"),
      best.getField("score_milli").as("score_milli"))
    docs.select(col(idCol) +: carry.map { case (n, c) => c.as(n) }: _*)
      .join(scored, Seq(idCol), "left")
      .select(Seq(col(idCol),
        coalesce(col("lang_pred"), lit("und")).as("lang_pred"),
        coalesce(col("matched"), lit(0L)).as("matched"),
        coalesce(col("score_milli"), lit(500L)).as("score_milli")) ++
        carry.map { case (n, _) => col(n) }: _*)
  }

  /** Tokenizer FERTILITY by predicted language — the multilingual
    * tokenizer-fairness diagnostic (fertility = subwords per word;
    * a language that fragments into more subwords pays more of the
    * context window per sentence, the standard multilingual-corpus
    * audit): composes [[scoreLangId]]'s per-doc prediction with the
    * per-row token counts ([[tokenCount]] whitespace words,
    * [[tokenCountBpeIsh]] subword proxy), then one hash aggregate by
    * language. Exact integer milli (floor division; a language group
    * whose docs all have ZERO whitespace tokens — empty/whitespace-
    * only texts routed to "und" — reports fertility 0 instead of a
    * division by zero, which would be NULL under non-ANSI Spark and a
    * hard error under ansi.enabled, with the oracle pinning the same
    * CASE). Per-doc ids are assumed unique (the [[scoreLangId]]
    * contract). 100 TB shape: the token counts ride [[scoreLangId]]'s
    * carry hook as two extra per-row projections of the SAME scan —
    * the scoring pipeline's one shuffle + an L-row aggregate, no
    * second doc-keyed join. Output: (lang_pred, n_docs, n_tokens,
    * n_subwords, fertility_milli). */
  def tokenizerFertility(docs: DataFrame, model: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    WorkCols.requireFree(docs, "__nt", "__ns")
    scoreLangId(docs, model, textCol, idCol, carry = Seq(
        "__nt" -> tokenCount(col(textCol)),
        "__ns" -> tokenCountBpeIsh(col(textCol))))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("__ns")).as("n_subwords"),
        when(sum(col("__nt")) > 0L,
          idiv(lit(1000L) * sum(col("__ns")), sum(col("__nt"))))
          .otherwise(lit(0L)).as("fertility_milli"))
  }

  /** Full per-document analysis projection. */
  def analyze(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol), tokenCount(t).as("n_tokens"),
      tokenCountBpeIsh(t).as("n_subwords"),
      length(t).cast("long").as("n_chars"),
      langId(t).as("lang_pred"),
      qualityMilli(t).as("quality_milli"),
      graft.functions.vfs_fingerprint(t).as("fingerprint"))
  }
}
