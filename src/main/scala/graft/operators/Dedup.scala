package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.shims

import graft.functions.{vfs_cosine, vfs_fingerprint}

/** Deduplication operators for training-data pipelines, each designed
  * as a shuffle-minimal DataFrame program:
  *
  *   - exact: one hash-groupBy (map-side partial agg)
  *   - MinHash-LSH: per-row signature (no shuffle) → band explode →
  *     bucket self-join (shuffle carries only (band, sig, id) triples)
  *     → exact-jaccard verification of candidates only
  *   - SimHash: per-row 64-bit signature → 4×16-bit band blocking
  *     (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands equal)
  *   - embedding near-dup: cosine LSH via seeded random hyperplanes
  *
  * The reference has no dedup surface (SURVEY §2.9 N/A); these are the
  * north-star LLM-pipeline additions.
  */
object Dedup {

  /** Exact dedup on content hash: one row per distinct content with the
    * minimal id as keeper and the duplicate count. */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(vfs_fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("cnt"))

  /** Survivors of exact dedup (keep-first-by-id). */
  def exactSurvivors(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    WorkCols.requireFree(docs, "__rn")
    val w = Window.partitionBy(vfs_fingerprint(col(textCol)))
      .orderBy(col(idCol).asc)
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** C4-style passage-level global deduplication (Raffel et al. 2020
    * §2.2 deduplicates three-sentence spans corpus-wide — re-derived
    * here over fixed-width word windows, the deterministic analog for
    * unsegmented text): each document is cut into non-overlapping
    * `windowWords`-word passages; a passage occurrence survives iff it
    * is the corpus-wide FIRST occurrence of that exact passage text
    * (order: (id, position-in-doc) ascending); documents are then
    * reassembled from their surviving passages in original order.
    *
    * Output: one row per input document —
    * (idCol, n_passages, kept_passages, new_text), with new_text = ""
    * when every passage was a duplicate. A NULL text yields
    * n_passages NULL, kept_passages 0.
    *
    * 100 TB shape (r19): the keeper row — `min(struct(id, idx))` per
    * passage — IS the surviving occurrence, so the survivor set falls
    * straight out of ONE aggregate keyed by passage text: no
    * join-back of the occurrence table (the pre-r19 shape joined
    * occurrences to keepers and filtered for equality, a shuffle of
    * every occurrence that could only ever re-select the keeper
    * itself) and no window over the passage key (no partial-combine
    * escape — one viral passage would pull all its occurrences into
    * a single task). Partial combine collapses hyper-duplicated
    * boilerplate map-side before the shuffle; reassembly is one
    * aggregation keyed by document id. Measured (OPTIMIZATION_r19.md,
    * 500k docs x 4 passages, ~20 occurrences per distinct passage,
    * plus a corpus-wide 500k-occurrence viral passage): 11.8-17.5 s
    * shipping shape -> 5.7-6.6 s keepers-only, row-identical output
    * on both corpora (exceptAll both directions = 0); the
    * row_number-window form ties on time but loses the skew
    * defense, so the aggregate stays.
    *
    * Assumes unique ids: a document row repeated verbatim (same id,
    * same text) yields each of its passage occurrences twice, but only
    * one of them can be the keeper, so kept_passages counts every
    * passage once and each copy of the row reports that same count
    * (PipelineSpec pins this).
    */
  def passageDedup(docs: DataFrame, windowWords: Int = 50,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(windowWords > 0, "[GRAFT] windowWords must be positive")
    WorkCols.requireFree(docs, "__idx", "__passage", "__k")
    val w = split(trim(col(textCol)), "\\s+")
    val nPass = ceil(size(w).cast("double") / windowWords).cast("int")
    val passages = transform(sequence(lit(0), nPass - 1),
      i => concat_ws(" ", slice(w, i * windowWords + 1, lit(windowWords))))
    val occ = docs.select(col(idCol).as("__id"),
      posexplode(passages).as(Seq("__idx", "__passage")))
    val survivors = occ.groupBy(col("__passage"))
      .agg(min(struct(col("__id"), col("__idx"))).as("__k"))
      .select(col("__k")("__id").as("__id"),
        col("__k")("__idx").as("__idx"), col("__passage"))
    val rebuilt = survivors.groupBy(col("__id"))
      .agg(count(lit(1)).as("kept_passages"),
        array_join(transform(
          array_sort(collect_list(struct(col("__idx"), col("__passage")))),
          s => s("__passage")), " ").as("new_text"))
    docs.select(col(idCol).as("__id"), size(passages).cast("long").as("n_passages"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_passages"),
        coalesce(col("kept_passages"), lit(0L)).as("kept_passages"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }

  /** Corpus-level BOILERPLATE line table — the lines that appear in at
    * least `minDocFreq` DISTINCT documents (nav bars, footers, cookie
    * banners, subscribe prompts; the repeated-passage signal of
    * MassiveText/RefinedWeb line-wise filtering). Lines are keyed by
    * `trim(line)` (U+0020-only trim, the engine/oracle-portable form);
    * blank lines never count. Output: (line, df), `line` trimmed.
    *
    * vs [[passageDedup]]: passage dedup KEEPS the corpus-wide first
    * occurrence; boilerplate removal drops EVERY occurrence once the
    * doc-frequency threshold is met — a line shared by 10k pages is
    * noise in all 10k, including the first.
    *
    * 100 TB shape: one (id, line) distinct + one hash aggregation on
    * the line key, both with map-side partial combine — viral lines
    * collapse per-partition before either exchange. */
  def boilerplateLines(docs: DataFrame, minDocFreq: Long = 5L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minDocFreq >= 2L,
      "[GRAFT] boilerplateLines: minDocFreq must be >= 2")
    lineDocFreqs(docs, textCol, idCol).filter(col("df") >= minDocFreq)
  }

  /** The UNthresholded line → doc-frequency table (line, df) —
    * [[boilerplateLines]] without the cut, and the partial-count unit
    * [[LineIndex]] stores per batch (df counts over disjoint batches
    * sum to the corpus df, so a standing table can accumulate
    * increments and merge on read). */
  def lineDocFreqs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    lineOccurrences(docs, textCol, idCol)
      .select(col("__id"), col("__ln")).distinct()
      .groupBy(col("__ln")).agg(count(lit(1)).as("df"))
      .select(col("__ln").as("line"), col("df"))

  /** Strip corpus-level boilerplate lines from every document (the
    * RefinedWeb line-wise correction pass, Penedo et al. 2023 §3.3,
    * with the repeated-line criterion made exact): a non-blank line
    * whose trimmed text appears in ≥ `minDocFreq` distinct documents
    * ([[boilerplateLines]]) is dropped from ALL of them; blank lines
    * are dropped silently (not counted); surviving lines are rejoined
    * with '\n' in original order. Every input document yields exactly
    * one output row: (idCol, n_kept, n_dropped, clean_text) —
    * `n_dropped` counts boilerplate occurrences (repeats within one
    * doc each count), NULL text gives (0, 0, "").
    *
    * 100 TB shape: a count pass ([[boilerplateLines]]) and a strip
    * pass — the corpus IS scanned twice (the classic two-pass shape;
    * Spark has no sub-plan sharing without materialization, and
    * persisting the exploded lines would cache more than the input).
    * A production run over a standing corpus computes the line table
    * once and reuses it across batches via the two-argument overload.
    * The strip pass itself is one shuffle join of line occurrences on
    * the trimmed-line key (AQE broadcasts the boilerplate side when
    * small and skew-splits viral lines on the probe side), one
    * reassembly aggregation keyed by document id, and the all-docs
    * restore join — no window over the line key, so no single-task
    * hot spot. */
  def stripBoilerplate(docs: DataFrame, minDocFreq: Long = 5L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minDocFreq >= 2L,
      "[GRAFT] stripBoilerplate: minDocFreq must be >= 2")
    stripBoilerplateWith(docs,
      boilerplateLines(docs, minDocFreq, textCol, idCol), textCol, idCol)
  }

  /** [[stripBoilerplate]] against a PRECOMPUTED boilerplate table
    * (`(line, …)` — e.g. a persisted [[boilerplateLines]] artifact):
    * the scale path for repeated runs, one corpus scan instead of
    * two, and the way to strip a fresh batch against a standing
    * corpus-wide line table. */
  def stripBoilerplateWith(docs: DataFrame, boilerplate: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    WorkCols.requireFree(docs, "__id", "__pos", "__line", "__ln", "__bp")
    require(boilerplate.columns.contains("line"),
      "[GRAFT] stripBoilerplateWith: boilerplate table needs a 'line' column")
    val occ = lineOccurrences(docs, textCol, idCol)
    val boiler = boilerplate
      .select(col("line").as("__ln"), lit(1L).as("__bp")).distinct()
    val flagged = occ.join(boiler, Seq("__ln"), "left")
    val rebuilt = flagged.groupBy(col("__id")).agg(
      sum(when(col("__bp").isNull, 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("__bp").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
      array_join(transform(array_sort(collect_list(
          when(col("__bp").isNull, struct(col("__pos"), col("__line"))))),
        s => s("__line")), "\n").as("clean_text"))
    docs.select(col(idCol).as("__id"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Non-blank line occurrences: (__id, __pos, __line, __ln) with
    * __ln = trim(__line); NULL texts and NULL ids contribute no rows.
    * The id filter sits BEFORE the spread exchange for two reasons: it
    * matches SQL count-DISTINCT semantics (which skips NULLs — a
    * Spark distinct-then-count would tally a NULL-id row), and it
    * makes the df-count and occurrence subtrees byte-identical so
    * ReuseExchange serves both from one shuffle (the join-side
    * subtree gets isnotnull inferred on the id anyway). */
  private def lineOccurrences(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    WorkCols.spread(docs.filter(col(idCol).isNotNull))
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
      .withColumn("__ln", trim(col("__line")))
      .filter(length(col("__ln")) > 0)

  /** Exact-substring duplicate spans — the ExactSubstr technique of
    * "Deduplicating Training Data Makes Language Models Better" (Lee
    * et al., ACL 2022), which the suffix-array formulation computes on
    * one big machine, re-derived here as a shuffle-minimal distributed
    * program over a k-token sliding window: a token position belongs
    * to a duplicated span iff some k-gram covering its start position
    * occurs elsewhere in the corpus AND this occurrence is not the
    * corpus-wide first (keep-first by (id, position), the same
    * survivor rule as [[passageDedup]]). Overlapping/adjacent
    * duplicated windows are merged into MAXIMAL spans, so the output
    * is one row per maximal span: (idCol, span_start, span_end,
    * span_tokens), token positions 0-based, end exclusive.
    *
    * vs [[passageDedup]]: passages are non-overlapping fixed blocks
    * (a duplicate shifted by one word escapes); the sliding window
    * catches duplication at ANY alignment, which is why ExactSubstr
    * removes ~4x more text than NearDup alone in the paper.
    *
    * 100 TB shape: the shuffle carries only (gram-hash:64, id, idx)
    * triples — the gram TEXT never shuffles (xxhash64 key; a
    * collision can only flag a unique gram as duplicated, at ~2^-64
    * per pair — the standard trade the paper's own Bloom-filter
    * variant makes). Duplicate detection is one hash aggregation with
    * map-side partial combine (count + min are both algebraic, so
    * hyper-duplicated boilerplate collapses before the exchange); the
    * verdict is a shuffle join of occurrences on the hash (AQE
    * skew-join splits residual viral grams); span merging is one
    * per-document fold over that document's own duplicated starts —
    * bounded by document length, never by corpus size. */
  def duplicateSpans(docs: DataFrame, k: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "[GRAFT] duplicateSpans: k must be positive")
    WorkCols.requireFree(docs, "__idx", "__g", "__k", "__starts", "__spans")
    explodeSpans(mergedSpans(docs, k, textCol, idCol), idCol)
  }

  /** [[duplicateSpans]] applied: per-document token accounting and the
    * text with every maximal duplicated span cut out. Output: one row
    * per input document — (idCol, n_tokens, dup_tokens, new_text);
    * documents with no duplicated span keep their (whitespace-
    * normalized) text verbatim and dup_tokens = 0.
    *
    * The cut is positional (token j survives iff no span covers it),
    * evaluated per document against that document's own merged spans
    * — O(n_tokens x n_spans) per doc, no further shuffle beyond the
    * one left join of documents to their span lists. */
  def stripDuplicateSpans(docs: DataFrame, k: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "[GRAFT] stripDuplicateSpans: k must be positive")
    WorkCols.requireFree(docs, "__idx", "__g", "__k", "__starts", "__spans",
      "__w")
    val spans = mergedSpans(docs, k, textCol, idCol)
    val w = split(trim(col(textCol)), "\\s+")
    docs.select(col(idCol).as("__id"), w.as("__w"))
      .join(spans, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        size(col("__w")).cast("long").as("n_tokens"),
        coalesce(aggregate(col("__spans"), lit(0),
          (acc, sp) => acc + (sp("e") - sp("s"))), lit(0))
          .cast("long").as("dup_tokens"),
        when(col("__spans").isNull, array_join(col("__w"), " "))
          .otherwise(array_join(transform(
            filter(sequence(lit(0), size(col("__w")) - 1), j =>
              !exists(col("__spans"), sp => j >= sp("s") && j < sp("e"))),
            j => element_at(col("__w"), j + 1)), " "))
          .as("new_text"))
  }

  /** Shared core of [[duplicateSpans]]/[[stripDuplicateSpans]]: one
    * row per document that HAS duplicated spans — (__id,
    * __spans: array<struct<s:int, e:int>>), spans sorted, disjoint,
    * maximal (adjacent windows merge: a start exactly at the previous
    * span's end extends it — the covered region is contiguous). */
  private def mergedSpans(docs: DataFrame, k: Int,
      textCol: String, idCol: String): DataFrame =
    foldSpans(keepFirstDupStarts(
      gramOccurrences(docs, k, textCol, idCol)), k)

  /** The keep-first duplicate verdict over an occurrence stream
    * (__id, __idx, __g): every occurrence of a gram seen >= 2 times
    * EXCEPT its (id, idx)-minimal canonical copy. This rule is the
    * central spec-pinned invariant shared by [[duplicateSpans]] and
    * [[GramIndex.probeSpans]]'s within-delta verdict — one
    * implementation so they cannot diverge. One hash agg with
    * map-side partial combine (count + min both algebraic) + one
    * shuffle join of occurrences back on the 8-byte gram hash. */
  private[graft] def keepFirstDupStarts(occ: DataFrame): DataFrame = {
    // ONE window: a row survives iff it is not its gram's
    // (id, idx)-minimal occurrence — row_number() > 1 under exactly
    // the min(struct) ordering (Catalyst struct comparison = field
    // order = the window's orderBy), and a singleton gram has no
    // rn > 1, which is the old cnt >= 2 gate. The previous shape
    // (min-struct aggregate + join of occurrences back on the gram)
    // paid a SORT aggregate — min over a struct has no mutable
    // buffer, so HashAggregateExec refuses it — PLUS a second full
    // shuffle of the occurrence stream for the join; the r18 profile
    // put ~70% of substring-dedup CPU in that agg/join machinery.
    // Per-gram placement (all of a gram's occurrences on one task)
    // is the same in both shapes.
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("__id").asc, col("__idx").asc)
    occ.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("__id"), col("__idx"), col("__g"))
  }

  /** Slim k-gram occurrence stream (__id, __idx, __g): gram hashed to
    * 64 bits inside the scan task — only 8-byte keys ever shuffle.
    * Starts 0..n−k; docs shorter than k emit none.
    * [[WorkCols.spread]] first: the tokenize+hash kernel is
    * compute-bound like the minhash signature pass, and a corpus read
    * as a few big files would run it on as few cores (the same trade
    * documented there — real many-file inputs skip the branch). */
  private[graft] def gramOccurrences(docs: DataFrame, k: Int,
      textCol: String, idCol: String): DataFrame = {
    // one-pass kernel ([[graft.functions.WordGramHashes]]) — the
    // interpreted HOF form (slice + concat_ws + xxhash64 per window)
    // owned 11-17 CPU-s of the substring/gram stages at sf0.1;
    // [[gramHashesHof]] keeps it as the parity oracle
    val grams = shims.column(graft.functions.WordGramHashes(
      shims.expression(col(textCol)), k))
    WorkCols.spread(docs).select(col(idCol).as("__id"),
      posexplode(grams).as(Seq("__idx", "__g")))
  }

  /** The pre-r18 HOF form of [[gramOccurrences]]' window hashes —
    * parity oracle only (KernelParitySpec). */
  private[graft] def gramHashesHof(textCol: Column, k: Int): Column = {
    val w = split(trim(textCol), "\\s+")
    when(size(w) >= k,
      transform(sequence(lit(0), size(w) - k),
        i => xxhash64(concat_ws(" ", slice(w, i + 1, lit(k))))))
      .otherwise(array().cast("array<long>"))
  }

  /** Fold duplicated start positions (__id, __idx) into maximal spans
    * (__id, __spans): per-doc sorted collect + one expression fold —
    * window [x, x+k) merges into the running span iff x <= its end.
    * State bounded by document length, never corpus size. */
  private[graft] def foldSpans(dupStarts: DataFrame, k: Int): DataFrame =
    // merge kernel ([[graft.functions.MergeSpans]]) — the interpreted
    // `aggregate` HOF rebuilt the accumulator array per element
    // (O(spans²) allocation per doc); [[foldSpansHof]] keeps it as
    // the parity oracle
    dupStarts.groupBy(col("__id"))
      .agg(array_sort(collect_list(col("__idx"))).as("__starts"))
      .select(col("__id"), shims.column(graft.functions.MergeSpans(
        shims.expression(col("__starts")), k)).as("__spans"))

  /** The pre-r18 HOF fold of [[foldSpans]] — parity oracle only
    * (KernelParitySpec). */
  private[graft] def foldSpansHof(starts: Column, k: Int): Column =
    aggregate(starts,
      array().cast("array<struct<s:int,e:int>>"),
      (acc, x) => when(size(acc) === 0 ||
          x > element_at(acc, -1)("e"),
        concat(acc, array(struct(x.as("s"), (x + k).as("e")))))
        .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(element_at(acc, -1)("s").as("s"),
            greatest(element_at(acc, -1)("e"), x + k).as("e"))))))

  /** Explode a (__id, __spans) frame into the public span rows. */
  private[graft] def explodeSpans(spans: DataFrame,
      idCol: String): DataFrame =
    spans.select(col("__id").as(idCol),
        posexplode(col("__spans")).as(Seq("__n", "__sp")))
      .select(col(idCol), col("__sp")("s").cast("long").as("span_start"),
        col("__sp")("e").cast("long").as("span_end"),
        (col("__sp")("e") - col("__sp")("s")).cast("long").as("span_tokens"))

  private def wordSet(textCol: Column): Column =
    array_distinct(split(trim(lower(textCol)), "\\s+"))

  /** Engine-portable 60-bit word hash: the first 15 hex chars of md5,
    * parsed base-16. Strictly slower than murmur/xxhash but computable
    * bit-identically by any engine with md5 (the DuckDB oracle
    * reproduces it with a hex-digit fold), which makes signature-level
    * hash-matching possible. Use the murmur/xxhash variants when only
    * Spark-side reproducibility is needed. */
  def portableWordHash(w: Column): Column =
    conv(substring(md5(w.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Mersenne prime 2^31−1: the modulus of the portable minhash family
    * h_i(x) = (a_i·x + b_i) mod P. With x < P and a_i < P the product
    * stays under 2^62 — exact in 64-bit integer arithmetic in every
    * engine. */
  val MinHashP: Long = 2147483647L

  /** Deterministic (a_i, b_i) coefficients for [[minHashPortableSig]] —
    * the same seed must generate the oracle SQL's literals. */
  def minHashParams(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(numHashes)(
      (1L + r.nextInt((MinHashP - 1).toInt), r.nextInt(MinHashP.toInt).toLong))
  }

  /** Portable minhash signature as ARRAY<BIGINT>: sig[i] = min over the
    * word set of (a_i·portableWordHash(w) mod P + b_i) mod P. One fold
    * over the word hashes with the coefficient pairs riding in as an
    * array literal — the same single-pass shape as
    * [[minHashSignature]] (a per-coefficient lambda would recompute the
    * md5 word hashes |params| times). */
  def minHashPortableSig(textCol: Column, params: Seq[(Long, Long)]): Column = {
    val paramLit = typedLit(params.map { case (a, b) => Seq(a, b) })
    aggregate(
      transform(wordSet(textCol), w => portableWordHash(w) % MinHashP),
      array_repeat(lit(MinHashP), params.size),
      (acc, x) => zip_with(acc,
        transform(paramLit,
          p => (element_at(p, 1) * x + element_at(p, 2)) % MinHashP),
        (m, h) => least(m, h)))
  }

  /** MinHash signature: sig[i] = min over distinct words of
    * murmur3(word, i), i < numHashes. Pure projection.
    *
    * Shaped as ONE fold over the word set (per word: all numHashes
    * hashes, elementwise min into the accumulator) rather than
    * `transform(hashIdx, i -> min over words)`: higher-order-function
    * lambdas are interpreted without subexpression elimination, so the
    * word set (split + distinct over the whole text) would be
    * recomputed numHashes times per document (measured 15× slower). */
  def minHashSignature(textCol: Column, numHashes: Int): Column =
    aggregate(
      wordSet(textCol),
      array_repeat(lit(Int.MaxValue), numHashes),
      (acc, w) => zip_with(acc,
        transform(sequence(lit(0), lit(numHashes - 1)), i => hash(w, i)),
        (m, h) => least(m, h)))

  /** MinHash-LSH near-dup pairs over word sets.
    * numHashes = bands × rowsPerBand; candidates whose signatures agree
    * on ≥ 1 band are verified with exact jaccard ≥ `threshold`.
    * Output: (a, b, jaccard_milli) with a < b.
    *
    * `maxBucket` caps pathological buckets (e.g. all-identical corpora)
    * to bound the self-join blowup; capped buckets are all true dup
    * groups anyway and surface through `exactGroups`. */
  def minHashLsh(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      bands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    val banded = bandedRelation(docs, "id", textCol, idCol,
      bands, rowsPerBand)
    // bucket-fold pair generation ([[foldBandPairs]]): no self-join
    // recomputing the signature pipeline on both sides, no separate
    // window pass for the bucket cap, and a verify width pinned
    // against AQE's byte-based coalescing
    val candidates = foldBandPairs(banded, "bsig", maxBucket, None)
    verifyJaccard(candidates, docs, docs, "a", "b", textCol, idCol,
      threshold)
  }

  /** SLIM banded LSH relation: (idAlias, band, bsig) triples only.
    * Carrying word arrays through the ×bands explode and the bucket
    * join would multiply shuffle volume by bands × |words|; word sets
    * are joined back for just the deduplicated candidate pairs
    * ([[verifyJaccard]]).
    *
    * Explodes literal band indices FIRST, then slices the signature
    * from the Generate output attribute: if the band signature were
    * computed inside the explode lambda, CollapseProject would inline
    * the whole minhash signature expression into every band —
    * recomputing the word set numHashes × bands times per doc
    * (measured 16× slower). */
  private[graft] def bandedRelation(docs: DataFrame, idAlias: String,
      textCol: String, idCol: String, bands: Int,
      rowsPerBand: Int): DataFrame =
    // the signature pass is compute-bound (64 hashes × |words| per
    // doc) — spread a few-file corpus across the cores first
    WorkCols.spread(docs).select(col(idCol).as(idAlias),
        shims.column(graft.functions.MinHashSig(
          shims.expression(col(textCol)), bands * rowsPerBand)).as("sig"))
      .select(col(idAlias), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      // the band key is the raw signature slice (array<long> equality),
      // not a murmur of it: rowsPerBand longs cost little more shuffle
      // than one int, and the whole pipeline stays engine-portable —
      // the DuckDB oracle reproduces candidates exactly
      .select(col(idAlias), col("band"),
        slice(col("sig"), col("band") * rowsPerBand + 1,
          lit(rowsPerBand)).as("bsig"))

  /** Over-cap bucket REPORT — the no-silent-caps observability
    * companion to [[capBuckets]]/[[emitBucketGroups]]: one row per
    * bucket the pair emitters DROP (strictly more than `maxBucket`
    * members), with its size. Same group keys, same threshold, so
    * the report can never drift from the drop semantics. */
  private[graft] def overCapBuckets(banded: DataFrame, maxBucket: Int,
      keys: Seq[String]): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** [[minHashLsh]]'s dropped-bucket report: the SAME banding
    * ([[bandedRelation]]) and cap threshold as the pair run — run it
    * alongside a dedup job to see WHICH buckets the `maxBucket` cap
    * silently skipped and how big they were (a pathological corpus —
    * boilerplate, near-empty docs — shows up here instead of just
    * missing from the pair set). Output: (band, bsig, bucket_n),
    * empty when nothing was dropped. One hash agg over the slim
    * banded triples — cheaper than the pair run itself. */
  def minHashDroppedBuckets(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", bands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 1000): DataFrame =
    overCapBuckets(bandedRelation(docs, "id", textCol, idCol, bands,
      rowsPerBand), maxBucket, Seq("band", "bsig"))

  /** Dropped-bucket report for the 64-bit-signature family
    * ([[sigPairs]]/[[sigBandFoldPairs]] — text simhash, audio/video/
    * image prints): (band, bval, bucket_n) for every over-cap band
    * bucket, with the same null exclusion as the pair fold. */
  def sigDroppedBuckets(sigs: DataFrame,
      maxBucket: Int = 1000): DataFrame =
    overCapBuckets(
      sigBands(sigs.filter(col("id").isNotNull && col("sig").isNotNull),
        "id"),
      maxBucket, Seq("band", "bval"))

  /** Drop rows of band-key buckets larger than `maxBucket` — bounds
    * the worst-case self-join blowup on pathological corpora. */
  private[graft] def capBuckets(banded: DataFrame, maxBucket: Int,
      keys: Seq[String] = Seq("band", "bsig")): DataFrame = {
    val bucketW = Window.partitionBy(keys.map(col): _*)
    banded.withColumn("bucket_n", count(lit(1)).over(bucketW))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
  }

  /** Streaming per-bucket group fold with O(`maxBucket`) state — the
    * ONE place cap semantics live for every pair emitter (minhash/
    * containment ids and simhash (id, sig) payloads, integral or
    * string ids — all through [[foldBandPairs]]), so they can never
    * diverge: consume key-sorted (key, row) pairs, buffer each bucket
    * up to `maxBucket` + 1 rows (one element past the cap proves the
    * bucket is over it — the buffer clears and the rest of the bucket
    * skips, so a pathological bucket costs O(1) memory, not
    * O(bucket)), and hand each surviving bucket's buffer to `emit`
    * for lazy pair generation. Drop semantics match [[capBuckets]]
    * exactly: a bucket with MORE than `maxBucket` rows contributes
    * nothing. */
  private def emitBucketGroups[K, T, R](rows: Iterator[(K, T)],
      maxBucket: Int)(
      emit: scala.collection.mutable.ArrayBuffer[T] => Iterator[R])
      : Iterator[R] = {
    val bi = rows.buffered
    new Iterator[R] {
      private var out: Iterator[R] = Iterator.empty
      private def advance(): Unit =
        while (!out.hasNext && bi.hasNext) {
          val key = bi.head._1
          val buf = new scala.collection.mutable.ArrayBuffer[T]()
          var overflow = false
          while (bi.hasNext && bi.head._1 == key) {
            val t = bi.next()._2
            if (!overflow) {
              buf += t
              if (buf.length > maxBucket) { overflow = true; buf.clear() }
            }
          }
          if (!overflow && buf.length >= 2) out = emit(buf)
        }
      def hasNext: Boolean = { advance(); out.hasNext }
      def next(): R = { advance(); out.next() }
    }
  }

  /** String ordering by UTF-8 BYTES (unsigned lexicographic) — the
    * order Spark's `a.id < b.id` join condition applies to StringType
    * (UTF8String.binaryCompare). Java's natural Ordering[String]
    * compares UTF-16 code units instead, which diverges for
    * supplementary (non-BMP) code points: they encode as surrogates
    * (0xD800–0xDFFF), which sort BELOW U+E000–U+FFFF chars in UTF-16
    * order but ABOVE them in code-point/UTF-8 order. This per-compare
    * form re-encodes both sides on every comparison, so it is for
    * SMALL driver-side sorts (language labels, test fixtures); the
    * per-bucket pair fold ([[bucketPairs]]) encodes each id ONCE and
    * sorts the precomputed byte keys — same order, without
    * O(n log n) encodings per bucket. */
  private[operators] val utf8ByteOrdering: Ordering[String] =
    Ordering.comparatorToOrdering { (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Unsigned lexicographic byte order — [[utf8ByteOrdering]] over
    * keys already encoded by [[utf8Key]]. */
  private val utf8BytesOrd: Ordering[Array[Byte]] =
    Ordering.comparatorToOrdering(
      (a: Array[Byte], b: Array[Byte]) =>
        java.util.Arrays.compareUnsigned(a, b))

  private def utf8Key(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** One surviving bucket's strict a < b pairs — the capped
    * self-join's `a.id < b.id` exclusion (duplicate ids never
    * self-pair), lazy so a cap-sized bucket's ~maxBucket²/2 pairs
    * never materialize at once. The (id, sig) members are sorted ONCE
    * in the self-join's order — longs naturally, strings by their
    * UTF-8 bytes with each key encoded once per element; stable, so
    * duplicate ids keep arrival order — into the flat arrays
    * [[BucketPairs]] walks. `maxHamming` < 0 means no signature
    * payload (minhash/containment): the sigs are not kept and rows
    * are (a, b). */
  private def bucketPairs(buf: scala.collection.mutable.ArrayBuffer[(Any, Long)],
      utf8: Boolean, maxHamming: Int): Iterator[org.apache.spark.sql.Row] = {
    val xs =
      if (utf8) buf.map(t => (utf8Key(t._1.asInstanceOf[String]), t))
        .sortInPlaceBy(_._1)(utf8BytesOrd).map(_._2)
      else buf.sortInPlaceBy(_._1.asInstanceOf[Long])
    val n = xs.length
    val ids = new Array[Any](n)
    val sigs = if (maxHamming < 0) null else new Array[Long](n)
    var t = 0
    while (t < n) {
      ids(t) = xs(t)._1
      if (sigs != null) sigs(t) = xs(t)._2
      t += 1
    }
    new BucketPairs(ids, sigs, maxHamming)
  }

  /** The pair cursor over one bucket's sorted ids: two int cursors
    * over flat arrays, not an `Iterator.range(...).flatMap/filter`
    * chain — the loop is O(bucket²) and the generic form paid a boxed
    * Int plus two closure dispatches per INNER iteration.
    *
    * With `sigs` (a primitive long[], or null for none) the hamming
    * is computed inline and FILTERED at emission: a pair's hamming is
    * the same whichever band emits it, so dropping over-distance
    * pairs here equals a post-dedup `filter(hamming <= maxHamming)`
    * while never materializing, shuffling or hash-agg-deduping the
    * misses. The r18 JFR profile of image_neardup put ~80% of the
    * operator's CPU in exactly that shuffle + dedup of pairs the
    * filter then threw away (band collisions are mostly NOT
    * near-dups); the xor+popcount miss path touches no boxed value.
    * Emits (a, b) rows, or (a, b, hamming) with `sigs`. */
  private final class BucketPairs(ids: Array[Any], sigs: Array[Long],
      maxHamming: Int) extends Iterator[org.apache.spark.sql.Row] {
    private val n = ids.length
    private var i = 0
    private var j = 1
    private var have = false
    private var ham = 0L
    private def advance(): Unit =
      while (!have && i < n - 1) {
        if (sigs == null)
          while (!have && j < n) {
            if (ids(j) != ids(i)) have = true else j += 1
          }
        else {
          val si = sigs(i)
          while (!have && j < n) {
            val h = java.lang.Long.bitCount(si ^ sigs(j))
            if (h <= maxHamming && ids(j) != ids(i)) { have = true; ham = h }
            else j += 1
          }
        }
        if (!have) { i += 1; j = i + 1 }
      }
    def hasNext: Boolean = { advance(); have }
    def next(): org.apache.spark.sql.Row = {
      advance()
      if (!have) throw new NoSuchElementException
      val r =
        if (sigs == null) org.apache.spark.sql.Row(ids(i), ids(j))
        else org.apache.spark.sql.Row(ids(i), ids(j), ham)
      j += 1; have = false; r
    }
  }

  /** The ONE banded bucket fold behind every self-pair LSH producer:
    * minhash/containment bands ([[bandedRelation]], key `bsig`, ids
    * only) and the 64-bit-signature family ([[sigBands]], key `bval`,
    * the `sig` riding along for the inline hamming filter). One
    * pinned hash exchange of the slim banded rows on (band, key) + a
    * within-partition sort (spillable), then a single streaming pass
    * ([[emitBucketGroups]]) that applies the `maxBucket` cap with
    * O(maxBucket) state and emits each bucket's strict a < b pairs
    * ([[bucketPairs]]) — the candidate set is bit-identical to a
    * [[capBuckets]]-capped self-join's, without the window pass, the
    * both-sides signature recompute, or an unbounded per-bucket
    * collect buffer. The pairs end in [[WorkCols.dedupPairs]]: the
    * pair stream is byte-small but the stages stacked on it (final
    * dedup agg + each caller's exact verify) are COMPUTE-bound.
    *
    * NULL ids and NULL signatures are excluded BEFORE the typed pass —
    * the self-join's `a.id < b.id` silently dropped NULL ids (NULL
    * compare), and sorting a null id would instead throw an opaque
    * NPE mid-job; NULL keys (a NULL-text doc's sig slices, a NULL
    * caller sig's band values) go for the same join-parity reason: an
    * equi-join never matches NULL = NULL, but tuple grouping WOULD
    * bucket them together. Band indices are literals, never NULL.
    *
    * The id type is dispatched at plan time: integral ids widen to
    * BIGINT a/b, string ids sort by UTF-8 bytes (a < b matches the
    * self-join's UTF8String compare on every id, incl. non-BMP),
    * anything else fails loudly here rather than as a NULL-decode
    * crash mid-job. Output: (a, b), or (a, b, hamming ≤ maxHamming)
    * when `maxHamming` is given. */
  private def foldBandPairs(banded: DataFrame, key: String, maxBucket: Int,
      maxHamming: Option[Int]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idType = banded.schema("id").dataType match {
      case StringType => StringType
      case ByteType | ShortType | IntegerType | LongType => LongType
      case other => throw new IllegalArgumentException(
        s"[GRAFT] LSH pair id column must be integral or string, " +
          s"got $other")
    }
    val utf8 = idType == StringType
    val payload = maxHamming.map(_ => col("sig")).toSeq
    // where a NULL signature shows: the riding sig (its band values
    // follow from it), else the key itself
    val sig = payload.headOption.getOrElse(col(key))
    val keyed = WorkCols.pinned(
        banded.filter(col("id").isNotNull && sig.isNotNull)
          .select(Seq(col("band"), col(key),
            col("id").cast(idType).as("__id")) ++ payload: _*),
        "band", key)
      .sortWithinPartitions("band", key)
    val out = StructType(Seq("a", "b").map(StructField(_, idType, false)) ++
      maxHamming.map(_ => StructField("hamming", LongType, false)))
    val ham = maxHamming.getOrElse(-1)
    val fold: Iterator[Row] => Iterator[Row] = it => emitBucketGroups(
      it.map(r => ((r.get(0), r.get(1)),
        (r.get(2), if (ham >= 0) r.getLong(3) else 0L))),
      maxBucket)(bucketPairs(_, utf8, ham))
    WorkCols.dedupPairs(
      keyed.mapPartitions(fold)(org.apache.spark.sql.Encoders.row(out)),
      "a", "b")
  }

  /** [[capBuckets]] semantics without shuffling the banded rows:
    * bucket sizes come from one partial-agged count pass
    * ([[overCapBuckets]]), and rows of over-cap buckets are removed
    * by an anti-join against that hot-bucket list (tiny on any
    * non-pathological corpus — AQE broadcasts it at runtime when it
    * is, and falls back to a shuffled join when it is not, so the
    * worst case degrades to [[capBuckets]]' cost, never breaks). The
    * trade: `banded` is EVALUATED TWICE (counts + rows), so this fits
    * inputs that are cheap to rescan — a persisted band table
    * ([[LshTextIndex]]) — while [[capBuckets]] fits derived inputs
    * whose recompute (a corpus-wide signature pass) costs more than
    * its shuffle. */
  private[graft] def capBucketsAnti(banded: DataFrame, maxBucket: Int,
      keys: Seq[String] = Seq("band", "bsig")): DataFrame =
    banded.join(overCapBuckets(banded, maxBucket, keys)
      .select(keys.map(col): _*), keys, "left_anti")

  /** Exact-jaccard verification of candidate id pairs: join the word
    * sets back per side, apply the O(1) size prefilter (jaccard >= t
    * forces |A| >= t|B| and |B| >= t|A|) before the O(|A|+|B|)
    * intersect, keep pairs clearing `threshold`. Output:
    * (aCol, bCol, jaccard_milli). */
  private[graft] def verifyJaccard(candidates: DataFrame, aDocs: DataFrame,
      bDocs: DataFrame, aCol: String, bCol: String, textCol: String,
      idCol: String, threshold: Double): DataFrame = {
    // the kept set is rounded-milli >= round(t·1000), which admits
    // jaccard down to t − 0.0005 (round-half-up) — the prefilter must
    // use that loosened bound or it drops boundary pairs the milli
    // filter (and the oracle, which has no prefilter) keeps
    val tLoose = threshold - 0.0005
    candidates
      .join(wordSidecars(aDocs, textCol, idCol, aCol, "wa"), Seq(aCol))
      .join(wordSidecars(bDocs, textCol, idCol, bCol, "wb"), Seq(bCol))
      .filter(size(col("wa")).cast("double") >= size(col("wb")) * tLoose &&
        size(col("wb")).cast("double") >= size(col("wa")) * tLoose)
      .withColumn("jaccard_milli", jaccardMilliSorted(
        col("wa"), col("wap"), col("wb"), col("wbp")))
      .filter(col("jaccard_milli") >= math.round(threshold * 1000))
      .select(col(aCol), col(bCol), col("jaccard_milli"))
  }

  /** Per-doc (as, w, w + "p") verify columns: the word set and its
    * SORTED (hash, ordinal) sidecar ([[graft.functions.WordHashesSorted]]
    * — one murmur pass + one sort per DOCUMENT), so the per-PAIR
    * kernel ([[jaccardMilliSorted]] / [[containmentMilliSorted]]) is
    * a straight two-cursor merge with zero allocation. A per-pair
    * hash table (~2·(|A|+|B|) slots per candidate pair) dominated the
    * verify stage's CPU and its interpreted-window (C2-storm) cost;
    * the milli value is bit-identical (byte equality still decides,
    * see SetOverlapMilli.milliSorted). */
  private def wordSidecars(docs: DataFrame, textCol: String, idCol: String,
      as: String, w: String): DataFrame = {
    val ws = wordSet(col(textCol))
    docs.select(col(idCol).as(as), ws.as(w),
      shims.column(graft.functions.WordHashesSorted(shims.expression(ws)))
        .as(w + "p"))
  }

  /** Incremental (cross-corpus) MinHash-LSH: near-dups of `probe` docs
    * AGAINST `corpus` docs — the shape every growing training corpus
    * needs nightly: LSH-join only the new batch against the existing
    * data instead of re-running the full self-join. Within-batch pairs
    * come from [[minHashLsh]](probe); corpus-internal pairs are assumed
    * already handled. Cost scales with |probe| bands + the matched
    * buckets of the corpus, not with |corpus|².
    *
    * Same banding/verify pipeline as [[minHashLsh]]; `maxBucket` caps
    * the CORPUS side (a hot bucket there multiplies every probe hit).
    * Output: (probe_id, corpus_id, jaccard_milli). */
  def minHashLshJoin(probe: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, textCol: String = "text",
      idCol: String = "doc_id", bands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    val cb = capBuckets(
      bandedRelation(corpus, "corpus_id", textCol, idCol, bands,
        rowsPerBand), maxBucket)
    // pinned width before the compute-bound dedup + verify stages
    // (AQE's byte-based coalescing would fold the jaccard
    // intersections onto a handful of cores)
    val candidates = WorkCols.dedupPairs(
      bandedRelation(probe, "probe_id", textCol, idCol, bands, rowsPerBand)
        .join(cb, Seq("band", "bsig"))
        .select(col("probe_id"), col("corpus_id")),
      "probe_id", "corpus_id")
    verifyJaccard(candidates, probe, corpus, "probe_id", "corpus_id",
      textCol, idCol, threshold)
  }

  /** Connected components over a near-dup pair list — pairs name
    * EDGES, but dedup acts on GROUPS: every doc in a component keeps /
    * drops together, with the minimum id as the canonical survivor.
    * Iterative minimum-label propagation on DataFrames (the standard
    * shuffle-based CC, cf. GraphX/GraphFrames' algorithm): each round
    * every node adopts the smallest label among itself and its
    * neighbors; rounds needed ≈ component diameter, and near-dup
    * components are dense (diameter 2-3), so convergence is fast. The
    * loop is driver-side CONTROL only — each iteration is one
    * distributed join+aggregate, and the convergence check is an
    * aggregate count, not a collect of the data.
    *
    * Input: edges (a, b); output: (node, component) with component =
    * min node id in the component. Isolated nodes don't appear (no
    * edge → no dedup decision needed). Throws if `maxIter` rounds
    * don't converge (a path-graph component of diameter > maxIter —
    * returning the intermediate labels would silently split one true
    * component into several). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val und = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .cache()
    var labels = und.select(col("src").as("node"))
      .distinct()
      .withColumn("label", col("node"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = und
        .join(labels, und("dst") === labels("node"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nlabel"))
      // localCheckpoint BREAKS LINEAGE each round: labels feeds the
      // next plan twice (neighbor join + carry-forward join), so
      // without truncation the logical plan doubles per iteration —
      // 2^rounds plan nodes, analyzer OOM near round 10. With it every
      // round plans against a materialized leaf of constant size.
      val next = labels.join(neighborMin,
          labels("node") === neighborMin("src"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"))
        .localCheckpoint(true)
      val changed = next.alias("n")
        .join(labels.alias("o"), col("n.node") === col("o.node"))
        .filter(col("n.label") =!= col("o.label"))
        .count()
      labels = next
      converged = changed == 0L
      i += 1
    }
    und.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(
        s"[GRAFT] connectedComponents did not converge in $maxIter rounds" +
          " — a component with diameter > maxIter exists; raise maxIter")
    labels.select(col("node"), col("label").as("component"))
  }

  /** Leakage-safe train/val/test split: every doc gets a split label,
    * and docs connected by a near-dup edge ALWAYS land in the same
    * split — the standard guard against train/eval contamination
    * (a held-out doc whose near-duplicate sits in train is not held
    * out). Assignment hashes each doc's duplicate-GROUP canonical id
    * (connected component over `pairs`; singleton docs are their own
    * group), so membership is deterministic, reproducible across runs,
    * and stable under re-partitioning.
    *
    * `splits` are (name, weight-milli) with weights summing to 1000,
    * e.g. `Seq(("train", 900), ("val", 50), ("test", 50))`. A GROUP is
    * assigned wholly to the split whose cumulative bucket range
    * contains pmod(fnv(group), 1000) — realized fractions converge on
    * the weights in expectation over groups, with deviation bounded by
    * the largest duplicate cluster (inherent: indivisible groups).
    *
    * 100 TB shape: component labels cost ∝ the near-dup PAIR graph
    * (already banded/capped by the LSH producers), not the corpus; the
    * assignment itself is one left join against the pair-graph-sized
    * component table plus a pure hash projection — no corpus shuffle.
    * Output: (idCol, group_id, split) — group_id is the canonical id,
    * exposed so audits can verify the invariant directly. */
  def leakSafeSplit(docs: DataFrame, pairs: DataFrame,
      splits: Seq[(String, Int)],
      idCol: String = "doc_id"): DataFrame = {
    require(splits.nonEmpty, "[GRAFT] leakSafeSplit: no splits")
    require(splits.map(_._1).distinct.size == splits.size,
      "[GRAFT] leakSafeSplit: duplicate split names")
    require(splits.forall(_._2 > 0),
      "[GRAFT] leakSafeSplit: weights must be positive milli-units")
    require(splits.map(_._2).sum == 1000,
      s"[GRAFT] leakSafeSplit: weights must sum to 1000 milli, got " +
        splits.map(_._2).sum)
    val comp = connectedComponents(pairs.select(col("a"), col("b")))
      .withColumnRenamed("node", idCol)
    val grouped = docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("group_id"))
    val bucket = Sampling.hashBucket(col("group_id").cast("string"), 1000)
    val bounds = splits.map(_._2).scanLeft(0)(_ + _).tail
    val label = splits.zip(bounds).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), hi)) =>
        Some(acc.fold(when(bucket < hi, lit(name)))(
          _.when(bucket < hi, lit(name))))
    }.get // last bound is exactly 1000 ⇒ the chain is total
    grouped.select(col(idCol), col("group_id"), label.as("split"))
  }

  /** Canonical survivor per near-dup CLUSTER — the step production
    * pipelines run after pair detection: connected components over
    * `pairs` (a, b), then keep the best-scoring member of each
    * component (ties broken by smallest id — deterministic). Docs in
    * no pair are their own singleton component and survive trivially.
    * `score` is any integer-valued column expression over `docs`
    * (e.g. [[TextAnalysis.qualityMilli]] — "keep the highest-quality
    * copy"); pass `lit(0)` for plain keep-first semantics.
    *
    * Output: one row per component — (idCol = the survivor,
    * `component`, `n_members`, `score`).
    *
    * 100 TB shape: component labels cost ∝ the near-dup PAIR graph
    * (already banded/capped by the LSH producers), not the corpus;
    * scoring is one projection, membership one left join against the
    * pair-graph-sized component table, and the verdict one hash agg
    * keyed by component with a min(struct) argmin — a single
    * corpus-sized shuffle, no window, no driver state. */
  def nearDupSurvivors(docs: DataFrame, pairs: DataFrame, score: Column,
      idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs.select(col("a"), col("b")))
      .withColumnRenamed("node", idCol)
    docs.select(col(idCol), score.cast("long").as("score"))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"),
        col("score"))
      .groupBy(col("component"))
      .agg(min(struct((-col("score")).as("neg"), col(idCol).as("bid")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("best.bid").as(idCol), col("component"),
        col("n_members"), (-col("best.neg")).as("score"))
  }

  /** round(1000·|a∩b| / |a∪b|) over two distinct-element arrays.
    * One-pass counting kernel ([[graft.functions.SetOverlapMilli]] —
    * the `array_intersect`/`array_union` column form materialized two
    * result arrays per pair through generic set builders and owned
    * 35–41 process-CPU-seconds of the sf0.1 minhash verify stage);
    * [[jaccardMilliArrays]] keeps the original form as the parity
    * oracle. */
  def jaccardMilli(wa: Column, wb: Column): Column =
    shims.column(graft.functions.SetOverlapMilli(
      shims.expression(wa), shims.expression(wb), containment = false))

  /** The pre-r18 set-op form of [[jaccardMilli]] — parity oracle
    * only (SetOverlapParitySpec). */
  private[graft] def jaccardMilliArrays(wa: Column, wb: Column): Column =
    round(size(array_intersect(wa, wb)).cast("double") * 1000.0 /
      size(array_union(wa, wb))).cast("long")

  /** Containment in milli: 1000·|A∩B| / min(|A|,|B|) — 1000 when the
    * smaller word set is a subset of the larger. Same kernel as
    * [[jaccardMilli]] with the raw-size denominator. */
  def containmentMilli(wa: Column, wb: Column): Column =
    shims.column(graft.functions.SetOverlapMilli(
      shims.expression(wa), shims.expression(wb), containment = true))

  /** The pre-r18 set-op form of [[containmentMilli]] — parity oracle
    * only (SetOverlapParitySpec). */
  private[graft] def containmentMilliArrays(wa: Column, wb: Column): Column =
    round(size(array_intersect(wa, wb)).cast("double") * 1000.0 /
      least(size(wa), size(wb))).cast("long")

  /** [[jaccardMilli]] with SORTED per-doc (hash, ordinal) sidecars
    * ([[graft.functions.WordHashesSorted]]) — the r19 pair-verify
    * form: a two-cursor merge with zero allocation per candidate
    * pair (a per-pair hash probe table dominated the verify stage's
    * steady-state CPU and its interpreted-window cost). Byte equality
    * still decides; milli values are bit-identical (KernelParitySpec
    * pins the sorted and plain kernels against each other on
    * corpus-shaped and adversarial inputs). */
  private[graft] def jaccardMilliSorted(wa: Column, wap: Column,
      wb: Column, wbp: Column): Column =
    shims.column(graft.functions.SetOverlapMilliSorted(
      shims.expression(wa), shims.expression(wap),
      shims.expression(wb), shims.expression(wbp),
      containment = false))

  /** [[containmentMilli]] with sorted per-doc sidecars. */
  private[graft] def containmentMilliSorted(wa: Column, wap: Column,
      wb: Column, wbp: Column): Column =
    shims.column(graft.functions.SetOverlapMilliSorted(
      shims.expression(wa), shims.expression(wap),
      shims.expression(wb), shims.expression(wbp),
      containment = true))

  /** Containment near-dup pairs: flags a document swallowed by a
    * longer one — the case symmetric Jaccard structurally misses
    * (A ⊆ B gives J = |A|/|B|, arbitrarily small as B grows, while
    * containment stays 1.0). The news-wire / quote-inflation shape.
    *
    * Candidates come from the SAME banded MinHash relation as
    * [[minHashLsh]] but at a LOW band threshold (default 32 bands x 2
    * rows over the shared 64-hash signature: ~95% catch probability
    * at Jaccard 0.3), then exact containment verifies. DOCUMENTED
    * DETECTION ENVELOPE: a fully-contained doc has J = |A|/|B|, so
    * the banding reliably surfaces containment only while the size
    * ratio |B|/|A| stays under ~3; a needle-in-a-book case needs the
    * chunked variant ([[passageDedup]] / [[duplicateSpans]], which
    * catch shared passages at any length ratio).
    *
    * 100 TB shape: identical to [[minHashLsh]] — slim (id, band,
    * bsig) triples, bucket cap, exact verify on candidates only. No
    * size prefilter (containment admits any size ratio by design).
    * Output: (a, b, containment_milli), a < b. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9,
      textCol: String = "text", idCol: String = "doc_id",
      bands: Int = 32, rowsPerBand: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val banded = bandedRelation(docs, "id", textCol, idCol,
      bands, rowsPerBand)
    // bucket-fold pair generation + pinned dedup width
    // ([[foldBandPairs]]) — at this operator's LOW band threshold the
    // candidate flood is even denser than [[minHashLsh]]'s, so the
    // streaming fold and the AQE-proof verify width matter more, not
    // less
    val candidates = foldBandPairs(banded, "bsig", maxBucket, None)
    candidates
      .join(wordSidecars(docs, textCol, idCol, "a", "wa"), Seq("a"))
      .join(wordSidecars(docs, textCol, idCol, "b", "wb"), Seq("b"))
      .withColumn("containment_milli", containmentMilliSorted(
        col("wa"), col("wap"), col("wb"), col("wbp")))
      .filter(col("containment_milli") >= math.round(threshold * 1000))
      .select(col("a"), col("b"), col("containment_milli"))
  }

  /** Exact within-group near-dup pairs by word-set jaccard — the
    * oracle-checkable twin of [[minHashLsh]]: an equi-join on
    * `groupCol` bounds the O(n²) to each group (e.g. same source).
    * Output: (a, b, jaccard_milli), a < b. */
  def jaccardPairsWithin(docs: DataFrame, groupCol: String,
      threshold: Double, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = docs.select(col(groupCol).as("g"), col(idCol).as("id"),
      wordSet(col(textCol)).as("words"))
    val a = t.as("a")
    val b = t.as("b")
    a.join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"),
        jaccardMilli(col("a.words"), col("b.words")).as("jaccard_milli"))
      .filter(col("jaccard_milli") >= math.round(threshold * 1000))
  }

  /** SimHash signature over the low `nBits` bits of `hashFn(token)`:
    * bit j of the signature is the sign of Σ_tokens (bit j set ? +1 :
    * −1). Pure projection via higher-order functions — no shuffle, no
    * UDF.
    *
    * The word hashes are materialized ONCE via their own transform
    * BEFORE the per-bit fold: HOF lambdas are interpreted with no
    * CSE (the langid O(len²) pitfall), so `hashFn(w)` referenced
    * inside the per-bit lambda would re-run the hash nBits times per
    * word — for the portable md5 hash that was measured at ~60× the
    * whole signature cost over a 500k-doc corpus. */
  def simHashSig(textCol: Column, nBits: Int,
      hashFn: Column => Column): Column = {
    val hashes = transform(wordSet(textCol), w => hashFn(w))
    val counts = aggregate(
      hashes,
      array_repeat(lit(0), nBits),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(nBits - 1)),
          j => when(call_function("shiftright", h, j).bitwiseAND(1) === 1, 1)
            .otherwise(-1)),
        (x, y) => x + y))
    aggregate(
      zip_with(counts, sequence(lit(0), lit(nBits - 1)),
        (c, j) => when(c > 0, call_function("shiftleft", lit(1L), j)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** 64-bit SimHash per document (xxhash64 token hashes — the fast
    * Spark-native variant). Served by the codegen
    * [[graft.functions.SimHash]] kernel; [[simHashSig]] remains the
    * HOF reference implementation and a spec pins them bit-equal. */
  def simHash64(textCol: Column): Column =
    graft.functions.vfs_simhash(textCol, 64, portable = false)

  /** 60-bit SimHash on the portable md5-derived token hash — same
    * algorithm, but every bit is reproducible by the DuckDB oracle.
    * Served by the codegen [[graft.functions.SimHash]] kernel
    * (interpreted HOF folds were the curation pipeline's hot spot);
    * [[simHashSig]] remains the HOF reference and a spec pins them
    * bit-equal. */
  def simHash60Portable(textCol: Column): Column =
    graft.functions.vfs_simhash(textCol, 60, portable = true)

  /** Portable-simhash near-dup pairs with hamming ≤ maxHamming (≤ 3):
    * 4×15-bit band blocking over the 60-bit signature — pigeonhole
    * guarantees no false negatives, and the hamming filter removes all
    * false positives, so the output EQUALS the all-pairs result (which
    * is what the oracle computes) PROVIDED no band bucket exceeds
    * `maxBucket`: like [[minHashLsh]], buckets above the cap are
    * dropped to bound the self-join blowup on pathological corpora
    * (boilerplate/identical docs sharing band values). Capped buckets
    * are dominated by identical docs, which [[exactGroups]] surfaces;
    * pass `maxBucket = Int.MaxValue` to recover the unconditional
    * all-pairs guarantee. Output: (a, b, hamming). */
  def simHashPairsPortable(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 1000): DataFrame = {
    require(maxHamming <= 3, "4-band blocking covers hamming <= 3")
    val sigs = WorkCols.spread(docs).select(col(idCol).as("id"),
      simHash60Portable(col(textCol)).as("sig"))
    foldBandPairs(sigBands(sigs, "id", bits = 15), "bval", maxBucket,
      Some(maxHamming))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3):
    * 4×16-bit band blocking guarantees no false negatives for
    * maxHamming ≤ 3, subject to the same `maxBucket` cap (and the same
    * escape hatch) as [[simHashPairsPortable]]. Output: (a, b,
    * hamming). */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 1000): DataFrame =
    sigBandFoldPairs(WorkCols.spread(docs).select(col(idCol).as("id"),
      simHash64(col(textCol)).as("sig")), maxHamming, maxBucket)

  /** Near-dup pairs over CALLER-SUPPLIED 64-bit fingerprints — the
    * public face of the banded bucket fold for corpora whose prints
    * were computed by ANY kernel (a persisted
    * [[graft.operators.Multimodal.audioFingerprint]] /
    * videoFingerprint / imageFingerprint table, an external
    * fingerprinting job): (idCol, sigCol) rows in, (a, b,
    * hamming ≤ `maxHamming`) out, with [[simHashPairs]]' exact
    * semantics (pigeonhole over 4×16 bands — no false negatives for
    * maxHamming ≤ 3, inline filter — no false positives, subject to
    * the documented `maxBucket` drop). Also the engine behind the
    * `vfs_sig_pairs` SQL TVF. */
  def sigPairs(sigs: DataFrame, maxHamming: Int = 3,
      idCol: String = "id", sigCol: String = "sig",
      maxBucket: Int = 1000): DataFrame = {
    require(Seq(idCol, sigCol).forall(sigs.columns.contains),
      s"[GRAFT] sigPairs: input must have ($idCol, $sigCol)")
    sigBandFoldPairs(sigs.select(col(idCol).as("id"),
      col(sigCol).cast("long").as("sig")), maxHamming, maxBucket)
  }

  /** 4-band projection over (id, sig) rows — the ONE band derivation
    * every signature consumer shares ([[sigBandFoldPairs]] self-pairs,
    * [[SigIndex]]'s standing-artifact probe, and at `bits` = 15 the
    * 60-bit [[simHashPairsPortable]]): (idAlias, sig, band 0..3,
    * bval = the band's `bits` bits). Band values are sliced AFTER the
    * explode from the materialized sig attribute (a lambda-inlined
    * sig would recompute ×bands — see [[bandedRelation]]). Pure
    * projection, no shuffle. */
  private[graft] def sigBands(sigs: DataFrame, idAlias: String,
      bits: Int = 16): DataFrame =
    sigs
      .select(col("id").as(idAlias), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col(idAlias), col("sig"), col("band"),
        call_function("shiftright", col("sig"), col("band") * bits)
          .bitwiseAND((1L << bits) - 1).as("bval"))

  /** 4×16-bit band blocking + bucket fold over CALLER-SUPPLIED 64-bit
    * signatures — the signature-agnostic core of [[simHashPairs]],
    * shared by every operator whose per-item fingerprint is one LONG
    * (text simhash, audio energy-delta prints
    * [[graft.operators.Multimodal.audioNearDupPairs]]). Input: (id,
    * sig). Pigeonhole over 4 bands guarantees no false negatives for
    * maxHamming ≤ 3; the inline hamming filter removes all false
    * positives, so the output EQUALS the all-pairs result subject to
    * the [[capBuckets]]-semantics `maxBucket` drop. Output: (a, b,
    * hamming). */
  private[graft] def sigBandFoldPairs(sigs: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    require(maxHamming <= 3, "4-band blocking covers hamming <= 3")
    foldBandPairs(sigBands(sigs, "id"), "bval", maxBucket, Some(maxHamming))
  }

  /** Embedding near-dup, exact within a blocking group (oracle-checkable
    * twin): pairs with cosine distance < tau. */
  def embeddingPairsWithin(emb: DataFrame, groupCol: String, tau: Double,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val t = emb.select(col(groupCol).as("g"), col(idCol).as("id"),
      col(vecCol).as("v"))
    val a = t.as("a")
    val b = t.as("b")
    a.join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"),
        round(vfs_cosine(col("a.v"), col("b.v")) * 1000).cast("long")
          .as("dist_milli"))
      .filter(col("dist_milli") < math.round(tau * 1000))
  }

  /** Embedding near-dup at scale: cosine LSH — `bands × bitsPerBand`
    * seeded random hyperplanes; candidates agree on ≥ 1 band of bits
    * (banding, not whole-signature equality, so near-misses on a few
    * bits still collide), then exact cosine verifies < tau.
    * Deterministic via seed (the U2 RNG determinism hook,
    * ann.rs:245-248). Shuffle carries slim (id, band, bits) triples;
    * vectors join back only for deduplicated candidates. */
  def embeddingNearDupLsh(emb: DataFrame, tau: Double, bands: Int = 4,
      bitsPerBand: Int = 8, seed: Long = 42L, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val dim = dimOf(vecCol, emb) // empty-safe: empty input → empty output
    val planes = hyperplanes(dim, bands * bitsPerBand, seed)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = bandRelation(emb, "id", vecCol, idCol, planes, bands,
      bitsPerBand)
    val a = banded.as("a")
    val b = banded.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"))
    // pinned width before the compute-bound dedup + cosine verify
    // (see foldBandPairs' AQE argument); this operator keeps the
    // self-join form because it is deliberately UNCAPPED — folding an
    // unbounded bucket into one collect_list row would trade the
    // join's streaming behavior for a memory hazard
    WorkCols.dedupPairs(candidates, "a", "b")
      .join(base.select(col("id").as("a"), col("v").as("va")), Seq("a"))
      .join(base.select(col("id").as("b"), col("v").as("vb")), Seq("b"))
      .select(col("a"), col("b"),
        round(vfs_cosine(col("va"), col("vb")) * 1000).cast("long")
          .as("dist_milli"))
      .filter(col("dist_milli") < math.round(tau * 1000))
  }

  /** The seeded hyperplane family used by the cross-corpus embedding
    * join — derived only from (dim, bands·bitsPerBand, seed), so probe
    * and corpus sides band identically even when banded in different
    * jobs. */
  private def hyperplanes(dim: Int, nBits: Int,
      seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)((rnd.nextGaussian()).toFloat))
  }

  private def bandRelation(df: DataFrame, as: String, vecCol: String,
      idCol: String, planes: Array[Array[Float]], bands: Int,
      bitsPerBand: Int): DataFrame = {
    def bandSig(b: Int): Column =
      (0 until bitsPerBand).map { j =>
        when(graft.functions.vfs_dot(col("v"),
          typedLit(planes(b * bitsPerBand + j))) > 0,
          shiftleft(lit(1L), j)).otherwise(0L)
      }.reduce[Column]((x, y) => x.bitwiseOR(y))
    df.select(col(idCol).as(as), col(vecCol).as("v"))
      .select(col(as),
        posexplode(array((0 until bands).map(bandSig): _*))
          .as(Seq("band", "bits")))
  }

  /** `vecCol` dimension of the first available row — empty-safe:
    * falls back across frames, then to 1 (with no rows anywhere the
    * banding expressions never execute, so the value is moot). */
  private def dimOf(vecCol: String, dfs: DataFrame*): Int =
    dfs.iterator
      .flatMap(_.select(size(col(vecCol))).limit(1).collect().headOption)
      .map(_.getInt(0))
      .nextOption().getOrElse(1)

  /** Band + cap a STANDING corpus once — cache/persist the result and
    * pass it to [[embeddingNearDupJoin]] via `bandedCorpus` so each
    * probe micro-batch pays only probe-side work (without this, every
    * batch re-computes all corpus band signatures plus the corpus-wide
    * bucket-cap window). Output: (corpus_id, band, bits), capped. */
  def bandCorpus(corpus: DataFrame, bands: Int = 4, bitsPerBand: Int = 8,
      seed: Long = 42L, vecCol: String = "embedding",
      idCol: String = "vec_id", maxBucket: Int = 1000): DataFrame = {
    val planes = hyperplanes(dimOf(vecCol, corpus), bands * bitsPerBand,
      seed)
    val banded = bandRelation(corpus, "corpus_id", vecCol, idCol, planes,
      bands, bitsPerBand)
    // Int.MaxValue = "store uncapped" (cap again at probe time) —
    // skip the pointless bucket-count window
    if (maxBucket == Int.MaxValue) banded
    else capBuckets(banded, maxBucket, Seq("band", "bits"))
  }

  /** Probe-vs-corpus embedding near-dup JOIN — the incremental /
    * cross-corpus twin of [[embeddingNearDupLsh]] (the embedding
    * analogue of [[minHashLshJoin]]): band both sides with the SAME
    * seeded hyperplane family, candidates agree on ≥ 1 band, exact
    * cosine verifies < `tau`. Corpus buckets are capped at `maxBucket`
    * (pathological boilerplate embeddings would otherwise make one
    * bucket O(corpus)). Pass a cached [[bandCorpus]] result as
    * `bandedCorpus` in repeated-probe use (foreachBatch streaming) —
    * then per-call cost really is ∝ the probe batch; without it the
    * corpus is re-banded per call. An empty probe yields an empty
    * result (no `head()` crash mid-stream). The two frames must share
    * `vecCol` dimension — the verify expression throws the usual dim
    * guard otherwise. Output: (probe_id, corpus_id, dist_milli). */
  def embeddingNearDupJoin(probe: DataFrame, corpus: DataFrame,
      tau: Double, bands: Int = 4, bitsPerBand: Int = 8, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id",
      maxBucket: Int = 1000,
      bandedCorpus: Option[DataFrame] = None): DataFrame = {
    // dims must agree BEFORE banding: with per-side plane derivation a
    // probe/corpus dimension mismatch would band both sides with
    // unrelated plane families and return "no dups" instead of the
    // documented throw
    val pDim = probe.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0))
    val cDim = corpus.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0))
    (pDim, cDim) match {
      case (Some(p), Some(c)) if p != c =>
        throw new graft.store.InvalidVectorException(
          s"[GRAFT] vector dimension mismatch: probe dim $p vs corpus dim $c")
      case _ => ()
    }
    val planes = hyperplanes(pDim.orElse(cDim).getOrElse(1),
      bands * bitsPerBand, seed)
    val cb = bandedCorpus.getOrElse(
      bandCorpus(corpus, bands, bitsPerBand, seed, vecCol, idCol,
        maxBucket))
    val candidates = bandRelation(probe, "probe_id", vecCol, idCol,
        planes, bands, bitsPerBand)
      .join(cb, Seq("band", "bits"))
      .select(col("probe_id"), col("corpus_id"))
      .dropDuplicates("probe_id", "corpus_id")
    candidates
      .join(probe.select(col(idCol).as("probe_id"), col(vecCol).as("vp")),
        Seq("probe_id"))
      .join(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("vc")),
        Seq("corpus_id"))
      .select(col("probe_id"), col("corpus_id"),
        round(vfs_cosine(col("vp"), col("vc")) * 1000).cast("long")
          .as("dist_milli"))
      .filter(col("dist_milli") < math.round(tau * 1000))
  }

  /** Deterministic seed centroids for [[semanticDedup]]: the `k`
    * lowest-id vectors. No Lloyd iterations, so any engine (and the
    * DuckDB oracle) reproduces the exact same centroid set; production
    * pipelines pass `IvfIndex` centroids instead. */
  def seedCentroids(emb: DataFrame, k: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    emb.orderBy(col(idCol).asc).limit(k)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings to `centroids`, then inside
    * each cluster drop every vector that has a near-identical neighbor
    * (cosine distance-milli < `tauMilli`) with a lower id. Comparisons
    * never cross clusters, so pair cost is Σ|cluster|² — the whole
    * point of the method at corpus scale — and the only shuffles are
    * the cluster-keyed self-join (assignment itself is a pure
    * projection: the k centroids ride along as literals and
    * `array_min` over (dist_milli, cid) structs picks the argmin with
    * an integer tiebreak, exact in any engine).
    *
    * `maxCluster > 0` additionally caps cluster size via the same
    * guard as [[minHashLsh]]'s `capBuckets` — opt-in, since capping
    * trades completeness inside oversized clusters for a bounded
    * worst case on pathological (collapsed-embedding) corpora.
    *
    * `nAssign > 1` assigns every vector to its n nearest centroids
    * (SOAR-style double assignment, the same fix as the IVF
    * multiprobe): a near-dup pair straddling one cluster boundary
    * still shares the neighbor cluster, closing single-assignment's
    * documented blind spot for ~n× pair cost.
    *
    * Assignment route: up to `kernelThreshold` centroids, the argmin
    * is a literal-array projection on ROUNDED-milli cosine — fully
    * engine-portable (it's what the DuckDB oracle pins). Above the
    * threshold (real SemDeDup runs want k ≈ √N), codegen over
    * thousands of struct literals degrades, so assignment switches to
    * [[IvfIndex.assignRows]] — the measured-18-27×-faster broadcast
    * argmin kernel. Spherical mode: rows AND centroids are
    * L2-normalized, so Euclidean argmin is exactly cosine argmin
    * (non-unit centroids — IVF Lloyd means always have norm < 1 —
    * would otherwise bias toward longer centroids); tiebreaks are
    * raw-double rather than rounded, so the route is not bit-pinned
    * to the oracle route on exact rounding ties.
    *
    * Returns the DROPPED rows: (idCol, canonical, cluster, dist_milli)
    * where `canonical` is the lowest-id near-dup neighbor sharing a
    * cluster and `dist_milli` the distance to it. Survivors = input
    * anti-join output. */
  def semanticDedup(emb: DataFrame, centroids: DataFrame, tauMilli: Long,
      vecCol: String = "embedding", idCol: String = "vec_id",
      maxCluster: Int = 0, nAssign: Int = 1,
      kernelThreshold: Int = 64): DataFrame = {
    require(nAssign >= 1, "[GRAFT] semanticDedup: nAssign must be >= 1")
    // byte-gate the centroid collect BEFORE pulling it driver-side:
    // real SemDeDup runs want k ≈ √N, and at corpus scale that
    // centroid frame can be the exact ungated-collect driver OOM
    // BroadcastGate documents. One cheap aggregate measures rows and
    // dim; the failure names the two-level composition that keeps k
    // bounded (cluster with IvfIndex first, then semanticDedup per
    // coarse cell with a driver-sized centroid subset).
    // persist before the sizing action: the gate's measuring agg and
    // the collect would otherwise each execute the caller's full
    // centroid derivation (at the documented k ≈ √N regime that is a
    // whole clustering lineage, twice) — the Knn.exactBatch gate
    // convention
    val centsSlim = centroids
      .select(col("cid").cast("long"), col("cv")).persist()
    val cents: Array[(Long, Seq[Float])] =
      try {
        val m = centsSlim.agg(count(lit(1)).cast("long"),
          max(size(col("cv"))).cast("int")).head()
        BroadcastGate.requireCollectFits(m.getLong(0),
          math.max(0, if (m.isNullAt(1)) 0 else m.getInt(1)),
          "semanticDedup centroid table",
          "Route oversized centroid sets through two-level clustering: " +
            "IvfIndex coarse cells first, then semanticDedup per cell " +
            "with a bounded per-cell centroid set.")
        centsSlim.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1)))
          .sortBy(_._1)
      } finally centsSlim.unpersist()
    require(cents.nonEmpty, "[GRAFT] semanticDedup: empty centroid set")
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    lazy val dcs = cents.map { case (cid, cv) =>
      struct(
        round(vfs_cosine(col("v"), typedLit(cv)) * 1000).cast("long")
          .as("dm"),
        lit(cid).as("cid"))
    }
    // argmin (or arg-top-n) over centroid literals: a pure projection,
    // no shuffle — struct ordering is (dm, cid), an integer tiebreak
    // every engine agrees on
    val assigned0 =
      if (cents.length > kernelThreshold) {
        cents.foreach { case (cid, _) =>
          require(cid >= Int.MinValue && cid <= Int.MaxValue,
            s"[GRAFT] semanticDedup kernel route: centroid id $cid " +
              "exceeds Int range")
        }
        // the kernel argmin is Euclidean over L2-NORMALIZED rows —
        // centroids must be normalized too, or non-unit centroids
        // (IVF Lloyd means always have norm < 1) would bias the
        // assignment toward longer centroids and silently diverge
        // from the literal route's cosine argmin
        IvfIndex.assignRows(e,
            cents.map { case (cid, cv) =>
              (cid.toInt, IvfIndex.l2normalize(cv.toArray))
            },
            nAssign, normalize = true)
          .select(col("id"), col("values").as("v"),
            col("cluster").cast("long").as("cluster"))
      } else if (nAssign == 1) {
        val best = array_min(array(dcs.toIndexedSeq: _*))
        e.select(col("id"), col("v"), best.getField("cid").as("cluster"))
      } else {
        val ranked = slice(array_sort(array(dcs.toIndexedSeq: _*)), 1,
          math.min(nAssign, cents.length))
        e.select(col("id"), col("v"),
          explode(ranked.getField("cid")).as("cluster"))
      }
    val assigned =
      if (maxCluster > 0) capBuckets(assigned0, maxCluster, Seq("cluster"))
      else assigned0
    val a = assigned.as("a")
    val b = assigned.as("b")
    a.join(b, col("a.cluster") === col("b.cluster") &&
        col("a.id") < col("b.id"))
      .select(col("b.id").as("id"), col("a.id").as("neighbor"),
        col("b.cluster").as("cluster"),
        round(vfs_cosine(col("a.v"), col("b.v")) * 1000).cast("long")
          .as("dm"))
      .filter(col("dm") < tauMilli)
      .groupBy(col("id"))
      .agg(min(struct(col("neighbor"), col("dm"), col("cluster"))).as("nd"))
      .select(col("id").as(idCol), col("nd.neighbor").as("canonical"),
        col("nd.cluster").as("cluster"), col("nd.dm").as("dist_milli"))
  }
}
