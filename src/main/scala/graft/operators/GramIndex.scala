package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted k-gram hash set for INCREMENTAL exact-substring dedup —
  * the ExactSubstr twin of [[LshTextIndex]]'s standing-artifact story.
  * [[Dedup.duplicateSpans]] answers "which spans are duplicated?" over
  * a whole corpus, but a growing corpus would re-tokenize and re-hash
  * EVERY document every night to vet each day's delta — at 100 TB the
  * corpus-side gram pass dwarfs the delta. Here the corpus pays it
  * once, at build:
  *
  *   - build: distinct gram hashes of the corpus → `grams/` parquet
  *     (8 bytes per DISTINCT gram — presence is the whole verdict, so
  *     nothing else is stored) + `_gram.json` (k, generation).
  *   - append: distinct gram hashes of the new batch appended — cost
  *     ∝ batch; the standing table is not read (duplicate hashes
  *     across file sets are harmless under presence semantics, and
  *     [[compact]] folds them away).
  *   - probeSpans: gram-hash the DELTA only, semi-join its occurrence
  *     stream against the stored set, add the delta's own internal
  *     keep-first duplicates, and fold per-doc maximal spans — the
  *     exact output shape of [[Dedup.duplicateSpans]].
  *
  * SEMANTICS: the corpus is canonical — any delta occurrence of a
  * corpus gram is duplicated (the corpus copy came first); delta-only
  * grams fall back to within-delta keep-first by (id, idx). This
  * equals a batch [[Dedup.duplicateSpans]] over corpus ∪ delta
  * restricted to delta documents whenever corpus ids precede delta
  * ids (the ingest-order contract [[LshTextIndex.append]] also
  * assumes) — spec-pinned parity.
  *
  * `k` is frozen in the artifact: a probe or append never silently
  * mixes window widths; `generation` bumps on rebuild, mirroring
  * [[IvfIndex]] / [[LshTextIndex]]. */
object GramIndex {
  case class Meta(k: Int, generation: Int)

  /** Metadata lives at ONE of two locations. Artifacts written by
    * [[build]]/[[compact]] keep it INSIDE the grams directory as
    * `_gram.json` (underscore-prefixed, so Spark's file index skips
    * it like `_SUCCESS`), published with the data in one rename.
    * Layouts that manage their own gram files but reuse this
    * metadata via [[ensureMeta]] (the streaming ingest loop's
    * batch-addressed dirs) keep the original path-level `gram.json` —
    * they never swap, so they never had the window. Readers check the
    * grams-internal location first; every publish retires the
    * path-level copy. */
  private val Life = ArtifactIo.StandingIndex("grams", "_gram.json",
    "gram index", legacyMeta = Some("gram.json"))

  private def metaOf(m: ArtifactIo.Sidecar): Meta =
    Meta(m.int("k"), m.int("generation"))

  private[graft] def readMeta(path: String): Meta =
    metaOf(Life.readMeta(path))

  /** Pin `k` against an existing artifact dir, or stamp it on a fresh
    * one (generation 1). The loud-failure half of the frozen-k
    * contract for callers that manage their own gram LAYOUT but reuse
    * this metadata — the streaming ingest loop: restarting a stream
    * with a different k against an accumulated corpus would otherwise
    * silently match nothing and mix window widths forever. */
  def ensureMeta(path: String, k: Int): Unit = {
    require(k > 0, "[GRAFT] gram index: k must be positive")
    Life.readMetaOpt(path).map(metaOf) match {
      case Some(m) =>
        require(m.k == k,
          s"[GRAFT] gram index at $path is frozen at k=${m.k}; " +
            s"got k=$k — mixing window widths silently matches nothing. " +
            "Rebuild the artifact to change k.")
      // staged write + ATOMIC overwrite-rename: there is never an
      // instant with no gram.json on disk, so a crash cannot erase
      // the frozen-k record over a live gram table
      case None =>
        ArtifactIo.writeSidecar(path, "gram.json", "k" -> k,
          "generation" -> 1)
    }
  }

  /** The standing table's row shape: distinct 64-bit gram hashes of
    * `docs` — ONE derivation shared by [[build]], [[append]], and the
    * streaming ingest loop, so the stored set can never silently
    * diverge from the probe's hashing. */
  def distinctGrams(docs: DataFrame, k: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    Dedup.gramOccurrences(docs, k, textCol, idCol)
      .select(col("__g").as("g")).distinct()

  /** Build (or REBUILD — generation bumps) the gram set at `path`.
    * One pass: tokenize → slide → hash → distinct. The distinct is a
    * hash agg with map-side partials, so hyper-duplicated boilerplate
    * collapses before the exchange.
    *
    * The gram parquet AND its `_gram.json` metadata are staged
    * together and published with a rename
    * ([[ArtifactIo.StandingIndex]]): a rebuild that CHANGES k has no
    * crash window where new-k hashes sit under old-k metadata
    * (spec-pinned crash simulation in PipelineSpec). */
  def build(docs: DataFrame, path: String, k: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    require(k > 0, "[GRAFT] gram index: k must be positive")
    val grams = distinctGrams(docs, k, textCol, idCol)
    Life.build(path, "k" -> k)(grams.write.mode("overwrite").parquet(_))
  }

  /** Hash the batch with the index's frozen k and append its distinct
    * grams. Cost ∝ |docs|; the standing table is not read. */
  def append(docs: DataFrame, path: String, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val m = readMeta(path)
    distinctGrams(docs, m.k, textCol, idCol)
      .write.mode("append").parquet(Life.data(path))
  }

  /** Maximal duplicated spans of `delta` documents against the indexed
    * corpus plus the delta's own internal duplication — output shape
    * identical to [[Dedup.duplicateSpans]]: (idCol, span_start,
    * span_end, span_tokens).
    *
    * Cost ∝ delta grams: one semi-join of the delta's slim occurrence
    * triples against the stored hash set (AQE broadcasts the delta
    * side of the verdict agg; the stored side streams), one
    * within-delta verdict agg, one per-doc fold. The corpus text is
    * NEVER touched. */
  def probeSpans(spark: SparkSession, path: String, delta: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val m = readMeta(path)
    probeSpansAgainst(delta,
      spark.read.parquet(Life.data(path)).select(col("g")), m.k,
      textCol, idCol)
  }

  /** [[probeSpans]] against an explicit gram-hash frame (one `g`
    * LONG column) instead of the artifact layout — the hook the
    * streaming ingest loop uses with its batch-addressed gram
    * directory (mirroring [[LshTextIndex.probe]]'s `storedBands`). */
  def probeSpansAgainst(delta: DataFrame, storedGrams: DataFrame,
      k: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "[GRAFT] gram index: k must be positive")
    WorkCols.requireFree(delta, "__idx", "__g", "__k", "__starts",
      "__spans")
    spansFromOcc(Dedup.gramOccurrences(delta, k, textCol, idCol),
      storedGrams, k, idCol)
  }

  /** Probe core over a PRE-BUILT occurrence stream — callers that
    * need the occurrences again afterwards (the streaming ingest loop
    * derives the sink grams from them) cache `occ` once instead of
    * re-running the compute-bound tokenize+hash kernel per use. */
  private[graft] def spansFromOcc(occ: DataFrame,
      storedGrams: DataFrame, k: Int, idCol: String): DataFrame = {
    val stored = storedGrams.select(col("g").as("__g"))
    // corpus verdict: presence alone — the corpus copy is canonical
    val vsCorpus = occ.join(stored, Seq("__g"), "left_semi")
    // delta-internal verdict: the SHARED keep-first rule
    // ([[Dedup.keepFirstDupStarts]] — one implementation, so the
    // batch operator and this probe cannot diverge)
    val withinDelta = Dedup.keepFirstDupStarts(occ)
    val dupStarts = vsCorpus.select(col("__id"), col("__idx"))
      .union(withinDelta.select(col("__id"), col("__idx")))
      .distinct()
    Dedup.explodeSpans(Dedup.foldSpans(dupStarts, k), idCol)
  }

  /** Takedown for the presence set: REBUILD the gram table from the
    * surviving corpus — the gram-index leg of the takedown story
    * ([[IvfIndex.deleteIds]] / [[LshTextIndex.deleteIds]] /
    * [[BinaryIndex.deleteIds]]).
    *
    * WHY rebuild, not subtract: the artifact stores 8 bytes per
    * DISTINCT gram and nothing else — presence is the whole verdict,
    * which is exactly what makes build/append/probe ∝ |input|. A
    * gram of a deleted document usually also occurs in documents
    * that survive, and the set records no per-document provenance,
    * so subtraction is UNDEFINED on this layout. The alternative —
    * per-gram refcounts maintained at build/append — would double
    * the standing row width, turn every blind `mode("append")` into
    * a read-modify-write merge (the cost model the whole artifact
    * exists to avoid), and still rewrite the table on delete.
    * Takedowns are rare, batched compliance events; pricing them as
    * one corpus pass (exactly a [[build]]) keeps the hot paths
    * untouched. Callers on a RELATIVE-cost budget can batch retires
    * the way they batch [[compact]]s.
    *
    * `survivors` is the post-takedown corpus (the system of record —
    * same source [[build]] read). `k` stays frozen from the
    * artifact; `generation` bumps (via [[build]]'s rebuild path), so
    * derived artifacts can detect the change. Crash-safe via the
    * same staged two-rename swap as every rebuild. The
    * batch-addressed streaming layout refuses loudly — its standing
    * set is owned by the stream's replay protocol
    * ([[compactBatched]]); stop the stream and rebuild through its
    * own sink if a takedown must hit it. */
  def retire(spark: SparkSession, path: String, survivors: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    Life.healParked(path)
    val m = readMeta(path)
    // an ensureMeta-stamped artifact may have no grams/ yet (metadata
    // stamped, no batch landed): nothing stored means nothing to
    // retire — the rebuild below just publishes fresh at frozen k
    if (ArtifactIo.fsOf(path).exists(
        new org.apache.hadoop.fs.Path(Life.data(path))))
      require(!spark.read.parquet(Life.data(path)).columns
          .contains("batch"),
        "[GRAFT] retire: this is a BATCH-ADDRESSED streaming layout " +
          "(grams/batch=<id>) — its standing set is owned by the " +
          "stream's replay protocol; stop the stream and rebuild " +
          "through its own sink instead")
    build(survivors, path, m.k, textCol, idCol)
  }

  /** Fold duplicate hashes from appended file sets into one compact
    * table, mirroring [[LshTextIndex.compact]]. The unchanged metadata
    * rides INSIDE the stage dir (same k, same generation — compaction
    * is a physical rewrite, not a semantic change), which also
    * migrates a legacy path-level gram.json into the swap-safe
    * layout. */
  def compact(spark: SparkSession, path: String): Unit =
    Life.compact(path) { stage =>
      val grams = spark.read.parquet(Life.data(path))
      require(!grams.columns.contains("batch"),
        "[GRAFT] compact: this is a BATCH-ADDRESSED streaming layout " +
          "(grams/batch=<id>) — use compactBatched(), which preserves " +
          "the replay-prune provenance; a flat rewrite here would mix " +
          "bare files with partition dirs and wedge the stream")
      grams.distinct().write.mode("overwrite").parquet(stage)
    }

  /** Compaction for the BATCH-ADDRESSED streaming layout
    * (`grams/batch=<id>` —
    * [[graft.streaming.Ingest.substringDedupIngestStream]]'s sink,
    * which otherwise accumulates one directory per micro-batch
    * forever): folds the per-batch file sets into ONE row per
    * distinct gram while PRESERVING the replay-prune semantics —
    * each gram keeps its EARLIEST batch id, and the output stays
    * partitioned by `batch`. Only the LAST (uncommitted) batch can
    * ever replay, so pruning `batch != B` against the min-batch
    * table removes exactly the grams whose first occurrence was B
    * and keeps everything older — the same stored set the replay
    * saw pre-compaction. Later stream batches append their
    * `batch=<id>` partitions next to the compacted ones untouched.
    *
    * SAFE-POINT PROTOCOL (single-writer, like [[compact]]): STOP the
    * stream, compact, RESTART — a batch landing between the
    * compactor's read and its swap would be silently dropped from
    * the standing set. Replays after the restart stay correct: the
    * replayed batch's recomputed grams overwrite its own partition;
    * grams it shares with older batches become presence-duplicates
    * (harmless — presence is the whole verdict) that the next
    * compaction folds away. Crash-safe via the same staged
    * two-rename recovery as [[build]] rebuilds. */
  def compactBatched(spark: SparkSession, path: String): Unit =
    Life.compact(path) { stage =>
      val grams = spark.read.parquet(Life.data(path))
      require(grams.columns.contains("batch"),
        "[GRAFT] compactBatched: no batch partition column — this is a " +
          "flat-layout artifact; use compact() instead")
      grams.groupBy(col("g")).agg(min(col("batch")).as("batch"))
        .write.mode("overwrite").partitionBy("batch").parquet(stage)
    }
}
