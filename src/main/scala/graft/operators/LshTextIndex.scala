package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band table for INCREMENTAL text near-dup —
  * the text-side twin of [[IvfIndex]]'s standing-artifact story
  * (`dedup_incremental_index` covers embeddings; this covers raw
  * text). [[Dedup.minHashLshJoin]] answers "which corpus docs does
  * this batch duplicate?" but re-tokenizes, re-signs, and re-bands the
  * ENTIRE corpus on every call — at 100 TB the corpus-side signature
  * pass (minhash over every document, every night) dwarfs the delta
  * itself. Here the corpus pays that pass once, at build:
  *
  *   - build: [[Dedup.bandedRelation]] over the corpus → `bands/`
  *     parquet of SLIM (id, band, bsig) triples (the signature slices
  *     only — ~bands × rowsPerBand longs per doc, independent of
  *     document length) + `_lsh.json` banding params.
  *   - append: band ONLY the new docs with the persisted params and
  *     append their triples — cost ∝ batch, corpus untouched.
  *   - probe: band ONLY the delta, hash-join it against the stored
  *     triples on (band, bsig), verify candidate pairs by exact
  *     jaccard. Corpus text is touched ONLY to hydrate word sets for
  *     verified candidate ids (same candidates-only join as
  *     [[Dedup.minHashLsh]]).
  *
  * The bucket cap is applied to the STORED side at probe time, over
  * the table as appended — a bucket that grows hot across appends is
  * capped by its CURRENT size, exactly as a fresh
  * [[Dedup.minHashLshJoin]] would see it (build-time capping would
  * freeze each row's verdict at its insertion-time bucket size).
  *
  * Banding params are frozen in the artifact: a probe or append never
  * silently mixes band families (the failure mode of recomputing
  * params at call sites). `generation` bumps on rebuild so derived
  * artifacts can detect staleness, mirroring [[IvfIndex]]. Metadata
  * rides INSIDE `bands/` as `_lsh.json` (underscore-prefixed, skipped
  * by scans like `_SUCCESS`), so every publish — fresh build,
  * params-changing rebuild, delete, compact — moves data and its
  * frozen params in ONE atomic rename ([[ArtifactIo.StandingIndex]]).
  * A legacy path-level `lsh.json` is read as a fallback and migrated
  * into the swap-safe layout by the next publish.
  *
  * Reference anchor: the reference has no incremental text dedup at
  * all (vfs/src/vfs has no text pipeline) — this is part of the
  * training-data-pipeline surface built beyond it. */
object LshTextIndex {
  case class Meta(bands: Int, rowsPerBand: Int, generation: Int)

  private val Life = ArtifactIo.StandingIndex("bands", "_lsh.json",
    "LSH index", legacyMeta = Some("lsh.json"))

  /** Does an index artifact exist at `path`? The hook callers use to
    * pick build-vs-append (the streaming ingest loop) — location-
    * agnostic, so the swap-safe and legacy layouts both answer. A
    * PARKED crash state (bands/ absent, bands_old complete) throws
    * instead of answering false: "false" would invite the ingest
    * loop to silently REBUILD from one micro-batch, discarding the
    * whole corpus band table. */
  def exists(path: String): Boolean = Life.exists(path)

  private[graft] def readMeta(path: String): Meta = {
    val m = Life.readMeta(path)
    Meta(m.int("bands"), m.int("rowsPerBand"), m.int("generation"))
  }

  /** Build (or REBUILD — generation bumps) the band table at `path`.
    * One pass over the corpus: tokenize → portable minhash signature →
    * explode to (id, band, bsig) triples ([[Dedup.bandedRelation]];
    * slim by construction — word sets never enter the shuffle). Both
    * fresh builds and rebuilds stage parquet + metadata together and
    * publish with a rename — see the class doc's atomicity stance. */
  def build(docs: DataFrame, path: String, bands: Int = 16,
      rowsPerBand: Int = 4, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    require(bands > 0 && rowsPerBand > 0,
      "[GRAFT] lsh index: bands and rowsPerBand must be positive")
    val banded = Dedup.bandedRelation(docs, "id", textCol, idCol,
      bands, rowsPerBand)
    Life.build(path, "bands" -> bands, "rowsPerBand" -> rowsPerBand)(
      banded.write.mode("overwrite").parquet(_))
  }

  /** Band `docs` with the index's frozen params and append their
    * triples. Cost ∝ |docs|; the standing table is not read. Caller
    * contract (as [[IvfIndex.append]]): ids not already indexed. */
  def append(docs: DataFrame, path: String, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val m = readMeta(path)
    Dedup.bandedRelation(docs, "id", textCol, idCol, m.bands,
      m.rowsPerBand)
      .write.mode("append").parquet(Life.data(path))
  }

  /** Near-dups of `delta` docs against the indexed corpus:
    * (probe_id, corpus_id, jaccard_milli >= round(threshold·1000)).
    *
    * `corpus` supplies text for candidate verification ONLY — it is
    * joined for the candidate ids that survive banding, never scanned
    * for signatures. `maxBucket` caps the stored side's CURRENT
    * buckets (see class doc). Delta-internal pairs are out of scope
    * (run [[Dedup.minHashLsh]] on the delta), matching
    * [[Dedup.minHashLshJoin]] semantics — spec-pinned parity. */
  def probe(spark: SparkSession, path: String, delta: DataFrame,
      corpus: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 1000,
      storedBands: Option[DataFrame] = None): DataFrame = {
    val m = readMeta(path)
    // storedBands overrides the artifact read — the streaming ingest
    // loop passes a residue-scrubbed view of the same table (see
    // Ingest.textDedupIngestStream), mirroring embeddingNearDupJoin's
    // bandedCorpus hook; the cap still applies here either way
    // Cap strategy follows capBucketsAnti's own rescan rule: the
    // anti-join form evaluates its input TWICE (hot-bucket counts +
    // rows), which is the right trade only for the parquet-backed
    // artifact read — two cheap scans instead of shuffling and
    // sorting EVERY stored triple through a window, so the stored
    // side stays unshuffled (the whole point of probing ∝ delta). A
    // caller-supplied storedBands view (the streaming loop passes a
    // residue-scrub DERIVED from joins) would pay its derivation
    // twice there — it keeps the single-pass window cap instead.
    val stored = storedBands match {
      case Some(view) => Dedup.capBuckets(view, maxBucket)
      case None => Dedup.capBucketsAnti(
        spark.read.parquet(Life.data(path))
          .withColumnRenamed("id", "corpus_id"), maxBucket)
    }
    // pinned dedup width (REPARTITION_BY_NUM): the verify's array
    // intersections stack on top of it and are compute-bound — AQE's
    // byte-based coalescing must not fold them onto a handful of
    // cores (same stance as minHashLsh)
    val candidates = WorkCols.dedupPairs(
      Dedup.bandedRelation(delta, "probe_id", textCol, idCol, m.bands,
          m.rowsPerBand)
        .join(stored, Seq("band", "bsig"))
        .select(col("probe_id"), col("corpus_id")),
      "probe_id", "corpus_id")
    Dedup.verifyJaccard(candidates, delta, corpus, "probe_id",
      "corpus_id", textCol, idCol, threshold)
  }

  /** Hard-delete documents from the band table — the takedown/GDPR
    * path ([[IvfIndex.deleteIds]]'s text twin): a deleted document's
    * band triples must never surface it as a probe candidate again.
    * One anti-join of the stored triples against the (driver-sized,
    * by contract) deletion batch, republished with the same staged
    * two-rename swap as [[compact]] — a crash leaves either the old
    * table or the new one, never a partial mix. Unlike the IVF
    * artifact (partitioned by cluster, so deletes rewrite only
    * touched partitions) the band table is not partitioned by id —
    * a delete is a full physical rewrite, i.e. a [[compact]] with
    * survivors only; batch deletions amortize exactly like
    * compactions do. `generation` bumps (a semantic change, same
    * stance as IVF deleteIds). `ids` match the band table's id
    * column by equality after Spark's usual implicit cast (pass
    * strings for string-keyed corpora). Single-writer maintenance
    * op. Returns the number of band triples removed. */
  def deleteIds(spark: SparkSession, path: String,
      ids: Seq[Any]): Long = {
    if (ids.isEmpty) return 0L
    Life.takedown(path) { stage =>
      val bands = spark.read.parquet(Life.data(path))
      // removed count from a pushed-down IN scan (tiny), priced before
      // the rewrite so the rewrite itself stays a single pass
      val removed = bands.filter(col("id").isin(ids: _*)).count()
      bands.filter(!col("id").isin(ids: _*)).repartition(col("band"))
        .write.mode("overwrite").parquet(stage)
      removed
    }
  }

  /** Rewrite the band table into one file per shuffle partition —
    * each [[append]] adds a file set, and probe latency grows with
    * files listed (the classic small-files problem). The unchanged
    * metadata rides INSIDE the stage dir (compaction is a physical
    * rewrite, not a semantic change), which also migrates a legacy
    * path-level lsh.json into the swap-safe layout. Same single-writer
    * stance as [[IvfIndex.compactAssignments]]. */
  def compact(spark: SparkSession, path: String): Unit =
    Life.compact(path) { stage =>
      spark.read.parquet(Life.data(path))
        .repartition(ArtifactIo.compactWidth(Life.data(path)), col("band"))
        .write.mode("overwrite").parquet(stage)
    }

  /** Should an ingest loop schedule [[compact]]? Keys on ONE namenode
    * listing of the band table's data files (no data read), so the
    * check is cheap enough to run per batch — the
    * [[IvfIndex.needsRebalance]] self-scheduling pattern applied to
    * small-files growth. */
  def needsCompaction(path: String, maxDataFiles: Int = 64): Boolean =
    Life.needsCompaction(path, maxDataFiles)
}
