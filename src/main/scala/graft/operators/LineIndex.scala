package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Persisted line → doc-frequency table for INCREMENTAL boilerplate
  * removal — the standing-artifact story ([[LshTextIndex]] for text
  * near-dup, [[GramIndex]] for substrings, [[SigIndex]] for media
  * prints) applied to [[Dedup.stripBoilerplate]]: the one-call form
  * recounts the WHOLE corpus's line frequencies per run, but a
  * nightly ingest only adds a batch — at 100 TB the corpus-side count
  * pass dwarfs the delta. Here the corpus pays it once:
  *
  *   - build: persist the corpus's (line, df) rows
  *     ([[Dedup.lineDocFreqs]] — trimmed non-blank lines, distinct
  *     docs per line) as the BASE partition.
  *   - appendIdempotent: land the BATCH's partial (line, df) rows at
  *     `lines/batch=<id>` with OVERWRITE — cost ∝ batch, the standing
  *     table is not read, and a replay rewrites the same partition
  *     with identical content instead of double-counting (this
  *     artifact has NO downstream dedup to absorb a duplicate: an
  *     inflated df flips clean lines over the boilerplate threshold —
  *     a wrong answer, not a fatter bucket — so the write itself must
  *     be idempotent; there is deliberately no plain append).
  *     Doc-frequency is additive over batches with DISJOINT document
  *     ids, the append contract (the [[LshTextIndex.append]] "ids not
  *     already indexed" stance).
  *   - counts/boilerplate: merge the partials on read (one hash
  *     aggregate over slim (line, df) rows — never over the corpus).
  *   - strip: [[Dedup.stripBoilerplateWith]] against the merged
  *     boilerplate list — ONE corpus scan, no recount.
  *
  * Storage is batch-ADDRESSED partial rows (a line may appear once
  * per landed batch until [[compact]] folds it): appends stay ∝ batch
  * with no read-modify-write of the standing table, the merge is a
  * read-side aggregate, and [[compact]] folds everything into the
  * base partition at data-sized width ([[ArtifactIo.compactWidth]]).
  * The append watermark ([[ArtifactIo.StandingIndex]]) makes a STALE
  * replay (an already-folded batch id re-arriving after a compact) a
  * refused no-op, so the folded base can never be overwritten.
  *
  * Takedown: per-line df carries no per-doc provenance, so
  * SUBTRACTING a document is undefined on this layout (the
  * [[GramIndex.retire]] rationale) — rebuild from the surviving
  * corpus. A rebuilt artifact is indistinguishable from a freshly
  * built one BY DESIGN: incremental callers
  * ([[graft.streaming.Ingest.boilerplateIngestStream]])
  * create the artifact EMPTY ([[create]]) and land every batch
  * through [[appendIdempotent]], so they never need a
  * residue-vs-rebuilt heuristic that could misread a legitimate
  * takedown rebuild as batch-0 crash residue.
  *
  * Metadata rides INSIDE `lines/` as `_lines.json`; every rewrite
  * follows the shared [[ArtifactIo.StandingIndex]] lifecycle — no
  * crash state mixes old and new rows.
  *
  * Reference anchor: none (vfs/src/vfs is vectors-only) — part of the
  * training-data-pipeline surface built beyond the reference. */
object LineIndex {
  case class Meta(generation: Int)

  private val Life = ArtifactIo.StandingIndex("lines", "_lines.json",
    "line index")

  /** The base partition: [[build]]'s corpus counts and [[compact]]'s
    * folded rows live here; [[appendIdempotent]] requires batch ids
    * ≥ 0, so the base can never collide with a landed batch. */
  private val BaseBatch = -1L

  /** Does an artifact exist at `path`? A parked crash state throws
    * instead of answering false. */
  def exists(path: String): Boolean = Life.exists(path)

  /** Heal a crash parked mid-swap (compact or rebuild died between
    * its two renames): rename the complete old table back live. The
    * streaming loop calls this at the top of every batch. */
  def healParked(path: String): Unit = Life.healParked(path)

  private[graft] def readMeta(path: String): Meta =
    Meta(Life.readMeta(path).int("generation"))

  private def writeBase(rows: DataFrame, path: String): Unit =
    Life.build(path)(stage =>
      rows.write.mode("overwrite").parquet(s"$stage/batch=$BaseBatch"))

  /** Build (or REBUILD — generation bumps, which starts a fresh batch
    * sequence at publish) the line table at `path` from `docs`. */
  def build(docs: DataFrame, path: String, textCol: String = "text",
      idCol: String = "doc_id"): Unit =
    writeBase(Dedup.lineDocFreqs(docs, textCol, idCol), path)

  /** Create an EMPTY artifact (schema-bearing base partition, no
    * counts) — the incremental entry point: a streaming loop creates
    * once, then lands EVERY batch through [[appendIdempotent]], so no
    * crash point can double-count and no heuristic has to guess
    * whether a standing table is residue or a legitimate rebuild.
    * Idempotent: an existing artifact is left untouched. */
  def create(spark: SparkSession, path: String): Unit = {
    Life.healParked(path)
    if (Life.exists(path)) return
    writeBase(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("line", StringType),
        StructField("df", LongType)))), path)
  }

  /** Land the batch's partial (line, df) rows at `lines/batch=<id>`
    * with OVERWRITE — replay-idempotent by construction: a crash
    * anywhere between the partition write and the watermark update
    * just makes the replay rewrite the same partition with identical
    * content. The monotonic watermark refuses STALE ids (`batchId`
    * ≤ the last committed one) so an already-[[compact]]ed batch can
    * never land twice; fresh ids must be ≥ 0 (the base partition is
    * reserved). Caller contract: the batch's doc ids are DISJOINT
    * from every doc already counted (df is additive only over
    * disjoint doc sets). Returns whether the batch was applied. */
  def appendIdempotent(docs: DataFrame, path: String, batchId: Long,
      textCol: String = "text", idCol: String = "doc_id"): Boolean = {
    require(batchId >= 0L,
      "[GRAFT] line index append: batchId must be >= 0")
    Life.appendIdempotent(path, batchId) {
      Dedup.lineDocFreqs(docs, textCol, idCol)
        .write.mode("overwrite").parquet(s"${Life.data(path)}/batch=$batchId")
    }
  }

  /** The MERGED corpus-wide (line, df) view — base + batch partials
    * folded by one read-side hash aggregate over slim rows. */
  def counts(spark: SparkSession, path: String): DataFrame = {
    readMeta(path)
    spark.read.parquet(Life.data(path))
      .groupBy(col("line")).agg(sum(col("df")).as("df"))
  }

  /** The boilerplate list at `minDocFreq` — [[Dedup.boilerplateLines]]
    * served from the standing table instead of a corpus recount. */
  def boilerplate(spark: SparkSession, path: String,
      minDocFreq: Long = 5L): DataFrame = {
    require(minDocFreq >= 2L,
      "[GRAFT] line index boilerplate: minDocFreq must be >= 2")
    counts(spark, path).filter(col("df") >= minDocFreq)
  }

  /** Strip `docs` against the standing table —
    * [[Dedup.stripBoilerplateWith]] with the merged boilerplate list:
    * one scan of `docs`, no corpus recount. `docs` may be the full
    * corpus (the batch re-clean after new boilerplate emerges) or a
    * fresh delta. */
  def strip(spark: SparkSession, path: String, docs: DataFrame,
      minDocFreq: Long = 5L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    Dedup.stripBoilerplateWith(docs,
      boilerplate(spark, path, minDocFreq), textCol, idCol)

  /** Should an ingest loop schedule [[compact]]? (A triggering batch
    * lists once here and once inside [[compact]] — one extra LIST per
    * compaction EVENT, not per batch; accepted.) */
  def needsCompaction(path: String, maxDataFiles: Int = 64): Boolean =
    Life.needsCompaction(path, maxDataFiles)

  /** Fold base + batch partials into one (line, df) row per line in
    * the BASE partition AND fix small-files growth (data-sized
    * width). Physical rewrite, metadata unchanged — read results are
    * identical before and after ([[counts]] merges on read;
    * compaction just pre-folds). The watermark survives, so a stale
    * replay of a folded batch is still refused. */
  def compact(spark: SparkSession, path: String): Unit =
    Life.compact(path) { stage =>
      spark.read.parquet(Life.data(path))
        .groupBy(col("line")).agg(sum(col("df")).as("df"))
        .repartition(ArtifactIo.compactWidth(Life.data(path)))
        .write.mode("overwrite").parquet(s"$stage/batch=$BaseBatch")
    }
}
