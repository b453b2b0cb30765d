package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Persisted SEEN-URL set for incremental URL-keyed dedup — the
  * standing-artifact story ([[LshTextIndex]] for text near-dup,
  * [[GramIndex]] for substrings, [[SigIndex]] for media prints,
  * [[LineIndex]] for boilerplate counts) applied to
  * [[WebCuration.urlDedup]]: a nightly crawl batch only needs "which
  * of these fetches is a page we already have" — one ANTI JOIN of the
  * delta against the stored keys, never a corpus rescan.
  *
  * Stored rows are the NORMALIZED urls themselves
  * ([[WebCuration.normalizeUrl]] — the dedup identity), not their
  * hashes: a 64-bit hash ledger at 10^10 urls carries birthday
  * collisions that silently DROP distinct pages, and parquet string
  * columns dictionary-compress canonical urls well. Unaddressable
  * rows (keys that normalize to NULL) are never stored and always
  * pass [[filterNew]] — a fetch with no URL identity cannot be a
  * duplicate of one.
  *
  * Layout is batch-ADDRESSED like [[LineIndex]]: [[appendIdempotent]]
  * lands the batch's distinct keys at `urls/batch=<id>` with
  * OVERWRITE — cost ∝ batch (the standing table is not read on
  * append, so a key seen in an earlier batch may recur in a later
  * partition; presence semantics absorb that, and [[compact]] folds
  * the partitions to one distinct set). A replay at ANY crash point
  * rewrites the same partition with identical content; the append
  * watermark refuses STALE batch ids so an already-compacted batch
  * can never re-land.
  *
  * Takedown ([[deleteUrls]]): keys ARE the rows, so subtraction is
  * well-defined here (unlike [[LineIndex]]'s counted lines) — an
  * anti-join rewrite folding to the base partition. After a takedown
  * the removed pages are NEW again by design — a re-crawl re-admits
  * them.
  *
  * Metadata rides INSIDE `urls/` as `_urls.json`; every rewrite
  * follows the shared [[ArtifactIo.StandingIndex]] lifecycle — no
  * crash state mixes old and new rows.
  *
  * Reference anchor: none (vfs/src/vfs is vectors-only) — part of the
  * training-data-pipeline surface built beyond the reference. */
object UrlIndex {
  case class Meta(generation: Int)

  private val Life = ArtifactIo.StandingIndex("urls", "_urls.json",
    "url index")

  /** [[build]]'s corpus keys and [[compact]]'s folded rows live here;
    * [[appendIdempotent]] requires batch ids ≥ 0, so the base can
    * never collide with a landed batch. */
  private val BaseBatch = -1L

  /** Does an artifact exist at `path`? A parked crash state throws
    * instead of answering false. */
  def exists(path: String): Boolean = Life.exists(path)

  /** Heal a crash parked mid-swap (compact, delete, or rebuild died
    * between its two renames): rename the complete old table back
    * live. Ingest loops call this at the top of every batch. */
  def healParked(path: String): Unit = Life.healParked(path)

  private[graft] def readMeta(path: String): Meta =
    Meta(Life.readMeta(path).int("generation"))

  /** The batch's distinct NORMALIZED keys (null keys dropped). */
  private def keysOf(docs: DataFrame, urlCol: String): DataFrame =
    docs.select(WebCuration.normalizeUrl(col(urlCol)).as("url"))
      .filter(col("url").isNotNull).distinct()

  private def writeBase(rows: DataFrame, path: String): Unit =
    Life.build(path)(stage =>
      rows.write.mode("overwrite").parquet(s"$stage/batch=$BaseBatch"))

  /** Build (or REBUILD — generation bumps, which starts a fresh batch
    * sequence at publish) the seen set from a corpus. */
  def build(docs: DataFrame, path: String,
      urlCol: String = "url"): Unit =
    writeBase(keysOf(docs, urlCol), path)

  /** Create an EMPTY artifact — the incremental entry point
    * ([[LineIndex.create]] rationale: a loop that creates empty and
    * lands every batch through [[appendIdempotent]] never needs a
    * residue-vs-rebuilt heuristic). Idempotent. */
  def create(spark: SparkSession, path: String): Unit = {
    Life.healParked(path)
    if (Life.exists(path)) return
    writeBase(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("url", StringType)))), path)
  }

  /** Land the batch's distinct keys at `urls/batch=<id>` with
    * OVERWRITE — replay-idempotent by construction (a crash between
    * the partition write and the watermark just makes the replay
    * rewrite identical content); stale ids are refused. The standing
    * table is NOT read — cost ∝ batch; cross-batch recurrences of a
    * key are absorbed by presence semantics and folded by
    * [[compact]]. Returns whether the batch was applied. */
  def appendIdempotent(docs: DataFrame, path: String, batchId: Long,
      urlCol: String = "url"): Boolean = {
    require(batchId >= 0L,
      "[GRAFT] url index append: batchId must be >= 0")
    Life.appendIdempotent(path, batchId) {
      keysOf(docs, urlCol).write.mode("overwrite")
        .parquet(s"${Life.data(path)}/batch=$batchId")
    }
  }

  /** Has `batchId` already been committed under the CURRENT
    * generation? Ingest loops use this to skip a replayed batch
    * WHOLESALE: the watermark only advances after the batch's doc
    * partition landed (commit order), so a committed batch's outputs
    * are complete — and recomputing them after [[compact]] has folded
    * the batch's keys into the base partition would probe against the
    * batch's OWN keys (the `excludeBatch` mask no longer covers them)
    * and overwrite the landed docs with an empty set. */
  def isCommitted(path: String, batchId: Long): Boolean =
    Life.isCommitted(path, batchId)

  /** The stored key set (with its `batch` address column). */
  def stored(spark: SparkSession, path: String): DataFrame = {
    readMeta(path)
    spark.read.parquet(Life.data(path))
  }

  /** `docs` whose normalized URL is NOT in the seen set — ONE LEFT
    * ANTI join of the delta against slim stored keys. Rows whose URL
    * normalizes to NULL always pass (no dedup identity).
    * `excludeBatch` masks one landed partition from the probe — the
    * ingest loop probes "everything except my own batch" so a replay
    * after its append landed still computes the same survivors. */
  def filterNew(spark: SparkSession, path: String, docs: DataFrame,
      urlCol: String = "url",
      excludeBatch: Long = Long.MinValue): DataFrame = {
    WorkCols.requireFree(docs, "__nu")
    val seen = stored(spark, path)
      .filter(col("batch") =!= lit(excludeBatch))
      .select(col("url").as("__seen"))
    docs.withColumn("__nu", WebCuration.normalizeUrl(col(urlCol)))
      .join(seen, col("__nu") === col("__seen"), "left_anti")
      .drop("__nu")
  }

  /** Remove keys (matched AFTER normalizing both sides) — the
    * takedown rewrite ([[ArtifactIo.StandingIndex]]: generation bump,
    * watermark carried): fold every partition minus the removed keys
    * into the base. Returns rows removed (> |urls| when cross-batch
    * recurrences existed — every copy goes). */
  def deleteUrls(spark: SparkSession, path: String,
      urls: Seq[String]): Long = {
    require(urls.nonEmpty, "[GRAFT] url index delete: empty url list")
    import spark.implicits._
    val gone = keysOf(urls.toDF("u"), "u")
      .select(col("url").as("__gone"))
    Life.takedown(path) { stage =>
      val rows = spark.read.parquet(Life.data(path))
      val removed = rows.join(gone, col("url") === col("__gone"),
        "left_semi").count()
      rows.join(gone, col("url") === col("__gone"), "left_anti")
        .select(col("url")).distinct()
        .repartition(ArtifactIo.compactWidth(Life.data(path)))
        .write.mode("overwrite").parquet(s"$stage/batch=$BaseBatch")
      removed
    }
  }

  /** Should an ingest loop schedule [[compact]]? */
  def needsCompaction(path: String, maxDataFiles: Int = 64): Boolean =
    Life.needsCompaction(path, maxDataFiles)

  /** Fold all partitions into one DISTINCT key set in the base
    * partition at data-sized width. Physical rewrite, metadata
    * unchanged — probe results identical before and after; the
    * watermark survives, so a stale replay of a folded batch is still
    * refused. */
  def compact(spark: SparkSession, path: String): Unit =
    Life.compact(path) { stage =>
      spark.read.parquet(Life.data(path))
        .select(col("url")).distinct()
        .repartition(ArtifactIo.compactWidth(Life.data(path)))
        .write.mode("overwrite").parquet(s"$stage/batch=$BaseBatch")
    }
}
