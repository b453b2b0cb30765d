package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted 64-bit signature table for INCREMENTAL media near-dup —
  * the fingerprint-family twin of [[LshTextIndex]]'s standing-artifact
  * story (text has the band table, embeddings have [[IvfIndex]]; this
  * covers every operator whose per-item print is one LONG: audio
  * energy-delta prints, video frame-intensity prints, text simhash).
  * [[graft.operators.Multimodal.audioNearDupPairs]] answers "which
  * assets duplicate each other?" but re-decodes and re-fingerprints
  * the ENTIRE corpus on every call — at 100 TB the corpus-side decode
  * pass dwarfs the nightly delta. Here the corpus pays it once:
  *
  *   - build: persist the corpus's SLIM (id, sig) rows — 8 bytes of
  *     signature per asset, media bytes never stored — plus a frozen
  *     `family` tag and generation in `_sig.json`.
  *   - append: add the delta's rows — cost ∝ batch, corpus untouched.
  *   - probe: band ONLY the delta ([[Dedup.sigBands]], the same 4×16
  *     derivation as the self-pair fold), hash-join it against the
  *     stored side's band projection, keep pairs with inline
  *     XOR+popcount hamming ≤ `maxHamming`. Pigeonhole over 4 bands:
  *     no false negatives for maxHamming ≤ 3, no false positives.
  *
  * The `family` tag freezes the FINGERPRINT DERIVATION in the
  * artifact (e.g. "audio-energy-w4", "video-intensity-f2"): a probe
  * or append with prints from a different kernel or parameterization
  * fails loudly instead of silently hamming-comparing apples to
  * oranges — the [[LshTextIndex]] frozen-banding-params stance
  * applied to the signature function itself.
  *
  * The bucket cap is applied to the STORED side at probe time over
  * the table as appended ([[Dedup.capBucketsAnti]] — two cheap scans
  * of the parquet artifact instead of shuffling every stored row
  * through a window), exactly the [[LshTextIndex.probe]] trade.
  * Delta-internal pairs are out of scope (run
  * [[graft.operators.Multimodal.audioNearDupPairs]] /
  * [[Dedup.simHashPairs]] on the delta) — matching the text probe's
  * semantics. Metadata rides INSIDE `sigs/` as `_sig.json` and every
  * rewrite follows the shared [[ArtifactIo.StandingIndex]] lifecycle
  * — no crash state mixes old and new rows.
  *
  * Reference anchor: the reference has no media pipeline at all
  * (vfs/src/vfs is vectors-only) — part of the training-data-pipeline
  * surface built beyond it. */
object SigIndex {
  case class Meta(family: String, generation: Int)

  private val Life = ArtifactIo.StandingIndex("sigs", "_sig.json",
    "sig index")

  private def requireFamilyToken(family: String): Unit =
    require(family.nonEmpty && family.matches("[A-Za-z0-9._-]+"),
      s"[GRAFT] sig index: family must be a simple token, got '$family'")

  /** Does an artifact exist at `path`? A parked crash state throws
    * instead of answering false. */
  def exists(path: String): Boolean = Life.exists(path)

  private[graft] def readMeta(path: String): Meta = {
    val m = Life.readMeta(path)
    Meta(m.str("family"), m.int("generation"))
  }

  private def requireFamily(m: Meta, family: String, op: String): Unit =
    require(m.family == family,
      s"[GRAFT] sig index $op: artifact holds '${m.family}' prints, " +
        s"caller supplied '$family' — fingerprint families must not " +
        "mix (re-derive the delta with the artifact's kernel, or " +
        "build a separate index)")

  private def slim(sigs: DataFrame): DataFrame = {
    require(Seq("id", "sig").forall(sigs.columns.contains),
      "[GRAFT] sig index: input must have (id, sig)")
    sigs.select(col("id"), col("sig").cast("long").as("sig"))
      .filter(col("id").isNotNull && col("sig").isNotNull)
  }

  /** Build (or REBUILD — generation bumps) the signature table at
    * `path` from (id, sig) rows, freezing `family`. */
  def build(sigs: DataFrame, path: String, family: String): Unit = {
    requireFamilyToken(family)
    val rows = slim(sigs)
    Life.build(path, "family" -> family)(
      rows.write.mode("overwrite").parquet(_))
  }

  /** Append delta (id, sig) rows. Cost ∝ batch; the standing table is
    * not read. Caller contract (as [[LshTextIndex.append]]): ids not
    * already indexed, prints from the artifact's `family` kernel.
    *
    * AT-LEAST-ONCE hazard: this plain append has no replay marker — a
    * retried/replayed call stores the same print twice. Probe results
    * stay correct (the post-join pair dedup collapses duplicates) but
    * the duplicate rows inflate their buckets toward `maxBucket` and
    * [[compact]] never collapses them. Replay-prone callers (retried
    * jobs, streaming foreachBatch outside
    * [[graft.streaming.Ingest.mediaDedupIngestStream]]'s own ledger)
    * should use [[appendIdempotent]]. */
  def append(sigs: DataFrame, path: String, family: String): Unit = {
    requireFamilyToken(family)
    requireFamily(readMeta(path), family, "append")
    slim(sigs).write.mode("append").parquet(Life.data(path))
  }

  /** [[append]] guarded by the shared append watermark
    * ([[ArtifactIo.StandingIndex]]): a replay of an already-committed
    * `batchId` is an exact no-op, so at-least-once drivers never
    * double-store a print. Only a crash INSIDE the append→marker
    * window can still duplicate (and the probe's post-join dedup
    * keeps even that from corrupting results). Returns whether the
    * batch was applied. */
  def appendIdempotent(sigs: DataFrame, path: String, family: String,
      batchId: Long): Boolean =
    Life.appendIdempotent(path, batchId)(append(sigs, path, family))

  /** Should an ingest loop schedule [[compact]]? Every [[append]]
    * adds a file set and probe latency grows with files listed; this
    * keys on ONE namenode listing (no data read) so the check is
    * cheap enough to run per batch — the [[IvfIndex.needsRebalance]]
    * self-scheduling pattern applied to small-files growth. */
  def needsCompaction(path: String, maxDataFiles: Int = 64): Boolean =
    Life.needsCompaction(path, maxDataFiles)

  /** Near-dups of `delta` prints against the indexed corpus:
    * (probe_id, corpus_id, hamming ≤ `maxHamming`). Both sides go
    * through the SAME band projection as the self-pair fold
    * ([[Dedup.sigBands]]); the stored side's CURRENT buckets are
    * capped at `maxBucket` ([[Dedup.capBucketsAnti]]); the hamming is
    * the codegen'd XOR+popcount, identical whichever band surfaces
    * the pair, so the post-join dedup is sound. */
  def probe(spark: SparkSession, path: String, delta: DataFrame,
      family: String, maxHamming: Int = 3,
      maxBucket: Int = 1000,
      storedSigs: Option[DataFrame] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "[GRAFT] sig index probe: 4-band blocking covers hamming <= 3")
    requireFamilyToken(family)
    requireFamily(readMeta(path), family, "probe")
    // storedSigs overrides the artifact read — the streaming ingest
    // loop passes a residue-scrubbed view of the same table
    // (Ingest.mediaDedupIngestStream), mirroring LshTextIndex.probe's
    // storedBands hook. Cap strategy follows capBucketsAnti's rescan
    // rule (see that probe's comment): anti-join form for the cheap
    // parquet artifact read, single-pass window cap for a derived
    // caller view whose derivation would otherwise run twice.
    val stored = storedSigs match {
      case Some(view) => Dedup.capBuckets(
        Dedup.sigBands(slim(view), "corpus_id")
          .withColumnRenamed("sig", "__cs"),
        maxBucket, Seq("band", "bval"))
      case None => Dedup.capBucketsAnti(
        Dedup.sigBands(spark.read.parquet(Life.data(path)), "corpus_id")
          .withColumnRenamed("sig", "__cs"),
        maxBucket, Seq("band", "bval"))
    }
    val probes = Dedup.sigBands(slim(delta), "probe_id")
      .withColumnRenamed("sig", "__ps")
    // pinned dedup width against AQE coalescing — the same stance as
    // LshTextIndex.probe
    WorkCols.dedupPairs(
      probes.join(stored, Seq("band", "bval"))
        .select(col("probe_id"), col("corpus_id"),
          bit_count(col("__ps").bitwiseXOR(col("__cs"))).cast("long")
            .as("hamming"))
        .filter(col("hamming") <= maxHamming),
      "probe_id", "corpus_id")
  }

  /** Hard-delete assets from the signature table — the takedown/GDPR
    * path completing the per-artifact delete family
    * ([[IvfIndex.deleteIds]] / [[LshTextIndex.deleteIds]] /
    * [[BinaryIndex.deleteIds]] / [[GramIndex.retire]]): a deleted
    * asset's print must never surface it as a probe candidate again.
    * One anti-join rewrite through the shared takedown
    * ([[ArtifactIo.StandingIndex]]: generation bumps, watermark
    * carried). `ids` are driver-sized by contract. Returns rows
    * removed. */
  def deleteIds(spark: SparkSession, path: String,
      ids: Seq[Any]): Long = {
    if (ids.isEmpty) return 0L
    Life.takedown(path) { stage =>
      val rows = spark.read.parquet(Life.data(path))
      val removed = rows.filter(col("id").isin(ids: _*)).count()
      rows.filter(!col("id").isin(ids: _*))
        .write.mode("overwrite").parquet(stage)
      removed
    }
  }

  /** Rewrite the table into one file set — each [[append]] adds
    * files and probe latency grows with files listed. Physical
    * rewrite, metadata unchanged ([[LshTextIndex.compact]]). */
  def compact(spark: SparkSession, path: String): Unit =
    Life.compact(path) { stage =>
      spark.read.parquet(Life.data(path))
        .repartition(ArtifactIo.compactWidth(Life.data(path)))
        .write.mode("overwrite").parquet(stage)
    }
}
