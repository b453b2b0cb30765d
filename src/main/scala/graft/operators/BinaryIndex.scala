package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{vfs_binary_quantize, vfs_euclidean, vfs_hamming}

/** Persisted 1-bit (sign-quantized) sidecar — the binary Hamming
  * coarse tier as a STANDING artifact. The scan form
  * (`q_binary_hamming_knn` in [[graft.SparkEntry]]) re-packs the full
  * float embedding column on every query; at 100 TB that pack is
  * wasted per-query compute and the scan reads 32× more bytes than
  * the tier needs (4 bytes/dim of float vs 1 bit/dim packed). Here
  * the corpus pays the pack once:
  *
  *   - build: (id, packed ARRAY<BIGINT>) parquet under `packed/` —
  *     1 bit per dimension, 64 dims per word — with `_binary.json`
  *     (dim, generation) RIDING INSIDE the directory so the staged
  *     publish/swap moves data and metadata in one atomic rename
  *     (the [[GramIndex]] crash-atomicity stance: a dim-changing
  *     rebuild can never leave new-dim words under old-dim metadata).
  *   - append: pack the delta only — cost ∝ delta.
  *   - candidates: scan ONLY the sidecar (id + packed columns, one
  *     XOR+popcount per 64 dims inside whole-stage codegen, the same
  *     [[graft.functions.HammingDist]] kernel), TakeOrdered the
  *     (ham, id) top-n — the 32×-cheaper coarse cut.
  *   - search: broadcast the tiny candidate set back into the
  *     full-vector table and re-rank the survivors exactly — the
  *     full floats are read for n rows' worth of join hits, never
  *     distance-scored corpus-wide.
  *
  * Extends the reference's storage-codec family (int8 quantize,
  * vfs/src/vfs/vector.rs:94-154) one level coarser, as a standing
  * index artifact like [[IvfIndex]]. `dim` is frozen in the artifact:
  * a query of the wrong dimension fails loudly (Q7 stance). */
object BinaryIndex {
  case class Meta(dim: Int, generation: Int)

  private val Life = ArtifactIo.StandingIndex("packed", "_binary.json",
    "binary index")

  private[graft] def readMeta(path: String): Meta = {
    val m = Life.readMeta(path)
    Meta(m.int("dim"), m.int("generation"))
  }

  /** The sidecar row shape — ONE derivation shared by [[build]] and
    * [[append]], so stored words can never diverge from the probe's
    * packing (the query side packs with the same
    * [[graft.functions.BinaryQuantizeVec]] kernel). The frozen-dim
    * guard rides INSIDE the pack projection (`raise_error` branch),
    * so enforcement costs zero extra passes over the input — dims
    * differing by less than a 64-bit word would otherwise pack to
    * the SAME word count and never trip the probe-time Hamming
    * check. */
  private def packedRows(df: DataFrame, idCol: String,
      vecCol: String, dim: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      // a whole-NULL vector stores packed=NULL (tolerated — the
      // candidates() NULL filter keeps it out of every probe), it
      // must NOT fall into the raise_error branch: size(NULL) is
      // NULL, so without this branch the row would throw with a
      // NULL-concat (message-less) error
      when(col(vecCol).isNull, lit(null).cast("array<bigint>"))
        .when(size(col(vecCol)) === lit(dim),
          vfs_binary_quantize(col(vecCol)))
        .otherwise(raise_error(concat(
          lit("[GRAFT] binary index: vector dim "),
          size(col(vecCol)).cast("string"),
          lit(s" != frozen $dim")))).as("packed"))

  /** Build (or REBUILD — generation bumps) the sidecar at `path`.
    * One distributed pack pass; `dim` is probed with one min/max agg
    * and frozen in the artifact (non-uniform input dims fail the
    * build — mixed-dim Hamming would compare different paddings). */
  def build(df: DataFrame, path: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    // probe dims over NON-NULL vectors only: packedRows deliberately
    // stores packed=NULL for whole-NULL vectors, and under
    // spark.sql.legacy.sizeOfNull=true size(NULL) is -1, which would
    // fail the uniform-dims check for a corpus this layer tolerates
    val d = df.filter(col(vecCol).isNotNull)
      .agg(min(size(col(vecCol))).as("lo"),
        max(size(col(vecCol))).as("hi")).head()
    require(!d.isNullAt(0),
      "[GRAFT] binary index: empty input (no non-null vectors)")
    require(d.getInt(0) == d.getInt(1),
      s"[GRAFT] binary index: non-uniform dims ${d.getInt(0)}..${d.getInt(1)}")
    val dim = d.getInt(0)
    require(dim > 0, "[GRAFT] binary index: empty vectors")
    Life.build(path, "dim" -> dim)(
      packedRows(df, idCol, vecCol, dim).write.mode("overwrite").parquet(_))
  }

  /** Pack and append the delta's rows — ONE pass, cost ∝ delta; the
    * standing table is not read. The frozen-dim guard runs inside
    * the pack projection ([[packedRows]]) and fails the whole append
    * job loudly before any file commits.
    *
    * AT-LEAST-ONCE hazard: this plain append has no replay marker —
    * a retried/replayed call stores the same id twice. [[candidates]]
    * collapses duplicates post-cut (an id can never occupy two top-n
    * slots), but each stored duplicate can shrink the DISTINCT
    * candidate count below `n`. Replay-prone callers (streaming
    * foreachBatch, retried jobs) should use [[appendIdempotent]]. */
  def append(df: DataFrame, path: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val m = readMeta(path)
    packedRows(df, idCol, vecCol, m.dim)
      .write.mode("append").parquet(Life.data(path))
  }

  /** [[append]] guarded by the shared append watermark
    * ([[ArtifactIo.StandingIndex]]): a replay of an already-committed
    * `batchId` is an exact no-op, so at-least-once drivers never
    * double-store a vector. Only a crash INSIDE the append→marker
    * window can still duplicate (and [[candidates]]' post-cut
    * collapse keeps even that from corrupting results). Returns
    * whether the batch was applied. */
  def appendIdempotent(df: DataFrame, path: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Boolean =
    Life.appendIdempotent(path, batchId)(append(df, path, idCol, vecCol))

  /** Hard-delete vectors from the sidecar — the takedown/GDPR path
    * ([[IvfIndex.deleteIds]]'s binary-tier twin): a deleted vector's
    * packed signs must never surface it as a Hamming candidate again.
    * One anti-join rewrite against the (driver-sized, by contract)
    * deletion batch through the shared takedown
    * ([[ArtifactIo.StandingIndex]]: a crash leaves either the old
    * sidecar or the new one, generation bumps, watermark carried, so
    * replays can never resurrect a deleted id). The sidecar is one
    * flat table (not id-partitioned — it exists to be scanned whole
    * by every coarse cut), so a delete is a full physical rewrite;
    * batch deletions amortize like compactions. `dim` stays frozen.
    * Single-writer maintenance op. Returns the number of sidecar rows
    * removed (can exceed |ids| after plain-append replays — every
    * stored duplicate goes). */
  def deleteIds(spark: SparkSession, path: String,
      ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    val idSeq = ids.distinct
    Life.takedown(path) { stage =>
      val packed = spark.read.parquet(Life.data(path))
      val removed = packed.filter(col("id").isin(idSeq: _*)).count()
      packed.filter(!col("id").isin(idSeq: _*))
        .write.mode("overwrite").parquet(stage)
      removed
    }
  }

  /** Coarse tier: (id, ham) of the `n` nearest sidecar rows by
    * (Hamming, id) — reads ONLY the packed words (column-pruned
    * scan, 32× fewer bytes than the float column), scores inside
    * whole-stage codegen, cuts with TakeOrderedAndProject. */
  def candidates(spark: SparkSession, path: String, q: Array[Float],
      n: Int = 50): DataFrame = {
    val m = readMeta(path)
    require(q.length == m.dim,
      s"[GRAFT] binary index: query dim ${q.length} != frozen ${m.dim}")
    require(n > 0, "[GRAFT] binary index: n must be positive")
    val qPacked = graft.functions.BinaryQuantMath.packFloats(q)
    // NULL-safe: a row whose packing was NULL (null vector element)
    // can never be a candidate — and Spark's default ascending sort
    // is NULLS FIRST, which would otherwise park such rows at the
    // TOP of every candidate list
    // the corpus-wide cut stays a TakeOrderedAndProject, OVER-FETCHED
    // to 2n slots: a replayed plain append() can store an id twice,
    // and with a bare n-cut each stored duplicate would evict one
    // DISTINCT candidate (silently shrinking two-tier probe recall —
    // callers of probe()/search() cannot compensate). Fetching 2n,
    // collapsing duplicates, and re-cutting to n returns n distinct
    // ids unless more than HALF the top-2n slots are duplicates (a
    // store that degraded is past compaction anyway, and a rebuild
    // resets it). Duplicate-free stores are unchanged: top-2n
    // distinct re-cut to n ≡ top-n.
    val overFetch = math.min(2L * n, Int.MaxValue.toLong).toInt
    spark.read.parquet(Life.data(path))
      .select(col("id"),
        vfs_hamming(col("packed"), typedLit(qPacked.toSeq)).as("ham"))
      .filter(col("ham").isNotNull)
      .orderBy(col("ham").asc, col("id").asc)
      .limit(overFetch)
      .groupBy(col("id")).agg(min(col("ham")).as("ham"))
      .orderBy(col("ham").asc, col("id").asc)
      .limit(n)
  }

  /** Full two-tier probe: coarse Hamming candidates from the sidecar,
    * exact euclidean re-rank of the survivors against `full` (the
    * float-vector table). The candidate set broadcasts (n rows), so
    * the full table contributes one hash-probe per row and computes
    * exact distances for n rows only. Returns (idCol, ham, dist)
    * ordered by (dist, id), k rows. */
  def search(spark: SparkSession, path: String, full: DataFrame,
      q: Array[Float], k: Int, nCandidates: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && k <= nCandidates,
      s"[GRAFT] binary index: need 0 < k <= nCandidates, got k=$k, " +
        s"nCandidates=$nCandidates")
    val cand = candidates(spark, path, q, nCandidates)
    full.join(broadcast(cand), full(idCol) === cand("id"))
      .select(full(idCol), col("ham"),
        vfs_euclidean(col(vecCol), typedLit(q.toSeq)).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Rewrite the sidecar into one file set AND collapse plain-append
    * duplicate ids (keeping one packed row per id — stored duplicates
    * only ever come from replayed appends of the SAME vector, so any
    * survivor is correct): every [[append]] adds files and the
    * coarse cut scans them all. Physical rewrite, metadata unchanged
    * ([[SigIndex.compact]]'s sidecar twin). */
  def compact(spark: SparkSession, path: String): Unit =
    Life.compact(path) { stage =>
      spark.read.parquet(Life.data(path))
        .groupBy(col("id")).agg(min(col("packed")).as("packed"))
        .repartition(ArtifactIo.compactWidth(Life.data(path)))
        .write.mode("overwrite").parquet(stage)
    }

  /** Should an ingest loop schedule [[compact]]? Keys on ONE namenode
    * listing of the sidecar's data files (no data read), so the check
    * is cheap enough to run per batch — the
    * [[IvfIndex.needsRebalance]] self-scheduling pattern applied to
    * small-files growth. */
  def needsCompaction(path: String, maxDataFiles: Int = 64): Boolean =
    Life.needsCompaction(path, maxDataFiles)
}
