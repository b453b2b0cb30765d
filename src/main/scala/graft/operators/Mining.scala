package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Margin-based embedding pair mining — the standard large-scale
  * parallel-data construction step (Artetxe & Schwenk 2019, the
  * CCMatrix/LASER recipe): align two embedding collections by
  * RELATIVE similarity instead of absolute cosine, which is what
  * makes mining robust to hubness at corpus scale.
  *
  * For a source row x and target row y, the "ratio" margin is
  *
  *   margin(x, y) = cos(x, y) / ((avgNNk(x, tgt) + avgNNk(y, src)) / 2)
  *
  * where avgNNk(v, C) is the mean cosine of v's k nearest neighbors
  * in collection C. A pair is mined when y is x's best-margin
  * forward candidate and the margin clears a threshold.
  *
  * ENGINE-PORTABLE ARITHMETIC: per-neighbor similarities are
  * quantized to MICRO units (round(sim·10⁶) as BIGINT) BEFORE any
  * aggregation, so the k-neighbor sums are exact integers with no
  * float summation-order hazard (Spark's partial aggregation and an
  * oracle's scan order cannot disagree). The margin then reduces to
  * ONE pinned double chain over integers:
  *
  *   margin_milli = round(2000·sim_micro
  *                        / (fwdSum/fwdN + bwdSum/bwdN))
  *
  * (from margin = 2·sim / (avgF + avgB) with avg = sum/(n·10⁶)).
  * Each side divides by its ACTUAL neighbor count, not k: a
  * collection with fewer than k rows yields shorter neighborhoods,
  * and dividing by k there would inflate every margin relative to
  * the paper's neighborhood average. When both counts equal k the
  * chain is value-identical to the 2000·k·sim/(fwdSum+bwdSum) form
  * (micro sums stay exact in double, so the rewrite is exact).
  *
  * SCALE: the exact form rides [[Knn.exactBatch]] — a byte-gated
  * broadcast of the query side and the bounded partial top-k
  * aggregate ([[TopKAggregate]]), i.e. one pass over each collection
  * per direction with no shuffle of the cross product. The backward
  * pass scores ONLY targets that appear among forward candidates
  * (≤ k·|src| rows, usually far fewer), not the whole target side.
  * At 100 TB both directions swap to [[marginPairsIvf]]: the same
  * margin over the top-k of a persisted partition-pruned IVF
  * artifact per side — candidate generation touches nProbe clusters
  * per query instead of the full collection, and with
  * nProbe = nCentroids it degrades gracefully to the exact result
  * (spec-pinned parity).
  */
object Mining {

  /** Every forward top-k candidate with its margin:
    * (src_id, tgt_id, sim_micro, margin_milli, cand_rank) where
    * cand_rank ranks a source's candidates by margin (desc,
    * tgt_id asc — deterministic). Rows with a non-positive margin
    * denominator (pathological all-negative neighborhoods) are
    * dropped rather than given a sign-flipped margin. */
  def marginCandidates(spark: SparkSession, src: DataFrame,
      tgt: DataFrame, k: Int = 4, idCol: String = "id",
      vecCol: String = "values"): DataFrame = {
    require(k > 0, "[GRAFT] mining: k must be positive")
    val srcQ = src.select(col(idCol).as("qid"), col(vecCol).as("qvalues"))
    val tgtBase = tgt.select(col(idCol).as("id"), col(vecCol).as("values"))
    val srcBase = src.select(col(idCol).as("id"), col(vecCol).as("values"))
    mineCore(
      simMicro(Knn.exactBatch(tgtBase, srcQ, k, Metric.Cosine)),
      tgtBase,
      q => simMicro(Knn.exactBatch(srcBase, q, k, Metric.Cosine)))
  }

  /** The mined pairs: each source's best-margin candidate, kept when
    * margin_milli ≥ `minMarginMilli` (1000 = margin 1.0, the paper's
    * natural "better than your neighborhood average" floor). Output:
    * (src_id, tgt_id, sim_micro, margin_milli). */
  def marginPairs(spark: SparkSession, src: DataFrame, tgt: DataFrame,
      k: Int = 4, minMarginMilli: Long = 1000L, idCol: String = "id",
      vecCol: String = "values"): DataFrame = {
    require(k > 0, "[GRAFT] mining: k must be positive")
    val srcQ = src.select(col(idCol).as("qid"), col(vecCol).as("qvalues"))
    val tgtBase = tgt.select(col(idCol).as("id"), col(vecCol).as("values"))
    val srcBase = src.select(col(idCol).as("id"), col(vecCol).as("values"))
    // bestPairs runs INSIDE mineCore (its `finish` hook) so only the
    // ≤ |src| mined rows are materialized, not the k·|src| candidates
    mineCore(
      simMicro(Knn.exactBatch(tgtBase, srcQ, k, Metric.Cosine)),
      tgtBase,
      q => simMicro(Knn.exactBatch(srcBase, q, k, Metric.Cosine)),
      finish = bestPairs(_, minMarginMilli))
  }

  /** IVF-backed twin of [[marginPairs]] for collections too large to
    * brute-force: `srcPath`/`tgtPath` are persisted [[IvfIndex]]
    * artifacts built over the SAME (id, values) rows passed here
    * (cosine metric). The artifacts generate CANDIDATES only (nProbe
    * clusters per query); every candidate is then re-scored exactly
    * against the raw frames — the ADC/refine shape — because for
    * cosine the artifact stores L2-NORMALIZED vectors, whose
    * distances ulp-differ from the raw kernel and would leak into
    * the micro quantization. Which k candidates surface is
    * approximate in exactly the nProbe way; their scores are exact.
    * With nProbe = nCentroids the candidate sets match the exact
    * path's up to one degenerate tie (two raw vectors on the SAME
    * ray quantize to one normalized copy, so an ulp-distinct raw
    * pair can tie at the k boundary inside the artifact) — absent
    * colinear duplicates, full-probe output equals [[marginPairs]]
    * bit-for-bit (spec-pinned). Both artifacts must be cosine-metric;
    * anything else fails loudly up front. */
  def marginPairsIvf(spark: SparkSession, srcPath: String,
      tgtPath: String, src: DataFrame, tgt: DataFrame, k: Int = 4,
      nProbe: Int = 4, minMarginMilli: Long = 1000L,
      idCol: String = "id", vecCol: String = "values"): DataFrame = {
    require(k > 0, "[GRAFT] mining: k must be positive")
    requireCosine(srcPath); requireCosine(tgtPath)
    val srcQ = src.select(col(idCol).as("qid"), col(vecCol).as("qvalues"))
    val tgtBase = tgt.select(col(idCol).as("id"), col(vecCol).as("values"))
    val srcBase = src.select(col(idCol).as("id"), col(vecCol).as("values"))
    mineCore(
      rescore(IvfIndex.searchBatch(spark, tgtPath, srcQ, k, nProbe),
        tgtBase, srcQ),
      tgtBase,
      q => rescore(IvfIndex.searchBatch(spark, srcPath, q, k, nProbe),
        srcBase, q),
      finish = bestPairs(_, minMarginMilli))
  }

  /** The INTERSECTION strategy — the paper's highest-precision
    * variant: keep a pair only when each side is the other's
    * best-margin candidate (both clearing the floor). The margin is
    * direction-SYMMETRIC (margin(x,y) = 2·sim / (avgNNk(x,tgt) +
    * avgNNk(y,src)) reads the same both ways), so this composes as
    * the two directional [[marginPairs]] runs joined on mutuality —
    * no new arithmetic to keep portable. */
  def marginPairsMutual(spark: SparkSession, src: DataFrame,
      tgt: DataFrame, k: Int = 4, minMarginMilli: Long = 1000L,
      idCol: String = "id", vecCol: String = "values"): DataFrame = {
    val fwd = marginPairs(spark, src, tgt, k, minMarginMilli,
      idCol, vecCol)
    val bwd = marginPairs(spark, tgt, src, k, minMarginMilli,
        idCol, vecCol)
      .select(col("tgt_id").as("m_src"), col("src_id").as("m_tgt"))
    fwd.join(bwd, col("src_id") === col("m_src") &&
        col("tgt_id") === col("m_tgt"))
      .select(col("src_id"), col("tgt_id"), col("sim_micro"),
        col("margin_milli"))
  }

  /** Delta form for the nightly-alignment loop: mine an incoming
    * BATCH of source vectors against a STANDING target IVF artifact
    * built over `tgt`. Forward candidates probe the artifact (nProbe
    * clusters per query, cost ∝ batch) and re-score exactly against
    * the raw `tgt` rows (the artifact stores normalized vectors for
    * cosine — see [[marginPairsIvf]]); backward neighborhoods are
    * over the batch itself — source neighborhoods in delta mining
    * are defined over the arriving shard, and a shard is small
    * enough to brute-force ([[Knn.exactBatch]] with the batch as the
    * base side). With nProbe = nCentroids this equals
    * [[marginPairs]](batch, tgt) bit-for-bit. */
  def marginPairsDelta(spark: SparkSession, tgtPath: String,
      tgt: DataFrame, batch: DataFrame, k: Int = 4, nProbe: Int = 4,
      minMarginMilli: Long = 1000L, idCol: String = "id",
      vecCol: String = "values"): DataFrame = {
    require(k > 0, "[GRAFT] mining: k must be positive")
    requireCosine(tgtPath)
    val srcQ = batch.select(col(idCol).as("qid"), col(vecCol).as("qvalues"))
    val tgtBase = tgt.select(col(idCol).as("id"), col(vecCol).as("values"))
    val srcBase = batch.select(col(idCol).as("id"),
      col(vecCol).as("values"))
    // STREAMING-SAFE: this method runs once per micro-batch inside
    // marginMineStream's foreachBatch, where a leaked DataFrame-level
    // persist would register one CacheManager plan entry per batch
    // FOREVER. mineCore unpersists its candidate cache before it
    // returns, so nothing outlives the call.
    mineCore(
      rescore(IvfIndex.searchBatch(spark, tgtPath, srcQ, k, nProbe),
        tgtBase, srcQ),
      tgtBase,
      q => simMicro(Knn.exactBatch(srcBase, q, k, Metric.Cosine)),
      finish = bestPairs(_, minMarginMilli))
  }

  /** The ONE mining pipeline all entry points share — they differ
    * only in candidate generation. The forward-scored candidates are
    * PERSISTED (they feed the margin join, the per-source sums, AND
    * the backward query list — 3 consumers; the candidate scan must
    * not rerun per consumer); backward sums score ONLY the targets
    * that surfaced as forward candidates — at scale that is the slim
    * candidate set, never the whole target side.
    *
    * Cache lifetime: the candidate persist lives only inside this
    * call. The pipeline runs its one job here and returns
    * `localCheckpoint()` of the finished rows; the candidates are
    * unpersisted in the `finally` of the same scope, so nothing is
    * left in the CacheManager when the operator returns, on success
    * or failure. The operator is therefore EAGER (the mining TVFs run
    * it when the statement is analyzed). The candidate searches are
    * eager too ([[Knn.exactBatch]] and [[IvfIndex.searchBatch]] return
    * their checkpointed top-k); the candidates derived from them stay
    * a plain persist for the three consumers above. `finish` is each
    * entry point's final projection (bestPairs for the pair APIs,
    * identity for the all-candidates API). */
  private def mineCore(fwd0: DataFrame, tgtBase: DataFrame,
      bwdScore: DataFrame => DataFrame,
      finish: DataFrame => DataFrame = identity): DataFrame = {
    val fwd = fwd0.persist()
    try {
      val fwdSum = fwd.groupBy(col("qid"))
        .agg(sum(col("sim_micro")).as("fwd_sum"),
          count(lit(1)).as("fwd_n"))
      val candTgt = fwd.select(col("id")).distinct()
        .join(tgtBase, "id")
        .select(col("id").as("qid"), col("values").as("qvalues"))
      val bwdSum = bwdScore(candTgt)
        .groupBy(col("qid"))
        .agg(sum(col("sim_micro")).as("bwd_sum"),
          count(lit(1)).as("bwd_n"))
        .select(col("qid").as("bwd_id"), col("bwd_sum"), col("bwd_n"))
      finish(withMargin(fwd, fwdSum, bwdSum)).localCheckpoint()
    } finally fwd.unpersist()
  }

  /** The margin arithmetic is cosine — probing an artifact built
    * with another metric would silently mine wrong neighborhoods. */
  private def requireCosine(path: String): Unit = {
    val m = IvfIndex.readMeta(path).metric
    require(Metric.parse(m) == Metric.Cosine,
      s"[GRAFT] mining: IVF artifact at $path was built with metric " +
        s"'$m' — margin mining is cosine-only")
  }

  /** sim_micro = round((1 − distance)·10⁶): the one similarity
    * quantization both directions and the oracle share. The (1 − d)
    * form matches the engine's cosine DISTANCE convention — the
    * oracle must reproduce this exact chain, not dot/(‖a‖‖b‖)
    * directly. */
  private def simMicro(topk: DataFrame): DataFrame =
    topk.select(col("qid"), col("id"),
      round((lit(1.0) - col("distance")) * lit(1000000.0))
        .cast("long").as("sim_micro"))

  /** Exact re-scoring of index-generated candidates: keep only the
    * (qid, id) pairs and recompute the cosine from the RAW frames
    * with the same kernel the exact path uses — candidate selection
    * stays approximate, the scores feeding the margin never are. The
    * candidate set is k·|queries| slim rows; both joins hash on it. */
  private def rescore(cand: DataFrame, base: DataFrame,
      queries: DataFrame): DataFrame =
    simMicro(cand.select(col("qid"), col("id"))
      .join(base, "id")
      .join(queries, "qid")
      .select(col("qid"), col("id"),
        Metric.Cosine.dist(col("values"), col("qvalues"))
          .as("distance")))

  private def withMargin(fwd: DataFrame, fwdSum: DataFrame,
      bwdSum: DataFrame): DataFrame = {
    // per-side AVERAGES, each over its actual neighbor count: micro
    // sums are exact in double (≤ k·10⁶ ≪ 2^53), so the two divisions
    // and the add are one portable IEEE chain the oracle reproduces
    val denom = col("fwd_sum") / col("fwd_n") +
      col("bwd_sum") / col("bwd_n")
    fwd.join(fwdSum, "qid")
      .join(bwdSum, col("id") === col("bwd_id"))
      .select(col("qid").as("src_id"), col("id").as("tgt_id"),
        col("sim_micro"),
        when(denom > 0,
          round(lit(2000.0) * col("sim_micro") / denom)
            .cast("long"))
          .as("margin_milli"))
      .filter(col("margin_milli").isNotNull)
      .withColumn("cand_rank",
        row_number().over(Window.partitionBy(col("src_id"))
          .orderBy(col("margin_milli").desc, col("tgt_id").asc)))
  }

  private def bestPairs(cands: DataFrame,
      minMarginMilli: Long): DataFrame =
    cands.filter(col("cand_rank") === 1 &&
        col("margin_milli") >= minMarginMilli)
      .select(col("src_id"), col("tgt_id"), col("sim_micro"),
        col("margin_milli"))
}
