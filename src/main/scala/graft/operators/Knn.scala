package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{vfs_cosine, vfs_euclidean}
import graft.store.VfsStore

/** Distance metric dispatch — the reference's `DistanceMethod` enum
  * incl. the `simd_*` aliases (vfs/src/vfs/rank.rs:61-72; parsed at
  * tcp.rs:388-394). SIMD variants are numerically identical to their
  * scalar twins (SURVEY §1.7), so both parse to the same expression —
  * Spark's whole-stage codegen is the vectorization.
  */
sealed trait Metric {
  def dist(a: Column, b: Column): Column
  /** The name persisted in index sidecars; [[Metric.parse]] reads it. */
  def name: String
}
object Metric {
  case object Euclidean extends Metric {
    def dist(a: Column, b: Column): Column = vfs_euclidean(a, b)
    def name: String = "euclidean"
  }
  case object Cosine extends Metric {
    def dist(a: Column, b: Column): Column = vfs_cosine(a, b)
    def name: String = "cosine"
  }
  /** default euclidean, matching tcp.rs:388-394 */
  def parse(s: String): Metric = s.toLowerCase match {
    case "euclidean" | "simd_euclidean" | "" => Euclidean
    case "cosine" | "simd_cosine" => Cosine
    case _ =>
      throw new IllegalArgumentException(s"[GRAFT] unknown distance method: $s")
  }
}

/** Exact and batched k-NN — the reference's core query surface
  * (`Ranker::exact_search`, vfs/src/vfs/rank.rs:119-186), re-planned as
  * declarative DataFrame programs so Catalyst chooses the physical
  * strategy:
  *
  *   - single query → scan → score (codegen'd distance) →
  *     `TakeOrderedAndProject` (per-partition top-k + driver merge —
  *     exactly the reference's cross-batch prune, parallelized)
  *   - many queries → broadcast the query set, score, then the
  *     [[TopKByDistance]] partial aggregate (shuffles ≤ k rows per
  *     query per partition)
  */
object Knn {

  /** Single-query exact k-NN over any DataFrame with an id + vector
    * column. Ties break by id asc (deterministic; reproduces the
    * reference's file-order for its sequential ids, SURVEY §7.3).
    * NaN distances (zero-norm cosine) sort LAST under Spark's double
    * ordering, so they never reach the top-k unless fewer than k finite
    * candidates exist — same contract as [[TopKByDistance]]; an
    * explicit isnan filter would make Catalyst evaluate the distance
    * twice per row (once in Filter, once in Project). */
  def exact(base: DataFrame, query: Array[Float], k: Int,
      metric: Metric = Metric.Euclidean, vecCol: String = "values",
      idCol: String = "id"): DataFrame = {
    base
      .withColumn("distance", metric.dist(col(vecCol), typedLit(query)))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
  }

  /** Store-level search with result hydration (J1: the top-k ids carry
    * their full records — free here because scoring projects over the
    * full row, tcp.rs:408-427).
    *
    * Quantized stores score on the raw int8 columns via the fused
    * dequantize+distance expressions (no float-array materialization in
    * the scan loop) and dequantize only the k winners. Falls back to
    * the dense view when unflushed memtable rows exist. */
  def search(store: VfsStore, query: Array[Float], k: Int,
      metric: Metric = Metric.Euclidean): DataFrame = {
    if (query.length != store.dim)
      throw new graft.store.InvalidVectorException(
        s"[GRAFT] vector dimension mismatch: expected ${store.dim}, got ${query.length}")
    if (store.quantized && !store.hasUnflushed) {
      val raw = store.readRaw()
      import graft.functions.{vfs_dequantize, vfs_qcosine, vfs_qeuclidean}
      val fused = metric match {
        case Metric.Euclidean =>
          vfs_qeuclidean(col("qvalues"), col("scale_factor"), typedLit(query))
        case Metric.Cosine =>
          vfs_qcosine(col("qvalues"), col("scale_factor"), typedLit(query))
      }
      VfsStore.denseView(
        raw.withColumn("distance", fused)
          .orderBy(col("distance").asc, col("id").asc)
          .limit(k),
        quantized = true)
    } else exact(store.read(), query, k, metric)
  }

  /** Scalar twin of [[Metric]] for driver-side math on result-sized
    * pools ([[mmrRerank]]). Double accumulation, same as the codegen
    * kernels. */
  private def scalarDist(metric: Metric, a: Seq[Float],
      b: Seq[Float]): Double = metric match {
    case Metric.Euclidean =>
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      math.sqrt(s)
    case Metric.Cosine =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Maximal-Marginal-Relevance diverse re-rank (Carbonell & Goldstein
    * 1998) of a FIRST-STAGE candidate pool: greedily pick the
    * candidate maximizing λ·relevance − (1−λ)·redundancy, i.e. (in
    * distance form) minimizing λ·d(q,c) − (1−λ)·min over selected s of
    * d(c,s). λ=1 degenerates to the plain distance order; lower λ
    * trades relevance for diversity (dedups near-identical hits out
    * of the visible top-k). The pool is a first-stage RESULT (≤ a few
    * hundred rows from [[exact]] / `IvfIndex.search*`), so the greedy
    * O(pool²·dim) loop runs on the collected pool — the same
    * result-sized-collect stance as the k-sized collects elsewhere;
    * the first stage stays fully distributed — and `maxPool` ENFORCES
    * that stance (a full-corpus pool would otherwise silently become
    * a driver-side O(n²) collect). Ties break on id.
    * Input needs (id, values, distance); output (id, distance, rank)
    * with rank = selection order. */
  def mmrRerank(pool: DataFrame, k: Int, metric: Metric = Metric.Cosine,
      lambda: Double = 0.7, maxPool: Int = 10000): DataFrame = {
    require(lambda >= 0 && lambda <= 1,
      "[GRAFT] mmrRerank: lambda must be in [0, 1]")
    require(maxPool >= 1, "[GRAFT] mmrRerank: maxPool must be >= 1")
    val spark = pool.sparkSession
    import spark.implicits._
    val cand = pool.select(col("id").cast("long"), col("values"),
        col("distance").cast("double"))
      .limit(maxPool + 1)
      .collect()
    require(cand.length <= maxPool,
      s"[GRAFT] mmrRerank: candidate pool exceeds maxPool=$maxPool " +
        "rows — rerank a FIRST-STAGE result (exact/IVF top-n), not a " +
        "corpus; raise maxPool only with driver memory to match")
    val pool0 = cand
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(c => (c._3, c._1)) // deterministic scan order
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Float], Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(pool0: _*)
    while (selected.size < math.min(k, pool0.length)) {
      val best = remaining.minBy { c =>
        val redundancy =
          if (selected.isEmpty) 0.0
          else -selected.map(s => scalarDist(metric, c._2, s._2)).min
        (lambda * c._3 + (1 - lambda) * redundancy, c._1)
      }
      selected += best
      remaining -= best
    }
    selected.zipWithIndex
      .map { case ((id, _, d), i) => (id, d, i + 1) }
      .toSeq.toDF("id", "distance", "rank")
  }

  /** Multi-query exact k-NN: queries (qidCol, qvecCol) × base.
    * Physical shape: broadcast nested-loop join (when the query batch
    * plausibly fits executor memory) → codegen'd scoring →
    * TopKByDistance partial agg → explode. The broadcast hint is
    * BYTE-GATED via [[BroadcastGate]] like its approximate twin
    * `IvfIndex.searchBatch` (Ann.scala): a wide-vector batch is a
    * multi-GB broadcast OOM in exactly the regime a batch API exists
    * for — above the budget the join strategy is left to the planner
    * (the scoring is an inherent |base|×|queries| product either way;
    * only the OOM is avoidable). The query batch is cached before the
    * one sizing aggregate (rows + max dim), so the gate and the join
    * see the same rows even for a nondeterministic source and the
    * sizing pass is not a second evaluation of an expensive upstream
    * plan. Output: (qid, id, distance, rank). */
  def exactBatch(base: DataFrame, queries: DataFrame, k: Int,
      metric: Metric = Metric.Euclidean, vecCol: String = "values",
      idCol: String = "id", qidCol: String = "qid",
      qvecCol: String = "qvalues", persistQueries: Boolean = true): DataFrame = {
    import TopKByDistance.topk
    // the query persist is GC-SCOPED ([[CacheScope]]): released when
    // the caller drops the result frame, so long-lived sessions and
    // streaming loops never accumulate CacheManager entries.
    // persistQueries = false remains for callers whose queries are
    // cheap to evaluate twice (the sizing pass + the join) and want
    // no cache at all.
    val q = if (persistQueries) queries.persist() else queries
    val sized = q.agg(count(lit(1)).as("n"),
      coalesce(max(size(col(qvecCol))), lit(0)).as("dim")).head()
    val qSide = BroadcastGate.gated(q, sized.getLong(0), sized.getInt(1))
    val scored = base.join(qSide)
      .select(col(qidCol),
        col(idCol),
        metric.dist(col(vecCol), col(qvecCol)).as("distance"))
    val result = scored
      .groupBy(col(qidCol))
      .agg(topk(col("distance"), col(idCol), k).as("topk"))
      .select(col(qidCol), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(col(qidCol), col("r.id").as(idCol),
        col("r.distance").as("distance"), (col("pos") + 1).as("rank"))
    if (persistQueries) CacheScope.releaseWith(result, q) else result
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of result lists —
    * the standard hybrid-retrieval combiner (lexical BM25 ∪ vector
    * kNN): score(d) = Σ over lists containing d of
    * floor(10⁶ / (c + rank_d)), exact-integer units so the fusion is
    * engine-portable and aggregation-order-free. Lists are
    * driver-sized top-k results in rank order (ids, rank 1-based) —
    * the same result-sized stance as [[mmrRerank]]: the heavy ranking
    * stages stay distributed, fusion touches only their top-k.
    * Output: (id, rrf_milli) sorted by (rrf_milli desc, id asc). */
  def rrfFuse(spark: SparkSession, lists: Seq[Seq[Long]],
      c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "[GRAFT] rrfFuse: no result lists")
    require(c >= 0, "[GRAFT] rrfFuse: c must be >= 0")
    lists.foreach(l => require(l.distinct == l,
      "[GRAFT] rrfFuse: duplicate id within one result list"))
    import spark.implicits._
    val scores = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    lists.foreach { l =>
      l.zipWithIndex.foreach { case (id, i) =>
        val w = math.floor(1000000.0 / (c + i + 1)).toLong
        scores(id) = scores.getOrElse(id, 0L) + w
      }
    }
    scores.toSeq.toDF("id", "rrf_milli")
      .orderBy(col("rrf_milli").desc, col("id").asc)
  }

  /** Per-query top-k selection by DESCENDING score (ascending-id
    * ties) as (qidCol, idCol, rank 1-based) — the ranking half of
    * batch hybrid retrieval. Runs the [[TopKByDistance]] bounded-heap
    * partial aggregate on the NEGATED score: map-side combine ships at
    * most k rows per (partition, qid) to the shuffle, where a
    * row_number window would sort every candidate row of every query
    * in |queries| single-task partitions (measured 29.5 s → 2.9 s at
    * 64 queries × 500k matching docs, ScaleProbe). Output is
    * bit-identical to `row_number over (score desc, id asc)` — the
    * aggregate's (value asc, id asc) total order on the negation IS
    * that order. */
  def rankByScore(scored: DataFrame, k: Int, qidCol: String = "qid",
      idCol: String = "id", scoreCol: String = "score"): DataFrame = {
    require(k > 0, "[GRAFT] rankByScore: k must be positive")
    import TopKByDistance.topk
    scored
      .groupBy(col(qidCol))
      .agg(topk((-col(scoreCol)).cast("double"),
        col(idCol).cast("long"), k).as("topk"))
      .select(col(qidCol), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(col(qidCol), col("r.id").as(idCol),
        (col("pos") + 1).as("rank"))
  }

  /** End-to-end BATCH hybrid retrieval: workload BM25 over `docs` ∪
    * batch ANN probes of the STANDING IVF index, reciprocal-rank
    * fused — the one-call production shape for "retrieve top-k by
    * text AND embedding for Q queries at once". Each half is its own
    * proven scale path ([[graft.operators.TextAnalysis.bm25TopK]]:
    * two corpus scans into a pipelined partial top-k;
    * `IvfIndex.searchBatch`: touched clusters scanned once,
    * byte-gated broadcast), and the fusion is
    * [[rrfFuseBatch]]'s no-shuffle union + one (qid, id) hash agg.
    *
    * `termWl` is (qid, term); `vecWl` is (qid, qvalues) in the
    * index's vector space. A qid present in only one workload is
    * fused from that single ranking (same as [[rrfFuse]] semantics).
    * Output: (qid, idCol, rrf_milli) — order with
    * (rrf_milli desc, id asc) per qid for presentation. */
  def hybridSearchBatch(docs: DataFrame, indexDir: String,
      termWl: DataFrame, vecWl: DataFrame, kEach: Int = 50,
      nProbe: Int = 4, c: Int = 60,
      idCol: String = "doc_id"): DataFrame = {
    require(kEach > 0, "[GRAFT] hybridSearchBatch: kEach must be positive")
    val lex = TextAnalysis.bm25TopK(docs, termWl, k = kEach,
      idCol = idCol)
    val vec = IvfIndex.searchBatch(docs.sparkSession, indexDir, vecWl,
        k = kEach, nProbe = nProbe)
      .select(col("qid"), col("id").as(idCol), col("rank"))
    rrfFuseBatch(Seq(lex, vec), c = c, idCol = idCol)
  }

  /** DataFrame-native reciprocal-rank fusion over a QUERY WORKLOAD:
    * each input frame is a per-query ranking (qidCol, idCol, rankCol
    * — rank 1-based within its qid, at most one row per (qid, id) per
    * frame), e.g. the outputs of a batch BM25 top-k and a batch
    * vector top-k. Produces (qidCol, idCol, rrf_milli) with the SAME
    * exact-integer weights as [[rrfFuse]] — floor(10⁶ / (c + rank))
    * summed as LONGs — so a single qid's fusion is bit-identical to
    * the driver-side path (spec-pinned).
    *
    * 100 TB shape: where [[rrfFuse]] fuses one query's driver-sized
    * lists, a Q-query hybrid workload fuses Q·k·|frames| ranking rows
    * — result-sized, not corpus-sized, but far too big for a driver
    * loop at large Q. Here it is one no-shuffle union of the ranked
    * frames + one hash aggregate keyed (qid, id) (map-side partial
    * combine; integer sum is aggregation-order-free). No driver
    * materialization, no per-qid loop. */
  def rrfFuseBatch(ranked: Seq[DataFrame], c: Int = 60,
      qidCol: String = "qid", idCol: String = "id",
      rankCol: String = "rank"): DataFrame = {
    require(ranked.nonEmpty, "[GRAFT] rrfFuseBatch: no ranked frames")
    require(c >= 0, "[GRAFT] rrfFuseBatch: c must be >= 0")
    // floor of the same double division rrfFuse does on the driver —
    // integer add, promote, divide, floor: bit-identical weights
    val w = floor(lit(1000000.0) / (lit(c) + col(rankCol)))
      .cast("long")
    ranked
      .map(df => df.select(col(qidCol).cast("long").as(qidCol),
        col(idCol).cast("long").as(idCol), w.as("__w")))
      .reduce(_ union _)
      .groupBy(col(qidCol), col(idCol))
      .agg(sum(col("__w")).as("rrf_milli"))
  }
}
