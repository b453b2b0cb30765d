package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Knn, Metric}

/** Approximate nearest neighbours (`ann_*`): IVF, PQ and IVF-PQ probes,
  * filtered search and recall gates, plus the batch similarity top-k. */
object AnnQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- batched multi-query similarity search (TopKByDistance) ----
    QuerySpec("similarity_batch_topk", (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id").isin(1L, 2L, 3L, 4L, 5L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvalues"))
      Knn.exactBatch(
          e.select(col("vec_id").as("id"), col("embedding").as("values")),
          queries, 3, Metric.Cosine)
        .select(col("qid"), col("id").as("vec_id"),
          milli(col("distance")).as("dist_milli"), col("rank"))
        .orderBy(col("qid").asc, col("rank").asc)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (1,2,3,4,5)),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    (1 - list_inner_product(e.v, q.qv)
        |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.qv, q.qv)))) AS d
        |  FROM e CROSS JOIN q)
        |SELECT qid, vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY d ASC, vec_id ASC) AS BIGINT) AS rank
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY qid ASC, rank ASC""".stripMargin),

    // ---- Q3 (verifiable twin): IVF probe with nProbe = nCentroids
    // degenerates to exact top-k — exercises the full index path
    // (build, centroid routing, partition-pruned read) against the
    // brute-force oracle ----
    QuerySpec("ann_ivf_fullprobe", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val idx = java.nio.file.Files.createTempDirectory("verify-ivf-full").toString
      graft.operators.IvfIndex.build(e, idx, nCentroids = 8, Metric.Euclidean)
      val q = queryVec(s, dir, 7L)
      graft.operators.IvfIndex.search(s, idx, q, 10, nProbe = 8)
        .select(col("id").as("vec_id"), milli(col("distance")).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
    },
      """WITH top AS (
        |  SELECT vec_id,
        |         list_distance(CAST(embedding AS DOUBLE[]),
        |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 7)) AS d
        |  FROM embeddings
        |  ORDER BY d ASC, vec_id ASC
        |  LIMIT 10)
        |SELECT vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli
        |FROM top
        |ORDER BY dist_milli ASC, vec_id ASC""".stripMargin),

    // ---- FILTERED vector search: the index probe semi-joined against
    // an allowed-id set (label = 3) BEFORE the top-k — predicate +
    // vector retrieval in one call. Full probe ⇒ exact over the
    // allowed subset, so the row hash-matches the label-filtered
    // min-distance oracle ----
    QuerySpec("ann_ivf_filtered", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-ivf-filt").toString
      graft.operators.IvfIndex.build(e, idx, nCentroids = 8,
        Metric.Euclidean)
      val q = queryVec(s, dir, 7L)
      val allowed = emb(s, dir).filter(col("label") === 3)
        .select(col("vec_id"))
      graft.operators.IvfIndex.searchFiltered(s, idx, q, 10, allowed,
          nProbe = 8)
        .select(col("id").as("vec_id"),
          milli(col("distance")).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
    },
      // exact filtered kNN: min distances over the label-filtered subset
      """WITH top AS (
        |  SELECT vec_id,
        |         list_distance(CAST(embedding AS DOUBLE[]),
        |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 7)) AS d
        |  FROM embeddings
        |  WHERE label = 3
        |  ORDER BY d ASC, vec_id ASC
        |  LIMIT 10)
        |SELECT vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli
        |FROM top
        |ORDER BY dist_milli ASC, vec_id ASC""".stripMargin),

    // ---- FILTERED COMPRESSED vector search: the IVF-PQ two-stage
    // probe with an allowed-id pre-filter (label = 3) — ADC candidates
    // semi-join the allowed set before scoring, refine re-ranks only
    // those. Full probe + exhaustive overfetch ⇒ the refined result IS
    // the exact filtered top-k, so the row hash-matches the same
    // label-filtered min-distance oracle as ann_ivf_filtered ----
    QuerySpec("ann_ivfpq_filtered", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val ivf = java.nio.file.Files
        .createTempDirectory("verify-ivfpq-filt-i").toString
      val pq = java.nio.file.Files
        .createTempDirectory("verify-ivfpq-filt-p").toString
      graft.operators.IvfIndex.build(e, ivf, nCentroids = 8,
        Metric.Euclidean)
      graft.operators.IvfPq.build(s, ivf, pq, m = 32, ks = 64)
      val q = queryVec(s, dir, 7L)
      val allowed = emb(s, dir).filter(col("label") === 3)
        .select(col("vec_id"))
      graft.operators.IvfPq.searchRefined(s, ivf, pq, q, 10,
          nProbe = 8, overfetch = 64, allowed = Some(allowed))
        .select(col("id").as("vec_id"),
          milli(col("distance")).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
    },
      // exact filtered kNN through the compressed path: full probe +
      // exhaustive overfetch makes the PQ refine exact over the allowed
      // subset — same twin as ann_ivf_filtered
      """WITH top AS (
        |  SELECT vec_id,
        |         list_distance(CAST(embedding AS DOUBLE[]),
        |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 7)) AS d
        |  FROM embeddings
        |  WHERE label = 3
        |  ORDER BY d ASC, vec_id ASC
        |  LIMIT 10)
        |SELECT vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli
        |FROM top
        |ORDER BY dist_milli ASC, vec_id ASC""".stripMargin),

    // ---- FILTERED BATCH vector search: searchBatch with an allowed-id
    // pre-filter (label = 3) — the per-query candidates semi-join the
    // allowed set BEFORE scoring and top-k. Full probe ⇒ exact over
    // the allowed subset for every query, so the row hash-matches a
    // per-qid windowed min-distance oracle ----
    QuerySpec("ann_ivf_filtered_batch", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-ivf-filtb").toString
      graft.operators.IvfIndex.build(e, idx, nCentroids = 8,
        Metric.Euclidean)
      val allowed = emb(s, dir).filter(col("label") === 3)
        .select(col("vec_id"))
      val queries = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvalues"))
      graft.operators.IvfIndex.searchBatch(s, idx, queries, k = 10,
          nProbe = 8, allowed = Some(allowed))
        .select(col("qid"), col("id").as("vec_id"),
          milli(col("distance")).as("dist_milli"))
        .orderBy(col("qid").asc, col("dist_milli").asc, col("vec_id").asc)
    },
      // exact filtered BATCH kNN: per-query top-10 over the
      // label-filtered subset (full probe ⇒ exact per query)
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE label = 3),
        |d AS (
        |  SELECT q.qid, c.vec_id, list_distance(c.v, q.qv) AS d
        |  FROM q, c),
        |r AS (
        |  SELECT qid, vec_id, d,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY d ASC, vec_id ASC) AS rn
        |  FROM d)
        |SELECT qid, vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli
        |FROM r WHERE rn <= 10
        |ORDER BY qid ASC, dist_milli ASC, vec_id ASC""".stripMargin),

    // ---- Q3: approximate kNN over a persisted IVF index, emitted as
    // an ACCEPTANCE row: the probe's top-k id set depends on the
    // trained centroids (approximate by design), so a hash of the ids
    // can never oracle-match. The driver-checkable contract is recall
    // against the exact top-k — pass = 1 iff |ivf ∩ exact| ≥ 0.9·k —
    // and the oracle asserts the bound holds. The exact twin
    // ann_ivf_fullprobe above hash-matches the id/distance rows. ----
    QuerySpec("ann_ivf_topk", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val idx = java.nio.file.Files.createTempDirectory("verify-ivf").toString
      // uniform-random embeddings are IVF's worst case (no cluster
      // structure): multiprobe storage (nAssign=2) + 12/16 probes keeps
      // the 0.9-recall acceptance bound comfortably clear, and puts the
      // multiprobe path itself under the correctness gate
      graft.operators.IvfIndex.build(e, idx, nCentroids = 16, Metric.Cosine,
        nAssign = 2)
      val q = queryVec(s, dir, 1L)
      val approx = graft.operators.IvfIndex.search(s, idx, q, 10, nProbe = 12)
        .select(col("id"))
      val exact = graft.operators.Knn.exact(e, q, 10, Metric.Cosine)
        .select(col("id"))
      val hits = approx.intersect(exact).count()
      s.range(1).select(lit(10L).as("k"),
        lit(if (hits >= 9L) 1L else 0L).as("pass"))
    },
      // acceptance row, not a result hash: the Spark side computes recall
      // of the IVF top-k against the exact top-k and emits pass=1 iff it
      // clears 0.9 — the oracle pins the expected acceptance values
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass"),

    // ---- BATCH IVF probe acceptance: mean recall@10 of searchBatch
    // vs the exact batch over 20 queries must clear 0.9 (same
    // worst-case uniform corpus + multiprobe settings as ann_ivf_topk)
    QuerySpec("ann_ivf_batch", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-ivfb").toString
      graft.operators.IvfIndex.build(e, idx, nCentroids = 16,
        Metric.Cosine, nAssign = 2)
      val queries = e.orderBy(col("id").asc).limit(20)
        .select(col("id").as("qid"), col("values").as("qvalues"))
      val approx = graft.operators.IvfIndex.searchBatch(s, idx, queries,
        k = 10, nProbe = 12).select(col("qid"), col("id"))
      val exact = graft.operators.Knn.exactBatch(e, queries, 10,
        Metric.Cosine).select(col("qid"), col("id"))
      val hits = approx.intersect(exact).count() // of 200 possible
      s.range(1).select(lit(10L).as("k"),
        lit(if (hits >= 180L) 1L else 0L).as("pass"))
    },
      // acceptance row: batch IVF probe mean recall bound
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass"),

    // ---- product quantization (compressed ANN): like ann_ivf_topk,
    // an ACCEPTANCE row — ADC codes are approximate by construction,
    // so the gate is two-stage recall (ADC overfetch + exact refine)
    // against the exact top-k, which must clear 0.9 ----
    QuerySpec("ann_pq_recall", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val idx = java.nio.file.Files.createTempDirectory("verify-pq").toString
      // uniform-random embeddings are PQ's worst case; m=32 subspaces
      // of 2 lanes (8x compression) holds measured recall at 1.0 with
      // margin across sf0.01 and sf0.1 — coarser settings sat on the
      // 0.9 boundary
      graft.operators.PqIndex.build(e, idx, m = 32, ks = 64, Metric.Cosine)
      val q = queryVec(s, dir, 1L)
      val approx = graft.operators.PqIndex
        .searchRefined(s, idx, e, q, 10, overfetch = 8)
        .select(col("id"))
      val exact = graft.operators.Knn.exact(e, q, 10, Metric.Cosine)
        .select(col("id"))
      val hits = approx.intersect(exact).count()
      s.range(1).select(lit(10L).as("k"),
        lit(if (hits >= 9L) 1L else 0L).as("pass"))
    },
      // acceptance row (see ann_ivf_topk): PQ two-stage recall bound
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass"),

    // ---- IVF-PQ (cluster-partitioned residual codes): ACCEPTANCE row
    // like ann_pq_recall — full-probe ADC + refine recall vs the exact
    // top-k must clear 0.9 ----
    QuerySpec("ann_ivfpq_recall", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val ivf = java.nio.file.Files.createTempDirectory("verify-ivfpq-i").toString
      val pq = java.nio.file.Files.createTempDirectory("verify-ivfpq-p").toString
      graft.operators.IvfIndex.build(e, ivf, nCentroids = 8, Metric.Cosine)
      graft.operators.IvfPq.build(s, ivf, pq, m = 32, ks = 64)
      val q = queryVec(s, dir, 1L)
      val approx = graft.operators.IvfPq
        .searchRefined(s, ivf, pq, q, 10, nProbe = 8, overfetch = 8)
        .select(col("id"))
      val exact = graft.operators.Knn.exact(e, q, 10, Metric.Cosine)
        .select(col("id"))
      val hits = approx.intersect(exact).count()
      s.range(1).select(lit(10L).as("k"),
        lit(if (hits >= 9L) 1L else 0L).as("pass"))
    },
      // acceptance row: IVF-PQ full-probe refined recall bound
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass"),

    // ---- IVF-PQ at a genuinely PARTIAL probe — the production
    // operating point (the full-probe row above gates codebook quality
    // but not probe pruning). 45 centroids, nProbe=16 (36% of
    // clusters), closure-assigned multiprobe parent (nAssign=3,
    // assignEps=0.5 — secondary copies only within 1.5× the nearest
    // squared centroid distance), m=32 residual codes, overfetch=8.
    // Measured decomposition (BENCHREPORT.md, this corpus): the PQ
    // refine tracks the parent IVF's exact-scored ceiling EXACTLY at
    // every operating point (codebooks are not the constraint — probe
    // pruning is), and closure assignment moves that ceiling:
    // nAssign=2 unconditional 185/200 @2.0× storage, nAssign=3
    // eps=0.5 197/200 @2.8×, nAssign=3 unconditional 198/200 @3.0×.
    // Mean recall@10 over 20 queries via the BATCH search path >= 0.9
    // (the round-5 bar was 0.8), which also puts IvfPq.searchBatch
    // itself under the correctness gate ----
    QuerySpec("ann_ivfpq_pruned", (s, dir) => ivfpqPrunedGate(s, dir),
      // acceptance row: IVF-PQ PRUNED-probe (nProbe=16/45) batch mean
      // recall@10 >= 0.8 — gates the production operating point, not
      // just the full-probe ceiling
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass"),

    // ---- the SAME production operating point pinned at sf0.1 (10×
    // the Verify corpus, 2,000 vectors): the sweep runs at sf0.01, so
    // this row resolves the sf0.1 SIBLING of the given data dir —
    // recall gates that only ever see the small corpus can silently
    // regress at scale (centroid count vs corpus size is a ratio).
    // Falls back to the given dir when no sibling exists (standalone
    // runs outside the driver's testdata layout) ----
    QuerySpec("ann_ivfpq_pruned_sf01", (s, dir) =>
      ivfpqPrunedGate(s, siblingSf(dir, "sf0.1")),
      // acceptance row: the same pruned-probe gate against the sf0.1
      // sibling corpus (10× the sweep's data) — pins recall at scale
      // every round, not just in ad-hoc probes
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass"),

    // ---- CROSS-SCALE drift gate: the index artifact is built over
    // the sf0.1 corpus (10×) but probed with the sf0.01 queries —
    // the corpus-growth shape (an index built at one size keeps
    // serving as the collection grows, and queries come from
    // anywhere in the distribution). Recall@10 of the pruned probe
    // vs the exact answer over the SAME large base must still clear
    // 0.9. Falls back to same-dir when no sibling exists ----
    QuerySpec("ann_ivfpq_cross_scale", (s, dir) => {
      val baseDir = siblingSf(dir, "sf0.1")
      val e = emb(s, baseDir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val queries = emb(s, dir).orderBy(col("vec_id").asc).limit(20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvalues"))
      val ivf = java.nio.file.Files
        .createTempDirectory("verify-xscale-i").toString
      val pq = java.nio.file.Files
        .createTempDirectory("verify-xscale-p").toString
      graft.operators.IvfIndex.build(e, ivf, nCentroids = 45,
        Metric.Cosine, nAssign = 3, assignEps = 0.5)
      graft.operators.IvfPq.build(s, ivf, pq, m = 32, ks = 64)
      val approx = graft.operators.IvfPq.searchBatch(s, ivf, pq,
        queries, k = 10, nProbe = 16, overfetch = 8)
        .select(col("qid"), col("id"))
      val exact = graft.operators.Knn.exactBatch(e, queries, 10,
        Metric.Cosine).select(col("qid"), col("id"))
      val hits = approx.intersect(exact).count() // of 200 possible
      s.range(1).select(lit(10L).as("k"),
        lit(if (hits >= 180L) 1L else 0L).as("pass"))
    },
      // cross-scale drift: sf0.1-built artifact probed with sf0.01
      // queries still clears recall@10 >= 0.9
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass"),

    // ---- the REVERSE cross-scale direction, completing the drift
    // matrix: the artifact is built over the SMALL corpus (the given
    // dir) but probed with 20 queries drawn from the sf0.1 sibling
    // OUTSIDE the small id range — the index-lag shape (an index
    // built before the collection grew keeps serving queries from
    // the wider distribution). Recall@10 vs the exact answer over
    // the SAME small base must still clear 0.9 — out-of-corpus
    // queries land in the right clusters or the probe prunes them
    // away. Falls back to same-dir queries when no sibling exists ----
    QuerySpec("ann_ivfpq_cross_scale_rev", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val qDir = siblingSf(dir, "sf0.1")
      val queries = emb(s, qDir)
        .filter(col("vec_id") >= 1000L).orderBy(col("vec_id").asc)
        .limit(20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvalues"))
      // the sf0.01 standalone fallback: ids under 1000 only
      val qs = if (queries.isEmpty)
        emb(s, qDir).orderBy(col("vec_id").desc).limit(20)
          .select(col("vec_id").as("qid"),
            col("embedding").as("qvalues"))
      else queries
      val ivf = java.nio.file.Files
        .createTempDirectory("verify-xscale-rev-i").toString
      val pq = java.nio.file.Files
        .createTempDirectory("verify-xscale-rev-p").toString
      graft.operators.IvfIndex.build(e, ivf, nCentroids = 45,
        Metric.Cosine, nAssign = 3, assignEps = 0.5)
      graft.operators.IvfPq.build(s, ivf, pq, m = 32, ks = 64)
      val approx = graft.operators.IvfPq.searchBatch(s, ivf, pq,
        qs, k = 10, nProbe = 16, overfetch = 8)
        .select(col("qid"), col("id"))
      val exact = graft.operators.Knn.exactBatch(e, qs, 10,
        Metric.Cosine).select(col("qid"), col("id"))
      val hits = approx.intersect(exact).count() // of 200 possible
      s.range(1).select(lit(10L).as("k"),
        lit(if (hits >= 180L) 1L else 0L).as("pass"))
    },
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass")
  )

  /** The IVF-PQ pruned-probe production gate (see `ann_ivfpq_pruned`'s
    * operating-point rationale): mean recall@10 over 20 batch queries
    * at nProbe=16/45 with closure assignment must clear 0.9. */
  private def ivfpqPrunedGate(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id").as("id"),
      col("embedding").as("values"))
    val ivf = java.nio.file.Files.createTempDirectory("verify-ivfpq-pr-i").toString
    val pq = java.nio.file.Files.createTempDirectory("verify-ivfpq-pr-p").toString
    graft.operators.IvfIndex.build(e, ivf, nCentroids = 45,
      Metric.Cosine, nAssign = 3, assignEps = 0.5)
    graft.operators.IvfPq.build(s, ivf, pq, m = 32, ks = 64)
    val queries = e.orderBy(col("id").asc).limit(20)
      .select(col("id").as("qid"), col("values").as("qvalues"))
    val approx = graft.operators.IvfPq.searchBatch(s, ivf, pq,
      queries, k = 10, nProbe = 16, overfetch = 8)
      .select(col("qid"), col("id"))
    val exact = graft.operators.Knn.exactBatch(e, queries, 10,
      Metric.Cosine).select(col("qid"), col("id"))
    val hits = approx.intersect(exact).count() // of 200 possible
    s.range(1).select(lit(10L).as("k"),
      lit(if (hits >= 180L) 1L else 0L).as("pass"))
  }
}
