package graft
package queries

import org.apache.spark.sql.functions._

/** Bitext margin mining (`mining_*`) and benchmark contamination
  * (`contamination_*`). */
object MiningQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- benchmark decontamination: probe docs (src0) sharing >= 5
    // distinct trigrams with any other-source doc, hot grams capped ----
    QuerySpec("contamination_ngram", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Contamination.ngramOverlap(
          corpus = docs.filter(col("source") =!= "src0"),
          probe = docs.filter(col("source") === "src0"),
          idCol = "doc_id", textCol = "text", n = 3,
          minShared = 5, maxDf = 50L)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    },
      """WITH t AS (SELECT doc_id, source,
        |  list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                 for i in range(1, len(s) - 1)]) AS g
        |  FROM (SELECT doc_id, source,
        |        string_split_regex(trim(lower(text)), '\s+') AS s FROM documents)),
        |cg AS (SELECT doc_id AS corpus_id, unnest(g) AS gram FROM t
        |       WHERE source <> 'src0'),
        |pg AS (SELECT doc_id AS probe_id, unnest(g) AS gram FROM t
        |       WHERE source = 'src0'),
        |kept AS (SELECT * FROM cg WHERE gram NOT IN
        |  (SELECT gram FROM cg GROUP BY gram HAVING count(*) > 50))
        |SELECT pg.probe_id, kept.corpus_id, count(*) AS n_shared
        |FROM pg JOIN kept USING (gram)
        |GROUP BY pg.probe_id, kept.corpus_id
        |HAVING count(*) >= 5
        |ORDER BY probe_id ASC, corpus_id ASC""".stripMargin),

    // ---- margin-based pair mining (Artetxe & Schwenk 2019 ratio
    // margin — the CCMatrix/LASER bitext-mining criterion): the
    // even/odd vec_id halves act as the two collections; every
    // forward top-4 candidate scored by sim relative to BOTH
    // neighborhood averages. Micro-quantized sims make the k-sums
    // exact integers, so the margin is one pinned double chain ----
    QuerySpec("mining_margin_candidates", (s, dir) => {
      val e = emb(s, dir)
      graft.operators.Mining.marginCandidates(s,
          e.filter(col("vec_id") % 2 === 0)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          e.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          k = 4)
        .orderBy(col("src_id").asc, col("cand_rank").asc)
    },
      s"""$miningMarginCtes
         |SELECT src_id, tgt_id, sim_micro, margin_milli,
         |  CAST(cand_rank AS INT) AS cand_rank
         |FROM ranked
         |ORDER BY src_id ASC, cand_rank ASC""".stripMargin),

    // ---- the mined pairs: each source's best-margin candidate above
    // the 1.0 margin floor (margin_milli >= 1000) ----
    // Plan (expect: TWO broadcast-gated batch top-k passes, each a
    // sizing aggregate then a checkpoint job — vfs_cosine in codegen +
    // bounded TopKByDistance partial aggs; then the final checkpoint
    // job: InMemoryTableScan where the persisted forward candidates fan
    // out to the sums and the backward query list, integer sums and one
    // window row_number; NO cartesian)
    QuerySpec("mining_margin_pairs", (s, dir) => {
      val e = emb(s, dir)
      graft.operators.Mining.marginPairs(s,
          e.filter(col("vec_id") % 2 === 0)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          e.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          k = 4, minMarginMilli = 1000L)
        .orderBy(col("src_id").asc)
    },
      s"""$miningMarginCtes
         |SELECT src_id, tgt_id, sim_micro, margin_milli
         |FROM ranked
         |WHERE cand_rank = 1 AND margin_milli >= 1000
         |ORDER BY src_id ASC""".stripMargin),

    // ---- the INTERSECTION strategy: keep a pair only when each side
    // is the other's best-margin candidate — the margin itself is
    // direction-symmetric, so the oracle instantiates the directional
    // derivation twice and joins on mutuality ----
    QuerySpec("mining_margin_mutual", (s, dir) => {
      val e = emb(s, dir)
      graft.operators.Mining.marginPairsMutual(s,
          e.filter(col("vec_id") % 2 === 0)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          e.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          k = 4, minMarginMilli = 1000L)
        .orderBy(col("src_id").asc)
    },
      s"""WITH ${miningMarginCtesDir("a_", 0, 1)},
         |${miningMarginCtesDir("b_", 1, 0)}
         |SELECT a.src_id, a.tgt_id, a.sim_micro, a.margin_milli
         |FROM a_ranked a JOIN b_ranked b
         |  ON a.src_id = b.tgt_id AND a.tgt_id = b.src_id
         |WHERE a.cand_rank = 1 AND a.margin_milli >= 1000
         |  AND b.cand_rank = 1 AND b.margin_milli >= 1000
         |ORDER BY a.src_id ASC""".stripMargin)
  )
}
