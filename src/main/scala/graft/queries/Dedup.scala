package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.{Dedup, Metric, TextAnalysis}

/** Deduplication (`dedup_*`): exact, MinHash/SimHash/LSH, substring
  * spans, semantic and media near-duplicates. */
object DedupQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ======== LLM-pipeline operators (north-star additions) ========

    // ---- exact dedup: hash-groupBy keep-first ----
    QuerySpec("dedup_exact_groups", (s, dir) => {
      Dedup.exactGroups(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("keeper"), col("cnt"))
        .orderBy(col("keeper").asc)
    },
      """SELECT min(doc_id) AS keeper, count(*) AS cnt
        |FROM documents GROUP BY text
        |ORDER BY keeper ASC""".stripMargin),

    // ---- C4-style passage-level global dedup: 3-word windows so the
    // small-vocab testdata actually produces cross-doc duplicates ----
    QuerySpec("dedup_passages", (s, dir) => {
      Dedup.passageDedup(s.read.parquet(s"$dir/documents.parquet"),
          windowWords = 3)
        .orderBy(col("doc_id").asc)
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |n AS (SELECT doc_id, w,
        |  CAST(ceil(len(w) / 3.0) AS BIGINT) AS np FROM t),
        |o AS (SELECT doc_id, np, unnest(range(0, np)) AS idx, w FROM n),
        |p AS (SELECT doc_id, np, idx,
        |  array_to_string(w[CAST(idx*3+1 AS INT):CAST(idx*3+3 AS INT)], ' ')
        |    AS passage FROM o),
        |s AS (SELECT doc_id, np, idx, passage,
        |  row_number() OVER (PARTITION BY passage
        |                     ORDER BY doc_id ASC, idx ASC) AS rn FROM p)
        |SELECT doc_id, max(np) AS n_passages,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_passages,
        |  coalesce(string_agg(passage, ' ' ORDER BY idx)
        |    FILTER (WHERE rn = 1), '') AS new_text
        |FROM s GROUP BY doc_id
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- RefinedWeb-style corpus boilerplate-line removal: lines in
    // >= 5 distinct docs drop from ALL of them. The corpus is
    // single-line salad, so a multi-line page with REAL cross-doc
    // boilerplate is built per row (same construction in the oracle):
    // a global nav line, a per-source footer, a subscribe prompt on
    // every 3rd doc, two unique content lines, a unique doc footer,
    // and a blank line (dropped silently, counted neither way) ----
    QuerySpec("dedup_boilerplate_lines", (s, dir) => {
      Dedup.stripBoilerplate(boilerplatePages(s, dir), minDocFreq = 5L)
        .orderBy(col("doc_id").asc)
    },
      // corpus boilerplate-line removal over the same built page as the
      // Spark side; the boilerplate list (df >= 5 over distinct docs,
      // trimmed non-blank lines) is folded to one row and each page is
      // list_filtered against it in document order
      boilerplateOracle),

    // ---- the INCREMENTAL form: the line table is a standing
    // artifact (LineIndex) — built on the first half of the corpus,
    // appended with the second (disjoint ids, so per-batch df sums to
    // the corpus df), then the whole corpus strips against the MERGED
    // counts; output bit-identical to the one-shot form, so the row
    // shares its oracle ----
    QuerySpec("dedup_incremental_boilerplate", (s, dir) => {
      val page = boilerplatePages(s, dir)
      val idx = java.nio.file.Files
        .createTempDirectory("verify-lineidx").toString
      graft.operators.LineIndex.build(
        page.filter(col("doc_id") < 250), idx)
      graft.operators.LineIndex.appendIdempotent(
        page.filter(col("doc_id") >= 250), idx, batchId = 0L)
      graft.operators.LineIndex.strip(s, idx, page, minDocFreq = 5L)
        .orderBy(col("doc_id").asc)
    },
      // the standing-artifact form: build + append (disjoint halves)
      // merge to the identical corpus df, so the strip is bit-identical
      boilerplateOracle),

    // ---- ExactSubstr (Lee et al. 2022): sliding 4-gram duplicate
    // detection merged into maximal keep-first spans — catches
    // duplication at ANY alignment, unlike the fixed passage blocks ----
    QuerySpec("dedup_substring_spans", (s, dir) => {
      Dedup.duplicateSpans(s.read.parquet(s"$dir/documents.parquet"), k = 4)
        .orderBy(col("doc_id").asc, col("span_start").asc)
    },
      substringSpansOracle),

    // ---- the applied form: cut every duplicated span out of the text ----
    QuerySpec("dedup_substring_strip", (s, dir) => {
      Dedup.stripDuplicateSpans(
          s.read.parquet(s"$dir/documents.parquet"), k = 4)
        .orderBy(col("doc_id").asc)
    },
      s"""WITH ${substringSpanCtes(substringKeepFirstDu)},
        |sp AS (SELECT doc_id, min(idx) AS ss, max(idx) + 4 AS se
        |  FROM i GROUP BY doc_id, grp),
        |dt AS (SELECT doc_id, CAST(sum(se - ss) AS BIGINT) AS dup_tokens
        |  FROM sp GROUP BY doc_id),
        |p AS (SELECT doc_id, unnest(range(0, len(w))) AS pos, w FROM t),
        |tok AS (SELECT p.doc_id, p.pos, p.w[CAST(p.pos + 1 AS INT)] AS tk,
        |  cv.pos IS NOT NULL AS covered
        |  FROM p LEFT JOIN (SELECT p2.doc_id, p2.pos
        |    FROM (SELECT doc_id, unnest(range(0, len(w))) AS pos FROM t) p2
        |    JOIN sp ON p2.doc_id = sp.doc_id
        |      AND p2.pos >= sp.ss AND p2.pos < sp.se) cv
        |    ON p.doc_id = cv.doc_id AND p.pos = cv.pos),
        |k AS (SELECT doc_id, coalesce(string_agg(tk, ' ' ORDER BY pos)
        |    FILTER (WHERE NOT covered), '') AS new_text
        |  FROM tok GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  coalesce(dt.dup_tokens, 0) AS dup_tokens, k.new_text
        |FROM t JOIN k ON t.doc_id = k.doc_id
        |LEFT JOIN dt ON t.doc_id = dt.doc_id
        |ORDER BY t.doc_id ASC""".stripMargin),

    // ---- incremental ExactSubstr: the corpus (doc_id >= 100) pays
    // its gram pass ONCE into a standing hash-set artifact; the delta
    // (doc_id < 100) is vetted by one semi-join against it plus its
    // own within-delta keep-first verdict — corpus text never
    // touched at probe time ----
    QuerySpec("dedup_incremental_substring", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val idx = java.nio.file.Files
        .createTempDirectory("verify-gramidx").toString
      graft.operators.GramIndex.build(
        d.filter(col("doc_id") >= 100L), idx, k = 4)
      graft.operators.GramIndex.probeSpans(s, idx,
          d.filter(col("doc_id") < 100L))
        .orderBy(col("doc_id").asc, col("span_start").asc)
    },
      // delta (doc_id < 100) vs corpus (>= 100): corpus presence alone
      // duplicates a delta occurrence; delta-only grams fall back to
      // within-delta keep-first — the shared islands fold over an
      // overridden duplicated-start set `d`
      s"""WITH ${substringSpanCtes(
            """cg AS (SELECT DISTINCT gram FROM g2 WHERE doc_id >= 100),
              |de AS (SELECT doc_id, idx, gram FROM g2 WHERE doc_id < 100),
              |dd AS (SELECT doc_id, idx FROM (SELECT doc_id, idx,
              |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, idx)
              |      AS rn FROM de) WHERE rn > 1),
              |d AS (SELECT doc_id, idx FROM de
              |    WHERE gram IN (SELECT gram FROM cg)
              |  UNION SELECT doc_id, idx FROM dd)""".stripMargin)}
         |SELECT doc_id, CAST(min(idx) AS BIGINT) AS span_start,
         |  CAST(max(idx) + 4 AS BIGINT) AS span_end,
         |  CAST(max(idx) + 4 - min(idx) AS BIGINT) AS span_tokens
         |FROM i GROUP BY doc_id, grp
         |ORDER BY doc_id ASC, span_start ASC""".stripMargin),

    // ---- near-dup by word-set jaccard, exact within source group ----
    QuerySpec("dedup_jaccard_source", (s, dir) => {
      Dedup.jaccardPairsWithin(
          s.read.parquet(s"$dir/documents.parquet"), "source", 0.8)
        .orderBy(col("a").asc, col("b").asc)
    },
      """WITH t AS (SELECT doc_id, source,
        |  list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) * 1000.0
        |    / len(list_distinct(a.w || b.w))) AS BIGINT) AS jaccard_milli
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) * 1000.0
        |    / len(list_distinct(a.w || b.w))) AS BIGINT) >= 800
        |ORDER BY a ASC, b ASC""".stripMargin),

    // ---- near-dup by word-BIGRAM jaccard (n-gram variant; order
    // sensitivity makes it far stricter than word sets) ----
    QuerySpec("dedup_ngram_jaccard", (s, dir) => {
      val t = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source").as("g"), col("doc_id").as("id"),
          TextAnalysis.wordNGrams(col("text"), 2).as("grams"))
      val a = t.as("a")
      val b = t.as("b")
      a.join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id"))
        .select(col("a.id").as("a"), col("b.id").as("b"),
          Dedup.jaccardMilli(col("a.grams"), col("b.grams"))
            .as("jaccard_milli"))
        .filter(col("jaccard_milli") >= 300)
        .orderBy(col("a").asc, col("b").asc)
    },
      """WITH t AS (SELECT doc_id, source,
        |  list_distinct([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS g
        |  FROM (SELECT doc_id, source,
        |        string_split_regex(trim(lower(text)), '\s+') AS s FROM documents))
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) * 1000.0
        |    / len(list_distinct(a.g || b.g))) AS BIGINT) AS jaccard_milli
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) * 1000.0
        |    / len(list_distinct(a.g || b.g))) AS BIGINT) >= 300
        |ORDER BY a ASC, b ASC""".stripMargin),

    // ---- duplicate CLUSTERS: connected components over the >= 0.9
    // jaccard pair graph; component = canonical (min) doc id ----
    QuerySpec("dedup_components", (s, dir) => {
      val pairs = Dedup.jaccardPairsWithin(
        s.read.parquet(s"$dir/documents.parquet"), "source", 0.9)
      Dedup.connectedComponents(pairs.select(col("a"), col("b")))
        .select(col("node").as("doc_id"), col("component"))
        .orderBy(col("doc_id").asc)
    },
      """WITH RECURSIVE t AS (SELECT doc_id, source,
        |  list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |e AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) * 1000.0
        |    / len(list_distinct(a.w || b.w))) AS BIGINT) >= 900),
        |und AS (SELECT a AS s, b AS d FROM e UNION SELECT b, a FROM e),
        |walk(n, lbl) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
        |  UNION
        |  SELECT u.d, w.lbl FROM walk w JOIN und u ON u.s = w.n)
        |SELECT n AS doc_id, min(lbl) AS component
        |FROM walk GROUP BY n
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- survivor selection: keep the highest-quality member of
    // each near-dup component (tie -> smallest id); singletons
    // survive trivially — the verdict step after pair detection ----
    QuerySpec("dedup_survivors", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.jaccardPairsWithin(docs, "source", 0.9)
      Dedup.nearDupSurvivors(docs, pairs,
          graft.operators.TextAnalysis.qualityMilli(col("text")))
        .orderBy(col("doc_id").asc)
    },
      s"""WITH RECURSIVE t AS (SELECT doc_id, source, text,
        |  list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS w,
        |  string_split_regex(trim(lower(text)), '\\s+') AS toks,
        |  CAST(length(text) AS DOUBLE) AS n_chars
        |  FROM documents),
        |e AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) * 1000.0
        |    / len(list_distinct(a.w || b.w))) AS BIGINT) >= 900),
        |und AS (SELECT a AS s, b AS d FROM e UNION SELECT b, a FROM e),
        |walk(n, lbl) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
        |  UNION
        |  SELECT u.d, w.lbl FROM walk w JOIN und u ON u.s = w.n),
        |comp AS (SELECT n AS doc_id, min(lbl) AS component
        |  FROM walk GROUP BY n),
        |sc AS (SELECT t.doc_id,
        |    COALESCE(c.component, t.doc_id) AS component,
        |    $qualityExprSql AS score
        |  FROM t LEFT JOIN comp c ON c.doc_id = t.doc_id),
        |b AS (SELECT component,
        |    min(struct_pack(neg := -score, bid := doc_id)) AS best,
        |    CAST(count(*) AS BIGINT) AS n_members
        |  FROM sc GROUP BY component)
        |SELECT best.bid AS doc_id, component, n_members,
        |  -best.neg AS score
        |FROM b ORDER BY doc_id ASC""".stripMargin),

    // ---- leakage-safe split: near-dup components never straddle
    // train/val/test — the duplicate GROUP's hash decides membership
    // for every member ----
    QuerySpec("dedup_leak_safe_split", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.jaccardPairsWithin(docs, "source", 0.9)
      Dedup.leakSafeSplit(docs, pairs.select(col("a"), col("b")),
          Seq(("train", 900), ("val", 50), ("test", 50)))
        .orderBy(col("doc_id").asc)
    },
      leakSafeSplitOracle),

    // ---- embedding near-dup, exact within label group ----
    QuerySpec("dedup_embedding_neardup", (s, dir) => {
      Dedup.embeddingPairsWithin(
          s.read.parquet(s"$dir/embeddings.parquet"), "label", 0.6)
        .orderBy(col("a").asc, col("b").asc)
    },
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  CAST(round((1 - list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))) * 1000) AS BIGINT) AS dist_milli
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE CAST(round((1 - list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))) * 1000) AS BIGINT) < 600
        |ORDER BY a ASC, b ASC""".stripMargin),

    // ---- SemDeDup: cluster-then-prune semantic dedup (seed centroids
    // so the assignment is oracle-reproducible; prod passes IVF
    // centroids) ----
    QuerySpec("dedup_semantic", (s, dir) => {
      val e = emb(s, dir)
      Dedup.semanticDedup(e, Dedup.seedCentroids(e, 8), tauMilli = 600L)
        .orderBy(col("vec_id").asc)
    },
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e
         |      ORDER BY vec_id ASC LIMIT 8),
         |d AS (SELECT e.vec_id, c.cid,
         |        CAST(round(${duckCos("e.v", "c.cv")} * 1000) AS BIGINT) AS dm
         |      FROM e CROSS JOIN c),
         |asg AS (SELECT vec_id, cid AS cluster FROM
         |          (SELECT vec_id, cid, row_number() OVER
         |             (PARTITION BY vec_id ORDER BY dm ASC, cid ASC) AS rn
         |           FROM d)
         |        WHERE rn = 1),
         |t AS (SELECT asg.vec_id, asg.cluster, e.v
         |      FROM asg JOIN e USING (vec_id)),
         |p AS (SELECT b.vec_id AS vec_id, a.vec_id AS neighbor, b.cluster,
         |        CAST(round(${duckCos("a.v", "b.v")} * 1000) AS BIGINT) AS dm
         |      FROM t a JOIN t b
         |        ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |SELECT vec_id, min(neighbor) AS canonical, cluster,
         |       min_by(dm, neighbor) AS dist_milli
         |FROM p WHERE dm < 600
         |GROUP BY vec_id, cluster
         |ORDER BY vec_id ASC""".stripMargin),

    // ---- charset SIGNAL PARITY through the dedup family: every
    // doc's text round-trips a residue-rotated charset (BOM'd UTF-8 /
    // cp1252 / Shift_JIS / GBK / declared UTF-8) through the
    // sniff+decode chain BEFORE minhash signing — the signatures
    // must equal the plain-text row's exactly (same oracle), proving
    // near-dup signals do not degrade on a mixed-charset corpus ----
    QuerySpec("dedup_minhash_charset", (s, dir) => {
      import graft.functions._
      val r = col("doc_id") % 5
      val label = element_at(array(lit("utf-8"), lit("windows-1252"),
        lit("shift_jis"), lit("gbk"), lit("utf-8")),
        (r + 1).cast("int"))
      val encoded = vfs_charset_encode(col("text"), label)
      val bom = lit(Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte))
      val body = when(r === 0, concat(bom, encoded)).otherwise(encoded)
      val ct = when(r === 0, lit(null).cast("string"))
        .otherwise(concat(lit("text/html; charset="), label))
      val params = Dedup.minHashParams(32)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          Dedup.minHashPortableSig(
            vfs_charset_decode(body, ct), params).as("sig"))
        .select(col("doc_id"),
          aggregate(col("sig"), lit(0L), (a, x) => a + x).as("sig_sum"),
          array_min(col("sig")).as("sig_min"))
        .orderBy(col("doc_id").asc)
    },
      // charset signal parity: the mixed-charset round-trip must leave
      // minhash signatures EXACTLY equal to the plain-text row's —
      // same oracle as dedup_minhash_sig
      minHashSigOracle),

    // ---- the full text→vector→semantic-dedup composition: raw text
    // featurized in-engine, then SemDeDup over the derived embeddings —
    // no external model anywhere, and DuckDB reproduces the whole
    // pipeline bit-for-bit ----
    QuerySpec("dedup_semantic_text", (s, dir) => {
      val e = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.hashEmbedding(col("text"), 64)
            .as("embedding"))
      Dedup.semanticDedup(e, Dedup.seedCentroids(e, 8, idCol = "doc_id"),
          tauMilli = 100L, idCol = "doc_id")
        .orderBy(col("doc_id").asc)
    },
      dedupSemanticTextOracle),

    // ---- portable minhash signatures: sig[i] = min over the word set
    // of (a_i·x + b_i) mod P with x = md5-derived 60-bit word hash —
    // hash-matches the DuckDB oracle's fold over the same constants ----
    QuerySpec("dedup_minhash_sig", (s, dir) => {
      val params = Dedup.minHashParams(32)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          Dedup.minHashPortableSig(col("text"), params).as("sig"))
        .select(col("doc_id"),
          aggregate(col("sig"), lit(0L), (a, x) => a + x).as("sig_sum"),
          array_min(col("sig")).as("sig_min"))
        .orderBy(col("doc_id").asc)
    },
      minHashSigOracle),

    // ---- MinHash-LSH global near-dup: the FULL pipeline (portable
    // FNV+affine signatures, slice banding, cap, jaccard verify) is
    // reproduced by minHashLshOracle and hash-matches ----
    QuerySpec("dedup_minhash_lsh", (s, dir) => {
      Dedup.minHashLsh(s.read.parquet(s"$dir/documents.parquet"),
          threshold = 0.9)
        .orderBy(col("a").asc, col("b").asc)
    },
      minHashLshOracle),

    // ---- containment near-dup: the SAME 64-hash signatures resliced
    // into 32x2 low-threshold bands, verified with
    // |A∩B|/min(|A|,|B|) — catches a doc swallowed by a longer one
    // where symmetric jaccard goes arbitrarily small ----
    QuerySpec("dedup_containment", (s, dir) => {
      Dedup.containmentPairs(s.read.parquet(s"$dir/documents.parquet"),
          threshold = 0.9)
        .orderBy(col("a").asc, col("b").asc)
    },
      containmentOracle),

    // ---- SimHash near-dup pairs (portable 60-bit sigs; the 4×15-bit
    // band LSH output provably equals the all-pairs hamming ≤ 3 result
    // the oracle computes — no false negatives by pigeonhole, no false
    // positives after the hamming filter) ----
    QuerySpec("dedup_simhash", (s, dir) => {
      Dedup.simHashPairsPortable(s.read.parquet(s"$dir/documents.parquet"),
          maxHamming = 3)
        .orderBy(col("a").asc, col("b").asc)
    },
      simHashOracle),

    // ---- incremental dedup, index-accelerated: the CDC delta
    // (vec_id 300..449) probed as ONE batch against the standing IVF
    // index over the base corpus; rows whose nearest base neighbor is
    // farther than τ are novel (kept). Full probe ⇒ exact nearest
    // distances, so the row hash-matches the oracle's min-distance
    // cross join; at production nProbe the same pipeline is the
    // approximate nightly-ingest novelty filter ----
    QuerySpec("dedup_incremental_index", (s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("values"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-inc-idx").toString
      graft.operators.IvfIndex.build(base, idx, nCentroids = 8,
        Metric.Euclidean)
      val delta = e.filter(col("vec_id") >= 300 && col("vec_id") < 450)
        .select(col("vec_id").as("qid"), col("embedding").as("qvalues"))
      graft.operators.IvfIndex.searchBatch(s, idx, delta, k = 1,
          nProbe = 8)
        .select(col("qid").as("vec_id"),
          milli(col("distance")).as("nn_milli"))
        .filter(col("nn_milli") > 1140)
        .orderBy(col("vec_id").asc)
    },
      // exact nearest-base-neighbor distance per delta vector; novel =
      // farther than τ = 1.140 from everything already ingested
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 300),
        |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 300 AND vec_id < 450),
        |nn AS (SELECT d.vec_id, min(list_distance(d.v, base.v)) AS dist
        |  FROM d, base GROUP BY d.vec_id)
        |SELECT vec_id, CAST(round(dist * 1000) AS BIGINT) AS nn_milli
        |FROM nn WHERE round(dist * 1000) > 1140
        |ORDER BY vec_id ASC""".stripMargin),

    // ---- incremental TEXT dedup over the standing LSH band index:
    // corpus docs (id >= 100) pay the minhash/banding pass ONCE at
    // build/append; the delta (id < 100) is banded fresh and joined
    // against the persisted triples, then candidates verify by exact
    // jaccard. Same verified pairs as a fresh minHashLshJoin
    // (spec-pinned) — but probe cost ∝ delta, not corpus ----
    QuerySpec("dedup_incremental_lsh", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(col("doc_id") >= 100)
      val delta = docs.filter(col("doc_id") < 100)
      val idx = java.nio.file.Files
        .createTempDirectory("verify-lsh-idx").toString
      graft.operators.LshTextIndex.build(
        corpus.filter(col("doc_id") < 300), idx)
      graft.operators.LshTextIndex.append(
        corpus.filter(col("doc_id") >= 300), idx)
      graft.operators.LshTextIndex.probe(s, idx, delta, corpus,
          threshold = 0.9)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    },
      minHashLshIncOracle),

    // ---- the takedown twin: same build+append lifecycle, then ids
    // 300-349 are HARD-DELETED from the standing band table before
    // the probe — deleted docs must never reappear as candidates,
    // and the bucket cap applies to the post-delete table (current
    // buckets, exactly as a fresh join would see them) ----
    QuerySpec("dedup_lsh_takedown", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(col("doc_id") >= 100)
      val delta = docs.filter(col("doc_id") < 100)
      val idx = java.nio.file.Files
        .createTempDirectory("verify-lsh-del").toString
      graft.operators.LshTextIndex.build(
        corpus.filter(col("doc_id") < 300), idx)
      graft.operators.LshTextIndex.append(
        corpus.filter(col("doc_id") >= 300), idx)
      val removed = graft.operators.LshTextIndex.deleteIds(s, idx,
        (300L until 350L).map(v => v: Any))
      require(removed > 0L, "[GRAFT] takedown removed no band rows")
      graft.operators.LshTextIndex.probe(s, idx, delta, corpus,
          threshold = 0.9)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    },
      // takedown twin: the stored side excludes the hard-deleted ids,
      // and the bucket cap re-evaluates over the post-delete table
      minHashLshIncOracleWhere(
      "doc_id >= 100 AND doc_id NOT BETWEEN 300 AND 349"))
  )

  /** Dedup.leakSafeSplit twin: the dedup_components recursive CTE
    * feeds each doc's duplicate-group canonical id (singletons are
    * their own group), then pmod(signed FNV of the group id's decimal
    * string, 1000) picks the split for the WHOLE group. */
  private def leakSafeSplitOracle: String = {
    val fnvG = s"((${duckSigned(duckFnvFold(duckUtf8BytesOf(
      "CAST(g AS VARCHAR)")))} % 1000) + 1000) % 1000"
    s"""WITH RECURSIVE t AS (SELECT doc_id, source,
       |  list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |  FROM documents),
       |e AS (SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
       |  WHERE CAST(round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) * 1000.0
       |    / len(list_distinct(a.w || b.w))) AS BIGINT) >= 900),
       |und AS (SELECT a AS s, b AS d FROM e UNION SELECT b, a FROM e),
       |walk(n, lbl) AS (
       |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
       |  UNION
       |  SELECT u.d, w.lbl FROM walk w JOIN und u ON u.s = w.n),
       |comp AS (SELECT n AS doc_id, min(lbl) AS component
       |  FROM walk GROUP BY n),
       |c AS (SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS g
       |  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id)
       |SELECT doc_id, g AS group_id,
       |  CASE WHEN $fnvG < 900 THEN 'train'
       |       WHEN $fnvG < 950 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM c ORDER BY doc_id ASC""".stripMargin
  }

  /** Reproduces the engine's FULL banded pipeline including the
    * `maxBucket` = 1000 cap — at sf0.1 several (band, bval) buckets
    * exceed the cap, so a plain all-pairs oracle diverges there; this
    * one hash-matches at every sf and thereby verifies the cap
    * semantics themselves. */
  private def simHashOracle: String =
    s"""WITH t AS (SELECT doc_id,
       |  list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
       |  FROM documents),
       |h AS (SELECT doc_id, list_transform(toks, w -> ${duckHex15("w")}) AS hs FROM t),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60),
       |    j -> CASE WHEN 2 * len(list_filter(hs, x -> ((x >> j) & 1) = 1)) > len(hs)
       |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
       |  FROM h),
       |${sigBandFoldTail(15)}""".stripMargin

  /** Containment twin of [[minHashLshOracle]]: the SAME 64-hash
    * signatures resliced into 32 bands x 2 rows (the low-threshold
    * banding), verified with 1000·|A∩B|/min(|A|,|B|) ≥ 900. */
  private def containmentOracle: String =
    s"""WITH $minHashSigCtes,
       |bb AS (SELECT doc_id, band, sig[band*2+1 : band*2+2] AS bsig
       |  FROM (SELECT doc_id, sig, unnest(range(0, 32)) AS band FROM s)),
       |capped AS (SELECT doc_id, band, bsig FROM bb
       |  QUALIFY count(*) OVER (PARTITION BY band, bsig) <= 1000),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |v AS (SELECT cand.a, cand.b,
       |    CAST(round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE) * 1000.0
       |      / least(len(wa.ws), len(wb.ws))) AS BIGINT) AS containment_milli
       |  FROM cand JOIN w wa ON wa.doc_id = cand.a
       |            JOIN w wb ON wb.doc_id = cand.b)
       |SELECT a, b, containment_milli FROM v
       |WHERE containment_milli >= 900
       |ORDER BY a ASC, b ASC""".stripMargin

  /** Probe-vs-index twin of [[minHashLshOracle]]: the stored (corpus)
    * side is doc_id >= 100 with the bucket cap applied over ITS band
    * table only; the delta (doc_id < 100) bands uncapped — exactly
    * [[operators.LshTextIndex.probe]]'s semantics. */
  private def minHashLshIncOracle: String =
    minHashLshIncOracleWhere("doc_id >= 100")

  /** [[minHashLshIncOracle]] with a caller-chosen stored-side
    * predicate — the takedown twin restricts the corpus to the
    * post-delete survivors (and the bucket cap re-evaluates over
    * exactly that table, the artifact's probe-time-cap contract). */
  private def minHashLshIncOracleWhere(storedWhere: String): String =
    s"""WITH $minHashBandCtes,
       |capped AS (SELECT doc_id, band, bsig FROM bb WHERE $storedWhere
       |  QUALIFY count(*) OVER (PARTITION BY band, bsig) <= 1000),
       |cand AS (SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS corpus_id
       |  FROM (SELECT * FROM bb WHERE doc_id < 100) p JOIN capped c
       |    ON p.band = c.band AND p.bsig = c.bsig),
       |v AS (SELECT cand.probe_id, cand.corpus_id,
       |    CAST(round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE) * 1000.0
       |      / len(list_distinct(wa.ws || wb.ws))) AS BIGINT) AS jaccard_milli
       |  FROM cand JOIN w wa ON wa.doc_id = cand.probe_id
       |            JOIN w wb ON wb.doc_id = cand.corpus_id)
       |SELECT probe_id, corpus_id, jaccard_milli FROM v
       |WHERE jaccard_milli >= 900
       |ORDER BY probe_id ASC, corpus_id ASC""".stripMargin

  private def minHashSigOracle: String = {
    val params = operators.Dedup.minHashParams(32)
    val paramsList = params.map { case (a, b) => s"[$a, $b]" }
      .mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, list_transform(
       |    list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
       |    w -> ${duckHex15("w")} % 2147483647) AS xs FROM documents),
       |s AS (SELECT doc_id, list_transform($paramsList,
       |    p -> list_min(list_transform(xs, x -> (p[1] * x + p[2]) % 2147483647))) AS sig
       |  FROM t)
       |SELECT doc_id, CAST(list_sum(sig) AS BIGINT) AS sig_sum,
       |  CAST(list_min(sig) AS BIGINT) AS sig_min
       |FROM s ORDER BY doc_id ASC""".stripMargin
  }

  private def dedupSemanticTextOracle: String =
    s"""WITH $hashedBowCtes,
       |e AS (SELECT doc_id, CAST(list_transform(cnts,
       |        x -> CAST(CASE WHEN nrm > 0 THEN x / nrm ELSE 0 END AS REAL))
       |        AS DOUBLE[]) AS v FROM n),
       |cc AS (SELECT doc_id AS cid, v AS cv FROM e
       |       ORDER BY doc_id ASC LIMIT 8),
       |dd AS (SELECT e.doc_id, cc.cid,
       |        CAST(round(${duckCos("e.v", "cc.cv")} * 1000) AS BIGINT) AS dm
       |      FROM e CROSS JOIN cc),
       |asg AS (SELECT doc_id, cid AS cluster FROM
       |          (SELECT doc_id, cid, row_number() OVER
       |             (PARTITION BY doc_id ORDER BY dm ASC, cid ASC) AS rn
       |           FROM dd)
       |        WHERE rn = 1),
       |tt AS (SELECT asg.doc_id, asg.cluster, e.v
       |      FROM asg JOIN e USING (doc_id)),
       |p AS (SELECT bb.doc_id AS doc_id, aa.doc_id AS neighbor, bb.cluster,
       |        CAST(round(${duckCos("aa.v", "bb.v")} * 1000) AS BIGINT) AS dm
       |      FROM tt aa JOIN tt bb
       |        ON aa.cluster = bb.cluster AND aa.doc_id < bb.doc_id)
       |SELECT doc_id, min(neighbor) AS canonical, cluster,
       |       min_by(dm, neighbor) AS dist_milli
       |FROM p WHERE dm < 100
       |GROUP BY doc_id, cluster
       |ORDER BY doc_id ASC""".stripMargin
}
