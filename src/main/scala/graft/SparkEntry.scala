package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.{Dedup, Knn, Metric, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB-equivalent `oracleSql` where SQL can
  * express the semantics.
  *
  * Conventions for oracle determinism (engine-portable hashing):
  *   - outputs carry only BIGINT / STRING columns (doubles are rounded
  *     and scaled to integers: distances ×1000 → `dist_milli`, money
  *     ×100 → `*_c`)
  *   - every query ends with a total deterministic ORDER BY (rounded
  *     measure + unique key tiebreak) expressed identically in Spark
  *     and the oracle SQL
  */
object SparkEntry {

  /** Flagship: exact cosine top-5 around a stored embedding on sf0.001
    * (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val q = emb.filter(col("id") === 1L).head().getSeq[Float](1).toArray
    Knn.exact(emb, q, 5, Metric.Cosine)
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** events.parquet's time column has shifted logical type between
    * rounds (TIMESTAMP(NANOS)-as-LONG, then TIMESTAMP(MICROS) NTZ);
    * normalize every flavor to a plain TIMESTAMP here so downstream
    * operators see one type (see [[graft.operators.TimeNorm]]). */
  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeNorm.normalize(
      s.read.parquet(s"$dir/events.parquet"), "ts")

  private def queryVec(s: SparkSession, dir: String, id: Long): Array[Float] =
    emb(s, dir).filter(col("vec_id") === id)
      .head().getSeq[Float](1).toArray

  /** rounded-integer distance column */
  private def milli(c: org.apache.spark.sql.Column) =
    round(c * 1000).cast("long")

  /** Resolve a sibling scale-factor directory of `dir` (e.g. the
    * sf0.1 twin of .../sf0.01); falls back to `dir` itself when the
    * sibling is absent so the query still runs standalone. */
  private[graft] def siblingSf(dir: String, sf: String): String = {
    val sib = java.nio.file.Paths.get(dir).toAbsolutePath
      .resolveSibling(sf)
    if (java.nio.file.Files.isDirectory(sib)) sib.toString else dir
  }

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

  // DuckDB fragments: cast FLOAT[] to DOUBLE[] so accumulation is in
  // double, matching the Spark expressions
  private val qSub =
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 1)"
  private def duckCos(a: String, b: String) =
    s"(1 - list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"

  /** Mirrors [[graft.operators.Mining.marginCandidates]] over the
    * even/odd vec_id halves at k=4: brute-force cosine both ways,
    * rank by raw distance (asc, id asc — the engine's top-k tie
    * convention), micro-quantize per neighbor BEFORE summing (exact
    * integer sums, no float order hazard), then the one pinned
    * margin chain round(2000·sim_micro / (fwd_sum/fwd_n +
    * bwd_sum/bwd_n)) — each side averaged over its ACTUAL neighbor
    * count, so sub-k neighborhoods don't inflate the margin. */
  private def miningMarginCtes: String =
    s"WITH ${miningMarginCtesDir("", 0, 1)}"

  /** The directional CTE body (no leading WITH): `p` prefixes every
    * CTE name so the mutual oracle can instantiate BOTH directions in
    * one query; src/tgt are the vec_id parities of the two halves. */
  private def miningMarginCtesDir(p: String, srcPar: Int,
      tgtPar: Int): String =
    s"""${p}e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${p}src AS (SELECT vec_id AS sid, v AS sv FROM ${p}e WHERE vec_id % 2 = $srcPar),
       |${p}tgt AS (SELECT vec_id AS tid, v AS tv FROM ${p}e WHERE vec_id % 2 = $tgtPar),
       |${p}fscore AS (SELECT sid, tid, ${duckCos("sv", "tv")} AS d
       |  FROM ${p}src CROSS JOIN ${p}tgt),
       |${p}f4 AS (SELECT sid, tid,
       |    CAST(round((1 - d) * 1000000) AS BIGINT) AS sim_micro,
       |    row_number() OVER (PARTITION BY sid ORDER BY d ASC, tid ASC) AS rk
       |  FROM ${p}fscore QUALIFY rk <= 4),
       |${p}fsum AS (SELECT sid, CAST(sum(sim_micro) AS BIGINT) AS fwd_sum,
       |    count(*) AS fwd_n
       |  FROM ${p}f4 GROUP BY sid),
       |${p}bscore AS (SELECT t.tid, s.sid, ${duckCos("s.sv", "t.tv")} AS d
       |  FROM (SELECT DISTINCT tid FROM ${p}f4) c
       |  JOIN ${p}tgt t USING (tid) CROSS JOIN ${p}src s),
       |${p}b4 AS (SELECT tid,
       |    CAST(round((1 - d) * 1000000) AS BIGINT) AS sim_micro,
       |    row_number() OVER (PARTITION BY tid ORDER BY d ASC, sid ASC) AS rk
       |  FROM ${p}bscore QUALIFY rk <= 4),
       |${p}bsum AS (SELECT tid, CAST(sum(sim_micro) AS BIGINT) AS bwd_sum,
       |    count(*) AS bwd_n
       |  FROM ${p}b4 GROUP BY tid),
       |${p}m AS (SELECT f.sid AS src_id, f.tid AS tgt_id, f.sim_micro,
       |    CASE WHEN CAST(fs.fwd_sum AS DOUBLE) / fs.fwd_n
       |        + CAST(bs.bwd_sum AS DOUBLE) / bs.bwd_n > 0 THEN
       |      CAST(round(2000.0 * f.sim_micro
       |        / (CAST(fs.fwd_sum AS DOUBLE) / fs.fwd_n
       |          + CAST(bs.bwd_sum AS DOUBLE) / bs.bwd_n)) AS BIGINT)
       |    END AS margin_milli
       |  FROM ${p}f4 f JOIN ${p}fsum fs USING (sid)
       |    JOIN ${p}bsum bs ON f.tid = bs.tid),
       |${p}ranked AS (SELECT src_id, tgt_id, sim_micro, margin_milli,
       |    row_number() OVER (PARTITION BY src_id
       |      ORDER BY margin_milli DESC, tgt_id ASC) AS cand_rank
       |  FROM ${p}m WHERE margin_milli IS NOT NULL)""".stripMargin

  /** The quarantine fixture both the batch and streaming rows share:
    * the PPM image corpus (doc_id·3+2 → id % 3 = 2) with every 37th
    * asset truncated to its first 20 bytes — the magic survives (a
    * sniffer would still route it into the image family) but any PPM
    * needs ≥ 23 bytes (11-byte header + one 12-byte row), so the
    * decode of a truncated asset always throws. */
  private def corruptedPpmCorpus(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.operators.MediaRecord] = {
    import s.implicits._
    val img = s.read.parquet(s"$dir/documents.parquet")
      .select((col("doc_id") * 3 + 2).as("doc_id"), col("text"))
    graft.operators.Multimodal.synthesizeMedia(img).toDF()
      .withColumn("media",
        when(col("doc_id") % 37 === 0, expr("substring(media, 1, 20)"))
          .otherwise(col("media")))
      .withColumn("n_bytes", length(col("media")).cast("long"))
      .as[graft.operators.MediaRecord]
  }

  /** The synthesized HTML page the `web_html_*` rows share: the
    * document text ESCAPED into a page with every extractor hazard
    * planted — a title with entities + newline, a style element, a
    * comment, a script whose body contains markup-looking strings
    * and `<` comparisons, numeric+hex character references, and two
    * links (double- and single-quoted, one with an entity). The
    * escaping is exactly invertible, so the oracle derives the
    * expected extraction from the ORIGINAL text column. */
  private[graft] def htmlPageOf(id: Column, text: Column): Column = {
    val esc = regexp_replace(regexp_replace(regexp_replace(text,
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<!DOCTYPE html><html><head><title> Doc &amp;\n  "), id,
      lit(" </title><style>p{color:red}</style></head>\n" +
        "<body><!-- nav bar -->" +
        "<script type=\"text/javascript\">if(a<b){x=\"<div>y</div>\";}" +
        "</script>\n" +
        "<div class=\"main\"><h1>Doc &#72;&#x65;ading</h1>\n<p>"),
      esc,
      lit("</p>\n<a href=\"https://ex.com/a?id="), id,
      lit("&amp;x=1\">one</a> and <a href='/rel/"), id,
      lit("'>two</a>\n</div></body></html>"))
  }

  /** The chrome-laden page the `web_html_extract_main` row uses: a
    * nav menu, header banner, aside, cookie-consent form, and footer
    * around the invertible `<main>` payload. The chrome text is
    * page-UNIQUE per doc (the footer carries the id), so the
    * corpus-frequency boilerplate pass could not catch it — only
    * container-scoped suppression can. */
  private def chromePageOf(id: Column, text: Column): Column = {
    val esc = regexp_replace(regexp_replace(regexp_replace(text,
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<html><head><title>Main "), id,
      lit("</title></head><body>" +
        "<nav><ul><li><a href=\"/\">Home</a></li><li>About</li></ul></nav>" +
        "<header><h1>Site Chrome</h1></header>" +
        "<aside>Related stuff</aside>" +
        "<form action=\"/q\">We use cookies<input value=\"ok\"></form>" +
        "<main><h1>Doc "), id,
      lit("</h1><p>"), esc,
      lit("</p></main><footer>(c) site "), id,
      lit("</footer></body></html>"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- P1: point lookup (storage_manager.rs:235-296) ----
    "p1_point_lookup" -> ((s, dir) => {
      emb(s, dir).filter(col("vec_id") === 42L)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          size(col("embedding")).cast("long").as("dim"))
    }),

    // ---- Q2/Q4: exact kNN, euclidean (rank.rs:119-186, 281-287) ----
    "q2_knn_euclidean" -> ((s, dir) => {
      val q = queryVec(s, dir, 1L)
      emb(s, dir)
        .select(col("vec_id"),
          milli(vfs_euclidean(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- Q2/Q5: exact kNN, cosine (rank.rs:290-300) ----
    "q5_knn_cosine" -> ((s, dir) => {
      val q = queryVec(s, dir, 1L)
      emb(s, dir)
        .select(col("vec_id"),
          milli(vfs_cosine(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- Q6: simd_* aliases via SQL registration (rank.rs:14-56) ----
    "q6_knn_simd_cosine" -> ((s, dir) => {
      graft.functions.registerAll(s)
      emb(s, dir).createOrReplaceTempView("graft_emb")
      val q = queryVec(s, dir, 1L)
      val qLit = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ",", ")")
      s.sql(
        s"""SELECT vec_id,
           |       CAST(round(simd_cosine(embedding, $qLit) * 1000) AS BIGINT) AS dist_milli
           |FROM graft_emb
           |ORDER BY dist_milli ASC, vec_id ASC
           |LIMIT 10""".stripMargin)
    }),

    // ---- binary (1-bit sign) quantization prefilter + exact re-rank:
    // candidates by XOR+popcount Hamming over 64-dim-per-word packed
    // embeddings (deterministic (ham, id) tie order), then exact
    // euclidean on the 5x-oversampled survivors. The 32x-compression
    // coarse tier below the store's int8 codec (C1/C2). ----
    "q_binary_hamming_knn" -> ((s, dir) => {
      val q = queryVec(s, dir, 1L)
      val qPacked = vfs_binary_quantize(typedLit(q))
      emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          vfs_hamming(vfs_binary_quantize(col("embedding")), qPacked)
            .as("ham"))
        // null-element rows pack to NULL ham — exclude them, or the
        // default NULLS FIRST ascending sort would park them at the
        // top of every candidate list
        .filter(col("ham").isNotNull)
        .orderBy(col("ham").asc, col("vec_id").asc)
        .limit(50)
        .select(col("vec_id"), col("ham"),
          milli(vfs_euclidean(col("embedding"), typedLit(q)))
            .as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    }),
    // PERSISTED twin: the same coarse tier probing a standing packed
    // sidecar ([[graft.operators.BinaryIndex]]) — the scan reads the
    // 1-bit words (32x fewer bytes), never re-packs the floats, and
    // must land on the identical result (same oracle SQL)
    "q_binary_hamming_indexed" -> ((s, dir) => {
      val idx = java.nio.file.Files
        .createTempDirectory("verify-binidx").toString
      graft.operators.BinaryIndex.build(emb(s, dir), idx)
      val q = queryVec(s, dir, 1L)
      graft.operators.BinaryIndex
        .candidates(s, idx, q.toArray, n = 50)
        .join(emb(s, dir), col("id") === col("vec_id"))
        .select(col("vec_id"), col("ham"),
          milli(vfs_euclidean(col("embedding"), typedLit(q)))
            .as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- pure-SQL surface: the vfs_knn TABLE-valued function end to
    // end from SQL text (tcp.rs:107-150 exposes the reference's whole
    // API over one endpoint; the Spark analog is everything reachable
    // from spark.sql). TVF k=20 then re-rank by rounded millis: the
    // oracle ranks by the ROUNDED value, so the raw-distance top-k is
    // over-fetched to make the rounded top-10 exact. ----
    // ---- lexical retrieval from pure SQL text: the vfs_bm25 TVF is
    // the same codegen scoring scan as text_bm25 (identical terms), so
    // it must land on identical milli scores ----
    // LM scoring from pure SQL text — the self-scoring TVF form;
    // shares text_lm_score's oracle (same model, same integers)
    "sql_tvf_lm" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT doc_id, n_bigrams, mean_invp_milli
           |FROM vfs_lm_score('$dir/documents.parquet')
           |ORDER BY doc_id ASC""".stripMargin)
    }),

    "sql_tvf_bm25" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT doc_id, score_milli
           |FROM vfs_bm25('$dir/documents.parquet',
           |              '${Bm25Terms.mkString(" ")}')
           |ORDER BY doc_id ASC""".stripMargin)
    }),

    "sql_tvf_knn" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val q = queryVec(s, dir, 1L)
      val qLit = q.map(x => s"CAST('$x' AS FLOAT)").mkString("array(", ",", ")")
      s.sql(
        s"""SELECT vec_id, CAST(round(distance * 1000) AS BIGINT) AS dist_milli
           |FROM vfs_knn('$dir/embeddings.parquet', 20, 'cosine', $qLit,
           |             'embedding', 'vec_id')
           |ORDER BY dist_milli ASC, vec_id ASC
           |LIMIT 10""".stripMargin)
    }),

    // the binary coarse tier from pure SQL text: the TVF returns the
    // 50-candidate set (id, ham, exact distance) and the outer query
    // applies the same milli re-rank the DataFrame form uses — shares
    // q_binary_hamming_knn's oracle derivation
    "sql_tvf_binary_knn" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val q = queryVec(s, dir, 1L)
      val qLit = q.map(x => s"CAST('$x' AS FLOAT)").mkString("array(", ",", ")")
      s.sql(
        s"""SELECT vec_id, ham,
           |  CAST(round(distance * 1000) AS BIGINT) AS dist_milli
           |FROM vfs_binary_knn('$dir/embeddings.parquet', $qLit, 50,
           |                    'embedding', 'vec_id')
           |ORDER BY dist_milli ASC, vec_id ASC
           |LIMIT 10""".stripMargin)
    }),

    // ---- the SAME SQL text as sql_tvf_knn, but ROUTED: a registered
    // IVF index turns the scan into the deferred IvfProbe leaf (the
    // index-scan analog), asserted on the plan; nProbe = nCentroids
    // makes the probe exhaustive, so the result must hash-match the
    // EXACT oracle — certifying the routed executor end-to-end ----
    "sql_tvf_knn_routed" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-ivf-route").toString
      graft.operators.IvfIndex.build(e, idx, nCentroids = 8,
        Metric.Cosine)
      val q = queryVec(s, dir, 1L)
      val qLit = q.map(x => s"CAST('$x' AS FLOAT)")
        .mkString("array(", ",", ")")
      graft.plans.IndexRegistry.register(s"$dir/embeddings.parquet",
        idx, idCol = "vec_id", vecCol = "embedding")
      val prev = s.conf.getOption("spark.graft.knn.nprobe")
      s.conf.set("spark.graft.knn.nprobe", "8") // full probe
      try {
        val df = s.sql(
          s"""SELECT vec_id, CAST(round(distance * 1000) AS BIGINT) AS dist_milli
             |FROM vfs_knn('$dir/embeddings.parquet', 20, 'cosine', $qLit,
             |             'embedding', 'vec_id')
             |ORDER BY dist_milli ASC, vec_id ASC
             |LIMIT 10""".stripMargin)
        require(df.queryExecution.analyzed.collectFirst {
            case p: graft.plans.IvfProbe => p
          }.nonEmpty,
          "[GRAFT] sql_tvf_knn_routed: KnnSearch was not routed to the " +
            "registered IVF index")
        // materialize BEFORE unregistering so the routed plan is the
        // one that executes, and later queries see a clean registry
        val rows = df.collect().toSeq
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          df.schema)
      } finally {
        graft.plans.IndexRegistry.unregister(s"$dir/embeddings.parquet")
        prev match {
          case Some(v) => s.conf.set("spark.graft.knn.nprobe", v)
          case None => s.conf.unset("spark.graft.knn.nprobe")
        }
      }
    }),

    // ---- pure-SQL text analysis: the pipeline functions reached
    // entirely through spark.sql over a temp view ----
    "sql_text_analyze" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.read.parquet(s"$dir/documents.parquet")
        .createOrReplaceTempView("graft_docs")
      s.sql("""SELECT doc_id,
              |  vfs_token_count(text) AS n_tokens,
              |  vfs_lang_id(text) AS lang_pred,
              |  vfs_quality_milli(text) AS quality_milli
              |FROM graft_docs ORDER BY doc_id ASC""".stripMargin)
    }),

    // ---- C1: quantize (vector.rs:94-125; storage path scale 127) ----
    "c1_quantize_checksum" -> ((s, dir) => {
      emb(s, dir)
        .select(col("vec_id"),
          aggregate(vfs_quantize(col("embedding"), lit(127.0f)),
            lit(0L), (acc, x) => acc + x.cast("long")).as("qsum"))
        .orderBy(col("vec_id").asc)
    }),

    // ---- C2: dequantize round-trip error (vector.rs:135-154) ----
    "c2_dequantize_roundtrip" -> ((s, dir) => {
      val dq = vfs_dequantize(
        vfs_quantize(col("embedding"), lit(127.0f)), lit(127.0f))
      emb(s, dir)
        .select(col("vec_id"),
          round(vfs_euclidean(col("embedding"), dq) * 1000000).cast("long")
            .as("err_micro"))
        .orderBy(col("vec_id").asc)
    }),

    // ---- J1: hydration join — top-k ids re-fetch full records
    // (tcp.rs:408-427) as a broadcast equi-join ----
    "j1_hydration_join" -> ((s, dir) => {
      val q = queryVec(s, dir, 1L)
      val top = emb(s, dir)
        .select(col("vec_id"),
          milli(vfs_cosine(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(5)
      top.join(broadcast(emb(s, dir).select(col("vec_id"),
          col("label").cast("long").as("label"))), Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
    }),

    // ---- general agg surface (Catalyst built-ins; SURVEY §2.7) ----
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("long").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
    }),

    // ---- join + agg + top-k (shuffle-heavy path; SURVEY §2.6) ----
    "q3_join_topk" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("long").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // ---- window top-k per group (SURVEY §2.8 W2 generalized) ----
    "w2_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("price_c").desc, col("o_orderkey").asc)
      o.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .orderBy(col("o_custkey").asc, col("rn").asc)
    }),

    // ---- analytic window suite: lag/lead/ntile/percent_rank ----
    "w3_analytics" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("price_c").asc, col("o_orderkey").asc)
      o.select(col("o_custkey"), col("o_orderkey"), col("price_c"),
          coalesce(lag(col("price_c"), 1).over(w), lit(-1L)).as("prev_c"),
          coalesce(lead(col("price_c"), 1).over(w), lit(-1L)).as("next_c"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w) * 1000).cast("long").as("prank_milli"))
        .orderBy(col("o_custkey").asc, col("price_c").asc,
          col("o_orderkey").asc)
    }),

    // ---- pivot: long -> wide with explicit value list ----
    "q_pivot" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity"))).cast("long"))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("qty_f"),
          coalesce(col("O"), lit(0L)).as("qty_o"))
        .orderBy(col("l_returnflag").asc)
    }),

    // ---- unpivot (melt): wide -> long ----
    "q_unpivot" -> ((s, dir) => {
      val wide = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice"))).cast("long").as("sum_price"))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")),
          "measure", "value")
        .orderBy(col("l_returnflag").asc, col("measure").asc)
    }),

    // ---- anti join: customers with no URGENT order (every customer
    // has SOME order in the synthetic data, so the unfiltered variant
    // would be a vacuous 0-row check) ----
    "q_anti_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment").asc)
    }),

    // ---- set op surface (SURVEY §2.9): user-days with clicks but no
    // purchases — EXCEPT over distinct composite keys ----
    "set_except" -> ((s, dir) => {
      val ev = events(s, dir)
      def days(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"),
          date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
        .distinct()
      days("click").except(days("purchase"))
        .orderBy(col("user_id").asc, col("day").asc)
    }),

    // ======== LLM-pipeline operators (north-star additions) ========

    // ---- exact dedup: hash-groupBy keep-first ----
    "dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("keeper"), col("cnt"))
        .orderBy(col("keeper").asc)
    }),

    // ---- C4-style passage-level global dedup: 3-word windows so the
    // small-vocab testdata actually produces cross-doc duplicates ----
    "dedup_passages" -> ((s, dir) => {
      Dedup.passageDedup(s.read.parquet(s"$dir/documents.parquet"),
          windowWords = 3)
        .orderBy(col("doc_id").asc)
    }),

    // ---- RefinedWeb-style corpus boilerplate-line removal: lines in
    // >= 5 distinct docs drop from ALL of them. The corpus is
    // single-line salad, so a multi-line page with REAL cross-doc
    // boilerplate is built per row (same construction in the oracle):
    // a global nav line, a per-source footer, a subscribe prompt on
    // every 3rd doc, two unique content lines, a unique doc footer,
    // and a blank line (dropped silently, counted neither way) ----
    "dedup_boilerplate_lines" -> ((s, dir) => {
      Dedup.stripBoilerplate(boilerplatePages(s, dir), minDocFreq = 5L)
        .orderBy(col("doc_id").asc)
    }),

    // ---- the INCREMENTAL form: the line table is a standing
    // artifact (LineIndex) — built on the first half of the corpus,
    // appended with the second (disjoint ids, so per-batch df sums to
    // the corpus df), then the whole corpus strips against the MERGED
    // counts; output bit-identical to the one-shot form, so the row
    // shares its oracle ----
    "dedup_incremental_boilerplate" -> ((s, dir) => {
      val page = boilerplatePages(s, dir)
      val idx = java.nio.file.Files
        .createTempDirectory("verify-lineidx").toString
      graft.operators.LineIndex.build(
        page.filter(col("doc_id") < 250), idx)
      graft.operators.LineIndex.appendIdempotent(
        page.filter(col("doc_id") >= 250), idx, batchId = 0L)
      graft.operators.LineIndex.strip(s, idx, page, minDocFreq = 5L)
        .orderBy(col("doc_id").asc)
    }),

    // ---- the SQL-text surface of boilerplate removal: the same
    // built pages go to parquet and the vfs_boilerplate TVF strips
    // them from pure SQL — shares the operator row's oracle ----
    "sql_tvf_boilerplate" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val page = boilerplatePages(s, dir)
      val in = java.nio.file.Files
        .createTempDirectory("verify-boiler-tvf").toString
      page.write.mode("overwrite").parquet(s"$in/pages")
      s.sql(
        s"""SELECT doc_id, n_kept, n_dropped, clean_text
           |FROM vfs_boilerplate('$in/pages', 5)
           |ORDER BY doc_id ASC""".stripMargin)
    }),

    // ---- the streaming boilerplate loop's single-batch run: batch 0
    // builds the standing LineIndex from its own counts and strips
    // itself against them — identical to the one-shot form, so the
    // row shares its oracle ----
    "stream_boilerplate" -> ((s, dir) => {
      val corpus = java.nio.file.Files
        .createTempDirectory("verify-boiler-ing").toString
      graft.streaming.Ingest.boilerplateBatch(
        boilerplatePages(s, dir), 0L, corpus, minDocFreq = 5L)
      s.read.parquet(s"$corpus/docs/batch=0")
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          col("clean_text"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- ExactSubstr (Lee et al. 2022): sliding 4-gram duplicate
    // detection merged into maximal keep-first spans — catches
    // duplication at ANY alignment, unlike the fixed passage blocks ----
    "dedup_substring_spans" -> ((s, dir) => {
      Dedup.duplicateSpans(s.read.parquet(s"$dir/documents.parquet"), k = 4)
        .orderBy(col("doc_id").asc, col("span_start").asc)
    }),

    // ---- the applied form: cut every duplicated span out of the text ----
    "dedup_substring_strip" -> ((s, dir) => {
      Dedup.stripDuplicateSpans(
          s.read.parquet(s"$dir/documents.parquet"), k = 4)
        .orderBy(col("doc_id").asc)
    }),

    // ---- the streaming decontamination loop, single-batch run (how
    // the oracle can see it): docs whose duplicated-token fraction
    // exceeds 0.5 drop, survivors land batch-addressed ----
    "stream_substring_dedup" -> ((s, dir) => {
      val corpus = java.nio.file.Files
        .createTempDirectory("verify-substr-ing").toString
      graft.streaming.Ingest.substringDedupBatch(
        s.read.parquet(s"$dir/documents.parquet"), batchId = 0L,
        corpusDir = corpus, k = 4, maxDupFrac = 0.5)
      s.read.parquet(s"$corpus/docs")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long")
            .as("n_tokens"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- streaming quality gate (single-batch run of the
    // filter-before-store ingest loop): a deterministic multi-line
    // page is built per doc (same construction in the oracle) —
    // every 7th doc trips the C4 page drop ('lorem ipsum {'), every
    // 5th fails Gopher's ellipsis-line rule (3 of 9 lines end
    // '...'), the rest pass both cascades and land with cleaned
    // text + headline signals ----
    "stream_quality_filter" -> ((s, dir) => {
      val page = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(
          lit("The quick section about "), substring(col("text"), 1, 40),
          lit(" ends well here.\nToo short.\n"),
          lit("Please enable JavaScript to continue reading now.\n"),
          substring(col("text"), 41, 80),
          lit("\nThis sentence is long enough to satisfy the filter.\n"),
          lit("We keep that pace and write of many decent things " +
            "here to finish."),
          when(col("doc_id") % 7 === 0, lit("\nlorem ipsum {"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\nwait for it...\nand more to come...\nstill going on..."))
            .otherwise(lit(""))).as("text"))
      val out = java.nio.file.Files
        .createTempDirectory("verify-quality-ing").toString
      graft.streaming.Ingest.qualityGateBatch(page, batchId = 0L,
        outDir = out, minWords = 5, minKeptLines = 1)
      s.read.parquet(s"$out/batch=0")
        .select(col("doc_id"), col("text"), col("n_words"),
          col("stop_hits"), col("n_kept"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- streaming language routing: the frozen trigram model
    // scores each micro-batch and docs land PARTITIONED by predicted
    // language under a batch-addressed dir (per-language downstream
    // pipelines prune to their partition). The batch body over the
    // full table IS the batch scoring, so the row shares
    // text_langid_ngram's oracle derivation ----
    "stream_langid_route" -> ((s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus
          .toDF("lang", "text"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val out = java.nio.file.Files
        .createTempDirectory("verify-langid-route").toString
      graft.streaming.Ingest.langIdRouteBatch(docs, batchId = 0L,
        model = model, outDir = out, keepLangs = Nil)
      s.read.parquet(s"$out/batch=0")
        .select(col("doc_id"), col("lang_pred"), col("matched"),
          col("score_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the SQL-text surface of the trigram language ID: the
    // zero-setup TVF form trains on the built-in seed fixture, so
    // the row shares text_langid_ngram's oracle derivation ----
    "sql_tvf_langid" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT doc_id, lang_pred, matched, score_milli
           |FROM vfs_langid('$dir/documents.parquet')
           |ORDER BY doc_id ASC""".stripMargin)
    }),

    // ---- the SQL-text surface of the quality gate: the same
    // synthetic multi-line corpus goes to parquet, the
    // vfs_quality_gate TVF computes both cascades in one scan, and
    // the POLICY (gopher_pass ∧ ¬page_drop ∧ n_kept ≥ 1) composes as
    // a plain WHERE — output identical to the streaming gate, so the
    // row shares its oracle ----
    "sql_tvf_quality" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val page = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(
          lit("The quick section about "), substring(col("text"), 1, 40),
          lit(" ends well here.\nToo short.\n"),
          lit("Please enable JavaScript to continue reading now.\n"),
          substring(col("text"), 41, 80),
          lit("\nThis sentence is long enough to satisfy the filter.\n"),
          lit("We keep that pace and write of many decent things " +
            "here to finish."),
          when(col("doc_id") % 7 === 0, lit("\nlorem ipsum {"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\nwait for it...\nand more to come...\nstill going on..."))
            .otherwise(lit(""))).as("text"))
      val in = java.nio.file.Files
        .createTempDirectory("verify-quality-tvf").toString
      page.write.mode("overwrite").parquet(s"$in/pages")
      s.sql(
        s"""SELECT doc_id, clean_text AS text, n_words, stop_hits, n_kept
           |FROM vfs_quality_gate('$in/pages', 5)
           |WHERE gopher_pass = 1 AND page_drop = 0 AND n_kept >= 1
           |ORDER BY doc_id ASC""".stripMargin)
    }),

    // ---- the SQL-text surface of duplicateSpans: same scan via the
    // vfs_dup_spans TABLE-valued function — shares the spans oracle ----
    "sql_tvf_dup_spans" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT doc_id, span_start, span_end, span_tokens
           |FROM vfs_dup_spans('$dir/documents.parquet', 4)
           |ORDER BY doc_id ASC, span_start ASC""".stripMargin)
    }),

    // ---- incremental ExactSubstr: the corpus (doc_id >= 100) pays
    // its gram pass ONCE into a standing hash-set artifact; the delta
    // (doc_id < 100) is vetted by one semi-join against it plus its
    // own within-delta keep-first verdict — corpus text never
    // touched at probe time ----
    "dedup_incremental_substring" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val idx = java.nio.file.Files
        .createTempDirectory("verify-gramidx").toString
      graft.operators.GramIndex.build(
        d.filter(col("doc_id") >= 100L), idx, k = 4)
      graft.operators.GramIndex.probeSpans(s, idx,
          d.filter(col("doc_id") < 100L))
        .orderBy(col("doc_id").asc, col("span_start").asc)
    }),

    // ---- near-dup by word-set jaccard, exact within source group ----
    "dedup_jaccard_source" -> ((s, dir) => {
      Dedup.jaccardPairsWithin(
          s.read.parquet(s"$dir/documents.parquet"), "source", 0.8)
        .orderBy(col("a").asc, col("b").asc)
    }),

    // ---- near-dup by word-BIGRAM jaccard (n-gram variant; order
    // sensitivity makes it far stricter than word sets) ----
    "dedup_ngram_jaccard" -> ((s, dir) => {
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
    }),

    // ---- duplicate CLUSTERS: connected components over the >= 0.9
    // jaccard pair graph; component = canonical (min) doc id ----
    "dedup_components" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairsWithin(
        s.read.parquet(s"$dir/documents.parquet"), "source", 0.9)
      Dedup.connectedComponents(pairs.select(col("a"), col("b")))
        .select(col("node").as("doc_id"), col("component"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- survivor selection: keep the highest-quality member of
    // each near-dup component (tie -> smallest id); singletons
    // survive trivially — the verdict step after pair detection ----
    "dedup_survivors" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.jaccardPairsWithin(docs, "source", 0.9)
      Dedup.nearDupSurvivors(docs, pairs,
          graft.operators.TextAnalysis.qualityMilli(col("text")))
        .orderBy(col("doc_id").asc)
    }),

    // ---- leakage-safe split: near-dup components never straddle
    // train/val/test — the duplicate GROUP's hash decides membership
    // for every member ----
    "dedup_leak_safe_split" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.jaccardPairsWithin(docs, "source", 0.9)
      Dedup.leakSafeSplit(docs, pairs.select(col("a"), col("b")),
          Seq(("train", 900), ("val", 50), ("test", 50)))
        .orderBy(col("doc_id").asc)
    }),

    // ---- benchmark decontamination: probe docs (src0) sharing >= 5
    // distinct trigrams with any other-source doc, hot grams capped ----
    "contamination_ngram" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Contamination.ngramOverlap(
          corpus = docs.filter(col("source") =!= "src0"),
          probe = docs.filter(col("source") === "src0"),
          idCol = "doc_id", textCol = "text", n = 3,
          minShared = 5, maxDf = 50L)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    }),

    // ---- embedding near-dup, exact within label group ----
    "dedup_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingPairsWithin(
          s.read.parquet(s"$dir/embeddings.parquet"), "label", 0.6)
        .orderBy(col("a").asc, col("b").asc)
    }),

    // ---- SemDeDup: cluster-then-prune semantic dedup (seed centroids
    // so the assignment is oracle-reproducible; prod passes IVF
    // centroids) ----
    "dedup_semantic" -> ((s, dir) => {
      val e = emb(s, dir)
      Dedup.semanticDedup(e, Dedup.seedCentroids(e, 8), tauMilli = 600L)
        .orderBy(col("vec_id").asc)
    }),

    // ---- Matryoshka-style staged retrieval: rank on the first 16 of
    // 64 dims (4x cheaper scoring), rerank the surviving 50 at full
    // dimension — the adaptive-retrieval pattern for cutting exact-scan
    // cost at corpus scale ----
    "q_matryoshka_rerank" -> ((s, dir) => {
      val q = queryVec(s, dir, 1L)
      val stage1 = emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          vfs_cosine(slice(col("embedding"), 1, 16), typedLit(q.take(16)))
            .as("pd"))
        .orderBy(col("pd").asc, col("vec_id").asc)
        .limit(50)
      stage1
        .select(col("vec_id"),
          milli(vfs_cosine(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- portable HyperLogLog registers over event users ----
    "q_hll_registers" -> ((s, dir) => {
      graft.operators.Sketches.hllRegisters(
          s.read.parquet(s"$dir/events.parquet"),
          col("user_id").cast("string"), p = 6)
        .select(col("bucket"), col("max_rho").cast("long").as("max_rho"))
        .orderBy(col("bucket").asc)
    }),

    // ---- token counting ----
    "text_tokens" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          graft.operators.TextAnalysis.tokenCountBpeIsh(col("text"))
            .as("n_subwords"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- quality scoring ----
    "text_quality" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.qualityMilli(col("text"))
            .as("quality_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- language identification (deterministic heuristic) ----
    "text_langid" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- model-based language ID: char-trigram naive Bayes trained
    // IN-ENGINE on the seeded multilingual fixture, scored over the
    // corpus — integer milli weights and scores end-to-end, so train
    // AND inference hash-match the DuckDB re-derivation (which
    // rebuilds the same model from the same VALUES literals) ----
    "text_langid_ngram" -> ((s, dir) => {
      import s.implicits._
      val fixture = graft.operators.TextAnalysis.LangIdSeedCorpus
        .toDF("lang", "text")
      val model = graft.operators.TextAnalysis.trainLangId(fixture)
      graft.operators.TextAnalysis.scoreLangId(
          s.read.parquet(s"$dir/documents.parquet"), model)
        .orderBy(col("doc_id").asc)
    }),

    // ---- tokenizer fertility by predicted language: the
    // multilingual tokenizer-fairness audit (subwords per word by
    // language), composing the trigram langid prediction with the
    // token-count projections in one aggregate ----
    "text_fertility_by_lang" -> ((s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus
          .toDF("lang", "text"))
      graft.operators.TextAnalysis.tokenizerFertility(
          s.read.parquet(s"$dir/documents.parquet"), model)
        .orderBy(col("lang_pred").asc)
    }),

    // ---- text normalization + n-grams (dedup preprocessing) ----
    "text_normalize" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm"),
          size(TextAnalysis.wordNGrams(col("text"), 3)).cast("long")
            .as("n_3grams"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- Gopher-style repetition signals (quality filtering) ----
    "text_repetition" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.TextAnalysis.repetitionSignals(d)
        .orderBy(col("doc_id").asc)
    }),

    // ---- Gopher document-level quality rules (Rae et al. 2021) ----
    "text_gopher" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.TextAnalysis.gopherSignals(d)
        .orderBy(col("doc_id").asc)
    }),

    // ---- C4 line-level cleaning (Raffel et al. 2020). The corpus is
    // single-line word salad, so a deterministic multi-line page is
    // BUILT per row first (same construction in the oracle): a
    // punctuation-terminated keeper, a too-short line, a javascript
    // notice, a raw salad line (no terminal punct), a second keeper,
    // and — every 7th doc — a "lorem ipsum {" page-drop trigger ----
    "text_c4_clean" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val page = d.select(col("doc_id"), concat(
        lit("Alpha section about "), substring(col("text"), 1, 40),
        lit(" ends well.\nToo short.\n"),
        lit("Please enable JavaScript to continue reading this page.\n"),
        substring(col("text"), 41, 60),
        lit("\nThis sentence is long enough to satisfy the filter."),
        when(col("doc_id") % 7 === 0, lit("\nlorem ipsum {"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextAnalysis.c4CleanLines(page)
        .orderBy(col("doc_id").asc)
    }),

    // ---- PII detection + redaction (privacy pass). The corpus is
    // synthetic word salad with no PII, so deterministic per-row PII
    // is INJECTED first (same construction in the oracle) — the scan
    // and redaction then run over realistic mixed text ----
    "text_pii" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val injected = d.select(col("doc_id"), concat(
        substring(col("text"), 1, 40),
        lit(" user"), col("doc_id").cast("string"),
        lit("@ex.com via 10."),
        pmod(col("doc_id"), lit(200)).cast("string"), lit(".0."),
        pmod(col("doc_id") * 3, lit(250)).cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" alt x.y@z.org"))
          .otherwise(lit("")),
        lit(" acct 90000000"),
        pmod(col("doc_id"), lit(10)).cast("string")).as("text"))
      graft.operators.TextAnalysis.piiStats(injected)
        .orderBy(col("doc_id").asc)
    }),

    // ---- sequence packing (concat-and-chop batch prep) ----
    "text_packing" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Packing.packSequences(d,
          shard = pmod(col("doc_id"), lit(8L)),
          orderBy = col("doc_id"),
          nTokens = graft.operators.TextAnalysis.tokenCount(col("text")),
          seqLen = 512)
        .orderBy(col("doc_id").asc)
    }),

    // ---- no-straddle bin packing (SFT batch prep): whole docs into
    // fixed-capacity bins, next-fit in deterministic stream order ----
    "text_packing_bins" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Packing.packBinsNextFit(d,
          shard = pmod(col("doc_id"), lit(8L)),
          orderBy = col("doc_id"),
          nTokens = graft.operators.TextAnalysis.tokenCount(col("text")),
          binCapacity = 256)
        .orderBy(col("doc_id").asc)
    }),

    // ---- tokenizer-TRUE packing: train BPE in-engine, encode the
    // corpus, pack the REAL token counts (not a caller-supplied
    // proxy) — the end-to-end SFT-prep composition. BPE counts are
    // not DuckDB-derivable, so the gate is the text_bpe property
    // pattern: structural invariants of the packed output, each
    // computed distributed and pinned to exact constants ----
    "text_packing_bpe" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.trainBpe(docs, nMerges = 200)
      val enc = graft.operators.Bpe.bpeEncode(docs, model)
        .select(col("doc_id"), col("n_tokens")).cache()
      val packed = graft.operators.Packing.packBinsNextFit(enc,
          shard = pmod(col("doc_id"), lit(8L)),
          orderBy = col("doc_id"),
          nTokens = col("n_tokens"), binCapacity = 256).cache()
      val nDocs = packed.count()
      val encTotal = enc.agg(sum(col("n_tokens"))).head().getLong(0)
      val packedTotal = packed.agg(sum(col("n_tokens"))).head().getLong(0)
      // non-overflow bins never exceed capacity
      val bins = packed.groupBy(col("shard"), col("bin_id"))
        .agg(sum(col("n_tokens")).as("load"),
          max(col("overflow")).as("ovf"))
      val capViol = bins.filter(col("ovf") === 0 && col("load") > 256)
        .count()
      // bin ids are contiguous 0..max per shard
      val gaps = packed.groupBy(col("shard"))
        .agg((max(col("bin_id")) + 1 -
          countDistinct(col("bin_id"))).as("gap"))
        .agg(sum(col("gap"))).head().getLong(0)
      // stream order: bin ids never decrease along doc order
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("doc_id"))
      val orderViol = packed
        .withColumn("prev", lag(col("bin_id"), 1).over(w))
        .filter(col("prev") > col("bin_id")).count()
      // the overflow flag is exactly (n_tokens > capacity)
      val flagViol = packed
        .filter((col("overflow") === 1L) =!= (col("n_tokens") > 256L))
        .count()
      // release the two cache blocks — a verify session runs 300+
      // specs in one SparkSession and these have served their six
      // actions
      enc.unpersist()
      packed.unpersist()
      Seq((nDocs, if (packedTotal == encTotal) 1L else 0L, capViol,
        gaps, orderViol, flagViol))
        .toDF("n_docs", "token_total_match", "cap_violations",
          "bin_gaps", "order_violations", "flag_violations")
    }),

    // ---- composed curation: exact-dup keeper ∩ quality band ∩
    // token-length band — the end-to-end "what goes into training"
    // filter, each leg of which is also oracle-checked alone ----
    "text_curation" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val enriched = d.select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        graft.operators.TextAnalysis.qualityMilli(col("text"))
          .as("quality_milli"))
      val keepers = d.groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper_id"))
        .select(col("keeper_id").as("doc_id"))
      enriched.join(keepers, Seq("doc_id"), "left_semi")
        .filter(col("quality_milli") >= 650 &&
          col("n_tokens").between(20, 90))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the FULL curation pipeline as ONE declared query — the
    // training-data-prep flow end to end: quality gate (the
    // text_curation cuts) → near-dup survivors (portable simhash
    // keep-first) → language ID (seed model, token counts riding the
    // carry hook — no extra join) → per-language next-fit bin
    // packing. Proves the operators COMPOSE without work-column
    // collisions, and the oracle replays every stage from scratch ----
    "pipeline_curate_e2e" -> ((s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      graft.operators.Curation.curateAndPack(
          s.read.parquet(s"$dir/documents.parquet"), model)
        .orderBy(col("doc_id").asc)
    }),

    // ---- stage 0 + stages 1-4: boilerplate strip feeding the whole
    // curation pipeline as ONE query — the strip's kept lines become
    // the gate's input text (docs reduced to nothing drop first),
    // proving the two compositions share no work columns ----
    "pipeline_clean_curate" -> ((s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      val cleaned = Dedup
        .stripBoilerplate(boilerplatePages(s, dir), minDocFreq = 5L)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text"))
      graft.operators.Curation.curateAndPack(cleaned, model)
        .orderBy(col("doc_id").asc)
    }),

    // ---- the CommonCrawl WET flow end to end as ONE declared
    // query: WARC archives (real framing, every 3rd gzipped) →
    // response records → charset-sniffed decode → HTML text
    // extraction → the FULL curation pipeline (quality gate →
    // simhash keep-first → langid → per-language packing). The WARC
    // synthesis is invertible, so the oracle derives the WET text
    // from the raw column and replays the curate chain over it —
    // proving the crawl front end and the curation stages compose
    // without work-column collisions ----
    "pipeline_warc_curate" -> ((s, dir) => {
      import s.implicits._
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://w"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          html.as("html"))
      val wet = graft.operators.Warc
        .records(s, graft.operators.Warc.synthesizeWarc(pages)).toDF()
        .filter(col("rec_type") === "response")
        .select(col("doc_id"),
          graft.functions.vfs_html_text(
            graft.functions.vfs_charset_decode(col("body"),
              col("content_type"))).as("text"))
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      graft.operators.Curation.curateAndPack(wet, model)
        .orderBy(col("doc_id").asc)
    }),

    // ======== URL-level web curation (CCNet/RefinedWeb stage 0) ====
    // the corpus has no URL column, so a deterministic per-doc URL is
    // built from (source, doc_id % 6) covering every normalizer rule
    // — same construction in the oracle's wurl CTE ----

    // ---- canonical URL + host + registered domain per doc ----
    // ---- HTML → text extraction (the WET-style step): markup
    // dropped, script/style/comment content dropped, entities
    // decoded, whitespace normalized — the oracle re-derives the
    // expected prose from the ORIGINAL text column because the
    // page synthesis is exactly invertible ----
    "web_html_extract" -> ((s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.vfs_html_title(html).as("title"),
          md5(graft.functions.vfs_html_text(html)).as("text_md5"),
          size(graft.functions.vfs_html_links(html)).cast("long")
            .as("n_links"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- main-content scoping: a chrome-laden page (nav menu,
    // header banner, aside, cookie form, footer) around the same
    // invertible payload — the main variant must drop every chrome
    // line and keep title + <main> prose, while the WET-parity full
    // extraction keeps the chrome; both md5s derive from the
    // original text column ----
    "web_html_extract_main" -> ((s, dir) => {
      val page = chromePageOf(col("doc_id"), col("text"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          md5(graft.functions.vfs_html_main_text(page)).as("main_md5"),
          md5(graft.functions.vfs_html_text(page)).as("full_md5"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the link half: every <a href> in document order, feeding
    // the URL-curation family straight from raw pages ----
    "web_html_links" -> ((s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          posexplode(graft.functions.vfs_html_links(html))
            .as(Seq("pos", "href")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("href"))
        .orderBy(col("doc_id").asc, col("pos").asc)
    }),

    // ---- WARC (ISO 28500, the CommonCrawl format): every doc's
    // page wrapped in a real warcinfo+request+response archive
    // (every 3rd gzipped), parsed back and piped into the HTML
    // kernel — the full crawl front end in one row ----
    "web_warc_extract" -> ((s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://w"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          html.as("html"))
      val recs = graft.operators.Warc
        .records(s, graft.operators.Warc.synthesizeWarc(pages)).toDF()
      val resp = recs.filter(col("rec_type") === "response")
        .select(col("doc_id"), col("target_uri"),
          col("http_status").cast("long").as("http_status"),
          // charset-SNIFFED decode (the WHATWG transport tier reads
          // the record's Content-Type header — the synthesizer
          // declares charset=utf-8, the CC common case), surfaced as
          // a column so pipelines can stratify by encoding
          graft.functions.vfs_charset_detect(col("body"),
            col("content_type")).as("charset"),
          md5(graft.functions.vfs_html_text(
            graft.functions.vfs_charset_decode(col("body"),
              col("content_type")))).as("text_md5"))
      val counts = recs.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_records"))
      resp.join(counts, "doc_id").orderBy(col("doc_id").asc)
    }),

    // ---- non-identity response bodies (the wget/heritrix WARC
    // shape): the body's wire coding rotates by doc_id % 4 —
    // identity / chunked / gzip Content-Encoding / chunked OVER
    // gzip — and the decode walk must return every page
    // byte-identically to the identity case (same md5 chain for all
    // four residues) ----
    "web_warc_transfer_codings" -> ((s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://w"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          html.as("html"))
      val recs = graft.operators.Warc
        .records(s, graft.operators.Warc
          .synthesizeWarc(pages, bodyCodings = true)).toDF()
      recs.filter(col("rec_type") === "response")
        .select(col("doc_id"), (col("doc_id") % 4).as("body_coding"),
          col("http_status").cast("long").as("http_status"),
          md5(graft.functions.vfs_html_text(
            graft.functions.vfs_charset_decode(col("body"),
              col("content_type")))).as("text_md5"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- WARC response headers (the conditional-request
    // validators + the header-level opt-out channel): the walk
    // surfaces Last-Modified / ETag / X-Robots-Tag AS WRITTEN by
    // residue — absent headers read "" (the content_type/location
    // convention) ----
    "web_warc_headers" -> ((s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, html) =>
            val uri = s"https://hd${id % 5}.example/p/$id"
            val lm = s"Sat, 0${id % 7 + 1} Feb 2026 00:00:00 GMT"
            val extras = (id % 4) match {
              case 0 => Nil
              case 1 => Seq("Last-Modified" -> lm)
              case 2 => Seq("ETag" -> s"""\"v$id\"""")
              case _ => Seq("Last-Modified" -> lm,
                "ETag" -> s"""W/\"v$id\"""",
                "X-Robots-Tag" -> "noai")
            }
            (id, graft.operators.Warc.encodeArchive(uri,
              html.getBytes("UTF-8"), extraHeaders = extras))
          }
        }.toDF("doc_id", "warc")
      graft.operators.Warc.records(s, warcs).toDF()
        .filter(col("rec_type") === "response")
        .select(col("doc_id"), col("target_uri"),
          col("last_modified"), col("etag"), col("x_robots_tag"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- zstd Content-Encoding (decoded via zstd-jni, the codec
    // Spark itself ships): odd docs carry zstd-coded bodies, even
    // docs identity — the decode walk must hand the HTML kernel the
    // SAME page either way (one md5 chain for both residues) ----
    "web_warc_zstd" -> ((s, dir) => {
      import s.implicits._
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://z"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          html.as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.map { case (id, uri, page) =>
            val coding = if (id % 2 == 1) 5 else 0
            (id, graft.operators.Warc.encodeArchive(uri,
              page.getBytes("UTF-8"), bodyCoding = coding))
          }
        }.toDF("doc_id", "warc")
      graft.operators.Warc.records(s, warcs).toDF()
        .filter(col("rec_type") === "response")
        .select(col("doc_id"), (col("doc_id") % 2).as("zstd_coded"),
          col("http_status").cast("long").as("http_status"),
          md5(graft.functions.vfs_html_text(
            graft.functions.vfs_charset_decode(col("body"),
              col("content_type")))).as("text_md5"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the opt-out gate fed from the WARC chain's OWN
    // X-Robots-Tag column (not a caller-supplied one): noai headers
    // drop their pages, non-listed directives pass ----
    "web_optout_warc" -> ((s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, html) =>
            val uri = s"https://o${id % 5}.example/p/$id"
            val extras = (id % 3) match {
              case 0 => Nil
              case 1 => Seq("X-Robots-Tag" -> "noai")
              case _ => Seq("X-Robots-Tag" ->
                "unavailable_after: 01 Jan 2027, nofollow")
            }
            (id, graft.operators.Warc.encodeArchive(uri,
              html.getBytes("UTF-8"), extraHeaders = extras))
          }
        }.toDF("doc_id", "warc")
      val resp = graft.operators.Warc.records(s, warcs).toDF()
        .filter(col("rec_type") === "response")
        .select(col("doc_id"),
          graft.functions.vfs_charset_decode(col("body"),
            col("content_type")).as("html"),
          col("x_robots_tag"))
      graft.operators.WebCuration
        .optOutFilter(resp, headerCol = "x_robots_tag")
        .select(col("doc_id"),
          md5(graft.functions.vfs_html_text(col("html")))
            .as("text_md5"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- charset-aware body decode (the WHATWG sniff): five
    // residue classes exercise every tier — BOM'd UTF-8, a declared
    // windows-1252 transport header, a <meta charset=shift_jis>
    // prescan, UNDECLARED cp1252 (the fallback), and declared UTF-8
    // — each body built by the encoder twin in its real charset
    // with a non-ASCII marker that would mojibake under a hard-coded
    // UTF-8 decode; the oracle rebuilds the decoded string from the
    // raw text via chr() codepoints ----
    "web_charset_decode" -> ((s, dir) => {
      import graft.functions._
      val r = col("doc_id") % 5
      val label = element_at(array(lit("utf-8"), lit("windows-1252"),
        lit("shift_jis"), lit("windows-1252"), lit("utf-8")),
        (r + 1).cast("int"))
      val payload = concat(
        when(r === 2, lit("<meta charset=\"shift_jis\">"))
          .otherwise(lit("")),
        col("text"),
        element_at(array(lit(" é€"),
          lit(" café €"),
          lit(" 日本語"),
          lit(" café €"), lit(" ascii")), (r + 1).cast("int")))
      val bom = lit(Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte))
      val encoded = vfs_charset_encode(payload, label)
      val body = when(r === 0, concat(bom, encoded)).otherwise(encoded)
      val ct = when(r === 1, lit("text/html; charset=windows-1252"))
        .when(r === 2, lit("text/html"))
        .when(r === 4, lit("text/html; charset=utf-8"))
        .otherwise(lit(null).cast("string"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          vfs_charset_detect(body, ct).as("charset"),
          md5(vfs_charset_decode(body, ct)).as("text_md5"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- WARC quarantine twin: archives with per-residue damage —
    // clean / truncated final record (framing overrun) / a declared
    // br body this walk cannot decode / clean gzip — must yield err
    // ROWS with recovered identity, never task failures; counts and
    // the failing record's type derive from the residue alone ----
    "web_warc_quarantine" -> ((s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, html) =>
            val uri = s"https://q${id % 7}.example/p/$id"
            val bytes = html.getBytes("UTF-8")
            val arc = (id % 4) match {
              case 0 => graft.operators.Warc.encodeArchive(uri, bytes)
              case 1 =>
                val full = graft.operators.Warc.encodeArchive(uri, bytes)
                java.util.Arrays.copyOf(full, full.length - 8)
              case 2 => graft.operators.Warc.encodeArchive(uri, bytes,
                bodyCoding = 4)
              case _ => graft.operators.Warc.encodeArchive(uri, bytes,
                gzip = true)
            }
            (id, arc)
          }
        }.toDF("doc_id", "warc")
      graft.operators.Warc.recordsQuarantined(s, warcs).toDF()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("err").isNull, 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("err").isNotNull, 1L).otherwise(0L)).as("n_err"),
          max(when(col("err").isNotNull, col("rec_type")))
            .as("err_rec_type"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- charset SIGNAL PARITY through the dedup family: every
    // doc's text round-trips a residue-rotated charset (BOM'd UTF-8 /
    // cp1252 / Shift_JIS / GBK / declared UTF-8) through the
    // sniff+decode chain BEFORE minhash signing — the signatures
    // must equal the plain-text row's exactly (same oracle), proving
    // near-dup signals do not degrade on a mixed-charset corpus ----
    "dedup_minhash_charset" -> ((s, dir) => {
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
    }),

    // ---- PDF text extraction: every doc's text wrapped in a REAL
    // single-page PDF (every 2nd content stream Flate-compressed;
    // the shows rotate literal / split-TJ / hex string forms) — the
    // assembly contract makes extraction the exact inverse, so the
    // md5 of the extracted text must equal the md5 of the raw text ----
    "web_pdf_extract" -> ((s, dir) => {
      val pdfs = graft.operators.Pdf.synthesizePdf(
        s.read.parquet(s"$dir/documents.parquet"))
      pdfs.select(col("doc_id"),
          md5(graft.functions.vfs_pdf_text(col("pdf"))).as("text_md5"),
          length(col("pdf")).cast("long").as("n_pdf_bytes") > 0)
        .toDF("doc_id", "text_md5", "nonempty")
        .orderBy(col("doc_id").asc)
    }),

    // ---- the STREAMING page front door: one micro-batch of raw
    // pages through pageExtractBatch — extracted docs and the link
    // frontier land batch-addressed; the joined read-back must match
    // the web_html_extract derivation ----
    "stream_page_extract" -> ((s, dir) => {
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), html.as("html"))
      val out = java.nio.file.Files
        .createTempDirectory("verify-pages").toString
      graft.streaming.Ingest.pageExtractBatch(pages, 2L, out)
      val docs = s.read.parquet(s"$out/docs/batch=2")
        .select(col("doc_id"), col("title"),
          md5(col("text")).as("text_md5"))
      val nl = s.read.parquet(s"$out/links/batch=2")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_links"))
      docs.join(nl, "doc_id")
        .withColumn("batch_id", lit(2L))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the CRAWL FRONTIER pipeline as ONE declared query: link
    // extraction (hrefs as written: one relative, one root-relative)
    // → RFC 3986 resolution against the page URL → robots gate
    // (h0 disallows /abs for graftbot) → politeness schedule (h0's
    // declared 2 s, everyone else the 1 s default; per-host ordinals
    // by url) — proving the round's web operators COMPOSE; the
    // oracle replays every stage from the residue construction ----
    "pipeline_crawl_frontier" -> ((s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://h"), col("doc_id") % 5,
            lit(".example/a/p"), col("doc_id")).as("page_url"),
          concat(lit("<body><main><a href=\"g"), col("doc_id"),
            lit("\">r</a> <a href=\"/abs/"), col("doc_id"),
            lit("\">a</a></main></body>")).as("html"))
      val links = pages.select(col("doc_id"), col("page_url"),
          explode(graft.functions.vfs_html_links(col("html")))
            .as("href"))
        .select(col("doc_id"),
          graft.functions.vfs_url_resolve(col("page_url"), col("href"))
            .as("url"))
      val robots = Seq(("h0.example",
        "User-agent: graftbot\nDisallow: /abs\nCrawl-delay: 2\n"))
        .toDF("host", "robots_txt")
      val allowed = graft.operators.WebCuration
        .robotsFilter(links, robots, "graftbot")
      graft.operators.WebCuration
        .politenessSchedule(allowed, robots, "graftbot", 1000L,
          orderCol = "url")
        .select(col("doc_id"), col("url"), col("host"),
          col("delay_milli"), col("fetch_seq"), col("fetch_at_milli"))
        .orderBy(col("doc_id").asc, col("url").asc)
    }),

    // ---- the SITEMAP two-hop frontier: sitemapindex → child
    // sitemaps → urlset <loc>s (each hop through vfs_sitemap_locs;
    // the child fetch is a join on the hop-1 URL), the visited-set
    // anti-join (UrlIndex standing artifact: /q pages all visited,
    // /p pages visited for doc_id % 3 == 0), the robots gate (h0
    // disallows /r for graftbot), and the politeness schedule — the
    // crawl loop's OTHER discovery path composed end to end; every
    // stage replays from residue arithmetic ----
    "pipeline_crawl_frontier_sitemap" -> ((s, dir) => {
      import s.implicits._
      val host = concat(lit("https://h"), col("doc_id") % 5,
        lit(".example"))
      val index = concat(
        lit("<?xml version=\"1.0\"?><sitemapindex><sitemap><loc>"),
        host, lit("/sm/"), col("doc_id"),
        lit("/a.xml</loc></sitemap><sitemap><loc>"),
        host, lit("/sm/"), col("doc_id"),
        lit("/b.xml</loc></sitemap></sitemapindex>"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // hop 1: the index's <loc>s are child-sitemap URLs
      val hop1 = docs.select(col("doc_id"), index.as("xml"))
        .select(col("doc_id"),
          explode(graft.functions.vfs_sitemap_locs(col("xml")))
            .as("sm_url"))
      // the child-sitemap table a fetcher materializes (keyed by its
      // URL): child a carries two pages (entity decode + whitespace
      // trim), child b one CDATA-wrapped page
      val childA = docs.select(
        concat(host, lit("/sm/"), col("doc_id"), lit("/a.xml"))
          .as("sm_url"),
        concat(lit("<urlset><url><loc>"), host, lit("/p/"),
          col("doc_id"), lit("?x=1&amp;y=2</loc></url><url><loc>\n  "),
          host, lit("/q/"), col("doc_id"),
          lit("\n</loc></url></urlset>")).as("sm_xml"))
      val childB = docs.select(
        concat(host, lit("/sm/"), col("doc_id"), lit("/b.xml"))
          .as("sm_url"),
        concat(lit("<urlset><url><loc><![CDATA["), host, lit("/r/"),
          col("doc_id"), lit("?t=1]]></loc></url></urlset>"))
          .as("sm_xml"))
      // hop 2: fetch-join + extract the page URLs
      val pages = hop1.join(childA.unionByName(childB), "sm_url")
        .select(col("doc_id"),
          explode(graft.functions.vfs_sitemap_locs(col("sm_xml")))
            .as("url"))
      // visited set: a standing UrlIndex artifact probes the delta
      val visited = docs.select(
          concat(host, lit("/q/"), col("doc_id")).as("url"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(concat(host, lit("/p/"), col("doc_id"),
            lit("?x=1&y=2")).as("url")))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-urlidx-sm").toString + "/visited"
      graft.operators.UrlIndex.build(visited, idx)
      val fresh = graft.operators.UrlIndex.filterNew(s, idx, pages)
      val robots = Seq(("h0.example",
        "User-agent: graftbot\nDisallow: /r\nCrawl-delay: 2\n"))
        .toDF("host", "robots_txt")
      val allowed = graft.operators.WebCuration
        .robotsFilter(fresh, robots, "graftbot")
      graft.operators.WebCuration
        .politenessSchedule(allowed, robots, "graftbot", 1000L,
          orderCol = "url")
        .select(col("doc_id"), col("url"), col("host"),
          col("delay_milli"), col("fetch_seq"), col("fetch_at_milli"))
        .orderBy(col("doc_id").asc, col("url").asc)
    }),

    // ---- per-host politeness schedule: hosts h0/h1 declare
    // crawl-delays (2 s via the graftbot group, 0.5 s via *), the
    // rest fall to the 1 s default; fetch_seq within a host follows
    // doc_id order, so every output column derives from doc_id
    // arithmetic ----
    "web_politeness_schedule" -> ((s, dir) => {
      import s.implicits._
      val urls = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://h"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("url"))
      val robots = Seq(
        ("h0.example",
          "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /x\n"),
        ("h1.example", "User-agent: *\nCrawl-delay: 0.5\n"))
        .toDF("host", "robots_txt")
      graft.operators.WebCuration
        .politenessSchedule(urls, robots, "graftbot")
        .select(col("doc_id"), col("host"), col("delay_milli"),
          col("fetch_seq"), col("fetch_at_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- opt-out compliance gate: meta robots directives rotate by
    // residue (index / noindex / "noai, index" / absent / spaced-
    // uppercase NOINDEX / header-only noai) — pages stating an
    // opt-out drop BEFORE the corpus, the data-governance step; the
    // survivors derive from the residue class alone ----
    "web_optout_filter" -> ((s, dir) => {
      val r = col("doc_id") % 6
      val meta = element_at(array(
        lit("<meta name=\"robots\" content=\"index, follow\">"),
        lit("<meta name=\"robots\" content=\"noindex\">"),
        // UNQUOTED attribute values (valid HTML5): the stated
        // opt-out must not slip the gate for want of quotes...
        lit("<meta name=robots content=noai,index>"),
        // ...and an unquoted NON-listed directive must still pass
        lit("<meta name=robots content=nofollow>"),
        lit("<meta name='robots' content=' NOINDEX , nofollow'>"),
        lit("")), (r + 1).cast("int"))
      val page = concat(lit("<html><head>"), meta,
        lit("</head><body><p>body "), col("doc_id"),
        lit("</p></body></html>"))
      val header = when(r === 5, lit("noai")).otherwise(lit(null)
        .cast("string"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), page.as("html"),
          header.as("x_robots_tag"))
      graft.operators.WebCuration
        .optOutFilter(pages, headerCol = "x_robots_tag")
        .select(col("doc_id"),
          md5(graft.functions.vfs_html_text(col("html")))
            .as("text_md5"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- canonical consolidation: a third of the pages declare a
    // <link rel=canonical> pointing at a SHARED canonical URL (100
    // pages per canonical — the syndication shape); the effective
    // identity is coalesce(canonical, own url) and keep-first over
    // it collapses each canonical group onto its smallest doc_id ----
    "web_html_canonical" -> ((s, dir) => {
      val ownUrl = concat(lit("https://c"), col("doc_id") % 5,
        lit(".example/p/"), col("doc_id"))
      val canon = when(col("doc_id") % 3 === 1,
        concat(lit("<link rel=\"canonical\" href=\"https://canon" +
          ".example/c/"), col("doc_id") % 100, lit("\">")))
        .otherwise(lit(""))
      val page = concat(lit("<html><head>"), canon,
        lit("</head><body><p>p</p></body></html>"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), ownUrl.as("url"), page.as("html"))
        .withColumn("canonical",
          graft.functions.vfs_html_canonical(col("html")))
        .withColumn("effective_url",
          coalesce(col("canonical"), col("url")))
      graft.operators.WebCuration
        .urlKeepFirst(docs, "effective_url")
        .select(col("doc_id"), col("canonical"), col("effective_url"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- sitemap-driven RECRAWL scheduling: each doc's urlset
    // carries a /p page with a residue-rotated <lastmod> and a /q
    // page without one; the last-crawl ledger has /p crawled at a
    // fixed date and /q crawled only for even docs — the recrawl set
    // keeps modified /p pages (lastmod postdates the crawl) and
    // never-crawled /q pages, with the reason surfaced ----
    "pipeline_recrawl" -> ((s, dir) => {
      import s.implicits._
      val host = concat(lit("https://s"), col("doc_id") % 7,
        lit(".example"))
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>"),
        host, lit("/p/"), col("doc_id"),
        lit("</loc><lastmod>2026-0"), (col("doc_id") % 3) + 1,
        lit("-15</lastmod></url><url><loc>"),
        host, lit("/q/"), col("doc_id"),
        lit("</loc></url></urlset>"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val entries = docs.select(col("doc_id"),
          graft.functions.vfs_sitemap_locs(xml).as("ls"),
          graft.functions.vfs_sitemap_lastmods(xml).as("lm"))
        .select(col("doc_id"),
          posexplode(col("ls")).as(Seq("pos", "url")), col("lm"))
        .select(col("doc_id"), col("url"),
          element_at(col("lm"), col("pos").cast("int") + 1)
            .as("lastmod"))
      val crawled = docs.select(
          concat(host, lit("/p/"), col("doc_id")).as("url"),
          lit("2026-02-01").as("crawled_at"))
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select(concat(host, lit("/q/"), col("doc_id")).as("url"),
            lit("2026-01-01").as("crawled_at")))
      graft.operators.WebCuration.recrawlSet(entries, crawled)
        .select(col("doc_id"), col("url"), col("lastmod"),
          col("recrawl_reason"))
        .orderBy(col("doc_id").asc, col("url").asc)
    }),

    // ---- CONDITIONAL recrawl: the ledger and a fresh probe sweep
    // both carry the fetch validators (Last-Modified/ETag, the
    // web_warc_headers columns) — a matching ETag SKIPS the page
    // even when the sitemap lastmod moved, a changed validator
    // recrawls regardless, validator-less pages fall back to the
    // sitemap arithmetic, /q pages are never in the ledger ----
    "pipeline_recrawl_conditional" -> ((s, dir) => {
      val host = concat(lit("https://t"), col("doc_id") % 7,
        lit(".example"))
      val pUrl = concat(host, lit("/p/"), col("doc_id"))
      val qUrl = concat(host, lit("/q/"), col("doc_id"))
      val lastmod = concat(lit("2026-0"), (col("doc_id") % 3) + 1,
        lit("-15"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val entries = docs.select(col("doc_id"), pUrl.as("url"),
          lastmod.as("lastmod"))
        .unionByName(docs.select(col("doc_id"), qUrl.as("url"),
          lit("").as("lastmod")))
      val v = col("doc_id") % 5
      val lmOld = lit("Wed, 01 Jan 2026 00:00:00 GMT")
      val lmNew = lit("Thu, 05 Feb 2026 00:00:00 GMT")
      val crawled = docs.select(pUrl.as("url"),
        lit("2026-02-01").as("crawled_at"),
        when(v.isin(0L, 1L), concat(lit("\"e"), col("doc_id"),
          lit("\""))).otherwise(lit("")).as("etag"),
        when(v.isin(2L, 3L), lmOld).otherwise(lit(""))
          .as("last_modified"))
      val probes = docs.select(pUrl.as("url"),
        when(v === 0, concat(lit("\"e"), col("doc_id"), lit("\"")))
          .when(v === 1, concat(lit("\"f"), col("doc_id"), lit("\"")))
          .otherwise(lit("")).as("etag"),
        when(v === 2, lmOld).when(v === 3, lmNew).otherwise(lit(""))
          .as("last_modified"))
      graft.operators.WebCuration
        .recrawlSetConditional(entries, crawled, probes)
        .select(col("doc_id"), col("url"), col("lastmod"),
          col("recrawl_reason"))
        .orderBy(col("doc_id").asc, col("url").asc)
    }),

    // ---- the recrawl scheduler's STREAMING twin: the same
    // instant-compare arithmetic as pipeline_recrawl riding a
    // stream-static join, plus the per-URL emitted-guard state —
    // over a static frame the fold replays the batch operator
    // exactly (unique fixture urls make the dedup the identity);
    // SLIM schema, the stream_politeness_schedule stance ----
    "stream_recrawl" -> ((s, dir) => {
      import s.implicits._
      val host = concat(lit("https://s"), col("doc_id") % 7,
        lit(".example"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val entries = docs.select(col("doc_id"),
          concat(host, lit("/p/"), col("doc_id")).as("url"),
          concat(lit("2026-0"), (col("doc_id") % 3) + 1,
            lit("-15")).as("lastmod"))
        .unionByName(docs.select(col("doc_id"),
          concat(host, lit("/q/"), col("doc_id")).as("url"),
          lit("").as("lastmod")))
      val crawled = docs.select(
          concat(host, lit("/p/"), col("doc_id")).as("url"),
          lit("2026-02-01").as("crawled_at"))
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select(concat(host, lit("/q/"), col("doc_id")).as("url"),
            lit("2026-01-01").as("crawled_at")))
      graft.streaming.Ingest.recrawlStream(entries, crawled)
        .orderBy(col("url").asc)
    }),

    // ---- the governance drop report: blocklist → robots gate →
    // opt-out directives, each stage's counts residue-derivable
    // (the unquoted residue-3 meta pins the HTML5 attribute fix
    // through the oracle) ----
    "pipeline_governance_report" -> ((s, dir) => {
      import s.implicits._
      val url = concat(lit("https://g"), col("doc_id") % 5,
        lit(".example"),
        when(col("doc_id") % 2 === 1, lit("/x/")).otherwise(lit("/p/")),
        col("doc_id"))
      val meta = when(col("doc_id") % 6 === 2,
          lit("<meta name=\"robots\" content=\"noindex\">"))
        .when(col("doc_id") % 6 === 3,
          lit("<meta name=robots content=noai>"))
        .otherwise(lit(""))
      val page = concat(lit("<html><head>"), meta,
        lit("</head><body><p>b</p></body></html>"))
      val header = when(col("doc_id") % 7 === 0, lit("noai"))
        .otherwise(lit(null).cast("string"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), url.as("url"), page.as("html"),
          header.as("x_robots_tag"))
      val robots = Seq(("g0.example", "User-agent: *\nDisallow: /x\n"))
        .toDF("host", "robots_txt")
      graft.operators.WebCuration.governanceReport(pages, robots,
          Seq("g4.example"), "graftbot", headerCol = "x_robots_tag")
        .orderBy(col("stage").asc)
    }),

    // ---- redirect-chain resolution: half the archives are 301
    // responses with a RELATIVE Location (surfaced by the WARC walk,
    // absolutized via RFC 3986 against the record's own URI); docs
    // with doc_id % 4 == 3 get a SECOND synthetic hop (the landing
    // page itself moved) — resolveRedirects maps every crawled URL
    // to its final destination with the hop count, all residue-
    // derivable ----
    "web_redirect_resolve" -> ((s, dir) => {
      import s.implicits._
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://r"), col("doc_id") % 5,
            lit(".example/a/x/"), col("doc_id")).as("uri"),
          concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.map { case (id, uri, html) =>
            val arc =
              if (id % 2 == 1) graft.operators.Warc.encodeArchive(uri,
                Array.emptyByteArray, redirectTo = s"../p/$id")
              else graft.operators.Warc.encodeArchive(uri,
                html.getBytes("UTF-8"))
            (id, arc)
          }
        }.toDF("doc_id", "warc")
      val resp = graft.operators.Warc.records(s, warcs).toDF()
        .filter(col("rec_type") === "response")
      val crawlEdges = resp
        .filter(col("http_status").between(300, 399) &&
          col("location") =!= "")
        .select(col("target_uri").as("from_url"),
          graft.functions.vfs_url_resolve(col("target_uri"),
            col("location")).as("to_url"))
      val extra = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 4 === 3)
        .select(concat(lit("https://r"), col("doc_id") % 5,
            lit(".example/a/p/"), col("doc_id")).as("from_url"),
          concat(lit("https://final.example/"), col("doc_id"))
            .as("to_url"))
      graft.operators.WebCuration.resolveRedirects(
          resp.select(col("doc_id"), col("target_uri").as("url")),
          crawlEdges.unionByName(extra), maxHops = 3)
        .select(col("doc_id"), col("url"), col("final_url"),
          col("n_hops"), col("redirect_unresolved"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the politeness schedule's STREAMING twin: the same
    // per-host ordinal assignment as a stateful fold (state = one
    // long per host, continuing across micro-batches) — over a
    // static frame the fold runs in one pass with empty state, so
    // the row replays web_politeness_schedule's arithmetic exactly
    // (the flatMapGroupsWithState oracle shape, no mode flag — the
    // fold has no watermark to gate) ----
    "stream_politeness_schedule" -> ((s, dir) => {
      import s.implicits._
      val urls = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://h"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("url"))
      val robots = Seq(
        ("h0.example",
          "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /x\n"),
        ("h1.example", "User-agent: *\nCrawl-delay: 0.5\n"))
        .toDF("host", "robots_txt")
      graft.streaming.Ingest
        .politenessStream(urls, robots, "graftbot")
        .select(col("doc_id"), col("host"), col("delay_milli"),
          col("fetch_seq"), col("fetch_at_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- RFC 3986 reference resolution: eight href shapes
    // (relative, dot-relative, root-relative, parent, query-only,
    // fragment-only, protocol-relative, absolute) against a
    // deep-path base — the step between vfs_html_links (hrefs as
    // written) and the URL frontier ----
    "web_link_resolve" -> ((s, dir) => {
      val base = concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/a/b/c?bq"))
      val href = element_at(array(lit("g"), lit("./g"), lit("/g"),
        lit("../g"), lit("?y"), lit("#s"),
        lit("//other.example/p"), lit("http://abs.example/z?q#f")),
        (col("doc_id") % 8 + 1).cast("int"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), href.as("href"),
          graft.functions.vfs_url_resolve(base, href).as("abs_url"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- sitemap XML: every doc carries a two-entry urlset whose
    // <loc> values exercise entity decode (&amp;) and whitespace
    // trim — the step between vfs_robots_sitemaps and the URL
    // frontier ----
    "web_sitemap_urls" -> ((s, dir) => {
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>https://s"),
        col("doc_id") % 7, lit(".example/p/"), col("doc_id"),
        lit("?a=1&amp;b=2</loc><lastmod>2026-01-01</lastmod></url>" +
          "<url><loc>\n  https://s.example/"), col("doc_id"),
        lit("\n</loc></url></urlset>"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          posexplode(graft.functions.vfs_sitemap_locs(xml))
            .as(Seq("pos", "url")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("url"))
        .orderBy(col("doc_id").asc, col("pos").asc)
    }),

    // ---- the streaming WARC front door: one micro-batch of RAW
    // ARCHIVES (damage rotating by doc_id % 4 — clean / truncated
    // framing / declared-br body / clean gzip) through the
    // quarantining walk + charset-sniffed extraction; clean pages
    // land in docs/ (charset surfaced), damaged records land in
    // quarantine/ with their recovered identity — one output row per
    // doc either way ----
    "stream_warc_extract" -> ((s, dir) => {
      import s.implicits._
      val html = htmlPageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://w"), col("doc_id") % 5,
            lit(".example/p/"), col("doc_id")).as("uri"),
          encode(html, "UTF-8").as("html"))
      val warcs = graft.operators.WorkCols.spread(pages)
        .as[(Long, String, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, uri, page) =>
            val arc = (id % 4) match {
              case 1 =>
                val f = graft.operators.Warc.encodeArchive(uri, page)
                java.util.Arrays.copyOf(f, f.length - 8)
              case 2 => graft.operators.Warc.encodeArchive(uri, page,
                bodyCoding = 4)
              case 3 => graft.operators.Warc.encodeArchive(uri, page,
                gzip = true)
              case _ => graft.operators.Warc.encodeArchive(uri, page)
            }
            (id, arc)
          }
        }.toDF("doc_id", "warc")
      val out = java.nio.file.Files
        .createTempDirectory("verify-warc-stream").toString
      graft.streaming.Ingest.warcExtractBatch(warcs, 6L, out)
      val docs = s.read.parquet(s"$out/docs/batch=6")
        .select(col("doc_id"), lit("ok").as("status"),
          col("charset").as("detail"), md5(col("text")).as("text_md5"))
      val quarantined = s.read.parquet(s"$out/quarantine/batch=6")
        .select(col("doc_id"), lit("err").as("status"),
          col("rec_type").as("detail"),
          lit(null).cast("string").as("text_md5"))
      docs.unionByName(quarantined).orderBy(col("doc_id").asc)
    }),

    // ---- the streaming page front door in MAIN-CONTENT mode: the
    // chrome-laden pages land with nav/form/footer text suppressed,
    // while the link frontier still carries the nav link ----
    "stream_page_extract_main" -> ((s, dir) => {
      val page = chromePageOf(col("doc_id"), col("text"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), page.as("html"))
      val out = java.nio.file.Files
        .createTempDirectory("verify-pages-main").toString
      graft.streaming.Ingest.pageExtractBatch(pages, 4L, out,
        mainOnly = true)
      val docs = s.read.parquet(s"$out/docs/batch=4")
        .select(col("doc_id"), col("title"),
          md5(col("text")).as("text_md5"))
      val nl = s.read.parquet(s"$out/links/batch=4")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_links"))
      docs.join(nl, "doc_id")
        .withColumn("batch_id", lit(4L))
        .orderBy(col("doc_id").asc)
    }),

    // ---- robots.txt gate (RFC 9309): six path shapes against a
    // rules file exercising longest-match, allow-over-disallow ties,
    // `*` wildcards, `$` anchors, multi-UA groups, and a
    // blocked-everything group for OTHER agents — the oracle derives
    // the surviving set from the residue class alone. The crawler
    // identifies as "GraftBot-News": no exact group exists, so the
    // row also pins §2.2.1 most-specific matching (the GraftBot
    // group must apply — exact-only selection would fall through to
    // no group at all and keep every URL) ----
    "web_robots_filter" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val seg = element_at(array(lit("/private/x"),
        lit("/private/ok/y"), lit("/tmp123"), lit("/docs/"),
        lit("/public"), lit("/docs/a")),
        (col("doc_id") % 6 + 1).cast("int"))
      val urls = docs.select(col("doc_id"),
        concat(lit("https://h"), col("doc_id") % 7, lit(".example"),
          seg).as("url"))
      val robotsTxt =
        """# sample politeness file
          |User-agent: other
          |Disallow: /
          |
          |User-agent: GraftBot
          |User-agent: second-bot
          |Disallow: /private
          |Allow: /private/ok
          |Disallow: /tmp*3
          |Allow: /docs/$
          |Disallow: /docs
          |""".stripMargin
      val robots = urls
        .select(lower(parse_url(col("url"), lit("HOST"))).as("host"))
        .distinct()
        .withColumn("robots_txt", lit(robotsTxt))
      graft.operators.WebCuration.robotsFilter(urls, robots,
          "GraftBot-News")
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- RFC 9309 §2.2.1 user-agent group selection: exact token
    // beats prefix ("mybot-news" has its own group), prefix beats
    // `*` ("mybot-img" obeys the "mybot" group), everyone else gets
    // the blocked-everything `*` group — allowed derives from the
    // (agent residue, path residue) pair alone ----
    "web_robots_ua_match" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val robotsTxt =
        """User-agent: mybot
          |Disallow: /img
          |
          |User-agent: mybot-news
          |Disallow: /news
          |
          |User-agent: *
          |Disallow: /
          |""".stripMargin
      val agent = element_at(array(lit("mybot-news"),
        lit("mybot-img"), lit("somebot")),
        (col("doc_id") % 3 + 1).cast("int"))
      val path = element_at(array(lit("/news/p"), lit("/img/p")),
        (col("doc_id") % 2 + 1).cast("int"))
      docs.select(col("doc_id"), agent.as("agent"), path.as("path"),
          graft.functions.vfs_robots_allowed(lit(robotsTxt),
            agent, path).as("allowed"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- crawl-delay + sitemap surfacing: group-scoped delay in
    // milliseconds through the same most-specific UA walk (NULL when
    // the selected group declares none), global sitemaps collected
    // file-wide regardless of group position ----
    "web_robots_crawl_delay" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val robotsTxt =
        """Sitemap: https://x.example/s1.xml
          |User-agent: mybot
          |Crawl-delay: 1.5
          |Disallow: /img
          |
          |User-agent: quietbot
          |Disallow: /q
          |
          |User-agent: *
          |Crawl-delay: 10
          |Sitemap: https://x.example/s2.xml
          |Disallow: /x
          |""".stripMargin
      val agent = element_at(array(lit("mybot-news"), lit("quietbot"),
        lit("otherbot")), (col("doc_id") % 3 + 1).cast("int"))
      docs.select(col("doc_id"), agent.as("agent"),
          graft.functions.vfs_robots_crawl_delay(lit(robotsTxt), agent)
            .as("delay_milli"),
          size(graft.functions.vfs_robots_sitemaps(lit(robotsTxt)))
            .cast("long").as("n_sitemaps"))
        .orderBy(col("doc_id").asc)
    }),

    "web_url_normalize" -> ((s, dir) => {
      import graft.operators.WebCuration
      webUrls(s, dir).select(col("doc_id"),
          WebCuration.normalizeUrl(col("url")).as("norm_url"),
          WebCuration.urlHost(col("url")).as("host"),
          WebCuration.urlDomain(col("url")).as("domain"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- URL-keyed exact dedup: two fetch variants of one page
    // collapse to one normalized key; ONE hash aggregate ----
    "web_url_dedup" -> ((s, dir) => {
      graft.operators.WebCuration.urlDedup(webUrls(s, dir))
        .orderBy(col("keeper").asc)
    }),

    // ---- head-domain cap: keep each registered domain's 3 LONGEST
    // docs (rank = -n_chars, ties to smallest doc_id) through the
    // bounded-histogram rankedTopN path — never a single-task sort ----
    "web_domain_cap" -> ((s, dir) => {
      import graft.operators.WebCuration
      WebCuration.capPerDomain(webUrls(s, dir), "url",
          negate(col("n_chars")), col("doc_id"), n = 3)
        .select(col("doc_id"),
          WebCuration.urlDomain(col("url")).as("domain"))
        .orderBy(col("domain").asc, col("doc_id").asc)
    }),

    // ---- domain blocklist: drop five .co.uk publishers, count the
    // survivors per registered domain ----
    "web_blocklist_filter" -> ((s, dir) => {
      import graft.operators.WebCuration
      WebCuration.blocklistFilter(webUrls(s, dir), "url",
          (1 to 5).map(k => s"src$k.co.uk"))
        .groupBy(WebCuration.urlDomain(col("url")).as("domain"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("domain").asc)
    }),

    // ---- the web stage-0 pipeline as ONE query: blocklist -> URL
    // keep-first -> per-domain cap (2 longest per domain) — proves
    // the family composes with no work-column collisions (keep-first
    // drops its __nu/__rn before the cap's rankedTopN reserves
    // __rn/__st/__rk) ----
    "pipeline_web_curate" -> ((s, dir) => {
      import graft.operators.WebCuration
      val gated = WebCuration.blocklistFilter(webUrls(s, dir), "url",
        (1 to 5).map(k => s"src$k.co.uk"))
      val kept = WebCuration.urlKeepFirst(gated)
      WebCuration.capPerDomain(kept, "url", negate(col("n_chars")),
          col("doc_id"), n = 2)
        .select(col("doc_id"),
          WebCuration.urlDomain(col("url")).as("domain"))
        .orderBy(col("domain").asc, col("doc_id").asc)
    }),

    // ---- the INCREMENTAL form: the seen set is a standing artifact
    // (UrlIndex) built on the even-id half (SF-stable split); the
    // odd-id delta keep-firsts within itself, then one anti-join
    // against the stored keys decides — cost ∝ delta, the corpus is
    // never rescanned ----
    "web_url_incremental" -> ((s, dir) => {
      import graft.operators.{UrlIndex, WebCuration}
      val urls = webUrls(s, dir)
      val idx = java.nio.file.Files
        .createTempDirectory("verify-urlidx").toString
      UrlIndex.build(urls.filter(pmod(col("doc_id"), lit(2)) === 0),
        idx)
      val delta = urls.filter(pmod(col("doc_id"), lit(2)) === 1)
      UrlIndex.filterNew(s, idx, WebCuration.urlKeepFirst(delta))
        .select(col("doc_id"),
          WebCuration.normalizeUrl(col("url")).as("norm_url"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the STREAMING loop's batch-0 run over the whole corpus:
    // standing seen set empty, so within-batch keep-first decides;
    // survivors land batch-addressed through the actual foreachBatch
    // body (replay-idempotent by construction) ----
    "stream_url_dedup" -> ((s, dir) => {
      val cd = java.nio.file.Files
        .createTempDirectory("verify-urlstream").toString
      graft.streaming.Ingest.urlDedupBatch(webUrls(s, dir), 0L, cd)
      s.read.parquet(s"$cd/docs/batch=0")
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- PSL-backed per-domain cap: hosting-platform hosts
    // (userN.github.io, blogN.blogspot.com, appN.netlify.app — all
    // public-suffix-list entries ABSENT from the frozen 46-entry
    // head) group as DISTINCT registered domains, so the cap applies
    // per publisher instead of collapsing thousands of unrelated
    // sites into one; head-covered hosts (news.srcN.co.uk,
    // www.srcN.com) derive identically on both forms (spec-pinned
    // parity). Runs through capPerDomainPsl — the PSL suffix walk
    // materialized ONCE (rankedTopNMaterialized), survivors
    // semi-joined back; bandCap = 16 forces the threshold path ----
    "web_domain_cap_psl" -> ((s, dir) => {
      import graft.operators.WebCuration
      WebCuration.capPerDomainPsl(webPslUrls(s, dir), "url",
          WebCuration.PslSampleSnapshot, negate(col("n_chars")),
          col("doc_id"), "doc_id", n = 3, bandCap = 16L)
        .select(col("doc_id"),
          WebCuration.urlDomainPsl(col("url"),
            WebCuration.PslSampleSnapshot).as("domain"))
        .orderBy(col("domain").asc, col("doc_id").asc)
    }),

    // ---- WILDCARD + EXCEPTION rule semantics through the same cap:
    // the PslWildSnapshot fixture ('*.ck' makes every <label>.ck a
    // public suffix; '!portal.ck' carves a registrable domain back
    // out of it), hosts built so each rule kind decides at least one
    // branch — hash-matched against a HAND-derived DuckDB CASE (the
    // regex oracle rightly refuses these rule kinds). checkIds = true
    // also exercises the slim-frame uniqueness guard in earnest ----
    "web_domain_cap_psl_wild" -> ((s, dir) => {
      import graft.operators.WebCuration
      WebCuration.capPerDomainPsl(webPslWildUrls(s, dir), "url",
          WebCuration.PslWildSnapshot, negate(col("n_chars")),
          col("doc_id"), "doc_id", n = 3, bandCap = 16L,
          checkIds = true)
        .select(col("doc_id"),
          WebCuration.urlDomainPsl(col("url"),
            WebCuration.PslWildSnapshot).as("domain"))
        .orderBy(col("domain").asc, col("doc_id").asc)
    }),

    // ---- the per-domain cap from PURE SQL: vfs_domain_cap over a
    // landed crawl table (rank column stored negated to keep the
    // longest) — the TVF delegates to capPerDomain's bounded-
    // histogram selection, so the SQL surface inherits the
    // never-a-single-task-sort shape ----
    "sql_tvf_domain_cap" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-domcap").toString
      webUrls(s, dir).withColumn("neg_chars", negate(col("n_chars")))
        .write.mode("overwrite").parquet(s"$tmp/urls")
      s.sql("SELECT doc_id, vfs_url_domain(url) AS domain FROM " +
        s"vfs_domain_cap('$tmp/urls', 3, 'neg_chars') " +
        "ORDER BY domain ASC, doc_id ASC")
    }),

    // ---- the PSL form of the SQL cap: pslSource names the snapshot
    // parquet, so the full eTLD+1 per-publisher cap — including the
    // materialized-stratum recipe — runs from one SQL statement ----
    "sql_tvf_domain_cap_psl" -> ((s, dir) => {
      import s.implicits._
      graft.functions.registerAll(s)
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-domcappsl").toString
      webPslUrls(s, dir)
        .withColumn("neg_chars", negate(col("n_chars")))
        .write.mode("overwrite").parquet(s"$tmp/urls")
      graft.operators.WebCuration.PslSampleSnapshot.toDF("suffix")
        .write.mode("overwrite").parquet(s"$tmp/psl")
      s.sql("SELECT doc_id, vfs_psl_domain_table(vfs_url_host(url), " +
        s"'$tmp/psl') AS domain FROM vfs_domain_cap('$tmp/urls', 3, " +
        s"'neg_chars', 'url', 'doc_id', 16, '$tmp/psl') " +
        "ORDER BY domain ASC, doc_id ASC")
    }),

    // ---- the TABLE-backed PSL SQL surface: the snapshot lands in a
    // parquet table (the parsed public_suffix_list.dat shape) and the
    // eTLD+1 derives from PURE SQL via vfs_psl_domain_table — the
    // fourth surface for the PSL family (Scala callers already have
    // pslFromTable); same suffix-walk kernel, loaded once at plan
    // time through the gated collect ----
    "sql_psl_domain_table" -> ((s, dir) => {
      import s.implicits._
      graft.functions.registerAll(s)
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-psltab").toString
      graft.operators.WebCuration.PslSampleSnapshot.toDF("suffix")
        .write.mode("overwrite").parquet(s"$tmp/psl")
      webPslUrls(s, dir).createOrReplaceTempView("psl_urls_v")
      s.sql("SELECT doc_id, vfs_psl_domain_table(vfs_url_host(url), " +
        s"'$tmp/psl') AS domain FROM psl_urls_v ORDER BY doc_id ASC")
    }),

    // ---- PSL attribution in the STREAMING URL loop: the landed rows
    // of a urlDedupBatch carry psl_domain (the per-row projection
    // rides the landing write — zero extra shuffle), so the streaming
    // surface stays at parity with the batch cap ----
    "stream_url_psl" -> ((s, dir) => {
      val cd = java.nio.file.Files
        .createTempDirectory("verify-urlpslstream").toString
      graft.streaming.Ingest.urlDedupBatch(webPslUrls(s, dir), 0L, cd,
        psl = graft.operators.WebCuration.PslSampleSnapshot)
      s.read.parquet(s"$cd/docs/batch=0")
        .select(col("doc_id"), col("url"), col("psl_domain"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the curation audit report: per-language-shard totals over
    // the packed output (docs, tokens, bins, overflows) — the one
    // aggregate every production curation run logs ----
    "pipeline_curate_report" -> ((s, dir) => {
      import s.implicits._
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      graft.operators.Curation.curateReport(
          s.read.parquet(s"$dir/documents.parquet"), model)
        .orderBy(col("lang_code").asc)
    }),

    // ---- the vfs_curate TVF: the whole curation pipeline from one
    // SQL call (zero-setup form — trains langid on the seed fixture),
    // sharing pipeline_curate_e2e's oracle verbatim ----
    "sql_tvf_curate" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.sql(s"SELECT * FROM vfs_curate('$dir/documents.parquet') " +
        "ORDER BY doc_id ASC")
    }),

    // ---- the STREAMING curation loop's single-batch run: quality
    // gate → LSH near-dup keep-first (standing corpus empty, so the
    // within-batch verdict decides) → langid route of the landed
    // survivors into language-partitioned shards. The batch twin of
    // pipeline_curate_e2e's first three stages, exercised through
    // the actual foreachBatch body ----
    "stream_curate" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.TextAnalysis.trainLangId(
        graft.operators.TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
      val cd = java.nio.file.Files
        .createTempDirectory("verify-curate").toString
      graft.streaming.Ingest.curateBatch(docs, 0L, cd, model,
        minQualityMilli = 650L, minTokens = 20L, maxTokens = 90L,
        threshold = 0.9, bands = 16, rowsPerBand = 4, maxBucket = 1000,
        keepLangs = Nil)
      s.read.parquet(s"$cd/routed/batch=0")
        .select(col("doc_id"), col("lang_pred"), col("matched"),
          col("score_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- temperature (α=0.5) source rebalancing: weights derived
    // from observed counts, quotas and picks engine-portable. The
    // test corpus's sources are perfectly balanced (α-smoothing of a
    // balanced mix correctly keeps everything), so the query first
    // induces deterministic skew — src0 keeps all rows, the rest
    // drop every third doc — and the smoothing visibly trims the
    // now-oversized src0 toward the others' shares ----
    "q_temperature_sample" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src0" ||
          pmod(col("doc_id"), lit(3)) =!= 0)
      // bandCap = 16 forces the radix-histogram threshold path even at
      // this tiny SF, so the oracle hash-match certifies the SCALE
      // plan, not just the degenerate single-window one
      graft.operators.Sampling.temperatureSample(d,
          col("source"), col("text"), col("doc_id"), alpha = 0.5,
          bandCap = 16L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- weight-budget sampling: fill each source's n_chars budget
    // in content-hash order, budget-crossing row kept. bandCap = 16
    // forces the weighted radix refinement (per-bucket count+sum
    // aggregates) even at this SF; src3's budget exceeds its total at
    // sf0.01 (whole-stratum pass) and not at sf0.1 — both regimes
    // certify against the ONE oracle rule `before < budget` ----
    "q_budget_sample" -> ((s, dir) => {
      graft.operators.Sampling.budgetSample(
          s.read.parquet(s"$dir/documents.parquet"),
          col("source"), col("n_chars"), col("text"), col("doc_id"),
          budgetSampleBudgets, bandCap = 16L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the vfs_budget_sample TVF: weight-budget sampling from
    // pure SQL (budgets as a map literal — the one pipeline family
    // that had no SQL surface); shares q_budget_sample's derivation
    // and oracle verbatim, same bandCap-forced threshold path ----
    "sql_tvf_budget_sample" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val m = budgetSampleBudgets.map { case (k, v) => s"'$k', ${v}L" }
        .mkString(", ")
      s.sql(s"SELECT doc_id, source, n_chars FROM vfs_budget_sample(" +
        s"'$dir/documents.parquet', 'source', 'n_chars', 'text', " +
        s"'doc_id', map($m), 16) ORDER BY doc_id ASC")
    }),

    // ---- the vfs_mixture TVF: source-mixture sampling from pure SQL
    // — integer weights 50/25/15/10 normalize to exactly the doubles
    // q_mixture_sample passes (correctly-rounded IEEE division), so
    // the TVF shares mixtureSampleOracle verbatim ----
    "sql_tvf_mixture" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.sql(s"SELECT doc_id, source FROM vfs_mixture(" +
        s"'$dir/documents.parquet', 'source', 'text', 'doc_id', " +
        "map('src0', 50, 'src1', 25, 'src2', 15, 'src3', 10), 16) " +
        "ORDER BY doc_id ASC")
    }),

    // ---- JSONL sink + source roundtrip: the interchange format of
    // text-corpus pipelines — write the documents table as JSON lines,
    // read it back under the ORIGINAL schema (inference would widen
    // ints), prove byte-faithful content ----
    "src_jsonl_roundtrip" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-jsonl").toString
      d.write.mode("overwrite").json(s"$tmp/docs")
      s.read.schema(d.schema).json(s"$tmp/docs")
        .orderBy(col("doc_id").asc)
    }),

    // ---- ORC sink + source roundtrip (the other columnar format) ----
    "src_orc_roundtrip" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-orc").toString
      d.write.mode("overwrite").orc(s"$tmp/docs")
      s.read.schema(d.schema).orc(s"$tmp/docs")
        .orderBy(col("doc_id").asc)
    }),

    // ---- CSV sink + source roundtrip: quoted/escaped multiline text
    // survives; schema pinned on read (inference would widen) ----
    "src_csv_roundtrip" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-csv").toString
      d.write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"")
        .csv(s"$tmp/docs")
      s.read.schema(d.schema)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(s"$tmp/docs")
        .orderBy(col("doc_id").asc)
    }),

    // ---- fixed-step time resample with dense gap-fill + LOCF ----
    "q_time_resample" -> ((s, dir) => {
      graft.operators.TimeSeries.resampleLocf(events(s, dir),
          col("event_type"), col("ts"), col("value"), stepSec = 300L)
        .withColumnRenamed("k", "event_type")
        .orderBy(col("event_type").asc, col("bucket").asc)
    }),

    // ---- OHLC bucketed downsample: one hash agg, struct-min/max
    // open/close (deterministic under timestamp ties) ----
    "q_time_ohlc" -> ((s, dir) => {
      graft.operators.TimeSeries.ohlc(events(s, dir),
          col("event_type"), col("ts"), col("value"), stepSec = 3600L)
        .withColumnRenamed("k", "event_type")
        .orderBy(col("event_type").asc, col("bucket").asc)
    }),

    // ---- interval × interval overlap join (binned, first-shared-bin
    // dedup — no BroadcastNestedLoop, no dropDuplicates shuffle) ----
    "q_interval_overlap" -> ((s, dir) => {
      val ev = events(s, dir)
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("value").as("lo1"),
          (col("value") + 0.5).as("hi1"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("value").as("lo2"), (col("value") + 0.3).as("hi2"))
      graft.operators.RangeJoin.intervalOverlap(l, r,
          "lo1", "hi1", "lo2", "hi2", binWidth = 0.5)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("event_id").asc)
    }),

    // ---- ordered funnel: signup → view → click → purchase, each
    // step at-or-after the user's earliest prior-step completion ----
    "q_funnel" -> ((s, dir) => {
      graft.operators.TimeSeries.funnel(events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("signup", "view", "click", "purchase"))
        .orderBy(col("step").asc)
    }),

    // ---- funnel conversion latency: per step, converters + median
    // lag from funnel start (half-centi-second units — the doubled
    // interpolated median of centi-bucketed lags is integer-exact,
    // and the bucketing bounds the percentile's aggregation state by
    // the funnel's time range instead of key cardinality) ----
    "q_funnel_latency" -> ((s, dir) => {
      graft.operators.TimeSeries.funnelLatency(events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("signup", "view", "click", "purchase"))
        .orderBy(col("step").asc)
    }),

    // ---- windowed funnel: each step must land within 24 h of the
    // previous step's completion (inclusive edge) — the
    // conversion-window shape real funnels use ----
    "q_funnel_windowed" -> ((s, dir) => {
      graft.operators.TimeSeries.funnelWindowed(events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("signup", "view", "click", "purchase"),
          maxStepGapSec = 86400L)
        .orderBy(col("step").asc)
    }),

    // ---- trending: per hourly bucket, the top-3 event types by
    // count (rank ties broken by name — fully deterministic). Two
    // hash aggs + a rank window over bucket-sized grouped rows ----
    "q_trending" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val us = graft.operators.TimeNorm.epochMicros(col("ts"))
      val bucket = ((us - us % lit(3600000000L)) / 1000000L)
        .cast("long")
      val counts = events(s, dir)
        .select(bucket.as("bucket"), col("event_type"))
        .groupBy(col("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("n").desc, col("event_type").asc)
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy(col("bucket").asc, col("rank").asc)
    }),

    // ---- cohort retention: daily buckets, users keyed to their
    // first-active day, distinct-user counts per (cohort, offset) ----
    "q_retention" -> ((s, dir) => {
      graft.operators.TimeSeries.retention(events(s, dir),
          col("user_id"), col("ts"), bucketSec = 86400L)
        .orderBy(col("cohort").asc, col("bucket_offset").asc)
    }),

    // ---- the OHLC TVF from pure SQL text: same operator, same
    // oracle — the SQL surface extends to the time-series family ----
    "sql_tvf_ohlc" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT k AS event_type, bucket, n, open_c, high_c, low_c,
           |       close_c
           |FROM vfs_ohlc('$dir/events.parquet', 3600)
           |ORDER BY event_type ASC, bucket ASC""".stripMargin)
    }),

    // ---- rolling trailing-window aggregate: every event's 1h-back
    // exposure (RANGE frame — timestamp peers share the frame) ----
    "q_time_rolling" -> ((s, dir) => {
      graft.operators.TimeSeries.rolling(events(s, dir),
          col("event_id"), col("user_id"), col("ts"), col("value"),
          windowSec = 3600L)
        .withColumnRenamed("id", "event_id")
        .withColumnRenamed("k", "user_id")
        .orderBy(col("event_id").asc)
    }),

    // ---- per-key event-time gap detection (monitoring twin of
    // sessionize: every reported gap is a session boundary) ----
    "q_time_gaps" -> ((s, dir) => {
      graft.operators.TimeSeries.gaps(events(s, dir),
          col("user_id"), col("ts"), minGapSec = 7200L)
        .withColumnRenamed("k", "user_id")
        .orderBy(col("user_id").asc, col("gap_start_us").asc,
          col("gap_end_us").asc)
    }),

    // ---- deterministic negative-pair mining (contrastive training):
    // hash-drawn partners over the dense id domain, exact-dup pairs
    // filtered out (false-negative guard) ----
    "q_negative_pairs" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Sampling.negativePairs(d, k = 3, n = d.count())
        .join(d.select(col("doc_id").as("anchor"), col("text").as("__ta")),
          Seq("anchor"))
        .join(d.select(col("doc_id").as("negative"),
          col("text").as("__tb")), Seq("negative"))
        .filter(col("__ta") =!= col("__tb"))
        .select(col("anchor"), col("j"), col("negative"))
        .orderBy(col("anchor").asc, col("j").asc)
    }),

    // ---- hashed bag-of-words embedding: model-free text
    // featurization (hashing trick), codegen'd kernel, bit-exact
    // cross-engine in milli form. Output is exploded to scalar
    // (doc_id, dim, val_milli) rows so the result is checker-portable
    // (array columns are not hashable downstream) ----
    "text_hash_embedding" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.hashEmbeddingMilli(col("text"), 64)
            .as("emb_milli"))
        .select(col("doc_id"),
          posexplode(col("emb_milli")).as(Seq("dim", "val_milli")))
        .orderBy(col("doc_id").asc, col("dim").asc)
    }),

    // ---- the full text→vector→semantic-dedup composition: raw text
    // featurized in-engine, then SemDeDup over the derived embeddings —
    // no external model anywhere, and DuckDB reproduces the whole
    // pipeline bit-for-bit ----
    "dedup_semantic_text" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.hashEmbedding(col("text"), 64)
            .as("embedding"))
      Dedup.semanticDedup(e, Dedup.seedCentroids(e, 8, idCol = "doc_id"),
          tauMilli = 100L, idCol = "doc_id")
        .orderBy(col("doc_id").asc)
    }),

    // ---- curriculum interleave: per-source quality rank + round-robin
    // source order — any prefix of the stream is quality-leaning AND
    // source-balanced ----
    "text_curriculum" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val scored = d.select(col("doc_id"), col("source"),
        graft.operators.TextAnalysis.qualityMilli(col("text"))
          .as("quality_milli"))
      graft.operators.Sampling.curriculumInterleave(scored,
        col("source"), col("quality_milli"), col("doc_id"))
    }),

    // ---- deterministic source-mixture sampling (domain reweighting):
    // src0's weight binds (quota = its full 25 rows at sf0.01), the
    // others are hash-subsampled to the target proportions ----
    "q_mixture_sample" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      // bandCap = 16: exercise the threshold path (see
      // q_temperature_sample note)
      graft.operators.Sampling.mixtureSample(d, col("source"),
          col("text"), col("doc_id"),
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.15,
            "src3" -> 0.10), bandCap = 16L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- heavy hitters (Misra-Gries): top tokens over the corpus.
    // capacity 4096 >> distinct words here, so the mergeable sketch is
    // EXACT and the DuckDB group-count oracle pins it bit-for-bit ----
    "q_heavy_hitters" -> ((s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(graft.operators.TextAnalysis
          .tokens(lower(col("text")))).as("item"))
      graft.operators.HeavyHitters.topK(toks, col("item"), 10,
        capacity = 4096)
    }),

    // ---- multimodal columns: REAL containers (WAV/BMP/PPM) built
    // in-engine; n_bytes is the true container size, so the oracle's
    // header arithmetic (44-byte RIFF, 54+stride*h BMP, ASCII P6)
    // certifies the encoders byte-for-byte ----
    "multimodal_meta" -> ((s, dir) => {
      graft.operators.Multimodal
        .synthesizeMedia(s.read.parquet(s"$dir/documents.parquet"))
        .toDF()
        .select(col("doc_id"), col("format"), col("n_bytes"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- batched multi-query similarity search (TopKByDistance) ----
    "similarity_batch_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id").isin(1L, 2L, 3L, 4L, 5L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvalues"))
      Knn.exactBatch(
          e.select(col("vec_id").as("id"), col("embedding").as("values")),
          queries, 3, Metric.Cosine)
        .select(col("qid"), col("id").as("vec_id"),
          milli(col("distance")).as("dist_milli"), col("rank"))
        .orderBy(col("qid").asc, col("rank").asc)
    }),

    // ---- margin-based pair mining (Artetxe & Schwenk 2019 ratio
    // margin — the CCMatrix/LASER bitext-mining criterion): the
    // even/odd vec_id halves act as the two collections; every
    // forward top-4 candidate scored by sim relative to BOTH
    // neighborhood averages. Micro-quantized sims make the k-sums
    // exact integers, so the margin is one pinned double chain ----
    "mining_margin_candidates" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.operators.Mining.marginCandidates(s,
          e.filter(col("vec_id") % 2 === 0)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          e.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          k = 4)
        .orderBy(col("src_id").asc, col("cand_rank").asc)
    }),

    // ---- the mined pairs: each source's best-margin candidate above
    // the 1.0 margin floor (margin_milli >= 1000) ----
    "mining_margin_pairs" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.operators.Mining.marginPairs(s,
          e.filter(col("vec_id") % 2 === 0)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          e.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          k = 4, minMarginMilli = 1000L)
        .orderBy(col("src_id").asc)
    }),

    // ---- the INTERSECTION strategy: keep a pair only when each side
    // is the other's best-margin candidate — the margin itself is
    // direction-symmetric, so the oracle instantiates the directional
    // derivation twice and joins on mutuality ----
    "mining_margin_mutual" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.operators.Mining.marginPairsMutual(s,
          e.filter(col("vec_id") % 2 === 0)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          e.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id").as("id"), col("embedding").as("values")),
          k = 4, minMarginMilli = 1000L)
        .orderBy(col("src_id").asc)
    }),

    // ---- the same mining from pure SQL text: the TVF reads the two
    // halves from stored parquet and delegates to marginPairs, so the
    // row shares the operator row's oracle verbatim ----
    "sql_tvf_margin_pairs" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val e = emb(s, dir)
      val base = java.nio.file.Files
        .createTempDirectory("verify-margin").toString
      e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("values"))
        .write.mode("overwrite").parquet(s"$base/src")
      e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("id"), col("embedding").as("values"))
        .write.mode("overwrite").parquet(s"$base/tgt")
      s.sql("SELECT src_id, tgt_id, sim_micro, margin_milli " +
        s"FROM vfs_margin_pairs('$base/src', '$base/tgt', 4, 1000) " +
        "ORDER BY src_id ASC")
    }),

    // ---- the alignment loop: the even half arrives as a batch and
    // mines against a STANDING IVF artifact over the odd half
    // (marginMineBatch — the foreachBatch body the stream runs).
    // Full probe width makes the delta path exact, so the row shares
    // the operator row's oracle with batch_id folded in ----
    "stream_margin_mining" -> ((s, dir) => {
      val e = emb(s, dir)
      val tgt = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("id"), col("embedding").as("values"))
      val base = java.nio.file.Files
        .createTempDirectory("verify-minestream").toString
      graft.operators.IvfIndex.build(tgt, s"$base/tgt", nCentroids = 4)
      graft.streaming.Ingest.marginMineBatch(
        e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("id"), col("embedding").as("values")),
        0L, s"$base/tgt", tgt, s"$base/out", k = 4, nProbe = 4,
        minMarginMilli = 1000L, idCol = "id", vecCol = "values")
      s.read.parquet(s"$base/out/batch=0")
        .select(col("src_id"), col("tgt_id"), col("sim_micro"),
          col("margin_milli"), col("batch_id"))
        .orderBy(col("src_id").asc)
    }),

    // ---- event-time windowed aggregation (streaming shape, batch run) ----
    "stream_window_agg" -> ((s, dir) => {
      graft.streaming.Ingest
        .windowedEventCounts(events(s, dir), batchMode = true)
        .orderBy(col("ws").asc, col("event_type").asc)
    }),

    // ---- streaming OHLC bars (batch-mode twin of ohlcStream: same
    // plan Structured Streaming runs, oracle-checkable) ----
    "stream_ohlc" -> ((s, dir) => {
      graft.streaming.Ingest
        .ohlcStream(events(s, dir), batchMode = true)
        .orderBy(col("ws").asc, col("k").asc)
    }),

    // ---- streaming ordered funnel (batch-mode run of the
    // flatMapGroupsWithState completion stream + count rollup,
    // zero-filled from the static step list — hash-matches q_funnel's
    // oracle) ----
    "stream_funnel" -> ((s, dir) => {
      val steps = Seq("signup", "view", "click", "purchase")
      val completions = graft.streaming.Ingest.funnelStream(
        events(s, dir), steps, batchMode = true)
      import s.implicits._
      steps.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("step", "event_type")
        .join(completions.groupBy(col("step"), col("event_type"))
            .agg(count(lit(1)).as("n_keys")),
          Seq("step", "event_type"), "left")
        .select(col("step"), col("event_type"),
          coalesce(col("n_keys"), lit(0L)).as("n_keys"))
        .orderBy(col("step").asc)
    }),

    // ---- streaming cohort retention (batch-mode run of the
    // flatMapGroupsWithState increment stream + the downstream count
    // rollup — hash-matches the batch retention twin) ----
    "stream_retention" -> ((s, dir) => {
      graft.streaming.Ingest
        .retentionStream(events(s, dir), keyCol = "user_id",
          tsCol = "ts", bucketSec = 86400L, batchMode = true)
        .groupBy(col("cohort"), col("bucket_offset"))
        .agg(count(lit(1)).as("n_keys"))
        .orderBy(col("cohort").asc, col("bucket_offset").asc)
    }),

    // ---- streaming gap sessionization (batch-mode run of the
    // flatMapGroupsWithState session stream — O(1) state per key,
    // sessions emit the instant they become unclosable; hash-matches
    // the batch w_sessionize window exactly) ----
    "stream_sessionize" -> ((s, dir) => {
      graft.streaming.Ingest
        .sessionizeStream(events(s, dir), keyCol = "user_id",
          tsCol = "ts", gapSec = 1800L, batchMode = true)
        .orderBy(col("user_id").asc, col("session_id").asc)
    }),
    // string-keyed twin: UUID-style keys group by the string itself
    // (no lossy cast); the prefixed key is a bijection of user_id so
    // DuckDB re-derives the same sessions under the same string keys
    "stream_sessionize_strkey" -> ((s, dir) => {
      graft.streaming.Ingest
        .sessionizeStream(
          events(s, dir).withColumn("user_id",
            concat(lit("u-"), col("user_id").cast("string"))),
          keyCol = "user_id", tsCol = "ts", gapSec = 1800L,
          batchMode = true)
        .orderBy(col("user_id").asc, col("session_id").asc)
    }),

    // ---- exact percentile aggregation (sort-based, deterministic) ----
    "q_percentile" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)") * 100).cast("long")
            .as("p50_c"),
          round(expr("percentile(value, 0.95)") * 100).cast("long")
            .as("p95_c"))
        .orderBy(col("event_type").asc)
    }),

    // ---- C7: JSON decode surface (from_json over event props) ----
    "c7_json_props" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).cast("long").as("k_sum"),
          count(col("k")).as("n"))
        .orderBy(col("event_type").asc)
    }),

    // ---- M5: predicate-filtered search (filter pushed under score) ----
    "q_filtered_knn" -> ((s, dir) => {
      val q = queryVec(s, dir, 1L)
      emb(s, dir)
        .filter(col("label") === 3)
        .select(col("vec_id"),
          milli(vfs_cosine(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(5)
    }),

    // ---- M5: search over a quantized store's dense read view
    // (dequantize-on-read path, storage_manager.rs:202-210) ----
    "q_quantized_knn" -> ((s, dir) => {
      val q = queryVec(s, dir, 1L)
      val dq = vfs_dequantize(
        vfs_quantize(col("embedding"), lit(127.0f)), lit(127.0f))
      emb(s, dir)
        .select(col("vec_id"),
          milli(vfs_cosine(dq, typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- grouping sets surface: ROLLUP with NULL keys normalized ----
    "q_rollup" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("rf").asc, col("ls").asc)
    }),

    // ---- CUBE: all grouping-set combinations with NULLs normalized ----
    "q_cube" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("rf").asc, col("ls").asc)
    }),

    // ---- range join: events binned into value intervals via the
    // bin-decomposed equi-join (no BroadcastNestedLoopJoin) ----
    "q_range_join_bins" -> ((s, dir) => {
      import s.implicits._
      val bins = (0 until 10).map(i => (i.toLong, i * 50.0, (i + 1) * 50.0))
        .toDF("bin_id", "lo", "hi")
      val ev = events(s, dir).select(col("event_id"), col("value"))
      graft.operators.RangeJoin
        .pointInInterval(ev, bins, "value", "lo", "hi", binWidth = 20.0)
        .groupBy(col("bin_id"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) * 100).cast("long").as("value_c"))
        .orderBy(col("bin_id").asc)
    }),

    // ---- skew-salted join: result must equal the plain equi-join ----
    "q_salted_join" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.salted(li, o, "l_orderkey", "o_orderkey", 8)
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("long").as("revenue"), count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderpriority").asc)
    }),

    // ---- dedup with deterministic survivors (streaming twin:
    // Ingest.dedupStream / dropDuplicatesWithinWatermark) ----
    "q_dedup_events" -> ((s, dir) => {
      graft.streaming.Ingest.dedupSurvivors(events(s, dir))
        .select(col("user_id"), col("event_type"),
          date_format(col("minute"), "yyyy-MM-dd HH:mm:ss").as("minute"),
          col("keeper_event"), col("n_dups"))
        .orderBy(col("user_id").asc, col("event_type").asc, col("minute").asc)
    }),

    // ---- co-located bucketed join (layout written, then joined with
    // no shuffle on either side — plan asserted in BucketedLayoutSpec;
    // the oracle checks the join RESULT equals the plain join) ----
    "q_bucketed_join" -> ((s, dir) => {
      import graft.store.BucketedLayout
      BucketedLayout.writeBucketed(
        s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        "graft_bl_lineitem", "l_orderkey", 8)
      BucketedLayout.writeBucketed(
        s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_orderpriority")),
        "graft_bl_orders", "o_orderkey", 8)
      BucketedLayout.coLocatedJoin(s, "graft_bl_lineitem", "graft_bl_orders",
          "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("long").as("revenue"), count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderpriority").asc)
    }),

    // ---- deterministic hash sampling: same rows selected on any
    // cluster/partitioning/engine (vs RNG .sample()) ----
    "q_sample_hash" -> ((s, dir) => {
      graft.operators.Sampling.hashSample(
          s.read.parquet(s"$dir/documents.parquet"), col("text"), 10)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- append-stable train/val/test split assignment ----
    "q_split_assign" -> ((s, dir) => {
      graft.operators.Sampling.splitAssign(
          s.read.parquet(s"$dir/documents.parquet"), col("text"),
          Seq(("train", 80), ("val", 90), ("test", 100)))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split").asc, col("lang").asc)
    }),

    // ---- count-min sketch: deterministic portable-hash cells, so the
    // sketch AND the estimates oracle-match; est >= true by design ----
    // ---- relational Bloom filter decontamination: build over src0's
    // word bigrams (the "benchmark" reference set), probe the whole
    // corpus; hit=1 ⊇ in_ref=1 (false positives possible, negatives
    // not — the oracle reproduces both bit-for-bit) ----
    "q_bloom_decontaminate" -> ((s, dir) => {
      import graft.operators.Sketches
      val d = s.read.parquet(s"$dir/documents.parquet")
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .select(explode(TextAnalysis.wordNGrams(col("text"), 2)).as("gram"))
        .distinct()
      val ref = grams(d.filter(col("source") === "src0"))
      val bloom = Sketches.bloomBuild(ref, col("gram"), 4096, 3)
      val hits = Sketches.bloomMightContain(bloom, grams(d), col("gram"),
        4096, 3)
      hits.join(ref.select(col("gram").as("key"), lit(1L).as("in_ref")),
          Seq("key"), "left")
        .select(col("key").as("gram"), col("hit"),
          coalesce(col("in_ref"), lit(0L)).as("in_ref"))
        .orderBy(col("gram").asc)
    }),

    "q_count_min" -> ((s, dir) => {
      import graft.operators.Sketches
      val ev = events(s, dir).select(col("event_type"))
      val sketch = Sketches.countMinSketch(ev, col("event_type"), 4, 64)
      val est = Sketches.countMinEstimate(sketch, ev.distinct(),
          col("event_type"), 4, 64)
        .select(col("__k").as("event_type"), col("est"))
      val truth = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
      est.join(truth, Seq("event_type"))
        .orderBy(col("event_type").asc)
    }),

    // ---- Z-order (Morton) clustering key: the multi-dimensional
    // layout code verified against DuckDB bit math ----
    "q_zorder_code" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(pmod(col("l_orderkey"), lit(1024)).as("x"),
          pmod(col("l_partkey"), lit(1024)).as("y"))
        .distinct()
        .select(col("x"), col("y"),
          graft.store.ZOrderLayout.zorder(col("x"), col("y")).as("z"))
        .orderBy(col("x").asc, col("y").asc)
    }),

    // ---- deterministic weighted sampling: longer docs kept with
    // higher probability (quality-weighted corpus subsampling) ----
    "q_weighted_sample" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Sampling.weightedHashSample(docs, col("text"),
          least(lit(1.0), col("n_chars").cast("double") / 500.0))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("lang").asc)
    }),

    // ---- deterministic stratified sample: smallest-hash n per lang ----
    "q_stratified_sample" -> ((s, dir) => {
      // bandCap = 2: even a 3-row quota goes through band refinement
      graft.operators.Sampling.stratifiedTopN(
          s.read.parquet(s"$dir/documents.parquet"),
          col("lang"), col("text"), col("doc_id"), 3, bandCap = 2L)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang").asc, col("doc_id").asc)
    }),

    // ---- semi join surface ----
    "q_semi_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment").asc)
    }),

    // ---- distinct aggregation surface ----
    "q_distinct_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag").asc)
    }),

    // ---- as-of join: each click joined to the user's most recent
    // prior-or-simultaneous purchase (operator Spark lacks natively;
    // DuckDB oracle uses its built-in ASOF JOIN) ----
    "asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.backward(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"))
        .select(col("event_id"), col("user_id"),
          coalesce(round(col("pval") * 100).cast("long"), lit(-1L))
            .as("pval_c"))
        .orderBy(col("event_id").asc)
    }),

    // ---- RAG-style chunking: 200-char windows, 50-char overlap;
    // output integer stats per chunk (chars + whitespace tokens) ----
    "text_chunks" -> ((s, dir) => {
      val chunked = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          posexplode(graft.operators.TextAnalysis
            .chunkText(col("text"), 200, 50)).as(Seq("chunk_idx", "chunk")))
      chunked.select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          length(col("chunk")).cast("long").as("chunk_chars"),
          graft.operators.TextAnalysis.tokenCount(col("chunk"))
            .as("chunk_tokens"))
        .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    }),

    // ---- grouped vector mean (class centroids) via the VectorMean
    // partial aggregate: one dim-sized buffer per group per partition
    // crosses the shuffle, not the vectors ----
    "q_vec_mean" -> ((s, dir) => {
      s.read.parquet(s"$dir/embeddings.parquet")
        .groupBy(col("label"))
        .agg(graft.operators.VectorMean.vecMean(col("embedding")).as("m"))
        .select(col("label"), posexplode(col("m")).as(Seq("dim_idx", "mean")))
        .select(col("label").cast("long").as("label"),
          col("dim_idx").cast("long").as("dim_idx"),
          round(col("mean") * 1000).cast("long").as("mean_milli"))
        .orderBy(col("label").asc, col("dim_idx").asc)
    }),

    // ---- grouped kNN through the custom vfs_topk aggregate: per-label
    // top-3 neighbors of a fixed query, shuffling <= k rows per label
    // per partition ----
    "q_grouped_knn" -> ((s, dir) => {
      val q = queryVec(s, dir, 7)
      val scored = emb(s, dir)
        .select(col("label"), col("vec_id"),
          vfs_cosine(col("embedding"), typedLit(q)).as("d"))
      scored.groupBy(col("label"))
        .agg(graft.operators.TopKByDistance
          .topk(col("d"), col("vec_id"), 3).as("t"))
        .select(col("label").cast("long").as("label"),
          explode(col("t")).as("s"))
        .select(col("label"), col("s.id").as("vec_id"),
          round(col("s.distance") * 1000).cast("long").as("dist_milli"))
        .orderBy(col("label").asc, col("dist_milli").asc,
          col("vec_id").asc)
    }),

    // ---- KMV distinct sketch: deterministic (portable FNV hash), so
    // the estimate itself oracle-matches — no HLL can do that ----
    "q_kmv_distinct" -> ((s, dir) => {
      graft.operators.Sketches.kmvDistinct(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), 64)
    }),

    // ---- interval join (stream-stream shape run on batch frames):
    // purchases within 30 min after each click, per user ----
    "q_interval_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      graft.streaming.Ingest.intervalJoinStream(clicks, purchases)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value")) * 100).cast("long").as("value_c"))
        .orderBy(col("event_id").asc)
    }),

    // ---- GROUPING SETS: explicit grouping-set list (vs rollup/cube) ----
    "q_grouping_sets" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .createOrReplaceTempView("graft_gs_lineitem")
      s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  count(1) AS n_rows
        |FROM graft_gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
        |ORDER BY rf ASC, ls ASC""".stripMargin)
    }),

    // ---- forward as-of: next purchase at-or-after each click ----
    "asof_join_forward" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.forward(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"))
        .select(col("event_id"), col("user_id"),
          coalesce(round(col("pval") * 100).cast("long"), lit(-1L))
            .as("pval_c"))
        .orderBy(col("event_id").asc)
    }),

    // ---- nearest as-of: closer of the backward/forward purchase,
    // exact ties resolve backward (AsOfJoin.nearest) ----
    "asof_join_nearest" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.nearest(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"))
        .select(col("event_id"), col("user_id"),
          coalesce(round(col("pval") * 100).cast("long"), lit(-1L))
            .as("pval_c"))
        .orderBy(col("event_id").asc)
    }),

    // ---- tolerance as-of: backward match only counts within 1 hour ----
    "asof_join_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.backward(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"), matchedTsAs = Some("mts"))
        .select(col("event_id"), col("user_id"),
          coalesce(
            when(graft.operators.TimeNorm.epochMicros(col("ts"))
                - graft.operators.TimeNorm.epochMicros(col("mts"))
                <= 3600L * 1000000L,
              round(col("pval") * 100).cast("long")),
            lit(-1L)).as("pval_c"))
        .orderBy(col("event_id").asc)
    }),

    // ---- nearest as-of with a tolerance bound: only matches within
    // 1 hour on EITHER side count; equidistant in-tolerance ties
    // resolve backward; neither side in tolerance → -1 sentinel ----
    "asof_join_nearest_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.nearest(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"),
          toleranceUs = Some(3600L * 1000000L))
        .select(col("event_id"), col("user_id"),
          coalesce(round(col("pval") * 100).cast("long"), lit(-1L))
            .as("pval_c"))
        .orderBy(col("event_id").asc)
    }),

    // ---- portable minhash signatures: sig[i] = min over the word set
    // of (a_i·x + b_i) mod P with x = md5-derived 60-bit word hash —
    // hash-matches the DuckDB oracle's fold over the same constants ----
    "dedup_minhash_sig" -> ((s, dir) => {
      val params = Dedup.minHashParams(32)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          Dedup.minHashPortableSig(col("text"), params).as("sig"))
        .select(col("doc_id"),
          aggregate(col("sig"), lit(0L), (a, x) => a + x).as("sig_sum"),
          array_min(col("sig")).as("sig_min"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- Q3 (verifiable twin): IVF probe with nProbe = nCentroids
    // degenerates to exact top-k — exercises the full index path
    // (build, centroid routing, partition-pruned read) against the
    // brute-force oracle ----
    "ann_ivf_fullprobe" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("values"))
      val idx = java.nio.file.Files.createTempDirectory("verify-ivf-full").toString
      graft.operators.IvfIndex.build(e, idx, nCentroids = 8, Metric.Euclidean)
      val q = queryVec(s, dir, 7L)
      graft.operators.IvfIndex.search(s, idx, q, 10, nProbe = 8)
        .select(col("id").as("vec_id"), milli(col("distance")).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
    }),

    // ---- FILTERED vector search: the index probe semi-joined against
    // an allowed-id set (label = 3) BEFORE the top-k — predicate +
    // vector retrieval in one call. Full probe ⇒ exact over the
    // allowed subset, so the row hash-matches the label-filtered
    // min-distance oracle ----
    "ann_ivf_filtered" -> ((s, dir) => {
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
    }),

    // ---- FILTERED COMPRESSED vector search: the IVF-PQ two-stage
    // probe with an allowed-id pre-filter (label = 3) — ADC candidates
    // semi-join the allowed set before scoring, refine re-ranks only
    // those. Full probe + exhaustive overfetch ⇒ the refined result IS
    // the exact filtered top-k, so the row hash-matches the same
    // label-filtered min-distance oracle as ann_ivf_filtered ----
    "ann_ivfpq_filtered" -> ((s, dir) => {
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
    }),

    // ---- FILTERED BATCH vector search: searchBatch with an allowed-id
    // pre-filter (label = 3) — the per-query candidates semi-join the
    // allowed set BEFORE scoring and top-k. Full probe ⇒ exact over
    // the allowed subset for every query, so the row hash-matches a
    // per-qid windowed min-distance oracle ----
    "ann_ivf_filtered_batch" -> ((s, dir) => {
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
    }),

    // ---- Q3: approximate kNN over a persisted IVF index, emitted as
    // an ACCEPTANCE row: the probe's top-k id set depends on the
    // trained centroids (approximate by design), so a hash of the ids
    // can never oracle-match. The driver-checkable contract is recall
    // against the exact top-k — pass = 1 iff |ivf ∩ exact| ≥ 0.9·k —
    // and the oracle asserts the bound holds. The exact twin
    // ann_ivf_fullprobe above hash-matches the id/distance rows. ----
    "ann_ivf_topk" -> ((s, dir) => {
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
    }),

    // ---- BATCH IVF probe acceptance: mean recall@10 of searchBatch
    // vs the exact batch over 20 queries must clear 0.9 (same
    // worst-case uniform corpus + multiprobe settings as ann_ivf_topk)
    "ann_ivf_batch" -> ((s, dir) => {
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
    }),

    // ---- product quantization (compressed ANN): like ann_ivf_topk,
    // an ACCEPTANCE row — ADC codes are approximate by construction,
    // so the gate is two-stage recall (ADC overfetch + exact refine)
    // against the exact top-k, which must clear 0.9 ----
    "ann_pq_recall" -> ((s, dir) => {
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
    }),

    // ---- IVF-PQ (cluster-partitioned residual codes): ACCEPTANCE row
    // like ann_pq_recall — full-probe ADC + refine recall vs the exact
    // top-k must clear 0.9 ----
    "ann_ivfpq_recall" -> ((s, dir) => {
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
    }),

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
    "ann_ivfpq_pruned" -> ((s, dir) => ivfpqPrunedGate(s, dir)),

    // ---- the SAME production operating point pinned at sf0.1 (10×
    // the Verify corpus, 2,000 vectors): the sweep runs at sf0.01, so
    // this row resolves the sf0.1 SIBLING of the given data dir —
    // recall gates that only ever see the small corpus can silently
    // regress at scale (centroid count vs corpus size is a ratio).
    // Falls back to the given dir when no sibling exists (standalone
    // runs outside the driver's testdata layout) ----
    "ann_ivfpq_pruned_sf01" -> ((s, dir) =>
      ivfpqPrunedGate(s, siblingSf(dir, "sf0.1"))),

    // ---- CROSS-SCALE drift gate: the index artifact is built over
    // the sf0.1 corpus (10×) but probed with the sf0.01 queries —
    // the corpus-growth shape (an index built at one size keeps
    // serving as the collection grows, and queries come from
    // anywhere in the distribution). Recall@10 of the pruned probe
    // vs the exact answer over the SAME large base must still clear
    // 0.9. Falls back to same-dir when no sibling exists ----
    "ann_ivfpq_cross_scale" -> ((s, dir) => {
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
    }),

    // ---- the REVERSE cross-scale direction, completing the drift
    // matrix: the artifact is built over the SMALL corpus (the given
    // dir) but probed with 20 queries drawn from the sf0.1 sibling
    // OUTSIDE the small id range — the index-lag shape (an index
    // built before the collection grew keeps serving queries from
    // the wider distribution). Recall@10 vs the exact answer over
    // the SAME small base must still clear 0.9 — out-of-corpus
    // queries land in the right clusters or the probe prunes them
    // away. Falls back to same-dir queries when no sibling exists ----
    "ann_ivfpq_cross_scale_rev" -> ((s, dir) => {
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
    }),

    // ---- MinHash-LSH global near-dup: the FULL pipeline (portable
    // FNV+affine signatures, slice banding, cap, jaccard verify) is
    // reproduced by minHashLshOracle and hash-matches ----
    "dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minHashLsh(s.read.parquet(s"$dir/documents.parquet"),
          threshold = 0.9)
        .orderBy(col("a").asc, col("b").asc)
    }),

    // ---- the LSH dedup family from pure SQL text: same pipeline,
    // same oracle as dedup_minhash_lsh ----
    "sql_tvf_minhash_pairs" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT a, b, jaccard_milli
           |FROM vfs_minhash_pairs('$dir/documents.parquet', 0.9)
           |ORDER BY a ASC, b ASC""".stripMargin)
    }),

    // ---- containment near-dup: the SAME 64-hash signatures resliced
    // into 32x2 low-threshold bands, verified with
    // |A∩B|/min(|A|,|B|) — catches a doc swallowed by a longer one
    // where symmetric jaccard goes arbitrarily small ----
    "dedup_containment" -> ((s, dir) => {
      Dedup.containmentPairs(s.read.parquet(s"$dir/documents.parquet"),
          threshold = 0.9)
        .orderBy(col("a").asc, col("b").asc)
    }),

    // ---- SimHash near-dup pairs (portable 60-bit sigs; the 4×15-bit
    // band LSH output provably equals the all-pairs hamming ≤ 3 result
    // the oracle computes — no false negatives by pigeonhole, no false
    // positives after the hamming filter) ----
    "dedup_simhash" -> ((s, dir) => {
      Dedup.simHashPairsPortable(s.read.parquet(s"$dir/documents.parquet"),
          maxHamming = 3)
        .orderBy(col("a").asc, col("b").asc)
    }),

    // ---- content fingerprints (FNV-1a + min-shingle expressions;
    // oracle folds the same FNV-1a over arithmetically-derived UTF-8
    // bytes in HUGEINT mod 2^64) ----
    "text_fingerprint" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), vfs_fingerprint(col("text")).as("fp"),
          vfs_min_shingle(col("text"), 8).as("shingle_min"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- TF-IDF keywords: exact-integer rarity weight tf·1000·N/df,
    // top-3 per doc ----
    "text_tfidf" -> ((s, dir) => {
      TextAnalysis.tfIdfKeywords(
          s.read.parquet(s"$dir/documents.parquet"), k = 3)
        .orderBy(col("doc_id").asc, col("rank").asc)
    }),

    // ---- vocabulary build: global counts, rank, cumulative coverage ----
    "text_vocab" -> ((s, dir) => {
      TextAnalysis.vocabulary(
          s.read.parquet(s"$dir/documents.parquet"), v = 50)
        .orderBy(col("rank").asc)
    }),

    // ---- OOV-rate quality signal: fraction of token occurrences
    // outside the corpus top-50 vocabulary, in milli ----
    "text_oov_rate" -> ((s, dir) => {
      TextAnalysis.oovRate(
          s.read.parquet(s"$dir/documents.parquet"), v = 50)
        .orderBy(col("doc_id").asc)
    }),

    // ---- BPE tokenizer: train on the corpus word-count aggregate
    // (the distributed pass), encode every doc with the learned
    // merges. ACCEPTANCE row — DuckDB cannot run a merge loop, but it
    // pins the deterministic contract: every doc decodes back to its
    // normal form (lowercase, single spaces) and the learned subwords
    // compress vs the char-level baseline (chars + one </w> per word)
    "text_bpe" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.trainBpe(docs, nMerges = 200)
      val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
      graft.operators.Bpe.bpeEncode(docs, model)
        .join(docs.select(col("doc_id"), norm.as("__norm")),
          Seq("doc_id"))
        .select(
          when(graft.operators.Bpe.bpeDecodeCol(col("tokens"))
            === col("__norm"), 0L).otherwise(1L).as("__fail"),
          col("n_tokens"),
          (length(translate(col("__norm"), " ", "")) +
            size(split(col("__norm"), " "))).cast("long").as("__base"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__fail")).as("roundtrip_fail"),
          when(sum(col("n_tokens")) < sum(col("__base")), 1L)
            .otherwise(0L).as("compressed"))
    }),

    // ---- bigram LM quality scoring: add-one-smoothed corpus bigram
    // model, per-doc mean INVERSE probability in integer milli (the
    // float-free, engine-portable stand-in for a perplexity filter:
    // cost(a,b) = (1000·(c(a)+V)) div (c(a,b)+1), integer mean) ----
    "text_lm_score" -> ((s, dir) => {
      TextAnalysis.lmScore(
          s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- repetition REMOVAL: dedup lines within each doc, first
    // occurrence wins, order preserved. The corpus has no multi-line
    // docs at this sf, so the query derives one deterministically
    // (text + itself + a prefix, newline-joined): the operator must
    // drop the exact-duplicate second line and keep the prefix ----
    "text_strip_repeats" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat_ws("\n", col("text"), col("text"),
            substring(col("text"), 1, 50)).as("text"))
      TextAnalysis.stripRepeatedLines(docs)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lines_kept"), col("lines_total"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- CROSS-corpus LM scoring: train the bigram model on the
    // even-id half (the standing reference), score the odd-id half —
    // unseen bigrams and unseen contexts cost through the same
    // coalesced add-one formula, so the scorer generalizes without
    // special cases (the CCNet train-on-wiki / score-the-crawl shape)
    "text_lm_cross" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = TextAnalysis.lmModel(docs.filter(col("doc_id") % 2 === 0))
      TextAnalysis.scoreLm(docs.filter(col("doc_id") % 2 === 1), model)
        .orderBy(col("doc_id").asc)
    }),

    // ---- DSIR importance resampling (Xie et al. 2023): src0 is the
    // target corpus, the whole table is the raw pool; integer-exact
    // unigram importance ratios in milli, every division a true
    // 64-bit div mirrored by DuckDB's // ----
    "text_dsir_importance" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.wordModel(
        docs.filter(col("source") === "src0"))
      val raw = TextAnalysis.wordModel(docs)
      TextAnalysis.importanceMilli(docs, target, raw)
        .orderBy(col("doc_id").asc)
    }),

    // ---- the RESAMPLING step: deterministic Bernoulli keep with
    // p = min(1, imp/1500) — hash-stable membership, per-source
    // keep counts ----
    "text_dsir_sample" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.wordModel(
        docs.filter(col("source") === "src0"))
      val raw = TextAnalysis.wordModel(docs)
      TextAnalysis.dsirSample(docs, target, raw, col("text"),
          alphaMilli = 1500L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source").asc)
    }),

    // ---- the vfs_dsir TVF: DSIR importance from pure SQL — target
    // corpus landed as a parquet path (the builder trains the word
    // model in place; a saveWordModel artifact is the standing form),
    // raw defaulting to the scored corpus; shares the operator row's
    // oracle verbatim ----
    "sql_tvf_dsir" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val td = java.nio.file.Files
        .createTempDirectory("verify-dsir-target").toString
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src0")
        .write.mode("overwrite").parquet(td)
      s.sql(s"SELECT * FROM vfs_dsir('$dir/documents.parquet', " +
        s"'$td') ORDER BY doc_id ASC")
    }),

    // ---- DSIR over hashed BIGRAM features — the paper's actual
    // feature space (Xie et al. 2023 use hashed n-grams, which
    // separate target-like PHRASING from target-like vocabulary):
    // consecutive-token bigrams bucketed by the portable md5 word
    // hash mod 4096, then the same pinned IEEE-double ratio chain
    // over bucket counts ----
    "text_dsir_importance_ngram" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.ngramModel(
        docs.filter(col("source") === "src0"), n = 2, buckets = 4096)
      val raw = TextAnalysis.ngramModel(docs, n = 2, buckets = 4096)
      TextAnalysis.importanceMilliNgram(docs, target, raw,
          n = 2, buckets = 4096)
        .orderBy(col("doc_id").asc)
    }),

    // ---- TRIGRAM twin: NgramBuckets supports n ∈ [1,8] but the
    // general-n path (gram window length, the <n-token empty stance)
    // was only bigram-exercised — this row pins n = 3 against the
    // same DuckDB list-comprehension derivation generalized over n ----
    "text_dsir_importance_ngram3" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.ngramModel(
        docs.filter(col("source") === "src0"), n = 3, buckets = 4096)
      val raw = TextAnalysis.ngramModel(docs, n = 3, buckets = 4096)
      TextAnalysis.importanceMilliNgram(docs, target, raw,
          n = 3, buckets = 4096)
        .orderBy(col("doc_id").asc)
    }),

    // ---- the RESAMPLING step over the n-gram features: hash-stable
    // Bernoulli keep with p = min(1, imp/1500) on the bigram-bucket
    // importance — per-source keep counts ----
    "text_dsir_sample_ngram" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = TextAnalysis.ngramModel(
        docs.filter(col("source") === "src0"), n = 2, buckets = 4096)
      val raw = TextAnalysis.ngramModel(docs, n = 2, buckets = 4096)
      TextAnalysis.dsirSampleNgram(docs, target, raw, col("text"),
          alphaMilli = 1500L, n = 2, buckets = 4096)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source").asc)
    }),

    // ---- the STREAMING DSIR scoring loop's batch-0 run: word models
    // frozen to standing saveWordModel artifacts (target = src0, raw
    // = whole corpus), the batch scored against them through the
    // actual foreachBatch body and landed batch-addressed
    // (replay-idempotent by construction) ----
    "stream_dsir_score" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = java.nio.file.Files
        .createTempDirectory("verify-dsirstream").toString
      TextAnalysis.saveWordModel(
        TextAnalysis.wordModel(docs.filter(col("source") === "src0")),
        s"$base/target_wm")
      TextAnalysis.saveWordModel(TextAnalysis.wordModel(docs),
        s"$base/raw_wm")
      graft.streaming.Ingest.dsirScoreBatch(docs, 0L,
        TextAnalysis.loadWordModel(s, s"$base/target_wm"),
        TextAnalysis.loadWordModel(s, s"$base/raw_wm"),
        s"$base/out", alphaMilli = 0L, "doc_id", "text")
      s.read.parquet(s"$base/out/batch=0")
        .select(col("doc_id"), col("source"), col("n_words"),
          col("imp_milli"), col("batch_id"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the same loop in the hashed-BIGRAM feature space: standing
    // ngramModel artifacts (saveWordModel keeps the LONG bucket
    // column), the batch scored through importanceMilliNgram ----
    "stream_dsir_score_ngram" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = java.nio.file.Files
        .createTempDirectory("verify-dsirstream-ng").toString
      TextAnalysis.saveWordModel(
        TextAnalysis.ngramModel(docs.filter(col("source") === "src0"),
          n = 2, buckets = 4096), s"$base/target_wm")
      TextAnalysis.saveWordModel(
        TextAnalysis.ngramModel(docs, n = 2, buckets = 4096),
        s"$base/raw_wm")
      graft.streaming.Ingest.dsirScoreBatch(docs, 0L,
        TextAnalysis.loadWordModel(s, s"$base/target_wm"),
        TextAnalysis.loadWordModel(s, s"$base/raw_wm"),
        s"$base/out", 0L, "doc_id", "text", Some((2, 4096)))
      s.read.parquet(s"$base/out/batch=0")
        .select(col("doc_id"), col("source"), col("n_words"),
          col("imp_milli"), col("batch_id"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the vfs_stratified_sample TVF: stratified top-n from pure
    // SQL, sharing q_stratified_sample's derivation and oracle ----
    "sql_tvf_stratified_sample" -> ((s, dir) => {
      graft.functions.registerAll(s)
      s.sql("SELECT lang, doc_id, n_chars FROM vfs_stratified_sample(" +
        s"'$dir/documents.parquet', 'lang', 'text', 'doc_id', 3, 2) " +
        "ORDER BY lang ASC, doc_id ASC")
    }),

    // ---- the vfs_temperature_sample TVF over the SAME skew-induced
    // corpus as q_temperature_sample (landed in parquet — TVF inputs
    // are paths), sharing its oracle verbatim ----
    "sql_tvf_temperature_sample" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val td = java.nio.file.Files
        .createTempDirectory("verify-tvf-temp").toString
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src0" ||
          pmod(col("doc_id"), lit(3)) =!= 0)
        .write.mode("overwrite").parquet(td)
      s.sql(s"SELECT doc_id, source FROM vfs_temperature_sample(" +
        s"'$td', 'source', 'text', 'doc_id', 0.5, 16) " +
        "ORDER BY doc_id ASC")
    }),

    // ---- model-based filtering: a Bernoulli token-evidence
    // classifier trained distributed on an 80% slice (label: lang =
    // 'en'), scoring the held-out 20%. Integer Laplace-posterior
    // weights (milli) and integer mean-evidence scores — no floats in
    // train OR inference, so the whole learn-then-score pipeline
    // hash-matches. vocab=24 of 31 corpus terms makes the top-df
    // selection (and its term tiebreak) part of the gate; the spec
    // proves discrimination on a separable corpus ----
    "text_classifier" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = TextAnalysis.trainTokenClassifier(
        docs.filter(col("doc_id") % 5 =!= 0),
        col("lang") === "en", vocab = 24)
      TextAnalysis.scoreTokenClassifier(
          docs.filter(col("doc_id") % 5 === 0), model)
        .orderBy(col("doc_id").asc)
    }),

    // ---- multimodal REAL decode: parse the WAV/BMP/PPM containers
    // (RIFF chunk walk, BMP BGR/bottom-up/stride undo, P6 header) and
    // derive per-channel stats from the DECODED samples; the oracle
    // recomputes every stat from the payload bytes, so header parsing,
    // channel-order normalization and padding must all be exact ----
    "multimodal_features" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeMedia(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- PNG decode (Inflater + all five scanline filters): every
    // document wrapped in a real compressed PNG, then decoded back —
    // the oracle recomputes the channel stats from raw payload
    // arithmetic, so zlib round-trip and filter inversion must be
    // byte-exact for the row to hash-match ----
    "multimodal_png" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePng(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- GRAYSCALE PNG (color type 0): same zlib + filter
    // round-trip, but 1 byte/pixel scanlines — the oracle pins all
    // three channel means to the payload mean, which only matches if
    // the bpp-aware filter inversion and GRAY→RGB replication in
    // toRgb are exact ----
    "multimodal_png_gray" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePngGray(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- PALETTED PNG (color type 3): payload bytes are palette
    // indices against a deterministic 256-entry PLTE; stats are over
    // the EXPANDED RGB, so the row only hash-matches if the PLTE
    // chunk, 1-byte filter stride, and index→RGB lookup are exact ----
    "multimodal_png_palette" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePngPaletted(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- RGBA PNG (color type 6): every 4th payload byte becomes
    // the alpha lane; stats are alpha-COMPOSITED over white with pure
    // integer rounding, so the row only hash-matches if the 4-byte
    // filter stride AND the composite formula are both exact ----
    "multimodal_png_rgba" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePngRgba(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- GIF (87a/89a 8-bit LZW): payload bytes are palette indices
    // against the same deterministic 256-entry table as the paletted
    // PNG row, so the two formats share one oracle derivation — the
    // row only hash-matches if the logical-screen header, the global
    // color table, the variable-width LZW stream, and the index→RGB
    // expansion all round-trip exactly ----
    "multimodal_gif" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeGif(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- ANIMATED GIF frame sampling: every doc becomes a real
    // NETSCAPE2.0 animation (full-canvas 4×2 index frames, disposal
    // 1), every 4th COMPOSITED frame decoded; full-canvas opaque
    // frames make compositing the identity, so the oracle reads each
    // sampled frame's channel means straight off the payload slice
    // with the palette's modular arithmetic — LZW, the GCE walk, and
    // the per-frame canvas snapshot must all be exact ----
    "multimodal_gif_frames" -> ((s, dir) => {
      val vid = graft.operators.Multimodal
        .synthesizeGifAnimated(s.read.parquet(s"$dir/documents.parquet"),
          frameRows = 2)
      graft.operators.Multimodal.sampleFrames(s, vid, everyN = 4)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("width"),
          col("height"), col("r_milli"), col("g_milli"), col("b_milli"))
        .orderBy(col("doc_id").asc, col("frame_idx").asc)
    }),

    // ---- magic-byte media-format sniffing (vfs_media_format): a
    // mixed-format frame — every container family on disjoint id
    // lanes plus a RAW-payload lane — sniffed per row; container
    // lanes must sniff to their declared format, and the raw lane's
    // oracle reproduces the SAME magic-rule CASE chain over the
    // document bytes (a text that happens to start with "BM" or
    // "P6 " sniffs as that format ON BOTH SIDES) ----
    "multimodal_sniff" -> ((s, dir) => {
      import graft.operators.Multimodal
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def lane(k: Int) = docs.select(
        (col("doc_id") * 8 + k).as("doc_id"), col("text"))
      val parts = Seq(
        Multimodal.synthesizeMedia(lane(0)).toDF(),
        Multimodal.synthesizePng(lane(1)).toDF(),
        Multimodal.synthesizeJpeg(lane(2)).toDF(),
        Multimodal.synthesizeGif(lane(3)).toDF(),
        Multimodal.synthesizeTiff(lane(4), packBits = true).toDF(),
        lane(5).select(col("doc_id"),
          encode(col("text"), "UTF-8").as("media"),
          lit("application/octet-stream").as("format"),
          lit(0L).as("n_bytes")),
        Multimodal.synthesizeWebp(lane(6)).toDF())
      parts.reduce(_.unionByName(_))
        .select(col("doc_id"), col("format").as("declared"),
          graft.functions.vfs_media_format(col("media")).as("sniffed"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- WebP VP8L lossless: the same 4-wide RGB geometry in a
    // real RIFF + VP8L container — the row only hash-matches if the
    // chunk walk, the LSB-first bitstream, the code-length-code
    // machinery, and the canonical prefix decode are all exact ----
    "multimodal_webp" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeWebp(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- baseline TIFF (II, uncompressed, single strip): the same
    // 4-wide RGB geometry as the truecolor PNG row, so the two share
    // one oracle derivation — the row only hash-matches if the IFD
    // walk, the tag decode, and the strip read are exact ----
    "multimodal_tiff" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeTiff(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- PackBits TIFF, MULTI-STRIP (2 rows/strip): same pixels,
    // but the bytes ride the run-length codec and a strip table with
    // external offset/count arrays — IFD arrays, per-strip decode,
    // and reassembly must all be exact ----
    "multimodal_tiff_packbits" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeTiff(s.read.parquet(s"$dir/documents.parquet"),
          packBits = true)
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- baseline JPEG decode (GRAYSCALE): every doc wrapped in a
    // real JFIF file — one CONSTANT 8×8 block per payload byte, flat
    // q=8, where the lossy codec is EXACT (DC quantizes losslessly,
    // ACs are 0) — so the oracle pins the decoded stats from payload
    // arithmetic: Huffman, DC prediction, marker walk and IDCT must
    // all round-trip byte-exactly for the row to hash-match ----
    "multimodal_jpeg" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeJpeg(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- COLOR (4:4:4) JPEG: every 3 payload bytes one constant
    // (r,g,b) block — the DCT side stays exact, and the decoded
    // channels are the pinned JFIF RGB→YCbCr→RGB integer chain,
    // reproduced by the oracle per 3-byte group (floor(x+0.5) double
    // chains, clamped) ----
    "multimodal_jpeg_color" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeJpegColor(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- 4:2:0 JPEG: constant 16×16 macroblocks, so the 2×2 chroma
    // box-average and the replication upsample round-trip exactly —
    // same oracle chain, 256 pixels per group ----
    "multimodal_jpeg_420" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeJpeg420(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- JPEG through the resize family: decode the gray JPEG
    // (exact), GRAY→RGB replicate, NN-resize to 2×3, re-encode PNG,
    // decode again — the oracle picks the 3 sampled payload bytes
    // with the same (y·h)//h2 floor formula ----
    "multimodal_jpeg_resize" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeJpeg(s.read.parquet(s"$dir/documents.parquet"))
      val resized = graft.operators.Multimodal
        .resizeMedia(s, media, newWidth = 2, newHeight = 3)
      graft.operators.Multimodal.decodeStats(s, resized)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- REAL 2-D image resize: every doc's PNG raster decoded,
    // nearest-neighbor-resized to 2×3, re-encoded as PNG, decoded
    // AGAIN for stats — the oracle recomputes the resized channel
    // means from payload arithmetic with the same NN index formula,
    // so decode → resize → encode → decode must all be exact ----
    "multimodal_resize" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizePng(s.read.parquet(s"$dir/documents.parquet"))
      val resized = graft.operators.Multimodal
        .resizeMedia(s, media, newWidth = 2, newHeight = 3)
      graft.operators.Multimodal.decodeStats(s, resized)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- REAL video frame sampling: every doc wrapped as a
    // concatenated-P6 ppm stream (ffmpeg image2pipe format, one
    // header per frame), every 4th frame parsed out and decoded; the
    // oracle pins each sampled frame's channel means from the
    // zero-padded payload slice, so the sequential header walk and
    // per-frame decode must be byte-exact ----
    "multimodal_frames" -> ((s, dir) => {
      val vid = graft.operators.Multimodal
        .synthesizeVideo(s.read.parquet(s"$dir/documents.parquet"),
          frameRows = 2)
      graft.operators.Multimodal.sampleFrames(s, vid, everyN = 4)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("width"),
          col("height"), col("r_milli"), col("g_milli"), col("b_milli"))
        .orderBy(col("doc_id").asc, col("frame_idx").asc)
    }),

    // ---- ISO-BMFF (MP4) box walk: every doc wrapped in a REAL
    // single-video-track container (ftyp + mdat + moov with full
    // stbl sample tables, chunks of 2 samples so stsc has runs);
    // duration, handler/codec identity, and the stss keyframes
    // resolved through stsc/stco/stsz to byte positions — every
    // number recomputes from doc_id arithmetic alone ----
    "multimodal_mp4_meta" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"))
      graft.operators.Mp4.trackMeta(s,
          graft.operators.Mp4.synthesizeMp4(docs))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the keyframe fetch plan (one row per sync sample with its
    // byte range) — what a frame-sampling decode stage consumes ----
    "multimodal_mp4_keyframes" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"))
      graft.operators.Mp4.keyframeRanges(s,
          graft.operators.Mp4.synthesizeMp4(docs))
        .select(col("doc_id"), col("track_id"), col("sample_no"),
          col("offset").as("kf_offset"), col("size").as("kf_size"))
        .orderBy(col("doc_id").asc, col("sample_no").asc)
    }),

    // ---- windowed audio energy/peak over decoded WAV PCM: exact
    // integer fold per 64-sample window (8-bit samples centered at
    // 128) — the oracle reproduces every value from the payload
    // characters, pinning the container round trip too ----
    // ---- FLAC lossless audio: payload bytes as 16-bit samples
    // through real multi-frame FLAC (sync + CRC-8/16, constant /
    // verbatim / fixed-order-2 + Rice subframes picked per block) —
    // the row only hash-matches if the whole frame walk decodes
    // bit-exactly back to the payload ----
    "multimodal_flac" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeFlac(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.decodeStats(s, media)
        .toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_samples"), col("c0_milli"),
          col("c1_milli"), col("c2_milli"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- FLAC through the DSP family: windowed energy/peak over
    // the decoded (signed, center-0) samples — the audio feature
    // pass now runs on FLAC corpora unchanged ----
    "multimodal_flac_energy" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeFlac(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Multimodal.audioEnergyWindows(s, media,
          window = 64)
        .orderBy(col("doc_id").asc, col("win").asc)
    }),

    "multimodal_audio_energy" -> ((s, dir) => {
      val media = graft.operators.Multimodal
        .synthesizeMedia(s.read.parquet(s"$dir/documents.parquet"))
        .filter(col("format") === "audio/wav")
        .as[graft.operators.MediaRecord](
          org.apache.spark.sql.Encoders.product[graft.operators.MediaRecord])
      graft.operators.Multimodal.audioEnergyWindows(s, media, window = 64)
        .orderBy(col("doc_id").asc, col("win").asc)
    }),

    // ---- audio near-dup: energy-delta sign fingerprints (64-bit,
    // exact integer pipeline from payload bytes) banded 4×16 through
    // the shared bucket fold — the audio twin of dedup_simhash. The
    // corpus is an all-WAV mapping of the documents table (ids ×3 so
    // every asset lands on the WAV branch) plus an identical-payload
    // twin for every 10th doc, so crafted duplicates guarantee
    // hamming-0 pairs and the corpus's own near-collisions keep the
    // banding honest ----
    "multimodal_audio_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val aud = docs.select((col("doc_id") * 3).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + lit(900000L)).as("doc_id"),
            col("text")))
      val media = graft.operators.Multimodal.synthesizeMedia(aud)
      graft.operators.Multimodal.audioNearDupPairs(s, media,
          maxHamming = 3, window = 4)
        .orderBy(col("a").asc, col("b").asc)
    }),

    // ---- the standing fingerprint artifact: build the corpus's
    // (id, sig) prints ONCE (media bytes never stored), append a
    // late chunk, probe the delta twins against it — the media twin
    // of the incremental LSH/IVF/gram artifacts. Frozen `family`
    // guards against mixing fingerprint kernels ----
    "multimodal_audio_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def prints(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Multimodal.audioFingerprint(s,
            graft.operators.Multimodal.synthesizeMedia(d), window = 4)
          .select(col("doc_id").as("id"), col("sig"))
      val corpus = docs.select((col("doc_id") * 3).as("doc_id"),
        col("text"))
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") * 3 + lit(900000L)).as("doc_id"),
          col("text"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-sigidx").toString
      graft.operators.SigIndex.build(
        prints(corpus.filter(col("doc_id") < 900)), idx,
        "audio-energy-w4")
      graft.operators.SigIndex.append(
        prints(corpus.filter(col("doc_id") >= 900)), idx,
        "audio-energy-w4")
      graft.operators.SigIndex.probe(s, idx, prints(delta),
          "audio-energy-w4", maxHamming = 3)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    }),

    // ---- takedown twin: hard-delete the prints of original
    // doc_id < 50 (ids 0,3,...,147) from the standing artifact and
    // re-probe — a deleted asset never surfaces as a candidate again,
    // and the bucket cap re-evaluates over the post-delete table ----
    "multimodal_audio_takedown" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def prints(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Multimodal.audioFingerprint(s,
            graft.operators.Multimodal.synthesizeMedia(d), window = 4)
          .select(col("doc_id").as("id"), col("sig"))
      val corpus = docs.select((col("doc_id") * 3).as("doc_id"),
        col("text"))
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") * 3 + lit(900000L)).as("doc_id"),
          col("text"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-sigidx-td").toString
      graft.operators.SigIndex.build(prints(corpus), idx,
        "audio-energy-w4")
      val removed = graft.operators.SigIndex.deleteIds(s, idx,
        (0L until 50L).map(_ * 3L))
      require(removed > 0L, "[GRAFT] takedown removed no sig rows")
      graft.operators.SigIndex.probe(s, idx, prints(delta),
          "audio-energy-w4", maxHamming = 3)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    }),

    // ---- streaming media ingest with fingerprint dedup: ONE batch
    // of (id, sig) prints through the decontamination loop against
    // an empty standing corpus — within-batch near-dups (the
    // +900000 twins, hamming 0 of their originals, plus any
    // original-vs-original pair ≤ 3) drop keep-first, survivors
    // land in the standing SigIndex ----
    "stream_media_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val all = docs.select((col("doc_id") * 3).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + lit(900000L)).as("doc_id"),
            col("text")))
      val prints = graft.operators.Multimodal.audioFingerprint(s,
          graft.operators.Multimodal.synthesizeMedia(all), window = 4)
        .select(col("doc_id").as("id"), col("sig"))
      val cd = java.nio.file.Files
        .createTempDirectory("verify-mediadedup").toString
      graft.streaming.Ingest.mediaDedupBatch(prints, cd,
        "audio-energy-w4", maxHamming = 3, maxBucket = 1000)
      s.read.parquet(s"$cd/sigidx/sigs")
        .select(col("id").as("doc_id"), col("sig"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the IMAGE twin of the streaming media-dedup loop: dHash
    // prints (real container decode → RGB → NN 9×8 → luma → delta
    // signs) through the same decontamination body under the frozen
    // "image-dhash-9x8" family — all three media modalities now have
    // the streaming loop ----
    "stream_media_dedup_image" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val all = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + 2 + lit(900000L)).as("doc_id"),
            col("text")))
      val prints = graft.operators.Multimodal.imageFingerprint(s,
          graft.operators.Multimodal.synthesizeMedia(all))
        .select(col("doc_id").as("id"), col("sig"))
      val cd = java.nio.file.Files
        .createTempDirectory("verify-mediadedup-img").toString
      graft.streaming.Ingest.mediaDedupBatch(prints, cd,
        "image-dhash-9x8", maxHamming = 3, maxBucket = 1000)
      s.read.parquet(s"$cd/sigidx/sigs")
        .select(col("id").as("doc_id"), col("sig"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- DCT perceptual hash (pHash): 32×32 NN luma → fixed-point
    // 2-D DCT → low-band median threshold — exact integer arithmetic,
    // every bit pinned from payload bytes ----
    "multimodal_phash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val img = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
        col("text"))
      graft.operators.Multimodal.imagePHash(s,
          graft.operators.Multimodal.synthesizeMedia(img))
        .select(col("doc_id"), col("sig"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- pHash near-dup pairs through the SAME banded fold as the
    // dHash family (method = "phash" opt-in): the +900000 twins
    // guarantee hamming-0 pairs the oracle must also find ----
    "multimodal_phash_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val img = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + 2 + lit(900000L)).as("doc_id"),
            col("text")))
      graft.operators.Multimodal.imageNearDupPairs(s,
          graft.operators.Multimodal.synthesizeMedia(img),
          maxHamming = 3, method = "phash")
        .orderBy(col("a").asc, col("b").asc)
    }),

    // ---- EXIF-orientation-aware dedup, oracle-pinned: every doc's
    // upright TIFF plus a camera-rotated twin (stored pixels
    // transformed by the INVERSE of orientation k = id % 8 + 1, tag
    // 274 = k) — the exif-aware fingerprint must upright the twin,
    // so BOTH rows hash to the oracle's single upright derivation
    // and the oriented dimensions come back 4 × h ----
    "multimodal_exif" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val upright = graft.operators.Multimodal.synthesizeTiff(docs)
      val rotated = graft.operators.Multimodal.synthesizeTiffRotated(
        docs.select((col("doc_id") + 900000L).as("doc_id"),
          col("text")))
      graft.operators.Multimodal.imageFingerprint(s,
          upright.unionByName(rotated), exifAware = true)
        .select(col("doc_id"), col("sig"), col("width"), col("height"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- per-asset decode QUARANTINE: every 37th asset's container
    // is truncated to 20 bytes (sniff-valid magic, body-corrupt —
    // the routine web-crawl failure), and the quarantined kernel
    // routes those to (doc_id, err) rows instead of failing the
    // stage; clean rows are bit-identical to the strict kernel ----
    "multimodal_quarantine" -> ((s, dir) => {
      graft.operators.Multimodal.imageFingerprintQuarantined(s,
          corruptedPpmCorpus(s, dir))
        .select(col("doc_id"),
          coalesce(col("sig"), lit(-1L)).as("sig"),
          coalesce(col("width"), lit(-1)).as("width"),
          coalesce(col("height"), lit(-1)).as("height"),
          col("err").isNotNull.as("quarantined"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- the STREAMING twin: one micro-batch of the same corrupt
    // corpus through mediaQuarantineBatch — clean prints land at
    // ok/batch=3, failures at quarantine/batch=3 (written even when
    // empty: a missing dir means "never ran", not "clean") ----
    "stream_media_quarantine" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("verify-quarantine").toString
      graft.streaming.Ingest.mediaQuarantineBatch(
        corruptedPpmCorpus(s, dir).toDF(), 3L, out)
      val ok = s.read.parquet(s"$out/ok/batch=3")
        .select(col("doc_id"), col("sig"), col("width"), col("height"),
          lit(false).as("quarantined"))
      val bad = s.read.parquet(s"$out/quarantine/batch=3")
        .select(col("doc_id"), lit(-1L).as("sig"), lit(-1).as("width"),
          lit(-1).as("height"), lit(true).as("quarantined"))
      ok.unionByName(bad).withColumn("batch_id", lit(3L))
        .orderBy(col("doc_id").asc)
    }),

    // ---- AUDIO quarantine twin: FLAC corpus with every 37th asset
    // truncated to 20 bytes (the fLaC magic survives, STREAMINFO is
    // cut) — corrupt assets route to err rows, clean prints are
    // bit-identical to the strict audioFingerprint (window 4, FLAC
    // samples are the raw payload bytes, energies = Σ v²) ----
    "multimodal_audio_quarantine" -> ((s, dir) => {
      import s.implicits._
      val media = graft.operators.Multimodal
        .synthesizeFlac(s.read.parquet(s"$dir/documents.parquet"))
        .toDF()
        .withColumn("media",
          when(col("doc_id") % 37 === 0, expr("substring(media, 1, 20)"))
            .otherwise(col("media")))
        .withColumn("n_bytes", length(col("media")).cast("long"))
        .as[graft.operators.MediaRecord]
      graft.operators.Multimodal
        .audioFingerprintQuarantined(s, media, window = 4)
        .select(col("doc_id"),
          coalesce(col("sig"), lit(-1L)).as("sig"),
          coalesce(col("n_windows"), lit(-1L)).as("n_windows"),
          col("err").isNotNull.as("quarantined"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- VIDEO quarantine twin: PPM-stream corpus with every 37th
    // asset truncated mid-header — same stance for the temporal
    // fingerprint path ----
    "multimodal_video_quarantine" -> ((s, dir) => {
      import s.implicits._
      val media = graft.operators.Multimodal
        .synthesizeVideo(s.read.parquet(s"$dir/documents.parquet"),
          frameRows = 2)
        .toDF()
        .withColumn("media",
          when(col("doc_id") % 37 === 0, expr("substring(media, 1, 5)"))
            .otherwise(col("media")))
        .withColumn("n_bytes", length(col("media")).cast("long"))
        .as[graft.operators.MediaRecord]
      graft.operators.Multimodal.videoFingerprintQuarantined(s, media)
        .select(col("doc_id"),
          coalesce(col("sig"), lit(-1L)).as("sig"),
          coalesce(col("n_frames"), lit(-1L)).as("n_frames"),
          col("err").isNotNull.as("quarantined"))
        .orderBy(col("doc_id").asc)
    }),

    // ---- video near-dup: every doc wrapped in a real multi-frame
    // PPM-stream container (per-frame headers, genuine sequential
    // parse), collapsed to a 63-bit frame-intensity-delta fingerprint
    // INSIDE the decode kernel, paired by the shared banded fold;
    // every tenth doc gets an identical-payload twin, guaranteeing
    // hamming-0 pairs the oracle must also find ----
    "multimodal_video_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vid = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(900000L)).as("doc_id"),
            col("text")))
      graft.operators.Multimodal.videoNearDupPairs(s,
          graft.operators.Multimodal.synthesizeVideo(vid, frameRows = 2),
          maxHamming = 3)
        .orderBy(col("a").asc, col("b").asc)
    }),

    // ---- the standing VIDEO fingerprint artifact: frame-intensity
    // prints through the same SigIndex build/append/probe lifecycle
    // as the audio family, under the frozen "video-intensity-f2" tag —
    // every modality's near-dup now has an incremental-artifact story ----
    "multimodal_video_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def prints(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Multimodal.videoFingerprint(s,
            graft.operators.Multimodal.synthesizeVideo(d, frameRows = 2))
          .select(col("doc_id").as("id"), col("sig"))
      val corpus = docs.select(col("doc_id"), col("text"))
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(900000L)).as("doc_id"),
          col("text"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-sigidx-vid").toString
      graft.operators.SigIndex.build(
        prints(corpus.filter(col("doc_id") < 300)), idx,
        "video-intensity-f2")
      graft.operators.SigIndex.append(
        prints(corpus.filter(col("doc_id") >= 300)), idx,
        "video-intensity-f2")
      graft.operators.SigIndex.probe(s, idx, prints(delta),
          "video-intensity-f2", maxHamming = 3)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    }),

    // ---- the vfs_sig_pairs TVF: audio prints PERSISTED as a plain
    // parquet fingerprint table, paired from pure SQL text — must
    // hash-match the multimodal_audio_neardup derivation exactly ----
    "sql_tvf_sig_pairs" -> ((s, dir) => {
      graft.functions.registerAll(s)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val aud = docs.select((col("doc_id") * 3).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + lit(900000L)).as("doc_id"),
            col("text")))
      val prints = graft.operators.Multimodal.audioFingerprint(s,
          graft.operators.Multimodal.synthesizeMedia(aud), window = 4)
        .select(col("doc_id").as("id"), col("sig"))
      val pd = java.nio.file.Files
        .createTempDirectory("verify-sigpairs").toString
      prints.write.mode("overwrite").parquet(pd)
      s.sql(s"SELECT a, b, hamming FROM vfs_sig_pairs('$pd', 3) " +
        "ORDER BY a ASC, b ASC")
    }),

    // ---- image near-dup: every doc wrapped in a real P6 container
    // (ids ×3+2 so every asset lands on the PPM branch), decoded and
    // dHash'd INSIDE the per-partition kernel — real NN downsample to
    // 9×8, integer BT.601 luma, sign-of-horizontal-delta 63-bit sig —
    // then paired by the shared banded fold; every tenth doc gets an
    // identical-payload twin, guaranteeing hamming-0 pairs the oracle
    // must also find from pure payload-byte arithmetic ----
    "multimodal_image_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val img = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") * 3 + 2 + lit(900000L)).as("doc_id"),
            col("text")))
      graft.operators.Multimodal.imageNearDupPairs(s,
          graft.operators.Multimodal.synthesizeMedia(img), maxHamming = 3)
        .orderBy(col("a").asc, col("b").asc)
    }),

    // ---- the standing image artifact: dHash prints through the same
    // SigIndex build/append/probe lifecycle as the audio family, under
    // the frozen "image-dhash-9x8" fingerprint-family tag ----
    "multimodal_image_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def prints(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Multimodal.imageFingerprint(s,
            graft.operators.Multimodal.synthesizeMedia(d))
          .select(col("doc_id").as("id"), col("sig"))
      val corpus = docs.select((col("doc_id") * 3 + 2).as("doc_id"),
        col("text"))
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") * 3 + 2 + lit(900000L)).as("doc_id"),
          col("text"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-sigidx-img").toString
      graft.operators.SigIndex.build(
        prints(corpus.filter(col("doc_id") < 900)), idx,
        "image-dhash-9x8")
      graft.operators.SigIndex.append(
        prints(corpus.filter(col("doc_id") >= 900)), idx,
        "image-dhash-9x8")
      graft.operators.SigIndex.probe(s, idx, prints(delta),
          "image-dhash-9x8", maxHamming = 3)
        .orderBy(col("probe_id").asc, col("corpus_id").asc)
    }),

    // ---- incremental (CDC) read: snapshot the store after a base
    // load, append a second batch, and read ONLY the delta via the
    // commit-list diff — a pure file-level operation (the scan touches
    // just the new commit dirs). Rows are keyed by name (= vec_id) so
    // the check is independent of the store's internal id assignment;
    // the checksum pins the float payload through the parquet
    // round trip ----
    "src_incremental_changes" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-cdc").toString
      val e = emb(s, dir)
      val d = e.select(size(col("embedding"))).head().getInt(0)
      val store = graft.store.VfsStore.create(s, tmp, "cdc", dim = d)
      def batch(lo: Long, hi: Long) = e
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("embedding").as("values"),
          col("vec_id").cast("string").as("name"),
          array().cast("array<string>").as("tags"))
      store.appendBatch(batch(0L, 300L))
      store.snapshot("base")
      store.appendBatch(batch(300L, 450L))
      store.changesSince("base")
        .select(col("name"),
          size(col("values")).cast("long").as("n_lanes"),
          round(aggregate(col("values").cast("array<double>"),
            lit(0.0d), (acc, x) => acc + x) * 1000).cast("long")
            .as("sum_milli"))
        .orderBy(col("name").asc)
    }),

    // ---- store MERGE surface: batch upsert-by-name in ONE atomic
    // manifest swap — replaced names carry the NEW payload, survivors
    // keep theirs, inserts appear. Keyed by name (like the CDC row
    // above) so the check is independent of internal id assignment;
    // the negated-vector checksum pins WHICH payload won ----
    "src_upsert" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ups").toString
      val e = emb(s, dir)
      val d = e.select(size(col("embedding"))).head().getInt(0)
      val store = graft.store.VfsStore.create(s, tmp, "ups", dim = d)
      def asBatch(df: DataFrame) = df
        .select(col("values"), col("vec_id").cast("string").as("name"),
          array().cast("array<string>").as("tags"))
      store.appendBatch(asBatch(e.filter(col("vec_id") < 400L)
        .withColumn("values", col("embedding"))))
      val replace = asBatch(e
        .filter(col("vec_id") < 400L && col("vec_id") % 5 === 0)
        .withColumn("values", transform(col("embedding"), x => -x)))
      val insert = asBatch(e
        .filter(col("vec_id") >= 400L && col("vec_id") < 410L)
        .withColumn("values", col("embedding")))
      store.upsertBatch(replace.unionByName(insert))
      store.read()
        .select(col("name"),
          size(col("values")).cast("long").as("n_lanes"),
          round(aggregate(col("values").cast("array<double>"),
            lit(0.0d), (acc, x) => acc + x) * 1000).cast("long")
            .as("sum_milli"))
        .orderBy(col("name").asc)
    }),

    // ---- incremental dedup, index-accelerated: the CDC delta
    // (vec_id 300..449) probed as ONE batch against the standing IVF
    // index over the base corpus; rows whose nearest base neighbor is
    // farther than τ are novel (kept). Full probe ⇒ exact nearest
    // distances, so the row hash-matches the oracle's min-distance
    // cross join; at production nProbe the same pipeline is the
    // approximate nightly-ingest novelty filter ----
    "dedup_incremental_index" -> ((s, dir) => {
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
    }),

    // ---- incremental TEXT dedup over the standing LSH band index:
    // corpus docs (id >= 100) pay the minhash/banding pass ONCE at
    // build/append; the delta (id < 100) is banded fresh and joined
    // against the persisted triples, then candidates verify by exact
    // jaccard. Same verified pairs as a fresh minHashLshJoin
    // (spec-pinned) — but probe cost ∝ delta, not corpus ----
    "dedup_incremental_lsh" -> ((s, dir) => {
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
    }),

    // ---- the takedown twin: same build+append lifecycle, then ids
    // 300-349 are HARD-DELETED from the standing band table before
    // the probe — deleted docs must never reappear as candidates,
    // and the bucket cap applies to the post-delete table (current
    // buckets, exactly as a fresh join would see them) ----
    "dedup_lsh_takedown" -> ((s, dir) => {
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
    }),

    // ---- BM25 lexical relevance against a fixed query — the
    // lexical half of hybrid retrieval; exact-integer milli scores
    // (linear-rarity idf, per-term LONG contributions summed) so the
    // oracle hash-matches bit-for-bit ----
    "text_bm25" -> ((s, dir) => {
      graft.operators.TextAnalysis.bm25Scores(
          s.read.parquet(s"$dir/documents.parquet"), Bm25Terms)
        .orderBy(col("doc_id").asc)
    }),

    // ---- BM25 over a 24-query WORKLOAD table: the inverted-index
    // formulation (explode → term-filter → posting agg → per-qid
    // integer sum) that a query workload needs — every (doc, term)
    // posting scored once no matter how many qids share the term;
    // per-qid scores bit-identical to the literal-kernel path ----
    "text_bm25_table" -> ((s, dir) => {
      import s.implicits._
      val q = Bm25Workload.toDF("qid", "term")
      graft.operators.TextAnalysis.bm25ScoresTable(
          s.read.parquet(s"$dir/documents.parquet"), q)
        .orderBy(col("qid").asc, col("doc_id").asc)
    }),

    // ---- hybrid retrieval: BM25 lexical top-50 fused with exact
    // inner-product vector top-50 (hashed-BoW milli embeddings, doc 0
    // as the query) by reciprocal-rank fusion. Rankings are computed
    // distributed (TakeOrderedAndProject top-50 each); fusion touches
    // only the two 50-row results. Exact-integer dots and floor-div
    // RRF weights keep the whole pipeline hash-matchable ----
    "q_hybrid_rrf" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val lexTop = graft.operators.TextAnalysis
        .bm25Scores(docs, Bm25Terms)
        .orderBy(col("score_milli").desc, col("doc_id").asc)
        .limit(50).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val embM = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.hashEmbeddingMilli(col("text"))
          .as("v"))
      val qv = embM.filter(col("doc_id") === 0L)
        .head().getSeq[Long](1)
      // codegen'd exact-integer dot (vfs_long_dot == the old
      // aggregate∘zip_with HOF chain bit-for-bit)
      val dot = vfs_long_dot(col("v"), typedLit(qv))
      val vecTop = embM
        .filter(col("doc_id") =!= 0L)
        .select(col("doc_id"), dot.as("dot"))
        .filter(col("dot") > 0L)
        .orderBy(col("dot").desc, col("doc_id").asc)
        .limit(50).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      graft.operators.Knn.rrfFuse(s, Seq(lexTop, vecTop))
        .select(col("id").as("doc_id"), col("rrf_milli"))
        .orderBy(col("rrf_milli").desc, col("doc_id").asc)
    }),

    // ---- BATCH hybrid retrieval: per qid 0..23, workload-BM25
    // top-50 fused with exact milli-dot vector top-50 (query vector =
    // doc qid's embedding, self excluded) via rrfFuseBatch — the
    // whole pipeline is DataFrame-native: inverted-index BM25, one
    // broadcast batch-dot scan, per-qid window top-k, union + hash
    // agg fusion. No driver loops anywhere ----
    "q_hybrid_rrf_batch" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // fused workload-BM25 top-50: per-doc kernel scores every qid
      // locally and pipelines into the bounded-heap partial top-k —
      // the qid × doc cross never shuffles (bit-identical to
      // bm25ScoresTable + rankByScore, spec-pinned; the oracle
      // re-proves it here)
      val lexRanked = graft.operators.TextAnalysis.bm25TopK(
        docs, Bm25Workload.toDF("qid", "term"), k = 50)
      val embM = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.hashEmbeddingMilli(col("text"))
          .as("v"))
      val queries = embM.filter(col("doc_id") < 24)
        .select(col("doc_id").as("qid"), col("v").as("qv"))
      // codegen'd exact-integer dot (bit-identical to the HOF chain)
      val dot = vfs_long_dot(col("v"), col("qv"))
      val vecRanked = graft.operators.Knn.rankByScore(
        embM.crossJoin(broadcast(queries))
          .filter(col("doc_id") =!= col("qid"))
          .select(col("qid"), col("doc_id"), dot.as("dot"))
          .filter(col("dot") > 0L),
        k = 50, idCol = "doc_id", scoreCol = "dot")
      graft.operators.Knn
        .rrfFuseBatch(Seq(lexRanked, vecRanked), idCol = "doc_id")
        .orderBy(col("qid").asc, col("rrf_milli").desc,
          col("doc_id").asc)
    }),

    // ---- END-TO-END batch hybrid search through the ONE public call
    // (Knn.hybridSearchBatch): workload-BM25 top-50 + FULL-PROBE IVF
    // top-50 over a standing hashed-BoW index, RRF-fused inside the
    // operator. Full probe (nProbe = nCentroids) degenerates the ANN
    // half to exact top-k, and the milli embeddings are integer-valued
    // so euclidean distances are exact in double in both engines —
    // every rank, and therefore every fused weight, is hash-matchable.
    // (q_hybrid_rrf_batch proves the composed halves; this row proves
    // the single packaged call a user would actually invoke.) ----
    "q_hybrid_search_batch" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val embM = docs.select(col("doc_id").as("id"),
        graft.operators.TextAnalysis.hashEmbeddingMilli(col("text"))
          .cast("array<float>").as("values"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-hybrid-ivf").toString
      graft.operators.IvfIndex.build(embM, idx, nCentroids = 4,
        Metric.Euclidean)
      val termWl = Bm25Workload.toDF("qid", "term")
      val vecWl = embM.filter(col("id") < 24)
        .select(col("id").as("qid"), col("values").as("qvalues"))
      graft.operators.Knn.hybridSearchBatch(docs, idx, termWl, vecWl,
          kEach = 50, nProbe = 4)
        .orderBy(col("qid").asc, col("rrf_milli").desc,
          col("doc_id").asc)
    }),

    // ---- one-pass data profile: per-column rows/nulls/distinct/
    // min/max over the documents table in a single aggregate scan ----
    "q_profile" -> ((s, dir) => {
      graft.operators.Profile.profile(
          s.read.parquet(s"$dir/documents.parquet"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("column").asc)
    }),

    // ---- exact row-level snapshot diff: base load → snapshot →
    // append a second batch AND delete every 30th base row → the diff
    // must report exactly the appended rows as added and the deleted
    // ones as removed, across the deleteWhere rewrite (where the
    // file-level commit diff deliberately resets) ----
    "src_snapshot_diff" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-diff").toString
      val e = emb(s, dir)
      val d = e.select(size(col("embedding"))).head().getInt(0)
      val store = graft.store.VfsStore.create(s, tmp, "diff", dim = d)
      def batch(lo: Long, hi: Long) = e
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("embedding").as("values"),
          col("vec_id").cast("string").as("name"),
          array().cast("array<string>").as("tags"))
      store.appendBatch(batch(0L, 300L))
      store.snapshot("base")
      store.appendBatch(batch(300L, 450L))
      val victims = (0L until 300L by 30L).map(_.toString)
      store.deleteWhere(col("name").isin(victims: _*))
      store.diffSnapshot("base")
        .select(col("name"), col("change"))
        .orderBy(col("change").asc, col("name").asc)
    }),

    // ---- sessionization: gap > 30 min starts a new session ----
    "w_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("user_id"),
          graft.operators.TimeNorm.epochMicros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us").asc)
      val gap = when(col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1)
        .otherwise(when(lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
      ev.withColumn("new_s", gap)
        .withColumn("session_id", sum(col("new_s")).over(w).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"))
        .orderBy(col("user_id").asc, col("session_id").asc)
    })
  )

  def oracleSql: Map[String, String] = Map(
    "p1_point_lookup" ->
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |       CAST(len(embedding) AS BIGINT) AS dim
        |FROM embeddings WHERE vec_id = 42""".stripMargin,

    "q2_knn_euclidean" ->
      s"""SELECT vec_id,
         |       CAST(round(list_distance(CAST(embedding AS DOUBLE[]), $qSub) * 1000) AS BIGINT) AS dist_milli
         |FROM embeddings
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    "q5_knn_cosine" ->
      s"""SELECT vec_id,
         |       CAST(round(${duckCos("CAST(embedding AS DOUBLE[])", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM embeddings
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    "q6_knn_simd_cosine" ->
      s"""SELECT vec_id,
         |       CAST(round(${duckCos("CAST(embedding AS DOUBLE[])", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM embeddings
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    // binary-sign Hamming computed dimension-wise ((a>0) != (b>0) —
    // the definitional form of the engine's XOR+popcount over packed
    // words), identical (ham, id) prefilter order, then the exact
    // euclidean re-rank on the survivors
    "q_binary_hamming_knn" ->
      s"""WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 1),
         |h AS (SELECT vec_id, embedding,
         |  CAST(len(list_filter(range(1, len(embedding) + 1),
         |    i -> (embedding[i] > 0) != (q[i] > 0))) AS BIGINT) AS ham
         |  FROM embeddings, qv),
         |c AS (SELECT vec_id, embedding, ham FROM h
         |  ORDER BY ham ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, ham,
         |  CAST(round(list_distance(CAST(embedding AS DOUBLE[]), $qSub)
         |    * 1000) AS BIGINT) AS dist_milli
         |FROM c
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    // the TVF form is the same candidate set + the same milli re-rank
    "sql_tvf_binary_knn" ->
      s"""WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 1),
         |h AS (SELECT vec_id, embedding,
         |  CAST(len(list_filter(range(1, len(embedding) + 1),
         |    i -> (embedding[i] > 0) != (q[i] > 0))) AS BIGINT) AS ham
         |  FROM embeddings, qv),
         |c AS (SELECT vec_id, embedding, ham FROM h
         |  ORDER BY ham ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, ham,
         |  CAST(round(list_distance(CAST(embedding AS DOUBLE[]), $qSub)
         |    * 1000) AS BIGINT) AS dist_milli
         |FROM c
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    // the persisted sidecar probes the SAME packing — identical result,
    // identical oracle derivation
    "q_binary_hamming_indexed" ->
      s"""WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 1),
         |h AS (SELECT vec_id, embedding,
         |  CAST(len(list_filter(range(1, len(embedding) + 1),
         |    i -> (embedding[i] > 0) != (q[i] > 0))) AS BIGINT) AS ham
         |  FROM embeddings, qv),
         |c AS (SELECT vec_id, embedding, ham FROM h
         |  ORDER BY ham ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, ham,
         |  CAST(round(list_distance(CAST(embedding AS DOUBLE[]), $qSub)
         |    * 1000) AS BIGINT) AS dist_milli
         |FROM c
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    // two-stage like the Spark side: the TVF truncates at k=20 by RAW
    // distance, the outer query re-ranks by rounded millis — the oracle
    // must replicate the raw-distance cut, or a row ranked >20 raw that
    // shares the 10th result's rounded bucket would make the compare
    // data-dependently flaky
    "sql_tvf_knn" ->
      s"""WITH top AS (
         |  SELECT vec_id,
         |         ${duckCos("CAST(embedding AS DOUBLE[])", qSub)} AS d
         |  FROM embeddings
         |  ORDER BY d ASC, vec_id ASC
         |  LIMIT 20)
         |SELECT vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli
         |FROM top
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    // routed twin: an EXHAUSTIVE probe must reproduce the exact result,
    // so the oracle is the same two-stage exact query
    "sql_tvf_knn_routed" ->
      s"""WITH top AS (
         |  SELECT vec_id,
         |         ${duckCos("CAST(embedding AS DOUBLE[])", qSub)} AS d
         |  FROM embeddings
         |  ORDER BY d ASC, vec_id ASC
         |  LIMIT 20)
         |SELECT vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli
         |FROM top
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    "c1_quantize_checksum" ->
      """SELECT vec_id,
        |       CAST(list_sum(list_transform(embedding,
        |         x -> CAST(LEAST(GREATEST(round(CAST(x AS DOUBLE) * 127), -128), 127) AS BIGINT))) AS BIGINT) AS qsum
        |FROM embeddings
        |ORDER BY vec_id ASC""".stripMargin,

    "c2_dequantize_roundtrip" ->
      """SELECT vec_id,
        |       CAST(round(list_distance(CAST(embedding AS DOUBLE[]),
        |         list_transform(embedding,
        |           x -> CAST(CAST(LEAST(GREATEST(round(CAST(x AS DOUBLE) * 127), -128), 127) AS FLOAT) / CAST(127.0 AS FLOAT) AS DOUBLE))) * 1000000) AS BIGINT) AS err_micro
        |FROM embeddings
        |ORDER BY vec_id ASC""".stripMargin,

    "j1_hydration_join" ->
      s"""WITH top AS (
         |  SELECT vec_id,
         |         CAST(round(${duckCos("CAST(embedding AS DOUBLE[])", qSub)} * 1000) AS BIGINT) AS dist_milli
         |  FROM embeddings
         |  ORDER BY dist_milli ASC, vec_id ASC
         |  LIMIT 5)
         |SELECT t.vec_id, CAST(e.label AS BIGINT) AS label, t.dist_milli
         |FROM top t LEFT JOIN embeddings e ON t.vec_id = e.vec_id
         |ORDER BY t.dist_milli ASC, t.vec_id ASC""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |       CAST(round(sum(l_extendedprice * (1.0 - l_discount))) AS BIGINT) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin,

    "q3_join_topk" ->
      """SELECT o_orderkey,
        |       CAST(round(sum(l_extendedprice * (1.0 - l_discount))) AS BIGINT) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "w2_window_topk" ->
      """SELECT o_custkey, o_orderkey, price_c, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey ASC) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 2
        |ORDER BY o_custkey ASC, rn ASC""".stripMargin,

    "set_except" ->
      """SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
        |FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id ASC, day ASC""".stripMargin,

    "q_percentile" ->
      """SELECT event_type,
        |  CAST(round(quantile_cont(value, 0.5) * 100) AS BIGINT) AS p50_c,
        |  CAST(round(quantile_cont(value, 0.95) * 100) AS BIGINT) AS p95_c
        |FROM events GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin,

    "c7_json_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(json_extract_string(props, '$.k')) AS n
        |FROM events GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin,

    "q_filtered_knn" ->
      s"""SELECT vec_id,
         |       CAST(round(${duckCos("CAST(embedding AS DOUBLE[])", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM embeddings
         |WHERE label = 3
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 5""".stripMargin,

    "q_quantized_knn" ->
      s"""WITH dq AS (SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(CAST(LEAST(GREATEST(round(CAST(x AS DOUBLE) * 127), -128), 127) AS FLOAT) / CAST(127.0 AS FLOAT) AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT vec_id,
         |       CAST(round(${duckCos("v", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM dq
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    "dedup_exact_groups" ->
      """SELECT min(doc_id) AS keeper, count(*) AS cnt
        |FROM documents GROUP BY text
        |ORDER BY keeper ASC""".stripMargin,

    "dedup_passages" ->
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
        |ORDER BY doc_id ASC""".stripMargin,

    "dedup_substring_spans" -> substringSpansOracle,

    // the TVF form is the same scan — shares the oracle
    "sql_tvf_dup_spans" -> substringSpansOracle,

    // delta (doc_id < 100) vs corpus (>= 100): corpus presence alone
    // duplicates a delta occurrence; delta-only grams fall back to
    // within-delta keep-first — the shared islands fold over an
    // overridden duplicated-start set `d`
    "dedup_incremental_substring" ->
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
         |ORDER BY doc_id ASC, span_start ASC""".stripMargin,

    "dedup_substring_strip" ->
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
        |ORDER BY t.doc_id ASC""".stripMargin,

    // corpus boilerplate-line removal over the same built page as the
    // Spark side; the boilerplate list (df >= 5 over distinct docs,
    // trimmed non-blank lines) is folded to one row and each page is
    // list_filtered against it in document order
    "dedup_boilerplate_lines" -> boilerplateOracle,
    // the TVF form strips the identical pages from pure SQL
    "sql_tvf_boilerplate" -> boilerplateOracle,
    // the standing-artifact form: build + append (disjoint halves)
    // merge to the identical corpus df, so the strip is bit-identical
    "dedup_incremental_boilerplate" -> boilerplateOracle,
    // the streaming loop's batch-0 body: build + self-strip == one-shot
    "stream_boilerplate" -> boilerplateOracle,

    "stream_quality_filter" -> qualityFilterOracle,
    // the TVF form computes the identical one-scan cascade + policy
    "sql_tvf_quality" -> qualityFilterOracle,

    // survivors of the single-batch streaming decontamination loop:
    // keep iff duplicated tokens <= half the doc (shared span CTEs)
    "stream_substring_dedup" ->
      s"""WITH ${substringSpanCtes(substringKeepFirstDu)},
         |sp AS (SELECT doc_id, min(idx) AS ss, max(idx) + 4 AS se
         |  FROM i GROUP BY doc_id, grp),
         |dt AS (SELECT doc_id, CAST(sum(se - ss) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens
         |FROM t LEFT JOIN dt ON t.doc_id = dt.doc_id
         |WHERE coalesce(dt.dup_tokens, 0) <= len(t.w) * 0.5
         |ORDER BY t.doc_id ASC""".stripMargin,

    "dedup_components" ->
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
        |ORDER BY doc_id ASC""".stripMargin,

    "dedup_survivors" ->
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
        |FROM b ORDER BY doc_id ASC""".stripMargin,

    "dedup_leak_safe_split" -> leakSafeSplitOracle,

    "dedup_jaccard_source" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) * 1000.0
        |    / len(list_distinct(a.w || b.w))) AS BIGINT) AS jaccard_milli
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) * 1000.0
        |    / len(list_distinct(a.w || b.w))) AS BIGINT) >= 800
        |ORDER BY a ASC, b ASC""".stripMargin,

    "dedup_ngram_jaccard" ->
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
        |ORDER BY a ASC, b ASC""".stripMargin,

    "contamination_ngram" ->
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
        |ORDER BY probe_id ASC, corpus_id ASC""".stripMargin,

    "dedup_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  CAST(round((1 - list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))) * 1000) AS BIGINT) AS dist_milli
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE CAST(round((1 - list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))) * 1000) AS BIGINT) < 600
        |ORDER BY a ASC, b ASC""".stripMargin,

    "dedup_semantic" ->
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
         |ORDER BY vec_id ASC""".stripMargin,

    // stage-1 cut is by RAW prefix distance with a vec_id tiebreak (same
    // double accumulation order both engines), mirroring sql_tvf_knn's
    // raw-cut discipline; only the final 10 are rounded to millis
    "q_matryoshka_rerank" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |s1 AS (SELECT vec_id, v,
         |         ${duckCos("v[1:16]", s"list_slice($qSub, 1, 16)")} AS pd
         |       FROM e ORDER BY pd ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id,
         |       CAST(round(${duckCos("v", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM s1 ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin,

    "q_hll_registers" ->
      s"""WITH h AS (SELECT ${duckHex15("CAST(user_id AS VARCHAR)")} AS h
         |           FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT h % 64 AS bucket,
         |             (h >> 6) & 4294967295 AS w FROM h)
         |SELECT bucket,
         |       CAST(max(CASE WHEN w = 0 THEN 33
         |                ELSE 33 - length(bin(w)) END) AS BIGINT) AS max_rho
         |FROM r GROUP BY bucket ORDER BY bucket ASC""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split_regex(trim(text), '[\s[:punct:]]+')) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    "text_quality" -> textQualityOracle,

    "text_langid" -> textLangIdOracle,
    // model-based twin: the oracle REBUILDS the trigram model from
    // the same fixture literals (shared Scala constant -> generated
    // VALUES, so the two derivations cannot drift) and re-scores
    "text_langid_ngram" -> langIdNgramOracle,
    // the routed stream's batch body lands the identical scoring,
    // partitioned by lang_pred (keepLangs = all)
    "stream_langid_route" -> langIdNgramOracle,
    // the TVF's zero-setup form trains on the same seed fixture
    "sql_tvf_langid" -> langIdNgramOracle,
    // langid composed with the token counts, one aggregate per lang
    "text_fertility_by_lang" -> fertilityByLangOracle,

    "sql_text_analyze" -> sqlTextAnalyzeOracle,

    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]+', ' ', 'g'), '\s+', ' ', 'g')) AS norm,
        |  CAST(len(list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |    for i in range(1, len(s) - 1)])) AS BIGINT) AS n_3grams
        |FROM (SELECT doc_id, text,
        |      string_split_regex(trim(lower(text)), '\s+') AS s FROM documents)
        |ORDER BY doc_id ASC""".stripMargin,

    "text_gopher" ->
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    list_filter(string_split(text, chr(10)),
        |      l -> len(trim(l)) > 0) AS lines
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
        |      + CAST((len(text) - len(replace(text, '...', ''))) // 3
        |          AS BIGINT) AS symbols,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> ends_with(trim(l), '...')))
        |      AS BIGINT) AS ell,
        |    CAST(len(list_filter(lines,
        |      l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS bul,
        |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS BIGINT) AS alpha,
        |    CAST(len(list_filter(
        |      ['the','be','to','of','and','that','have','with'],
        |      g -> list_contains(list_transform(toks, w -> lower(w)), g)))
        |      AS BIGINT) AS stop_hits
        |  FROM t),
        |m AS (SELECT doc_id, n_words,
        |    CAST(CASE WHEN n_words > 0
        |      THEN floor(1000.0 * sum_len / n_words) ELSE 0 END AS BIGINT)
        |      AS mean_word_len_milli,
        |    CAST(CASE WHEN n_words > 0
        |      THEN floor(1000.0 * symbols / n_words) ELSE 0 END AS BIGINT)
        |      AS symbol_word_milli,
        |    CAST(CASE WHEN n_lines > 0
        |      THEN floor(1000.0 * ell / n_lines) ELSE 0 END AS BIGINT)
        |      AS ellipsis_line_milli,
        |    CAST(CASE WHEN n_lines > 0
        |      THEN floor(1000.0 * bul / n_lines) ELSE 0 END AS BIGINT)
        |      AS bullet_line_milli,
        |    CAST(CASE WHEN n_words > 0
        |      THEN floor(1000.0 * alpha / n_words) ELSE 0 END AS BIGINT)
        |      AS alpha_word_milli,
        |    stop_hits
        |  FROM s)
        |SELECT doc_id, n_words, mean_word_len_milli, symbol_word_milli,
        |  ellipsis_line_milli, bullet_line_milli, alpha_word_milli,
        |  stop_hits,
        |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
        |    AND mean_word_len_milli BETWEEN 3000 AND 10000
        |    AND symbol_word_milli <= 100 AND ellipsis_line_milli <= 300
        |    AND bullet_line_milli <= 900 AND alpha_word_milli >= 800
        |    AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
        |FROM m ORDER BY doc_id ASC""".stripMargin,

    "text_c4_clean" ->
      """WITH i AS (SELECT doc_id,
        |    'Alpha section about ' || substr(text, 1, 40) ||
        |    ' ends well.' || chr(10) || 'Too short.' || chr(10) ||
        |    'Please enable JavaScript to continue reading this page.' ||
        |    chr(10) || substr(text, 41, 60) || chr(10) ||
        |    'This sentence is long enough to satisfy the filter.' ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum {'
        |         ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)),
        |      l -> len(trim(l)) > 0) AS lines,
        |    CAST(CASE WHEN contains(text, '{')
        |      OR contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END
        |      AS BIGINT) AS page_drop
        |  FROM i),
        |k AS (SELECT doc_id, page_drop, lines,
        |    list_filter(lines, l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(string_split_regex(trim(l), '\s+')) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')) AS kept
        |  FROM c)
        |SELECT doc_id, page_drop,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CASE WHEN page_drop = 0 THEN array_to_string(kept, chr(10))
        |       END AS clean_text
        |FROM k ORDER BY doc_id ASC""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS s
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, 2 AS n,
        |    unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS gram
        |  FROM toks
        |  UNION ALL
        |  SELECT doc_id, 3 AS n,
        |    unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |            for i in range(1, len(s) - 1)]) AS gram
        |  FROM toks),
        |cnt AS (SELECT doc_id, n, gram, count(*) AS c
        |  FROM grams GROUP BY doc_id, n, gram),
        |pern AS (SELECT doc_id, n, max(c) AS maxc, sum(c) AS total,
        |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupc
        |  FROM cnt GROUP BY doc_id, n),
        |perid AS (SELECT doc_id,
        |  max(CASE WHEN n = 2 THEN CAST(floor(1000.0 * maxc / total) AS BIGINT) END) AS top2_milli,
        |  max(CASE WHEN n = 2 THEN CAST(floor(1000.0 * dupc / total) AS BIGINT) END) AS dup2_milli,
        |  max(CASE WHEN n = 3 THEN CAST(floor(1000.0 * maxc / total) AS BIGINT) END) AS top3_milli,
        |  max(CASE WHEN n = 3 THEN CAST(floor(1000.0 * dupc / total) AS BIGINT) END) AS dup3_milli
        |  FROM pern GROUP BY doc_id),
        |lp AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\n'),
        |                x -> len(trim(x)) > 0) AS l,
        |    list_filter(string_split_regex(text, '\n{2,}'),
        |                x -> len(trim(x)) > 0) AS p
        |  FROM documents)
        |SELECT lp.doc_id,
        |  CAST(CASE WHEN len(l) > 0 THEN floor(1000.0 * (len(l) - len(list_distinct(l))) / len(l)) ELSE 0 END AS BIGINT) AS dup_line_milli,
        |  CAST(CASE WHEN len(p) > 0 THEN floor(1000.0 * (len(p) - len(list_distinct(p))) / len(p)) ELSE 0 END AS BIGINT) AS dup_para_milli,
        |  COALESCE(top2_milli, 0) AS top2_milli,
        |  COALESCE(dup2_milli, 0) AS dup2_milli,
        |  COALESCE(top3_milli, 0) AS top3_milli,
        |  COALESCE(dup3_milli, 0) AS dup3_milli
        |FROM lp LEFT JOIN perid USING (doc_id)
        |ORDER BY doc_id ASC""".stripMargin,

    "text_pii" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    substring(text, 1, 40) || ' user' || doc_id ||
        |    '@ex.com via 10.' || (doc_id % 200) || '.0.' ||
        |    ((doc_id * 3) % 250) ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' alt x.y@z.org' ELSE '' END ||
        |    ' acct 90000000' || (doc_id % 10) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '\b\d{9,}\b')) AS BIGINT) AS n_longnum,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{9,}\b', '<NUM>', 'g') AS redacted
        |FROM inj ORDER BY doc_id ASC""".stripMargin,

    "text_packing" ->
      """WITH t AS (SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |o AS (SELECT doc_id, shard, n,
        |    CAST(COALESCE(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS toff
        |  FROM t)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n AS n_tokens,
        |  toff AS tok_offset,
        |  toff // 512 AS seq_id,
        |  toff % 512 AS seq_off,
        |  (toff + greatest(n - 1, 0)) // 512 AS seq_id_last
        |FROM o ORDER BY doc_id ASC""".stripMargin,

    // tokenizer-true packing: BPE counts are not SQL-derivable, so
    // this is the text_bpe property pattern — structural invariants
    // pinned to exact constants (n_docs stays dynamic so the row
    // tracks the corpus)
    "text_packing_bpe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(1 AS BIGINT) AS token_total_match,
        |       CAST(0 AS BIGINT) AS cap_violations,
        |       CAST(0 AS BIGINT) AS bin_gaps,
        |       CAST(0 AS BIGINT) AS order_violations,
        |       CAST(0 AS BIGINT) AS flag_violations
        |FROM documents""".stripMargin,

    "text_packing_bins" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    ((doc_id % 8) + 8) % 8 AS shard,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY ((doc_id % 8) + 8) % 8
        |      ORDER BY doc_id) AS rn
        |  FROM documents),
        |f(shard, rn, doc_id, n, bin_id, bin_off, used_after) AS (
        |  SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), n
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.shard, t.rn, t.doc_id, t.n,
        |    CASE WHEN f.used_after + t.n <= 256 THEN f.bin_id
        |         ELSE f.bin_id + 1 END,
        |    CASE WHEN f.used_after + t.n <= 256 THEN f.used_after
        |         ELSE CAST(0 AS BIGINT) END,
        |    CASE WHEN f.used_after + t.n <= 256 THEN f.used_after + t.n
        |         ELSE t.n END
        |  FROM f JOIN t ON t.shard = f.shard AND t.rn = f.rn + 1)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n AS n_tokens,
        |  bin_id, bin_off,
        |  CAST(CASE WHEN n > 256 THEN 1 ELSE 0 END AS BIGINT) AS overflow
        |FROM f ORDER BY doc_id ASC""".stripMargin,

    "text_curation" -> textCurationOracle,

    "pipeline_curate_e2e" -> pipelineCurateOracle,
    "sql_tvf_curate" -> pipelineCurateOracle,
    "pipeline_curate_report" -> pipelineCurateReportOracle,
    "pipeline_clean_curate" -> pipelineCleanCurateOracle,
    "pipeline_warc_curate" -> pipelineWarcCurateOracle,

    // HTML extraction: the page synthesis is invertible, so the
    // expected prose derives from the raw text — title line, the
    // decoded-entity heading, the whitespace-normalized document
    // text (blank collapses away when empty), the link-text line
    "web_html_extract" ->
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  'Doc & ' || doc_id AS title,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5,
        |  CAST(2 AS BIGINT) AS n_links
        |FROM n ORDER BY doc_id ASC""".stripMargin,

    // main-content scoping: the main variant keeps only the title
    // and the <main> prose; the WET-parity full extraction keeps
    // every chrome line too — both recomputed from the raw text
    "web_html_extract_main" ->
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  md5('Main ' || doc_id || chr(10) || 'Doc ' || doc_id ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END)
        |    AS main_md5,
        |  md5('Main ' || doc_id || chr(10) || 'Home' || chr(10) ||
        |    'About' || chr(10) || 'Site Chrome' || chr(10) ||
        |    'Related stuff' || chr(10) || 'We use cookies' || chr(10) ||
        |    'Doc ' || doc_id ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || '(c) site ' || doc_id) AS full_md5
        |FROM n ORDER BY doc_id ASC""".stripMargin,

    "web_html_links" ->
      s"""SELECT doc_id, CAST(0 AS BIGINT) AS pos,
        |  'https://ex.com/a?id=' || doc_id || '&x=1' AS href
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT), '/rel/' || doc_id
        |FROM documents
        |ORDER BY doc_id ASC, pos ASC""".stripMargin,

    // WARC: response records must carry the page through framing
    // (and every 3rd archive through gzip) byte-exactly — the md5
    // chain is the web_html_extract derivation
    "web_warc_extract" ->
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  'https://w' || (doc_id % 5) || '.example/p/' || doc_id
        |    AS target_uri,
        |  CAST(200 AS BIGINT) AS http_status,
        |  'UTF-8' AS charset,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5,
        |  CAST(3 AS BIGINT) AS n_records
        |FROM n ORDER BY doc_id ASC""".stripMargin,

    // non-identity bodies: dechunk + gunzip must hand the HTML
    // kernel the identity page for every coding residue — one md5
    // chain regardless of doc_id % 4
    "web_warc_transfer_codings" ->
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id, doc_id % 4 AS body_coding,
        |  CAST(200 AS BIGINT) AS http_status,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5
        |FROM n ORDER BY doc_id ASC""".stripMargin,

    // response headers by residue: the validators and the opt-out
    // header AS WRITTEN, "" when the synthesizer omitted them
    "web_warc_headers" ->
      s"""SELECT doc_id,
        |  'https://hd' || (doc_id % 5) || '.example/p/' || doc_id
        |    AS target_uri,
        |  CASE WHEN doc_id % 4 IN (1, 3)
        |    THEN 'Sat, 0' || (doc_id % 7 + 1) ||
        |      ' Feb 2026 00:00:00 GMT'
        |    ELSE '' END AS last_modified,
        |  CASE WHEN doc_id % 4 = 2 THEN '"v' || doc_id || '"'
        |    WHEN doc_id % 4 = 3 THEN 'W/"v' || doc_id || '"'
        |    ELSE '' END AS etag,
        |  CASE WHEN doc_id % 4 = 3 THEN 'noai' ELSE '' END
        |    AS x_robots_tag
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    // zstd bodies decode to the identity page — one md5 chain for
    // both residues
    "web_warc_zstd" ->
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id, doc_id % 2 AS zstd_coded,
        |  CAST(200 AS BIGINT) AS http_status,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5
        |FROM n ORDER BY doc_id ASC""".stripMargin,

    // the WARC-fed opt-out gate: noai headers (residue 1) drop,
    // absent and non-listed directives pass
    "web_optout_warc" ->
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id, md5(nt) AS text_md5
        |FROM n WHERE doc_id % 3 IN (0, 2)
        |ORDER BY doc_id ASC""".stripMargin,

    // charset sniff: the decoded string rebuilt from the raw text +
    // the residue's non-ASCII marker via chr() codepoints
    // (é=233, €=8364, 日本語=26085/26412/35486)
    "web_charset_decode" ->
      s"""SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'UTF-8'
        |    WHEN 1 THEN 'windows-1252' WHEN 2 THEN 'Shift_JIS'
        |    WHEN 3 THEN 'windows-1252' ELSE 'UTF-8' END AS charset,
        |  md5(CASE doc_id % 5
        |    WHEN 0 THEN text || ' ' || chr(233) || chr(8364)
        |    WHEN 2 THEN '<meta charset="shift_jis">' || text || ' ' ||
        |      chr(26085) || chr(26412) || chr(35486)
        |    WHEN 4 THEN text || ' ascii'
        |    ELSE text || ' caf' || chr(233) || ' ' || chr(8364) END)
        |    AS text_md5
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    // quarantine twin: record/err counts and the failing record's
    // type derive from the damage residue (1 = truncated framing →
    // type unrecovered, 2 = br body → identity kept)
    "web_warc_quarantine" ->
      s"""SELECT doc_id, CAST(3 AS BIGINT) AS n_records,
        |  CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 2 ELSE 3 END
        |    AS BIGINT) AS n_ok,
        |  CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_err,
        |  CASE WHEN doc_id % 4 = 1 THEN ''
        |    WHEN doc_id % 4 = 2 THEN 'response' ELSE NULL END
        |    AS err_rec_type
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    // charset signal parity: the mixed-charset round-trip must leave
    // minhash signatures EXACTLY equal to the plain-text row's —
    // same oracle as dedup_minhash_sig
    "dedup_minhash_charset" -> minHashSigOracle,

    // PDF extraction is the exact inverse of the synthesis, so the
    // oracle is simply the raw text's md5
    "web_pdf_extract" ->
      s"""SELECT doc_id, md5(text) AS text_md5, true AS nonempty
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    // the streaming front door lands the same extraction
    // batch-addressed
    "stream_page_extract" ->
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  'Doc & ' || doc_id AS title,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5,
        |  CAST(2 AS BIGINT) AS n_links,
        |  CAST(2 AS BIGINT) AS batch_id
        |FROM n ORDER BY doc_id ASC""".stripMargin,

    // robots gate: survivors by residue class — /private/ok/y beats
    // /private on length, /docs/$ beats /docs with allow-on-tie...
    // no: on LENGTH (6 > 5); /tmp*3 wildcards over /tmp123; /docs/a
    // escapes the anchored allow and hits the /docs disallow
    "web_robots_filter" ->
      s"""SELECT doc_id,
        |  'https://h' || (doc_id % 7) || '.example' ||
        |    CASE doc_id % 6 WHEN 0 THEN '/private/x'
        |      WHEN 1 THEN '/private/ok/y' WHEN 2 THEN '/tmp123'
        |      WHEN 3 THEN '/docs/' WHEN 4 THEN '/public'
        |      ELSE '/docs/a' END AS url
        |FROM documents
        |WHERE doc_id % 6 IN (1, 3, 4)
        |ORDER BY doc_id ASC""".stripMargin,

    // the frontier pipeline replayed stage by stage: construct both
    // urls per doc, drop h0's /abs (the robots gate), rank within
    // host by url, price with h0's 2 s / the 1 s default
    "pipeline_crawl_frontier" ->
      s"""WITH u AS (
        |  SELECT doc_id, 'https://h' || (doc_id % 5) ||
        |    '.example/a/g' || doc_id AS url FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'https://h' || (doc_id % 5) ||
        |    '.example/abs/' || doc_id FROM documents),
        |s AS (SELECT * FROM u
        |  WHERE NOT (doc_id % 5 = 0 AND url LIKE '%/abs/%')),
        |r AS (SELECT doc_id, url,
        |    'h' || (doc_id % 5) || '.example' AS host,
        |    CASE WHEN doc_id % 5 = 0 THEN 2000 ELSE 1000 END AS delay,
        |    row_number() OVER (PARTITION BY doc_id % 5
        |      ORDER BY url) AS seq
        |  FROM s)
        |SELECT doc_id, url, host,
        |  CAST(delay AS BIGINT) AS delay_milli,
        |  CAST(seq AS BIGINT) AS fetch_seq,
        |  CAST((seq - 1) * delay AS BIGINT) AS fetch_at_milli
        |FROM r ORDER BY doc_id ASC, url ASC""".stripMargin,

    // the sitemap two-hop frontier replayed stage by stage: hop-2
    // page URLs by residue (/p kept unless visited i.e. doc_id%3=0,
    // /q always visited, /r robots-dropped on h0 i.e. doc_id%5=0),
    // then the politeness pricing over the survivors
    "pipeline_crawl_frontier_sitemap" ->
      s"""WITH u AS (
        |  SELECT doc_id, 'https://h' || (doc_id % 5) ||
        |    '.example/p/' || doc_id || '?x=1&y=2' AS url
        |  FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, 'https://h' || (doc_id % 5) ||
        |    '.example/r/' || doc_id || '?t=1'
        |  FROM documents WHERE doc_id % 5 <> 0),
        |r AS (SELECT doc_id, url,
        |    'h' || (doc_id % 5) || '.example' AS host,
        |    CASE WHEN doc_id % 5 = 0 THEN 2000 ELSE 1000 END AS delay,
        |    row_number() OVER (PARTITION BY doc_id % 5
        |      ORDER BY url) AS seq
        |  FROM u)
        |SELECT doc_id, url, host,
        |  CAST(delay AS BIGINT) AS delay_milli,
        |  CAST(seq AS BIGINT) AS fetch_seq,
        |  CAST((seq - 1) * delay AS BIGINT) AS fetch_at_milli
        |FROM r ORDER BY doc_id ASC, url ASC""".stripMargin,

    // opt-out gate: survivors are the no-directive and
    // index-only residues; extracted text is just the body line
    "web_optout_filter" ->
      s"""SELECT doc_id, md5('body ' || doc_id) AS text_md5
        |FROM documents WHERE doc_id % 6 IN (0, 3)
        |ORDER BY doc_id ASC""".stripMargin,

    // canonical consolidation: non-declaring pages keep their own
    // URL; each 100-page canonical group keeps its SMALLEST member
    // (k_min = (1 - c) mod 3 picks the first doc_id = c + 100k with
    // doc_id % 3 = 1)
    "web_html_canonical" ->
      s"""SELECT doc_id, NULL AS canonical,
        |  'https://c' || (doc_id % 5) || '.example/p/' || doc_id
        |    AS effective_url
        |FROM documents WHERE doc_id % 3 <> 1
        |UNION ALL
        |SELECT doc_id,
        |  'https://canon.example/c/' || (doc_id % 100),
        |  'https://canon.example/c/' || (doc_id % 100)
        |FROM documents
        |WHERE doc_id % 3 = 1
        |  AND doc_id // 100 = ((1 - (doc_id % 100)) % 3 + 3) % 3
        |ORDER BY doc_id ASC""".stripMargin,

    // recrawl scheduling by residue: /p pages keep when their
    // rotated lastmod postdates the 2026-02-01 crawl (months 2 and
    // 3), /q pages keep when never crawled (odd docs)
    "pipeline_recrawl" ->
      s"""SELECT doc_id,
        |  'https://s' || (doc_id % 7) || '.example/p/' || doc_id
        |    AS url,
        |  '2026-0' || ((doc_id % 3) + 1) || '-15' AS lastmod,
        |  'modified' AS recrawl_reason
        |FROM documents WHERE doc_id % 3 IN (1, 2)
        |UNION ALL
        |SELECT doc_id,
        |  'https://s' || (doc_id % 7) || '.example/q/' || doc_id,
        |  '', 'never_crawled'
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id ASC, url ASC""".stripMargin,

    // conditional recrawl by residue: ETag/Last-Modified validator
    // pairs decide first (changed → recrawl, matched → skip even
    // when the sitemap lastmod moved), validator-less residue 4
    // falls back to the sitemap arithmetic, /q pages are never in
    // the ledger
    "pipeline_recrawl_conditional" ->
      s"""SELECT doc_id,
        |  'https://t' || (doc_id % 7) || '.example/p/' || doc_id
        |    AS url,
        |  '2026-0' || ((doc_id % 3) + 1) || '-15' AS lastmod,
        |  'validator_changed' AS recrawl_reason
        |FROM documents WHERE doc_id % 5 IN (1, 3)
        |UNION ALL
        |SELECT doc_id,
        |  'https://t' || (doc_id % 7) || '.example/p/' || doc_id,
        |  '2026-0' || ((doc_id % 3) + 1) || '-15',
        |  'modified'
        |FROM documents WHERE doc_id % 5 = 4 AND doc_id % 3 IN (1, 2)
        |UNION ALL
        |SELECT doc_id,
        |  'https://t' || (doc_id % 7) || '.example/q/' || doc_id,
        |  '', 'never_crawled'
        |FROM documents
        |ORDER BY doc_id ASC, url ASC""".stripMargin,

    // the streaming recrawl twin replays pipeline_recrawl's
    // arithmetic over the slim schema (unique urls → the per-URL
    // emitted-guard dedup is the identity)
    "stream_recrawl" ->
      s"""SELECT
        |  'https://s' || (doc_id % 7) || '.example/p/' || doc_id
        |    AS url,
        |  '2026-0' || ((doc_id % 3) + 1) || '-15' AS lastmod,
        |  'modified' AS recrawl_reason
        |FROM documents WHERE doc_id % 3 IN (1, 2)
        |UNION ALL
        |SELECT
        |  'https://s' || (doc_id % 7) || '.example/q/' || doc_id,
        |  '', 'never_crawled'
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY url ASC""".stripMargin,

    // governance drop accounting: blocklist (host g4), robots gate
    // (g0's /x paths), opt-out (meta residues 2/3 — one quoted, one
    // UNQUOTED — plus the noai header every 7th doc), sequential
    "pipeline_governance_report" ->
      s"""WITH a AS (SELECT count(*) AS n0,
        |    sum(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END) AS d1,
        |    sum(CASE WHEN doc_id % 5 = 0 AND doc_id % 2 = 1
        |      THEN 1 ELSE 0 END) AS d2,
        |    sum(CASE WHEN doc_id % 5 <> 4
        |      AND NOT (doc_id % 5 = 0 AND doc_id % 2 = 1)
        |      AND (doc_id % 6 IN (2, 3) OR doc_id % 7 = 0)
        |      THEN 1 ELSE 0 END) AS d3
        |  FROM documents)
        |SELECT CAST(1 AS BIGINT) AS stage, 'blocklist' AS stage_name,
        |  CAST(n0 AS BIGINT) AS rows_in,
        |  CAST(n0 - d1 AS BIGINT) AS rows_out,
        |  CAST(d1 AS BIGINT) AS dropped FROM a
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'robots', CAST(n0 - d1 AS BIGINT),
        |  CAST(n0 - d1 - d2 AS BIGINT), CAST(d2 AS BIGINT) FROM a
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'optout',
        |  CAST(n0 - d1 - d2 AS BIGINT),
        |  CAST(n0 - d1 - d2 - d3 AS BIGINT), CAST(d3 AS BIGINT) FROM a
        |ORDER BY stage ASC""".stripMargin,

    // redirect resolution by residue: even docs stay put, odd docs
    // hop once via the relative Location, doc_id % 4 == 3 hops twice
    "web_redirect_resolve" ->
      s"""SELECT doc_id,
        |  'https://r' || (doc_id % 5) || '.example/a/x/' || doc_id
        |    AS url,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |      'https://r' || (doc_id % 5) || '.example/a/x/' || doc_id
        |    WHEN doc_id % 4 = 1 THEN
        |      'https://r' || (doc_id % 5) || '.example/a/p/' || doc_id
        |    ELSE 'https://final.example/' || doc_id END AS final_url,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0
        |    WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END AS BIGINT) AS n_hops,
        |  false AS redirect_unresolved
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    // the streaming politeness fold in batchMode replays the batch
    // window's arithmetic exactly
    "stream_politeness_schedule" ->
      s"""SELECT doc_id,
        |  'h' || (doc_id % 5) || '.example' AS host,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 2000 WHEN 1 THEN 500
        |    ELSE 1000 END AS BIGINT) AS delay_milli,
        |  CAST(doc_id // 5 + 1 AS BIGINT) AS fetch_seq,
        |  CAST((doc_id // 5) * (CASE doc_id % 5 WHEN 0 THEN 2000
        |    WHEN 1 THEN 500 ELSE 1000 END) AS BIGINT)
        |    AS fetch_at_milli
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    // politeness schedule: delay by host residue (declared 2000/500,
    // default 1000), per-host ordinal = doc_id//5 + 1 on the
    // consecutive-id corpus, offset = ordinal-1 times delay
    "web_politeness_schedule" ->
      s"""SELECT doc_id,
        |  'h' || (doc_id % 5) || '.example' AS host,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 2000 WHEN 1 THEN 500
        |    ELSE 1000 END AS BIGINT) AS delay_milli,
        |  CAST(doc_id // 5 + 1 AS BIGINT) AS fetch_seq,
        |  CAST((doc_id // 5) * (CASE doc_id % 5 WHEN 0 THEN 2000
        |    WHEN 1 THEN 500 ELSE 1000 END) AS BIGINT)
        |    AS fetch_at_milli
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    // RFC 3986 resolution by residue class against the deep-path base
    "web_link_resolve" ->
      s"""SELECT doc_id,
        |  CASE doc_id % 8 WHEN 0 THEN 'g' WHEN 1 THEN './g'
        |    WHEN 2 THEN '/g' WHEN 3 THEN '../g' WHEN 4 THEN '?y'
        |    WHEN 5 THEN '#s' WHEN 6 THEN '//other.example/p'
        |    ELSE 'http://abs.example/z?q#f' END AS href,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'https://h' || (doc_id % 7) || '.example/a/b/g'
        |    WHEN 1 THEN 'https://h' || (doc_id % 7) || '.example/a/b/g'
        |    WHEN 2 THEN 'https://h' || (doc_id % 7) || '.example/g'
        |    WHEN 3 THEN 'https://h' || (doc_id % 7) || '.example/a/g'
        |    WHEN 4 THEN 'https://h' || (doc_id % 7) || '.example/a/b/c?y'
        |    WHEN 5 THEN 'https://h' || (doc_id % 7) || '.example/a/b/c?bq#s'
        |    WHEN 6 THEN 'https://other.example/p'
        |    ELSE 'http://abs.example/z?q#f' END AS abs_url
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    // sitemap <loc> extraction: entity decode + trim, document order
    "web_sitemap_urls" ->
      s"""SELECT doc_id, CAST(0 AS BIGINT) AS pos,
        |  'https://s' || (doc_id % 7) || '.example/p/' || doc_id ||
        |    '?a=1&b=2' AS url
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT),
        |  'https://s.example/' || doc_id
        |FROM documents
        |ORDER BY doc_id ASC, pos ASC""".stripMargin,

    // the streaming WARC front door: clean residues (0 = identity,
    // 3 = gzip) land with the standard md5 chain and charset UTF-8;
    // damaged residues (1 = truncated framing -> type unrecovered,
    // 2 = br body -> identity kept) land in quarantine
    "stream_warc_extract" ->
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id, 'ok' AS status, 'UTF-8' AS detail,
        |  md5('Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
        |    chr(10) || 'one and two') AS text_md5
        |FROM n WHERE doc_id % 4 IN (0, 3)
        |UNION ALL
        |SELECT doc_id, 'err',
        |  CASE WHEN doc_id % 4 = 1 THEN '' ELSE 'response' END,
        |  NULL
        |FROM documents WHERE doc_id % 4 IN (1, 2)
        |ORDER BY doc_id ASC""".stripMargin,

    // the main-content streaming front door: chrome suppressed in
    // the landed text, the nav link still in the frontier
    "stream_page_extract_main" ->
      s"""WITH n AS (SELECT doc_id,
        |    array_to_string(list_filter(list_transform(
        |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
        |        chr(10)),
        |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
        |  FROM documents)
        |SELECT doc_id,
        |  'Main ' || doc_id AS title,
        |  md5('Main ' || doc_id || chr(10) || 'Doc ' || doc_id ||
        |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END)
        |    AS text_md5,
        |  CAST(1 AS BIGINT) AS n_links,
        |  CAST(4 AS BIGINT) AS batch_id
        |FROM n ORDER BY doc_id ASC""".stripMargin,

    // §2.2.1 group selection: exact beats prefix beats '*' — allowed
    // derives from the (agent residue, path residue) pair
    "web_robots_ua_match" ->
      s"""SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'mybot-news'
        |    WHEN 1 THEN 'mybot-img' ELSE 'somebot' END AS agent,
        |  CASE doc_id % 2 WHEN 0 THEN '/news/p'
        |    ELSE '/img/p' END AS path,
        |  ((doc_id % 3 = 0 AND doc_id % 2 = 1) OR
        |   (doc_id % 3 = 1 AND doc_id % 2 = 0)) AS allowed
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    // crawl-delay through the same group walk: mybot-news inherits
    // the mybot group's 1.5 s (prefix), quietbot's group declares
    // none (NULL — not the '*' fallback), otherbot gets '*'; the two
    // global sitemaps count for every row
    "web_robots_crawl_delay" ->
      s"""SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'mybot-news'
        |    WHEN 1 THEN 'quietbot' ELSE 'otherbot' END AS agent,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 1500
        |    WHEN 1 THEN NULL ELSE 10000 END AS BIGINT) AS delay_milli,
        |  CAST(2 AS BIGINT) AS n_sitemaps
        |FROM documents ORDER BY doc_id ASC""".stripMargin,

    "web_url_normalize" ->
      s"""WITH $webUrlCtes
         |SELECT doc_id, norm_url, host, domain FROM wn
         |ORDER BY doc_id ASC""".stripMargin,

    "web_url_dedup" ->
      s"""WITH $webUrlCtes
         |SELECT norm_url, min(doc_id) AS keeper, count(*) AS cnt
         |FROM wn GROUP BY 1 ORDER BY keeper ASC""".stripMargin,

    "web_domain_cap" ->
      s"""WITH $webUrlCtes,
         |r AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM wn)
         |SELECT doc_id, domain FROM r WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin,

    "web_blocklist_filter" ->
      s"""WITH $webUrlCtes
         |SELECT domain, count(*) AS n FROM wn
         |WHERE domain NOT IN ('src1.co.uk', 'src2.co.uk',
         |  'src3.co.uk', 'src4.co.uk', 'src5.co.uk')
         |GROUP BY 1 ORDER BY domain ASC""".stripMargin,

    "pipeline_web_curate" ->
      s"""WITH $webUrlCtes,
         |pg AS (SELECT * FROM wn WHERE domain NOT IN ('src1.co.uk',
         |  'src2.co.uk', 'src3.co.uk', 'src4.co.uk', 'src5.co.uk')),
         |pk AS (SELECT *, row_number() OVER (PARTITION BY norm_url
         |    ORDER BY doc_id ASC) AS krn FROM pg),
         |pc AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn
         |  FROM pk WHERE krn = 1)
         |SELECT doc_id, domain FROM pc WHERE rn <= 2
         |ORDER BY domain ASC, doc_id ASC""".stripMargin,

    "web_url_incremental" ->
      s"""WITH $webUrlCtes,
         |k AS (SELECT doc_id, norm_url,
         |    row_number() OVER (PARTITION BY norm_url
         |      ORDER BY doc_id ASC) AS rn
         |  FROM wn WHERE doc_id % 2 = 1)
         |SELECT doc_id, norm_url FROM k
         |WHERE rn = 1 AND norm_url NOT IN
         |  (SELECT DISTINCT norm_url FROM wn WHERE doc_id % 2 = 0)
         |ORDER BY doc_id ASC""".stripMargin,

    "stream_url_dedup" ->
      s"""WITH $webUrlCtes,
         |k AS (SELECT doc_id, url,
         |    row_number() OVER (PARTITION BY norm_url
         |      ORDER BY doc_id ASC) AS rn FROM wn)
         |SELECT doc_id, url FROM k WHERE rn = 1
         |ORDER BY doc_id ASC""".stripMargin,

    "web_domain_cap_psl" ->
      s"""WITH $webPslCtes,
         |pr AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM pd)
         |SELECT doc_id, domain FROM pr WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin,

    // wildcard + exception rules through the same cap — the
    // hand-derived CASE chain (webPslWildCtes) instead of the
    // generated regex groups
    "web_domain_cap_psl_wild" ->
      s"""WITH $webPslWildCtes,
         |pr AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM pd)
         |SELECT doc_id, domain FROM pr WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin,

    // the SQL cap selects the SAME rows as the operator form — the
    // web_domain_cap derivation verbatim
    "sql_tvf_domain_cap" ->
      s"""WITH $webUrlCtes,
         |r AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM wn)
         |SELECT doc_id, domain FROM r WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin,

    // the PSL SQL cap shares web_domain_cap_psl's derivation
    "sql_tvf_domain_cap_psl" ->
      s"""WITH $webPslCtes,
         |pr AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM pd)
         |SELECT doc_id, domain FROM pr WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin,

    // the table-backed SQL surface derives the SAME domains as the
    // plan-time snapshot forms — one oracle derivation, no cap
    "sql_psl_domain_table" ->
      s"""WITH $webPslCtes
         |SELECT doc_id, domain FROM pd
         |ORDER BY doc_id ASC""".stripMargin,

    // streaming URL loop with PSL attribution: every fixture URL is
    // unique (doc_id-embedded), so batch 0 lands every row — with its
    // psl_domain projection
    "stream_url_psl" ->
      s"""WITH $webPslCtes
         |SELECT pu.doc_id, pu.url, pd.domain AS psl_domain
         |FROM pu JOIN pd ON pu.doc_id = pd.doc_id
         |ORDER BY pu.doc_id ASC""".stripMargin,

    "stream_curate" -> streamCurateOracle,

    "text_curriculum" -> textCurriculumOracle,

    "src_jsonl_roundtrip" ->
      "SELECT * FROM documents ORDER BY doc_id ASC",

    "src_csv_roundtrip" ->
      "SELECT * FROM documents ORDER BY doc_id ASC",

    "src_orc_roundtrip" ->
      "SELECT * FROM documents ORDER BY doc_id ASC",

    "q_time_resample" ->
      """WITH e AS (SELECT event_type AS k,
        |  (epoch_us(ts) - epoch_us(ts) % 300000000) // 1000000 AS bucket,
        |  CAST(round(value * 100) AS BIGINT) AS value FROM events),
        |a AS (SELECT k, bucket, count(*) AS n,
        |        CAST(sum(value) AS BIGINT) AS vc
        |      FROM e GROUP BY k, bucket),
        |d AS (SELECT k, unnest(generate_series(lo, hi, 300)) AS bucket
        |      FROM (SELECT k, min(bucket) AS lo, max(bucket) AS hi
        |            FROM a GROUP BY k)),
        |j AS (SELECT d.k, d.bucket, COALESCE(a.n, 0) AS n, a.vc
        |      FROM d LEFT JOIN a USING (k, bucket))
        |SELECT k AS event_type, bucket, n,
        |  last_value(vc IGNORE NULLS) OVER (PARTITION BY k
        |    ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_c
        |FROM j ORDER BY event_type ASC, bucket ASC""".stripMargin,

    // struct-min/max open/close — same lexicographic (us, v) ordering
    // as the Spark min(struct(...)), so timestamp ties agree
    "q_time_ohlc" -> timeOhlcOracle,
    // the TVF is the same operator from SQL text: same oracle
    "sql_tvf_ohlc" -> timeOhlcOracle,

    // streaming twin: hour windows as formatted strings (the window()
    // tumbling bucket == date_trunc for epoch-aligned hour windows)
    "stream_ohlc" ->
      """WITH e AS (SELECT event_type AS k,
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events)
        |SELECT ws, k, count(*) AS n,
        |  (min(struct_pack(us := us, v := v))).v AS open_c,
        |  max(v) AS high_c, min(v) AS low_c,
        |  (max(struct_pack(us := us, v := v))).v AS close_c
        |FROM e GROUP BY ws, k
        |ORDER BY ws ASC, k ASC""".stripMargin,

    // the degenerate-interval predicates (hi > lo) match the
    // operator's empty-set semantics for zero-width intervals: a
    // [x, x) interval overlaps NOTHING, but the raw predicate alone
    // would count one strictly inside the other side (no-op on these
    // fixtures — widths are fixed positive — but keeps operator and
    // oracle agreeing on degenerate inputs)
    "q_interval_overlap" ->
      """WITH l AS (SELECT event_id, value AS lo1, value + 0.5 AS hi1
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT value AS lo2, value + 0.3 AS hi2
        |  FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, count(*) AS n_overlaps
        |FROM l JOIN r ON l.lo1 < r.hi2 AND r.lo2 < l.hi1
        |  AND l.hi1 > l.lo1 AND r.hi2 > r.lo2
        |GROUP BY 1
        |ORDER BY event_id ASC""".stripMargin,

    "q_funnel" ->
      """WITH s0 AS (SELECT user_id AS k, min(epoch_us(ts)) AS su
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s0 ON e.user_id = s0.k
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s0.su
        |  GROUP BY 1),
        |s2 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s1 ON e.user_id = s1.k
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.su
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s2 ON e.user_id = s2.k
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.su
        |  GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS event_type,
        |  count(*) AS n_keys FROM s0
        |UNION ALL SELECT 1, 'view', count(*) FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |ORDER BY step ASC""".stripMargin,

    // same prefix CTEs as q_funnel + per-step median lag vs s0.
    // (su - s0.su) // 10000 is DuckDB floor division over non-negative
    // BIGINTs == Spark's remainder-subtract bucket; quantile_cont over
    // integers interpolates to a whole- or half-integer, so × 2 is an
    // exact integer in both engines — no CAST-rounding divergence
    // (Spark truncates double→long, DuckDB rounds; here there is
    // never a fractional part to disagree on)
    "q_funnel_latency" ->
      """WITH s0 AS (SELECT user_id AS k, min(epoch_us(ts)) AS su
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s0 ON e.user_id = s0.k
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s0.su
        |  GROUP BY 1),
        |s2 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s1 ON e.user_id = s1.k
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.su
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s2 ON e.user_id = s2.k
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.su
        |  GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS event_type,
        |  count(*) AS n_keys, CAST(0 AS BIGINT) AS p50_lag_c2 FROM s0
        |UNION ALL SELECT 1, 'view', count(*),
        |  CAST(COALESCE(quantile_cont((s1.su - s0.su) // 10000, 0.5)
        |    * 2, 0) AS BIGINT)
        |  FROM s1 JOIN s0 USING (k)
        |UNION ALL SELECT 2, 'click', count(*),
        |  CAST(COALESCE(quantile_cont((s2.su - s0.su) // 10000, 0.5)
        |    * 2, 0) AS BIGINT)
        |  FROM s2 JOIN s0 USING (k)
        |UNION ALL SELECT 3, 'purchase', count(*),
        |  CAST(COALESCE(quantile_cont((s3.su - s0.su) // 10000, 0.5)
        |    * 2, 0) AS BIGINT)
        |  FROM s3 JOIN s0 USING (k)
        |ORDER BY step ASC""".stripMargin,

    // the streaming completions, rolled up and zero-filled, equal the
    // batch funnel — same oracle derivation as q_funnel
    "stream_funnel" ->
      """WITH s0 AS (SELECT user_id AS k, min(epoch_us(ts)) AS su
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s0 ON e.user_id = s0.k
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s0.su
        |  GROUP BY 1),
        |s2 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s1 ON e.user_id = s1.k
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.su
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s2 ON e.user_id = s2.k
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.su
        |  GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS event_type,
        |  count(*) AS n_keys FROM s0
        |UNION ALL SELECT 1, 'view', count(*) FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |ORDER BY step ASC""".stripMargin,

    // q_funnel's CTEs with the per-step conversion window: step i
    // events must land within 24 h of step i-1's completion
    // (inclusive <= — an event at exactly su + T converts)
    "q_funnel_windowed" ->
      """WITH s0 AS (SELECT user_id AS k, min(epoch_us(ts)) AS su
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s0 ON e.user_id = s0.k
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s0.su
        |    AND epoch_us(e.ts) <= s0.su + 86400000000
        |  GROUP BY 1),
        |s2 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s1 ON e.user_id = s1.k
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.su
        |    AND epoch_us(e.ts) <= s1.su + 86400000000
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s2 ON e.user_id = s2.k
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.su
        |    AND epoch_us(e.ts) <= s2.su + 86400000000
        |  GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS event_type,
        |  count(*) AS n_keys FROM s0
        |UNION ALL SELECT 1, 'view', count(*) FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |ORDER BY step ASC""".stripMargin,

    "q_trending" ->
      """WITH c AS (SELECT
        |    (epoch_us(ts) - epoch_us(ts) % 3600000000) // 1000000 AS bucket,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT bucket, event_type, n,
        |    row_number() OVER (PARTITION BY bucket
        |      ORDER BY n DESC, event_type ASC) AS rank
        |  FROM c)
        |SELECT bucket, event_type, n, rank
        |FROM r WHERE rank <= 3
        |ORDER BY bucket ASC, rank ASC""".stripMargin,

    "q_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 1000000 AS bucket
        |  FROM events),
        |c AS (SELECT user_id, min(bucket) AS cohort FROM e GROUP BY user_id)
        |SELECT c.cohort, (e.bucket - c.cohort) // 86400 AS bucket_offset,
        |  count(*) AS n_keys
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort ASC, bucket_offset ASC""".stripMargin,

    // the streaming increments, rolled up, equal the batch retention
    // table — same oracle derivation
    "stream_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 1000000 AS bucket
        |  FROM events),
        |c AS (SELECT user_id, min(bucket) AS cohort FROM e GROUP BY user_id)
        |SELECT c.cohort, (e.bucket - c.cohort) // 86400 AS bucket_offset,
        |  count(*) AS n_keys
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort ASC, bucket_offset ASC""".stripMargin,

    // the emitted session rows equal the batch gap-sessionization —
    // same oracle derivation as w_sessionize
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, us,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS session_id FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(us) AS start_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id ASC, session_id ASC""".stripMargin,

    "stream_sessionize_strkey" ->
      """WITH e AS (SELECT concat('u-', CAST(user_id AS VARCHAR)) AS user_id,
        |  epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, us,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS session_id FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(us) AS start_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id ASC, session_id ASC""".stripMargin,

    "q_time_rolling" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w AS n_win,
        |  CAST(sum(v) OVER w AS BIGINT) AS sum_win_c
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id ASC""".stripMargin,

    "q_time_gaps" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, us,
        |  lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us
        |  FROM e)
        |SELECT user_id, prev_us AS gap_start_us, us AS gap_end_us,
        |  (us - prev_us) // 1000000 AS gap_sec
        |FROM g WHERE us - prev_us > 7200000000
        |ORDER BY user_id ASC, gap_start_us ASC, gap_end_us ASC""".stripMargin,

    "q_negative_pairs" ->
      s"""WITH a AS (SELECT doc_id AS anchor, text AS ta FROM documents),
         |cnt AS (SELECT count(*) AS n FROM documents),
         |p AS (SELECT anchor, ta, unnest(range(0, 3)) AS j FROM a),
         |q AS (SELECT anchor, j,
         |  ${duckHex15("concat_ws(':', CAST(anchor AS VARCHAR), CAST(j AS VARCHAR))")}
         |    % (SELECT n FROM cnt) AS negative, ta FROM p)
         |SELECT anchor, j, negative
         |FROM q JOIN documents d ON d.doc_id = q.negative
         |WHERE negative <> anchor AND d.text <> q.ta
         |ORDER BY anchor ASC, j ASC""".stripMargin,

    "text_hash_embedding" -> textHashEmbeddingOracle,

    "dedup_semantic_text" -> dedupSemanticTextOracle,

    "multimodal_meta" -> multimodalMetaOracle,

    "similarity_batch_topk" ->
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
        |ORDER BY qid ASC, rank ASC""".stripMargin,

    "mining_margin_candidates" ->
      s"""$miningMarginCtes
         |SELECT src_id, tgt_id, sim_micro, margin_milli,
         |  CAST(cand_rank AS INT) AS cand_rank
         |FROM ranked
         |ORDER BY src_id ASC, cand_rank ASC""".stripMargin,

    "mining_margin_pairs" ->
      s"""$miningMarginCtes
         |SELECT src_id, tgt_id, sim_micro, margin_milli
         |FROM ranked
         |WHERE cand_rank = 1 AND margin_milli >= 1000
         |ORDER BY src_id ASC""".stripMargin,

    "sql_tvf_margin_pairs" ->
      s"""$miningMarginCtes
         |SELECT src_id, tgt_id, sim_micro, margin_milli
         |FROM ranked
         |WHERE cand_rank = 1 AND margin_milli >= 1000
         |ORDER BY src_id ASC""".stripMargin,

    "stream_margin_mining" ->
      s"""$miningMarginCtes
         |SELECT src_id, tgt_id, sim_micro, margin_milli,
         |  CAST(0 AS BIGINT) AS batch_id
         |FROM ranked
         |WHERE cand_rank = 1 AND margin_milli >= 1000
         |ORDER BY src_id ASC""".stripMargin,

    "mining_margin_mutual" ->
      s"""WITH ${miningMarginCtesDir("a_", 0, 1)},
         |${miningMarginCtesDir("b_", 1, 0)}
         |SELECT a.src_id, a.tgt_id, a.sim_micro, a.margin_milli
         |FROM a_ranked a JOIN b_ranked b
         |  ON a.src_id = b.tgt_id AND a.tgt_id = b.src_id
         |WHERE a.cand_rank = 1 AND a.margin_milli >= 1000
         |  AND b.cand_rank = 1 AND b.margin_milli >= 1000
         |ORDER BY a.src_id ASC""".stripMargin,

    "stream_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  event_type, count(*) AS n,
        |  CAST(round(sum(value) * 100) AS BIGINT) AS value_c
        |FROM events GROUP BY 1, 2
        |ORDER BY ws ASC, event_type ASC""".stripMargin,

    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf ASC, ls ASC""".stripMargin,

    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf ASC, ls ASC""".stripMargin,

    "q_range_join_bins" ->
      """WITH bins(bin_id, lo, hi) AS (VALUES
        |  (0, 0.0, 50.0), (1, 50.0, 100.0), (2, 100.0, 150.0),
        |  (3, 150.0, 200.0), (4, 200.0, 250.0), (5, 250.0, 300.0),
        |  (6, 300.0, 350.0), (7, 350.0, 400.0), (8, 400.0, 450.0),
        |  (9, 450.0, 500.0))
        |SELECT CAST(bin_id AS BIGINT) AS bin_id, count(*) AS n,
        |  CAST(round(sum(value) * 100) AS BIGINT) AS value_c
        |FROM events JOIN bins ON value >= lo AND value < hi
        |GROUP BY bin_id
        |ORDER BY bin_id ASC""".stripMargin,

    "q_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(round(sum(l_extendedprice * (1.0 - l_discount))) AS BIGINT) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,

    "q_dedup_events" ->
      """SELECT user_id, event_type,
        |  strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
        |  min(event_id) AS keeper_event, count(*) AS n_dups
        |FROM events
        |GROUP BY user_id, event_type, date_trunc('minute', ts)
        |ORDER BY user_id ASC, event_type ASC, minute ASC""".stripMargin,

    "q_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(round(sum(l_extendedprice * (1.0 - l_discount))) AS BIGINT) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,

    "q_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS item FROM documents)
        |SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM t
        |GROUP BY item ORDER BY cnt DESC, item ASC LIMIT 10""".stripMargin,

    "q_mixture_sample" -> mixtureSampleOracle,

    "q_temperature_sample" -> temperatureSampleOracle,
    "sql_tvf_temperature_sample" -> temperatureSampleOracle,
    "q_budget_sample" -> budgetSampleOracle,
    // the TVF twins share the operator rows' oracles verbatim
    "sql_tvf_budget_sample" -> budgetSampleOracle,
    "sql_tvf_mixture" -> mixtureSampleOracle,

    "q_sample_hash" -> sampleHashOracle,

    "q_split_assign" -> splitAssignOracle,

    "q_stratified_sample" -> stratifiedSampleOracle,
    "sql_tvf_stratified_sample" -> stratifiedSampleOracle,

    "q_weighted_sample" -> weightedSampleOracle,

    "q_count_min" -> countMinOracle,

    "q_bloom_decontaminate" -> bloomOracle,

    "q_zorder_code" ->
      """WITH p AS (SELECT DISTINCT l_orderkey % 1024 AS x,
        |  l_partkey % 1024 AS y FROM lineitem)
        |SELECT x, y,
        |  CAST(list_sum(list_transform(range(0, 10), i ->
        |    (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i + 1))))
        |    AS BIGINT) AS z
        |FROM p
        |ORDER BY x ASC, y ASC""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin,

    "asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id,
        |  COALESCE(CAST(round(r.pval * 100) AS BIGINT), -1) AS pval_c
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id ASC""".stripMargin,

    "w3_analytics" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders)
        |SELECT o_custkey, o_orderkey, price_c,
        |  COALESCE(lag(price_c, 1) OVER w, -1) AS prev_c,
        |  COALESCE(lead(price_c, 1) OVER w, -1) AS next_c,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(round(percent_rank() OVER w * 1000) AS BIGINT) AS prank_milli
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY price_c ASC, o_orderkey ASC)
        |ORDER BY o_custkey ASC, price_c ASC, o_orderkey ASC""".stripMargin,

    "q_pivot" ->
      """SELECT l_returnflag,
        |  COALESCE(CAST(round(sum(CASE WHEN l_linestatus = 'F'
        |    THEN l_quantity END)) AS BIGINT), 0) AS qty_f,
        |  COALESCE(CAST(round(sum(CASE WHEN l_linestatus = 'O'
        |    THEN l_quantity END)) AS BIGINT), 0) AS qty_o
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin,

    "q_unpivot" ->
      """WITH wide AS (SELECT l_returnflag,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  CAST(round(sum(l_extendedprice)) AS BIGINT) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM wide
        |ORDER BY l_returnflag ASC, measure ASC""".stripMargin,

    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC""".stripMargin,

    "text_chunks" ->
      """WITH c AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |x AS (SELECT doc_id, text,
        |  unnest(range(0, CASE WHEN L <= 200 THEN 1
        |    ELSE CAST(ceil((L - 50) / 150.0) AS BIGINT) END)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |  CAST(length(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS BIGINT)
        |    AS chunk_chars,
        |  CAST(len(string_split_regex(
        |    trim(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)), '\s+'))
        |    AS BIGINT) AS chunk_tokens
        |FROM x
        |ORDER BY doc_id ASC, chunk_idx ASC""".stripMargin,

    "q_vec_mean" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT label, unnest(range(0, len(v))) AS dim_idx,
        |             unnest(v) AS x FROM e)
        |SELECT CAST(label AS BIGINT) AS label, dim_idx,
        |  CAST(round(avg(x) * 1000) AS BIGINT) AS mean_milli
        |FROM u GROUP BY label, dim_idx
        |ORDER BY label ASC, dim_idx ASC""".stripMargin,

    "q_grouped_knn" ->
      """WITH e AS (SELECT label, vec_id,
        |  (1 - list_inner_product(CAST(embedding AS DOUBLE[]), q.v)
        |     / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                CAST(embedding AS DOUBLE[])))
        |        * sqrt(list_inner_product(q.v, q.v)))) AS d
        |  FROM embeddings,
        |    (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |     WHERE vec_id = 7) q),
        |r AS (SELECT label, vec_id, d, row_number() OVER
        |  (PARTITION BY label ORDER BY d ASC, vec_id ASC) AS rn FROM e)
        |SELECT CAST(label AS BIGINT) AS label, vec_id,
        |  CAST(round(d * 1000) AS BIGINT) AS dist_milli
        |FROM r WHERE rn <= 3
        |ORDER BY label ASC, dist_milli ASC, vec_id ASC""".stripMargin,

    "q_kmv_distinct" -> kmvDistinctOracle,

    "q_interval_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts, value FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, count(*) AS n_purchases,
        |  CAST(round(sum(p.value) * 100) AS BIGINT) AS value_c
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.pts >= c.ts AND p.pts <= c.ts + INTERVAL 30 MINUTE
        |GROUP BY c.event_id
        |ORDER BY c.event_id ASC""".stripMargin,

    "q_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
        |ORDER BY rf ASC, ls ASC""".stripMargin,

    "asof_join_forward" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id,
        |  COALESCE(CAST(round(r.pval * 100) AS BIGINT), -1) AS pval_c
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id ASC""".stripMargin,

    "asof_join_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id,
        |  COALESCE(CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
        |    THEN CAST(round(r.pval * 100) AS BIGINT) END, -1) AS pval_c
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id ASC""".stripMargin,

    // two native ASOF joins (backward and forward) composed; the tie
    // rule (equidistant → backward) mirrors AsOfJoin.nearest's `<=`
    "asof_join_nearest" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT l.event_id, r.ts AS bts, r.pval AS bval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.event_id, r.ts AS fts, r.pval AS fval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT l.event_id, l.user_id,
        |  CAST(COALESCE(CASE
        |    WHEN f.fts IS NULL AND b.bts IS NULL THEN NULL
        |    WHEN f.fts IS NULL THEN round(b.bval * 100)
        |    WHEN b.bts IS NULL THEN round(f.fval * 100)
        |    WHEN epoch_us(l.ts) - epoch_us(b.bts)
        |         <= epoch_us(f.fts) - epoch_us(l.ts)
        |      THEN round(b.bval * 100)
        |    ELSE round(f.fval * 100) END, -1) AS BIGINT) AS pval_c
        |FROM l JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY l.event_id ASC""".stripMargin,

    // the composed-ASOF nearest oracle with a validity bound per
    // side: a match only counts within 1 h (inclusive); backward wins
    // in-tolerance ties, mirroring AsOfJoin.nearest's `<=`
    "asof_join_nearest_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT l.event_id, r.ts AS bts, r.pval AS bval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.event_id, r.ts AS fts, r.pval AS fval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts),
        |g AS (SELECT l.event_id, l.user_id,
        |        b.bval, f.fval,
        |        (b.bts IS NOT NULL AND
        |         epoch_us(l.ts) - epoch_us(b.bts) <= 3600000000) AS vb,
        |        (f.fts IS NOT NULL AND
        |         epoch_us(f.fts) - epoch_us(l.ts) <= 3600000000) AS vf,
        |        epoch_us(l.ts) - epoch_us(b.bts) AS bgap,
        |        epoch_us(f.fts) - epoch_us(l.ts) AS fgap
        |      FROM l JOIN b USING (event_id) JOIN f USING (event_id))
        |SELECT event_id, user_id,
        |  CAST(COALESCE(CASE
        |    WHEN vb AND (NOT vf OR bgap <= fgap) THEN round(bval * 100)
        |    WHEN vf THEN round(fval * 100) END, -1) AS BIGINT) AS pval_c
        |FROM g
        |ORDER BY event_id ASC""".stripMargin,

    "text_fingerprint" -> textFingerprintOracle,

    // acceptance row: BPE train+encode contract — all docs roundtrip
    // through decode, learned merges compress vs the char baseline
    "text_bpe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(0 AS BIGINT) AS roundtrip_fail,
        |       CAST(1 AS BIGINT) AS compressed
        |FROM documents""".stripMargin,

    // repetition removal: same derived multi-line corpus, first
    // occurrence kept in order (string_agg ORDER BY min pos)
    "text_strip_repeats" ->
      """WITH d AS (SELECT doc_id,
        |    text || chr(10) || text || chr(10) || substr(text, 1, 50) AS text
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos,
        |    unnest(string_split(text, chr(10))) AS line
        |  FROM d),
        |f AS (SELECT doc_id, line, min(pos) AS pos, count(*) AS cnt
        |  FROM l GROUP BY 1, 2)
        |SELECT doc_id,
        |       md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5,
        |       CAST(count(*) AS BIGINT) AS lines_kept,
        |       CAST(sum(cnt) AS BIGINT) AS lines_total
        |FROM f GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // bigram LM score: same smoothed integer-milli inverse-probability
    // model derived in SQL — bigrams via list_zip against the tail
    "text_lm_score" -> lmScoreOracle,

    // the TVF form computes the identical self-scored model
    "sql_tvf_lm" -> lmScoreOracle,

    // DSIR importance: the dsirCtes chain replays the double-exact
    // likelihood ratio; the sample twin adds the hash-uniform keep
    "text_dsir_importance" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_words, imp_milli FROM dimp
         |ORDER BY doc_id ASC""".stripMargin,

    "sql_tvf_dsir" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_words, imp_milli FROM dimp
         |ORDER BY doc_id ASC""".stripMargin,

    "text_dsir_sample" ->
      s"""WITH $dsirCtes,
         |db AS (SELECT d.doc_id, d.source, i.imp_milli,
         |    $duckUtf8Bytes AS bs
         |  FROM documents d JOIN dimp i ON d.doc_id = i.doc_id)
         |SELECT source, count(*) AS n_kept FROM db
         |WHERE CAST(${duckSigned(duckFnvFold("bs"))} AS DOUBLE)
         |    / 1.8446744073709552e19 + 0.5
         |  < least(1.0, CAST(imp_milli AS DOUBLE) / 1500.0)
         |GROUP BY source ORDER BY source ASC""".stripMargin,

    // hashed-bigram DSIR: the same pinned ratio chain over md5-hashed
    // gram BUCKETS (dsirNgramCtes — bigrams of the empty-filtered
    // token list, bucketed hex15 % 4096)
    "text_dsir_importance_ngram" ->
      s"""WITH $dsirNgramCtes
         |SELECT doc_id, n_words, imp_milli FROM nimp
         |ORDER BY doc_id ASC""".stripMargin,

    // trigram twin: the same chain at n = 3 (three-token window,
    // range empty under 3 tokens)
    "text_dsir_importance_ngram3" ->
      s"""WITH ${dsirNgramCtesN(3)}
         |SELECT doc_id, n_words, imp_milli FROM nimp
         |ORDER BY doc_id ASC""".stripMargin,

    // the n-gram resample twin: the unigram sample row's hash-uniform
    // keep rule over the bigram-bucket importance
    "text_dsir_sample_ngram" ->
      s"""WITH $dsirNgramCtes,
         |ndb AS (SELECT d.doc_id, d.source, i.imp_milli,
         |    $duckUtf8Bytes AS bs
         |  FROM documents d JOIN nimp i ON d.doc_id = i.doc_id)
         |SELECT source, count(*) AS n_kept FROM ndb
         |WHERE CAST(${duckSigned(duckFnvFold("bs"))} AS DOUBLE)
         |    / 1.8446744073709552e19 + 0.5
         |  < least(1.0, CAST(imp_milli AS DOUBLE) / 1500.0)
         |GROUP BY source ORDER BY source ASC""".stripMargin,

    // the streaming DSIR loop's batch-0 run scores against frozen
    // artifacts trained on the same split — the unigram chain + the
    // constant batch id
    "stream_dsir_score" ->
      s"""WITH $dsirCtes
         |SELECT d.doc_id, d.source, i.n_words, i.imp_milli,
         |  CAST(0 AS BIGINT) AS batch_id
         |FROM documents d JOIN dimp i ON d.doc_id = i.doc_id
         |ORDER BY d.doc_id ASC""".stripMargin,

    // the bigram-bucket twin of the streaming scorer
    "stream_dsir_score_ngram" ->
      s"""WITH $dsirNgramCtes
         |SELECT d.doc_id, d.source, i.n_words, i.imp_milli,
         |  CAST(0 AS BIGINT) AS batch_id
         |FROM documents d JOIN nimp i ON d.doc_id = i.doc_id
         |ORDER BY d.doc_id ASC""".stripMargin,

    // cross-corpus LM: model from even ids only, left-joined costs
    // with coalesce for unseen bigrams/contexts
    "text_lm_cross" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS s
        |  FROM documents),
        |tr AS (SELECT * FROM t WHERE doc_id % 2 = 0),
        |te AS (SELECT * FROM t WHERE doc_id % 2 = 1),
        |tok AS (SELECT unnest(s) AS w FROM tr),
        |bgtr AS (SELECT p[1] AS a, p[2] AS b
        |  FROM (SELECT unnest(list_zip(s, s[2:])) AS p FROM tr)
        |  WHERE p[2] IS NOT NULL),
        |cab AS (SELECT a, b, count(*) AS cab FROM bgtr GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM tok),
        |bgte AS (SELECT doc_id, p[1] AS a, p[2] AS b
        |  FROM (SELECT doc_id, unnest(list_zip(s, s[2:])) AS p FROM te)
        |  WHERE p[2] IS NOT NULL),
        |cost AS (SELECT bgte.doc_id,
        |    (1000 * (coalesce(ca.ca, 0) + v.v)) // (coalesce(cab.cab, 0) + 1) AS c
        |  FROM bgte
        |  LEFT JOIN cab USING (a, b)
        |  LEFT JOIN ca USING (a)
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(CAST(sum(c) AS BIGINT) // count(*) AS BIGINT) AS mean_invp_milli
        |FROM cost GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.word,
        |    CAST(floor(tf.tf * 1000.0 * n.n / df.df) AS BIGINT) AS score
        |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
        |r AS (SELECT doc_id, word, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, word ASC) AS BIGINT) AS rank FROM s)
        |SELECT doc_id, word, score, rank FROM r WHERE rank <= 3
        |ORDER BY doc_id ASC, rank ASC""".stripMargin,

    "text_vocab" ->
      """WITH w AS (SELECT
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents),
        |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
        |r AS (SELECT word, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT)
        |      AS rank,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, word ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS total
        |  FROM c)
        |SELECT word, cnt, rank,
        |  CAST(floor(1000.0 * cum / total) AS BIGINT) AS cov_milli
        |FROM r WHERE rank <= 50
        |ORDER BY rank ASC""".stripMargin,

    "text_oov_rate" ->
      """WITH w AS (SELECT
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents),
        |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
        |r AS (SELECT word,
        |    row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
        |  FROM c),
        |vocab AS (SELECT word FROM r WHERE rank <= 50),
        |t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS s
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(s) AS tok FROM t),
        |o AS (SELECT doc_id, count(*) AS oov FROM tok
        |  WHERE tok NOT IN (SELECT word FROM vocab) GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(floor(1000.0 * COALESCE(o.oov, 0) / len(t.s)) AS BIGINT)
        |    AS oov_milli
        |FROM t LEFT JOIN o ON o.doc_id = t.doc_id
        |ORDER BY t.doc_id ASC""".stripMargin,

    // learn-then-score twin of trainTokenClassifier +
    // scoreTokenClassifier: integer Laplace-posterior weights over the
    // 80% train slice, integer mean-evidence scores on the held-out
    // 20% — `//` is DuckDB's floor division, matching Spark's idiv
    "text_classifier" ->
      """WITH toks AS (SELECT doc_id, lang,
        |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS ws
        |  FROM documents),
        |cnt AS (SELECT w AS term,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS total
        |  FROM (SELECT lang, unnest(ws) AS w FROM toks WHERE doc_id % 5 != 0)
        |  GROUP BY w),
        |vocab AS (SELECT term, (1000 * (pos + 1)) // (total + 2) AS wm
        |  FROM cnt ORDER BY total DESC, term ASC LIMIT 24),
        |held AS (SELECT doc_id, unnest(ws) AS term FROM toks
        |  WHERE doc_id % 5 = 0),
        |sc AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS matched,
        |    CAST(SUM(v.wm) AS BIGINT) AS ev
        |  FROM held h JOIN vocab v USING (term) GROUP BY h.doc_id)
        |SELECT t.doc_id, COALESCE(sc.matched, CAST(0 AS BIGINT)) AS matched,
        |  CAST(COALESCE(sc.ev // sc.matched, 500) AS BIGINT) AS score_milli
        |FROM (SELECT doc_id FROM toks WHERE doc_id % 5 = 0) t
        |LEFT JOIN sc ON sc.doc_id = t.doc_id
        |ORDER BY t.doc_id ASC""".stripMargin,

    "dedup_simhash" -> simHashOracle,

    "dedup_minhash_sig" -> minHashSigOracle,

    "dedup_minhash_lsh" -> minHashLshOracle,
    "sql_tvf_minhash_pairs" -> minHashLshOracle,
    "dedup_containment" -> containmentOracle,

    // acceptance row, not a result hash: the Spark side computes recall
    // of the IVF top-k against the exact top-k and emits pass=1 iff it
    // clears 0.9 — the oracle pins the expected acceptance values
    "ann_ivf_topk" ->
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass",

    // acceptance row: batch IVF probe mean recall bound
    "ann_ivf_batch" ->
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass",

    // acceptance row (see ann_ivf_topk): PQ two-stage recall bound
    "ann_pq_recall" ->
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass",

    // acceptance row: IVF-PQ full-probe refined recall bound
    "ann_ivfpq_recall" ->
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass",

    // acceptance row: IVF-PQ PRUNED-probe (nProbe=16/45) batch mean
    // recall@10 >= 0.8 — gates the production operating point, not
    // just the full-probe ceiling
    "ann_ivfpq_pruned" ->
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass",

    // cross-scale drift: sf0.1-built artifact probed with sf0.01
    // queries still clears recall@10 >= 0.9
    "ann_ivfpq_cross_scale" ->
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass",

    // acceptance row: the same pruned-probe gate against the sf0.1
    // sibling corpus (10× the sweep's data) — pins recall at scale
    // every round, not just in ad-hoc probes
    "ann_ivfpq_pruned_sf01" ->
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass",

    "ann_ivfpq_cross_scale_rev" ->
      "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS pass",

    "ann_ivf_fullprobe" ->
      """WITH top AS (
        |  SELECT vec_id,
        |         list_distance(CAST(embedding AS DOUBLE[]),
        |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 7)) AS d
        |  FROM embeddings
        |  ORDER BY d ASC, vec_id ASC
        |  LIMIT 10)
        |SELECT vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli
        |FROM top
        |ORDER BY dist_milli ASC, vec_id ASC""".stripMargin,

    // exact filtered kNN: min distances over the label-filtered subset
    "ann_ivf_filtered" ->
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
        |ORDER BY dist_milli ASC, vec_id ASC""".stripMargin,

    // exact filtered kNN through the compressed path: full probe +
    // exhaustive overfetch makes the PQ refine exact over the allowed
    // subset — same twin as ann_ivf_filtered
    "ann_ivfpq_filtered" ->
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
        |ORDER BY dist_milli ASC, vec_id ASC""".stripMargin,

    // exact filtered BATCH kNN: per-query top-10 over the
    // label-filtered subset (full probe ⇒ exact per query)
    "ann_ivf_filtered_batch" ->
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
        |ORDER BY qid ASC, dist_milli ASC, vec_id ASC""".stripMargin,

    "multimodal_features" -> multimodalFeaturesOracle,
    // sample values derive from the UTF-8 BYTES of the payload (the
    // duckUtf8Bytes convention every byte-level multimodal/hash
    // oracle uses) — codepoint arithmetic would silently diverge from
    // the WAV byte stream on any non-ASCII corpus text
    // FLAC: samples are payload bytes (encoded as 16-bit values
    // 0..255), so the stats chain is the WAV byte arithmetic with
    // the engine's exact meanMilli(sum, n) double chain
    "multimodal_flac" ->
      s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
        |s AS (SELECT doc_id, len(bs) AS n,
        |    COALESCE(list_sum(bs), 0) AS sm,
        |    COALESCE(list_max(bs), 0) AS mx,
        |    COALESCE(list_min(bs), 0) AS mn FROM b)
        |SELECT doc_id, 'audio/flac' AS format,
        |  CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CASE WHEN n = 0 THEN 0
        |    ELSE CAST(round(sm * 1000.0 / (255.0 * n)) AS BIGINT)
        |  END AS c0_milli,
        |  CASE WHEN n = 0 THEN 0
        |    ELSE CAST(round((mx * n) * 1000.0 / (255.0 * n)) AS BIGINT)
        |  END AS c1_milli,
        |  CASE WHEN n = 0 THEN 0
        |    ELSE CAST(round((mn * n) * 1000.0 / (255.0 * n)) AS BIGINT)
        |  END AS c2_milli
        |FROM s ORDER BY doc_id ASC""".stripMargin,

    // FLAC energy windows: center 0 (signed samples), else the
    // multimodal_audio_energy integer fold verbatim
    "multimodal_flac_energy" ->
      s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
        |s AS (SELECT doc_id, unnest(bs) AS v,
        |    unnest(range(1, len(bs) + 1)) AS i
        |  FROM b)
        |SELECT doc_id, CAST((i - 1) // 64 AS BIGINT) AS win,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS energy,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM s GROUP BY doc_id, win
        |ORDER BY doc_id ASC, win ASC""".stripMargin,

    "multimodal_audio_energy" ->
      s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs
        |  FROM documents WHERE doc_id % 3 = 0),
        |s AS (SELECT doc_id, unnest(bs) AS v,
        |    unnest(range(1, len(bs) + 1)) AS i
        |  FROM b)
        |SELECT doc_id, CAST((i - 1) // 64 AS BIGINT) AS win,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum((v - 128) * (v - 128)) AS BIGINT) AS energy,
        |  CAST(max(abs(v - 128)) AS BIGINT) AS peak
        |FROM s GROUP BY doc_id, win
        |ORDER BY doc_id ASC, win ASC""".stripMargin,

    // audio near-dup: window energies from payload bytes (the same
    // integer fold as multimodal_audio_energy), per-doc energy list
    // ordered by window, sign-of-delta 63-bit signature, 4×16-bit
    // band blocking with the 1000-cap, all-pairs hamming <= 3 —
    // pigeonhole makes the banded result EQUAL the all-pairs result,
    // which is what this computes
    "multimodal_audio_neardup" ->
      s"""WITH $audioSigCtes,
        |${sigBandFoldTail(16)}""".stripMargin,

    // the standing sig-index probe: delta prints (the +900000 twins)
    // vs the indexed corpus prints, stored-side buckets capped at
    // their CURRENT size, inline hamming — shares the audio sig
    // derivation verbatim
    "multimodal_audio_incremental" ->
      s"""WITH $audioSigCtes,
        |${sigProbeTail("doc_id < 900000")}""".stripMargin,

    // the streaming ingest loop's single-batch run: survivors =
    // prints that are not the HIGHER id of any capped pair ≤ 3
    "stream_media_dedup" ->
      s"""WITH $audioSigCtes,
        |${sigBandFoldCtes(16)},
        |drops AS (SELECT DISTINCT pb FROM pairs
        |  WHERE bit_count(xor(sa, sb)) <= 3)
        |SELECT s2.doc_id, s2.s AS sig FROM sig s2
        |LEFT JOIN drops ON drops.pb = s2.doc_id
        |WHERE drops.pb IS NULL
        |ORDER BY s2.doc_id ASC""".stripMargin,

    // the image twin: identical survivor rule over the dHash sig
    // derivation (imageSigCtes) under the shared banded fold
    "stream_media_dedup_image" ->
      s"""WITH $imageSigCtes,
        |${sigBandFoldCtes(16)},
        |drops AS (SELECT DISTINCT pb FROM pairs
        |  WHERE bit_count(xor(sa, sb)) <= 3)
        |SELECT s2.doc_id, s2.s AS sig FROM sig s2
        |LEFT JOIN drops ON drops.pb = s2.doc_id
        |WHERE drops.pb IS NULL
        |ORDER BY s2.doc_id ASC""".stripMargin,

    // takedown twin: corpus prints for original doc_id < 50 (ids
    // 0,3,...,147) hard-deleted — the pairs they anchored vanish and
    // the bucket cap re-evaluates over the post-delete table
    "multimodal_audio_takedown" ->
      s"""WITH $audioSigCtes,
        |${sigProbeTail("doc_id < 900000 AND doc_id >= 150")}""".stripMargin,

    // the video twin: per-frame intensity = Σ payload bytes of that
    // 24-byte frame slice (frameRows=2 ⇒ 4×2 RGB = 24 bytes; the
    // zero-padded tail contributes nothing, so the partial-frame
    // group-by reproduces the padded sum exactly). The sig CTE LEFT
    // JOINs from d: an EMPTY text still synthesizes one all-zero
    // frame engine-side (sig 0, n_frames 1), so the oracle must emit
    // its sig-0 row too, not drop the doc
    "multimodal_video_neardup" ->
      s"""WITH $videoSigCtes,
        |${sigBandFoldTail(16)}""".stripMargin,

    // the standing video artifact: delta prints (the +900000 twins)
    // vs the indexed corpus prints under the "video-intensity-f2"
    // family — shares the video sig derivation verbatim
    "multimodal_video_incremental" ->
      s"""WITH $videoSigCtes,
        |${sigProbeTail("doc_id < 900000")}""".stripMargin,

    // the vfs_sig_pairs TVF over PERSISTED audio prints: identical
    // derivation (and identical result) to multimodal_audio_neardup —
    // the SQL reachability proof for the media near-dup family
    "sql_tvf_sig_pairs" ->
      s"""WITH $audioSigCtes,
        |${sigBandFoldTail(16)}""".stripMargin,

    // image near-dup: dHash from payload bytes (the imageSigCtes
    // re-derivation of decode → RGB → NN 9×8 → BT.601 luma →
    // delta-sign), banded 4×16 with the 1000-cap, all-pairs hamming
    // ≤ 3 — pigeonhole makes the banded result EQUAL the all-pairs
    // result, which is what this computes
    "multimodal_image_neardup" ->
      s"""WITH $imageSigCtes,
        |${sigBandFoldTail(16)}""".stripMargin,

    // the standing image-dHash sig-index probe: delta prints (the
    // +900000 twins) vs the indexed corpus prints — shares the image
    // sig derivation verbatim
    "multimodal_image_incremental" ->
      s"""WITH $imageSigCtes,
        |${sigProbeTail("doc_id < 900000")}""".stripMargin,

    // pHash: every bit of the DCT low-band median-threshold hash
    // re-derived from payload bytes (fixed-point cosine table shared
    // with the engine via one Scala constant)
    "multimodal_phash" ->
      s"""WITH ${phashSigCtesOver(
              "SELECT doc_id * 3 + 2 AS doc_id, text FROM documents")}
        |SELECT doc_id, s AS sig FROM sig
        |ORDER BY doc_id ASC""".stripMargin,

    // pHash near-dup: the same banded 4×16 fold over the pHash sig
    // table (pigeonhole makes banded = all-pairs at hamming ≤ 3)
    "multimodal_phash_neardup" ->
      s"""WITH ${phashSigCtesOver(
              """SELECT doc_id * 3 + 2 AS doc_id, text FROM documents
                |  UNION ALL
                |  SELECT doc_id * 3 + 2 + 900000 AS doc_id, text
                |  FROM documents WHERE doc_id % 10 = 0""".stripMargin)},
        |${sigBandFoldTail(16)}""".stripMargin,

    // EXIF orientation: the rotated twin (+900000, tag 274 = k) must
    // hash-match its upright original, so ONE derivation — the
    // 4-wide dHash from payload bytes — covers both id ranges; the
    // oriented dimensions must also come back upright (4 × h)
    "multimodal_exif" ->
      s"""WITH ${imageSigCtesOver(
              """SELECT doc_id, text FROM documents
                |  UNION ALL
                |  SELECT doc_id + 900000 AS doc_id, text
                |  FROM documents""".stripMargin)}
        |SELECT sig.doc_id, sig.s AS sig,
        |  4 AS width, CAST(p.h AS INTEGER) AS height
        |FROM sig JOIN p USING (doc_id)
        |ORDER BY doc_id ASC""".stripMargin,

    // decode quarantine: every 37th asset is truncated (decode must
    // throw → sentinel -1 columns + quarantined=true); clean assets
    // re-derive the dHash sig from payload arithmetic — proving the
    // quarantined kernel's clean half equals the strict kernel
    "multimodal_quarantine" ->
      s"""WITH ${imageSigCtesOver(
              "SELECT doc_id * 3 + 2 AS doc_id, text FROM documents")}
        |SELECT p.doc_id,
        |  CASE WHEN p.doc_id % 37 = 0 THEN CAST(-1 AS BIGINT)
        |    ELSE sig.s END AS sig,
        |  CASE WHEN p.doc_id % 37 = 0 THEN -1 ELSE 4 END AS width,
        |  CASE WHEN p.doc_id % 37 = 0 THEN -1
        |    ELSE CAST(p.h AS INTEGER) END AS height,
        |  p.doc_id % 37 = 0 AS quarantined
        |FROM p JOIN sig USING (doc_id)
        |ORDER BY doc_id ASC""".stripMargin,

    // the streaming twin lands the same rows batch-addressed
    "stream_media_quarantine" ->
      s"""WITH ${imageSigCtesOver(
              "SELECT doc_id * 3 + 2 AS doc_id, text FROM documents")}
        |SELECT p.doc_id,
        |  CASE WHEN p.doc_id % 37 = 0 THEN CAST(-1 AS BIGINT)
        |    ELSE sig.s END AS sig,
        |  CASE WHEN p.doc_id % 37 = 0 THEN -1 ELSE 4 END AS width,
        |  CASE WHEN p.doc_id % 37 = 0 THEN -1
        |    ELSE CAST(p.h AS INTEGER) END AS height,
        |  p.doc_id % 37 = 0 AS quarantined,
        |  CAST(3 AS BIGINT) AS batch_id
        |FROM p JOIN sig USING (doc_id)
        |ORDER BY doc_id ASC""".stripMargin,

    // AUDIO quarantine twin: clean FLAC prints recompute from
    // payload bytes (raw v as 16-bit samples, window-4 energies,
    // sign-of-delta fold); corrupt = doc_id % 37 rows carry the
    // sentinel values; zero-sample clean docs emit no print row
    // (the strict path's omit stance)
    "multimodal_audio_quarantine" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents
        |    WHERE doc_id % 37 <> 0),
        |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs FROM d),
        |st AS (SELECT doc_id, unnest(bs) AS v,
        |    unnest(range(1, len(bs) + 1)) AS i FROM b),
        |e AS (SELECT doc_id, (i - 1) // 4 AS win,
        |    sum(v * v) AS en FROM st GROUP BY doc_id, win),
        |el AS (SELECT doc_id, list(en ORDER BY win) AS es
        |  FROM e GROUP BY doc_id),
        |sig AS (SELECT doc_id, CAST(coalesce(list_sum(list_transform(
        |    range(0, least(len(es) - 1, 63)),
        |    j -> CASE WHEN es[CAST(j + 2 AS INTEGER)] > es[CAST(j + 1 AS INTEGER)]
        |         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
        |         ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS s,
        |    CAST(len(es) AS BIGINT) AS nw
        |  FROM el)
        |SELECT doc_id, s AS sig, nw AS n_windows,
        |  false AS quarantined FROM sig
        |UNION ALL
        |SELECT doc_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), true
        |FROM documents WHERE doc_id % 37 = 0
        |ORDER BY doc_id ASC""".stripMargin,

    // VIDEO quarantine twin: the shared frame-intensity derivation
    // over the clean docs (empty payload = one zero frame), corrupt
    // rows by residue
    "multimodal_video_quarantine" ->
      s"""WITH ${videoSigCtesOver(
              "SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0")},
        |nf AS (SELECT d.doc_id,
        |    CAST(greatest(1, (coalesce(len(b.bs), 0) + 23) // 24)
        |      AS BIGINT) AS n
        |  FROM d LEFT JOIN b ON b.doc_id = d.doc_id)
        |SELECT sig.doc_id, sig.s AS sig, nf.n AS n_frames,
        |  false AS quarantined
        |FROM sig JOIN nf USING (doc_id)
        |UNION ALL
        |SELECT doc_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), true
        |FROM documents WHERE doc_id % 37 = 0
        |ORDER BY doc_id ASC""".stripMargin,

    "multimodal_png" -> multimodalPngOracle,
    "multimodal_png_gray" -> multimodalPngGrayOracle,
    "multimodal_png_palette" -> multimodalPngPaletteOracle,
    "multimodal_png_rgba" -> multimodalPngRgbaOracle,
    "multimodal_gif" ->
      multimodalPalettedOracle("image/gif", cap = Some(4L * 0xffff)),
    "multimodal_sniff" -> multimodalSniffOracle,
    "multimodal_tiff" ->
      multimodalRgbRasterOracle("image/tiff", cap = Some(12L * (1 << 20))),
    "multimodal_webp" ->
      multimodalRgbRasterOracle("image/webp", cap = Some(12L * 16384)),
    "multimodal_tiff_packbits" ->
      multimodalRgbRasterOracle("image/tiff", cap = Some(12L * (1 << 20))),
    "multimodal_gif_frames" -> multimodalGifFramesOracle,
    "multimodal_jpeg" -> multimodalJpegOracle,
    "multimodal_jpeg_color" -> multimodalJpegColorOracle(8),
    "multimodal_jpeg_420" -> multimodalJpegColorOracle(16),
    "multimodal_jpeg_resize" -> multimodalJpegResizeOracle,
    "multimodal_resize" -> multimodalResizeOracle,
    "multimodal_frames" -> multimodalFramesOracle,

    // MP4 box walk: n = 1 + doc_id % 7 samples of size
    // 8 + (doc_id + i) % 5, keyframes every 3rd sample, 40 ms per
    // sample, sample data starting at byte 32 (24-byte ftyp + mdat
    // header) — duration, counts, and keyframe byte math all
    // recompute from doc_id
    "multimodal_mp4_meta" ->
      s"""WITH p AS (SELECT doc_id, (1 + doc_id % 7) AS n FROM documents)
        |SELECT doc_id,
        |  CAST(n * 40 AS BIGINT) AS movie_duration_ms,
        |  CAST(1 AS BIGINT) AS n_tracks,
        |  CAST(1 AS BIGINT) AS track_id,
        |  'vide' AS handler,
        |  'gft1' AS codec,
        |  CAST(n * 40 AS BIGINT) AS track_duration_ms,
        |  CAST(n AS BIGINT) AS n_samples,
        |  false AS all_sync,
        |  CAST((n + 2) // 3 AS BIGINT) AS n_keyframes,
        |  CAST(list_sum([8 + (doc_id + i) % 5
        |    for i in range(0, n) if i % 3 = 0]) AS BIGINT) AS kf_bytes,
        |  CAST(32 AS BIGINT) AS first_kf_offset,
        |  CAST(32 + coalesce(list_sum([8 + (doc_id + i) % 5
        |    for i in range(0, 3 * ((n - 1) // 3))]), 0) AS BIGINT)
        |    AS last_kf_offset
        |FROM p ORDER BY doc_id ASC""".stripMargin,

    "multimodal_mp4_keyframes" ->
      s"""WITH p AS (SELECT doc_id, (1 + doc_id % 7) AS n FROM documents),
        |k AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS s FROM p)
        |SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
        |  CAST(s AS BIGINT) AS sample_no,
        |  CAST(32 + coalesce(list_sum([8 + (doc_id + i) % 5
        |    for i in range(0, s - 1)]), 0) AS BIGINT) AS kf_offset,
        |  CAST(8 + (doc_id + s - 1) % 5 AS BIGINT) AS kf_size
        |FROM k WHERE (s - 1) % 3 = 0
        |ORDER BY doc_id ASC, sample_no ASC""".stripMargin,

    // exact nearest-base-neighbor distance per delta vector; novel =
    // farther than τ = 1.140 from everything already ingested
    "dedup_incremental_index" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 300),
        |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 300 AND vec_id < 450),
        |nn AS (SELECT d.vec_id, min(list_distance(d.v, base.v)) AS dist
        |  FROM d, base GROUP BY d.vec_id)
        |SELECT vec_id, CAST(round(dist * 1000) AS BIGINT) AS nn_milli
        |FROM nn WHERE round(dist * 1000) > 1140
        |ORDER BY vec_id ASC""".stripMargin,

    "dedup_incremental_lsh" -> minHashLshIncOracle,
    // takedown twin: the stored side excludes the hard-deleted ids,
    // and the bucket cap re-evaluates over the post-delete table
    "dedup_lsh_takedown" -> minHashLshIncOracleWhere(
      "doc_id >= 100 AND doc_id NOT BETWEEN 300 AND 349"),

    "text_bm25" -> bm25Oracle,
    "sql_tvf_bm25" -> bm25Oracle,
    "text_bm25_table" -> bm25TableOracle,
    "q_hybrid_rrf_batch" -> hybridRrfBatchOracle,
    "q_hybrid_search_batch" -> hybridSearchBatchOracle,

    "q_hybrid_rrf" -> hybridRrfOracle,

    "q_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s
           |FROM documents""".stripMargin
      Seq("doc_id", "lang", "source", "n_chars").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\" ASC")
    },

    // added = the appended batch, removed = the deleted base rows;
    // keyed by name, independent of internal id assignment
    "src_snapshot_diff" ->
      """SELECT CAST(vec_id AS VARCHAR) AS name, 'added' AS change
        |FROM embeddings WHERE vec_id >= 300 AND vec_id < 450
        |UNION ALL
        |SELECT CAST(vec_id AS VARCHAR) AS name, 'removed' AS change
        |FROM embeddings WHERE vec_id < 300 AND vec_id % 30 = 0
        |ORDER BY change ASC, name ASC""".stripMargin,

    // the engine's changesSince must surface exactly the second batch
    // (vec_id 300..449) regardless of internal id assignment
    "src_incremental_changes" ->
      """SELECT CAST(vec_id AS VARCHAR) AS name,
        |  CAST(len(embedding) AS BIGINT) AS n_lanes,
        |  CAST(round(list_sum(CAST(embedding AS DOUBLE[])) * 1000)
        |    AS BIGINT) AS sum_milli
        |FROM embeddings WHERE vec_id >= 300 AND vec_id < 450
        |ORDER BY name ASC""".stripMargin,

    // post-upsert corpus: survivors keep the original payload, every
    // fifth name carries the NEGATED vector, 400..409 are inserted
    "src_upsert" ->
      """WITH u AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS name, embedding
        |  FROM embeddings WHERE vec_id < 400 AND vec_id % 5 <> 0
        |  UNION ALL
        |  SELECT CAST(vec_id AS VARCHAR) AS name,
        |    list_transform(embedding, x -> -x) AS embedding
        |  FROM embeddings WHERE vec_id < 400 AND vec_id % 5 = 0
        |  UNION ALL
        |  SELECT CAST(vec_id AS VARCHAR) AS name, embedding
        |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 410)
        |SELECT name, CAST(len(embedding) AS BIGINT) AS n_lanes,
        |  CAST(round(list_sum(CAST(embedding AS DOUBLE[])) * 1000)
        |    AS BIGINT) AS sum_milli
        |FROM u ORDER BY name ASC""".stripMargin,

    "w_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, us,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS session_id FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(us) AS start_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id ASC, session_id ASC""".stripMargin
  )

  // ---- portable-hash oracle building blocks: DuckDB expressions that
  // reproduce the engine's integer hash kernels bit-exactly ----

  /** UTF-8 bytes of `text`, derived arithmetically from code points
    * (DuckDB has no direct blob-byte iteration). */
  /** Shared DuckDB tail reproducing the engine's banded bucket-fold
    * pair semantics ([[operators.Dedup]] sigBandFoldPairs) over a
    * `sig(doc_id, s)` CTE: 4 bands of `bandBits` bits, the 1000
    * bucket cap, DISTINCT strict a < b candidate join, inline
    * hamming ≤ `maxHamming`. ONE copy serving the simhash, audio,
    * and video oracles — the banding scheme cannot drift between
    * them. */
  /** The CTE portion of [[sigBandFoldTail]] — `pairs(pa, pb, sa,
    * sb)` over a `sig(doc_id, s)` CTE; terminal consumers pick their
    * own projection (the pair list, or the keep-first survivor
    * anti-join of the streaming ingest oracle). */
  private def sigBandFoldCtes(bandBits: Int): String =
    s"""banded AS (SELECT doc_id, s, r.j AS band,
       |    (s >> (CAST(r.j AS INTEGER) * $bandBits)) & ${(1 << bandBits) - 1} AS bval
       |  FROM sig, range(0, 4) r(j)),
       |capped AS (SELECT doc_id, s, band, bval FROM (
       |    SELECT doc_id, s, band, bval,
       |           count(*) OVER (PARTITION BY band, bval) AS bn
       |    FROM banded) WHERE bn <= 1000),
       |pairs AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb,
       |    a.s AS sa, b.s AS sb
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)""".stripMargin

  private def sigBandFoldTail(bandBits: Int, maxHamming: Int = 3): String =
    s"""${sigBandFoldCtes(bandBits)}
       |SELECT pa AS a, pb AS b,
       |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(sa, sb)) <= $maxHamming
       |ORDER BY a ASC, b ASC""".stripMargin

  /** Shared CTE chain deriving the audio energy-delta sig table
    * `sig(doc_id, s)` over the synthesized corpus (originals at
    * doc_id*3 plus +900000 twins for every tenth doc) — byte-exact
    * WAV payload arithmetic, window 4, the [[sigBandFoldTail]] /
    * [[sigProbeTail]] consumers' common head. ONE copy serving the
    * self-pair, incremental-probe, and takedown oracles. */
  private def audioSigCtes: String =
    s"""d AS (SELECT doc_id * 3 AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id * 3 + 900000 AS doc_id, text FROM documents
       |  WHERE doc_id % 10 = 0),
       |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs FROM d),
       |st AS (SELECT doc_id, unnest(bs) AS v,
       |    unnest(range(1, len(bs) + 1)) AS i
       |  FROM b),
       |e AS (SELECT doc_id, (i - 1) // 4 AS win,
       |    sum((v - 128) * (v - 128)) AS en
       |  FROM st GROUP BY doc_id, win),
       |el AS (SELECT doc_id, list(en ORDER BY win) AS es
       |  FROM e GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST(coalesce(list_sum(list_transform(
       |    range(0, least(len(es) - 1, 63)),
       |    j -> CASE WHEN es[CAST(j + 2 AS INTEGER)] > es[CAST(j + 1 AS INTEGER)]
       |         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
       |         ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS s
       |  FROM el)""".stripMargin

  /** Shared CTE chain deriving the video frame-intensity sig table
    * `sig(doc_id, s)` over the synthesized PPM-stream corpus
    * (originals at doc_id plus +900000 twins for every tenth doc):
    * per-frame intensity = Σ payload bytes of that 24-byte frame
    * slice (frameRows=2 ⇒ 4×2 RGB = 24 bytes; the zero-padded tail
    * contributes nothing, so the partial-frame group-by reproduces
    * the padded sum exactly), sign-of-delta fold. The sig CTE LEFT
    * JOINs from d: an EMPTY text still synthesizes one all-zero
    * frame engine-side (sig 0, n_frames 1), so the oracle must emit
    * its sig-0 row too, not drop the doc. */
  private def videoSigCtes: String = videoSigCtesOver(
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 900000 AS doc_id, text FROM documents
      |  WHERE doc_id % 10 = 0""".stripMargin)

  /** The video-sig derivation parameterized over the doc list
    * `dBody` (the [[imageSigCtesOver]] convention) — shared by the
    * near-dup/incremental oracles and the quarantine twin, which
    * differ only in which docs feed the corpus. */
  private def videoSigCtesOver(dBody: String): String =
    s"""d AS ($dBody),
       |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs FROM d),
       |st AS (SELECT doc_id, unnest(bs) AS v,
       |    unnest(range(1, len(bs) + 1)) AS i
       |  FROM b),
       |e AS (SELECT doc_id, (i - 1) // 24 AS frm,
       |    CAST(sum(v) AS BIGINT) AS en
       |  FROM st GROUP BY doc_id, frm),
       |el AS (SELECT doc_id, list(en ORDER BY frm) AS es
       |  FROM e GROUP BY doc_id),
       |sig AS (SELECT d.doc_id, CAST(coalesce(list_sum(list_transform(
       |    range(0, least(coalesce(len(el.es) - 1, 0), 63)),
       |    j -> CASE WHEN el.es[CAST(j + 2 AS INTEGER)] > el.es[CAST(j + 1 AS INTEGER)]
       |         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
       |         ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS s
       |  FROM d LEFT JOIN el ON el.doc_id = d.doc_id)""".stripMargin

  /** Shared CTE chain deriving the image dHash sig table
    * `sig(doc_id, s)` over the synthesized PPM corpus (originals at
    * doc_id*3+2 — the PPM branch of synthesizeMedia — plus
    * +900000 twins for every tenth doc): payload truncated to whole
    * 12-byte rows (zero-padded to one row minimum, the rasterPayload
    * rule), 4-wide RGB raster of h rows, NN-downsample to 9×8 with
    * the engine's exact index formula (sx = (x·4) div 9,
    * sy = (y·h) div 8), integer BT.601 luma
    * ((299r + 587g + 114b) div 1000), sign-of-horizontal-delta fold
    * (bit j = y·8+x set iff gray(y, x+1) > gray(y, x), 63 bits). */
  private def imageSigCtes: String = imageSigCtesOver(
    """SELECT doc_id * 3 + 2 AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id * 3 + 2 + 900000 AS doc_id, text FROM documents
      |  WHERE doc_id % 10 = 0""".stripMargin)

  /** The dHash derivation parameterized over the doc list `dBody`
    * (a SELECT yielding (doc_id, text)) — the image sig CTEs are
    * shared by the near-dup, incremental, streaming, AND quarantine
    * oracles, which differ only in which docs feed the corpus. */
  private def imageSigCtesOver(dBody: String): String =
    s"""d AS ($dBody),
       |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs0 FROM d),
       |p AS (SELECT doc_id,
       |    list_resize(bs0[1:greatest(12, len(bs0) - (len(bs0) % 12))],
       |      greatest(12, len(bs0) - (len(bs0) % 12)), 0) AS bs,
       |    greatest(12, len(bs0) - (len(bs0) % 12)) // 12 AS h
       |  FROM b),
       |gl AS (SELECT doc_id, list_transform(range(0, 72), k ->
       |    (299 * bs[CAST(((((k // 9) * h) // 8) * 4
       |         + ((k % 9) * 4) // 9) * 3 + 1 AS INTEGER)]
       |   + 587 * bs[CAST(((((k // 9) * h) // 8) * 4
       |         + ((k % 9) * 4) // 9) * 3 + 2 AS INTEGER)]
       |   + 114 * bs[CAST(((((k // 9) * h) // 8) * 4
       |         + ((k % 9) * 4) // 9) * 3 + 3 AS INTEGER)]) // 1000) AS g
       |  FROM p),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 63),
       |    j -> CASE WHEN g[CAST((j // 8) * 9 + (j % 8) + 2 AS INTEGER)]
       |            > g[CAST((j // 8) * 9 + (j % 8) + 1 AS INTEGER)]
       |    THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
       |    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
       |  FROM gl)""".stripMargin

  /** pHash derivation over the 4-wide PPM geometry for the doc list
    * `dBody`: payload bytes → 32×32 NN luma → 2-D fixed-point DCT
    * (the cosine literal table is GENERATED from
    * [[operators.Multimodal.PhashCos]] — one source of truth) → the
    * 8×8 low band minus DC, thresholded at its median (sorted index
    * 32, 1-based). Exact integer arithmetic end to end; yields
    * `sig(doc_id, s)` for the shared band-fold/probe tails. */
  private def phashSigCtesOver(dBody: String): String = {
    val ct = graft.operators.Multimodal.PhashCos.mkString("[", ", ", "]")
    s"""d AS ($dBody),
       |b AS (SELECT doc_id, ${duckUtf8BytesOf("text")} AS bs0 FROM d),
       |p AS (SELECT doc_id,
       |    list_resize(bs0[1:greatest(12, len(bs0) - (len(bs0) % 12))],
       |      greatest(12, len(bs0) - (len(bs0) % 12)), 0) AS bs,
       |    greatest(12, len(bs0) - (len(bs0) % 12)) // 12 AS h
       |  FROM b),
       |ct AS (SELECT $ct AS c),
       |gl AS (SELECT doc_id, list_transform(range(0, 1024), k ->
       |    (299 * bs[CAST((((k // 32) * h) // 32 * 4 + (k % 32) // 8) * 3 + 1 AS INTEGER)]
       |   + 587 * bs[CAST((((k // 32) * h) // 32 * 4 + (k % 32) // 8) * 3 + 2 AS INTEGER)]
       |   + 114 * bs[CAST((((k // 32) * h) // 32 * 4 + (k % 32) // 8) * 3 + 3 AS INTEGER)]) // 1000) AS g
       |  FROM p),
       |tm AS (SELECT doc_id, g, c, list_transform(range(0, 256), t ->
       |    list_sum(list_transform(range(0, 32), x ->
       |      g[CAST((t % 32) * 32 + x + 1 AS INTEGER)]
       |        * c[CAST((t // 32) * 32 + x + 1 AS INTEGER)]))) AS tv
       |  FROM gl, ct),
       |fcte AS (SELECT doc_id, c, list_transform(range(0, 64), q ->
       |    list_sum(list_transform(range(0, 32), y ->
       |      tv[CAST((q % 8) * 32 + y + 1 AS INTEGER)]
       |        * c[CAST((q // 8) * 32 + y + 1 AS INTEGER)]))) AS fc
       |  FROM tm),
       |med AS (SELECT doc_id, fc, list_sort(fc[2:64])[32] AS m
       |  FROM fcte),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 64),
       |    j -> CASE WHEN fc[CAST(j + 1 AS INTEGER)] > m
       |      THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INTEGER))
       |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
       |  FROM med)""".stripMargin
  }

  /** Shared DuckDB tail reproducing [[operators.SigIndex.probe]]
    * over a `sig(doc_id, s)` CTE: the stored side is `corpusWhere`
    * (its CURRENT buckets capped at 1000), the delta side is the
    * +900000 twins, candidates join on the 4×16 bands, hamming
    * filters inline. */
  private def sigProbeTail(corpusWhere: String): String =
    s"""corpus AS (SELECT doc_id, s FROM sig WHERE $corpusWhere),
       |delta AS (SELECT doc_id, s FROM sig WHERE doc_id >= 900000),
       |cb AS (SELECT doc_id, s, band, bval FROM (
       |    SELECT c.doc_id, c.s, r.j AS band,
       |        (c.s >> (CAST(r.j AS INTEGER) * 16)) & 65535 AS bval,
       |        count(*) OVER (PARTITION BY r.j,
       |          (c.s >> (CAST(r.j AS INTEGER) * 16)) & 65535) AS bn
       |    FROM corpus c, range(0, 4) r(j)) WHERE bn <= 1000),
       |db AS (SELECT d2.doc_id, d2.s, r.j AS band,
       |    (d2.s >> (CAST(r.j AS INTEGER) * 16)) & 65535 AS bval
       |  FROM delta d2, range(0, 4) r(j)),
       |cand AS (SELECT DISTINCT db.doc_id AS probe_id,
       |    cb.doc_id AS corpus_id, db.s AS ps, cb.s AS cs
       |  FROM db JOIN cb ON db.band = cb.band AND db.bval = cb.bval)
       |SELECT probe_id, corpus_id,
       |  CAST(bit_count(xor(ps, cs)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ps, cs)) <= 3
       |ORDER BY probe_id ASC, corpus_id ASC""".stripMargin

  private def duckUtf8BytesOf(e: String): String =
    s"""flatten(list_transform(
      |    list_transform(range(1, length($e) + 1), i -> unicode($e[i])),
      |    cp -> CASE
      |      WHEN cp < 128 THEN [cp]
      |      WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
      |      WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64]
      |      ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64]
      |    END))""".stripMargin

  private val duckUtf8Bytes: String = duckUtf8BytesOf("text")

  /** FNV-1a 64 fold over a byte-list expression, in HUGEINT mod 2^64
    * (list_reduce uses the first element as the init, so the offset
    * basis is prepended). */
  private def duckFnvFold(lst: String): String =
    s"""(list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform($lst, x -> CAST(x AS HUGEINT))),
       |      (a, b) -> (xor(a, b) * 1099511628211) % 18446744073709551616))""".stripMargin

  /** reinterpret an unsigned-64 HUGEINT value as signed BIGINT (the
    * engine's Long semantics, incl. min-shingle's SIGNED comparison) */
  private def duckSigned(h: String): String =
    s"""CAST(CASE WHEN $h >= 9223372036854775808
       |      THEN $h - 18446744073709551616 ELSE $h END AS BIGINT)""".stripMargin

  /** Dedup.portableWordHash twin: first 15 hex chars of md5 parsed
    * base-16 via a digit fold. */
  private def duckHex15(w: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
       |      i -> CAST(CASE WHEN ascii(md5($w)[i]) >= 97 THEN ascii(md5($w)[i]) - 87
       |           ELSE ascii(md5($w)[i]) - 48 END AS BIGINT))), (a, d) -> a * 16 + d)""".stripMargin

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

  /** pmod(signed FNV hash of `text`, 100) — Spark's pmod on the SIGNED
    * BIGINT, reproduced from the unsigned HUGEINT fold: sign-fold
    * first, then ((x % 100) + 100) % 100 (2^64 % 100 = 16, so an
    * unsigned mod would NOT match). */
  private def duckHashBucket100: String =
    s"((${duckSigned(duckFnvFold("bs"))} % 100) + 100) % 100"

  /** KMV distinct estimate over the signed FNV hash — same float
    * arithmetic as the Spark side (DOUBLE division + round), exact
    * when fewer than k distinct hashes exist. */
  private def kmvDistinctOracle: String =
    s"""WITH b AS (SELECT DISTINCT $duckUtf8Bytes AS bs FROM documents),
       |h AS (SELECT DISTINCT ${duckSigned(duckFnvFold("bs"))} AS h FROM b),
       |t AS (SELECT h FROM h ORDER BY h ASC LIMIT 64)
       |SELECT CASE WHEN count(*) < 64 THEN count(*)
       |  ELSE CAST(round(63.0 /
       |    (CAST(max(h) AS DOUBLE) / 1.8446744073709552e19 + 0.5)) AS BIGINT)
       |  END AS est
       |FROM t""".stripMargin

  private def sampleHashOracle: String =
    s"""WITH b AS (SELECT doc_id, lang, n_chars, $duckUtf8Bytes AS bs
       |           FROM documents)
       |SELECT doc_id, lang, n_chars FROM b
       |WHERE $duckHashBucket100 < 10
       |ORDER BY doc_id ASC""".stripMargin

  private def splitAssignOracle: String =
    s"""WITH b AS (SELECT lang, n_chars, $duckUtf8Bytes AS bs
       |           FROM documents),
       |s AS (SELECT lang, n_chars,
       |  CASE WHEN $duckHashBucket100 < 80 THEN 'train'
       |       WHEN $duckHashBucket100 < 90 THEN 'val'
       |       ELSE 'test' END AS split FROM b)
       |SELECT split, lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM s GROUP BY split, lang
       |ORDER BY split ASC, lang ASC""".stripMargin

  /** Count-min cells and estimates recomputed in DuckDB over the same
    * salted portable hash (`key#r`). */
  private def countMinOracle: String = {
    val salted = "(event_type || '#' || CAST(r AS VARCHAR))"
    val cExpr = s"((${duckSigned(duckFnvFold(duckUtf8BytesOf(salted)))}" +
      " % 64) + 64) % 64"
    s"""WITH ev AS (SELECT event_type FROM events),
       |rows_r AS (SELECT event_type, unnest(range(0, 4)) AS r FROM ev),
       |cells AS (SELECT r, $cExpr AS c, count(*) AS cnt
       |          FROM rows_r GROUP BY r, c),
       |probes AS (SELECT DISTINCT event_type FROM ev),
       |pr AS (SELECT event_type, unnest(range(0, 4)) AS r FROM probes),
       |pc AS (SELECT event_type, r, $cExpr AS c FROM pr),
       |est AS (SELECT event_type,
       |          min(COALESCE(cells.cnt, 0)) AS est
       |        FROM pc LEFT JOIN cells USING (r, c)
       |        GROUP BY event_type),
       |truth AS (SELECT event_type, count(*) AS n_true FROM ev
       |          GROUP BY event_type)
       |SELECT est.event_type, est.est, truth.n_true
       |FROM est JOIN truth USING (event_type)
       |ORDER BY event_type ASC""".stripMargin
  }

  /** Bloom build + probe recomputed in DuckDB over the same salted
    * portable hash (`gram#r`), 32-bit words in BIGINT. */
  private def bloomOracle: String = {
    val salted = "(gram || '#' || CAST(r AS VARCHAR))"
    val pos = s"((${duckSigned(duckFnvFold(duckUtf8BytesOf(salted)))}" +
      " % 4096) + 4096) % 4096"
    s"""WITH toks AS (SELECT source,
       |    string_split_regex(trim(lower(text)), '\\s+') AS s
       |  FROM documents),
       |g AS (SELECT source,
       |    unnest(list_distinct([s[i] || ' ' || s[i+1]
       |      for i in range(1, len(s))])) AS gram
       |  FROM toks),
       |ref AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
       |probes AS (SELECT DISTINCT gram FROM g),
       |bpos AS (SELECT $pos AS pos
       |  FROM (SELECT gram, unnest(range(0, 3)) AS r FROM ref)),
       |words AS (SELECT pos // 32 AS w,
       |    bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
       |  FROM bpos GROUP BY 1),
       |ppos AS (SELECT gram, pos // 32 AS w,
       |    CAST(1 AS BIGINT) << (pos % 32) AS m
       |  FROM (SELECT gram, $pos AS pos
       |    FROM (SELECT gram, unnest(range(0, 3)) AS r FROM probes))),
       |hits AS (SELECT gram,
       |    min(CASE WHEN (COALESCE(bits, 0) & m) = m THEN 1 ELSE 0 END)
       |      AS hit
       |  FROM ppos LEFT JOIN words USING (w) GROUP BY gram)
       |SELECT hits.gram, CAST(hit AS BIGINT) AS hit,
       |  CAST(CASE WHEN ref.gram IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS in_ref
       |FROM hits LEFT JOIN ref ON hits.gram = ref.gram
       |ORDER BY hits.gram ASC""".stripMargin
  }

  /** The DSIR oracle chain: tokenization mirrors
    * [[operators.TextAnalysis.wordModel]] (trim → lower → whitespace
    * split, empty tokens dropped); `dtc`/`drc` are the target/raw
    * word counts, `dtt`/`drt` the add-one smoothing denominators
    * (nWords + vocab + 1), and `dr` replays the likelihood ratio in
    * the engine's EXACT double operation order — IEEE multiply and
    * divide are correctly rounded in both engines, so the floored
    * milli value is bit-equal; `dimp`'s final mean is `//`, DuckDB's
    * truncating integer division mirroring Spark's 64-bit `div`. */
  private def dsirCtes: String =
    """dtk AS (SELECT doc_id, source,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |dtw AS (SELECT * FROM dtk WHERE w <> ''),
      |dtc AS (SELECT w, count(*) AS tn FROM dtw
      |  WHERE source = 'src0' GROUP BY w),
      |dtt AS (SELECT count(*) + count(DISTINCT w) + 1 AS den
      |  FROM dtw WHERE source = 'src0'),
      |drc AS (SELECT w, count(*) AS rn FROM dtw GROUP BY w),
      |drt AS (SELECT count(*) + count(DISTINCT w) + 1 AS den
      |  FROM dtw),
      |dr AS (SELECT doc_id,
      |    CAST(floor((1000.0 * (coalesce(tn, 0) + 1)
      |        / (SELECT den FROM dtt))
      |      * ((SELECT den FROM drt)
      |        / (coalesce(rn, 0) + 1.0))) AS BIGINT) AS r
      |  FROM dtw LEFT JOIN dtc USING (w) LEFT JOIN drc USING (w)),
      |dimp AS (SELECT doc_id, count(*) AS n_words,
      |    CAST(sum(r) // count(*) AS BIGINT) AS imp_milli
      |  FROM dr GROUP BY doc_id)""".stripMargin

  /** The hashed-n-gram DSIR chain: tokenization as [[dsirCtes]] but
    * empty tokens are filtered BEFORE gram formation (mirroring
    * [[graft.functions.NgramBuckets]]); consecutive-token n-grams
    * join with one space and bucket `hex15(gram) % 4096` (the
    * portable md5 word hash — non-negative 60-bit, plain % is safe);
    * from there the ratio chain is [[dsirCtes]]' verbatim with the
    * bucket as the unit. The list comprehension generalizes over `n`:
    * `range(1, len(s) - (n-2))` is empty for docs under n tokens —
    * the kernel's empty-array stance at any n. */
  private def dsirNgramCtes: String = dsirNgramCtesN(2)

  private def dsirNgramCtesN(n: Int): String = {
    val gram = (0 until n).map(k =>
      if (k == 0) "s[i]" else s"s[i+$k]").mkString(" || ' ' || ")
    s"""ntk AS (SELECT doc_id, source,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      t -> t <> '') AS s
       |  FROM documents),
       |ngr AS (SELECT doc_id, source,
       |    unnest([$gram for i in range(1, len(s) - ${n - 2})])
       |      AS gram
       |  FROM ntk),
       |ngb AS (SELECT doc_id, source,
       |    ${duckHex15("gram")} % 4096 AS b
       |  FROM ngr),
       |ntc AS (SELECT b, count(*) AS tn FROM ngb
       |  WHERE source = 'src0' GROUP BY b),
       |ntt AS (SELECT count(*) + count(DISTINCT b) + 1 AS den
       |  FROM ngb WHERE source = 'src0'),
       |nrc AS (SELECT b, count(*) AS rcnt FROM ngb GROUP BY b),
       |nrt AS (SELECT count(*) + count(DISTINCT b) + 1 AS den
       |  FROM ngb),
       |nr AS (SELECT doc_id,
       |    CAST(floor((1000.0 * (coalesce(tn, 0) + 1)
       |        / (SELECT den FROM ntt))
       |      * ((SELECT den FROM nrt)
       |        / (coalesce(rcnt, 0) + 1.0))) AS BIGINT) AS r
       |  FROM ngb LEFT JOIN ntc USING (b) LEFT JOIN nrc USING (b)),
       |nimp AS (SELECT doc_id, count(*) AS n_words,
       |    CAST(sum(r) // count(*) AS BIGINT) AS imp_milli
       |  FROM nr GROUP BY doc_id)""".stripMargin
  }

  private def weightedSampleOracle: String =
    s"""WITH b AS (SELECT lang, n_chars, $duckUtf8Bytes AS bs
       |           FROM documents)
       |SELECT lang, count(*) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM b
       |WHERE CAST(${duckSigned(duckFnvFold("bs"))} AS DOUBLE)
       |    / 1.8446744073709552e19 + 0.5
       |  < least(1.0, CAST(n_chars AS DOUBLE) / 500.0)
       |GROUP BY lang
       |ORDER BY lang ASC""".stripMargin

  private def stratifiedSampleOracle: String =
    s"""WITH b AS (SELECT doc_id, lang, n_chars, $duckUtf8Bytes AS bs
       |           FROM documents),
       |r AS (SELECT doc_id, lang, n_chars,
       |  row_number() OVER (PARTITION BY lang
       |    ORDER BY ${duckSigned(duckFnvFold("bs"))} ASC, doc_id ASC) AS rn
       |  FROM b)
       |SELECT lang, doc_id, n_chars FROM r WHERE rn <= 3
       |ORDER BY lang ASC, doc_id ASC""".stripMargin

  /** Mixture quotas recomputed with the SAME double math as the
    * Scala driver (CAST AS DOUBLE — DuckDB would otherwise parse the
    * weight literals as DECIMAL and round differently):
    * N* = min ⌊n_s/w_s⌋, quota_s = ⌊w_s·N*⌋, then the per-source
    * smallest-(fingerprint, doc_id) rows. */
  private def mixtureSampleOracle: String =
    s"""WITH w AS (SELECT * FROM (VALUES
       |    ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.25 AS DOUBLE)),
       |    ('src2', CAST(0.15 AS DOUBLE)), ('src3', CAST(0.10 AS DOUBLE)))
       |  AS t(s, wt)),
       |c AS (SELECT source, count(*) AS n FROM documents
       |      WHERE source IN (SELECT s FROM w) GROUP BY source),
       |q AS (SELECT w.s, CAST(floor(w.wt *
       |    (SELECT min(floor(c2.n / w2.wt))
       |     FROM c c2 JOIN w w2 ON c2.source = w2.s)) AS BIGINT) AS quota
       |  FROM w),
       |b AS (SELECT doc_id, source, $duckUtf8Bytes AS bs FROM documents
       |      WHERE source IN (SELECT s FROM w)),
       |r AS (SELECT doc_id, source,
       |  row_number() OVER (PARTITION BY source
       |    ORDER BY ${duckSigned(duckFnvFold("bs"))} ASC, doc_id ASC) AS rn
       |  FROM b)
       |SELECT r.doc_id, r.source FROM r JOIN q ON r.source = q.s
       |WHERE r.rn <= q.quota
       |ORDER BY r.doc_id ASC""".stripMargin

  /** q_budget_sample's budgets — ONE constant feeding both the engine
    * call and the oracle's IN list + CASE, so they cannot drift. */
  private val budgetSampleBudgets: Map[String, Long] =
    scala.collection.immutable.ListMap(
      "src0" -> 3000L, "src1" -> 1500L, "src2" -> 700L,
      "src3" -> 60000L)

  /** budgetSample mirror: ONE rule — a row keeps iff the running
    * weight sum strictly before it (fingerprint, tiebreak order,
    * within its source) is under the source's budget; the engine's
    * full-stratum / below-threshold / boundary-window paths are all
    * refinements of this rule. */
  private def budgetSampleOracle: String = {
    val srcs = budgetSampleBudgets.keys.map(s => s"'$s'").mkString(", ")
    val cases = budgetSampleBudgets.map { case (s, b) =>
      s"WHEN '$s' THEN $b" }.mkString(" ")
    s"""WITH b AS (SELECT doc_id, source, n_chars, $duckUtf8Bytes AS bs
       |  FROM documents WHERE source IN ($srcs)),
       |r AS (SELECT doc_id, source, n_chars,
       |  coalesce(sum(n_chars) OVER (PARTITION BY source
       |    ORDER BY ${duckSigned(duckFnvFold("bs"))} ASC, doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS before
       |  FROM b)
       |SELECT doc_id, source, n_chars FROM r
       |WHERE before < CASE source $cases END
       |ORDER BY doc_id ASC""".stripMargin
  }

  /** temperatureSample(α=0.5) mirror: sqrt is correctly-rounded IEEE
    * in both engines, and the weight normalization folds the sorted
    * source list from 0.0 exactly like the Scala side's ListMap sum —
    * from there the quota math is [[mixtureSampleOracle]]'s. */
  private def temperatureSampleOracle: String =
    s"""WITH d0 AS (SELECT * FROM documents
       |      WHERE source = 'src0' OR doc_id % 3 <> 0),
       |c AS (SELECT source, count(*) AS n FROM d0
       |      GROUP BY source),
       |tot AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)),
       |    (a, v) -> a + v) AS t FROM c),
       |w AS (SELECT source AS s,
       |    sqrt(CAST(n AS DOUBLE)) / (SELECT t FROM tot) AS wt FROM c),
       |q AS (SELECT w.s, CAST(floor(w.wt *
       |    (SELECT min(floor(c2.n / w2.wt))
       |     FROM c c2 JOIN w w2 ON c2.source = w2.s)) AS BIGINT) AS quota
       |  FROM w),
       |b AS (SELECT doc_id, source, $duckUtf8Bytes AS bs FROM d0),
       |r AS (SELECT doc_id, source,
       |  row_number() OVER (PARTITION BY source
       |    ORDER BY ${duckSigned(duckFnvFold("bs"))} ASC, doc_id ASC) AS rn
       |  FROM b)
       |SELECT r.doc_id, r.source FROM r JOIN q ON r.source = q.s
       |WHERE r.rn <= q.quota
       |ORDER BY r.doc_id ASC""".stripMargin

  private def textFingerprintOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents)
       |SELECT doc_id, ${duckSigned(duckFnvFold("bs"))} AS fp,
       |  CASE WHEN len(bs) < 8 THEN ${duckSigned(duckFnvFold("bs"))}
       |       ELSE list_min(list_transform(range(1, len(bs) - 6),
       |         s -> ${duckSigned(duckFnvFold("bs[s:s+7]"))})) END AS shingle_min
       |FROM b ORDER BY doc_id ASC""".stripMargin

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

  /** Full MinHash-LSH dedup reproduced in DuckDB: FNV-1a word hashes
    * (mod-2^64 via HUGEINT with 32-bit-split modular multiplication —
    * a_u·h overflows int128 otherwise), the engine's EXACT affine
    * coefficients embedded as literals, signed-compare lane minima,
    * slice banding, bucket cap, candidate join, and exact-jaccard
    * verify. Matching this end-to-end is only possible because the
    * Spark side bands on the raw signature slice (array equality), not
    * an engine-specific hash of it. */
  /** Shared CTE prologue: per-doc word sets `w`, portable 64-hash
    * minhash signatures, and the (doc_id, band, bsig) band table `bb`
    * — the exact pipeline of [[operators.Dedup.bandedRelation]]. */
  private def minHashSigCtes: String = minHashSigCtesOver("documents")

  /** [[minHashSigCtes]] with the hashed table parameterized (any
    * earlier CTE with (doc_id, text) rows) — the composed-pipeline
    * oracles hash a quality-gated subset, not the whole corpus. */
  private def minHashSigCtesOver(docsTable: String): String = {
    val M = "18446744073709551616"
    val mask = (BigInt(1) << 64) - 1
    val params = graft.functions.MinHashSig.coefficients(64)
      .map { case (a, b) =>
        val au = BigInt(a) & mask
        val bu = BigInt(b) & mask
        s"[${au >> 32}, ${au & 0xFFFFFFFFL}, $bu]"
      }.mkString("[", ",\n    ", "]")
    val g = s"((((p[1] * x) % $M) * 4294967296) % $M" +
      s" + (p[2] * x) % $M + p[3]) % $M"
    s"""w AS (SELECT doc_id,
       |  list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS ws
       |  FROM $docsTable),
       |h AS (SELECT doc_id, list_transform(ws,
       |    wd -> ${duckFnvFold(duckUtf8BytesOf("wd"))}) AS hs FROM w),
       |s AS (SELECT doc_id, list_transform(
       |    $params,
       |    p -> list_min(list_transform(hs, x -> ${duckSigned(g)}))) AS sig
       |  FROM h)""".stripMargin
  }

  private def minHashBandCtes: String =
    s"""$minHashSigCtes,
       |bb AS (SELECT doc_id, band, sig[band*4+1 : band*4+4] AS bsig
       |  FROM (SELECT doc_id, sig, unnest(range(0, 16)) AS band FROM s))""".stripMargin

  private def minHashLshOracle: String =
    s"""WITH $minHashBandCtes,
       |capped AS (SELECT doc_id, band, bsig FROM bb
       |  QUALIFY count(*) OVER (PARTITION BY band, bsig) <= 1000),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |v AS (SELECT cand.a, cand.b,
       |    CAST(round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE) * 1000.0
       |      / len(list_distinct(wa.ws || wb.ws))) AS BIGINT) AS jaccard_milli
       |  FROM cand JOIN w wa ON wa.doc_id = cand.a
       |            JOIN w wb ON wb.doc_id = cand.b)
       |SELECT a, b, jaccard_milli FROM v
       |WHERE jaccard_milli >= 900
       |ORDER BY a ASC, b ASC""".stripMargin

  /** Shared ExactSubstr CTE prefix (sliding 4-grams `t`..`g2`, the
    * keep-first `rn > 1` verdict `d` over duplicated-start set `du`,
    * and the islands fold to maximal spans `i`) — ONE copy for every
    * oracle that re-derives spans (DataFrame spans, TVF, incremental,
    * streaming survivor set, strip), so a span-semantics fix cannot
    * leave a stale twin. `du` is the hook the incremental oracle
    * overrides. */
  private def substringSpanCtes(duCte: String): String =
    s"""t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(range(0, len(w) - 3)) AS idx, w
       |  FROM t WHERE len(w) >= 4),
       |g2 AS (SELECT doc_id, idx,
       |  array_to_string(w[CAST(idx + 1 AS INT):CAST(idx + 4 AS INT)], ' ')
       |    AS gram FROM g),
       |$duCte,
       |m AS (SELECT doc_id, idx, CASE WHEN idx <= coalesce(
       |  max(idx + 4) OVER (PARTITION BY doc_id ORDER BY idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |  THEN 0 ELSE 1 END AS brk FROM d),
       |i AS (SELECT doc_id, idx,
       |  sum(brk) OVER (PARTITION BY doc_id ORDER BY idx) AS grp FROM m)""".stripMargin

  /** The whole-corpus keep-first duplicated-start set. */
  private def substringKeepFirstDu: String =
    """r AS (SELECT doc_id, idx, row_number() OVER (PARTITION BY gram
      |  ORDER BY doc_id, idx) AS rn FROM g2),
      |d AS (SELECT doc_id, idx FROM r WHERE rn > 1)""".stripMargin

  /** ExactSubstr spans oracle (shared by the DataFrame query and the
    * vfs_dup_spans TVF). */
  private def substringSpansOracle: String =
    s"""WITH ${substringSpanCtes(substringKeepFirstDu)}
       |SELECT doc_id, CAST(min(idx) AS BIGINT) AS span_start,
       |  CAST(max(idx) + 4 AS BIGINT) AS span_end,
       |  CAST(max(idx) + 4 - min(idx) AS BIGINT) AS span_tokens
       |FROM i GROUP BY doc_id, grp
       |ORDER BY doc_id ASC, span_start ASC""".stripMargin

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
  /** The synthetic multi-line pages with REAL cross-doc boilerplate
    * (global nav, per-source footer, every-3rd-doc subscribe prompt,
    * two unique content lines, a blank line, a unique doc footer) —
    * ONE construction shared by every boilerplate row; the oracle
    * builds the identical page in its `p` CTE. */
  private[graft] def boilerplatePages(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), concat(
        lit("Home | About | Contact\n(c) "), col("source"),
        lit(" network syndication.\n"),
        substring(col("text"), 1, 50), lit("\n"),
        when(col("doc_id") % 3 === 0,
          lit("Subscribe to our newsletter today.")).otherwise(lit("")),
        lit("\n"), substring(col("text"), 51, 45),
        lit("\nDoc "), col("doc_id").cast("string"),
        lit(" exclusive content line.")).as("text"))

  /** Deterministic per-doc URL fixture for the web-curation rows —
    * doc_id % 6 picks a construction exercising every
    * [[operators.WebCuration.normalizeUrl]] rule (case, `www.`,
    * default ports, tracking params, param sorting, fragments,
    * trailing slashes, bare hosts) across ~3 registered domains per
    * source (`srcK.com` collapses four host variants, `srcK.co.uk`
    * exercises the two-level suffix); the oracle's `wurl` CTE builds
    * the identical string. */
  private def webUrls(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m = pmod(col("doc_id"), lit(6))
    val url = when(m === 0,
        concat(lit("HTTP://WWW."), upper(col("source")),
          lit(".COM:80/Articles/"), id,
          lit("?utm_source=feed&ref=rss&id="), id, lit("#sec-2")))
      .when(m === 1,
        concat(lit("https://news."), col("source"),
          lit(".co.uk:443/posts/"), id, lit("/")))
      .when(m === 2,
        concat(lit("https://"), col("source"),
          lit(".org/a/b/?fbclid=x"), id))
      .when(m === 3,
        concat(lit("http://"), col("source"), lit(".com/landing")))
      .when(m === 4,
        concat(lit("https://blog."), col("source"),
          lit(".com/post?b=2&a=1&utm_medium=email")))
      .otherwise(concat(lit("https://"), col("source"), lit(".com")))
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"), url.as("url"))
  }

  /** URL fixture for the PSL rows — hosting-platform hosts whose
    * suffixes the frozen head is missing (`userN.github.io`,
    * `blogN.blogspot.com`, `appN.netlify.app` — each N a distinct
    * publisher the PSL form must keep apart) plus two head-covered
    * constructions (`news.srcK.co.uk`, `www.srcK.com`) where the two
    * derivations must agree. The oracle's `pu` CTE builds the
    * identical string. */
  private def webPslUrls(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m = pmod(col("doc_id"), lit(5))
    val url = when(m === 0,
        concat(lit("https://user"), pmod(col("doc_id"), lit(97)),
          lit(".github.io/post/"), id))
      .when(m === 1,
        concat(lit("https://blog"), pmod(col("doc_id"), lit(89)),
          lit(".blogspot.com/"), id))
      .when(m === 2,
        concat(lit("https://news."), col("source"),
          lit(".co.uk/a/"), id))
      .when(m === 3,
        concat(lit("https://www."), col("source"), lit(".com/p/"), id))
      .otherwise(concat(lit("https://app"), pmod(col("doc_id"), lit(7)),
        lit(".netlify.app/x/"), id))
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"), url.as("url"))
  }

  /** URL fixture for the WILDCARD + EXCEPTION snapshot
    * ([[operators.WebCuration.PslWildSnapshot]]): five branches, each
    * decided by a different rule kind — `*.ck` wildcard (3-label
    * registration), a host UNDER the `!portal.ck` exception, the
    * exception host itself, a plain `com` entry, and an unlisted TLD
    * (two-label fallback). */
  private def webPslWildUrls(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m = pmod(col("doc_id"), lit(5))
    val url = when(m === 0,
        concat(lit("https://shop"), pmod(col("doc_id"), lit(13)),
          lit(".biz"), pmod(col("doc_id"), lit(5)), lit(".ck/p/"), id))
      .when(m === 1,
        concat(lit("https://user"), pmod(col("doc_id"), lit(7)),
          lit(".portal.ck/x/"), id))
      .when(m === 2, concat(lit("https://portal.ck/"), id))
      .when(m === 3,
        concat(lit("https://blog"), pmod(col("doc_id"), lit(11)),
          lit(".example"), pmod(col("doc_id"), lit(3)),
          lit(".com/"), id))
      .otherwise(concat(lit("https://a.b"), pmod(col("doc_id"), lit(3)),
        lit(".zz/"), id))
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"), url.as("url"))
  }

  /** HAND-derived oracle chain for the wildcard/exception fixture —
    * hard-coded CASE rather than [[operators.WebCuration
    * .pslDomainRegexes]] (which loudly refuses `*.`/`!` entries
    * because a regex alternation cannot express them): the exception
    * decides FIRST (a host equal to or under `portal.ck` registers AT
    * it), then the wildcard's one-label-plus-`<label>.ck` capture,
    * then the plain-`com` capture, then the two-label fallback. The
    * branch order IS the longest-match semantics for this fixture
    * (every `.ck` host has ≤ 3 labels). */
  private def webPslWildCtes: String =
    s"""pu AS (SELECT doc_id, n_chars,
       |    CASE doc_id % 5
       |      WHEN 0 THEN 'https://shop' || (doc_id % 13) || '.biz' || (doc_id % 5) || '.ck/p/' || doc_id
       |      WHEN 1 THEN 'https://user' || (doc_id % 7) || '.portal.ck/x/' || doc_id
       |      WHEN 2 THEN 'https://portal.ck/' || doc_id
       |      WHEN 3 THEN 'https://blog' || (doc_id % 11) || '.example' || (doc_id % 3) || '.com/' || doc_id
       |      ELSE 'https://a.b' || (doc_id % 3) || '.zz/' || doc_id END AS url
       |  FROM documents),
       |ph AS (SELECT doc_id, n_chars,
       |    regexp_replace(regexp_extract(url,
       |      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2),
       |      '^www\\.', '') AS host
       |  FROM pu),
       |pd AS (SELECT doc_id, n_chars,
       |    CASE
       |      WHEN host = 'portal.ck' OR host LIKE '%.portal.ck'
       |        THEN 'portal.ck'
       |      WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.ck)$$', 1) <> ''
       |        THEN regexp_extract(host, '([^.]+\\.[^.]+\\.ck)$$', 1)
       |      WHEN regexp_extract(host, '([^.]+\\.com)$$', 1) <> ''
       |        THEN regexp_extract(host, '([^.]+\\.com)$$', 1)
       |      ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END
       |    AS domain
       |  FROM ph)""".stripMargin

  /** The PSL-cap oracle chain: `pu` rebuilds the fixture, `ph`
    * derives the host exactly as `urlHost` (https only — no ports or
    * userinfo in this fixture; one leading `www.` stripped), and
    * `pd` mirrors the longest-match-wins suffix walk with the
    * [[operators.WebCuration.pslDomainRegexes]] groups (longest
    * label-count group first, two-label fallback) — regexes
    * interpolated from the SAME snapshot constant the engine query
    * passes, so the derivations cannot drift. */
  private def webPslCtes: String = {
    val groups = graft.operators.WebCuration.pslDomainRegexes(
      graft.operators.WebCuration.PslSampleSnapshot)
    val cases = groups.map(re =>
      s"WHEN regexp_extract(host, '$re', 1) <> '' " +
        s"THEN regexp_extract(host, '$re', 1)").mkString("\n|      ")
    s"""pu AS (SELECT doc_id, n_chars,
       |    CASE doc_id % 5
       |      WHEN 0 THEN 'https://user' || (doc_id % 97) || '.github.io/post/' || doc_id
       |      WHEN 1 THEN 'https://blog' || (doc_id % 89) || '.blogspot.com/' || doc_id
       |      WHEN 2 THEN 'https://news.' || source || '.co.uk/a/' || doc_id
       |      WHEN 3 THEN 'https://www.' || source || '.com/p/' || doc_id
       |      ELSE 'https://app' || (doc_id % 7) || '.netlify.app/x/' || doc_id END AS url
       |  FROM documents),
       |ph AS (SELECT doc_id, n_chars,
       |    regexp_replace(regexp_extract(url,
       |      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2),
       |      '^www\\.', '') AS host
       |  FROM pu),
       |pd AS (SELECT doc_id, n_chars,
       |    CASE $cases
       |      WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) <> ''
       |        THEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
       |      ELSE host END AS domain
       |  FROM ph)""".stripMargin
  }

  /** The web-curation oracle chain: `wurl` builds the identical URL
    * fixture, then `wn` mirrors
    * [[operators.WebCuration.normalizeUrl]] / `urlHost` /
    * `registeredDomain` with the SAME regexes — the tracking-param
    * pattern interpolated from
    * [[operators.WebCuration.TrackingParamRe]] and the two-level
    * suffix list from [[operators.WebCuration.TwoLevelSuffixes]], so
    * the two derivations cannot drift. */
  private def webUrlCtes: String = {
    val re = graft.operators.WebCuration.TrackingParamRe
    val (re3, re2) = graft.operators.WebCuration.domainRegexes
    s"""wurl AS (SELECT doc_id, n_chars,
       |    CASE doc_id % 6
       |      WHEN 0 THEN 'HTTP://WWW.' || upper(source) || '.COM:80/Articles/' || doc_id || '?utm_source=feed&ref=rss&id=' || doc_id || '#sec-2'
       |      WHEN 1 THEN 'https://news.' || source || '.co.uk:443/posts/' || doc_id || '/'
       |      WHEN 2 THEN 'https://' || source || '.org/a/b/?fbclid=x' || doc_id
       |      WHEN 3 THEN 'http://' || source || '.com/landing'
       |      WHEN 4 THEN 'https://blog.' || source || '.com/post?b=2&a=1&utm_medium=email'
       |      ELSE 'https://' || source || '.com' END AS url
       |  FROM documents),
       |w1 AS (SELECT doc_id, n_chars, url,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    lower(regexp_replace(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2), '^[^@]*@', '')) AS hp,
       |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^#]*)', 2) AS pathq
       |  FROM wurl),
       |w2 AS (SELECT *, regexp_replace(
       |    CASE WHEN scheme = 'http' THEN regexp_replace(hp, ':80$$', '')
       |         WHEN scheme = 'https' THEN regexp_replace(hp, ':443$$', '')
       |         ELSE hp END, '^www\\.', '') AS host0 FROM w1),
       |w3 AS (SELECT doc_id, n_chars, url, scheme,
       |    CASE WHEN scheme <> '' AND host0 <> '' THEN host0 END AS host,
       |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$$', '') AS path,
       |    regexp_extract(pathq, '\\?(.*)$$', 1) AS rawq
       |  FROM w2),
       |w4 AS (SELECT *, array_to_string(list_sort(list_filter(string_split(rawq, '&'),
       |      p -> p <> '' AND NOT regexp_matches(p, '$re'))), '&') AS q FROM w3),
       |wn AS (SELECT doc_id, n_chars, url,
       |    CASE WHEN host IS NOT NULL THEN scheme || '://' || host || path ||
       |      CASE WHEN q <> '' THEN '?' || q ELSE '' END END AS norm_url,
       |    host,
       |    CASE WHEN host IS NULL THEN NULL
       |         WHEN regexp_extract(host, '$re3', 1) <> ''
       |           THEN regexp_extract(host, '$re3', 1)
       |         WHEN regexp_extract(host, '$re2', 1) <> ''
       |           THEN regexp_extract(host, '$re2', 1)
       |         ELSE host END AS domain
       |  FROM w4)""".stripMargin
  }

  /** The boilerplate CTE chain over the built pages: the bdf table
    * (count DISTINCT docs per trimmed non-blank line) folds to ONE
    * boilerplate list and each page is list_filtered against it in
    * document order. CTE names are `b`-prefixed so the chain composes
    * with the curate chain (whose langid stage also defines `df`). */
  private def boilerplateCtes: String =
    """bpg AS (SELECT doc_id,
      |    'Home | About | Contact' || chr(10) ||
      |    '(c) ' || source || ' network syndication.' || chr(10) ||
      |    substr(text, 1, 50) || chr(10) ||
      |    CASE WHEN doc_id % 3 = 0
      |         THEN 'Subscribe to our newsletter today.'
      |         ELSE '' END || chr(10) ||
      |    substr(text, 51, 45) || chr(10) ||
      |    'Doc ' || doc_id || ' exclusive content line.' AS text
      |  FROM documents),
      |bocc AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
      |  FROM bpg),
      |bdf AS (SELECT trim(l) AS ln, count(DISTINCT doc_id) AS df
      |  FROM bocc WHERE len(trim(l)) > 0 GROUP BY 1),
      |bbl AS (SELECT coalesce(list(ln), []) AS bl
      |  FROM bdf WHERE df >= 5),
      |bout AS (SELECT doc_id,
      |    list_filter(string_split(text, chr(10)), l ->
      |      len(trim(l)) > 0 AND NOT list_contains(bbl.bl, trim(l)))
      |      AS kept,
      |    list_filter(string_split(text, chr(10)), l ->
      |      len(trim(l)) > 0 AND list_contains(bbl.bl, trim(l)))
      |      AS dropped
      |  FROM bpg CROSS JOIN bbl)""".stripMargin

  /** [[boilerplateCtes]] + the per-doc projection — shared verbatim
    * by the operator row, its TVF twin, the standing-artifact row,
    * and the streaming row. */
  private def boilerplateOracle: String =
    s"""WITH $boilerplateCtes
      |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
      |  CAST(len(dropped) AS BIGINT) AS n_dropped,
      |  array_to_string(kept, chr(10)) AS clean_text
      |FROM bout ORDER BY doc_id ASC""".stripMargin

  /** The synthetic-page Gopher+C4 gate, re-derived in DuckDB —
    * shared verbatim by the streaming gate row and its TVF twin
    * (same corpus construction, same cascades, same policy). */
  private def qualityFilterOracle: String =
"""WITH i AS (SELECT doc_id,
        |    'The quick section about ' || substr(text, 1, 40) ||
        |    ' ends well here.' || chr(10) || 'Too short.' || chr(10) ||
        |    'Please enable JavaScript to continue reading now.' ||
        |    chr(10) || substr(text, 41, 80) || chr(10) ||
        |    'This sentence is long enough to satisfy the filter.' ||
        |    chr(10) ||
        |    'We keep that pace and write of many decent things here to finish.' ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum {'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'wait for it...' ||
        |      chr(10) || 'and more to come...' || chr(10) ||
        |      'still going on...' ELSE '' END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    list_filter(string_split(text, chr(10)),
        |      l -> len(trim(l)) > 0) AS lines
        |  FROM i),
        |s AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
        |      + CAST((len(text) - len(replace(text, '...', ''))) // 3
        |          AS BIGINT) AS symbols,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> ends_with(trim(l), '...')))
        |      AS BIGINT) AS ell,
        |    CAST(len(list_filter(lines,
        |      l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS bul,
        |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS BIGINT) AS alpha,
        |    CAST(len(list_filter(
        |      ['the','be','to','of','and','that','have','with'],
        |      g -> list_contains(list_transform(toks, w -> lower(w)), g)))
        |      AS BIGINT) AS stop_hits
        |  FROM t),
        |gp AS (SELECT doc_id, n_words, stop_hits,
        |    CAST(CASE WHEN n_words BETWEEN 50 AND 100000
        |      AND (CASE WHEN n_words > 0
        |        THEN floor(1000.0 * sum_len / n_words) ELSE 0 END)
        |        BETWEEN 3000 AND 10000
        |      AND (CASE WHEN n_words > 0
        |        THEN floor(1000.0 * symbols / n_words) ELSE 0 END) <= 100
        |      AND (CASE WHEN n_lines > 0
        |        THEN floor(1000.0 * ell / n_lines) ELSE 0 END) <= 300
        |      AND (CASE WHEN n_lines > 0
        |        THEN floor(1000.0 * bul / n_lines) ELSE 0 END) <= 900
        |      AND (CASE WHEN n_words > 0
        |        THEN floor(1000.0 * alpha / n_words) ELSE 0 END) >= 800
        |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT)
        |      AS gopher_pass
        |  FROM s),
        |c AS (SELECT doc_id,
        |    CAST(CASE WHEN contains(text, '{')
        |      OR contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END
        |      AS BIGINT) AS page_drop,
        |    list_filter(lines, l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(string_split_regex(trim(l), '\s+')) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')) AS kept
        |  FROM t)
        |SELECT gp.doc_id, array_to_string(c.kept, chr(10)) AS text,
        |  gp.n_words, gp.stop_hits, CAST(len(c.kept) AS BIGINT) AS n_kept
        |FROM gp JOIN c ON c.doc_id = gp.doc_id
        |WHERE gp.gopher_pass = 1 AND c.page_drop = 0 AND len(c.kept) >= 1
        |ORDER BY gp.doc_id ASC""".stripMargin

  /** Shared CTE chain deriving the per-doc trigram langid argmin
    * struct (`best`) from the seed fixture — generated off the SAME
    * Scala constant the engine trains on, so the derivations cannot
    * drift. Terminal consumers LEFT JOIN `best` to documents (the
    * all-OOV "und"/500 fallback lives in the consumer's coalesce). */
  private def langIdCtes: String = langIdCtesOver("documents")

  /** [[langIdCtes]] with the SCORED table parameterized (any earlier
    * CTE with (doc_id, text) rows) — the composed-pipeline oracles
    * score a filtered survivor set, not the whole corpus. */
  private def langIdCtesOver(docsTable: String): String = {
    val values = operators.TextAnalysis.LangIdSeedCorpus
      .map { case (l, t) => s"('$l', '${t.replace("'", "''")}')" }
      .mkString(",\n    ")
    s"""fx(lang, txt) AS (VALUES
       |    $values),
       |ft AS (SELECT lang, list_distinct(list_transform(
       |    range(1, greatest(length(lower(txt)) - 2, 0) + 1),
       |    i -> substr(lower(txt), CAST(i AS INTEGER), 3))) AS gs
       |  FROM fx),
       |g AS (SELECT lang, unnest(gs) AS gram FROM ft),
       |df AS (SELECT gram, lang, CAST(count(*) AS BIGINT) AS df
       |  FROM g GROUP BY 1, 2),
       |tot AS (SELECT gram, CAST(sum(df) AS BIGINT) AS df_total
       |  FROM df GROUP BY 1
       |  ORDER BY df_total DESC, gram ASC LIMIT 4096),
       |langs AS (SELECT DISTINCT lang FROM fx),
       |nl AS (SELECT count(*) AS l FROM langs),
       |dense AS (SELECT t.gram, l.lang,
       |    (1000 * (coalesce(d.df, 0) + 1)) // (t.df_total + nl.l) AS w
       |  FROM tot t CROSS JOIN langs l CROSS JOIN nl
       |  LEFT JOIN df d ON d.gram = t.gram AND d.lang = l.lang),
       |dg AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(length(lower(text)) - 2, 0) + 1),
       |    i -> substr(lower(text), CAST(i AS INTEGER), 3)))) AS gram
       |  FROM $docsTable),
       |ev AS (SELECT dg.doc_id, dense.lang,
       |    CAST(count(*) AS BIGINT) AS matched,
       |    CAST(sum(dense.w) AS BIGINT) // CAST(count(*) AS BIGINT)
       |      AS score_milli
       |  FROM dg JOIN dense ON dg.gram = dense.gram
       |  GROUP BY 1, 2),
       |best AS (SELECT doc_id,
       |    min(struct_pack(neg := -score_milli, lang := lang,
       |      matched := matched, score := score_milli)) AS b
       |  FROM ev GROUP BY 1)""".stripMargin
  }

  /** Char-trigram language ID, re-derived end-to-end in DuckDB: the
    * SAME fixture (generated VALUES), the same distinct-trigram
    * extraction, add-one integer-milli weights, dense gram × lang
    * model, per-doc mean evidence, min-struct argmax, "und"/500
    * all-OOV fallback. */
  private def langIdNgramOracle: String =
    s"""WITH $langIdCtes
       |SELECT d.doc_id,
       |  coalesce(struct_extract(b.b, 'lang'), 'und') AS lang_pred,
       |  CAST(coalesce(struct_extract(b.b, 'matched'), 0) AS BIGINT)
       |    AS matched,
       |  CAST(coalesce(struct_extract(b.b, 'score'), 500) AS BIGINT)
       |    AS score_milli
       |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
       |ORDER BY d.doc_id ASC""".stripMargin

  /** Tokenizer fertility by predicted language: the langid CTE chain
    * composed with the text_tokens count derivations, grouped by
    * language — exact floor-division milli. */
  private def fertilityByLangOracle: String =
    s"""WITH $langIdCtes,
       |pred AS (SELECT
       |    coalesce(struct_extract(b.b, 'lang'), 'und') AS lang_pred,
       |    CAST(len(string_split_regex(trim(d.text), '\\s+'))
       |      AS BIGINT) AS nt,
       |    CAST(len(string_split_regex(trim(d.text), '[\\s[:punct:]]+'))
       |      AS BIGINT) AS ns
       |  FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id)
       |SELECT lang_pred, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(sum(ns) AS BIGINT) AS n_subwords,
       |  CASE WHEN CAST(sum(nt) AS BIGINT) > 0
       |    THEN (1000 * CAST(sum(ns) AS BIGINT)) // CAST(sum(nt) AS BIGINT)
       |    ELSE 0 END AS fertility_milli
       |FROM pred GROUP BY 1
       |ORDER BY lang_pred ASC""".stripMargin

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

  /** Synthesized container format by doc_id % 3 — mirrors
    * [[graft.operators.Multimodal.synthesizeMedia]]. */
  private def duckMediaFormat: String =
    """CASE doc_id % 3 WHEN 0 THEN 'audio/wav'
      |  WHEN 1 THEN 'image/bmp' ELSE 'image/ppm' END""".stripMargin

  /** Container sizes from header arithmetic: WAV = 44-byte canonical
    * RIFF header + n payload bytes; BMP = 54-byte headers + stride*h
    * (width 4 → stride 12, no padding); PPM = "P6\n4 {h}\n255\n"
    * (10 + digits(h)) + payload. m = raster payload (whole 12-byte
    * rows, min one row). */
  private def multimodalMetaOracle: String =
    s"""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n
       |  FROM documents),
       |s AS (SELECT doc_id, n, greatest(12, n - (n % 12)) AS m FROM b)
       |SELECT doc_id, $duckMediaFormat AS format,
       |  CAST(CASE doc_id % 3
       |    WHEN 0 THEN 44 + n
       |    WHEN 1 THEN 54 + m
       |    ELSE 10 + length(CAST(m // 12 AS VARCHAR)) + m
       |  END AS BIGINT) AS n_bytes
       |FROM s ORDER BY doc_id ASC""".stripMargin

  /** OHLC oracle (shared by the DataFrame query and the vfs_ohlc
    * TVF): struct-min/max open/close — same lexicographic (us, v)
    * ordering as Spark's min(struct(...)), so timestamp ties agree. */
  private def timeOhlcOracle: String =
    """WITH e AS (SELECT event_type AS k,
      |  (epoch_us(ts) - epoch_us(ts) % 3600000000) // 1000000 AS bucket,
      |  epoch_us(ts) AS us,
      |  CAST(round(value * 100) AS BIGINT) AS v FROM events)
      |SELECT k AS event_type, bucket, count(*) AS n,
      |  (min(struct_pack(us := us, v := v))).v AS open_c,
      |  max(v) AS high_c, min(v) AS low_c,
      |  (max(struct_pack(us := us, v := v))).v AS close_c
      |FROM e GROUP BY k, bucket
      |ORDER BY event_type ASC, bucket ASC""".stripMargin

  /** Channel-mean milli over the zero-padded raster payload `pb`
    * (length m): stored byte index (i-1) % 3 == `c`. */
  private def duckChannelMilli(c: Int): String =
    s"""round(COALESCE(list_sum(list_transform(range(1, m + 1),
       |    i -> CASE WHEN (i - 1) % 3 = $c THEN pb[i] ELSE 0 END)), 0)
       |  * 1000.0 / (255.0 * (m // 3)))""".stripMargin

  /** Mirrors [[graft.operators.Multimodal.decodeStats]] from the raw
    * payload bytes: the engine must parse real containers (RIFF walk,
    * BMP bottom-up BGR stride undo, P6 header) to land on these same
    * numbers. BMP stores BGR → its R channel is stored index 2; PPM
    * stores RGB → R is stored index 0. Audio c0/c1/c2 =
    * mean/peak/trough of the PCM samples. */
  private def multimodalFeaturesOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(12, len(bs) - (len(bs) % 12)) AS m FROM b),
       |p AS (SELECT doc_id, bs, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, $duckMediaFormat AS format,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 4 END AS INT) AS width,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE m // 12 END AS INT)
       |    AS height,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN n ELSE m // 3 END AS BIGINT)
       |    AS n_samples,
       |  CAST(CASE WHEN doc_id % 3 = 0
       |      THEN CASE WHEN n = 0 THEN 0
       |        ELSE round(COALESCE(list_sum(bs), 0) * 1000.0 / (255.0 * n)) END
       |    WHEN doc_id % 3 = 1 THEN ${duckChannelMilli(2)}
       |    ELSE ${duckChannelMilli(0)} END AS BIGINT) AS c0_milli,
       |  CAST(CASE WHEN doc_id % 3 = 0
       |      THEN CASE WHEN n = 0 THEN 0
       |        ELSE round(list_max(bs) * 1000.0 / 255.0) END
       |    ELSE ${duckChannelMilli(1)} END AS BIGINT) AS c1_milli,
       |  CAST(CASE WHEN doc_id % 3 = 0
       |      THEN CASE WHEN n = 0 THEN 0
       |        ELSE round(list_min(bs) * 1000.0 / 255.0) END
       |    WHEN doc_id % 3 = 1 THEN ${duckChannelMilli(0)}
       |    ELSE ${duckChannelMilli(2)} END AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin

  /** Mirrors [[graft.operators.Multimodal.synthesizePng]] +
    * `decodeStats`: every doc is a 4-wide RGB raster of its
    * zero-padded payload bytes, so the decoded channel means are pure
    * payload arithmetic — the engine only lands on them if the zlib
    * stream and all five scanline filters round-trip byte-exactly. */
  private def multimodalPngOracle: String =
    multimodalRgbRasterOracle("image/png", cap = None)

  /** Shared by the RGB-raster rows (truecolor PNG and the TIFF
    * twins) — the synthesizers use the SAME 4-wide 12-bytes/row
    * geometry, so only the declared format (and TIFF's 2^20-row
    * decode-guard cap: 12·2^20 payload bytes) differs. */
  private def multimodalRgbRasterOracle(format: String,
      cap: Option[Long]): String = {
    val mExpr = cap match {
      case Some(c) => s"least(greatest(12, len(bs) - (len(bs) % 12)), $c)"
      case None => "greatest(12, len(bs) - (len(bs) % 12))"
    }
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    $mExpr AS m FROM b),
       |p AS (SELECT doc_id, bs, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, '$format' AS format,
       |  CAST(4 AS INT) AS width,
       |  CAST(m // 12 AS INT) AS height,
       |  CAST(m // 3 AS BIGINT) AS n_samples,
       |  CAST(${duckChannelMilli(0)} AS BIGINT) AS c0_milli,
       |  CAST(${duckChannelMilli(1)} AS BIGINT) AS c1_milli,
       |  CAST(${duckChannelMilli(2)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors the `multimodal_sniff` lanes: container lanes sniff to
    * their declared format (the synthesizers emit real magic bytes);
    * the raw lane reproduces [[graft.functions.MediaSniff]]'s rule
    * chain — same rules, SAME ORDER — over the document bytes. */
  private def multimodalSniffOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |containers AS (
       |  SELECT doc_id * 8 AS mid,
       |    CASE WHEN (doc_id * 8) % 3 = 0 THEN 'audio/wav'
       |         WHEN (doc_id * 8) % 3 = 1 THEN 'image/bmp'
       |         ELSE 'image/ppm' END AS declared FROM documents
       |  UNION ALL SELECT doc_id * 8 + 1, 'image/png' FROM documents
       |  UNION ALL SELECT doc_id * 8 + 2, 'image/jpeg' FROM documents
       |  UNION ALL SELECT doc_id * 8 + 3, 'image/gif' FROM documents
       |  UNION ALL SELECT doc_id * 8 + 4, 'image/tiff' FROM documents
       |  UNION ALL SELECT doc_id * 8 + 6, 'image/webp' FROM documents),
       |raw AS (SELECT doc_id * 8 + 5 AS mid,
       |    'application/octet-stream' AS declared,
       |    CASE
       |      WHEN len(bs) >= 8 AND bs[1] = 137 AND bs[2] = 80
       |        AND bs[3] = 78 AND bs[4] = 71 AND bs[5] = 13
       |        AND bs[6] = 10 AND bs[7] = 26 AND bs[8] = 10
       |        THEN 'image/png'
       |      WHEN len(bs) >= 3 AND bs[1] = 255 AND bs[2] = 216
       |        AND bs[3] = 255 THEN 'image/jpeg'
       |      WHEN len(bs) >= 6 AND bs[1] = 71 AND bs[2] = 73
       |        AND bs[3] = 70 AND bs[4] = 56 AND bs[5] IN (55, 57)
       |        AND bs[6] = 97 THEN 'image/gif'
       |      WHEN len(bs) >= 4 AND ((bs[1] = 73 AND bs[2] = 73
       |          AND bs[3] = 42 AND bs[4] = 0)
       |        OR (bs[1] = 77 AND bs[2] = 77 AND bs[3] = 0
       |          AND bs[4] = 42)) THEN 'image/tiff'
       |      WHEN len(bs) >= 12 AND bs[1] = 82 AND bs[2] = 73
       |        AND bs[3] = 70 AND bs[4] = 70 AND bs[9] = 87
       |        AND bs[10] = 65 AND bs[11] = 86 AND bs[12] = 69
       |        THEN 'audio/wav'
       |      WHEN len(bs) >= 12 AND bs[1] = 82 AND bs[2] = 73
       |        AND bs[3] = 70 AND bs[4] = 70 AND bs[9] = 87
       |        AND bs[10] = 69 AND bs[11] = 66 AND bs[12] = 80
       |        THEN 'image/webp'
       |      WHEN len(bs) >= 4 AND bs[1] = 102 AND bs[2] = 76
       |        AND bs[3] = 97 AND bs[4] = 67 THEN 'audio/flac'
       |      WHEN len(bs) >= 3 AND bs[1] = 80 AND bs[2] = 54
       |        AND bs[3] IN (9, 10, 13, 32) THEN 'image/ppm'
       |      WHEN len(bs) >= 2 AND bs[1] = 66 AND bs[2] = 77
       |        THEN 'image/bmp'
       |    END AS sniffed FROM b)
       |SELECT mid AS doc_id, declared, declared AS sniffed
       |FROM containers
       |UNION ALL
       |SELECT mid AS doc_id, declared, sniffed FROM raw
       |ORDER BY doc_id ASC""".stripMargin

  /** Mirrors [[graft.operators.Multimodal.synthesizePngGray]] +
    * `decodeStats`: a 4-wide GRAYSCALE raster of the zero-padded
    * payload (4 bytes/row, min one row). GRAY→RGB replication means
    * every channel mean equals the payload byte mean. */
  private def multimodalPngGrayOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(4, len(bs) - (len(bs) % 4)) AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    round(COALESCE(list_sum(list_transform(range(1, m + 1),
       |        i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END)), 0)
       |      * 1000.0 / (255.0 * m)) AS gm
       |  FROM s)
       |SELECT doc_id, 'image/png' AS format,
       |  CAST(4 AS INT) AS width,
       |  CAST(m // 4 AS INT) AS height,
       |  CAST(m AS BIGINT) AS n_samples,
       |  CAST(gm AS BIGINT) AS c0_milli,
       |  CAST(gm AS BIGINT) AS c1_milli,
       |  CAST(gm AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin

  /** Mirrors [[graft.operators.Multimodal.synthesizePngPaletted]] +
    * `decodeStats`: payload bytes are palette indices on a 4-wide
    * raster; decoded channel c of a pixel with index b is
    * (b·mult_c) mod 256 for mult = (7, 13, 29) — the deterministic
    * palette formula — so the channel means are pure modular
    * arithmetic over the zero-padded bytes. */
  private def multimodalPngPaletteOracle: String =
    multimodalPalettedOracle("image/png", cap = None)

  /** Shared by the paletted-PNG and GIF rows — the two synthesizers
    * use the SAME geometry (4-wide, whole rows, one-row minimum) and
    * palette formula, so only the declared format (and GIF's 16-bit
    * height cap: 4·65535 payload bytes) differs. */
  private def multimodalPalettedOracle(format: String,
      cap: Option[Long]): String = {
    val mExpr = cap match {
      case Some(c) => s"least(greatest(4, len(bs) - (len(bs) % 4)), $c)"
      case None => "greatest(4, len(bs) - (len(bs) % 4))"
    }
    def chan(mult: Int): String =
      s"""round(COALESCE(list_sum(list_transform(pb,
         |    x -> (x * $mult) % 256)), 0) * 1000.0 / (255.0 * m))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    $mExpr AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, '$format' AS format,
       |  CAST(4 AS INT) AS width,
       |  CAST(m // 4 AS INT) AS height,
       |  CAST(m AS BIGINT) AS n_samples,
       |  CAST(${chan(7)} AS BIGINT) AS c0_milli,
       |  CAST(${chan(13)} AS BIGINT) AS c1_milli,
       |  CAST(${chan(29)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors [[graft.operators.Multimodal.synthesizePngRgba]] +
    * `decodeStats`: a 4-wide RGBA raster of the zero-padded payload
    * (16 bytes/row, min one row), alpha-composited over white with
    * the decoder's exact integer rounding —
    * v = (c·a + 255·(255−a) + 127) // 255 — per channel. */
  private def multimodalPngRgbaOracle: String = {
    def chan(c: Int): String =
      s"""round(COALESCE(list_sum(list_transform(range(0, m // 4),
         |    j -> (pb[4*j + ${c + 1}] * pb[4*j + 4]
         |      + 255 * (255 - pb[4*j + 4]) + 127) // 255)), 0)
         |  * 1000.0 / (255.0 * (m // 4)))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(16, len(bs) - (len(bs) % 16)) AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, 'image/png' AS format,
       |  CAST(4 AS INT) AS width,
       |  CAST(m // 16 AS INT) AS height,
       |  CAST(m // 4 AS BIGINT) AS n_samples,
       |  CAST(${chan(0)} AS BIGINT) AS c0_milli,
       |  CAST(${chan(1)} AS BIGINT) AS c1_milli,
       |  CAST(${chan(2)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors [[graft.operators.Multimodal.synthesizeJpeg]] +
    * `decodeStats`: one CONSTANT 8×8 luma block per payload byte, no
    * color conversion on the grayscale path and flat q=8 makes the
    * lossy codec exact — every channel mean equals the payload byte
    * mean (each byte owns the same 64 pixels). */
  private def multimodalJpegOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    least(greatest(1, len(bs)), 8191) AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    round(COALESCE(list_sum(list_transform(range(1, m + 1),
       |        i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END)), 0)
       |      * 1000.0 / (255.0 * m)) AS gm
       |  FROM s)
       |SELECT doc_id, 'image/jpeg' AS format,
       |  CAST(8 AS INT) AS width,
       |  CAST(8 * m AS INT) AS height,
       |  CAST(64 * m AS BIGINT) AS n_samples,
       |  CAST(gm AS BIGINT) AS c0_milli,
       |  CAST(gm AS BIGINT) AS c1_milli,
       |  CAST(gm AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin

  /** The pinned JFIF color chain of `MediaCodec.rgbToYcc`/`yccToRgb`
    * — floor(x + 0.5) on the same left-to-right double chains, every
    * literal CAST AS DOUBLE (DuckDB would otherwise run the products
    * in DECIMAL), clamped to [0, 255] — as SQL over per-group r/g/b
    * expressions. Returns the decoded (r', g', b') expressions. */
  private def duckJpegRoundTrip(rE: String, gE: String,
      bE: String): (String, String, String) = {
    def d(x: String) = s"CAST($x AS DOUBLE)"
    def cl(x: String) = s"least(255, greatest(0, floor($x + 0.5)))"
    val y = cl(s"${d("0.299")} * $rE + ${d("0.587")} * $gE + " +
      s"${d("0.114")} * $bE")
    val cb = cl(s"${d("-0.168736")} * $rE - ${d("0.331264")} * $gE + " +
      s"${d("0.5")} * $bE + 128")
    val cr = cl(s"${d("0.5")} * $rE - ${d("0.418688")} * $gE - " +
      s"${d("0.081312")} * $bE + 128")
    (cl(s"($y) + ${d("1.402")} * (($cr) - 128)"),
      cl(s"($y) - ${d("0.344136")} * (($cb) - 128) - " +
        s"${d("0.714136")} * (($cr) - 128)"),
      cl(s"($y) + ${d("1.772")} * (($cb) - 128)"))
  }

  /** Mirrors `synthesizeJpegColor` (side = 8, 4:4:4) and
    * `synthesizeJpeg420` (side = 16, 4:2:0) + `decodeStats`: every 3
    * payload bytes one constant side×side block, DCT exact, decoded
    * channels = the [[duckJpegRoundTrip]] chain per group (blocks are
    * equal-sized, so the pixel mean is the group mean). */
  private def multimodalJpegColorOracle(side: Int): String = {
    val (r2, g2, b2) = duckJpegRoundTrip("pb[3*j + 1]", "pb[3*j + 2]",
      "pb[3*j + 3]")
    val cap = 65535 / side // the engine's 16-bit-SOF block cap
    def chan(e: String): String =
      s"""round(COALESCE(list_sum(list_transform(range(0, nb),
         |    j -> $e)), 0) * 1000.0 / (255.0 * nb))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    least(greatest(3, len(bs) - (len(bs) % 3)) // 3, $cap)
       |      AS nb FROM b),
       |p AS (SELECT doc_id, n, nb,
       |    list_transform(range(1, 3 * nb + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, 'image/jpeg' AS format,
       |  CAST($side AS INT) AS width,
       |  CAST($side * nb AS INT) AS height,
       |  CAST(${side * side} * nb AS BIGINT) AS n_samples,
       |  CAST(${chan(r2)} AS BIGINT) AS c0_milli,
       |  CAST(${chan(g2)} AS BIGINT) AS c1_milli,
       |  CAST(${chan(b2)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors `synthesizeJpeg` → `resizeMedia(2, 3)` → `decodeStats`:
    * the gray JPEG decodes exactly, NN picks source row
    * (y2·8m) div 3 → payload byte ((y2·8m) div 3) div 8 for
    * y2 ∈ {0,1,2} (both output pixels of a row are equal), PNG
    * re-encode is lossless. */
  private def multimodalJpegResizeOracle: String = {
    val picks = (0 to 2).map(y2 =>
      s"pb[(($y2 * 8 * m) // 3) // 8 + 1]").mkString(" + ")
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    least(greatest(1, len(bs)), 8191) AS m FROM b),
       |p AS (SELECT doc_id, n, m,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s),
       |r AS (SELECT doc_id,
       |    round(($picks) * 2 * 1000.0 / (255.0 * 6)) AS gm
       |  FROM p)
       |SELECT doc_id, 'image/png' AS format,
       |  CAST(2 AS INT) AS width,
       |  CAST(3 AS INT) AS height,
       |  CAST(6 AS BIGINT) AS n_samples,
       |  CAST(gm AS BIGINT) AS c0_milli,
       |  CAST(gm AS BIGINT) AS c1_milli,
       |  CAST(gm AS BIGINT) AS c2_milli
       |FROM r ORDER BY doc_id ASC""".stripMargin
  }

  /** The fixed BM25 query — shared by the engine call and the oracle
    * generator so the two can't drift. */
  private val Bm25Terms = Seq("vector", "join", "spark")

  /** Fixed 24-query × 3-term workload for the batch BM25 / hybrid
    * rows — a deterministic rotation over common corpus vocabulary,
    * shared by the engine call and the oracle generator so the two
    * can't drift. */
  private val Bm25Vocab = Seq("vector", "join", "spark", "hash",
    "row", "batch", "scan", "filter", "merge", "window", "stream",
    "sort", "query", "table", "group", "key", "data", "column",
    "agg", "order", "fast", "slow", "small", "big")
  private val Bm25Workload: Seq[(Long, String)] =
    (0 until 24).flatMap { qid =>
      Seq(Bm25Vocab(qid), Bm25Vocab((qid + 7) % 24),
        Bm25Vocab((qid + 13) % 24)).map(t => (qid.toLong, t))
    }

  /** The BM25 stats + scores CTEs (requires `t(doc_id, toks)` in
    * scope), mirroring [[graft.operators.TextAnalysis.bm25Scores]]
    * term by term: same association order in every double op
    * (exact-integer inputs, correctly rounded everywhere), per-term
    * floor to LONG, LONG sum — so the milli scores hash-match. Shared
    * by the standalone and hybrid-fusion oracles. */
  private def bm25ScCtes: String = {
    def contrib(i: Int, w: String): String =
      s"""CAST(floor(((n - df$i + 0.5) / (df$i + 0.5))
         |  * ((len(list_filter(toks, x -> x = '$w')) * 2.2)
         |    / (len(list_filter(toks, x -> x = '$w'))
         |      + 1.2 * (0.25 + 0.75 * (CAST(len(toks) * n AS DOUBLE) / tl))))
         |  * 1000.0) AS BIGINT)""".stripMargin
    val dfs = Bm25Terms.zipWithIndex.map { case (w, i) =>
      s"""CAST(sum(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)
         |    AS BIGINT) AS df$i""".stripMargin
    }.mkString(",\n")
    val sum = Bm25Terms.zipWithIndex
      .map { case (w, i) => contrib(i, w) }.mkString("\n+ ")
    s"""st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(len(toks)) AS BIGINT) AS tl,
       |$dfs
       |  FROM t),
       |sc AS (SELECT doc_id, $sum AS score_milli FROM t, st)""".stripMargin
  }

  /** Shared by `text_lm_score` and its TVF twin `sql_tvf_lm`: the
    * add-one-smoothed integer bigram model in DuckDB SQL (bigrams via
    * list_zip against the tail, costs in exact int64). */
  private def lmScoreOracle: String =
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '\s+') AS s
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(s) AS w FROM t),
      |bg AS (SELECT doc_id, p[1] AS a, p[2] AS b
      |  FROM (SELECT doc_id, unnest(list_zip(s, s[2:])) AS p FROM t)
      |  WHERE p[2] IS NOT NULL),
      |cab AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2),
      |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v FROM tok),
      |cost AS (SELECT bg.doc_id, (1000 * (ca.ca + v.v)) // (cab.cab + 1) AS c
      |  FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       CAST(CAST(sum(c) AS BIGINT) // count(*) AS BIGINT) AS mean_invp_milli
      |FROM cost GROUP BY 1 ORDER BY doc_id""".stripMargin

  private def bm25Oracle: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |$bm25ScCtes
       |SELECT doc_id, score_milli FROM sc WHERE score_milli > 0
       |ORDER BY doc_id ASC""".stripMargin

  /** The workload VALUES list — one (qid, term) row per
    * [[Bm25Workload]] entry. */
  private def bm25WorkloadValues: String =
    Bm25Workload.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** The workload-BM25 CTEs (requires `t(doc_id, toks)` in scope),
    * mirroring [[graft.operators.TextAnalysis.bm25ScoresTable]] over
    * [[Bm25Workload]]: same inverted-index decomposition (postings of
    * workload terms only, df from posting presence) and the SAME
    * double-op association order as the single-query CTEs. Produces
    * `scq(qid, doc_id, score_milli > 0)`. CTE names are q-suffixed so
    * they compose with `bm25ScCtes`/`hashedBowCtes` in one WITH. */
  private def bm25TableCtes: String =
    s"""q AS (SELECT CAST(qid AS BIGINT) AS qid, term
       |  FROM (VALUES $bm25WorkloadValues) AS v(qid, term)),
       |stq AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(len(toks)) AS BIGINT) AS tl FROM t),
       |tokq AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |  FROM t),
       |postq AS (SELECT term, doc_id, dl,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM tokq WHERE term IN (SELECT DISTINCT term FROM q)
       |  GROUP BY term, doc_id, dl),
       |dfsq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM postq GROUP BY term),
       |cq AS (SELECT q.qid, p.doc_id,
       |    CAST(floor(((n - df + 0.5) / (df + 0.5))
       |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
       |        * (CAST(dl * n AS DOUBLE) / tl))))
       |      * 1000.0) AS BIGINT) AS contrib
       |  FROM postq p JOIN dfsq USING (term)
       |  JOIN q ON q.term = p.term, stq),
       |scq AS (SELECT qid, doc_id,
       |    CAST(sum(contrib) AS BIGINT) AS score_milli
       |  FROM cq GROUP BY qid, doc_id HAVING sum(contrib) > 0)""".stripMargin

  private def bm25TableOracle: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |$bm25TableCtes
       |SELECT qid, doc_id, score_milli FROM scq
       |ORDER BY qid ASC, doc_id ASC""".stripMargin

  /** Batch hybrid retrieval oracle: per qid 0..23, workload-BM25
    * top-50 fused with exact milli-dot vector top-50 (query vector =
    * doc qid's hashed-BoW embedding, self excluded) by the same
    * floor(10⁶/(60+rank)) weights as the single-query twin — every
    * stage exact-integer. */
  private def hybridRrfBatchOracle: String =
    s"""WITH $hashedBowCtes,
       |m AS (SELECT doc_id, list_transform(cnts, x -> CASE WHEN nrm > 0
       |    THEN CAST(round(x / nrm * 1000) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END) AS emb_milli
       |  FROM n),
       |$bm25TableCtes,
       |qq AS (SELECT doc_id AS qid, emb_milli AS qv FROM m
       |  WHERE doc_id < 24),
       |dotsq AS (SELECT qq.qid, m.doc_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> m.emb_milli[i] * qq.qv[i])) AS BIGINT) AS dot
       |  FROM m, qq WHERE m.doc_id <> qq.qid),
       |vtopq AS (SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY dot DESC, doc_id ASC) AS r
       |    FROM dotsq WHERE dot > 0) WHERE r <= 50),
       |ltopq AS (SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY score_milli DESC, doc_id ASC) AS r
       |    FROM scq) WHERE r <= 50)
       |SELECT qid, doc_id,
       |  CAST(COALESCE(floor(1000000.0 / (60 + l.r)), 0)
       |    + COALESCE(floor(1000000.0 / (60 + v.r)), 0) AS BIGINT)
       |    AS rrf_milli
       |FROM ltopq l FULL OUTER JOIN vtopq v USING (qid, doc_id)
       |ORDER BY qid ASC, rrf_milli DESC, doc_id ASC""".stripMargin

  /** Twin of [[hybridRrfBatchOracle]] for the PACKAGED
    * `Knn.hybridSearchBatch` call: the vector half ranks by euclidean
    * DISTANCE over the integer milli embeddings (the IVF index's
    * metric, full probe ⇒ exact, self included at rank 1) instead of
    * dot-product, so `row_number() ORDER BY d ASC, doc_id ASC` mirrors
    * the index's ascending (distance, id) top-k exactly — integer
    * inputs make the doubles identical in both engines. */
  private def hybridSearchBatchOracle: String =
    s"""WITH $hashedBowCtes,
       |m AS (SELECT doc_id, list_transform(cnts, x -> CASE WHEN nrm > 0
       |    THEN CAST(round(x / nrm * 1000) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END) AS emb_milli
       |  FROM n),
       |$bm25TableCtes,
       |qq AS (SELECT doc_id AS qid, emb_milli AS qv FROM m
       |  WHERE doc_id < 24),
       |distq AS (SELECT qq.qid, m.doc_id,
       |    list_distance(CAST(m.emb_milli AS DOUBLE[]),
       |      CAST(qq.qv AS DOUBLE[])) AS d
       |  FROM m, qq),
       |vtopq AS (SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY d ASC, doc_id ASC) AS r
       |    FROM distq) WHERE r <= 50),
       |ltopq AS (SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY score_milli DESC, doc_id ASC) AS r
       |    FROM scq) WHERE r <= 50)
       |SELECT qid, doc_id,
       |  CAST(COALESCE(floor(1000000.0 / (60 + l.r)), 0)
       |    + COALESCE(floor(1000000.0 / (60 + v.r)), 0) AS BIGINT)
       |    AS rrf_milli
       |FROM ltopq l FULL OUTER JOIN vtopq v USING (qid, doc_id)
       |ORDER BY qid ASC, rrf_milli DESC, doc_id ASC""".stripMargin

  /** Hybrid retrieval oracle: BM25 top-50 (ltop) ∪ exact milli-dot
    * vector top-50 vs doc 0 (vtop), fused by floor(10⁶/(60+rank))
    * weights — every stage exact-integer, so the fusion hash-matches.
    * `hashedBowCtes` defines the same `t` the bm25 CTEs read. */
  private def hybridRrfOracle: String =
    s"""WITH $hashedBowCtes,
       |m AS (SELECT doc_id, list_transform(cnts, x -> CASE WHEN nrm > 0
       |    THEN CAST(round(x / nrm * 1000) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END) AS emb_milli
       |  FROM n),
       |$bm25ScCtes,
       |qq AS (SELECT emb_milli AS qv FROM m WHERE doc_id = 0),
       |dots AS (SELECT m.doc_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> m.emb_milli[i] * qq.qv[i])) AS BIGINT) AS dot
       |  FROM m, qq WHERE m.doc_id <> 0),
       |vtop AS (SELECT doc_id, r FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY dot DESC, doc_id ASC) AS r
       |    FROM dots WHERE dot > 0) WHERE r <= 50),
       |ltop AS (SELECT doc_id, r FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS r
       |    FROM sc WHERE score_milli > 0) WHERE r <= 50)
       |SELECT doc_id,
       |  CAST(COALESCE(floor(1000000.0 / (60 + l.r)), 0)
       |    + COALESCE(floor(1000000.0 / (60 + v.r)), 0) AS BIGINT)
       |    AS rrf_milli
       |FROM ltop l FULL OUTER JOIN vtop v USING (doc_id)
       |ORDER BY rrf_milli DESC, doc_id ASC""".stripMargin

  /** Mirrors synthesizePng → [[graft.operators.Multimodal.resizeMedia]]
    * (2×3 nearest-neighbor) → `decodeStats`: each doc is a 4-wide RGB
    * raster of height hh = m/12; resized pixel k (x2 = k%2, y2 = k/2)
    * samples source pixel (x2·4/2, y2·hh/3) — the same integer-floor
    * NN formula as `MediaCodec.nnResizeRgb`. The engine only lands on
    * these means if PNG decode, the resize kernel, PNG re-encode and
    * the second decode are all byte-exact. */
  private def multimodalResizeOracle: String = {
    def chanMilli(c: Int): String =
      s"""round(list_sum(list_transform(range(0, 6),
         |    k -> pb[3 * (((k // 2) * hh // 3) * 4 + (k % 2) * 2) + ${c + 1}]))
         |  * 1000.0 / (255.0 * 6))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(12, len(bs) - (len(bs) % 12)) AS m FROM b),
       |p AS (SELECT doc_id, m // 12 AS hh,
       |    list_transform(range(1, m + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s)
       |SELECT doc_id, 'image/png' AS format,
       |  CAST(2 AS INT) AS width, CAST(3 AS INT) AS height,
       |  CAST(6 AS BIGINT) AS n_samples,
       |  CAST(${chanMilli(0)} AS BIGINT) AS c0_milli,
       |  CAST(${chanMilli(1)} AS BIGINT) AS c1_milli,
       |  CAST(${chanMilli(2)} AS BIGINT) AS c2_milli
       |FROM p ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors [[graft.operators.Multimodal.synthesizeVideo]](frameRows=2)
    * → `sampleFrames(everyN=4)`: the payload zero-padded to whole
    * 24-byte frames (4×2 RGB, ≥ 1 frame), every 4th frame's channel
    * means over its 8 pixels. One output row per (doc, sampled frame)
    * — the engine must walk one P6 header per frame to slice the same
    * bytes. */
  private def multimodalFramesOracle: String = {
    def chanMilli(c: Int): String =
      s"""round(list_sum(list_transform(range(0, 8),
         |    k -> pb[f * 24 + 3 * k + ${c + 1}]))
         |  * 1000.0 / (255.0 * 8))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(1, (len(bs) + 23) // 24) AS nf FROM b),
       |p AS (SELECT doc_id, nf,
       |    list_transform(range(1, nf * 24 + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s),
       |x AS (SELECT doc_id, pb, unnest(range(0, nf)) AS f FROM p)
       |SELECT doc_id, f AS frame_idx,
       |  CAST(4 AS INT) AS width, CAST(2 AS INT) AS height,
       |  CAST(${chanMilli(0)} AS BIGINT) AS r_milli,
       |  CAST(${chanMilli(1)} AS BIGINT) AS g_milli,
       |  CAST(${chanMilli(2)} AS BIGINT) AS b_milli
       |FROM x WHERE f % 4 = 0
       |ORDER BY doc_id ASC, frame_idx ASC""".stripMargin
  }

  /** Mirrors [[graft.operators.Multimodal.synthesizeGifAnimated]]
    * (frameRows=2) → `sampleFrames(everyN=4)`: the payload
    * zero-padded to whole 8-byte index frames (4×2, ≥ 1 frame),
    * every 4th frame's channel means over its 8 PALETTE-MAPPED
    * pixels — channel c of index b is (b·mult_c) mod 256 for
    * mult = (7, 13, 29). Full-canvas opaque frames with disposal 1
    * make GIF compositing the identity, so the engine's composited
    * frame equals the payload slice. */
  private def multimodalGifFramesOracle: String = {
    def chanMilli(mult: Int): String =
      s"""round(list_sum(list_transform(range(0, 8),
         |    k -> (pb[f * 8 + k + 1] * $mult) % 256))
         |  * 1000.0 / (255.0 * 8))""".stripMargin
    s"""WITH b AS (SELECT doc_id, $duckUtf8Bytes AS bs FROM documents),
       |s AS (SELECT doc_id, bs, len(bs) AS n,
       |    greatest(1, (len(bs) + 7) // 8) AS nf FROM b),
       |p AS (SELECT doc_id, nf,
       |    list_transform(range(1, nf * 8 + 1),
       |      i -> CASE WHEN i <= n THEN bs[i] ELSE 0 END) AS pb
       |  FROM s),
       |x AS (SELECT doc_id, pb, unnest(range(0, nf)) AS f FROM p)
       |SELECT doc_id, f AS frame_idx,
       |  CAST(4 AS INT) AS width, CAST(2 AS INT) AS height,
       |  CAST(${chanMilli(7)} AS BIGINT) AS r_milli,
       |  CAST(${chanMilli(13)} AS BIGINT) AS g_milli,
       |  CAST(${chanMilli(29)} AS BIGINT) AS b_milli
       |FROM x WHERE f % 4 = 0
       |ORDER BY doc_id ASC, frame_idx ASC""".stripMargin
  }

  // ---- oracle SQL generated from the same constants the Spark
  // implementation uses (TextAnalysis.LangProfiles) ----

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** The quality_milli scalar over a relation exposing (text, toks,
    * n_chars) — shared by the standalone and composed-curation
    * oracles so the two can't drift. */
  private def qualityExprSql: String = {
    val stops = TextAnalysis.LangProfiles.flatMap(_._2).distinct
    s"""CAST(round(
       |    least(len(toks) / 100.0, 1.0) * 250
       |  + (CASE WHEN n_chars > 0 THEN length(regexp_replace(text, '[^[:alpha:]]', '', 'g')) / n_chars ELSE 0.0 END) * 250
       |  + least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ${inList(stops)})) AS DOUBLE) / len(toks) ELSE 0.0 END) * 5.0, 1.0) * 250
       |  + (1.0 - (CASE WHEN n_chars > 0 THEN length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / n_chars ELSE 0.0 END)) * 250
       |  ) AS BIGINT)""".stripMargin
  }

  private def textQualityOracle: String =
    s"""WITH t AS (SELECT doc_id, text,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |  CAST(length(text) AS DOUBLE) AS n_chars FROM documents)
       |SELECT doc_id, $qualityExprSql AS quality_milli
       |FROM t ORDER BY doc_id ASC""".stripMargin

  private def textCurationOracle: String =
    s"""WITH t AS (SELECT doc_id, text,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |  CAST(length(text) AS DOUBLE) AS n_chars,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |q AS (SELECT doc_id, n_tokens, $qualityExprSql AS quality_milli
       |  FROM t)
       |SELECT doc_id, n_tokens, quality_milli FROM q
       |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
       |  AND quality_milli >= 650 AND n_tokens BETWEEN 20 AND 90
       |ORDER BY doc_id ASC""".stripMargin

  /** The FULL curation pipeline re-derived from scratch: quality
    * gate ([[qualityExprSql]] + token window), portable-simhash
    * near-dup keep-first (the [[simHashOracle]] sig derivation over
    * the QUALITY subset + the shared band fold), language ID over the
    * survivors ([[langIdCtesOver]]), deterministic language coding,
    * and the next-fit packing recurrence ([[SparkEntry.oracleSql]]'s
    * text_packing_bins CTE shape) per language shard. */
  private def pipelineCurateOracle: String =
    s"""$pipelineCurateCtes
       |SELECT doc_id, CAST(lang_code AS BIGINT) AS lang_code,
       |  n AS n_tokens, bin_id, bin_off,
       |  CAST(CASE WHEN n > 256 THEN 1 ELSE 0 END AS BIGINT) AS overflow
       |FROM f ORDER BY doc_id ASC""".stripMargin

  /** The CLEAN-then-curate composition: the boilerplate strip's kept
    * lines become the curate chain's input text — stage 0 of the full
    * training-data flow feeding stages 1-4, proving the two pipelines
    * compose without CTE or work-column collisions. Docs whose every
    * line was boilerplate (or blank) drop before the gate. */
  private def pipelineCleanCurateOracle: String =
    s"""WITH RECURSIVE $boilerplateCtes,
       |cleaned AS (SELECT doc_id,
       |    array_to_string(kept, chr(10)) AS text
       |  FROM bout WHERE len(kept) > 0),
       |${pipelineCurateChain("cleaned")}
       |SELECT doc_id, CAST(lang_code AS BIGINT) AS lang_code,
       |  n AS n_tokens, bin_id, bin_off,
       |  CAST(CASE WHEN n > 256 THEN 1 ELSE 0 END AS BIGINT) AS overflow
       |FROM f ORDER BY doc_id ASC""".stripMargin

  /** The WARC-fed composition: the WET text (the web_warc_extract
    * derivation — title/heading/normalized-prose/links chain, exact
    * because the page synthesis is invertible) becomes the curate
    * chain's input, so the whole CC front end (framing, gzip,
    * charset sniff, HTML extraction) sits UNDER the quality gate,
    * near-dup, langid, and packing stages of ONE oracle replay. */
  private def pipelineWarcCurateOracle: String =
    s"""WITH RECURSIVE nrm AS (SELECT doc_id,
       |    array_to_string(list_filter(list_transform(
       |      string_split(regexp_replace(text, '[ \\t\\r]+', ' ', 'g'),
       |        chr(10)),
       |      x -> trim(x, ' ')), x -> x <> ''), chr(10)) AS nt
       |  FROM documents),
       |wet AS (SELECT doc_id,
       |    'Doc &' || chr(10) || doc_id || chr(10) || 'Doc Heading' ||
       |    CASE WHEN nt = '' THEN '' ELSE chr(10) || nt END ||
       |    chr(10) || 'one and two' AS text
       |  FROM nrm),
       |${pipelineCurateChain("wet")}
       |SELECT doc_id, CAST(lang_code AS BIGINT) AS lang_code,
       |  n AS n_tokens, bin_id, bin_off,
       |  CAST(CASE WHEN n > 256 THEN 1 ELSE 0 END AS BIGINT) AS overflow
       |FROM f ORDER BY doc_id ASC""".stripMargin

  /** [[pipelineCurateOracle]] folded to the per-shard audit report —
    * the `Curation.curateReport` twin (one group-by over the packed
    * recurrence's output). */
  private def pipelineCurateReportOracle: String =
    s"""$pipelineCurateCtes
       |SELECT CAST(lang_code AS BIGINT) AS lang_code,
       |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
       |  CAST(sum(CASE WHEN n > 256 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_overflow
       |FROM f GROUP BY 1 ORDER BY lang_code ASC""".stripMargin

  private def pipelineCurateCtes: String =
    s"WITH RECURSIVE ${pipelineCurateChain("documents")}"

  /** The curate chain PARAMETERIZED over its input table (doc_id,
    * text) — `documents` for the plain rows, the boilerplate-cleaned
    * view for [[pipelineCleanCurateOracle]]. */
  private def pipelineCurateChain(docsTable: String): String =
    s"""tq AS (SELECT doc_id, text,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM $docsTable),
       |q AS (SELECT doc_id, text, n_tokens FROM tq
       |  WHERE $qualityExprSql >= 650 AND n_tokens BETWEEN 20 AND 90),
       |h AS (SELECT doc_id, list_transform(
       |    list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
       |    w -> ${duckHex15("w")}) AS hs FROM q),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60),
       |    j -> CASE WHEN 2 * len(list_filter(hs, x -> ((x >> j) & 1) = 1)) > len(hs)
       |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
       |  FROM h),
       |${sigBandFoldCtes(15)},
       |drops AS (SELECT DISTINCT pb FROM pairs
       |  WHERE bit_count(xor(sa, sb)) <= 3),
       |surv AS (SELECT q.doc_id, q.text, q.n_tokens FROM q
       |  LEFT JOIN drops ON drops.pb = q.doc_id WHERE drops.pb IS NULL),
       |${langIdCtesOver("surv")},
       |pred AS (SELECT s2.doc_id, s2.n_tokens,
       |    CASE coalesce(struct_extract(b2.b, 'lang'), 'und')
       |      WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2
       |      WHEN 'fr' THEN 3 ELSE 4 END AS lang_code
       |  FROM surv s2 LEFT JOIN best b2 ON b2.doc_id = s2.doc_id),
       |tp AS (SELECT doc_id, lang_code, n_tokens,
       |    row_number() OVER (PARTITION BY lang_code ORDER BY doc_id) AS rn
       |  FROM pred),
       |f(lang_code, rn, doc_id, n, bin_id, bin_off, used_after) AS (
       |  SELECT lang_code, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT), n_tokens
       |  FROM tp WHERE rn = 1
       |  UNION ALL
       |  SELECT tp.lang_code, tp.rn, tp.doc_id, tp.n_tokens,
       |    CASE WHEN f.used_after + tp.n_tokens <= 256 THEN f.bin_id
       |         ELSE f.bin_id + 1 END,
       |    CASE WHEN f.used_after + tp.n_tokens <= 256 THEN f.used_after
       |         ELSE CAST(0 AS BIGINT) END,
       |    CASE WHEN f.used_after + tp.n_tokens <= 256
       |         THEN f.used_after + tp.n_tokens
       |         ELSE tp.n_tokens END
       |  FROM f JOIN tp ON tp.lang_code = f.lang_code AND tp.rn = f.rn + 1)""".stripMargin

  /** The streaming curation loop's single-batch run re-derived:
    * quality gate, MinHash-LSH keep-first over the GATED subset
    * ([[minHashSigCtesOver]] — full signatures, banding, bucket cap,
    * exact-jaccard verify at 900 milli), language ID over the landed
    * survivors ([[langIdCtesOver]]) with the und/500 fallback. */
  private def streamCurateOracle: String =
    s"""WITH tq AS (SELECT doc_id, text,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |    CAST(length(text) AS DOUBLE) AS n_chars
       |  FROM documents),
       |q AS (SELECT doc_id, text FROM tq
       |  WHERE $qualityExprSql >= 650 AND
       |    len(string_split_regex(trim(text), '\\s+')) BETWEEN 20 AND 90),
       |${minHashSigCtesOver("q")},
       |bb AS (SELECT doc_id, band, sig[band*4+1 : band*4+4] AS bsig
       |  FROM (SELECT doc_id, sig, unnest(range(0, 16)) AS band FROM s)),
       |capped AS (SELECT doc_id, band, bsig FROM bb
       |  QUALIFY count(*) OVER (PARTITION BY band, bsig) <= 1000),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |drops AS (SELECT DISTINCT cand.b FROM cand
       |  JOIN w wa ON wa.doc_id = cand.a
       |  JOIN w wb ON wb.doc_id = cand.b
       |  WHERE round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE) * 1000.0
       |      / len(list_distinct(wa.ws || wb.ws))) >= 900),
       |surv AS (SELECT q.doc_id, q.text FROM q
       |  LEFT JOIN drops ON drops.b = q.doc_id WHERE drops.b IS NULL),
       |${langIdCtesOver("surv")}
       |SELECT s2.doc_id,
       |  coalesce(struct_extract(b2.b, 'lang'), 'und') AS lang_pred,
       |  CAST(coalesce(struct_extract(b2.b, 'matched'), 0) AS BIGINT)
       |    AS matched,
       |  CAST(coalesce(struct_extract(b2.b, 'score'), 500) AS BIGINT)
       |    AS score_milli
       |FROM surv s2 LEFT JOIN best b2 ON b2.doc_id = s2.doc_id
       |ORDER BY s2.doc_id ASC""".stripMargin

  /** hashed-BoW CTE chain shared by the embedding and composed-dedup
    * oracles: toks → buckets (md5-fold mod 64) → dense counts → L2
    * norm (sum of squared integer counts — order-independent exact). */
  private def hashedBowCtes: String =
    s"""t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |b AS (SELECT doc_id, list_transform(toks, w -> ${duckHex15("w")} % 64) AS bk
       |  FROM t),
       |c AS (SELECT doc_id, list_transform(range(0, 64),
       |        i -> CAST(len(list_filter(bk, x -> x = i)) AS DOUBLE)) AS cnts
       |  FROM b),
       |n AS (SELECT doc_id, cnts,
       |        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(cnts, x -> x * x)), (a, v) -> a + v)) AS nrm
       |  FROM c)""".stripMargin

  private def textHashEmbeddingOracle: String =
    s"""WITH $hashedBowCtes,
       |m AS (SELECT doc_id, list_transform(cnts, x -> CASE WHEN nrm > 0
       |    THEN CAST(round(x / nrm * 1000) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END) AS emb_milli
       |  FROM n)
       |SELECT doc_id, CAST(r.i AS INT) AS dim,
       |       emb_milli[CAST(r.i AS INT) + 1] AS val_milli
       |FROM m CROSS JOIN range(0, 64) r(i)
       |ORDER BY doc_id ASC, dim ASC""".stripMargin

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

  private def textCurriculumOracle: String =
    s"""WITH t AS (SELECT doc_id, source, text,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |  CAST(length(text) AS DOUBLE) AS n_chars FROM documents),
       |q AS (SELECT doc_id, source, $qualityExprSql AS quality_milli
       |  FROM t),
       |r AS (SELECT doc_id, source, quality_milli,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY quality_milli DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM q)
       |SELECT doc_id, source, quality_milli, rank FROM r
       |ORDER BY rank ASC, source ASC, doc_id ASC""".stripMargin

  /** token count + langid + quality in one pass — the DuckDB mirror of
    * the pure-SQL `sql_text_analyze` query (same building blocks as the
    * single-signal oracles above). */
  private def sqlTextAnalyzeOracle: String = {
    val scores = TextAnalysis.LangProfiles.map { case (lang, words) =>
      s"len(list_filter(toks, x -> x IN ${inList(words)})) AS s_$lang"
    }.mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id, text,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |  CAST(length(text) AS DOUBLE) AS n_chars FROM documents),
       |sc AS (SELECT doc_id, text, toks, n_chars,
       |  $scores
       |  FROM t)
       |SELECT doc_id,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |    AS n_tokens,
       |  CASE
       |  WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > length(text) * 0.3 THEN 'zh'
       |  WHEN greatest(s_de, s_en, s_es, s_fr) > 0 THEN (
       |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_fr THEN 'es'
       |         ELSE 'fr' END)
       |  ELSE 'und' END AS lang_pred,
       |  $qualityExprSql AS quality_milli
       |FROM sc ORDER BY doc_id ASC""".stripMargin
  }

  private def textLangIdOracle: String = {
    val scores = TextAnalysis.LangProfiles.map { case (lang, words) =>
      s"len(list_filter(toks, x -> x IN ${inList(words)})) AS s_$lang"
    }.mkString(",\n  ")
    // argmax with ties broken by profile order (de < en < es < fr)
    s"""WITH t AS (SELECT doc_id, text,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
       |sc AS (SELECT doc_id, text,
       |  $scores
       |  FROM t)
       |SELECT doc_id, CASE
       |  WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > length(text) * 0.3 THEN 'zh'
       |  WHEN greatest(s_de, s_en, s_es, s_fr) > 0 THEN (
       |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_fr THEN 'es'
       |         ELSE 'fr' END)
       |  ELSE 'und' END AS lang_pred
       |FROM sc ORDER BY doc_id ASC""".stripMargin
  }
}
