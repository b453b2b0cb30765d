package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.{Metric, TextAnalysis}

/** The pure-SQL surface (`sql_*`): each table-valued function and SQL
  * function called from SQL text, matched against the oracle of the
  * DataFrame form it mirrors. */
object SqlTvfQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // LM scoring from pure SQL text — the self-scoring TVF form;
    // shares text_lm_score's oracle (same model, same integers)
    QuerySpec("sql_tvf_lm", (s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT doc_id, n_bigrams, mean_invp_milli
           |FROM vfs_lm_score('$dir/documents.parquet')
           |ORDER BY doc_id ASC""".stripMargin)
    },
      // the TVF form computes the identical self-scored model
      lmScoreOracle),

    // ---- lexical retrieval from pure SQL text: the vfs_bm25 TVF is
    // the same codegen scoring scan as text_bm25 (identical terms), so
    // it must land on identical milli scores ----
    QuerySpec("sql_tvf_bm25", (s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT doc_id, score_milli
           |FROM vfs_bm25('$dir/documents.parquet',
           |              '${Bm25Terms.mkString(" ")}')
           |ORDER BY doc_id ASC""".stripMargin)
    },
      bm25Oracle),

    // ---- pure-SQL surface: the vfs_knn TABLE-valued function end to
    // end from SQL text (tcp.rs:107-150 exposes the reference's whole
    // API over one endpoint; the Spark analog is everything reachable
    // from spark.sql). TVF k=20 then re-rank by rounded millis: the
    // oracle ranks by the ROUNDED value, so the raw-distance top-k is
    // over-fetched to make the rounded top-10 exact. ----
    QuerySpec("sql_tvf_knn", (s, dir) => {
      graft.functions.registerAll(s)
      val q = queryVec(s, dir, 1L)
      val qLit = q.map(x => s"CAST('$x' AS FLOAT)").mkString("array(", ",", ")")
      s.sql(
        s"""SELECT vec_id, CAST(round(distance * 1000) AS BIGINT) AS dist_milli
           |FROM vfs_knn('$dir/embeddings.parquet', 20, 'cosine', $qLit,
           |             'embedding', 'vec_id')
           |ORDER BY dist_milli ASC, vec_id ASC
           |LIMIT 10""".stripMargin)
    },
      // two-stage like the Spark side: the TVF truncates at k=20 by RAW
      // distance, the outer query re-ranks by rounded millis — the oracle
      // must replicate the raw-distance cut, or a row ranked >20 raw that
      // shares the 10th result's rounded bucket would make the compare
      // data-dependently flaky
      s"""WITH top AS (
         |  SELECT vec_id,
         |         ${duckCos("CAST(embedding AS DOUBLE[])", qSub)} AS d
         |  FROM embeddings
         |  ORDER BY d ASC, vec_id ASC
         |  LIMIT 20)
         |SELECT vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli
         |FROM top
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin),

    // the binary coarse tier from pure SQL text: the TVF returns the
    // 50-candidate set (id, ham, exact distance) and the outer query
    // applies the same milli re-rank the DataFrame form uses — shares
    // q_binary_hamming_knn's oracle derivation
    QuerySpec("sql_tvf_binary_knn", (s, dir) => {
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
    },
      // the TVF form is the same candidate set + the same milli re-rank
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
         |LIMIT 10""".stripMargin),

    // ---- the SAME SQL text as sql_tvf_knn, but ROUTED: a registered
    // IVF index turns the scan into the deferred IvfProbe leaf (the
    // index-scan analog), asserted on the plan; nProbe = nCentroids
    // makes the probe exhaustive, so the result must hash-match the
    // EXACT oracle — certifying the routed executor end-to-end ----
    QuerySpec("sql_tvf_knn_routed", (s, dir) => {
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
    },
      // routed twin: an EXHAUSTIVE probe must reproduce the exact result,
      // so the oracle is the same two-stage exact query
      s"""WITH top AS (
         |  SELECT vec_id,
         |         ${duckCos("CAST(embedding AS DOUBLE[])", qSub)} AS d
         |  FROM embeddings
         |  ORDER BY d ASC, vec_id ASC
         |  LIMIT 20)
         |SELECT vec_id, CAST(round(d * 1000) AS BIGINT) AS dist_milli
         |FROM top
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin),

    // ---- pure-SQL text analysis: the pipeline functions reached
    // entirely through spark.sql over a temp view ----
    QuerySpec("sql_text_analyze", (s, dir) => {
      graft.functions.registerAll(s)
      s.read.parquet(s"$dir/documents.parquet")
        .createOrReplaceTempView("graft_docs")
      s.sql("""SELECT doc_id,
              |  vfs_token_count(text) AS n_tokens,
              |  vfs_lang_id(text) AS lang_pred,
              |  vfs_quality_milli(text) AS quality_milli
              |FROM graft_docs ORDER BY doc_id ASC""".stripMargin)
    },
      sqlTextAnalyzeOracle),

    // ---- the SQL-text surface of boilerplate removal: the same
    // built pages go to parquet and the vfs_boilerplate TVF strips
    // them from pure SQL — shares the operator row's oracle ----
    QuerySpec("sql_tvf_boilerplate", (s, dir) => {
      graft.functions.registerAll(s)
      val page = boilerplatePages(s, dir)
      val in = java.nio.file.Files
        .createTempDirectory("verify-boiler-tvf").toString
      page.write.mode("overwrite").parquet(s"$in/pages")
      s.sql(
        s"""SELECT doc_id, n_kept, n_dropped, clean_text
           |FROM vfs_boilerplate('$in/pages', 5)
           |ORDER BY doc_id ASC""".stripMargin)
    },
      // the TVF form strips the identical pages from pure SQL
      boilerplateOracle),

    // ---- the SQL-text surface of the trigram language ID: the
    // zero-setup TVF form trains on the built-in seed fixture, so
    // the row shares text_langid_ngram's oracle derivation ----
    QuerySpec("sql_tvf_langid", (s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT doc_id, lang_pred, matched, score_milli
           |FROM vfs_langid('$dir/documents.parquet')
           |ORDER BY doc_id ASC""".stripMargin)
    },
      // the TVF's zero-setup form trains on the same seed fixture
      langIdNgramOracle),

    // ---- the SQL-text surface of the quality gate: the same
    // synthetic multi-line corpus goes to parquet, the
    // vfs_quality_gate TVF computes both cascades in one scan, and
    // the POLICY (gopher_pass ∧ ¬page_drop ∧ n_kept ≥ 1) composes as
    // a plain WHERE — output identical to the streaming gate, so the
    // row shares its oracle ----
    QuerySpec("sql_tvf_quality", (s, dir) => {
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
    },
      // the TVF form computes the identical one-scan cascade + policy
      qualityFilterOracle),

    // ---- the SQL-text surface of duplicateSpans: same scan via the
    // vfs_dup_spans TABLE-valued function — shares the spans oracle ----
    QuerySpec("sql_tvf_dup_spans", (s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT doc_id, span_start, span_end, span_tokens
           |FROM vfs_dup_spans('$dir/documents.parquet', 4)
           |ORDER BY doc_id ASC, span_start ASC""".stripMargin)
    },
      // the TVF form is the same scan — shares the oracle
      substringSpansOracle),

    // ---- the per-domain cap from PURE SQL: vfs_domain_cap over a
    // landed crawl table (rank column stored negated to keep the
    // longest) — the TVF delegates to capPerDomain's bounded-
    // histogram selection, so the SQL surface inherits the
    // never-a-single-task-sort shape ----
    QuerySpec("sql_tvf_domain_cap", (s, dir) => {
      graft.functions.registerAll(s)
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-domcap").toString
      webUrls(s, dir).withColumn("neg_chars", negate(col("n_chars")))
        .write.mode("overwrite").parquet(s"$tmp/urls")
      s.sql("SELECT doc_id, vfs_url_domain(url) AS domain FROM " +
        s"vfs_domain_cap('$tmp/urls', 3, 'neg_chars') " +
        "ORDER BY domain ASC, doc_id ASC")
    },
      // the SQL cap selects the SAME rows as the operator form — the
      // web_domain_cap derivation verbatim
      s"""WITH $webUrlCtes,
         |r AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM wn)
         |SELECT doc_id, domain FROM r WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin),

    // ---- the PSL form of the SQL cap: pslSource names the snapshot
    // parquet, so the full eTLD+1 per-publisher cap — including the
    // materialized-stratum recipe — runs from one SQL statement ----
    QuerySpec("sql_tvf_domain_cap_psl", (s, dir) => {
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
    },
      // the PSL SQL cap shares web_domain_cap_psl's derivation
      s"""WITH $webPslCtes,
         |pr AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM pd)
         |SELECT doc_id, domain FROM pr WHERE rn <= 3
         |ORDER BY domain ASC, doc_id ASC""".stripMargin),

    // ---- the TABLE-backed PSL SQL surface: the snapshot lands in a
    // parquet table (the parsed public_suffix_list.dat shape) and the
    // eTLD+1 derives from PURE SQL via vfs_psl_domain_table — the
    // fourth surface for the PSL family (Scala callers already have
    // pslFromTable); same suffix-walk kernel, loaded once at plan
    // time through the gated collect ----
    QuerySpec("sql_psl_domain_table", (s, dir) => {
      import s.implicits._
      graft.functions.registerAll(s)
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-psltab").toString
      graft.operators.WebCuration.PslSampleSnapshot.toDF("suffix")
        .write.mode("overwrite").parquet(s"$tmp/psl")
      webPslUrls(s, dir).createOrReplaceTempView("psl_urls_v")
      s.sql("SELECT doc_id, vfs_psl_domain_table(vfs_url_host(url), " +
        s"'$tmp/psl') AS domain FROM psl_urls_v ORDER BY doc_id ASC")
    },
      // the table-backed SQL surface derives the SAME domains as the
      // plan-time snapshot forms — one oracle derivation, no cap
      s"""WITH $webPslCtes
         |SELECT doc_id, domain FROM pd
         |ORDER BY doc_id ASC""".stripMargin),

    // ---- the vfs_curate TVF: the whole curation pipeline from one
    // SQL call (zero-setup form — trains langid on the seed fixture),
    // sharing pipeline_curate_e2e's oracle verbatim ----
    QuerySpec("sql_tvf_curate", (s, dir) => {
      graft.functions.registerAll(s)
      s.sql(s"SELECT * FROM vfs_curate('$dir/documents.parquet') " +
        "ORDER BY doc_id ASC")
    },
      pipelineCurateOracle),

    // ---- the vfs_budget_sample TVF: weight-budget sampling from
    // pure SQL (budgets as a map literal — the one pipeline family
    // that had no SQL surface); shares q_budget_sample's derivation
    // and oracle verbatim, same bandCap-forced threshold path ----
    QuerySpec("sql_tvf_budget_sample", (s, dir) => {
      graft.functions.registerAll(s)
      val m = budgetSampleBudgets.map { case (k, v) => s"'$k', ${v}L" }
        .mkString(", ")
      s.sql(s"SELECT doc_id, source, n_chars FROM vfs_budget_sample(" +
        s"'$dir/documents.parquet', 'source', 'n_chars', 'text', " +
        s"'doc_id', map($m), 16) ORDER BY doc_id ASC")
    },
      // the TVF twins share the operator rows' oracles verbatim
      budgetSampleOracle),

    // ---- the vfs_mixture TVF: source-mixture sampling from pure SQL
    // — integer weights 50/25/15/10 normalize to exactly the doubles
    // q_mixture_sample passes (correctly-rounded IEEE division), so
    // the TVF shares mixtureSampleOracle verbatim ----
    QuerySpec("sql_tvf_mixture", (s, dir) => {
      graft.functions.registerAll(s)
      s.sql(s"SELECT doc_id, source FROM vfs_mixture(" +
        s"'$dir/documents.parquet', 'source', 'text', 'doc_id', " +
        "map('src0', 50, 'src1', 25, 'src2', 15, 'src3', 10), 16) " +
        "ORDER BY doc_id ASC")
    },
      mixtureSampleOracle),

    // ---- the OHLC TVF from pure SQL text: same operator, same
    // oracle — the SQL surface extends to the time-series family ----
    QuerySpec("sql_tvf_ohlc", (s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT k AS event_type, bucket, n, open_c, high_c, low_c,
           |       close_c
           |FROM vfs_ohlc('$dir/events.parquet', 3600)
           |ORDER BY event_type ASC, bucket ASC""".stripMargin)
    },
      // the TVF is the same operator from SQL text: same oracle
      timeOhlcOracle),

    // ---- the same mining from pure SQL text: the TVF reads the two
    // halves from stored parquet and delegates to marginPairs, so the
    // row shares the operator row's oracle verbatim ----
    QuerySpec("sql_tvf_margin_pairs", (s, dir) => {
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
    },
      s"""$miningMarginCtes
         |SELECT src_id, tgt_id, sim_micro, margin_milli
         |FROM ranked
         |WHERE cand_rank = 1 AND margin_milli >= 1000
         |ORDER BY src_id ASC""".stripMargin),

    // ---- the LSH dedup family from pure SQL text: same pipeline,
    // same oracle as dedup_minhash_lsh ----
    QuerySpec("sql_tvf_minhash_pairs", (s, dir) => {
      graft.functions.registerAll(s)
      s.sql(
        s"""SELECT a, b, jaccard_milli
           |FROM vfs_minhash_pairs('$dir/documents.parquet', 0.9)
           |ORDER BY a ASC, b ASC""".stripMargin)
    },
      minHashLshOracle),

    // ---- the vfs_dsir TVF: DSIR importance from pure SQL — target
    // corpus landed as a parquet path (the builder trains the word
    // model in place; a saveWordModel artifact is the standing form),
    // raw defaulting to the scored corpus; shares the operator row's
    // oracle verbatim ----
    QuerySpec("sql_tvf_dsir", (s, dir) => {
      graft.functions.registerAll(s)
      val td = java.nio.file.Files
        .createTempDirectory("verify-dsir-target").toString
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src0")
        .write.mode("overwrite").parquet(td)
      s.sql(s"SELECT * FROM vfs_dsir('$dir/documents.parquet', " +
        s"'$td') ORDER BY doc_id ASC")
    },
      s"""WITH $dsirCtes
         |SELECT doc_id, n_words, imp_milli FROM dimp
         |ORDER BY doc_id ASC""".stripMargin),

    // ---- the vfs_stratified_sample TVF: stratified top-n from pure
    // SQL, sharing q_stratified_sample's derivation and oracle ----
    QuerySpec("sql_tvf_stratified_sample", (s, dir) => {
      graft.functions.registerAll(s)
      s.sql("SELECT lang, doc_id, n_chars FROM vfs_stratified_sample(" +
        s"'$dir/documents.parquet', 'lang', 'text', 'doc_id', 3, 2) " +
        "ORDER BY lang ASC, doc_id ASC")
    },
      stratifiedSampleOracle),

    // ---- the vfs_temperature_sample TVF over the SAME skew-induced
    // corpus as q_temperature_sample (landed in parquet — TVF inputs
    // are paths), sharing its oracle verbatim ----
    QuerySpec("sql_tvf_temperature_sample", (s, dir) => {
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
    },
      temperatureSampleOracle),

    // ---- the vfs_sig_pairs TVF: audio prints PERSISTED as a plain
    // parquet fingerprint table, paired from pure SQL text — must
    // hash-match the multimodal_audio_neardup derivation exactly ----
    QuerySpec("sql_tvf_sig_pairs", (s, dir) => {
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
    },
      // the vfs_sig_pairs TVF over PERSISTED audio prints: identical
      // derivation (and identical result) to multimodal_audio_neardup —
      // the SQL reachability proof for the media near-dup family
      s"""WITH $audioSigCtes,
        |${sigBandFoldTail(16)}""".stripMargin)
  )

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
}
