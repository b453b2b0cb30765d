package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Pure-SQL surface: the reference exposes its whole API over one
  * endpoint (vfs/src/vfs/tcp.rs:107-150); here the analog is making
  * every operator reachable from `spark.sql` text. Scalar functions
  * are registered by [[graft.GraftExtensions]] / `functions
  * .registerAll`; this object adds the TABLE-level surface:
  *
  *   - `vfs_knn(path, k, metric, query[, vecCol, idCol])` — a
  *     table-valued function producing the top-k rows, planned through
  *     [[KnnSearch]] so the IVF routing rule applies to SQL text
  *     exactly as it does to the DataFrame API:
  *     {{{ SELECT id, distance FROM vfs_knn('/data/emb', 5, 'cosine',
  *         array(0.1F, ...)) }}}
  *   - [[registerStore]] / [[registerIndex]] — temp views over a
  *     store's live table and an IVF index's internals.
  */
object SqlSurface {

  /** TVF builder for `vfs_knn`. All arguments must be literals (SQL
    * table arguments are resolved before any row exists). The scanned
    * table must carry `idCol` (default "id") and `vecCol` (default
    * "values"); the output appends `distance`. */
  private[graft] def vfsKnnBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_knn(path, k, metric, query[, vecCol, idCol]): $msg")
    if (es.length < 4 || es.length > 6)
      fail(s"expected 4-6 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    // NULL literals are foldable — they must hit the [GRAFT] error,
    // not a bare NullPointerException downstream
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val path = evalNonNull(0, "path").toString
    val k = evalNonNull(1, "k") match {
      case i: Int => i
      // a BIGINT literal narrows — reject out-of-range instead of
      // silently truncating to a different k
      case l: Long if l == l.toInt => l.toInt
      case l: Long => fail(s"k out of int range: $l")
      case other => fail(s"k must be an integer literal, got $other")
    }
    val metric = evalNonNull(2, "metric").toString
    val q: Array[Float] = es(3).dataType match {
      case ArrayType(et, _) =>
        val arr = evalNonNull(3, "query").asInstanceOf[ArrayData]
        et match {
          case FloatType => arr.toFloatArray()
          case DoubleType => arr.toDoubleArray().map(_.toFloat)
          case IntegerType => arr.toIntArray().map(_.toFloat)
          case LongType => arr.toLongArray().map(_.toFloat)
          case dt: DecimalType =>
            (0 until arr.numElements()).map(i =>
              arr.get(i, dt).asInstanceOf[Decimal].toFloat).toArray
          case other => fail(s"unsupported query element type $other")
        }
      case other => fail(s"query must be an array literal, got $other")
    }
    val vecCol = if (es.length >= 5) evalNonNull(4, "vecCol").toString
      else "values"
    val idCol = if (es.length >= 6) evalNonNull(5, "idCol").toString
      else "id"
    // project to exactly (idCol, vecCol): the routing rule only serves
    // bare two-column scans, so an indexed location registered for
    // these columns routes — unindexed paths fall through to exact
    val rel = SparkSession.active.read.parquet(path)
      .select(col(idCol), col(vecCol))
      .queryExecution.analyzed
    val node = KnnSearch(rel, q.toIndexedSeq, k, metric, vecCol, idCol)
    // pre-apply routing + the exact rewrite: the returned plan is fully
    // resolved, so the TVF works in sessions WITHOUT the injected
    // resolution rules (functions.registerAll path) and identically in
    // extension sessions (their rules see no KnnSearch left to touch)
    ResolveKnnSearch(RouteKnnToIvf(node))
  }

  /** TVF builder for `vfs_bm25(path, terms[, textCol, idCol])` —
    * `terms` is ONE whitespace-separated literal string (SQL table
    * arguments are literal-only, same constraint as [[vfsKnnBuilder]]).
    * Produces (idCol, score_milli > 0) with
    * [[graft.operators.TextAnalysis.bm25Scores]]' exact-integer milli
    * scores:
    * {{{ SELECT * FROM vfs_bm25('/data/docs', 'vector join spark') }}}
    * The corpus stats aggregate (bm25's one driver-side pass) runs at
    * analysis time; the returned plan is the pure scoring scan. */
  private[graft] def vfsBm25Builder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_bm25(path, terms[, textCol, idCol]): $msg")
    if (es.length < 2 || es.length > 4)
      fail(s"expected 2-4 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val path = evalNonNull(0, "path").toString
    val terms = evalNonNull(1, "terms").toString.trim
      .split("\\s+").toSeq.filter(_.nonEmpty)
    if (terms.isEmpty) fail("terms must contain at least one token")
    if (terms.distinct != terms) fail("duplicate terms")
    val textCol = if (es.length >= 3) evalNonNull(2, "textCol").toString
      else "text"
    val idCol = if (es.length >= 4) evalNonNull(3, "idCol").toString
      else "doc_id"
    graft.operators.TextAnalysis.bm25Scores(
        SparkSession.active.read.parquet(path), terms, textCol, idCol)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_lm_score(docsPath[, modelPath, textCol,
    * idCol])` — bigram LM quality scores
    * ([[graft.operators.TextAnalysis.scoreLm]], integer milli). With
    * a `modelPath` the docs are scored against that STANDING
    * [[graft.operators.TextAnalysis.saveLmModel]] artifact (the
    * production form); with one argument the corpus self-scores
    * (model trained on the scored table itself):
    * {{{ SELECT * FROM vfs_lm_score('/data/docs')
    *     WHERE mean_invp_milli > 30000 }}} */
  private[graft] def vfsLmScoreBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_lm_score(docsPath[, modelPath, textCol, idCol]): $msg")
    if (es.isEmpty || es.length > 4)
      fail(s"expected 1-4 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val spark = SparkSession.active
    val docsPath = evalNonNull(0, "docsPath").toString
    val textCol = if (es.length >= 3) evalNonNull(2, "textCol").toString
      else "text"
    val idCol = if (es.length >= 4) evalNonNull(3, "idCol").toString
      else "doc_id"
    val docs = spark.read.parquet(docsPath)
    val model = if (es.length >= 2)
      graft.operators.TextAnalysis.loadLmModel(spark,
        evalNonNull(1, "modelPath").toString)
    else graft.operators.TextAnalysis.lmModel(docs, textCol)
    graft.operators.TextAnalysis.scoreLm(docs, model, idCol, textCol)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_dsir(docsPath, targetPath[, rawPath,
    * textCol, idCol])` — DSIR importance scores
    * ([[graft.operators.TextAnalysis.importanceMilli]]: add-one-
    * smoothed target/raw unigram likelihood ratios in milli).
    * `targetPath` and `rawPath` each accept EITHER a docs parquet (a
    * word model trains in place) OR a
    * [[graft.operators.TextAnalysis.saveWordModel]] artifact
    * (detected by its `words.json` — the standing production form:
    * train once, score every batch); `rawPath` defaults to the scored
    * corpus itself.
    * {{{ SELECT * FROM vfs_dsir('/data/docs', '/models/target_wm')
    *     WHERE imp_milli >= 1500 }}} */
  private[graft] def vfsDsirBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      "[GRAFT] vfs_dsir(docsPath, targetPath[, rawPath, textCol, " +
        s"idCol]): $msg")
    if (es.length < 2 || es.length > 5)
      fail(s"expected 2-5 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val spark = SparkSession.active
    val docsPath = evalNonNull(0, "docsPath").toString
    val textCol = if (es.length >= 4) evalNonNull(3, "textCol").toString
      else "text"
    val idCol = if (es.length >= 5) evalNonNull(4, "idCol").toString
      else "doc_id"
    import graft.operators.{ArtifactIo, TextAnalysis => TA}
    def modelOf(path: String): TA.WordModel =
      if (ArtifactIo.fileExists(path, "words.json"))
        TA.loadWordModel(spark, path)
      else TA.wordModel(spark.read.parquet(path), textCol)
    val docs = spark.read.parquet(docsPath)
    val target = modelOf(evalNonNull(1, "targetPath").toString)
    val raw =
      if (es.length >= 3) modelOf(evalNonNull(2, "rawPath").toString)
      else TA.wordModel(docs, textCol)
    TA.importanceMilli(docs, target, raw, idCol, textCol)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_langid(docsPath[, modelPath, textCol,
    * idCol])` — trigram language-ID scores
    * ([[graft.operators.TextAnalysis.scoreLangId]], integer milli,
    * deterministic argmax). With a `modelPath` the docs are scored
    * against that STANDING model parquet — any (gram, lang,
    * weight_milli) frame, e.g. a persisted
    * [[graft.operators.TextAnalysis.trainLangId]] output (the
    * production form: train once on a labeled corpus, score
    * everything). With one argument the model trains in-place on the
    * built-in seed fixture (the zero-setup form):
    * {{{ SELECT * FROM vfs_langid('/data/docs')
    *     WHERE lang_pred = 'en' }}} */
  private[graft] def vfsLangIdBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_langid(docsPath[, modelPath, textCol, idCol]): $msg")
    if (es.isEmpty || es.length > 4)
      fail(s"expected 1-4 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val spark = SparkSession.active
    val docsPath = evalNonNull(0, "docsPath").toString
    val textCol = if (es.length >= 3) evalNonNull(2, "textCol").toString
      else "text"
    val idCol = if (es.length >= 4) evalNonNull(3, "idCol").toString
      else "doc_id"
    val model = if (es.length >= 2)
      spark.read.parquet(evalNonNull(1, "modelPath").toString)
    else graft.operators.TextAnalysis.trainLangId(
      spark.createDataFrame(
        graft.operators.TextAnalysis.LangIdSeedCorpus)
        .toDF("lang", "text"))
    graft.operators.TextAnalysis.scoreLangId(
        SparkSession.active.read.parquet(docsPath), model,
        textCol, idCol)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_ohlc(path, stepSec[, keyCol, tsCol,
    * valueCol])` — bucketed OHLC bars
    * ([[graft.operators.TimeSeries.ohlc]]) from pure SQL text:
    * {{{ SELECT k, bucket, open_c, close_c
    *     FROM vfs_ohlc('/data/events', 3600) }}}
    * The scanned table's time column may be TIMESTAMP, TIMESTAMP_NTZ,
    * or LONG epoch-nanos — normalized via
    * [[graft.operators.TimeNorm]] like every time-taking operator. */
  private[graft] def vfsOhlcBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_ohlc(path, stepSec[, keyCol, tsCol, valueCol]): $msg")
    if (es.length < 2 || es.length > 5)
      fail(s"expected 2-5 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val path = evalNonNull(0, "path").toString
    val stepSec = evalNonNull(1, "stepSec") match {
      case i: Int => i.toLong
      case l: Long => l
      case other => fail(s"stepSec must be an integer literal, got $other")
    }
    val keyCol = if (es.length >= 3) evalNonNull(2, "keyCol").toString
      else "event_type"
    val tsCol = if (es.length >= 4) evalNonNull(3, "tsCol").toString
      else "ts"
    val valueCol = if (es.length >= 5) evalNonNull(4, "valueCol").toString
      else "value"
    val events = SparkSession.active.read.parquet(path)
    // normalize BEFORE the operator so the TVF also serves the
    // LONG-nanos flavor (epochMicros alone can't see a long's unit)
    graft.operators.TimeSeries.ohlc(
        graft.operators.TimeNorm.normalize(events, tsCol),
        col(keyCol), col(tsCol), col(valueCol), stepSec)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_dup_spans(path, k[, textCol, idCol])` —
    * ExactSubstr maximal duplicated spans
    * ([[graft.operators.Dedup.duplicateSpans]]) from pure SQL text:
    * {{{ SELECT doc_id, span_start, span_tokens
    *     FROM vfs_dup_spans('/data/docs', 5)
    *     WHERE span_tokens >= 50 }}} */
  private[graft] def vfsDupSpansBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_dup_spans(path, k[, textCol, idCol]): $msg")
    if (es.length < 2 || es.length > 4)
      fail(s"expected 2-4 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val path = evalNonNull(0, "path").toString
    val k = evalNonNull(1, "k") match {
      case i: Int => i
      // a BIGINT literal narrows — reject out-of-range instead of
      // silently truncating to a different k
      case l: Long if l == l.toInt => l.toInt
      case l: Long => fail(s"k out of int range: $l")
      case other => fail(s"k must be an integer literal, got $other")
    }
    val textCol = if (es.length >= 3) evalNonNull(2, "textCol").toString
      else "text"
    val idCol = if (es.length >= 4) evalNonNull(3, "idCol").toString
      else "doc_id"
    graft.operators.Dedup.duplicateSpans(
        SparkSession.active.read.parquet(path), k, textCol, idCol)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_minhash_pairs(path, threshold[, textCol,
    * idCol])` — MinHash-LSH near-dup pairs
    * ([[graft.operators.Dedup.minHashLsh]]: bucket-fold candidates +
    * exact-jaccard verify) from pure SQL text:
    * {{{ SELECT a, b, jaccard_milli
    *     FROM vfs_minhash_pairs('/data/docs', 0.9)
    *     WHERE jaccard_milli < 1000 }}} */
  private[graft] def vfsMinhashPairsBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_minhash_pairs(path, threshold[, textCol, idCol]): $msg")
    if (es.length < 2 || es.length > 4)
      fail(s"expected 2-4 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val path = evalNonNull(0, "path").toString
    // SQL numeric literals arrive as DECIMAL (0.9), DOUBLE (0.9D) or
    // integers — accept them all, reject anything outside (0, 1]
    val threshold = evalNonNull(1, "threshold") match {
      case d: Double => d
      case f: Float => f.toDouble
      case d: Decimal => d.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case other => fail(s"threshold must be a numeric literal, got $other")
    }
    if (threshold <= 0.0 || threshold > 1.0)
      fail(s"threshold must be in (0, 1], got $threshold")
    val textCol = if (es.length >= 3) evalNonNull(2, "textCol").toString
      else "text"
    val idCol = if (es.length >= 4) evalNonNull(3, "idCol").toString
      else "doc_id"
    graft.operators.Dedup.minHashLsh(
        SparkSession.active.read.parquet(path), threshold, textCol, idCol)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_curate(docsPath[, modelPath, minQuality,
    * minTokens, maxTokens, binCapacity])` — the FULL curation
    * pipeline ([[graft.operators.Curation.curateAndPack]]: quality
    * gate → simhash near-dup keep-first → language ID →
    * per-language next-fit packing) from one SQL call:
    * {{{ SELECT doc_id, lang_code, bin_id
    *     FROM vfs_curate('/data/docs')
    *     WHERE overflow = 0 }}}
    * With a `modelPath` the language scorer uses that STANDING model
    * parquet (any (gram, lang, weight_milli) frame — the production
    * form); with one argument it trains on the built-in seed fixture
    * (the zero-setup form, like `vfs_langid`). */
  private[graft] def vfsCurateBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_curate(docsPath[, modelPath, minQuality, " +
        s"minTokens, maxTokens, binCapacity]): $msg")
    if (es.isEmpty || es.length > 6)
      fail(s"expected 1-6 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    def longArg(i: Int, what: String): Long = evalNonNull(i, what) match {
      case n: Int => n.toLong
      case l: Long => l
      case other => fail(s"$what must be an integer literal, got $other")
    }
    val spark = SparkSession.active
    val docsPath = evalNonNull(0, "docsPath").toString
    val model = if (es.length >= 2)
      spark.read.parquet(evalNonNull(1, "modelPath").toString)
    else graft.operators.TextAnalysis.trainLangId(
      spark.createDataFrame(
        graft.operators.TextAnalysis.LangIdSeedCorpus)
        .toDF("lang", "text"))
    val minQuality = if (es.length >= 3) longArg(2, "minQuality")
      else 650L
    val minTokens = if (es.length >= 4) longArg(3, "minTokens") else 20L
    val maxTokens = if (es.length >= 5) longArg(4, "maxTokens") else 90L
    val binCapacity = if (es.length >= 6) {
      val c = longArg(5, "binCapacity")
      if (c <= 0 || c > Int.MaxValue)
        fail(s"binCapacity out of range: $c")
      c.toInt
    } else 256
    graft.operators.Curation.curateAndPack(
        spark.read.parquet(docsPath), model, minQuality, minTokens,
        maxTokens, binCapacity)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_sig_pairs(path, maxHamming[, maxBucket,
    * idCol, sigCol])` — near-dup pairs over a STORED 64-bit
    * fingerprint table ([[graft.operators.Dedup.sigPairs]]: the
    * shared 4×16-band bucket fold with inline hamming), making the
    * media near-dup family SQL-reachable: persist any fingerprint
    * kernel's (id, sig) prints (audio energy-delta, video
    * frame-intensity, image dHash, text simhash — or a
    * [[graft.operators.SigIndex]] artifact's `sigs/` dir) and pair
    * them from pure SQL text:
    * {{{ SELECT a, b, hamming
    *     FROM vfs_sig_pairs('/data/prints', 3)
    *     WHERE hamming <= 1 }}} */
  private[graft] def vfsSigPairsBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_sig_pairs(path, maxHamming[, maxBucket, idCol, " +
        s"sigCol]): $msg")
    if (es.length < 2 || es.length > 5)
      fail(s"expected 2-5 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    def intArg(i: Int, what: String): Int = evalNonNull(i, what) match {
      case n: Int => n
      case l: Long if l == l.toInt => l.toInt
      case l: Long => fail(s"$what out of int range: $l")
      case other => fail(s"$what must be an integer literal, got $other")
    }
    val path = evalNonNull(0, "path").toString
    val maxHamming = intArg(1, "maxHamming")
    if (maxHamming < 0 || maxHamming > 3)
      fail(s"4-band blocking covers maxHamming in [0, 3], got $maxHamming")
    val maxBucket = if (es.length >= 3) intArg(2, "maxBucket") else 1000
    if (maxBucket <= 0) fail(s"maxBucket must be positive, got $maxBucket")
    val idCol = if (es.length >= 4) evalNonNull(3, "idCol").toString
      else "id"
    val sigCol = if (es.length >= 5) evalNonNull(4, "sigCol").toString
      else "sig"
    graft.operators.Dedup.sigPairs(
        SparkSession.active.read.parquet(path), maxHamming, idCol,
        sigCol, maxBucket)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_margin_pairs(srcPath, tgtPath[, k,
    * minMarginMilli, idCol, vecCol])` — margin-based embedding pair
    * mining ([[graft.operators.Mining.marginPairs]]: the Artetxe &
    * Schwenk ratio margin over brute-force cosine top-k both ways)
    * from pure SQL text, over two stored (id, vector) tables:
    * {{{ SELECT src_id, tgt_id, margin_milli
    *     FROM vfs_margin_pairs('/data/en', '/data/fr', 4, 1050) }}} */
  private[graft] def vfsMarginPairsBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_margin_pairs(srcPath, tgtPath[, k, minMarginMilli, " +
        s"idCol, vecCol]): $msg")
    if (es.length < 2 || es.length > 6)
      fail(s"expected 2-6 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    def longArg(i: Int, what: String): Long = evalNonNull(i, what) match {
      case n: Int => n.toLong
      case l: Long => l
      case other => fail(s"$what must be an integer literal, got $other")
    }
    val spark = SparkSession.active
    val srcPath = evalNonNull(0, "srcPath").toString
    val tgtPath = evalNonNull(1, "tgtPath").toString
    val k = if (es.length >= 3) {
      val v = longArg(2, "k")
      if (v <= 0 || v > 1000) fail(s"k out of range (1..1000): $v")
      v.toInt
    } else 4
    val minMargin = if (es.length >= 4) longArg(3, "minMarginMilli")
      else 1000L
    val idCol = if (es.length >= 5) evalNonNull(4, "idCol").toString
      else "id"
    val vecCol = if (es.length >= 6) evalNonNull(5, "vecCol").toString
      else "values"
    graft.operators.Mining.marginPairs(spark,
        spark.read.parquet(srcPath), spark.read.parquet(tgtPath),
        k, minMargin, idCol, vecCol)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_binary_knn(path, query, candidates[,
    * vecCol, idCol])` — the 1-bit binary-quantization coarse tier
    * from pure SQL text: packs the query's sign bits once, scores the
    * table by codegen'd XOR+popcount Hamming, returns the
    * `candidates` nearest rows by (ham, id) WITH their exact
    * euclidean distance, so the outer query re-ranks/limits however
    * it wants (the composable candidate-set form — the same two-stage
    * shape `q_binary_hamming_knn` uses):
    * {{{ SELECT id, ham, distance
    *     FROM vfs_binary_knn('/data/emb', array(0.1F, ...), 50)
    *     ORDER BY distance LIMIT 10 }}} */
  private[graft] def vfsBinaryKnnBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_binary_knn(path, query, candidates[, vecCol, idCol]): $msg")
    if (es.length < 3 || es.length > 5)
      fail(s"expected 3-5 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val path = evalNonNull(0, "path").toString
    val q: Array[Float] = es(1).dataType match {
      case ArrayType(et, _) =>
        val arr = evalNonNull(1, "query").asInstanceOf[ArrayData]
        // a NULL element would make toFloatArray()/the typed twins
        // throw an opaque NPE — route it through the clean contract
        if ((0 until arr.numElements()).exists(arr.isNullAt(_)))
          fail("query must not contain NULL elements")
        et match {
          case FloatType => arr.toFloatArray()
          case DoubleType => arr.toDoubleArray().map(_.toFloat)
          case IntegerType => arr.toIntArray().map(_.toFloat)
          case LongType => arr.toLongArray().map(_.toFloat)
          case dt: DecimalType =>
            (0 until arr.numElements()).map(i =>
              arr.get(i, dt).asInstanceOf[Decimal].toFloat).toArray
          case other => fail(s"unsupported query element type $other")
        }
      case other => fail(s"query must be an array literal, got $other")
    }
    if (q.isEmpty) fail("query must not be empty")
    val candidates = evalNonNull(2, "candidates") match {
      case i: Int => i
      case l: Long if l == l.toInt => l.toInt
      case l: Long => fail(s"candidates out of int range: $l")
      case other => fail(s"candidates must be an integer literal, got $other")
    }
    if (candidates <= 0) fail("candidates must be positive")
    val vecCol = if (es.length >= 4) evalNonNull(3, "vecCol").toString
      else "values"
    val idCol = if (es.length >= 5) evalNonNull(4, "idCol").toString
      else "id"
    import org.apache.spark.sql.functions.typedLit
    val packed = graft.functions.BinaryQuantMath.packFloats(q).toSeq
    SparkSession.active.read.parquet(path)
      .select(col(idCol), col(vecCol),
        graft.functions.vfs_hamming(
          graft.functions.vfs_binary_quantize(col(vecCol)),
          typedLit(packed)).as("ham"))
      .filter(col("ham").isNotNull) // null-element rows: never candidates
      .orderBy(col("ham").asc, col(idCol).asc)
      .limit(candidates)
      .select(col(idCol), col("ham"),
        graft.functions.vfs_euclidean(col(vecCol), typedLit(q.toSeq))
          .as("distance"))
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_quality_gate(path[, minWords, textCol,
    * idCol])` — the one-scan Gopher + C4 filter cascade
    * ([[graft.operators.TextAnalysis.qualityGate]]: every gopher
    * signal column plus every C4 cleaning column from ONE projection
    * over the text) from pure SQL text, completing the TVF family:
    * {{{ SELECT doc_id, clean_text FROM
    *     vfs_quality_gate('/data/docs')
    *     WHERE gopher_pass = 1 AND page_drop = 0 AND n_kept >= 1 }}}
    * The WHERE stays with the caller — the gate computes signals,
    * policy composes in SQL (exactly the streaming ingest loop's
    * split of labor). */
  private[graft] def vfsQualityGateBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_quality_gate(path[, minWords, textCol, idCol]): $msg")
    if (es.isEmpty || es.length > 4)
      fail(s"expected 1-4 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val path = evalNonNull(0, "path").toString
    val minWords = if (es.length >= 2) evalNonNull(1, "minWords") match {
      case i: Int => i
      case l: Long if l == l.toInt => l.toInt
      case l: Long => fail(s"minWords out of int range: $l")
      case other => fail(s"minWords must be an integer literal, got $other")
    } else 5
    if (minWords < 1) fail(s"minWords must be >= 1, got $minWords")
    val textCol = if (es.length >= 3) evalNonNull(2, "textCol").toString
      else "text"
    val idCol = if (es.length >= 4) evalNonNull(3, "idCol").toString
      else "doc_id"
    graft.operators.TextAnalysis.qualityGate(
        SparkSession.active.read.parquet(path), textCol, idCol, minWords)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_boilerplate(path[, minDocFreq, textCol,
    * idCol])` — corpus-level boilerplate-line removal
    * ([[graft.operators.Dedup.stripBoilerplate]]: a non-blank line
    * whose trimmed text appears in ≥ minDocFreq distinct documents
    * drops from ALL of them; survivors rejoin in original order)
    * from pure SQL text:
    * {{{ SELECT doc_id, clean_text FROM
    *     vfs_boilerplate('/data/docs', 1000)
    *     WHERE n_kept >= 1 }}}
    * Policy (what to do with fully-boilerplate docs) stays with the
    * caller, the [[vfsQualityGateBuilder]] split of labor. */
  private[graft] def vfsBoilerplateBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"[GRAFT] vfs_boilerplate(path[, minDocFreq, textCol, idCol]): $msg")
    if (es.isEmpty || es.length > 4)
      fail(s"expected 1-4 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    val path = evalNonNull(0, "path").toString
    val minDocFreq = if (es.length >= 2)
      evalNonNull(1, "minDocFreq") match {
        case i: Int => i.toLong
        case l: Long => l
        case other =>
          fail(s"minDocFreq must be an integer literal, got $other")
      } else 5L
    if (minDocFreq < 2L) fail(s"minDocFreq must be >= 2, got $minDocFreq")
    val textCol = if (es.length >= 3) evalNonNull(2, "textCol").toString
      else "text"
    val idCol = if (es.length >= 4) evalNonNull(3, "idCol").toString
      else "doc_id"
    graft.operators.Dedup.stripBoilerplate(
        SparkSession.active.read.parquet(path), minDocFreq, textCol, idCol)
      .queryExecution.analyzed
  }

  /** Parse a foldable MAP literal argument (`map('s1', 1000, ...)`)
    * into string→long pairs — the budget/weight argument shape shared
    * by [[vfsBudgetSampleBuilder]] and [[vfsMixtureBuilder]]. */
  private def mapArg(e: Expression, what: String,
      fail: String => Nothing): Seq[(String, Long)] = e.dataType match {
    case MapType(_: StringType, vt, _) =>
      val m = e.eval()
      if (m == null) fail(s"$what must not be NULL")
      val md = m.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      val ks = md.keyArray()
      val vs = md.valueArray()
      (0 until md.numElements()).map { i =>
        if (vs.isNullAt(i)) fail(s"$what has a NULL value")
        val v = vt match {
          case IntegerType => vs.getInt(i).toLong
          case LongType => vs.getLong(i)
          case other => fail(s"$what values must be integers, got $other")
        }
        ks.getUTF8String(i).toString -> v
      }
    case other => fail(s"$what must be a map literal, got $other")
  }

  /** Shared literal-argument parsing for the TVF builders — each
    * caller passes its own signature-naming `fail`, so errors keep
    * the builder's usage string. One copy of the Int|Long coercions:
    * a literal-handling fix lands once, not per builder. */
  private object TvfArgs {
    def evalNonNull(es: Seq[Expression], i: Int, what: String,
        fail: String => Nothing): Any = {
      val v = es(i).eval()
      if (v == null) fail(s"$what must not be NULL")
      v
    }
    def intArg(es: Seq[Expression], i: Int, what: String,
        fail: String => Nothing): Int =
      evalNonNull(es, i, what, fail) match {
        case n: Int => n
        case l: Long if l == l.toInt => l.toInt
        case other => fail(s"$what must be an integer literal, got $other")
      }
    def longArg(es: Seq[Expression], i: Int, what: String,
        fail: String => Nothing): Long =
      evalNonNull(es, i, what, fail) match {
        case n: Int => n.toLong
        case l: Long => l
        case other => fail(s"$what must be an integer literal, got $other")
      }
    /** Optional trailing bandCap argument, defaulting to the
      * operators' 100k. */
    def bandCap(es: Seq[Expression], i: Int,
        fail: String => Nothing): Long =
      if (es.length > i) longArg(es, i, "bandCap", fail) else 100000L
  }

  /** TVF builder for `vfs_budget_sample(path, stratumCol, weightCol,
    * keyCol, tiebreakCol, budgets[, bandCap])` — deterministic
    * per-stratum weight-budget sampling
    * ([[graft.operators.Sampling.budgetSample]]: walk each stratum in
    * (content-hash, tiebreak) order, keep rows while the cumulative
    * weight before them is under the stratum's budget); `budgets` is
    * a `map('src', 10000, ...)` literal — strata absent from it drop:
    * {{{ SELECT * FROM vfs_budget_sample('/data/docs', 'source',
    *     'n_chars', 'text', 'doc_id', map('web', 50000, 'books', 20000)) }}}
    * Sampling was the one pipeline family without a SQL surface —
    * boilerplate/URL/DSIR each have their TVF twin; this and
    * [[vfsMixtureBuilder]] close the gap. */
  private[graft] def vfsBudgetSampleBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      "[GRAFT] vfs_budget_sample(path, stratumCol, weightCol, keyCol, " +
        s"tiebreakCol, budgets[, bandCap]): $msg")
    if (es.length < 6 || es.length > 7)
      fail(s"expected 6-7 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any =
      TvfArgs.evalNonNull(es, i, what, fail)
    val path = evalNonNull(0, "path").toString
    val stratumCol = evalNonNull(1, "stratumCol").toString
    val weightCol = evalNonNull(2, "weightCol").toString
    val keyCol = evalNonNull(3, "keyCol").toString
    val tiebreakCol = evalNonNull(4, "tiebreakCol").toString
    val budgets = mapArg(es(5), "budgets", fail)
    if (budgets.isEmpty) fail("budgets must not be empty")
    val bandCap = TvfArgs.bandCap(es, 6, fail)
    graft.operators.Sampling.budgetSample(
        SparkSession.active.read.parquet(path), col(stratumCol),
        col(weightCol), col(keyCol), col(tiebreakCol), budgets.toMap,
        bandCap)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_mixture(path, sourceCol, keyCol,
    * tiebreakCol, weights[, bandCap])` — deterministic source-mixture
    * sampling ([[graft.operators.Sampling.mixtureSample]]: the
    * LARGEST subsample whose per-source composition matches the
    * normalized `weights` map; integer weights express ratios —
    * `map('web', 7, 'books', 3)` is 70/30):
    * {{{ SELECT * FROM vfs_mixture('/data/docs', 'source', 'text',
    *     'doc_id', map('s1', 7, 's2', 3)) }}} */
  private[graft] def vfsMixtureBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      "[GRAFT] vfs_mixture(path, sourceCol, keyCol, tiebreakCol, " +
        s"weights[, bandCap]): $msg")
    if (es.length < 5 || es.length > 6)
      fail(s"expected 5-6 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any =
      TvfArgs.evalNonNull(es, i, what, fail)
    val path = evalNonNull(0, "path").toString
    val sourceCol = evalNonNull(1, "sourceCol").toString
    val keyCol = evalNonNull(2, "keyCol").toString
    val tiebreakCol = evalNonNull(3, "tiebreakCol").toString
    val weights = mapArg(es(4), "weights", fail)
    if (weights.isEmpty) fail("weights must not be empty")
    if (weights.exists(_._2 <= 0L)) fail("weights must be positive")
    val bandCap = TvfArgs.bandCap(es, 5, fail)
    // ListMap: mixtureSample's normalization folds in map order — pin
    // the SQL argument order so the derivation is reproducible
    graft.operators.Sampling.mixtureSample(
        SparkSession.active.read.parquet(path), col(sourceCol),
        col(keyCol), col(tiebreakCol),
        scala.collection.immutable.ListMap(
          weights.map { case (k, v) => k -> v.toDouble }: _*),
        bandCap)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_stratified_sample(path, stratumCol, keyCol,
    * tiebreakCol, n[, bandCap])` — deterministic stratified top-n
    * ([[graft.operators.Sampling.stratifiedTopN]]: each stratum's n
    * rows with the smallest (content-hash, tiebreak), engine-portable
    * and append-stable):
    * {{{ SELECT * FROM vfs_stratified_sample('/data/docs', 'lang',
    *     'text', 'doc_id', 3) }}} */
  private[graft] def vfsStratifiedSampleBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      "[GRAFT] vfs_stratified_sample(path, stratumCol, keyCol, " +
        s"tiebreakCol, n[, bandCap]): $msg")
    if (es.length < 5 || es.length > 6)
      fail(s"expected 5-6 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any =
      TvfArgs.evalNonNull(es, i, what, fail)
    val path = evalNonNull(0, "path").toString
    val stratumCol = evalNonNull(1, "stratumCol").toString
    val keyCol = evalNonNull(2, "keyCol").toString
    val tiebreakCol = evalNonNull(3, "tiebreakCol").toString
    val n = TvfArgs.intArg(es, 4, "n", fail)
    val bandCap = TvfArgs.bandCap(es, 5, fail)
    graft.operators.Sampling.stratifiedTopN(
        SparkSession.active.read.parquet(path), col(stratumCol),
        col(keyCol), col(tiebreakCol), n, bandCap)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_temperature_sample(path, sourceCol, keyCol,
    * tiebreakCol[, alpha, bandCap])` — α-smoothed source rebalancing
    * ([[graft.operators.Sampling.temperatureSample]]: target share ∝
    * n_s^α; α = 0.5, the engine-portable default, is also the only
    * ORACLE-pinnable one — sqrt is correctly-rounded IEEE, pow is
    * not):
    * {{{ SELECT * FROM vfs_temperature_sample('/data/docs', 'source',
    *     'text', 'doc_id') }}} */
  private[graft] def vfsTemperatureSampleBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      "[GRAFT] vfs_temperature_sample(path, sourceCol, keyCol, " +
        s"tiebreakCol[, alpha, bandCap]): $msg")
    if (es.length < 4 || es.length > 6)
      fail(s"expected 4-6 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any =
      TvfArgs.evalNonNull(es, i, what, fail)
    val path = evalNonNull(0, "path").toString
    val sourceCol = evalNonNull(1, "sourceCol").toString
    val keyCol = evalNonNull(2, "keyCol").toString
    val tiebreakCol = evalNonNull(3, "tiebreakCol").toString
    val alpha = if (es.length >= 5) evalNonNull(4, "alpha") match {
      case d: Double => d
      case d: java.math.BigDecimal => d.doubleValue()
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case i: Int => i.toDouble
      case other => fail(s"alpha must be a numeric literal, got $other")
    } else 0.5
    val bandCap = TvfArgs.bandCap(es, 5, fail)
    graft.operators.Sampling.temperatureSample(
        SparkSession.active.read.parquet(path), col(sourceCol),
        col(keyCol), col(tiebreakCol), alpha, bandCap)
      .queryExecution.analyzed
  }

  /** TVF builder for `vfs_domain_cap(path, n, rankCol[, urlCol,
    * idCol, bandCap, pslSource])` — the per-registered-domain cap
    * ("no domain contributes more than n pages") from pure SQL text:
    * keep each domain's n rows with the SMALLEST `rankCol` (store a
    * negated quality/length column to keep the best), ties to the
    * smallest `idCol`. Without `pslSource` the domain is the frozen
    * two-level head ([[graft.operators.WebCuration.capPerDomain]] —
    * bounded-histogram selection, never a single-task sort); with
    * `pslSource` (a parquet path or table with one `suffix` column —
    * the `vfs_psl_domain_table` convention, snapshot cached per JVM)
    * it is the full public-suffix eTLD+1 through
    * [[graft.operators.WebCuration.capPerDomainPsl]]'s materialized
    * slim frame, where `idCol` must be unique and non-null — ENFORCED
    * here (`checkIds = true`: SQL users have no Scala contract to
    * lean on, and a violation silently widens past the cap):
    * {{{ SELECT * FROM vfs_domain_cap('/data/crawl', 1000,
    *     'neg_quality', 'url', 'doc_id', 100000, '/data/psl') }}} */
  private[graft] def vfsDomainCapBuilder(es: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      "[GRAFT] vfs_domain_cap(path, n, rankCol[, urlCol, idCol, " +
        s"bandCap, pslSource]): $msg")
    if (es.length < 3 || es.length > 7)
      fail(s"expected 3-7 arguments, got ${es.length}")
    if (!es.forall(_.foldable)) fail("all arguments must be literals")
    def evalNonNull(i: Int, what: String): Any =
      TvfArgs.evalNonNull(es, i, what, fail)
    val spark = SparkSession.active
    val path = evalNonNull(0, "path").toString
    val n = TvfArgs.intArg(es, 1, "n", fail)
    if (n < 1) fail(s"n must be >= 1, got $n")
    val rankCol = evalNonNull(2, "rankCol").toString
    val urlCol = if (es.length >= 4) evalNonNull(3, "urlCol").toString
      else "url"
    val idCol = if (es.length >= 5) evalNonNull(4, "idCol").toString
      else "doc_id"
    val bandCap =
      if (es.length >= 6) TvfArgs.longArg(es, 5, "bandCap", fail)
      else 100000L
    val docs = spark.read.parquet(path)
    val out = if (es.length >= 7) {
      val src = evalNonNull(6, "pslSource").toString
      val psl = graft.functions.PslTableCache.load(src, () => {
        val df = if (src.contains("/")) spark.read.parquet(src)
          else spark.table(src)
        graft.operators.WebCuration.pslFromTable(df)
      })
      // checkIds = true ALWAYS from the SQL surface: the PSL form's
      // semi-join silently widens past the cap on duplicate/null ids,
      // and a SQL user has no Scala-side contract to lean on — the
      // guard is one in-memory pass over the already-materialized
      // slim frame (Scala callers who own their id column opt out via
      // capPerDomainPsl directly)
      graft.operators.WebCuration.capPerDomainPsl(docs, urlCol, psl,
        col(rankCol), col(idCol), idCol, n, bandCap,
        checkIds = true)
    } else graft.operators.WebCuration.capPerDomain(docs, urlCol,
      col(rankCol), col(idCol), n, bandCap)
    out.queryExecution.analyzed
  }

  /** Expose a store's live table (memtable ∪ flushed, dequantized) as
    * a temp view. */
  def registerStore(store: graft.store.VfsStore, name: String): Unit =
    store.read().createOrReplaceTempView(name)

  /** Expose an IVF index's internals as temp views:
    * `<name>_assignments` (id, values, cluster) and `<name>_centroids`
    * (cluster, centroid) — the SQL route to cluster-bounded similarity
    * joins and centroid analytics.
    *
    * Registered as SQL-defined views over `parquet.`…`` (NOT a
    * snapshotted DataFrame): the path re-resolves on every query, so
    * the views track [[graft.operators.IvfIndex.append]] /
    * `compactAssignments` instead of freezing the registration-time
    * file listing — the same staleness class the deferred [[IvfProbe]]
    * eliminates for the routed path.
    *
    * `<name>_assignments` reads only the LIVE cluster dirs — those
    * whose id is in `centroids/`, the rule
    * [[graft.operators.IvfIndex.liveAssignments]] applies — with
    * `cluster` cast to INT. Crash debris beside a live cluster
    * (`cluster=<c>_old`, `cluster=<c>_stage`) would otherwise be read
    * as extra rows and turn `cluster` into a STRING partition column.
    * A lone parked `cluster=<c>_old` with no live twin is healed by
    * the next index writer, not by this view (until then its rows are
    * not visible here, as they are not to probes). */
  def registerIndex(spark: SparkSession, indexPath: String,
      name: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"[GRAFT] view name must be a bare SQL identifier: $name")
    require(!indexPath.contains("`"),
      s"[GRAFT] index path must not contain backquotes: $indexPath")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${name}_assignments " +
      "AS SELECT id, `values`, CAST(cluster AS INT) AS cluster " +
      s"FROM parquet.`$indexPath/assignments` " +
      "WHERE CAST(cluster AS STRING) IN (SELECT CAST(cluster AS STRING) " +
      s"FROM parquet.`$indexPath/centroids`)")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${name}_centroids " +
      s"AS SELECT * FROM parquet.`$indexPath/centroids`")
  }
}
