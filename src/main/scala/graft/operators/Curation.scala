package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The training-data curation composition as a FIRST-CLASS operator —
  * the four-stage flow every LLM data pipeline runs, wired so the
  * stages share scans instead of recomputing each other:
  *
  *   1. QUALITY GATE — [[TextAnalysis.qualityMilli]] ≥
  *      `minQualityMilli` and [[TextAnalysis.tokenCount]] within
  *      [`minTokens`, `maxTokens`]; the input is
  *      [[WorkCols.spread]] first (the regex-heavy projection would
  *      otherwise run on as few cores as the corpus has files) and
  *      the gated set persists — the composition scans it four times
  *      (pair fold, anti-join, langid grams, langid doc list).
  *   2. NEAR-DUP KEEP-FIRST — [[Dedup.simHashPairsPortable]] pairs at
  *      hamming ≤ 3; the higher id of each pair drops. The survivor
  *      set persists too: the language scorer scans its input twice,
  *      and each un-cached scan would re-run the whole pair fold.
  *   3. LANGUAGE ID — [[TextAnalysis.scoreLangId]] under `model`,
  *      with the token counts riding the carry hook (one extra
  *      projection of the same scan — no second doc-keyed join).
  *   4. PACKING — [[Packing.packBinsNextFit]] per predicted-language
  *      shard at `binCapacity`, order by id.
  *
  * Output: (idCol, lang_code, n_tokens, bin_id, bin_off, overflow),
  * where `lang_code` maps the prediction through `langCodes` (a
  * deterministic language → code table; unlisted predictions,
  * including "und", take `defaultCode`). Integer end-to-end, so the
  * whole composition is DuckDB-oracle-checkable (the
  * `pipeline_curate_e2e` row replays all four stages from scratch).
  *
  * 100 TB shape: one spread exchange + the persisted gate, the
  * simhash fold's one pinned slim shuffle, the langid broadcast join
  * + one doc-keyed aggregate, and the packing shard exchange — no
  * stage is quadratic and nothing collects driver-side. The
  * streaming twin is [[graft.streaming.Ingest.curateIngestStream]].
  *
  * Cache lifecycle: the two stage persists live only inside this
  * call. The composition runs its one job here and returns
  * `localCheckpoint()` of the packed rows; both caches are
  * unpersisted in the `finally` of the same scope, so nothing is
  * left in the CacheManager when the operator returns, on success or
  * failure. A later call on the same input recomputes from scratch
  * instead of finding an earlier call's cache. The result's blocks
  * are freed by the ContextCleaner once the caller drops the frame.
  * The operator is therefore EAGER: the `vfs_curate` TVF runs it
  * when the statement is analyzed.
  *
  * Reference anchor: none (the reference is a vector store,
  * vfs/src/vfs) — this is the brief's training-data-pipeline surface
  * built beyond it. */
object Curation {

  /** The default language → shard-code table: the
    * [[TextAnalysis.LangIdSeedCorpus]] languages in UTF-8 order. */
  val SeedLangCodes: Seq[(String, Long)] =
    Seq("de" -> 0L, "en" -> 1L, "es" -> 2L, "fr" -> 3L)

  def curateAndPack(docs: DataFrame, model: DataFrame,
      minQualityMilli: Long = 650L, minTokens: Long = 20L,
      maxTokens: Long = 90L, binCapacity: Int = 256,
      langCodes: Seq[(String, Long)] = SeedLangCodes,
      defaultCode: Long = 4L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(minTokens <= maxTokens,
      "[GRAFT] curateAndPack: minTokens must be <= maxTokens")
    require(langCodes.map(_._1).distinct.length == langCodes.length,
      "[GRAFT] curateAndPack: langCodes has duplicate languages")
    val q = WorkCols.spread(docs).filter(
      TextAnalysis.qualityMilli(col(textCol)) >= minQualityMilli &&
      TextAnalysis.tokenCount(col(textCol))
        .between(minTokens, maxTokens)).persist()
    try {
      val drops = Dedup.simHashPairsPortable(q, maxHamming = 3,
          textCol = textCol, idCol = idCol)
        .select(col("b").as(idCol)).distinct()
      val surv = q.join(drops, Seq(idCol), "left_anti").persist()
      try {
        val scored = TextAnalysis.scoreLangId(surv, model, textCol, idCol,
          carry = Seq("__nt" -> TextAnalysis.tokenCount(col(textCol))))
        val code: Column = langCodes.foldLeft(lit(defaultCode)) {
          case (acc, (lang, c)) =>
            when(col("lang_pred") === lang, c).otherwise(acc)
        }
        val coded = scored.select(col(idCol), code.as("lang_code"),
          col("__nt"))
        Packing.packBinsNextFit(coded, col("lang_code"), col(idCol),
            col("__nt"), binCapacity, idCol)
          .select(col(idCol), col("shard").as("lang_code"),
            col("n_tokens"), col("bin_id"), col("bin_off"),
            col("overflow"))
          .localCheckpoint()
      } finally surv.unpersist()
    } finally q.unpersist()
  }

  /** The pipeline's AUDIT TRAIL — per-language-shard totals over the
    * [[curateAndPack]] output, the one-row-per-shard report every
    * curation run logs (how much survived, how many tokens, how many
    * training bins it packs into, whether anything overflowed):
    * (lang_code, n_docs, n_tokens, n_bins, n_overflow). `n_bins`
    * counts the shard's distinct next-fit bins (max bin_id + 1 —
    * next-fit never leaves a gap). ONE hash aggregate over the
    * packed rows; integer end-to-end, so the DuckDB oracle replays
    * the whole pipeline AND the report. */
  def curateReport(docs: DataFrame, model: DataFrame,
      minQualityMilli: Long = 650L, minTokens: Long = 20L,
      maxTokens: Long = 90L, binCapacity: Int = 256,
      langCodes: Seq[(String, Long)] = SeedLangCodes,
      defaultCode: Long = 4L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    curateAndPack(docs, model, minQualityMilli, minTokens, maxTokens,
        binCapacity, langCodes, defaultCode, textCol, idCol)
      .groupBy(col("lang_code"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("bin_id")) + 1L).as("n_bins"),
        sum(col("overflow")).as("n_overflow"))
}
