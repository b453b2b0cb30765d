package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.TimeNorm
import graft.store.VfsStore

/** Streaming ingest — the memtable/flush cycle (SURVEY §2.11: S4/S5)
  * as Structured Streaming: each micro-batch is appended to the store
  * through the same guarded `appendBatch` commit path (id assignment,
  * dimension checks, quantize-on-write), so continuous insert workloads
  * are first-class instead of the reference's bursty
  * flush-every-10-records pattern (storage_manager.rs:12, 306-314).
  */
object Ingest {

  /** Attach a streaming source (schema: values ARRAY<FLOAT>,
    * name STRING, tags ARRAY<STRING>) to a store. Exactly-once per
    * micro-batch via the streaming checkpoint + the store's atomic
    * manifest commit. */
  def intoStore(stream: DataFrame, store: VfsStore,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) { store.appendBatch(batch); () }
      }
      .start()

  /** Attach a streaming vector source (schema: id LONG, values
    * ARRAY<FLOAT>) to a persisted [[graft.operators.IvfIndex]]: each
    * micro-batch runs the broadcast-argmin [[graft.operators.IvfIndex.append]],
    * and every `driftCheckEvery` batches the cheap filesystem skew
    * check ([[graft.operators.IvfIndex.needsRebalance]] — one content
    * summary per cluster dir, no Spark job) runs; when it fires,
    * `onDrift` is invoked. Skewed appends concentrate in few clusters
    * and silently degrade probe latency (ScaleProbe measures 15.3 s →
    * 3.6 s around a rebalance) — this hook surfaces the drift instead
    * of letting it build up. `rebalance` itself stays a SINGLE-WRITER
    * maintenance op: stop ingest, rebalance, resume — so the default
    * hook reports rather than mutates. Caller contract on ids is
    * [[graft.operators.IvfIndex.append]]'s (unique within the batch
    * and against the already-indexed set). */
  def intoIndex(stream: DataFrame, indexPath: String, checkpoint: String,
      maxClusterFraction: Double = 0.2, driftCheckEvery: Int = 10,
      onDrift: Long => Unit = bid => println(
        s"[GRAFT] index drift detected at batch $bid: rebalance advised"),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty &&
            appendBatchIdempotent(batch, indexPath, batchId)) {
          if (driftCheckEvery > 0 && batchId % driftCheckEvery == 0 &&
              graft.operators.IvfIndex.needsRebalance(
                batch.sparkSession, indexPath, maxClusterFraction))
            onDrift(batchId)
        }
        ()
      }
      .start()

  /** [[intoIndex]]'s append body: skip any batch id at or below the
    * last COMMITTED one (recorded in `<indexPath>/_ingest_batch`,
    * written tmp-then-rename after the append lands). `foreachBatch`
    * is AT-LEAST-ONCE: a restart replays the one batch whose
    * checkpoint commit didn't land, and `IvfIndex.append` has no id
    * dedup — without the marker that replay would double-index every
    * vector of the batch. With it, replays of committed batches are
    * exact no-ops; only a crash INSIDE the append→marker window can
    * still duplicate (same documented residual as
    * [[dedupIngestStream]]'s failure semantics — the index has no
    * manifest to make multi-directory appends atomic). Returns
    * whether the batch was applied. */
  private[graft] def appendBatchIdempotent(batch: DataFrame,
      indexPath: String, batchId: Long): Boolean = {
    val conf = batch.sparkSession.sessionState.newHadoopConf()
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexPath/_ingest_batch")
    val fs = marker.getFileSystem(conf)
    val last =
      if (!fs.exists(marker)) -1L
      else {
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(marker), java.nio.charset.StandardCharsets.UTF_8))
        try in.readLine().trim.toLong finally in.close()
      }
    if (batchId <= last) return false
    graft.operators.IvfIndex.append(batch, indexPath)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$indexPath/_ingest_batch.tmp")
    val out = fs.create(tmp, true)
    try out.write(batchId.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(marker)) fs.delete(marker, false)
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(
        s"[GRAFT] intoIndex: cannot commit batch marker $marker")
    true
  }

  /** Continuous ANN serving: a stream of (qid, qvalues) query vectors
    * answered per micro-batch against the STANDING IVF index
    * ([[graft.operators.IvfIndex.searchBatch]] — touched clusters
    * scanned once, size-gated broadcast, TopKByDistance partial agg),
    * each batch's results written as parquet under `outDir/batch=<id>`.
    * The per-batch directory is deterministic and written with
    * overwrite, so foreachBatch's at-least-once replay is idempotent:
    * a replayed batch overwrites its own directory, never duplicates
    * result rows. Per-batch cost ∝ batch size — the standing index is
    * only ever read through its probed cluster directories. */
  def searchStream(queries: DataFrame, indexPath: String, outDir: String,
      checkpoint: String, k: Int = 10, nProbe: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        searchBatchTo(batch, indexPath, outDir, batchId, k, nProbe)
      }
      .start()

  /** [[searchStream]]'s per-batch body, separated so replay
    * idempotence is testable: results land in the batch-addressed
    * directory with overwrite semantics. Empty batches write nothing
    * (no empty-directory churn at the sink). */
  private[graft] def searchBatchTo(batch: DataFrame, indexPath: String,
      outDir: String, batchId: Long, k: Int, nProbe: Int): Unit = {
    if (!batch.isEmpty) {
      graft.operators.IvfIndex.searchBatch(batch.sparkSession,
          indexPath, batch, k, nProbe)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
  }

  /** Streaming deduplication: drop repeated (user_id, event_type,
    * minute-bucket) keys, keeping state only within the watermark
    * horizon (`dropDuplicatesWithinWatermark` — bounded state at any
    * stream length, unlike a global dropDuplicates whose state grows
    * forever). The batch twin with deterministic survivor choice is
    * [[dedupSurvivors]]. */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    TimeNorm.normalize(events, "ts")
      .withWatermark("ts", watermark)
      .withColumn("minute", date_trunc("minute", col("ts")))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute")

  /** Batch dedup with DETERMINISTIC survivors (min event_id per key) —
    * dropDuplicates keeps an arbitrary row, which can't hash-match an
    * oracle; a min-aggregate names the keeper explicitly. One
    * hash-groupBy with map-side partial agg, same scale shape as
    * [[graft.operators.Dedup.exactGroups]]. */
  def dedupSurvivors(events: DataFrame): DataFrame =
    TimeNorm.normalize(events, "ts")
      .withColumn("minute", date_trunc("minute", col("ts")))
      .groupBy(col("user_id"), col("event_type"), col("minute"))
      .agg(min(col("event_id")).as("keeper_event"), count(lit(1)).as("n_dups"))

  /** Self-building streaming semantic dedup — the production ingest
    * loop for a growing corpus: each micro-batch of
    * (vec_id, embedding) is (1) deduped WITHIN itself (lowest id
    * wins), (2) probed against the standing corpus through the
    * persisted BAND table — band signatures are computed once per
    * vector EVER, not once per batch, so per-batch cost is ∝ the
    * batch plus a slim (band, bits) join — and (3) its novel vectors
    * appended to `corpusDir/vectors` and their bands to
    * `corpusDir/bands`.
    *
    * Failure semantics: `foreachBatch` is AT-LEAST-ONCE, and the
    * bands/vectors pair is two non-atomic appends — so the loop is
    * made IDEMPOTENT instead: a replayed batch is first anti-joined
    * by id against the corpus (already-landed rows drop out), bands
    * are written BEFORE vectors, and a crash between the two leaves
    * only harmless residue (duplicate band rows collapse in the
    * candidate dedup; band rows whose vector never landed fail the
    * verify join and re-land on replay). An empty or fully-duplicate
    * batch appends nothing. Layout mirrors
    * [[graft.operators.Dedup.bandCorpus]]'s output, so batch jobs
    * can probe the same artifact. */
  def dedupIngestStream(stream: DataFrame, corpusDir: String,
      checkpoint: String, tau: Double = 0.1, bands: Int = 4,
      bitsPerBand: Int = 8, seed: Long = 42L, maxBucket: Int = 1000,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.operators.Dedup
    val vecDir = s"$corpusDir/vectors"
    val bandDir = s"$corpusDir/bands"
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val batch = batch0.select(col("vec_id"), col("embedding"))
        // existence via the Hadoop FS of the target path — a
        // java.io.File check silently reports false on hdfs://s3a://
        // and would disable the corpus probe on any remote corpusDir
        def dirExists(p: String): Boolean = Ingest.dirExists(spark, p)
        if (!batch.isEmpty) {
          // (1) within-batch: drop any row near-dup of a lower id
          val self = Dedup.embeddingNearDupJoin(batch, batch, tau,
              bands, bitsPerBand, seed)
            .filter(col("probe_id") > col("corpus_id"))
            .select(col("probe_id").as("vec_id")).distinct()
          val fresh = batch.join(self, Seq("vec_id"), "left_anti")
          // (2) vs the standing corpus via the persisted band table
          val survivors =
            if (dirExists(vecDir)) {
              val corpus = spark.read.parquet(vecDir)
              // bands are STORED uncapped (capping is probe-time
              // policy, not a permanent drop). Crash-between-appends
              // residue is scrubbed BEFORE the cap: a band row whose
              // vector never landed (bands write first) would
              // otherwise inflate its bucket count forever, and a
              // replayed batch's duplicate band rows likewise — either
              // could push a legitimate bucket over maxBucket and
              // silently stop candidate generation there.
              val bandTable = spark.read.parquet(bandDir)
                .join(corpus.select(col("vec_id").as("corpus_id")),
                  Seq("corpus_id"), "left_semi")
                .dropDuplicates("corpus_id", "band", "bits")
              val banded = Dedup.capBuckets(bandTable, maxBucket,
                Seq("band", "bits"))
              val hits = Dedup.embeddingNearDupJoin(fresh, corpus, tau,
                  bands, bitsPerBand, seed, bandedCorpus = Some(banded))
                .select(col("probe_id").as("vec_id")).distinct()
              // near-dup prune + REPLAY GUARD: a retried batch's
              // already-landed ids anti-join away here
              fresh.join(hits, Seq("vec_id"), "left_anti")
                .join(corpus.select(col("vec_id")), Seq("vec_id"),
                  "left_anti")
            } else fresh
          // (3) append bands THEN vectors (see failure semantics),
          // caching BEFORE the emptiness probe so the dedup pipeline
          // runs once, not once per action
          val s = survivors.cache()
          try {
            if (s.take(1).nonEmpty) {
              Dedup.bandCorpus(s, bands, bitsPerBand, seed,
                  maxBucket = Int.MaxValue)
                .write.mode("append").parquet(bandDir)
              s.write.mode("append").parquet(vecDir)
            }
          } finally s.unpersist()
        }
        ()
      }
      .start()
  }

  /** Streaming TEXT ingest with standing-LSH near-dup filtering — the
    * text twin of [[dedupIngestStream]], over
    * [[graft.operators.LshTextIndex]]'s artifact. Each micro-batch of
    * (doc_id, text) is (1) self-deduped within the batch (a near-dup
    * of a lower id drops), (2) probed against the standing corpus
    * through the persisted band table — minhash signatures are
    * computed once per document EVER, not once per batch — and (3)
    * its novel docs appended to `corpusDir/docs` with their band
    * triples appended to the index at `corpusDir/lsh`.
    *
    * Same at-least-once → idempotent design as [[dedupIngestStream]]:
    * replayed rows anti-join away on doc_id, bands append BEFORE
    * docs, and probe-time residue scrubbing (band rows whose doc
    * never landed; duplicate band rows from a replay) keeps crash
    * residue from inflating a bucket past the cap and silently
    * stopping candidate generation there. */
  def textDedupIngestStream(stream: DataFrame, corpusDir: String,
      checkpoint: String, threshold: Double = 0.9, bands: Int = 16,
      rowsPerBand: Int = 4, maxBucket: Int = 1000,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        textDedupBatch(batch0, corpusDir, threshold, bands, rowsPerBand,
          maxBucket)
        ()
      }
      .start()

  /** [[textDedupIngestStream]]'s per-batch body, separated so replay
    * idempotence is testable and so composed loops
    * ([[curateIngestStream]]) can route what landed: returns the
    * batch's LANDED survivors (empty frame when everything deduped
    * away). */
  private[graft] def textDedupBatch(batch0: DataFrame, corpusDir: String,
      threshold: Double, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame = {
    import graft.operators.{Dedup, LshTextIndex}
    val docDir = s"$corpusDir/docs"
    val idxDir = s"$corpusDir/lsh"
    val spark = batch0.sparkSession
    val batch = batch0.select(col("doc_id"), col("text"))
    def dirExists(p: String): Boolean = Ingest.dirExists(spark, p)
    val empty = batch.limit(0)
    if (batch.isEmpty) return empty
    // (1) within-batch: the higher id of each near-dup pair drops
    val self = Dedup.minHashLsh(batch, threshold, bands = bands,
        rowsPerBand = rowsPerBand, maxBucket = maxBucket)
      .select(col("b").as("doc_id")).distinct()
    val fresh = batch.join(self, Seq("doc_id"), "left_anti")
    // (2) vs the standing corpus via the persisted band table,
    // scrubbed of crash/replay residue BEFORE the probe cap
    val survivors =
      if (dirExists(docDir)) {
        val corpus = spark.read.parquet(docDir)
        val bandTable = spark.read.parquet(s"$idxDir/bands")
          .withColumnRenamed("id", "corpus_id")
          .join(corpus.select(col("doc_id").as("corpus_id")),
            Seq("corpus_id"), "left_semi")
          .dropDuplicates("corpus_id", "band", "bsig")
        val hits = LshTextIndex.probe(spark, idxDir, fresh,
            corpus, threshold, maxBucket = maxBucket,
            storedBands = Some(bandTable))
          .select(col("probe_id").as("doc_id")).distinct()
        // near-dup prune + REPLAY GUARD (already-landed ids)
        fresh.join(hits, Seq("doc_id"), "left_anti")
          .join(corpus.select(col("doc_id")), Seq("doc_id"),
            "left_anti")
      } else fresh
    // (3) bands THEN docs (see failure semantics); cache before
    // the emptiness probe so the pipeline runs once
    val s = survivors.cache()
    try {
      if (s.take(1).nonEmpty) {
        if (LshTextIndex.exists(idxDir))
          LshTextIndex.append(s, idxDir)
        else LshTextIndex.build(s, idxDir, bands, rowsPerBand)
        s.write.mode("append").parquet(docDir)
        s
      } else empty
    } finally s.unpersist()
  }

  /** The FULL streaming curation loop — [[graft.SparkEntry]]'s
    * `pipeline_curate_e2e` batch composition as a continuously-fed
    * ingest: per micro-batch of (doc_id, text),
    *
    *   1. QUALITY GATE: rows below `minQualityMilli`
    *      ([[graft.operators.TextAnalysis.qualityMilli]]) or outside
    *      the [`minTokens`, `maxTokens`] window drop — a pure codegen
    *      projection, no shuffle;
    *   2. NEAR-DUP: the gated rows run [[textDedupBatch]] — within-
    *      batch keep-first + standing-corpus prune through the
    *      persisted [[graft.operators.LshTextIndex]], novel docs
    *      landing in `corpusDir/docs` + the band table (all of that
    *      stage's at-least-once/crash discipline applies verbatim);
    *   3. ROUTE: the batch's landed survivors run
    *      [[langIdRouteBatch]] against the frozen `model`, landing
    *      language-partitioned at `corpusDir/routed/batch=<id>`
    *      (static overwrite — replay-idempotent).
    *
    * One loop therefore maintains BOTH standing artifacts a curation
    * pipeline needs — the dedup corpus and the routed training shards
    * — with per-batch cost ∝ batch (quality projection + minhash of
    * the gated rows + one band join + the langid broadcast join).
    * Replays recompute the same survivors (the dedup stage's replay
    * guard) and overwrite their own routed batch dir. */
  def curateIngestStream(stream: DataFrame, corpusDir: String,
      checkpoint: String, model: DataFrame,
      minQualityMilli: Long = 650L, minTokens: Long = 20L,
      maxTokens: Long = 90L, threshold: Double = 0.9,
      bands: Int = 16, rowsPerBand: Int = 4, maxBucket: Int = 1000,
      keepLangs: Seq[String] = Nil,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(minTokens <= maxTokens,
      "[GRAFT] curateIngestStream: minTokens must be <= maxTokens")
    require(keepLangs.distinct.length == keepLangs.length,
      "[GRAFT] curateIngestStream: keepLangs has duplicates")
    withFrozenModel(stream.sparkSession, model) { frozen =>
      stream.writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          curateBatch(batch, batchId, corpusDir, frozen,
            minQualityMilli, minTokens, maxTokens, threshold, bands,
            rowsPerBand, maxBucket, keepLangs)
        }
        .start()
    }
  }

  /** [[curateIngestStream]]'s per-batch body, separated so replay
    * idempotence and batch parity are testable.
    *
    * The route stage deliberately does NOT route [[textDedupBatch]]'s
    * return value: a crash between the dedup append and the route
    * write would make the replay's survivors EMPTY (the dedup
    * stage's replay guard) and silently lose the batch's routed
    * shard forever. Instead it routes "this batch's gated rows now
    * in the standing corpus" — stream ids are unique by contract, so
    * the semi-join picks up exactly the rows landed by this attempt
    * OR a crashed earlier attempt of the same batch, and a replay
    * overwrites its batch dir with identical content. */
  private[graft] def curateBatch(batch0: DataFrame, batchId: Long,
      corpusDir: String, model: DataFrame, minQualityMilli: Long,
      minTokens: Long, maxTokens: Long, threshold: Double, bands: Int,
      rowsPerBand: Int, maxBucket: Int, keepLangs: Seq[String]): Unit = {
    val spark = batch0.sparkSession
    // spread a few-partition batch before the regex-heavy quality
    // projection (the WorkCols.spread kernel convention), and
    // persist the gated set for the batch's lifetime: the dedup
    // stage evaluates its input several times (emptiness probe,
    // banding, verify join-backs, corpus probe) and the route stage
    // semi-joins it once more — each uncached scan would re-run the
    // whole regex cascade (the same reason Curation.curateAndPack
    // persists its gate)
    val gated = graft.operators.WorkCols
      .spread(batch0.select(col("doc_id"), col("text")))
      .filter(
        graft.operators.TextAnalysis.qualityMilli(col("text")) >=
          minQualityMilli &&
        graft.operators.TextAnalysis.tokenCount(col("text"))
          .between(minTokens, maxTokens))
      .persist()
    try {
      textDedupBatch(gated, corpusDir, threshold, bands,
        rowsPerBand, maxBucket)
      val docDir = s"$corpusDir/docs"
      if (dirExists(spark, docDir)) {
        val landed = gated.join(
          spark.read.parquet(docDir).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        langIdRouteBatch(landed, batchId, model,
          s"$corpusDir/routed", keepLangs)
      }
    } finally gated.unpersist()
    ()
  }

  /** Cache `model`, hand it to `start`, and release the cache when
    * the started query terminates — the [[langIdRouteStream]]
    * frozen-model lifecycle, factored for every model-carrying
    * stream. The listener registers BEFORE start (no missed event);
    * the isActive re-check closes the set-after-terminate window
    * (double unpersist is a no-op). */
  private def withFrozenModel(spark: org.apache.spark.sql.SparkSession,
      model: DataFrame)(
      start: DataFrame => StreamingQuery): StreamingQuery = {
    val frozen = model.cache()
    frozen.count() // materialize before the first batch
    val qId = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == qId.get()) {
          frozen.unpersist()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    val q = start(frozen)
    qId.set(q.id)
    if (!q.isActive && qId.get() != null) {
      frozen.unpersist()
      spark.streams.removeListener(listener)
    }
    q
  }

  /** Streaming MEDIA ingest with fingerprint near-dup
    * decontamination — [[textDedupIngestStream]]'s twin over the
    * [[graft.operators.SigIndex]] standing artifact. The stream
    * carries (id, sig) PRINTS: the caller picks the fingerprint
    * kernel upstream ([[graft.operators.Multimodal.audioFingerprint]]
    * / videoFingerprint / text simhash) and names it via `family` —
    * media bytes never enter the stream or the artifact. Per
    * micro-batch: (1) within-batch near-dups drop (the higher id of
    * each pair with hamming ≤ `maxHamming` — the keep-first
    * verdict); (2) prints within `maxHamming` of the standing corpus
    * drop (`SigIndex.probe`, the stored side scrubbed of
    * crash/replay residue by a semi-join against the COMMITTED id
    * ledger before the cap); (3) survivors append to the index
    * (built on the first batch), THEN their ids land at
    * `corpusDir/ids` — index before ledger, so a crash between the
    * two leaves residue the next attempt scrubs, never a committed
    * id without its print. Replays are guarded: already-landed ids
    * never re-append. Per-batch cost ∝ batch prints + one band join
    * against the standing table.
    *
    * `autoCompactFiles > 0` turns on SELF-SCHEDULED compaction: after
    * a batch lands, if the artifact's data-file count exceeds the
    * threshold ([[graft.operators.SigIndex.needsCompaction]] — one
    * namenode listing, no data read), the loop runs
    * [[graft.operators.SigIndex.compact]] before the next batch.
    * Safe here by construction: the foreachBatch body IS the
    * artifact's single writer, so the compact's staged swap can never
    * race an append. 0 (the default) leaves compaction manual. */
  def mediaDedupIngestStream(stream: DataFrame, corpusDir: String,
      checkpoint: String, family: String, maxHamming: Int = 3,
      maxBucket: Int = 1000,
      trigger: Trigger = Trigger.AvailableNow(),
      autoCompactFiles: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mediaDedupBatch(batch, corpusDir, family, maxHamming, maxBucket,
          autoCompactFiles)
      }
      .start()

  /** [[mediaDedupIngestStream]]'s per-batch body, separated so
    * replay idempotence, residue scrubbing, and batch parity are
    * testable. */
  private[graft] def mediaDedupBatch(batch0: DataFrame,
      corpusDir: String, family: String, maxHamming: Int,
      maxBucket: Int, autoCompactFiles: Int = 0): Unit = {
    import graft.operators.{Dedup, SigIndex}
    val spark = batch0.sparkSession
    val batch = batch0.select(col("id"), col("sig"))
    if (batch.isEmpty) return
    val idxDir = s"$corpusDir/sigidx"
    val idsDir = s"$corpusDir/ids"
    // writer-side recovery: a crash inside the ledger compact's swap
    // leaves ids/ parked at ids_old — rename it back BEFORE the
    // ledger-existence check, or this batch would misread the
    // standing index as batch-0 residue and rebuild it away
    graft.operators.ArtifactIo.healParked(
      graft.operators.ArtifactIo.fsOf(corpusDir), corpusDir, "ids",
      "media ingest ledger")
    // (1) within-batch: the higher id of each near-dup pair drops
    val self = Dedup.sigBandFoldPairs(batch, maxHamming, maxBucket)
      .select(col("b").as("id")).distinct()
    val fresh = batch.join(self, Seq("id"), "left_anti")
    // (2) vs the standing corpus, stored side scrubbed of residue
    // (prints appended by a crashed attempt whose ids never landed)
    // BEFORE the probe cap
    val ledgerExists = dirExists(spark, idsDir)
    val survivors =
      if (ledgerExists) {
        val landed = spark.read.parquet(idsDir)
        val scrubbed = spark.read.parquet(s"$idxDir/sigs")
          .join(landed, Seq("id"), "left_semi")
          .dropDuplicates("id")
        val hits = SigIndex.probe(spark, idxDir, fresh, family,
            maxHamming, maxBucket, storedSigs = Some(scrubbed))
          .select(col("probe_id").as("id")).distinct()
        // near-dup prune + REPLAY GUARD (already-landed ids)
        fresh.join(hits, Seq("id"), "left_anti")
          .join(landed, Seq("id"), "left_anti")
      } else fresh
    // (3) index THEN ledger (see failure semantics above); cache
    // before the emptiness probe so the pipeline runs once.
    // Index-without-ledger = a crash on the FIRST batch between
    // SigIndex.build and the ledger write: the whole stored table is
    // uncommitted residue (no id ever landed), and the index-before-
    // ledger order guarantees no committed id can be lost by
    // discarding it. REBUILD from this batch's survivors instead of
    // appending — a plain append would double-store every replayed
    // batch-0 print permanently (physical duplicates that inflate
    // bucket counts toward maxBucket and that compact() never
    // collapses).
    val s = survivors.cache()
    try {
      if (s.take(1).nonEmpty) {
        if (SigIndex.exists(idxDir) && ledgerExists)
          SigIndex.append(s, idxDir, family)
        else SigIndex.build(s, idxDir, family)
        s.select(col("id")).write.mode("append").parquet(idsDir)
        // self-scheduled compaction (opt-in): the foreachBatch body
        // is the single writer, so the staged swaps can't race an
        // append. The ledger (slim id rows, one file set per batch)
        // compacts on the same trigger — through the SAME parked-
        // crash discipline as the artifact (ArtifactIo.stagedSwap): a
        // bare delete+rename would have a window where ids/ is gone
        // entirely, and the next batch would misread the standing
        // index as batch-0 crash residue and REBUILD it away.
        if (autoCompactFiles > 0 &&
            SigIndex.needsCompaction(idxDir, autoCompactFiles)) {
          SigIndex.compact(spark, idxDir)
          val folded = spark.read.parquet(idsDir)
            .repartition(graft.operators.ArtifactIo.compactWidth(idsDir))
          graft.operators.ArtifactIo.stagedSwap(
            graft.operators.ArtifactIo.fsOf(corpusDir), corpusDir,
            "ids", "media ingest ledger compact") { stage =>
            folded.write.mode("overwrite").parquet(stage)
          }
        }
      }
    } finally s.unpersist()
    ()
  }

  /** Streaming media DECODE with per-asset quarantine — the
    * untrusted-crawl ingest front door: each micro-batch of raw
    * media rows (doc_id, media, format, n_bytes) runs the dHash
    * fingerprint kernel under
    * [[graft.operators.Multimodal.imageFingerprintQuarantined]], so
    * ONE truncated container or garbage Exif blob quarantines that
    * row instead of killing the stream. Clean prints land at
    * `outDir/ok/batch=<id>` (ready for the
    * [[mediaDedupIngestStream]] decontamination loop); failures land
    * at `outDir/quarantine/batch=<id>` as (doc_id, err) — a
    * greppable side channel, never silence. Both sinks are
    * batch-addressed with overwrite, so at-least-once replays are
    * idempotent (the [[dsirScoreStream]] sink contract). */
  def mediaQuarantineIngestStream(stream: DataFrame, outDir: String,
      checkpoint: String, exifAware: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mediaQuarantineBatch(batch, id, outDir, exifAware)
      }
      .start()

  /** [[mediaQuarantineIngestStream]]'s per-batch body, separated so
    * replay idempotence and strict-path parity are testable. ONE
    * decode pass feeds both sinks: the quarantined frame is
    * localCheckpointed (streaming-safe — no CacheManager entry, see
    * [[graft.operators.Mining]] mineCore) before the two filtered
    * writes, or the per-partition decode kernel would run twice. */
  private[graft] def mediaQuarantineBatch(batch0: DataFrame,
      batchId: Long, outDir: String,
      exifAware: Boolean = false): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    val media = batch0.select(col("doc_id").cast("long").as("doc_id"),
        col("media"), col("format"),
        col("n_bytes").cast("long").as("n_bytes"))
      .as[graft.operators.MediaRecord]
    if (media.isEmpty) return
    val rows = graft.operators.Multimodal
      .imageFingerprintQuarantined(spark, media, exifAware)
      .localCheckpoint()
    rows.filter(col("err").isNull)
      .select(col("doc_id"), col("sig"), col("width"), col("height"))
      .write.mode("overwrite").parquet(s"$outDir/ok/batch=$batchId")
    val bad = rows.filter(col("err").isNotNull)
      .select(col("doc_id"), col("err"))
    // the quarantine dir is written EVEN WHEN EMPTY: a missing dir
    // must mean "batch never ran", never "batch was clean" — the
    // same no-silence stance as Verify's _errors.json
    bad.write.mode("overwrite").parquet(s"$outDir/quarantine/batch=$batchId")
    ()
  }

  /** Streaming PAGE ingest — the crawl-processing front door: each
    * micro-batch of raw HTML rows (doc_id, html) runs the codegen
    * extraction kernels ONCE
    * ([[graft.functions.HtmlText]]/Title/Links) and lands two
    * batch-addressed sinks — `outDir/docs/batch=<id>` with
    * (doc_id, title, text) ready for the quality/dedup family, and
    * `outDir/links/batch=<id>` with (doc_id, pos, href) feeding the
    * URL-frontier loop ([[urlIngestStream]]). Both sinks overwrite
    * their batch dir, so at-least-once replays are idempotent (the
    * [[dsirScoreStream]] contract). The extraction is tolerant of
    * malformed markup by design (see [[graft.functions.HtmlKernel]])
    * — a crawl page never fails the stream.
    *
    * `mainOnly = true` lands the main-content extraction
    * ([[graft.functions.HtmlMainText]] — nav/aside/header/footer/
    * form text suppressed, the curation default; page-unique chrome
    * escapes the corpus-frequency boilerplate pass) instead of the
    * WET-parity full text. The link frontier is unaffected — chrome
    * nav links are exactly what frontier discovery wants. */
  def pageExtractStream(pages: DataFrame, outDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      mainOnly: Boolean = false): StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        pageExtractBatch(batch, id, outDir, mainOnly)
      }
      .start()

  /** [[pageExtractStream]]'s per-batch body, separated so replay
    * idempotence and oracle parity are testable. The extracted frame
    * is localCheckpointed (streaming-safe, no CacheManager entry) so
    * the kernels run once while two sinks consume. */
  private[graft] def pageExtractBatch(batch0: DataFrame, batchId: Long,
      outDir: String, mainOnly: Boolean = false): Unit = {
    val batch = batch0.select(col("doc_id").cast("long").as("doc_id"),
      col("html"))
    if (batch.isEmpty) return
    val textOf =
      if (mainOnly) graft.functions.vfs_html_main_text(col("html"))
      else graft.functions.vfs_html_text(col("html"))
    val ex = batch.select(col("doc_id"),
        graft.functions.vfs_html_title(col("html")).as("title"),
        textOf.as("text"),
        graft.functions.vfs_html_links(col("html")).as("links"))
      .localCheckpoint()
    ex.select(col("doc_id"), col("title"), col("text"))
      .write.mode("overwrite").parquet(s"$outDir/docs/batch=$batchId")
    ex.select(col("doc_id"),
        posexplode(col("links")).as(Seq("pos", "href")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("href"))
      .write.mode("overwrite").parquet(s"$outDir/links/batch=$batchId")
    ()
  }

  /** Streaming WARC ingest — [[pageExtractStream]] moved up to RAW
    * ARCHIVES, the true CommonCrawl front door: each micro-batch of
    * (doc_id, warc) rows runs the quarantining container walk
    * ([[graft.operators.Warc.recordsQuarantined]] — framing damage
    * costs one record + a magic resync, undecodable codings keep
    * their identity, never a task failure), decodes response bodies
    * through the WHATWG charset sniff
    * ([[graft.functions.CharsetKernel]] — the record's Content-Type
    * header is the transport tier), extracts title/text/links once,
    * and lands THREE batch-addressed sinks: `docs/batch=<id>`
    * (doc_id, target_uri, http_status, charset, title, text — the
    * status rides along so error-page bodies stay filterable),
    * `links/batch=<id>` (doc_id, pos, href), and
    * `quarantine/batch=<id>` (doc_id, rec_type, target_uri, err).
    * ALL THREE dirs are written EVEN WHEN EMPTY — including for a
    * zero-row trigger — because a missing dir must mean "batch never
    * ran", never "batch was clean". All three overwrite their batch
    * dir, so at-least-once replays are idempotent. `mainOnly`
    * selects the main-content extraction; the link frontier always
    * keeps chrome links. Sink-schema contract: columns are only ever
    * ADDED (append-compatible); a reader scanning batches written
    * across versions needs mergeSchema (or a full reland) for the
    * new columns to appear on old batches. */
  def warcExtractStream(warcs: DataFrame, outDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      mainOnly: Boolean = false): StreamingQuery =
    warcs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        warcExtractBatch(batch, id, outDir, mainOnly)
      }
      .start()

  /** [[warcExtractStream]]'s per-batch body (the testable-parity
    * split). One localCheckpoint materializes the parsed records so
    * the container walk runs once while three sinks consume. */
  private[graft] def warcExtractBatch(batch0: DataFrame, batchId: Long,
      outDir: String, mainOnly: Boolean = false): Unit = {
    val spark = batch0.sparkSession
    val batch = batch0.select(col("doc_id").cast("long").as("doc_id"),
      col("warc"))
    // NO empty-batch early return: all three batch dirs land even
    // for a zero-row trigger — a missing dir must mean "batch never
    // ran", and Structured Streaming does fire empty batches
    val recs = graft.operators.Warc.recordsQuarantined(spark, batch)
      .toDF().localCheckpoint()
    val html = graft.functions.vfs_charset_decode(col("body"),
      col("content_type"))
    val textOf =
      if (mainOnly) graft.functions.vfs_html_main_text(col("html"))
      else graft.functions.vfs_html_text(col("html"))
    val ex = recs
      .filter(col("err").isNull && col("rec_type") === "response")
      .select(col("doc_id"), col("target_uri"),
        col("http_status").cast("long").as("http_status"),
        graft.functions.vfs_charset_detect(col("body"),
          col("content_type")).as("charset"),
        html.as("html"))
      .select(col("doc_id"), col("target_uri"), col("http_status"),
        col("charset"),
        graft.functions.vfs_html_title(col("html")).as("title"),
        textOf.as("text"),
        graft.functions.vfs_html_links(col("html")).as("links"))
      .localCheckpoint()
    // http_status rides the docs sink so a consumer CAN filter error
    // pages (404 boilerplate must be distinguishable corpus-side);
    // landing every response is deliberate — status policy belongs
    // to the reader, not the front door
    ex.select(col("doc_id"), col("target_uri"), col("http_status"),
        col("charset"), col("title"), col("text"))
      .write.mode("overwrite").parquet(s"$outDir/docs/batch=$batchId")
    ex.select(col("doc_id"),
        posexplode(col("links")).as(Seq("pos", "href")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("href"))
      .write.mode("overwrite").parquet(s"$outDir/links/batch=$batchId")
    recs.filter(col("err").isNotNull)
      .select(col("doc_id"), col("rec_type"), col("target_uri"),
        col("err"))
      .write.mode("overwrite")
      .parquet(s"$outDir/quarantine/batch=$batchId")
    ()
  }

  /** One micro-batch of the URL-dedup ingest loop, REPLAY-IDEMPOTENT
    * BY CONSTRUCTION (the [[boilerplateBatch]] stance — no crash
    * point needs a residue heuristic):
    *
    *   1. keep-first WITHIN the batch on the normalized URL
    *      ([[graft.operators.WebCuration.urlKeepFirst]]);
    *   2. probe the standing seen set EXCLUDING this batch's own
    *      partition ([[graft.operators.UrlIndex.filterNew]]'s
    *      `excludeBatch`) — so a replay whose append already landed
    *      computes the SAME survivors instead of an empty set;
    *   3. land survivors at `docs/batch=<id>` with OVERWRITE, then
    *      [[graft.operators.UrlIndex.appendIdempotent]] the batch's
    *      keys (stale replays refused by the watermark).
    *
    * A replay of an UNcommitted batch recomputes identical bytes (the
    * probe never sees its own batch; both writes overwrite the same
    * partitions); a replay of a COMMITTED batch is skipped wholesale
    * ([[graft.operators.UrlIndex.isCommitted]]) — necessary, not just
    * cheap, because compact() may since have folded the batch's keys
    * into the base partition where the `excludeBatch` mask can't
    * cover them. */
  private[graft] def urlDedupBatch(batch0: DataFrame, batchId: Long,
      corpusDir: String, urlCol: String = "url",
      idCol: String = "doc_id", autoCompactFiles: Int = 0,
      psl: Seq[String] = Nil): Unit = {
    import graft.operators.{UrlIndex, WebCuration}
    val spark = batch0.sparkSession
    // case-INSENSITIVE check: withColumn resolves case-insensitively,
    // so a caller's 'PSL_Domain' would otherwise slip past a
    // case-sensitive guard and be silently overwritten
    if (psl.nonEmpty) require(
      !batch0.columns.exists(_.equalsIgnoreCase("psl_domain")),
      "[GRAFT] urlDedupBatch: input already has a psl_domain column")
    // persist: keep-first, the probe, and the landing scan the batch
    val batch = batch0.persist()
    try {
      if (batch.take(1).isEmpty) return
      UrlIndex.healParked(s"$corpusDir/urlidx")
      val idxDir = s"$corpusDir/urlidx"
      if (!UrlIndex.exists(idxDir)) UrlIndex.create(spark, idxDir)
      // a COMMITTED batch is skipped wholesale: its docs partition is
      // complete (the watermark commits last), and re-deriving it
      // after compact() folded this batch's keys into the base would
      // defeat the excludeBatch mask below — every URL would look
      // already-seen and the landed survivors would be overwritten
      // with an empty set
      if (UrlIndex.isCommitted(idxDir, batchId)) return
      val kept = WebCuration.urlKeepFirst(batch, urlCol, idCol)
      val fresh0 = UrlIndex.filterNew(spark, idxDir, kept, urlCol,
        excludeBatch = batchId)
      // PSL attribution rides the LANDED rows (a pure per-row codegen
      // projection — zero extra shuffle, replay-idempotent because the
      // column is a function of the row): downstream per-publisher
      // caps (capPerDomainPsl) read it straight off the corpus instead
      // of re-walking suffixes over every landed batch
      val fresh =
        if (psl.isEmpty) fresh0
        else fresh0.withColumn("psl_domain",
          WebCuration.urlDomainPsl(col(urlCol), psl))
      fresh.write.mode("overwrite")
        .parquet(s"$corpusDir/docs/batch=$batchId")
      UrlIndex.appendIdempotent(batch, idxDir, batchId, urlCol)
      if (autoCompactFiles > 0 &&
          UrlIndex.needsCompaction(idxDir, autoCompactFiles))
        UrlIndex.compact(spark, idxDir)
    } finally batch.unpersist()
    ()
  }

  /** Continuous URL-keyed dedup ingest: each micro-batch keeps one
    * row per never-before-seen normalized URL and lands it
    * batch-addressed under `docs/`; the seen set is the standing
    * [[graft.operators.UrlIndex]] at `<corpusDir>/urlidx`.
    *
    * A non-empty `psl` snapshot (load the full list once via
    * [[graft.operators.WebCuration.pslFromTable]]) adds a
    * `psl_domain` column to every LANDED row —
    * [[graft.operators.WebCuration.urlDomainPsl]]'s eTLD+1, computed
    * in the same per-row projection that lands the batch (zero extra
    * shuffle, replay-idempotent) — keeping the streaming surface at
    * parity with the batch cap: the nightly `capPerDomainPsl` run
    * groups by the landed column instead of re-walking suffixes over
    * the whole corpus. The snapshot is fixed for the stream's
    * lifetime (it ships in the closure); a list refresh is a stream
    * restart. */
  def urlIngestStream(stream: DataFrame, corpusDir: String,
      checkpoint: String, urlCol: String = "url",
      idCol: String = "doc_id", autoCompactFiles: Int = 0,
      trigger: Trigger = Trigger.AvailableNow(),
      psl: Seq[String] = Nil): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        urlDedupBatch(batch, batchId, corpusDir, urlCol, idCol,
          autoCompactFiles, psl)
      }
      .start()

  /** Streaming ingest with BOILERPLATE-LINE removal — the
    * [[graft.operators.LineIndex]] loop: each micro-batch (1) folds
    * its (line, df) partial counts into the standing table
    * (idempotent-append watermark — a replayed batch must NOT
    * double-count, since inflated df flips clean lines over the
    * threshold), (2) strips itself against the MERGED counts
    * ([[graft.operators.LineIndex.strip]] — one batch scan, no
    * corpus recount), and (3) lands the cleaned docs batch-addressed
    * at `corpusDir/docs/batch=<id>` (overwrite — replay-idempotent).
    *
    * Count-then-strip order means a batch IS vetted against its own
    * lines plus everything before it; boilerplate that only emerges
    * in later batches does not retro-clean earlier ones — re-run
    * [[graft.operators.LineIndex.strip]] over the corpus for a full
    * re-clean (the standing table already holds the final counts).
    *
    * Crash contract: the artifact is created EMPTY
    * ([[graft.operators.LineIndex.create]]) and EVERY batch lands via
    * [[graft.operators.LineIndex.appendIdempotent]]'s overwrite-
    * addressed partition — a replay at ANY crash point rewrites the
    * same partition with identical content, never double-counts, and
    * no residue-vs-rebuilt heuristic exists to misread a legitimate
    * out-of-band takedown rebuild ([[graft.operators.LineIndex]]
    * scaladoc). A compact parked mid-swap heals at the top of the
    * next batch ([[graft.operators.LineIndex.healParked]]).
    *
    * `autoCompactFiles > 0` self-schedules
    * [[graft.operators.LineIndex.compact]] (fold partials + fix
    * small-files growth) under the [[ArtifactIo.shouldCompact]]
    * convergence contract; the foreachBatch body is the single
    * writer, so the staged swap cannot race an append. */
  def boilerplateIngestStream(stream: DataFrame, corpusDir: String,
      checkpoint: String, minDocFreq: Long = 5L,
      autoCompactFiles: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(minDocFreq >= 2L,
      "[GRAFT] boilerplateIngestStream: minDocFreq must be >= 2")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        boilerplateBatch(batch, batchId, corpusDir, minDocFreq,
          autoCompactFiles)
      }
      .start()
  }

  /** [[boilerplateIngestStream]]'s per-batch body, separated so
    * replay idempotence, the batch-0 crash rebuild, and one-shot
    * parity are testable. */
  private[graft] def boilerplateBatch(batch0: DataFrame, batchId: Long,
      corpusDir: String, minDocFreq: Long,
      autoCompactFiles: Int = 0): Unit = {
    import graft.operators.LineIndex
    val spark = batch0.sparkSession
    val idxDir = s"$corpusDir/lineidx"
    // persist: the count fold and the strip each scan the batch
    val batch = batch0.select(col("doc_id"), col("text")).persist()
    try {
      if (batch.take(1).isEmpty) return
      // heal a compact parked mid-swap BEFORE touching the artifact —
      // exists() throws on a parked state, so without this the
      // stream could never recover on its own
      LineIndex.healParked(idxDir)
      if (!LineIndex.exists(idxDir)) LineIndex.create(spark, idxDir)
      LineIndex.appendIdempotent(batch, idxDir, batchId)
      LineIndex.strip(spark, idxDir, batch, minDocFreq)
        .write.mode("overwrite")
        .parquet(s"$corpusDir/docs/batch=$batchId")
      if (autoCompactFiles > 0 &&
          LineIndex.needsCompaction(idxDir, autoCompactFiles))
        LineIndex.compact(spark, idxDir)
    } finally batch.unpersist()
    ()
  }

  /** Streaming ingest with EXACT-SUBSTRING decontamination — the
    * ExactSubstr twin of [[textDedupIngestStream]]: each micro-batch
    * is vetted against the standing gram set PLUS its own within-batch
    * keep-first verdict ([[graft.operators.GramIndex.probeSpansAgainst]]),
    * a document drops when its duplicated-token fraction exceeds
    * `maxDupFrac`, and survivors land in BATCH-ADDRESSED directories
    * (`docs/batch=<id>`, `grams/batch=<id>`, overwrite) so
    * at-least-once replays are bit-idempotent: the probe PRUNES the
    * current batch's own partition out of the standing gram read
    * (crash residue from a failed attempt would otherwise make the
    * replayed batch look fully duplicated against itself), recomputes
    * the same survivors, and rewrites the same two directories.
    * Consumers read the corpus as `docs/` (the `batch` partition
    * column rides along). `k` is frozen by the stream definition
    * (changing it against an existing corpus dir mixes window widths
    * — rebuild instead). Per-batch cost ∝ batch grams + one semi-join
    * against the standing set; the corpus TEXT is never reread. */
  def substringDedupIngestStream(stream: DataFrame, corpusDir: String,
      checkpoint: String, k: Int = 5, maxDupFrac: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(k > 0, "[GRAFT] substringDedupIngestStream: k must be positive")
    require(maxDupFrac >= 0.0 && maxDupFrac <= 1.0,
      "[GRAFT] substringDedupIngestStream: maxDupFrac must be in [0,1]")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        substringDedupBatch(batch, batchId, corpusDir, k, maxDupFrac)
      }
      .start()
  }

  /** [[substringDedupIngestStream]]'s per-batch body, separated so
    * replay idempotence is testable (the [[searchBatchTo]] pattern). */
  private[graft] def substringDedupBatch(batch0: DataFrame,
      batchId: Long, corpusDir: String, k: Int,
      maxDupFrac: Double): Unit = {
    import graft.operators.{Dedup, GramIndex}
    val spark = batch0.sparkSession
    val batch = batch0.select(col("doc_id"), col("text"))
    if (batch.isEmpty) return
    // frozen-k contract: restarting the stream with a different k
    // against an accumulated corpus would hash delta grams that match
    // NOTHING stored — decontamination silently off, window widths
    // permanently mixed. ensureMeta stamps k on first use and fails
    // loudly on a mismatch ever after.
    GramIndex.ensureMeta(corpusDir, k)
    val gramDir = s"$corpusDir/grams"
    // Explicit schema: crash residue from a failed FIRST grams write
    // can leave the dir present but without one readable parquet
    // footer — schema inference would then throw on every replay and
    // wedge the stream. With the schema given, a zero-data-file read
    // is just empty. Prune THIS batch's partition: a crashed earlier
    // attempt of the same batch may have landed grams already —
    // replaying against them would flag every replayed doc as a
    // corpus duplicate.
    val stored =
      if (dirExists(spark, gramDir))
        spark.read
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("g",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("batch",
              org.apache.spark.sql.types.LongType))))
          .parquet(gramDir)
          .filter(col("batch") =!= batchId).select(col("g"))
      else spark.range(0).select(col("id").as("g"))
    // ONE run of the compute-bound tokenize+hash kernel: the cached
    // occurrence stream feeds the probe AND the sink grams
    val occ = Dedup.gramOccurrences(batch, k, "text", "doc_id").cache()
    try {
      val dupPerDoc = GramIndex.spansFromOcc(occ, stored, k, "doc_id")
        .groupBy(col("doc_id"))
        .agg(sum(col("span_tokens")).as("__dup"))
      val survivors = batch
        .join(dupPerDoc, Seq("doc_id"), "left")
        .filter(coalesce(col("__dup"), lit(0L)).cast("double") <=
          size(split(trim(col("text")), "\\s+")) * maxDupFrac)
        .select(col("doc_id"), col("text"))
        .cache()
      try {
        if (survivors.take(1).nonEmpty) {
          // overwrite-idempotent sinks: a replay rewrites BOTH batch
          // directories; write order therefore doesn't matter
          survivors.write.mode("overwrite")
            .parquet(s"$corpusDir/docs/batch=$batchId")
          // sink grams from the CACHED occurrences (no third kernel
          // run), restricted to survivor docs
          occ.join(survivors.select(col("doc_id").as("__id")),
              Seq("__id"), "left_semi")
            .select(col("__g").as("g")).distinct()
            .write.mode("overwrite").parquet(s"$gramDir/batch=$batchId")
        }
      } finally survivors.unpersist()
    } finally occ.unpersist()
    ()
  }

  /** Shared filesystem-existence probe for the ingest loops. */
  private def dirExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp)
  }

  /** Streaming QUALITY GATE — filter-before-store for a live document
    * feed: each micro-batch runs the Gopher document rules
    * ([[graft.operators.TextAnalysis.gopherSignals]]) and C4 line
    * cleaning ([[graft.operators.TextAnalysis.c4CleanLines]]); a doc
    * survives iff `gopher_pass = 1`, the page is not C4-dropped, and
    * at least `minKeptLines` lines survive the line filter. Survivors
    * land as parquet under `outDir/batch=<id>` carrying the CLEANED
    * text plus headline signals (`n_words`, `stop_hits`, `n_kept`).
    *
    * Both cascades are stateless per-row projections, so the only
    * streaming concern is replay: the per-batch directory is
    * deterministic and written with overwrite — an at-least-once
    * replay rewrites its own directory, never duplicates (the
    * [[searchStream]] sink contract). Doc ids are assumed unique
    * within a batch (the shared ingest-loop assumption). */
  def qualityIngestStream(stream: DataFrame, outDir: String,
      checkpoint: String, minWords: Int = 5, minKeptLines: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(minKeptLines >= 0,
      "[GRAFT] qualityIngestStream: minKeptLines must be >= 0")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        qualityGateBatch(batch, batchId, outDir, minWords, minKeptLines)
      }
      .start()
  }

  /** [[qualityIngestStream]]'s per-batch body, separated so replay
    * idempotence and batch parity are testable. */
  private[graft] def qualityGateBatch(batch0: DataFrame, batchId: Long,
      outDir: String, minWords: Int, minKeptLines: Int): Unit = {
    val batch = batch0.select(col("doc_id"), col("text"))
    if (batch.isEmpty) return
    // ONE per-row projection computes both cascades (no second scan,
    // no join back on doc_id — which would also silently depend on
    // id uniqueness within the batch)
    graft.operators.TextAnalysis.qualityGate(batch, minWords = minWords)
      .filter(col("gopher_pass") === 1L && col("page_drop") === 0L &&
        col("n_kept") >= minKeptLines.toLong)
      .select(col("doc_id"), col("clean_text").as("text"),
        col("n_words"), col("stop_hits"), col("n_kept"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Stream documents through the STANDING bigram LM
    * ([[graft.operators.TextAnalysis.saveLmModel]] artifact): each
    * micro-batch is scored with `scoreLm` against the frozen
    * reference model — never against itself — and lands
    * batch-addressed (`outDir/batch=<id>`, overwrite) so at-least-once
    * replays are idempotent, the [[searchStream]] sink contract. The
    * model frames are loaded ONCE at stream start; per-batch cost is
    * the batch's token stream joined to the (broadcastable) model.
    * Optional `maxMilli` drops docs scoring above the threshold (the
    * CCNet perplexity-bucket cut) before the sink. */
  def lmScoreStream(docs: DataFrame, modelPath: String, outDir: String,
      checkpoint: String, maxMilli: Long = Long.MaxValue,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val model = graft.operators.TextAnalysis
      .loadLmModel(docs.sparkSession, modelPath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.TextAnalysis.scoreLm(batch, model)
            .filter(col("mean_invp_milli") <= maxMilli)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        }
        ()
      }
      .start()
  }

  /** Stream documents through STANDING DSIR word models
    * ([[graft.operators.TextAnalysis.saveWordModel]] artifacts for
    * the target and raw corpora): each micro-batch is scored with
    * [[graft.operators.TextAnalysis.importanceMilli]] against the
    * frozen models — never against itself — and lands batch-addressed
    * (`outDir/batch=<id>`, overwrite) so at-least-once replays are
    * idempotent, the [[lmScoreStream]] shape. With `alphaMilli > 0`
    * the batch is importance-RESAMPLED instead of merely scored
    * ([[graft.operators.TextAnalysis.dsirSample]] — hash-stable
    * membership keyed on the doc id, so a replay keeps the identical
    * rows); `alphaMilli = 0` (default) scores without dropping on the
    * score — the nightly-scoring loop. Either way a doc with NO
    * scoreable units (empty/whitespace-only text; fewer than n tokens
    * in ngram mode) lands nothing: no words means no importance is
    * defined, the [[graft.operators.TextAnalysis.importanceMilli]]
    * stance. Models are loaded once at
    * stream start; per-batch cost is the batch's word stream joined
    * to the two slim (word, count) models.
    *
    * `ngram = Some((n, buckets))` scores through the hashed n-gram
    * feature space instead ([[graft.operators.TextAnalysis
    * .importanceMilliNgram]] — the paper's own features); the
    * standing models must then be [[graft.operators.TextAnalysis
    * .ngramModel]] artifacts built with the SAME (n, buckets) — a
    * mismatch is a silent feature-space change, the batch scorer
    * cannot detect it. */
  def dsirScoreStream(docs: DataFrame, targetModelPath: String,
      rawModelPath: String, outDir: String, checkpoint: String,
      alphaMilli: Long = 0L, idCol: String = "doc_id",
      textCol: String = "text", ngram: Option[(Int, Int)] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(alphaMilli >= 0L,
      "[GRAFT] dsirScoreStream: alphaMilli must be >= 0 (0 = score only)")
    val spark = docs.sparkSession
    val target = graft.operators.TextAnalysis
      .loadWordModel(spark, targetModelPath)
    val raw = graft.operators.TextAnalysis
      .loadWordModel(spark, rawModelPath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dsirScoreBatch(batch, batchId, target, raw, outDir, alphaMilli,
          idCol, textCol, ngram)
      }
      .start()
  }

  /** [[dsirScoreStream]]'s per-batch body, separated so replay
    * idempotence and batch parity are testable. */
  private[graft] def dsirScoreBatch(batch0: DataFrame, batchId: Long,
      target: graft.operators.TextAnalysis.WordModel,
      raw: graft.operators.TextAnalysis.WordModel, outDir: String,
      alphaMilli: Long, idCol: String, textCol: String,
      ngram: Option[(Int, Int)] = None): Unit = {
    import graft.operators.{TextAnalysis => TA}
    // PERSIST the micro-batch: the score is an aggregate over the
    // doc's words, so hydrating the doc columns back is a self-join —
    // an un-persisted source subtree would re-read the batch per pass
    val batch = batch0.persist()
    try {
      if (batch.isEmpty) return
      // the join-back depends on id uniqueness WITHIN the batch (a
      // duplicate would cross-multiply its rows) — fail loudly
      require(batch.groupBy(col(idCol)).count()
          .filter(col("count") > 1).isEmpty,
        s"[GRAFT] dsirScoreBatch: $idCol must be unique within a batch")
      val out = (alphaMilli > 0L, ngram) match {
        case (true, None) =>
          TA.dsirSample(batch, target, raw,
            col(idCol).cast("string"), alphaMilli, idCol, textCol)
        case (true, Some((n, b))) =>
          TA.dsirSampleNgram(batch, target, raw,
            col(idCol).cast("string"), alphaMilli, n, b, idCol, textCol)
        case (false, None) =>
          batch.join(TA.importanceMilli(batch, target, raw, idCol,
            textCol), Seq(idCol))
        case (false, Some((n, b))) =>
          batch.join(TA.importanceMilliNgram(batch, target, raw, n, b,
            idCol, textCol), Seq(idCol))
      }
      out.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    } finally batch.unpersist()
    ()
  }

  /** Continuous margin mining: each micro-batch of source vectors is
    * aligned against a STANDING target IVF artifact
    * ([[graft.operators.Mining.marginPairsDelta]] — forward
    * candidates probe nProbe clusters per query, backward
    * neighborhoods brute-force the batch itself; candidates re-score
    * exactly against the raw `tgt` rows the artifact was built
    * over), and the mined
    * pairs land batch-addressed (`outDir/batch=<id>`, overwrite) so
    * at-least-once replays are idempotent — the
    * [[dsirScoreStream]] shape for the alignment loop: new crawl
    * shards arrive, pairs against the standing corpus come out. The
    * artifact is NOT mutated; rebuilds/appends to it are the
    * separate standing-index lifecycle. */
  def marginMineStream(vectors: DataFrame, tgtPath: String,
      tgt: DataFrame, outDir: String, checkpoint: String, k: Int = 4,
      nProbe: Int = 4, minMarginMilli: Long = 1000L,
      idCol: String = "id", vecCol: String = "values",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        marginMineBatch(batch, batchId, tgtPath, tgt, outDir, k, nProbe,
          minMarginMilli, idCol, vecCol)
      }
      .start()

  /** [[marginMineStream]]'s per-batch body, separated so replay
    * idempotence and batch parity are testable. */
  private[graft] def marginMineBatch(batch0: DataFrame, batchId: Long,
      tgtPath: String, tgt: DataFrame, outDir: String, k: Int,
      nProbe: Int, minMarginMilli: Long, idCol: String,
      vecCol: String): Unit = {
    // PERSIST the micro-batch: it is both the forward query side and
    // the backward brute-force base — an un-persisted source subtree
    // would re-read the batch per pass. It is unpersisted in finally
    // (a DataFrame-level unpersist, which also drops the CacheManager
    // plan entry). The pipeline's INTERNAL caches are released
    // inside marginPairsDelta before it returns, so a long-running
    // stream holds at most one batch's blocks. Nothing here touches
    // caches owned by concurrent queries sharing the SparkContext.
    val batch = batch0.persist()
    try {
      if (batch.isEmpty) return
      // backward neighborhoods fold k rows PER id — a duplicate id
      // would silently pollute its own neighborhood; fail loudly
      require(batch.groupBy(col(idCol)).count()
          .filter(col("count") > 1).isEmpty,
        s"[GRAFT] marginMineBatch: $idCol must be unique within a batch")
      graft.operators.Mining.marginPairsDelta(batch.sparkSession,
          tgtPath, tgt, batch, k, nProbe, minMarginMilli, idCol, vecCol)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    } finally batch.unpersist()
    ()
  }

  /** Route a document stream BY PREDICTED LANGUAGE through a frozen
    * trigram model ([[graft.operators.TextAnalysis.trainLangId]]):
    * each micro-batch is scored with `scoreLangId` against the model
    * as trained — never retrained on the stream — and lands
    * language-PARTITIONED under a batch-addressed dir
    * (`outDir/batch=<id>/lang_pred=<l>/`), the multilingual-corpus
    * ingest shape: downstream per-language pipelines read exactly
    * their partition (partition pruning on `lang_pred`), and
    * at-least-once replays overwrite their own batch dir (the
    * [[searchStream]] sink contract). Optional `keepLangs` keeps only
    * the named languages ("und" noise and out-of-profile languages
    * never reach the sink). The model is resolved and CACHED once at
    * stream start; per-batch cost is the batch's trigram stream
    * against the broadcast pivot. */
  def langIdRouteStream(docs: DataFrame, model: DataFrame,
      outDir: String, checkpoint: String,
      keepLangs: Seq[String] = Nil,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(keepLangs.distinct.length == keepLangs.length,
      "[GRAFT] langIdRouteStream: keepLangs has duplicates")
    // the frozen-model lifecycle (cache, release on termination)
    // lives in withFrozenModel — shared with curateIngestStream
    withFrozenModel(docs.sparkSession, model) { frozen =>
      docs.writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          langIdRouteBatch(batch, batchId, frozen, outDir, keepLangs)
        }
        .start()
    }
  }

  /** [[langIdRouteStream]]'s per-batch body, separated so replay
    * idempotence and batch parity are testable. */
  private[graft] def langIdRouteBatch(batch0: DataFrame, batchId: Long,
      model: DataFrame, outDir: String, keepLangs: Seq[String]): Unit = {
    // PERSIST the micro-batch: the body takes five passes over it
    // (emptiness, the uniqueness check, scoreLangId's explode side
    // and its per-doc left-join side, and the text join-back) — an
    // un-persisted source subtree would re-read the batch input for
    // each
    val batch = batch0.select(col("doc_id"), col("text")).persist()
    try {
      if (batch.isEmpty) return
      // the text rides back via a doc_id join, which depends on id
      // uniqueness WITHIN the batch (a duplicate would cross-multiply
      // its rows) — fail loudly instead of silently fanning out
      require(batch.groupBy(col("doc_id")).count()
          .filter(col("count") > 1).isEmpty,
        "[GRAFT] langIdRouteBatch: doc_id must be unique within a batch")
      val scored = graft.operators.TextAnalysis.scoreLangId(batch, model)
        .join(batch, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang_pred"),
          col("matched"), col("score_milli"))
      val routed =
        if (keepLangs.isEmpty) scored
        else scored.filter(col("lang_pred").isin(keepLangs: _*))
      // STATIC overwrite is pinned explicitly: the replay-idempotence
      // contract is "a replayed batch overwrites its WHOLE batch dir",
      // and a session-level partitionOverwriteMode=dynamic would
      // rewrite only the languages present in the replay, leaving
      // ghost partitions from the first attempt
      routed.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("lang_pred")
        .parquet(s"$outDir/batch=$batchId")
    } finally batch.unpersist()
  }

  /** Monitor a document stream for DRIFT against the standing corpus
    * artifacts — the signal that a frozen reference model
    * ([[lmScoreStream]]'s LM, a scoring vocabulary, a BPE merge
    * table) has gone stale and needs retraining. Per micro-batch,
    * ONE summary row lands at `outDir/batch=<id>` (overwrite —
    * replay-idempotent):
    *
    *   (batch_id, n_docs, oov_mean_milli, lm_mean_milli, stale)
    *
    * where `oov_mean_milli` is the batch mean of
    * [[graft.operators.TextAnalysis.oovRate]] against the FROZEN
    * vocabulary at `vocabPath` (a persisted
    * [[graft.operators.TextAnalysis.vocabulary]] frame),
    * `lm_mean_milli` the batch mean of
    * [[graft.operators.TextAnalysis.scoreLm]] against the frozen
    * model at `modelPath`, and `stale` fires when the OOV mean
    * exceeds `oovStaleMilli`. Means are exact integer divisions, so
    * the monitor is engine-portable like the scores it summarizes.
    * Per-batch cost ∝ batch size (the frozen artifacts are read once
    * at stream start). */
  def driftMonitorStream(docs: DataFrame, vocabPath: String,
      modelPath: String, outDir: String, checkpoint: String,
      oovStaleMilli: Long = 500L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = docs.sparkSession
    val vocab = spark.read.parquet(vocabPath)
      .select(col("word"))
    val model = graft.operators.TextAnalysis.loadLmModel(spark, modelPath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val oov = graft.operators.TextAnalysis
            .oovRate(batch, vocabOverride = Some(vocab))
          val lm = graft.operators.TextAnalysis.scoreLm(batch, model)
          val summary = oov
            .join(lm.select(col("doc_id"), col("mean_invp_milli")),
              Seq("doc_id"), "left")
            .agg(count(lit(1)).as("n_docs"),
              sum(col("oov_milli")).as("__oov_sum"),
              sum(coalesce(col("mean_invp_milli"), lit(0L)))
                .as("__lm_sum"))
            .select(lit(batchId).as("batch_id"), col("n_docs"),
              (col("__oov_sum") - pmod(col("__oov_sum"), col("n_docs")))
                .divide(col("n_docs")).cast("long").as("oov_mean_milli"),
              (col("__lm_sum") - pmod(col("__lm_sum"), col("n_docs")))
                .divide(col("n_docs")).cast("long").as("lm_mean_milli"))
            .withColumn("stale", col("oov_mean_milli") > oovStaleMilli)
          summary.write.mode("overwrite")
            .parquet(s"$outDir/batch=$batchId")
        }
        ()
      }
      .start()
  }

  private val hllCommitMarker = "_commit_v"

  /** Committed register-table versions under `registersDir`, sorted
    * ascending. A version counts only once its `_commit_v<N>` marker
    * file exists — marker creation is the atomic commit point. */
  private def hllCommittedVersions(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(hllCommitMarker) =>
        n.stripPrefix(hllCommitMarker).toLong }
      .sorted

  /** The CURRENT committed register table under `registersDir` (see
    * [[hllIngestStream]]); throws if no version has committed yet. */
  def hllCurrentRegisters(spark: SparkSession,
      registersDir: String): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(registersDir)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = hllCommittedVersions(fs, hp)
    require(versions.nonEmpty,
      s"[GRAFT] no committed HLL registers under $registersDir")
    spark.read.parquet(s"$registersDir/v${versions.last}")
  }

  /** Streaming distinct-count maintenance via the portable HLL: each
    * micro-batch's registers ([[graft.operators.Sketches.hllRegisters]])
    * merge into a persisted register table by per-bucket max — the HLL
    * merge law, so the table always equals the registers of the union
    * of all batches ever seen, in O(2^p) rows regardless of stream
    * volume.
    *
    * Durability: the merged table is written to a NEW versioned
    * directory (`v<N>`) and committed by atomically creating a
    * `_commit_v<N>` marker — never by overwriting the only copy. A
    * crash between the data write and the marker leaves the previous
    * version current (the replayed batch re-merges idempotently —
    * max is idempotent); a concurrent [[hllCurrentRegisters]] reader
    * always resolves a fully-written immutable version. The previous
    * version is retained at each commit (readers mid-resolution);
    * older ones are vacuumed. */
  def hllIngestStream(stream: DataFrame, keyCol: String,
      registersDir: String, checkpoint: String, p: Int = 12,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.operators.Sketches
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val hp = new org.apache.hadoop.fs.Path(registersDir)
        val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
        val versions = hllCommittedVersions(fs, hp)
        val regs = Sketches.hllRegisters(batch,
          col(keyCol).cast("string"), p)
        val merged = versions.lastOption match {
          case Some(cur) =>
            regs.unionByName(
                spark.read.parquet(s"$registersDir/v$cur"))
              .groupBy(col("bucket"))
              .agg(max(col("max_rho")).as("max_rho"))
          case None => regs
        }
        // ≤ 2^p rows: route through the driver so the version write
        // doesn't read the table it derives from
        val rows = merged.collect().toIndexedSeq
        import spark.implicits._
        val newV = versions.lastOption.fold(0L)(_ + 1L)
        rows.map(r => (r.getLong(0), r.getInt(1)))
          .toDF("bucket", "max_rho")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$registersDir/v$newV")
        // atomic commit point
        fs.create(new org.apache.hadoop.fs.Path(hp,
          s"$hllCommitMarker$newV"), true).close()
        // vacuum all but the new and previous versions
        versions.dropRight(1).foreach { old =>
          fs.delete(new org.apache.hadoop.fs.Path(hp, s"v$old"), true)
          fs.delete(new org.apache.hadoop.fs.Path(hp,
            s"$hllCommitMarker$old"), false)
        }
        ()
      }
      .start()
  }

  /** Stream-stream interval join: each click joined to the purchases
    * of the same user landing within `[click.ts, click.ts + horizon]`.
    * Both sides carry watermarks and the join condition bounds event
    * time in BOTH directions, so Spark can size the join state buffer
    * and evict rows as the watermark advances — without the time bound
    * the state grows forever. The batch twin (`q_interval_join`
    * oracle) runs the same plan over static frames.
    *
    * Inputs must expose: clicks(event_id, user_id, ts),
    * purchases(user_id, pts, value). */
  def intervalJoinStream(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    // both sides normalized so a mixed NTZ/LTZ pair still joins on
    // one timestamp flavor
    val c = TimeNorm.normalize(clicks, "ts")
      .withWatermark("ts", watermark).alias("c")
    val p = TimeNorm.normalize(purchases, "pts")
      .withWatermark("pts", watermark).alias("p")
    c.join(p, expr(
      s"""c.user_id = p.user_id AND
         |p.pts >= c.ts AND p.pts <= c.ts + interval $horizon""".stripMargin))
      .select(col("c.event_id"), col("c.user_id"), col("c.ts"),
        col("p.pts"), col("p.value"))
  }

  /** Streaming OHLC bars: the watermarked tumbling-window twin of
    * [[graft.operators.TimeSeries.ohlc]] — per (key, window) count,
    * open/high/low/close over centi-rounded values, with the SAME
    * deterministic struct-min/max open/close rule (a timestamp tie
    * resolves to the smallest/largest centi-value, so replays and
    * partition order can't change emitted bars). Append-mode safe:
    * bars emit once their window falls behind the watermark. Works
    * identically over a batch frame (`batchMode = true`) for
    * oracle-checkable semantics. Accepts TIMESTAMP / TIMESTAMP_NTZ /
    * LONG-nanos time columns ([[TimeNorm]]). */
  def ohlcStream(events: DataFrame, keyCol: String = "event_type",
      window_ : String = "1 hour", watermark: String = "10 minutes",
      batchMode: Boolean = false): DataFrame = {
    val evN = TimeNorm.normalize(events, "ts")
    val src = if (batchMode) evN else evN.withWatermark("ts", watermark)
    src
      .select(col(keyCol).as("k"), col("ts"),
        TimeNorm.epochMicros(col("ts")).as("__us"),
        round(col("value") * 100).cast("long").as("__v"))
      .groupBy(window(col("ts"), window_), col("k"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("__us"), col("__v"))).getField("__v").as("open_c"),
        max(col("__v")).as("high_c"),
        min(col("__v")).as("low_c"),
        max(struct(col("__us"), col("__v"))).getField("__v").as("close_c"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("ws"),
        col("k"), col("n"), col("open_c"), col("high_c"), col("low_c"),
        col("close_c"))
  }

  /** Streaming cohort-retention increments — the watermarked
    * incremental twin of [[graft.operators.TimeSeries.retention]].
    * Per-key state is (cohort, seen buckets); each micro-batch emits
    * one (cohort, bucket_offset) row per NEWLY seen distinct (key,
    * bucket) pair, so a `count(*)` per (cohort, bucket_offset) over
    * the appended sink equals the batch retention table. The state is
    * exactly the distinct-(key, bucket) set — bounded by
    * |keys| · active-buckets-per-key, the same floor the batch
    * operator's first hash-agg pays and the minimum ANY exact
    * retention needs; per-batch work is ∝ the batch.
    *
    * Replay-idempotent at the row level: an already-seen (key,
    * bucket) emits nothing, so a replayed micro-batch contributes no
    * duplicate increments (state updates are transactional with the
    * streaming checkpoint).
    *
    * Documented divergence under out-of-order arrival: cohort = min
    * bucket seen SO FAR. An earlier-than-cohort event arriving in a
    * LATER micro-batch re-anchors the key's cohort for subsequent
    * emissions, but append mode cannot retract rows already emitted
    * under the old cohort. In `batchMode` (one pass over a static
    * frame — how the oracle runs it) every key is processed once with
    * its full bucket set, the cohort is the true min, and the result
    * matches [[graft.operators.TimeSeries.retention]] exactly. */
  def retentionStream(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", bucketSec: Long = 86400L,
      watermark: String = "1 day", batchMode: Boolean = false): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(bucketSec > 0,
      "[GRAFT] retentionStream: bucketSec must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val evN = TimeNorm.normalize(events, tsCol)
    val src = if (batchMode) evN else evN.withWatermark(tsCol, watermark)
    val stepUs = bucketSec * 1000000L
    val us = TimeNorm.epochMicros(col(tsCol))
    val bucket = ((us - us % lit(stepUs)) / 1000000L).cast("long")
      .as("bucket")
    // the emitted rows never contain the key, so string and integral
    // keys share ONE fold and differ only in the grouping encoder —
    // the string path groups by the string itself (no lossy hash)
    src.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        val typed = src.select(col(keyCol).as("k"), bucket)
          .as[(String, Long)]
        typed.groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Seq[Long]), (Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (_: String, rows: Iterator[(String, Long)],
                state: GroupState[(Long, Seq[Long])]) =>
              retentionFold(rows.map(_._2).toSet, state, bucketSec)
          }
          .toDF("cohort", "bucket_offset")
      case _ =>
        requireStatefulKey(src, keyCol, "retentionStream")
        val typed = src.select(col(keyCol).cast("long").as("k"), bucket)
          .as[(Long, Long)]
        typed.groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Seq[Long]), (Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (_: Long, rows: Iterator[(Long, Long)],
                state: GroupState[(Long, Seq[Long])]) =>
              retentionFold(rows.map(_._2).toSet, state, bucketSec)
          }
          .toDF("cohort", "bucket_offset")
    }
  }

  /** [[retentionStream]]'s per-key fold, shared by the long- and
    * string-keyed groupings (the key shapes only the grouping, never
    * the computation). Emission order is sorted — deterministic
    * within a key. */
  private def retentionFold(incoming: Set[Long],
      state: org.apache.spark.sql.streaming.GroupState[(Long, Seq[Long])],
      bucketSec: Long): Iterator[(Long, Long)] = {
    val (oldCohort, seenSeq) = state.getOption
      .getOrElse((Long.MaxValue, Seq.empty[Long]))
    val seen = seenSeq.toSet
    val fresh = incoming -- seen
    if (fresh.isEmpty) Iterator.empty
    else {
      val cohort = math.min(oldCohort, fresh.min)
      state.update((cohort, (seen ++ fresh).toSeq))
      fresh.toSeq.sorted.iterator
        .map(b => (cohort, (b - cohort) / bucketSec))
    }
  }

  /** Streaming ordered-funnel completions — the incremental twin of
    * [[graft.operators.TimeSeries.funnel]] (and, with
    * `maxStepGapSec`, of `funnelWindowed`). Per-key state is just
    * (next step index, previous step's completion micros) — O(1) per
    * key, the smallest state any exact funnel can carry. Each
    * micro-batch advances the key's pointer greedily over its events
    * in (ts, step-index) order and emits one (step, event_type) row
    * per step completed, so `count(*)` per step over the appended
    * sink equals the batch funnel's n_keys column (steps nobody
    * completed need a zero-fill join — see `stream_funnel` in
    * [[graft.SparkEntry]]).
    *
    * The greedy scan IS the batch semantics: processing events in
    * (us, stepIdx) order with a forward-only pointer yields exactly
    * "step i's earliest event at-or-after step i−1's completion" —
    * ties process lower steps first, so simultaneous events complete
    * multiple steps, matching the batch operator's `>=` filter.
    *
    * Documented divergence under out-of-order arrival: the pointer
    * only moves forward, so an out-of-order event landing in a LATER
    * micro-batch cannot retroactively complete an earlier step
    * (append mode cannot retract). In `batchMode` every key's full
    * history is processed in one sorted pass and the result matches
    * [[graft.operators.TimeSeries.funnel]] / `funnelWindowed`
    * exactly. */
  def funnelStream(events: DataFrame, steps: Seq[String],
      keyCol: String = "user_id", tsCol: String = "ts",
      stepCol: String = "event_type", watermark: String = "1 hour",
      maxStepGapSec: Option[Long] = None,
      batchMode: Boolean = false): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(steps.nonEmpty, "[GRAFT] funnelStream: steps must be non-empty")
    require(steps.distinct.length == steps.length,
      "[GRAFT] funnelStream: steps must be distinct")
    maxStepGapSec.foreach(g => require(g > 0,
      "[GRAFT] funnelStream: maxStepGapSec must be positive"))
    val spark = events.sparkSession
    import spark.implicits._
    val evN = TimeNorm.normalize(events, tsCol)
    val src = if (batchMode) evN else evN.withWatermark(tsCol, watermark)
    val stepIdx = steps.zipWithIndex.toMap
    val gapUs = maxStepGapSec.map(_ * 1000000L)
    val names = steps.toArray
    // key-free emissions: one fold, two grouping encoders (see
    // [[retentionStream]])
    val folded = src.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        src.select(col(keyCol).as("k"),
            TimeNorm.epochMicros(col(tsCol)).as("us"),
            col(stepCol).cast("string").as("t"))
          .as[(String, Long, String)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[(Int, Long), (Int, String)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (_: String, rows: Iterator[(String, Long, String)],
                state: GroupState[(Int, Long)]) =>
              funnelFold(rows
                .flatMap(r => stepIdx.get(r._3).map(i => (r._2, i)))
                .toArray.sorted, state, names, gapUs)
          }
      case _ =>
        requireStatefulKey(src, keyCol, "funnelStream")
        src.select(col(keyCol).cast("long").as("k"),
            TimeNorm.epochMicros(col(tsCol)).as("us"),
            col(stepCol).cast("string").as("t"))
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[(Int, Long), (Int, String)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (_: Long, rows: Iterator[(Long, Long, String)],
                state: GroupState[(Int, Long)]) =>
              funnelFold(rows
                .flatMap(r => stepIdx.get(r._3).map(i => (r._2, i)))
                .toArray.sorted, state, names, gapUs)
          }
    }
    folded
      .toDF("step", "event_type")
      .select(col("step").cast("long").as("step"), col("event_type"))
  }

  /** [[funnelStream]]'s per-key fold over the (us, stepIdx)-sorted
    * relevant events — ties process lower steps first, so
    * simultaneous events complete multiple steps, matching the batch
    * operator's `>=` filter. */
  private def funnelFold(relevant: Array[(Long, Int)],
      state: org.apache.spark.sql.streaming.GroupState[(Int, Long)],
      names: Array[String],
      gapUs: Option[Long]): Iterator[(Int, String)] = {
    var (next, su) = state.getOption.getOrElse((0, Long.MinValue))
    val completed = Array.newBuilder[(Int, String)]
    relevant.foreach { case (us0, i) =>
      if (next < names.length && i == next &&
          (next == 0 || (us0 >= su &&
            gapUs.forall(g => us0 <= su + g)))) {
        completed += ((next, names(next)))
        su = us0
        next += 1
      }
    }
    val out = completed.result()
    if (out.nonEmpty) state.update((next, su))
    out.iterator
  }

  /** Streaming sessionization — the incremental twin of the batch
    * `w_sessionize` query (gap-based sessions: a silence longer than
    * `gapSec` closes the session). Per-key state is one OPEN session:
    * (session ordinal, start micros, last-event micros, event count)
    * — O(1) per key, the smallest state gap sessionization can carry.
    * A session row (key, session_id, n_events, start_us) is emitted
    * when the session CLOSES: either a later event arrives past the
    * gap, or (streaming mode) the event-time timeout fires once the
    * watermark passes last-event + gap — the same instant the session
    * became unclosable, so results are as prompt as correctness
    * allows. Session ordinals count 1, 2, … per key in event-time
    * order, matching the batch window's running sum of gap breaks; a
    * timeout close leaves an ordinal-holding tombstone so the next
    * session cannot reuse an emitted session_id, and the tombstone
    * itself expires after `tombstoneRetentionSec` of further silence
    * (state stays bounded to recently-active keys; a key silent past
    * the horizon restarts at ordinal 1 — documented trade).
    *
    * Documented divergence under out-of-order arrival: events inside
    * one micro-batch are sorted before folding, but an event arriving
    * in a LATER micro-batch with an EARLIER timestamp than the open
    * session's last event cannot retroactively split or reorder
    * already-closed sessions (append mode cannot retract). In
    * `batchMode` (one pass over a static frame — how the oracle runs
    * it) each key's full history folds in one sorted pass, open
    * sessions flush at the end, and the result matches the batch
    * window exactly. */
  def sessionizeStream(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", gapSec: Long = 1800L,
      watermark: String = "1 hour", batchMode: Boolean = false,
      tombstoneRetentionSec: Long = 30L * 86400L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(gapSec > 0, "[GRAFT] sessionizeStream: gapSec must be positive")
    require(tombstoneRetentionSec > gapSec,
      "[GRAFT] sessionizeStream: tombstoneRetentionSec must exceed " +
        "gapSec — the session timeout fires only once the watermark " +
        "passes last-event + gap, so a shorter retention would place " +
        "the tombstone deadline behind the watermark")
    val spark = events.sparkSession
    import spark.implicits._
    val evN = TimeNorm.normalize(events, tsCol)
    val src = if (batchMode) evN else evN.withWatermark(tsCol, watermark)
    val gapUs = gapSec * 1000000L
    // the watermarked event-time column must itself reach the
    // stateful operator (EventTimeTimeout resolves against it), so
    // `ts` rides along next to its micros projection. The key column
    // shapes only the grouping and the first output column — string
    // keys (UUID user ids, the common real shape) group by the
    // string itself; everything else goes through the lossless-long
    // guard. One fold serves both paths.
    val timeout =
      if (batchMode) GroupStateTimeout.NoTimeout
      else GroupStateTimeout.EventTimeTimeout
    src.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        src.select(col(keyCol).as("k"), col(tsCol).as("ts"),
            TimeNorm.epochMicros(col(tsCol)).as("us"))
          .as[(String, java.sql.Timestamp, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Long, Long, Long),
              (String, Long, Long, Long)](OutputMode.Append, timeout) {
            (k: String,
                rows: Iterator[(String, java.sql.Timestamp, Long)],
                state: GroupState[(Long, Long, Long, Long)]) =>
              sessionizeFold(rows.map(_._3).toArray, state, gapUs,
                gapSec, tombstoneRetentionSec, batchMode)
                .map { case (sid, n, su) => (k, sid, n, su) }
          }
          .toDF(keyCol, "session_id", "n_events", "start_us")
      case _ =>
        requireStatefulKey(src, keyCol, "sessionizeStream")
        src.select(col(keyCol).cast("long").as("k"), col(tsCol).as("ts"),
            TimeNorm.epochMicros(col(tsCol)).as("us"))
          .as[(Long, java.sql.Timestamp, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Long, Long, Long),
              (Long, Long, Long, Long)](OutputMode.Append, timeout) {
            (k: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
                state: GroupState[(Long, Long, Long, Long)]) =>
              sessionizeFold(rows.map(_._3).toArray, state, gapUs,
                gapSec, tombstoneRetentionSec, batchMode)
                .map { case (sid, n, su) => (k, sid, n, su) }
          }
          .toDF(keyCol, "session_id", "n_events", "start_us")
    }
  }

  /** [[sessionizeStream]]'s per-key fold, key-free — emits
    * (session_id, n_events, start_us) triples; the caller prepends
    * its key. State: (sessionId, startUs, lastUs, nEvents).
    * nEvents > 0 = an OPEN session with ordinal sessionId;
    * nEvents == 0 = a TOMBSTONE left by a timeout close, holding the
    * NEXT ordinal so a later event cannot reuse an already-emitted
    * session_id. The tombstone itself expires after
    * `tombstoneRetentionSec` of further silence (event-time),
    * bounding state to RECENTLY-active keys rather than every key
    * ever seen — the documented trade: a key silent longer than the
    * retention restarts its ordinals at 1 (same horizon-bounding
    * stance as dropDuplicatesWithinWatermark). */
  private def sessionizeFold(usArr: Array[Long],
      state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long, Long)],
      gapUs: Long, gapSec: Long, tombstoneRetentionSec: Long,
      batchMode: Boolean): Iterator[(Long, Long, Long)] = {
    if (state.hasTimedOut) {
      val (sid, su, lastUs, n) = state.get
      if (n == 0L) {
        // the TOMBSTONE expired: the key has been silent past the
        // retention horizon — drop its state entirely
        state.remove()
        Iterator.empty
      } else {
        // watermark passed lastUs + gap: the open session closed.
        // Leave the ordinal-holding tombstone with its own retention
        // deadline — UNLESS the watermark has already passed it
        // (stream downtime / backfill can advance it arbitrarily
        // far, and Spark rejects a timeout behind the watermark):
        // then the tombstone would expire this instant anyway, so
        // drop the state directly (the same ordinal-restart trade).
        val deadlineMs =
          lastUs / 1000L + tombstoneRetentionSec * 1000L
        if (state.getCurrentWatermarkMs() >= deadlineMs)
          state.remove()
        else {
          state.update((sid + 1, 0L, lastUs, 0L))
          state.setTimeoutTimestamp(deadlineMs)
        }
        Iterator.single((sid, n, su))
      }
    } else {
      val closed = Array.newBuilder[(Long, Long, Long)]
      var open = state.getOption
      usArr.sorted.foreach { us =>
        open match {
          case Some((sid, su, lastUs, n)) if n > 0 =>
            if (us - lastUs > gapUs) {
              closed += ((sid, n, su))
              open = Some((sid + 1, us, us, 1L))
            } else open = Some((sid, su, math.max(lastUs, us), n + 1))
          case Some((nextSid, _, _, _)) => // tombstone: resume ordinal
            open = Some((nextSid, us, us, 1L))
          case None => open = Some((1L, us, us, 1L))
        }
      }
      if (batchMode) {
        // static frame: this key never reappears — flush the open
        // session too (matches the batch window exactly)
        open.foreach { case (sid, su, _, n) => closed += ((sid, n, su)) }
      } else open.foreach { o =>
        state.update(o)
        if (o._4 > 0)
          state.setTimeoutTimestamp(o._3 / 1000L + gapSec * 1000L)
      }
      closed.result().iterator
    }
  }

  /** Per-host politeness scheduling as a STATEFUL streaming op — the
    * frontier is naturally a stream ([[pageExtractBatch]] lands its
    * head), and a polite fetcher needs the per-host ordinal to
    * CONTINUE across micro-batches: batch N's first fetch for a host
    * is scheduled after batch N−1's last, not back at offset 0. Same
    * semantics as [[graft.operators.WebCuration.politenessSchedule]]
    * (host from the URL, the host's declared Crawl-delay through the
    * RFC 9309 UA-group walk, else `defaultDelayMilli`; ordinals by
    * `orderCol` within the batch), with the window's per-host sort
    * replaced by a flatMapGroupsWithState fold whose state is ONE
    * LONG per host (the last assigned ordinal) — politeness itself
    * bounds the useful host fan, so state stays host-sized. `robots`
    * is a STATIC frame (stream-static joins are Spark-native). The
    * same call over a static frame runs the fold in one pass with
    * empty initial state and matches the batch window's
    * delay/seq/offset arithmetic exactly — no mode flag needed (the
    * fold has no watermark or timeout to gate).
    *
    * Output contract — SLIM, unlike [[WebCuration
    * .politenessSchedule]] which preserves every caller column: the
    * stateful fold carries typed rows, so only (host, orderCol
    * AS LONG, urlCol, delay_milli, fetch_seq, fetch_at_milli) come
    * back; join extra frontier columns back on `orderCol`
    * downstream. Rows whose URL yields no host group under the
    * empty-string host with the default delay (the batch window's
    * NULL-host group, made explicit so the state key is never
    * null).
    *
    * `maxPerHost` (> 0) is the SAME loud contract as the batch op's
    * ([[graft.operators.WebCuration.politenessSchedule]]): the fold
    * counts the host's LIFETIME ordinal (state + this batch) and
    * fails the query naming the host as soon as the cap is crossed —
    * enforced BEFORE the group materializes, so an uncapped
    * mega-host in a streaming frontier costs at most `maxPerHost`
    * buffered rows, never an executor OOM. Cap the frontier first
    * (capPerDomain/capPerDomainPsl per batch) — the cap is the
    * tripwire, not the mechanism. */
  def politenessStream(urls: DataFrame, robots: DataFrame,
      userAgent: String, defaultDelayMilli: Long = 1000L,
      urlCol: String = "url", orderCol: String = "doc_id",
      maxPerHost: Long = 0L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(userAgent.nonEmpty,
      "[GRAFT] politenessStream: empty user agent")
    require(defaultDelayMilli >= 0,
      "[GRAFT] politenessStream: negative default delay")
    requireStatefulKey(urls, orderCol, "politenessStream")
    Seq("host", "delay_milli", "fetch_seq", "fetch_at_milli")
      .foreach(c => require(!urls.columns.contains(c),
        s"[GRAFT] politenessStream: input already has a '$c' " +
          "column — rename it first (the schedule emits that name)"))
    val spark = urls.sparkSession
    import spark.implicits._
    val cap = maxPerHost
    graft.operators.WebCuration
      .politenessStage(urls, robots, userAgent, defaultDelayMilli,
        urlCol, "politenessStream")
      .select(coalesce(col("__host"), lit("")).as("h"),
        col(orderCol).cast("long").as("o"), col(urlCol).as("u"),
        col("delay_milli").cast("long").as("d"))
      .as[(String, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long,
          (String, Long, String, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[(String, Long, String, Long)],
            state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val seq0 = state.getOption.getOrElse(0L)
          // the cap is checked WHILE draining the iterator — the
          // over-cap host throws after buffering at most cap+1 rows
          // (counting rows already scheduled in prior batches), so
          // the guard itself is memory-bounded
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, String, Long)]
          rows.foreach { r =>
            buf += r
            if (cap > 0 && seq0 + buf.length > cap)
              throw new IllegalStateException(
                s"[GRAFT] politenessStream: host $h exceeds " +
                  s"maxPerHost=$cap — cap the frontier first " +
                  "(capPerDomain/capPerDomainPsl)")
          }
          val sorted = buf.toArray.sortBy(r => (r._2, r._3))
          var seq = seq0
          val out = sorted.map { case (_, o, u, d) =>
            seq += 1
            (h, o, u, d, seq, (seq - 1L) * d)
          }
          state.update(seq)
          out.iterator
      }
      .toDF("host", orderCol, urlCol, "delay_milli", "fetch_seq",
        "fetch_at_milli")
  }

  /** Sitemap-driven recrawl scheduling as a streaming op — the twin
    * of [[graft.operators.WebCuration.recrawlSet]] for the standing
    * daily crawl: fresh sitemap fetches land as micro-batches of
    * exploded (url, lastmod) entries; `crawled` is the STATIC
    * last-crawl ledger (stream-static joins are Spark-native, the
    * ledger fold re-evaluates per batch against current data). The
    * instant-compare arithmetic is [[graft.operators.WebCuration
    * .recrawlSet]]'s verbatim (the decision rides the same plan);
    * the stateful fold adds the piece a stream NEEDS and a batch
    * does not — a per-URL emitted-guard (state = one boolean per
    * url) so a URL surfacing in several batches (overlapping sitemap
    * fetches, a sitemapindex revisit) is scheduled ONCE, not once
    * per batch. Within a batch, duplicate entries fold to the
    * smallest (lastmod, reason) pair — deterministic, order-free.
    *
    * Output contract — SLIM, the [[politenessStream]] stance: the
    * typed fold carries (url, lastmod, recrawl_reason) only; join
    * frontier columns back on `urlCol` downstream. A static-frame
    * run folds with empty initial state and replays the batch
    * operator exactly (per-URL dedup included). */
  def recrawlStream(entries: DataFrame, crawled: DataFrame,
      urlCol: String = "url", lastmodCol: String = "lastmod",
      crawledUrlCol: String = "url",
      crawledAtCol: String = "crawled_at"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = entries.sparkSession
    import spark.implicits._
    val decided = graft.operators.WebCuration.recrawlSet(
        entries.select(col(urlCol), col(lastmodCol)), crawled,
        urlCol, lastmodCol, crawledUrlCol, crawledAtCol)
      .select(col(urlCol).cast("string").as("u"),
        coalesce(col(lastmodCol).cast("string"), lit("")).as("l"),
        col("recrawl_reason").as("r"))
      .as[(String, String, String)]
    decided.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (u: String, rows: Iterator[(String, String, String)],
            state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.min(Ordering.by(
              (x: (String, String, String)) => (x._2, x._3)))
            state.update(true)
            Iterator.single((u, first._2, first._3))
          }
      }
      .toDF(urlCol, lastmodCol, "recrawl_reason")
  }

  /** Guard for the non-string keys of the stateful operators: a
    * `cast("long")` on an unsupported key type (a DOUBLE id, say)
    * silently rounds or overflows — and before string keys were
    * grouped natively, a UUID key would cast to NULL for every row,
    * collapsing ALL keys into one group. STRING keys never reach
    * this guard (they group by the string itself); scale-0 decimals
    * up to 18 digits (the common JDBC/warehouse export type for ids)
    * cast losslessly and are accepted; wider or fractional numerics
    * fail loudly at plan time. */
  private def requireStatefulKey(df: DataFrame, keyCol: String,
      op: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = df.schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0 && d.precision <= 18
      case _ => false
    }
    require(ok,
      s"[GRAFT] $op: key column `$keyCol` must be a string, an " +
        "integral type, or a scale-0 decimal up to 18 digits, got " +
        s"${df.schema(keyCol).dataType.simpleString} — a lossy " +
        "cast('long') would silently collapse or corrupt keys")
  }

  /** Event-time windowed aggregation with watermark — the standard
    * streaming analytics shape (count/sum per event_type per window).
    * Works identically over a batch DataFrame (run with
    * `batchMode = true` for oracle-checkable semantics). */
  def windowedEventCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "10 minutes", batchMode: Boolean = false): DataFrame = {
    val evN = TimeNorm.normalize(events, "ts")
    val src = if (batchMode) evN else evN.withWatermark("ts", watermark)
    src.groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")) * 100).cast("long").as("value_c"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("n"), col("value_c"))
  }
}
