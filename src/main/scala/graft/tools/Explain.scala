package graft.tools

import java.io.{File, FileOutputStream, PrintStream}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Dedup, Knn, Metric}
import graft.queries.{QuerySpec, Shared}

/** Prints formatted physical plans for the engine's key operators so
  * plan regressions (lost pushdown, missing broadcast, codegen breaks)
  * are visible: `sbt "runMain graft.tools.Explain [sfDir] [outDir]"`.
  *
  * Given `outDir`, nothing goes to stdout: each section's plan is
  * written to `outDir/<section>.txt` (the section title up to its
  * "(expect" note, lower-cased, non-alphanumerics as `_`) and the plans
  * of every declared query ([[dumpQuery]]) to `outDir/query_<name>.txt`,
  * so plan-shape claims stay checkable without running Spark. The
  * expected shapes of the declared queries are noted beside their
  * specs in `graft/queries`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).map(new File(_))
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val q = emb.filter(col("id") === 1L).head().getSeq[Float](1).toArray

    outDir.foreach(_.mkdirs())
    val written = scala.collection.mutable.Set.empty[String]
    // `body`'s output under a banner on stdout, or alone in
    // outDir/<name>.txt
    def emit(name: String, banner: String)(body: => Unit): Unit =
      outDir match {
        case None =>
          println(s"\n========== $banner ==========")
          body
        case Some(d) =>
          require(written.add(name), s"two plans named $name")
          val ps = new PrintStream(
            new FileOutputStream(new File(d, s"$name.txt")), true, "UTF-8")
          try Console.withOut(ps)(body) finally ps.close()
      }
    def nameOf(title: String) = title.takeWhile(_ != '(').trim.toLowerCase
      .replaceAll("[^a-z0-9]+", "_").stripSuffix("_")
    def show(title: String)(df: org.apache.spark.sql.DataFrame): Unit =
      emit(nameOf(title), title)(df.explain("formatted"))
    // the executed plans of every query `body` runs, in completion
    // order — for the eager operators, whose returned frame is only a
    // scan of their checkpointed result
    def showWork(title: String)(body: => Any): Unit = {
      val (_, _, plans) = sparkWork(spark)(body)
      emit(nameOf(title), title)(printExecuted(plans))
    }

    show("exact knn (expect: scan->project->TakeOrderedAndProject, codegen)") {
      Knn.exact(emb, q, 5, Metric.Cosine)
    }
    show("point lookup (expect: PushedFilters EqualTo(id..))") {
      emb.filter(col("id") === 42L)
    }
    show("column pruning (expect: ReadSchema id only)") {
      emb.select(col("id")).filter(col("id") < 10)
    }
    showWork("batch knn (expect: the sizing aggregate over the cached " +
        "query batch, then the checkpoint job: broadcast join + " +
        "partial vfs_topk)") {
      val queries = emb.limit(3).select(col("id").as("qid"),
        col("values").as("qvalues"))
      Knn.exactBatch(emb, queries, 5, Metric.Cosine)
    }
    show("minhash lsh (expect: ONE slim pinned exchange on band/bsig + " +
        "within-partition sort into the streaming bucket-pair scan " +
        "(MapPartitions, O(maxBucket) state), pinned REPARTITION_BY_NUM " +
        "width under dedup+verify)") {
      Dedup.minHashLsh(spark.read.parquet(s"$dir/documents.parquet"), 0.8)
    }
    val lshIdxDir = java.nio.file.Files
      .createTempDirectory("explain-lshidx").toString
    graft.operators.LshTextIndex.build(
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") >= 100), lshIdxDir)
    show("lsh index probe (expect: stored band table UNSHUFFLED — " +
        "partial-agged hot-bucket count + anti-join cap, delta-side " +
        "banding only, pinned width under dedup+verify)") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      graft.operators.LshTextIndex.probe(spark, lshIdxDir,
        docs.filter(col("doc_id") < 100),
        docs.filter(col("doc_id") >= 100))
    }
    show("sig index probe (expect: stored (id, sig) rows read SLIM — " +
        "band projection is a Generate over the scan, hot-bucket " +
        "count + anti-join cap on the stored side only, codegen'd " +
        "XOR+popcount hamming, pinned width under the pair dedup)") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val idx = java.nio.file.Files
        .createTempDirectory("explain-sigidx").toString
      def prints(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Multimodal.audioFingerprint(spark,
            graft.operators.Multimodal.synthesizeMedia(
              d.select((col("doc_id") * 3).as("doc_id"), col("text"))),
            window = 4)
          .select(col("doc_id").as("id"), col("sig"))
      graft.operators.SigIndex.build(
        prints(docs.filter(col("doc_id") >= 100)), idx,
        "audio-energy-w4")
      graft.operators.SigIndex.probe(spark, idx,
        prints(docs.filter(col("doc_id") < 100)), "audio-energy-w4")
    }
    show("gopher rules (expect: spread + one codegen'd projection, no agg)") {
      graft.operators.TextAnalysis.gopherSignals(
        spark.read.parquet(s"$dir/documents.parquet"))
    }
    show("c4 line cleaning (expect: spread + one codegen'd projection, " +
        "no agg)") {
      graft.operators.TextAnalysis.c4CleanLines(
        spark.read.parquet(s"$dir/documents.parquet"))
    }
    show("no-straddle bin packing (expect: one exchange by shard + " +
        "within-partition sort + a single mapPartitions pass)") {
      graft.operators.Packing.packBinsNextFit(
        spark.read.parquet(s"$dir/documents.parquet"),
        shard = pmod(col("doc_id"), lit(8L)), orderBy = col("doc_id"),
        nTokens = graft.operators.TextAnalysis.tokenCount(col("text")),
        binCapacity = 256)
    }
    show("range join (expect: equi-join on bin, NO BroadcastNestedLoop)") {
      import spark.implicits._
      val bins = (0 until 10).map(i => (i.toLong, i * 50.0, (i + 1) * 50.0))
        .toDF("bin_id", "lo", "hi")
      val ev = Shared.events(spark, dir)
        .select(col("event_id"), col("value"))
      graft.operators.RangeJoin
        .pointInInterval(ev, bins, "value", "lo", "hi", 20.0)
    }
    show("as-of join (expect: ONE exchange by key + Window, no broadcast)") {
      val ev = Shared.events(spark, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.backward(clicks, purchases,
        "user_id", "ts", "ts", Seq("pval"))
    }
    show("hash sample (expect: filter pushed into scan stage, no shuffle)") {
      graft.operators.Sampling.hashSample(
        spark.read.parquet(s"$dir/documents.parquet"), col("text"), 10)
    }
    show("contamination (expect: inverted-index SortMerge/ShuffledHash join)") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      graft.operators.Contamination.ngramOverlap(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", 3, 5, 50L)
    }
    show("repetition signals (expect: explode + 2 partial hashaggs, " +
        "1 broadcast/shuffle join back)") {
      graft.operators.TextAnalysis.repetitionSignals(
        spark.read.parquet(s"$dir/documents.parquet"))
    }
    show("pii scan (expect: single codegen'd project, no shuffle)") {
      graft.operators.TextAnalysis.piiStats(
        spark.read.parquet(s"$dir/documents.parquet"))
    }
    show("jpeg encode+decode stats (expect: spread exchange then ONE " +
        "MapPartitions chain over the scan — the whole codec is a " +
        "per-partition compute kernel, zero data shuffle)") {
      graft.operators.Multimodal.decodeStats(spark,
        graft.operators.Multimodal.synthesizeJpegColor(
          spark.read.parquet(s"$dir/documents.parquet"))).toDF()
    }
    val pqIvf = java.nio.file.Files.createTempDirectory("explain-ivfpq-i").toString
    val pqDir = java.nio.file.Files.createTempDirectory("explain-ivfpq-p").toString
    graft.operators.IvfIndex.build(emb, pqIvf, nCentroids = 8,
      graft.operators.Metric.Cosine)
    graft.operators.IvfPq.build(spark, pqIvf, pqDir, m = 32, ks = 64)
    show("ivf-pq adc scan (expect: scan of ONLY probed cluster= dirs + " +
        "TakeOrderedAndProject, no groupBy for nAssign=1)") {
      graft.operators.IvfPq.search(spark, pqIvf, pqDir, q, 10, nProbe = 2)
    }
    show("ivf-pq refine (expect: PushedFilters In(id,..) over probed dirs)") {
      graft.operators.IvfPq.searchRefined(spark, pqIvf, pqDir, q, 10,
        nProbe = 2)
    }
    showWork("ivf-pq BATCH search (expect: the probe-assignment and " +
        "sizing jobs over the cached query batch, then the checkpoint " +
        "job: codes scan of touched cluster= dirs only, broadcast hash " +
        "join on cluster, partial vfs_topk candidates, broadcast " +
        "id-join refine, partial vfs_topk final)") {
      val queries = emb.limit(3).select(col("id").as("qid"),
        col("values").as("qvalues"))
      graft.operators.IvfPq.searchBatch(spark, pqIvf, pqDir, queries,
        5, nProbe = 2, overfetch = 4)
    }
    // SQL TVF + index routing: the whole plan collapses to the deferred
    // IvfProbe leaf (cluster selection happens at execution time).
    // Reuses the IVF index built for the IVF-PQ section above — same
    // corpus, same parameters.
    graft.functions.registerAll(spark)
    graft.plans.IndexRegistry.register(s"$dir/embeddings.parquet", pqIvf,
      idCol = "vec_id", vecCol = "embedding")
    val qLit = q.map(x => s"CAST('$x' AS FLOAT)").mkString("array(", ",", ")")
    show("SQL vfs_knn over a REGISTERED index (expect: IvfProbe leaf)") {
      spark.sql(s"SELECT vec_id, distance FROM vfs_knn(" +
        s"'$dir/embeddings.parquet', 5, 'cosine', $qLit, 'embedding', 'vec_id')")
    }
    graft.plans.IndexRegistry.clear()
    show("SQL vfs_knn unindexed (expect: exact TakeOrderedAndProject)") {
      spark.sql(s"SELECT vec_id, distance FROM vfs_knn(" +
        s"'$dir/embeddings.parquet', 5, 'cosine', $qLit, 'embedding', 'vec_id')")
    }
    showWork("batch IVF probe (expect: the probe-assignment and sizing " +
        "jobs over the cached query batch, then the checkpoint job: " +
        "scan of ONLY touched cluster= dirs + broadcast cluster-scoped " +
        "join + partial vfs_topk)") {
      val queries = emb.limit(8).select(col("id").as("qid"),
        col("values").as("qvalues"))
      graft.operators.IvfIndex.searchBatch(spark, pqIvf, queries, 5,
        nProbe = 2)
    }
    // the plans ONE warm approximate API request executes, captured
    // from the request itself so they cannot drift from VfsApi's path
    locally {
      val root = java.nio.file.Files.createTempDirectory("explain-api").toString
      graft.store.VfsStore.create(spark, root, "explain", q.length)
        .appendBatch(emb.select(col("values"),
          concat(lit("v"), col("id").cast("string")).as("name"),
          array(lit("t")).as("tags")))
      val api = new graft.api.VfsApi(spark, root)
      api.init(s"""{"vector_dimension": ${q.length}, "truncate_data": false}""")
      val req = q.mkString("""{"values": [""", ",",
        """], "top_k": 10, "search_type": "approximate"}""")
      api.search(req) // cold: builds and opens the index
      showWork("approximate API request (expect: " +
          "TWO plans, no Exchange in either — the probe top-k " +
          "(TakeOrderedAndProject over ONLY the probed cluster= dirs), " +
          "then the id-pruned hydration (PushedFilters In(id, ..)))") {
        api.search(req)
      }
    }
    show("semantic dedup (expect: ZERO-shuffle argmin assignment " +
        "projection; one exchange on cluster for the scoped self-join)") {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      Dedup.semanticDedup(e, Dedup.seedCentroids(e, 8), tauMilli = 600L)
    }
    show("hll registers (expect: partial+final hashagg over slim " +
        "(bucket, rho) pairs, O(2^p) result)") {
      graft.operators.Sketches.hllRegisters(
        Shared.events(spark, dir).select(col("user_id")),
        col("user_id").cast("string"), p = 6)
    }
    show("mixture sample via hash-threshold (expect: below-threshold " +
        "pure Filter branch UNION window over ONLY the <=bandCap band " +
        "— the per-source Window never sees the full source)") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      graft.operators.Sampling.mixtureSample(d, col("source"),
        col("text"), col("doc_id"),
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.15,
          "src3" -> 0.10), bandCap = 16L)
    }
    show("curriculum interleave (expect: range-partitioned global " +
        "sort + mapPartitions rank — NO per-source Window exchange)") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      graft.operators.Sampling.curriculumInterleave(d, col("source"),
        col("n_chars"), col("doc_id"))
    }
    show("bm25 scoring scan (expect: ONE pure projection over the " +
        "parquet scan — stats already folded in as literals, no join, " +
        "no shuffle, whole-stage codegen)") {
      graft.operators.TextAnalysis.bm25Scores(
        spark.read.parquet(s"$dir/documents.parquet"),
        Seq("vector", "join", "spark"))
    }
    show("bm25 over a query TABLE (expect: inverted-index shape — " +
        "explode feeds a BROADCAST semi-equi join on the workload's " +
        "term vocabulary BEFORE any aggregation, posting agg keyed " +
        "(term, doc, dl) with map-side partial, df agg term-sized, " +
        "final (qid, doc) integer sum)") {
      import spark.implicits._
      graft.operators.TextAnalysis.bm25ScoresTable(
        spark.read.parquet(s"$dir/documents.parquet"),
        Seq((0L, "vector"), (0L, "join"), (1L, "spark"))
          .toDF("qid", "term"))
    }
    show("FUSED workload bm25 top-k (expect: ONE projection over the " +
        "parquet scan — id, dl, tf-array from the counting kernel — " +
        "into the scoring mapPartitions, then partial vfs_topk; the " +
        "ONLY exchange is the qid-keyed top-k final, fed ≤ k rows per " +
        "partition × qid)") {
      import spark.implicits._
      graft.operators.TextAnalysis.bm25TopK(
        spark.read.parquet(s"$dir/documents.parquet"),
        Seq((0L, "vector"), (0L, "join"), (1L, "spark"))
          .toDF("qid", "term"), k = 20)
    }
    show("batch RRF fusion (expect: no-shuffle Union of the ranked " +
        "frames -> ONE hash aggregate keyed (qid, id) with map-side " +
        "partial integer sum)") {
      import spark.implicits._
      val lex = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("qid", "id", "rank")
      val vec = Seq((0L, 10L, 1), (0L, 12L, 2)).toDF("qid", "id", "rank")
      graft.operators.Knn.rrfFuseBatch(Seq(lex, vec))
    }
    show("one-pass profile (expect: ONE aggregate over one scan; " +
        "Catalyst's Expand feeds the multiple count-distincts from " +
        "the same pass)") {
      graft.operators.Profile.aggFrame(
        spark.read.parquet(s"$dir/documents.parquet"),
        Seq("doc_id", "lang", "source", "n_chars"), exact = true)
    }
    show("incremental store read via changesSince (expect: ONE parquet " +
        "scan whose Location lists ONLY the post-snapshot commit dir — " +
        "the delta is file-pruned, no data comparison)") {
      val root = java.nio.file.Files
        .createTempDirectory("explain-cdc").toString
      val st = graft.store.VfsStore.create(spark, root, "cdc", dim = 4)
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .limit(200)
        .select(slice(col("embedding"), 1, 4).as("values"),
          col("vec_id").cast("string").as("name"),
          array().cast("array<string>").as("tags"))
      st.appendBatch(e.limit(100))
      st.snapshot("base")
      st.appendBatch(e)
      st.changesSince("base")
    }
    show("standing-LSH delta probe (expect: MinHashSig projection over " +
        "the DELTA only; stored side is a slim parquet scan of the " +
        "band table; candidates join word sets back for verified " +
        "pairs only)") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val idx = java.nio.file.Files
        .createTempDirectory("explain-lsh").toString
      graft.operators.LshTextIndex.build(
        docs.filter(col("doc_id") >= 100), idx)
      graft.operators.LshTextIndex.probe(spark, idx,
        docs.filter(col("doc_id") < 100),
        docs.filter(col("doc_id") >= 100), threshold = 0.9)
    }
    show("token classifier scoring (expect: BroadcastHashJoin against " +
        "the vocab-sized model, per-doc partial agg collapsing before " +
        "the exchange)") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.TextAnalysis.trainTokenClassifier(
        docs.filter(col("doc_id") % 5 =!= 0),
        col("lang") === "en", vocab = 24)
      graft.operators.TextAnalysis.scoreTokenClassifier(
        docs.filter(col("doc_id") % 5 === 0), model)
    }
    show("bigram LM scoring vs a standing model (expect: bigrams " +
        "formed INSIDE the row — Generate over arrays_zip, no window " +
        "exchange; two joins against the observed-bigram-bounded " +
        "model, AQE free to broadcast; ONE doc_id-keyed partial agg)") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.TextAnalysis.lmModel(
        docs.filter(col("doc_id") % 2 === 0))
      graft.operators.TextAnalysis.scoreLm(
        docs.filter(col("doc_id") % 2 === 1), model)
    }
    show("BPE encode (expect: ONE scan — DeserializeToObject + " +
        "MapPartitions over the broadcast merge table, no exchange " +
        "anywhere; train cost is the word-count agg, paid once)") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.trainBpe(docs, nMerges = 50)
      graft.operators.Bpe.bpeEncode(docs, model)
    }
    show("OHLC downsample (expect: ONE partial+final hash aggregate " +
        "keyed (k, bucket), struct min/max partials, no window)") {
      graft.operators.TimeSeries.ohlc(Shared.events(spark, dir),
        col("event_type"), col("ts"), col("value"), stepSec = 3600L)
    }
    show("rolling trailing window (expect: ONE Exchange by key + Sort " +
        "+ Window with a RANGE frame — no join, no second exchange)") {
      graft.operators.TimeSeries.rolling(Shared.events(spark, dir),
        col("event_id"), col("user_id"), col("ts"), col("value"), 3600L)
    }
    show("cohort retention (expect: distinct hash agg over slim " +
        "(k, bucket) pairs feeding key-sized aggregates + ONE join — " +
        "raw events scanned once)") {
      graft.operators.TimeSeries.retention(Shared.events(spark, dir),
        col("user_id"), col("ts"), bucketSec = 86400L)
    }
    show("interval overlap join (expect: equi-join on the bin with " +
        "NO BroadcastNestedLoop and NO dedup exchange — the " +
        "first-shared-bin filter replaces dropDuplicates)") {
      val ev = Shared.events(spark, dir)
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("value").as("lo1"),
          (col("value") + 0.5).as("hi1"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("value").as("lo2"), (col("value") + 0.3).as("hi2"))
      graft.operators.RangeJoin.intervalOverlap(l, r, "lo1", "hi1",
        "lo2", "hi2", binWidth = 0.5)
    }
    show("PACKAGED hybrid batch search (expect: the BM25 half's fused " +
        "top-k scan and the IVF half's checkpointed probe result " +
        "(Scan ExistingRDD — searchBatch runs eagerly) UNIONed " +
        "with NO extra shuffle into ONE (qid, doc_id) hash aggregate " +
        "— integer RRF weights summed map-side)") {
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val embM = docs.select(col("doc_id").as("id"),
        graft.operators.TextAnalysis.hashEmbeddingMilli(col("text"))
          .cast("array<float>").as("values"))
      val idx = java.nio.file.Files
        .createTempDirectory("explain-hybrid").toString
      graft.operators.IvfIndex.build(embM, idx, nCentroids = 4,
        graft.operators.Metric.Euclidean)
      val termWl = Seq((0L, "vector"), (0L, "join"), (1L, "spark"))
        .toDF("qid", "term")
      val vecWl = embM.filter(col("id") < 2)
        .select(col("id").as("qid"), col("values").as("qvalues"))
      graft.operators.Knn.hybridSearchBatch(docs, idx, termWl, vecWl,
        kEach = 20, nProbe = 4)
    }
    showWork("filtered batch IVF probe (expect: in the checkpoint " +
        "job, an allowed-id semi-join THINNING the assignment scan " +
        "BEFORE distance scoring and top-k — a BroadcastHashJoin " +
        "LeftSemi under the byte gate)") {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("values"))
      val idx = java.nio.file.Files
        .createTempDirectory("explain-filt").toString
      graft.operators.IvfIndex.build(e, idx, nCentroids = 8,
        graft.operators.Metric.Euclidean)
      val queries = e.limit(5)
        .select(col("id").as("qid"), col("values").as("qvalues"))
      graft.operators.IvfIndex.searchBatch(spark, idx, queries, 10,
        nProbe = 8, allowed = Some(e.filter(col("id") % 3 === 0)
          .select(col("id"))), allowedRows = 170L)
    }
    show("funnel latency (expect: per-step key-sized aggregates whose " +
        "percentile input is the CENTI-BUCKETED lag — `% 10000` " +
        "projection feeding the agg, state bounded by the funnel's " +
        "time range, not key cardinality)") {
      graft.operators.TimeSeries.funnelLatency(
        Shared.events(spark, dir), col("user_id"), col("ts"),
        col("event_type"), Seq("signup", "view", "purchase"))
    }
    show("windowed funnel (expect: q_funnel's shrinking key-sized " +
        "joins with the conversion-window bound FUSED into each " +
        "step's join filter — no extra stage)") {
      graft.operators.TimeSeries.funnelWindowed(
        Shared.events(spark, dir), col("user_id"), col("ts"),
        col("event_type"), Seq("signup", "view", "purchase"),
        maxStepGapSec = 86400L)
    }
    show("nearest as-of with tolerance (expect: exactly TWO " +
        "exchange+sort+Window carries — backward then forward — and " +
        "a pure projection choosing the in-tolerance closer side; " +
        "the tolerance adds NO stage)") {
      val ev = Shared.events(spark, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.nearest(clicks, purchases,
        "user_id", "ts", "ts", Seq("pval"),
        toleranceUs = Some(3600L * 1000000L))
    }
    show("streaming retention increments, batch-mode plan (expect: " +
        "ONE exchange by key into FlatMapGroupsWithState over slim " +
        "(k, bucket) pairs — state is the distinct bucket set per " +
        "key; the count rollup is a normal hash agg downstream)") {
      graft.streaming.Ingest.retentionStream(
        Shared.events(spark, dir), batchMode = true)
    }
    show("ExactSubstr duplicate spans (expect: the shuffle carries " +
        "only (xxhash64, id, idx) triples — gram TEXT never leaves " +
        "the scan stage; ONE partial+final hash agg for the " +
        "keep-first verdict, ONE shuffle join back to occurrences, " +
        "then a per-doc objectagg fold — no window over the gram key)") {
      Dedup.duplicateSpans(
        spark.read.parquet(s"$dir/documents.parquet"), k = 4)
    }
    show("binary-hamming prefilter + exact re-rank (expect: pack+" +
        "popcount inside ONE WholeStageCodegen project over the scan, " +
        "TakeOrderedAndProject for the candidate cut, then the exact " +
        "distance only over the 50 survivors)") {
      val qp = graft.functions.vfs_binary_quantize(typedLit(q.toSeq))
      emb.select(col("id"), col("values"),
          graft.functions.vfs_hamming(
            graft.functions.vfs_binary_quantize(col("values")), qp)
            .as("ham"))
        .orderBy(col("ham").asc, col("id").asc).limit(50)
        .select(col("id"),
          graft.functions.vfs_euclidean(col("values"), typedLit(q.toSeq))
            .as("d"))
        .orderBy(col("d").asc, col("id").asc).limit(10)
    }
    show("PERSISTED binary sidecar probe + exact re-rank (expect: the " +
        "coarse scan reads ONLY (id, packed) — ReadSchema without the " +
        "float column — popcount in codegen, TakeOrderedAndProject " +
        "cut, then a BroadcastHashJoin of the 50 candidates into the " +
        "full-vector table for the exact distance)") {
      val bidx = java.nio.file.Files
        .createTempDirectory("explain-binidx").toString
      graft.operators.BinaryIndex.build(
        spark.read.parquet(s"$dir/embeddings.parquet"), bidx)
      graft.operators.BinaryIndex.search(spark, bidx,
        spark.read.parquet(s"$dir/embeddings.parquet"), q, k = 10)
    }
    show("streaming gap sessionization, batch-mode plan (expect: ONE " +
        "exchange by key into FlatMapGroupsWithState carrying (k, ts, " +
        "us) — O(1) open-session state per key)") {
      graft.streaming.Ingest.sessionizeStream(
        Shared.events(spark, dir), batchMode = true)
    }
    show("incremental ExactSubstr probe vs standing gram set (expect: " +
        "delta-only gram kernel, LeftSemi against the stored 8-byte " +
        "hashes, the shared keep-first agg+join, one per-doc fold — " +
        "corpus text nowhere in the plan)") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val idx = java.nio.file.Files
        .createTempDirectory("explain-gramidx").toString
      graft.operators.GramIndex.build(
        docs.filter(col("doc_id") >= 100L), idx, k = 4)
      graft.operators.GramIndex.probeSpans(spark, idx,
        docs.filter(col("doc_id") < 100L))
    }
    show("trigram langid scoring (expect: a spread Exchange below " +
        "the Generate — the few-file corpus widens BEFORE the " +
        "per-row gram kernel — lower(text) materialized ONCE in the " +
        "Project under it, a single lower( in the whole plan, " +
        "BroadcastHashJoin against the byte-gated vocab×L model with " +
        "the per-gram lane-layout guard folded into its projection, " +
        "per-(doc,lang) partial agg, then the min-struct argmax " +
        "partial agg; no window)") {
      import spark.implicits._
      val fixture = graft.operators.TextAnalysis.LangIdSeedCorpus
        .toDF("lang", "text")
      graft.operators.TextAnalysis.scoreLangId(
        spark.read.parquet(s"$dir/documents.parquet"),
        graft.operators.TextAnalysis.trainLangId(fixture))
    }
    show("audio near-dup pairs (expect: per-partition decode+" +
        "fingerprint kernel (MapPartitions) collapsing each asset to " +
        "8 bytes BEFORE the one pinned band/bval exchange; the same " +
        "streaming bucket-fold scan as text simhash; pinned " +
        "REPARTITION_BY_NUM dedup width)") {
      graft.operators.Multimodal.audioNearDupPairs(spark,
        graft.operators.Multimodal.synthesizeMedia(
          spark.read.parquet(s"$dir/documents.parquet")
            .select((col("doc_id") * 3).as("doc_id"), col("text"))),
        window = 4)
    }
    show("video near-dup pairs (expect: the same shape as audio — " +
        "per-partition frame-walk+fingerprint kernel (MapPartitions) " +
        "collapsing each asset to 8 bytes BEFORE the one pinned " +
        "band/bval exchange; streaming bucket-fold scan; pinned " +
        "REPARTITION_BY_NUM dedup width)") {
      graft.operators.Multimodal.videoNearDupPairs(spark,
        graft.operators.Multimodal.synthesizeVideo(
          spark.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("text")), frameRows = 2))
    }
    show("binary sidecar coarse cut (expect: ReadSchema (id, packed) " +
        "only; TakeOrderedAndProject over 2n slots, the duplicate " +
        "collapse agg touching only those survivors, re-limit n)") {
      val bidx2 = java.nio.file.Files
        .createTempDirectory("explain-binidx2").toString
      graft.operators.BinaryIndex.build(
        spark.read.parquet(s"$dir/embeddings.parquet"), bidx2)
      graft.operators.BinaryIndex.candidates(spark, bidx2, q, n = 50)
    }
    show("vfs_quality_gate TVF (expect: identical to the DataFrame " +
        "gate — spread + ONE codegen'd projection computing BOTH " +
        "cascades, caller's WHERE fused into the same stage)") {
      spark.sql(
        s"""SELECT doc_id, n_words, n_kept FROM
           |vfs_quality_gate('$dir/documents.parquet')
           |WHERE gopher_pass = 1 AND page_drop = 0""".stripMargin)
    }
    show("image near-dup pairs (expect: the same shape as audio/" +
        "video — per-partition decode+dHash kernel (MapPartitions: " +
        "container parse, RGB normalize, NN 9x8 downsample, luma " +
        "delta signs) collapsing each asset to 8 bytes BEFORE the " +
        "one pinned band/bval exchange; streaming bucket-fold scan; " +
        "pinned REPARTITION_BY_NUM dedup width)") {
      graft.operators.Multimodal.imageNearDupPairs(spark,
        graft.operators.Multimodal.synthesizeMedia(
          spark.read.parquet(s"$dir/documents.parquet")
            .select((col("doc_id") * 3 + 2).as("doc_id"), col("text"))))
    }
    show("pHash near-dup pairs (expect: the dHash shape with the " +
        "32x32 fixed-point DCT inside the SAME MapPartitions kernel " +
        "— still 8 bytes per asset into the one pinned band/bval " +
        "exchange; no new shuffle)") {
      graft.operators.Multimodal.imageNearDupPairs(spark,
        graft.operators.Multimodal.synthesizeMedia(
          spark.read.parquet(s"$dir/documents.parquet")
            .select((col("doc_id") * 3 + 2).as("doc_id"), col("text"))),
        method = "phash")
    }
    show("quarantined fingerprint, clean half (expect: ONE " +
        "MapPartitions decode kernel under a LocalTableScan-free " +
        "plan; the err filter is a plain codegen Filter — failures " +
        "route to rows, never to task retries)") {
      graft.operators.Multimodal.imageFingerprintQuarantined(spark,
          graft.operators.Multimodal.synthesizeMedia(
            spark.read.parquet(s"$dir/documents.parquet")
              .select((col("doc_id") * 3 + 2).as("doc_id"), col("text"))))
        .filter(col("err").isNull)
    }
    show("webp decode stats (expect: spread exchange then ONE " +
        "MapPartitions encode+decode kernel — the jpeg/gif/tiff " +
        "shape; VP8L prefix decode is pure per-row compute)") {
      graft.operators.Multimodal.decodeStats(spark,
        graft.operators.Multimodal.synthesizeWebp(
          spark.read.parquet(s"$dir/documents.parquet"))).toDF()
    }
    show("flac decode stats (expect: the same per-partition kernel " +
        "shape — frame walk + Rice decode is pure per-row compute)") {
      graft.operators.Multimodal.decodeStats(spark,
        graft.operators.Multimodal.synthesizeFlac(
          spark.read.parquet(s"$dir/documents.parquet"))).toDF()
    }
    show("vfs_sig_pairs TVF over a persisted print table (expect: " +
        "ReadSchema (id, sig) only — 16 bytes per asset ever read; " +
        "band projection, pinned exchange, streaming bucket fold; " +
        "identical to Dedup.sigPairs on the same frame)") {
      val pd = java.nio.file.Files
        .createTempDirectory("explain-sigpairs").toString
      graft.operators.Multimodal.audioFingerprint(spark,
          graft.operators.Multimodal.synthesizeMedia(
            spark.read.parquet(s"$dir/documents.parquet")
              .select((col("doc_id") * 3).as("doc_id"), col("text"))),
          window = 4)
        .select(col("doc_id").as("id"), col("sig"))
        .write.mode("overwrite").parquet(pd)
      spark.sql(s"SELECT * FROM vfs_sig_pairs('$pd', 3)")
    }
    show("corpus boilerplate-line strip (expect: the two-pass shape — " +
        "a count pass (distinct + count hash aggs, partial combine on " +
        "the trimmed-line key) and a strip pass (occurrence join on " +
        "__ln, per-doc reassembly agg, all-docs restore join), each " +
        "under its own spread Exchange + Generate; repeated runs " +
        "precompute the count pass via stripBoilerplateWith)") {
      Dedup.stripBoilerplate(
        spark.read.parquet(s"$dir/documents.parquet"), minDocFreq = 5L)
    }
    val urlIdxDir = java.nio.file.Files
      .createTempDirectory("explain-urlidx").toString
    graft.operators.UrlIndex.build(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".com/d/"),
            col("doc_id").cast("string")).as("url")), urlIdxDir)
    show("incremental URL-dedup probe (expect: LEFT ANTI hash join of " +
        "the delta against the slim stored key column — ReadSchema " +
        "url only on the artifact side, no corpus rescan)") {
      graft.operators.UrlIndex.filterNew(spark, urlIdxDir,
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            concat(lit("https://"), col("source"), lit(".com/d/"),
              col("doc_id").cast("string")).as("url")))
    }
    // every declared query (a failure to plan one is printed in its
    // place, the rest still run)
    graft.SparkEntry.registry.sortBy(_.name).foreach(q =>
      emit(s"query_${q.name}", q.name)(dumpQuery(spark, dir, q)))
    spark.stop()
  }

  /** One declared query's plans: first the executed plan of every
    * query its build ran (an eager operator's own work, which its
    * returned frame, a scan of the checkpointed result, does not
    * show), then the returned frame's formatted plan. */
  private[graft] def dumpQuery(spark: SparkSession, dir: String,
      q: QuerySpec): Unit =
    try {
      val (df, _, plans) = sparkWork(spark)(q.build(spark, dir))
      printExecuted(plans)
      df.explain("formatted")
    } catch { case scala.util.control.NonFatal(e) =>
      println(s"EXPLAIN FAILED: ${graft.Verify.errHead(e)}")
    }

  private def printExecuted(plans: Seq[QueryExecution]): Unit =
    plans.foreach(p =>
      println(p.explainString(ExplainMode.fromString("formatted"))))

  /** What `body` ran on Spark: its result, the number of Spark jobs it
    * started and the query executions it completed (in completion
    * order), read from listeners once the listener bus is drained. */
  private[graft] def sparkWork[T](spark: SparkSession)(
      body: => T): (T, Int, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    shims.drainListenerBus(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val out = body
      shims.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      (out, jobs.get, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
}
