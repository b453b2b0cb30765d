package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, sum, typedLit}
import org.apache.spark.sql.types._

import graft.functions.{vfs_cosine, vfs_euclidean}
import graft.operators.{IvfIndex, IvfPq, Knn, Metric}
import graft.store.VfsStore

/** `knn_batch`: batch k-NN over a store-resident mixture corpus. Set-up
  * bulk-loads the corpus, builds a cosine IVF index (sqrt(N)
  * centroids) and an IVF-PQ index at the legacy suite's operating
  * point (m 32, ks 64). Each operation is one batch of Zipf-skewed
  * queries through `Knn.exactBatch`, `IvfIndex.searchBatch` (nProbe 4)
  * and `IvfPq.searchBatch` (nProbe 16, overfetch 8), each scored
  * against driver-side brute force. The work is compute: distance
  * kernels, the top-k partial aggregate, cluster-scoped scans and PQ
  * distance tables, with per-request overhead amortised over the
  * batch; recall is measured beside speed so neither can be bought
  * with the other. */
object KnnBatch {
  val Rows = 10000
  val Dim = 64
  val Batch = 128
  val K = 10
  val Kinds = Seq("exact", "ivf", "ivfpq")
  /** Batch time (three paths) on a 4-core host, which sets the
    * batches per run. */
  val NominalBatchS = 6.0

  private val CorpusTag = 20L
  private val QueryTag = 21L

  private val qSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvalues", ArrayType(FloatType))))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    val mix = new Mixture(ctx.seed, Dim)
    val corpus = Array.tabulate(Rows)(i => mix.corpus(CorpusTag, i))

    // set-up: bulk load, both indexes
    val root = ctx.work.resolve("knn")
    def timedMs(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
    }
    val store = VfsStore.create(spark, root.resolve("store").toString, "vfs", Dim)
    val appendMs = timedMs(store.appendBatch(
      Vectors.corpusFrame(spark, mix, CorpusTag, Rows, ctx.cores)))
    val ivfDir = root.resolve("ivf").toString
    val pqDir = root.resolve("ivfpq").toString
    val ivfBuildMs = timedMs(IvfIndex.build(store.read(), ivfDir,
      math.sqrt(Rows.toDouble).toInt, Metric.Cosine))
    val pqBuildMs = timedMs(IvfPq.build(spark, ivfDir, pqDir, m = 32, ks = 64))
    val base = store.read()

    def queries(b: Int): (DataFrame, Seq[Array[Float]]) = {
      val qs = (0 until Batch).map(j => mix.query(QueryTag, b.toLong * Batch + j))
      val rows = qs.zipWithIndex.map { case (q, j) => Row(j.toLong, q.toSeq) }
      (spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), qSchema), qs)
    }
    def search(path: String, q: DataFrame): DataFrame = path match {
      case "exact" => Knn.exactBatch(base, q, K, Metric.Cosine)
      case "ivf" => IvfIndex.searchBatch(spark, ivfDir, q, K, nProbe = 4)
      case "ivfpq" => IvfPq.searchBatch(spark, ivfDir, pqDir, q, K,
        nProbe = 16, overfetch = 8)
    }
    /** qid -> ids in rank order */
    def ranked(rows: Array[Row]): Map[Long, Array[Long]] =
      rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id"))
      }

    // warm-up batch (not measured)
    val (wq, _) = queries(-1)
    Kinds.foreach(p => search(p, wq).collect())
    rep.put("setup_s", ctx.sinceStartS, "s")
    rep.notes("setup_phases_ms") = f"append $appendMs%.0f, ivf_build $ivfBuildMs%.0f, ivfpq_build $pqBuildMs%.0f"

    final class Pass {
      val ms = mutable.Map(Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
      val recall = mutable.Map(Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
      val files = mutable.ArrayBuffer.empty[Double]
      var batches = 0
      var wallS = 0.0
    }
    def pass(tracer: Tracer, batches: Int): Pass = {
      val p = new Pass
      val t0 = System.nanoTime()
      while (p.batches < batches) {
        val b = p.batches
        val (q, qs) = queries(b)
        val truth = Vectors.topKAll(corpus, qs, K, cos = true)
        Kinds.foreach { path =>
          val a = System.nanoTime()
          val (df, rows) = tracer.span(s"operators.${if (path == "exact") "exact_batch"
            else s"${path}_search_batch"}", b) {
            val df = search(path, q)
            (df, df.collect())
          }
          p.ms(path) += (System.nanoTime() - a) / 1e6
          if (path == "ivf") p.files += df.inputFiles.length
          val got = ranked(rows)
          rep.outcome(s"$path batch #$b", {
            val bad = qs.indices.iterator.map { j =>
              val ids = got.getOrElse(j.toLong, Array.empty[Long])
              val want = truth(j)
              if (path == "exact") {
                if (ids.sameElements(want)) None
                else Some(s"query $j: ids ${ids.mkString(",")} != brute force ${want.mkString(",")}")
              } else if (ids.length > K || ids.distinct.length != ids.length)
                Some(s"query $j: ${ids.length} ids, ${ids.distinct.length} distinct")
              else if (ids.exists(i => i < 1 || i > Rows))
                Some(s"query $j: id outside the store")
              else { p.recall(path) += ids.count(want.contains).toDouble / K; None }
            }.collectFirst { case Some(m) => m }
            bad
          })
        }
        p.batches += 1
      }
      p.wallS = (System.nanoTime() - t0) / 1e9
      p
    }

    val p = pass(new Tracer(spark, enabled = false), ctx.ops(NominalBatchS))
    Kinds.foreach { path =>
      rep.put(s"${path}_batch_qps", Batch / (Stats.median(p.ms(path).toSeq) / 1000), "1/s")
    }
    rep.put("exact_batch_p50_ms", Stats.median(p.ms("exact").toSeq), "ms",
      as = "exact_p50_ms")
    rep.put("ivf_batch_p50_ms", Stats.median(p.ms("ivf").toSeq), "ms",
      as = "approx_p50_ms")
    rep.put("queries_per_s", Batch * Kinds.size * p.batches /
      (Kinds.map(k => p.ms(k).sum).sum / 1000), "1/s", as = "throughput_per_s")
    rep.put("ivf_recall_at_10", Stats.mean(p.recall("ivf").toSeq), "ratio",
      as = "recall")
    rep.put("ivfpq_recall_at_10", Stats.mean(p.recall("ivfpq").toSeq), "ratio")
    val raw = Rows.toLong * Dim * 4
    rep.put("stored_bytes_per_input_byte", ctx.bytesUnder(root).toDouble / raw, "ratio")
    rep.notes("batches") = s"${p.batches} of $Batch queries in ${"%.3f".format(p.wallS)} s"

    if (ctx.traced) {
      val tracer = new Tracer(spark, enabled = true)
      val jvm1 = Trace.jvm()
      val t1 = System.nanoTime()
      val p2 = pass(tracer, p.batches)
      val tracedS = (System.nanoTime() - t1) / 1e9
      val jvm2 = Trace.jvm()
      val spans = tracer.spans()
      tracer.close()
      val L = new Layers(ctx, tracer, spans)
      L.mean("operators.exact_batch", "operators.exact_batch.ms")
      L.mean("operators.ivf_search_batch", "operators.ivf_search_batch.ms")
      rep.put("operators.ivf_search_batch.files", Stats.mean(p2.files.toSeq), "count")
      L.mean("operators.ivfpq_search_batch", "operators.ivfpq_search_batch.ms")
      rep.put("operators.ivf_build.ms", ivfBuildMs, "ms")
      rep.put("operators.ivf_build.count", 1, "count")
      rep.put("operators.ivfpq_build.ms", pqBuildMs, "ms")
      rep.put("store.append_batch.ms", appendMs, "ms")
      rep.put("store.bytes_per_input_byte",
        ctx.bytesUnder(root.resolve("store")).toDouble / raw, "ratio")
      rep.put("store.commit_dirs",
        java.nio.file.Files.list(root.resolve("store/data")).count().toDouble, "count")
      rep.put("store.scan.files", base.inputFiles.length.toDouble, "count")
      rep.put("operators.index_bytes_per_input_byte",
        (ctx.bytesUnder(root.resolve("ivf")) + ctx.bytesUnder(root.resolve("ivfpq")))
          .toDouble / raw, "ratio")
      L.sparkWork(Seq("operators.exact_batch", "operators.ivf_search_batch",
        "operators.ivfpq_search_batch"))
      rep.put("functions.distance.evals_per_s",
        distanceEvalsPerS(ctx, base, mix, Rows), "1/s")
      L.jvm(jvm1, jvm2)
      L.overhead(p.wallS / p.batches, p2.wallS / p2.batches)
      L.finish(tracedS)
    }
  }

  /** Both distance kernels over the cached corpus x a fixed query set,
    * forced by a sum so no evaluation is pruned. */
  def distanceEvalsPerS(ctx: Ctx, base: DataFrame, mix: Mixture, rows: Int): Double = {
    val spark = ctx.spark
    val corpus = base.select(col("values")).cache()
    corpus.count()
    val qs = (0 until 16).map(j => mix.query(-1L, j))
    def once(): Double = {
      val t = System.nanoTime()
      val exprs = qs.flatMap(q => Seq(vfs_euclidean(col("values"), typedLit(q)),
        vfs_cosine(col("values"), typedLit(q))))
      corpus.select(exprs.reduce(_ + _).as("d")).agg(sum("d")).collect()
      (System.nanoTime() - t) / 1e9
    }
    once()
    val s = Stats.median(Seq.fill(3)(once()))
    corpus.unpersist()
    rows.toDouble * qs.size * 2 / s
  }
}
