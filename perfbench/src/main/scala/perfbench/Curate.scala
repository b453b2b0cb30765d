package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum, when, xxhash64}
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup, Packing, TextAnalysis}

/** `curate`: the LLM-data half of the engine. A closed loop of fresh
  * seeded shards (see [[TextGen]]), each through
  * `Curation.curateAndPack` with a langid model trained once in
  * set-up from `LangIdSeedCorpus`, then `Dedup.minHashLsh` at
  * threshold 0.8. Text kernels, shuffles and the persisted stage
  * caches do the work; no store or ANN code runs, so exchange-width
  * and text-kernel changes show here alone. */
object Curate {
  val Docs = 5000
  /** Shard time on a 4-core host, which sets the shards per run. */
  val NominalShardS = 2.5

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  def frame(ctx: Ctx, sh: TextGen.Shard): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      sh.docs.toSeq.map(d => Row(d.id, d.text)), ctx.cores), docSchema)

  private def gate(text: org.apache.spark.sql.Column) =
    TextAnalysis.qualityMilli(text) >= 650L &&
      TextAnalysis.tokenCount(text).between(20L, 90L)

  /** Hash of a curation output, independent of row order. */
  def outputHash(rows: Array[Row]): Long =
    rows.map(_.toSeq.mkString("|")).sorted.mkString("\n").hashCode.toLong

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    import spark.implicits._
    val model = TextAnalysis.trainLangId(
      TextAnalysis.LangIdSeedCorpus.toDF("lang", "text")).cache()
    model.count()

    final class Shard(no: Long) {
      val sh = TextGen.shard(ctx.seed, no, Docs)
      val docs = frame(ctx, sh)
    }
    def curate(s: Shard, tracer: Tracer, no: Long): Array[Row] =
      tracer.span("operators.curate", no)(
        Curation.curateAndPack(s.docs, model).collect())
    def lsh(s: Shard, tracer: Tracer, no: Long): Array[Row] =
      tracer.span("operators.minhash_lsh", no)(
        Dedup.minHashLsh(s.docs, threshold = 0.8).collect())

    /** Checks one shard's outputs; returns the planted-pair recall. */
    def check(s: Shard, no: Long, out: Array[Row], pairs: Array[Row]): Double = {
      val passing = s.docs.filter(gate(col("text"))).select(col("doc_id"))
        .as[Long].collect().toSet
      val kept = out.map(_.getAs[Long]("doc_id")).toSet
      val missed = s.sh.exactPairs.filter { case (o, c) => passing(o) && kept(c) }
      rep.outcome(s"curateAndPack shard $no",
        if (kept.exists(!passing(_))) Some("kept a document the gate drops")
        else if (missed.nonEmpty)
          Some(s"${missed.length} planted exact duplicates kept, e.g. ${missed.head}")
        else None)
      val found = pairs.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
      val planted = s.sh.exactPairs.filterNot { case (o, c) =>
        s.sh.template(o) || s.sh.template(c) }
      val lost = planted.filterNot(found)
      rep.outcome(s"minHashLsh shard $no",
        if (lost.isEmpty) None
        else Some(s"${lost.length} planted exact-duplicate pairs missing, e.g. ${lost.head}"))
      if (planted.isEmpty) 1.0 else (planted.length - lost.length).toDouble / planted.length
    }

    // set-up: the fixed shard 0 twice through both operators, as
    // warm-up and as the repeatability check: its curated output must
    // hash the same both times
    val off = new Tracer(spark, enabled = false)
    val fixed = new Shard(0)
    val hashes = Seq.fill(2) {
      val h = outputHash(curate(fixed, off, 0))
      lsh(fixed, off, 0)
      h
    }
    rep.outcome("curateAndPack repeat of shard 0",
      if (hashes.distinct.size == 1) None
      else Some("output hash differs between two runs of one shard"))
    rep.put("setup_s", ctx.sinceStartS, "s")

    final class Pass {
      val curateMs = mutable.ArrayBuffer.empty[Double]
      val lshMs = mutable.ArrayBuffer.empty[Double]
      val recall = mutable.ArrayBuffer.empty[Double]
      val pairs = mutable.ArrayBuffer.empty[Double]
      var shards = 0
      var wallS = 0.0
    }
    def pass(tracer: Tracer, shards: Int): Pass = {
      val p = new Pass
      val t0 = System.nanoTime()
      while (p.shards < shards) {
        val no = p.shards + 1L
        val s = new Shard(no)
        val a = System.nanoTime()
        val out = curate(s, tracer, no)
        val b = System.nanoTime()
        val pairs = lsh(s, tracer, no)
        p.lshMs += (System.nanoTime() - b) / 1e6
        p.curateMs += (b - a) / 1e6
        p.recall += check(s, no, out, pairs)
        p.pairs += pairs.length
        p.shards += 1
      }
      p.wallS = (System.nanoTime() - t0) / 1e9
      p
    }

    val p = pass(off, ctx.ops(NominalShardS))
    val shardMs = p.curateMs.zip(p.lshMs).map { case (a, b) => a + b }.toSeq
    rep.put("docs_per_s", Docs / (Stats.median(shardMs) / 1000), "1/s",
      as = "throughput_per_s")
    rep.put("curate_p50_ms", Stats.median(p.curateMs.toSeq), "ms", as = "exact_p50_ms")
    rep.put("minhash_lsh_p50_ms", Stats.median(p.lshMs.toSeq), "ms",
      as = "approx_p50_ms")
    rep.put("minhash_planted_recall", Stats.mean(p.recall.toSeq), "ratio", as = "recall")
    rep.notes("shards") = s"${p.shards} of $Docs docs in ${"%.3f".format(p.wallS)} s"
    rep.notes("shard_ms") = shardMs.map(x => f"$x%.0f").mkString(" ")

    if (ctx.traced) {
      val tracer = new Tracer(spark, enabled = true)
      val jvm1 = Trace.jvm()
      val t1 = System.nanoTime()
      val p2 = pass(tracer, p.shards)
      // the pipeline's stages one at a time on one shard, so each
      // stage's cost is visible on its own
      val s = new Shard(1)
      val gated = tracer.span("operators.quality_gate", 1) {
        val g = s.docs.filter(gate(col("text"))).cache()
        g.count(); g
      }
      val kept = gated.count().toDouble / Docs
      val simPairs = tracer.span("operators.simhash_pairs", 1)(
        Dedup.simHashPairsPortable(gated, maxHamming = 3).count())
      val coded = tracer.span("operators.langid", 1) {
        val c = TextAnalysis.scoreLangId(gated, model,
          carry = Seq("n_tokens" -> TextAnalysis.tokenCount(col("text")))).cache()
        c.count(); c
      }
      // the language -> shard code table curateAndPack uses
      val code = Curation.SeedLangCodes.foldLeft(lit(4L)) { case (acc, (l, c)) =>
        when(col("lang_pred") === l, c).otherwise(acc) }
      tracer.span("operators.packing", 1)(Packing.packBinsNextFit(coded,
        code, col("doc_id"), col("n_tokens"), 256).count())
      val tracedS = (System.nanoTime() - t1) / 1e9
      val jvm2 = Trace.jvm()
      val textRate = textRowsPerS(ctx, s.docs)
      gated.unpersist(); coded.unpersist()
      val spans = tracer.spans()
      tracer.close()
      val L = new Layers(ctx, tracer, spans)
      L.mean("operators.curate", "operators.curate.ms")
      L.mean("operators.quality_gate", "operators.quality_gate.ms")
      rep.put("operators.quality_gate.kept_share", kept, "ratio")
      L.mean("operators.simhash_pairs", "operators.simhash_pairs.ms")
      rep.put("operators.simhash_pairs.pairs", simPairs.toDouble, "count")
      L.mean("operators.langid", "operators.langid.ms")
      L.mean("operators.packing", "operators.packing.ms")
      L.mean("operators.minhash_lsh", "operators.minhash_lsh.ms")
      rep.put("operators.minhash_lsh.pairs", Stats.mean(p2.pairs.toSeq), "count")
      rep.put("operators.minhash_lsh.planted_recall", Stats.mean(p2.recall.toSeq), "ratio")
      L.sparkWork(Seq("operators.curate", "operators.minhash_lsh"))
      rep.put("functions.text.rows_per_s", textRate, "1/s")
      L.jvm(jvm1, jvm2)
      L.overhead(p.wallS / p.shards, p2.wallS / p2.shards)
      L.finish(tracedS)
    }
  }

  /** The text kernels as projections over a cached shard: quality,
    * token count, simhash and a 64-hash minhash signature, forced by
    * one aggregate. */
  def textRowsPerS(ctx: Ctx, docs: DataFrame): Double = {
    val cached = docs.cache()
    val n = cached.count()
    def once(): Double = {
      val t = System.nanoTime()
      cached.select(
        TextAnalysis.qualityMilli(col("text")).as("q"),
        TextAnalysis.tokenCount(col("text")).as("t"),
        Dedup.simHash60Portable(col("text")).as("s"),
        xxhash64(Dedup.minHashSignature(col("text"), 64)).as("m"))
        .agg(sum("q"), sum("t"), sum(col("s") % 1000), sum(col("m") % 1000),
          count(lit(1))).collect()
      (System.nanoTime() - t) / 1e9
    }
    once()
    val s = Stats.median(Seq.fill(3)(once()))
    cached.unpersist()
    n / s
  }
}
