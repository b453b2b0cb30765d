package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, IvfIndex, IvfPq, Knn, Metric, Mining,
  TextAnalysis}

/** Margin-based pair mining: the mutual-NN margin identity, hubness
  * suppression (the semantic reason the operator exists), exact
  * parity of the IVF-backed form at full probe width, and guards. */
class MiningSpec extends AnyFunSuite {

  private def vecs(rows: (Long, Seq[Double])*) = {
    val spark = GraftTest.spark
    import spark.implicits._
    rows.toSeq.map { case (id, v) => (id, v.map(_.toFloat).toArray) }
      .toDF("id", "values")
  }

  test("k=1: mutual nearest neighbors score margin exactly 1000; a non-mutual best falls below and is filtered") {
    val spark = GraftTest.spark
    def u(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r), math.sin(r))
    }
    // s1's best target is t1 (4 deg away) but t1's best source is s2
    // (1 deg away) -> margin(s1,t1) = 2*cos4 / (cos4 + cos1) < 1.
    // s2 and t1 are mutual -> margin = 2*s/(s+s) = 1.0 exactly.
    val src = vecs(10L -> u(0), 20L -> u(5))
    val tgt = vecs(100L -> u(4))
    val all = Mining.marginCandidates(spark, src, tgt, k = 1)
      .collect().map(r => (r.getAs[Long]("src_id"),
        r.getAs[Long]("tgt_id"), r.getAs[Long]("margin_milli"))).toSet
    val simMicro = (d: Double) => math.round((1.0 - d) * 1e6)
    val s14 = simMicro(1.0 - math.cos(math.toRadians(4)))
    val s21 = simMicro(1.0 - math.cos(math.toRadians(1)))
    val m14 = math.round(2000.0 * 1 * s14 / (s14 + s21))
    assert(m14 < 1000, s"non-mutual margin must dip below 1.0: $m14")
    assert(all === Set((10L, 100L, m14), (20L, 100L, 1000L)))
    val pairs = Mining.marginPairs(spark, src, tgt, k = 1,
        minMarginMilli = 1000L)
      .collect().map(r => (r.getAs[Long]("src_id"),
        r.getAs[Long]("tgt_id"))).toSet
    assert(pairs === Set((20L, 100L)))
  }

  test("hubness suppression: the margin prefers a specific neighbor over a globally-popular hub that raw cosine ranks first") {
    val spark = GraftTest.spark
    val c = 1.5 // sim(s_i, t_i) = 1/sqrt(1+c^2) = 0.5547 < 1/sqrt(3)
    // sources: the three axes; targets: a hub equally close to ALL
    // sources (sim 0.5774, the raw-cosine winner) plus one specific
    // target per source (sim 0.5547, zero to the others)
    val src = vecs(
      1L -> Seq(1, 0, 0, 0), 2L -> Seq(0, 1, 0, 0), 3L -> Seq(0, 0, 1, 0))
    val r3 = 1.0 / math.sqrt(3)
    val tgt = vecs(
      900L -> Seq(r3, r3, r3, 0), // the hub
      101L -> Seq(1, 0, 0, c), 102L -> Seq(0, 1, 0, c),
      103L -> Seq(0, 0, 1, c))
    val cands = Mining.marginCandidates(spark, src, tgt, k = 2)
      .collect()
    // raw cosine: every source's rank-by-SIM winner is the hub
    val bySim = cands.groupBy(_.getAs[Long]("src_id")).map { case (s, rs) =>
      s -> rs.maxBy(r => (r.getAs[Long]("sim_micro"),
        -r.getAs[Long]("tgt_id"))).getAs[Long]("tgt_id")
    }
    assert(bySim === Map(1L -> 900L, 2L -> 900L, 3L -> 900L))
    // the margin flips it: each source mines its SPECIFIC target
    val pairs = Mining.marginPairs(spark, src, tgt, k = 2,
        minMarginMilli = 1000L)
      .collect().map(r => (r.getAs[Long]("src_id"),
        r.getAs[Long]("tgt_id"))).toMap
    assert(pairs === Map(1L -> 101L, 2L -> 102L, 3L -> 103L))
    // pin the hand-derived margins: sims 0.57735/0.55470 micro-exact
    val sHub = math.round((1.0 - (1.0 - r3)) * 1e6)
    val sSpec = math.round((1.0 - (1.0 - 1.0 / math.sqrt(1 + c * c))) * 1e6)
    val fwdSum = sHub + sSpec          // every source's top-2
    val bwdHub = 2 * sHub              // hub's top-2 over sources
    val bwdSpec = sSpec                // specific target: s_i then 0
    val mHub = math.round(2000.0 * 2 * sHub / (fwdSum + bwdHub))
    val mSpec = math.round(2000.0 * 2 * sSpec / (fwdSum + bwdSpec))
    assert(mSpec > mHub && mHub > 0)
    val got = cands.map(r => ((r.getAs[Long]("src_id"),
      r.getAs[Long]("tgt_id")), r.getAs[Long]("margin_milli"))).toMap
    assert(got((1L, 900L)) === mHub && got((1L, 101L)) === mSpec)
    // intersection strategy: the specific pairs are mutual best; the
    // hub's best source (s_1 by id tiebreak) prefers t_1 back, so no
    // hub pair survives
    val mutual = Mining.marginPairsMutual(spark, src, tgt, k = 2,
        minMarginMilli = 1000L)
      .collect().map(r => (r.getAs[Long]("src_id"),
        r.getAs[Long]("tgt_id"))).toMap
    assert(mutual === Map(1L -> 101L, 2L -> 102L, 3L -> 103L))
  }

  test("marginPairsIvf at full probe width equals the exact form; a narrow probe still returns well-formed pairs") {
    val spark = GraftTest.spark
    val e = spark.read.parquet(s"${GraftTest.sf0001}/embeddings.parquet")
    val src = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val tgt = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val dir = java.nio.file.Files
      .createTempDirectory("mining-ivf").toString
    IvfIndex.build(src, s"$dir/src", nCentroids = 4)
    IvfIndex.build(tgt, s"$dir/tgt", nCentroids = 4)
    val exact = Mining.marginPairs(spark, src, tgt, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val full = Mining.marginPairsIvf(spark, s"$dir/src", s"$dir/tgt",
        src, tgt, k = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(full === exact,
      "full-probe IVF mining must equal brute force bit-for-bit")
    val narrow = Mining.marginPairsIvf(spark, s"$dir/src", s"$dir/tgt",
        src, tgt, k = 4, nProbe = 1)
      .collect()
    assert(narrow.nonEmpty)
    assert(narrow.forall(_.getAs[Long]("margin_milli") >= 1000L))
    // the delta form at full probe equals the exact form too (the
    // arriving-shard shape: batch = the whole source side here)
    val delta = Mining.marginPairsDelta(spark, s"$dir/tgt", tgt, src,
        k = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(delta === exact,
      "full-probe delta mining must equal brute force bit-for-bit")
  }

  test("marginMineBatch: batch-addressed sink, replay idempotence, duplicate-id and empty-batch stances") {
    val spark = GraftTest.spark
    import spark.implicits._
    val e = spark.read.parquet(s"${GraftTest.sf0001}/embeddings.parquet")
    val src = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val tgt = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val base = java.nio.file.Files
      .createTempDirectory("mining-stream").toString
    graft.operators.IvfIndex.build(tgt, s"$base/tgt", nCentroids = 4)
    def run(): Unit = graft.streaming.Ingest.marginMineBatch(
      src, 7L, s"$base/tgt", tgt, s"$base/out", k = 4, nProbe = 4,
      minMarginMilli = 1000L, idCol = "id", vecCol = "values")
    run()
    val first = spark.read.parquet(s"$base/out/batch=7")
      .orderBy(col("src_id"))
      .collect().map(_.toSeq).toSeq
    assert(first.nonEmpty)
    assert(first.forall(_.last == 7L)) // batch_id rides along
    run() // an at-least-once replay overwrites with identical rows
    val second = spark.read.parquet(s"$base/out/batch=7")
      .orderBy(col("src_id"))
      .collect().map(_.toSeq).toSeq
    assert(second === first)
    // and parity with the direct delta API
    val direct = graft.operators.Mining.marginPairsDelta(spark,
        s"$base/tgt", tgt, src, k = 4, nProbe = 4)
      .orderBy(col("src_id"))
      .collect().map(_.toSeq).toSeq
    assert(first.map(_.dropRight(1)) === direct)
    // duplicate in-batch ids fail loudly (neighborhood pollution)
    val dup = src.limit(3).union(src.limit(1))
    assert(intercept[IllegalArgumentException] {
      graft.streaming.Ingest.marginMineBatch(dup, 8L, s"$base/tgt",
        tgt, s"$base/out", 4, 4, 1000L, "id", "values")
    }.getMessage.contains("[GRAFT]"))
    // an empty batch lands nothing (no empty batch=9 dir)
    graft.streaming.Ingest.marginMineBatch(src.limit(0), 9L,
      s"$base/tgt", tgt, s"$base/out", 4, 4, 1000L, "id", "values")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/out/batch=9")))
  }

  test("vfs_margin_pairs TVF delegates to marginPairs; bad arguments fail loudly") {
    val spark = GraftTest.spark
    graft.functions.registerAll(spark)
    val e = spark.read.parquet(s"${GraftTest.sf0001}/embeddings.parquet")
    val src = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val tgt = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val base = java.nio.file.Files
      .createTempDirectory("mining-tvf").toString
    src.write.parquet(s"$base/src")
    tgt.write.parquet(s"$base/tgt")
    val sql = spark.sql("SELECT * FROM vfs_margin_pairs(" +
        s"'$base/src', '$base/tgt', 4, 1000)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val direct = Mining.marginPairs(spark, src, tgt, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(sql === direct)
    for (bad <- Seq(
        "SELECT * FROM vfs_margin_pairs('/tmp/only-one')",
        s"SELECT * FROM vfs_margin_pairs('$base/src', '$base/tgt', 0)",
        s"SELECT * FROM vfs_margin_pairs('$base/src', '$base/tgt', 'x')")) {
      val m = intercept[Exception](spark.sql(bad).collect()).getMessage
      assert(m.contains("[GRAFT]") || m.contains("GRAFT"), bad)
    }
  }

  test("sub-k collections: each side's average divides by its actual neighbor count, not k") {
    // tgt has ONE row and src has TWO with k = 3: forward
    // neighborhoods carry 1 term (n=1), the backward one carries 2
    // (n=2). A chain that divides by k would read each 1-term sum as
    // a 3-neighbor average and inflate every margin ~3x.
    val spark = GraftTest.spark
    def u(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r), math.sin(r))
    }
    val src = vecs(1L -> u(0), 2L -> u(10))
    val tgt = vecs(9L -> u(2))
    val rows = Mining.marginCandidates(spark, src, tgt, k = 3).collect()
    assert(rows.length === 2)
    // derive expected margins from the engine's own sim_micro values
    // (cosine is symmetric, so tgt's backward neighborhood over the
    // two sources sums the same micro sims)
    val bwdSum = rows.map(_.getAs[Long]("sim_micro")).sum
    for (r <- rows) {
      val s = r.getAs[Long]("sim_micro")
      val exp = math.round(2000.0 * s / (s / 1.0 + bwdSum / 2.0))
      assert(r.getAs[Long]("margin_milli") === exp,
        s"per-count margin for src ${r.getAs[Long]("src_id")}")
      val oldChain = math.round(2000.0 * 3 * s / (s + bwdSum))
      assert(r.getAs[Long]("margin_milli") !== oldChain,
        "the divide-by-k chain must NOT survive on sub-k neighborhoods")
    }
  }

  test("operator caches live only inside the call: no CacheManager " +
      "entry survives success or failure, and a repeated " +
      "curateAndPack recomputes instead of reusing a cache") {
    val spark = GraftTest.spark
    import spark.implicits._
    val entries = () =>
      org.apache.spark.sql.graft.shims.cachedEntryCount(spark)
    val e = spark.read.parquet(s"${GraftTest.sf0001}/embeddings.parquet")
    val src = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val tgt = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val dir = java.nio.file.Files
      .createTempDirectory("mining-cache").toString
    IvfIndex.build(src, s"$dir/src", nCentroids = 4)
    IvfIndex.build(tgt, s"$dir/tgt", nCentroids = 4)
    IvfPq.build(spark, s"$dir/tgt", s"$dir/pq", m = 16, ks = 16)
    val model = TextAnalysis.trainLangId(
      TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
    val docs = spark.read.parquet(s"${GraftTest.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    // every operator, over inputs that either work or throw once the
    // operator's first job evaluates them (inside its cache scope
    // wherever it has one)
    def calls(d: DataFrame, t: DataFrame, q: DataFrame) = Seq(
      "curateAndPack" -> (() => Curation.curateAndPack(d, model)),
      "marginPairs" -> (() => Mining.marginPairs(spark, src, t, k = 4)),
      "marginPairsIvf" -> (() => Mining.marginPairsIvf(spark,
        s"$dir/src", s"$dir/tgt", src, t, k = 4)),
      "marginPairsDelta" -> (() => Mining.marginPairsDelta(spark,
        s"$dir/tgt", t, src, k = 4)),
      "exactBatch" -> (() => Knn.exactBatch(t, q, 4, Metric.Cosine)),
      "IvfIndex.searchBatch" -> (() =>
        IvfIndex.searchBatch(spark, s"$dir/tgt", q, 4)),
      "IvfPq.searchBatch" -> (() =>
        IvfPq.searchBatch(spark, s"$dir/tgt", s"$dir/pq", q, 4)))
    val qs = src.select(col("id").as("qid"), col("values").as("qvalues"))
    for ((name, call) <- calls(docs, tgt, qs)) {
      val before = entries()
      assert(call().count() > 0L, name)
      assert(entries() === before, s"$name left a CacheManager entry")
    }
    val boomVec = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException("boom")
      else Seq.empty[Float] }
    val boomText = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException("boom") else "" }
    for ((name, call) <- calls(
        docs.select(col("doc_id"), boomText(col("doc_id")).as("text")),
        tgt.select(col("id"), boomVec(col("id")).as("values")),
        qs.select(col("qid"), boomVec(col("qid")).as("qvalues")))) {
      val before = entries()
      val err = intercept[Exception](call().count())
      assert(Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).exists(_.getMessage == "boom"), name)
      assert(entries() === before,
        s"$name left a CacheManager entry after a failure")
    }
    // the same input twice: the first call leaves no cache for the
    // second to find, and both compute the same rows
    val before = entries()
    val first = Curation.curateAndPack(docs, model)
      .collect().map(_.toSeq).toSet
    assert(entries() === before)
    val second = Curation.curateAndPack(docs, model)
      .collect().map(_.toSeq).toSet
    assert(first.nonEmpty)
    assert(second === first)
  }

  test("guards: k must be positive") {
    val spark = GraftTest.spark
    val v = vecs(1L -> Seq(1.0, 0.0))
    assert(intercept[IllegalArgumentException](
      Mining.marginCandidates(spark, v, v, k = 0))
      .getMessage.contains("[GRAFT]"))
    assert(intercept[IllegalArgumentException](
      Mining.marginPairsIvf(spark, "/tmp/x", "/tmp/y", v, v, k = -1))
      .getMessage.contains("[GRAFT]"))
  }
}
