package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class PqSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet(s"${GraftTest.sf0001}/embeddings.parquet")
    .select($"vec_id".as("id"), $"embedding".as("values"))

  private lazy val all: Array[(Long, Array[Float])] =
    emb.as[(Long, Array[Float])].collect()

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def copyDir(src: String, dst: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(src), fs,
      new org.apache.hadoop.fs.Path(dst), false, conf))
  }

  /** Crash state inside a rebuild's sentinel window: `codebooks` is
    * already swapped in, `codes` still sits staged beside the live dir
    * (staged copies of the live dirs — same content, new inodes). */
  private def midRebuild(dir: String, sentinel: String): Unit = {
    copyDir(s"$dir/codebooks", s"$dir/codebooks_stage")
    copyDir(s"$dir/codes", s"$dir/codes_stage")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/codebooks"))
    Files.move(java.nio.file.Paths.get(s"$dir/codebooks_stage"),
      java.nio.file.Paths.get(s"$dir/codebooks"))
    Files.write(java.nio.file.Paths.get(dir, sentinel),
      "1".getBytes("UTF-8"))
  }

  private def noRebuildDebris(dir: String, sentinel: String): Unit =
    Seq(sentinel, "codebooks_stage", "codebooks_old", "codes_stage",
        "codes_old")
      .foreach(d => assert(!new java.io.File(s"$dir/$d").exists(), d))

  private def bruteTopK(q: Array[Float], k: Int): Seq[Long] =
    all.map { case (id, v) => (cos(v, q), id) }.sorted.take(k).map(_._2).toSeq

  test("PQ codes: 32x compression, deterministic, bounded reconstruction") {
    val dir = Files.createTempDirectory("pq").toString
    PqIndex.build(emb, dir, m = 8, ks = 32, Metric.Cosine)
    val codes = spark.read.parquet(s"$dir/codes")
      .as[(Long, Array[Byte])].collect().toMap
    assert(codes.size === all.length)
    assert(codes.values.forall(_.length === 8)) // 8 bytes vs 256 raw
    // deterministic: a second build produces byte-identical codes
    val dir2 = Files.createTempDirectory("pq2").toString
    PqIndex.build(emb, dir2, m = 8, ks = 32, Metric.Cosine)
    val codes2 = spark.read.parquet(s"$dir2/codes")
      .as[(Long, Array[Byte])].collect().toMap
    assert(codes.view.mapValues(_.toSeq).toMap ===
      codes2.view.mapValues(_.toSeq).toMap)
    // parameter guards
    intercept[IllegalArgumentException] {
      PqIndex.build(emb, dir2, m = 7, ks = 32) // 64 % 7 != 0
    }
    intercept[graft.store.InvalidVectorException] {
      PqIndex.search(spark, dir, Array(1f, 2f), 5)
    }
  }

  test("PQ ADC + exact refine: recall@10 >= 0.9 vs brute force") {
    val dir = Files.createTempDirectory("pq_recall").toString
    PqIndex.build(emb, dir, m = 8, ks = 32, Metric.Cosine)
    // plain ADC is lossy on uniform data — it only needs to KEEP the
    // true neighbors inside the overfetch window; refine restores order
    val queries = all.take(15)
    val refined = queries.map { case (_, q) =>
      val got = PqIndex.searchRefined(spark, dir, emb, q, 10,
        overfetch = 8).select("id").as[Long].collect().toSet
      (got & bruteTopK(q, 10).toSet).size / 10.0
    }
    val recall = refined.sum / refined.length
    assert(recall >= 0.9, s"refined recall@10 = $recall")
    // the refine output is ordered by the requested metric's exact
    // distance and carries it
    val one = PqIndex.searchRefined(spark, dir, emb, queries.head._2, 5,
      overfetch = 8).as[(Long, Double)].collect()
    assert(one.map(_._2).toSeq === one.map(_._2).sorted.toSeq)
  }

  test("IVF-PQ: residual codes partitioned by cluster, pruned probe, " +
      "refined recall@10 >= 0.9") {
    val ivfDir = Files.createTempDirectory("ivfpq_ivf").toString
    val pqDir = Files.createTempDirectory("ivfpq_pq").toString
    IvfIndex.build(emb, ivfDir, nCentroids = 8, Metric.Cosine)
    IvfPq.build(spark, ivfDir, pqDir, m = 32, ks = 64)
    // codes mirror the parent layout: one dir per non-empty cluster,
    // m bytes per vector, every indexed id coded exactly once
    val codes = spark.read.parquet(s"$pqDir/codes")
    assert(codes.count() === all.length)
    assert(codes.select("id").distinct().count() === all.length)
    assert(codes.as[(Long, Array[Byte], Int)].head()._2.length === 32)
    // ADC scan reads ONLY the probed cluster directories (file-level
    // pruning: every input file sits under a probed cluster= dir, and
    // fewer dirs are touched than the index has non-empty clusters)
    val scored = IvfPq.search(spark, ivfDir, pqDir, all.head._2, 10,
      nProbe = 2)
    assert(scored.count() === 10)
    val scanned = scored.inputFiles.map(f =>
      f.split("/cluster=")(1).split("/")(0).toInt).toSet
    assert(scanned.size <= 2, s"probed dirs read: $scanned")
    // the refine stage's raw-vector read pushes the candidate ids down
    // to parquet (row-group pruning), it does not rescan the probe set
    val refined = IvfPq.searchRefined(spark, ivfDir, pqDir, all.head._2,
      10, nProbe = 2, overfetch = 4)
    // documented contract: (id, distance) — the empty-probe branch and
    // the normal branch must agree on the schema
    assert(refined.columns.toSeq === Seq("id", "distance"))
    val plan = refined.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(id"),
      s"refine scan must push id IN (...):\n$plan")
    // full probe (every cluster) + refine == exact top-k recall bound;
    // uniform embeddings are the PQ worst case, residual coding +
    // overfetch must still keep the true neighbors in the window
    val queries = all.take(15)
    val recalls = queries.map { case (_, q) =>
      val got = IvfPq.searchRefined(spark, ivfDir, pqDir, q, 10,
          nProbe = 8, overfetch = 8)
        .select("id").as[Long].collect().toSet
      (got & bruteTopK(q, 10).toSet).size / 10.0
    }
    val recall = recalls.sum / recalls.length
    assert(recall >= 0.9, s"ivfpq full-probe refined recall@10 = $recall")
    // pruned probe trades recall for cost but stays useful
    val prunedRecalls = queries.map { case (_, q) =>
      val got = IvfPq.searchRefined(spark, ivfDir, pqDir, q, 10,
          nProbe = 4, overfetch = 8)
        .select("id").as[Long].collect().toSet
      (got & bruteTopK(q, 10).toSet).size / 10.0
    }
    assert(prunedRecalls.sum / prunedRecalls.length >= 0.6,
      s"ivfpq nProbe=4/8 recall@10 = ${prunedRecalls.sum / prunedRecalls.length}")
    // deterministic: rebuild produces byte-identical codes
    val pqDir2 = Files.createTempDirectory("ivfpq_pq2").toString
    IvfPq.build(spark, ivfDir, pqDir2, m = 32, ks = 64)
    val c1 = spark.read.parquet(s"$pqDir/codes")
      .as[(Long, Array[Byte], Int)].collect()
      .map(r => (r._1, r._2.toSeq, r._3)).sortBy(_._1).toSeq
    val c2 = spark.read.parquet(s"$pqDir2/codes")
      .as[(Long, Array[Byte], Int)].collect()
      .map(r => (r._1, r._2.toSeq, r._3)).sortBy(_._1).toSeq
    assert(c1 === c2)
    // dimension guard
    intercept[graft.store.InvalidVectorException] {
      IvfPq.search(spark, ivfDir, pqDir, Array(1f, 2f), 5)
    }
  }

  test("PQ/IVF-PQ rebuilds are staged with a crash sentinel: probes " +
      "refuse loudly mid-rebuild, rerunning build recovers") {
    val q = all.head._2
    // plain PQ
    val pqDir = Files.createTempDirectory("pq-rebuild").toString
    PqIndex.build(emb, pqDir, m = 8, ks = 16)
    val before = PqIndex.searchRefined(spark, pqDir, emb, q, 5)
      .select("id").as[Long].collect().toSeq
    java.nio.file.Files.write(
      java.nio.file.Paths.get(pqDir, "pq.rebuilding"),
      "1".getBytes("UTF-8"))
    val err = intercept[IllegalArgumentException] {
      PqIndex.searchRefined(spark, pqDir, emb, q, 5)
    }
    assert(err.getMessage.contains("rebuild"))
    PqIndex.build(emb, pqDir, m = 8, ks = 16) // recovery
    assert(PqIndex.searchRefined(spark, pqDir, emb, q, 5)
      .select("id").as[Long].collect().toSeq === before)
    assert(!new java.io.File(s"$pqDir/pq.rebuilding").exists())
    assert(!new java.io.File(s"$pqDir/codes_stage").exists())
    assert(!new java.io.File(s"$pqDir/codebooks_old").exists())
    // mid-window: every reader refuses, a rerun recovers cleanly
    midRebuild(pqDir, "pq.rebuilding")
    Seq(() => PqIndex.search(spark, pqDir, q, 5),
        () => PqIndex.searchRefined(spark, pqDir, emb, q, 5))
      .foreach(read => intercept[IllegalArgumentException](read()))
    PqIndex.build(emb, pqDir, m = 8, ks = 16)
    noRebuildDebris(pqDir, "pq.rebuilding")
    assert(PqIndex.searchRefined(spark, pqDir, emb, q, 5)
      .select("id").as[Long].collect().toSeq === before)
    // IVF-PQ over a parent index
    val ivfDir = Files.createTempDirectory("ivf-for-pq-rb").toString
    IvfIndex.build(emb, ivfDir, nCentroids = 8, Metric.Cosine)
    val ipqDir = Files.createTempDirectory("ivfpq-rebuild").toString
    IvfPq.build(spark, ivfDir, ipqDir, m = 8, ks = 16)
    val ibefore = IvfPq.searchRefined(spark, ivfDir, ipqDir, q, 5,
      nProbe = 8).select("id").as[Long].collect().toSeq
    java.nio.file.Files.write(
      java.nio.file.Paths.get(ipqDir, "ivfpq.rebuilding"),
      "1".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      IvfPq.searchRefined(spark, ivfDir, ipqDir, q, 5, nProbe = 8)
    }
    intercept[IllegalArgumentException] {
      IvfPq.refresh(spark, ivfDir, ipqDir)
    }
    IvfPq.build(spark, ivfDir, ipqDir, m = 8, ks = 16) // recovery
    assert(IvfPq.searchRefined(spark, ivfDir, ipqDir, q, 5, nProbe = 8)
      .select("id").as[Long].collect().toSeq === ibefore)
    assert(!new java.io.File(s"$ipqDir/ivfpq.rebuilding").exists())
    assert(!new java.io.File(s"$ipqDir/codes_stage").exists())
    midRebuild(ipqDir, "ivfpq.rebuilding")
    Seq(() => IvfPq.search(spark, ivfDir, ipqDir, q, 5, nProbe = 8),
        () => IvfPq.searchRefined(spark, ivfDir, ipqDir, q, 5, nProbe = 8),
        () => IvfPq.searchBatch(spark, ivfDir, ipqDir,
          Seq((1L, q)).toDF("qid", "qvalues"), 5),
        () => IvfPq.refresh(spark, ivfDir, ipqDir))
      .foreach(read => intercept[IllegalArgumentException](read()))
    IvfPq.build(spark, ivfDir, ipqDir, m = 8, ks = 16)
    noRebuildDebris(ipqDir, "ivfpq.rebuilding")
    // stamped with the parent's generation, so probes stay legal
    assert(IvfPq.searchRefined(spark, ivfDir, ipqDir, q, 5, nProbe = 8)
      .select("id").as[Long].collect().toSeq === ibefore)
    // a PARENT mid-rebuild refuses IvfPq.build/refresh UP FRONT at
    // their first parent read (the parent's guarded
    // readMeta) — training/encoding against a mid-swap mix of old
    // and new clusters could otherwise publish codes stamped with
    // the parent's new generation
    java.nio.file.Files.write(
      java.nio.file.Paths.get(ivfDir, "ivf.rebuilding"),
      "1".getBytes("UTF-8"))
    val refusedDir = Files.createTempDirectory("ivfpq-parent-rb").toString
    val perr = intercept[IllegalArgumentException] {
      IvfPq.build(spark, ivfDir, refusedDir, m = 8, ks = 16)
    }
    assert(perr.getMessage.contains("rebuild"))
    // refused UP FRONT: nothing was trained/encoded/staged
    assert(new java.io.File(refusedDir).list().isEmpty)
    intercept[IllegalArgumentException] {
      IvfPq.refresh(spark, ivfDir, ipqDir)
    }
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(ivfDir, "ivf.rebuilding"))
    assert(IvfPq.searchRefined(spark, ivfDir, ipqDir, q, 5, nProbe = 8)
      .select("id").as[Long].collect().toSeq === ibefore)
  }

  test("IVF-PQ refresh: appended vectors become searchable, idempotent") {
    val ivfDir = Files.createTempDirectory("ivfpq_ref_i").toString
    val pqDir = Files.createTempDirectory("ivfpq_ref_p").toString
    IvfIndex.build(emb, ivfDir, nCentroids = 4, Metric.Cosine)
    IvfPq.build(spark, ivfDir, pqDir, m = 32, ks = 64)
    // append a vector IDENTICAL to an existing one (id 10_000) — after
    // refresh it must be encoded and show up next to its twin
    val twin = all.head._2
    IvfIndex.append(Seq((10000L, twin)).toDF("id", "values"), ivfDir)
    // stale codes: the appended id is invisible to the ADC scan
    val before = IvfPq.search(spark, ivfDir, pqDir, twin, all.length + 1,
      nProbe = 4).select("id").as[Long].collect()
    assert(!before.contains(10000L))
    assert(IvfPq.refresh(spark, ivfDir, pqDir) === 1L)
    val after = IvfPq.search(spark, ivfDir, pqDir, twin, 5, nProbe = 4)
      .select("id").as[Long].collect()
    assert(after.contains(10000L), after.mkString(","))
    // every indexed id is coded exactly once; refresh is idempotent
    assert(IvfPq.refresh(spark, ivfDir, pqDir) === 0L)
    val codes = spark.read.parquet(s"$pqDir/codes")
    assert(codes.count() === (all.length + 1).toLong)
    assert(codes.select("id").distinct().count() === (all.length + 1).toLong)
  }

  test("IVF-PQ refresh ignores a leftover codes/cluster=<c>_old beside " +
      "its live cluster (swap garbage) and drops it") {
    val ivfDir = Files.createTempDirectory("ivfpq_old_i").toString
    val pqDir = Files.createTempDirectory("ivfpq_old_p").toString
    IvfIndex.build(emb, ivfDir, nCentroids = 4, Metric.Cosine)
    IvfPq.build(spark, ivfDir, pqDir, m = 8, ks = 16)
    val c = spark.read.parquet(s"$ivfDir/centroids").select("cluster")
      .as[Int].collect().min
    copyDir(s"$pqDir/codes/cluster=$c", s"$pqDir/codes/cluster=${c}_old")
    copyDir(s"$ivfDir/assignments/cluster=$c",
      s"$ivfDir/assignments/cluster=${c}_old")
    assert(IvfPq.refresh(spark, ivfDir, pqDir) === 0L)
    assert(!new java.io.File(s"$pqDir/codes/cluster=${c}_old").exists())
    val codes = spark.read.parquet(s"$pqDir/codes")
    assert(codes.count() === all.length.toLong)
    assert(IvfPq.search(spark, ivfDir, pqDir, all.head._2, all.length,
      nProbe = 4).count() === all.length.toLong)
  }

  test("generation stamp: deleteIds stales the artifact, probes refuse, " +
      "refresh scrubs dead codes and heals") {
    val ivfDir = Files.createTempDirectory("ivfpq_gen_i").toString
    val pqDir = Files.createTempDirectory("ivfpq_gen_p").toString
    IvfIndex.build(emb, ivfDir, nCentroids = 4, Metric.Cosine)
    IvfPq.build(spark, ivfDir, pqDir, m = 32, ks = 64)
    val victim = all.head._1
    assert(IvfIndex.deleteIds(spark, ivfDir, Seq(victim)) === 1L)
    // every probe path refuses the stale artifact — a silent probe
    // would still return the deleted vector from its ADC codes
    val q = all(1)._2
    intercept[IllegalStateException] {
      IvfPq.search(spark, ivfDir, pqDir, q, 5)
    }
    intercept[IllegalStateException] {
      IvfPq.searchRefined(spark, ivfDir, pqDir, q, 5)
    }
    intercept[IllegalStateException] {
      IvfPq.searchBatch(spark, ivfDir, pqDir,
        Seq((1L, q)).toDF("qid", "qvalues"), 5)
    }
    // refresh: nothing new to encode, but the dead code is scrubbed
    // and the artifact is re-stamped probe-legal
    assert(IvfPq.refresh(spark, ivfDir, pqDir) === 0L)
    val codes = spark.read.parquet(s"$pqDir/codes")
    assert(codes.count() === (all.length - 1).toLong)
    val ids = IvfPq.search(spark, ivfDir, pqDir, q, all.length,
      nProbe = 4).select("id").as[Long].collect()
    assert(!ids.contains(victim))
  }

  test("generation stamp: rebalance stales the artifact; refresh " +
      "re-encodes into the new cluster layout") {
    // skewed corpus so rebalance actually splits (same shape as
    // KnnSpec's rebalance spec)
    val dim = 8
    val rows = (0L until 2000L).map { i =>
      val v = new Array[Float](dim)
      if (i < 1800L) { v(0) = 1f; v(1) = (i % 97).toFloat / 9700f }
      else { v((i % (dim - 2)).toInt + 2) = 1f; v(0) = (i % 7).toFloat / 7f }
      (i, v.toSeq)
    }.toDF("id", "values")
    val ivfDir = Files.createTempDirectory("ivfpq_reb_i").toString
    val pqDir = Files.createTempDirectory("ivfpq_reb_p").toString
    IvfIndex.build(rows, ivfDir, nCentroids = 8, Metric.Cosine, seed = 7L)
    IvfPq.build(spark, ivfDir, pqDir, m = 4, ks = 16)
    assert(IvfIndex.rebalance(spark, ivfDir, maxClusterFraction = 0.25,
      seed = 11L) >= 2)
    // stale: codes for the split cluster are keyed by a dead cluster
    // id — a probe would silently never scan them
    intercept[IllegalStateException] {
      IvfPq.search(spark, ivfDir, pqDir, rows.head.getSeq[Float](1).toArray, 5)
    }
    // refresh drops the dead-keyed dirs and re-encodes those vectors
    // into the new layout with the existing codebooks
    assert(IvfPq.refresh(spark, ivfDir, pqDir) >= 1700L)
    val codes = spark.read.parquet(s"$pqDir/codes")
    assert(codes.count() === 2000L)
    assert(codes.select("id").distinct().count() === 2000L)
    // every code dir corresponds to a live centroid
    val liveClusters = spark.read.parquet(s"$ivfDir/centroids")
      .select("cluster").as[Int].collect().toSet
    val codeClusters = codes.select("cluster").distinct()
      .as[Int].collect().toSet
    assert(codeClusters.subsetOf(liveClusters))
    // probe-legal again, full-probe refine returns k rows
    val nClusters = liveClusters.size
    val q = Array.tabulate(dim)(i => if (i == 0) 1f else 0f)
    val got = IvfPq.searchRefined(spark, ivfDir, pqDir, q, 10,
      nProbe = nClusters, overfetch = 8)
    assert(got.count() === 10L)
  }

  test("refresh after rebalance of a MULTIPROBE parent (nAssign=2): " +
      "every live assignment row gets a code — an id-only anti-join " +
      "would skip vectors still coded in a surviving co-assigned " +
      "cluster") {
    val dim = 8
    val rows = (0L until 2000L).map { i =>
      val v = new Array[Float](dim)
      if (i < 1800L) { v(0) = 1f; v(1) = (i % 97).toFloat / 9700f }
      else { v((i % (dim - 2)).toInt + 2) = 1f; v(0) = (i % 7).toFloat / 7f }
      (i, v.toSeq)
    }.toDF("id", "values")
    val ivfDir = Files.createTempDirectory("ivfpq_reb2_i").toString
    val pqDir = Files.createTempDirectory("ivfpq_reb2_p").toString
    IvfIndex.build(rows, ivfDir, nCentroids = 8, Metric.Cosine,
      seed = 7L, nAssign = 2)
    IvfPq.build(spark, ivfDir, pqDir, m = 4, ks = 16)
    def liveClusters(): Set[Int] = spark.read
      .parquet(s"$ivfDir/centroids")
      .select("cluster").as[Int].collect().toSet
    def liveAssigns() = spark.read.parquet(s"$ivfDir/assignments")
      .filter($"cluster".isin(liveClusters().toSeq: _*))
      .select($"id", $"cluster")
    // build invariant: one code per (id, cluster) assignment row
    val before = liveAssigns().count()
    assert(spark.read.parquet(s"$pqDir/codes").count() === before)
    assert(IvfIndex.rebalance(spark, ivfDir, maxClusterFraction = 0.25,
      seed = 11L) >= 2)
    IvfPq.refresh(spark, ivfDir, pqDir)
    // the invariant the fix restores: codes cover EVERY live
    // assignment row — including rows whose id kept a code in a
    // surviving co-assigned cluster while its split-cluster copy
    // moved to a fresh cluster id
    val assigns = liveAssigns()
    val codes = spark.read.parquet(s"$pqDir/codes")
      .select($"id", $"cluster")
    assert(codes.count() === assigns.count())
    assert(codes.except(assigns).count() === 0L)
    assert(assigns.except(codes).count() === 0L)
    // probe-legal, full-probe refine returns k rows
    val q = Array.tabulate(dim)(i => if (i == 0) 1f else 0f)
    assert(IvfPq.searchRefined(spark, ivfDir, pqDir, q, 10,
      nProbe = liveClusters().size, overfetch = 8).count() === 10L)
  }

  test("IvfPq.searchBatch: per-query parity with searchRefined, " +
      "multiprobe parent included") {
    val ivfDir = Files.createTempDirectory("ivfpq_batch_i").toString
    val pqDir = Files.createTempDirectory("ivfpq_batch_p").toString
    IvfIndex.build(emb, ivfDir, nCentroids = 8, Metric.Cosine,
      nAssign = 2)
    IvfPq.build(spark, ivfDir, pqDir, m = 32, ks = 64)
    val queries = all.take(8).toSeq.toDF("qid", "qvalues")
    val batch = IvfPq.searchBatch(spark, ivfDir, pqDir, queries,
        k = 5, nProbe = 4, overfetch = 4)
      .orderBy($"qid", $"rank")
      .select($"qid", $"id", $"distance")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    all.take(8).foreach { case (qid, qv) =>
      val single = IvfPq.searchRefined(spark, ivfDir, pqDir, qv, 5,
          nProbe = 4, overfetch = 4)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) === single, s"qid=$qid")
    }
    // output shape matches the IVF twin
    assert(IvfPq.searchBatch(spark, ivfDir, pqDir, queries, 3)
      .columns.toSeq === Seq("qid", "id", "distance", "rank"))

    // byte-gate off (budget forced to 0 → no broadcast hints on any
    // of the three gated sides): identical rows — the hint is a
    // physical-plan nudge, never a correctness dependency
    val key = "graft.broadcast.budget.bytes"
    val old = sys.props.get(key)
    val ungated = try {
      sys.props(key) = "0"
      IvfPq.searchBatch(spark, ivfDir, pqDir, queries,
          k = 5, nProbe = 4, overfetch = 4)
        .orderBy($"qid", $"rank")
        .select($"qid", $"id", $"distance")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq)
        .toMap
    } finally {
      old match {
        case Some(v) => sys.props(key) = v
        case None => sys.props.remove(key)
      }
    }
    assert(ungated === batch)
  }

  test("filtered IVF-PQ: only allowed ids at every stage, full-probe " +
      "refine parity with exact filtered kNN, batch = single") {
    val ivfDir = Files.createTempDirectory("ivfpq_filt_i").toString
    val pqDir = Files.createTempDirectory("ivfpq_filt_p").toString
    IvfIndex.build(emb, ivfDir, nCentroids = 8, Metric.Cosine)
    IvfPq.build(spark, ivfDir, pqDir, m = 32, ks = 64)
    val allowedIds = all.map(_._1).filter(_ % 3 == 0).toSet
    val allowed = allowedIds.toSeq.toDF("vec_id")
    val some = Some(allowed)
    val nAll = allowedIds.size.toLong

    // ADC stage respects the filter
    val adcIds = IvfPq.search(spark, ivfDir, pqDir, all.head._2, 10,
        nProbe = 8, allowed = some, allowedRows = nAll)
      .select($"id").as[Long].collect().toSet
    assert(adcIds.nonEmpty && adcIds.forall(allowedIds))

    // full probe + wide overfetch ⇒ the refined result IS the exact
    // filtered top-k (every allowed vector reaches the refine pool)
    all.take(5).foreach { case (qid, qv) =>
      val got = IvfPq.searchRefined(spark, ivfDir, pqDir, qv, 5,
          nProbe = 8, overfetch = all.length, allowed = some,
          allowedRows = nAll)
        .select($"id").as[Long].collect().toSeq
      val want = all.filter(t => allowedIds(t._1))
        .map { case (id, v) => (cos(v, qv), id) }.sorted.take(5)
        .map(_._2).toSeq
      assert(got === want, s"qid=$qid")
      assert(got.forall(allowedIds))
    }

    // batch parity with the single-query filtered path
    val queries = all.take(5).toSeq.toDF("qid", "qvalues")
    val batch = IvfPq.searchBatch(spark, ivfDir, pqDir, queries,
        k = 5, nProbe = 8, overfetch = 8, allowed = some,
        allowedRows = nAll)
      .orderBy($"qid", $"rank").select($"qid", $"id")
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(batch.values.forall(ids => ids.forall(allowedIds)))
    all.take(5).foreach { case (qid, qv) =>
      val single = IvfPq.searchRefined(spark, ivfDir, pqDir, qv, 5,
          nProbe = 8, overfetch = 8, allowed = some, allowedRows = nAll)
        .select($"id").as[Long].collect().toSeq
      assert(batch(qid) === single, s"qid=$qid")
    }

    // loud misuse: multi-column allowed set
    val err = intercept[IllegalArgumentException] {
      IvfPq.searchRefined(spark, ivfDir, pqDir, all.head._2, 5,
        allowed = Some(allowed.withColumn("x", lit(1))))
    }
    assert(err.getMessage.contains("[GRAFT]"))
  }
}
