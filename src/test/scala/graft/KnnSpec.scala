package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class KnnSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet(s"${GraftTest.sf0001}/embeddings.parquet")
    .select($"vec_id".as("id"), $"embedding".as("values"))

  private lazy val all: Array[(Long, Array[Float])] =
    emb.as[(Long, Array[Float])].collect()

  /** Crash-state helpers: copy a dir tree / move a dir, by hand. */
  private def copyDir(src: String, dst: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(src), fs,
      new org.apache.hadoop.fs.Path(dst), false, conf))
  }

  private def moveDir(src: String, dst: String): Unit =
    Files.move(java.nio.file.Paths.get(src), java.nio.file.Paths.get(dst))

  private def exists(p: String): Boolean = new java.io.File(p).exists()

  private def bruteTopK(q: Array[Float], k: Int): Seq[Long] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    all.map { case (id, v) => (cos(v, q), id) }.sorted.take(k).map(_._2).toSeq
  }

  test("exact knn matches brute force") {
    val q = all(7)._2
    val got = Knn.exact(emb, q, 10, Metric.Cosine)
      .select("id").as[Long].collect().toSeq
    assert(got === bruteTopK(q, 10))
  }

  test("exactBatch matches per-query exact, via TopKByDistance partial agg") {
    val queries = all.take(5).map { case (id, v) => (id, v) }.toSeq
      .toDF("qid", "qvalues")
    val got = Knn.exactBatch(emb, queries, 7, Metric.Cosine)
      .orderBy($"qid", $"rank")
      .select($"qid", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    all.take(5).foreach { case (qid, qv) =>
      assert(got(qid) === bruteTopK(qv, 7), s"qid=$qid")
    }
  }

  // exactBatch is eager (its top-k job runs inside the call), so its
  // plan shape is read from the queries the call executed
  private def executedPlans(op: => Any): String =
    graft.tools.Explain.sparkWork(spark)(op)._3
      .map(_.executedPlan.toString).mkString("\n")

  test("exactBatch plan: broadcast join + partial topk aggregation") {
    val queries = all.take(2).toSeq.toDF("qid", "qvalues")
    val plan = executedPlans(Knn.exactBatch(emb, queries, 5, Metric.Cosine))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_vfs_topk"), plan)
  }

  test("exactBatch broadcast is byte-gated: an over-budget batch plans " +
      "without the hint, results unchanged at small scale") {
    // over the 256 MB byte budget: 500k rows × dim 128 ≈ 288 MB — the
    // hint would be an executor-memory cliff, the planner must be
    // left to choose. (The same row count at dim 2 is ~36 MB and
    // SHOULD broadcast — the gate is bytes, not rows.)
    val big = spark.range(500001L)
      .select($"id".as("qid"),
        array_repeat(lit(0.1f), 128).as("qvalues"))
    // the base matches the query dim: exactBatch runs its job, so the
    // rows must be scoreable, not just plannable
    val base2 = Seq((1L, Array.fill(128)(0.1f)), (2L, Array.fill(128)(0.9f)))
      .toDF("id", "values")
    val plan = executedPlans(Knn.exactBatch(base2, big, 1,
      Metric.Euclidean))
    // ungated, the hint would force the 500k QUERY side into the
    // broadcast (BuildRight); with the gate the planner is free and
    // picks the 2-row base (BuildLeft) — the query side must not be
    // the build side
    assert(plan.contains("BuildLeft") && !plan.contains("BuildRight"),
      plan)
    // under the gate nothing changed: same rows as the broadcast plan
    val small = all.take(3).toSeq.toDF("qid", "qvalues")
    val gated = Knn.exactBatch(emb, small, 5, Metric.Cosine)
      .orderBy($"qid", $"rank").select($"qid", $"id")
      .as[(Long, Long)].collect().toSeq
    all.take(3).foreach { case (qid, qv) =>
      assert(gated.filter(_._1 == qid).map(_._2) === bruteTopK(qv, 5),
        s"qid=$qid")
    }
  }

  test("IVF deleteIds: hard delete across the index (GDPR path), " +
      "generation bump, partition-scoped rewrite") {
    val dir = Files.createTempDirectory("ivf-del").toString
    IvfIndex.build(emb, dir, nCentroids = 8, Metric.Cosine)
    val genBefore = IvfIndex.generationOf(dir)
    val victims = all.take(3).map(_._1).toSeq
    assert(IvfIndex.deleteIds(spark, dir, victims) === 3L)
    assert(IvfIndex.generationOf(dir) === genBefore + 1)
    // absent from a FULL probe (every cluster scanned)
    val got = IvfIndex.search(spark, dir, all.head._2, all.length,
      nProbe = 8).select("id").as[Long].collect().toSet
    victims.foreach(v => assert(!got.contains(v), s"id $v survived"))
    assert(spark.read.parquet(s"$dir/assignments").count() ===
      (all.length - 3).toLong)
    // unknown ids are a no-op (no generation churn)
    val genNow = IvfIndex.generationOf(dir)
    assert(IvfIndex.deleteIds(spark, dir, Seq(99999999L)) === 0L)
    assert(IvfIndex.generationOf(dir) === genNow)
    // multiprobe: EVERY stored copy of a victim goes
    val dir2 = Files.createTempDirectory("ivf-del2").toString
    IvfIndex.build(emb, dir2, nCentroids = 8, Metric.Cosine, nAssign = 2)
    assert(IvfIndex.deleteIds(spark, dir2, victims) === 6L)
    val got2 = IvfIndex.search(spark, dir2, all.head._2, all.length,
      nProbe = 8).select("id").as[Long].collect().toSet
    victims.foreach(v => assert(!got2.contains(v), s"copy of $v survived"))
  }

  test("centroid collect is byte-gated: an index whose centroid table " +
      "cannot fit the driver budget fails LOUDLY naming two-level " +
      "routing, instead of a driver OOM") {
    val dir = Files.createTempDirectory("ivf-centgate").toString
    IvfIndex.build(emb, dir, nCentroids = 8, Metric.Cosine)
    val queries = all.take(3).toSeq.toDF("qid", "qvalues")
    // the COLLECT budget, not the broadcast one: zeroing broadcast
    // hints must never trip this gate (PqSpec pins that), so the
    // knobs are separate
    val key = "graft.collect.budget.bytes"
    val old = sys.props.get(key)
    // shrink the budget below even 8 centroids' bytes — the absurd-
    // nCentroids index in miniature (the estimate, not the collect,
    // must trip: no driver allocation happens first)
    sys.props(key) = "64"
    try {
      val err = intercept[IllegalArgumentException] {
        IvfIndex.searchBatch(spark, dir, queries, k = 5)
      }
      assert(err.getMessage.contains("two-level routing"), err.getMessage)
      assert(err.getMessage.contains("centroid table"), err.getMessage)
      // the single-query probe selects clusters through the same gate
      val one = intercept[IllegalArgumentException] {
        IvfIndex.search(spark, dir, all.head._2, 5)
      }
      assert(one.getMessage.contains("two-level routing"), one.getMessage)
      // the derived-artifact path (IVF-PQ build) hits the same gate
      val pqErr = intercept[IllegalArgumentException] {
        IvfPq.build(spark, dir,
          Files.createTempDirectory("ivfpq-centgate").toString, m = 8)
      }
      assert(pqErr.getMessage.contains("two-level routing"))
    } finally old match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
    // with the budget restored, the same probe serves
    assert(IvfIndex.searchBatch(spark, dir, queries, k = 5)
      .count() === 15L)
  }

  test("IVF rebuild is staged: live index stays consistent until the " +
      "sentinel window; a crashed rebuild refuses loudly and a rerun " +
      "recovers") {
    val dir = Files.createTempDirectory("ivf-rebuild").toString
    IvfIndex.build(emb, dir, nCentroids = 8, Metric.Cosine)
    val beforeIds = IvfIndex.search(spark, dir, all.head._2, 5,
      nProbe = 8).select("id").as[Long].collect().toSeq
    // CRASH STATE A — rebuild died after writing its stages, before
    // the sentinel: live dirs untouched, probes see the OLD index
    spark.read.parquet(s"$dir/assignments").limit(5)
      .write.mode("overwrite").parquet(s"$dir/assignments_stage")
    spark.read.parquet(s"$dir/centroids")
      .write.mode("overwrite").parquet(s"$dir/centroids_stage")
    assert(IvfIndex.search(spark, dir, all.head._2, 5, nProbe = 8)
      .select("id").as[Long].collect().toSeq === beforeIds)
    // CRASH STATE B — died inside the live-mutation window (sentinel
    // present): EVERY readMeta-gated operation refuses loudly instead
    // of silently probing a possibly-mixed clustering
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "ivf.rebuilding"),
      "2".getBytes("UTF-8"))
    val err = intercept[IllegalArgumentException] {
      IvfIndex.search(spark, dir, all.head._2, 5, nProbe = 8)
    }
    assert(err.getMessage.contains("rebuild"))
    intercept[IllegalArgumentException] {
      IvfIndex.append(emb.limit(1), dir)
    }
    // RECOVERY — rerunning build completes the rebuild, clears the
    // sentinel, bumps the generation, and probes work again
    IvfIndex.build(emb, dir, nCentroids = 8, Metric.Cosine)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "ivf.rebuilding")))
    assert(IvfIndex.generationOf(dir) === 2)
    assert(IvfIndex.search(spark, dir, all.head._2, 5, nProbe = 8)
      .select("id").as[Long].collect().toSeq === beforeIds)
    // no stage/old debris after a clean rebuild
    assert(!new java.io.File(s"$dir/assignments_stage").exists())
    assert(!new java.io.File(s"$dir/assignments_old").exists())
    assert(!new java.io.File(s"$dir/centroids_stage").exists())
    // CRASH STATE C — mid-window: the first dir is swapped in, the
    // second is still staged, the sentinel stands
    copyDir(s"$dir/assignments", s"$dir/assignments_stage")
    copyDir(s"$dir/centroids", s"$dir/centroids_stage")
    moveDir(s"$dir/assignments", s"$dir/assignments_old")
    moveDir(s"$dir/assignments_stage", s"$dir/assignments")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/assignments_old"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "ivf.rebuilding"),
      "1".getBytes("UTF-8"))
    val queries = all.take(2).toSeq.toDF("qid", "qvalues")
    val readers: Seq[(String, () => Any)] = Seq(
      "search" -> (() => IvfIndex.search(spark, dir, all.head._2, 5)),
      "searchFiltered" -> (() => IvfIndex.searchFiltered(spark, dir,
        all.head._2, 5, emb.select($"id"))),
      "searchBatch" -> (() => IvfIndex.searchBatch(spark, dir, queries, 5)),
      "similarityJoin" -> (() => IvfIndex.similarityJoin(spark, dir, 0.1)),
      "needsRebalance" -> (() => IvfIndex.needsRebalance(spark, dir)),
      "generationOf" -> (() => IvfIndex.generationOf(dir)))
    readers.foreach { case (name, read) =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("ivf.rebuilding"), s"$name: $e")
    }
    IvfIndex.build(emb, dir, nCentroids = 8, Metric.Cosine)
    assert(IvfIndex.generationOf(dir) === 3)
    assert(IvfIndex.search(spark, dir, all.head._2, 5, nProbe = 8)
      .select("id").as[Long].collect().toSeq === beforeIds)
    Seq("ivf.rebuilding", "assignments_stage", "assignments_old",
        "centroids_stage", "centroids_old")
      .foreach(d => assert(!exists(s"$dir/$d"), d))
  }

  test("a parked assignments/ or centroids/ dir (a crash inside " +
      "compactAssignments' or rebalance's swap) makes readers refuse; " +
      "the next writer heals it first") {
    val dir = Files.createTempDirectory("ivf-parked").toString
    IvfIndex.build(emb, dir, nCentroids = 4, Metric.Cosine)
    def fullProbe(): Set[Long] = IvfIndex.search(spark, dir, all.head._2,
      all.length + 1, nProbe = 4).select("id").as[Long].collect().toSet
    val full = fullProbe()
    assert(full.size === all.length)
    // assignments parked: a probe would silently read zero rows
    moveDir(s"$dir/assignments", s"$dir/assignments_old")
    val err = intercept[IllegalArgumentException](fullProbe())
    assert(err.getMessage.contains("CRASHED"), err.getMessage)
    // append heals BEFORE landing its row — never into a fresh, empty
    // assignments/ that a later compact would then keep alone
    val extra = (99999999L, all.head._2)
    IvfIndex.append(Seq(extra).toDF("id", "values"), dir)
    IvfIndex.compactAssignments(spark, dir)
    assert(fullProbe() === full + extra._1)
    assert(!exists(s"$dir/assignments_old"))
    // centroids parked: every probe would fail on a missing path
    moveDir(s"$dir/centroids", s"$dir/centroids_old")
    intercept[IllegalArgumentException](fullProbe())
    assert(IvfIndex.deleteIds(spark, dir, Seq(extra._1)) === 1L)
    assert(fullProbe() === full)
    assert(!exists(s"$dir/centroids_old"))
  }

  test("rebalance ignores a leftover cluster=<c>_old beside its live " +
      "cluster (swap garbage) and drops it") {
    val dir = Files.createTempDirectory("ivf-old-garbage").toString
    IvfIndex.build(emb, dir, nCentroids = 4, Metric.Cosine)
    val c = spark.read.parquet(s"$dir/centroids").select("cluster")
      .as[Int].collect().min
    copyDir(s"$dir/assignments/cluster=$c",
      s"$dir/assignments/cluster=${c}_old")
    def fullProbe(): Set[Long] = IvfIndex.search(spark, dir, all.head._2,
      all.length, nProbe = 1000).select("id").as[Long].collect().toSet
    val full = fullProbe()
    IvfIndex.rebalance(spark, dir, maxClusterFraction = 0.3)
    assert(fullProbe() === full)
    assert(!exists(s"$dir/assignments/cluster=${c}_old"))
  }

  test("registerIndex's assignments view reads only live clusters: a " +
      "cluster=<c>_old copy beside its live twin adds no rows") {
    val dir = Files.createTempDirectory("ivf-view-debris").toString
    IvfIndex.build(emb, dir, nCentroids = 4, Metric.Cosine)
    val c = spark.read.parquet(s"$dir/centroids").select("cluster")
      .as[Int].collect().min
    copyDir(s"$dir/assignments/cluster=$c",
      s"$dir/assignments/cluster=${c}_old")
    graft.plans.SqlSurface.registerIndex(spark, dir, "debris_ix")
    val view = spark.table("debris_ix_assignments")
    assert(view.count() === IvfIndex.liveAssignments(spark, dir).count())
    assert(view.schema("cluster").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("crashed deleteIds rename-swap auto-heals: a cluster left " +
      "only as cluster=<c>_old is renamed back on the next probe " +
      "instead of silently vanishing from results") {
    val dir = Files.createTempDirectory("ivf-heal").toString
    IvfIndex.build(emb, dir, nCentroids = 8, Metric.Cosine)
    val full = IvfIndex.search(spark, dir, all.head._2, all.length,
      nProbe = 8).select("id").as[Long].collect().toSet
    // simulate the crash window between deleteIds' two renames: the
    // live dir moved to _old, the stage dir never moved in
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val victim = spark.read.parquet(s"$dir/centroids")
      .select("cluster").as[Int].collect().min
    val live = new org.apache.hadoop.fs.Path(
      s"$dir/assignments/cluster=$victim")
    val old = new org.apache.hadoop.fs.Path(
      s"$dir/assignments/cluster=${victim}_old")
    assert(fs.rename(live, old))
    assert(!fs.exists(live))
    // a full probe heals the dir and returns the complete id set
    val healed = IvfIndex.search(spark, dir, all.head._2, all.length,
      nProbe = 8).select("id").as[Long].collect().toSet
    assert(healed === full)
    assert(fs.exists(live) && !fs.exists(old))
  }

  test("GDPR delete closes end to end: id gone from store reads AND " +
      "from a full-probe index search") {
    val root = Files.createTempDirectory("gdpr-e2e").toString
    val store = graft.store.VfsStore.create(spark, root, "gdpr", dim = 8)
    val rows = (0 until 40).map(i =>
      (Array.tabulate(8)(d => (i * 8 + d) / 320f), s"v$i",
        Seq.empty[String]))
    store.appendBatch(rows.toDF("values", "name", "tags"))
    val idx = s"$root/ivf"
    IvfIndex.build(store.read().select($"id", $"values"), idx,
      nCentroids = 4, Metric.Euclidean)
    val victim = store.read().filter($"name" === "v7")
      .select($"id").as[Long].head()
    // store-side delete (live view) + index-side delete, then both
    // surfaces must agree the vector is gone
    store.deleteWhere($"name" === "v7")
    assert(IvfIndex.deleteIds(spark, idx, Seq(victim)) === 1L)
    assert(store.read().filter($"id" === victim).count() === 0L)
    val probed = IvfIndex.search(spark, idx,
        Array.tabulate(8)(d => (7 * 8 + d) / 320f), 40, nProbe = 4)
      .select($"id").as[Long].collect().toSet
    assert(!probed.contains(victim))
    // the survivors are all still probe-visible
    assert(probed.size === 39)
  }

  test("needsRebalance: filesystem skew check fires on drifted appends, " +
      "clears after rebalance") {
    // euclidean (no normalization) so the unique per-row jitter
    // survives into storage and defeats parquet dictionary encoding —
    // bytes track rows for the size proxy
    val dim = 8
    val df = (0L until 500L).map { i =>
      val v = new Array[Float](dim)
      v((i % 4).toInt) = 1f; v(7) = i / 500f * 0.1f
      (i, v.toSeq)
    }.toDF("id", "values")
    val idx = Files.createTempDirectory("ivf-drift").toString
    IvfIndex.build(df, idx, nCentroids = 8, Metric.Euclidean, seed = 7L)
    assert(!IvfIndex.needsRebalance(spark, idx, maxClusterFraction = 0.9))
    // drifted append: a tight blob 4x the corpus around one point
    val blob = (10000L until 12000L).map { i =>
      val v = new Array[Float](dim)
      v(0) = 2f; v(7) = (i - 10000L) / 2000f * 0.001f
      (i, v.toSeq)
    }.toDF("id", "values")
    IvfIndex.append(blob, idx)
    assert(IvfIndex.needsRebalance(spark, idx, maxClusterFraction = 0.5))
    assert(IvfIndex.rebalance(spark, idx, maxClusterFraction = 0.25,
      seed = 11L) >= 2)
    assert(!IvfIndex.needsRebalance(spark, idx, maxClusterFraction = 0.5))
  }

  test("similarityJoin ignores orphan cluster dirs from a crashed " +
      "rebalance (no duplicated pairs)") {
    val rnd = new scala.util.Random(11)
    val base0 = Array.fill(64)(rnd.nextFloat())
    val rows = ((1L, base0) :: (2L, base0.map(_ + 0.001f)) ::
      List.tabulate(60)(i => (10L + i, Array.fill(64)(rnd.nextFloat() - 0.5f))))
      .toDF("id", "values")
    val dir = Files.createTempDirectory("ivf-orphan").toString
    IvfIndex.build(rows, dir, nCentroids = 4, Metric.Cosine)
    val before = IvfIndex.similarityJoin(spark, dir, tau = 0.05)
      .orderBy($"a", $"b").collect().toSeq
    assert(before.nonEmpty)
    // simulate the crash window: an assignments dir whose cluster id
    // is NOT in the centroid table (vectors duplicated on disk)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val src = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/assignments"))
      .map(_.getPath).filter(_.getName.startsWith("cluster=")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new org.apache.hadoop.fs.Path(s"$dir/assignments/cluster=4242"),
      false, conf)
    val after = IvfIndex.similarityJoin(spark, dir, tau = 0.05)
      .orderBy($"a", $"b").collect().toSeq
    assert(after === before)
    // derived artifacts are also orphan-blind: every id coded once
    val pqDir = Files.createTempDirectory("ivf-orphan-pq").toString
    IvfPq.build(spark, dir, pqDir, m = 8, ks = 16)
    val codes = spark.read.parquet(s"$pqDir/codes")
    assert(codes.count() === 62L)
    assert(codes.select("id").distinct().count() === 62L)
  }

  test("IVF index: recall@10 >= 0.9 on clustered data, with partition pruning") {
    // IVF's contract assumes cluster structure; build a corpus of 16
    // well-separated clusters and expect near-perfect recall at 25% probe.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(16)(Array.fill(64)(rnd.nextFloat() * 2 - 1))
    val points = (0 until 800).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.05f))
    }
    val clustered = points.toDF("id", "values")
    val dirC = Files.createTempDirectory("ivfc").toString
    IvfIndex.build(clustered, dirC, nCentroids = 16, Metric.Cosine)
    def cosTop(q: Array[Float], k: Int): Set[Long] = {
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i =>
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i)
        }
        1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
      }
      points.map { case (id, v) => (cos(v, q), id) }
        .sorted.take(k).map(_._2).toSet
    }
    val recallC = points.take(20).map { case (_, q) =>
      val approx = IvfIndex.search(spark, dirC, q, 10, nProbe = 4)
        .select("id").as[Long].collect().toSet
      (approx & cosTop(q, 10)).size / 10.0
    }.sum / 20
    assert(recallC >= 0.9, s"clustered recall@10 = $recallC")

    // uniform random corpus (worst case for any IVF): recall tracks the
    // probed fraction; at 50% probed demand >= 0.8
    val dir = Files.createTempDirectory("ivf").toString
    IvfIndex.build(emb, dir, nCentroids = 16, Metric.Cosine)
    val hits = all.take(20).map { case (_, q) =>
      val approx = IvfIndex.search(spark, dir, q, 10, nProbe = 8)
        .select("id").as[Long].collect().toSet
      val exact = bruteTopK(q, 10).toSet
      (approx & exact).size.toDouble / exact.size
    }
    val recall = hits.sum / hits.length
    assert(recall >= 0.8, s"uniform recall@10 = $recall")
    // pruning happens at path level: the probe scan lists only the
    // nProbe cluster directories, not the whole index
    val plan = IvfIndex.search(spark, dir, all.head._2, 10, nProbe = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryFileIndex(8 paths)"), plan)
  }

  test("IVF searchBatch: per-query parity with search(), scoped to " +
      "probed clusters") {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(32)(rnd.nextFloat() * 2 - 1))
    val points = (0 until 400).map { i =>
      (i.toLong, centers(i % 8).map(x => x + rnd.nextFloat() * 0.05f))
    }
    val dir = Files.createTempDirectory("ivfb").toString
    IvfIndex.build(points.toDF("id", "values"), dir, nCentroids = 8,
      Metric.Cosine)
    val qs = points.take(6)
    val queries = qs.map { case (id, v) => (id, v) }
      .toDF("qid", "qvalues")
    val batch = IvfIndex.searchBatch(spark, dir, queries, k = 10,
        nProbe = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .groupBy(_._1)
      .map { case (q, rows) => q -> rows.sortBy(_._2).map(_._3).toSeq }
    qs.foreach { case (qid, v) =>
      val single = IvfIndex.search(spark, dir, v, 10, nProbe = 3)
        .select($"id").as[Long].collect().toSeq
      assert(batch(qid) == single, s"qid=$qid")
    }
    // multiprobe index: duplicate (qid, id) candidates collapse
    val dirM = Files.createTempDirectory("ivfbm").toString
    IvfIndex.build(points.toDF("id", "values"), dirM, nCentroids = 8,
      Metric.Cosine, nAssign = 2)
    val bm = IvfIndex.searchBatch(spark, dirM, queries, k = 10,
      nProbe = 3).collect()
    val perQ = bm.groupBy(_.getLong(0))
    assert(perQ.values.forall(rows =>
      rows.map(_.getLong(1)).distinct.length == rows.length))
    assert(perQ.values.forall(_.length == 10))
  }

  test("searchFiltered: pre-filter semantics fill k where post-filter " +
      "under-fills; full probe is exact over the allowed subset") {
    val dir = Files.createTempDirectory("ivf-filt").toString
    IvfIndex.build(emb, dir, nCentroids = 8, Metric.Cosine)
    val q = all(7)._2
    // allowed subset: every 7th id — selective enough that the plain
    // top-10 contains almost none of it
    val allowedIds = all.map(_._1).filter(_ % 7 == 0).toSet
    val allowed = allowedIds.toSeq.toDF("vec_id")
    val got = IvfIndex.searchFiltered(spark, dir, q, 10, allowed,
        nProbe = 8, allowedRows = allowedIds.size.toLong)
      .select($"id").as[Long].collect().toSeq
    // only allowed ids, and the FULL k despite the selective predicate
    assert(got.size === 10 && got.forall(allowedIds))
    // full probe == exact brute force restricted to the allowed set
    val exact = all.filter(p => allowedIds(p._1))
      .map { case (id, v) =>
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0
          a.indices.foreach { i =>
            dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
            nb += b(i).toDouble * b(i)
          }
          1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
        }
        (cos(v, q), id)
      }.sorted.take(10).map(_._2).toSeq
    assert(got.toSet === exact.toSet)
    // post-filtering the unfiltered top-10 would keep almost nothing —
    // the pre-filter semantics are what fills k
    val postFiltered = IvfIndex.search(spark, dir, q, 10, nProbe = 8)
      .select($"id").as[Long].collect().filter(allowedIds)
    assert(postFiltered.length < 10)
    // misuse: a multi-column allowed frame fails loudly
    val err = intercept[IllegalArgumentException] {
      IvfIndex.searchFiltered(spark, dir, q, 5,
        Seq((1L, "x")).toDF("id", "extra"))
    }
    assert(err.getMessage.contains("[GRAFT]"))
  }

  test("searchBatch with allowed set: per-query parity with " +
      "searchFiltered, only allowed ids returned") {
    val dir = Files.createTempDirectory("ivf-filt-batch").toString
    IvfIndex.build(emb, dir, nCentroids = 8, Metric.Cosine)
    val allowedIds = all.map(_._1).filter(_ % 3 == 0).toSet
    val allowed = allowedIds.toSeq.toDF("vec_id")
    val queries = all.take(5).map { case (id, v) => (id, v) }
      .toSeq.toDF("qid", "qvalues")
    val batch = IvfIndex.searchBatch(spark, dir, queries, k = 5,
        nProbe = 8, allowed = Some(allowed),
        allowedRows = allowedIds.size.toLong)
      .select($"qid", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(batch.values.forall(ids => ids.size == 5 &&
      ids.forall(allowedIds)))
    all.take(5).foreach { case (qid, v) =>
      val single = IvfIndex.searchFiltered(spark, dir, v, 5, allowed,
        nProbe = 8).select($"id").as[Long].collect().toSet
      assert(batch(qid) === single, s"qid $qid")
    }
  }

  test("MMR rerank: lambda=1 is the plain distance order; lower lambda " +
      "defers an exact duplicate of an already-selected hit") {
    val q = Array(1f, 0f, 0f)
    val rows = Seq(
      (1L, Seq(0.99f, 0.14f, 0f)),
      (2L, Seq(0.99f, 0.14f, 0f)), // exact dup of id 1
      (3L, Seq(0.9f, 0f, 0.44f)))
    val pool = rows.toDF("id", "values")
      .select($"id", $"values",
        graft.functions.vfs_cosine($"values", typedLit(q)).as("distance"))
    def ids(lambda: Double) =
      Knn.mmrRerank(pool, k = 2, Metric.Cosine, lambda)
        .orderBy($"rank").select($"id").as[Long].collect().toSeq
    assert(ids(1.0) == Seq(1L, 2L))  // pure relevance: dup rides along
    assert(ids(0.3) == Seq(1L, 3L))  // diversity: dup deferred for 3
    // the pool contract is ENFORCED: an over-cap pool is rejected
    // instead of silently becoming a driver-side O(n²) collect
    val err = intercept[IllegalArgumentException](
      Knn.mmrRerank(pool, k = 2, Metric.Cosine, 0.5, maxPool = 2))
    assert(err.getMessage.contains("maxPool"))
  }

  test("quantized store search: fused int8 scoring == dequantize-then-score") {
    val dir = Files.createTempDirectory("qstore").toString
    val s = graft.store.VfsStore.create(spark, dir, "q", dim = 64,
      quantize = true)
    s.appendBatch(emb.limit(100).select($"values",
      concat(lit("v"), $"id").as("name"), array(lit("t")).as("tags")))
    val q = all.head._2
    val fused = Knn.search(s, q, 10, Metric.Cosine)
      .select($"id", $"distance").as[(Long, Double)].collect()
    // reference path: dense view scoring
    val dense = Knn.exact(s.read(), q, 10, Metric.Cosine)
      .select($"id", $"distance").as[(Long, Double)].collect()
    assert(fused.map(_._1).toSeq === dense.map(_._1).toSeq)
    fused.zip(dense).foreach { case ((_, df), (_, dd)) =>
      assert(df === dd) // bit-identical lane math
    }
    // hydration: values dequantized, mangling stripped
    val row = Knn.search(s, q, 1, Metric.Cosine).head()
    assert(row.getAs[String]("name").startsWith("v"))
    assert(!row.getSeq[String](row.fieldIndex("tags")).toSeq.contains("quantized"))
  }

  test("multiprobe (nAssign=2) closes similarityJoin's boundary blind spot") {
    // pairs of near-identical vectors dropped at random points of a
    // uniform corpus: single-assignment IVF misses every pair whose two
    // members land on opposite sides of a centroid boundary; double
    // assignment recovers a pair unless the two vectors share NONE of
    // their 2x2 nearest clusters
    val rnd = new scala.util.Random(23)
    val basePts = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    // 60 planted near-dup twins of the first 60 points
    val twins = (0 until 60).map(i => (1000L + i,
      basePts(i)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)))
    val corpus = (basePts ++ twins).toDF("id", "values")
    val wantPairs = (0 until 60).map(i => (i.toLong, 1000L + i)).toSet

    def recallAt(nAssign: Int): (Double, Long) = {
      val dir = Files.createTempDirectory(s"ivf_mp$nAssign").toString
      IvfIndex.build(corpus, dir, nCentroids = 24, Metric.Cosine,
        nAssign = nAssign)
      val got = IvfIndex.similarityJoin(spark, dir, tau = 0.02)
      val pairs = got.select($"a", $"b").as[(Long, Long)].collect().toSet
      val rows = spark.read.parquet(s"$dir/assignments").count()
      ((wantPairs & pairs).size.toDouble / wantPairs.size, rows)
    }
    val (r1, rows1) = recallAt(1)
    val (r2, rows2) = recallAt(2)
    assert(r2 >= 0.95, s"multiprobe recall = $r2 (single was $r1)")
    assert(r2 >= r1, s"multiprobe must not lose pairs: $r2 < $r1")
    // the price is bounded: exactly 2x storage, so <= ~4x join cost
    assert(rows2 === 2 * rows1, s"expected doubled storage: $rows1 -> $rows2")
    // multiprobe search must not return duplicate ids even when two
    // probed clusters both hold the same vector
    val dir2 = Files.createTempDirectory("ivf_mp_search").toString
    IvfIndex.build(corpus, dir2, nCentroids = 8, Metric.Cosine, nAssign = 2)
    val ids = IvfIndex.search(spark, dir2, basePts.head._2, 20, nProbe = 8)
      .select("id").as[Long].collect()
    assert(ids.distinct.length === ids.length, ids.mkString(","))
  }

  test("closure assignment (assignEps): replication bounded by the " +
      "epsilon ball, persisted in meta, honored by append") {
    val rnd = new scala.util.Random(31)
    val corpus = (0 until 500).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "values")
    def storedRows(nAssign: Int, eps: Double): (String, Long) = {
      val dir = Files.createTempDirectory(s"ivf_eps").toString
      IvfIndex.build(corpus, dir, nCentroids = 12, Metric.Cosine,
        nAssign = nAssign, assignEps = eps)
      (dir, spark.read.parquet(s"$dir/assignments").count())
    }
    val (_, uncond) = storedRows(3, -1.0)
    val (tightDir, tight) = storedRows(3, 0.0)
    val (_, mid) = storedRows(3, 0.5)
    val (_, huge) = storedRows(3, 1e9)
    assert(uncond === 3 * 500L)
    // eps=0 replicates only exact ties — effectively single-assignment
    // on continuous data
    assert(tight === 500L, s"eps=0 should not replicate: $tight")
    // a finite ball sits strictly between; an enormous ball IS the
    // unconditional path
    assert(tight < mid && mid < uncond, s"$tight < $mid < $uncond")
    assert(huge === uncond)
    // the eps is persisted (milli) and append honors the same rule:
    // appending the corpus to the eps=0 index must not replicate
    import org.apache.spark.sql.functions.{col, lit}
    val appended = corpus.filter(col("id") < 50)
      .select((col("id") + 10000L).as("id"), col("values"))
    IvfIndex.append(appended, tightDir)
    val after = spark.read.parquet(s"$tightDir/assignments").count()
    assert(after === 550L, s"append must honor closure eps: $after")
    // search still dedups ids and finds the appended vectors
    val probe = corpus.head().getSeq[Float](1).toArray
    val ids = IvfIndex.search(spark, tightDir, probe, 20, nProbe = 12)
      .select("id").as[Long].collect()
    assert(ids.distinct.length === ids.length)
  }

  test("IVF build tolerates NaN vectors: deterministic cluster, no -1 dir") {
    // a NaN lane makes every centroid distance NaN, which compares
    // false against everything — the argmin must still pick a REAL
    // cluster (lowest id), not write a phantom cluster=-1 partition or
    // crash the multiprobe path with used(-1)
    val rnd = new scala.util.Random(31)
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()))) :+
      (999L, Array(Float.NaN, 1f, 1f, 1f, 1f, 1f, 1f, 1f))
    // nCentroids > nProbe: if the NaN row poisoned a centroid sum in
    // training, ALL points would collapse into that cluster, the other
    // clusters would be empty-but-finite, and a PARTIAL probe would
    // pick only empty clusters and return zero rows — the degenerate
    // mode the training-side finite filter prevents
    for (nAssign <- Seq(1, 2)) {
      val dir = Files.createTempDirectory(s"ivf_nan$nAssign").toString
      IvfIndex.build(rows.toDF("id", "values"), dir, nCentroids = 8,
        Metric.Euclidean, nAssign = nAssign)
      val assigned = spark.read.parquet(s"$dir/assignments")
      assert(assigned.filter($"cluster" < 0).count() === 0L)
      assert(assigned.filter($"id" === 999L).count() === nAssign.toLong)
      // centroids stayed finite and spread: no one-giant-cluster collapse
      assert(assigned.select("cluster").distinct().count() > 1L,
        "index collapsed into a single cluster")
      // a PARTIAL probe (4 of 8) still returns k real rows
      assert(IvfIndex.search(spark, dir, Array.fill(8)(0.5f), 5,
        nProbe = 4).count() === 5L)
    }
  }

  test("ragged vector in the assignment pass fails the build loudly") {
    // a wrong-dimension vector that ESCAPES the bounded training
    // sample must not be silently indexed with a truncated distance;
    // append exercises the same assignRows kernel directly
    val dir = Files.createTempDirectory("ivf_ragged").toString
    val rnd = new scala.util.Random(7)
    IvfIndex.build((0 until 40).map(i => (i.toLong,
      Array.fill(8)(rnd.nextFloat()))).toDF("id", "values"), dir,
      nCentroids = 4, Metric.Euclidean)
    val e = intercept[Exception] {
      IvfIndex.append(Seq((500L, Array(1f, 2f))).toDF("id", "values"), dir)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("dimension mismatch")),
      chain(e).mkString(" | "))
  }

  test("IVF similarityJoin finds within-cluster near pairs") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextFloat())
    val rows = ((1L, base) :: (2L, base.map(_ + 0.001f)) ::
      List.tabulate(60)(i => (10L + i, Array.fill(64)(rnd.nextFloat() - 0.5f))))
      .toDF("id", "values")
    val dir = Files.createTempDirectory("simjoin").toString
    IvfIndex.build(rows, dir, nCentroids = 4, Metric.Cosine)
    val pairs = IvfIndex.similarityJoin(spark, dir, tau = 0.05)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("IVF append assigns new vectors to existing centroids, searchable") {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    def near(c: Array[Float]) = c.map(x => x + rnd.nextFloat() * 0.05f)
    val initial = (0 until 200).map(i => (i.toLong, near(centers(i % 8))))
    val dir = Files.createTempDirectory("ivf_append").toString
    IvfIndex.build(initial.toDF("id", "values"), dir, nCentroids = 8,
      Metric.Cosine)
    // append rows clustered around the SAME structure, new ids
    val extra = (1000 until 1100).map(i => (i.toLong, near(centers(i % 8))))
    IvfIndex.append(extra.toDF("id", "values"), dir)
    // an appended vector's own near-copy must come back as its neighbor
    val (qid, qv) = extra.head
    val got = IvfIndex.search(spark, dir, qv, 3, nProbe = 2)
      .select("id").as[Long].collect().toSet
    assert(got.contains(qid), s"appended id $qid not found in $got")
    // appended rows landed inside the existing cluster layout (no new
    // top-level dirs beyond the built cluster= partitions)
    val dirs = new java.io.File(s"$dir/assignments").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.forall(_.startsWith("cluster=")), dirs.mkString(","))
    val total = spark.read.parquet(s"$dir/assignments").count()
    assert(total === 300L)
    // duplicate ids within a batch collapse to ONE entry (documented
    // contract) — not one entry per duplicate
    IvfIndex.append(Seq((5000L, near(centers(0))), (5000L, near(centers(1))))
      .toDF("id", "values"), dir)
    assert(spark.read.parquet(s"$dir/assignments")
      .filter($"id" === 5000L).count() === 1L)
  }

  test("IVF compact merges append files; search results unchanged") {
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextFloat() * 2 - 1))
    def near(c: Array[Float]) = c.map(x => x + rnd.nextFloat() * 0.05f)
    val dir = Files.createTempDirectory("ivf_compact").toString
    IvfIndex.build(
      (0 until 80).map(i => (i.toLong, near(centers(i % 4))))
        .toDF("id", "values"), dir, nCentroids = 4, Metric.Cosine)
    (0 until 3).foreach { b =>
      IvfIndex.append((0 until 20).map(i =>
        ((1000 + b * 100 + i).toLong, near(centers(i % 4))))
        .toDF("id", "values"), dir)
    }
    def files() = new java.io.File(s"$dir/assignments").listFiles()
      .filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    def top(): Seq[Long] = IvfIndex.search(spark, dir, centers(0), 10,
      nProbe = 4).select("id").as[Long].collect().toSeq
    val before = (files(), top())
    IvfIndex.compactAssignments(spark, dir)
    val after = (files(), top())
    assert(after._1 < before._1,
      s"expected fewer files, ${before._1} -> ${after._1}")
    assert(after._2 === before._2, "search results changed by compact")
    assert(spark.read.parquet(s"$dir/assignments").count() === 140L)
  }

  test("IVF rebalance splits oversized clusters; full probe results " +
      "are bit-identical before and after") {
    // pathological skew: ~90% of vectors jammed into one tight blob
    // around a common direction, 10% spread out — k-means lands the
    // blob in one giant cluster
    val dim = 8
    val rows = (0L until 2000L).map { i =>
      val v = new Array[Float](dim)
      if (i < 1800L) { // the blob
        v(0) = 1f
        v(1) = (i % 97).toFloat / 9700f // tiny jitter
      } else {
        v((i % (dim - 2)).toInt + 2) = 1f
        v(0) = (i % 7).toFloat / 7f
      }
      (i, v.toSeq)
    }
    val df = rows.toDF("id", "values")
    val idx = Files.createTempDirectory("ivf-rebal").toString
    IvfIndex.build(df, idx, nCentroids = 8, Metric.Cosine, seed = 7L)
    def clusterSizes: Map[Int, Long] =
      spark.read.parquet(s"$idx/assignments")
        .groupBy($"cluster").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val before = clusterSizes
    assert(before.values.max > (0.5 * 2000).toLong,
      s"expected a skewed build, got $before")
    val q = rows(42)._2.toArray
    def fullProbe(n: Int) =
      IvfIndex.search(spark, idx, q, 25, nProbe = n)
        .select($"id", $"distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exactBefore = fullProbe(before.size)
    val created = IvfIndex.rebalance(spark, idx,
      maxClusterFraction = 0.25, seed = 11L)
    assert(created >= 2, s"expected splits, got $created")
    val after = clusterSizes
    // vector set preserved, skew reduced
    assert(after.values.sum === 2000L)
    assert(after.values.max < before.values.max)
    // meta/centroids consistent: count matches, full probe bit-equal
    assert(after.size ===
      spark.read.parquet(s"$idx/centroids").count().toInt)
    val exactAfter = fullProbe(after.size)
    assert(exactAfter === exactBefore)
    // an already-balanced index is a no-op
    assert(IvfIndex.rebalance(spark, idx, maxClusterFraction = 0.9) === 0)

    // a MULTIPROBE index keeps its nAssign coverage through the split:
    // each split-cluster copy lands in its 2 nearest subclusters, and
    // the dedup'd full probe still returns the exact result set
    val idx2 = Files.createTempDirectory("ivf-rebal2").toString
    IvfIndex.build(df, idx2, nCentroids = 8, Metric.Cosine, seed = 7L,
      nAssign = 2)
    val exactB = IvfIndex.search(spark, idx2, q, 25, nProbe = 8)
      .select($"id").as[Long].collect().toSeq
    assert(IvfIndex.rebalance(spark, idx2,
      maxClusterFraction = 0.25, seed = 11L) >= 2)
    val nClusters2 =
      spark.read.parquet(s"$idx2/centroids").count().toInt
    val exactA = IvfIndex.search(spark, idx2, q, 25, nProbe = nClusters2)
      .select($"id").as[Long].collect().toSeq
    assert(exactA === exactB)
    // distinct ids despite multiprobe copies
    assert(exactA.distinct.length === exactA.length)
  }

  test("IVF probe tolerates empty k-means clusters") {
    // duplicate-heavy corpus: far fewer distinct points than centroids
    // guarantees some clusters get no assignments
    val rows = (0 until 100).map(i => (i.toLong,
      Array.fill(8)((i % 3).toFloat + 1f))).toDF("id", "values")
    val dir = Files.createTempDirectory("ivf-empty").toString
    IvfIndex.build(rows, dir, nCentroids = 20, Metric.Euclidean)
    val got = IvfIndex.search(spark, dir, Array.fill(8)(1.0f), 5,
      nProbe = 20) // probe everything incl. empty clusters
    assert(got.count() === 5L)
  }

  test("VectorMean aggregate equals per-lane scala mean; SQL-registered") {
    import graft.operators.VectorMean.vecMean
    val rows = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 6.0f)),
      (1, Array(10.0f, 0.0f))
    ).toDF("g", "v")
    val got = rows.groupBy($"g").agg(vecMean($"v").as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(got(0) === Seq(2.0, 4.0))
    assert(got(1) === Seq(10.0, 0.0))
    // null vectors are skipped; an all-null group is NULL
    val withNull = Seq((0, Some(Array(4.0f))), (0, None), (1, None))
      .toDF("g", "v")
    val n = withNull.groupBy($"g").agg(vecMean($"v").as("m"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1).toSeq)).toMap
    assert(n(0) === Seq(4.0))
    assert(n(1) === null)
    // dimension mismatch inside a group -> the engine's dim guard
    val bad = Seq((0, Array(1.0f)), (0, Array(1.0f, 2.0f))).toDF("g", "v")
    val e = intercept[org.apache.spark.SparkException] {
      bad.groupBy($"g").agg(vecMean($"v")).collect()
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      e.getCause.getMessage.contains("dimension mismatch"))
    // SQL registration; a non-float array is an ANALYSIS error via
    // inputTypes (before this guard, getFloat on double slots read
    // garbage bytes silently)
    graft.functions.registerAll(spark)
    rows.createOrReplaceTempView("vm_rows")
    val viaSql = spark.sql(
      "SELECT g, vfs_vec_mean(v) AS m FROM vm_rows GROUP BY g")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(viaSql(0) === Seq(2.0, 4.0))
    val typeErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("""SELECT vfs_vec_mean(v) FROM VALUES (array(1.0D, 3.0D)),
        |  (array(3.0D, 5.0D)) AS t(v)""".stripMargin).collect()
    }
    assert(typeErr.getMessage.contains("ARRAY<FLOAT>"))
    // a null LANE is rejected, not read as zero
    val nullLane = Seq((0, Seq(Some(1.0f), None))).toDF("g", "v")
    val err = intercept[org.apache.spark.SparkException] {
      nullLane.groupBy($"g").agg(vecMean($"v")).collect()
    }
    assert(err.getMessage.contains("null element") ||
      err.getCause.getMessage.contains("null element"))
  }

  test("TopK agg and exact agree on NaN handling (NaN last, fills underfull k)") {
    val rows = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(0f, 0f)) // zero-norm -> NaN cosine distance
    ).toDF("id", "values")
    val q = Array(1f, 0f)
    val exact = Knn.exact(rows, q, 3, Metric.Cosine)
      .select("id").as[Long].collect().toSeq
    val queries = Seq((0L, q)).toDF("qid", "qvalues")
    val batch = Knn.exactBatch(rows, queries, 3, Metric.Cosine)
      .orderBy($"rank").select("id").as[Long].collect().toSeq
    assert(exact === Seq(1L, 2L, 3L)) // NaN row last, still returned
    assert(batch === exact)
  }

  test("search validates dimension at the API boundary") {
    val dir = Files.createTempDirectory("store").toString
    val s = graft.store.VfsStore.create(spark, dir, "knn", dim = 4)
    s.insert(Array(1f, 0f, 0f, 0f), "a", Nil)
    intercept[graft.store.InvalidVectorException] {
      Knn.search(s, Array(1f, 0f), 5)
    }
  }

  test("known-schema cluster reads equal inferred reads after build, " +
      "append, deleteIds, rebalance and compactAssignments") {
    val dim = 8
    // a skewed corpus (a tight blob + spread rows) so rebalance splits
    def rows(from: Long, until: Long) = (from until until).map { i =>
      val v = new Array[Float](dim)
      if (i % 10 < 8) { v(0) = 1f; v(1) = (i % 97).toFloat / 9700f }
      else { v((i % (dim - 2)).toInt + 2) = 1f; v(0) = (i % 7).toFloat / 7f }
      (i, v.toSeq)
    }.toDF("id", "values")
    val idx = Files.createTempDirectory("ivf-schema").toString
    def check(stage: String): Unit = {
      val dirs = new java.io.File(s"$idx/assignments").listFiles()
        .filter(_.getName.matches("cluster=-?\\d+")).map(_.getPath).toSeq
      assert(dirs.nonEmpty, stage)
      val known = spark.read.schema(IvfIndex.AssignmentSchema).parquet(dirs: _*)
      val inferred = spark.read.parquet(dirs: _*)
      assert(known.schema === inferred.schema, stage)
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id").collect().toSeq
      assert(sorted(known) === sorted(inferred), stage)
    }
    IvfIndex.build(rows(0L, 800L), idx, nCentroids = 6, Metric.Cosine, seed = 7L)
    check("build")
    IvfIndex.append(rows(800L, 1000L), idx)
    check("append")
    assert(IvfIndex.deleteIds(spark, idx, Seq(3L, 804L, 999L)) === 3L)
    check("deleteIds")
    assert(IvfIndex.rebalance(spark, idx, maxClusterFraction = 0.25,
      seed = 11L) > 0)
    check("rebalance")
    IvfIndex.compactAssignments(spark, idx)
    check("compactAssignments")
  }
}
