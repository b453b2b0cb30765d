package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** Approximate k-NN as a *persisted, reusable* index artifact — the
  * deliberate replacement for the reference's per-query HNSW rebuild
  * (vfs/src/vfs/rank.rs:204-239 rebuilds the whole graph on every
  * search, which is why its approximate path scales worse than exact —
  * SURVEY §6 crossover). Design:
  *
  *   - build: k-means centroids (MLlib, fixed seed ⇒ deterministic like
  *     the reference's seeded SmallRng, ann.rs:257); every vector is
  *     assigned to its nearest centroid and the table is written
  *     partitioned by `cluster` — at 100 TB each cluster is a prunable
  *     parquet partition.
  *   - probe: score the query against the (tiny, driver-side) centroid
  *     table, pick `nProbe` clusters, and run exact k-NN over just
  *     those partitions — the cluster filter prunes at the file level.
  *
  * For cosine, vectors are L2-normalized before clustering (spherical
  * k-means): euclidean NN on the unit sphere = cosine NN.
  */
object IvfIndex {
  /** `assignEpsMilli` < 0 = unconditional nAssign-nearest replication;
    * >= 0 = closure assignment — a secondary copy is stored only when
    * its squared centroid distance is within (1 + eps) of the nearest
    * (eps = assignEpsMilli/1000). */
  case class Meta(nCentroids: Int, metric: String, dim: Int, seed: Long,
      nAssign: Int = 1, generation: Int = 1, assignEpsMilli: Long = -1L)

  /** The shared lifecycle: a sentinel guards a rebuild's swap of both
    * dirs, and a parked `assignments`/`centroids` (a crash inside
    * [[compactAssignments]] or [[rebalance]]'s swap) makes readers
    * refuse and writers heal first. */
  private val Artifact = ArtifactIo.VectorIndex("ivf.json", "IVF index",
    "IvfIndex.build", Seq("assignments", "centroids"))

  private def metaFields(m: Meta): Seq[(String, Any)] = Seq(
    "nCentroids" -> m.nCentroids, "metric" -> m.metric, "dim" -> m.dim,
    "seed" -> m.seed, "nAssign" -> m.nAssign, "generation" -> m.generation,
    "assignEpsMilli" -> m.assignEpsMilli)

  private def writeMeta(path: String, m: Meta): Unit =
    Artifact.writeMeta(path, metaFields(m): _*)

  private def decodeMeta(m: ArtifactIo.Sidecar): Meta =
    Meta(m.int("nCentroids"), m.str("metric"), m.int("dim"), m.long("seed"),
      m.intOr("nAssign", 1), m.intOr("generation", 1),
      m.longOr("assignEpsMilli", -1L))

  private[operators] def readMeta(path: String): Meta =
    decodeMeta(Artifact.readMeta(path))

  /** Writer entry (single-writer contract): heal a parked dir, then
    * the guarded read. */
  private def metaForWrite(path: String): Meta = {
    Artifact.healParked(path)
    readMeta(path)
  }

  /** The closure-assignment eps an index was built with (< 0 =
    * unconditional replication), decoded from the persisted milli. */
  private[operators] def metaEps(meta: Meta): Double =
    if (meta.assignEpsMilli < 0) -1.0 else meta.assignEpsMilli / 1000.0

  /** splitmix64 finalizer — the deterministic per-row "random" priority
    * used for sampling and init (the U2 RNG-determinism hook: no RNG
    * stream, so the draw is independent of row order and task retries
    * within a partition). */
  private def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** One-pass, count-free, bounded training sample: per partition keep
    * the `cap/parts` rows with the smallest deterministic id-hash
    * priority (bounded max-heap), union, sort by hash, truncate to
    * `cap`. Shared by IVF and PQ training. Returns hash-ordered
    * vectors (a uniform deterministic draw given the partition
    * layout); throws on an empty corpus. */
  private[operators] def sampleVectors(prepared: DataFrame, cap: Long,
      seed: Long, minPerPart: Int, normalize: Boolean): Array[Array[Float]] = {
    import prepared.sparkSession.implicits._
    val ds = prepared.as[(Long, Array[Float])]
    val parts = math.max(1, ds.rdd.getNumPartitions)
    val perPart = math.max(minPerPart, math.max(1L, cap / parts).toInt)
    val sampled = ds.mapPartitions { it =>
      // bounded MAX-heap on the hash: evict the largest, keep the
      // perPart smallest seen in this partition
      val pq = new scala.collection.mutable.PriorityQueue[
        (Long, Array[Float])]()(Ordering.by(_._1))
      it.foreach { case (id, v0) =>
        val h = mix64(id ^ seed)
        if (pq.size < perPart) {
          pq.enqueue((h, if (normalize) l2normalize(v0) else v0))
        } else if (h < pq.head._1) {
          pq.dequeue()
          pq.enqueue((h, if (normalize) l2normalize(v0) else v0))
        }
      }
      pq.iterator
    }.collect()
    if (sampled.isEmpty)
      throw new graft.store.InvalidVectorException(
        "[GRAFT] cannot build an index over an empty corpus")
    sampled.sortBy(_._1)
      .take(math.min(cap, Int.MaxValue.toLong).toInt).map(_._2)
  }

  private[operators] def isFiniteVec(v: Array[Float]): Boolean = {
    var i = 0
    var ok = true
    while (ok && i < v.length) {
      if (!java.lang.Float.isFinite(v(i))) ok = false
      i += 1
    }
    ok
  }

  /** Existing `cluster=<c>` dirs among `clusters` (empty k-means
    * clusters have none; O(|clusters|) paths probed) — and the recovery
    * point for a crashed rename-swap ([[deleteIds]] / IvfPq.refresh's
    * scrub): a crash between "live → _old" and "stage → live" leaves
    * no live dir, only `cluster=<c>_old` holding the data. Silently
    * skipping the missing dir would drop that entire cluster from
    * every probe with no error, so when a requested live dir is absent
    * but its `_old` twin exists, the `_old` dir is renamed back BEFORE
    * filtering (atomic rename — a racing reader's heal attempt fails
    * the rename and still sees the healed dir). A leftover `_old`
    * NEXT TO a live dir is post-swap garbage and is left alone. */
  private[operators] def existingClusterDirs(spark: SparkSession,
      base: String, clusters: Seq[Int]): Seq[String] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    clusters.map(c => s"$base/cluster=$c").filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hadoopConf)
      if (fs.exists(hp)) true
      else {
        val oldP = new org.apache.hadoop.fs.Path(p + "_old")
        (fs.exists(oldP) && fs.rename(oldP, hp)) || fs.exists(hp)
      }
    }
  }

  /** The existing dirs among `clusters` under `base` as one frame
    * (basePath keeps the INT `cluster` partition column); None when no
    * listed dir exists. */
  private[operators] def readClusters(spark: SparkSession, base: String,
      clusters: Seq[Int]): Option[DataFrame] = {
    val dirs = existingClusterDirs(spark, base, clusters)
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", base).parquet(dirs: _*))
  }

  /** WRITER-side listing of the integer `cluster=<c>` dirs under `base`
    * (single-writer contract). Swap debris is settled first: a lone
    * `cluster=<c>_old` (a crash between a per-cluster swap's renames)
    * is healed back, and an `_old`/`_stage` beside its live twin is
    * dropped. Scans of the listed dirs therefore infer `cluster` as
    * INT — a full-directory read infers a STRING once any `0_old`
    * name is present. */
  private[operators] def clusterDirsForWrite(base: String): Seq[Int] = {
    val fs = ArtifactIo.fsOf(base)
    val dir = new org.apache.hadoop.fs.Path(base)
    val Live = "cluster=(-?\\d+)".r
    val Debris = "(cluster=-?\\d+)_(old|stage)".r
    def names() =
      if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath.getName).toSet
      else Set.empty[String]
    val before = names()
    before.foreach {
      case Debris(live, "old") if !before.contains(live) =>
        ArtifactIo.healParked(fs, base, live, "IVF cluster")
      case n @ Debris(_, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, n), true)
      case _ =>
    }
    names().toSeq.collect { case Live(c) => c.toInt }.sorted
  }

  /** The schema every `assignments/cluster=<c>` file carries: [[build]],
    * [[append]] and [[rebalance]] write (id, values) partitioned by
    * cluster, and [[deleteIds]] / [[compactAssignments]] rewrite the
    * same two columns. Probes read with it, so reading the probed dirs
    * launches no footer-inference job. */
  private[graft] val AssignmentSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("values", ArrayType(FloatType))))

  /** The centroid table's schema, written by [[build]] and
    * [[rebalance]] alone. */
  private val CentroidSchema: StructType = StructType(Seq(
    StructField("cluster", IntegerType),
    StructField("centroid", ArrayType(FloatType))))

  /** Centroid table → driver memory, BYTE-GATED. The whole IVF design
    * leans on the centroid table being tiny relative to the corpus
    * (class doc: "tiny, driver-side"), and every probe/append/
    * rebalance scores against this collected copy — but "tiny" was
    * previously unchecked: an index built with an absurd nCentroids
    * (say 10M × dim 1536 ≈ 60 GB) would OOM the DRIVER here, the one
    * process whose death takes the whole job. The gate prices
    * nCentroids × dim from the metadata (two numbers, no scan — the
    * same dim-aware estimate as [[BroadcastGate]], whose Catalyst
    * size statistics under-count array columns 1000×) against the
    * collect budget BEFORE collecting, and fails loudly naming the
    * escape hatches. 100 TB stance: at the documented √N sizing
    * (SURVEY §7.3) even a trillion-row corpus wants ~1M centroids ≈
    * dim 128 × 4 B × 1M = 512 MB — within one budget bump; an index
    * past the gate needs TWO-LEVEL ROUTING (a coarse quantizer over
    * the centroid table itself, so the driver holds √nCentroids) —
    * out of scope here, and silently OOMing instead of saying so is
    * the failure mode this gate removes. */
  private[operators] def loadCentroids(spark: SparkSession, path: String,
      m: Meta): Array[(Int, Array[Float])] = {
    BroadcastGate.requireCollectFits(m.nCentroids.toLong, m.dim,
      s"centroid table of IVF index at $path",
      "An index this wide needs two-level routing (a coarse " +
        "quantizer over the centroid table); rebuild with fewer " +
        "centroids.")
    spark.read.schema(CentroidSchema).parquet(s"$path/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
  }

  /** The LIVE assignments scan: only `cluster=<c>` directories whose id
    * appears in the centroid table. A crashed [[rebalance]] deliberately
    * leaves orphaned old-cluster dirs behind (cleaned by the NEXT
    * rebalance); routing ignores them because probes list clusters from
    * the centroid table — every full-directory reader must do the same,
    * or a post-crash corpus is double-counted (the oversized cluster's
    * vectors exist in both the old dir and its split dirs). Keeps the
    * `cluster` partition column via basePath. */
  private[graft] def liveAssignments(spark: SparkSession,
      path: String): DataFrame = {
    val existing = existingClusterDirs(spark, s"$path/assignments",
      clusterIds(spark, path))
    spark.read.option("basePath", s"$path/assignments")
      .parquet(existing: _*)
  }

  /** The routed cluster ids — an UNGATED read of the centroid table's
    * id column only (no vectors reach the driver). */
  private def clusterIds(spark: SparkSession, path: String): Seq[Int] =
    spark.read.schema(CentroidSchema).parquet(s"$path/centroids")
      .select(col("cluster")).collect().map(_.getInt(0)).sorted.toIndexedSeq

  /** Stored bytes per live cluster dir — one content summary each, no
    * Spark job. Bytes are a faithful row proxy: every row of one index
    * stores the same dim (plus a few-byte id). */
  private def clusterBytes(spark: SparkSession, path: String): Seq[Long] = {
    val fs = ArtifactIo.fsOf(path)
    existingClusterDirs(spark, s"$path/assignments", clusterIds(spark, path))
      .map(p => fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength)
  }

  /** In-place-free L2 normalization on the JVM side. Normalization as
    * a Catalyst higher-order function (`transform(v, x -> x / norm)`)
    * is interpreted per ELEMENT with the norm sub-expression inlined
    * into the lambda — ~4k boxed lambda invocations per 64-dim row,
    * measured 50 s PER PASS over a 500k corpus; this loop is
    * millisecond-scale. Zero vectors pass through unchanged (matching
    * the query-side guard in [[searchHydrated]]). */
  private[operators] def l2normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    if (s == 0.0) v
    else {
      val n = math.sqrt(s)
      val out = new Array[Float](v.length)
      i = 0
      while (i < v.length) { out(i) = (v(i) / n).toFloat; i += 1 }
      out
    }
  }

  /** Per-row dimension guard of the assign/encode kernels. */
  private[operators] def requireDim(id: Long, v: Array[Float],
      dim: Int): Unit =
    if (v.length != dim)
      throw new graft.store.InvalidVectorException(
        s"[GRAFT] vector dimension mismatch at id=$id: expected $dim, " +
          s"got ${v.length}")

  /** THE nearest-centroid rule, shared by assignment ([[assignRows]])
    * and probe selection ([[nearestClusters]]): squared distance in
    * double, candidates ascending; ties break to the lower position —
    * the lower cluster id, since `cs` is sorted by id — and an all-NaN
    * row (NaN compares false against everything; `best == -1 ||`)
    * lands on the lowest ids instead of a phantom cluster -1. A finite
    * `eps` >= 0 stops after the first pick once the next candidate is
    * outside (1 + eps) × the nearest distance (NaN stops too). Writes
    * up to `n` positions into `out` and returns how many; `ds`/`used`
    * are caller scratch of `cs.length` (per-row allocation of
    * |centroids|-sized arrays is GBs of churn at 500k rows). */
  private def nearest(cs: Array[(Int, Array[Float])], v: Array[Float],
      n: Int, eps: Double, ds: Array[Double], used: Array[Boolean],
      out: Array[Int]): Int = {
    var c = 0
    while (c < cs.length) {
      val cent = cs(c)._2
      var d = 0.0; var i = 0
      while (i < v.length) {
        val diff = v(i).toDouble - cent(i); d += diff * diff; i += 1
      }
      ds(c) = d; used(c) = false; c += 1
    }
    var s = 0
    var stop = false
    while (s < n && !stop) {
      var best = -1; var bestD = Double.MaxValue
      var j = 0
      while (j < cs.length) {
        if (!used(j) && (best == -1 || ds(j) < bestD)) {
          bestD = ds(j); best = j
        }
        j += 1
      }
      if (s > 0 && eps >= 0.0 && !(ds(best) <= (1.0 + eps) * ds(out(0))))
        stop = true
      else { used(best) = true; out(s) = best; s += 1 }
    }
    s
  }

  /** Driver-side probe selection: the `nProbe` nearest clusters to `q`
    * by [[nearest]] — the rule [[assignRows]] applies per query row in
    * the batch probes, so single-query and batch searches probe the
    * same clusters. Ascending distance order. */
  private[operators] def nearestClusters(cs: Array[(Int, Array[Float])],
      q: Array[Float], nProbe: Int): Seq[Int] = {
    val out = new Array[Int](math.max(0, math.min(nProbe, cs.length)))
    val s = nearest(cs, q, out.length, -1.0, new Array[Double](cs.length),
      new Array[Boolean](cs.length), out)
    out.take(s).map(cs(_)._1).toSeq
  }

  /** Broadcast-argmin cluster assignment: one tight partition loop per
    * row against the (tiny) centroid array — the same shape MLlib's
    * transform uses. A relational phrasing (cross join + min aggregate)
    * materializes |rows| × nCentroids joined rows first — measured
    * 18-27× slower for a 10k-row batch. With `nAssign` > 1 each row is
    * emitted once per its nAssign nearest centroids (multiprobe /
    * SOAR-style double assignment — closes the centroid-boundary blind
    * spot of single-assignment similarity joins at nAssign× storage).
    * A finite `eps` >= 0 makes replication CONDITIONAL (SPANN-style
    * closure assignment): a secondary copy is stored only while its
    * squared centroid distance is within (1 + eps) × the nearest —
    * boundary vectors (the ones pruned probes actually miss) replicate,
    * interior vectors don't, so storage grows with boundary density
    * instead of a flat nAssign×. eps < 0 (the default) = unconditional.
    * Selection is [[nearest]]. `normalize` = spherical (cosine) mode:
    * rows are L2-normalized in the kernel and STORED normalized.
    * Output: (id, values, cluster). */
  private[operators] def assignRows(prepared: DataFrame,
      centArr: Array[(Int, Array[Float])], nAssign: Int,
      normalize: Boolean, eps: Double = -1.0): DataFrame = {
    val spark = prepared.sparkSession
    val bc = spark.sparkContext.broadcast(centArr)
    import spark.implicits._
    prepared.as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        val dim = cs(0)._2.length
        val n = math.min(nAssign, cs.length)
        val ds = new Array[Double](cs.length)
        val used = new Array[Boolean](cs.length)
        val picks = new Array[Int](n)
        it.flatMap { case (id, v0) =>
          // ragged rows must fail HERE, not later: a wrong-dimension
          // vector that escaped the bounded training sample would
          // otherwise be indexed with a truncated distance (shorter) or
          // crash the argmin loop (longer), and then break every future
          // search of its cluster at query time
          requireDim(id, v0, dim)
          val v = if (normalize) l2normalize(v0) else v0
          // built EAGERLY: the next row reuses the scratch buffers
          val s = nearest(cs, v, n, eps, ds, used, picks)
          Array.tabulate(s)(i => (id, v, cs(picks(i))._1))
        }
      }
      .toDF("id", "values", "cluster")
  }

  /** Build the index from (idCol, vecCol) rows and persist at `path`:
    * `centroids/` (cluster INT, centroid ARRAY<FLOAT>),
    * `assignments/cluster=<c>/` (id, values), `ivf.json`.
    *
    * Scale design — exactly TWO passes over the corpus, each a single
    * narrow job, regardless of corpus size:
    *
    *   1. SAMPLE: one mapPartitions pass keeps the `trainCap` rows with
    *      the smallest deterministic id-hash priority (a bounded heap
    *      per partition — no `count()` pre-pass, no RNG stream). The
    *      collected sample is ≤ trainCap × dim floats (25 MB at the
    *      defaults), driver-safe by construction.
    *   2. TRAIN driver-local: Lloyd iterations over the in-memory
    *      sample on all driver cores. Hand-rolled rather than MLlib
    *      KMeans: centroid quality converges on a bounded sample long
    *      before trainCap, and the per-iteration Spark job launches +
    *      the netlib-java BLAS fallback dominated build time (measured
    *      ~6 s for a 2k corpus; sub-second here). Init is the
    *      nCentroids smallest-hash sample rows (the deterministic
    *      analog of random init — the standard IVF trade, cf. faiss).
    *   3. ASSIGN: one broadcast-argmin pass over the full corpus
    *      ([[assignRows]]), written partitioned by cluster.
    *
    * `nAssign` > 1 writes each vector to its nAssign nearest clusters
    * (multiprobe storage — see [[assignRows]] and [[similarityJoin]]);
    * `assignEps` >= 0 bounds that replication to the boundary (closure
    * assignment — a secondary copy only when its squared centroid
    * distance is within (1 + assignEps) of the nearest), persisted in
    * the meta so append/rebalance honor the same rule.
    * Deterministic given the input's partition layout (the sample is a
    * per-partition top-m; same files + same read ⇒ same index). */
  def build(base: DataFrame, path: String, nCentroids: Int,
      metric: Metric = Metric.Cosine, seed: Long = 42L,
      vecCol: String = "values", idCol: String = "id",
      trainCap: Long = 100000L, maxIter: Int = 10,
      nAssign: Int = 1, assignEps: Double = -1.0): Unit = {
    require(nCentroids > 0, "nCentroids must be positive")
    require(nAssign >= 1, "nAssign must be >= 1")
    val spark = base.sparkSession
    // spherical k-means for cosine: vectors are L2-normalized INSIDE
    // the sample/assign kernels ([[l2normalize]] — not as a Catalyst
    // HOF, see its scaladoc) and stored normalized; euclidean NN on
    // the unit sphere = cosine NN. The scan itself is a codegen'd cast.
    val spherical = metric == Metric.Cosine
    val prepared = base.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("values"))
    // ---- pass 1: count-free bounded sample (per-partition top-m by
    // hash priority; the global trainCap smallest hashes are always a
    // subset of the union as long as m >= min(trainCap, needed)) ----
    val train = sampleVectors(prepared, trainCap, seed,
      minPerPart = nCentroids, normalize = spherical)
    val dim = train.head.length
    // ---- pass 2 (driver-local): Lloyd on the sample, all cores ----
    val centsD = lloyd(train, nCentroids, maxIter, seed)
    val centArr = centsD.zipWithIndex.map { case (c, i) =>
      (i, c.map(_.toFloat))
    }
    // a REBUILD over an existing index is a new generation: any PQ /
    // IVF-PQ artifact derived from the old clustering is stale and its
    // probes must refuse until refreshed/rebuilt (same stance as
    // [[rebalance]]); the shared lifecycle stages both dirs and swaps
    // them inside the sentinel window
    val gen = Artifact.readMetaRaw(path).fold(1)(decodeMeta(_).generation + 1)
    Artifact.rebuild(path) { target =>
      // ---- pass 3: assign every row (spread to all cores first — the
      // argmin costs |rows|·k·dim muladds; one 500k-row file measured
      // 100 s vs 12 s spread),
      // write partitioned by cluster. repartition by cluster BEFORE
      // partitionBy: otherwise every shuffle partition writes a sliver
      // into every cluster directory (partitions × clusters small
      // files — 22k files at 500k rows) ----
      assignRows(WorkCols.spread(prepared), centArr,
        math.min(nAssign, nCentroids), normalize = spherical, eps = assignEps)
        .repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(target("assignments"))
      spark.createDataFrame(centArr.toSeq).toDF("cluster", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(target("centroids"))
      metaFields(Meta(nCentroids, metric.name, dim, seed,
        math.min(nAssign, nCentroids), gen,
        if (assignEps < 0) -1L else math.round(assignEps * 1000.0)))
    }
  }

  /** Deterministic k-means++ init (seeded D²-sampling) over a bounded
    * prefix of the hash-ordered sample — the prefix IS a uniform
    * subsample, and the cap keeps the sequential O(|init|·k·dim) cost
    * flat in k (uniform-corpus recall regressed to 0.75 under naive
    * first-k init; ++ spreads centroids and restored it). A corpus
    * with fewer distinct vectors than nCentroids yields duplicate
    * centroids, whose clusters simply stay empty — assignment ties
    * break to the lowest cluster id. */
  private def kppInit(train: Array[Array[Float]], nCentroids: Int,
      seed: Long): Array[Array[Double]] = {
    val n = math.min(train.length, math.max(4 * nCentroids, 2048))
    val pts = train
    val rnd = new scala.util.Random(seed)
    val centers = new Array[Array[Double]](nCentroids)
    centers(0) = pts(0).map(_.toDouble)
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < nCentroids) {
      val prev = centers(c - 1)
      var total = 0.0
      var i = 0
      while (i < n) {
        val v = pts(i)
        var d = 0.0; var j = 0
        while (j < v.length) {
          val t = v(j).toDouble - prev(j); d += t * t; j += 1
        }
        if (d < minD(i)) minD(i) = d
        total += minD(i)
        i += 1
      }
      if (total <= 0.0) {
        // all remaining points coincide with a center: duplicate one
        centers(c) = pts(c % n).map(_.toDouble)
      } else {
        var r = rnd.nextDouble() * total
        var idx = 0
        while (idx < n - 1 && r > minD(idx)) { r -= minD(idx); idx += 1 }
        centers(c) = pts(idx).map(_.toDouble)
      }
      c += 1
    }
    centers
  }

  /** Driver-local Lloyd iterations, parallel over sample chunks on all
    * cores, seeded-deterministic init via [[kppInit]]. Empty clusters
    * keep their previous centroid. Early-exits when no centroid
    * moves. */
  private[operators] def lloyd(train0: Array[Array[Float]], nCentroids: Int,
      maxIter: Int, seed: Long): Array[Array[Double]] = {
    // non-finite vectors are EXCLUDED from training: one NaN lane
    // accumulated into a centroid sum poisons every later compare
    // (NaN < x is false), collapsing ALL points into that centroid and
    // freezing the loop (NaN > eps is also false) — the index would
    // degenerate to one giant cluster plus empty ones, and k-means++
    // would pick the NaN point as a center with probability ~1 (its
    // minD never shrinks). Such rows are still INDEXED —
    // [[assignRows]] sends them deterministically to the lowest
    // cluster id — they just don't steer centroids.
    val train = train0.filter(isFiniteVec)
    if (train.isEmpty)
      throw new graft.store.InvalidVectorException(
        "[GRAFT] training sample has no finite vectors")
    val n = train.length
    val dim = train.head.length
    var cents = kppInit(train, nCentroids, seed)
    val nThreads = math.max(1, Runtime.getRuntime.availableProcessors())
    val nChunks = math.min(n, nThreads)
    val chunkSize = (n + nChunks - 1) / nChunks
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      // argmin via  |v-c|^2 = |v|^2 + |c|^2 - 2 v·c : the |v|^2 term is
      // constant per row, so score = |c|^2 - 2 v·c (one fused dot loop)
      val cn2 = cents.map(c => { var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }; s })
      val sums = Array.fill(nChunks)(
        Array.ofDim[Double](nCentroids, dim))
      val counts = Array.fill(nChunks)(new Array[Long](nCentroids))
      // a worker failure (e.g. a ragged-dimension vector) must FAIL the
      // build, not silently zero that chunk's contribution — collect
      // and rethrow (plain Thread.join returns normally after an
      // uncaught throw)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val threads = (0 until nChunks).map { ci =>
        val t = new Thread(() => {
          try {
            val lo = ci * chunkSize
            val hi = math.min(n, lo + chunkSize)
            val s = sums(ci); val cnt = counts(ci)
            var p = lo
            while (p < hi) {
              val v = train(p)
              if (v.length != dim)
                throw new graft.store.InvalidVectorException(
                  s"[GRAFT] vector dimension mismatch in training sample:" +
                    s" expected $dim, got ${v.length}")
              var best = -1; var bestScore = Double.MaxValue
              var c = 0
              while (c < nCentroids) {
                val cent = cents(c)
                var dot = 0.0; var i = 0
                while (i < dim) { dot += v(i) * cent(i); i += 1 }
                val score = cn2(c) - 2.0 * dot
                if (best == -1 || score < bestScore) { // -1: NaN rows
                  bestScore = score; best = c
                }
                c += 1
              }
              val sb = s(best)
              var i = 0
              while (i < dim) { sb(i) += v(i); i += 1 }
              cnt(best) += 1
              p += 1
            }
          } catch {
            case e: Throwable => failure.compareAndSet(null, e)
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      if (failure.get() != null) throw failure.get()
      moved = false
      val next = Array.tabulate(nCentroids) { c =>
        var total = 0L
        var ci = 0
        while (ci < nChunks) { total += counts(ci)(c); ci += 1 }
        if (total == 0L) cents(c) // empty cluster keeps its centroid
        else {
          val m = new Array[Double](dim)
          ci = 0
          while (ci < nChunks) {
            val s = sums(ci)(c)
            var i = 0
            while (i < dim) { m(i) += s(i); i += 1 }
            ci += 1
          }
          var i = 0
          var delta = 0.0
          while (i < dim) {
            m(i) /= total
            val d = m(i) - cents(c)(i); delta += d * d
            i += 1
          }
          if (delta > 1e-12) moved = true
          m
        }
      }
      cents = next
      iter += 1
    }
    cents
  }

  /** Open the index at `path` for probing (fails fast when no index or
    * a rebuild stands there). See [[Handle]]. */
  def open(spark: SparkSession, path: String): Handle = {
    val h = new Handle(spark, path)
    h.current()
    h
  }

  /** An opened index, reused across probes. Each probe re-reads
    * `ivf.json` through the guarded [[readMeta]] — a sidecar read, no
    * Spark job — so a standing rebuild sentinel or a parked dir still
    * refuses. The byte-gated centroid table ([[loadCentroids]]) is
    * reloaded only when that meta moved: every write that replaces the
    * centroids ([[build]] over an existing path, [[rebalance]]) bumps
    * the generation. A warm probe is therefore ONE Spark job, the top-k
    * over the probed cluster dirs. Safe to share between threads: the
    * cache is one volatile (meta, centroids) pair. */
  final class Handle private[IvfIndex] (spark: SparkSession,
      val path: String) {
    @volatile private var state: (Meta, Array[(Int, Array[Float])]) = _

    private[IvfIndex] def current(): (Meta, Array[(Int, Array[Float])]) = {
      val meta = readMeta(path)
      val s = state
      if (s != null && s._1 == meta) s
      else {
        val next = (meta, loadCentroids(spark, path, meta))
        state = next
        next
      }
    }

    /** Exact top-k within the nProbe nearest clusters: (id, distance),
      * distances in the *original* metric space. `.explain` shows only
      * the probed `cluster=` dirs in the scan. */
    def search(query: Array[Float], k: Int, nProbe: Int = 4): DataFrame =
      topK(query, k, nProbe, None).select(col("id"), col("distance"))

    /** [[search]] keeping the stored vector: (id, values, distance). */
    def searchHydrated(query: Array[Float], k: Int,
        nProbe: Int = 4): DataFrame =
      topK(query, k, nProbe, None)

    /** [[search]] over the allowed ids only — see
      * [[IvfIndex.searchFiltered]]. Output: (id, distance). */
    def searchFiltered(query: Array[Float], k: Int, allowed: DataFrame,
        nProbe: Int = 4, allowedRows: Long = -1L): DataFrame =
      topK(query, k, nProbe, Some(BroadcastGate.allowedSide(allowed,
        allowedRows, "searchFiltered")))
        .select(col("id"), col("distance"))

    /** THE probe path: pick the nProbe nearest clusters against the
      * cached centroids, read ONLY those dirs with the known
      * [[AssignmentSchema]] (O(nProbe) paths, no partition discovery),
      * dedup a multiprobe index's copies, thin to `allowed` BEFORE the
      * top-k (pre-filter), then the exact top-k. On normalized vectors
      * euclidean order == cosine order; the requested metric's distance
      * values are reported. (id, values, distance). */
    private def topK(query: Array[Float], k: Int, nProbe: Int,
        allowed: Option[DataFrame]): DataFrame = {
      val (meta, cents) = current()
      val metric = Metric.parse(meta.metric)
      val q = prepareQuery(query, meta.dim, metric)
      val dirs = existingClusterDirs(spark, s"$path/assignments",
        nearestClusters(cents, q, nProbe))
      if (dirs.isEmpty)
        spark.emptyDataFrame
          .select(lit(0L).as("id"),
            typedLit(Array.empty[Float]).as("values"),
            lit(0.0).as("distance")).limit(0)
      else {
        val probed = spark.read.schema(AssignmentSchema).parquet(dirs: _*)
        // a multiprobe index stores each vector in nAssign clusters: two
        // probed clusters can both contain an id — dedup before top-k so
        // duplicates don't shrink effective k (single-assignment indexes
        // skip the extra shuffle)
        val unique = if (meta.nAssign > 1) probed.dropDuplicates("id")
          else probed
        Knn.exact(allowed.fold(unique)(unique.join(_, Seq("id"), "left_semi")),
          q, k, metric)
      }
    }
  }

  /** Probe: exact top-k within the nProbe nearest clusters — one
    * [[open]] plus [[Handle.search]]. Returns (id, distance). */
  def search(spark: SparkSession, path: String, query: Array[Float],
      k: Int, nProbe: Int = 4): DataFrame =
    open(spark, path).search(query, k, nProbe)

  /** [[search]] keeping the stored vector alongside — the shape the
    * [[graft.plans.RouteKnnToIvf]] optimizer rewrite needs, since a
    * routed KnnSearch node must keep producing its child's columns. */
  def searchHydrated(spark: SparkSession, path: String,
      query: Array[Float], k: Int, nProbe: Int = 4): DataFrame =
    open(spark, path).searchHydrated(query, k, nProbe)

  /** Metadata-constrained ("filtered") probe: [[search]] restricted to
    * an allowed-id set — the predicate + vector query combination
    * every production retrieval stack needs. PRE-filter semantics:
    * candidates semi-join `allowed` BEFORE the top-k, so the full k
    * come back whenever the probed clusters hold ≥ k allowed vectors
    * (post-filtering an unfiltered top-k under-fills exactly when the
    * predicate is selective). The filter thins CANDIDATES, not probes:
    * for very selective predicates raise `nProbe` to keep recall — at
    * nProbe = nCentroids the result is EXACT over the allowed subset
    * (the oracle-gated configuration).
    *
    * `allowed` is a single-column frame of allowed id values. Pass
    * `allowedRows` when the caller knows the set size: a fitting set
    * gets the broadcast hint through the byte gate (id-only rows,
    * dim 0); unknown (-1) leaves the join strategy to planner + AQE.
    * Output: (id, distance). */
  def searchFiltered(spark: SparkSession, path: String,
      query: Array[Float], k: Int, allowed: DataFrame, nProbe: Int = 4,
      allowedRows: Long = -1L): DataFrame =
    open(spark, path).searchFiltered(query, k, allowed, nProbe, allowedRows)

  /** Dimension-checked query in the stored space: cosine queries are
    * normalized to match the spherically-stored vectors (a zero vector
    * passes through; NaN distances sort last). Shared by every IVF, PQ
    * and IVF-PQ probe. */
  private[operators] def prepareQuery(query: Array[Float], dim: Int,
      metric: Metric): Array[Float] = {
    if (query.length != dim)
      throw new graft.store.InvalidVectorException(
        s"[GRAFT] vector dimension mismatch: expected $dim, got ${query.length}")
    if (metric == Metric.Cosine) l2normalize(query) else query
  }

  /** BATCH IVF probe: top-k for EVERY query row in one job — the
    * scale path for query workloads ([[Knn.exactBatch]]'s approximate
    * twin). Shape:
    *
    *   1. queries are assigned to their `nProbe` nearest clusters with
    *      the broadcast-argmin kernel the index itself was built with
    *      ([[assignRows]] over [[nearest]], normalized for cosine) —
    *      the same rule [[searchHydrated]] applies driver-side, so
    *      probe selection matches it exactly;
    *   2. the UNION of touched cluster directories is scanned ONCE
    *      (O(touched) path listing, untouched clusters never read);
    *   3. each data row joins only the queries probing ITS cluster —
    *      a broadcast hash join on `cluster`, NOT a full queries×rows
    *      product;
    *   4. per-query top-k via the `TopKByDistance` partial aggregate:
    *      ≤ k rows per query per partition cross the shuffle.
    *
    * A multiprobe index (nAssign > 1) can surface one id from two
    * probed clusters of the same query — deduped on (qid, id) before
    * the top-k so duplicates don't shrink effective k. Output:
    * (qid, id, distance, rank), distances in the index metric.
    *
    * `allowed` turns this into batch FILTERED search with the same
    * pre-filter semantics as [[searchFiltered]]: the scanned candidate
    * rows semi-join the allowed-id set BEFORE scoring and top-k, so
    * every query fills k whenever its probed clusters hold ≥ k allowed
    * vectors. Pass `allowedRows` when the set size is known to let the
    * byte gate hint the broadcast. */
  def searchBatch(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int = 4, qidCol: String = "qid",
      qvecCol: String = "qvalues", allowed: Option[DataFrame] = None,
      allowedRows: Long = -1L): DataFrame = {
    import TopKByDistance.topk
    val meta = readMeta(path)
    val metric = Metric.parse(meta.metric)
    val cents = loadCentroids(spark, path, meta)
    // cache once: the batch is read by the sizing count AND the
    // assignment kernel — caching keeps them consistent for a
    // nondeterministic source and makes the sizing pass cheap
    val q = queries.persist()
    val (assigned, touched) =
      assignQueries(q, qidCol, qvecCol, cents, nProbe, metric)
    val rows0 = readClusters(spark, s"$path/assignments", touched) match {
      case Some(r) => r.select(col("id"), col("values"), col("cluster"))
      case None =>
        return CacheScope.releaseWith(spark.emptyDataFrame
          .select(lit(0L).as("qid"), lit(0L).as("id"),
            lit(0.0).as("distance"), lit(0).as("rank")).limit(0), q)
    }
    // pre-filter: thin CANDIDATES before scoring (see scaladoc)
    val rows = allowed match {
      case Some(a) =>
        rows0.join(BroadcastGate.allowedSide(a, allowedRows,
          "searchBatch"), Seq("id"), "left_semi")
      case None => rows0
    }
    // broadcast only query batches that plausibly fit executor memory
    // (the assignment side is |queries|·nProbe full vectors); above
    // the byte budget, leave the strategy to the planner — an
    // unconditional hint at 1M×nProbe wide queries is a multi-GB
    // broadcast OOM in exactly the large-batch regime this method
    // exists for. Counting the INPUT queries (not `assigned`) avoids
    // an extra run of the assignment kernel just to size the hint;
    // dim comes from the index centroids, not the data.
    val p = math.min(nProbe, cents.length)
    val dim = if (cents.isEmpty) 0 else cents(0)._2.length
    val qSide = BroadcastGate.gated(assigned, q.count() * p, dim)
    val scored0 = rows.join(qSide, Seq("cluster"))
      .select(col("qid"), col("id"),
        metric.dist(col("values"), col("qv")).as("distance"))
    // nAssign=1 ⇒ each row lives in exactly one cluster ⇒ a (qid, id)
    // pair can only arise once even under multi-cluster probing — the
    // dedup shuffle is needed solely for multiprobe indexes
    val scored = if (meta.nAssign > 1)
      scored0.dropDuplicates("qid", "id") else scored0
    // the query cache is GC-scoped to the result ([[CacheScope]]) —
    // no CacheManager entry outlives the caller's use of this frame
    CacheScope.releaseWith(scored
      .groupBy(col("qid"))
      .agg(topk(col("distance"), col("id"), k).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(col("qid"), col("r.id").as("id"),
        col("r.distance").as("distance"), (col("pos") + 1).as("rank")),
      q)
  }

  /** Batch probe selection: every query row → its `nProbe` nearest
    * clusters by [[assignRows]] (the build/append rule, normalized for
    * cosine). Returns (qid, qv, cluster) rows and the sorted touched
    * cluster ids (≤ |queries|·nProbe ints — driver-sized). Shared by
    * both batch searches. */
  private[operators] def assignQueries(q: DataFrame, qidCol: String,
      qvecCol: String, cents: Array[(Int, Array[Float])], nProbe: Int,
      metric: Metric): (DataFrame, Seq[Int]) = {
    val assigned = assignRows(
      q.select(col(qidCol).cast("long").as("id"),
        col(qvecCol).cast("array<float>").as("values")),
      cents, math.min(nProbe, cents.length),
      normalize = metric == Metric.Cosine)
      .select(col("id").as("qid"), col("values").as("qv"), col("cluster"))
    (assigned, assigned.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq)
  }

  /** Metric string of a persisted index (for routing guards). */
  def metricOf(path: String): String = readMeta(path).metric

  /** Clustering generation of a persisted index. Bumped by every
    * operation that invalidates derived artifacts' cluster keying or
    * content ([[build]] over an existing path, [[rebalance]],
    * [[deleteIds]]); PQ/IVF-PQ artifacts record the generation they
    * were built against and refuse stale probes. */
  def generationOf(path: String): Int = readMeta(path).generation

  /** Cheap drift check — does any live cluster hold more than
    * `maxClusterFraction` of the stored bytes? Pure filesystem
    * arithmetic ([[clusterBytes]], no Spark job). Wire this after
    * [[append]] traffic (e.g. every N streaming batches) and call
    * [[rebalance]] when it fires — the probe-latency drift ScaleProbe
    * measures (15.3 s → 3.6 s post-rebalance) builds up silently
    * otherwise. */
  def needsRebalance(spark: SparkSession, path: String,
      maxClusterFraction: Double = 0.2): Boolean = {
    require(maxClusterFraction > 0 && maxClusterFraction <= 1,
      "[GRAFT] needsRebalance: maxClusterFraction must be in (0, 1]")
    readMeta(path)
    val sizes = clusterBytes(spark, path)
    val total = sizes.sum
    total > 0L && sizes.max.toDouble > maxClusterFraction * total
  }

  /** Hard-delete vectors from the index — the GDPR path
    * ([[graft.store.VfsStore.deleteWhere]]'s index-side twin): rewrite
    * ONLY the cluster partitions containing a requested id, each
    * through [[ArtifactIo.stagedSwap]] (a crash mid-cluster leaves
    * either the old dir or the new dir, never a partial mix;
    * `cluster=<c>_old` left by a crash between the two renames is
    * auto-healed by [[existingClusterDirs]] on the next read — renamed
    * back, so no probe ever silently loses the cluster). Cost is
    * O(touched clusters), not O(index): the locate scan prunes to a
    * pushed-down `id IN` filter and untouched partitions are never
    * read or written. Derived PQ/IVF-PQ artifacts still hold codes for
    * the deleted ids — the generation bump makes their probes refuse
    * until [[IvfPq.refresh]] (which scrubs dead codes) or a rebuild.
    * Single-writer maintenance op, like compact. Returns the number of
    * index entries removed (> |ids| on multiprobe indexes, which store
    * a vector once per assigned cluster). */
  def deleteIds(spark: SparkSession, path: String, ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    val meta = metaForWrite(path)
    val idSeq = ids.distinct
    // locate pass: which LIVE clusters hold these ids (pushed-down IN
    // filter; |ids| is a deletion batch, driver-sized by contract)
    val touched = liveAssignments(spark, path)
      .filter(col("id").isin(idSeq: _*))
      .select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return 0L
    val fs = ArtifactIo.fsOf(path)
    var removed = 0L
    touched.foreach { c =>
      val rows = spark.read.parquet(s"$path/assignments/cluster=$c")
        .select(col("id"), col("values"))
      val kept = rows.filter(!col("id").isin(idSeq: _*))
      removed += rows.filter(col("id").isin(idSeq: _*)).count()
      if (kept.isEmpty) {
        // partition emptied: drop the dir — probes skip missing dirs
        // ([[existingClusterDirs]]), same as an empty k-means cluster
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$path/assignments/cluster=$c"), true)
      } else {
        // partition-layout files carry no cluster column (the dir name
        // is the partition value) — write (id, values) only
        ArtifactIo.stagedSwap(fs, s"$path/assignments", s"cluster=$c",
          "IVF deleteIds")(kept.write.mode("overwrite").parquet(_))
      }
    }
    writeMeta(path, meta.copy(generation = meta.generation + 1))
    removed
  }

  /** Incremental index maintenance: assign NEW vectors to the nearest
    * EXISTING centroid and append them to the cluster partitions — no
    * re-clustering, no rewrite of existing data. This is how an IVF
    * index absorbs streaming/batch ingest at 100 TB: one broadcast of
    * the (tiny) centroid table, a map-side argmin per row, one
    * partitioned append. Centroid drift from skewed appends is the
    * documented trade — rebuild when recall degrades (the standard IVF
    * operating practice).
    *
    * Caller contract (same as [[build]]): `idCol` is unique within the
    * batch AND against ids already indexed. Duplicate ids within a
    * batch collapse to one row (the lexicographically smallest vector,
    * deterministically); re-appending an existing id is NOT detected
    * and yields two index entries — route ingest through
    * [[graft.store.VfsStore]] (which owns id uniqueness) or dedupe
    * upstream.
    *
    * Works as a `foreachBatch` body for Structured Streaming ingest. */
  def append(newRows: DataFrame, path: String,
      vecCol: String = "values", idCol: String = "id"): Unit = {
    val spark = newRows.sparkSession
    val meta = metaForWrite(path)
    val metric = Metric.parse(meta.metric)
    val raw = newRows.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("values"))
    // collapse duplicate ids within the batch DETERMINISTICALLY (the
    // lexicographically smallest RAW vector wins) — the documented
    // caller contract; without this each duplicate would write an
    // index entry and shrink effective k at probe time
    val prepared = raw.groupBy(col("id"))
      .agg(min(col("values")).as("values"))
    // same broadcast-argmin kernel as build's assignment pass (incl.
    // kernel-side normalization for cosine indexes), honoring the
    // index's multiprobe factor so appended rows keep the
    // boundary-coverage guarantee of the original build
    assignRows(prepared, loadCentroids(spark, path, meta), meta.nAssign,
      normalize = metric == Metric.Cosine, eps = metaEps(meta))
      .repartition(col("cluster"))
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$path/assignments")
  }

  /** Compact the assignments layout after a run of [[append]]s: each
    * append adds one file per touched cluster directory, and at
    * nCentroids in the hundreds that is the classic small-files
    * problem — probe latency grows with files listed, not bytes read.
    * Rewrites every cluster partition into one file per shuffle
    * partition through [[ArtifactIo.stagedSwap]].
    *
    * SINGLE-WRITER maintenance op (the same stance as the reference's
    * global write mutex): appends racing a compact can land between
    * the stage read and the swap and be deleted with the old layout —
    * stop streaming ingest for the swap window. A crash between the
    * two renames leaves `assignments` PARKED: readers refuse, and the
    * next writer ([[build]], [[append]], compact, [[deleteIds]],
    * [[rebalance]]) renames it back first. */
  def compactAssignments(spark: SparkSession, path: String): Unit = {
    metaForWrite(path)
    // centroid-scoped read: orphan dirs from a crashed rebalance are
    // NOT copied into the new layout and die with the old dir in the
    // swap — compact doubles as the orphan cleaner
    ArtifactIo.stagedSwap(ArtifactIo.fsOf(path), path, "assignments",
      "IVF compact") { stage =>
      liveAssignments(spark, path)
        .repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(stage)
    }
  }

  /** Split every cluster holding more than `maxClusterFraction` of the
    * corpus by a secondary (seeded, deterministic) k-means over just
    * that cluster's rows — the skew valve for IVF at scale: a
    * pathological corpus (boilerplate embeddings, temporal drift under
    * [[append]]) can concentrate most vectors in one cluster, making
    * every probe that touches it scan a corpus-sized partition.
    * Rebalancing restores the bounded-probe-cost invariant
    * (max cluster ≤ fraction·n, down to k-means quality) WITHOUT
    * touching the other clusters' data.
    *
    * The stored vector SET is unchanged — only the partitioning moves —
    * so a full probe (nProbe = nCentroids) returns bit-identical
    * results before and after (KnnSpec pins this). Sequence per
    * oversized cluster: sample→Lloyd split→assign→append new
    * `cluster=<fresh-id>` dirs into `assignments/`; then ONE
    * centroid-table swap covers all splits; old dirs are deleted last,
    * so a crash leaves either the old routing (centroids not yet
    * swapped — old dirs still live) or the new one (orphaned old dirs,
    * ignored by routing and by the next rebalance's centroid-scoped
    * sizing). Not concurrency-safe against in-flight probes of the
    * swapped clusters — run as maintenance, like [[compactAssignments]].
    * Any IVF-PQ artifact built over this index refers to the OLD
    * cluster ids — the index `generation` is bumped so stale PQ probes
    * REFUSE until [[IvfPq.refresh]] or a rebuild (enforced, not just
    * documented).
    *
    * MULTI-PASS: one k-means split can strand most of an oversized
    * cluster in a single subcluster — k-means' global objective
    * prefers isolating far outliers over balancing a tight blob (the
    * D² init mass concentrates on the outliers), so a drifted-append
    * blob plus a few stragglers splits into [blob][tiny][tiny].
    * Passes repeat until no cluster exceeds the cap or a pass creates
    * nothing new; `maxPasses` bounds the one genuinely unsplittable
    * case (a cluster of identical vectors can never split — ties all
    * land in the lowest subcluster id). Returns the total number of
    * new clusters created (0 = nothing oversized). */
  def rebalance(spark: SparkSession, path: String,
      maxClusterFraction: Double = 0.2, trainCap: Long = 100000L,
      maxIter: Int = 10, seed: Long = 43L, maxPasses: Int = 6): Int = {
    require(maxPasses >= 1, "[GRAFT] rebalance: maxPasses must be >= 1")
    metaForWrite(path)
    // cheap FS-level skew reading between passes: if a pass created
    // clusters but the largest share did not shrink, the oversized
    // cluster is unsplittable (identical vectors) — stop churning
    // generations instead of burning the remaining passes
    def maxShare(): Double = {
      val sizes = clusterBytes(spark, path)
      val total = sizes.sum
      if (total == 0L) 0.0 else sizes.max.toDouble / total
    }
    var total = 0
    var pass = 0
    var created = -1
    var share = maxShare()
    while (pass < maxPasses && created != 0) {
      created = rebalancePass(spark, path, maxClusterFraction, trainCap,
        maxIter, seed + pass)
      total += created
      pass += 1
      if (created > 0) {
        val next = maxShare()
        if (next >= share) created = 0 // no progress: stop
        share = next
      }
    }
    total
  }

  private def rebalancePass(spark: SparkSession, path: String,
      maxClusterFraction: Double, trainCap: Long,
      maxIter: Int, seed: Long): Int = {
    require(maxClusterFraction > 0 && maxClusterFraction <= 1,
      "[GRAFT] rebalance: maxClusterFraction must be in (0, 1]")
    val meta = readMeta(path)
    val centsOld = loadCentroids(spark, path, meta)
    val centIds = centsOld.map(_._1).toSet
    val fs = ArtifactIo.fsOf(path)
    // orphan dirs from a crashed prior rebalance (appended but never
    // routed to): DELETED here so their ids cannot collide with the
    // fresh ids this run hands out
    val onDisk = clusterDirsForWrite(s"$path/assignments")
    onDisk.filterNot(centIds).foreach { c =>
      fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/assignments/cluster=$c"), true)
    }
    val sizes = liveAssignments(spark, path)
      .groupBy(col("cluster")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = sizes.map(_._2).sum
    val cap = math.max(1L, (maxClusterFraction * total).toLong)
    val oversized = sizes.filter(_._2 > cap)
    if (oversized.isEmpty) return 0
    // fresh ids start past EVERYTHING ever seen on disk or routed (an
    // empty cluster has a centroid but no dir)
    var nextId = (onDisk ++ centIds).max + 1
    val replaced = scala.collection.mutable.Map.empty[Int, Array[(Int, Array[Float])]]
    oversized.foreach { case (c, cnt) =>
      val rows = spark.read
        .parquet(s"$path/assignments/cluster=$c")
        .select(col("id"), col("values"))
      val splitK = math.min(256,
        math.max(2, math.ceil(cnt.toDouble / cap).toInt))
      // vectors are STORED normalized for cosine indexes — train and
      // assign on them as-is (normalize again would be a no-op)
      val train = sampleVectors(rows, trainCap, seed ^ c,
        minPerPart = splitK, normalize = false)
      val centsD = lloyd(train, splitK, maxIter, seed ^ c)
      val centArr = centsD.zipWithIndex.map { case (cd, i) =>
        (nextId + i, cd.map(_.toFloat))
      }
      // honor the index's multiprobe storage: a copy living in the
      // split cluster keeps nAssign-nearest coverage against the NEW
      // subcentroids, preserving the boundary-pair visibility that
      // similarityJoin/probes were built with. Fresh ids cannot collide
      // with live dirs, so the split appends straight into
      // `assignments/` — unrouted until the centroid swap below
      assignRows(rows, centArr, math.min(meta.nAssign, centArr.length),
        normalize = false, eps = metaEps(meta))
        .repartition(col("cluster"))
        .write.mode("append").partitionBy("cluster")
        .parquet(s"$path/assignments")
      replaced(c) = centArr
      nextId += splitK
    }
    // ONE centroid swap for all splits, then drop the old dirs
    val newCents = centsOld.filterNot(e => replaced.contains(e._1)) ++
      replaced.values.flatten
    ArtifactIo.stagedSwap(fs, path, "centroids", "IVF rebalance") { stage =>
      spark.createDataFrame(newCents.toSeq.sortBy(_._1))
        .toDF("cluster", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(stage)
    }
    replaced.keys.foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/assignments/cluster=$c"), true)
    }
    writeMeta(path, meta.copy(nCentroids = newCents.length,
      generation = meta.generation + 1))
    replaced.values.map(_.length).sum
  }

  /** Approximate all-pairs similarity JOIN over a built index: vectors
    * sharing an IVF cluster are candidate pairs; exact distance
    * verifies < tau. The cluster partitioning bounds the self-join to
    * within-cluster blocks (the embedding analog of LSH banding).
    * Recall follows cluster quality: with a single-assignment index
    * (nAssign = 1) pairs straddling a centroid boundary are blind
    * spots; build with `nAssign = 2` (multiprobe storage) and a pair is
    * missed only if the two vectors share NONE of their 2×2 nearest
    * clusters — the KnnSpec boundary-recall spec measures the gap
    * closing. Duplicate candidate pairs from multi-assignment are
    * deduped before output. Output: (a, b, dist_milli). */
  def similarityJoin(spark: SparkSession, path: String,
      tau: Double): DataFrame = {
    val meta = readMeta(path)
    val metric = Metric.parse(meta.metric)
    // LIVE dirs only: a crashed rebalance leaves the oversized
    // cluster's vectors in BOTH the orphaned old dir and the new split
    // dirs — a full-directory scan would emit duplicated pairs (and
    // nAssign=1 indexes skip the dedup below)
    val t = liveAssignments(spark, path)
    val a = t.as("a")
    val b = t.as("b")
    val pairs = a.join(b, col("a.cluster") === col("b.cluster") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"),
        round(metric.dist(col("a.values"), col("b.values")) * 1000)
          .cast("long").as("dist_milli"))
      .filter(col("dist_milli") < math.round(tau * 1000))
    // only a multiprobe index can produce the same pair in two shared
    // clusters; skip the dedup shuffle for single-assignment indexes
    if (meta.nAssign > 1) pairs.dropDuplicates("a", "b") else pairs
  }

}
