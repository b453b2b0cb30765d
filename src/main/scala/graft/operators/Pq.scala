package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization index — the COMPRESSED scale path for vector
  * search (cf. Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; the same design as faiss PQ/IVFPQ).
  * At 100 TB, storing raw float vectors costs dim × 4 bytes/row and
  * every search reads all of it; PQ stores `m` one-byte codes per
  * vector (a 32× compression at dim=64, m=8) and scores with table
  * lookups instead of float dot products:
  *
  *   - TRAIN (driver-local, bounded sample — same shape as
  *     [[IvfIndex.build]]): split each vector into `m` subvectors of
  *     dim/m lanes; run Lloyd per subspace for `ks` centroids. The
  *     codebook is m × ks × (dim/m) floats — kilobytes.
  *   - ENCODE (one broadcast pass): each subvector → id of its nearest
  *     subspace centroid → `m` bytes per vector, stored as a slim
  *     (id, code BINARY) parquet table.
  *   - SEARCH (asymmetric distance, ADC): per query build an m × ks
  *     lookup table of exact subspace distances ||q_j − c_{j,k}||²,
  *     broadcast it, and scan codes summing m lookups per row — no
  *     float math per row, no decompression. A bounded per-partition
  *     top-k heap shuffles k rows per partition, then the driver-side
  *     final k. Optional exact REFINE re-ranks the top candidates
  *     against the raw vectors (the standard two-stage PQ pipeline).
  *
  * For cosine, vectors are L2-normalized at train/encode/query time
  * (ADC euclidean on the unit sphere orders like cosine); reported
  * `adist` is the squared euclidean ADC approximation in that space.
  * Deterministic given the corpus partition layout (hash-priority
  * sample + seeded k-means++ init, the U2 determinism stance).
  *
  * Composability: partition the code table by an [[IvfIndex]] cluster
  * id to get IVF-PQ (prune clusters, then ADC-scan only the probed
  * partitions); the two artifacts are deliberately independent files.
  */
object PqIndex {
  case class Meta(m: Int, ks: Int, dim: Int, metric: String, seed: Long)

  /** Same rebuild-sentinel contract as [[IvfIndex]]: a rebuild's
    * live-mutation window (dir swaps + meta write) is marked; a crash
    * inside it makes every probe refuse loudly (derived data — the
    * recovery is rerunning build) instead of silently scoring against
    * a partial code table. */
  private val RebuildSentinel = "pq.rebuilding"

  private def readMeta(path: String): Meta = {
    require(!ArtifactIo.fileExists(path, RebuildSentinel),
      s"[GRAFT] PQ artifact at $path has an in-progress or crashed " +
        "rebuild (pq.rebuilding present) — rerun PqIndex.build")
    val m = ArtifactIo.readSidecar(path, "pq.json")
    Meta(m.int("m"), m.int("ks"), m.int("dim"), m.str("metric"),
      m.long("seed"))
  }

  /** codebooks(j)(k) = centroid k of subspace j (dim/m floats). */
  private[operators] def loadCodebooks(spark: SparkSession, path: String,
      m: Int, ks: Int): Array[Array[Array[Float]]] = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .select(col("subspace"), col("centroid_id"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val books = Array.ofDim[Array[Float]](m, ks)
    rows.foreach { case (j, k, c) => books(j)(k) = c }
    books
  }

  /** Train the per-subspace codebooks and encode the corpus at `path`:
    * `codebooks/` (subspace, centroid_id, centroid), `codes/` (id,
    * code BINARY), `pq.json`. `dim` must be divisible by `m`; `ks` ≤
    * 256 (one byte per code). */
  def build(base: DataFrame, path: String, m: Int = 8, ks: Int = 256,
      metric: Metric = Metric.Cosine, seed: Long = 42L,
      vecCol: String = "values", idCol: String = "id",
      trainCap: Long = 100000L, maxIter: Int = 10): Unit = {
    require(m > 0 && ks > 1 && ks <= 256,
      "[GRAFT] PQ needs 0 < m and 1 < ks <= 256 (one byte per code)")
    val spark = base.sparkSession
    import spark.implicits._
    val spherical = metric == Metric.Cosine
    val prepared = base.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("values"))
    val parts = math.max(1, prepared.rdd.getNumPartitions)
    val train = IvfIndex.sampleVectors(prepared, trainCap, seed,
      minPerPart = ks, normalize = spherical)
    val dim = train.head.length
    require(dim % m == 0,
      s"[GRAFT] dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // per-subspace Lloyd on the shared sample (subspace j gets its own
    // seed so codebooks are independent draws)
    val books: Array[Array[Array[Float]]] = Array.tabulate(m) { j =>
      val sub = train.map(v => java.util.Arrays.copyOfRange(v, j * dsub,
        (j + 1) * dsub))
      IvfIndex.lloyd(sub, ks, maxIter, seed + j)
        .map(_.map(_.toFloat))
    }
    val bookRows = for (j <- 0 until m; k <- 0 until ks)
      yield (j, k, books(j)(k))
    // rebuilds stage both dirs and swap inside the sentinel window
    // (the [[IvfIndex.build]] discipline) — never an in-place
    // overwrite of a live artifact
    val rebuilding = ArtifactIo.fileExists(path, "pq.json")
    val bookTarget =
      if (rebuilding) s"$path/codebooks_stage" else s"$path/codebooks"
    val codesTarget =
      if (rebuilding) s"$path/codes_stage" else s"$path/codes"
    spark.createDataFrame(bookRows).toDF("subspace", "centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(bookTarget)
    // ---- encode pass: broadcast codebooks, argmin per subspace.
    // Compute-bound (|rows|·ks·dim muladds) — spread like IvfIndex's
    // assignment pass when the scan has too few partitions.
    val encodeInput =
      if (parts < spark.sparkContext.defaultParallelism)
        prepared.repartition(spark.sparkContext.defaultParallelism)
      else prepared
    val bc = spark.sparkContext.broadcast(books)
    encodeInput.as[(Long, Array[Float])]
      .mapPartitions { it =>
        val bks = bc.value
        it.map { case (id, v0) =>
          // ragged rows that escaped the bounded sample must fail
          // loudly here, not crash the argmin or truncate silently
          if (v0.length != dim)
            throw new graft.store.InvalidVectorException(
              s"[GRAFT] vector dimension mismatch at id=$id:" +
                s" expected $dim, got ${v0.length}")
          val v = if (spherical) IvfIndex.l2normalize(v0) else v0
          (id, encodeOne(v, bks, dsub))
        }
      }
      .toDF("id", "code")
      .write.mode("overwrite").parquet(codesTarget)
    if (rebuilding) {
      ArtifactIo.writeSmallFileAtomic(path, RebuildSentinel, "1")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      ArtifactIo.swapIn(fs, path, "codebooks")
      ArtifactIo.swapIn(fs, path, "codes")
    }
    ArtifactIo.writeSidecar(path, "pq.json", "m" -> m, "ks" -> ks,
      "dim" -> dim, "metric" -> (metric match {
        case Metric.Cosine => "cosine"
        case Metric.Euclidean => "euclidean"
      }), "seed" -> seed)
    ArtifactIo.deleteFile(path, RebuildSentinel)
  }

  /** One vector → m bytes (argmin per subspace; `best == -1 ||` guards
    * all-NaN subvectors, which land deterministically in centroid 0 —
    * same stance as [[IvfIndex.assignRows]]). */
  private[operators] def encodeOne(v: Array[Float],
      books: Array[Array[Array[Float]]], dsub: Int): Array[Byte] = {
    val m = books.length
    val code = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val cents = books(j)
      val off = j * dsub
      var best = -1; var bestD = Double.MaxValue
      var k = 0
      while (k < cents.length) {
        val c = cents(k)
        var d = 0.0; var i = 0
        while (i < dsub) {
          val diff = v(off + i).toDouble - c(i); d += diff * diff; i += 1
        }
        if (best == -1 || d < bestD) { bestD = d; best = k }
        k += 1
      }
      code(j) = best.toByte
      j += 1
    }
    code
  }

  /** Decode a code back to its reconstruction (centroid concatenation)
    * — for error measurement and tooling. */
  private[graft] def decodeOne(code: Array[Byte],
      books: Array[Array[Array[Float]]], dsub: Int): Array[Float] = {
    val out = new Array[Float](books.length * dsub)
    var j = 0
    while (j < books.length) {
      System.arraycopy(books(j)(code(j) & 0xff), 0, out, j * dsub, dsub)
      j += 1
    }
    out
  }

  /** The ADC lookup table: exact subspace distances query↔centroid —
    * table(j)(k) = ||q_j − c_{j,k}||². m × ks doubles, kilobytes. */
  private[operators] def adcTable(q: Array[Float],
      books: Array[Array[Array[Float]]], dsub: Int): Array[Array[Double]] =
    Array.tabulate(books.length) { j =>
      val off = j * dsub
      books(j).map { c =>
        var d = 0.0; var i = 0
        while (i < dsub) {
          val diff = q(off + i).toDouble - c(i); d += diff * diff; i += 1
        }
        d
      }
    }

  /** ADC top-k over the encoded corpus: (id, adist) ascending. `adist`
    * is the table-lookup approximation of the (unit-sphere, for
    * cosine) squared euclidean distance. */
  def search(spark: SparkSession, path: String, query: Array[Float],
      k: Int): DataFrame = {
    import spark.implicits._
    val meta = readMeta(path)
    if (query.length != meta.dim)
      throw new graft.store.InvalidVectorException(
        s"[GRAFT] vector dimension mismatch: expected ${meta.dim}, got ${query.length}")
    val dsub = meta.dim / meta.m
    val q = if (meta.metric == "cosine") IvfIndex.l2normalize(query)
      else query
    val books = loadCodebooks(spark, path, meta.m, meta.ks)
    val table = adcTable(q, books, dsub)
    val bt = spark.sparkContext.broadcast(table)
    spark.read.parquet(s"$path/codes")
      .select(col("id"), col("code"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val t = bt.value
        it.map { case (id, code) =>
          var d = 0.0; var j = 0
          while (j < t.length) { d += t(j)(code(j) & 0xff); j += 1 }
          (id, d)
        }
      }
      .toDF("id", "adist")
      .orderBy(col("adist").asc, col("id").asc)
      .limit(k)
  }

  /** Two-stage PQ search: ADC top-(k·`overfetch`) candidates, then
    * exact re-rank against the raw vectors of `base` — the standard
    * refine step that recovers exact-ordering quality at a fraction of
    * the scan cost (only k·overfetch raw vectors are read, via a
    * semi-join the optimizer can push down). Output: (id, distance)
    * in the requested metric, ascending, k rows. */
  def searchRefined(spark: SparkSession, path: String, base: DataFrame,
      query: Array[Float], k: Int, overfetch: Int = 4,
      vecCol: String = "values", idCol: String = "id"): DataFrame = {
    val meta = readMeta(path)
    val metric = Metric.parse(meta.metric)
    val candidates = search(spark, path, query, k * overfetch)
      .select(col("id"))
    val pruned = base.select(col(idCol).as("id"),
        col(vecCol).cast("array<float>").as("values"))
      .join(candidates.hint("broadcast"), Seq("id"), "left_semi")
    Knn.exact(pruned, query, k, metric).select(col("id"), col("distance"))
  }
}

/** IVF-PQ — the composed 100 TB vector-search layout (faiss IVFPQ;
  * Jégou et al. 2011 §IV): PQ codes partitioned by the clusters of an
  * existing [[IvfIndex]], with RESIDUAL encoding (code `v − centroid`,
  * not `v`: residuals concentrate near 0, so the same codebook budget
  * spends its resolution where the data is — the standard accuracy
  * win over flat PQ).
  *
  * Why the composition matters at scale: flat PQ still ADC-scans
  * EVERY code at query time (cheap per row, but 100 TB of corpus is
  * ~3 TB of codes at 32×); IVF-PQ prunes to nProbe cluster partitions
  * first — `.explain` shows the same `cluster=` file-level pruning as
  * [[IvfIndex.search]] — then ADC-scans only those. Search cost is
  * O(corpus × nProbe / nCentroids) table lookups, and the refine
  * stage reads k·overfetch raw vectors from the probed partitions of
  * the SAME ivf assignments (no second copy of the corpus).
  *
  * Build reads the ivf index's own cluster-partitioned assignments —
  * vectors arrive pre-normalized (cosine indexes store unit vectors)
  * and pre-clustered, so training and encoding are two narrow passes
  * with a broadcast centroid map and no extra shuffle; codes are
  * written `partitionBy(cluster)` mirroring the parent layout.
  * Deterministic given the parent index (hash-priority sample +
  * seeded Lloyd per subspace, the U2 determinism stance). */
object IvfPq {
  /** Parent centroid table → driver map, via [[IvfIndex]]'s
    * byte-gated loadCentroids (same driver-OOM hazard, same
    * two-level-routing escape hatch — see that scaladoc; one gate,
    * one collect, one hint string to maintain). The sentinel-checking
    * readMeta runs FIRST: loadCentroids reads meta sentinel-blind
    * (probe paths re-check via requireFresh), but build/refresh's
    * first parent read must refuse a mid-rebuild parent UP FRONT —
    * otherwise they train/encode against a mix of old and new
    * clusters and, if the rebuild's sentinel clears before the final
    * re-stamp, publish codes stamped with the new generation. */
  private def centroidMap(spark: SparkSession,
      ivfPath: String): Map[Int, Array[Float]] = {
    IvfIndex.readMeta(ivfPath)
    IvfIndex.loadCentroids(spark, ivfPath).toMap
  }

  private def sub(v: Array[Float], c: Array[Float]): Array[Float] = {
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i) - c(i); i += 1 }
    out
  }

  /** nProbe nearest clusters to q, ties to the lowest cluster id. */
  private def probeClusters(cents: Map[Int, Array[Float]],
      q: Array[Float], nProbe: Int): Seq[Int] =
    cents.toSeq
      .map { case (c, cent) =>
        var d = 0.0; var i = 0
        while (i < q.length) {
          val diff = q(i).toDouble - cent(i); d += diff * diff; i += 1
        }
        (d, c)
      }
      .sorted.take(nProbe).map(_._2)

  /** Train residual codebooks over `ivfPath`'s assignments and encode
    * every indexed vector at `path`: `codebooks/`, `codes/cluster=<c>/`
    * (id, code BINARY), `ivfpq.json`. The parent index is read-only
    * input; rebuild the codes after heavy [[IvfIndex.append]] traffic
    * (same operating practice as centroid-drift rebuilds). */
  def build(spark: SparkSession, ivfPath: String, path: String,
      m: Int = 8, ks: Int = 256, seed: Long = 42L,
      trainCap: Long = 100000L, maxIter: Int = 10): Unit = {
    require(m > 0 && ks > 1 && ks <= 256,
      "[GRAFT] PQ needs 0 < m and 1 < ks <= 256 (one byte per code)")
    import spark.implicits._
    val cents = centroidMap(spark, ivfPath)
    val bcCents = spark.sparkContext.broadcast(cents)
    // centroid-scoped read: orphan dirs from a crashed parent rebalance
    // hold duplicate copies of split vectors — encoding them would
    // write duplicate codes
    val assign = IvfIndex.liveAssignments(spark, ivfPath)
      .select(col("id"), col("values"), col("cluster"))
    // compute-bound passes (ks·dim muladds per row): spread a
    // few-partition layout across the cores first, same stance as
    // [[IvfIndex.build]]'s assignment pass
    val parts = math.max(1, assign.rdd.getNumPartitions)
    val spreadAssign =
      if (parts < spark.sparkContext.defaultParallelism)
        assign.repartition(spark.sparkContext.defaultParallelism)
      else assign
    // residual stream (id, v − centroid): the training distribution
    val residuals = spreadAssign.as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val cm = bcCents.value
        it.map { case (id, v, c) => (id, sub(v, cm(c))) }
      }.toDF("id", "values")
    val train = IvfIndex.sampleVectors(residuals, trainCap, seed,
      minPerPart = ks, normalize = false)
    val dim = train.head.length
    require(dim % m == 0,
      s"[GRAFT] dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val books: Array[Array[Array[Float]]] = Array.tabulate(m) { j =>
      val subTrain = train.map(v => java.util.Arrays.copyOfRange(v,
        j * dsub, (j + 1) * dsub))
      IvfIndex.lloyd(subTrain, ks, maxIter, seed + j).map(_.map(_.toFloat))
    }
    val bookRows = for (j <- 0 until m; k <- 0 until ks)
      yield (j, k, books(j)(k))
    // same staged-rebuild + sentinel discipline as [[PqIndex.build]]
    val rebuilding = ArtifactIo.fileExists(path, "ivfpq.json")
    val bookTarget =
      if (rebuilding) s"$path/codebooks_stage" else s"$path/codebooks"
    val codesTarget =
      if (rebuilding) s"$path/codes_stage" else s"$path/codes"
    spark.createDataFrame(bookRows).toDF("subspace", "centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(bookTarget)
    val bcBooks = spark.sparkContext.broadcast(books)
    spreadAssign.as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val cm = bcCents.value; val bks = bcBooks.value
        it.map { case (id, v, c) =>
          (id, PqIndex.encodeOne(sub(v, cm(c)), bks, dsub), c)
        }
      }
      .toDF("id", "code", "cluster")
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(codesTarget)
    if (rebuilding) {
      ArtifactIo.writeSmallFileAtomic(path, RebuildSentinel, "1")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      ArtifactIo.swapIn(fs, path, "codebooks")
      ArtifactIo.swapIn(fs, path, "codes")
    }
    // record the parent's nAssign (a single-assignment parent can
    // never produce duplicate ids across probed partitions, so search
    // skips the dedup shuffle entirely — same distinction
    // [[IvfIndex.searchHydrated]] makes) AND the parent's clustering
    // generation: a later rebalance/rebuild/delete bumps the parent's
    // generation and every probe of this artifact refuses until
    // [[refresh]] re-heals + re-stamps
    val parent = IvfIndex.readMeta(ivfPath)
    writeMeta(path, PqMeta(m, ks, dim, seed, parent.nAssign,
      parent.generation))
    ArtifactIo.deleteFile(path, RebuildSentinel)
  }

  /** Same rebuild-sentinel contract as [[IvfIndex]]/[[PqIndex]] —
    * present = an in-progress or crashed rebuild; probes and refresh
    * refuse loudly until [[build]] is rerun. */
  private val RebuildSentinel = "ivfpq.rebuilding"

  /** Incremental maintenance — heals the artifact against the parent's
    * CURRENT state, then re-stamps the generation. Three repairs, each
    * touching only what changed:
    *
    *   1. DEAD DIRS: `codes/cluster=<c>/` whose cluster id left the
    *      parent's centroid table (a rebalance split it) are deleted —
    *      those vectors now live under new cluster ids and are
    *      re-encoded by step 3.
    *   2. DEAD IDS: codes whose id no longer exists in the parent
    *      ([[IvfIndex.deleteIds]] — the GDPR path): the affected
    *      cluster partitions are rewritten without them, with the same
    *      stage + rename-swap discipline as deleteIds itself.
    *   3. MISSING: every indexed vector without a code ([[
    *      IvfIndex.append]] traffic, or step 1's evictions) is encoded
    *      with the EXISTING codebooks (residual vs the CURRENT
    *      centroid) and appended to its cluster partition.
    *
    * Codebook drift from heavy appends/rebalances is the documented
    * trade (same stance as the parent's centroid drift): refresh keeps
    * the artifact LIVE and probe-legal, rebuild restores codebook
    * quality. Single-writer maintenance op. Returns the number of
    * newly encoded rows. */
  def refresh(spark: SparkSession, ivfPath: String,
      path: String): Long = {
    import spark.implicits._
    val meta = readMeta(path)
    val dsub = meta.dim / meta.m
    val cents = centroidMap(spark, ivfPath)
    val bcCents = spark.sparkContext.broadcast(cents)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // ---- 1. drop code dirs keyed by dead cluster ids ----
    val codesBase = new org.apache.hadoop.fs.Path(s"$path/codes")
    if (fs.exists(codesBase)) {
      fs.listStatus(codesBase).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("cluster=") &&
            !cents.contains(name.stripPrefix("cluster=").toInt))
          fs.delete(st.getPath, true)
      }
    }
    val assign = IvfIndex.liveAssignments(spark, ivfPath)
      .select(col("id"), col("values"), col("cluster"))
    val codes = spark.read.parquet(s"$path/codes")
      .select(col("id"), col("cluster"))
    // ---- 2. scrub codes for ids deleted from the parent. Affected
    // partitions only: a surviving code's vector keeps its cluster key
    // across deletes (deleteIds moves nothing), so the semi-join can
    // stay cluster-scoped. ----
    val deadClusters = codes
      .join(assign.select(col("id")), Seq("id"), "left_anti")
      .select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    deadClusters.foreach { c =>
      val dirC = s"$path/codes/cluster=$c"
      val keep = spark.read.parquet(dirC)
        .join(assign.filter(col("cluster") === c).select(col("id")),
          Seq("id"), "left_semi")
      val livePath = new org.apache.hadoop.fs.Path(dirC)
      if (keep.isEmpty) {
        fs.delete(livePath, true)
      } else {
        val stageDir = s"$path/codes_scrub_$c"
        keep.write.mode("overwrite").parquet(stageDir)
        val stagePath = new org.apache.hadoop.fs.Path(stageDir)
        val oldPath = new org.apache.hadoop.fs.Path(dirC + "_old")
        if (fs.exists(oldPath)) fs.delete(oldPath, true)
        if (!fs.rename(livePath, oldPath))
          throw new java.io.IOException(
            s"[GRAFT] refresh: cannot move $dirC")
        if (!fs.rename(stagePath, livePath)) {
          fs.rename(oldPath, livePath) // roll back
          throw new java.io.IOException(
            s"[GRAFT] refresh: cannot move $stageDir")
        }
        fs.delete(oldPath, true)
      }
    }
    // ---- 3. encode ASSIGNMENT ROWS that have no code yet — keyed on
    // (id, cluster), not id: a multiprobe vector (nAssign > 1) evicted
    // from a split cluster can keep a code in a surviving co-assigned
    // cluster, and an id-only anti-join would then never encode it
    // into the new clusters — silent recall loss stamped as fresh.
    // RE-LIST the code table: `codes` snapshotted its file listing
    // before step 2's swaps, so reusing it would chase renamed-away
    // part files ----
    val codedNow = spark.read.parquet(s"$path/codes")
      .select(col("id"), col("cluster"))
    val missing = assign.join(codedNow, Seq("id", "cluster"),
        "left_anti")
      .select(col("id"), col("values"), col("cluster"))
    val books = PqIndex.loadCodebooks(spark, path, meta.m, meta.ks)
    val bcBooks = spark.sparkContext.broadcast(books)
    val newCodes = missing.as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val cm = bcCents.value; val bks = bcBooks.value
        it.map { case (id, v, c) =>
          if (v.length != meta.dim)
            throw new graft.store.InvalidVectorException(
              s"[GRAFT] vector dimension mismatch at id=$id:" +
                s" expected ${meta.dim}, got ${v.length}")
          (id, PqIndex.encodeOne(sub(v, cm(c)), bks, dsub), c)
        }
      }
      .toDF("id", "code", "cluster")
      .persist()
    val n = newCodes.count()
    if (n > 0)
      newCodes.repartition(col("cluster"))
        .write.mode("append").partitionBy("cluster")
        .parquet(s"$path/codes")
    newCodes.unpersist()
    // ---- healed: re-stamp to the parent's current generation ----
    val parent = IvfIndex.readMeta(ivfPath)
    writeMeta(path, meta.copy(nAssign = parent.nAssign,
      gen = parent.generation))
    n
  }

  private[operators] case class PqMeta(m: Int, ks: Int, dim: Int,
      seed: Long, nAssign: Int, gen: Int)

  private def writeMeta(path: String, meta: PqMeta): Unit =
    ArtifactIo.writeSidecar(path, "ivfpq.json", "m" -> meta.m,
      "ks" -> meta.ks, "dim" -> meta.dim, "seed" -> meta.seed,
      "nAssign" -> meta.nAssign, "gen" -> meta.gen)

  private def readMeta(path: String): PqMeta = {
    require(!ArtifactIo.fileExists(path, RebuildSentinel),
      s"[GRAFT] IVF-PQ artifact at $path has an in-progress or " +
        "crashed rebuild (ivfpq.rebuilding present) — rerun " +
        "IvfPq.build")
    val m = ArtifactIo.readSidecar(path, "ivfpq.json")
    PqMeta(m.int("m"), m.int("ks"), m.int("dim"), m.long("seed"),
      m.intOr("nAssign", 1), m.intOr("gen", 1))
  }

  /** Refuse to probe with a stale artifact: the parent's clustering
    * generation moves on every rebalance / rebuild / deleteIds, and an
    * out-of-date code table silently returns degraded or deleted
    * candidates (codes keyed by dead cluster ids are simply never
    * scanned; deleted vectors still score). Fail loudly instead. */
  private def requireFresh(meta: PqMeta, ivfPath: String): Unit = {
    val parentGen = IvfIndex.generationOf(ivfPath)
    if (meta.gen != parentGen)
      throw new IllegalStateException(
        s"[GRAFT] stale IVF-PQ artifact: built against index generation " +
          s"${meta.gen}, index is now at generation $parentGen " +
          "(rebalance/rebuild/delete since build) — run IvfPq.refresh " +
          "or rebuild the artifact")
  }

  /** Everything both search stages need, computed ONCE per query:
    * normalized query, parent centroids, probed cluster ids. */
  private case class Probe(m: Int, ks: Int, dim: Int, nAssign: Int,
      metric: Metric, q: Array[Float], cents: Map[Int, Array[Float]],
      probed: Seq[Int])

  private def probe(spark: SparkSession, ivfPath: String, path: String,
      query: Array[Float], nProbe: Int): Probe = {
    val meta = readMeta(path)
    requireFresh(meta, ivfPath)
    if (query.length != meta.dim)
      throw new graft.store.InvalidVectorException(
        s"[GRAFT] vector dimension mismatch: expected ${meta.dim}, got ${query.length}")
    val metric = Metric.parse(IvfIndex.metricOf(ivfPath))
    val q = if (metric == Metric.Cosine) IvfIndex.l2normalize(query)
      else query
    val cents = centroidMap(spark, ivfPath)
    Probe(meta.m, meta.ks, meta.dim, meta.nAssign, metric, q, cents,
      probeClusters(cents, q, nProbe))
  }

  /** ADC top-k over the nProbe nearest clusters only: (id, adist)
    * ascending. Per probed cluster the lookup table is built from the
    * RESIDUAL query `q − centroid_c` (asymmetric distance in residual
    * space — exact for the query side, quantized for the data side).
    * Reads only existing `codes/cluster=<c>/` directories (empty
    * k-means clusters have none), O(nProbe) paths listed. A vector
    * stored in several clusters by a multiprobe parent index scores
    * once per shared probed cluster; the min wins before top-k.
    *
    * `allowed` pre-filters: code rows semi-join the allowed-id set
    * BEFORE ADC scoring (same semantics as
    * [[IvfIndex.searchFiltered]]), so the top-k fills from allowed
    * vectors whenever the probed clusters hold enough of them. */
  def search(spark: SparkSession, ivfPath: String, path: String,
      query: Array[Float], k: Int, nProbe: Int = 16,
      allowed: Option[DataFrame] = None,
      allowedRows: Long = -1L): DataFrame =
    adcTopK(spark, path, probe(spark, ivfPath, path, query, nProbe), k,
      allowed.map(BroadcastGate.allowedSide(_, allowedRows, "search")))

  private def adcTopK(spark: SparkSession, path: String, p: Probe,
      k: Int, allowSide: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val dsub = p.dim / p.m
    val books = PqIndex.loadCodebooks(spark, path, p.m, p.ks)
    // per-probed-cluster ADC tables in residual space — nProbe × m ×
    // ks doubles, broadcast as one map
    val tables: Map[Int, Array[Array[Double]]] = p.probed.map { c =>
      c -> PqIndex.adcTable(sub(p.q, p.cents(c)), books, dsub)
    }.toMap
    val existing = IvfIndex.existingClusterDirs(spark, s"$path/codes",
      p.probed)
    if (existing.isEmpty)
      return spark.range(0).select(col("id"), lit(0.0).as("adist"))
    val bt = spark.sparkContext.broadcast(tables)
    val codeRows0 = spark.read.option("basePath", s"$path/codes")
      .parquet(existing: _*)
      .select(col("id"), col("code"), col("cluster"))
    // pre-filter: thin code rows before the ADC kernel (see search())
    val codeRows = allowSide match {
      case Some(side) => codeRows0.join(side, Seq("id"), "left_semi")
      case None => codeRows0
    }
    val scored = codeRows
      .as[(Long, Array[Byte], Int)]
      .mapPartitions { it =>
        val ts = bt.value
        it.map { case (id, code, c) =>
          val t = ts(c)
          var d = 0.0; var j = 0
          while (j < t.length) { d += t(j)(code(j) & 0xff); j += 1 }
          (id, d)
        }
      }
      .toDF("id", "adist")
    // single-assignment parent ⇒ ids are unique across partitions:
    // plain orderBy+limit compiles to TakeOrderedAndProject (k rows
    // per partition shuffled); only a multiprobe parent needs the
    // min-per-id combine first
    val deduped = if (p.nAssign > 1)
      scored.groupBy(col("id")).agg(min(col("adist")).as("adist"))
    else scored
    deduped.orderBy(col("adist").asc, col("id").asc).limit(k)
  }

  /** Two-stage IVF-PQ search: ADC top-(k·overfetch) within the probed
    * clusters, then exact re-rank reading raw vectors ONLY for those
    * candidates — the candidate ids (k·overfetch, driver-safe by
    * construction) become a pushed-down `id IN (…)` parquet filter
    * over the probed partitions of the parent index, so the refine
    * stage touches row groups containing candidates instead of
    * rescanning the probe set's floats. Output: (id, distance) in the
    * parent index's metric, ascending, k rows.
    *
    * Defaults (nProbe=16, overfetch=8) are the measured >=0.8-recall
    * operating point on the published curves (BENCHREPORT.md): IVF-PQ
    * recall is ceiling-bounded by the PARENT probe, so the lever is
    * nProbe, not m — nProbe=4 of a few dozen centroids is a coin-flip
    * on uniform corpora. The `ann_ivfpq_pruned` acceptance row gates
    * exactly this operating point.
    *
    * `allowed` pre-filters BOTH stages: ADC candidates semi-join the
    * allowed-id set before scoring (so the overfetch pool is all
    * allowed), and the refine re-ranks only those candidates — the
    * compressed twin of [[IvfIndex.searchFiltered]]. */
  def searchRefined(spark: SparkSession, ivfPath: String, path: String,
      query: Array[Float], k: Int, nProbe: Int = 16,
      overfetch: Int = 8, allowed: Option[DataFrame] = None,
      allowedRows: Long = -1L): DataFrame = {
    import spark.implicits._
    // probe state (centroid read + top-k + dir listing) is computed
    // once and shared by both stages
    val p = probe(spark, ivfPath, path, query, nProbe)
    val candIds = adcTopK(spark, path, p, k * overfetch,
        allowed.map(BroadcastGate.allowedSide(_, allowedRows,
          "searchRefined")))
      .select(col("id")).as[Long].collect()
    val existing = IvfIndex.existingClusterDirs(spark,
      s"$ivfPath/assignments", p.probed)
    if (existing.isEmpty || candIds.isEmpty)
      return spark.range(0).select(col("id"), lit(0.0).as("distance"))
    val pruned = spark.read
      .option("basePath", s"$ivfPath/assignments")
      .parquet(existing: _*)
      .filter(col("id").isin(candIds.toIndexedSeq: _*))
      // a multiprobe parent stores a vector once per assigned cluster;
      // identical copies, so the id-dedup is deterministic
      .dropDuplicates("id")
      .select(col("id"), col("values"))
    Knn.exact(pruned, p.q, k, p.metric).select(col("id"), col("distance"))
  }

  /** BATCH two-stage IVF-PQ search: top-k for EVERY query row in one
    * job — the compressed twin of [[IvfIndex.searchBatch]] and the
    * scale path for query workloads over an IVF-PQ artifact
    * (per-query [[searchRefined]] launches 2 jobs per query). Shape:
    *
    *   1. queries are assigned to their nProbe nearest clusters with
    *      the parent's own broadcast-argmin kernel
    *      ([[IvfIndex.assignRows]] — same normalization and tiebreak
    *      rules as build), so probe selection matches [[search]];
    *   2. the union of touched `codes/cluster=` dirs is scanned ONCE;
    *      each code row joins only the queries probing ITS cluster
    *      (size-gated broadcast hash join on `cluster`, the
    *      searchBatch gate);
    *   3. ADC scoring per (code, query) pair in one mapPartitions
    *      kernel, bit-identical to the table path: the residual lane
    *      `(q − centroid)` is formed in float and accumulated in
    *      double exactly as [[PqIndex.adcTable]] does, so per-pair
    *      direct evaluation (O(dim), reading 32×-compressed codes)
    *      equals a table lookup without materializing |Q|·nProbe
    *      tables;
    *   4. per-query ADC top-(k·overfetch) via the [[TopKByDistance]]
    *      partial aggregate (≤ k·overfetch rows per query per
    *      partition cross the shuffle);
    *   5. REFINE: candidate ids join the parent's raw vectors in the
    *      touched partitions (broadcast the candidate set), exact
    *      re-rank per query, final top-k.
    *
    * Output: (qid, id, distance, rank) in the parent's metric —
    * per-query rows equal [[searchRefined]]'s (PqSpec pins parity).
    * Defaults follow [[searchRefined]]'s measured operating point.
    *
    * `allowed` pre-filters the scanned code rows before ADC scoring
    * (semantics of [[IvfIndex.searchBatch]]'s filter); the refine
    * stage re-ranks only the resulting allowed candidates. */
  def searchBatch(spark: SparkSession, ivfPath: String, path: String,
      queries: DataFrame, k: Int, nProbe: Int = 16, overfetch: Int = 8,
      qidCol: String = "qid", qvecCol: String = "qvalues",
      allowed: Option[DataFrame] = None,
      allowedRows: Long = -1L): DataFrame = {
    import spark.implicits._
    import TopKByDistance.topk
    val meta = readMeta(path)
    requireFresh(meta, ivfPath)
    val metric = Metric.parse(IvfIndex.metricOf(ivfPath))
    val dsub = meta.dim / meta.m
    val cents = centroidMap(spark, ivfPath)
    val centArr = cents.toArray.sortBy(_._1)
    val emptyOut = () => spark.range(0)
      .select(col("id").as("qid"), col("id"),
        lit(0.0).as("distance"), lit(0).as("rank"))
    // cache once: the batch is read by the sizing count AND the
    // assignment kernel — caching keeps them consistent for a
    // nondeterministic source and makes the sizing pass cheap
    val q = queries.persist()
    // same probe-selection rule as the parent (normalize for cosine,
    // euclidean argmin, ties to the lowest cluster id)
    val assigned = IvfIndex.assignRows(
      q.select(col(qidCol).cast("long").as("id"),
        col(qvecCol).cast("array<float>").as("values")),
      centArr, math.min(nProbe, centArr.length),
      normalize = metric == Metric.Cosine)
      .select(col("id").as("qid"), col("values").as("qv"),
        col("cluster"))
    val touched = assigned.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    val existingCodes = IvfIndex.existingClusterDirs(spark,
      s"$path/codes", touched.toIndexedSeq)
    if (existingCodes.isEmpty)
      return CacheScope.releaseWith(emptyOut(), q)
    // one count sizes all three broadcast gates (the searchBatch
    // stance: hint only what plausibly fits executor memory, leave the
    // rest to the planner); bytes, not rows — dim from the index meta
    // ([[BroadcastGate]]), so a wide-vector batch can't slip a
    // multi-GB broadcast past a row-count threshold
    val qCount = q.count()
    val qSide = BroadcastGate.gated(assigned,
      qCount * math.min(nProbe, centArr.length), meta.dim)
    val books = PqIndex.loadCodebooks(spark, path, meta.m, meta.ks)
    val bcBooks = spark.sparkContext.broadcast(books)
    val bcCents = spark.sparkContext.broadcast(cents)
    val codeRows0 = spark.read.option("basePath", s"$path/codes")
      .parquet(existingCodes: _*)
      .select(col("id"), col("code"), col("cluster"))
    // pre-filter: thin code rows before the query join + ADC kernel
    val codeRows = allowed match {
      case Some(a) =>
        codeRows0.join(BroadcastGate.allowedSide(a, allowedRows,
          "searchBatch"), Seq("id"), "left_semi")
      case None => codeRows0
    }
    val scored0 = codeRows.join(qSide, Seq("cluster"))
      .select(col("qid"), col("qv"), col("id"), col("code"),
        col("cluster"))
      .as[(Long, Array[Float], Long, Array[Byte], Int)]
      .mapPartitions { it =>
        val bks = bcBooks.value; val cm = bcCents.value
        it.map { case (qid, qv, id, code, c) =>
          // bit-identical to the adcTable(sub(q, centroid)) path: the
          // residual lane is float-subtracted (like sub()), each
          // subspace accumulates into its OWN double (like a table
          // entry), and the per-subspace sums are then added in j
          // order (like the table scan) — same rounding sequence
          val cent = cm(c)
          var d = 0.0; var j = 0
          while (j < bks.length) {
            val bc = bks(j)(code(j) & 0xff)
            val off = j * dsub
            var s = 0.0
            var i = 0
            while (i < dsub) {
              val r = qv(off + i) - cent(off + i)
              val diff = r.toDouble - bc(i)
              s += diff * diff
              i += 1
            }
            d += s
            j += 1
          }
          (qid, id, d)
        }
      }
      .toDF("qid", "id", "adist")
    // multiprobe parent: one id can score in several probed clusters
    // of the same query — identical codes, but keep the min like
    // [[adcTopK]] before the top-k
    val scored = if (meta.nAssign > 1)
      scored0.groupBy(col("qid"), col("id"))
        .agg(min(col("adist")).as("adist"))
    else scored0
    val cands = scored
      .groupBy(col("qid"))
      .agg(topk(col("adist"), col("id"), k * overfetch).as("topk"))
      .select(col("qid"), explode(col("topk.id")).as("id"))
    // ---- refine: raw vectors for candidates only, from the touched
    // parent partitions (candidates are |Q|·k·overfetch rows — the
    // broadcast side of the id join by construction) ----
    val existingAssign = IvfIndex.existingClusterDirs(spark,
      s"$ivfPath/assignments", touched.toIndexedSeq)
    if (existingAssign.isEmpty)
      return CacheScope.releaseWith(emptyOut(), q)
    val raw0 = spark.read
      .option("basePath", s"$ivfPath/assignments")
      .parquet(existingAssign: _*)
      .select(col("id"), col("values"))
    val raw = if (meta.nAssign > 1) raw0.dropDuplicates("id") else raw0
    val qVecs = assigned.select(col("qid"), col("qv"))
      .dropDuplicates("qid")
    val qv2 = BroadcastGate.gated(qVecs, qCount, meta.dim)
    // candidate rows are (qid, id) pairs — dim 0, overhead-sized
    val candSide = BroadcastGate.gated(cands,
      qCount * k * overfetch, 0)
    // the query cache is GC-scoped to the result ([[CacheScope]])
    CacheScope.releaseWith(raw.join(candSide, Seq("id"))
      .join(qv2, Seq("qid"))
      .select(col("qid"), col("id"),
        metric.dist(col("values"), col("qv")).as("distance"))
      .groupBy(col("qid"))
      .agg(topk(col("distance"), col("id"), k).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(col("qid"), col("r.id").as("id"),
        col("r.distance").as("distance"), (col("pos") + 1).as("rank")),
      q)
  }
}
