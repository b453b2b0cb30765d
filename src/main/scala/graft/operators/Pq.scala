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

  /** The shared vector-index lifecycle (sentinel-guarded rebuild). */
  private val Artifact = ArtifactIo.VectorIndex("pq.json", "PQ artifact",
    "PqIndex.build", Seq("codebooks", "codes"))

  private def readMeta(path: String): Meta = {
    val m = Artifact.readMeta(path)
    Meta(m.int("m"), m.int("ks"), m.int("dim"), m.str("metric"),
      m.long("seed"))
  }

  private[operators] def requireCodeShape(m: Int, ks: Int): Unit =
    require(m > 0 && ks > 1 && ks <= 256,
      "[GRAFT] PQ needs 0 < m and 1 < ks <= 256 (one byte per code)")

  /** Per-subspace codebooks over a training sample: each vector splits
    * into `m` subvectors of dim/m lanes and Lloyd runs per subspace for
    * `ks` centroids (subspace j seeded `seed + j`, so codebooks are
    * independent draws). codebooks(j)(k) = centroid k of subspace j. */
  private[operators] def trainCodebooks(train: Array[Array[Float]], m: Int,
      ks: Int, maxIter: Int, seed: Long): Array[Array[Array[Float]]] = {
    val dim = train.head.length
    require(dim % m == 0,
      s"[GRAFT] dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = train.map(v => java.util.Arrays.copyOfRange(v, j * dsub,
        (j + 1) * dsub))
      IvfIndex.lloyd(sub, ks, maxIter, seed + j).map(_.map(_.toFloat))
    }
  }

  /** `codebooks/` (subspace, centroid_id, centroid) — one file. */
  private[operators] def writeCodebooks(spark: SparkSession,
      books: Array[Array[Array[Float]]], target: String): Unit = {
    val rows = for (j <- books.indices; k <- books(j).indices)
      yield (j, k, books(j)(k))
    spark.createDataFrame(rows).toDF("subspace", "centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(target)
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
    requireCodeShape(m, ks)
    val spark = base.sparkSession
    import spark.implicits._
    val spherical = metric == Metric.Cosine
    val prepared = base.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("values"))
    val train = IvfIndex.sampleVectors(prepared, trainCap, seed,
      minPerPart = ks, normalize = spherical)
    val dim = train.head.length
    val books = trainCodebooks(train, m, ks, maxIter, seed)
    val dsub = dim / m
    Artifact.rebuild(path) { target =>
      writeCodebooks(spark, books, target("codebooks"))
      // ---- encode pass (spread to all cores): broadcast codebooks,
      // argmin per subspace
      val bc = spark.sparkContext.broadcast(books)
      WorkCols.spread(prepared).as[(Long, Array[Float])]
        .mapPartitions { it =>
          val bks = bc.value
          it.map { case (id, v0) =>
            // ragged rows that escaped the bounded sample must fail
            // loudly here, not crash the argmin or truncate silently
            IvfIndex.requireDim(id, v0, dim)
            val v = if (spherical) IvfIndex.l2normalize(v0) else v0
            (id, encodeOne(v, bks, dsub))
          }
        }
        .toDF("id", "code")
        .write.mode("overwrite").parquet(target("codes"))
      Seq("m" -> m, "ks" -> ks, "dim" -> dim, "metric" -> metric.name,
        "seed" -> seed)
    }
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
    val q = IvfIndex.prepareQuery(query, meta.dim, Metric.parse(meta.metric))
    val dsub = meta.dim / meta.m
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
  /** The shared vector-index lifecycle (sentinel-guarded rebuild). */
  private val Artifact = ArtifactIo.VectorIndex("ivfpq.json",
    "IVF-PQ artifact", "IvfPq.build", Seq("codebooks", "codes"))

  /** The parent's guarded meta and its byte-gated centroid table
    * ([[IvfIndex.loadCentroids]] — one gate, one collect, one hint
    * string). The guarded read comes first, so build/refresh refuse a
    * mid-rebuild parent UP FRONT instead of training/encoding against
    * a mix of old and new clusters. */
  private def parent(spark: SparkSession,
      ivfPath: String): (IvfIndex.Meta, Array[(Int, Array[Float])]) = {
    val meta = IvfIndex.readMeta(ivfPath)
    (meta, IvfIndex.loadCentroids(spark, ivfPath, meta))
  }

  private def sub(v: Array[Float], c: Array[Float]): Array[Float] = {
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i) - c(i); i += 1 }
    out
  }

  /** Train residual codebooks over `ivfPath`'s assignments and encode
    * every indexed vector at `path`: `codebooks/`, `codes/cluster=<c>/`
    * (id, code BINARY), `ivfpq.json`. The parent index is read-only
    * input; rebuild the codes after heavy [[IvfIndex.append]] traffic
    * (same operating practice as centroid-drift rebuilds). */
  def build(spark: SparkSession, ivfPath: String, path: String,
      m: Int = 8, ks: Int = 256, seed: Long = 42L,
      trainCap: Long = 100000L, maxIter: Int = 10): Unit = {
    PqIndex.requireCodeShape(m, ks)
    import spark.implicits._
    val (parentMeta, centArr) = parent(spark, ivfPath)
    val bcCents = spark.sparkContext.broadcast(centArr.toMap)
    // centroid-scoped read: orphan dirs from a crashed parent rebalance
    // hold duplicate copies of split vectors — encoding them would
    // write duplicate codes. Compute-bound passes (ks·dim muladds per
    // row) — spread across the cores first
    val spreadAssign = WorkCols.spread(
      IvfIndex.liveAssignments(spark, ivfPath)
        .select(col("id"), col("values"), col("cluster")))
    // residual stream (id, v − centroid): the training distribution
    val residuals = spreadAssign.as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val cm = bcCents.value
        it.map { case (id, v, c) => (id, sub(v, cm(c))) }
      }.toDF("id", "values")
    val train = IvfIndex.sampleVectors(residuals, trainCap, seed,
      minPerPart = ks, normalize = false)
    val dim = train.head.length
    val books = PqIndex.trainCodebooks(train, m, ks, maxIter, seed)
    val dsub = dim / m
    Artifact.rebuild(path) { target =>
      PqIndex.writeCodebooks(spark, books, target("codebooks"))
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
        .parquet(target("codes"))
      // record the parent's nAssign (a single-assignment parent can
      // never produce duplicate ids across probed partitions, so search
      // skips the dedup shuffle entirely — same distinction
      // [[IvfIndex.searchHydrated]] makes) AND the clustering
      // generation the codes were encoded against: a later
      // rebalance/rebuild/delete bumps the parent's generation and
      // every probe of this artifact refuses until [[refresh]]
      // re-heals + re-stamps
      metaFields(PqMeta(m, ks, dim, seed, parentMeta.nAssign,
        parentMeta.generation))
    }
  }

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
    val (parentMeta, centArr) = parent(spark, ivfPath)
    val cents = centArr.toMap
    val bcCents = spark.sparkContext.broadcast(cents)
    val fs = ArtifactIo.fsOf(path)
    val codesBase = s"$path/codes"
    // ---- 1. drop code dirs keyed by dead cluster ids. The writer-side
    // listing settles swap debris first, so every scan below reads
    // integer cluster dirs only ----
    val (liveCodes, deadCodes) =
      IvfIndex.clusterDirsForWrite(codesBase).partition(cents.contains)
    deadCodes.foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$codesBase/cluster=$c"), true)
    }
    // (id, cluster) of the stored codes, RE-LISTED per call: a scan
    // that snapshotted its file listing before step 2's swaps would
    // chase renamed-away part files
    def coded(): Option[DataFrame] =
      IvfIndex.readClusters(spark, codesBase, liveCodes)
        .map(_.select(col("id"), col("cluster")))
    val assign = IvfIndex.liveAssignments(spark, ivfPath)
      .select(col("id"), col("values"), col("cluster"))
    // ---- 2. scrub codes for ids deleted from the parent. Affected
    // partitions only: a surviving code's vector keeps its cluster key
    // across deletes (deleteIds moves nothing), so the semi-join can
    // stay cluster-scoped. ----
    val deadClusters = coded().fold(Array.empty[Int])(
      _.join(assign.select(col("id")), Seq("id"), "left_anti")
        .select(col("cluster")).distinct()
        .collect().map(_.getInt(0)).sorted)
    deadClusters.foreach { c =>
      val keep = spark.read.parquet(s"$codesBase/cluster=$c")
        .join(assign.filter(col("cluster") === c).select(col("id")),
          Seq("id"), "left_semi")
      if (keep.isEmpty)
        fs.delete(new org.apache.hadoop.fs.Path(s"$codesBase/cluster=$c"), true)
      else
        ArtifactIo.stagedSwap(fs, codesBase, s"cluster=$c",
          "IVF-PQ refresh")(keep.write.mode("overwrite").parquet(_))
    }
    // ---- 3. encode ASSIGNMENT ROWS that have no code yet — keyed on
    // (id, cluster), not id: a multiprobe vector (nAssign > 1) evicted
    // from a split cluster can keep a code in a surviving co-assigned
    // cluster, and an id-only anti-join would then never encode it
    // into the new clusters — silent recall loss stamped as fresh ----
    val missing = coded().fold(assign)(
        assign.join(_, Seq("id", "cluster"), "left_anti"))
      .select(col("id"), col("values"), col("cluster"))
    val books = PqIndex.loadCodebooks(spark, path, meta.m, meta.ks)
    val bcBooks = spark.sparkContext.broadcast(books)
    val newCodes = missing.as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val cm = bcCents.value; val bks = bcBooks.value
        it.map { case (id, v, c) =>
          IvfIndex.requireDim(id, v, meta.dim)
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
    // ---- healed: re-stamp to the generation the repairs read ----
    Artifact.writeMeta(path, metaFields(meta.copy(
      nAssign = parentMeta.nAssign, gen = parentMeta.generation)): _*)
    n
  }

  private[operators] case class PqMeta(m: Int, ks: Int, dim: Int,
      seed: Long, nAssign: Int, gen: Int)

  private def metaFields(meta: PqMeta): Seq[(String, Any)] = Seq(
    "m" -> meta.m, "ks" -> meta.ks, "dim" -> meta.dim, "seed" -> meta.seed,
    "nAssign" -> meta.nAssign, "gen" -> meta.gen)

  private def readMeta(path: String): PqMeta = {
    val m = Artifact.readMeta(path)
    PqMeta(m.int("m"), m.int("ks"), m.int("dim"), m.long("seed"),
      m.intOr("nAssign", 1), m.intOr("gen", 1))
  }

  /** Refuse to probe with a stale artifact: the parent's clustering
    * generation moves on every rebalance / rebuild / deleteIds, and an
    * out-of-date code table silently returns degraded or deleted
    * candidates (codes keyed by dead cluster ids are simply never
    * scanned; deleted vectors still score). Fail loudly instead. */
  private def requireFresh(meta: PqMeta, parentGen: Int): Unit = {
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
    val parentMeta = IvfIndex.readMeta(ivfPath)
    requireFresh(meta, parentMeta.generation)
    val metric = Metric.parse(parentMeta.metric)
    val q = IvfIndex.prepareQuery(query, meta.dim, metric)
    val cents = IvfIndex.loadCentroids(spark, ivfPath, parentMeta)
    Probe(meta.m, meta.ks, meta.dim, meta.nAssign, metric, q, cents.toMap,
      IvfIndex.nearestClusters(cents, q, nProbe))
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
    val codeRows0 = IvfIndex.readClusters(spark, s"$path/codes", p.probed)
      .getOrElse(
        return spark.range(0).select(col("id"), lit(0.0).as("adist")))
      .select(col("id"), col("code"), col("cluster"))
    val bt = spark.sparkContext.broadcast(tables)
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
    val rows = IvfIndex.readClusters(spark, s"$ivfPath/assignments",
      p.probed)
    if (rows.isEmpty || candIds.isEmpty)
      return spark.range(0).select(col("id"), lit(0.0).as("distance"))
    val pruned = rows.get
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
    val parentMeta = IvfIndex.readMeta(ivfPath)
    requireFresh(meta, parentMeta.generation)
    val metric = Metric.parse(parentMeta.metric)
    val dsub = meta.dim / meta.m
    val centArr = IvfIndex.loadCentroids(spark, ivfPath, parentMeta)
    val emptyOut = () => spark.range(0)
      .select(col("id").as("qid"), col("id"),
        lit(0.0).as("distance"), lit(0).as("rank"))
    // cache once: the batch is read by the sizing count AND the
    // assignment kernel — caching keeps them consistent for a
    // nondeterministic source and makes the sizing pass cheap
    val q = queries.persist()
    val (assigned, touched) = IvfIndex.assignQueries(q, qidCol, qvecCol,
      centArr, nProbe, metric)
    val codeRows0 = IvfIndex.readClusters(spark, s"$path/codes", touched)
      .getOrElse(return CacheScope.releaseWith(emptyOut(), q))
      .select(col("id"), col("code"), col("cluster"))
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
    val bcCents = spark.sparkContext.broadcast(centArr.toMap)
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
    val raw0 = IvfIndex.readClusters(spark, s"$ivfPath/assignments", touched)
      .getOrElse(return CacheScope.releaseWith(emptyOut(), q))
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
