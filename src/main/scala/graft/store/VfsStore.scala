package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{vfs_dequantize, vfs_quantize}
import graft.operators.ArtifactIo

/** Error taxonomy mirroring the reference's `VFSError`
  * (vfs/src/vfs/err.rs:10-17): Io / Memtable / InvalidVector /
  * IdGeneration / Serialization. */
sealed abstract class VfsException(msg: String) extends RuntimeException(msg)
final class InvalidVectorException(msg: String) extends VfsException(msg)
final class StoreStateException(msg: String) extends VfsException(msg)
final class NotFoundException(msg: String) extends VfsException(msg)

/** One ingested record (dense form). Schema per SURVEY §1.1. */
case class VfsRecord(id: Long, values: Array[Float], name: String,
    tags: Seq[String], created_at: java.sql.Timestamp)

/** Engine state persisted per commit — the analog of the reference's
  * `VFSState {name, next_id, current_offset, index_map, quantize}`
  * (vfs/src/vfs/storage_manager.rs:18-26). `commits` (the list of
  * committed data directories) plays the role of
  * `current_offset`+`index_map`: it defines exactly which bytes are
  * visible, so snapshot/restore get true isolation on an append-only
  * store. */
case class VfsManifest(name: String, dim: Int, quantize: Boolean,
    nextId: Long, commits: Seq[String]) {
  def toJson: String = ArtifactIo.encode("name" -> name, "dim" -> dim,
    "quantize" -> quantize, "nextId" -> nextId, "commits" -> commits)
}

object VfsManifest {
  /** A missing or malformed key is a typed store-state error:
    * `bad manifest: <key>`. */
  def fromJson(s: String): VfsManifest = {
    val m = ArtifactIo.decode("manifest", s)
    VfsManifest(m.str("name"), m.int("dim"), m.bool("quantize"),
      m.long("nextId"), m.strs("commits"))
  }
}

/** Spark-native vector store with the reference's storage semantics
  * (vfs/src/vfs/storage_manager.rs):
  *
  *   - memtable ingest with auto-flush at `flushThreshold` records
  *     (storage_manager.rs:12, 306-314)
  *   - monotonic contiguous id assignment from 1 (storage_manager.rs:126-130)
  *   - quantize-on-write / dequantize-on-read when `quantize` is set
  *     (storage_manager.rs:143-149, 202-210), with the name/tag mangling
  *     of vector.rs:115-123 / 145-151
  *   - read-your-writes: reads union the unflushed memtable (storage_manager.rs:236-240)
  *   - snapshot/restore of engine state (storage_manager.rs:367-427)
  *
  * Physical layout (all under `root`):
  *   manifest.json            — current VfsManifest
  *   data/c<epoch>-<n>/ (parquet) — one directory per committed batch
  *   snapshots/<name>.json    — saved manifests
  *
  * Scale notes: data is plain parquet readable by any engine; a commit
  * is one atomic manifest swap (rename), so a 1000-executor write is
  * one `df.write.parquet` + one tiny driver-side rename. Reads prune
  * columns/predicates through to parquet. The driver-side memtable is
  * an API-parity device for record-at-a-time inserts (bounded at
  * `flushThreshold` rows); bulk ingest goes through `appendBatch`.
  */
class VfsStore private (val spark: SparkSession, val root: String,
    @volatile private var manifest: VfsManifest,
    val flushThreshold: Int = VfsStore.DefaultFlushThreshold) {

  import VfsStore._

  // insertion-ordered write buffer — the memtable analog
  // (IndexMap<u64, VFSVector>, storage_manager.rs:64)
  private val memtable = mutable.LinkedHashMap.empty[Long, VfsRecord]

  def name: String = manifest.name
  def dim: Int = manifest.dim
  def quantized: Boolean = manifest.quantize
  /** `next_id - 1` count estimate (storage_manager.rs:302-304). */
  def countEstimate: Long = manifest.nextId - 1

  /** true iff unflushed memtable rows exist (read() unions them) */
  def hasUnflushed: Boolean = synchronized(memtable.nonEmpty)

  /** Per-store monotonic commit-dir disambiguator: a millisecond
    * timestamp alone collides when two rewrites (delete/compact) land
    * in the same ms — the second overwrite would then target the very
    * directory the first commit (and its lazy readers) reference. */
  private val commitSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def commitDirName(suffix: String): String =
    f"c${System.currentTimeMillis()}%013d-${commitSeq.incrementAndGet()}%04d-$suffix"

  private def manifestPath = Paths.get(root, "manifest.json")

  /** The raw physical frame over every committed directory. */
  private def committedRaw(): DataFrame = readDirs(manifest.commits)

  /** The physical schema of every commit dir: [[writeCommitDir]]
    * writes it and every rewrite (upsert, delete, compact) copies
    * those rows. */
  private def rawSchema: StructType =
    if (manifest.quantize) quantSchema else denseSchema

  /** The raw physical frame over the given commit directories, read
    * with the known [[rawSchema]]: a plain `spark.read.parquet` would
    * first run a footer-inference job to rediscover it, one extra Spark
    * job on every store read. */
  private def readDirs(dirs: Seq[String]): DataFrame =
    spark.read.schema(rawSchema).parquet(dirs.map(c => s"$root/data/$c"): _*)

  /** Provenance: the immediate parent dir of each row's file IS its
    * commit dir (commit names are engine-generated, slash-free). ONE
    * copy shared by the match-pruned rewrites ([[upsertBatch]],
    * [[deleteWhere]]) so the extraction cannot silently diverge. */
  private def commitDirCol: org.apache.spark.sql.Column =
    regexp_extract(input_file_name(), "/([^/]+)/[^/]*$", 1)

  /** Driver-side dir-name set of a frame carrying a `__dir` column —
    * bounded by the commit count. */
  private def collectCommitDirs(rows: DataFrame): Set[String] =
    rows.select(col("__dir")).distinct()
      .collect().map(_.getString(0)).toSet

  /** Write `m` to `target` via a sibling tmp file + atomic rename, so
    * a crash mid-write leaves the previous file, never a truncated
    * one. */
  private def writeManifestAtomic(target: java.nio.file.Path,
      m: VfsManifest): Unit = {
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    Files.write(tmp, m.toJson.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def commitManifest(m: VfsManifest): Unit = synchronized {
    writeManifestAtomic(manifestPath, m)
    manifest = m
  }

  /** Validation guards F1/F3 (tcp.rs:307-312, storage_manager.rs:319-321). */
  private def validate(values: Array[Float]): Unit = {
    if (values.isEmpty)
      throw new InvalidVectorException("[GRAFT] vector cannot be empty")
    if (values.length != manifest.dim)
      throw new InvalidVectorException(
        s"[GRAFT] vector dimension mismatch: expected ${manifest.dim}, got ${values.length}")
  }

  /** Record-at-a-time ingest (the `/vectors` POST path, tcp.rs:301-363):
    * allocates the next contiguous id, stamps created_at, buffers in the
    * memtable, auto-flushes at the threshold. Returns the assigned id. */
  def insert(values: Array[Float], name: String, tags: Seq[String]): Long =
    synchronized {
      validate(values)
      val id = manifest.nextId
      // bump nextId durably so ids never repeat even if the memtable is lost
      commitManifest(manifest.copy(nextId = id + 1))
      memtable.put(id, VfsRecord(id, values, name, tags,
        new java.sql.Timestamp(System.currentTimeMillis())))
      if (memtable.size >= flushThreshold) flush()
      id
    }

  /** Drain the memtable to a parquet commit (storage_manager.rs:139-162). */
  def flush(): Unit = synchronized {
    if (memtable.nonEmpty) {
      val rows = memtable.values.toSeq
      memtable.clear()
      val df = spark.createDataFrame(rows)
        .select(col("id"), col("values"), col("name"), col("tags"),
          col("created_at"))
      val dir = writeCommitDir(df)
      commitManifest(manifest.copy(commits = manifest.commits :+ dir))
    }
  }

  /** Bulk distributed ingest: assigns contiguous ids [nextId, nextId+n)
    * without a global shuffle, stamps created_at, quantizes if
    * configured, commits. Two-phase id assignment (the
    * `curriculumInterleave` pattern): phase 1 counts rows per
    * partition (one narrow job, which also yields the commit's total
    * row count up front), phase 2 tags each row with
    * `base + partitionOffset + localIndex` INSIDE the write job — vs
    * `zipWithIndex`, which runs the same counting job but leaves the
    * total unknown, forcing a third footer-count job per append.
    * The commit-list update and the nextId bump land in ONE atomic
    * manifest swap, so a crash mid-append can orphan a data directory
    * (invisible, vacuumable) but can never double-assign ids.
    * Input schema: values ARRAY<FLOAT>, name STRING, tags ARRAY<STRING>. */
  def appendBatch(input: DataFrame): Long = synchronized {
    val base = manifest.nextId
    val (df, n) = encodeBatch(input, base)
    val dir = writeCommitDir(df)
    commitManifest(manifest.copy(commits = manifest.commits :+ dir,
      nextId = base + n))
    base
  }

  /** Upsert by `name` — replace-or-insert, the MERGE shape: committed
    * rows whose name collides with an incoming row are dropped
    * (mangling-aware on quantized stores), the incoming batch is
    * appended with FRESH contiguous ids (delete+insert identity
    * semantics — replaced names get new ids, same stance as
    * [[deleteWhere]] on the monotonic counter), and BOTH the rewritten
    * survivor directory and the new commit land in ONE atomic manifest
    * swap: readers see either the full pre-upsert or the full
    * post-upsert state, never the deleted-but-not-yet-inserted middle.
    *
    * The collision check is an anti-join against the incoming names —
    * no driver-side name list at any batch size (AQE broadcasts the
    * small side). The survivor rewrite is COLLISION-PRUNED: one
    * name-column scan over the committed dirs (with file provenance)
    * finds which commit directories actually contain a colliding
    * name; only those are rewritten — every other directory carries
    * into the new manifest verbatim, so upsert cost is ∝ colliding
    * data, not corpus size, and a zero-collision upsert (a pure
    * insert) rewrites nothing at all. The detection scan itself reads
    * just the `name` column (parquet column pruning) and semi-joins
    * against the broadcast incoming names; the driver collects only a
    * set of directory names, bounded by the commit count.
    *
    * CDC interaction: [[changesSince]] is file-level, so after an
    * upsert it reports the new commit plus the rewritten survivor
    * directories (the untouched dirs, being carried verbatim, do NOT
    * re-report — a benefit of the pruning). CDC consumers that need
    * exact row-level semantics across upserts should use
    * [[diffSnapshot]], the same guidance as for [[deleteWhere]]/
    * [[compact]] rewrites. Returns the first id assigned to the
    * incoming batch. */
  def upsertBatch(input: DataFrame): Long = synchronized {
    flush()
    // ONE cached evaluation of the input pipeline feeds everything
    // below (uniqueness verdict, both id-encoder phases, anti-join
    // names, commit write): the verdict sees the same rows that land
    // even for nondeterministic inputs, and an expensive upstream
    // frame computes once, not four times.
    val in = input.select(col("values"), col("name"), col("tags")).cache()
    try {
      // MERGE-by-name has no defined winner for duplicate names
      // within one batch (both copies would land and a by-name reader
      // would see a nondeterministic one) — fail loudly BEFORE
      // anything touches data/: an active readStream() must never
      // observe rows of a rejected batch whose ids would then be
      // reassigned (the id-aliasing hazard its contract rules out).
      val maxRow = in.groupBy(col("name"))
        .agg(count(lit(1)).as("__n")).agg(max(col("__n"))).head()
      val maxPerName = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      require(maxPerName <= 1L,
        "[GRAFT] upsertBatch: incoming names must be unique within " +
          s"the batch (a name occurs $maxPerName times) — dedup the " +
          "batch first to define which payload wins")
      val base = manifest.nextId
      val (df, n) = encodeBatch(in, base)
      // stored names on quantized stores carry the `_quantized` suffix
      // (C3) — mangle the incoming names the same way before comparing
      val inNames = in.select(
        (if (manifest.quantize) concat(col("name"), lit("_quantized"))
         else col("name")).as("name")).distinct()
      // pre-swap dirs in data/ are the same crash-orphan story as
      // deleteWhere/compact rewrites — readStream vacuums at attach.
      // Pruning: provenance scan (name column only) → set of commit
      // dirs holding at least one colliding name → rewrite ONLY those.
      val (untouched, survivorDir) =
        if (manifest.commits.isEmpty) (Seq.empty[String], None)
        else {
          val colliding: Set[String] = collectCommitDirs(
            committedRaw().select(col("name"), commitDirCol.as("__dir"))
              .join(inNames, Seq("name"), "left_semi"))
          if (colliding.isEmpty) (manifest.commits, None)
          else {
            val hit = manifest.commits.filter(colliding)
            val keep = readDirs(hit)
              .join(inNames, Seq("name"), "left_anti")
            val keepDir = commitDirName("upsert-keep")
            keep.sortWithinPartitions("id").write.mode("overwrite")
              .parquet(s"$root/data/$keepDir")
            (manifest.commits.filterNot(colliding), Some(keepDir))
          }
        }
      val dir = writeCommitDir(df)
      commitManifest(manifest.copy(
        commits = (untouched ++ survivorDir.toSeq) :+ dir,
        nextId = base + n))
      base
    } finally in.unpersist()
  }

  /** Shared ingest encoder: validates dimensions distributed-side,
    * assigns contiguous ids from `base` via the two-phase
    * offset scheme (per-partition counts → prefix sums — no
    * zipWithIndex extra job), stamps created_at. Returns the encoded
    * frame and its row count WITHOUT writing anything — callers fold
    * the write plus any other state change into one manifest swap. */
  private def encodeBatch(input: DataFrame, base: Long): (DataFrame, Long) = {
    val spk = spark
    val withDim = input.select(
      col("values").cast(ArrayType(FloatType)), col("name"),
      col("tags").cast(ArrayType(StringType)))
    val d = manifest.dim
    // F1/F3 enforced distributed-side: any bad row fails the commit
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("values", ArrayType(FloatType), nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("tags", ArrayType(StringType), nullable = true)))
    val rdd = withDim.rdd
    // phase 1: per-partition counts → prefix-sum offsets (driver-side
    // array, bounded by partition count). Both phases recompute the
    // input pipeline, exactly as zipWithIndex would; partition row
    // order is deterministic between them (no shuffle in between)
    val counts = rdd.mapPartitionsWithIndex((pid, it) =>
      Iterator.single(pid -> it.size.toLong), preservesPartitioning = true)
      .collect().toMap
    val offsets = new Array[Long](rdd.getNumPartitions)
    var acc = 0L
    offsets.indices.foreach { pid =>
      offsets(pid) = acc
      acc += counts.getOrElse(pid, 0L)
    }
    val n = acc
    val bcOff = spk.sparkContext.broadcast(offsets)
    val indexed = spk.createDataFrame(
      rdd.mapPartitionsWithIndex { (pid, it) =>
        var i = bcOff.value(pid)
        it.map { r =>
          val vs = r.getSeq[Float](0)
          if (vs == null || vs.isEmpty)
            throw new InvalidVectorException("[GRAFT] vector cannot be empty")
          if (vs.length != d)
            throw new InvalidVectorException(
              s"[GRAFT] vector dimension mismatch: expected $d, got ${vs.length}")
          val row = Row(base + i, vs, r.getString(1), r.getSeq[String](2))
          i += 1
          row
        }
      }, schema)
    (indexed.withColumn("created_at", current_timestamp()), n)
  }

  /** Quantize-on-write (storage_manager.rs:143-149 + vector.rs:115-123:
    * name suffix `_quantized`, tag `"quantized"`, scale 127, no clamp).
    * Writes the data directory and returns its name WITHOUT touching
    * the manifest — callers fold the new dir plus any other state
    * change into one atomic manifest swap. */
  private def writeCommitDir(df: DataFrame): String = {
    val out =
      if (manifest.quantize)
        df.select(col("id"),
          vfs_quantize(col("values"), lit(QuantScale)).as("qvalues"),
          lit(QuantScale).as("scale_factor"),
          concat(col("name"), lit("_quantized")).as("name"),
          array_union(col("tags"), array(lit("quantized"))).as("tags"),
          col("created_at"))
      else df
    val dir = commitDirName(f"${manifest.commits.size}%05d")
    val target = s"$root/data/$dir"
    // sort by id within partitions: parquet row-group min/max stats then
    // prune point lookups — the B-tree-index analog (SURVEY §1.5)
    out.sortWithinPartitions("id").write.mode("overwrite").parquet(target)
    dir
  }

  /** Dense logical view (dequantize-on-read, storage_manager.rs:202-210;
    * strips the quantized name/tag mangling, vector.rs:145-151), unioned
    * with the unflushed memtable for read-your-writes
    * (storage_manager.rs:236-240). */
  def read(): DataFrame = synchronized {
    val committed: DataFrame =
      if (manifest.commits.isEmpty) emptyDense(spark)
      else VfsStore.denseView(committedRaw(), manifest.quantize)
    if (memtable.isEmpty) committed
    else committed.unionByName(
      spark.createDataFrame(memtable.values.toSeq)
        .select(col("id"), col("values"), col("name"), col("tags"),
          col("created_at")))
  }

  /** Raw physical view (quantized columns when quantize=true). */
  def readRaw(): DataFrame = synchronized {
    if (manifest.commits.isEmpty) {
      if (manifest.quantize) emptyQuant(spark) else emptyDense(spark)
    } else committedRaw()
  }

  /** Point lookup P1 (storage_manager.rs:235-296) — [[getByIds]] of
    * one id. */
  def getById(id: Long): Option[VfsRecord] = getByIds(Seq(id)).headOption

  /** Batched point lookup: the memtable first, then ONE pushed-down
    * `id IN (…)` read of the dense view over the committed dirs for the
    * rest (the B-tree tier maps to row-group min/max pruning on the
    * id-sorted commits) — one Spark job, none when the memtable holds
    * every id. `ids` is a lookup batch (it rides in the plan as an IN
    * list), not a join side. Returns each found record once, in
    * first-occurrence order of `ids`; a missing id is skipped. */
  def getByIds(ids: Seq[Long]): Seq[VfsRecord] = synchronized {
    val wanted = ids.distinct
    val rest = wanted.filterNot(memtable.contains)
    val committed: Map[Long, VfsRecord] =
      if (rest.isEmpty || manifest.commits.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.Encoders
        VfsStore.denseView(committedRaw().filter(col("id").isin(rest: _*)),
            manifest.quantize)
          .as(Encoders.product[VfsRecord]).collect().map(r => r.id -> r).toMap
      }
    wanted.flatMap(id => memtable.get(id).orElse(committed.get(id)))
  }

  /** Snapshot: flush + persist current state under `snapshots/<name>`
    * (storage_manager.rs:367-410 — snapshot also flushes the memtable). */
  def snapshot(snapName: String = "vfs_state"): Unit = synchronized {
    flush()
    val p = Paths.get(root, "snapshots")
    Files.createDirectories(p)
    writeManifestAtomic(p.resolve(s"$snapName.json"), manifest)
  }

  /** Restore: overwrite live state from a snapshot
    * (storage_manager.rs:412-427). Data committed after the snapshot
    * becomes invisible (its directories are simply not in the restored
    * commit list); the memtable is discarded. */
  def restore(snapName: String = "vfs_state"): Unit = synchronized {
    val snap = loadSnapshot(snapName)
    memtable.clear()
    commitManifest(snap)
  }

  /** Compact all committed data into a single commit directory (the
    * small-file remedy for streaming ingest's one-commit-per-batch
    * pattern). Atomic: readers before the manifest swap see the old
    * commit list; after, the single compacted directory. Old
    * directories are left on disk so open snapshots remain readable
    * (a vacuum step may remove unreferenced dirs later). */
  def compact(): Unit = synchronized {
    flush()
    if (manifest.commits.size > 1) {
      val all = committedRaw()
      val dir = commitDirName("compact")
      all.sortWithinPartitions("id").write.mode("overwrite")
        .parquet(s"$root/data/$dir")
      commitManifest(manifest.copy(commits = Seq(dir)))
    }
  }

  /** Predicate delete (the GDPR / takedown shape): rewrite the
    * committed data WITHOUT the rows matching `cond` and swap the
    * manifest atomically — readers see either the full old state or
    * the full post-delete state, never a partial delete. The rewrite
    * is MATCH-PRUNED (the [[upsertBatch]] discipline): one
    * provenance scan finds which commit directories actually hold a
    * matching row — the scan reads only the columns `cond`
    * references — and only those are rewritten; every other
    * directory carries into the new manifest verbatim, so delete
    * cost is ∝ matching data, not corpus size, and a no-match
    * predicate rewrites nothing. The predicate runs against the RAW
    * physical schema (quantized stores: qvalues/scale_factor and the
    * mangled name/tags — filter on `id` or metadata, which survive
    * mangling). Ids of deleted rows are NOT reused (nextId is
    * untouched — contiguity is an ingest property, not an invariant
    * over deletes, same stance as the reference's monotonic
    * counter). Old commit dirs stay on disk for open snapshots;
    * [[vacuum]] reclaims them. CDC consumers: [[changesSince]]
    * re-reports only the rewritten survivors (untouched dirs carry
    * verbatim); use [[diffSnapshot]] for exact row-level deltas.
    *
    * The predicate MUST be deterministic and stable across jobs: it
    * is evaluated in the detection pass and again in the rewrite.
    * Catalyst-nondeterministic expressions (`rand()`) fail loudly
    * here; time-dependent ones (`current_timestamp()`) re-resolve
    * per job and could classify a dir non-matching at detection yet
    * match rows at rewrite — compute cutoffs driver-side and pass
    * them as literals. Returns the number of rows deleted (counted
    * in the detection pass — the one evaluation that also chose the
    * rewrite set). */
  def deleteWhere(cond: org.apache.spark.sql.Column): Long = synchronized {
    flush()
    if (manifest.commits.isEmpty) return 0L
    // the RESOLVED condition decides determinism (the raw Column
    // wraps unresolved function nodes whose default is deterministic)
    val detection = committedRaw().filter(coalesce(cond, lit(false)))
    val resolvedCond = detection.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }
    require(resolvedCond.forall(_.deterministic),
      "[GRAFT] deleteWhere: the predicate must be deterministic — a " +
        "nondeterministic one would delete a different row set than " +
        "the detection pass counted")
    // ONE detection evaluation yields the matching dirs AND the
    // deleted-row count (no separate total/kept corpus jobs)
    val matchedPerDir = detection
      .groupBy(commitDirCol.as("__dir"))
      .agg(count(lit(1)).as("__n")).collect()
    if (matchedPerDir.isEmpty) return 0L
    val matching = matchedPerDir.map(_.getString(0)).toSet
    val deleted = matchedPerDir.map(_.getLong(1)).sum
    val hit = manifest.commits.filter(matching)
    val keep = readDirs(hit)
      .filter(!coalesce(cond, lit(false)))
    val dir = commitDirName("delete")
    keep.sortWithinPartitions("id").write.mode("overwrite")
      .parquet(s"$root/data/$dir")
    // fully-matched hit set → no zero-row commit: the empty dir is
    // removed outright (it was never referenced), so it neither
    // lives in the manifest forever nor pollutes vacuum accounting
    val kept = readDirs(Seq(dir)).count()
    if (kept == 0L) {
      val hp = new org.apache.hadoop.fs.Path(s"$root/data/$dir")
      hp.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(hp, true)
    }
    commitManifest(manifest.copy(
      commits = manifest.commits.filterNot(matching) ++
        (if (kept == 0L) Nil else Seq(dir))))
    deleted
  }

  /** Delete commit directories referenced by neither the live manifest
    * nor any snapshot (the cleanup step after [[compact]]/[[restore]]).
    * Returns the number of directories removed. */
  def vacuum(): Int = synchronized {
    val snapDir = Paths.get(root, "snapshots")
    val snapshotRefs: Set[String] =
      if (!Files.exists(snapDir)) Set.empty
      else listDir(snapDir)
        .filter(_.toString.endsWith(".json"))
        .flatMap(p => VfsManifest.fromJson(
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).commits)
        .toSet
    val live = manifest.commits.toSet ++ snapshotRefs
    val dataDir = Paths.get(root, "data")
    if (!Files.exists(dataDir)) return 0
    val doomed = listDir(dataDir)
      .filterNot(p => live.contains(p.getFileName.toString))
    doomed.foreach { p =>
      val w = Files.walk(p)
      val all = {
        import scala.jdk.CollectionConverters._
        try w.iterator().asScala.toList finally w.close()
      }
      all.reverse.foreach(Files.deleteIfExists(_))
    }
    doomed.size
  }

  private def listDir(p: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Retention vacuum — the second half of the GDPR/takedown story:
    * [[deleteWhere]] rewrites the LIVE view immediately but leaves the
    * old commit dirs on disk for snapshot readers, so the deleted rows
    * remain reachable through time travel until retention expires.
    * Drops every snapshot saved more than `olderThanMs` ago, then
    * reclaims all now-unreferenced commit dirs. After this, a
    * [[readSnapshot]] of an expired snapshot fails fast (no snapshot)
    * instead of resurrecting deleted data. Returns the number of data
    * directories removed. */
  def vacuum(olderThanMs: Long): Int = synchronized {
    require(olderThanMs >= 0,
      "[GRAFT] vacuum: olderThanMs must be >= 0")
    val cutoff = System.currentTimeMillis() - olderThanMs
    val snapDir = Paths.get(root, "snapshots")
    if (Files.exists(snapDir)) {
      listDir(snapDir)
        .filter(_.toString.endsWith(".json"))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .foreach(Files.deleteIfExists(_))
    }
    vacuum()
  }

  private def loadSnapshot(snapName: String): VfsManifest = {
    val p = Paths.get(root, "snapshots", s"$snapName.json")
    if (!Files.exists(p))
      throw new StoreStateException(s"[GRAFT] no snapshot named $snapName")
    VfsManifest.fromJson(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  /** Incremental (CDC) read: the dense view of ONLY the data committed
    * since `snapName` was taken — a commit-list diff, so it is a pure
    * FILE-level operation: no data comparison, no shuffle, and the
    * scan touches just the new directories. This is the 100 TB
    * delta-processing shape — a nightly pipeline snapshots after each
    * run and processes `changesSince(lastRun)` instead of re-scanning
    * the corpus. Exact for append-only histories (insert/appendBatch/
    * flush); a rewrite re-reports exactly the directories it
    * replaced — [[compact]] replaces the whole commit list, while
    * the MATCH-PRUNED [[deleteWhere]]/[[upsertBatch]] replace only
    * the dirs that held a matching/colliding row (untouched dirs
    * carry verbatim and never re-report). Either way the delta is
    * the rewritten survivors plus genuinely new commits, NOT a
    * row-level change set — use [[diffSnapshot]] for exact
    * row-level semantics across rewrites. Flushes first so memtable
    * rows participate. */
  def changesSince(snapName: String): DataFrame = synchronized {
    val snap = loadSnapshot(snapName)
    flush()
    val old = snap.commits.toSet
    val newDirs = manifest.commits.filterNot(old)
    if (newDirs.isEmpty) VfsStore.emptyDense(spark)
    else VfsStore.denseView(readDirs(newDirs), manifest.quantize)
  }

  /** Exact row-level diff vs a snapshot: the dense rows plus a
    * `change` column, "added" for live rows whose id is not in the
    * snapshot, "removed" for snapshot rows whose id is no longer
    * live. Ids are unique and rows immutable (appends + deletes, no
    * in-place update), so added/removed is the complete delta
    * algebra. Costs an id-keyed anti-join per side — the exact twin
    * of the file-level [[changesSince]], for histories that include
    * rewrites. */
  def diffSnapshot(snapName: String): DataFrame = synchronized {
    loadSnapshot(snapName) // fail fast before any Spark work
    flush()
    val live = read()
    val snap = readSnapshot(snapName)
    live.join(snap.select(col("id")), Seq("id"), "left_anti")
      .withColumn("change", lit("added"))
      .unionByName(
        snap.join(live.select(col("id")), Seq("id"), "left_anti")
          .withColumn("change", lit("removed")))
  }

  /** The store as a STREAMING source: a Structured Streaming file
    * source watching the data directory, so every committed batch
    * (insert/flush/appendBatch) streams to downstream pipelines as it
    * lands — the continuous twin of [[changesSince]]. Returns the
    * dense view (dequantize-on-read, name/tag de-mangling). The file
    * source tracks delivered files in the query's checkpoint, so each
    * committed file is delivered exactly once per query. Rewrites
    * ([[compact]]/[[deleteWhere]]) write NEW files of surviving rows,
    * which re-deliver — downstream consumers keyed by id stay exact,
    * the same stance as [[changesSince]] across rewrites.
    * [[upsertBatch]] re-delivers ONLY the survivors of commit dirs
    * that held a colliding name (untouched dirs carry verbatim — no
    * re-delivery), plus the new rows; survivor ids are stable across
    * the rewrite and replaced names appear again under a fresh higher
    * id, so max-id-per-name over the delivered rows reconstructs the
    * live post-upsert state (spec-pinned in VfsStoreSpec).
    *
    * Crashed appends: the file source watches the DIRECTORY, not the
    * manifest, so a directory orphaned by a crash between the parquet
    * write and the manifest swap would be delivered — and because
    * that crash never advanced nextId, the orphan's ids are reassigned
    * by the next successful append, so delivered orphan rows could
    * alias later legitimate ids. ENFORCED here, not just documented:
    * [[vacuum()]] runs before the source attaches, reclaiming every
    * directory the manifest (and snapshots) do not reference — a
    * directory-vs-manifest diff, no data scan. Appends racing an
    * ACTIVE stream are benign: a file listed just before its manifest
    * swap already carries exactly the ids the swap is about to
    * publish. */
  def readStream(): DataFrame = {
    vacuum()
    VfsStore.denseView(
      spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$root/data/*"),
      manifest.quantize)
  }

  /** Time-travel read: the dense view AS OF a named snapshot, without
    * mutating live state (restore() is the mutating twin). */
  def readSnapshot(snapName: String): DataFrame = synchronized {
    val snap = loadSnapshot(snapName)
    if (snap.commits.isEmpty) VfsStore.emptyDense(spark)
    else VfsStore.denseView(readDirs(snap.commits), snap.quantize)
  }

  /** Reset per ResetOptions (storage_manager.rs:30-57, 83-124). */
  def reset(truncateData: Boolean = true, resetIds: Boolean = true): Unit =
    synchronized {
      memtable.clear()
      commitManifest(manifest.copy(
        commits = if (truncateData) Seq.empty else manifest.commits,
        nextId = if (resetIds) 1L else manifest.nextId))
    }
}

object VfsStore {
  /** FLUSH_THRESHOLD = 10 (vfs/src/vfs/storage_manager.rs:12) */
  val DefaultFlushThreshold = 10
  /** storage-path quantization scale (vfs/src/vfs/vector.rs:188) */
  val QuantScale = 127.0f

  def denseSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("values", ArrayType(FloatType), nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("tags", ArrayType(StringType), nullable = true),
    StructField("created_at", TimestampType, nullable = true)))

  def quantSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("qvalues", ArrayType(ByteType), nullable = true),
    StructField("scale_factor", FloatType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("tags", ArrayType(StringType), nullable = true),
    StructField("created_at", TimestampType, nullable = true)))

  private def emptyDense(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], denseSchema)
  private def emptyQuant(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], quantSchema)

  /** Dequantize-on-read projection (storage_manager.rs:202-210) with
    * the name/tag de-mangling of vector.rs:145-151 — the ONE place the
    * quantized→dense mapping is defined. Extra columns (e.g. a computed
    * distance) pass through untouched. */
  def denseView(raw: DataFrame, quantized: Boolean): DataFrame =
    if (!quantized) raw
    else {
      val core = Set("qvalues", "scale_factor", "name", "tags")
      val passthrough = raw.columns.filterNot(c => core(c) || c == "id")
        .map(col).toSeq
      raw.select((col("id") +:
        vfs_dequantize(col("qvalues"), col("scale_factor")).as("values") +:
        regexp_replace(col("name"), "_quantized$", "").as("name") +:
        array_remove(col("tags"), "quantized").as("tags") +:
        passthrough): _*)
    }

  /** `/init` (tcp.rs:270-299): create or re-create a store. */
  def create(spark: SparkSession, root: String, name: String, dim: Int,
      quantize: Boolean = false,
      flushThreshold: Int = DefaultFlushThreshold): VfsStore = {
    if (dim <= 0)
      throw new InvalidVectorException(s"[GRAFT] invalid dimension $dim")
    Files.createDirectories(Paths.get(root, "data"))
    val store = new VfsStore(spark, root,
      VfsManifest(name, dim, quantize, nextId = 1L, commits = Seq.empty),
      flushThreshold)
    store.commitManifest(store.manifest)
    store
  }

  def open(spark: SparkSession, root: String,
      flushThreshold: Int = DefaultFlushThreshold): VfsStore = {
    val p = Paths.get(root, "manifest.json")
    if (!Files.exists(p))
      throw new StoreStateException(s"[GRAFT] no store at $root")
    new VfsStore(spark, root, VfsManifest.fromJson(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)),
      flushThreshold)
  }
}
