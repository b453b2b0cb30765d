package graft.operators

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.store.StoreStateException

/** Shared filesystem machinery for every persisted artifact: the ONE
  * sidecar codec, Hadoop-FS metadata I/O (java.nio would resolve
  * remote hdfs:// / s3a:// artifacts against the driver's local cwd),
  * the staged two-rename publish, the PARKED-crash detection, the
  * ONE standing-index lifecycle ([[StandingIndex]]) shared by
  * [[LineIndex]], [[SigIndex]], [[UrlIndex]], [[BinaryIndex]],
  * [[GramIndex]] and [[LshTextIndex]], and the ONE vector-index
  * lifecycle ([[VectorIndex]]: sentinel-guarded rebuild) shared by
  * [[IvfIndex]], [[PqIndex]] and [[IvfPq]]. One copy — a
  * crash-contract fix applied here reaches every artifact, instead of
  * silently missing one of nine near-identical twins.
  *
  * PARKED state: a crash between the swap's two renames leaves the
  * live directory ABSENT with the complete old artifact at
  * `<live>_old`. Readers must never mistake that for "no artifact"
  * (a streaming loop would silently rebuild from one micro-batch, or
  * re-stamp different params at generation 1) — [[requireNotParked]]
  * turns it into a loud failure with the recovery instruction.
  * WRITERS hold the single-writer contract, so [[healParked]] lets
  * build/compact rename the old dir back and continue — generation
  * counters never reset. Readers never heal (a reader renaming dirs
  * would race the writer mid-swap). */
private[graft] object ArtifactIo {
  /** The one shared Jackson instance. It is thread-safe because no
    * user changes its configuration: every caller relies on the
    * defaults. */
  val mapper = new ObjectMapper()

  /** Encode a flat sidecar record — ints, longs, booleans, strings and
    * string sequences — as compact JSON, keys in the given order. */
  def encode(fields: (String, Any)*): String = {
    val o = mapper.createObjectNode()
    fields.foreach {
      case (k, v: Int) => o.put(k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Boolean) => o.put(k, v)
      case (k, v: String) => o.put(k, v)
      case (k, v: Seq[_]) =>
        val a = o.putArray(k)
        v.foreach(s => a.add(s.asInstanceOf[String]))
      case (k, v) => throw new IllegalArgumentException(
        s"[GRAFT] sidecar field $k: unsupported value $v")
    }
    mapper.writeValueAsString(o)
  }

  /** A decoded sidecar with typed accessors: a missing or mistyped key
    * throws `StoreStateException("bad <label>: <key>")`, never a bare
    * `None.get`. */
  final class Sidecar private[ArtifactIo] (label: String,
      private[ArtifactIo] val node: ObjectNode) {
    private def field(k: String, ok: JsonNode => Boolean): JsonNode = {
      val v = node.get(k)
      if (v == null || !ok(v)) throw new StoreStateException(s"bad $label: $k")
      v
    }
    def int(k: String): Int =
      field(k, v => v.isIntegralNumber && v.canConvertToInt).intValue
    def long(k: String): Long =
      field(k, v => v.isIntegralNumber && v.canConvertToLong).longValue
    def bool(k: String): Boolean = field(k, _.isBoolean).booleanValue
    def str(k: String): String = field(k, _.isTextual).textValue
    def strs(k: String): Seq[String] = {
      val a = field(k, v => v.isArray &&
        (0 until v.size).forall(i => v.get(i).isTextual))
      (0 until a.size).map(a.get(_).textValue)
    }
    /** Optional keys (fields added after an artifact format shipped). */
    def intOr(k: String, default: Int): Int =
      if (node.has(k)) int(k) else default
    def longOr(k: String, default: Long): Long =
      if (node.has(k)) long(k) else default
  }

  def decode(label: String, json: String): Sidecar = {
    val node = try mapper.readTree(json) catch {
      case _: com.fasterxml.jackson.core.JsonProcessingException => null
    }
    node match {
      case o: ObjectNode => new Sidecar(label, o)
      case _ => throw new StoreStateException(s"bad $label: not a JSON object")
    }
  }

  /** Path-level sidecar read / atomic write (`ivf.json`, `lm.json`, …). */
  def readSidecar(path: String, name: String): Sidecar =
    decode(name, readSmallFile(path, name))

  def writeSidecar(path: String, name: String, fields: (String, Any)*): Unit =
    writeSmallFileAtomic(path, name, encode(fields: _*))

  private def hconf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  def fsOf(path: String): FileSystem = new Path(path).getFileSystem(hconf())

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Write a small file into `dir` (creating it) — the `_<name>.json`
    * metadata that rides inside a stage directory, so the publish
    * rename moves data and metadata together. */
  private def writeFileInto(dir: String, name: String, content: String): Unit = {
    val fs = fsOf(dir)
    fs.mkdirs(new Path(dir))
    val out = fs.create(new Path(dir, name), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Small-file helpers for PATH-LEVEL metadata and sentinel files
    * (the IVF/PQ family's ivf.json/pq.json/ivfpq.json + rebuild
    * sentinels, the LM model's lm.json, the append watermark). Writes
    * go through tmp + atomic overwrite-rename, so a crash never leaves
    * a truncated file. */
  def fileExists(path: String, name: String): Boolean =
    fsOf(path).exists(new Path(path, name))

  def readSmallFile(path: String, name: String): String =
    readFile(fsOf(path), new Path(path, name))

  def writeSmallFileAtomic(path: String, name: String,
      content: String): Unit = {
    val fs = fsOf(path)
    fs.mkdirs(new Path(path))
    val tmp = new Path(path, name + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, hconf())
      .rename(fs.makeQualified(tmp), fs.makeQualified(new Path(path, name)),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private val WatermarkFile = "_append_batch"

  /** THE append-watermark protocol, GENERATION-BOUND: the value
    * commits as `<generation>:<batchId>`, and a reader under a
    * different generation sees -1 (a fresh batch sequence). Used by
    * every [[StandingIndex]] — [[LineIndex]], [[SigIndex]],
    * [[UrlIndex]] and [[BinaryIndex]] land batches through it;
    * [[GramIndex]] and [[LshTextIndex]] never write one, so it reads
    * -1 for them. Binding replaces an older delete-inside-build-stage
    * retirement, which had a real crash window: a rebuild that died
    * after the delete but before the publish rename left the OLD
    * artifact live with its replay protection GONE, so a stale stream
    * replay re-landed an already-compacted batch (for LineIndex that
    * double-counts df — a wrong answer with no downstream dedup to
    * absorb it). With the binding there is no delete step at all: the
    * stale watermark invalidates exactly when the new generation
    * PUBLISHES, and every crash before that leaves the old artifact
    * with its old, still-matching watermark. A legacy unbound value
    * (plain `<batchId>`) reads as valid for any generation — the
    * pre-binding behavior, rebound by [[migrateLegacyWatermark]]. */
  private def readWatermark(path: String, generation: Int): Long =
    watermark(path) match {
      case Some((None, b)) => b
      case Some((Some(g), b)) if g == generation => b
      case _ => -1L
    }

  /** The raw marker: (bound generation, batch id), if present. */
  private def watermark(path: String): Option[(Option[Int], Long)] =
    if (!fileExists(path, WatermarkFile)) None
    else {
      val txt = readSmallFile(path, WatermarkFile).trim
      val i = txt.indexOf(':')
      Some(if (i < 0) (None, txt.toLong)
        else (Some(txt.take(i).toInt), txt.drop(i + 1).toLong))
    }

  /** Commit the watermark for `generation` (tmp + atomic
    * overwrite-rename — there is never an instant without a marker
    * on disk, so a crash mid-commit can only leave the previous
    * value, never none). */
  def commitWatermark(path: String, generation: Int,
      batchId: Long): Unit =
    writeSmallFileAtomic(path, WatermarkFile, s"$generation:$batchId")

  /** The generation a BOUND watermark names — 0 for absent or
    * legacy-unbound markers. A takedown commits its carried watermark
    * bound to generation m+1 BEFORE its staged swap; if it crashes
    * pre-publish, meta still says m while the watermark names m+1 —
    * and a build that derived m+1 from meta alone would publish under
    * EXACTLY the generation the stale watermark is bound to, silently
    * refusing the rebuilt artifact's fresh batches 0..last. Reading
    * the bound generation lets build always publish PAST any
    * generation the marker file has ever named. */
  private def watermarkGeneration(path: String): Int =
    watermark(path).flatMap(_._1).getOrElse(0)

  /** Rebind a LEGACY unbound watermark (plain `<batchId>`) to the
    * live `generation` before a rebuild publishes. Without this the
    * legacy value — valid for EVERY generation — stays live and
    * silently refuses the rebuilt artifact's fresh batch sequence up
    * to the stale high-watermark. Rebinding to the CURRENT (pre-bump)
    * generation is a semantic no-op for the live artifact, so a crash
    * anywhere around it changes nothing. No-op for bound or absent
    * markers. */
  private def migrateLegacyWatermark(path: String, generation: Int): Unit =
    watermark(path) match {
      case Some((None, b)) => commitWatermark(path, generation, b)
      case _ =>
    }

  def deleteFile(path: String, name: String): Unit = {
    fsOf(path).delete(new Path(path, name), false)
    ()
  }

  /** Number of DATA files under `dir` (recursive; `_`/`.`-prefixed
    * bookkeeping files excluded) — the signal an append-heavy
    * artifact's `needsCompaction` keys on: every plain append adds a
    * file set, and probe latency grows with files listed. One
    * namenode listing, no data read. A missing dir counts 0. */
  def dataFileCount(dir: String): Long = dataFileStats(dir)._1

  /** (count, totalBytes) of the DATA files under `dir` — same single
    * recursive listing as [[dataFileCount]], with sizes summed so
    * compaction can be sized to DATA rather than to core count. */
  private def dataFileStats(dir: String): (Long, Long) = {
    val fs = fsOf(dir)
    val p = new Path(dir)
    if (!fs.exists(p)) return (0L, 0L)
    var n = 0L
    var bytes = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        n += 1L
        bytes += f.getLen
      }
    }
    (n, bytes)
  }

  /** How many files a compaction of `dir` should WRITE: data bytes
    * over a 128 MB target, at least 1 — sized to the data, never to
    * the core count (a `repartition(defaultParallelism)` rewrite of a
    * tiny artifact would emit more files than it collapses, so a
    * file-count compaction trigger below the core count could never
    * clear and every ingest batch would rewrite the whole artifact). */
  private val DefaultTargetBytes = 128L * 1024 * 1024

  /** The ONE width formula — shared by the [[compactWidth]] writer
    * side and the [[shouldCompact]] trigger side, so the two can
    * never drift apart and re-open the fire-forever loop the
    * convergence contract closes. */
  private def widthOf(bytes: Long, targetBytes: Long): Long =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes)

  def compactWidth(dir: String,
      targetBytes: Long = DefaultTargetBytes): Int = {
    val (_, bytes) = dataFileStats(dir)
    widthOf(bytes, targetBytes).toInt
  }

  /** Progress-guaranteed compaction trigger: the file count exceeds
    * the caller's threshold AND a compaction would actually reduce it
    * (count > [[compactWidth]] under the SAME `targetBytes`). Without
    * the second conjunct a threshold below the compacted width fires
    * forever. */
  def shouldCompact(dir: String, maxDataFiles: Int,
      targetBytes: Long = DefaultTargetBytes): Boolean = {
    val (n, bytes) = dataFileStats(dir)
    n > maxDataFiles && n > widthOf(bytes, targetBytes)
  }

  /** Crash residue check: live dir gone, complete old parked. */
  private def isParked(fs: FileSystem, path: String,
      liveDir: String): Boolean =
    !fs.exists(new Path(s"$path/$liveDir")) &&
      fs.exists(new Path(s"$path/${liveDir}_old"))

  /** Reader-side guard: fail loudly on the parked state instead of
    * reporting "no artifact" (which callers would treat as a
    * build-from-scratch invitation). */
  private def requireNotParked(path: String, liveDir: String,
      what: String): Unit = {
    if (isParked(fsOf(path), path, liveDir))
      throw new IllegalArgumentException(
        s"requirement failed: [GRAFT] $what at $path has a CRASHED " +
          s"compact/rebuild: $liveDir/ is missing but ${liveDir}_old " +
          s"holds the complete artifact — rename ${liveDir}_old back " +
          s"(or rerun the build/compact, which auto-heals) before " +
          "reading")
  }

  /** Writer-side recovery (single-writer contract): rename the parked
    * old dir back so the operation proceeds against the complete
    * pre-crash artifact — generation counters never reset. */
  def healParked(fs: FileSystem, path: String, liveDir: String,
      what: String): Unit = {
    if (isParked(fs, path, liveDir))
      require(fs.rename(new Path(s"$path/${liveDir}_old"),
        new Path(s"$path/$liveDir")),
        s"[GRAFT] $what: cannot heal parked ${liveDir}_old at $path")
  }

  /** Staged two-rename publish: `writeStage` fills `<liveDir>_stage`
    * (parquet + its `_*.json` metadata), the live dir parks at
    * `<liveDir>_old`, the stage moves in, `_old` is dropped. A failed
    * second rename rolls the parked dir back; a crash between the
    * renames leaves the PARKED state (see class doc). Every in-place
    * rewrite goes through here: the standing indexes, and the vector
    * indexes' `assignments` compaction, rebalance centroid swap and
    * per-cluster delete/scrub rewrites (`liveDir` = `cluster=<c>`). */
  def stagedSwap[A](fs: FileSystem, path: String, liveDir: String,
      what: String)(writeStage: String => A): A = {
    val live = new Path(s"$path/$liveDir")
    val stage = new Path(s"$path/${liveDir}_stage")
    val old = new Path(s"$path/${liveDir}_old")
    val out = writeStage(stage.toString)
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(live, old), s"[GRAFT] $what: cannot stage $live")
    if (!fs.rename(stage, live)) {
      fs.rename(old, live)
      throw new IllegalArgumentException(
        s"requirement failed: [GRAFT] $what: cannot move $stage in")
    }
    fs.delete(old, true)
    out
  }

  /** Rerun-tolerant swap-in, used only by [[VectorIndex.rebuild]]
    * inside its sentinel window: move `<what>_stage` into place,
    * parking any live dir at `<what>_old` first. After a crash the
    * live dir may already be gone (parked but never replaced) — the
    * stage then just moves in. */
  private def swapIn(fs: FileSystem, path: String, what: String): Unit = {
    val live = new Path(s"$path/$what")
    val stage = new Path(s"$path/${what}_stage")
    val old = new Path(s"$path/${what}_old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live))
      require(fs.rename(live, old),
        s"[GRAFT] rebuild: cannot stage $live")
    require(fs.rename(stage, live),
      s"[GRAFT] rebuild: cannot move $stage in — rerun build to recover")
    fs.delete(old, true)
  }

  /** Fresh publish: stage → one rename to live (no existing dir). */
  private def publishFresh(fs: FileSystem, path: String, liveDir: String,
      what: String)(writeStage: String => Unit): Unit = {
    val stage = new Path(s"$path/${liveDir}_stage")
    writeStage(stage.toString)
    require(fs.rename(stage, new Path(s"$path/$liveDir")),
      s"[GRAFT] $what: cannot publish $stage")
  }

  /** The artifact lifecycle of one standing index: data under
    * `<path>/<dir>` with its sidecar `<dir>/<metaFile>` riding INSIDE
    * the swapped directory, so every publish moves data and metadata
    * in one atomic rename — no crash state mixes old and new rows or
    * shows new data under old metadata. `legacyMeta` names an older
    * path-level sidecar (`gram.json`, `lsh.json`) that is still read
    * as a fallback and retired by the next publish. The append
    * watermark lives at the artifact root, OUTSIDE `<dir>`, so a swap
    * preserves it.
    *
    * The ordering rules every writer must follow live here once:
    *   - build: heal a parked swap, rebind a legacy watermark to the
    *     live generation, publish as `max(meta, watermark) + 1`
    *     (PAST any generation a crashed takedown's carried watermark
    *     names — [[watermarkGeneration]]), then retire the legacy
    *     meta (the internal copy wins reads from the publish on, so a
    *     crash before the delete is benign);
    *   - takedown: commit the carried watermark for generation + 1
    *     BEFORE the swap. A crash in between leaves the OLD generation
    *     live with a mismatched watermark, so stale replays re-append
    *     duplicates to the old artifact (absorbed by presence / the
    *     probes' post-join dedup) — never deleted rows to the new one,
    *     which swap-then-carry could resurrect;
    *   - appends: land, then commit the watermark — a replay of a
    *     committed batch is a no-op;
    *   - compact: physical rewrite, metadata unchanged, watermark
    *     untouched, so a stale replay of a folded batch stays refused.
    */
  final case class StandingIndex(dir: String, metaFile: String,
      label: String, legacyMeta: Option[String] = None) {
    /** The live data directory. */
    def data(path: String): String = s"$path/$dir"

    private def metaPaths(path: String): Seq[Path] =
      new Path(data(path), metaFile) +: legacyMeta.toSeq.map(new Path(path, _))

    private def generation(m: Sidecar): Int = m.int("generation")

    private def retireLegacy(fs: FileSystem, path: String): Unit =
      legacyMeta.foreach(f => fs.delete(new Path(path, f), false))

    /** Does an artifact exist at `path`? A parked crash state throws
      * instead of answering false ("false" invites an ingest loop to
      * rebuild from one micro-batch). */
    def exists(path: String): Boolean = {
      requireNotParked(path, dir, label)
      val fs = fsOf(path)
      metaPaths(path).exists(fs.exists)
    }

    /** Writer-side recovery for ingest loops, run at the top of every
      * batch (a parked state would otherwise make [[exists]] throw on
      * every batch and the stream could never recover). */
    def healParked(path: String): Unit =
      ArtifactIo.healParked(fsOf(path), path, dir, label)

    /** ONE guarded probe chain (parked check → locate → read), so a
      * remote artifact pays one round of metadata RPCs. */
    def readMetaOpt(path: String): Option[Sidecar] = {
      requireNotParked(path, dir, label)
      val fs = fsOf(path)
      metaPaths(path).find(fs.exists)
        .map(p => decode(p.getName, readFile(fs, p)))
    }

    def readMeta(path: String): Sidecar =
      readMetaOpt(path).getOrElse(throw new IllegalArgumentException(
        s"requirement failed: [GRAFT] no $label at $path " +
          s"(expected $dir/$metaFile)"))

    /** Build or REBUILD: `fill` writes the data into the stage dir; the
      * sidecar is `params` followed by the new generation. */
    def build(path: String, params: (String, Any)*)(
        fill: String => Unit): Unit = {
      val fs = fsOf(path)
      ArtifactIo.healParked(fs, path, dir, label)
      val live = readMetaOpt(path).fold(0)(generation)
      migrateLegacyWatermark(path, live)
      val meta = encode(params :+ ("generation" -> (math.max(live,
        watermarkGeneration(path)) + 1)): _*)
      def writeStage(stage: String): Unit = {
        fill(stage)
        writeFileInto(stage, metaFile, meta)
      }
      if (fs.exists(new Path(data(path))))
        stagedSwap(fs, path, dir, s"$label build")(writeStage)
      else publishFresh(fs, path, dir, s"$label build")(writeStage)
      retireLegacy(fs, path)
    }

    /** Rewrite with the metadata unchanged except `generation`, bumped
      * by `bump` — the shared body of [[takedown]] and [[compact]]. */
    private def rewrite[A](path: String, op: String, bump: Int)(
        fill: String => A): A = {
      val fs = fsOf(path)
      ArtifactIo.healParked(fs, path, dir, label)
      val m = readMeta(path)
      val gen = generation(m)
      if (bump > 0) {
        val last = readWatermark(path, gen)
        if (last >= 0L) commitWatermark(path, gen + bump, last)
      }
      val node = m.node.deepCopy()
      node.put("generation", gen + bump)
      val out = stagedSwap(fs, path, dir, s"$label $op") { stage =>
        val r = fill(stage)
        writeFileInto(stage, metaFile, mapper.writeValueAsString(node))
        r
      }
      retireLegacy(fs, path)
      out
    }

    /** Takedown rewrite: generation + 1 with the watermark CARRIED
      * (carry-then-swap — see the class doc). Returns `fill`'s result. */
    def takedown[A](path: String)(fill: String => A): A =
      rewrite(path, "delete", 1)(fill)

    /** Meta-preserving physical rewrite (small files, folded rows). */
    def compact(path: String)(fill: String => Unit): Unit =
      rewrite(path, "compact", 0)(fill)

    /** Watermark-guarded append: `land` runs only for a batch id past
      * the current generation's watermark, which then commits. Returns
      * whether the batch was applied. */
    def appendIdempotent(path: String, batchId: Long)(land: => Unit): Boolean = {
      val gen = generation(readMeta(path))
      if (batchId <= readWatermark(path, gen)) false
      else {
        land
        commitWatermark(path, gen, batchId)
        true
      }
    }

    /** Has `batchId` been committed under the CURRENT generation? */
    def isCommitted(path: String, batchId: Long): Boolean =
      batchId <= readWatermark(path, generation(readMeta(path)))

    /** Should an ingest loop schedule a compaction? One namenode
      * listing (no data read) under the [[shouldCompact]] convergence
      * contract — cheap enough to run per batch. */
    def needsCompaction(path: String, maxDataFiles: Int): Boolean = {
      require(maxDataFiles > 0,
        s"[GRAFT] $label needsCompaction: maxDataFiles must be positive")
      requireNotParked(path, dir, label)
      shouldCompact(data(path), maxDataFiles)
    }
  }

  /** The lifecycle of a vector index — [[IvfIndex]] (`ivf.json`;
    * `assignments`, `centroids`), [[PqIndex]] (`pq.json`) and [[IvfPq]]
    * (`ivfpq.json`; both `codebooks`, `codes`). Unlike a
    * [[StandingIndex]] the sidecar sits at the artifact ROOT and a
    * rebuild replaces SEVERAL dirs, so no one rename publishes it.
    * Instead a rebuild writes every dir to `<dir>_stage` while the old
    * index keeps serving, then marks its live-mutation window (swap
    * each dir in, write the meta) with `<name>.rebuilding`. Present =
    * an in-progress or crashed rebuild: [[readMeta]] refuses, since a
    * probe could mix the old and new artifact. The index is DERIVED
    * data, so the crash contract is loud-fail + rerun-build, which
    * swaps every dir in ([[swapIn]] tolerates each intermediate state)
    * and clears the sentinel. The swapped dirs follow the PARKED rule
    * too (class doc): readers refuse, writers [[healParked]] first. */
  final case class VectorIndex(metaFile: String, label: String,
      builder: String, dirs: Seq[String]) {
    private val sentinel = metaFile.stripSuffix(".json") + ".rebuilding"

    /** Sentinel-blind read — a rebuild needs the old generation while
      * the sentinel stands. None when no index exists at `path`. */
    def readMetaRaw(path: String): Option[Sidecar] =
      if (fileExists(path, metaFile)) Some(readSidecar(path, metaFile))
      else None

    /** The guarded read behind every probe and maintenance op. */
    def readMeta(path: String): Sidecar = {
      require(!fileExists(path, sentinel),
        s"[GRAFT] $label at $path has an in-progress or crashed " +
          s"rebuild ($sentinel present) — rerun $builder to complete " +
          "it; reading now could mix the old and new artifact")
      dirs.foreach(requireNotParked(path, _, label))
      readSidecar(path, metaFile)
    }

    def writeMeta(path: String, fields: (String, Any)*): Unit =
      writeSidecar(path, metaFile, fields: _*)

    def healParked(path: String): Unit =
      dirs.foreach(ArtifactIo.healParked(fsOf(path), path, _, label))

    /** Build or REBUILD: `write` fills every dir at the target the
      * resolver names (the live dir on a first build, `<dir>_stage` on
      * a rebuild) and returns the new sidecar fields. */
    def rebuild(path: String)(
        write: (String => String) => Seq[(String, Any)]): Unit = {
      healParked(path)
      val staged = fileExists(path, metaFile)
      val fields = write(d => if (staged) s"$path/${d}_stage" else s"$path/$d")
      if (staged) {
        writeSmallFileAtomic(path, sentinel, "1")
        dirs.foreach(swapIn(fsOf(path), path, _))
      }
      writeMeta(path, fields: _*)
      deleteFile(path, sentinel)
    }
  }
}
