package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store._
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

class VfsStoreSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("vfsstore").toString

  test("insert assigns contiguous ids from 1 and read sees unflushed rows") {
    val s = VfsStore.create(spark, tmp(), "t1", dim = 3)
    val id1 = s.insert(Array(1f, 2f, 3f), "a", Seq("x"))
    val id2 = s.insert(Array(4f, 5f, 6f), "b", Seq())
    assert(id1 === 1L && id2 === 2L)
    // read-your-writes: nothing flushed yet (threshold 10)
    assert(s.read().count() === 2L)
    assert(s.getById(1L).map(_.name) === Some("a"))
    assert(s.countEstimate === 2L)
  }

  test("auto-flush at threshold 10, and manual flush") {
    val s = VfsStore.create(spark, tmp(), "t2", dim = 2, flushThreshold = 10)
    (1 to 9).foreach(i => s.insert(Array(i.toFloat, 0f), s"v$i", Nil))
    assert(s.readRaw().count() === 0L) // all in memtable
    s.insert(Array(10f, 0f), "v10", Nil) // 10th triggers flush
    assert(s.readRaw().count() === 10L)
    s.insert(Array(11f, 0f), "v11", Nil)
    s.flush()
    assert(s.readRaw().count() === 11L)
  }

  test("dimension and empty guards") {
    val s = VfsStore.create(spark, tmp(), "t3", dim = 4)
    intercept[InvalidVectorException](s.insert(Array(1f, 2f), "bad", Nil))
    intercept[InvalidVectorException](s.insert(Array[Float](), "empty", Nil))
  }

  test("quantized store: mangled at rest, dense+clean on read") {
    val s = VfsStore.create(spark, tmp(), "tq", dim = 2, quantize = true)
    s.insert(Array(0.5f, -0.25f), "vec", Seq("t1"))
    s.flush()
    val raw = s.readRaw().collect().head
    assert(raw.getAs[String]("name") === "vec_quantized")
    assert(raw.getSeq[String](raw.fieldIndex("tags")).toSeq.contains("quantized"))
    assert(raw.getSeq[Byte](raw.fieldIndex("qvalues")).toSeq ===
      Seq(64.toByte, (-32).toByte))
    val dense = s.read().collect().head
    assert(dense.getAs[String]("name") === "vec")
    assert(!dense.getSeq[String](dense.fieldIndex("tags")).toSeq.contains("quantized"))
    val vs = dense.getSeq[Float](dense.fieldIndex("values")).toSeq
    assert(math.abs(vs(0) - 0.5f) < 0.005f)
    assert(math.abs(vs(1) + 0.25f) < 0.005f)
  }

  test("appendBatch assigns contiguous id range without global shuffle") {
    val s = VfsStore.create(spark, tmp(), "tb", dim = 2)
    val in = Seq((Seq(1f, 1f), "a", Seq("t")), (Seq(2f, 2f), "b", Seq[String]()))
      .toDF("values", "name", "tags")
    val base = s.appendBatch(in)
    assert(base === 1L)
    val ids = s.read().select("id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L))
    val base2 = s.appendBatch(in)
    assert(base2 === 3L)
    assert(s.read().count() === 4L)
  }

  test("upsertBatch replaces by name atomically, keeps others, fresh ids") {
    val s = VfsStore.create(spark, tmp(), "tu", dim = 2)
    s.appendBatch(Seq(
      (Seq(1f, 1f), "a", Seq("t")), (Seq(2f, 2f), "b", Seq[String]()),
      (Seq(3f, 3f), "c", Seq[String]())).toDF("values", "name", "tags"))
    // replace a and b, insert d — c untouched
    val base = s.upsertBatch(Seq(
      (Seq(10f, 10f), "a", Seq("new")), (Seq(20f, 20f), "b", Seq[String]()),
      (Seq(40f, 40f), "d", Seq[String]())).toDF("values", "name", "tags"))
    assert(base === 4L) // fresh contiguous ids, counter never reused
    val rows = s.read().select($"id", $"name", $"values")
      .as[(Long, String, Seq[Float])].collect().sortBy(_._1)
    assert(rows.map(r => (r._2, r._3)).toSeq === Seq(
      ("c", Seq(3f, 3f)),        // survivor keeps its id (3)
      ("a", Seq(10f, 10f)), ("b", Seq(20f, 20f)), ("d", Seq(40f, 40f))))
    assert(rows.map(_._1).toSeq === Seq(3L, 4L, 5L, 6L))
    // ONE atomic swap: live manifest points at exactly 2 dirs
    // (survivor rewrite + new commit)
    assert(s.read().count() === 4L)
    // upsert into an EMPTY store degenerates to an append
    val s2 = VfsStore.create(spark, tmp(), "tu2", dim = 2)
    assert(s2.upsertBatch(Seq((Seq(1f, 1f), "x", Seq[String]()))
      .toDF("values", "name", "tags")) === 1L)
    assert(s2.read().count() === 1L)
    // duplicate names WITHIN one batch have no defined winner — loud
    // error, not two surviving rows under the same name
    val err = intercept[IllegalArgumentException] {
      s2.upsertBatch(Seq(
        (Seq(1f, 1f), "dup", Seq[String]()),
        (Seq(2f, 2f), "dup", Seq[String]())).toDF("values", "name", "tags"))
    }
    assert(err.getMessage.contains("unique"))
    assert(s2.read().count() === 1L) // store untouched by the rejected batch
  }

  test("upsertBatch rewrites ONLY colliding commit dirs (cost ∝ collisions)") {
    val root = tmp()
    val s = VfsStore.create(spark, root, "tuprune", dim = 2)
    // three separate commits, so the manifest tracks three dirs
    s.appendBatch(Seq((Seq(1f, 1f), "a", Seq[String]()))
      .toDF("values", "name", "tags"))
    s.appendBatch(Seq((Seq(2f, 2f), "b", Seq[String]()),
      (Seq(5f, 5f), "e", Seq[String]())).toDF("values", "name", "tags"))
    s.appendBatch(Seq((Seq(3f, 3f), "c", Seq[String]()))
      .toDF("values", "name", "tags"))
    def commits(): Seq[String] = VfsManifest.fromJson(new String(
      Files.readAllBytes(java.nio.file.Paths.get(root, "manifest.json")),
      java.nio.charset.StandardCharsets.UTF_8)).commits
    val before = commits()
    assert(before.size === 3)
    // zero-collision upsert (pure insert): NO dir rewritten — all
    // three originals carried into the new manifest verbatim
    s.upsertBatch(Seq((Seq(4f, 4f), "d", Seq[String]()))
      .toDF("values", "name", "tags"))
    val afterInsert = commits()
    assert(afterInsert.size === 4)
    assert(afterInsert.take(3) === before)
    assert(!afterInsert.exists(_.contains("upsert-keep")))
    // collide with "b" only: the SECOND commit is rewritten (its
    // survivor "e" moves to an upsert-keep dir); commits 1 and 3 and
    // the pure-insert commit carry verbatim
    s.upsertBatch(Seq((Seq(20f, 20f), "b", Seq("v2")))
      .toDF("values", "name", "tags"))
    val afterUpsert = commits()
    assert(afterUpsert.contains(before(0)) && afterUpsert.contains(before(2)))
    assert(afterUpsert.contains(afterInsert(3)))
    assert(!afterUpsert.contains(before(1)))
    assert(afterUpsert.count(_.contains("upsert-keep")) === 1)
    // row-level state is exactly the MERGE result
    val got = s.read().select($"name", $"values")
      .as[(String, Seq[Float])].collect().toMap
    assert(got === Map("a" -> Seq(1f, 1f), "b" -> Seq(20f, 20f),
      "c" -> Seq(3f, 3f), "d" -> Seq(4f, 4f), "e" -> Seq(5f, 5f)))
    // survivor ids preserved; replaced name got a fresh id
    val idOfE = s.read().filter($"name" === "e")
      .select($"id").as[Long].head()
    assert(idOfE === 3L) // e kept its original id through the rewrite
  }

  test("upsertBatch: fully-collided commit leaves a readable empty keep dir") {
    val root = tmp()
    val s = VfsStore.create(spark, root, "tupall", dim = 2)
    s.appendBatch(Seq((Seq(1f, 1f), "only", Seq[String]()))
      .toDF("values", "name", "tags"))
    // the single committed row collides — the keep frame is EMPTY;
    // the store must stay readable (schema-bearing empty parquet)
    s.upsertBatch(Seq((Seq(9f, 9f), "only", Seq[String]()))
      .toDF("values", "name", "tags"))
    val rows = s.read().select($"name", $"values")
      .as[(String, Seq[Float])].collect()
    assert(rows.toSeq === Seq(("only", Seq(9f, 9f))))
  }

  test("upsertBatch on a QUANTIZED store matches the mangled names") {
    val s = VfsStore.create(spark, tmp(), "tuq", dim = 2, quantize = true)
    s.appendBatch(Seq((Seq(0.5f, -0.5f), "a", Seq[String]()),
      (Seq(0.25f, 0.25f), "b", Seq[String]())).toDF("values", "name", "tags"))
    s.upsertBatch(Seq((Seq(1f, 1f), "a", Seq[String]()))
      .toDF("values", "name", "tags"))
    // the dense view shows exactly one "a" (the new one) and "b"
    val got = s.read().select($"name", $"values")
      .as[(String, Seq[Float])].collect().toMap
    assert(got.keySet === Set("a", "b"))
    assert(got("a").map(math.round) === Seq(1, 1))
    // at rest, every row still carries the quantized mangling (C3/C4)
    val raw = s.readRaw().select($"name").as[String].collect()
    assert(raw.forall(_.endsWith("_quantized")))
  }

  test("snapshot/restore isolates later appends; reset truncates") {
    val root = tmp()
    val s = VfsStore.create(spark, root, "ts", dim = 2)
    s.insert(Array(1f, 1f), "a", Nil)
    s.snapshot("snap1")
    s.insert(Array(2f, 2f), "b", Nil)
    s.flush()
    assert(s.read().count() === 2L)
    s.restore("snap1")
    assert(s.read().count() === 1L) // post-snapshot commit invisible
    assert(s.countEstimate === 1L)
    // reopen from disk sees restored state
    val s2 = VfsStore.open(spark, root)
    assert(s2.read().count() === 1L)
    s2.reset()
    assert(s2.read().count() === 0L && s2.countEstimate === 0L)
  }

  test("readSnapshot time-travels without mutating live state") {
    val s = VfsStore.create(spark, tmp(), "tt", dim = 2)
    s.insert(Array(1f, 1f), "a", Nil)
    s.snapshot("s1")
    s.insert(Array(2f, 2f), "b", Nil)
    s.flush()
    assert(s.readSnapshot("s1").count() === 1L)
    assert(s.read().count() === 2L) // live state untouched
    intercept[StoreStateException](s.readSnapshot("nope"))
  }

  test("a snapshot retaken under the same name replaces it atomically") {
    val root = tmp()
    val s = VfsStore.create(spark, root, "tre", dim = 2)
    s.insert(Array(1f, 1f), "a", Nil)
    s.snapshot("same")
    s.insert(Array(2f, 2f), "b", Nil)
    s.snapshot("same") // overwrites through tmp + atomic rename
    s.insert(Array(3f, 3f), "c", Nil)
    s.flush()
    s.restore("same")
    assert(s.read().select($"name").as[String].collect().sorted ===
      Array("a", "b"))
    val left = Files.list(java.nio.file.Paths.get(root, "snapshots"))
    try assert(left.iterator().asScala.map(_.getFileName.toString)
      .toSeq.sorted === Seq("same.json"))
    finally left.close()
  }

  test("a manifest or snapshot missing a key fails with a typed error") {
    import java.nio.charset.StandardCharsets.UTF_8
    val root = tmp()
    val s = VfsStore.create(spark, root, "bad", dim = 2)
    s.insert(Array(1f, 1f), "a", Nil)
    s.snapshot("s1")
    def strip(rel: String, key: String): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      val json = new String(Files.readAllBytes(p), UTF_8)
      val cut = json.replaceFirst(",\"" + key + "\":[^,\\]]*\\]?", "")
      assert(cut !== json, s"fixture: $key not stripped")
      Files.write(p, cut.getBytes(UTF_8))
    }
    strip("snapshots/s1.json", "commits")
    val restoreErr = intercept[StoreStateException](s.restore("s1"))
    assert(restoreErr.getMessage === "bad manifest: commits")
    strip("manifest.json", "nextId")
    val openErr = intercept[StoreStateException](VfsStore.open(spark, root))
    assert(openErr.getMessage === "bad manifest: nextId")
  }

  test("concurrent inserts assign unique contiguous ids (C6 single-writer)") {
    val s = VfsStore.create(spark, tmp(), "cc", dim = 2, flushThreshold = 1000)
    val ids = (1 to 40).par.map { i =>
      s.insert(Array(i.toFloat, 0f), s"v$i", Nil)
    }.seq.toSet
    assert(ids === (1L to 40L).toSet)
    s.flush()
    assert(s.read().count() === 40L)
  }

  test("compact merges commits into one dir, snapshots stay readable") {
    val s = VfsStore.create(spark, tmp(), "cp", dim = 2, flushThreshold = 1)
    (1 to 5).foreach(i => s.insert(Array(i.toFloat, 0f), s"v$i", Nil))
    s.snapshot("preCompact")
    assert(s.read().count() === 5L)
    s.compact()
    assert(s.read().count() === 5L)
    assert(s.getById(3L).map(_.name) === Some("v3"))
    // pre-compaction snapshot still resolves its original commit dirs
    assert(s.readSnapshot("preCompact").count() === 5L)
    // further inserts append after compaction
    s.insert(Array(6f, 0f), "v6", Nil)
    assert(s.read().count() === 6L)
  }

  test("deleteWhere removes matching rows atomically; ids not reused; " +
      "snapshots keep the pre-delete view") {
    val s = VfsStore.create(spark, tmp(), "dw", dim = 2, flushThreshold = 1)
    (1 to 6).foreach(i => s.insert(Array(i.toFloat, 0f), s"v$i", Nil))
    s.snapshot("preDelete")
    val deleted = s.deleteWhere(col("id") % 2 === 0)
    assert(deleted === 3L)
    assert(s.read().select($"id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L))
    assert(s.getById(4L).isEmpty)
    // the snapshot still sees the pre-delete world
    assert(s.readSnapshot("preDelete").count() === 6L)
    // nextId untouched: new rows continue after the old high-water mark
    assert(s.insert(Array(9f, 0f), "v7", Nil) === 7L)
    // a predicate matching nothing (or evaluating null) deletes nothing
    assert(s.deleteWhere(col("name") === "absent") === 0L)
    assert(s.read().count() === 4L)
  }

  test("deleteWhere on a QUANTIZED store filters the raw schema") {
    val s = VfsStore.create(spark, tmp(), "dwq", dim = 2, quantize = true,
      flushThreshold = 1)
    (1 to 4).foreach(i => s.insert(Array(i / 10f, 0f), s"v$i", Nil))
    assert(s.deleteWhere(col("id") <= 2L) === 2L)
    // dense view stays clean post-delete (dequantize + unmangle intact)
    val names = s.read().select($"name").as[String].collect().sorted
    assert(names.toSeq == Seq("v3", "v4"))
  }

  test("randomized upsert/delete sequence matches a by-name model — " +
      "the pruned rewrites preserve exact MERGE semantics") {
    val rnd = new scala.util.Random(20260814L)
    val s = VfsStore.create(spark, tmp(), "model", dim = 2)
    val model = scala.collection.mutable.Map.empty[String, Seq[Float]]
    val names = (0 until 30).map(i => s"n$i")
    def readState(): Map[String, Seq[Float]] = {
      val rows = s.read().select($"name", $"values")
        .as[(String, Seq[Float])].collect()
      // by-name MERGE invariant: never two live rows under one name
      assert(rows.map(_._1).distinct.length === rows.length)
      rows.toMap
    }
    (1 to 12).foreach { step =>
      if (rnd.nextInt(3) < 2 || model.isEmpty) {
        // upsert a random batch of distinct names with fresh payloads
        val batch = rnd.shuffle(names).take(1 + rnd.nextInt(8))
          .map(n => (Seq(rnd.nextInt(100).toFloat, step.toFloat), n,
            Seq.empty[String]))
        s.upsertBatch(batch.toDF("values", "name", "tags"))
        batch.foreach { case (v, n, _) => model(n) = v }
      } else {
        // delete a random name subset (possibly including misses)
        val doomed = rnd.shuffle(names).take(1 + rnd.nextInt(5))
        val n = s.deleteWhere($"name".isin(doomed: _*))
        assert(n === doomed.count(model.contains).toLong)
        doomed.foreach(model.remove)
      }
      assert(readState() === model.toMap, s"diverged at step $step")
    }
  }

  test("deleteWhere rewrites ONLY commit dirs holding a matching row " +
      "(cost ∝ matching data); a no-match predicate rewrites nothing") {
    val root = tmp()
    val s = VfsStore.create(spark, root, "delprune", dim = 2)
    s.appendBatch(Seq((Seq(1f, 1f), "a", Seq[String]()))
      .toDF("values", "name", "tags"))
    s.appendBatch(Seq((Seq(2f, 2f), "b", Seq[String]()),
      (Seq(5f, 5f), "e", Seq[String]())).toDF("values", "name", "tags"))
    s.appendBatch(Seq((Seq(3f, 3f), "c", Seq[String]()))
      .toDF("values", "name", "tags"))
    def commits(): Seq[String] = VfsManifest.fromJson(new String(
      Files.readAllBytes(java.nio.file.Paths.get(root, "manifest.json")),
      java.nio.charset.StandardCharsets.UTF_8)).commits
    val before = commits()
    assert(before.size === 3)
    // no-match predicate: NO rewrite, manifest byte-identical
    assert(s.deleteWhere($"name" === "zzz") === 0L)
    assert(commits() === before)
    // match only "b" (second commit): that dir is rewritten with its
    // survivor "e"; commits 1 and 3 carry verbatim
    assert(s.deleteWhere($"name" === "b") === 1L)
    val after = commits()
    assert(after.contains(before(0)) && after.contains(before(2)))
    assert(!after.contains(before(1)))
    assert(after.count(_.contains("delete")) === 1)
    val got = s.read().select($"name", $"values")
      .as[(String, Seq[Float])].collect().toMap
    assert(got === Map("a" -> Seq(1f, 1f), "c" -> Seq(3f, 3f),
      "e" -> Seq(5f, 5f)))
    // the survivor kept its id through the rewrite
    assert(s.read().filter($"name" === "e")
      .select($"id").as[Long].head() === 3L)
    // FULL-match delete of one dir: no zero-row commit lands and the
    // empty rewrite dir leaves disk (it would otherwise be permanent
    // manifest residue or instant vacuum garbage)
    def deleteDirsOnDisk() = new java.io.File(s"$root/data")
      .listFiles().count(f => f.isDirectory && f.getName.contains("delete"))
    val beforeFull = commits()
    val dirsBefore = deleteDirsOnDisk()
    assert(s.deleteWhere($"name" === "e") === 1L)
    assert(commits() === beforeFull.filterNot(_.contains("delete")))
    assert(deleteDirsOnDisk() === dirsBefore) // empty dir removed
    // nondeterministic predicates are a loud error (the detection
    // pass and the rewrite would evaluate different row sets)
    val ndErr = intercept[IllegalArgumentException] {
      s.deleteWhere(rand() < 0.5)
    }
    assert(ndErr.getMessage.contains("deterministic"))
  }

  test("vacuum removes only unreferenced commit dirs") {
    val root = tmp()
    val s = VfsStore.create(spark, root, "vc", dim = 2, flushThreshold = 1)
    (1 to 4).foreach(i => s.insert(Array(i.toFloat, 0f), s"v$i", Nil))
    s.snapshot("keepme")
    s.compact()
    // live manifest references the compacted dir; snapshot references
    // the 4 originals -> nothing is vacuumable yet
    assert(s.vacuum() === 0)
    assert(s.readSnapshot("keepme").count() === 4L)
    // drop the snapshot -> the 4 pre-compaction dirs become garbage
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "snapshots", "keepme.json"))
    assert(s.vacuum() === 4)
    assert(s.read().count() === 4L) // live data intact
  }

  test("retention vacuum: snapshot survives delete, dies only after " +
      "vacuum(olderThan) — and the deleted rows' dirs leave disk") {
    val root = tmp()
    val s = VfsStore.create(spark, root, "rv", dim = 2, flushThreshold = 1)
    (1 to 4).foreach(i => s.insert(Array(i.toFloat, 0f), s"v$i", Nil))
    s.snapshot("preDelete")
    assert(s.deleteWhere(col("id") <= 2L) === 2L)
    // delete alone must NOT break time travel
    assert(s.readSnapshot("preDelete").count() === 4L)
    // a long retention keeps the snapshot (cutoff in the past)
    assert(s.vacuum(olderThanMs = 3600000L) === 0)
    assert(s.readSnapshot("preDelete").count() === 4L)
    // expire it: snapshot dropped, pre-delete dirs reclaimed. The
    // MATCH-PRUNED rewrite replaced only the two dirs that held a
    // matching row — dirs 3 and 4 stayed LIVE in the manifest, so
    // exactly the two deleted rows' dirs become garbage
    Thread.sleep(15)
    val removed = s.vacuum(olderThanMs = 5L)
    assert(removed === 2, s"expected the 2 matching dirs reclaimed, got $removed")
    intercept[graft.store.StoreStateException](
      s.readSnapshot("preDelete"))
    assert(s.read().select($"id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L)) // live post-delete view intact
  }

  test("changesSince reads only post-snapshot commits, file-pruned") {
    val s = VfsStore.create(spark, tmp(), "cdc", dim = 2)
    s.appendBatch(Seq((Seq(1f, 0f), "a"), (Seq(2f, 0f), "b"))
      .toDF("values", "name").withColumn("tags", array()))
    s.snapshot("base")
    // no changes yet: empty delta with the dense schema
    assert(s.changesSince("base").count() === 0L)
    s.appendBatch(Seq((Seq(3f, 0f), "c")).toDF("values", "name")
      .withColumn("tags", array()))
    // memtable rows participate (changesSince flushes first)
    s.insert(Array(4f, 0f), "d", Nil)
    val delta = s.changesSince("base")
    assert(delta.select("name").as[String].collect().sorted.toSeq ===
      Seq("c", "d"))
    // the delta scan must touch ONLY the new commit dirs: every file
    // path in the scan's file index is a post-snapshot directory
    val base = VfsManifest.fromJson(new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(s.root, "snapshots",
        "base.json"))))
    val scanned = delta.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
    }.flatten
    assert(scanned.nonEmpty)
    assert(scanned.forall(p => !base.commits.exists(p.contains)),
      s"delta scan touched a pre-snapshot dir: $scanned")
    // unknown snapshot fails fast
    val e = intercept[StoreStateException](s.changesSince("nope"))
    assert(e.getMessage.contains("[GRAFT]"))
  }

  test("changesSince on a quantized store dequantizes the delta view") {
    val s = VfsStore.create(spark, tmp(), "cdcq", dim = 2, quantize = true)
    s.appendBatch(Seq((Seq(1f, 0.5f), "a")).toDF("values", "name")
      .withColumn("tags", array()))
    s.snapshot("base")
    s.appendBatch(Seq((Seq(0.25f, -0.5f), "b")).toDF("values", "name")
      .withColumn("tags", array()))
    val rows = s.changesSince("base").collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("name") === "b") // de-mangled
    val vs = r.getSeq[Float](r.fieldIndex("values"))
    // quantize(127)/dequantize round trip: within 1/127 per lane
    assert(math.abs(vs(0) - 0.25f) <= 1.0f / 127 &&
      math.abs(vs(1) + 0.5f) <= 1.0f / 127)
  }

  test("diffSnapshot reports row-level added and removed across a " +
      "rewrite, where the commit-diff resets") {
    val s = VfsStore.create(spark, tmp(), "diff", dim = 2)
    s.appendBatch(Seq((Seq(1f, 0f), "a"), (Seq(2f, 0f), "b"),
      (Seq(3f, 0f), "c")).toDF("values", "name").withColumn("tags", array()))
    s.snapshot("base")
    s.appendBatch(Seq((Seq(4f, 0f), "d")).toDF("values", "name")
      .withColumn("tags", array()))
    s.deleteWhere(col("name") === "b") // match-pruned rewrite
    val diff = s.diffSnapshot("base")
      .select("name", "change").as[(String, String)].collect().toSet
    assert(diff === Set(("d", "added"), ("b", "removed")))
    // file-level delta after the pruned rewrite: the ONE rewritten
    // commit's survivors (a, c — b's dir held the match) plus the
    // genuinely new post-snapshot commit (d); the row-level diff
    // above stays exact either way
    assert(s.changesSince("base").count() === 3L) // a, c survivors + d
  }

  test("readStream delivers committed batches continuously, " +
      "dequantized, exactly once per file") {
    val s = VfsStore.create(spark, tmp(), "cdcs", dim = 2, quantize = true)
    val q = s.readStream().writeStream
      .format("memory").queryName("store_cdc")
      .option("checkpointLocation", tmp())
      .start()
    try {
      s.appendBatch(Seq((Seq(1f, 0.5f), "a"), (Seq(0.25f, -1f), "b"))
        .toDF("values", "name").withColumn("tags", array()))
      q.processAllAvailable()
      val first = spark.sql("SELECT name FROM store_cdc")
        .as[String].collect().sorted.toSeq
      assert(first === Seq("a", "b")) // de-mangled names
      // second commit: only the new rows arrive (file-tracked source)
      s.appendBatch(Seq((Seq(0.5f, 0.5f), "c")).toDF("values", "name")
        .withColumn("tags", array()))
      q.processAllAvailable()
      val all = spark.sql("SELECT name, values FROM store_cdc").collect()
      assert(all.map(_.getString(0)).sorted.toSeq === Seq("a", "b", "c"))
      // dense view: dequantized floats within 1/127 per lane
      val aRow = all.find(_.getString(0) === "a").get
      val vs = aRow.getSeq[Float](1)
      assert(math.abs(vs(0) - 1f) <= 1.0f / 127 &&
        math.abs(vs(1) - 0.5f) <= 1.0f / 127)
    } finally q.stop()
  }

  test("readStream across an upsertBatch: untouched commits are NOT " +
      "re-delivered; survivors of rewritten dirs re-deliver with " +
      "stable ids; max-id-per-name reconstructs the post-upsert state") {
    val s = VfsStore.create(spark, tmp(), "cdcu", dim = 2)
    // two separate commits: one that will collide, one untouched
    s.appendBatch(Seq((Seq(1f, 1f), "a"), (Seq(2f, 2f), "b"))
      .toDF("values", "name").withColumn("tags", array()))
    s.appendBatch(Seq((Seq(3f, 3f), "c")).toDF("values", "name")
      .withColumn("tags", array()))
    val q = s.readStream().writeStream
      .format("memory").queryName("store_up")
      .option("checkpointLocation", tmp())
      .start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM store_up").count() === 3L)
      // upsert replacing "a" (lives in commit 1) — commit 2 untouched
      s.upsertBatch(Seq((Seq(10f, 10f), "a")).toDF("values", "name")
        .withColumn("tags", array()))
      q.processAllAvailable()
      val all = spark.sql("SELECT id, name, values FROM store_up")
        .as[(Long, String, Seq[Float])].collect()
      // delivered: the 3 initial rows + the keep-dir survivor "b"
      // (its dir was rewritten, so its file re-delivers) + the new
      // "a". "c" does NOT re-deliver: its dir carried verbatim.
      assert(all.length === 5)
      assert(all.count(_._2 == "c") === 1)
      // the survivor's id is STABLE across the rewrite — re-delivery
      // is idempotent for id-keyed consumers
      assert(all.filter(_._2 == "b").map(_._1).distinct.length === 1)
      // replaced rows are superseded (fresh higher id), never
      // retracted: max-id-per-name over the delivered rows equals
      // the store's live view — the documented consumer contract
      val reconstructed = all.groupBy(_._2).map { case (n, rs) =>
        val latest = rs.maxBy(_._1); (n, latest._3) }
      val live = s.read().select($"name", $"values")
        .as[(String, Seq[Float])].collect().toMap
      assert(reconstructed === live)
    } finally q.stop()
  }

  test("readStream vacuums crash-orphaned commit dirs before " +
      "attaching: orphan rows are never delivered, the dir is " +
      "reclaimed, and later appends reuse the orphan's ids cleanly") {
    val root = tmp()
    val s = VfsStore.create(spark, root, "cdco", dim = 2)
    s.appendBatch(Seq((Seq(1f, 0f), "a")).toDF("values", "name")
      .withColumn("tags", array()))
    // simulate a crash between the parquet write and the manifest
    // swap: a data directory no manifest references, holding ids the
    // store will hand out again (nextId never advanced)
    val dataDir = new java.io.File(s"$root/data")
    val committed = dataDir.listFiles().filter(_.isDirectory)
    assert(committed.length === 1)
    val orphanDir = s"$root/data/c9999999999999-9999-append"
    spark.read.parquet(committed.head.getPath)
      .withColumn("name", lit("orphan"))
      .write.parquet(orphanDir)
    assert(new java.io.File(orphanDir).exists())
    val q = s.readStream().writeStream
      .format("memory").queryName("store_orphan")
      .option("checkpointLocation", tmp())
      .start()
    try {
      q.processAllAvailable()
      // only the committed row arrives; the orphan was reclaimed
      // BEFORE the file source listed the directory
      assert(spark.sql("SELECT name FROM store_orphan")
        .as[String].collect().toSeq === Seq("a"))
      assert(!new java.io.File(orphanDir).exists())
      // the ids the orphan squatted on are reassigned without aliasing
      // into the stream's delivered set
      s.appendBatch(Seq((Seq(0f, 1f), "b")).toDF("values", "name")
        .withColumn("tags", array()))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, name FROM store_orphan")
        .as[(Long, String)].collect().toSeq.sorted
      assert(rows === Seq((1L, "a"), (2L, "b")))
    } finally q.stop()
  }

  test("point lookup pushes id predicate to parquet") {
    val s = VfsStore.create(spark, tmp(), "tp", dim = 2)
    (1 to 10).foreach(i => s.insert(Array(i.toFloat, 0f), s"v$i", Nil))
    val plan = s.read().filter($"id" === 5L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,5)]"), plan)
    assert(s.getById(5L).map(_.name) === Some("v5"))
    assert(s.getById(99L) === None)
  }

  /** A record's comparable content (VfsRecord holds an Array). */
  private def content(r: VfsRecord) =
    (r.id, r.values.toSeq, r.name, Option(r.tags).map(_.toSeq), r.created_at)

  /** getByIds against the read()-based lookup it replaces: the records
    * of `ids` that read() holds, in first-occurrence order of `ids`. */
  private def assertLookups(s: VfsStore, ids: Seq[Long], stage: String): Unit = {
    val viaRead = s.read().filter(col("id").isin(ids: _*))
      .as[VfsRecord].collect().map(r => r.id -> r).toMap
    val want = ids.distinct.flatMap(viaRead.get).map(content)
    assert(s.getByIds(ids).map(content) === want, stage)
    ids.foreach(id => assert(s.getById(id).map(content) ===
      viaRead.get(id).map(content), s"$stage id=$id"))
  }

  test("getByIds: memtable and committed hits, missing ids, and ids " +
      "after upsertBatch, deleteWhere, compact and restore (dense and " +
      "quantized)") {
    for (quantize <- Seq(false, true)) {
      val st = s"quantize=$quantize"
      val s = VfsStore.create(spark, tmp(), "byids", dim = 2, quantize)
      val all = (1L to 8L) :+ 99L
      s.appendBatch(Seq((Seq(0.5f, -0.25f), "a", Seq("x")),
        (Seq(0.75f, 0f), "b", Seq[String]()),
        (Seq(-0.125f, 1f), "c", Seq("x", "y"))).toDF("values", "name", "tags"))
      s.insert(Array(0.0625f, 0.5f), "d", Seq("y"))
      s.insert(Array(1f, -1f), "e", null)
      // ids 4 and 5 live in the memtable, 1-3 in a commit dir
      assert(s.hasUnflushed)
      assert(s.getByIds(Seq(5L, 1L, 99L, 4L, 1L)).map(_.id) ===
        Seq(5L, 1L, 4L), st)
      assert(s.getById(99L) === None)
      assertLookups(s, all, s"$st memtable")
      s.snapshot() // flushes
      assertLookups(s, all, s"$st flushed")
      s.upsertBatch(Seq((Seq(0.25f, 0.25f), "b", Seq("z")))
        .toDF("values", "name", "tags"))
      assert(s.getById(2L) === None, st) // "b" replaced under id 6
      assert(s.getById(6L).map(_.name) === Some("b"), st)
      assertLookups(s, all, s"$st upsert")
      s.deleteWhere(col("id") === 3L)
      assert(s.getById(3L) === None, st)
      assertLookups(s, all, s"$st delete")
      s.compact()
      assertLookups(s, all, s"$st compact")
      s.insert(Array(0.375f, -0.625f), "f", Seq("x"))
      s.restore()
      assert(s.getByIds(all).map(_.id) === (1L to 5L), st)
      assertLookups(s, all, s"$st restore")
    }
  }

  /** Copy a test-resource dir tree to a fresh temp dir. */
  private def resourceCopy(name: String): String = {
    val src = java.nio.file.Paths.get(getClass.getResource(s"/$name").toURI)
    val dst = java.nio.file.Paths.get(tmp(), "store")
    val w = Files.walk(src)
    try w.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
    dst.toString
  }

  test("known-schema store reads equal the inferred reads row for row " +
      "and in column types, dense and quantized, including stores " +
      "written before reads took the known schema") {
    def writtenHere(quantize: Boolean): String = {
      val root = tmp()
      val s = VfsStore.create(spark, root, "schema", dim = 3, quantize)
      s.appendBatch(Seq((Seq(0.5f, -0.25f, 0.125f), "a", Seq("x")),
        (Seq(0.75f, 0f, -0.5f), "b", Seq[String]()))
        .toDF("values", "name", "tags"))
      s.insert(Array(0.0625f, 0.5f, -0.75f), "c", null)
      s.flush()
      s.upsertBatch(Seq((Seq(0.25f, 0.25f, 0.25f), "b", Seq("z")))
        .toDF("values", "name", "tags"))
      s.deleteWhere(col("id") === 1L)
      root
    }
    // legacy-store/*: written by the store code from before reads took
    // the known schema, with a commit of each kind (flush, batch,
    // upsert, delete rewrite)
    val roots = Seq(writtenHere(false), writtenHere(true),
      resourceCopy("legacy-store/dense"), resourceCopy("legacy-store/quantized"))
    roots.foreach { root =>
      val s = VfsStore.open(spark, root)
      val m = VfsManifest.fromJson(new String(Files.readAllBytes(
        java.nio.file.Paths.get(root, "manifest.json")), "UTF-8"))
      assert(m.commits.size >= 2, root)
      val inferred = spark.read.parquet(m.commits.map(c => s"$root/data/$c"): _*)
      val known = s.readRaw()
      assert(known.schema === inferred.schema, root)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id").collect().toSeq
      assert(rows(known) === rows(inferred), root)
      assert(rows(s.read()) ===
        rows(VfsStore.denseView(inferred, m.quantize)), root)
      assert(s.getByIds((1L to 8L)).map(_.id) ===
        rows(inferred).map(_.getLong(0)), root)
    }
  }
}
