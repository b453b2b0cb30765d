package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class PipelineSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet(s"${GraftTest.sf001}/documents.parquet")

  test("minhash LSH finds all high-jaccard pairs found by exact search") {
    // ground truth: exact within-source jaccard >= 0.9 pairs
    val exact = Dedup.jaccardPairsWithin(docs, "source", 0.9)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "calibration: expected some >=0.9 pairs")
    val lsh = Dedup.minHashLsh(docs, threshold = 0.9)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    // LSH searches globally, so it must find at least the within-source set
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed ${missed.size} of ${exact.size}")
    // and every reported pair genuinely clears the threshold (verified step)
    assert(lsh.size >= exact.size)
  }

  test("incremental LSH join finds probe-vs-corpus near-dups only") {
    // corpus split: probe = first 100 docs, corpus = the rest; ground
    // truth from the exact within-source jaccard pairs crossing the cut
    val probe = docs.filter($"doc_id" < 100)
    val corpus = docs.filter($"doc_id" >= 100)
    val exact = Dedup.jaccardPairsWithin(docs, "source", 0.9)
      .select($"a", $"b").as[(Long, Long)].collect()
      .filter { case (a, b) => (a < 100) != (b < 100) }
      .map { case (a, b) => if (a < 100) (a, b) else (b, a) }.toSet
    assert(exact.nonEmpty, "calibration: expected cross-cut pairs")
    val got = Dedup.minHashLshJoin(probe, corpus, threshold = 0.9)
      .select($"probe_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val missed = exact -- got
    assert(missed.isEmpty, s"missed ${missed.size} of ${exact.size}")
    // one-sided: every probe id is from the probe cut
    got.foreach { case (p, c) => assert(p < 100 && c >= 100) }
  }

  test("LSH text index: build+append probe == fresh join; compact/rebuild lifecycle") {
    val delta = docs.filter($"doc_id" < 100)
    val corpus = docs.filter($"doc_id" >= 100)
    val path = Files.createTempDirectory("graft-lsh-idx").toString
    // build over part of the corpus, append the rest: the probe must
    // see both slices through one band table
    LshTextIndex.build(corpus.filter($"doc_id" < 300), path)
    LshTextIndex.append(corpus.filter($"doc_id" >= 300), path)
    val fresh = Dedup.minHashLshJoin(delta, corpus, threshold = 0.9)
      .select($"probe_id", $"corpus_id", $"jaccard_milli")
      .as[(Long, Long, Long)].collect().toSet
    assert(fresh.nonEmpty, "calibration: expected cross near-dups")
    val viaIndex = LshTextIndex.probe(spark, path, delta, corpus,
        threshold = 0.9)
      .select($"probe_id", $"corpus_id", $"jaccard_milli")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaIndex === fresh)
    // compact rewrites the appended file sets; results must not move
    LshTextIndex.compact(spark, path)
    val afterCompact = LshTextIndex.probe(spark, path, delta, corpus,
        threshold = 0.9)
      .select($"probe_id", $"corpus_id", $"jaccard_milli")
      .as[(Long, Long, Long)].collect().toSet
    assert(afterCompact === fresh)
    // rebuild is a new generation (stale-derived-artifact detection)
    assert(LshTextIndex.readMeta(path).generation === 1)
    LshTextIndex.build(corpus, path)
    assert(LshTextIndex.readMeta(path).generation === 2)
  }

  test("LSH index takedown: a deleted corpus doc never reappears as a " +
      "probe candidate; unrelated pairs survive; generation bumps") {
    val delta = docs.filter($"doc_id" < 100)
    val corpus = docs.filter($"doc_id" >= 100)
    val path = Files.createTempDirectory("graft-lsh-del").toString
    LshTextIndex.build(corpus.filter($"doc_id" < 300), path)
    LshTextIndex.append(corpus.filter($"doc_id" >= 300), path)
    val before = LshTextIndex.probe(spark, path, delta, corpus,
        threshold = 0.9)
      .select($"probe_id", $"corpus_id", $"jaccard_milli")
      .as[(Long, Long, Long)].collect().toSet
    val victims = before.map(_._2).take(3)
    assert(victims.nonEmpty, "calibration: expected corpus-side hits")
    val gen0 = LshTextIndex.readMeta(path).generation
    val removed = LshTextIndex.deleteIds(spark, path,
      victims.toSeq.map(v => v: Any))
    assert(removed > 0L)
    assert(LshTextIndex.readMeta(path).generation === gen0 + 1)
    // the band table holds NO residue of the victims at all
    assert(spark.read.parquet(s"$path/bands")
      .filter($"id".isin(victims.toSeq: _*)).count() === 0L)
    val after = LshTextIndex.probe(spark, path, delta, corpus,
        threshold = 0.9)
      .select($"probe_id", $"corpus_id", $"jaccard_milli")
      .as[(Long, Long, Long)].collect().toSet
    assert(after.forall { case (_, c, _) => !victims.contains(c) })
    assert(after === before.filterNot { case (_, c, _) =>
      victims.contains(c) })
    // empty batch is a no-op
    assert(LshTextIndex.deleteIds(spark, path, Seq.empty) === 0L)
    assert(LshTextIndex.readMeta(path).generation === gen0 + 1)
  }

  test("binary sidecar takedown: deleted ids vanish from every coarse " +
      "cut, duplicates included; dim stays frozen; generation bumps") {
    import graft.operators.BinaryIndex
    val emb = spark.read.parquet(s"${GraftTest.sf0001}/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-bin-del").toString
    BinaryIndex.build(emb, dir)
    val q = emb.filter($"vec_id" === 1L).select($"embedding")
      .head().getSeq[Float](0).toArray
    val before = BinaryIndex.candidates(spark, dir, q, n = 20)
      .as[(Long, Long)].collect().toSeq
    val victims = before.take(3).map(_._1)
    // plain-append one victim again: the delete must remove BOTH
    // stored rows, not one
    BinaryIndex.append(emb.filter($"vec_id" === victims.head), dir)
    val meta0 = BinaryIndex.readMeta(dir)
    val removed = BinaryIndex.deleteIds(spark, dir, victims)
    assert(removed === victims.length + 1L)
    val meta1 = BinaryIndex.readMeta(dir)
    assert(meta1.generation === meta0.generation + 1)
    assert(meta1.dim === meta0.dim)
    val after = BinaryIndex.candidates(spark, dir, q,
      n = emb.count().toInt)
      .select($"id").as[Long].collect().toSet
    assert(victims.forall(v => !after.contains(v)))
    assert((before.map(_._1).toSet -- victims).subsetOf(after))
    // search() can no longer hydrate them either
    val res = BinaryIndex.search(spark, dir, emb, q, k = 10)
      .select($"vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !res.contains(v)))
    // the monotonic append marker survives a delete: committed batch
    // ids still no-op (a replay can never resurrect a deleted id)
    assert(BinaryIndex.appendIdempotent(
      emb.filter($"vec_id" === 2L), dir, batchId = 7L))
    assert(!BinaryIndex.appendIdempotent(
      emb.filter($"vec_id" === victims.head), dir, batchId = 7L))
    assert(spark.read.parquet(s"$dir/packed")
      .filter($"id" === victims.head).count() === 0L)
  }

  test("gram index takedown: retire() rebuilds from survivors — a " +
      "retired doc's unique grams stop matching, shared grams stay; " +
      "k frozen, generation bumps; batch layout refuses") {
    import graft.operators.GramIndex
    val corpus = Seq(
      (1L, "shared alpha beta gamma delta epsilon common tail"),
      (2L, "shared alpha beta gamma delta epsilon common tail"),
      (3L, "victim unique secret phrase nobody else repeats ever"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-gram-del").toString
    GramIndex.build(corpus, dir, k = 3)
    // a delta echoing the victim's text: flagged before the takedown
    val delta = Seq(
      (10L, "victim unique secret phrase nobody else repeats ever"),
      (11L, "shared alpha beta gamma delta epsilon common tail"))
      .toDF("doc_id", "text")
    val before = GramIndex.probeSpans(spark, dir, delta)
      .select($"doc_id").as[Long].collect().toSet
    assert(before === Set(10L, 11L))
    val gen0 = GramIndex.readMeta(dir).generation
    GramIndex.retire(spark, dir, corpus.filter($"doc_id" =!= 3L))
    assert(GramIndex.readMeta(dir).k === 3)
    assert(GramIndex.readMeta(dir).generation === gen0 + 1)
    val after = GramIndex.probeSpans(spark, dir, delta)
      .select($"doc_id").as[Long].collect().toSet
    // the victim's text no longer matches; the shared text still does
    assert(after === Set(11L))
    // batch-addressed streaming layout: loud refusal
    val streamDir = Files.createTempDirectory("graft-gram-batch").toString
    GramIndex.ensureMeta(streamDir, k = 3)
    GramIndex.distinctGrams(corpus, 3).withColumn("batch", lit(0L))
      .write.partitionBy("batch").parquet(s"$streamDir/grams")
    val err = intercept[IllegalArgumentException] {
      GramIndex.retire(spark, streamDir, corpus)
    }
    assert(err.getMessage.contains("BATCH-ADDRESSED"))
    // ensureMeta-stamped artifact with NO grams dir yet: nothing to
    // retire — the rebuild publishes fresh at the frozen k
    val emptyDir = Files.createTempDirectory("graft-gram-empty").toString
    GramIndex.ensureMeta(emptyDir, k = 3)
    GramIndex.retire(spark, emptyDir,
      corpus.filter($"doc_id" =!= 3L)) // no throw
    assert(GramIndex.readMeta(emptyDir).k === 3)
    assert(GramIndex.probeSpans(spark, emptyDir, delta)
      .select($"doc_id").as[Long].collect().toSet === Set(11L))
  }

  test("capBucketsAnti drops exactly capBuckets' rows (hot identical " +
      "bucket over the cap, mid bucket at it, singles under it)") {
    val rows = (0 until 60).map(i => (i.toLong, "same hot text here")) ++
      (100 until 150).map(i => (i.toLong, "mid warm text block")) ++
      (200 until 230).map(i => (i.toLong, s"unique doc number $i"))
    val banded = Dedup.bandedRelation(rows.toDF("doc_id", "text"),
      "id", "text", "doc_id", 16, 4)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"band", $"bsig")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getSeq[Long](2).toList)).toSet
    val viaWindow = norm(Dedup.capBuckets(banded, 50))
    val viaAnti = norm(Dedup.capBucketsAnti(banded, 50))
    assert(viaAnti === viaWindow)
    // the hot 60-doc bucket really was dropped, the at-cap 50-doc
    // bucket kept whole, singles untouched
    assert(!viaAnti.exists(_._1 < 60))
    assert(viaAnti.count(t => t._1 >= 100 && t._1 < 150) === 50 * 16)
    assert(viaAnti.count(_._1 >= 200) === 30 * 16)
  }

  test("LSH index params-change rebuild: crash states are the complete " +
      "old artifact, the complete new one, or a loud failure — and a " +
      "legacy path-level lsh.json reads and migrates") {
    import graft.operators.LshTextIndex
    val path = Files.createTempDirectory("graft-lsh-crash").toString
    val corpus = docs.filter($"doc_id" >= 100 && $"doc_id" < 200)
    LshTextIndex.build(corpus, path, bands = 16, rowsPerBand = 4)
    // metadata rides INSIDE bands/ — one rename publishes both
    assert(new java.io.File(s"$path/bands/_lsh.json").exists())
    assert(!new java.io.File(s"$path/lsh.json").exists())
    val bandCount = spark.read.parquet(s"$path/bands").count()
    assert(bandCount === corpus.count() * 16)

    // CRASH STATE A — a bands=8 rebuild died after writing its stage:
    // live untouched, readers still see the 16-band artifact
    graft.operators.Dedup.bandedRelation(corpus, "id", "text",
        "doc_id", 8, 4)
      .write.mode("overwrite").parquet(s"$path/bands_stage")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/bands_stage/_lsh.json"),
      """{"bands":8,"rowsPerBand":4,"generation":2}""".getBytes("UTF-8"))
    assert(LshTextIndex.readMeta(path) === LshTextIndex.Meta(16, 4, 1))
    assert(spark.read.parquet(s"$path/bands").count() === bandCount)

    // CRASH STATE B — between the two swap renames: no live artifact,
    // loud failure (never 16-band metadata over 8-band triples);
    // recovery = rename bands_old back
    val live = java.nio.file.Paths.get(s"$path/bands")
    val parked = java.nio.file.Paths.get(s"$path/bands_old")
    java.nio.file.Files.move(live, parked)
    intercept[IllegalArgumentException] { LshTextIndex.readMeta(path) }
    // exists() must ALSO refuse — answering "false" would invite the
    // streaming ingest loop to silently REBUILD from one micro-batch,
    // discarding the whole corpus band table
    val parkedErr = intercept[IllegalArgumentException] {
      LshTextIndex.exists(path)
    }
    assert(parkedErr.getMessage.contains("CRASHED"))
    java.nio.file.Files.move(parked, live)
    assert(LshTextIndex.readMeta(path) === LshTextIndex.Meta(16, 4, 1))

    // CRASH STATE C — stage moved in: 8-band triples arrive WITH their
    // 8-band metadata in the same rename
    java.nio.file.Files.move(live, parked)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$path/bands_stage"), live)
    assert(LshTextIndex.readMeta(path) === LshTextIndex.Meta(8, 4, 2))
    assert(spark.read.parquet(s"$path/bands").count() ===
      corpus.count() * 8)

    // LEGACY layout: path-level lsh.json (pre-round-9 artifacts)
    // reads via the fallback and is migrated by the next rebuild
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$path/bands/_lsh.json"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/lsh.json"),
      """{"bands":8,"rowsPerBand":4,"generation":2}""".getBytes("UTF-8"))
    assert(LshTextIndex.exists(path))
    assert(LshTextIndex.readMeta(path) === LshTextIndex.Meta(8, 4, 2))
    LshTextIndex.build(corpus, path, bands = 16, rowsPerBand = 4)
    assert(LshTextIndex.readMeta(path) === LshTextIndex.Meta(16, 4, 3))
    assert(new java.io.File(s"$path/bands/_lsh.json").exists())
    assert(!new java.io.File(s"$path/lsh.json").exists()) // migrated

    // WRITER auto-heal: park the live dir again (crash state B), then
    // rerun build — the single-writer heals (renames bands_old back)
    // and the generation CONTINUES instead of resetting to 1, so
    // derived artifacts stamped against an earlier generation can
    // never equality-match a post-crash rebuild by accident
    java.nio.file.Files.move(live, parked)
    LshTextIndex.build(corpus, path, bands = 16, rowsPerBand = 4)
    assert(LshTextIndex.readMeta(path) === LshTextIndex.Meta(16, 4, 4))
    assert(!java.nio.file.Files.exists(parked))
  }

  test("simhash: identical docs collide, hamming pairs are symmetric-free") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different document about spark engines"),
      (4L, "the quick brown fox jumps over the lazy cat")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(d, maxHamming = 3)
      .select($"a", $"b", $"hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1 && b == 2 && h == 0 })
    assert(pairs.forall { case (a, b, _) => a < b })
  }

  test("simhash: pathological identical corpus is bucket-capped, not O(n^2)") {
    // 10k identical docs share every band value: uncapped, the band
    // self-join would materialize 4 * C(10k,2) ≈ 200M rows. The default
    // maxBucket drops the hot buckets, so the join completes in bounded
    // time with zero pairs — the dup group itself surfaces via
    // exactGroups, which is the documented division of labor.
    val n = 10000
    val d = spark.range(n).select($"id".as("doc_id"),
      lit("boilerplate header repeated verbatim across the corpus").as("text"))
    assert(Dedup.simHashPairs(d).count() === 0L)
    assert(Dedup.simHashPairsPortable(d).count() === 0L)
    val groups = Dedup.exactGroups(d).as[(Long, Long, Long)].collect()
    assert(groups.length === 1 && groups.head._3 === n.toLong)
    // sub-cap corpora keep the exact all-pairs guarantee: 50 identical
    // docs -> C(50,2) hamming-0 pairs
    val small = spark.range(50).select($"id".as("doc_id"),
      lit("same text").as("text"))
    assert(Dedup.simHashPairs(small).count() === 50L * 49 / 2)
  }

  test("bucket-fold pair generation is bit-identical to the window-" +
      "capped self-join reference, cap interplay included") {
    // clustered corpus: 75 clusters of 4 (shared prefix + per-doc
    // jitter) plus 40 IDENTICAL blob docs whose buckets (40 rows)
    // exceed maxBucket = 30 — the cap must drop them in BOTH forms
    val rows = (0 until 300).map { i =>
      val cl = i / 4
      val words = (0 until 12).map(j =>
        if (j < 11) s"c${cl}w${(cl * 31 + j) % 97}" else s"d${i}j$j")
      (i.toLong, words.mkString(" "))
    } ++ (1000 until 1040).map(i =>
      (i.toLong, "blob same text for everyone here"))
    val docs = rows.toDF("doc_id", "text")
    val got = Dedup.minHashLsh(docs, threshold = 0.8, maxBucket = 30)
      .as[(Long, Long, Long)].collect().toSet
    // reference: the join form reconstructed from the same blocks
    val banded = Dedup.bandedRelation(docs, "id", "text", "doc_id", 16, 4)
    val capped = Dedup.capBuckets(banded, 30)
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bsig") === col("b.bsig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"))
      .dropDuplicates("a", "b")
    val ref = Dedup.verifyJaccard(cand, docs, docs, "a", "b", "text",
        "doc_id", 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === ref)
    assert(got.nonEmpty && got.forall { case (a, b, _) => a < 1000L && b < 1000L })
    // and the blob really was cap-dropped, not just absent
    assert(Dedup.minHashLsh(docs, 0.8, maxBucket = 50)
      .filter($"a" >= 1000L).count() === 40L * 39 / 2)

    // simhash twin: fold form vs reconstructed capped self-join
    val sGot = Dedup.simHashPairs(docs, maxHamming = 3, maxBucket = 30)
      .as[(Long, Long, Long)].collect().toSet
    val sigs = docs.select($"doc_id".as("id"),
      Dedup.simHash64($"text").as("sig"))
    val sBanded = Dedup.capBuckets(sigs
      .select($"id", $"sig",
        explode(sequence(lit(0), lit(3))).as("band"))
      .select($"id", $"sig", $"band",
        call_function("shiftright", $"sig", $"band" * 16)
          .bitwiseAND(0xffffL).as("bval")),
      30, keys = Seq("band", "bval"))
    val sRef = sBanded.as("a").join(sBanded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bval") === col("b.bval") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("hamming"))
      .dropDuplicates("a", "b")
      .filter($"hamming" <= 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(sGot === sRef)
  }

  test("LSH pair operators accept STRING doc ids (UUID-style corpora) " +
      "and reject unsupported id types loudly") {
    val base = Seq(
      ("doc-a", "alpha beta gamma delta epsilon zeta"),
      ("doc-b", "alpha beta gamma delta epsilon zeta"),
      ("doc-c", "one two three four five six"))
      .toDF("doc_id", "text")
    val got = Dedup.minHashLsh(base, threshold = 0.9)
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("doc-a", "doc-b", 1000L)))
    val sh = Dedup.simHashPairs(base)
      .as[(String, String, Long)].collect().toSeq
    assert(sh === Seq(("doc-a", "doc-b", 0L)))
    val err = intercept[IllegalArgumentException] {
      Dedup.minHashLsh(base.withColumn("doc_id", lit(1.5)), 0.9).collect()
    }
    assert(err.getMessage.contains("integral or string"))
  }

  test("string-id pair folds: non-BMP ids orient by UTF-8 bytes " +
      "(self-join parity) and NULL ids are excluded, not an NPE") {
    // U+1F600 (non-BMP) encodes as UTF-16 surrogates 0xD83D 0xDE00,
    // which sort BELOW U+FFFF in Java string order but ABOVE it in
    // code-point/UTF-8 order — the exact divergence the typed pass
    // must not introduce vs the self-join's UTF8String compare
    val idLo = "z￿"        // code point U+FFFF
    val idHi = "z😀"  // code point U+1F600 > U+FFFF
    assert(idHi.compareTo(idLo) < 0) // Java order says hi < lo...
    val base = Seq(
      (Option(idLo), "alpha beta gamma delta epsilon zeta"),
      (Option(idHi), "alpha beta gamma delta epsilon zeta"),
      (Option.empty[String], "alpha beta gamma delta epsilon zeta"),
      (Option("plain"), "one two three four five six"))
      .toDF("doc_id", "text")
    // ...but the emitted pair must orient (a, b) = (idLo, idHi), the
    // UTF-8 byte order; the NULL-id row shares the bucket and must be
    // silently dropped (the self-join's NULL-compare exclusion)
    val mh = Dedup.minHashLsh(base, threshold = 0.9)
      .as[(String, String, Long)].collect().toSeq
    assert(mh === Seq((idLo, idHi, 1000L)))
    val sh = Dedup.simHashPairs(base)
      .as[(String, String, Long)].collect().toSeq
    assert(sh === Seq((idLo, idHi, 0L)))
    // and the self-join reference agrees on the orientation
    def reference(df: org.apache.spark.sql.DataFrame) =
      df.as("x").join(df.as("y"),
          col("x.text") === col("y.text") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id"))
        .collect().map(_.toSeq).toSeq
    assert(reference(base) === Seq(Seq(idLo, idHi)))
    // every public caller of the one bucket fold, over the same frame
    // with string ids and with integral ids (ordered opposite to the
    // string ids, NULL kept): the self-join's pair set and orientation,
    // each with its perfect-match score
    val longBase = base.withColumn("doc_id",
      when(col("doc_id") === idLo, 7L).when(col("doc_id") === idHi, 3L)
        .when(col("doc_id") === "plain", 5L))
    for (df <- Seq(base, longBase)) {
      val callers = Seq(
        "minHashLsh" -> (Dedup.minHashLsh(df, threshold = 0.9), 1000L),
        "containmentPairs" -> (Dedup.containmentPairs(df), 1000L),
        "simHashPairs" -> (Dedup.simHashPairs(df), 0L),
        "simHashPairsPortable" -> (Dedup.simHashPairsPortable(df), 0L),
        "sigPairs" -> (Dedup.sigPairs(df.select(col("doc_id").as("id"),
          Dedup.simHash64(col("text")).as("sig"))), 0L))
      val want = reference(df)
      assert(want.size === 1)
      for ((name, (pairs, score)) <- callers) {
        val got = pairs.collect().map(_.toSeq).toSeq
        assert(got === want.map(_ :+ score), s"$name over ${df.schema("doc_id")}")
      }
    }
    val dbl = intercept[IllegalArgumentException] {
      Dedup.sigPairs(Seq((1.5, 7L), (2.5, 7L)).toDF("id", "sig")).collect()
    }
    assert(dbl.getMessage.contains("integral or string"))
  }

  test("LSH pair dedups pin their exchange at defaultParallelism on " +
      "the pair columns") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val width = spark.sparkContext.defaultParallelism
    def pinnedOn(df: org.apache.spark.sql.DataFrame, keys: String*) =
      df.queryExecution.analyzed.collect {
        case r: RepartitionByExpression if r.partitionExpressions.map {
            case a: Attribute => a.name
            case e => e.sql
          } == keys => r.optNumPartitions
      }
    val texts = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val sigs = Seq((1L, 0L), (2L, 1L), (3L, 15L)).toDF("id", "sig")
    val lshIdx = Files.createTempDirectory("pin-lsh").toString
    val sigIdx = Files.createTempDirectory("pin-sig").toString
    LshTextIndex.build(texts, lshIdx)
    SigIndex.build(sigs, sigIdx, "pin-fam")
    val plans = Seq(
      "minHashLsh" -> pinnedOn(Dedup.minHashLsh(texts), "a", "b"),
      "simHashPairs" -> pinnedOn(Dedup.simHashPairs(texts), "a", "b"),
      "minHashLshJoin" -> pinnedOn(Dedup.minHashLshJoin(texts, texts),
        "probe_id", "corpus_id"),
      "LshTextIndex.probe" -> pinnedOn(LshTextIndex.probe(spark, lshIdx,
        texts, texts), "probe_id", "corpus_id"),
      "SigIndex.probe" -> pinnedOn(SigIndex.probe(spark, sigIdx, sigs,
        "pin-fam"), "probe_id", "corpus_id"))
    for ((name, widths) <- plans)
      assert(widths === Seq(Some(width)), name)
  }

  test("connected components: multi-hop chains collapse to min label") {
    // components: {1,2,3,4} via chain 1-2-3-4, {10,11}, isolated via
    // no edges never appears
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // randomized larger graph vs scala union-find
    val rnd = new scala.util.Random(5)
    val es = (0 until 300).map(_ => (rnd.nextInt(100).toLong,
      rnd.nextInt(100).toLong)).filter(p => p._1 != p._2)
    val parent = Array.tabulate(100)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0 until 100).map(i => i.toLong -> find(i).toLong).toMap
    val cc = Dedup.connectedComponents(es.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    cc.foreach { case (n, c) => assert(c === want(n.toInt), s"node $n") }
    // refusing to return wrong labels: a path graph of diameter 9
    // cannot converge in 3 rounds -> throw, never silently split
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 3).collect()
    }
    assert(Dedup.connectedComponents(chain).as[(Long, Long)]
      .collect().toMap.values.toSet === Set(0L))
  }

  test("connected components: a failure mid-loop leaves no " +
      "CacheManager entry behind") {
    val entries = () =>
      org.apache.spark.sql.graft.shims.cachedEntryCount(spark)
    val before = entries()
    // the edge column throws when the loop's first job evaluates it
    // (a range, not a local Seq: the optimizer would fold the UDF
    // over a LocalRelation at planning time, before any cache exists)
    val boom = udf { (a: Long) =>
      if (a >= 0L) throw new IllegalStateException("boom edge") else a }
    val edges = spark.range(1L, 3L)
      .select(boom(col("id")).as("a"), (col("id") + 1L).as("b"))
    val e = intercept[Exception](Dedup.connectedComponents(edges))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom edge")))
    assert(entries() === before,
      "the edge cache must be unpersisted in finally")
  }

  test("near-dup survivors: best score per component, ties -> min id, " +
      "singletons survive trivially") {
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 7L), (5L, 1L),
      (6L, 1L)).toDF("doc_id", "q")
    // components: {1,2,3} via 1-2, 2-3; {5,6}; 4 singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.nearDupSurvivors(docs, pairs, $"q")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (2L, 1L, 3L, 9L), // max q = 9 tied between 2 and 3 -> min id 2
      (4L, 4L, 1L, 7L), // singleton: own component, survives
      (5L, 5L, 2L, 1L))) // tie at q = 1 -> min id 5
    // keep-first semantics via a constant score
    val first = Dedup.nearDupSurvivors(docs, pairs, lit(0))
      .select($"doc_id").as[Long].collect().toSet
    assert(first === Set(1L, 4L, 5L))
  }

  test("chunkText: window/overlap boundaries, short-text single chunk") {
    import graft.operators.TextAnalysis.chunkText
    def chunksOf(t: String, size: Int, overlap: Int): Seq[String] =
      Seq(t).toDF("text")
        .select(chunkText(col("text"), size, overlap).as("c"))
        .head().getSeq[String](0).toSeq
    assert(chunksOf("abcdefghij", 4, 1) ===
      Seq("abcd", "defg", "ghij")) // step 3, full cover, 1-char overlap
    assert(chunksOf("abc", 10, 2) === Seq("abc")) // within one window
    assert(chunksOf("abcdefghijk", 4, 1) ===
      Seq("abcd", "defg", "ghij", "jk")) // short tail chunk
    // every adjacent pair overlaps by exactly `overlap` chars
    val cs = chunksOf("x" * 1000, 200, 50)
    cs.sliding(2).foreach {
      case Seq(a, b) => assert(a.takeRight(50) === b.take(50))
      case _ =>
    }
  }

  test("native minhash signature: deterministic, case-folded, word-order-free") {
    import org.apache.spark.sql.graft.shims
    def sigOf(t: String): Seq[Long] = {
      val df = Seq(t).toDF("text").select(shims.column(
        graft.functions.MinHashSig(
          shims.expression(col("text")), 16)).as("s"))
      df.head().getSeq[Long](0).toSeq
    }
    assert(sigOf("hello world") === sigOf("world  hello")) // set semantics
    assert(sigOf("Hello WORLD") === sigOf("hello world"))  // case folded
    assert(sigOf("hello world") !== sigOf("hello there"))
    assert(sigOf("") === sigOf("   "))                     // empty-token twin
    // token model == Dedup.wordSet EXACTLY: trim strips spaces only, a
    // surviving leading tab yields the leading "" token Spark's split
    // keeps — a hand-rolled trim/isWhitespace loop would diverge
    assert(sigOf("\thello world") === sigOf("\tworld hello"))
    assert(sigOf("\thello world") !== sigOf("hello world"))
    assert(sigOf(" hello world ") === sigOf("hello world"))
    // identical docs -> identical signatures in a distributed run
    val many = Seq.fill(50)("the same doc").toDF("text")
      .repartition(7)
      .select(shims.column(graft.functions.MinHashSig(
        shims.expression(col("text")), 16)).as("s"))
      .distinct().count()
    assert(many === 1L)
  }

  test("portable word hash = low 60 bits of md5 (JVM reference)") {
    def ref(w: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val words = Seq("hello", "wörld", "中文", "", "a b")
    val got = words.toDF("w")
      .select(Dedup.portableWordHash($"w")).as[Long].collect()
    assert(got.toSeq === words.map(ref))
  }

  test("portable simhash pairs = brute-force all-pairs hamming") {
    val d = docs.limit(120)
    val sigs = d.select($"doc_id",
        Dedup.simHash60Portable($"text").as("sig"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val lsh = Dedup.simHashPairsPortable(d, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(lsh === brute)
  }

  test("portable minhash signature matches per-row scala reference") {
    val params = Dedup.minHashParams(8)
    val texts = Seq((1L, "the cat and the cat"), (2L, "El Perro  y gato"))
    def ref(t: String): Seq[Long] = {
      val words = t.trim.toLowerCase.split("\\s+").distinct
      def h15(w: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8"))
        java.lang.Long.parseLong(
          d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
      }
      params.map { case (a, b) =>
        words.map(w => (a * (h15(w) % Dedup.MinHashP) + b) % Dedup.MinHashP).min
      }
    }
    val got = texts.toDF("doc_id", "text")
      .select($"doc_id", Dedup.minHashPortableSig($"text", params))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) === ref(texts(0)._2))
    assert(got(2L) === ref(texts(1)._2))
  }

  test("exact dedup groups: synthetic duplicates collapse to keeper") {
    val d = Seq((10L, "same text"), (11L, "same text"), (12L, "other"))
      .toDF("doc_id", "text")
    val g = Dedup.exactGroups(d).select($"keeper", $"cnt")
      .as[(Long, Long)].collect().toMap
    assert(g(10L) === 2L && g(12L) === 1L)
    val survivors = Dedup.exactSurvivors(d).select($"doc_id")
      .as[Long].collect().toSet
    assert(survivors === Set(10L, 12L))
  }

  test("passage dedup: global first occurrence survives, docs reassemble") {
    val d = Seq(
      (1L, "a b c d e f"),          // ["a b c", "d e f"] both first
      (2L, "a b c x y z"),          // "a b c" dup of doc1 → kept "x y z"
      (3L, "d e f"),                // fully duplicated → empty
      (4L, "q q q w w w q q q"),    // intra-doc dup: 3rd passage drops
      (5L, "x y z a b"))            // "x y z" dup of doc2; short tail kept
      .toDF("doc_id", "text")
    val r = Dedup.passageDedup(d, windowWords = 3)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect()
    assert(r(0) === ((1L, 2L, 2L, "a b c d e f")))
    assert(r(1) === ((2L, 2L, 1L, "x y z")))
    assert(r(2) === ((3L, 1L, 0L, "")))
    assert(r(3) === ((4L, 3L, 2L, "q q q w w w")))
    assert(r(4) === ((5L, 2L, 1L, "a b")))
    // reserved working columns are guarded
    intercept[IllegalArgumentException] {
      Dedup.passageDedup(d.withColumn("__idx", lit(1)))
    }
    intercept[IllegalArgumentException] {
      Dedup.passageDedup(d, windowWords = 0)
    }
  }

  test("passage dedup: a repeated (doc_id, idx, passage) row counts once") {
    // the operator assumes unique ids; this pins what a verbatim
    // duplicate row yields today: one keeper per passage, so
    // kept_passages counts each passage once, reported on both copies
    val d = Seq(
      (1L, "a b c d e f"),
      (1L, "a b c d e f"),          // same id, same passages, again
      (2L, "a b c x y z"))
      .toDF("doc_id", "text")
    val r = Dedup.passageDedup(d, windowWords = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r === Seq(
      (1L, 2L, 2L, "a b c d e f"),
      (1L, 2L, 2L, "a b c d e f"),
      (2L, 2L, 1L, "x y z")))
  }

  test("boilerplate lines: corpus-frequent lines drop from every doc") {
    // "NAV" reaches doc-frequency 5 (doc 2 only via trim — the key is
    // the trimmed line), so it drops from ALL docs including repeats
    // within doc 4; "rare line" (df 2 < 5) survives; blank and
    // whitespace-only lines drop silently (counted neither way); a
    // NULL text yields the all-zero row; kept lines keep their
    // ORIGINAL untrimmed text in original order
    val d = Seq(
      (1L, "NAV\nunique one\n\nrare line"),
      (2L, "  NAV  \n  unique two\nrare line"),
      (3L, "NAV\nunique three"),
      (4L, "NAV\nNAV\nunique four"),
      (5L, "NAV\n   \nunique five"),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val bp = Dedup.boilerplateLines(d, minDocFreq = 5L)
      .as[(String, Long)].collect().toMap
    assert(bp === Map("NAV" -> 5L))
    val r = Dedup.stripBoilerplate(d, minDocFreq = 5L)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect()
    assert(r(0) === ((1L, 2L, 1L, "unique one\nrare line")))
    assert(r(1) === ((2L, 2L, 1L, "  unique two\nrare line")))
    assert(r(2) === ((3L, 1L, 1L, "unique three")))
    assert(r(3) === ((4L, 1L, 2L, "unique four")))
    assert(r(4) === ((5L, 1L, 1L, "unique five")))
    assert(r(5) === ((6L, 0L, 0L, "")))
    intercept[IllegalArgumentException] {
      Dedup.boilerplateLines(d, minDocFreq = 1L)
    }
    intercept[IllegalArgumentException] {
      Dedup.stripBoilerplate(d.withColumn("__pos", lit(1)))
    }
    // standing-table path: a fresh batch strips against a PRECOMPUTED
    // line table (one corpus scan, no recount) — the scale shape
    val batch = Seq((10L, "NAV\nbrand new line")).toDF("doc_id", "text")
    val r2 = Dedup.stripBoilerplateWith(batch,
        Dedup.boilerplateLines(d, minDocFreq = 5L))
      .as[(Long, Long, Long, String)].collect()
    assert(r2.head === ((10L, 1L, 1L, "brand new line")))
    intercept[IllegalArgumentException] {
      Dedup.stripBoilerplateWith(batch, batch.select($"text"))
    }
  }

  test("line index: standing df table — build/append merge to the " +
      "corpus counts, replayed batch is a no-op, compact folds " +
      "partials, strip matches the one-shot form") {
    import graft.operators.LineIndex
    val d = Seq(
      (1L, "NAV\nunique one"),
      (2L, "NAV\nunique two"),
      (3L, "NAV\nunique three"),
      (4L, "NAV\nunique four"),
      (5L, "NAV\nunique five"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("line_index").toString
    // build on the first two docs, append the rest (disjoint ids)
    LineIndex.build(d.filter($"doc_id" <= 2), idx)
    assert(LineIndex.exists(idx))
    assert(LineIndex.appendIdempotent(d.filter($"doc_id" > 2), idx, 0L))
    // merged counts == a one-shot recount of the full corpus
    val merged = LineIndex.counts(spark, idx)
      .as[(String, Long)].collect().toMap
    val oneShot = Dedup.lineDocFreqs(d)
      .as[(String, Long)].collect().toMap
    assert(merged === oneShot && merged("NAV") === 5L)
    // a REPLAYED batch id is an exact no-op — a double-counted batch
    // would inflate df and flip clean lines over the threshold
    assert(!LineIndex.appendIdempotent(d.filter($"doc_id" > 2), idx, 0L))
    assert(LineIndex.counts(spark, idx)
      .as[(String, Long)].collect().toMap === merged)
    // compact folds the batch partials into the base; counts
    // identical after
    assert(spark.read.parquet(s"$idx/lines").count() >
      merged.size.toLong) // partials present pre-compact
    LineIndex.compact(spark, idx)
    assert(spark.read.parquet(s"$idx/lines").count() ===
      merged.size.toLong)
    // the watermark SURVIVES compaction (it lives outside lines/):
    // a stale replay of the folded batch is still refused, so the
    // folded base can never double-count
    assert(!LineIndex.appendIdempotent(d.filter($"doc_id" > 2), idx, 0L))
    assert(LineIndex.counts(spark, idx)
      .as[(String, Long)].collect().toMap === merged)
    // strip against the standing table == the one-shot strip
    val viaIndex = LineIndex.strip(spark, idx, d, minDocFreq = 5L)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect()
    val oneShotStrip = Dedup.stripBoilerplate(d, minDocFreq = 5L)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect()
    assert(viaIndex.toSeq === oneShotStrip.toSeq)
    assert(viaIndex.head === ((1L, 1L, 1L, "unique one")))
    // rebuild retires the watermark via the GENERATION BINDING (the
    // file survives — no delete step, so no crash window where the
    // OLD artifact is live without replay protection): batch 0
    // applies again under the new generation
    LineIndex.build(d.filter($"doc_id" <= 2), idx)
    assert(graft.operators.ArtifactIo.fileExists(idx, "_append_batch"))
    assert(LineIndex.appendIdempotent(d.filter($"doc_id" > 2), idx, 0L))
    // no artifact -> loud
    intercept[IllegalArgumentException] {
      LineIndex.counts(spark, java.nio.file.Files
        .createTempDirectory("line_index_none").toString)
    }
  }

  test("duplicate spans: sliding k-grams merge to maximal keep-first spans") {
    val d = Seq(
      (1L, "a b c d e f g"),      // all grams canonical → no spans
      (2L, "x x a b c d x"),      // "a b c","b c d" dup of doc1 → [2,6)
      (3L, "a b c z z z a b c"),  // two disjoint spans [0,3) [6,9)
      (4L, "a b c"),              // wholly duplicated
      (5L, "short"))              // shorter than k → no grams
      .toDF("doc_id", "text")
    val r = Dedup.duplicateSpans(d, k = 3)
      .orderBy($"doc_id", $"span_start")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.toSeq === Seq(
      (2L, 2L, 6L, 4L),
      (3L, 0L, 3L, 3L), (3L, 6L, 9L, 3L),
      (4L, 0L, 3L, 3L)))
    val s = Dedup.stripDuplicateSpans(d, k = 3)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect()
    assert(s.toSeq === Seq(
      (1L, 7L, 0L, "a b c d e f g"),
      (2L, 7L, 4L, "x x x"),
      (3L, 9L, 6L, "z z z"),
      (4L, 3L, 3L, ""),
      (5L, 1L, 0L, "short")))
    intercept[IllegalArgumentException] { Dedup.duplicateSpans(d, k = 0) }
    intercept[IllegalArgumentException] {
      Dedup.stripDuplicateSpans(d.withColumn("__spans", lit(1)))
    }
  }

  test("containment pairs: a swallowed doc surfaces where symmetric " +
      "jaccard misses it; sub-threshold overlap stays out") {
    // doc 2's words ⊆ doc 1's: jaccard = 8/16 = 0.5 (far below the
    // 0.9 LSH operating point) but containment = 1.0
    val big = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi"
    val d = Seq(
      (1L, big),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta unrelated1 unrelated2 unrelated3 unrelated4 " +
        "unrelated5 unrelated6"))  // containment 2/8 = 0.25 → out
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, threshold = 0.9)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1000L)))
    // the symmetric pipeline at the same threshold finds NOTHING —
    // that asymmetry is this operator's reason to exist
    assert(Dedup.minHashLsh(d, threshold = 0.9).count() === 0L)
  }

  test("gram index: corpus grams are canonical, delta-internal " +
      "keep-first, append extends, frozen k; batch parity holds") {
    val dir = java.nio.file.Files.createTempDirectory("gramidx").toString
    val corpus = Seq(
      (100L, "a b c d e f"),
      (101L, "p q r s t u v")).toDF("doc_id", "text")
    Dedup // touch to keep import used
    graft.operators.GramIndex.build(corpus, dir, k = 3)
    val delta = Seq(
      (1L, "a b c d x y"),        // corpus grams at 0,1 → span [0,4)
      (2L, "m m m n n n m m m"),  // delta-internal: 3rd trigram run
      (3L, "z z1 z2 z3"))         // novel → no spans
      .toDF("doc_id", "text")
    val got = graft.operators.GramIndex.probeSpans(spark, dir, delta)
      .orderBy($"doc_id", $"span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc2: grams m m m(0), m m n(1)... only (6)"m m m" repeats gram 0
    assert(got === Seq((1L, 0L, 4L, 4L), (2L, 6L, 9L, 3L)))
    // batch parity: corpus ids precede delta ids → probe == the batch
    // operator over corpus ∪ delta restricted to delta docs
    val shifted = delta.withColumn("doc_id", $"doc_id" + 1000L)
    val batch = Dedup.duplicateSpans(corpus.unionByName(shifted), k = 3)
      .filter($"doc_id" >= 1000L)
      .orderBy($"doc_id", $"span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
      .map(r => (r._1 - 1000L, r._2, r._3, r._4))
    assert(batch === got)
    // append: doc3's text enters the corpus → now fully duplicated
    graft.operators.GramIndex.append(
      Seq((200L, "z z1 z2 z3")).toDF("doc_id", "text"), dir)
    val after = graft.operators.GramIndex.probeSpans(spark, dir,
        delta.filter($"doc_id" === 3L))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(after === Seq((3L, 0L, 4L, 4L)))
    // compact folds duplicate hashes, results unchanged
    graft.operators.GramIndex.compact(spark, dir)
    val afterCompact = graft.operators.GramIndex.probeSpans(spark, dir,
        delta).orderBy($"doc_id", $"span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(afterCompact ===
      Seq((1L, 0L, 4L, 4L), (2L, 6L, 9L, 3L), (3L, 0L, 4L, 4L)))
    // k is frozen in the artifact
    assert(graft.operators.GramIndex.readMeta(dir).k === 3)
  }

  test("duplicate spans on the real corpus: spans sorted, disjoint, " +
      "in bounds; strip accounting is exactly the span total") {
    val docs = spark.read.parquet(s"${GraftTest.sf0001}/documents.parquet")
    val k = 3
    val spans = Dedup.duplicateSpans(docs, k)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(spans.nonEmpty) // the corpus genuinely has duplication
    val nTok = docs.select($"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long"))
      .as[(Long, Long)].collect().toMap
    spans.foreach { case (doc, ss) =>
      ss.foreach { case (_, s, e, len) =>
        assert(s >= 0 && e <= nTok(doc) && len == e - s && len >= k,
          s"doc $doc span [$s,$e)")
      }
      // sorted + disjoint + maximal (no two spans touch: an adjacent
      // pair would have merged)
      ss.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1)
        case _ =>
      }
    }
    // strip accounting: dup_tokens == the doc's span total, and the
    // kept text carries exactly n_tokens - dup_tokens tokens
    val strip = Dedup.stripDuplicateSpans(docs, k)
      .as[(Long, Long, Long, String)].collect()
    strip.foreach { case (doc, n, dup, txt) =>
      assert(n === nTok(doc))
      assert(dup === spans.get(doc).map(_.map(_._4).sum).getOrElse(0L))
      val keptTokens =
        if (txt.isEmpty) 0L else txt.split("\\s+", -1).length.toLong
      assert(keptTokens === n - dup, s"doc $doc")
    }
  }

  test("tf-idf keywords: rare words outrank common, exact integer score") {
    val d = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana common common"),
      (3L, "cherry common"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.tfIdfKeywords(d, k = 2)
      .orderBy($"doc_id", $"rank")
      .as[(Long, String, Long, Long)].collect()
    // N=3; doc1: apple tf=2 df=1 → 6000; banana tf=1 df=2 → 1500
    assert(r(0) === ((1L, "apple", 6000L, 1L)))
    assert(r(1) === ((1L, "banana", 1500L, 2L)))
    // doc2: common tf=2 df=3 → 2000 beats banana tf=1 df=2 → 1500
    assert(r(2) === ((2L, "common", 2000L, 1L)))
    assert(r(3) === ((2L, "banana", 1500L, 2L)))
    // doc3: cherry tf=1 df=1 → 3000 beats common tf=1 df=3 → 1000
    assert(r(4) === ((3L, "cherry", 3000L, 1L)))
    assert(r(5) === ((3L, "common", 1000L, 2L)))
    intercept[IllegalArgumentException] { TextAnalysis.tfIdfKeywords(d, 0) }
  }

  test("vocabulary: global counts ranked, coverage curve reaches 1000") {
    val d = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val r = TextAnalysis.vocabulary(d, v = 10)
      .orderBy($"rank").as[(String, Long, Long, Long)].collect()
    assert(r.toSeq === Seq(
      ("a", 3L, 1L, 500L),   // 3/6
      ("b", 2L, 2L, 833L),   // 5/6
      ("c", 1L, 3L, 1000L))) // 6/6
    // v truncates
    assert(TextAnalysis.vocabulary(d, v = 2).count() === 2)
  }

  test("SQL-registered text functions match the Scala column API") {
    graft.functions.registerAll(spark)
    val d = docs.limit(50)
    d.createOrReplaceTempView("tf_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, vfs_token_count(text) AS n_tokens,
        |  vfs_lang_id(text) AS lang_pred,
        |  vfs_quality_milli(text) AS quality_milli,
        |  vfs_normalize_text(text) AS norm,
        |  size(vfs_chunk_text(text, 200, 50)) AS n_chunks
        |FROM tf_docs ORDER BY doc_id""".stripMargin).collect()
    val viaApi = d.select($"doc_id",
        TextAnalysis.tokenCount($"text").as("n_tokens"),
        TextAnalysis.langId($"text").as("lang_pred"),
        TextAnalysis.qualityMilli($"text").as("quality_milli"),
        TextAnalysis.normalizeText($"text").as("norm"),
        size(TextAnalysis.chunkText($"text", 200, 50)).as("n_chunks"))
      .orderBy($"doc_id").collect()
    assert(viaSql.toSeq === viaApi.toSeq)
    // non-literal size argument fails loudly, not silently
    val err = intercept[Exception] {
      spark.sql("SELECT vfs_chunk_text(text, doc_id, 0) FROM tf_docs")
        .collect()
    }
    assert(err.getMessage.contains("integer literal") ||
      Option(err.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("embedding near-dup LSH agrees with exact pairs on clustered data") {
    val rnd = new scala.util.Random(3)
    val base = Array.fill(64)(rnd.nextFloat())
    val rows = Seq(
      (1L, 0, base),
      (2L, 0, base.map(x => x + 0.001f)), // near-dup of 1
      (3L, 0, Array.fill(64)(rnd.nextFloat() - 0.5f))
    ).toDF("vec_id", "label", "embedding")
    val exact = Dedup.embeddingPairsWithin(rows, "label", 0.1)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(exact === Set((1L, 2L)))
    val lsh = Dedup.embeddingNearDupLsh(rows, 0.1, bands = 2, bitsPerBand = 4)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(lsh === Set((1L, 2L)))
  }

  test("text analysis: fingerprint equality iff text equality; langid sane") {
    val d = Seq((1L, "the cat and the dog"), (2L, "the cat and the dog"),
      (3L, "el perro y el gato que no se va"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.analyze(d).collect().map(r =>
      r.getLong(0) -> (r.getLong(6), r.getString(4))).toMap
    assert(a(1L)._1 === a(2L)._1)
    assert(a(1L)._1 !== a(3L)._1)
    assert(a(1L)._2 === "en")
    assert(a(3L)._2 === "es")
  }

  test("repetition signals: line/paragraph/n-gram duplication fractions") {
    val d = Seq(
      // 3 lines, one duplicated -> dup_line 333; 3 paras, one dup -> 333
      (1L, "copy me\nunique line\ncopy me"),
      (2L, "para one\n\npara one\n\npara two"),
      // "a a a a": 3 bigrams all "a a" -> top2 = dup2 = 1000;
      // 2 trigrams both "a a a" -> top3 = dup3 = 1000
      (3L, "a a a a"),
      // all-distinct grams: top2 = floor(1000/3) = 333, dup2 = 0
      (4L, "w x y z"),
      // shorter than n: zero grams must yield 0s, not drop the doc
      (5L, "solo"),
      (6L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(d).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got(1L)._1 === 333L) // dup_line_milli
    assert(got(2L)._2 === 333L) // dup_para_milli
    assert(got(3L) === ((0L, 0L, 1000L, 1000L, 1000L, 1000L)))
    assert(got(4L)._3 === 333L && got(4L)._4 === 0L)
    assert(got(5L) === ((0L, 0L, 0L, 0L, 0L, 0L)))
    assert(got(6L) === ((0L, 0L, 0L, 0L, 0L, 0L)))
    assert(got.size === 6)
  }

  test("gopher rules: a clean page passes; each rule trips on its " +
      "crafted violator") {
    // 52 words, sane lengths, stopwords present, no symbols/bullets
    val good = (("the quick brown fox jumps over lazy dogs and cats " * 5)
      .trim + " an end")
    val d = Seq(
      (1L, good),
      (2L, "the and of short text"), // 5 words -> n_words rule
      (3L, ("the and " + "ab " * 50).trim), // mean len 2460 -> length rule
      (4L, ("the and " + "#tag " * 50).trim), // symbols ~961 -> symbol rule
      (5L, "the first line goes on...\nthe second one too..."), // ellipsis
      (6L, "- the one\n- and two\n* item three\n• item four"), // bullets
      (7L, ("the and " + "42 17 " * 30).trim), // alpha 2/62 words = 32
      (8L, good.replace("the ", "xx ").replace("and ", "yy "))) // stopwords
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherSignals(d).collect().map(r =>
      r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("gopher_pass") === 1L)
    assert(got(1L).getAs[Long]("n_words") === 52L)
    assert(got(1L).getAs[Long]("stop_hits") === 2L) // the, and
    for (id <- 2L to 8L)
      assert(got(id).getAs[Long]("gopher_pass") === 0L, s"doc $id")
    assert(got(2L).getAs[Long]("n_words") === 5L)
    assert(got(3L).getAs[Long]("mean_word_len_milli") < 3000L)
    assert(got(4L).getAs[Long]("symbol_word_milli") > 100L)
    assert(got(5L).getAs[Long]("ellipsis_line_milli") === 1000L)
    assert(got(6L).getAs[Long]("bullet_line_milli") === 1000L)
    assert(got(7L).getAs[Long]("alpha_word_milli") < 800L)
    assert(got(8L).getAs[Long]("stop_hits") < 2L)
  }

  test("qualityGate: the one-scan combined projection matches " +
      "gopherSignals joined with c4CleanLines column-for-column") {
    val docs = spark.read.parquet(s"${GraftTest.sf0001}/documents.parquet")
    val gate = TextAnalysis.qualityGate(docs)
    val combined = gate.orderBy($"doc_id").collect().map(_.toSeq).toSeq
    val joined = TextAnalysis.gopherSignals(docs)
      .join(TextAnalysis.c4CleanLines(docs), Seq("doc_id"))
      .select(gate.columns.map(col).toIndexedSeq: _*)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(combined.nonEmpty && combined === joined)
  }

  test("c4 line cleaning: terminal-punct keep, short/javascript drops, " +
      "page-level lorem-ipsum/brace drop") {
    val d = Seq(
      (1L, "This line has enough words to survive here.\n" +
        "Too short.\n" +
        "Enable JavaScript to continue reading this page now.\n" +
        "no terminal punctuation on this long enough line\n" +
        "Ends with a question mark and enough words too?"),
      (2L, "A fine page with code inside { dropped wholesale."),
      (3L, "Nothing here but Lorem Ipsum filler text follows."),
      (4L, "   \n\nOnly blank lines above this one survive filters.\n"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.c4CleanLines(d).collect().map(r =>
      r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("page_drop") === 0L)
    assert(got(1L).getAs[Long]("n_lines") === 5L)
    assert(got(1L).getAs[Long]("n_kept") === 2L)
    assert(got(1L).getAs[String]("clean_text") ===
      "This line has enough words to survive here.\n" +
        "Ends with a question mark and enough words too?")
    assert(got(2L).getAs[Long]("page_drop") === 1L)
    assert(got(2L).isNullAt(got(2L).fieldIndex("clean_text")))
    // "Lorem Ipsum" matches case-insensitively
    assert(got(3L).getAs[Long]("page_drop") === 1L)
    assert(got(4L).getAs[Long]("page_drop") === 0L)
    assert(got(4L).getAs[Long]("n_lines") === 1L)
    assert(got(4L).getAs[Long]("n_kept") === 1L)
  }

  test("pii scan: counts per category, redaction order, clean text intact") {
    val d = Seq(
      (1L, "reach me at jo.doe+x@mail-host.co.uk or 192.168.0.1"),
      (2L, "card 4111111111111111 ssn-ish 123456789 ip 10.0.0.254"),
      (3L, "no pii here, just words and the number 42"),
      (4L, "two mails a@b.io c@d.org")).toDF("doc_id", "text")
    val got = TextAnalysis.piiStats(d).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    assert(got(1L)._1 === 1L && got(1L)._2 === 1L && got(1L)._3 === 0L)
    assert(got(1L)._4 === "reach me at <EMAIL> or <IP>")
    assert(got(2L) === ((0L, 1L, 2L,
      "card <NUM> ssn-ish <NUM> ip <IP>")))
    assert(got(3L) === ((0L, 0L, 0L,
      "no pii here, just words and the number 42")))
    assert(got(4L)._1 === 2L)
  }

  test("sequence packing: per-shard running offsets, straddle, guard") {
    import graft.operators.Packing
    val d = Seq(
      (0L, 0L, 300L), (2L, 0L, 300L), (4L, 0L, 100L), // shard 0
      (1L, 1L, 600L), (3L, 1L, 50L))                  // shard 1
      .toDF("doc_id", "sh", "n")
    val got = Packing.packSequences(d, col("sh"), col("doc_id"),
        col("n"), seqLen = 512)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    // shard 0 stream: doc0 @0, doc2 @300 (straddles the 512 cut:
    // spans seqs 0..1), doc4 @600 (seq 1)
    assert(got(0L) === ((0L, 0L, 0L, 0L, 0L)))
    assert(got(2L) === ((0L, 300L, 0L, 300L, 1L)))
    assert(got(4L) === ((0L, 600L, 1L, 88L, 1L)))
    // shard 1 is an independent stream: doc1 @0 spans seqs 0..1,
    // doc3 @600
    assert(got(1L) === ((1L, 0L, 0L, 0L, 1L)))
    assert(got(3L) === ((1L, 600L, 1L, 88L, 1L)))
    // deterministic under repartitioning (no RNG, no task-order dep)
    val re = Packing.packSequences(d.repartition(7), col("sh"),
        col("doc_id"), col("n"), seqLen = 512)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(re === got.map { case (k, v) => (k, v._2) }.toSet)
    // reserved working-column guard
    intercept[IllegalArgumentException] {
      Packing.packSequences(d.withColumn("__shard", lit(1)), col("sh"),
        col("doc_id"), col("n"), 512)
    }
  }

  test("no-straddle bin packing: next-fit per shard, overflow bins, " +
      "deterministic under repartitioning") {
    import graft.operators.Packing
    val d = Seq(
      (1L, 0L, 100L), (2L, 0L, 100L), (3L, 0L, 100L), // bin0: 1,2 | bin1: 3
      (4L, 0L, 300L),                                 // oversized -> own bin
      (5L, 0L, 50L), (6L, 0L, 200L), (7L, 0L, 60L),   // bin3: 5,6 | bin4: 7
      (8L, 1L, 10L), (9L, 1L, 0L))                    // shard 1 resets
      .toDF("doc_id", "sh", "n")
    val got = Packing.packBinsNextFit(d, col("sh"), col("doc_id"),
        col("n"), binCapacity = 256)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(1L) === ((0L, 0L, 0L, 0L)))
    assert(got(2L) === ((0L, 0L, 100L, 0L))) // fits after doc 1
    assert(got(3L) === ((0L, 1L, 0L, 0L)))   // 300 > 256 -> new bin
    assert(got(4L) === ((0L, 2L, 0L, 1L)))   // oversized: own bin, flagged
    assert(got(5L) === ((0L, 3L, 0L, 0L)))   // bin after overflow is fresh
    assert(got(6L) === ((0L, 3L, 50L, 0L)))  // 50+200 <= 256
    assert(got(7L) === ((0L, 4L, 0L, 0L)))
    assert(got(8L) === ((1L, 0L, 0L, 0L)))   // shard 1: counters reset
    assert(got(9L) === ((1L, 0L, 10L, 0L)))  // zero-token doc keeps slot
    // deterministic under repartitioning (no task-order dependence)
    val re = Packing.packBinsNextFit(d.repartition(7), col("sh"),
        col("doc_id"), col("n"), binCapacity = 256)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(re === got)
    // strict mode: an oversized doc fails the JOB loudly, naming the
    // doc — for pipelines where truncation means corrupt training data
    val strictErr = intercept[org.apache.spark.SparkException] {
      Packing.packBinsNextFit(d, col("sh"), col("doc_id"), col("n"),
        binCapacity = 256, onOversize = "fail").collect()
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(chain(strictErr).contains("doc_id=4 has 300 tokens"))
    // without the oversized doc, strict == flag output exactly
    val strictOk = Packing.packBinsNextFit(d.filter($"doc_id" =!= 4L),
        col("sh"), col("doc_id"), col("n"), binCapacity = 256,
        onOversize = "fail")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(strictOk.keySet === got.keySet - 4L)
    assert(strictOk.values.forall(_._4 == 0L)) // nothing to flag
    // unknown mode rejected at plan time
    intercept[IllegalArgumentException] {
      Packing.packBinsNextFit(d, col("sh"), col("doc_id"), col("n"),
        256, onOversize = "truncate")
    }
    // next-fit never splits a doc and never overfills a bin: property
    // over a random instance vs a driver-side reference
    val rnd = new scala.util.Random(11)
    val big = (1L to 400L).map(i =>
      (i, rnd.nextInt(4).toLong, rnd.nextInt(300).toLong))
    val res = Packing.packBinsNextFit(big.toDF("doc_id", "sh", "n"),
        col("sh"), col("doc_id"), col("n"), binCapacity = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val want = big.groupBy(_._2).flatMap { case (sh, ds) =>
      var used = 0L; var bin = -1L
      ds.sortBy(_._1).map { case (id, _, n) =>
        if (bin < 0 || used + n > 256) { bin += 1; used = 0L }
        val off = used; used += n
        (id, sh, n, bin, off, if (n > 256) 1L else 0L)
      }
    }.toSet
    assert(res.toSet === want)
  }

  test("packing matches a driver-side reference on random instances") {
    import graft.operators.Packing
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { _ =>
      val n = 50 + rnd.nextInt(100)
      val rows = (0 until n).map(i =>
        (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(700).toLong))
      val seqLen = 128
      val expected: Map[Long, (Long, Long, Long, Long, Long, Long)] =
        rows.groupBy(_._2).flatMap { case (sh, rs) =>
          var off = 0L
          rs.sortBy(_._1).map { case (id, _, nt) =>
            val o = off; off += nt
            id -> ((sh, nt, o, o / seqLen, o % seqLen,
              (o + math.max(nt - 1, 0)) / seqLen))
          }
        }
      val got = Packing.packSequences(rows.toDF("doc_id", "sh", "n"),
          col("sh"), col("doc_id"), col("n"), seqLen)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      assert(got === expected)
    }
  }

  test("multimodal: batch feature extraction is deterministic plumbing") {
    val media = Multimodal.mediaFromDocs(docs.limit(50))
    assert(media.schema("media").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(spark, media, dim = 8)
    val rows = feats.collect()
    assert(rows.length === 50)
    assert(rows.forall(_.feature.length === 8))
    // deterministic: run twice, same features
    val again = Multimodal.extractFeatures(spark, media, dim = 8).collect()
    assert(rows.map(_.feature.toSeq).toSeq === again.map(_.feature.toSeq).toSeq)
    val res = Multimodal.resampleFeatures(spark, feats, 4).collect()
    assert(res.forall(_.feature.length === 4))
    // 1->N byte-window sampling (no-parser fallback): every 4th
    // 64-byte window becomes a row
    val frames = Multimodal.sampleByteFrames(spark, media).collect()
    assert(frames.length > rows.length) // multiple frames per doc
    assert(frames.forall(_.getLong(1) % 4 === 0))
  }

  test("audio energy windows: exact integer fold, partial tail, " +
      "16-bit centering, non-wav loud") {
    import graft.operators.{MediaCodec, Multimodal, MediaRecord}
    // 8-bit unsigned centers at 128: bytes [128,130,126,128,255] at
    // window 2 -> centered [0,2],[−2,0],[127]
    val wav8 = MediaCodec.encodeWav(Array[Byte](128.toByte, 130.toByte,
      126.toByte, 128.toByte, 255.toByte))
    val ds8 = Seq(MediaRecord(1L, wav8, "audio/wav", wav8.length.toLong))
      .toDS()
    val got = Multimodal.audioEnergyWindows(spark, ds8, window = 2)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(got === Seq(
      (1L, 0L, 2L, 4L, 2L),
      (1L, 1L, 2L, 4L, 2L),
      (1L, 2L, 1L, 127L * 127L, 127L))) // partial tail kept, true n
    // 16-bit is already signed — center 0: [-3, 4] -> e=25 p=4
    val s16 = Array[Short](-3, 4)
    val d16 = s16.flatMap(s =>
      Array((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    val bb = java.nio.ByteBuffer.allocate(44 + d16.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + d16.length)
    bb.put("WAVE".getBytes); bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(8000)
    bb.putInt(16000); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(d16.length); bb.put(d16)
    val ds16 = Seq(MediaRecord(2L, bb.array(), "audio/wav",
      bb.array().length.toLong)).toDS()
    val got16 = Multimodal.audioEnergyWindows(spark, ds16, window = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got16 === Seq((2L, 0L, 2L, 25L, 4L)))
    // non-wav assets fail loudly
    val bmp = MediaCodec.encodeBmp(Array.fill(12)(0.toByte), 4, 1)
    val bad = Seq(MediaRecord(3L, bmp, "image/bmp", bmp.length.toLong))
      .toDS()
    val err = intercept[Exception] {
      Multimodal.audioEnergyWindows(spark, bad).collect()
    }
    assert(err.getMessage.contains("not a PCM asset") ||
      err.getCause.getMessage.contains("not a PCM asset"))
  }

  test("audio near-dup: energy-delta fingerprints pair crafted " +
      "duplicates at the expected hammings; zero-sample assets are " +
      "omitted; >3 hamming never pairs") {
    import graft.operators.{MediaCodec, Multimodal, MediaRecord}
    def wav(bytes: Int*): Array[Byte] =
      MediaCodec.encodeWav(bytes.map(_.toByte).toArray)
    // window=1 energies are centered² per sample; sig bit j = 1 iff
    // e[j+1] > e[j]. Hand-computed: A/B rising (sig 0b1111 = 15),
    // C rising-then-fall (sig 7), D falling (sig 0)
    val a = wav(129, 130, 131, 132, 133)
    val c = wav(129, 130, 131, 132, 131)
    val d = wav(133, 132, 131, 130, 129)
    val media = Seq(
      MediaRecord(1L, a, "audio/wav", a.length.toLong),
      MediaRecord(2L, a, "audio/wav", a.length.toLong),
      MediaRecord(3L, c, "audio/wav", c.length.toLong),
      MediaRecord(4L, d, "audio/wav", d.length.toLong),
      MediaRecord(5L, MediaCodec.encodeWav(Array.emptyByteArray),
        "audio/wav", 44L)).toDS()
    val fp = Multimodal.audioFingerprint(spark, media, window = 1)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fp === Seq((1L, 15L, 5L), (2L, 15L, 5L), (3L, 7L, 5L),
      (4L, 0L, 5L))) // id 5: zero samples -> no fingerprint
    val pairs = Multimodal.audioNearDupPairs(spark, media,
        maxHamming = 3, window = 1)
      .as[(Long, Long, Long)].collect().toSet
    // hamming(15,0) = 4: A/B never pair with D; hamming(7,0) = 3: C
    // does — exactly the all-pairs <= 3 result
    assert(pairs === Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L),
      (3L, 4L, 3L)))
    // a signature past 63 windows saturates the print, not the LONG:
    // 70 rising windows -> bits 0..62 set, bit 63 clear (sig >= 0)
    val long = wav((0 until 70).map(i => 128 + (i % 120) + 1): _*)
    val fpl = Multimodal.audioFingerprint(spark,
      Seq(MediaRecord(9L, long, "audio/wav", long.length.toLong)).toDS(),
      window = 1).as[(Long, Long, Long)].collect().head
    assert(fpl._2 >= 0L && fpl._3 === 70L)
  }

  test("video near-dup: frame-intensity-delta fingerprints pair " +
      "crafted duplicates at the expected hammings; partial last " +
      "frame sums only its real bytes; non-video assets are loud") {
    import graft.operators.Multimodal
    // frameRows=2 -> 24 bytes per frame; per-frame intensity is the
    // byte sum of that payload slice, so uniform-letter frames give
    // hand-computable rising/falling deltas. sig bit j = 1 iff
    // frame(j+1) > frame(j):
    //   A/B 'a'*24+'b'*24            -> rising           -> sig 1
    //   C   'b'*24+'a'*24            -> falling          -> sig 0
    //   D   'a'*24+'b'*24+'c'*24     -> rising twice     -> sig 3
    //   E   'z'*24+'a'*6 (30 chars)  -> partial tail 582 -> sig 0
    //   F   a..e * 24 each           -> rising 4x        -> sig 15
    val docs = Seq(
      (1L, "a" * 24 + "b" * 24),
      (2L, "a" * 24 + "b" * 24),
      (3L, "b" * 24 + "a" * 24),
      (4L, "a" * 24 + "b" * 24 + "c" * 24),
      (5L, "z" * 24 + "a" * 6),
      (6L, Seq("a", "b", "c", "d", "e").map(_ * 24).mkString),
      (7L, "")) // empty payload still pads to ONE all-zero frame
      .toDF("doc_id", "text")
    val vid = Multimodal.synthesizeVideo(docs, frameRows = 2)
    val fp = Multimodal.videoFingerprint(spark, vid)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fp === Seq((1L, 1L, 2L), (2L, 1L, 2L), (3L, 0L, 2L),
      (4L, 3L, 3L), (5L, 0L, 2L), (6L, 15L, 5L), (7L, 0L, 1L)))
    // all-pairs hamming <= 3 over those sigs, exactly — including
    // the empty doc's sig-0 print (the oracle's LEFT-JOIN stance)
    val pairs = Multimodal.videoNearDupPairs(spark, vid, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set(
      (1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L), (1L, 4L, 1L),
      (2L, 4L, 1L), (3L, 4L, 2L), (1L, 5L, 1L), (2L, 5L, 1L),
      (3L, 5L, 0L), (4L, 5L, 2L), (1L, 6L, 3L), (2L, 6L, 3L),
      (4L, 6L, 2L), // hamming(15, 0) = 4: F never pairs with C/E/G
      (1L, 7L, 1L), (2L, 7L, 1L), (3L, 7L, 0L), (4L, 7L, 2L),
      (5L, 7L, 0L)))
    // a non-video asset fails loudly, not silently zero
    val e = intercept[Exception] {
      Multimodal.videoFingerprint(spark,
        Multimodal.synthesizeMedia(docs.limit(3))).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("no frame decoder for"), msgs.take(300))
  }

  test("image near-dup: dHash fingerprints pair crafted duplicates " +
      "at hand-computed hammings; BGR/PNG containers normalize to " +
      "the same print; non-raster assets are loud") {
    import graft.operators.{MediaCodec, Multimodal, MediaRecord}
    // 4×8 rasters of gray pixels (r=g=b=v -> BT.601 luma = v), h=8 so
    // the NN row map is identity and the col map is
    // [c0,c0,c0,c1,c1,c2,c2,c3,c3]: per row only deltas at x=2
    // (c1>c0), x=4 (c2>c1), x=6 (c3>c2) can set bits -> a fully
    // rising row contributes 0b1010100 = 84 at its byte lane
    def ppm(rows: Seq[Seq[Int]]): Array[Byte] = {
      val p = rows.flatMap(r => r.flatMap(v => Seq(v, v, v)))
        .map(_.toByte).toArray
      MediaCodec.encodePpm(p, 4, rows.length)
    }
    val rising = Seq(10, 20, 30, 40)
    val flat3 = Seq(10, 20, 30, 29) // c3 > c2 fails
    val falling = Seq(40, 30, 20, 10)
    val a = ppm(Seq.fill(8)(rising))
    val c = ppm(Seq.fill(7)(rising) :+ flat3) // bit 62 cleared
    val d = ppm(Seq.fill(6)(rising) ++ Seq(flat3, flat3)) // bits 54, 62
    val e = ppm(Seq.fill(8)(falling)) // sig 0
    val media = Seq(
      MediaRecord(1L, a, "image/ppm", a.length.toLong),
      MediaRecord(2L, a, "image/ppm", a.length.toLong),
      MediaRecord(3L, c, "image/ppm", c.length.toLong),
      MediaRecord(4L, d, "image/ppm", d.length.toLong),
      MediaRecord(5L, e, "image/ppm", e.length.toLong)).toDS()
    val sigA = 0x5454545454545454L // 84 at every byte lane
    val fp = Multimodal.imageFingerprint(spark, media)
      .as[(Long, Long, Int, Int)].collect().sortBy(_._1).toSeq
    assert(fp === Seq(
      (1L, sigA, 4, 8), (2L, sigA, 4, 8),
      (3L, sigA & ~(1L << 62), 4, 8),
      (4L, sigA & ~(1L << 62) & ~(1L << 54), 4, 8),
      (5L, 0L, 4, 8)))
    // all-pairs hamming <= 3, exactly (E is 22-24 bits from all)
    val pairs = Multimodal.imageNearDupPairs(spark, media, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set(
      (1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L), (1L, 4L, 2L),
      (2L, 4L, 2L), (3L, 4L, 1L)))
    // container normalization with COLORED pixels (lumas 2, 11, 22,
    // 255 — rising, so sigA again): the same RGB raster as PNG prints
    // identically, and the BMP stores its bytes in BGR order — only
    // toRgb's channel swap recovers the same luma raster, so a
    // missing/wrong swap would flip the 299/114 weights and change
    // the print
    val rgbRow = Seq(10, 0, 0, 0, 20, 0, 0, 0, 200, 255, 255, 255)
    val bgrRow = Seq(0, 0, 10, 0, 20, 0, 200, 0, 0, 255, 255, 255)
    val rgbBytes = Seq.fill(8)(rgbRow).flatten.map(_.toByte).toArray
    val bgrBytes = Seq.fill(8)(bgrRow).flatten.map(_.toByte).toArray
    val png = MediaCodec.encodePng(rgbBytes, 4, 8)
    val bmp = MediaCodec.encodeBmp(bgrBytes, 4, 8)
    val cross = Seq(
      MediaRecord(11L, png, "image/png", png.length.toLong),
      MediaRecord(12L, bmp, "image/bmp", bmp.length.toLong)).toDS()
    assert(Multimodal.imageFingerprint(spark, cross)
      .as[(Long, Long, Int, Int)].collect().map(_._2).toSeq ===
      Seq(sigA, sigA))
    // a non-raster asset fails loudly, not silently zero
    val wav = MediaCodec.encodeWav(Array[Byte](1, 2, 3))
    val err = intercept[Exception] {
      Multimodal.imageFingerprint(spark,
        Seq(MediaRecord(9L, wav, "audio/wav", wav.length.toLong))
          .toDS()).collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("no raster decoder"), msgs.take(300))
  }

  test("native SimHash kernel: bit parity with the HOF reference on " +
      "both hash families, including empty/whitespace/multi-space " +
      "and non-ASCII texts") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.xxhash64
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "  leading and   multi  spaces  "),
      (3L, ""),
      (4L, "   "),
      (5L, "Pfad über größe straße ÄÖÜ"),
      (6L, "日本語 テキスト と spaces"),
      (7L, "dup dup dup words words"),
      (8L, "x"))
      .toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        graft.functions.vfs_simhash($"text", 64, portable = false).as("n64"),
        graft.functions.vfs_simhash($"text", 60, portable = true).as("p60"),
        Dedup.simHashSig($"text", 64, w => xxhash64(w)).as("h64"),
        Dedup.simHashSig($"text", 60, Dedup.portableWordHash).as("hp60"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) === r.getLong(3),
        s"xxhash64 simhash diverged for doc ${r.getLong(0)}")
      assert(r.getLong(2) === r.getLong(4),
        s"portable simhash diverged for doc ${r.getLong(0)}")
    }
  }

  test("dHash is perceptual: an NN-upscaled image keeps a small " +
      "hamming to its original; unrelated gradients stay far; " +
      "vfs_curate TVF matches the Curation operator bit-for-bit") {
    import graft.operators.{MediaCodec, Multimodal, MediaRecord}
    // a 4x8 colored gradient raster (varied lumas per cell)
    val px = Array.tabulate(4 * 8 * 3) { i =>
      ((i * 53 + 17) % 256).toByte
    }
    val orig = MediaCodec.encodePng(px, 4, 8)
    // NN-upscale 3x in both axes — dHash should survive (the 9x8
    // downsample of the upscaled raster samples near-identical cells)
    val up = MediaCodec.encodePng(
      MediaCodec.nnResizeRgb(px, 4, 8, 12, 24), 12, 24)
    // an unrelated raster: the reversed gradient
    val rev = MediaCodec.encodePng(px.reverse, 4, 8)
    val media = Seq(
      MediaRecord(1L, orig, "image/png", orig.length.toLong),
      MediaRecord(2L, up, "image/png", up.length.toLong),
      MediaRecord(3L, rev, "image/png", rev.length.toLong)).toDS()
    val fp = Multimodal.imageFingerprint(spark, media)
      .as[(Long, Long, Int, Int)].collect().sortBy(_._1)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(0)._2, fp(1)._2) <= 3,
      s"resize shifted the print by ${ham(fp(0)._2, fp(1)._2)} bits")
    assert(ham(fp(0)._2, fp(2)._2) > 10,
      s"unrelated raster too close: ${ham(fp(0)._2, fp(2)._2)}")
    // the one-call SQL pipeline matches the operator composition
    import graft.operators.{Curation, TextAnalysis}
    val model = TextAnalysis.trainLangId(
      TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
    val want = Curation.curateAndPack(
        spark.read.parquet(s"${GraftTest.sf0001}/documents.parquet"),
        model)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val got = spark.sql("SELECT * FROM vfs_curate('" +
        s"${GraftTest.sf0001}/documents.parquet')")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("sig index lifecycle: build+append probe finds exactly the " +
      "hand-computed delta-vs-corpus pairs; family mismatch is loud; " +
      "takedown removes a deleted asset's pairs; parked crash " +
      "states refuse") {
    import graft.operators.SigIndex
    val idx = java.nio.file.Files
      .createTempDirectory("sigidx-spec").toString
    // hand-crafted sigs: ids 1..4 corpus, 100..101 delta
    val corpus = Seq((1L, 0L), (2L, 1L), (3L, 15L), (4L, 1L << 20))
      .toDF("id", "sig")
    val delta = Seq((100L, 0L), (101L, 14L)).toDF("id", "sig")
    SigIndex.build(corpus.filter($"id" <= 2), idx, "test-fam")
    SigIndex.append(corpus.filter($"id" > 2), idx, "test-fam")
    assert(SigIndex.exists(idx))
    val got = SigIndex.probe(spark, idx, delta, "test-fam")
      .as[(Long, Long, Long)].collect().toSet
    // hand-computed hammings over band-matched candidates:
    //   (100,1)=popcount(0^0)=0   (100,2)=popcount(0^1)=1
    //   (100,4)=popcount(0^2^20)=1  (101,1)=popcount(14^0)=3
    //   (101,3)=popcount(14^15)=1
    // excluded: (100,3)=popcount(15)=4, (101,2)=popcount(15)=4,
    //   (101,4)=popcount(14^2^20)=4 — all past maxHamming
    assert(got === Set((100L, 1L, 0L), (100L, 2L, 1L), (100L, 4L, 1L),
      (101L, 1L, 3L), (101L, 3L, 1L)))
    // family guard: probing or appending prints from another kernel
    // is loud, not a silent apples-to-oranges hamming
    val e = intercept[IllegalArgumentException](
      SigIndex.probe(spark, idx, delta, "video-intensity-f2"))
    assert(e.getMessage.contains("families must not mix"))
    val e2 = intercept[IllegalArgumentException](
      SigIndex.append(delta, idx, "other-fam"))
    assert(e2.getMessage.contains("families must not mix"))
    // takedown: delete id 2 — its pairs vanish, generation bumps
    val g0 = SigIndex.readMeta(idx).generation
    assert(SigIndex.deleteIds(spark, idx, Seq(2L)) === 1L)
    assert(SigIndex.readMeta(idx).generation === g0 + 1)
    val after = SigIndex.probe(spark, idx, delta, "test-fam")
      .as[(Long, Long, Long)].collect().toSet
    assert(after === got.filterNot(_._2 == 2L))
    // compact preserves content and metadata
    SigIndex.compact(spark, idx)
    assert(SigIndex.readMeta(idx).generation === g0 + 1)
    assert(SigIndex.probe(spark, idx, delta, "test-fam")
      .as[(Long, Long, Long)].collect().toSet === after)
    // parked crash state (sigs/ gone, sigs_old complete): exists()
    // and probe refuse loudly; a rerun build heals
    val live = java.nio.file.Paths.get(idx, "sigs")
    val old = java.nio.file.Paths.get(idx, "sigs_old")
    java.nio.file.Files.move(live, old)
    assert(intercept[IllegalArgumentException](SigIndex.exists(idx))
      .getMessage.contains("[GRAFT]"))
    SigIndex.build(corpus, idx, "test-fam") // heals + rebuilds
    assert(SigIndex.readMeta(idx).generation === g0 + 2)
    assert(SigIndex.probe(spark, idx, delta, "test-fam")
      .as[(Long, Long, Long)].collect().toSet === got)
  }

  test("parked takedown crash: build publishes PAST the watermark's " +
      "bound generation, fresh batches are never silently refused") {
    import graft.operators.{ArtifactIo, SigIndex}
    val idx = java.nio.file.Files
      .createTempDirectory("sigidx-parkedgen").toString
    SigIndex.build(Seq((1L, 0L)).toDF("id", "sig"), idx, "test-fam")
    assert(SigIndex.appendIdempotent(Seq((2L, 3L)).toDF("id", "sig"),
      idx, "test-fam", batchId = 5L))
    val m = SigIndex.readMeta(idx)
    // EMULATE deleteIds parked between its watermark carry and its
    // staged swap: the marker is bound to generation m+1 while meta
    // (and the live dir) still say m — exactly what a crash inside
    // the distributed rewrite leaves behind
    ArtifactIo.commitWatermark(idx, m.generation + 1, 5L)
    // a rebuild that derived its generation from meta alone would
    // publish under m+1 — the generation the stale marker names —
    // and refuse batches 0..5 of the fresh sequence forever (the
    // silent-no-op data-loss mode the binding exists to eliminate)
    SigIndex.build(Seq((3L, 7L)).toDF("id", "sig"), idx, "test-fam")
    assert(SigIndex.readMeta(idx).generation === m.generation + 2)
    assert(SigIndex.appendIdempotent(Seq((4L, 1L)).toDF("id", "sig"),
      idx, "test-fam", batchId = 0L),
      "rebuilt artifact refused batch 0 under a stale bound watermark")
  }

  test("boilerplate ingest stream: per-batch count fold + strip " +
      "against the merged table, replay no-op, batch-0 crash rebuild " +
      "never double-counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{ArtifactIo, LineIndex}
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("boiler_ingest").toString
    val ck = java.nio.file.Files
      .createTempDirectory("boiler_ingest_ck").toString
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.boilerplateIngestStream(
      stream.toDF().toDF("doc_id", "text"), dir, ck, minDocFreq = 3L,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      // batch 0: NAV df=2 < 3 — kept in batch 0's own output
      stream.addData((1L, "NAV\nalpha one"), (2L, "NAV\nalpha two"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/docs/batch=0")
        .select($"doc_id", $"clean_text").as[(Long, String)]
        .collect().toMap ===
        Map(1L -> "NAV\nalpha one", 2L -> "NAV\nalpha two"))
      // batch 1 pushes NAV to df=4 >= 3: batch 1 strips it; batch
      // 0's landed output is NOT retro-cleaned (documented semantics)
      stream.addData((3L, "NAV\nbeta three"), (4L, "NAV\nbeta four"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/docs/batch=1")
        .select($"doc_id", $"clean_text").as[(Long, String)]
        .collect().toMap ===
        Map(3L -> "beta three", 4L -> "beta four"))
      assert(LineIndex.counts(spark, s"$dir/lineidx")
        .filter($"line" === "NAV").as[(String, Long)].head()._2 === 4L)
    } finally q.stop()
    // REPLAY batch 1's body: the watermark no-ops the count fold (a
    // double count would inflate df), the strip recomputes the same
    // output, the batch dir rewrites identically
    graft.streaming.Ingest.boilerplateBatch(
      Seq((3L, "NAV\nbeta three"), (4L, "NAV\nbeta four"))
        .toDF("doc_id", "text"), 1L, dir, minDocFreq = 3L)
    assert(LineIndex.counts(spark, s"$dir/lineidx")
      .filter($"line" === "NAV").as[(String, Long)].head()._2 === 4L)
    assert(spark.read.parquet(s"$dir/docs/batch=1")
      .select($"doc_id", $"clean_text").as[(Long, String)]
      .collect().toMap === Map(3L -> "beta three", 4L -> "beta four"))
    // BATCH-0 CRASH SIM on a fresh corpus: the partition landed but
    // the watermark write did not — the replay OVERWRITES the same
    // batch partition with identical content, never a second count
    val dir2 = java.nio.file.Files
      .createTempDirectory("boiler_ingest_crash").toString
    graft.streaming.Ingest.boilerplateBatch(
      Seq((1L, "NAV\nsolo")).toDF("doc_id", "text"), 0L, dir2,
      minDocFreq = 2L)
    ArtifactIo.deleteFile(s"$dir2/lineidx", "_append_batch")
    graft.streaming.Ingest.boilerplateBatch(
      Seq((1L, "NAV\nsolo")).toDF("doc_id", "text"), 0L, dir2,
      minDocFreq = 2L)
    assert(LineIndex.counts(spark, s"$dir2/lineidx")
      .filter($"line" === "NAV").as[(String, Long)].head()._2 === 1L)
  }

  test("media dedup ingest stream: within-batch keep-first, standing-" +
      "corpus prune, replay guard, and crash-residue scrub over the " +
      "SigIndex artifact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.SigIndex
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("media_ingest").toString
    val ck = java.nio.file.Files
      .createTempDirectory("media_ingest_ck").toString
    val fam = "test-fam"
    val stream = MemoryStream[(Long, Long)]
    val q = graft.streaming.Ingest.mediaDedupIngestStream(
      stream.toDF().toDF("id", "sig"), dir, ck, fam,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    def landedIds() = spark.read.parquet(s"$dir/ids")
      .as[Long].collect().sorted.toSeq
    try {
      // batch 1: 4 drops (hamming(1, 15)=3 vs id 2, and hamming 1
      // vs id 1 — the higher id of each pair); 1..3 are mutually
      // >= 4 apart and survive
      stream.addData((1L, 0L), (2L, 15L), (3L, 0xFF00L), (4L, 1L))
      q.processAllAvailable()
      assert(landedIds() === Seq(1L, 2L, 3L))
      // batch 2 vs the standing corpus: 5 (dup of 1) and 7 (exact
      // dup of 2) drop; 6 is >= 4 from everything and survives
      stream.addData((5L, 2L), (6L, 0xFF0FL), (7L, 15L))
      q.processAllAvailable()
      assert(landedIds() === Seq(1L, 2L, 3L, 6L))
    } finally q.stop()
    // REPLAY the second batch body: same drops recompute, the
    // already-landed id 6 is guarded — nothing duplicates
    graft.streaming.Ingest.mediaDedupBatch(
      Seq((5L, 2L), (6L, 0xFF0FL), (7L, 15L)).toDF("id", "sig"),
      dir, fam, maxHamming = 3, maxBucket = 1000)
    assert(landedIds() === Seq(1L, 2L, 3L, 6L))
    assert(spark.read.parquet(s"$dir/sigidx/sigs").count() === 4L)
    // CRASH RESIDUE: a print appended to the index whose id never
    // landed (crash between index append and ledger write) must be
    // scrubbed out of the stored side — the replayed batch still
    // sees its own print as NEW, processes it, and lands the id
    Seq((8L, 0x3CL)).toDF("id", "sig")
      .write.mode("append").parquet(s"$dir/sigidx/sigs")
    graft.streaming.Ingest.mediaDedupBatch(
      Seq((8L, 0x3CL)).toDF("id", "sig"),
      dir, fam, maxHamming = 3, maxBucket = 1000)
    assert(landedIds() === Seq(1L, 2L, 3L, 6L, 8L))
    // the standing artifact answers probes with the committed set:
    // popcount(0x3D^0x3C)=1 (id 8), popcount(0x3D^15)=3 (id 2)
    val hits = SigIndex.probe(spark, s"$dir/sigidx",
        Seq((100L, 0x3DL)).toDF("id", "sig"), fam)
      .as[(Long, Long, Long)].collect().toSet
    assert(hits === Set((100L, 8L, 1L), (100L, 2L, 3L)))
  }

  test("vfs_sig_pairs TVF: bit parity with Dedup.sigPairs over a " +
      "persisted fingerprint table; custom columns; bad args loud") {
    import graft.operators.Dedup
    val prints = Seq((1L, 0L), (2L, 1L), (3L, 15L), (4L, 1L << 40))
      .toDF("id", "sig")
    val pd = java.nio.file.Files
      .createTempDirectory("sigpairs-tvf").toString
    prints.write.mode("overwrite").parquet(pd)
    val got = spark.sql(s"SELECT * FROM vfs_sig_pairs('$pd', 3)")
      .as[(Long, Long, Long)].collect().toSet
    val want = Dedup.sigPairs(spark.read.parquet(pd), maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want)
    // hand-check: (1,2)=1, (1,4)=1, (2,4)=2, (2,3)=3; (1,3)=4 and
    // (3,4)=5 are past maxHamming
    assert(got === Set((1L, 2L, 1L), (1L, 4L, 1L), (2L, 4L, 2L),
      (2L, 3L, 3L)))
    // renamed columns route through the optional args
    val pd2 = java.nio.file.Files
      .createTempDirectory("sigpairs-tvf2").toString
    prints.toDF("asset", "print").write.mode("overwrite").parquet(pd2)
    assert(spark.sql(
      s"SELECT * FROM vfs_sig_pairs('$pd2', 0, 1000, 'asset', 'print')")
      .as[(Long, Long, Long)].collect().isEmpty) // no hamming-0 pair
    // guards: hamming past the 4-band guarantee, NULL args
    assert(intercept[Exception](
      spark.sql(s"SELECT * FROM vfs_sig_pairs('$pd', 9)"))
      .getMessage.contains("[GRAFT]"))
    assert(intercept[Exception](
      spark.sql(s"SELECT * FROM vfs_sig_pairs(NULL, 3)"))
      .getMessage.contains("[GRAFT]"))
    // a SigIndex artifact's sigs/ dir IS a valid print table for the
    // TVF (parquet scans skip the underscore-prefixed _sig.json) —
    // self-pairs over a standing artifact from pure SQL text
    val idx = java.nio.file.Files
      .createTempDirectory("sigpairs-tvf-idx").toString
    graft.operators.SigIndex.build(prints, idx, "test-fam")
    assert(spark.sql(s"SELECT * FROM vfs_sig_pairs('$idx/sigs', 3)")
      .as[(Long, Long, Long)].collect().toSet === got)
  }

  test("media dedup ingest with VIDEO prints: frame-intensity " +
      "fingerprints ride the same loop — within-batch keep-first, " +
      "standing-corpus prune under the video family tag") {
    import graft.operators.{Multimodal, SigIndex}
    val dir = java.nio.file.Files
      .createTempDirectory("media_ingest_vid").toString
    val fam = "video-intensity-f2"
    def prints(docs: org.apache.spark.sql.DataFrame) =
      Multimodal.videoFingerprint(spark,
          Multimodal.synthesizeVideo(docs, frameRows = 2))
        .select($"doc_id".as("id"), $"sig")
    // batch 0: A(1) rising sig 1, its exact twin (2), C(3) falling
    // sig 0 — hamming(1,0)=1 <= 3, so keep-first leaves ONLY id 1
    graft.streaming.Ingest.mediaDedupBatch(
      prints(Seq((1L, "a" * 24 + "b" * 24), (2L, "a" * 24 + "b" * 24),
        (3L, "b" * 24 + "a" * 24)).toDF("doc_id", "text")),
      dir, fam, maxHamming = 3, maxBucket = 1000)
    assert(spark.read.parquet(s"$dir/ids").as[Long].collect()
      .toSeq.sorted === Seq(1L))
    // batch 1: another twin of A drops vs the standing corpus; a
    // 5-frame riser (sig 15, hamming(15,1)=3) also drops; survivors
    // none — the artifact still holds exactly id 1's print
    graft.streaming.Ingest.mediaDedupBatch(
      prints(Seq((9L, "a" * 24 + "b" * 24),
        (10L, Seq("a", "b", "c", "d", "e").map(_ * 24).mkString))
        .toDF("doc_id", "text")),
      dir, fam, maxHamming = 3, maxBucket = 1000)
    assert(spark.read.parquet(s"$dir/ids").as[Long].collect()
      .toSeq.sorted === Seq(1L))
    // the family tag is frozen: audio prints cannot enter this index
    val e = intercept[IllegalArgumentException](
      SigIndex.append(Seq((99L, 0L)).toDF("id", "sig"),
        s"$dir/sigidx", "audio-energy-w4"))
    assert(e.getMessage.contains("families must not mix"))
  }

  test("media dedup ingest with IMAGE prints: dHash fingerprints " +
      "ride the same loop — within-batch keep-first, standing-corpus " +
      "prune under the image family tag") {
    import graft.operators.{Multimodal, SigIndex}
    val dir = java.nio.file.Files
      .createTempDirectory("media_ingest_img").toString
    val fam = "image-dhash-9x8"
    def prints(docs: org.apache.spark.sql.DataFrame) =
      Multimodal.imageFingerprint(spark, Multimodal.synthesizeMedia(docs))
        .select($"doc_id".as("id"), $"sig")
    // 96-byte texts = 8 exact 12-byte raster rows (h=8: identity NN
    // row map, only x∈{2,4,6} can set bits). Hand-computed lumas:
    //   "abcdefghabcd" row → gray [97,97,97,100,100,102,102,98,98]
    //     → positive deltas at x=2,4 → row byte 0x14
    //   "hgfedcbahgfe" row → gray [103,103,103,100,100,98,98,102,102]
    //     → positive delta at x=6 only → row byte 0x40
    // so A = 0x1414141414141414, B = 0x4040404040404040, hamming 24
    val textA = "abcdefghabcd" * 8
    val textB = "hgfedcbahgfe" * 8
    // ids ≡ 2 (mod 3) hit synthesizeMedia's PPM (image) branch
    // batch 0: id 2, its exact twin 5 (hamming 0 — drops keep-first),
    // and the far id 8 (hamming 24 — survives)
    graft.streaming.Ingest.mediaDedupBatch(
      prints(Seq((2L, textA), (5L, textA), (8L, textB))
        .toDF("doc_id", "text")),
      dir, fam, maxHamming = 3, maxBucket = 1000)
    assert(spark.read.parquet(s"$dir/ids").as[Long].collect()
      .toSeq.sorted === Seq(2L, 8L))
    assert(spark.read.parquet(s"$dir/sigidx/sigs")
      .as[(Long, Long)].collect().toMap ===
      Map(2L -> 0x1414141414141414L, 8L -> 0x4040404040404040L))
    // batch 1: another twin of A drops vs the STANDING corpus
    graft.streaming.Ingest.mediaDedupBatch(
      prints(Seq((11L, textA)).toDF("doc_id", "text")),
      dir, fam, maxHamming = 3, maxBucket = 1000)
    assert(spark.read.parquet(s"$dir/ids").as[Long].collect()
      .toSeq.sorted === Seq(2L, 8L))
    // the family tag is frozen: audio prints cannot enter this index
    val e = intercept[IllegalArgumentException](
      SigIndex.append(Seq((99L, 0L)).toDF("id", "sig"),
        s"$dir/sigidx", "audio-energy-w4"))
    assert(e.getMessage.contains("families must not mix"))
  }

  test("curate ingest stream: quality gate -> standing LSH dedup -> " +
      "langid route per micro-batch; replay overwrites its own " +
      "routed shard with identical content") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("curate_ingest").toString
    val ck = java.nio.file.Files
      .createTempDirectory("curate_ingest_ck").toString
    val model = TextAnalysis.trainLangId(
      TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
    // quality-passing texts need >= minTokens words and decent
    // stopword/alpha ratios — build 25-word english/french sentences
    val en = ("the quick brown fox jumps over the lazy dog and " +
      "runs away with the ball that the children left in the " +
      "garden for play")
    val fr = ("nous devrions penser a ce que les gens veulent et " +
      "ont besoin chaque jour dans une maison et un jardin pour " +
      "les enfants du monde")
    val low = "zz qq xx" // fails minTokens -> quality-gated out
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.curateIngestStream(
      stream.toDF().toDF("doc_id", "text"), dir, ck, model,
      minQualityMilli = 500L, minTokens = 20L, maxTokens = 90L,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      // batch 0: 1=en keeper, 2=exact dup of 1 (drops within batch),
      // 3=fr keeper, 4=quality-gated out
      stream.addData((1L, en), (2L, en), (3L, fr), (4L, low))
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$dir/routed/batch=0")
        .select($"doc_id", $"lang_pred").as[(Long, String)]
        .collect().toMap
      assert(b0 === Map(1L -> "en", 3L -> "fr"))
      // batch 1: 5 = dup of the STANDING doc 1 (drops vs corpus),
      // 6 = novel english keeper
      stream.addData((5L, en), (6L, en + " extra words here now"))
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$dir/routed/batch=1")
        .select($"doc_id", $"lang_pred").as[(Long, String)]
        .collect().toMap
      assert(b1 === Map(6L -> "en"))
      assert(spark.read.parquet(s"$dir/docs").select($"doc_id")
        .as[Long].collect().toSeq.sorted === Seq(1L, 3L, 6L))
    } finally q.stop()
    // REPLAY batch 1's body: the dedup stage recomputes the same
    // survivors via the corpus semi-join and the routed shard
    // rewrites with identical content
    graft.streaming.Ingest.curateBatch(
      Seq((5L, en), (6L, en + " extra words here now"))
        .toDF("doc_id", "text"),
      1L, dir, model, 500L, 20L, 90L, 0.9, 16, 4, 1000, Nil)
    assert(spark.read.parquet(s"$dir/routed/batch=1")
      .select($"doc_id", $"lang_pred").as[(Long, String)]
      .collect().toMap === Map(6L -> "en"))
    assert(spark.read.parquet(s"$dir/docs").count() === 3L)
  }

  test("media dedup auto-compaction: the ingest loop self-schedules " +
      "artifact + ledger compaction; a crash parked mid-ledger-swap " +
      "heals on the next batch instead of rebuilding the corpus away") {
    import graft.operators.SigIndex
    val dir = java.nio.file.Files
      .createTempDirectory("media_ingest_ac").toString
    val fam = "test-fam"
    def run(prints: Seq[(Long, Long)]): Unit =
      graft.streaming.Ingest.mediaDedupBatch(
        prints.toDF("id", "sig"), dir, fam, maxHamming = 0,
        maxBucket = 1000, autoCompactFiles = 1)
    // distant sigs (pairwise hamming > 0) so every print survives
    run(Seq((1L, 0L)))
    run(Seq((2L, 0xFFL)))
    run(Seq((3L, 0xFF0000L)))
    def files(d: String) =
      graft.operators.ArtifactIo.dataFileCount(d)
    // threshold 1: once the file count exceeds it AND compaction can
    // reduce it, both dirs fold to the DATA-sized width (1 file for
    // these tiny tables — compact no longer emits defaultParallelism
    // files, which used to leave the trigger permanently armed)
    assert(files(s"$dir/sigidx/sigs") <= 2)
    assert(files(s"$dir/ids") <= 2)
    assert(spark.read.parquet(s"$dir/ids").as[Long].collect()
      .toSeq.sorted === Seq(1L, 2L, 3L))
    assert(spark.read.parquet(s"$dir/sigidx/sigs").count() === 3L)
    // CRASH SIM: the ledger compact died between its two renames —
    // ids/ parked at ids_old. The next batch must HEAL (rename back)
    // and append normally; without the heal it would misread the
    // standing index as batch-0 residue and rebuild it away.
    val ids = java.nio.file.Paths.get(dir, "ids")
    java.nio.file.Files.move(ids, java.nio.file.Paths.get(dir, "ids_old"))
    run(Seq((9L, 0xF0F0F0F0L)))
    assert(spark.read.parquet(s"$dir/ids").as[Long].collect()
      .toSeq.sorted === Seq(1L, 2L, 3L, 9L))
    assert(spark.read.parquet(s"$dir/sigidx/sigs").count() === 4L)
    // the standing prints survived intact — the probe still finds a
    // pre-crash corpus print
    val hits = SigIndex.probe(spark, s"$dir/sigidx",
        Seq((100L, 0xFFL)).toDF("id", "sig"), fam, maxHamming = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(hits === Set((100L, 2L, 0L)))
  }

  test("sig index appendIdempotent: a replayed batch id is an exact " +
      "no-op; build retires the high-watermark; needsCompaction keys " +
      "on data-file growth") {
    import graft.operators.SigIndex
    val idx = java.nio.file.Files
      .createTempDirectory("sigidx-idem").toString
    SigIndex.build(Seq((1L, 0L)).toDF("id", "sig"), idx, "test-fam")
    // batch 1 applies; its REPLAY (same id) is an exact no-op
    assert(SigIndex.appendIdempotent(
      Seq((2L, 1L)).toDF("id", "sig"), idx, "test-fam", batchId = 1L))
    assert(!SigIndex.appendIdempotent(
      Seq((2L, 1L)).toDF("id", "sig"), idx, "test-fam", batchId = 1L))
    // a LATE replay of an older batch under a newer watermark no-ops
    assert(SigIndex.appendIdempotent(
      Seq((3L, 15L)).toDF("id", "sig"), idx, "test-fam", batchId = 2L))
    assert(!SigIndex.appendIdempotent(
      Seq((2L, 1L)).toDF("id", "sig"), idx, "test-fam", batchId = 1L))
    val stored = spark.read.parquet(s"$idx/sigs")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(stored === Seq((1L, 0L), (2L, 1L), (3L, 15L)))
    // rebuild retires the marker: batch 1 applies again afresh —
    // via the GENERATION BINDING, not a delete (the file survives;
    // a delete step had a crash window that left the OLD artifact
    // live without replay protection)
    SigIndex.build(Seq((1L, 0L)).toDF("id", "sig"), idx, "test-fam")
    assert(graft.operators.ArtifactIo.fileExists(idx, "_append_batch"))
    assert(SigIndex.appendIdempotent(
      Seq((9L, 3L)).toDF("id", "sig"), idx, "test-fam", batchId = 1L))
    assert(spark.read.parquet(s"$idx/sigs").count() === 2L)
    // needsCompaction: one listing, thresholded on DATA files (the
    // _sig.json / _SUCCESS bookkeeping never counts)
    assert(!SigIndex.needsCompaction(idx, maxDataFiles = 1000))
    assert(SigIndex.needsCompaction(idx, maxDataFiles = 1))
    SigIndex.compact(spark, idx)
    assert(!SigIndex.needsCompaction(idx,
      maxDataFiles = spark.sparkContext.defaultParallelism + 1))
  }

  test("media dedup batch-0 crash residue: index-without-ledger is " +
      "rebuilt from the replayed batch, never double-appended") {
    import graft.operators.SigIndex
    val dir = java.nio.file.Files
      .createTempDirectory("media_ingest_b0").toString
    val fam = "test-fam"
    val batch = Seq((1L, 0L), (2L, 0xF0L), (3L, 0L)).toDF("id", "sig")
    // simulate the batch-0 crash window: a first attempt died AFTER
    // SigIndex.build, BEFORE the ids ledger write — the index holds
    // the survivors (1 drops 3, keep-first), the ledger dir is absent
    SigIndex.build(Seq((1L, 0L), (2L, 0xF0L)).toDF("id", "sig"),
      s"$dir/sigidx", fam)
    assert(!new java.io.File(s"$dir/ids").exists())
    // the at-least-once replay of batch 0 must REBUILD, not append:
    // a plain append would store ids 1 and 2 twice permanently
    graft.streaming.Ingest.mediaDedupBatch(batch, dir, fam,
      maxHamming = 3, maxBucket = 1000)
    val stored = spark.read.parquet(s"$dir/sigidx/sigs")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(stored === Seq((1L, 0L), (2L, 0xF0L)))
    assert(spark.read.parquet(s"$dir/ids").as[Long].collect()
      .toSeq.sorted === Seq(1L, 2L))
    // and the NEXT batch appends normally against the healed state
    graft.streaming.Ingest.mediaDedupBatch(
      Seq((7L, 0xFF00FFL)).toDF("id", "sig"), dir, fam,
      maxHamming = 3, maxBucket = 1000)
    assert(spark.read.parquet(s"$dir/sigidx/sigs").count() === 3L)
    assert(spark.read.parquet(s"$dir/ids").as[Long].collect()
      .toSeq.sorted === Seq(1L, 2L, 7L))
  }

  test("media codecs: real containers round-trip through real parsers") {
    import graft.operators.MediaCodec
    // WAV 8-bit: header walk recovers rate/bits and every sample
    val pcm8 = Array.tabulate(301)(i => ((i * 7) % 256).toByte)
    val wav = MediaCodec.encodeWav(pcm8, sampleRate = 8000)
    assert(wav.length === 44 + pcm8.length)
    val d8 = MediaCodec.decodeWav(wav)
    assert(d8.sampleRate === 8000 && d8.bitsPerSample === 8 &&
      d8.channels === 1)
    assert(d8.samples.toSeq === pcm8.map(_ & 0xff).toSeq)
    // WAV 16-bit signed little-endian, hand-built with an extra LIST
    // chunk before data — the chunk walker must skip it
    val samples16 = Array[Short](-32768, -1, 0, 1, 32767, 12345)
    val data16 = samples16.flatMap(s =>
      Array((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    val bb = java.nio.ByteBuffer.allocate(44 + 12 + data16.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + 12 + data16.length)
    bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(44100)
    bb.putInt(88200); bb.putShort(2); bb.putShort(16)
    bb.put("LIST".getBytes); bb.putInt(4); bb.put("INFO".getBytes)
    bb.put("data".getBytes); bb.putInt(data16.length); bb.put(data16)
    val d16 = MediaCodec.decodeWav(bb.array())
    assert(d16.bitsPerSample === 16 && d16.sampleRate === 44100)
    assert(d16.samples.toSeq === samples16.map(_.toInt).toSeq)
    // BMP width 3: stride 12 vs row bytes 9 — padding must be undone;
    // bottom-up storage must come back in logical top-down order
    val px = Array.tabulate(3 * 2 * 3)(i => (i * 11 % 256).toByte)
    val bmp = MediaCodec.encodeBmp(px, 3, 2)
    assert(bmp.length === 54 + 12 * 2)
    val rb = MediaCodec.decodeBmp(bmp)
    assert(rb.width === 3 && rb.height === 2 && rb.channelOrder === "BGR")
    assert(rb.pixels.toSeq === px.toSeq)
    // PPM with a comment line in the header
    val ppm = MediaCodec.encodePpm(px, 3, 2)
    val withComment = new String(ppm.take(3), "US-ASCII") +
      "# a comment\n" + new String(ppm.drop(3), "ISO-8859-1")
    val rp = MediaCodec.decodePpm(
      withComment.getBytes("ISO-8859-1"))
    assert(rp.width === 3 && rp.height === 2 && rp.channelOrder === "RGB")
    assert(rp.pixels.toSeq === px.toSeq)
    // malformed input is rejected, not mis-decoded
    intercept[IllegalArgumentException](MediaCodec.decodeWav(bmp))
    intercept[IllegalArgumentException](MediaCodec.decodeBmp(wav))
    intercept[IllegalArgumentException](MediaCodec.decodePpm(wav))
    // adversarial headers fail with the [GRAFT] guard, not a raw
    // ArrayIndexOutOfBounds/NegativeArraySize from overflowed sizes
    val evilBmp = bmp.clone()
    evilBmp(10) = -1; evilBmp(11) = -1; evilBmp(12) = -1; evilBmp(13) = -1
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodeBmp(evilBmp)).getMessage.contains("[GRAFT]"))
    val wideBmp = bmp.clone() // width = 0x2AAAAAAB: width*3 wraps
    wideBmp(18) = 0xAB.toByte; wideBmp(19) = 0xAA.toByte
    wideBmp(20) = 0xAA.toByte; wideBmp(21) = 0x2A.toByte
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodeBmp(wideBmp)).getMessage.contains("[GRAFT]"))
    val evilPpm = "P6\n60000 60000\n255\n".getBytes("US-ASCII")
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodePpm(evilPpm)).getMessage.contains("[GRAFT]"))
  }

  test("png codec: zlib + all five filters round-trip, JDK interop, " +
      "adversarial input rejected") {
    import graft.operators.MediaCodec
    // height 7 > 5 ⇒ every filter type (row % 5) appears at least once
    val w = 4; val h = 7
    val px = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val png = MediaCodec.encodePng(px, w, h)
    val r = MediaCodec.decodePng(png)
    assert(r.width === w && r.height === h && r.channelOrder === "RGB")
    assert(r.pixels.toSeq === px.toSeq)
    // cross-validate the ENCODER against the JDK's own PNG reader:
    // javax.imageio must see identical pixels (proves the container is
    // a real PNG, not merely self-consistent)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    assert(img.getWidth === w && img.getHeight === h)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val o = (y * w + x) * 3
      assert(((rgb >> 16) & 0xff) === (px(o) & 0xff), s"R at ($x,$y)")
      assert(((rgb >> 8) & 0xff) === (px(o + 1) & 0xff), s"G at ($x,$y)")
      assert((rgb & 0xff) === (px(o + 2) & 0xff), s"B at ($x,$y)")
    }
    // ...and the DECODER against the JDK's writer (different filter
    // choices, multiple-IDAT layouts etc. must still parse)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      bi.setRGB(x, y, ((px(o) & 0xff) << 16) | ((px(o + 1) & 0xff) << 8)
        | (px(o + 2) & 0xff))
    }
    val jdkOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", jdkOut)
    val rj = MediaCodec.decodePng(jdkOut.toByteArray)
    assert(rj.width === w && rj.height === h)
    assert(rj.pixels.toSeq === px.toSeq)
    // 1-row and 1-col edges (no up / no left neighbors)
    val one = Array.tabulate(3)(i => (i * 80).toByte)
    assert(MediaCodec.decodePng(MediaCodec.encodePng(one, 1, 1))
      .pixels.toSeq === one.toSeq)
    // adversarial input: wrong magic, corrupt CRC, truncated zlib,
    // oversized dimensions — all rejected with the [GRAFT] guard
    intercept[IllegalArgumentException](MediaCodec.decodePng(
      MediaCodec.encodePpm(px, w, h)))
    val badCrc = png.clone()
    badCrc(badCrc.length - 5) = (badCrc(badCrc.length - 5) ^ 0x7f).toByte
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodePng(badCrc)).getMessage.contains("[GRAFT]"))
    // corrupt a byte INSIDE the IDAT zlib payload and fix up that
    // chunk's CRC so the failure comes from the inflater, not the CRC
    val idatStart = {
      var i = 8
      var found = -1
      val bb = java.nio.ByteBuffer.wrap(png)
      while (found < 0) {
        val len = bb.getInt(i)
        val typ = new String(png, i + 4, 4, "US-ASCII")
        if (typ == "IDAT") found = i else i += 12 + len
      }
      found
    }
    val idatLen = java.nio.ByteBuffer.wrap(png).getInt(idatStart)
    val corrupt = png.clone()
    corrupt(idatStart + 8 + 2) = (corrupt(idatStart + 8 + 2) ^ 0x55).toByte
    val crc = new java.util.zip.CRC32()
    crc.update(corrupt, idatStart + 4, 4 + idatLen)
    java.nio.ByteBuffer.wrap(corrupt)
      .putInt(idatStart + 8 + idatLen, crc.getValue.toInt)
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodePng(corrupt)).getMessage.contains("[GRAFT]"))
    val evil = png.clone() // IHDR width := 2^30 (data starts at 16)
    java.nio.ByteBuffer.wrap(evil).putInt(16, 1 << 30)
    val fixCrc = new java.util.zip.CRC32()
    fixCrc.update(evil, 12, 4 + 13)
    java.nio.ByteBuffer.wrap(evil).putInt(29, fixCrc.getValue.toInt)
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodePng(evil)).getMessage.contains("[GRAFT]"))
    // per-axis-legal but 2^40-pixel header: the total-pixel cap must
    // refuse it with the [GRAFT] error, not wrap the Int size math
    // into an AIOOBE or a multi-GB allocation
    val wide = png.clone()
    java.nio.ByteBuffer.wrap(wide).putInt(16, 1 << 20)
    java.nio.ByteBuffer.wrap(wide).putInt(20, 1 << 20)
    val fixCrc2 = new java.util.zip.CRC32()
    fixCrc2.update(wide, 12, 4 + 13)
    java.nio.ByteBuffer.wrap(wide).putInt(29, fixCrc2.getValue.toInt)
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodePng(wide)).getMessage.contains("2^26"))
  }

  test("png codec: PALETTED (color type 3) round-trips through PLTE, " +
      "JDK interop agrees, guards reject bad palettes/indices") {
    import graft.operators.MediaCodec
    val w = 4; val h = 7 // > 5 rows ⇒ all five filters exercised
    val nPal = 16
    val palette = Array.tabulate(nPal * 3)(j =>
      ((j * 37 + 11) % 256).toByte)
    val idx = Array.tabulate(w * h)(i => (i % nPal).toByte)
    val png = MediaCodec.encodePngPaletted(idx, w, h, palette)
    // decode expands indices through the palette to plain RGB
    val r = MediaCodec.decodePng(png)
    assert(r.channelOrder === "RGB" && r.width === w && r.height === h)
    for (j <- 0 until w * h; c <- 0 until 3)
      assert(r.pixels(3 * j + c) === palette(3 * (idx(j) & 0xff) + c),
        s"pixel $j channel $c")
    // JDK interop: ImageIO resolves the same palette colors
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val o = 3 * (idx(y * w + x) & 0xff)
      assert(((rgb >> 16) & 0xff) === (palette(o) & 0xff), s"R ($x,$y)")
      assert((rgb & 0xff) === (palette(o + 2) & 0xff), s"B ($x,$y)")
    }
    // guards: out-of-range index at encode, bad palette sizes,
    // missing palette for ct3 / palette given for truecolor
    assert(intercept[IllegalArgumentException](
      MediaCodec.encodePngPaletted(Array(nPal.toByte), 1, 1, palette))
      .getMessage.contains("out of range"))
    assert(intercept[IllegalArgumentException](
      MediaCodec.encodePngPaletted(Array(0.toByte), 1, 1,
        new Array[Byte](4))).getMessage.contains("RGB triples"))
    assert(intercept[IllegalArgumentException](
      MediaCodec.encodePng(Array[Byte](1, 2, 3), 1, 1, colorType = 2,
        palette = palette)).getMessage.contains("palette required iff"))
  }

  test("png codec: 16-BIT depth decodes to the high byte, exact vs " +
      "an independent encoder and a hand-built stream") {
    import graft.operators.MediaCodec
    // 16-bit grayscale via ImageIO (TYPE_USHORT_GRAY writes depth 16)
    val w = 7; val h = 5
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 9301 + y * 517) % 65536)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    assert(png(24) === 16, "writer must have produced depth 16") // IHDR
    val r = MediaCodec.decodePng(png)
    assert(r.width === w && r.height === h && r.channelOrder === "GRAY")
    for (y <- 0 until h; x <- 0 until w)
      assert((r.pixels(y * w + x) & 0xff) ===
        (img.getRaster.getSample(x, y, 0) >> 8), s"($x,$y)")
    // 16-bit TRUECOLOR, hand-built (filter 0 scanlines, known bytes):
    // pixel (x,y) channel c = 0x(AB)(CD) with high byte the expected
    // 8-bit output
    val w2 = 2; val h2 = 2
    val raw = new java.io.ByteArrayOutputStream()
    val hi = Array.tabulate(h2, w2, 3)((y, x, c) => y * 80 + x * 30 + c * 7)
    for (y <- 0 until h2) {
      raw.write(0) // filter type None
      for (x <- 0 until w2; c <- 0 until 3) {
        raw.write(hi(y)(x)(c)); raw.write(0x5a) // low byte arbitrary
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw.toByteArray); defl.finish()
    val z = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](512)
    while (!defl.finished()) z.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + data.length)
      b.putInt(data.length)
      val tb = typ.getBytes("US-ASCII")
      b.put(tb).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      b.putInt(crc.getValue.toInt)
      b.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w2).putInt(h2)
    ihdr.put(16.toByte).put(2.toByte) // depth 16, truecolor
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    val hand = sig ++ chunk("IHDR", ihdr.array()) ++
      chunk("IDAT", z.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    val r2 = MediaCodec.decodePng(hand)
    assert(r2.channelOrder === "RGB")
    for (y <- 0 until h2; x <- 0 until w2; c <- 0 until 3)
      assert((r2.pixels((y * w2 + x) * 3 + c) & 0xff) === hi(y)(x)(c))
  }

  test("png codec: Adam7 INTERLACED images from an independent " +
      "encoder decode to the exact pixels") {
    import graft.operators.MediaCodec
    def interlacedPng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("png").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null),
        param)
      writer.dispose(); ios.close()
      val png = bos.toByteArray
      assert(png(28) === 1, "writer must have produced Adam7") // IHDR
      png
    }
    // odd dims exercise every pass's edge geometry; PNG is lossless,
    // so the decode must be byte-EXACT against the source pixels
    for ((w, h) <- Seq((9, 7), (1, 1), (2, 2), (16, 3))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((x * 37 + y) % 256 << 16) |
          ((y * 91 + x) % 256 << 8) | (x * y + 13) % 256)
      val r = MediaCodec.decodePng(interlacedPng(img))
      assert(r.width === w && r.height === h && r.channelOrder === "RGB")
      for (y <- 0 until h; x <- 0 until w) {
        val argb = img.getRGB(x, y)
        val o = (y * w + x) * 3
        assert((r.pixels(o) & 0xff) === ((argb >> 16) & 0xff) &&
          (r.pixels(o + 1) & 0xff) === ((argb >> 8) & 0xff) &&
          (r.pixels(o + 2) & 0xff) === (argb & 0xff),
          s"pixel ($x,$y) of ${w}x$h")
      }
    }
    // grayscale Adam7 (1 byte/pixel sub-image strides)
    val gimg = new java.awt.image.BufferedImage(11, 5,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 5; x <- 0 until 11)
      gimg.getRaster.setSample(x, y, 0, (x * 23 + y * 7) % 256)
    val gr7 = MediaCodec.decodePng(interlacedPng(gimg))
    assert(gr7.channelOrder === "GRAY")
    for (y <- 0 until 5; x <- 0 until 11)
      assert((gr7.pixels(y * 11 + x) & 0xff) ===
        gimg.getRaster.getSample(x, y, 0))
  }

  test("png codec: grayscale + RGBA color types round-trip with " +
      "bpp-aware filters, toRgb composites, hardened chunk guard") {
    import graft.operators.MediaCodec
    val w = 4; val h = 7 // > 5 rows ⇒ all five filters exercised
    // grayscale (color type 0, 1 byte/pixel)
    val gpx = Array.tabulate(w * h)(i => ((i * 53 + 7) % 256).toByte)
    val gpng = MediaCodec.encodePngGray(gpx, w, h)
    val gr = MediaCodec.decodePng(gpng)
    assert(gr.channelOrder === "GRAY" && gr.pixels.toSeq === gpx.toSeq)
    // JDK interop: ImageIO must read the same luma values (raw
    // raster samples — getRGB would gamma-convert gray to sRGB)
    val gimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gpng))
    for (y <- 0 until h; x <- 0 until w) {
      val lum = gimg.getRaster.getSample(x, y, 0)
      assert(lum === (gpx(y * w + x) & 0xff), s"gray at ($x,$y)")
    }
    // toRgb replicates luma into all three channels
    val grgb = MediaCodec.toRgb(gr)
    assert(grgb.channelOrder === "RGB")
    assert(grgb.pixels.grouped(3).zip(gpx.iterator).forall {
      case (trip, g) => trip.forall(_ == g)
    })
    // RGBA (color type 6, 4 bytes/pixel)
    val apx = Array.tabulate(w * h * 4)(i => ((i * 31 + 3) % 256).toByte)
    val apng = MediaCodec.encodePngRgba(apx, w, h)
    val ar = MediaCodec.decodePng(apng)
    assert(ar.channelOrder === "RGBA" && ar.pixels.toSeq === apx.toSeq)
    // JDK interop: ImageIO must agree on all four channels
    val aimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(apng))
    for (y <- 0 until h; x <- 0 until w) {
      val argb = aimg.getRGB(x, y)
      val o = (y * w + x) * 4
      assert(((argb >> 24) & 0xff) === (apx(o + 3) & 0xff), s"A ($x,$y)")
      assert(((argb >> 16) & 0xff) === (apx(o) & 0xff), s"R ($x,$y)")
    }
    // toRgb alpha-composites over white with exact integer rounding
    val acomp = MediaCodec.toRgb(ar)
    assert(acomp.pixels.length === w * h * 3)
    for (j <- 0 until w * h; c <- 0 until 3) {
      val v = apx(4 * j + c) & 0xff; val a = apx(4 * j + 3) & 0xff
      val want = (v * a + 255 * (255 - a) + 127) / 255
      assert((acomp.pixels(3 * j + c) & 0xff) === want, s"comp $j/$c")
    }
    // fully transparent pixel reads as pure background
    val clear = MediaCodec.toRgb(MediaCodec.Raster(1, 1, "RGBA",
      Array(200.toByte, 10.toByte, 99.toByte, 0.toByte)), background = 0)
    assert(clear.pixels.toSeq === Seq[Byte](0, 0, 0))
    // adversarial: crafted chunk len near Int.MaxValue must be
    // rejected by the guard (old int arithmetic wrapped negative and
    // attempted a ~2 GB allocation)
    val evilLen = gpng.clone()
    java.nio.ByteBuffer.wrap(evilLen).putInt(8, Int.MaxValue - 2)
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodePng(evilLen)).getMessage
      .contains("chunk overruns buffer"))
    // near-boundary truncation (type+data present, CRC cut) must be
    // the guard's error, not a BufferUnderflowException
    val idatStart = {
      var i = 8; var found = -1
      val bb = java.nio.ByteBuffer.wrap(gpng)
      while (found < 0) {
        val len = bb.getInt(i)
        val typ = new String(gpng, i + 4, 4, "US-ASCII")
        if (typ == "IDAT") found = i else i += 12 + len
      }
      found
    }
    val idatLen = java.nio.ByteBuffer.wrap(gpng).getInt(idatStart)
    val cut = java.util.Arrays.copyOf(gpng, idatStart + 8 + idatLen + 2)
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodePng(cut)).getMessage
      .contains("chunk overruns buffer"))
    // paletted (3) is SUPPORTED since round 7, but a ct-3 image with
    // no PLTE chunk must fail loudly, not decode indices as colors
    val pal = gpng.clone() // colorType byte is at offset 8+4+4+8+1=25
    pal(25) = 3
    val fixCrc = new java.util.zip.CRC32()
    fixCrc.update(pal, 12, 4 + 13)
    java.nio.ByteBuffer.wrap(pal).putInt(29, fixCrc.getValue.toInt)
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodePng(pal)).getMessage.contains("missing PLTE"))
    // gray+alpha (4) still rejected with a clear error
    val ga = gpng.clone()
    ga(25) = 4
    val gaCrc = new java.util.zip.CRC32()
    gaCrc.update(ga, 12, 4 + 13)
    java.nio.ByteBuffer.wrap(ga).putInt(29, gaCrc.getValue.toInt)
    assert(intercept[IllegalArgumentException](
      MediaCodec.decodePng(ga)).getMessage.contains("colorType=4"))
  }

  test("multimodal decode: stats come from decoded samples with " +
      "normalized channel order") {
    import graft.operators.{MediaCodec, Multimodal}
    // same pixel payload through BMP (stored BGR) and PPM (stored
    // RGB): after channel normalization the R/G/B means must swap
    val pxRgb = Array[Byte](100.toByte, 50.toByte, 200.toByte,
      100.toByte, 50.toByte, 200.toByte, 100.toByte, 50.toByte,
      200.toByte, 100.toByte, 50.toByte, 200.toByte)
    val media = Seq(
      graft.operators.MediaRecord(1L, MediaCodec.encodePpm(pxRgb, 4, 1),
        "image/ppm", 0L),
      graft.operators.MediaRecord(2L, MediaCodec.encodeBmp(pxRgb, 4, 1),
        "image/bmp", 0L), // same bytes, but BMP stores them as B,G,R
      graft.operators.MediaRecord(3L,
        MediaCodec.encodeWav(Array[Byte](0, 51, 102, 255.toByte)),
        "audio/wav", 0L))
    val ds = spark.createDataset(media)(
      org.apache.spark.sql.Encoders.product[graft.operators.MediaRecord])
    val got = Multimodal.decodeStats(spark, ds).collect()
      .map(s => s.doc_id -> s).toMap
    // PPM: stored (100,50,200) = R,G,B directly
    assert(got(1L).c0_milli === math.round(100 * 1000.0 / 255) &&
      got(1L).c1_milli === math.round(50 * 1000.0 / 255) &&
      got(1L).c2_milli === math.round(200 * 1000.0 / 255))
    // BMP: stored (100,50,200) = B,G,R → R mean is 200's, B is 100's
    assert(got(2L).c0_milli === math.round(200 * 1000.0 / 255) &&
      got(2L).c1_milli === math.round(50 * 1000.0 / 255) &&
      got(2L).c2_milli === math.round(100 * 1000.0 / 255))
    assert(got(1L).width === 4 && got(1L).height === 1 &&
      got(1L).n_samples === 4L)
    // audio: mean/peak/trough of (0, 51, 102, 255)
    assert(got(3L).n_samples === 4L &&
      got(3L).c0_milli === math.round(408 * 1000.0 / (255.0 * 4)) &&
      got(3L).c1_milli === 1000L && got(3L).c2_milli === 0L)
  }

  test("multimodal resample: linear interpolation, not truncation") {
    def lerp(v: Array[Float], d: Int) = Multimodal.lerpResample(v, d)
    // identity at the same dim (every sample position is integral)
    val v = Array(0.9f, 0.1f, 0.5f, 0.3f, 0.7f)
    assert(lerp(v, 5).toSeq === v.toSeq)
    // EXACT on linear ramps at any dim: linear interpolation preserves
    // affine signals (this is what truncation/padding violated)
    def ramp(d: Int) = Array.tabulate(d)(i => 1.0f + 2.0f * i / (d - 1))
    for (d <- Seq(2, 3, 7, 16)) {
      val got = lerp(ramp(9), d)
      ramp(d).zip(got).foreach { case (want, g) =>
        assert(math.abs(want - g) < 1e-6, s"d=$d want=$want got=$g")
      }
    }
    // endpoints preserved; output bounded by input range
    val r = new scala.util.Random(3)
    val u = Array.fill(11)(r.nextFloat())
    for (d <- Seq(2, 5, 23)) {
      val g = lerp(u, d)
      assert(g.head === u.head && g.last === u.last)
      assert(g.forall(x => x >= u.min - 1e-6 && x <= u.max + 1e-6))
    }
    // up-then-down round trip stays within the local variation bound
    val back = lerp(lerp(u, 22), 11)
    u.zip(back).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 0.5f, s"round-trip drift $a -> $b")
    }
    // degenerate shapes
    assert(lerp(Array(0.4f), 3).toSeq === Seq(0.4f, 0.4f, 0.4f))
    assert(lerp(Array.empty[Float], 2).toSeq === Seq(0f, 0f))
    // Dataset-level path keeps schema/ids
    val media = Multimodal.mediaFromDocs(docs.limit(5))
    val feats = Multimodal.extractFeatures(spark, media, dim = 8)
    val res = Multimodal.resampleFeatures(spark, feats, 16).collect()
    assert(res.forall(_.feature.length === 16))
  }

  test("raster resize kernels: NN exact index math, bilinear " +
      "interpolation properties") {
    import graft.operators.MediaCodec
    // 2x2 checkerboard, distinct channel values per pixel
    def px(r: Int, g: Int, b: Int) =
      Array(r.toByte, g.toByte, b.toByte)
    val img2x2 = px(10, 20, 30) ++ px(40, 50, 60) ++
      px(70, 80, 90) ++ px(100, 110, 120)
    // identity resize: same pixels (sx = x*w/w = x)
    assert(MediaCodec.nnResizeRgb(img2x2, 2, 2, 2, 2).toSeq ===
      img2x2.toSeq)
    // 2x2 -> 1x1: NN floor picks source (0,0)
    assert(MediaCodec.nnResizeRgb(img2x2, 2, 2, 1, 1).toSeq ===
      px(10, 20, 30).toSeq)
    // 2x2 -> 4x4 -> 2x2 round-trips exactly: upscale sx = x2*2/4
    // duplicates each source pixel, downscale sx = x2*4/2 picks the
    // even columns/rows — the originals
    val up = MediaCodec.nnResizeRgb(img2x2, 2, 2, 4, 4)
    assert(up.length === 48)
    assert(MediaCodec.nnResizeRgb(up, 4, 4, 2, 2).toSeq === img2x2.toSeq)
    // hand case: 4x1 -> 2x1 picks columns 0 and 2
    val img4x1 = px(1, 2, 3) ++ px(4, 5, 6) ++ px(7, 8, 9) ++
      px(10, 11, 12)
    assert(MediaCodec.nnResizeRgb(img4x1, 4, 1, 2, 1).toSeq ===
      (px(1, 2, 3) ++ px(7, 8, 9)).toSeq)
    // bilinear: constant image is invariant at any size
    val const = Array.fill(2 * 2 * 3)(77.toByte)
    assert(MediaCodec.bilinearResizeRgb(const, 2, 2, 5, 3).toSeq ===
      Array.fill(5 * 3 * 3)(77.toByte).toSeq)
    // bilinear 2x1 -> 4x1 half-pixel centers: fx = (x2+0.5)/2 - 0.5
    // = -0.25, 0.25, 0.75, 1.25 -> clamped blends 0, 25%, 75%, 100%
    val img2x1 = px(0, 0, 0) ++ px(100, 200, 40)
    val bl = MediaCodec.bilinearResizeRgb(img2x1, 2, 1, 4, 1)
    assert(bl.map(_ & 0xff).toSeq === Seq(0, 0, 0, 25, 50, 10,
      75, 150, 30, 100, 200, 40))
    // output bounded by input range (no overshoot in bilinear)
    val r = new scala.util.Random(7)
    val rnd = Array.fill(6 * 4 * 3)(r.nextInt(256).toByte)
    val blr = MediaCodec.bilinearResizeRgb(rnd, 6, 4, 13, 9)
    val (lo, hi) = (rnd.map(_ & 0xff).min, rnd.map(_ & 0xff).max)
    assert(blr.forall(v => (v & 0xff) >= lo && (v & 0xff) <= hi))
  }

  test("resizeMedia: decode -> resize -> PNG re-encode round-trips " +
      "with channel-order normalization and JDK interop") {
    import graft.operators.{MediaCodec, MediaRecord, Multimodal}
    // BMP input (stored BGR): resize must operate on NORMALIZED RGB
    val pxRgb = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90,
      100, 110, 120)
    val media = Seq(
      MediaRecord(1L, MediaCodec.encodeBmp(pxRgb, 4, 1), "image/bmp", 0L),
      MediaRecord(2L, MediaCodec.encodePpm(pxRgb, 4, 1), "image/ppm", 0L),
      MediaRecord(3L, MediaCodec.encodePng(pxRgb, 4, 1), "image/png", 0L))
    val ds = spark.createDataset(media)(
      org.apache.spark.sql.Encoders.product[MediaRecord])
    val out = Multimodal.resizeMedia(spark, ds, 2, 1).collect()
      .map(m => m.doc_id -> m).toMap
    assert(out.values.forall(_.format === "image/png"))
    // BMP stored bytes are B,G,R per pixel: encodeBmp treats the
    // payload as stored-order bytes, so decode+normalize flips them;
    // NN 4->2 picks pixels 0 and 2
    val wantBmp = Array[Byte](30, 20, 10, 90, 80, 70)
    assert(MediaCodec.decodePng(out(1L).media).pixels.toSeq ===
      wantBmp.toSeq)
    // PPM/PNG stored RGB: pixels 0 and 2 unchanged
    val wantRgb = Array[Byte](10, 20, 30, 70, 80, 90)
    assert(MediaCodec.decodePng(out(2L).media).pixels.toSeq ===
      wantRgb.toSeq)
    assert(MediaCodec.decodePng(out(3L).media).pixels.toSeq ===
      wantRgb.toSeq)
    // the re-encoded PNG is a bona fide file: JDK ImageIO reads the
    // same pixels
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(3L).media))
    assert(img.getWidth === 2 && img.getHeight === 1)
    val c0 = new java.awt.Color(img.getRGB(0, 0))
    assert(Seq(c0.getRed, c0.getGreen, c0.getBlue) === Seq(10, 20, 30))
    // bilinear path: 2x upscale of a constant image stays constant
    val const = Array.fill(12)(55.toByte)
    val cds = spark.createDataset(Seq(
      MediaRecord(9L, MediaCodec.encodePpm(const, 4, 1), "image/ppm", 0L)))(
      org.apache.spark.sql.Encoders.product[MediaRecord])
    val bl = Multimodal.resizeMedia(spark, cds, 8, 2, bilinear = true)
      .collect().head
    assert(MediaCodec.decodePng(bl.media).pixels.forall(_ === 55.toByte))
  }

  test("video ppm-stream: per-frame headers parsed, every-Nth " +
      "sampling, corrupt streams rejected") {
    import graft.operators.{MediaCodec, Multimodal}
    // 60-byte payload -> 3 frames of 24 bytes (zero-padded last)
    val text = "x" * 60
    val vdocs = Seq((7L, text)).toDF("doc_id", "text")
    val vid = Multimodal.synthesizeVideo(vdocs, frameRows = 2).collect().head
    assert(vid.format === "video/ppm-stream")
    // 3 frames, each "P6\n4 2\n255\n" (11 bytes) + 24 payload bytes
    assert(vid.n_bytes === 3L * (11 + 24))
    val frames = MediaCodec.decodePpmStream(vid.media)
    assert(frames.length === 3)
    assert(frames.forall(f => f.width === 4 && f.height === 2))
    // frame pixels concatenated == payload zero-padded to 72 bytes
    val rebuilt = frames.flatMap(_.pixels.toSeq)
    assert(rebuilt === ("x" * 60).getBytes.padTo(72, 0.toByte).toSeq)
    // everyN sampling keeps frames 0, N, 2N... with real stats
    val vid9 = Multimodal.synthesizeVideo(
      Seq((1L, "ab" * 120)).toDF("doc_id", "text"), frameRows = 2)
    val sampled = Multimodal.sampleFrames(spark, vid9, everyN = 4)
      .collect().sortBy(_.frame_idx)
    // 240 bytes -> 10 frames -> sampled 0, 4, 8
    assert(sampled.map(_.frame_idx).toSeq === Seq(0L, 4L, 8L))
    assert(sampled.forall(f => f.width === 4 && f.height === 2))
    // frame 0 is "abab..." = bytes 97,98 alternating over 24 bytes:
    // stored offsets 0,3,6,... (R channel) alternate 97/98 -> 4x 97
    // + 4x 98; offset 1 (G) alternates 98/97
    val rSum = (0 until 8).map(k => if (k % 2 == 0) 97 else 98).sum
    val gSum = (0 until 8).map(k => if (k % 2 == 0) 98 else 97).sum
    assert(sampled.head.r_milli ===
      math.round(rSum * 1000.0 / (255.0 * 8)))
    assert(sampled.head.g_milli ===
      math.round(gSum * 1000.0 / (255.0 * 8)))
    // multi-digit frame height parses (frameRows = 12 -> "4 12")
    val tall = Multimodal.synthesizeVideo(
      Seq((2L, "y" * 200)).toDF("doc_id", "text"), frameRows = 12)
      .collect().head
    val tallFrames = MediaCodec.decodePpmStream(tall.media)
    assert(tallFrames.length === 2 && tallFrames.head.height === 12)
    // truncated mid-frame: the stream walker throws, it does not
    // silently yield fewer frames
    val cut = vid.media.take(vid.media.length - 5)
    val e1 = intercept[IllegalArgumentException](
      MediaCodec.decodePpmStream(cut))
    assert(e1.getMessage.contains("[GRAFT]"))
    // trailing garbage after the last frame is rejected too
    val garbage = vid.media ++ Array[Byte](1, 2, 3)
    val e2 = intercept[IllegalArgumentException](
      MediaCodec.decodePpmStream(garbage))
    assert(e2.getMessage.contains("[GRAFT]"))
  }

  test("wav resample: nearest-sample rate conversion re-encodes a " +
      "valid container") {
    import graft.operators.MediaCodec
    val pcm = Array.tabulate(100)(i => (i * 2).toByte)
    val wav = MediaCodec.encodeWav(pcm, sampleRate = 8000)
    // downsample to half rate: 50 samples, every 2nd source sample
    val down = MediaCodec.decodeWav(MediaCodec.resampleWav(wav, 4000))
    assert(down.sampleRate === 4000 && down.samples.length === 50)
    assert(down.samples.toSeq ===
      (0 until 50).map(j => (j * 2 * 2) & 0xff))
    // upsample to double rate: 200 samples, each source sample twice
    val up = MediaCodec.decodeWav(MediaCodec.resampleWav(wav, 16000))
    assert(up.sampleRate === 16000 && up.samples.length === 200)
    assert(up.samples.toSeq ===
      (0 until 200).map(j => ((j / 2) * 2) & 0xff))
    // identity rate: bit-identical container
    assert(MediaCodec.resampleWav(wav, 8000).toSeq === wav.toSeq)
  }

  test("token classifier: learns separable classes, exact integer " +
      "weights, neutral on all-OOV docs, vocab cap by df") {
    import graft.operators.TextAnalysis
    // class-specific vocabulary: positive docs use fruit terms,
    // negative docs metal terms; "common" and the fillers straddle
    val docs = (0L until 40L).map { i =>
      val pos = i % 2 == 0
      val words =
        if (pos) s"apple banana cherry common filler${i % 5}"
        else s"iron copper zinc common filler${i % 5}"
      (i, words, pos)
    }.toDF("doc_id", "text", "label")
    val train = docs.filter($"doc_id" < 30)  // 15 pos, 15 neg
    val model = TextAnalysis.trainTokenClassifier(train, $"label")
    val w = model.collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(w("apple") === 1000L * 16 / 17)  // pure-pos: (1000·16) div 17
    assert(w("iron") === 1000L / 17)        // pure-neg: (1000·1) div 17
    assert(w("common") === 500L)            // perfectly split: neutral
    // held-out docs separate perfectly around the neutral 500
    TextAnalysis.scoreTokenClassifier(docs.filter($"doc_id" >= 30), model)
      .collect().foreach { r =>
        val (id, matched, s) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(matched > 0)
        if (id % 2 == 0) assert(s > 500, s"doc $id scored $s")
        else assert(s < 500, s"doc $id scored $s")
      }
    // a fully-OOV doc matches nothing and scores the neutral prior
    val o = TextAnalysis.scoreTokenClassifier(
      Seq((99L, "qqq zzz")).toDF("doc_id", "text"), model).head()
    assert(o.getLong(1) === 0L && o.getLong(2) === 500L)
    // vocab cap keeps top-df terms, ties broken by term
    val capped = TextAnalysis.trainTokenClassifier(train, $"label",
      vocab = 4).select("term").as[String].collect().toSet
    assert(capped === Set("common", "apple", "banana", "cherry"))
  }

  test("trigram language ID: classifies short texts the stopword " +
      "heuristic cannot see; dense model; deterministic tie-break; " +
      "all-OOV falls back to und") {
    import graft.operators.TextAnalysis
    val fixture = TextAnalysis.LangIdSeedCorpus.toDF("lang", "text")
    val model = TextAnalysis.trainLangId(fixture)
    // dense: every vocab gram carries one row PER language
    val langs = model.select($"lang").distinct().as[String]
      .collect().toSet
    assert(langs === Set("en", "de", "es", "fr"))
    val perGram = model.groupBy($"gram").count()
      .select($"count").distinct().as[Long].collect().toSeq
    assert(perGram === Seq(4L))
    // short texts with NO function word: the stopword heuristic says
    // und, the trigram model sees inside the words
    val shorts = Seq(
      (1L, "bonjour"),            // fr fixture word, no fr stopword
      (2L, "nachdenken"),         // de fixture word
      (3L, "children playing"),   // en-ish, no en stopword token
      (4L, "qqqq zzzz xxxx"))     // all-OOV
      .toDF("doc_id", "text")
    val heur = shorts.select($"doc_id",
        TextAnalysis.langId($"text")).as[(Long, String)]
      .collect().toMap
    assert(heur(1L) === "und" && heur(2L) === "und")
    val got = TextAnalysis.scoreLangId(shorts, model)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L)._1 === "fr", got(1L))
    assert(got(2L)._1 === "de", got(2L))
    assert(got(3L)._1 === "en", got(3L))
    assert(got(4L) === (("und", 0L, 500L))) // no gram matched
    // weights are the exact integer Laplace posterior: a gram seen
    // only in one fr doc scores (1000·(1+1)) div (1+4) = 400 for fr
    // and (1000·(0+1)) div 5 = 200 elsewhere
    val bon = model.filter($"gram" === "onj")
      .select($"lang", $"weight_milli").as[(String, Long)]
      .collect().toMap
    assert(bon("fr") === 400L)
    assert(Set("en", "de", "es").forall(bon(_) === 200L))
    // determinism: two trainings agree bit-for-bit
    val again = TextAnalysis.trainLangId(fixture)
    assert(model.orderBy($"gram", $"lang").collect().toSeq ===
      again.orderBy($"gram", $"lang").collect().toSeq)
  }

  test("trigram language ID guards: a non-dense model fails loudly " +
      "instead of misbinding lanes; lang-count cap; un-hinted " +
      "broadcast path is bit-identical") {
    import graft.operators.TextAnalysis
    val fixture = TextAnalysis.LangIdSeedCorpus.toDF("lang", "text")
    val model = TextAnalysis.trainLangId(fixture)
    val docs = Seq((1L, "bonjour"), (2L, "nachdenken"))
      .toDF("doc_id", "text")
    // a model with dropped rows (a natural "size optimization") used
    // to silently shift every language's evidence into its
    // neighbor's lane for the affected grams; now the per-gram lane
    // check raises with the gram named
    val filtered = model.filter($"lang" =!= "de" || $"df" > 0)
    def allMsgs(t: Throwable): String = {
      val sb = new StringBuilder
      var cur: Throwable = t
      while (cur != null) {
        sb.append(Option(cur.getMessage).getOrElse("")).append('\n')
        cur = cur.getCause
      }
      sb.toString
    }
    val e = intercept[Exception](
      TextAnalysis.scoreLangId(docs, filtered).collect())
    assert(allMsgs(e).contains("model is not dense"), allMsgs(e).take(500))
    // so does a model with a duplicate (gram, lang) row
    val dup = model.unionAll(model.filter($"lang" === "en").limit(1))
    val e2 = intercept[Exception](
      TextAnalysis.scoreLangId(docs, dup).collect())
    assert(allMsgs(e2).contains("model is not dense"))
    // > MaxLangs distinct languages: the one-lane-per-language design
    // is the wrong shape, and the limit-collect bounds driver memory
    // while saying so
    val absurd = (0 until TextAnalysis.MaxLangs + 1)
      .map(i => ("abc", f"l$i%04d", 500L))
      .toDF("gram", "lang", "weight_milli")
    val e3 = intercept[IllegalArgumentException](
      TextAnalysis.scoreLangId(docs, absurd))
    assert(e3.getMessage.contains("[GRAFT]") &&
      e3.getMessage.contains("distinct langs"))
    // zeroing the broadcast budget strips the hint (planner's
    // choice) without changing a single output bit
    val hinted = TextAnalysis.scoreLangId(docs, model)
      .orderBy($"doc_id").collect().toSeq
    val prop = "graft.broadcast.budget.bytes"
    val old = sys.props.get(prop)
    try {
      sys.props(prop) = "1"
      val unhinted = TextAnalysis.scoreLangId(docs, model)
        .orderBy($"doc_id").collect().toSeq
      assert(unhinted === hinted)
    } finally old match {
      case Some(v) => sys.props(prop) = v
      case None => sys.props -= prop
    }
  }

  test("tokenizer fertility by language: hand-computed word/subword " +
      "sums per predicted language, exact floor-division milli, " +
      "all-OOV docs land in und") {
    import graft.operators.TextAnalysis
    val model = TextAnalysis.trainLangId(
      TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
    // fixture-substring texts predict their own language with
    // certainty; d5's hyphen makes subwords (10) > words (9)
    val docs = Seq(
      (1L, "bonjour tout le monde"),                              // fr 4/4
      (2L, "nous devrions penser a ce que les gens veulent"),     // fr 9/9
      (3L, "der schnelle braune fuchs springt"),                  // de 5/5
      (4L, "qqqq zzzz xxxx"),                                     // und 3/3
      (5L, "der schnelle braune fuchs springt ueber den faul-en hund"))
      .toDF("doc_id", "text")                                     // de 9/10
    val preds = TextAnalysis.scoreLangId(docs, model)
      .select($"doc_id", $"lang_pred").as[(Long, String)]
      .collect().toMap
    assert(preds === Map(1L -> "fr", 2L -> "fr", 3L -> "de",
      4L -> "und", 5L -> "de"))
    val got = TextAnalysis.tokenizerFertility(docs, model)
      .orderBy($"lang_pred")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // de: 14 words, 15 subwords -> 15000 div 14 = 1071
    assert(got === Seq(
      ("de", 2L, 14L, 15L, 1071L),
      ("fr", 2L, 13L, 13L, 1000L),
      ("und", 1L, 3L, 3L, 1000L)))
  }

  test("bm25 + reciprocal-rank fusion: lexical relevance orders by " +
      "rarity-weighted tf, fusion rewards presence in both lists") {
    import graft.operators.{Knn, TextAnalysis}
    val corpus = Seq(
      (0L, "vector vector vector search"),   // rare term, high tf
      (1L, "vector search engine"),          // rare term, tf 1
      (2L, "search search search search"),   // common term only
      (3L, "search engine"),
      (4L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    val scores = TextAnalysis.bm25Scores(corpus, Seq("vector", "search"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 4 has no query term: filtered out entirely
    assert(!scores.contains(4L))
    // rare "vector" dominates: doc 0 > doc 1 > pure-"search" docs
    assert(scores(0L) > scores(1L) && scores(1L) > scores(2L))
    // "search" appears in 4 of 5 docs: low idf, but still positive
    assert(scores(2L) > 0 && scores(3L) > 0)
    // duplicate / empty term lists fail fast
    assert(intercept[IllegalArgumentException](
      TextAnalysis.bm25Scores(corpus, Seq("a", "a")))
      .getMessage.contains("[GRAFT]"))
    assert(intercept[IllegalArgumentException](
      TextAnalysis.bm25Scores(corpus, Nil)).getMessage.contains("[GRAFT]"))
    // RRF: id 10 is rank 1 in both lists -> 2x the rank-1 weight;
    // id 11 rank 2 lexical only, id 12 rank 2 vector only (equal)
    val fused = Knn.rrfFuse(spark, Seq(Seq(10L, 11L), Seq(10L, 12L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = math.floor(1000000.0 / 61).toLong
    val w2 = math.floor(1000000.0 / 62).toLong
    assert(fused === Map(10L -> 2 * w1, 11L -> w2, 12L -> w2))
    // a duplicate WITHIN one list is a caller bug
    assert(intercept[IllegalArgumentException](
      Knn.rrfFuse(spark, Seq(Seq(1L, 1L)))).getMessage.contains("[GRAFT]"))
  }

  test("bm25 over a query table: per-qid bit parity with the " +
      "literal-kernel path, duplicate pairs collapsed") {
    import graft.operators.TextAnalysis
    val docs = spark.read
      .parquet(s"${GraftTest.sf0001}/documents.parquet")
    val workload = Seq(
      0L -> Seq("vector", "join"),
      1L -> Seq("spark", "hash", "row"),
      2L -> Seq("window"),
      3L -> Seq("zzz-not-in-corpus")) // matches nothing → no rows
    val q = workload
      .flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("qid", "term")
    val got = TextAnalysis.bm25ScoresTable(docs, q)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rs) =>
        qid -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
      }
    // every qid's scores must equal an independent single-query run
    workload.foreach { case (qid, ts) =>
      val want = TextAnalysis.bm25Scores(docs, ts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.getOrElse(qid, Map.empty) === want, s"qid $qid")
    }
    assert(!got.contains(3L))
    // duplicate (qid, term) pairs count once, like the distinct guard
    val dup = Seq((0L, "vector"), (0L, "vector"), (0L, "join"))
      .toDF("qid", "term")
    val dedup = TextAnalysis.bm25ScoresTable(docs, dup)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(dedup === got(0L))
  }

  test("hybridSearchBatch: parity with manual bm25TopK + " +
      "searchBatch + rrfFuseBatch composition, single-half qids fuse") {
    import graft.operators.{IvfIndex, Knn, Metric, TextAnalysis}
    val docs = spark.read
      .parquet(s"${GraftTest.sf0001}/documents.parquet")
    val emb = spark.read
      .parquet(s"${GraftTest.sf0001}/embeddings.parquet")
      .select($"vec_id".as("id"), $"embedding".as("values"))
    val dir = java.nio.file.Files
      .createTempDirectory("hybrid-ivf").toString
    IvfIndex.build(emb, dir, nCentroids = 8, Metric.Cosine)
    val termWl = Seq((0L, "vector"), (0L, "join"), (1L, "spark"),
      (7L, "the")).toDF("qid", "term") // qid 7: lexical-only
    val vecWl = emb.filter($"id" < 3)
      .select($"id".as("qid"), $"values".as("qvalues")) // qid 2: vector-only
    val got = Knn.hybridSearchBatch(docs, dir, termWl, vecWl,
      kEach = 10, nProbe = 8)
    val lex = TextAnalysis.bm25TopK(docs, termWl, k = 10)
    val vec = IvfIndex.searchBatch(spark, dir, vecWl, k = 10,
        nProbe = 8)
      .select($"qid", $"id".as("doc_id"), $"rank")
    val want = Knn.rrfFuseBatch(Seq(lex, vec), idCol = "doc_id")
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    // every workload qid answered, including the single-half ones
    val qids = got.select($"qid").distinct().as[Long].collect().toSet
    assert(Set(0L, 1L, 2L, 7L).subsetOf(qids))
  }

  test("oovRate: hand case, bounds, frozen-vocab override") {
    import graft.operators.TextAnalysis
    // vocab top-2 by (count desc, word asc): "a"(4), "b"(3)
    val docs = Seq(
      (0L, "a a b c"),   // 1 OOV of 4 → 250
      (1L, "a b b"),     // 0 OOV      → 0
      (2L, "c d e"),     // all OOV    → 1000
      (3L, "a"))         // 0 OOV      → 0
      .toDF("doc_id", "text")
    val got = TextAnalysis.oovRate(docs, v = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 250L, 1L -> 0L, 2L -> 1000L, 3L -> 0L))
    // rates live in [0, 1000] on real data, one row per doc
    val real = spark.read
      .parquet(s"${GraftTest.sf0001}/documents.parquet")
    val rates = TextAnalysis.oovRate(real, v = 50).cache()
    assert(rates.count() === real.count())
    assert(rates.filter($"oov_milli" < 0 || $"oov_milli" > 1000)
      .count() === 0L)
    rates.unpersist()
    // frozen reference vocabulary: scoring new docs against a STANDING
    // vocab must not re-derive it from the scored batch
    val frozen = Seq("x").toDF("word")
    val overridden = TextAnalysis.oovRate(docs, v = 2,
        vocabOverride = Some(frozen))
      .as[(Long, Long)].collect().toMap
    assert(overridden(1L) === 1000L) // "a b b": nothing matches {x}
  }

  test("stripRepeatedLines: first occurrence wins in order, counts " +
      "exact, custom separator, no-repeat docs unchanged") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, "head\nbody\nhead\ntail\nbody"),  // drops 2 repeats
      (1L, "only line"),                      // unchanged
      (2L, "x\nx\nx\nx"))                     // collapses to one
      .toDF("doc_id", "text")
    val got = TextAnalysis.stripRepeatedLines(docs)
      .as[(Long, String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got(0L) === (("head\nbody\ntail", 3L, 5L)))
    assert(got(1L) === (("only line", 1L, 1L)))
    assert(got(2L) === (("x", 1L, 4L)))
    // custom separator: sentence-ish unit
    val s2 = TextAnalysis.stripRepeatedLines(
        Seq((0L, "a. b. a. c.")).toDF("doc_id", "text"), sep = ". ")
      .as[(Long, String, Long, Long)].head()
    assert(s2._2 === "a. b. c." && s2._3 === 3L && s2._4 === 4L)
  }

  test("BPE incremental trainer == naive full-recount reference on " +
      "randomized corpora (merge sequences identical)") {
    import graft.operators.Bpe
    // naive reference: recount EVERY pair each iteration from the
    // word-count dict — the textbook trainer the incremental
    // structure must reproduce exactly, tiebreaks included
    def naive(counts: Seq[(String, Long)], nMerges: Int)
        : Vector[(String, String)] = {
      var words = counts.map { case (w, c) =>
        (w.map(_.toString).toVector :+ Bpe.Eow, c) }
      val out = Vector.newBuilder[(String, String)]
      var k = 0
      var stop = false
      while (k < nMerges && !stop) {
        val pc = collection.mutable.HashMap.empty[(String, String), Long]
        words.foreach { case (s, c) =>
          (0 until s.length - 1).foreach { i =>
            val p = (s(i), s(i + 1))
            pc.update(p, pc.getOrElse(p, 0L) + c)
          }
        }
        val cand = pc.filter(_._2 >= 2L)
        if (cand.isEmpty) stop = true
        else {
          val best = cand.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          out += best
          k += 1
          val j = best._1 + best._2
          words = words.map { case (s, c) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == best._1 &&
                  s(i + 1) == best._2) { b += j; i += 2 }
              else { b += s(i); i += 1 }
            }
            (b.result(), c)
          }
        }
      }
      out.result()
    }
    (1 to 8).foreach { seed =>
      val r = new scala.util.Random(seed)
      val alphabet = "abcdef"
      def word = (0 until 1 + r.nextInt(5))
        .map(_ => alphabet(r.nextInt(alphabet.length))).mkString
      val vocabList = (0 until 12).map(_ => word)
      val docs = (0 until 30).map { i =>
        (i.toLong, (0 until 3 + r.nextInt(8))
          .map(_ => vocabList(r.nextInt(vocabList.length)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val wc = docs.as[(Long, String)].collect()
        .flatMap(_._2.toLowerCase.trim.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) => (w, g.length.toLong) }
        .toSeq.sortBy { case (w, c) => (-c, w) }
      val got = Bpe.trainBpe(docs, nMerges = 15).merges
      val want = naive(wc, 15)
      assert(got === want, s"seed=$seed")
    }
  }

  test("lmScore: hand-computed smoothed bigram costs, short docs " +
      "absent, gibberish outranks fluent text") {
    import graft.operators.TextAnalysis
    // corpus bigrams: (a,b)×2 + (b,a)×1 from doc 0, (z,q)×1 from
    // doc 1; V = 4; ca: a=2, b=1, z=1
    //   cost(a,b) = 1000·(2+4) div 3 = 2000
    //   cost(b,a) = 1000·(1+4) div 2 = 2500
    //   cost(z,q) = 1000·(1+4) div 2 = 2500
    val docs = Seq(
      (0L, "a b a b"),  // n=3, mean = (2000+2500+2000) div 3 = 2166
      (1L, "z q"),      // n=1, mean = 2500
      (2L, "a"))        // single token: no bigrams, absent
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(docs)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got === Map(0L -> ((3L, 2166L)), 1L -> ((1L, 2500L))))
    // a fluent (repetitive-bigram) doc must score LOWER than unique
    // gibberish under the corpus model
    val corpus = Seq(
      (0L, "the cat sat on the mat the cat sat on the mat"),
      (1L, "the cat sat on the mat again"),
      (2L, "qzx vbn wkj plm drt hyu"))
      .toDF("doc_id", "text")
    val scores = TextAnalysis.lmScore(corpus)
      .select($"doc_id", $"mean_invp_milli")
      .as[(Long, Long)].collect().toMap
    assert(scores(0L) < scores(2L))
    assert(scores(1L) < scores(2L))
  }

  test("DSIR importance: hand-computed ratios, target-like docs score high, " +
      "resampling keeps them preferentially") {
    import graft.operators.TextAnalysis
    // target corpus: {alpha alpha beta}  (NT=3, VT=2, den=6)
    // raw corpus:    {alpha beta gamma gamma}  (NR=4, VR=3, den=8)
    val tgt = TextAnalysis.wordModel(
      Seq("alpha alpha beta").toDF("text"))
    val raw = TextAnalysis.wordModel(
      Seq("alpha beta", "gamma gamma").toDF("text"))
    assert(tgt.nWords === 3L && tgt.vocab === 2L)
    assert(raw.nWords === 4L && raw.vocab === 3L)
    // r(w) = floor(1000·(cT+1)/6 · 8/(cR+1)):
    //   alpha: cT=2,cR=1: 1000·3/6 · 8/2 = 2000
    //   beta:  cT=1,cR=1: 1000·2/6 · 8/2 = 1333.33 -> 1333
    //   gamma: cT=0,cR=2: 1000·1/6 · 8/3 = 444.44 -> 444
    //   delta (unseen in both): 1000·1/6 · 8/1 = 1333.33 -> 1333
    val docs = Seq((1L, "alpha beta"), (2L, "gamma gamma"),
      (3L, "delta"), (4L, "  ")).toDF("doc_id", "text")
    val imp = TextAnalysis.importanceMilli(docs, tgt, raw)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    assert(imp(1L) === ((2L, (2000L + 1333L) / 2)))
    assert(imp(2L) === ((2L, 444L)))
    assert(imp(3L) === ((1L, 1333L)))
    // the all-whitespace doc has no words -> no importance row
    assert(!imp.contains(4L))
    // resampling: alphaMilli at the target-like score keeps doc 1
    // with certainty; doc 2's p = 444/1666 — membership is hash-
    // deterministic either way (same result on a re-run)
    val kept = TextAnalysis.dsirSample(docs, tgt, raw,
        col("doc_id").cast("string"), alphaMilli = 1666L)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.contains(1L))
    val again = TextAnalysis.dsirSample(docs, tgt, raw,
        col("doc_id").cast("string"), alphaMilli = 1666L)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === again)
  }

  test("vfs_dsir TVF: in-place and standing-word-model forms agree; bad args loud") {
    graft.functions.registerAll(spark)
    val base = java.nio.file.Files
      .createTempDirectory("tvf-dsir").toString
    Seq((1L, "alpha beta"), (2L, "gamma gamma"), (3L, "alpha alpha"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/docs")
    Seq((10L, "alpha alpha beta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/target")
    def run(targetPath: String) = spark.sql(
        s"SELECT * FROM vfs_dsir('$base/docs', '$targetPath') " +
          "ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val inPlace = run(s"$base/target")
    // the standing form loads the SAVED artifact (words.json detected)
    graft.operators.TextAnalysis.saveWordModel(
      graft.operators.TextAnalysis.wordModel(
        spark.read.parquet(s"$base/target")), s"$base/wm")
    assert(inPlace.nonEmpty && run(s"$base/wm") === inPlace)
    // alpha-heavy doc must outscore the gamma doc
    val byId = inPlace.map(r => r._1 -> r._3).toMap
    assert(byId(3L) > byId(2L))
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM vfs_dsir('x')").collect()
    }
    assert(err.getMessage.contains("[GRAFT]"))
  }

  test("DSIR hashed bigrams: buckets match an independent md5 " +
      "derivation; short docs drop; ratios follow the pinned formula") {
    import graft.operators.TextAnalysis
    // INDEPENDENT bucket derivation (hex-string md5 parse), not the
    // engine's byte-fold kernel — a real cross-check
    def bucketOf(gram: String, buckets: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(gram.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % buckets
    }
    def gramsOf(text: String): Seq[String] = {
      val t = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    }
    val B = 64
    val tgtDocs = Seq("alpha beta gamma", "alpha beta").toDF("text")
    val rawDocs = Seq("alpha beta", "beta gamma delta", "solo")
      .toDF("text")
    val tgt = TextAnalysis.ngramModel(tgtDocs, n = 2, buckets = B)
    val raw = TextAnalysis.ngramModel(rawDocs, n = 2, buckets = B)
    // expected bucket counts from the independent derivation
    def expCounts(texts: Seq[String]): Map[Long, Long] =
      texts.flatMap(gramsOf).map(bucketOf(_, B))
        .groupBy(identity).map { case (b, g) => b -> g.size.toLong }
    val expT = expCounts(Seq("alpha beta gamma", "alpha beta"))
    assert(tgt.counts.as[(Long, Long)].collect().toMap === expT)
    assert(tgt.nWords === expT.values.sum && tgt.vocab === expT.size)
    // scoring: the pinned double chain over bucket counts; docs with
    // < 2 tokens produce no row
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"),
      (3L, "solo"), (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.importanceMilliNgram(docs, tgt, raw,
        n = 2, buckets = B)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    val expR = expCounts(Seq("alpha beta", "beta gamma delta", "solo"))
    val tDen = (tgt.nWords + tgt.vocab + 1L).toDouble
    val rDen = (raw.nWords + raw.vocab + 1L).toDouble
    def rOf(b: Long): Long = math.floor(
      (1000.0 * (expT.getOrElse(b, 0L) + 1L) / tDen) *
        (rDen / (expR.getOrElse(b, 0L) + 1L))).toLong
    def impOf(text: String): (Long, Long) = {
      val rs = gramsOf(text).map(g => rOf(bucketOf(g, B)))
      (rs.size.toLong, rs.sum / rs.size)
    }
    assert(got === Map(1L -> impOf("alpha beta gamma"),
      2L -> impOf("beta gamma delta")))
    // guards
    intercept[IllegalArgumentException] {
      graft.functions.NgramBuckets(null, 0, 64)
    }
    intercept[IllegalArgumentException] {
      graft.functions.NgramBuckets(null, 2, 1)
    }
  }

  test("dsirScoreStream: standing word models score each batch, " +
      "replay idempotent; alpha > 0 resamples hash-deterministically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("dsir-stream").toString
    TextAnalysis.saveWordModel(TextAnalysis.wordModel(
      Seq("alpha alpha beta").toDF("text")), s"$base/tgt")
    TextAnalysis.saveWordModel(TextAnalysis.wordModel(
      Seq("alpha beta", "gamma gamma").toDF("text")), s"$base/raw")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.dsirScoreStream(
      stream.toDF().toDF("doc_id", "text"), s"$base/tgt", s"$base/raw",
      s"$base/out", s"$base/ck",
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      stream.addData((1L, "alpha beta"), (2L, "gamma gamma"))
      q.processAllAvailable()
      stream.addData((3L, "delta"))
      q.processAllAvailable()
    } finally q.stop()
    // hand-derived from the importanceMilli spec's corpus: doc1
    // (2000+1333)/2, doc2 444, doc3 1333
    val b0 = spark.read.parquet(s"$base/out/batch=0")
      .select($"doc_id", $"imp_milli", $"batch_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(b0 === Set((1L, (2000L + 1333L) / 2, 0L), (2L, 444L, 0L)))
    assert(spark.read.parquet(s"$base/out/batch=1")
      .select($"doc_id", $"imp_milli").as[(Long, Long)].collect()
      .toSet === Set((3L, 1333L)))
    // REPLAY batch 0's body against the same frozen models: the dir
    // rewrites to identical content
    val tgt = TextAnalysis.loadWordModel(spark, s"$base/tgt")
    val raw = TextAnalysis.loadWordModel(spark, s"$base/raw")
    graft.streaming.Ingest.dsirScoreBatch(
      Seq((1L, "alpha beta"), (2L, "gamma gamma"))
        .toDF("doc_id", "text"),
      0L, tgt, raw, s"$base/out", 0L, "doc_id", "text")
    assert(spark.read.parquet(s"$base/out/batch=0")
      .select($"doc_id", $"imp_milli", $"batch_id")
      .as[(Long, Long, Long)].collect().toSet === b0)
    // alpha > 0: the resampled landing is the score-only landing
    // filtered by the hash rule — and deterministic across replays
    graft.streaming.Ingest.dsirScoreBatch(
      Seq((1L, "alpha beta"), (2L, "gamma gamma"))
        .toDF("doc_id", "text"),
      7L, tgt, raw, s"$base/out2", 1666L, "doc_id", "text")
    val kept = spark.read.parquet(s"$base/out2/batch=7")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(Set(1L, 2L)) && kept.contains(1L))
    graft.streaming.Ingest.dsirScoreBatch(
      Seq((1L, "alpha beta"), (2L, "gamma gamma"))
        .toDF("doc_id", "text"),
      7L, tgt, raw, s"$base/out2", 1666L, "doc_id", "text")
    assert(spark.read.parquet(s"$base/out2/batch=7")
      .select($"doc_id").as[Long].collect().toSet === kept)
    // duplicate in-batch ids are loud, not a silent fan-out
    val dup = intercept[IllegalArgumentException] {
      graft.streaming.Ingest.dsirScoreBatch(
        Seq((1L, "a b"), (1L, "c d")).toDF("doc_id", "text"),
        9L, tgt, raw, s"$base/out3", 0L, "doc_id", "text")
    }
    assert(dup.getMessage.contains("unique within a batch"))
    // N-GRAM mode: standing ngramModel artifacts (LONG bucket column
    // survives the parquet round-trip), scores equal the direct
    // importanceMilliNgram over the same batch; sub-n-token docs drop
    TextAnalysis.saveWordModel(TextAnalysis.ngramModel(
      Seq("alpha beta gamma").toDF("text"), n = 2, buckets = 64),
      s"$base/tgt2")
    TextAnalysis.saveWordModel(TextAnalysis.ngramModel(
      Seq("alpha beta", "beta gamma delta").toDF("text"),
      n = 2, buckets = 64), s"$base/raw2")
    val t2 = TextAnalysis.loadWordModel(spark, s"$base/tgt2")
    val r2 = TextAnalysis.loadWordModel(spark, s"$base/raw2")
    val ngBatch = Seq((1L, "alpha beta gamma"), (2L, "solo"))
      .toDF("doc_id", "text")
    graft.streaming.Ingest.dsirScoreBatch(ngBatch, 3L, t2, r2,
      s"$base/out4", 0L, "doc_id", "text", Some((2, 64)))
    val direct = TextAnalysis.importanceMilliNgram(ngBatch, t2, r2,
        n = 2, buckets = 64)
      .select($"doc_id", $"imp_milli").as[(Long, Long)].collect().toMap
    assert(spark.read.parquet(s"$base/out4/batch=3")
      .select($"doc_id", $"imp_milli").as[(Long, Long)].collect()
      .toMap === direct)
    assert(direct.keySet === Set(1L)) // 1-token doc has no grams
  }

  test("scoreLm vs standing model: unseen bigrams and contexts cost " +
      "through the same coalesced formula; lmScore = self-score") {
    import graft.operators.TextAnalysis
    // reference corpus: "a b" → c(a,b)=1, c(a)=1, V=2
    val ref = Seq((0L, "a b")).toDF("doc_id", "text")
    val model = TextAnalysis.lmModel(ref)
    assert(model.vocabSize === 2L)
    val probe = Seq(
      (0L, "a b"),   // seen:            1000·(1+2) div 2 = 1500
      (1L, "a z"),   // unseen bigram:   1000·(1+2) div 1 = 3000
      (2L, "z q"))   // unseen context:  1000·(0+2) div 1 = 2000
      .toDF("doc_id", "text")
    val got = TextAnalysis.scoreLm(probe, model)
      .select($"doc_id", $"mean_invp_milli")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 1500L, 1L -> 3000L, 2L -> 2000L))
    // the one-call form IS self-scoring with the same corpus
    val docs = spark.read
      .parquet(s"${GraftTest.sf0001}/documents.parquet")
    val one = TextAnalysis.lmScore(docs)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    val two = TextAnalysis.scoreLm(docs, TextAnalysis.lmModel(docs))
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(one === two)
  }

  test("BPE: hand-computed merge sequence, unseen-word encoding, " +
      "roundtrip, compression, deterministic, model persistence") {
    import graft.operators.Bpe
    // the classic BPE corpus: low×5 lower×2 newest×6 widest×3.
    // weighted pair counts make the first five merges, ties broken
    // lexicographically: (e,s)9 → (es,t)9 → (est,</w>)9 → (l,o)7 →
    // (lo,w)7
    val corpus = Seq(
      (0L, "low low low low low"),
      (1L, "lower lower widest"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest"))
      .toDF("doc_id", "text")
    val model = Bpe.trainBpe(corpus, nMerges = 5)
    assert(model.merges === Vector(("e", "s"), ("es", "t"),
      ("est", Bpe.Eow), ("l", "o"), ("lo", "w")))
    // deterministic retrain
    assert(Bpe.trainBpe(corpus, nMerges = 5).merges === model.merges)
    // UNSEEN word: "lowest" never occurs, yet composes from learned
    // subwords — the generalization BPE exists for
    assert(Bpe.encodeWord("lowest", model.ranks) ===
      Vector("low", "est" + Bpe.Eow))
    // frame-level encode + decode roundtrip to the normal form
    val probe = Seq((9L, "  Lowest  LOW newest  "))
      .toDF("doc_id", "text")
    val enc = Bpe.bpeEncode(probe, model)
    val row = enc.select($"tokens", $"n_tokens")
      .as[(Seq[String], Long)].head()
    assert(row._1.take(2) === Seq("low", "est" + Bpe.Eow))
    assert(row._2 === row._1.length.toLong)
    assert(Bpe.bpeDecode(row._1) === "lowest low newest")
    assert(enc.select(Bpe.bpeDecodeCol($"tokens")).as[String].head()
      === "lowest low newest")
    // model persistence roundtrip
    val back = Bpe.BpeModel.fromDF(model.toDF(spark))
    assert(back === model)
    // real corpus: every doc roundtrips, and the encoding compresses
    // vs the char-level baseline (chars + one </w> per word)
    val real = spark.read
      .parquet(s"${GraftTest.sf0001}/documents.parquet")
    val m2 = Bpe.trainBpe(real, nMerges = 100)
    val norm = regexp_replace(trim(lower($"text")), "\\s+", " ")
    val stats = Bpe.bpeEncode(real, m2)
      .join(real.select($"doc_id", norm.as("__norm")), Seq("doc_id"))
      .select(
        when(Bpe.bpeDecodeCol($"tokens") === $"__norm", 0L)
          .otherwise(1L).as("fail"),
        $"n_tokens",
        (length(translate($"__norm", " ", "")) +
          size(split($"__norm", " "))).cast("long").as("baseline"))
      .agg(sum($"fail"), sum($"n_tokens"), sum($"baseline"))
      .as[(Long, Long, Long)].head()
    assert(stats._1 === 0L, "roundtrip failures")
    assert(stats._2 < stats._3, "no compression vs char baseline")
  }

  test("leakSafeSplit: near-dup groups never straddle splits, " +
      "weights validated, assignment deterministic") {
    val docs = spark.read
      .parquet(s"${GraftTest.sf0001}/documents.parquet")
    val pairs = Dedup.jaccardPairsWithin(docs, "source", 0.9)
      .select($"a", $"b")
    val splits = Seq(("train", 900), ("val", 50), ("test", 50))
    val got = Dedup.leakSafeSplit(docs, pairs, splits).cache()
    // total function: one row per doc, split ∈ declared names
    assert(got.count() === docs.count())
    assert(got.select($"split").distinct().as[String].collect().toSet
      .subsetOf(Set("train", "val", "test")))
    // THE invariant: both endpoints of every near-dup edge share a
    // group, and every group maps to exactly one split
    val bySplit = got.select($"doc_id", $"split")
    val straddling = pairs
      .join(bySplit.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("split", "sa"), Seq("a"))
      .join(bySplit.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("split", "sb"), Seq("b"))
      .filter($"sa" =!= $"sb")
    assert(straddling.count() === 0L)
    assert(got.select($"group_id", $"split").distinct()
      .groupBy($"group_id").count().filter($"count" > 1)
      .count() === 0L)
    // deterministic: a second independent evaluation is identical
    val again = Dedup.leakSafeSplit(docs, pairs, splits)
    assert(got.exceptAll(again).count() === 0L)
    assert(again.exceptAll(got).count() === 0L)
    got.unpersist()
    // weight guards
    intercept[IllegalArgumentException] {
      Dedup.leakSafeSplit(docs, pairs, Seq(("train", 500)))
    }
    intercept[IllegalArgumentException] {
      Dedup.leakSafeSplit(docs, pairs,
        Seq(("a", 500), ("a", 500)))
    }
  }

  test("rankByScore: bit parity with row_number over (score desc, " +
      "id asc), partial top-k in the plan, k bounds each qid") {
    import graft.operators.{Knn, TextAnalysis}
    val docs = spark.read
      .parquet(s"${GraftTest.sf0001}/documents.parquet")
    val q = Seq((0L, "vector"), (0L, "join"), (1L, "spark"),
      (2L, "the"), (2L, "hash"))
      .toDF("qid", "term")
    val scored = TextAnalysis.bm25ScoresTable(docs, q)
    val got = Knn.rankByScore(scored, k = 20, idCol = "doc_id",
      scoreCol = "score_milli")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"score_milli".desc, $"doc_id".asc)
    val want = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 20).select($"qid", $"doc_id", $"rank")
    // exact set equality including rank values (ties: id ascending)
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    assert(got.groupBy($"qid").count()
      .filter($"count" > 20).count() === 0L)
    // plan: partial top-k aggregate, not a window sort
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("partial_vfs_topk"), plan)
    assert(!plan.contains("Window"), "must not plan a window sort")
  }

  test("bm25TopK: bit parity with bm25ScoresTable + rankByScore, " +
      "no qid-cross shuffle in the plan") {
    import graft.operators.{Knn, TextAnalysis}
    val docs = spark.read
      .parquet(s"${GraftTest.sf0001}/documents.parquet")
    // dense terms (match most docs) + a selective one + a no-hit one
    val q = Seq((0L, "vector"), (0L, "join"), (1L, "spark"),
      (1L, "vector"), (2L, "the"), (3L, "zzz-no-hit"))
      .toDF("qid", "term")
    val fused = TextAnalysis.bm25TopK(docs, q, k = 25)
    val want = Knn.rankByScore(TextAnalysis.bm25ScoresTable(docs, q),
      k = 25, idCol = "doc_id", scoreCol = "score_milli")
    assert(fused.exceptAll(want).count() === 0L)
    assert(want.exceptAll(fused).count() === 0L)
    // exactly ONE exchange is keyed by qid — the top-k aggregate's,
    // fed by its map-side partial (≤ k rows per partition × qid); the
    // raw qid × doc score cross never becomes shuffle rows
    val plan = fused.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val qidExchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .count(_.contains("qid"))
    assert(qidExchanges === 1, s"one qid-keyed exchange, got $qidExchanges")
    assert(plan.contains("partial_vfs_topk"), plan)
  }

  test("bm25TopK workload collect is byte-gated: a workload past the " +
      "driver budget fails LOUDLY naming the bm25ScoresTable " +
      "composition, before any driver allocation") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "vector search"), (2L, "spark join"))
      .toDF("doc_id", "text")
    val q = Seq((0L, "vector"), (1L, "spark")).toDF("qid", "term")
    val key = "graft.collect.budget.bytes"
    val old = sys.props.get(key)
    sys.props(key) = "64" // 2 workload rows estimate past 64 bytes
    try {
      val err = intercept[IllegalArgumentException] {
        TextAnalysis.bm25TopK(docs, q, k = 5)
      }
      assert(err.getMessage.contains("bm25ScoresTable"), err.getMessage)
      assert(err.getMessage.contains("query workload"), err.getMessage)
    } finally old match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
    // with the budget restored the same call serves
    assert(TextAnalysis.bm25TopK(docs, q, k = 5).count() === 2L)
  }

  test("tokenizer fertility zero-token group: all-NULL-text docs land " +
      "in und with fertility 0, not a division by zero") {
    import graft.operators.TextAnalysis
    val model = TextAnalysis.trainLangId(
      TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
    val docs = Seq[(Long, String)]((1L, null), (2L, null))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenizerFertility(docs, model)
      .select($"lang_pred", $"n_docs", $"fertility_milli")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("und", 2L, 0L)))
    // the token counts ride scoreLangId's carry hook: the fertility
    // plan holds EXACTLY the scoring pipeline's own joins (model
    // derivation + grams ⨝ model + docs ⨝ scored) — the old extra
    // doc-keyed counts join is gone
    def joins(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    assert(joins(TextAnalysis.tokenizerFertility(docs, model)) ===
      joins(TextAnalysis.scoreLangId(docs, model)))
  }

  test("rrfFuseBatch: per-qid bit parity with driver-side rrfFuse, " +
      "one no-shuffle union + one hash aggregate") {
    import graft.operators.Knn
    val lex = Seq((7L, 10L, 1), (7L, 11L, 2), (8L, 20L, 1))
      .toDF("qid", "id", "rank")
    val vec = Seq((7L, 10L, 1), (7L, 12L, 2), (9L, 30L, 3))
      .toDF("qid", "id", "rank")
    val fused = Knn.rrfFuseBatch(Seq(lex, vec))
    val got = fused.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
      }
    // qid 7 must equal the driver-side fusion of the same two lists
    val want7 = Knn.rrfFuse(spark, Seq(Seq(10L, 11L), Seq(10L, 12L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) === want7)
    // single-frame qids, including a rank that starts past 1
    assert(got(8L) === Map(20L -> math.floor(1000000.0 / 61).toLong))
    assert(got(9L) === Map(30L -> math.floor(1000000.0 / 63).toLong))
    // plan shape: the union must not shuffle — exactly ONE exchange
    // (the fusion aggregate's), keyed (qid, id); count only the AQE
    // final plan (the Initial Plan section repeats the same node)
    val exchanges = fused.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, "union+agg should plan exactly one exchange")
    assert(intercept[IllegalArgumentException](
      Knn.rrfFuseBatch(Nil)).getMessage.contains("[GRAFT]"))
  }

  test("streaming ingest: micro-batches append to store exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Seq[Float], String, Seq[String])]
    val root = Files.createTempDirectory("stream-store").toString
    val store = graft.store.VfsStore.create(spark, root, "stream", dim = 3)
    val q = graft.streaming.Ingest.intoStore(
      stream.toDF().toDF("values", "name", "tags"), store,
      s"$root/checkpoint",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
    try {
      stream.addData((Seq(1f, 2f, 3f), "a", Seq("t")))
      stream.addData((Seq(4f, 5f, 6f), "b", Seq[String]()))
      q.processAllAvailable()
    } finally q.stop()
    val ids = store.read().select($"id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L))
  }

  test("streaming index ingest: appends become searchable; drifted " +
      "appends fire the needsRebalance hook; rebalance recovers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    // balanced base corpus, euclidean so the per-row jitter survives
    // into storage (bytes track rows for the drift check's size proxy)
    val base = (0L until 400L).map { i =>
      val v = new Array[Float](dim)
      v((i % 4).toInt) = 1f; v(7) = i / 400f * 0.1f
      (i, v.toSeq)
    }.toDF("id", "values")
    val idx = Files.createTempDirectory("stream-ivf").toString
    graft.operators.IvfIndex.build(base, idx, nCentroids = 8,
      graft.operators.Metric.Euclidean, seed = 7L)
    val drifts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Ingest.intoIndex(
      stream.toDF().toDF("id", "values"), idx,
      Files.createTempDirectory("stream-ivf-ckpt").toString,
      maxClusterFraction = 0.5, driftCheckEvery = 1,
      onDrift = drifts += _,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
    try {
      // batch 0: benign append — searchable, no drift
      stream.addData((10000L, Seq(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0.05f)))
      q.processAllAvailable()
      assert(drifts.isEmpty, drifts)
      val got = graft.operators.IvfIndex.search(spark, idx,
          Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0.05f), 1, nProbe = 8)
        .select("id").as[Long].collect()
      assert(got === Array(10000L))
      // next batch: a tight blob 4x the corpus — drift must fire
      stream.addData((20000L until 21600L).map { i =>
        val v = new Array[Float](dim)
        v(0) = 2f; v(7) = (i - 20000L) / 1600f * 0.001f
        (i, v.toSeq)
      }: _*)
      q.processAllAvailable()
      assert(drifts.nonEmpty, "drift hook did not fire")
    } finally q.stop()
    // maintenance rebalance (single-writer: stream is stopped) clears
    // the skew and the full-probe result set is unchanged
    val before = graft.operators.IvfIndex.search(spark, idx,
        Array.tabulate(dim)(i => if (i == 0) 2f else 0f), 20,
        nProbe = spark.read.parquet(s"$idx/centroids").count().toInt)
      .select("id").as[Long].collect().toSeq
    assert(graft.operators.IvfIndex.rebalance(spark, idx,
      maxClusterFraction = 0.25, seed = 11L) >= 2)
    assert(!graft.operators.IvfIndex.needsRebalance(spark, idx,
      maxClusterFraction = 0.5))
    val after = graft.operators.IvfIndex.search(spark, idx,
        Array.tabulate(dim)(i => if (i == 0) 2f else 0f), 20,
        nProbe = spark.read.parquet(s"$idx/centroids").count().toInt)
      .select("id").as[Long].collect().toSeq
    assert(after === before)
  }

  test("index ingest replay: committed batch ids are exact no-ops") {
    val dim = 8
    val base = (0L until 100L).map { i =>
      val v = new Array[Float](dim); v((i % 4).toInt) = 1f
      (i, v.toSeq)
    }.toDF("id", "values")
    val idx = Files.createTempDirectory("ingest-replay").toString
    graft.operators.IvfIndex.build(base, idx, nCentroids = 4,
      graft.operators.Metric.Euclidean)
    val b0 = Seq((1000L, Seq.fill(dim)(0.5f))).toDF("id", "values")
    assert(graft.streaming.Ingest.appendBatchIdempotent(b0, idx, 0L))
    val n1 = spark.read.parquet(s"$idx/assignments").count()
    // a foreachBatch REPLAY of the committed batch must not
    // double-index its vectors
    assert(!graft.streaming.Ingest.appendBatchIdempotent(b0, idx, 0L))
    assert(spark.read.parquet(s"$idx/assignments").count() === n1)
    // the next batch id applies normally and advances the marker
    val b1 = Seq((1001L, Seq.fill(dim)(0.25f))).toDF("id", "values")
    assert(graft.streaming.Ingest.appendBatchIdempotent(b1, idx, 1L))
    assert(spark.read.parquet(s"$idx/assignments").count() === n1 + 1)
    assert(!graft.streaming.Ingest.appendBatchIdempotent(b1, idx, 1L))
  }

  test("streaming dedup drops in-watermark duplicates, keeps distinct keys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val deduped = graft.streaming.Ingest.dedupStream(
      stream.toDF().toDF("ts", "user_id", "event_type"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      stream.addData(
        (ts("2024-01-01 10:00:01"), 1L, "click"),
        (ts("2024-01-01 10:00:40"), 1L, "click"), // same minute: dup
        (ts("2024-01-01 10:01:05"), 1L, "click"), // next minute: kept
        (ts("2024-01-01 10:00:10"), 2L, "view"))
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM dedup").head().getLong(0)
      assert(n === 3, spark.sql("SELECT * FROM dedup").collect().mkString(","))
    } finally q.stop()
  }

  test("streaming retention emits one increment per newly seen " +
      "(key, bucket) across micro-batches; rollup matches the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val inc = graft.streaming.Ingest.retentionStream(
      stream.toDF().toDF("user_id", "ts"), bucketSec = 86400L)
    val q = inc.writeStream.outputMode("append")
      .format("memory").queryName("ret").start()
    val rows = Seq(
      // batch 1: u1 and u2 arrive on day 0; u1 twice in the bucket
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 11:00:00")),
      (2L, ts("2024-01-01 09:00:00")),
      // batch 2: u1 returns day 1; u1's day-0 repeat emits NOTHING
      // (state already has the bucket); u3 starts a day-1 cohort
      (1L, ts("2024-01-02 08:00:00")), (1L, ts("2024-01-01 23:00:00")),
      (3L, ts("2024-01-02 12:00:00")))
    try {
      stream.addData(rows.take(3))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM ret").head().getLong(0) === 2)
      stream.addData(rows.drop(3))
      q.processAllAvailable()
      val day0 = ts("2024-01-01 00:00:00").getTime / 1000
      val day1 = day0 + 86400L
      val got = spark.sql(
        """SELECT cohort, bucket_offset, count(*) AS n FROM ret
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq === Seq(
        (day0, 0L, 2L),   // u1, u2 day-0 cohort
        (day0, 1L, 1L),   // u1 back on day 1
        (day1, 0L, 1L)))  // u3 day-1 cohort
      // the same operator in batch mode equals the batch twin exactly
      val ev = rows.toDF("user_id", "ts")
      val streamed = graft.streaming.Ingest
        .retentionStream(ev, batchMode = true)
        .groupBy($"cohort", $"bucket_offset").count()
        .orderBy($"cohort", $"bucket_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val batch = graft.operators.TimeSeries
        .retention(ev, $"user_id", $"ts", bucketSec = 86400L)
        .orderBy($"cohort", $"bucket_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(streamed.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("streaming funnel advances a per-key pointer across micro-" +
      "batches, out-of-order prior steps can't retro-complete, ties " +
      "complete multiple steps; batch mode equals the batch funnel") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val steps = Seq("signup", "view", "buy")
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val fun = graft.streaming.Ingest.funnelStream(
      stream.toDF().toDF("user_id", "ts", "event_type"), steps)
    val q = fun.writeStream.outputMode("append")
      .format("memory").queryName("fun").start()
    try {
      // batch 1: u1 signs up and views (2 completions); u2's view
      // precedes any signup (0 completions — pointer at signup)
      stream.addData(
        (1L, ts("2024-01-01 10:00:00"), "signup"),
        (1L, ts("2024-01-01 10:05:00"), "view"),
        (2L, ts("2024-01-01 10:00:00"), "view"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM fun").head().getLong(0) === 2)
      // batch 2: u1 buys (1 more); u2 signs up AFTER its view — the
      // view landed in an earlier batch, so it cannot retro-complete
      // (documented divergence); u3 signs up and views SIMULTANEOUSLY
      // (tie completes both steps)
      stream.addData(
        (1L, ts("2024-01-01 10:30:00"), "buy"),
        (2L, ts("2024-01-01 10:10:00"), "signup"),
        (3L, ts("2024-01-01 10:20:00"), "signup"),
        (3L, ts("2024-01-01 10:20:00"), "view"))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT step, event_type, count(*) AS n FROM fun
          |GROUP BY 1, 2 ORDER BY 1""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.toSeq === Seq(
        (0L, "signup", 3L),  // u1, u2, u3
        (1L, "view", 2L),    // u1, u3 (u2's view was pre-signup)
        (2L, "buy", 1L)))    // u1
    } finally q.stop()
    // batch mode over the REAL events table: the greedy pointer scan
    // equals TimeSeries.funnel exactly, windowed and unwindowed
    val ev = SparkEntry.events(spark, GraftTest.sf0001)
    val real = Seq("signup", "view", "click", "purchase")
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"step", $"event_type").count()
        .orderBy($"step").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val streamed = rollup(graft.streaming.Ingest.funnelStream(
      ev, real, batchMode = true))
    val batch = graft.operators.TimeSeries.funnel(
        ev, $"user_id", $"ts", $"event_type", real)
      .filter($"n_keys" > 0).orderBy($"step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed === batch)
    val streamedW = rollup(graft.streaming.Ingest.funnelStream(
      ev, real, maxStepGapSec = Some(86400L), batchMode = true))
    val batchW = graft.operators.TimeSeries.funnelWindowed(
        ev, $"user_id", $"ts", $"event_type", real,
        maxStepGapSec = 86400L)
      .filter($"n_keys" > 0).orderBy($"step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamedW === batchW)
  }

  test("streaming sessionization: sessions close on gap or event-time " +
      "timeout, O(1) state per key; batch mode equals the batch window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val ses = graft.streaming.Ingest.sessionizeStream(
      stream.toDF().toDF("user_id", "ts"), gapSec = 1800L,
      watermark = "1 hour")
    val q = ses.writeStream.outputMode("append")
      .format("memory").queryName("ses").start()
    try {
      // batch 1: u1 two events 10 min apart, u2 one — all sessions
      // still open, nothing may emit yet
      stream.addData((1L, ts("2024-01-01 10:00:00")),
        (1L, ts("2024-01-01 10:10:00")), (2L, ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM ses").head().getLong(0) === 0)
      // batch 2: u1 returns 2 h later — the gap closes session 1
      // (2 events) and opens session 2. The watermark then advances
      // to 12:10 − 1 h = 11:10, past u2's timeout (09:00 + 30 min),
      // so u2's open session flushes via event-time timeout in the
      // no-data batch processAllAvailable drains
      stream.addData((1L, ts("2024-01-01 12:10:00")))
      q.processAllAvailable()
      val afterGap = spark.sql(
        """SELECT user_id, session_id, n_events, start_us FROM ses
          |ORDER BY user_id""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(afterGap.toSeq === Seq(
        (1L, 1L, 2L, us("2024-01-01 10:00:00")),
        (2L, 1L, 1L, us("2024-01-01 09:00:00"))))
      // batch 3: a fresh key; u1's open session 2 (timeout 12:40 >
      // watermark 13:00 − 1 h) and u3's fresh session stay open —
      // nothing new emits
      stream.addData((3L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT user_id, session_id, n_events, start_us FROM ses
          |ORDER BY user_id""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.toSeq === Seq(
        (1L, 1L, 2L, us("2024-01-01 10:00:00")),
        (2L, 1L, 1L, us("2024-01-01 09:00:00"))))
      // u2 returns AFTER its timeout-closed session 1: the tombstone
      // keeps the ordinal, so the new session is session_id 2 — NOT a
      // duplicate session_id 1 (which a downstream groupBy(key,
      // session_id) would silently merge). Close it via an in-batch
      // gap so the assertion doesn't depend on further watermarks.
      stream.addData((2L, ts("2024-01-01 13:30:00")),
        (2L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      val u2 = spark.sql(
        """SELECT session_id, n_events, start_us FROM ses
          |WHERE user_id = 2 ORDER BY session_id""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(u2.toSeq === Seq(
        (1L, 1L, us("2024-01-01 09:00:00")),
        (2L, 1L, us("2024-01-01 13:30:00"))))
    } finally q.stop()
    // string keys group NATIVELY (no lossy cast — see the dedicated
    // string-key spec); a genuinely lossy key type (fractional
    // double) must still fail loudly at plan time
    intercept[IllegalArgumentException] {
      graft.streaming.Ingest.sessionizeStream(
        Seq((1.5d, ts("2024-01-01 10:00:00"))).toDF("user_id", "ts"),
        batchMode = true)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.Ingest.retentionStream(
        Seq((1.5d, ts("2024-01-01 10:00:00"))).toDF("user_id", "ts"),
        batchMode = true)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.Ingest.funnelStream(
        Seq((1.5d, ts("2024-01-01 10:00:00"), "signup"))
          .toDF("user_id", "ts", "event_type"), Seq("signup"),
        batchMode = true)
    }
    // batch mode over the REAL events table equals the batch
    // w_sessionize window derivation exactly
    val ev = SparkEntry.events(spark, GraftTest.sf0001)
    val streamed = graft.streaming.Ingest
      .sessionizeStream(ev, batchMode = true)
      .orderBy($"user_id", $"session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us")
    val e = ev.select($"user_id",
      graft.operators.TimeNorm.epochMicros($"ts").as("us"))
    val batch = e.withColumn("new_s",
        when(lag($"us", 1).over(w).isNull ||
          $"us" - lag($"us", 1).over(w) > 1800000000L, 1).otherwise(0))
      .withColumn("session_id", sum($"new_s").over(w).cast("long"))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"), min($"us").as("start_us"))
      .orderBy($"user_id", $"session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(streamed === batch)
  }

  test("string-keyed stateful streaming: sessionize groups UUID-ish " +
      "keys natively across micro-batches; retention and funnel " +
      "match their long-keyed runs on the same data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val ses = graft.streaming.Ingest.sessionizeStream(
      stream.toDF().toDF("user_id", "ts"), gapSec = 1800L,
      watermark = "1 hour")
    assert(ses.schema("user_id").dataType ===
      org.apache.spark.sql.types.StringType) // key type carried through
    val q = ses.writeStream.outputMode("append")
      .format("memory").queryName("ses_str").start()
    try {
      // batch 1: two keys, sessions open — nothing emits
      stream.addData(("u-aa", ts("2024-01-01 10:00:00")),
        ("u-aa", ts("2024-01-01 10:10:00")),
        ("u-bb", ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM ses_str").head()
        .getLong(0) === 0)
      // batch 2: u-aa returns past the gap → session 1 closes; the
      // watermark (12:10 − 1 h) passes u-bb's timeout → its session
      // flushes too. Distinct string keys stay distinct groups (the
      // old lossy cast would have collapsed them into one NULL key).
      stream.addData(("u-aa", ts("2024-01-01 12:10:00")))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT user_id, session_id, n_events, start_us FROM ses_str
          |ORDER BY user_id""".stripMargin).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(got.toSeq === Seq(
        ("u-aa", 1L, 2L, us("2024-01-01 10:00:00")),
        ("u-bb", 1L, 1L, us("2024-01-01 09:00:00"))))
    } finally q.stop()
    // batch-mode parity on the REAL events table: prefixing the key
    // ("u-<id>") is a bijection, so the string-keyed run must equal
    // the long-keyed run key-for-key (sessionize) and row-for-row
    // (retention/funnel — their outputs are key-free)
    val ev = SparkEntry.events(spark, GraftTest.sf0001)
    val evStr = ev.withColumn("user_id",
      concat(lit("u-"), $"user_id".cast("string")))
    val sesStr = graft.streaming.Ingest
      .sessionizeStream(evStr, batchMode = true)
      .select(regexp_replace($"user_id", "^u-", "").cast("long")
        .as("user_id"), $"session_id", $"n_events", $"start_us")
      .orderBy($"user_id", $"session_id").collect().toSeq
    val sesLong = graft.streaming.Ingest
      .sessionizeStream(ev, batchMode = true)
      .orderBy($"user_id", $"session_id").collect().toSeq
    assert(sesStr === sesLong)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(sortedRows(graft.streaming.Ingest
        .retentionStream(evStr, batchMode = true)) ===
      sortedRows(graft.streaming.Ingest
        .retentionStream(ev, batchMode = true)))
    val steps = Seq("signup", "view", "click", "purchase")
    assert(sortedRows(graft.streaming.Ingest
        .funnelStream(evStr, steps, batchMode = true)) ===
      sortedRows(graft.streaming.Ingest
        .funnelStream(ev, steps, batchMode = true)))
  }

  test("stream-stream interval join matches purchases within the horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.streaming.Ingest.intervalJoinStream(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("user_id", "pts", "value"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ivj").start()
    try {
      clicks.addData((1L, 7L, ts("2024-01-01 10:00:00")),
        (2L, 7L, ts("2024-01-01 12:00:00")),
        (3L, 8L, ts("2024-01-01 10:05:00")))
      purchases.addData((7L, ts("2024-01-01 10:10:00"), 5.0), // in horizon of 1
        (7L, ts("2024-01-01 11:00:00"), 9.0), // outside both click horizons
        (9L, ts("2024-01-01 10:10:00"), 4.0)) // no matching user
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, value FROM ivj").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got === Set((1L, 5.0)))
    } finally q.stop()
  }

  test("stream-static enrichment join broadcasts the dimension side") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("user_id", "tier")
    val stream = MemoryStream[(Long, Long)]
    val enriched = stream.toDF().toDF("event_id", "user_id")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"),
        "left")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich").start()
    try {
      stream.addData((1L, 7L), (2L, 9L))
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, tier FROM enrich").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
      assert(got === Map(1L -> Some("gold"), 2L -> None))
    } finally q.stop()
  }

  test("streaming ingest maintains the IVF index via foreachBatch append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextFloat() * 2 - 1))
    def near(c: Array[Float]) = c.map(x => x + rnd.nextFloat() * 0.05f)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_stream").toString
    operators.IvfIndex.build(
      (0 until 100).map(i => (i.toLong, near(centers(i % 4))))
        .toDF("id", "values"), dir, nCentroids = 4,
      operators.Metric.Cosine)
    val stream = MemoryStream[(Long, Array[Float])]
    val q = stream.toDF().toDF("id", "values").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        operators.IvfIndex.append(batch, dir)
      }
      .start()
    try {
      val v502 = near(centers(3))
      stream.addData((500L, near(centers(1))), (501L, near(centers(2))))
      q.processAllAvailable()
      stream.addData((502L, v502))
      q.processAllAvailable()
      // query the exact streamed vector: it must be its own nearest hit
      val got = operators.IvfIndex
        .search(spark, dir, v502, 1, nProbe = 4)
        .select("id").as[Long].collect().toSeq
      assert(got === Seq(502L), s"streamed vector not indexed: $got")
      assert(spark.read.parquet(s"$dir/assignments").count() === 103L)
    } finally q.stop()
  }

  test("streaming query search answers micro-batches against the " +
      "standing index; replays overwrite, never duplicate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextFloat() * 2 - 1))
    def near(c: Array[Float]) = c.map(x => x + rnd.nextFloat() * 0.05f)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_qserve").toString
    val vecs = (0 until 120).map(i => (i.toLong, near(centers(i % 4))))
    operators.IvfIndex.build(vecs.toDF("id", "values"), dir,
      nCentroids = 4, operators.Metric.Cosine)
    val outDir = java.nio.file.Files
      .createTempDirectory("ivf_qserve_out").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("ivf_qserve_ckpt").toString
    val stream = MemoryStream[(Long, Array[Float])]
    // continuous trigger: AvailableNow would stop after draining the
    // first micro-batch, and this scenario feeds two
    val q = graft.streaming.Ingest.searchStream(
      stream.toDF().toDF("qid", "qvalues"), dir, outDir, ckpt,
      k = 3, nProbe = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      // two micro-batches of queries: exact stored vectors, so the
      // top hit of each query must be itself
      stream.addData((0L, vecs(0)._2), (1L, vecs(1)._2))
      q.processAllAvailable()
      stream.addData((2L, vecs(2)._2))
      q.processAllAvailable()
      val res = spark.read.parquet(s"$outDir/batch=*")
      assert(res.count() === 9L) // 3 queries x k=3
      val top = res.filter(col("rank") === 1)
        .select("qid", "id").as[(Long, Long)].collect().toMap
      assert(top === Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
      // batch-addressed sinks: one directory per non-empty batch
      assert(res.select("batch_id").distinct().count() === 2L)
      // parity with the direct batch API
      val direct = operators.IvfIndex.searchBatch(spark, dir,
        Seq((2L, vecs(2)._2)).toDF("qid", "qvalues"), 3, nProbe = 4)
        .select("qid", "id", "rank").as[(Long, Long, Int)]
        .collect().toSet
      val streamed = res.filter(col("qid") === 2L)
        .select("qid", "id", "rank").as[(Long, Long, Int)]
        .collect().toSet
      assert(streamed === direct)
      // at-least-once replay: re-running a committed batch body
      // overwrites its own directory — row count unchanged
      graft.streaming.Ingest.searchBatchTo(
        Seq((2L, vecs(2)._2)).toDF("qid", "qvalues"), dir, outDir,
        batchId = 1L, k = 3, nProbe = 4)
      assert(spark.read.parquet(s"$outDir/batch=*").count() === 9L)
    } finally q.stop()
  }

  test("streaming micro-batches dedup against a standing corpus via the " +
      "embedding LSH join (incremental semantic dedup)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    // band + cap the standing corpus ONCE; each micro-batch then pays
    // only probe-side work
    val banded = Dedup.bandCorpus(corpus, bands = 2, bitsPerBand = 4)
      .cache()
    val hits = scala.collection.mutable.Set.empty[(Long, Long)]
    val stream = MemoryStream[(Long, Array[Float])]
    val q = stream.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        hits ++= Dedup.embeddingNearDupJoin(batch, corpus, tau = 0.1,
            bands = 2, bitsPerBand = 4, bandedCorpus = Some(banded))
          .select($"probe_id", $"corpus_id").as[(Long, Long)]
          .collect()
        ()
      }
      .start()
    try {
      stream.addData((101L, Array(1f, 0f, 0f, 0f)),
        (102L, Array(0f, 0f, 0f, 1f)))
      q.processAllAvailable()
      stream.addData((103L, Array(0f, 1f, 0f, 0f)))
      q.processAllAvailable()
      // each micro-batch probes ONLY itself against the corpus — the
      // dup of corpus 1 and (next batch) of corpus 2 are both caught,
      // the novel vector 102 is not flagged
      assert(hits.toSet == Set((101L, 1L), (103L, 2L)))
    } finally q.stop()
  }

  test("self-building streaming dedup ingest: corpus grows with novel " +
      "vectors only, bands computed once per vector") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("dedup_ingest").toString
    val ck = java.nio.file.Files
      .createTempDirectory("dedup_ingest_ck").toString
    val stream = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.Ingest.dedupIngestStream(
      stream.toDF().toDF("vec_id", "embedding"), dir, ck,
      tau = 0.1, bands = 2, bitsPerBand = 4,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      // batch 1: a, dup-of-a, b -> within-batch dedup keeps {a(1), b(3)}
      stream.addData((1L, Array(1f, 0f, 0f, 0f)),
        (2L, Array(1f, 0f, 0f, 0f)), (3L, Array(0f, 1f, 0f, 0f)))
      q.processAllAvailable()
      // batch 2: dup-of-a (vs CORPUS), novel c -> only c lands
      stream.addData((4L, Array(1f, 0f, 0f, 0f)),
        (5L, Array(0f, 0f, 1f, 0f)))
      q.processAllAvailable()
      // batch 3: empty-effective (all dups) -> appends nothing
      stream.addData((6L, Array(0f, 0f, 1f, 0f)))
      q.processAllAvailable()
      val corpus = spark.read.parquet(s"$dir/vectors")
        .select($"vec_id").as[Long].collect().sorted
      assert(corpus.toSeq == Seq(1L, 3L, 5L))
      // one band row per (vector, band): bands were computed once each
      assert(spark.read.parquet(s"$dir/bands").count() == 3L * 2)
    } finally q.stop()
  }

  test("self-building streaming TEXT dedup ingest: corpus grows with " +
      "novel docs only through the standing LSH index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("text_ingest").toString
    val ck = java.nio.file.Files
      .createTempDirectory("text_ingest_ck").toString
    val tA = "alpha beta gamma delta epsilon"
    val tB = "one two three four five"
    val tC = "six seven eight nine ten"
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.textDedupIngestStream(
      stream.toDF().toDF("doc_id", "text"), dir, ck,
      threshold = 0.9, bands = 4, rowsPerBand = 2,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      // batch 1: a, dup-of-a, b -> within-batch dedup keeps {1, 3}
      stream.addData((1L, tA), (2L, tA), (3L, tB))
      q.processAllAvailable()
      // batch 2: dup-of-a (vs CORPUS via the index), novel c
      stream.addData((4L, tA), (5L, tC))
      q.processAllAvailable()
      // batch 3: all-dup -> appends nothing
      stream.addData((6L, tC))
      q.processAllAvailable()
      val corpus = spark.read.parquet(s"$dir/docs")
        .select($"doc_id").as[Long].collect().sorted
      assert(corpus.toSeq == Seq(1L, 3L, 5L))
      // one band row per (doc, band): signatures computed once each
      assert(spark.read.parquet(s"$dir/lsh/bands").count() == 3L * 4)
      // the artifact is the standard LshTextIndex layout: a batch job
      // can probe it directly
      val probed = LshTextIndex.probe(spark, s"$dir/lsh",
          Seq((99L, tB)).toDF("doc_id", "text"),
          spark.read.parquet(s"$dir/docs"), threshold = 0.9)
        .select($"probe_id", $"corpus_id").as[(Long, Long)].collect()
      assert(probed.toSeq == Seq((99L, 3L)))
    } finally q.stop()
    // SAFE POINT (stream stopped): compact folds the per-batch band
    // file sets; probe results must not move, and the index stays a
    // valid append target for the loop's next restart
    LshTextIndex.compact(spark, s"$dir/lsh")
    assert(spark.read.parquet(s"$dir/lsh/bands").count() == 3L * 4)
    val probedAfter = LshTextIndex.probe(spark, s"$dir/lsh",
        Seq((99L, tB)).toDF("doc_id", "text"),
        spark.read.parquet(s"$dir/docs"), threshold = 0.9)
      .select($"probe_id", $"corpus_id").as[(Long, Long)].collect()
    assert(probedAfter.toSeq == Seq((99L, 3L)))
    LshTextIndex.append(
      Seq((7L, "eleven twelve thirteen fourteen fifteen"))
        .toDF("doc_id", "text"), s"$dir/lsh")
    assert(spark.read.parquet(s"$dir/lsh/bands").count() == 4L * 4)
  }

  test("streaming quality gate: gopher + c4 survivors land batch-" +
      "addressed with cleaned text; replays are idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("quality_ingest").toString
    val ck = java.nio.file.Files
      .createTempDirectory("quality_ingest_ck").toString
    // a page that passes both cascades: > 50 words, stopwords, two
    // clean keeper lines around droppable ones
    val good = ("The quick brown fox jumps over the lazy dog of ours " +
      "and it keeps going with a steady pace to the very end of it.\n" +
      "short one.\n" +
      "Please enable javascript to see this content now or else.\n" +
      "A second fine sentence with plenty of ordinary words arrives " +
      "here and closes the paragraph cleanly enough for anyone.")
    val salad = "no stopwords here just salad words " * 9 // stop_hits 0
    val pageDropped = good + "\nlorem ipsum {"
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.qualityIngestStream(
      stream.toDF().toDF("doc_id", "text"), dir, ck,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      stream.addData((1L, good), (2L, salad), (3L, pageDropped))
      q.processAllAvailable()
      stream.addData((4L, good))
      q.processAllAvailable()
      val out = spark.read.parquet(dir)
      assert(out.select($"doc_id").as[Long].collect().sorted.toSeq ===
        Seq(1L, 4L))
      val r = out.filter($"doc_id" === 1L).head()
      // cleaned text: the two keeper lines only, in order
      val clean = r.getAs[String]("text")
      assert(clean.linesIterator.size === 2)
      assert(clean.startsWith("The quick brown fox") &&
        clean.endsWith("for anyone."))
      assert(r.getAs[Long]("n_kept") === 2L)
      assert(r.getAs[Long]("stop_hits") >= 2L)
    } finally q.stop()
    // replaying a batch body with the same id overwrites its own
    // directory — no duplicates, same survivors. Discover the real
    // id from the partition column (empty trigger ticks consume ids).
    val realBatch = spark.read.parquet(dir)
      .filter($"doc_id" === 1L).select($"batch".cast("long"))
      .as[Long].head()
    val before = spark.read.parquet(dir)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    graft.streaming.Ingest.qualityGateBatch(
      Seq((1L, good), (2L, salad), (3L, pageDropped))
        .toDF("doc_id", "text"),
      batchId = realBatch, outDir = dir, minWords = 5, minKeptLines = 1)
    val after = spark.read.parquet(dir)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(after === before)
  }

  test("langid route stream: docs land partitioned by predicted " +
      "language, keepLangs drops und, replays are idempotent, " +
      "duplicate ids in a batch are loud") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("langid_route").toString
    val ck = java.nio.file.Files
      .createTempDirectory("langid_route_ck").toString
    val model = TextAnalysis.trainLangId(
      TextAnalysis.LangIdSeedCorpus.toDF("lang", "text"))
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.langIdRouteStream(
      stream.toDF().toDF("doc_id", "text"), model, dir, ck,
      keepLangs = Seq("en", "de", "fr"),
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      stream.addData((1L, "bonjour"), (2L, "nachdenken"),
        (3L, "children playing"), (4L, "qqqq zzzz xxxx"))
      q.processAllAvailable()
      val out = spark.read.parquet(dir)
      // doc 4 is all-OOV -> "und" -> dropped by keepLangs
      val langs = out.select($"doc_id", $"lang_pred")
        .as[(Long, String)].collect().toMap
      assert(langs === Map(1L -> "fr", 2L -> "de", 3L -> "en"))
      // the document text rides along (routing, not just annotation)
      assert(out.filter($"doc_id" === 1L).select($"text")
        .as[String].head() === "bonjour")
      // languages are real DIRECTORY partitions — downstream
      // per-language readers prune to their partition
      val realBatch = out.filter($"doc_id" === 1L)
        .select($"batch".cast("long")).as[Long].head()
      assert(new java.io.File(
        s"$dir/batch=$realBatch/lang_pred=fr").isDirectory)
      assert(!new java.io.File(
        s"$dir/batch=$realBatch/lang_pred=und").exists())
    } finally q.stop()
    // replaying a batch id overwrites its whole batch dir — same
    // survivors, no duplicates, even when the replay routes fewer docs
    val realBatch = spark.read.parquet(dir)
      .filter($"doc_id" === 1L).select($"batch".cast("long"))
      .as[Long].head()
    graft.streaming.Ingest.langIdRouteBatch(
      Seq((1L, "bonjour"), (2L, "nachdenken"), (3L, "children playing"),
        (4L, "qqqq zzzz xxxx")).toDF("doc_id", "text"),
      batchId = realBatch, model = model, outDir = dir,
      keepLangs = Seq("en", "de", "fr"))
    assert(spark.read.parquet(dir).select($"doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // a duplicate doc_id within one batch would cross-multiply rows
    // through the text join — loud, not silent
    val e = intercept[IllegalArgumentException](
      graft.streaming.Ingest.langIdRouteBatch(
        Seq((7L, "bonjour"), (7L, "bonjour")).toDF("doc_id", "text"),
        batchId = 99L, model = model, outDir = dir, keepLangs = Nil))
    assert(e.getMessage.contains("[GRAFT]") &&
      e.getMessage.contains("unique"))
  }

  test("streaming substring-dedup ingest: batch-addressed corpus " +
      "grows with low-duplication docs; replays are idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("substr_ingest").toString
    val ck = java.nio.file.Files
      .createTempDirectory("substr_ingest_ck").toString
    val tA = "alpha beta gamma delta epsilon"
    val tB = "one two three four five"
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.substringDedupIngestStream(
      stream.toDF().toDF("doc_id", "text"), dir, ck,
      k = 3, maxDupFrac = 0.5,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      // batch 1: a, verbatim-copy-of-a, b — within-batch keep-first:
      // the canonical copy (lowest (id, idx)) survives, the copy is
      // 100% duplicated tokens -> dropped
      stream.addData((1L, tA), (2L, tA), (3L, tB))
      q.processAllAvailable()
      // batch 2: copy of a (vs STANDING grams), half-dup doc (3 of 10
      // tokens covered -> frac 0.3 <= 0.5 keeps), novel doc
      stream.addData((4L, tA),
        (5L, "alpha beta gamma fresh1 fresh2 fresh3 fresh4 fresh5 fresh6 fresh7"))
      q.processAllAvailable()
      val corpus = spark.read.parquet(s"$dir/docs")
        .select($"doc_id").as[Long].collect().sorted
      assert(corpus.toSeq === Seq(1L, 3L, 5L))
    } finally q.stop()
    // replaying a batch body with the SAME batch id is bit-idempotent:
    // its own residue grams are pruned from the standing read, so the
    // same survivors land (not zero of them). Discover the real id
    // from the partition column (empty trigger ticks consume ids).
    val realBatch = spark.read.parquet(s"$dir/docs")
      .filter($"doc_id" === 5L).select($"batch".cast("long"))
      .as[Long].head()
    val before = spark.read.parquet(s"$dir/docs")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    graft.streaming.Ingest.substringDedupBatch(
      Seq((4L, tA),
        (5L, "alpha beta gamma fresh1 fresh2 fresh3 fresh4 fresh5 fresh6 fresh7"))
        .toDF("doc_id", "text"),
      batchId = realBatch, corpusDir = dir, k = 3, maxDupFrac = 0.5)
    val after = spark.read.parquet(s"$dir/docs")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(after === before)
    // guards are loud
    intercept[IllegalArgumentException] {
      graft.streaming.Ingest.substringDedupIngestStream(
        stream.toDF().toDF("doc_id", "text"), dir, ck, k = 0)
    }
    // frozen-k: the corpus dir was stamped k=3 on first use —
    // restarting with k=4 would silently match nothing stored and
    // mix window widths forever, so it must fail loudly instead
    val kErr = intercept[IllegalArgumentException] {
      graft.streaming.Ingest.substringDedupBatch(
        Seq((9L, tB)).toDF("doc_id", "text"),
        batchId = 99L, corpusDir = dir, k = 4, maxDupFrac = 0.5)
    }
    assert(kErr.getMessage.contains("frozen at k=3"))
  }

  test("gram index fresh publish retires a pre-stamped legacy " +
      "gram.json (ensureMeta stamped, first batch never landed)") {
    import graft.operators.GramIndex
    val dir = java.nio.file.Files.createTempDirectory("gramstamp").toString
    // ensureMeta stamps path-level metadata with NO grams/ yet — the
    // streaming loop's crash-before-first-batch shape
    GramIndex.ensureMeta(dir, k = 3)
    assert(new java.io.File(s"$dir/gram.json").exists())
    assert(!new java.io.File(s"$dir/grams").exists())
    // a fresh build (different k) takes the publishFresh branch; the
    // stale stamped file must not survive to shadow grams/_gram.json
    GramIndex.build(Seq((1L, "a b c d e f")).toDF("doc_id", "text"),
      dir, k = 5)
    assert(new java.io.File(s"$dir/grams/_gram.json").exists())
    assert(!new java.io.File(s"$dir/gram.json").exists())
    // generation continued from the stamped metadata, never reset
    assert(GramIndex.readMeta(dir).k === 5)
    assert(GramIndex.readMeta(dir).generation === 2)
  }

  test("gram index k-change rebuild: every crash state is the complete " +
      "old artifact, the complete new one, or a loud failure — never " +
      "old-k metadata over new-k hashes") {
    import graft.operators.GramIndex
    val dir = java.nio.file.Files.createTempDirectory("gramcrash").toString
    val corpus = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    GramIndex.build(corpus, dir, k = 3)
    val delta = Seq((9L, "a b c d zz")).toDF("doc_id", "text")
    val oldProbe = GramIndex.probeSpans(spark, dir, delta)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(oldProbe === Seq((9L, 0L, 4L, 4L)))
    assert(GramIndex.readMeta(dir) === GramIndex.Meta(3, 1))
    // metadata lives INSIDE grams/ (underscore-prefixed, so the scan
    // skips it): the swap rename moves data + metadata TOGETHER
    assert(new java.io.File(s"$dir/grams/_gram.json").exists())
    assert(!new java.io.File(s"$dir/gram.json").exists())

    // CRASH STATE A — k=4 rebuild died after writing its stage
    // (parquet + staged metadata), live untouched: readers still see
    // the complete OLD artifact
    GramIndex.distinctGrams(corpus, 4).write.mode("overwrite")
      .parquet(s"$dir/grams_stage")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/grams_stage/_gram.json"),
      """{"k":4,"generation":2}""".getBytes("UTF-8"))
    assert(GramIndex.readMeta(dir) === GramIndex.Meta(3, 1))
    assert(GramIndex.probeSpans(spark, dir, delta)
      .as[(Long, Long, Long, Long)].collect().toSeq === oldProbe)

    // CRASH STATE B — died between the two swap renames (live parked
    // at grams_old, stage not yet moved): NO live artifact — loud
    // failure, never a mixed state
    val live = java.nio.file.Paths.get(s"$dir/grams")
    val parked = java.nio.file.Paths.get(s"$dir/grams_old")
    java.nio.file.Files.move(live, parked)
    intercept[IllegalArgumentException] { GramIndex.readMeta(dir) }
    // ensureMeta must ALSO refuse in the parked state: metaExists
    // answering "false" there would let the streaming loop silently
    // RE-STAMP a fresh k at generation 1 — the exact silent
    // window-width mixing the frozen-k contract forbids
    val parkedErr = intercept[IllegalArgumentException] {
      GramIndex.ensureMeta(dir, 4)
    }
    assert(parkedErr.getMessage.contains("CRASHED"))
    // documented recovery: rename grams_old back — old artifact whole
    java.nio.file.Files.move(parked, live)
    assert(GramIndex.readMeta(dir) === GramIndex.Meta(3, 1))

    // CRASH STATE C — died right after the stage moved in: new-k
    // hashes arrive WITH new-k metadata in the same rename (the
    // leftover grams_old is cleanup debt, not a correctness state)
    java.nio.file.Files.move(live, parked)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/grams_stage"), live)
    assert(GramIndex.readMeta(dir) === GramIndex.Meta(4, 2))
    val k4Probe = GramIndex.probeSpans(spark, dir, delta)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(k4Probe === Seq((9L, 0L, 4L, 4L))) // 4-grams: "a b c d"

    // and the REAL end-to-end k-change rebuild lands the same state
    // (generation keeps climbing), with legacy-layout migration: an
    // old artifact carrying path-level gram.json reads fine and is
    // migrated into grams/ by the next rebuild
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/grams/_gram.json"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/gram.json"),
      """{"k":4,"generation":2}""".getBytes("UTF-8"))
    assert(GramIndex.readMeta(dir) === GramIndex.Meta(4, 2)) // fallback
    GramIndex.build(corpus, dir, k = 5)
    assert(GramIndex.readMeta(dir) === GramIndex.Meta(5, 3))
    assert(new java.io.File(s"$dir/grams/_gram.json").exists())
    assert(!new java.io.File(s"$dir/gram.json").exists()) // migrated

    // WRITER auto-heal: park the live dir (crash state B) and rerun
    // build — it heals and the generation CONTINUES, never resets
    java.nio.file.Files.move(live, parked)
    GramIndex.build(corpus, dir, k = 5)
    assert(GramIndex.readMeta(dir) === GramIndex.Meta(5, 4))
    assert(!java.nio.file.Files.exists(parked))
  }

  test("streaming gram sink compaction: compactBatched folds the " +
      "per-batch dirs at a safe point — stored set unchanged, replay " +
      "of the last batch stays idempotent, new batches append cleanly") {
    import graft.operators.{Dedup, GramIndex}
    import graft.streaming.Ingest
    val dir = java.nio.file.Files
      .createTempDirectory("substr_compact").toString
    val tA = "alpha beta gamma delta epsilon"
    val t5 = "alpha beta gamma f1 f2 f3 f4 f5 f6 f7"
    Ingest.substringDedupBatch(
      Seq((1L, tA), (2L, "one two three four five"))
        .toDF("doc_id", "text"), 0L, dir, k = 3, maxDupFrac = 0.5)
    Ingest.substringDedupBatch(
      Seq((3L, tA), (4L, "six seven eight nine ten"))
        .toDF("doc_id", "text"), 1L, dir, k = 3, maxDupFrac = 0.5)
    Ingest.substringDedupBatch(
      Seq((5L, t5)).toDF("doc_id", "text"), 2L, dir, k = 3,
      maxDupFrac = 0.5)
    def docIds() = spark.read.parquet(s"$dir/docs")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    def storedGrams() = spark.read.parquet(s"$dir/grams")
      .select($"g").distinct().as[Long].collect().sorted.toSeq
    assert(docIds() === Seq(1L, 2L, 4L, 5L)) // 3 dropped as corpus dup
    val gramsBefore = storedGrams()
    def batchDirs() = new java.io.File(s"$dir/grams").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).sorted.toSeq
    assert(batchDirs() === Seq("batch=0", "batch=1", "batch=2"))

    // SAFE POINT (stream stopped, last batch committed) → compact
    GramIndex.compactBatched(spark, dir)
    // one row per distinct gram, same stored set, layout preserved
    val folded = spark.read.parquet(s"$dir/grams")
    assert(folded.count() === gramsBefore.size.toLong)
    assert(storedGrams() === gramsBefore)
    // each gram keeps its EARLIEST batch: the "alpha beta gamma"
    // trigram (batches 0 and 2) must live in batch=0
    val abg = Dedup.gramOccurrences(
      Seq((0L, "alpha beta gamma")).toDF("doc_id", "text"), 3,
      "text", "doc_id").select($"__g").as[Long].head()
    assert(folded.filter($"g" === abg)
      .select($"batch".cast("long")).as[Long].head() === 0L)
    // metadata migrated into the swapped dir; frozen-k still enforced
    assert(GramIndex.readMeta(dir) === GramIndex.Meta(3, 1))
    intercept[IllegalArgumentException] {
      Ingest.substringDedupBatch(Seq((9L, "x y z w")).toDF("doc_id",
        "text"), 99L, dir, k = 4, maxDupFrac = 0.5)
    }

    // REPLAY of the last batch after compaction: its own grams (now
    // folded under batch=2 — they first appeared there) are still
    // pruned from the standing read, so the same survivors land
    Ingest.substringDedupBatch(
      Seq((5L, t5)).toDF("doc_id", "text"), 2L, dir, k = 3,
      maxDupFrac = 0.5)
    assert(docIds() === Seq(1L, 2L, 4L, 5L))

    // new post-compaction batch: corpus duplicates still detected
    // (the folded set is the same stored set), novel docs land
    Ingest.substringDedupBatch(
      Seq((6L, tA), (7L, "novel w1 w2 w3 w4"))
        .toDF("doc_id", "text"), 3L, dir, k = 3, maxDupFrac = 0.5)
    assert(docIds() === Seq(1L, 2L, 4L, 5L, 7L))

    // CRASHED compactBatched (between the two swap renames): the
    // loop's next batch must fail LOUDLY — treating the parked corpus
    // as empty would admit every contaminated doc AND re-stamp k
    val gramsSet = storedGrams()
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/grams"),
      java.nio.file.Paths.get(s"$dir/grams_old"))
    intercept[IllegalArgumentException] {
      Ingest.substringDedupBatch(Seq((8L, tA)).toDF("doc_id", "text"),
        4L, dir, k = 3, maxDupFrac = 0.5)
    }
    // writer-side recovery: rerunning compactBatched heals the parked
    // dir and completes — the stored set survives intact
    GramIndex.compactBatched(spark, dir)
    assert(storedGrams() === gramsSet)
    // and the loop continues: the corpus duplicate still drops
    Ingest.substringDedupBatch(Seq((8L, tA)).toDF("doc_id", "text"),
      4L, dir, k = 3, maxDupFrac = 0.5)
    assert(docIds() === Seq(1L, 2L, 4L, 5L, 7L))
  }

  test("sessionize tombstone expires past the retention horizon: " +
      "state stays bounded, ordinals restart (documented trade)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val ses = graft.streaming.Ingest.sessionizeStream(
      stream.toDF().toDF("user_id", "ts"), gapSec = 1800L,
      watermark = "1 hour", tombstoneRetentionSec = 7200L)
    val q = ses.writeStream.outputMode("append")
      .format("memory").queryName("sestomb").start()
    try {
      stream.addData((1L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // driver key pushes the watermark past u1's session timeout
      // (10:30): session 1 emits, tombstone holds ordinal 2 with a
      // retention deadline of 10:00 + 2 h = 12:00
      stream.addData((9L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // watermark passes the tombstone deadline: state drops silently
      stream.addData((9L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      // u1 returns AFTER the horizon: ordinals restart at 1 — the
      // bounded-state trade, pinned; close it via the next watermark
      stream.addData((1L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      stream.addData((9L, ts("2024-01-01 18:00:00")))
      q.processAllAvailable()
      val u1 = spark.sql(
        """SELECT session_id, n_events, start_us FROM sestomb
          |WHERE user_id = 1 ORDER BY start_us""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(u1.toSeq === Seq(
        (1L, 1L, us("2024-01-01 10:00:00")),
        (1L, 1L, us("2024-01-01 15:00:00"))))
    } finally q.stop()
  }

  test("lmScoreStream: batches score against the FROZEN model, " +
      "threshold filter applies, replays idempotent per batch dir") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val modelDir = java.nio.file.Files
      .createTempDirectory("lm_model").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("lm_out").toString
    val ck = java.nio.file.Files
      .createTempDirectory("lm_ck").toString
    // frozen reference: "a b" → known bigram costs 1500, unseen-ctx
    // 2000, unseen bigram of known ctx 3000 (scoreLm spec's corpus)
    val ref = Seq((0L, "a b")).toDF("doc_id", "text")
    TextAnalysis.saveLmModel(TextAnalysis.lmModel(ref), modelDir)
    // model roundtrips through disk
    val loaded = TextAnalysis.loadLmModel(spark, modelDir)
    assert(loaded.vocabSize === 2L)
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.lmScoreStream(
      stream.toDF().toDF("doc_id", "text"), modelDir, outDir, ck,
      maxMilli = 2500L,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      stream.addData((1L, "a b"), (2L, "a z"))  // 1500 keeps, 3000 drops
      q.processAllAvailable()
      stream.addData((3L, "z q"))               // 2000 keeps
      q.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select($"doc_id", $"mean_invp_milli")
        .as[(Long, Long)].collect().toMap
      // the filter dropped doc 2; scores came from the FROZEN model,
      // not from self-scoring the batch (self-score of "a b" alone
      // would also be 1500, but "z q" self-scored would be 2000 with
      // V=2 EITHER way — the cross-batch discriminator is doc 2's
      // absence: a self-trained batch {a b, a z} would keep it)
      assert(rows === Map(1L -> 1500L, 3L -> 2000L))
    } finally q.stop()
  }

  test("driftMonitorStream: in-vocab batch reads clean, gibberish " +
      "batch fires the stale signal, means are exact integers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("drift").toString
    // frozen artifacts from a reference corpus of {a, b}
    val ref = Seq((0L, "a b a b"), (1L, "b a")).toDF("doc_id", "text")
    TextAnalysis.vocabulary(ref, v = 10).write
      .mode("overwrite").parquet(s"$root/vocab")
    TextAnalysis.saveLmModel(TextAnalysis.lmModel(ref), s"$root/lm")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.driftMonitorStream(
      stream.toDF().toDF("doc_id", "text"), s"$root/vocab",
      s"$root/lm", s"$root/out", s"$root/ck", oovStaleMilli = 500L,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      // batch 0: all tokens in vocab -> oov mean 0, no signal
      stream.addData((10L, "a b"), (11L, "b a b"))
      q.processAllAvailable()
      // batch 1: half the docs pure gibberish -> oov mean 500, still
      // NOT stale (threshold is strict >); batch 2: all gibberish
      stream.addData((12L, "a b"), (13L, "xq zk"))
      q.processAllAvailable()
      stream.addData((14L, "zz qq vv"))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$root/out")
        .select($"batch_id", $"n_docs", $"oov_mean_milli", $"stale")
        .as[(Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(rows(0L) === ((2L, 0L, false)))
      assert(rows(1L) === ((2L, 500L, false)))
      assert(rows(2L) === ((1L, 1000L, true)))
    } finally q.stop()
  }

  test("streaming HLL maintenance: persisted registers equal the " +
      "batch registers of everything seen") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("hll_stream").toString + "/regs"
    val ck = java.nio.file.Files
      .createTempDirectory("hll_stream_ck").toString
    val stream = MemoryStream[Long]
    val q = graft.streaming.Ingest.hllIngestStream(
      stream.toDF().toDF("user_id"), "user_id", dir, ck, p = 8,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
    try {
      stream.addData(1L to 300L: _*)
      q.processAllAvailable()
      stream.addData(200L to 500L: _*) // overlaps the first batch
      q.processAllAvailable()
      val current = graft.streaming.Ingest.hllCurrentRegisters(spark, dir)
      val streamed = current
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val whole = graft.operators.Sketches.hllRegisters(
          (1L to 500L).toDF("user_id"), $"user_id".cast("string"), 8)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed == whole)
      val est = graft.operators.Sketches.hllEstimate(current, 8)
      assert(math.abs(est - 500) / 500.0 < 0.2, s"est=$est")
      // versioned swap: at most current + previous versions retained,
      // each committed via its marker — never an in-place overwrite
      val root = new java.io.File(dir)
      val markers = root.listFiles().map(_.getName)
        .filter(_.startsWith("_commit_v")).sorted
      assert(markers.nonEmpty && markers.length <= 2, markers.toSeq)
      val dirs = root.listFiles().map(_.getName).filter(_.startsWith("v"))
      assert(dirs.length === markers.length)
    } finally q.stop()
  }

  test("stateful streaming sessionization closes sessions on gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = graft.streaming.Ingest.sessionizeStream(
      stream.toDF().toDF("user_id", "ts"), gapSec = 1800L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // user 1: two events 10 min apart (one session), then a 2h gap event
      stream.addData((1L, ts("2024-01-01 10:00:00")),
        (1L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      stream.addData((1L, ts("2024-01-01 12:30:00"))) // gap > 30 min
      q.processAllAvailable()
      // late driver event to push the watermark forward past the timeout
      stream.addData((2L, ts("2024-01-01 20:00:00")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sess").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      // the first session of user 1 (2 events) must have closed
      assert(rows.contains((1L, 2L)), rows.mkString(","))
    } finally q.stop()
  }

  test("stateful sessionization accepts a TIMESTAMP_NTZ event-time " +
      "stream (TimeNorm at the operator head)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // LocalDateTime encodes as TIMESTAMP_NTZ — the flavor the round-6
    // harness parquet shipped; without normalization the
    // java.sql.Timestamp encoder inside sessionizeStream would throw
    val stream = MemoryStream[(Long, java.time.LocalDateTime)]
    val src = stream.toDF().toDF("user_id", "ts")
    assert(src.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val sessions = graft.streaming.Ingest.sessionizeStream(
      src, gapSec = 1800L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_ntz").start()
    try {
      def ts(s: String) = java.time.LocalDateTime.parse(s)
      stream.addData((1L, ts("2024-01-01T10:00:00")),
        (1L, ts("2024-01-01T10:10:00")))
      q.processAllAvailable()
      stream.addData((1L, ts("2024-01-01T12:30:00"))) // gap > 30 min
      q.processAllAvailable()
      stream.addData((2L, ts("2024-01-01T20:00:00"))) // advance watermark
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sess_ntz").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      assert(rows.contains((1L, 2L)), rows.mkString(","))
      // the session start must be the same instant the LTZ twin
      // would record (session TZ pinned UTC)
      val startUs = spark.sql(
        "SELECT start_us FROM sess_ntz").head().getLong(0)
      assert(startUs ==
        java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli * 1000)
    } finally q.stop()
  }

  test("streaming OHLC bars emit once per closed window with " +
      "deterministic open/close under timestamp ties") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val bars = graft.streaming.Ingest.ohlcStream(
      stream.toDF().toDF("ts", "event_type", "value"))
    val q = bars.writeStream.outputMode("append")
      .format("memory").queryName("ohlcbars").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      stream.addData(
        (ts("2024-01-01 10:05:00"), "click", 3.0),
        (ts("2024-01-01 10:05:00"), "click", 1.0), // tie: open = min v
        (ts("2024-01-01 10:40:00"), "click", 9.0),
        (ts("2024-01-01 10:40:00"), "click", 5.0)) // tie: close = max v
      q.processAllAvailable()
      stream.addData((ts("2024-01-01 13:00:00"), "click", 2.0))
      q.processAllAvailable() // watermark passes 11:00 -> bar emits
      val rows = spark.sql(
        "SELECT * FROM ohlcbars WHERE ws = '2024-01-01 10:00:00'")
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      assert(rows.toSeq == Seq(("click", 4L, 100L, 900L, 100L, 900L)))
    } finally q.stop()
  }

  test("windowed event counts run in streaming mode with watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = graft.streaming.Ingest.windowedEventCounts(
      stream.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("winagg").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:15:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:20:00")
      val late = java.sql.Timestamp.valueOf("2024-01-01 13:00:00")
      stream.addData((t0, "click", 1.0), (t0, "click", 2.0), (t1, "view", 3.0))
      q.processAllAvailable()
      stream.addData((late, "click", 1.0)) // advances watermark past 10:00 window
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM winagg").collect()
      assert(out.exists(r => r.getString(0) == "2024-01-01 10:00:00" &&
        r.getString(1) == "click" && r.getLong(2) == 2L))
    } finally q.stop()
  }
}
