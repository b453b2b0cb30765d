package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The crash-consistency contract of the shared standing-index
  * lifecycle ([[ArtifactIo.StandingIndex]]), checked over all six
  * indexes that use it: the parked crash state, the generation
  * sequence, replayed batches, and legacy-watermark migration. */
class StandingIndexSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark
  import GraftTest.spark.implicits._

  private def docs(ids: Long*) = ids.map(i =>
    (i, s"line one of $i\nshared boilerplate line\nword$i alpha beta gamma"))
    .toDF("doc_id", "text")
  private def urls(ids: Long*) =
    ids.map(i => (i, s"http://site$i.com/page")).toDF("doc_id", "url")
  private def sigs(ids: Long*) =
    ids.map(i => (i, i * 0x1234567L)).toDF("id", "sig")
  private def vecs(ids: Long*) =
    ids.map(i => (i, Array.tabulate(4)(j => (i + j).toFloat)))
      .toDF("vec_id", "embedding")

  /** One index under test. `rewrite` is the index's own takedown
    * (a rebuild for [[LineIndex]], whose counts carry no provenance);
    * `append` is its watermark-guarded batch append, if it has one. */
  case class Subject(name: String, dir: String,
      build: String => Unit, rewrite: String => Unit,
      compact: String => Unit, generation: String => Int,
      read: String => Any,
      append: Option[(String, Long, Int) => Boolean])

  private val subjects = Seq(
    Subject("LineIndex", "lines", LineIndex.build(docs(1, 2, 3), _),
      LineIndex.build(docs(1, 2), _), LineIndex.compact(spark, _),
      LineIndex.readMeta(_).generation, LineIndex.exists,
      Some((p, b, n) => LineIndex.appendIdempotent(
        docs((1 to n).map(100L + _): _*), p, b))),
    Subject("SigIndex", "sigs", SigIndex.build(sigs(1, 2, 3), _, "fam"),
      SigIndex.deleteIds(spark, _, Seq(1L)), SigIndex.compact(spark, _),
      SigIndex.readMeta(_).generation, SigIndex.exists,
      Some((p, b, n) => SigIndex.appendIdempotent(
        sigs((1 to n).map(100L + _): _*), p, "fam", b))),
    Subject("UrlIndex", "urls", UrlIndex.build(urls(1, 2, 3), _),
      UrlIndex.deleteUrls(spark, _, Seq("http://site1.com/page")),
      UrlIndex.compact(spark, _), UrlIndex.readMeta(_).generation,
      UrlIndex.exists,
      Some((p, b, n) => UrlIndex.appendIdempotent(
        urls((1 to n).map(100L + _): _*), p, b))),
    Subject("BinaryIndex", "packed", BinaryIndex.build(vecs(1, 2, 3), _),
      BinaryIndex.deleteIds(spark, _, Seq(1L)),
      BinaryIndex.compact(spark, _), BinaryIndex.readMeta(_).generation,
      BinaryIndex.candidates(spark, _, Array(1f, 2f, 3f, 4f)),
      Some((p, b, n) => BinaryIndex.appendIdempotent(
        vecs((1 to n).map(100L + _): _*), p, b))),
    Subject("GramIndex", "grams", GramIndex.build(docs(1, 2, 3), _, k = 3),
      GramIndex.retire(spark, _, docs(2, 3)), GramIndex.compact(spark, _),
      GramIndex.readMeta(_).generation,
      GramIndex.probeSpans(spark, _, docs(9)), None),
    Subject("LshTextIndex", "bands",
      LshTextIndex.build(docs(1, 2, 3), _, bands = 4, rowsPerBand = 2),
      LshTextIndex.deleteIds(spark, _, Seq(1L)),
      LshTextIndex.compact(spark, _),
      LshTextIndex.readMeta(_).generation, LshTextIndex.exists, None))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"standing_$name").toString

  private def rows(s: Subject, p: String): Long =
    spark.read.parquet(s"$p/${s.dir}").count()

  subjects.foreach { s =>
    test(s"${s.name}: parked swap — readers refuse, the next build heals") {
      val p = tmp(s.name)
      s.build(p)
      Files.move(Paths.get(p, s.dir), Paths.get(p, s"${s.dir}_old"))
      val err = intercept[IllegalArgumentException](s.read(p))
      assert(err.getMessage.contains("CRASHED"))
      s.build(p)
      assert(Files.exists(Paths.get(p, s.dir)))
      assert(!Files.exists(Paths.get(p, s"${s.dir}_old")))
      assert(s.generation(p) === 2, "the healed artifact's generation " +
        "must carry on, not reset")
    }

    test(s"${s.name}: generations across build, rewrite, build, compact") {
      val p = tmp(s.name)
      s.build(p)
      assert(s.generation(p) === 1)
      s.append.foreach(a => assert(a(p, 0L, 1)))
      s.rewrite(p)
      assert(s.generation(p) === 2)
      s.build(p)
      assert(s.generation(p) === 3)
      s.compact(p)
      assert(s.generation(p) === 3)
      s.read(p)
    }

    test(s"${s.name}: a legacy unbound watermark is migrated by build") {
      val p = tmp(s.name)
      s.build(p)
      ArtifactIo.writeSmallFileAtomic(p, "_append_batch", "7")
      s.build(p)
      // bound to the pre-build generation, so the rebuilt one starts a
      // fresh batch sequence; for the indexes that never append this
      // is the only watermark the build ever sees
      assert(ArtifactIo.readSmallFile(p, "_append_batch") === "1:7")
      assert(s.generation(p) === 2)
      s.append.foreach(a => assert(a(p, 0L, 1),
        "the rebuilt artifact must accept batch 0"))
    }
  }

  subjects.filter(_.append.nonEmpty).foreach { s =>
    val append = s.append.get
    test(s"${s.name}: a replayed batch is a no-op, also after a takedown") {
      val p = tmp(s.name)
      s.build(p)
      assert(append(p, 0L, 1))
      val landed = rows(s, p)
      assert(!append(p, 0L, 3))
      assert(rows(s, p) === landed)
      if (s.name != "LineIndex") { // its rewrite is a rebuild
        s.rewrite(p)
        val kept = rows(s, p)
        assert(!append(p, 0L, 3), "the takedown must carry the watermark")
        assert(rows(s, p) === kept)
      }
    }
  }
}
