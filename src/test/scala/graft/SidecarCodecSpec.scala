package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.store.{StoreStateException, VfsStore}

/** Every JSON sidecar goes through the one codec in [[ArtifactIo]]:
  * the bytes it writes are pinned to the published format, and a
  * sidecar missing a required key fails with
  * `StoreStateException("bad <file>: <key>")` — never a bare
  * `None.get` surfacing as an untyped 500. */
class SidecarCodecSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark
  import GraftTest.spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("sidecar").toString

  private def vectors = (1 to 24).map { i =>
    (i.toLong, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat + 1f))
  }.toDF("id", "values")

  private def docs = Seq((1L, "a b c d e f"), (2L, "a b d x y z"),
    (3L, "q r s t u v")).toDF("doc_id", "text")

  private val q = Array(1f, 2f, 3f, 4f)

  /** One sidecar: where `make` writes it under a fresh dir, the exact
    * bytes expected, the key to strip, and a reader that must refuse
    * the stripped file. */
  case class Case(file: String, label: String, rel: String, expect: String,
      key: String, make: String => Unit, read: String => Unit)

  private val cases = Seq(
    Case("manifest.json", "manifest", "",
      """{"name":"sc","dim":2,"quantize":false,"nextId":1,"commits":[]}""",
      "dim", d => VfsStore.create(spark, d, "sc", dim = 2),
      d => VfsStore.open(spark, d)),
    Case("ivf.json", "ivf.json", "",
      """{"nCentroids":2,"metric":"cosine","dim":4,"seed":42,""" +
        """"nAssign":1,"generation":1,"assignEpsMilli":-1}""",
      "metric", d => IvfIndex.build(vectors, d, nCentroids = 2),
      d => IvfIndex.metricOf(d)),
    Case("pq.json", "pq.json", "",
      """{"m":2,"ks":4,"dim":4,"metric":"cosine","seed":42}""",
      "ks", d => PqIndex.build(vectors, d, m = 2, ks = 4),
      d => PqIndex.search(spark, d, q, 1)),
    Case("ivfpq.json", "ivfpq.json", "pq",
      """{"m":2,"ks":4,"dim":4,"seed":42,"nAssign":1,"gen":1}""",
      "m", { d =>
        IvfIndex.build(vectors, s"$d/ivf", nCentroids = 2)
        IvfPq.build(spark, s"$d/ivf", s"$d/pq", m = 2, ks = 4)
      }, d => IvfPq.search(spark, s"$d/ivf", s"$d/pq", q, 1)),
    Case("_binary.json", "_binary.json", "packed",
      """{"dim":4,"generation":1}""", "dim",
      d => BinaryIndex.build(vectors, d, idCol = "id", vecCol = "values"),
      d => BinaryIndex.readMeta(d)),
    Case("_lines.json", "_lines.json", "lines", """{"generation":1}""",
      "generation", d => LineIndex.create(spark, d),
      d => LineIndex.readMeta(d)),
    Case("_sig.json", "_sig.json", "sigs",
      """{"family":"fam-1","generation":1}""", "family",
      d => SigIndex.build(Seq((1L, 5L)).toDF("id", "sig"), d, "fam-1"),
      d => SigIndex.readMeta(d)),
    Case("_gram.json", "_gram.json", "grams", """{"k":3,"generation":1}""",
      "k", d => GramIndex.build(docs, d, k = 3),
      d => GramIndex.readMeta(d)),
    Case("gram.json", "gram.json", "", """{"k":3,"generation":1}""",
      "generation", d => GramIndex.ensureMeta(d, 3),
      d => GramIndex.readMeta(d)),
    Case("_lsh.json", "_lsh.json", "bands",
      """{"bands":4,"rowsPerBand":2,"generation":1}""", "rowsPerBand",
      d => LshTextIndex.build(docs, d, bands = 4, rowsPerBand = 2),
      d => LshTextIndex.readMeta(d)),
    Case("_urls.json", "_urls.json", "urls", """{"generation":1}""",
      "generation", d => UrlIndex.create(spark, d),
      d => UrlIndex.readMeta(d)),
    Case("lm.json", "lm.json", "", """{"vocabSize":15}""", "vocabSize",
      d => TextAnalysis.saveLmModel(TextAnalysis.lmModel(docs), d),
      d => TextAnalysis.loadLmModel(spark, d)),
    Case("words.json", "words.json", "", """{"nWords":18,"vocab":15}""",
      "vocab",
      d => TextAnalysis.saveWordModel(TextAnalysis.wordModel(docs), d),
      d => TextAnalysis.loadWordModel(spark, d)))

  private val mapper = new ObjectMapper()

  cases.foreach { c =>
    test(s"${c.file}: published bytes, and a missing '${c.key}' is a typed error") {
      val root = tmp()
      c.make(root)
      val dir = if (c.rel.isEmpty) root else s"$root/${c.rel}"
      val json = ArtifactIo.readSmallFile(dir, c.file)
      assert(json === c.expect)
      c.read(root) // the intact sidecar reads
      val node = mapper.readTree(json).asInstanceOf[ObjectNode]
      node.remove(c.key)
      // through the Hadoop FS, so its checksum sidecar stays consistent
      ArtifactIo.writeSmallFileAtomic(dir, c.file,
        mapper.writeValueAsString(node))
      val err = intercept[StoreStateException](c.read(root))
      assert(err.getMessage === s"bad ${c.label}: ${c.key}")
    }
  }

  test("the codec refuses a mistyped value or a non-object document by name") {
    val m = ArtifactIo.decode("x.json", """{"a":"1","b":1.5,"c":[1]}""")
    Seq[(String, () => Any)]("a" -> (() => m.int("a")),
      "b" -> (() => m.long("b")), "c" -> (() => m.strs("c")),
      "d" -> (() => m.bool("d"))).foreach { case (k, f) =>
      assert(intercept[StoreStateException](f()).getMessage ===
        s"bad x.json: $k")
    }
    assert(m.intOr("d", 7) === 7)
    assert(intercept[StoreStateException](m.intOr("a", 7))
      .getMessage === "bad x.json: a")
    assert(intercept[StoreStateException](
      ArtifactIo.decode("y.json", """{"a":""")).getMessage
      .startsWith("bad y.json: "))
    assert(intercept[StoreStateException](
      ArtifactIo.decode("y.json", "[1]")).getMessage
      .startsWith("bad y.json: "))
  }

  test("the codec escapes strings and keeps key order") {
    val s = ArtifactIo.encode("n" -> "a\"b\\c", "xs" -> Seq("p", "q\"r"),
      "l" -> 3L, "b" -> true)
    assert(s === """{"n":"a\"b\\c","xs":["p","q\"r"],"l":3,"b":true}""")
    val m = ArtifactIo.decode("s", s)
    assert(m.str("n") === "a\"b\\c" && m.strs("xs") === Seq("p", "q\"r") &&
      m.long("l") === 3L && m.bool("b"))
  }
}
