package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{ApiResponse, VfsApi}
import graft.operators.IvfIndex
import graft.store.VfsStore

/** The reference's end-to-end suite (tests.sh, 8 sequential cases with
  * expected status codes) translated 1:1 to library calls. */
class VfsApiSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark
  lazy val api = new VfsApi(spark,
    Files.createTempDirectory("vfs-api").toString)

  test("1. init storage -> 200 (tests.sh:73-78)") {
    val r = api.init("""{"vector_dimension": 4, "quantize": false}""")
    assert(r.status === 200, r.bodyString)
  }

  test("2. insert valid vector -> 201 (tests.sh:81-85)") {
    val r = api.register(
      """{"values": [0.1, 0.2, 0.3, 0.4], "name": "test_vector",
        |"tags": ["test"]}""".stripMargin)
    assert(r.status === 201, r.bodyString)
    assert(r.body.path("id").asLong() === 1L)
    assert(r.body.path("status").asText() === "success")
  }

  test("3. insert wrong-dimension vector -> 400 (tests.sh:88-92)") {
    val r = api.register("""{"values": [0.1, 0.2], "name": "bad", "tags": []}""")
    assert(r.status === 400, r.bodyString)
  }

  test("4. get vector by id=1 -> 200 (tests.sh:95)") {
    val r = api.getVector(1L)
    assert(r.status === 200, r.bodyString)
    assert(r.body.path("name").asText() === "test_vector")
    assert(r.body.path("values").size() === 4)
    // F4 projection: no created_at / scale_factor in the response
    assert(!r.body.has("created_at") && !r.body.has("scale_factor"))
  }

  test("5. approximate search -> 200 (tests.sh:98-104)") {
    (2 to 12).foreach { i =>
      api.register(s"""{"values": [0.1, 0.2, ${i / 10.0}, 0.4],
        |"name": "v$i", "tags": []}""".stripMargin)
    }
    val r = api.search(
      """{"values": [0.1, 0.2, 0.3, 0.4], "top_k": 3,
        |"search_type": "approximate", "distance_method": "cosine",
        |"ef_search": 6}""".stripMargin)
    assert(r.status === 200, r.bodyString)
    val results = r.body.path("results")
    assert(results.size() === 3, r.bodyString) // documented top-k semantics
    assert(results.get(0).path("id").asLong() === 1L) // exact match first
    assert(r.body.path("query_time_ms").asDouble() > 0)
  }

  test("6. flush -> 200 (tests.sh:107)") {
    assert(api.flush().status === 200)
  }

  test("7. snapshot -> 200 (tests.sh:110)") {
    assert(api.snapshot().status === 200)
  }

  test("8. restore -> 200 (tests.sh:113)") {
    assert(api.restore().status === 200)
    // state survives: the snapshot saw all 12 vectors
    val r = api.getVector(12L)
    assert(r.status === 200)
  }

  test("exact search with simd alias metric matches scalar metric") {
    val a = api.search(
      """{"values": [0.1, 0.2, 0.3, 0.4], "top_k": 3,
        |"search_type": "exact", "distance_method": "euclidean"}""".stripMargin)
    val b = api.search(
      """{"values": [0.1, 0.2, 0.3, 0.4], "top_k": 3,
        |"search_type": "exact", "distance_method": "simd_euclidean"}""".stripMargin)
    assert(a.status === 200 && b.status === 200)
    assert(a.body.path("results").toString ===
      b.body.path("results").toString)
  }

  test("tag-filtered exact search restricts candidates") {
    val r = api.search(
      """{"values": [0.1, 0.2, 0.3, 0.4], "top_k": 10,
        |"search_type": "exact", "filter_tags": ["test"]}""".stripMargin)
    assert(r.status === 200, r.bodyString)
    // only vector id=1 carries the "test" tag (inserted in case 2)
    assert(r.body.path("results").size() === 1, r.bodyString)
    assert(r.body.path("results").get(0).path("id").asLong() === 1L)
  }

  test("re-init with truncate_data=false keeps existing data and ids") {
    val root = Files.createTempDirectory("vfs-reinit").toString
    val a1 = new VfsApi(spark, root)
    a1.init("""{"vector_dimension": 2}""")
    a1.register("""{"values": [1.0, 2.0], "name": "keep", "tags": []}""")
    a1.flush()
    // fresh handle, keep-data init (the reference's ResetOptions mode)
    val a2 = new VfsApi(spark, root)
    val r = a2.init("""{"vector_dimension": 2, "truncate_data": false}""")
    assert(r.status === 200, r.bodyString)
    assert(a2.getVector(1L).status === 200)
    val ins = a2.register("""{"values": [3.0, 4.0], "name": "new", "tags": []}""")
    assert(ins.body.path("id").asLong() === 2L) // ids continue, not reset
    // dimension conflict without truncate is rejected
    assert(new VfsApi(spark, root)
      .init("""{"vector_dimension": 5, "truncate_data": false}""").status === 400)
  }

  test("error taxonomy: search before init, bad search_type, missing id") {
    val fresh = new VfsApi(spark,
      Files.createTempDirectory("vfs-api2").toString)
    assert(fresh.search("""{"values": [1.0]}""").status === 400)
    assert(api.search(
      """{"values": [0.1,0.2,0.3,0.4], "search_type": "nope"}""").status === 400)
    assert(api.getVector(9999L).status === 404)
    assert(api.search("""{"values": [0.1]}""").status === 400) // dim mismatch
  }

  // ---- the approximate request path ----

  private val Dim = 8

  private def vec(rnd: scala.util.Random): Array[Float] =
    Array.fill(Dim)(rnd.nextGaussian().toFloat)

  private def searchJson(q: Array[Float], k: Int, kind: String,
      metric: String, extra: String = ""): String =
    q.mkString("""{"values": [""", ",", s"""], "top_k": $k, """ +
      s""""search_type": "$kind", "distance_method": "$metric"$extra}""")

  /** A seeded store of 300 rows in three appendBatch commit dirs, every
    * third row tagged "even", re-opened through the API, plus four
    * registered rows still in the memtable. */
  private def seededApi(quantize: Boolean): (VfsApi, String) = {
    import spark.implicits._
    val root = Files.createTempDirectory("vfs-api-seeded").toString
    val rnd = new scala.util.Random(7)
    val s = VfsStore.create(spark, root, "seeded", Dim, quantize)
    (0 until 3).foreach { b =>
      s.appendBatch((0 until 100).map { i =>
        (vec(rnd).toSeq, s"b$b-$i",
          if (i % 3 == 0) Seq("even") else Seq("odd", s"b$b"))
      }.toDF("values", "name", "tags"))
    }
    val api = new VfsApi(spark, root)
    assert(api.init(s"""{"vector_dimension": $Dim, "truncate_data": false}""")
      .status === 200)
    (1 to 4).foreach { i =>
      val r = api.register(vec(rnd).mkString("""{"values": [""", ",",
        s"""], "name": "r$i", "tags": ["reg"]}"""))
      assert(r.status === 201, r.bodyString)
    }
    (api, root)
  }

  /** (id, values, name, tags, score) of each result, in response order. */
  private def results(r: ApiResponse) = {
    assert(r.status === 200, r.bodyString)
    r.body.path("results").elements().asScala.map { e =>
      (e.path("id").asLong(),
        e.path("values").elements().asScala.map(_.floatValue()).toSeq,
        e.path("name").asText(),
        e.path("tags").elements().asScala.map(_.asText()).toSeq,
        e.path("score").floatValue())
    }.toSeq
  }

  test("approximate search returns the probe ⋈ store plan's rows: same " +
      "ids, values, names, tags, scores and (distance, id) order") {
    for (quantize <- Seq(false, true)) {
      val (api, root) = seededApi(quantize)
      val rnd = new scala.util.Random(11)
      val queries = Seq.fill(3)(vec(rnd))
      for (metric <- Seq("euclidean", "cosine"); k <- Seq(10, 3);
           q <- queries) {
        val got = results(api.search(searchJson(q, k, "approximate", metric)))
        // the pre-handle plan: the probe frame broadcast-joined to the
        // whole store, ordered by Spark (API default ef_search 6 →
        // nProbe 3); the search above flushed the registered rows
        val want = IvfIndex.search(spark, s"$root/ann-$metric", q, k,
            nProbe = 3)
          .join(VfsStore.open(spark, root).read(), Seq("id"))
          .orderBy("distance", "id").collect().toSeq.map { r =>
            (r.getAs[Long]("id"),
              r.getSeq[Float](r.fieldIndex("values")).toSeq,
              r.getAs[String]("name"),
              Option(r.getSeq[String](r.fieldIndex("tags")))
                .fold(Seq.empty[String])(_.toSeq),
              r.getAs[Double]("distance").toFloat)
          }
        assert(got.size === k, s"quantize=$quantize $metric k=$k")
        assert(got === want, s"quantize=$quantize $metric k=$k")
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def shuffles(p: SparkPlan): Seq[SparkPlan] =
      collect(p) { case e: ShuffleExchangeExec => e }
  }

  test("a warm approximate request runs 2 Spark jobs, a warm exact " +
      "request or a get 1, and none of them shuffles") {
    val (api, _) = seededApi(quantize = false)
    val q = vec(new scala.util.Random(3))
    def work(f: => ApiResponse) = {
      val (r, jobs, plans) = graft.tools.Explain.sparkWork(spark)(f)
      assert(r.status === 200, r.bodyString)
      plans.foreach { qe =>
        assert(Plans.shuffles(qe.executedPlan).isEmpty, qe.executedPlan)
      }
      (jobs, plans.size)
    }
    for (metric <- Seq("euclidean", "cosine")) {
      val approx = searchJson(q, 10, "approximate", metric)
      api.search(approx) // cold: flushes, builds and opens the index
      assert(work(api.search(approx)) === ((2, 2)), metric)
      assert(work(api.search(searchJson(q, 10, "exact", metric))) === ((1, 1)),
        metric)
    }
    assert(work(api.getVector(5L)) === ((1, 1)))
  }

  test("approximate search honors filter_tags with searchFiltered's " +
      "pre-filter: every result carries a filter tag") {
    val (api, _) = seededApi(quantize = false)
    val rnd = new scala.util.Random(5)
    for (metric <- Seq("euclidean", "cosine"); q <- Seq.fill(3)(vec(rnd))) {
      val filter = """, "filter_tags": ["even"]"""
      // ef_search 64 → nProbe 32 covers all 17 clusters: the filtered
      // probe is then exact over the allowed ids
      val approx = results(api.search(searchJson(q, 5, "approximate",
        metric, filter + """, "ef_search": 64""")))
      val exact = results(api.search(searchJson(q, 5, "exact", metric, filter)))
      assert(approx.size === 5)
      assert(approx.forall(_._4.contains("even")), approx)
      assert(approx.map(_._1) === exact.map(_._1), metric)
    }
  }

  test("alternating metrics reuse one cached index per metric: no " +
      "rebuild without a write in between") {
    val (api, root) = seededApi(quantize = false)
    val q = vec(new scala.util.Random(9))
    def both(): Unit = Seq("euclidean", "cosine").foreach { m =>
      assert(api.search(searchJson(q, 5, "approximate", m)).status === 200)
    }
    def generations() = Seq("euclidean", "cosine")
      .map(m => IvfIndex.generationOf(s"$root/ann-$m"))
    both()
    val built = generations()
    both(); both()
    assert(generations() === built)
  }
}
