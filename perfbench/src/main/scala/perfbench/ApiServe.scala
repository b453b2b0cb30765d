package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.functions.{broadcast, col}

import graft.api.{ApiResponse, VfsApi}
import graft.operators.{IvfIndex, Knn, Metric}
import graft.store.VfsStore

/** `api_serve`: the reference's own traffic through `VfsApi` over a
  * dense 20k x 64 store. One client, closed loop, repeating cycles of
  * 25 `register` calls then 75 reads in seeded order: 40% exact
  * search (alternating euclidean and cosine), 30% approximate search
  * (API defaults: euclidean, ef_search 6) and 30% `getVector` of a
  * uniformly drawn existing id. Queries come from the mixture with
  * Zipf(1) component popularity; top_k is 10. At this size a
  * request's fixed per-job cost dominates the scan; each write burst
  * flushes twice (threshold 10), leaves commit directories every scan
  * must open, and invalidates the API's ANN cache. */
object ApiServe {
  val Rows = 10000
  val Dim = 64
  val K = 10
  val Burst = 5
  val Reads = 15
  /** Cycle time on a 4-core host, which sets the cycles per run. */
  val NominalCycleS = 8.0

  sealed trait Req { def no: Int }
  final case class Register(no: Int, vecNo: Int) extends Req
  final case class Exact(no: Int, qNo: Int, cosine: Boolean) extends Req
  final case class Approx(no: Int, qNo: Int, fresh: Boolean) extends Req
  final case class Get(no: Int, u: Double) extends Req

  private val CorpusTag = 10L
  private val RegisterTag = 11L
  private val QueryTag = 12L

  /** The seeded request stream, cycle after cycle. */
  def requests(seed: Long): Iterator[Req] = Iterator.from(0).flatMap { cycle =>
    val r = Gen.rng(seed, 13, cycle)
    // reads: 40% exact, then approximate/get split 5/4 or 4/5
    val approx = if (cycle % 2 == 0) 5 else 4
    val kinds = Array.fill(6)(0) ++ Array.fill(approx)(1) ++
      Array.fill(Reads - 6 - approx)(2)
    for (i <- kinds.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    val base = cycle * (Burst + Reads)
    val writes = (0 until Burst).map(i => Register(base + i, cycle * Burst + i))
    var exactNo = 0; var seenApprox = false
    val reads = kinds.indices.map { i =>
      val no = base + Burst + i
      kinds(i) match {
        case 0 => exactNo += 1; Exact(no, no, cosine = exactNo % 2 == 0)
        case 1 =>
          val fresh = !seenApprox; seenApprox = true
          Approx(no, no, fresh)
        case _ => Get(no, r.nextDouble())
      }
    }
    writes ++ reads
  }

  /** Driver-side mirror of everything inserted, for the checks. */
  final class Truth(mix: Mixture) {
    val rows: mutable.ArrayBuffer[Array[Float]] =
      mutable.ArrayBuffer.tabulate(Rows)(i => mix.corpus(CorpusTag, i))
    def count: Int = rows.size
    def register(vecNo: Int): Array[Float] = mix.corpus(RegisterTag, vecNo)
    def query(qNo: Int): Array[Float] = mix.query(QueryTag, qNo)
  }

  def json(q: Array[Float], extra: String): String =
    q.map(java.lang.Float.toString).mkString("{\"values\":[", ",", s"],$extra}")

  private def ids(body: JsonNode): Array[Long] =
    body.path("results").elements().asScala.map(_.path("id").asLong()).toArray

  /** Samples of one pass through the API. */
  final class Samples {
    val ms = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val recall = mutable.ArrayBuffer.empty[Double]
    var rebuilds = 0
    var approxCount = 0
    var wallS = 0.0
    var done = 0
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    def add(kind: String, v: Double): Unit =
      ms.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v
    def of(kind: String): Seq[Double] = ms.getOrElse(kind, Nil).toSeq
  }

  /** Drive `api` through the first `n` requests, checking every
    * response. */
  def apiPass(rep: Report, seed: Long, api: VfsApi, root: Path, truth: Truth,
      tracer: Tracer, n: Int): Samples = {
    val s = new Samples
    val annPath = s"$root/ann-euclidean"
    def generation(): Int =
      if (Files.exists(root.resolve("ann-euclidean/ivf.json")))
        IvfIndex.generationOf(annPath) else 0
    val it = requests(seed)
    val t0 = System.nanoTime()
    while (s.done < n) {
      val req = it.next()
      def timed(kind: String)(f: => ApiResponse): ApiResponse = {
        val a = System.nanoTime()
        val resp = tracer.span(s"api.$kind", req.no)(f)
        s.add(kind, (System.nanoTime() - a) / 1e6)
        resp
      }
      req match {
        case Register(no, vecNo) =>
          val v = truth.register(vecNo)
          val resp = timed("register")(api.register(json(v,
            s""""name":"r$vecNo","tags":["reg"]""")))
          val want = truth.count + 1L
          truth.rows += v
          rep.outcome(s"register #$no",
            if (resp.status != 201) Some(s"status ${resp.status}: ${resp.bodyString}")
            else if (resp.body.path("id").asLong() != want)
              Some(s"id ${resp.body.path("id").asLong()} != contiguous $want")
            else None)
        case Exact(no, qNo, cos) =>
          val q = truth.query(qNo)
          val metric = if (cos) "cosine" else "euclidean"
          val resp = timed("search_exact")(api.search(json(q,
            s""""top_k":$K,"search_type":"exact","distance_method":"$metric"""")))
          rep.outcome(s"exact search #$no",
            if (resp.status != 200) Some(s"status ${resp.status}: ${resp.bodyString}")
            else {
              val want = Vectors.topK(truth.rows, truth.count, q, K, cos)
              val got = ids(resp.body)
              if (got.sameElements(want)) None
              else Some(s"ids ${got.mkString(",")} != brute force ${want.mkString(",")}")
            })
        case Approx(no, qNo, fresh) =>
          val q = truth.query(qNo)
          val g0 = generation()
          val resp = timed(if (fresh) "search_fresh" else "search_approx")(
            api.search(json(q, s""""top_k":$K,"search_type":"approximate"""")))
          s.approxCount += 1
          if (generation() != g0) s.rebuilds += 1
          rep.outcome(s"approximate search #$no",
            if (resp.status != 200) Some(s"status ${resp.status}: ${resp.bodyString}")
            else {
              val got = ids(resp.body)
              if (got.length > K) Some(s"${got.length} results > top_k $K")
              else if (got.distinct.length != got.length) Some("duplicate ids")
              else if (got.exists(i => i < 1 || i > truth.count))
                Some(s"id outside the store: ${got.mkString(",")}")
              else {
                if (!fresh) {
                  val want = Vectors.topK(truth.rows, truth.count, q, K, cos = false)
                  s.recall += got.count(want.contains).toDouble / K
                }
                None
              }
            })
        case Get(no, u) =>
          val id = 1L + (u * truth.count).toLong
          val resp = timed("get")(api.getVector(id))
          rep.outcome(s"getVector($id) #$no",
            if (resp.status != 200) Some(s"status ${resp.status}: ${resp.bodyString}")
            else {
              val got = resp.body.path("values").elements().asScala
                .map(_.floatValue()).toArray
              val want = truth.rows((id - 1).toInt)
              if (got.length == want.length && got.indices.forall(i =>
                java.lang.Float.floatToIntBits(got(i)) ==
                  java.lang.Float.floatToIntBits(want(i)))) None
              else Some("values differ from the inserted vector")
            })
      }
      s.done += 1
      if (s.done % (Burst + Reads) == 0)
        s.cycleMs += (System.nanoTime() - t0) / 1e6 - s.cycleMs.sum
    }
    s.wallS = (System.nanoTime() - t0) / 1e9
    s
  }

  /** The calls `VfsApi` itself makes for the first `n` requests, each
    * inside its own span, on a fresh copy of the store. The copy never
    * auto-flushes: the replay flushes at the API's threshold itself,
    * so a flush is its own span instead of hiding inside an insert. */
  def replay(ctx: Ctx, root: Path, mix: Mixture,
      tracer: Tracer, n: Int): Map[String, Double] = {
    val spark = ctx.spark
    val store = VfsStore.open(spark, root.toString, flushThreshold = Int.MaxValue)
    val truth = new Truth(mix)
    var pending = 0
    var annVersion = -1L
    val annPath = s"$root/ann-euclidean"
    var memtableGets = 0; var gets = 0; var flushes = 0; var builds = 0
    def flush(no: Int): Unit = if (pending > 0) {
      tracer.span("store.flush", no)(store.flush())
      pending = 0; flushes += 1
    }
    requests(ctx.seed).take(n).foreach {
      case Register(no, vecNo) =>
        val v = truth.register(vecNo)
        tracer.span("store.insert", no)(store.insert(v, s"r$vecNo", Seq("reg")))
        truth.rows += v
        pending += 1
        if (pending >= VfsStore.DefaultFlushThreshold) flush(no)
      case Exact(no, qNo, cos) =>
        tracer.span("operators.knn_search", no)(Knn.search(store,
          truth.query(qNo), K, if (cos) Metric.Cosine else Metric.Euclidean)
          .collect())
      case Approx(no, qNo, _) =>
        flush(no)
        val version = store.countEstimate
        if (version != annVersion) {
          val cents = math.max(1, math.min(256, math.sqrt(version.toDouble).toInt))
          tracer.span("operators.ivf_build", no)(
            IvfIndex.build(store.read(), annPath, cents, Metric.Euclidean))
          annVersion = version; builds += 1
        }
        // the API's own plan: the probe frame (centroid load and
        // cluster choice run here) joined to the store, run as one
        val hits = tracer.span("operators.ivf_search", no)(
          IvfIndex.search(spark, annPath, truth.query(qNo), K, nProbe = 3))
        tracer.span("operators.ivf_hydrate", no)(
          broadcast(hits).join(store.read(), Seq("id"), "inner")
            .orderBy(col("distance").asc, col("id").asc).collect())
      case Get(no, u) =>
        val id = 1L + (u * truth.count).toLong
        if (id > truth.count - pending) memtableGets += 1
        gets += 1
        tracer.span("store.get_by_id", no)(store.getById(id))
    }
    Map("flushes" -> flushes.toDouble, "builds" -> builds.toDouble,
      "memtable_share" -> (if (gets == 0) 0.0 else memtableGets.toDouble / gets))
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    val mix = new Mixture(ctx.seed, Dim)
    val pristine = ctx.work.resolve("api-pristine")
    val t0 = System.nanoTime()
    val store = VfsStore.create(spark, pristine.toString, "vfs", Dim)
    store.appendBatch(Vectors.corpusFrame(spark, mix, CorpusTag, Rows, ctx.cores))
    val appendMs = (System.nanoTime() - t0) / 1e6

    def fresh(name: String): (VfsApi, Path) = {
      val root = ctx.work.resolve(name)
      copyTree(pristine, root)
      val api = new VfsApi(spark, root.toString)
      val init = api.init(s"""{"vector_dimension":$Dim,"truncate_data":false}""")
      require(init.status == 200, s"init failed: ${init.bodyString}")
      (api, root)
    }
    // warm-up: one cycle of another request order on a throwaway
    // copy, so every path (flush, first build, rebuild) has run before
    // the measured copy sees its first request
    val off = new Tracer(spark, enabled = false)
    val (warmApi, warmRoot) = fresh("api-warm")
    apiPass(new Report, ~ctx.seed, warmApi, warmRoot, new Truth(mix), off,
      Burst + Reads)
    val (api, root) = fresh("api-serve")
    rep.put("setup_s", ctx.sinceStartS, "s")

    val truth = new Truth(mix)
    val s = apiPass(rep, ctx.seed, api, root, truth, off,
      ctx.ops(NominalCycleS) * (Burst + Reads))
    report(ctx, s, root, truth)

    if (ctx.traced) {
      val tracer = new Tracer(spark, enabled = true)
      val (api2, root2) = fresh("api-traced")
      val jvm1 = Trace.jvm()
      val tracedT0 = System.nanoTime()
      val s2 = apiPass(rep, ctx.seed, api2, root2, new Truth(mix), tracer, s.done)
      val replayRoot = ctx.work.resolve("api-replay")
      copyTree(pristine, replayRoot)
      val r = replay(ctx, replayRoot, mix, tracer, s.done)
      val jvm2 = Trace.jvm()
      val tracedWallS = (System.nanoTime() - tracedT0) / 1e9
      val spans = tracer.spans()
      tracer.close()
      val L = new Layers(ctx, tracer, spans)
      Seq("search_exact", "search_approx", "get", "register").foreach { op =>
        // the api layer's own time: each request's api span minus the
        // replayed lower-layer calls of that request
        val apiKinds = if (op == "search_approx") Set("api.search_approx",
          "api.search_fresh") else Set(s"api.$op")
        val apiSpans = spans.filter(sp => apiKinds(sp.name) && sp.parent == 0)
        val lower = spans.filter(sp => !sp.name.startsWith("api.") && sp.parent == 0)
          .groupBy(_.request).map { case (k, v) => k -> v.map(_.ms).sum }
        rep.put(s"api.$op.self_ms", Stats.mean(apiSpans.map(sp =>
          sp.ms - lower.getOrElse(sp.request, 0.0))), "ms")
      }
      rep.put("api.ann_cache_hit_share",
        1.0 - s2.rebuilds.toDouble / math.max(1, s2.approxCount), "ratio")
      L.mean("store.insert", "store.insert.ms")
      L.mean("store.flush", "store.flush.ms")
      rep.put("store.flush.count", r("flushes"), "count")
      L.mean("store.get_by_id", "store.get_by_id.ms")
      rep.put("store.get_by_id.memtable_share", r("memtable_share"), "ratio")
      rep.put("store.commit_dirs",
        Files.list(root2.resolve("data")).count().toDouble, "count")
      rep.put("store.scan.files", VfsStore.open(spark, root2.toString).read()
        .inputFiles.length.toDouble, "count")
      rep.put("store.append_batch.ms", appendMs, "ms")
      val stored = VfsStore.open(spark, root2.toString).countEstimate
      rep.put("store.bytes_per_input_byte",
        ctx.bytesUnder(root2.resolve("data")).toDouble / (stored * Dim * 4), "ratio")
      L.mean("operators.knn_search", "operators.knn_search.ms")
      L.mean("operators.ivf_search", "operators.ivf_search.ms")
      L.mean("operators.ivf_hydrate", "operators.ivf_hydrate.ms")
      L.mean("operators.ivf_build", "operators.ivf_build.ms")
      rep.put("operators.ivf_build.count", r("builds"), "count")
      L.sparkWork(Seq("api.search_exact", "api.search_approx", "api.get",
        "store.flush", "operators.ivf_build"),
        alias = Map("api.search_fresh" -> "api.search_approx"))
      rep.put("functions.distance.evals_per_s",
        KnnBatch.distanceEvalsPerS(ctx, VfsStore.open(spark, pristine.toString).read(),
          mix, Rows), "1/s")
      L.jvm(jvm1, jvm2)
      L.overhead(s.wallS / s.done, s2.wallS / s2.done)
      L.finish(tracedWallS)
    }
  }

  private def report(ctx: Ctx, s: Samples, root: Path, truth: Truth): Unit = {
    val rep = ctx.report
    def lat(kind: String, name: String, tail: Boolean): Unit = {
      val xs = s.of(kind)
      rep.put(s"${name}_p50_ms", Stats.median(xs), "ms")
      if (tail) Stats.tail(rep, s"${name}_tail_ms", xs)
    }
    lat("search_exact", "search_exact", tail = true)
    lat("search_approx", "search_approx", tail = true)
    rep.gated("exact_p50_ms") = "search_exact_p50_ms"
    rep.gated("approx_p50_ms") = "search_approx_p50_ms"
    rep.put("fresh_search_ms", Stats.median(s.of("search_fresh")), "ms")
    rep.notes("fresh_search_ms") = s"median of ${s.of("search_fresh").size} cycles"
    lat("get", "get", tail = false)
    rep.put("register_mean_ms", Stats.mean(s.of("register")), "ms")
    rep.put("requests_per_s", s.done / s.wallS, "1/s", as = "throughput_per_s")
    rep.put("ivf_recall_at_10", Stats.mean(s.recall.toSeq), "ratio", as = "recall")
    rep.put("stored_bytes_per_input_byte",
      ctx.bytesUnder(root).toDouble / (truth.count.toLong * Dim * 4), "ratio")
    rep.notes("requests") = s"${s.done} in ${"%.3f".format(s.wallS)} s"
    rep.notes("cycle_ms") = s.cycleMs.map(x => f"$x%.0f").mkString(" ")
  }
}
