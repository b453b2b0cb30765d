package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.operators.{IvfIndex, Knn, Metric}
import graft.store.{InvalidVectorException, VfsStore}

/** Status + JSON body, the shape every endpoint returns
  * (vfs/src/vfs/tcp.rs:153-162 writes `HTTP/1.1 <code>` + JSON). */
case class ApiResponse(status: Int, body: JsonNode) {
  def bodyString: String = VfsApi.mapper.writeValueAsString(body)
}

/** Library-call parity with the reference's 7 HTTP endpoints
  * (vfs/src/vfs/tcp.rs:107-150 routing table):
  *
  *   POST /init      → [[init]]        (tcp.rs:270-299)
  *   POST /vectors   → [[register]]    (tcp.rs:301-363)
  *   GET  /vectors/i → [[getVector]]   (tcp.rs:242-268)
  *   POST /search    → [[search]]      (tcp.rs:366-450)
  *   POST /flush     → [[flush]]       (tcp.rs:214-239)
  *   POST /snapshot  → [[snapshot]]    (tcp.rs:182-195)
  *   POST /restore   → [[restore]]     (tcp.rs:198-211)
  *
  * Request/response field names match the reference JSON structs
  * (tcp.rs:19-57). Error taxonomy → status codes follows
  * tcp.rs:328-351: invalid input → 400, missing → 404,
  * uninitialized → 400, internal → 500.
  *
  * Divergences (documented, SURVEY §7.3): we implement the DOCUMENTED
  * top-k semantics (README.md:137-145) — `top_k` is the result size —
  * not the reference's accidental top_k/ef_search parameter swap
  * (tcp.rs:403), and approximate search returns up to k results, not
  * the 1-result HNSW cap (ann.rs:756-762).
  */
class VfsApi(spark: SparkSession, rootDir: String) {
  import VfsApi._

  @volatile private var store: Option[VfsStore] = None
  // ANN artifact cache, invalidated when the store's commit state moves
  @volatile private var annState: Option[(Long, String)] = None

  private def requireStore(): VfsStore = store.getOrElse(
    throw new IllegalStateException("storage not initialized"))

  /** POST /init {vector_dimension, quantize?, truncate_data?}.
    * truncate_data=false (the reference's keep-data ResetOptions mode,
    * storage_manager.rs:30-57) re-opens an existing store — data, ids,
    * and snapshots survive; truncate_data=true (default) starts clean. */
  def init(json: String): ApiResponse = guard {
    val req = mapper.readTree(json)
    val dim = req.path("vector_dimension").asInt(-1)
    if (dim <= 0) return badRequest("vector_dimension must be positive")
    val quantize = req.path("quantize").asBoolean(false)
    val truncate = req.path("truncate_data").asBoolean(true)
    val existing = java.nio.file.Files.exists(
      java.nio.file.Paths.get(rootDir, "manifest.json"))
    val s =
      if (!truncate && existing) {
        val opened = VfsStore.open(spark, rootDir)
        if (opened.dim != dim)
          return badRequest(s"existing store has dimension ${opened.dim}, " +
            s"cannot re-init with $dim without truncate_data")
        opened
      } else {
        val created = VfsStore.create(spark, rootDir, "vfs", dim, quantize)
        created.reset()
        created
      }
    store = Some(s)
    annState = None
    ok(obj(o => {
      o.put("status", "success")
      o.put("vector_dimension", s.dim)
      o.put("quantize", s.quantized)
    }))
  }

  /** POST /vectors {values, name, tags} → 201 {id, status} */
  def register(json: String): ApiResponse = guard {
    val s = requireStore()
    val req = mapper.readTree(json)
    val values = floats(req.path("values"))
    val name = req.path("name").asText("")
    val tags = strings(req.path("tags"))
    val id = s.insert(values, name, tags)
    annState = None
    ApiResponse(201, obj(o => { o.put("id", id); o.put("status", "success") }))
  }

  /** GET /vectors/<id> → 200 {id, values, name, tags} | 404
    * (the F4 projection drops created_at/scale_factor, tcp.rs:248-254) */
  def getVector(id: Long): ApiResponse = guard {
    requireStore().getById(id) match {
      case None => ApiResponse(404, obj(_.put("error", s"vector $id not found")))
      case Some(r) => ok(obj(o => {
        o.put("id", r.id)
        val arr = o.putArray("values")
        r.values.foreach(arr.add(_))
        o.put("name", r.name)
        val t = o.putArray("tags")
        r.tags.foreach(t.add)
      }))
    }
  }

  /** POST /search {values, top_k?, search_type?, distance_method?,
    * ef_search?} → {results: [{id, values, name, tags, score}],
    * query_time_ms}. Defaults follow tcp.rs:383-397: approximate,
    * euclidean, top_k=5 (rank.rs:129), ef_search=6 → nProbe. */
  def search(json: String): ApiResponse = guard {
    val s = requireStore()
    val req = mapper.readTree(json)
    val q = floats(req.path("values"))
    if (q.length != s.dim)
      return badRequest(
        s"vector dimension mismatch: expected ${s.dim}, got ${q.length}")
    val topK = req.path("top_k").asInt(5)
    val searchType = req.path("search_type").asText("approximate")
    val metric = Metric.parse(req.path("distance_method").asText("euclidean"))
    val efSearch = req.path("ef_search").asInt(6)
    // extension beyond the reference API: optional tag pre-filter
    // (pushed under the distance scoring)
    val filterTags = strings(req.path("filter_tags"))
    val t0 = System.nanoTime()
    val results = searchType match {
      case "exact" if filterTags.nonEmpty =>
        import org.apache.spark.sql.functions.{array, arrays_overlap, col, lit, typedLit}
        Knn.exact(s.read().filter(
          arrays_overlap(col("tags"), typedLit(filterTags))), q, topK, metric)
      case "exact" => Knn.search(s, q, topK, metric)
      case "approximate" =>
        val idx = ensureAnnIndex(s, metric)
        val hits = IvfIndex.search(spark, idx, q, topK,
          nProbe = math.max(2, efSearch / 2))
        import org.apache.spark.sql.functions.{broadcast, col}
        // J1 hydration: attach full records to the top-k ids
        broadcast(hits).join(s.read(), Seq("id"), "inner")
          .orderBy(col("distance").asc, col("id").asc)
      case other => return badRequest(s"unknown search_type: $other")
    }
    val rows = results.collect()
    val ms = (System.nanoTime() - t0) / 1e6
    ok(obj(o => {
      val arr = o.putArray("results")
      rows.foreach { r =>
        val e = arr.addObject()
        e.put("id", r.getAs[Long]("id"))
        val vs = e.putArray("values")
        r.getSeq[Float](r.fieldIndex("values")).foreach(vs.add(_))
        e.put("name", r.getAs[String]("name"))
        val ts = e.putArray("tags")
        Option(r.getSeq[String](r.fieldIndex("tags")))
          .getOrElse(Seq.empty).foreach(ts.add)
        e.put("score", r.getAs[Double]("distance").toFloat)
      }
      o.put("query_time_ms", ms)
    }))
  }

  /** POST /flush */
  def flush(): ApiResponse = guard {
    requireStore().flush()
    annState = None
    ok(obj(_.put("status", "success")))
  }

  /** POST /snapshot — also flushes, storage_manager.rs:407 */
  def snapshot(): ApiResponse = guard {
    requireStore().snapshot()
    ok(obj(_.put("status", "success")))
  }

  /** POST /restore */
  def restore(): ApiResponse = guard {
    requireStore().restore()
    annState = None
    ok(obj(_.put("status", "success")))
  }

  /** Build (or reuse) the persisted ANN artifact for the current store
    * state — replaces the reference's per-query HNSW rebuild
    * (rank.rs:204-239) with a cached index keyed on the store version. */
  private def ensureAnnIndex(s: VfsStore, metric: Metric): String = {
    s.flush()
    val version = s.countEstimate
    val key = metric.toString
    val path = s"$rootDir/ann-${key.toLowerCase}"
    annState match {
      case Some((v, k)) if v == version && k == key => path
      case _ =>
        val n = math.max(1, math.min(256, math.sqrt(version.toDouble).toInt))
        IvfIndex.build(s.read(), path, n, metric)
        annState = Some((version, key))
        path
    }
  }

  /** Error taxonomy parity with the reference's `VFSError` kinds
    * (vfs/src/vfs/err.rs:10-17) and their HTTP mapping
    * (tcp.rs:328-351). */
  private def guard(f: => ApiResponse): ApiResponse =
    try f catch {
      case e: InvalidVectorException => badRequest(e.getMessage, "InvalidVector")
      case e: IllegalStateException => badRequest(e.getMessage, "Memtable")
      case e: IllegalArgumentException => badRequest(e.getMessage, "InvalidVector")
      case e: graft.store.StoreStateException =>
        badRequest(e.getMessage, "Serialization")
      case e: java.io.IOException =>
        ApiResponse(500, obj(o => { o.put("error", String.valueOf(e.getMessage))
          o.put("error_kind", "Io") }))
      case e: Exception =>
        ApiResponse(500, obj(o => { o.put("error", String.valueOf(e.getMessage))
          o.put("error_kind", "Io") }))
    }
}

object VfsApi {
  val mapper: ObjectMapper = graft.operators.ArtifactIo.mapper

  private def obj(f: ObjectNode => Unit): JsonNode = {
    val o = mapper.createObjectNode()
    f(o)
    o
  }
  private def ok(body: JsonNode) = ApiResponse(200, body)
  private def badRequest(msg: String, kind: String = "InvalidVector") =
    ApiResponse(400, obj(o => { o.put("error", msg); o.put("error_kind", kind) }))

  private def floats(n: JsonNode): Array[Float] = n match {
    case a: ArrayNode =>
      val out = new Array[Float](a.size())
      var i = 0
      while (i < a.size()) { out(i) = a.get(i).floatValue(); i += 1 }
      out
    case _ => Array.empty
  }

  private def strings(n: JsonNode): Seq[String] = n match {
    case a: ArrayNode => (0 until a.size()).map(a.get(_).asText())
    case _ => Seq.empty
  }
}
