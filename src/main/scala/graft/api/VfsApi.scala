package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.{arrays_overlap, col, typedLit}

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
  *
  * Request cost. Like the reference (`rank.rs` ranks, the
  * `storage_manager.rs` id index resolves the winners), a warm request
  * pays a small fixed number of Spark jobs, none with a shuffle: store
  * reads use the manifest's known schema, so an exact search or a get
  * is ONE job; an approximate search is TWO — the probe top-k over the
  * probed cluster dirs of a cached [[IvfIndex.Handle]] (the centroids
  * stay in driver memory across requests), then [[VfsStore.getByIds]]'s
  * id-pruned read of the ≤ k winners, sorted by (distance, id) on the
  * driver.
  */
class VfsApi(spark: SparkSession, rootDir: String) {
  import VfsApi._

  @volatile private var store: Option[VfsStore] = None
  // opened ANN indexes, one per metric, each with the store version it
  // was built at; dropped when the store's commit state moves
  @volatile private var annCache = Map.empty[Metric, (Long, IvfIndex.Handle)]

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
    annCache = Map.empty
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
    annCache = Map.empty
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
    * ef_search?, filter_tags?} → {results: [{id, values, name, tags,
    * score}], query_time_ms}. Defaults follow tcp.rs:383-397:
    * approximate, euclidean, top_k=5 (rank.rs:129), ef_search=6 →
    * nProbe = max(2, ef_search / 2). `filter_tags` (an extension) keeps
    * only records whose tags overlap it, BEFORE the top-k on both
    * paths. Exact: one scored top-k over the store. Approximate: the
    * cached index's probe top-k of (id, distance), then the winners'
    * records by id, ordered by (distance, id) on the driver. */
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
    val tagged = if (filterTags.isEmpty) None
      else Some(arrays_overlap(col("tags"), typedLit(filterTags)))
    val results: Seq[Scored] = searchType match {
      case "exact" =>
        tagged.fold(Knn.search(s, q, topK, metric))(
            t => Knn.exact(s.read().filter(t), q, topK, metric))
          .collect().toSeq.map { r =>
            Scored(r.getAs[Long]("id"),
              r.getSeq[Float](r.fieldIndex("values")), r.getAs[String]("name"),
              r.getSeq[String](r.fieldIndex("tags")),
              r.getAs[Double]("distance"))
          }
      case "approximate" =>
        val idx = ensureAnnIndex(s, metric)
        val nProbe = math.max(2, efSearch / 2)
        val hits = tagged.fold(idx.search(q, topK, nProbe))(t =>
            idx.searchFiltered(q, topK, s.read().filter(t).select(col("id")),
              nProbe))
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        val records = s.getByIds(hits.map(_._1).toSeq).map(r => r.id -> r).toMap
        hits.toSeq.flatMap { case (id, d) =>
          records.get(id).map(r => Scored(id, r.values.toSeq, r.name, r.tags, d))
        }.sortWith { (a, b) =>
          val c = SQLOrderingUtil.compareDoubles(a.distance, b.distance)
          c < 0 || (c == 0 && a.id < b.id)
        }
      case other => return badRequest(s"unknown search_type: $other")
    }
    val ms = (System.nanoTime() - t0) / 1e6
    ok(obj(o => {
      val arr = o.putArray("results")
      results.foreach { r =>
        val e = arr.addObject()
        e.put("id", r.id)
        val vs = e.putArray("values")
        r.values.foreach(vs.add(_))
        e.put("name", r.name)
        val ts = e.putArray("tags")
        Option(r.tags).getOrElse(Seq.empty).foreach(ts.add)
        e.put("score", r.distance.toFloat)
      }
      o.put("query_time_ms", ms)
    }))
  }

  /** POST /flush */
  def flush(): ApiResponse = guard {
    requireStore().flush()
    annCache = Map.empty
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
    annCache = Map.empty
    ok(obj(_.put("status", "success")))
  }

  /** The opened ANN index of `metric` for the current store state,
    * built on a miss — replaces the reference's per-query HNSW rebuild
    * (rank.rs:204-239) with one cached index per metric, keyed on the
    * store version, so alternating metrics reuse both. */
  private def ensureAnnIndex(s: VfsStore, metric: Metric): IvfIndex.Handle = {
    s.flush()
    val version = s.countEstimate
    annCache.get(metric) match {
      case Some((v, handle)) if v == version => handle
      case _ =>
        val path = s"$rootDir/ann-${metric.toString.toLowerCase}"
        val n = math.max(1, math.min(256, math.sqrt(version.toDouble).toInt))
        IvfIndex.build(s.read(), path, n, metric)
        val handle = IvfIndex.open(spark, path)
        annCache = annCache.updated(metric, (version, handle))
        handle
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

  /** One search result row, as the response reports it. */
  private case class Scored(id: Long, values: Seq[Float], name: String,
      tags: Seq[String], distance: Double)

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
