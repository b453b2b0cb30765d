package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Driver-side vector helpers: the engine's two distance kernels
  * re-stated (same double accumulation order, so results are
  * bit-identical), brute-force top-k, and the bulk-load frame. */
object Vectors {
  def euclidean(x: Array[Float], y: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < x.length) {
      val d = x(i).toDouble - y(i).toDouble
      acc += d * d; i += 1
    }
    math.sqrt(acc)
  }

  def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < x.length) {
      val a = x(i).toDouble; val b = y(i).toDouble
      dot += a * b; na += a * a; nb += b * b; i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Ids (1-based: row i has id i + 1) of the k nearest of the first
    * `n` rows, ties broken by id. */
  def topK(rows: collection.IndexedSeq[Array[Float]], n: Int, q: Array[Float],
      k: Int, cos: Boolean): Array[Long] = {
    val d = new Array[Double](k); val id = new Array[Long](k)
    var size = 0; var i = 0
    while (i < n) {
      val x = if (cos) cosine(rows(i), q) else euclidean(rows(i), q)
      // (x, i+1) beats the current worst iff smaller; ids arrive
      // ascending, so an equal distance never displaces an earlier id
      if (size < k || x < d(size - 1)) {
        var j = if (size < k) size else k - 1
        while (j > 0 && d(j - 1) > x) { d(j) = d(j - 1); id(j) = id(j - 1); j -= 1 }
        d(j) = x; id(j) = i + 1L
        if (size < k) size += 1
      }
      i += 1
    }
    id.take(size)
  }

  /** Brute-force top-k for many queries, one query per core. */
  def topKAll(rows: collection.IndexedSeq[Array[Float]], qs: Seq[Array[Float]],
      k: Int, cos: Boolean): Seq[Array[Long]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.traverse(qs)(q =>
      Future(topK(rows, rows.length, q, k, cos))), Duration.Inf)
  }

  val inputSchema: StructType = StructType(Seq(
    StructField("values", ArrayType(FloatType)),
    StructField("name", StringType),
    StructField("tags", ArrayType(StringType))))

  /** `n` corpus points of `mix` (stream `tag`) as an ingest frame,
    * generated inside the tasks in id order. */
  def corpusFrame(spark: SparkSession, mix: Mixture, tag: Long, n: Int,
      parts: Int): DataFrame = {
    val rdd = spark.sparkContext.range(0L, n.toLong, 1L, parts).map { i =>
      Row(mix.corpus(tag, i).toSeq, s"v$i", Seq(s"c${mix.component(tag, i)}"))
    }
    spark.createDataFrame(rdd, inputSchema)
  }
}
