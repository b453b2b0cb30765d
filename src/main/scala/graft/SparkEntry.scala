package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Knn, Metric}
import graft.queries._

/** Driver contract — one declared query per implemented operator from
  * SURVEY.md §2, each with the DuckDB oracle SQL that gates it. The
  * queries live as [[graft.queries.QuerySpec]]s in their family files
  * under `graft/queries`; `queries` and `oracleSql` are views of the
  * one registry. */
object SparkEntry {

  /** Flagship: exact cosine top-5 around a stored embedding on sf0.001
    * (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("values"))
    val q = emb.filter(col("id") === 1L).head().getSeq[Float](1).toArray
    Knn.exact(emb, q, 5, Metric.Cosine)
  }

  /** Every declared query, family by family. Lazy so that `entry`
    * does not build the oracle strings. */
  lazy val registry: Seq[QuerySpec] = registryOf(
    CoreQueries.specs ++ AnalyticsQueries.specs ++ AnnQueries.specs ++
      MiningQueries.specs ++ SrcQueries.specs ++ TextQueries.specs ++
      DedupQueries.specs ++ MultimodalQueries.specs ++
      WebQueries.specs ++ PipelineQueries.specs ++
      StreamQueries.specs ++ SqlTvfQueries.specs)

  /** `specs` as a registry: a name declared twice is refused (a map
    * view would silently keep only one of them). */
  private[graft] def registryOf(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect {
      case (name, same) if same.size > 1 => name }
    require(dups.isEmpty,
      s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
