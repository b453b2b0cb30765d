package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.{CosineDistance, EuclideanDistance}
import graft.operators.Metric

/** Logical k-NN node — the SURVEY §7.2 stretch: `knn` as a first-class
  * plan node so the optimizer (not the caller) picks the physical
  * route. [[ResolveKnnSearch]] (injected by [[graft.GraftExtensions]])
  * rewrites it into score → sort → limit, which Spark then plans as
  * `TakeOrderedAndProject`. The node carries its output attribute so
  * references above it stay valid through the rewrite.
  */
case class KnnSearch(
    child: LogicalPlan,
    query: Seq[Float],
    k: Int,
    metric: String,
    vecCol: String,
    idCol: String,
    distAttr: AttributeReference = AttributeReference(
      "distance", DoubleType, nullable = false)())
  extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ distAttr

  override protected def withNewChildInternal(c: LogicalPlan): KnnSearch =
    copy(child = c)
}

/** Rewrites [[KnnSearch]] into Project(+distance) → Sort → Limit,
  * preserving the node's distance exprId. */
object ResolveKnnSearch extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case KnnSearch(child, query, k, metric, vecCol, idCol, distAttr) =>
      val vecAttr = child.output.find(_.name == vecCol).getOrElse(
        throw new IllegalArgumentException(s"[GRAFT] no column $vecCol"))
      val idAttr = child.output.find(_.name == idCol).getOrElse(
        throw new IllegalArgumentException(s"[GRAFT] no column $idCol"))
      val qLit = Literal(new GenericArrayData(query.toArray),
        ArrayType(FloatType, containsNull = false))
      val distExpr = Metric.parse(metric) match {
        case Metric.Cosine => CosineDistance(vecAttr, qLit)
        case Metric.Euclidean => EuclideanDistance(vecAttr, qLit)
      }
      val alias = Alias(distExpr, "distance")(exprId = distAttr.exprId)
      val proj = Project(child.output :+ alias, child)
      val sort = Sort(
        Seq(SortOrder(distAttr, Ascending), SortOrder(idAttr, Ascending)),
        global = true, proj)
      Limit(Literal(k), sort)
  }
}

object KnnPlan {
  /** `knn` as a plan-node API: requires [[ResolveKnnSearch]] to be
    * injected (GraftExtensions) or applied manually. */
  def knn(df: DataFrame, query: Array[Float], k: Int,
      metric: String = "cosine", vecCol: String = "values",
      idCol: String = "id"): DataFrame =
    shims.ofRows(df.sparkSession,
      KnnSearch(df.queryExecution.analyzed, query.toSeq, k, metric,
        vecCol, idCol))
}
