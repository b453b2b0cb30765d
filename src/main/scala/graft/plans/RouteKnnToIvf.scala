package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.{IvfIndex, Metric}

/** Registry of persisted IVF indexes keyed by the DATA location they
  * were built from — the engine's analog of a database's index catalog.
  * Registering `(dataPath → indexPath)` lets [[RouteKnnToIvf]] rewrite
  * a [[KnnSearch]] over that parquet location into an index probe, the
  * way a B-tree turns a table scan into an index scan. */
object IndexRegistry {
  /** One registered index: where it lives, plus WHICH source columns
    * (names in the data files) it was built from — required so that on
    * a table with several vector (or id) columns, `SELECT other_vec AS
    * values` over the registered location cannot silently route to an
    * index built on a different column (it falls through to exact). */
  case class IndexEntry(indexPath: String, idCol: String, vecCol: String)

  private val reg =
    scala.collection.concurrent.TrieMap.empty[String, IndexEntry]

  /** Fully-qualified URI string — scheme and authority INCLUDED, so
    * `/tables/emb` on two different filesystems/buckets cannot collide
    * in the registry. Relative/bare paths qualify against the session's
    * Hadoop default FS (same resolution the scan itself uses). */
  private def normalize(p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    path.getFileSystem(conf).makeQualified(path).toString
  }

  /** `idCol`/`vecCol` name the columns OF THE DATA FILES the index was
    * built over (before any query-side renames). */
  def register(dataPath: String, indexPath: String,
      idCol: String = "id", vecCol: String = "values"): Unit =
    reg.put(normalize(dataPath), IndexEntry(indexPath, idCol, vecCol))

  def unregister(dataPath: String): Unit = reg.remove(normalize(dataPath))
  def clear(): Unit = reg.clear()

  /** Registry entry if the single leaf relation `scan` reads a
    * registered location. */
  private[plans] def lookupFor(scan: LogicalRelation): Option[IndexEntry] =
    scan.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.flatMap(p => reg.get(normalize(p.toString)))
          .headOption
      case _ => None
    }
}

/** Optimizer routing: rewrite [[KnnSearch]] into an IVF index probe
  * when the scanned location has a registered index of the same metric
  * — the caller keeps writing `knn(df, q, k)` and deploys an index as
  * a pure config/registry change, exactly how a relational optimizer
  * picks an index scan. Must run BEFORE [[ResolveKnnSearch]] (it is
  * injected first in [[graft.GraftExtensions]]); unrouted nodes fall
  * through to the exact rewrite.
  *
  * Routing guards (all must hold, otherwise exact semantics win):
  *  - the node's child is the bare registered scan, or a pure
  *    column-selection/rename Project directly over it — a Filter,
  *    Limit, join, or computed column between scan and node makes the
  *    child NOT index-servable, and the node falls through to exact
  *    (routing there would silently drop the intermediate operators)
  *  - the index metric equals the node's metric (simd_* aliases fold)
  *
  * Routed output is APPROXIMATE top-k (recall follows nProbe — set
  * `spark.graft.knn.nprobe`, default 4), and for cosine indexes the
  * returned vector is the index's stored representation (normalized).
  * The rewrite projects the probe plan's columns onto the node's
  * original exprIds, so references above the node stay valid.
  *
  * The rewrite plants a DEFERRED [[IvfProbe]] leaf: the centroid
  * top-k and probed-directory listing run at EXECUTION time
  * (IvfProbeExec), so a cached/reused plan sees clusters appended
  * after analysis — nothing about the probe set is frozen into the
  * plan.
  */
object RouteKnnToIvf extends Rule[LogicalPlan] {

  /** The scan under `child` — iff child is the scan itself or one pure
    * attribute-only Project over it (column pruning / renames) — plus
    * the output-name → scan-column-name mapping, so the caller can
    * check that the node's id/vec columns actually come from the
    * SOURCE columns the index was built on (a rename of a *different*
    * vector column to "values" must not route). */
  private def servableScan(
      child: LogicalPlan): Option[(LogicalRelation, Map[String, String])] =
    child match {
      case r: LogicalRelation =>
        Some((r, r.output.map(a => a.name -> a.name).toMap))
      case Project(projectList, r: LogicalRelation)
          if projectList.forall(isAttributeOnly) =>
        Some((r, projectList.map {
          case Alias(src: AttributeReference, name) => name -> src.name
          case a: Attribute => a.name -> a.name
        }.toMap))
      case _ => None
    }

  private def isAttributeOnly(e: NamedExpression): Boolean = e match {
    case _: Attribute => true
    case Alias(_: AttributeReference, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case node @ KnnSearch(child, query, k, metric, vecCol, idCol, _)
        if child.resolved &&
          child.output.map(_.name).toSet == Set(idCol, vecCol) =>
      servableScan(child).flatMap { case (scan, nameMap) =>
        IndexRegistry.lookupFor(scan).filter(e =>
          nameMap.get(idCol).contains(e.idCol) &&
            nameMap.get(vecCol).contains(e.vecCol))
      } match {
        case Some(entry)
            if IvfIndex.metricOf(entry.indexPath) ==
              Metric.parse(metric).name =>
          val nProbe = SparkSession.active.conf
            .get("spark.graft.knn.nprobe", "4").toInt
          // plant the DEFERRED probe leaf carrying the node's own
          // output attributes: the centroid top-k and directory listing
          // run at execution time (IvfProbeExec), so a cached plan sees
          // post-analysis appends
          IvfProbe(entry.indexPath, query, k, nProbe, idCol, vecCol,
            node.output)
        case _ => node
      }
  }
}
