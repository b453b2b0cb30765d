package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Internal-column hygiene for operators that inject `__`-prefixed
  * working columns (`__bin`, `__salt`, `__rn`, …): if the input already
  * carries one of those names the operator would silently overwrite it
  * and drop the user's column from the output — fail loudly instead
  * (same stance as [[graft.store.ZOrderLayout]]'s `__z` guard).
  *
  * Also the ONE place an operator reads the session's core width
  * (`defaultParallelism`): [[spread]] before compute-bound per-row
  * kernels, [[pinned]] for exchanges AQE must not coalesce, and
  * [[dedupPairs]] for the candidate-pair dedup of the LSH family. A
  * width policy changes here and nowhere else. */
private[graft] object WorkCols {
  def requireFree(df: DataFrame, names: String*): Unit = {
    val clash = df.columns.toSet.intersect(names.toSet)
    require(clash.isEmpty,
      s"[GRAFT] input already contains reserved working column(s) " +
        s"${clash.mkString(", ")} — rename before calling this operator")
  }

  /** Widen a few-file input to the session's parallelism before a
    * compute-bound per-row kernel: a corpus read as one or two big
    * files would otherwise run the kernel on as few cores (measured
    * 2.2 s single-threaded vs 0.3 s spread for one 5k-doc signature
    * pass). The tiny up-front shuffle is irrelevant at any scale where
    * it triggers — real 100 TB inputs arrive in many files and skip
    * this branch entirely.
    *
    * Only SCAN-SHAPED plans (leaf + projections/filters) are
    * inspected: `.rdd` under AQE EXECUTES every query stage in a
    * shuffle-bearing plan just to report its final partitioning —
    * r18 measured a curate composition running its whole upstream
    * (pair fold + anti-join) TWICE, 2× whole-operator CPU, from one
    * spread() over an un-persisted anti-join. A plan that already
    * contains a shuffle is post-exchange wide (shuffle.partitions)
    * and needs no spreading — return it untouched, and pay the
    * `.rdd` partition probe only where it is free (narrow lineage
    * has no AQE wrapper and no jobs to run). */
  def spread(df: DataFrame): DataFrame = {
    val p = width(df)
    if (scanShaped(df.queryExecution.optimizedPlan) &&
      df.rdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  /** Hash-repartition on `keys` at the session's core width
    * (REPARTITION_BY_NUM): AQE's byte-based coalescing never folds a
    * numbered exchange, so the byte-small but compute-bound stages
    * stacked on it (bucket folds, pair verifies) keep every core
    * (measured 2× on whole-operator time at sf0.1 without the pin). */
  def pinned(df: DataFrame, keys: String*): DataFrame =
    df.repartition(width(df), keys.map(col): _*)

  /** Distinct `(a, b)` candidate pairs behind a [[pinned]] exchange on
    * the pair — the dedup every LSH pair producer ends with, before
    * its compute-bound exact verify. */
  def dedupPairs(pairs: DataFrame, a: String, b: String): DataFrame =
    pinned(pairs, a, b).dropDuplicates(a, b)

  private def width(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  private def scanShaped(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case _: LeafNode => true
      case n: Project => scanShaped(n.child)
      case n: Filter => scanShaped(n.child)
      case n: SubqueryAlias => scanShaped(n.child)
      case _ => false
    }
  }
}
