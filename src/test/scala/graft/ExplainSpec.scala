package graft

import org.scalatest.funsuite.AnyFunSuite

/** Explain's per-query dump: an eager operator returns a scan of its
  * checkpointed result, so the plans that show its shape are the ones
  * its build executed — the dump must print those before the returned
  * frame's plan, and print nothing extra for a lazy query. */
class ExplainSpec extends AnyFunSuite {
  private val spark = GraftTest.spark

  private def dump(name: String): Seq[String] = {
    val q = SparkEntry.registry.find(_.name == name).get
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(
      tools.Explain.dumpQuery(spark, GraftTest.sf0001, q))
    // one element per printed plan, in print order
    out.toString("UTF-8").split("== Physical Plan ==").toSeq.drop(1)
  }

  test("an eager query's dump shows the operator's own exchanges " +
      "before the returned frame's plan") {
    for (name <- Seq("pipeline_curate_e2e", "mining_margin_pairs")) {
      val plans = dump(name)
      assert(plans.size > 1, name)
      assert(plans.init.exists(_.contains("Exchange")), name)
      assert(!plans.exists(_.contains("EXPLAIN FAILED")), name)
    }
  }

  test("a lazy query's dump is its returned frame's plan alone") {
    val plans = dump("q1_agg")
    assert(plans.size == 1)
    assert(plans.head.contains("HashAggregate"))
  }
}
