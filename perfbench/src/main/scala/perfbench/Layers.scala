package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Turns a traced run's spans into per-layer metrics, and writes the
  * span dump and the per-layer table. */
final class Layers(ctx: Ctx, tracer: Tracer, spans: Seq[Span]) {
  private val rep = ctx.report

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Mean duration of the spans called `span`. */
  def mean(span: String, metric: String): Unit =
    rep.put(metric, Stats.mean(named(span).map(_.ms)), "ms")

  /** Per-call Spark work of each span name: jobs, tasks, planning
    * (analysis + optimization + planning phases), task run time,
    * shuffle-write and spill bytes. `alias` folds a span name into
    * another before averaging. */
  def sparkWork(names: Seq[String], alias: Map[String, String] = Map.empty): Unit =
    names.foreach { n =>
      val ss = spans.filter(s => alias.getOrElse(s.name, s.name) == n)
      val ws = ss.map(s => tracer.sparkWork(s.id).getOrElse(new SparkWork))
      val calls = math.max(1, ss.size).toDouble
      def put(field: String, unit: String, f: SparkWork => Long): Unit =
        rep.put(s"$n.$field", ws.map(f).sum / calls, unit)
      put("jobs", "count", _.jobs)
      put("tasks", "count", _.tasks)
      put("planning_ms", "ms", _.planningMs)
      put("run_ms", "ms", _.runMs)
      put("shuffle_bytes", "bytes", _.shuffleBytes)
      put("spill_bytes", "bytes", _.spillBytes)
    }

  def jvm(a: Trace.Jvm, b: Trace.Jvm): Unit = {
    rep.put("jvm.gc_ms", (b.gcMs - a.gcMs).toDouble, "ms")
    rep.put("jvm.jit_ms", (b.jitMs - a.jitMs).toDouble, "ms")
    rep.put("jvm.codegen_compiles", (b.codegenCompiles - a.codegenCompiles).toDouble,
      "count")
  }

  /** Tracing overhead: the traced pass's time per operation over the
    * untraced pass's, minus one. */
  def overhead(untracedPerOp: Double, tracedPerOp: Double): Unit =
    rep.put("trace.overhead_share", tracedPerOp / untracedPerOp - 1.0, "ratio")

  /** Checks that the spans' self times fit in the traced wall time,
    * then writes the span dump and the per-layer table. */
  def finish(tracedWallS: Double): Unit = {
    val self = Trace.selfMs(spans)
    val selfSum = self.values.sum
    rep.put("trace.self_ms_sum", selfSum, "ms")
    rep.put("trace.wall_ms", tracedWallS * 1000, "ms")
    rep.invariant(f"span self times ($selfSum%.1f ms) within the traced wall " +
      f"time (${tracedWallS * 1000}%.1f ms)", selfSum <= tracedWallS * 1000 + 1e-6)
    val stem = s"${ctx.workload}-seed${ctx.seed}"
    Files.createDirectories(ctx.out)
    Files.write(ctx.out.resolve(s"$stem-spans.jsonl"),
      spans.map(Trace.toJson).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    val rows = spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.ms).sum, ss.map(s => self(s.id)).sum)
    }.sortBy(-_._4)
    val table = new StringBuilder
    table ++= f"${"span"}%-28s ${"calls"}%7s ${"total_ms"}%11s ${"self_ms"}%11s ${"self_share"}%10s%n"
    rows.foreach { case (n, c, tot, sf) =>
      table ++= f"$n%-28s $c%7d $tot%11.1f $sf%11.1f ${sf / (tracedWallS * 1000)}%10.3f%n"
    }
    table ++= f"${"(traced wall time)"}%-28s ${""}%7s ${tracedWallS * 1000}%11.1f%n"
    table ++= "\nmetric                                              value unit\n"
    rep.metrics.foreach { case (k, (v, u)) => table ++= f"$k%-44s $v%14.4f $u%n" }
    Files.write(ctx.out.resolve(s"$stem-layers.txt"),
      table.toString.getBytes(StandardCharsets.UTF_8))
    System.err.print(table.toString)
  }
}
