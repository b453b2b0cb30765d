package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Metrics, check outcomes and notes of one run. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  /** gated (BENCHMARK.json) name -> the metric it reads */
  val gated = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Publish `name` under the workload-neutral end-to-end name `as`. */
  def put(name: String, value: Double, unit: String, as: String): Unit = {
    put(name, value, unit)
    gated(as) = name
  }

  /** Count one operation; `problem` is None when its checks passed. */
  def outcome(what: => String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (failures.size < 20) failures += s"$what: $p"
    }
  }

  /** A check that is not an operation of the measured loop (a set-up
    * or end-of-run invariant): a failure still fails the run. */
  def invariant(what: String, ok: Boolean): Unit =
    if (!ok) { failed += 1; failures += s"invariant: $what" }
}

/** Command line: `--workload <api_serve|knn_batch|curate> --seed <n>
  * --seconds <s> --trace <0|1> --out <dir> --work <dir>`. Prints one
  * JSON object on its last stdout line: the run's metrics (all of
  * them, by name, with units), checks, notes and environment. */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    val work = Paths.get(opt("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val report = new Report
    report.notes("session_s") = f"$sessionS%.3f"
    val ctx = Ctx(spark, seed, seconds, traced, work, out, cores, report,
      t0, workload)
    try {
      workload match {
        case "api_serve" => ApiServe.run(ctx)
        case "knn_batch" => KnnBatch.run(ctx)
        case "curate" => Curate.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (report.attempted > 0)
        report.put("failed_share", report.failed.toDouble / report.attempted,
          "ratio")
      println(Json.result(ctx))
    } finally spark.stop()
  }
}

/** What a workload needs from [[Main]]: the session, the run parameters
  * and the report it fills. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    traced: Boolean, work: Path, out: Path, cores: Int, report: Report,
    startNs: Long, workload: String) {

  def sinceStartS: Double = (System.nanoTime() - startNs) / 1e9

  /** Whole operations in one run: `--seconds` over the operation's
    * nominal time, at least one. A fixed count, rather than a clock
    * deadline, keeps every run's statistics over the same operations:
    * the engine is still JIT-warming during the run, so a deadline
    * would give slow runs fewer and colder samples. */
  def ops(nominalS: Double): Int = math.max(1, math.round(seconds / nominalS).toInt)

  /** Bytes of every regular file under `p`. */
  def bytesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def environment: Seq[(String, String)] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Seq(
      "master" -> s"local[$cores]",
      "client_threads" -> "1",
      "loop" -> "closed",
      "seed" -> seed.toString,
      "seconds" -> seconds.toString,
      "trace" -> (if (traced) "1" else "0"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
      "jvm_flags" -> rt.getInputArguments.toArray.mkString(" "),
      "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
      "source" -> sys.props.getOrElse("perfbench.source", "unknown"),
      "git_commit" -> sys.props.getOrElse("perfbench.commit", "unknown"))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def result(c: Ctx): String = {
    val r = c.report
    obj(Seq(
      "workload" -> str(c.workload),
      "correct" -> (r.failed == 0).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> obj(r.metrics.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "gated" -> obj(r.gated.map { case (k, v) => k -> str(v) }),
      "notes" -> obj(r.notes.map { case (k, v) => k -> str(v) }),
      "failures" -> r.failures.map(str).mkString("[", ",", "]"),
      "env" -> obj(c.environment.map { case (k, v) => k -> str(v) })))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Puts the highest of p50/p75/p90/p95/p99/p99.9 that has at least
    * 10 samples above it, noting which percentile and how many
    * samples; with fewer than 20 samples no percentile qualifies and
    * the maximum is reported instead. */
  def tail(rep: Report, name: String, xs: Seq[Double]): Unit =
    Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)
      .find(p => xs.size * (1 - p) >= 10 - 1e-9) match {
      case Some(p) =>
        rep.put(name, quantile(xs, p), "ms")
        rep.notes(name) = s"${pctName(p)} of ${xs.size} samples"
      case None =>
        rep.put(name, if (xs.isEmpty) Double.NaN else xs.max, "ms")
        rep.notes(name) = s"max of ${xs.size} samples (under 20: no percentile " +
          "has 10 beyond it)"
    }

  def pctName(p: Double): String = {
    val s = java.lang.Double.toString(p * 100)
    "p" + (if (s.endsWith(".0")) s.dropRight(2) else s)
  }
}
