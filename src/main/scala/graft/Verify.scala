package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each declared query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is recorded in `$outDir/_errors.json` (name → exception) — a
  * red query must never be indistinguishable from a never-declared one
  * (round 6: three broken queries silently vanished from CORRECTNESS
  * because failures only went to stderr). */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonObj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")

  /** Head of a failure (class + first message lines, bounded) — the
    * published artifact must self-evidence the root cause, not the
    * stack tail. Shared by Verify's `_errors.json` and Bench's
    * `errors` field so the two artifacts describe a failure
    * identically. */
  private[graft] def errHead(e: Throwable): String =
    e.getClass.getName + ": " +
      Option(e.getMessage).getOrElse("").linesIterator
        .take(4).mkString(" / ").take(500)

  /** Run each query, dump its result under `outDir/<name>`, and ALWAYS
    * write `_errors.json` (empty object when all green). Returns the
    * failures. Factored out of `main` so the harness spec can prove a
    * deliberately-throwing query yields a recorded error artifact, not
    * silence. */
  private[graft] def runAll(spark: SparkSession, sfDir: String,
      outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      only: Set[String] = Set.empty): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // report-only cache accounting: which queries left CacheManager
    // entries behind, and how many persistent RDDs the sweep left
    def entries = org.apache.spark.sql.graft.shims.cachedEntryCount(spark)
    def rdds = spark.sparkContext.getPersistentRDDs.size
    val (entries0, rdds0) = (entries, rdds)
    val leftBy = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        val before = entries
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = errHead(e)
          System.err.println(s"[verify] $name failed: $msg")
          errors(name) = msg
        }
        if (entries > before) leftBy(name) = entries - before
      }
    println(s"[verify] the sweep left ${entries - entries0} CacheManager " +
      s"entries and ${rdds - rdds0} persistent RDDs" +
      (if (leftBy.isEmpty) ""
       else leftBy.map { case (n, c) => s"$n: $c" }
         .mkString("; entries by query: ", ", ", "")))
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      jsonObj(errors))
    errors.toMap
  }

  /** `<sfDir> <outDir> [query ...]`: the directories and the queries
    * to run (none named = all). A wrong argument count or an unknown
    * query name is refused before any Spark work, so a typo cannot
    * pass as an empty, green sweep. */
  private[graft] def parseArgs(args: Seq[String])
      : (String, String, Set[String]) = args match {
    case Seq(sfDir, outDir, only @ _*) =>
      val unknown = only.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"unknown queries: ${unknown.mkString(", ")}")
      (sfDir, outDir, only.toSet)
    case _ => throw new IllegalArgumentException(
      "usage: graft.Verify <sfDir> <outDir> [query ...]")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) =
      try parseArgs(args.toSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    runAll(spark, sfDir, outDir, SparkEntry.queries, only)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObj(SparkEntry.registry.map(q => q.name -> q.oracle)))
    spark.stop()
  }
}
