package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals

/** One call into a layer, recorded from the benchmark's side of the
  * call. `parent` is 0 for a root span; spans of one request share
  * `request`. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0L; var tasks = 0L; var runMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var planningMs = 0L
}

/** Records spans when enabled; a disabled tracer runs the body and
  * nothing else, so the untimed and untraced paths share one code
  * path. Spans live in memory until [[spans]] is read at the end.
  *
  * Spark attribution: while a span is open its id is a job tag of the
  * client thread (job tags are a SparkContext local property), so the
  * asynchronous listener events of the jobs, stages and SQL executions
  * it starts name it. Nested spans carry every open id; the innermost
  * (the largest) wins. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var open: List[Long] = Nil
  private var nextId = 1L
  private val Prefix = "perfbench-span-"
  private val work = new ConcurrentHashMap[Long, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()

  private def spanOf(tags: Iterable[String]): Long =
    tags.iterator.filter(_.startsWith(Prefix))
      .map(_.stripPrefix(Prefix).toLong).maxOption.getOrElse(0L)

  private def spanOf(props: java.util.Properties): Long =
    if (props == null) 0L
    else Option(props.getProperty("spark.job.tags"))
      .map(t => spanOf(t.split(",").toSeq)).getOrElse(0L)

  private def workOf(span: Long): SparkWork =
    work.computeIfAbsent(span, _ => new SparkWork)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s > 0) workOf(s).synchronized(workOf(s).jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      if (s > 0) stageSpan.put(e.stageInfo.stageId, s)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.getOrDefault(e.stageId, 0L)
      if (s > 0 && e.taskMetrics != null) {
        val w = workOf(s)
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          w.runMs += m.executorRunTime
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val id = spanOf(s.jobTags)
        if (id > 0) execSpan.put(s.executionId, id)
      case end: SparkListenerSQLExecutionEnd =>
        val id = execSpan.getOrDefault(end.executionId, 0L)
        if (id > 0) Internals.planningMs(end).foreach { ms =>
          val w = workOf(id)
          w.synchronized(w.planningMs += ms)
        }
      case _ =>
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(Listener)

  def span[T](name: String, request: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      sc.addJobTag(Prefix + id)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.removeJobTag(Prefix + id)
        buf += Span(id, name, parent, request, t0, t1)
      }
    }

  /** Every span recorded so far, after the listener bus has delivered
    * the events of the jobs they started. */
  def spans(): Seq[Span] = {
    if (enabled) Internals.drainListenerBus(spark.sparkContext)
    buf.toSeq
  }

  def sparkWork(spanId: Long): Option[SparkWork] = Option(work.get(spanId))

  def close(): Unit =
    if (enabled) spark.sparkContext.removeSparkListener(Listener)
}

object Trace {
  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).sortBy(_.startNs)
      var covered = 0L; var until = s.startNs
      cs.foreach { c =>
        val a = math.max(c.startNs, until); val b = math.min(c.endNs, s.endNs)
        if (b > a) { covered += b - a; until = b }
      }
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }

  def toJson(s: Span): String =
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""

  /** JVM counters whose deltas the traced run reports. */
  final case class Jvm(gcMs: Long, jitMs: Long, codegenCompiles: Long)
  def jvm(): Jvm = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    Jvm(gc, jit, org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount)
  }
}
