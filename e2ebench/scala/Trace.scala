package e2ebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: name, wall-clock bounds (epoch ms), parent span and the
  * run it belongs to. Spans stay in memory and are written as JSONL once,
  * at exit.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Benchmark-owned spans and listeners for the traced run. The untraced
  * run never constructs one, so it carries no listener at all.
  *
  * Layers read here:
  *  - catalyst: `QueryExecutionListener`, per action the `qe.tracker`
  *    phase times and the `numFiles` metric of write commands;
  *  - scheduler / executor: `SparkListener` job, stage and task events
  *    with their task metrics;
  *  - streaming: `StreamingQueryListener` progress, one per trigger.
  * Every counter is cumulative; callers take a `snapshot` before and after
  * a phase and subtract.
  */
final class Trace(val runId: String) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.synchronized { spans.size }
    val parent = current
    spans.synchronized { spans += Span(id, parent, name, nowMs, Double.NaN) }
    current = id
    try body
    finally {
      current = parent
      spans.synchronized { spans(id) = spans(id).copy(endMs = nowMs) }
    }
  }

  /** Record an already-finished span (e.g. a trigger reported by a
    * listener) under the innermost open span.
    */
  def addSpan(name: String, startMs: Double, endMs: Double): Unit =
    spans.synchronized { spans += Span(spans.size, current, name, startMs, endMs) }

  // ---- cumulative counters, written from listener threads ----
  val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)

  /** (launchTime, finishTime, recordsRead) of every finished task, so a
    * caller can attribute scans to a time window.
    */
  val tasks = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** Every streaming progress event (one per trigger and query). */
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  /** Benchmark-set local property naming the operation a job belongs to. */
  val OpProperty = "e2ebench.op"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1)
      Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .foreach(op => add(s"jobs.$op", 1))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor.run_ms", m.executorRunTime.toDouble)
        add("executor.cpu_ms", m.executorCpuTime / 1e6)
        add("executor.gc_ms", m.jvmGCTime.toDouble)
        add("executor.input_mb", m.inputMetrics.bytesRead / 1e6)
        add("executor.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("executor.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("executor.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("executor.output_mb", m.outputMetrics.bytesWritten / 1e6)
        tasks.synchronized {
          tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime, m.inputMetrics.recordsRead))
        }
      }
    }
  }

  /** Sum of the `numFiles` metric over every node of a plan, AQE and
    * subqueries included (write commands carry it).
    */
  private def filesWritten(p: SparkPlan): Long = {
    val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val inner = p match {
      case a: AdaptiveSparkPlanExec => filesWritten(a.executedPlan)
      case _ => 0L
    }
    own + inner + p.children.map(filesWritten).sum + p.subqueries.map(filesWritten).sum
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("catalyst.actions", 1)
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => add("catalyst.analysis_ms", p.durationMs.toDouble))
      ph.get("optimization").foreach(p => add("catalyst.optimization_ms", p.durationMs.toDouble))
      ph.get("planning").foreach(p => add("catalyst.planning_ms", p.durationMs.toDouble))
      add("executor.files_written", filesWritten(qe.executedPlan).toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add("catalyst.actions", 1)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every posted event, then copy the counters. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.e2ebench.Bus.drain(spark.sparkContext)
    c.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      Json.obj("run_id" -> runId, "span_id" -> s.id,
        "parent" -> (if (s.parent < 0) null else s.parent),
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for the result files (no JSON library is on the
  * classpath that both Spark and the benchmark may rely on by name).
  */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case RawJson(s) => s
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }
}

final case class RawJson(s: String)
