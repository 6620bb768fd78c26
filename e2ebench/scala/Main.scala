package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload, one seed, one JVM.
  *
  * Phases: Spark session → the workload's set-up (inputs it generates
  * itself, stored indexes, stream queries) → one untimed warm-up pass →
  * timed passes until `--seconds` have elapsed (whole passes only) → a
  * full GC and the retained-heap reading → the workload's output summary
  * for the checks. Between timed passes the workload drops cached and
  * persisted data and collects garbage, outside the timing.
  *
  * Writes `<work>/jvm_result.json`; `run.py` reads it, runs the
  * independent checks and prints the one-line result.
  *
  * Usage: e2ebench.Main <workload> <workDir> <seed> <seconds> <trace 0|1>
  *   <smoke 0|1> <spawnEpochMs>
  */
object Main {
  /** Task slots: fixed, so every host runs the same plan shapes.
    * `E2EBENCH_SLOTS=1` gives the single-task-slot baseline run.
    */
  val Slots: Int = sys.env.get("E2EBENCH_SLOTS").map(_.toInt).getOrElse(4)

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, seedS, secondsS, traceS, smokeS, spawnS) = args
    val work = Paths.get(workDir).toAbsolutePath.normalize
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val smoke = smokeS == "1"
    val trace = if (traceS == "1") Some(new Trace(s"$workload-$seed-${System.currentTimeMillis()}")) else None

    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName(s"e2ebench-$workload")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      // keep every micro-batch's offset and commit log entry: the latency
      // of a file is read from its batch's commit time after the run
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.foreach(_.install(spark))

    def span[T](name: String)(body: => T): T = trace match {
      case Some(t) => t.span(name)(body)
      case None => body
    }

    val wl: Workload = workload match {
      case "medallion_batch" => new Medallion(spark, work, trace)
      case "stream_inbox" => new StreamInbox(spark, work, seed, smoke, trace)
      case "query_mix" => new QueryMix(spark, work, trace)
      case other => sys.error(s"unknown workload $other")
    }

    val result = span("run") {
      span("setup") { wl.setup(); span("warmup")(wl.warmup()) }
      val firstPassMs = System.currentTimeMillis()
      val before = trace.map(_.snapshot(spark))
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val timed = span("timed")(wl.timed(deadline))
      val after = trace.map(_.snapshot(spark))
      val heapMb = retainedHeapMb()
      val storedMb = wl.storedPaths.map(dirBytes).sum / 1e6
      val summary = span("summary")(wl.summary())
      val layers = (before, after) match {
        case (Some(b), Some(a)) => layerMetrics(b, a, timed.passes) ++ wl.layers(trace.get, timed)
        case _ => Map.empty[String, Double]
      }
      Map[String, Any](
        "workload" -> workload,
        "spawn_to_first_pass_s" -> (firstPassMs - spawnS.toLong) / 1e3,
        "attempted" -> timed.attempted,
        "failed" -> timed.failed,
        "passes" -> timed.passes,
        "pass_s" -> median(timed.passSec),
        "cpu_s" -> median(timed.cpuSec),
        "pass_samples_s" -> timed.passSec,
        "latency_samples_ms" -> timed.latencyMs,
        "heap_retained_mb" -> heapMb,
        "stored_mb" -> storedMb,
        "layers" -> layers,
        "summary" -> RawJson(summary))
    }
    Files.writeString(work.resolve("jvm_result.json"), Json.value(result))
    trace.foreach(_.writeSpans(work.resolve("trace_spans.jsonl")))
    wl.close()
    spark.stop()
  }

  /** Per-timed-pass deltas of the cumulative listener counters. */
  private def layerMetrics(b: Map[String, Double], a: Map[String, Double],
      passes: Int): Map[String, Double] = {
    val names = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
      "catalyst.planning_ms", "catalyst.actions", "scheduler.jobs",
      "scheduler.stages", "scheduler.tasks", "executor.run_ms", "executor.cpu_ms",
      "executor.gc_ms", "executor.input_mb", "executor.shuffle_write_mb",
      "executor.shuffle_read_mb", "executor.spill_mb", "executor.output_mb",
      "executor.files_written")
    names.map(n => n -> (a.getOrElse(n, 0.0) - b.getOrElse(n, 0.0)) / passes.max(1)).toMap
  }

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Live heap after a full collection. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(100); System.gc()
    (rt.totalMemory - rt.freeMemory) / 1e6
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Count of parquet part files under a directory. */
  def partFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.getFileName.toString.startsWith("part-")).count()
      finally s.close()
    }
}

/** What a workload's timed phase measured. `latencyMs` holds one sample
  * per latency-bearing operation.
  */
final case class Timed(passes: Int, attempted: Long, failed: Long,
    passSec: Seq[Double], cpuSec: Seq[Double], latencyMs: Seq[Double])

trait Workload {
  def setup(): Unit
  def warmup(): Unit
  /** Whole passes until `deadlineNanos` (see `loop`). */
  def timed(deadlineNanos: Long): Timed
  /** Directories whose bytes are the workload's stored footprint. */
  def storedPaths: Seq[Path]
  /** JSON object describing the outputs, for the independent checks. */
  def summary(): String
  /** Workload-specific per-layer metrics for the traced run. */
  def layers(t: Trace, timed: Timed): Map[String, Double]
  def close(): Unit = ()

  /** Run whole passes until the deadline (at least `minPasses`). `prep`
    * runs before each pass, outside the timing, followed by a full GC.
    * A pass that times itself (a sum of per-operation times) reports
    * `wallSec`/`cpuSec`; otherwise the whole call is timed.
    */
  protected def loop(deadlineNanos: Long, minPasses: Int = 3)(prep: => Unit)(
      pass: => Pass): Timed = {
    val wall = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    while (wall.size < minPasses || System.nanoTime() < deadlineNanos) {
      prep
      System.gc()
      val c0 = Main.cpuNanos()
      val t0 = System.nanoTime()
      val p = pass
      val w = (System.nanoTime() - t0) / 1e9
      val c = (Main.cpuNanos() - c0) / 1e9
      wall += (if (p.wallSec.isNaN) w else p.wallSec)
      cpu += (if (p.cpuSec.isNaN) c else p.cpuSec)
      attempted += p.attempted; failed += p.failed; lat ++= p.latencyMs
    }
    Timed(wall.size, attempted, failed, wall.toSeq, cpu.toSeq, lat.toSeq)
  }
}

final case class Pass(attempted: Long, failed: Long, latencyMs: Seq[Double],
    wallSec: Double = Double.NaN, cpuSec: Double = Double.NaN)
