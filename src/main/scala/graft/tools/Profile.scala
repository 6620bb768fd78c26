package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.bridge

/** Dev tool: profile registered queries under `graft.Bench`'s session and
  * sweep. Per query: one warm pass, then `--reps N` (default 1) timed noop
  * materializations, each after a sweep. Prints one line per query:
  *
  *   PROFILE <query> sec=<median> all=<s,...> jobs= stages= tasks= scanStages= buildJobs=
  *
  * The counters are the last timed run's, read after the listener bus is
  * drained and before any plan is built; `buildJobs` of them ran while the
  * frame was constructed, before its action. `--jobs` adds that run's per-job
  * and per-stage lines; `--plans DIR` writes `DIR/<query>.txt`, the
  * formatted plan of the shipped frame, and `DIR/<query>_unshared.txt`,
  * the same frame built under `spark.graft.orderstats.share=off` (the full
  * tree, with no checkpoint leaf hiding the fact-side scans).
  *
  * Usage: runMain graft.tools.Profile <query> [query...] [--reps N] [--jobs] [--plans DIR]
  * Env: SPARK_GRAFT_SF_DIR (required), SPARK_GRAFT_CPUS (as Bench),
  * SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" (A/B confs set on top of Bench's).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val valued = Set("--reps", "--plans")
    val opt = args.sliding(2).collect { case Array(k, v) if valued(k) => k -> v }.toMap
    val names = args.indices.collect {
      case i if !args(i).startsWith("--") && !(i > 0 && valued(args(i - 1))) => args(i) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("Profile: set SPARK_GRAFT_SF_DIR to a generated sf directory"))
    val spark = graft.Bench.session()
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    try run(spark, sfDir, names, opt.get("--reps").fold(1)(_.toInt),
      args.contains("--jobs"), opt.get("--plans"))(println)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
      jobs: Boolean, plans: Option[String])(emit: String => Unit): Unit = {
    val nJobs, nStages, nTasks, nScans, nBuilt = new AtomicInteger(0)
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobLines, stageLines = new ConcurrentLinkedQueue[(Int, String)]()
    val t0 = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        nJobs.incrementAndGet()
        val desc = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(j.stageInfos.lastOption.map(si => si.name + " rdds=" +
            si.rddInfos.map(_.name).distinct.take(4).mkString("[", ",", "]")).getOrElse("?"))
        starts.put(j.jobId, (j.time, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.get(e.jobId)).foreach { case (s, d) => jobLines.add(e.jobId ->
          f"job=${e.jobId}%4d off=${s - t0.get}%6dms wall=${e.time - s}%5dms  $d") }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        nStages.incrementAndGet()
        nScans.addAndGet(s.stageInfo.rddInfos.count(_.name.contains("FileScanRDD")))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = nTasks.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        if (m != null) stageLines.add(si.stageId ->
          (f"  stage=${si.stageId}%4d tasks=${si.numTasks}%3d wall=$wall%5dms " +
          f"exec=${m.executorRunTime}%5dms cpu=${m.executorCpuTime / 1000000}%5dms " +
          f"deser=${m.executorDeserializeTime}%4dms gc=${m.jvmGCTime}%4dms " +
          f"fetchWait=${m.shuffleReadMetrics.fetchWaitTime}%4dms " +
          f"sRead=${m.shuffleReadMetrics.totalBytesRead}%8d sWrite=${m.shuffleWriteMetrics.bytesWritten}%8d  " +
          si.name.takeWhile(_ != ' ')))
      }
    }
    def reset(): Unit = {
      bridge.drainListenerBus(spark)
      Seq(nJobs, nStages, nTasks, nScans).foreach(_.set(0))
      starts.clear(); jobLines.clear(); stageLines.clear()
      t0.set(System.currentTimeMillis())
    }
    spark.sparkContext.addSparkListener(listener)
    try names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def mat(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      try {
        mat(fn(spark, sfDir)) // warm: JIT and stored-index builds land here, as in Bench
        graft.Bench.sweep(spark)
        val secs = (1 to reps.max(1)).map { _ =>
          reset()
          val w0 = System.nanoTime()
          val df = fn(spark, sfDir)
          bridge.drainListenerBus(spark)
          nBuilt.set(nJobs.get)
          mat(df)
          val sec = (System.nanoTime() - w0) / 1e9
          graft.Bench.sweep(spark)
          sec
        }.sorted
        bridge.drainListenerBus(spark)
        val n = secs.size
        val med = if (n % 2 == 1) secs(n / 2) else (secs(n / 2 - 1) + secs(n / 2)) / 2
        emit(f"PROFILE $name sec=$med%.3f all=${secs.map(s => f"$s%.2f").mkString(",")} " +
          s"jobs=${nJobs.get} stages=${nStages.get} tasks=${nTasks.get} scanStages=${nScans.get} buildJobs=${nBuilt.get}")
        if (jobs) (jobLines.asScala.toSeq.sortBy(_._1) ++ stageLines.asScala.toSeq.sortBy(_._1))
          .foreach(l => emit(l._2))
        // plans only after the counters are read: building the frame runs
        // jobs for imperative queries (index builds, iterative rounds)
        plans.foreach { dir =>
          Files.createDirectories(Paths.get(dir))
          def dump(file: String): Unit = Files.writeString(Paths.get(dir, file),
            fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted")))
          dump(s"$name.txt")
          val key = "spark.graft.orderstats.share"
          val prior = spark.conf.getOption(key)
          spark.conf.set(key, "off")
          try dump(s"${name}_unshared.txt")
          finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
          graft.Bench.sweep(spark)
        }
      } catch { case NonFatal(e) => emit(s"PROFILE-FAIL $name: $e") }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
