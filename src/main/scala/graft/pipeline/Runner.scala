package graft.pipeline

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Sequential pipeline orchestration, reproducing `run_full_pipeline.ps1`
  * (SURVEY §2.9 O1–O4): ordered stages, per-stage timestamped log files,
  * fail-fast on stage error, DQ exit-code policy with `warnOnly`.
  *
  * Unlike the reference there is no process boundary per stage — all stages
  * share one SparkSession/JVM (`run_full_pipeline.ps1:95-114` spawns a
  * python process per step purely because PowerShell can't hold a Spark
  * session). Stage isolation is by `Either`, not exit codes; the process
  * exit code is computed once at the end (O4, `dq_checks.py:119-120`).
  */
object Runner {

  final case class StageResult(
      name: String,
      metrics: Map[String, Long],
      seconds: Double,
      logPath: String)

  final case class PipelineOutcome(
      stages: Seq[StageResult],
      failedStage: Option[String],
      dqReport: Option[DqChecks.DqReport]) {
    /** O4: 0 ok; 1 stage error; 2 DQ failure unless warn-only. */
    def exitCode(warnOnly: Boolean): Int =
      if (failedStage.isDefined) 1
      else if (dqReport.exists(!_.passed) && !warnOnly) 2
      else 0
  }

  private def log(logsDir: String, stage: String, lines: Seq[String]): String = {
    Files.createDirectories(Paths.get(logsDir))
    val ts = java.time.Instant.now.toString.replaceAll("[:.]", "-")
    val path = s"$logsDir/step_${stage}_$ts.log"
    Files.writeString(Paths.get(path), lines.mkString("\n") + "\n")
    path
  }

  val stageNames: Seq[String] = Seq("bronze", "silver", "dq", "gold")

  /** Run bronze → silver → DQ with fail-fast (O2 ordering:
    * `run_full_pipeline.ps1:139-165` runs ETL → DQ → optional silver; we
    * keep silver before DQ so DQ can gate the final table, and honor
    * `writeSilver` for the cleaned post-DQ copy exactly like `--write-silver`).
    *
    * `only` restricts execution to a single named stage so an external
    * scheduler (O3, `dags/graft_etl_daily.py`) can run each stage as its own
    * `spark-submit` task with a process boundary — stages communicate purely
    * through the bronze/silver paths on storage, so this is safe.
    */
  def run(spark: SparkSession, cfg: PipelineConfig,
      only: Option[String] = None): PipelineOutcome = {
    only.foreach(s => require(stageNames.contains(s), s"unknown stage: $s"))
    // the pipeline's sizing applies to its own stages only: the caller's
    // values come back in the finally, whether the run succeeds or not
    val pipelineConf = Seq(
      "spark.sql.shuffle.partitions" -> cfg.shufflePartitions.toString,
      "spark.sql.files.maxPartitionBytes" -> cfg.maxPartitionBytes)
    val callerConf = pipelineConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    pipelineConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try runStages(spark, cfg, only)
    finally callerConf.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def runStages(spark: SparkSession, cfg: PipelineConfig,
      only: Option[String]): PipelineOutcome = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageResult]
    var dqReport: Option[DqChecks.DqReport] = None

    def step(name: String)(body: => Map[String, Long]): Boolean = {
      val t0 = System.nanoTime()
      try {
        val metrics = body
        val secs = (System.nanoTime() - t0) / 1e9
        val path = log(cfg.logsDir, name,
          s"stage=$name status=ok seconds=$secs" +: metrics.map { case (k, v) => s"$k=$v" }.toSeq)
        stages += StageResult(name, metrics, secs, path)
        true
      } catch {
        case e: Exception =>
          val secs = (System.nanoTime() - t0) / 1e9
          val path = log(cfg.logsDir, name,
            Seq(s"stage=$name status=error seconds=$secs", s"error=${e.getMessage}"))
          stages += StageResult(name, Map.empty, secs, path)
          false
      }
    }

    def wanted(name: String)(body: => Map[String, Long]): Boolean =
      if (only.exists(_ != name)) true // not selected: skip without failing the chain
      else step(name)(body)

    val ok =
      wanted("bronze") {
        val raw = graft.Tables.events(spark, cfg.rawPath)
        BronzeIngest.run(raw, cfg)
      } &&
      wanted("silver") {
        SilverClean.run(spark, cfg)
      } &&
      wanted("dq") {
        val silver = spark.read.parquet(cfg.silverPath)
        val report = DqChecks.run(silver, cfg)
        dqReport = Some(report)
        Map("total" -> report.total) ++
          report.results.map(r => r.name -> r.violations).toMap
      } && {
        // gold is opt-in for the full chain (reference stage parity) and
        // gated on DQ: a failed gate skips publication without overriding
        // DQ's own exit code. Explicit --stage=gold always runs (the
        // external scheduler already gated on dq's exit code).
        val enabled = cfg.writeGold || only.nonEmpty
        val gateOk = only.nonEmpty || dqReport.forall(_.passed) || cfg.warnOnly
        if (!enabled || !gateOk) true
        else wanted("gold") { GoldAggregate.run(spark, cfg) }
      }

    PipelineOutcome(stages.toSeq,
      if (ok || stages.isEmpty) None else Some(stages.last.name), dqReport)
  }
}
