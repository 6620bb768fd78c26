package e2ebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.pipeline.{DqThresholds, PipelineConfig, Runner}

/** `medallion_batch`: each pass is one `Runner.run` over the seeded raw
  * events file, raw → bronze → silver → DQ → gold, with gold enabled and
  * gated on the DQ verdict. Outputs are removed before every pass (outside
  * the timing) so every pass does the same work. A pass's latency sample
  * is raw → gold committed: the sum of its four stage calls.
  */
final class Medallion(spark: SparkSession, work: Path, trace: Option[Trace])
    extends Workload {

  private val input = work.resolve("input")
  private val out = work.resolve("out")
  private val params = Params.read(work)
  private val t = params("thresholds").asInstanceOf[Map[String, Any]]
    .map { case (k, v) => k -> v.toString.toDouble.toLong }

  private val cfg = PipelineConfig(
    rawPath = input.toString,
    bronzePath = out.resolve("bronze").toString,
    silverPath = out.resolve("silver").toString,
    artifactsDir = out.resolve("dq").toString,
    logsDir = out.resolve("logs").toString,
    thresholds = DqThresholds(t("negative_or_null_value"), t("null_user"),
      t("outlier_value"), t("error_events")),
    writeGold = true)

  private var last: Runner.PipelineOutcome = _
  /** (stage, start, end) epoch ms of every timed stage call. */
  private val stageWindows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
  private val stageMs = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private val files = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def setup(): Unit = ()

  /** The warm-up pass runs the same chain over a small two-day file from
    * the same generator, into its own directories.
    */
  def warmup(): Unit = {
    val warm = work.resolve("out_warmup")
    Runner.run(spark, cfg.copy(rawPath = input.resolve("warmup").toString,
      bronzePath = warm.resolve("bronze").toString,
      silverPath = warm.resolve("silver").toString,
      artifactsDir = warm.resolve("dq").toString,
      logsDir = warm.resolve("logs").toString))
    Main.deleteTree(warm)
  }

  def timed(deadlineNanos: Long): Timed =
    loop(deadlineNanos, minPasses = 2)(Main.deleteTree(out)) {
      val startMs = System.currentTimeMillis().toDouble
      val o = trace match {
        case Some(tr) => tr.span("pipeline.Runner.run")(Runner.run(spark, cfg))
        case None => Runner.run(spark, cfg)
      }
      last = o
      // stages run back to back inside Runner.run; lay their spans end to
      // end from Runner's own per-stage seconds
      var at = startMs
      o.stages.foreach { s =>
        val end = at + s.seconds * 1e3
        stageWindows += ((s.name, at, end))
        stageMs += ((s.name, s.seconds * 1e3))
        trace.foreach(_.addSpan(s"pipeline.${s.name}", at, end))
        at = end
      }
      files += ((Main.partFiles(out.resolve("bronze")), Main.partFiles(out.resolve("silver")),
        Main.partFiles(out.resolve("silver_gold"))))
      val failed = if (o.failedStage.isDefined || o.exitCode(false) != 0) 1L else 0L
      Pass(o.stages.size.toLong.max(1), failed,
        Seq(o.stages.map(_.seconds).sum * 1e3))
    }

  def storedPaths: Seq[Path] = Seq(out)

  def summary(): String = {
    val o = last
    val dq = o.dqReport.map { r =>
      Map("status" -> r.status, "total" -> r.total,
        "violations" -> r.results.map(x => x.name -> x.violations).toMap)
    }.orNull
    Json.obj(
      "out" -> out.toString,
      "exit_code" -> o.exitCode(false),
      "failed_stage" -> o.failedStage.orNull,
      "stages" -> o.stages.map(s => Map("name" -> s.name, "seconds" -> s.seconds,
        "metrics" -> s.metrics)),
      "dq" -> dq)
  }

  def layers(tr: Trace, timed: Timed): Map[String, Double] = {
    def med(stage: String) = Main.median(stageMs.collect { case (`stage`, ms) => ms }.toSeq)
    // rows scanned by a stage's tasks ÷ rows of the stage's input
    // (1.0 = the input is read once)
    val tasks = tr.tasks.synchronized(tr.tasks.toList)
    def scanned(stage: String): Double = {
      val ws = stageWindows.collect { case (`stage`, a, b) => (a, b) }
      val rows = ws.map { case (a, b) =>
        tasks.collect { case (l, f, r) if l >= a - 5 && f <= b + 5 => r }.sum.toDouble
      }
      if (ws.isEmpty) 0.0 else rows.sum / ws.size
    }
    val n = last.stages.find(_.name == "bronze").flatMap(_.metrics.get("rows")).getOrElse(0L).toDouble
    def ratio(num: Double) = if (n > 0) num / n else 0.0
    Map(
      "pipeline.bronze_ms" -> med("bronze"),
      "pipeline.silver_ms" -> med("silver"),
      "pipeline.dq_ms" -> med("dq"),
      "pipeline.gold_ms" -> med("gold"),
      "pipeline.bronze_files" -> files.last._1.toDouble,
      "pipeline.silver_files" -> files.last._2.toDouble,
      "pipeline.gold_files" -> files.last._3.toDouble,
      "pipeline.scan_ratio" -> ratio(scanned("bronze")),
      "pipeline.silver_scan_ratio" -> ratio(scanned("silver")),
      "pipeline.dq_scan_ratio" -> ratio(scanned("dq")),
      "pipeline.gold_scan_ratio" -> ratio(scanned("gold")))
  }
}

/** The parameters `run.py` writes beside the generated inputs. */
object Params {
  def read(work: Path): Map[String, Any] = {
    val p = work.resolve("params.json")
    if (!Files.exists(p)) Map.empty
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      toScala(mapper.readTree(Files.readString(p))).asInstanceOf[Map[String, Any]]
    }
  }
  private def toScala(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    import scala.jdk.CollectionConverters._
    if (n.isObject) n.fields().asScala.map(e => e.getKey -> toScala(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(toScala).toList
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isNull) null
    else n.asText()
  }
}
