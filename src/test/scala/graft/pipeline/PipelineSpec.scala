package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession.{spark, sf0001}
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

class PipelineSpec extends AnyFunSuite {

  private def tmpCfg(): PipelineConfig = {
    val base = Files.createTempDirectory("graft_pipe").toString
    PipelineConfig(
      rawPath = sf0001,
      bronzePath = s"$base/bronze",
      silverPath = s"$base/silver",
      artifactsDir = s"$base/artifacts",
      logsDir = s"$base/logs",
      targetPartitions = 4,
      shufflePartitions = 4,
      silverPartitions = 2)
  }

  /** parquet part files in each `event_date=` directory under `path`. */
  private def partFilesPerDate(path: String): Map[String, Int] =
    new java.io.File(path).listFiles().filter(_.getName.startsWith("event_date="))
      .map(d => d.getName -> d.list().count(f => f.startsWith("part-") && f.endsWith(".parquet")))
      .toMap

  /** Every parquet part file under `dir`, at any depth. */
  private def parquetParts(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new java.io.File(dir))
  }

  /** column -> (data-page encodings, every data page is v2) from the
    * footer of one parquet file, over all its row groups.
    */
  private def footerColumns(f: java.io.File): Map[String, (Set[Encoding], Boolean)] = {
    val in = HadoopInputFile.fromPath(new Path(f.toURI), spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toDotString).map { case (c, chunks) =>
        c -> (chunks.flatMap(_.getEncodingStats.getDataEncodings.asScala).toSet,
          chunks.forall(_.getEncodingStats.usesV2Pages))
      }
    finally reader.close()
  }

  /** Run `body` once with the vectorized parquet reader on and once with
    * it off, then put the caller's setting back.
    */
  private def underBothReaders(body: String => Unit): Unit = {
    val key = "spark.sql.parquet.enableVectorizedReader"
    val before = spark.conf.getOption(key)
    try Seq("true", "false").foreach { on => spark.conf.set(key, on); body(on) }
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("normalizeName matches reference semantics (batch_etl.py:43)") {
    assert(BronzeIngest.normalizeName("  Tpep Pickup Datetime ") == "tpep_pickup_datetime")
    assert(BronzeIngest.normalizeName("already_ok") == "already_ok")
  }

  test("deriveDate falls back and enforces the contract (batch_etl.py:46-54)") {
    import graft.SparkTestSession.implicits._
    val withTs = Seq(("2024-01-02 03:04:05")).toDF("ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    val d1 = BronzeIngest.deriveDate("ts", "event_date")(withTs)
    assert(d1.select("event_date").collect()(0).getDate(0).toString == "2024-01-02")

    val withDate = Seq("2024-01-02").toDF("event_date")
    val d2 = BronzeIngest.deriveDate("ts", "event_date")(withDate)
    assert(d2.schema("event_date").dataType.typeName == "date")

    val neither = Seq(1).toDF("x")
    intercept[IllegalArgumentException] {
      BronzeIngest.deriveDate("ts", "event_date")(neither)
    }
  }

  test("bronze write produces hive partition dirs (batch_etl.py:76-81)") {
    val cfg = tmpCfg()
    val raw = graft.Tables.events(spark, cfg.rawPath)
    val metrics = BronzeIngest.run(raw, cfg)
    assert(metrics("rows") == 1000L)
    val dirs = new java.io.File(cfg.bronzePath).listFiles().map(_.getName)
    assert(dirs.count(_.startsWith("event_date=")) > 5)
    // repartitioned on the date: one file per date, not one per task
    val perDate = partFilesPerDate(cfg.bronzePath)
    assert(perDate.values.forall(_ == 1), perDate)
    // round-trip: partition column survives and rows are intact
    val back = spark.read.parquet(cfg.bronzePath)
    assert(back.count() == 1000L)
    assert(back.columns.contains("event_date"))
  }

  test("bronze maxRecordsPerFile splits dates without touching the session conf") {
    val key = "spark.sql.files.maxRecordsPerFile"
    val before = spark.conf.getOption(key)
    // below the busiest sf0.001 date (50 rows), so that date must split
    val cfg = tmpCfg().copy(maxRecordsPerFile = 20L)
    assert(BronzeIngest.run(graft.Tables.events(spark, cfg.rawPath), cfg)("rows") == 1000L)
    assert(spark.conf.getOption(key) == before)
    assert(partFilesPerDate(cfg.bronzePath).values.exists(_ >= 2))
    assert(spark.read.parquet(cfg.bronzePath).count() == 1000L)
  }

  test("bronze partition layout enables partition pruning (batch_etl.py:75 'good for pruning')") {
    val cfg = tmpCfg()
    BronzeIngest.run(graft.Tables.events(spark, cfg.rawPath), cfg)
    val pruned = spark.read.parquet(cfg.bronzePath)
      .filter(col("event_date") === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("event_date"), plan)
    // the pruned scan must touch exactly the one partition's rows
    assert(pruned.count() == graft.Tables.events(spark, cfg.rawPath)
      .filter(to_date(col("ts")) === "2024-01-05").count())
  }

  test("silver reports this run's rows under append mode") {
    val cfg = tmpCfg().copy(silverMode = "append")
    BronzeIngest.run(graft.Tables.events(spark, cfg.rawPath), cfg)
    assert(SilverClean.run(spark, cfg)("rows") == 1000L)
    assert(SilverClean.run(spark, cfg)("rows") == 1000L)
    assert(spark.read.parquet(cfg.silverPath).count() == 2000L)
  }

  test("silver trims strings, drops _cols, adds audit (write_silver.py:26-36)") {
    import graft.SparkTestSession.implicits._
    val df = Seq((" padded ", 1, "x")).toDF("s", "n", "_tmp")
    val out = SilverClean.transform(df)
    assert(out.columns.toSet == Set("s", "n", "silver_loaded_at"))
    assert(out.select("s").as[String].collect()(0) == "padded")
  }

  test("DQ single-pass counts equal per-rule filter counts (dq_checks.py:56-59)") {
    val ev = graft.Tables.events(spark, sf0001)
    val rules = DqChecks.eventRules(DqThresholds())
    val report = DqChecks.evaluate(ev, rules)
    rules.foreach { r =>
      val direct = ev.filter(r.predicate).count()
      assert(report.results.find(_.name == r.name).get.violations == direct,
        s"rule ${r.name}")
    }
    assert(report.total == 1000L)
  }

  test("DQ evaluate survives an empty DataFrame (empty micro-batch after restart)") {
    val ev = graft.Tables.events(spark, sf0001).filter(lit(false))
    val rules = DqChecks.eventRules(DqThresholds())
    val report = DqChecks.evaluate(ev, rules) // sum(when) is NULL over 0 rows — must not NPE
    assert(report.total == 0L)
    assert(report.results.forall(_.violations == 0L))
    assert(report.passed)
  }

  test("clean + distinct violations partition the input (F6 algebra)") {
    val ev = graft.Tables.events(spark, sf0001)
    val rules = DqChecks.eventRules(DqThresholds())
    val anyViolation = rules.map(_.predicate).reduce(_ || _)
    val nClean = DqChecks.clean(ev, rules).count()
    val nViol = ev.filter(anyViolation).count()
    assert(nClean + nViol == 1000L)
  }

  test("structural DQ: uniqueness and referential integrity are clean on testdata") {
    val row = graft.queries.Registry.byName("q66_dq_structural")
      .fn(spark, sf0001).collect()(0)
    assert(row.getAs[Long]("n_dup_event_id") == 0L)
    assert(row.getAs[Long]("n_orphan_orders") == 0L)
    assert(row.getAs[Long]("n_orphan_lineitems") == 0L)
    // and the operators actually detect violations on corrupted data
    import graft.SparkTestSession.implicits._
    val dup = Seq(1L, 1L, 2L).toDF("event_id")
    assert(DqChecks.uniquenessViolations(dup, "event_id")
      .collect()(0).getLong(0) == 1L)
    val child = Seq(10L, 99L).toDF("fk")
    val parent = Seq(10L).toDF("pk")
    assert(DqChecks.orphanCount(child, parent, "fk", "pk", "n")
      .collect()(0).getLong(0) == 1L)
  }

  test("full runner: stages, logs, artifact, exit codes (run_full_pipeline.ps1)") {
    val cfg = tmpCfg().copy(writeSilver = true,
      thresholds = DqThresholds(earlyDropoff = 0, longDistance = 0,
        negativeValues = 0, invalidPassengers = 0))
    val outcome = Runner.run(spark, cfg)
    assert(outcome.stages.map(_.name) == Seq("bronze", "silver", "dq"))
    assert(outcome.failedStage.isEmpty)
    // events has 'error' rows, so rule error_events(threshold=0) must fail
    assert(outcome.dqReport.exists(!_.passed))
    assert(outcome.exitCode(warnOnly = false) == 2) // dq_checks.py:119-120
    assert(outcome.exitCode(warnOnly = true) == 0)
    // per-stage logs exist (run_full_pipeline.ps1:116-124)
    val logs = new java.io.File(cfg.logsDir).listFiles().map(_.getName)
    assert(Seq("bronze", "silver", "dq").forall(s => logs.exists(_.startsWith(s"step_$s"))))
    // artifact exists and is valid-ish JSON (dq_checks.py:80-99)
    val arts = new java.io.File(cfg.artifactsDir).listFiles()
    assert(arts.nonEmpty)
    val body = new String(Files.readAllBytes(arts.head.toPath))
    assert(body.contains("\"status\": \"FAILED\""))
    // cleaned silver written behind the flag (dq_checks.py:102-114)
    assert(new java.io.File(cfg.silverPath + "_clean").exists())
  }

  test("gold layer: written after a passing DQ gate, skipped after a failing one") {
    val pass = DqThresholds(negativeValues = 10000, earlyDropoff = 10000,
      longDistance = 10000, invalidPassengers = 10000)
    val cfgOk = tmpCfg().copy(writeGold = true, thresholds = pass)
    val okOutcome = Runner.run(spark, cfgOk)
    assert(okOutcome.stages.map(_.name) == Seq("bronze", "silver", "dq", "gold"))
    assert(okOutcome.exitCode(warnOnly = false) == 0)
    val gold = spark.read.parquet(cfgOk.goldPath)
    assert(gold.columns.sorted.toSeq ==
      Seq("avg_value", "event_date", "event_type", "n_events", "n_users", "total_value"))
    assert(gold.count() > 0)
    // one partition dir per event_date → daily overwrite + consumer pruning
    assert(new java.io.File(cfgOk.goldPath).listFiles()
      .exists(_.getName.startsWith("event_date=")))

    val cfgBad = tmpCfg().copy(writeGold = true,
      thresholds = DqThresholds(0, 0, 0, 0))
    val badOutcome = Runner.run(spark, cfgBad)
    assert(badOutcome.stages.map(_.name) == Seq("bronze", "silver", "dq"))
    assert(badOutcome.exitCode(warnOnly = false) == 2) // DQ code not masked
    assert(!new java.io.File(cfgBad.goldPath).exists())
  }

  test("full runner over an empty raw input reports zero rows at every stage") {
    val raw = Files.createTempDirectory("graft_empty_raw").toString
    graft.Tables.events(spark, sf0001).filter(lit(false))
      .write.parquet(s"$raw/events.parquet")
    val cfg = tmpCfg().copy(rawPath = raw, writeGold = true)
    val outcome = Runner.run(spark, cfg)
    assert(outcome.failedStage.isEmpty, outcome.stages.map(s => s.logPath))
    assert(outcome.stages.map(_.name) == Seq("bronze", "silver", "dq", "gold"))
    val m = outcome.stages.map(s => s.name -> s.metrics).toMap
    assert(m("bronze")("rows") == 0L)
    assert(m("silver")("rows") == 0L)
    assert(m("dq")("total") == 0L)
    assert(m("gold")("gold_rows") == 0L)
  }

  test("Runner.run leaves the caller's session conf as it found it, on success and on a failed stage") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")
    def session(): Seq[Option[String]] = keys.map(spark.conf.getOption)
    val before = session()
    // pipeline values that differ from the session's, so a leak shows
    val cfg = tmpCfg().copy(shufflePartitions = 7, maxPartitionBytes = "3m")
    assert(!before.contains(Some("7")) && !before.contains(Some("3m")))
    val ok = Runner.run(spark, cfg)
    assert(ok.failedStage.isEmpty)
    assert(session() == before)
    val failed = Runner.run(spark, cfg.copy(rawPath = s"${cfg.bronzePath}_no_such_raw"))
    assert(failed.failedStage.contains("bronze"))
    assert(session() == before)
  }

  test("medallion layers write v2 pages, delta-encoding event_id and ts, without touching the session conf") {
    val codecKey = "spark.sql.parquet.compression.codec"
    val codecBefore = spark.conf.getOption(codecKey)
    val pass = DqThresholds(negativeValues = 10000, earlyDropoff = 10000,
      longDistance = 10000, invalidPassengers = 10000)
    val cfg = tmpCfg().copy(writeGold = true, writeSilver = true, thresholds = pass)
    val outcome = Runner.run(spark, cfg)
    assert(outcome.stages.map(_.name) == Seq("bronze", "silver", "dq", "gold"))
    assert(outcome.failedStage.isEmpty)
    val layers = Seq(cfg.bronzePath, cfg.silverPath, cfg.silverPath + "_clean", cfg.goldPath)
    for (layer <- layers) {
      val parts = parquetParts(layer)
      assert(parts.nonEmpty, layer)
      parts.foreach { f =>
        val cols = footerColumns(f)
        assert(cols.values.forall(_._2), s"$f has v1 pages: $cols")
        if (layer != cfg.goldPath) for (c <- Seq("event_id", "ts"))
          assert(cols(c)._1 == Set(Encoding.DELTA_BINARY_PACKED), s"$f $c: ${cols(c)}")
      }
    }
    assert(spark.conf.getOption(codecKey) == codecBefore)
    assert(spark.conf.getOption("parquet.writer.version").isEmpty)
    assert(spark.conf.getOption("spark.hadoop.parquet.writer.version").isEmpty)
  }

  test("v2 output reads back row-identical under both parquet readers, also mixed with v1 files") {
    val dir = Files.createTempDirectory("graft_v2").toString
    // 20 000 distinct 68-byte strings outgrow the 1 MB dictionary page,
    // so that column falls back from the dictionary to DELTA_BYTE_ARRAY
    val df = spark.range(20000).select(
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 3).as("maybe_long"),
      concat(lit("key-"), sha2(col("id").cast("string"), 256)).as("wide_string"),
      (col("id") * 0.37 - 11.5).as("d"),
      timestamp_micros(col("id") * 1000003L + 1704067200000000L).as("ts"),
      timestamp_micros(col("id") * 999983L + 1704067200000000L).cast("timestamp_ntz").as("ts_ntz"))
    assert(writeCounted(df)(_.parquet(s"$dir/t")) == 20000L)
    val cols = parquetParts(s"$dir/t").map(footerColumns)
    assert(cols.forall(_.values.forall(_._2)))
    assert(cols.exists(_("wide_string")._1.contains(Encoding.DELTA_BYTE_ARRAY)), cols)
    underBothReaders { on =>
      val back = spark.read.parquet(s"$dir/t")
      assert(back.exceptAll(df).isEmpty, s"vectorized=$on")
      assert(df.exceptAll(back).isEmpty, s"vectorized=$on")
    }

    // a v2 append onto a silver the default (v1) writer wrote
    val cfg = tmpCfg().copy(silverMode = "append")
    BronzeIngest.run(graft.Tables.events(spark, cfg.rawPath), cfg)
    def silverRows = SilverClean.transform(spark.read.parquet(cfg.bronzePath))
    silverRows.coalesce(cfg.silverPartitions).write.parquet(cfg.silverPath)
    val v1Files = parquetParts(cfg.silverPath).toSet
    assert(v1Files.forall(f => !footerColumns(f)("event_id")._2))
    assert(SilverClean.run(spark, cfg)("rows") == 1000L)
    val v2Files = parquetParts(cfg.silverPath).filterNot(v1Files)
    assert(v2Files.nonEmpty && v2Files.forall(f => footerColumns(f)("event_id")._2))
    val expected = silverRows.drop("silver_loaded_at")
    val twice = expected.unionAll(expected)
    underBothReaders { on =>
      val mixed = spark.read.parquet(cfg.silverPath).drop("silver_loaded_at")
      assert(mixed.count() == 2000L, s"vectorized=$on")
      assert(mixed.exceptAll(twice).isEmpty, s"vectorized=$on")
      assert(twice.exceptAll(mixed).isEmpty, s"vectorized=$on")
    }
  }

  test("single-stage runs compose into the full pipeline (O3 DAG task boundaries)") {
    val cfg = tmpCfg()
    // three separate invocations, as dags/graft_etl_daily.py schedules them —
    // stages hand off purely through the bronze/silver paths
    for (stage <- Runner.stageNames) {
      val outcome = Runner.run(spark, cfg, only = Some(stage))
      assert(outcome.stages.map(_.name) == Seq(stage))
      assert(outcome.failedStage.isEmpty, s"stage $stage failed")
    }
    // the final dq-only run produced a report over the silver built earlier
    val lastDq = Runner.run(spark, cfg, only = Some("dq"))
    assert(lastDq.dqReport.exists(_.total == 1000L))
    intercept[IllegalArgumentException] {
      Runner.run(spark, cfg, only = Some("nope"))
    }
  }
}
