package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Data-quality gate, reproducing `spark_jobs/dq_checks.py` semantics
  * (SURVEY §2.2 F1–F6, §2.3 A2–A3, §2.9 O4–O5) with one deliberate plan
  * improvement: the reference runs four separate `filter(pred).count()`
  * jobs (`dq_checks.py:56-59`, four full scans); we compute all rule counts
  * in a single `agg` pass (`sum(when(pred,1))`) — identical numbers, 4 scans
  * → 1. At 100 TB that is the difference between one pass over the table and
  * four.
  */
object DqChecks {

  final case class DqRule(name: String, predicate: Column, threshold: Long)

  final case class RuleResult(name: String, violations: Long, threshold: Long) {
    def passed: Boolean = violations <= threshold
  }

  final case class DqReport(
      timestamp: String,
      total: Long,
      results: Seq[RuleResult]) {
    def passed: Boolean = results.forall(_.passed)
    def status: String = if (passed) "PASSED" else "FAILED"

    /** JSON artifact matching the reference's summary shape
      * (`dq_checks.py:80-99`: timestamp, thresholds, violations, status).
      */
    def toJson: String = {
      val rules = results.map { r =>
        s"""    "${r.name}": {"violations": ${r.violations}, "threshold": ${r.threshold}, "passed": ${r.passed}}"""
      }.mkString(",\n")
      s"""{
         |  "timestamp": "$timestamp",
         |  "total_rows": $total,
         |  "status": "$status",
         |  "rules": {
         |$rules
         |  }
         |}""".stripMargin
    }
  }

  /** Schema contract at the job boundary (`dq_checks.py:42-47`). */
  def requireColumns(df: DataFrame, required: Seq[String]): Unit = {
    val missing = required.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"schema contract: missing required columns ${missing.mkString(",")}")
  }

  /** The reference's four rules transposed to the events schema
    * (`dq_checks.py:50-53` — negative/null fare; dropoff<pickup analog:
    * value outlier; long distance; invalid passengers → error type).
    */
  def eventRules(t: DqThresholds): Seq[DqRule] = Seq(
    DqRule("negative_or_null_value", col("value") < 0 || col("value").isNull, t.negativeValues),
    DqRule("null_user", col("user_id").isNull, t.earlyDropoff),
    DqRule("outlier_value", col("value") > 400, t.longDistance),
    DqRule("error_events", col("event_type") === "error", t.invalidPassengers))

  /** Single-pass rule evaluation: one scan, one agg row. */
  def evaluate(df: DataFrame, rules: Seq[DqRule]): DqReport = {
    val aggs = rules.map(r => sum(when(r.predicate, 1L).otherwise(0L)).as(r.name)) :+
      count(lit(1)).as("__total")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // sum(when(...)) is NULL over zero rows — getLong would NPE on an empty
    // micro-batch (e.g. after a streaming checkpoint restart), so null-check
    // the cell before extracting the primitive.
    val results = rules.zipWithIndex.map { case (r, i) =>
      RuleResult(r.name, if (row.isNullAt(i)) 0L else row.getLong(i), r.threshold)
    }
    DqReport(java.time.Instant.now.toString, row.getLong(rules.size), results)
  }

  /** F6: rows violating NO rule (conjunctive negation, `dq_checks.py:103-108`). */
  def clean(df: DataFrame, rules: Seq[DqRule]): DataFrame =
    df.filter(rules.map(r => !r.predicate).reduce(_ && _))

  /** O5: always write the JSON artifact (`dq_checks.py:80-99`). */
  def writeArtifact(report: DqReport, artifactsDir: String): String = {
    Files.createDirectories(Paths.get(artifactsDir))
    val ts = report.timestamp.replaceAll("[:.]", "-")
    val path = s"$artifactsDir/dq_summary_$ts.json"
    Files.writeString(Paths.get(path), report.toJson)
    path
  }

  /** Structural DQ beyond row predicates: key-uniqueness violations
    * (count − countDistinct, one agg pass).
    */
  def uniquenessViolations(df: DataFrame, key: String): DataFrame =
    df.agg((count(col(key)) - countDistinct(col(key))).as(s"n_dup_$key"))

  /** Referential integrity: child rows whose FK has no parent PK
    * (left-anti join, counted).
    */
  def orphanCount(child: DataFrame, parent: DataFrame,
      fk: String, pk: String, name: String): DataFrame =
    child.join(parent, col(fk) === col(pk), "left_anti")
      .agg(count(lit(1)).as(name))

  /** Full stage: contract → single-pass eval → artifact → optional cleaned
    * silver (`dq_checks.py:102-114`). Returns the report; the exit-code
    * policy (O4) is the Runner's job.
    */
  def run(df: DataFrame, cfg: PipelineConfig): DqReport = {
    requireColumns(df, Seq("event_id", "ts", "user_id", "event_type", "value"))
    val rules = eventRules(cfg.thresholds)
    val report = evaluate(df, rules)
    writeArtifact(report, cfg.artifactsDir)
    if (cfg.writeSilver)
      writeCounted(clean(df, rules))(_.mode("overwrite").parquet(cfg.silverPath + "_clean"))
    report
  }
}
