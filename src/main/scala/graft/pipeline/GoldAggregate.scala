package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold layer of the medallion architecture the reference names but ships
  * no code for (`/root/reference/README.md:81` "Bronze, Silver, Gold data
  * architecture"): consumption-ready daily aggregates built from silver.
  *
  * One grouped pass over silver → (event_date, event_type) grain with the
  * counts/sums a dashboard or downstream join actually reads. Partitioned
  * by event_date on write, so daily scheduled runs (dags/graft_etl_daily.py)
  * overwrite only the affected date partitions and consumers prune to the
  * dates they query. At 100 TB the input is one shuffle on the (date, type)
  * key — the output is thousands of rows, never a scale concern.
  */
object GoldAggregate {

  /** The gold daily-summary frame (also exposed as query q71 for the
    * oracle harness — column set and names are shared).
    *
    * Value aggregates are EXACT integer arithmetic end to end: values are
    * canonicalized to micro-units via decimal(18,6), summed as int64, and
    * the rounded total/average are derived with explicit
    * half-away-from-zero integer division. Two failure modes this kills:
    * a plain double sum is partition-order-dependent (can flip a rounded
    * digit between cluster sizes — caught by the 3-vs-8-core determinism
    * sweep), and double round() near a .5 boundary diverges between
    * engines (caught by the sf0.001 oracle soak). Bound: |sum(value)| per
    * group must stay under ~4.6e12 (2·1e6-scaled int64) — comfortable for
    * a daily-grain gold table; go decimal(38,6) if a deployment exceeds it.
    */
  def dailySummary(silver: DataFrame): DataFrame =
    silver
      .groupBy(col("event_date"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("long")).as("micros"))
      .select(
        col("event_date"), col("event_type"), col("n_events"), col("n_users"),
        // round(micros/1e4) half away from zero via integer DIV on
        // non-negative operands (trunc == floor there, so Spark's DIV and
        // DuckDB's // agree), then one exact int→double conversion
        expr("""(CASE WHEN micros >= 0 THEN (2 * micros + 10000) DIV 20000
               |      ELSE -((2 * -micros + 10000) DIV 20000) END) / 100.0D""".stripMargin)
          .as("total_value"),
        expr("""(CASE WHEN micros >= 0 THEN (2 * micros + 100 * n_events) DIV (200 * n_events)
               |      ELSE -((2 * -micros + 100 * n_events) DIV (200 * n_events)) END) / 10000.0D""".stripMargin)
          .as("avg_value"))

  /** Write gold from the silver path; returns this run's `gold_rows`. */
  def run(spark: SparkSession, cfg: PipelineConfig): Map[String, Long] = {
    val gold = dailySummary(spark.read.parquet(cfg.silverPath))
    Map("gold_rows" -> writeCounted(gold) {
      _.mode(cfg.silverMode)
        // dynamic: an overwrite run replaces only the event_date partitions
        // present in this run's silver — without it, overwrite+partitionBy
        // truncates the whole gold table, losing every date an incremental
        // run didn't re-process
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(cfg.goldPath)
    })
  }
}
