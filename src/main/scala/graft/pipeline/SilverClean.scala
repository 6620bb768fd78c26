package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Bronze → silver cleanup, reproducing `spark_jobs/write_silver.py`
  * (SURVEY §2.2 P5–P7, §2.1 K2):
  *
  *  - P5 type-directed transform: trim every StringType column
  *    (`write_silver.py:26-28`) — all trims fused into ONE projection so the
  *    scan → project stays a single whole-stage-codegen span.
  *  - P6 drop columns whose lowercased name starts with "_"
  *    (`write_silver.py:31-33`).
  *  - P7 `silver_loaded_at` audit timestamp (`write_silver.py:36`).
  *  - K2 plain parquet sink with configurable save mode + `coalesce` to the
  *    configured file count (`write_silver.py:39-42`). `coalesce`, not
  *    `repartition`: narrowing to N output files must not add a shuffle.
  */
object SilverClean {

  /** P5: trim all string columns in one projection. */
  def trimStrings(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == StringType) trim(col(f.name)).as(f.name) else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** P6: drop temp/internal columns (lowercased name starts with "_"). */
  def dropInternal(df: DataFrame): DataFrame = {
    val doomed = df.columns.filter(_.toLowerCase.startsWith("_"))
    if (doomed.isEmpty) df else df.drop(doomed.toIndexedSeq: _*)
  }

  /** P7: audit column. Excluded from oracle queries (nondeterministic). */
  def addAudit(df: DataFrame): DataFrame =
    df.withColumn("silver_loaded_at", current_timestamp())

  def transform(df: DataFrame): DataFrame =
    df.transform(trimStrings).transform(dropInternal).transform(addAudit)

  /** Returns this run's rows written, also under append mode. */
  def run(spark: SparkSession, cfg: PipelineConfig): Map[String, Long] = {
    val silver = transform(spark.read.parquet(cfg.bronzePath))
    Map("rows" -> writeCounted(silver.coalesce(cfg.silverPartitions)) {
      _.mode(cfg.silverMode).parquet(cfg.silverPath)
    })
  }
}
