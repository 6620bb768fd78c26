package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Raw → bronze ingest, reproducing `spark_jobs/batch_etl.py` semantics as
  * composable `DataFrame => DataFrame` transforms (SURVEY §2.2 P1–P3, §2.1
  * S1/K1):
  *
  *  - P1 column-name normalization (`batch_etl.py:42-43`) — done as ONE
  *    `select` with aliases, not a rename fold: a fold builds an N-deep
  *    Project chain that Catalyst must collapse; one projection is free.
  *  - P2 partition-date derivation with the reference's fallback ladder
  *    (`batch_etl.py:46-54`): derive from the timestamp column if present,
  *    else re-cast an existing date column, else fail the contract.
  *  - P3 keep-set pruning (`batch_etl.py:57-62`).
  *  - K1 hive-partitioned parquet write after a repartition on the
  *    partition columns (the reference's `repartition(col)` alternative,
  *    `batch_etl.py:72-73`): each date is written by one task as one file,
  *    so bronze holds one file per partition, whatever `targetPartitions`
  *    is. `maxRecordsPerFile` splits a date that outgrows the cap.
  */
object BronzeIngest {

  /** `strip().lower().replace(" ", "_")` (`batch_etl.py:43`). */
  def normalizeName(name: String): String =
    name.trim.toLowerCase.replace(" ", "_")

  /** P1: normalize every column name in one projection. */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(s"`$c`").as(normalizeName(c))).toIndexedSeq: _*)

  /** P2: derive `dateCol` from `tsCol`, with the reference's fallbacks. */
  def deriveDate(tsCol: String, dateCol: String)(df: DataFrame): DataFrame =
    if (df.columns.contains(tsCol))
      df.withColumn(dateCol, to_date(col(tsCol)))
    else if (df.columns.contains(dateCol))
      df.withColumn(dateCol, to_date(col(dateCol)))
    else
      throw new IllegalArgumentException(
        s"schema contract: need $tsCol or $dateCol, have ${df.columns.mkString(",")}")

  /** P3: keep-set intersection pruning (order-stable, deduplicated). */
  def prune(keep: Seq[String])(df: DataFrame): DataFrame = {
    val present = keep.distinct.filter(df.columns.contains)
    df.select(present.map(col).toIndexedSeq: _*)
  }

  /** Full bronze transform for an events-shaped table. */
  def transform(tsCol: String, dateCol: String, keep: Seq[String])(df: DataFrame): DataFrame =
    df.transform(normalizeColumns)
      .transform(deriveDate(tsCol, dateCol))
      .transform(prune(keep :+ dateCol))

  /** Derive the partition columns from the timestamp: `event_date`-style
    * single date column, or the reference's legacy `year`/`month` layout
    * (`tests/test_batch_etl.py:7-11`), or any mix.
    */
  def derivePartitionColumns(tsCol: String, parts: Seq[String])(df: DataFrame): DataFrame =
    parts.foldLeft(df) { (d, p) =>
      p match {
        case "year"  => d.withColumn("year", year(col(tsCol)))
        case "month" => d.withColumn("month", month(col(tsCol)))
        case "day"   => d.withColumn("day", dayofmonth(col(tsCol)))
        case dateCol => d.transform(deriveDate(tsCol, dateCol))
      }
    }

  /** K1: repartition on the partition columns, then a hive-partitioned
    * parquet write, so each partition is one file (`maxRecordsPerFile`,
    * a writer option that leaves the session conf alone, splits a skewed
    * date into more). Returns the rows written.
    *
    * A write of no rows leaves no part file, and with it no schema for
    * silver to read; one empty file at the root then carries the schema.
    */
  def write(df: DataFrame, cfg: PipelineConfig): Long = {
    val rows = writeCounted(df.repartition(cfg.targetPartitions, cfg.partitionColumns.map(col): _*)) {
      _.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", cfg.maxRecordsPerFile)
        .partitionBy(cfg.partitionColumns: _*)
        .parquet(cfg.bronzePath)
    }
    if (rows == 0) writeCounted(df.limit(0))(_.mode(SaveMode.Overwrite).parquet(cfg.bronzePath))
    rows
  }

  /** Whole stage: raw events → transform → partitioned bronze. Returns
    * (rows written, outputPartitions) as stage metrics (`batch_etl.py:65-66`
    * logs the same two numbers).
    */
  def run(raw: DataFrame, cfg: PipelineConfig): Map[String, Long] = {
    val keep = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val bronze = raw.transform(normalizeColumns)
      .transform(derivePartitionColumns("ts", cfg.partitionColumns))
      .transform(prune(keep ++ cfg.partitionColumns))
    Map("rows" -> write(bronze, cfg), "partitions" -> cfg.targetPartitions.toLong)
  }
}
