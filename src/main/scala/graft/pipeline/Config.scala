package graft.pipeline

/** DQ rule thresholds — defaults mirror the reference
  * (`spark_jobs/dq_checks.py:15-18`: negatives ≤ 30000, early dropoff ≤ 50,
  * long distance ≤ 200, invalid passengers ≤ 200).
  */
final case class DqThresholds(
    negativeValues: Long = 30000L,
    earlyDropoff: Long = 50L,
    longDistance: Long = 200L,
    invalidPassengers: Long = 200L)

/** All pipeline knobs (SURVEY §2.9 O6); defaults are the reference's argparse
  * defaults (`spark_jobs/batch_etl.py:6-14`, `write_silver.py:5-11`,
  * `dq_checks.py:12-26`).
  */
final case class PipelineConfig(
    rawPath: String,
    bronzePath: String,
    silverPath: String,
    artifactsDir: String,
    logsDir: String,
    /** bronze write tasks (`batch_etl.py:10`); bronze is repartitioned on
      * `partitionColumns`, so it holds one file per partition, not per task */
    targetPartitions: Int = 16,
    /** `spark.sql.shuffle.partitions` (`batch_etl.py:11`) */
    shufflePartitions: Int = 16,
    /** `spark.sql.files.maxPartitionBytes` (`batch_etl.py:12`) */
    maxPartitionBytes: String = "64m",
    /** bronze rows-per-file cap, 0 = off (`batch_etl.py:13`); a writer
      * option, not a session conf, so later writes are not capped */
    maxRecordsPerFile: Long = 0L,
    /** silver save mode: overwrite|append (`write_silver.py:10`) */
    silverMode: String = "overwrite",
    /** silver output partitions (`write_silver.py:9`) */
    silverPartitions: Int = 4,
    /** bronze hive-partition columns (`batch_etl.py:79`; the reference's
      * legacy tests expect a `year=`/`month=` layout — `test_batch_etl.py:7-11`
      * — supported via Seq("year","month")) */
    partitionColumns: Seq[String] = Seq("event_date"),
    thresholds: DqThresholds = DqThresholds(),
    /** DQ failure → warn instead of non-zero exit (`dq_checks.py:24`) */
    warnOnly: Boolean = false,
    /** write cleaned silver after DQ (`dq_checks.py:25`) */
    writeSilver: Boolean = false,
    /** write the gold daily summary after DQ passes (medallion layer the
      * reference names in README.md:81 but ships no code for; off by
      * default to keep reference stage parity) */
    writeGold: Boolean = false) {
  /** Gold lives beside silver (mirrors the `_clean` convention). */
  def goldPath: String = silverPath + "_gold"
}
