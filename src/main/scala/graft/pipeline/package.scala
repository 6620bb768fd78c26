package graft

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}

package object pipeline {

  /** Write `df` through `save` and return the rows written, counted inside
    * the write job itself (`Dataset.observe`). This is how every medallion
    * stage reports its `rows` (`batch_etl.py:65-66` logs the same number
    * from the writing job): no second pass over the input before the write,
    * no re-read of the output after it — which under append mode would
    * also count every historical row.
    *
    * It is also the one place the medallion storage format is set: Parquet
    * data page v2, as a writer option so the session conf is untouched.
    * v2 stores the INT64 columns (the sequential `event_id`, the
    * time-sorted `ts`) DELTA_BINARY_PACKED instead of PLAIN, which makes
    * bronze 40 % smaller (ARCHITECTURE.md, "Medallion storage format").
    */
  def writeCounted(df: DataFrame)(save: DataFrameWriter[Row] => Unit): Long = {
    val written = Observation()
    save(df.observe(written, count(lit(1)).as("rows")).write
      .option("parquet.writer.version", "v2"))
    written.get("rows").asInstanceOf[Long]
  }
}
