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
    */
  def writeCounted(df: DataFrame)(save: DataFrameWriter[Row] => Unit): Long = {
    val written = Observation()
    save(df.observe(written, count(lit(1)).as("rows")).write)
    written.get("rows").asInstanceOf[Long]
  }
}
