package graft.pipeline

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction for partitioned parquet layouts. Streaming sinks
  * and fine-grained partition writes accumulate many small files per
  * partition; at scale that degrades listing, scan planning, and read
  * throughput. Compaction rewrites each hive partition into
  * ~`targetRecordsPerFile`-row files (generalizing the reference's
  * `maxRecordsPerFile` knob, `batch_etl.py:13`).
  *
  * The rewrite lands in `outPath`; callers swap directories atomically
  * (same move-then-rename discipline as HttpFetch) so readers never see a
  * half-compacted table.
  */
object Compaction {

  final case class CompactionReport(
      rows: Long, filesBefore: Long, filesAfter: Long)

  /** `clusterBy`: sort rows within each partition's write task before the
    * record-cap splits them into files. Consecutive files then carry
    * consecutive, barely-overlapping min/max ranges of the cluster columns
    * in their parquet footers — so a reader filtering on those columns
    * skips whole files/row-groups instead of scanning the partition
    * (the poor man's Z-order; for one or a few correlated columns it
    * captures most of the benefit at zero extra shuffle cost).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      partitionCol: String, targetRecordsPerFile: Long = 1000000L,
      clusterBy: Seq[String] = Nil): CompactionReport = {
    def parquetFiles(p: String): Long = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet")).toLong
    }
    val df = spark.read.parquet(inPath)
    val rows = df.count()
    // one task per output partition bundle: repartition on the partition
    // column so each hive partition's rows land in as few files as the
    // record cap allows
    val bundled = df.repartition(col(partitionCol))
    // the partition column leads the sort: FileFormatWriter requires rows
    // ordered by the partition expressions and re-sorts (unstably,
    // destroying the cluster order) unless the incoming ordering already
    // satisfies that requirement
    val laidOut =
      if (clusterBy.isEmpty) bundled
      else bundled.sortWithinPartitions((partitionCol +: clusterBy).map(col): _*)
    // the record cap is a writer option, not session conf: it caps this
    // rewrite only, never the caller's later writes
    laidOut
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(outPath)
    CompactionReport(rows, parquetFiles(inPath), parquetFiles(outPath))
  }
}
