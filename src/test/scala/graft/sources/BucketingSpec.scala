package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession.{spark, sf0001}
import java.nio.file.Files

class BucketingSpec extends AnyFunSuite {

  test("joining two co-bucketed tables plans with zero shuffles") {
    val base = Files.createTempDirectory("graft_bucketed").toString
    Bucketing.writeBucketed(graft.Tables.lineitem(spark, sf0001),
      "li_bucketed", s"$base/li", "l_orderkey", nBuckets = 4)
    Bucketing.writeBucketed(graft.Tables.orders(spark, sf0001),
      "o_bucketed", s"$base/o", "o_orderkey", nBuckets = 4)
    try {
      // force the join path (not broadcast) to show the bucketing effect
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.bucketedJoin(spark, "li_bucketed", "o_bucketed",
        "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan)
      assert(plan.contains("SelectedBucketsCount"), plan)
      // and it computes the right thing
      val viaBuckets = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val plain = graft.Tables.lineitem(spark, sf0001)
        .join(graft.Tables.orders(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaBuckets == plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("compaction collapses a fragmented partitioned layout, preserving rows") {
    import graft.pipeline.Compaction
    val base = Files.createTempDirectory("graft_compact").toString
    // fragment: 16 writers into a per-date layout at tiny scale
    graft.Tables.events(spark, sf0001)
      .withColumn("event_date", to_date(col("ts")))
      .repartition(16)
      .write.partitionBy("event_date").parquet(s"$base/frag")
    val capKey = "spark.sql.files.maxRecordsPerFile"
    val capBefore = spark.conf.getOption(capKey)
    val report = Compaction.compact(spark, s"$base/frag", s"$base/compact",
      "event_date", targetRecordsPerFile = 1000000L)
    // the record cap is the rewrite's writer option, not session conf
    assert(spark.conf.getOption(capKey) == capBefore)
    assert(report.rows == 1000L)
    assert(report.filesAfter < report.filesBefore / 4,
      s"${report.filesBefore} -> ${report.filesAfter}")
    assert(spark.read.parquet(s"$base/compact").count() == 1000L)
  }

  test("clusterBy compaction yields narrow per-file value ranges (scan-skipping stats)") {
    import graft.pipeline.Compaction
    val base = Files.createTempDirectory("graft_cluster").toString
    // one partition date, many small files, values shuffled across them
    graft.Tables.events(spark, sf0001)
      .withColumn("event_date", lit("2024-01-01"))
      .repartition(8)
      .write.partitionBy("event_date").parquet(s"$base/frag")
    val capKey = "spark.sql.files.maxRecordsPerFile"
    val capBefore = spark.conf.getOption(capKey)
    Compaction.compact(spark, s"$base/frag", s"$base/clustered",
      "event_date", targetRecordsPerFile = 150L, clusterBy = Seq("value"))
    assert(spark.conf.getOption(capKey) == capBefore)
    def files(p: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
    }
    def spans(p: String): Seq[(Double, Double)] = files(p).map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("value")), max(col("value"))).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    val clustered = spans(s"$base/clustered")
    assert(clustered.size >= 4, s"record cap should split into several files: $clustered")
    val globalSpan = clustered.map(_._2).max - clustered.map(_._1).min
    val avgSpan = clustered.map { case (lo, hi) => hi - lo }.sum / clustered.size
    // sorted-before-split files cover consecutive slices: each file's
    // min/max span is a small fraction of the global span, so a filter on
    // value prunes most files from their footers alone. Unsorted files
    // would each span ~the whole range.
    assert(avgSpan < globalSpan / 3, s"avg=$avgSpan global=$globalSpan")
    val unsorted = spans(s"$base/frag")
    val avgUnsorted = unsorted.map { case (lo, hi) => hi - lo }.sum / unsorted.size
    assert(avgSpan < avgUnsorted / 2, s"clustered=$avgSpan unsorted=$avgUnsorted")
  }
}
