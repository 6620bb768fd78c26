package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession.{spark, sf0001}
import java.nio.file.Files

class BucketingSpec extends AnyFunSuite {

  test("joining two co-bucketed tables plans with zero shuffles") {
    val base = Files.createTempDirectory("graft_bucketed").toString
    Bucketing.writeBucketedPartitionedBy(graft.Tables.lineitem(spark, sf0001),
      "li_bucketed", s"$base/li", Nil, "l_orderkey", nBuckets = 4)
    Bucketing.writeBucketedPartitionedBy(graft.Tables.orders(spark, sf0001),
      "o_bucketed", s"$base/o", Nil, "o_orderkey", nBuckets = 4)
    try {
      // force the join path (not broadcast) to show the bucketing effect
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.table("li_bucketed")
      val o = spark.table("o_bucketed")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
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
}
