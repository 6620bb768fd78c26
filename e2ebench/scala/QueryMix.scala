package e2ebench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.Registry

/** `query_mix`: a fixed list of registered queries over the seeded tables,
  * run closed loop one at a time through the noop sink, from cold caches
  * the way `graft.Bench` runs them: after every query the cache is
  * cleared, every persisted or checkpointed RDD is unpersisted and the
  * heap is collected, outside that query's timing. A pass's time is the
  * sum of its queries' times. The warm-up pass writes each query's rows
  * as parquet for the independent checks (and builds the stored indexes
  * the probes reuse — build once, query many).
  */
final class QueryMix(spark: SparkSession, work: Path, trace: Option[Trace])
    extends Workload {

  private val data = work.resolve("input").toString
  private val out = work.resolve("out")
  private val tmp = Path.of(sys.props("java.io.tmpdir"))
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val materialized = mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = {
    Main.deleteTree(out)
    Files.createDirectories(out)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
  }

  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
  }

  def warmup(): Unit = {
    QueryMix.Names.foreach { n =>
      val t0 = System.nanoTime()
      Registry.byName(n).fn(spark, data).write.mode("overwrite")
        .parquet(out.resolve(n).toString)
      System.err.println(f"[e2ebench] warm-up $n%s ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      sweep()
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => QueryMix.Names.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), Json.value(oracles))
  }

  def timed(deadlineNanos: Long): Timed = loop(deadlineNanos, minPasses = 2)(()) {
    var wall, cpu = 0.0
    var failed = 0L
    val lat = QueryMix.Names.map { n =>
      trace.foreach(t => spark.sparkContext.setLocalProperty(t.OpProperty, n))
      val c0 = Main.cpuNanos()
      val t0 = System.nanoTime()
      val ok =
        try {
          val run = () => Registry.byName(n).fn(spark, data)
            .write.format("noop").mode("overwrite").save()
          trace match {
            case Some(t) => t.span(s"queries.$n")(run())
            case None => run()
          }
          true
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[e2ebench] $n failed: $e"); false }
      val ms = (System.nanoTime() - t0) / 1e6
      wall += ms / 1e3
      cpu += (Main.cpuNanos() - c0) / 1e9
      if (!ok) failed += 1
      System.err.println(f"[e2ebench] $n%s $ms%.0f ms")
      times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
      trace.foreach { t =>
        materialized += spark.sparkContext.getPersistentRDDs.size.toDouble
        spark.sparkContext.setLocalProperty(t.OpProperty, null)
      }
      sweep()
      ms
    }
    Pass(QueryMix.Names.size.toLong, failed, lat, wall, cpu)
  }

  /** Query outputs, stored index tables (under the JVM temp dir) and the
    * warehouse.
    */
  def storedPaths: Seq[Path] = Seq(out, tmp, work.resolve("warehouse"))

  def summary(): String = Json.obj(
    "out" -> out.toString,
    "data" -> data,
    "queries" -> QueryMix.Names)

  def layers(tr: Trace, timed: Timed): Map[String, Double] = {
    val c = tr.snapshot(spark)
    QueryMix.Names.flatMap { n =>
      Seq(s"queries.${n}_ms" -> Main.median(times(n).toSeq),
        s"queries.$n.jobs" -> c.getOrElse(s"jobs.$n", 0.0) / timed.passes)
    }.toMap + ("operators.materialized_blocks" -> materialized.sum / timed.passes)
  }
}

object QueryMix {
  /** Relational, and stored top-k (LSH with a tombstoned deletion set,
    * SQ8). The stored indexes are built by the warm-up pass.
    */
  val Names: Seq[String] = Seq(
    "q01_pricing_summary",
    "q161_ann_topk_stored_tombstoned",
    "q168_sq8_topk_batch_stored")
}
