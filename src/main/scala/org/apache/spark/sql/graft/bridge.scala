package org.apache.spark.sql.graft

import org.apache.spark.{Dependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** An RDD whose contents come from a locally-checkpointed upstream plan
  * that is built ONLY when the first job actually needs this RDD's
  * partitions — never when the enclosing DataFrame is constructed or
  * explained.
  *
  * Why deferral matters: `Dataset.localCheckpoint(eager = false)` calls
  * `queryExecution.toRdd` at CONSTRUCTION time, and under AQE `toRdd`
  * executes every non-result stage of the upstream plan — so merely
  * building (or explaining) a query that shares an intermediate this way
  * silently runs the fact scan (the r7 PlanAudit blindness). Here the
  * expensive `toRdd` lives inside `build`, forced from `getPartitions` /
  * `getDependencies`; Spark computes partitions for the whole lineage on
  * the job-submitting thread (SPARK-23626) before the DAGScheduler event
  * loop walks it, so the upstream AQE execution runs exactly where the
  * eager construction used to — just later, and only if a job runs.
  *
  * [[releaseBlocks]] additionally makes the checkpoint RESTARTABLE: it
  * unpersists the materialized blocks and drops the truncated-lineage RDD,
  * so a later action on a frame that still references this checkpoint
  * rebuilds it from the retained upstream plan (recompute, not a
  * "checkpoint block not found" crash — the failure mode of releasing a
  * plain localCheckpoint early).
  */
private[graft] final class DeferredCheckpointRDD(
    sc: SparkContext,
    @transient private val build: () => RDD[InternalRow])
  extends RDD[InternalRow](sc, Nil) {

  @transient private var target: RDD[InternalRow] = _

  private def materialized: RDD[InternalRow] = this.synchronized {
    if (target == null) target = build()
    target
  }

  /** Free the checkpoint's block-manager storage and reset to the
    * unbuilt state; the next action over this RDD recomputes from the
    * original plan. Safe to call any time no job over it is in flight.
    */
  def releaseBlocks(): Unit = this.synchronized {
    if (target != null) {
      target.unpersist(blocking = false)
      target = null
      // drop the cached OneToOneDependency on the released target so the
      // next dependency walk re-forces `materialized` (partitions_ stays
      // cached, which is fine: every rebuild maps over the same memoized
      // queryExecution.toRdd, so the partition objects are identical)
      clearDependencies()
    }
  }

  override protected def getPartitions: Array[Partition] = materialized.partitions
  override protected def getDependencies: Seq[Dependency[_]] =
    Seq(new OneToOneDependency(materialized))
  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    firstParent[InternalRow].iterator(split, context)
}

/** Bridge between the public Column API and Catalyst Expressions.
  *
  * Spark 4 made Column wrap a connect-compatible ColumnNode; the classic
  * Expression⇄Column converters live behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so custom native
  * expressions need this one-file package-scoped shim — the standard
  * technique used by public Spark extension libraries.
  */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unpersist the block-manager storage behind an eagerly
    * `localCheckpoint`ed Dataset. The checkpointed data lives in the RDD
    * wrapped by the Dataset's `LogicalRDD` plan node (`private[sql]`,
    * hence this shim); `Dataset.unpersist` only talks to the CacheManager
    * and never frees it. Strips row-preserving wrappers (a projection or
    * filter over the checkpoint — e.g. an internal bookkeeping column
    * dropped before return) but deliberately does NOT traverse joins or
    * aggregates: releasing a frame must only ever free a checkpoint the
    * frame IS, never one it merely references — locally-checkpointed RDDs
    * have truncated lineage, so freeing a shared one breaks every other
    * frame built on it. No-op when the effective root is not a checkpoint.
    */
  def releaseCheckpoint(df: Dataset[_]): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    @annotation.tailrec
    def go(p: LogicalPlan): Unit = p match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case x: Project => go(x.child)
      case x: Filter => go(x.child)
      case x: SubqueryAlias => go(x.child)
      case _ => ()
    }
    go(df.queryExecution.logical)
  }

  /** An eager local checkpoint that KEEPS its hash partitioning visible to
    * the planner. Under AQE, `Dataset.localCheckpoint` records
    * `UnknownPartitioning` (the adaptive plan does not report its final
    * partitioning to the `LogicalRDD`), so every join against the
    * checkpoint re-shuffles BOTH sides — fatal for iterative algorithms
    * that join the same frames every round. Here the input is first
    * repartitioned with an EXPLICIT partition count (a REPARTITION_BY_NUM
    * shuffle, which AQE never coalesces or splits — the declared
    * partitioning is therefore truthful), materialized, and wrapped in a
    * `LogicalRDD` that declares `HashPartitioning(keys, numPartitions)`
    * over the frame's own output attributes. Alias-aware projection then
    * carries the partitioning through renames, and `EnsureRequirements`
    * plans co-partitioned joins over these frames with zero exchanges.
    *
    * Free the blocks with [[releaseCheckpoint]] (the returned plan is a
    * plain `LogicalRDD` root, exactly what that traversal expects).
    */
  def hashPartitionedLocalCheckpoint(
      df: DataFrame, numPartitions: Int, keys: String*): DataFrame =
    checkpointCore(df, keys, numPartitions, flagCol = None)._1

  /** Eager local checkpoint that counts TRUE values of boolean column
    * `flagCol` in the SAME job that materializes the checkpoint — for
    * iterative fixpoints (connected components), where a separate
    * "did anything change?" action per round is a whole extra job over
    * data that the materializing pass is already streaming. With
    * `partitionKeys` non-empty the checkpoint also declares its hash
    * partitioning, exactly like [[hashPartitionedLocalCheckpoint]].
    * Returns (checkpointed frame, flag count). Free with
    * [[releaseCheckpoint]].
    */
  def localCheckpointCountingFlag(
      df: DataFrame, flagCol: String,
      partitionKeys: Seq[String] = Nil, numPartitions: Int = 0): (DataFrame, Long) =
    checkpointCore(df, partitionKeys, numPartitions, flagCol = Some(flagCol))

  /** Shared core of the two eager-checkpoint helpers above: optional
    * explicit repartition + truthful HashPartitioning declaration on the
    * LogicalRDD, optional flag counting fused into the materializing job
    * (a plain count() when no flag is requested).
    */
  private def checkpointCore(
      df: DataFrame, partitionKeys: Seq[String], numPartitions: Int,
      flagCol: Option[String]): (DataFrame, Long) = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // numPartitions defaults to 0 for the keyless form; with keys that
    // default would plan repartition(0, ...) (runtime AnalysisException)
    // and declare HashPartitioning(keys, 0) — fail fast instead
    require(partitionKeys.isEmpty || numPartitions > 0,
      s"partitionKeys=$partitionKeys requires an explicit numPartitions > 0, got $numPartitions")
    val prepared =
      if (partitionKeys.isEmpty) df
      else df.repartition(numPartitions, partitionKeys.map(df.apply): _*)
    val cdf = prepared.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val session = cdf.sparkSession
    val qe = cdf.queryExecution
    val out = qe.analyzed.output
    def resolve(name: String, what: String) =
      out.find(a => session.sessionState.analyzer.resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"$what: column '$name' not in ${out.map(_.name)}"))
    val flagIdx = flagCol.map(f =>
      out.indexOf(resolve(f, "localCheckpointCountingFlag")))
    // rows must be copied before persisting: the scan/agg iterators reuse
    // one UnsafeRow buffer (same as Spark's own Dataset.checkpoint impl)
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    // ONE job both materializes (and persists) the checkpoint and, when
    // asked, counts the flag column — where eager-checkpoint + a separate
    // count action was two jobs
    val flagged = flagIdx match {
      case None => rdd.count(); 0L
      case Some(idx) =>
        rdd.mapPartitions { it =>
          var c = 0L
          it.foreach(r => if (!r.isNullAt(idx) && r.getBoolean(idx)) c += 1)
          Iterator.single(c)
        }.fold(0L)(_ + _)
    }
    val plan =
      if (partitionKeys.isEmpty)
        LogicalRDD(out, rdd)(session, originStats = Some(qe.optimizedPlan.stats))
      else {
        val part = HashPartitioning(
          partitionKeys.map(resolve(_, "hashPartitionedLocalCheckpoint")), numPartitions)
        LogicalRDD(out, rdd, part, Nil, false)(
          session, originStats = Some(qe.optimizedPlan.stats))
      }
    (org.apache.spark.sql.classic.Dataset.ofRows(session, plan), flagged)
  }

  /** A lazily-materializing local checkpoint of `df`: the returned frame
    * reads from checkpointed blocks once a job runs, but CONSTRUCTING or
    * EXPLAINING it (and anything built on it) launches zero jobs — unlike
    * `df.localCheckpoint(eager = false)`, which executes the upstream AQE
    * stages at build time (see [[DeferredCheckpointRDD]]). The origin
    * Dataset's attributes and optimizer stats carry over, mirroring what
    * `Dataset.checkpoint` itself does; output partitioning is Unknown —
    * acceptable for sharing an aggregate whose consumers re-key anyway.
    *
    * The checkpoint plan stays reachable behind the deferred RDD, so
    * [[releaseDeferredCheckpoints]] can free the blocks WITHOUT bricking
    * frames that still reference them: they transparently recompute.
    */
  def deferredLocalCheckpoint(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val session = cdf.sparkSession
    val qe = cdf.queryExecution
    val rdd = new DeferredCheckpointRDD(session.sparkContext, () => {
      // rows must be copied before persisting: the scan/agg iterators reuse
      // one UnsafeRow buffer (same as Spark's own Dataset.checkpoint impl)
      val r = qe.toRdd.map(_.copy())
      r.localCheckpoint()
      r
    })
    org.apache.spark.sql.classic.Dataset.ofRows(
      session,
      LogicalRDD(qe.analyzed.output, rdd)(
        session, originStats = Some(qe.optimizedPlan.stats)))
  }

  /** Free every [[deferredLocalCheckpoint]] the frame's plan references
    * (transitively — joins and aggregates included, unlike
    * [[releaseCheckpoint]]'s ownership-only traversal). The wider blast
    * radius is safe precisely BECAUSE these checkpoints are restartable:
    * a sibling frame sharing one recomputes it on next use instead of
    * crashing on missing blocks. Plain (non-deferred) checkpoints in the
    * plan are left untouched.
    */
  def releaseDeferredCheckpoints(df: Dataset[_]): Unit =
    df.queryExecution.logical.collect {
      case l: LogicalRDD => l.rdd
    }.foreach {
      case d: DeferredCheckpointRDD => d.releaseBlocks()
      case _ => ()
    }

  /** Block until every event posted to the listener bus so far has been
    * delivered — `listenerBus.waitUntilEmpty` is `private[spark]`, and
    * metric-reading tests/specs need it to avoid racing the executor's
    * end-of-stage events.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
