package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.Bucketing

/** INCREMENTAL semantic dedup against a STORED cluster index (r14
  * verdict #5 — the last dedup family without a standing-index path):
  * the q86/q88 semantic screen re-assigns the WHOLE corpus to clusters
  * and re-generates its within-cluster pair space on every run, while
  * the shingle/exact family has screened deltas against a stored corpus
  * index since round 13 (`DedupStream`). This module gives the semantic
  * arm the same shape under the one [[IndexOps]] lifecycle:
  *
  *  - the CENTROIDS are FROZEN in meta (the PQ codebook discipline —
  *    q86's seeded `Clustering.centroids`, the same argmax-dot
  *    assignment rule, so screening stays in the q84–q88 family);
  *  - `<prefix>_members` (vec_id, cluster_id, v, nrm) is the standing
  *    corpus (`v` the source array<float>, widened on read by
  *    [[IndexOps.readVecs]]), bucketed by `cluster_id` — EXACTLY the
  *    join key the screen probes — and partitioned by `batch_id` for
  *    streaming growth and replay fencing;
  *  - an incoming batch pays O(|batch| · k) assignment + exact cosine
  *    against its own clusters' members only — the corpus is never
  *    re-assigned, never re-paired against itself;
  *  - deletions tombstone (a dropped doc stops suppressing new
  *    duplicates of itself), compaction folds generations, and the
  *    staleness monitor watches ASSIGNMENT-DISTANCE drift (mean
  *    ||v − c_assigned||² in exact int64 micros vs the build baseline,
  *    plus the tail-coverage ppm — the `Pq.monitorSlice` shape), so
  *    [[IndexOps.maintenancePolicy]] reads this family unchanged.
  *
  * SCREEN SEMANTICS mirror the shingle family's (`Dedup
  * .incrementalDedup`): the near arm is INCOMING-vs-CORPUS only —
  * intra-batch semantic components remain q88's operator, composable
  * over the batch before screening. Decisions are (vec_id, cluster_id,
  * sem_dup_of = min same-cluster corpus id with cos >= threshold, keep).
  * Equality with the batch recompute over the grown corpus is exact
  * (same assignment tree, same IEEE cosine, parquet round-trips the
  * stored vectors/norms bit-exactly) — SemDedupStreamSpec pins it
  * across growth, deletion, compaction and restart.
  */
object SemDedup {

  /** Stored-layout version (the DecontamStream discipline). Format 2
    * stores `_members.v` as the source array<float>.
    */
  val SemIndexFormat = 2

  /** Assignment-rule tags recorded in meta per generation. */
  val RuleDot = "dot"
  val RuleL2 = "l2"

  /** Per-vector assignment distance ||v − c_assigned||² in exact int64
    * micros: ss − 2·⟨v,c⟩ + ⟨c,c⟩ against the ALREADY-ASSIGNED centroid
    * (q86's argmax-dot pick — not re-derived under a different rule),
    * floored once — order-independent, so batch means are
    * bit-deterministic on any partitioning (the Pq.quantErrMicros
    * discipline). This is the staleness signal: embeddings drifting off
    * the frozen centroids inflate it even while assignment stays legal.
    */
  private def assignErrMicros(v: Column, clusterId: Column,
      cs: Seq[Seq[Double]]): Column = {
    val csLit = typedlit(cs)
    val ccLit = typedlit(cs.map(c => c.map(x => x * x).sum))
    val s = dot(v, element_at(csLit, (clusterId + 1).cast("int")))
    val cc = element_at(ccLit, (clusterId + 1).cast("int"))
    floor((dot(v, v) - lit(2.0d) * s + cc) * lit(1000000.0d) + lit(0.5d))
      .cast("long")
  }

  /** (vec_id, cluster_id, v, nrm, embedding) of a raw (vec_id,
    * embedding) frame under the frozen centroids — `v` the widened
    * vector, `embedding` the source float the members slice stores —
    * plus the norm staged once (cosines below reuse it; recomputing it
    * per pair is the n-vs-n² fold q33 fixed). `rule` is the generation's assignment rule recorded in
    * meta: "dot" = q86's argmax-dot tree (seeded UNIT-NORM centroids,
    * where argmax-dot ≡ argmin-L2 — the build generation, what q178's
    * oracle replays); "l2" = the exact half-norm rule
    * ([[Clustering.assignL2]]) REQUIRED for learned centroids with
    * data-dependent norms (a refit generation — raw argmax-dot would
    * bias assignment toward long centroids, the round-11 IVF lesson).
    */
  private def assigned(emb: DataFrame, cs: Seq[Seq[Double]],
      rule: String): DataFrame = {
    val p = IndexOps.widenedSource(emb)
    (if (rule == RuleL2) Clustering.assignL2On(p, cs)
     else Clustering.assignOn(p, cs))
      .withColumn("nrm", l2Norm(col("v")))
      .select(col("vec_id"), col("cluster_id"), col("v"), col("nrm"),
        col("embedding"))
  }

  /** One increment's member slice, stamped with `batchId` — the ONE
    * copy of the stored schema, shared by the batch build, the
    * streaming grow and the compaction rewrite. NULL id/vector rows are
    * dropped (the DedupStream malformed-row contract, applied at the
    * shared entry like `Lexical.lexIndexSlices`).
    */
  private[graft] def memberSlice(emb: DataFrame, batchId: Long,
      cs: Seq[Seq[Double]], rule: String = RuleDot): DataFrame =
    assigned(
      emb.filter(col("vec_id").isNotNull && col("embedding").isNotNull),
      cs, rule)
      .select(col("vec_id"), col("cluster_id"), col("embedding").as("v"),
        col("nrm"), lit(batchId).as("batch_id"))

  /** The monitor row for one maintenance batch (IndexOps.MonitorSchema —
    * mean assignment distance vs the build baseline, alert at
    * `Pq.StalenessFactor`×; tail ppm at `Pq.TailFactor`×, alert above
    * `Pq.TailAlertPpm` — the PQ thresholds verbatim: both statistics
    * measure "the frozen geometry no longer fits the data" and the
    * operator consuming them, [[IndexOps.maintenancePolicy]], is shared).
    */
  private[graft] def monitorSlice(emb: DataFrame, batchId: Long,
      cs: Seq[Seq[Double]], buildMse: Long,
      rule: String = RuleDot): DataFrame =
    assigned(
      emb.filter(col("vec_id").isNotNull && col("embedding").isNotNull),
      cs, rule)
      .select(assignErrMicros(col("v"), col("cluster_id"), cs).as("fx"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("fx")).as("sum_fx"),
        sum(when(col("fx") > lit(Pq.TailFactor * buildMse), 1L).otherwise(0L))
          .as("n_tail"))
      .select(col("n_vecs"),
        when(col("n_vecs") > 0, expr("sum_fx div n_vecs")).otherwise(lit(0L))
          .as("mse_micros"),
        when(col("n_vecs") > 0, expr("(n_tail * 1000000) div n_vecs"))
          .otherwise(lit(0L)).as("tail_ppm"))
      .select(col("n_vecs"), col("mse_micros"),
        lit(buildMse).as("build_mse_micros"),
        (col("n_vecs") > 0 &&
          col("mse_micros") > lit(Pq.StalenessFactor) * lit(buildMse))
          .cast("long").as("alert"),
        col("tail_ppm"),
        lit(Pq.TailAlertPpm).as("tail_bar_ppm"),
        (col("n_vecs") > 0 && col("tail_ppm") > Pq.TailAlertPpm)
          .cast("long").as("tail_alert"),
        lit(batchId).as("batch_id"))

  /** Build and store the standing semantic-dedup index for `emb` under
    * `tablePrefix` / `path` (seed slice = batch_id -1): frozen seeded
    * centroids + build-time assignment MSE in meta, members bucketed by
    * the screen's join key.
    */
  def buildSemIndex(emb: DataFrame, tablePrefix: String, path: String,
      k: Int = 16, dim: Int = 64, nBuckets: Int = 8): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cs = Clustering.centroids(k, dim)
    val members = memberSlice(emb, IndexOps.SeedBatchId, cs)
    Bucketing.writeBucketedPartitionedBy(members, s"${tablePrefix}_members",
      s"$path/members", Seq("batch_id"), "cluster_id", nBuckets)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones", nBuckets)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      IndexOps.MonitorSchema)
    Bucketing.writeBucketedPartitionedBy(empty, s"${tablePrefix}_monitor",
      s"$path/monitor", Seq("batch_id"), "mse_micros", nBuckets = 1)
    val buildMse = buildMseOf(
      IndexOps.readVecs(spark, s"${tablePrefix}_members"), cs)
    writeMeta(spark, tablePrefix, path, k, dim, cs, buildMse, RuleDot,
      IndexOps.NeverCompacted, IndexOps.NeverCompacted)
  }

  /** Mean assignment distance of a widened member frame against its
    * generation's centroids (the build / refit staleness baseline) — a
    * 1-row scalar read.
    */
  private def buildMseOf(members: DataFrame, cs: Seq[Seq[Double]]): Long =
    members
      .select(assignErrMicros(col("v"), col("cluster_id"), cs).as("fx"))
      .agg(count(lit(1)).as("n"), sum(col("fx")).as("sfx"))
      .select(when(col("n") > 0, expr("sfx div n")).otherwise(lit(0L)))
      .collect()(0).getLong(0)

  private def writeMeta(spark: SparkSession, tablePrefix: String,
      path: String, k: Int, dim: Int, cs: Seq[Seq[Double]], buildMse: Long,
      rule: String, gen: Long, tsGen: Long): Unit = {
    import spark.implicits._
    Seq((SemIndexFormat, k, dim, cs, buildMse, rule, gen, tsGen))
      .toDF("format", "k", "dim", "centroids", "mse_micros", "rule",
        "compacted_through", "ts_compacted_through")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${tablePrefix}_meta")
  }

  /** Validated (centroids, build MSE, assignment rule) from the stored
    * meta — the generation's whole frozen geometry.
    */
  private[graft] def semIndexMeta(spark: SparkSession,
      tablePrefix: String): (Seq[Seq[Double]], Long, String) = {
    val meta = spark.table(s"${tablePrefix}_meta").collect()
    require(meta.length == 1 &&
      meta(0).getAs[Int]("format") == SemIndexFormat,
      s"semantic-dedup index $tablePrefix format mismatch — rebuild with buildSemIndex")
    (meta(0).getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("centroids")
      .map(_.toSeq).toSeq,
      meta(0).getAs[Long]("mse_micros"),
      meta(0).getAs[String]("rule"))
  }

  /** Re-register the stored index in a fresh session catalog from its
    * surviving files (restart story), after the mechanical swap-crash
    * check per table.
    */
  def reattachSemIndex(spark: SparkSession, tablePrefix: String,
      path: String, nBuckets: Int = 8): Unit =
    IndexOps.reattachIndex(spark, tablePrefix, "semdedup", path, nBuckets)

  /** The screen: semantic-dedup DECISIONS for an incoming (vec_id,
    * embedding) batch against the STORED members — (vec_id, cluster_id,
    * sem_dup_of, keep). Assignment runs only over the batch (frozen
    * centroid literals, zero shuffle); the near arm joins the batch's
    * clusters' members EQUI on the bucket column (zero corpus-side
    * exchange — the batch side shuffles, |batch| rows); deletions
    * anti-join before any match, so a dropped doc stops suppressing new
    * duplicates of itself; `maxBatchId` is the streaming replay fence
    * for the MEMBERS table only — tombstones are applied UNFENCED,
    * because the delete stream numbers its batches independently of the
    * screen stream (the r14-advisor rule `Dedup.storedCorpusFrames`
    * applies with separate fences; the deletions-between-replay-windows
    * cadence makes replays converge). Winner = the LOWEST surviving
    * same-cluster corpus id at cos >= `minCos` (exact cosine over the
    * stored vectors widened on read — bit-identical to the recompute
    * over the raw corpus).
    */
  def screenSem(spark: SparkSession, incoming: DataFrame, tablePrefix: String,
      minCos: Double = 0.35,
      maxBatchId: Long = Long.MaxValue): DataFrame = {
    val (cs, _, rule) = semIndexMeta(spark, tablePrefix)
    val members = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_members")
        .filter(col("batch_id") < maxBatchId))
      .select(col("vec_id").as("corp_id"), col("cluster_id"),
        col("v").as("cv"), col("nrm").as("cnrm"))
    val inc = assigned(
      incoming.filter(col("vec_id").isNotNull && col("embedding").isNotNull),
      cs, rule)
    val near = inc.join(members, "cluster_id")
      .filter(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")) >= minCos)
      .groupBy(col("vec_id")).agg(min(col("corp_id")).as("sem_dup_of"))
    inc.select(col("vec_id"), col("cluster_id"))
      .join(near, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("sem_dup_of"),
        col("sem_dup_of").isNull.cast("long").as("keep"))
  }

  /** The RECOMPUTE twin of [[screenSem]] over raw frames — the equality
    * contract's other side (SemDedupStreamSpec): assign BOTH sides from
    * the same centroids under the same `rule`, join on cluster, exact
    * cosine, lowest-id winner. This is also the one-shot batch operator
    * for a user without a standing index (q86's pair generator reshaped
    * into incoming-vs-corpus decisions).
    */
  def incrementalSemanticDedup(incoming: DataFrame, corpus: DataFrame,
      cs: Seq[Seq[Double]], minCos: Double = 0.35,
      rule: String = RuleDot): DataFrame = {
    val inc = assigned(
      incoming.filter(col("vec_id").isNotNull && col("embedding").isNotNull),
      cs, rule)
    val corp = assigned(corpus, cs, rule)
      .select(col("vec_id").as("corp_id"), col("cluster_id"),
        col("v").as("cv"), col("nrm").as("cnrm"))
    val near = inc.join(corp, "cluster_id")
      .filter(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")) >= minCos)
      .groupBy(col("vec_id")).agg(min(col("corp_id")).as("sem_dup_of"))
    inc.select(col("vec_id"), col("cluster_id"))
      .join(near, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("sem_dup_of"),
        col("sem_dup_of").isNull.cast("long").as("keep"))
  }

  /** Propagate a drop decision into the index under `batchId`. */
  def tombstoneVecs(spark: SparkSession, tablePrefix: String,
      ids: DataFrame, batchId: Long): Unit =
    IndexOps.tombstone(spark, tablePrefix, ids, batchId)

  /** The generation id a rewrite folds into: the highest batch id over
    * the members table AND the monitor history. The monitor is the
    * COMPLETE per-batch record — an all-duplicates batch legitimately
    * lands an EMPTY members slice (no partition; absence is the
    * consistent representation, the LexStream rule) while its monitor
    * row still carries a live drift alert — so a generation computed
    * from members alone would leave that alert above the fence forever
    * (the policy would demand a refit no rewrite could satisfy).
    */
  private def generationOf(spark: SparkSession, tablePrefix: String): Long = {
    val m = IndexOps.maxBatchId(spark, s"${tablePrefix}_members")
    val hist = IndexOps.batchIdsOf(spark, s"${tablePrefix}_monitor")
    if (hist.isEmpty) m else math.max(m, hist.max)
  }

  /** Generation rewrite: members fold their batch partitions into ONE
    * with tombstoned vectors physically purged; tombstones are consumed
    * and both fences advance; the monitor is kept as history
    * ([[IndexOps.requireAlignedBatches]]'s historyTables contract).
    */
  def compactSemIndex(spark: SparkSession, tablePrefix: String,
      path: String, nBuckets: Int = 8): Unit =
    IndexOps.compactIndex(spark, tablePrefix, "semdedup", path, nBuckets)

  /** REFIT GENERATION — the staleness monitor's consumer for this
    * family ([[IndexOps.maintenancePolicy]]'s "refit" decision now has
    * an operator behind it for all six index families): when
    * assignment-distance drift alerts that the frozen centroids no
    * longer describe the corpus, fit NEW centroids over the surviving
    * members (`Clustering.fitCentroids` — exact deterministic Lloyd
    * from the seeded start), re-assign every survivor, and swap the
    * members table in as ONE generation with a fresh build-MSE
    * baseline, consumed tombstones and advanced fences (the
    * `Pq.refitPqIndex` shape). The refit generation records rule = "l2"
    * in meta: learned centroids are data-dependent MEANS with non-unit
    * norms, so assignment MUST use the exact half-norm rule
    * ([[Clustering.assignL2]] — the round-11 IVF lesson); the build
    * generation's seeded centroids are unit-norm, where the recorded
    * "dot" rule is the q86-family tree its oracle replays. Probes and
    * monitors read the rule back from meta, so the two generations
    * cannot be screened under the wrong tree.
    */
  def refitSemIndex(spark: SparkSession, tablePrefix: String, path: String,
      iters: Int = 2, seed: Long = 7L, nBuckets: Int = 8): Unit = {
    IndexOps.requireAlignedBatches(spark, tablePrefix, Seq("members"),
      historyTables = Seq("monitor"))
    val gen = generationOf(spark, tablePrefix)
    val tsGen = IndexOps.tombstoneGen(spark, tablePrefix)
    val meta = spark.table(s"${tablePrefix}_meta").collect()(0)
    val (k, dim) = (meta.getAs[Int]("k"), meta.getAs[Int]("dim"))
    // survivors as a raw-shaped (vec_id, embedding) frame: the stored v
    // IS the source float embedding, so the fit and the re-assignment
    // see exactly the bits a from-raw rebuild would, and the rewrite
    // stores that float again
    val survivors = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_members"))
      .select(col("vec_id"), col("embedding"))
    val cs2 = Clustering.fitCentroids(survivors, k, dim, iters, seed)
    val reassigned = memberSlice(survivors, gen, cs2, RuleL2)
    IndexOps.swapIn(spark, s"${tablePrefix}_members", s"$path/members",
      reassigned, Seq("batch_id" -> "BIGINT"), "cluster_id", nBuckets)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones", nBuckets,
      overwrite = true)
    val newMse = buildMseOf(
      IndexOps.readVecs(spark, s"${tablePrefix}_members"), cs2)
    writeMeta(spark, tablePrefix, path, k, dim, cs2, newMse, RuleL2,
      gen, tsGen)
  }
}
