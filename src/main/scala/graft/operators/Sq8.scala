package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Bucketing

/** SQ8 scalar quantization as the FOURTH stored-index family (beside
  * LSH / PQ / IVF-PQ): per-dimension affine int8 codes over a standing
  * bucketed table set, under the SAME lifecycle discipline as the other
  * three — batch_id-partitioned append-if-absent growth against FROZEN
  * build-time stats, tombstoned deletion via [[IndexOps.survivors]],
  * generation compaction, a quantization-MSE staleness monitor, and a
  * refit generation consuming its alerts.
  *
  * What SQ8 adds to the family: the fit is a per-dim min/max — no
  * iterative float clustering — so the WHOLE stored pipeline
  * (fit → encode → probe) is exactly replayable by a SQL oracle, which
  * neither PQ nor IVF-PQ can offer (q168 is the suite's only stored
  * probe with a full-parity DuckDB twin). The scoring is an exact int64
  * dot over code arrays: 4× less scan bandwidth than float32, the
  * drop-in compression BEFORE any ANN structure.
  *
  * Tables under `tablePrefix` / `path`:
  *  - `<prefix>_codes` (vec_id, codes array<long>, batch_id) bucketed by
  *    vec_id — array<long> keeps parquet layouts simple here; a 100 TB
  *    deployment packs the 64 codes into a 64-byte binary column, same
  *    dataflow;
  *  - `<prefix>_vecs` (vec_id, v array<float>, batch_id) — anchors +
  *    exactness checks, stored at source precision and widened on read
  *    ([[IndexOps.readVecs]]);
  *  - `<prefix>_tombstones` / `<prefix>_monitor` / `<prefix>_meta`
  *    exactly as the PQ family (meta: format, levels, mins, maxs,
  *    build MSE, both compaction fences).
  */
object Sq8 {

  /** Stored-layout version — bump on any schema/encoding change so a
    * stale layout fails loudly instead of decoding garbage. Format 2
    * stores `_vecs.v` as the source array<float>.
    */
  val Sq8IndexFormat = 2

  /** Code range [0, Levels]. */
  val Levels = 255L

  /** Staleness alert bar in ppm of CLAMPED values (outside the frozen
    * [mn, mx] range). The affine quantizer's failure mode IS range
    * exit: inside the range, error is grid-bounded ((rng/255)²/12 per
    * dim) and cannot drift, while the build corpus clamps NOTHING by
    * construction (the range was fit on it) — so an MSE-vs-build ratio
    * (the PQ family's bar) mis-fires on ordinary tail values the build
    * never saw, and the clamp fraction is the statistic that separates
    * "new data has tails" (a fraction of a percent) from "the range is
    * stale" (a mean shift clamps most values). Bar: 10% of values.
    */
  val ClampAlertPpm = 100000L

  private def prepared(emb: DataFrame): DataFrame =
    IndexOps.widened(emb.select(col("vec_id"), col("embedding")))

  /** Per-dim (min, max) fit — a 2·dim-column driver fold (the
    * codebook-fold precedent: bounded by the embedding width, never by
    * row count). ONE ungrouped aggregate of `min(v[i])` / `max(v[i])`
    * partials (guide §2.3/§2.4, r16 verdict #2): the old shape
    * posexploded every row ×dim and SHUFFLED the multiplied rows to
    * group by dimension — at 100 TB a 64× row multiplication feeding an
    * exchange, for values (per-dim min/max are order-independent and
    * null-skipping in both shapes) that map-side partials compute
    * exactly. The dim probe is a limit-1 read of the first row; an
    * empty/all-null frame keeps the old contract (empty stats).
    */
  private[graft] def fitStats(e: DataFrame): (Seq[Double], Seq[Double]) = {
    val probe = e.select(size(col("v")).as("d"))
      .filter(col("d") > 0).limit(1).collect()
    if (probe.isEmpty) return (Seq.empty, Seq.empty)
    val dims = probe(0).getInt(0)
    val aggs = (0 until dims).flatMap(i =>
      Seq(min(col("v")(i)).as(s"mn$i"), max(col("v")(i)).as(s"mx$i")))
    val r = e.agg(aggs.head, aggs.tail: _*).collect()(0)
    ((0 until dims).map(i => r.getDouble(2 * i)),
      (0 until dims).map(i => r.getDouble(2 * i + 1)))
  }

  private def litArr(xs: Seq[Double]): Column = array(xs.map(lit): _*)

  /** Affine encode: `clamp(floor((x - mn) / rng * 255 + 0.5))` per dim,
    * dead dims (rng = 0) to 0 — the q167 expression, evaluated against
    * DRIVER-LITERAL stats so the encode is a zero-shuffle projection.
    */
  private[graft] def encodeExpr(v: Column, mins: Seq[Double],
      maxs: Seq[Double]): Column = {
    val rngs = mins.zip(maxs).map { case (a, b) => b - a }
    zip_with(
      zip_with(v, litArr(mins), (x, mn) => x - mn),
      litArr(rngs),
      (dx, rg) => when(rg === 0d, lit(0L))
        .otherwise(greatest(lit(0L),
          least(lit(Levels), floor(dx / rg * 255 + 0.5)))))
  }

  /** Exact int64 code dot product. */
  private[graft] def codeDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Per-vector quantization error in int64 micros:
    * Σ_d floor((x_d − dequant(code_d))² · 1e6) — per-element IEEE ops in
    * one fixed order, integer sum, so the value is deterministic on any
    * partitioning (the Pq.quantErrMicros discipline). Diagnostic only —
    * the staleness signal is [[clampCount]] (see [[ClampAlertPpm]]).
    */
  private[graft] def quantErrMicros(v: Column, codes: Column,
      mins: Seq[Double], maxs: Seq[Double]): Column = {
    val scales = mins.zip(maxs).map { case (a, b) => (b - a) / 255.0 }
    val dequant = zip_with(
      zip_with(codes, litArr(scales), (c, s) => c * s),
      litArr(mins), (q, mn) => q + mn)
    aggregate(
      zip_with(v, dequant,
        (x, q) => floor((x - q) * (x - q) * lit(1000000.0d))),
      lit(0L), (acc, e) => acc + e)
  }

  /** Per-vector count of dims whose value sits OUTSIDE the frozen
    * [mn, mx] range (the values the int8 grid must clamp) — pure
    * integer, order-independent.
    */
  private[graft] def clampCount(v: Column, mins: Seq[Double],
      maxs: Seq[Double]): Column =
    aggregate(
      zip_with(
        zip_with(v, litArr(mins), (x, mn) => when(x < mn, 1L).otherwise(0L)),
        zip_with(v, litArr(maxs), (x, mx) => when(x > mx, 1L).otherwise(0L)),
        (a, b) => a + b),
      lit(0L), (acc, c) => acc + c)

  /** One increment's index slices from a [[IndexOps.widened]]
    * (vec_id, embedding, v) frame — codes from the widened `v`, vecs
    * from the source float `embedding`; the ONE copy of the stored
    * schema, shared by build, stream grow and refit.
    */
  private[graft] def sq8IndexSlices(e: DataFrame, batchId: Long,
      mins: Seq[Double], maxs: Seq[Double]): (DataFrame, DataFrame) = {
    val codes = e.select(col("vec_id"),
        encodeExpr(col("v"), mins, maxs).as("codes"))
      .withColumn("batch_id", lit(batchId))
    (codes, e.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("batch_id", lit(batchId)))
  }

  private def mseFrame(e: DataFrame, mins: Seq[Double],
      maxs: Seq[Double]): DataFrame =
    e.select(quantErrMicros(col("v"),
        encodeExpr(col("v"), mins, maxs), mins, maxs).as("fx"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("fx")).as("sum_fx"))
      .select(col("n_vecs"),
        when(col("n_vecs") > 0, expr("sum_fx div n_vecs")).otherwise(lit(0L))
          .as("mse_micros"))

  private def buildMseMicros(e: DataFrame, mins: Seq[Double],
      maxs: Seq[Double]): Long =
    mseFrame(e, mins, maxs).collect()(0).getLong(1)

  /** Monitor-table schema: one row per maintenance batch with the
    * batch's clamp rate in ppm against the absolute [[ClampAlertPpm]]
    * bar (see its scaladoc for why SQ8 monitors clamping, not
    * MSE-vs-build).
    */
  val Sq8MonitorSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_vecs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("clamp_ppm",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bar_ppm",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("alert",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))

  /** One maintenance batch's staleness-monitor row: the ppm of the
    * batch's values outside the frozen range, alert above
    * [[ClampAlertPpm]]; empty batch records (0, 0, no alert).
    */
  private[graft] def monitorSlice(e: DataFrame, batchId: Long,
      mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    val dims = mins.size.toLong
    e.select(clampCount(col("v"), mins, maxs).as("nc"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("nc")).as("n_clamped"))
      .select(col("n_vecs"),
        when(col("n_vecs") > 0,
          expr(s"(n_clamped * 1000000) DIV (n_vecs * $dims)"))
          .otherwise(lit(0L)).as("clamp_ppm"))
      .select(col("n_vecs"), col("clamp_ppm"),
        lit(ClampAlertPpm).as("bar_ppm"),
        (col("n_vecs") > 0 && col("clamp_ppm") > ClampAlertPpm)
          .cast("long").as("alert"),
        lit(batchId).as("batch_id"))
  }

  private def initMonitor(spark: SparkSession, tablePrefix: String,
      path: String): Unit = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Sq8MonitorSchema)
    Bucketing.writeBucketedPartitionedBy(empty, s"${tablePrefix}_monitor",
      s"$path/monitor", Seq("batch_id"), "clamp_ppm", nBuckets = 1)
  }

  private def writeMeta(spark: SparkSession, tablePrefix: String,
      path: String, mins: Seq[Double], maxs: Seq[Double], mse: Long,
      gen: Long, tsGen: Long): Unit = {
    import spark.implicits._
    Seq((Sq8IndexFormat, Levels, mins, maxs, mse, gen, tsGen))
      .toDF("format", "levels", "mins", "maxs", "mse_micros",
        "compacted_through", "ts_compacted_through")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${tablePrefix}_meta")
  }

  /** Fit the per-dim stats over `emb` and store the SQ8 index under
    * `tablePrefix` / `path` (seed slice = batch_id -1).
    */
  def buildSq8Index(emb: DataFrame, tablePrefix: String, path: String,
      nBuckets: Int = 8): Unit = {
    val spark = emb.sparkSession
    val e = prepared(emb)
    val (mins, maxs) = fitStats(e)
    val (codes, vs) = sq8IndexSlices(e, -1L, mins, maxs)
    // the four table writes and the build-MSE job are mutually
    // independent (disjoint tables/paths; MSE only reads `e`), so
    // overlap them (guide §2.6); meta stays LAST — it is the build's
    // commit record, and a crash before it leaves a rebuildable stub
    @volatile var mse = 0L
    Par.inParallel(Seq(
      () => Bucketing.writeBucketedPartitionedBy(codes,
        s"${tablePrefix}_codes", s"$path/codes", Seq("batch_id"), "vec_id", nBuckets),
      () => Bucketing.writeBucketedPartitionedBy(vs,
        s"${tablePrefix}_vecs", s"$path/vecs", Seq("batch_id"), "vec_id", nBuckets),
      () => IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones",
        nBuckets),
      () => initMonitor(spark, tablePrefix, path),
      () => mse = buildMseMicros(e, mins, maxs)))
    writeMeta(spark, tablePrefix, path, mins, maxs, mse,
      IndexOps.NeverCompacted, IndexOps.NeverCompacted)
  }

  /** Validated stats from the stored meta — format/levels must match
    * this module's constants, every violation throws.
    */
  private[graft] def sq8IndexStats(spark: SparkSession,
      tablePrefix: String): (Seq[Double], Seq[Double]) = {
    val meta = spark.table(s"${tablePrefix}_meta").collect()
    require(meta.length == 1,
      s"SQ8 index meta $tablePrefix must be exactly 1 row, got ${meta.length}")
    val r = meta(0)
    require(r.getAs[Int]("format") == Sq8IndexFormat &&
      r.getAs[Long]("levels") == Levels,
      s"SQ8 index $tablePrefix format/levels mismatch — rebuild with buildSq8Index")
    (r.getAs[scala.collection.Seq[Double]]("mins").toSeq,
      r.getAs[scala.collection.Seq[Double]]("maxs").toSeq)
  }

  private[graft] def indexBuildMse(spark: SparkSession,
      tablePrefix: String): Long =
    spark.table(s"${tablePrefix}_meta")
      .select(col("mse_micros")).collect()(0).getLong(0)

  /** Batched top-k over the STORED code table: anchors = the standing
    * index's own first `batchSize` surviving vectors (the q152 batch
    * fence), encoded against the stored stats on the broadcast side;
    * every surviving code row pays one int64 code dot. Tombstones are
    * anti-joined on BOTH tables BEFORE ranking (codes side: a deleted
    * row in the top k would displace a live candidate). Per-anchor rank
    * window (q152's precedent; the two-stage (anchor, shard) lever from
    * adcCandidatesFrom applies unchanged if batch sizes grow).
    */
  def sq8TopKBatchStored(spark: SparkSession, tablePrefix: String,
      batchSize: Int = 16, k: Int = 5,
      maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    val (mins, maxs) = sq8IndexStats(spark, tablePrefix)
    // tsMaxBatchId fences the tombstone table by its OWN delete-stream
    // numbering (independent of the data stream's maxBatchId)
    val vs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId)
    val codes = IndexOps.survivors(spark, tablePrefix,
      spark.table(s"${tablePrefix}_codes").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId).select(col("vec_id"), col("codes"))
    val anchors = vs.filter(col("vec_id") < batchSize).limit(batchSize)
      .select(col("vec_id").as("anchor_id"),
        encodeExpr(col("v"), mins, maxs).as("qc"))
    topKFrom(codes, anchors, k)
  }

  /** The ONE probe core shared by the stored path and its recompute
    * twin (the identity Sq8IndexSpec pins): self-exclusion join of code
    * rows against the broadcast quantized anchors, int64 code-dot
    * score, per-anchor rank, top k — a tie-break or k-filter change
    * cannot diverge between the two paths.
    */
  private def topKFrom(coded: DataFrame, anchors: DataFrame,
      k: Int): DataFrame = {
    val byAnchor = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("sq8_score").desc, col("vec_id"))
    coded.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .withColumn("sq8_score", codeDot(col("codes"), col("qc")))
      .withColumn("rk", row_number().over(byAnchor).cast("long"))
      .filter(col("rk") <= k)
      .select(col("anchor_id"), col("rk"), col("vec_id"), col("sq8_score"))
      .orderBy(col("anchor_id"), col("rk"))
  }

  /** The from-scratch recompute twin of [[sq8TopKBatchStored]] — fits on
    * `emb` directly; row-identical to the stored path over the same
    * corpus (Sq8IndexSpec pins it).
    */
  def sq8TopKBatch(emb: DataFrame, batchSize: Int = 16,
      k: Int = 5): DataFrame = {
    val (mins, maxs) = fitStats(prepared(emb))
    sq8TopKBatchWith(emb, mins, maxs, batchSize, k)
  }

  /** [[sq8TopKBatch]] under EXPLICIT stats — isolates streaming growth
    * from the (deliberately frozen) fit in the stream-vs-recompute
    * identity tests, exactly as `Pq.adcTopKBatch(emb, cbs)` does for
    * codebooks.
    */
  def sq8TopKBatchWith(emb: DataFrame, mins: Seq[Double],
      maxs: Seq[Double], batchSize: Int = 16, k: Int = 5): DataFrame = {
    val e = prepared(emb)
    val coded = e.select(col("vec_id"),
      encodeExpr(col("v"), mins, maxs).as("codes"))
    val anchors = coded.filter(col("vec_id") < batchSize).limit(batchSize)
      .select(col("vec_id").as("anchor_id"), col("codes").as("qc"))
    topKFrom(coded, anchors, k)
  }

  /** Generation compaction — [[IndexOps.compactTable]] over both tables,
    * tombstones consumed, fences advanced (the compactPqIndex shape).
    */
  def compactSq8Index(spark: SparkSession, tablePrefix: String,
      path: String, nBuckets: Int = 8): Unit =
    IndexOps.compactIndex(spark, tablePrefix, "sq8", path, nBuckets)

  /** REFIT generation — the staleness alert's consumer: refit the
    * per-dim stats on the CURRENT surviving corpus, re-encode, swap in
    * as one generation with a fresh build-MSE baseline, consumed
    * tombstones, advanced fences. Same crash-consistency contract as
    * [[Pq.refitPqIndex]] (multi-table swap is not atomic across tables;
    * meta written LAST; re-running the refit is the recovery).
    */
  def refitSq8Index(spark: SparkSession, tablePrefix: String,
      path: String, nBuckets: Int = 8): Unit = {
    IndexOps.requireAlignedBatches(spark, tablePrefix, Seq("codes", "vecs"),
      historyTables = Seq("monitor"))
    val gen = IndexOps.maxBatchId(spark, s"${tablePrefix}_codes")
    val tsGen = IndexOps.tombstoneGen(spark, tablePrefix)
    val vs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs"))
      .select(col("vec_id"), col("embedding"), col("v")).localCheckpoint(true)
    val (mins, maxs) = fitStats(vs)
    val (codes, vsSlice) = sq8IndexSlices(vs, gen, mins, maxs)
    // the two generation swaps, the tombstone reset and the MSE job are
    // mutually independent (disjoint tables/paths, each swap recovers on
    // its own; `vs` is checkpointed so concurrent readers share blocks)
    // — overlap them (guide §2.6); meta stays LAST (the refit's commit
    // record: a crash before it re-runs the refit, the documented
    // recovery)
    @volatile var mse = 0L
    Par.inParallel(Seq(
      () => mse = buildMseMicros(vs, mins, maxs),
      () => IndexOps.swapIn(spark, s"${tablePrefix}_codes", s"$path/codes",
        codes, Seq("batch_id" -> "BIGINT"), "vec_id", nBuckets),
      () => IndexOps.swapIn(spark, s"${tablePrefix}_vecs", s"$path/vecs",
        vsSlice, Seq("batch_id" -> "BIGINT"), "vec_id", nBuckets),
      () => IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones",
        nBuckets, overwrite = true)))
    writeMeta(spark, tablePrefix, path, mins, maxs, mse, gen, tsGen)
    Dedup.release(vs)
  }

  /** Re-register the stored SQ8 index in a fresh session catalog from
    * its surviving files (restart story).
    */
  def reattachSq8Index(spark: SparkSession, tablePrefix: String,
      path: String, nBuckets: Int = 8): Unit =
    IndexOps.reattachIndex(spark, tablePrefix, "sq8", path, nBuckets)
}
