package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** K-means clustering over the `embeddings` table — the backbone of
  * cluster-based corpus curation (SemDeDup-style semantic dedup, diversity
  * sampling, per-cluster quality pruning).
  *
  * Spark-first shape: the only per-iteration cluster-wide work is one
  * embarrassingly-parallel assignment scan (argmax of k dot products
  * against a centroid LITERAL — no join, no shuffle) plus one slim
  * (cluster, pos, sum, n) aggregate for the update step; the k×dim update
  * itself is a driver-side fold over k·dim aggregate rows (1024 doubles at
  * k=16·d=64 — the same tiny-aggregate pattern as DqChecks' report row,
  * NOT a data collect). At 100 TB the assignment stays a single codegen'd
  * scan; k (typically 10⁴–10⁵ for semantic dedup) only widens the literal
  * and the aggregate key space, never the shuffle volume per row.
  *
  * Determinism: centroids are seeded (no kmeans||/random restarts), the
  * assignment tie-breaks to the lowest cluster id, and the update sums are
  * exact int64 nano-units (a double sum is partition-order-dependent) —
  * so every iteration, on any cluster size, yields identical centroids.
  */
object Clustering {

  /** Deterministic seeded unit-norm start centroids. */
  def centroids(k: Int, dim: Int, seed: Long = 11L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(k) {
      val v = Seq.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
  }

  /** (vec_id, v, cluster): nearest centroid by max RAW dot product, ties
    * to the lowest cluster id. CORRECT ONLY FOR (near-)unit-norm centroid
    * sets — with constant ||c||, argmax_c <v,c> equals argmin_c ||v−c||²
    * and equals argmax_c cos(v,c) scaled by the (c-independent) ||v||, so
    * no per-vector normalization (and no division-parity surface) is
    * needed. The SEEDED-centroid queries (q84–q88, q107) are pinned to
    * this rule bit-for-bit by their DuckDB twins (which replay raw
    * argmax-dot); LEARNED centroids are data-dependent means with
    * non-unit norms — consumers of [[fitCentroids]] output must use
    * [[assignL2]] / [[scoredL2]] instead, as the training loop itself
    * does.
    */
  def assign(emb: DataFrame, cs: Seq[Seq[Double]]): DataFrame =
    assignOn(vecsOf(emb), cs)

  /** (vec_id, v) projection every Clustering entry point shares. */
  private def vecsOf(emb: DataFrame): DataFrame =
    Par.fanOut(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")))

  /** [[assign]] over a prepared (vec_id, v) frame — the checkpointed-
    * corpus entry point of [[fitCentroids]].
    */
  private[operators] def assignOn(prepared: DataFrame, cs: Seq[Seq[Double]]): DataFrame =
    // ONE CentroidCodes expression over the whole vector (single
    // subspace, raw-dot rule) instead of k scored structs under a
    // greatest() — same argmax, same lowest-id tie-break, same dot
    // order; the q84–q88/q107 oracles hash-verify the bit-parity
    // (r16 optimization, see CentroidCodes).
    prepared.withColumn("cluster_id",
      element_at(centroidCodes(col("v"), Seq(cs), subtractHalfNorm = false), 1))

  /** (score, −c) structs under the exact L2 rule — argmin_c ||v−c||² ≡
    * argmax_c (⟨v,c⟩ − ||c||²/2), the ||v||² term being c-independent —
    * with ties to the LOWEST c via the negc field. ONE definition serves
    * k-means training ([[fitCentroids]]'s assignment step), general
    * learned-centroid assignment ([[assignL2]]), IVF probing/assignment
    * (Similarity.ivfTopK, Pq.scoredLists delegates here), and residual
    * coding — so the partition Lloyd optimizes is EXACTLY the partition
    * every index consumer queries (the round-11 train/index metric
    * mismatch: training assigned by raw argmax-dot while the indexes
    * assigned by the L2 rule, so Lloyd optimized a different partition
    * than the one probed).
    */
  private[operators] def scoredL2(v: org.apache.spark.sql.Column,
      cs: Seq[Seq[Double]]): Seq[org.apache.spark.sql.Column] = {
    val csLit = typedlit(cs)
    cs.indices.map { c =>
      val halfNorm = lit(cs(c).map(x => x * x).sum / 2)
      struct((dot(v, element_at(csLit, c + 1)) - halfNorm).as("s"),
        lit(-c).as("negc"))
    }
  }

  /** (vec_id, v, cluster_id) under the exact L2 rule — the assignment for
    * LEARNED (non-unit) centroids; see [[scoredL2]].
    */
  def assignL2(emb: DataFrame, cs: Seq[Seq[Double]]): DataFrame =
    assignL2On(vecsOf(emb), cs)

  private[operators] def assignL2On(prepared: DataFrame, cs: Seq[Seq[Double]]): DataFrame =
    // single-subspace CentroidCodes under the L2 rule — same argmax and
    // tie-break as greatest(scoredL2), one expression node (r16)
    prepared.withColumn("cluster_id",
      element_at(centroidCodes(col("v"), Seq(cs), subtractHalfNorm = true), 1))

  /** Units of the fixed-point centroid-update sums: 2^-30. BINARY scaling,
    * not decimal: floor(x·2^30) of a bit-identical double is bit-identical
    * in every engine (floor has no rounding boundary a binary float can
    * straddle), whereas CAST(double AS DECIMAL(18,9)) rounds the 9th
    * decimal digit HALF_UP in Spark vs scaled-multiply in DuckDB — at
    * sf0.1 one of 128k embedding components landed exactly on that .5
    * boundary and flipped a sum by 1.
    */
  val FixedPointUnit: Long = 1L << 30

  /** One update step's distributed part: exact per-(cluster, dimension)
    * int64 fixed-point sums + member counts. The sum is exact and
    * order-independent; |sum| per cell must stay under 2^63/2^30 ≈ 8.6e9
    * in value terms — comfortable for unit-scale embedding components.
    */
  def updateSums(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("cluster_id"), col("pos").cast("long").as("pos"),
        floor(col("x") * FixedPointUnit).as("fx"))
      .groupBy(col("cluster_id"), col("pos"))
      .agg(sum(col("fx")).as("sum_fx"), count(lit(1)).as("n"))

  /** Lloyd refinement only — `iters` exact deterministic iterations from
    * the seeded start, returning the final centroids. This is the coarse-
    * quantizer trainer shared by [[kmeans]] and the IVF family
    * (Similarity.ivfTopK / Pq.ivfPqTopK): fixed seeded centroids kept IVF
    * deterministic but ignored the data's actual density (sf0.1 recall
    * sat at 0.50 for both ivf and ivf_pq); learned lists cover the query
    * neighborhoods the probe set actually visits. Per iteration: one
    * assignment scan + one k·dim slim aggregate + a driver-side scalar
    * fold — the DqChecks report-row pattern, not a data collect.
    */
  def fitCentroids(emb: DataFrame, k: Int = 16, dim: Int = 64, iters: Int = 3,
      seed: Long = 11L): Seq[Seq[Double]] = {
    // every iteration re-reads the projected vectors; checkpoint once so
    // a multi-iteration fit costs ONE source pass (the Pq.fitOn
    // discipline), released as soon as the centroids — driver data —
    // are folded
    val prepared = vecsOf(emb)
    val p = if (iters > 1) prepared.localCheckpoint(true) else prepared
    val cs = fitCentroidsPrepared(p, k, dim, iters, seed)
    if (iters > 1) Dedup.release(p) // centroids are folded; free the blocks
    cs
  }

  /** The Lloyd loop over an ALREADY-materialized (…, v) frame — the
    * shared-projection entry (r16, the Pq.fitOnPrepared twin): callers
    * that checkpoint the corpus projection once for fit AND probe
    * (Pq.ivfPqTopKFit, Similarity.ivfTopK, and Pq.refitIvfPqIndex over
    * its checkpointed survivors) pass it here; the caller owns the block
    * lifetime.
    */
  private[operators] def fitCentroidsPrepared(p: DataFrame, k: Int,
      dim: Int, iters: Int, seed: Long): Seq[Seq[Double]] = {
    var cs = centroids(k, dim, seed)
    for (_ <- 1 to iters) {
      // L2-rule assignment (scoredL2), NOT assignOn's raw argmax-dot: the
      // seeded start is unit-norm (rules coincide) but the means produced
      // by iteration 1 are not, and the consumers of these centroids
      // (ivfTopK, Pq.scoredLists) assign/probe by the L2 rule — training
      // must optimize the SAME partition the index queries
      val rows = updateSums(assignL2On(p, cs)).collect() // k·dim rows, driver-side fold
      val byCell = rows.map { r =>
        (r.getLong(0).toInt, r.getLong(1).toInt) -> (r.getLong(2), r.getLong(3))
      }.toMap
      cs = (0 until k).map { c =>
        (0 until dim).map { pos =>
          byCell.get((c, pos)) match {
            case Some((s, n)) if n > 0 =>
              s.toDouble / FixedPointUnit.toDouble / n.toDouble
            case _ => cs(c)(pos) // empty cluster: keep previous centroid
          }
        }
      }
    }
    cs
  }

  /** Full Lloyd iteration loop; returns (final assignment, final centroids).
    * Empty clusters keep their previous centroid. The returned assignment
    * uses the L2 rule — the centroids are learned means ([[assignL2]]).
    */
  def kmeans(emb: DataFrame, k: Int = 16, dim: Int = 64, iters: Int = 3,
      seed: Long = 11L): (DataFrame, Seq[Seq[Double]]) = {
    val cs = fitCentroids(emb, k, dim, iters, seed)
    (assignL2(emb, cs), cs)
  }

  /** SemDeDup-style semantic near-dup pairs: exact cosine, but only WITHIN
    * a k-means cluster — the cluster assignment prunes the O(n²) pair space
    * to Σ|cluster|², and k is the parallelism/recall knob (10⁴–10⁵ at
    * 100 TB makes every cluster small; ScaleGuard-wise this is an
    * equi-join on the cluster key, not a bounded window). Brute force
    * (Similarity.topKPairs) is the recall baseline; LSH (q70) the
    * alternative scale path with probabilistic buckets.
    */
  def semanticDedupPairs(emb: DataFrame, cs: Seq[Seq[Double]],
      minCos: Double): DataFrame = {
    val asg = assign(emb, cs)
      .withColumn("nrm", l2Norm(col("v")))
      .select(col("vec_id"), col("cluster_id"), col("v"), col("nrm"))
    asg.toDF("vec_a", "cluster_id", "va", "norm_a")
      .join(asg.toDF("vec_b", "cluster_b", "vb", "norm_b"),
        col("cluster_id") === col("cluster_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos_raw", dot(col("va"), col("vb")) / (col("norm_a") * col("norm_b")))
      .filter(col("cos_raw") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("cluster_id"),
        round(col("cos_raw"), 6).as("cos_sim"))
  }
}
