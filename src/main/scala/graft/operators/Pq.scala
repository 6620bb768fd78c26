package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Product quantization (PQ) over the `embeddings` table — the third leg
  * of the ANN family (brute force q29/q33 → hash buckets q37/q70 →
  * IVF-flat q63 → PQ codes), and the one that actually pays for itself at
  * 100 TB: a 64-dim float vector (256 B) compresses to ONE 8-byte code
  * (8 subspaces × 4-bit centroid ids), so a billion-vector index fits in
  * executor memory and candidate scoring never touches the raw vectors.
  *
  * Spark-first shape:
  *  - ENCODING is a pure projection — each subspace's nearest-centroid
  *    argmin is an expression over a codebook LITERAL (the Clustering
  *    assign pattern), so encoding 100 TB is one codegen'd scan with zero
  *    shuffles and zero joins.
  *  - FITTING reuses the exact-int64 Lloyd machinery (Clustering's
  *    fixed-point discipline): one scan + one slim
  *    (subspace, code, pos) aggregate per iteration — M·K·DSUB = 1024
  *    cells at these parameters — folded on the driver like DqChecks'
  *    report row (a scalar read, not a data collect).
  *  - ADC SCORING (asymmetric distance computation) joins the 1-row query
  *    vector against the codes and sums per-subspace centroid dot
  *    products. Mathematically identical to the classical 128-entry
  *    lookup-table formulation; at scale the LUT is what a custom
  *    expression would precompute per query, but the algebra — and the
  *    answer — is the same.
  *
  * Determinism: seeded Gaussian start codebooks, assignment ties to the
  * lowest code id, update sums in exact int64 fixed point — identical
  * codebooks and codes on any cluster size, which is what lets q121's
  * DuckDB twin replay encoding bit-for-bit from centroid literals.
  */
object Pq {

  /** 8 subspaces × 8 dims × 16 centroids: 4-bit codes, 64-dim vectors. */
  val M = 8
  val DSUB = 8
  val KSUB = 16

  /** Deterministic seeded codebooks, one per subspace (M × KSUB × DSUB). */
  def codebooks(seed: Long = 23L): Seq[Seq[Seq[Double]]] =
    (0 until M).map(m => Clustering.centroids(KSUB, DSUB, seed + m))

  /** (vec_id, embedding) → fanned-out (vec_id, v: array<double>). */
  private def vecs(emb: DataFrame): DataFrame =
    Par.fanOut(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")))

  /** Append code_0..code_{M-1} for the array column `vCol`: per-subspace
    * nearest centroid by squared L2 distance. argmin ||s−c||² ≡
    * argmax (⟨s,c⟩ − ||c||²/2) — the ||s||² term is code-independent —
    * so the comparison is one dot product against a literal plus a
    * literal half-norm; ties break to the lowest code id via the
    * (score, −code) struct sort.
    */
  def withCodes(df: DataFrame, vCol: Column, cbs: Seq[Seq[Seq[Double]]]): DataFrame = {
    // ONE CentroidCodes expression for all M subspaces (r16 optimization;
    // see its scaladoc): the previous greatest()-over-scored-structs tree
    // planned and codegen'd M·KSUB VecDot + struct nodes per encode —
    // re-planned every fit iteration because the codebook literals
    // change — and materialized KSUB struct values per row per subspace
    // at runtime. Same argmax, same tie-break (lowest code on equal
    // score), same double op order; q121/q163's DuckDB twins hash-verify
    // the bit-parity. The codes array is staged through its own
    // projection so the M extractions read one computed value (the q69
    // staging discipline), then unpacked to the same code_0..code_{M-1}
    // surface every consumer already reads.
    val staged = df.select(col("*"),
      centroidCodes(vCol, cbs, subtractHalfNorm = true).as("__pq_codes"))
    staged.select(staged.columns.filterNot(_ == "__pq_codes").map(col) ++
      (0 until M).map(m => element_at(col("__pq_codes"), m + 1).as(s"code_$m")): _*)
  }

  /** (vec_id, v, code_0..code_{M-1}) over the raw embeddings. */
  def encode(emb: DataFrame, cbs: Seq[Seq[Seq[Double]]]): DataFrame =
    withCodes(vecs(emb), col("v"), cbs)

  /** (vec_id, pq_code): the M 4-bit codes packed little-endian into one
    * int64 — the 8-byte index payload. Pure integer arithmetic, exact in
    * both engines.
    */
  def packedCodes(emb: DataFrame, cbs: Seq[Seq[Seq[Double]]]): DataFrame =
    encode(emb, cbs)
      .select(col("vec_id"),
        (0 until M).map(m => col(s"code_$m") * lit(1L << (4 * m)))
          .reduce(_ + _).as("pq_code"))

  /** Lloyd refinement of the codebooks: `iters` exact deterministic
    * iterations (all M subspaces updated from ONE scan + ONE slim
    * aggregate per iteration). Empty cells keep their previous centroid.
    */
  def fit(emb: DataFrame, iters: Int = 2, seed: Long = 23L): Seq[Seq[Seq[Double]]] =
    fitOn(vecs(emb), iters, seed)

  /** fit() over a prepared (…, v: array<double>) frame — the residual
    * frame in IVF-PQ fits its codebooks through this entry point.
    */
  def fitOn(prepared: DataFrame, iters: Int = 2, seed: Long = 23L): Seq[Seq[Seq[Double]]] = {
    // each iteration re-reads `prepared`; checkpoint it once so a
    // multi-iteration fit costs ONE source pass, not `iters` (the
    // lshScoredPairs/nbScored discipline), and free the blocks as soon
    // as the codebooks — driver data — are folded
    val p = if (iters > 1) prepared.localCheckpoint(true) else prepared
    val cbs = fitOnPrepared(p, iters, seed)
    if (iters > 1) Dedup.release(p) // codebooks are folded; free the blocks
    cbs
  }

  /** The fit loop over an ALREADY-materialized (…, v) frame — the shared-
    * projection entry (r16): [[adcTopKFit]]/[[ivfPqTopKFit]] checkpoint
    * the corpus projection ONCE and reuse it for the fit iterations AND
    * the probe, so a recompute query pays one corpus scan instead of one
    * per fit plus one per probe branch; the refits fit their already-
    * checkpointed survivors here too. Caller owns the block lifetime.
    */
  private[operators] def fitOnPrepared(p: DataFrame, iters: Int,
      seed: Long): Seq[Seq[Seq[Double]]] = {
    var cbs = codebooks(seed)
    for (_ <- 1 to iters) {
      val enc = withCodes(p, col("v"), cbs)
      val cells = enc
        .select(col("v"), explode(array((0 until M).map(m =>
          struct(lit(m).as("m"), col(s"code_$m").as("code"))): _*)).as("mc"))
        .select(col("mc.m").as("m"), col("mc.code").as("code"),
          posexplode(slice(col("v"), col("mc.m") * DSUB + 1, lit(DSUB))).as(Seq("pos", "x")))
        .select(col("m"), col("code"), col("pos"),
          floor(col("x") * Clustering.FixedPointUnit).as("fx"))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(sum(col("fx")).as("sum_fx"), count(lit(1)).as("n"))
        .collect() // M·KSUB·DSUB = 1024 cells max — a scalar fold, not a data collect
      val byCell = cells.map { r =>
        (r.getInt(0), r.getLong(1).toInt, r.getInt(2)) -> (r.getLong(3), r.getLong(4))
      }.toMap
      cbs = (0 until M).map { m =>
        (0 until KSUB).map { c =>
          (0 until DSUB).map { p =>
            byCell.get((m, c, p)) match {
              case Some((s, n)) if n > 0 =>
                s.toDouble / Clustering.FixedPointUnit.toDouble / n.toDouble
              case _ => cbs(m)(c)(p)
            }
          }
        }
      }
    }
    cbs
  }

  /** (score, −list) structs of `v` against the `coarse` centroids under
    * the exact L2 rule — ONE definition (Clustering.scoredL2, also the
    * k-means TRAINING rule) serving index-side assignment, query-side
    * probing, and residual fitting, so the partition Lloyd optimizes and
    * the tie-break algebra cannot drift from what the index queries.
    */
  private def scoredLists(v: Column, coarse: Seq[Seq[Double]]): Seq[Column] =
    Clustering.scoredL2(v, coarse)

  private def listScores(v: Column, coarse: Seq[Seq[Double]]): Column =
    sort_array(array(scoredLists(v, coarse): _*), asc = false)

  /** (vec_id, v, list_id, resid): the one coarse-assignment projection.
    * Assignment takes greatest() of the SAME scored structs the probe
    * path sorts (shared [[scoredLists]]), so index-side and query-side
    * tie-break algebra cannot drift while the per-row cost stays O(k).
    */
  private def coarseAssigned(emb: DataFrame, coarse: Seq[Seq[Double]]): DataFrame =
    coarseAssignedOn(vecs(emb), coarse)

  /** [[coarseAssigned]] over a PREPARED (vec_id, v) frame — the entry
    * point of the streaming-growth slices, so batch and stream encode
    * with the SAME assignment tree.
    */
  private def coarseAssignedOn(e: DataFrame, coarse: Seq[Seq[Double]]): DataFrame = {
    val coarseLit = typedlit(coarse)
    e.select(col("vec_id"), col("v"))
      .withColumn("list_id",
        // single-subspace CentroidCodes under the L2 rule — same argmax
        // and tie-break as greatest(scoredLists), one expression (r16)
        element_at(centroidCodes(col("v"), Seq(coarse), subtractHalfNorm = true), 1)
          .cast("int"))
      .withColumn("resid",
        zip_with(col("v"), element_at(coarseLit, col("list_id") + 1), (x, c) => x - c))
  }

  /** Σ_m ⟨qv_sub(m), ctr_m[code_m]⟩ — the ADC reconstruction dot product
    * over a row carrying `qv` and `code_0..code_{M-1}`, evaluated the
    * NAIVE way: M dot products against codebook literals PER ROW.
    * Superseded on every query path by the classical lookup-table
    * formulation ([[withAdcLut]] + [[lutAdcSum]] — M array lookups per
    * row instead of M·DSUB multiply-adds); kept as the reference
    * formulation PqSpec pins the LUT path bit-identical against.
    */
  private[operators] def adcSum(cbs: Seq[Seq[Seq[Double]]]): Column =
    (0 until M).map { m =>
      val cbLit = typedlit(cbs(m))
      dot(slice(col("qv"), m * DSUB + 1, DSUB),
        element_at(cbLit, (col(s"code_$m") + 1).cast("int")))
    }.reduce(_ + _)

  /** Append the classical per-query ADC LOOKUP TABLE to a query/anchor
    * frame carrying `qvCol`: lut_m[c] = ⟨qv_sub(m), ctr_m[c]⟩, M arrays
    * of KSUB doubles (8×16 = 128 entries). Computed ONCE PER QUERY ROW —
    * a frame of one query or one training batch, never the corpus — so
    * corpus-side ADC scoring drops from M·DSUB multiply-adds per code
    * row ([[adcSum]]) to M array lookups ([[lutAdcSum]]). Each entry is
    * the SAME dot-product expression adcSum evaluates, and lutAdcSum
    * folds the M terms in the same order, so the two formulations are
    * bit-identical (PqSpec pins it); this is Jégou et al.'s ADC table,
    * expressed as plan columns instead of a custom expression.
    */
  private[operators] def withAdcLut(q: DataFrame, qvCol: Column,
      cbs: Seq[Seq[Seq[Double]]]): DataFrame =
    q.select(col("*") +: (0 until M).map { m =>
      val cbLit = typedlit(cbs(m))
      array((0 until KSUB).map(c =>
        dot(slice(qvCol, m * DSUB + 1, DSUB), element_at(cbLit, c + 1))): _*)
        .as(s"lut_$m")
    }: _*)

  /** Σ_m lut_m[code_m] over a row carrying lut_0..lut_{M-1} (from
    * [[withAdcLut]]) and code_0..code_{M-1} — same left-fold order as
    * [[adcSum]], bit-identical by construction.
    */
  private[operators] def lutAdcSum: Column =
    (0 until M).map { m =>
      element_at(col(s"lut_$m"), (col(s"code_$m") + 1).cast("int"))
    }.reduce(_ + _)

  /** lut_0..lut_{M-1} column names, for dropping from final projections. */
  private val lutCols: Seq[String] = (0 until M).map(m => s"lut_$m")

  /** Approximate top-k neighbors of `queryVecId` by ADC score: for each
    * encoded vector, Σ_m ⟨query_sub(m), centroid(m, code_m)⟩ — the dot
    * product of the query with the code's RECONSTRUCTION. The raw corpus
    * vectors are never touched after encoding; only the 1-row query side
    * carries a real vector (broadcast, BNLJ — the q37/q63 pattern).
    */
  def adcTopK(emb: DataFrame, cbs: Seq[Seq[Seq[Double]]], queryVecId: Long = 0L,
      k: Int = 10, rerank: Int = 32): DataFrame =
    adcTopKOn(vecs(emb), cbs, queryVecId, k, rerank)

  /** Fit + probe over ONE checkpointed corpus projection (r16): the
    * recompute query paid a separate corpus scan for every fit iteration
    * source, the encode pass, the query-vector lookup and the exact
    * re-rank — at 100 TB each is a full corpus pass the plan cannot
    * dedupe (different keys / opaque branches). One eager checkpoint
    * feeds them all (the lshScoredPairs block-lifetime contract: the
    * harness sweep frees the blocks after materialization). Results are
    * identical — same rows into the same fit and the same probe.
    */
  def adcTopKFit(emb: DataFrame, iters: Int = 2, queryVecId: Long = 0L,
      k: Int = 10, rerank: Int = 32, seed: Long = 23L): DataFrame = {
    val e = vecs(emb).localCheckpoint(true)
    adcTopKOn(e, fitOnPrepared(e, iters, seed), queryVecId, k, rerank)
  }

  private def adcTopKOn(e: DataFrame, cbs: Seq[Seq[Seq[Double]]],
      queryVecId: Long, k: Int, rerank: Int): DataFrame = {
    val enc = withCodes(e, col("v"), cbs).filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id") +: (0 until M).map(m => col(s"code_$m")): _*)
    val qv = e.filter(col("vec_id") === queryVecId)
      .select(col("v").as("qv"))
    // per-query ADC lookup table on the 1-row query side (withAdcLut):
    // corpus rows pay M array lookups, not M·DSUB multiply-adds
    val approx = enc.join(broadcast(withAdcLut(qv, col("qv"), cbs)))
      .withColumn("adc_score", lutAdcSum)
      .drop(lutCols: _*)
    if (rerank <= 0)
      approx.orderBy(col("adc_score").desc, col("vec_id"))
        .limit(k)
        .select(col("vec_id"), round(col("adc_score"), 6).as("adc_score"))
    else {
      // EXACT RE-RANK (Faiss-style refine): candidate generation stays
      // codes-only, then the k·rerank survivors — and only those — get one
      // exact inner product against their raw vectors (a broadcast-id
      // point lookup, not a corpus pass). Added after the sf0.1 recall
      // probe caught pure ADC at 0.10 recall on 5000 vectors (4-bit × 8
      // subspaces has ~500-vector resolution; fine at sf0.001, a cliff at
      // 10×) — re-rank restores exactness for everything the candidate
      // set covers, so recall is limited only by ADC's top-k·rerank
      // coverage. Cost at any scale: k·rerank exact dots.
      val cand = approx
        .orderBy(col("adc_score").desc, col("vec_id"))
        .limit(k * rerank)
        .select(col("vec_id"), col("adc_score"))
      e.join(broadcast(cand), "vec_id")
        .join(broadcast(qv))
        .withColumn("score", dot(col("v"), col("qv")))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(k)
        .select(col("vec_id"), round(col("score"), 6).as("score"),
          round(col("adc_score"), 6).as("adc_score"))
    }
  }

  /** BATCHED ADC top-k (the r10-verdict batched-retrieval shape over the
    * PQ leg): per-anchor top-k for a fixed training batch (vec_id <
    * batchSize, structurally bounded via `.limit` — the q145/q152
    * fence), scored codes-only against the broadcast anchor vectors,
    * then exact re-rank of the per-anchor candidate sets. SCALE: the
    * corpus side is the 8-byte code projection (one zero-shuffle encode
    * pass); the batch join is a broadcast of `batchSize` query vectors;
    * candidates after the per-anchor ADC cut are ≤ batch·k·rerank rows
    * (the trailing global `.limit` is a no-op on the result that makes
    * the bound STRUCTURAL, so the re-rank broadcast is provably tiny).
    * Recall floor vs the exact per-anchor inner-product top-k in PqSpec
    * + RecallProbe.
    */
  def adcTopKBatch(emb: DataFrame, cbs: Seq[Seq[Seq[Double]]],
      batchSize: Int = 16, k: Int = 5, rerank: Int = 32,
      nShards: Int = -1): DataFrame =
    adcTopKBatchOn(vecs(emb), cbs, batchSize, k, rerank, nShards)

  /** [[adcTopKBatch]]'s fit-and-probe twin over ONE checkpointed corpus
    * projection — see [[adcTopKFit]]; identical results, one corpus scan
    * instead of one per fit source / encode / anchor slice / re-rank.
    */
  def adcTopKBatchFit(emb: DataFrame, iters: Int = 2, batchSize: Int = 16,
      k: Int = 5, rerank: Int = 32, nShards: Int = -1,
      seed: Long = 23L): DataFrame = {
    val e = vecs(emb).localCheckpoint(true)
    adcTopKBatchOn(e, fitOnPrepared(e, iters, seed), batchSize, k, rerank, nShards)
  }

  private def adcTopKBatchOn(e: DataFrame, cbs: Seq[Seq[Seq[Double]]],
      batchSize: Int, k: Int, rerank: Int, nShards: Int): DataFrame = {
    val anchors = e.filter(col("vec_id") < batchSize).limit(batchSize)
      .select(col("vec_id").as("anchor_id"), col("v").as("qv"))
    val enc = withCodes(e, col("v"), cbs)
      .select(col("vec_id") +: (0 until M).map(m => col(s"code_$m")): _*)
    adcCandidatesFrom(enc, anchors, cbs, batchSize, k, rerank, nShards)
      .transform(exactRerankBatch(e.select(col("vec_id"), col("v")), anchors, k))
  }

  /** The codes-only ADC candidate cut shared by [[adcTopKBatch]] and the
    * stored-index path: broadcast the anchor batch WITH its per-anchor
    * ADC lookup tables (the qv itself stays behind — the scoring join
    * ships 128 LUT doubles per anchor, and corpus rows pay M array
    * lookups each), then a TWO-STAGE per-anchor top-(k·rerank): a
    * partial cut partitioned on (anchor, shard = vec_id mod nShards) —
    * reducer fan-out batch·nShards, NOT bounded by batch size at corpus
    * scale — then the global per-anchor cut over the ≤
    * batch·nShards·k·rerank survivors (a constant-size frame whatever
    * the corpus size; every global-top row survives its shard cut, so
    * the two-stage answer is IDENTICAL to the single-window one —
    * PqSpec pins it). nShards defaults (-1) to
    * shuffle.partitions / batchSize, rounded up: total stage-1 reducer
    * fan-out (batch · nShards) then tracks the CLUSTER's reducer budget
    * — 32 at local[32], thousands on a real cluster — instead of a
    * constant that over-pays a second full sort at small scale and
    * under-parallelizes at large. Any nShards returns identical rows,
    * so the conf-dependence cannot surface in results (the soak's
    * CPUS=3-vs-8 determinism sweep crosses shard counts and must stay
    * row-identical). Returns (anchor_id, vec_id, adc_score) with the
    * structural `.limit` fence.
    */
  private def adcCandidatesFrom(enc: DataFrame, anchors: DataFrame,
      cbs: Seq[Seq[Seq[Double]]], batchSize: Int, k: Int, rerank: Int,
      nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shards = Par.resolveShards(enc.sparkSession, nShards, batchSize)
    val luts = withAdcLut(anchors, col("qv"), cbs).drop("qv")
    val byAnchorShard = Window.partitionBy(col("anchor_id"), col("shard"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    val byAnchor = Window.partitionBy(col("anchor_id"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    enc.join(broadcast(luts), col("vec_id") =!= col("anchor_id"))
      .withColumn("adc_score", lutAdcSum)
      .withColumn("shard", pmod(col("vec_id"), lit(shards)))
      .withColumn("rk1", row_number().over(byAnchorShard))
      .filter(col("rk1") <= k * rerank)
      .withColumn("rk", row_number().over(byAnchor))
      .filter(col("rk") <= k * rerank)
      .select(col("anchor_id"), col("vec_id"), col("adc_score"))
      .limit(batchSize * k * rerank) // no-op: rows are already <= this
  }

  /** Exact re-rank of a bounded (anchor_id, vec_id, adc_score) candidate
    * set (see [[adcTopK]]'s rationale) over a PREPARED (vec_id,
    * v: array<double>) frame — the raw-embedding projection or the
    * stored `_vecs` table widened by `IndexOps.readVecs`: candidates and
    * anchors broadcast, one exact dot per survivor, per-anchor top-k on
    * true scores.
    */
  private def exactRerankBatch(vecs: DataFrame, anchors: DataFrame, k: Int)(
      cand: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byAnchorExact = Window.partitionBy(col("anchor_id"))
      .orderBy(col("score").desc, col("vec_id"))
    vecs.select(col("vec_id"), col("v"))
      .join(broadcast(cand), "vec_id")
      .join(broadcast(anchors), "anchor_id")
      .withColumn("score", dot(col("v"), col("qv")))
      .withColumn("rk", row_number().over(byAnchorExact).cast("long"))
      .filter(col("rk") <= k)
      .select(col("anchor_id"), col("rk"), col("vec_id"),
        round(col("score"), 6).as("score"),
        round(col("adc_score"), 6).as("adc_score"))
  }

  /** The full IVF-PQ composition — the classical billion-vector index
    * layout (coarse inverted lists + PQ codes of the RESIDUAL v − c_list):
    *
    *  - index side: one coarse assignment pass (argmin over `coarse`
    *    literals), residual via zip_with, residual PQ codes — all one
    *    zero-shuffle projection; the stored index row is
    *    (vec_id, list_id, 8 nibbles), no raw vectors.
    *  - query side: probe the query's `nProbe` nearest lists (1-row
    *    frame), score only those lists' codes by
    *    ⟨q, c_list⟩ + Σ_m ⟨q_sub, ctr_m[code_m]⟩ — the exact expansion of
    *    ⟨q, c_list + recon(residual)⟩, so ADC error comes ONLY from
    *    quantizing the residual, which is why residual PQ beats raw PQ.
    *
    * At 100 TB: list_id is the partition/skip key (probe prunes whole
    * lists before any scoring), the per-row work is 9 tiny dot products
    * against literals, and recall/cost is tuned by (nLists, nProbe, M).
    */
  def ivfPqTopK(emb: DataFrame, coarse: Seq[Seq[Double]],
      cbs: Seq[Seq[Seq[Double]]], queryVecId: Long = 0L, k: Int = 10,
      nProbe: Int = 4, rerank: Int = 32): DataFrame =
    ivfPqTopKOn(vecs(emb), coarse, cbs, queryVecId, k, nProbe, rerank)

  /** The full IVF-PQ recompute (coarse Lloyd fit + residual codebook fit
    * + probe) over ONE checkpointed corpus projection (r16) — the q123
    * shape. Previously the query paid separate corpus scans for the
    * coarse fit source, the residual fit source, the index encode, the
    * query-vector branch, the probe-list branch and the exact re-rank
    * (PlanDump: 7 scan stages); they now all read one eager checkpoint.
    * Same fits (same rows in), same probe — row-identical results.
    */
  def ivfPqTopKFit(emb: DataFrame, queryVecId: Long = 0L, k: Int = 10,
      nProbe: Int = 4, rerank: Int = 32, lloydIters: Int = 2,
      coarseSeed: Long = 7L, pqIters: Int = 2): DataFrame = {
    val e = vecs(emb).localCheckpoint(true)
    val coarse = Clustering.fitCentroidsPrepared(e, 16, 64, lloydIters, coarseSeed)
    val cbs = fitOn(residualsOn(e, coarse), pqIters)
    ivfPqTopKOn(e, coarse, cbs, queryVecId, k, nProbe, rerank)
  }

  private def ivfPqTopKOn(e: DataFrame, coarse: Seq[Seq[Double]],
      cbs: Seq[Seq[Seq[Double]]], queryVecId: Long, k: Int,
      nProbe: Int, rerank: Int): DataFrame = {
    val coarseLit = typedlit(coarse)
    val base = coarseAssignedOn(e, coarse)
    val index = withCodes(base, col("resid"), cbs)
      .select(col("vec_id") +: col("list_id") +: (0 until M).map(m => col(s"code_$m")): _*)
    val qv = base.filter(col("vec_id") === queryVecId).select(col("v").as("qv"))
    val probeLists = base.filter(col("vec_id") === queryVecId)
      .select(explode(slice(listScores(col("v"), coarse), 1, nProbe)).as("ls"))
      .select((-col("ls.negc")).cast("int").as("probe_list"))
    // per-query LUTs on the 1-row query side: the residual-subspace
    // tables (withAdcLut) plus a coarse table ⟨q, c_list⟩ per list, so
    // the per-code-row work is ONE coarse lookup + M subspace lookups —
    // each entry is the same dot expression the naive form evaluated per
    // row, summed in the same order (bit parity, PqSpec)
    val qvLut = withAdcLut(qv, col("qv"), cbs)
      .withColumn("coarse_lut", array(coarse.indices.map(c =>
        dot(col("qv"), element_at(coarseLit, c + 1))): _*))
    val score: Column =
      element_at(col("coarse_lut"), (col("list_id") + 1).cast("int")) + lutAdcSum
    val approx = index.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(probeLists), col("list_id") === col("probe_list"))
      .join(broadcast(qvLut))
      .withColumn("adc_score", score)
      .drop("coarse_lut").drop(lutCols: _*)
    if (rerank <= 0)
      approx.orderBy(col("adc_score").desc, col("vec_id"))
        .limit(k)
        .select(col("vec_id"), col("list_id"), round(col("adc_score"), 6).as("adc_score"))
    else {
      // exact re-rank of the probed candidates (see adcTopK): recall is
      // then bounded only by list coverage (nProbe), not residual-ADC
      // resolution
      val cand = approx
        .orderBy(col("adc_score").desc, col("vec_id"))
        .limit(k * rerank)
        .select(col("vec_id"), col("list_id"), col("adc_score"))
      e.join(broadcast(cand), "vec_id")
        .join(broadcast(qv))
        .withColumn("score", dot(col("v"), col("qv")))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(k)
        .select(col("vec_id"), col("list_id"),
          round(col("score"), 6).as("score"),
          round(col("adc_score"), 6).as("adc_score"))
    }
  }

  /** Residual frame for IVF-PQ codebook fitting: (vec_id, v = residual). */
  def residuals(emb: DataFrame, coarse: Seq[Seq[Double]]): DataFrame =
    coarseAssigned(emb, coarse).select(col("vec_id"), col("resid").as("v"))

  /** [[residuals]] over a PREPARED (vec_id, v) frame — the streaming
    * staleness monitor's entry point (same assignment tree as the index
    * slices, so monitored error is exactly what the stored codes carry).
    */
  private[graft] def residualsOn(e: DataFrame, coarse: Seq[Seq[Double]]): DataFrame =
    coarseAssignedOn(e, coarse).select(col("vec_id"), col("resid").as("v"))

  // ---------------------------------------------------------------------
  // STORED PQ index — build once / query many. [[adcTopKBatch]] re-fits
  // the codebooks and re-encodes the corpus on EVERY invocation; the
  // production shape fits + encodes ONCE (the expensive pass over the
  // raw vectors) and every retrieval batch scans only the stored 8-byte
  // code rows: `<prefix>_codes` + `<prefix>_vecs` (exact-re-rank side,
  // the source array<float> widened on read by IndexOps.readVecs),
  // bucketed+partitioned by batch_id (`sources.Bucketing`, incremental
  // growth via streaming.AnnStream's discipline), and `<prefix>_meta`
  // holding the FITTED CODEBOOKS — doubles round-trip bit-exactly
  // through parquet and float→double widening is exact, so the stored
  // path's ADC scores (and therefore its results) are IDENTICAL to the
  // recompute path's (PqSpec pins row equality + the
  // zero-corpus-exchange probe plan).
  // ---------------------------------------------------------------------

  /** Stored-PQ-index layout marker (DecontamStream discipline). Format 2
    * (r13) added the `_tombstones` + `_monitor` tables and the
    * `mse_micros` / `compacted_through` meta columns; format 3 (r14)
    * extends the monitor schema with the tail-coverage statistic
    * (`tail_ppm` / `tail_bar_ppm` / `tail_alert` — see
    * [[graft.operators.IndexOps.MonitorSchema]]). A stale-format index
    * would silently resurrect deleted vectors / fail monitor appends, so
    * it must rebuild. Format 4 stores `_vecs.v` as the source
    * array<float> (see [[IndexOps.widened]]).
    */
  val PqIndexFormat = 4

  /** Staleness alert bar: a maintenance batch whose quantization MSE
    * exceeds this multiple of the BUILD-time MSE signals that the frozen
    * codebooks no longer fit the incoming distribution — time for a refit
    * generation (r12 verdict #3). Integer multiply on exact micros, so
    * the alert row is bit-deterministic.
    */
  val StalenessFactor = 2L

  /** Tail-coverage statistic (r13 verdict #4 — the per-family second
    * alarm): a vector counts as a TAIL member when its per-vector
    * quantization error exceeds [[TailFactor]]× the build MSE. The batch
    * alerts when more than [[TailAlertPpm]] (ppm) of its vectors are
    * tail members — a sub-population the frozen codebooks cannot encode
    * (new language, new modality slice) that the batch MEAN hides when
    * the rest of the batch is ordinary. The complement holds too: a
    * uniform mean shift trips the MSE alarm with the tail quiet. Both
    * thresholds are exact-integer comparisons on int64 micros, so the
    * alert rows are bit-deterministic; SQ8's clamp-ppm plays the same
    * coverage role for the affine family (`Sq8.ClampAlertPpm`).
    */
  val TailFactor = 4L
  val TailAlertPpm = 100000L

  /** Per-row PQ quantization error in exact int64 micros: for each
    * subspace, the squared L2 distance to the CHOSEN (argmin) centroid,
    * computed as ss − 2·s where s = ⟨sub,c⟩ − ||c||²/2 is the same scored
    * struct [[withCodes]] argmaxes over (so the error and the code can
    * never disagree on the winner), floored to micros PER SUBSPACE and
    * integer-summed — order-independent, replayable bit-for-bit from
    * codebook literals (q163's DuckDB twin).
    */
  private[graft] def quantErrMicros(vCol: Column, cbs: Seq[Seq[Seq[Double]]]): Column =
    // one CentroidErrMicros expression (r16; see its scaladoc) — the same
    // argmax scan as the codes with the identical IEEE op order in the
    // floor argument, replacing the M·KSUB-node literal tree; q163's
    // DuckDB twin hash-verifies the bit-parity
    centroidErrMicros(vCol, cbs)

  /** Corpus/batch quantization MSE vs `cbs` over a PREPARED (…, v) frame:
    * ONE row (n_vecs, mse_micros) with mse = Σ per-row err DIV n — all
    * int64, so build-time and per-batch monitors compare exactly.
    */
  private[graft] def quantMseMicros(e: DataFrame, cbs: Seq[Seq[Seq[Double]]]): DataFrame =
    e.select(quantErrMicros(col("v"), cbs).as("fx"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("fx")).as("sum_fx"))
      .select(col("n_vecs"),
        when(col("n_vecs") > 0, expr("sum_fx div n_vecs")).otherwise(lit(0L))
          .as("mse_micros"))

  /** Driver-side build MSE (a 1-row scalar read, the DqChecks fold). */
  private def buildMseMicros(e: DataFrame, cbs: Seq[Seq[Seq[Double]]]): Long =
    quantMseMicros(e, cbs).collect()(0).getLong(1)

  /** One increment's index slices from a [[IndexOps.widened]]
    * (vec_id, embedding, v) frame, stamped with `batchId` — codes from
    * the widened `v`, vecs from the source float `embedding`; the ONE
    * copy of the stored-index schema, shared by the batch build, the
    * streaming grow and the refit.
    */
  private[graft] def pqIndexSlices(e: DataFrame, batchId: Long,
      cbs: Seq[Seq[Seq[Double]]]): (DataFrame, DataFrame) = {
    val codes = withCodes(e.select(col("vec_id"), col("v")), col("v"), cbs)
      .select(col("vec_id") +: (0 until M).map(m => col(s"code_$m")): _*)
      .withColumn("batch_id", lit(batchId))
    (codes, e.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("batch_id", lit(batchId)))
  }

  /** Fit the codebooks over `emb` and store the full PQ index under
    * `tablePrefix` / `path` (seed slice = batch_id -1). Returns the
    * fitted codebooks (the caller usually doesn't need them — the query
    * path reads them back from meta).
    */
  def buildPqIndex(emb: DataFrame, tablePrefix: String, path: String,
      iters: Int = 2, seed: Long = 23L, nBuckets: Int = 8): Seq[Seq[Seq[Double]]] = {
    import graft.sources.Bucketing
    val spark = emb.sparkSession
    import spark.implicits._
    val cbs = fit(emb, iters, seed)
    val e = IndexOps.widenedSource(emb)
    val (codes, vs) = pqIndexSlices(e, -1L, cbs)
    Bucketing.writeBucketedPartitionedBy(codes,
      s"${tablePrefix}_codes", s"$path/codes", Seq("batch_id"), "vec_id", nBuckets)
    Bucketing.writeBucketedPartitionedBy(vs,
      s"${tablePrefix}_vecs", s"$path/vecs", Seq("batch_id"), "vec_id", nBuckets)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones", nBuckets)
    initMonitor(spark, tablePrefix, path)
    // build-time quantization MSE — the staleness baseline every
    // maintenance batch compares against (r12 verdict #3)
    val mse = buildMseMicros(e, cbs)
    Seq((PqIndexFormat, M, DSUB, KSUB, cbs, mse, IndexOps.NeverCompacted,
        IndexOps.NeverCompacted))
      .toDF("format", "m", "dsub", "ksub", "codebooks", "mse_micros",
        "compacted_through", "ts_compacted_through")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${tablePrefix}_meta")
    cbs
  }

  /** Create the (empty) per-batch staleness-monitor table. */
  private def initMonitor(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String): Unit = {
    import graft.sources.Bucketing
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      IndexOps.MonitorSchema)
    Bucketing.writeBucketedPartitionedBy(empty, s"${tablePrefix}_monitor",
      s"$path/monitor", Seq("batch_id"), "mse_micros", nBuckets = 1)
  }

  /** One maintenance batch's staleness-monitor row: the delta's
    * quantization MSE against the FROZEN codebooks vs the build-time
    * baseline (alert = mse > [[StalenessFactor]] × build) PLUS the
    * tail-coverage statistic (tail_ppm = ppm of vectors whose per-vector
    * error exceeds [[TailFactor]] × build, tail_alert above
    * [[TailAlertPpm]]) — both exact int64, one aggregation pass. An
    * empty batch records (0, 0, …, no alerts).
    */
  private[graft] def monitorSlice(e: DataFrame, batchId: Long,
      cbs: Seq[Seq[Seq[Double]]], buildMse: Long): DataFrame =
    e.select(quantErrMicros(col("v"), cbs).as("fx"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("fx")).as("sum_fx"),
        sum(when(col("fx") > lit(TailFactor * buildMse), 1L).otherwise(0L))
          .as("n_tail"))
      .select(col("n_vecs"),
        when(col("n_vecs") > 0, expr("sum_fx div n_vecs")).otherwise(lit(0L))
          .as("mse_micros"),
        when(col("n_vecs") > 0, expr("(n_tail * 1000000) div n_vecs"))
          .otherwise(lit(0L)).as("tail_ppm"))
      .select(col("n_vecs"), col("mse_micros"),
        lit(buildMse).as("build_mse_micros"),
        (col("n_vecs") > 0 &&
          col("mse_micros") > lit(StalenessFactor) * lit(buildMse))
          .cast("long").as("alert"),
        col("tail_ppm"),
        lit(TailAlertPpm).as("tail_bar_ppm"),
        (col("n_vecs") > 0 && col("tail_ppm") > TailAlertPpm)
          .cast("long").as("tail_alert"),
        lit(batchId).as("batch_id"))

  /** Re-register the stored PQ index in a fresh session catalog from its
    * surviving files (restart story — Bucketing.reattachBy semantics).
    * Tombstone/monitor tables attach with DECLARED schemas (legitimately
    * empty until the first deletion/stream batch).
    */
  def reattachPqIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String, nBuckets: Int = 8): Unit =
    IndexOps.reattachIndex(spark, tablePrefix, "pq", path, nBuckets)

  /** REFIT GENERATION — the staleness monitor's consumer (r12 verdict
    * #3 closed end-to-end): when monitor rows alert that the frozen
    * codebooks no longer fit the incoming distribution, refit them on
    * the CURRENT surviving corpus and re-encode — a compaction whose
    * codebooks are fresh instead of carried over. The surviving vectors
    * are materialized (localCheckpoint) BEFORE any table is replaced,
    * codebooks are fitted from those blocks, and the codes/vecs tables
    * swap in as one new generation with a fresh build-MSE baseline in
    * meta (so the next monitor batches compare against the refit
    * quality, not the stale one). Tombstones are consumed, fences
    * advance exactly as in [[compactPqIndex]]. AnnStreamSpec pins: a
    * drifted stream alerts → refit → the same drifted data no longer
    * alerts, and stored answers are row-identical to the recompute over
    * the surviving corpus under the refit codebooks.
    *
    * Crash-consistency contract: the multi-table swap (codes → vecs →
    * tombstones → meta) is not atomic ACROSS tables — each step is
    * individually safe (IndexOps.swapIn keeps the previous generation at
    * `__old` until the new one is live), but a crash between steps
    * leaves tables from two generations; meta (written LAST) still
    * describes the old codebooks, so a probe decodes wrongly until the
    * refit is re-run. Re-running the refit is the recovery — it is
    * idempotent over the surviving corpus.
    */
  def refitPqIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String, iters: Int = 2, seed: Long = 23L,
      nBuckets: Int = 8): Seq[Seq[Seq[Double]]] = {
    import spark.implicits._
    IndexOps.requireAlignedBatches(spark, tablePrefix, Seq("codes", "vecs"),
      historyTables = Seq("monitor"))
    val gen = IndexOps.maxBatchId(spark, s"${tablePrefix}_codes")
    val tsGen = IndexOps.tombstoneGen(spark, tablePrefix)
    val vs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs"))
      .select(col("vec_id"), col("embedding"), col("v")).localCheckpoint(true)
    val cbs = fitOnPrepared(vs, iters, seed)
    val mse = buildMseMicros(vs, cbs)
    val (codes, vsSlice) = pqIndexSlices(vs, gen, cbs)
    IndexOps.swapIn(spark, s"${tablePrefix}_codes", s"$path/codes",
      codes, Seq("batch_id" -> "BIGINT"), "vec_id", nBuckets)
    IndexOps.swapIn(spark, s"${tablePrefix}_vecs", s"$path/vecs",
      vsSlice, Seq("batch_id" -> "BIGINT"), "vec_id", nBuckets)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones",
      nBuckets, overwrite = true)
    Seq((PqIndexFormat, M, DSUB, KSUB, cbs, mse, gen, tsGen))
      .toDF("format", "m", "dsub", "ksub", "codebooks", "mse_micros",
        "compacted_through", "ts_compacted_through")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${tablePrefix}_meta")
    Dedup.release(vs)
    cbs
  }

  /** [[refitPqIndex]] for the IVF-PQ layout: BOTH fits refreshed (coarse
    * Lloyd over the surviving corpus, then residual codebooks), codes
    * re-laid-out under the new lists in the (batch_id, list_id)
    * directory scheme, fresh residual-MSE baseline in meta.
    */
  def refitIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String, nLists: Int = 16,
      coarseIters: Int = 2, pqIters: Int = 2, nBuckets: Int = 8): Unit = {
    import spark.implicits._
    IndexOps.requireAlignedBatches(spark, tablePrefix, Seq("codes", "vecs"),
      historyTables = Seq("monitor"))
    val gen = IndexOps.maxBatchId(spark, s"${tablePrefix}_codes")
    val tsGen = IndexOps.tombstoneGen(spark, tablePrefix)
    val vs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs"))
      .select(col("vec_id"), col("embedding"), col("v")).localCheckpoint(true)
    val coarse = Clustering.fitCentroidsPrepared(vs, nLists, 64, coarseIters, 7L)
    val resid = residualsOn(vs, coarse)
    val cbs = fitOn(resid, pqIters)
    val mse = buildMseMicros(resid, cbs)
    val (codes, vsSlice) = ivfPqIndexSlices(vs, gen, coarse, cbs)
    IndexOps.swapIn(spark, s"${tablePrefix}_codes", s"$path/codes",
      codes, Seq("batch_id" -> "BIGINT", "list_id" -> "INT"), "vec_id", nBuckets)
    IndexOps.swapIn(spark, s"${tablePrefix}_vecs", s"$path/vecs",
      vsSlice, Seq("batch_id" -> "BIGINT"), "vec_id", nBuckets)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones",
      nBuckets, overwrite = true)
    Seq((PqIndexFormat, M, DSUB, KSUB, cbs, coarse, mse, gen, tsGen))
      .toDF("format", "m", "dsub", "ksub", "codebooks", "coarse",
        "mse_micros", "compacted_through", "ts_compacted_through")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${tablePrefix}_meta")
    Dedup.release(vs)
  }

  /** Generation rewrite of the stored PQ index — see
    * [[Similarity.compactAnnIndex]] / [[IndexOps]]. The monitor table is
    * per-batch OBSERVABILITY history, not index data: it is kept as-is.
    */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String, nBuckets: Int = 8): Unit =
    IndexOps.compactIndex(spark, tablePrefix, "pq", path, nBuckets)

  /** Validated codebooks from the stored meta: format + geometry must
    * match this module's constants (codes are 4-bit positions in THIS
    * layout — a geometry drift would decode garbage silently), every
    * violation throws.
    */
  private[graft] def pqIndexCodebooks(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Seq[Seq[Seq[Double]]] = {
    val meta = spark.table(s"${tablePrefix}_meta").collect()
    require(meta.length == 1,
      s"PQ index meta $tablePrefix must be exactly 1 row, got ${meta.length}")
    val r = meta(0)
    require(r.getAs[Int]("format") == PqIndexFormat &&
      r.getAs[Int]("m") == M && r.getAs[Int]("dsub") == DSUB &&
      r.getAs[Int]("ksub") == KSUB,
      s"PQ index $tablePrefix geometry/format mismatch — rebuild with buildPqIndex")
    r.getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("codebooks")
      .map(_.map(_.toSeq).toSeq).toSeq
  }

  /** Build-time quantization MSE from the stored meta (micros) — the
    * staleness baseline. Shared by the PQ and IVF-PQ layouts (both metas
    * carry the column; for IVF-PQ it is the RESIDUAL quantization MSE).
    */
  private[graft] def indexBuildMse(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Long =
    spark.table(s"${tablePrefix}_meta")
      .select(col("mse_micros")).collect()(0).getLong(0)

  /** [[adcTopKBatch]] against the STORED index: identical answers (the
    * stored codes/codebooks are the recompute path's own, parquet
    * round-trips doubles exactly — PqSpec pins row equality), but the
    * per-batch cost is LUT scoring over the stored 8-byte code rows +
    * the bounded exact re-rank — no codebook fit, no encode pass, zero
    * corpus-side exchange (plan-pinned). `maxBatchId` prunes to
    * batch_id < N (the streaming replay fence); `tsMaxBatchId` fences
    * the tombstone table by its OWN delete-stream numbering (the two
    * streams number independently — the default applies every recorded
    * deletion).
    */
  def adcTopKBatchStored(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, batchSize: Int = 16, k: Int = 5, rerank: Int = 32,
      nShards: Int = -1, maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    val cbs = pqIndexCodebooks(spark, tablePrefix)
    // tombstones anti-join on BOTH vec_id-bucketed tables: the codes
    // side must filter BEFORE the per-anchor ADC cut (a tombstoned code
    // row in the top k·rerank would displace a live candidate — not
    // merely vanish later), and the vecs side feeds anchors + re-rank.
    // Bucket layouts match, so no corpus-side exchange is introduced.
    val vs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId).select(col("vec_id"), col("v"))
    val codes = IndexOps.survivors(spark, tablePrefix,
      spark.table(s"${tablePrefix}_codes").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId)
      .select(col("vec_id") +: (0 until M).map(m => col(s"code_$m")): _*)
    val anchors = vs.filter(col("vec_id") < batchSize).limit(batchSize)
      .select(col("vec_id").as("anchor_id"), col("v").as("qv"))
    adcCandidatesFrom(codes, anchors, cbs, batchSize, k, rerank, nShards)
      .transform(exactRerankBatch(vs, anchors, k))
  }

  // ---------------------------------------------------------------------
  // STORED IVF-PQ index — the full billion-vector layout as a standing
  // table set. [[ivfPqTopK]] re-runs BOTH fits (coarse Lloyd + residual
  // codebooks, the two expensive corpus passes) on every invocation; the
  // stored form fits once and lays the code rows out partitioned by
  // (batch_id, list_id) — so a probe's nProbe list filter prunes whole
  // DIRECTORIES before any scoring, which is the actual reason IVF
  // exists at 100 TB. Codebooks AND coarse centroids live in meta
  // (parquet round-trips doubles bit-exactly), so the stored answer is
  // row-identical to the recompute path's (PqSpec pins it).
  // ---------------------------------------------------------------------

  /** Fit coarse + residual codebooks over `emb` and store the IVF-PQ
    * index under `tablePrefix` / `path` (seed slice = batch_id -1):
    * `<prefix>_codes` (vec_id, code_0..7) partitioned by
    * (batch_id, list_id), `<prefix>_vecs` (vec_id, v) partitioned by
    * batch_id, `<prefix>_meta` (format, geometry, codebooks, coarse).
    */
  def buildIvfPqIndex(emb: DataFrame, tablePrefix: String, path: String,
      nLists: Int = 16, coarseIters: Int = 2, pqIters: Int = 2,
      nBuckets: Int = 8): Unit = {
    import graft.sources.Bucketing
    val spark = emb.sparkSession
    import spark.implicits._
    val coarse = Clustering.fitCentroids(emb, nLists, 64, coarseIters, seed = 7L)
    val resid = residuals(emb, coarse)
    val cbs = fitOn(resid, pqIters)
    val (codes, vs) = ivfPqIndexSlices(IndexOps.widenedSource(emb), -1L, coarse, cbs)
    Bucketing.writeBucketedPartitionedBy(codes,
      s"${tablePrefix}_codes", s"$path/codes", Seq("batch_id", "list_id"),
      "vec_id", nBuckets)
    Bucketing.writeBucketedPartitionedBy(vs,
      s"${tablePrefix}_vecs", s"$path/vecs", Seq("batch_id"), "vec_id", nBuckets)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones", nBuckets)
    initMonitor(spark, tablePrefix, path)
    // build-time RESIDUAL quantization MSE — IVF-PQ's ADC error source
    // is the residual quantizer, so that is what the monitor watches
    val mse = buildMseMicros(resid, cbs)
    Seq((PqIndexFormat, M, DSUB, KSUB, cbs, coarse, mse,
        IndexOps.NeverCompacted, IndexOps.NeverCompacted))
      .toDF("format", "m", "dsub", "ksub", "codebooks", "coarse",
        "mse_micros", "compacted_through", "ts_compacted_through")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${tablePrefix}_meta")
  }

  /** Re-register the stored IVF-PQ index in a fresh session catalog
    * (restart story).
    */
  def reattachIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String, nBuckets: Int = 8): Unit =
    IndexOps.reattachIndex(spark, tablePrefix, "ivf_pq", path, nBuckets)

  /** Generation rewrite of the stored IVF-PQ index — the codes table
    * keeps its (batch_id, list_id) directory layout (probes still prune
    * whole list directories), folded to one batch_id generation.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String, nBuckets: Int = 8): Unit =
    IndexOps.compactIndex(spark, tablePrefix, "ivf_pq", path, nBuckets)

  /** One increment's IVF-PQ index slices from a [[IndexOps.widened]]
    * (vec_id, embedding, v) frame, stamped with `batchId` (vecs keep the
    * source float `embedding`): coarse-assign against the FROZEN
    * `coarse` centroids, residual-encode against the frozen `cbs` —
    * the streaming-growth twin of [[buildIvfPqIndex]]'s seed slice.
    */
  private[graft] def ivfPqIndexSlices(e: DataFrame, batchId: Long,
      coarse: Seq[Seq[Double]], cbs: Seq[Seq[Seq[Double]]]): (DataFrame, DataFrame) = {
    val codes = withCodes(coarseAssignedOn(e, coarse), col("resid"), cbs)
      .select(col("vec_id") +: col("list_id") +: (0 until M).map(m => col(s"code_$m")): _*)
      .withColumn("batch_id", lit(batchId))
    (codes, e.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("batch_id", lit(batchId)))
  }

  /** Validated (coarse, codebooks) from the stored IVF-PQ meta. */
  private[graft] def ivfPqIndexMeta(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val meta = spark.table(s"${tablePrefix}_meta").collect()
    require(meta.length == 1,
      s"IVF-PQ index meta $tablePrefix must be exactly 1 row, got ${meta.length}")
    val r = meta(0)
    require(r.getAs[Int]("format") == PqIndexFormat &&
      r.getAs[Int]("m") == M && r.getAs[Int]("dsub") == DSUB &&
      r.getAs[Int]("ksub") == KSUB,
      s"IVF-PQ index $tablePrefix geometry/format mismatch — rebuild with buildIvfPqIndex")
    val cbs = r.getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("codebooks")
      .map(_.map(_.toSeq).toSeq).toSeq
    val coarse = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("coarse")
      .map(_.toSeq).toSeq
    (coarse, cbs)
  }

  /** [[ivfPqTopK]] against the STORED index: identical answers (stored
    * codes/codebooks/coarse ARE the recompute path's, bit-exact through
    * parquet — PqSpec pins row equality), but the per-query cost is the
    * probe only — no Lloyd fits, no encode pass, and the nProbe list
    * filter prunes whole (batch_id, list_id) partition directories
    * before any code row is read (the partition-pruning layout the
    * recompute path can only simulate with a filter).
    */
  def ivfPqTopKStored(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, queryVecId: Long = 0L, k: Int = 10,
      nProbe: Int = 4, rerank: Int = 32,
      maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    val (coarse, cbs) = ivfPqIndexMeta(spark, tablePrefix)
    val coarseLit = typedlit(coarse)
    // tombstones anti-join on both vec_id-bucketed tables (the codes
    // side BEFORE the ADC cut — see adcTopKBatchStored); tsMaxBatchId
    // is the tombstone table's OWN delete-stream fence
    val vs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId).select(col("vec_id"), col("v"))
    val codes = IndexOps.survivors(spark, tablePrefix,
      spark.table(s"${tablePrefix}_codes").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId)
      .select(col("vec_id") +: col("list_id") +: (0 until M).map(m => col(s"code_$m")): _*)
    // the query vector is ONE bucketed point lookup collected to the
    // driver (r12 verdict #6: the old shape derived qv AND probeLists as
    // two separate 1-row subtrees, each scanning `_vecs` again —
    // execScans 10 vs q158's 7); the probe-list expression tree below is
    // UNCHANGED (same listScores columns over the same IEEE doubles —
    // parquet → driver → literal round-trips bits), so PqSpec's
    // row-identity with the recompute path still pins it
    val qRows = vs.filter(col("vec_id") === queryVecId)
      .select(col("v")).limit(1).collect()
    require(qRows.nonEmpty,
      s"query vec_id=$queryVecId is absent from index $tablePrefix " +
        "(never ingested, beyond maxBatchId, or tombstoned)")
    val qvec: Seq[Double] = qRows(0).getSeq[Double](0).toSeq
    import spark.implicits._
    val qv = Seq(Tuple1(qvec)).toDF("qv")
    val probeLists = qv
      .select(explode(slice(listScores(col("qv"), coarse), 1, nProbe)).as("ls"))
      .select((-col("ls.negc")).cast("int").as("probe_list"))
    val qvLut = withAdcLut(qv, col("qv"), cbs)
      .withColumn("coarse_lut", array(coarse.indices.map(c =>
        dot(col("qv"), element_at(coarseLit, c + 1))): _*))
    val score: Column =
      element_at(col("coarse_lut"), (col("list_id") + 1).cast("int")) + lutAdcSum
    val approx = codes.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(probeLists), col("list_id") === col("probe_list"))
      .join(broadcast(qvLut))
      .withColumn("adc_score", score)
      .drop("coarse_lut").drop(lutCols: _*)
    val cand = approx
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(k * rerank)
      .select(col("vec_id"), col("list_id"), col("adc_score"))
    vs.join(broadcast(cand), "vec_id")
      .join(broadcast(qv))
      .withColumn("score", dot(col("v"), col("qv")))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("list_id"),
        round(col("score"), 6).as("score"),
        round(col("adc_score"), 6).as("adc_score"))
  }

  /** BATCHED [[ivfPqTopKStored]] (r14 verdict #2 — the last index family
    * without a batched stored probe): per-anchor top-k for a fixed
    * training batch against the standing IVF-PQ index, with the UNION of
    * the batch's probed lists served by ONE list-pruned codes scan. Per
    * training step this is the cost model that makes IVF-PQ the
    * billion-vector layout: the broadcast (anchor, probe_list) index —
    * batch·nProbe tiny rows — joins the codes table EQUI on the
    * partition column, so directory pruning drops every unprobed
    * (batch_id, list_id) before a code row is read and each probed
    * list's rows are scanned ONCE however many anchors probe it (the
    * join fans them out). Scoring ships only the per-anchor LUTs
    * (withAdcLut + the coarse table — 128+nLists doubles per anchor,
    * broadcast), each code row pays 1+M array lookups per probing
    * anchor, then the two-stage per-anchor cut ([[adcCandidatesFrom]]'s
    * discipline: partial on (anchor, shard), global over the <=
    * batch·shards·k·rerank survivors — identical rows to a single
    * window) and the exact re-rank of the bounded candidate set against
    * the stored vectors. Rows-only (data-dependent fits); PqSpec pins
    * per-anchor row-identity with [[ivfPqTopKStored]] and RecallProbe
    * floors it at sf0.1.
    */
  def ivfPqTopKBatchStored(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, batchSize: Int = 16, k: Int = 5,
      nProbe: Int = 4, rerank: Int = 32, nShards: Int = -1,
      maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (coarse, cbs) = ivfPqIndexMeta(spark, tablePrefix)
    val coarseLit = typedlit(coarse)
    val vs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId).select(col("vec_id"), col("v"))
    val codes = IndexOps.survivors(spark, tablePrefix,
      spark.table(s"${tablePrefix}_codes").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId)
      .select(col("vec_id") +: col("list_id") +: (0 until M).map(m => col(s"code_$m")): _*)
    val anchors = vs.filter(col("vec_id") < batchSize).limit(batchSize)
      .select(col("vec_id").as("anchor_id"), col("v").as("qv"))
    // (anchor_id, probe_list): each anchor's nProbe nearest coarse lists
    // — the same listScores tree as the single-query probe, so the
    // probed set per anchor is identical (the row-identity contract)
    val anchorLists = anchors
      .select(col("anchor_id"),
        explode(slice(listScores(col("qv"), coarse), 1, nProbe)).as("ls"))
      .select(col("anchor_id"), (-col("ls.negc")).cast("int").as("probe_list"))
    val luts = withAdcLut(anchors, col("qv"), cbs)
      .withColumn("coarse_lut", array(coarse.indices.map(c =>
        dot(col("qv"), element_at(coarseLit, c + 1))): _*))
      .drop("qv")
    val score: Column =
      element_at(col("coarse_lut"), (col("list_id") + 1).cast("int")) + lutAdcSum
    val shards = Par.resolveShards(spark, nShards, batchSize)
    val byAnchorShard = Window.partitionBy(col("anchor_id"), col("shard"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    val byAnchor = Window.partitionBy(col("anchor_id"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    val cand = codes
      .join(broadcast(anchorLists), col("list_id") === col("probe_list"))
      .filter(col("vec_id") =!= col("anchor_id"))
      .join(broadcast(luts), "anchor_id")
      .withColumn("adc_score", score)
      .drop("coarse_lut").drop(lutCols: _*)
      .withColumn("shard", pmod(col("vec_id"), lit(shards)))
      .withColumn("rk1", row_number().over(byAnchorShard))
      .filter(col("rk1") <= k * rerank)
      .withColumn("rk", row_number().over(byAnchor))
      .filter(col("rk") <= k * rerank)
      .select(col("anchor_id"), col("vec_id"), col("list_id"), col("adc_score"))
      .limit(batchSize * k * rerank) // no-op fence: rows already <= this
    val byAnchorExact = Window.partitionBy(col("anchor_id"))
      .orderBy(col("score").desc, col("vec_id"))
    vs.join(broadcast(cand), "vec_id")
      .join(broadcast(anchors), "anchor_id")
      .withColumn("score", dot(col("v"), col("qv")))
      .withColumn("rk", row_number().over(byAnchorExact).cast("long"))
      .filter(col("rk") <= k)
      .select(col("anchor_id"), col("rk"), col("vec_id"), col("list_id"),
        round(col("score"), 6).as("score"),
        round(col("adc_score"), 6).as("adc_score"))
  }
}
