package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  * Brute-force cosine (queries.VectorQueries q29) is the correctness
  * baseline; this module adds the scale paths:
  *
  *  - top-k *pairs* across the corpus (embedding near-dup detection);
  *  - random-hyperplane LSH ANN: L hash tables × nb sign-bits each. Planes
  *    are generated driver-side from a fixed seed (tiny: L·nb·dim doubles,
  *    broadcast as literals — no data collect), bucket keys are computed
  *    executor-side, and only same-bucket candidates get exact cosine.
  *
  * 100 TB notes: brute-force pair search is O(n²·dim) and exists only as
  * the oracle baseline; LSH turns the corpus scan into a shuffle on
  * (table, bucket) keys — n·L tiny rows — and exact scoring touches only
  * candidates. Bucket skew (dense regions) is the known failure mode: AQE
  * skew-join split plus raising nb bounds bucket population.
  */
object Similarity {

  /** The hard-negative cosine band — similar enough to be HARD (floor)
    * but not so similar it is a likely false negative / unlabeled
    * positive (ceiling); the standard contrastive-mining denoising bound
    * (RocketQA/ANCE). SINGLE SOURCE OF TRUTH for q145 (exact broadcast
    * batch), q150 ([[hardNegativesLsh]] scale path), RetrievalSpec's
    * pinned q145↔q150 equivalence, and RecallProbe's at-scale floor —
    * the four used to carry their own literals, so editing one silently
    * broke the others' comparison.
    */
  val HardNegFloor = 0.25
  val HardNegCeil = 0.95

  /** Top-k most-similar pairs by cosine, brute force (baseline/oracle).
    * Norms are computed once per vector, not per pair (n vs n² folds), and
    * the left side of the O(n²) nested-loop join is fanned out so pair
    * scoring uses every core.
    */
  def topKPairs(emb: DataFrame, k: Int = 20): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    val a = Par.fanOut(e.toDF("vec_a", "va", "norm_a"))
    val b = e.toDF("vec_b", "vb", "norm_b")
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos_raw", dot(col("va"), col("vb")) / (col("norm_a") * col("norm_b")))
      .orderBy(col("cos_raw").desc, col("vec_a"), col("vec_b"))
      .limit(k)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed). */
  private def planes(tables: Int, bits: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    val rnd = new java.util.Random(42L)
    Seq.fill(tables, bits, dim)(rnd.nextGaussian())
  }

  /** Attach (table, bucket) LSH keys: bucket bit j of table t is the sign
    * of <v, plane_tj>.
    */
  def withLshBuckets(emb: DataFrame, tables: Int = 32, bits: Int = 6,
      dim: Int = 64): DataFrame =
    withLshBucketsOn(
      Par.fanOut(emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))),
      tables, bits, dim)

  /** [[withLshBuckets]] over a PREPARED (vec_id, v: array<double>, …)
    * frame — the entry point for callers that already materialized the
    * projected corpus (the checkpointed frame in [[lshScoredPairs]]), so
    * bucketing does not force a second scan of the source.
    */
  private def withLshBucketsOn(e: DataFrame, tables: Int, bits: Int,
      dim: Int = 64): DataFrame = {
    // Explode the table INDEX (trivial generator) and compute one table's
    // bucket per emitted row — exploding a precomputed array of all bucket
    // keys would re-evaluate every table's dot products per output row
    // (Spark Generate re-evaluates computed-array children per element).
    //
    // The per-table planes arrive via a broadcast-hash-joined 32-row
    // frame, NOT a tables×bits×dim literal: the 12k-double literal rode
    // every stage's task binary (~1 MB serialized, the "Broadcasting
    // large task binary" warnings) and its plan/codegen processing cost
    // ~0.5 s PER EXECUTION flat — measured 2-3.5x slower than the
    // broadcast join at any scale. A broadcast ships the planes to each
    // executor once per query instead of once per task binary.
    val spark = e.sparkSession
    import spark.implicits._
    val pl = planes(tables, bits, dim).zipWithIndex
      .map { case (ps, t) => (t, ps) }.toDF("table", "planes")
    val bucket = (0 until bits).map { j =>
      when(dot(col("v"), element_at(col("planes"), j + 1)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    e.select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(tables - 1))).as("table"))
      .join(broadcast(pl), "table")
      .withColumn("bucket", bucket)
      .drop("planes")
  }

  /** Embedding-cosine near-dup pairs at a threshold, LSH-prefiltered:
    * only pairs sharing ≥1 (table, bucket) are candidates, then exact
    * cosine filters them — the scale path for corpus-wide cosine dedup
    * (brute force [[topKPairs]] is the oracle baseline). Recall is
    * probabilistic in the LSH tables; OperatorsSpec pins a floor against
    * brute force.
    *
    * Bucket bits are ADAPTIVE by default (`bits <= 0`): 2^bits ≈
    * n / targetBucket, so bucket population stays ~constant as the corpus
    * grows and candidate pairs stay ~LINEAR in n. A fixed bit width is
    * quadratic in disguise — with 2^bits buckets frozen, expected pairs
    * are n²/2^bits·tables/2; ShuffleGrowthSpec measured the old fixed-6-
    * bit form at 9.8x shuffle growth on 4x rows before this change. The
    * price is the standard LSH trade: more bits at larger n lowers
    * per-table recall (collision prob p_bit^bits), which production
    * systems buy back with more tables; the sizing count reads the
    * already-checkpointed projected corpus, not the source (see
    * [[lshScoredPairs]]).
    *
    * Pairs are generated per-bucket from the sorted member list (the
    * [[Dedup.shingleJaccardPairs]] posting-list idiom) — one groupBy
    * shuffle of n·tables slim rows instead of a two-sided self-join.
    * `maxBucket` (default off, [[Dedup]] dfCap contract: only ever drops
    * pairs) is the degenerate-region lever: a bucket bigger than the cap
    * — a dense near-identical cluster or a pathological hyperplane — is
    * dropped before pair blowup; its members are typically also co-housed
    * in other tables' smaller buckets.
    */
  def nearDupPairsLsh(emb: DataFrame, minCos: Double,
      tables: Int = 32, bits: Int = -1, targetBucket: Int = 16,
      maxBucket: Option[Int] = None): DataFrame =
    lshScoredPairs(emb, tables, bits, targetBucket, maxBucket)
      .filter(col("cos_raw") >= minCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 6).as("cos_sim"))

  /** The LSH candidate-pair core shared by [[nearDupPairsLsh]] and
    * [[hardNegativesLsh]]: banded candidates scored with exact cosine,
    * RAW score retained so callers apply their own thresholds/rounding.
    * Returns (vec_a, vec_b, cos_raw) with vec_a < vec_b.
    *
    * BLOCK LIFETIME: the projected corpus localCheckpoints here and the
    * blocks must outlive this call — the returned frame is lazy and its
    * plan reads them — so release is the CONSUMER's obligation once the
    * result is materialized: `Dedup.release` cannot apply (the frame is
    * internal), the idiom is the harness sweep
    * (`sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))`,
    * run by Bench and Verify between queries), or ContextCleaner's
    * GC-triggered sweep in a long-lived session. A fit loop that folds
    * its result driver-side inside the call (Bpe.train, Pq.fitOn)
    * releases eagerly instead — different contract, same blocks.
    */
  private def lshScoredPairs(emb: DataFrame, tables: Int, bits: Int,
      targetBucket: Int, maxBucket: Option[Int]): DataFrame = {
    // ONE corpus scan feeds everything: fan out, project (vec_id, v, nrm),
    // checkpoint eagerly (the q144/components lineage pattern), and read
    // the adaptive-bits row count from the CHECKPOINT — the old shape paid
    // a dedicated emb.count() parquet pass just to size bucket bits (r10
    // verdict #8) plus two more source scans for the bucket index and the
    // scoring joins; all three now read the materialized blocks. The
    // checkpoint holds the projected corpus (id, vector, norm) in
    // executor block storage — memory-and-disk, same footprint class as
    // the components/soft-dedup checkpoints; a multi-tenant 100 TB
    // deployment would swap in reliable checkpoint() to cluster storage.
    val e = Par.fanOut(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")))
      .withColumn("nrm", l2Norm(col("v")))
      .localCheckpoint(true)
    val effBits =
      if (bits > 0) bits
      else {
        val n = e.count().toDouble // counts checkpointed blocks, no re-scan
        math.max(3, (math.log(math.max(1.0, n / targetBucket)) / math.log(2.0)).ceil.toInt)
      }
    val slim = withLshBucketsOn(e.select(col("vec_id"), col("v")), tables, effBits)
      .select(col("vec_id"), col("table"), col("bucket"))
    val postings = slim.groupBy(col("table"), col("bucket"))
      .agg(sort_array(collect_set(col("vec_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val kept = maxBucket.fold(postings)(cap =>
      postings.filter(size(col("ds")) <= cap))
    val cand = kept.select(explode(expr(
      """flatten(transform(ds, (a, i) ->
        |  transform(slice(ds, i + 2, size(ds)), b -> struct(a AS vec_a, b AS vec_b))))"""
        .stripMargin)).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
      .distinct()
    cand
      .join(e.toDF("vec_a", "va", "norm_a"), "vec_a")
      .join(e.toDF("vec_b", "vb", "norm_b"), "vec_b")
      .withColumn("cos_raw", dot(col("va"), col("vb")) / (col("norm_a") * col("norm_b")))
      .select(col("vec_a"), col("vec_b"), col("cos_raw"))
  }

  /** Corpus-wide hard-negative mining — the scale path of q145's
    * brute-force baseline. q145 broadcasts a FIXED anchor batch against
    * one corpus scan (exact, the right plan when anchors are a training
    * batch); when EVERY vector needs negatives (contrastive pre-training
    * over the whole corpus), that is n anchors × n candidates — the
    * all-pairs shape — so candidates come from the banded LSH index
    * instead: n·tables slim posting rows, ~linear pair growth under the
    * adaptive bucket sizing, exact cosine only on same-bucket pairs.
    * Each undirected candidate pair serves both directions (a is a
    * candidate negative for b and vice versa); label mismatch + the
    * hard band [lo, hi) filter BEFORE the per-anchor top-k rank window.
    * Recall is probabilistic in the LSH tables (RetrievalSpec pins a
    * floor against q145's exact result); precision is exact — every
    * returned row re-checks labels and band on true cosine.
    */
  def hardNegativesLsh(emb: DataFrame, k: Int = 3, lo: Double = HardNegFloor,
      hi: Double = HardNegCeil, tables: Int = 32, bits: Int = -1,
      targetBucket: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // banded pairs MATERIALIZED once before symmetrization (r17, guide
    // §2.4): the union-with-swap otherwise plans the whole LSH candidate
    // + scoring subtree twice — ReuseExchange dedupes the exchanges, but
    // the post-shuffle candidate generation and both vector-fetch joins
    // re-executed per branch. The checkpoint holds only the in-band
    // pairs (a candidate-sized slim frame); both union arms read its
    // blocks. Lifetime: the consumer's obligation (the lshScoredPairs
    // contract).
    val pairs = lshScoredPairs(emb, tables, bits, targetBucket, None)
      .filter(col("cos_raw") >= lo && col("cos_raw") < hi)
      .localCheckpoint(true)
    val sym = pairs.select(col("vec_a").as("anchor_id"), col("vec_b").as("neg_id"), col("cos_raw"))
      .union(pairs.select(col("vec_b").as("anchor_id"), col("vec_a").as("neg_id"), col("cos_raw")))
    val lbl = emb.select(col("vec_id"), col("label"))
    val byAnchor = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_raw").desc, col("neg_id"))
    sym
      .join(lbl.toDF("anchor_id", "anchor_label"), "anchor_id")
      .join(lbl.toDF("neg_id", "neg_label"), "neg_id")
      .filter(col("anchor_label") =!= col("neg_label"))
      .withColumn("rk", row_number().over(byAnchor).cast("long"))
      .filter(col("rk") <= k)
      .select(col("anchor_id"), col("rk"), col("neg_id"), col("neg_label"),
        round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** IVF-flat ANN: vectors are assigned to their nearest of `k` centroids
    * (one list per centroid); a query probes its `nProbe` nearest lists and
    * scores only those vectors exactly. The complementary trade-off to
    * hyperplane LSH: one bucket per vector (minimal index size, one shuffle
    * key per row) vs LSH's L-fold replication for recall. The coarse
    * quantizer is LEARNED — `lloydIters` exact deterministic Lloyd
    * iterations from the seeded start (Clustering.fitCentroids, the same
    * int64 fixed-point machinery as q85/Pq.fit, so the operator stays
    * bit-deterministic on any cluster size); seeded-but-unlearned
    * centroids (`lloydIters = 0`) ignored the corpus density and pinned
    * sf0.1 recall at 0.50. Training cost is `iters` scans + k·dim-row
    * aggregates — amortized over every query against the index.
    */
  def ivfTopK(emb: DataFrame, queryVecId: Long, kResults: Int = 10,
      nCentroids: Int = 16, nProbe: Int = 8, lloydIters: Int = 2): DataFrame = {
    // ONE checkpointed corpus projection feeds the Lloyd fit, the list
    // assignment, the query branch and the probe scoring (r16, the
    // Pq.adcTopKFit discipline) — previously the fit source and the
    // assignment/query/probe branches each re-scanned the parquet
    // corpus. Same fit rows, same probe — row-identical results; block
    // lifetime is the harness sweep's (lshScoredPairs contract).
    val prepared = Par.fanOut(
      emb.select(col("vec_id"), asDouble(col("embedding")).as("v")))
      .localCheckpoint(true)
    val cs = Clustering.fitCentroidsPrepared(prepared, nCentroids, 64,
      lloydIters, seed = 7L)
    // true nearest-centroid: argmin ||v−c||² ≡ argmax (⟨v,c⟩ − ||c||²/2).
    // The half-norm term was a no-op for the old unit-norm seeded
    // centroids but is REQUIRED for learned means, which have
    // data-dependent norms — raw argmax-dot would bias assignment toward
    // long centroids. Clustering.scoredL2 is the SINGLE definition of
    // this rule — also the k-means TRAINING assignment and Pq's
    // coarse-quantizer algebra — so index-side assignment, query-side
    // probing, and the Lloyd loop that produced the centroids all
    // partition identically (ties to the lowest list id).
    def scored(v: org.apache.spark.sql.Column) = Clustering.scoredL2(v, cs)
    // greatest() ≡ desc-sort-take-1 over the same structs (O(k), no
    // per-row array build+sort)
    def nearest(v: org.apache.spark.sql.Column) =
      // single-subspace CentroidCodes under the L2 rule — same argmax and
      // tie-break as greatest(scored), one expression node (r16)
      graft.functions.VectorFunctions.centroidCodes(
        v, Seq(cs), subtractHalfNorm = true).getItem(0)
    val e = prepared.withColumn("list_id", nearest(col("v")))
    val q = e.filter(col("vec_id") === queryVecId).select(col("v").as("qv"))
    // the query's nProbe nearest lists, computed once from its vector
    val probeLists = e.filter(col("vec_id") === queryVecId)
      .select(explode(slice(sort_array(array(scored(col("v")): _*), asc = false),
        1, nProbe)).as("ls"))
      .select((-col("ls.negc")).as("probe_list"))
    e.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(probeLists), col("list_id") === col("probe_list"))
      .crossJoin(broadcast(q))
      .withColumn("cos_raw", cosine(col("v"), col("qv")))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(kResults)
      .select(col("vec_id"), round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** BATCHED ANN top-k (r10 verdict #2): per-anchor top-k over the LSH
    * index for a fixed training batch of anchors (vec_id < batchSize —
    * a CONSTANT, not a corpus fraction, so the anchor side is
    * broadcastable at any corpus size; the `.limit` makes the bound
    * structural, the q145 fence). This is the retrieval shape a training
    * pipeline actually runs — one batch of queries per step — where
    * looping [[annTopK]] would rebuild the corpus bucket index per
    * query. SCALE: the corpus side is bucketed ONCE (n·tables slim
    * rows), candidates come from an equi-join of those postings against
    * the broadcast batch·tables anchor-bucket index — the corpus never
    * shuffles for the batch — and exact cosine touches only candidates;
    * the per-anchor rank window partitions by anchor over candidate
    * rows. Recall is probabilistic in the LSH tables (RetrievalSpec
    * floor vs the exact batch baseline, q152); precision is exact.
    * Block lifetime of the checkpointed projection: the consumer's
    * obligation — see [[lshScoredPairs]].
    */
  def annTopKBatch(emb: DataFrame, batchSize: Int = 16, k: Int = 5,
      tables: Int = 32, bits: Int = 6, nShards: Int = -1): DataFrame = {
    // ONE corpus scan (the lshScoredPairs discipline): the projected
    // vectors checkpoint once and feed the bucket index, the candidate
    // vector fetch, and the anchor slices — the anchor side keeps its
    // structural .limit so the broadcast stays provably bounded.
    val e = Par.fanOut(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")))
      .localCheckpoint(true)
    val anchors = e.filter(col("vec_id") < batchSize).limit(batchSize)
    val corpusBuckets = withLshBucketsOn(e, tables, bits)
      .select(col("vec_id"), col("table"), col("bucket"))
    annTopKBatchFrom(corpusBuckets, e, anchors, batchSize, k, tables, bits, nShards)
  }

  /** The batched-ANN scoring tail shared by [[annTopKBatch]] and the
    * stored-index path: candidates from the (corpus-side) bucket
    * postings equi-joined against the broadcast anchor-bucket index,
    * exact cosine on survivors, TWO-STAGE per-anchor top-k — a partial
    * cut partitioned on (anchor, shard = vec_id mod nShards), so reducer
    * fan-out is batch·nShards rather than bounded by batch size at
    * corpus scale, then the global per-anchor cut over the ≤
    * batch·nShards·k survivors (constant-size; every global-top row
    * survives its shard cut, so the answer is identical to the
    * single-window form — RetrievalSpec pins it). nShards -1 = sized
    * from shuffle.partitions / batch (Par.resolveShards — fan-out
    * tracks the cluster's reducer budget; identical rows either way).
    */
  private def annTopKBatchFrom(corpusBuckets: DataFrame, vecs: DataFrame,
      anchors: DataFrame, batchSize: Int, k: Int, tables: Int, bits: Int,
      nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shards = Par.resolveShards(vecs.sparkSession, nShards, batchSize)
    val anchorBuckets = withLshBucketsOn(anchors, tables, bits)
      .select(col("vec_id").as("anchor_id"), col("table"), col("bucket"))
    val cand = corpusBuckets
      .join(broadcast(anchorBuckets), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id")).distinct()
    val av = anchors.select(col("vec_id").as("anchor_id"), col("v").as("av"))
    val byAnchorShard = Window.partitionBy(col("anchor_id"), col("shard"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val byAnchor = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    cand
      .join(vecs, "vec_id") // fetch vectors only for surviving candidates
      .join(broadcast(av), "anchor_id")
      .withColumn("cos_raw", cosine(col("v"), col("av")))
      .withColumn("shard", pmod(col("vec_id"), lit(shards)))
      .withColumn("rk1", row_number().over(byAnchorShard))
      .filter(col("rk1") <= k)
      .withColumn("rk", row_number().over(byAnchor).cast("long"))
      .filter(col("rk") <= k)
      .select(col("anchor_id"), col("rk"), col("vec_id"),
        round(col("cos_raw"), 6).as("cos_sim"))
  }

  // ---------------------------------------------------------------------
  // STORED ANN index — build once / query many. [[annTopKBatch]] re-derives
  // the corpus bucket index from raw embeddings on EVERY invocation; a
  // training pipeline queries a standing index thousands of times (one
  // retrieval batch per training step), so the index is the artifact:
  // two bucketed+partitioned tables (`sources.Bucketing` discipline,
  // partition col `batch_id` so a streaming ingest can grow the index
  // incrementally — streaming.AnnStream — and replays prune to
  // batch_id < N), plus a meta table pinning the LSH geometry. Per batch
  // the probe pays: one slim postings scan (no LSH recompute, no vector
  // projection), a broadcast anchor-bucket join (zero corpus-side
  // exchange — RetrievalSpec pins the plan), exact cosine on candidates
  // fetched from the stored vector table. Result equality with the
  // recompute path is exact (same seeded planes, same IEEE cosine) —
  // RetrievalSpec pins it row-for-row.
  // ---------------------------------------------------------------------

  /** Stored-ANN-index layout marker — bump on any layout change so a
    * stale index fails loudly (the DecontamStream discipline). Format 2
    * (r13) adds the `_tombstones` table and the `compacted_through`
    * meta column (see [[IndexOps]]) — a format-1 index read by this code
    * would silently resurrect deleted vectors, so it must rebuild.
    * Format 3 stores `_vecs.v` at source precision (array<float>, see
    * [[IndexOps.widened]]); a format-2 array<double> table is rejected
    * rather than mixed with float slices.
    */
  val AnnIndexFormat = 3

  /** One increment's index slices from a [[IndexOps.widened]]
    * (vec_id, embedding, v) frame: (buckets (vec_id, table, bucket),
    * vecs (vec_id, v = the source float embedding)), stamped with
    * `batchId`. The ONE copy of the stored-index schema, shared by the
    * batch build and the streaming grow (AnnStream).
    */
  private[graft] def annIndexSlices(e: DataFrame, batchId: Long,
      tables: Int, bits: Int): (DataFrame, DataFrame) = {
    val buckets = withLshBucketsOn(e.select(col("vec_id"), col("v")), tables, bits)
      .select(col("vec_id"), col("table"), col("bucket"))
      .withColumn("batch_id", lit(batchId))
    (buckets, e.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("batch_id", lit(batchId)))
  }

  /** Build and store the standing ANN index for `emb` under
    * `tablePrefix` / `path` (seed slice lands as batch_id = -1):
    * `<prefix>_buckets` bucketed by `bucket`, `<prefix>_vecs` bucketed
    * by `vec_id`, `<prefix>_meta` (format, tables, bits). Geometry
    * lives in meta and is READ BACK by the query path — a
    * tables/bits mismatch between build and probe would silently match
    * wrong buckets, so the parameters cannot be re-supplied at query
    * time at all.
    */
  def buildAnnIndex(emb: DataFrame, tablePrefix: String, path: String,
      tables: Int = 32, bits: Int = 6, nBuckets: Int = 8): Unit = {
    import graft.sources.Bucketing
    val spark = emb.sparkSession
    import spark.implicits._
    val e = IndexOps.widenedSource(emb)
    val (buckets, vecs) = annIndexSlices(e, -1L, tables, bits)
    Bucketing.writeBucketedPartitionedBy(buckets,
      s"${tablePrefix}_buckets", s"$path/buckets", Seq("batch_id"), "bucket", nBuckets)
    Bucketing.writeBucketedPartitionedBy(vecs,
      s"${tablePrefix}_vecs", s"$path/vecs", Seq("batch_id"), "vec_id", nBuckets)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones", nBuckets)
    Seq((AnnIndexFormat, tables, bits, IndexOps.NeverCompacted, IndexOps.NeverCompacted))
      .toDF("format", "tables", "bits", "compacted_through", "ts_compacted_through")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${tablePrefix}_meta")
  }

  /** Re-register the stored ANN index in a fresh session catalog from its
    * surviving files (Bucketing.reattachBy semantics — restart story). The
    * tombstone table attaches with a DECLARED schema: it is legitimately
    * empty until the first deletion, and an empty directory has nothing
    * to infer from.
    */
  def reattachAnnIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String, nBuckets: Int = 8): Unit =
    IndexOps.reattachIndex(spark, tablePrefix, "ann_lsh", path, nBuckets)

  /** Generation rewrite of the stored ANN index (r12 verdict #2): fold
    * every batch partition into ONE, physically purging tombstoned rows,
    * and record the fold point in meta so pre-compaction replays cannot
    * re-duplicate (see [[IndexOps]]). After this the probe reads
    * O(buckets) files however many micro-batches the stream appended —
    * IndexCompactionSpec pins both the row identity and the file-count
    * collapse.
    */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String, nBuckets: Int = 8): Unit =
    IndexOps.compactIndex(spark, tablePrefix, "ann_lsh", path, nBuckets)

  /** Validated (tables, bits) from the stored meta — every violation
    * throws (a silently-wrong geometry would probe wrong buckets).
    */
  private[graft] def annIndexMeta(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): (Int, Int) = {
    val meta = spark.table(s"${tablePrefix}_meta").collect()
    require(meta.length == 1,
      s"ANN index meta $tablePrefix must be exactly 1 row, got ${meta.length}")
    require(meta(0).getAs[Int]("format") == AnnIndexFormat,
      s"ANN index $tablePrefix has format ${meta(0).getAs[Int]("format")} != " +
        s"$AnnIndexFormat — rebuild with buildAnnIndex")
    (meta(0).getAs[Int]("tables"), meta(0).getAs[Int]("bits"))
  }

  /** [[annTopKBatch]] against the STORED index: identical answers (same
    * seeded planes, same candidates, same IEEE cosine — RetrievalSpec
    * pins row equality), but the per-batch cost is the probe only — no
    * LSH recompute, no corpus projection/checkpoint, zero corpus-side
    * exchange (plan-pinned). `maxBatchId` prunes to batch_id < N
    * (partition pruning — the streaming replay fence). `tsMaxBatchId`
    * fences the TOMBSTONE table by its own DELETE-stream batch numbering
    * (the two streams number independently — passing the data fence here
    * would silently skip known deletions); the default applies every
    * recorded deletion.
    */
  def annTopKBatchStored(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, batchSize: Int = 16, k: Int = 5,
      nShards: Int = -1, maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    val (tables, bits) = annIndexMeta(spark, tablePrefix)
    // tombstones anti-join on the vec_id-bucketed vector table ONLY: a
    // tombstoned candidate from the (bucket-keyed, unfiltered) postings
    // drops at the inner vecs join BEFORE any ranking, and anchors come
    // from the filtered frame — row-identical to a rebuild from the
    // surviving corpus (StoredTombstoneSpec) with zero corpus-side
    // exchange preserved (the postings scan is untouched, the anti-join
    // matches the vecs bucket layout).
    val vecs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId).select(col("vec_id"), col("v"))
    val corpusBuckets = spark.table(s"${tablePrefix}_buckets")
      .filter(col("batch_id") < maxBatchId)
      .select(col("vec_id"), col("table"), col("bucket"))
    val anchors = vecs.filter(col("vec_id") < batchSize).limit(batchSize)
    annTopKBatchFrom(corpusBuckets, vecs, anchors, batchSize, k, tables, bits, nShards)
  }

  /** The EXACT dense retrieval leg from the STORED vector table (r15:
    * the last recompute leg in hybrid retrieval): q146/q170's dense RRF
    * leg recomputes exact cosine top-`depth` from the corpus parquet on
    * EVERY invocation, while the LSH index already stores the full
    * vectors (`<prefix>_vecs`, its exact-re-rank side). Serving the leg
    * from that standing bucketed table keeps the answer BIT-IDENTICAL —
    * the stored `v` IS the source float `embedding`, widened by
    * [[IndexOps.readVecs]] exactly as the recompute path widens it
    * (float→double is exact), the cosine is the same IEEE tree, and rank/tie
    * rules are unchanged — so a fusion over this leg carries q146's
    * full DuckDB oracle verbatim (the q169/q170 precedent, applied to
    * the dense side). Returns (doc_id, rank_dense) over the top
    * `depth`; deletions and the streaming replay fence apply exactly as
    * in [[annTopKBatchStored]] (with `tsMaxBatchId` the tombstone
    * table's OWN delete-stream fence). SCALE: one stored-table scan
    * scored against the broadcast 1-row query vector, a TakeOrdered cut
    * to `depth`, and ranking on the constant-size cut — no corpus
    * re-projection, no LSH recompute, zero corpus-side exchange. An
    * absent/tombstoned query vector throws (the ivfPqTopKStored error
    * contract) — a silent empty frame would degrade a hybrid fusion to
    * lexical-only without anyone noticing.
    */
  def denseRanksStored(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, queryVecId: Long = 0L, depth: Int = 100,
      maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    annIndexMeta(spark, tablePrefix) // format/layout validation only
    val vecs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId).select(col("vec_id"), col("v"))
    // 1-row bucketed point lookup collected to the driver — loud when
    // the query vector is absent or tombstoned; parquet → driver →
    // literal round-trips the doubles bit-exactly (the ivfPqTopKStored
    // precedent), so the cosine tree below is unchanged
    val qRows = vecs.filter(col("vec_id") === queryVecId)
      .select(col("v")).limit(1).collect()
    require(qRows.nonEmpty,
      s"query vec_id=$queryVecId is absent from index $tablePrefix " +
        "(never ingested, beyond maxBatchId, or tombstoned)")
    import spark.implicits._
    val qv = Seq(Tuple1(qRows(0).getSeq[Double](0).toSeq)).toDF("qv")
    // rank partitioned on a single-valued key (pmod(vec_id, 1) ≡ 0):
    // the window runs AFTER the limit(depth) cut so its one partition
    // holds <= depth rows (bounded by construction) — the non-empty
    // partition spec states that in the plan instead of tripping
    // WindowExec's unpartitioned-window warning on every probe (r15
    // verdict #7). A foldable constant (lit(0)) would NOT do: Spark 4's
    // EliminateWindowPartitions folds it away and the warning returns.
    vecs.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qv))
      .withColumn("cos_raw", cosine(col("v"), col("qv")))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(depth)
      .withColumn("rank_dense",
        row_number().over(Window.partitionBy(pmod(col("vec_id"), lit(1)))
          .orderBy(col("cos_raw").desc, col("vec_id")))
          .cast("long"))
      .select(col("vec_id").as("doc_id"), col("rank_dense"))
  }

  /** BATCHED [[denseRanksStored]] — the dense ranks of a fixed training
    * batch of query vectors (vec_id < batchSize, the q152/q158 anchor
    * fence), (query_id, doc_id, rank_dense) with rank_dense <= `depth`
    * per query. Exact (same IEEE cosine over the stored vectors), so a
    * per-query fusion over it stays fully SQL-replayable. SCALE: one
    * stored-table scan against the broadcast anchor batch, then the
    * two-stage per-query cut of [[annTopKBatchFrom]] — a partial
    * row_number partitioned on (query, shard = vec_id mod nShards)
    * bounds reducer fan-out at batch·shards, and the global per-query
    * rank runs over the <= batch·shards·depth survivors (every global
    * top-depth row survives its shard cut, so the two-stage form is
    * exactly the single-window answer).
    */
  def denseRanksBatchStored(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, batchSize: Int = 3, depth: Int = 100,
      nShards: Int = -1, maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    annIndexMeta(spark, tablePrefix)
    val vecs = IndexOps.survivors(spark, tablePrefix,
      IndexOps.readVecs(spark, s"${tablePrefix}_vecs").filter(col("batch_id") < maxBatchId),
      tsMaxBatchId).select(col("vec_id"), col("v"))
    val anchors = vecs.filter(col("vec_id") < batchSize).limit(batchSize)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val shards = Par.resolveShards(spark, nShards, batchSize)
    val byQueryShard = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    vecs.join(broadcast(anchors), col("vec_id") =!= col("query_id"))
      .withColumn("cos_raw", cosine(col("v"), col("qv")))
      .withColumn("shard", pmod(col("vec_id"), lit(shards)))
      .withColumn("rk1", row_number().over(byQueryShard))
      .filter(col("rk1") <= depth)
      .withColumn("rank_dense", row_number().over(byQuery).cast("long"))
      .filter(col("rank_dense") <= depth)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank_dense"))
  }

  /** Scoped checkpoint-block release (r12 verdict #7): the frames
    * [[nearDupPairsLsh]] / [[hardNegativesLsh]] / [[annTopKBatch]] return
    * read localCheckpoint blocks whose release is the CONSUMER's
    * obligation (see [[lshScoredPairs]]) — Bench and Verify sweep them
    * between queries, but a long-lived session embedding these calls
    * depended on ContextCleaner GC. This helper ties block lifetime to
    * the query run instead: `body` builds AND MATERIALIZES (collect /
    * write / count) its result; on exit every persistent RDD that
    * appeared during the scope is unpersisted. Blocks that existed
    * before the scope are untouched, so scopes nest and coexist with a
    * session's own caches.
    */
  def withScopedBlocks[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** MULTI-PROBE query buckets (Lv et al., VLDB 2007): for each table,
    * the query's own bucket PLUS `probes` neighbor buckets obtained by
    * flipping the lowest-|margin| sign bits — the bits whose hyperplane
    * the query sits closest to, i.e. exactly the bits most likely to
    * have split the query from its true neighbors. Recall rises without
    * touching the CORPUS side of the index at all (the classic
    * alternative — more tables — grows the stored index L-fold; probing
    * costs only (1+probes)·tables query rows and a ~(1+probes)×
    * candidate set). Margins ride the same broadcast-joined plane frame
    * as the buckets; the flip masks are struct literals, so the probe
    * set is bit-deterministic. `probes = 0` is exactly the single-probe
    * bucket set.
    */
  private def withLshProbeBucketsOn(e: DataFrame, tables: Int, bits: Int,
      probes: Int, dim: Int = 64): DataFrame = {
    if (probes <= 0)
      return withLshBucketsOn(e, tables, bits, dim)
    val spark = e.sparkSession
    import spark.implicits._
    val pl = planes(tables, bits, dim).zipWithIndex
      .map { case (ps, t) => (t, ps) }.toDF("table", "planes")
    val bucket = (0 until bits).map { j =>
      when(dot(col("v"), element_at(col("planes"), j + 1)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    // (|margin|, flip-mask) per bit; ascending struct sort = closest
    // hyperplanes first, mask as the deterministic tie-break
    val margins = array((0 until bits).map { j =>
      struct(abs(dot(col("v"), element_at(col("planes"), j + 1))).as("m"),
        lit(1 << j).as("mask"))
    }: _*)
    e.select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(tables - 1))).as("table"))
      .join(broadcast(pl), "table")
      .withColumn("__b", bucket)
      .withColumn("__flips", slice(sort_array(margins), 1, probes))
      .select(col("vec_id"), col("table"),
        explode(concat(array(col("__b")),
          transform(col("__flips"),
            f => col("__b").bitwiseXOR(f.getField("mask"))))).as("bucket"))
  }

  /** ANN top-k for one query vector: union of same-bucket candidates over L
    * tables — multi-probed on the QUERY side ([[withLshProbeBucketsOn]];
    * `probes` neighbor buckets per table, r13 verdict #3 — measured
    * recall at sf0.1 rose from 0.60 single-probe past the 0.70 floor) —
    * then exact cosine on candidates only.
    */
  def annTopK(emb: DataFrame, queryVecId: Long, k: Int = 10,
      tables: Int = 32, bits: Int = 6, probes: Int = 2): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val bucketed = withLshBuckets(emb, tables, bits)
      .select(col("vec_id"), col("table"), col("bucket")) // slim: no vectors through the shuffle
    // query buckets from a 1-row filtered input — deriving them from
    // `bucketed` would run the whole corpus LSH computation a second time
    val queryBuckets = withLshProbeBucketsOn(
      emb.filter(col("vec_id") === queryVecId)
        .select(col("vec_id"), asDouble(col("embedding")).as("v")),
      tables, bits, probes)
      .select(col("table").as("q_table"), col("bucket").as("q_bucket"))
    val queryVec = e.filter(col("vec_id") === queryVecId).select(col("v").as("qv"))
    val candidates = bucketed.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(queryBuckets),
        col("table") === col("q_table") && col("bucket") === col("q_bucket"))
      .select(col("vec_id")).distinct()
    candidates
      .join(e, "vec_id") // fetch vectors only for surviving candidates
      .crossJoin(broadcast(queryVec))
      .withColumn("cos_raw", cosine(col("v"), col("qv")))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos_raw"), 6).as("cos_sim"))
  }
}
