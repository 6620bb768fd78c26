package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Bucketing

/** STORED inverted index for lexical (BM25) retrieval — the build-once/
  * query-many path the r13 verdict ranked first: q131/q146 recompute
  * token postings, document frequencies and corpus stats from the raw
  * text on EVERY invocation, while a real retrieval pipeline runs
  * thousands of query batches against a standing index. This module
  * stores the postings once and makes each query pay only for its own
  * terms' inverted-index slices, under the same [[IndexOps]] lifecycle
  * as the four embedding families (batch_id growth, tombstoned deletion,
  * generation compaction, replay fences).
  *
  * Tables under `tablePrefix` / `path` (all batch_id-partitioned):
  *  - `<prefix>_postings` (token, doc_id, tf), bucketed+sorted by
  *    `token`: the inverted index. A probe filters `token IN (terms)` —
  *    a pushed scan filter on the bucket/sort column, so at 100 TB a
  *    query reads |terms| index slices, never the corpus;
  *  - `<prefix>_doclen` (doc_id, dl), bucketed by `doc_id`: per-doc
  *    token counts for the BM25 length normalization, co-located for
  *    the score join;
  *  - `<prefix>_stats` (n_docs, tot_dl), ONE row per batch: corpus
  *    stats ship as per-batch increments so the probe derives the
  *    global (N, total length) from an O(batches)-row sum instead of
  *    re-scanning doclen — load-bearing data (not observability), so it
  *    participates in batch alignment and is FOLDED by compaction;
  *  - `<prefix>_tombstones` (doc_id, batch_id) + `<prefix>_meta`
  *    (format + both compaction fences) — the IndexOps discipline with
  *    keyCol = doc_id.
  *
  * EXACTNESS (what lets the stored probe carry a full DuckDB oracle,
  * the q168 precedent): every stored column is an exact integer
  * derived deterministically from the text (tf, dl, per-batch counts),
  * df is re-counted at probe time from the term-filtered surviving
  * postings, and the per-(doc, term) score is the ONE shared IEEE
  * expression string (`DocQueries.bm25Micros`) floored to int64 micros
  * — so the probe's answer is bit-identical to q131's recompute, and
  * the TOMBSTONED probe is bit-identical to the recompute over the
  * surviving corpus (df, N and total length all shrink exactly).
  *
  * Tokenization is the corpus contract shared with q131/q76/q99:
  * space-separated `text`.
  */
object Lexical {

  /** Stored-layout version (DecontamStream discipline). */
  val LexIndexFormat = 1

  /** One increment's index slices from a (doc_id, text) frame, stamped
    * with `batchId` — the ONE copy of the stored schema, shared by the
    * batch build, the streaming grow (`streaming.LexStream`) and the
    * compaction rewrite. The token array is staged ONCE per doc (the
    * q74 rule) and feeds both the length projection and the postings
    * explode. Malformed rows (NULL doc_id/text) are dropped HERE
    * (advisor r14) so the batch build and the streaming grow share one
    * contract — a null text previously produced a null split/dl in the
    * batch-built index that silently skewed doclen/stats away from the
    * oracle's surviving-corpus recompute.
    */
  private[graft] def lexIndexSlices(docs: DataFrame,
      batchId: Long): (DataFrame, DataFrame, DataFrame) = {
    val base = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__t"))
    val doclen = base
      .select(col("doc_id"), size(col("__t")).cast("long").as("dl"))
    val postings = base
      .select(col("doc_id"), explode(col("__t")).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val stats = doclen
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("tot_dl"))
    def stamp(df: DataFrame) = df.withColumn("batch_id", lit(batchId))
    (stamp(postings), stamp(doclen), stamp(stats))
  }

  /** Build and store the standing lexical index for `docs` under
    * `tablePrefix` / `path` (seed slice = batch_id -1).
    */
  def buildLexIndex(docs: DataFrame, tablePrefix: String, path: String,
      nBuckets: Int = 8): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (postings, doclen, stats) = lexIndexSlices(
      docs.select(col("doc_id"), col("text")), IndexOps.SeedBatchId)
    Bucketing.writeBucketedPartitionedBy(postings,
      s"${tablePrefix}_postings", s"$path/postings", Seq("batch_id"), "token", nBuckets)
    Bucketing.writeBucketedPartitionedBy(doclen,
      s"${tablePrefix}_doclen", s"$path/doclen", Seq("batch_id"), "doc_id", nBuckets)
    Bucketing.writeBucketedPartitionedBy(stats,
      s"${tablePrefix}_stats", s"$path/stats", Seq("batch_id"), "n_docs", nBuckets = 1)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones",
      nBuckets, keyCol = "doc_id")
    Seq((LexIndexFormat, IndexOps.NeverCompacted, IndexOps.NeverCompacted))
      .toDF("format", "compacted_through", "ts_compacted_through")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${tablePrefix}_meta")
  }

  /** Re-register the stored lexical index in a fresh session catalog
    * from its surviving files (restart story), after the mechanical
    * swap-crash check ([[IndexOps.recoverSwap]]) per table.
    */
  def reattachLexIndex(spark: SparkSession, tablePrefix: String,
      path: String, nBuckets: Int = 8): Unit =
    IndexOps.reattachIndex(spark, tablePrefix, "bm25", path, nBuckets)

  private def validated(spark: SparkSession, tablePrefix: String): Unit = {
    val meta = spark.table(s"${tablePrefix}_meta").collect()
    require(meta.length == 1 && meta(0).getAs[Int]("format") == LexIndexFormat,
      s"lexical index $tablePrefix format mismatch — rebuild with buildLexIndex")
  }

  /** BM25 top-k against the STORED index — q131's probe shape with the
    * corpus never re-tokenized: the postings scan is term-filtered on
    * the bucket/sort column (|terms| index slices at any corpus size),
    * df is a |terms|-row re-count over the SURVIVING filtered postings
    * (so deletions shrink it exactly), corpus stats are the O(batches)
    * increment sum adjusted by the deletion set (tombstones joined to
    * their doclen rows — O(|deletions|), never a corpus re-scan), the
    * doclen join lands on the doc_id-bucketed table, and the final cut
    * is a TakeOrderedAndProject over integer scores. Answers are
    * bit-identical to q131's recompute over the same (surviving)
    * corpus — the full-parity-oracle contract.
    *
    * The tombstone-emptiness fast path is probed ONCE for the whole
    * plan (not per table as the generic IndexOps.survivors would): in
    * the common deletion-free state the probe runs the q131 join tree
    * on stored slices with zero extra scans or jobs. `tsMaxBatchId`
    * fences the tombstone table by its OWN delete-stream numbering —
    * independent of the data stream's `maxBatchId` (passing the data
    * fence would silently skip known deletions); the default applies
    * every recorded deletion.
    */
  def bm25TopKStored(spark: SparkSession, tablePrefix: String,
      terms: Seq[String], k: Int = 20,
      maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame =
    bm25Contributions(spark, tablePrefix, terms, maxBatchId, tsMaxBatchId)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("c_micros")).as("score_micros"))
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_hit"), col("score_micros"))

  /** The per-(doc, term) scored-postings core shared by the single-query
    * top-k and the batched probe: surviving term-filtered postings with
    * df, doclen and the effective corpus stats joined in and the one
    * shared `bm25Micros` IEEE tree evaluated — (doc_id, token, tf,
    * c_micros). The tombstone-emptiness fast path is probed once here
    * for the whole plan.
    */
  private def bm25Contributions(spark: SparkSession, tablePrefix: String,
      terms: Seq[String], maxBatchId: Long,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    validated(spark, tablePrefix)
    // the delete stream numbers its batches independently of the data
    // stream, so the tombstone table carries its OWN fence
    val ts = spark.table(s"${tablePrefix}_tombstones")
      .filter(col("batch_id") < tsMaxBatchId)
    val deleted = !ts.limit(1).isEmpty
    def surv(df: DataFrame): DataFrame =
      if (!deleted) df
      else df.join(ts.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val post = surv(spark.table(s"${tablePrefix}_postings")
        .filter(col("batch_id") < maxBatchId)
        .filter(col("token").isin(terms: _*)))
      .select(col("doc_id"), col("token"), col("tf"))
    val dl = surv(spark.table(s"${tablePrefix}_doclen")
        .filter(col("batch_id") < maxBatchId))
      .select(col("doc_id"), col("dl"))
    val grown = spark.table(s"${tablePrefix}_stats")
      .filter(col("batch_id") < maxBatchId)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_all"),
        coalesce(sum(col("tot_dl")), lit(0L)).as("dl_all"))
    val st =
      if (!deleted) grown.select(col("n_all").as("n_docs"), col("dl_all").as("tot_dl"))
      else grown.crossJoin(
        ts.select(col("doc_id")).distinct()
          .join(spark.table(s"${tablePrefix}_doclen")
            .filter(col("batch_id") < maxBatchId)
            .select(col("doc_id"), col("dl")), Seq("doc_id"))
          .agg(count(lit(1)).as("n_dead"),
            coalesce(sum(col("dl")), lit(0L)).as("dl_dead")))
        .select((col("n_all") - col("n_dead")).as("n_docs"),
          (col("dl_all") - col("dl_dead")).as("tot_dl"))
    val dfc = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    post.join(dfc, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("c_micros", expr(graft.queries.DocQueries.bm25Micros))
  }

  /** BATCHED BM25 against the stored index — the retrieval shape a
    * training/eval pipeline actually runs (one batch of queries per
    * step, the q152/q158 pattern for the lexical leg): per query in a
    * FIXED literal batch, the top-k docs. One postings scan filtered to
    * the UNION of the batch's terms feeds every query; the per-(doc,
    * term) contribution is computed ONCE (df and corpus stats are
    * query-independent) and fanned out to queries by a broadcast
    * (query_id, token) join; per-query ranking partitions by query_id
    * over matched-posting survivors only. Exact int64 end to end, so
    * the batch probe carries a full DuckDB oracle like q169.
    */
  def bm25BatchTopKStored(spark: SparkSession, tablePrefix: String,
      queries: Seq[(Long, Seq[String])], k: Int = 5,
      maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micros").desc, col("doc_id"))
    bm25BatchScores(spark, tablePrefix, queries, maxBatchId, tsMaxBatchId)
      .withColumn("rk", row_number().over(byQuery).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"), col("n_hit"),
        col("score_micros"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The batched lexical RRF legs from the stored index — (query_id,
    * doc_id, rank_lex) with rank_lex <= `depth` per query: the
    * [[bm25RanksStored]] shape fanned out over a fixed query batch by
    * the one shared scored-postings core. Exact int64 scores + the
    * deterministic (score desc, doc_id) tie-break keep every rank
    * SQL-replayable, so a per-query fusion over this leg carries a full
    * oracle.
    */
  def bm25BatchRanksStored(spark: SparkSession, tablePrefix: String,
      queries: Seq[(Long, Seq[String])], depth: Int,
      maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micros").desc, col("doc_id"))
    bm25BatchScores(spark, tablePrefix, queries, maxBatchId, tsMaxBatchId)
      .withColumn("rank_lex", row_number().over(byQuery).cast("long"))
      .filter(col("rank_lex") <= depth)
      .select(col("query_id"), col("doc_id"), col("rank_lex"))
  }

  /** Per-(query, doc) aggregated BM25 scores for a fixed literal query
    * batch — the shared core of the batched top-k and the batched RRF
    * leg: ONE postings scan filtered to the UNION of the batch's terms,
    * per-(doc, term) contributions computed once (df and corpus stats
    * are query-independent), fanned out by a broadcast (query_id, token)
    * literal join, aggregated per (query_id, doc_id).
    */
  private def bm25BatchScores(spark: SparkSession, tablePrefix: String,
      queries: Seq[(Long, Seq[String])],
      maxBatchId: Long, tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val perDocTerm = bm25Contributions(spark, tablePrefix, allTerms,
      maxBatchId, tsMaxBatchId)
    val qt = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "token")
    perDocTerm
      .join(broadcast(qt), "token")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("c_micros")).as("score_micros"))
  }

  /** The lexical RRF leg from the stored index: (doc_id, rank_lex) over
    * the top `depth` — the rank window runs on the ≤depth-row cut, a
    * constant-size frame at any corpus size (q146's discipline).
    */
  def bm25RanksStored(spark: SparkSession, tablePrefix: String,
      terms: Seq[String], depth: Int,
      maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // single-valued partition key (pmod ≡ 0; a foldable lit would be
    // optimized away): the window runs on the <= depth-row cut (bounded
    // by construction) — see Similarity.denseRanksStored
    bm25TopKStored(spark, tablePrefix, terms, depth, maxBatchId, tsMaxBatchId)
      .withColumn("rank_lex",
        row_number().over(Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("score_micros").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_lex"))
  }

  /** Propagate a drop decision (any frame with a `doc_id` column) into
    * the index under `batchId` — [[IndexOps.tombstone]] with the
    * lexical key column.
    */
  def tombstoneDocs(spark: SparkSession, tablePrefix: String,
      ids: DataFrame, batchId: Long): Unit =
    IndexOps.tombstone(spark, tablePrefix, ids, batchId, keyCol = "doc_id")

  /** Generation rewrite: postings/doclen fold their batch partitions
    * into ONE with tombstoned docs physically purged; the stats table is
    * RE-DERIVED from the compacted doclen (a fold of per-batch
    * increments cannot subtract the purged docs — recomputing from the
    * survivors is exact and O(survivors) on a 2-column bucketed table,
    * paid once per compaction); tombstones are consumed and both fences
    * advance ([[IndexOps]]).
    */
  def compactLexIndex(spark: SparkSession, tablePrefix: String,
      path: String, nBuckets: Int = 8): Unit = {
    validated(spark, tablePrefix)
    IndexOps.requireAlignedBatches(spark, tablePrefix,
      Seq("postings", "doclen", "stats"))
    val gen = IndexOps.maxBatchId(spark, s"${tablePrefix}_postings")
    val tsGen = IndexOps.tombstoneGen(spark, tablePrefix)
    val drops = Some(spark.table(s"${tablePrefix}_tombstones"))
    IndexOps.compactTable(spark, s"${tablePrefix}_postings", s"$path/postings",
      Seq("batch_id" -> "BIGINT"), "token", nBuckets, gen, drops,
      dropOn = "doc_id")
    IndexOps.compactTable(spark, s"${tablePrefix}_doclen", s"$path/doclen",
      Seq("batch_id" -> "BIGINT"), "doc_id", nBuckets, gen, drops,
      dropOn = "doc_id")
    val freshStats = spark.table(s"${tablePrefix}_doclen")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("tot_dl"))
      .withColumn("batch_id", lit(gen))
    IndexOps.swapIn(spark, s"${tablePrefix}_stats", s"$path/stats",
      freshStats, Seq("batch_id" -> "BIGINT"), "n_docs", nBuckets = 1)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones",
      nBuckets, overwrite = true, keyCol = "doc_id")
    IndexOps.setCompactedThrough(spark, tablePrefix, path, gen, tsGen)
  }
}
