package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.Dedup

/** Streaming face of incremental dedup (the q124 / `Dedup.incrementalDedup`
  * shape): a document stream is screened micro-batch by micro-batch against
  * a STANDING corpus that grows with every accepted batch — the production
  * ingest loop at 100 TB, where the corpus is never re-deduped and each
  * day's delta only pays for its own postings.
  *
  * Exactly-once without sink transactions: both writers key their output by
  * `batch_id` and OVERWRITE that one directory. A batch replayed after a
  * crash (foreachBatch offers at-least-once) recomputes the SAME rows —
  * `incrementalDedup` is deterministic and the corpus dirs of earlier
  * batches are immutable by then — and overwrites them in place, so the
  * net result is idempotent. The corpus root doubles as a batch_id=N
  * partitioned parquet table; readers see one consistent standing corpus.
  */
object DedupStream {

  /** Inbox CSV schema for document batches: (doc_id, text). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Streaming scan of a document inbox directory (one CSV per batch). */
  def readDocs(spark: SparkSession, inbox: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("header", "true")
      .csv(inbox)

  /** Seed the standing corpus with an initial document set (batch_id=-1).
    * Must run once before [[screen]] so the corpus root has a schema.
    */
  def seedCorpus(docs: DataFrame, corpusDir: String): Unit =
    docs.select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$corpusDir/batch_id=-1")

  /** One micro-batch of the screen — exposed so the replay property is
    * directly testable. CRASH-REPLAY SAFETY: the corpus read keeps the
    * `batch_id` partition column and filters to batch_id < batchId. A
    * replayed batch (foreachBatch is at-least-once; the JVM can die after
    * the corpus write but before the checkpoint commit) would otherwise
    * see its OWN previous `batch_id=N` output, match every
    * previously-kept doc against itself as an exact dup, and overwrite
    * the partition with an empty kept set — silently losing documents.
    * With the filter, a replay recomputes from exactly the pre-batch-N
    * corpus state and overwrites both outputs with identical rows.
    */
  def screenBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      corpusDir: String, decisionsDir: String, threshold: Double = 0.8): Unit = {
    val b = batch.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull)
    val corpus = spark.read.parquet(corpusDir)
      .filter(col("batch_id") < batchId)
      .select(col("doc_id"), col("text"))
    val decisions = Dedup.incrementalDedup(b, corpus, threshold)
    decisions.write.mode("overwrite")
      .parquet(s"$decisionsDir/batch_id=$batchId")
    // read back the just-committed decisions so the corpus append is a
    // child of durable state, not of a recomputation that could drift
    val kept = spark.read.parquet(s"$decisionsDir/batch_id=$batchId")
      .filter(col("keep") === 1L).select(col("doc_id"))
    b.join(kept, "doc_id")
      .write.mode("overwrite").parquet(s"$corpusDir/batch_id=$batchId")
    ()
  }

  // ---------------------------------------------------------------------
  // STORED-INDEX screening — the 100 TB streaming loop. [[screenBatch]]
  // re-reads the full text corpus and recomputes its shingle index EVERY
  // micro-batch: O(|corpus|) per batch, which is exactly what incremental
  // dedup exists to avoid. The stored mode keeps the corpus side as the
  // three bucketed index tables of `Dedup.buildCorpusIndex`, grown
  // incrementally: each batch's KEPT docs append under their own
  // batch_id partition, so a batch pays O(|delta| + matched postings) —
  // partition pruning keeps replays honest (a batch only ever reads
  // batch_id < its own) and the bucket layout keeps the delta join free
  // of corpus-side shuffles. The df column in appended partitions is the
  // WITHIN-SLICE frequency (global df is unknowable incrementally), so
  // dfCap is a batch-rebuild-time feature, not a streaming one.
  // ---------------------------------------------------------------------

  /** Streamed-corpus-index layout version: format 2 (r14) adds the
    * `_tombstones` table and the `_meta` fences — the full IndexOps
    * deletion/compaction lifecycle the r13 verdict ranked #2 (the index
    * was grow-only: probe cost grew with batch count and dropped docs
    * kept suppressing new near-dups of themselves forever).
    */
  val CorpusIndexFormat = 2

  /** Seed the stored-index screening state from an initial corpus:
    * postings/sizes/exact tables under `tablePrefix` at `path`, the
    * seed landing as `batch_id = -1`, plus the lifecycle tables
    * (tombstones keyed by doc_id; meta with the shingle width and both
    * compaction fences). The streaming counterpart of
    * `Dedup.buildCorpusIndex`.
    */
  def seedCorpusIndex(docs: DataFrame, tablePrefix: String, path: String,
      n: Int = 3, nBuckets: Int = 8): Unit = {
    import graft.operators.IndexOps
    import graft.sources.Bucketing
    val spark = docs.sparkSession
    import spark.implicits._
    val (postings, sizes, exact) = indexSlices(docs, -1L, n)
    Bucketing.writeBucketedPartitionedBy(postings,
      s"${tablePrefix}_postings", s"$path/postings", Seq("batch_id"), "sh", nBuckets)
    Bucketing.writeBucketedPartitionedBy(sizes,
      s"${tablePrefix}_sizes", s"$path/sizes", Seq("batch_id"), "doc_id", nBuckets)
    Bucketing.writeBucketedPartitionedBy(exact,
      s"${tablePrefix}_exact", s"$path/exact", Seq("batch_id"), "h", nBuckets)
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones",
      nBuckets, keyCol = "doc_id")
    Seq((CorpusIndexFormat, n, IndexOps.NeverCompacted, IndexOps.NeverCompacted))
      .toDF("format", "n", "compacted_through", "ts_compacted_through")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${tablePrefix}_meta")
  }

  /** Re-attach the three stored-index tables after a JVM restart on the
    * default in-memory catalog: table registrations die with the
    * session, the bucketed parquet files under `path` survive — without
    * this, a restarted stream's `spark.table` lookups throw and the
    * 'replay-safe' contract cannot even begin. No-op (per table) when
    * the catalog entry already exists, so it is safe to call
    * unconditionally at startup; on a persistent metastore it is pure
    * no-op. `nBuckets` must match the seed — the spec is declared, not
    * re-verified from files (see `Bucketing.reattachBy`).
    */
  def reattachCorpusIndex(spark: SparkSession, tablePrefix: String,
      path: String, nBuckets: Int = 8): Unit = {
    import graft.operators.IndexOps
    import graft.sources.Bucketing
    Seq("postings", "sizes", "exact").foreach(t =>
      IndexOps.recoverSwap(spark, s"${tablePrefix}_$t", s"$path/$t"))
    Seq("postings" -> "sh", "sizes" -> "doc_id", "exact" -> "h").foreach { case (t, k) =>
      Bucketing.reattachBy(spark, s"${tablePrefix}_$t", s"$path/$t",
        Seq("batch_id" -> "BIGINT"), k, nBuckets) }
    // lifecycle tables of the format-2 layout (a format-1 seed predating
    // them reattaches data-only and keeps its grow-only semantics)
    if (IndexOps.dirExists(spark, s"$path/tombstones"))
      Bucketing.reattachBySchema(spark, s"${tablePrefix}_tombstones",
        s"$path/tombstones", IndexOps.tombstoneSchema("doc_id"),
        Seq("batch_id" -> "BIGINT"), "doc_id", nBuckets)
    if (IndexOps.dirExists(spark, s"$path/meta"))
      Bucketing.attachPlain(spark, s"${tablePrefix}_meta", s"$path/meta")
  }

  /** One batch's index slices = [[graft.operators.Dedup.corpusIndexSlices]]
    * (the ONE copy of the index schema, shared with the batch build)
    * stamped with this batch's id. `private[streaming]` so StreamingSpec
    * can stage partial-append crash states directly.
    */
  private[streaming] def indexSlices(docs: DataFrame, batchId: Long,
      n: Int): (DataFrame, DataFrame, DataFrame) = {
    val (postings, sizes, exact) =
      graft.operators.Dedup.corpusIndexSlices(docs, n)
    def stamp(df: DataFrame) = df.withColumn("batch_id", lit(batchId))
    (stamp(postings), stamp(sizes), stamp(exact))
  }

  /** One micro-batch of the stored-index screen. Replay safety mirrors
    * [[screenBatch]]: all corpus reads prune to `batch_id < batchId`, so
    * a replayed batch recomputes identical decisions; the index append is
    * APPEND-IF-ABSENT probed PER TABLE (three tables = three commits —
    * a crash between them must leave a replay that fills exactly the
    * missing ones), so a crash at any point converges to the same
    * state — decisions are rewritten idempotently, each index table's
    * partition lands exactly once. DELETION CAVEAT: tombstones arrive on
    * an independently-numbered stream, so the screen applies EVERY
    * deletion known at run time (no batchId fence on the tombstone
    * table — fencing it by the DATA stream's id would compare two
    * unrelated counters, advisor r14; `storedCorpusFrames` keeps the
    * two fences as separate parameters). Consequence: a deletion
    * landing inside another batch's crash-replay window can change that
    * replay's decisions after its index slice was already appended —
    * run deletions (like compactions) between replay windows, the same
    * operational cadence rule [[graft.operators.IndexOps]] documents for
    * generation rewrites; under that cadence the replayed decisions
    * converge to exactly the state a fresh screen would compute.
    */
  def screenBatchStored(spark: SparkSession, batch: DataFrame, batchId: Long,
      tablePrefix: String, decisionsDir: String,
      threshold: Double = 0.8, n: Int = 3): Unit = {
    import graft.operators.{Dedup, IndexOps}
    import graft.sources.Bucketing
    // COMPACTION FENCE: a replay of a batch the generation rewrite
    // already folded away must not recompute decisions from a corpus
    // state that no longer exists (its batch_id < N prune now selects
    // the post-fold generation) nor re-append folded rows
    if (batchId <= IndexOps.compactedThrough(spark, tablePrefix)) return
    val b = batch.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull)
    // each decisions batch records the tombstone generation it observed
    // (AnnStream.tsGenPath); a replay observing a DIFFERENT generation —
    // a deletion landed inside the replay window — keeps the durable
    // decisions (the landed slices are their children) instead of
    // overwriting them with a post-deletion recompute
    val tsGen = IndexOps.tombstoneGen(spark, tablePrefix)
    if (!AnnStream.divergentReplay(spark, decisionsDir, batchId, tsGen,
        tablePrefix)) {
      // corpus side under the replay fence AND the deletion set: a
      // tombstoned doc neither matches exactly nor contributes postings —
      // dropped docs stop suppressing new duplicates of themselves
      val (postings, sizes, exact) =
        Dedup.storedCorpusFrames(spark, tablePrefix, maxBatchId = batchId)
      val decisions = Dedup.incrementalDedupFrom(b,
        exact.select(col("h"), col("len"), col("corp_id")),
        postings.select(col("doc_id"), col("sh")),
        sizes.select(col("doc_id"), col("n_sh")),
        threshold, n)
      decisions.write.mode("overwrite")
        .parquet(s"$decisionsDir/batch_id=$batchId")
      AnnStream.recordTsGen(spark, decisionsDir, batchId, tsGen)
    }
    // append-if-absent, probed PER TABLE: three appends are three commits,
    // and a crash between them (foreachBatch is at-least-once — exactly
    // the window this mode exists for) must not strand the index. A
    // single postings-only probe would: postings present on replay would
    // skip ALL three appends, leaving the batch's sizes/exact slices
    // missing forever — every later batch's near-dup score join and
    // exact arm would silently pass duplicates of this batch's keeps.
    // Per-table probing makes the replay fill exactly the missing tables
    // (each single append is idempotent under its own probe).
    val absent = Seq("postings", "sizes", "exact").filter { t =>
      spark.table(s"${tablePrefix}_$t")
        .filter(col("batch_id") === batchId).limit(1).count() == 0
    }
    if (absent.nonEmpty) {
      // child of the DURABLE decisions, as in screenBatch
      val kept = spark.read.parquet(s"$decisionsDir/batch_id=$batchId")
        .filter(col("keep") === 1L).select(col("doc_id"))
      val (postings, sizes, exact) = indexSlices(b.join(kept, "doc_id"), batchId, n)
      val byName = Map("postings" -> postings, "sizes" -> sizes, "exact" -> exact)
      absent.foreach(t =>
        Bucketing.appendBucketedPartition(byName(t), s"${tablePrefix}_$t"))
    }
  }

  /** Stored-index variant of [[screen]]: same stream contract, corpus
    * side never rescanned. `n` is the shingle width and MUST match the
    * width the index was seeded with ([[seedCorpusIndex]]) — shingle
    * hashes of different widths never collide, so a mismatch would make
    * the stored postings join silently match nothing (threading the
    * parameter here, instead of hard-wiring the default, is what lets a
    * non-default seed be screened at all).
    */
  def screenStored(docs: DataFrame, tablePrefix: String, decisionsDir: String,
      checkpoint: String, threshold: Double = 0.8,
      n: Int = 3): StreamingQuery = {
    StreamIngest.applyStateStoreDefaults(docs.sparkSession)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        screenBatchStored(batch.sparkSession, batch.toDF(), batchId,
          tablePrefix, decisionsDir, threshold, n)
      }
      .start()
  }

  /** Screen the doc stream against the standing corpus in `corpusDir`.
    * Per batch: decisions (q124 columns + batch_id) land in
    * `decisionsDir/batch_id=N`, and the KEPT docs join the corpus as
    * `corpusDir/batch_id=N` — visible to every later batch, so a doc kept
    * in batch 1 catches its duplicate arriving in batch 7. Within-batch
    * exact dups are caught by `incrementalDedup`'s batch signal.
    */
  def screen(docs: DataFrame, corpusDir: String, decisionsDir: String,
      checkpoint: String, threshold: Double = 0.8): StreamingQuery = {
    // the screen's own state lives in files (corpus/decisions dirs), but
    // default the session's state store anyway so any stateful op composed
    // upstream of `docs` (watermark dedup, sessionization) inherits the
    // RocksDB scale configuration
    StreamIngest.applyStateStoreDefaults(docs.sparkSession)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        screenBatch(batch.sparkSession, batch.toDF(), batchId,
          corpusDir, decisionsDir, threshold)
      }
      .start()
  }
}
