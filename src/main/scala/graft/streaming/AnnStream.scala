package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.{Pq, Similarity, Sq8}

/** Streaming embedding-index MAINTENANCE — the composition of
  * DedupStream's append-if-absent stored-index discipline with the
  * stored ANN/PQ indexes of `Similarity.buildAnnIndex` /
  * `Pq.buildPqIndex`: each ingest micro-batch of embeddings computes its
  * OWN vectors' LSH buckets (and PQ codes, against the FROZEN codebooks
  * the index was built with — the production rule: codebooks are fitted
  * once per index generation, deltas are encoded, never refitted) and
  * appends them under the batch's own `batch_id` partition. Retrieval
  * (`annTopKBatchStored` / `adcTopKBatchStored`) then stays fresh
  * without ever re-encoding the corpus: a vector ingested in batch 2 is
  * retrievable from batch 3 on, and the per-batch cost is O(|delta|).
  *
  * Exactly-once: the DedupStream contract. Appends are
  * APPEND-IF-ABSENT probed PER TABLE (two tables = two commits — a
  * crash between them leaves a replay that fills exactly the missing
  * one), each probe prunes to `batch_id === batchId` (partition
  * pruning), and the slices are deterministic functions of the batch —
  * so an at-least-once replay converges to the same index state with
  * each partition landing exactly once.
  */
object AnnStream {

  /** Inbox parquet schema for embedding batches. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Streaming scan of an embedding inbox directory (one parquet slice
    * per batch). `maxFilesPerTrigger > 0` caps files per micro-batch —
    * the spec's lever for forcing a multi-batch AvailableNow drain.
    */
  def readEmb(spark: SparkSession, inbox: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(embSchema)
    (if (maxFilesPerTrigger > 0)
       r.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else r).parquet(inbox)
  }

  /** (vec_id, embedding: array<float>, v: array<double>) of a
    * micro-batch — the [[graft.operators.IndexOps.widened]] shape, whose
    * slices store the source float — malformed rows dropped (the
    * DedupStream contract: a NULL id/vector must not become a NULL index
    * row).
    */
  private def prepared(batch: DataFrame): DataFrame =
    graft.operators.IndexOps.widened(batch.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull))

  /** Append-if-absent of `slices` (name -> stamped frame) for `batchId`:
    * probe each table's own partition, append exactly the missing ones
    * (see DedupStream.screenBatchStored for why the probe is PER TABLE).
    * Batches at or below the meta's `compacted_through` are skipped
    * outright: a generation rewrite (IndexOps compaction) FOLDED those
    * partitions away, so the per-partition probe would see them as
    * absent and a pre-compaction replay would re-duplicate their rows.
    */
  private[streaming] def appendAbsent(spark: SparkSession, tablePrefix: String,
      batchId: Long, slices: Map[String, DataFrame]): Unit = {
    if (batchId <= graft.operators.IndexOps.compactedThrough(spark, tablePrefix))
      return
    appendAbsentSlices(spark, tablePrefix,
      slices.toSeq.map { case (t, df) => (t, batchId, df) })
  }

  /** The append-if-absent core over explicitly (table, batch_id)-keyed
    * slices. The per-(table, batch) presence DECISIONS are unchanged —
    * each still prunes to its own partition — but the probes fold into
    * ONE union-of-limit-1 job instead of one job per table (r17, driver
    * job-launch latency: the q172 lifecycle ran 234 jobs of 10–300 ms
    * with comparable inter-job driver gaps; every fold here is ~2 jobs
    * off every maintenance batch of every family). Appends stay one
    * commit per TABLE (the crash-replay unit), with a multi-batch call
    * landing all of a table's absent partitions in that one commit —
    * the probe semantics make replays converge identically either way.
    */
  private[streaming] def appendAbsentSlices(spark: SparkSession,
      tablePrefix: String, slices: Seq[(String, Long, DataFrame)]): Unit = {
    import graft.sources.Bucketing
    if (slices.isEmpty) return
    val probes = slices.map { case (t, id, _) =>
      spark.table(s"${tablePrefix}_$t")
        .filter(col("batch_id") === id).limit(1)
        .select(lit(s"$t/$id").as("k"))
    }
    val present = probes.reduce(_.union(_)).collect().map(_.getString(0)).toSet
    val absent = slices.filterNot { case (t, id, _) => present(s"$t/$id") }
    // the per-TABLE commits are mutually independent (disjoint tables,
    // disjoint paths; the append-if-absent replay discipline is subset-
    // tolerant in any order), so overlap them (guide §2.6) — each commit
    // is half single-thread driver work (planning, file commit, catalog
    // update), which sequential calls serialize
    graft.operators.Par.inParallel(absent.map(_._1).distinct.map { t => () =>
      val dfs = absent.collect { case (`t`, _, df) => df }
      Bucketing.appendBucketedPartition(dfs.reduce(_.unionByName(_)),
        s"${tablePrefix}_$t")
    })
  }

  /** Sidecar path recording the tombstone generation a decisions batch
    * OBSERVED (advisor r15): the stored-screen paths apply tombstones
    * unfenced, so a deletion landing inside a crash-replay window would
    * make a recomputed decisions overwrite diverge from the
    * already-landed index slices (children of the pre-deletion keeps).
    * Recording the observed generation per batch makes that detectable:
    * [[divergentReplay]] tells a replay it is seeing a DIFFERENT
    * deletion set than the durable decisions did, and the screen keeps
    * the durable decisions instead of overwriting (the batch stays
    * internally consistent; the new deletions still apply at probe time
    * through the tombstone anti-join). The sidecar lives in a SIBLING
    * directory (`<decisionsDir>_tsgen`), not under the decisions root —
    * consumers read the decisions root as one partitioned parquet tree.
    */
  private[streaming] def tsGenPath(decisionsDir: String, batchId: Long): String =
    s"${decisionsDir}_tsgen/batch_id=$batchId"

  /** The recorded observed-tombstone-generation for a decisions batch,
    * None when the sidecar has never been written (first screen of the
    * batch, or a pre-upgrade decisions dir — both recompute as before).
    */
  private[streaming] def recordedTsGen(spark: SparkSession,
      decisionsDir: String, batchId: Long): Option[Long] = {
    val p = tsGenPath(decisionsDir, batchId)
    if (!graft.operators.IndexOps.dirExists(spark, p)) None
    else Some(spark.read.parquet(p).select(col("ts_gen"))
      .collect()(0).getLong(0))
  }

  /** Record the observed tombstone generation for a decisions batch —
    * written AFTER the decisions commit, so a present sidecar implies
    * committed decisions.
    */
  private[streaming] def recordTsGen(spark: SparkSession, decisionsDir: String,
      batchId: Long, tsGen: Long): Unit = {
    import spark.implicits._
    Seq(Tuple1(tsGen)).toDF("ts_gen")
      .coalesce(1).write.mode("overwrite")
      .parquet(tsGenPath(decisionsDir, batchId))
  }

  /** True when a replay of `batchId` observes a different deletion set
    * than the batch's durable decisions recorded — the screen must keep
    * those decisions (see [[tsGenPath]]). Loud: the divergence is
    * reported once on stderr (it is a documented-cadence violation —
    * deletions are supposed to run BETWEEN replay windows).
    */
  private[streaming] def divergentReplay(spark: SparkSession,
      decisionsDir: String, batchId: Long, tsGen: Long,
      tablePrefix: String): Boolean =
    recordedTsGen(spark, decisionsDir, batchId) match {
      case Some(rec) if rec != tsGen =>
        System.err.println(s"[graft] $tablePrefix batch $batchId replay " +
          s"observed tombstone generation $tsGen != recorded $rec — a " +
          "deletion landed inside the replay window; keeping the durable " +
          "decisions and filling only missing index slices")
        true
      case _ => false
    }

  /** One micro-batch of LSH-index maintenance: bucket the batch's
    * vectors with the GEOMETRY RECORDED IN META (a drifting tables/bits
    * would silently corrupt the index — the parameters cannot be
    * re-supplied here at all) and append (buckets, vecs) under
    * batch_id = `batchId`, if absent.
    */
  def indexBatchAnn(spark: SparkSession, batch: DataFrame, batchId: Long,
      tablePrefix: String): Unit = {
    val (tables, bits) = Similarity.annIndexMeta(spark, tablePrefix)
    val (buckets, vecs) =
      Similarity.annIndexSlices(prepared(batch), batchId, tables, bits)
    appendAbsent(spark, tablePrefix, batchId,
      Map("buckets" -> buckets, "vecs" -> vecs))
  }

  /** One micro-batch of PQ-index maintenance: encode the batch's vectors
    * against the STORED codebooks (read back from meta — frozen at build
    * time) and append (codes, vecs) under batch_id = `batchId`, if
    * absent.
    */
  def indexBatchPq(spark: SparkSession, batch: DataFrame, batchId: Long,
      tablePrefix: String): Unit = {
    val cbs = Pq.pqIndexCodebooks(spark, tablePrefix)
    val e = prepared(batch)
    val (codes, vecs) = Pq.pqIndexSlices(e, batchId, cbs)
    // staleness monitor (r12 verdict #3): the batch's quantization MSE
    // against the FROZEN codebooks vs the build-time baseline in meta —
    // a drifting delta distribution alerts for a refit generation while
    // the index itself stays exactly as built (frozen-codebook rule)
    val mon = Pq.monitorSlice(e, batchId, cbs, Pq.indexBuildMse(spark, tablePrefix))
    appendAbsent(spark, tablePrefix, batchId,
      Map("codes" -> codes, "vecs" -> vecs, "monitor" -> mon))
  }

  /** One micro-batch of IVF-PQ-index maintenance: coarse-assign +
    * residual-encode the batch's vectors against the FROZEN coarse
    * centroids and codebooks from meta, and append (codes, vecs) under
    * batch_id = `batchId`, if absent. The codes slice carries list_id,
    * so appended rows land in the (batch_id, list_id) partition layout
    * probes prune on.
    */
  def indexBatchIvfPq(spark: SparkSession, batch: DataFrame, batchId: Long,
      tablePrefix: String): Unit = {
    val (coarse, cbs) = Pq.ivfPqIndexMeta(spark, tablePrefix)
    val e = prepared(batch)
    val (codes, vecs) = Pq.ivfPqIndexSlices(e, batchId, coarse, cbs)
    // staleness monitor over the RESIDUAL quantizer (what IVF-PQ's ADC
    // error actually comes from): residuals vs the frozen coarse
    // centroids, scored against the frozen residual codebooks
    val mon = Pq.monitorSlice(
      Pq.residualsOn(e, coarse), batchId, cbs,
      Pq.indexBuildMse(spark, tablePrefix))
    appendAbsent(spark, tablePrefix, batchId,
      Map("codes" -> codes, "vecs" -> vecs, "monitor" -> mon))
  }

  /** The streaming LSH-index maintainer: AvailableNow over an embedding
    * stream, idempotent batch_id-keyed appends via [[indexBatchAnn]].
    * Seed the index first (`Similarity.buildAnnIndex` — batch_id -1);
    * after a restart, re-attach (`Similarity.reattachAnnIndex`) before
    * starting the stream.
    */
  def maintainAnn(emb: DataFrame, tablePrefix: String,
      checkpoint: String): StreamingQuery = {
    StreamIngest.applyStateStoreDefaults(emb.sparkSession)
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        indexBatchAnn(batch.sparkSession, batch.toDF(), batchId, tablePrefix)
      }
      .start()
  }

  /** The streaming PQ-index maintainer — [[maintainAnn]]'s twin over
    * `Pq.buildPqIndex` / [[indexBatchPq]].
    */
  def maintainPq(emb: DataFrame, tablePrefix: String,
      checkpoint: String): StreamingQuery = {
    StreamIngest.applyStateStoreDefaults(emb.sparkSession)
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        indexBatchPq(batch.sparkSession, batch.toDF(), batchId, tablePrefix)
      }
      .start()
  }

  /** One micro-batch of SQ8-index maintenance: affine-encode the
    * batch's vectors against the FROZEN per-dim stats from meta and
    * append (codes, vecs) under batch_id = `batchId`, if absent — plus
    * the staleness-monitor row (the batch's clamp rate against the
    * frozen range — the affine quantizer's drift signal, see
    * `Sq8.ClampAlertPpm`), completing the fourth index family under
    * the one discipline.
    */
  def indexBatchSq8(spark: SparkSession, batch: DataFrame, batchId: Long,
      tablePrefix: String): Unit =
    indexBatchesSq8(spark, Seq(batch -> batchId), tablePrefix)

  /** [[indexBatchSq8]] for SEVERAL already-materialized micro-batches in
    * one maintenance call (r17, q172's grow stage): the frozen stats and
    * the compaction fence are read ONCE, every (table, batch) presence
    * probe folds into one job ([[appendAbsentSlices]]), and each table's
    * absent partitions land in one commit. Per-batch semantics are
    * [[indexBatchSq8]]'s exactly: same slices, same per-partition
    * presence decisions, same fence skip — a sequence of single calls
    * and one batched call converge to the identical index state.
    */
  def indexBatchesSq8(spark: SparkSession, batches: Seq[(DataFrame, Long)],
      tablePrefix: String): Unit = {
    val fence = graft.operators.IndexOps.compactedThrough(spark, tablePrefix)
    val live = batches.filter(_._2 > fence)
    if (live.isEmpty) return
    val (mins, maxs) = Sq8.sq8IndexStats(spark, tablePrefix)
    appendAbsentSlices(spark, tablePrefix, live.flatMap { case (batch, id) =>
      val e = prepared(batch)
      val (codes, vecs) = Sq8.sq8IndexSlices(e, id, mins, maxs)
      val mon = Sq8.monitorSlice(e, id, mins, maxs)
      Seq(("codes", id, codes), ("vecs", id, vecs), ("monitor", id, mon))
    })
  }

  /** The streaming SQ8-index maintainer — [[maintainAnn]]'s twin over
    * `Sq8.buildSq8Index` / [[indexBatchSq8]].
    */
  def maintainSq8(emb: DataFrame, tablePrefix: String,
      checkpoint: String): StreamingQuery = {
    StreamIngest.applyStateStoreDefaults(emb.sparkSession)
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        indexBatchSq8(batch.sparkSession, batch.toDF(), batchId, tablePrefix)
      }
      .start()
  }

  /** Inbox parquet schema for deletion-decision batches: the vec_ids a
    * dedup/decontam stage decided to DROP (a q107/q138 keep-list
    * complement, a decontamination purge).
    */
  val deleteSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType)))

  /** Inbox parquet schema for DOCUMENT deletion decisions — the same
    * stream face for the doc_id-keyed indexes (the stored BM25 inverted
    * index, the dedup corpus index).
    */
  val deleteDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType)))

  /** Streaming scan of a deletion-decision inbox (one parquet slice per
    * decision batch) — [[readEmb]]'s twin for the tombstone maintainer.
    */
  def readDeletes(spark: SparkSession, inbox: String,
      maxFilesPerTrigger: Int = 0): DataFrame =
    readDeletesAs(spark, inbox, deleteSchema, maxFilesPerTrigger)

  /** [[readDeletes]] for document-drop decisions (doc_id slices). */
  def readDocDeletes(spark: SparkSession, inbox: String,
      maxFilesPerTrigger: Int = 0): DataFrame =
    readDeletesAs(spark, inbox, deleteDocSchema, maxFilesPerTrigger)

  private def readDeletesAs(spark: SparkSession, inbox: String,
      schema: StructType, maxFilesPerTrigger: Int): DataFrame = {
    val r = spark.readStream.schema(schema)
    (if (maxFilesPerTrigger > 0)
       r.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else r).parquet(inbox)
  }

  /** One micro-batch of deletion propagation: tombstone the batch's
    * ids in EVERY listed index (one corpus usually backs several
    * standing indexes — a dedup decision must reach all of them), under
    * the same append-if-absent batch_id discipline as the data slices
    * (IndexOps.tombstone probes per index, so a crash mid-list replays
    * into exactly the indexes still missing the batch). `keyCol` is the
    * id column the listed indexes are keyed by — "vec_id" for the
    * embedding families, "doc_id" for the lexical/dedup indexes; one
    * decision stream should only ever carry one key kind (mixed-key
    * fan-out is two streams).
    */
  def tombstoneBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      tablePrefixes: Seq[String], keyCol: String = "vec_id"): Unit = {
    val ids = batch.select(col(keyCol)).filter(col(keyCol).isNotNull)
    tablePrefixes.foreach(p =>
      graft.operators.IndexOps.tombstone(spark, p, ids, batchId, keyCol))
  }

  /** The streaming deletion maintainer (r12 verdict #1's streaming half):
    * AvailableNow over a deletion-decision stream, idempotent
    * batch_id-keyed tombstone appends into every listed index via
    * [[tombstoneBatch]]. A row dropped by a decision in batch N is
    * unretrievable from every probe issued after batch N lands —
    * StoredTombstoneSpec pins the embedding families; LexIndexSpec pins
    * the doc-keyed pair (stored BM25 + dedup corpus index) fed by ONE
    * decision stream.
    */
  def maintainTombstones(deletes: DataFrame, tablePrefixes: Seq[String],
      checkpoint: String, keyCol: String = "vec_id"): StreamingQuery = {
    StreamIngest.applyStateStoreDefaults(deletes.sparkSession)
    deletes.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        tombstoneBatch(batch.sparkSession, batch.toDF(), batchId,
          tablePrefixes, keyCol)
      }
      .start()
  }

  /** The streaming IVF-PQ-index maintainer — completes the family: all
    * three stored index layouts (LSH buckets, flat PQ codes, IVF-PQ
    * list-partitioned codes) grow under the same append-if-absent
    * batch_id discipline.
    */
  def maintainIvfPq(emb: DataFrame, tablePrefix: String,
      checkpoint: String): StreamingQuery = {
    StreamIngest.applyStateStoreDefaults(emb.sparkSession)
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        indexBatchIvfPq(batch.sparkSession, batch.toDF(), batchId, tablePrefix)
      }
      .start()
  }
}
