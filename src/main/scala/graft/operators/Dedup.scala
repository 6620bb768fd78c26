package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for LLM training corpora (driver mandate,
  * BASELINE.json north_star) — four families:
  *
  *  - exact:    hash-groupBy on text (see `queries.DocQueries` q24)
  *  - n-gram Jaccard: inverted-index pair counting — the exact method;
  *  - MinHash + LSH banding: the at-scale approximation whose candidates
  *    are verified with the exact measure;
  *  - SimHash: 64-bit fingerprints + banded Hamming join.
  *
  * Everything downstream of tokenization works on the slim
  * `(doc_id, 64-bit shingle hash)` inverted index from [[shingleIndex]] —
  * two longs per posting through every shuffle, never shingle strings or
  * per-doc arrays. (An earlier array-of-shingles formulation hit a Spark
  * Generate pitfall: exploding a *computed* array re-evaluates the whole
  * array expression per output row, turning O(m) shingling into O(m²) —
  * exploding token positions instead keeps the generator trivial.)
  *
  * 100 TB notes: the inverted index is |corpus|×|shingles per doc| postings
  * hashed by shingle — AQE skew-split handles hot shingles; a df-cap (drop
  * shingles appearing in > N docs) is the standard extra lever, left off
  * because it changes exact Jaccard results. MinHash replaces the posting
  * blowup with k hashes per doc and a band-key shuffle of |corpus|×bands
  * tiny rows — the method of record at web scale; exact verification then
  * touches only candidate pairs.
  */
object Dedup {

  /** Exact dedup, scale path: group by (xxhash64(text), length) so the
    * shuffle carries a 12-byte key instead of the document body, keeping the
    * lowest doc_id per group. A 64-bit-hash+length collision between
    * *different* texts (odds ~n²/2⁶⁵) would merge two docs; `q24` (groupBy
    * on the text itself) is the oracle twin that ScalaTest compares against.
    */
  def exactDedupByHash(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), xxhash64(col("text")).as("h"),
        length(col("text")).as("len"))
      .groupBy(col("h"), col("len"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Distinct word n-gram shingles of `text` (space-tokenized), as the slim
    * inverted index (doc_id, sh) with sh = xxhash64 of the shingle
    * (collision odds ~2^-65 per shingle pair). The generator explodes an
    * integer position range — O(1) re-evaluation — and each shingle is
    * assembled inline from the carried token array.
    */
  def shingleIndex(docs: DataFrame, n: Int = 3): DataFrame = {
    val base = Par.fanOut(docs.select(col("doc_id"), split(col("text"), " ").as("t")))
    base
      .select(col("doc_id"), col("t"),
        explode(when(size(col("t")) >= n, sequence(lit(1), size(col("t")) - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"),
        xxhash64(concat_ws("_",
          (0 until n).map(o => element_at(col("t"), col("i") + lit(o))): _*)).as("sh"))
  }
  // NB: the index may contain duplicate (doc_id, sh) rows (repeated shingles
  // in a doc). Consumers dedupe inside their aggregates (collect_set /
  // countDistinct; min is duplicate-insensitive) — cheaper than a dedicated
  // distinct shuffle repeated in every subtree.

  /** Per-doc distinct-shingle counts (the |set| term of Jaccard). */
  def shingleSizes(index: DataFrame): DataFrame =
    index.groupBy(col("doc_id")).agg(countDistinct(col("sh")).as("n_sh"))

  /** Exact n-gram Jaccard near-dup pairs: only doc pairs sharing ≥1 shingle
    * are ever materialized (complete for any threshold > 0), vs the naive
    * |docs|² cross join. Pairs are generated per-shingle from the sorted
    * posting list (each unordered pair exactly once, doc_a < doc_b by
    * construction) — no self-join is planned; per-doc set sizes rejoin by
    * broadcast after pair counting.
    *
    * `dfCap`: optional document-frequency cap — drop shingles appearing in
    * more than `dfCap` docs BEFORE pair generation. Default OFF, which
    * preserves exact Jaccard (the oracle answer); the capped variant is the
    * 100 TB configuration: a viral shingle's posting list otherwise
    * explodes into |postings|² pairs on a single row, and a boilerplate
    * n-gram shared by millions of docs carries ~no near-dup signal anyway
    * (denominators are still the FULL per-doc set sizes, so capped Jaccard
    * is a strict lower bound — the cap only ever drops pairs / lowers
    * scores, never invents a pair; OperatorsSpec pins both properties).
    */
  def shingleJaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      dfCap: Option[Int] = None): DataFrame = {
    val index = shingleIndex(docs, n)
    // ONE tokenize+hash pass (r16 optimization): postings and per-doc set
    // sizes both derive from the shingle index, but postings group by `sh`
    // and sizes by `doc_id` — two different exchanges, so the logical
    // index subtree (split/explode/xxhash64 over the corpus) was planned
    // TWICE and the corpus was tokenized twice per query (JobTrace: two
    // identical 2.18 MB map-side writes on q30 at sf0.1; at 100 TB that is
    // a whole redundant corpus pass, guide §2.4/§8). The postings frame —
    // the inverted index, already deduplicated and slimmer than the raw
    // index — checkpoints once (the lshScoredPairs one-scan discipline;
    // block lifetime is the consumer's obligation, see that scaladoc) and
    // feeds pair generation, the df-cap filter, AND the sizes: exploding
    // the posting sets back out yields exactly the distinct (sh, doc_id)
    // pairs, so count(*) per doc_id ≡ countDistinct(sh) over the raw
    // index — same values, one corpus pass instead of two, and the sizes
    // exchange now carries deduplicated postings instead of raw rows.
    // Sizes always come from the PRE-cap postings (capped J stays a strict
    // lower bound — the dfCap contract is unchanged).
    val allPostings = index.groupBy(col("sh"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .localCheckpoint(true)
    val sizes = allPostings
      .select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val postings = dfCap.fold(allPostings)(cap =>
      allPostings.filter(size(col("ds")) <= cap))
    val pairs = postings.select(explode(expr(
      """flatten(transform(ds, (a, i) ->
        |  transform(slice(ds, i + 2, size(ds)), b -> struct(a AS doc_a, b AS doc_b))))"""
        .stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
    // `sizes` is one row per document — corpus-sized, so never force it into
    // a broadcast (driver OOM at 100 TB). Unhinted: AQE broadcasts it when
    // it is actually small and shuffle-joins otherwise.
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-set near-dup matches: for each `incoming` doc, the lowest-id
    * `corpus` doc with n-gram Jaccard ≥ threshold. Pairs form ONLY across
    * the two sets via a shingle-keyed equi-join of the two inverted
    * indexes — never incoming×incoming or corpus×corpus.
    *
    * This is the INCREMENTAL dedup shape: at 100 TB the corpus index
    * (distinct postings + per-doc sizes) is computed once and STORED,
    * bucketed by shingle hash; a daily delta builds only its own
    * (|delta|×shingles) postings and joins into the bucketed corpus index
    * with no corpus-side shuffle. `dfCap` drops corpus-hot shingles
    * (boilerplate) before the join — the posting-blowup lever, same
    * contract as [[shingleJaccardPairs]]: only ever drops matches.
    */
  def crossJaccardMatches(incoming: DataFrame, corpus: DataFrame,
      threshold: Double, n: Int = 3, dfCap: Option[Int] = None): DataFrame = {
    val incIdx = shingleIndex(incoming, n).distinct()
    // ONE corpus tokenize pass (r17, guide §2.4 — the shingleJaccardPairs
    // discipline): the distinct corpus index feeds the score join, the
    // per-doc sizes, and (under dfCap) the hot-shingle aggregate — three
    // differently-keyed consumers, so without the checkpoint the
    // tokenize/explode/xxhash64/distinct subtree was planned and EXECUTED
    // up to three times per query. Block lifetime: the consumer's
    // obligation (the lshScoredPairs contract — Bench/Verify sweep, or
    // ContextCleaner in a long session).
    val corpIdxAll = shingleIndex(corpus, n).distinct().localCheckpoint(true)
    val corpIdx = dfCap.fold(corpIdxAll) { cap =>
      val hot = corpIdxAll.groupBy(col("sh"))
        .agg(count(lit(1)).as("df")).filter(col("df") > cap).select(col("sh"))
      corpIdxAll.join(hot, Seq("sh"), "left_anti")
    }
    val corpSizes = shingleSizes(corpIdxAll) // FULL sizes: capped J stays a lower bound
    crossMatchesFrom(incIdx, corpIdx, corpSizes, threshold)
  }

  /** Shared tail of the cross-set match: score (incoming index) ×
    * (corpus index, possibly df-capped) against FULL corpus sizes. The
    * incoming key is renamed `sh_q` so plan assertions (and plan reads)
    * can tell the delta-side shuffle from a corpus-side one: the stored
    * path's contract is that NO exchange ever carries the corpus key.
    */
  private def crossMatchesFrom(incIdxPlan: DataFrame, corpIdx: DataFrame,
      corpSizes: DataFrame, threshold: Double): DataFrame = {
    // ONE incoming tokenize pass (r17, guide §2.4): the incoming index
    // feeds both the per-doc sizes (doc_id-keyed aggregate) and the score
    // join (sh-keyed) — two exchanges the planner cannot share, so the
    // delta's tokenize/distinct subtree executed twice per screen. The
    // delta-sized checkpoint materializes once and both consumers read
    // its blocks (lifetime: the consumer's obligation — Bench/Verify
    // sweep between queries, ContextCleaner in streaming sessions).
    val incIdx = incIdxPlan.localCheckpoint(true)
    val incSizes = shingleSizes(incIdx)
    // renames are BY NAME, never positional toDF: a using-column join puts
    // its key column FIRST in the output, so the df-capped corpus index
    // (doc_id, sh) came out of its anti-join as (sh, doc_id) — positional
    // renaming then silently joined doc_ids against shingle hashes and the
    // capped path matched nothing (caught by StoredIndexSpec's equality
    // pin; latent in every prior dfCap≠None call of this operator)
    incIdx.select(col("doc_id").as("inc_id"), col("sh").as("sh_q"))
      .join(corpIdx.select(col("doc_id").as("corp_id"), col("sh")),
        col("sh_q") === col("sh"))
      .groupBy(col("inc_id"), col("corp_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(incSizes.select(col("doc_id").as("inc_id"), col("n_sh").as("na")), "inc_id")
      .join(corpSizes.select(col("doc_id").as("corp_id"), col("n_sh").as("nb")), "corp_id")
      .filter(col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")).cast("double") >= threshold)
      .groupBy(col("inc_id"))
      .agg(min(col("corp_id")).as("near_dup_of"))
  }

  /** Build and STORE the corpus-side index for incremental dedup — the
    * 100 TB shape promised by [[crossJaccardMatches]]'s contract: the
    * standing corpus is indexed ONCE, bucketed on the join keys via
    * `sources.Bucketing`, and every daily delta joins into it with zero
    * corpus-side shuffle (the bucketed scan already satisfies the join's
    * required distribution; only the |delta|-sized side exchanges).
    *
    * Three tables under `tablePrefix` / `path`:
    *  - `<prefix>_postings` (sh, doc_id, df), bucketed+sorted by `sh`:
    *    the distinct inverted index, with each shingle's corpus document
    *    frequency DENORMALIZED onto the posting row — a query-time
    *    `dfCap` is then a pushed `df <= cap` filter at the scan, not a
    *    hot-shingle aggregate+anti-join over the whole corpus;
    *  - `<prefix>_sizes` (doc_id, n_sh), bucketed by `doc_id`: FULL
    *    per-doc distinct-shingle counts (pre-cap, preserving the capped-J
    *    lower-bound contract), co-located for the final score join;
    *  - `<prefix>_exact` (h, len, corp_id), bucketed by `h`: lowest
    *    corpus doc per (xxhash64(text), length) — the exact-dup arm joins
    *    a 12-byte key instead of document bodies, the
    *    [[exactDedupByHash]] scale path.
    *
    * Rebuild cadence: append-only corpora can rebuild periodically and
    * screen interim deltas against index + recent-delta recompute;
    * exactness vs the recompute path is pinned by StoredIndexSpec.
    */
  /** The three index slices of [[buildCorpusIndex]] as frames — the ONE
    * copy of the load-bearing index schema, shared by the batch build
    * (whole corpus, written once) and the streaming incremental grow
    * (`DedupStream`, one slice per accepted batch): postings
    * (sh, doc_id, df), sizes (doc_id, n_sh), exact (h, len, corp_id).
    * In an incremental slice the `df` column is the WITHIN-SLICE
    * frequency (global df is unknowable incrementally) — the documented
    * reason dfCap stays a batch-rebuild feature.
    */
  def corpusIndexSlices(corpus: DataFrame,
      n: Int = 3): (DataFrame, DataFrame, DataFrame) = {
    val idx = shingleIndex(corpus, n).distinct()
    val df = idx.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    (idx.join(df, "sh").select(col("sh"), col("doc_id"), col("df")),
      shingleSizes(idx),
      corpus.select(col("doc_id"), xxhash64(col("text")).as("h"),
          length(col("text")).as("len"))
        .groupBy(col("h"), col("len")).agg(min(col("doc_id")).as("corp_id")))
  }

  def buildCorpusIndex(corpus: DataFrame, tablePrefix: String, path: String,
      n: Int = 3, nBuckets: Int = 8): Unit = {
    import graft.sources.Bucketing
    val (postings, sizes, exact) = corpusIndexSlices(corpus, n)
    Bucketing.writeBucketedPartitionedBy(postings,
      s"${tablePrefix}_postings", s"$path/postings", Nil, "sh", nBuckets)
    Bucketing.writeBucketedPartitionedBy(sizes,
      s"${tablePrefix}_sizes", s"$path/sizes", Nil, "doc_id", nBuckets)
    Bucketing.writeBucketedPartitionedBy(exact,
      s"${tablePrefix}_exact", s"$path/exact", Nil, "h", nBuckets)
  }

  /** [[crossJaccardMatches]] against a STORED index from
    * [[buildCorpusIndex]]: only the delta's own postings are computed;
    * the corpus side is a bucketed scan with no exchange anywhere above
    * it (StoredIndexSpec pins both result equality with the recompute
    * path and the zero-corpus-exchange plan shape). `dfCap` becomes a
    * data-skipping filter on the denormalized `df` column — same
    * semantics as the recompute path's hot-shingle anti-join.
    */
  def crossJaccardMatchesStored(incoming: DataFrame, tablePrefix: String,
      threshold: Double, n: Int = 3, dfCap: Option[Int] = None): DataFrame = {
    val spark = incoming.sparkSession
    val incIdx = shingleIndex(incoming, n).distinct()
    val (corpPostings, corpSizes, _) = storedCorpusFrames(spark, tablePrefix)
    val corpIdx = dfCap.fold(corpPostings)(cap =>
      corpPostings.filter(col("df") <= cap))
      .select(col("doc_id"), col("sh"))
    crossMatchesFrom(incIdx, corpIdx, corpSizes.select(col("doc_id"), col("n_sh")),
      threshold)
  }

  /** The three stored corpus-index tables with the deletion set applied
    * (r13 verdict #2 — the dedup index now has the same tombstone
    * lifecycle as the embedding/lexical families): postings and sizes
    * anti-join the tombstoned doc_ids; the exact-dup arm drops rows
    * whose WINNER (`corp_id`) was deleted, so a dropped doc stops
    * suppressing new duplicates of itself — exactly the grow-only
    * staleness the verdict called out. The emptiness fast path is
    * probed ONCE for all three tables; an index without a tombstone
    * table at all (the batch-built layout, rebuilt wholesale instead of
    * tombstoned) is the identity. `maxBatchId` is the streaming replay
    * fence for the DATA tables (Long.MaxValue = read everything, the
    * batch-layout case where no batch_id column exists);
    * `tsMaxBatchId` is the SEPARATE fence for the tombstone table,
    * because tombstone batch_ids come from the independently-numbered
    * DELETE stream ([[graft.operators.IndexOps.tombstone]]) — filtering
    * them by the data stream's id would be an apples-to-oranges
    * comparison dressed up as precision (advisor r14). The default
    * (Long.MaxValue) applies EVERY known deletion, which is the honest
    * semantics under the documented operational cadence: deletions run
    * between replay windows, so by the time a crash replay re-screens a
    * batch, any deletion it newly observes is one the operator ordered
    * before the replay — the replayed decisions converge to the
    * post-deletion state, the same end state a fresh screen would
    * compute.
    */
  private[graft] def storedCorpusFrames(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      maxBatchId: Long = Long.MaxValue,
      tsMaxBatchId: Long = Long.MaxValue): (DataFrame, DataFrame, DataFrame) = {
    def sliced(t: String): DataFrame = {
      val df = spark.table(s"${tablePrefix}_$t")
      if (maxBatchId == Long.MaxValue) df
      else df.filter(col("batch_id") < maxBatchId)
    }
    val tsTable = s"${tablePrefix}_tombstones"
    def tsSliced: DataFrame = {
      val ts = spark.table(tsTable)
      if (tsMaxBatchId == Long.MaxValue) ts
      else ts.filter(col("batch_id") < tsMaxBatchId)
    }
    val deleted = spark.catalog.tableExists(tsTable) && !tsSliced.limit(1).isEmpty
    def surv(df: DataFrame, c: String): DataFrame =
      if (!deleted) df
      else df.join(tsSliced.select(col("doc_id").as(c)), Seq(c), "left_anti")
    (surv(sliced("postings"), "doc_id"),
      surv(sliced("sizes"), "doc_id"),
      surv(sliced("exact"), "corp_id"))
  }

  /** Propagate a drop decision (a q107/q138 keep-list complement, a
    * decontam purge — any frame with a `doc_id` column) into the stored
    * corpus index under `batchId` — [[IndexOps.tombstone]] with the
    * dedup key column. Requires the streamed (format-2) layout
    * (`DedupStream.seedCorpusIndex`); the batch-built layout is rebuilt
    * wholesale instead.
    */
  def tombstoneCorpusDocs(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, ids: DataFrame, batchId: Long): Unit =
    IndexOps.tombstone(spark, tablePrefix, ids, batchId, keyCol = "doc_id")

  /** Generation rewrite of the stored corpus index (r13 verdict #2):
    * fold every batch partition into ONE, physically purging tombstoned
    * docs from postings/sizes and deleted WINNERS from the exact-dup
    * key table, consume the tombstones and advance both fences — the
    * [[IndexOps.compactTable]] discipline, after which a probe reads
    * O(buckets) files however many micro-batches the stream appended
    * and a pre-compaction replay is fenced. The denormalized `df`
    * column keeps its recorded per-slice value through the fold (the
    * documented within-slice semantics — global df stays a
    * batch-rebuild feature).
    */
  def compactCorpusIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, path: String, nBuckets: Int = 8): Unit = {
    // alignment: postings/sizes must agree exactly (both derive from the
    // shingle index), while `exact` is checked as a SUPERSET — a batch of
    // only sub-shingle-width docs legitimately lands an exact slice with
    // no postings/sizes. The superset direction still catches every
    // crash: screenBatchStored appends postings -> sizes -> exact, so a
    // half-landed batch always has exact MISSING a data batch, never the
    // reverse.
    IndexOps.requireAlignedBatches(spark, tablePrefix,
      Seq("postings", "sizes"), historyTables = Seq("exact"))
    // the fold point covers BOTH tables' histories: with a trailing
    // sub-shingle-width batch (exact-only), folding to postings' max
    // would leave that batch's id above the fence and its replay would
    // re-append the folded exact rows
    val gen = math.max(IndexOps.maxBatchId(spark, s"${tablePrefix}_postings"),
      IndexOps.maxBatchId(spark, s"${tablePrefix}_exact"))
    val tsGen = IndexOps.tombstoneGen(spark, tablePrefix)
    val drops = Some(spark.table(s"${tablePrefix}_tombstones"))
    IndexOps.compactTable(spark, s"${tablePrefix}_postings", s"$path/postings",
      Seq("batch_id" -> "BIGINT"), "sh", nBuckets, gen, drops,
      dropOn = "doc_id")
    IndexOps.compactTable(spark, s"${tablePrefix}_sizes", s"$path/sizes",
      Seq("batch_id" -> "BIGINT"), "doc_id", nBuckets, gen, drops,
      dropOn = "doc_id")
    IndexOps.compactTable(spark, s"${tablePrefix}_exact", s"$path/exact",
      Seq("batch_id" -> "BIGINT"), "h", nBuckets, gen,
      drops.map(_.select(col("doc_id").as("corp_id"))), dropOn = "corp_id")
    IndexOps.initTombstones(spark, tablePrefix, s"$path/tombstones",
      nBuckets, overwrite = true, keyCol = "doc_id")
    IndexOps.setCompactedThrough(spark, tablePrefix, path, gen, tsGen)
  }

  /** Incremental dedup DECISIONS for a delta batch against an existing
    * corpus — the production shape (a daily batch is deduped against the
    * standing index; the 100 TB corpus is never re-deduped). Per incoming
    * doc: the lowest-id exact corpus match, the first earlier occurrence
    * of the same text WITHIN the batch, the lowest-id near-dup corpus
    * match (Jaccard ≥ threshold), and keep = no signal fired. Exact
    * matching joins on the text key (at scale: on xxhash64(text) with an
    * equality re-check — same answer, 8-byte shuffle key).
    */
  def incrementalDedup(incoming: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, n: Int = 3, dfCap: Option[Int] = None): DataFrame = {
    val inc = incoming.select(col("doc_id"), col("text"))
    val exact = inc
      .join(corpus.select(col("doc_id").as("corp_id"), col("text")), Seq("text"), "left")
      .groupBy(col("doc_id")).agg(min(col("corp_id")).as("exact_dup_of"))
    val firstInBatch = inc.groupBy(col("text")).agg(min(col("doc_id")).as("first_id"))
    val batch = inc.join(firstInBatch, "text")
      .select(col("doc_id"),
        when(col("first_id") < col("doc_id"), col("first_id")).as("batch_dup_of"))
    val near = crossJaccardMatches(incoming, corpus, threshold, n, dfCap)
      .toDF("doc_id", "near_dup_of")
    assembleDecisions(inc, exact, batch, near)
  }

  /** [[incrementalDedup]] against a STORED index from [[buildCorpusIndex]]
    * — the production daily-batch shape with the corpus never rescanned:
    * the exact arm joins (xxhash64(text), length) into the bucketed
    * `<prefix>_exact` key table (12-byte keys, no corpus text read), the
    * near arm is [[crossJaccardMatchesStored]], and the within-batch arm
    * is unchanged (delta-only). Result equality with [[incrementalDedup]]
    * on the same corpus is pinned by StoredIndexSpec (exact arm differs
    * only under a 64-bit-hash+length collision between different texts,
    * odds ~n²/2⁶⁵ — the documented [[exactDedupByHash]] trade).
    */
  def incrementalDedupStored(incoming: DataFrame, tablePrefix: String,
      threshold: Double = 0.8, n: Int = 3, dfCap: Option[Int] = None): DataFrame = {
    val spark = incoming.sparkSession
    val (postings, sizes, exact) = storedCorpusFrames(spark, tablePrefix)
    incrementalDedupFrom(incoming,
      exact.select(col("h"), col("len"), col("corp_id")),
      dfCap.fold(postings)(cap => postings.filter(col("df") <= cap))
        .select(col("doc_id"), col("sh")),
      sizes.select(col("doc_id"), col("n_sh")),
      threshold, n)
  }

  /** Decision core over PREPARED corpus-side frames — the join shapes of
    * [[incrementalDedup]] against any index representation: a batch-built
    * stored index ([[incrementalDedupStored]]) or the per-batch-sliced
    * streaming index (`streaming.DedupStream.screenBatchStored`).
    * `exactTbl` = (h, len, corp_id); `corpPostings` = (doc_id, sh)
    * distinct; `corpSizes` = (doc_id, n_sh) FULL sizes. The exact arm
    * aggregates min(corp_id) defensively even though (h, len) is unique
    * by construction — a duplicated index row may only ever re-derive
    * the same decision, never duplicate an output row.
    */
  private[graft] def incrementalDedupFrom(incoming: DataFrame,
      exactTbl: DataFrame, corpPostings: DataFrame, corpSizes: DataFrame,
      threshold: Double, n: Int): DataFrame = {
    val inc = incoming.select(col("doc_id"), col("text"))
    val exact = inc
      .select(col("doc_id"), xxhash64(col("text")).as("h"),
        length(col("text")).as("len"))
      .join(exactTbl, Seq("h", "len"), "left")
      .groupBy(col("doc_id")).agg(min(col("corp_id")).as("exact_dup_of"))
    val firstInBatch = inc.groupBy(col("text")).agg(min(col("doc_id")).as("first_id"))
    val batch = inc.join(firstInBatch, "text")
      .select(col("doc_id"),
        when(col("first_id") < col("doc_id"), col("first_id")).as("batch_dup_of"))
    val near = crossMatchesFrom(shingleIndex(inc, n).distinct(),
      corpPostings, corpSizes, threshold)
      .toDF("doc_id", "near_dup_of")
    assembleDecisions(inc, exact, batch, near)
  }

  private def assembleDecisions(inc: DataFrame, exact: DataFrame,
      batch: DataFrame, near: DataFrame): DataFrame =
    inc.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(batch, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup_of"), col("batch_dup_of"),
        col("near_dup_of"),
        (col("exact_dup_of").isNull && col("batch_dup_of").isNull &&
          col("near_dup_of").isNull).cast("long").as("keep"))

  /** Near-dup pairs via LSH banding + exact-Jaccard verification. Bands of
    * r = k/bands rows; two docs collide if any band hashes equal. Collision
    * probability 1-(1-J^r)^bands — with k=128, bands=32 (r=4) a J=0.8 pair
    * is caught with p ≈ 1-2e-7.
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double,
      k: Int = 128, bands: Int = 32, n: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // ONE grouped pass computes both the minhash signature and the sorted
    // shingle set per doc, MATERIALIZED once (r17, guide §2.4 — the q30
    // postings discipline): ReuseExchange deduped only the exchange
    // feeding the aggregation, so the 129-function final aggregate
    // (128 mins + the collect_set) still re-EXECUTED in every consumer
    // branch — banding plus both candidate-set joins, 3 evaluations of
    // the most expensive operator in the query. The DEFERRED checkpoint
    // (the OrderStats form) holds one doc-sized frame (sig + sorted
    // shingle set per doc), filled by the query's own action, so building
    // the frame runs no job. Lifetime: the consumer's obligation (the
    // lshScoredPairs contract — Bench/Verify sweep between queries,
    // ContextCleaner in long sessions).
    val mins = (0 until k).map(j => min(xxhash64(lit(j), col("sh"))).as(s"m$j"))
    val aggd = org.apache.spark.sql.graft.bridge.deferredLocalCheckpoint(
      shingleIndex(docs, n).groupBy(col("doc_id"))
        .agg(mins.head, (mins.tail :+ sort_array(collect_set(col("sh"))).as("shs")): _*))
    val sigs = aggd.select(col("doc_id"),
      array((0 until k).map(j => col(s"m$j")): _*).as("sig"))
    // explode the band index (trivial generator), then slice+hash one band
    // per row — see withLshBuckets for the computed-array Generate pitfall
    val banded = sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        xxhash64(slice(col("sig"), col("band") * lit(r) + lit(1), lit(r))).as("key"))
    val cand = banded.toDF("doc_a", "band", "key")
      .join(banded.toDF("doc_b", "band_b", "key_b"),
        col("band") === col("band_b") && col("key") === col("key_b") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // verify candidates with the exact measure: sorted shingle-hash sets
    // from the same shared agg, intersection on long arrays
    val sets = aggd.select(col("doc_id"), col("shs"))
    cand
      .join(sets.toDF("doc_a", "sh_a"), "doc_a")
      .join(sets.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise matches into DEDUP DECISIONS: docs joined by any chain of
    * near-dup pairs form one component, and the lowest doc_id per
    * component is kept. Iterative min-label propagation WITH pointer
    * jumping: every node starts as its own label; each round a node adopts
    * the minimum of (its label, its neighbors' labels, its LABEL'S label).
    * The label-of-label hop halves the remaining distance to the component
    * minimum each round, so convergence is O(log diameter) — a
    * million-node chain converges in ~20 rounds — instead of O(diameter)
    * for plain propagation, which silently SPLIT long chains at the
    * iteration bound (round-4 advisor finding). Labels only ever hold
    * same-component node ids (neighbors and labels-of-labels are both in
    * the component), and a fixpoint of the combined operator forces equal
    * labels across every edge, i.e. the component minimum — so the result
    * at convergence is exact. If the bound is hit WITHOUT convergence this
    * now throws instead of returning a silently-split labeling.
    *
    * Fixpoint is detected with a 1-row count action per round (a scalar
    * driver read, not a data collect). Returns (doc_id, component) for
    * every doc appearing in a pair, with component = min doc_id reachable
    * — deterministic on any cluster.
    *
    * Lineage is truncated with an eager `localCheckpoint` every round:
    * the iterative join otherwise embeds the previous round's logical plan
    * ~3× per iteration (labels twice + edges) — an EXPONENTIAL plan blowup
    * that OOMs plan stringification long before any data is large (hit
    * with the 30 KB centroid-literal plans of the semantic-dedup pair
    * input). The checkpointed frames are component-sized (docs-in-pairs),
    * not corpus-sized; a production deployment on preemptible executors
    * would use reliable `checkpoint()` to a cluster store instead.
    *
    * Checkpoint hygiene (round-4 verdict #3): each round unpersists the
    * SUPERSEDED labels checkpoint once the fixpoint check has consumed it,
    * and `edges` is unpersisted on exit — block-manager storage is flat
    * across rounds instead of growing linearly. Only the RETURNED frame's
    * checkpoint survives (its plan no longer references edges); callers
    * that materialize it should release it with [[release]].
    */
  /** Auto decision for the co-partitioned components path: pin the
    * checkpoints' hash partitioning exactly when the LABEL frame could
    * not be broadcast in-round. `broadcastThreshold < 0` means
    * broadcasting is disabled entirely — then every round would shuffle
    * edges and labels without the pin, so pinning always wins (the
    * r8 review caught the original `>= 0 &&` form selecting the WORST
    * path for precisely that configuration). 16 B = two packed longs per
    * (doc_id, component) label row.
    */
  private[operators] def coPartitionAuto(
      broadcastThreshold: Long, nNodes: Long): Boolean =
    broadcastThreshold < 0 || nNodes * 16L > broadcastThreshold

  def connectedComponents(pairs: DataFrame, maxIters: Int = 25,
      roundProbe: Int => Unit = _ => ()): DataFrame = {
    // Edge symmetrization DELIBERATELY unions the pair pipeline with its
    // swap rather than exploding a 2-struct array per pair: the branches
    // are identical up to the final projection, so ReuseExchange dedupes
    // every shuffle between them and the two cheap tails run as
    // independent (concurrent) stages. The explode shape measured ~2x
    // SLOWER end-to-end on q107's union-of-signals input (11.8–14.6 s vs
    // 6.5 s, TimeOne sf0.1) — the single Generate tail serializes what the
    // union runs in parallel and resists AQE's stage-level replanning.
    // At corpus scale the per-round joins are the cost: a plain
    // localCheckpoint under AQE records UnknownPartitioning (the adaptive
    // plan never reports its final partitioning to the LogicalRDD), so
    // every round re-shuffles edges AND labels for the neighbor join plus
    // labels again for the step join — 3 avoidable full-frame exchanges
    // per round once labels is too big to broadcast. The co-partitioned
    // path pins edges on v and labels on doc_id via
    // bridge.hashPartitionedLocalCheckpoint (alias-aware projection
    // carries doc_id→v through the rename), leaving only the genuinely
    // re-keyed shuffles per round: the neighbor-min aggregate, the step
    // join's component-keyed probe, and the next checkpoint itself.
    //
    // Locally the SAME pinning LOSES (~1 s on q87 sf0.1, measured): small
    // labels frames broadcast anyway, so there are no labels-side
    // exchanges to save and the extra repartition passes are pure
    // overhead. So the choice is ADAPTIVE (see [[coPartitionAuto]]), from
    // the measured size of the LABEL frame — the frame that actually gets
    // broadcast or not in-round; sizing by edges would force pinning on
    // dense dup-clique graphs whose tiny label frame broadcasts fine —
    // against the session's broadcast threshold.
    // `spark.graft.components.copartition` = on | off | auto (default)
    // forces either path (tests pin both).
    val spark = pairs.sparkSession
    val np = spark.sessionState.conf.numShufflePartitions
    val bridge = org.apache.spark.sql.graft.bridge
    val edgesPlain = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .distinct()
      .localCheckpoint(true)
    // SEEDED start (r16 optimization): labels begin at min(id, min direct
    // neighbor) instead of the identity — the exact state one standard
    // round used to produce, but computed as a single aggregate over the
    // symmetrized edges (every node appears as `u`) with NO join: one
    // whole round (3 joins + checkpoint + flag job, and at scale a full
    // edges×labels shuffle pass) is replaced by a groupBy on the frame
    // that had to be scanned for the node set anyway. Fixpoint unchanged
    // — any starting labeling ≥ the component minimum converges to the
    // same min-label fixpoint.
    val labelsPlain = edgesPlain.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("component"))
      .select(col("u").as("doc_id"), col("component"))
      .localCheckpoint(true)
    val coPartition = spark.conf.getOption("spark.graft.components.copartition")
        .getOrElse("auto") match {
      case "on" => true
      case "off" => false
      case _ => coPartitionAuto(
        spark.sessionState.conf.autoBroadcastJoinThreshold, labelsPlain.count())
    }
    val (edges, labelsInit) =
      if (coPartition) {
        val e = bridge.hashPartitionedLocalCheckpoint(edgesPlain, np, "v")
        release(edgesPlain)
        val l = bridge.hashPartitionedLocalCheckpoint(labelsPlain, np, "doc_id")
        release(labelsPlain)
        (e, l)
      } else (edgesPlain, labelsPlain)
    var labels = labelsInit
    // GIANT-COMPONENT demotion (measured on a 4M-node half-giant graph,
    // QUERIES.md "Giant-component probe"):
    // once one component holds a large share of the nodes, the step join's
    // component-keyed probe concentrates on a single hot label. The pinned
    // path then LOSES — declaring the checkpoint partitioning removes the
    // shuffle-stage boundary AQE's skew-split needs, so one task carries
    // the giant's rows (max/mean task rows 8.5 pinned vs 4.8 plain; 19.6 s
    // vs 17.0 s on a 4M-node half-giant graph). The skew only EMERGES as
    // labels converge, so no upfront choice can see it: instead, one
    // hot-label probe (a single aggregate job) runs at round
    // `spark.graft.components.skewProbeRound` (default 3; real dedup
    // graphs converge by then, so the probe usually never fires) and
    // demotes the remaining rounds to PLAIN checkpoints — both step-join
    // sides then shuffle again and AQE splits the hot partition.
    var coPartitionNow = coPartition
    val skewProbeRound = spark.conf
      .getOption("spark.graft.components.skewProbeRound").map(_.toInt).getOrElse(3)
    val skewFrac = 0.05
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      it += 1
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("v"), col("component")), "v")
        .groupBy(col("u").as("doc_id"))
        .agg(min(col("component")).as("nbr_min"))
      // carry the pre-step label through as __old so convergence detection
      // below is a plain filter over the new checkpoint — the old
      // formulation re-joined next against labels on doc_id, one whole
      // extra shuffle-join job per iteration just to ask "did anything
      // move?"
      val stepped = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // pointer jump ×3: component := min(component, label(component)),
      // applied three times through the same pre-round labels (r16
      // optimization; JobTrace showed q107/q88 converging in 8 rounds —
      // chain-shaped near-dup graphs). Every component value is a node id
      // present in labels (initial labels cover all nodes and updates
      // only ever adopt node ids), so the left joins miss nothing;
      // coalesce is belt-and-braces. Reach per round on a path graph: the
      // neighbor step extends the known horizon h to h+1, each jump
      // through the old labels adds another h — 4h+1 per round instead of
      // 2h+1, and with the seeded start (h₀=1) a 500-link min-chain
      // converges in 6 rounds instead of 10 (500-link chain 10 → 6 rounds,
      // OPTIMIZATION_r16.md; q88 dropped 165→150 jobs). Each saved round
      // is a full edges×labels shuffle pass at scale; the extra jumps
      // re-join the (much smaller, usually broadcast) label frame, and
      // reuse its one broadcast, so they add no exchange and no job per
      // round.
      val parents = labels
        .select(col("doc_id").as("component"), col("component").as("parent"))
      val jumped =
        least(col("component"), coalesce(col("parent"), col("component")))
      // jump count is a conf (`spark.graft.components.jumps`, default 3,
      // ≥ 1): every jump re-joins the SAME broadcast parent frame, so
      // extra jumps deepen the per-round plan without adding an exchange
      // — the knob trades per-round plan depth against round count
      // ((jumps+1)·h+1 reach per round). 3 stays the default, and DO NOT
      // raise it on this workload: jumps=6 measured 35.1 s vs 7.0 s
      // median (reps=5, same window) on q107 at sf0.1 — the deeper
      // per-round plan multiplies analysis/codegen cost far faster than
      // it removes rounds on these shallow dedup graphs. The knob exists
      // for cluster-diameter graphs where a round is a full-edge shuffle
      // and plan depth is noise by comparison.
      val jumpsN = math.max(1, spark.conf
        .getOption("spark.graft.components.jumps").map(_.toInt).getOrElse(3))
      var jumpedOnce = stepped
      for (_ <- 1 until jumpsN)
        jumpedOnce = jumpedOnce.join(parents, Seq("component"), "left")
          .select(col("doc_id"), col("__old"), jumped.as("component"))
      // co-partitioned path: re-keying the new labels onto doc_id at
      // checkpoint time costs one shuffle but replaces the TWO labels-side
      // exchanges the next round would otherwise plan (neighbor join on v,
      // step join on doc_id). The convergence count rides the SAME job
      // that materializes the checkpoint (the old formulation paid a
      // separate filter/limit/count job per round — pure job-launch
      // overhead on component-sized frames).
      val (next, changed) = org.apache.spark.sql.graft.bridge.localCheckpointCountingFlag(
        jumpedOnce.join(parents, Seq("component"), "left")
          .select(col("doc_id"), jumped.as("component"),
            (jumped < col("__old")).as("__chg")),
        "__chg",
        if (coPartitionNow) Seq("doc_id") else Nil, np)
      release(labels) // superseded checkpoint — free its blocks eagerly
      labels = next
      converged = changed == 0
      if (!converged && coPartitionNow && it == skewProbeRound) {
        // one job gives the biggest component AND the node total
        val r = labels.groupBy(col("component")).agg(count(lit(1)).as("c"))
          .agg(max(col("c")), sum(col("c"))).collect()(0)
        if (r.getLong(0) > skewFrac * r.getLong(1)) coPartitionNow = false
      }
      roundProbe(it) // observability only (scale probes / tests count rounds)
    }
    release(edges)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds — " +
          "aborting rather than returning a silently-split labeling " +
          "(with pointer jumping this needs diameter > 4^" + maxIters + ": a bug, not data)")
    // __chg is loop bookkeeping; release() traverses the plan, so callers
    // freeing this projected frame still hit the checkpoint underneath
    labels.drop("__chg")
  }

  /** Free the executor-storage blocks behind a frame returned by
    * [[connectedComponents]] (or any eagerly localCheckpointed frame)
    * once it has been materialized. Without this, each run parks one
    * component-sized RDD in the block manager until ContextCleaner's
    * GC-triggered sweep finds it (Bench/Verify additionally sweep all
    * persistent RDDs between queries).
    */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graft.bridge.releaseCheckpoint(df)

  /** Dedup decisions from exact-Jaccard pairs: every doc in a near-dup
    * component, its component id, and whether it is the kept
    * representative (lowest doc_id).
    */
  def dedupDecisions(docs: DataFrame, threshold: Double, n: Int = 3): DataFrame =
    connectedComponents(shingleJaccardPairs(docs, threshold, n))
      .withColumn("keep",
        (col("doc_id") === col("component")).cast("long"))

  /** Component-size histogram report (q138's tail): group count per size,
    * docs touched, and rows a keep-one policy removes. Takes ANY
    * (doc_id, component) frame, so a pipeline that has already
    * materialized its components derives the report without re-running
    * shingling/pairs/propagation — the q138 registered query rebuilds
    * because driver queries are independent by contract (the Bench sweep
    * unpersists everything between queries).
    */
  def componentSizeReport(comps: DataFrame): DataFrame =
    comps.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_components"))
      .select(col("sz"), col("n_components"),
        (col("sz") * col("n_components")).as("n_docs"),
        ((col("sz") - 1) * col("n_components")).as("n_removed"))
      .orderBy(col("sz"))

  /** 64-bit SimHash of the token multiset: bit i is the sign of
    * Σ_tokens (bit i of xxhash64(token) ? +1 : -1). Computed from the
    * exploded (doc_id, token-hash) rows as 64 conditional-sum aggregates in
    * one codegen'd hash-agg pass, then folded to a long.
    */
  def withSimhash(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.join(simhashOf(docs, textCol), "doc_id")

  /** Slim (doc_id, simhash) — pair generation uses this directly so the
    * band shuffle never carries document text.
    */
  def simhashOf(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val tokens = Par.fanOut(docs.select(col("doc_id"), split(col(textCol), " ").as("t")))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), greatest(size(col("t")), lit(1)))).as("i"))
      .select(col("doc_id"), xxhash64(element_at(col("t"), col("i"))).as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$i")
    }
    val sim = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    tokens.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }

  /** Near-dup id pairs over a slim `(id, h)` 64-bit-hash frame: 4×16-bit
    * band join (pigeonhole: any pair at Hamming distance ≤ 3 agrees
    * exactly on ≥1 of 4 bands — recall is EXACT, not probabilistic, for
    * maxHamming ≤ 3), then exact `bit_count(xor) ≤ maxHamming` on the
    * candidates. Shared by [[simhashPairs]] (text) and
    * [[Multimodal.phashNearDupPairs]] (images) so the banding algebra
    * cannot drift between the two hash families. The band shuffle
    * carries only (id, h, band, key) — never payloads.
    */
  def bandedHammingPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band scheme guarantees recall only for distance <= 3")
    // hash frame MATERIALIZED once (r17, guide §2.4 — the q34 discipline):
    // the band self-join otherwise plans the upstream hash computation on
    // BOTH sides — for the simhash callers that is the 64-conditional-sum
    // aggregate plus its tokenize/explode executed twice (q36 before-plan:
    // 4 parquet scans, 12 HashAggregate, 0 ReusedExchange). The checkpoint
    // holds only the slim (id, 64-bit hash) frame; both join sides and the
    // band explode read its blocks. Lifetime: the consumer's obligation
    // (the lshScoredPairs contract — Bench/Verify sweep between queries).
    val hs = hashes.localCheckpoint(true)
    val banded = hs.select(col("id"), col("h"),
      explode(expr(
        "transform(sequence(0, 3), b -> struct(b AS band, shiftright(h, b * 16) & 65535 AS key))"))
        .as("bk"))
      .select(col("id"), col("h"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.toDF("id_a", "h_a", "band", "key")
      .join(banded.toDF("id_b", "h_b", "band_b", "key_b"),
        col("band") === col("band_b") && col("key") === col("key_b") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a") bitwiseXOR col("h_b")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup pairs by SimHash — [[bandedHammingPairs]] over
    * [[simhashOf]].
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(
      simhashOf(docs).select(col("doc_id").as("id"), col("simhash").as("h")),
      maxHamming)
      .toDF("doc_a", "doc_b", "hamming")
}
