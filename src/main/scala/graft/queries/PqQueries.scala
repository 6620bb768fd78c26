package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.Pq

/** Product-quantization family over `embeddings` (q121/q122): the 8-byte
  * PQ code column and ADC approximate top-k — the index payload + query
  * path of an IVF-PQ system (IVF lists are q63's operator; composing the
  * two is a one-line filter on the list id).
  *
  * q121's DuckDB twin replays encoding from the SAME seeded codebook
  * literals (`Double.toString` round-trips IEEE doubles; list_inner_product
  * ≡ VecDot is the q28/q29-proven bit parity), with the argmin as
  * `row_number ORDER BY s DESC, c ASC` — identical pick on bit-equal
  * scores, ties to the lowest code. q122 fits 2 exact Lloyd iterations
  * first (data-dependent codebooks, so rows-only; recall floor vs the
  * exact answer pinned in PqSpec).
  */
object PqQueries {

  private val cbs = Pq.codebooks()

  private val encodeCte: String = {
    val rows = (0 until Pq.M).flatMap { m =>
      (0 until Pq.KSUB).map { c =>
        val ctr = cbs(m)(c)
        val halfNorm = ctr.map(x => x * x).sum / 2
        s"($m, $c, CAST([${ctr.map(_.toString).mkString(", ")}] AS DOUBLE[]), ${halfNorm.toString})"
      }
    }.mkString(",\n    ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb(m, c, ctr, halfn) AS (VALUES
       |    $rows),
       |sc AS (
       |  SELECT vec_id, m, c,
       |    list_inner_product(list_slice(v.v, m * ${Pq.DSUB} + 1, m * ${Pq.DSUB} + ${Pq.DSUB}), cb.ctr)
       |      - cb.halfn AS s
       |  FROM v CROSS JOIN cb),
       |best AS (
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT vec_id, m, c,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY s DESC, c ASC) AS rn
       |    FROM sc)
       |  WHERE rn = 1)""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      "q121_emb_pq_codes",
      (s, d) =>
        Pq.packedCodes(embeddings(s, d), cbs).orderBy(col("vec_id")),
      Some(s"""$encodeCte
             |SELECT vec_id,
             |  CAST(sum(CAST(code AS BIGINT) * (CAST(1 AS BIGINT) << (4 * m))) AS BIGINT) AS pq_code
             |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin),
      "product quantization: 8 subspaces x 16 seeded centroids -> one packed 8-byte code per vector; encoding is a zero-shuffle codegen'd projection (the 100 TB index payload)"),

    Q(
      "q163_pq_quantization_mse",
      (s, d) => {
        // The index-staleness signal (r12 verdict #3), oracle-able form:
        // per-group quantization MSE against the SEEDED codebook
        // literals (the q121 replay contract — a fitted-codebook run is
        // what the stored-index monitor tables record per maintenance
        // batch, AnnStreamSpec). Per-vector error uses the OPERATOR's
        // own expression (Pq.quantErrMicros — the same scored structs
        // withCodes argmaxes over, err = ss − 2·s, floored to micros PER
        // SUBSPACE then integer-summed, so the group MSE is an
        // order-independent exact int64 in both engines). vec_id % 4 is
        // the deterministic stand-in for a maintenance-batch key.
        // SCALE: one zero-shuffle scan projecting (grp, fx), one 4-row
        // aggregate — the monitor costs one extra projection per batch.
        import graft.functions.VectorFunctions.asDouble
        graft.operators.Par.fanOut(
          embeddings(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v")))
          .select(pmod(col("vec_id"), lit(4)).as("grp"),
            Pq.quantErrMicros(col("v"), cbs).as("fx"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_vecs"), sum(col("fx")).as("sum_fx"))
          .select(col("grp"), col("n_vecs"),
            expr("sum_fx div n_vecs").as("mse_micros"))
          .orderBy(col("grp"))
      },
      Some(s"""$encodeCte,
             |bs AS (
             |  SELECT vec_id, m, s FROM (
             |    SELECT vec_id, m, s,
             |      row_number() OVER (PARTITION BY vec_id, m ORDER BY s DESC, c ASC) AS rn
             |    FROM sc)
             |  WHERE rn = 1),
             |ssv AS (
             |  SELECT vec_id, mm.m AS m,
             |    list_inner_product(list_slice(v.v, mm.m * ${Pq.DSUB} + 1, mm.m * ${Pq.DSUB} + ${Pq.DSUB}),
             |                       list_slice(v.v, mm.m * ${Pq.DSUB} + 1, mm.m * ${Pq.DSUB} + ${Pq.DSUB})) AS ss
             |  FROM v CROSS JOIN (SELECT DISTINCT m FROM cb) mm),
             |fx AS (
             |  SELECT b.vec_id,
             |    CAST(sum(CAST(floor((ssv.ss - 2 * b.s) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS fx
             |  FROM bs b JOIN ssv ON ssv.vec_id = b.vec_id AND ssv.m = b.m
             |  GROUP BY b.vec_id)
             |SELECT vec_id % 4 AS grp, CAST(count(*) AS BIGINT) AS n_vecs,
             |  CAST(CAST(sum(fx) AS BIGINT) // count(*) AS BIGINT) AS mse_micros
             |FROM fx GROUP BY 1 ORDER BY 1""".stripMargin),
      "PQ quantization MSE per batch-group in exact int64 micros — the index-staleness monitor's signal (stored per maintenance batch with an alert vs the build-time baseline in meta); per-vector error shares the argmin structs with encoding, so error and code cannot disagree"),

    Q(
      "q122_pq_adc_topk",
      (s, d) =>
        // fit + probe over ONE checkpointed corpus projection (r16,
        // Pq.adcTopKFit) — same codebooks, same probe, row-identical
        Pq.adcTopKFit(embeddings(s, d), iters = 2, queryVecId = 0L, k = 10),
      None,
      "PQ ADC top-10 with exact re-rank of the codes-only candidate set (k*32 survivors get one exact dot each — the Faiss refine shape; fixes the sf0.1 recall cliff pure ADC hit at 4-bit resolution); recall floor vs exact top-k in PqSpec + RecallProbe at sf0.1"),

    Q(
      "q157_pq_adc_topk_batch",
      (s, d) => {
        // the batched-retrieval shape over the PQ leg (q152/q153's
        // training-batch pattern): per-anchor top-5 by codes-only ADC
        // against the broadcast 16-vector batch, exact re-rank of the
        // structurally bounded candidate set. Rows-only (data-dependent
        // fitted codebooks); PqSpec pins a pair-level recall floor vs
        // the exact per-anchor inner-product top-5 and RecallProbe
        // re-asserts it at sf0.1.
        Pq.adcTopKBatchFit(embeddings(s, d), iters = 2)
          .orderBy(col("anchor_id"), col("rk"))
      },
      None,
      "batched PQ-ADC retrieval: per-anchor (16-vector broadcast training batch) top-5 by codes-only ADC + exact re-rank of the bounded candidate set — one zero-shuffle encode pass, no corpus shuffle for the batch; rows-only, recall floor in PqSpec + RecallProbe"),

    Q(
      "q159_pq_adc_topk_batch_stored",
      (s, d) =>
        // q157 against the STORED PQ index (build once / query many):
        // the first call per session fits the codebooks and stores the
        // 8-byte code rows + re-rank vectors (Pq.buildPqIndex); every
        // later call scans codes only and LUT-scores them — no codebook
        // fit, no encode pass, zero corpus-side exchange (PqSpec pins
        // the plan). Rows-only (data-dependent fitted codebooks), but
        // the answer is IDENTICAL to q157's recompute path (parquet
        // round-trips the codebook doubles exactly) — PqSpec pins
        // row-for-row equality.
        graft.operators.Pq.adcTopKBatchStored(s, StoredIndexes.pq(s, d))
          .orderBy(col("anchor_id"), col("rk")),
      None,
      "batched PQ-ADC retrieval against the STORED index (build-once/query-many): fitted codebooks + 8-byte code rows stored, per-batch cost is LUT scoring over codes + bounded exact re-rank — zero corpus-side exchange; answers row-identical to q157 (PqSpec), rows-only"),

    Q(
      "q160_ivfpq_topk_stored",
      (s, d) =>
        // q123 against the STORED IVF-PQ index: both fits (coarse Lloyd
        // + residual codebooks — the two expensive corpus passes q123
        // re-runs per invocation) happen once at build; the probe's
        // nProbe list filter prunes whole (batch_id, list_id) partition
        // DIRECTORIES before any code row is read — the layout reason
        // IVF exists at 100 TB. Rows-only (data-dependent fits); PqSpec
        // pins row-for-row equality with q123's recompute path, the
        // zero-corpus-exchange plan, and catalog-wipe reattach.
        graft.operators.Pq.ivfPqTopKStored(s, StoredIndexes.ivfPq(s, d),
          queryVecId = 0L, k = 10, nProbe = 8)
          .orderBy(col("score").desc, col("vec_id")),
      None,
      "IVF-PQ top-k against the STORED index (build-once/query-many): coarse + residual fits stored with the code rows partitioned by (batch_id, list_id) — probe prunes whole list directories, no fits, no encode pass; answers row-identical to q123 (PqSpec), rows-only"),

    Q(
      "q177_ivfpq_topk_batch_stored",
      (s, d) =>
        // q160 batched (r14 verdict #2 — the training-loop shape for the
        // last index family without it): per-anchor top-5 for a fixed
        // 16-vector batch against the stored IVF-PQ index. The UNION of
        // the batch's probed lists is served by ONE list-pruned codes
        // scan (the broadcast (anchor, probe_list) index joins EQUI on
        // the partition column — unprobed (batch_id, list_id)
        // directories are never read, and a list probed by several
        // anchors is scanned once); scoring ships per-anchor LUTs only,
        // then the two-stage per-anchor cut + exact re-rank. Rows-only
        // (data-dependent fits); PqSpec pins per-anchor row-identity
        // with q160's single-query probe, RecallProbe floors it at
        // sf0.1.
        graft.operators.Pq.ivfPqTopKBatchStored(s, StoredIndexes.ivfPq(s, d),
          nProbe = 8)
          .orderBy(col("anchor_id"), col("rk")),
      None,
      "batched IVF-PQ retrieval against the STORED index: per-anchor (16-vector broadcast training batch) top-5, union of the batch's probed lists in ONE list-directory-pruned codes scan, per-anchor ADC LUTs broadcast, two-stage cut + exact re-rank — row-identical per anchor to q160's probe (PqSpec), rows-only"),

    Q(
      "q168_sq8_topk_batch_stored",
      (s, d) =>
        // Batched top-5 against the STORED SQ8 index — the fourth index
        // family (per-dim affine int8 codes, q167's encoding as a
        // standing bucketed table set with the full lifecycle:
        // stream growth against frozen stats, tombstones, compaction,
        // staleness monitor, refit). Because the fit is a deterministic
        // min/max — no iterative float clustering — the ORACLE can
        // replay the whole stored pipeline (fit → encode → probe) from
        // raw rows: the suite's only stored-index probe with a
        // full-parity DuckDB twin, so the build+probe path itself is
        // hash-checked, not merely row-identical to a Spark recompute.
        graft.operators.Sq8.sq8TopKBatchStored(s, StoredIndexes.sq8(s, d))
          .orderBy(col("anchor_id"), col("rk")),
      Some("""WITH v AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |e AS (
             |  SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
             |    i -> struct_pack(dim := i, x := v[i]))) AS s
             |  FROM v),
             |f AS (
             |  SELECT vec_id, struct_extract(s, 'dim') AS dim,
             |         struct_extract(s, 'x') AS x
             |  FROM e),
             |d AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM f GROUP BY dim),
             |c AS (
             |  SELECT f.vec_id, f.dim,
             |    CASE WHEN d.mx = d.mn THEN 0
             |         ELSE greatest(0, least(255,
             |           CAST(floor((f.x - d.mn) / (d.mx - d.mn) * 255 + 0.5)
             |             AS BIGINT)))
             |    END AS code
             |  FROM f JOIN d ON f.dim = d.dim),
             |q AS (
             |  SELECT vec_id AS anchor_id, dim, code AS qcode
             |  FROM c WHERE vec_id < 16),
             |sc AS (
             |  SELECT q.anchor_id, c.vec_id,
             |    CAST(sum(c.code * q.qcode) AS BIGINT) AS sq8_score
             |  FROM c JOIN q ON c.dim = q.dim AND c.vec_id <> q.anchor_id
             |  GROUP BY q.anchor_id, c.vec_id),
             |r AS (
             |  SELECT anchor_id, vec_id, sq8_score,
             |    row_number() OVER (PARTITION BY anchor_id
             |      ORDER BY sq8_score DESC, vec_id) AS rk
             |  FROM sc)
             |SELECT anchor_id, rk, vec_id, sq8_score
             |FROM r WHERE rk <= 5
             |ORDER BY anchor_id, rk""".stripMargin),
      "batched top-5 against the STORED SQ8 index (fourth index family: int8 affine codes, frozen-stats stream growth, tombstones/compaction/staleness/refit lifecycle) — the only stored-index probe with a FULL-PARITY oracle: the deterministic min/max fit lets DuckDB replay build+encode+probe from raw rows"),

    Q(
      "q123_ivfpq_topk",
      (s, d) => {
        // LEARNED coarse quantizer (r10 verdict #1): 2 exact Lloyd
        // iterations over the corpus instead of raw seeded Gaussians —
        // same deterministic int64 machinery as the residual codebook
        // fit. Measured at sf0.1 (20-query mean, QUERIES.md r10):
        // learning lifts nProbe=4 recall 0.50→0.58 and worst-query
        // recall 0.10→0.40; the corpus is near-isotropic, so list
        // coverage stays the dominant recall dial — exactly the real-IVF
        // trade. r15 (verdict #4): nProbe 6→8 of 16 lists, measured
        // coverage 0.715→0.805 at sf0.1 (20-query mean) and ivf_pq recall
        // 0.62→0.70; the stored twins (q160/q177) absorb the extra two
        // lists via (batch_id, list_id) directory pruning, the recompute
        // pays ~33% more ADC rows — the priced recall-vs-time re-pin,
        // the r12 precedent. r16: both fits and the probe share ONE
        // checkpointed corpus projection (Pq.ivfPqTopKFit) — same fits,
        // row-identical answer, 7 corpus scan stages down to 1.
        Pq.ivfPqTopKFit(embeddings(s, d), queryVecId = 0L, k = 10,
          nProbe = 8, lloydIters = 2, coarseSeed = 7L, pqIters = 2)
      },
      None,
      "full IVF-PQ with exact re-rank: LEARNED coarse inverted lists (2 exact Lloyd iterations) + residual PQ codes, query probes 8 of 16 lists, ADC-scores codes only, then re-ranks the candidate set exactly — recall bounded by list coverage (nProbe), not code resolution; floors in PqSpec + RecallProbe"),

    Q(
      "q176_maintenance_policy",
      (s, d) =>
        // MONITORS -> DECISION (r14 verdict #3): the lifecycle stores
        // alerts (q163's MSE, the tail/clamp coverage statistics),
        // tombstone counts and batch partitions, and compaction/refit
        // exist as callable operators — but nothing turned the telemetry
        // into a DECISION. IndexOps.maintenancePolicy emits one row per
        // index family: refit on any post-fence monitor alert (a stale
        // quantizer corrupts every future batch — precedence over
        // everything), else compact on tombstone fraction or batch
        // count, else healthy. Here over a deterministic SQ8 state
        // (StoredIndexes.sq8Policy: build on vec_id>=100, in-range
        // batch 0, +2.0-shifted batch 1 that clamps 100% of its
        // coordinates with >=1.0 margin at every scale, vec_id%9==3
        // tombstoned ~11%): BOTH the alert and the tombstone bar are
        // live, and the FULL ORACLE replays the fit, both clamp ppms,
        // the counts and the threshold precedence from raw rows — the
        // q168 replay discipline extended to the decision layer.
        graft.operators.IndexOps.maintenancePolicy(
          s, StoredIndexes.sq8Policy(s, d), family = "sq8"),
      Some("""WITH v AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |e AS (
             |  SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
             |    i -> struct_pack(dim := i, x := v[i]))) AS s
             |  FROM v),
             |f AS (
             |  SELECT vec_id, struct_extract(s, 'dim') AS dim,
             |         struct_extract(s, 'x') AS x
             |  FROM e),
             |d AS (
             |  SELECT dim, min(x) AS mn, max(x) AS mx FROM f
             |  WHERE vec_id >= 100 GROUP BY dim),
             |c0 AS (
             |  SELECT CAST(sum(CASE WHEN f.x < d.mn OR f.x > d.mx
             |                       THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
             |           // count(*) AS ppm
             |  FROM f JOIN d ON f.dim = d.dim WHERE f.vec_id < 50),
             |c1 AS (
             |  SELECT CAST(sum(CASE WHEN f.x + 2.0 < d.mn OR f.x + 2.0 > d.mx
             |                       THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
             |           // count(*) AS ppm
             |  FROM f JOIN d ON f.dim = d.dim
             |  WHERE f.vec_id >= 50 AND f.vec_id < 100),
             |stats AS (
             |  SELECT CAST(2 AS BIGINT) AS n_batches,
             |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings
             |     WHERE vec_id >= 100)
             |      + (SELECT count(*) FROM embeddings WHERE vec_id < 50)
             |      + (SELECT count(*) FROM embeddings
             |         WHERE vec_id >= 50 AND vec_id < 100) AS n_rows,
             |    (SELECT CAST(count(DISTINCT vec_id) AS BIGINT)
             |     FROM embeddings WHERE vec_id % 9 = 3) AS n_tombstones,
             |    (SELECT CAST((CASE WHEN c0.ppm > 100000 THEN 1 ELSE 0 END)
             |       + (CASE WHEN c1.ppm > 100000 THEN 1 ELSE 0 END) AS BIGINT)
             |     FROM c0, c1) AS n_alerts),
             |pol AS (
             |  SELECT 'sq8' AS family, n_batches, n_rows, n_tombstones,
             |    CAST(n_tombstones * 1000000 AS BIGINT) // n_rows
             |      AS tombstone_ppm,
             |    n_alerts
             |  FROM stats)
             |SELECT family, n_batches, n_rows, n_tombstones, tombstone_ppm,
             |  n_alerts,
             |  CASE WHEN n_alerts > 0 THEN 'refit'
             |       WHEN tombstone_ppm > 100000 THEN 'compact'
             |       WHEN n_batches > 4 THEN 'compact'
             |       ELSE 'healthy' END AS decision,
             |  CASE WHEN n_alerts > 0 THEN 'monitor_alert'
             |       WHEN tombstone_ppm > 100000 THEN 'tombstone_ppm'
             |       WHEN n_batches > 4 THEN 'batch_count'
             |       ELSE 'none' END AS triggered_by
             |FROM pol""".stripMargin),
      "maintenance-policy operator (monitors -> decisions): one row per index family — refit on any post-fence staleness alert, else compact on tombstone fraction / batch count, else healthy; over a deterministic SQ8 drift+deletion state, FULL DuckDB oracle replaying the fit, the clamp ppms, the counts and the threshold precedence"),

    Q(
      "q172_sq8_lifecycle_audit",
      (s, d) => {
        // END-TO-END stored-index LIFECYCLE in one registered query
        // (r13 verdict #5 — the operational story a 100 TB operator
        // reads first): build → stream-grow two batches → tombstone a
        // deletion set → generation COMPACTION → ingest a DRIFTED batch
        // (mean shift; the monitor must alert) → REFIT generation →
        // probe, returning the generation audit trail — per-stage table
        // counts, generation count, both meta fences, cumulative alert
        // count, and the final probe's row count. SQ8 carries the demo
        // because its fit is deterministic min/max (each rep replays the
        // IDENTICAL lifecycle; every audit value is exact-integer, so
        // the CPUS=3-vs-8 determinism sweep covers imperative lifecycle
        // code, not just query plans). NOT memoized — the lifecycle IS
        // the query, so each invocation rebuilds from a clean slate
        // under a per-corpus prefix. Rows-only by nature (multi-stage
        // imperative orchestration has no single-statement SQL twin);
        // every individual stage is pinned elsewhere (Sq8IndexSpec,
        // AnnStreamSpec, IndexCompactionSpec, q168's full oracle).
        import graft.operators.{IndexOps, Sq8}
        import graft.streaming.AnnStream
        val tag = java.security.MessageDigest.getInstance("SHA-1")
          .digest(d.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
        val prefix = s"graft_lc_$tag"
        val path = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), s"graft_idx_$prefix").toString
        Seq("codes", "vecs", "tombstones", "monitor", "meta").foreach(t =>
          s.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
        IndexOps.deleteDir(s, path)
        val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
        val audit =
          scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Long, Long, Long, Long)]()
        // ONE audit job per stage (r15 verdict #2 — the old shape ran 4
        // separate probe jobs per stage, 24 of the query's 52 jobs):
        // the four bounded observability reads — codes rows+generations,
        // tombstone count, alert sum, 1-row meta fences — fold into one
        // plan of crossJoined 1-row aggregates (the q19/BM25 stats
        // shape: ungrouped aggregates are structurally 1-row, so every
        // join side is bounded) and land in a single collect. Values
        // are byte-identical to the per-probe reads.
        def snap(stage: Long, op: String): Unit = {
          val codesAgg = s.table(s"${prefix}_codes")
            .agg(count(lit(1)).cast("long").as("n_codes"),
              countDistinct(col("batch_id")).as("n_gens"))
          val tsAgg = s.table(s"${prefix}_tombstones")
            .agg(count(lit(1)).cast("long").as("n_ts"))
          val monAgg = s.table(s"${prefix}_monitor")
            .agg(coalesce(sum(col("alert")), lit(0L)).as("n_alerts"))
          val meta = s.table(s"${prefix}_meta")
            .select(col("compacted_through"), col("ts_compacted_through"))
          // AQE OFF for the snapshot collect only (restored in finally):
          // every crossJoin side is structurally 1-row (ungrouped
          // aggregates / the 1-row meta), so adaptive replanning has
          // nothing to decide AT ANY SCALE — scan parallelism is set by
          // the file splits either way — while its per-stage
          // materialization turned each snapshot into ~7 driver jobs of
          // 10–60 ms (r17 JobTrace: the 6 snapshots were ~42 of the
          // query's 234 jobs). One job per snapshot now.
          val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
          val r =
            try {
              s.conf.set("spark.sql.adaptive.enabled", "false")
              codesAgg.crossJoin(tsAgg).crossJoin(monAgg).crossJoin(meta)
                .collect()(0)
            } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
          audit += ((stage, op, r.getAs[Long]("n_codes"), r.getAs[Long]("n_gens"),
            r.getAs[Long]("n_ts"), r.getAs[Long]("n_alerts"),
            r.getAs[Long]("compacted_through"),
            r.getAs[Long]("ts_compacted_through")))
        }
        // nBuckets = 2 throughout: the demo index is a bounded ops exhibit,
        // not a throughput path — fewer bucket files per generation write
        // keeps the audit's cost in the lifecycle, not the FS commits
        Sq8.buildSq8Index(emb.filter(col("vec_id") >= 100), prefix, path,
          nBuckets = 2)
        snap(0, "build")
        // the two grow batches land through ONE maintenance call (r17):
        // stats/fence read once, presence probes folded into one job, one
        // commit per table — per-batch partitions and audit values are
        // identical to two single calls (indexBatchesSq8's contract)
        AnnStream.indexBatchesSq8(s, Seq(
          emb.filter(col("vec_id") < 50) -> 0L,
          emb.filter(col("vec_id") >= 50 && col("vec_id") < 100) -> 1L), prefix)
        snap(1, "grow")
        IndexOps.tombstone(s, prefix,
          emb.filter(pmod(col("vec_id"), lit(9)) === 3).select(col("vec_id")), 0L)
        snap(2, "tombstone")
        Sq8.compactSq8Index(s, prefix, path, nBuckets = 2)
        snap(3, "compact")
        AnnStream.indexBatchSq8(s, emb.filter(col("vec_id") < 50)
          .select((col("vec_id") + 50000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(2.0f)).as("embedding")),
          2L, prefix)
        snap(4, "drift")
        Sq8.refitSq8Index(s, prefix, path, nBuckets = 2)
        snap(5, "refit")
        val probeRows = Sq8.sq8TopKBatchStored(s, prefix).count()
        import s.implicits._
        audit.toSeq.toDF("stage", "op", "n_codes", "n_generations",
          "n_tombstones", "n_alerts", "compacted_through", "ts_compacted_through")
          .withColumn("probe_rows", lit(probeRows))
          .orderBy(col("stage"))
      },
      None,
      "end-to-end stored-index lifecycle audit (build -> stream-grow -> tombstone -> compact -> drifted batch alerts -> refit -> probe) over the SQ8 family: one query returns the generation trail (counts, fences, alerts) a 100 TB operator reads first; deterministic exact integers, each stage pinned by its own spec/oracle elsewhere"))
}
