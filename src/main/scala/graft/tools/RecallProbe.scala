package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Clustering, Pq, Similarity}

/** ANN recall floors at a REAL scale (r8 verdict #8): the
  * OperatorsSpec/PqSpec recall tests run at sf0.001, where a
  * scale-dependent recall cliff (adaptive bucket bits, fixed probe
  * counts, coarse-centroid coverage) cannot show. This probe re-runs the
  * same floors against a larger sfDir (default sf0.1) and exits nonzero
  * on any breach — `tools/soak.sh` runs it so the round's SOAK artifact
  * carries the at-scale recall lines.
  *
  * Floors started as the committed small-scale test floors ("recall
  * does not cliff with scale"); r16 raised the four with the widest
  * measured margin to measured-margin bars (r15 verdict #4 — a floor
  * 0.375 below measurement guards nothing): ann_batch 0.50->0.75
  * (measured 0.875), lsh_pairs 0.50->0.60 (0.708), adc_batch
  * 0.50->0.60 (0.675), hard_neg 0.50->0.60 (0.709) — each ~0.1 under
  * its r15 measurement, the r12 ann_lsh discipline (absorb sub-second
  * geometry flap, catch a real regression).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = graft.Tables.embeddings(spark, sfDir)
    var fail = 0
    def check(name: String, recall: Double, floor: Double): Unit = {
      val ok = recall >= floor
      if (!ok) fail += 1
      println(f"RECALL $name%-14s sf=$sfDir recall=$recall%.3f floor=$floor%.2f ${if (ok) "OK" else "BREACH"}")
    }

    // exact cosine top-10 for query vector 0 — the brute-force oracle
    val exact = graft.queries.Registry.byName("q29_cosine_topk")
      .fn(spark, sfDir).collect().map(_.getLong(0)).toSet

    // exact cosine top-10 for an arbitrary query id (multi-query floors)
    import graft.functions.VectorFunctions._
    def exactTop10(qid: Long): Set[Long] = {
      val q = emb.filter(col("vec_id") === qid)
        .select(asDouble(col("embedding")).as("qv"))
      emb.filter(col("vec_id") =!= qid)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .join(broadcast(q))
        .withColumn("c", cosine(col("v"), col("qv")))
        .orderBy(col("c").desc, col("vec_id"))
        .limit(10).collect().map(_.getLong(0)).toSet
    }

    // floor raised 0.50 -> 0.70 with r14's multi-probe query buckets
    // (measured 1.000 at sf0.1, was 0.600 single-probe)
    val ann = Similarity.annTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    check("ann_lsh", (ann intersect exact).size / 10.0, 0.7)

    // batched ANN (q153) vs the exact batch baseline (q152) — pair-level
    // recall over the whole 16-anchor batch
    val exactBatch = graft.queries.Registry.byName("q152_ann_topk_batch")
      .fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("vec_id"))).toSet
    val gotBatch = Similarity.annTopKBatch(emb)
      .select(col("anchor_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    check("ann_batch", exactBatch.count(gotBatch).toDouble / exactBatch.size, 0.75)

    // IVF floors are a MEAN over 5 query ids: single-query recall on a
    // 10-element set is a coin-flip-grade sample (the r10 floors of
    // 0.20/0.30 existed to absorb that variance); the mean tightens the
    // claim to what the operator actually delivers. r15: probe 8/16
    // lists (was 6 — measured coverage 0.64 -> 0.80 at sf0.1,
    // the r14 verdict #4 raise; recall IS list coverage for IVF, and
    // the stored layouts absorb the extra lists via directory pruning),
    // floors raised 0.60 -> 0.70 (ivf, measured 0.800) and
    // 0.50 -> 0.60 (ivf_pq 0.700 / ivfpq_batch 0.750).
    val ivfQueries = Seq(0L, 1L, 2L, 3L, 4L)
    val ivfRecall = ivfQueries.map { qid =>
      val got = Similarity.ivfTopK(emb, qid, 10).collect().map(_.getLong(0)).toSet
      (got intersect exactTop10(qid)).size / 10.0
    }.sum / ivfQueries.size
    check("ivf", ivfRecall, 0.7)

    // near-dup pair recall vs brute force at the cosine threshold. The
    // baseline must be ALL pairs ≥ threshold: the first probe run used
    // the spec's top-500 and at sf0.1 there are MORE than 500, so LSH
    // pairs beyond the truncation looked like "false positives". Take a
    // far-larger top-k and ASSERT it wasn't truncated.
    val bruteCap = 50000
    val brute = Similarity.topKPairs(emb, k = bruteCap)
      .filter(col("cos_sim") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (brute.size >= bruteCap) {
      fail += 1
      println(s"RECALL lsh_pairs BASELINE TRUNCATED at $bruteCap — raise the cap")
    }
    val lsh = Similarity.nearDupPairsLsh(emb, minCos = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (brute.isEmpty) println("RECALL lsh_pairs     SKIP: no brute pairs at threshold")
    else {
      if (!lsh.subsetOf(brute)) { fail += 1; println("RECALL lsh_pairs FALSE POSITIVES") }
      check("lsh_pairs", (lsh intersect brute).size.toDouble / brute.size, 0.6)
    }

    // PQ-ADC approximates the inner product: baseline is exact IP top-10
    def exactIpTop10(qid: Long): Set[Long] = {
      val q = emb.filter(col("vec_id") === qid)
        .select(asDouble(col("embedding")).as("qv"))
      emb.filter(col("vec_id") =!= qid)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .join(broadcast(q))
        .withColumn("ip", dot(col("v"), col("qv")))
        .orderBy(col("ip").desc, col("vec_id"))
        .limit(10).collect().map(_.getLong(0)).toSet
    }
    val exactIp = exactIpTop10(0L)
    val cbs = Pq.fit(emb, iters = 2)
    val adc = Pq.adcTopK(emb, cbs, queryVecId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    check("pq_adc", (adc intersect exactIp).size / 10.0, 0.3)

    // batched ADC (q157) vs exact per-anchor IP top-5 — pair-level
    // recall; the exact baseline is ONE distributed broadcast-batch job
    // (q152's plan with IP instead of cosine)
    val exactIp5 = {
      import org.apache.spark.sql.expressions.Window
      val a16 = emb.filter(col("vec_id") < 16).limit(16)
        .select(col("vec_id").as("anchor_id"), asDouble(col("embedding")).as("qv"))
      val w = Window.partitionBy(col("anchor_id"))
        .orderBy(col("ip").desc, col("vec_id"))
      emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .join(broadcast(a16), col("vec_id") =!= col("anchor_id"))
        .withColumn("ip", dot(col("v"), col("qv")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("anchor_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val gotAdcBatch = Pq.adcTopKBatch(emb, cbs)
      .select(col("anchor_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    check("adc_batch", exactIp5.count(gotAdcBatch).toDouble / exactIp5.size, 0.6)

    // IVF-PQ: same 5-query mean as the ivf check (one coarse + codebook
    // fit, reused across queries — the real index/query split)
    val coarse = Clustering.fitCentroids(emb, 16, 64, iters = 2, seed = 7L)
    val rcbs = Pq.fitOn(Pq.residuals(emb, coarse), iters = 2)
    val ivfPqRecall = ivfQueries.map { qid =>
      val got = Pq.ivfPqTopK(emb, coarse, rcbs, queryVecId = qid, k = 10, nProbe = 8)
        .collect().map(_.getLong(0)).toSet
      (got intersect exactIpTop10(qid)).size / 10.0
    }.sum / ivfQueries.size
    check("ivf_pq", ivfPqRecall, 0.6)

    // batched STORED IVF-PQ (q177) vs the exact per-anchor IP top-5 —
    // pair-level recall over the 16-anchor batch; the stored build fits
    // the same coarse/residual codebooks as q123's recompute
    val bdir = java.nio.file.Files.createTempDirectory("graft_rp_ivfpqb").toString
    Pq.buildIvfPqIndex(emb, "rp_ivfpqb", bdir)
    val gotIvfPqBatch = Pq.ivfPqTopKBatchStored(spark, "rp_ivfpqb",
      batchSize = 16, k = 5, nProbe = 8)
      .select(col("anchor_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    check("ivfpq_batch", exactIp5.count(gotIvfPqBatch).toDouble / exactIp5.size, 0.6)
    Seq("rp_ivfpqb_codes", "rp_ivfpqb_vecs", "rp_ivfpqb_tombstones",
      "rp_ivfpqb_monitor", "rp_ivfpqb_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

    // corpus-wide hard negatives (q150) vs the exact per-anchor top-3 —
    // pair-level recall, the RetrievalSpec floor re-asserted at scale
    // (adaptive bucket bits grow with n: exactly the dial whose cliff
    // only a larger corpus can show). The exact baseline is computed
    // DISTRIBUTED (an n² scan is fine as a probe baseline; a top-k-pairs
    // cut would truncate low-cos anchors' candidates and silently shrink
    // the denominator) — only the ≤3n (anchor, neg) winners are
    // collected.
    import org.apache.spark.sql.expressions.Window
    val ev = graft.operators.Par.fanOut(
      emb.select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")))
    val av = emb.select(col("vec_id").as("anchor_id"),
      col("label").as("anchor_label"), asDouble(col("embedding")).as("av"))
    val exactTop3 = ev.join(av, col("label") =!= col("anchor_label"))
      .withColumn("cos_raw", cosine(col("v"), col("av")))
      .filter(col("cos_raw") >= Similarity.HardNegFloor &&
        col("cos_raw") < Similarity.HardNegCeil)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("anchor_id")).orderBy(col("cos_raw").desc, col("vec_id"))))
      .filter(col("rk") <= 3)
      .select(col("anchor_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotNeg = Similarity.hardNegativesLsh(emb, k = 3)
      .select(col("anchor_id"), col("neg_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exactTop3.isEmpty) println("RECALL hard_neg      SKIP: band empty")
    else check("hard_neg", exactTop3.count(gotNeg).toDouble / exactTop3.size, 0.6)

    // stored semantic-dedup screen PARITY at scale (r15 verdict #6 —
    // the newest family held to the same standing bar as the 9 recall
    // floors): screen-vs-recompute is an exact-identity contract
    // (frozen centroids, exact cosine), so the bar is row-identity
    // (floor 1.0), not an approximation floor; SemDedupStreamSpec pins
    // it at sf0.001, this line re-asserts it at the soak scale.
    val semSlice = emb.select(col("vec_id"), col("embedding"))
    val semCorpus = semSlice.filter(col("vec_id") >= 100)
    val semIncoming = semSlice.filter(col("vec_id") < 100)
    val semDir = java.nio.file.Files.createTempDirectory("graft_rp_sem").toString
    graft.operators.SemDedup.buildSemIndex(semCorpus, "rp_sem", semDir)
    val screened = graft.operators.SemDedup.screenSem(spark, semIncoming, "rp_sem")
      .collect().map(_.toString).sorted.toSeq
    val recomputed = graft.operators.SemDedup.incrementalSemanticDedup(
      semIncoming, semCorpus, Clustering.centroids(16, 64))
      .collect().map(_.toString).sorted.toSeq
    check("semdedup_screen",
      if (screened.nonEmpty && screened == recomputed) 1.0
      else screened.toSet.intersect(recomputed.toSet).size.toDouble /
        math.max(recomputed.size, 1), 1.0)
    Seq("rp_sem_members", "rp_sem_tombstones", "rp_sem_monitor", "rp_sem_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
