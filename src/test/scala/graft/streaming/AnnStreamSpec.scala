package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession.{spark, sf0001}
import graft.operators.{IndexOps, Pq, Similarity}
import java.nio.file.{Files, Path, Paths}

/** Streaming embedding-index maintenance (AnnStream): the stored ANN/PQ
  * index grown micro-batch by micro-batch must answer retrieval exactly
  * as the batch recompute over the full corpus would — including vectors
  * ingested several batches ago — and the append-if-absent discipline
  * must make crash replays fill exactly the missing slices.
  */
class AnnStreamSpec extends AnyFunSuite {

  private lazy val emb = graft.Tables.embeddings(spark, sf0001)

  /** Stage `df` as ONE parquet file named `name` inside `inbox` — the
    * file-source contract (one slice file = one unit the
    * maxFilesPerTrigger=1 stream turns into one micro-batch).
    */
  private def stageSlice(df: org.apache.spark.sql.DataFrame, inbox: Path,
      name: String): Unit = {
    val tmp = Files.createTempDirectory("ann_slice").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(inbox)
    Files.move(part.toPath, inbox.resolve(name))
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    ()
  }

  test("ANN index grown by the stream answers exactly like the batch recompute; vectors from two batches ago are retrievable") {
    val base = Files.createTempDirectory("ann_stream")
    val inbox = base.resolve("inbox")
    // seed with the LATE half of the corpus only — every anchor
    // (vec_id < 16) and its true neighbors arrive through the STREAM,
    // across two separate micro-batches, so a hit proves cross-batch
    // freshness (anchors from batch 0 retrieving corpus from batch 1 and
    // the seed alike)
    Similarity.buildAnnIndex(emb.filter(col("vec_id") >= 100),
      "as_ann", s"$base/idx")
    stageSlice(emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding")), inbox, "slice0.parquet")
    stageSlice(emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)
      .select(col("vec_id"), col("embedding")), inbox, "slice1.parquet")
    drain(AnnStream.maintainAnn(
      AnnStream.readEmb(spark, inbox.toString, maxFilesPerTrigger = 1),
      "as_ann", s"$base/ckpt"))
    // two micro-batches landed as their own partitions
    val batchIds = spark.table("as_ann_vecs").select(col("batch_id"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(batchIds == Seq(-1L, 0L, 1L), s"partitions: $batchIds")
    val stored = Similarity.annTopKBatchStored(spark, "as_ann").collect()
      .map(_.toString).sorted.toSeq
    val recomputed = Similarity.annTopKBatch(emb).collect()
      .map(_.toString).sorted.toSeq
    assert(recomputed.nonEmpty && stored == recomputed)

    // CRASH REPLAY: stage a partial batch-2 state — buckets landed, the
    // JVM died before vecs. The replayed indexBatchAnn must fill EXACTLY
    // the missing table (vecs), never duplicate the present one.
    val ghost = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 7000L).as("vec_id"), col("embedding"))
    val (bSlice, _) = Similarity.annIndexSlices(IndexOps.widened(ghost), 2L,
      tables = 32, bits = 6)
    graft.sources.Bucketing.appendBucketedPartition(bSlice, "as_ann_buckets")
    AnnStream.indexBatchAnn(spark, ghost, 2L, "as_ann")
    val bCount = spark.table("as_ann_buckets")
      .filter(col("batch_id") === 2L).count()
    val vCount = spark.table("as_ann_vecs")
      .filter(col("batch_id") === 2L).count()
    assert(bCount == 3L * 32, s"buckets batch-2 rows duplicated or lost: $bCount")
    assert(vCount == 3L, s"vecs batch-2 rows: $vCount")
    // a second full replay of the SAME batch is a no-op on both tables
    AnnStream.indexBatchAnn(spark, ghost, 2L, "as_ann")
    assert(spark.table("as_ann_buckets").filter(col("batch_id") === 2L).count() == bCount)
    assert(spark.table("as_ann_vecs").filter(col("batch_id") === 2L).count() == vCount)

    // RESTART: catalog entries die with the session, files survive —
    // reattach and retrieve (the ghost vectors sit far from the anchors'
    // id range and don't perturb the top-5s at this scale; equality is
    // asserted against the recompute over corpus+ghosts)
    Seq("as_ann_buckets", "as_ann_vecs", "as_ann_meta", "as_ann_tombstones")
      .foreach(t => spark.sql(s"DROP TABLE `$t`"))
    Similarity.reattachAnnIndex(spark, "as_ann", s"$base/idx")
    val afterRestart = Similarity.annTopKBatchStored(spark, "as_ann").collect()
      .map(_.toString).sorted.toSeq
    val recomputedWithGhosts = Similarity.annTopKBatch(
      emb.select(col("vec_id"), col("embedding")).union(ghost)).collect()
      .map(_.toString).sorted.toSeq
    assert(afterRestart == recomputedWithGhosts)
    Seq("as_ann_buckets", "as_ann_vecs", "as_ann_meta", "as_ann_tombstones")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("PQ index grown by the stream answers exactly like the batch recompute under the FROZEN build-time codebooks") {
    val base = Files.createTempDirectory("pq_stream")
    val inbox = base.resolve("inbox")
    // codebooks fit on the SEED half only — the production rule: deltas
    // are encoded against the index generation's frozen codebooks
    val seed = emb.filter(col("vec_id") >= 100)
    Pq.buildPqIndex(seed, "as_pq", s"$base/idx", iters = 2)
    val cbs = Pq.pqIndexCodebooks(spark, "as_pq")
    stageSlice(emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding")), inbox, "slice0.parquet")
    stageSlice(emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)
      .select(col("vec_id"), col("embedding")), inbox, "slice1.parquet")
    drain(AnnStream.maintainPq(
      AnnStream.readEmb(spark, inbox.toString, maxFilesPerTrigger = 1),
      "as_pq", s"$base/ckpt"))
    val stored = Pq.adcTopKBatchStored(spark, "as_pq").collect()
      .map(_.toString).sorted.toSeq
    // recompute over the FULL corpus with the seed-fitted codebooks —
    // adcTopKBatch takes cbs explicitly, so the comparison isolates the
    // streaming growth from the (deliberately frozen) fit
    val recomputed = Pq.adcTopKBatch(emb, cbs).collect()
      .map(_.toString).sorted.toSeq
    assert(recomputed.nonEmpty && stored == recomputed)
    // the staleness monitor recorded BOTH in-distribution batches with
    // no alert (same synthetic distribution as the fit corpus)
    val mon = spark.table("as_pq_monitor")
      .orderBy(col("batch_id")).collect()
    assert(mon.map(_.getAs[Long]("batch_id")).toSeq == Seq(0L, 1L))
    assert(mon.forall(_.getAs[Long]("alert") == 0L), mon.mkString(";"))
    assert(mon.forall(r => r.getAs[Long]("mse_micros") > 0 &&
      r.getAs[Long]("build_mse_micros") == Pq.indexBuildMse(spark, "as_pq")))
    Seq("as_pq_codes", "as_pq_vecs", "as_pq_meta", "as_pq_tombstones",
      "as_pq_monitor")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("staleness monitor: an out-of-distribution maintenance batch alerts for a refit generation; an in-distribution one does not") {
    val base = Files.createTempDirectory("sm_pq")
    val inbox = base.resolve("inbox")
    Pq.buildPqIndex(emb.filter(col("vec_id") >= 100), "sm_pq", s"$base/idx", iters = 2)
    // batch 0: same distribution as the fit corpus; batch 1: the same
    // vectors TRANSLATED by +2 per dimension (an embedding-model/domain
    // MEAN shift — far from every seed-fit centroid, so quantization
    // error explodes past the 2x-of-build bar; unlike a variance blowup,
    // a mean shift is exactly what a refit generation can absorb)
    stageSlice(emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding")), inbox, "slice0.parquet")
    stageSlice(emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 50000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(2.0f)).as("embedding")),
      inbox, "slice1.parquet")
    drain(AnnStream.maintainPq(
      AnnStream.readEmb(spark, inbox.toString, maxFilesPerTrigger = 1),
      "sm_pq", s"$base/ckpt"))
    val mon = spark.table("sm_pq_monitor").orderBy(col("batch_id")).collect()
    assert(mon.length == 2, mon.mkString(";"))
    val buildMse = Pq.indexBuildMse(spark, "sm_pq")
    assert(mon(0).getAs[Long]("alert") == 0L &&
      mon(0).getAs[Long]("mse_micros") <= Pq.StalenessFactor * buildMse,
      s"in-distribution batch alerted: ${mon(0)}")
    assert(mon(1).getAs[Long]("alert") == 1L &&
      mon(1).getAs[Long]("mse_micros") > Pq.StalenessFactor * buildMse,
      s"shifted batch did not alert: ${mon(1)} (build $buildMse)")
    // monitor rows ride the same append-if-absent replay discipline
    AnnStream.indexBatchPq(spark,
      emb.filter(col("vec_id") < 50).select(col("vec_id"), col("embedding")),
      0L, "sm_pq")
    assert(spark.table("sm_pq_monitor").count() == 2)

    // REFIT GENERATION — the alert's consumer: refit codebooks on the
    // current corpus (which now CONTAINS the shifted vectors), re-encode,
    // fresh build-MSE baseline
    val preShiftMse = mon(1).getAs[Long]("mse_micros")
    Pq.refitPqIndex(spark, "sm_pq", s"$base/idx", iters = 2)
    val newBuild = Pq.indexBuildMse(spark, "sm_pq")
    assert(newBuild != buildMse && newBuild > 0)
    // stored answers are row-identical to the recompute over the same
    // corpus under the refit codebooks (read back from meta)
    val refitCbs = Pq.pqIndexCodebooks(spark, "sm_pq")
    val corpus = emb.filter(col("vec_id") >= 100)
      .select(col("vec_id"), col("embedding"))
      .union(emb.filter(col("vec_id") < 50).select(col("vec_id"), col("embedding")))
      .union(emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 50000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding")))
    val stored = Pq.adcTopKBatchStored(spark, "sm_pq").collect()
      .map(_.toString).sorted.toSeq
    val recomputed = Pq.adcTopKBatch(corpus, refitCbs).collect()
      .map(_.toString).sorted.toSeq
    assert(recomputed.nonEmpty && stored == recomputed)
    // the SAME drifted distribution no longer alerts: the refit corpus
    // contains the shifted mode, so its subspace codebooks allocate
    // centroids there and a fresh shifted batch (new ids) quantizes
    // about as well as in-distribution data
    AnnStream.indexBatchPq(spark,
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 60000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding")),
      2L, "sm_pq")
    val post = spark.table("sm_pq_monitor")
      .filter(col("batch_id") === 2L).collect()(0)
    assert(post.getAs[Long]("mse_micros") < preShiftMse,
      s"refit did not improve drifted-batch quantization: $post vs $preShiftMse")
    assert(post.getAs[Long]("alert") == 0L,
      s"drifted batch still alerts after refit: $post (build $newBuild)")
    Seq("sm_pq_codes", "sm_pq_vecs", "sm_pq_meta", "sm_pq_tombstones",
      "sm_pq_monitor")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("tail-coverage statistic: a tail sub-population alerts tail_alert with the batch MEAN quiet; a uniform mean shift trips both alarms (r13 verdict #4)") {
    val base = Files.createTempDirectory("tc_pq")
    Pq.buildPqIndex(emb.filter(col("vec_id") >= 100), "tc_pq",
      s"$base/idx", iters = 2)
    val build = Pq.indexBuildMse(spark, "tc_pq")
    val cbs = Pq.pqIndexCodebooks(spark, "tc_pq")
    // per-vector quantization error of the early-corpus slice translated
    // by `shift` — the knob that manufactures a tail sub-population
    def errsAt(shift: Float): Map[Long, Long] =
      emb.filter(col("vec_id") < 50)
        .select(col("vec_id"),
          transform(col("embedding"), x => (x + lit(shift)).cast("double")).as("v"))
        .select(col("vec_id"), Pq.quantErrMicros(col("v"), cbs).as("e"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ladder up the shift until >= 7 vectors land in the
    // (TailFactor×build, 8×build) band: individually tail members, yet
    // bounded enough that a ~12% minority cannot move the batch mean
    // past the StalenessFactor bar
    val lo = Pq.TailFactor * build
    val hi = 8L * build
    val ladder = Seq(0.05f, 0.1f, 0.15f, 0.2f, 0.3f, 0.45f, 0.7f, 1.0f, 1.5f)
    val shift = ladder.find(s =>
      errsAt(s).values.count(e => e > lo + build / 5 && e < hi) >= 7)
      .getOrElse(fail(s"no ladder shift produced a (4x,8x)-of-build tail band (build=$build)"))
    val tailIds = errsAt(shift)
      .filter { case (_, e) => e > lo + build / 5 && e < hi }
      .keys.toSeq.sorted.take(7)
    val fillerErrs = errsAt(0f)
    val tailErrs = errsAt(shift).view.filterKeys(tailIds.contains).toMap
    // PRECONDITIONS the corpus must grant (deterministic, so they hold
    // forever once they hold once): the batch mean stays under the MSE
    // bar while >10% of its vectors individually exceed the tail bar
    val n = 50 + tailIds.size
    val mean = (fillerErrs.values.sum + tailErrs.values.sum) / n
    assert(mean <= Pq.StalenessFactor * build,
      s"crafted batch mean $mean would trip the MSE alarm (build $build)")
    val expTail = (fillerErrs.values ++ tailErrs.values).count(_ > lo)
    val expPpm = expTail.toLong * 1000000L / n
    assert(expPpm > Pq.TailAlertPpm,
      s"crafted tail fraction $expPpm ppm under the bar")
    val batch = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 70000L).as("vec_id"), col("embedding"))
      .union(emb.filter(col("vec_id").isin(tailIds: _*))
        .select((col("vec_id") + 80000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(shift)).as("embedding")))
    AnnStream.indexBatchPq(spark, batch, 0L, "tc_pq")
    val row = spark.table("tc_pq_monitor")
      .filter(col("batch_id") === 0L).collect()(0)
    // the tail-only signature: MSE quiet, coverage loud — the pair of
    // columns that distinguishes "a sub-population the codebooks cannot
    // encode" from "the whole distribution moved"
    assert(row.getAs[Long]("alert") == 0L, s"mean alarm tripped: $row")
    assert(row.getAs[Long]("tail_alert") == 1L, s"tail alarm quiet: $row")
    assert(row.getAs[Long]("tail_ppm") == expPpm,
      s"tail_ppm ${row.getAs[Long]("tail_ppm")} != expected $expPpm")
    // uniform mean shift (+2 per dim): every vector is a tail member AND
    // the mean explodes — both alarms fire, completing the truth table
    AnnStream.indexBatchPq(spark,
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 90000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding")),
      1L, "tc_pq")
    val row1 = spark.table("tc_pq_monitor")
      .filter(col("batch_id") === 1L).collect()(0)
    assert(row1.getAs[Long]("alert") == 1L && row1.getAs[Long]("tail_alert") == 1L,
      s"uniform shift should trip both alarms: $row1")
    // the IVF-PQ family carries the same pair of statistics over its
    // RESIDUAL quantizer: the uniform shift trips both there too
    Pq.buildIvfPqIndex(emb.filter(col("vec_id") >= 100), "tc_ivfpq", s"$base/ivfpq")
    AnnStream.indexBatchIvfPq(spark,
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 90000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding")),
      0L, "tc_ivfpq")
    val ivfRow = spark.table("tc_ivfpq_monitor")
      .filter(col("batch_id") === 0L).collect()(0)
    assert(ivfRow.getAs[Long]("alert") == 1L &&
      ivfRow.getAs[Long]("tail_alert") == 1L,
      s"IVF-PQ uniform shift should trip both alarms: $ivfRow")
    Seq("tc_pq_codes", "tc_pq_vecs", "tc_pq_meta", "tc_pq_tombstones",
      "tc_pq_monitor", "tc_ivfpq_codes", "tc_ivfpq_vecs", "tc_ivfpq_meta",
      "tc_ivfpq_tombstones", "tc_ivfpq_monitor")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("maintenance policy: the decision flips exactly when each signal lands and clears when its rewrite consumes it (q176's operator)") {
    import graft.operators.{IndexOps, Sq8}
    val base = Files.createTempDirectory("pol_sq8")
    Sq8.buildSq8Index(emb.filter(col("vec_id") >= 100), "pol_sq8", s"$base/idx")
    def policy() = IndexOps.maintenancePolicy(spark, "pol_sq8", "sq8").collect()(0)
    def dt(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("decision"), r.getAs[String]("triggered_by"))
    assert(dt(policy()) == (("healthy", "none")))
    // in-range growth below every bar: still healthy
    AnnStream.indexBatchSq8(spark,
      emb.filter(col("vec_id") < 50).select(col("vec_id"), col("embedding")),
      0L, "pol_sq8")
    assert(dt(policy()) == (("healthy", "none")))
    // deletions past the 10% bar: COMPACT, attributed to the fraction
    IndexOps.tombstone(spark, "pol_sq8",
      emb.filter(pmod(col("vec_id"), lit(3)) === 0).select(col("vec_id")), 0L)
    val p1 = policy()
    assert(dt(p1) == (("compact", "tombstone_ppm")) &&
      p1.getAs[Long]("tombstone_ppm") > IndexOps.TombstonePpmBar, p1.toString)
    // the generation rewrite consumes the signal
    Sq8.compactSq8Index(spark, "pol_sq8", s"$base/idx")
    assert(dt(policy()) == (("healthy", "none")))
    // a drifted batch lands its monitor alert: REFIT — and it outranks a
    // simultaneous above-bar deletion set (precedence, not coincidence)
    AnnStream.indexBatchSq8(spark, emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 50000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(2.0f)).as("embedding")),
      1L, "pol_sq8")
    IndexOps.tombstone(spark, "pol_sq8",
      emb.filter(pmod(col("vec_id"), lit(3)) === 0).select(col("vec_id")), 1L)
    val p2 = policy()
    assert(dt(p2) == (("refit", "monitor_alert")) &&
      p2.getAs[Long]("n_alerts") == 1L &&
      p2.getAs[Long]("tombstone_ppm") > IndexOps.TombstonePpmBar, p2.toString)
    // the refit generation consumes the alert (the fence advances past
    // every monitor row) AND the tombstones
    Sq8.refitSq8Index(spark, "pol_sq8", s"$base/idx")
    assert(dt(policy()) == (("healthy", "none")))
    // batch-count bar: five un-folded in-range batches tip it
    (2 to 6).foreach { b =>
      AnnStream.indexBatchSq8(spark, emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + b * 100000L).as("vec_id"), col("embedding")),
        b.toLong, "pol_sq8")
    }
    val p3 = policy()
    assert(dt(p3) == (("compact", "batch_count")) &&
      p3.getAs[Long]("n_batches") == 5L, p3.toString)
    Seq("codes", "vecs", "tombstones", "monitor", "meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS pol_sq8_$t"))
  }

  test("half-landed MONITOR row blocks compaction: a crash after vecs but before the monitor append must not be folded past (advisor r13)") {
    val base = Files.createTempDirectory("hm_pq")
    Pq.buildPqIndex(emb.filter(col("vec_id") >= 100), "hm_pq",
      s"$base/idx", iters = 2)
    val cbs = Pq.pqIndexCodebooks(spark, "hm_pq")
    // stage batch 0 with codes+vecs landed but the monitor row MISSING —
    // the exact crash window the advisor flagged: compaction folding
    // past it would fence off the replay that writes the (potentially
    // alerting) monitor row
    val delta = IndexOps.widened(emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 7000L).as("vec_id"), col("embedding")))
    val (codes, vs) = Pq.pqIndexSlices(delta, 0L, cbs)
    graft.sources.Bucketing.appendBucketedPartition(codes, "hm_pq_codes")
    graft.sources.Bucketing.appendBucketedPartition(vs, "hm_pq_vecs")
    val ex = intercept[IllegalArgumentException] {
      Pq.compactPqIndex(spark, "hm_pq", s"$base/idx")
    }
    assert(ex.getMessage.contains("monitor missing batch 0"), ex.getMessage)
    // the healing replay fills exactly the missing monitor row, after
    // which compaction proceeds
    AnnStream.indexBatchPq(spark,
      emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 7000L).as("vec_id"), col("embedding")),
      0L, "hm_pq")
    assert(spark.table("hm_pq_monitor").count() == 1)
    Pq.compactPqIndex(spark, "hm_pq", s"$base/idx")
    assert(graft.operators.IndexOps.compactedThrough(spark, "hm_pq") == 0L)
    Seq("hm_pq_codes", "hm_pq_vecs", "hm_pq_meta", "hm_pq_tombstones",
      "hm_pq_monitor")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("streaming deletion propagation: a drop decision in batch N is unretrievable from batch N+1 on, exactly-once under replay") {
    val base = Files.createTempDirectory("sd_ann")
    val inbox = base.resolve("deletes")
    Similarity.buildAnnIndex(emb, "sd_ann", s"$base/idx")
    import graft.SparkTestSession.implicits._
    // the victim: a vector the standing index actually RETRIEVES now —
    // the strongest form of "decision removes retrievability"
    val first = Similarity.annTopKBatchStored(spark, "sd_ann")
      .orderBy(col("anchor_id"), col("rk")).limit(1).collect()(0)
    val victim1 = first.getAs[Long]("vec_id")
    stageSlice(Seq(victim1).toDF("vec_id"), inbox, "dec0.parquet")
    drain(AnnStream.maintainTombstones(
      AnnStream.readDeletes(spark, inbox.toString, maxFilesPerTrigger = 1),
      Seq("sd_ann"), s"$base/ckpt"))
    val afterN = Similarity.annTopKBatchStored(spark, "sd_ann").collect()
    assert(afterN.nonEmpty && afterN.forall(r =>
      r.getAs[Long]("vec_id") != victim1 && r.getAs[Long]("anchor_id") != victim1))
    // batch N+1 (same checkpoint, new decision file): a second victim
    val second = Similarity.annTopKBatchStored(spark, "sd_ann")
      .orderBy(col("anchor_id"), col("rk")).limit(1).collect()(0)
    val victim2 = second.getAs[Long]("vec_id")
    assert(victim2 != victim1)
    stageSlice(Seq(victim2).toDF("vec_id"), inbox, "dec1.parquet")
    drain(AnnStream.maintainTombstones(
      AnnStream.readDeletes(spark, inbox.toString, maxFilesPerTrigger = 1),
      Seq("sd_ann"), s"$base/ckpt"))
    val afterN1 = Similarity.annTopKBatchStored(spark, "sd_ann").collect()
    assert(afterN1.nonEmpty && afterN1.forall(r =>
      !Set(victim1, victim2).contains(r.getAs[Long]("vec_id")) &&
        !Set(victim1, victim2).contains(r.getAs[Long]("anchor_id"))))
    // row-identity with a rebuild from the surviving corpus
    val rebuilt = Similarity.annTopKBatch(
      emb.filter(!col("vec_id").isin(victim1, victim2))).collect()
      .map(_.toString).sorted.toSeq
    assert(afterN1.map(_.toString).sorted.toSeq == rebuilt)
    // crash replay of batch 0's decision is a no-op (append-if-absent)
    AnnStream.tombstoneBatch(spark, Seq(victim1).toDF("vec_id"), 0L, Seq("sd_ann"))
    assert(spark.table("sd_ann_tombstones").count() == 2)
    Seq("sd_ann_buckets", "sd_ann_vecs", "sd_ann_meta", "sd_ann_tombstones")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("IVF-PQ index grown by the stream answers exactly like the recompute under the FROZEN fits; appended rows land list-partitioned") {
    val base = Files.createTempDirectory("ivfpq_stream")
    val inbox = base.resolve("inbox")
    // seed: coarse + residual fits FROZEN on the late half of the corpus
    val seed = emb.filter(col("vec_id") >= 100)
    Pq.buildIvfPqIndex(seed, "as_ivfpq", s"$base/idx")
    val (coarse, cbs) = Pq.ivfPqIndexMeta(spark, "as_ivfpq")
    stageSlice(emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding")), inbox, "slice0.parquet")
    stageSlice(emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)
      .select(col("vec_id"), col("embedding")), inbox, "slice1.parquet")
    drain(AnnStream.maintainIvfPq(
      AnnStream.readEmb(spark, inbox.toString, maxFilesPerTrigger = 1),
      "as_ivfpq", s"$base/ckpt"))
    // appended code rows carry real list ids in the partition layout
    val listsPerBatch = spark.table("as_ivfpq_codes")
      .groupBy(col("batch_id")).agg(countDistinct(col("list_id")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(listsPerBatch.keySet == Set(-1L, 0L, 1L), listsPerBatch.toString)
    assert(listsPerBatch.values.forall(_ >= 2), s"degenerate list spread: $listsPerBatch")
    val stored = Pq.ivfPqTopKStored(spark, "as_ivfpq", queryVecId = 0L,
      k = 10, nProbe = 6).collect().map(_.toString).sorted.toSeq
    // recompute over the FULL corpus with the seed-frozen fits —
    // ivfPqTopK takes (coarse, cbs) explicitly, isolating streaming
    // growth from the (deliberately frozen) training
    val recomputed = Pq.ivfPqTopK(emb, coarse, cbs, queryVecId = 0L,
      k = 10, nProbe = 6).collect().map(_.toString).sorted.toSeq
    assert(recomputed.nonEmpty && stored == recomputed)
    Seq("as_ivfpq_codes", "as_ivfpq_vecs", "as_ivfpq_meta",
      "as_ivfpq_tombstones", "as_ivfpq_monitor")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }
}
