package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession.{spark, sf0001}
import graft.streaming.AnnStream
import java.nio.file.{Files, Path}

/** The SQ8 stored index — fourth family under the one lifecycle
  * discipline. Beyond q168's full-parity oracle (which already pins the
  * batch build + probe against a DuckDB replay), these tests pin what
  * the oracle cannot see: streaming growth under FROZEN stats, crash
  * replay, tombstoned deletion, generation compaction, the staleness
  * monitor + refit generation, and catalog-wipe reattach.
  */
class Sq8IndexSpec extends AnyFunSuite {

  private lazy val emb = graft.Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def dropAll(prefix: String): Unit =
    Seq("codes", "vecs", "meta", "tombstones", "monitor")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))

  private def stageSlice(df: DataFrame, inbox: Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("sq8_slice").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(inbox)
    Files.move(part.toPath, inbox.resolve(name))
  }

  test("stored probe equals the from-scratch recompute; stream growth under frozen stats; crash replay fills the missing slice") {
    val base = Files.createTempDirectory("sq8_stream")
    val inbox = base.resolve("inbox")
    // full-corpus build: stored == recompute (the q168 oracle sees the
    // same identity from the SQL side; this is the Spark-side pin)
    Sq8.buildSq8Index(emb, "sq8x", s"$base/full_idx")
    assert(sortedRows(Sq8.sq8TopKBatchStored(spark, "sq8x")) ==
      sortedRows(Sq8.sq8TopKBatch(emb)))
    dropAll("sq8x")

    // seed on the LATE half only — stats frozen from the seed; anchors
    // and their neighbors arrive through the stream across two batches
    val seed = emb.filter(col("vec_id") >= 100)
    Sq8.buildSq8Index(seed, "sq8s", s"$base/idx")
    val (mins, maxs) = Sq8.sq8IndexStats(spark, "sq8s")
    stageSlice(emb.filter(col("vec_id") < 50), inbox, "slice0.parquet")
    stageSlice(emb.filter(col("vec_id") >= 50 && col("vec_id") < 100),
      inbox, "slice1.parquet")
    AnnStream.maintainSq8(
      AnnStream.readEmb(spark, inbox.toString, maxFilesPerTrigger = 1),
      "sq8s", s"$base/ckpt").awaitTermination()
    val batchIds = spark.table("sq8s_vecs").select(col("batch_id"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(batchIds == Seq(-1L, 0L, 1L), s"partitions: $batchIds")
    // grown index == recompute over the full corpus under the FROZEN
    // seed stats (the explicit-stats twin isolates growth from fit)
    val stored = sortedRows(Sq8.sq8TopKBatchStored(spark, "sq8s"))
    assert(stored.nonEmpty &&
      stored == sortedRows(Sq8.sq8TopKBatchWith(emb, mins, maxs)))
    // both in-distribution batches monitored, no alert: fresh data has
    // TAIL values outside the seed-fit range (clamp_ppm > 0 is normal),
    // but far below the 10% bar
    val mon = spark.table("sq8s_monitor").orderBy(col("batch_id")).collect()
    assert(mon.map(_.getAs[Long]("batch_id")).toSeq == Seq(0L, 1L))
    assert(mon.forall(_.getAs[Long]("alert") == 0L), mon.mkString(";"))
    assert(mon.forall(r => r.getAs[Long]("bar_ppm") == Sq8.ClampAlertPpm &&
      r.getAs[Long]("clamp_ppm") < Sq8.ClampAlertPpm), mon.mkString(";"))

    // CRASH REPLAY: stage a partial batch-2 — codes landed, the JVM died
    // before vecs/monitor. The replay must fill EXACTLY what is missing.
    val ghost = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 7000L).as("vec_id"), col("embedding"))
    val (cSlice, _) = Sq8.sq8IndexSlices(IndexOps.widened(ghost), 2L, mins, maxs)
    graft.sources.Bucketing.appendBucketedPartition(cSlice, "sq8s_codes")
    // a generation rewrite over the half-landed batch must REFUSE: a
    // compaction here would fold the partial batch, advance the fence
    // past it, and turn the healing replay into a fenced no-op — silent
    // data loss. The guard makes it loud instead.
    val refusal = intercept[IllegalArgumentException] {
      Sq8.compactSq8Index(spark, "sq8s", s"$base/idx")
    }
    assert(refusal.getMessage.contains("half-landed"), refusal.getMessage)
    AnnStream.indexBatchSq8(spark, ghost, 2L, "sq8s")
    assert(spark.table("sq8s_codes").filter(col("batch_id") === 2L).count() == 3L)
    assert(spark.table("sq8s_vecs").filter(col("batch_id") === 2L).count() == 3L)
    assert(spark.table("sq8s_monitor").filter(col("batch_id") === 2L).count() == 1L)
    // full replay of the same batch is a no-op everywhere
    AnnStream.indexBatchSq8(spark, ghost, 2L, "sq8s")
    assert(spark.table("sq8s_codes").filter(col("batch_id") === 2L).count() == 3L)
    assert(spark.table("sq8s_monitor").filter(col("batch_id") === 2L).count() == 1L)

    // RESTART: catalog wiped, files survive — reattach and answer
    // identically (corpus + ghosts under the same frozen stats)
    dropAll("sq8s")
    Sq8.reattachSq8Index(spark, "sq8s", s"$base/idx")
    assert(sortedRows(Sq8.sq8TopKBatchStored(spark, "sq8s")) ==
      sortedRows(Sq8.sq8TopKBatchWith(
        emb.union(ghost), mins, maxs)))
    dropAll("sq8s")
  }

  test("tombstoned deletion cannot be retrieved or displace candidates; compaction purges, collapses files and fences replays") {
    val base = Files.createTempDirectory("sq8_life")
    Sq8.buildSq8Index(emb.filter(col("vec_id") >= 100), "sq8t", s"$base/idx")
    val (mins, maxs) = Sq8.sq8IndexStats(spark, "sq8t")
    val batch0 = emb.filter(col("vec_id") < 50)
    val batch1 = emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)
    AnnStream.indexBatchSq8(spark, batch0, 0L, "sq8t")
    AnnStream.indexBatchSq8(spark, batch1, 1L, "sq8t")
    // drop ids >= 16 so the anchor set is stable and at least one
    // dropped id sits inside a pre-deletion top-5 (displacement proof)
    val preDrop = Sq8.sq8TopKBatchStored(spark, "sq8t")
    val drops = emb.filter(pmod(col("vec_id"), lit(9)) === 3 &&
      col("vec_id") >= 16).select(col("vec_id"))
    assert(preDrop.join(drops, Seq("vec_id"), "left_semi").count() > 0,
      "deletion set must intersect a pre-deletion top-5 for the displacement proof")
    IndexOps.tombstone(spark, "sq8t", drops, batchId = 0L)
    val after = sortedRows(Sq8.sq8TopKBatchStored(spark, "sq8t"))
    // identity with the recompute over SURVIVORS under the stored stats:
    // tombstoned rows neither retrievable nor displacing live candidates
    assert(after == sortedRows(Sq8.sq8TopKBatchWith(
      emb.join(drops, Seq("vec_id"), "left_anti"), mins, maxs)))

    // COMPACTION: row-identity, physical purge, O(buckets) files, fences
    val filesBefore = spark.table("sq8t_codes").inputFiles.length
    val liveRows = spark.table("sq8t_vecs")
      .join(drops, Seq("vec_id"), "left_anti").count()
    Sq8.compactSq8Index(spark, "sq8t", s"$base/idx")
    assert(sortedRows(Sq8.sq8TopKBatchStored(spark, "sq8t")) == after)
    assert(spark.table("sq8t_vecs").count() == liveRows)
    assert(spark.table("sq8t_tombstones").count() == 0)
    val gens = spark.table("sq8t_vecs").select(col("batch_id"))
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(gens == Seq(1L), s"generations after compaction: $gens")
    val filesAfter = spark.table("sq8t_codes").inputFiles.length
    assert(filesAfter <= 8 && filesAfter < filesBefore,
      s"codes files $filesBefore -> $filesAfter")
    // pre-compaction replays are no-ops on both streams
    AnnStream.indexBatchSq8(spark, batch1, 1L, "sq8t")
    assert(spark.table("sq8t_vecs").count() == liveRows)
    IndexOps.tombstone(spark, "sq8t", drops.limit(1), batchId = 0L)
    assert(spark.table("sq8t_tombstones").count() == 0)
    // genuinely new batches still land and retrieve
    val ghost = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 7000L).as("vec_id"), col("embedding"))
    AnnStream.indexBatchSq8(spark, ghost, 2L, "sq8t")
    assert(sortedRows(Sq8.sq8TopKBatchStored(spark, "sq8t")) ==
      sortedRows(Sq8.sq8TopKBatchWith(
        emb.join(drops, Seq("vec_id"), "left_anti").union(ghost),
        mins, maxs)))
    dropAll("sq8t")
  }

  test("staleness: a mean-shifted batch alerts (frozen range clamps); the refit generation absorbs it and goes quiet") {
    val base = Files.createTempDirectory("sq8_stale")
    Sq8.buildSq8Index(emb.filter(col("vec_id") >= 100), "sq8m", s"$base/idx")
    val buildMse = Sq8.indexBuildMse(spark, "sq8m")
    // batch 0: in-distribution (tail clamping only, under the 10% bar);
    // batch 1: +2 mean shift per dim — most values leave the frozen
    // [mn, mx] range, the clamp rate explodes toward 1e6 ppm (the
    // affine quantizer's characteristic drift failure)
    AnnStream.indexBatchSq8(spark, emb.filter(col("vec_id") < 50), 0L, "sq8m")
    AnnStream.indexBatchSq8(spark,
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 50000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding")),
      1L, "sq8m")
    val mon = spark.table("sq8m_monitor").orderBy(col("batch_id")).collect()
    assert(mon(0).getAs[Long]("alert") == 0L &&
      mon(0).getAs[Long]("clamp_ppm") < Sq8.ClampAlertPpm,
      s"in-distribution alerted: ${mon(0)}")
    assert(mon(1).getAs[Long]("alert") == 1L &&
      mon(1).getAs[Long]("clamp_ppm") > Sq8.ClampAlertPpm,
      s"shifted batch did not alert: ${mon(1)}")

    // REFIT: stats refit on the current corpus (contains the shifted
    // mode) — stored answers row-identical to the from-scratch
    // recompute over the same corpus (fit is deterministic, so the
    // internal refit equals the stored one), fresh baseline, and a
    // fresh shifted batch no longer alerts
    val preShiftPpm = mon(1).getAs[Long]("clamp_ppm")
    Sq8.refitSq8Index(spark, "sq8m", s"$base/idx")
    val newBuild = Sq8.indexBuildMse(spark, "sq8m")
    assert(newBuild != buildMse && newBuild > 0)
    val corpus = emb.filter(col("vec_id") >= 100)
      .union(emb.filter(col("vec_id") < 50))
      .union(emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 50000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding")))
    assert(sortedRows(Sq8.sq8TopKBatchStored(spark, "sq8m")) ==
      sortedRows(Sq8.sq8TopKBatch(corpus)))
    AnnStream.indexBatchSq8(spark,
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 60000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding")),
      2L, "sq8m")
    val post = spark.table("sq8m_monitor")
      .filter(col("batch_id") === 2L).collect()(0)
    assert(post.getAs[Long]("clamp_ppm") < preShiftPpm,
      s"refit did not absorb the shift: $post vs $preShiftPpm")
    assert(post.getAs[Long]("alert") == 0L,
      s"drifted batch still alerts after refit: $post")
    dropAll("sq8m")
  }
}
