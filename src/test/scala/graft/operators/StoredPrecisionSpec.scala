package graft.operators

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.SparkTestSession.{spark, sf0001}
import graft.streaming.{AnnStream, SemDedupStream}
import java.nio.file.Files

/** Stored vector precision across the whole stored-index lifecycle: every
  * stored vector table (`_vecs`, SemDedup's `_members`) holds the source
  * array<float> in `v` after the build, a stream append, a tombstone, a
  * compaction and (where the family has one) a refit — checked in the
  * catalog AND in every parquet footer, so a slice written at another
  * precision shows even where an append would cast it to the table
  * schema. An index whose meta carries the previous format number (the
  * array<double> layout) is refused with the "rebuild" message.
  */
class StoredPrecisionSpec extends AnyFunSuite {

  private lazy val emb = graft.Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding"))
  private lazy val seed = emb.filter(col("vec_id") >= 100)
  private lazy val delta = emb.filter(col("vec_id") < 100)

  /** Parquet primitive type of every `v` leaf in every file under `dir`. */
  private def footerTypes(dir: String): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val files = root.getFileSystem(conf).listFiles(root, true)
    val out = Set.newBuilder[String]
    while (files.hasNext) {
      val f = files.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getFooter.getFileMetaData.getSchema.getColumns.asScala
          .filter(_.getPath.head == "v")
          .foreach(c => out += c.getPrimitiveType.getPrimitiveTypeName.name)
        finally r.close()
      }
    }
    out.result()
  }

  private def assertFloat(table: String, dir: String, step: String): Unit = {
    spark.table(table).schema("v").dataType match {
      case ArrayType(FloatType, _) =>
      case t => fail(s"after $step: $table.v is $t")
    }
    assert(footerTypes(dir) == Set("FLOAT"), s"after $step: $dir")
  }

  /** Build → stream append (batch 0) → tombstone → compact → refit,
    * asserting float storage after each step; returns the index path.
    */
  private def lifecycle(prefix: String, table: String)(build: String => Unit,
      grow: (DataFrame, String) => Unit, compact: String => Unit,
      refit: Option[String => Unit]): String = {
    val path = Files.createTempDirectory(prefix).resolve("idx").toString
    def check(step: String): Unit =
      assertFloat(s"${prefix}_$table", s"$path/$table", step)
    build(path); check("build")
    grow(delta, path); check("stream append")
    IndexOps.tombstone(spark, prefix,
      emb.filter(pmod(col("vec_id"), lit(7)) === 0).select(col("vec_id")), 0L)
    check("tombstone")
    compact(path); check("compaction")
    refit.foreach { r => r(path); check("refit") }
    path
  }

  /** Rewrite meta with `previous` as its format, then expect `probe` to
    * refuse the index.
    */
  private def assertRejectsFormat(prefix: String, path: String,
      previous: Int)(probe: => Any): Unit = {
    val meta = spark.table(s"${prefix}_meta")
    val schema = meta.schema
    val rows = meta.collect().map(r => Row.fromSeq(schema.fieldNames.toSeq.map {
      case "format" => previous
      case f => r.getAs[Any](f)
    }))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .write.mode("overwrite").format("parquet")
      .option("path", s"$path/meta").saveAsTable(s"${prefix}_meta")
    val ex = intercept[IllegalArgumentException](probe)
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
  }

  private def dropAll(prefix: String): Unit =
    Seq("buckets", "codes", "vecs", "members", "tombstones", "monitor", "meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))

  test("LSH ANN: _vecs stays array<float> through build, append, tombstone, compaction; a format-2 index is refused") {
    val p = "sp_ann"
    val path = lifecycle(p, "vecs")(
      build = path => Similarity.buildAnnIndex(seed, p, path),
      grow = (b, _) => AnnStream.indexBatchAnn(spark, b, 0L, p),
      compact = path => Similarity.compactAnnIndex(spark, p, path),
      refit = None)
    assert(Similarity.annTopKBatchStored(spark, p).count() > 0)
    assertRejectsFormat(p, path, Similarity.AnnIndexFormat - 1)(
      Similarity.annTopKBatchStored(spark, p))
    dropAll(p)
  }

  test("SQ8: _vecs stays array<float> through build, append, tombstone, compaction, refit; a format-1 index is refused") {
    val p = "sp_sq8"
    val path = lifecycle(p, "vecs")(
      build = path => Sq8.buildSq8Index(seed, p, path),
      grow = (b, _) => AnnStream.indexBatchSq8(spark, b, 0L, p),
      compact = path => Sq8.compactSq8Index(spark, p, path),
      refit = Some(path => Sq8.refitSq8Index(spark, p, path)))
    assert(Sq8.sq8TopKBatchStored(spark, p).count() > 0)
    assertRejectsFormat(p, path, Sq8.Sq8IndexFormat - 1)(
      Sq8.sq8TopKBatchStored(spark, p))
    dropAll(p)
  }

  test("PQ: _vecs stays array<float> through build, append, tombstone, compaction, refit; a format-3 index is refused") {
    val p = "sp_pq"
    val path = lifecycle(p, "vecs")(
      build = path => { Pq.buildPqIndex(seed, p, path, iters = 2); () },
      grow = (b, _) => AnnStream.indexBatchPq(spark, b, 0L, p),
      compact = path => Pq.compactPqIndex(spark, p, path),
      refit = Some(path => { Pq.refitPqIndex(spark, p, path); () }))
    assert(Pq.adcTopKBatchStored(spark, p).count() > 0)
    assertRejectsFormat(p, path, Pq.PqIndexFormat - 1)(
      Pq.adcTopKBatchStored(spark, p))
    dropAll(p)
  }

  test("IVF-PQ: _vecs stays array<float> through build, append, tombstone, compaction, refit; a format-3 index is refused") {
    val p = "sp_ivfpq"
    val path = lifecycle(p, "vecs")(
      build = path => Pq.buildIvfPqIndex(seed, p, path),
      grow = (b, _) => AnnStream.indexBatchIvfPq(spark, b, 0L, p),
      compact = path => Pq.compactIvfPqIndex(spark, p, path),
      refit = Some(path => Pq.refitIvfPqIndex(spark, p, path)))
    assert(Pq.ivfPqTopKBatchStored(spark, p).count() > 0)
    assertRejectsFormat(p, path, Pq.PqIndexFormat - 1)(
      Pq.ivfPqTopKBatchStored(spark, p))
    dropAll(p)
  }

  test("SemDedup: _members stays array<float> through build, append, tombstone, compaction, refit; a format-1 index is refused") {
    val p = "sp_sem"
    val path = lifecycle(p, "members")(
      build = path => SemDedup.buildSemIndex(seed, p, path),
      grow = (b, path) => SemDedupStream.screenBatchSem(spark, b, 0L, p,
        s"${path}_decisions"),
      compact = path => SemDedup.compactSemIndex(spark, p, path),
      refit = Some(path => SemDedup.refitSemIndex(spark, p, path)))
    val probe = emb.filter(col("vec_id") < 20)
    assert(SemDedup.screenSem(spark, probe, p).count() == 20L)
    assertRejectsFormat(p, path, SemDedup.SemIndexFormat - 1)(
      SemDedup.screenSem(spark, probe, p))
    dropAll(p)
  }
}
