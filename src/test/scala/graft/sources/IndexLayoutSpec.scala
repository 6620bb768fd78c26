package graft.sources

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.SparkTestSession.{spark, sf0001}
import graft.operators.{IndexOps, Similarity, Sq8}
import graft.streaming.AnnStream
import java.nio.file.Files

/** The one stored-index layout [[Bucketing]] writes, checked on disk after
  * an LSH build, an SQ8 build, a stream append, a compaction and an append
  * to the table the compaction re-registered: at most `nBuckets` part
  * files per partition directory, only v2 data pages, the bucket spec
  * sorting by [[Bucketing.sortColumns]], and every trailing sort column
  * stored DELTA_BINARY_PACKED (no dictionary).
  */
class IndexLayoutSpec extends AnyFunSuite {

  private lazy val emb = graft.Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding"))

  private def partFiles(dir: String): Seq[Path] = {
    val root = new Path(dir)
    val it = root.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
  }

  /** column -> (data-page encodings, every page v2) over the file's row groups */
  private def footer(f: Path): Map[String, (Set[Encoding], Boolean)] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(f, spark.sessionState.newHadoopConf()))
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toDotString).map { case (c, chunks) =>
        c -> (chunks.flatMap(_.getEncodingStats.getDataEncodings.asScala).toSet,
          chunks.forall(_.getEncodingStats.usesV2Pages))
      }
    finally reader.close()
  }

  private def assertLayout(table: String, dir: String, step: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    val spec = meta.bucketSpec.get
    assert(spec.sortColumnNames == Bucketing.sortColumns(spark.table(table).schema,
      spec.bucketColumnNames.head, meta.partitionColumnNames), s"$step: $table $spec")
    val files = partFiles(dir)
    files.groupBy(_.getParent).foreach { case (d, fs) =>
      assert(fs.size <= spec.numBuckets, s"$step: $d holds ${fs.size} files")
    }
    files.foreach { f =>
      val cols = footer(f)
      assert(cols.values.forall(_._2), s"$step: $f has v1 pages: $cols")
      spec.sortColumnNames.tail.foreach(c => assert(
        cols(c)._1 == Set(Encoding.DELTA_BINARY_PACKED), s"$step: $f $c: ${cols(c)}"))
    }
  }

  test("stored-index tables land one file per bucket, v2 pages, ids clustered and delta-encoded") {
    val base = Files.createTempDirectory("graft_layout")
    val (ann, sq8) = ("il_ann", "il_sq8")
    def checkAnn(step: String): Unit = Seq("buckets", "vecs", "tombstones")
      .foreach(t => assertLayout(s"${ann}_$t", s"$base/ann/$t", step))
    Similarity.buildAnnIndex(emb.filter(col("vec_id") >= 100), ann, s"$base/ann")
    Sq8.buildSq8Index(emb, sq8, s"$base/sq8")
    Seq("codes", "vecs").foreach(t => assertLayout(s"${sq8}_$t", s"$base/sq8/$t", "sq8 build"))
    checkAnn("ann build")

    // the id arrives sorted within each key: the LSH buckets table sorts
    // (bucket, vec_id, table), and one part file reads back in that order
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier(s"${ann}_buckets"))
      .bucketSpec.get.sortColumnNames == Seq("bucket", "vec_id", "table"))
    val file = partFiles(s"$base/ann/buckets").head.toString
    val rows = spark.read.parquet(file).select("bucket", "vec_id", "table").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows.nonEmpty && rows == rows.sorted, s"$file is not clustered")

    AnnStream.indexBatchAnn(spark, emb.filter(col("vec_id") < 50), 0L, ann)
    IndexOps.tombstone(spark, ann,
      emb.filter(pmod(col("vec_id"), lit(9)) === 3).select(col("vec_id")), 0L)
    checkAnn("stream append")
    Similarity.compactAnnIndex(spark, ann, s"$base/ann")
    checkAnn("compaction")
    // the compaction re-registered the tables from their files: an append
    // onto that catalog entry must keep the same layout
    AnnStream.indexBatchAnn(spark, emb.filter(col("vec_id") >= 50 && col("vec_id") < 100), 2L, ann)
    checkAnn("append after compaction")
    assert(IndexOps.batchIdsOf(spark, s"${ann}_vecs") == Set(0L, 2L))
    assert(Similarity.annTopKBatchStored(spark, ann).count() > 0)

    Seq("buckets", "vecs", "tombstones", "meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${ann}_$t"))
    Seq("codes", "vecs", "tombstones", "monitor", "meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${sq8}_$t"))
  }
}
