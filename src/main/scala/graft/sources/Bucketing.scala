package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Bucketed-table support: pre-shuffling a table into N buckets on its
  * key at write time so every later join/aggregation on that key runs
  * WITHOUT a shuffle — the standard 100 TB lever for repeatedly-joined
  * tables (pay the shuffle once at ingest, never again).
  *
  * Bucketing requires the table catalog (bucket metadata lives there), so
  * these are `saveAsTable` writes with an explicit filesystem `path`.
  *
  * Every write (build, stream append, compaction/refit swap) goes through
  * [[layout]]: one file per bucket per partition directory, data page v2,
  * rows sorted by [[sortColumns]], and the trailing sort columns written
  * without a dictionary, so v2 stores the clustered ids delta-encoded.
  */
object Bucketing {

  /** The bucket spec's sort list, used by the write and by
    * [[reattachBySchema]]'s `SORTED BY`: `keyCol`, then every other
    * non-partition integral scalar column in schema order (ids arrive
    * sorted within each key).
    */
  def sortColumns(schema: StructType, keyCol: String,
      partCols: Seq[String]): Seq[String] =
    keyCol +: schema.fields.toSeq.collect {
      case StructField(n, ByteType | ShortType | IntegerType | LongType, _, _)
        if n != keyCol && !partCols.contains(n) => n
    }

  /** A `saveAsTable` append takes the catalog entry's options, not its
    * own, so [[reattachBySchema]] declares these too. */
  private def writerOptions(sortCols: Seq[String]): Map[String, String] =
    Map("parquet.writer.version" -> "v2") ++
      sortCols.tail.map(c => s"parquet.enable.dictionary#$c" -> "false")

  /** Repartitioning on the key into `nBuckets` is exactly the bucket-id
    * hash, so each task writes ONE file per bucket per partition
    * directory, not one per (source task × bucket). */
  private def layout(df: DataFrame, partCols: Seq[String], nBuckets: Int,
      sortCols: Seq[String]): DataFrameWriter[Row] =
    df.repartition(nBuckets, col(sortCols.head)).write
      .format("parquet")
      .options(writerOptions(sortCols))
      .partitionBy(partCols: _*)
      .bucketBy(nBuckets, sortCols.head)
      .sortBy(sortCols.head, sortCols.tail: _*)

  /** Partitioned + bucketed table: partition pruning on `partCols` AND
    * shuffle-free joins on `keyCol` within the surviving partitions —
    * the layout for an INCREMENTALLY GROWN index (each increment lands
    * as its own `batch_id` partition; readers prune to `batch_id < N`,
    * and the bucket layout still satisfies the join's distribution
    * across all selected partitions). The IVF-PQ index also partitions
    * by `list_id`, so a probe's nProbe list filter prunes whole
    * DIRECTORIES. No `partCols` writes an unpartitioned bucketed table.
    */
  def writeBucketedPartitionedBy(df: DataFrame, tableName: String, path: String,
      partCols: Seq[String], keyCol: String, nBuckets: Int = 8): Unit =
    layout(df, partCols, nBuckets, sortColumns(df.schema, keyCol, partCols))
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .saveAsTable(tableName)

  /** Append one increment (a new `partCol` slice) to a table created by
    * [[writeBucketedPartitionedBy]], re-using the table's own bucket spec
    * from the catalog so appends can never diverge from the layout.
    */
  def appendBucketedPartition(df: DataFrame, tableName: String): Unit = {
    val spark = df.sparkSession
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName))
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$tableName is not bucketed"))
    layout(df, meta.partitionColumnNames, spec.numBuckets, spec.sortColumnNames)
      .mode(SaveMode.Append)
      .saveAsTable(tableName)
  }

  /** Re-register a [[writeBucketedPartitionedBy]] table in a FRESH session
    * catalog from its surviving data files. `saveAsTable` metadata lives
    * in the session catalog: with the default in-memory catalog it dies
    * with the JVM, while the parquet + bucket files under `path` survive
    * — so a restarted process (the crash-replay story) must re-attach
    * before `spark.table` resolves. The declared spec MUST match the
    * original write (bucket hashing is trusted from the catalog, not
    * re-verified from files); the data schema is read back from the
    * files themselves, and `partCols` are (name, SQL type) pairs in the
    * layout's order, DECLARED: directory inference would narrow
    * `batch_id=-1` to INT and diverge from appended data. On a
    * persistent metastore this is unnecessary and a no-op guard
    * (`tableExists`) keeps it idempotent.
    */
  def reattachBy(spark: SparkSession, tableName: String, path: String,
      partCols: Seq[(String, String)], keyCol: String, nBuckets: Int = 8): Unit = {
    if (spark.catalog.tableExists(tableName)) return
    val partNames = partCols.map(_._1).toSet
    val dataFields = spark.read.parquet(path).schema.fields
      .filterNot(f => partNames.contains(f.name))
    reattachBySchema(spark, tableName, path, StructType(dataFields),
      partCols, keyCol, nBuckets)
  }

  /** [[reattachBy]] with the data schema DECLARED instead of inferred
    * from the files — required for tables that may legitimately be empty
    * (a fresh tombstone/monitor table, a fully-tombstoned compaction):
    * an empty directory has nothing to infer from. `schema` may include
    * the partition columns (they are split out by name).
    */
  def reattachBySchema(spark: SparkSession, tableName: String, path: String,
      schema: StructType, partCols: Seq[(String, String)], keyCol: String,
      nBuckets: Int = 8): Unit = {
    if (spark.catalog.tableExists(tableName)) return
    val partNames = partCols.map(_._1)
    val dataCols = schema.fields
      .filterNot(f => partNames.contains(f.name))
      .map(f => s"`${ident(f.name)}` ${f.dataType.sql}").mkString(", ")
    val partDecl = partCols.map { case (n, t) => s"`${ident(n)}` $t" }.mkString(", ")
    val partList = partNames.map(n => s"`${ident(n)}`").mkString(", ")
    val sortCols = sortColumns(schema, keyCol, partNames)
    val opts = writerOptions(sortCols)
      .map { case (k, v) => s"'${sqlStr(k)}' '${sqlStr(v)}'" }.mkString(", ")
    spark.sql(
      s"""CREATE TABLE `${ident(tableName)}` ($dataCols, $partDecl)
         |USING parquet
         |OPTIONS ($opts)
         |PARTITIONED BY ($partList)
         |CLUSTERED BY (`${ident(keyCol)}`)
         |SORTED BY (${sortCols.map(c => s"`${ident(c)}`").mkString(", ")}) INTO $nBuckets BUCKETS
         |LOCATION '${sqlStr(path)}'""".stripMargin)
    // partition discovery: the catalog entry starts empty; recover the
    // existing batch_id=N directories so reads see the standing index
    spark.sql(s"ALTER TABLE `${ident(tableName)}` RECOVER PARTITIONS")
  }

  /** Escape for a single-quoted SQL string literal — a path containing a
    * quote broke (and could inject into) the interpolated CREATE TABLE
    * statements (advisor r12).
    */
  private def sqlStr(s: String): String = s.replace("'", "''")

  /** Escape for a backtick-quoted SQL identifier. */
  private def ident(s: String): String = s.replace("`", "``")

  /** Register a PLAIN (unbucketed, unpartitioned) parquet table at `path`
    * if absent — the meta-table reattach every stored index uses, with
    * the same quoting discipline as [[reattachBy]].
    */
  def attachPlain(spark: SparkSession, tableName: String, path: String): Unit =
    if (!spark.catalog.tableExists(tableName))
      spark.sql(s"CREATE TABLE `${ident(tableName)}` USING parquet " +
        s"LOCATION '${sqlStr(path)}'")
}
