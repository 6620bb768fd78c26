package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.pipeline.{DqChecks, DqThresholds}

/** The consumer the reference omits (SURVEY §2.7 ST2–ST4): a genuine
  * Structured Streaming job over the CSV inbox that `InboxGenerator` (or the
  * reference's `simulate_stream.py`) fills.
  *
  *  - ST2: file source with an explicit schema (a stream can't infer), the
  *    same 3-column-plus shape the reference's batches carry.
  *  - ST3: event-time processing — watermark, tumbling / sliding /
  *    session windows. Late rows beyond the watermark are dropped from
  *    append-mode output, which is the semantics a 100 TB ingest needs to
  *    bound state.
  *  - ST4: streaming DQ via `foreachBatch`, reusing the batch `DqChecks`
  *    operator verbatim — one DQ definition for both planes.
  *
  * `Trigger.AvailableNow` drains whatever is in the inbox then stops, which
  * makes every entry point below usable both as a real stream and as a
  * deterministic test/batch-backfill run.
  */
object StreamIngest {

  /** Default the streaming state store to RocksDB with changelog
    * checkpointing — the 100 TB configuration. The HDFS-backed default
    * keeps every key's state in executor HEAP maps: a dedup or session
    * operator over web-scale key cardinality OOMs long before storage
    * does, while RocksDB spills to local SSD and checkpoints per-batch
    * CHANGELOGS instead of full snapshots. Applied by every stateful
    * entry point below (the conf is read at query START, so setting it
    * at frame-construction time is early enough); escape hatch
    * `spark.graft.streaming.stateStore=hdfs` restores the built-in
    * provider (e.g. for tiny-state diagnostics). transformWithState
    * requires the RocksDB provider anyway (`StatefulOps`) — this makes
    * the rest of the stateful family consistent with it.
    *
    * A session whose provider is already NON-DEFAULT is left untouched:
    * someone who set a third-party or custom provider through the
    * standard Spark conf must not have it silently replaced by a helper
    * they called for windowing. (An EXPLICIT choice of the HDFS default
    * is indistinguishable from 'unset' through the conf API — that one
    * case uses the graft escape hatch above.)
    */
  def applyStateStoreDefaults(spark: SparkSession): Unit = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val current = spark.conf.getOption(providerKey)
    val isBuiltInDefault = current.forall(_.endsWith("HDFSBackedStateStoreProvider"))
    if (isBuiltInDefault &&
      !spark.conf.getOption("spark.graft.streaming.stateStore").contains("hdfs")) {
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    }
  }

  /** Schema of inbox CSV batches (event_id + the reference's 3-column
    * projection shape, `simulate_stream.py:17-19`).
    */
  val inboxSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", StringType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** ST2: streaming scan of the inbox directory. Every field is read as a
    * STRING and typed here with `try_cast` (`ts` with `try_to_timestamp`),
    * so whether a line is corrupt never depends on which columns the
    * consumer reads: the CSV parser converts only the columns a query
    * requires, so with typed read columns a line malformed only in an
    * unread field (say `event_id` under `tumblingCounts`) parsed clean.
    * `_corrupt_record` is set for a structural fault (PERMISSIVE parsing
    * keeps the raw text) and for a line whose non-empty field fails its
    * cast (the fields re-joined with commas); an empty field is NULL, not
    * corrupt. Callers route `_corrupt_record IS NOT NULL` rows to a
    * quarantine sink (the streaming face of the DQ gate).
    */
  def readInbox(spark: SparkSession, inbox: String): DataFrame = {
    val raw = spark.readStream
      .schema(StructType(inboxSchema.map(_.copy(dataType = StringType)))
        .add("_corrupt_record", StringType))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(inbox)
    // try_* forms, not cast/to_timestamp: under Spark 4's default ANSI
    // mode an unparseable value would otherwise throw and kill the stream
    val typed = inboxSchema.fields.toSeq.map { f =>
      f.name -> (f.dataType match {
        case StringType if f.name == "ts" =>
          try_to_timestamp(col("ts"), lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))
        case StringType => col(f.name)
        case t => col(f.name).try_cast(t)
      })
    }
    val castFailed = typed.map { case (n, t) =>
      col(n).isNotNull && col(n) =!= "" && t.isNull
    }.reduce(_ || _)
    val line = concat_ws(",", inboxSchema.fieldNames.toSeq.map(n =>
      coalesce(col(n), lit(""))): _*)
    raw.select(typed.map { case (n, t) => t.as(n) } :+
      coalesce(col("_corrupt_record"), when(castFailed, line))
        .as("_corrupt_record"): _*)
  }

  /** Split a [[readInbox]] stream into (clean, quarantine). The
    * quarantine side keeps `event_id` (NULL when it was the malformed
    * field) alongside the raw line.
    */
  def quarantineCorrupt(df: DataFrame): (DataFrame, DataFrame) = (
    df.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
    df.filter(col("_corrupt_record").isNotNull)
      .select(col("event_id"), col("_corrupt_record").as("raw_line")))

  /** ST3: tumbling event-time window aggregation with a watermark. */
  def tumblingCounts(events: DataFrame,
      watermark: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame = {
    applyStateStoreDefaults(events.sparkSession)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** ST3: sliding window variant. */
  def slidingCounts(events: DataFrame,
      watermark: String = "10 minutes",
      window_ : String = "1 hour",
      slide: String = "30 minutes"): DataFrame = {
    applyStateStoreDefaults(events.sparkSession)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"))
  }

  /** ST3: session windows per user (gap-based). */
  def userSessions(events: DataFrame,
      watermark: String = "10 minutes",
      gap: String = "5 minutes"): DataFrame = {
    applyStateStoreDefaults(events.sparkSession)
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))
  }

  /** Streaming exact dedup bounded by the watermark (the streaming face of
    * the LLM dedup operator family).
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    applyStateStoreDefaults(events.sparkSession)
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** Stream-stream inner join with watermarks and a time-range condition:
    * pair each purchase with error events from the same user within the
    * preceding hour. Both sides' state is bounded by their watermarks plus
    * the interval — the canonical bounded-state stream join shape.
    */
  def purchasesWithRecentErrors(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    applyStateStoreDefaults(events.sparkSession)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", watermark)
    purchases.join(errors,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("e_ts") <= col("p_ts"))
  }

  /** Stream-stream LEFT OUTER join: every purchase is emitted, with its
    * same-user prior-hour error when one exists and NULL error columns
    * otherwise. The outer (null-padded) row for an unmatched purchase can
    * only be emitted once the watermark has passed the end of its join
    * window — until then a matching error could still arrive — so
    * unmatched results trail the inner ones by watermark + interval; rows
    * still in state when the query stops are never emitted. Same bounded
    * state as the inner form: both sides evict by watermark + interval.
    */
  def purchasesWithErrorOutcome(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    applyStateStoreDefaults(events.sparkSession)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", watermark)
    purchases.join(errors,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("e_ts") <= col("p_ts"),
      "leftOuter")
  }

  /** Stream-static enrichment join: each micro-batch joins the stream
    * against a static (batch) dimension table. Stateless — no watermark
    * or state store involved, results append immediately; the static side
    * is re-planned per micro-batch (picking up dim-table file changes) and
    * explicitly broadcast so the stream side never shuffles. LEFT join so
    * events with no dimension row survive with NULL attributes (the DQ
    * orphan check q66 counts them downstream). At 100 TB of stream the
    * dim stays broadcast-sized after column pruning; a genuinely huge dim
    * flips this to a shuffle join on the stream side — the broadcast hint
    * is the knob.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** Drain the inbox into a parquet sink via AvailableNow. */
  def drainToParquet(df: DataFrame, outPath: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** ST4: per-micro-batch DQ reusing the batch rules; summaries land in
    * `artifactsDir` exactly like the batch artifact (`dq_checks.py:80-99`).
    */
  def drainWithDq(df: DataFrame, artifactsDir: String, checkpoint: String,
      thresholds: DqThresholds = DqThresholds()): StreamingQuery = {
    val rules = Seq(
      DqChecks.DqRule("negative_or_null_value",
        col("value") < 0 || col("value").isNull, thresholds.negativeValues),
      DqChecks.DqRule("null_user", col("user_id").isNull, thresholds.earlyDropoff),
      DqChecks.DqRule("outlier_value", col("value") > 400, thresholds.longDistance),
      DqChecks.DqRule("error_events", col("event_type") === "error", thresholds.invalidPassengers))
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val report = DqChecks.evaluate(batch, rules)
        DqChecks.writeArtifact(report, s"$artifactsDir/batch_$batchId")
        (): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
