package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestSession.{spark, sf0001}
import java.nio.file.Files
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("inbox generator: 5 deterministic batches partition the events table") {
    val inbox = tmp("graft_inbox")
    val ev = graft.Tables.events(spark, sf0001)
    val files = InboxGenerator.generate(ev, inbox, n = 5)
    assert(files.size == 5)
    assert(files.forall(f => new java.io.File(f).isFile))
    // batches are a partition of the input, keyed deterministically
    val back = spark.read.option("header", "true")
      .schema(StreamIngest.inboxSchema).csv(inbox)
    assert(back.count() == 1000L)
    assert(back.select("event_id").distinct().count() == 1000L)
    // regenerating yields byte-identical batch contents (W1 determinism fix)
    val inbox2 = tmp("graft_inbox2")
    InboxGenerator.generate(ev, inbox2, n = 5)
    val a = Files.readAllBytes(new java.io.File(s"$inbox/batch_2.csv").toPath)
    val b = Files.readAllBytes(new java.io.File(s"$inbox2/batch_2.csv").toPath)
    assert(java.util.Arrays.equals(a, b))
  }

  test("stream consumer drains inbox; windowed agg matches batch computation") {
    val inbox = tmp("graft_inbox_c")
    val ev = graft.Tables.events(spark, sf0001)
    InboxGenerator.generate(ev, inbox, n = 5)

    val out = tmp("graft_stream_out")
    val q = StreamIngest.drainToParquet(
      StreamIngest.tumblingCounts(StreamIngest.readInbox(spark, inbox)),
      s"$out/data", s"$out/ckpt")
    q.awaitTermination()

    val streamed = spark.read.parquet(s"$out/data")
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // watermark may hold back the final window in append mode; every emitted
    // window must match its batch twin exactly
    val joined = streamed.as("s").join(batch.as("b"),
      col("s.bucket").cast("string") === col("b.bucket").cast("string") &&
        col("s.event_type") === col("b.event_type"))
    assert(streamed.count() > 0)
    assert(joined.filter(col("s.n") =!= col("b.n")).count() == 0)
    assert(joined.count() == streamed.count())
  }

  test("watermark drops rows later than the threshold (append mode)") {
    import graft.SparkTestSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamIngest.tumblingCounts(df, watermark = "10 minutes", window_ = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()

    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: rows at 10:00-10:09, then an event at 11:00 advances the
    // watermark to 10:50 → the 10:00 window can close
    mem.addData((t("2024-01-01 10:00:00"), "a", 1.0), (t("2024-01-01 10:05:00"), "a", 1.0))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 11:00:00"), "a", 1.0))
    q.processAllAvailable()
    // batch 3: a LATE row for the closed 10:00 window — must be dropped
    mem.addData((t("2024-01-01 10:01:00"), "a", 99.0))
    q.processAllAvailable()
    val rows = spark.table("wm_test").collect()
    q.stop()
    val w10 = rows.filter(_.getAs[Timestamp]("bucket") == t("2024-01-01 10:00:00"))
    assert(w10.length == 1)
    assert(w10.head.getAs[Long]("n") == 2L) // late row NOT counted
  }

  test("session windows split on gap") {
    import graft.SparkTestSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value")
      .withColumn("event_type", lit("x")).withColumn("event_id", col("user_id"))
    val q = StreamIngest.userSessions(df, watermark = "1 minute", gap = "5 minutes")
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 10:00:00"), 1L, 1.0), (t("2024-01-01 10:02:00"), 1L, 1.0),
      (t("2024-01-01 10:20:00"), 1L, 1.0)) // >5 min gap → second session
    q.processAllAvailable()
    mem.addData((t("2024-01-01 12:00:00"), 2L, 1.0)) // advance watermark far
    q.processAllAvailable()
    val sessions = spark.table("sess_test").filter(col("user_id") === 1).collect()
    q.stop()
    assert(sessions.length == 2)
    assert(sessions.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
  }

  test("streaming dedup within watermark removes duplicate event_ids") {
    import graft.SparkTestSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "value")
    val q = StreamIngest.dedupWithinWatermark(df, "10 minutes")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData((1L, t("2024-01-01 10:00:00"), 1.0), (2L, t("2024-01-01 10:00:30"), 2.0))
    q.processAllAvailable()
    mem.addData((1L, t("2024-01-01 10:01:00"), 1.0)) // duplicate within watermark
    q.processAllAvailable()
    val n = spark.table("dedup_test").count()
    q.stop()
    assert(n == 2L)
  }

  test("malformed inbox lines are quarantined, not fatal (PERMISSIVE + corrupt column)") {
    val inbox = tmp("graft_inbox_bad")
    val ev = graft.Tables.events(spark, sf0001).limit(50)
    InboxGenerator.generate(ev, inbox, n = 1)
    // corrupt batch: a schema-violating line among valid ones
    Files.writeString(new java.io.File(s"$inbox/batch_bad.csv").toPath,
      "event_id,ts,user_id,event_type,value\n" +
        "9001,2024-01-09 10:00:00.000000,5,view,1.5\n" +
        "not_a_number,garbage,xx,oops,NaNope\n" +
        "9002,2024-01-09 10:01:00.000000,6,click,2.5\n")
    val (clean, bad) = StreamIngest.quarantineCorrupt(StreamIngest.readInbox(spark, inbox))
    val out = tmp("graft_quarantine")
    val q1 = clean.writeStream.format("parquet")
      .option("path", s"$out/clean").option("checkpointLocation", s"$out/c1")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val q2 = bad.writeStream.format("parquet")
      .option("path", s"$out/bad").option("checkpointLocation", s"$out/c2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q1.awaitTermination(); q2.awaitTermination()
    assert(spark.read.parquet(s"$out/clean").count() == 52L) // 50 + 2 valid
    val badRows = spark.read.parquet(s"$out/bad").collect()
    assert(badRows.length == 1)
    assert(badRows.head.getAs[String]("raw_line").startsWith("not_a_number"))
  }

  test("a line malformed only in event_id is quarantined whichever columns the clean side reads") {
    val inbox = tmp("graft_inbox_eid")
    Files.writeString(new java.io.File(s"$inbox/batch_eid.csv").toPath,
      "event_id,ts,user_id,event_type,value\n" +
        "9001,2024-01-09 10:00:00.000000,5,view,1.5\n" +
        "e9002,2024-01-09 10:01:00.000000,6,view,1.00\n" +
        "9003,2024-01-09 10:02:00.000000,,click,\n")
    val out = tmp("graft_quarantine_eid")
    def drained(df: org.apache.spark.sql.DataFrame, name: String): Array[org.apache.spark.sql.Row] = {
      df.writeStream.format("parquet")
        .option("path", s"$out/$name").option("checkpointLocation", s"$out/ck_$name")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
      spark.read.parquet(s"$out/$name").collect()
    }
    val (clean, bad) = StreamIngest.quarantineCorrupt(StreamIngest.readInbox(spark, inbox))
    // the projection tumblingCounts reads never touches event_id
    assert(drained(clean.select("ts", "event_type", "value"), "narrow").length == 2)
    val wide = drained(clean, "wide")
    assert(wide.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(9001L, 9003L))
    // empty fields are NULL, not corrupt
    val r3 = wide.find(_.getAs[Long]("event_id") == 9003L).get
    assert(r3.isNullAt(r3.fieldIndex("user_id")) && r3.isNullAt(r3.fieldIndex("value")))
    val q = drained(bad, "bad")
    assert(q.length == 1)
    assert(q.head.isNullAt(q.head.fieldIndex("event_id")))
    assert(q.head.getAs[String]("raw_line").startsWith("e9002,"))
  }

  test("stream-stream join pairs purchases with same-user errors in the prior hour") {
    import graft.SparkTestSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val q = StreamIngest.purchasesWithRecentErrors(df)
      .writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData(
      (1L, t("2024-01-01 10:00:00"), 7L, "error"),
      (2L, t("2024-01-01 10:30:00"), 7L, "purchase"),  // pairs with error 1
      (3L, t("2024-01-01 09:00:00"), 7L, "error"),     // >1h before purchase 2 → no pair
      (4L, t("2024-01-01 10:20:00"), 8L, "purchase"))  // other user, no error → no row
    q.processAllAvailable()
    // advance both watermarks so results finalize
    mem.addData((9L, t("2024-01-01 13:00:00"), 1L, "view"))
    q.processAllAvailable()
    val rows = spark.table("ss_join_test")
      .select("p_id", "e_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    assert(rows.toSet == Set((2L, 1L)))
  }

  test("stream-stream LEFT OUTER join emits null-padded rows for error-free purchases") {
    import graft.SparkTestSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val q = StreamIngest.purchasesWithErrorOutcome(df)
      .writeStream.format("memory").queryName("ss_louter_test")
      .outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData(
      (1L, t("2024-01-01 10:00:00"), 7L, "error"),
      (2L, t("2024-01-01 10:30:00"), 7L, "purchase"),  // pairs with error 1
      (4L, t("2024-01-01 10:20:00"), 8L, "purchase"))  // no error → null-padded
    q.processAllAvailable()
    // push the watermark far past purchase 4's join-window end so its
    // outer row finalizes (outer rows are withheld until no matching
    // error can still arrive). Two subtleties: the sentinels must
    // SURVIVE the purchase/error filters (a "view" row is dropped
    // before the EventTimeWatermark node and advances nothing), and the
    // watermark only updates at the END of the sentinel batch — state
    // eviction + outer-row emission run in the NEXT batch, so a second
    // nudge batch is required
    mem.addData(
      (9L, t("2024-01-01 13:00:00"), 1L, "purchase"),
      (10L, t("2024-01-01 13:00:00"), 2L, "error"))
    q.processAllAvailable()
    mem.addData(
      (11L, t("2024-01-01 13:00:05"), 1L, "purchase"),
      (12L, t("2024-01-01 13:00:05"), 2L, "error"))
    q.processAllAvailable()
    val rows = spark.table("ss_louter_test")
      .filter(col("p_id") <= 4)
      .select("p_id", "e_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    q.stop()
    assert(rows.toSet == Set((2L, Some(1L)), (4L, None)))
  }

  test("stream-static enrichment join attaches dim attributes, null for orphans") {
    import graft.SparkTestSession.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((7L, "alice", "BUILDING"), (8L, "bob", "MACHINERY"))
      .toDF("d_user", "d_name", "d_segment")
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val q = StreamIngest.enrichWithDim(df, dim, "user_id", "d_user")
      .writeStream.format("memory").queryName("ss_enrich_test")
      .outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData(
      (1L, t("2024-01-01 10:00:00"), 7L, "view"),
      (2L, t("2024-01-01 10:01:00"), 9L, "view")) // no dim row → nulls
    q.processAllAvailable()
    val rows = spark.table("ss_enrich_test")
      .select("event_id", "d_name").collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("d_name"))))
    q.stop()
    assert(rows.toSet == Set((1L, Some("alice")), (2L, None)))
  }

  test("streaming DQ via foreachBatch writes per-batch artifacts") {
    val inbox = tmp("graft_inbox_dq")
    val ev = graft.Tables.events(spark, sf0001)
    InboxGenerator.generate(ev, inbox, n = 3)
    val base = tmp("graft_stream_dq")
    val q = StreamIngest.drainWithDq(
      StreamIngest.readInbox(spark, inbox), s"$base/artifacts", s"$base/ckpt")
    q.awaitTermination()
    val arts = new java.io.File(s"$base/artifacts").listFiles()
    assert(arts != null && arts.nonEmpty)
    val body = new String(Files.readAllBytes(
      arts.head.listFiles().head.toPath))
    assert(body.contains("error_events"))
  }

  test("checkpoint recovery: stopped query restarts from its checkpoint exactly-once") {
    // The production property the reference's CSV-drop simulation
    // (simulate_stream.py) never exercises: a query that stops after some
    // batches and is RESTARTED against the same checkpoint directory must
    // resume where it left off — new files processed once, already-seen
    // files never reprocessed, nothing dropped. The file source records
    // consumed files in the checkpoint; the parquet sink's _spark_metadata
    // commits make the output transactional across the restart.
    val staging = tmp("graft_ckpt_staging")
    val inbox = tmp("graft_ckpt_inbox")
    val ev = graft.Tables.events(spark, sf0001)
    val files = InboxGenerator.generate(ev, staging, n = 4)
    def publish(fs: Seq[String]): Unit = fs.foreach { f =>
      val p = new java.io.File(f).toPath
      Files.copy(p, new java.io.File(inbox, p.getFileName.toString).toPath)
    }
    val out = tmp("graft_ckpt_out")
    def drain(): Unit =
      StreamIngest.drainToParquet(
        StreamIngest.readInbox(spark, inbox), s"$out/data", s"$out/ckpt")
        .awaitTermination()
    def seenIds(): Seq[Long] = spark.read.parquet(s"$out/data")
      .select("event_id").collect().map(_.getLong(0)).toSeq

    publish(files.take(2))
    drain() // run 1: first two batches, then the query stops
    val afterRun1 = seenIds()
    assert(afterRun1.nonEmpty && afterRun1.size < 1000,
      "run 1 must process a strict subset of the events")
    assert(afterRun1.distinct.size == afterRun1.size, "run 1 emitted duplicates")

    publish(files.drop(2))
    drain() // run 2: restart from the same checkpoint picks up ONLY the new files
    val afterRun2 = seenIds()
    assert(afterRun2.size == 1000, s"resume dropped rows: ${afterRun2.size}")
    assert(afterRun2.distinct.size == 1000, "resume reprocessed already-seen files")
    assert(afterRun2.toSet == ev.select("event_id").collect().map(_.getLong(0)).toSet,
      "streamed ids diverge from the batch table")

    drain() // run 3: nothing new — restart must be a no-op
    assert(seenIds().size == 1000, "idle restart changed the output")
  }

  test("streaming incremental dedup: standing corpus grows, later batches catch earlier keeps") {
    import graft.streaming.DedupStream
    val inbox = tmp("graft_dedup_inbox")
    val base = tmp("graft_dedup_state")
    val (corpusDir, decisionsDir, ckpt) =
      (s"$base/corpus", s"$base/decisions", s"$base/ckpt")
    val twenty = (1 to 20).map(i => s"w$i").mkString(" ")

    import graft.SparkTestSession.implicits._
    DedupStream.seedCorpus(
      Seq((1L, twenty), (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      corpusDir)

    def publish(name: String, rows: Seq[(Long, String)]): Unit = {
      val body = "doc_id,text\n" + rows.map { case (id, t) => s"$id,$t" }.mkString("\n")
      Files.write(new java.io.File(inbox, name).toPath, body.getBytes)
      ()
    }
    def screen(): Unit = DedupStream.screen(
      DedupStream.readDocs(spark, inbox), corpusDir, decisionsDir, ckpt)
      .awaitTermination()
    def decisions(): Map[Long, (Option[Long], Long)] =
      spark.read.parquet(decisionsDir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((Option(r.getAs[Any]("exact_dup_of")).map(_.asInstanceOf[Long]),
            r.getAs[Long]("keep")))).toMap

    publish("b1.csv", Seq(10L -> twenty, 11L -> "totally fresh novel content here"))
    screen() // batch 1: 10 dups the seed corpus, 11 is kept
    val d1 = decisions()
    assert(d1(10L) == ((Some(1L), 0L)))
    assert(d1(11L) == ((None, 1L)))

    publish("b2.csv", Seq(
      12L -> "totally fresh novel content here", // exact dup of batch-1 KEEP 11
      13L -> "yet another clean document body",
      14L -> "alpha beta gamma delta epsilon")) // exact dup of seed corpus 2
    screen() // batch 2 restarts from the checkpoint, sees the grown corpus
    val d2 = decisions()
    assert(d2(12L) == ((Some(11L), 0L)), "cross-batch dup not caught against the grown corpus")
    assert(d2(13L) == ((None, 1L)))
    assert(d2(14L) == ((Some(2L), 0L)))

    // standing corpus = seed + every kept doc, exactly once
    val corpusIds = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(corpusIds == Seq(1L, 2L, 11L, 13L))

    screen() // idle restart: no new files, nothing changes
    assert(decisions().keySet == Set(10L, 11L, 12L, 13L, 14L))
    assert(spark.read.parquet(corpusDir).count() == 4)

    // crash-replay: foreachBatch is at-least-once, so re-running batch 2's
    // body with its ORIGINAL batch id (after its corpus partition was
    // already written) must reproduce identical decisions and corpus —
    // in particular doc 13 must NOT match its own earlier keep and vanish
    val b2BatchId = spark.read.parquet(decisionsDir)
      .filter(col("doc_id") === 13L).select("batch_id")
      .collect().head.getInt(0).toLong
    val before = decisions()
    DedupStream.screenBatch(spark,
      Seq(12L -> "totally fresh novel content here",
        13L -> "yet another clean document body",
        14L -> "alpha beta gamma delta epsilon").toDF("doc_id", "text"),
      b2BatchId, corpusDir, decisionsDir)
    assert(decisions() == before, "replay changed the decisions")
    assert(spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 11L, 13L), "replay changed the standing corpus")
  }

  test("stored-index streaming dedup: same decisions as the corpus-rescan screen, O(delta) reads, replay-safe") {
    import graft.streaming.DedupStream
    import graft.SparkTestSession.implicits._
    val inbox = tmp("graft_sidx_inbox")
    val base = tmp("graft_sidx_state")
    val decisionsDir = s"$base/decisions"
    val twenty = (1 to 20).map(i => s"w$i").mkString(" ")
    // 19 shared tokens + 1 changed ⇒ J = 17/19 ≈ 0.895: a NEAR dup the
    // exact arm cannot catch — proves the postings tables actually screen
    val nearTwin = (1 to 19).map(i => s"w$i").mkString(" ") + " zz"
    val seed = Seq((1L, twenty), (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    DedupStream.seedCorpusIndex(seed, "sidx", s"$base/index", nBuckets = 4)
    try {
      def publish(name: String, rows: Seq[(Long, String)]): Unit = {
        val body = "doc_id,text\n" +
          rows.map { case (id, t) => s"$id,$t" }.mkString("\n")
        Files.write(new java.io.File(inbox, name).toPath, body.getBytes)
        ()
      }
      def screen(): Unit = DedupStream.screenStored(
        DedupStream.readDocs(spark, inbox), "sidx", decisionsDir, s"$base/ckpt")
        .awaitTermination()
      def decisions(): Map[Long, (Option[Long], Option[Long], Long)] =
        spark.read.parquet(decisionsDir).collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((Option(r.getAs[Any]("exact_dup_of")).map(_.asInstanceOf[Long]),
              Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]),
              r.getAs[Long]("keep")))).toMap

      publish("b1.csv", Seq(10L -> twenty, 11L -> "totally fresh novel content here"))
      screen()
      val d1 = decisions()
      assert(d1(10L) == ((Some(1L), Some(1L), 0L)))
      assert(d1(11L) == ((None, None, 1L)))

      publish("b2.csv", Seq(
        12L -> "totally fresh novel content here", // exact dup of batch-1 keep 11
        13L -> nearTwin,                           // NEAR dup of seed 1 (index join)
        14L -> "some wholly unrelated words here"))
      screen()
      val d2 = decisions()
      assert(d2(12L) == ((Some(11L), Some(11L), 0L)),
        "cross-batch dup not caught against the grown index")
      assert(d2(13L) == ((None, Some(1L), 0L)),
        "near dup not caught by the stored postings join")
      assert(d2(14L) == ((None, None, 1L)))

      // index holds exactly seed + kept docs, each once
      val indexed = spark.table("sidx_sizes")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(indexed == Seq(1L, 2L, 11L, 14L), s"index docs: $indexed")

      // the stored screen must MATCH the corpus-rescan screen on the same
      // batch: replay batch 2 through incrementalDedup against the
      // equivalent text corpus
      val textCorpus = Seq((1L, twenty),
        (2L, "alpha beta gamma delta epsilon"),
        (11L, "totally fresh novel content here")).toDF("doc_id", "text")
      val b2 = Seq(12L -> "totally fresh novel content here",
        13L -> nearTwin, 14L -> "some wholly unrelated words here")
        .toDF("doc_id", "text")
      val rescan = graft.operators.Dedup.incrementalDedup(b2, textCorpus, 0.8)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((Option(r.getAs[Any]("exact_dup_of")).map(_.asInstanceOf[Long]),
            Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]),
            r.getAs[Long]("keep")))).toMap
      assert(Map(12L -> d2(12L), 13L -> d2(13L), 14L -> d2(14L)) == rescan,
        "stored-index decisions diverge from the corpus-rescan operator")

      // crash-replay: re-running batch 2's body with its original id must
      // change NOTHING — decisions pruned to batch_id < 2 and the index
      // append skipped because the partition already exists
      val b2Id = spark.read.parquet(decisionsDir)
        .filter(col("doc_id") === 13L).select("batch_id")
        .collect().head.getInt(0).toLong
      val before = decisions()
      val beforeIdx = spark.table("sidx_postings").count()
      DedupStream.screenBatchStored(spark, b2, b2Id, "sidx", decisionsDir)
      assert(decisions() == before, "replay changed the decisions")
      assert(spark.table("sidx_postings").count() == beforeIdx,
        "replay duplicated index postings")

      screen() // idle restart: nothing changes
      assert(decisions() == before)

      // PARTIAL-APPEND crash: three appends are three commits, and the
      // JVM can die between them. Stage the stranded state directly —
      // batch 7's postings slice landed, sizes/exact did not — and
      // replay: the per-table probe must fill EXACTLY the missing
      // tables (a postings-only probe would skip all three and strand
      // the index forever).
      val b7 = Seq(15L -> "fifteen carries entirely new words")
        .toDF("doc_id", "text")
      val (p7, _, _) = DedupStream.indexSlices(b7, 7L, 3)
      graft.sources.Bucketing.appendBucketedPartition(p7, "sidx_postings")
      val postings7 = spark.table("sidx_postings")
        .filter(col("batch_id") === 7L).count()
      assert(postings7 > 0)
      DedupStream.screenBatchStored(spark, b7, 7L, "sidx", decisionsDir)
      assert(spark.table("sidx_postings").filter(col("batch_id") === 7L)
        .count() == postings7, "replay duplicated the landed postings slice")
      assert(spark.table("sidx_sizes").filter(col("batch_id") === 7L)
        .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(15L),
        "replay did not fill the missing sizes slice")
      assert(spark.table("sidx_exact").filter(col("batch_id") === 7L)
        .count() == 1L, "replay did not fill the missing exact slice")
      assert(decisions()(15L) == ((None, None, 1L)))

      // JVM-RESTART story: saveAsTable registrations live in the session
      // catalog and die with the process under the default in-memory
      // catalog, while the bucketed files survive — reattach must
      // restore table resolution over the existing data (partitions
      // recovered, appends still honoring the bucket spec)
      val sizesBefore = spark.table("sidx_sizes")
        .collect().map(_.toString).sorted.toSeq
      for (t <- Seq("sidx_postings", "sidx_sizes", "sidx_exact"))
        spark.sql(s"DROP TABLE $t") // external tables: files survive
      DedupStream.reattachCorpusIndex(spark, "sidx", s"$base/index", nBuckets = 4)
      assert(spark.table("sidx_sizes").collect().map(_.toString).sorted.toSeq
        == sizesBefore, "reattach lost or altered index content")
      // the reattached catalog entry still drives correct screening AND
      // accepts bucket-spec appends (spec read back from the catalog)
      val b8 = Seq(16L -> nearTwin).toDF("doc_id", "text") // near dup of seed 1
      DedupStream.screenBatchStored(spark, b8, 8L, "sidx", decisionsDir)
      assert(decisions()(16L) == ((None, Some(1L), 0L)),
        "reattached index no longer screens near dups")
    } finally {
      for (t <- Seq("sidx_postings", "sidx_sizes", "sidx_exact"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("streaming PSI drift monitor: in-distribution batch passes, shifted batch alerts, replay idempotent") {
    import org.apache.spark.sql.types._
    val (lo, hi, nB, bar) = (0.0, 500.0, 20, 250000L)
    // reference window: uniform over [0, 500)
    val refVals = (0 until 1000).map(i => (i * 7 % 500).toDouble)
    val b1Vals = (0 until 100).map(i => (i * 37 % 500).toDouble) // same shape
    val b2Vals = (0 until 100).map(i => (450 + i % 50).toDouble) // collapsed tail
    import graft.SparkTestSession.implicits._
    val ref = refVals.toDF("value")
    // exact driver-side recount of the smoothed-PSI formula (q141's test)
    def psiOf(cur: Seq[Double]): Long = {
      val w = (hi - lo) / nB
      def cnt(xs: Seq[Double]) = xs.groupBy(v =>
        math.min(math.max(math.floor((v - lo) / w).toLong, 0L), nB - 1L))
        .view.mapValues(_.size.toLong).toMap
      val (rc, cc) = (cnt(refVals), cnt(cur))
      val (pd, qd) = (refVals.size + nB.toLong, cur.size + nB.toLong)
      (0 until nB).map { b =>
        val p = (rc.getOrElse(b.toLong, 0L) + 1).toDouble / pd
        val q = (cc.getOrElse(b.toLong, 0L) + 1).toDouble / qd
        math.floor((p - q) * math.log(p / q) * 1000000 + 0.5).toLong
      }.sum
    }
    assert(psiOf(b1Vals) <= bar && psiOf(b2Vals) > bar,
      "engineered batches must straddle the alert bar")
    val inbox = tmp("graft_drift_inbox")
    val monDir = tmp("graft_drift_mon")
    val ckpt = tmp("graft_drift_ckpt")
    val sch = StructType(Seq(StructField("value", DoubleType)))
    def stream() = spark.readStream.schema(sch).csv(inbox)
    def run(): Unit = DriftStream.monitor(
      stream(), ref, "value", lo, hi, nB, bar, monDir, ckpt).awaitTermination()
    def writeBatch(name: String, vals: Seq[Double]): Unit =
      Files.write(new java.io.File(s"$inbox/$name.csv").toPath,
        vals.mkString("\n").getBytes)
    writeBatch("b1", b1Vals)
    run() // batch 0: in-distribution
    writeBatch("b2", b2Vals)
    run() // batch 1 from the same checkpoint: only the new file
    def monitor() = spark.read.parquet(monDir)
      .select("batch_id", "psi_micros", "n_rows", "alert").collect()
      .map(r => (r.getAs[Int]("batch_id"), r.getAs[Long]("psi_micros"),
        r.getAs[Long]("n_rows"), r.getAs[Boolean]("alert"))).sortBy(_._1).toSeq
    val rows = monitor()
    assert(rows == Seq(
      (0, psiOf(b1Vals), 100L, false),
      (1, psiOf(b2Vals), 100L, true)), s"monitor table: $rows")
    // at-least-once replay: re-scoring batch 1 overwrites identical rows
    DriftStream.monitorBatch(spark, b2Vals.toDF("value"), 1L,
      ref, "value", lo, hi, nB, bar, monDir)
    assert(monitor() == rows, "replay changed the monitor table")
    run() // idle restart: no new files, nothing changes
    assert(monitor() == rows)

    // the silent-source hole: an EMPTY batch under Laplace smoothing
    // looks UNIFORM to PSI (qn=1/qd=nB per bucket), so against this
    // near-uniform reference its PSI sits well under the bar — the
    // alert must come from the row count, not the divergence
    DriftStream.monitorBatch(spark, Seq.empty[Double].toDF("value"), 2L,
      ref, "value", lo, hi, nB, bar, monDir)
    val m2 = monitor().find(_._1 == 2).get
    assert(m2._2 <= bar, "empty batch should score near-uniform PSI (the hole)")
    assert(m2._3 == 0L && m2._4, "empty batch must alert on n_rows == 0")
  }

  test("streaming KS drift monitor: exact recount, shift alert, empty-batch alert") {
    val bar = 250000L // D > 0.25
    val refVals = (0 until 1000).map(i => (i * 7 % 500).toDouble)
    val b1Vals = (0 until 100).map(i => (i * 37 % 500).toDouble)
    val b2Vals = (0 until 100).map(i => (450 + i % 50).toDouble)
    import graft.SparkTestSession.implicits._
    val ref = refVals.toDF("value")
    // driver-side exact recount of q142's arithmetic: int64 numerator
    // max over the shared floor grid, one canonicalized division
    def ksOf(cur: Seq[Double]): Long = {
      def cnt(xs: Seq[Double]) = xs.groupBy(v => math.floor(v).toLong)
        .view.mapValues(_.size.toLong).toMap
      val (cc, rc) = (cnt(cur), cnt(refVals))
      val grid = (cc.keySet ++ rc.keySet).toSeq.sorted
      val (ta, tb) = (cur.size.toLong, refVals.size.toLong)
      var (ca, cb, best) = (0L, 0L, 0L)
      grid.foreach { g =>
        ca += cc.getOrElse(g, 0L); cb += rc.getOrElse(g, 0L)
        best = math.max(best, math.abs(ca * tb - cb * ta))
      }
      math.floor(best.toDouble / (ta.toDouble * tb.toDouble) * 1000000 + 0.5).toLong
    }
    assert(ksOf(b1Vals) <= bar && ksOf(b2Vals) > bar,
      "engineered batches must straddle the KS bar")
    val monDir = tmp("graft_ks_mon")
    def score(vals: Seq[Double], id: Long): Unit =
      DriftStream.monitorKsBatch(spark, vals.toDF("value"), id,
        ref, "value", bar, monDir)
    score(b1Vals, 0L); score(b2Vals, 1L)
    score(Seq.empty[Double], 2L) // silent source
    val rows = spark.read.parquet(monDir)
      .select("batch_id", "ks_micros", "n_rows", "alert").collect()
      .map(r => (r.getAs[Int]("batch_id"), r.getAs[Long]("ks_micros"),
        r.getAs[Long]("n_rows"), r.getAs[Boolean]("alert"))).sortBy(_._1).toSeq
    assert(rows == Seq(
      (0, ksOf(b1Vals), 100L, false),
      (1, ksOf(b2Vals), 100L, true),
      (2, 0L, 0L, true)), s"KS monitor table: $rows")
    // replay idempotence
    score(b2Vals, 1L)
    assert(spark.read.parquet(monDir).count() == 3)
  }
}
