package e2ebench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{DqChecks, DqThresholds}
import graft.streaming.StreamIngest

/** `stream_inbox`: a CSV inbox in `StreamIngest.inboxSchema`, consumed the
  * way `RunStream` wires it — `readInbox` → `quarantineCorrupt` →
  * `tumblingCounts` into a parquet sink, plus per-batch DQ through
  * `DqChecks` (with the corrupt rows written to a quarantine sink).
  *
  * Inbox files are a pure function of (seed, file index): each holds
  * `rows` rows covering the next `SliceMinutes` of event time, with some
  * rows out of order (up to five minutes back), some late (a day back,
  * only from file `LateFrom` on, so the watermark has long passed their
  * window) and some corrupt lines (a non-numeric value). Every
  * `FaultEvery`-th file also holds one line whose only malformed field is
  * the event id, a column the windowed counts never read (see `FaultAt`).
  *
  * Phases:
  *  - warm-up: `WarmFiles` files through continuously triggered queries;
  *  - paced (open loop): one generator thread moves `paced` files into the
  *    inbox, one every `intervalMs`; each file's latency runs from when it
  *    was due → the later of the two queries' commits of the batch that
  *    read it (read from the checkpoints afterwards by `run.py`);
  *  - backlog (the timed passes): `burst` files appear at once and the
  *    two queries drain them with `Trigger.AvailableNow`.
  */
final class StreamInbox(spark: SparkSession, work: Path, seed: Long, smoke: Boolean,
    trace: Option[Trace]) extends Workload {

  private val rows = if (smoke) 200 else 1000
  private val paced = if (smoke) 16 else 40
  private val intervalMs = 250L
  private val burst = 16
  val WarmFiles = 4
  val SliceMinutes = 10
  val LateFrom = 20
  /** Every `FaultEvery`-th file (index ≡ `FaultAt`) starts with a line whose
    * only malformed field is event_id. Warm-up files never hold one, and
    * the paced phase and every backlog burst hold exactly one per
    * `FaultEvery` files, so their share of the timed files is fixed.
    */
  val FaultEvery = 8
  val FaultAt = 7
  private val t0Micros =
    LocalDateTime.of(2024, 2, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L

  private val inbox = work.resolve("inbox")
  private val staging = work.resolve("staging")
  private val out = work.resolve("out")
  private val ckptCounts = out.resolve("ckpt_counts")
  private val ckptDq = out.resolve("ckpt_dq")

  private var next = 0
  private var corrupt = 0L
  private var lateRows = 0L
  private var faults = 0L
  /** (file name, due epoch ms, visible epoch ms, phase) of every file moved
    * in; a file is due when the schedule says so, or when it is moved.
    */
  private val visible = mutable.ArrayBuffer.empty[(String, Long, Long, String)]
  private val lagMs = mutable.ArrayBuffer.empty[Double]
  private var pacedWindow = (0.0, 0.0)
  private var running: Seq[StreamingQuery] = Nil

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val types = Array("view", "click", "purchase", "signup", "error")

  private def fmtTs(micros: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000).toInt, ZoneOffset.UTC).format(tsFmt)

  private def money(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))

  /** Write inbox file `i` into the staging directory. */
  private def stage(i: Int): Path = {
    val rnd = new SplittableRandom(seed * 1000003L + i)
    val slice = SliceMinutes * 60L * 1000000L
    val sb = new StringBuilder("event_id,ts,user_id,event_type,value\n")
    var r = 0
    while (r < rows) {
      val id = i.toLong * rows + r
      if (r == 0 && i % FaultEvery == FaultAt) {
        // seed-independent line whose only malformed field is event_id
        faults += 1
        sb ++= s"e$id,${fmtTs(t0Micros + i * slice + 1000000L)},1,view,1.00\n"
      } else {
        var ts = t0Micros + i * slice + (rnd.nextDouble() * slice).toLong
        val corruptLine = rnd.nextDouble() < 0.005
        val u = rnd.nextDouble()
        if (u < 0.05) ts -= (rnd.nextDouble() * 300e6).toLong + 1 // out of order
        else if (u < 0.06 && i >= LateFrom) {
          ts -= 86400L * 1000000L // a day late
          if (!corruptLine) lateRows += 1
        }
        val user = if (rnd.nextDouble() < 0.002) "" else math.exp(rnd.nextDouble() * math.log(20000)).toLong.toString
        val tpe = types(rnd.nextInt(types.length))
        val v = rnd.nextDouble()
        val value =
          if (corruptLine) { corrupt += 1; "n/a" }
          else if (v < 0.003) "" else if (v < 0.008) money(-rnd.nextDouble() * 50)
          else money(rnd.nextDouble() * 300)
        sb ++= s"$id,${fmtTs(ts)},$user,$tpe,$value\n"
      }
      r += 1
    }
    Files.createDirectories(staging)
    val p = staging.resolve(f"f_$i%06d.csv")
    Files.writeString(p, sb.toString)
    p
  }

  /** Move a staged file into the inbox; returns when it became visible. */
  private def expose(p: Path, phase: String, due: Long = -1L): Long = {
    Files.move(p, inbox.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
    val now = System.currentTimeMillis()
    visible += ((p.getFileName.toString, if (due < 0) now else due, now, phase))
    now
  }

  private def stageNext(n: Int): Seq[Path] = (0 until n).map { _ =>
    val p = stage(next); next += 1; p
  }

  /** The two consumers over the inbox: windowed counts → parquet, and
    * per-batch quarantine + DQ artifact.
    */
  private def start(trigger: Trigger): Seq[StreamingQuery] = {
    val raw = StreamIngest.readInbox(spark, inbox.toString)
    val (clean, _) = StreamIngest.quarantineCorrupt(raw)
    val counts = StreamIngest.tumblingCounts(clean).writeStream
      .queryName("e2e_counts")
      .format("parquet")
      .option("path", out.resolve("counts").toString)
      .option("checkpointLocation", ckptCounts.toString)
      .outputMode("append")
      .trigger(trigger)
      .start()
    val rules = DqChecks.eventRules(DqThresholds())
    val dqDir = out.resolve("dq").toString
    val quarantine = out.resolve("quarantine").toString
    val dq = raw.writeStream
      .queryName("e2e_dq")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (good, bad) = StreamIngest.quarantineCorrupt(batch)
        bad.write.mode("append").parquet(quarantine)
        DqChecks.writeArtifact(DqChecks.evaluate(good, rules), s"$dqDir/batch_$batchId")
        (): Unit
      }
      .option("checkpointLocation", ckptDq.toString)
      .trigger(trigger)
      .start()
    Seq(counts, dq)
  }

  private def drain(qs: Seq[StreamingQuery]): Unit = qs.foreach(_.processAllAvailable())

  def setup(): Unit = {
    Seq(inbox, staging, out).foreach(Main.deleteTree)
    Files.createDirectories(inbox)
  }

  def warmup(): Unit = {
    running = start(Trigger.ProcessingTime(0L))
    stageNext(WarmFiles).foreach { p => expose(p, "warmup"); Thread.sleep(intervalMs) }
    drain(running)
  }

  /** Paced phase, then backlog passes until the deadline. */
  def timed(deadlineNanos: Long): Timed = {
    val files = stageNext(paced)
    val startMs = System.currentTimeMillis() + 50
    val gen = new Thread(() => {
      files.zipWithIndex.foreach { case (p, k) =>
        val due = startMs + k * intervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lagMs += (expose(p, "paced", due) - due).toDouble
      }
    }, "e2ebench-inbox-generator")
    val span0 = trace.map(_.nowMs).getOrElse(0.0)
    gen.start(); gen.join()
    drain(running)
    running.foreach(_.stop())
    running = Nil
    pacedWindow = (span0, trace.map(_.nowMs).getOrElse(0.0))
    trace.foreach(_.addSpan("streaming.paced", span0, pacedWindow._2))

    var staged: Seq[Path] = Nil
    val t = loop(deadlineNanos, minPasses = 2)({ staged = stageNext(burst) }) {
      staged.foreach(expose(_, "backlog"))
      val qs = start(Trigger.AvailableNow())
      qs.foreach(_.awaitTermination())
      val failed = qs.count(_.exception.isDefined).toLong
      Pass(burst.toLong, failed, Nil)
    }
    t.copy(attempted = t.attempted + paced)
  }

  def storedPaths: Seq[Path] = Seq(out)

  def summary(): String = Json.obj(
    "inbox" -> inbox.toString,
    "out" -> out.toString,
    "rows_per_file" -> rows,
    "files" -> visible.map { case (f, due, ms, ph) =>
      Map("file" -> f, "due_ms" -> due, "visible_ms" -> ms, "phase" -> ph) },
    "corrupt_injected" -> corrupt,
    "late_injected" -> lateRows,
    "faults_injected" -> faults,
    "fault_every" -> FaultEvery,
    "generator_lag_ms" -> lagMs.toSeq)

  def layers(tr: Trace, timed: Timed): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val all = tr.progress.synchronized(tr.progress.toList).map(_.progress)
    val inPaced = all.filter { p =>
      val ms = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      ms >= pacedWindow._1 && ms <= pacedWindow._2
    }
    val data = inPaced.filter(_.numInputRows > 0)
    def dur(key: String) = Main.median(data.flatMap(p =>
      Option(p.durationMs.get(key)).map(_.doubleValue)))
    val state = all.filter(_.name == "e2e_counts").flatMap(_.stateOperators.toSeq)
    val dataState = data.filter(_.name == "e2e_counts").flatMap(_.stateOperators.toSeq)
    all.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      tr.addSpan(s"streaming.trigger.${p.name}", start, start + d)
    }
    Map(
      "streaming.batches" -> all.size.toDouble,
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.state_rows" -> (if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).max.toDouble),
      "streaming.state_mb" -> (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max / 1e6),
      "streaming.state_commit_ms" -> Main.median(dataState.map(_.commitTimeMs.toDouble)),
      "streaming.backlog_files_max" ->
        (if (all.isEmpty) 0.0 else all.map(p => math.ceil(p.numInputRows.toDouble / rows)).max),
      "streaming.generator_lag_ms" -> (if (lagMs.isEmpty) 0.0 else lagMs.max))
  }

  override def close(): Unit = running.foreach(_.stop())
}
