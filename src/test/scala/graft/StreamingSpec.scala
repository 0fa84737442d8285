package graft

import graft.stream.Pipelines

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming semantics via MemoryStream (SURVEY.md §5.2.4):
  * watermark late-drop, session windows, custom state, streaming dedup.
  * No broker in CI — the Kafka wiring in stream.Sources is option-level
  * and exercised on a cluster, not here.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runToCompletion(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
  }

  /** Runs `body` on the RocksDB state store (transformWithState's
    * backing store), restoring the session's provider afterwards. */
  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The messages Spark's transformWithState timer store logs at WARN
    * or above while `body` runs. */
  private def timerWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.config.Configurator
    val name = "org.apache.spark.sql.execution.streaming.operators.stateful." +
      "transformwithstate.timers.TimerStateImpl"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-timer-warnings", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val prior = logger.getLevel
    appender.start()
    Configurator.setLevel(name, Level.WARN)
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      Configurator.setLevel(name, prior)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("tumbling windows drop events later than the watermark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val events = in.toDF().toDF("ts", "event_type")
    val q = Pipelines.tumblingCounts(events, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode("append")
      .start()
    // batch 1: two on-time events at 12:xx -> watermark then 12:30-10min
    in.addData((ts("2026-01-01 12:10:00"), "a"), (ts("2026-01-01 12:30:00"), "a"))
    q.processAllAvailable()
    // batch 2: a very late event (10:05, far behind wm) and a future one
    in.addData((ts("2026-01-01 10:05:00"), "late"), (ts("2026-01-01 15:00:00"), "b"))
    q.processAllAvailable()
    // batch 3: advance watermark past every open window so they finalize
    in.addData((ts("2026-01-01 20:00:00"), "flush"))
    runToCompletion(q)
    val rows = s.sql("SELECT win_start, event_type, n FROM tumbling").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("2026-01-01 12:00:00.0", "a", 2L)))
    assert(rows.contains(("2026-01-01 15:00:00.0", "b", 1L)))
    assert(!rows.exists(_._2 == "late"), s"late row must be dropped, got $rows")
  }

  test("session windows merge events within the gap, split beyond it") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val events = in.toDF().toDF("ts", "user_id")
    val q = Pipelines.sessionCounts(events, "30 minutes", "1 minute")
      .writeStream.format("memory").queryName("sessions").outputMode("append")
      .start()
    in.addData(
      (ts("2026-01-01 09:00:00"), 1L), (ts("2026-01-01 09:10:00"), 1L),
      (ts("2026-01-01 09:20:00"), 1L),
      (ts("2026-01-01 11:00:00"), 1L), // > 30 min gap: second session
      (ts("2026-01-01 09:05:00"), 2L))
    q.processAllAvailable()
    in.addData((ts("2026-01-01 23:00:00"), 99L)) // flush watermark
    runToCompletion(q)
    val rows = s.sql("SELECT user_id, n_events FROM sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.count(_._1 == 1L) === 2)
    assert(rows.filter(_._1 == 1L).map(_._2).sorted.toSeq === Seq(1L, 3L))
    assert(rows.filter(_._1 == 2L).map(_._2).toSeq === Seq(1L))
  }

  test("transformWithState sessionization splits at the gap with exact bounds") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // the expired-timer path leaves the timer that fired to Spark: deleting
    // it too logged a "Failed to delete timer" WARN per fired timer
    val warnings = timerWarnings(withRocksDb {
      val in = MemoryStream[Pipelines.SessionInput]
      val q = Pipelines.sessionsWithState(in.toDS(), gapMs = 30L * 60 * 1000)
        .writeStream.format("memory").queryName("tws").outputMode("append")
        .start()
      // two sessions for user 1 (the 11:00 event is past the 30min gap);
      // the later batches' far-future events advance the watermark past them
      in.addData(
        Pipelines.SessionInput(1L, ts("2026-01-01 09:00:00")),
        Pipelines.SessionInput(1L, ts("2026-01-01 09:10:00")),
        Pipelines.SessionInput(1L, ts("2026-01-01 11:00:00")))
      q.processAllAvailable()
      in.addData(Pipelines.SessionInput(9L, ts("2026-01-01 23:00:00")))
      q.processAllAvailable()
      in.addData(Pipelines.SessionInput(9L, ts("2026-01-02 10:00:00")))
      runToCompletion(q)
      val rows = s.sql(
        "SELECT user_id, sess_start, sess_end, n_events FROM tws WHERE user_id = 1")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // (09:00-09:10, 2 events) and (11:00-11:00, 1 event)
      assert(rows === Set(
        (1L, ts("2026-01-01 09:00:00").getTime,
          ts("2026-01-01 09:10:00").getTime, 2L),
        (1L, ts("2026-01-01 11:00:00").getTime,
          ts("2026-01-01 11:00:00").getTime, 1L)), rows.toString)
    })
    assert(warnings.filter(_.contains("Failed to delete timer")) === Nil,
      warnings.mkString("\n"))
  }

  test("out-of-order cross-batch event extends a session, never shrinks it") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withRocksDb {
      val in = MemoryStream[Pipelines.SessionInput]
      val q = Pipelines.sessionsWithState(in.toDS(), gapMs = 30L * 60 * 1000)
        .writeStream.format("memory").queryName("tws_ooo").outputMode("append")
        .start()
      // batch 1: open session [09:00, 09:10]
      in.addData(
        Pipelines.SessionInput(1L, ts("2026-01-01 09:00:00")),
        Pipelines.SessionInput(1L, ts("2026-01-01 09:10:00")))
      q.processAllAvailable()
      // batch 2: out-of-order events above the 2h watermark — one inside
      // the open span, one before its start. The merge must take
      // min(start)/max(end): end stays 09:10 (s.copy(end = t) would drag
      // it back to 08:55 and emit a shrunken session).
      in.addData(
        Pipelines.SessionInput(1L, ts("2026-01-01 09:05:00")),
        Pipelines.SessionInput(1L, ts("2026-01-01 08:55:00")))
      q.processAllAvailable()
      // flush: advance the watermark far past the session close
      in.addData(Pipelines.SessionInput(9L, ts("2026-01-01 23:00:00")))
      runToCompletion(q)
      val rows = s.sql(
          "SELECT sess_start, sess_end, n_events FROM tws_ooo WHERE user_id = 1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows === Set((
        ts("2026-01-01 08:55:00").getTime,
        ts("2026-01-01 09:10:00").getTime, 4L)), s"got $rows")
    }
  }

  test("an event a full gap before the open session opens its OWN session") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withRocksDb {
      val in = MemoryStream[Pipelines.SessionInput]
      val q = Pipelines.sessionsWithState(in.toDS(), gapMs = 30L * 60 * 1000)
        .writeStream.format("memory").queryName("tws_early")
        .outputMode("append").start()
      // batch 1: open session [09:00, 09:10]
      in.addData(
        Pipelines.SessionInput(1L, ts("2026-01-01 09:00:00")),
        Pipelines.SessionInput(1L, ts("2026-01-01 09:10:00")))
      q.processAllAvailable()
      // batch 2: out-of-order event at 08:00 — above the 2h watermark so
      // it is NOT dropped, but more than the 30min gap before the open
      // session's start: folding it against the session END alone
      // (t - end <= gap, trivially true for early events) would swallow
      // it into one [08:00, 09:10] session; correct semantics are two.
      in.addData(Pipelines.SessionInput(1L, ts("2026-01-01 08:00:00")))
      q.processAllAvailable()
      in.addData(Pipelines.SessionInput(9L, ts("2026-01-01 23:00:00")))
      runToCompletion(q)
      val rows = s.sql(
          "SELECT sess_start, sess_end, n_events FROM tws_early WHERE user_id = 1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows === Set(
        (ts("2026-01-01 08:00:00").getTime,
         ts("2026-01-01 08:00:00").getTime, 1L),
        (ts("2026-01-01 09:00:00").getTime,
         ts("2026-01-01 09:10:00").getTime, 2L)), s"got $rows")
    }
  }

  test("dropDuplicatesWithinWatermark emits each key once") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val events = in.toDF().toDF("ts", "event_id")
    val q = Pipelines.dedupKeyed(events, Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append")
      .start()
    in.addData(
      (ts("2026-01-01 12:00:00"), 1L), (ts("2026-01-01 12:01:00"), 1L),
      (ts("2026-01-01 12:02:00"), 2L))
    q.processAllAvailable()
    in.addData((ts("2026-01-01 12:03:00"), 1L)) // dup within watermark
    runToCompletion(q)
    val ids = s.sql("SELECT event_id FROM dedup").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq === Seq(1L, 2L))
  }

  test("streaming occupancy: per-(FPGA, channel) counts within orbit windows") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Timestamp, Int, Int)]
    val hits = in.toDF().toDF("ts", "FPGA", "TDC_CHANNEL")
    val q = Pipelines.occupancy(hits, "1 second", "5 seconds")
      .writeStream.format("memory").queryName("occ").outputMode("append")
      .start()
    in.addData(
      (ts("2026-01-01 00:00:00"), 0, 7), (ts("2026-01-01 00:00:00"), 0, 7),
      (ts("2026-01-01 00:00:00"), 1, 7), (ts("2026-01-01 00:00:01"), 0, 7))
    q.processAllAvailable()
    in.addData((ts("2026-01-01 00:01:00"), 0, 1)) // advance watermark, flush
    runToCompletion(q)
    val rows = s.sql("SELECT win_start, FPGA, TDC_CHANNEL, n_hits FROM occ")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(rows.contains(("2026-01-01 00:00:00.0", 0, 7, 2L)))
    assert(rows.contains(("2026-01-01 00:00:00.0", 1, 7, 1L)))
    assert(rows.contains(("2026-01-01 00:00:01.0", 0, 7, 1L)))
  }

  test("checkpoint recovery: restart resumes from committed offsets, exactly once") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (in, out, cp) = (s"$root/in", s"$root/out", s"$root/cp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def runOnce(): Unit = {
      val q = s.readStream
        .schema("event_id LONG, v LONG")
        .json(in)
        .writeStream
        .format("parquet")
        .option("checkpointLocation", cp)
        .option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def addFile(name: String, ids: Range): Unit = {
      val body = ids.map(i => s"""{"event_id":$i,"v":${i * 10}}""").mkString("\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$in/$name"), body.getBytes("UTF-8"))
    }
    addFile("a.json", 1 to 3)
    runOnce()
    // the first batch's files stay in place; a restart must NOT reprocess
    // them (offset log) and must pick up only the new file
    addFile("b.json", 4 to 6)
    runOnce()
    val got = s.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(got.toSeq === (1L to 6L), s"expected exactly-once 1..6, got ${got.toSeq}")
  }

  /** Staged time-ordered JSON files in a new directory, one per entry of
    * `files`, one object per line, the oldest modification time first
    * (the order the file source admits them in). */
  private def stageJson(files: Seq[Seq[String]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_in")
    files.zipWithIndex.foreach { case (rows, i) =>
      val f = dir.resolve(s"$i.json")
      java.nio.file.Files.writeString(f, rows.mkString("\n"))
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (files.size - i) * 60000L))
    }
    dir.toString
  }

  /** `transform` over the files `stageJson` wrote to `dir`, one file per
    * micro-batch, into `out` by a foreachBatch sink. With `crashOn` the
    * sink throws on that batch once its rows are computed (into
    * `crashed`): after its offsets are in the WAL and its state is
    * written, before its commit. */
  private def crashRun(dir: String, schema: String, ckpt: String,
      transform: DataFrame => DataFrame,
      out: scala.collection.mutable.ArrayBuffer[Row],
      crashOn: Long = -1L,
      crashed: scala.collection.mutable.ArrayBuffer[Row] =
        scala.collection.mutable.ArrayBuffer.empty[Row]): Unit = {
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir)
    val q = transform(in)
      .writeStream
      .foreachBatch { (ds: DataFrame, id: Long) =>
        val rows = ds.collect()
        if (id == crashOn) {
          crashed ++= rows
          throw new IllegalStateException(s"injected crash in batch $id")
        }
        out ++= rows
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination(60000)
  }

  /** The rows of an uninterrupted run, and of a run that crashes on batch
    * 2 and restarts on the same checkpoint, each sorted; fails unless the
    * crash landed between batch 2's offsets WAL entry and its commit.
    * The rows batch 2 computed before the crash go to `crashed`. */
  private def cleanAndRestarted(dir: String, schema: String,
      transform: DataFrame => DataFrame,
      crashed: scala.collection.mutable.ArrayBuffer[Row] =
        scala.collection.mutable.ArrayBuffer.empty[Row])
      : (Seq[String], Seq[String]) = {
    def ckptDir() =
      java.nio.file.Files.createTempDirectory("graft_crash_ckpt").toString
    val clean, restarted = scala.collection.mutable.ArrayBuffer.empty[Row]
    val ckpt = ckptDir()
    crashRun(dir, schema, ckptDir(), transform, clean)
    val crash = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      crashRun(dir, schema, ckpt, transform, restarted, crashOn = 2L, crashed))
    assert(crash.getMessage.contains("injected crash in batch 2"))
    def exists(rel: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(ckpt, rel))
    assert(exists("offsets/2") && !exists("commits/2"),
      "the crash did not land between the WAL entry and the commit")
    crashRun(dir, schema, ckpt, transform, restarted)
    (clean.map(_.toString).sorted.toSeq, restarted.map(_.toString).sorted.toSeq)
  }

  test("transformWithState sessions: a crash between the offsets WAL and the commit log restarts exactly once") {
    val s = spark
    import s.implicits._
    // four time-ordered files: user 1's session spans batches 0 and 1,
    // and batch 2 is the first whose watermark (10:00) fires timers —
    // user 1's session and user 2's first
    val dir = stageJson(Seq(
      Seq(1 -> "2026-01-01T09:00:00Z", 1 -> "2026-01-01T09:10:00Z",
        2 -> "2026-01-01T09:05:00Z"),
      Seq(1 -> "2026-01-01T09:30:00Z", 2 -> "2026-01-01T12:00:00Z"),
      Seq(3 -> "2026-01-01T14:00:00Z"),
      Seq(9 -> "2026-01-02T10:00:00Z")).map(_.map { case (u, t) =>
        s"""{"user_id":$u,"ts":"$t"}""" }))
    val (clean, restarted) = withRocksDb(
      cleanAndRestarted(dir, "user_id LONG, ts TIMESTAMP", df =>
        Pipelines.sessionsWithState(df.as[Pipelines.SessionInput]).toDF()))
    def ms(t: String) = java.time.Instant.parse(t).toEpochMilli
    assert(clean.contains(Row(1L,
      ms("2026-01-01T09:00:00Z"), ms("2026-01-01T09:30:00Z"), 3L).toString), clean)
    assert(clean.contains(Row(2L,
      ms("2026-01-01T09:05:00Z"), ms("2026-01-01T09:05:00Z"), 1L).toString), clean)
    assert(restarted === clean)
  }

  test("dropDuplicatesWithinWatermark: a crash between the offsets WAL and the commit log restarts exactly once") {
    // batch 2 holds a duplicate of a key first seen in batch 1 (user 3)
    // and of one first seen in batch 0 (user 1), both dropped by state,
    // and a new key (user 4); no file repeats a key, so which row a
    // batch keeps never depends on order within the batch
    val dir = stageJson(Seq(
      Seq((1, "09:00", 1), (2, "09:10", 2)),
      Seq((1, "10:00", 3), (3, "10:05", 4)),
      Seq((3, "10:20", 5), (4, "10:30", 6), (1, "10:40", 7)),
      Seq((5, "14:00", 8))).map(_.map { case (u, t, v) =>
        s"""{"user_id":$u,"ts":"2026-01-01T$t:00Z","v":$v}""" }))
    val (clean, restarted) = cleanAndRestarted(dir,
      "user_id LONG, ts TIMESTAMP, v LONG",
      df => Pipelines.dedupKeyed(df, Seq("user_id")).select("user_id", "v"))
    assert(clean === Seq(Row(1L, 1L), Row(2L, 2L), Row(3L, 4L), Row(4L, 6L),
      Row(5L, 8L)).map(_.toString), clean)
    assert(restarted === clean)
  }

  /** Staged event files for the coincidence-join crash cases: each entry
    * (user, event type, hh:mm:ss on 2026-01-01) is one event. */
  private def stageEvents(files: Seq[(Int, String, String)]*): String =
    stageJson(files.map(_.map { case (u, e, t) =>
      s"""{"user_id":$u,"event_type":"$e","ts":"2026-01-01T${t}Z"}""" }))

  /** `Pipelines.coincidence` of one event stream split into clicks and
    * purchases, as the bench's join probes build it. */
  private def clickPurchase(joinType: String)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = df.select(col("user_id").as("key"), col("ts"), col("event_type"))
    Pipelines.coincidence(
      base.filter(col("event_type") === "click"),
      base.filter(col("event_type") === "purchase"),
      toleranceSec = 60, watermark = "10 minutes", joinType = joinType)
  }

  private val eventSchema = "user_id LONG, event_type STRING, ts TIMESTAMP"

  test("inner coincidence join: a crash between the offsets WAL and the commit log restarts exactly once") {
    // batch 2 matches purchases against clicks held in state since
    // batches 0 (user 2) and 1 (user 4), and a click and purchase that
    // arrive together (user 5)
    val dir = stageEvents(
      Seq((1, "click", "09:00:00"), (2, "click", "09:00:00"),
        (3, "purchase", "09:00:00")),
      Seq((1, "purchase", "09:00:30"), (4, "click", "09:05:00")),
      Seq((4, "purchase", "09:05:20"), (2, "purchase", "09:00:50"),
        (5, "click", "09:06:00"), (5, "purchase", "09:06:10")),
      Seq((6, "click", "10:00:00")))
    val (clean, restarted) =
      cleanAndRestarted(dir, eventSchema, clickPurchase("inner"))
    assert(clean.map(_.take(3)) === Seq("[1,", "[2,", "[4,", "[5,"), clean)
    assert(restarted === clean)
  }

  test("left-outer coincidence join: a crash between the offsets WAL and the commit log restarts exactly once") {
    // batch 1's events at 10:00 move batch 2's watermark (the min over
    // both sides) to 09:50, so batch 2 evicts user 1's unmatched 09:00
    // click and emits it null-padded in the batch that crashes
    val dir = stageEvents(
      Seq((1, "click", "09:00:00"), (2, "click", "09:00:00"),
        (2, "purchase", "09:00:30")),
      Seq((3, "click", "10:00:00"), (3, "purchase", "10:00:20")),
      Seq((4, "click", "10:30:00"), (4, "purchase", "10:30:10")),
      Seq((5, "click", "12:00:00")))
    val batch2 = scala.collection.mutable.ArrayBuffer.empty[Row]
    val (clean, restarted) =
      cleanAndRestarted(dir, eventSchema, clickPurchase("left_outer"), batch2)
    assert(batch2.map(_.toString).exists(r =>
      r.startsWith("[1,") && r.endsWith(",null,null]")), batch2)
    assert(clean.filter(_.startsWith("[1,")).map(_.endsWith(",null,null]"))
      === Seq(true), clean)
    assert(clean.count(r => Seq("[2,", "[3,", "[4,").exists(r.startsWith))
      === 3, clean)
    assert(restarted === clean)
  }

  test("stream-stream coincidence join matches within tolerance only") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val hitsIn = MemoryStream[(Long, Timestamp)]
    val trigIn = MemoryStream[(Long, Timestamp)]
    val q = Pipelines.coincidence(
        hitsIn.toDF().toDF("key", "ts"),
        trigIn.toDF().toDF("key", "ts"),
        toleranceSec = 5)
      .writeStream.format("memory").queryName("coinc").outputMode("append")
      .start()
    trigIn.addData((1L, ts("2026-01-01 00:00:10")))
    hitsIn.addData(
      (1L, ts("2026-01-01 00:00:08")), // within ±5s -> match
      (1L, ts("2026-01-01 00:00:14")), // within ±5s -> match
      (1L, ts("2026-01-01 00:00:20")), // 10s away -> no match
      (2L, ts("2026-01-01 00:00:10"))) // different key -> no match
    q.processAllAvailable()
    runToCompletion(q)
    val got = s.sql("SELECT h_key, h_ts FROM coinc").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSet
    assert(got === Set(
      (1L, "2026-01-01 00:00:08.0"),
      (1L, "2026-01-01 00:00:14.0")))
  }

  test("foreachBatch sink sees every micro-batch exactly once") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[Long]
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val q = in.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], id: Long) =>
        seen.put(id, batch.count())
        () // the sink owns idempotence by (batchId, epoch) at a real store
      }
      .start()
    in.addData(1L, 2L, 3L)
    q.processAllAvailable()
    in.addData(4L)
    runToCompletion(q)
    assert(seen.values.sum === 4L)
    assert(seen.keySet === Set(0L, 1L))
  }

  test("streaming tumbling counts equal the oracled batch query on real events") {
    val s = spark
    import s.implicits._
    // stream the events table itself (file source + AvailableNow), then
    // compare against the DuckDB-oracled batch spelling — the
    // batch/streaming unification claim on real data
    val batchDf = Tables.events(spark, sf)
    // the file stream source wants a directory; stage the single-file
    // table into one
    val dir = java.nio.file.Files.createTempDirectory("parity_in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = Tables.normalizeEventTs(s.readStream
      .schema(s.read.parquet(s"$sf/events.parquet").schema)
      .format("parquet")
      .load(dir.toString))
    val q = Pipelines.tumblingCounts(stream, "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("parity")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = s.sql("SELECT win_start, event_type, n FROM parity")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .toSet
    val batch = batchDf
      .groupBy(
        org.apache.spark.sql.functions.date_trunc("hour", org.apache.spark.sql.functions.col("ts")).as("w"),
        org.apache.spark.sql.functions.col("event_type"))
      .count()
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed === batch)
  }

  test("stream-static enrichment joins the broadcast dim per batch, left-outer") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Long)]
    val q = Pipelines.enrichStatic(
        in.toDF().toDF("event_id", "user_id"), dim, "user_id")
      .writeStream.format("memory").queryName("enrich").outputMode("append")
      .start()
    in.addData((100L, 1L), (101L, 2L), (102L, 9L))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT event_id, user_id, tier FROM enrich").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    // matched rows enrich; the dim-less user flows through with null
    assert(rows === Set((100L, 1L, "gold"), (101L, 2L, "silver"),
      (102L, 9L, null)))
  }

  test("left-outer coincidence join emits unmatched hits once state evicts") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val hitsIn = MemoryStream[(Long, Timestamp)]
    val trigIn = MemoryStream[(Long, Timestamp)]
    val q = Pipelines.coincidence(
        hitsIn.toDF().toDF("key", "ts"),
        trigIn.toDF().toDF("key", "ts"),
        toleranceSec = 5, watermark = "10 seconds",
        joinType = "left_outer")
      .writeStream.format("memory").queryName("coinc_outer")
      .outputMode("append")
      .start()
    trigIn.addData((1L, ts("2026-01-01 00:00:10")))
    hitsIn.addData(
      (1L, ts("2026-01-01 00:00:08")),  // within ±5s -> match
      (1L, ts("2026-01-01 00:01:00"))) // no trigger near -> null-padded
    q.processAllAvailable()
    // advance BOTH watermarks far past 00:01:00 + 5s tolerance + 10s
    // delay so the unmatched hit's state provably cannot match anymore
    trigIn.addData((8L, ts("2026-01-01 00:10:00")))
    hitsIn.addData((7L, ts("2026-01-01 00:10:00")))
    q.processAllAvailable()
    trigIn.addData((8L, ts("2026-01-01 00:20:00")))
    hitsIn.addData((7L, ts("2026-01-01 00:20:00")))
    q.processAllAvailable()
    runToCompletion(q)
    val matched = s.sql(
      "SELECT h_ts FROM coinc_outer WHERE h_key = 1 AND t_key IS NOT NULL")
      .collect().map(_.getTimestamp(0).toString).toSet
    val unmatched = s.sql(
      "SELECT h_ts FROM coinc_outer WHERE h_key = 1 AND t_key IS NULL")
      .collect().map(_.getTimestamp(0).toString).toSet
    assert(matched === Set("2026-01-01 00:00:08.0"))
    assert(unmatched === Set("2026-01-01 00:01:00.0"))
  }

  test("update-mode tumbling agg re-emits changed windows per batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = Pipelines.tumblingCounts(
        in.toDF().toDF("event_id", "ts", "event_type"))
      .writeStream.format("memory").queryName("tumb_update")
      .outputMode("update")
      .start()
    in.addData((1L, ts("2026-01-01 00:10:00"), "click"))
    q.processAllAvailable()
    val afterFirst = s.sql(
      "SELECT count(*) FROM tumb_update").collect().head.getLong(0)
    // same window grows in a second batch: update mode re-emits it
    in.addData((2L, ts("2026-01-01 00:20:00"), "click"))
    q.processAllAvailable()
    runToCompletion(q)
    val rows = s.sql(
      "SELECT n FROM tumb_update ORDER BY n").collect().map(_.getLong(0))
    // first emission n=1, re-emission n=2 — both sink rows present
    assert(afterFirst === 1L && rows.toSeq === Seq(1L, 2L))
  }

  test("the tws bench probe scopes its partitions and provider to itself") {
    val keys = Seq("spark.sql.shuffle.partitions", Bench.StateStoreProvider)
    val before = keys.map(spark.conf.get)
    val tws = Bench.probes.find(_.name == "q_stream_sessions_tws").get
    var during = Seq.empty[String]
    val meter = new Bench.Meter(spark)
    val Bench.Entry(_, elapsed, Some(counters), _, progress) = try
      Bench.measure(spark, sf, meter, tws.copy(body = (s, d, in) => {
        during = keys.map(spark.conf.get)
        tws.body(s, d, in)
      }), 1)
    finally meter.close()
    assert(elapsed > 0)
    // the counters cover the micro-batches' tasks
    assert(counters.jobs > 0 && counters.total.tasks > 0, counters)
    // every batch's phases and its one operator's state commit time
    val phases = Bench.jsonLine(
      Bench.Entry("q_stream_sessions_tws", elapsed, Some(counters), 1, progress).phases)
    assert(phases.startsWith("[{\"batch\":0,") &&
      phases.contains("\"addBatch\":") && phases.contains("\"state_commit_ms\":["),
      phases)
    // the probe really ran on its own width and the RocksDB store ...
    assert(during === Seq(Bench.StreamParts.toString,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    // ... and left the session exactly as it found it
    assert(keys.map(spark.conf.get) === before)
  }
}
