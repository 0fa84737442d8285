package graft.stream

import graft.SparkSpec
import graft.model.TdcHit

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.jdk.CollectionConverters._

/** The DSv2 replay source against a 61-hit capture in the golden CSV
  * layout: schema, totals, batch pacing (admission control),
  * checkpointed exactly-once restart, and the batch twin. The capture is
  * [[graft.model.TdcFixture.hits]] written to a temporary CSV with the
  * golden header, so the spec needs no file outside the build. */
class TdcReplaySourceSpec extends SparkSpec {

  private val fixture = graft.model.TdcFixture.hits

  private lazy val capture: String = {
    val f = java.nio.file.Files.createTempFile("graft_tdc_capture", ".csv")
    f.toFile.deleteOnExit()
    val rows = fixture.map(h => Seq(h.HEAD, h.FPGA, h.TDC_CHANNEL,
      h.ORBIT_CNT, h.BX_COUNTER, h.TDC_MEAS).mkString(","))
    java.nio.file.Files.writeString(f,
      (TdcHit.schema.fieldNames.mkString(",") +: rows).mkString("", "\n", "\n"))
    f.toString
  }

  private def ckptDir() =
    java.nio.file.Files.createTempDirectory("graft_replay_ckpt").toString

  test("streams the golden capture exactly, honoring rowsPerBatch") {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val q = spark.readStream.format("graft-tdc-replay")
      .option("path", capture).option("rowsPerBatch", 20)
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select("FPGA", "TDC_CHANNEL", "ORBIT_CNT").collect()
        batches.synchronized {
          batches += got.length.toLong
          rows ++= got.map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir())
      .start()
    q.awaitTermination(60000)
    // 61 rows at 20/batch -> 20, 20, 20, 1
    assert(batches.toSeq === Seq(20L, 20L, 20L, 1L))
    assert(rows.size === 61)
    // cross-check against the plain CSV read (same file, same schema)
    val direct = Sources.hitsFromCsv(spark, capture)
      .select("FPGA", "TDC_CHANNEL", "ORBIT_CNT").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(rows.sorted.toSeq === direct.sorted.toSeq)
    // and against the hits the capture was written from
    assert(rows.sorted.toSeq ===
      fixture.map(h => (h.FPGA, h.TDC_CHANNEL, h.ORBIT_CNT)).sorted)
  }

  test("restart from the same checkpoint replays nothing (exactly once)") {
    val ckpt = ckptDir()
    def run(): Long = {
      var n = 0L
      val q = spark.readStream.format("graft-tdc-replay")
        .option("path", capture).option("rowsPerBatch", 25)
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          n += df.count(); ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination(60000)
      n
    }
    assert(run() === 61L)
    assert(run() === 0L, "committed offsets were not honored on restart")
  }

  test("EP2 -> EP1 end-to-end: replayed capture drives streaming occupancy") {
    // the whole story on the capture: DSv2 replay (EP2) -> orbit
    // event time -> watermarked streaming occupancy (EP1's monitor)
    val hits = spark.readStream.format("graft-tdc-replay")
      .option("path", capture).option("rowsPerBatch", 20)
      .load()
      .withColumn("ts", graft.time.OrbitTime.orbitTimestamp(col("ORBIT_CNT")))
    // complete mode: the capture spans ~40 ms of orbit time, so every
    // hit lands in one open window that no later event ever closes —
    // append mode would (correctly) emit nothing. Complete emits the
    // full state each batch; the final table is the occupancy.
    val q = Pipelines.occupancy(hits, windowLen = "1 second",
        watermark = "5 seconds")
      .writeStream.format("memory").queryName("replay_occ")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir())
      .start()
    q.awaitTermination(60000)
    val occ = spark.table("replay_occ")
      .groupBy("FPGA", "TDC_CHANNEL")
      .agg(sum("n_hits").as("n")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val direct = Sources.hitsFromCsv(spark, capture)
      .groupBy("FPGA", "TDC_CHANNEL").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(occ === direct)
  }

  /** The capture's occupancy per (window start, FPGA, channel) through
    * `Pipelines.occupancy` at 20 rows per batch (4 data batches), in
    * update mode into `out` by a foreachBatch upsert. With `crashOn` the
    * sink throws on that batch: after its offsets are in the WAL, before
    * its commit. */
  private def occupancyRun(ckpt: String,
      out: scala.collection.mutable.Map[(Long, Int, Int), Long],
      crashOn: Long = -1L): Unit = {
    val hits = spark.readStream.format("graft-tdc-replay")
      .option("path", capture).option("rowsPerBatch", 20)
      .load()
      .withColumn("ts", graft.time.OrbitTime.orbitTimestamp(col("ORBIT_CNT")))
    val q = Pipelines.occupancy(hits, windowLen = "1 second",
        watermark = "5 seconds")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id == crashOn)
          throw new IllegalStateException(s"injected crash in batch $id")
        df.collect().foreach(r => out((r.getTimestamp(0).getTime,
          r.getInt(1), r.getInt(2))) = r.getLong(3))
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination(60000)
  }

  test("a crash between the offsets WAL and the commit log restarts exactly once") {
    val clean = scala.collection.mutable.Map.empty[(Long, Int, Int), Long]
    occupancyRun(ckptDir(), clean)
    val ckpt = ckptDir()
    val restarted = scala.collection.mutable.Map.empty[(Long, Int, Int), Long]
    val crash = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      occupancyRun(ckpt, restarted, crashOn = 2L))
    assert(crash.getMessage.contains("injected crash in batch 2"))
    def exists(rel: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(ckpt, rel))
    assert(exists("offsets/2") && !exists("commits/2"),
      "the crash did not land between the WAL entry and the commit")
    occupancyRun(ckpt, restarted)
    assert(restarted.toSeq.sorted === clean.toSeq.sorted)
    assert(clean.values.sum === 61L)
    // the restart wrote through the checksummed local filesystem: Hadoop's
    // .crc sidecars beside the logs and state files (`.3.delta.crc`), and
    // Spark's own checkpoint checksum files beside the state files
    // (`3.delta.crc`, with a sidecar of its own)
    val files = {
      val wk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try wk.iterator.asScala.map(_.getFileName.toString).toSeq
      finally wk.close()
    }
    assert(exists("offsets/.3.crc") && exists("commits/.3.crc"))
    assert(files.exists(f => f.startsWith(".") && f.endsWith(".delta.crc")),
      files.sorted.mkString(", "))
    assert(files.exists(f => !f.startsWith(".") && f.endsWith(".delta.crc")),
      files.sorted.mkString(", "))
  }

  test("the occupancy query forks no chmod or readlink process") {
    val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    assert(hadoopConf.get(LocalCheckpointFs.Key) ===
      classOf[LocalCheckpointFs].getName)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      occupancyRun(ckptDir(), scala.collection.mutable.Map.empty)
      // control: one file through Hadoop's stock LocalFs, which does fork
      val stock = org.apache.hadoop.fs.FileContext.getLocalFSFileContext()
      stock.create(new org.apache.hadoop.fs.Path(s"${ckptDir()}/control"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
    } finally rec.stop()
    val jfr = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
    try {
      try rec.dump(jfr) finally rec.close()
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command").split(" ").head.split("/").last).toSeq
      // the control's two chmods (data file and .crc) show the recording
      // sees forks at all
      assert(commands.count(_ == "chmod") === 2, commands.mkString(", "))
      assert(!commands.contains("readlink"), commands.mkString(", "))
    } finally java.nio.file.Files.deleteIfExists(jfr)
  }

  test("batch twin reads the capture with parallel input partitions") {
    val df = spark.read.format("graft-tdc-replay")
      .option("path", capture).load()
    assert(df.count() === 61L)
    assert(df.rdd.getNumPartitions === TdcReplaySource.Partitions)
    // the occupancy profile matches the engine's CSV path
    val viaSource = df.groupBy("FPGA").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val viaCsv = Sources.hitsFromCsv(spark, capture).groupBy("FPGA").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(viaSource === viaCsv)
  }

  test("Trigger.Once (ReadAllAvailable) drains the capture in one batch") {
    // rowsPerBatch=20 only paces rate-limited triggers; a ReadAllAvailable
    // limit must admit the full 61-row capture at once, not one 20-row
    // batch (the pre-fix behavior: the default case capped advancement)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-tdc-replay")
      .option("path", capture).option("rowsPerBatch", 20)
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }; ()
      }
      .trigger(Trigger.Once())
      .option("checkpointLocation", ckptDir())
      .start()
    q.awaitTermination(60000)
    assert(batches.toSeq === Seq(61L))
  }
}
