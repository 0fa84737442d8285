package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.compact

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.{Bench, GraftConf, Q, SparkEntry}
import graft.stream.Pipelines
import graft.time.OrbitTime

/** Benchmark harness JVM: runs one workload against the engine's public
  * API and writes its raw samples (operation timestamps, micro-batch
  * progress, spans, host stamps, outputs to check) as one JSON file.
  * `run.py` owns the arithmetic, the output checks and the report; this
  * side only measures, so the numbers it records are the ones the
  * program produced.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * out (the JSON file), scratch (Spark's local dir and checkpoints);
  * surface_floor: data (table dir), dump, check (entries to dump for the
  * output check); tdc_monitor: capture, stage-capture, warm-capture
  * (CSV), capture-rows, rows-per-batch, rate (hits/s) and interval-ms.
  */
object Main {

  /** The eight heaviest entries (the six pair stages and the two BPE
    * passes), whose executor work dominates at scale; the floor workload
    * leaves them out. */
  val Heavy: Set[String] = Set("q_text_winnow_pairs", "q_dedup_band_sweep",
    "q_dedup_ngram_jaccard", "q_dedup_embedding_lsh", "q_mm_dedup",
    "q_contamination_fuzzy", "q_bpe_learn", "q_bpe_apply_learned")

  /** Every `surface_floor` run measures the same fixed sample of the
    * batch surface (every `SurfaceStride`-th eligible entry by name), so
    * figures from different seeds compare; the seed only orders it. */
  val SurfaceStride = 21

  /** Session build, input staging and the first operation are repeated
    * this many times per run and reported as a median. */
  val SetupReps = 3

  /** Untimed passes over the surface sample before the timed region. The
    * driver-side code (Catalyst, the scheduler, generated classes) is
    * still being JIT-compiled for the first minute of queries: after one
    * pass each timed pass ran 5-10 % faster than the one before (4-vCPU
    * VM), so where a run's timed region sat on that curve moved its
    * figures; after three the timed passes are level. */
  val WarmPasses = 3

  def surfaceEntries: Seq[Q] =
    SparkEntry.registry
      .filterNot(q => Heavy.contains(q.name) || Bench.Controls(q.name))
      .sortBy(_.name)
      .zipWithIndex.collect { case (q, i) if i % SurfaceStride == 0 => q }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = Main.record()
    out("workload") = workload
    out("seed") = a("seed").toLong
    out("seconds") = seconds
    val cpus = Runtime.getRuntime.availableProcessors()
    val host = new Host
    out("loadavg_start") = Host.loadavg1m()

    val wl: Workload = workload match {
      case "surface_floor" => new BatchWorkload(surfaceEntries, a)
      case "tdc_monitor" => new MonitorWorkload(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, a("scratch"))
      wl.stage(spark)
      (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = setups
    val w0 = System.nanoTime()
    wl.warm(spark)
    out("warm_s") = (System.nanoTime() - w0) / 1e9
    out("conf") = JObject(spark.conf.getAll.toList.sortBy(_._1)
      .map { case (k, v) => k -> JString(v) })

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val gc0 = Host.gcMillis()
    host.start()
    val run0 = Tracer.nowMs()
    wl.run(spark, seconds, out)
    val run1 = Tracer.nowMs()
    host.stop()
    out("jvm_gc_ms") = Host.gcMillis() - gc0
    out("run_ms") = List(run0, run1)
    out("ext_cpu_frac") = host.extCpuFrac
    out("iowait_frac") = host.stallFrac
    out("cpus") = cpus
    tracer.foreach { t => t.close(); out("spans") = t.json }
    wl.dumpOutputs(spark, out)
    out("peak_rss_mb") = Host.peakRssMb()
    spark.stop()
    Files.writeString(Paths.get(a("out")), Main.render(out))
  }

  /** A JSON object under construction; fields keep insertion order. */
  type Record = mutable.LinkedHashMap[String, JValue]

  def record(): Record = mutable.LinkedHashMap.empty

  def render(o: Record): String =
    compact(org.json4s.jackson.JsonMethods.render(JObject(o.toList)))

  /** The session `graft.Bench` builds, at `local[cpus]`. Spark's scratch
    * space and the stream checkpoints stay under `scratch`. */
  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold",
        GraftConf.BypassMergeThreshold)
      .config("spark.sql.optimizer.excludedRules", GraftConf.ExcludedRules)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10min")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Local property that tags every job an operation starts. */
  val OpKey = "perfbench.op"
}

trait Workload {
  type Record = Main.Record

  /** Stage inputs and run the first operation. */
  def stage(spark: SparkSession): Unit
  /** Untimed warm-up: every operation kind once, so class loading,
    * codegen and JIT land before the timed region. */
  def warm(spark: SparkSession): Unit
  /** The timed region: operations for `seconds`, samples into `out`. */
  def run(spark: SparkSession, seconds: Double, out: Record): Unit
  /** Untimed: write what the output checks need. */
  def dumpOutputs(spark: SparkSession, out: Record): Unit
}

/** A closed loop, one client: `Q.fn`, then the noop write, then the next
  * entry, walking seeded permutations of the entries until the time is
  * up. */
final class BatchWorkload(entries: Seq[Q], a: Map[String, String])
    extends Workload {
  private val data = a("data")
  private val rng = new Random(a("seed").toLong)
  private val ran = scala.collection.mutable.LinkedHashSet.empty[String]

  private def exec(spark: SparkSession, q: Q): Unit = {
    graft.Graft.clearCaches(spark)
    q.fn(spark, data).write.format("noop").mode("overwrite").save()
  }

  def stage(spark: SparkSession): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
    exec(spark, entries.head)
  }

  /** `Main.WarmPasses` passes over every entry on the timed tables: the
    * first execution compiles code later ones reuse, and the passes after
    * it carry the JIT past its steep part. The per-entry median of the
    * timed executions absorbs what warming is left. */
  def warm(spark: SparkSession): Unit =
    (1 to Main.WarmPasses).foreach(_ => entries.foreach(exec(spark, _)))

  def run(spark: SparkSession, seconds: Double, out: Record): Unit = {
    val ops = ArrayBuffer.empty[JValue]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var id = 0
    while (System.nanoTime() < end) {
      for (q <- rng.shuffle(entries) if System.nanoTime() < end) {
        graft.Graft.clearCaches(spark)
        spark.sparkContext.setLocalProperty(Main.OpKey, id.toString)
        val t0 = Tracer.nowMs()
        val r = try {
          val df = q.fn(spark, data)
          val t1 = Tracer.nowMs()
          df.write.format("noop").mode("overwrite").save()
          Right(t1)
        } catch { case e: Exception => Left(e.toString) }
        val t2 = Tracer.nowMs()
        spark.sparkContext.setLocalProperty(Main.OpKey, null)
        ran += q.name
        ops += ("id" -> id) ~ ("name" -> q.name) ~ ("t0" -> t0) ~ ("t1" -> r.getOrElse(t2)) ~ ("t2" -> t2) ~
          ("error" -> r.left.toOption)
        id += 1
      }
    }
    out("ops") = ops.toList
  }

  def dumpOutputs(spark: SparkSession, out: Record): Unit = {
    val dir = a("dump")
    val recount = Main.record()
    // a seeded sample of the executed entries keeps the check's cost
    // bounded; over a set of seeds every entry is checked
    val checked = new Random(a("seed").toLong + 1)
      .shuffle(ran.toSeq).take(a("check").toInt)
    checked.foreach { name =>
      val q = entries.find(_.name == name).get
      try {
        graft.Graft.clearCaches(spark)
        q.fn(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$name")
        // an entry without an oracle is checked by row count
        if (q.oracle.isEmpty) {
          graft.Graft.clearCaches(spark)
          recount(name) = q.fn(spark, data).count()
        }
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] dump of $name failed: $e")
      }
    }
    val oracle = checked.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => n -> JString(sql)))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Main.render(mutable.LinkedHashMap(oracle: _*)))
    out("dump") = dir
    out("checked") = checked.toList
    out("recount") = JObject(recount.toList)
  }
}

/** The paper's online monitor as an open loop: `graft-tdc-replay` ->
  * orbit event time -> `Pipelines.occupancy` in update mode, into a
  * memory table the output check reads back. The source admits
  * `rate x interval` hits per `Trigger.ProcessingTime(interval)` trigger
  * whether or not the engine kept up, until the capture (`rate x seconds`
  * hits plus two set-up triggers) is exhausted. */
final class MonitorWorkload(a: Map[String, String]) extends Workload {
  private val interval = a("interval-ms").toLong
  private var n = 0
  private val progress = new ArrayBuffer[StreamingQueryListener.QueryProgressEvent]
  private var sink: Option[String] = None

  private def start(spark: SparkSession, capture: String,
      trigger: Trigger): StreamingQuery = {
    n += 1
    val hits = spark.readStream.format("graft-tdc-replay")
      .option("path", capture).option("rowsPerBatch", a("rows-per-batch"))
      .load()
      .withColumn("ts", OrbitTime.orbitTimestamp(col("ORBIT_CNT")))
    Pipelines.occupancy(hits)
      .writeStream.format("memory").queryName(s"occ_$n")
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", s"${a("scratch")}/ckpt/occ_$n")
      .start()
  }

  /** A `Trigger.AvailableNow` replay of a small capture: the first
    * operation of set-up. */
  def stage(spark: SparkSession): Unit = replay(spark, a("stage-capture"))

  /** The same on the larger warm-up capture. */
  def warm(spark: SparkSession): Unit = replay(spark, a("warm-capture"))

  private def replay(spark: SparkSession, capture: String): Unit =
    start(spark, capture, Trigger.AvailableNow()).awaitTermination()

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def run(spark: SparkSession, seconds: Double, out: Record): Unit = {
    spark.streams.addListener(listener)
    val total = a("capture-rows").toLong
    val q = start(spark, a("capture"), Trigger.ProcessingTime(interval))
    sink = Some(s"occ_$n")
    // wait until the last hit is committed, or give up at 3x the offered
    // duration
    val deadline = System.nanoTime() + (3 * seconds * 1e9).toLong
    def done = progress.synchronized(progress.exists(e =>
      e.progress.runId == q.runId &&
        e.progress.sources.head.endOffset.toLong >= total))
    while (!done && System.nanoTime() < deadline && q.isActive)
      Thread.sleep(5)
    q.stop()
    spark.streams.removeListener(listener)
    out("batches") = progress.synchronized(progress.toList)
      .filter(_.progress.runId == q.runId).map { e =>
        val p = e.progress
        val so = p.stateOperators.headOption
        val src = p.sources.head
        def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
          so.map(f).getOrElse(0L)
        ("id" -> p.batchId) ~
          ("start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli) ~
          ("rows" -> p.numInputRows) ~
          ("start_off" -> Option(src.startOffset).map(_.toLong).getOrElse(0L)) ~
          ("end_off" -> src.endOffset.toLong) ~
          ("duration_ms" -> JObject(p.durationMs.asScala.toList.sortBy(_._1)
            .map { case (k, v) => k -> JLong(v.longValue) })) ~
          ("state_rows" -> state(_.numRowsTotal)) ~
          ("state_mem" -> state(_.memoryUsedBytes)) ~
          ("state_commit_ms" -> state(_.commitTimeMs)) ~
          ("state_update_ms" -> state(_.allUpdatesTimeMs)) ~
          ("state_removal_ms" -> state(_.allRemovalsTimeMs)) ~
          ("state_dropped" -> state(_.numRowsDroppedByWatermark))
      }
  }

  def dumpOutputs(spark: SparkSession, out: Record): Unit =
    // final occupancy per (FPGA, channel): in update mode the last
    // update of a window carries its count, which only grows
    out("occupancy") = sink.toList.flatMap { t =>
      spark.table(t).groupBy("win_start", "FPGA", "TDC_CHANNEL")
        .agg(org.apache.spark.sql.functions.max("n_hits").as("n"))
        .groupBy("FPGA", "TDC_CHANNEL")
        .agg(org.apache.spark.sql.functions.sum("n").as("n"))
        .collect().toList.sortBy(r => (r.getInt(0), r.getInt(1)))
        .map(r => List(r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2)))
    }
}
