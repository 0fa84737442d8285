package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's outlier comparison reads the PREVIOUS round's
  * committed line through [[Bench.parseBaselineQueries]] — driver-facing
  * logic that must fail SAFE (empty map = no outlier flags) on anything
  * unexpected, never throw or mis-flag. Pure function, no Spark session.
  */
class BenchSpec extends AnyFunSuite {

  private val line =
    """{"metric":"total","value":170.1,"unit":"sec","queries":{"q_a":0.5,"q_b":2.0,"q_c":0.25},"failures":[],"shuffle_partitions":4,"loadavg":0.5,"certified":true,"sf":"/data/sf0.1"}"""

  test("parses the queries map when the sf matches") {
    val m = Bench.parseBaselineQueries(line, "/data/sf0.1", 4)
    assert(m === Map("q_a" -> 0.5, "q_b" -> 2.0, "q_c" -> 0.25))
  }

  test("sf mismatch yields the empty map (no phantom outliers at sf1)") {
    assert(Bench.parseBaselineQueries(line, "/data/sf1", 4) === Map.empty)
  }

  test("core-count mismatch or a missing core count yields the empty map") {
    // a 32-core close is no comparator for a 4-core run, nor the reverse
    assert(Bench.parseBaselineQueries(line, "/data/sf0.1", 32) === Map.empty)
    assert(Bench.parseBaselineQueries(
      line.replace("\"shuffle_partitions\":4,", ""), "/data/sf0.1", 4)
      === Map.empty)
  }

  test("missing sf field or queries map yields the empty map") {
    assert(Bench.parseBaselineQueries(
      line.replace("\"sf\":\"/data/sf0.1\"", "\"x\":1"), "/data/sf0.1", 4)
      === Map.empty)
    assert(Bench.parseBaselineQueries(
      """{"metric":"total","shuffle_partitions":4,"sf":"/data/sf0.1"}""",
      "/data/sf0.1", 4) === Map.empty)
  }

  test("truncated artifacts never throw (ADVICE r10: total function)") {
    // unterminated sf string — the closing quote never arrives
    assert(Bench.parseBaselineQueries(
      """{"queries":{"q_a":0.5},"shuffle_partitions":4,"sf":"/data/sf0.1""",
      "/data/sf0.1", 4)
      === Map.empty)
    // queries map opened but never closed
    assert(Bench.parseBaselineQueries(
      """{"queries":{"q_a":0.5,"q_b":2.0""", "/data/sf0.1", 4)
      === Map.empty)
    // both truncations at once
    assert(Bench.parseBaselineQueries("""{"queries":{""", "d", 4) === Map.empty)
  }

  test("garbage entries are skipped, numeric ones survive") {
    val noisy =
      """{"queries":{"q_a":0.5,"q_bad":"oops","q_c":1.5},"shuffle_partitions":4,"sf":"d"}"""
    assert(Bench.parseBaselineQueries(noisy, "d", 4)
      === Map("q_a" -> 0.5, "q_c" -> 1.5))
    // malformed JSON is no baseline at all
    assert(Bench.parseBaselineQueries(noisy.replace("\"oops\"", "oops"), "d", 4)
      === Map.empty)
  }

  test("outlier retest classifies transient vs confirmed (VERDICT r12)") {
    val baseline = Map("q_a" -> 1.0, "q_b" -> 1.0, "q_c" -> 1.0)
    // q_a re-ran at baseline (noise), q_b is still 3x (real), q_c's
    // retest failed (-1) — fail-safe to confirmed
    val (confirmed, transient) = Bench.classifyOutliers(
      Seq("q_a", "q_b", "q_c"), baseline,
      Map("q_a" -> 1.2, "q_b" -> 3.0, "q_c" -> -1.0))
    assert(transient === Seq("q_a"))
    assert(confirmed === Seq("q_b", "q_c"))
  }

  test("outlier retest: missing retime or baseline entry is confirmed") {
    // no retime recorded at all (retest machinery itself broke), or the
    // baseline entry vanished between flagging and classification —
    // both must land on the side that degrades the close, never hide
    val (confirmed, transient) = Bench.classifyOutliers(
      Seq("q_x", "q_y"), Map("q_x" -> 1.0), Map("q_y" -> 0.5))
    assert(confirmed === Seq("q_x", "q_y"))
    assert(transient === Seq())
  }

  test("outlier retest: boundary sits exactly at the 2.5x detector line") {
    val (confirmed, transient) = Bench.classifyOutliers(
      Seq("q_at", "q_over"), Map("q_at" -> 1.0, "q_over" -> 1.0),
      Map("q_at" -> 2.5, "q_over" -> 2.5000001))
    assert(transient === Seq("q_at"))
    assert(confirmed === Seq("q_over"))
  }

  test("detector envelope: 1 s absolute-delta floor (VERDICT r13 §5)") {
    // sub-second baseline, 3x ratio but only 0.6 s over: must NOT flag
    assert(!Bench.isOutlier(0.9, 0.3))
    // 1 s -> 3.6 s: ratio 3.6x AND delta 2.6 s — must flag
    assert(Bench.isOutlier(3.6, 1.0))
    // ratio at the line is not over it
    assert(!Bench.isOutlier(2.5, 1.0))
    // big delta but ratio under 2.5x (10 s -> 20 s): not an outlier
    assert(!Bench.isOutlier(20.0, 10.0))
    // delta exactly 1 s is not over the floor (4 s = 4x of 1 s... pick
    // a case where only the floor decides: 0.8 -> 1.8 is 2.25x, use
    // 0.5 -> 1.5: ratio 3x, delta exactly 1.0 — on the floor, no flag)
    assert(!Bench.isOutlier(1.5, 0.5))
    // missing/zero baseline never flags
    assert(!Bench.isOutlier(5.0, 0.0))
  }

  test("retest classification honors the same floor (ADVICE r13)") {
    // q_f: 0.3 s baseline, retest 0.9 s — 3x but under the 1 s floor,
    // the detector would not flag that timing, so the retest must read
    // it as TRANSIENT, not confirm it
    val (confirmed, transient) = Bench.classifyOutliers(
      Seq("q_f", "q_r"), Map("q_f" -> 0.3, "q_r" -> 1.0),
      Map("q_f" -> 0.9, "q_r" -> 3.6))
    assert(transient === Seq("q_f"))
    assert(confirmed === Seq("q_r"))
  }

  test("iowait/steal gate: cpu-line parse picks fields 5+9 (VERDICT r13)") {
    //            user nice sys  idle iowait irq softirq steal guest
    val line = "cpu  100  10   50   800  30     5   5       20    0"
    val (busy, stall, total) = Bench.parseCpuLine(line)
    assert(busy === 160)   // user+nice+system only
    assert(stall === 50)   // iowait + steal
    assert(total === 1020)
    // pre-2.6.33 kernels have no steal field: iowait alone, no throw
    val old = "cpu  100 10 50 800 30 5 5"
    assert(Bench.parseCpuLine(old) === ((160L, 30L, 1000L)))
    // malformed line fails to (-1,-1,-1), the gate-neutral sentinel
    assert(Bench.parseCpuLine("cpu garbage") === ((-1L, -1L, -1L)))
  }

  test("iowait/steal gate: stall fraction from synthetic jiffy deltas") {
    // 40 stall jiffies over a 1000-jiffy window = 4% — under the gate
    assert(Bench.stallFrac(10, 50, 0, 1000) === 0.04)
    // failed snapshot on either side is -1 (gate-neutral, not 0)
    assert(Bench.stallFrac(-1, 50, 0, 1000) === -1.0)
    assert(Bench.stallFrac(10, -1, 0, 1000) === -1.0)
    // no elapsed jiffies cannot divide
    assert(Bench.stallFrac(10, 50, 1000, 1000) === -1.0)
    // counter regression (proc restart) clamps at 0, never negative
    assert(Bench.stallFrac(50, 10, 0, 1000) === 0.0)
  }

  test("no flags means nothing to classify (zero-cost path)") {
    assert(Bench.classifyOutliers(Seq(), Map("q" -> 1.0), Map())
      === ((Seq(), Seq())))
  }

  test("count overrides parse strictly: positive ints only (ADVICE r14)") {
    assert(Bench.parsePosInt("SPARK_GRAFT_CPUS", "32") === 32)
    assert(Bench.parsePosInt("X", " 8 ") === 8)
    for (bad <- Seq("auto", "", "0", "-4", "3.5", "1e3"))
      assertThrows[IllegalArgumentException](Bench.parsePosInt("X", bad))
    // the session's core count reads its knob through the same parser
    assert(GraftConf.cpusFromEnv(4, Map.empty) === 4)
    assert(GraftConf.cpusFromEnv(4, Map("SPARK_GRAFT_CPUS" -> "8")) === 8)
    assertThrows[IllegalArgumentException](
      GraftConf.cpusFromEnv(4, Map("SPARK_GRAFT_CPUS" -> "auto")))
    // and so does the pass count: 0 and negatives no longer clamp to 1
    assert(Bench.passesFromEnv(Map.empty) === 2)
    assert(Bench.passesFromEnv(Map("SPARK_GRAFT_PASSES" -> "3")) === 3)
    for (bad <- Seq("0", "-3", "two"))
      assertThrows[IllegalArgumentException](
        Bench.passesFromEnv(Map("SPARK_GRAFT_PASSES" -> bad)))
  }

  test("SPARK_GRAFT_ONLY: unknown entries fail before any query runs") {
    assert(Bench.onlyFromEnv(Map.empty) === None)
    // a declared query, a stream probe and the IVF recall probe
    assert(Bench.onlyFromEnv(Map("SPARK_GRAFT_ONLY" ->
      "q_agg_group,q_stream_sessions_tws,ivf_lloyd")) ===
      Some(Set("q_agg_group", "q_stream_sessions_tws", "ivf_lloyd")))
    def unknown(v: String) = intercept[IllegalArgumentException](
      Bench.onlyFromEnv(Map("SPARK_GRAFT_ONLY" -> v))).getMessage
    assert(unknown("q_agg_gruop").contains("q_agg_gruop"))
    // a mixed list names every unknown entry, and only those
    val mixed = unknown("q_agg_group,q_nope,q_scan_project,q_also_nope")
    assert(mixed.contains("q_also_nope, q_nope"), mixed)
    assert(!mixed.contains("q_agg_group") && !mixed.contains("q_scan_project"))
    // an empty filter would run nothing as well
    assert(unknown(",").contains("names no entry"))
  }

  test("env_overrides stamp: SPARK_GRAFT_* only, sorted, JSON-escaped") {
    val env = Map(
      "SPARK_GRAFT_PASSES" -> "1",
      "SPARK_GRAFT_ONLY" -> "q_agg_group",
      "SPARK_GRAFT_CPUS" -> "8",
      "PATH" -> "/usr/bin",
      "HOME" -> "/root")
    def line(env: Map[String, String]) = Bench.jsonLine(Bench.envOverrides(env))
    assert(line(env) ===
      """{"SPARK_GRAFT_CPUS":"8","SPARK_GRAFT_ONLY":"q_agg_group","SPARK_GRAFT_PASSES":"1"}""")
    assert(line(Map("HOME" -> "/root")) === "{}")
    // a hostile value, control chars included, cannot break the
    // artifact's JSON: it parses back to itself
    val hostile = "a\"b\\c\nd\te\rf\u0001"
    val back = org.json4s.jackson.JsonMethods.parse(
      line(Map("SPARK_GRAFT_X" -> hostile)))
    assert(back === org.json4s.JObject("SPARK_GRAFT_X" -> org.json4s.JString(hostile)))
  }

  test("close retry: once, only on uncertified, only when enabled (VERDICT r14 #5)") {
    assert(Bench.shouldRetry("uncertified", 1, enabled = true))
    // bounded: never a second retry
    assert(!Bench.shouldRetry("uncertified", 2, enabled = true))
    // "degraded" is a real slowdown to chase, not host noise — no retry
    assert(!Bench.shouldRetry("degraded", 1, enabled = true))
    assert(!Bench.shouldRetry("ok", 1, enabled = true))
    assert(!Bench.shouldRetry("uncertified", 1, enabled = false))
  }

  test("close grading: attempt-2 passes are ok-retry, never ok (ADVICE r15)") {
    assert(Bench.gradeClose(certified = true, confirmed = false, attempt = 1) === "ok")
    // warm-cache/JIT advantaged re-run: indicative only, refresh-ineligible
    assert(Bench.gradeClose(certified = true, confirmed = false, attempt = 2) === "ok-retry")
    // host/outlier gates outrank the attempt distinction
    assert(Bench.gradeClose(certified = false, confirmed = false, attempt = 2) === "uncertified")
    assert(Bench.gradeClose(certified = true, confirmed = true, attempt = 2) === "degraded")
    // and ok-retry never triggers another retry
    assert(!Bench.shouldRetry("ok-retry", 2, enabled = true))
  }

  test("per-entry counters: each entry's tasks, plan phases and shuffle bytes, no other's") {
    // q_scan_project orders its output (a range-partitioned exchange) and
    // q_agg_group hash-partitions its groups, so both shuffle
    val spark = SparkSpec.spark
    val meter = new Bench.Meter(spark)
    // holds the shared listener queue up after every job, as a busy driver
    // does, so a pass's last events are still queued when its query returns
    val lag = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd)
          : Unit = Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(lag)
    val Seq(scan, agg) = try Seq("q_scan_project", "q_agg_group").map(q =>
      Bench.measure(spark, SparkSpec.Sf0001, meter,
        Bench.probes.find(_.name == q).get, 1).counters.get)
    finally {
      spark.sparkContext.removeSparkListener(lag)
      meter.close()
    }
    for (c <- Seq(scan, agg)) {
      assert(c.jobs > 0 && c.total.tasks > 0 && c.total.shufW > 0 &&
        c.planMs.nonEmpty, c)
      // each counted stage holds all of its tasks, by Spark's own count
      c.stages.foreach { case (id, s) =>
        assert(spark.sparkContext.statusTracker.getStageInfo(id)
          .map(_.numCompletedTasks.toLong) === Some(s.tasks), c)
      }
    }
    // no stage, so no task, is counted in both entries
    assert(scan.stages.keySet.intersect(agg.stages.keySet).isEmpty, (scan, agg))
  }

  test("a probe whose body throws is a failed entry and restores every conf it scoped") {
    val spark = SparkSpec.spark
    val parts = "spark.sql.shuffle.partitions"
    // one key the session sets, one no session sets
    val keys = Seq(parts, "graft.bench.scoped")
    val before = keys.map(spark.conf.getOption)
    assert(before.head.isDefined && before(1).isEmpty, before)
    var during = Seq.empty[Option[String]]
    val probe = Bench.Probe("q_throws", 0,
      Map(parts -> "3", "graft.bench.scoped" -> "on"),
      (s, _, _) => {
        during = keys.map(s.conf.getOption)
        throw new IllegalStateException("boom")
      })
    val meter = new Bench.Meter(spark)
    val e = try Bench.measure(spark, SparkSpec.Sf0001, meter, probe, 2)
      finally meter.close()
    assert(during === Seq(Some("3"), Some("on")))
    assert(e === Bench.Entry("q_throws", -1.0, None))
    assert(!e.ok)
    assert(keys.map(spark.conf.getOption) === before)
  }

  test("README's Environment list names exactly the SPARK_GRAFT_* knobs src/main reads") {
    import scala.jdk.CollectionConverters._
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    def names(text: String) = knob.findAllIn(text).toSet
    val main = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val read = try main.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => names(java.nio.file.Files.readString(f))).toSet
    finally main.close()
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    val section = readme.linesIterator
      .dropWhile(_ != "### Environment").drop(1)
      .takeWhile(!_.startsWith("#")).mkString("\n")
    assert(section.nonEmpty, "README.md has no '### Environment' section")
    assert(names(section) === read,
      s"README lists ${(names(section) -- read).toSeq.sorted}, " +
      s"src/main reads unlisted ${(read -- names(section)).toSeq.sorted}")
  }

  test("the committed BENCH_BASELINE.json round-trips through the parser") {
    val p = java.nio.file.Paths.get("BENCH_BASELINE.json")
    assume(java.nio.file.Files.exists(p))
    val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    // the committed baseline is a 32-core close of the driver's sf0.1 dir
    val m = Bench.parseBaselineQueries(s, "/root/testdata/sf0.1", 32)
    assert(m.size > 100, s"baseline parse collapsed: ${m.size} entries")
    assert(m.values.forall(v => v > 0 && v < 600))
  }

  test("the compact line keeps the driver contract on a full synthetic close") {
    import org.json4s.JObject
    import org.json4s.jackson.JsonMethods.parse
    val stage = Bench.Sums(tasks = 12, runMs = 1500, cpuNs = 1234567890L,
      gcMs = 7, shufR = 2048, shufW = 1024)
    val counters = Bench.Counters(jobs = 3,
      stages = Map(1 -> stage, 2 -> Bench.Sums(tasks = 4, runMs = 10)),
      planMs = Map("analysis" -> 1L, "optimization" -> 14L, "planning" -> 6L),
      pairs = Map.empty, compiles = 5, compileMs = 12.3456, drainMs = 10.1234,
      listenerMs = 0.4256)
    val pairs = Map("q_dedup_editdist" -> 283L, "q_text_winnow_pairs" -> 248L)
    val batch = SparkEntry.queries.keys.toSeq.sorted.map(n => Bench.Entry(n,
      1.5, Some(counters.copy(pairs = pairs.filter(_._1 == n)))))
    val stream = Bench.probes.filter(_.batches > 0).map(p =>
      Bench.Entry(p.name, 3.25, Some(counters), p.batches))
    // one failed entry, one confirmed and one transient outlier
    val entries = (batch ++ stream).updated(0, Bench.Entry(batch.head.name, -1.0, None))
    val close = Bench.Close(entries, flagged = Seq("q_agg_group", "q_join_inner"),
      confirmed = Seq("q_agg_group"), transient = Seq("q_join_inner"),
      retimes = Map("q_agg_group" -> 9.87654, "q_join_inner" -> 1.2),
      ivfLloyd = Bench.ivfLloydStamp(30, 16, 18, 19, 24,
        Seq((2, 24L, 2.7219), (3, 23L, 2.72849))),
      passes = 2, cpus = 4, env = Map("SPARK_GRAFT_CPUS" -> "4",
        "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.1",
        "SPARK_GRAFT_BENCH_OUT" -> "bench/bench_r20_sf01.json"),
      attempt = 1, loadavg = 0.52, loadavgEnd = 3.1, settleWait = 0.04,
      extCpuFrac = 0.0123456, iowaitFrac = 0.00004, certified = true,
      sf = "/root/testdata/sf0.1")
    // a comma-decimal default locale must not reach the artifact
    val prior = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val (full, compact) =
      try (Bench.jsonLine(close.full), Bench.jsonLine(close.compact))
      finally java.util.Locale.setDefault(prior)
    def keys(line: String) = parse(line) match {
      case JObject(fs) => fs.map(_._1)
      case v => fail(s"not a JSON object: $v")
    }
    assert(keys(compact) === Seq("metric", "value", "unit", "entries",
      "nfailures", "failures", "outliers", "outliers_confirmed",
      "outliers_transient", "pair_counts", "ivf_lloyd", "passes",
      "shuffle_partitions", "env_overrides", "attempt", "loadavg",
      "loadavg_end", "settle_wait", "ext_cpu_frac", "iowait_frac",
      "certified", "close_quality", "sf"))
    assert(keys(full) === Seq("metric", "value", "unit", "queries",
      "failures", "controls", "stream_batches", "stream_finalize",
      "stream_setup", "stream_phases", "counters", "outliers",
      "outliers_confirmed", "outliers_transient", "retest_secs",
      "pair_counts", "ivf_lloyd", "passes", "shuffle_partitions",
      "env_overrides", "attempt", "loadavg", "loadavg_end", "settle_wait",
      "ext_cpu_frac", "iowait_frac", "certified", "close_quality", "sf"))
    // the driver parses a 2000-character tail of stdout
    assert(compact.length < 2000, compact.length)
    assert(entries.size === 182)
    // fixed-precision stamps keep their trailing zeros
    assert(compact.contains(""""entries":182,"nfailures":1,"""), compact)
    assert(compact.contains(""""settle_wait":0.0,"ext_cpu_frac":0.0123,"iowait_frac":0.0000,"""), compact)
    assert(compact.contains(""""lloyd_sweep":[{"iters":2,"hits":24,"secs":2.722},{"iters":3,"hits":23,"secs":2.728}]"""), compact)
    assert(full.contains(""""retest_secs":{"q_agg_group":9.877,"q_join_inner":1.200}"""), full)
    assert(full.contains(""""run_s":1.510,"cpu_s":1.235,"gc_s":0.007,"""), full)
    assert(full.contains(""""codegen":{"compiles":5,"compile_ms":12.346}"""), full)
    assert(!compact.contains("codegen"), compact)
  }
}
