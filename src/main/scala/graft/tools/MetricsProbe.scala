package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scratch measurement main (dev only, round 18): run one or more
  * declared queries through the noop sink and print the SUMMED task
  * metrics — executor run/CPU time, GC, shuffle bytes, spill — beside
  * the wall clock. Wall clock on this sandbox swings ±40% with ambient
  * host noise (measured r18: the same winnow spelling read 64.2 s and
  * 116.0 s back to back), while executor CPU time and byte counters are
  * workload properties, so A/Bs of a rewrite compare THESE, with wall
  * clock reported only as context. Not part of the driver contract.
  *
  * Usage: runMain graft.tools.MetricsProbe <sfDir> <query>[,query...]
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_THREAD_DUMP_AT,
  * SPARK_GRAFT_STAGE_DETAIL (both off by default).
  */
object MetricsProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = graft.GraftConf.builder(
      graft.GraftConf.cpusFromEnv(defaultCpus = 32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var run = 0L; @volatile var cpu = 0L; @volatile var gc = 0L
    @volatile var srb = 0L; @volatile var swb = 0L
    @volatile var mspill = 0L; @volatile var dspill = 0L
    @volatile var tasks = 0L
    // per-stage rollup: stageId -> (tasks, run, cpu, shufR, shufW, spillM, spillD)
    val stages = scala.collection.mutable.SortedMap.empty[Int, Array[Long]]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) synchronized {
          run += m.executorRunTime; cpu += m.executorCpuTime / 1000000L
          gc += m.jvmGCTime
          srb += m.shuffleReadMetrics.totalBytesRead
          swb += m.shuffleWriteMetrics.bytesWritten
          mspill += m.memoryBytesSpilled; dspill += m.diskBytesSpilled
          tasks += 1
          val a = stages.getOrElseUpdate(t.stageId, new Array[Long](7))
          a(0) += 1; a(1) += m.executorRunTime
          a(2) += m.executorCpuTime / 1000000L
          a(3) += m.shuffleReadMetrics.totalBytesRead
          a(4) += m.shuffleWriteMetrics.bytesWritten
          a(5) += m.memoryBytesSpilled; a(6) += m.diskBytesSpilled
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // SPARK_GRAFT_THREAD_DUMP_AT=<sec>[,<sec>...]: print executor-thread
    // stacks that long after start — external attach (jstack/jcmd/SA) is
    // blocked in this sandbox, so the guide §7.3 "where are the blocked
    // threads" question is answered in-process.
    sys.env.get("SPARK_GRAFT_THREAD_DUMP_AT").foreach { spec =>
      val at = spec.split(",").map(_.trim.toLong)
      val t = new Thread(() => {
        var prev = 0L
        at.foreach { sec =>
          Thread.sleep(math.max(0L, (sec - prev) * 1000)); prev = sec
          println(s"==== thread dump @${sec}s ====")
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
            if (th.getName.startsWith("Executor task launch")) {
              println(s"-- ${th.getName} state=${th.getState}")
              st.take(28).foreach(f => println(s"   at $f"))
            }
          }
        }
      })
      t.setDaemon(true); t.start()
    }
    for (name <- names.split(",")) {
      run = 0; cpu = 0; gc = 0; srb = 0; swb = 0; mspill = 0; dspill = 0; tasks = 0
      stages.clear()
      graft.Graft.clearCaches(spark)
      System.gc()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async — give it a moment to drain before reading
      // the counters (dev tool; a fixed sleep is fine here)
      Thread.sleep(1500)
      println(f"[metrics] $name wall=$wall%.1fs tasks=$tasks " +
        f"run=${run / 1e3}%.1fs cpu=${cpu / 1e3}%.1fs gc=${gc / 1e3}%.1fs " +
        f"shufR=${srb / 1e9}%.2fGB shufW=${swb / 1e9}%.2fGB " +
        f"spillMem=${mspill / 1e9}%.2fGB spillDisk=${dspill / 1e9}%.2fGB")
      if (sys.env.get("SPARK_GRAFT_STAGE_DETAIL").contains("1"))
        stages.foreach { case (id, a) =>
          if (a(1) > 1000 || a(5) > 0)
            println(f"[stage] $id%5d tasks=${a(0)}%4d run=${a(1) / 1e3}%8.1fs " +
              f"cpu=${a(2) / 1e3}%8.1fs shufR=${a(3) / 1e9}%7.2fGB " +
              f"shufW=${a(4) / 1e9}%7.2fGB spillM=${a(5) / 1e9}%7.2fGB " +
              f"spillD=${a(6) / 1e9}%7.2fGB")
        }
    }
    spark.stop()
  }
}
