package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.json4s._
import org.json4s.JsonDSL._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: Spark's public listeners, registered only
  * with `--trace 1`. Jobs carry the operation tag (`Main.OpKey`); a
  * stream job belongs to the micro-batch whose interval it starts in;
  * stages and tasks hang off their job; each query execution's Catalyst
  * phases carry their own start and end times. Everything is held in
  * memory and written out once, after the timed region. */
final class Tracer(spark: SparkSession) {
  private val jobs = ArrayBuffer.empty[JValue]
  private val jobEnds = ArrayBuffer.empty[JValue]
  private val stages = ArrayBuffer.empty[JValue]
  private val tasks = ArrayBuffer.empty[JValue]
  private val plans = ArrayBuffer.empty[JValue]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs += ("job" -> e.jobId) ~ ("start" -> e.time) ~
        ("op" -> prop(Main.OpKey).map(_.toLong)) ~
        ("stages" -> e.stageIds.toList)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnds += List(e.jobId.toLong, e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        stages += ("stage" -> s.stageId) ~
          ("start" -> s.submissionTime.getOrElse(0L)) ~
          ("end" -> s.completionTime.getOrElse(0L)) ~ ("tasks" -> s.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        tasks += List[JValue](e.stageId, i.launchTime, i.finishTime,
          m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
          m.executorDeserializeTime, m.resultSerializationTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          sr.remoteBytesRead + sr.localBytesRead, sr.recordsRead,
          sr.fetchWaitTime, m.diskBytesSpilled, m.memoryBytesSpilled)
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    plans += JObject(qe.tracker.phases.toList.sortBy(_._1).map {
      case (k, p) => k -> (List(p.startTimeMs, p.endTimeMs): JValue)
    })
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Unhook and wait for queued listener events to arrive. */
  def close(): Unit = {
    // events are delivered asynchronously; give the bus a moment to drain
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  def json: JValue = synchronized {
    ("jobs" -> jobs.toList) ~ ("job_ends" -> jobEnds.toList) ~
      ("stages" -> stages.toList) ~ ("tasks" -> tasks.toList) ~
      ("plans" -> plans.toList) ~
      ("task_fields" -> List("stage", "launch", "finish", "run_ms", "cpu_ms",
        "gc_ms", "deser_ms", "ser_ms", "in_bytes", "in_records",
        "shuf_w_bytes", "shuf_r_bytes", "shuf_r_records", "fetch_wait_ms",
        "spill_disk", "spill_mem"))
  }
}

object Tracer {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Wall-clock epoch milliseconds with sub-millisecond resolution, on
    * the same clock Spark's listener events use. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}
