package graft.stream

import java.util.{Map => JMap}

import scala.io.Source

import graft.model.TdcHit

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 micro-batch replay source for the golden TDC capture —
  * the reference's `simulate_stream.py` (reference
  * `code/test/simulate_stream.py:7-20`) as a first-class Spark source:
  *
  * {{{
  *   spark.readStream.format("graft-tdc-replay")
  *     .option("path", "/data/tdc/test_data.csv") // golden CSV header
  *     .option("rowsPerBatch", 20)
  *     .load()
  * }}}
  *
  * replays the capture `rowsPerBatch` rows per trigger, with REAL
  * checkpointable offsets (row index into the capture) — restart resumes
  * exactly where the last commit left off, the semantics the reference's
  * commit-before-process loop loses. Compared to the staging-directory
  * file-stream replay (`Bench.streamProbe`), nothing is copied and the
  * batch pacing is controlled by admission control, not file boundaries.
  *
  * This is a REPLAY/TEST source by design: the capture (61 rows golden;
  * any same-schema CSV works) is read once on the driver and shipped to
  * executors inside the input partitions — correct for fixture replay,
  * NOT the pattern for a production feed (that is the Kafka source's
  * job; this source exists because the offline image has no broker).
  * Each batch still splits into [[Partitions]] input partitions, so the
  * read path downstream of the source is genuinely parallel.
  */
class TdcReplaySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-tdc-replay"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TdcHit.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // DSv2 options are case-insensitive by convention (.option("PATH")
    // works on every built-in source) — wrap the raw map accordingly
    val opts = new CaseInsensitiveStringMap(properties)
    val perBatch =
      try opts.getInt("rowsPerBatch", TdcReplaySource.DefaultRowsPerBatch)
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"graft-tdc-replay option 'rowsPerBatch' must be an integer: " +
            s"'${opts.get("rowsPerBatch")}'", e)
      }
    new TdcReplayTable(opts.get("path"), perBatch)
  }
}

object TdcReplaySource {
  val DefaultRowsPerBatch = 20
  /** Input partitions per micro-batch (the golden topic has 4). */
  val Partitions = 4

  /** Header-mapped CSV parse of a TDC capture (driver-side, once). */
  private[stream] def readCapture(path: String): Array[TdcHit] = {
    require(path != null, "graft-tdc-replay requires option 'path'")
    val src = Source.fromFile(path)
    try {
      val lines = src.getLines()
      require(lines.hasNext, s"empty capture: $path")
      val idx = lines.next().split(",").map(_.trim).zipWithIndex.toMap
      lines.filter(_.nonEmpty).map { line =>
        val f = line.split(",").map(_.trim)
        TdcHit(
          HEAD = f(idx("HEAD")).toInt,
          FPGA = f(idx("FPGA")).toInt,
          TDC_CHANNEL = f(idx("TDC_CHANNEL")).toInt,
          ORBIT_CNT = f(idx("ORBIT_CNT")).toLong,
          BX_COUNTER = f(idx("BX_COUNTER")).toInt,
          TDC_MEAS = f(idx("TDC_MEAS")).toInt)
      }.toArray
    } finally src.close()
  }
}

private[stream] class TdcReplayTable(path: String, rowsPerBatch: Int)
    extends Table with SupportsRead {
  import scala.jdk.CollectionConverters._

  override def name(): String = s"graft-tdc-replay($path)"
  override def schema(): StructType = TdcHit.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TdcHit.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TdcReplayStream(path, rowsPerBatch)
        override def toBatch: Batch = new TdcReplayBatch(path)
      }
    }
}

/** Offset = number of capture rows already emitted. */
private[stream] case class RowOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private[stream] class TdcReplayStream(path: String, rowsPerBatch: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private lazy val rows = TdcReplaySource.readCapture(path)
  private lazy val total = rows.length.toLong
  // AvailableNow: the end the run must drain to, captured at start.
  @volatile private var availableNowTarget: Option[Long] = None

  override def initialOffset(): Offset = RowOffset(0L)
  override def deserializeOffset(json: String): Offset =
    RowOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(rowsPerBatch.toLong)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(total)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[RowOffset].n
    val cap = availableNowTarget.getOrElse(total)
    limit match {
      case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        RowOffset(math.min(s + rl.maxRows(), cap))
      // Trigger.Once sends ReadAllAvailable: drain the capture in one
      // batch rather than silently stopping after rowsPerBatch rows.
      case _: org.apache.spark.sql.connector.read.streaming.ReadAllAvailable =>
        RowOffset(cap)
      case _ => RowOffset(math.min(s + rowsPerBatch, cap))
    }
  }

  override def reportLatestOffset(): Offset = RowOffset(total)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RowOffset].n.toInt
    val e = end.asInstanceOf[RowOffset].n.toInt
    TdcReplayBatch.slices(rows, s, e, TdcReplaySource.Partitions)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    TdcReplayBatch.readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Batch twin: the whole capture in [[TdcReplaySource.Partitions]]
  * splits — `spark.read.format("graft-tdc-replay")` for symmetry. */
private[stream] class TdcReplayBatch(path: String) extends Batch {
  private lazy val rows = TdcReplaySource.readCapture(path)
  override def planInputPartitions(): Array[InputPartition] =
    TdcReplayBatch.slices(rows, 0, rows.length, TdcReplaySource.Partitions)
  override def createReaderFactory(): PartitionReaderFactory =
    TdcReplayBatch.readerFactory
}

private[stream] object TdcReplayBatch {
  /** Split rows[s, e) into up to `n` contiguous input partitions. */
  def slices(rows: Array[TdcHit], s: Int, e: Int, n: Int): Array[InputPartition] = {
    val span = e - s
    if (span <= 0) Array.empty
    else {
      val per = math.max(1, (span + n - 1) / n)
      (s until e by per)
        .map(lo => TdcSlice(rows.slice(lo, math.min(lo + per, e))))
        .toArray[InputPartition]
    }
  }

  case class TdcSlice(hits: Array[TdcHit]) extends InputPartition

  val readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val hits = p.asInstanceOf[TdcSlice].hits
        private var i = -1
        override def next(): Boolean = { i += 1; i < hits.length }
        override def get(): InternalRow = {
          val h = hits(i)
          new GenericInternalRow(Array[Any](
            h.HEAD, h.FPGA, h.TDC_CHANNEL, h.ORBIT_CNT, h.BX_COUNTER,
            h.TDC_MEAS))
        }
        override def close(): Unit = ()
      }
  }
}
