package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** One TDC hit record — the reference's only concrete data shape
  * (reference `code/test/test_data.csv:1` header).
  *
  * ORBIT_CNT exceeds Int32 (observed ~2.25e9) and is the event-time
  * coarse clock; BX_COUNTER is the bunch crossing within the orbit
  * (0..3563, 25 ns each); TDC_MEAS is the fine time in 25/30 ns ticks.
  *
  * Typed domain layer (SURVEY.md §1): the reference's record schema is
  * implicit — the producer sends whatever pandas inferred from CSV
  * (reference `code/test/simulate_stream.py:7-8`) and the consumer
  * `json.loads`es it unchecked (`code/dask_kafka/core.py:116`). Here the
  * schema is explicit and enforced at the source boundary:
  * `from_json(value, TdcHit.schema)` rejects drift instead of silently
  * re-typing it.
  */
final case class TdcHit(
    HEAD: Int,
    FPGA: Int,
    TDC_CHANNEL: Int,
    ORBIT_CNT: Long,
    BX_COUNTER: Int,
    TDC_MEAS: Int)

object TdcHit {
  /** Explicit transport schema for `from_json` — field order matches the
    * golden CSV header. */
  val schema: StructType = StructType(Seq(
    StructField("HEAD", IntegerType),
    StructField("FPGA", IntegerType),
    StructField("TDC_CHANNEL", IntegerType),
    StructField("ORBIT_CNT", LongType),
    StructField("BX_COUNTER", IntegerType),
    StructField("TDC_MEAS", IntegerType)))

  /** Hit words carry HEAD = 2 (trigger/status words use other tags). */
  val HitHead = 2
}

/** Row of the driver-generated `events` table (TESTDATA.md) — the generic
  * event-stream shape the engine's windowing/sessionization runs over. */
final case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

/** Row of the `documents` table — text-pipeline surface. */
final case class Doc(
    doc_id: Long,
    text: String,
    lang: String,
    source: String,
    n_chars: Long)

/** Row of the `embeddings` table — similarity-search surface. */
final case class Embedding(
    vec_id: Long,
    embedding: Array[Float],
    label: Int)
