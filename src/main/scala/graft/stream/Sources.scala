package graft.stream

import graft.model.TdcHit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream/batch sources and sinks — the Spark shape of the reference's
  * ingestion layer (SURVEY.md §3 EP1/EP2).
  *
  * The reference hand-rolls offset-range planning, partition fan-out,
  * empty-partition skip, worker-side consumer caching and at-most-once
  * commits (reference `code/dask_kafka/core.py:27-122`). All of that is
  * internal to Spark's Kafka source: topic partitions map 1:1 to input
  * partitions, offset planning lives in the micro-batch planner, and the
  * checkpoint WAL upgrades the reference's at-most-once commit
  * (`core.py:119-120`) to exactly-once per sink epoch. Nothing here
  * re-implements transport — these helpers only fix schemas and options.
  *
  * NOTE: the kafka format needs `spark-sql-kafka-0-10` on the cluster
  * classpath (not shipped in this offline image — the wiring compiles and
  * is exercised against memory/rate/file sources in tests instead).
  */
object Sources {

  /** The option map [[kafkaStream]] hands the Kafka source — factored out
    * so the wiring is unit-testable without a broker (the format itself
    * can't load in this offline image, so an option typo would otherwise
    * hide until deployment). */
  private[stream] def kafkaStreamOptions(
      bootstrap: String,
      topic: String,
      batchSize: Long,
      startingOffsets: String,
      minPartitions: Option[Int]): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "maxOffsetsPerTrigger" -> batchSize.toString)
    // minPartitions oversplits topic-partitions into more input splits
    // than the 1:1 default — the lever when executor count exceeds the
    // topic's partition count (the reference is pinned to its 4).
    minPartitions.fold(base)(n => base + ("minPartitions" -> n.toString))
  }

  /** Streaming Kafka source configured like the reference's reader:
    * `batchSize` caps records per partition per micro-batch, the analogue
    * of `KafkaReader(batch_size=...)` (`core.py:12`, applied `core.py:111`)
    * via `maxOffsetsPerTrigger`; cold start from earliest mirrors
    * `auto.offset.reset='earliest'` (`core.py:23`). */
  def kafkaStream(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      batchSize: Long = 10000L,
      startingOffsets: String = "earliest",
      minPartitions: Option[Int] = None): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaStreamOptions(
        bootstrap, topic, batchSize, startingOffsets, minPartitions))
      .load()

  /** Bounded Kafka read over an explicit offset range — the batch analogue
    * of one `read_batch()` call (`core.py:27-73`), with Spark doing the
    * per-partition range planning. */
  private[stream] def kafkaBatchOptions(
      bootstrap: String,
      topic: String,
      startingOffsets: String,
      endingOffsets: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets,
    "endingOffsets" -> endingOffsets)

  def kafkaBatch(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      startingOffsets: String = "earliest",
      endingOffsets: String = "latest"): DataFrame =
    spark.read
      .format("kafka")
      .options(kafkaBatchOptions(bootstrap, topic, startingOffsets, endingOffsets))
      .load()

  /** Decode a Kafka-shaped frame (binary `value` column) of JSON hit
    * records into typed TdcHit columns — replaces the reference's
    * per-record `json.loads` (`core.py:114-116`) with a vectorized,
    * schema-checked parse. Records that fail the schema come out as
    * nulls; `dropMalformed` filters them. */
  def decodeHits(kafkaFrame: DataFrame, dropMalformed: Boolean = true): DataFrame = {
    val parsed = kafkaFrame
      .select(from_json(col("value").cast("string"), TdcHit.schema).as("h"))
      .select(col("h.*"))
    if (dropMalformed) parsed.filter(col("ORBIT_CNT").isNotNull) else parsed
  }

  /** CSV hit scan with the explicit schema (reference reads with pandas
    * inference, `simulate_stream.py:7`). */
  def hitsFromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(TdcHit.schema).csv(path)

  /** Producer-side encoding: one JSON object per row in `value`, matching
    * the reference's transport shape (`simulate_stream.py:19`). With no
    * key column the Kafka sink round-robins partitions — the default
    * partitioner does what the reference's explicit
    * `curr_part=(curr_part+1)%n_part` loop does (`simulate_stream.py:20`).
    * Pass `explicitPartitions=Some(n)` to pin the round-robin in the data
    * itself (adds the `partition` column the sink honors). */
  def toKafkaJson(hits: DataFrame, explicitPartitions: Option[Int] = None): DataFrame = {
    val base = hits.select(to_json(struct(hits.columns.toIndexedSeq.map(col): _*)).as("value"))
    explicitPartitions match {
      case Some(n) =>
        base.withColumn(
          "partition",
          pmod(spark_partition_id().cast("long") + monotonically_increasing_id(), lit(n.toLong))
            .cast("int"))
      case None => base
    }
  }

  /** Write a batch frame to a Kafka topic (EP2's producer; backpressure,
    * buffering and flush are the sink's own — `simulate_stream.py:21-26`
    * has no analogue to write). */
  def writeKafka(jsonFrame: DataFrame, bootstrap: String, topic: String): Unit =
    jsonFrame.write
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .save()
}
