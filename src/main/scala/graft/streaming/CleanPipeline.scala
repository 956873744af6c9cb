package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.CleanJob

/** Streaming form of the reference DataClean job
  * (DataClean.java:37-114): Kafka-shaped JSON line stream -> parse ->
  * explode -> broadcast-dim enrich -> sink.
  *
  * Reference topology mapping (SURVEY §3.1):
  *  - Kafka consumer source (S1) -> any streaming DataFrame with a
  *    `line` string column (`readStream.format("kafka")` + CAST(value)
  *    in production; MemoryStream in tests — the transform is source-
  *    agnostic).
  *  - Redis polling dim source (S2, 60 s refresh) -> stream-static
  *    join: Structured Streaming re-plans the static side every
  *    micro-batch, so a dim DataFrame built from a re-readable source
  *    refreshes at batch cadence — same last-write-wins semantics as
  *    the reference's CoFlatMap dim swap (DataClean.java:94-96), and
  *    like the reference there is no fact buffering: facts seen before
  *    a dim row default to area "other".
  *  - The enrich itself (J1/P10) is the SAME code as the batch path:
  *    CleanJob.enrich — DataFrame transforms are batch/stream agnostic.
  *  - Kafka EXACTLY_ONCE sink (K1) -> foreachBatch + idempotent write;
  *    Spark's sink contract is at-least-once with deterministic batch
  *    ids, so an idempotent/keyed sink yields the same observable
  *    exactly-once (the reference's own ES-id trick, SURVEY §2.5 K2).
  *    The transactional-producer form — per-batch Kafka transaction,
  *    atomic progress marker, replay skipping, zombie fencing — is
  *    CODE at [[KafkaEosSink]] (logic unit-tested with a fake
  *    producer; the kafka-clients binding is a reflective factory
  *    since the sandbox ships no broker or jar).
  *
  * Checkpointing (R2): `checkpointLocation` gives the micro-batch
  * commit log; trigger interval plays the reference's 60 s checkpoint
  * cadence.
  */
object CleanPipeline {

  /** Source-agnostic transform: streaming `line` column -> enriched
    * rows. Identical semantics to the batch CleanJob. */
  def transform(lines: DataFrame, dim: DataFrame): DataFrame =
    CleanJob.enrich(lines, dim)

  /** File-based line source (S1 stand-in runnable in this harness:
    * the container ships no Kafka broker/connector; in production the
    * source swaps for `format("kafka").option("subscribe", topic)` +
    * CAST(value AS STRING) with zero changes downstream). */
  def fromTextDir(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir).withColumnRenamed("value", "line")

  /** S1 proper: the Kafka consumer as a Spark micro-batch source over
    * the repo's own wire client ([[graft.sources.KafkaWireSource]],
    * Fetch v4 read_committed — reference `DataClean.java:58-66`).
    * Same `line` column contract as [[fromTextDir]]; everything
    * downstream is unchanged. */
  def fromKafkaWire(spark: SparkSession, host: String, port: Int,
      topic: String): DataFrame =
    spark.readStream.format("kafka-wire")
      .option("host", host).option("port", port.toString)
      .option("topic", topic)
      .load()
      .selectExpr("value AS line")

  /** The CONFIG-ONLY production swap (docs/CONNECTORS.md S1): Spark's
    * built-in Kafka connector under the same `line` contract — the
    * one-liner a user wires against a real cluster, where the
    * connector's consumer-group metadata, SASL/TLS auth, and
    * multi-broker topology take over from the wire client. Compiles
    * with no Kafka jar (DataSourceV2 resolves `format("kafka")` at
    * RUNTIME); in this sandbox invoking it fails fast with
    * class-not-found, by design. `extraOptions` passes auth/tuning
    * (e.g. "kafka.security.protocol" -> "SASL_SSL"). */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String,
      extraOptions: Map[String, String] = Map.empty): DataFrame =
    extraOptions.foldLeft(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .option("maxOffsetsPerTrigger", "1000000")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
      .selectExpr("CAST(value AS STRING) AS line")

  /** File sink variant (K1 stand-in): exactly-once via Spark's
    * transactional file-sink commit log, the strongest guarantee
    * available without a transactional broker. */
  def startToParquet(
      lines: DataFrame,
      dim: DataFrame,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    transform(lines, dim).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Start the pipeline with a foreachBatch sink (tests pass a memory
    * sink; production would write Kafka/parquet). */
  def start(
      lines: DataFrame,
      dim: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    Gate.start(transform(lines, dim), checkpointDir, trigger)(sink)
}
