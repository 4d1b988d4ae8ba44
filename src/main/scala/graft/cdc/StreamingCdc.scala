package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Structured Streaming front-end: tail a directory of change-event parquet
 * files (the stand-in for a binlog/WAL tail — the reference's
 * `task.poll()` loop, MTEngine.java:879-934) and apply each micro-batch
 * through the same exactly-once epoch path as the batch engine.
 *
 * Offsets: Spark's streaming checkpoint stores WHICH files each micro-batch
 * contained; the table manifest's epoch ledger makes a
 * re-delivered batch (checkpoint replay after crash) a no-op. Together these
 * give end-to-end exactly-once — the strengthened version of the reference's
 * at-least-once `markProcessed`/offset-flush contract
 * (MTEngine.java:1012-1138).
 */
object StreamingCdc {

  /** Start the stream. Caller stops the query (tests use
    * `processAllAvailable()` for deterministic drains). */
  def start(spark: SparkSession, engine: CdcEngine, eventsDir: String,
            checkpointDir: String, maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val stream = spark.readStream
      .schema(Model.eventSchemaV0)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(eventsDir)

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
        engine.applyEpoch(batch, epochId)
        // In streaming, staged (deferred-policy) epochs MUST become durable
        // before this callback returns: Spark's checkpoint marks the batch
        // committed at return and will never re-deliver it, so a staged
        // epoch lost to a crash would be lost forever (unlike batch replay,
        // where deterministic regeneration re-applies it). Deferred commit
        // policies therefore degrade to per-batch flush here — the price of
        // exactly-once over a non-replayable delivery channel.
        engine.flush()
        ()
      }
      .start()
  }

  /** The complete real-world shape, streaming: tail (key, value) WIRE
    * records — nested Debezium-envelope JSON with YB cells — decode each
    * micro-batch (Envelope.decodeJson: from_json + cell normalization +
    * flatten), then the same exactly-once epoch path. This is the pipeline a
    * user pointing the engine at actual Debezium output runs end to end. */
  def startDecoded(spark: SparkSession, engine: CdcEngine, wireDir: String,
                   checkpointDir: String,
                   keySchema: StructType = StructType(Seq(
                     StructField("repo", StringType), StructField("path", StringType))),
                   payloadSchema: StructType = StructType(Seq(
                     StructField("commit", StringType), StructField("lang", StringType),
                     StructField("content", StringType))),
                   maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val wireSchema = StructType(Seq(
      StructField("key", StringType), StructField("value", StringType)))
    val stream = spark.readStream
      .schema(wireSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(wireDir)

    val deadLetterDir = s"${engine.table.root}/deadletter"
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
        // corrupt-record guard: a wire record whose envelope fails to parse
        // (or parses without lsn/op) would decode to null lsn/op and reach
        // the merge as a key-eating no-payload row — divert the ORIGINAL
        // wire record to a dead-letter dir instead and keep streaming
        // (Kafka-Connect errors.tolerance=all + DLQ semantics)
        val parsed = batch.withColumn("_env",
          from_json(col("value"), Envelope.envelopeSchema(payloadSchema, ybCells = true)))
        parsed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val bad = parsed.filter(col("_env").isNull ||
            col("_env")("source")("lsn").isNull || col("_env")("op").isNull)
          // overwrite the epoch-keyed DLQ dir, never append: a checkpoint
          // replay re-delivers the batch (same epochId) and an append would
          // duplicate the dead letters — this is the DLQ's analogue of the
          // main table's epoch-ledger fencing
          if (!bad.isEmpty)
            engine.table.writer(bad.select("key", "value")).mode("overwrite")
              .parquet(s"$deadLetterDir/epoch=$epochId")
          val good = parsed.filter(col("_env").isNotNull &&
              col("_env")("source")("lsn").isNotNull && col("_env")("op").isNotNull)
            .select("key", "value")
          val decoded = Envelope.decodeJson(good, keySchema, payloadSchema)
            .withColumn("schemaId", lit(0)).drop("txId")
          engine.applyEpoch(decoded, epochId)
          engine.flush() // see start(): durable before the checkpoint commits
        } finally parsed.unpersist()
        ()
      }
      .start()
  }
}
