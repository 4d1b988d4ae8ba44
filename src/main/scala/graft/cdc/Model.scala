package graft.cdc

import org.apache.spark.sql.types._

/**
 * Core data model of the CDC engine.
 *
 * The change-event envelope mirrors the Debezium-style payload the reference
 * delivers (flattened form): `{op: c|u|d|r, lsn, key cols, after-image cols,
 * schemaId, ts_ms}` — see reference
 * cdcsdk-server/cdcsdk-server-s3/src/test/java/com/yugabyte/cdcsdk/sink/s3/S3ConsumerIT.java:117-144
 * for the envelope and cdcsdk-server-core/.../ServerApp.java:167-185 for the
 * FLATTEN transform that produces this shape.
 *
 * The keyed table row is the north-rule source-code-repository table:
 * key = (repo, path), payload = (commit, lang, content).
 */
object Model {

  /** A flattened change event. `before`/`after` images are represented by the
    * payload columns directly (null payload on op='d', like a Debezium delete
    * whose `after` is null). */
  case class ChangeEvent(
      lsn: Long,       // log sequence number: the total order (unique per key)
      op: String,      // c=insert, u=update, d=delete, r=snapshot read
      repo: String,    // key part 1
      path: String,    // key part 2
      commit: String,  // after-image
      lang: String,    // after-image
      content: String, // after-image (sha256(content) is the verification invariant)
      schemaId: Int,   // pointer into the event schema registry
      ts_ms: Long      // event wall-clock, derived deterministically from lsn
  )

  /** Final-state row of the keyed snapshot table. */
  case class RepoRow(repo: String, path: String, commit: String, lang: String, content: String)

  /** Per-partition lineage emitted after every applied epoch
    * (north rule: (partition, firstLSN, lastLSN, rowCount, bytes)). */
  case class LineageRow(
      epochId: Long,
      partition: Int,
      firstLSN: Long,
      lastLSN: Long,
      rowCount: Long,
      bytes: Long
  )

  val keyCols: Seq[String] = Seq("repo", "path")
  val payloadCols: Seq[String] = Seq("commit", "lang", "content")

  /** Event schema v0 — the base envelope. */
  val eventSchemaV0: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("content", StringType, nullable = true),
    StructField("schemaId", IntegerType, nullable = false),
    StructField("ts_ms", LongType, nullable = false)
  ))

  /** Table schema v0 (what the snapshot table stores). The key fields are
    * nullable because a merged delta's are: a non-null v0 would register a
    * second schema id, differing only in nullability, on the first merge. */
  val tableSchemaV0: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = true),
    StructField("path", StringType, nullable = true),
    StructField("commit", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("content", StringType, nullable = true)
  ))
}
