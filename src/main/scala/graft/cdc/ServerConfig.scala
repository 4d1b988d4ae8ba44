package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Generic configuration plumbing — the reference server's two config
 * mechanisms re-expressed over the Spark engine:
 *
 *  1. ENV_VAR -> property remap (reference ServerApp.java:237-253 remaps
 *     prefix-scoped environment variables into engine properties):
 *     `GRAFT_ENGINE_FORMAT_VALUE=avro` becomes `graft.engine.format.value`.
 *  2. A config-driven transform (SMT) chain (reference
 *     cdcsdk-engine/.../Transformations.java:50-82 instantiates the chain
 *     from `transforms=a,b` + per-name config strings): the declarative spec
 *     compiles to the SAME column expressions the code-wired operators use,
 *     so a config-built chain produces an identical Catalyst plan.
 */
object ServerConfig {

  /** Prefix-scoped env vars as dotted properties (lowercase, `_` -> `.`). */
  def propsFromEnv(env: Map[String, String], prefix: String = "GRAFT_"): Map[String, String] =
    env.collect { case (k, v) if k.startsWith(prefix) =>
      k.toLowerCase.replace('_', '.') -> v
    }

  /** EngineConfig from dotted properties; absent keys keep the case-class
    * defaults, unknown keys are ignored (forward compatibility, same as the
    * reference passing unknown props through to the connector). */
  def engineConfig(props: Map[String, String]): EngineConfig = {
    val d = EngineConfig()
    def p(k: String) = props.get(s"graft.engine.$k")
    EngineConfig(
      numBuckets = p("num.buckets").map(_.toInt).getOrElse(d.numBuckets),
      saltBuckets = p("salt.buckets").map(_.toInt).getOrElse(d.saltBuckets),
      broadcastThresholdBytes = p("broadcast.threshold.bytes").map(_.toLong)
        .getOrElse(d.broadcastThresholdBytes),
      // offset.flush cadence (reference OFFSET_FLUSH_INTERVAL_MS semantics):
      // 0 = always, >0 = periodic; epochs-based as the third variant
      commitPolicy = p("offset.flush.interval.ms").map(_.toLong) match {
        case Some(0L) | None => p("offset.flush.epochs").map(_.toLong)
          .map(CommitPolicy.everyNEpochs).getOrElse(d.commitPolicy)
        case Some(ms) => CommitPolicy.periodic(ms)
      },
      maxRecordsPerFile = p("max.records.per.file").map(_.toLong).getOrElse(d.maxRecordsPerFile),
      format = p("format.value").getOrElse(d.format),
      keyFormat = p("format.key").getOrElse(d.keyFormat),
      schemasEnable = p("schemas.enable").map(_.toBoolean).getOrElse(d.schemasEnable),
      wireCompression = p("wire.compression").getOrElse(d.wireCompression),
      registryFraming = p("registry.framing").getOrElse(d.registryFraming))
  }

  /**
   * Compile a declarative transform chain to a DataFrame function.
   * `<prefix>` names the ordered chain; `<prefix>.<name>.type` + params
   * configure each step. Supported types (the reference's SMT family):
   *
   *  - `filter`   (T3): keep rows where `field` equals `value`
   *                (`negate=true` drops them instead)
   *  - `regexrouter` (T4, reference RegexRouter): rewrite `field` by
   *                `regex` -> `replacement` (capture groups as `$1`...)
   *  - `hoistfield`  (T5, reference HoistField): nest `fields` (csv) under
   *                a new struct column `into`
   *  - `renamefield` (ReplaceField.renames): rename `from` to `to`
   *  - `maskfield`   (Connect MaskField — the reference instantiates any
   *                stock Connect Transformation class from config,
   *                Transformations.java:50-82): null-out `fields` (csv),
   *                or substitute a literal `replacement` cast to the
   *                column type; `mask.length=N` instead masks a string
   *                column with N `*` chars (the Debezium
   *                `column.mask.with.N.chars` connector-level variant)
   *  - `truncatefield` (Debezium `column.truncate.to.N.chars`): cap string
   *                `fields` at `length` chars
   *  - `unwrap`      (T2, the reference's most-used SMT — FLATTEN /
   *                ExtractNewRecordState expanded into the chain by
   *                ServerApp.java:162-190): decode (key, value) wire JSON
   *                through `Envelope.decodeJson`. Schemas come from config
   *                as Spark DDL: `key.ddl` / `payload.ddl` (e.g.
   *                `user_id BIGINT, k INT`); optional `yb.cells`
   *                (default true — YBExtractNewRecordState cell
   *                normalization) and `with.before` (default false —
   *                REPLICA IDENTITY FULL before_* columns)
   */
  def transformChain(props: Map[String, String],
                     prefix: String = "graft.transforms"): DataFrame => DataFrame = {
    val names = props.get(prefix).toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty)
    val steps: Seq[DataFrame => DataFrame] = names.map { name =>
      def p(k: String): String = props.getOrElse(s"$prefix.$name.$k",
        throw new IllegalArgumentException(s"transform '$name' is missing $prefix.$name.$k"))
      p("type") match {
        case "filter" =>
          val field = p("field"); val value = p("value")
          val negate = props.get(s"$prefix.$name.negate").exists(_.toBoolean)
          (df: DataFrame) =>
            if (negate) df.filter(col(field) =!= value || col(field).isNull)
            else df.filter(col(field) === value)
        case "regexrouter" =>
          val field = p("field"); val regex = p("regex"); val repl = p("replacement")
          (df: DataFrame) => df.withColumn(field, regexp_replace(col(field), regex, repl))
        case "hoistfield" =>
          val fields = p("fields").split(",").map(_.trim).toSeq
          val into = p("into")
          (df: DataFrame) => df.withColumn(into, struct(fields.map(col): _*))
        case "renamefield" =>
          val from = p("from"); val to = p("to")
          (df: DataFrame) => df.withColumnRenamed(from, to)
        case "maskfield" =>
          val fields = p("fields").split(",").map(_.trim).toSeq
          val maskLen = props.get(s"$prefix.$name.mask.length").map(_.toInt)
          val replacement = props.get(s"$prefix.$name.replacement")
          (df: DataFrame) => fields.foldLeft(df) { (d, f) =>
            val dt = d.schema(f).dataType
            val masked = maskLen match {
              case Some(n) => lit("*" * n).cast(dt) // string-mask variant
              case None => replacement.map(r => lit(r).cast(dt))
                .getOrElse(lit(null).cast(dt)) // Connect MaskField default
            }
            d.withColumn(f, masked)
          }
        case "truncatefield" =>
          val fields = p("fields").split(",").map(_.trim).toSeq
          val len = p("length").toInt
          (df: DataFrame) => fields.foldLeft(df)((d, f) =>
            d.withColumn(f, substring(col(f), 1, len)))
        case "unwrap" =>
          // fail loudly at BUILD time on bad DDL (same contract as the
          // other steps), not when the first batch hits the chain
          val keySchema = org.apache.spark.sql.types.StructType.fromDDL(p("key.ddl"))
          val payloadSchema = org.apache.spark.sql.types.StructType.fromDDL(p("payload.ddl"))
          val ybCells = props.get(s"$prefix.$name.yb.cells").forall(_.toBoolean)
          val withBefore = props.get(s"$prefix.$name.with.before").exists(_.toBoolean)
          (df: DataFrame) =>
            Envelope.decodeJson(df, keySchema, payloadSchema, ybCells, withBefore)
        case other =>
          throw new IllegalArgumentException(s"unknown transform type '$other' for '$name'")
      }
    }
    df => steps.foldLeft(df)((d, f) => f(d))
  }
}
