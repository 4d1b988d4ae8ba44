package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Generic config plumbing (reference ServerApp.java:237-253 env remap +
  * Transformations.java:50-82 config-driven SMT chain): env vars become
  * dotted properties, properties build the engine config, and a declarative
  * transform chain compiles to the code-wired column expressions. */
class ServerConfigSpec extends SparkTestBase {

  test("env vars remap to dotted properties, prefix-scoped") {
    val props = ServerConfig.propsFromEnv(Map(
      "GRAFT_ENGINE_FORMAT_VALUE" -> "avro",
      "GRAFT_ENGINE_NUM_BUCKETS" -> "8",
      "HOME" -> "/root", "SPARK_GRAFT_CPUS" -> "4")) // out-of-prefix: dropped
    assert(props == Map(
      "graft.engine.format.value" -> "avro",
      "graft.engine.num.buckets" -> "8"))
  }

  test("engine config from properties: formats, flush cadence, sizing") {
    val cfg = ServerConfig.engineConfig(Map(
      "graft.engine.num.buckets" -> "8",
      "graft.engine.format.value" -> "proto",
      "graft.engine.format.key" -> "avro",
      "graft.engine.schemas.enable" -> "true",
      "graft.engine.wire.compression" -> "gzip",
      "graft.engine.registry.framing" -> "apicurio",
      "graft.engine.max.records.per.file" -> "1000",
      "graft.engine.offset.flush.interval.ms" -> "60000"))
    assert(cfg.numBuckets == 8 && cfg.format == graft.formats.WireFormat.Proto &&
      cfg.keyFormat == graft.formats.WireFormat.Avro)
    assert(cfg.schemasEnable && cfg.wireCompression == "gzip" && cfg.maxRecordsPerFile == 1000L)
    assert(cfg.registryFraming == graft.formats.RegistryFraming.Apicurio)
    assert(!cfg.commitPolicy.performCommit(5, 1000))
    assert(cfg.commitPolicy.performCommit(1, 60001))
    // interval 0 = flush always (reference OFFSET_FLUSH_INTERVAL_MS=0)
    val always = ServerConfig.engineConfig(Map("graft.engine.offset.flush.interval.ms" -> "0"))
    assert(always.commitPolicy.performCommit(1, 0))
    // absent keys keep the defaults
    assert(ServerConfig.engineConfig(Map.empty) == EngineConfig())
  }

  test("an unknown format or framing value fails at config time, naming its key") {
    for (key <- Seq("format.value", "format.key", "registry.framing")) {
      val e = intercept[IllegalArgumentException](
        ServerConfig.engineConfig(Map(s"graft.engine.$key" -> "protobuf")))
      assert(e.getMessage.contains(s"graft.engine.$key"), e.getMessage)
    }
    // every format and framing spelling parses back to its value
    for (f <- graft.formats.WireFormat.all)
      assert(ServerConfig.engineConfig(Map("graft.engine.format.key" -> f.name)).keyFormat == f)
    for (f <- graft.formats.RegistryFraming.all)
      assert(ServerConfig.engineConfig(
        Map("graft.engine.registry.framing" -> f.name)).registryFraming == f)
  }

  test("config-driven transform chain equals the code-wired chain") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val chain = ServerConfig.transformChain(Map(
      "graft.transforms" -> "drop_errors, route, wrap",
      "graft.transforms.drop_errors.type" -> "filter",
      "graft.transforms.drop_errors.field" -> "event_type",
      "graft.transforms.drop_errors.value" -> "error",
      "graft.transforms.drop_errors.negate" -> "true",
      "graft.transforms.route.type" -> "regexrouter",
      "graft.transforms.route.field" -> "event_type",
      "graft.transforms.route.regex" -> "^(.*)$",
      "graft.transforms.route.replacement" -> "stream.$1",
      "graft.transforms.wrap.type" -> "hoistfield",
      "graft.transforms.wrap.fields" -> "event_id,user_id",
      "graft.transforms.wrap.into" -> "payload"))
    val got = chain(ev).select("event_id", "event_type", "payload")
    val want = ev.filter(col("event_type") =!= "error" || col("event_type").isNull)
      .withColumn("event_type", regexp_replace(col("event_type"), "^(.*)$", "stream.$1"))
      .withColumn("payload", struct(col("event_id"), col("user_id")))
      .select("event_id", "event_type", "payload")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }

  test("config-selected unwrap equals the code-wired Envelope.decodeJson") {
    import org.apache.spark.sql.types._
    // real wire records through the production wrap path
    val gen = GenConfig(numKeys = 50, hotKeys = 2)
    val base = EventGen.events(spark, 0, 500, gen)
    val wire = Envelope.wrapJson(base, keyCols = Seq("repo", "path"),
      payloadCols = Seq("commit", "lang"), ybCells = true)
    val chain = ServerConfig.transformChain(Map(
      "graft.transforms" -> "flatten",
      "graft.transforms.flatten.type" -> "unwrap",
      "graft.transforms.flatten.key.ddl" -> "repo STRING, path STRING",
      "graft.transforms.flatten.payload.ddl" -> "commit STRING, lang STRING"))
    val got = chain(wire)
    val want = Envelope.decodeJson(wire,
      StructType.fromDDL("repo STRING, path STRING"),
      StructType.fromDDL("commit STRING, lang STRING"), ybCells = true)
    assert(got.schema == want.schema)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() == 500)
    // bad DDL fails at chain-build time
    intercept[Exception](ServerConfig.transformChain(Map(
      "graft.transforms" -> "f", "graft.transforms.f.type" -> "unwrap",
      "graft.transforms.f.key.ddl" -> "not a ddl ((",
      "graft.transforms.f.payload.ddl" -> "x INT")))
  }

  test("maskfield and truncatefield SMTs: null-out, literal, star-mask, cap") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val chain = ServerConfig.transformChain(Map(
      "graft.transforms" -> "pii,stars,subst,cap",
      "graft.transforms.pii.type" -> "maskfield",          // Connect default: null-out
      "graft.transforms.pii.fields" -> "value",
      "graft.transforms.stars.type" -> "maskfield",        // column.mask.with.6.chars
      "graft.transforms.stars.fields" -> "props",
      "graft.transforms.stars.mask.length" -> "6",
      "graft.transforms.subst.type" -> "maskfield",        // literal replacement, cast
      "graft.transforms.subst.fields" -> "user_id",
      "graft.transforms.subst.replacement" -> "0",
      "graft.transforms.cap.type" -> "truncatefield",      // column.truncate.to.3.chars
      "graft.transforms.cap.fields" -> "event_type",
      "graft.transforms.cap.length" -> "3"))
    val got = chain(ev)
    // masking never changes names or types (nullability may widen: the
    // Connect-default mask writes NULLs)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      ev.schema.map(f => (f.name, f.dataType)))
    val row = got.agg(
      count(col("value")).as("nonNullValues"),
      count_distinct(col("props")).as("distinctProps"),
      max(col("props")).as("p"),
      max(col("user_id")).as("maxUid"),
      max(length(col("event_type"))).as("maxTypeLen")).head()
    assert(row.getLong(0) == 0L)            // value nulled out
    assert(row.getLong(1) == 1L && row.getString(2) == "******")
    assert(row.getLong(3) == 0L)            // user_id replaced by literal 0
    assert(row.getInt(4) <= 3)              // event_type capped at 3 chars
  }

  test("misconfigured chain fails loudly at build time, not mid-stream") {
    intercept[IllegalArgumentException](ServerConfig.transformChain(Map(
      "graft.transforms" -> "x", "graft.transforms.x.type" -> "nope")))
    intercept[IllegalArgumentException](ServerConfig.transformChain(Map(
      "graft.transforms" -> "x", "graft.transforms.x.type" -> "filter")))
  }
}
