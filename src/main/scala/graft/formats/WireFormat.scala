package graft.formats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Format selection (reference F2: `cdcsdk.server.format.{key,value}` picks
 * Json / Avro / Protobuf / CloudEvents per key/value — ServerApp.java:152-161,
 * converter instantiation ConvertingEngineBuilder.java:198-234). Here one
 * config string selects the serializer applied at the sink boundary.
 */
/**
 * Registry-header framing variants for the binary wire formats. The
 * reference selects between Confluent-protocol and Apicurio-protocol
 * converter classes by config (ConvertingEngineBuilder.java:198-234 — e.g.
 * `io.apicurio.registry.utils.converter.AvroConverter` vs the Confluent
 * `AvroConverter`); the two registries differ only in the per-record id
 * framing, which is what this models:
 *
 *  - `confluent`: magic byte + 4-byte big-endian schema id (5-byte header)
 *  - `apicurio`:  magic byte + 8-byte big-endian globalId (9-byte header —
 *                 Apicurio's default serde writes the registry's long
 *                 globalId after the magic byte)
 *
 * The magic byte itself stays per-format (0x00 avro, 0x01 proto — our
 * registry convention); only the id width/interpretation varies.
 */
object RegistryFraming {
  val Confluent = "confluent"
  val Apicurio = "apicurio"

  def headerLen(framing: String): Int = framing match {
    case Confluent => 5
    case Apicurio  => 9
    case other => throw new IllegalArgumentException(s"unknown registry framing $other")
  }

  def header(framing: String, magic: Byte, schemaId: Int): Array[Byte] = framing match {
    case Confluent =>
      Array(magic, (schemaId >> 24).toByte, (schemaId >> 16).toByte,
        (schemaId >> 8).toByte, schemaId.toByte)
    case Apicurio =>
      val id = schemaId.toLong
      val out = new Array[Byte](9)
      out(0) = magic
      var i = 0
      while (i < 8) { out(1 + i) = (id >> (56 - 8 * i)).toByte; i += 1 }
      out
    case other => throw new IllegalArgumentException(s"unknown registry framing $other")
  }

  /** Schema id from a framed record; fails loudly on the wrong magic or a
    * truncated header (a confluent-framed record read as apicurio would
    * otherwise yield a garbage id and a misaligned body). */
  def schemaId(framing: String, magic: Byte, wire: Array[Byte]): Int = {
    val len = headerLen(framing)
    require(wire.length >= len && wire(0) == magic,
      s"bad wire header (framing=$framing, expected magic=$magic)")
    framing match {
      case Confluent =>
        ((wire(1) & 0xff) << 24) | ((wire(2) & 0xff) << 16) |
          ((wire(3) & 0xff) << 8) | (wire(4) & 0xff)
      case _ =>
        var id = 0L
        var i = 0
        while (i < 8) { id = (id << 8) | (wire(1 + i) & 0xffL); i += 1 }
        require(id >= 0 && id <= Int.MaxValue,
          s"apicurio globalId $id outside this registry's int id space")
        id.toInt
    }
  }
}

object WireFormat {

  val Json = "json"
  val Avro = "avro"
  val Proto = "proto"
  val CloudEvents = "cloudevents"

  private def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private val primName: Map[org.apache.spark.sql.types.DataType, String] = {
    import org.apache.spark.sql.types._
    Map(StringType -> "string", LongType -> "int64", IntegerType -> "int32",
      ShortType -> "int16", ByteType -> "int8", DoubleType -> "float64",
      FloatType -> "float32", BooleanType -> "boolean", BinaryType -> "bytes")
  }
  private val primType: Map[String, org.apache.spark.sql.types.DataType] =
    primName.map(_.swap)

  /** Kafka-Connect JSON schema block for a StructType — what the reference
    * embeds per record when `schemas.enable` is on (ServerApp.java:177-183
    * toggling the Debezium JSON converter's schema embedding). Recursive:
    * nested structs/arrays render as Connect `struct`/`array` schema nodes
    * (the converter accepts ANY Connect schema, incl. the unflattened
    * envelope). Constant per schema, so encode inlines it as a string
    * literal: zero per-row cost. Interpolated names are JSON-escaped. */
  def connectSchemaJson(st: StructType, name: String = "graft.cdc.Value"): String = {
    import org.apache.spark.sql.types._
    def typeJson(dt: DataType, optional: Boolean, field: Option[String],
                 structName: Option[String] = None): String = {
      val fieldAttr = field.map(f => s""","field":"${jsonEscape(f)}"""").getOrElse("")
      dt match {
        case s: StructType =>
          val fields = s.fields.map(f => typeJson(f.dataType, f.nullable, Some(f.name)))
            .mkString("[", ",", "]")
          val nameAttr = structName.map(n => s""","name":"${jsonEscape(n)}"""").getOrElse("")
          s"""{"type":"struct","fields":$fields,"optional":$optional$nameAttr$fieldAttr}"""
        case ArrayType(et, containsNull) =>
          s"""{"type":"array","items":${typeJson(et, containsNull, None)},"optional":$optional$fieldAttr}"""
        case MapType(kt, vt, valueContainsNull) =>
          s"""{"type":"map","keys":${typeJson(kt, optional = false, None)},""" +
            s""""values":${typeJson(vt, valueContainsNull, None)},"optional":$optional$fieldAttr}"""
        // Connect LOGICAL types: a named base type (Timestamp/Date/Decimal
        // are what the reference's Debezium JSON converter embeds for
        // temporal/decimal columns; the perf schema's timestamptz rides
        // exactly this way — ConvertingEngineBuilder.java:198-234). NOTE the
        // payload rendering follows Spark's to_json conventions (ISO-8601
        // strings, plain decimal numbers) — self-consistent with our
        // from_json decode, documented divergence from Connect's
        // epoch-millis integers.
        case TimestampType =>
          s"""{"type":"int64","name":"org.apache.kafka.connect.data.Timestamp","version":1,"optional":$optional$fieldAttr}"""
        case TimestampNTZType =>
          // Connect has no NTZ notion; a vendor parameter preserves the
          // Spark-side distinction through a self-describing round trip
          s"""{"type":"int64","name":"org.apache.kafka.connect.data.Timestamp","version":1,""" +
            s""""parameters":{"graft.spark.type":"timestamp_ntz"},"optional":$optional$fieldAttr}"""
        case DateType =>
          s"""{"type":"int32","name":"org.apache.kafka.connect.data.Date","version":1,"optional":$optional$fieldAttr}"""
        case d: DecimalType =>
          s"""{"type":"bytes","name":"org.apache.kafka.connect.data.Decimal","version":1,""" +
            s""""parameters":{"scale":"${d.scale}","connect.decimal.precision":"${d.precision}"},"optional":$optional$fieldAttr}"""
        case p => primName.get(p) match {
          case Some(n) => s"""{"type":"$n","optional":$optional$fieldAttr}"""
          case None => throw new IllegalArgumentException(
            s"schemas.enable JSON does not support field type $p")
        }
      }
    }
    typeJson(st, optional = false, field = None, structName = Some(name))
  }

  /** Parse a Connect JSON schema block back to a StructType — the other half
    * of `schemas.enable`: a self-describing record is decodable from its OWN
    * embedded schema, no registry needed (the reference decodes its offsets
    * exactly this way, MTEngine.java:654-660). */
  def connectSchemaFromJson(json: String): StructType = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(node: com.fasterxml.jackson.databind.JsonNode): org.apache.spark.sql.types.DataType = {
      // named LOGICAL types take precedence over the base type
      node.path("name").asText("") match {
        case "org.apache.kafka.connect.data.Timestamp" =>
          return if (node.path("parameters").path("graft.spark.type")
              .asText("") == "timestamp_ntz")
            org.apache.spark.sql.types.TimestampNTZType
          else org.apache.spark.sql.types.TimestampType
        case "org.apache.kafka.connect.data.Date" =>
          return org.apache.spark.sql.types.DateType
        case "org.apache.kafka.connect.data.Decimal" =>
          val params = node.path("parameters")
          return org.apache.spark.sql.types.DecimalType(
            params.path("connect.decimal.precision").asText("38").toInt,
            params.path("scale").asText("0").toInt)
        case _ =>
      }
      node.get("type").asText() match {
        case "struct" =>
          val fields = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.types.StructField]
          node.get("fields").elements().forEachRemaining { f =>
            fields += org.apache.spark.sql.types.StructField(
              f.get("field").asText(), parse(f), f.path("optional").asBoolean(true))
          }
          org.apache.spark.sql.types.StructType(fields.toArray)
        case "array" =>
          val items = node.get("items")
          org.apache.spark.sql.types.ArrayType(parse(items),
            items.path("optional").asBoolean(true))
        case "map" =>
          val values = node.get("values")
          org.apache.spark.sql.types.MapType(parse(node.get("keys")),
            parse(values), values.path("optional").asBoolean(true))
        case p => primType.getOrElse(p, throw new IllegalArgumentException(
          s"unknown connect schema type '$p'"))
      }
    }
    parse(mapper.readTree(json)) match {
      case st: StructType => st
      case other => throw new IllegalArgumentException(
        s"connect schema block must be a struct, got $other")
    }
  }

  /** CloudEvents 1.0 JSON envelope around the payload struct (deterministic:
    * id = source-assigned lsn, no UUIDs — SURVEY §7.3). Pure expression. */
  def cloudEvents(payload: Column, id: Column, eventType: String,
                  source: String = "/graft/cdc"): Column =
    to_json(struct(
      lit("1.0").as("specversion"),
      id.cast("string").as("id"),
      lit(source).as("source"),
      lit(eventType).as("type"),
      lit("application/json").as("datacontenttype"),
      payload.as("data")))

  /**
   * Serialize `payloadCols` of `df` per the selected format into a `wire`
   * column (string for json/cloudevents, binary for avro/proto), keeping
   * `keep` columns. The JSON path is a pure codegen'd expression; the binary
   * formats are per-partition encoders (see AvroWire/ProtoWire).
   *
   * `idCol` feeds the CloudEvents `id` attribute (1.0 spec: unique per
   * source) — the source-assigned LSN by default, never a payload column
   * picked by position.
   */
  def encode(df: DataFrame, format: String, payloadCols: Seq[String], schemaId: Int,
             keep: Seq[String] = Seq.empty, idCol: String = "lsn",
             schemasEnable: Boolean = false,
             framing: String = RegistryFraming.Confluent): DataFrame = format match {
    case Json =>
      val payload = to_json(struct(payloadCols.map(col): _*))
      // schemas.enable: wrap as {"schema": <connect schema>, "payload": {...}}
      // — the schema block is a per-schema CONSTANT, concatenated as a
      // literal (no per-row schema rendering)
      val wire = if (!schemasEnable) payload else {
        val st = StructType(payloadCols.map(c => df.schema(c)))
        concat(lit(s"""{"schema":${connectSchemaJson(st)},"payload":"""),
          payload, lit("}"))
      }
      df.select(keep.map(col) :+ wire.as("wire"): _*)
    case CloudEvents =>
      df.select(keep.map(col) :+
        cloudEvents(struct(payloadCols.map(col): _*), col(idCol),
          "graft.cdc.change").as("wire"): _*)
    case Avro  => AvroWire.encode(df, payloadCols, schemaId, keep, framing)
    case Proto => ProtoWire.encode(df, payloadCols, schemaId, keep, framing)
    case other => throw new IllegalArgumentException(s"unknown wire format $other")
  }

  /**
   * `schemas.enable` decode driven by the EMBEDDED schema blocks — the whole
   * point of the format: records are self-describing, decodable with no
   * registry (reference MTEngine.java:654-660 restores offsets exactly so).
   * The distinct schema blocks are collected (one per schema VERSION present
   * in the batch — a handful — NOT per row), parsed, and merged across
   * versions (plus the optional registry `fallback`, which seeds field
   * order); the payload decodes with that merged StructType, so a
   * schema-drifted record's added/widened columns read correctly instead of
   * as nulls.
   */
  def decodeEmbedded(df: DataFrame, keep: Seq[String] = Seq.empty,
                     fallback: Option[StructType] = None): DataFrame = {
    // driver-side collect bounded by distinct schema VERSIONS, not rows
    // (partial agg collapses duplicates map-side before the tiny shuffle)
    val embedded = df.select(get_json_object(col("wire"), "$.schema").as("s"))
      .filter(col("s").isNotNull).distinct().collect()
      .map(r => connectSchemaFromJson(r.getString(0)))
    val target = (fallback.toSeq ++ embedded)
      .reduceOption(graft.cdc.SchemaEvolution.merge)
      .getOrElse(throw new IllegalArgumentException(
        "schemas.enable decode: no embedded schema block found and no registry fallback"))
    val env = StructType(Seq(
      org.apache.spark.sql.types.StructField("payload", target)))
    val alias = freshAlias("_e", keep)
    df.select(keep.map(col) :+ from_json(col("wire"), env).as(alias): _*)
      .select(keep.map(col) ++ target.fieldNames.map(n => col(alias)("payload")(n).as(n)): _*)
  }

  /** Name for a decode's intermediate struct column that no `keep` column
    * has (column names resolve case-insensitively), so a kept column is
    * never shadowed by the struct or vice versa. */
  private[formats] def freshAlias(base: String, keep: Seq[String]): String =
    Iterator.iterate(base)("_" + _).find(n => !keep.exists(_.equalsIgnoreCase(n))).get

  /** Deserialize a `wire` column back to flat payload columns. */
  def decode(df: DataFrame, format: String, registry: Map[Int, StructType],
             schemaId: Int, keep: Seq[String] = Seq.empty,
             schemasEnable: Boolean = false,
             framing: String = RegistryFraming.Confluent): DataFrame = format match {
    case Json if schemasEnable =>
      decodeEmbedded(df, keep, registry.get(schemaId))
    case Json =>
      val target = registry(schemaId)
      val alias = freshAlias("_p", keep)
      df.select(keep.map(col) :+ from_json(col("wire"), target).as(alias): _*)
        .select(keep.map(col) ++ target.fieldNames.map(n => col(alias)(n).as(n)): _*)
    case CloudEvents =>
      val target = registry(schemaId)
      val env = StructType(Seq(
        org.apache.spark.sql.types.StructField("data", target)))
      val alias = freshAlias("_e", keep)
      df.select(keep.map(col) :+ from_json(col("wire"), env).as(alias): _*)
        .select(keep.map(col) ++ target.fieldNames.map(n => col(alias)("data")(n).as(n)): _*)
    case Avro  => AvroWire.decode(df, registry, schemaId, keep, framing)
    case Proto => ProtoWire.decode(df, registry, schemaId, keep, framing)
    case other => throw new IllegalArgumentException(s"unknown wire format $other")
  }
}

/**
 * Append-only wire sink: the Spark equivalent of the reference's S3 jsonl
 * sink (S3ChangeConsumer.java:123-150 — serialize each record's value, roll
 * files by size; insert-only, single logical stream), generalized over the
 * four wire formats. Text files for string formats, parquet-with-binary for
 * avro/proto; file sizing via maxRecordsPerFile (the Roller/flush.records
 * equivalent, StorageSinkConnectorConfig.java:31-38).
 */
class WireSink(spark: SparkSession, root: String, format: String,
               maxRecordsPerFile: Long = 0L,
               keyFormat: String = WireFormat.Json,
               schemasEnable: Boolean = false,
               compression: String = "none",
               framing: String = RegistryFraming.Confluent) {

  def epochDir(epochId: Long): String = f"$root/epoch=$epochId"

  private def sized(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) =
    if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w

  /** Write one epoch of serialized records; returns the records written
    * (observed on the write job itself — no second evaluation of the
    * source pipeline). */
  def writeEpoch(events: DataFrame, epochId: Long, payloadCols: Seq[String],
                 schemaId: Int = 0): Long = {
    val obs = org.apache.spark.sql.Observation(s"wire-epoch-$epochId")
    val wire = WireFormat.encode(events, format, payloadCols, schemaId,
        schemasEnable = schemasEnable, framing = framing)
      .observe(obs, count(lit(1)).as("rows"))
    val writer = sized(wire.write.mode("overwrite"))
    format match {
      case WireFormat.Json | WireFormat.CloudEvents =>
        // reference parity: the S3 sink gzips its jsonl objects
        // (cdcsdk-server-s3/.../CompressionType.java); spark text handles
        // the codec both ways
        writer.option("compression", compression).text(epochDir(epochId))
      case _ => writer.parquet(epochDir(epochId))
    }
    obs.get("rows").asInstanceOf[Long]
  }

  /** Read an epoch back to flat payload columns (round-trip check path). */
  def readEpoch(epochId: Long, registry: Map[Int, StructType], schemaId: Int): DataFrame = {
    val raw = format match {
      case WireFormat.Json | WireFormat.CloudEvents =>
        spark.read.text(epochDir(epochId)).withColumnRenamed("value", "wire")
      case _ => spark.read.parquet(epochDir(epochId))
    }
    WireFormat.decode(raw, format, registry, schemaId, schemasEnable = schemasEnable,
      framing = framing)
  }

  /** Kafka-Connect record shape: (key, value) pairs with INDEPENDENTLY
    * selected converters (reference F2, `cdcsdk.server.format.{key,value}` —
    * ServerApp.java:152-153; converter split
    * ConvertingEngineBuilder.java:148-234). The epoch lands as parquet of
    * two wire columns (string or binary per format).
    *
    * `ordered` = per-key ordered delivery (reference PubSub/Kinesis ordering
    * key == record key, PubSubChangeConsumer.java:113-155): hash-partition
    * on the serialized key, sort each partition by (key, lsn), so every
    * key's records land in ONE file in LSN order — the partition-by-key +
    * in-partition-sort a Kafka-partitioned sink gives for free. Requires an
    * `lsn` column on `events`. */
  def writeEpochKV(events: DataFrame, epochId: Long, keyCols: Seq[String],
                   payloadCols: Seq[String], schemaId: Int = 0,
                   ordered: Boolean = false): Long = {
    val obs = org.apache.spark.sql.Observation(s"wire-kv-epoch-$epochId")
    // only CloudEvents (id attribute) and ordered mode need the lsn threaded
    // through — don't impose the column on every input otherwise
    val id = if (ordered || format == WireFormat.CloudEvents
        || keyFormat == WireFormat.CloudEvents) Seq("lsn") else Seq.empty
    val withValue = WireFormat.encode(events, format, payloadCols, schemaId,
        keep = (keyCols ++ id).distinct, schemasEnable = schemasEnable,
        framing = framing)
      .withColumnRenamed("wire", "value")
    // schemas.enable applies to BOTH converters (reference maps the knob to
    // key.converter AND value.converter, ServerApp.java configToProperties)
    val kv0 = WireFormat.encode(withValue, keyFormat, keyCols, schemaId,
        keep = (Seq("value") ++ id).distinct, idCol = "lsn",
        schemasEnable = schemasEnable, framing = framing)
      .withColumnRenamed("wire", "key")
    val kv = (if (!ordered) kv0
      else kv0.repartition(col("key")).sortWithinPartitions(col("key"), col("lsn")))
      .select("key", "value")
      .observe(obs, count(lit(1)).as("rows"))
    sized(kv.write.mode("overwrite")).parquet(epochDir(epochId))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Decode a (key, value) epoch back to flat key + payload columns. */
  def readEpochKV(epochId: Long, keyRegistry: Map[Int, StructType],
                  valueRegistry: Map[Int, StructType], schemaId: Int): DataFrame = {
    val raw = spark.read.parquet(epochDir(epochId))
    val keyFlat = WireFormat.decode(raw.withColumnRenamed("key", "wire"),
      keyFormat, keyRegistry, schemaId, keep = Seq("value"),
      schemasEnable = schemasEnable, framing = framing)
    // keep = whatever key columns actually decoded (registry-less
    // schemas.enable decodes can't consult keyRegistry for the list)
    WireFormat.decode(keyFlat.withColumnRenamed("value", "wire"),
      format, valueRegistry, schemaId,
      keep = keyFlat.columns.toSeq.filterNot(_ == "value"),
      schemasEnable = schemasEnable, framing = framing)
  }
}
