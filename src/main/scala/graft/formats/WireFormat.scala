package graft.formats

import org.apache.spark.sql.{Column, DataFrame, ExprColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, StructField, StructType}

import java.io.ByteArrayOutputStream

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
sealed abstract class RegistryFraming(val name: String, val headerLen: Int)
    extends Serializable {
  override def toString: String = name

  def header(magic: Byte, schemaId: Int): Array[Byte]

  /** the id bytes of a header already checked for length and magic */
  protected def readId(wire: Array[Byte]): Int

  /** Schema id from a framed record; fails loudly on the wrong magic or a
    * truncated header (a confluent-framed record read as apicurio would
    * otherwise yield a garbage id and a misaligned body). */
  def schemaId(magic: Byte, wire: Array[Byte]): Int = {
    require(wire.length >= headerLen && wire(0) == magic,
      s"bad wire header (framing=$name, expected magic=$magic)")
    readId(wire)
  }
}

object RegistryFraming {
  object Confluent extends RegistryFraming("confluent", 5) {
    def header(magic: Byte, schemaId: Int): Array[Byte] =
      Array(magic, (schemaId >> 24).toByte, (schemaId >> 16).toByte,
        (schemaId >> 8).toByte, schemaId.toByte)
    protected def readId(wire: Array[Byte]): Int =
      ((wire(1) & 0xff) << 24) | ((wire(2) & 0xff) << 16) |
        ((wire(3) & 0xff) << 8) | (wire(4) & 0xff)
  }

  object Apicurio extends RegistryFraming("apicurio", 9) {
    def header(magic: Byte, schemaId: Int): Array[Byte] = {
      val id = schemaId.toLong
      val out = new Array[Byte](9)
      out(0) = magic
      var i = 0
      while (i < 8) { out(1 + i) = (id >> (56 - 8 * i)).toByte; i += 1 }
      out
    }
    protected def readId(wire: Array[Byte]): Int = {
      var id = 0L
      var i = 0
      while (i < 8) { id = (id << 8) | (wire(1 + i) & 0xffL); i += 1 }
      require(id >= 0 && id <= Int.MaxValue,
        s"apicurio globalId $id outside this registry's int id space")
      id.toInt
    }
  }

  val all: Seq[RegistryFraming] = Seq(Confluent, Apicurio)
}

/**
 * Format selection (reference F2: `cdcsdk.server.format.{key,value}` picks
 * Json / Avro / Protobuf / CloudEvents per key/value — ServerApp.java:152-161,
 * converter instantiation ConvertingEngineBuilder.java:198-234). One value
 * selects the serializer applied at the sink boundary; `name` is its config
 * spelling.
 */
sealed abstract class WireFormat(val name: String) extends Serializable {
  override def toString: String = name
}

object WireFormat {

  object Json extends WireFormat("json")
  object CloudEvents extends WireFormat("cloudevents")
  val Avro: AvroWire.type = AvroWire
  val Proto: ProtoWire.type = ProtoWire

  val all: Seq[WireFormat] = Seq(Json, Avro, Proto, CloudEvents)

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
    def parseStruct(node: com.fasterxml.jackson.databind.JsonNode): StructType = {
      val fields = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.types.StructField]
      node.get("fields").elements().forEachRemaining { f =>
        fields += org.apache.spark.sql.types.StructField(
          f.get("field").asText(), parse(f), f.path("optional").asBoolean(true))
      }
      StructType(fields.toArray)
    }
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
        case "struct" => parseStruct(node)
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
    val root = mapper.readTree(json)
    require(root.path("type").asText("") == "struct",
      s"connect schema block must be a struct, got ${root.path("type")}")
    parseStruct(root)
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
   * `keep` columns. Every path is a plain projection: JSON and CloudEvents
   * through Spark's own expressions, the binary formats through
   * [[BinaryWire.encode]].
   *
   * `idCol` feeds the CloudEvents `id` attribute (1.0 spec: unique per
   * source) — the source-assigned LSN by default, never a payload column
   * picked by position.
   */
  def encode(df: DataFrame, format: WireFormat, payloadCols: Seq[String], schemaId: Int,
             keep: Seq[String] = Seq.empty, idCol: String = "lsn",
             schemasEnable: Boolean = false,
             framing: RegistryFraming = RegistryFraming.Confluent): DataFrame = format match {
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
    case binary: BinaryWire => binary.encode(df, payloadCols, schemaId, keep, framing)
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
    projectFields(df, keep, target, fromJson, Some("payload"))
  }

  private val fromJson: StructType => Column = from_json(col("wire"), _)

  /**
   * `keep` plus `target`'s fields, read out of the struct that `parse`
   * builds from the wire column (nested under the envelope field `under`
   * when set). The wire is parsed ONCE into an intermediate struct column:
   * a multi-referenced non-cheap expression is not duplicated by
   * CollapseProject (the contract Envelope.decodeJson relies on for
   * from_json), so the field projection is pure GetStructField. The
   * struct's name is one no `keep` column has (names resolve
   * case-insensitively), so neither shadows the other.
   */
  private[formats] def projectFields(df: DataFrame, keep: Seq[String], target: StructType,
                                     parse: StructType => Column,
                                     under: Option[String] = None): DataFrame = {
    val alias = Iterator.iterate("_dec")("_" + _)
      .find(n => !keep.exists(_.equalsIgnoreCase(n))).get
    val parsed = under.fold(target)(f => StructType(Seq(StructField(f, target))))
    val root = under.fold(col(alias))(col(alias)(_))
    df.select(keep.map(col) :+ parse(parsed).as(alias): _*)
      .select(keep.map(col) ++ target.fieldNames.map(n => root(n).as(n)): _*)
  }

  /** Deserialize a `wire` column back to flat payload columns. */
  def decode(df: DataFrame, format: WireFormat, registry: Map[Int, StructType],
             schemaId: Int, keep: Seq[String] = Seq.empty,
             schemasEnable: Boolean = false,
             framing: RegistryFraming = RegistryFraming.Confluent): DataFrame = format match {
    case Json if schemasEnable => decodeEmbedded(df, keep, registry.get(schemaId))
    case Json => projectFields(df, keep, registry(schemaId), fromJson)
    case CloudEvents => projectFields(df, keep, registry(schemaId), fromJson, Some("data"))
    case binary: BinaryWire => binary.decode(df, registry, schemaId, keep, framing)
  }
}

/**
 * A registry-framed binary wire format: one magic byte, the schema id per
 * the selected [[RegistryFraming]], then the record body. The framing, the
 * DataFrame entry points and the Catalyst expressions
 * ([[BinaryEncodeExpr]]/[[BinaryDecodeExpr]]) are defined here once; a
 * format supplies only its compiled body writer and reader
 * ([[AvroWire]], [[ProtoWire]]).
 */
abstract class BinaryWire(name: String, val magic: Byte) extends WireFormat(name) {

  /** `(wire, writerSchemaId, bodyOffset) => row` */
  type RecordReader = (Array[Byte], Int, Int) => InternalRow

  /** Body writer for a payload schema, compiled once; it keeps no state
    * between rows, so one instance serves every thread. */
  private[formats] def recordWriter(st: StructType): (ByteArrayOutputStream, InternalRow) => Unit

  /** Body reader to `registry`'s `targetSchemaId`, compiled once. It may
    * cache per-writer-version state, so each thread compiles its own. */
  private[formats] def recordReader(registry: Map[Int, StructType], targetSchemaId: Int): RecordReader

  def headerSchemaId(wire: Array[Byte],
                     framing: RegistryFraming = RegistryFraming.Confluent): Int =
    framing.schemaId(magic, wire)

  /** Serialize `payloadCols` of each row into a `wire` binary column
    * (header + body); `keep` columns pass through. The encode is one
    * expression over the payload struct, so the projection stays in the
    * surrounding whole-stage-codegen'd stage, one virtual call per row. */
  def encode(df: DataFrame, payloadCols: Seq[String], schemaId: Int,
             keep: Seq[String] = Seq.empty,
             framing: RegistryFraming = RegistryFraming.Confluent): DataFrame = {
    val payloadType = StructType(payloadCols.map(c => df.schema(c)).toArray)
    val enc = ExprColumnBridge.column(BinaryEncodeExpr(
      ExprColumnBridge.expression(struct(payloadCols.map(col): _*)),
      this, payloadType, schemaId, framing))
    df.select(keep.map(col) :+ enc.as("wire"): _*)
  }

  /** Decode a `wire` binary column back into flat payload columns; the
    * header's schema id selects the writer schema from `registry` (our
    * event schema registry), so records written at different schema
    * versions decode side by side into `targetSchemaId`'s fields. */
  def decode(df: DataFrame, registry: Map[Int, StructType], targetSchemaId: Int,
             keep: Seq[String] = Seq.empty,
             framing: RegistryFraming = RegistryFraming.Confluent): DataFrame =
    WireFormat.projectFields(df, keep, registry(targetSchemaId), _ =>
      ExprColumnBridge.column(BinaryDecodeExpr(
        ExprColumnBridge.expression(col("wire")), this, registry, targetSchemaId, framing)))
}

/** Registry-framed binary encode of a payload struct: the header, then
  * `format`'s compiled body writer over the struct's InternalRow. Codegen
  * emits a single call into [[encodeRow]]. The scratch buffer is per
  * thread, so one instance is safe under concurrent evaluation. */
case class BinaryEncodeExpr(child: Expression, format: BinaryWire, payloadType: StructType,
                            schemaId: Int, framing: RegistryFraming)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = s"${format.name}_encode"

  @transient private lazy val hdr = framing.header(format.magic, schemaId)
  @transient private lazy val writer = format.recordWriter(payloadType)
  @transient private lazy val buffer =
    ThreadLocal.withInitial[ByteArrayOutputStream](() => new ByteArrayOutputStream(256))

  def encodeRow(row: InternalRow): Array[Byte] = {
    val bos = buffer.get()
    bos.reset()
    bos.write(hdr, 0, hdr.length)
    writer(bos, row)
    bos.toByteArray
  }

  override protected def nullSafeEval(v: Any): Any = encodeRow(v.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("binEnc", this, classOf[BinaryEncodeExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encodeRow($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Registry-framed binary decode to a struct of the target schema version:
  * the header's writer schema id and body offset go to `format`'s compiled
  * reader. The reader keeps per-writer-version state, so each thread
  * evaluating this instance compiles its own. */
case class BinaryDecodeExpr(child: Expression, format: BinaryWire,
                            registry: Map[Int, StructType], targetSchemaId: Int,
                            framing: RegistryFraming)
    extends UnaryExpression {
  override def dataType: DataType = registry(targetSchemaId)
  override def prettyName: String = s"${format.name}_decode"

  @transient private lazy val reader =
    ThreadLocal.withInitial[format.RecordReader](() => format.recordReader(registry, targetSchemaId))

  def decodeWire(wire: Array[Byte]): InternalRow =
    reader.get()(wire, framing.schemaId(format.magic, wire), framing.headerLen)

  override protected def nullSafeEval(v: Any): Any = decodeWire(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("binDec", this, classOf[BinaryDecodeExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.decodeWire($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Append-only wire sink: the Spark equivalent of the reference's S3 jsonl
 * sink (S3ChangeConsumer.java:123-150 — serialize each record's value, roll
 * files by size; insert-only, single logical stream), generalized over the
 * four wire formats. Text files for string formats, parquet-with-binary for
 * avro/proto; file sizing via maxRecordsPerFile (the Roller/flush.records
 * equivalent, StorageSinkConnectorConfig.java:31-38).
 */
class WireSink(spark: SparkSession, root: String, format: WireFormat,
               maxRecordsPerFile: Long = 0L,
               keyFormat: WireFormat = WireFormat.Json,
               schemasEnable: Boolean = false,
               compression: String = "none",
               framing: RegistryFraming = RegistryFraming.Confluent) {

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
      case _: BinaryWire => writer.parquet(epochDir(epochId))
    }
    obs.get("rows").asInstanceOf[Long]
  }

  /** Read an epoch back to flat payload columns (round-trip check path). */
  def readEpoch(epochId: Long, registry: Map[Int, StructType], schemaId: Int): DataFrame = {
    val raw = format match {
      case WireFormat.Json | WireFormat.CloudEvents =>
        spark.read.text(epochDir(epochId)).withColumnRenamed("value", "wire")
      case _: BinaryWire => spark.read.parquet(epochDir(epochId))
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
