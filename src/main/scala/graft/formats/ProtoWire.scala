package graft.formats

import org.apache.spark.sql.{DataFrame, ExprColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, SpecializedGetters, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.ByteArrayOutputStream

/**
 * Protobuf wire format for the payload — the reference's third converter
 * family (ServerApp.java:152-161 / ConvertingEngineBuilder.java:198-234
 * select a protobuf converter class). No protobuf runtime jar exists in this
 * environment, so the (public, documented) proto3 wire encoding is
 * implemented directly: `tag = (fieldNumber << 3) | wireType`, varints,
 * zigzag sint64/sint32 for integers, fixed64 for doubles, length-delimited
 * UTF-8 for strings/bytes, length-delimited embedded messages for nested
 * structs, unpacked repeated fields for arrays; null fields are omitted
 * (proto3 presence semantics — an empty/all-null array is therefore
 * indistinguishable from an absent one and normalizes to NULL on decode).
 * Field numbers are StructType positions + 1; the registry header matches
 * the Avro framing (magic 0x01, then the id per the selected
 * [[RegistryFraming]] — Confluent 4-byte or Apicurio 8-byte).
 *
 * r6 optimization: like AvroWire, the codec runs as native Catalyst
 * expressions over InternalRow ([[ProtoEncodeExpr]]/[[ProtoDecodeExpr]]),
 * with the writer/parser for each schema COMPILED ONCE into per-field
 * closures — no external-Row conversion, no per-row type dispatch, and the
 * surrounding plan stays a plain projection.
 */
object ProtoWire {

  val MAGIC: Byte = 0x01

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def zigzag(n: Long): Long = (n << 1) ^ (n >> 63)
  private def unzigzag(n: Long): Long = (n >>> 1) ^ -(n & 1)

  private def wireType(dt: DataType): Int = dt match {
    case LongType | IntegerType | BooleanType => 0 // varint (zigzag ints)
    // temporal types ride as zigzag varints of their canonical integer form:
    // micros-since-epoch for timestamps, days-since-epoch for dates (the
    // reference's Connect converters carry Timestamp/Date logical schemas as
    // int64/int32 the same way — ConvertingEngineBuilder.java:198-234); the
    // internal representation already IS that integer, no conversion at all
    case TimestampType | TimestampNTZType | DateType => 0
    case DoubleType                           => 1 // fixed64
    case StringType | BinaryType              => 2 // length-delimited
    case _: DecimalType                       => 2 // unscaled big-endian bytes
    case _: StructType                        => 2 // embedded message
    case MapType(StringType, _, _)            => 2 // repeated map-entry message
    case ArrayType(et, _)                     => wireType(et) // unpacked repeated
    case other => throw new IllegalArgumentException(s"unsupported proto field type $other")
  }

  // ---- compiled writer -----------------------------------------------------

  /** writes tag + value of field `i` of the holder; the caller has already
    * established the value is non-null */
  private type FieldWriter = (ByteArrayOutputStream, SpecializedGetters, Int) => Unit

  /** Recursive field-writer compiler. Nested structs are length-delimited
    * embedded messages; arrays are unpacked repeated fields (one tagged
    * occurrence per element — wire-compatible with any proto3 parser). Null
    * fields and null array ELEMENTS are omitted, so proto3 presence
    * semantics apply at every level: an empty or all-null array is
    * indistinguishable from an absent one and reads back as NULL (documented
    * normalization, same as the flat codec's null handling). */
  private def valueWriterFor(fieldNum: Int, dt: DataType): FieldWriter = dt match {
    case ArrayType(et, _) =>
      val ew = valueWriterFor(fieldNum, et)
      (out, g, i) => {
        val a = g.getArray(i)
        val n = a.numElements()
        var j = 0
        while (j < n) { if (!a.isNullAt(j)) ew(out, a, j); j += 1 }
      }
    case MapType(StringType, vt, _) =>
      // standard proto3 map encoding: repeated embedded entry message with
      // field 1 = key, field 2 = value; proto3 map values cannot be null,
      // so null-valued entries are omitted (presence semantics, same
      // normalization as absent scalar fields)
      val kw = valueWriterFor(1, StringType)
      val vw = valueWriterFor(2, vt)
      val tag = (fieldNum.toLong << 3) | 2L
      (out, g, i) => {
        val m = g.getMap(i)
        val ks = m.keyArray(); val vs = m.valueArray()
        val n = m.numElements()
        var j = 0
        while (j < n) {
          if (!vs.isNullAt(j)) {
            val entry = new ByteArrayOutputStream(64)
            kw(entry, ks, j)
            vw(entry, vs, j)
            writeVarint(out, tag)
            writeVarint(out, entry.size.toLong); entry.writeTo(out)
          }
          j += 1
        }
      }
    case _ =>
      val tag = (fieldNum.toLong << 3) | wireType(dt)
      dt match {
        case LongType    => (out, g, i) => { writeVarint(out, tag); writeVarint(out, zigzag(g.getLong(i))) }
        case IntegerType => (out, g, i) => { writeVarint(out, tag); writeVarint(out, zigzag(g.getInt(i).toLong)) }
        case BooleanType => (out, g, i) => { writeVarint(out, tag); writeVarint(out, if (g.getBoolean(i)) 1L else 0L) }
        case TimestampType | TimestampNTZType =>
          (out, g, i) => { writeVarint(out, tag); writeVarint(out, zigzag(g.getLong(i))) }
        case DateType => (out, g, i) => { writeVarint(out, tag); writeVarint(out, zigzag(g.getInt(i).toLong)) }
        case d: DecimalType => (out, g, i) => {
          writeVarint(out, tag)
          val b = g.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.unscaledValue().toByteArray
          writeVarint(out, b.length.toLong); out.write(b, 0, b.length)
        }
        case DoubleType => (out, g, i) => {
          writeVarint(out, tag)
          var bits = java.lang.Double.doubleToLongBits(g.getDouble(i))
          var j = 0; while (j < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; j += 1 }
        }
        case StringType => (out, g, i) => {
          writeVarint(out, tag)
          val u = g.getUTF8String(i)
          writeVarint(out, u.numBytes.toLong); u.writeTo(out)
        }
        case BinaryType => (out, g, i) => {
          writeVarint(out, tag)
          val b = g.getBinary(i)
          writeVarint(out, b.length.toLong); out.write(b, 0, b.length)
        }
        case st: StructType =>
          val mw = messageWriter(st)
          (out, g, i) => {
            val nested = new ByteArrayOutputStream(64)
            mw(nested, g.getStruct(i, st.fields.length))
            writeVarint(out, tag)
            writeVarint(out, nested.size.toLong); nested.writeTo(out)
          }
        case other => throw new IllegalArgumentException(s"unsupported proto field type $other")
      }
  }

  private[formats] def messageWriter(st: StructType): (ByteArrayOutputStream, InternalRow) => Unit = {
    val fws = st.fields.zipWithIndex.map { case (f, i) => valueWriterFor(i + 1, f.dataType) }
    (out, row) => {
      var i = 0
      while (i < fws.length) {
        if (!row.isNullAt(i)) fws(i)(out, row, i)
        i += 1
      }
    }
  }

  // ---- compiled parser -----------------------------------------------------

  /** Message parser compiled once per schema: per-field element types,
    * varint conversions, nested/map-entry sub-parsers are resolved at
    * compile time; `parse` walks the wire with no per-row allocation beyond
    * the accumulators. Unknown field numbers are skipped by wire type
    * (forward compatibility). Values are produced in Spark's INTERNAL
    * representation (UTF8String over the wire buffer, micros longs,
    * GenericInternalRow). */
  private[formats] final class MsgParser(st: StructType) extends Serializable {
    private val arity = st.fields.length
    private val isArray: Array[Boolean] =
      st.fields.map(_.dataType.isInstanceOf[ArrayType])
    private val elemTypes: Array[DataType] = st.fields.map(_.dataType match {
      case ArrayType(et, _) => et
      case t => t
    })
    private val isMap: Array[Boolean] = st.fields.map(_.dataType match {
      case MapType(StringType, _, _) => true
      case _ => false
    })
    // map fields parse entries through a nested 2-field parser (key, value)
    private val entryParsers: Array[MsgParser] = st.fields.map(_.dataType match {
      case MapType(StringType, vt, _) => new MsgParser(StructType(Seq(
        StructField("key", StringType), StructField("value", vt))))
      case _ => null
    })
    private val nestedParsers: Array[MsgParser] = elemTypes.map {
      case s: StructType => new MsgParser(s)
      case _ => null
    }
    // one varint-family conversion per declared type (shared by the tagged
    // and the packed paths so sint zigzag conventions agree between them)
    private val varintConv: Array[Long => Any] = elemTypes.map {
      case LongType    => (v: Long) => unzigzag(v)
      case IntegerType => (v: Long) => unzigzag(v).toInt
      case BooleanType => (v: Long) => v != 0L
      case TimestampType | TimestampNTZType => (v: Long) => unzigzag(v)
      case DateType    => (v: Long) => unzigzag(v).toInt
      case _           => (v: Long) => unzigzag(v)
    }
    private val elemWireType: Array[Int] = elemTypes.map {
      case t => try wireType(t) catch { case _: IllegalArgumentException => 2 }
    }

    def parse(wire: Array[Byte], from: Int, to: Int): Array[Any] = {
      var pos = from
      def readVarint(): Long = {
        var shift = 0; var acc = 0L; var b = 0
        do {
          b = wire(pos) & 0xff; pos += 1
          acc |= (b & 0x7fL) << shift; shift += 7
        } while ((b & 0x80) != 0)
        acc
      }
      def readFixed64(): Double = {
        var bits = 0L
        var i = 0; while (i < 8) { bits |= (wire(pos + i) & 0xffL) << (8 * i); i += 1 }
        pos += 8
        java.lang.Double.longBitsToDouble(bits)
      }
      val acc = new Array[Any](arity)
      def put(idx: Int, v: Any): Unit =
        if (isArray(idx)) {
          val buf = acc(idx) match {
            case null => val b = new scala.collection.mutable.ArrayBuffer[Any]; acc(idx) = b; b
            case b: scala.collection.mutable.ArrayBuffer[Any @unchecked] => b
          }
          buf += v
        } else acc(idx) = v
      while (pos < to) {
        val tag = readVarint()
        val idx = (tag >>> 3).toInt - 1
        val wt = (tag & 7).toInt
        val known = idx >= 0 && idx < arity
        wt match {
          case 0 =>
            val v = readVarint()
            if (known) put(idx, varintConv(idx)(v))
          case 1 =>
            val d = readFixed64()
            if (known) put(idx, d)
          case 2 =>
            val len = readVarint().toInt
            val start = pos
            val end = start + len
            pos = end
            if (known) {
              if (isMap(idx)) {
                val entry = entryParsers(idx).parse(wire, start, end)
                val k = entry(0) match {
                  case null => UTF8String.EMPTY_UTF8
                  case u: UTF8String => u
                }
                val buf = acc(idx) match {
                  case null =>
                    val b = new scala.collection.mutable.LinkedHashMap[UTF8String, Any]
                    acc(idx) = b; b
                  case b: scala.collection.mutable.LinkedHashMap[UTF8String @unchecked, Any @unchecked] => b
                }
                buf += k -> entry(1)
              } else if (isArray(idx) && elemWireType(idx) != 2) {
                // PACKED repeated scalars — the default encoding standard
                // proto3 serializers emit for numeric repeated fields (wire
                // type 2 wrapping a block of varints/fixed64); our writer
                // emits unpacked (also valid), so this path is pure
                // read-side interop with foreign records
                pos = start
                while (pos < end) {
                  if (elemWireType(idx) == 0) put(idx, varintConv(idx)(readVarint()))
                  else put(idx, readFixed64())
                }
                pos = end
              } else elemTypes(idx) match {
                case StringType =>
                  put(idx, UTF8String.fromBytes(wire, start, len))
                case d: DecimalType =>
                  put(idx, Decimal(new java.math.BigDecimal(new java.math.BigInteger(
                    java.util.Arrays.copyOfRange(wire, start, end)), d.scale),
                    d.precision, d.scale))
                case _: StructType =>
                  put(idx, new GenericInternalRow(nestedParsers(idx).parse(wire, start, end)))
                case _ =>
                  put(idx, java.util.Arrays.copyOfRange(wire, start, end))
              }
            }
          case other => throw new IllegalStateException(s"unsupported wire type $other")
        }
      }
      var i = 0
      while (i < acc.length) {
        acc(i) = acc(i) match {
          case b: scala.collection.mutable.ArrayBuffer[Any @unchecked] =>
            new GenericArrayData(b.toArray)
          case b: scala.collection.mutable.LinkedHashMap[UTF8String @unchecked, Any @unchecked] =>
            val keys = new Array[Any](b.size); val vals = new Array[Any](b.size)
            var j = 0
            b.foreach { case (k, v) => keys(j) = k; vals(j) = v; j += 1 }
            new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
          case v => v
        }
        i += 1
      }
      acc
    }
  }

  def headerSchemaId(wire: Array[Byte],
                     framing: String = RegistryFraming.Confluent): Int =
    RegistryFraming.schemaId(framing, MAGIC, wire)

  /** Serialize `payloadCols` into a proto3-wire `wire` binary column, as a
    * native Catalyst expression (plain projection, no external rows). */
  def encode(df: DataFrame, payloadCols: Seq[String], schemaId: Int,
             keep: Seq[String] = Seq.empty,
             framing: String = RegistryFraming.Confluent): DataFrame = {
    val payloadType = StructType(payloadCols.map(c => df.schema(c)).toArray)
    val enc = ExprColumnBridge.column(ProtoEncodeExpr(
      ExprColumnBridge.expression(struct(payloadCols.map(col): _*)),
      payloadType, schemaId, framing))
    df.select(keep.map(col) :+ enc.as("wire"): _*)
  }

  /** Decode a proto3-wire `wire` column; absent fields read as NULL. The
    * decode expression parses each record once into a struct intermediate
    * (not duplicated by CollapseProject — non-cheap multi-referenced
    * expression), then the field projection is pure GetStructField. */
  def decode(df: DataFrame, registry: Map[Int, StructType], targetSchemaId: Int,
             keep: Seq[String] = Seq.empty,
             framing: String = RegistryFraming.Confluent): DataFrame = {
    val target = registry(targetSchemaId)
    val dec = ExprColumnBridge.column(ProtoDecodeExpr(
      ExprColumnBridge.expression(col("wire")), registry, targetSchemaId, framing))
    val alias = WireFormat.freshAlias("_dec", keep)
    df.select(keep.map(col) :+ dec.as(alias): _*)
      .select(keep.map(col) ++
        target.fieldNames.toSeq.map(n => col(alias)(n).as(n)): _*)
  }

  /** Registry-framed proto3 encode of a payload struct as a Catalyst
    * expression (codegen emits one call into [[encodeRow]]). */
  case class ProtoEncodeExpr(child: Expression, payloadType: StructType,
                             schemaId: Int, framing: String)
      extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "proto_encode"

    @transient private lazy val hdr = RegistryFraming.header(framing, MAGIC, schemaId)
    @transient private lazy val writer = messageWriter(payloadType)
    // per-task instance (task binaries are deserialized per task)
    @transient private lazy val bos = new ByteArrayOutputStream(256)

    def encodeRow(row: InternalRow): Array[Byte] = {
      bos.reset()
      bos.write(hdr, 0, hdr.length)
      writer(bos, row)
      bos.toByteArray
    }

    override protected def nullSafeEval(v: Any): Any =
      encodeRow(v.asInstanceOf[InternalRow])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("protoEnc", this, classOf[ProtoEncodeExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encodeRow($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Registry-framed proto3 decode to a struct of the target schema version.
    * Top-level schema routing is by FIELD NAME onto the target version
    * (nested shapes follow the written schema — proto has no Avro-style
    * nested resolution); the per-writer-version parser and the name routing
    * are compiled once per version, not per row. */
  case class ProtoDecodeExpr(child: Expression, registry: Map[Int, StructType],
                             targetSchemaId: Int, framing: String)
      extends UnaryExpression {
    override def dataType: DataType = registry(targetSchemaId)
    override def prettyName: String = "proto_decode"

    @transient private lazy val hlen = RegistryFraming.headerLen(framing)
    @transient private lazy val target = registry(targetSchemaId)
    // per WRITER version: (compiled parser, target-field -> written-field map)
    @transient private lazy val parsers =
      scala.collection.mutable.Map.empty[Int, (MsgParser, Array[Int])]
    private def parserFor(id: Int): (MsgParser, Array[Int]) =
      parsers.getOrElseUpdate(id, {
        val written = registry(id)
        val byName = written.fieldNames.zipWithIndex.toMap
        (new MsgParser(written), target.fieldNames.map(byName.getOrElse(_, -1)))
      })

    def decodeWire(wire: Array[Byte]): InternalRow = {
      val (parser, routing) = parserFor(RegistryFraming.schemaId(framing, MAGIC, wire))
      val parsed = parser.parse(wire, hlen, wire.length)
      val vals = new Array[Any](routing.length)
      var i = 0
      while (i < routing.length) {
        val j = routing(i)
        vals(i) = if (j < 0) null else parsed(j)
        i += 1
      }
      new GenericInternalRow(vals)
    }

    override protected def nullSafeEval(v: Any): Any =
      decodeWire(v.asInstanceOf[Array[Byte]])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("protoDec", this, classOf[ProtoDecodeExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.decodeWire($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}
