package graft.formats

import graft.SparkTestBase
import graft.cdc.{EventGen, GenConfig, Model}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Key/value converter family (reference F1/F2): Avro + protobuf-wire +
  * CloudEvents + JSON, with registry-framed headers and schema-id routing. */
class WireFormatSpec extends SparkTestBase {
  import spark.implicits._

  private val gen = GenConfig(numKeys = 300, hotKeys = 4)
  private def events = EventGen.events(spark, 0, 3000, gen)
  private val payloadCols = Seq("op", "repo", "path", "commit", "lang", "content", "ts_ms")
  private def payloadType(df: org.apache.spark.sql.DataFrame) =
    StructType(payloadCols.map(df.schema(_)))

  private def roundtrip(format: WireFormat): Unit = {
    val ev = events
    val pt = payloadType(ev)
    val wire = WireFormat.encode(ev, format, payloadCols, 0, keep = Seq("lsn"))
    val back = WireFormat.decode(wire, format, Map(0 -> pt), 0, keep = Seq("lsn"))
    val want = ev.select("lsn", payloadCols: _*)
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty,
      s"$format round trip must be the identity (nulls on deletes included)")
  }

  test("avro round trip (nullable unions, registry header)")(roundtrip(WireFormat.Avro))
  test("proto round trip (zigzag varints, absent-field nulls)")(roundtrip(WireFormat.Proto))
  test("json round trip")(roundtrip(WireFormat.Json))
  test("cloudevents round trip")(roundtrip(WireFormat.CloudEvents))

  test("kept columns named like a decode's intermediate struct round-trip unchanged") {
    val ev = events.withColumn("_dec", col("lsn") * 2).withColumn("_P", col("lsn") + 1)
      .withColumn("_e", concat(col("repo"), lit("!")))
    val keep = Seq("lsn", "_dec", "_P", "_e")
    val pt = payloadType(ev)
    for ((format, embedded) <- Seq(WireFormat.Avro, WireFormat.Proto, WireFormat.Json,
        WireFormat.CloudEvents).map(_ -> false) :+ (WireFormat.Json -> true)) {
      val wire = WireFormat.encode(ev, format, payloadCols, 0, keep = keep, schemasEnable = embedded)
      val back = WireFormat.decode(wire, format, Map(0 -> pt), 0, keep = keep,
        schemasEnable = embedded)
      assert(back.columns.toSeq == keep ++ payloadCols, s"$format columns")
      val want = ev.select(keep.head, keep.tail ++ payloadCols: _*)
      assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty,
        s"$format round trip with kept _dec/_P/_e columns must be the identity")
    }
  }

  test("wire headers carry the schema id; magic bytes differ per format") {
    val ev = events.limit(10)
    val a = AvroWire.encode(ev, payloadCols, 7).select("wire").as[Array[Byte]].head()
    val p = ProtoWire.encode(ev, payloadCols, 9).select("wire").as[Array[Byte]].head()
    assert(a(0) == 0x00.toByte && AvroWire.headerSchemaId(a) == 7)
    assert(p(0) == 0x01.toByte && ProtoWire.headerSchemaId(p) == 9)
    intercept[IllegalArgumentException](AvroWire.headerSchemaId(p))
  }

  test("apicurio framing: 8-byte globalId header round-trips both binary formats") {
    val ev = events
    val pt = payloadType(ev)
    for (format <- Seq(WireFormat.Avro, WireFormat.Proto)) {
      val wire = WireFormat.encode(ev, format, payloadCols, 3, keep = Seq("lsn"),
        framing = RegistryFraming.Apicurio)
      val back = WireFormat.decode(wire, format, Map(3 -> pt), 3, keep = Seq("lsn"),
        framing = RegistryFraming.Apicurio)
      val want = ev.select("lsn", payloadCols: _*)
      assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty,
        s"$format apicurio-framed round trip must be the identity")
    }
    // header layout: magic + 8-byte big-endian globalId, body starts at 9
    val a = AvroWire.encode(ev.limit(1), payloadCols, 3,
        framing = RegistryFraming.Apicurio)
      .select("wire").as[Array[Byte]].head()
    assert(a(0) == 0x00.toByte)
    assert(AvroWire.headerSchemaId(a, RegistryFraming.Apicurio) == 3)
    assert(a.slice(1, 8).forall(_ == 0) && a(8) == 3)
    // same record confluent-framed is 4 bytes shorter and NOT interchangeable:
    // a confluent read of an apicurio record must fail loudly, not misalign
    val c = AvroWire.encode(ev.limit(1), payloadCols, 3)
      .select("wire").as[Array[Byte]].head()
    assert(a.length == c.length + 4)
    intercept[IllegalArgumentException](
      AvroWire.headerSchemaId(a.take(6), RegistryFraming.Apicurio))
    // an apicurio read of a confluent record sees a garbage globalId far
    // outside the int id space (the guard that catches framing mismatch)
    intercept[IllegalArgumentException](
      AvroWire.headerSchemaId(
        c ++ Array.fill[Byte](4)(0x7f), RegistryFraming.Apicurio))
  }

  test("apicurio framing flows through the engine-configured KV sink") {
    val dir = java.nio.file.Files.createTempDirectory("apicurio-kv").toString
    val ev = events.limit(500)
    // value payload disjoint from the key columns: the decoded KV frame
    // carries key-decoded AND value-decoded columns side by side
    val valueCols = Seq("op", "commit", "lang", "content", "ts_ms")
    val sink = new WireSink(spark, dir, WireFormat.Avro,
      keyFormat = WireFormat.Proto, framing = RegistryFraming.Apicurio)
    val vt = StructType(valueCols.map(ev.schema(_)))
    val kt = StructType(Model.keyCols.map(ev.schema(_)))
    val n = sink.writeEpochKV(ev, 0, Model.keyCols, valueCols)
    assert(n == 500)
    val back = sink.readEpochKV(0, Map(0 -> kt), Map(0 -> vt), 0)
    val want = ev.select((Model.keyCols ++ valueCols).map(col): _*)
    assert(back.select(want.columns.map(col): _*).exceptAll(want).isEmpty &&
      want.exceptAll(back.select(want.columns.map(col): _*)).isEmpty)
  }

  test("proto zigzag survives negative integers") {
    val df = Seq((-5L, -1, "x"), (Long.MinValue + 1, Int.MinValue, "y"))
      .toDF("a", "b", "c")
    val pt = StructType(Seq("a", "b", "c").map(df.schema(_)))
    val back = ProtoWire.decode(ProtoWire.encode(df, Seq("a", "b", "c"), 0),
      Map(0 -> pt), 0)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("avro schema evolution: v0-written records decode at a v1 reader schema") {
    val ev = events
    val v0 = payloadType(ev)
    val v1 = StructType(v0.fields :+ StructField("stars", IntegerType, nullable = true))
    val wire = AvroWire.encode(ev, payloadCols, 0, keep = Seq("lsn"))
    val back = AvroWire.decode(wire, Map(0 -> v0, 1 -> v1), 1, keep = Seq("lsn"))
    assert(back.columns.contains("stars"))
    assert(back.filter(col("stars").isNotNull).isEmpty,
      "added column must read as NULL from v0 records")
    assert(back.count() == ev.count())
  }

  test("avro round trip covers binary and short columns (datum conversions)") {
    val df = Seq((1L, Array[Byte](1, 2, -3), 7.toShort), (2L, Array.empty[Byte], -5.toShort))
      .toDF("id", "blob", "sh")
    val pt = StructType(Seq("blob", "sh").map(df.schema(_)))
    val back = AvroWire.decode(
      AvroWire.encode(df, Seq("blob", "sh"), 0, keep = Seq("id")),
      Map(0 -> pt), 0, keep = Seq("id"))
    val got = back.orderBy("id").collect()
    assert(got(0).getAs[Array[Byte]]("blob").toSeq == Seq[Byte](1, 2, -3))
    assert(got(0).getAs[Short]("sh") == 7.toShort)
    assert(got(1).getAs[Array[Byte]]("blob").isEmpty && got(1).getAs[Short]("sh") == -5.toShort)
  }

  test("avro nested structs and arrays round trip (envelope-shaped nesting)") {
    // the registry-Kafka default ships the UNFLATTENED envelope through the
    // Avro converter — three-level nesting ({before/after}{cell{value,set}}),
    // nullable unions at every depth, plus arrays incl. array-of-struct
    val cell = StructType(Seq(
      StructField("value", IntegerType, nullable = true),
      StructField("set", BooleanType, nullable = true)))
    val img = StructType(Seq(
      StructField("user_id", StructType(Seq(
        StructField("value", LongType, nullable = true),
        StructField("set", BooleanType, nullable = true))), nullable = true),
      StructField("k", cell, nullable = true)))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("env", StructType(Seq(
        StructField("before", img, nullable = true),
        StructField("after", img, nullable = true),
        StructField("tags", ArrayType(StringType, containsNull = true), nullable = true),
        StructField("nums", ArrayType(LongType, containsNull = false), nullable = true),
        StructField("cells", ArrayType(cell, containsNull = true), nullable = true)
      )), nullable = true)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(
        null,
        org.apache.spark.sql.Row(org.apache.spark.sql.Row(7L, true),
          org.apache.spark.sql.Row(3, true)),
        Seq("a", null, "c"), Seq(1L, 2L),
        Seq(org.apache.spark.sql.Row(5, false), null))),
      org.apache.spark.sql.Row(2L, org.apache.spark.sql.Row(
        org.apache.spark.sql.Row(org.apache.spark.sql.Row(5L, true),
          org.apache.spark.sql.Row(null, false)),
        null, null, Seq.empty[Long], null)),
      org.apache.spark.sql.Row(3L, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val pt = StructType(Seq(schema("env")))
    val back = AvroWire.decode(
      AvroWire.encode(df, Seq("env"), 0, keep = Seq("id")),
      Map(0 -> pt), 0, keep = Seq("id"))
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
      "nested avro round trip must be the identity")
  }

  test("proto nested messages and repeated fields round trip") {
    val cell = StructType(Seq(
      StructField("value", IntegerType, nullable = true),
      StructField("set", BooleanType, nullable = true)))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("env", StructType(Seq(
        StructField("after", cell, nullable = true),
        StructField("tags", ArrayType(StringType, containsNull = true), nullable = true),
        StructField("nums", ArrayType(LongType, containsNull = false), nullable = true),
        StructField("cells", ArrayType(cell, containsNull = true), nullable = true)
      )), nullable = true)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(
        org.apache.spark.sql.Row(3, true),
        Seq("a", "c"), Seq(1L, -2L),
        Seq(org.apache.spark.sql.Row(5, false), org.apache.spark.sql.Row(null, true)))),
      org.apache.spark.sql.Row(2L, org.apache.spark.sql.Row(
        org.apache.spark.sql.Row(null, false), null, null, null)),
      org.apache.spark.sql.Row(3L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val pt = StructType(Seq(schema("env")))
    val back = ProtoWire.decode(
      ProtoWire.encode(df, Seq("env"), 0, keep = Seq("id")),
      Map(0 -> pt), 0, keep = Seq("id"))
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
      "nested proto round trip must be the identity")
    // documented proto3 normalization: an EMPTY array is absent on the wire
    // and reads back as NULL
    val empty = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(9L, org.apache.spark.sql.Row(
        null, Seq.empty[String], null, null))), 1), schema)
    val backEmpty = ProtoWire.decode(
      ProtoWire.encode(empty, Seq("env"), 0, keep = Seq("id")),
      Map(0 -> pt), 0, keep = Seq("id")).select("env.tags").head()
    assert(backEmpty.isNullAt(0), "empty repeated field must normalize to NULL")
  }

  // --- golden bytes: one fixed record set through both binary codecs in
  // both framings. The literals pin the wire layout itself; the round-trip
  // tests above would pass for any self-consistent encoding.

  private def goldenDf = {
    val raw = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", StructType(Seq(
        StructField("a", IntegerType, nullable = true),
        StructField("b", StringType, nullable = false))), nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = true), nullable = true),
      StructField("attrs", MapType(StringType, LongType, valueContainsNull = true),
        nullable = true),
      StructField("amount", DecimalType(12, 4), nullable = true),
      StructField("ts_us", LongType, nullable = true),
      StructField("days", IntegerType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("x", DoubleType, nullable = true),
      StructField("l", LongType, nullable = false)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(7, "x"), Seq("p", null, "q"),
        Map("a" -> 1L, "c" -> -7L), new java.math.BigDecimal("-12345.6789"),
        1709288430123456L, 19783, "h\u00e9llo", 1.5d, -3L),
      org.apache.spark.sql.Row(2L, null, null, null, null, null, null, null, null,
        Long.MaxValue),
      org.apache.spark.sql.Row(3L, org.apache.spark.sql.Row(null, "y"), Seq.empty[String],
        Map.empty[String, Long], new java.math.BigDecimal("0.0001"), -1L, -351, "",
        -0.0d, 0L))
    // temporal columns from their integer forms, independent of any time zone
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), raw)
      .select(col("id"), col("n"), col("tags"), col("attrs"), col("amount"),
        timestamp_micros(col("ts_us")).as("ts"), date_from_unix_date(col("days")).as("day"),
        col("s"), col("x"), col("l"))
  }

  // bodies of records id 1, 2, 3 (after the registry header)
  private val goldenAvro = Seq(
    "02020e0278020602027000020271000204026102020263020d000208f8a432eb0280e7919bd7a5" +
      "8906028eb502020c68c3a96c6c6f02000000000000f83f05",
    "0000000000000000feffffffffffffffff01",
    "0200027902000200020201020102bd05020002000000000000008000")
  private val goldenProto = Seq(
    "0a05080e1201781201701201711a050a016110021a050a0163100d2204f8a432eb2880e7919bd7" +
      "a58906308eb5023a0668c3a96c6c6f41000000000000f83f4805",
    "48feffffffffffffffff01",
    "0a03120179220101280130bd053a004100000000000000804800")

  test("golden bytes: avro and proto wire layout in both framings") {
    val df = goldenDf
    val cols = df.columns.toSeq.tail
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    for ((framing, idHex) <- Seq(RegistryFraming.Confluent -> "00000005",
        RegistryFraming.Apicurio -> "0000000000000005")) {
      val avro = AvroWire.encode(df, cols, 5, keep = Seq("id"), framing = framing)
        .orderBy("id").select("wire").as[Array[Byte]].collect().toSeq.map(hex)
      val proto = ProtoWire.encode(df, cols, 5, keep = Seq("id"), framing = framing)
        .orderBy("id").select("wire").as[Array[Byte]].collect().toSeq.map(hex)
      assert(avro == goldenAvro.map("00" + idHex + _), s"avro $framing")
      assert(proto == goldenProto.map("01" + idHex + _), s"proto $framing")
    }
  }

  // --- temporal / decimal / map wire types (reference perf schema carries
  // timestamptz + jsonb — perf/workloads/iot/schema.sql:4-17; the Connect
  // converters ship them as logical types, ConvertingEngineBuilder.java:198-234)

  private val richSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("ntz", TimestampNTZType, nullable = true),
    StructField("day", DateType, nullable = true),
    StructField("amount", DecimalType(12, 4), nullable = true),
    StructField("attrs", MapType(StringType, LongType, valueContainsNull = true),
      nullable = true)))

  private def richRows = Seq(
    org.apache.spark.sql.Row(1L,
      java.sql.Timestamp.valueOf("2024-03-01 10:20:30.123456"),
      java.time.LocalDateTime.parse("2024-03-01T10:20:30.000001"),
      java.sql.Date.valueOf("2024-03-01"),
      new java.math.BigDecimal("-12345.6789"),
      Map("a" -> 1L, "c" -> -7L)),
    org.apache.spark.sql.Row(2L, null, null, null,
      new java.math.BigDecimal("0.0001"), Map.empty[String, Long]),
    org.apache.spark.sql.Row(3L,
      java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"), null,
      java.sql.Date.valueOf("1969-01-15"), null, null))

  private def richDf = spark.createDataFrame(
    spark.sparkContext.parallelize(richRows, 2), richSchema)

  /** map columns can't ride set-op comparisons — project to comparable shape */
  private def comparable(df: org.apache.spark.sql.DataFrame) = df.select(
    col("id"), unix_micros(col("ts")).as("ts_us"),
    col("ntz").cast("string").as("ntz_s"), col("day").cast("string").as("day_s"),
    col("amount").cast("string").as("amount_s"),
    array_sort(map_keys(col("attrs"))).as("ks"),
    col("attrs")("a").as("va"), col("attrs")("c").as("vc"))

  test("one shared encode and decode expression evaluated from 4 threads at once") {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    val ev = events
    val v0 = payloadType(ev)
    // decode at v1 from v0 records: avro's library-reader fallback and
    // proto's per-writer-version parser both run
    val v1 = StructType(v0.fields :+ StructField("stars", IntegerType, nullable = true))
    val rows = ev.select(struct(payloadCols.map(col): _*)).queryExecution.toRdd
      .map(_.copy()).collect().toSeq
    val toScala = CatalystTypeConverters.createToScalaConverter(v1)
    for (format <- Seq(WireFormat.Avro, WireFormat.Proto)) {
      val enc = BinaryEncodeExpr(BoundReference(0, v0, nullable = false), format, v0, 0,
        RegistryFraming.Confluent)
      val dec = BinaryDecodeExpr(BoundReference(0, BinaryType, nullable = false), format,
        Map(0 -> v0, 1 -> v1), 1, RegistryFraming.Confluent)
      def run(r: InternalRow) = {
        val wire = enc.eval(r).asInstanceOf[Array[Byte]]
        (wire.toSeq, toScala(dec.eval(InternalRow(wire))))
      }
      val want = rows.map(run)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val results = (0 until 4).map { t =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            // each thread starts at its own offset, so they interleave
            def call(): Int = (0 until 3 * rows.size).count { k =>
              val i = (k + t * rows.size / 4) % rows.size
              scala.util.Try(run(rows(i))).toOption != Some(want(i))
            }
          })
        }.map(_.get())
        assert(results.sum == 0,
          s"$format: ${results.sum} concurrent results differ from single-threaded eval")
      } finally pool.shutdown()
    }
  }

  test("avro temporal/decimal/map round trip (logical types, fast-path reader)") {
    val df = richDf
    val cols = Seq("ts", "ntz", "day", "amount", "attrs")
    val pt = StructType(cols.map(richSchema(_)))
    val back = AvroWire.decode(
      AvroWire.encode(df, cols, 0, keep = Seq("id")), Map(0 -> pt), 0, keep = Seq("id"))
    assert(comparable(back).exceptAll(comparable(df)).isEmpty &&
      comparable(df).exceptAll(comparable(back)).isEmpty)
    // micros survive (JSON's millis rendering would truncate; binary must not)
    assert(back.filter(col("id") === 1)
      .select(unix_micros(col("ts"))).head().getLong(0) % 1000 == 456L)
  }

  test("avro logical types survive the LIBRARY reader (schema-resolution path)") {
    // decode at a DIFFERENT target version — routes through GenericDatumReader
    // + fromDatum, cross-checking the hand-rolled writer against the
    // reference implementation for every logical type incl. map
    val df = richDf
    val cols = Seq("ts", "ntz", "day", "amount", "attrs")
    val v0 = StructType(cols.map(richSchema(_)))
    val v1 = StructType(v0.fields :+ StructField("extra", IntegerType, nullable = true))
    val back = AvroWire.decode(
      AvroWire.encode(df, cols, 0, keep = Seq("id")), Map(0 -> v0, 1 -> v1), 1,
      keep = Seq("id"))
    assert(back.filter(col("extra").isNotNull).isEmpty)
    assert(comparable(back).exceptAll(comparable(df)).isEmpty &&
      comparable(df).exceptAll(comparable(back)).isEmpty)
  }

  test("proto temporal/decimal/map round trip") {
    val df = richDf
    val cols = Seq("ts", "ntz", "day", "amount", "attrs")
    val pt = StructType(cols.map(richSchema(_)))
    val back = ProtoWire.decode(
      ProtoWire.encode(df, cols, 0, keep = Seq("id")), Map(0 -> pt), 0, keep = Seq("id"))
    // proto3 presence: the EMPTY map (id=2) is absent on the wire and reads
    // back NULL — normalize both sides before comparing
    def cmp(d: org.apache.spark.sql.DataFrame) = comparable(d)
      .withColumn("ks", when(col("ks").isNull, array().cast("array<string>"))
        .otherwise(col("ks")))
    assert(cmp(back).exceptAll(cmp(df)).isEmpty && cmp(df).exceptAll(cmp(back)).isEmpty)
    assert(back.filter(col("id") === 1)
      .select(unix_micros(col("ts"))).head().getLong(0) % 1000 == 456L)
  }

  test("proto PACKED repeated scalars decode (foreign-serializer interop)") {
    // hand-build what a standard proto3 serializer emits for repeated
    // numerics: ONE wire-type-2 block per field wrapping the packed values
    // (our writer emits unpacked — this is the read-side interop path)
    val bos = new java.io.ByteArrayOutputStream()
    def vint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) { bos.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      bos.write(v.toInt)
    }
    def zz(n: Long): Long = (n << 1) ^ (n >> 63)
    bos.write(Array[Byte](0x01, 0, 0, 0, 0), 0, 5) // magic + schema id 0
    val packed = new java.io.ByteArrayOutputStream()
    Seq(1L, -2L, 300L).foreach { n =>
      var v = zz(n)
      while ((v & ~0x7fL) != 0L) { packed.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      packed.write(v.toInt)
    }
    vint((1L << 3) | 2L); vint(packed.size.toLong); packed.writeTo(bos) // field 1
    val dbl = new java.io.ByteArrayOutputStream()
    Seq(1.5d, -2.25d).foreach { d =>
      var bits = java.lang.Double.doubleToLongBits(d)
      (0 until 8).foreach { _ => dbl.write((bits & 0xff).toInt); bits >>>= 8 }
    }
    vint((2L << 3) | 2L); vint(dbl.size.toLong); dbl.writeTo(bos) // field 2
    val pt = StructType(Seq(
      StructField("nums", ArrayType(LongType, containsNull = false), nullable = true),
      StructField("vals", ArrayType(DoubleType, containsNull = false), nullable = true)))
    val df = Seq(Tuple1(bos.toByteArray)).toDF("wire")
    val got = ProtoWire.decode(df, Map(0 -> pt), 0).head()
    assert(got.getSeq[Long](0) == Seq(1L, -2L, 300L))
    assert(got.getSeq[Double](1) == Seq(1.5d, -2.25d))
  }

  test("connect schema JSON round-trips temporal/decimal/map (incl. NTZ marker)") {
    val st = StructType(Seq(
      StructField("ts", TimestampType, nullable = true),
      StructField("ntz", TimestampNTZType, nullable = false),
      StructField("day", DateType, nullable = true),
      StructField("amount", DecimalType(12, 4), nullable = true),
      StructField("attrs", MapType(StringType, StringType, valueContainsNull = true),
        nullable = true)))
    assert(WireFormat.connectSchemaFromJson(WireFormat.connectSchemaJson(st)) == st)
  }

  test("schemas.enable json carries temporal/decimal/map via the embedded schema") {
    // millis-precision inputs (to_json renders millis — documented divergence
    // from Connect's epoch integers; binary formats carry full micros)
    val df = richDf.withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
      .withColumn("ntz", col("ts").cast(TimestampNTZType))
      .withColumn("attrs", map(lit("a"), col("amount").cast("string")))
    val cols = Seq("ts", "ntz", "day", "amount", "attrs")
    val wire = WireFormat.encode(df, WireFormat.Json, cols, 0,
      keep = Seq("id"), schemasEnable = true)
    // registry-less decode: the embedded schema alone must reconstruct the types
    val back = WireFormat.decode(wire, WireFormat.Json, Map.empty, 0,
      keep = Seq("id"), schemasEnable = true)
    assert(back.schema("ts").dataType == TimestampType)
    assert(back.schema("ntz").dataType == TimestampNTZType)
    assert(back.schema("day").dataType == DateType)
    assert(back.schema("amount").dataType == DecimalType(12, 4))
    assert(back.schema("attrs").dataType ==
      MapType(StringType, StringType, valueContainsNull = true))
    def cmp(d: org.apache.spark.sql.DataFrame) = d.select(col("id"),
      unix_millis(col("ts")).as("ts_ms"), col("ntz").cast("string").as("ntz_s"),
      col("day").cast("string").as("day_s"), col("amount").cast("string").as("amount_s"),
      col("attrs")("a").as("va"))
    assert(cmp(back).exceptAll(cmp(df)).isEmpty && cmp(df).exceptAll(cmp(back)).isEmpty)
  }

  test("independent key/value converters: avro key + json value (F2 split)") {
    val ev = events
    val keyCols = Seq("repo", "path")
    // disjoint from the key (duplicate column names break set-op comparisons)
    val valCols = Seq("op", "commit", "lang", "content", "ts_ms")
    val keyT = StructType(keyCols.map(ev.schema(_)))
    val valT = StructType(valCols.map(ev.schema(_)))
    val root = tmpDir("wirekv")
    // the engine's TWO format knobs drive the sink end to end
    val engine = new graft.cdc.CdcEngine(spark,
      new graft.cdc.SnapshotTable(spark, tmpDir("wirekv-t"), 2),
      graft.cdc.EngineConfig(numBuckets = 2,
        format = WireFormat.Json, keyFormat = WireFormat.Avro))
    val sink = engine.wireSink(root)
    val n = sink.writeEpochKV(ev, 0L, keyCols, valCols)
    assert(n == 3000L)
    // on-disk record shape: binary avro key, string json value
    val raw = spark.read.parquet(sink.epochDir(0L))
    assert(raw.schema("key").dataType == BinaryType)
    assert(raw.schema("value").dataType == StringType)
    val back = sink.readEpochKV(0L, Map(0 -> keyT), Map(0 -> valT), 0)
    val want = ev.select((keyCols ++ valCols).map(col): _*)
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty,
      "kv round trip must be the identity across both converters")
  }

  test("schemas.enable embeds the Connect schema block; round trip still identity") {
    val ev = events
    val pt = payloadType(ev)
    val wire = WireFormat.encode(ev, WireFormat.Json, payloadCols, 0,
      keep = Seq("lsn"), schemasEnable = true)
    val sample = wire.select("wire").as[String].head()
    assert(sample.startsWith("""{"schema":{"type":"struct","fields":["""),
      s"schema block missing: ${sample.take(120)}")
    assert(sample.contains(""""field":"op""""))
    assert(sample.contains(""""type":"int64","optional":false,"field":"ts_ms""""))
    val back = WireFormat.decode(wire, WireFormat.Json, Map(0 -> pt), 0,
      keep = Seq("lsn"), schemasEnable = true)
    val want = ev.select("lsn", payloadCols: _*)
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("schemas.enable decode follows the embedded schema — no registry needed") {
    // self-describing records are the whole point of schemas.enable
    // (reference MTEngine.java:654-660): a drifted schema with an added
    // column must decode correctly with NO registry entry at all
    val v1 = events.withColumn("stars", (col("lsn") % 5).cast("int"))
    val wire = WireFormat.encode(v1, WireFormat.Json, payloadCols :+ "stars", 1,
      keep = Seq("lsn"), schemasEnable = true)
    val back = WireFormat.decode(wire, WireFormat.Json, Map.empty, 1,
      keep = Seq("lsn"), schemasEnable = true)
    val want = v1.select("lsn", payloadCols :+ "stars": _*)
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("schemas.enable: mixed-version batch decodes via the merged embedded schemas") {
    val ev = events
    val wire0 = WireFormat.encode(ev, WireFormat.Json, payloadCols, 0,
      keep = Seq("lsn"), schemasEnable = true).withColumn("v", lit(0))
    val v1 = ev.withColumn("stars", (col("lsn") % 5).cast("int"))
    val wire1 = WireFormat.encode(v1, WireFormat.Json, payloadCols :+ "stars", 1,
      keep = Seq("lsn"), schemasEnable = true).withColumn("v", lit(1))
    val back = WireFormat.decode(wire0.unionByName(wire1), WireFormat.Json,
      Map.empty, 0, keep = Seq("lsn", "v"), schemasEnable = true)
    assert(back.columns.contains("stars"))
    assert(back.filter(col("v") === 0 && col("stars").isNotNull).isEmpty,
      "v0 records must read the added column as NULL")
    assert(back.filter(col("v") === 1)
      .filter(col("stars").isNull || col("stars") =!= pmod(col("lsn"), lit(5)).cast("int"))
      .isEmpty, "v1 records must carry their stars values")
  }

  test("schemas.enable: embedded schema widens over a stale registry entry") {
    val df = Seq((1L, 3000000000L), (2L, -7L)).toDF("lsn", "big")
    val wire = WireFormat.encode(df, WireFormat.Json, Seq("big"), 0,
      keep = Seq("lsn"), schemasEnable = true)
    val stale = StructType(Seq(StructField("big", IntegerType, nullable = true)))
    val back = WireFormat.decode(wire, WireFormat.Json, Map(0 -> stale), 0,
      keep = Seq("lsn"), schemasEnable = true)
    assert(back.schema("big").dataType == LongType,
      "embedded int64 must widen the stale registry int32")
    assert(back.orderBy("lsn").select("big").as[Long].collect().toSeq ==
      Seq(3000000000L, -7L))
  }

  test("schemas.enable applies to the KEY converter too (KV epoch)") {
    val root = tmpDir("wirekv-se")
    val engine = new graft.cdc.CdcEngine(spark,
      new graft.cdc.SnapshotTable(spark, tmpDir("wirekv-se-t"), 2),
      graft.cdc.EngineConfig(numBuckets = 2, format = WireFormat.Json,
        keyFormat = WireFormat.Json, schemasEnable = true))
    val sink = engine.wireSink(root)
    val ev = events
    sink.writeEpochKV(ev, 0L, Seq("repo", "path"), Seq("op", "commit"))
    val k = spark.read.parquet(sink.epochDir(0L)).select("key").as[String].head()
    assert(k.startsWith("""{"schema":{"type":"struct""""),
      s"key must carry the Connect schema block, got: ${k.take(80)}")
    // both sides decode from their embedded schemas alone
    val back = sink.readEpochKV(0L, Map.empty, Map.empty, 0)
    val want = ev.select("repo", "path", "op", "commit")
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("ordered KV epoch: per-key LSN-monotone delivery (PubSub ordering-key parity)") {
    val root = tmpDir("wirekv-ord")
    val engine = new graft.cdc.CdcEngine(spark,
      new graft.cdc.SnapshotTable(spark, tmpDir("wirekv-ord-t"), 2),
      graft.cdc.EngineConfig(numBuckets = 2,
        format = WireFormat.Json, keyFormat = WireFormat.Json))
    val sink = engine.wireSink(root)
    val ev = events
    val n = sink.writeEpochKV(ev, 0L, Seq("repo", "path"),
      Seq("op", "commit", "lsn"), ordered = true)
    assert(n == 3000L)
    val files = new java.io.File(sink.epochDir(0L)).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(files.nonEmpty)
    // every key lives in exactly one file, and within that file its records
    // are LSN-monotone in ROW order (= delivery order for a sequential
    // consumer of the object — the ordering-key guarantee)
    val keyToFiles = scala.collection.mutable.Map.empty[String, Set[String]]
    files.foreach { f =>
      val rows = spark.read.parquet(f.getAbsolutePath)
        .select(col("key"),
          get_json_object(col("value"), "$.lsn").cast("long").as("lsn"))
        .coalesce(1).collect()
      rows.groupBy(_.getString(0)).foreach { case (k, rs) =>
        keyToFiles(k) = keyToFiles.getOrElse(k, Set.empty) + f.getName
        val lsns = rs.map(_.getLong(1)).toSeq
        assert(lsns == lsns.sorted, s"key $k out of LSN order in ${f.getName}")
      }
    }
    assert(keyToFiles.values.forall(_.size == 1),
      "a key's records must not straddle files (single ordered stream per key)")
    // round trip still the identity in ordered mode
    val keyT = StructType(Seq("repo", "path").map(ev.schema(_)))
    val valT = StructType(Seq("op", "commit", "lsn").map(ev.schema(_)))
    val back = sink.readEpochKV(0L, Map(0 -> keyT), Map(0 -> valT), 0)
    val want = ev.select("repo", "path", "op", "commit", "lsn")
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("connect schema JSON escapes hostile names and round-trips nested types") {
    val nested = StructType(Seq(
      StructField("""a"b\c""", StringType, nullable = true),
      StructField("inner", StructType(Seq(
        StructField("x", LongType, nullable = false))), nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = true), nullable = false)))
    val json = WireFormat.connectSchemaJson(nested)
    // must be valid JSON despite the quote/backslash in the field name
    val parsed = WireFormat.connectSchemaFromJson(json)
    assert(parsed == StructType(Seq(
      StructField("""a"b\c""", StringType, nullable = true),
      StructField("inner", StructType(Seq(
        StructField("x", LongType, nullable = false))), nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = true), nullable = false))))
  }

  test("gzip wire sink: compressed text epoch reads back value-equal") {
    val root = tmpDir("wiregz")
    val engine = new graft.cdc.CdcEngine(spark,
      new graft.cdc.SnapshotTable(spark, tmpDir("wiregz-t"), 2),
      graft.cdc.EngineConfig(numBuckets = 2,
        format = WireFormat.Json, wireCompression = "gzip"))
    val sink = engine.wireSink(root)
    val ev = events
    assert(sink.writeEpoch(ev, 0L, payloadCols, 0) == 3000L)
    val parts = new java.io.File(sink.epochDir(0L)).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".gz")),
      s"expected gzipped parts, got ${parts.map(_.getName).mkString(",")}")
    val back = sink.readEpoch(0L, Map(0 -> payloadType(ev)), 0)
    val want = ev.select(payloadCols.map(col): _*)
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("WireSink: format-selected delivery with rollover, read-back equality") {
    Seq(WireFormat.Json, WireFormat.Avro, WireFormat.Proto).foreach { fmt =>
      val root = tmpDir(s"wiresink-$fmt")
      // the engine's F2 knob selects the sink format end to end
      val engine = new graft.cdc.CdcEngine(spark,
        new graft.cdc.SnapshotTable(spark, tmpDir("wiresink-t"), 2),
        graft.cdc.EngineConfig(numBuckets = 2, format = fmt, maxRecordsPerFile = 500L))
      val sink = engine.wireSink(root)
      val ev = events.withColumn("lsn2", col("lsn"))
      val n = sink.writeEpoch(ev, 0L, payloadCols :+ "lsn2")
      assert(n == 3000L)
      val files = new java.io.File(sink.epochDir(0L)).listFiles()
        .count(f => f.getName.startsWith("part-"))
      assert(files > 1, s"$fmt: rollover must split files (got $files)")
      // the registry entry must be the TRUE written schema (incl. nullability
      // — avro unions are positional)
      val ptFull = StructType((payloadCols :+ "lsn2").map(ev.schema(_)))
      val back = WireFormat.decode(
        (if (fmt == WireFormat.Json) spark.read.text(sink.epochDir(0L)).withColumnRenamed("value", "wire")
         else spark.read.parquet(sink.epochDir(0L))),
        fmt, Map(0 -> ptFull), 0)
      val want = ev.select((payloadCols.map(col) :+ col("lsn").as("lsn2")): _*)
      assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty, s"$fmt sink")
    }
  }
}
