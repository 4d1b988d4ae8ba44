package graft.formats

import org.apache.spark.sql.types.{Decimal, DecimalType}

import java.io.ByteArrayOutputStream

/**
 * Byte-level primitives shared by the Avro and proto codecs: base-128
 * varints, zigzag, little-endian fixed-width values and decimal bytes.
 * Avro writes every integer and length as a zigzag varint; proto zigzags
 * only its signed integers and writes tags and lengths as plain varints.
 */
private[formats] object WireBytes {

  /** read position in a wire buffer, advanced by the readers */
  final class Cursor(var pos: Int)

  def zigzag(n: Long): Long = (n << 1) ^ (n >> 63)
  def unzigzag(n: Long): Long = (n >>> 1) ^ -(n & 1)

  def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  def writeZigzag(out: ByteArrayOutputStream, v: Long): Unit = writeVarint(out, zigzag(v))

  def readVarint(wire: Array[Byte], c: Cursor): Long = {
    var shift = 0; var acc = 0L; var b = 0
    do {
      b = wire(c.pos) & 0xff; c.pos += 1
      acc |= (b & 0x7fL) << shift; shift += 7
    } while ((b & 0x80) != 0)
    acc
  }

  def readZigzag(wire: Array[Byte], c: Cursor): Long = unzigzag(readVarint(wire, c))

  def writeFixed64(out: ByteArrayOutputStream, bits0: Long): Unit = {
    var bits = bits0
    var j = 0; while (j < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; j += 1 }
  }

  def writeFixed32(out: ByteArrayOutputStream, bits0: Int): Unit = {
    var bits = bits0
    var j = 0; while (j < 4) { out.write(bits & 0xff); bits >>>= 8; j += 1 }
  }

  def readFixed64(wire: Array[Byte], c: Cursor): Long = {
    var bits = 0L
    var i = 0; while (i < 8) { bits |= (wire(c.pos + i) & 0xffL) << (8 * i); i += 1 }
    c.pos += 8
    bits
  }

  def readFixed32(wire: Array[Byte], c: Cursor): Int = {
    var bits = 0
    var i = 0; while (i < 4) { bits |= (wire(c.pos + i) & 0xff) << (8 * i); i += 1 }
    c.pos += 4
    bits
  }

  /** unscaled two's-complement big-endian bytes at the value's own scale
    * (an internal Decimal read at the schema's precision/scale) */
  def decimalBytes(d: Decimal): Array[Byte] = d.toJavaBigDecimal.unscaledValue().toByteArray

  def decimalFrom(wire: Array[Byte], from: Int, to: Int, d: DecimalType): Decimal =
    Decimal(new java.math.BigDecimal(new java.math.BigInteger(
      java.util.Arrays.copyOfRange(wire, from, to)), d.scale), d.precision, d.scale)
}
