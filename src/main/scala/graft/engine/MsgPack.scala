package graft.engine

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal MessagePack codec — the wire format of every reference
  * boundary (`/root/reference/src/processor.ts:66,112,119,123,130`
  * encodes/decodes job packets, rpc envelopes, and payloads with
  * msgpack). The container has no msgpack dependency, so the subset the
  * envelope contract needs is implemented here against the public
  * MessagePack specification: nil, bool, all int widths, float64,
  * str, bin, array, map. No extension types (the reference never sends
  * any — its packets are plain JSON-shaped maps).
  *
  * Decoding canonicalizes: every integer form -> Long, float32/64 ->
  * Double, str -> String, bin -> Array[Byte], array -> Vector[Any],
  * map -> Map[Any, Any] (insertion order irrelevant to the contract).
  */
object MsgPack {

  // ---------------------------------------------------------------- encode

  def encode(v: Any): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    write(out, v)
    out.toByteArray
  }

  private def write(out: ByteArrayOutputStream, v: Any): Unit = v match {
    case null => out.write(0xc0)
    case None => out.write(0xc0)
    case Some(x) => write(out, x)
    case b: Boolean => out.write(if (b) 0xc3 else 0xc2)
    case b: Byte => writeLong(out, b.toLong)
    case s: Short => writeLong(out, s.toLong)
    case i: Int => writeLong(out, i.toLong)
    case l: Long => writeLong(out, l)
    case f: Float => writeDouble(out, f.toDouble)
    case d: Double => writeDouble(out, d)
    case s: String => writeString(out, s)
    case bytes: Array[Byte] => writeBin(out, bytes)
    case seq: Seq[_] => writeArrayHeader(out, seq.length); seq.foreach(write(out, _))
    case arr: Array[_] => writeArrayHeader(out, arr.length); arr.foreach(write(out, _))
    case m: scala.collection.Map[_, _] =>
      writeMapHeader(out, m.size)
      m.foreach { case (k, mv) => write(out, k); write(out, mv) }
    case other =>
      throw new IllegalArgumentException(s"msgpack: unsupported type ${other.getClass.getName}")
  }

  private def writeLong(out: ByteArrayOutputStream, l: Long): Unit =
    if (l >= 0 && l <= 0x7f) out.write(l.toInt)                       // positive fixint
    else if (l < 0 && l >= -32) out.write((l & 0xff).toInt)            // negative fixint
    else if (l >= Byte.MinValue && l <= Byte.MaxValue) { out.write(0xd0); out.write(l.toInt & 0xff) }
    else if (l >= Short.MinValue && l <= Short.MaxValue) { out.write(0xd1); writeBE(out, l, 2) }
    else if (l >= Int.MinValue && l <= Int.MaxValue) { out.write(0xd2); writeBE(out, l, 4) }
    else { out.write(0xd3); writeBE(out, l, 8) }

  private def writeDouble(out: ByteArrayOutputStream, d: Double): Unit = {
    out.write(0xcb)
    writeBE(out, java.lang.Double.doubleToLongBits(d), 8)
  }

  private def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    if (b.length <= 31) out.write(0xa0 | b.length)
    else if (b.length <= 0xff) { out.write(0xd9); out.write(b.length) }
    else if (b.length <= 0xffff) { out.write(0xda); writeBE(out, b.length.toLong, 2) }
    else { out.write(0xdb); writeBE(out, b.length.toLong, 4) }
    out.write(b, 0, b.length)
  }

  private def writeBin(out: ByteArrayOutputStream, b: Array[Byte]): Unit = {
    if (b.length <= 0xff) { out.write(0xc4); out.write(b.length) }
    else if (b.length <= 0xffff) { out.write(0xc5); writeBE(out, b.length.toLong, 2) }
    else { out.write(0xc6); writeBE(out, b.length.toLong, 4) }
    out.write(b, 0, b.length)
  }

  private def writeArrayHeader(out: ByteArrayOutputStream, n: Int): Unit =
    if (n <= 15) out.write(0x90 | n)
    else if (n <= 0xffff) { out.write(0xdc); writeBE(out, n.toLong, 2) }
    else { out.write(0xdd); writeBE(out, n.toLong, 4) }

  private def writeMapHeader(out: ByteArrayOutputStream, n: Int): Unit =
    if (n <= 15) out.write(0x80 | n)
    else if (n <= 0xffff) { out.write(0xde); writeBE(out, n.toLong, 2) }
    else { out.write(0xdf); writeBE(out, n.toLong, 4) }

  private def writeBE(out: ByteArrayOutputStream, v: Long, nBytes: Int): Unit = {
    var i = nBytes - 1
    while (i >= 0) { out.write(((v >>> (8 * i)) & 0xff).toInt); i -= 1 }
  }

  // ---------------------------------------------------------------- decode

  /** The one error a malformed input decodes to: truncated, a length or
    * count larger than the bytes left, nesting deeper than [[MaxDepth]],
    * an unknown format byte, or bytes after the value. */
  final class DecodeError(msg: String) extends IllegalArgumentException(s"msgpack: $msg")

  /** Arrays and maps nest at most this deep; the decoder recurses once
    * per level, so a deeper input would overflow the reading thread's
    * stack. The reference envelope nests three levels. */
  val MaxDepth = 512

  /** Decode exactly one value spanning all of `bytes`. Every str/bin
    * length and array/map count is checked against the bytes left before
    * anything is allocated (an element takes at least one byte), so no
    * input allocates more than its own size. */
  def decode(bytes: Array[Byte]): Any = {
    val buf = ByteBuffer.wrap(bytes)
    val v =
      try read(buf, 0)
      catch { case _: java.nio.BufferUnderflowException => throw new DecodeError("truncated input") }
    if (buf.hasRemaining) throw new DecodeError(s"${buf.remaining} trailing bytes after the value")
    v
  }

  /** The value at `buf`, inside `depth` enclosing arrays and maps. */
  private def read(buf: ByteBuffer, depth: Int): Any = {
    val b = buf.get() & 0xff
    b match {
      case x if x <= 0x7f => x.toLong                                  // positive fixint
      case x if x >= 0xe0 => (x - 256).toLong                          // negative fixint
      case x if (x & 0xf0) == 0x80 => readMap(buf, x & 0x0f, depth)    // fixmap
      case x if (x & 0xf0) == 0x90 => readArray(buf, x & 0x0f, depth)  // fixarray
      case x if (x & 0xe0) == 0xa0 => readStr(buf, x & 0x1f)           // fixstr
      case 0xc0 => null
      case 0xc2 => false
      case 0xc3 => true
      case 0xc4 => readBin(buf, buf.get() & 0xff)
      case 0xc5 => readBin(buf, buf.getShort() & 0xffff)
      case 0xc6 => readBin(buf, buf.getInt() & 0xffffffffL)
      case 0xca => buf.getFloat().toDouble
      case 0xcb => buf.getDouble()
      case 0xcc => (buf.get() & 0xff).toLong                           // uint8
      case 0xcd => (buf.getShort() & 0xffff).toLong                    // uint16
      case 0xce => (buf.getInt() & 0xffffffffL)                        // uint32
      case 0xcf => buf.getLong()                                       // uint64 (as signed)
      case 0xd0 => buf.get().toLong
      case 0xd1 => buf.getShort().toLong
      case 0xd2 => buf.getInt().toLong
      case 0xd3 => buf.getLong()
      case 0xd9 => readStr(buf, buf.get() & 0xff)
      case 0xda => readStr(buf, buf.getShort() & 0xffff)
      case 0xdb => readStr(buf, buf.getInt() & 0xffffffffL)
      case 0xdc => readArray(buf, buf.getShort() & 0xffff, depth)
      case 0xdd => readArray(buf, buf.getInt() & 0xffffffffL, depth)
      case 0xde => readMap(buf, buf.getShort() & 0xffff, depth)
      case 0xdf => readMap(buf, buf.getInt() & 0xffffffffL, depth)
      case other => throw new DecodeError(f"unsupported format byte 0x$other%02x")
    }
  }

  /** `n`, once the `minBytes` per unit it needs fit in the bytes left. */
  private def bounded(buf: ByteBuffer, n: Long, minBytes: Int, what: String): Int = {
    if (n * minBytes > buf.remaining)
      throw new DecodeError(s"$what of $n needs at least ${n * minBytes} bytes, ${buf.remaining} left")
    n.toInt
  }

  private def readStr(buf: ByteBuffer, n: Long): String = {
    val b = new Array[Byte](bounded(buf, n, 1, "str length")); buf.get(b); new String(b, UTF_8)
  }

  private def readBin(buf: ByteBuffer, n: Long): Array[Byte] = {
    val b = new Array[Byte](bounded(buf, n, 1, "bin length")); buf.get(b); b
  }

  /** `depth` + 1, the depth of a container's elements, if allowed. */
  private def nested(depth: Int): Int = {
    if (depth >= MaxDepth) throw new DecodeError(s"nesting deeper than $MaxDepth")
    depth + 1
  }

  private def readArray(buf: ByteBuffer, n: Long, depth: Int): Vector[Any] = {
    val d = nested(depth)
    Vector.fill(bounded(buf, n, 1, "array count"))(read(buf, d))
  }

  private def readMap(buf: ByteBuffer, n: Long, depth: Int): Map[Any, Any] = {
    val d = nested(depth)
    (0 until bounded(buf, n, 2, "map count")).map(_ => (read(buf, d), read(buf, d))).toMap
  }

  // ------------------------------------------------------- Row conversion

  /** Convert a collected Spark Row into the plain JSON-shaped value the
    * reference's handlers would have produced (field-name map), ready
    * for [[encode]]. Decimals and temporals are carried as strings
    * (exactness over the wire, like the pg text protocol the reference's
    * delegated queries ride).
    */
  def rowToValue(row: org.apache.spark.sql.Row, schema: org.apache.spark.sql.types.StructType): Map[Any, Any] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      (f.name: Any) -> anyToValue(if (row.isNullAt(i)) null else row.get(i))
    }.toMap

  private def anyToValue(v: Any): Any = v match {
    case null => null
    case r: org.apache.spark.sql.Row =>
      if (r.schema != null) rowToValue(r, r.schema)
      else r.toSeq.map(anyToValue).toVector
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toString
    case d: java.time.LocalDate => d.toString
    case t: java.time.Instant => t.toString
    case seq: Seq[_] => seq.map(anyToValue).toVector
    case arr: Array[Byte] => arr
    case arr: Array[_] => arr.toVector.map(anyToValue)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, mv) => (anyToValue(k), anyToValue(mv)) }.toMap
    case other => other
  }
}
