package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeType

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Canonical, order-insensitive, type-insensitive row hash.
  *
  * Semantics follow the reference engine's `get_row_hash`
  * (reference: lotad/utils.py:19-77):
  *
  *  - objects/structs/maps: keys sorted (code-point order), values hashed
  *    recursively, then xxh64 of the compact JSON `{"k":"<hash>",...}`;
  *  - arrays: element hashes sorted, then xxh64 of the compact JSON list
  *    — array ORDER does not affect the hash;
  *  - strings beginning with `{`, `[` or the URL-encoded `%7B` are parsed
  *    as JSON and hashed structurally (reference: lotad/utils.py:9-16,52-55);
  *  - every other scalar collapses to its Python `str()` rendering, so
  *    `1`, `"1"` and `1.0`-vs-`"1.0"` compare type-insensitively
  *    (reference: lotad/utils.py:76-77).
  *
  * One writer per type, compiled once by [[writerFor]], appends a value's
  * canonical form as UTF-8 to a thread-local byte buffer. Top-level struct
  * fields, nested struct/array/map values and parsed JSON nodes all go
  * through it. A struct, array or map is built as JSON at the end of the
  * buffer, hashed there, and replaced by the hash's 16 hex digits, so a
  * nested value hashes in its own region and its parent sees only the
  * hex. JSON escaping (orjson's: `"`, `\` and control characters) is
  * applied to the UTF-8 bytes on the way into a JSON string literal; a
  * struct's fields are escaped as they are written, straight from the
  * `UTF8String` bytes.
  *
  * Array elements and object keys are sorted as raw UTF-8 byte ranges,
  * unsigned. That is code-point order. Equal code points encode to equal
  * bytes, so the first differing byte falls in the first differing code
  * point. There a longer encoding has the larger lead byte (0xxxxxxx <
  * 110xxxxx < 1110xxxx < 11110xxx), and encodings of one length spell the
  * code point's bits high to low, so the bytes order the two code points
  * as their values do. (UTF-16 order differs: `😀` U+1F600 is stored as
  * D83D DE00 and sorts before `｡` U+FF61 there.)
  *
  * Unlike the reference (a per-row Python UDF behind a DuckDB FFI), this is
  * a JVM Catalyst expression evaluated inline in the task: no FFI, no
  * driver round-trip, and it consumes Spark's InternalRow directly — no
  * `to_json` round-trip is needed for typed columns.
  */
object CanonicalHash {

  private val mapper = new ObjectMapper()

  private val HEX = "0123456789abcdef".getBytes(UTF_8)

  /** Growable byte buffer the canonical forms and row JSON are written to. */
  private final class ByteBuf {
    var arr = new Array[Byte](256)
    var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > arr.length)
        arr = Arrays.copyOf(arr, math.max(arr.length * 2, len + n))
    def add(b: Int): Unit = { ensure(1); arr(len) = b.toByte; len += 1 }
    def addBytes(src: Array[Byte]): Unit =
      addUtf8(src, Platform.BYTE_ARRAY_OFFSET, src.length, esc = false)
    def addAscii(s: String): Unit = {
      var i = 0
      while (i < s.length) { add(s.charAt(i)); i += 1 }
    }
    def addText(s: String, esc: Boolean): Unit = {
      val b = s.getBytes(UTF_8)
      addUtf8(b, Platform.BYTE_ARRAY_OFFSET, b.length, esc)
    }

    /** Append the `n` UTF-8 bytes at `off` of `base`, escaped for the
      * inside of a JSON string literal when `esc` (orjson's escaping:
      * `"`, `\` and the control characters; bytes of multi-byte sequences
      * have the high bit set and pass through).
      */
    def addUtf8(base: AnyRef, off: Long, n: Int, esc: Boolean): Unit = {
      ensure(n)
      if (!esc) {
        Platform.copyMemory(base, off, arr, Platform.BYTE_ARRAY_OFFSET + len, n)
        len += n
        return
      }
      var i = 0
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        if (b < 0 || (b >= 0x20 && b != '"' && b != '\\')) add(b)
        else {
          add('\\')
          b match {
            case '"' => add('"')
            case '\\' => add('\\')
            case 0x08 => add('b')
            case 0x09 => add('t')
            case 0x0a => add('n')
            case 0x0c => add('f')
            case 0x0d => add('r')
            case _ => add('u'); add('0'); add('0'); add(HEX(b >> 4)); add(HEX(b & 0xf))
          }
        }
        i += 1
      }
    }

    /** Replace everything from `start` by the xxh64 hex of the bytes from `json`. */
    def replaceWithHash(start: Int, json: Int): Unit = {
      val h = XXH64.hashUnsafeBytes(arr, Platform.BYTE_ARRAY_OFFSET + json, len - json, 0L)
      len = start
      var i = 15
      while (i >= 0) { add(HEX(((h >>> (i * 4)) & 0xf).toInt)); i -= 1 }
    }
  }

  private val local = ThreadLocal.withInitial[ByteBuf](() => new ByteBuf)

  /** The thread's buffer, emptied. */
  private def emptyBuf(): ByteBuf = {
    val buf = local.get()
    buf.len = 0
    buf
  }

  /** xxh64 (seed 0) hexdigest, matching `xxhash.xxh64(..).hexdigest()`. */
  def xxh64Hex(bytes: Array[Byte]): String = {
    val buf = emptyBuf()
    buf.addBytes(bytes)
    buf.replaceWithHash(0, 0)
    new String(buf.arr, 0, buf.len, UTF_8)
  }

  /** Writes a non-null value's canonical form; `esc` when it lands inside a
    * JSON string literal. Only string forms can hold bytes that need
    * escaping: numbers, dates, hashes and the like are plain ASCII.
    */
  private trait Writer { def write(v: Any, buf: ByteBuf, esc: Boolean): Unit }

  private def put(w: Writer, v: Any, buf: ByteBuf, esc: Boolean): Unit =
    if (v == null) buf.addAscii("None") else w.write(v, buf, esc)

  /** `v` zero-padded to `width` digits. A negative `v` (a year before 1)
    * renders digit by digit, e.g. "000+" for -5: Python cannot represent
    * such a year, so there is no reference value, and these are the bytes
    * stored hashes already hold.
    */
  private def addPad(buf: ByteBuf, v: Int, width: Int): Unit = {
    var div = 1
    var i = 1
    while (i < width) { div *= 10; i += 1 }
    if (v >= div * 10) { buf.addAscii(v.toString); return } // wider than field
    while (div > 0) {
      buf.add('0' + (v / div) % 10)
      div /= 10
    }
  }

  /** Python `str(float)` written directly into the buffer: same rendering
    * as [[PyFormat.pyDouble]] (a property spec asserts equality) but with
    * zero allocation beyond the JDK's `Double.toString` — no substring,
    * builder or re-encode per value, which matters when hashing
    * billions of double fields.
    */
  private[functions] def addPyDouble(buf: ByteBuf, d: Double): Unit = {
    if (java.lang.Double.isNaN(d)) { buf.addAscii("nan"); return }
    if (d == Double.PositiveInfinity) { buf.addAscii("inf"); return }
    if (d == Double.NegativeInfinity) { buf.addAscii("-inf"); return }
    if (d == 0.0) { buf.addAscii(if (1.0 / d < 0) "-0.0" else "0.0"); return }
    if (d < 0) buf.add('-')
    val s = java.lang.Double.toString(math.abs(d))
    val eIdx = s.indexOf('E')
    // significant-digit range [dStart, dEnd) within s (may contain one
    // '.', skipped on emission) and the decimal exponent of the leading digit
    var dStart = 0
    var dEnd = 0
    var fde = 0
    if (eIdx >= 0) {
      fde = java.lang.Integer.parseInt(s, eIdx + 1, s.length, 10)
      dEnd = eIdx
    } else {
      val dot = s.indexOf('.')
      if (s.charAt(0) != '0') { dEnd = s.length; fde = dot - 1 }
      else {
        var i = dot + 1
        while (i < s.length && s.charAt(i) == '0') i += 1
        dStart = i; dEnd = s.length; fde = -(i - dot)
      }
    }
    // trim trailing zeros of the significant digits (crossing the '.' when
    // everything after it is zero); the leading digit always survives
    var e = dEnd
    var trimming = true
    while (trimming && e > dStart + 1) {
      val c = s.charAt(e - 1)
      if (c == '0' || c == '.') e -= 1 else trimming = false
    }
    var n = 0
    var di = dStart
    while (di < e) { if (s.charAt(di) != '.') n += 1; di += 1 }
    // emit `cnt` digits starting at `from`, skipping '.', return next pos
    def emitDigits(from: Int, cnt: Int): Int = {
      var i = from
      var c = cnt
      while (c > 0) {
        val ch = s.charAt(i)
        if (ch != '.') { buf.add(ch); c -= 1 }
        i += 1
      }
      i
    }
    if (fde >= 16 || fde < -4) { // scientific d.dddde[+-]XX
      val i = emitDigits(dStart, 1)
      if (n > 1) { buf.add('.'); emitDigits(i, n - 1) }
      buf.add('e')
      if (fde >= 0) buf.add('+') else buf.add('-')
      val ae = math.abs(fde)
      if (ae < 100) addPad(buf, ae, 2) else buf.addAscii(ae.toString)
    } else if (fde >= 0) { // fixed, >= 1
      if (n > fde + 1) {
        val i = emitDigits(dStart, fde + 1)
        buf.add('.')
        emitDigits(i, n - fde - 1)
      } else {
        emitDigits(dStart, n)
        var i = n
        while (i <= fde) { buf.add('0'); i += 1 }
        buf.addAscii(".0")
      }
    } else { // fixed, < 1: 0.00ddd
      buf.addAscii("0.")
      var i = -1
      while (i > fde) { buf.add('0'); i -= 1 }
      emitDigits(dStart, n)
    }
  }

  /** Python `str(datetime)`: `YYYY-MM-DD HH:MM:SS[.ffffff]`. */
  private def addTimestamp(buf: ByteBuf, micros: Long): Unit = {
    val days = Math.floorDiv(micros, 86400000000L)
    val rem = Math.floorMod(micros, 86400000000L)
    val ld = java.time.LocalDate.ofEpochDay(days)
    val secOfDay = (rem / 1000000L).toInt
    val us = (rem % 1000000L).toInt
    addPad(buf, ld.getYear, 4); buf.add('-')
    addPad(buf, ld.getMonthValue, 2); buf.add('-')
    addPad(buf, ld.getDayOfMonth, 2); buf.add(' ')
    addPad(buf, secOfDay / 3600, 2); buf.add(':')
    addPad(buf, (secOfDay / 60) % 60, 2); buf.add(':')
    addPad(buf, secOfDay % 60, 2)
    if (us != 0) { buf.add('.'); addPad(buf, us, 6) }
  }

  /** Replace the canonical forms written from `start`, the i-th ending at
    * `ends(i)`, by the hash of their compact JSON: a list in byte order,
    * or with `pairs` an object of (even form: odd form) in byte order of
    * the keys. The sort is stable, so equal map keys keep their order.
    */
  private def addSortedHash(buf: ByteBuf, start: Int, ends: Array[Int], pairs: Boolean): Unit = {
    val src = buf.arr // the JSON is appended after the forms, so src stays intact
    def from(r: Int) = if (r == 0) start else ends(r - 1)
    def quoted(r: Int): Unit = {
      buf.add('"')
      buf.addUtf8(src, Platform.BYTE_ARRAY_OFFSET + from(r), ends(r) - from(r), esc = true)
      buf.add('"')
    }
    val stride = if (pairs) 2 else 1
    val order = Array.tabulate[Integer](ends.length / stride)(_ * stride)
    Arrays.sort(order, (a: Integer, b: Integer) =>
      Arrays.compareUnsigned(src, from(a), ends(a), src, from(b), ends(b)))
    val json = buf.len
    buf.add(if (pairs) '{' else '[')
    var k = 0
    while (k < order.length) {
      if (k > 0) buf.add(',')
      quoted(order(k))
      if (pairs) { buf.add(':'); quoted(order(k) + 1) }
      k += 1
    }
    buf.add(if (pairs) '}' else ']')
    buf.replaceWithHash(start, json)
  }

  private def looksLikeJson(s: String): Boolean =
    s.startsWith("{") || s.startsWith("[") || s.startsWith("%7B")

  /** A string's canonical form: the parsed JSON's when it looks like
    * (possibly URL-encoded) JSON and parses, else the string itself.
    */
  private def writeString(s: String, buf: ByteBuf, esc: Boolean): Unit = {
    val node =
      if (!looksLikeJson(s)) null
      else try mapper.readTree(if (s.startsWith("%7B")) PyFormat.urlUnquote(s) else s)
      catch { case _: Exception => null }
    if (node == null) buf.addText(s, esc) else writeJson(node, buf, esc)
  }

  private def writeJson(node: JsonNode, buf: ByteBuf, esc: Boolean): Unit = node.getNodeType match {
    case JsonNodeType.OBJECT =>
      val start = buf.len
      val ends = new Array[Int](2 * node.size())
      val it = node.fieldNames()
      var i = 0
      while (it.hasNext) {
        val k = it.next()
        buf.addText(k, esc = false); ends(i) = buf.len
        writeJson(node.get(k), buf, esc = false); ends(i + 1) = buf.len
        i += 2
      }
      addSortedHash(buf, start, ends, pairs = true)
    case JsonNodeType.ARRAY =>
      val start = buf.len
      val ends = new Array[Int](node.size())
      var i = 0
      while (i < ends.length) { writeJson(node.get(i), buf, esc = false); ends(i) = buf.len; i += 1 }
      addSortedHash(buf, start, ends, pairs = false)
    case JsonNodeType.STRING  => writeString(node.textValue(), buf, esc)
    case JsonNodeType.BOOLEAN => buf.addAscii(if (node.booleanValue()) "True" else "False")
    case JsonNodeType.NULL    => buf.addAscii("None")
    case JsonNodeType.NUMBER =>
      if (node.isIntegralNumber) buf.addAscii(node.bigIntegerValue().toString)
      else addPyDouble(buf, node.doubleValue())
    case _ => buf.addText(node.asText(), esc)
  }

  /** The writer for non-null values of `dt`, compiled once so the per-row
    * path is free of type dispatch: struct fields are pre-sorted and their
    * `,"name":"` fragments pre-escaped.
    */
  private def writerFor(dt: DataType): Writer = dt match {
    case StringType =>
      (v, buf, esc) => {
        val u = v.asInstanceOf[UTF8String]
        val b0 = if (u.numBytes() > 0) u.getByte(0) else 0
        // decode to a String only what may be JSON
        if (b0 == '{' || b0 == '[' || b0 == '%') writeString(u.toString, buf, esc)
        else buf.addUtf8(u.getBaseObject, u.getBaseOffset, u.numBytes(), esc)
      }
    case BooleanType => (v, buf, _) => buf.addAscii(if (v.asInstanceOf[Boolean]) "True" else "False")
    case ByteType | ShortType | IntegerType | LongType => (v, buf, _) => buf.addAscii(v.toString)
    case FloatType => (v, buf, _) => addPyDouble(buf, v.asInstanceOf[Float].toDouble)
    case DoubleType => (v, buf, _) => addPyDouble(buf, v.asInstanceOf[Double])
    case _: DecimalType => (v, buf, _) => addPyDouble(buf, v.asInstanceOf[Decimal].toDouble)
    case DateType =>
      (v, buf, _) => buf.addAscii(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
    case TimestampType | TimestampNTZType => (v, buf, _) => addTimestamp(buf, v.asInstanceOf[Long])
    case BinaryType =>
      (v, buf, _) => buf.addBytes(java.util.Base64.getEncoder.encode(v.asInstanceOf[Array[Byte]]))
    case st: StructType =>
      val names = st.fields.map(_.name.getBytes(UTF_8))
      val ords = st.fields.indices.toArray
        .sortWith((a, b) => Arrays.compareUnsigned(names(a), names(b)) < 0)
      val types = ords.map(st.fields(_).dataType)
      val writers = types.map(writerFor)
      val keyFrags = ords.indices.map { i =>
        val b = new ByteBuf
        if (i > 0) b.add(',')
        b.add('"'); b.addText(st.fields(ords(i)).name, esc = true); b.addAscii("\":\"")
        Arrays.copyOf(b.arr, b.len)
      }.toArray
      (v, buf, _) => {
        val row = v.asInstanceOf[InternalRow]
        val start = buf.len
        buf.add('{')
        var i = 0
        while (i < ords.length) {
          buf.addBytes(keyFrags(i))
          put(writers(i), row.get(ords(i), types(i)), buf, esc = true)
          buf.add('"')
          i += 1
        }
        buf.add('}')
        buf.replaceWithHash(start, start)
      }
    case at: ArrayType =>
      val et = at.elementType
      val w = writerFor(et)
      (v, buf, _) => {
        val a = v.asInstanceOf[ArrayData]
        val start = buf.len
        val ends = new Array[Int](a.numElements())
        var i = 0
        while (i < ends.length) { put(w, a.get(i, et), buf, esc = false); ends(i) = buf.len; i += 1 }
        addSortedHash(buf, start, ends, pairs = false)
      }
    case mt: MapType =>
      val (kw, vw) = (writerFor(mt.keyType), writerFor(mt.valueType))
      (v, buf, _) => {
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        val start = buf.len
        val ends = new Array[Int](2 * m.numElements())
        var i = 0
        while (i < m.numElements()) {
          put(kw, ks.get(i, mt.keyType), buf, esc = false); ends(2 * i) = buf.len
          put(vw, vs.get(i, mt.valueType), buf, esc = false); ends(2 * i + 1) = buf.len
          i += 1
        }
        addSortedHash(buf, start, ends, pairs = true)
      }
    case _ => (v, buf, esc) => buf.addText(v.toString, esc)
  }

  /** Compile the canonicalizer of type `dt` once: it returns a value's
    * canonical form as UTF-8 bytes, for a struct, array or map the 16 hex
    * digits of its hash.
    */
  def compile(dt: DataType): Any => Array[Byte] = {
    val w = writerFor(dt)
    v => {
      val buf = emptyBuf()
      put(w, v, buf, esc = false)
      Arrays.copyOf(buf.arr, buf.len)
    }
  }

  /** Canonical string of a Spark internal value of the given type. */
  def canonicalSpark(value: Any, dt: DataType): String = new String(compile(dt)(value), UTF_8)

  /** Canonical string of a plain string value. */
  def canonicalString(s: String): String = {
    val buf = emptyBuf()
    writeString(s, buf, esc = false)
    new String(buf.arr, 0, buf.len, UTF_8)
  }
}

/** `get_row_hash` as a Catalyst expression. Input may be any type; a
  * struct input yields the row hash the reference produces for
  * `get_row_hash(to_json(row))`.
  *
  * `doGenCode` (rather than CodegenFallback) keeps the CHILD inside
  * whole-stage codegen too: the struct is materialized by generated code
  * and handed to the compiled canonicalizer in one virtual call per row,
  * instead of CodegenFallback's interpreted re-evaluation of the whole
  * subtree (boxed per-field InternalRow access).
  */
case class CanonicalRowHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  @transient private lazy val canon = CanonicalHash.compile(child.dataType)

  /** Called from both interpreted eval and generated code. */
  def hash(v: Any): UTF8String = UTF8String.fromBytes(canon(v))

  override def eval(input: InternalRow): Any = hash(child.eval(input))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    // reference the expression itself: serializable, and `canon` is
    // @transient lazy so the thread-local buffers are rebuilt per executor
    val self = ctx.addReferenceObj("rowHash", this, classOf[CanonicalRowHash].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
         |${childGen.code}
         |UTF8String ${ev.value} = $self.hash(${childGen.isNull} ? null : (Object) ${childGen.value});
       """.stripMargin
    ev.copy(code = code,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override def prettyName: String = "get_row_hash"

  override protected def withNewChildInternal(newChild: Expression): CanonicalRowHash =
    copy(child = newChild)
}

object CanonicalRowHash {
  /** Column API: `canonical_hash(struct(cols...))`. */
  def apply(c: Column): Column = ColumnBridge.column(
    CanonicalRowHash(ColumnBridge.expression(c)))
}
