package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fused text-hash kernels of the dedup pipeline: word shingling, minhash
 * lanes and simhash, each one codegen expression over the UTF-8 bytes.
 *
 * They replace higher-order-function lambdas (`transform`/`aggregate`
 * over `split` tokens) that ran interpreted, outside whole-stage codegen,
 * and per shingle and lane allocated the concatenated key, looked up a
 * fresh `MessageDigest`, hex-encoded the digest and compared strings. The
 * kernels scan tokens in place, reuse one `MessageDigest` per thread,
 * compare raw digests and hex-encode only what they return. Output is
 * bit-identical to the lambda forms, which `TextHashSpec` keeps as the
 * reference:
 *
 *  - tokens are `filter(split(text, " "), t => length(t) > 0)`: split on
 *    the space byte only (tabs and newlines stay inside tokens), empty
 *    tokens dropped;
 *  - md5 hashes the UTF-8 bytes and renders lowercase hex, as `md5(s)`.
 *    Unsigned order of the raw 16 bytes is the order of the hex strings.
 */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 0, s"WordShingles: n must be >= 0, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    TextHash.expectType("WordShingles", child, _.isInstanceOf[StringType], "string")

  override def eval(input: InternalRow): Any =
    TextHash.wordShingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextHash.genNullTolerant(ctx, ev, child, dataType, c =>
      s"graft.expressions.TextHash.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `MinhashLanes(shingles, numHashes): array<string>` — lane h is
 * `array_min(transform(shingles, s => md5(concat("h|", s))))`. Null
 * shingles are skipped; a lane with no non-null shingle is null, and a
 * null array gives `numHashes` nulls.
 */
case class MinhashLanes(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 0, s"MinhashLanes: numHashes must be >= 0, got $numHashes")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    TextHash.expectType("MinhashLanes", child, TextHash.isStringArray, "array<string>")

  override def eval(input: InternalRow): Any =
    TextHash.minhashLanes(child.eval(input).asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextHash.genNullTolerant(ctx, ev, child, dataType, c =>
      s"graft.expressions.TextHash.minhashLanes($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `SimHash(text, bits): long` — per-bit vote over the text's tokens: bit
 * b is set when more tokens than not have bit `b % 4` of hex nibble
 * `b / 4` of their md5 set. Each token is hashed once for all bits. Null
 * text and text without tokens give 0.
 */
case class SimHash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits > 0 && bits <= 32 && bits % 4 == 0,
    s"SimHash: bits must be a positive multiple of 4, <= 32, got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    TextHash.expectType("SimHash", child, _.isInstanceOf[StringType], "string")

  override def eval(input: InternalRow): Any =
    TextHash.simhash(child.eval(input).asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextHash.genNullTolerant(ctx, ev, child, dataType, c =>
      s"graft.expressions.TextHash.simhash($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `Md5Each(strings): array<string>` — `transform(strings, s => md5(s))`:
 * null elements stay null, a null array is null. */
case class Md5Each(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, child.dataType.asInstanceOf[ArrayType].containsNull)

  override def checkInputDataTypes(): TypeCheckResult =
    TextHash.expectType("Md5Each", child, TextHash.isStringArray, "array<string>")

  override def nullSafeEval(a: Any): Any = TextHash.md5Each(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.expressions.TextHash.md5Each($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextHash {

  def wordShingles(text: Column, n: Int): Column = wrap(WordShingles(_, n), text)
  def minhashLanes(shingles: Column, numHashes: Int): Column =
    wrap(MinhashLanes(_, numHashes), shingles)
  def simhash(text: Column, bits: Int): Column = wrap(SimHash(_, bits), text)
  def md5Each(strings: Column): Column = wrap(Md5Each(_), strings)

  private def wrap(f: Expression => Expression, c: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShims
    GraftShims.column(f(GraftShims.expression(c)))
  }

  private[expressions] def isStringArray(t: DataType): Boolean = t match {
    case ArrayType(_: StringType, _) => true
    case _ => false
  }

  private[expressions] def expectType(name: String, child: Expression,
      ok: DataType => Boolean, want: String): TypeCheckResult =
    if (ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name expects $want, got ${child.dataType}")

  /** Generated code for a kernel that maps a null input to a non-null
   * result itself: the static call receives null instead of short-cutting. */
  private[expressions] def genNullTolerant(ctx: CodegenContext, ev: ExprCode,
      child: Expression, dataType: DataType, call: String => String): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val arg = s"(${c.isNull} ? null : ${c.value})"
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = ${call(arg)};""", isNull = FalseLiteral)
  }

  // ---- shared helpers: token scan and md5 ----

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** This thread's md5 digest, reset. */
  private def md5(): MessageDigest = {
    val md = digests.get()
    md.reset()
    md
  }

  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  /** Lowercase hex of `d[off, off + 16)`, as `md5(...)` renders it. */
  private def hex(d: Array[Byte], off: Int): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val b = d(off + i)
      out(2 * i) = Hex((b >> 4) & 0xf)
      out(2 * i + 1) = Hex(b & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned comparison of two 16-byte digests. */
  private def lessThan(a: Array[Byte], aOff: Int, b: Array[Byte], bOff: Int): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(aOff + i) & 0xff
      val y = b(bOff + i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Feed the bytes of `s` to `md` without copying on-heap strings. */
  private def update(md: MessageDigest, s: UTF8String): Unit = s.getBaseObject match {
    case a: Array[Byte] =>
      md.update(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
    case _ => md.update(s.getBytes)
  }

  /** Text bytes as `split` sees them: `split` decodes to a Java string
   * first, so invalid UTF-8 becomes U+FFFD before tokenization. */
  private def splitBytes(text: UTF8String): Array[Byte] =
    if (text.isValid) text.getBytes else text.toString.getBytes("UTF-8")

  /** Token bounds of `b`, split on the space byte with empty tokens
   * skipped: `[start0, end0, start1, end1, ...]`. */
  private def tokenBounds(b: Array[Byte]): Array[Int] = {
    var count = 0
    var i = 0
    while (i < b.length) {
      if (b(i) != ' ' && (i == 0 || b(i - 1) == ' ')) count += 1
      i += 1
    }
    val out = new Array[Int](2 * count)
    var k = 0
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') i += 1
      else {
        out(k) = i
        while (i < b.length && b(i) != ' ') i += 1
        out(k + 1) = i
        k += 2
      }
    }
    out
  }

  // ---- kernels ----

  /** `n`-token shingles joined by one space; empty for null text or
   * fewer than `n` tokens. All shingles share one byte buffer. */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[AnyRef])
    val b = splitBytes(text)
    val t = tokenBounds(b)
    val ntok = t.length / 2
    if (ntok < n) return new GenericArrayData(Array.empty[AnyRef])
    val count = ntok - n + 1
    var total = count * math.max(n - 1, 0) // separators
    var i = 0
    while (i < count) {
      var j = i
      while (j < i + n) { total += t(2 * j + 1) - t(2 * j); j += 1 }
      i += 1
    }
    val buf = new Array[Byte](total)
    val out = new Array[AnyRef](count)
    var pos = 0
    i = 0
    while (i < count) {
      val start = pos
      var j = i
      while (j < i + n) {
        if (j > i) { buf(pos) = ' '; pos += 1 }
        val s = t(2 * j); val l = t(2 * j + 1) - s
        System.arraycopy(b, s, buf, pos, l)
        pos += l
        j += 1
      }
      out(i) = UTF8String.fromBytes(buf, start, pos - start)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per lane h, the hex of the smallest md5("h|" + s) over non-null s. */
  def minhashLanes(shingles: ArrayData, numHashes: Int): ArrayData = {
    val out = new Array[AnyRef](numHashes)
    if (shingles == null) return new GenericArrayData(out)
    val md = md5()
    val prefixes = Array.tabulate(numHashes)(h => s"$h|".getBytes("US-ASCII"))
    val best = new Array[Byte](16 * numHashes)
    val cur = new Array[Byte](16)
    var seen = false
    var i = 0
    while (i < shingles.numElements()) {
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i)
        var h = 0
        while (h < numHashes) {
          md.update(prefixes(h))
          update(md, s)
          md.digest(cur, 0, 16)
          if (!seen || lessThan(cur, 0, best, 16 * h))
            System.arraycopy(cur, 0, best, 16 * h, 16)
          h += 1
        }
        seen = true
      }
      i += 1
    }
    if (seen) {
      var h = 0
      while (h < numHashes) { out(h) = hex(best, 16 * h); h += 1 }
    }
    new GenericArrayData(out)
  }

  /** Majority vote per bit over the tokens' md5 nibbles; 0 for null text. */
  def simhash(text: UTF8String, bits: Int): Long = {
    if (text == null) return 0L
    val b = splitBytes(text)
    val t = tokenBounds(b)
    val md = md5()
    val votes = new Array[Int](bits)
    val d = new Array[Byte](16)
    var k = 0
    while (k < t.length) {
      md.update(b, t(k), t(k + 1) - t(k))
      md.digest(d, 0, 16)
      var bit = 0
      while (bit < bits) {
        val q = bit / 4 // hex nibble q: high half of byte q/2 when q is even
        val nibble = if (q % 2 == 0) (d(q / 2) >> 4) & 0xf else d(q / 2) & 0xf
        votes(bit) += (if (((nibble >> (bit % 4)) & 1) == 1) 1 else -1)
        bit += 1
      }
      k += 2
    }
    var fp = 0L
    var bit = 0
    while (bit < bits) {
      if (votes(bit) > 0) fp |= 1L << bit
      bit += 1
    }
    fp
  }

  /** md5 hex of every element; null elements stay null. */
  def md5Each(strings: ArrayData): ArrayData = {
    val md = md5()
    val d = new Array[Byte](16)
    val out = new Array[AnyRef](strings.numElements())
    var i = 0
    while (i < out.length) {
      if (!strings.isNullAt(i)) {
        update(md, strings.getUTF8String(i))
        md.digest(d, 0, 16)
        out(i) = hex(d, 0)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
