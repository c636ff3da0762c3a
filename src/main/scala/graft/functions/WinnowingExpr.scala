package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The winnowing inner loop as ONE native expression per document:
  * hash every character k-gram of the input, slide a window of `w`
  * consecutive gram hashes, and return each window's minimum, distinct
  * in first-occurrence order — exactly the column formulation
  * `array_distinct(transform(seq, p => array_min(slice(hashes, p, w))))`
  * over `transform(seq, i => hash(substr(t, i, k)))`, but in a single
  * primitive pass instead of O(|text|·w) interpreted lambda steps and
  * two intermediate arrays per document (higher-order-function lambdas
  * evaluate interpreted, outside whole-stage codegen, and the md5 mode
  * paid a fresh DigestUtils allocation per gram). Dominant cost of the
  * overlap-pairs gate query before this.
  *
  * Semantics replicated bit-for-bit (the ll7 oracle replays them in
  * DuckDB):
  *   - grams are CHARACTER k-grams of the input; position p ∈
  *     1..max(len−k+1, 1), clamped at the end like `substr` — so a
  *     shorter-than-k document yields its whole text as one gram;
  *   - `md5` mode orders gram digests lexicographically by lowercase
  *     hex, which equals unsigned byte order of the raw digests (hex
  *     digits ascend in ASCII) — raw 16-byte compares here, hex
  *     encoding only for the emitted minima;
  *   - `xxhash64` mode hashes the gram's UTF-8 bytes with Spark's
  *     seed-42 XXH64 and orders SIGNED, matching `array_min` over
  *     bigint;
  *   - tail windows clamp at the array end (`slice` semantics);
  *   - result keeps the first occurrence of each distinct minimum
  *     (`array_distinct` semantics; row order is irrelevant downstream
  *     but identity is preserved for the value-equality spec).
  *
  * Interpreted-only ([[CodegenFallback]]): the expression is the whole
  * cost of its projection, so codegen would only re-inline the loop it
  * already is; falling back keeps janino out of the plan entirely.
  */
case class WinnowingMins(child: Expression, k: Int, w: Int, hashMode: String)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"k must be positive: $k")
  require(w >= 1, s"w must be positive: $w")

  private val isMd5 = hashMode match {
    case "md5" => true
    case "xxhash64" => false
    case other => throw new IllegalArgumentException(s"unknown hashMode: $other")
  }

  override def dataType: DataType =
    if (isMd5) ArrayType(StringType, containsNull = false)
    else ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnowing_mins needs a string input, got $other")
  }

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  private def hexLower(bytes: Array[Byte]): UTF8String = {
    val digits = "0123456789abcdef"
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = digits.charAt((bytes(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = digits.charAt(bytes(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned byte-wise compare of two equal-length digests ≡
    * lexicographic compare of their lowercase hex strings. */
  private def ltUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    val bytes = t.getBytes
    val nChars = t.numChars()
    // Character index -> byte offset (UTF-8 grams are by character,
    // matching substr).
    val offs = CodePoints.offsets(bytes, nChars)
    val n = math.max(nChars - k + 1, 1)

    if (isMd5) {
      val digests = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        val from = offs(math.min(i, nChars))
        val until = offs(math.min(i + k, nChars))
        md.update(bytes, from, until - from)
        digests(i) = md.digest() // digest() resets the instance
        i += 1
      }
      val seen = new java.util.LinkedHashSet[UTF8String]
      var p = 0
      var prevMin = -1
      while (p < n) {
        val end = math.min(p + w, n)
        var mi = p
        var j = p + 1
        while (j < end) {
          if (ltUnsigned(digests(j), digests(mi))) mi = j
          j += 1
        }
        // Same argmin as the previous window ⇒ same value already
        // recorded (the classic winnowing skip); equal values at new
        // positions are deduplicated by the set.
        if (mi != prevMin) { seen.add(hexLower(digests(mi))); prevMin = mi }
        p += 1
      }
      new GenericArrayData(
        seen.toArray(new Array[AnyRef](seen.size())).asInstanceOf[Array[Any]])
    } else {
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) {
        val from = offs(math.min(i, nChars))
        val until = offs(math.min(i + k, nChars))
        hs(i) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from, until - from, 42L)
        i += 1
      }
      val seen = new java.util.LinkedHashSet[java.lang.Long]
      var p = 0
      var prevMin = -1
      while (p < n) {
        val end = math.min(p + w, n)
        var mi = p
        var j = p + 1
        while (j < end) {
          if (hs(j) < hs(mi)) mi = j
          j += 1
        }
        if (mi != prevMin) { seen.add(hs(mi)); prevMin = mi }
        p += 1
      }
      val out = new Array[Long](seen.size())
      val it = seen.iterator()
      var o = 0
      while (it.hasNext) { out(o) = it.next(); o += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowingMins =
    copy(child = newChild)

  override def prettyName: String = "winnowing_mins"
}
