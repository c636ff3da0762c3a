package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

private[functions] object CodePoints {

  /** Byte offset of every code point of a UTF-8 string of `nChars`
    * code points, plus `bytes.length` at index `nChars`: code point i is
    * the byte range [offs(i), offs(i + 1)). One walk over the bytes. */
  def offsets(bytes: Array[Byte], nChars: Int): Array[Int] = {
    val offs = new Array[Int](nChars + 1)
    var ci = 0
    var bi = 0
    while (ci < nChars) {
      offs(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    offs(nChars) = bytes.length
    offs
  }
}

/** All character n-grams of a string in position order, in one native
  * pass: gram i is the n code points starting at code point i, exactly
  * `transform(sequence(1, length(t) − n + 1), i => substr(t, i, n))`.
  * That column form runs its lambda interpreted, and each `substr`
  * walks the string from its start, so it costs O(L²) per document;
  * here one walk over the UTF-8 bytes records every code point's byte
  * offset and each gram is one byte-range copy.
  *
  * Positions are code points, as in Spark's `length`/`substr` (an emoji
  * outside the BMP is one position). Null text and text shorter than n
  * give an empty array, never null.
  */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"n must be positive: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams needs a string input, got $other")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.empty[Any]) else nullSafeEval(v)
  }

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    val nChars = t.numChars()
    if (nChars < n) return new GenericArrayData(Array.empty[Any])
    val bytes = t.getBytes
    val offs = CodePoints.offsets(bytes, nChars)
    val out = new Array[Any](nChars - n + 1)
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)

  override def prettyName: String = "char_ngrams"
}
