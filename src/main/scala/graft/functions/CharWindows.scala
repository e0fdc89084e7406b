package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Every length-`len` character window of a text column, in order, in
  * ONE pass — the per-position fan-out of the exact-substring audit
  * (x100/x100c; `posexplode` supplies the 0-based start).
  *
  * Bit-identical to
  * `transform(sequence(1, length(text) - len + 1), i -> substring(text, i, len))`
  * for `length(text) >= len`, and the empty array for shorter text
  * (where that spelling's `sequence` would count DOWN). Characters are
  * code points counted the way `UTF8String.numChars` (so Spark's
  * `length` and `substring`) counts them: one per leading byte. Where
  * the spelling's `substring` walks from the start of the text for
  * every window (quadratic per document) and runs one interpreted
  * lambda frame per position, this walks the bytes once to record each
  * code point's offset and then copies each window straight out of the
  * byte array. CodegenFallback: the byte copies dominate.
  */
case class CharWindows(child: Expression, len: Int)
    extends UnaryExpression with CodegenFallback {

  require(len >= 1, s"char_windows needs a window length >= 1, got $len")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${t.sql}")
    }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def prettyName: String = "char_windows"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val nb = bytes.length
    // starts(k) = byte offset of code point k; starts(n) = end of text
    val starts = new Array[Int](nb + 1)
    var n = 0
    var i = 0
    while (i < nb) {
      starts(n) = i
      n += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(n) = math.min(i, nb)
    if (n < len) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - len + 1)
    var k = 0
    while (k < out.length) {
      out(k) = UTF8String.fromBytes(bytes, starts(k),
        starts(k + len) - starts(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharWindows = copy(child = newChild)
}
