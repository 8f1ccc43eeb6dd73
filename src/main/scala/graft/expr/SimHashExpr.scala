package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit SimHash over whitespace tokens: per-bit majority vote of
  * token hashes, one primitive loop per document.
  *
  * Bit-identical to the HOF specification
  * (`DedupColumnReference.simhash64Hof` in FunctionsSpec): token hash =
  * Spark's `xxhash64(token)` (XXH64 over the UTF-8 bytes, seed 42), votes
  * +1/−1 per bit, bit set when votes > 0.
  */
case class SimHashExpr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val votes = new Array[Int](64)
    val toks = TextTok.tokens(input.asInstanceOf[UTF8String].toString)
    var i = 0
    while (i < toks.length) {
      val u = UTF8String.fromString(toks(i))
      val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
