package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 16-bit md5-based SimHash — the cross-engine-reproducible variant of
  * [[SimHashExpr]]: token hash = md5 instead of xxhash64, so a DuckDB
  * oracle can verify it bit-for-bit (`simhash64`'s xxhash64 fold has no
  * DuckDB counterpart and is gated rows-only).
  *
  * Bit i (0..15) votes on bit (i mod 4) of hex digit (i div 4) of
  * md5(token) — hex digit 2m is the high nibble of digest byte m. Votes
  * are +1/−1 per token; bit set when votes > 0. Bit-identical to the HOF
  * reference (`DedupColumnReference.simhashMd5Hof` in FunctionsSpec) and
  * the DuckDB strpos/shift formulation.
  */
case class SimHashMd5Expr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5_16"

  override def nullSafeEval(input: Any): Any = {
    val votes = new Array[Int](16)
    val toks = TextTok.tokens(input.asInstanceOf[UTF8String].toString)
    val md = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    while (t < toks.length) {
      md.reset()
      val digest = md.digest(toks(t).getBytes("UTF-8"))
      var i = 0
      while (i < 16) {
        val j = i >> 2 // hex digit index
        val v = if ((j & 1) == 0) (digest(j >> 1) >> 4) & 0xF else digest(j >> 1) & 0xF
        if (((v >> (i & 3)) & 1) == 1) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      t += 1
    }
    var out = 0L
    var i = 0
    while (i < 16) {
      if (votes(i) > 0) out |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
