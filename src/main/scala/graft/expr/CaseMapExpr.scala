package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.CollationFactory.UTF8_BINARY_COLLATION_ID
import org.apache.spark.sql.catalyst.util.CollationSupport.{Lower, Upper}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL `lower`/`upper` under the UTF8_BINARY collation, reading the ICU flag
  * only for non-ASCII input (both case maps agree on ASCII). Spark's ICU path
  * initializes `CollationAwareUTF8String`, whose title-case table costs the
  * first task of a JVM ~3 GB of garbage: a burst that decides whether G1
  * grows the heap. ASCII input never loads that class here. */
object CaseMap {
  def map(s: UTF8String, upper: Boolean): UTF8String = {
    val icu = !s.isFullAscii && SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    if (upper) Upper.exec(s, UTF8_BINARY_COLLATION_ID, icu)
    else Lower.exec(s, UTF8_BINARY_COLLATION_ID, icu)
  }
  def lower(s: String): String = map(UTF8String.fromString(s), upper = false).toString
}

/** `lower(s)`: the SQL builtin's result, by [[CaseMap.map]]. */
case class LowerExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(StringType)
  override def prettyName: String = "lower"
  override def nullSafeEval(v: Any): Any = CaseMap.map(v.asInstanceOf[UTF8String], upper = false)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.CaseMap.map($s, false)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
