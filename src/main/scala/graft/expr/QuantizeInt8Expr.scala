package graft.expr

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Symmetric int8 quantization of an embedding vector in ONE pass:
  * `struct(scale: double, q: array<byte>)` with `scale = max|x| / 127`
  * (1.0 for an all-zero vector) and `q[i] = round_half_up(x[i] / scale)`.
  *
  * Why native: the composable formulation embedded the
  * `array_max(transform(emb, abs))` scale expression inside the
  * per-element quantize lambda, and Catalyst's `SimplifyExtractValueOps`
  * un-does the struct-materialization trick that would share it — so the
  * max was re-evaluated for every element: O(d²) per row under
  * interpreted HOF evaluation. This expression computes the max once and
  * quantizes in a primitive loop, O(d).
  *
  * Semantics are bit-identical to the HOF spec twin
  * (`SimilarityColumnReference.quantizeInt8Hof` in FunctionsSpec) on non-empty
  * arrays: float abs/max, double division, `round` = BigDecimal.valueOf
  * HALF_UP (Spark's `round(double)`), null elements quantize to null.
  * An empty array quantizes to (1.0, []) where the HOF yields a null
  * scale — the one deliberate divergence.
  */
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(ByteType, containsNull = true), nullable = false)))

  override def prettyName: String = "quantize_int8"

  private lazy val elemIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_int8 needs array<float|double>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mx = 0f
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = math.abs(if (elemIsFloat) a.getFloat(i) else a.getDouble(i).toFloat)
        if (v > mx) mx = v
      }
      i += 1
    }
    val scale = if (mx == 0f) 1.0 else mx.toDouble / 127.0
    val q = new Array[Any](n)
    i = 0
    while (i < n) {
      q(i) = if (a.isNullAt(i)) null else {
        val v = (if (elemIsFloat) a.getFloat(i) else a.getDouble(i).toFloat).toDouble
        JBigDecimal.valueOf(v / scale).setScale(0, RoundingMode.HALF_UP).byteValue()
      }
      i += 1
    }
    InternalRow(scale, new GenericArrayData(q))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
