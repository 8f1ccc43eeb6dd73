package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The two-pointer intersect-count kernel must agree with
  * size(array_intersect(...)) on every shape the exact joins feed it:
  * sorted distinct long arrays, empty sides, disjoint/identical sets,
  * nulls — in BOTH interpreted and codegen evaluation. */
class SortedIntersectCountSpec extends SparkSpec {

  test("sorted_intersect_count ≡ size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val cases = Seq(
      (Array(1L, 2L, 3L), Array(2L, 3L, 4L)),           // overlap 2
      (Array(1L, 2L, 3L), Array(4L, 5L)),               // disjoint
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),           // identical
      (Array.empty[Long], Array(1L, 2L)),               // empty side
      (Array.empty[Long], Array.empty[Long]),           // both empty
      (Array(5L), Array(1L, 3L, 5L, 7L, 9L)),           // singleton probe
      ((1L to 200L).toArray, (100L to 300L).toArray))   // long overlap run
    val df = cases.toDF("a", "b")
    val got = df.select(
      graft.expr.NativeFunctions.sorted_intersect_count(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1), r.toString))
    // null semantics: null input ⇒ null out, same as size(array_intersect)
    val withNull = Seq((Some(Array(1L, 2L)), Option.empty[Array[Long]]))
      .toDF("a", "b")
      .select(graft.expr.NativeFunctions
        .sorted_intersect_count(col("a"), col("b")).as("c"))
    assert(withNull.head().isNullAt(0))
    // interpreted path (no codegen) agrees
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = df.select(graft.expr.NativeFunctions
        .sorted_intersect_count(col("a"), col("b")).as("c")).collect().map(_.getInt(0))
      assert(interp.toSeq === Seq(2, 0, 3, 0, 0, 1, 101))
    }
  }

  test("the interpreted path rejects unsorted input with require, not an elidable assert") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def arr(xs: Long*) =
      Literal(new GenericArrayData(xs.toArray[Any]), ArrayType(LongType, false))
    assert(SortedIntersectCountExpr(arr(1L, 2L, 5L), arr(2L, 5L)).eval() === 2)
    val e = intercept[IllegalArgumentException] {
      SortedIntersectCountExpr(arr(1L, 2L), arr(5L, 2L)).eval()
    }
    assert(e.getMessage.contains("right array violates the sorted-ascending contract"))
  }

  private def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
