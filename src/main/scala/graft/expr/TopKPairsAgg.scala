package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native bounded top-k (score, id) aggregate — the hot core of
  * [[graft.functions.SimilarityFunctions.topKPerDoc]] and `knnJoin`.
  *
  * Semantically identical to the Aggregator/udaf formulation (exact
  * `row_number() OVER (ORDER BY score DESC, id ASC) <= k` per group, a
  * QUALIFY oracle reproduces it bit-for-bit), but the per-row path is a
  * TypedImperativeAggregate reading two primitive columns straight off the
  * InternalRow — no ExpressionEncoder round-trip, no tuple boxing. The
  * udaf wrapper was measured at ~8 µs/row on the sf1 capped-join sweep
  * (SCALE.md r15 q154 capped mode: +28 s over the uncapped join on 3.8M pairs); this
  * path is ~50 ns/row, making the cap's cost the exchange it saves.
  *
  * Scale shape is unchanged and is the point of the aggregate: the buffer
  * holds ≤ 2k entries, partial aggregation bounds every exchange at
  * 2k rows per (partition, group) regardless of how viral a group is.
  *
  * Rows with NULL score, NULL id, or NaN score are ignored (a NaN
  * similarity is undefined, not extreme).
  */
case class TopKPairsAgg(scoreExpr: Expression, idExpr: Expression, k: Int,
                        override val mutableAggBufferOffset: Int = 0,
                        override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKPairsAgg.Buf] with BinaryLike[Expression] {
  require(k >= 1, s"k must be >= 1, got $k")

  override def left: Expression = scoreExpr
  override def right: Expression = idExpr
  override def prettyName: String = "topk_pairs"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (scoreExpr.dataType == DoubleType && idExpr.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"topk_pairs needs (double, bigint), got " +
        s"(${scoreExpr.dataType.simpleString}, ${idExpr.dataType.simpleString})")
  }

  override def createAggregationBuffer(): TopKPairsAgg.Buf =
    new TopKPairsAgg.Buf(k)

  override def update(buf: TopKPairsAgg.Buf, input: InternalRow): TopKPairsAgg.Buf = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    // NaN scores are undefined, not extreme: skipping them HERE (instead
    // of a pre-filter on the pair stream) keeps the semantics and saves a
    // measured ~25% plan overhead on the capped-join path (SCALE.md r15)
    if (s != null && i != null && !java.lang.Double.isNaN(s.asInstanceOf[Double]))
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKPairsAgg.Buf, other: TopKPairsAgg.Buf): TopKPairsAgg.Buf = {
    var i = 0
    while (i < other.len) { buf.add(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKPairsAgg.Buf): Any = {
    buf.compact()
    val rows = new Array[Any](buf.len)
    var i = 0
    while (i < buf.len) {
      rows(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKPairsAgg.Buf): Array[Byte] = {
    buf.compact()
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.len)
    bb.putInt(buf.len)
    var i = 0
    while (i < buf.len) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairsAgg.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKPairsAgg.Buf(k)
    var i = 0
    while (i < n) { buf.add(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairsAgg =
    copy(scoreExpr = newLeft, idExpr = newRight)
}

object TopKPairsAgg {
  /** Preallocated 2k-slot parallel-array buffer; appends are plain array
    * stores, compaction sorts the live prefix and keeps the best k
    * (score desc, id asc — java.lang.Double.compare gives the total order
    * so NaN cannot break transitivity). */
  final class Buf(k: Int) {
    private val capacity = 2 * k
    val scores = new Array[Double](capacity)
    val ids = new Array[Long](capacity)
    var len = 0

    def add(s: Double, id: Long): Unit = {
      scores(len) = s
      ids(len) = id
      len += 1
      if (len == capacity) compactTo(k)
    }

    def compact(): Unit = compactTo(math.min(k, len))

    private def compactTo(keep: Int): Unit = {
      // insertion-sort the live prefix (≤ 2k entries) by (score desc, id asc)
      var i = 1
      while (i < len) {
        val s = scores(i); val d = ids(i)
        var j = i - 1
        while (j >= 0 && {
          val c = java.lang.Double.compare(scores(j), s)
          c < 0 || (c == 0 && ids(j) > d)
        }) {
          scores(j + 1) = scores(j); ids(j + 1) = ids(j); j -= 1
        }
        scores(j + 1) = s; ids(j + 1) = d
        i += 1
      }
      if (len > keep) len = keep
    }
  }
}
