package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic catalog: the TPC-H-ish star schema plus the
  * `events`, `documents` and `embeddings` tables, with the row counts and
  * value domains of the repository's sf0.1 test tables (`TESTDATA.md`).
  * Every value is a pure function of (data seed, table, row id), so the
  * tables do not depend on partitioning, and the stored result digests of
  * the catalog reads hold for any benchmark seed.
  *
  * Run as a main: `DataGen <outDir> <scale>` writes one parquet directory
  * per table. */
object DataGen extends Serializable {
  val DataSeed = 42L

  private val Vocab = Array("query", "row", "stream", "the", "spark", "line", "small",
    "fast", "group", "customer", "batch", "sort", "value", "hash", "filter", "big",
    "data", "part", "column", "order", "scan", "a", "slow", "agg", "key", "window",
    "table", "merge", "vector", "join")
  private val Segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Adjectives = Array("blue", "old", "small", "new", "large", "hot", "cold", "red")
  private val Nouns = Array("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
  private val Types = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("signup", "click", "error", "view", "purchase")
  private val Langs = Array("en", "en", "de", "fr", "es", "zh")
  private val OrderStatus = Array("O", "F", "P")
  private val ReturnFlags = Array("N", "A", "R")
  private val LineStatus = Array("O", "F")

  /** SplitMix64 finalizer: a stateless hash of (table, row, draw). */
  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(table: Long, id: Long, k: Long): Double =
    (mix(DataSeed ^ (table << 40), id, k) >>> 11) * (1.0 / (1L << 53))
  def pick(table: Long, id: Long, k: Long, n: Int): Int = (unit(table, id, k) * n).toInt
  private def r2(x: Double): Double = math.round(x * 100) / 100.0
  private def gauss(table: Long, id: Long, k: Long): Double =
    math.sqrt(-2 * math.log(1 - unit(table, id, 2 * k))) *
      math.cos(2 * math.Pi * unit(table, id, 2 * k + 1))

  private val Day = 86400L * 1000000L
  private val Epoch1995 = 788918400L * 1000000L // 1995-01-01T00:00:00Z in µs
  private val Epoch2024 = 1704067200L * 1000000L
  private def ts(micros: Long) = new java.sql.Timestamp(micros / 1000)

  final case class TableSpec(name: String, rows: Long, schema: StructType, row: Long => Row)

  def specs(scale: Double): Seq[TableSpec] = {
    def n(base: Long) = math.max(1L, math.round(base * scale))
    val (nCust, nSupp, nPart, nOrd) = (n(150000), n(10000), n(200000), n(1500000))
    val (nLine, nEv, nDoc, nEmb) = (n(6000000), n(1000000), n(50000), n(20000))
    val nUsers = n(15000)
    def st(fs: (String, DataType)*) = StructType(fs.map { case (c, t) => StructField(c, t) })
    def baseText(i: Long): String = {
      val words = 10 + pick(8, i, 0, 91)
      (0 until words).map(k => Vocab(pick(8, i, k + 1, Vocab.length))).mkString(" ")
    }
    Seq(
      TableSpec("region", 5, st("r_regionkey" -> IntegerType, "r_name" -> StringType),
        i => Row(i.toInt, Regions(i.toInt))),
      TableSpec("nation", 25, st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), i => Row(i.toInt, s"NATION_$i", (i % 5).toInt)),
      TableSpec("customer", nCust, st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        i => Row(i, Stats.fmt("Customer#%09d", i), pick(1, i, 0, 25),
          r2(-999.99 + unit(1, i, 1) * 10999.8), Segments(pick(1, i, 2, 5)))),
      TableSpec("supplier", nSupp, st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
        i => Row(i, Stats.fmt("Supplier#%09d", i), pick(2, i, 0, 25),
          r2(-999.99 + unit(2, i, 1) * 10999.8))),
      TableSpec("part", nPart, st("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType),
        i => Row(i, s"${Adjectives(pick(3, i, 0, 8))} ${Nouns(pick(3, i, 1, 8))}",
          s"Brand#${1 + pick(3, i, 2, 25)}", Types(pick(3, i, 3, 6)), 1 + pick(3, i, 4, 50),
          900.0 + (i % 1000) / 10.0)),
      TableSpec("orders", nOrd, st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
        i => Row(i, pick(4, i, 0, nCust.toInt).toLong, OrderStatus(pick(4, i, 1, 3)),
          r2(1000.0 + unit(4, i, 2) * 499000.0), ts(Epoch1995 + pick(4, i, 3, 2404) * Day),
          Priorities(pick(4, i, 4, 5)))),
      TableSpec("lineitem", nLine, st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType),
        i => Row(pick(5, i, 0, nOrd.toInt).toLong, pick(5, i, 1, nPart.toInt).toLong,
          pick(5, i, 2, nSupp.toInt).toLong, 1 + pick(5, i, 3, 7), (1 + pick(5, i, 4, 50)).toDouble,
          r2(900.0 + unit(5, i, 5) * 104100.0), pick(5, i, 6, 11) / 100.0,
          pick(5, i, 7, 9) / 100.0, ReturnFlags(pick(5, i, 8, 3)),
          LineStatus(pick(5, i, 9, 2)), ts(Epoch1995 + Day + pick(5, i, 10, 2498) * Day))),
      TableSpec("events", nEv, st("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType),
        i => Row(i, ts(Epoch2024 + ((i + unit(6, i, 0)) * (30 * Day) / nEv).toLong),
          pick(6, i, 1, nUsers.toInt).toLong, EventTypes(pick(6, i, 2, 5)),
          r2(unit(6, i, 3) * unit(6, i, 4) * 560.0), s"""{"k": ${pick(6, i, 5, 100)}}""")),
      TableSpec("documents", nDoc, st("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
        i => {
          // ~10% near-duplicates (an earlier doc plus a marker word) and
          // ~0.5% exact copies, so the dedup operators have work to do
          val u = unit(7, i, 0)
          val text =
            if (i > 0 && u < 0.10) baseText(pick(7, i, 1, i.toInt).toLong) + " dup"
            else if (i > 0 && u < 0.105) baseText(pick(7, i, 1, i.toInt).toLong)
            else baseText(i)
          Row(i, text, Langs(pick(7, i, 2, Langs.length)), s"src${pick(7, i, 3, 20)}",
            text.length.toLong)
        }),
      TableSpec("embeddings", nEmb, st("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
        i => {
          // ~5% near-copies of an earlier vector; the rest are label
          // centroid plus isotropic noise, unit-normalized
          val src = if (i > 0 && unit(9, i, 0) < 0.05) pick(9, i, 1, i.toInt).toLong else i
          val label = pick(9, src, 2, 10)
          val v = Array.tabulate(64) { k =>
            0.01 * gauss(10, label, k) + gauss(9, src, k + 8) +
              (if (src != i) 0.02 * gauss(9, i, k + 200) else 0.0)
          }
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i, v.map(x => (x / norm).toFloat).toSeq, label)
        })
    )
  }

  /** Write every table at `scale` under `out/<table>.parquet`. */
  def write(spark: SparkSession, out: String, scale: Double): Unit = {
    val slices = spark.sparkContext.defaultParallelism
    specs(scale).foreach { t =>
      val rows = spark.sparkContext.range(0L, t.rows, 1, slices).map(t.row)
      spark.createDataFrame(rows, t.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/${t.name}.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: DataGen <outDir> <scale>")
    val spark = Main.session()
    try write(spark, args(0), args(1).toDouble)
    finally spark.stop()
  }
}
