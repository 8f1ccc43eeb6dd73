package graft.expr

import graft.SparkSpec
import graft.functions.{DedupFunctions, SimilarityFunctions => Sim}
import org.apache.spark.sql.functions._

/** Pins the random-hyperplane sign-sketch contract ([[RhpSketch64Expr]]):
  * the integer plane formula matches a from-scratch replay, the native
  * codegen'd loop matches the HOF spec twin bit-for-bit on the real
  * embeddings and on fuzz vectors, the sketch has the properties the
  * operator exists for (gain invariance, negation = all-64 flip, hamming
  * tracks angle), the banded join over sketches equals the brute join,
  * and the projection sign margins on the testdata are ≳10 orders of
  * magnitude above double rounding so float summation order (Spark
  * ascending loop vs DuckDB SUM) can never flip an oracle bit. */
class RhpSketchSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private lazy val planes = Sim.rhpSketchPlanes(dim)

  private def emb(sfDir: String) =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))

  private def sketchLocal(e: Array[Double]): Long = {
    var sig = 0L
    for (i <- 0 until 64) {
      var s = 0.0
      for (j <- 0 until dim) s += e(j) * planes(i * dim + j)
      if (s >= 0) sig |= 1L << i
    }
    sig
  }

  test("plane formula: from-scratch integer replay, range, balance") {
    for (h <- 0 until 64 * dim) {
      val a = ((h + 1L) * 2654435761L) % 4294967296L
      val b = ((a ^ (a >> 16)) * 40503L) % 4294967296L
      assert(planes(h) === ((b >> 20) - 2048L).toFloat, s"plane $h")
    }
    assert(planes.forall(p => p >= -2048f && p <= 2047f))
    assert(planes.forall(p => p == p.toLong.toFloat), "planes must be exact ints")
    // directions are balanced (top-bits extraction, not the low-bit
    // arithmetic progression): each plane's component signs are mixed
    for (i <- 0 until 64) {
      val pos = (0 until dim).count(j => planes(i * dim + j) >= 0)
      assert(pos >= 16 && pos <= 48, s"plane $i sign balance $pos/64")
    }
  }

  test("native == HOF twin bit-for-bit on the sf0.001 embeddings") {
    val rows = emb(sf0001)
      .select(col("vec_id"),
        Sim.rhpSketch64(col("embedding"), dim).as("nat"),
        RhpSketchColumnReference.rhpSketch64Hof(col("embedding"), dim).as("hof"))
      .collect()
    assert(rows.length === 500)
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"vec ${r.getLong(0)}"))
  }

  test("native == HOF twin == local replay on fuzz vectors (both elem types)") {
    val rnd = new scala.util.Random(7)
    val fuzz = Seq.tabulate(60)(i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(5) - 2))))
    val asD = fuzz.toDF("id", "e")
    val asF = fuzz.map { case (i, e) => (i, e.map(_.toFloat)) }.toDF("id", "e")
    val natD = asD.select(col("id"), Sim.rhpSketch64(col("e"), dim).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hofD = asD.select(col("id"), RhpSketchColumnReference.rhpSketch64Hof(col("e"), dim).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(natD === hofD)
    fuzz.foreach { case (i, e) => assert(natD(i) === sketchLocal(e), s"fuzz $i") }
    // float input: native and HOF must agree with each other (the widened
    // doubles differ from the double fuzz, so compare the two paths only)
    val natF = asF.select(col("id"), Sim.rhpSketch64(col("e"), dim).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hofF = asF.select(col("id"), RhpSketchColumnReference.rhpSketch64Hof(col("e"), dim).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(natF === hofF)
  }

  test("gain invariance, negation flips all 64 bits, null passes through") {
    val base = emb(sf0001).limit(20)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val rows = base.select(
      Sim.rhpSketch64(col("e"), dim).as("s"),
      Sim.rhpSketch64(transform(col("e"), x => x * lit(7.5)), dim).as("s_gain"),
      Sim.rhpSketch64(transform(col("e"), x => -x), dim).as("s_neg"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "positive gain must not move the sketch")
      assert(java.lang.Long.bitCount(r.getLong(0) ^ r.getLong(2)) === 64,
        "negation must flip every sign (no zero projections on testdata)")
    }
    val n = Seq((1L, null: Array[Double])).toDF("id", "e")
      .select(Sim.rhpSketch64(col("e"), dim).as("s")).collect()
    assert(n.head.isNullAt(0))
  }

  test("hamming tracks angle: close pairs land low, random pairs near 32") {
    val rnd = new scala.util.Random(11)
    val v = Array.fill(dim)(rnd.nextGaussian())
    val tweaked = v.zipWithIndex.map { case (x, j) => x + (if (j % 9 == 0) 0.02 else 0.0) }
    val w = Array.fill(dim)(rnd.nextGaussian())
    val s = sketchLocal(v)
    assert(java.lang.Long.bitCount(s ^ sketchLocal(tweaked)) <= 6, "near twin must land close")
    val dRand = java.lang.Long.bitCount(s ^ sketchLocal(w))
    assert(dRand >= 16 && dRand <= 48, s"orthogonal-ish pair at $dRand")
  }

  test("q181 oracle safety: projection sign margins dwarf double rounding") {
    // every projection that decides an oracle-checked bit (sf0.001 and
    // sf0.01 embeddings + the three derived twins) must clear 1e-3 —
    // summation-order error for 64 terms of this scale is below 1e-9
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val aug = {
        val base = emb(sf).select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        base.unionByName(base.filter(col("vec_id") <= 2).select(
          (col("vec_id") + lit(100000L)).as("vec_id"),
          when(col("vec_id") === 0, transform(col("e"), x => x * lit(2.0)))
            .when(col("vec_id") === 1, transform(col("e"), x => x + lit(0.01)))
            .otherwise(transform(col("e"), x => -x)).as("e")))
      }
      val minMargin = aug.collect().iterator.map { r =>
        val e = r.getSeq[Double](1).toArray
        (0 until 64).iterator.map { i =>
          var s = 0.0
          for (j <- 0 until dim) s += e(j) * planes(i * dim + j)
          math.abs(s)
        }.min
      }.min
      assert(minMargin > 1e-3, s"$sf margin $minMargin too tight for cross-engine signs")
    }
  }

  test("banded hamming join over sketches == brute join (q181 geometry)") {
    // augment with the q181 twins: the raw sf0.001 corpus has no pair
    // under 12 bits, and the invariant must be checked on a non-empty set
    val base = emb(sf0001).select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    val aug = base.unionByName(base.filter(col("vec_id") <= 2).select(
      (col("vec_id") + lit(100000L)).as("vec_id"),
      when(col("vec_id") === 0, transform(col("e"), x => x * lit(2.0)))
        .when(col("vec_id") === 1, transform(col("e"), x => x + lit(0.01)))
        .otherwise(transform(col("e"), x => -x)).as("e")))
    val sigs = aug
      .select(col("vec_id").as("id"), Sim.rhpSketch64(col("e"), dim).as("sig"))
    val banded = DedupFunctions
      .neardupPairsByHamming64(sigs, "sig", "id", bands = 12, maxDistance = 11)
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        DedupFunctions.hamming64(col("a.sig"), col("b.sig")).cast("long"))
      .as[(Long, Long, Long)].collect().filter(_._3 <= 11).toSet
    assert(banded === brute)
    assert(brute.nonEmpty, "sf0.001 should have at least one pair at <= 11")
  }
}

/** The executable reference for [[graft.functions.SimilarityFunctions.rhpSketch64]]:
  * the interpreted Column form that [[RhpSketch64Expr]] replaced. The
  * parity tests above pin native ≡ reference bit for bit. */
object RhpSketchColumnReference {
  import org.apache.spark.sql.Column
  import graft.functions.SimilarityFunctions.{dot, rhpSketchPlanes}

  /** Composable spec twin of [[rhpSketch64]] (interpreted; tests only):
    * 64 when(dot >= 0) terms over the same plane rows, same double
    * accumulation order via the native [[dot]]. */
  def rhpSketch64Hof(emb: Column, dim: Int): Column = {
    val flat = rhpSketchPlanes(dim)
    (0 until 64).map { i =>
      val plane = Array.tabulate(dim)(j => flat(i * dim + j).toDouble)
      when(dot(emb, lit(plane)) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
  }
}
