package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Winnowing fingerprints ([[DedupFunctions.winnowFingerprints]] /
  * winnowPairs — Schleimer–Wilkerson–Aiken): pins the two theorems the
  * algorithm is used for — any shared token run of length ≥ k+w−1 yields
  * a shared fingerprint (guarantee threshold), and no match shorter than
  * k tokens can fire (noise threshold) — plus position-robustness,
  * short-doc edges, a from-scratch local replay, and the pair detector's
  * plan shape. */
class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  private val k = 4
  private val w = 5

  private def fps(texts: (Long, String)*): Map[Long, Set[String]] =
    texts.toDF("id", "text")
      .select(col("id"), DedupFunctions.winnowFingerprints(col("text"), k, w).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap

  private def localFps(text: String): Set[String] = {
    val toks = text.trim.split("\\s+")
    if (toks.length < k) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(("wn|" + s).getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hashes = toks.sliding(k).map(g => md5hex(g.mkString(" "))).toArray
    val nWin = math.max(hashes.length - (w - 1), 1)
    (0 until nWin).map(j => hashes.slice(j, j + w).min).toSet
  }

  test("Spark fingerprints == from-scratch local replay on the sf0.001 documents") {
    val rows = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"),
        DedupFunctions.winnowFingerprints(col("text"), k, w).as("f"), col("text"))
      .collect()
    assert(rows.length >= 100)
    rows.foreach { r =>
      assert(r.getSeq[String](1).toSet === localFps(r.getString(2)),
        s"doc ${r.getLong(0)}")
    }
  }

  test("native == HOF twin bit-for-bit (values AND order) on docs + whitespace edges") {
    val edge = Seq(
      (900L, "  leading and trailing   spaces  "),
      (901L, "tab\tseparated\ttokens here and more tokens to cover windows"),
      (902L, "a b c"), (903L, ""), (904L, "   "))
      .toDF("doc_id", "text")
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    for (df <- Seq(base, edge)) {
      val rows = df.select(
        DedupFunctions.winnowFingerprints(col("text"), k, w).as("nat"),
        WinnowColumnReference.winnowFingerprintsHof(col("text"), k, w).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1))
      }
    }
  }

  test("guarantee: a shared run of k+w-1 tokens always yields a shared fingerprint") {
    // 50 random doc pairs, each sharing an 8-token run (k+w-1 = 8) embedded
    // at different positions inside otherwise-disjoint vocabulary
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 50) {
      val run = Seq.fill(k + w - 1)(s"shared${trial}_${rnd.nextInt(1000)}").mkString(" ")
      val padA = Seq.fill(rnd.nextInt(20) + 1)(s"a${rnd.nextInt(100000)}").mkString(" ")
      val padB = Seq.fill(rnd.nextInt(20) + 1)(s"b${rnd.nextInt(100000)}").mkString(" ")
      val a = s"$padA $run ${Seq.fill(5)(s"a${rnd.nextInt(100000)}").mkString(" ")}"
      val b = s"$padB $run ${Seq.fill(5)(s"b${rnd.nextInt(100000)}").mkString(" ")}"
      val shared = localFps(a) intersect localFps(b)
      assert(shared.nonEmpty, s"trial $trial: k+w-1 run must be witnessed")
    }
  }

  test("noise threshold: overlaps shorter than k tokens never fire") {
    // A and B share only k-1 consecutive tokens — no k-gram is shared, so
    // no fingerprint can be
    val common = "x1 x2 x3" // k-1 = 3 tokens
    val a = s"a1 a2 a3 a4 a5 $common a6 a7 a8 a9"
    val b = s"b1 b2 b3 b4 b5 $common b6 b7 b8 b9"
    assert((localFps(a) intersect localFps(b)).isEmpty)
    val m = fps((1L, a), (2L, b))
    assert((m(1L) intersect m(2L)).isEmpty)
  }

  test("position-robustness: a long prefix insertion keeps the suffix fingerprints") {
    val bodyTokens = Seq.tabulate(40)(i => s"body$i").mkString(" ")
    val m = fps((1L, bodyTokens), (2L, s"inserted0 inserted1 inserted2 $bodyTokens"))
    // every window fully inside the unchanged body picks the same minima
    val shared = m(1L) intersect m(2L)
    assert(shared.size >= m(1L).size - w,
      s"content-addressed fingerprints must survive the shift: ${m(1L).size} vs ${shared.size}")
  }

  test("short-doc edges: < k tokens empty, k..k+w-2 tokens one window") {
    val m = fps((1L, "a b c"), (2L, "a b c d"), (3L, "a b c d e f"))
    assert(m(1L).isEmpty, "3 tokens < k=4 must produce nothing")
    assert(m(2L).size === 1, "exactly one 4-gram -> one window -> one fingerprint")
    assert(m(3L).size === 1, "3 hashes < w=5 -> one window over what exists")
    assert(m(3L) === localFps("a b c d e f"))
  }

  test("winnowPairs finds the planted quote; plan is equi-join-shaped") {
    val quote = Seq.tabulate(k + w - 1)(i => s"quoted$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $quote epsilon zeta eta theta"),
      (2L, s"one two three four five six $quote seven eight nine"),
      (3L, "totally unrelated words nowhere near the others at all"))
      .toDF("doc_id", "text")
    val pairs = DedupFunctions.winnowPairs(docs, "text", "doc_id", k, w, minShared = 1)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)), s"got $got")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}

/** The executable reference for [[DedupFunctions.winnowFingerprints]]:
  * the Column form that [[graft.expr.WinnowExpr]] replaced. The parity
  * test above pins native ≡ reference bit for bit. */
object WinnowColumnReference {
  import org.apache.spark.sql.Column

  /** Composable spec twin of [[winnowFingerprints]] (tests only). */
  def winnowFingerprintsHof(text: Column, k: Int = 4, w: Int = 5): Column = {
    require(k >= 1 && w >= 1, s"winnow k=$k w=$w out of range")
    // Every intermediate array is BOUND ONCE as a lambda variable via the
    // single-element transform(array(x), v => …) pattern. Referencing the
    // raw sub-expression inside a HOF lambda instead re-evaluates it per
    // element — with `hashes` under the per-window slice that compounds
    // to O(windows × grams × k) full regex re-splits per document, which
    // turned a 5k-doc pass into a ~1 h single-task stage before this
    // binding (the scan stage is one task on a one-file table).
    def bind(x: Column)(body: Column => Column): Column =
      element_at(transform(array(x), body), 1)
    bind(split(trim(text), "\\s+")) { toks =>
      // try_element_at: rows shorter than k still EVALUATE this binding
      // (the masking `when` sits below it) — ANSI element_at would throw
      // on their out-of-range gram indices; the garbage grams those rows
      // produce are discarded by the guard
      bind(transform(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
        i => md5(concat(lit("wn|"),
          concat_ws(" ", (0 until k).map(o => try_element_at(toks, i + lit(o))): _*))))) { hashes =>
        // sequence(1, n) with n < 1 counts DOWN — both sequences are
        // floored at 1 and the no-gram case is masked by the outer when
        when(size(toks) >= k, array_distinct(
          transform(sequence(lit(1), greatest(size(hashes) - (w - 1), lit(1))),
            j => array_min(slice(hashes, j, lit(w))))))
          .otherwise(array().cast("array<string>"))
      }
    }
  }
}
