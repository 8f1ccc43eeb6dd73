package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** Tests of the benchmark itself, run with `python3 perfbench/run.py
  * --self-test` from the repository root. Needs no Spark session and no
  * generated data. Exits non-zero when any test fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val bench = new ObjectMapper().readTree(new java.io.File("BENCHMARK.json"))
    def declared(key: String): Seq[(String, String)] = {
      val it = bench.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    }

    test("end-to-end metric names and units parse and match BENCHMARK.json") {
      val out = Main.Outcome(12.5, Seq(Main.Op("read", "q", Some(1.5)),
        Main.Op("read", "r", Some(2.5))), 4.0, 0.0, 1500.0, Nil)
      val line = Stats.resultLine(true, 2, 0, Main.endToEnd(out))
      val node = new ObjectMapper().readTree(line)
      check(node.fieldNames().hasNext, "empty result")
      val keys = Seq("correct", "attempted", "failed", "metrics")
      check(keys.forall(node.has) && node.size == 4, s"result keys: $line")
      val got = declared("end_to_end").map { case (n, u) =>
        n -> node.get("metrics").get(n).get("unit").asText() }
      check(got == declared("end_to_end"), s"units $got")
      check(node.get("metrics").size == got.size, "extra metrics on the result line")
    }

    test("per-layer metric names and units match BENCHMARK.json") {
      val t = new Tracer(null, enabled = false)
      t.spans += Tracer.Span(0, -1, 0, "op", Tracer.OpLayer, 10.0, 20.0)
      val l = Layers.summarize(t, 0.0, 4)
      check(l.metrics.map(m => m.name -> m.unit) == declared("per_layer"),
        s"layer metrics ${l.metrics.map(_.name)}")
    }

    test("numbers print with Locale.ROOT under any default locale") {
      val saved = java.util.Locale.getDefault
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      try {
        val line = Stats.resultLine(true, 1, 0, Seq(Stats.Metric("x_ms", 1234.5678, "ms")))
        check(line.contains("1234.5678"), line)
        check(Stats.fmt("%.2f", 1.5) == "1.50", Stats.fmt("%.2f", 1.5))
      } finally java.util.Locale.setDefault(saved)
    }

    test("a percentile is reported only with at least 10 samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      check(Stats.percentile(xs, 90).contains(90.0), "p90 of 100 samples")
      check(Stats.percentile(xs.take(99), 90).isEmpty, "p90 of 99 samples")
      check(Stats.percentile(xs.take(50), 80).contains(40.0), "p80 of 50 samples")
      check(Stats.percentile(xs.take(49), 80).isEmpty, "p80 of 49 samples")
      check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median")
      check(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12, "geomean")
    }

    test("a different seed changes the inputs but not the op counts") {
      val names = CatalogApi.ReadIds
      def kinds(p: Seq[CatalogApi.Step]) =
        (p.count(_.isInstanceOf[CatalogApi.Read]), p.count(_.isInstanceOf[CatalogApi.Write]))
      val (a, b) = (CatalogApi.plan(1, names, 150000, 30), CatalogApi.plan(2, names, 150000, 30))
      check(kinds(a) == kinds(b), s"catalog op counts ${kinds(a)} vs ${kinds(b)}")
      check(kinds(a) == (62, 8), s"catalog op counts ${kinds(a)}")
      def render(p: Seq[CatalogApi.Step]) = p.map {
        case CatalogApi.Read(q) => q
        case CatalogApi.Write(k, u) => s"w$k:${u.keys.mkString(",")}:${u.statuses.mkString}"
      }
      check(render(a) != render(b), "catalog plans equal across seeds")
      check(a.collect { case CatalogApi.Write(_, u) => u.keys.length }.forall(_ == 1500),
        "update batch size")
      check(render(CatalogApi.plan(1, names, 150000, 30)) == render(a),
        "catalog plan not reproducible")
      val (x, y) = (SceneIngest.plan(1, 20, 5), SceneIngest.plan(2, 20, 6))
      check(x.length == y.length && x.map(_.retry.size) == y.map(_.retry.size),
        "ingest op counts differ")
      check(x.map(_.retry.map(_.takeRight(2))) != y.map(_.retry.map(_.takeRight(2))) ||
        SceneIngest.sceneId(1, 0) != SceneIngest.sceneId(2, 0), "ingest plans equal")
      val qs = Curation.QueryIds
      val (c1, c2) = (Curation.plan(1, qs, 20), Curation.plan(2, qs, 20))
      check(c1.length == c2.length && c1.sorted == c2.sorted && c1.length % qs.length == 0,
        "curation op counts differ")
      check(c1 != c2, "curation order equal across seeds")
      val (p, q) = (SceneIngest.band(1, 0, 0), SceneIngest.band(2, 0, 0))
      check(p.length == q.length && !java.util.Arrays.equals(p, q), "scene pixels equal")
      check(java.util.Arrays.equals(p, SceneIngest.band(1, 0, 0)), "scene not reproducible")
      check(p.count(_ == SceneIngest.Nodata) > 0, "scene has no nodata holes")
    }

    test("layer self times add up to the op wall time") {
      val op = Tracer.Span(0, -1, 0, "op", Tracer.OpLayer, 100.0, 200.0)
      val kids = Seq(
        Tracer.Span(1, 0, 0, "construct", "construct", 101.0, 130.0),
        Tracer.Span(2, 0, 0, "pipeline.merge", "pipeline", 140.0, 195.0),
        Tracer.Span(3, 2, 0, "raster.encode", "raster", 150.0, 190.0))
      val jobs = Seq((110.0, 120.0), (155.0, 170.0), (165.0, 185.0), (190.0, 260.0))
      val phases = Seq((141.0, 156.0), (95.0, 102.0))
      val parts = Tracer.selfTimes(op, kids, jobs, phases)
      check(math.abs(parts.values.sum - op.ms) < 1e-9, s"sum ${parts.values.sum} of $parts")
      check(parts("exec") == 10 + 30 + 10, s"exec $parts")
      check(parts("catalyst") == 2 + 14, s"catalyst $parts")
      check(parts("construct") == 29 - 1 - 10, s"construct $parts")
      check(parts("raster") == 40 - 30 - 5, s"raster $parts")
      check(parts("pipeline") == 1, s"pipeline $parts")
      check(parts("other") == 10, s"other $parts")
    }

    test("the unclaimed share of op wall time is bounded") {
      def summary(kids: Tracer.Span*) = {
        val t = new Tracer(null, enabled = false)
        t.spans += Tracer.Span(0, -1, 0, "op", Tracer.OpLayer, 0.0, 1000.0)
        t.spans ++= kids
        Layers.summarize(t, 0.0, 4)
      }
      val claimed = summary(Tracer.Span(1, 0, 0, "construct", "construct", 5.0, 400.0),
        Tracer.Span(2, 0, 0, "action", Tracer.DriverLayer, 400.0, 995.0))
      check(claimed.otherMs == 10.0 && Main.unclaimedOk(claimed), s"claimed ${claimed.otherMs}")
      val gap = summary(Tracer.Span(1, 0, 0, "construct", "construct", 0.0, 900.0))
      check(gap.otherMs == 100.0 && !Main.unclaimedOk(gap), s"gap ${gap.otherMs}")
    }

    test("digests ignore row order and float summation order") {
      val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, null, 1.0), Row(2L, null, 1.0))
      val same = Seq(Row(2L, null, 1.0), Row(1L, "a", 0.3), Row(2L, null, 1.0))
      check(Digest.of(rows) == Digest.of(same), "order or rounding changed the digest")
      check(Digest.of(rows) != Digest.of(rows.take(2)), "duplicate row ignored")
      check(Digest.of(rows) != Digest.of(Seq(Row(1L, "a", 0.31)) ++ rows.drop(1)),
        "value change ignored")
    }

    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
