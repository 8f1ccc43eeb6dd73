package graft.perfbench

import graft.SparkEntry
import graft.perfbench.Main.{Ctx, Outcome}

import java.util.SplittableRandom

/** `curation`: the heavy training-data operators whose cost is mostly
  * fixed driver-side work: eager jobs fired while the builder runs, then
  * a plan of many small stages. The set holds the fixed-cost suspects of
  * the roadmap: the set-similarity joins q130, q148 and q155, the
  * embedding sketch dedup q182, and the crawl plane q197–q199. (q206, the
  * roadmap's other suspect, is slow at 32 cores only, which a local[4] run
  * cannot show.)
  * Each op builds one query with its SparkEntry builder and runs it
  * to its whole result through the noop sink; the seed orders each pass.
  * The queries only read the generated tables, so they need no working
  * copy. */
object Curation extends Workload {
  val name = "curation"

  val QueryIds: Seq[String] =
    Seq("q130", "q148", "q155", "q182", "q197", "q198", "q199")
  /** The cost of these queries is mostly fixed, so sf0.01 (500 documents)
    * keeps a pass short while every result stays non-trivial. */
  val Scale = "sf0.01"
  /** One pass over the set takes about this long on 4 cores; the timed
    * region is the whole number of passes nearest `--seconds`. */
  val NominalPassS = 15.0

  def passes(seconds: Int): Int = math.max(1, math.round(seconds / NominalPassS).toInt)

  /** The seeded op sequence: every pass runs each query once, in a seeded
    * order. Only the order depends on the seed. */
  def plan(seed: Long, names: Seq[String], seconds: Int): Seq[String] = {
    val rng = new SplittableRandom(seed)
    (0 until passes(seconds)).flatMap(_ => Main.shuffled(names, rng))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val sf = ctx.args.data.resolve(Scale).toString
    val queries = SparkEntry.queries
    val names = Main.queryNames(QueryIds)
    val expected = CatalogApi.loadDigests(ctx.args.digests.resolve("curation.json"))
    // Warm-up and check in one: a pass in a fixed order, each result
    // digested whole by the tasks and compared with the stored digest.
    val checks = names.map { q =>
      val ok = try Digest.of(queries(q)(spark, sf)).render == expected.getOrElse(q, "missing")
      catch { case e: Exception => System.err.println(s"[perfbench] check $q failed: $e"); false }
      Main.stage(ctx, s"checked $q")
      s"result:$q" -> ok
    }
    val steps = plan(ctx.seed, names, ctx.args.seconds)
    val setupS = ctx.sinceJvmStartS
    val passStartMs = t.nowMs
    val p0 = System.nanoTime()
    val ops = steps.map { q =>
      Main.timed("query", q, t) {
        val df = t.span("construct", "construct")(queries(q)(spark, sf))
        t.action(df.write.format("noop").mode("overwrite").save())
      }._1
    }
    val passS = (System.nanoTime() - p0) / 1e9
    Outcome(setupS, ops, passS, passStartMs, Main.peakRssMb(), checks)
  }
}
