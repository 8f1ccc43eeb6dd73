package graft.perfbench

import graft.SparkEntry
import graft.catalog.Tables
import graft.perfbench.Main.{Ctx, Outcome}
import graft.pipeline.Pipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** `catalog_api`: the reference's REST/controller surface as a closed loop
  * of one client. Reads are the 31 catalog query builders of SparkEntry,
  * each run to its whole result through the noop sink; writes are order
  * status updates (about one per eight reads), each merged into `orders`
  * with `Pipeline.mergeByKey` and swapped in, so later reads see it. All
  * of it runs against this run's working copy of the generated sf0.1
  * tables. */
object CatalogApi extends Workload {
  val name = "catalog_api"

  val ReadIds: Seq[String] = (1 to 20).map(i => Stats.fmt("q%02d", i)) ++
    Seq("q40", "q41", "q49", "q50", "q56", "q57", "q64", "q65", "q69", "q82", "q94")
  val WritesPerCycle = 4
  val UpdateShare = 0.01
  /** A cycle (every read once, plus its writes) takes about this long on 4
    * cores; the pass is the whole number of cycles nearest `--seconds`. */
  val NominalCycleS = 15.0
  val Scale = 0.1
  val Statuses = Array("O", "F", "P")

  def cycles(seconds: Int): Int = math.max(1, math.round(seconds / NominalCycleS).toInt)

  def readNames: Seq[String] = Main.queryNames(ReadIds)

  final case class Update(keys: Array[Long], statuses: Array[String])

  sealed trait Step
  final case class Read(query: String) extends Step
  final case class Write(k: Int, u: Update) extends Step

  /** The seeded op sequence: every cycle reads each query once in a seeded
    * order, with its writes at seeded positions. Only the order and the
    * update batches depend on the seed, never the op counts. */
  def plan(seed: Long, names: Seq[String], nOrders: Long, seconds: Int): Seq[Step] = {
    val rng = new SplittableRandom(seed)
    val batch = math.max(1, math.round(nOrders * UpdateShare).toInt)
    var k = 0
    (0 until cycles(seconds)).flatMap { _ =>
      val order = Main.shuffled(names, rng)
      val writeAfter = Main.shuffled(order.indices, rng).take(WritesPerCycle).toSet
      order.zipWithIndex.flatMap { case (q, i) =>
        val w = if (writeAfter(i)) {
          val keys = rng.longs(batch.toLong * 2, 0L, nOrders).distinct().limit(batch).toArray
          val st = keys.map(_ => Statuses(rng.nextInt(Statuses.length)))
          k += 1
          Seq(Write(k, Update(keys, st)))
        } else Nil
        Read(q) +: w
      }
    }
  }

  def loadDigests(p: Path): Map[String, String] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(p.toFile)
    val it = node.fields()
    val out = mutable.Map.empty[String, String]
    while (it.hasNext) { val e = it.next(); out(e.getKey) = e.getValue.asText() }
    out.toMap
  }

  def ordersSpec: DataGen.TableSpec = DataGen.specs(Scale).find(_.name == "orders").get

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val base = ctx.args.data.resolve("sf0.1")
    val sfPath = ctx.args.work.resolve("sf")
    val sf = sfPath.toString
    val queries = SparkEntry.queries
    val names = readNames
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val expected = loadDigests(ctx.args.digests.resolve("catalog_reads.json"))

    // set-up: the working copy, made three times; set-up time counts its median
    var copyTotal = 0.0
    val copyS = Main.medianOf(3) { _ =>
      val t0 = System.nanoTime()
      Main.deleteTree(sfPath)
      Main.copyTree(base, sfPath)
      copyTotal += (System.nanoTime() - t0) / 1e9
    }
    // Warm-up, in the same order for every seed. First two cycles, with
    // their writes, over a copy of the sf0.001 tables: class loading,
    // codegen and the driver-side JIT cost the same at any scale. Then the
    // read check below is the first cycle at sf0.1; the timed cycle is the
    // second, when the per-cycle time is within a few percent of flat.
    val tinyPath = ctx.args.work.resolve("tiny")
    Main.copyTree(ctx.args.data.resolve("sf0.001"), tinyPath)
    val tinyOrders = math.round(ordersSpec.rows * 0.01)
    (plan(0, names, tinyOrders, 1) ++ plan(1, names, tinyOrders, 1)).foreach {
      case Read(q) =>
        try queries(q)(spark, tinyPath.toString).write.format("noop").mode("overwrite").save()
        catch { case e: Exception => System.err.println(s"[perfbench] warm-up $q failed: $e") }
      case Write(k, u) =>
        try statusUpdate(ctx, tinyPath, k, u, tinyOrders)
        catch { case e: Exception => System.err.println(s"[perfbench] warm-up write failed: $e") }
    }
    Main.stage(ctx, "warm-up cycles done")
    // the read check: one cycle over the pristine working copy, each
    // whole result digested by the tasks
    names.foreach { q =>
      val ok = try Digest.of(queries(q)(spark, sf)).render == expected.getOrElse(q, "missing")
      catch { case e: Exception => System.err.println(s"[perfbench] read $q failed: $e"); false }
      checks += (s"read:$q" -> ok)
    }
    Main.stage(ctx, "read check done")
    val nOrders = ordersSpec.rows
    val steps = plan(ctx.seed, names, nOrders, ctx.args.seconds)
    val setupS = ctx.sinceJvmStartS - copyTotal + copyS
    val passStartMs = t.nowMs
    val p0 = System.nanoTime()
    val ops = steps.map {
      case Read(q) =>
        Main.timed("read", q, t) {
          val df = t.span("construct", "construct")(queries(q)(spark, sf))
          t.action(df.write.format("noop").mode("overwrite").save())
        }._1
      case Write(k, u) =>
        Main.timed("write", s"status_update_$k", t)(statusUpdate(ctx, sfPath, k, u, nOrders))._1
    }
    val passS = (System.nanoTime() - p0) / 1e9
    val rssMb = Main.peakRssMb()

    // the write check: final orders against a driver-side replay
    val ok = try {
      val status = mutable.HashMap.empty[Long, String]
      steps.foreach {
        case Write(_, u) => u.keys.indices.foreach(i => status(u.keys(i)) = u.statuses(i))
        case _ =>
      }
      val spec = ordersSpec
      val replay = (0L until nOrders).map { i =>
        val r = spec.row(i)
        status.get(i).fold(r)(s => Row(r.get(0), r.get(1), s, r.get(3), r.get(4), r.get(5)))
      }
      Digest.of(Tables.orders(spark, sf)) == Digest.of(replay)
    } catch { case e: Exception => System.err.println(s"[perfbench] replay failed: $e"); false }
    checks += ("write:orders_replay" -> ok)
    Outcome(setupS, ops, passS, passStartMs, rssMb, checks.toSeq)
  }

  /** One status update: stage the batch, merge it into `orders` by key,
    * write the merged table beside the live one and swap it in. */
  def statusUpdate(ctx: Ctx, sf: Path, k: Int, u: Update, nOrders: Long): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val live = sf.resolve("orders.parquet")
    val next = sf.resolve(s"orders.v$k.parquet")
    val batch = t.span("construct", "construct") {
      import spark.implicits._
      u.keys.toSeq.zip(u.statuses.toSeq).toDF("o_orderkey", "new_status")
    }
    t.span("pipeline.merge", "pipeline") {
      val existing = Tables.orders(spark, sf.toString)
      val staged = existing.join(batch, "o_orderkey")
        .withColumn("o_orderstatus", col("new_status"))
        .select(existing.columns.map(col): _*)
      Pipeline.mergeByKey(existing, staged, Seq("o_orderkey"))
        .write.mode("errorifexists").parquet(next.toString)
      val old = sf.resolve(s"orders.old$k.parquet")
      Files.move(live, old)
      Files.move(next, live)
      Main.deleteTree(old)
    }
    if (t.enabled) {
      t.count("pipeline.rows_written", nOrders.toDouble)
      t.count("pipeline.bytes_written", Main.bytesUnder(live).toDouble)
      t.count("pipeline.attempts", 1)
      t.count("pipeline.items", 1)
    }
  }
}

/** Writes the stored result digests over the pristine generated tables:
  * `catalog_reads.json` for every catalog read (sf0.1) and `curation.json`
  * for every curation query. Run through
  * `python3 perfbench/run.py --record-digests`; a digest changes only when
  * a query's result or the generator changes. */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: RecordDigests <tablesDir> <digestsDir>")
    val spark = Main.session()
    try {
      val tables = java.nio.file.Paths.get(args(0))
      def write(file: String, scale: String, names: Seq[String]): Unit = {
        val sf = tables.resolve(scale).toString
        val lines = names.sorted.map { q =>
          s"  ${Stats.quote(q)}: ${Stats.quote(Digest.of(SparkEntry.queries(q)(spark, sf)).render)}"
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(args(1), file),
          lines.mkString("{\n", ",\n", "\n}\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      write("catalog_reads.json", "sf0.1", CatalogApi.readNames)
      write("curation.json", Curation.Scale, Main.queryNames(Curation.QueryIds))
    } finally spark.stop()
  }
}
