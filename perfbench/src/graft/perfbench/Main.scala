package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Entry point of one benchmark run:
  *
  *   Main --workload <catalog_api|scene_ingest|curation> --seed <n> --seconds <s>
  *        --trace <0|1> --data <dir> --work <dir> --digests <dir>
  *
  * `--data` holds the generated tables (see [[DataGen]]), `--work` is this
  * run's scratch directory (working copy, outputs, Spark local dirs) and
  * `--digests` the stored result digests. The last stdout line is the
  * result JSON; the traced run also writes its per-layer record to
  * `<work>/../trace/<workload>-seed<seed>.json`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: Path, work: Path, digests: Path)

  /** One timed op: its kind ("read", "write", "batch"), name and latency.
    * A failed op has no latency: it is listed by name and counted. */
  final case class Op(kind: String, name: String, ms: Option[Double])

  /** What a workload hands back: set-up seconds, the timed ops, the timed
    * pass's wall time and start (tracer clock), the peak resident set read
    * right after the pass (before the output checks), and the checks as
    * (name, passed). */
  final case class Outcome(setupS: Double, ops: Seq[Op], passS: Double, passStartMs: Double,
                           peakRssMb: Double, checks: Seq[(String, Boolean)])

  final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer, val cores: Int) {
    def seed: Long = args.seed
    val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvmStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("data")), Paths.get(need("work")), Paths.get(need("digests")))
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; known: ${Workloads.names.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def cores: Int = sys.props.get("perfbench.cores").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session configuration of the benchmark: local[cores] with one
    * shuffle partition per core, the graft session settings, and every
    * Spark scratch directory under the JVM's temp dir. */
  def session(): SparkSession = {
    val tmp = sys.props("java.io.tmpdir")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Largest share of the pass's op wall time that no layer may claim:
    * the time inside ops but outside every job, planning phase and span.
    * Traced runs leave well under 1% unclaimed on every workload. */
  val MaxUnclaimedShare = 0.02

  def unclaimedOk(l: Layers.Summary): Boolean = l.otherMs <= MaxUnclaimedShare * l.wallMs

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val spark = session()
    val tracer = new Tracer(spark, args.trace)
    val ctx = new Ctx(spark, args, tracer, cores)
    val (out, layers) =
      try {
        val o = Workloads.byName(args.workload).run(ctx)
        tracer.close()
        (o, if (args.trace) Some(Layers.summarize(tracer, o.passStartMs, ctx.cores)) else None)
      } finally spark.stop()
    layers.foreach(l => System.err.println(Stats.fmt(
      "[perfbench] traced: op wall %.1f ms, unclaimed %.1f ms (%.2f%%), partition error %.3f ms",
      l.wallMs, l.otherMs, 100 * l.otherMs / l.wallMs, l.selfSumErrorMs)))
    val selfCheck = layers.map(l =>
      "trace:unclaimed_share" -> unclaimedOk(l))
    val checks = out.checks ++ selfCheck
    val failedOps = out.ops.filter(_.ms.isEmpty).map(_.name)
    val failedChecks = checks.filterNot(_._2).map(_._1)
    val latencies = out.ops.flatMap(_.ms)
    out.ops.foreach(o => System.err.println(Stats.fmt("[perfbench] op %s %s %s", o.kind, o.name,
      o.ms.map(m => Stats.fmt("%.1f ms", m)).getOrElse("FAILED"))))
    failedOps.foreach(n => System.err.println(s"[perfbench] FAILED op: $n"))
    failedChecks.foreach(n => System.err.println(s"[perfbench] FAILED check: $n"))
    require(latencies.nonEmpty, "every timed op failed")
    layers.foreach(l => writeRecord(args, l))
    val metrics = layers.map(_.metrics).getOrElse(endToEnd(out))
    // the highest tail percentile this pass has enough samples for
    val tail = Seq(90.0, 80.0, 75.0, 70.0).iterator
      .flatMap(p => Stats.percentile(latencies, p).map(v => Stats.fmt(" p%.0f=%.1f ms", p, v)))
      .nextOption().getOrElse("")
    System.err.println(Stats.fmt(
      "[perfbench] %s seed=%d ops=%d checks=%d failed=%d pass=%.3f s setup=%.3f s p50=%.1f ms%s",
      args.workload, args.seed, out.ops.length, checks.length,
      failedOps.length + failedChecks.length, out.passS, out.setupS,
      Stats.median(latencies), tail))
    // a check is an op of its own: a mismatch counts as a failed op
    println(Stats.resultLine(failedOps.isEmpty && failedChecks.isEmpty,
      out.ops.length + checks.length, failedOps.length + failedChecks.length, metrics))
  }

  /** The end-to-end metrics of an untraced run. Op latency is summarized
    * by its geometric mean, not its median: a `curation` pass is 7 distinct
    * queries, whose median is the latency of whichever query lands in the
    * middle, while the geometric mean moves by the same factor whichever
    * query changes. */
  def endToEnd(out: Outcome): Seq[Stats.Metric] = {
    val latencies = out.ops.flatMap(_.ms)
    Seq(
      Stats.Metric("setup_s", out.setupS, "s"),
      Stats.Metric("peak_rss_mb", out.peakRssMb, "MB"),
      Stats.Metric("op_geomean_ms", Stats.geomean(latencies), "ms"),
      Stats.Metric("ops_per_s", latencies.length / out.passS, "1/s"))
  }

  /** The per-layer record of a traced run, next to the run directories. */
  def writeRecord(args: Args, l: Layers.Summary): Unit = {
    val dir = args.work.toAbsolutePath.getParent.resolve("trace")
    Files.createDirectories(dir)
    def ms(m: Seq[Stats.Metric]) = m.map(x => Stats.obj(Seq("name" -> Stats.quote(x.name),
      "value" -> Stats.num(x.value), "unit" -> Stats.quote(x.unit)))).mkString("[", ", ", "]")
    val json = Stats.obj(Seq("workload" -> Stats.quote(args.workload),
      "seed" -> args.seed.toString, "cores" -> cores.toString,
      "self_sum_error_ms" -> Stats.num(l.selfSumErrorMs),
      "unclaimed_ms" -> Stats.num(l.otherMs),
      "metrics" -> ms(l.metrics), "record_only" -> ms(l.recordOnly),
      "ops" -> l.perOp.mkString("[\n", ",\n", "]")))
    Files.write(dir.resolve(s"${args.workload}-seed${args.seed}.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The full SparkEntry query names of query ids such as `q07`. */
  def queryNames(ids: Seq[String]): Seq[String] = ids.map { id =>
    graft.SparkEntry.queries.keys.filter(_.startsWith(id + "_")).toSeq match {
      case Seq(one) => one
      case other => throw new IllegalStateException(s"$id resolves to ${other.mkString(", ")}")
    }
  }

  /** Time one op; a throwing op is recorded as failed, never as a time. */
  def timed[T](kind: String, name: String, tracer: Tracer)(body: => T): (Op, Option[T]) = {
    val t0 = System.nanoTime()
    try {
      val r = tracer.op(name)(body)
      (Op(kind, name, Some((System.nanoTime() - t0) / 1e6)), Some(r))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] op $name failed: $e")
        (Op(kind, name, None), None)
    }
  }

  /** Note on stderr how far set-up has got, in seconds since JVM start. */
  def stage(ctx: Ctx, what: String): Unit =
    System.err.println(Stats.fmt("[perfbench] %.2f s: %s", ctx.sinceJvmStartS, what))

  /** Median wall seconds of `k` repetitions of a set-up step. */
  def medianOf(k: Int)(step: Int => Unit): Double =
    Stats.median((0 until k).map { i =>
      val t0 = System.nanoTime()
      step(i)
      (System.nanoTime() - t0) / 1e9
    })

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }

  def bytesUnder(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try {
      var n = 0L
      s.forEach(x => if (Files.isRegularFile(x)) n += Files.size(x))
      n
    } finally s.close()
  }

  /** A seeded permutation (Fisher–Yates over a seeded generator). */
  def shuffled[T](xs: Seq[T], rng: java.util.SplittableRandom): Seq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
