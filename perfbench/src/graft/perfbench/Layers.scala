package graft.perfbench

import graft.perfbench.Stats.Metric

/** Per-layer numbers of a traced pass, summed over its timed ops. The list
  * is the same for every workload (a layer a workload never enters reads
  * as a zero count or a zero share); BENCHMARK.json names it. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Raster stages timed in the traced ingest run, each by materializing
    * its output in turn (see [[SceneIngest]]). */
  val RasterStages = Seq("decode", "kernel", "encode", "quicklook", "publish")

  /** `metrics` go on the result line; `recordOnly` and `perOp` only into
    * the trace record. `otherMs` is the op time no layer claims (outside
    * every job, planning phase and span) and `selfSumErrorMs` is
    * |sum of self times - op wall|. */
  final case class Summary(metrics: Seq[Metric], recordOnly: Seq[Metric], perOp: Seq[String],
                           wallMs: Double, otherMs: Double, selfSumErrorMs: Double)

  /** Per-query numbers of one curation query, summed over its ops. */
  private final class PerQuery {
    var constructMs, execMs, shuffleBytes = 0.0
    var eagerJobs = 0
  }

  def summarize(t: Tracer, passStartMs: Double, cores: Int): Summary = {
    val ops = t.opsIn(passStartMs)
    require(ops.nonEmpty, "traced pass recorded no ops")
    val wall = ops.map(_.ms).sum
    val counts = t.countsSnapshot.withDefaultValue(0.0)
    var selfSum = 0.0
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var eagerJobs, jobsN, exchanges, sorts = 0
    var analysis, optimization, planning, constructMs, mergeMs = 0.0
    val rasterMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val perQuery = Curation.QueryIds.map(_ -> new PerQuery).toMap
    val perOp = ops.map { op =>
      val kids = t.childrenOf(op)
      val jobs = t.jobsIn(op)
      val qs = t.queriesIn(op)
      val constructs = kids.filter(_.layer == "construct")
      val eager = jobs.count(j => constructs.exists(c => j.startMs >= c.startMs && j.startMs <= c.endMs))
      val parts = Tracer.selfTimes(op, kids,
        jobs.map(j => (j.startMs, if (j.endMs.isNaN) op.endMs else j.endMs)),
        qs.flatMap(_.phases.values))
      parts.foreach { case (k, v) => self(k) += v }
      selfSum += parts.values.sum
      eagerJobs += eager
      jobsN += jobs.size
      exchanges += qs.map(_.exchanges).sum
      sorts += qs.map(_.sorts).sum
      analysis += qs.map(_.phaseMs("analysis")).sum
      optimization += qs.map(_.phaseMs("optimization")).sum
      planning += qs.map(_.phaseMs("planning")).sum
      constructMs += constructs.map(_.ms).sum
      mergeMs += kids.filter(_.name == "pipeline.merge").map(_.ms).sum
      RasterStages.foreach(s => rasterMs(s) += kids.filter(_.name == s"raster.$s").map(_.ms).sum)
      perQuery.get(op.name.takeWhile(_ != '_')).foreach { q =>
        q.constructMs += constructs.map(_.ms).sum
        q.eagerJobs += eager
        q.execMs += parts.getOrElse("exec", 0.0)
        q.shuffleBytes += t.stagesOf(jobs).map(_.shuffleWriteBytes).sum
      }
      Stats.obj(Seq("op" -> Stats.quote(op.name), "wall_ms" -> Stats.num(op.ms),
        "jobs" -> jobs.size.toString, "eager_jobs" -> eager.toString,
        "self_ms" -> Stats.obj(parts.toSeq.sortBy(_._1).map { case (k, v) => k -> Stats.num(v) })))
    }
    val stages = t.stagesOf(ops.flatMap(t.jobsIn))
    val busyMs = stages.map(_.runMs).sum.toDouble
    val shuffleMb = stages.map(_.shuffleWriteBytes).sum / MB
    val mpix = counts("raster.mpix")
    def per(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val metrics = Seq(
      Metric("construct.ms", constructMs, "ms"),
      Metric("construct.eager_jobs", eagerJobs, "count"),
      Metric("catalyst.optimization_ms", optimization, "ms"),
      Metric("catalyst.planning_ms", planning, "ms"),
      Metric("plan.exchanges", exchanges, "count"),
      Metric("plan.sorts", sorts, "count"),
      Metric("exec.ms", self("exec"), "ms"),
      Metric("exec.driver_ms", self(Tracer.DriverLayer), "ms"),
      Metric("exec.jobs", jobsN, "count"),
      Metric("exec.stages", stages.size, "count"),
      Metric("exec.tasks", stages.map(_.tasks).sum.toDouble, "count"),
      Metric("exec.task_busy_ms", busyMs, "ms"),
      Metric("exec.busy_share", per(busyMs, wall * cores), "ratio"),
      Metric("exec.gc_ms", stages.map(_.gcMs).sum.toDouble, "ms"),
      Metric("exec.shuffle_write_mb", shuffleMb, "MB"),
      Metric("exec.shuffle_records", stages.map(_.shuffleRecords).sum.toDouble, "count"),
      Metric("exec.spill_mb", stages.map(_.spillBytes).sum / MB, "MB"),
      Metric("exec.scan_mb", stages.map(_.inputBytes).sum / MB, "MB"),
      Metric("exec.peak_exec_mem_mb",
        stages.map(_.peakExecMem).foldLeft(0L)(math.max) / MB, "MB"),
      Metric("pipeline.merge_ms", mergeMs, "ms"),
      Metric("pipeline.rows_written", counts("pipeline.rows_written"), "count"),
      Metric("pipeline.mb_written", counts("pipeline.bytes_written") / MB, "MB"),
      Metric("pipeline.attempts_per_item",
        per(counts("pipeline.attempts"), counts("pipeline.items")), "ratio")) ++
      RasterStages.map(s => Metric(s"raster.${s}_share", per(rasterMs(s), wall), "ratio")) ++
      Seq(
        Metric("raster.mpix", mpix, "Mpx"),
        Metric("raster.cog_mb", counts("raster.cog_bytes") / MB, "MB"),
        Metric("raster.cog_bytes_per_px", per(counts("raster.cog_bytes"), mpix * 1e6), "B/px"),
        Metric("raster.shuffle_mb_per_mpix", per(shuffleMb, mpix), "MB/Mpx"),
        Metric("trace.other_ms", self("other"), "ms")) ++
      Curation.QueryIds.flatMap { id =>
        val q = perQuery(id)
        Seq(Metric(s"$id.construct_ms", q.constructMs, "ms"),
          Metric(s"$id.eager_jobs", q.eagerJobs, "count"),
          Metric(s"$id.exec_ms", q.execMs, "ms"),
          Metric(s"$id.shuffle_mb", q.shuffleBytes / MB, "MB"))
      }
    // The DataFrame API analyzes each plan while it is built, where no
    // listener sees it (that time is inside construct.ms), so the analysis
    // phase of an action reads 0 ms on some workloads: record only.
    val recordOnly = Seq(Metric("catalyst.analysis_ms", analysis, "ms")) ++
      RasterStages.map(s => Metric(s"raster.${s}_ms", rasterMs(s), "ms")) ++
      self.toSeq.sortBy(_._1).map { case (k, v) => Metric(s"self.${k}_ms", v, "ms") } ++
      Seq(Metric("ops.wall_ms", wall, "ms"))
    Summary(metrics, recordOnly, perOp, wall, self("other"), math.abs(selfSum - wall))
  }
}
