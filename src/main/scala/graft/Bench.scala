package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Canary probes: pure-Spark workloads that touch NO graft operator, so
    * a code change can never move them — only the machine can. One per
    * contention axis (CPU, shuffle, scan); their ratio vs recorded floors
    * is the ambient load estimate that scales every per-query floor
    * before the regression gate strikes. Estimating ambient from the
    * QUERIES themselves (the previous design) conflated the two: a real
    * regression spread across many queries inflated "ambient" and masked
    * itself, while a loaded machine pushed untouched queries within one
    * re-run of a false strike. */
  def canaries(spark: SparkSession, sfDir: String): Seq[(String, () => Unit)] = {
    import org.apache.spark.sql.functions._
    Seq(
      // sized for ~0.2–0.5 s each at local[32]: long enough that scheduler
      // jitter is a small fraction of the timing, short enough that two
      // sweeps per run cost ~1 s total
      "canary_cpu" -> (() =>
        spark.range(100000000L).select(sum(sqrt(col("id")))).collect()),
      "canary_shuffle" -> (() =>
        spark.range(4000000L).groupBy(pmod(col("id"), lit(997)).as("k"))
          .count().orderBy(col("k")).collect()),
      "canary_scan" -> (() =>
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .agg(sum(col("l_quantity")), count(lit(1))).collect()))
  }

  /** Post-sweep re-run predicate, pure so BenchGateSpec can drive it: a
    * sweep timing this far over its recorded floor (>4x AND >=0.1 s
    * absolute — sub-millisecond floors would re-run on pure jitter) is
    * more likely a transient host stall than a plan regression, so it is
    * re-measured once AFTER the whole sweep before being recorded. */
  def needsPostSweepRerun(sec: Double, floor: Option[Double]): Boolean =
    floor.exists(f => f > 0 && sec > f * 4 && sec - f >= 0.1)

  /** The strike record carried into the NEXT run's gate input, pure so
    * BenchGateSpec can drive it: every query whose SWEEP timing flagged
    * stays armed even when a later re-run cleared it — the provisional
    * gate risers AND the post-sweep >4x re-run candidates (previously
    * the re-run's math.min cleared those before the gate ever saw them,
    * so an intermittent regression could reset its two-strike escalation
    * by winning one timing lottery per run). A strike alone prints
    * nothing; it only escalates the NEXT flag from warning to
    * regression. */
  def strikeSet(provisionalRisers: Set[String], finalRisers: Set[String],
                postSweepFlagged: Set[String]): Set[String] =
    provisionalRisers ++ finalRisers ++ postSweepFlagged

  /** The regression gate, pure so BenchGateSpec can drive it: per-query
    * floors scale by `ambient` (canary-derived when canary floors exist,
    * else the legacy heavy-cohort median), a riser needs BOTH >1.5× the
    * scaled floor AND ≥0.15 s absolute excess, and it escalates from
    * warning to regression only when the SAME query rose in the previous
    * run (two strikes). `stretchAmbient` is the INTERLEAVED cpu-canary
    * ratio for the sweep stretch each query ran in: the bracketing canary
    * pair is blind to a mid-sweep co-tenant burst (measured repeatedly as
    * contiguous 2–4× clusters under near-1.0 ambient), but a canary
    * timed every ~25 queries sits INSIDE the burst — a query's floor
    * scales by max(global, its stretch), so a burst that the stretch
    * canary measured excuses its stretch and nothing else, while a
    * genuine regression (which cannot move the canary) still trips.
    * Returns (ambient, regressions, warnings). */
  def gate(results: Seq[(String, Double)], previous: Map[String, Double],
           priorStrikes: Set[String],
           canaryNow: Map[String, Double], canaryFloors: Map[String, Double],
           stretchAmbient: Map[String, Double] = Map.empty)
      : (Double, Seq[(String, Double)], Seq[(String, Double)]) = {
    val canaryRatios = canaryNow.toSeq.sortBy(_._1).flatMap { case (n, cur) =>
      canaryFloors.get(n).filter(_ > 0).map(cur / _)
    }.sorted
    // CPU-heavy queries (all 32 threads busy) see ~2× the contention factor
    // the sub-100ms ones do — the legacy fallback medians over the heavy
    // cohort for the first round on a fresh history (no canary floors yet)
    def medianRatio(minBaseline: Double): Seq[Double] = results.flatMap {
      case (name, sec) if sec > 0 =>
        previous.get(name).filter(_ >= minBaseline).map(sec / _)
      case _ => None
    }.sorted
    val ratios =
      if (canaryRatios.nonEmpty) canaryRatios
      else { val heavy = medianRatio(0.3); if (heavy.length >= 5) heavy else medianRatio(0.05) }
    val ambient = // median ratio, floored at 1 so a fast machine can't mask risers
      if (ratios.isEmpty) 1.0 else math.max(1.0, ratios(ratios.length / 2))
    val risers = results.flatMap { case (name, sec) =>
      val amb = math.max(ambient,
        math.max(1.0, stretchAmbient.getOrElse(name, 1.0)))
      previous.get(name) match {
        case Some(old) if old > 0 && sec > old * amb * 1.5 &&
            sec - old * amb >= 0.15 =>
          Some(name -> (sec / old))
        case _ => None
      }
    }
    val (regressions, warnings) = risers.partition { case (n, _) => priorStrikes(n) }
    (ambient, regressions, warnings)
  }

  /** `%.{digits}f` under `Locale.ROOT`: the printed lines are JSON, and a
    * comma-decimal JVM locale would make them unparseable. */
  def fixed(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** The stdout contract line: metric/value/unit/queries/sf/cpus at
    * 3-decimal timings, pure so BenchGateSpec can parse it. */
  def contractLine(total: Double, results: Seq[(String, Double)],
                   sfDir: String, cpus: String): String = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fixed(v, 3) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${fixed(total, 3)},"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":"$cpus"}"""
  }

  /** Warm-up failures stay non-fatal (the timed sweep reports each query
    * on its own), but they are logged by name, never swallowed. */
  private def warmUpFailed(what: String, e: Throwable): Unit =
    System.err.println(s"[bench] warm-up of $what failed: $e")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    // Warm-up pass on the smallest SF: JIT + codegen/plan caches, so the
    // timed pass measures the queries, not JVM warm-up.
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try { fn(spark, warmDir).count() }
      catch { case e: Throwable => warmUpFailed(name, e) }
    }
    // Touch each target-SF table once: file listing, footer reads, and
    // first-shuffle setup otherwise land on whichever query runs first
    // (~2-3 s smeared onto q01/q03 instead of the engine's own time).
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      try { graft.catalog.Tables.table(spark, sfDir, t).count() }
      catch { case e: Throwable => warmUpFailed(s"table $t", e) }
    // ---- per-query regression gate: compare against the previous recorded
    // run (same sf), persist this run, surface >1.5x risers. Round-over-
    // round swings were previously invisible noise; now they are printed
    // (stderr) and carried in the JSON. SPARK_GRAFT_BENCH_STRICT=1 turns
    // them into a non-zero exit for CI-style gating.
    val historyPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "bench_history.jsonl"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // Only rows from the same (sf, cpus) environment are comparable — a run
    // at local[8] is uniformly ~2-4x a local[32] run on the parallel-heavy
    // queries and would drown real regressions in false positives. Rows
    // written before the cpus field existed were all recorded at the
    // default 32. Baseline = per-query MINIMUM across all same-env rows
    // (a stable floor that single noisy runs can't inflate), and the
    // current run is normalized by the MEDIAN per-query ratio before
    // flagging — a loaded machine slows every query uniformly, and that
    // shared factor is not a code regression.
    val previousAndStrikes: (Map[String, Double], Set[String], Map[String, Double]) =
      if (java.nio.file.Files.exists(historyPath)) {
        val lines = java.nio.file.Files.readAllLines(historyPath)
        // last 5 same-env rows only: a minimum over unbounded history is
        // permanently poisoned by one anomalously fast run; a bounded
        // window self-heals within a few rounds
        val rows = lines.toArray(Array.empty[String]).iterator
          .flatMap(l => scala.util.Try(mapper.readTree(l)).toOption)
          .filter(n => n.path("sf").asText() == sfDir &&
            (if (n.has("cpus")) n.path("cpus").asText() else "32") == cpus)
          .toSeq.takeRight(5)
        val b = scala.collection.mutable.Map.empty[String, Double]
        val cf = scala.collection.mutable.Map.empty[String, Double]
        for (n <- rows) {
          val it = n.path("queries").properties().iterator()
          while (it.hasNext) {
            val e = it.next(); val v = e.getValue.asDouble()
            if (v > 0) b.updateWith(e.getKey)(o => Some(o.fold(v)(math.min(_, v))))
          }
          if (n.has("canaries")) {
            val ci = n.path("canaries").properties().iterator()
            while (ci.hasNext) {
              val e = ci.next(); val v = e.getValue.asDouble()
              if (v > 0) cf.updateWith(e.getKey)(o => Some(o.fold(v)(math.min(_, v))))
            }
          }
        }
        (b.toMap, rows.lastOption.map { n =>
          val names = scala.collection.mutable.Set.empty[String]
          if (n.has("strikes")) {
            // the full strike record (includes provisional risers whose
            // re-run passed — an intermittent regression must not reset
            // its escalation by winning one timing lottery per run)
            val it = n.path("strikes").elements()
            while (it.hasNext) names += it.next().asText()
          } else for (f <- Seq("warnings", "regressions")) {
            val it = n.path(f).properties().iterator()
            while (it.hasNext) names += it.next().getKey
          }
          names.toSet
        }.getOrElse(Set.empty[String]), cf.toMap)
      } else (Map.empty[String, Double], Set.empty[String], Map.empty[String, Double])
    val (previous, priorStrikes, canaryFloors) = previousAndStrikes

    // canaries run BEFORE and AFTER the query sweep (contention drifts
    // within a run); per-canary the better of the two stands in for "how
    // fast can this machine go right now"
    val canaryFns = canaries(spark, sfDir)
    def timeCanaries(): Map[String, Double] = canaryFns.map { case (n, fn) =>
      fn() // warm (file listing, codegen)
      val t0 = System.nanoTime(); fn()
      n -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val canaryBefore = timeCanaries()

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // Interleaved cpu canary: one timing every `stretchEvery` queries.
    // The before/after pair brackets the sweep; these sit INSIDE it, so a
    // mid-sweep co-tenant burst is MEASURED (and excuses exactly its
    // stretch via the gate's stretchAmbient) instead of inferred from
    // lexicographic clustering after the fact. ~9 timings × ~0.3 s/run.
    val stretchEvery = 25
    val cpuCanaryFn = canaryFns.head._2
    val stretchTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sortedQueries = SparkEntry.queries.toSeq.sortBy(_._1)
    val sweep = sortedQueries.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi % stretchEvery == 0) {
        val t0 = System.nanoTime(); cpuCanaryFn()
        stretchTimes += (System.nanoTime() - t0) / 1e9
      }
      def once(): Double = runOnce(fn)
      val sec = try {
        val first = once()
        // A single timing conflates the engine's cost with ambient debt
        // left by whatever ran before it (q11 follows the heavy q100 in
        // name order and was once flagged 2.3x purely from that adjacency).
        // Re-run and keep the best-of-3 when the first timing is either
        // sub-second (noise-dominated regime) or looks like a riser vs the
        // recorded per-query baseline: the engine's own cost is the
        // repeatable floor, contention is the variance. A GENUINE plan
        // regression stays slow on every re-run and is still flagged;
        // steady-state heavy queries pay no extra wall.
        // a query with NO baseline yet (first round on the board) always
        // re-runs: its first timing may carry one-time layout builds and
        // becomes the recorded floor for every later round
        if (first < 1.0 || previous.get(name).forall(first > _ * 1.25)) {
          // per-re-run guard: a transient failure in ONE re-run must not
          // discard the other's (or the first's) measured success; fatal
          // JVM errors still propagate to the outer catch
          def retry(): Double =
            try once()
            catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"[bench] re-run of $name failed, keeping measured timings: $e")
                Double.MaxValue
            }
          math.min(first, math.min(retry(), retry()))
        } else first
      } catch {
        // a failed query records -1, NOT its (tiny) elapsed time: a fast
        // failure would otherwise poison the per-query baseline minimum
        case _: Throwable => -1.0
      }
      name -> sec
    }
    // Self-defence against transient host stalls (the r16 BENCH record:
    // q44/q45/q53 printed 37-50x of floor under `regressions: {}` because
    // a multi-second stall outlasted all three in-place best-of-3 timings
    // — the inflated set was lexicographically contiguous, i.e. a stretch
    // of the sorted execution order, not a code path). The in-place
    // re-runs happen INSIDE the stall window; this pass re-measures any
    // query that landed >4x of its recorded floor (and >=0.1 s over it —
    // sub-millisecond floors would re-run on pure jitter) once more AFTER
    // the whole sweep — minutes later, when a transient stall has passed —
    // and keeps the better timing. A genuine plan regression is still slow
    // here and still gets flagged; a stall can no longer print a 50x
    // warning as if it were the engine's own time. (The first cut of this
    // guard used 10x; the very next run's stall cluster peaked at 9.1x and
    // slipped under it.)
    val byName = SparkEntry.queries
    val postSweepFlagged = sweep.collect {
      case (name, sec) if needsPostSweepRerun(sec, previous.get(name)) => name
    }.toSet
    val results = sweep.map { case (name, sec) =>
      if (needsPostSweepRerun(sec, previous.get(name))) {
        val floor = previous(name)
        val again =
          try runOnce(byName(name))
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] post-sweep re-run of $name failed, keeping sweep timing: $e")
              Double.MaxValue
          }
        if (again < sec)
          System.err.println(
            f"[bench] post-sweep re-run: $name $sec%.2fs -> $again%.2fs (floor $floor%.2fs; mid-sweep stall, keeping re-run)")
        name -> math.min(sec, again)
      } else name -> sec
    }
    val canaryAfter = timeCanaries()
    val canaryNow = canaryFns.map { case (n, _) =>
      n -> math.min(canaryBefore(n), canaryAfter(n))
    }.toMap
    // per-query stretch ambient: the interleaved cpu timing of the
    // stretch each query ran in, as a ratio of the cpu canary's floor
    val stretchAmbient: Map[String, Double] =
      canaryFloors.get("canary_cpu").filter(_ > 0) match {
        case Some(f) => sortedQueries.zipWithIndex.map { case ((name, _), qi) =>
          name -> math.max(1.0, stretchTimes(qi / stretchEvery) / f)
        }.toMap
        case None => Map.empty
      }
    // Self-defence, second stage: the canary pair brackets the sweep, but
    // a mid-sweep co-tenant burst is invisible to BOTH ends (measured
    // twice this round: contiguous 2–3.9x clusters under near-1.0 canary
    // ambient), and the >4x guard above only catches the wild stalls. So
    // any query the gate WOULD flag gets one more measurement here —
    // after the sweep, after the canaries, when a burst has passed — and
    // the gate re-runs on the cleaned timings. A genuine plan regression
    // is still slow on its re-run and still flags; a burst can no longer
    // seed next run's strike set with a page of phantom warnings.
    val provisional =
      gate(results, previous, priorStrikes, canaryNow, canaryFloors,
        stretchAmbient)
    val riserNames = (provisional._2 ++ provisional._3).map(_._1).toSet
    val cleaned =
      if (riserNames.isEmpty) results
      else results.map { case (name, sec) =>
        if (!riserNames(name)) name -> sec
        else {
          val again =
            try runOnce(byName(name))
            catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"[bench] riser re-run of $name failed, keeping sweep timing: $e")
                Double.MaxValue
            }
          if (again < sec)
            System.err.println(
              f"[bench] riser re-run: $name $sec%.2fs -> $again%.2fs (mid-sweep burst, keeping re-run)")
          name -> math.min(sec, again)
        }
      }
    // Two-strike escalation: per-query spikes (GC pause, co-tenant burst)
    // flag a different random query each run; a genuine code regression
    // flags the SAME query run after run. First occurrence → warning;
    // repeat occurrence → regression. Ambient comes from the canaries —
    // workloads no graft change can move — so a genuine 2× regression
    // cannot hide by inflating its own normalizer.
    val (ambient, regressions, warnings) =
      gate(cleaned, previous, priorStrikes, canaryNow, canaryFloors,
        stretchAmbient)
    regressions.foreach { case (n, r) =>
      System.err.println(f"BENCH REGRESSION $n: ${previous(n)}%.2fs baseline, ${r}%.1fx (ambient $ambient%.2fx, repeated)")
    }
    warnings.foreach { case (n, r) =>
      System.err.println(f"BENCH WARN $n: ${previous(n)}%.2fs baseline, ${r}%.1fx (ambient $ambient%.2fx, first occurrence)")
    }

    val qs = cleaned.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = cleaned.map(_._2).sum
    def jmap(m: Seq[(String, Double)]) =
      m.map { case (k, v) => s"\"" + k + "\":" + fixed(v, 2) }.mkString("{", ",", "}")
    val cs = canaryNow.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // strikes = provisional risers ∪ final risers ∪ post-sweep >4x
    // candidates: a riser whose re-run cleared still ARMS the two-strike
    // escalation (it does not PRINT) — an intermittent regression that is
    // slow in every sweep but fast in every singleton re-run can no
    // longer reset its strike each round, on EITHER re-run path
    val strikes = strikeSet(riserNames,
        (regressions ++ warnings).map(_._1).toSet, postSweepFlagged)
      .toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val stretchesJson = stretchTimes.map(fixed(_, 3)).mkString("[", ",", "]")
    // FULL line (full-precision timings + gate diagnostics): this is the
    // history/baseline record and the auditable per-round artifact.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"canaries":$cs,"canary_stretches":$stretchesJson,"regressions":${jmap(regressions)},"warnings":${jmap(warnings)},"strikes":$strikes,"sf":"$sfDir","cpus":"$cpus"}"""
    // persist BEFORE printing the contract line so this run becomes the
    // next baseline even if stdout is truncated downstream
    java.nio.file.Files.write(historyPath, java.util.List.of(line),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    // also drop the full line as a standalone artifact: per-round bench
    // snapshots that truncate stdout stay auditable without the history file
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_latest.json"),
      java.util.List.of(line))
    // stdout: exactly ONE JSON line — the contract fields (metric/value/
    // unit/queries/sf) at 3-decimal timings (1 ms resolution; the noise
    // floor of any single timing here is larger), printed last. r19
    // verdict item 1: the combined 6.8 KB line (gate diagnostics +
    // full-precision floats) outgrew downstream tail-captures of stdout,
    // which clipped it mid-key and parsed null. The diagnostics and
    // full-precision record now live ONLY in bench_history.jsonl /
    // bench_latest.json; the printed line keeps every per-query entry
    // (entries may be added, never removed) at ~5.2 KB — the 209 query
    // NAMES alone occupy ~4.2 KB, so this is as short as the contract
    // permits; a consumer keeping only the last ~2 KB of stdout still
    // cannot see the whole map, and must read bench_latest.json.
    println(contractLine(total, cleaned, sfDir, cpus))
    spark.stop()
    if (regressions.nonEmpty && sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1"))
      System.exit(2)
  }
}
