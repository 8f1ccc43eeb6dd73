package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: every main and the test trait
  * take their settings from here, so a plan printed by `ShowQ --plan` or
  * pinned by a spec is the plan `Bench` times. */
object GraftSession {
  /** Settings every session carries at `cores` local threads. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // bounded-buffer native aggregates (TopKPairsAgg: <= 2k (score,id)
    // pairs per group) do not need the conservative 128-entry sort-based
    // fallback built for unbounded collect_list state: past 128 groups per
    // partition the fallback SORTS the whole pair stream, which at sf1 was
    // the q154 capped-mode constant (SCALE.md r15). 64k entries bounds
    // the hash map at tens of MB for every aggregate in this suite
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    // Tables.normalizeTimestamps reads every events.ts flavor as TIMESTAMP
    // under session-UTC; nanosecond parquet timestamps load as longs
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  private val LogLevel = "WARN"

  def local(cores: Int): SparkSession = {
    require(cores > 0, s"cores must be positive, got $cores")
    val spark = settings(cores)
      .foldLeft(SparkSession.builder().master(s"local[$cores]").appName("graft")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel(LogLevel)
    spark
  }
}
