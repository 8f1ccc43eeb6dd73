package graft

import org.apache.spark.sql.execution.FormattedMode

/** Print named queries' results (`show(50)`) or, with `--plan`, their
  * formatted physical plans, on the same session settings `Bench` times.
  *
  * Usage: sbt "runMain graft.ShowQ <sfDir> <q1,q2,…> [--plan]"
  */
object ShowQ {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    require(positional.length == 2 && flags.forall(_ == "--plan"),
      "usage: graft.ShowQ <sfDir> <q1,q2,...> [--plan]")
    val Array(sfDir, names) = positional
    val plan = flags.nonEmpty
    val spark = GraftSession.local(4)
    try for (q <- names.split(",").toSeq) {
      println(s"===== $q =====")
      val df = SparkEntry.queries(q)(spark, sfDir)
      if (plan) println(df.queryExecution.explainString(FormattedMode))
      else df.show(50, false)
    } finally spark.stop()
  }
}
