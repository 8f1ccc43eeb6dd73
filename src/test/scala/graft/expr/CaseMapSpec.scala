package graft.expr

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** [[TextFunctions.lowerCase]] must return what Spark's `lower` returns on
  * every input, ASCII or not, under either ICU case-mapping setting and in
  * both codegen and interpreted evaluation: it differs from the builtin
  * only in which code path an ASCII string takes. */
class CaseMapSpec extends SparkSpec {

  private val battery: Seq[Option[String]] = Seq(
    "", "graftbot", "GraftBot", "USER-AGENT: *", "Mozilla/5.0 (X11; Linux)",
    "\u0130stanbul", "ΟΔΟΣ ΟΔΟΣ", "\uFB00", "\u212A", "\u1E9E", "\u01C5",
    "😀 ABC", "MAŁY Żółw", "\u0000Z").map(Some(_)) :+ None

  test("lowerCase ≡ lower on ASCII and non-ASCII input, both ICU settings, both eval paths") {
    import spark.implicits._
    for (icu <- Seq("true", "false"); codegen <- Seq(true, false)) {
      val eval =
        if (codegen) Seq("spark.sql.codegen.wholeStage" -> "true")
        else Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      withSQLConf(("spark.sql.icu.caseMappings.enabled" -> icu) +: eval: _*) {
        // a shuffle keeps the optimizer from folding the projection into
        // the local relation, so the chosen eval path really runs
        val rows = battery.toDF("s").repartition(2)
          .select(col("s"), TextFunctions.lowerCase(col("s")).as("got"),
            lower(col("s")).as("ref"))
          .collect()
        assert(rows.length === battery.length)
        rows.foreach(r => assert(r.getString(1) === r.getString(2),
          s"icu=$icu codegen=$codegen input=${r.getString(0)}"))
      }
    }
  }

  test("lowerCase keeps the builtin's output name") {
    val df = spark.range(1).select(lit("A").as("s"))
    assert(df.select(TextFunctions.lowerCase(col("s"))).columns.toSeq ===
      df.select(lower(col("s"))).columns.toSeq)
  }

  private def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
