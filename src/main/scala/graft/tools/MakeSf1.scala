package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a full 10× replica of the sf0.1 corpus — EVERY table, with
  * FK structure preserved: fact keys are offset per replica so joins fan
  * out exactly 10×, dimension tables (region/nation) are kept as-is (a 10×
  * archive has the same geography), and doc texts carry a per-replica tag
  * so the dedup structure stays near-dup-realistic (same style as
  * ScalingBench's corpus). This feeds graft.Bench the whole 106-query
  * surface at sf1 (round-10 brief item 2) instead of only the ~40 shapes
  * the 1×→10× sweeps cover. Not part of the library surface.
  *
  * Usage: sbt "runMain graft.tools.MakeSf1 [srcDir] [outDir] [k]"
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local(32)
    import graft.catalog.Tables

    def emit(name: String)(build: => DataFrame): Unit = {
      val dst = s"$out/$name.parquet"
      if (new java.io.File(dst).exists()) { println(s"[sf1] $name exists, skipping") }
      else {
        val t0 = System.nanoTime()
        build.write.mode("overwrite").parquet(dst)
        println(f"[sf1] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    }
    def repl(name: String)(f: (DataFrame, Int) => DataFrame): Unit =
      emit(name) {
        val base = Tables.table(spark, src, name)
        (0 until k).map(i => f(base, i)).reduce(_ unionByName _)
      }

    val M = 10_000_000L
    emit("region")(Tables.table(spark, src, "region"))
    emit("nation")(Tables.table(spark, src, "nation"))
    repl("customer")((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * M)))
    repl("supplier")((d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * M)))
    repl("part")((d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * M)))
    repl("orders")((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * 100L * M))
      .withColumn("o_custkey", col("o_custkey") + lit(i * M)))
    repl("lineitem")((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * 100L * M))
      .withColumn("l_partkey", col("l_partkey") + lit(i * M))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * M)))
    repl("events")((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * 100_000_000L))
      .withColumn("user_id", col("user_id") + lit(i * 10_000L)))
    repl("documents")((d, i) => d
      .withColumn("doc_id", col("doc_id") + lit(i * M))
      .withColumn("text", concat(col("text"), lit(s" r$i"))))
    repl("embeddings")((d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * M)))
    println(s"[sf1] corpus ready at $out")
    spark.stop()
  }
}
