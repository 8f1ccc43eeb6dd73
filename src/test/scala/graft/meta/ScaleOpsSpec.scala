package graft.meta

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("check-scenes reconciliation report (§3.3)") {
    val snapshot = Seq(
      ("SC1", "23LLF", "2020-01-05"), ("SC2", "23LLF", "2020-02-07"),
      ("SC3", "24LLF", "2020-01-09"), ("SC4", "99ZZZ", "2020-01-09"))
      .toDF("scene_id", "tile", "d")
      .withColumn("sensing_date", col("d").cast("timestamp"))
    val items = Seq(("SC1", 1, "23LLF"), ("SC2", 2, "23LLF"))
      .toDF("name", "collection_id", "tile_id")
    val rep = CheckScenes.report(spark, snapshot, items,
      Seq("23LLF", "24LLF"), "2020-01-01", "2020-03-31", Seq(1, 2))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // external universe = SC1,SC2,SC3 (99ZZZ tile filtered out)
    assert(rep(-1) == 3)
    assert(rep(1) == 2)  // collection 1 has SC1 → missing SC2,SC3
    assert(rep(2) == 2)  // collection 2 has SC2 → missing SC1,SC3
    val diff = CheckScenes.collectionDiff(items, 1, 2).collect().map(_.getString(0)).toSeq
    assert(diff == Seq("SC1"))
  }

  test("salted aggregation equals plain aggregation") {
    val df = (1 to 10000).map(i => (if (i % 100 == 0) "hot" else s"k${i % 37}", i.toDouble))
      .toDF("key", "v")
    val plain = df.groupBy("key").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = ScaleOps.saltedSumCount(df, col("key"), col("v"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("AQE splits a skewed join partition (the hot-LSH-bucket countermeasure)") {
    // one hot key holds ~99% of the rows; with the skew thresholds lowered
    // to test scale, OptimizeSkewedJoin must split that partition
    val pay = "x" * 120
    val hot = (1 to 60000).map(_ => (0L, pay)) ++ (1L to 500L).map(i => (i, "y"))
    val left = hot.toDF("k", "v").repartition(8)
    val right = (0L to 500L).map(i => (i, s"r$i")).toDF("k", "w").repartition(8)
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.forceOptimizeSkewedJoin" ->
        spark.conf.get("spark.sql.adaptive.forceOptimizeSkewedJoin"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // splitting adds a shuffle-read stage; force it the way a real skewed
      // cluster run would accept the trade
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val joined = left.join(right, "k")
      assert(joined.collect().length == 60500) // drives THIS execution's AQE
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the skewed join side as split:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("z-order layout: 2-D range query prunes most parquet row groups; results unchanged") {
    // 40k rows over two independent dimensions; a conjunctive range filter
    // selects ~1% of them. Written unclustered, every file's (u, t) range
    // spans the whole domain and nothing prunes; z-ordered, both pushed
    // predicates carry row-group min/max that skip almost everything.
    val n = 40000
    val rng = new scala.util.Random(5)
    val df = (0 until n).map { i =>
      (i.toLong, rng.nextInt(1000).toLong, rng.nextInt(100000).toLong, rng.nextDouble())
    }.toDF("id", "u", "t", "v")
    val dir = java.nio.file.Files.createTempDirectory("zorder")
    val zPath = dir.resolve("z").toString
    val linPath = dir.resolve("lin").toString
    ScaleOps.zorderWrite(df, Seq("u", "t"), zPath, numFiles = 16)
    df.repartition(16).write.parquet(linPath) // same file count, no clustering

    def scanRows(path: String): (Long, Seq[(Long, Long)]) = {
      val q = spark.read.parquet(path)
        .filter(col("u").between(100, 199) && col("t").between(10000, 19999))
      val rows = q.collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("t"))).sorted.toSeq
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        .getOrElse(fail("no FileSourceScanExec in the plan"))
      (scan.metrics("numOutputRows").value, rows.map(x => (x._1, x._2)))
    }
    val (zRead, zRows) = scanRows(zPath)
    val (linRead, linRows) = scanRows(linPath)
    assert(zRows == linRows, "layout must never change query results")
    assert(linRead == n, s"unclustered layout reads everything, read $linRead")
    assert(zRead <= n / 4,
      s"z-ordered layout must prune ≥75% of row groups for a 1% 2-D query, read $zRead of $n")
  }

  test("bloom-filtered layout: point lookup on an UNCLUSTERED id skips row groups") {
    // the axis z-order doesn't cover: ids hash-scattered across files have
    // useless min/max everywhere, so a point read scans the table — unless
    // each row group carries a bloom filter the reader can test the value
    // against. 100k unique ids over 8 files; a point lookup must read ~1
    // row group, not 8.
    val n = 100000
    val df = (0 until n).map(i => (i.toLong, i % 97, s"payload$i"))
      .toDF("doc_id", "grp", "payload")
    val dir = java.nio.file.Files.createTempDirectory("bloom")
    val blPath = dir.resolve("bl").toString
    val linPath = dir.resolve("lin").toString
    ScaleOps.writeBloomFiltered(df, Seq("doc_id"), blPath, numFiles = 8,
      expectedDistinct = n.toLong)
    df.repartition(8).write.parquet(linPath)

    // the filters must really be in the footers (not silently dropped)
    val firstFile = new java.io.File(blPath).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(firstFile.toString),
        spark.sparkContext.hadoopConfiguration))
    try {
      val block = rd.getFooter.getBlocks.get(0)
      val colMeta = scala.jdk.CollectionConverters.ListHasAsScala(block.getColumns)
        .asScala.find(_.getPath.toDotString == "doc_id").get
      assert(rd.getBloomFilterDataReader(block).readBloomFilter(colMeta) != null,
        "doc_id column chunk carries no bloom filter")
    } finally rd.close()

    def pointRead(path: String, id: Long): (Long, Seq[String]) = {
      val q = spark.read.parquet(path).filter(col("doc_id") === id)
      val rows = q.collect().map(_.getAs[String]("payload")).toSeq
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        .getOrElse(fail("no FileSourceScanExec in the plan"))
      (scan.metrics("numOutputRows").value, rows)
    }
    val (blRead, blRows) = pointRead(blPath, 31337L)
    val (linRead, linRows) = pointRead(linPath, 31337L)
    assert(blRows == Seq("payload31337") && linRows == blRows,
      "layout must never change query results")
    assert(linRead == n, s"plain layout scans everything, read $linRead")
    assert(blRead <= n / 4,
      s"bloom layout must skip non-matching row groups, read $blRead of $n")
  }

  test("zorderWrite tolerates null dimension values (null z sorts to one end)") {
    val df = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "a"), (null, 20L, "b"), (3L, null, "c"), (4L, 40L, "d"))
      .toDF("u", "t", "v")
    val dir = java.nio.file.Files.createTempDirectory("znull").resolve("z").toString
    ScaleOps.zorderWrite(df, Seq("u", "t"), dir, numFiles = 2)
    val back = spark.read.parquet(dir)
    assert(back.count() == 4, "null-dim rows must survive the rewrite")
    assert(back.filter(col("u").isNull || col("t").isNull).count() == 2)
  }

  test("search_sorted native expression == ArrayAggregate fold spec (property)") {
    val rng = new scala.util.Random(17)
    for (trial <- 0 until 10) {
      val nCuts = 1 + rng.nextInt(40)
      val cuts = Array.fill(nCuts)(rng.nextDouble() * 200 - 100)
      val vs = (Array.fill(200)(rng.nextDouble() * 300 - 150) ++
        cuts.take(5) ++ // include exact cut hits
        Array(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)).toSeq
      val df = vs.toDF("v")
      val got = df.select(ScaleOps.quantileBucket(col("v"), cuts).as("b"),
          ScaleOpsColumnReference.quantileBucketHof(col("v"), cuts).as("bh"))
        .collect()
      got.foreach(r => assert(r.getInt(0) == r.getInt(1),
        s"trial $trial: native ${r.getInt(0)} != hof ${r.getInt(1)}"))
    }
  }

  test("array-payload expressions compare by content (semanticEquals / CSE eligibility)") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.types.DoubleType
    val childRef: Expression = BoundReference(0, DoubleType, nullable = false)
    val a = graft.expr.SearchSortedExpr(childRef, Array(1.0, 2.0, 3.0))
    val b = graft.expr.SearchSortedExpr(childRef, Array(1.0, 2.0, 3.0))
    val c = graft.expr.SearchSortedExpr(childRef, Array(1.0, 2.0, 4.0))
    // default case-class equals on Array fields is reference equality —
    // two structurally identical cut arrays would never canonicalize equal
    assert(a == b && a.hashCode == b.hashCode, "same cuts must be equal")
    assert(a.semanticEquals(b), "semanticEquals must see through the array payload")
    assert(a != c, "different cuts must not be equal")
    val embRef: Expression = BoundReference(0,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType), nullable = false)
    val p1 = graft.expr.PqEncodeExpr(embRef, Array(1f, 2f, 3f, 4f), m = 2, k = 2, subDim = 1)
    val p2 = graft.expr.PqEncodeExpr(embRef, Array(1f, 2f, 3f, 4f), m = 2, k = 2, subDim = 1)
    val p3 = graft.expr.PqEncodeExpr(embRef, Array(1f, 2f, 3f, 5f), m = 2, k = 2, subDim = 1)
    assert(p1 == p2 && p1.hashCode == p2.hashCode && p1.semanticEquals(p2))
    assert(p1 != p3)
  }

  test("morton interleave and quantile buckets are order-preserving per dimension") {
    // quantileBucket: monotone in v, respects the cut points
    val cuts = Array(10.0, 20.0, 30.0)
    val got = Seq(5.0, 10.0, 15.0, 25.0, 35.0).toDF("v")
      .select(ScaleOps.quantileBucket(col("v"), cuts).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 1, 1, 2, 3))
    // morton: (3,0)=0b0101=5, (0,3)=0b1010=10, (3,3)=15 — bit j of dim d at j*dims+d
    val z = Seq((3L, 0L), (0L, 3L), (3L, 3L), (2L, 1L)).toDF("a", "b")
      .select(ScaleOps.mortonInterleave(Seq(col("a"), col("b")), 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(z == Seq(5L, 10L, 15L, 6L))
  }

  test("compactParquet collapses small files per partition; content unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("compact")
    val in = dir.resolve("in").toString
    val out = dir.resolve("out").toString
    // 32 writer tasks × 3 partitions → ~96 tiny files, the decay shape
    val df = (1L to 3000L).map(i => (s"p${i % 3}", i, s"v$i")).toDF("part", "id", "v")
    df.repartition(32).write.partitionBy("part").parquet(in)
    def parquetFiles(d: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(d))
    }
    val before = parquetFiles(in).size
    assert(before > 50, s"setup must create many small files, got $before")
    ScaleOps.compactParquet(spark, in, out, Seq("part"), maxRecordsPerFile = 10000)
    val after = parquetFiles(out).size
    assert(after == 3, s"one right-sized file per partition, got $after")
    val a = spark.read.parquet(in).collect().map(_.toString).sorted.toSeq
    val b = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    assert(a == b, "compaction must not change content")
    // unpartitioned path: ~ceil(3000/1000) files. Round-robin repartition
    // is only NEARLY even (each input partition starts its cycle at a
    // seeded offset), so a slightly-overfull partition may spill one extra
    // file past the hard maxRecordsPerFile cap — 3 or 4 both mean
    // "compacted from 24", and the cap itself is what we assert
    val in2 = dir.resolve("in2").toString
    val out2 = dir.resolve("out2").toString
    df.repartition(24).write.parquet(in2)
    ScaleOps.compactParquet(spark, in2, out2, Nil, maxRecordsPerFile = 1000)
    val n2 = parquetFiles(out2).size
    assert(n2 >= 3 && n2 <= 4, s"expected 3-4 compacted files, got $n2")
    assert(spark.read.parquet(out2).count() == 3000)
  }

  test("bucketed tables join without a shuffle") {
    val a = (1L to 1000L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 1000L).map(i => (i, s"b$i")).toDF("k", "vb")
    ScaleOps.writeBucketed(a, "bucketed_a", "k", 4)
    ScaleOps.writeBucketed(b, "bucketed_b", "k", 4)
    // force the non-broadcast path so the bucketed co-location is what the
    // planner must rely on (at real scale neither side broadcasts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}

/** The executable reference for [[ScaleOps.quantileBucket]]: the
  * interpreted fold that [[graft.expr.SearchSortedExpr]] replaced. */
object ScaleOpsColumnReference {
  import org.apache.spark.sql.Column

  /** Composable spec twin of [[quantileBucket]] — the interpreted
    * ArrayAggregate fold the native expression is tested against. NaN
    * mirrors the native sorts-last rule (SQL `v >= b` is false for NaN, so
    * the bare fold would send NaN to bucket 0 — the opposite end of
    * Spark's double ordering). */
  def quantileBucketHof(v: Column, cuts: Array[Double]): Column = {
    val sorted = cuts.distinct.sorted
    when(isnan(v), lit(sorted.length)).otherwise(
      aggregate(typedLit(sorted.toSeq), lit(0),
        (acc, b) => acc + when(v >= b, 1).otherwise(0)))
  }
}
