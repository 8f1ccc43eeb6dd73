package graft.meta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: the shuffle-shaping tools the 100 TB deployment needs —
  * salting for skewed keys and bucketed co-located joins. (SURVEY.md §4:
  * the reference has no equivalents because Postgres/Celery hid them; at
  * Spark scale they are part of the engine surface.)
  */
object ScaleOps {

  /** Skew-safe aggregation: two-phase salted groupBy. Phase 1 aggregates on
    * (key, salt) spreading a hot key over `saltBuckets` reducers; phase 2
    * merges the partials per key. Use for algebraic aggregates (sum/count/
    * min/max) when one key dominates (e.g. one scene's tiles, one dup-text
    * digest). AQE's skew handling covers joins; this covers aggregations.
    */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
                     saltBuckets: Int = 16): DataFrame = {
    val salted = df.select(key.as("k"), value.as("v"),
      (pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
        .as("salt"))
    salted.groupBy(col("k"), col("salt"))
      .agg(sum(col("v")).as("ps"), count(lit(1)).as("pc"))
      .groupBy(col("k"))
      .agg(sum(col("ps")).as("sum_v"), sum(col("pc")).as("n"))
  }

  /** Morton (Z-order) interleave of per-dimension bucket indices: bit j of
    * dimension d lands at position j*dims + d, so documents close in EVERY
    * dimension land close in the one-dimensional sort order. Pure bit
    * arithmetic on columns — whole-stage-codegen'd, no UDF. */
  def mortonInterleave(buckets: Seq[Column], bitsPerDim: Int): Column = {
    require(buckets.nonEmpty, "at least one dimension")
    require(bitsPerDim >= 1 && buckets.length * bitsPerDim <= 62,
      s"${buckets.length} dims × $bitsPerDim bits must fit a long")
    val dims = buckets.length
    (for { j <- 0 until bitsPerDim; d <- buckets.indices } yield
      shiftleft(shiftright(buckets(d).cast("long"), j).bitwiseAND(lit(1L)),
        j * dims + d))
      .reduce(_ bitwiseOR _)
  }

  /** Bucket index of `v` against sorted quantile cut points: the count of
    * cuts ≤ v. Delegates to the native [[graft.expr.SearchSortedExpr]] —
    * O(log cuts) binary search inside whole-stage codegen. The z-value is
    * evaluated in BOTH the range-partition sampling pass and the write
    * projection, so this sits on the layout writer's hot path. */
  def quantileBucket(v: Column, cuts: Array[Double]): Column =
    graft.expr.NativeFunctions.search_sorted(v, cuts)

  /** Numeric view of a dimension column for quantile bucketing. ANSI mode
    * (Spark 4 default) forbids timestamp→double casts, so timestamps go
    * through unix_micros explicitly. */
  private def numericView(df: DataFrame, dim: String): Column =
    df.schema(dim).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(dim)).cast("double")
      case org.apache.spark.sql.types.TimestampNTZType =>
        // ANSI forbids NTZ→double directly; route through LTZ (session TZ is
        // pinned UTC in graft sessions, so the epoch matches the naive value)
        unix_micros(col(dim).cast(org.apache.spark.sql.types.TimestampType)).cast("double")
      case org.apache.spark.sql.types.DateType      => unix_date(col(dim)).cast("double")
      case _                                         => col(dim).cast("double")
    }

  /** Z-order clustering write: the multi-dimensional data-skipping layout
    * (Delta/Iceberg `OPTIMIZE ZORDER BY` re-expressed on vanilla parquet).
    * Rows are bucketed per dimension by approximate quantiles (skew-robust,
    * unlike equi-width), the bucket indices are Morton-interleaved, and the
    * frame is range-partitioned + sorted by the z-value so every output
    * file (and every parquet row group inside it) carries tight min/max
    * ranges on ALL `dims` at once. A conjunctive range query on any subset
    * of the dimensions then prunes row groups through ordinary parquet
    * predicate pushdown — no index structure, no table format, no custom
    * reader.
    *
    * Scale shape (100 TB): one approxQuantile pass (mergeable
    * Greenwald-Khanna sketches per partition — the cut points are
    * `dims × 255` doubles on the driver regardless of corpus size), then
    * one range-shuffle on the 8-byte z-value. That is the same cost
    * envelope as the sort Delta's OPTIMIZE pays, and it is the LAST
    * shuffle a fact table needs: downstream scans skip instead of
    * shuffling. The reference never needs this (Postgres B-trees hid it);
    * at Spark scale the layout IS the index. */
  def zorderWrite(df: DataFrame, dims: Seq[String], path: String,
                  numFiles: Int, bitsPerDim: Int = 8): Unit = {
    require(dims.nonEmpty, "z-order needs at least one dimension")
    val nCuts = (1 << bitsPerDim) - 1
    val probs = (1 to nCuts).map(_.toDouble / (1 << bitsPerDim)).toArray
    val viewed = df.select(dims.map(d => numericView(df, d).as(s"__q_$d")): _*)
    // 0.01 relative error is plenty for LAYOUT boundaries (a slightly
    // uneven bucket costs nothing; the sketch pass costs 3× at 0.001)
    val cuts = viewed.stat.approxQuantile(
      dims.map(d => s"__q_$d").toArray, probs, 0.01)
    val z = mortonInterleave(
      dims.zip(cuts).map { case (d, c) => quantileBucket(numericView(df, d), c) },
      bitsPerDim)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Bloom-filtered layout for high-cardinality POINT lookups — the axis
    * z-order doesn't cover: a z-ordered table prunes row groups for
    * range/cluster queries on its clustered dims, but a random id
    * point-read (`WHERE doc_id = X`) over an UNCLUSTERED column still
    * scans every row group, because min/max statistics are useless when
    * every group spans the full id range. Parquet's column bloom filters
    * (written per row group) close that gap: the reader tests the
    * predicate value against each group's filter and skips groups that
    * definitely don't contain it — no sort, no index structure, no table
    * format, and Spark's ordinary pushdown drives it (parquet-mr applies
    * bloom filters during row-group filtering since 1.12).
    *
    * Scale shape (100 TB): zero extra passes — the filters build inline
    * during the write at ~1.2 MB per million distinct values per column;
    * a point lookup then reads ~1 row group instead of the table. Use for
    * exactly-once reconciliation joins, dedup-id probes, and the
    * `scene_id` point reads the reference serves from Postgres B-trees
    * (SURVEY §2.6 O5) — at Spark scale the layout IS the index. */
  def writeBloomFiltered(df: DataFrame, bloomCols: Seq[String], path: String,
                         numFiles: Int, expectedDistinct: Long = 1000000L): Unit = {
    require(bloomCols.nonEmpty, "need at least one bloom column")
    val w = df.repartition(numFiles)
      .write.mode("overwrite")
    val withOpts = bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedDistinct.toString)
    }
    withOpts.parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory so each partition
    * holds a few right-sized files instead of the thousands a streaming
    * sink or a wide-parallelism job leaves behind (the #1 operational
    * decay mode of a 100 TB lake: NameNode/listing pressure and
    * task-per-tiny-file scheduling). Rows hash-cluster by the partition
    * columns — one task per partition — and `maxRecordsPerFile` re-splits
    * oversized ones. Content is layout-invariant; only the file count
    * changes. For an unpartitioned directory the frame coalesces to
    * ceil(rows / maxRecordsPerFile) files. Writes to a NEW directory —
    * atomic swap (rename) is the caller's move, never an in-place rewrite.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
                     inDir: String, outDir: String,
                     partitionCols: Seq[String],
                     maxRecordsPerFile: Long): Unit = {
    require(maxRecordsPerFile >= 1, "maxRecordsPerFile must be >= 1")
    require(inDir != outDir, "compaction writes to a new directory, never in place")
    val df = spark.read.parquet(inDir)
    val writer =
      if (partitionCols.nonEmpty)
        df.repartition(partitionCols.map(col): _*)
          .write.partitionBy(partitionCols: _*)
      else {
        val n = df.count()
        val files = math.max(1L, (n + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt
        // round-robin repartition, not coalesce: coalesce merges input
        // splits unevenly and an overflowing task re-splits, defeating
        // the even-file-size goal — the shuffle IS the compaction
        df.repartition(files).write
      }
    writer.option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite").parquet(outDir)
  }

  /** Bucketed table writer: co-locates future joins on `key` — both sides
    * bucketed by the same key/count join with ZERO shuffle (the engine's
    * equivalent of pre-partitioned PostGIS indexes for the items/activities
    * tables that every metadata query joins). Requires a session with a
    * warehouse dir (any SparkSession has one). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // the in-memory catalog forgets tables across sessions but their
    // warehouse directories persist — clear any orphan location
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(s"$warehouse/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  // ---- Incremental aggregate maintenance ---------------------------------
  //
  // The O(delta) lever: a rolling rollup over a 100 TB archive must not be
  // recomputed from the archive every day. Algebraic aggregates
  // (count/sum/min/max — avg derives as sum/n) carry a mergeable state, so
  // yesterday's state table + today's delta slice re-combine in
  // O(state + delta), and merge(aggState(A), aggState(B)) ≡ aggState(A ∪ B)
  // exactly (the invariant IncrementalAggSpec pins and q114's oracle checks
  // end-to-end: the oracle aggregates the raw union, Spark merges states).
  // The reference recomputes its dashboard counts from Postgres on every
  // request (controller.py aggregate endpoints) — viable at Postgres scale,
  // not at archive scale.

  /** Build algebraic aggregate state for one slice: one hash aggregation
    * with map-side partials, grouped by `keys`, over `valueCol`.
    * Output: keys ++ (n, sum_v, min_v, max_v). */
  def aggState(df: DataFrame, keys: Seq[Column], valueCol: Column): DataFrame =
    df.groupBy(keys: _*).agg(
      count(lit(1)).as("n"),
      sum(valueCol).as("sum_v"),
      min(valueCol).as("min_v"),
      max(valueCol).as("max_v"))

  /** Merge any number of aggregate states. Each input must have the
    * [[aggState]] shape with the same key columns. The combine is itself
    * algebraic (sum of n/sum_v, min of min_v, max of max_v), so states
    * merge associatively — daily states roll into monthly, monthly into
    * yearly, at O(state) each. */
  def mergeAggState(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeAggState needs at least one state")
    states.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** Upsert a delta's partitions into a partitioned parquet state table:
    * dynamic partition overwrite replaces ONLY the partitions present in
    * `delta` — untouched partitions' files are not rewritten (spec-pinned
    * by file mtime), so maintaining a decade-long state table costs one
    * day's write, not a decade's. */
  def upsertStatePartitions(delta: DataFrame, path: String,
                            partCols: Seq[String]): Unit =
    delta.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)
}
