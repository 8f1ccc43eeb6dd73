package graft.perfbench

import graft.perfbench.Main.{Ctx, Outcome}
import graft.pipeline.{Pipeline, Publish}
import graft.pipeline.Pipeline.TaskNode
import graft.raster.{GeoTiff, RasterKernels, SceneIO}
import graft.catalog.TableLayout
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** `scene_ingest`: the reference's per-scene chain over synthetic
  * three-band scenes (B04, B08, B11, each with nodata holes). Each op is
  * one ingest batch driven through `Pipeline.runBatch` over the task tree
  * download → correction → publish:
  *
  *  - download: `SceneIO.readGeoTiffScenes` then `tileScene`, cached for
  *    the batch; a seeded tenth of the scenes return RETRY on their first
  *    attempt, so the retry path runs in every batch;
  *  - correction: `pivotBands`, `bandMath` for NDVI and NDWI plus
  *    `propagateNodata` of B04/B08 holes into B11, written as COGs with
  *    overviews by `writeGeoTiffScenes`;
  *  - publish: `quicklookScenes`, then the item upsert
  *    (`Publish.publishItems`, i.e. `mergeByKey`) written by
  *    `TableLayout.writeItems` and swapped in.
  *
  * The scenes are generated from the seed and written as GeoTIFF once per
  * process, during set-up. */
object SceneIngest extends Workload with Serializable {
  val name = "scene_ingest"

  val Bands = Seq("B04", "B08", "B11")
  val Size = 640
  val Block = 256
  val ScenesPerBatch = 4
  val Groups = 2
  val RetriesPerBatch = 1
  /** Untimed batches before the pass. The first timed batch is still about
    * 10% slower than the later ones, which are flat; a third warm-up batch
    * did not change that. */
  val WarmBatches = 2
  val Nodata = -9999f
  val Overviews = Seq(2, 4, 8)
  val Quicklook = 256
  val Ndvi = "10000. * ((B08 - B04) / (B08 + B04))"
  val Ndwi = "10000. * ((B08 - B11) / (B08 + B11))"
  /** One batch takes about this long on 4 cores; the pass is the whole
    * number of batches nearest `--seconds`. */
  val NominalBatchS = 5.5

  def batches(seconds: Int): Int = math.max(3, math.round(seconds / NominalBatchS).toInt)

  def sceneId(seed: Long, i: Int): String = Stats.fmt("S2A_T23LLF_2024%02d%02d_%02d",
    1 + (i % 12), 1 + DataGen.pick(20, seed, i, 28), i)

  /** One band of one generated scene: a smooth seeded field of
    * reflectance-like integers plus noise, a seeded rectangular hole and
    * scattered nodata pixels, each different per band. */
  def band(seed: Long, scene: Int, b: Int): Array[Float] = {
    val key = seed * 131 + scene * 7 + b
    val (fx, fy) = (0.002 + 0.02 * DataGen.unit(21, key, 0), 0.002 + 0.02 * DataGen.unit(21, key, 1))
    val sx = Array.tabulate(Size)(x => math.sin(x * fx + 6.3 * DataGen.unit(21, key, 2)))
    val cy = Array.tabulate(Size)(y => math.cos(y * fy + 6.3 * DataGen.unit(21, key, 3)))
    val gain = Array(1.0, 2.2, 1.6)(b)
    val (hy, hx) = (DataGen.pick(21, key, 4, Size * 3 / 4), DataGen.pick(21, key, 5, Size * 3 / 4))
    val px = new Array[Float](Size * Size)
    var y = 0
    while (y < Size) {
      var x = 0
      while (x < Size) {
        val i = y * Size + x
        val n = DataGen.mix(key, i, 22)
        px(i) =
          if ((y - hy).toLong * (y - hy - Size / 6) < 0 && (x - hx).toLong * (x - hx - Size / 5) < 0) Nodata
          else if ((n & 1023) == 0) Nodata
          else math.round(gain * (1500 + 1000 * sx(x) * cy(y)) + (n >>> 58)).toFloat
        x += 1
      }
      y += 1
    }
    px
  }

  /** Write every scene's bands as GeoTIFF under `dir`, one task per file. */
  def writeScenes(spark: SparkSession, seed: Long, nScenes: Int, dir: Path): Unit = {
    Files.createDirectories(dir)
    val out = dir.toString
    val files = for (s <- 0 until nScenes; b <- Bands.indices) yield (s, b)
    val bandNames = Bands
    spark.sparkContext.parallelize(files, files.length).foreach { case (s, b) =>
      val bytes = GeoTiff.encode(Size, Size, band(seed, s, b),
        GeoTiff.GeoMeta(nodata = Some(Nodata.toDouble)), tileSize = Block,
        overviewFactors = Nil, compressionLevel = 1)
      Files.write(java.nio.file.Paths.get(out, s"${sceneId(seed, s)}__${bandNames(b)}.tif"), bytes)
    }
  }

  val ItemSchema: StructType = StructType(Seq(
    StructField("name", StringType), StructField("collection_id", IntegerType),
    StructField("start_date", TimestampType), StructField("cog_bytes", LongType),
    StructField("assets", StringType), StructField("quicklook", StringType)))

  final class Batch(val k: Int, val scenes: Seq[Int], val retry: Set[String])

  /** Seeded batches: batch k ingests group k mod 2 of the scenes named
    * from `seed`; the scenes that fail their first download, one per
    * batch, are drawn from `picks`. */
  def plan(seed: Long, seconds: Int, picks: Long): Seq[Batch] = {
    val rng = new SplittableRandom(picks)
    (0 until batches(seconds)).map { k =>
      val scenes = (0 until ScenesPerBatch).map(i => (k % Groups) * ScenesPerBatch + i)
      val retry = Main.shuffled(scenes, rng).take(RetriesPerBatch).map(sceneId(seed, _)).toSet
      new Batch(k, scenes, retry)
    }
  }

  /** The ingest target: its inputs and outputs under `dir`. */
  final class State(val spark: SparkSession, val ctx: Ctx, dir: Path) {
    val inputs: Path = dir.resolve("inputs")
    val cogs: Path = dir.resolve("cogs")
    val quicklooks: Path = dir.resolve("quicklooks")
    val items: Path = dir.resolve("items")
    var itemsVersion = 0
    val published = mutable.Set.empty[String]
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val work = ctx.args.work
    val nScenes = ScenesPerBatch * Groups
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val st = new State(spark, ctx, work.resolve("ingest"))
    // set-up: the scene inputs, written three times; set-up counts the median
    var genTotal = 0.0
    val genS = Main.medianOf(3) { _ =>
      val t0 = System.nanoTime()
      Main.deleteTree(st.inputs)
      writeScenes(spark, ctx.seed, nScenes, st.inputs)
      genTotal += (System.nanoTime() - t0) / 1e9
    }
    Main.stage(ctx, "scene inputs written")
    // warm-up batches over this run's scenes, with their own retry picks
    plan(ctx.seed, 1, ctx.seed ^ 0x3a7L).take(WarmBatches).foreach(b => ingest(st, b, traced = false))
    Main.stage(ctx, "warm-up batches done")
    val steps = plan(ctx.seed, ctx.args.seconds, ctx.seed ^ 0xba7cL)
    val setupS = ctx.sinceJvmStartS - genTotal + genS
    val passStartMs = t.nowMs
    val p0 = System.nanoTime()
    val results = steps.map { b =>
      val (op, res) = Main.timed("batch", s"batch_${b.k}", t)(ingest(st, b, t.enabled))
      (b, op, res)
    }
    val passS = (System.nanoTime() - p0) / 1e9
    val rssMb = Main.peakRssMb()
    val ops = results.map(_._2)
    // every activity settled SUCCESS after the expected attempts
    results.foreach { case (b, _, res) =>
      res.foreach { case (acts, executions) =>
        val ok = scala.util.Try {
          val bad = acts.filter(col("status") =!= "SUCCESS").count()
          bad == 0 && executions.count() == 3L * b.scenes.size + b.retry.size
        }.getOrElse(false)
        checks += (s"batch_${b.k}:activities" -> ok)
      }
    }

    checks += ("items:count" -> scala.util.Try(
      spark.read.parquet(st.items.toString).count() == nScenes).getOrElse(false))
    val sample = new SplittableRandom(ctx.seed).nextInt(nScenes)
    checks += (s"cog:NDVI:${sceneId(ctx.seed, sample)}" -> scala.util.Try(
      checkNdvi(ctx.seed, sample, st.cogs)).getOrElse(false))
    Outcome(setupS, ops, passS, passStartMs, rssMb, checks.toSeq)
  }

  /** Decode one written NDVI COG and compare it with NDVI computed on the
    * driver from the generated inputs. */
  def checkNdvi(seed: Long, scene: Int, cogs: Path): Boolean = {
    val bytes = Files.readAllBytes(cogs.resolve(s"${sceneId(seed, scene)}__NDVI.tif"))
    val img = GeoTiff.decode(bytes)
    val got = img.main.pixels
    val (b04, b08) = (band(seed, scene, 0), band(seed, scene, 1))
    got.length == b04.length && img.overviews.length == Overviews.length &&
      got.indices.forall { i =>
        val want =
          if (b04(i) == Nodata || b08(i) == Nodata) Nodata
          else {
            val r = 10000.0 * ((b08(i).toDouble - b04(i)) / (b08(i).toDouble + b04(i)))
            if (r.isNaN || r.isInfinite) Nodata else math.max(-10000.0, math.min(10000.0, r)).toFloat
          }
        math.abs(got(i) - want) <= 1e-3f
      }
  }

  /** One ingest batch through `Pipeline.runBatch`; returns the settled
    * activities and the execution log. */
  def ingest(st: State, b: Batch, traced: Boolean): (DataFrame, DataFrame) = {
    implicit val spark: SparkSession = st.spark
    import spark.implicits._
    val t = st.ctx.tracer
    val seed = st.ctx.seed
    val ids = b.scenes.map(sceneId(seed, _))
    val tiles = mutable.ArrayBuffer.empty[DataFrame]
    val manifests = mutable.Map.empty[String, Long]
    def idsOf(pending: DataFrame): Seq[(String, Int)] =
      pending.select(col("sceneid"), col("retry_count")).as[(String, Int)].collect().toSeq
    def settle(pending: DataFrame, retry: Set[String]): DataFrame =
      pending.withColumn("status",
        if (retry.isEmpty) lit("SUCCESS")
        else when(col("sceneid").isin(retry.toSeq: _*), lit("RETRY")).otherwise(lit("SUCCESS")))
    def tilesOf(scenes: Seq[String]): DataFrame =
      tiles.reduce(_ unionByName _).filter(col("scene_id").isin(scenes: _*))

    val download: Pipeline.StageKernel = pending => {
      val p = idsOf(pending)
      val retry = p.collect { case (s, 0) if b.retry(s) => s }.toSet
      val work = p.map(_._1).filterNot(retry)
      if (work.nonEmpty) t.span("raster.decode", "raster") {
        val glob = s"${st.inputs}/{${work.mkString(",")}}__*.tif"
        val x = SceneIO.tileScene(SceneIO.readGeoTiffScenes(spark, glob), Block, Block).persist()
        x.count()
        tiles += x
      }
      t.count("pipeline.attempts", p.size)
      t.count("raster.mpix", work.size * Bands.size * Size.toDouble * Size / 1e6)
      settle(pending, retry)
    }
    val correction: Pipeline.StageKernel = pending => {
      val scenes = idsOf(pending).map(_._1)
      t.count("pipeline.attempts", scenes.size)
      val outputs = t.span("raster.kernel", "raster") {
        val piv = RasterKernels.pivotBands(tilesOf(scenes))
        val out = RasterKernels.bandMath(piv, Ndvi, "NDVI", Nodata, -10000, 10000)
          .unionByName(RasterKernels.bandMath(piv, Ndwi, "NDWI", Nodata, -10000, 10000))
          .unionByName(RasterKernels.propagateNodata(piv, Seq("B04", "B08"), "B11", Nodata))
        // traced: materialize the kernel output so encode is timed alone
        if (traced) { val m = out.persist(); m.count(); m } else out
      }
      val written = t.span("raster.encode", "raster") {
        SceneIO.writeGeoTiffScenes(outputs, st.cogs.toString, overviewFactors = Overviews)
          .select(col("scene_id"), col("bytes")).as[(String, Long)].collect()
      }
      if (traced) outputs.unpersist(blocking = true)
      written.foreach { case (s, n) => manifests(s) = manifests.getOrElse(s, 0L) + n }
      t.count("raster.cog_bytes", written.map(_._2).sum.toDouble)
      t.count("pipeline.bytes_written", written.map(_._2).sum.toDouble)
      settle(pending, Set.empty)
    }
    val publish: Pipeline.StageKernel = pending => {
      val scenes = idsOf(pending).map(_._1)
      t.count("pipeline.attempts", scenes.size)
      val qls = t.span("raster.quicklook", "raster") {
        SceneIO.quicklookScenes(tilesOf(scenes), ("B11", "B08", "B04"), st.quicklooks.toString,
          Quicklook, Quicklook).select(col("scene_id"), col("path"), col("bytes"))
          .as[(String, String, Long)].collect()
      }
      t.count("pipeline.bytes_written", qls.map(_._3).sum.toDouble)
      t.span("raster.publish", "raster")(publishItems(st, qls.map(_._1).toSeq, manifests.toMap))
      settle(pending, Set.empty)
    }

    try {
      val scenesDf = ids.toDF("scene_id")
      val tree = TaskNode("download", Seq(TaskNode("correction", Seq(TaskNode("publish")))))
      val (acts, _) = t.span("construct", "construct")(
        Pipeline.planActivities(scenesDf, "scene_id", 1, tree))
      t.count("pipeline.items", ids.size)
      t.span("pipeline.run", "pipeline")(Pipeline.runBatch(acts, tree,
        Map("download" -> download, "correction" -> correction, "publish" -> publish)))
    } finally tiles.foreach(_.unpersist(blocking = true))
  }

  /** The item upsert: stage one item per scene, merge it by (name,
    * collection_id) into the live items table, write the merged table
    * partitioned by month and swap it in. */
  def publishItems(st: State, scenes: Seq[String], cogBytes: Map[String, Long]): Unit = {
    val spark = st.spark
    val t = st.ctx.tracer
    // asset paths are relative to the ingest directory, so the item rows
    // (and every byte count derived from them) do not depend on where the
    // run directory is
    val staged = spark.createDataFrame(spark.sparkContext.parallelize(scenes.map { s =>
      val date = java.sql.Timestamp.valueOf(
        s"2024-${s.substring(15, 17)}-${s.substring(17, 19)} 00:00:00")
      Row(s, 1, date, cogBytes.getOrElse(s, 0L),
        Seq("NDVI", "NDWI", "B11").map(b => s"\"$b\": \"cogs/${s}__$b.tif\"")
          .mkString("{", ", ", "}"), s"quicklooks/$s.png")
    }, 1), ItemSchema)
    t.span("pipeline.merge", "pipeline") {
      val existing =
        if (st.itemsVersion == 0) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ItemSchema)
        else spark.read.parquet(st.items.toString).select(ItemSchema.fieldNames.map(col): _*)
      val merged = Publish.publishItems(existing, staged)
      st.itemsVersion += 1
      val next = st.items.resolveSibling(s"items.v${st.itemsVersion}")
      TableLayout.writeItems(merged, next.toString)
      val old = st.items.resolveSibling(s"items.old${st.itemsVersion}")
      if (Files.exists(st.items)) Files.move(st.items, old)
      Files.move(next, st.items)
      Main.deleteTree(old)
      st.published ++= scenes
      if (t.enabled) {
        t.count("pipeline.rows_written", st.published.size)
        t.count("pipeline.bytes_written", Main.bytesUnder(st.items).toDouble)
      }
    }
  }
}
