package graft

import org.apache.spark.sql.functions._
import graft.raster.RasterKernels

/** Raster-kernel throughput benchmark (not driver-run; documents the scale
  * claim in README): generates a synthetic tile corpus the shape real
  * ingest produces — `tiles × bands` 256×256 float blocks — and measures
  * end-to-end NDVI band math (pivot → fused expression → checksum).
  *
  * Usage: sbt "runMain graft.RasterBench [nScenes] [blocksPerScene]"
  */
object RasterBench {
  def main(args: Array[String]): Unit = {
    val nScenes = if (args.length > 0) args(0).toInt else 64
    val blocks = if (args.length > 1) args(1).toInt else 16 // per scene per band
    val side = 256
    val spark = GraftSession.local(8)
    import spark.implicits._

    val px = side * side
    val tiles = spark.range(nScenes.toLong * blocks)
      .select(
        concat(lit("scene"), (col("id") / blocks).cast("int")).as("scene_id"),
        (col("id") % blocks).cast("int").as("window_row"))
      .withColumn("window_col", lit(0))
      .withColumn("height", lit(side)).withColumn("width", lit(side))
      .withColumn("nodata", lit(-9999.0))
      .withColumn("seq", sequence(lit(0), lit(px - 1)))
    val b04 = tiles.withColumn("band", lit("B04"))
      .withColumn("pixels", transform(col("seq"), i => (i % 10000).cast("float"))).drop("seq")
    val b08 = tiles.withColumn("band", lit("B08"))
      .withColumn("pixels", transform(col("seq"), i => ((i * 3) % 10000).cast("float"))).drop("seq")
    val corpus = b04.unionByName(b08)
      .select("scene_id", "band", "window_row", "window_col", "height", "width", "nodata", "pixels")
      .localCheckpoint(true) // materialize inputs so we time the kernel, not the generator

    val nTiles = corpus.count()
    val bytes = nTiles * px * 4L
    val tp0 = System.nanoTime()
    val piv = RasterKernels.pivotBands(corpus).localCheckpoint(true)
    val pivotSec = (System.nanoTime() - tp0) / 1e9
    val t0 = System.nanoTime()
    val out = RasterKernels.bandMath(piv,
      "10000. * ((B08 - B04) / (B08 + B04))", "NDVI", -9999.0, -10000.0, 10000.0)
    val checksum = out.agg(sum(element_at(col("pixels"), 1))).head().getDouble(0)
    val sec = (System.nanoTime() - t0) / 1e9
    val mbps = bytes / 1e6 / sec
    // ingest-path tiling: full 2048x2048 scenes -> 256x256 blocks (S5)
    val sceneSide = 2048
    val scenes = spark.range(math.max(1, nScenes / 8))
      .select(concat(lit("big"), col("id")).as("scene_id"), lit("B04").as("band"),
        lit(sceneSide).as("height"), lit(sceneSide).as("width"), lit(-9999.0).as("nodata"),
        transform(sequence(lit(0), lit(sceneSide * sceneSide - 1)),
          i => (i % 10000).cast("float")).as("pixels"))
      .localCheckpoint(true)
    val sceneBytes = scenes.count() * sceneSide.toLong * sceneSide * 4
    val tt0 = System.nanoTime()
    val nOut = graft.raster.SceneIO.tileScene(scenes, side, side).count()
    val tileSec = (System.nanoTime() - tt0) / 1e9
    println(s"""{"tiles":$nTiles,"pixels_per_tile":$px,"input_mb":${Bench.fixed(bytes / 1e6, 0)},"pivot_sec":${Bench.fixed(pivotSec, 2)},"math_sec":${Bench.fixed(sec, 2)},"math_mb_per_sec":${Bench.fixed(mbps, 0)},"tile_scene_mb_per_sec":${Bench.fixed(sceneBytes / 1e6 / tileSec, 0)},"tiles_out":$nOut,"checksum":${Bench.fixed(checksum, 0)}}""")
    spark.stop()
  }
}
