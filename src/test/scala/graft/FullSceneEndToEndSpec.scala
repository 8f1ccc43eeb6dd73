package graft

import graft.catalog.Loaders
import graft.expr.Geo
import graft.pipeline.Publish
import graft.raster.{GeoTiff, RasterKernels, SceneIO}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The §3.1 publish slice over real binary files at working-scene size,
  * through the DISTRIBUTED variants end to end — the seam test tying
  * together pieces that are each proven in their own suites:
  *
  *   readGeoTiffScenes (binaryFile scan → executor-side decode, then the
  *   one shuffle of the plane: bands onto scene_id, utils.py:335–342) →
  *   tileScene → bandMathAll driven by a collection
  *   JSON's expression band (index_generator.py:58–149) → cloud cover from
  *   the quality band → writeGeoTiffScenes (no shuffle over the
  *   scene-partitioned tiles, per-(scene,band) COG files, cog_translate
  *   utils.py:113–154) → quicklookScenes
  *   (publish.py:59–91) → assembleItems/stacItemJson (publish.py:575–605),
  *   asserting assets/footprint/bbox/cloud-cover against golden values.
  *
  * 800×800 bands with a ragged-free 200-px block grid: big enough that
  * every stage runs multi-tile/multi-task, small enough for CI. Codec
  * independence is pinned elsewhere (hand-assembled tiny_scene_B1.tif +
  * the q96 oracle); this spec pins the seams between the stages.
  */
class FullSceneEndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val H = 800
  private val W = 800
  private val sceneId = "S2A_T23LLF_0042"

  // deterministic band formulas; 0 is the nodata value, the 8×8 top-left
  // corner is a nodata hole, and valid pixels stay in [1000, 5000) so no
  // in-range value collides with nodata
  private def b04(r: Int, c: Int): Float =
    if (r < 8 && c < 8) 0f else 1000f + ((r * 31 + c * 7) % 4000)
  private def b08(r: Int, c: Int): Float =
    if (r < 8 && c < 8) 0f else 1000f + ((r * 13 + c * 11) % 4000)
  // 4 = cloud on every 5th anti-diagonal → exactly 20% cloud cover
  private def fmask(r: Int, c: Int): Float = if ((r + c) % 5 == 0) 4f else 1f

  test("full-scene slice: ingest dir → NDVI from collection JSON → COGs + quicklook + STAC") {
    val root = Files.createTempDirectory("graft-scene-e2e")
    val ingest = Files.createDirectories(root.resolve("ingest"))
    val geo = GeoTiff.GeoMeta(pixelScale = Some((10.0, 10.0)),
      tiepoint = Some((600000.0, 8100000.0)), epsg = Some(32723),
      nodata = Some(0.0))
    def img(f: (Int, Int) => Float) = Array.tabulate(H * W)(i => f(i / W, i % W))
    Seq("B04" -> img(b04), "B08" -> img(b08), "Fmask4" -> img(fmask)).foreach {
      case (band, px) => Files.write(ingest.resolve(s"${sceneId}__$band.tif"),
        GeoTiff.encode(H, W, px, geo, 256, Nil))
    }

    // 1. distributed ingest: the decode runs per file on executors, then
    //    the bands are hash-partitioned on scene_id (the plane's one shuffle)
    val scenes = SceneIO.readGeoTiffScenes(spark, ingest.toString)
    assert(scenes.count() == 3)
    assert(scenes.select("height", "width").distinct().head() ==
      org.apache.spark.sql.Row(H, W))
    val tiles = SceneIO.tileScene(scenes, 200, 200) // 16 windows × 3 bands

    // 2. expression bands come from the collection definition JSON
    val collDir = Files.createTempDirectory("graft-scene-coll")
    Files.writeString(collDir.resolve("s2.json"),
      """{"name": "S2_L2A", "version": 1, "quicklook": ["B04", "B08", "Fmask4"],
        | "bands": [
        |  {"name": "B04", "common_name": "red", "nodata": 0, "min_value": 0, "max_value": 10000},
        |  {"name": "B08", "common_name": "nir", "nodata": 0, "min_value": 0, "max_value": 10000},
        |  {"name": "Fmask4", "common_name": "quality", "nodata": 255, "min_value": 0, "max_value": 255},
        |  {"name": "NDVI", "nodata": -9999, "min_value": -10000, "max_value": 10000,
        |   "metadata": {"expression": {"value": "10000. * ((B08 - B04) / (B08 + B04))"}}}
        |]}""".stripMargin)
    val coll = Loaders.loadCollections(spark, collDir.toString).head
    val (derived, skipped) = RasterKernels.bandMathAll(RasterKernels.pivotBands(tiles), coll)
    assert(skipped.isEmpty, s"no expression band may be skipped: $skipped")
    val ndvi = derived.get
    assert(ndvi.select("band").distinct().as[String].collect().toSeq == Seq("NDVI"))

    // 3. cloud cover from the quality band — fixed-size per-tile partials
    val cc = tiles.filter(col("band") === "Fmask4")
      .select(aggregate(col("pixels"), lit(0L),
        (acc, x) => acc + when(x === 4f, 1L).otherwise(0L)).as("cloudy"),
        size(col("pixels")).cast("long").as("n"))
      .agg(sum("cloudy").as("c"), sum("n").as("n")).head()
    val cloudCover = cc.getLong(0) * 100.0 / cc.getLong(1)
    assert(cloudCover == 20.0, s"golden cloud cover 20.0, got $cloudCover")

    // 4. distributed COG export of source + derived bands: both sides are
    //    partitioned on scene_id already, so the export adds no shuffle
    val outDir = root.resolve("out").toString
    val manifest = SceneIO.writeGeoTiffScenes(
      tiles.unionByName(ndvi.withColumn("nodata", col("nodata").cast("float"))),
      outDir, geo, tileSize = 256, overviewFactors = Seq(2, 4)).cache()
    assert(manifest.count() == 4)
    val assetPaths = manifest.orderBy("band").select("path").as[String].collect()

    // 5. read our own export back through the same distributed reader
    val back = SceneIO.readGeoTiffScenes(spark, outDir)
    val (bh, bw, px) = SceneIO.assembleScene(
      SceneIO.tileScene(back.filter(col("band") === "NDVI"), 200, 200), sceneId, "NDVI")
    assert(bh == H && bw == W)
    assert(px(0) == -9999f, "nodata hole must map to the NDVI nodata value")
    for ((r, c) <- Seq((100, 200), (8, 0), (799, 799))) {
      val expect = 10000.0 * (b08(r, c) - b04(r, c)) / (b08(r, c) + b04(r, c))
      assert(math.abs(px(r * W + c) - expect) < 0.5,
        s"NDVI($r,$c): ${px(r * W + c)} vs $expect")
    }

    // 6. distributed quicklook: ≤ 3·96² sampled values cross the shuffle
    val qlDir = root.resolve("ql").toString
    val ql = SceneIO.quicklookScenes(tiles, ("B04", "B08", "Fmask4"), qlDir, 96, 96)
    val qlRow = ql.head()
    assert(qlRow.getString(0) == sceneId)
    val png = javax.imageio.ImageIO.read(
      new java.io.File(qlRow.getString(1).stripPrefix("file:")))
    assert(png.getWidth == 96 && png.getHeight == 96)
    assert((png.getRGB(0, 0) >>> 24) == 0, "nodata corner must be transparent")
    assert((png.getRGB(95, 95) >>> 24) == 255, "valid pixels must be opaque")

    // 7. publish: footprint hull + STAC item, golden values
    val fps = tiles.filter(col("band") === "B04").select(col("scene_id"),
      Geo.tileRowExtremePoints(col("pixels"), col("nodata"), col("height"),
        col("width"), col("window_row"), col("window_col")).as("points"))
    val staged = Seq((sceneId, 1, "2020-01-15 10:30:00", "2020-01-15 10:30:00"))
      .toDF("scene_id", "collection_id", "sd", "ed")
      .select(col("scene_id"), col("collection_id"),
        col("sd").cast("timestamp").as("start_date"),
        col("ed").cast("timestamp").as("end_date"),
        lit(cloudCover).as("cloud_cover"),
        typedLit(assetPaths.toSeq ++ Seq(qlRow.getString(1))).as("asset_paths"),
        lit("23LLF").as("tile"))
    val item = Publish.assembleItems(staged, fps).cache()
    val row = item.head()
    val bbox = row.getAs[org.apache.spark.sql.Row]("bbox")
    assert((bbox.getDouble(0), bbox.getDouble(1), bbox.getDouble(2), bbox.getDouble(3)) ==
      (0.0, 0.0, 799.0, 799.0), s"golden bbox, got $bbox")
    val hull = row.getAs[Seq[org.apache.spark.sql.Row]]("footprint")
      .map(p => (p.getDouble(0), p.getDouble(1))).toSet
    assert(hull((8.0, 0.0)) && hull((0.0, 8.0)),
      s"the nodata notch corners must be hull vertices, got $hull")
    assert(!hull((0.0, 0.0)), "the nodata corner itself must NOT be in the hull")
    val assets = row.getAs[Map[String, Any]]("assets")
    assert(Set("B04", "B08", "Fmask4", "NDVI").subsetOf(assets.keySet),
      s"asset keys: ${assets.keySet}")

    val json = Publish.stacItemJson(item).select("stac_json").as[String].head()
    assert(json.contains("\"id\":\"" + sceneId + "\""))
    assert(json.contains("\"eo:cloud_cover\":20.0"))
    assert(json.contains("\"geometry\":{\"type\":\"Polygon\""))
    assert(json.contains("__NDVI.tif"))
    assert(json.contains("\"datetime\":\"2020-01-15T10:30:00Z\""))
  }
}
