package graft

import graft.pipeline.Publish
import graft.raster.{GeoTiff, RasterKernels, SceneIO}
import graft.sources.{ArchiveFunctions, FixtureCatalogServer, HttpCatalogProvider, RemoteCatalog}
import org.apache.spark.sql.functions._
import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

/** The radcor ingest path again (§3.1), but this time through the REAL
  * physical layers end to end — every byte that moves is a genuine wire or
  * container format, no in-memory stand-ins:
  *
  *   HTTP catalog search with pushed-down predicates as query params
  *   (collect.py:80–137) → per-scene HTTP zip download on executors →
  *   archive validity + SAFE extraction (utils.py:94–101) → pure-JVM
  *   GeoTIFF decode (utils.py:335–342) → tiling → native band-math NDVI
  *   (index_generator.py:58–149) → tiled-deflate GeoTIFF out with overview
  *   pages (cog_translate utils.py:113–154, build_overviews :381–401) →
  *   STAC item JSON (publish.py:575–605).
  *
  * The catalog/download side runs against a loopback replay server, so the
  * spec is zero-egress while still exercising URL building, query-string
  * encoding, HTTP transfer and response parsing for real.
  */
class PhysicalIngestEndToEndSpec extends SparkSpec {
  import spark.implicits._

  private def zipOf(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (n, b) =>
      z.putNextEntry(new ZipEntry(n)); z.write(b); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  test("wire-to-STAC: HTTP search → zip download → GeoTIFF decode → NDVI → COG → item") {
    val sceneId = "S2X_T23LLF_0007"
    val (h, w) = (32, 40)
    val b04 = Array.tabulate(h * w)(i => 2000f + (i % 5))
    val b08 = Array.tabulate(h * w)(i => 4000f + (i % 7))
    val geo = GeoTiff.GeoMeta(pixelScale = Some((10.0, 10.0)),
      tiepoint = Some((600000.0, 8100000.0)), epsg = Some(32723),
      nodata = Some(-9999.0))
    val archive = zipOf(Seq(
      s"$sceneId.SAFE/GRANULE/IMG_DATA/${sceneId}_B04.tif" ->
        GeoTiff.encode(h, w, b04, geo, 16, Nil),
      s"$sceneId.SAFE/GRANULE/IMG_DATA/${sceneId}_B08.tif" ->
        GeoTiff.encode(h, w, b08, geo, 16, Nil)))

    val records = Seq(
      RemoteCatalog.SceneRecord(sceneId, "S2_MSI_L1C", 12.5,
        1579046400000000L, s"{base}/download/$sceneId"),
      RemoteCatalog.SceneRecord("S2X_T23LLF_0008", "S2_MSI_L1C", 93.0,
        1579132800000000L, "{base}/download/S2X_T23LLF_0008"))
    val catalog = new FixtureCatalogServer(records, Map(sceneId -> archive))
    try {
      // 1. search over the wire; cloud ceiling travels as a query param
      RemoteCatalog.register("e2e-http", HttpCatalogProvider.searchFn(catalog.baseUrl))
      val found = spark.read.format("remote_catalog")
        .option("provider", "e2e-http").load()
        .filter(col("dataset") === "S2_MSI_L1C" && col("cloud_cover") <= 50.0)
      assert(found.select("scene_id").as[String].collect().toSeq == Seq(sceneId))
      assert(catalog.queries.exists(q =>
        q.contains("max_cloud=50") && q.contains("dataset=S2_MSI_L1C")),
        s"pushed predicates must reach the wire, got ${catalog.queries}")

      // 2. download on EXECUTORS — one HTTP GET per scene row
      val fetch = udf((link: String) => {
        val in = new java.net.URI(link).toURL.openStream()
        try in.readAllBytes() finally in.close()
      })
      val downloaded = found
        .select(col("scene_id"), fetch(col("link")).as("content"))
        .withColumn("valid", ArchiveFunctions.isValidZipUdf(col("content")))
        .cache()
      assert(downloaded.filter(!col("valid")).isEmpty)
      assert(catalog.downloads.contains(sceneId))

      // 3. SAFE extraction: explode entries, recover the internal name
      val entries = downloaded
        .select(col("scene_id"), ArchiveFunctions.explodeArchive(col("content")).as("e"))
        .select(col("scene_id"), col("e._1").as("name"), col("e._2").as("bytes"))
      val names = entries.select("name").as[String].collect().toSeq
      assert(ArchiveFunctions.internalName(names).contains(s"$sceneId.SAFE"))

      // 4. decode the container format on executors → scene-band rows
      val scenes = entries.filter(col("name").endsWith(".tif"))
        .select(col("scene_id"), col("name"), col("bytes"))
        .as[(String, String, Array[Byte])]
        .map { case (sid, n, b) =>
          val stem = n.substring(n.lastIndexOf('/') + 1).stripSuffix(".tif")
          val band = stem.substring(stem.lastIndexOf('_') + 1)
          val img = GeoTiff.decode(b)
          (sid, band, img.main.height, img.main.width,
            img.meta.nodata.map(_.toFloat).getOrElse(0f), img.main.pixels)
        }
        .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
      val tiles = SceneIO.tileScene(scenes, 16, 16)

      // 5. derived band through the native expression compiler
      val ndvi = RasterKernels.bandMath(RasterKernels.pivotBands(tiles),
        "10000. * ((B08 - B04) / (B08 + B04))", "NDVI", -9999.0, -10000.0, 10000.0)

      // 6. real COG-shaped GeoTIFF out, then read our own output back
      val outDir = Files.createTempDirectory("ingest-e2e")
      SceneIO.writeGeoTiffScenes(
        ndvi.filter(col("scene_id") === sceneId && col("band") === "NDVI"), outDir.toString,
        geo, tileSize = 16, overviewFactors = Seq(2, 4)).collect()
      val cog = outDir.resolve(s"${sceneId}__NDVI.tif")
      val back = GeoTiff.decode(Files.readAllBytes(cog))
      assert(back.main.height == h && back.main.width == w)
      val expect0 = 10000f * (b08(0) - b04(0)) / (b08(0) + b04(0))
      assert(math.abs(back.main.pixels(0) - expect0) < 0.5)
      assert(back.overviews.map(o => (o.height, o.width)) == Seq((16, 20), (8, 10)))
      assert(back.meta.epsg.contains(32723) && back.meta.nodata.contains(-9999.0))

      // 7. publish: footprint from valid pixels → STAC Feature JSON
      val fps = tiles.filter(col("band") === "B04").select(col("scene_id"),
        graft.expr.Geo.tileRowExtremePoints(col("pixels"), col("nodata"),
          col("height"), col("width"), col("window_row"), col("window_col")).as("points"))
      val staged = found.select(
        col("scene_id"),
        lit(7).as("collection_id"),
        col("sensing_date").as("start_date"),
        col("sensing_date").as("end_date"),
        col("cloud_cover"),
        array(lit(cog.toString)).as("asset_paths"),
        lit("23LLF").as("tile"))
      val item = Publish.assembleItems(staged, fps)
      val json = Publish.stacItemJson(item).select("stac_json").as[String].head()
      assert(json.contains("\"id\":\"" + sceneId + "\""))
      assert(json.contains("\"eo:cloud_cover\":12.5"))
      assert(json.contains("\"geometry\":{\"type\":\"Polygon\""))
      assert(json.contains("NDVI.tif"))
    } finally catalog.stop()
  }
}
