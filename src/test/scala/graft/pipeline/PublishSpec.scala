package graft.pipeline

import graft.SparkSpec
import graft.expr.Geo
import graft.raster.{RasterTile, SceneIO}
import org.apache.spark.sql.functions._

class PublishSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  test("assets from paths + routing (S12/P8, publish.py:411–472, tasks.py:411–419)") {
    val df = Seq(Seq("p/T1_B04_10m.jp2", "p/T1_B08.jp2", "p/T1_Fmask4.tif")).toDF("paths")
    val assets = df.select(Publish.assetsFromPaths(col("paths")).as("assets"))
    val routed = assets.select(Publish.routeAssets(col("assets")).as("r"))
      .select(map_keys(col("r.bands")).as("bands"), col("r.quality.href").as("q"))
      .head()
    assert(routed.getSeq[String](0).toSet == Set("B04", "B08"))
    assert(routed.getString(1) == "p/T1_Fmask4.tif")
  }

  test("footprint from Sentinel MTD XML (R7, publish.py:159–174)") {
    val xml = """<n1:Level-1C><EXT_POS_LIST>
                | -10.5 -45.25 -10.5 -44.0 -11.0 -44.0 -11.0 -45.25
                |</EXT_POS_LIST></n1:Level-1C>""".stripMargin
    val pts = Seq(xml).toDF("xml")
      .select(Publish.footprintFromXml(col("xml")).as("fp"))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getDouble(1)))
    // x = lon, y = lat
    assert(pts == Seq((-45.25, -10.5), (-44.0, -10.5), (-44.0, -11.0), (-45.25, -11.0)))
  }

  test("UTM zone → EPSG (R8, utils.py:486–522)") {
    val df = Seq((23, false), (33, true)).toDF("zone", "north")
    val got = df.select(Publish.sridForUtmZone(col("zone"), col("north")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(32723, 32633))
  }

  test("assembleItems + idempotent publish (S12, publish.py:575–605)") {
    val tiles = Seq(
      RasterTile("SC1", "B04", 0, 0, 2, 2, -9999.0, Array(1f, 1f, -9999f, 1f)),
      RasterTile("SC1", "B04", 0, 1, 2, 2, -9999.0, Array(1f, -9999f, 1f, -9999f))).toDF()
    val fps = tiles.select(col("scene_id"),
      Geo.tileRowExtremePoints(col("pixels"), col("nodata"), col("height"), col("width"),
        col("window_row"), col("window_col")).as("points"))
    val scenes = Seq(("SC1", 7, "2020-01-10 00:00:00", "2020-01-10 23:59:59", 12.5,
      Seq("p/SC1_B04.jp2"), "23LLF"))
      .toDF("scene_id", "collection_id", "start_date", "end_date", "cloud_cover",
        "asset_paths", "tile")
      .withColumn("start_date", col("start_date").cast("timestamp"))
      .withColumn("end_date", col("end_date").cast("timestamp"))
    val items = Publish.assembleItems(scenes, fps)
    val row = items.head()
    assert(row.getAs[String]("name") == "SC1")
    val bbox = row.getAs[org.apache.spark.sql.Row]("bbox")
    assert(bbox.getDouble(0) == 0.0 && bbox.getDouble(2) == 2.0) // xmin..xmax across both windows
    // idempotent merge: republish updates, not duplicates
    val again = Publish.publishItems(items, items)
    assert(again.count() == 1)
    // STAC export: valid Feature JSON with the reference's fields
    val stac = Publish.stacItemJson(items)
      .select(col("name"), col("stac_json"),
        get_json_object(col("stac_json"), "$.type").as("t"),
        get_json_object(col("stac_json"), "$.id").as("id"),
        get_json_object(col("stac_json"), "$.collection").as("c"),
        get_json_object(col("stac_json"), "$.properties.datetime").as("dt"),
        get_json_object(col("stac_json"), "$['properties']['eo:cloud_cover']").as("cc"),
        get_json_object(col("stac_json"), "$.geometry.type").as("gt"))
      .head()
    assert(stac.getAs[String]("t") == "Feature")
    assert(stac.getAs[String]("id") == "SC1")
    assert(stac.getAs[String]("c") == "7")
    assert(stac.getAs[String]("dt") == "2020-01-10T00:00:00Z")
    assert(stac.getAs[String]("cc") == "12.5")
    assert(stac.getAs[String]("gt") == "Polygon")
    // polygon ring closes: first coordinate pair == last
    val coords = stac.getAs[String]("stac_json")
    val ring = get_json_object(lit(coords), "$.geometry.coordinates[0]")
    val ringStr = spark.range(1).select(ring).head().getString(0)
    val pts = ringStr.stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
    assert(pts.head == pts.last && pts.length >= 4)
  }

  test("S6: Item from HDF4 metadata (hdf.py:38–108) + explicit null geometry in STAC") {
    import graft.sources.Hdf4
    // hand-assembled HDF4 fixture (independent generator): CoreMetadata.0
    // ODL with QAPERCENTCLOUDCOVER=37 and two Var0.0 subdatasets
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/tiny_modis.hdf").toURI))
    assert(Hdf4.isValid(bytes))
    assert(!Hdf4.isValid("not an hdf".getBytes))
    val meta = Hdf4.parse(bytes)
    assert(meta.cloudCover == 37.0)
    assert(meta.subdatasets.map(_.bandName) ==
      Seq("Surface_Reflectance_Band_1", "Surface_Reflectance_Band_2"))
    assert(meta.subdatasets.map(_.dims) == Seq(Seq(4, 6), Seq(2, 3)))

    // real SDS pixel decode: int16 payloads v = row*10+col and 100+i
    val b1 = Hdf4.decodeSds(bytes, meta.subdatasets(0))
    assert(b1.toSeq == (0 until 24).map(i => (i / 6 * 10 + i % 6).toFloat))
    // to_geotiff end-to-end (hdf.py:38-108): per-band tiled GeoTIFF out
    val base = "MOD13Q1.A2020009.h13v10.006.2020026"
    val (tiffs, cc) = Hdf4.toGeoTiff(bytes, base,
      bandMap = Map("Surface_Reflectance_Band_1" -> -28672.0), tileSize = 16)
    assert(cc == 37.0)
    assert(tiffs.map(_._1) == Seq(s"${base}__Surface_Reflectance_Band_1.tif",
      s"${base}__Surface_Reflectance_Band_2.tif"))
    val round = graft.raster.GeoTiff.decode(tiffs.head._2)
    assert(round.main.height == 4 && round.main.width == 6)
    assert(round.main.pixels.toSeq == b1.toSeq)
    assert(round.meta.nodata.contains(-28672.0))

    val files = tiffs.map { case (name, _) => s"out/$name" }
    val scenes = Seq((base, 9, "2020-01-09 00:00:00", "2020-01-09 23:59:59",
        meta.cloudCover, files, "h13v10"))
      .toDF("scene_id", "collection_id", "start_date", "end_date", "cloud_cover",
        "asset_paths", "tile")
      .withColumn("start_date", col("start_date").cast("timestamp"))
      .withColumn("end_date", col("end_date").cast("timestamp"))
    val noFootprints = Seq.empty[(String, Seq[(Double, Double)])]
      .toDF("scene_id", "points")
      .select(col("scene_id"), col("points").cast("array<struct<x:double,y:double>>"))
    val items = Publish.assembleItems(scenes, noFootprints)
    val row = items.head()
    assert(row.getAs[String]("name") == base)
    assert(row.getAs[Double]("cloud_cover") == 37.0)
    assert(row.isNullAt(row.fieldIndex("footprint")))
    // GeoJSON requires the geometry KEY even when null — the export must
    // emit "geometry":null, not drop the field
    val json = Publish.stacItemJson(items).select("stac_json").head().getString(0)
    assert(json.contains("\"geometry\":null"), json)
  }

  test("footprint reprojects from UTM to EPSG:4326 lon/lat (publish.py:272–273)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a Sentinel-ish footprint square in zone 23 south, metres
    val utmPts = Seq((400000.0, 8900000.0), (500000.0, 8900000.0),
      (500000.0, 9000000.0), (400000.0, 9000000.0))
    val df = Seq(Tuple1(utmPts)).toDF("fp")
      .select(col("fp").cast("array<struct<x:double,y:double>>").as("fp"))
    val got = df.select(Publish.footprintToWgs84(col("fp"), lit(23), lit(false)).as("p"))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(got.length == 4)
    got.zip(utmPts).foreach { case (row, (e, n)) =>
      val (lat, lon) = graft.expr.Crs.utmToWgs84(e, n, 23, north = false)
      assert(math.abs(row.getDouble(0) - lon) < 1e-9 && math.abs(row.getDouble(1) - lat) < 1e-9)
    }
    // sanity: southern hemisphere, inside zone 23's longitude band
    assert(got.forall(r => r.getDouble(1) < 0 && r.getDouble(0) > -48 && r.getDouble(0) < -42))
  }

  test("scene tiling round-trips (S5) and quicklook PNG encodes (S10)") {
    val px = Array.tabulate(16 * 16)(i => (i % 7).toFloat * 2000)
    val scene = Seq(("SC2", "B04", 16, 16, -9999.0, px))
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
    val tiles = SceneIO.tileScene(scene, 8, 8)
    assert(tiles.count() == 4)
    val (h, w, out) = SceneIO.assembleScene(tiles, "SC2", "B04")
    assert(h == 16 && w == 16 && out.toSeq == px.toSeq)
    // non-divisible block size → ragged edge tiles
    val ragged = SceneIO.tileScene(scene, 6, 6)
    assert(ragged.count() == 9)
    val (h2, w2, out2) = SceneIO.assembleScene(ragged, "SC2", "B04")
    assert(h2 == 16 && w2 == 16 && out2.toSeq == px.toSeq)
    // quicklook over the tiled scene (all three bands = B04)
    val t3 = tiles.unionByName(tiles.withColumn("band", lit("B03")))
      .unionByName(tiles.withColumn("band", lit("B02")))
    val png = SceneIO.quicklook(t3, "SC2", ("B04", "B03", "B02"), qlH = 32, qlW = 32)
    assert(png.length > 8)
    // PNG magic
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 32 && img.getHeight == 32)
  }

  test("quicklookScenes: distributed PNGs bit-identical to the driver-side path") {
    val dir = java.nio.file.Files.createTempDirectory("ql")
    // two scenes with different sizes AND different per-band resolutions
    def scene(id: String, h: Int, w: Int, seed: Int) = Seq(
      (id, "B04", h, w, -9999.0, Array.tabulate(h * w)(i => ((i + seed) % 11).toFloat * 1500)),
      (id, "B03", h / 2, w / 2, -9999.0, Array.tabulate(h / 2 * (w / 2))(i => ((i + seed) % 7).toFloat * 2200)),
      (id, "B02", h, w, -9999.0, Array.tabulate(h * w)(i => ((i + seed) % 5).toFloat * 3000)))
    val scenes = (scene("QA", 40, 36, 3) ++ scene("QB", 24, 52, 8))
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
    val tiles = SceneIO.tileScene(scenes, 16, 16).repartition(5)

    val manifest = SceneIO.quicklookScenes(tiles, ("B04", "B03", "B02"),
      dir.toString, qlH = 32, qlW = 32).collect()
    assert(manifest.map(_.getString(0)).toSet == Set("QA", "QB"))
    for (sid <- Seq("QA", "QB")) {
      val dist = java.nio.file.Files.readAllBytes(dir.resolve(s"$sid.png"))
      val driver = SceneIO.quicklook(tiles, sid, ("B04", "B03", "B02"), qlH = 32, qlW = 32)
      assert(dist.toSeq == driver.toSeq, s"$sid distributed PNG must equal driver-side PNG")
    }
  }

  test("property: distributed quicklook equals driver path at random ragged dims") {
    import org.scalacheck.Gen
    val cfgGen = for {
      h <- Gen.choose(5, 70)
      w <- Gen.choose(5, 70)
      block <- Gen.oneOf(8, 16, 24)
      ql <- Gen.oneOf(16, 32, 48)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (h, w, block, ql, seed)
    val cases = Iterator.continually(cfgGen.sample).flatten.take(6).toSeq
    for ((h, w, block, ql, seed) <- cases) {
      val rng = new scala.util.Random(seed)
      def band(b: String) = (s"QP$seed", b, h, w, -9999.0,
        Array.fill(h * w)(rng.nextFloat() * 12000f - 1000f))
      val tiles = SceneIO.tileScene(
        Seq(band("B04"), band("B03"), band("B02"))
          .toDF("scene_id", "band", "height", "width", "nodata", "pixels"),
        block, block).repartition(3)
      val dir = java.nio.file.Files.createTempDirectory("qlprop")
      SceneIO.quicklookScenes(tiles, ("B04", "B03", "B02"), dir.toString,
        qlH = ql, qlW = ql).count()
      val dist = java.nio.file.Files.readAllBytes(dir.resolve(s"QP$seed.png"))
      val driver = SceneIO.quicklook(tiles, s"QP$seed", ("B04", "B03", "B02"),
        qlH = ql, qlW = ql)
      assert(dist.toSeq == driver.toSeq, s"($h,$w,$block,$ql,$seed)")
    }
  }

  test("quicklookScenes rejects a non-positive quicklook size on the driver") {
    val tiles = SceneIO.tileScene(Seq(("QZ", "B04", 4, 4, -9999.0, Array.fill(16)(1f)))
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels"), 2, 2)
    val dir = java.nio.file.Files.createTempDirectory("qlsize").toString
    for ((qh, qw) <- Seq((0, 32), (32, 0), (-1, 32), (32, -5))) {
      val e = intercept[IllegalArgumentException](
        SceneIO.quicklookScenes(tiles, ("B04", "B04", "B04"), dir, qlH = qh, qlW = qw))
      assert(e.getMessage.contains("quicklook size"), e.getMessage)
    }
  }

  test("quicklookScenes over two persisted scene reads: ≤ 4 jobs, pixels never shuffle") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // the ingest batch's shape: 4 scenes × 3 bands read in two attempts,
    // each read tiled and persisted, the quicklook over their union
    val root = java.nio.file.Files.createTempDirectory("qljobs")
    val rgb = ("B11", "B08", "B04")
    val groups = Seq(Seq("S1", "S2", "S3"), Seq("S4"))
    val dirs = groups.zipWithIndex.map { case (ids, i) =>
      val d = java.nio.file.Files.createDirectories(root.resolve(s"read$i"))
      for (sid <- ids; (band, k) <- Seq("B04" -> 1, "B08" -> 2, "B11" -> 3)) {
        val px = Array.tabulate(40 * 44)(j => if (j % 13 == 0) -1f else ((j * k + sid.hashCode) % 9000).abs.toFloat)
        java.nio.file.Files.write(d.resolve(s"${sid}__$band.tif"),
          graft.raster.GeoTiff.encode(40, 44, px,
            graft.raster.GeoTiff.GeoMeta(nodata = Some(-1.0)), 16, Nil))
      }
      d.toString
    }
    val cached = dirs.map { d =>
      val t = SceneIO.tileScene(SceneIO.readGeoTiffScenes(spark, d), 16, 16).persist()
      t.count(); t
    }
    try {
      val tiles = cached.reduce(_ unionByName _).filter(col("scene_id").isin(groups.flatten: _*))
      val out = root.resolve("ql").toString
      var manifest: org.apache.spark.sql.DataFrame = null
      val jobs = jobsOf {
        manifest = SceneIO.quicklookScenes(tiles, rgb, out, qlH = 24, qlW = 24)
        assert(manifest.collect().length == 4)
      }
      assert(jobs <= 4, s"quicklookScenes ran $jobs jobs")
      object stages extends AdaptiveSparkPlanHelper
      val plan = manifest.queryExecution.executedPlan
      val withPixels = stages.collect(plan) {
        case e: Exchange if e.child.output.exists(_.name == "pixels") => e
        case s: SortExec if s.child.output.exists(_.name == "pixels") => s
      }
      assert(withPixels.isEmpty, s"pixel rows must never shuffle or sort:\n$plan")
      assert(stages.collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan.toString)
      val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out, "S4.png"))
      assert(png.toSeq == SceneIO.quicklook(tiles, "S4", rgb, qlH = 24, qlW = 24).toSeq)
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  test("external processor: success, failure→RETRY, timeout (X1/X2)") {
    import ExternalProcessor._
    val jobs = spark.createDataset(Seq(
      ProcJob("ok", Seq("0")), ProcJob("fail", Seq("3"))))
    val res = runPerScene(jobs, Seq("sh", "-c", "exit $0"), timeoutSeconds = 30)
      .collect().map(r => r.sceneid -> r).toMap
    assert(res("ok").status == "SUCCESS" && res("ok").exit_code == 0)
    assert(res("fail").status == "RETRY" && res("fail").exit_code == 3)
    val slow = spark.createDataset(Seq(ProcJob("slow", Seq("10"))))
    val tres = runPerScene(slow, Seq("sh", "-c", "sleep $0"), timeoutSeconds = 1)
      .collect().head
    assert(tres.timed_out && tres.status == "RETRY")
  }

  test("version-fallback chain: first success wins; all-fail routes RETRY (processor.py:88-101)") {
    import ExternalProcessor._
    // candidate 0 = a "version" that always fails, candidate 1 = one that
    // exits with the scene's arg — the Sen2Cor 2.10 → 2.8 → 2.5.5 walk
    val chain = Seq(Seq("sh", "-c", "exit 7 #v-new"), Seq("sh", "-c", "exit $0"))
    val jobs = spark.createDataset(Seq(
      ProcJob("recovers", Seq("0")), ProcJob("allfail", Seq("3"))))
    val res = runPerSceneWithFallback(jobs, chain, timeoutSeconds = 30)
      .collect().map(r => r.sceneid -> r).toMap
    assert(res("recovers").status == "SUCCESS" && res("recovers").attempt == 1,
      "the fallback version must win after the first fails")
    // all candidates failed: the LAST attempt's outcome is what routes to
    // retry, exactly like the reference raising with the last error
    assert(res("allfail").status == "RETRY" && res("allfail").attempt == 1 &&
      res("allfail").exit_code == 3)

    // a candidate that HANGS is killed by the timeout and the chain moves on
    val hangFirst = Seq(Seq("sh", "-c", "sleep 30"), Seq("sh", "-c", "exit 0"))
    val h = runPerSceneWithFallback(
        spark.createDataset(Seq(ProcJob("hang", Seq.empty))),
        hangFirst, timeoutSeconds = 1)
      .collect().head
    assert(h.status == "SUCCESS" && h.attempt == 1 && !h.timed_out)

    // first success short-circuits: later candidates never run
    val dir = java.nio.file.Files.createTempDirectory("graft-chain").toString
    val marking = Seq(Seq("sh", "-c", "exit 0"),
      Seq("sh", "-c", s"touch $dir/ran_second; exit 0"))
    val quick = runPerSceneWithFallback(
        spark.createDataset(Seq(ProcJob("quick", Seq.empty))),
        marking, timeoutSeconds = 30)
      .collect().head
    assert(quick.status == "SUCCESS" && quick.attempt == 0)
    assert(!new java.io.File(dir, "ran_second").exists(),
      "winning early must short-circuit the remaining versions")
  }
}
