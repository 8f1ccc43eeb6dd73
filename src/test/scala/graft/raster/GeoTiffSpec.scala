package graft.raster

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class GeoTiffSpec extends SparkSpec {
  import spark.implicits._

  test("decodes the checked-in fixture (big-endian, stripped, deflate, int16)") {
    // tiny_scene_B1.tif was hand-assembled byte-by-byte by an independent
    // generator (not this codec): MM byte order, one deflate strip of
    // signed 16-bit samples v = row*10 + col on a 4×6 grid, with
    // ModelPixelScale/Tiepoint, EPSG 32633 GeoKeys and GDAL nodata -32768.
    val bytes = Files.readAllBytes(Paths.get(
      getClass.getResource("/tiny_scene_B1.tif").toURI))
    val img = GeoTiff.decode(bytes)
    assert(img.pages.length == 1 && !img.main.isOverview)
    assert(img.main.height == 4 && img.main.width == 6)
    val expected = Array.tabulate(4 * 6)(i => (i / 6 * 10 + i % 6).toFloat)
    assert(img.main.pixels.toSeq == expected.toSeq)
    assert(img.meta.pixelScale.contains((30.0, 30.0)))
    assert(img.meta.tiepoint.contains((500000.0, 7300000.0)))
    assert(img.meta.epsg.contains(32633))
    assert(img.meta.nodata.contains(-32768.0))
  }

  test("decodes every supported sample type (independent big-endian writer)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // minimal single-strip uncompressed big-endian TIFF — a layout the
    // encoder never produces, written tag-by-tag here so the reader is
    // checked against the spec, not against its own writer
    def miniTiff(h: Int, w: Int, bits: Int, fmt: Int)
                (put: (ByteBuffer, Int, Int) => Unit): Array[Byte] = {
      val bps = bits / 8
      val nTags = 9
      val ifdOfs = 8
      val dataOfs = ifdOfs + 2 + nTags * 12 + 4
      val b = ByteBuffer.allocate(dataOfs + h * w * bps).order(ByteOrder.BIG_ENDIAN)
      b.put('M'.toByte).put('M'.toByte).putShort(42).putInt(ifdOfs)
      b.putShort(ifdOfs, nTags.toShort)
      def tag(i: Int, t: Int, typ: Int, v: Int): Unit = {
        val e = ifdOfs + 2 + 12 * i
        b.putShort(e, t.toShort); b.putShort(e + 2, typ.toShort); b.putInt(e + 4, 1)
        if (typ == 3) b.putShort(e + 8, v.toShort) else b.putInt(e + 8, v)
      }
      tag(0, 256, 4, w); tag(1, 257, 4, h); tag(2, 258, 3, bits)
      tag(3, 259, 3, 1); tag(4, 273, 4, dataOfs); tag(5, 277, 3, 1)
      tag(6, 278, 4, h); tag(7, 279, 4, h * w * bps); tag(8, 339, 3, fmt)
      b.putInt(ifdOfs + 2 + nTags * 12, 0)
      for (i <- 0 until h * w) put(b, dataOfs + i * bps, i)
      b.array()
    }
    val (h, w) = (2, 3)
    val u8 = GeoTiff.decode(miniTiff(h, w, 8, 1)((b, p, i) =>
      b.put(p, (if (i == 5) 255 else i * 40).toByte)))
    assert(u8.main.pixels.toSeq == Seq(0f, 40f, 80f, 120f, 160f, 255f))
    val u16 = GeoTiff.decode(miniTiff(h, w, 16, 1)((b, p, i) =>
      b.putShort(p, (if (i == 5) 65535 else i * 12000).toShort)))
    assert(u16.main.pixels.toSeq == Seq(0f, 12000f, 24000f, 36000f, 48000f, 65535f))
    val i32 = GeoTiff.decode(miniTiff(h, w, 32, 2)((b, p, i) =>
      b.putInt(p, i * 1000 - 2500)))
    assert(i32.main.pixels.toSeq == Seq(-2500f, -1500f, -500f, 500f, 1500f, 2500f))
    val u32 = GeoTiff.decode(miniTiff(h, w, 32, 1)((b, p, i) =>
      b.putInt(p, if (i == 5) 0xffffffff else i)))
    assert(u32.main.pixels.toSeq == Seq(0f, 1f, 2f, 3f, 4f, 4294967295L.toFloat))
    val f64 = GeoTiff.decode(miniTiff(h, w, 64, 3)((b, p, i) =>
      b.putDouble(p, i * 1.25 - 2.5)))
    assert(f64.main.pixels.toSeq == Seq(-2.5f, -1.25f, 0f, 1.25f, 2.5f, 3.75f))
  }

  test("property: encode → decode round-trips bit-exactly for random shapes and special floats") {
    import org.scalacheck.Gen
    val shapeGen = for {
      h <- Gen.choose(1, 90)
      w <- Gen.choose(1, 90)
      tile <- Gen.oneOf(16, 32, 48)
      epsg <- Gen.option(Gen.choose(2000, 32760))
      nodata <- Gen.option(Gen.oneOf(-9999.0, 0.0, 255.0))
      container <- Gen.oneOf("classic", "bigtiff", "auto")
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (h, w, tile, epsg, nodata, container, seed)
    val specials = Array(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f, Float.MinPositiveValue, Float.MaxValue, -Float.MaxValue)
    val cases = Iterator.continually(shapeGen.sample).flatten.take(25).toSeq
    for ((h, w, tile, epsg, nodata, container, seed) <- cases) {
      val rng = new scala.util.Random(seed)
      val px = Array.tabulate(h * w) { i =>
        if (i % 11 == 0) specials(rng.nextInt(specials.length))
        else rng.nextFloat() * 2e4f - 1e4f
      }
      val meta = GeoTiff.GeoMeta(epsg = epsg, nodata = nodata)
      val bytes = GeoTiff.encode(h, w, px, meta, tile, Seq(2, 4),
        container = container)
      assert((bytes(2) & 0xff) == (if (container == "bigtiff") 43 else 42),
        s"container magic for $container")
      val img = GeoTiff.decode(bytes)
      assert(img.main.height == h && img.main.width == w, s"dims for ($h,$w,$tile)")
      // bit-level compare: NaN payloads, signed zero and infinities must
      // survive — toSeq equality would treat NaN != NaN
      val same = img.main.pixels.zip(px).forall { case (a, b) =>
        java.lang.Float.floatToRawIntBits(a) == java.lang.Float.floatToRawIntBits(b)
      }
      assert(same, s"payload must be bit-exact for ($h,$w,$tile,$seed)")
      assert(img.meta.epsg == epsg && img.meta.nodata == nodata)
      val expectOv = Seq(2, 4).filter(f => h / f >= 1 && w / f >= 1)
        .map(f => (h / f, w / f))
      assert(img.overviews.map(o => (o.height, o.width)) == expectOv)
    }
  }

  test("encode → decode round-trips pixels, meta and the overview pyramid") {
    val (h, w) = (100, 75) // ragged against 16×16 tiles
    val px = Array.tabulate(h * w)(i => (math.sin(i * 0.37) * 1000).toFloat)
    val meta = GeoTiff.GeoMeta(
      pixelScale = Some((10.0, 10.0)), tiepoint = Some((600000.0, 8100000.0)),
      epsg = Some(4326), nodata = Some(-9999.0))
    val bytes = GeoTiff.encode(h, w, px, meta, tileSize = 16,
      overviewFactors = Seq(2, 4, 8, 16, 32, 64))
    val img = GeoTiff.decode(bytes)
    assert(img.main.height == h && img.main.width == w)
    assert(img.main.pixels.toSeq == px.toSeq, "float32 payload must be bit-exact")
    assert(img.meta == meta)
    // factors 2..64 all keep both dims >= 1 pixel here
    assert(img.overviews.map(o => (o.height, o.width)) ==
      Seq((50, 37), (25, 18), (12, 9), (6, 4), (3, 2), (1, 1)))
    // overview content is the nearest-neighbour reduction of the main page
    val o2 = img.overviews.head
    val expect2 = Array.tabulate(50 * 37)(i => px((i / 37) * 2 * w + (i % 37) * 2))
    assert(o2.pixels.toSeq == expect2.toSeq)
  }

  test("integer dtype write (i16/u16/u8): clamp+truncate matches the reference publish path, round-trips") {
    // reference index_generator.py:109-136: clamp to dtype min/max, then
    // numpy astype (truncate toward zero); utils.py:381-401 writes the
    // int16 COG container. Values straddle the bounds deliberately.
    val (h, w) = (20, 17) // ragged against 16x16 tiles
    val px = Array.tabulate(h * w) { i =>
      i match {
        case 0 => 40000.5f   // above i16 max → clamps to 32767
        case 1 => -40000.5f  // below i16 min → clamps to -32768
        case 2 => 123.9f     // truncates toward zero → 123
        case 3 => -123.9f    // truncates toward zero → -123
        case 4 => Float.NaN  // masked → nodata
        case n => (n * 7 % 1000 - 500).toFloat
      }
    }
    val meta = GeoTiff.GeoMeta(nodata = Some(-9999.0))
    val i16 = GeoTiff.decode(GeoTiff.encode(h, w, px, meta, tileSize = 16,
      overviewFactors = Seq(2), dtype = "i16"))
    assert(i16.main.height == h && i16.main.width == w)
    val expI16 = px.map {
      case v if java.lang.Float.isNaN(v) => -9999f
      case v => math.max(-32768.0, math.min(32767.0, v.toDouble)).toLong.toFloat
    }
    assert(i16.main.pixels.toSeq == expI16.toSeq, "i16 clamp+truncate round trip")
    assert(i16.meta == meta, "geo meta survives the integer container")
    assert(i16.overviews.nonEmpty, "overview pyramid present in i16 container")
    // the R10 engine-side clamp and the container clamp agree (same bounds,
    // same inner values) — publish parity between plan and file
    val clamped = Seq(40000.5, -40000.5, 123.9).toDF("v")
      .select(graft.expr.BandExpressionCompiler.clamp(col("v"), -32768, 32767).as("c"))
      .collect().map(_.getDouble(0))
    assert(clamped.map(_.toLong.toFloat).toSeq == expI16.take(3).toSeq)
    val u8 = GeoTiff.decode(GeoTiff.encode(h, w, px, GeoTiff.GeoMeta(nodata = Some(0.0)),
      tileSize = 16, overviewFactors = Nil, dtype = "u8"))
    val expU8 = px.map {
      case v if java.lang.Float.isNaN(v) => 0f
      case v => math.max(0.0, math.min(255.0, v.toDouble)).toLong.toFloat
    }
    assert(u8.main.pixels.toSeq == expU8.toSeq, "u8 clamp+truncate round trip")
    val u16 = GeoTiff.decode(GeoTiff.encode(h, w, px, meta, tileSize = 16,
      overviewFactors = Nil, dtype = "u16"))
    val expU16 = px.map {
      case v if java.lang.Float.isNaN(v) => 0f // -9999 clamps to 0 in u16
      case v => math.max(0.0, math.min(65535.0, v.toDouble)).toLong.toFloat
    }
    assert(u16.main.pixels.toSeq == expU16.toSeq, "u16 clamp+truncate round trip")
  }

  test("writeGeoTiffScenes(dtype=i16): distributed integer export re-reads with clamped values") {
    val dir = Files.createTempDirectory("gtiffi16")
    val (h, w) = (24, 18)
    val px = Array.tabulate(h * w)(i => (i * 31 % 70000 - 35000).toFloat)
    val tiles = SceneIO.tileScene(
      Seq(("sceneI", "B03", h, w, -9999f, px)).toDF(
        "scene_id", "band", "height", "width", "nodata", "pixels"), 16, 16)
    SceneIO.writeGeoTiffScenes(tiles, dir.toString, tileSize = 16,
      overviewFactors = Nil, dtype = "i16").count()
    val back = SceneIO.readGeoTiffScenes(spark, dir.toString)
      .filter(col("scene_id") === "sceneI" && col("band") === "B03")
      .select("height", "width", "pixels").head()
    assert(back.getInt(0) == h && back.getInt(1) == w)
    val exp = px.map(v => math.max(-32768.0, math.min(32767.0, v.toDouble)).toLong.toFloat)
    assert(back.getSeq[Float](2) == exp.toSeq)
  }

  test("readGeoTiffScenes → tileScene → bandMath runs distributed over real files") {
    val dir = Files.createTempDirectory("gtiff")
    val (h, w) = (20, 24)
    val b08 = Array.tabulate(h * w)(i => 4000f + (i % 7))
    val b04 = Array.tabulate(h * w)(i => 2000f + (i % 5))
    val meta = GeoTiff.GeoMeta(nodata = Some(-9999.0))
    Files.write(dir.resolve("sceneG_B08.tif"), GeoTiff.encode(h, w, b08, meta, 16, Nil))
    Files.write(dir.resolve("sceneG_B04.tif"), GeoTiff.encode(h, w, b04, meta, 16, Nil))

    val scenes = SceneIO.readGeoTiffScenes(spark, dir.toString)
    val rows = scenes.select("scene_id", "band", "height", "width", "nodata").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("sceneG", "B08"), ("sceneG", "B04")))
    assert(rows.forall(r => r.getInt(2) == h && r.getInt(3) == w && r.getFloat(4) == -9999f))

    val piv = RasterKernels.pivotBands(SceneIO.tileScene(scenes, 8, 8))
    val ndvi = RasterKernels.bandMath(piv, "10000. * ((B08 - B04) / (B08 + B04))",
      "NDVI", -9999.0, -10000.0, 10000.0)
    val (ah, aw, out) = SceneIO.assembleScene(ndvi, "sceneG", "NDVI")
    assert(ah == h && aw == w)
    val i0 = 0 // pixel 0: (4000-2000)/(4000+2000)
    assert(math.abs(out(i0) - 10000.0 * (b08(i0) - b04(i0)) / (b08(i0) + b04(i0))) < 0.5)
    assert(out.forall(v => v > 2000 && v < 4500), "all NDVI values in expected range")

    // distributed windowed read: every row carries the window's dims and
    // exactly the cropped pixels of its file
    val winScenes = SceneIO.readGeoTiffScenes(spark, dir.toString,
      window = Some((5, 3, 10, 8)))
    val winRows = winScenes.collect()
    assert(winRows.length == 2)
    for (r <- winRows) {
      assert(r.getAs[Int]("height") == 8 && r.getAs[Int]("width") == 10)
      val full = if (r.getAs[String]("band") == "B08") b08 else b04
      val got = r.getAs[scala.collection.Seq[Float]]("pixels")
      for (y <- 0 until 8; x <- 0 until 10)
        assert(got(y * 10 + x) == full((3 + y) * w + 5 + x),
          s"band ${r.getAs[String]("band")} window pixel ($y,$x)")
    }
  }

  test("writeGeoTiffScenes: distributed fan-out writes every (scene, band) from executors") {
    val dir = Files.createTempDirectory("gtiffdist")
    val (h, w) = (48, 40)
    val scenes = Seq(
      ("sceneA", "B02", h, w, -9999f, Array.tabulate(h * w)(_.toFloat)),
      ("sceneA", "B03", h, w, -9999f, Array.tabulate(h * w)(i => (2 * i).toFloat)),
      ("sceneB", "B02", h, w, -1f, Array.tabulate(h * w)(i => (i % 97).toFloat)))
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
    val tiles = SceneIO.tileScene(scenes, 16, 16).repartition(4) // tiles scattered
    val manifest = SceneIO.writeGeoTiffScenes(tiles, dir.toString,
      tileSize = 16, overviewFactors = Seq(2)).collect()
    assert(manifest.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("sceneA", "B02"), ("sceneA", "B03"), ("sceneB", "B02")))
    manifest.foreach { r =>
      val img = GeoTiff.decode(Files.readAllBytes(
        dir.resolve(s"${r.getString(0)}__${r.getString(1)}.tif")))
      assert(img.main.height == h && img.main.width == w)
      assert(img.overviews.map(o => (o.height, o.width)) == Seq((24, 20)))
      assert(r.getString(2).endsWith(s"${r.getString(0)}__${r.getString(1)}.tif"))
      assert(r.getLong(3) > 0)
    }
    // pixels round-trip exactly, nodata comes from the tile rows
    val a2 = GeoTiff.decode(Files.readAllBytes(dir.resolve("sceneA__B02.tif")))
    assert(a2.main.pixels.toSeq == Array.tabulate(h * w)(_.toFloat).toSeq)
    assert(a2.meta.nodata.contains(-9999.0))
    val b2 = GeoTiff.decode(Files.readAllBytes(dir.resolve("sceneB__B02.tif")))
    assert(b2.meta.nodata.contains(-1.0))

    // the LZW write path round-trips through the distributed reader too
    val lzwDir = Files.createTempDirectory("gtiffdistlzw")
    SceneIO.writeGeoTiffScenes(tiles, lzwDir.toString,
      tileSize = 16, overviewFactors = Nil, codec = "lzw").collect()
    val back = SceneIO.readGeoTiffScenes(spark, lzwDir.toString)
      .filter(col("scene_id") === "sceneA" && col("band") === "B02")
      .select(col("pixels")).head().getSeq[Float](0)
    assert(back == Array.tabulate(h * w)(_.toFloat).toSeq)
  }

  test("convertHdfScenes: distributed HDF4 → GeoTIFF conversion over real files") {
    val inDir = Files.createTempDirectory("hdfin")
    val outDir = Files.createTempDirectory("hdfout")
    val bytes = Files.readAllBytes(Paths.get(
      getClass.getResource("/tiny_modis.hdf").toURI))
    Files.write(inDir.resolve("MOD13Q1.A2020009.h13v10.006.hdf"), bytes)
    Files.write(inDir.resolve("MOD13Q1.A2020025.h13v10.006.hdf"), bytes)

    val manifest = SceneIO.convertHdfScenes(spark, inDir.toString, outDir.toString,
      bandNodata = Map("Surface_Reflectance_Band_1" -> -28672.0), tileSize = 16)
      .collect()
    assert(manifest.length == 4) // 2 granules × 2 subdatasets
    assert(manifest.map(_.getString(0)).toSet ==
      Set("MOD13Q1.A2020009.h13v10.006", "MOD13Q1.A2020025.h13v10.006"))
    assert(manifest.map(_.getString(1)).toSet ==
      Set("Surface_Reflectance_Band_1", "Surface_Reflectance_Band_2"))
    assert(manifest.forall(_.getDouble(4) == 37.0))

    val b1 = GeoTiff.decode(Files.readAllBytes(
      outDir.resolve("MOD13Q1.A2020009.h13v10.006__Surface_Reflectance_Band_1.tif")))
    assert(b1.main.height == 4 && b1.main.width == 6)
    assert(b1.main.pixels.toSeq == (0 until 24).map(i => (i / 6 * 10 + i % 6).toFloat))
    assert(b1.meta.nodata.contains(-28672.0))

    // the S6→S5 flow: re-scanning the converted directory reconstructs the
    // same (granule, band) identity — band names carry underscores, so the
    // "__" separator is load-bearing here
    val rescanned = SceneIO.readGeoTiffScenes(spark, outDir.toString)
      .select("scene_id", "band").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rescanned == manifest.map(r => (r.getString(0), r.getString(1))).toSet)
  }

  test("writeGeoTiffScenes exports one band to a COG that re-reads identically") {
    val dir = Files.createTempDirectory("gtiffw")
    val (h, w) = (64, 64)
    val px = Array.tabulate(h * w)(_.toFloat)
    val scene = Seq(("sceneW", "B02", h, w, -1f, px), ("sceneW", "B03", h, w, -2f, px))
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
    val tiles = SceneIO.tileScene(scene, 16, 16)
    val manifest = SceneIO.writeGeoTiffScenes(
      tiles.filter(col("scene_id") === "sceneW" && col("band") === "B02"), dir.toString,
      GeoTiff.GeoMeta(epsg = Some(32633)), tileSize = 16, overviewFactors = Seq(2, 4))
      .select("band").as[String].collect()
    assert(manifest.toSeq == Seq("B02"))
    val img = GeoTiff.decode(Files.readAllBytes(dir.resolve("sceneW__B02.tif")))
    assert(img.main.pixels.toSeq == px.toSeq)
    assert(img.meta.epsg.contains(32633))
    assert(img.meta.nodata.contains(-1.0), "nodata inferred from the tile rows")
    assert(img.overviews.map(o => (o.height, o.width)) == Seq((32, 32), (16, 16)))
  }

  test("windowed COG read: any window equals full-decode-then-crop, incl. overview levels") {
    // the Cloud-Optimized-GeoTIFF contract (the reference's S5
    // `ds.read(1, window=w)` on the COG side): only intersecting tiles
    // decode, window coordinates live in the selected level's pixel grid
    val (h, w) = (80, 112)
    val rng = new scala.util.Random(7L)
    val px = Array.tabulate(h * w)(_ => rng.nextFloat() * 2e4f - 1e4f)
    val meta = GeoTiff.GeoMeta(epsg = Some(32633), nodata = Some(-9999.0))
    for (container <- Seq("classic", "bigtiff")) {
      val bytes = GeoTiff.encode(h, w, px, meta, 32, Seq(2, 4), container = container)
      val full = GeoTiff.decode(bytes)
      var seed = 0x9E3779B97F4A7C15L
      def next(n: Int): Int = {
        seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
        (((seed >>> 33) % n).toInt + n) % n
      }
      for (_ <- 0 until 25) {
        val x0 = next(w); val y0 = next(h)
        val ww = 1 + next(w - x0); val wh = 1 + next(h - y0)
        val win = GeoTiff.decodeWindow(bytes, x0, y0, ww, wh)
        assert(win.pages.head.height == wh && win.pages.head.width == ww)
        assert(win.meta.epsg.contains(32633), "window read keeps the main page's geo meta")
        for (r <- 0 until wh; c <- 0 until ww)
          assert(java.lang.Float.floatToRawIntBits(win.pages.head.pixels(r * ww + c)) ==
            java.lang.Float.floatToRawIntBits(full.main.pixels((y0 + r) * w + x0 + c)),
            s"$container window ($x0,$y0,$ww,$wh) pixel ($r,$c)")
      }
      // overview-level window: coordinates in the overview's grid
      for ((lvl, ov) <- Seq((1, full.overviews(0)), (2, full.overviews(1)))) {
        val win = GeoTiff.decodeWindow(bytes, 3, 5, ov.width - 6, ov.height - 7, level = lvl)
        for (r <- 0 until ov.height - 7; c <- 0 until ov.width - 6)
          assert(win.pages.head.pixels(r * (ov.width - 6) + c) ==
            ov.pixels((5 + r) * ov.width + 3 + c), s"level $lvl pixel ($r,$c)")
        // decodeLevel = the full page without paying the other levels
        val one = GeoTiff.decodeLevel(bytes, lvl).pages.head
        assert(one.height == ov.height && one.width == ov.width &&
          one.pixels.toSeq == ov.pixels.toSeq, s"decodeLevel($lvl)")
      }
    }
    // stripped layout (no tile tags) takes the strip-pruned path
    val stripped = imageIoTiff(48, 64, grayPixels(48, 64, 3L), "LZW")
    val fullS = GeoTiff.decode(stripped)
    val winS = GeoTiff.decodeWindow(stripped, 10, 17, 30, 20)
    for (r <- 0 until 20; c <- 0 until 30)
      assert(winS.pages.head.pixels(r * 30 + c) == fullS.main.pixels((17 + r) * 64 + 10 + c))
  }

  test("windowed COG read never touches disjoint tiles' bytes (pruning proof)") {
    // corrupt every tile segment except the window's own: the windowed
    // read still decodes bit-exactly while a full decode dies in inflate —
    // proving disjoint segments are never decompressed (with range reads,
    // never even fetched)
    val (h, w) = (64, 64)
    val px = Array.tabulate(h * w)(_.toFloat)
    val bytes = GeoTiff.encode(h, w, px, GeoTiff.GeoMeta(), 16, Nil, container = "classic")
    val full = GeoTiff.decode(bytes)
    val buf = java.nio.ByteBuffer.wrap(bytes).order(
      if (bytes(0) == 'I') java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    // classic TIFF: walk the first IFD for TileOffsets(324)/TileByteCounts(325)
    val ifd = buf.getInt(4)
    val n = buf.getShort(ifd) & 0xffff
    var offsets: Array[Int] = null; var counts: Array[Int] = null
    for (i <- 0 until n) {
      val e = ifd + 2 + 12 * i
      val tag = buf.getShort(e) & 0xffff
      val cnt = buf.getInt(e + 4)
      if (tag == 324 || tag == 325) {
        val base = if (cnt <= 1) e + 8 else buf.getInt(e + 8)
        val vals = Array.tabulate(cnt)(j => buf.getInt(base + 4 * j))
        if (tag == 324) offsets = vals else counts = vals
      }
    }
    assert(offsets != null && offsets.length == 16, "expected a 4x4 tile grid")
    val corrupted = bytes.clone()
    for (i <- offsets.indices if i != 0) // keep only tile (0,0) intact
      for (j <- 0 until counts(i))
        corrupted(offsets(i) + j) = (corrupted(offsets(i) + j) ^ 0xFF).toByte
    intercept[Exception](GeoTiff.decode(corrupted))
    val win = GeoTiff.decodeWindow(corrupted, 2, 3, 12, 10)
    for (r <- 0 until 10; c <- 0 until 12)
      assert(win.pages.head.pixels(r * 12 + c) == full.main.pixels((3 + r) * w + 2 + c))
  }

  // ------------------------------------------------- LZW / PackBits codecs

  /** Deterministic 8-bit gray test image with runs (PackBits-friendly),
    * gradients and noise (forces the LZW dictionary through every code
    * width and at least one table clear at this size). */
  private def grayPixels(h: Int, w: Int, seed: Long): Array[Byte] = {
    val rng = new scala.util.Random(seed)
    Array.tabulate(h * w) { i =>
      val (r, c) = (i / w, i % w)
      if (r % 7 == 0) (r % 251).toByte            // constant rows → runs
      else if (r % 7 < 4) ((r + c) % 251).toByte  // gradient
      else rng.nextInt(256).toByte                 // noise
    }
  }

  private def imageIoTiff(h: Int, w: Int, px: Array[Byte], compression: String): Array[Byte] = {
    import javax.imageio.{ImageIO, ImageWriteParam}
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, px)
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType(compression)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("LZW conformance: decodes what the JDK ImageIO TIFF writer produces") {
    // 240×250 = 60 000 noisy bytes push the dictionary through the
    // 511/1023/2047 width changes and past 4094 (table clear) — the
    // error-prone parts of TIFF LZW ("early change"), pinned here against
    // an independent implementation rather than this codec's own writer
    val (h, w) = (240, 250)
    val px = grayPixels(h, w, seed = 7)
    val img = GeoTiff.decode(imageIoTiff(h, w, px, "LZW"))
    assert(img.main.height == h && img.main.width == w)
    assert(img.main.pixels.toSeq == px.map(b => (b & 0xff).toFloat).toSeq)
  }

  test("PackBits conformance: decodes what the JDK ImageIO TIFF writer produces") {
    val (h, w) = (60, 80)
    val px = grayPixels(h, w, seed = 11)
    val img = GeoTiff.decode(imageIoTiff(h, w, px, "PackBits"))
    assert(img.main.pixels.toSeq == px.map(b => (b & 0xff).toFloat).toSeq)
  }

  test("LZW conformance: the JDK ImageIO TIFF reader decodes what this codec writes") {
    // the reverse direction: our LZW-compressed float32 COG layout is
    // rebuilt as a minimal 8-bit stripped TIFF (ImageIO's gray model) so
    // the JDK plugin can read our encoder's bit stream
    import java.nio.{ByteBuffer, ByteOrder}
    val (h, w) = (240, 250)
    val px = grayPixels(h, w, seed = 13)
    val strip = GeoTiff.lzwEncode(px)
    val nTags = 9
    val ifdOfs = 8
    val dataOfs = ifdOfs + 2 + nTags * 12 + 4
    val b = ByteBuffer.allocate(dataOfs + strip.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOfs)
    b.putShort(ifdOfs, nTags.toShort)
    def tag(i: Int, t: Int, typ: Int, v: Int): Unit = {
      val e = ifdOfs + 2 + 12 * i
      b.putShort(e, t.toShort); b.putShort(e + 2, typ.toShort); b.putInt(e + 4, 1)
      if (typ == 3) b.putShort(e + 8, v.toShort) else b.putInt(e + 8, v)
    }
    tag(0, 256, 4, w); tag(1, 257, 4, h); tag(2, 258, 3, 8)
    tag(3, 259, 3, 5); tag(4, 262, 3, 1); tag(5, 273, 4, dataOfs)
    tag(6, 277, 3, 1); tag(7, 278, 4, h); tag(8, 279, 4, strip.length)
    b.putInt(ifdOfs + 2 + nTags * 12, 0)
    b.position(dataOfs); b.put(strip)
    val read = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b.array()))
    assert(read != null, "ImageIO must parse the container")
    val got = new Array[Byte](h * w)
    read.getRaster.getDataElements(0, 0, w, h, got)
    assert(got.toSeq == px.toSeq, "JDK LZW decoder must agree with our encoder")
  }

  test("encode(codec=lzw) → decode round-trips float32 tiles and overviews") {
    val (h, w) = (100, 75)
    val px = Array.tabulate(h * w)(i => (math.sin(i * 0.37) * 1000).toFloat)
    val meta = GeoTiff.GeoMeta(epsg = Some(32633), nodata = Some(-9999.0))
    val bytes = GeoTiff.encode(h, w, px, meta, tileSize = 16,
      overviewFactors = Seq(2, 4), codec = "lzw")
    val img = GeoTiff.decode(bytes)
    assert(img.main.pixels.toSeq == px.toSeq, "float32 payload must be bit-exact")
    assert(img.meta == meta)
    assert(img.overviews.map(o => (o.height, o.width)) == Seq((50, 37), (25, 18)))
  }

  test("property: lzwEncode → lzwDecode round-trips arbitrary byte streams") {
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.oneOf(0, 1, 2, 100, 4096, 70000)
      mode <- Gen.oneOf("random", "runs", "alternating")
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (n, mode, seed)
    for ((n, mode, seed) <- Iterator.continually(gen.sample).flatten.take(20).toSeq) {
      val rng = new scala.util.Random(seed)
      val data = mode match {
        case "random" => Array.fill(n)(rng.nextInt(256).toByte)
        case "runs"   => Array.tabulate(n)(i => ((i / 97) % 251).toByte)
        case _        => Array.tabulate(n)(i => (i % 2).toByte)
      }
      val back = GeoTiff.lzwDecode(GeoTiff.lzwEncode(data), n)
      assert(back.toSeq == data.toSeq, s"round trip for ($n,$mode,$seed)")
    }
  }

  test("multi-sample chunky RGB: one page per channel, conformant with ImageIO output") {
    import javax.imageio.{ImageIO, ImageWriteParam}
    val (h, w) = (40, 50)
    val rng = new scala.util.Random(23)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, rng.nextInt(1 << 24))
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW") // SamplesPerPixel=3 chunky + LZW together
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); writer.dispose()

    val got = GeoTiff.decode(bos.toByteArray)
    assert(got.pages.map(_.sample) == Seq(0, 1, 2), "one page per RGB channel")
    for (s <- 0 until 3) {
      val page = got.pages(s)
      assert(page.height == h && page.width == w)
      for (y <- 0 until h; x <- 0 until w) {
        val expected = (img.getRGB(x, y) >> (16 - 8 * s)) & 0xff
        assert(page.pixels(y * w + x) == expected.toFloat,
          s"channel $s pixel ($x,$y)")
      }
    }
  }

  test("decodes BigTIFF (magic 43, LONG8 offsets, 20-byte entries) in both endians") {
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-assembled per the BigTIFF spec: 16-byte header, 8-byte entry
    // count, 20-byte entries with 8-byte inline value fields, LONG8
    // strip offset/count types — the container GDAL's BIGTIFF=IF_SAFER
    // (and =YES) produces
    def bigTiff(order: ByteOrder): (Array[Byte], Array[Float]) = {
      val (h, w) = (3, 5)
      val px = Array.tabulate(h * w)(i => (i * 3 - 7).toFloat)
      val nTags = 10
      val ifdOfs = 16
      val dataOfs = ifdOfs + 8 + nTags * 20 + 8
      val b = ByteBuffer.allocate(dataOfs + h * w * 4).order(order)
      if (order == ByteOrder.LITTLE_ENDIAN) b.put('I'.toByte).put('I'.toByte)
      else b.put('M'.toByte).put('M'.toByte)
      b.putShort(2, 43).putShort(4, 8).putShort(6, 0).putLong(8, ifdOfs)
      b.putLong(ifdOfs, nTags)
      def tag(i: Int, t: Int, typ: Int, v: Long): Unit = {
        val e = ifdOfs + 8 + 20 * i
        b.putShort(e, t.toShort); b.putShort(e + 2, typ.toShort); b.putLong(e + 4, 1L)
        if (typ == 3) b.putShort(e + 12, v.toShort) else b.putLong(e + 12, v)
      }
      tag(0, 256, 16, w); tag(1, 257, 16, h); tag(2, 258, 3, 32)
      tag(3, 259, 3, 1); tag(4, 273, 16, dataOfs); tag(5, 277, 3, 1)
      tag(6, 278, 16, h); tag(7, 279, 16, h * w * 4); tag(8, 317, 3, 1)
      tag(9, 339, 3, 3)
      b.putLong(ifdOfs + 8 + nTags * 20, 0L) // next IFD
      px.zipWithIndex.foreach { case (v, i) => b.putFloat(dataOfs + i * 4, v) }
      (b.array(), px)
    }
    for (order <- Seq(ByteOrder.LITTLE_ENDIAN, ByteOrder.BIG_ENDIAN)) {
      val (bytes, px) = bigTiff(order)
      val img = GeoTiff.decode(bytes)
      assert(img.main.height == 3 && img.main.width == 5, s"dims for $order")
      assert(img.main.pixels.toSeq == px.toSeq, s"pixels for $order")
    }
  }

  test("fuzz: corrupt and truncated inputs fail cleanly — no hang, no wild allocation") {
    // mutate a real encoded file: decode must either succeed (mutation hit
    // padding/pixel data) or throw an ordinary exception promptly; cyclic
    // IFD pointers and lying dimension headers are guarded explicitly
    val base = GeoTiff.encode(33, 47,
      Array.tabulate(33 * 47)(_.toFloat), GeoTiff.GeoMeta(epsg = Some(32633)),
      tileSize = 16, overviewFactors = Seq(2))
    val rng = new scala.util.Random(41)
    for (trial <- 0 until 300) {
      val bytes = base.clone()
      if (trial % 3 == 0) { // truncate
        val cut = 8 + rng.nextInt(bytes.length - 8)
        val t = bytes.take(cut)
        try GeoTiff.decode(t)
        catch { case _: Exception => () } // any plain exception is fine
      } else { // flip 1-4 bytes anywhere (header, IFD, payload)
        for (_ <- 0 to rng.nextInt(4))
          bytes(rng.nextInt(bytes.length)) = rng.nextInt(256).toByte
        try GeoTiff.decode(bytes)
        catch { case _: Exception => () }
      }
    }
    // the two guards fire with their own messages
    val cyclic = base.clone()
    val bb = java.nio.ByteBuffer.wrap(cyclic).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // first IFD's next pointer → back to the first IFD (offset 8)
    val n = bb.getShort(8) & 0xffff
    bb.putInt(8 + 2 + 12 * n, 8)
    val e1 = intercept[IllegalArgumentException](GeoTiff.decode(cyclic))
    assert(e1.getMessage.contains("cyclic"))
    val huge = base.clone()
    val hb = java.nio.ByteBuffer.wrap(huge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // patch ImageWidth/ImageLength (tags 256/257, first two entries) huge
    for (i <- 0 until n) {
      val e = 8 + 2 + 12 * i
      val tag = hb.getShort(e) & 0xffff
      if (tag == 256 || tag == 257) hb.putInt(e + 8, 1 << 20)
    }
    val e2 = intercept[IllegalArgumentException](GeoTiff.decode(huge))
    assert(e2.getMessage.contains("implausible TIFF page"))
    // spp multiplies the allocation: dims that pass the per-sample cap
    // (4096x4096 = 2^24) must still be rejected when spp=64 pushes the
    // total payload to 2^30 samples — hand-assembled header since the
    // writer never emits multi-sample pages
    val sppHuge = java.nio.ByteBuffer.allocate(8 + 2 + 3 * 12 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    sppHuge.put('I'.toByte).put('I'.toByte).putShort(2, 42).putInt(4, 8)
    sppHuge.putShort(8, 3)
    def sppTag(i: Int, tag: Int, typ: Int, v: Int): Unit = {
      val e = 8 + 2 + 12 * i
      sppHuge.putShort(e, tag.toShort).putShort(e + 2, typ.toShort).putInt(e + 4, 1)
      if (typ == 3) sppHuge.putShort(e + 8, v.toShort) else sppHuge.putInt(e + 8, v)
    }
    sppTag(0, 256, 4, 4096); sppTag(1, 257, 4, 4096); sppTag(2, 277, 3, 64)
    val e3 = intercept[IllegalArgumentException](GeoTiff.decode(sppHuge.array()))
    assert(e3.getMessage.contains("implausible TIFF page"),
      s"spp must be included in the allocation cap, got: ${e3.getMessage}")
  }

  test("encode(container=bigtiff) writes the BigTIFF container and round-trips through the reader") {
    // ragged 100×75 against 16×16 tiles → 35 tiles on the main page, so the
    // LONG8 tile offset/count arrays take the external path; overviews keep
    // the multi-IFD chain; -9999 nodata ("-9999 ", 6 chars) is inline in
    // BigTIFF's 8-byte value field but external in classic — both value
    // layouts are exercised across this suite
    val (h, w) = (100, 75)
    val px = Array.tabulate(h * w)(i => (math.cos(i * 0.21) * 2000).toFloat)
    val meta = GeoTiff.GeoMeta(
      pixelScale = Some((10.0, 10.0)), tiepoint = Some((600000.0, 8100000.0)),
      epsg = Some(32633), nodata = Some(-9999.0))
    val bytes = GeoTiff.encode(h, w, px, meta, tileSize = 16,
      overviewFactors = Seq(2, 4), container = "bigtiff")
    assert(bytes(0) == 'I' && bytes(1) == 'I')
    assert((bytes(2) & 0xff) == 43 && bytes(3) == 0, "BigTIFF magic 43")
    assert((bytes(4) & 0xff) == 8, "8-byte offset size")
    val img = GeoTiff.decode(bytes)
    assert(img.main.height == h && img.main.width == w)
    assert(img.main.pixels.toSeq == px.toSeq, "float32 payload must be bit-exact")
    assert(img.meta == meta, "geo tags and nodata survive the BigTIFF container")
    assert(img.overviews.map(o => (o.height, o.width)) == Seq((50, 37), (25, 18)))

    // integer dtype + LZW inside the BigTIFF container, single-tile pages
    // (inline LONG8 offset values)
    val small = Array.tabulate(12 * 10)(i => (i * 13 % 500 - 250).toFloat)
    val i16 = GeoTiff.decode(GeoTiff.encode(12, 10, small,
      GeoTiff.GeoMeta(nodata = Some(-9999.0)), tileSize = 16, overviewFactors = Nil,
      codec = "lzw", dtype = "i16", container = "bigtiff"))
    assert(i16.main.pixels.toSeq == small.map(_.toLong.toFloat).toSeq)

    // "auto" mirrors IF_SAFER: a small granule keeps the classic container
    val auto = GeoTiff.encode(12, 10, small, container = "auto")
    assert((auto(2) & 0xff) == 42, "auto stays classic under the 4 GiB projection")
  }

  test("writeGeoTiffScenes(container=bigtiff): distributed BigTIFF export re-reads identically") {
    val dir = Files.createTempDirectory("gtiffbig")
    val (h, w) = (48, 40)
    val px = Array.tabulate(h * w)(i => (i % 211).toFloat)
    val tiles = SceneIO.tileScene(
      Seq(("sceneBT", "B05", h, w, -9999f, px)).toDF(
        "scene_id", "band", "height", "width", "nodata", "pixels"), 16, 16)
    val manifest = SceneIO.writeGeoTiffScenes(tiles, dir.toString, tileSize = 16,
      overviewFactors = Seq(2), container = "bigtiff").collect()
    assert(manifest.length == 1)
    val raw = Files.readAllBytes(dir.resolve("sceneBT__B05.tif"))
    assert((raw(2) & 0xff) == 43, "executors wrote the BigTIFF container")
    assert(manifest.head.getLong(3) == raw.length.toLong,
      "manifest byte count matches the streamed file")
    val back = SceneIO.readGeoTiffScenes(spark, dir.toString)
      .select("height", "width", "pixels").head()
    assert(back.getInt(0) == h && back.getInt(1) == w)
    assert(back.getSeq[Float](2) == px.toSeq)
  }

  test("predictor 2 (horizontal differencing) undoes per strip row for 8- and 16-bit samples") {
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-built stripped TIFF: predictor-2 differenced samples, LZW
    // compressed — the layout GDAL emits for integer rasters by default
    def build(h: Int, w: Int, bits: Int, fmt: Int, samples: Array[Int]): Array[Byte] = {
      val bps = bits / 8
      val raw = ByteBuffer.allocate(h * w * bps).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until h; c <- 0 until w) {
        val v = samples(r * w + c)
        val d = if (c == 0) v else v - samples(r * w + c - 1) // horizontal diff
        if (bps == 1) raw.put((d & 0xff).toByte) else raw.putShort((d & 0xffff).toShort)
      }
      val strip = GeoTiff.lzwEncode(raw.array())
      val nTags = 10
      val ifdOfs = 8
      val dataOfs = ifdOfs + 2 + nTags * 12 + 4
      val b = ByteBuffer.allocate(dataOfs + strip.length).order(ByteOrder.LITTLE_ENDIAN)
      b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOfs)
      b.putShort(ifdOfs, nTags.toShort)
      def tag(i: Int, t: Int, typ: Int, v: Int): Unit = {
        val e = ifdOfs + 2 + 12 * i
        b.putShort(e, t.toShort); b.putShort(e + 2, typ.toShort); b.putInt(e + 4, 1)
        if (typ == 3) b.putShort(e + 8, v.toShort) else b.putInt(e + 8, v)
      }
      tag(0, 256, 4, w); tag(1, 257, 4, h); tag(2, 258, 3, bits)
      tag(3, 259, 3, 5); tag(4, 273, 4, dataOfs); tag(5, 277, 3, 1)
      tag(6, 278, 4, h); tag(7, 279, 4, strip.length); tag(8, 317, 3, 2)
      tag(9, 339, 3, fmt)
      b.putInt(ifdOfs + 2 + nTags * 12, 0)
      b.position(dataOfs); b.put(strip)
      b.array()
    }
    val (h, w) = (5, 9)
    val rng = new scala.util.Random(3)
    val u8 = Array.fill(h * w)(rng.nextInt(256))
    assert(GeoTiff.decode(build(h, w, 8, 1, u8)).main.pixels.toSeq ==
      u8.map(_.toFloat).toSeq)
    val i16 = Array.fill(h * w)(rng.nextInt(65536) - 32768)
    assert(GeoTiff.decode(build(h, w, 16, 2, i16)).main.pixels.toSeq ==
      i16.map(_.toFloat).toSeq)
  }
}
