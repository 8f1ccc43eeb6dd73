package graft.raster

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RasterKernelsSpec extends SparkSpec {
  import spark.implicits._

  // FIXTURES.md §6 synthetic tiles: 2×(2×2 px) windows for two bands.
  private def tiles = Seq(
    RasterTile("scene1", "B08", 0, 0, 2, 2, -9999.0, Array(8000f, 4000f, -9999f, 100f)),
    RasterTile("scene1", "B04", 0, 0, 2, 2, -9999.0, Array(2000f, 4000f, 5f, -9999f)),
    RasterTile("scene1", "B08", 0, 1, 2, 2, -9999.0, Array(1f, 2f, 3f, 4f)),
    RasterTile("scene1", "B04", 0, 1, 2, 2, -9999.0, Array(1f, 1f, 1f, 1f))
  ).toDF()

  test("bandMath NDVI with nodata masking and clamp (R1)") {
    val piv = RasterKernels.pivotBands(tiles)
    val out = RasterKernels.bandMath(piv, "10000. * ((B08 - B04) / (B08 + B04))",
      "NDVI", -9999.0, -10000.0, 10000.0)
    val px = out.orderBy("window_col").collect()
      .map(r => (r.getInt(r.fieldIndex("window_col")), r.getSeq[Float](r.fieldIndex("pixels"))))
      .toMap
    val w0 = px(0)
    assert(w0(0) == 6000.0f)           // (8000-2000)/(8000+2000)*10000
    assert(w0(1) == 0.0f)              // equal bands
    assert(w0(2) == -9999.0f)          // B08 nodata → masked
    assert(w0(3) == -9999.0f)          // B04 nodata → masked
    val w1 = px(1)
    assert(w1(0) == 0.0f)
    assert(math.abs(w1(1) - 10000.0 * (2.0 - 1.0) / 3.0) < 0.5)
  }

  test("writeTiles: zstd parquet partitioned by (scene, band) reads back pixel-exact (S9)") {
    val h = 10; val w = 14
    def img(seed: Int) = Array.tabulate(h * w)(i => (i * 31 + seed).toFloat)
    val long = Seq(("sceneM", "B08", -9999.0, img(1)), ("sceneM", "B04", -8888.0, img(2)))
      .toDF("scene_id", "band", "nodata", "pixels")
      .withColumn("height", lit(h)).withColumn("width", lit(w))
    val dir = java.nio.file.Files.createTempDirectory("graft-tiles").toString
    SceneIO.writeTiles(SceneIO.tileScene(long, 4, 4), dir)
    for (band <- Seq("B04", "B08")) {
      val files = new java.io.File(s"$dir/scene_id=sceneM/band=$band").list()
      assert(files.exists(f => f.endsWith(".zstd.parquet")), files.mkString(", "))
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == 2 * 3 * 4) // ceil(10/4) × ceil(14/4) windows per band
    val (bh, bw, px) = SceneIO.assembleScene(back, "sceneM", "B04")
    assert((bh, bw) == ((h, w)) && px.sameElements(img(2)))
  }

  test("bandMath masks 0-division pixels to nodata (FIXTURES.md §6)") {
    val t = Seq(
      RasterTile("s", "B08", 0, 0, 1, 2, -9999.0, Array(0f, 100f)),
      RasterTile("s", "B04", 0, 0, 1, 2, -9999.0, Array(0f, 100f))).toDF()
    val out = RasterKernels.bandMath(RasterKernels.pivotBands(t),
      "10000. * ((B08 - B04) / (B08 + B04))", "NDVI", -9999.0, -10000.0, 10000.0)
    val px = out.head().getSeq[Float](out.columns.indexOf("pixels"))
    assert(px == Seq(-9999.0f, 0.0f)) // 0/0 → nodata; equal bands → 0
  }

  test("native bandMath matches the HOF specification on random tiles") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 20).map { i =>
      def px = Array.fill(64)(if (rng.nextDouble() < 0.1) -9999f
        else (rng.nextInt(20001) - 10000).toFloat)
      Seq(RasterTile(s"s$i", "B04", 0, 0, 8, 8, -9999.0, px),
        RasterTile(s"s$i", "B08", 0, 0, 8, 8, -9999.0, px),
        RasterTile(s"s$i", "B02", 0, 0, 8, 8, -9999.0, px))
    }.flatten
    val piv = RasterKernels.pivotBands(rows.toDF())
    for (e <- Seq("10000. * ((B08 - B04) / (B08 + B04))",
      "2.5 * (B08 - B04) / (B08 + 6. * B04 - 7.5 * B02 + 10000.)",
      "sqrt(abs(B08 * B04)) - min(B02, B04)")) {
      val nat = RasterKernels.bandMath(piv, e, "OUT", -9999.0, -10000.0, 10000.0)
        .select("scene_id", "pixels")
      val hof = RasterKernels.bandMathHof(piv, e, "OUT", -9999.0, -10000.0, 10000.0)
        .select("scene_id", "pixels")
      assert(nat.exceptAll(hof).count() == 0 && hof.exceptAll(nat).count() == 0, s"expr $e")
    }
  }

  test("bandMath clamps to dtype range (index_generator.py:131–135)") {
    val t = Seq(
      RasterTile("s", "A", 0, 0, 1, 2, -9999.0, Array(30000f, -30000f)),
      RasterTile("s", "B", 0, 0, 1, 2, -9999.0, Array(1f, 1f))).toDF()
    val out = RasterKernels.bandMath(RasterKernels.pivotBands(t),
      "A * B", "OUT", -9999.0, -10000.0, 10000.0)
    val px = out.head().getSeq[Float](out.columns.indexOf("pixels"))
    assert(px == Seq(10000.0f, -10000.0f))
  }

  test("bandMathAll skips failing expression bands per-band (index_generator.py:143–147)") {
    import graft.model.{BandDef, CollectionDef}
    val coll = CollectionDef(name = "C", bands = Seq(
      BandDef("B04"), BandDef("B08"),
      BandDef("NDVI", nodata = -9999.0, min_value = -10000, max_value = 10000,
        expression = Some("10000. * ((B08 - B04) / (B08 + B04))")),
      BandDef("BROKEN", expression = Some("__import__('os') +")),
      BandDef("MISSING", expression = Some("B99 * 2."))))
    val piv = RasterKernels.pivotBands(tiles)
    val (ok, skipped) = RasterKernels.bandMathAll(piv, coll)
    assert(ok.get.select("band").distinct().collect().map(_.getString(0)).toSet == Set("NDVI"))
    assert(skipped.map(_._1).toSet == Set("BROKEN", "MISSING")) // parse error + unknown refs
    // MISSING parses but references an absent band: rows yield null pixels
    // (masked at read), scene does not fail
    val missing = RasterKernels.bandMath(piv, "B99 * 2.", "M", -9999.0, -10000.0, 10000.0)
    assert(missing.collect().forall(_.isNullAt(missing.columns.indexOf("pixels"))))
  }

  test("propagateNodata unions masks into quality band (R2/A10)") {
    val t = Seq(
      RasterTile("s", "B04", 0, 0, 2, 2, -9999.0, Array(1f, -9999f, 3f, 4f)),
      RasterTile("s", "B08", 0, 0, 2, 2, -9999.0, Array(1f, 2f, -9999f, 4f)),
      RasterTile("s", "Fmask4", 0, 0, 2, 2, 255.0, Array(0f, 2f, 4f, 1f))).toDF()
    val piv = RasterKernels.pivotBands(t)
    val out = RasterKernels.propagateNodata(piv, Seq("B04", "B08"), "Fmask4", 255.0)
    val px = out.head().getSeq[Float](out.columns.indexOf("pixels"))
    assert(px == Seq(0f, 255f, 255f, 1f))
    // native == HOF specification
    val hof = RasterKernels.propagateNodataHof(piv, Seq("B04", "B08"), "Fmask4", 255.0)
      .head().getSeq[Float](out.columns.indexOf("pixels"))
    assert(px == hof)
  }

  test("resampleNearest 4x4 checkerboard → 2x2 (R3, utils.py:317–348)") {
    val checker = Array.tabulate(16)(i => if ((i / 4 + i % 4) % 2 == 0) 1f else 0f)
    val df = Seq((checker, 4, 4)).toDF("pixels", "h", "w")
    val out = df.select(RasterKernels.resampleNearest(col("pixels"), col("h"), col("w"), 2, 2).as("p"))
      .head().getSeq[Float](0)
    // nearest with factor 2 picks rows 0,2 cols 0,2 → values at (0,0),(0,2),(2,0),(2,2)
    assert(out == Seq(1f, 1f, 1f, 1f))
  }

  test("native resample matches HOF spec on random tiles incl. non-divisible sizes") {
    val rng = new scala.util.Random(5)
    val cases = Seq((8, 8, 4, 4), (16, 16, 8, 8), (7, 5, 3, 2), (10, 6, 10, 6), (9, 9, 2, 7))
    for ((h, w, oh, ow) <- cases) {
      val px = Array.fill(h * w)(rng.nextInt(10000).toFloat)
      val df = Seq((px, h, w)).toDF("pixels", "h", "w")
      val nat = df.select(RasterKernels.resampleNearest(col("pixels"), col("h"), col("w"), oh, ow))
        .head().getSeq[Float](0)
      val hof = df.select(RasterKernels.resampleNearestHof(col("pixels"), col("h"), col("w"), oh, ow))
        .head().getSeq[Float](0)
      assert(nat == hof, s"case ($h,$w)->($oh,$ow)")
    }
  }

  test("resampleBilinear: identity at same size, exact average at 2x down, scalar reference") {
    val rng = new scala.util.Random(11)
    // identity: same-size resample reproduces the source bit-for-bit
    val px = Array.fill(12)(rng.nextInt(1000).toFloat)
    val df = Seq((px, 3, 4)).toDF("pixels", "h", "w")
    val id = df.select(RasterKernels.resampleBilinear(col("pixels"), col("h"), col("w"), 3, 4))
      .head().getSeq[Float](0)
    assert(id == px.toSeq)
    // 4x4 → 2x2 with half-pixel centers: each output = mean of its 2x2 block
    val q = Array.tabulate(16)(_.toFloat)
    val df2 = Seq((q, 4, 4)).toDF("pixels", "h", "w")
    val out = df2.select(RasterKernels.resampleBilinear(col("pixels"), col("h"), col("w"), 2, 2))
      .head().getSeq[Float](0)
    assert(out == Seq(2.5f, 4.5f, 10.5f, 12.5f))
    // interpolation sits strictly between neighbors on an upsample
    val ramp = Array(0f, 10f)
    val df3 = Seq((ramp, 1, 2)).toDF("pixels", "h", "w")
    val up = df3.select(RasterKernels.resampleBilinear(col("pixels"), col("h"), col("w"), 1, 4))
      .head().getSeq[Float](0)
    assert(up.head == 0f && up.last == 10f)
    assert(up(1) > 0f && up(1) < up(2) && up(2) < 10f)
  }

  test("quicklookScale scales/clips and maps nodata to 0 (R4, publish.py:59–91)") {
    val df = Seq((Array(5000f, 20000f, -9999f, 0f), -9999.0)).toDF("pixels", "nodata")
    val out = df.select(RasterKernels.quicklookScale(col("pixels"), col("nodata")).as("p"))
      .head().getSeq[Float](0)
    assert(out(0) == 127.5f)
    assert(out(1) == 255f)   // clipped
    assert(out(2) == 0f)     // nodata → transparent
    assert(out(3) == 0f)
  }

  test("emptyBands flags all-zero/all-nodata bands (A9, publish.py:85)") {
    val t = Seq(
      RasterTile("s", "EMPTY", 0, 0, 1, 2, -9999.0, Array(0f, -9999f)),
      RasterTile("s", "OK", 0, 0, 1, 2, -9999.0, Array(0f, 7f))).toDF()
    val got = RasterKernels.emptyBands(t).collect().map(_.getString(1)).toSeq
    assert(got == Seq("EMPTY"))
  }

  test("overviews produce the 2..64 pyramid for divisible tiles (S8)") {
    val t = Seq(RasterTile("s", "B", 0, 0, 8, 8, -9999.0,
      Array.tabulate(64)(_.toFloat))).toDF()
    val out = RasterKernels.overviews(t, Seq(2, 4, 8))
    val sizes = out.select("factor", "height", "width").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(sizes == Seq((2, 4, 4), (4, 2, 2), (8, 1, 1)))
    val f8 = out.filter(col("factor") === 8).head().getSeq[Float](out.columns.indexOf("pixels"))
    assert(f8 == Seq(0f)) // top-left nearest sample
  }
}
