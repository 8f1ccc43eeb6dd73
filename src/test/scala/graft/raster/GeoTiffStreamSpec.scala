package graft.raster

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-10 brief item 5: distributed GeoTIFF export must hold O(strip)
  * per-task memory instead of stitching a full band image per task
  * (~480 MB at Sentinel-2's 10980² float32). [[GeoTiff.RowEncoder]] is the
  * mechanism: rows stream in, per-page tile bands flush as they fill, and
  * compressed tiles overflow to a task-local temp file past `memCap`. These
  * tests pin (a) byte-identity between the row-streamed and array paths,
  * (b) byte-identity of the disk-spill path, (c) the overview overshoot
  * corner the streaming design introduces (factor ∤ height), and (d) the
  * sorted-stripe export producing files identical to the pre-r10
  * stitch-then-encode output. The reference holds the same bound blockwise
  * via rasterio windows (index_generator.py:93, 121–136).
  */
class GeoTiffStreamSpec extends SparkSpec {

  private def synth(h: Int, w: Int): Array[Float] =
    Array.tabulate(h * w)(i => ((i * 2654435761L >>> 16) % 4096).toFloat)

  private def encodeArray(h: Int, w: Int, px: Array[Float],
                          meta: GeoTiff.GeoMeta = GeoTiff.GeoMeta(),
                          tileSize: Int = 32,
                          factors: Seq[Int] = Seq(2, 4),
                          memCap: Long = 128L << 20,
                          container: String = "auto"): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val enc = new GeoTiff.RowEncoder(bos, w, meta, tileSize, factors,
      compressionLevel = 6, codec = "deflate", dtype = "f32",
      container = container, memCap = memCap)
    (0 until h).foreach(r => enc.addRow(px, r * w))
    enc.finish()
    bos.toByteArray
  }

  test("row-streamed output is byte-identical to encodeTo(array)") {
    for ((h, w) <- Seq((100, 75), (64, 64), (1, 33), (47, 1))) {
      val px = synth(h, w)
      val meta = GeoTiff.GeoMeta(pixelScale = Some((10.0, 10.0)),
        tiepoint = Some((600000.0, 8200000.0)), epsg = Some(32723),
        nodata = Some(-9999.0))
      val viaArray = GeoTiff.encode(h, w, px, meta, 32, Seq(2, 4), 6)
      val viaRows = encodeArray(h, w, px, meta)
      assert(java.util.Arrays.equals(viaArray, viaRows),
        s"${h}x$w: row-streamed bytes diverge from array path")
    }
  }

  test("disk-spill path (memCap=0) is byte-identical to the in-memory path") {
    val (h, w) = (200, 150)
    val px = synth(h, w)
    val mem = encodeArray(h, w, px)
    val disk = encodeArray(h, w, px, memCap = 0L)
    assert(java.util.Arrays.equals(mem, disk), "spilled bytes diverge")
    // and for BigTIFF (different offset widths exercise the layout twice)
    val memB = encodeArray(h, w, px, container = "bigtiff")
    val diskB = encodeArray(h, w, px, memCap = 0L, container = "bigtiff")
    assert(java.util.Arrays.equals(memB, diskB), "spilled BigTIFF bytes diverge")
  }

  test("the encoder actually spills (the memCap bound is real, not vestigial)") {
    val bos = new java.io.ByteArrayOutputStream()
    val enc = new GeoTiff.RowEncoder(bos, 512, tileSize = 32,
      overviewFactors = Nil, memCap = 1024L)
    val px = synth(64, 512)
    (0 until 64).foreach(r => enc.addRow(px, r * 512))
    assert(enc.spilledToDisk, "1 KiB cap with ~256 KiB of tiles must spill")
    enc.finish()
    val img = GeoTiff.decode(bos.toByteArray).main
    assert(img.height == 64 && img.width == 512 && img.pixels.sameElements(px))
  }

  test("overview overshoot: factor ∤ height, ceil(h/f) a full band (the flush-on-next corner)") {
    // h=31, f=2, tileSize=16: floor(31/2)=15 valid overview rows but 16 are
    // generated — exactly one full band. A flush-on-fill design would emit
    // the 16th (invalid) row into the file; flush-on-next + finish()
    // truncation must not.
    val (h, w) = (31, 40)
    val px = synth(h, w)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val enc = new GeoTiff.RowEncoder(bos, w, tileSize = 16, overviewFactors = Seq(2))
      (0 until h).foreach(r => enc.addRow(px, r * w))
      enc.finish()
      bos.toByteArray
    }
    val ov = GeoTiff.decodeLevel(bytes, 1).pages.head
    assert(ov.height == 15 && ov.width == 20, s"overview dims ${ov.height}x${ov.width}")
    for (j <- 0 until 15; k <- 0 until 20)
      assert(ov.pixels(j * 20 + k) == px(j * 2 * w + k * 2),
        s"overview pixel ($j,$k) diverges from nearest-neighbour reduction")
    // a factor larger than the height must be pruned, not emit a 0-row page
    val tall = {
      val bos = new java.io.ByteArrayOutputStream()
      val enc = new GeoTiff.RowEncoder(bos, 64, tileSize = 16, overviewFactors = Seq(2, 64))
      (0 until 20).foreach(r => enc.addRow(synth(20, 64), r * 64))
      enc.finish()
      bos.toByteArray
    }
    assert(GeoTiff.decodeLevel(tall, 1).pages.head.height == 10)
    intercept[Exception] { GeoTiff.decodeLevel(tall, 2) } // factor-64 page pruned
  }

  test("sorted-stripe distributed export equals single-task stitch-then-encode") {
    val spark0 = spark
    import spark0.implicits._
    val (h, w) = (130, 170) // odd vs the 64-tile grid: edge tiles both axes
    val px = synth(h, w)
    val scenes = Seq(("sceneA", "B04", h, w, -1.0f, px),
                     ("sceneB", "B08", 77, 64, -1.0f, synth(77, 64)))
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
    val tiles = SceneIO.tileScene(scenes, 64, 64)
    val outDir = java.nio.file.Files.createTempDirectory("stream_export").toString
    val manifest = SceneIO.writeGeoTiffScenes(tiles, outDir, tileSize = 32,
      overviewFactors = Seq(2), compressionLevel = 6).collect()
    assert(manifest.length == 2)
    for ((sid, bh, bw, bpx) <- Seq(("sceneA", h, w, px),
                                   ("sceneB", 77, 64, synth(77, 64)))) {
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$outDir/${sid}__${if (sid == "sceneA") "B04" else "B08"}.tif"))
      val expected = GeoTiff.encode(bh, bw, bpx,
        GeoTiff.GeoMeta(nodata = Some(-1.0)), 32, Seq(2), 6)
      assert(java.util.Arrays.equals(bytes, expected),
        s"$sid: distributed stripe export diverges from single-task encode")
    }
  }

  test("overviews-first TIFF: geo-metadata still comes from the full-resolution page") {
    // r9 ADVICE: rechain the IFDs of a 2-page file so the overview comes
    // FIRST — the old decodeSelected stopped walking at the selected page,
    // so an overview read silently returned the overview's empty GeoMeta
    val (h, w) = (64, 48)
    val px = synth(h, w)
    val meta = GeoTiff.GeoMeta(pixelScale = Some((10.0, 10.0)),
      tiepoint = Some((500000.0, 7300000.0)), epsg = Some(32633), nodata = Some(-5.0))
    val bytes = GeoTiff.encode(h, w, px, meta, 32, Seq(2), 6)
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd0 = buf.getInt(4)
    val n0 = buf.getShort(ifd0) & 0xffff
    val next0Ofs = ifd0 + 2 + 12 * n0
    val ifd1 = buf.getInt(next0Ofs)
    assert(ifd1 != 0, "fixture needs two pages")
    val n1 = buf.getShort(ifd1) & 0xffff
    val next1Ofs = ifd1 + 2 + 12 * n1
    assert(buf.getInt(next1Ofs) == 0, "fixture layout drifted: expected 2 pages")
    // rechain: header -> overview -> main -> end (absolute offsets make the
    // IFD blocks position-independent, so only the three pointers move)
    buf.putInt(4, ifd1)
    buf.putInt(next1Ofs, ifd0)
    buf.putInt(next0Ofs, 0)
    val ov = GeoTiff.decodeLevel(bytes, 1)
    assert(ov.pages.head.height == 32 && ov.pages.head.width == 24)
    assert(ov.meta.epsg.contains(32633) && ov.meta.pixelScale.contains((10.0, 10.0)),
      s"overview read lost the full-res geo-metadata: ${ov.meta}")
    val main = GeoTiff.decodeLevel(bytes, 0)
    assert(main.pages.head.height == h && main.meta.epsg.contains(32633))
  }

  test("the stripe export plans exactly ONE hash exchange (sort is within partitions)") {
    // over tiles with no partitioning the (scene, band) grouping adds one
    // hash exchange, and the stripe-order sort must ride that SAME
    // exchange, not add a range shuffle; otherwise the export doubled its
    // shuffle volume to save memory
    val spark0 = spark
    import spark0.implicits._
    val scenes = Seq(("s1", "B1", 64, 64, -1.0f, synth(64, 64)))
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
    val tiles = SceneIO.tileScene(scenes, 32, 32)
    val outDir = java.nio.file.Files.createTempDirectory("plan_export").toString
    val manifest = SceneIO.writeGeoTiffScenes(tiles, outDir, tileSize = 16,
      overviewFactors = Nil)
    val p = manifest.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"stripe export must shuffle exactly once:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"sortWithinPartitions leaked a range shuffle:\n$p")
  }

  /** Run `df`, then list the shuffles of its final adaptive plan. A
    * persisted input is a leaf here: its own plan ran in an earlier job. */
  private def shufflesAfterRun(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    df.collect()
    object stages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    stages.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }
  }

  test("scene-local plane: pivot and COG export plan no exchange over scene-partitioned reads") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("scene_local")
    val dirs = Seq("sA", "sB").map { sid =>
      val d = java.nio.file.Files.createDirectories(root.resolve(sid))
      for ((band, k) <- Seq("B04" -> 1, "B08" -> 2))
        java.nio.file.Files.write(d.resolve(s"${sid}__$band.tif"),
          GeoTiff.encode(40, 48, synth(40, 48).map(_ * k), GeoTiff.GeoMeta(nodata = Some(-1.0)),
            16, Nil))
      d.toString
    }
    def read(dir: String) = SceneIO.tileScene(SceneIO.readGeoTiffScenes(spark, dir), 16, 16)
    def onSceneOnly(e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike) =
      e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name)) == Seq("scene_id")
        case _ => false
      }
    // one read: the only shuffle is the reader's own, on scene_id
    val one = read(s"$root/*")
    for (df <- Seq(RasterKernels.pivotBands(one),
                   SceneIO.writeGeoTiffScenes(one, root.resolve("out1").toString,
                     tileSize = 16, overviewFactors = Nil))) {
      val sh = shufflesAfterRun(df)
      assert(sh.size == 1 && sh.forall(onSceneOnly),
        s"only the reader's scene partitioning may shuffle:\n${df.queryExecution.executedPlan}")
    }
    // two persisted reads (the download attempts of one batch): their union
    // keeps the partitioning through a filter, the pivot and a union of
    // band-math branches, down to the export
    val cached = dirs.map { d => val t = read(d).persist(); t.count(); t }
    try {
      val tiles = cached.reduce(_ unionByName _).filter(col("scene_id").isin("sA", "sB"))
      val piv = RasterKernels.pivotBands(tiles)
      val derived = RasterKernels.bandMath(piv, "B08 - B04", "D", -1, -1e6, 1e6)
        .unionByName(RasterKernels.propagateNodata(piv, Seq("B04"), "B08", -1))
      val out = root.resolve("out2").toString
      val manifest = SceneIO.writeGeoTiffScenes(derived, out, tileSize = 16, overviewFactors = Nil)
      for (df <- Seq(piv, manifest)) {
        val sh = shufflesAfterRun(df)
        assert(sh.isEmpty, s"scene-partitioned input must not shuffle:\n${df.queryExecution.executedPlan}")
      }
      assert(piv.count() == 2 * 3 * 3) // 2 scenes × a 3×3 window grid
      val d = GeoTiff.decode(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "sB__D.tif"))).main
      assert(d.height == 40 && d.width == 48)
      assert(d.pixels.toSeq == synth(40, 48).toSeq, "B08 - B04 = synth on every pixel")
    } finally cached.foreach(_.unpersist(blocking = true))
  }
}
