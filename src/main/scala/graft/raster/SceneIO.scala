package graft.raster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.awt.image.BufferedImage

/** Scene ↔ tile conversion and edge sinks (SURVEY.md S5/S7/S8/S10).
  *
  *  - S5: the reference reads rasterio block windows
  *    (index_generator.py:121, utils.py:351); here a full-scene band row
  *    explodes into block-window tiles — block boundaries become row
  *    boundaries. The scene is the unit of partitioning: the reader
  *    hash-partitions the decoded bands on scene_id, so a scene's bands
  *    and tiles stay in one task through band math and the COG export
  *    (no further pixel shuffle), while scenes spread across tasks.
  *  - S7/S8: two sinks. Engine-native: parquet partitioned by
  *    (scene_id, band) with the overview pyramid as extra factor-tagged
  *    rows (RasterKernels.overviews). Interchange: real tiled-deflate
  *    GeoTIFF files with overview IFDs via the pure-JVM [[GeoTiff]]
  *    codec — [[writeGeoTiffScenes]], one file per (scene, band) (no
  *    shuffle over scene-partitioned tiles, one otherwise; files written
  *    from executors through the Hadoop FileSystem API).
  *  - S10: [[quicklookScenes]] samples each tile onto the qlH×qlW grid
  *    (publish.py:59–91), so only ≤ 3·qlH·qlW values per scene cross the
  *    shuffle, and the executors encode and write the PNGs (JDK ImageIO).
  *    [[quicklook]] and [[assembleScene]] are the driver-side reference it
  *    is pinned against.
  */
object SceneIO {

  /** S5 — explode a full-scene band image into block-window tiles.
    * Input rows: (scene_id, band, height, width, nodata, pixels).
    * Output: RasterTile rows, one per (blockRow, blockCol) window. */
  def tileScene(scene: DataFrame, blockH: Int, blockW: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val tiles = ColumnBridge.column(graft.expr.TileSceneExpr(
      ColumnBridge.expression(col("pixels")),
      ColumnBridge.expression(col("height")),
      ColumnBridge.expression(col("width")), blockH, blockW))
    scene
      .select(col("scene_id"), col("band"), col("nodata"), explode(tiles).as("t"))
      .select(col("scene_id"), col("band"),
        col("t.window_row").as("window_row"), col("t.window_col").as("window_col"),
        col("t.h").as("height"), col("t.w").as("width"), col("nodata"),
        col("t.pixels").as("pixels"))
  }

  /** Inverse of [[tileScene]] for small scenes (test/quicklook path):
    * reassemble one band image from its tiles. Driver-side collect. */
  def assembleScene(tiles: DataFrame, sceneId: String, band: String): (Int, Int, Array[Float]) = {
    val rows = tiles.filter(col("scene_id") === sceneId && col("band") === band)
      .select("window_row", "window_col", "height", "width", "pixels").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getSeq[Float](4).toArray))
    require(rows.nonEmpty, s"no tiles for $sceneId/$band")
    val blockH = rows.map(_._3).max
    val blockW = rows.map(_._4).max
    val totalH = rows.map(r => r._1 * blockH + r._3).max
    val totalW = rows.map(r => r._2 * blockW + r._4).max
    val out = new Array[Float](totalH * totalW)
    rows.foreach { case (wr, wc, h, w, px) =>
      var i = 0
      while (i < h * w) {
        val gr = wr * blockH + i / w
        val gc = wc * blockW + i % w
        out(gr * totalW + gc) = px(i)
        i += 1
      }
    }
    (totalH, totalW, out)
  }

  /** S7/S8 — engine-native tile sink: parquet partitioned by (scene, band),
    * zstd-compressed (the reference's deflate rewrite, publish.py:94–111,
    * becomes a codec setting — SURVEY §2.1 S9). */
  def writeTiles(tiles: DataFrame, path: String): Unit =
    tiles.write.mode("overwrite")
      .partitionBy("scene_id", "band")
      .option("compression", "zstd")
      .parquet(path)

  /** S5 physical layer — read a directory of GeoTIFF files into scene-band
    * rows (scene_id, band, height, width, nodata, pixels) ready for
    * [[tileScene]]. File naming convention: `<scene_id>__<band>.tif`
    * (double-underscore separator — unambiguous when the band name itself
    * carries underscores, e.g. HDF `Surface_Reflectance_Band_1`), falling
    * back to the last single `_` for externally-named files like
    * `S2A_T23LLF_0007_B04.tif` (the reference derives the same identity
    * from file names, collections/utils.py:335–342). The decode runs on
    * EXECUTORS via Spark's binaryFile source, one file per task unit.
    *
    * Scene-local: the decoded rows are hash-partitioned on `scene_id` into
    * the session's shuffle-partition count, so every band of a scene sits
    * in one partition and [[tileScene]] (a narrow explode) keeps it there.
    * [[RasterKernels.pivotBands]] and [[writeGeoTiffScenes]] then plan no
    * exchange, also over a union of two persisted reads (same key, same
    * partition count). The decode runs before that shuffle, over the
    * file splits: partitioning the listing first keeps the pixels out of
    * the shuffle but decodes a scene's bands in one task, and with a few
    * scenes per batch the hash collisions of scene ids left cores idle
    * (measured slower end to end on 4 scenes at local[4]). */
  def readGeoTiffScenes(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        window: Option[(Int, Int, Int, Int)] = None,
                        overviewLevel: Int = 0): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tif*")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val (sceneId, band) = sceneBandOfPath(p)
        // window = (x0, y0, w, h) in the selected level's pixel grid: the
        // COG windowed read (the reference's S5 `ds.read(1, window=w)`,
        // index_generator.py:123) — only intersecting tiles decompress;
        // overviewLevel k > 0 reads the k-th pyramid page (the rasterio
        // overview read), composing with the window
        val img = window match {
          case Some((wx, wy, ww, wh)) =>
            GeoTiff.decodeWindow(bytes, wx, wy, ww, wh, overviewLevel)
          case None if overviewLevel > 0 => GeoTiff.decodeLevel(bytes, overviewLevel)
          case None => GeoTiff.decode(bytes)
        }
        val m = if (window.isDefined || overviewLevel > 0) img.pages.head
          else img.main
        (sceneId, band, m.height, m.width,
          img.meta.nodata.map(_.toFloat).getOrElse(0f), m.pixels)
      }
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
      .repartition(spark.sessionState.conf.numShufflePartitions, col("scene_id"))
  }

  /** S5 at object-store scale — the RANGED windowed read: where
    * [[readGeoTiffScenes]] materializes each whole file through Spark's
    * binaryFile source before the pruned decode sees it (fine on local
    * page cache, ruinous against an object store), this path opens each
    * file through the Hadoop FileSystem API and positional-reads ONLY the
    * header blocks, the IFD chain and the tiles intersecting the window
    * (`GeoTiff.decodeWindowRanged`) — the /vsicurl GET-Range behavior the
    * reference gets from GDAL (utils.py:335–342). File listing happens on
    * the driver (names + lengths only); every byte of pixel IO happens on
    * executors. Emits the same row shape as readGeoTiffScenes plus a
    * `bytes_read` column — the measured per-file IO, asserted ≪ file size
    * in RangedReadSpec and benchmarked in SCALE.md (COG windowed reads, r10). */
  def readGeoTiffScenesRanged(spark: org.apache.spark.sql.SparkSession,
                              path: String,
                              window: Option[(Int, Int, Int, Int)] = None,
                              overviewLevel: Int = 0): DataFrame = {
    import spark.implicits._
    val conf = org.apache.spark.sql.graft.HadoopConfBridge.serializable(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs0 = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files: Seq[(String, Long)] = fs0.globStatus(new org.apache.hadoop.fs.Path(root, "*.tif*"))
      .toSeq.map(s => (s.getPath.toString, s.getLen))
    spark.createDataset(files)
      .repartition(math.min(files.size, spark.sparkContext.defaultParallelism).max(1))
      .map { case (p, len) =>
        val (sceneId, band) = sceneBandOfPath(p)
        val fp = new org.apache.hadoop.fs.Path(p)
        val in = fp.getFileSystem(conf.value).open(fp)
        try {
          val read = (ofs: Long, n: Int) => {
            val b = new Array[Byte](n); in.readFully(ofs, b, 0, n); b
          }
          val (img, io) = window match {
            case Some((wx, wy, ww, wh)) =>
              GeoTiff.decodeWindowRanged(read, len, wx, wy, ww, wh, overviewLevel)
            case None =>
              GeoTiff.decodeLevelRanged(read, len, overviewLevel)
          }
          val m = img.pages.head
          (sceneId, band, m.height, m.width,
            img.meta.nodata.map(_.toFloat).getOrElse(0f), m.pixels,
            io.bytesRead, io.requests)
        } finally in.close()
      }
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels",
        "bytes_read", "read_requests")
  }

  /** `<scene_id>__<band>.<ext>` with a last-single-`_` fallback — shared
    * file-identity grammar of the GeoTIFF and JP2 scene readers. */
  private[raster] def sceneBandOfPath(p: String): (String, String) = {
    val name = p.substring(p.lastIndexOf('/') + 1)
    val stem = name.substring(0, name.lastIndexOf('.'))
    val sep = stem.lastIndexOf("__")
    val us = stem.lastIndexOf('_')
    if (sep > 0) (stem.substring(0, sep), stem.substring(sep + 2))
    else if (us > 0) (stem.substring(0, us), stem.substring(us + 1))
    else (stem, "B1")
  }

  /** S5 physical layer for Sentinel-2-style JP2 band files: binaryFile
    * scan → executor-side [[graft.sources.Jp2Decode]] (reversible 5/3
    * subset — exactly the Sentinel-2 L1C regime the reference feeds to
    * rasterio at publish.py:263–270). Same row shape and file-identity
    * grammar as [[readGeoTiffScenes]], so everything downstream (tiling,
    * band math, COG export, quicklook, publish) is format-agnostic. JP2
    * carries no nodata tag; Sentinel-2's convention is 0. */
  def readJp2Scenes(spark: org.apache.spark.sql.SparkSession,
                    path: String, nodata: Float = 0f,
                    discardLevels: Int = 0,
                    window: Option[(Int, Int, Int, Int)] = None): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.{jp2,j2k,jpx,j2c}")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val (sceneId, band) = sceneBandOfPath(p)
        // discardLevels > 0 = the rasterio decimated read the reference
        // quicklook path uses (publish.py:59-91 out_shape): dims shrink by
        // 2^k and the dropped detail bands never entropy-decode, so a
        // preview scan costs ~4^-k of a full ingest scan.
        // window = (x0, y0, w, h) = the reference's S5 windowed read
        // (ds.read(1, window=w), index_generator.py:123): only the
        // code-blocks whose wavelet support intersects the window
        // entropy-decode, so a one-block probe never pays a full decode
        val img = window match {
          case Some((wx, wy, ww, wh)) =>
            val m = graft.sources.Jp2Decode.decodeWindow(bytes, wx, wy, ww, wh,
              discardLevels)
            require(m.comps == 1, s"$p: multi-component; use readJp2RgbScenes")
            graft.sources.Jp2Decode.Jp2Pixels(m.height, m.width, m.depth, m.planes(0))
          case None => graft.sources.Jp2Decode.decode(bytes, discardLevels)
        }
        (sceneId, band, img.height, img.width, nodata, img.pixels)
      }
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
  }

  /** Ranged JP2 scene reads — [[readJp2Scenes]] with the IO contract of
    * [[readGeoTiffScenesRanged]]: Hadoop positional reads fetch only the
    * main header, tile-part headers (with their PLT packet-length
    * tables) and the needed precincts' packet ranges, instead of
    * materializing whole band files ([[graft.sources.Jp2Ranged]] — the
    * GET-Range behavior the reference gets from GDAL /vsicurl on its JP2
    * archive). `window` = ROI probe; no window + `discardLevels` > 0 =
    * overview read fetching only the kept resolutions' packets. Emits
    * per-file `bytes_read` / `read_requests` — the object-store bill. */
  def readJp2ScenesRanged(spark: org.apache.spark.sql.SparkSession,
                          path: String, nodata: Float = 0f,
                          discardLevels: Int = 0,
                          window: Option[(Int, Int, Int, Int)] = None): DataFrame = {
    import spark.implicits._
    val conf = org.apache.spark.sql.graft.HadoopConfBridge.serializable(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs0 = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files: Seq[(String, Long)] = fs0.globStatus(new org.apache.hadoop.fs.Path(root, "*.{jp2,j2k,jpx,j2c}"))
      .toSeq.map(s => (s.getPath.toString, s.getLen))
    spark.createDataset(files)
      .repartition(math.min(files.size, spark.sparkContext.defaultParallelism).max(1))
      .map { case (p, len) =>
        val (sceneId, band) = sceneBandOfPath(p)
        val fp = new org.apache.hadoop.fs.Path(p)
        val in = fp.getFileSystem(conf.value).open(fp)
        try {
          val read = (ofs: Long, n: Int) => {
            val b = new Array[Byte](n); in.readFully(ofs, b, 0, n); b
          }
          val (img, io) = window match {
            case Some((wx, wy, ww, wh)) =>
              graft.sources.Jp2Ranged.decodeWindow(read, len, wx, wy, ww, wh,
                discardLevels)
            case None =>
              graft.sources.Jp2Ranged.decodeLevel(read, len, discardLevels)
          }
          require(img.comps == 1, s"$p: multi-component; use readJp2RgbScenes")
          (sceneId, band, img.height, img.width, nodata, img.planes(0),
            io.bytesRead, io.requests)
        } finally in.close()
      }
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels",
        "bytes_read", "read_requests")
  }

  /** The Sentinel-2 `*PVI*.jp2` preview asset (publish.py:178–179, 263
    * reads the 3-component RGB JP2 to build the quicklook; asset
    * registered at publish.py:388): decode each multi-component file on
    * executors and emit ONE ROW PER COMPONENT with the given band names,
    * so the result flows straight into [[tileScene]] →
    * [[quicklookScenes]] exactly like single-band scenes. Same
    * file-identity grammar and row shape as [[readJp2Scenes]]. */
  def readJp2RgbScenes(spark: org.apache.spark.sql.SparkSession,
                       path: String, nodata: Float = 0f,
                       discardLevels: Int = 0,
                       bandNames: Seq[String] = Seq("R", "G", "B"),
                       window: Option[(Int, Int, Int, Int)] = None): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.{jp2,j2k,jpx,j2c}")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val (sceneId, _) = sceneBandOfPath(p)
        // window = the ROI read, same contract as readJp2Scenes — the RCT/
        // ICT inverse runs on identical coefficient support per component
        val img = window match {
          case Some((wx, wy, ww, wh)) =>
            graft.sources.Jp2Decode.decodeWindow(bytes, wx, wy, ww, wh, discardLevels)
          case None => graft.sources.Jp2Decode.decodeMulti(bytes, discardLevels)
        }
        require(img.comps <= bandNames.length,
          s"$p: ${img.comps} components, only ${bandNames.length} band names")
        (0 until img.comps).map { ci =>
          (sceneId, bandNames(ci), img.height, img.width, nodata, img.planes(ci))
        }
      }
      .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
  }

  /** S7/S8 at scale — export EVERY (scene, band) as its own GeoTIFF in one
    * distributed pass: the tiles are grouped by (scene_id, band) and each
    * group arrives SORTED by (window_row, window_col), i.e. in stripe
    * order; the task streams one stripe at a time through
    * [[GeoTiff.RowEncoder]] and writes through the Hadoop FileSystem API —
    * local, HDFS or s3a alike, matching the reference's one-COG-per-band
    * output layout (cog_translate utils.py:113–154). The grouping is
    * satisfied by any partitioning on a subset of (scene_id, band): over
    * scene-partitioned tiles ([[readGeoTiffScenes]]) it plans no exchange,
    * over other input one hash exchange; the sort is within partitions.
    * The driver never sees pixel data, and per-task memory is O(strip):
    * one input tile stripe + the encoder's per-page row bands (~35 MB at
    * Sentinel-2's 10980² float32, vs ~480 MB for the pre-r10 stitch-the-
    * band path) plus the encoder's bounded compressed-tile buffer — the
    * same blockwise envelope the reference holds through rasterio windows
    * (index_generator.py:93, 121–136). Returns the manifest
    * (scene_id, band, path, bytes) for downstream publish.
    * `compressionLevel` defaults to 1 (BEST_SPEED): deflate level is the
    * export bottleneck, and level 1 is ~3× the throughput of the zlib
    * default for ~10% larger files — the right trade at archive scale. */
  def writeGeoTiffScenes(tiles: DataFrame, dir: String,
                         meta: GeoTiff.GeoMeta = GeoTiff.GeoMeta(),
                         tileSize: Int = 256,
                         overviewFactors: Seq[Int] = Seq(2, 4, 8, 16, 32, 64),
                         compressionLevel: Int = 1,
                         codec: String = "deflate",
                         dtype: String = "f32",
                         container: String = "auto"): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val conf = org.apache.spark.sql.graft.HadoopConfBridge.serializable(
      spark.sparkContext.hadoopConfiguration)
    tiles
      .select(col("scene_id"), col("band"), col("window_row"), col("window_col"),
        col("height"), col("width"), col("nodata").cast("double"), col("pixels"))
      .groupBy(col("scene_id"), col("band"))
      .as[(String, String), (String, String, Int, Int, Int, Int, Double, Array[Float])]
      .flatMapSortedGroups(col("window_row"), col("window_col")) { case ((sceneId, band), it) =>
        val rows = it.buffered
        // explicit meta wins; otherwise tiles carry their band's nodata
        val nodata = meta.nodata.orElse(Some(rows.head._7))
        // "__" separator so [[readGeoTiffScenes]] re-splits unambiguously
        // even when the band name carries underscores (HDF subdatasets)
        val path = new org.apache.hadoop.fs.Path(dir, s"${sceneId}__$band.tif")
        val fs = path.getFileSystem(conf.value)
        val os = fs.create(path, true)
        var enc: GeoTiff.RowEncoder = null
        var blockH = 0; var blockW = 0; var totalW = 0; var nextRow = 0
        // one stripe = all tiles sharing a window_row (consecutive in the
        // sorted group); stripe 0 spans every column, so the grid geometry
        // is known before the encoder must be constructed
        val stripe = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Int, Int, Array[Float])] // wr, wc, h, w, px
        def flushStripe(): Unit = if (stripe.nonEmpty) {
          val wr = stripe.head._1
          if (enc == null) {
            blockW = stripe.map(_._4).max
            blockH = stripe.map(_._3).max
            totalW = stripe.map(t => t._2 * blockW + t._4).max
            enc = new GeoTiff.RowEncoder(os, totalW, meta.copy(nodata = nodata),
              tileSize, overviewFactors, compressionLevel, codec, dtype, container)
          }
          val base = wr * blockH
          require(base >= nextRow, s"overlapping tile stripes at window_row=$wr")
          if (base > nextRow) { // absent stripes read as 0f, like assembleScene
            val zero = new Array[Float](totalW)
            while (nextRow < base) { enc.addRow(zero); nextRow += 1 }
          }
          val stripeH = stripe.map(_._3).max
          val buf = new Array[Float](stripeH * totalW)
          stripe.foreach { case (_, wc, h, w, px) =>
            var r = 0
            while (r < h) {
              System.arraycopy(px, r * w, buf, r * totalW + wc * blockW, w)
              r += 1
            }
          }
          var r = 0
          while (r < stripeH) { enc.addRow(buf, r * totalW); r += 1 }
          nextRow += stripeH
          stripe.clear()
        }
        rows.foreach { t =>
          if (stripe.nonEmpty && stripe.head._1 != t._3) flushStripe()
          stripe += ((t._3, t._4, t._5, t._6, t._8))
        }
        flushStripe()
        val nBytes = try enc.finish() finally os.close()
        Iterator.single((sceneId, band, path.toString, nBytes))
      }
      .toDF("scene_id", "band", "path", "bytes")
  }

  /** S6 at scale — convert a directory of HDF4 granules to per-band
    * GeoTIFFs in one distributed pass: binaryFile scan → per-file
    * [[graft.sources.Hdf4.toGeoTiff]] on executors (subdataset decode +
    * tiled-deflate encode) → Hadoop FS write beside the manifest row
    * (granule, band, path, bytes, cloud_cover). The reference converts
    * one granule at a time through GDAL (hdf.py:38–108); here the granule
    * set IS the parallelism — no shuffle at all, each file is one task
    * unit end to end. */
  def convertHdfScenes(spark: org.apache.spark.sql.SparkSession,
                       inDir: String, outDir: String,
                       bandNodata: Map[String, Double] = Map.empty,
                       tileSize: Int = 256): DataFrame = {
    import spark.implicits._
    val conf = org.apache.spark.sql.graft.HadoopConfBridge.serializable(
      spark.sparkContext.hadoopConfiguration)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.hdf")
      .load(inDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val name = p.substring(p.lastIndexOf('/') + 1)
        val base = name.substring(0, name.lastIndexOf('.'))
        val (files, cloud) = graft.sources.Hdf4.toGeoTiff(bytes, base, bandNodata, tileSize)
        files.map { case (fileName, tiff) =>
          val out = new org.apache.hadoop.fs.Path(outDir, fileName)
          val fs = out.getFileSystem(conf.value)
          val os = fs.create(out, true)
          try os.write(tiff) finally os.close()
          val band = fileName.stripSuffix(".tif").stripPrefix(base + "__")
          (base, band, out.toString, tiff.length.toLong, cloud)
        }
      }
      .toDF("granule", "band", "path", "bytes", "cloud_cover")
  }

  /** Sentinel-2 publish at scale — convert a directory of JP2 band files
    * to per-band COG-shaped GeoTIFFs in one distributed pass: binaryFile
    * scan → per-file [[graft.sources.Jp2Decode]] + [[GeoTiff.encode]] on
    * executors → Hadoop FS write beside the manifest row. This is the
    * reference's publish flow for Sentinel products (publish.py:263–270
    * reads `*B02.jp2`, then cog_translate utils.py:113–154 writes the
    * COG) run convert-once at ingest, so the JP2 entropy decode is never
    * paid again at query time. No shuffle — each file is one task unit
    * end to end. `dtype` defaults to u16, the Sentinel-2 L1C sample
    * format; JP2 carries no nodata tag, so Sentinel's 0 convention is the
    * default. */
  def convertJp2Scenes(spark: org.apache.spark.sql.SparkSession,
                       inDir: String, outDir: String,
                       nodata: Double = 0.0,
                       meta: GeoTiff.GeoMeta = GeoTiff.GeoMeta(),
                       tileSize: Int = 256,
                       overviewFactors: Seq[Int] = Seq(2, 4, 8, 16, 32, 64),
                       dtype: String = "u16"): DataFrame = {
    import spark.implicits._
    val conf = org.apache.spark.sql.graft.HadoopConfBridge.serializable(
      spark.sparkContext.hadoopConfiguration)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.{jp2,j2k,jpx,j2c}")
      .load(inDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val (sceneId, band) = sceneBandOfPath(p)
        val img = graft.sources.Jp2Decode.decode(bytes)
        val out = new org.apache.hadoop.fs.Path(outDir, s"${sceneId}__$band.tif")
        val fs = out.getFileSystem(conf.value)
        val os = fs.create(out, true)
        val n = try GeoTiff.encodeTo(os, img.height, img.width, img.pixels,
          meta.copy(nodata = Some(nodata)), tileSize, overviewFactors,
          compressionLevel = 1, dtype = dtype)
        finally os.close()
        (sceneId, band, out.toString, n)
      }
      .toDF("scene_id", "band", "path", "bytes")
  }

  /** S10 — RGB quicklook PNG (publish.py:59–91): three pre-scaled 0–255
    * band images of identical shape → PNG bytes via JDK ImageIO; 0 = fully
    * transparent (the reference's alpha mask). */
  def encodeQuicklookPng(h: Int, w: Int, r: Array[Float], g: Array[Float],
                         b: Array[Float]): Array[Byte] = {
    require(r.length == h * w && g.length == h * w && b.length == h * w)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    var i = 0
    while (i < h * w) {
      val rv = math.max(0, math.min(255, r(i).toInt))
      val gv = math.max(0, math.min(255, g(i).toInt))
      val bv = math.max(0, math.min(255, b(i).toInt))
      val alpha = if (rv == 0 && gv == 0 && bv == 0) 0 else 255
      img.setRGB(i % w, i / w, (alpha << 24) | (rv << 16) | (gv << 8) | bv)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Full quicklook pipeline for one scene (publish.py:59–91): downsample
    * each RGB band to (qlH×qlW) via nearest, scale/clip/nodata→0, collect,
    * encode. Distributed until the ≤768² collect. */
  def quicklook(tiles: DataFrame, sceneId: String, rgb: (String, String, String),
                qlH: Int = 768, qlW: Int = 768): Array[Byte] = {
    def bandImage(band: String): Array[Float] = {
      val (h, w, px) = assembleScene(
        tiles.filter(col("scene_id") === sceneId && col("band") === band)
          .withColumn("pixels",
            RasterKernels.quicklookScale(col("pixels"), col("nodata"))),
        sceneId, band)
      // nearest downsample driver-side on the already-scaled image
      Array.tabulate(qlH * qlW) { i =>
        val sr = (i / qlW) * h / qlH
        val sc = (i % qlW) * w / qlW
        px(sr * w + sc)
      }
    }
    encodeQuicklookPng(qlH, qlW, bandImage(rgb._1), bandImage(rgb._2), bandImage(rgb._3))
  }

  /** S10 at scale — quicklook PNGs for EVERY scene in one distributed
    * pass. [[quicklook]] assembles the full-resolution band on the driver
    * before downsampling (fine for one scene, a ~480 MB collect for a
    * 10980² band); here each TILE projects itself onto the ≤ qlH×qlW
    * output grid first, so the only thing that crosses the per-scene
    * shuffle is ≤ 3·qlH·qlW sampled values per scene (~7 MB at 768²) —
    * independent of input resolution. Each task then fills the three
    * band buffers, encodes the PNG (0 → transparent) and writes it via
    * the Hadoop FS API. The per-(scene, band) geometry is one aggregate
    * over the geometry columns, broadcast back onto the tiles, so pixel
    * rows are never shuffled or sorted. Bit-identical to [[quicklook]]:
    * same integer nearest-neighbour mapping, same encoder. Returns the
    * manifest (scene_id, path, bytes).
    *
    * `prescaled = true` skips the reflectance x/10000·255 clip — for
    * sources already in display range, like the 8-bit PVI preview asset
    * the reference copies straight into the quicklook
    * (publish.py:178–179 prefers `*PVI*.jp2` over re-scaling bands);
    * nodata still maps to 0/transparent. */
  def quicklookScenes(tiles: DataFrame, rgb: (String, String, String), dir: String,
                      qlH: Int = 768, qlW: Int = 768,
                      prescaled: Boolean = false): DataFrame = {
    require(qlH > 0 && qlW > 0, s"quicklook size must be positive, got ${qlH}x$qlW")
    val spark = tiles.sparkSession
    import spark.implicits._
    val conf = org.apache.spark.sql.graft.HadoopConfBridge.serializable(
      spark.sparkContext.hadoopConfiguration)
    val bands = Seq(rgb._1, rgb._2, rgb._3)
    val t = tiles.filter(col("band").isin(bands: _*))
    // per-(scene, band) geometry in one aggregate over the geometry
    // columns (no pixel scan): the block is the largest tile, and the last
    // row (column) of tiles gives the full dims, since every tile has
    // h ≤ blockH: max(wr·blockH + h) = wrMax·blockH + h(wrMax), as in
    // assembleScene
    val dims = t.groupBy(col("scene_id"), col("band"))
      .agg(max(col("height")).as("blockH"), max(col("width")).as("blockW"),
        max(struct(col("window_row"), col("height"))).as("lastRow"),
        max(struct(col("window_col"), col("width"))).as("lastCol"))
      .select(col("scene_id"), col("band"), col("blockH"), col("blockW"),
        (col("lastRow.window_row") * col("blockH") + col("lastRow.height")).as("totalH"),
        (col("lastCol.window_col") * col("blockW") + col("lastCol.width")).as("totalW"))
    // broadcast is load-bearing: without the hint the un-analyzed dims
    // aggregate defeats the size estimate and the planner sort-merge-joins
    // the megabyte-sized pixel rows (measured 50× this path's wall time);
    // dims is one row per (scene, band) — broadcastable at any realistic
    // scene count
    t.join(broadcast(dims), Seq("scene_id", "band"))
      .select(col("scene_id"), col("band"), col("window_row"), col("window_col"),
        col("height"), col("width"), col("blockH"), col("blockW"),
        col("totalH"), col("totalW"), col("nodata").cast("float"), col("pixels"))
      .as[(String, String, Int, Int, Int, Int, Int, Int, Int, Int, Float, Array[Float])]
      .map { case (sid, band, wr, wc, h, w, bH, bW, tH, tW, nd, px) =>
        // the output pixels whose nearest source pixel lies in this tile:
        // sr = qi*tH/qlH ∈ [r0, r0+h) solves to a contiguous qi range, so
        // per-tile cost is O(output pixels covered), not O(qlH·qlW); the
        // reference's x/10000·255 clip (publish.py:59–91, ≡
        // RasterKernels.quicklookScale) applies to the sampled values
        // only — never to the full-resolution band
        val r0 = wr * bH; val c0 = wc * bW
        def lo(x0: Int, total: Int, ql: Int): Int =
          math.max(0, ((x0.toLong * ql + total - 1) / total).toInt)
        def hiEx(x0: Int, len: Int, total: Int, ql: Int): Int =
          math.min(ql, (((x0 + len).toLong * ql + total - 1) / total).toInt)
        val (qiLo, qiHi) = (lo(r0, tH, qlH), hiEx(r0, h, tH, qlH))
        val (qjLo, qjHi) = (lo(c0, tW, qlW), hiEx(c0, w, tW, qlW))
        val hits = new Array[Int](math.max(0, (qiHi - qiLo) * (qjHi - qjLo)))
        val vals = new Array[Float](hits.length)
        var k = 0
        var qi = qiLo
        while (qi < qiHi) {
          val sr = (qi.toLong * tH / qlH).toInt // same mapping as quicklook()
          var qj = qjLo
          while (qj < qjHi) {
            val sc = (qj.toLong * tW / qlW).toInt
            val v = px((sr - r0) * w + (sc - c0))
            hits(k) = qi * qlW + qj
            vals(k) = if (v == nd) 0f
                      else if (prescaled) math.min(v.toDouble, 255.0).toFloat
                      else math.min(v.toDouble / 10000.0 * 255.0, 255.0).toFloat
            k += 1
            qj += 1
          }
          qi += 1
        }
        (sid, band, hits, vals)
      }
      .groupByKey(_._1)
      .mapGroups { (sid: String, it: Iterator[(String, String, Array[Int], Array[Float])]) =>
        val buf = bands.map(b => b -> new Array[Float](qlH * qlW)).toMap
        it.foreach { case (_, band, hits, vals) =>
          val img = buf(band)
          var i = 0
          while (i < hits.length) { img(hits(i)) = vals(i); i += 1 }
        }
        val bytes = encodeQuicklookPng(qlH, qlW, buf(rgb._1), buf(rgb._2), buf(rgb._3))
        val path = new org.apache.hadoop.fs.Path(dir, s"$sid.png")
        val fs = path.getFileSystem(conf.value)
        val os = fs.create(path, true)
        try os.write(bytes) finally os.close()
        (sid, path.toString, bytes.length.toLong)
      }
      .toDF("scene_id", "path", "bytes")
  }
}
