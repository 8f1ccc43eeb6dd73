package graft.queries

import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.expr.BandExpressionCompiler
import graft.raster.{RasterKernels, SceneIO}
import QuerySpec.{memoLayout, r2, r4}

/** Raster dataflow: band math, resampling and quicklooks over tiles,
  * the GeoTIFF/COG write→read round trips and windowed reads, and the
  * JPEG 2000 decode paths. */
object RasterQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ---- §2.8 R1 band-math expression compiler (index_generator.py:58–149)
    QuerySpec("q21_band_expr", (s, d) => {
      val ndvi = BandExpressionCompiler.compile(
        "10000. * ((B08 - B04) / (B08 + B04))",
        Map("B08" -> col("l_extendedprice"), "B04" -> col("l_quantity") * 100))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), r2(ndvi).as("ndvi"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      Some("""SELECT l_orderkey, l_linenumber,
        |  round(10000.0 * ((l_extendedprice - l_quantity*100) /
        |                   (l_extendedprice + l_quantity*100)), 2) AS ndvi
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    // ---- §2.8 R1 bandMath over tiles (embeddings arrays as pixels) -------
    QuerySpec("q37_bandmath_tiles", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val tiles = emb.select(col("vec_id").cast("string").as("scene_id"),
          lit("B08").as("band"), lit(0).as("window_row"), lit(0).as("window_col"),
          lit(8).as("height"), lit(8).as("width"), lit(-9999.0).as("nodata"),
          col("embedding").as("pixels"))
        .unionByName(emb.select(col("vec_id").cast("string").as("scene_id"),
          lit("B04").as("band"), lit(0).as("window_row"), lit(0).as("window_col"),
          lit(8).as("height"), lit(8).as("width"), lit(-9999.0).as("nodata"),
          reverse(col("embedding")).as("pixels")))
      graft.raster.RasterKernels.bandMath(
          graft.raster.RasterKernels.pivotBands(tiles),
          "B08 * 2. + B04", "OUT", -9999.0, -10000.0, 10000.0)
        .select(col("scene_id").cast("long").as("vec_id"),
          r4(aggregate(col("pixels"), lit(0.0), (a, p) => a + p.cast("double"))).as("checksum"))
        .orderBy(col("vec_id"))
    },
      Some("""WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS b08,
        |  list_reverse(CAST(embedding AS DOUBLE[])) AS b04 FROM embeddings)
        |SELECT vec_id, round(list_aggregate(list_transform(
        |  generate_series(1, len(b08)),
        |  i -> CAST(greatest(least(b08[i]*2.0 + b04[i], 10000.0), -10000.0) AS FLOAT)),
        |  'sum'), 4) AS checksum
        |FROM t ORDER BY vec_id""".stripMargin)),
    // ---- §2.8 R3 nearest resample over tiles -----------------------------
    QuerySpec("q38_resample_tiles", (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          r4(aggregate(
            graft.raster.RasterKernels.resampleNearest(col("embedding"), lit(8), lit(8), 4, 4),
            lit(0.0), (a, p) => a + p.cast("double"))).as("checksum"))
        .orderBy(col("vec_id")),
      Some("""SELECT vec_id, round(list_aggregate(list_transform(
        |  generate_series(0, 15),
        |  i -> embedding[((i // 4) * 2) * 8 + (i % 4) * 2 + 1]),
        |  'sum'), 4) AS checksum
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    // ---- §2.8 R3 bilinear resample over tiles (8x8 → 4x4) ----------------
    // At an exact 2× downsample the half-pixel four-tap lerp reduces to
    // 2x2 block means, which the oracle reproduces in closed form.
    QuerySpec("q85_bilinear_tiles", (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          r4(aggregate(
            graft.raster.RasterKernels.resampleBilinear(
              col("embedding"), lit(8), lit(8), 4, 4),
            lit(0.0), (a, p) => a + p.cast("double"))).as("checksum"))
        .orderBy(col("vec_id")),
      Some("""SELECT vec_id, round(list_aggregate(list_transform(
        |  generate_series(0, 15),
        |  i -> CAST((CAST(embedding[(i // 4 * 2) * 8 + (i % 4) * 2 + 1] AS DOUBLE)
        |           + CAST(embedding[(i // 4 * 2) * 8 + (i % 4) * 2 + 2] AS DOUBLE)
        |           + CAST(embedding[(i // 4 * 2 + 1) * 8 + (i % 4) * 2 + 1] AS DOUBLE)
        |           + CAST(embedding[(i // 4 * 2 + 1) * 8 + (i % 4) * 2 + 2] AS DOUBLE))
        |           / 4.0 AS FLOAT)),
        |  'sum'), 4) AS checksum
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    // ---- §2.8 R4 quicklook scaling ---------------------------------------
    QuerySpec("q39_quicklook_scale", (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          r4(aggregate(
            graft.raster.RasterKernels.quicklookScale(col("embedding"), lit(-9999.0)),
            lit(0.0), (a, p) => a + p.cast("double"))).as("checksum"))
        .orderBy(col("vec_id")),
      Some("""SELECT vec_id, round(list_aggregate(list_transform(
        |  CAST(embedding AS DOUBLE[]),
        |  x -> CAST(least(x/10000.0*255.0, 255.0) AS FLOAT)),
        |  'sum'), 4) AS checksum
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    // ---- S5/S7 physical layer: the oracle sums the raw parquet arrays,
    // the Spark side sums pixels AFTER a write→read round trip through
    // real tiled-deflate GeoTIFF files (distributed writer + binaryFile
    // reader) — hashes match because the float32 container is bit-exact --
    QuerySpec("q96_geotiff_roundtrip", (s, d) => {
      val scenes = Tables.embeddings(s, d)
        .filter(col("vec_id") < 64)
        .select(col("vec_id").cast("string").as("scene_id"),
          lit("B1").as("band"), lit(8).as("height"), lit(8).as("width"),
          lit(-9999.0f).as("nodata"), col("embedding").as("pixels"))
      val dir = java.nio.file.Files.createTempDirectory("q96_gtiff").toString
      graft.raster.SceneIO.writeGeoTiffScenes(
        graft.raster.SceneIO.tileScene(scenes, 4, 4), dir,
        tileSize = 16, overviewFactors = Seq(2)).count() // force the writes
      graft.raster.SceneIO.readGeoTiffScenes(s, dir)
        .select(col("scene_id").cast("long").as("vec_id"),
          r4(aggregate(col("pixels"), lit(0.0), (a, p) => a + p.cast("double")))
            .as("checksum"))
        .orderBy(col("vec_id"))
    },
      Some("""SELECT vec_id,
        |  round(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum'), 4) AS checksum
        |FROM embeddings WHERE vec_id < 64 ORDER BY vec_id""".stripMargin)),
    // ---- S7 integer container twin of q96: the same write→read round
    // trip through the i16 sample format (the dtype the reference
    // publishes, index_generator.py:109–136). Pixels are embeddings
    // scaled by 1024 — a power of two, so float32 and the oracle's
    // double arithmetic agree bit-exactly and the clamp+truncate the
    // container applies is the only transformation under test ----------
    QuerySpec("q96_i16_roundtrip", (s, d) => {
      val scenes = Tables.embeddings(s, d)
        .filter(col("vec_id") < 64)
        .select(col("vec_id").cast("string").as("scene_id"),
          lit("B1").as("band"), lit(8).as("height"), lit(8).as("width"),
          lit(-9999.0f).as("nodata"),
          transform(col("embedding"), x => x * lit(1024.0f)).as("pixels"))
      val dir = java.nio.file.Files.createTempDirectory("q96_i16").toString
      graft.raster.SceneIO.writeGeoTiffScenes(
        graft.raster.SceneIO.tileScene(scenes, 4, 4), dir,
        tileSize = 16, overviewFactors = Seq(2), dtype = "i16").count()
      graft.raster.SceneIO.readGeoTiffScenes(s, dir)
        .select(col("scene_id").cast("long").as("vec_id"),
          aggregate(col("pixels"), lit(0L), (a, p) => a + p.cast("long"))
            .as("checksum"))
        .orderBy(col("vec_id"))
    },
      Some("""SELECT vec_id,
        |  CAST(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> trunc(least(greatest(x * 1024, -32768.0), 32767.0))),
        |    'sum') AS BIGINT) AS checksum
        |FROM embeddings WHERE vec_id < 64 ORDER BY vec_id""".stripMargin)),
    // ---- windowed COG read (S5's ds.read(1, window=w) on the COG side):
    // the scenes are written once as a tiled pyramid (memoized layout),
    // then read through GeoTiff.decodeWindow. The 8x8 bench scenes fit
    // one TIFF tile (tile dims are 16-multiples), so this query verifies
    // the windowed VALUES end to end distributed; tile pruning itself is
    // proven in GeoTiffSpec by corrupting every disjoint segment. The
    // oracle recomputes the same window sum from the raw embedding
    // arrays with an indexed list filter ------------------------------
    QuerySpec("q105_cog_window", (s, d) => {
      val dir = memoLayout("q105_cog", d) { tmp =>
        val scenes = Tables.embeddings(s, d)
          .filter(col("vec_id") < 64)
          .select(col("vec_id").cast("string").as("scene_id"),
            lit("B1").as("band"), lit(8).as("height"), lit(8).as("width"),
            lit(-9999.0f).as("nodata"), col("embedding").as("pixels"))
        graft.raster.SceneIO.writeGeoTiffScenes(
          graft.raster.SceneIO.tileScene(scenes, 4, 4), tmp,
          tileSize = 16, overviewFactors = Seq(2)).count()
      }
      graft.raster.SceneIO.readGeoTiffScenes(s, dir, window = Some((3, 2, 4, 5)))
        .select(col("scene_id").cast("long").as("vec_id"),
          r4(aggregate(col("pixels"), lit(0.0), (a, p) => a + p.cast("double")))
            .as("win_sum"))
        .orderBy(col("vec_id"))
    },
      Some(// window (x0=3, y0=2, w=4, h=5) of the row-major 8x8 scene: rows
      // 2..6, cols 3..6 — the indexed list_filter keeps source order, so
      // the double sum folds in the same element order as the Spark side
      """SELECT vec_id,
        |  round(list_aggregate(list_filter(CAST(embedding AS DOUBLE[]),
        |    (x, i) -> ((i - 1) // 8) BETWEEN 2 AND 6
        |           AND ((i - 1) % 8) BETWEEN 3 AND 6), 'sum'), 4) AS win_sum
        |FROM embeddings WHERE vec_id < 64 ORDER BY vec_id""".stripMargin)),
    // ---- ranged COG window read (r10): the same window as q105 but
    // through SceneIO.readGeoTiffScenesRanged — Hadoop positional reads
    // fetch only header+IFD+touched tiles instead of materializing the
    // file (the object-store GET-Range path; RangedReadSpec asserts the
    // <5% bytes-read bound at production size). Oracle identical to q105:
    // the IO strategy must never change the answer --------------------
    QuerySpec("q106_cog_ranged", (s, d) => {
      val dir = memoLayout("q105_cog", d) { tmp =>
        val scenes = Tables.embeddings(s, d)
          .filter(col("vec_id") < 64)
          .select(col("vec_id").cast("string").as("scene_id"),
            lit("B1").as("band"), lit(8).as("height"), lit(8).as("width"),
            lit(-9999.0f).as("nodata"), col("embedding").as("pixels"))
        graft.raster.SceneIO.writeGeoTiffScenes(
          graft.raster.SceneIO.tileScene(scenes, 4, 4), tmp,
          tileSize = 16, overviewFactors = Seq(2)).count()
      }
      graft.raster.SceneIO.readGeoTiffScenesRanged(s, dir, window = Some((3, 2, 4, 5)))
        .select(col("scene_id").cast("long").as("vec_id"),
          r4(aggregate(col("pixels"), lit(0.0), (a, p) => a + p.cast("double")))
            .as("win_sum"))
        .orderBy(col("vec_id"))
    },
      // same oracle as q105 on purpose: the ranged IO path must produce the
      // byte-identical answer to the materialize-then-decode path
      Some("""SELECT vec_id,
        |  round(list_aggregate(list_filter(CAST(embedding AS DOUBLE[]),
        |    (x, i) -> ((i - 1) // 8) BETWEEN 2 AND 6
        |           AND ((i - 1) % 8) BETWEEN 3 AND 6), 'sum'), 4) AS win_sum
        |FROM embeddings WHERE vec_id < 64 ORDER BY vec_id""".stripMargin)),
    // ---- Sentinel-2 JP2 ingest: decode the checked-in JPEG 2000 fixture
    // (reversible 5/3 path — publish.py:263–270 reads *B02.jp2 through
    // rasterio) on EXECUTORS, tile it ragged 16×16, run identity band
    // math, and reduce per-window pixel sums. The oracle recomputes the
    // sums from the fixture's closed-form pixel formula v(r,c) =
    // (r*31+c*7) % 3000 in pure SQL — fully independent of both the
    // encoder that produced the file and the decoder under test ---------
    QuerySpec("q101_jp2_decode", (s, _) => {
      import s.implicits._
      val bytes = {
        val in = getClass.getResourceAsStream("/graft/tiny_band_B02.jp2")
        try in.readAllBytes() finally in.close()
      }
      val tiles = SceneIO.tileScene(
        s.sparkContext.parallelize(Seq(("S2FIX", "B02", bytes)), 1).toDF("scene_id", "band", "content")
          .as[(String, String, Array[Byte])]
          .map { case (sid, band, b) =>
            val img = graft.sources.Jp2Decode.decode(b)
            (sid, band, img.height, img.width, -1f, img.pixels)
          }
          .toDF("scene_id", "band", "height", "width", "nodata", "pixels"),
        16, 16)
      RasterKernels.bandMath(RasterKernels.pivotBands(tiles),
          "B02", "OUT", -1.0, 0.0, 4095.0)
        .select(col("window_row").cast("long").as("window_row"),
          col("window_col").cast("long").as("window_col"),
          aggregate(col("pixels"), lit(0L), (acc, x) => acc + x.cast("long")).as("sum_v"),
          size(col("pixels")).cast("long").as("n"))
        .orderBy(col("window_row"), col("window_col"))
    },
      // q101's oracle is the fixture's closed-form pixel formula (see
      // scripts/gen_jp2_fixture.py) evaluated in pure SQL over the 97×61
      // grid with the same ragged 16×16 tiling — no parquet table involved,
      // and independent of both JP2 implementations.
      Some("""SELECT r // 16 AS window_row, c // 16 AS window_col,
        |  CAST(sum((r*31 + c*7) % 3000) AS BIGINT) AS sum_v, count(*) AS n
        |FROM range(61) t(r), range(97) u(c)
        |GROUP BY 1, 2 ORDER BY window_row, window_col""".stripMargin)),
    // ---- the production Sentinel-2 codestream shape end to end: the
    // checked-in fixture carries EVERY structural feature a Kakadu-encoded
    // L1C band file uses — 2x3 tile grid, per-resolution custom precincts,
    // 3 quality layers in RPCL order, SOP/EPH framing — decoded on
    // executors and reduced to per-window pixel sums. The oracle
    // recomputes the fixture's closed-form hash pixels in pure SQL -------
    QuerySpec("q102_jp2_kakadu", (s, _) => {
      import s.implicits._
      val bytes = {
        val in = getClass.getResourceAsStream("/graft/works_64x96_d12_l3.j2k")
        try in.readAllBytes() finally in.close()
      }
      val tiles = SceneIO.tileScene(
        s.sparkContext.parallelize(Seq(("S2KDU", "B03", bytes)), 1).toDF("scene_id", "band", "content")
          .as[(String, String, Array[Byte])]
          .map { case (sid, band, b) =>
            val img = graft.sources.Jp2Decode.decode(b)
            (sid, band, img.height, img.width, -1f, img.pixels)
          }
          .toDF("scene_id", "band", "height", "width", "nodata", "pixels"),
        16, 16)
      tiles
        .select(col("window_row").cast("long").as("window_row"),
          col("window_col").cast("long").as("window_col"),
          aggregate(col("pixels"), lit(0L), (acc, x) => acc + x.cast("long")).as("sum_v"),
          size(col("pixels")).cast("long").as("n"))
        .orderBy(col("window_row"), col("window_col"))
    },
      // q102's oracle: the battery's hash-pixel formula
      // v(i) = ((i * 2654435761) >> 13) & 4095 over the 64x96 grid with the
      // same ragged 16x16 tiling (scripts/gen_jp2_battery.py) — independent
      // of both JP2 implementations
      Some("""SELECT r // 16 AS window_row, c // 16 AS window_col,
        |  CAST(sum(((r*96 + c) * 2654435761 >> 13) & 4095) AS BIGINT) AS sum_v,
        |  count(*) AS n
        |FROM range(64) t(r), range(96) u(c)
        |GROUP BY 1, 2 ORDER BY window_row, window_col""".stripMargin)),
    // ---- the Sentinel-2 PVI RGB quicklook asset (publish.py:178–179,
    // 263 reads the 3-component `*PVI*.jp2` preview): decode the
    // checked-in PVI-miniature fixture — RGB + reversible color
    // transform + tiled + custom precincts + SOP/EPH + 2 quality layers
    // in a JP2 container — on EXECUTORS, one row per component, tile
    // 16×16 and reduce per-(component, window) pixel sums. The oracle
    // recomputes each plane's closed-form hash formula in pure SQL,
    // independent of both JP2 implementations (and of the RCT round
    // trip under test) -------------------------------------------------
    QuerySpec("q103_jp2_rgb", (s, _) => {
      import s.implicits._
      val bytes = {
        val in = getClass.getResourceAsStream("/graft/pvi_64x96_d8_l2.jp2")
        try in.readAllBytes() finally in.close()
      }
      val rgb = s.sparkContext.parallelize(Seq(("S2PVI", bytes)), 1)
        .toDF("scene_id", "content")
        .as[(String, Array[Byte])]
        .flatMap { case (sid, b) =>
          val img = graft.sources.Jp2Decode.decodeMulti(b)
          (0 until img.comps).map { ci =>
            (sid, ci.toString, img.height, img.width, -1f, img.planes(ci))
          }
        }
        .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
      SceneIO.tileScene(rgb, 16, 16)
        .select(col("band").cast("long").as("comp"),
          col("window_row").cast("long").as("window_row"),
          col("window_col").cast("long").as("window_col"),
          aggregate(col("pixels"), lit(0L), (acc, x) => acc + x.cast("long")).as("sum_v"),
          size(col("pixels")).cast("long").as("n"))
        .orderBy(col("comp"), col("window_row"), col("window_col"))
    },
      // q103's oracle: the PVI fixture's per-component hash formula
      // v(comp, i) = ((i * (2654435761 + comp*97)) >> 13) & 255 over the
      // 64x96 RGB grid with the same ragged 16x16 tiling
      // (scripts/gen_jp2_battery.py MULTI_CASES) — independent of both JP2
      // implementations and of the RCT round trip
      Some("""SELECT comp, r // 16 AS window_row, c // 16 AS window_col,
        |  CAST(sum(((r*96 + c) * (2654435761 + comp*97) >> 13) & 255) AS BIGINT) AS sum_v,
        |  count(*) AS n
        |FROM range(3) s(comp), range(64) t(r), range(96) u(c)
        |GROUP BY 1, 2, 3 ORDER BY comp, window_row, window_col""".stripMargin)),
    // ---- the IRREVERSIBLE JPEG 2000 path (lossy 9/7 + scalar
    // quantization + ICT — the regime lossy-coded preview/quicklook
    // products carry): decode the pvi97 fixture — RGB 9/7 + ICT + tiled
    // + precincts + SOP/EPH + 2 layers RPCL in a JP2 container — on
    // EXECUTORS and reduce per-(component, window) pixel sums. Lossy
    // decode can't oracle against the source formula, so the oracle pins
    // the INDEPENDENT Python reference decoder's output (the same
    // two-implementation conformance bridge as the battery spec): its
    // per-window sums are baked into the oracle SQL as literals at
    // fixture-generation time — any drift in dequantization, 9/7
    // lifting, ICT constants or rounding breaks the hash match ----------
    QuerySpec("q104_jp2_irreversible", (s, _) => {
      import s.implicits._
      val bytes = {
        val in = getClass.getResourceAsStream("/graft/pvi97_64x96_d8_l2.jp2")
        try in.readAllBytes() finally in.close()
      }
      val rgb = s.sparkContext.parallelize(Seq(("S2PVI97", bytes)), 1)
        .toDF("scene_id", "content")
        .as[(String, Array[Byte])]
        .flatMap { case (sid, b) =>
          val img = graft.sources.Jp2Decode.decodeMulti(b)
          (0 until img.comps).map { ci =>
            (sid, ci.toString, img.height, img.width, -1f, img.planes(ci))
          }
        }
        .toDF("scene_id", "band", "height", "width", "nodata", "pixels")
      SceneIO.tileScene(rgb, 16, 16)
        .select(col("band").cast("long").as("comp"),
          col("window_row").cast("long").as("window_row"),
          col("window_col").cast("long").as("window_col"),
          aggregate(col("pixels"), lit(0L), (acc, x) => acc + x.cast("long")).as("sum_v"),
          size(col("pixels")).cast("long").as("n"))
        .orderBy(col("comp"), col("window_row"), col("window_col"))
    },
      // q104's oracle: the lossy 9/7+ICT decode pinned against the
      // INDEPENDENT Python reference decoder (scripts/jp2codec.py) — its
      // per-(component, 16x16-window) pixel sums over the pvi97 fixture,
      // computed at fixture-generation time and baked in as literals.
      // 72 rows = 3 components x 4x6 windows over the 64x96 image.
      Some("""SELECT CAST(comp AS BIGINT) AS comp,
        |  CAST(window_row AS BIGINT) AS window_row,
        |  CAST(window_col AS BIGINT) AS window_col,
        |  CAST(sum_v AS BIGINT) AS sum_v, CAST(n AS BIGINT) AS n
        |FROM (VALUES
        |(0,0,0,32790,256),(0,0,1,32491,256),(0,0,2,32453,256),(0,0,3,32668,256),(0,0,4,32631,256),(0,0,5,32590,256),
        |(0,1,0,32581,256),(0,1,1,32797,256),(0,1,2,32756,256),(0,1,3,32461,256),(0,1,4,32422,256),(0,1,5,32639,256),
        |(0,2,0,32372,256),(0,2,1,32846,256),(0,2,2,32548,256),(0,2,3,32766,256),(0,2,4,32981,256),(0,2,5,32431,256),
        |(0,3,0,32675,256),(0,3,1,32637,256),(0,3,2,32597,256),(0,3,3,32559,256),(0,3,4,33029,256),(0,3,5,32734,256),
        |(1,0,0,32433,256),(1,0,1,32442,256),(1,0,2,32451,256),(1,0,3,32716,256),(1,0,4,32726,256),(1,0,5,32735,256),
        |(1,1,0,32530,256),(1,1,1,32539,256),(1,1,2,33058,256),(1,1,3,32812,256),(1,1,4,32566,256),(1,1,5,32317,256),
        |(1,2,0,32626,256),(1,2,1,32890,256),(1,2,2,32898,256),(1,2,3,32653,256),(1,2,4,32405,256),(1,2,5,32926,256),
        |(1,3,0,32721,256),(1,3,1,32987,256),(1,3,2,32228,256),(1,3,3,32235,256),(1,3,4,32501,256),(1,3,5,32767,256),
        |(2,0,0,32336,256),(2,0,1,32909,256),(2,0,2,32706,256),(2,0,3,32506,256),(2,0,4,32307,256),(2,0,5,32105,256),
        |(2,1,0,32480,256),(2,1,1,32282,256),(2,1,2,32851,256),(2,1,3,33165,256),(2,1,4,32962,256),(2,1,5,32762,256),
        |(2,2,0,32617,256),(2,2,1,32429,256),(2,2,2,32230,256),(2,2,3,32538,256),(2,2,4,32851,256),(2,2,5,32653,256),
        |(2,3,0,33018,256),(2,3,1,32827,256),(2,3,2,32627,256),(2,3,3,32429,256),(2,3,4,32486,256),(2,3,5,32794,256)
        |) v(comp, window_row, window_col, sum_v, n)
        |ORDER BY comp, window_row, window_col""".stripMargin)),
    // ---- ranged JP2 window read (r10): the JP2 counterpart of
    // q106_cog_ranged — positional reads fetch only the main header, the
    // tile-part header with its PLT table, and the window's precinct
    // packet ranges (Jp2Ranged), never the whole band file. The fixture
    // is the battery's PLT+precincts stream (hash pixels v(i) =
    // ((i*2654435761)>>13)&4095 over a 96x64 grid); the oracle recomputes
    // the window sum from that closed form in pure SQL — the IO strategy
    // must never change the answer -------------------------------------
    QuerySpec("q108_jp2_ranged", (s, d) => {
      val dir = memoLayout("q108_jp2", d) { tmp =>
        val in = getClass.getResourceAsStream("/graft/jp2/plt_96x64_d12_p5.j2k")
        val bytes = try in.readAllBytes() finally in.close()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp, "S2PLT__B02.j2k"), bytes)
      }
      SceneIO.readJp2ScenesRanged(s, dir, window = Some((8, 16, 20, 12)))
        .select(col("scene_id"),
          col("height").cast("long").as("height"),
          col("width").cast("long").as("width"),
          aggregate(col("pixels"), lit(0L), (a, p) => a + p.cast("long"))
            .as("sum_px"),
          size(col("pixels")).cast("long").as("n"))
    },
      // q108's oracle: the PLT fixture's hash-pixel formula
      // v(i) = ((i * 2654435761) >> 13) & 4095 over the 96x64 grid
      // (scripts/gen_jp2_battery.py), summed over the (8,16) 20x12 window —
      // independent of both JP2 implementations AND of the ranged IO path
      Some("""SELECT 'S2PLT' AS scene_id, CAST(12 AS BIGINT) AS height,
        |  CAST(20 AS BIGINT) AS width,
        |  CAST(sum((((16 + r) * 64 + 8 + c) * 2654435761 >> 13) & 4095) AS BIGINT) AS sum_px,
        |  CAST(240 AS BIGINT) AS n
        |FROM range(12) a(r), range(20) b(c)""".stripMargin))
  )
}
