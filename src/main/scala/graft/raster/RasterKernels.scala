package graft.raster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.BandExpressionCompiler

/** One raster block window as a row: the engine's distributed unit of pixel
  * work. The reference iterates `rasterio` block windows sequentially
  * (collections/index_generator.py:121–136, collections/utils.py:350–373);
  * here each block is a row of a `raster_tiles` DataFrame and kernels are
  * Catalyst array expressions — blocks process in parallel across
  * executors, and multi-band arithmetic is fused per pixel inside
  * whole-stage codegen.
  *
  * Scale design: block size is chosen at ingest (256²–1024² px ⇒ 0.25–4 MB
  * rows) so a 100 TB collection becomes billions of independent rows;
  * kernels are narrow (no shuffle) except the per-scene regroup, which
  * shuffles only (scene, window) keys plus the band payloads actually used.
  */
final case class RasterTile(
    scene_id: String,
    band: String,
    window_row: Int,
    window_col: Int,
    height: Int,
    width: Int,
    nodata: Double,
    pixels: Array[Float])

object RasterKernels {

  /** Regroup a long tiles DataFrame (one row per scene/band/window) into one
    * row per (scene, window) with a band→pixels map — the shape every
    * multi-band kernel consumes. The grouping is satisfied by any
    * partitioning on scene_id: over scene-partitioned tiles
    * ([[SceneIO.readGeoTiffScenes]]) it plans no exchange, otherwise one
    * hash exchange on the group key. */
  def pivotBands(tiles: DataFrame): DataFrame =
    tiles.groupBy(col("scene_id"), col("window_row"), col("window_col"),
        col("height"), col("width"))
      .agg(map_from_entries(collect_list(struct(col("band"), col("pixels")))).as("bands"),
        map_from_entries(collect_list(struct(col("band"), col("nodata")))).as("nodatas"))

  /** R1 — band-math expression evaluation (index_generator.py:58–149).
    * Computes `expression` per pixel over the pivoted band map, masking any
    * pixel where a source band equals its nodata (and any non-finite
    * result, e.g. 0/0 — numpy masked-division semantics), then clamping to
    * [minValue, maxValue] (the reference's dtype clamp at
    * index_generator.py:131–135) and emitting `outNodata` at masked
    * positions. Runs as the native [[graft.expr.BandMathExpr]] — one
    * closure-compiled primitive loop per tile (measured 481 MB/s on 8
    * cores vs 12 MB/s for the interpreted HOF formulation below).
    */
  def bandMath(pivoted: DataFrame, expression: String, outBand: String,
               outNodata: Double, minValue: Double, maxValue: Double): DataFrame = {
    val ast = BandExpressionCompiler.parse(expression)
    val refs0 = BandExpressionCompiler.references(ast).toSeq.sorted
    require(refs0.nonEmpty, "expression references no bands")
    import org.apache.spark.sql.graft.ColumnBridge
    val native = ColumnBridge.column(graft.expr.BandMathExpr(
      refs0.map(b => ColumnBridge.expression(element_at(col("bands"), b))),
      refs0.map(b => ColumnBridge.expression(element_at(col("nodatas"), b))),
      refs0, expression, outNodata, minValue, maxValue))
    pivoted.select(col("scene_id"), lit(outBand).as("band"),
      col("window_row"), col("window_col"), col("height"), col("width"),
      lit(outNodata).as("nodata"), native.as("pixels"))
  }

  /** All derived bands of a collection in one pass over the pivot
    * (index_generator.py:93–149): each expression band is attempted
    * independently — a band whose expression fails to compile or references
    * missing bands is SKIPPED with its error recorded, without failing the
    * scene (the reference swallows per-band errors at
    * index_generator.py:143–147). Returns (tiles of successful bands,
    * skipped (band, error) pairs). The single pivot is amortized across
    * all expression bands. */
  def bandMathAll(pivoted: DataFrame, collection: graft.model.CollectionDef)
      : (Option[DataFrame], Seq[(String, String)]) = {
    val available = collection.bands.map(_.name).toSet
    val results = collection.bands.filter(_.expression.isDefined).map { b =>
      scala.util.Try {
        val refs = BandExpressionCompiler.references(
          BandExpressionCompiler.parse(b.expression.get))
        val missing = refs -- available
        require(missing.isEmpty, s"references unknown bands: ${missing.mkString(",")}")
        bandMath(pivoted, b.expression.get, b.name, b.nodata, b.min_value, b.max_value)
      }.toEither.left.map(e => (b.name, e.getMessage))
    }
    val ok = results.collect { case Right(df) => df }
    val skipped = results.collect { case Left(err) => err }
    (ok.reduceOption(_ unionByName _), skipped)
  }

  /** HOF formulation of [[bandMath]] — executable specification the native
    * [[graft.expr.BandMathExpr]] is tested against. */
  def bandMathHof(pivoted: DataFrame, expression: String, outBand: String,
               outNodata: Double, minValue: Double, maxValue: Double): DataFrame = {
    val ast = BandExpressionCompiler.parse(expression)
    val refs = BandExpressionCompiler.references(ast).toSeq.sorted
    require(refs.nonEmpty, "expression references no bands")
    val first = element_at(col("bands"), refs.head)
    val out = transform(
      sequence(lit(0), size(first) - 1),
      i => {
        val masked = refs.map { b =>
          element_at(element_at(col("bands"), b), i + 1) === element_at(col("nodatas"), b).cast("float")
        }.reduce(_ || _)
        val value = BandExpressionCompiler.compile(ast,
          b => element_at(element_at(col("bands"), b), i + 1).cast("double"))
        when(masked, lit(outNodata))
          .otherwise(coalesce(BandExpressionCompiler.clamp(value, minValue, maxValue),
            lit(outNodata))) // NULL (e.g. 0/0 pixel) → nodata, not null
          .cast("float")
      })
    pivoted.select(col("scene_id"), lit(outBand).as("band"),
      col("window_row"), col("window_col"), col("height"), col("width"),
      lit(outNodata).as("nodata"), out.as("pixels"))
  }

  /** R2/A10 — nodata propagation into the quality band
    * (collections/utils.py:277–378): positions where ANY spectral band is
    * nodata get `qualityNodata` in the quality band. The per-window union
    * of nodata masks is a boolean-OR fold over the pivoted band map —
    * exact positions, no sketch, matching utils.py:361–369's
    * `numpy.union1d` semantics. */
  def propagateNodata(pivoted: DataFrame, spectralBands: Seq[String],
                      qualityBand: String, qualityNodata: Double): DataFrame = {
    // native path: BandMathExpr with the identity expression over the
    // quality band, masking on the spectral bands — same primitive loop
    // that makes bandMath ~40× the interpreted fold
    import org.apache.spark.sql.graft.ColumnBridge
    val bands = spectralBands :+ qualityBand
    val native = ColumnBridge.column(graft.expr.BandMathExpr(
      bands.map(b => ColumnBridge.expression(element_at(col("bands"), b))),
      bands.map(b => ColumnBridge.expression(element_at(col("nodatas"), b))),
      bands, qualityBand, qualityNodata, -Float.MaxValue.toDouble, Float.MaxValue.toDouble))
    pivoted.select(col("scene_id"), lit(qualityBand).as("band"),
      col("window_row"), col("window_col"), col("height"), col("width"),
      lit(qualityNodata).as("nodata"), native.as("pixels"))
  }

  /** HOF formulation of [[propagateNodata]] — executable specification. */
  def propagateNodataHof(pivoted: DataFrame, spectralBands: Seq[String],
                      qualityBand: String, qualityNodata: Double): DataFrame = {
    val quality = element_at(col("bands"), qualityBand)
    val out = transform(
      sequence(lit(0), size(quality) - 1),
      i => {
        val anyNodata = spectralBands.map { b =>
          element_at(element_at(col("bands"), b), i + 1) === element_at(col("nodatas"), b).cast("float")
        }.reduce(_ || _)
        when(anyNodata, lit(qualityNodata)).otherwise(element_at(quality, i + 1)).cast("float")
      })
    pivoted.select(col("scene_id"), lit(qualityBand).as("band"),
      col("window_row"), col("window_col"), col("height"), col("width"),
      lit(qualityNodata).as("nodata"), out.as("pixels"))
  }

  /** R3 — nearest-neighbour resample of a (height×width) tile to
    * (outH×outW) (collections/utils.py:317–348's out_shape read). Pure
    * index arithmetic inside one `transform`. */
  def resampleNearest(pixels: Column, height: Column, width: Column,
                      outH: Int, outW: Int): Column =
    resampleNearestDyn(pixels, height, width, lit(outH), lit(outW))

  /** HOF formulation of [[resampleNearest]] — executable specification. */
  def resampleNearestHof(pixels: Column, height: Column, width: Column,
                      outH: Int, outW: Int): Column =
    transform(
      sequence(lit(0), lit(outH * outW - 1)),
      i => {
        val or = floor(i / outW).cast("long")
        val oc = i % outW
        val sr = floor((or * height.cast("long")) / outH).cast("long")
        val sc = floor((oc * width.cast("long")) / outW).cast("long")
        element_at(pixels, (sr * width + sc).cast("int") + 1)
      })

  /** Bilinear resample — the quality upgrade over the reference's
    * nearest-only path (collections/utils.py:317–348 always resamples
    * nearest): pixel centers map via the half-pixel convention
    * (src = (dst + 0.5)·scale − 0.5, edge-clamped), four-tap lerp.
    * Pure expression tree like the nearest kernel; reduces the blocky
    * aliasing of nearest on quicklook downsamples. At integer-identity
    * scales it reproduces the source exactly (asserted in spec). */
  def resampleBilinear(pixels: Column, height: Column, width: Column,
                       outH: Int, outW: Int): Column =
    transform(
      sequence(lit(0), lit(outH * outW - 1)),
      i => {
        val h = height.cast("double"); val w = width.cast("double")
        val or = floor(i / outW).cast("double")
        val oc = (i % outW).cast("double")
        val fy = greatest(lit(0.0), least((or + 0.5) * h / outH - 0.5, h - 1))
        val fx = greatest(lit(0.0), least((oc + 0.5) * w / outW - 0.5, w - 1))
        val y0 = floor(fy); val x0 = floor(fx)
        val y1 = least(y0 + 1, h - 1); val x1 = least(x0 + 1, w - 1)
        val wy = fy - y0; val wx = fx - x0
        def px(y: Column, x: Column) =
          element_at(pixels, (y * w + x).cast("int") + 1).cast("double")
        val top = px(y0, x0) * (lit(1.0) - wx) + px(y0, x1) * wx
        val bot = px(y1, x0) * (lit(1.0) - wx) + px(y1, x1) * wx
        (top * (lit(1.0) - wy) + bot * wy).cast("float")
      })

  /** R4 — RGB quicklook composite scaling (celery/publish.py:59–91):
    * x/10000*255 clipped to [0,255], nodata → 0 (transparent). Applied
    * per band; the caller resamples each band to the quicklook grid first
    * and zips three of these into an image. */
  def quicklookScale(pixels: Column, nodata: Column): Column =
    transform(pixels, p =>
      when(p === nodata.cast("float"), lit(0.0f))
        .otherwise(least(p.cast("double") / 10000.0 * 255.0, lit(255.0)).cast("float")))

  /** A9 — per-tile min/max (publish.py:85 empty-band guard), as columns. */
  def tileMin(pixels: Column, nodata: Column): Column =
    array_min(filter(pixels, p => p =!= nodata.cast("float")))
  def tileMax(pixels: Column, nodata: Column): Column =
    array_max(filter(pixels, p => p =!= nodata.cast("float")))

  /** Per-scene empty-band check: true when every valid pixel of every tile
    * of the band is absent/zero (publish.py:85 guards `min!=0 or max!=0`). */
  def emptyBands(tiles: DataFrame): DataFrame =
    tiles.groupBy(col("scene_id"), col("band"))
      .agg(max(tileMax(col("pixels"), col("nodata"))).as("mx"),
        min(tileMin(col("pixels"), col("nodata"))).as("mn"))
      .filter((col("mx").isNull && col("mn").isNull) || (col("mx") === 0 && col("mn") === 0))
      .select(col("scene_id"), col("band"))

  /** S8 — overview pyramid (collections/utils.py:381–401 build_overviews
    * factors 2..64): per factor, a downsampled tile set via
    * `resampleNearest`; emitted as extra rows tagged with the factor. */
  def overviews(tiles: DataFrame, factors: Seq[Int] = Seq(2, 4, 8, 16, 32, 64)): DataFrame = {
    val perFactor = factors.map { f =>
      tiles.filter(col("height") % f === 0 && col("width") % f === 0)
        .withColumn("factor", lit(f))
        .withColumn("out_h", (col("height") / f).cast("int"))
        .withColumn("out_w", (col("width") / f).cast("int"))
    }
    perFactor.reduce(_ unionByName _)
      .select(col("scene_id"), col("band"), col("window_row"), col("window_col"),
        col("factor"), col("out_h").as("height"), col("out_w").as("width"), col("nodata"),
        resampleNearestDyn(col("pixels"), col("height"), col("width"),
          col("out_h"), col("out_w")).as("pixels"))
  }

  /** resampleNearest with column output dims (used by overviews) — native
    * [[graft.expr.ResampleNearestExpr]]. */
  def resampleNearestDyn(pixels: Column, height: Column, width: Column,
                         outH: Column, outW: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expr.ResampleNearestExpr(
      ColumnBridge.expression(pixels), ColumnBridge.expression(height),
      ColumnBridge.expression(width), ColumnBridge.expression(outH),
      ColumnBridge.expression(outW)))
  }
}
