package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scene-identifier parsing and path/mime helpers (SURVEY.md §2.9, R9) —
  * pure string expressions, fully codegen'd.
  *
  * Grammars handled (FIXTURES.md §3; reference parse sites:
  * celery/tasks.py:283–289, celery/publish.py:284–287, 306, 411,
  * collections/hdf.py:72–76, controller.py:552–553):
  *  - Sentinel-2: `S2A_MSIL1C_20200110T132231_N0208_R038_T23LLF_20200110T145523`
  *  - Landsat C2: `LC08_L1TP_223064_20200110_20200120_02_T1`
  *  - MODIS:      `MOD13Q1.A2020009.h13v10.006.2020026`
  */
object SceneFunctions {

  /** Satellite family: S2 / LANDSAT / MODIS / UNKNOWN (tasks.py:424,
    * publish.py:262, hdf.py:75 prefix dispatch). */
  def sceneFamily(sceneId: Column): Column =
    when(sceneId.startsWith("S2"), "S2")
      .when(sceneId.rlike("^L[COTEM]0[0-9]_"), "LANDSAT")
      .when(sceneId.startsWith("MOD") || sceneId.startsWith("MYD"), "MODIS")
      .otherwise("UNKNOWN")

  /** Sentinel-2 MGRS tile (`T23LLF` → `23LLF`, tasks.py:283–285). */
  def s2Tile(sceneId: Column): Column =
    regexp_extract(sceneId, "_T([0-9]{2}[A-Z]{3})_", 1)

  /** Sentinel-2 level: MSIL1C/MSIL2A (publish.py:411 re.subn target). */
  def s2Level(sceneId: Column): Column =
    regexp_extract(sceneId, "_(MSIL[12][AC])_", 1)

  /** Landsat path/row (`223064`). */
  def landsatPathRow(sceneId: Column): Column =
    regexp_extract(sceneId, "^L[COTEM]0[0-9]_[A-Z0-9]+_(\\d{6})_", 1)

  /** MODIS `hHHvVV` tile → the reference's 6-digit `HHH0VV` form
    * (`h13v10` → `013010`, publish.py:306). */
  def modisTileTo6Digit(tile: Column): Column =
    concat(
      lpad(regexp_extract(tile, "h(\\d+)v", 1), 3, "0"),
      lpad(regexp_extract(tile, "v(\\d+)$", 1), 3, "0"))

  /** Inverse rewrite: `013010` → `h13v10` (controller.py:552–553). */
  def sixDigitToModisTile(code: Column): Column =
    concat(lit("h"), substring(code, 2, 2), lit("v"), substring(code, 5, 2))

  /** MODIS tile from a scene id (`...h13v10...`). */
  def modisTile(sceneId: Column): Column =
    regexp_extract(sceneId, "\\.(h\\d{2}v\\d{2})\\.", 1)

  /** MODIS acquisition date from `AYYYYDDD` (hdf.py band naming context);
    * null for other grammars and impossible days, where ANSI `to_date`
    * would fail the whole query over a mixed scene column. */
  def modisDate(sceneId: Column): Column =
    try_to_date(regexp_extract(sceneId, "\\.A(\\d{7})\\.", 1), "yyyyDDD")

  /** Mime type by file extension (publish.py:49–56). */
  def mimeByExtension(path: Column): Column =
    when(path.endsWith(".tif") || path.endsWith(".tiff"),
        "image/tiff; application=geotiff; profile=cloud-optimized")
      .when(path.endsWith(".jp2"), "image/jp2")
      .when(path.endsWith(".png"), "image/png")
      .when(path.endsWith(".hdf"), "application/x-hdf")
      .when(path.endsWith(".xml"), "application/xml")
      .when(path.endsWith(".json"), "application/json")
      .otherwise("application/octet-stream")

  /** Band name from an asset path: `..._B04.jp2`/`..._B04_10m.jp2` → `B04`
    * (publish.py:263–270 glob + 440/472 `_10m` suffix strip). */
  def bandFromPath(path: Column): Column =
    regexp_extract(path, "_(B[0-9A-Z]{2,3}|SCL|AOT|WVP|TCI|Fmask4|NDVI|EVI)(?:_\\d+m)?\\.[a-z0-9]+$", 1)
}
