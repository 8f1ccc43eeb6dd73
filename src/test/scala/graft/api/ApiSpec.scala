package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ApiSpec extends SparkSpec {
  import spark.implicits._

  private def acts = Seq(
    ("s1", 1, "download", "FAILURE", 3),
    ("s2", 1, "download", "SUCCESS", 0),
    ("s3", 2, "download", "FAILURE", 3),
    ("s1", 1, "publish", "PENDING", 0))
    .toDF("sceneid", "collection_id", "activity_type", "status", "retry_count")

  test("restart resets failed activities and requires a restriction (controller.py:86–151)") {
    val out = Api.restartActivities(acts, collectionId = Some(1))
    val s1 = out.filter(col("sceneid") === "s1" && col("activity_type") === "download").head()
    assert(s1.getAs[String]("status") == "PENDING" && s1.getAs[Int]("retry_count") == 0)
    // other collection untouched; successful rows untouched
    assert(out.filter(col("sceneid") === "s3").head().getAs[String]("status") == "FAILURE")
    assert(out.filter(col("sceneid") === "s2").head().getAs[String]("status") == "SUCCESS")
    // unrestricted restart is rejected
    assertThrows[IllegalArgumentException](Api.restartActivities(acts))
    // errorsOnly=false resets any matching row
    val all = Api.restartActivities(acts, sceneIds = Seq("s2"), errorsOnly = false)
    assert(all.filter(col("sceneid") === "s2").head().getAs[String]("status") == "PENDING")
  }

  test("collections/grids/tiles listing routes (controller.py:623–690)") {
    val collections = Seq((2, "S2_L2A", "collection"), (1, "CB4", "cube"))
      .toDF("id", "name", "collection_type")
    assert(Api.listCollections(collections) ==
      """[{"id":1,"name":"CB4","collection_type":"cube"},{"id":2,"name":"S2_L2A","collection_type":"collection"}]""")
    val grids = Seq(("MGRS", "Sentinel-2 grid")).toDF("name", "description")
    assert(Api.listGrids(grids).contains("\"name\":\"MGRS\""))
    val tiles = Seq((10, "23LLF"), (11, "24XXX")).toDF("id", "tile")
    val items = Seq(("a", 1, 10), ("b", 1, 10), ("c", 2, 11)).toDF("name", "collection_id", "tile_id")
    assert(Api.listCollectionTiles(items, tiles, 1) == """[{"tile":"23LLF"}]""")
  }

  test("listActivities envelope + filters (views.py:33–49)") {
    val json = Api.listActivities(acts, collectionId = Some(1), activityTypeContains = Some("down"))
    assert(json.contains("\"total\":2"))
    assert(json.contains("\"sceneid\":\"s1\"") && json.contains("\"sceneid\":\"s2\""))
    assert(!json.contains("\"sceneid\":\"s3\""))
  }

  test("activity count and radcor preview routes (controller.py:389–391, 448–495)") {
    val executions = Seq(
      ("s1", "2020-01-01 10:00:00", 1, "FAILURE"),
      ("s1", "2020-01-02 09:00:00", 2, "SUCCESS"),
      ("s2", "2020-01-01 11:00:00", 1, "SUCCESS"),
      ("s2", "2020-01-02 12:00:00", 2, "FAILURE"),
      ("s3", "2020-01-02 12:00:00", 1, "FAILURE"),
      ("s3", "2020-01-02 12:00:00", 2, "SUCCESS"))
      .toDF("sceneid", "ts", "attempt", "status")
      .withColumn("ts", to_timestamp(col("ts")))
    assert(Api.countActivitiesByDay(executions) ==
      """[{"day":"2020-01-01","status":"FAILURE","n":1},""" +
      """{"day":"2020-01-01","status":"SUCCESS","n":1},""" +
      """{"day":"2020-01-02","status":"FAILURE","n":2},""" +
      """{"day":"2020-01-02","status":"SUCCESS","n":2}]""")
    // latest run per scene: s1 succeeded, s2 failed, s3's tie at one ts
    // resolves to the higher attempt (SUCCESS)
    assert(Api.countUnsuccessfullyActivities(executions) == """{"failed":1}""")
    val snapshot = Seq(
      ("S2_b", "23LLF", "2020-01-10", 5.0, "http://x/b"),
      ("S2_a", "23LLF", "2020-01-05", 40.0, "http://x/a"),
      ("S2_c", "23LLF", "2020-01-06", 90.0, "http://x/c"),
      ("S2_d", "24XXX", "2020-01-07", 1.0, "http://x/d"),
      ("S2_e", "23LLF", "2020-03-01", 1.0, "http://x/e"))
      .toDF("scene_id", "tile", "sensing_date", "cloud_cover", "link")
    assert(Api.radcorPreview(snapshot, Seq("23LLF"), "2020-01-01", "2020-01-31", 50.0) ==
      """[{"scene_id":"S2_a","cloud_cover":40.0,"link":"http://x/a"},""" +
      """{"scene_id":"S2_b","cloud_cover":5.0,"link":"http://x/b"}]""")
  }
}
