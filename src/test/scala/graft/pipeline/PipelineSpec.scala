package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import java.util.concurrent.ConcurrentHashMap

/** Scenes a flaky download has seen: the first fetch of a scene is
  * offline (RETRY), every later one succeeds. JVM-wide, so the flip holds
  * wherever the kernel's UDF runs. */
object FlakyDownload {
  val seen: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
}

class PipelineSpec extends SparkSpec {
  import Pipeline._
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  private val tree = TaskNode("download", Seq(
    TaskNode("correction", Seq(TaskNode("publish", Seq(TaskNode("post")))))))

  test("flattenTree produces chain levels (controller.py:318–365)") {
    assert(flattenTree(tree) == Seq(
      ("download", None, 0), ("correction", Some("download"), 1),
      ("publish", Some("correction"), 2), ("post", Some("publish"), 3)))
  }

  test("planActivities dedups scenes and builds edges (ST4/SET1)") {
    import spark.implicits._
    val scenes = Seq("S2A_1", "S2A_2", "S2A_1").toDF("scene_id")
    val (acts, edges) = planActivities(scenes, "scene_id", 7, tree)
    assert(acts.count() == 8)            // 2 scenes × 4 stages
    assert(edges.count() == 6)           // 2 scenes × 3 child edges
    assert(acts.filter(col("status") =!= "PENDING").count() == 0)
  }

  test("mergeByKey is idempotent upsert (models.py:61 unique key)") {
    import spark.implicits._
    val existing = Seq((1, "a", "OLD"), (2, "b", "OLD")).toDF("id", "k", "v")
    val staged = Seq((2, "b", "NEW"), (3, "c", "NEW")).toDF("id", "k", "v")
    val merged = mergeByKey(existing, staged, Seq("id", "k"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(merged == Seq((1, "OLD"), (2, "NEW"), (3, "NEW")))
  }

  test("runBatch executes chain with retry and dead-letter (ST2/ST3)") {
    import spark.implicits._
    val scenes = Seq("s1", "s2", "s3").toDF("scene_id")
    val (acts, _) = planActivities(scenes, "scene_id", 1,
      TaskNode("download", Seq(TaskNode("publish"))))
    // download: s1 OK; s2 transient (succeeds on attempt 1); s3 always transient
    val download: StageKernel = df => df.withColumn("status",
      when(col("sceneid") === "s1", "SUCCESS")
        .when(col("sceneid") === "s2" && col("retry_count") >= 1, "SUCCESS")
        .otherwise("RETRY"))
    val publish: StageKernel = df => df.withColumn("status", lit("SUCCESS"))
    val (finalActs, execs) = runBatch(acts, TaskNode("download", Seq(TaskNode("publish"))),
      Map("download" -> download, "publish" -> publish), maxRetries = 2)
    val status = finalActs.collect()
      .map(r => (r.getString(r.fieldIndex("sceneid")), r.getString(r.fieldIndex("activity_type"))) ->
        r.getString(r.fieldIndex("status"))).toMap
    assert(status(("s1", "download")) == "SUCCESS")
    assert(status(("s2", "download")) == "SUCCESS")
    assert(status(("s3", "download")) == "FAILURE")       // retries exhausted
    assert(status(("s1", "publish")) == "SUCCESS")
    assert(status(("s2", "publish")) == "SUCCESS")
    assert(status(("s3", "publish")) == "PENDING")        // parent failed → never ran
    // execution history recorded attempts (models.py:90–128)
    assert(execs.filter(col("sceneid") === "s2" && col("activity_type") === "download").count() == 2)
  }

  test("firstSuccessByPriority picks highest-priority active success (collect.py:86–137)") {
    import spark.implicits._
    val outcomes = Seq(
      ("sc1", 1, false), ("sc1", 2, true), ("sc1", 3, true),
      ("sc2", 3, true)).toDF("sceneid", "provider_id", "ok")
    val providers = Seq((1, 1, true), (2, 2, true), (3, 3, false))
      .toDF("provider_id", "priority", "active")
    val got = firstSuccessByPriority(outcomes, providers)
      .select("sceneid", "provider_id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    // sc1: provider 1 failed, provider 3 inactive → provider 2 wins
    // sc2: only provider 3, inactive → no row
    assert(got == Set(("sc1", 2)))
  }

  test("runBatch evaluates each kernel once per attempt; pure kernels launch no job") {
    import spark.implicits._
    val chain = TaskNode("download", Seq(TaskNode("publish")))
    val (acts, _) = planActivities(Seq("f1", "f2", "f3").toDF("scene_id"), "scene_id", 1, chain)
    // a lazy kernel with a side effect: every evaluation of its result
    // fetches again, and a second fetch of a scene flips RETRY → SUCCESS
    val calls = spark.sparkContext.longAccumulator("download fetches")
    val fetch = udf { (scene: String) =>
      calls.add(1)
      if (FlakyDownload.seen.add(scene)) "RETRY" else "SUCCESS"
    }
    val download: StageKernel = df => df.withColumn("status", fetch(col("sceneid")))
    val publish: StageKernel = df => df.withColumn("status", lit("SUCCESS"))
    val (finalActs, execs) = runBatch(acts, chain,
      Map("download" -> download, "publish" -> publish), maxRetries = 2)
    val log = execs.collect()
    // one fetch per attempted row: 3 RETRY, then 3 SUCCESS
    assert(calls.value == 6L && log.count(_.getAs[String]("activity_type") == "download") == 6)
    // the log's last attempt per activity is the settled status
    val last = log.groupBy(r => (r.getAs[String]("sceneid"), r.getAs[String]("activity_type")))
      .map { case (k, rs) => k -> rs.maxBy(_.getAs[Int]("attempt")).getAs[String]("status") }
    val settled = finalActs.collect().map(r =>
      (r.getAs[String]("sceneid"), r.getAs[String]("activity_type")) -> r.getAs[String]("status")).toMap
    assert(last == settled && settled.values.forall(_ == "SUCCESS") && settled.size == 6)
    // the outputs keep the shapes of the DataFrame-merge implementation
    assert(finalActs.schema == acts.schema)
    assert(execs.schema.map(f => f.name -> f.dataType) == Seq("sceneid" -> StringType,
      "collection_id" -> IntegerType, "activity_type" -> StringType,
      "status" -> StringType, "attempt" -> IntegerType))

    // pure kernels: the activities collect is the only job, also when the
    // outputs are read back
    val offline: StageKernel = df => df.withColumn("status",
      when(col("sceneid") === "f1" && col("retry_count") === 0, "RETRY").otherwise("SUCCESS"))
    val baseline = jobsOf(acts.collect())
    val jobs = jobsOf {
      val (a, e) = runBatch(acts, chain, Map("download" -> offline, "publish" -> publish))
      assert(a.collect().length == 6 && e.collect().length == 7)
    }
    assert(jobs == baseline, s"runBatch launched $jobs jobs, the activities collect $baseline")
    // no attempt ran: the log is the empty frame
    val idle = runBatch(finalActs, chain, Map("download" -> offline, "publish" -> publish))._2
    assert(idle.columns.isEmpty && idle.isEmpty)
  }
}
