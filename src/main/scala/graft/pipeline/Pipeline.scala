package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Dataflow orchestration: the engine's replacement for the reference's
  * Celery task DAGs (SURVEY.md §2.11).
  *
  * Reference semantics reproduced:
  *  - nested chain/group task trees (controller.py:163–186, 318–365)
  *  - idempotent activity creation on unique (collection_id, activity_type,
  *    sceneid) (collections/models.py:61; utils.py:64–91 get_or_create)
  *  - per-activity execution history with status tracking (models.py:90–128)
  *  - retry-with-backoff for transient failures (tasks.py:129–134:
  *    max_retries=72, delay=900 s)
  *  - provider priority failover (collect.py:86–137)
  *
  * Architecture: the DAG walk is a driver-side topological loop over stage
  * LEVELS (depth of the task tree, single digits). A batch's activity
  * table is a dozen rows, so [[runBatch]] collects it once and walks it on
  * the driver: each kernel receives its pending rows as a local DataFrame,
  * its result is collected exactly once per attempt, and the settled rows
  * are upserted by (sceneid, collection_id, activity_type) in a driver
  * map. Spark jobs are left to the pixel work inside the kernels. Tables
  * that stay distributed (items, activity state in the API) are upserted
  * with [[mergeByKey]] (union + window top-1) — the Delta-MERGE pattern
  * without a Delta dependency.
  */
object Pipeline {

  /** A node of the reference's nested task tree (controller.py:318–365):
    * children run after the parent; sibling children form a group
    * (parallel). A linear chain is nodes with single children. */
  final case class TaskNode(taskType: String, children: Seq[TaskNode] = Nil)

  /** Flatten a task tree into (activity_type, parent_type, level) rows. */
  def flattenTree(root: TaskNode): Seq[(String, Option[String], Int)] = {
    def walk(n: TaskNode, parent: Option[String], level: Int): Seq[(String, Option[String], Int)] =
      (n.taskType, parent, level) +: n.children.flatMap(walk(_, Some(n.taskType), level + 1))
    walk(root, None, 0)
  }

  /** Build the activities + lineage-edge DataFrames for scenes × task tree
    * (the _recursive dispatch of controller.py:318–365). One row per
    * (scene, node); edges mirror the activity_src table (models.py:66–87). */
  def planActivities(scenes: DataFrame, sceneIdCol: String, collectionId: Int,
                     tree: TaskNode)(implicit spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val nodes = flattenTree(tree).toDF("activity_type", "parent_type", "level")
    val acts = scenes.select(col(sceneIdCol).as("sceneid"))
      .distinct() // SET1: dedup before fan-out (controller.py:266)
      .crossJoin(broadcast(nodes))
      .withColumn("collection_id", lit(collectionId))
      .withColumn("status", lit("PENDING"))
      .withColumn("retry_count", lit(0))
    val edges = acts.filter(col("parent_type").isNotNull)
      .select(col("sceneid"), col("collection_id"),
        col("activity_type").as("child_type"), col("parent_type"))
    (acts, edges)
  }

  /** Idempotent merge-by-key: `MERGE INTO` semantics over parquet-backed
    * DataFrames (ST4; models.py:61 unique constraint). Keeps the staged row
    * when the key exists in both (staged wins via precedence flag), existing
    * row otherwise. Single shuffle on the key. */
  def mergeByKey(existing: DataFrame, staged: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = existing.columns
    require(staged.columns.sameElements(cols), "merge requires identical schemas")
    val tagged = existing.withColumn("__prec", lit(0))
      .unionByName(staged.withColumn("__prec", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__prec").desc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__prec")
  }

  /** A stage kernel: takes the activities selected for this stage, returns
    * them with a `status` column in {SUCCESS, FAILURE, RETRY}. RETRY marks
    * transient failures (the reference's DataOfflineError/
    * InvalidChecksumError, tasks.py:129–134). */
  type StageKernel = DataFrame => DataFrame

  /** Run a task tree level-by-level in batch ("task_always_eager" mode,
    * celery/__init__.py:63–67): a level's activities run only when their
    * parent activity for the same scene reached SUCCESS; transient RETRY
    * rows are re-attempted up to `maxRetries` inside the level (the batch
    * analogue of re-enqueue-with-backoff), and rows still RETRY after that
    * settle as FAILURE (dead-letter, ST3). Returns (final activities,
    * executions log), both local DataFrames; the log is
    * `spark.emptyDataFrame` when no attempt ran.
    *
    * The walk runs on the driver over the collected activities. Each
    * attempt hands the kernel a local DataFrame of its pending rows and
    * collects the kernel's result once, so a kernel with side effects (a
    * download, a write) runs once per attempt and the executions log
    * records what the activities settled on. Duplicate keys in
    * `activities` collapse to one row, as a merge by key would.
    */
  def runBatch(activities: DataFrame, tree: TaskNode,
               kernels: Map[String, StageKernel], maxRetries: Int = 3)
              (implicit spark: SparkSession): (DataFrame, DataFrame) = {
    val schema = activities.schema
    // kernel results are read back in the activities' schema
    val asActs = schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name))
    val Seq(iScene, iColl, iType, iStatus, iRetry) =
      Seq("sceneid", "collection_id", "activity_type", "status", "retry_count")
        .map(schema.fieldIndex)
    def key(r: Row) = (r.get(iScene), r.get(iColl), r.get(iType))
    def withStatus(r: Row, status: String, retries: Int): Row =
      Row.fromSeq(r.toSeq.updated(iStatus, status).updated(iRetry, r.getInt(iRetry) + retries))
    val acts = mutable.LinkedHashMap.empty[(Any, Any, Any), Row]
    activities.collect().foreach(r => acts(key(r)) = r)
    val executions = mutable.ArrayBuffer.empty[Row]
    val levels = flattenTree(tree).groupBy(_._3).toSeq.sortBy(_._1)
    for ((_, nodes) <- levels; (taskType, parentType, _) <- nodes) {
      val kernel = kernels.getOrElse(taskType,
        throw new IllegalArgumentException(s"no kernel for stage $taskType"))
      // runnable = PENDING activities of this type whose parent succeeded
      val okParents = parentType.map(p => acts.values.collect {
        case r if r.get(iType) == p && r.get(iStatus) == "SUCCESS" => (r.get(iScene), r.get(iColl))
      }.toSet)
      var pending: Seq[Row] = acts.values.filter { r =>
        r.get(iType) == taskType && r.get(iStatus) == "PENDING" &&
          okParents.forall(_.contains((r.get(iScene), r.get(iColl))))
      }.toSeq
      val settled = mutable.ArrayBuffer.empty[Row]
      var attempt = 0
      while (attempt <= maxRetries && pending.nonEmpty) {
        val res = kernel(spark.createDataFrame(pending.asJava, schema))
          .select(asActs: _*).collect()
        res.foreach(r => executions +=
          Row(r.get(iScene), r.get(iColl), r.get(iType), r.get(iStatus), attempt))
        settled ++= res.filter(r => !r.isNullAt(iStatus) && r.get(iStatus) != "RETRY")
        pending = res.filter(_.get(iStatus) == "RETRY").map(withStatus(_, "PENDING", 1)).toSeq
        attempt += 1
      }
      settled ++= pending.map(withStatus(_, "FAILURE", 0)) // retries exhausted
      settled.foreach(r => acts(key(r)) = r)
    }
    val execSchema = StructType(
      Seq("sceneid", "collection_id", "activity_type", "status").map(schema(_)) :+
        StructField("attempt", IntegerType, nullable = false))
    (spark.createDataFrame(acts.values.toSeq.asJava, schema),
      if (executions.isEmpty) spark.emptyDataFrame
      else spark.createDataFrame(executions.asJava, execSchema))
  }

  /** Provider priority failover (collect.py:86–137): given per-(scene,
    * provider) fetch outcomes and the provider priority table, pick the
    * first success in priority order per scene — the ordered short-circuit
    * loop as a window top-1. Providers with `active=false` are skipped
    * (models.py:166–185). */
  def firstSuccessByPriority(outcomes: DataFrame, providers: DataFrame): DataFrame = {
    val active = providers.filter(col("active"))
      .select(col("provider_id"), col("priority"))
    val w = Window.partitionBy(col("sceneid")).orderBy(col("priority").asc)
    outcomes.join(broadcast(active), Seq("provider_id"))
      .filter(col("ok"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
