package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Committed generations of a persisted store: the robots cache and the
  * crawl URL logs (`c=K` compaction epochs), the crawl members and the
  * window index (`gen=N`). A store's root holds `<prefix>N` directories;
  * one is committed iff it holds a `_SUCCESS` marker, written LAST (by
  * Spark's output committer, or by [[commit]] for a multi-table
  * generation), so a crashed write is an ignorable directory and readers
  * stay on the previous generation. A publish keeps the generation it
  * replaced for one full cycle ([[gc]]): a reader that resolved it just
  * before the publish still finds its files for the rest of its scan.
  * Single writer per store. */
private[graft] object Generations {

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(root: String, prefix: String, n: Long): String =
    s"${root.stripSuffix("/")}/$prefix$n"

  /** Highest committed generation under `root`; -1 when there is none. */
  def current(spark: SparkSession, root: String, prefix: String): Long = {
    val dir = new Path(root.stripSuffix("/"))
    val fs = fsOf(spark, root)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) &&
          fs.exists(new Path(st.getPath, "_SUCCESS")) =>
        st.getPath.getName.stripPrefix(prefix).toLong
    }.maxOption.getOrElse(-1L)
  }

  /** Commit generation `n` by writing its marker — for a generation of
    * several tables, each written by its own job. */
  def commit(spark: SparkSession, root: String, prefix: String, n: Long): Unit =
    fsOf(spark, root).create(new Path(path(root, prefix, n), "_SUCCESS"), true).close()

  /** After `next` was published over `prev`: delete every other
    * `<prefix>N` directory (older generations, crash debris). With
    * `sweepRoot`, every other entry under `root` goes too — for a root
    * that holds nothing else a reader needs (the window index's flat
    * layout files). */
  def gc(spark: SparkSession, root: String, prefix: String, prev: Long, next: Long,
         sweepRoot: Boolean = false): Unit = {
    val fs = fsOf(spark, root)
    val keep = Set(s"$prefix$prev", s"$prefix$next")
    fs.listStatus(new Path(root.stripSuffix("/"))).foreach { st =>
      val name = st.getPath.getName
      if (!keep.contains(name) && (sweepRoot || st.isDirectory && name.startsWith(prefix)))
        fs.delete(st.getPath, true)
    }
  }
}
