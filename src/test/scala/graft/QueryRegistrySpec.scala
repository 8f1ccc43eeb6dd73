package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The query registry: every query is one [[graft.queries.QuerySpec]] in a
  * plane file of `graft.queries`, and `SparkEntry.queries`/`oracleSql` are
  * views over those registrations. The rows-only set is pinned here;
  * `scripts/parity.py` keeps the same set as `ROWS_ONLY`. */
class QueryRegistrySpec extends SparkSpec {

  /** Queries without oracle SQL: they fold Spark-native hashes (xxhash64,
    * crc32) that DuckDB lacks, and GoldenPinSpec pins their output. */
  private val RowsOnly = Set("q35_simhash", "q36_fingerprint")

  private def names: Seq[String] = SparkEntry.specs.map(_.name)

  test("query names are unique and shaped qNNN_name") {
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    names.foreach(n => assert(n.matches("""q\d+_[a-z0-9_]+"""), n))
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("each short id qNNN names one query, q96 excepted") {
    // perfbench resolves an id such as `q07` by prefix and fails on a
    // clash; q96's GeoTIFF round trips share one id and no workload names it
    val shared = names.groupBy(_.takeWhile(_ != '_')).collect {
      case (id, ns) if ns.size > 1 => id -> ns.sorted
    }
    assert(shared == Map("q96" -> Seq("q96_geotiff_roundtrip", "q96_i16_roundtrip")))
  }

  test("every query but the rows-only pair has oracle SQL, and the pair is golden-pinned") {
    assert(SparkEntry.specs.filter(_.oracleSql.isEmpty).map(_.name).toSet == RowsOnly)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet -- RowsOnly)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
    val goldenPins = Files.readString(Paths.get("src/test/scala/graft/GoldenPinSpec.scala"))
    RowsOnly.foreach(n => assert(goldenPins.contains(s"""SparkEntry.queries("$n")"""), n))
  }

  /** A loader that defines every `graft.*` class afresh, so the registry's
    * object initializers run again whatever earlier suites touched; Scala
    * and Spark classes come from the parent, so the running session is the
    * one the listener watches. */
  private def freshGraftLoader(): java.net.URLClassLoader = {
    val classes = classOf[graft.queries.QuerySpec].getProtectionDomain.getCodeSource.getLocation
    new java.net.URLClassLoader(Array(classes), getClass.getClassLoader) {
      override def loadClass(name: String, resolve: Boolean): Class[_] =
        if (!name.startsWith("graft.")) super.loadClass(name, resolve)
        else getClassLoadingLock(name).synchronized {
          Option(findLoadedClass(name)).getOrElse(findClass(name))
        }
    }
  }

  test("building and reading the registry starts no Spark job") {
    val loader = freshGraftLoader()
    try {
      val jobs = jobsOf {
        val entryClass = loader.loadClass("graft.SparkEntry$")
        assert(entryClass ne SparkEntry.getClass)
        val entry = entryClass.getField("MODULE$").get(null)
        def view(name: String) = entryClass.getMethod(name).invoke(entry).asInstanceOf[Map[String, _]]
        assert(view("queries").size == SparkEntry.specs.size)
        assert(view("oracleSql").size == SparkEntry.specs.size - RowsOnly.size)
      }
      assert(jobs == 0)
    } finally loader.close()
  }

  test("no plane file under graft/queries is over 1,500 lines") {
    val walk = Files.list(Paths.get("src/main/scala/graft/queries"))
    val sizes = try walk.iterator().asScala.toList
      .map(p => p.getFileName.toString -> Files.readAllLines(p).size)
    finally walk.close()
    assert(sizes.size >= 8, sizes)
    sizes.foreach { case (f, n) => assert(n <= 1500, s"$f has $n lines") }
  }
}
