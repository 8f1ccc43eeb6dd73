package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Guards against re-accretion: entry points and session builders are
  * counted in the source tree, so a new one-off main or a second copy of
  * the session settings fails here until it is listed on purpose. */
class GraftSessionSpec extends SparkSpec {

  private def mainSources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  /** Code lines only: scaladoc and line comments may cite a call. */
  private def code(src: String): Seq[String] = src.linesIterator.map(_.trim)
    .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//")).toSeq

  test("every object with a main is a listed entry point") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = for {
      (_, src) <- mainSources
      lines = code(src)
      (line, i) <- lines.zipWithIndex if line.contains("def main(")
    } yield lines.take(i + 1).flatMap(l => objectDecl.findAllMatchIn(l).map(_.group(1))).last
    assert(mains.sorted == Seq("Bench", "MakeSf1", "RasterBench", "ScalingBench",
      "ShowQ", "Verify"))
  }

  test("GraftSession is the one session builder in src/main") {
    val builders = for {
      (path, src) <- mainSources
      line <- code(src) if line.contains("SparkSession.builder")
    } yield path.getFileName.toString
    assert(builders == Seq("GraftSession.scala"))
  }

  test("the test session carries every setting GraftSession sets") {
    for ((k, v) <- GraftSession.settings(4))
      assert(spark.conf.get(k) == v, k)
    assert(spark.sparkContext.master == "local[4]")
  }
}
