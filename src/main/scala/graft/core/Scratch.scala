package graft.core

import org.apache.spark.sql.SparkSession

/** Harness-side scratch-directory lifecycle for bench/CI runs.
  *
  * Operators that materialize a layout ([[graft.ops.Bucketing.saveBucketed]])
  * take a CALLER-OWNED path — a real deployment owns its warehouse
  * directories and their lifetime. The bench/verify/test harnesses have no
  * durable warehouse, so they provision per-JVM scratch directories here and
  * this object guarantees they are removed at JVM exit; query registry code
  * calls [[ephemeralDir]] and contains no filesystem lifecycle logic.
  */
object Scratch {

  private val registered =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** A tmpdir path derived from `tag`, scheduled for recursive deletion at
    * JVM exit (registered once per distinct path; re-calls are no-ops).
    */
  def ephemeralDir(tag: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/$tag"
    deleteOnExit(dir)
    dir
  }

  /** The registry's tag for one (scale-factor dir, application): the
    * sfDir hash plus THIS application's id — two concurrent JVMs (bench
    * alongside verify, parallel CI) never overwrite each other's landing
    * mid-read, and the hash alone can collide across dirs.
    */
  def landingTag(spark: SparkSession, sfDir: String): String =
    s"${sfDir.hashCode.toLong & 0x7fffffffL}_${spark.sparkContext.applicationId}"
      .replaceAll("[^A-Za-z0-9_]", "_")

  /** `name`'s scratch dir for one (scale-factor dir, application) —
    * [[ephemeralDir]] of `<name>_<landingTag>`.
    */
  def landing(name: String, spark: SparkSession, sfDir: String): String =
    ephemeralDir(s"${name}_${landingTag(spark, sfDir)}")

  /** The hook swallows traversal/deletion errors (a file vanishing or locked
    * mid-walk must not kill the hook and abandon the rest) and closes the
    * walk stream.
    */
  private def deleteOnExit(dir: String): Unit =
    if (registered.putIfAbsent(dir, java.lang.Boolean.TRUE) == null)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import java.io.IOException
        import java.nio.file._
        import java.nio.file.attribute.BasicFileAttributes
        // walkFileTree with continue-on-failure, NOT Files.walk: the
        // stream iterator throws UncheckedIOException on an unreadable or
        // vanished entry and would abandon every remaining deletion
        try Files.walkFileTree(Paths.get(dir), new SimpleFileVisitor[Path] {
          override def visitFile(f: Path, a: BasicFileAttributes) = {
            try Files.deleteIfExists(f) catch { case _: IOException => }
            FileVisitResult.CONTINUE
          }
          override def visitFileFailed(f: Path, e: IOException) =
            FileVisitResult.CONTINUE
          override def postVisitDirectory(d: Path, e: IOException) = {
            try Files.deleteIfExists(d) catch { case _: IOException => }
            FileVisitResult.CONTINUE
          }
        })
        catch { case scala.util.control.NonFatal(_) => /* dir absent */ }
      }))
}
