package graft

import java.io.{IOException, OutputStream}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Crash injector for crash-replay tests: the local file system under the
  * `crashfs` scheme, which fails partway through writing any file whose
  * name matches the armed pattern — the first write lands half its bytes
  * on disk, then throws, leaving exactly the torn file a killed process
  * would. Every other file (and every read) passes through.
  *
  * {{{
  * CrashFs.install(spark.sparkContext.hadoopConfiguration)
  * CrashFs.armed(".*_folded.*") { op(CrashFs.path(dir)) }   // throws
  * op(CrashFs.path(dir))                                    // the replay
  * }}}
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")
  override def getScheme: String = CrashFs.Scheme

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): OutputStream = {
    val out = super.createOutputStreamWithMode(f, append, permission)
    CrashFs.pattern match {
      case Some(p) if f.getName.matches(p) => new CrashFs.Torn(out, f)
      case _ => out
    }
  }
}

object CrashFs {
  val Scheme = "crashfs"

  @volatile private var pattern: Option[String] = None

  /** Register the scheme (uncached, so no stale instance outlives a test). */
  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** `dir` (a local path) addressed through the injector. */
  def path(dir: String): String = s"$Scheme://$dir"

  /** Run `body` with writes of files whose NAME matches `namePattern`
    * failing partway; disarmed afterwards either way.
    */
  def armed[T](namePattern: String)(body: => T): T = {
    pattern = Some(namePattern)
    try body finally pattern = None
  }

  private final class Torn(out: OutputStream, f: Path) extends OutputStream {
    private var crashed = false
    private def crash(bytes: Array[Byte], off: Int, len: Int): Nothing = {
      crashed = true
      out.write(bytes, off, len / 2)
      out.close()
      throw new IOException(s"injected crash writing $f")
    }
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      if (!crashed) crash(b, off, len)
    // a file closed before any byte arrived still dies mid-write
    override def close(): Unit = if (!crashed) crash(Array.emptyByteArray, 0, 0)
  }
}
