package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One pipeline call and the check of its output. */
final case class Op(kind: String, table: String, timed: Boolean, seconds: Double,
    cpuSeconds: Double, rows: Long, failure: Option[String])

/** Runs operations under a deadline and keeps the failure record.
  *
  * Every call runs on its own thread so a hang cannot stall the run: at the
  * deadline the stacks of any deadlocked threads are recorded, the call
  * counts as failed and the run ends. A failure is recorded by its
  * innermost cause (exception class and SQLState), plus any Derby error
  * log lines and failed-task causes written while the call ran, so a
  * secondary error such as a closed connection cannot mask the first one.
  */
final class Runner(spark: SparkSession, counters: SparkCounters, derbyLog: Path,
    hardStopNs: Long) {
  import Runner.OpDeadlineSeconds

  val ops = ArrayBuffer.empty[Op]
  val deadlocks = ArrayBuffer.empty[String]
  @volatile var hung = false

  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
    }
  })

  private def derbyLogSize: Long = if (Files.exists(derbyLog)) Files.size(derbyLog) else 0L

  private def derbyErrors(from: Long): Seq[String] =
    if (!Files.exists(derbyLog)) Nil
    else {
      val bytes = Files.readAllBytes(derbyLog)
      new String(bytes.drop(from.toInt), StandardCharsets.UTF_8).linesIterator
        .filter(l => l.contains("Exception") || l.contains("ERROR"))
        .take(3).toSeq
    }

  def remainingSeconds: Double = (hardStopNs - System.nanoTime()) / 1e9

  /** Runs `body` (returning the rows it landed) and then `check`. */
  def op(kind: String, table: String, timed: Boolean)(body: => Long)
      (check: => Option[String]): Op = {
    if (hung) return Op(kind, table, timed, 0, 0, 0, Some("skipped: run ended"))
    val logFrom = derbyLogSize
    val failedTasksBefore = counters.taskFailureCauses.size
    val fut = pool.submit(() => {
      val c0 = Runner.processCpuNs
      val t0 = System.nanoTime()
      val rows = try Right(body) catch { case t: Throwable => Left(t) }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = (Runner.processCpuNs - c0) / 1e9
      val verdict = rows match {
        case Right(_) => try check catch { case t: Throwable => Some("check: " + Runner.rootCause(t)) }
        case Left(t)  => Some(Runner.rootCause(t))
      }
      (rows.getOrElse(0L), secs, cpu, verdict)
    })
    val wait = math.max(1.0, math.min(OpDeadlineSeconds, remainingSeconds))
    val result =
      try {
        val (rows, secs, cpu, verdict) = fut.get((wait * 1000).toLong, TimeUnit.MILLISECONDS)
        val extra = if (verdict.isEmpty) Nil else
          derbyErrors(logFrom).map("derby.log: " + _) ++
            counters.taskFailureCauses.asScala.drop(failedTasksBefore).take(3).map("task: " + _)
        Op(kind, table, timed, secs, cpu, rows, verdict.map(v => (v +: extra).mkString(" | ")))
      } catch {
        case _: TimeoutException =>
          hung = true
          recordDeadlocks()
          spark.sparkContext.cancelAllJobs()
          Op(kind, table, timed, wait, 0, 0, Some(f"deadline: no result after $wait%.0f s"))
      }
    ops += result
    result
  }

  /** Stacks of the deadlocked threads or, when there are none, of the
    * hung call's own thread.
    */
  private def recordDeadlocks(): Unit = {
    val mx = ManagementFactory.getThreadMXBean
    val deadlocked = Option(mx.findDeadlockedThreads()).getOrElse(Array.empty[Long])
    val ids =
      if (deadlocked.nonEmpty) deadlocked
      else {
        deadlocks += "no deadlocked threads found; the hung call's stack follows"
        mx.dumpAllThreads(false, false).filter(_.getThreadName == "perfbench-op").map(_.getThreadId)
      }
    mx.getThreadInfo(ids, true, true).filter(_ != null).foreach(deadlocks += _.toString)
  }
}

object Runner {
  /** Upper bound on one pipeline call; a call still running then is hung. */
  val OpDeadlineSeconds = 60.0

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM: Spark tasks, driver, JIT and GC threads. */
  def processCpuNs: Long = os.getProcessCpuTime

  /** Innermost cause of `t` (following causes and chained SQL exceptions):
    * class, SQLState when present, and message.
    */
  def rootCause(t: Throwable): String = {
    val seen = new java.util.IdentityHashMap[Throwable, Unit]()
    var cur = t
    var deepestSql: java.sql.SQLException = null
    var next: Throwable = t
    while (next != null && !seen.containsKey(next)) {
      seen.put(next, ())
      cur = next
      next = cur match {
        case s: java.sql.SQLException =>
          deepestSql = s
          Option(s.getCause).orElse(Option(s.getNextException)).orNull
        case other => other.getCause
      }
    }
    def fmt(e: Throwable): String = {
      val state = e match {
        case s: java.sql.SQLException if s.getSQLState != null => s" [SQLState ${s.getSQLState}]"
        case _ => ""
      }
      val msg = Option(e.getMessage).map(_.linesIterator.take(1).mkString).getOrElse("")
      s"${e.getClass.getName}$state: ${msg.take(300)}"
    }
    if (deepestSql != null && (deepestSql ne cur)) s"${fmt(cur)} (innermost SQL: ${fmt(deepestSql)})"
    else fmt(cur)
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_]        => s.map(apply).mkString("[", ", ", "]")
    case other                 => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Heap and non-heap memory in use right after a full collection, in
    * MB: what the process still holds, the in-memory Derby target
    * included, without the garbage the collector has not reclaimed yet.
    */
  def liveMb: Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set of this process in MB (Linux VmHWM). */
  def peakRssMb: Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
