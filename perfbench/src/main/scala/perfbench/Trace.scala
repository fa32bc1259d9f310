package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{ExceptionFailure, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters gathered through the public listener APIs. Jobs and
  * tasks are attributed to the layer named by the `perfbench.layer` local
  * property that was set on the driver thread when the job was submitted.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  import SparkCounters.LayerProp

  final class Acc {
    val jobs, tasks, taskFailures, shuffleWrite, spill, cpuNs = new AtomicLong
    /** Most tasks any one result stage of this layer ran. */
    val maxResultTasks = new AtomicLong
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  def acc(layer: String): Acc = accs.computeIfAbsent(layer, _ => new Acc)
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val jobSpans = new ConcurrentHashMap[Int, (Long, Long)]()
  private val resultStageTasks = new ConcurrentHashMap[Int, AtomicLong]()
  val planNs = new AtomicLong
  /** One line per failed task: innermost exception class and message. */
  val taskFailureCauses = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(LayerProp))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = layerOf(e.properties)
    acc(layer).jobs.incrementAndGet()
    acc("all").jobs.incrementAndGet()
    e.stageIds.foreach(s => stageLayer.put(s, layer))
    if (e.stageIds.nonEmpty) resultStageTasks.putIfAbsent(e.stageIds.max, new AtomicLong)
    jobSpans.put(e.jobId, (e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpans.get(e.jobId)).foreach { case (s, _) => jobSpans.put(e.jobId, (s, e.time)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.getOrDefault(e.stageId, "other")
    Option(resultStageTasks.get(e.stageId)).foreach { n =>
      acc(layer).maxResultTasks.accumulateAndGet(n.incrementAndGet(), math.max)
    }
    Seq(acc(layer), acc("all")).foreach { a =>
      a.tasks.incrementAndGet()
      if (!e.taskInfo.successful) a.taskFailures.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.cpuNs.addAndGet(m.executorCpuTime)
      }
    }
    e.reason match {
      case f: ExceptionFailure =>
        taskFailureCauses.add(s"$layer: " + SparkCounters.innermost(f.fullStackTrace)
          .getOrElse(s"${f.className}: ${f.description}"))
      case _ => ()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlan(qe)
  private def addPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    planNs.addAndGet(ms * 1000000L)
  }

  /** Wall seconds covered by at least one job (overlapping jobs count once). */
  def jobSeconds: Double = {
    val spans = jobSpans.values.asScala.filter(_._2 >= 0).toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  def reset(): Unit = {
    accs.clear(); stageLayer.clear(); jobSpans.clear(); resultStageTasks.clear()
    planNs.set(0)
  }
}

object SparkCounters {
  val LayerProp = "perfbench.layer"

  /** The last "Caused by:" line of a task's stack trace, if any. */
  def innermost(trace: String): Option[String] =
    Option(trace).flatMap(_.linesIterator.filter(_.startsWith("Caused by:")).toSeq.lastOption)
      .map(_.stripPrefix("Caused by:").trim)

  def attach(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def withLayer[T](sc: SparkContext, layer: String)(body: => T): T = {
    val prev = sc.getLocalProperty(LayerProp)
    sc.setLocalProperty(LayerProp, layer)
    try body finally sc.setLocalProperty(LayerProp, prev)
  }
}

/** Per-layer metric sums of a traced run. Spans are timed from the
  * benchmark's own code around each public layer call.
  */
final class Layers {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def add(name: String, v: Double): Unit = values(name) = values.getOrElse(name, 0.0) + v

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs every row of `df` through Spark's no-op sink; returns seconds. */
  def materialize(df: DataFrame): Double =
    time(df.write.format("noop").mode("overwrite").save())._2
}
