package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus

import graft.core.GraftSession

/** Pipeline benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload migrate|incremental --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints a `perfbench-report` line with the full record (named metrics,
  * every failure with its root cause, deadlock stacks) and, as the last
  * line, the result object: with `--trace 0` the end-to-end metrics, with
  * `--trace 1` the per-layer metrics of the traced cycles.
  */
object Main {

  /** Calls still running this long after JVM start count as hung, so the
    * result is out before the caller's 175 s limit.
    */
  private val HardStopSeconds = 165.0

  val perLayerUnits: Seq[(String, String)] = Seq(
    "ingest.docs" -> "count", "ingest.bytes" -> "bytes", "ingest.parse_s" -> "s",
    "schema.rows_out" -> "count", "schema.transform_s" -> "s",
    "staging.bytes" -> "bytes", "staging.write_s" -> "s", "staging.read_s" -> "s",
    "staging.archive_s" -> "s",
    "target.read_rows" -> "count", "target.read_s" -> "s", "target.ddl_s" -> "s",
    "keys.known" -> "count", "keys.new" -> "count", "keys.reconcile_s" -> "s",
    "keys.jobs" -> "count", "keys.shuffle_bytes" -> "bytes",
    "diff.compared_rows" -> "count", "diff.changed_rows" -> "count",
    "diff.changed_share" -> "share", "diff.s" -> "s",
    "sink.rows" -> "count", "sink.writers" -> "count", "sink.upsert_s" -> "s",
    "sink.delete_s" -> "s", "sink.deleted_rows" -> "count", "sink.skipped_rows" -> "count",
    "sink.task_failures" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_failures" -> "count",
    "spark.job_s" -> "s", "spark.driver_gap_s" -> "s", "spark.plan_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.executor_cpu_s" -> "s",
    "trace.overhead_share" -> "share")

  /** Layer times that only one workload exercises. The other workload would
    * print a constant 0 for them, so they appear in the report line only.
    */
  private val OneWorkloadTimes = Set("ingest.parse_s", "schema.transform_s",
    "staging.write_s", "staging.archive_s", "diff.s", "sink.delete_s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    require(Set("migrate", "incremental")(workload), s"unknown workload $workload")
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val hardStopNs = System.nanoTime() +
      ((HardStopSeconds - (System.currentTimeMillis() - jvmStartMs) / 1000.0) * 1e9).toLong
    System.setProperty("derby.system.home", work.toString)
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)

    val cores = Runtime.getRuntime.availableProcessors()
    // local[N,4]: N cores, and the cluster default of 4 task attempts
    // (spark.task.maxFailures) that the pipelines' idempotency relies on
    val spark = GraftSession.builder(s"local[$cores,4]", cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = SparkCounters.attach(spark)

    val run = new Runner(spark, counters, work.resolve("derby.log"), hardStopNs)
    val gen = new Gen(seed)

    // set-up: the inputs and expected tables, then the workload's untimed
    // warm-up
    val w: Workload = workload match {
      case "migrate" => new Migrate(spark, Pipes.derby, work.resolve("main"), gen)
      case _ => new Incremental(spark, Pipes.derby, work.resolve("main"), gen)
    }
    w.prepare(run)
    w.warmup(run)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val cycleWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val layers = new Layers
    var sparkAll: Option[(counters.Acc, Double, Double)] = None
    // a cycle's time is the sum of its pipeline calls: input generation
    // and output checks between the calls are not part of it
    val cycleCpu = mutable.ArrayBuffer.empty[Double]
    def callSeconds(cycle: => Unit): Double = {
      val before = run.ops.length
      cycle
      val calls = run.ops.drop(before)
      cycleCpu += calls.map(_.cpuSeconds).sum
      calls.map(_.seconds).sum
    }
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    def roomFor(last: Double) = run.remainingSeconds > 2 * last + 20
    if (!trace) {
      while (!run.hung && (cycleWalls.isEmpty || (elapsed < seconds && roomFor(cycleWalls.last))))
        cycleWalls += callSeconds(w.cycle(run, timed = true, None))
    } else {
      // the traced cycles run warm, so their untraced baseline must too:
      // one untimed cycle first (migrate has no warm-up of its own)
      w.cycle(run, timed = false, None)
      counters.reset()
      cycleWalls += callSeconds(w.cycle(run, timed = true, None))
      PerfbenchBus.drain(spark.sparkContext)
      sparkAll = Some((counters.acc("all"), counters.jobSeconds, counters.planNs.get / 1e6))
      counters.reset()
      while (!run.hung && (tracedWalls.isEmpty || (elapsed < seconds && roomFor(tracedWalls.last))))
        tracedWalls += callSeconds(w.cycle(run, timed = false, Some(layers)))
      PerfbenchBus.drain(spark.sparkContext)
    }

    val ops = run.ops.toSeq
    val timedOk = ops.filter(o => o.timed && o.failure.isEmpty && o.kind != "reset")
    val rowsPerS = timedOk.map(_.rows).sum / math.max(1e-9, timedOk.map(_.seconds).sum)
    def kindRate(kind: String) = {
      val k = timedOk.filter(_.kind == kind)
      if (k.isEmpty) Double.NaN else k.map(_.rows).sum / k.map(_.seconds).sum
    }
    def kindP50(kind: String) = Stats.median(timedOk.filter(_.kind == kind).map(_.seconds))
    val failures = ops.filter(_.failure.nonEmpty)

    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "peak_rss_mb" -> (Stats.peakRssMb, "MB"),
      "live_mb" -> (Stats.liveMb, "MB"),
      "rows_per_s" -> (rowsPerS, "rows/s"),
      "cycle_s" -> (Stats.median(cycleWalls.toSeq), "s"),
      "cycle_cpu_s" -> (Stats.median(cycleCpu.take(cycleWalls.size).toSeq), "s"))
    val named = workload match {
      case "migrate" => Map("migrate.load_rows_per_s" -> kindRate("load"),
        "migrate.rerun_rows_per_s" -> kindRate("rerun"))
      case _ => Map("incremental.delta_p50_s" -> kindP50("delta"),
        "incremental.snapshot_p50_s" -> kindP50("snapshot"))
    }

    // per traced cycle; every name of perLayerUnits when traced
    val layerValues: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val n = math.max(1, tracedWalls.size).toDouble
        val v = mutable.LinkedHashMap.empty[String, Double]
        perLayerUnits.foreach { case (k, _) => v(k) = layers.values.getOrElse(k, 0.0) / n }
        val keysAcc = counters.acc("keys")
        v("keys.jobs") = keysAcc.jobs.get / n
        v("keys.shuffle_bytes") = keysAcc.shuffleWrite.get / n
        v("sink.writers") = counters.acc("sink").maxResultTasks.get.toDouble
        v("sink.task_failures") = counters.acc("sink").taskFailures.get / n
        v("diff.changed_share") =
          if (v("diff.compared_rows") > 0) v("diff.changed_rows") / v("diff.compared_rows") else 0.0
        sparkAll.foreach { case (a, jobS, planMs) =>
          v("spark.jobs") = a.jobs.get.toDouble
          v("spark.tasks") = a.tasks.get.toDouble
          v("spark.task_failures") = a.taskFailures.get.toDouble
          v("spark.job_s") = jobS
          v("spark.driver_gap_s") = cycleWalls.head - jobS
          v("spark.plan_ms") = planMs
          v("spark.shuffle_write_bytes") = a.shuffleWrite.get.toDouble
          v("spark.spill_bytes") = a.spill.get.toDouble
          v("spark.executor_cpu_s") = a.cpuNs.get / 1e9
        }
        v("trace.overhead_share") =
          if (tracedWalls.isEmpty) Double.NaN else Stats.median(tracedWalls.toSeq) / cycleWalls.head - 1.0
        v.toMap
      }
    val metrics: Map[String, (Double, String)] =
      if (!trace) endToEnd.toMap
      else perLayerUnits.collect {
        case (k, u) if !OneWorkloadTimes(k) => k -> (layerValues(k), u)
      }.toMap

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "master" -> spark.sparkContext.master,
      "target" -> "embedded in-memory Derby in the benchmark JVM (no flush; Postgres unverified)",
      "end_to_end" -> endToEnd.map { case (k, (x, u)) => k -> Map("value" -> x, "unit" -> u) },
      "named" -> named,
      "layers" -> layerValues,
      "cycles" -> cycleWalls.toSeq, "traced_cycles" -> tracedWalls.toSeq,
      "ops_attempted" -> ops.size, "ops_failed" -> failures.size,
      "ops_by_kind" -> ops.groupBy(_.kind).map { case (k, os) =>
        k -> Map("n" -> os.size, "failed" -> os.count(_.failure.nonEmpty),
          "p50_s" -> Stats.median(os.filter(_.failure.isEmpty).map(_.seconds))) },
      "task_failure_causes" -> counters.taskFailureCauses.asScala.take(10).toSeq,
      "failures" -> failures.take(20).map(o => Map("kind" -> o.kind, "table" -> o.table,
        "timed" -> o.timed, "cause" -> o.failure.get)),
      "hung" -> run.hung, "deadlocks" -> run.deadlocks.toSeq,
      "ops" -> ops.map(o => Seq(o.kind, o.table, o.timed, o.seconds, o.cpuSeconds, o.rows)))
    println("perfbench-report " + Json(report))
    val result = Map(
      "correct" -> (failures.isEmpty && !run.hung),
      "attempted" -> ops.size, "failed" -> failures.size,
      "metrics" -> metrics.map { case (k, (x, u)) => k -> Map("value" -> x, "unit" -> u) })
    println(Json(result))
    System.out.flush()
    // a hung call may hold non-daemon Spark or Derby threads: end the JVM
    // here either way, once the result is out
    if (run.hung) Runtime.getRuntime.halt(0)
    spark.stop()
    sys.exit(0)
  }
}
