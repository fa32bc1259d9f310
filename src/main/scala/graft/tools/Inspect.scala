package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.ingest.v2.{ExtJsonInputPartition, ExtJsonScan, KeyedExtJsonInputPartition, OrderedBandGroup}

/** One diagnostic entry point for registered queries (never invoked by
  * the bench or the oracle). Usage:
  *
  *   sbt "runMain graft.tools.Inspect plan <sfDir> <query>... [run] [out=<dir> suffix=<s>]"
  *   sbt "runMain graft.tools.Inspect probe <sfDir> <query>...|all"
  *   sbt "runMain graft.tools.Inspect profile <sfDir> <query>..."
  *
  *  - `plan`: the formatted physical plan, to stdout or, with `out=`, to
  *    `<dir>/<query>_<suffix>.txt`; `run` also executes the plan and
  *    prints AQE's final adaptive plan (broadcast
  *    conversions, coalesced partitions), which the static plan alone
  *    understates.
  *  - `probe`: one `PROBE` line per query — shuffle-exchange count, join
  *    keys, the graft exec nodes the plan uses (pin values for PlanSpec,
  *    or the list of queries that reach an operator), and the planned
  *    split count, bytes and pushdowns (`push=[…]`: the aggregate mode,
  *    `metadata` or `complete`, then `limit`/`topN`) of every
  *    document-source scan (the batch
  *    scans over the document source and the band-scan execs), so a plan
  *    diff also sees files or blocks pruned and a query falling from a
  *    metadata or complete aggregate to a scanning one; `all` probes
  *    every registered query in sorted name order.
  *  - `profile`: runs each query once warm and once measured under a
  *    SparkListener and prints the per-JOB wall-time breakdown, so a
  *    query's wall time decomposes into its sequential driver actions.
  *
  * `SPARK_GRAFT_CPUS` sets the local core count (default 4).
  */
object Inspect {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Inspect plan|probe|profile <sfDir> <query> [query...] [options]")
    val (opts, given) = args.drop(2).toSeq.partition(a => a == "run" || a.contains('='))
    val names =
      if (given == Seq("all")) graft.SparkEntry.queries.keys.toSeq.sorted
      else given
    val kv = opts.filter(_.contains('=')).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def df(name: String) = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))(spark, args(1))
    def qe(name: String): QueryExecution =
      df(name).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    args(0) match {
      case "plan" => names.foreach { n =>
        val q = qe(n)
        val txt = q.explainString(org.apache.spark.sql.execution.FormattedMode)
        kv.get("out") match {
          case Some(dir) =>
            val out = java.nio.file.Paths.get(dir)
            java.nio.file.Files.createDirectories(out)
            java.nio.file.Files.write(
              out.resolve(s"${n}_${kv.getOrElse("suffix", "plan")}.txt"),
              txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"[explain] wrote $n")
          case None => println(txt)
        }
        if (opts.contains("run")) {
          q.toRdd.count() // runs this plan, so AQE settles its final form
          println("=== final adaptive plan ===")
          println(q.executedPlan.toString)
        }
        spark.catalog.clearCache()
      }
      case "probe" => names.foreach { n =>
        val q = qe(n)
        val s = "Exchange (hash|range)partitioning".r
          .findAllIn(q.executedPlan.toString).size
        val joins = q.sparkPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
            s"${j.nodeName}(keys=${j.leftKeys.size})"
        }
        val custom = q.sparkPlan.collect {
          case p if p.getClass.getName.startsWith("graft.") => p.nodeName
        }.distinct
        val scans = q.sparkPlan.collect(Function.unlift(docScan)).map {
          case (node, splits, push) =>
            val bytes = splits.map {
              case p: ExtJsonInputPartition => p.length
              case k: KeyedExtJsonInputPartition => k.delegate.length
              case _ => 0L
            }.sum
            s"$node(splits=${splits.size},bytes=$bytes,push=[${push.mkString(",")}])"
        }
        println(s"PROBE $n shuffles=$s joins=[${joins.mkString(",")}] " +
          s"graft=[${custom.mkString(",")}] scans=[${scans.mkString(",")}]")
        spark.catalog.clearCache()
      }
      case "profile" => names.foreach(n => profile(spark, n, () => df(n)))
      case other => sys.error(s"unknown subcommand $other")
    }
    spark.stop()
  }

  /** A document-source scan node, its planned splits and what its scans
    * took over from the plan: a batch scan over the document source, or a
    * graft exec reading band groups.
    */
  private def docScan(
      p: SparkPlan): Option[(String, Seq[InputPartition], Seq[String])] = {
    def groups(v: Any): Seq[OrderedBandGroup] = v match {
      case g: OrderedBandGroup => Seq(g)
      case s: Iterable[_] => s.toSeq.flatMap(groups)
      case t: Product if t.productPrefix.startsWith("Tuple") =>
        t.productIterator.toSeq.flatMap(groups)
      case _ => Nil
    }
    // scans also sit inside a node's own non-plan fields (a join side)
    def scans(v: Any): Seq[ExtJsonScan] = v match {
      case s: ExtJsonScan => Seq(s)
      case _: SparkPlan => Nil
      case s: Iterable[_] => s.toSeq.flatMap(scans)
      case t: Product if t.productPrefix.startsWith("Tuple") ||
          t.getClass.getName.startsWith("graft.") =>
        t.productIterator.toSeq.flatMap(scans)
      case _ => Nil
    }
    p match {
      case b: BatchScanExec if b.scan.isInstanceOf[ExtJsonScan] =>
        Some(("BatchScan", b.inputPartitions,
          pushOf(b.scan.asInstanceOf[ExtJsonScan])))
      case _ if p.getClass.getName.startsWith("graft.") =>
        val gs = p.productIterator.toSeq.flatMap(groups)
        Option.when(gs.nonEmpty)((p.nodeName, gs.flatMap(_.files.flatten),
          p.productIterator.toSeq.flatMap(scans).flatMap(pushOf).distinct))
      case _ => None
    }
  }

  /** The pushdowns a document scan took: its aggregate mode (`metadata`
    * or `complete`; none when no aggregate was pushed), then `limit` and
    * `topN` when pushed.
    */
  private def pushOf(s: ExtJsonScan): Seq[String] =
    Seq(Option.when(s.statsAnswer.isDefined)("metadata")
      .orElse(Option.when(s.completeCount)("complete")),
      Option.when(s.pushedLimit >= 0)("limit"),
      Option.when(s.pushedTopN >= 0)("topN")).flatten

  private final case class JobRow(id: Int, desc: String, start: Long,
      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)

  private def profile(spark: SparkSession, name: String,
      df: () => org.apache.spark.sql.DataFrame): Unit = {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRow]
    // stageId -> jobId from each job's announced stages, so a stage of a
    // concurrent or late-finishing job is credited to ITS job rather
    // than the most recently started one (the concurrent-driver-action
    // lifecycle queries overlap jobs deliberately)
    val stageJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        jobs(e.jobId) = JobRow(e.jobId, desc, e.time)
        e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1; j.tasks += e.stageInfo.numTasks
          }
        }
    }
    // warm-up (JIT + codegen cache + parquet footers), discarded
    spark.catalog.clearCache()
    df().write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    df().write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain (public API has no wait)
    spark.sparkContext.removeSparkListener(listener)
    val rows = jobs.values.toSeq
    val jobSum = rows.map(j => math.max(0L, j.end - j.start)).sum / 1e3
    println(f"\n=== $name wall=${wall}%.3f s jobs=${rows.size} jobSum=${jobSum}%.3f s (gap=${wall - jobSum}%.3f s driver-side) ===")
    for (j <- rows) {
      val dur = math.max(0L, j.end - j.start) / 1e3
      println(f"  job ${j.id}%4d ${dur}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(90)}")
    }
    spark.catalog.clearCache()
  }
}
