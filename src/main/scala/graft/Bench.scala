package graft

import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Benchmark main. Prints exactly ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Methodology (fixes the round-1/2 harness defects):
  *  - the measured action is a `noop`-format write, which fully evaluates
  *    every output column; `.count()` would let Catalyst prune all columns
  *    and benchmark little more than parquet footer reads.
  *  - one discarded warm-up pass per query (JIT + parquet footer cache),
  *    then `measuredRuns` timed passes; the reported time is the minimum
  *    (least-noise estimator for a cold-cache-free steady state).
  *  - a failing query is NOT recorded as a fast time: it is reported in an
  *    "errors" object, excluded from the total, and flips the exit code.
  *  - the session comes from [[graft.core.GraftSession]] so bench and
  *    verify run under identical configs (UTC timezone, AQE, thresholds).
  */
object Bench {

  private val measuredRuns = 3

  /** The heavy tier: queries whose measured cost is dominated by a
    * deliberate in-query index/layout BUILD — persisted inverted shingle /
    * MinHash / SimHash indexes (q25/q26/q27/q35), IVF Lloyd training
    * (q32/q75), bucketed table writes (q44), connected-components rounds
    * (q52/q53), and the pair-graph split (q90). These are the honest
    * once-per-layout costs, stable round-over-round precisely because
    * they are build-bound, and together ~1/4 of the registry's wall
    * clock (~14.5 of ~54 s at sf0.1). The `core` tier skips them so
    * per-edit iteration stays cheap (`SPARK_GRAFT_BENCH_TIER=core`);
    * the DEFAULT is `full` so the unattended per-round record benches
    * everything and the 2× gate keeps covering the builders.
    */
  private val heavyTier: Set[String] = Set(
    "q25_ngram_jaccard", "q26_minhash_lsh", "q27_simhash",
    "q35_ngram_jaccard_capped", "q32_ann_ivf", "q44_bucketed_join",
    "q52_dedup_clusters", "q53_cluster_dedup", "q75_semantic_dedup",
    "q90_leakage_split", "q117_ivf_sq8", "q119_incremental_neardup",
    "q122_doc_ann_ivf", "q126_ivf_pq", "q127_ivf_sq8_agg", "q128_ivf_pq_res",
    "q135_ivf_pq_refine", "q137_ivf_pq_saved")

  /** The machine-contention CONTROL set: cheap, code-stable queries
    * re-benched at the END of every full-tier run as a second pass. A
    * reader divides a round's control mins by the previous round's to get
    * the box-speed factor FROM THE RECORD ALONE — no judge re-run needed
    * to tell "the box was 2× slower today" from a real regression (the r9
    * adjudication burned a session proving exactly that). Edit these only
    * with a matching note in the round's commit: their value is being
    * UNCHANGED across rounds.
    */
  private val controlSet: Seq[String] = Seq(
    "q68_normalize", "q69_chunks", "q80_cohort_retention", "q84_semi_join")

  private def runOnce(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Classes compiled by Spark's codegen so far in this JVM (one histogram
    * sample per compile, so the count is exact). A query's delta over its
    * measured passes is its `codegen_compiles`: after the warm-up pass its
    * plan's code is cached, so a nonzero count means a per-pass literal in
    * the generated code or a cache too small for the query.
    */
  private def compiledClasses(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** 1/5/15-minute load averages — the direct machine-contention signal.
    * Captured at sweep start/end and on every interleaved control, so a
    * contended record is SELF-LABELING (the r13 adjudication burned a
    * judge session proving external load from timing forensics alone).
    */
  private def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Seq.empty }

  /** Max/min disagreement beyond this across a query's measured passes
    * triggers an automatic same-length re-run (recorded, appended): a
    * transiently contended query gets more samples instead of leaving a
    * judge to guess which pass to believe.
    */
  private val rerunDisagreement = 3.0

  private[graft] def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The FIXED-SIZE sample window the headline estimators come from: the
    * contiguous `w`-run window with the lowest median (earliest on ties).
    * Re-runs exist to ADD information for adjudication, not to move the
    * headline: estimating over primary+rerun samples gave contended
    * queries BOTH an inflated median (r14: q29 reported 1.78 s vs a
    * clean ~0.45 — the rerun extras sat in the middle of the sorted
    * pool) AND a deflated min (more draws, lower order statistic), so
    * round-over-round comparisons mixed sample-count artifacts with real
    * change. Every query now reports min and median over exactly `w`
    * samples; the full pool stays in `runs` for readers.
    */
  private[graft] def bestWindow(runs: Seq[Double], w: Int): Seq[Double] =
    if (runs.size <= w) runs
    else runs.sliding(w).minBy(median)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val allRuns = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val reruns = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val compiles = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val loadStart = loadavg()

    // SPARK_GRAFT_BENCH_ONLY=q45_asof_join,q52_dedup_clusters runs just the
    // named queries — a single-query re-run takes seconds instead of the
    // ~7-minute full registry, which is what adjudicating a noise-vs-
    // regression question actually needs (run the suspect 2-3 times).
    // Unknown names fail loudly rather than silently benching nothing.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { sel =>
      val unknown = sel -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(",")}")
    }
    // SPARK_GRAFT_BENCH_TIER: full (default) = everything, so the
    // unattended per-round record covers the heavy index-builders and the
    // 2× gate sees them; core = all but the builders (the cheap per-edit
    // iteration setting — set it EXPLICITLY when iterating locally);
    // heavy = only the builders.
    // BENCH_ONLY bypasses tiering — an explicitly named query always runs.
    val tier = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIER", "full")
    require(Set("core", "full", "heavy")(tier),
      s"SPARK_GRAFT_BENCH_TIER must be core|full|heavy, got $tier")
    // a registry rename must not silently shrink the tier to nothing
    val stale = heavyTier -- SparkEntry.queries.keySet
    require(stale.isEmpty,
      s"Bench.heavyTier names queries not in the registry: ${stale.mkString(",")}")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only match {
          case Some(sel) => sel.contains(name)
          case None => tier match {
            case "full" => true
            case "heavy" => heavyTier(name)
            case _ => !heavyTier(name)
          }
        }
      }

    // INTERLEAVED controls (r10 verdict #6): the end-of-sweep control block
    // only samples LATE-run machine state, so mid-sweep contention (the r10
    // q79/q90/q74 spikes) was only diagnosable by a judge re-run. One
    // control query runs after every ~10 sweep queries, cycling the control
    // set, with its sweep position and wall-clock offset recorded — a
    // reader localizes the contention window from the record alone (a
    // clean round traces a flat control line; a contended one spikes
    // exactly where the affected queries ran). Entries at the same
    // position run the same query in the same order every round, so they
    // are round-over-round comparable even though (deliberately) cold.
    val benchStart = System.nanoTime()
    val timeline =
      scala.collection.mutable.ArrayBuffer.empty[(String, Int, Double, Double, Double)]
    var controlCursor = 0
    def interleaveControl(afterIdx: Int): Unit =
      if (only.isEmpty && tier == "full" && controlSet.nonEmpty) {
        val name = controlSet(controlCursor % controlSet.size)
        controlCursor += 1
        for (fn <- SparkEntry.queries.get(name)) {
          try {
            spark.catalog.clearCache()
            val load = loadavg().headOption.getOrElse(-1.0)
            val t0 = System.nanoTime()
            runOnce(fn(spark, sfDir))
            val sec = (System.nanoTime() - t0) / 1e9
            timeline += ((name, afterIdx, (t0 - benchStart) / 1e9, sec, load))
            spark.catalog.clearCache()
          } catch { case NonFatal(e) =>
            // NonFatal only: an OOM/VM error must abort the sweep — a
            // fatally wounded JVM would otherwise keep recording garbage
            // timings for every subsequent query
            System.err.println(s"[bench] interleaved control FAILED $name — ${e.getMessage}")
          }
        }
      }

    for (((name, fn), idx) <- selected.zipWithIndex) {
      try {
        runOnce(fn(spark, sfDir)) // warm-up, discarded (JIT + parquet footer cache)
        // ONE measurement discipline for primary and re-run passes — a
        // forked copy would let a future change make the rerun samples
        // silently measure something different. Queries that persist()
        // intermediate state (inverted shingle indexes, MinHash
        // signatures, IVF corpora) would otherwise reuse the cache
        // blocks left behind by the warm-up / previous pass —
        // CacheManager matches canonicalized plans across invocations.
        // Clearing here makes every measured pass pay for its own index
        // construction, so the reported time is the true end-to-end cost.
        def measure(n: Int): Seq[Double] = (1 to n).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          runOnce(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        val compiledBefore = compiledClasses()
        val runs = measure(measuredRuns)
        // self-diagnosing contention: passes disagreeing >3× get one
        // same-length re-run appended to the record — min stays the
        // estimator, but the spread (and the rerun flag) tells a reader
        // this query's samples were fighting external load
        val extra =
          if (runs.nonEmpty &&
            runs.max / math.max(runs.min, 1e-9) > rerunDisagreement) {
            reruns(name) = measuredRuns
            measure(measuredRuns)
          } else Seq.empty[Double]
        val all = runs ++ extra
        compiles(name) = compiledClasses() - compiledBefore
        // headline estimators come from ONE fixed-size window (the
        // cleanest contiguous measuredRuns samples) so a rerun never
        // shifts a query's estimator basis; the full pool is in `runs`
        val window = bestWindow(all, measuredRuns)
        timings(name) = window.min
        // every raw pass is reported too: single-query numbers on this
        // shared box can swing several-fold run-to-run, and a reader
        // adjudicating a regression needs the spread, not just the min
        allRuns(name) = all
        spark.catalog.clearCache()
      } catch {
        case NonFatal(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          errors(name) = msg
          System.err.println(s"[bench] FAILED $name — $msg")
      }
      if ((idx + 1) % 10 == 0) interleaveControl(idx + 1)
    }

    // second-pass control block (full tier only — the unattended record is
    // what needs the self-defense; BENCH_ONLY/core iterations stay cheap).
    // Runs AFTER the registry sweep so it samples the same late-run machine
    // state the tail queries saw.
    val stale2 = controlSet.filterNot(SparkEntry.queries.keySet)
    require(stale2.isEmpty,
      s"Bench.controlSet names queries not in the registry: ${stale2.mkString(",")}")
    val controls = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    if (only.isEmpty && tier == "full") {
      for (name <- controlSet; fn <- SparkEntry.queries.get(name)) {
        try {
          runOnce(fn(spark, sfDir))
          controls(name) = (1 to measuredRuns).map { _ =>
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            runOnce(fn(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          }
          spark.catalog.clearCache()
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] control FAILED $name — ${e.getMessage}")
        }
      }
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // median per query alongside the min: the min is the steady-state
    // estimator, but a regression gate wants the run-to-run center — on a
    // shared box single runs can swing several-fold, and a future verdict
    // comparing medians is robust to one lucky/unlucky pass. Both come
    // from the SAME fixed-size window (bestWindow) so contended queries'
    // extra samples inform readers without moving the headline numbers.
    val medians = allRuns.map { case (k, v) =>
      k -> median(bestWindow(v, measuredRuns)) }
    val qs = timings.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val ms = medians.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val rs = allRuns.map { case (k, v) =>
      s"${jstr(k)}:${v.mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val cs = controls.map { case (k, v) => s"${jstr(k)}:${v.min}" }.mkString("{", ",", "}")
    val crs = controls.map { case (k, v) =>
      s"${jstr(k)}:${v.mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    val tl = timeline.map { case (q, after, at, sec, load) =>
      s"""{"q":${jstr(q)},"after":$after,"at_sec":$at,"sec":$sec,"load1m":$load}"""
    }.mkString("[", ",", "]")
    val total = timings.values.sum
    val medianTotal = medians.values.sum
    val loadEnd = loadavg()
    val la = loadStart.mkString("[", ",", "]")
    val lb = loadEnd.mkString("[", ",", "]")
    val rrs = reruns.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val ccs = compiles.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    // JIT code-cache occupancy at sweep end, per CodeHeap pool: a sweep
    // this size generates thousands of codegen classes, and a SATURATED
    // pool silently disables C2 for the rest of the session — late-sweep
    // queries then run interpreted, 2-4x slower, session-stickily (the
    // r16 q35 bimodality). ReservedCodeCacheSize is raised in build.sbt;
    // this field makes any recurrence diagnosable from the record alone
    // (used ≈ max on a slow record = the smoking gun).
    val codeCache = {
      import scala.jdk.CollectionConverters._
      // "CodeHeap '…'" pools under the segmented cache (≥240 MB);
      // ONE "Code Cache" pool when a smaller reserve disables
      // segmentation — match both
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("Code"))
        .map { p =>
          val u = p.getUsage
          // getMax is -1 when the pool reports no limit: emit -1 verbatim
          // (integer-dividing it renders 0, which would misfire the
          // "used ≈ max" saturation heuristic on such pools)
          val maxMb = if (u.getMax < 0) -1L else u.getMax / 1048576
          s"${jstr(p.getName)}:{\"used_mb\":${u.getUsed / 1048576}," +
            s""""max_mb":$maxMb}"""
        }.mkString("{", ",", "}")
    }
    // free-form adjudication context (SPARK_GRAFT_BENCH_NOTES): lets a
    // banked record name WHY it was run — "post-codecache-fix q35
    // adjudication run 3/5" — so a later reader needs no side channel
    val notes = sys.env.get("SPARK_GRAFT_BENCH_NOTES")
      .map(n => s""","notes":${jstr(n)}""").getOrElse("")
    val record =
      s"""{"metric":"total","value":$total,"unit":"sec","median_total":$medianTotal,"queries":$qs,"medians":$ms,"runs":$rs,"reruns":$rrs,"codegen_compiles":$ccs,"errors":$es,"control":$cs,"control_runs":$crs,"control_timeline":$tl,"loadavg_start":$la,"loadavg_end":$lb,"code_cache":$codeCache$notes,"tier":${jstr(tier)},"sf":${jstr(sfDir)}}"""
    println(record)
    // the driver's BENCH_r*.json keeps only a 2,000-char stdout tail, which
    // truncates the per-query numbers for most of the registry — persist
    // the COMPLETE record in the repo (committed by the round's wrap-up) so
    // round-over-round diffs read from the record, not from judge re-runs.
    // Full-registry runs only: BENCH_ONLY/core iteration must not litter.
    if (only.isEmpty && tier == "full") {
      try {
        val dir = java.nio.file.Paths.get("bench_records")
        java.nio.file.Files.createDirectories(dir)
        val stamp = java.time.format.DateTimeFormatter
          .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.now())
        val out = dir.resolve(s"bench_$stamp.json")
        java.nio.file.Files.write(out,
          (record + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] full record persisted to $out")
      } catch { case NonFatal(e) =>
        // persistence is best-effort: the stdout record is the contract
        System.err.println(s"[bench] record persistence failed — ${e.getMessage}")
      }
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
