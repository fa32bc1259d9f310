package graft.core

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the engine.
  *
  * Defaults are tuned for correctness-at-scale first:
  *  - AQE on (runtime re-plan, skew-join splitting, dynamic coalesce) so the
  *    same declarative plan that passes at sf0.01 survives a 100x scale-up.
  *  - shuffle partitions sized to the local core count for tests; on a real
  *    cluster this is expected to be overridden (or left to AQE coalescing).
  *  - UTC session timezone everywhere — the reference's data model is
  *    millisecond UTC timestamps (see SURVEY.md §1.3).
  *  - a compiled-class cache that holds the pipelines' working sets
  *    ([[codegenCacheEntries]]), so a repeated pipeline call reuses the
  *    code its plan shapes compiled the first time.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`: Spark's compiled-class cache
    * (`CodeGenerator.cache`) is an LRU capped at 100 by default. The
    * pipelines repeat the same plan shapes call after call, so their
    * classes form a cyclic working set, and a cyclic working set larger
    * than an LRU hits 0%: every entry is evicted just before its reuse.
    * Measured working sets: 145 classes per daily cycle (a
    * `DailyUpdatePipeline` delta and a `SnapshotUpdatePipeline` diff for
    * `users` and for `loanapplications`) and about 340 per `migrate` cycle
    * (reset, 13-collection load, unchanged rerun). At the default every
    * warm daily cycle recompiled all 145, about 1.3 s of Janino time in a
    * 4.5 s cycle on 4 vCPUs; from a cap of 300 up it compiles none. 1000
    * holds both working sets with headroom for the registry queries a
    * session runs in between. Only code is reused, never results.
    *
    * The cache stays effective only while per-call values travel as data
    * (a column of a join or a window), never as literals: a literal is
    * inlined into the generated code, so every call's code would be unique
    * and no cap would help. `SurrogateKeys.reconcile` carries the max id as
    * a window column for that reason.
    *
    * The cache is JVM-global. Spark sizes it once, from the SQLConf active
    * when `CodeGenerator` is first used, so this is a fixed constant of the
    * builder and not an option: a session built after any codegen has run
    * cannot resize it.
    *
    * The builder also turns off `spark.sql.codegen.useIdInClassName`. The
    * cache is keyed by the generated source, and that flag puts the
    * whole-stage codegen id into the class name. AQE numbers the stages it
    * re-plans in the order their inputs finish, so the same plan can get
    * different ids from call to call: a daily cycle on Derby recompiled 4–6
    * classes whose source differed from the previous cycle's only in that
    * id. Generated classes are then all named `GeneratedIterator`; the
    * stage id stays in the plan (`*(n)`) and in the logged source.
    */
  val codegenCacheEntries = 1000

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      // custom codegen'd expressions (graft_dot — see graft.functions)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      // spark.sql.objectHashAggregate.sortBased.fallbackThreshold stays at
      // its 128 default DELIBERATELY, measured: raising it to 8192 changed
      // graft_topk timings by nothing at our group counts (sketch buffers
      // are capacity-bounded), while the same knob governs every
      // collect_list/collect_set aggregation — whose per-group buffers are
      // UNBOUNDED — so a session-wide raise trades a real OOM hazard for
      // no measured win. Revisit per-query if a many-group sketch workload
      // ever shows the sort fallback in its profile.
      // testdata's events.parquet carries TIMESTAMP(NANOS) (pandas-written);
      // Spark has no nanos timestamp type, so read the raw int64 and let
      // Tables.events convert (div 1000 → micros). Without this flag the
      // scan itself throws PARQUET_TYPE_ILLEGAL.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // storage-partitioned joins/aggregations over co-partitioned
      // document drops (the doc scan reports KeyGroupedPartitioning when
      // asked — reportPartitioning option): inert for every other scan
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  /** Local session for tests and ad-hoc runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
