package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the properties that make each query
  * survive a 100× scale-up, pinned so a refactor can't silently regress
  * them: shuffle counts, scan-level column pruning and filter pushdown,
  * broadcast joins where hinted, and no accidental cartesian products.
  *
  * All assertions inspect `queryExecution.sparkPlan` (the initial physical
  * plan, before AQE rewrites): AQE can only IMPROVE these shapes at
  * runtime, so the static plan is the conservative contract.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def plan(name: String) = {
    // residual persist() state from other suites substitutes
    // InMemoryRelations (printing THEIR internal exchanges) into these
    // plans; the pins measure the engine's plan, not cache pollution
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
  }

  /** Shuffle-exchange count in the executed plan (exchanges are inserted
    * by EnsureRequirements during preparation, so `sparkPlan` — the raw
    * strategy output — never contains them; under AQE the initial adaptive
    * plan renders them in the plan string).
    */
  private def shuffles(name: String): Int =
    "Exchange (hash|range)partitioning".r
      .findAllIn(plan(name).executedPlan.toString).size

  /** Map-only operators: flattening, filtering, scalar text analysis, and
    * the winnowing sketch must introduce ZERO shuffles — they scale as pure
    * parallel scans.
    */
  for (q <- Seq("q01_project", "q02_filter", "q09_explode",
      "q15_flatten_defaults", "q21_text_stats", "q22_lang_quality",
      "q31_winnow_fp", "q40_redact", "q41_line_quality", "q43_corpus_mix",
      "q68_normalize", "q69_chunks",
      // q85/q86: pure column arithmetic; q87: bounded explode, no join —
      // the whole composed cleaning/mixing pass stays a parallel scan
      "q85_quality_sample", "q86_filter_report", "q87_epoch_mix",
      "q89_strip_markup",
      // q114/q118: native kernel + posexplode — the compression /
      // embedding map passes; q115: the classifier score folds inside
      // each row (model-based filtering at 100 TB is one scan)
      "q114_random_projection", "q115_classifier_filter",
      "q118_hash_embed")) {
    test(s"$q is map-only (no shuffle exchange)") {
      assert(shuffles(q) == 0)
    }
  }

  test("q88 MAD profile: three keyed aggs, group stats broadcast back") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // two exchanges (the median agg feeds both later anchors via reuse;
    // deviations re-join broadcast) — a third would mean a group-stat
    // frame got shuffled instead of broadcast
    assert(shuffles("q88_mad_outliers") == 2)
    val joins = plan("q88_mad_outliers").sparkPlan
      .collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(_.leftKeys.nonEmpty))
  }

  test("q83 incremental dedup shuffles the batch, not the history") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = plan("q83_incremental_dedup")
    // within-batch keep-first window + the index distinct: two exchanges,
    // both over fingerprints — the anti-join against the history is
    // equi-keyed on the hash (broadcast here; hash join at scale)
    assert(shuffles("q83_incremental_dedup") == 2)
    val joins = p.sparkPlan.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(_.leftKeys.nonEmpty))
  }

  /** Single-shuffle operators: one hash aggregation / keyed window means
    * exactly one exchange on the key — partial aggregation (or keyed
    * partitioning) must stay map-side.
    */
  for (q <- Seq("q03_agg_groupby", "q07_distinct", "q17_keyed_dedup",
      "q20_exact_dedup", "q28_tumbling_window", "q36_corpus_stats",
      "q37_top_ngrams", "q39_sliding_window",
      "q48_token_quantiles", "q50_covar_corr", "q51_histogram",
      "q64_media_dedup",
      // q76/q79: Expand (unpivot / grouping sets) is map-side, only the
      // final agg exchanges; q77/q82: one keyed window partitioning;
      // q81: the per-user stage agg (the grand rollup merges on a single
      // partition, not a hash exchange)
      "q76_unpivot", "q77_rank_family", "q79_grouping_sets", "q81_funnel",
      "q82_rolling")) {
    test(s"$q shuffles exactly once") {
      assert(shuffles(q) == 1)
    }
  }

  test("q74 repetition profile is the two-stage agg (combine collapses occurrences)") {
    // explode -> (doc, word) count [exchange 1, map-side combine] ->
    // per-doc profile [exchange 2]; anything more means a join or an
    // occurrence-level shuffle crept in
    assert(shuffles("q74_repetition") == 2)
  }

  test("q73 LM scoring joins stay equi-keyed on the bigram") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val joins = plan("q73_lm_score").sparkPlan
      .collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty)
    assert(joins.forall(_.leftKeys.nonEmpty),
      joins.map(_.nodeName).mkString(","))
  }

  test("q75 semantic dedup candidates join on the cell id, never all pairs") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = plan("q75_semantic_dedup")
    val joins = p.sparkPlan.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty)
    assert(joins.forall(_.leftKeys.nonEmpty),
      joins.map(_.nodeName).mkString(","))
    // the pair join's equi-key is the IVF cell
    assert(joins.exists(_.leftKeys.exists(_.toString.contains("cell"))),
      p.sparkPlan.toString.take(2000))
  }

  test("q78 winnow pairs block on the fingerprint with the native kernel") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = plan("q78_winnow_pairs")
    assert(p.optimizedPlan.toString.contains("graft_winnow"))
    val joins = p.sparkPlan.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty)
    assert(joins.forall(_.leftKeys.nonEmpty),
      joins.map(_.nodeName).mkString(","))
  }

  test("q45 as-of carry is partitioned by (key, bucket) — hot keys split across tasks") {
    val p = plan("q45_asof_join").executedPlan.toString
    // the full unioned row stream exchanges on (key, bucket), never on the
    // key alone: a hot user's multi-year history spreads over its quarters
    assert("hashpartitioning\\(__k#\\d+L?, __b#\\d+L?".r.findFirstIn(p).nonEmpty,
      p.take(2000))
    // the remaining exchanges carry bucket-level metadata only (the spine
    // distinct + boundary carry, one row per (key, bucket)); the pinned
    // total keeps a future edit from quietly re-shuffling the row stream
    assert(shuffles("q45_asof_join") == 4, p.take(3000))
  }

  test("q56 pivot plans the two-stage pivot aggregation (no value-discovery job)") {
    // declared pivot values plan as groupBy(status, priority) partials +
    // the PivotFirst aggregate: exactly two exchanges, and critically NO
    // separate distinct-collect job to discover the pivot column's values
    assert(shuffles("q56_pivot") == 2)
  }

  test("q44 bucketed join is shuffle-free below the join (co-located buckets)") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val p = plan("q44_bucketed_join")
    // the only exchange in the whole query is the final low-cardinality
    // aggregation; the SortMergeJoin reads co-located buckets directly
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(p.executedPlan.toString).size
    assert(exchanges == 1, p.executedPlan.toString.take(2000))
    val smj = p.sparkPlan.collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, "expected a sort-merge join over bucketed scans")
  }

  test("q47 range join plans as an equi-join on the bin key, dense side pre-aggregated") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = plan("q47_range_join")
    val joins = p.sparkPlan.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty)
    // binning manufactures real equi-keys — a range predicate alone would
    // plan a nested-loop join (empty keys) and die at scale
    assert(joins.forall(_.leftKeys.nonEmpty),
      joins.map(_.nodeName).mkString(","))
    assert(joins.exists(_.toString.contains("__bin")))
    // the per-day aggregation of lineitem must sit BELOW the join: the join
    // moves ~2.4k day partials, not 600k raw line rows
    val aggBelowJoin = joins.exists(j => j.children.exists(_.collectFirst {
      case a: BaseAggregateExec if a.groupingExpressions.exists(
        _.toString.contains("l_shipdate")) => a
    }.nonEmpty))
    assert(aggBelowJoin, p.sparkPlan.toString.take(2000))
  }

  test("q01 scan reads only the projected columns (pruning reaches parquet)") {
    val scans = plan("q01_project").sparkPlan
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val read = scans.head.metadata("ReadSchema")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_shipdate") && !read.contains("l_comment"))
  }

  test("q02 predicates are pushed to the parquet scan") {
    val scans = plan("q02_filter").sparkPlan
      .collect { case s: FileSourceScanExec => s }
    val pushed = scans.map(_.metadata("PushedFilters")).mkString
    assert(pushed.contains("o_orderpriority") && pushed.contains("o_orderdate"),
      s"expected pushed filters, got: $pushed")
  }

  test("q05 dimension joins are broadcast hash joins") {
    val bhj = plan("q05_multi_join").sparkPlan
      .collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty)
  }

  test("q92 bm25: term stats broadcast back, top-k is TakeOrdered") {
    val p = plan("q92_bm25")
    // df join must broadcast (≤ |query terms| rows) — shuffling the tf
    // table a second time for it would be the scale bug
    val bhj = p.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty)
    // top-k plans as per-partition heaps + k-row merge, never a global sort
    assert(p.executedPlan.toString.contains("TakeOrderedAndProject"))
    // explode output is filtered to the literal term set before any
    // aggregation: the filter sits in the same stage as the generate
    assert(p.sparkPlan.toString.contains("Filter"))
  }

  test("q91 span dedup: window/interval stages shuffle fixed-width rows only") {
    // 1 occurrence window (by h) + 1 island window (by doc_id; the
    // interval groupBy reuses that partitioning) + anti-join (2: both
    // sides re-cluster on (doc_id, pos)) + reassembly regroup + final
    // outer join back to all docs — each moves ids/positions/hashes or
    // kept tokens, never whole documents twice
    assert(shuffles("q91_span_dedup") <= 7)
    // the flagged-position side must join the token stream on equi-keys
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val joins = plan("q91_span_dedup").sparkPlan
      .collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(_.leftKeys.nonEmpty))
  }

  test("q93 embed outliers: centroids broadcast back, bounded shuffles") {
    val p = plan("q93_embed_outliers")
    // groups × dims doubles must broadcast — shuffling the full vector
    // table to meet a tiny centroid frame would be the scale bug
    val bhj = p.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty)
    // component-sum agg + centroid regroup + outlier rank window
    assert(shuffles("q93_embed_outliers") <= 3)
  }

  test("q94 dup profile: one hash-partition multiplicity pass") {
    // window count over h + per-doc regroup + docs join back — the
    // occurrence table (24-byte rows) is the only h-keyed shuffle
    assert(shuffles("q94_dup_profile") <= 4)
  }

  test("q95 key skew: top-k is TakeOrdered, totals ride as a scalar row") {
    val p = plan("q95_key_skew")
    assert(p.executedPlan.toString.contains("TakeOrderedAndProject"))
    // one hash agg on the key; no global sort exchange
    assert(shuffles("q95_key_skew") <= 2)
  }

  test("q96 epoch order: range shuffle, never a one-partition window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q96_epoch_order")
    // the position comes from GlobalIndex's range shuffle + zipWithIndex
    // (inside the ExistingRDD lineage — not visible as a SQL exchange);
    // a WindowExec here would mean someone reintroduced the
    // row_number-over-everything shape that funnels the corpus into one task
    assert(p.executedPlan.collect { case w: WindowExec => w }.isEmpty)
  }

  test("q99 source overlap: pair join blocked on the shingle hash, sizes broadcast") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val p = plan("q99_source_overlap").sparkPlan
    val joins = p.collect { case j: BaseJoinExec => j }
    assert(joins.forall(_.leftKeys.nonEmpty))
    // the two size joins must broadcast (20 rows); only the pair self-join
    // may shuffle
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2)
  }

  test("q100 recipe composes without extra scans of the corpus text") {
    // the filter feeds the dedup feeds the span chain: the plan may scan
    // documents for each branch of the span-dedup self-composition, but
    // every join must stay equi-key (no cartesian re-verification pass)
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val joins = plan("q100_curation_recipe").sparkPlan
      .collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(_.leftKeys.nonEmpty))
  }

  test("q97 cdc chunks: exactly two shuffles — per-doc assembly + digest agg") {
    // posexplode is map-only; the boundary window shuffles by doc_id; the
    // (doc_id, chunk_idx) groupBy REUSES that partitioning (subset
    // clustering), so chunk text never crosses a document boundary before
    // being reduced to its digest; the only corpus-wide shuffle is the
    // final digest aggregation
    assert(shuffles("q97_cdc_chunks") == 2)
  }

  test("q98 shared frames: digest-blocked join, payloads stay map-side") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = plan("q98_shared_frames").sparkPlan
    val joins = p.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(_.leftKeys.nonEmpty))
    assert(shuffles("q98_shared_frames") <= 4)
  }

  for ((q, key, what) <- Seq(
      ("q102_quality_buckets", "lang", "per-language quartile thresholds"),
      ("q103_fertility", "tok", "distinct-vocab piece counts"))) {
    test(s"$q broadcasts its $what back (the $key join is broadcast)") {
      // anchored to the join KEY: another incidental broadcast join in the
      // plan must not satisfy the pin for THIS derived table
      val bhj = plan(q).sparkPlan
        .collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.exists(_.leftKeys.exists(_.toString.contains(key))))
    }
  }

  test("the optimizer rewrites size(split) token counts to the native form") {
    // q21's n_tokens is written as size(split(text, " ", -1)); the
    // injected TokenCountRewrite must substitute the allocation-free
    // native expression plan-wide
    val s = plan("q21_text_stats").executedPlan.toString
    assert(s.contains("graft_tokcount"))
    assert(!s.contains("size(split("))
  }

  test("q111 declarative similarity join plans the strategy's LSH operator") {
    // the SparkStrategy rung: a non-equi cosine-threshold join condition
    // must NOT fall back to a nested-loop scan — the injected
    // SimilarityJoinStrategy plans CosineJoinExec (conf-gated; q111's
    // builder enables it)
    val p = plan("q111_sim_join").sparkPlan
    assert(p.exists(_.isInstanceOf[graft.plans.CosineJoinExec]))
    assert(!p.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[CartesianProductExec]))
  }

  test("no query plans a cartesian product (q23 brute-force excepted)") {
    // A BroadcastNestedLoopJoin is allowed only when its build side is a
    // grand (no-key) aggregate — broadcasting one scalar row is not a
    // scale hazard; anything else is. (q16 plans none: its max(id) is a
    // window over the one exchange both of its inputs meet in.)
    // q116/q120 are q23's twins in the compressed domain: DELIBERATE
    // quadratic exact baselines (the probed IVF-SQ8 path q117 is the
    // scale form) — their crossJoin is the declared contract
    val declaredScans =
      Set("q23_ann_cosine", "q116_quantized_ann", "q120_doc_ann")
    def scalarBuild(b: BroadcastNestedLoopJoinExec): Boolean = {
      val build = b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
      }
      build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.groupingExpressions.isEmpty => a
      }.nonEmpty
    }
    for (name <- SparkEntry.queries.keys if !declaredScans.contains(name)) {
      val bad = plan(name).sparkPlan.collect {
        case c: CartesianProductExec => c
        case b: BroadcastNestedLoopJoinExec if !scalarBuild(b) => b
      }
      assert(bad.isEmpty, s"$name plans ${bad.map(_.nodeName).mkString(",")}")
    }
  }

  test("q16 reconcile: only the new-key subset enters the numbering window") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q16_pk_reconcile")
    // the old shape funnelled the WHOLE batch through a window partitioned
    // on a 2-valued is-new flag; that flag (and its exchange) must be gone
    assert(!p.executedPlan.toString.contains("__graft_is_new"))
    // the max-id and live-id lookup windows see every row of both inputs;
    // the row_number numbering window must see ONLY rows that need a new
    // id: beneath it sits the isnull(id) filter, known rows bypass it
    val windows = p.sparkPlan.collect {
      case w: WindowExec if w.windowExpression.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.RowNumber])) => w
    }
    assert(windows.nonEmpty)
    for (w <- windows) {
      val guarded = w.collectFirst {
        case f: FilterExec if f.condition.toString.toLowerCase.contains("isnull") => f
      }
      assert(guarded.nonEmpty, w.toString.take(500))
    }
  }

  test("q105 top-k terms is ONE sketch aggregation — no window, no second shuffle") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q105_topk_terms")
    // the TypedImperativeAggregate plans as ObjectHashAggregate (partial +
    // final of the SAME aggregation — sketches merge, the term table never
    // ships); the classic formulation's count-table re-shuffle + Window
    // must not appear anywhere
    val aggs = p.sparkPlan.collect { case a: ObjectHashAggregateExec => a }
    assert(aggs.nonEmpty, p.sparkPlan.toString.take(800))
    assert(aggs.forall(_.aggregateExpressions.exists(
      _.aggregateFunction.isInstanceOf[graft.functions.TopKAgg])))
    assert(p.sparkPlan.collect { case w: WindowExec => w }.isEmpty)
    // exactly ONE exchange: the groupBy(lang) hash partitioning — each
    // group ships a capacity-bounded sketch between partial and final
    assert(shuffles("q105_topk_terms") == 1)
  }

  test("q109 document-source projection prunes at the V2 scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = plan("q109_docsource_project").executedPlan
      .collect { case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan] }
    assert(scans.length == 1)
    // the full document schema is 7 fields; the scan reads exactly the 3
    // projected ones — $project pruning is ON the document source
    assert(scans.head.readSchema().fieldNames.toSet ==
      Set("_id", "o_orderkey", "o_totalprice"))
  }

  test("q110 document-source filter pushes to the V2 scan, zero residual") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q110_docsource_filter").executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val pushed = scans.head.pushed.map(_.toString)
    // both $match predicates accepted by the scan...
    assert(pushed.exists(f => f.contains("o_orderdate") && f.contains("GreaterThan")),
      pushed.mkString(", "))
    assert(pushed.exists(f => f.contains("o_orderstatus") && f.contains("EqualTo")),
      pushed.mkString(", "))
    // ...and NOTHING re-filters them Spark-side: rejected documents never
    // leave the reader (the status/date columns are even pruned from the
    // read schema — only fully-pushed filters reference them)
    assert(p.collect { case f: FilterExec => f }.isEmpty, p.toString.take(800))
    // o_orderdate survives pruning (the output projects it); o_orderstatus
    // does not — only its fully-pushed filter referenced it
    assert(scans.head.readSchema().fieldNames.toSet ==
      Set("o_orderkey", "o_orderdate", "o_totalprice"))
  }

  test("q129 pushes the MIN/MAX/COUNT combination onto the document scan") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // aggregate plans AQE-wrap: inspect the pre-AQE physical plan
    val p = plan("q129_docsource_agg").sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val d = scans.head.description()
    // no `$group` reaches the scan: it prunes to the three referenced
    // fields and Spark's partial/final aggregate answers
    assert(!scans.head.aggPushed, d)
    assert(scans.head.readSchema().fieldNames.toSet ==
      Set("o_totalprice", "o_orderdate", "o_orderpriority"), d)
    assert(p.collect { case a: BaseAggregateExec => a }.nonEmpty,
      p.toString.take(600))
  }

  test("q127 ranks per query with the bounded-heap aggregate, no Window") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q127_ivf_sq8_agg")
    // the per-query ranking is ONE TypedImperativeAggregate: candidates
    // prune to k-entry buffers map-side, nothing sorts a query's full
    // candidate list through a window task
    val aggs = p.sparkPlan.collect { case a: ObjectHashAggregateExec => a }
    assert(aggs.nonEmpty, p.sparkPlan.toString.take(800))
    assert(aggs.exists(_.aggregateExpressions.exists(
      _.aggregateFunction.isInstanceOf[graft.functions.TopKRowsAgg])))
    assert(p.sparkPlan.collect { case w: WindowExec => w }.isEmpty)
  }

  test("q123 nested document filter pushes dotted paths, zero residual") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q123_docsource_nested").executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val pushed = scans.head.pushed.map(_.toString)
    // both dotted $match predicates accepted by the scan...
    assert(pushed.exists(f => f.contains("profile.acctbal") && f.contains("GreaterThan")),
      pushed.mkString(", "))
    assert(pushed.exists(f => f.contains("profile.mktsegment") && f.contains("EqualTo")),
      pushed.mkString(", "))
    // ...with no Spark-side re-filter: rejected documents never leave the
    // reader even when the predicate lives two struct levels down
    assert(p.collect { case f: FilterExec => f }.isEmpty, p.toString.take(800))
  }

  test("q146 array-head filter pushes as a bracket path, zero residual") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q146_docsource_array_head").executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val pushed = scans.head.pushed.map(_.toString)
    // the array-element predicate reached the scan via ArrayMatchPushdown
    // (Spark's own translation can't hand GetArrayItem to pushFilters)...
    assert(pushed.exists(f =>
      f.contains("items[0].qty") && f.contains("GreaterThanOrEqual")),
      pushed.mkString(", "))
    // ...alongside the vanilla-pushed status equality...
    assert(pushed.exists(f =>
      f.contains("o_orderstatus") && f.contains("EqualTo")),
      pushed.mkString(", "))
    // ...and NOTHING re-filters Spark-side: documents failing the head
    // predicate never leave the reader
    assert(p.collect { case f: FilterExec => f }.isEmpty, p.toString.take(800))
    // the PROJECTION also lands on the scan: Spark's nested pruning
    // reaches through GetArrayItem, so each element parses only its
    // qty/price subfields (`line` is never materialized) and the
    // filter-only o_orderstatus parses but doesn't ship
    assert(scans.head.readSchema().catalogString ==
      "struct<o_orderkey:bigint,items:array<struct<qty:double,price:double>>>",
      scans.head.readSchema().catalogString)
    // ...and the ELEMENT COUNT prunes too: every plan-side use of items
    // is a fixed head access, so the parser materializes one element and
    // token-skips the rest (ArrayHeadProjection) — rows crossing the
    // scan carry 1 element, not the order's whole item list
    assert(scans.head.description().contains("ArrayHead: [items<=1]"),
      scans.head.description())
  }

  test("q147 partition-ordered top-N pushes with path-constant sort keys") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q147_docsource_partition_topn").executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val s = scans.head
    // the pushed sort leads with the PARTITION columns — their heap keys
    // come from the spliced directory values, never the parse
    assert(s.pushedTopN == 15, s.description())
    assert(s.pushedSorts.map(_.field).toSeq ==
      Seq("py", "status", "o_orderkey"), s.description())
    assert(s.description().contains("PushedTopN"), s.description())
  }

  test("q148 zone maps prune clustered files at planning, zero residual") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q148_docsource_zonemap_skip")
    val p = qe.executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val s = scans.head
    // the price predicate is fully pushed (zero residual)...
    assert(s.pushed.map(_.toString).exists(f =>
      f.contains("o_totalprice") && f.contains("GreaterThan")),
      s.pushed.mkString(", "))
    assert(p.collect { case f: FilterExec => f }.isEmpty, p.toString.take(800))
    // ...and the sidecar drops most of the range-clustered files BEFORE
    // they are split or parsed: of 8 price bands, only the top survives
    // a > 450000 predicate
    val planned = s.planInputPartitions()
    assert(planned.length < 8, s"expected zone pruning, planned ${planned.length}")
    assert(s.description().matches(".*ZoneMaps: \\d+ files indexed, pruned [1-9].*"),
      s.description())
  }

  test("q150 bloom sidecar skips files for a point lookup on a scattered key") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q150_docsource_bloom_lookup").executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val s = scans.head
    // the In is fully pushed, zero residual...
    assert(s.pushed.map(_.toString).exists(f =>
      f.contains("o_orderkey") && f.contains("In")), s.pushed.mkString(", "))
    assert(p.collect { case f: FilterExec => f }.isEmpty, p.toString.take(800))
    // ...and the key is SCATTERED across the price-clustered files, so
    // only the per-file blooms can skip: a 3-key lookup plans at most
    // 3 files (+ false positives at 1% fpp), never all 8 bands
    val planned = s.planInputPartitions()
    assert(planned.length < 8,
      s"expected bloom skipping, planned ${planned.length}")
  }

  test("q149 unfiltered MIN/MAX/COUNT answers from zone-map metadata alone") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q149_docsource_metadata_agg")
    val p = qe.sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // the sidecar answered: one metadata partition, no aggregate node,
    // zero document bytes to read at ANY corpus size
    assert(s.statsAnswer.isDefined, s.description())
    assert(s.description().contains("(complete, metadata-only)"),
      s.description())
    assert(p.collect { case a: BaseAggregateExec => a }.isEmpty,
      p.toString.take(600))
    val parts = s.planInputPartitions()
    assert(parts.length == 1 &&
      parts.head.isInstanceOf[graft.ingest.v2.StatsAnswerPartition])
  }

  test("q151 appended files prune through their incremental sidecar generation") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q151_docsource_zonemap_append")
    val p = qe.executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val s = scans.head
    assert(p.collect { case f: FilterExec => f }.isEmpty, p.toString.take(800))
    // 6 files indexed at build time + 2 landed after and indexed by
    // ZoneMaps.append: the > 450000 predicate exceeds every pre-append
    // band, so only appended files are plannable — which proves the
    // add_ generation participates (an unindexed landing would be KEPT
    // conservatively and planned)
    val planned = s.planInputPartitions()
    assert(planned.length <= 2,
      s"appended stats must prune, planned ${planned.length}")
    assert(s.description().contains("ZoneMaps: 8 files indexed"),
      s.description())
  }

  test("q152 block stats prune byte-range splits of one clustered file") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q152_docsource_block_skip")
    val p = qe.executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val s = scans.head
    assert(p.collect { case f: FilterExec => f }.isEmpty, p.toString.take(800))
    val planned = s.planInputPartitions()
      .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition])
    assert(planned.nonEmpty)
    val fileLen = new java.io.File(
      new java.net.URI(planned.head.file).getPath).length()
    val plannedBytes = planned.map(_.length).sum
    // the sort key is clustered WITHIN the one file: only block stats
    // can skip here, and the planned byte ranges must be a strict
    // subset of the file
    assert(plannedBytes < fileLen,
      s"expected split-level skipping: planned $plannedBytes of $fileLen")
    assert(s.description().contains("blocks"), s.description())
  }

  test("q153 filtered MIN/MAX/COUNT answers from metadata when zone-decidable") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q153_docsource_filtered_metadata_agg")
    val p = qe.sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // the status filter is fully pushed AND zone-decidable per file
    // (min == max on the clustering key): pruned files contribute
    // nothing, the survivor is all-true, so the sidecar answers — one
    // metadata partition, no aggregate node, zero data bytes at any
    // corpus size
    assert(s.pushed.map(_.toString).exists(_.contains("o_orderstatus")),
      s.pushed.mkString(", "))
    assert(s.statsAnswer.isDefined, s.description())
    assert(s.description().contains("(complete, metadata-only)"),
      s.description())
    assert(p.collect { case a: BaseAggregateExec => a }.isEmpty,
      p.toString.take(600))
    val parts = s.planInputPartitions()
    assert(parts.length == 1 &&
      parts.head.isInstanceOf[graft.ingest.v2.StatsAnswerPartition])
  }

  test("q154 filtered exact SUM answers from sidecar sums, zero data bytes") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q154_docsource_metadata_sum")
    val p = qe.sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // decimal + long SUMs fold from the exact per-file sidecar sums of
    // the one all-true surviving file; no aggregate node anywhere
    assert(s.statsAnswer.isDefined, s.description())
    assert(s.description().contains("(complete, metadata-only)"),
      s.description())
    assert(p.collect { case a: BaseAggregateExec => a }.isEmpty,
      p.toString.take(600))
    val parts = s.planInputPartitions()
    assert(parts.length == 1 &&
      parts.head.isInstanceOf[graft.ingest.v2.StatsAnswerPartition])
  }

  test("q155 GROUP BY the clustering key answers from metadata, one row per group") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q155_docsource_grouped_metadata_agg")
    val p = qe.sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // every group column is constant per file (write-key clustering), so
    // the sidecar folds one row per status — no aggregate node, no
    // shuffle, zero data bytes at any corpus size
    assert(s.statsAnswer.isDefined, s.description())
    assert(s.statsAnswer.get._1.length == 3, // F / O / P
      s.statsAnswer.get._1.map(_.mkString("|")).mkString(", "))
    assert(p.collect { case a: BaseAggregateExec => a }.isEmpty,
      p.toString.take(600))
    val parts = s.planInputPartitions()
    assert(parts.length == 1 &&
      parts.head.isInstanceOf[graft.ingest.v2.StatsAnswerPartition])
  }

  test("q156 top-N zone pruning plans only the reachable price band") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q156_docsource_topn_skip")
    val p = qe.executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val s = scans.head
    assert(s.pushedTopN == 10, s.description())
    // the guarantee/threshold construction: the top band's 10+ rows all
    // beat every other band's max, so 7 of 8 files are never planned
    val planned = s.planInputPartitions()
    assert(planned.length == 1,
      s"top-N zone pruning should plan one band, planned ${planned.length}")
    assert(s.description().contains("TopN-pruned"), s.description())
  }

  test("q157 top-N block pruning reads only the tail of one sorted file") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q157_docsource_topn_block_skip")
    val p = qe.executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val s = scans.head
    assert(s.pushedTopN == 5, s.description())
    val planned = s.planInputPartitions()
      .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition])
    assert(planned.nonEmpty)
    val fileLen = new java.io.File(
      new java.net.URI(planned.head.file).getPath).length()
    val plannedBytes = planned.map(_.length).sum
    assert(plannedBytes < fileLen,
      s"expected tail-block planning: $plannedBytes of $fileLen bytes")
    // the probe is DESC — nothing from the head of the sorted file plans
    assert(planned.forall(_.start > 0L), planned.mkString(", "))
  }

  test("q163 global ORDER BY over sorted bands plans no SortExec and no Exchange") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q163_docsource_ordered_scan")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    // the rows arrive GLOBALLY ordered with no sort operator anywhere —
    // the layout is the sort
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)),
      "rows must arrive globally sorted")
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[SortExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the global sort must cost neither a SortExec nor an Exchange")
  }

  test("q164 DESC ordered scan: reversed bands + local sort, still no exchange") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q164_docsource_ordered_scan_desc")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)),
      "rows must arrive globally DESC-sorted")
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns.map(_.nodeName).mkString(", "))
    val sorts = ns.collect { case se: SortExec => se }
    assert(sorts.nonEmpty && sorts.forall(!_.global),
      "DESC pays only a per-band LOCAL sort")
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the exchange must be gone in every accepted shape")
  }

  test("q165 appended landing: overlapping bands k-way merge — no sort, no exchange") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q165_docsource_merge_read")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)),
      "merged rows must arrive globally sorted")
    val ns = TestPlans.executedNodes(df)
    val scans = ns.collect { case o: graft.plans.OrderedBandScanExec => o }
    assert(scans.length == 1, ns.map(_.nodeName).mkString(", "))
    // the appended batch's own percentile boundaries overlap the base's:
    // the plan must hold at least one multi-file group (the k-way merge)
    // over more files than groups
    val groups = scans.head.groups
    assert(groups.exists(_.files.lengthCompare(1) > 0),
      s"expected a merged group: ${groups.map(_.files.length).mkString(",")}")
    assert(groups.map(_.files.length).sum > groups.length)
    assert(!ns.exists(_.isInstanceOf[SortExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the appended layout must keep the exchange-free, sort-free plan")
  }

  test("q166 string-key ordered scan: band plan, global lexicographic order") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q166_docsource_string_ordered_scan")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    val keys = rows.map(_.getString(0)).toSeq
    // fixed-width hex: java lexicographic == UTF8 binary order here
    assert(keys == keys.sorted, "rows must arrive in lexicographic order")
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[SortExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the string-key layout must keep the exchange-free, sort-free plan")
  }

  test("q167 range merge join: band-aligned partitions, zero exchange, zero sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q167_docsource_range_merge_join")(spark, sf)
    val rows = df.collect()
    // referential integrity in the testdata: every lineitem row joins
    assert(rows.length ==
      graft.core.Tables.lineitem(spark, sf).count().toInt)
    // the merge order is claimed: rows arrive left-key ascending
    val keys = rows.map(_.getLong(0))
    assert(keys.sliding(2).forall(p => p(0) <= p(1)),
      "join output must stream in left-key order")
    val ns = TestPlans.executedNodes(df)
    val joins = ns.collect { case j: graft.plans.RangeMergeJoinExec => j }
    assert(joins.length == 1, ns.map(_.nodeName).mkString(", "))
    assert(joins.head.parts.length > 1,
      "co-banded drops must join at band parallelism")
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(_.isInstanceOf[SortExec]) &&
      !ns.exists(_.isInstanceOf[SortMergeJoinExec]) &&
      !ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the range merge join must pay neither shuffle nor sort nor hash")
  }

  test("q168 range merge anti-join: decontamination with zero exchange") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q168_docsource_range_merge_anti")(spark, sf)
    val rows = df.collect()
    val contaminated = graft.core.Tables.orders(spark, sf)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 7 === 0)
      .count()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count() - contaminated)
    assert(rows.forall(_.getLong(0) % 7 != 0))
    val ns = TestPlans.executedNodes(df)
    val joins = ns.collect { case j: graft.plans.RangeMergeJoinExec => j }
    assert(joins.length == 1, ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(_.isInstanceOf[SortExec]),
      "the anti-join must pay neither shuffle nor sort")
  }

  test("q171 range-layout rollup: one-stage GROUP BY, zero exchange") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q171_docsource_range_agg_rollup")(spark, sf)
    val rows = df.collect()
    assert(rows.length > 100, s"expected many day groups, got ${rows.length}")
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns.map(_.nodeName).mkString(", "))
    // partial AND final aggregate present, with NO exchange between or
    // anywhere else — the layout satisfies the clustered distribution
    assert(ns.count(_.isInstanceOf[HashAggregateExec]) == 2,
      ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the rollup's aggregation exchange must be gone")
  }

  test("SQL-text joins over co-banded views plan the range merge join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val (o, c) = graft.queries.DocOps.rangeJoinSides(spark, sf)
    o.createOrReplaceTempView("rmj_o_v")
    c.createOrReplaceTempView("rmj_c_v")
    def nodes(q: String) = {
      val df = spark.sql(q)
      df.collect()
      (df, TestPlans.executedNodes(df))
    }
    // plain SQL inner join
    val (inner, ins) = nodes("SELECT rmj_o_v.o_orderkey, o_totalprice, ck " +
      "FROM rmj_o_v JOIN rmj_c_v ON ck = o_orderkey")
    assert(inner.count() ==
      graft.core.Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderkey") % 7 === 0)
        .count())
    assert(ins.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]),
      ins.map(_.nodeName).mkString(", "))
    assert(!ins.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // NOT EXISTS — the SQL decontamination idiom — rewrites to a plain
    // LeftAnti with a bare key equality: the merge join plans
    val (ne, nens) = nodes("SELECT o_orderkey, o_totalprice FROM rmj_o_v " +
      "WHERE NOT EXISTS (SELECT 1 FROM rmj_c_v WHERE ck = o_orderkey)")
    assert(ne.count() > 0 &&
      ne.collect().forall(_.getLong(0) % 7 != 0))
    assert(nens.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]),
      nens.map(_.nodeName).mkString(", "))
    assert(!nens.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // NOT IN must REFUSE: its null-semantics condition is not a bare
    // key equality (a null key would change the answer) — correctness
    // over cleverness, Spark's own anti-join plans
    val (ni, nins) = nodes("SELECT o_orderkey FROM rmj_o_v " +
      "WHERE o_orderkey NOT IN (SELECT ck FROM rmj_c_v)")
    assert(ni.count() == ne.count())
    assert(!nins.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]),
      "NOT IN carries null semantics the bare-equality merge must refuse")
  }

  test("q183-q185 merge join: residual conjuncts, restaged filters, and chains plan exchange-free") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    spark.catalog.clearCache()
    def pin(name: String): Seq[graft.plans.RangeMergeJoinExec] = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val ns = TestPlans.executedNodes(df)
      val joins = ns.collect { case j: graft.plans.RangeMergeJoinExec => j }
      assert(joins.length == 1, s"$name: " + ns.map(_.nodeName).mkString(", "))
      assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
        !ns.exists(_.isInstanceOf[SortExec]) &&
        !ns.exists(_.isInstanceOf[SortMergeJoinExec]) &&
        !ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$name must pay neither shuffle nor sort nor hash join")
      joins
    }
    // conjunctive condition: the merge runs on the key equality, the
    // cross-side conjunct evaluates per pair inside the merge
    val resid = pin("q183_docsource_range_merge_residual")
    assert(resid.head.steps.exists(_.residual.isDefined),
      "the extra conjunct must ride as a residual, not refuse the plan")
    // residual WHERE on one side: the filter re-stages inside the
    // merge partitions (the round-15-style match-shape gap, for joins)
    val filt = pin("q184_docsource_range_merge_filtered")
    assert(filt.head.sides.exists(_.filters.nonEmpty),
      "the side filter must re-stage inside the merge")
    // left-deep chain: ONE chained exec, both hops merge — zero
    // exchanges END-TO-END (the verdict's second-hop shuffle is gone)
    val chain = pin("q185_docsource_range_merge_chain")
    assert(chain.head.steps.length == 2 &&
      chain.head.sides.length == 3,
      "the chain must fold both joins into one exec")
  }

  test("q186 sliding frames + running avg + lead: band window, zero exchange, no WindowExec") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q186_docsource_range_sliding_lead")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the sliding mean really slides: a 7-row frame's sum matches the
    // 7 preceding v values summed by hand at a spot-checked position
    val byOid = rows.sortBy(_.getString(0))
    val i = byOid.length / 2
    val window = (math.max(0, i - 6) to i).map(j => byOid(j).getLong(1))
    assert(byOid(i).getLong(4) == window.sum, "sl_sum spot check")
    assert(byOid(i).getDouble(2) == window.sum.toDouble / window.length,
      "sl_avg spot check")
    // lead crosses positions: next_v at i is v at i+1
    assert(byOid(i).getLong(6) == byOid(i + 1).getLong(1),
      "lead spot check")
  }

  test("q190 deep offsets with defaults: band window, zero exchange, no WindowExec") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q190_docsource_range_deep_offsets")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the ring really delays: next3 at i is v at i+3; defaults appear
    // exactly where the offset row falls off either end
    val byOid = rows.sortBy(_.getString(0))
    val i = byOid.length / 2
    assert(byOid(i).getLong(2) == byOid(i + 3).getLong(1),
      "lead(3) spot check")
    assert(byOid(i).getLong(3) == byOid(i - 2).getLong(1),
      "lag(2) spot check")
    assert(byOid.takeRight(3).forall(_.isNullAt(2)),
      "lead(3) null tail")
    assert(byOid.take(2).forall(_.getLong(3) == -1L) &&
      byOid(2).getLong(3) == byOid(0).getLong(1),
      "lag(2, -1) defaulted head")
    assert(byOid.last.getLong(4) == -5L,
      "lead(1, -5) defaulted last row")
  }

  test("q191 value-based RANGE frame: band window, zero exchange, no WindowExec") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q191_docsource_range_value_sliding")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the frame is VALUE-based: every row's w7_sum equals the hand sum
    // over rows whose day is within 6 of its own — checked at a spot
    // day in the middle of the calendar, peers included
    val byDay = rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val days = byDay.map(_._1).distinct.sorted
    val d0 = days(days.length / 2)
    val expect = byDay.filter(t => t._1 >= d0 - 6 && t._1 <= d0)
      .map(_._2).sum
    assert(byDay.filter(_._1 == d0).forall(_._3 == expect),
      "7-day value frame spot check (peers share the frame)")
  }

  test("SQL-text 3-way chain: two JOINs on one key fold into a single chained merge") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val base = graft.queries.DocOps.rangeJoinSides(spark, sf)
    base._1.createOrReplaceTempView("rmj3_o_v")
    base._2.createOrReplaceTempView("rmj3_c_v")
    // the lineitem side of the co-banded family
    graft.queries.DocOps.rangeJoinLineitemSide(spark, sf)
      .createOrReplaceTempView("rmj3_l_v")
    val df = spark.sql(
      "SELECT rmj3_o_v.o_orderkey, o_totalprice, l_quantity " +
        "FROM rmj3_o_v " +
        "JOIN rmj3_l_v ON l_orderkey = rmj3_o_v.o_orderkey " +
        "LEFT ANTI JOIN rmj3_c_v ON ck = rmj3_o_v.o_orderkey")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(0) % 7 != 0))
    val ns = TestPlans.executedNodes(df)
    val joins = ns.collect { case j: graft.plans.RangeMergeJoinExec => j }
    assert(joins.length == 1 && joins.head.steps.length == 2,
      ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]))
  }

  test("range-agg claims compose: GROUP BY key ORDER BY key is zero-exchange end-to-end") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    // the one-stage band aggregation claims the scan's RangePartitioning
    // through HashAggregate, so the ORDER BY on the same key satisfies
    // its OrderedDistribution too — the sorted daily rollup (the
    // time-series report shape) pays no exchange anywhere
    val df = SparkEntry.queries("q171_docsource_range_agg_rollup")(spark, sf)
      .orderBy(org.apache.spark.sql.functions.col("o_day"))
    val rows = df.collect()
    assert(rows.length > 100)
    assert(rows.map(_.getInt(0)).sliding(2).forall(p => p(0) <= p(1)),
      "rows must arrive globally day-ordered")
    val ns = TestPlans.executedNodes(df)
    assert(ns.count(_.isInstanceOf[HashAggregateExec]) == 2 &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
  }

  test("merge-join claims compose: GROUP BY the join key above the merge pays no exchange") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    // the exec claims RangePartitioning on the left key, so Spark's OWN
    // satisfies-check clusters the downstream aggregation for free —
    // join + rollup, zero exchanges end-to-end (and the same through a
    // CHAIN: the chained exec's claim is the base key's)
    val (o, c) = graft.queries.DocOps.rangeJoinSides(spark, sf)
    val agg = o.join(c, o("o_orderkey") === c("ck"))
      .groupBy(o("o_orderkey"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val rows = agg.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) == 1L))
    val ns = TestPlans.executedNodes(agg)
    assert(ns.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]) &&
      ns.exists(_.isInstanceOf[BaseAggregateExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
  }

  test("SQL-text merge joins: WHERE on one side and AND-ed residuals still plan the merge") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val (o, c) = graft.queries.DocOps.rangeJoinSides(spark, sf)
    o.createOrReplaceTempView("rmjf_o_v")
    c.createOrReplaceTempView("rmjf_c_v")
    def nodes(q: String) = {
      val df = spark.sql(q)
      df.collect()
      (df, TestPlans.executedNodes(df))
    }
    // the task-1 "Done" shape: a WHERE on one side of the q167-style
    // join must still plan the merge (pushed or residual alike)
    val (w, wns) = nodes("SELECT rmjf_o_v.o_orderkey, o_totalprice, ck " +
      "FROM rmjf_o_v JOIN rmjf_c_v ON ck = o_orderkey " +
      "WHERE o_totalprice * 2.0 > 1000.0")
    assert(w.count() > 0)
    assert(wns.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]),
      wns.map(_.nodeName).mkString(", "))
    assert(!wns.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // an AND-ed cross-side residual in the ON clause
    val (r, rns) = nodes("SELECT rmjf_o_v.o_orderkey, o_totalprice, ck " +
      "FROM rmjf_o_v JOIN rmjf_c_v " +
      "ON ck = o_orderkey AND o_totalprice > ck * 0.5")
    assert(r.count() > 0)
    val rj = rns.collect { case j: graft.plans.RangeMergeJoinExec => j }
    assert(rj.length == 1 && rj.head.steps.exists(_.residual.isDefined),
      rns.map(_.nodeName).mkString(", "))
    assert(!rns.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // side filter on a column the SELECT drops: the side's peeled chain
    // is Project above Filter, and the merge partitions must evaluate
    // the filter against the scan's raw rows BEFORE projecting
    val (d, dns) = nodes("SELECT rmjf_o_v.o_orderkey, ck " +
      "FROM rmjf_o_v JOIN rmjf_c_v ON ck = o_orderkey " +
      "WHERE o_totalprice * 2.0 > 1000.0")
    assert(d.count() > 0)
    assert(dns.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]) &&
      !dns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      dns.map(_.nodeName).mkString(", "))
  }

  test("SQL-text ORDER BY plans the band scan through Project and residual Filter") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    graft.queries.DocOps.ordersRangeLandedSource(spark, sf)
      .createOrReplaceTempView("ordered_scan_sql_v")
    // the PERMUTED select order leaves a Project between Sort and the
    // scan relation after pushdown — the shape the DataFrame twin
    // (.orderBy(...).select(...)) never produces, and exactly where the
    // strategy used to fall through to the full range Exchange
    val df = spark.sql("SELECT o_totalprice, o_orderkey " +
      "FROM ordered_scan_sql_v ORDER BY o_totalprice")
    val rows = df.collect()
    assert(rows.length == 1500)
    assert(rows.map(_.getDouble(0)).sliding(2).forall(p => p(0) <= p(1)),
      "rows must arrive globally sorted")
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[SortExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the SQL twin must match the DataFrame plan: no sort, no exchange")
    // a RESIDUAL (unpushable) filter between Sort and scan: removal
    // never reorders, so the band scan still plans — with the filter
    // re-staged above it
    val df2 = spark.sql("SELECT o_orderkey, o_totalprice " +
      "FROM ordered_scan_sql_v WHERE o_orderkey % 2 = 0 " +
      "ORDER BY o_totalprice")
    val rows2 = df2.collect()
    assert(rows2.nonEmpty && rows2.length < 1500)
    assert(rows2.forall(_.getLong(0) % 2 == 0))
    assert(rows2.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)),
      "filtered rows must still arrive globally sorted")
    val ns2 = TestPlans.executedNodes(df2)
    assert(ns2.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns2.map(_.nodeName).mkString(", "))
    assert(!ns2.exists(_.isInstanceOf[SortExec]) &&
      !ns2.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "a residual filter must not re-introduce the exchange")
    // the residual filter's column is DROPPED by the select: the peeled
    // chain is Project[o_orderkey] ABOVE Filter[o_totalprice…], and the
    // restage must reproduce that nesting — the inverted order hoisted
    // the Filter above the Project and failed to bind the pruned column
    val df3 = spark.sql("SELECT o_totalprice FROM ordered_scan_sql_v " +
      "WHERE o_orderkey % 2 = 0 ORDER BY o_totalprice")
    val rows3 = df3.collect()
    assert(rows3.nonEmpty && rows3.length < 1500)
    assert(rows3.map(_.getDouble(0)).sliding(2).forall(p => p(0) <= p(1)))
    val ns3 = TestPlans.executedNodes(df3)
    assert(ns3.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns3.map(_.nodeName).mkString(", "))
    assert(!ns3.exists(_.isInstanceOf[SortExec]) &&
      !ns3.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // …and the same shape through the band WINDOW strategy's restage
    val df4 = spark.sql("SELECT o_totalprice, " +
      "rank() OVER (ORDER BY o_totalprice) AS rk " +
      "FROM ordered_scan_sql_v WHERE o_orderkey % 2 = 0")
    val rows4 = df4.collect()
    assert(rows4.length == rows3.length)
    val ns4 = TestPlans.executedNodes(df4)
    assert(ns4.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns4.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns4.map(_.nodeName).mkString(", "))
    // a COMPUTED output column puts an ALIASING Project between Sort and
    // the scan: it keeps row order and the band claim, and the sort key
    // still reaches the scan unaliased — the ordered scan peels it like
    // the window strategy does
    val df5 = spark.sql("SELECT o_totalprice, o_orderkey * 2 AS k2 " +
      "FROM ordered_scan_sql_v ORDER BY o_totalprice")
    val rows5 = df5.collect()
    assert(rows5.length == 1500)
    assert(rows5.map(_.getDouble(0)).sliding(2).forall(p => p(0) <= p(1)),
      "computed-column rows must arrive globally sorted")
    val ns5 = TestPlans.executedNodes(df5)
    assert(ns5.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns5.map(_.nodeName).mkString(", "))
    assert(!ns5.exists(_.isInstanceOf[SortExec]) &&
      !ns5.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "an aliasing Project must not re-introduce the sort or the exchange")
  }

  test("q187 COUNT(DISTINCT key) answers from the sidecar's distinct counts") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q187_docsource_metadata_distinct_count")(
      spark, sf)
    val r = df.collect()
    assert(r.length == 1)
    // truth from the raw table
    val o = graft.core.Tables.orders(spark, sf)
    val days = o.select(org.apache.spark.sql.functions.datediff(
      org.apache.spark.sql.functions.col("o_orderdate"),
      org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.lit("1970-01-01"))))
      .distinct().count()
    assert(r.head.getLong(0) == days && r.head.getLong(1) == o.count())
    // metadata-only: the one planned partition is the answer row —
    // zero data bytes at any corpus size
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1 && scans.head.statsAnswer.isDefined,
      df.queryExecution.executedPlan.toString.take(500))
    val parts = scans.head.planInputPartitions()
    assert(parts.length == 1 &&
      parts.head.isInstanceOf[graft.ingest.v2.StatsAnswerPartition])
  }

  test("q182 dense_rank now rides the metadata prefix (sidecar distinct counts)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q182_docsource_range_dense_rank")(spark, sf)
    df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    assert(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString.contains("prefix=metadata"),
      "dense_rank's distinct-count prefix must come from the sidecar")
  }

  test("q197 lag IGNORE NULLS: band window, zero exchange, no WindowExec") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q197_docsource_range_lag_ignore_nulls")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // pk1 really skips nulls: at every row it equals the most recent
    // non-null v strictly before it in oid order
    val byOid = rows.sortBy(_.getString(0))
    var lastNonNull: Option[Long] = None
    byOid.foreach { r =>
      val pk1 = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(pk1 == lastNonNull, s"pk1 at ${r.getString(0)}")
      if (!r.isNullAt(1)) lastNonNull = Some(r.getLong(1))
    }
  }

  test("q196 event-time RANGE frame over a TIMESTAMP key: band window, zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q196_docsource_range_event_time")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the frame really spans 15 MINUTES of event time: spot-check a
    // mid-stream event against the hand count over [t-15min, t]
    val byT = rows.map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
    val i = byT.length / 2
    val t0 = byT(i)._1
    val expect = byT.count(e => e._1 >= t0 - 15L * 60 * 1000000 &&
      e._1 <= t0)
    assert(byT.filter(_._1 == t0).forall(_._2 == expect),
      "15-minute event-time frame spot check")
  }

  test("q195 calendar RANGE frame over a DATE key: band window, zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q195_docsource_range_date_interval")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the frame really spans 7 calendar days: spot-check a mid-calendar
    // day against the hand sum over days within 6 of it
    val byDay = rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val days = byDay.map(_._1).distinct.sorted
    val d0 = days(days.length / 2)
    val expect = byDay.filter(t => t._1 >= d0 - 6 && t._1 <= d0)
      .map(_._2).sum
    assert(byDay.filter(_._1 == d0).forall(_._3 == expect),
      "7-calendar-day frame spot check")
  }

  test("q211 interval-overlap join: bounded sweep, zero exchange, no nested loop") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q211_docsource_range_interval_join")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.RangeIntervalJoinExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(_.nodeName.contains("NestedLoop")),
      ns.map(_.nodeName).mkString(", "))
    // containment really holds, and every in-window day matched
    assert(rows.forall(r => r.getInt(2) <= r.getInt(0) &&
      r.getInt(0) <= r.getInt(3)), "containment")
    // a day matches iff it sits within 4 days of the preceding
    // 11-multiple (positive epoch days, so % is the true remainder)
    val dayRows = rows.map(_.getInt(0)).distinct
    assert(dayRows.forall(_ % 11 <= 4), "matched days sit inside a window")
    // the ordering claim survives collection per partition: spot-check
    // via a downstream zero-exchange aggregation composing on top
    import org.apache.spark.sql.functions.{col, count, lit}
    spark.catalog.clearCache()
    val agg = SparkEntry.queries("q211_docsource_range_interval_join")(spark, sf)
      .groupBy(col("promo_id"))
      .agg(count(lit(1)).as("n_orders"))
    agg.collect()
    val ans = TestPlans.executedNodes(agg)
    assert(ans.exists(_.isInstanceOf[graft.plans.RangeIntervalJoinExec]),
      ans.map(_.nodeName).mkString(", "))
  }

  test("q213 window over the interval sweep: band window over the sweep exec, zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q213_docsource_range_interval_window")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      ns.exists(_.isInstanceOf[graft.plans.RangeIntervalJoinExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(_.nodeName.contains("NestedLoop")),
      ns.map(_.nodeName).mkString(", "))
    // the totals pass is COLUMN-PRUNED through the sweep exec: only
    // the window inputs + the sweep's structural columns convert
    val bw = ns.collect { case b: graft.plans.BandRunningWindowExec => b }
    assert(bw.nonEmpty &&
      bw.head.metrics("totalsPassColumns").value == 2L,
      s"narrowed totals pass: ${bw.map(_.metrics("totalsPassColumns").value)}")
    // the counter really runs: the global last row's seen == row count,
    // and promo_seen counts exactly the non-null labels
    val last = rows.maxBy(r => (r.getInt(0), r.getLong(4)))
    assert(last.getLong(4) == rows.length.toLong, "global seen")
    assert(rows.map(r => if (r.isNullAt(2)) 0L else 1L).sum ==
      last.getLong(3), "global promo_seen")
    // a zero-exchange GROUP BY over the sweep rides the same claim
    // (the q205 posture — no new operator, the clustering is free)
    import org.apache.spark.sql.functions.{col, count => fcount, lit}
    spark.catalog.clearCache()
    val agg = SparkEntry.queries("q212_docsource_range_interval_label")(spark, sf)
      .groupBy(col("o_day")).agg(fcount(lit(1)).as("n"))
    agg.collect()
    val ans = TestPlans.executedNodes(agg)
    assert(ans.exists(_.isInstanceOf[graft.plans.RangeIntervalJoinExec]) &&
      !ans.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      ans.count(_.nodeName.contains("HashAggregate")) == 2,
      "grouped sweep must stay exchange-free: " +
        ans.map(_.nodeName).mkString(", "))
  }

  test("q212 left-outer interval labeling: sweep join, every point preserved") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q212_docsource_range_interval_label")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.RangeIntervalJoinExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(_.nodeName.contains("NestedLoop")),
      ns.map(_.nodeName).mkString(", "))
    // labeled iff inside a window whose ANCHOR day (the preceding
    // 11-multiple) actually occurs among order days — the promo set is
    // built from the data; NULL exactly otherwise
    val anchors = rows.map(_.getInt(0)).filter(_ % 11 == 0).toSet
    assert(rows.forall { r =>
      val d = r.getInt(0)
      val in = d % 11 <= 4 && anchors.contains(d - d % 11)
      if (in) !r.isNullAt(2) else r.isNullAt(2)
    }, "label/null split")
  }

  test("q210 as-of + value window: two WindowExecs over the band claim, zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q210_docsource_range_asof_value_window")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    // the as-of carry AND the 7-day rolling mean both run as Spark's
    // own partitioned WindowExec over the custkey-band claim — no
    // exchange, no join operator anywhere
    assert(ns.count(_.isInstanceOf[WindowExec]) == 2 &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(n => n.nodeName.toLowerCase.contains("join")),
      ns.map(_.nodeName).mkString(", "))
  }

  test("q209 suffix avg + last_value: band window, zero exchange, metadata where provable") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q209_docsource_range_suffix_close")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the last-value carry is order-dependent, so q209 itself computes
    // its prefix (all-or-nothing totals)…
    assert(df.queryExecution.executedPlan.toString
      .contains("prefix=computed"), "q209 prefix source")
    // …while a suffix COUNT over the LANDED column itself is fully
    // sidecar-answerable: ZERO data passes for the prefix (q209's own
    // v is a derived alias, which correctly blocks the sidecar borrow)
    import org.apache.spark.sql.functions.{col, count}
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("oid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    spark.catalog.clearCache()
    val metaOnly = graft.ingest.ExtendedJson.read(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("oid",
          org.apache.spark.sql.types.StringType))),
      graft.queries.DocOps.oidLandingDir(spark, sf))
    val metaDf = metaOnly.select(col("oid"),
      count(col("oid")).over(w).as("rn"))
    val mRows = metaDf.collect()
    assert(mRows.length == rows.length)
    assert(metaDf.queryExecution.executedPlan.toString
      .contains("prefix=metadata"), "suffix count metadata prefix: " +
      metaDf.queryExecution.executedPlan.toString.take(400))
    // the avg really is the remaining mean: last row's avg = its own v
    val byOid = rows.sortBy(_.getString(0))
    val vs = byOid.map(_.getLong(1))
    assert(byOid.last.getDouble(2) == vs.last.toDouble, "tail avg")
    assert(byOid.head.getLong(3) == vs.last, "global last carried to head")
    val mid = vs.length / 2
    val tail = vs.drop(mid)
    assert(byOid(mid).getDouble(2) ==
      tail.map(BigDecimal(_)).sum.toDouble / tail.length,
      "mid-stream remaining mean")
  }

  test("q208 month-ahead FOLLOWING frame: band window, zero exchange, calendar release") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q208_docsource_range_month_ahead")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the frame really reaches one CALENDAR month ahead (clamped):
    // spot-check a mid-span day against the hand sum
    val byDay = rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val days = byDay.map(_._1).distinct.sorted
    val d0 = days(days.length / 2)
    val hi = java.time.LocalDate.ofEpochDay(d0.toLong)
      .plusMonths(1L).toEpochDay
    val expect = byDay.filter(t => t._1 >= d0 && t._1 <= hi)
      .map(_._2).sum
    assert(byDay.filter(_._1 == d0).forall(_._3 == expect),
      "1-calendar-month-ahead frame spot check")
  }

  test("q206 suffix aggregates: band window, zero exchange, grand-minus-prefix inversion") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q206_docsource_range_remaining_budget")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the suffix really counts down: first row sees everything, last
    // row sees itself; every row's rem_sum is the tail sum
    val byOid = rows.sortBy(_.getString(0))
    val vs = byOid.map(_.getLong(1))
    assert(byOid.head.getLong(2) == vs.length.toLong &&
      byOid.last.getLong(2) == 1L, "remaining counts")
    val mid = vs.length / 2
    assert(byOid(mid).getLong(3) == vs.drop(mid).sum,
      "mid-stream remaining sum")
  }

  test("q205 aggregate over the merge chain: partial+final HashAggregate, zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q205_docsource_range_chain_agg")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val ns = TestPlans.executedNodes(df)
    val chain = ns.collect { case m: graft.plans.RangeMergeJoinExec => m }
    assert(chain.length == 1 && chain.head.steps.length == 2,
      "both joins must fold into ONE chained merge under the aggregate: " +
        ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the chain's range claim must satisfy the aggregate's clustering: " +
        ns.map(_.nodeName).mkString(", "))
    assert(ns.count(_.nodeName.contains("HashAggregate")) == 2,
      "partial+final aggregation in one stage")
  }

  test("q204 ±window event context: band window, zero exchange, key-released pending queue") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q204_docsource_range_event_context")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the frame really spans ±15 minutes of event time: spot-check a
    // mid-stream event's count against the hand fold
    val byT = rows.sortBy(_.getLong(0))
    val ts = byT.map(_.getLong(0))
    val mid = ts(ts.length / 2)
    val m15 = 15L * 60 * 1000000
    val expectN = ts.count(t => t >= mid - m15 && t <= mid + m15).toLong
    assert(byT.filter(_.getLong(0) == mid).forall(_.getLong(3) == expectN),
      "±15-minute frame spot check")
  }

  test("q203 sessionization: two STACKED band windows, zero exchange, no WindowExec") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q203_docsource_range_sessionize")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.count(_.isInstanceOf[graft.plans.BandRunningWindowExec]) == 2 &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // session ids are 1-based, non-decreasing in event time, and step
    // by at most 1 per tie group; the boundary rule re-derives them
    val byT = rows.sortBy(_.getLong(0))
    assert(byT.head.getLong(2) == 1L, "first event opens session 1")
    val sids = byT.map(_.getLong(2))
    assert(sids.zip(sids.tail).forall { case (a, b) => b == a || b == a + 1 },
      "session ids step monotonically")
    // re-derive: a session break exactly where the time gap > 60s
    val ts = byT.map(_.getLong(0))
    byT.indices.drop(1).foreach { i =>
      if (ts(i) != ts(i - 1)) {
        val break = ts(i) - ts(i - 1) > 60000000L
        assert((sids(i) == sids(i - 1) + 1) == break,
          s"boundary rule at $i: gap ${ts(i) - ts(i - 1)}")
      }
    }
  }

  test("q202 lead IGNORE NULLS: band window, zero exchange, partition-buffered index path") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q202_docsource_range_lead_ignore_nulls")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // nk1 really is the NEXT non-null strictly after each row, across
    // band boundaries: recompute from the collected stream in oid order
    val byOid = rows.sortBy(_.getString(0))
    val vs = byOid.map(r =>
      if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))
    val nn = vs.zipWithIndex.filter(_._1 != null)
    byOid.indices.foreach { i =>
      val want1 = nn.collectFirst { case (v, j) if j > i => v }.orNull
      val got1 = if (byOid(i).isNullAt(2)) null else
        java.lang.Long.valueOf(byOid(i).getLong(2))
      assert(got1 == want1, s"nk1 at $i")
      val after = nn.filter(_._2 > i)
      val want4: java.lang.Long =
        if (after.length >= 4) after(3)._1 else java.lang.Long.valueOf(-1L)
      assert(byOid(i).getLong(3) == want4.longValue(), s"nk4 at $i")
    }
  }

  test("q201 bounded FOLLOWING frames: band window, zero exchange, delay-ring emission") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q201_docsource_range_centered_window")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the centered frame really spans [i-3, i+3] in oid order, clipped
    // at both global ends; the forward twin spans [i, i+2]
    val byOid = rows.sortBy(_.getString(0))
    val vs = byOid.map(_.getLong(1))
    byOid.indices.foreach { i =>
      val lo = math.max(0, i - 3)
      val hi = math.min(vs.length - 1, i + 3)
      assert(byOid(i).getLong(2) == vs.slice(lo, hi + 1).sum &&
        byOid(i).getLong(3) == (hi - lo + 1).toLong,
        s"centered frame at $i")
      val fhi = math.min(vs.length - 1, i + 2)
      assert(byOid(i).getLong(4) == vs.slice(i, fhi + 1).min,
        s"forward frame at $i")
    }
  }

  test("q199 MONTH-interval RANGE frame: band window, zero exchange, clamped calendar bound") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q199_docsource_range_month_interval")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the frame really spans 3 CALENDAR months (add_months clamping,
    // not 90 fixed days): spot-check a mid-calendar day against the
    // hand sum over days >= that date minus 3 months
    val byDay = rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val days = byDay.map(_._1).distinct.sorted
    val d0 = days(days.length / 2)
    val lo = java.time.LocalDate.ofEpochDay(d0.toLong)
      .minusMonths(3L).toEpochDay
    val expect = byDay.filter(t => t._1 >= lo && t._1 <= d0)
      .map(_._2).sum
    assert(byDay.filter(_._1 == d0).forall(_._3 == expect),
      "3-calendar-month frame spot check")
  }

  test("q207 ts-MONTH RANGE frame: band window, zero exchange, wall-clock clamped bound") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q207_docsource_range_ts_month_window")(spark, sf)
    val rows = df.collect()
    assert(rows.length ==
      graft.core.Tables.orders(spark, sf).count().toInt)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the frame spans 1 CALENDAR month of wall-clock instants (UTC
    // session): spot-check a mid-MONTH instant (day ≤ 27 — outside the
    // clamp plateau, where Spark's forward-only head equals the exact
    // per-row bound) against the hand sum over micros >= that instant
    // minus one LocalDateTime month
    val byTs = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ts = byTs.map(_._1).distinct.sorted
    val t0 = ts.drop(ts.length / 2).find { t =>
      java.time.LocalDateTime.ofEpochSecond(t / 1000000L, 0,
        java.time.ZoneOffset.UTC).getDayOfMonth <= 27
    }.get
    val lo = java.time.LocalDateTime
      .ofEpochSecond(t0 / 1000000L, ((t0 % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
      .minusMonths(1L).toInstant(java.time.ZoneOffset.UTC)
    val loUs = lo.getEpochSecond * 1000000L + lo.getNano / 1000L
    val expect = byTs.filter(t => t._1 >= loUs && t._1 <= t0)
      .map(_._2).sum
    assert(byTs.filter(_._1 == t0).forall(_._3 == expect),
      "1-calendar-month ts frame spot check")
  }

  test("q200 dual-bound lagged RANGE frame: band window, zero exchange, empty frames null") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q200_docsource_range_lagged_window")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the admission bound really excludes the near week: spot-check a
    // mid-calendar day's lagged sum and count against the hand fold
    val byDay = rows.map(r => (r.getInt(0), r.getLong(1),
      if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
      r.getLong(3)))
    val days = byDay.map(_._1).distinct.sorted
    val d0 = days(days.length / 2)
    val in = byDay.filter(t => t._1 >= d0 - 13 && t._1 <= d0 - 7)
    val expectN = in.length.toLong
    assert(byDay.filter(_._1 == d0).forall(_._4 == expectN),
      "lagged-frame count spot check")
    // the stream's FIRST day has an empty lagged frame: null sum, 0 n
    val first = byDay.filter(_._1 == days.head)
    assert(first.forall(t => t._3 == null && t._4 == 0L),
      "empty lagged frame must emit null sum and zero count")
  }

  test("q194 first/nth/argmax carries: band window, zero exchange, no WindowExec") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q194_docsource_range_arg_carry")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the carries really carry: every row's fv/mbv is the FIRST row's v
    // (min_by on the unique ascending oid = the smallest key's value),
    // xbv is the row's own v, n5 is null before position 5 then the 5th v
    val byOid = rows.sortBy(_.getString(0))
    val v0 = byOid.head.getLong(1)
    assert(byOid.forall(r => r.getLong(2) == v0 && r.getLong(4) == v0),
      "first_value and min_by must carry the global first value")
    assert(byOid.forall(r => r.getLong(5) == r.getLong(1)),
      "max_by on the ascending key is the current value")
    assert(byOid.take(4).forall(_.isNullAt(3)) &&
      byOid.drop(4).forall(_.getLong(3) == byOid(4).getLong(1)),
      "nth_value(5) is null before position 5, constant after")
  }

  test("partitioned window over the merge join rides the chain's clustering claim") {
    // NO custom code on this path: WindowExec's
    // ClusteredDistribution(o_orderkey) is satisfied by the merge
    // exec's RangePartitioning claim, so EnsureRequirements adds only
    // the local per-partition sort — the per-key analytics shape over a
    // joined stream, zero exchange
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, rank}
    spark.catalog.clearCache()
    val (o, _) = graft.queries.DocOps.rangeJoinSides(spark, sf)
    val li = graft.queries.DocOps.rangeJoinLineitemSide(spark, sf)
    val df = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("l_quantity"))
      .select(col("o_orderkey"), col("l_linenumber"),
        rank().over(Window.partitionBy(col("o_orderkey"))
          .orderBy(col("l_linenumber"))).as("rk"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]) &&
      ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
  }

  test("group-top-N over the merge join rides the chain's clustering claim") {
    // best-k-lineitems-per-order over the joined stream: Spark's own
    // WindowGroupLimit machinery (Partial below, Final above) plans
    // around the exchange its window would need — which the chain's
    // RangePartitioning claim elides, so the whole rank-filter pipeline
    // runs exchange-free over the merge output
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, rank}
    spark.catalog.clearCache()
    val (o, _) = graft.queries.DocOps.rangeJoinSides(spark, sf)
    val li = graft.queries.DocOps.rangeJoinLineitemSide(spark, sf)
    val df = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("l_quantity"))
      .select(col("o_orderkey"), col("l_linenumber"),
        rank().over(Window.partitionBy(col("o_orderkey"))
          .orderBy(col("l_linenumber"))).as("rk"))
      .filter(col("rk") <= 2)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(2) <= 2))
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]) &&
      ns.exists(_.isInstanceOf[WindowGroupLimitExec]) &&
      ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
  }

  test("q193 full outer range merge: both sides streamed, zero exchange, right-only rows kept") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q193_docsource_range_merge_full_outer")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins
        .SortMergeJoinExec]),
      ns.map(_.nodeName).mkString(", "))
    val nOrders = graft.core.Tables.orders(spark, sf).count()
    assert(rows.length == nOrders + 50,
      "matched + left-only + the 50 beyond-range right-only rows")
    assert(rows.count(_.isNullAt(0)) == 50, "right-only rows carry null keys")
    assert(rows.count(_.isNullAt(2)) ==
      graft.core.Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderkey") % 3 =!= 0)
        .count().toInt,
      "left-only rows are the non-multiple-of-3 keys")
  }

  test("q198 right outer range merge: mirrored left outer, zero exchange, right-key ordered") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q198_docsource_range_merge_right_outer")(spark, sf)
    val rows = df.collect()
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.RangeMergeJoinExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins
        .SortMergeJoinExec]),
      ns.map(_.nodeName).mkString(", "))
    val nDiff = graft.core.Tables.orders(spark, sf)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 3 === 0)
      .count()
    assert(rows.length == nDiff + 50,
      "every right (diff) row exactly once: matched + 50 beyond-range")
    assert(rows.count(_.isNullAt(0)) == 50,
      "the 50 beyond-range diff keys null-extend the left side")
    // the preserved side is the merge base: output streams in RIGHT-key
    // (dk) order — the swap keeps the claim honest on the right key
    val dks = rows.map(_.getLong(2))
    assert(dks.toSeq == dks.sorted.toSeq, "right-key ordered stream")
  }

  test("q192 running window over the merge chain: one chained merge + band window, zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q192_docsource_range_chain_window")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val ns = TestPlans.executedNodes(df)
    val chain = ns.collect { case m: graft.plans.RangeMergeJoinExec => m }
    assert(chain.length == 1 && chain.head.steps.length == 2,
      "both joins must fold into ONE chained merge under the window: " +
        ns.map(_.nodeName).mkString(", "))
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // the running count really accumulates ACROSS the chain's
    // partitions: the final tie group's run_n is the full row count
    assert(rows.map(_.getLong(5)).max == rows.length.toLong,
      "running count must span the whole chained stream")
    // the totals pass is COLUMN-PRUNED: it decodes only the order key
    // and the window input (2 columns), not the query's 4 output
    // columns — the chain's second stream skips o_totalprice/l_quantity
    val bw = ns.collect { case b: graft.plans.BandRunningWindowExec => b }
    assert(bw.length == 1 &&
      bw.head.metrics("totalsPassColumns").value == 2L,
      s"narrowed totals pass: ${bw.map(_.metrics("totalsPassColumns").value)}")
  }

  test("multi-file touching band: dense_rank chain-folds per-file sidecar distincts") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = java.nio.file.Files.createTempDirectory("graft_mfdr").toString
    val mfSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    // two files TOUCHING at k = 10 (the post-append, pre-compact layout:
    // one merged group of two sequential files sharing a single boundary
    // value) plus a disjoint third file (its own band)
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "f0.jsonl"),
      ((0L to 10L).map(k => s"""{"k": $k, "v": ${k * 2}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "f1.jsonl"),
      ((10L to 20L).map(k => s"""{"k": $k, "v": ${k * 3}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "f2.jsonl"),
      ((30L to 40L).map(k => s"""{"k": $k, "v": $k}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    graft.ingest.v2.ZoneMaps.build(spark, root, mfSchema, Seq("k"))
    spark.catalog.clearCache()
    import org.apache.spark.sql.functions.{col, dense_rank}
    def q(src: org.apache.spark.sql.DataFrame) = src
      .select(col("k"), dense_rank().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"))).as("dr"))
    val read = graft.ingest.ExtendedJson.read(spark, mfSchema, root)
    val banded = q(read)
    val b = banded.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val p = q(read.localCheckpoint()).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(b == p, "chain-folded dense_rank must match Spark's own")
    val ns = TestPlans.executedNodes(banded)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    assert(banded.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString.contains("prefix=metadata"),
      "touching files must chain-fold their sidecar distinct counts")
  }

  test("q189 group-top-N: WindowGroupLimit re-stages over the band scan, zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q189_docsource_range_group_topn")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every day keeps rank ≤ 2 rows, and every day from the table shows
    val byDay = rows.groupBy(_.getInt(0))
    assert(byDay.values.forall(_.forall(_.getInt(2) <= 2)))
    val allDays = graft.core.Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.datediff(
        org.apache.spark.sql.functions.col("o_orderdate"),
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.lit("1970-01-01"))))
      .distinct().count()
    assert(byDay.size.toLong == allDays, s"${byDay.size} vs $allDays")
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[WindowGroupLimitExec]) &&
      ns.exists(_.isInstanceOf[WindowExec]) &&
      ns.exists(n => n.nodeName.contains("OrderedBandScan")) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
  }

  test("q181 size-based rank family: metadata N, zero exchange, no WindowExec") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q181_docsource_range_rank_family")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    assert(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString.contains("prefix=metadata"))
    // unique key: exact closed forms
    val n = rows.length
    val sorted = rows.sortBy(_.getString(0))
    sorted.zipWithIndex.foreach { case (r, i) =>
      assert(math.abs(r.getDouble(1) - i.toDouble / (n - 1)) < 1e-12,
        s"percent_rank at $r")
      assert(math.abs(r.getDouble(2) - (i + 1).toDouble / n) < 1e-12,
        s"cume_dist at $r")
      // ntile(7) over 1500: 1500/7 = 214 rem 2 — first 2 buckets get 215
      val cut = 2 * 215
      val expect = if (i < cut) i / 215 + 1 else 2 + (i - cut) / 214 + 1
      assert(r.getInt(3) == expect, s"ntile at $r (i=$i)")
    }
  }

  test("q180 keyed as-of: per-key carry over the key-banded layout, zero exchange, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q180_docsource_range_keyed_asof")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(n => n.nodeName.toLowerCase.contains("join")),
      ns.map(_.nodeName).mkString(", "))
    // per-customer recompute: the latest %7 snapshot day at or before
    // each order's day, among that customer's own order days
    val snapsByCust = rows.groupBy(_.getLong(1)).map { case (ck, g) =>
      ck -> g.map(_.getInt(2)).filter(_ % 7 == 0).distinct.sorted
    }
    rows.foreach { r =>
      val expect = snapsByCust(r.getLong(1)).takeWhile(_ <= r.getInt(2))
        .lastOption
      expect match {
        case Some(d) => assert(r.getDouble(3) == d * 2.0, s"keyed carry at $r")
        case None => assert(r.isNullAt(3), s"pre-snapshot at $r")
      }
    }
  }

  test("q179 partitioned window over the band key: Spark's WindowExec, zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q179_docsource_range_part_window")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    val ns = TestPlans.executedNodes(df)
    // the FULL-generality WindowExec itself runs — over the band scan,
    // with only its local sort and NO exchange anywhere
    assert(ns.exists(_.isInstanceOf[WindowExec]) &&
      ns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // per-day recompute: rank/run_n within the day by custkey; day_sum
    val byDay = rows.groupBy(_.getInt(0))
    byDay.foreach { case (_, g) =>
      val daySum = g.map(_.getLong(1)).sum
      assert(g.forall(_.getLong(4) == daySum))
      val sorted = g.sortBy(_.getLong(1))
      var before = 0
      sorted.groupBy(_.getLong(1)).toSeq.sortBy(_._1).foreach {
        case (_, ties) =>
          ties.foreach { r =>
            assert(r.getInt(2) == before + 1, s"rank at $r")
            assert(r.getLong(3) == before + ties.length, s"run_n at $r")
          }
          before += ties.length
      }
    }
  }

  test("q177 as-of layout join: one running carry, zero exchange, no WindowExec, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q177_docsource_range_asof")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]),
      ns.map(_.nodeName).mkString(", "))
    // the as-of is a carry, not a join: no join operator, no window
    // exchange, no shuffle anywhere
    assert(!ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(n => n.nodeName.toLowerCase.contains("join")),
      ns.map(_.nodeName).mkString(", "))
    // semantic recompute: rate = 2 * (latest snapshot day <= o_day)
    val snapDays = rows.map(_.getInt(1)).filter(_ % 7 == 0).distinct.sorted
    rows.foreach { r =>
      val day = r.getInt(1)
      val expect = snapDays.takeWhile(_ <= day).lastOption
      expect match {
        case Some(d) => assert(r.getDouble(2) == d * 2.0, s"carry at $r")
        case None => assert(r.isNullAt(2), s"pre-snapshot carry at $r")
      }
    }
  }

  test("SQL-text partitioned windows and the rank family plan the band paths") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    graft.queries.DocOps.ordersDayRangeSource(spark, sf)
      .createOrReplaceTempView("part_window_sql_v")
    // PARTITION BY the (integer) band key from SQL text: Spark's
    // WindowExec over the band scan, zero exchange. A DOUBLE key would
    // arrive wrapped in the float normalization and fall through — the
    // correct call (±0.0 normalize together but may band apart).
    val pw = spark.sql("SELECT o_day, o_custkey, " +
      "rank() OVER (PARTITION BY o_day ORDER BY o_custkey) AS rk " +
      "FROM part_window_sql_v")
    assert(pw.collect().length == 1500)
    val pns = TestPlans.executedNodes(pw)
    assert(pns.exists(_.isInstanceOf[WindowExec]) &&
      pns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]) &&
      !pns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      pns.map(_.nodeName).mkString(", "))
    // the size-based family from SQL text: the metadata band window
    val rf = spark.sql("SELECT o_custkey, " +
      "percent_rank() OVER (ORDER BY o_day) AS pr, " +
      "cume_dist() OVER (ORDER BY o_day) AS cd " +
      "FROM part_window_sql_v")
    val rfRows = rf.collect()
    assert(rfRows.length == 1500 &&
      rfRows.forall(r => r.getDouble(1) >= 0 && r.getDouble(2) <= 1.0))
    val rns = TestPlans.executedNodes(rf)
    assert(rns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !rns.exists(_.isInstanceOf[WindowExec]) &&
      !rns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      rns.map(_.nodeName).mkString(", "))
  }

  test("SQL-text windows plan the band running window too") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    graft.queries.DocOps.ordersRangeLandedSource(spark, sf)
      .createOrReplaceTempView("running_window_sql_v")
    // the SQL shape routinely leaves different intermediates than the
    // DataFrame idiom (the q163 lesson) — pin that text plans the exec
    val df = spark.sql("SELECT o_orderkey, o_totalprice, " +
      "rank() OVER (ORDER BY o_totalprice) AS rk, " +
      "sum(o_orderkey) OVER (ORDER BY o_totalprice) AS run_key " +
      "FROM running_window_sql_v")
    val rows = df.collect()
    assert(rows.length == 1500)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]),
      ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // and a WHERE between the window's input and the scan re-stages as a
    // residual filter with a computed prefix — never a wrong metadata one
    val filtered = spark.sql("SELECT o_orderkey, " +
      "count(*) OVER (ORDER BY o_totalprice) AS rn " +
      "FROM running_window_sql_v WHERE o_orderkey % 2 = 0")
    val fRows = filtered.collect()
    assert(fRows.nonEmpty && fRows.length < 1500)
    assert(fRows.map(_.getLong(1)).max == fRows.length.toLong,
      "running count over the filtered rows must end at their count")
    val fs = TestPlans.executedNodes(filtered)
    assert(fs.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]),
      fs.map(_.nodeName).mkString(", "))
    assert(filtered.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString.contains("prefix=computed"),
      "a filter must forfeit the metadata prefix")
    // the round-17 family in SQL text: bounded sliding ROWS frames,
    // running AVG, and lead(x,1) plan the band window from plain SQL
    val slide = spark.sql("SELECT o_orderkey, " +
      "sum(o_orderkey) OVER (ORDER BY o_totalprice ROWS BETWEEN 6 " +
      "PRECEDING AND CURRENT ROW) AS sl, " +
      "avg(o_orderkey) OVER (ORDER BY o_totalprice) AS ra, " +
      "lead(o_orderkey, 1) OVER (ORDER BY o_totalprice) AS nx " +
      "FROM running_window_sql_v")
    assert(slide.collect().length == 1500)
    val sns = TestPlans.executedNodes(slide)
    assert(sns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
      !sns.exists(_.isInstanceOf[WindowExec]) &&
      !sns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      sns.map(_.nodeName).mkString(", "))
  }

  test("q176 layout quantiles: one band file per quantile, pushed top-N, zero exchange") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q176_docsource_range_quantiles")(spark, sf)
    val rows = df.collect().sortBy(_.getDouble(0))
    assert(rows.length == 4)
    // quantile values are nondecreasing in q
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)))
    val ns = TestPlans.executedNodes(df)
    assert(!ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // position -> band: each branch's scan plans exactly ONE band file,
    // with the in-band position pushed as top-N (the sorted early exit
    // parses ~position rows instead of the band)
    val scans = ns.collect { case b: BatchScanExec =>
      b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan] }
    assert(scans.length == 4)
    scans.foreach { s =>
      assert(s.pushedTopN > 0, s.description())
      val files = s.planInputPartitions()
        .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition].file)
        .distinct
      assert(files.length == 1,
        s"a quantile probe must read one band, planned: $files")
    }
  }

  test("q188 in-place compacted drop: same path, plain bands, no merge/sort/exchange, no staging residue") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q188_docsource_range_inplace_compacted")(
      spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)),
      "rows must arrive globally sorted")
    val ns = TestPlans.executedNodes(df)
    val scan = ns.collectFirst { case o: graft.plans.OrderedBandScanExec => o }
    assert(scan.isDefined, ns.map(_.nodeName).mkString(", "))
    assert(scan.get.groups.forall(_.files.lengthCompare(1) == 0),
      "the in-place fold must restore sequential one-file groups")
    assert(!ns.exists(_.isInstanceOf[SortExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // every planned file lives under the ORIGINAL drop dir, and the
    // staging dir is gone — consumers never re-point
    val files = scan.get.groups.flatMap(_.files.flatten.map(_.file))
    assert(files.nonEmpty && files.forall(_.contains("graft_extjson_rgq_")),
      files.take(3).mkString(", "))
    val anyFile = new org.apache.hadoop.fs.Path(files.head)
    val fs = anyFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      anyFile.getParent, "_compact")), "no staging residue")
  }

  test("q175 compacted drop: plain single-file bands, no merge, no sort, no exchange") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q175_docsource_range_compacted_scan")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)),
      "rows must arrive globally sorted")
    val ns = TestPlans.executedNodes(df)
    val scan = ns.collectFirst { case o: graft.plans.OrderedBandScanExec => o }
    assert(scan.isDefined, ns.map(_.nodeName).mkString(", "))
    // compaction folded the appended overlap away: every group is one
    // sequential file again — no k-way merge left anywhere
    assert(scan.get.groups.forall(_.files.lengthCompare(1) == 0),
      "compacted layout must read sequentially, not merge")
    assert(scan.get.groups.length > 1, "compaction must keep band parallelism")
    assert(!ns.exists(_.isInstanceOf[SortExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the compacted ordered scan costs neither sort nor exchange")
  }

  test("q174 distinct rollup over bands: four-exec distinct pipeline, zero exchange") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q174_docsource_range_distinct_rollup")(spark, sf)
    val rows = df.collect()
    assert(rows.length > 100, s"expected many day groups, got ${rows.length}")
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns.map(_.nodeName).mkString(", "))
    // the distinct pipeline: partial, partial-merge, partial-distinct,
    // final — all four over the band scan, with NO exchange anywhere
    assert(ns.count(_.isInstanceOf[HashAggregateExec]) == 4,
      ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "both distinct-pipeline exchanges must be gone")
  }

  test("q172 running window over bands: metadata prefix, zero exchange, no WindowExec") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q172_docsource_range_running_window")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]),
      ns.map(_.nodeName).mkString(", "))
    // the single-partition collapse is GONE: no WindowExec, no exchange
    assert(!ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // every prefix total came from the sidecar — zero extra passes
    assert(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString.contains("prefix=metadata"))
    // semantic recompute: per price tie group, rank = rows before + 1,
    // running count/sum include the whole group (RANGE frame)
    val sorted = rows.sortBy(_.getDouble(1))
    var before = 0L
    var sumBefore = 0L
    sorted.groupBy(_.getDouble(1)).toSeq.sortBy(_._1).foreach {
      case (_, g) =>
        val gSum = g.map(_.getLong(0)).sum
        g.foreach { r =>
          assert(r.getInt(2) == before + 1, s"rank at $r")
          assert(r.getLong(3) == before + g.length, s"run_n at $r")
          assert(r.getLong(4) == sumBefore + gSum, s"run_key at $r")
        }
        before += g.length
        sumBefore += gSum
    }
  }

  test("q173 running window: computed prefix (one totals pass), still zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q173_docsource_range_row_number")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1500)
    val ns = TestPlans.executedNodes(df)
    assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]),
      ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[WindowExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // o_totalprice is NOT sidecar-indexed in the oid landing: the max
    // prefix is underivable from metadata, so the exec computed totals
    assert(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString.contains("prefix=computed"))
    // unique key: row numbers are exactly 1..n in oid order; running max
    // is the prefix max
    val sorted = rows.sortBy(_.getString(0))
    var runMax = Double.NegativeInfinity
    sorted.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(2) == i + 1, s"row_number at $r")
      runMax = math.max(runMax, r.getDouble(1))
      assert(r.getDouble(3) == runMax, s"run_max at $r")
    }
  }

  test("q162 range-landed drop: top-N plans one band file's tail blocks") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q162_docsource_range_landed_topn")
    val p = qe.executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    val s = scans.head
    assert(s.pushedTopN == 10, s.description())
    val planned = s.planInputPartitions()
      .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition])
    // the 8 disjoint bands reduce to ONE surviving file (top-N zone
    // pruning), and its block stats cut that file to a tail range
    val files = planned.map(_.file).distinct
    assert(files.length == 1,
      s"expected one surviving band, planned ${files.mkString(", ")}")
    val fileLen = new java.io.File(
      new java.net.URI(files.head).getPath).length()
    val plannedBytes = planned.map(_.length).sum
    assert(plannedBytes < fileLen,
      s"expected tail-block planning: $plannedBytes of $fileLen bytes")
  }

  test("q161 storage-partitioned join runs with zero shuffle exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q161_docsource_partitioned_join")(spark, sf)
    assert(df.collect().nonEmpty)
    // both GROUP BYs cluster on the layout keys the scan reports, and
    // the join rides the same co-partitioning (or broadcasts): at no
    // point does a row cross an exchange
    val ns = TestPlans.executedNodes(df)
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
  }

  test("q160 sorted-scan top-N parses ~n rows per split, never the corpus") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q160_docsource_sorted_scan")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 20)
    val execs = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(execs.length == 1)
    val s = execs.head.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    assert(s.pushedTopN == 20, s.description())
    // every shard split carries the sidecar's sorted proof — the flag
    // that arms the reader's early exit
    val parts = s.planInputPartitions()
      .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition])
    assert(parts.nonEmpty && parts.forall(_.sortedAsc),
      s"every split of the id-sorted shards must be proven sorted: " +
        s.description())
    // 6 shards × (20 banked + the strict-bound row) ≈ 126 parsed rows;
    // the 1500-row corpus is never consumed (the heap path would parse
    // all of it)
    val parsed = execs.head
      .metrics(graft.ingest.v2.ScanMetrics.ParsedDocs).value
    assert(parsed <= 6L * 25L,
      s"sorted splits must stop at the bound, parsed $parsed")
  }

  test("q158 pushed DISTINCT on the clustering key answers from metadata") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q158_docsource_metadata_distinct")
    val p = qe.sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // every file's key is constant (min == max): the distinct key set IS
    // the sidecar's — no aggregate node, no data bytes
    assert(s.statsAnswer.isDefined, s.description())
    assert(s.statsAnswer.get._1.length == 3,
      s.statsAnswer.get._1.map(_.mkString("|")).mkString(", "))
    assert(p.collect { case a: BaseAggregateExec => a }.isEmpty,
      p.toString.take(600))
    val parts = s.planInputPartitions()
    assert(parts.length == 1 &&
      parts.head.isInstanceOf[graft.ingest.v2.StatsAnswerPartition])
  }

  test("q159 filtered AVG rides the metadata path as pushed SUM + COUNT") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q159_docsource_metadata_avg")
    val p = qe.sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // AVG rewrote to SUM + COUNT, both answered from the sidecar; the
    // one division happens above the metadata row
    assert(s.pushedAggs.map(_.kind).toSet == Set("sum", "count", "count*"),
      s.pushedAggs.map(_.render).mkString(", "))
    assert(s.statsAnswer.isDefined, s.description())
    assert(s.description().contains("(complete, metadata-only)"),
      s.description())
    assert(p.collect { case a: BaseAggregateExec => a }.isEmpty,
      p.toString.take(600))
  }

  test("q125 ORDER BY + LIMIT pushes as partial top-N on the document scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q125_docsource_topn").executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    // each split ships its 10 best rows, not its row count; Spark's
    // global TakeOrdered assembles the exact answer above it
    assert(scans.head.pushedTopN == 10, scans.head.description())
    assert(scans.head.pushedSorts.map(_.field).toSeq ==
      Seq("o_totalprice", "o_orderkey"), scans.head.description())
  }

  test("q131 grouped aggregate pushes onto the document scan with its group key") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q131_docsource_group_agg").sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // the $group runs in Spark over rows of just the referenced fields
    assert(!s.aggPushed, s.description())
    assert(s.readSchema().fieldNames.toSet ==
      Set("o_orderstatus", "o_totalprice", "o_orderpriority"),
      s.readSchema().catalogString)
    assert(p.collect { case a: BaseAggregateExec => a }.nonEmpty,
      p.toString.take(600))
  }

  test("q139 grouped SUM pushes onto the document scan with decimal partials") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q139_docsource_group_sum").sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // Spark's own decimal SUM over the scanned rows: the scan reads the
    // key and the decimal money column, nothing else
    assert(!s.aggPushed, s.description())
    assert(s.readSchema().fieldNames.toSet == Set("o_orderstatus", "o_totalprice"),
      s.readSchema().catalogString)
    assert(s.readSchema()("o_totalprice").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2), s.readSchema().catalogString)
  }

  test("q140 AVG pushes as SUM+COUNT onto the filtered document scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q140_docsource_filtered_avg").sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    val d = s.description()
    // the $match is pushed to the scan; the AVG is Spark's, over the
    // survivors only
    assert(!s.aggPushed, d)
    assert(s.pushed.map(_.toString).exists(_.contains("EqualTo(o_orderstatus,F)")), d)
    assert(s.readSchema().fieldNames.toSet == Set("o_orderpriority", "o_custkey"),
      s.readSchema().catalogString)
  }

  test("q141 partition filters prune directories; pruned dirs never reach splits") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q141_docsource_partition_prune").sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // the split list proves the pruning: every planned file sits under
    // status=F and a year >= 1995 — the non-matching subtrees (O/P
    // status, earlier years) were never listed into splits
    val files = s.planInputPartitions()
      .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition].file)
    assert(files.nonEmpty)
    assert(files.forall(_.contains("status=F")), files.take(5).toSeq)
    val yr = "py=(\\d+)".r
    assert(files.forall(f => yr.findFirstMatchIn(f).exists(_.group(1).toInt >= 1995)),
      files.take(5).toSeq)
    val d = s.description()
    assert(d.contains("PartitionColumns: [status string, py int]"), d)
    assert(d.matches(".*PartitionPruning: [1-9]\\d* dirs.*"), d)
    // the surviving rows group in Spark by their path-constant py
    assert(!s.aggPushed, d)
  }

  test("q132 nested ORDER BY + LIMIT pushes dotted top-N onto the document scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q132_docsource_nested_topn").executedPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1)
    // each split ships its 10 best rows ordered by the DOTTED key — the
    // nested-sort heap runs on the compiled struct-walking getter
    assert(scans.head.pushedTopN == 10, scans.head.description())
    assert(scans.head.pushedSorts.map(_.field).toSeq ==
      Seq("profile.acctbal", "c_custkey"), scans.head.description())
  }

  test("q133 grouped aggregate pushes NESTED group key and extremes") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q133_docsource_nested_group_agg").sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    assert(!s.aggPushed, s.description())
    // the nested key and extremes prune `profile` to just those subfields
    assert(s.readSchema().fieldNames.toSeq == Seq("profile"),
      s.readSchema().catalogString)
    assert(s.readSchema()("profile").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet ==
      Set("acctbal", "mktsegment"), s.readSchema().catalogString)
  }

  test("q136 DISTINCT pushes as a grouped aggregation with no accumulators") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = plan("q136_docsource_distinct").sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // the scan parses the one key field; Spark's aggregate dedups it
    assert(!s.aggPushed, s.description())
    assert(s.readSchema().fieldNames.toSeq == Seq("o_orderstatus"),
      s.readSchema().catalogString)
  }

  test("q138 composes pushed nested filter AND grouped aggregation on one scan") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = plan("q138_docsource_filtered_group")
    val p = qe.sparkPlan
    val scans = p.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    assert(scans.length == 1, p.toString.take(500))
    val s = scans.head
    // the $match half: dotted predicate accepted, nothing re-filters
    assert(s.pushed.map(_.toString)
      .exists(f => f.contains("profile.acctbal") && f.contains("GreaterThan")),
      s.description())
    assert(p.collect { case f: FilterExec => f }.isEmpty, p.toString.take(800))
    // the $group half is Spark's, over the filter survivors
    assert(!s.aggPushed, s.description())
  }

  test("q108 budget mix: prefix-sum form, never a per-source window") {
    import org.apache.spark.sql.execution.window.WindowExec
    // the running total must be the two-pass range-shuffle prefix sum
    // (GlobalIndex.withRunningSum) — a WindowExec here would mean a hot
    // source's full history funnels through one task; the per-source
    // base/budget stats must come back as a broadcast join
    val p = plan("q108_budget_mix")
    assert(p.sparkPlan.collect { case w: WindowExec => w }.isEmpty)
    assert(p.sparkPlan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("q106 trigram KN: every statistic joins back broadcast, no sort-merge join") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // the corpus-sized work is the one trigram count; ctx/m/mid/nb/p/types
    // aggregate the vocabulary-bounded trigram table and must re-join the
    // trigram spine as broadcasts — a sort-merge join here would mean a
    // vocabulary-bounded statistic got shuffled with the corpus at scale
    val p = plan("q106_kneser_ney_trigram")
    assert(p.sparkPlan.collect { case s: SortMergeJoinExec => s }.isEmpty,
      p.sparkPlan.toString.take(800))
    assert(p.sparkPlan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("ANN pair scoring uses the native codegen'd dot product") {
    for (q <- Seq("q23_ann_cosine", "q24_ann_lsh", "q30_cosine_neardup")) {
      val optimized = plan(q).optimizedPlan.toString
      assert(optimized.contains("graft_dot"), s"$q: ${optimized.take(500)}")
    }
  }

  test("q31 runs the native fused winnowing kernel (single projection)") {
    // The interpreted three-projection HOF chain is the semantic reference;
    // the query itself must plan the codegen'd graft_winnow expression —
    // one O(n) pass per document, no stacked array materializations.
    val optimized = plan("q31_winnow_fp").optimizedPlan.toString
    assert(optimized.contains("graft_winnow"), optimized.take(2000))
  }
}
