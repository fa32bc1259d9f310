package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sharded corpus output — the write side of a training-data
  * pipeline. Trainers consume corpora as a fixed list of shard files whose
  * CONTENT must be reproducible run-over-run (resume-safe data loaders,
  * byte-identical re-materialization for audits): a plain `df.write` gives
  * neither — row-to-file assignment and row order both float with task
  * scheduling.
  *
  * Contract here: shard = hash(id) partition (rerun-identical assignment),
  * rows sorted by id within each shard (rerun-identical order), one file
  * per shard. The global sort this deliberately is NOT (a total order
  * would range-shuffle the full corpus for no trainer-visible benefit;
  * hash sharding also spreads hot id ranges evenly).
  */
object CorpusSink extends org.apache.spark.internal.Logging {

  /** Write `df` as `numShards` deterministic shards under `dir`.
    *
    * `maxRecordsPerFile > 0` additionally caps file size: a shard whose
    * row count exceeds the cap rolls over to numbered files — the rolled
    * split point is row-count-based over the SORTED shard, so it stays
    * deterministic too.
    */
  def writeSharded(df: DataFrame, idCol: String, dir: String, numShards: Int,
      format: String = "parquet", maxRecordsPerFile: Long = 0L): Unit = {
    require(numShards > 0, "numShards > 0")
    val w = df
      .repartition(numShards, col(idCol))
      .sortWithinPartitions(col(idCol))
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
    else w)
      .format(format).save(dir)
  }

  /** Deterministic sharded JSONL landing with ZONE MAPS maintained at
    * write time — the producer half of the document scan's data
    * skipping: shards land under the [[writeSharded]] contract (hash(id)
    * shard assignment, rows sorted by id within each shard), serialized
    * as JSON lines of `df`'s columns, and the `_graft_zonemaps` sidecar
    * is maintained IN THE SAME CALL — built fresh for a new drop, or
    * incrementally appended (`appendTag`) for a landing batch
    * ([[graft.ingest.v2.ZoneMaps.append]]: one stats pass over the NEW
    * files only, replay-convergent by tag). A landed batch is skippable
    * the moment it is readable; skipping never decays to a full
    * O(corpus) re-index as the drop grows — the lifecycle Iceberg/Delta
    * get by writing manifests at commit time. Returns files indexed.
    *
    * `maxSidecarGenerations > 0` is the maintenance CADENCE: when an
    * appending landing leaves more sidecar generations than that, the
    * landing finishes with an O(sidecar) [[graft.ingest.v2.ZoneMaps.compact]]
    * fold — so a drop fed by this sink keeps bounded planning cost with
    * no separate maintenance job to remember (the Delta-style
    * auto-compaction posture). Zero document bytes are read either way.
    */
  def landJsonlIndexed(df: DataFrame, idCol: String, dir: String,
      numShards: Int, zoneCols: Seq[String], bloomCols: Seq[String] = Nil,
      blockBytes: Long = 0L, appendTag: Option[String] = None,
      maxSidecarGenerations: Int = 0): Long = {
    require(numShards > 0, "numShards > 0")
    landIndexed(df, dir, zoneCols, bloomCols, blockBytes, appendTag,
      maxSidecarGenerations) { target =>
      df.repartition(numShards, col(idCol))
        .sortWithinPartitions(col(idCol))
        .select(to_json(struct(df.columns.map(col): _*)).as("value"))
        .write.mode("overwrite").text(target)
    }
  }

  /** The one landing TAIL both indexed-JSONL producers share: tag
    * validation BEFORE anything lands (a bad tag failing in the sidecar
    * step would leave a written-but-unindexed batch behind — a slash
    * would even nest it under an unexpected path), the deterministic
    * `batch_<tag>` target (overwrite — the replay-idempotence contract
    * shared with the streaming ingests: a re-offered batch converges,
    * and its sidecar generation converges with it), the build-or-append
    * sidecar step, and the compaction cadence. One copy, so the landing
    * contract can never drift between the hash and range layouts.
    */
  private def landIndexed(df: DataFrame, dir: String, zoneCols: Seq[String],
      bloomCols: Seq[String], blockBytes: Long, appendTag: Option[String],
      maxSidecarGenerations: Int)(write: String => Unit): Long = {
    appendTag.foreach(tag => require(tag.nonEmpty && tag.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"appendTag '$tag' must be a plain directory-safe token"))
    val spark = df.sparkSession
    val target = appendTag match {
      case Some(tag) => s"$dir/batch_$tag"
      case None => dir
    }
    write(target)
    val indexed = appendTag match {
      case Some(tag) =>
        graft.ingest.v2.ZoneMaps.append(spark, dir, df.schema, zoneCols,
          batchTag = tag, bloomCols = bloomCols, blockBytes = blockBytes)
      case None =>
        graft.ingest.v2.ZoneMaps.build(spark, dir, df.schema, zoneCols,
          bloomCols = bloomCols, blockBytes = blockBytes)
    }
    if (appendTag.isDefined)
      graft.ingest.v2.ZoneMaps.compactIfOver(spark, dir,
        maxSidecarGenerations)
    indexed
  }

  /** RANGE-BANDED, key-sorted, write-time-indexed JSONL landing — the
    * producer of the layout every consumer-side skipping feature
    * exploits at once: each band owns a DISJOINT range of `sortCol`
    * (zone top-N/min-max pruning plans one band, not the listing), each
    * band lands as ONE file sorted on the key (the sidecar's `sorted`
    * proof → `ORDER BY key LIMIT n` early exit; `blockBytes` → tail/head
    * block reads), and the `_graft_zonemaps` sidecar is maintained in
    * the same call ([[landJsonlIndexed]] contract: build fresh, or
    * append under a replay-convergent tag, self-compacting past
    * `maxSidecarGenerations`).
    *
    * Band boundaries come from a DETERMINISTIC bounded sample: the keys
    * with the lowest `xxhash64(key)` values (a distributed top-N — no
    * full shuffle), sorted by the COLUMN'S OWN ordering, cut at the
    * interior quantile positions. Hash order is a pure function of the
    * data, so the boundary set is identical across reruns AND across
    * different upstream partitionings — strictly stronger than both
    * `repartitionByRange`'s RangePartitioner sample (seeded by the RDD
    * id) and a `percentile_approx` sketch (whose merge follows shuffle
    * arrival order). Band ASSIGNMENT is a pure function of (value,
    * boundaries) and in-file order carries a full-row tiebreak, so the
    * landed bytes are reproducible outright. Every consumer-facing
    * invariant (disjoint bands, per-file sorted proof) holds under ANY
    * boundary set — boundaries only place the cuts.
    *
    * `sortCol` may be ANY zone-indexable atomic (string/int/long/float/
    * double/date/timestamp/decimal): banding compares typed boundary
    * literals through Spark's own column ordering — binary UTF8 order
    * for strings, the SAME comparator the sidecar's sorted proofs and
    * min/max prunes use, so a lexicographic key lands lexicographically
    * disjoint bands (the numeric-cast overlap trap this path once
    * refused on is structurally gone). Rows land under `band=<i>/part-…`
    * directories (plain nested dirs to the reader — `band` is layout,
    * not schema); nulls sort into band 0. Returns files indexed.
    *
    * APPEND lifecycle: each `appendTag` batch computes its own
    * boundaries, so batches' band ranges overlap earlier ones. Every
    * per-file behavior survives appends (min/max and top-N pruning,
    * block reads, sorted-scan early exit — the q151 posture), and the
    * whole-drop exchange-free ORDER BY now survives them too: the
    * planner coalesces overlapping files into disjoint groups and k-way
    * merges each group's sorted streams at read time
    * ([[graft.plans.OrderedBandScanExec]]). A periodic full re-land
    * restores the one-file-per-group layout once enough batches pile up
    * (past [[graft.ingest.v2.ExtJsonScan.MaxMergeWidth]] overlapping
    * files the merge refuses to the ordinary sort).
    *
    * HOT-BAND STRAGGLER ADJUDICATION (the layout's one open scale
    * shape): a single key holding a large share of the rows lands as
    * ONE band — equal keys must never straddle a band, because strict
    * inter-band disjointness is precisely what makes the ordered
    * scan's RangePartitioning/ordering claims and every clustered
    * consumer (merge joins, band windows, zero-exchange GROUP BY)
    * honest. Nothing can split that band for the claim-bearing rungs:
    * a sub-band split would put equal keys in two partitions, and a
    * consumer trusting the clustering claim would then be WRONG, not
    * slow. So a 30%-of-rows key is an irreducible single task in every
    * exchange-free rung — measured (bench_records/skew_ab_20260817
    * .json, 3M rows, 8 bands, hot key = 30% of rows → hot band = 39%
    * of rows vs 13% balanced): ordered scan 2.3×, global band window
    * 2.0×, range merge join 1.6× wall-clock vs the balanced landing,
    * converging toward the 3.0× max-band-rows ratio as per-task work
    * grows — at 1000-executor scale, wall-clock IS the hot band.
    * Mitigations, in order: (1) this method now WARNS at land time
    * when one key exceeds ~15% of the boundary sample (the diagnostic
    * costs one linear pass over the already-sorted sample); (2) run
    * the key-skew profile (the q95 shape) before landing and pick a
    * higher-cardinality or composite band key; (3) consumers that
    * don't need the clustering claims (plain filters/scans/aggregates
    * Spark would shuffle anyway) are unaffected — only the
    * exchange-free rungs inherit the band's shape; (4) at the extreme
    * (one key ≫ executor memory for a buffering consumer), land on a
    * different key — the layout cannot express that skew, and
    * refusing to pretend otherwise is the design.
    */
  /** @param bounds EXPLICIT interior band boundaries (typed values of
    *   `sortCol`'s external type, ascending), overriding the sampled
    *   quantiles — the CO-BANDING handle: two drops landed with the same
    *   boundaries on a shared key own pairwise-ALIGNED band ranges, so
    *   their equi-join plans as the zero-exchange, zero-sort range merge
    *   join ([[graft.plans.RangeMergeJoinStrategy]]) at full band
    *   parallelism (independently-sampled boundaries still join
    *   exchange-free, but overlap chains coarsen the partitioning).
    */
  def landJsonlRangeIndexed(df: DataFrame, sortCol: String, dir: String,
      numBands: Int, zoneCols: Seq[String], bloomCols: Seq[String] = Nil,
      blockBytes: Long = 0L, appendTag: Option[String] = None,
      maxSidecarGenerations: Int = 0, bounds: Option[Seq[Any]] = None): Long = {
    require(numBands > 0, "numBands > 0")
    require(zoneCols.contains(sortCol),
      s"sortCol '$sortCol' must be zone-indexed (list it in zoneCols) — " +
        "an unindexed sort key would land a layout nothing can exploit")
    val keyType = df.schema.fields.find(_.name == sortCol)
      .map(_.dataType).getOrElse(throw new IllegalArgumentException(
        s"sortCol '$sortCol' is not a column of the input"))
    require(graft.ingest.v2.ZoneMaps.indexable(keyType),
      s"sortCol '$sortCol' must be an orderable zone-indexable atomic " +
        "(string/int/long/float/double/date/timestamp/decimal), got " +
        keyType.simpleString)
    require(!df.columns.contains("band"),
      "the range layout reserves the column name 'band' for its " +
        "directory key — rename the data column or it would be " +
        "silently overwritten in the landed JSON")
    // interior boundaries at i/numBands positions of the hash-sampled,
    // key-sorted sample (TYPED values — no numeric cast anywhere); equal
    // boundaries (skew) collapse via distinct — empty bands write no
    // directory; an empty or all-null input has no sample at all and
    // lands as a single band like numBands = 1. The sample is a
    // distributed top-N by (hash, key) — bounded driver memory, no full
    // shuffle, and deterministic because hash order derives from the
    // values alone (ties share the same key value, so the cut is
    // value-stable).
    val cuts: Seq[Any] = bounds.getOrElse {
      if (numBands == 1) Nil
      else {
        val n = math.max(10000, numBands * 64)
        val sorted = df.select(col(sortCol).as("__k"))
          .where(col("__k").isNotNull)
          .withColumn("__h", xxhash64(col("__k")))
          .orderBy(col("__h"), col("__k")).limit(n)
          .select(col("__k")).orderBy(col("__k"))
          .collect().map(_.get(0)).toIndexedSeq
        if (sorted.isEmpty) Nil
        else {
          // LAND-TIME SKEW DIAGNOSTIC: a single key holding a large
          // share of the sample will hold roughly that share of the
          // data, and equal keys can never straddle a band — the hot
          // key becomes ONE band = ONE task in every claim-bearing
          // rung (see the hot-band adjudication in this method's doc).
          // Warn before the layout is paid for, pointing at the
          // pre-land checks; the sample is already key-sorted, so the
          // longest equal run is one linear pass.
          var runLen = 1; var maxRun = 1
          var i = 1
          while (i < sorted.length) {
            if (sorted(i) == sorted(i - 1)) {
              runLen += 1; if (runLen > maxRun) maxRun = runLen
            } else runLen = 1
            i += 1
          }
          val share = maxRun.toDouble / sorted.length
          if (share >= 0.15) logWarning(
            f"range landing '$sortCol' is heavily skewed: one key holds " +
              f"~${share * 100}%.0f%% of the boundary sample and will land " +
              "as one irreducible band (one task in every exchange-free " +
              "rung). Consider a higher-cardinality band key, or run the " +
              "key-skew profile (q95 shape) before landing.")
          (1 until numBands)
            .map(i => sorted(i * sorted.length / numBands)).distinct
        }
      }
    }
    // band(v) = number of boundaries strictly below v under the column's
    // OWN ordering — monotone, so bands cover disjoint ranges. A FLAT
    // expression (one array literal + HOF filter), not a numBands-deep
    // when-chain: thousands of bands must not blow optimizer cost or the
    // codegen method-size limit. A null value yields a null comparison →
    // filtered out → band 0.
    val bandExpr =
      if (cuts.isEmpty) lit(0)
      else size(filter(array(cuts.map(lit): _*),
        b => col(sortCol) > b))
    // full-row tiebreak after the key: equal-key rows order
    // deterministically (duplicate FULL rows are interchangeable), so
    // the landed bytes are reproducible — the writeSharded posture
    val orderCols = col("band") +: col(sortCol) +:
      df.columns.filterNot(_ == sortCol).map(col).toSeq
    landIndexed(df, dir, zoneCols, bloomCols, blockBytes, appendTag,
      maxSidecarGenerations) { target =>
      df.withColumn("band", bandExpr)
        .repartition(numBands, col("band"))
        .sortWithinPartitions(orderCols: _*)
        .select(col("band"),
          to_json(struct(df.columns.map(col): _*)).as("value"))
        .write.mode("overwrite").partitionBy("band").text(target)
    }
  }

  /** ZERO-SHUFFLE, ZERO-SORT compaction of a range-landed drop — the
    * maintenance half of the append lifecycle: every `appendTag` batch
    * lands bands that OVERLAP earlier ones, the planner k-way merges
    * overlap groups at read time, and past
    * [[graft.ingest.v2.ExtJsonScan.MaxMergeWidth]] overlapping files the
    * merge refuses — the layout has decayed. This call restores it
    * WITHOUT paying what the original landing paid: the read plans the
    * exchange-free ordered scan ([[graft.plans.OrderedBandScanExec]] —
    * overlap groups heap-merge their proven sorted streams), so the
    * rewrite has NO range exchange, NO SortExec, and NO boundary-sample
    * job anywhere — each output file is one merged group, written in
    * stream order and re-proven sorted by the fresh sidecar build (the
    * only full re-read, unavoidable for stats). At 100 TB: compaction at
    * the cost of one read + one write, where a re-land pays a full
    * range shuffle on top.
    *
    * Output granularity is the GROUP structure (disjoint by
    * construction), not the original band count — a drop whose appends
    * overlapped everything compacts to fewer, wider files; re-land with
    * [[landJsonlRangeIndexed]] when re-banding (a different cut count)
    * is the goal. If the source layout cannot prove the ordered scan
    * (nulls in the key, stale stats), the same call still compacts
    * correctly — it just pays the ordinary sort, which is what any
    * rewrite would pay. `dstDir` must differ from `srcDir`: the scan
    * reads lazily while the write lands, and overwriting the input
    * mid-read is unrecoverable.
    */
  def compactRangeIndexed(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType, srcDir: String,
      dstDir: String, sortCol: String, zoneCols: Seq[String],
      bloomCols: Seq[String] = Nil, blockBytes: Long = 0L): Long = {
    require(zoneCols.contains(sortCol),
      s"sortCol '$sortCol' must be zone-indexed (list it in zoneCols)")
    // FULLY-QUALIFIED path comparison (FileSystem.makeQualified resolves
    // scheme, authority, working directory, dots, trailing slashes), so
    // no spelling of the same directory — relative vs absolute, with vs
    // without file: scheme — slips past; and ANCESTOR/DESCENDANT
    // relations refuse too: mode("overwrite") deletes the whole
    // destination tree, so a dstDir above srcDir would destroy the
    // lazily-read source mid-job (and a dstDir inside it would be
    // swept up by a later source overwrite)
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): org.apache.hadoop.fs.Path = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    val (srcQ, dstQ) = (qualified(srcDir), qualified(dstDir))
    def isAncestor(a: org.apache.hadoop.fs.Path,
        b: org.apache.hadoop.fs.Path): Boolean = {
      var cur = b.getParent
      while (cur != null) {
        if (cur == a) return true
        cur = cur.getParent
      }
      false
    }
    require(srcQ != dstQ && !isAncestor(srcQ, dstQ) && !isAncestor(dstQ, srcQ),
      s"compaction must write a NEW directory outside the source tree " +
        s"(src=$srcQ, dst=$dstQ): the source is read lazily while the " +
        "destination lands, and overwrite deletes the destination tree")
    graft.ingest.ExtendedJson.read(spark, schema, srcDir)
      .orderBy(col(sortCol))
      .select(to_json(struct(schema.fieldNames.map(col): _*)).as("value"))
      .write.mode("overwrite").text(dstDir)
    graft.ingest.v2.ZoneMaps.build(spark, dstDir, schema, zoneCols,
      bloomCols = bloomCols, blockBytes = blockBytes)
  }

  /** IN-PLACE zero-shuffle compaction — [[compactRangeIndexed]] without
    * the path migration: the compacted bands land inside the SAME drop
    * and the covered (overlapping) band files are superseded, so every
    * consumer keeps its path. The crash discipline is the sidecar
    * fold's (a [[graft.core.Generations]] commit record), applied to data
    * files:
    *
    *  1. the merged stream (the exchange-free ordered scan — overlap
    *     groups heap-merge their proven sorted files; no range
    *     exchange, no sort, no boundary-sample job) writes to the
    *     HIDDEN staging dir `_compact/data` — readers never see it;
    *  2. a manifest naming the COVERED input files commits the fold
    *     (written only after the staged write's `_SUCCESS`);
    *  3. finish: staged files rename into the drop root
    *     (`compact-<tag>-part-…`), covered files delete, the fresh
    *     files index via a replay-convergent sidecar append, and the
    *     staging dir deletes last.
    *
    * A crash ANYWHERE replays convergently on the next call: no
    * manifest → the inputs are intact, discard staging and refold;
    * manifest present → every finish step is idempotent (renames skip
    * moved files, deletes skip missing ones, the append indexes only
    * unindexed files under a manifest-derived tag). CONCURRENT READERS
    * are generation-pinned FOR NON-GLOB SINGLE-DIRECTORY READS — the
    * landing contract's shape: while the manifest exists, such a
    * scan's listing reads either the covered set or the compact set,
    * never a mix (the rename→delete window that once showed duplicate
    * rows — see the listing's `pinGeneration`, which also re-verifies
    * the manifest after its re-list so back-to-back folds cannot slip
    * a stale covered filter through), so long-running readers coexist
    * with the maintenance op. A GLOB or multi-root read over the drop
    * is NOT pinned and can still observe the rename→delete window —
    * do not run wildcard reads against a drop while compacting it
    * in place. Mid-fold reads of the NEW
    * generation simply lose the band proofs until the sidecar append
    * lands (stats-gated plans fall back, correctness holds). Stale
    * sidecar rows for the deleted files are inert (planning keys stats
    * by (file, len, mtime) against the LIVE listing) and fold away via
    * the sidecar's own compaction. Returns the number of compacted
    * files landed.
    */
  def compactRangeIndexedInPlace(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType, dir: String,
      sortCol: String, zoneCols: Seq[String],
      bloomCols: Seq[String] = Nil, blockBytes: Long = 0L): Long = {
    require(zoneCols.contains(sortCol),
      s"sortCol '$sortCol' must be zone-indexed (list it in zoneCols)")
    val conf = spark.sparkContext.hadoopConfiguration
    val root0 = new org.apache.hadoop.fs.Path(dir)
    val fs = root0.getFileSystem(conf)
    val root = fs.makeQualified(root0)
    val staging = new org.apache.hadoop.fs.Path(root, "_compact")
    if (fs.exists(staging)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(staging, CompactManifest)))
        return finishCompactInPlace(spark, schema, root, zoneCols,
          bloomCols, blockBytes)
      // crashed mid-write: the inputs are intact — discard and refold
      fs.delete(staging, true)
    }
    stageCompaction(spark, schema, root, sortCol)
    finishCompactInPlace(spark, schema, root, zoneCols, bloomCols,
      blockBytes)
  }

  private val CompactManifest = "_covered.json"

  /** Root-relative path of the in-place fold's commit manifest — shared
    * with the READER's generation pinning
    * ([[graft.ingest.v2.DropSnapshot]]): while this file exists, a listing
    * must read one generation, never a mix.
    */
  private[graft] val CompactManifestRelPath: String =
    s"_compact/$CompactManifest"

  /** The compact manifest's (tag, covered files) — the one reading both
    * the fold's finish and the reader's generation pinning share. Throws
    * on a damaged or untagged manifest ([[graft.core.Generations.parse]]
    * validates by re-rendering).
    */
  private[graft] def parseCompactManifest(manifest: String)
      : (String, Seq[String]) = tagged(graft.core.Generations.parse(manifest))

  private[graft] def tagged(m: graft.core.Generations.Manifest)
      : (String, Seq[String]) = m.tag.map(_ -> m.covered.toSeq).getOrElse(
    throw new IllegalStateException("damaged compaction manifest: no tag"))

  /** Visible nonempty data files under the drop, as (root-relative
    * path, length, mtime) — exactly the set the ordered read plans (the
    * SAME walk the scan's listing uses: hidden `_`/`.` entries,
    * including the sidecar and the staging dir, skipped at every level;
    * zero-length files skipped like the read skips them).
    */
  private def visibleDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] = {
    val rootUri = root.toUri
    graft.ingest.v2.DocListing
      .walkFiles(fs, fs.listStatus(root).toSeq)
      .map(st =>
        (rootUri.relativize(fs.makeQualified(st.getPath).toUri).getPath,
          st.getLen, st.getModificationTime))
  }

  /** Stage the fold: write the merged stream to `_compact/data`, then
    * commit with the covered-files manifest. Exposed for the
    * crash-replay tests; production callers use
    * [[compactRangeIndexedInPlace]].
    */
  private[graft] def stageCompaction(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      root: org.apache.hadoop.fs.Path, sortCol: String): Unit = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the covered set is the live listing the ordered read below plans
    // from (single writer — the contract every overwrite shares)
    val coveredStats = visibleDataFiles(fs, root)
    val covered = coveredStats.map(_._1)
    val staging = new org.apache.hadoop.fs.Path(root, "_compact")
    graft.ingest.ExtendedJson.read(spark, schema, root.toString)
      .orderBy(col(sortCol))
      .select(to_json(struct(schema.fieldNames.map(col): _*)).as("value"))
      .write.mode("overwrite")
      .text(new org.apache.hadoop.fs.Path(staging, "data").toString)
    // tag: a pure function of the covered (name, len, mtime) set —
    // unique across successive compactions even if a deterministic
    // re-landing reproduces identical relative NAMES (a name-only tag
    // colliding with stale compact-<tag>-* residue would make the
    // finish treat freshly staged parts as already renamed and delete
    // them — row loss), stable across crash replays of THIS fold (the
    // covered files are untouched until finish)
    val tag = java.lang.Long.toHexString(
      coveredStats.sorted.map { case (n, len, mt) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$n|$len|$mt")
      }.foldLeft(17L)((h, s) => h * 31 +
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
            s.numBytes, 42L)))
    // ATOMIC commit (temp + rename): the manifest's existence is the
    // commit record, so a truncated one must never sit at its path
    graft.core.Generations.commit(fs,
      new org.apache.hadoop.fs.Path(staging, CompactManifest),
      graft.core.Generations.Manifest(
        graft.core.Generations.Covered.of(covered), Some(tag)))
  }

  /** Replay-convergent finish: rename staged files in, delete covered
    * files, index the fresh files, drop staging. Every step idempotent.
    */
  private[graft] def finishCompactInPlace(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      root: org.apache.hadoop.fs.Path, zoneCols: Seq[String],
      bloomCols: Seq[String], blockBytes: Long): Long = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(root, "_compact")
    // validated read — the failure mode to never have: a damaged
    // manifest read as an empty/partial covered list, which would leave
    // superseded files beside their compacted copies
    val manifest = new org.apache.hadoop.fs.Path(staging, CompactManifest)
    val (tag, covered) = tagged(graft.core.Generations.read(fs, manifest)
      .getOrElse(throw new IllegalStateException(s"no manifest $manifest")))
    val dataDir = new org.apache.hadoop.fs.Path(staging, "data")
    // zero-length staged part files (empty write partitions) are
    // dropped, not renamed in — reads skip empty files, so landing them
    // would only inflate the count; symmetric with the covered listing,
    // which skips empty files the same way the scan's walk does (an
    // empty pre-existing file is inert residue either way)
    val staged =
      if (!fs.exists(dataDir)) Seq.empty
      else fs.listStatus(dataDir).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && st.getLen > 0 &&
          !n.startsWith("_") && !n.startsWith(".")
      }
    staged.foreach { st =>
      val target = new org.apache.hadoop.fs.Path(root,
        s"compact-$tag-${st.getPath.getName}")
      if (!fs.exists(target))
        require(fs.rename(st.getPath, target),
          s"compaction rename failed: ${st.getPath} -> $target")
      else if (fs.exists(st.getPath))
        // target complete (rename is atomic per file): drop the replay's
        // leftover source
        fs.delete(st.getPath, false)
    }
    // the landed count comes from the DROP, not from what remained in
    // staging: a crash-replay that finds some files already renamed in
    // still reports the full fold
    val landed = fs.listStatus(root).count { st =>
      st.isFile && st.getPath.getName.startsWith(s"compact-$tag-")
    }.toLong
    covered.foreach { rel =>
      val p = new org.apache.hadoop.fs.Path(root, rel)
      if (fs.exists(p)) fs.delete(p, false)
      // prune a band directory the delete emptied (one level — the
      // partitioned landing's `band=N/part-…` shape)
      val parent = p.getParent
      if (parent != null && parent != root && fs.exists(parent) &&
        fs.listStatus(parent).isEmpty) fs.delete(parent, false)
    }
    // index the fresh files BEFORE dropping staging: a crash between
    // leaves the manifest in place and the append replays convergently
    // (it indexes only files the sidecar does not already cover)
    graft.ingest.v2.ZoneMaps.append(spark, root.toString, schema, zoneCols,
      batchTag = s"compact_$tag", bloomCols = bloomCols,
      blockBytes = blockBytes)
    fs.delete(staging, true)
    landed
  }

  /** One shard file's attestation: row count and an ORDER-FREE content
    * hash (sum of per-row `xxhash64(all columns)` — addition commutes, so
    * the digest is independent of read parallelism and row order, while
    * any changed/added/dropped row moves it). `file` is the path
    * RELATIVE to the corpus root — a partitioned layout
    * (`lang=en/part-0…`, `lang=de/part-0…`) repeats basenames, and a
    * basename key would silently shadow entries in the verify maps.
    */
  final case class ShardDigest(file: String, rows: Long, contentHash: Long)

  /** Compute the per-file attestation of a materialized corpus directory —
    * the provenance record a training run pins so a later re-read (or a
    * re-materialization from the same inputs) can be PROVEN identical:
    * trainers resume against data whose silent change would otherwise be
    * undetectable. One distributed scan; per-file digests come from one
    * groupBy on the 8-byte (file, hash) pairs, rows never collect.
    */
  def computeDigests(spark: org.apache.spark.sql.SparkSession, dir: String,
      format: String = "parquet"): Seq[ShardDigest] = {
    val df = spark.read.format(format).load(dir)
    // the per-row hash runs DIRECTLY over the internal column values —
    // never through to_json, whose rendering depends on session config
    // (timezone, ignoreNullFields): a verifying session configured
    // differently from the writing one must not see phantom tampering.
    // The sum runs in DECIMAL(38,0) (a long sum overflows under ANSI the
    // moment two large hashes add) and wraps back to a 64-bit digest —
    // still commutative, so still order- and parallelism-free.
    val rootPath = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toUri.getPath
    }
    df.select(input_file_name().as("__file"),
        xxhash64(df.columns.map(col): _*).as("__h"))
      .groupBy("__file")
      .agg(count(lit(1)).as("rows"),
        sum(col("__h").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("hash"))
      .collect()
      .map { r =>
        // scheme-free path comparison (input_file_name renders file:///…
        // while makeQualified renders file:/…) → root-relative key
        val full = new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath
        val rel =
          if (full.startsWith(rootPath))
            full.stripPrefix(rootPath).stripPrefix("/")
          else full.replaceFirst(".*/", "")
        ShardDigest(rel, r.getLong(1), r.getDecimal(2).toBigInteger.longValue())
      }
      .sortBy(_.file).toSeq
  }

  /** Write the corpus manifest beside the data (`_graft_manifest.json` —
    * leading underscore: invisible to Spark's file listing, so readers of
    * the corpus never see it as a shard).
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      format: String = "parquet"): Seq[ShardDigest] = {
    val digests = computeDigests(spark, dir, format)
    val json = digests.map(d => s"""{"file":"${graft.core.Generations.jesc(d.file)}",""" +
      s""""rows":${d.rows},"hash":${d.contentHash}}""").mkString("[", ",", "]")
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    digests
  }

  /** Recompute digests and compare against the saved manifest: Right(n
    * files verified) or Left(human-readable mismatches — files whose
    * count/hash moved, files added, files missing). The audit a resumed
    * training run performs before trusting a corpus it did not just
    * write.
    */
  def verifyManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      format: String = "parquet"): Either[Seq[String], Int] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no manifest under $dir")
    val saved = {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      // escape-aware: the file group matches escaped pairs as units, then
      // unescapes — the exact inverse of `Generations.jesc` at write time
      """\{"file":"((?:[^"\\]|\\.)*)","rows":(-?\d+),"hash":(-?\d+)\}""".r
        .findAllMatchIn(txt)
        .map { m =>
          val f = graft.core.Generations.junesc(m.group(1))
          f -> ShardDigest(f, m.group(2).toLong, m.group(3).toLong)
        }
        .toMap
    }
    val current = computeDigests(spark, dir, format).map(d => d.file -> d).toMap
    val problems =
      current.collect {
        case (f, d) if !saved.contains(f) => s"unexpected file $f"
        case (f, d) if saved(f) != d =>
          s"$f changed: rows ${saved(f).rows}->${d.rows}, " +
            s"hash ${saved(f).contentHash}->${d.contentHash}"
      }.toSeq ++
        saved.keys.filterNot(current.contains).map(f => s"missing file $f")
    if (problems.isEmpty) Right(current.size) else Left(problems.sorted)
  }
}
