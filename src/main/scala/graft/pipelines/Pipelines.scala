package graft.pipelines

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.Generations
import graft.ingest.{DocSource, ExtendedJsonDirSource, ExtendedJsonSource, Staging}
import graft.keys.SurrogateKeys
import graft.ops.Diff
import graft.schema.TableSpec
import graft.sink.{Ddl, UpsertDialect, UpsertSink}

/** Target-database wiring shared by the pipeline drivers. */
final case class TargetDb(
    url: String,
    dialect: UpsertDialect,
    sqlType: DataType => String,
    supportsIfNotExists: Boolean = true,
    supportsDropSchemaCascade: Boolean = true,
    supportsForeignKeys: Boolean = true,
    props: Properties = new Properties,
    readPartitions: Int = 1) {

  /** Full-table read, split into `readPartitions` parallel range scans on
    * the surrogate id when > 1. A bare `spark.read.jdbc` pulls the WHOLE
    * table through ONE task — irrelevant for the reference-sized tables
    * the tests use, but the scale bottleneck the moment a snapshot diff or
    * key reconcile reads a billion-row live table. Bounds come from one
    * driver-side MIN/MAX round trip; an empty table falls back to the
    * single-stream read. The id column is passed pre-quoted so the
    * generated range predicates survive case-folding databases (Derby
    * upper-cases bare identifiers).
    */
  private[pipelines] def readTable(spark: SparkSession, table: String): DataFrame = {
    val quoted = "\"" + table + "\""
    val bounds =
      if (readPartitions <= 1) None
      else {
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          val rs = conn.createStatement()
            .executeQuery(s"""SELECT MIN("id"), MAX("id") FROM $quoted""")
          rs.next()
          val lo = rs.getLong(1)
          val loNull = rs.wasNull()
          val hi = rs.getLong(2)
          if (loNull) None else Some((lo, hi))
        } finally conn.close()
      }
    bounds match {
      case Some((lo, hi)) =>
        spark.read.jdbc(url, quoted, "\"id\"", lo, hi, readPartitions, props)
      case None => spark.read.jdbc(url, quoted, props)
    }
  }

  private[pipelines] def readKeys(spark: SparkSession, spec: TableSpec,
      key: String): DataFrame =
    readTable(spark, spec.table).select(col("id"), col(key))

  /** Create `spec`'s table under this target's DDL dialect unless it exists. */
  def ensureTable(spec: TableSpec): Unit =
    Ddl.ensureTable(url, spec.ddl(sqlType, supportsIfNotExists, supportsForeignKeys), props)
}

/** The §3 lifecycles as plain Scala sequencing over the declarative layers:
  * ExtendedJson (S1) → TableSpec.transform (T1–T12, Q1) → CSV staging
  * (S2/S3) → surrogate keys (T6/Q7/Q8) → batched upsert (S4).
  *
  * One lineage per table; Spark's lazy DAG replaces Airflow's task graph
  * (SURVEY.md §3.1). The staging hop is kept because it is part of the
  * reference's contract (tasks exchange data via files); callers that don't
  * need the file drop can pass `staging = None` and the lineage fuses into
  * a single job with no disk round trip.
  */
object MigrationPipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Full load of one collection. Rerun-safe: ids are reconciled against
    * the live table (not blindly re-numbered like the reference's pandas
    * index), and the conflict policy makes the write idempotent. New keys
    * are numbered by [[SurrogateKeys.reconcile]], the same path as the
    * daily and snapshot updates.
    *
    * @return rows skipped by a Permissive-tolerance write (0 under Strict)
    */
  def run(spark: SparkSession, spec: TableSpec, documentsPath: String,
      db: TargetDb, staging: Option[String] = None): Long =
    runFrom(spark, spec, ExtendedJsonSource(documentsPath), db, staging)

  /** [[run]] against any [[DocSource]] — swapping the hermetic
    * extended-JSON files for the live Mongo connector
    * ([[graft.ingest.MongoSource]]) is a config change, not a code change.
    *
    * @return rows skipped by a Permissive-tolerance write (0 under Strict)
    */
  def runFrom(spark: SparkSession, spec: TableSpec, source: DocSource,
      db: TargetDb, staging: Option[String] = None): Long = {
    db.ensureTable(spec)
    load(spark, spec, spec.transform(source.read(spark, spec)), db, staging)
  }

  /** Migrate a set of collections IN THE GIVEN ORDER — which must be
    * FK-topological when the target enforces foreign keys
    * (`db.supportsForeignKeys`): a spec citing `REFERENCES users(_id)`
    * needs `users` created AND loaded first, or its CREATE TABLE fails on
    * the missing relation and, worse, a Permissive-tolerance load would
    * count each dangling-FK row (SQLSTATE 23503) as a skipped bad row even
    * though it becomes valid once the referenced table lands.
    * [[graft.schema.Specs.all]] is already in the reference DAG's
    * dependency order (users/organizations before their dependents —
    * reference: mongo_to_postgres_migration.py task chain), so
    * `runAll(spark, Specs.all(), rootDir, db)` is the safe whole-database
    * migration.
    *
    * Each collection reads its OWN file, `<rootDir>/<collection>.jsonl`
    * ([[graft.ingest.ExtendedJsonDirSource]]) — a single shared path
    * would parse every collection's documents against every other spec's
    * schema and upsert typed-null garbage rows into 12 wrong tables.
    *
    * @return per-table skipped-row counts (Permissive tolerance only;
    *   always 0 under Strict)
    */
  def runAll(spark: SparkSession, specs: Seq[TableSpec], rootDir: String,
      db: TargetDb, staging: Option[String] = None): Map[String, Long] = {
    val source = ExtendedJsonDirSource(rootDir)
    specs.map(spec =>
      spec.table -> runFrom(spark, spec, source, db, staging)).toMap
  }

  /** The key ids are reconciled on: the conflict policy's declared unique
    * key when present, `_id` otherwise. These differ exactly when the
    * landed table's unique key is NOT `_id` — loanapplications is unique on
    * the unwound `products` value
    * (`loan_applications_to_postgres_migration.py:52`), where `_id` repeats
    * once per product: reconciling on `_id` would multiply incoming rows
    * through the left join and hand a NEW product an already-used id.
    */
  private[pipelines] def reconcileKey(spec: TableSpec): String =
    spec.policy.keyOption.getOrElse(
      if (spec.columns.exists(_.name == "_id")) "_id" else spec.columns.head.name)

  /** @return rows skipped by a Permissive-tolerance write (0 under Strict,
    *   which throws instead). Logged here so no caller can silently drop
    *   the count; also returned for programmatic gating.
    */
  private[pipelines] def load(spark: SparkSession, spec: TableSpec,
      flat: DataFrame, db: TargetDb, staging: Option[String]): Long = {
    val staged = staging match {
      case Some(dir) =>
        val path = s"$dir/${spec.table}"
        Staging.write(flat, path)
        Staging.read(spark, spec.flatSchema, path)
      case None => flat
    }
    val skipped = UpsertSink.upsert(keyed(spark, spec, staged, db), db.url,
      spec.table, spec.policy, db.dialect, connectionProps = db.props,
      tolerance = spec.tolerance)
    if (skipped > 0)
      log.warn(s"${spec.table}: permissive upsert skipped $skipped bad row(s)")
    skipped
  }

  /** What [[load]] hands the sink: `staged` with ids reconciled against the
    * live table, in the target's column order.
    */
  private[graft] def keyed(spark: SparkSession, spec: TableSpec,
      staged: DataFrame, db: TargetDb): DataFrame = {
    val key = reconcileKey(spec)
    SurrogateKeys.reconcile(db.readKeys(spark, spec, key), staged, key)
      .select(("id" +: spec.flatSchema.fieldNames.toSeq).map(col): _*)
  }
}

/** Structured-Streaming upgrade of the daily pipeline (SURVEY §1.4's
  * declared upgrade path): an incremental file source over the delta drop
  * directory with `Trigger.AvailableNow` — each invocation processes
  * exactly the files that arrived since the last checkpoint, then stops —
  * bridged to the batched upsert sink via `foreachBatch`.
  *
  * Exactly-once effect: the checkpoint guarantees each file is offered
  * once; a crashed batch may be re-offered, and the upsert's conflict
  * policy makes the replay a no-op diff — the same idempotency contract
  * the reference leans on (rerun-safe ON CONFLICT). Replaces the
  * probe/archive choreography of [[DailyUpdatePipeline]]: files stay in
  * place, the checkpoint IS the processed-set record.
  */
object StreamingUpdatePipeline {

  def run(spark: SparkSession, spec: TableSpec, deltaDir: String,
      db: TargetDb, checkpointDir: String): Unit = {
    db.ensureTable(spec)
    // Same option set as the batch staging reader (Staging.readOptions) —
    // notably multiLine, without which a quoted embedded newline in a delta
    // row splits the record and silently corrupts it on the streaming path.
    val stream = spark.readStream
      .schema(spec.flatSchema)
      .options(Staging.readOptions)
      .csv(deltaDir)
    val query = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // load() logs any permissive-skip count; the Long is discarded
          // here because foreachBatch requires a Unit body
          MigrationPipeline.load(spark, spec, batch, db, staging = None)
          ()
        }
      }
      .start()
    query.awaitTermination()
  }
}

/** Incremental update from FULL SNAPSHOTS — the reference's daily flow
  * ([[DailyUpdatePipeline]], `dags/includes/user_table.py:127-167`) assumes
  * the source drops a pre-computed delta CSV; many sources can only export
  * everything. This variant computes the delta itself: read the snapshot,
  * diff it against the LIVE table ([[graft.ops.Diff.snapshotDiff]] — one
  * full-outer join on the business key, null-safe column compare), then
  * apply each leg:
  *
  *  - insert/update keys: the snapshot rows for exactly those keys go
  *    through the same reconcile-and-upsert path as a delta
  *    ([[MigrationPipeline.load]]) — known keys keep their surrogate ids,
  *    new keys extend contiguously;
  *  - delete keys: batched keyed DELETE ([[graft.sink.UpsertSink
  *    .deleteByKey]]) when `deleteVanished` — or retained for append-only
  *    targets, the policy choice a delta source never has to make because
  *    deltas simply omit deletions.
  *
  * Unchanged rows (the overwhelming majority of any daily snapshot) never
  * reach the database: the diff compares exactly the columns the upsert
  * could change (the policy's update set when declared), so the write cost
  * scales with churn, not corpus — the entire point of diffing instead of
  * re-upserting the snapshot wholesale.
  */
object SnapshotUpdatePipeline {

  /** @param snapshotPath CSV directory in staging layout (same schema as
    *   the daily delta drop)
    * @param deleteVanished physically delete live rows whose key is absent
    *   from the snapshot; false retains them
    * @return (permissive-skipped row count, deleted row count)
    */
  def run(spark: SparkSession, spec: TableSpec, snapshotPath: String,
      db: TargetDb, deleteVanished: Boolean = true): (Long, Long) = {
    db.ensureTable(spec)
    val flatSchema = spec.flatSchema
    val snapshot = Staging.read(spark, flatSchema, snapshotPath)
    val key = MigrationPipeline.reconcileKey(spec)
    val live = db.readTable(spark, spec.table)
      .select(flatSchema.fieldNames.toSeq.map(col): _*)
    // compare ONLY what the write could change: with an update-set policy a
    // drifted non-updatable column would re-upsert forever (diff 'update'
    // every day, write changes nothing); without one, every shared non-key
    // column counts (snapshotDiff's default)
    val cmp = spec.policy match {
      case graft.sink.ConflictPolicy.UpdateOnConflict(_, upd) =>
        upd.filter(flatSchema.fieldNames.contains)
      case _ => Nil
    }
    val diff = Diff.snapshotDiff(live, snapshot, Seq(key), cmp)
    val changedKeys = diff
      .where(col("op").isin("insert", "update")).select(key)
    val changed = snapshot.join(changedKeys, Seq(key), "left_semi")
    val skipped = MigrationPipeline.load(spark, spec, changed, db, staging = None)
    val deleted =
      if (deleteVanished)
        UpsertSink.deleteByKey(diff.where(col("op") === "delete").select(key),
          db.url, spec.table, key, connectionProps = db.props)
      else 0L
    (skipped, deleted)
  }
}

/** Schema reset (SURVEY.md §3's fourth entry point — the reference's
  * `erase_schema` DAG, `erase_schema.py:24-30`: `DROP SCHEMA <s> CASCADE;
  * CREATE SCHEMA <s>`). Driver-side plain JDBC, Spark not involved.
  *
  * Vendors without `DROP SCHEMA … CASCADE` (embedded Derby) drop the spec
  * tables individually instead — same observable result: an empty schema
  * the migration pipelines can rebuild from scratch.
  */
object ResetPipeline {

  /** The reference's statement pair (`erase_schema.py:28-29`). */
  private[graft] def resetStatements(schema: String): Seq[String] = Seq(
    s"""DROP SCHEMA "$schema" CASCADE""",
    s"""CREATE SCHEMA "$schema"""")

  def run(db: TargetDb, schema: String, specs: Seq[TableSpec]): Unit =
    if (db.supportsDropSchemaCascade)
      Ddl.execute(db.url, resetStatements(schema), db.props)
    else
      specs.foreach(spec => Ddl.dropTableIfExists(db.url, spec.table, db.props))
}

/** Daily incremental merge (SURVEY.md §3.2): probe the delta drop (Q9 —
  * absent file means the whole step no-ops), read with the explicit staging
  * schema, reconcile surrogate keys against the live table through
  * [[MigrationPipeline.load]] (ONE exchange that delta and live keys share,
  * then windows, instead of the reference's 1+N round trips —
  * `utils.py:27-37`),
  * upsert, then archive the delta under a date stamp (S8). No explicit
  * pre-sort: the reference's `sort_values('_id')` only exists to stabilize
  * PK assignment, which `SurrogateKeys.reconcile` already orders
  * internally.
  */
object DailyUpdatePipeline {

  /** @param secondaryArchiveDir optional second archive destination — the
    *   reference keeps a local stamped copy AND uploads to S3 before
    *   deleting the delta (`erase_copy_daily_tables.py:14-27`); pass the
    *   remote URI here to reproduce that dual-destination contract.
    * @return true if a delta was found and applied, false on the no-op path
    */
  def run(spark: SparkSession, spec: TableSpec, deltaPath: String,
      db: TargetDb, archiveDir: String, stamp: String,
      secondaryArchiveDir: Option[String] = None): Boolean = {
    if (!Staging.exists(spark, deltaPath)) false
    else {
      db.ensureTable(spec)
      val delta = Staging.read(spark, spec.flatSchema, deltaPath)
      MigrationPipeline.load(spark, spec, delta, db, staging = None)
      Staging.archive(spark, deltaPath, archiveDir, stamp, secondaryArchiveDir)
      true
    }
  }
}

/** Streaming-corpus ANN ingest: the incremental-IVF lifecycle
  * ([[graft.ops.Similarity.appendBatch]]) as a checkpointed
  * `Trigger.AvailableNow` pipeline — each invocation picks up exactly the
  * embedding-batch files that arrived since the last checkpoint, assigns
  * them to the existing centroids (map-only), lands them in the inverted
  * file, and evaluates the drift gate; the caller rebuilds the quantizer
  * only when the gate says the corpus has drifted out from under it.
  *
  * Exactly-once effect: the checkpoint offers each source file once, and
  * a crashed/replayed micro-batch rewrites the SAME deterministic
  * `run=<id>/batch=<id>` subdirectory (overwrite, not append) — so
  * replays converge instead of duplicating rows, the property a bare
  * append-mode write cannot give. The run id is minted once per
  * CHECKPOINT (a marker file stored inside `checkpointDir`, so it lives
  * and dies with the batch numbering): if the checkpoint is lost or a
  * second pipeline points a fresh checkpoint at the same `invertedDir`,
  * batch ids restart at 0 under a NEW run namespace instead of silently
  * overwriting earlier runs' data. Readers take
  * `spark.read.parquet(invertedDir)` (partition discovery yields
  * `run`/`batch`/`cell` columns) and query it with
  * [[graft.ops.Similarity.ivfTopKWithAssigned]].
  *
  * The gate is evaluated per micro-batch and REPORTED, not enforced:
  * ingest never blocks on it (a drifted batch is still corpus), and the
  * summary carries the worst drift seen so the operator owns the
  * rebuild decision — mirroring how [[SnapshotUpdatePipeline]] reports
  * skipped rows rather than aborting.
  */
/** The checkpoint-scoped ingest run id, shared by every streaming ingest
  * pipeline and its compaction: same checkpoint → same id (replay
  * overwrites converge); fresh checkpoint → fresh id (batch numbering
  * restarts under a new namespace, never over old data).
  */
private[pipelines] object CheckpointRunId {

  private def marker(spark: SparkSession, checkpointDir: String) = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "_graft_run_id")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Read the checkpoint's run id, creating it (atomically) on first use.
    * First writer wins: a concurrent starter that loses the creation race
    * adopts the winner's id.
    */
  def getOrCreate(spark: SparkSession, checkpointDir: String): String =
    get(spark, checkpointDir).getOrElse {
      val (fs, p) = marker(spark, checkpointDir)
      Generations.commitText(fs, p,
        java.util.UUID.randomUUID().toString.replace("-", ""))
      get(spark, checkpointDir).get
    }

  /** Read-only lookup — None when the checkpoint has never run. An empty
    * marker is refused: it would put every run of the checkpoint under
    * one `run=` namespace.
    */
  def get(spark: SparkSession, checkpointDir: String): Option[String] = {
    val (fs, p) = marker(spark, checkpointDir)
    Generations.readText(fs, p).map { text =>
      val id = text.trim
      require(id.nonEmpty, s"empty run-id marker $p")
      id
    }
  }
}

object StreamingIvfIngest {

  /** @param batches NON-EMPTY micro-batches landed this invocation (an
    *   empty micro-batch advances the checkpoint but writes nothing and
    *   is not counted)
    * @param rebuildFlagged true if ANY batch tripped the drift gate
    * @param worstDrift the lowest-scoring batch's gate result
    */
  final case class Summary(batches: Long, rebuildFlagged: Boolean,
      worstDrift: Option[graft.ops.Similarity.IvfDrift])

  /** @param rowForm what each landed batch's cell-assigned frame writes
    *   as — identity for the float inverted file; [[StreamingPqIngest]]
    *   swaps in the PQ encode projection. ONE copy of the checkpoint /
    *   drift-gate / replay-idempotent-landing machinery serves both.
    */
  def run(spark: SparkSession, index: graft.ops.Similarity.IvfIndex,
      batchDir: String, schema: StructType, idCol: String, vecCol: String,
      invertedDir: String, checkpointDir: String,
      relTolerance: Double = 0.05,
      rowForm: DataFrame => DataFrame = identity): Summary = {
    // foreachBatch runs on the streaming execution thread, not the caller's
    // — atomics make the summary safely visible after awaitTermination
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val worst = new java.util.concurrent.atomic
      .AtomicReference[Option[graft.ops.Similarity.IvfDrift]](None)
    val runId = CheckpointRunId.getOrCreate(spark, checkpointDir)
    val query = spark.readStream
      .schema(schema)
      // producers commonly land each batch as its own parquet DIRECTORY
      // (df.write.parquet(dir/bN)); the flat file listing would miss those
      .option("recursiveFileLookup", "true")
      .parquet(batchDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val assigned = graft.ops.Similarity
            .assignCells(batch, idCol, vecCol, index).persist()
          try {
            val drift = graft.ops.Similarity
              .driftCheck(index, assigned, vecCol, relTolerance)
            // deterministic per-(run, batch) dir + overwrite =
            // replay-idempotent within a checkpoint, collision-proof
            // across checkpoints
            rowForm(assigned).write.mode("overwrite").partitionBy("cell")
              .parquet(s"$invertedDir/run=$runId/batch=$batchId")
            batches.incrementAndGet()
            // non-empty batches always carry a score; None can never
            // rank as "worst"
            def score(d: graft.ops.Similarity.IvfDrift): Long =
              d.batchScoreMill.getOrElse(Long.MaxValue)
            worst.updateAndGet(w =>
              if (w.forall(d => score(d) > score(drift))) Some(drift)
              else w)
            ()
          } finally { assigned.unpersist(blocking = false); () }
        }
      }
      .start()
    query.awaitTermination()
    val w = worst.get()
    Summary(batches.get(), w.exists(_.needsRebuild), w)
  }

  private[pipelines] def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Latest compacted state as a queryable assigned corpus
    * ([[graft.ops.Similarity.ivfTopKWithAssigned]] input): the union of
    * every run namespace's last complete generation — runs never fold
    * each other's data (a foreign run may still be live), so "everything
    * compacted" is this union by construction. Roots of the older layouts
    * (a pre-run-scoped top-level `gen=`, or a run root folded before
    * generations carried manifests) read as [[Generations.legacy]] ones.
    */
  def loadCompacted(spark: SparkSession, compactedDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(compactedDir)
    val gens = (root +: Generations.subdirs(fs(spark, root), root, "run=").map(_._2))
      .flatMap(r => Generations.latest(spark, r.toString))
    require(gens.nonEmpty, s"no completed compaction under $compactedDir")
    Generations.union(spark, gens)
  }

  /** Fold the streaming inverted file's `run=<id>/batch=<n>` directories
    * into the canonical cell-partitioned corpus layout
    * ([[graft.ops.Similarity.saveAssignedCorpus]] format) — the LSM-style
    * maintenance step a long-lived ingest needs: without it every
    * micro-batch leaves its own small per-cell files forever. One shuffle
    * on `cell` bounds each cell's file count.
    *
    * A [[Generations.fold]] per run (`compactedDir/run=<id>/gen=<n>`)
    * whose eligible batches are those the checkpoint has COMMITTED (the
    * `commits/` log): a batch that landed but crashed before its commit is
    * the stream's own replay to overwrite. Other runs' batches
    * (lost-checkpoint re-ingests) are never touched — only the current
    * checkpoint carries commit evidence.
    *
    * @return the covering compaction, or None when nothing is committed
    *   yet (no marker, no commits, or no landed batch directories)
    */
  def compact(spark: SparkSession, invertedDir: String, compactedDir: String,
      checkpointDir: String): Option[Generations.Fold] = {
    val root = new org.apache.hadoop.fs.Path(compactedDir)
    require(!Generations.legacy(fs(spark, root), root),
      s"$compactedDir holds pre-run-scoped generations whose covered-batch " +
        "provenance is ambiguous across runs; compact into a fresh " +
        "compactedDir (the old generations stay readable via loadCompacted)")
    foldRun(spark, invertedDir, compactedDir, checkpointDir)(
      graft.ops.ProductQuantize.writeCells)
  }

  /** Fold the current checkpoint's run: its COMMITTED `batchRoot/run=<id>`
    * batches into `genRoot/run=<id>` generations. Generations are scoped
    * PER RUN: a checkpoint loss restarts batch ids at 0 under a new run
    * id, and a shared generation's manifest would already cover them.
    */
  private[pipelines] def foldRun(spark: SparkSession, batchRoot: String,
      genRoot: String, checkpointDir: String)(
      write: (DataFrame, String) => Unit): Option[Generations.Fold] =
    CheckpointRunId.get(spark, checkpointDir).flatMap { runId =>
      val commits = new org.apache.hadoop.fs.Path(checkpointDir, "commits")
      val f = fs(spark, commits)
      val committed: Set[Long] =
        if (!f.exists(commits)) Set.empty
        else f.listStatus(commits).flatMap(_.getPath.getName.toLongOption).toSet
      Generations.fold(spark, s"$genRoot/run=$runId", s"$batchRoot/run=$runId",
        tag => tag.toLongOption.exists(committed))(write)
    }
}

/** Streaming encode-append ingestion for the PQ inverted file — the
  * code-space twin of [[StreamingIvfIngest]]: a checkpointed
  * `Trigger.AvailableNow` stream lands embedding micro-batches, each
  * batch is coarse-assigned AND PQ-encoded under the SAVED quantizers
  * ([[graft.ops.ProductQuantize]] — both map-only; centroids and
  * codebooks ride the plan as literals), and the 16×-compressed rows
  * land replay-idempotently at `codesDir/run=<id>/batch=<n>` (the
  * deterministic-dir + overwrite contract). The per-batch drift gate is
  * the same [[graft.ops.Similarity.driftCheck]] statistic — a batch
  * scoring materially below the index's build baseline flags the
  * quantizers for a rebuild.
  *
  * Layout identical to the float ingest's, so the maintenance half IS
  * [[StreamingIvfIngest]]: fold with `StreamingIvfIngest.compact` (one
  * shuffle on `cell`, commit-evidence-scoped, crash-idempotent) and read
  * with `StreamingIvfIngest.loadCompacted` — the loaded frame drops
  * straight into [[graft.ops.ProductQuantize.ivfPqTopK]] as (or unioned
  * onto) its `encoded` side.
  *
  * Scale shape per batch: one scan of the batch, zero scans of the
  * existing corpus, zero shuffles — the streaming form of FAISS's
  * add-with-existing-codebooks, sized so a 100 TB corpus grows by
  * micro-batch without ever re-reading itself.
  */
object StreamingPqIngest {

  def run(spark: SparkSession, index: graft.ops.Similarity.IvfIndex,
      cb: graft.ops.ProductQuantize.PqCodebooks, batchDir: String,
      schema: StructType, idCol: String, vecCol: String, codesDir: String,
      checkpointDir: String,
      relTolerance: Double = 0.05): StreamingIvfIngest.Summary = {
    // ONE ingest implementation: everything except the written row form
    // (code column instead of the float vector) IS the float ingest —
    // checkpointing, drift gating, and the replay-idempotent landing
    // must never fork
    StreamingIvfIngest.run(spark, index, batchDir, schema, idCol,
      vecCol, codesDir, checkpointDir, relTolerance,
      rowForm = assigned => assigned.select(col(idCol), col("cell"),
        graft.ops.ProductQuantize.encodeExpr(col(vecCol), cb).as("code")))
  }
}

/** Streaming corpus ingestion with ONLINE NEAR-DUP REJECTION — the
  * text-side twin of [[StreamingIvfIngest]]: a checkpointed
  * `Trigger.AvailableNow` stream lands document micro-batches, each batch
  * is checked for word-n-gram near-duplicates BOTH within itself
  * (keep-lowest-id survivor) and against the accumulated shingle index of
  * everything accepted before it
  * ([[graft.ops.NearDup.incrementalNearDupPairs]] — history TEXT is never
  * re-read, only its 16-byte postings), survivors land in the accepted
  * corpus, and their postings append to the index for the NEXT batch to
  * check against.
  *
  * Replay-idempotency follows the [[StreamingIvfIngest]] contract: a
  * checkpoint-scoped run id namespaces per-batch output directories
  * (`run=<id>/batch=<n>`, overwrite mode), so a replayed micro-batch
  * converges instead of duplicating — and the history read for batch `n`
  * EXCLUDES the current run's directories with batch id >= `n`, so a
  * replay never rejects a batch against its own first attempt's postings.
  * A lost checkpoint restarts batch numbering under a fresh run id; the
  * old run's index rows remain HISTORY, so re-offered files deduplicate
  * against their previous acceptance — exactly the semantics an
  * incremental ingest wants.
  *
  * Scale shape per batch: shingle the batch (map), one hash join against
  * the loaded postings index on the 8-byte shingle hash, one intra-batch
  * blocked self-join — never the accepted corpus' text, never an
  * all-pairs product. Periodic [[compact]] folds the per-batch index
  * dirs into a generation so the history read stays bounded by
  * (runs + batches-since-last-compact), not lifetime batch count.
  *
  * [[RejectGate]]s extend the per-batch policy beyond near-dup: built-in
  * [[decontaminationGate]] (containment vs a saved benchmark shingle
  * index) and [[classifierGate]] (saved quality model) compose into the
  * same rejection union — the streaming form of a full curation recipe
  * (dedup + decontaminate + quality-filter) in one checkpointed pass.
  */
object StreamingNearDupIngest {

  /** @param batches non-empty micro-batches landed this invocation
    * @param accepted documents written to the accepted corpus
    * @param rejected documents dropped as near-dups (intra-batch or
    *   against history)
    */
  final case class Summary(batches: Long, accepted: Long, rejected: Long)

  /** Where [[compact]] folds this index's batch directories. Inside
    * `indexDir` so the ingest stays a one-directory artifact; the
    * underscore prefix keeps Spark's own file listings from ever seeing
    * the folded tree as batch data.
    */
  def compactedDir(indexDir: String): String = s"$indexDir/_compacted"

  /** Index directories readable as history for micro-batch `batchId` of
    * run `runId`: every run's [[Generations.readSet]] — EXCEPT the current
    * run's `batch >= batchId` (a replay must not see its own first
    * attempt; a generation can never contain it, because folds take only
    * COMMITTED batches and a replaying batch is by definition
    * uncommitted). Post-compaction the listing is bounded by
    * (runs + batches-since-last-compact), not total batch count; each
    * run's manifest holds its folded batch ids as ranges, so reading it
    * costs the gaps in those ids, not their count.
    */
  private def historyDirs(spark: SparkSession, indexDir: String,
      runId: String, batchId: Long): Seq[String] = {
    val f = StreamingIvfIngest.fs(spark, new org.apache.hadoop.fs.Path(indexDir))
    val runs = Seq(indexDir, compactedDir(indexDir)).flatMap(d =>
      Generations.subdirs(f, new org.apache.hadoop.fs.Path(d), "run=").map(_._1))
    runs.distinct.flatMap(run => Generations.readSet(spark,
      s"${compactedDir(indexDir)}/run=$run", s"$indexDir/run=$run",
      keep = tag => run != runId || tag.toLong < batchId))
  }

  /** LSM fold of the shingle-index batch directories — the
    * [[StreamingIvfIngest.compact]] twin for the near-dup ingest (the same
    * per-run, commit-scoped [[Generations.fold]] into
    * `_compacted/run=<id>/gen=<n>`): without it [[historyDirs]] re-lists
    * and re-unions EVERY `run=/batch=` dir on every micro-batch, a
    * per-batch cost growing linearly in batch count over a long-lived
    * ingest.
    */
  def compact(spark: SparkSession, indexDir: String,
      checkpointDir: String): Option[Generations.Fold] =
    // plain union write, no shuffle: the scan packs the many small batch
    // files into size-bounded partitions, so the generation's file count
    // is bounded by bytes/maxPartitionBytes regardless of batch count
    StreamingIvfIngest.foldRun(spark, indexDir, compactedDir(indexDir),
      checkpointDir)((df, target) => df.write.mode("overwrite").parquet(target))

  /** Extra per-batch rejection gates, composed with the near-dup checks:
    * each maps the landed micro-batch frame to the id values it rejects
    * (one `idCol`-typed column). Gates see the batch AFTER landing and
    * BEFORE acceptance, so their cost is per-batch; rejected ids from all
    * gates and both near-dup checks union before the anti-join. Built-in
    * factories: [[decontaminationGate]], [[classifierGate]].
    */
  type RejectGate = DataFrame => DataFrame

  /** Gate: reject batch documents CONTAINING any document of a saved
    * benchmark shingle index ([[graft.ops.NearDup.saveShingleIndex]]
    * artifact — built once per benchmark release) above
    * `minContainment` — streaming decontamination, the q112 sweep as an
    * ingest-time policy. Per-batch cost: shingle the batch, one hash
    * join against the loaded postings.
    */
  def decontaminationGate(spark: SparkSession, probeIndexPath: String,
      idCol: String, textCol: String, n: Int,
      minContainment: Double): RejectGate = {
    val index = graft.ops.NearDup.loadShingleIndex(spark, probeIndexPath)
    batch => graft.ops.NearDup
      .containmentVsIndex(batch, index, idCol, textCol, n, minContainment)
      .select(col("i").as(idCol))
  }

  /** Gate: reject batch documents a saved hashed linear classifier
    * ([[graft.ops.Classifier.saveModel]] artifact) scores at or below
    * `minScoreMill` — the model-based quality filter as an ingest-time
    * policy. Map-only scoring + one broadcast of the B-row table.
    *
    * Stated as "keep only documents PROVEN above the threshold":
    * `scoreWithTable`'s inner join emits NO row for a document with zero
    * features or whose buckets are all absent from the model — exactly
    * the degenerate docs (empty text, out-of-vocabulary spam) a quality
    * gate exists to catch — so a filter on the scored frame alone would
    * pass them vacuously. The anti-join treats a missing score as score
    * 0, i.e. rejected at the default threshold.
    */
  def classifierGate(spark: SparkSession, modelPath: String, idCol: String,
      textCol: String, buckets: Int, minScoreMill: Long = 0L): RejectGate = {
    val weights = graft.ops.Classifier.loadModel(spark, modelPath)
    batch => {
      val kept = graft.ops.Classifier
        .scoreWithTable(batch, weights, idCol, textCol, buckets)
        .filter(col("score_mill") > minScoreMill)
        .select(col(idCol))
      batch.select(col(idCol)).join(kept, Seq(idCol), "left_anti")
    }
  }

  /** @param writeManifests attest each landed accepted-batch directory
    *   with a [[graft.sink.CorpusSink.writeManifest]] shard manifest, so
    *   the streaming path carries the same tamper-evidence lifecycle as a
    *   batch-materialized corpus (verify before trusting a resume)
    * @param rejectGates additional per-batch rejection policies
    *   ([[RejectGate]]) — decontamination, quality models, any
    *   caller-supplied rule — composed with the near-dup rejection
    * @param zoneCols non-empty switches the accepted corpus to INDEXED
    *   JSONL landings: each accepted micro-batch lands as JSON lines and
    *   [[graft.ingest.v2.ZoneMaps.append]] indexes it in the same
    *   foreachBatch under the run/batch tag the layout already uses — so
    *   a streaming-built corpus is zone-skippable batch-by-batch from the
    *   moment each batch is readable (the document source reads the
    *   sidecar whenever it exists), never "unskippable until someone
    *   runs a full build". A replayed batch overwrites both its data dir
    *   AND its `add_` sidecar generation (same deterministic tags), so
    *   replays converge. Parquet-landing mode (`zoneCols = Nil`, the
    *   default) needs none of this: parquet files carry their own
    *   row-group stats — the sidecar exists because JSONL has no footer.
    * @param zoneBloomCols equality-probe columns to bloom-index (must be
    *   listed in `zoneCols`)
    * @param zoneBlockBytes `> 0` additionally writes block-level stats
    *   rows for split-granular skipping of large batch files
    * @param zoneMaxGenerations `> 0` self-compacts the accepted corpus'
    *   sidecar ([[graft.ingest.v2.ZoneMaps.compact]]) whenever a landing
    *   leaves more generations than this — a long-lived ingest writes
    *   one `add_` generation per micro-batch, so without a cadence the
    *   planning-time generation list grows with batch count forever
    * @param zoneSortCol non-null upgrades the indexed landing to
    *   RANGE-BANDED SORTED batches
    *   ([[graft.sink.CorpusSink.landJsonlRangeIndexed]] under the same
    *   replay-convergent run/batch tag): each accepted micro-batch lands
    *   as `zoneRangeBands` disjoint key bands, one sorted file each, so
    *   the streaming-built corpus composes with every sorted-layout
    *   consumer — top-N/min-max band pruning, sorted-scan early exit,
    *   and the k-way merge read that keeps the whole-corpus `ORDER BY`
    *   exchange-free across batches (per-batch boundaries overlap; the
    *   planner merges overlapping files per group). Must be listed in
    *   `zoneCols`; requires `zoneCols` mode.
    */
  def run(spark: SparkSession, batchDir: String, schema: StructType,
      idCol: String, textCol: String, n: Int, minJaccard: Double,
      indexDir: String, acceptedDir: String, checkpointDir: String,
      writeManifests: Boolean = true,
      rejectGates: Seq[RejectGate] = Nil,
      zoneCols: Seq[String] = Nil,
      zoneBloomCols: Seq[String] = Nil,
      zoneBlockBytes: Long = 0L,
      zoneMaxGenerations: Int = 0,
      zoneSortCol: String = null,
      zoneRangeBands: Int = 8): Summary = {
    require(zoneSortCol == null || zoneCols.contains(zoneSortCol),
      s"zoneSortCol '$zoneSortCol' requires indexed-JSONL mode and must " +
        "be listed in zoneCols")
    import graft.ops.NearDup
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val accepted = new java.util.concurrent.atomic.AtomicLong(0L)
    val rejected = new java.util.concurrent.atomic.AtomicLong(0L)
    val runId = CheckpointRunId.getOrCreate(spark, checkpointDir)
    val query = spark.readStream
      .schema(schema)
      .option("recursiveFileLookup", "true")
      .parquet(batchDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val b = batch.persist()
          try {
            // intra-batch: reject the LARGER id of every near-dup pair
            // (keep-lowest-id survivor, the Dedup convention)
            val intraRejects = NearDup
              .ngramJaccardPairs(b, idCol, textCol, n, minJaccard)
              .select(col("j").as(idCol))
            // vs history: any doc near-dupping an already-accepted one
            val dirs = historyDirs(spark, indexDir, runId, batchId)
            // empty-history placeholder derives from the batch itself so
            // the id column keeps the CALLER's type (a lit(0L) frame
            // would break the union for any non-long id schema)
            val histRejects =
              if (dirs.isEmpty) b.select(col(idCol)).limit(0)
              else NearDup.incrementalNearDupPairs(b,
                  spark.read.parquet(dirs: _*), idCol, textCol, n, minJaccard)
                .select(col("i").as(idCol))
            val gateRejects = rejectGates.map(g =>
              g(b).select(col(idCol)))
            val rejects = (intraRejects.union(histRejects) +: gateRejects)
              .reduce(_.union(_)).distinct().persist()
            val keep = b.join(rejects, Seq(idCol), "left_anti").persist()
            try {
              val nKeep = keep.count()
              accepted.addAndGet(nKeep)
              rejected.addAndGet(b.count() - nKeep)
              val batchAccepted = s"$acceptedDir/run=$runId/batch=$batchId"
              if (zoneCols.isEmpty) {
                keep.write.mode("overwrite").parquet(batchAccepted)
                if (writeManifests)
                  graft.sink.CorpusSink.writeManifest(spark, batchAccepted)
              } else if (zoneSortCol != null) {
                // RANGE-BANDED sorted landing: the sink writes the
                // batch's disjoint sorted bands AND appends the sidecar
                // under the same deterministic tag (replay-convergent);
                // per-batch boundaries overlap earlier batches', which
                // the merge read absorbs at plan time
                graft.sink.CorpusSink.landJsonlRangeIndexed(keep,
                  zoneSortCol, acceptedDir, numBands = zoneRangeBands,
                  zoneCols = zoneCols, bloomCols = zoneBloomCols,
                  blockBytes = zoneBlockBytes,
                  appendTag = Some(s"${runId}_b$batchId"),
                  maxSidecarGenerations = zoneMaxGenerations)
                if (writeManifests)
                  graft.sink.CorpusSink.writeManifest(spark,
                    s"$acceptedDir/batch_${runId}_b$batchId",
                    format = "text")
              } else {
                // indexed-JSONL landing: data + zone-map sidecar in the
                // same foreachBatch, so skipping never lags readability.
                // The append indexes the NEW files only (one pass over
                // this batch) under a deterministic per-(run,batch) tag —
                // the same replay-idempotence contract as the data dir
                keep.select(to_json(struct(
                    keep.columns.map(col): _*)).as("value"))
                  .write.mode("overwrite").text(batchAccepted)
                graft.ingest.v2.ZoneMaps.append(spark, acceptedDir,
                  keep.schema, zoneCols, batchTag = s"${runId}_b$batchId",
                  bloomCols = zoneBloomCols, blockBytes = zoneBlockBytes)
                graft.ingest.v2.ZoneMaps.compactIfOver(spark, acceptedDir,
                  zoneMaxGenerations)
                if (writeManifests)
                  graft.sink.CorpusSink.writeManifest(spark, batchAccepted,
                    format = "text")
              }
              NearDup.saveShingleIndex(keep, idCol, textCol, n,
                s"$indexDir/run=$runId/batch=$batchId")
              batches.incrementAndGet()
              ()
            } finally {
              keep.unpersist(blocking = false)
              rejects.unpersist(blocking = false)
              // the shingle postings of BOTH per-batch frames were
              // CacheOnce-pinned inside NearDup (ngramJaccardPairs /
              // incrementalNearDupPairs / saveShingleIndex share one
              // cached plan per frame); each micro-batch's plan is
              // distinct and the CacheManager holds entries until
              // explicit unpersist, so skipping this would grow executor
              // storage memory without bound over a long-lived ingest
              NearDup.unpersistPostings(b, idCol, textCol, n)
              NearDup.unpersistPostings(keep, idCol, textCol, n); ()
            }
          } finally { b.unpersist(blocking = false); () }
        }
      }
      .start()
    query.awaitTermination()
    Summary(batches.get(), accepted.get(), rejected.get())
  }

  /** Everything accepted so far, across all runs (parquet-landing mode). */
  def loadAccepted(spark: SparkSession, acceptedDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(acceptedDir)

  /** Everything accepted so far for a `zoneCols` (indexed-JSONL) ingest,
    * read through the document source with zone-map skipping armed — the
    * consumer half of the write-time sidecar the ingest maintains.
    */
  def loadAcceptedJsonl(spark: SparkSession, schema: StructType,
      acceptedDir: String): DataFrame =
    graft.ingest.ExtendedJson.read(spark, schema, acceptedDir)
}
