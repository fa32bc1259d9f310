package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, max}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.ingest.{ExtendedJson, Staging}
import graft.keys.SurrogateKeys
import graft.pipelines.{MigrationPipeline, ResetPipeline, TargetDb}
import graft.schema.{Specs, TableSpec}
import graft.sink.{ConflictPolicy, Ddl, DerbyUpsertDialect, UpsertSink}

/** One benchmark workload: inputs, an untimed warm-up, and a cycle of
  * pipeline calls.
  */
trait Workload {
  /** Generates the inputs and the expected tables. */
  def prepare(run: Runner): Unit
  /** Untimed calls before the first timed one. */
  def warmup(run: Runner): Unit
  /** Runs one cycle; with `traced`, through the layer-by-layer twin. */
  def cycle(run: Runner, timed: Boolean, traced: Option[Layers]): Unit
}

/** Shared pieces of the pipeline workloads. */
object Pipes {

  /** An embedded in-memory Derby database as a pipeline target. */
  val derby: TargetDb = TargetDb("jdbc:derby:memory:bench;create=true",
    DerbyUpsertDialect, TableSpec.derbyType, supportsIfNotExists = false,
    supportsDropSchemaCascade = false, supportsForeignKeys = false)

  /** Derby cannot express the bare `ON CONFLICT DO NOTHING` (loandeals);
    * the keyed ignore on `_id` is substituted, as the engine's own pipeline
    * tests do.
    */
  def derbySpecs: Seq[TableSpec] = Specs.all().map { s =>
    s.policy match {
      case ConflictPolicy.IgnoreAny => s.copy(policy = ConflictPolicy.IgnoreOnConflict("_id"))
      case _ => s
    }
  }

  /** The key ids are reconciled on (the conflict key, else `_id`). */
  def keyOf(spec: TableSpec): String = spec.policy.keyOption.getOrElse("_id")

  def flatSchema(spec: TableSpec): StructType =
    StructType(spec.targetSchema.filterNot(_.name == "id"))

  def ensureTable(db: TargetDb, spec: TableSpec): Unit =
    Ddl.ensureTable(db.url, spec.ddl(db.sqlType, db.supportsIfNotExists,
      db.supportsForeignKeys), db.props)

  /** The live table as the pipelines read it (one JDBC scan). */
  def readLive(spark: SparkSession, db: TargetDb, table: String): DataFrame =
    spark.read.jdbc(db.url, "\"" + table + "\"", db.props)

  /** The traced twin of the pipelines' key-reconcile-and-upsert step: the
    * same public calls in the same order, with each layer's output
    * materialized in turn so its time can be taken by difference.
    *
    * @param inputSeconds time already spent materializing `flat` on its own
    * @return rows handed to the sink
    */
  def tracedLoad(spark: SparkSession, spec: TableSpec, flat: DataFrame,
      inputSeconds: Double, db: TargetDb, atScale: Boolean, l: Layers): Long = {
    val sc = spark.sparkContext
    val key = keyOf(spec)
    val existing = readLive(spark, db, spec.table).select(col("id"), col(key))
    val readS = SparkCounters.withLayer(sc, "target")(l.materialize(existing))
    l.add("target.read_s", readS)
    val (readRows, maxId) = {
      val r = existing.agg(count("*"), max("id")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    l.add("target.read_rows", readRows)
    val reconciled =
      if (atScale) SurrogateKeys.reconcileAtScale(existing, flat, key)
      else SurrogateKeys.reconcile(existing, flat, key)
    val keyed = reconciled.select(("id" +: flatSchema(spec).fieldNames.toSeq).map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (rows, keysS) = SparkCounters.withLayer(sc, "keys")(l.time(keyed.count()))
      l.add("keys.reconcile_s", keysS - readS - inputSeconds)
      val known = keyed.filter(col("id") <= maxId).count()
      l.add("keys.known", known)
      l.add("keys.new", rows - known)
      val (skipped, upsertS) = SparkCounters.withLayer(sc, "sink")(l.time(
        UpsertSink.upsert(keyed, db.url, spec.table, spec.policy, db.dialect,
          connectionProps = db.props, tolerance = spec.tolerance)))
      l.add("sink.upsert_s", upsertS)
      l.add("sink.rows", rows)
      l.add("sink.skipped_rows", skipped)
      rows
    } finally keyed.unpersist()
  }
}

/** `migrate`: ResetPipeline, then MigrationPipeline with CSV staging for
  * every spec in FK order, then the same corpus again unchanged.
  */
final class Migrate(spark: SparkSession, db: TargetDb, work: Path, gen: Gen)
    extends Workload {

  private val specs = Pipes.derbySpecs

  /** Documents per collection. */
  private val baseDocs = Map(
    "users" -> 10000, "trades" -> 4000, "invoices" -> 4000,
    "loanapplications" -> 2000, "cashflowevents" -> 2000, "mlscoredatas" -> 2000,
    "organizations" -> 1000, "agribusinesses" -> 1000, "cashfloweventgoals" -> 500,
    "accounts" -> 1000, "loanoffers" -> 500, "loanproducts" -> 500, "loandeals" -> 500)

  private val corpus = work.resolve("corpus")
  private val staging = work.resolve("staging").toString

  private var expected = Map.empty[String, (Fingerprint, Array[(Long, String)])]
  private var canary = Map.empty[String, Fingerprint]

  private def docPath(spec: TableSpec): String = corpus.resolve(spec.collection + ".jsonl").toString

  /** Writes the corpus and derives each table's expected content: the
    * spec's transform over Spark's built-in JSON reader (not the engine's
    * document source), with ids 1..N assigned here in key order. The
    * transform itself is checked against the golden canary fingerprints,
    * as a failed call when they differ.
    */
  def prepare(run: Runner): Unit = {
    Files.createDirectories(corpus)
    specs.foreach(s => gen.writeCollection(s, baseDocs(s.collection), corpus))
    expected = specs.map { s =>
      val key = Pipes.keyOf(s)
      val cols = Pipes.flatSchema(s).fieldNames
      val rows = s.transform(Golden.readBuiltin(spark, s, docPath(s)))
        .select(cols.map(col): _*).collect()
      val keyIdx = cols.indexOf(key)
      val sorted = rows.sortBy(_.getString(keyIdx))
      val withIds = sorted.iterator.zipWithIndex.map { case (r, i) =>
        java.lang.Long.valueOf(i + 1L) +: (0 until r.length).map(r.get) }
      val fp = Fingerprint.of(withIds)
      val ids = sorted.zipWithIndex.map { case (r, i) => (i + 1L, r.getString(keyIdx)) }
      s.table -> (fp, ids)
    }.toMap
    run.op("canary", "*", timed = false) {
      canary = Golden.canary(spark, specs, work.resolve("canary"))
      canary.valuesIterator.map(_.rows).sum
    }(Golden.mismatch(canary))
  }

  private def check(s: TableSpec): Option[String] = {
    val (fp, ids) = expected(s.table)
    TargetCheck.compare(db.url, s.table, s.targetSchema, Pipes.keyOf(s), fp, ids)
  }

  /** None: a migration is a one-off job. The timed load is the first use
    * of the engine's document source, staging, key numbering and sink;
    * set-up has already run each spec's transform over Spark's built-in
    * reader. The rerun runs warm.
    */
  def warmup(run: Runner): Unit = ()

  /** One cycle: reset, load every collection, rerun every collection. */
  def cycle(run: Runner, timed: Boolean, traced: Option[Layers]): Unit = {
    run.op("reset", "*", timed) {
      ResetPipeline.run(db, "APP", specs); 0L
    } {
      specs.find(s => TargetCheck.tableExists(db.url, s.table)).map(s => s"${s.table} survived the reset")
    }
    for (kind <- Seq("load", "rerun"); s <- specs)
      run.op(kind, s.table, timed) {
        traced match {
          case None =>
            MigrationPipeline.run(spark, s, docPath(s), db, staging = Some(staging))
            expected(s.table)._1.rows
          case Some(l) => tracedRun(s, l)
        }
      }(check(s))
  }

  /** [[MigrationPipeline.run]] step by step, each layer materialized. */
  private def tracedRun(s: TableSpec, l: Layers): Long = {
    val sc = spark.sparkContext
    l.add("target.ddl_s", l.time(Pipes.ensureTable(db, s))._2)
    val raw = ExtendedJson.read(spark, s.source, docPath(s))
    val parseS = SparkCounters.withLayer(sc, "ingest")(l.materialize(raw))
    l.add("ingest.parse_s", parseS)
    l.add("ingest.docs", baseDocs(s.collection))
    l.add("ingest.bytes", Files.size(corpus.resolve(s.collection + ".jsonl")))
    val flat = s.transform(raw)
    val flatS = SparkCounters.withLayer(sc, "schema")(l.materialize(flat))
    l.add("schema.transform_s", flatS - parseS)
    val dir = s"$staging/${s.table}"
    val writeS = SparkCounters.withLayer(sc, "staging")(l.time(Staging.write(flat, dir))._2)
    l.add("staging.write_s", writeS - flatS)
    val files = Files.walk(java.nio.file.Paths.get(dir))
    try l.add("staging.bytes", files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum().toDouble)
    finally files.close()
    val staged = Staging.read(spark, Pipes.flatSchema(s), dir)
    val readS = SparkCounters.withLayer(sc, "staging")(l.materialize(staged))
    l.add("staging.read_s", readS)
    l.add("schema.rows_out", staged.count())
    Pipes.tracedLoad(spark, s, staged, readS, db, atScale = true, l)
  }
}
