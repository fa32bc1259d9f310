package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.storage.StorageLevel

import graft.ingest.Staging
import graft.ops.Diff
import graft.pipelines.{DailyUpdatePipeline, SnapshotUpdatePipeline, TargetDb}
import graft.schema.{Specs, TableSpec}
import graft.sink.{ConflictPolicy, UpsertSink}

/** `incremental`: live `users` and `loanapplications` tables, seeded by the
  * benchmark's own single-connection JDBC loader, then a fixed cycle of
  * daily deltas (2% of the live rows: 80% known keys with a changed update
  * set, 20% new keys; archived to a primary and a secondary directory) and
  * full-snapshot updates (1% updated, 0.5% new, 0.5% vanished, vanished
  * rows deleted).
  */
final class Incremental(spark: SparkSession, db: TargetDb, work: Path, gen: Gen)
    extends Workload {

  private val users = Specs.users
  private val loans = Specs.loanapplications
  private val specs = Seq(users, loans)
  /** Live rows per table; loanapplications has about two rows (products)
    * per document id.
    */
  private val baseRows = Map("users" -> 25000, "loanapplications" -> 9000)

  private val models = scala.collection.mutable.Map.empty[String, TableModel]
  private var nextKey = 0L
  private var stamp = 0

  private def updateCols(s: TableSpec): Seq[String] = s.policy match {
    case ConflictPolicy.UpdateOnConflict(_, upd) => upd
    case _ => Nil
  }

  private def freshRow(m: TableModel, r: Random): Array[Any] = {
    val flat = Pipes.flatSchema(specOf(m))
    val v: Array[Any] = flat.fields.map(f => gen.flatValue(f, r))
    nextKey += 1
    val id = gen.oid(r, nextKey)
    v(flat.fieldIndex("_id")) = id
    if (m.key != "_id") v(flat.fieldIndex(m.key)) = s"$id-0"
    v
  }

  private def specOf(m: TableModel): TableSpec = specs.find(s => Pipes.keyOf(s) == m.key).get

  /** Generates the live tables and loads them over one JDBC connection. */
  def prepare(run: Runner): Unit = {
    specs.foreach { s =>
      val m = new TableModel(s.targetSchema, Pipes.keyOf(s), updateCols(s))
      val r = gen.rng("live/" + s.table)
      m.upsert((0 until baseRows(s.table)).map(_ => freshRow(m, r)))
      models(s.table) = m
      seed(s, m)
    }
  }

  private def seed(s: TableSpec, m: TableModel): Unit = TargetCheck.withConn(db.url) { c =>
    c.createStatement().execute(s.ddl(db.sqlType, db.supportsIfNotExists, db.supportsForeignKeys))
    val cols = s.targetSchema.fieldNames
    c.setAutoCommit(false)
    val ps = c.prepareStatement(s"INSERT INTO \"${s.table}\" (${cols.map("\"" + _ + "\"").mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})")
    var n = 0
    m.rows.valuesIterator.foreach { case (id, v) =>
      ps.setLong(1, id)
      v.indices.foreach(i => ps.setObject(i + 2, v(i).asInstanceOf[AnyRef]))
      ps.addBatch()
      n += 1
      if (n % 1000 == 0) { ps.executeBatch(); c.commit() }
    }
    ps.executeBatch(); c.commit()
    ps.close()
  }

  private def writeCsv(s: TableSpec, rows: Iterator[Array[Any]], dir: Path): Unit = {
    Files.createDirectories(dir)
    val flat = Pipes.flatSchema(s)
    // the drop holds this one file: a delta's is archived away by the
    // pipeline, a snapshot's is overwritten here
    val w = Files.newBufferedWriter(dir.resolve("part-00000.csv"), StandardCharsets.UTF_8)
    try {
      w.write(flat.fieldNames.mkString(",")); w.write('\n')
      rows.foreach { v => w.write(v.map(x => if (x == null) "" else x.toString).mkString(",")); w.write('\n') }
    } finally w.close()
  }

  private def changeUpdateSet(m: TableModel, v: Array[Any], r: Random): Array[Any] = {
    val flat = Pipes.flatSchema(specOf(m))
    val next = v.clone()
    m.updateIdx.foreach { i =>
      next(i) = flat.fields(i).dataType match {
        case BooleanType => java.lang.Boolean.valueOf(!v(i).asInstanceOf[java.lang.Boolean])
        case _ => gen.flatValue(flat.fields(i), r)
      }
    }
    next
  }

  private def sample(m: TableModel, n: Int, r: Random): Seq[String] = {
    val keys = m.rows.keysIterator.toArray.sorted
    r.shuffle(keys.toSeq).take(n)
  }

  private def check(s: TableSpec): Option[String] = {
    val (fp, ids) = models(s.table).expected
    TargetCheck.compare(db.url, s.table, s.targetSchema, Pipes.keyOf(s), fp, ids)
  }

  private val drop = work.resolve("drop")
  private val archive = work.resolve("archive").toString
  private val archive2 = work.resolve("archive2").toString

  /** One daily delta through DailyUpdatePipeline. */
  private def delta(run: Runner, s: TableSpec, timed: Boolean, traced: Option[Layers]): Unit = {
    val m = models(s.table)
    val r = gen.rng(s"delta/${s.table}/$stamp")
    val n = m.rows.size / 50
    val known = sample(m, n * 4 / 5, r).map(k => changeUpdateSet(m, m.rows(k)._2, r))
    val fresh = (0 until n - known.size).map(_ => freshRow(m, r))
    val batch = known ++ fresh
    val dir = drop.resolve(s.table + "_delta")
    writeCsv(s, batch.iterator, dir)
    stamp += 1
    val tag = s"d$stamp"
    m.upsert(batch)
    run.op("delta", s.table, timed) {
      traced match {
        case None =>
          if (!DailyUpdatePipeline.run(spark, s, dir.toString, db, archive, tag, Some(archive2)))
            throw new IllegalStateException("delta drop not found")
        case Some(l) =>
          val sc = spark.sparkContext
          require(Staging.exists(spark, dir.toString), "delta drop not found")
          l.add("target.ddl_s", l.time(Pipes.ensureTable(db, s))._2)
          val d = Staging.read(spark, Pipes.flatSchema(s), dir.toString)
          val readS = SparkCounters.withLayer(sc, "staging")(l.materialize(d))
          l.add("staging.read_s", readS)
          Pipes.tracedLoad(spark, s, d, readS, db, atScale = false, l)
          l.add("staging.archive_s", l.time(Staging.archive(spark, dir.toString, archive, tag, Some(archive2)))._2)
      }
      batch.size.toLong
    }(check(s))
  }

  /** One full-snapshot update through SnapshotUpdatePipeline. */
  private def snapshot(run: Runner, s: TableSpec, timed: Boolean, traced: Option[Layers]): Unit = {
    val m = models(s.table)
    val r = gen.rng(s"snapshot/${s.table}/$stamp")
    stamp += 1
    val n = m.rows.size / 200
    val picked = sample(m, 3 * n, r)
    val (updKeys, goneKeys) = (picked.take(2 * n), picked.drop(2 * n))
    val updated = updKeys.map(k => changeUpdateSet(m, m.rows(k)._2, r))
    val fresh = (0 until n).map(_ => freshRow(m, r))
    val gone = goneKeys.toSet
    val updMap = updated.map(v => m.keyOf(v) -> v).toMap
    val snapRows = m.rows.iterator.collect { case (k, (_, v)) if !gone(k) => updMap.getOrElse(k, v) } ++ fresh.iterator
    val dir = drop.resolve(s.table + "_snapshot")
    writeCsv(s, snapRows, dir)
    m.upsert(updated ++ fresh)
    m.delete(goneKeys)
    val applied = (updated.size + fresh.size + goneKeys.size).toLong
    run.op("snapshot", s.table, timed) {
      traced match {
        case None =>
          SnapshotUpdatePipeline.run(spark, s, dir.toString, db, deleteVanished = true)
        case Some(l) => tracedSnapshot(s, dir.toString, l)
      }
      applied
    }(check(s))
  }

  /** [[SnapshotUpdatePipeline.run]] step by step, each layer materialized. */
  private def tracedSnapshot(s: TableSpec, dir: String, l: Layers): Unit = {
    val sc = spark.sparkContext
    val key = Pipes.keyOf(s)
    val flat = Pipes.flatSchema(s)
    l.add("target.ddl_s", l.time(Pipes.ensureTable(db, s))._2)
    val snap = Staging.read(spark, flat, dir)
    val snapS = SparkCounters.withLayer(sc, "staging")(l.materialize(snap))
    l.add("staging.read_s", snapS)
    val live = Pipes.readLive(spark, db, s.table).select(flat.fieldNames.toSeq.map(col): _*)
    val liveS = SparkCounters.withLayer(sc, "target")(l.materialize(live))
    l.add("target.read_s", liveS)
    val cmp = updateCols(s).filter(flat.fieldNames.contains)
    val diff = Diff.snapshotDiff(live, snap, Seq(key), cmp).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (changedAll, diffS) = SparkCounters.withLayer(sc, "diff")(l.time(diff.count()))
      val compared = snap.count()
      l.add("target.read_rows", live.count())
      l.add("diff.s", diffS - snapS - liveS)
      l.add("diff.compared_rows", compared)
      l.add("diff.changed_rows", changedAll)
      val changedKeys = diff.where(col("op").isin("insert", "update")).select(key)
      val changed = snap.join(changedKeys, Seq(key), "left_semi")
      Pipes.tracedLoad(spark, s, changed, 0.0, db, atScale = false, l)
      val (deleted, delS) = SparkCounters.withLayer(sc, "sink")(l.time(
        UpsertSink.deleteByKey(diff.where(col("op") === "delete").select(key),
          db.url, s.table, key, connectionProps = db.props)))
      l.add("sink.delete_s", delS)
      l.add("sink.deleted_rows", deleted)
    } finally diff.unpersist()
  }

  /** Untimed: one full-size cycle on the live tables (the model follows). */
  def warmup(run: Runner): Unit = cycle(run, timed = false, None)

  /** One cycle: a delta on each table, then a snapshot update on each. */
  def cycle(run: Runner, timed: Boolean, traced: Option[Layers]): Unit = {
    specs.foreach(s => delta(run, s, timed, traced))
    specs.foreach(s => snapshot(run, s, timed, traced))
  }
}
