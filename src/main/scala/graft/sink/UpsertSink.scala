package graft.sink

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.ops.Dedup

/** Per-table upsert conflict policy — the §2.4 policy matrix of SURVEY.md.
  * Ref: `INSERT … ON CONFLICT` forms in the reference's 26 write loops
  * (`/root/reference/dags/includes/user_table.py:105-121` update-set form,
  * `loanoffers_table.py:69-70` DO NOTHING form, `loandeals_table.py:68-69`
  * bare form, non-`_id` key at
  * `loan_applications_to_postgres_migration.py:52`).
  */
sealed trait ConflictPolicy extends Serializable {
  /** The unique business key the conflict is detected on, if declared. */
  def keyOption: Option[String]
}

object ConflictPolicy {

  /** `ON CONFLICT (key) DO UPDATE SET <updateCols>` — refresh mutable
    * attributes of known rows.
    */
  final case class UpdateOnConflict(key: String, updateCols: Seq[String])
      extends ConflictPolicy {
    require(updateCols.nonEmpty, "update set must be non-empty")
    def keyOption: Option[String] = Some(key)
  }

  /** `ON CONFLICT (key) DO NOTHING` — keep-first / idempotent insert. */
  final case class IgnoreOnConflict(key: String) extends ConflictPolicy {
    def keyOption: Option[String] = Some(key)
  }

  /** Bare `ON CONFLICT DO NOTHING` — swallow any constraint conflict
    * (the reference's loandeals form). Postgres-only; dialects without the
    * bare form must be given a key.
    */
  case object IgnoreAny extends ConflictPolicy {
    def keyOption: Option[String] = None
  }
}

/** Error tolerance of the write (SURVEY §2.4 "skip bad rows, keep going").
  *
  * [[WriteTolerance.Strict]] fails the load on the first bad row — the
  * reference's default (e.g. `organizations_table.py:118`, unguarded).
  * [[WriteTolerance.Permissive]] re-runs a failed statement batch
  * row-by-row, skips the offenders, and keeps loading — the reference's
  * users/loanapplications form, which wraps each row in
  * `try/except BaseException: conn.commit()`
  * (`user_table.py:116-121`, `loanapplication_table.py:95-100`).
  */
sealed trait WriteTolerance extends Serializable
object WriteTolerance {
  case object Strict extends WriteTolerance
  case object Permissive extends WriteTolerance
}

/** Vendor SQL for a single-row parameterized upsert statement.
  *
  * `sql` returns the statement; `paramCols` the column order of its `?`
  * placeholders (a column may appear more than once — e.g. Derby MERGE binds
  * the key and then the full column list again).
  */
trait UpsertDialect extends Serializable {
  def sql(table: String, cols: Seq[String], policy: ConflictPolicy): String
  def paramCols(cols: Seq[String], policy: ConflictPolicy): Seq[String]
  /** Quote an identifier (all generated SQL quotes everything — the
    * reference's `_id` column is not a legal bare identifier everywhere).
    */
  protected def q(ident: String): String = "\"" + ident + "\""
}

/** PostgreSQL `INSERT … ON CONFLICT` — the reference's native form. */
object PostgresUpsertDialect extends UpsertDialect {
  import ConflictPolicy._

  def sql(table: String, cols: Seq[String], policy: ConflictPolicy): String = {
    val base = s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    policy match {
      case UpdateOnConflict(key, upd) =>
        base + s" ON CONFLICT (${q(key)}) DO UPDATE SET " +
          upd.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
      case IgnoreOnConflict(key) => base + s" ON CONFLICT (${q(key)}) DO NOTHING"
      case IgnoreAny             => base + " ON CONFLICT DO NOTHING"
    }
  }

  def paramCols(cols: Seq[String], policy: ConflictPolicy): Seq[String] = cols
}

/** Apache Derby `MERGE INTO … USING SYSIBM.SYSDUMMY1` — the embedded
  * database the test suite runs against (ships with Spark). Semantically
  * equivalent to the Postgres forms for keyed policies; Derby has no bare
  * `ON CONFLICT`, so [[ConflictPolicy.IgnoreAny]] is rejected.
  */
object DerbyUpsertDialect extends UpsertDialect {
  import ConflictPolicy._

  def sql(table: String, cols: Seq[String], policy: ConflictPolicy): String = {
    def merge(key: String, matched: Option[Seq[String]]): String = {
      val insert = s"WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})"
      val update = matched.fold("") { upd =>
        s"WHEN MATCHED THEN UPDATE SET ${upd.map(c => s"${q(c)} = ?").mkString(", ")} "
      }
      s"MERGE INTO ${q(table)} USING SYSIBM.SYSDUMMY1 " +
        s"ON ${q(table)}.${q(key)} = ? $update$insert"
    }
    policy match {
      case UpdateOnConflict(key, upd) => merge(key, Some(upd))
      case IgnoreOnConflict(key)      => merge(key, None)
      case IgnoreAny =>
        throw new IllegalArgumentException("Derby dialect requires a conflict key")
    }
  }

  def paramCols(cols: Seq[String], policy: ConflictPolicy): Seq[String] =
    policy match {
      case UpdateOnConflict(key, upd) => (key +: upd) ++ cols
      case IgnoreOnConflict(key)      => key +: cols
      case IgnoreAny =>
        throw new IllegalArgumentException("Derby dialect requires a conflict key")
    }
}

/** Batched JDBC upsert sink (SURVEY.md §2 S4) — the one genuinely custom
  * physical component of the engine (stock `df.write.jdbc` has no upsert
  * mode).
  *
  * Replaces the reference's one-INSERT-one-COMMIT-per-row loop
  * (`user_table.py:117-118`) with `foreachPartition` →
  * `PreparedStatement.addBatch` → one commit per `batchSize` rows: the
  * write path is distributed across executors, each holding ONE connection,
  * and `maxConnections` caps the fan-in the target database sees (a 1000
  * -executor cluster must not open 1000×32 connections).
  *
  * The pipelines reach it with ONE partition (`SurrogateKeys.reconcile`
  * ends in one, and the keep-first dedup keeps it), so they write through
  * one writer. Embedded Derby's `MERGE` can abort with an internal
  * NullPointerException when several writers update at once; only direct
  * callers that hand in several partitions reach that now. How one writer
  * fares against Postgres at volume is not measured.
  *
  * Within-batch key dedup (keep-first in key order) runs before the write:
  * a multi-row statement batch that hits the same key twice is rejected by
  * Postgres (`ON CONFLICT DO UPDATE command cannot affect row a second
  * time`) — the reference only survives this via its row-wise
  * `try/except` (SURVEY §7.4.6).
  *
  * Rerun-idempotency comes from the conflict policy itself (same contract
  * as the reference): re-upserting the same batch is a no-op diff.
  */
object UpsertSink {

  /** A failure the Permissive replay may attribute to the ROW (and skip):
    * SQLSTATE class 22xxx (data exception — bad cast, overflow, truncation)
    * or 23xxx (integrity-constraint violation — the reference's actual
    * skip-bad-rows motivation, `user_table.py:116-121`). Everything else —
    * 08xxx connection failures, 40xxx deadlock/serialization rollbacks,
    * vendor classes — is transient or environmental: swallowing it would
    * silently LOSE good rows, so it propagates and fails the task for
    * Spark's retry machinery instead.
    */
  private[graft] def isRowFault(e: java.sql.SQLException): Boolean = {
    val state = e.getSQLState
    state != null && (state.startsWith("22") || state.startsWith("23"))
  }

  /** @return number of rows skipped (always 0 under [[WriteTolerance.Strict]],
    *         which throws instead)
    */
  def upsert(df: DataFrame, url: String, table: String, policy: ConflictPolicy,
      dialect: UpsertDialect = PostgresUpsertDialect,
      batchSize: Int = 1000, maxConnections: Int = 8,
      connectionProps: Properties = new Properties,
      tolerance: WriteTolerance = WriteTolerance.Strict): Long = {
    val cols = df.schema.fieldNames.toSeq
    policy match {
      case ConflictPolicy.UpdateOnConflict(key, upd) =>
        val missing = (upd :+ key).filterNot(cols.contains)
        require(missing.isEmpty, s"policy references absent columns: $missing")
      case _ => ()
    }
    val deduped = policy.keyOption match {
      case Some(key) => Dedup.keepFirst(df, Seq(key), cols.map(c => col(c).asc))
      case None      => df
    }
    val sqlText = dialect.sql(table, cols, policy)
    val paramIdx = dialect.paramCols(cols, policy).map(cols.indexOf)
    val permissive = tolerance == WriteTolerance.Permissive
    val skipped = df.sparkSession.sparkContext.longAccumulator("graft_upsert_skipped")
    writePartitions(deduped, url, connectionProps, maxConnections) { (conn, rows) =>
      // `var` + re-prepare: Derby (at least) leaves a PreparedStatement
      // unusable after a failed execution — the next execute re-throws
      // the old error — so the permissive path replaces the statement
      // after every failure.
      var ps = conn.prepareStatement(sqlText)
      def reprepare(): Unit = { ps.close(); ps = conn.prepareStatement(sqlText) }
      val pending = scala.collection.mutable.ArrayBuffer.empty[Row]
      def flush(): Unit = if (pending.nonEmpty) {
        try { ps.executeBatch(); conn.commit() }
        catch {
          case e: java.sql.SQLException if permissive =>
            // the reference's skip-bad-rows mode: undo the batch, then
            // replay it row-wise, committing survivors and counting
            // offenders (user_table.py:116-121). Only genuine row
            // faults (isRowFault: 22xxx/23xxx) are skipped — a
            // transient failure mid-replay (deadlock, dropped
            // connection) propagates out of the loop so the task fails
            // and Spark retries, rather than being miscounted as N
            // bad rows. A rollback that fails too (08003 once the
            // driver has closed the session) must not mask the batch's
            // own error: that one propagates, the rollback's rides along.
            try conn.rollback()
            catch {
              case r: java.sql.SQLException => e.addSuppressed(r); throw e
            }
            reprepare()
            pending.foreach { row =>
              try { bind(ps, row, paramIdx); ps.executeUpdate(); conn.commit() }
              catch {
                case e: java.sql.SQLException if isRowFault(e) =>
                  conn.rollback(); reprepare(); skipped.add(1L)
              }
            }
        }
        pending.clear()
      }
      rows.foreach { row =>
        bind(ps, row, paramIdx)
        ps.addBatch()
        pending += row
        if (pending.length >= batchSize) flush()
      }
      flush()
      ps.close()
    }
    skipped.value
  }

  /** Batched keyed DELETE — the `delete` leg of a snapshot-diff apply
    * ([[graft.pipelines.SnapshotUpdatePipeline]]). Same distribution shape
    * as [[upsert]]: executors hold one connection each, `maxConnections`
    * bounds the database's fan-in, one commit per statement batch. Input
    * is a single-column frame of keys; duplicates are removed first (a
    * second DELETE of the same key would be a harmless no-op, but its
    * round trip is not free).
    *
    * @return number of rows the database reports deleted
    */
  def deleteByKey(keys: DataFrame, url: String, table: String, keyCol: String,
      batchSize: Int = 1000, maxConnections: Int = 8,
      connectionProps: Properties = new Properties): Long = {
    val sqlText = "DELETE FROM \"" + table + "\" WHERE \"" + keyCol + "\" = ?"
    val deleted = keys.sparkSession.sparkContext.longAccumulator("graft_upsert_deleted")
    writePartitions(keys.select(keyCol).distinct(), url, connectionProps,
        maxConnections) { (conn, rows) =>
      val ps = conn.prepareStatement(sqlText)
      var pending = 0
      def flush(): Unit = if (pending > 0) {
        deleted.add(ps.executeBatch().map(math.max(0, _).toLong).sum)
        conn.commit()
        pending = 0
      }
      rows.foreach { row =>
        ps.setObject(1, row.get(0))
        ps.addBatch()
        pending += 1
        if (pending >= batchSize) flush()
      }
      flush()
      ps.close()
    }
    deleted.value
  }

  /** The one JDBC partition writer behind [[upsert]] and [[deleteByKey]]:
    * `write` runs once per non-empty writer partition over its own
    * connection, autocommit off; any throwable rolls back before the
    * close, so a failed batch never leaks an open transaction (held row
    * locks outlive the task if close() can't end it).
    *
    * Writers = min(maxConnections, post-AQE partitions). Sizing and the
    * write share ONE RDD (`Dataset.rdd` is a lazy val): a
    * `Dataset.repartition` would be a new plan and run the whole input
    * again — live-table reads, staging parse, numbering. `repartition`,
    * NOT coalesce: coalesce's narrow dependency would cap the whole
    * post-shuffle stage (the keep-first dedup window included) at
    * `writers` tasks. The extra shuffle moves only the final rows;
    * upstream compute stays at cluster parallelism and only the JDBC
    * fan-in is bounded.
    */
  private def writePartitions(df: DataFrame, url: String, props: Properties,
      maxConnections: Int)(write: (Connection, Iterator[Row]) => Unit): Unit = {
    val rdd = df.rdd
    val writers = math.max(1, math.min(maxConnections, rdd.getNumPartitions))
    val sized = if (rdd.getNumPartitions > writers) rdd.repartition(writers) else rdd
    sized.foreachPartition { rows =>
      if (rows.nonEmpty) {
        val conn = DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          write(conn, rows)
        } catch {
          case t: Throwable =>
            try conn.rollback() catch { case _: java.sql.SQLException => () }
            throw t
        } finally conn.close()
      }
    }
  }

  private def bind(ps: PreparedStatement, row: Row, paramIdx: Seq[Int]): Unit = {
    var i = 0
    while (i < paramIdx.length) {
      val v = row.get(paramIdx(i))
      if (v == null) ps.setObject(i + 1, null) else ps.setObject(i + 1, v)
      i += 1
    }
  }
}

/** DDL executor (SURVEY.md §2 S9): plain driver-side JDBC, Spark not
  * involved — mirrors the reference's `PostgresOperator` create-table stage
  * (`mongo_to_postgres_migration.py:38-106`) and schema reset
  * (`erase_schema.py:24-30`).
  */
object Ddl {

  def execute(url: String, statements: Seq[String],
      props: Properties = new Properties): Unit = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      statements.foreach(st.execute)
      st.close()
    } finally conn.close()
  }

  /** `CREATE TABLE IF NOT EXISTS` portability shim: Derby lacks IF NOT
    * EXISTS, so existence errors on the bare CREATE are swallowed.
    */
  def ensureTable(url: String, createSql: String,
      props: Properties = new Properties): Unit =
    try execute(url, Seq(createSql), props)
    catch {
      case e: java.sql.SQLException
          if e.getSQLState == "X0Y32" /* Derby: object already exists */ => ()
    }

  /** `DROP TABLE IF EXISTS` portability shim (Derby's DROP has no IF
    * EXISTS): absent-table errors are swallowed.
    */
  def dropTableIfExists(url: String, table: String,
      props: Properties = new Properties): Unit =
    try execute(url, Seq("DROP TABLE \"" + table + "\""), props)
    catch {
      case e: java.sql.SQLException
          if e.getSQLState == "42Y55" /* Derby: table does not exist */ => ()
    }
}
