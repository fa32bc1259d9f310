package graft.keys

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Surrogate-key generation and reconciliation (SURVEY.md §2 T6/Q7/Q8).
  *
  * Semantics match the reference's `assign_new_pk_to_df`
  * (`/root/reference/dags/includes/utils.py:5-39`): every incoming row whose
  * business key already has an id keeps that id; rows with new keys receive
  * contiguous ids `max(existing.id) + 1, + 2, …` assigned in business-key
  * order. The reference does this with one Postgres round trip per row
  * (N+1); here it is ONE exchange and three windows — the single biggest
  * algorithmic win of the rebuild.
  *
  * Plan: the incoming rows and the live `(key, id)` rows are tagged,
  * unioned and meet in ONE single-partition exchange, so each input is
  * read once and nothing is broadcast. Over that partition one window
  * takes the max live id (a data column, never a literal: see
  * `GraftSession.codegenCacheEntries`) and one looks up each key's live
  * id (null keys never match). Known rows keep their id; only the rows the
  * `isnull(id)` filter lets through enter the `row_number` window, which
  * numbers them `max + 1, …`. Both branches read the one exchange (the
  * second as a reused exchange), and their union stays one partition, so
  * the sink's keep-first window needs no exchange of its own either.
  *
  * One-task bound: incoming rows AND live keys share one task, where the
  * earlier plan (a left-outer join, the max id through a broadcast cross
  * join) kept known rows at full parallelism and numbered only the new
  * subset in one task. A volume probe (`local[4]`, 290k incoming rows
  * against 290k live keys, half of them known, 5 reps) put a price on
  * that: 2.0–2.8 s against 1.3–1.6 s with the live keys read over JDBC
  * from Derby, 1.7–2.0 s against 1.0–1.3 s with them read from parquet.
  * The pipelines' traffic is 13 collections of at most ~290k documents
  * each; per call the plan saves jobs, a second parse of the staged rows,
  * two live-table reads and the broadcast, which is what the pipeline
  * benchmark's collections (a few thousand rows each) gain from.
  *
  * Precondition: live keys are unique (the conflict key carries `UNIQUE`,
  * `TableSpec.ddl`). If they are not, each incoming row still comes out
  * ONCE, with the largest of its key's live ids (a join would repeat it
  * once per live row).
  *
  * Ordering: new keys are numbered by `keyCol` first, then every remaining
  * orderable column as a deterministic tiebreaker — duplicate business keys
  * (legal for non-unique reconcile keys) still get reproducible ids.
  */
object SurrogateKeys {

  private val maxIdCol = "__graft_max_id"
  private val liveCol = "__graft_live"

  private def orderable(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case StringType | BooleanType | DateType | TimestampType | BinaryType => true
    case _ => false
  }

  /** Total-order sort key for numbering: the business key first, then every
    * remaining orderable column as a deterministic tiebreaker, so ids are
    * the same run-to-run whatever the input partitioning.
    */
  private def totalOrder(df: DataFrame, keyCol: String): Seq[Column] =
    col(keyCol) +: df.schema.fields.toSeq
      .filter(f => f.name != keyCol && !f.name.startsWith("__graft") &&
        orderable(f.dataType))
      .map(f => col(f.name))

  /** Reconcile `incoming` against `existing(keyCol, idCol)`; returns
    * `incoming`'s columns (key first) plus `idCol` as a long. See the
    * object doc for the id contract and the unique-live-key precondition.
    */
  def reconcile(existing: DataFrame, incoming: DataFrame, keyCol: String,
      idCol: String = "id"): DataFrame = {
    // the union would otherwise read incoming ids as live ones
    require(!incoming.columns.contains(idCol),
      s"incoming rows already carry an id column `$idCol`")
    val live = existing.select(col(keyCol), col(idCol).cast(LongType).as(idCol),
      lit(true).as(liveCol))
    val both = incoming.withColumn(liveCol, lit(false))
      .unionByName(live, allowMissingColumns = true)
    // incoming rows carry a null id, so a max over id sees live ids only
    val liveId = max(col(idCol))
    val looked = both
      .withColumn(maxIdCol, coalesce(liveId.over(Window.partitionBy()), lit(0L)))
      .withColumn(idCol,
        when(col(keyCol).isNotNull, liveId.over(Window.partitionBy(col(keyCol)))))
      .filter(!col(liveCol))
    // a live id is never above the max: testing it against the max keeps
    // both branches over the same windows, so they share one exchange
    val known = looked.filter(col(idCol) <= col(maxIdCol))
    // new keys — one task, ordered by key — get max+1, max+2, … exactly
    // like the reference's `last_pk+i`
    val fresh = looked.filter(col(idCol).isNull)
    val numbered = fresh.withColumn(idCol,
      col(maxIdCol) + row_number().over(Window.orderBy(totalOrder(incoming, keyCol): _*)))
    // the union may have widened the key to the live side's type
    val keyType = incoming.schema(keyCol).dataType
    known.unionByName(numbered).select(
      (col(keyCol).cast(keyType).as(keyCol) +:
        incoming.columns.toSeq.filter(_ != keyCol).map(col)) :+ col(idCol): _*)
  }

  /** Same as [[reconcile]]. Kept by name only because the pipeline
    * benchmark harness (`perfbench/…/Migrate.scala`) still calls it.
    */
  def reconcileAtScale(existing: DataFrame, incoming: DataFrame, keyCol: String,
      idCol: String = "id"): DataFrame = reconcile(existing, incoming, keyCol, idCol)
}
