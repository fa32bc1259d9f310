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
  * (N+1); here it is ONE left-outer hash join plus numbering of the new
  * subset — the single biggest algorithmic win of the rebuild.
  *
  * The joined batch is filter-split into known/new FIRST, so matched rows
  * never shuffle into the numbering — they flow straight through at full
  * parallelism. The new subset is numbered by an unpartitioned
  * `row_number` window: ONE task, over the novel keys only. That one-task
  * bound fits the pipelines' traffic (13 collections of at most ~290k
  * documents each): a crossover probe (`local[4]`, all-new keys) found
  * the window faster than a distributed range-shuffle numbering up to 1M
  * new keys (1.6 vs 2.9 s at 200k) and level at 3M.
  *
  * Ordering: new keys are numbered by `keyCol` first, then every remaining
  * orderable column as a deterministic tiebreaker — duplicate business keys
  * (legal for non-unique reconcile keys) still get reproducible ids.
  */
object SurrogateKeys {

  private val maxIdCol = "__graft_max_id"

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
    * `incoming`'s columns plus `idCol`. See object doc for the id contract.
    */
  def reconcile(existing: DataFrame, incoming: DataFrame, keyCol: String,
      idCol: String = "id"): DataFrame = {
    // the current max id rides a 1-row broadcast cross join: one lazy plan,
    // no driver-side collect between the max lookup and the join
    val maxId = existing.agg(coalesce(max(col(idCol)), lit(0L)).cast("long").as(maxIdCol))
    val joined = incoming.join(existing.select(col(keyCol), col(idCol)), Seq(keyCol), "left_outer")
    val known = joined.filter(col(idCol).isNotNull)
    val fresh = joined.filter(col(idCol).isNull).drop(idCol)
      .crossJoin(broadcast(maxId))
    // new keys — one task, ordered by key — get max+1, max+2, … exactly
    // like the reference's `last_pk+i`; known rows are unioned back untouched
    val w = Window.orderBy(totalOrder(fresh, keyCol): _*)
    val numbered = fresh
      .withColumn(idCol, col(maxIdCol) + row_number().over(w))
      .drop(maxIdCol)
    known.unionByName(numbered)
  }

  /** Same as [[reconcile]]. Kept by name only because the pipeline
    * benchmark harness (`perfbench/…/Migrate.scala`) still calls it.
    */
  def reconcileAtScale(existing: DataFrame, incoming: DataFrame, keyCol: String,
      idCol: String = "id"): DataFrame = reconcile(existing, incoming, keyCol, idCol)
}
