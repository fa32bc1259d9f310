package graft.keys

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.storage.StorageLevel

/** Scalable global ordering: a contiguous 1-based position
  * ([[withGlobalIndex]]) or a running sum ([[withRunningSum]]) for every
  * row of a DataFrame under a total order, without ever funnelling the data
  * through a single partition. The registry's global-sort, epoch-order,
  * interleave, running-total, packing and budget-mix queries use it; the
  * pipelines' key numbering does not ([[SurrogateKeys]] numbers the bounded
  * new-key subset with one window).
  *
  * This is the scale-safe replacement for an unpartitioned
  * `Window.orderBy(...)`, which pulls the whole dataset into ONE task. One
  * two-pass shape serves both:
  *
  *   1. `repartitionByRange(sortCols)` + `sortWithinPartitions`, persisted —
  *      one shuffle; the range partitioner gives globally ordered partitions,
  *   2. a tiny first pass collecting ONE partial sum per partition but
  *      the last (driver state = numPartitions longs, never row data),
  *   3. a second pass stamping `partitionPrefix + runningWithinPartition`.
  *
  * A position is the running sum of a constant 1. Total cost: one range
  * shuffle + one partial-sum pass — the same shape a global `orderBy`
  * already pays.
  *
  * The sort columns must form a total order (include a unique tiebreaker):
  * with duplicate sort keys the range partitioner may split ties across
  * partition boundaries in sample-dependent ways and the assigned positions
  * of tied rows would not be reproducible.
  */
object GlobalIndex {

  private val oneCol = "__graft_one"

  /** Append column `idxName` = offset + (1-based position of the row in the
    * total order given by `sortCols`): the running count.
    */
  def withGlobalIndex(
      df: DataFrame,
      sortCols: Seq[Column],
      idxName: String,
      offset: Long = 0L): DataFrame =
    withRunningSum(df.withColumn(oneCol, lit(1L)), sortCols, oneCol, idxName)
      .drop(oneCol)
      .withColumn(idxName, col(idxName) + offset)

  /** Range-shuffle + per-partition sort, PERSISTED: the running sum makes
    * two passes over the sorted rows (the partial-sum pass, then the
    * stamping pass). Without the persist the shuffle files are reused but
    * the per-partition sort and the row decode re-execute for each pass —
    * ~2× the sort CPU on the full corpus. Memory-and-disk with lineage
    * retained: a lost block is recomputed, oversized partitions spill. No
    * explicit unpersist — the stamped result is lazy, so the cache must
    * outlive this call; the ContextCleaner frees the blocks once the
    * returned frame (whose plan holds the only reference) is unreachable.
    */
  private def persistSorted(df: DataFrame, sortCols: Seq[Column]) =
    df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)

  /** Append column `sumName` = running (inclusive) sum of LongType column
    * `valueCol` in the total order given by `sortCols` — the distributed
    * prefix sum (see the object doc for its two passes).
    *
    * Values must be integral (token counts, cents) — long addition is exact
    * and order-independent within the fixed sorted order, so the result is
    * deterministic and cross-engine reproducible. Same total-order caveat
    * as [[withGlobalIndex]]: include a unique tiebreaker in `sortCols`.
    */
  def withRunningSum(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: String,
      sumName: String): DataFrame = {
    val spark = df.sparkSession
    require(df.schema(valueCol).dataType == LongType,
      s"$valueCol must be LongType (cast upstream); exact long addition is the contract")
    val vIdx = df.schema.fieldIndex(valueCol)
    // nulls fail FAST with the contract spelled out: getLong on a null slot
    // would return an opaque 0/NPE depending on the row backing, silently
    // corrupting every downstream prefix. SUM-style null skipping is NOT
    // offered — a running sum that silently drops rows would desynchronize
    // from the row positions callers pair it with; filter or coalesce
    // upstream to state the intent.
    def valueAt(r: Row): Long = {
      if (r.isNullAt(vIdx)) throw new IllegalArgumentException(
        s"withRunningSum: null in '$valueCol' — the running sum is " +
          "position-paired with its rows, so nulls cannot be skipped; " +
          "coalesce or filter them upstream")
      r.getLong(vIdx)
    }
    val rdd = persistSorted(df, sortCols)
    // the last partition's sum is no partition's prefix, so only the first
    // n-1 are summed: a one-partition input runs no partial-sum job
    val partSums = spark.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
      var s = 0L
      it.foreach(r => s += valueAt(r))
      s
    }, 0 until rdd.getNumPartitions - 1)
    val prefixes = partSums.scanLeft(0L)(_ + _) // exclusive prefix per partition
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = prefixes(pid)
      it.map { r =>
        acc += valueAt(r)
        Row.fromSeq(r.toSeq :+ acc)
      }
    }
    val schema = df.schema.add(StructField(sumName, LongType, nullable = false))
    spark.createDataFrame(stamped, schema)
  }
}
