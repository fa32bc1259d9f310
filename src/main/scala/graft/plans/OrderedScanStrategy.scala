package graft.plans

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, Literal, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.AggUtils
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.StructType

import graft.ingest.v2.{ExtJsonInputPartition, ExtJsonScan, OrderedBandGroup}

/** EXCHANGE-FREE global `ORDER BY` over a range-landed document drop —
  * the planner rung the zone-map `sorted` proof exists for: when the
  * sidecar proves the scan's surviving files form strictly-disjoint,
  * internally-sorted key bands
  * ([[graft.sink.CorpusSink.landJsonlRangeIndexed]] writes exactly this
  * layout), a global sort whose FIRST key is that band key never pays
  * the range Exchange — at 100 TB the single largest cost of a sorted
  * materialization. The strategy replaces `Sort(global)` over the scan
  * with [[OrderedBandScanExec]] (one sequential reader per band, bands
  * in key order — reversed for DESC — claiming `RangePartitioning` over
  * the requested order; strict band disjointness makes the claim honest
  * for the FULL order: the first key alone decides every cross-band
  * comparison):
  *
  *  - single ASC NULLS FIRST key: the layout IS the sort — no SortExec
  *    at all, rows stream out in global order;
  *  - DESC, or extra tiebreak keys: a per-band LOCAL SortExec reorders
  *    within bands (memory-bounded by the band, spillable, shuffle-free)
  *    — the exchange, not the comparator, is what a 100 TB sort pays
  *    for, and it is gone in every accepted shape.
  *
  * The transformation is EXACT (band order ∘ in-band order = global
  * order; pushed filters only remove rows; the proof's null-freedom
  * makes null-ordering vacuous), so unlike the approximate
  * similarity-join strategy it needs no opt-in conf — any unprovable
  * condition (unindexed/stale/unsorted/nullable files, non-column first
  * key, a merge group wider than the FD budget) falls through to the
  * ordinary sort. OVERLAPPING bands (each `appendTag` batch computes
  * its own percentile boundaries, so appended ranges overlap earlier
  * ones) no longer refuse: overlap components k-way merge their proven
  * sorted file streams inside one partition — the exchange-free ORDER
  * BY survives the append-mostly lifecycle of a real corpus.
  * `Sort + Limit` shapes never reach here — Spark's own
  * TakeOrderedAndProject plans them first, composing with the scan's
  * pushed top-N and the sorted-scan early exit instead. The Sort
  * matches its scan through the peel rule of [[BandLayout]], as the
  * range aggregate and the band windows do.
  */
class OrderedScanStrategy(session: SparkSession) extends SparkStrategy {
  import BandLayout.{BandRel, bandKey, bandScan, peel}

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: Sort if s.global && s.order.nonEmpty &&
        s.order.forall(_.references.subsetOf(s.child.outputSet)) =>
      (s.order.head, peel(s.child)) match {
        case (SortOrder(attr: AttributeReference, Ascending | Descending, _, _),
            (BandRel(rel, scan), above)) =>
          bandKey(rel, scan, Seq(attr)).map { case (_, groups) =>
            bandScan(rel, scan, groups, s.order, above)
          }.toList
        case _ => Nil
      }
    case _ => Nil
  }
}

/** EXCHANGE-FREE grouped aggregation over a range-landed drop — the
  * time-series-rollup rung: a drop landed by
  * [[graft.sink.CorpusSink.landJsonlRangeIndexed]] on a key (a day
  * number, an id) and read with `rangeAggregation=true` aggregates
  * `GROUP BY key, …` in ONE stage: the band layout already clusters
  * equal keys into one partition (strict group disjointness — equal
  * keys never straddle bands), so partial and final aggregation run
  * back-to-back over [[OrderedBandScanExec]] with NO shuffle between
  * them. At 100 TB the ordinary plan's aggregation exchange — the whole
  * cost of a rollup after the scan — is gone. The physical pair comes
  * from Spark's own `AggUtils.planAggregateWithoutDistinct`, exactly
  * what the builtin strategy would plan, just over a child whose
  * partitioning claim satisfies the final aggregate's clustered
  * distribution.
  *
  * Opt-in PER READ (the `rangeAggregation` option) because it is a
  * mode CHOICE, not an approximation: with few wide bands the
  * band-parallel local aggregation trades parallelism for the
  * exchange. A metadata answer from the sidecar still wins (it reads
  * no rows; the scan then carries the aggregate and no Aggregate node
  * reaches this strategy). Sound only when the grouping set CONTAINS the band key as
  * a bare attribute (equal grouping tuples then share the key, hence
  * the band); unproven layouts and non-key groupings fall through to
  * Spark's ordinary aggregation. DISTINCT aggregates over ONE distinct
  * column set plan too (`AggUtils.planAggregateWithOneDistinct`): every
  * stage of the four-exec distinct pipeline clusters on a SUPERSET of
  * the grouping, which the band claim satisfies — `COUNT(DISTINCT x)
  * GROUP BY key` pays neither of its two ordinary exchanges, because
  * equal keys (hence equal (key, x) pairs) never straddle bands.
  */
class RangeAggStrategy(session: SparkSession) extends SparkStrategy {
  import BandLayout.{BandRel, bandKey, bandScan, peel}
  import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, Expression, If, IsNaN, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
  import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
  import org.apache.spark.sql.types._

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(groupingExprs, aggExprs, resultExprs, child)
        if groupingExprs.nonEmpty &&
          aggExprs.forall(_.isInstanceOf[AggregateExpression]) =>
      peel(child) match {
        // the band key: a grouping attribute whose layout the sidecar
        // proves into strictly-disjoint sorted groups
        case (BandRel(rel, scan), above) if scan.rangeAggregation =>
          bandKey(rel, scan, groupingExprs) match {
            case Some((k, groups)) =>
              val bands = bandScan(rel, scan, groups,
                Seq(SortOrder(k, Ascending)), above, sorted = false)
              val aggs = aggExprs.map(_.asInstanceOf[AggregateExpression])
              val (distinct, plain) = aggs.partition(_.isDistinct)
              if (distinct.isEmpty)
                AggUtils.planAggregateWithoutDistinct(
                  groupingExprs, aggs, resultExprs, bands)
              else {
                // ONE distinct column set (several functions may share
                // it — the shape the optimizer's Expand rewrite leaves
                // single): the whole four-exec distinct pipeline
                // clusters on supersets of the grouping, which the band
                // claim satisfies — the distinct rollup's BOTH exchanges
                // are gone. More than one distinct set never reaches a
                // strategy.
                val sets = distinct.map(
                  _.aggregateFunction.children.filterNot(_.foldable)
                    .map(_.canonicalized)).distinct
                // normalize floats exactly where Spark's own Aggregation
                // strategy does: the partial group-by keys on the
                // distinct expressions, and without the normalization
                // 0.0/-0.0 (and NaN bit patterns) would dedup as
                // DISTINCT values — a silent divergence from the
                // engine's own answer. Nested float-bearing distinct
                // types refuse (Spark normalizes them structurally;
                // rare enough that falling back beats replicating that
                // machinery).
                def floaty(dt: DataType): Boolean = dt match {
                  case DoubleType | FloatType => true
                  case st: StructType => st.fields.exists(f => floaty(f.dataType))
                  case at: ArrayType => floaty(at.elementType)
                  case mt: MapType => floaty(mt.keyType) || floaty(mt.valueType)
                  case _ => false
                }
                val distinctExprs = distinct.head.aggregateFunction
                  .children.filterNot(_.foldable)
                if (sets.length != 1 || sets.head.isEmpty ||
                  distinctExprs.exists(e => floaty(e.dataType) &&
                    e.dataType != DoubleType && e.dataType != FloatType))
                  Nil
                else {
                  def norm(e: Expression) = e.dataType match {
                    case DoubleType =>
                      If(IsNaN(e), Literal(Double.NaN),
                        If(EqualTo(e, Literal(0.0d)), Literal(0.0d), e))
                    case FloatType =>
                      If(IsNaN(e), Literal(Float.NaN),
                        If(EqualTo(e, Literal(0.0f)), Literal(0.0f), e))
                    case _ => e
                  }
                  val named = distinctExprs.map(e => norm(e) match {
                    case ne: NamedExpression => ne
                    case other => Alias(other, e.toString)()
                  })
                  AggUtils.planAggregateWithOneDistinct(
                    groupingExprs, distinct, plain, distinctExprs,
                    named, resultExprs, bands)
                }
              }
            case None => Nil
          }
        case _ => Nil
      }
    case _ => Nil
  }
}

/** One GROUP = one partition; groups ordered by the requested direction.
  * `outputPartitioning` claims what the sidecar proved: group ranges are
  * strictly disjoint (equal first keys never straddle groups, so the
  * first key decides every cross-group comparison under the FULL
  * requested order), making `RangePartitioning(sortOrder)` honest for
  * ordered and clustered distributions alike. A one-file group reads
  * sequentially in offset order; a group of OVERLAPPING per-file sorted
  * bands (the append lifecycle) k-way heap-merges its file streams —
  * but only under `claimOrdering` (single ASC NULLS FIRST key), where
  * the merged stream IS the requested order; every other shape gets a
  * local SortExec above (the strategy adds it), which subsumes any
  * in-group merge — those groups just concatenate.
  */
case class OrderedBandScanExec(output: Seq[Attribute],
    sortOrder: Seq[SortOrder], @transient scan: ExtJsonScan,
    @transient groups: Seq[OrderedBandGroup],
    claimOrdering: Boolean) extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  override def outputPartitioning: Partitioning =
    if (groups.length == 1) SinglePartition
    else RangePartitioning(sortOrder, groups.length)

  override def outputOrdering: Seq[SortOrder] =
    if (claimOrdering) sortOrder else Nil

  override def simpleStringWithNodeId(): String =
    s"OrderedBandScan(${sortOrder.mkString(", ")}, bands=${groups.length}" +
      s", merged=${groups.count(_.files.lengthCompare(1) > 0)})"

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = BandStreams.schemaOf(output)
    // the merge comparator, bound to the scan output — claimOrdering
    // implies a single ASC key, so the generated ordering IS the full
    // requested order
    val ordering =
      if (claimOrdering)
        Some(new org.apache.spark.sql.catalyst.expressions.codegen
          .LazilyGeneratedOrdering(sortOrder, output))
      else None
    new OrderedBandRDD(session.sparkContext, scan.createReaderFactory(),
      groups.map(_.files), schema, ordering, longMetric("numOutputRows"))
  }
}

private final class BandPartition(override val index: Int,
    val files: Seq[Seq[ExtJsonInputPartition]]) extends Partition

/** Reads each group's files; a file's splits stream SEQUENTIALLY in
  * offset order — byte order is row order for JSONL, so the
  * concatenation preserves the file's proven sortedness whatever byte
  * granularity the scan planned (block pruning may have cut mid-file
  * ranges; removal never reorders). Multi-file groups k-way merge when
  * an ordering is supplied (heads are COPIED UnsafeRows — readers reuse
  * their row objects, and a buffered head outlives its reader's next
  * advance), else concatenate.
  */
private final class OrderedBandRDD(
    sc: org.apache.spark.SparkContext,
    factory: PartitionReaderFactory,
    @transient groups: Seq[Seq[Seq[ExtJsonInputPartition]]],
    schema: StructType,
    ordering: Option[Ordering[InternalRow]],
    rowCount: SQLMetric)
    extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    groups.indices.map(i => new BandPartition(i, groups(i))).toArray

  override def compute(split: Partition,
      context: TaskContext): Iterator[InternalRow] = {
    val files = split.asInstanceOf[BandPartition].files
    val out: Iterator[InternalRow] = ordering match {
      case Some(ord) if files.lengthCompare(1) > 0 =>
        BandStreams.merged(factory, files, schema, ord, context)
      case _ =>
        val proj = UnsafeProjection.create(schema)
        files.iterator.flatMap(BandStreams.fileRows(factory, _, context))
          .map(proj)
    }
    out.map { r => rowCount += 1; r }
  }
}
