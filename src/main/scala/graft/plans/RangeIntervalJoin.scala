package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, GreaterThan, GreaterThanOrEqual, JoinedRow, LessThan, LessThanOrEqual, Predicate, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.DataType

import graft.ingest.v2.{FilterEval, OrderedBandGroup}

/** ZERO-exchange INTERVAL-OVERLAP join of range-landed drops — the
  * non-equi join users write right after the as-of: `iv.s <= p.k AND
  * p.k <= iv.e` (sessions-to-events, promo-windows-to-orders,
  * ranges-to-points containment). Spark's only plan for this shape is
  * a broadcast/cartesian nested loop — O(|points| × |intervals|) pair
  * evaluations, unrunnable at 100 TB. Over two range landings (points
  * banded on `k`, intervals banded on `s`, with `e` zone-indexed
  * alongside) it becomes a bounded one-pass SWEEP: stream each points
  * band in key order, admit intervals as their `s` passes the current
  * point key, retire them as their `e` falls behind it — the ACTIVE
  * set at any moment is exactly the intervals containing the current
  * key, a population the sidecar bounds at plan time.
  *
  * Partitioning: each points band group is one partition; it reads the
  * interval band groups whose `[min(s), max(e)]` span intersects its
  * key range — an interval group is re-read by at most
  * (interval-width / band-span + 1) partitions, bounded duplication in
  * place of the nested loop's full re-scan per partition. Every point
  * belongs to exactly one partition, so no pair is emitted twice.
  * Output streams in point-key order and partitions own disjoint point
  * ranges — the same `outputOrdering` + `RangePartitioning` claims the
  * merge join makes, so windows and aggregates compose on top.
  *
  * REFUSES to Spark (exact — no opt-in conf, wrong never): a
  * condition that isn't the two range conjuncts over one side's
  * (s, e) and the other side's band key; unprovable layouts; a user
  * join hint; missing sidecar stats for `s` or `e` (the width bound
  * is then unknowable — pushed filters on the intervals side also
  * refuse, stats are completeness-gated); or a plan-time active-set
  * bound beyond `spark.graft.window.maxRangeFrameRows` (unbounded
  * interval widths degrade the sweep to the nested loop's memory
  * shape — the cap re-checks at runtime regardless). INNER and LEFT
  * OUTER with the points side on the left (the preserved side);
  * residual conjuncts beyond the two range ones evaluate per
  * candidate pair, Spark's ON semantics. Both sides match through the
  * join-side peel of [[BandLayout]], like the merge join's.
  */
class RangeIntervalJoinStrategy(session: SparkSession) extends SparkStrategy
    with PredicateHelper {
  import BandLayout.{Side, side}

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: Join => planJoin(j) match {
      case Some(exec) => exec :: Nil
      case None => Nil
    }
    case _ => Nil
  }

  /** The join matcher exposed for COMPOSING strategies: the band window
    * strategy accepts a provable interval-sweep join as its ordered,
    * range-partitioned child (a running window over the q212 labeled
    * stream would otherwise re-collapse it into one partition).
    */
  private[plans] def planJoin(plan: Join): Option[RangeIntervalJoinExec] =
    plan match {
    case j @ Join(l, r, jt @ (Inner | LeftOuter), Some(cond), hint)
        if hint == JoinHint.NONE =>
      val conjuncts = splitConjunctivePredicates(cond)
      if (!conjuncts.forall(c => c.deterministic && !c.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
        return None
      (side(l), side(r)) match {
        case (Some(pSide), Some(iSide)) =>
          // normalize every inequality conjunct to lhs <(=) rhs
          def ineq(e: Expression)
              : Option[(AttributeReference, AttributeReference, Boolean)] =
            e match {
              case LessThanOrEqual(a: AttributeReference,
                  b: AttributeReference) => Some((a, b, false))
              case LessThan(a: AttributeReference,
                  b: AttributeReference) => Some((a, b, true))
              case GreaterThanOrEqual(a: AttributeReference,
                  b: AttributeReference) => Some((b, a, false))
              case GreaterThan(a: AttributeReference,
                  b: AttributeReference) => Some((b, a, true))
              case _ => None
            }
          val ineqs = conjuncts.flatMap(c => ineq(c).map(c -> _))
          // the pair: (s <= k) and (k <= e), s/e from the intervals
          // side, the SAME k from the points side
          val pair = (for {
            (c1, (s, k1, strictS)) <- ineqs.iterator
            if iSide.owns(s) && pSide.owns(k1)
            (c2, (k2, e, strictE)) <- ineqs.iterator
            if !(c2 eq c1) && pSide.owns(k2) && iSide.owns(e) &&
              k2.exprId == k1.exprId
          } yield (c1, c2, s, e, k1, strictS, strictE)).nextOption()
          pair match {
            case Some((c1, c2, s, e, k, strictS, strictE))
                if k.dataType == s.dataType && s.dataType == e.dataType &&
                  integralKey(k.dataType) &&
                  iSide.rel.output.exists(_.exprId == e.exprId) =>
              val residual = {
                val rest = conjuncts.filterNot(c => (c eq c1) || (c eq c2))
                if (rest.isEmpty) None else Some(rest.reduce(And))
              }
              plan0(j.output, jt == LeftOuter, pSide, iSide, k, s, e,
                strictS, strictE, residual)
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }

  /** Layout + bound proofs → the exec, or None (fall through). */
  private def plan0(output: Seq[Attribute], outer: Boolean,
      pSide: Side, iSide: Side, k: AttributeReference,
      s: AttributeReference, e: AttributeReference,
      strictS: Boolean, strictE: Boolean,
      residual: Option[Expression]): Option[RangeIntervalJoinExec] = {
    val dt = k.dataType
    val pGroups = pSide.groups(k).getOrElse(return None)
    val iGroups = iSide.groups(s).getOrElse(return None)
    // per-group (sMin, sMax, eMax, rows) from the sidecar — refused
    // under pushed filters (stats are completeness-gated), and the
    // width bound is unknowable without e's stats
    val iStats = iSide.scan.orderedBandFileStatsBound(s.name)
      .getOrElse(return None)
    if (iStats.length != iGroups.length) return None
    val fileStats = iStats.flatten.map { fs =>
      (for {
        sc <- fs.cols.get(s.name)
        ec <- fs.cols.get(e.name)
        sMin <- sc.min; sMax <- sc.max; eMax <- ec.max
      } yield (asLong(sMin), asLong(sMax), asLong(eMax), sc.rows))
        .getOrElse(return None)
    }
    // interval width bound: any interval in file f spans at most
    // f.eMax − f.sMin; W = the max over files (≥ 0)
    val w = fileStats.map(t => math.max(0L, t._3 - t._1)).max
    // plan-time active-set bound: intervals containing key c have
    // s ∈ [c − W, c] — the densest such window must fit the cap
    val cap = RangeWindowStrategy.maxRangeFrameRows(session)
    if (RangeWindowStrategy.maxWindowRows(
      fileStats.map(t => (t._1, t._2, t._4)), w, cap) > cap) return None
    // per-group spans for partition-time selection
    val groupSpan: Seq[(Long, Long)] = iStats.map { files =>
      val spans = files.map { fs =>
        (asLong(fs.cols(s.name).min.get), asLong(fs.cols(e.name).max.get))
      }
      (spans.map(_._1).min, spans.map(_._2).max)
    }
    val parts = pGroups.map { pg =>
      val lo = asLong(pg.min); val hi = asLong(pg.max)
      val rel = iGroups.zip(groupSpan).collect {
        case (g, (sMin, eMax)) if sMin <= hi && eMax >= lo => g
      }
      (pg, rel)
    }
    val keyInOutput = output.find(_.exprId == k.exprId).getOrElse(k)
    Some(RangeIntervalJoinExec(dt, output, pSide.exec(k), iSide.exec(s),
      iSide.output.indexWhere(_.exprId == e.exprId),
      strictS, strictE, outer, residual,
      SortOrder(keyInOutput, Ascending), cap, parts))
  }

  private def integralKey(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  private def asLong(v: Any): Long = v.asInstanceOf[Number].longValue()
}

/** One points band group = one partition; rows stream in point-key ASC
  * order (claimed), partitions own strictly-disjoint point ranges
  * (claimed as RangePartitioning) — honest because every point belongs
  * to exactly one group and its matches emit contiguously with it.
  * `eOrdinal` indexes the interval side's OUTPUT; `sOrdinal` rides the
  * side's outKeyOrdinal.
  */
case class RangeIntervalJoinExec(keyType: DataType,
    output: Seq[Attribute], points: MergeSideExec, intervals: MergeSideExec,
    eOrdinal: Int, strictS: Boolean, strictE: Boolean, outer: Boolean,
    residual: Option[Expression], pointKeyOrder: SortOrder, cap: Long,
    @transient parts: Seq[(OrderedBandGroup, Seq[OrderedBandGroup])])
    extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    // peak live intervals across partitions — the sweep's memory shape
    "peakActiveIntervals" -> SQLMetrics.createMetric(sparkContext,
      "peak active intervals"))

  override def outputPartitioning: Partitioning =
    if (parts.isEmpty) UnknownPartitioning(0)
    else if (parts.length == 1) SinglePartition
    else RangePartitioning(Seq(pointKeyOrder), parts.length)

  override def outputOrdering: Seq[SortOrder] = Seq(pointKeyOrder)

  override def simpleStringWithNodeId(): String =
    s"RangeIntervalJoin(${if (outer) "LeftOuter" else "Inner"}, " +
      s"${pointKeyOrder.child}, partitions=${parts.length}" +
      (if (residual.isDefined) ", residual" else "") + ")"

  override protected def doExecute(): RDD[InternalRow] = {
    val pFactory = points.scan.createReaderFactory()
    val iFactory = intervals.scan.createReaderFactory()
    new RangeIntervalJoinRDD(sparkContext, keyType, points, intervals,
      pFactory, iFactory, eOrdinal, strictS, strictE, outer, residual,
      output, cap, parts, longMetric("numOutputRows"),
      longMetric("peakActiveIntervals"))
  }

  /** A column-pruned clone for the band window's TOTALS pass (the
    * RangeMergeJoinExec posture): same partitions, same sweep keys and
    * bounds, but each side converts only `needed` plus the structural
    * set (point key, interval start/end, side filters, the residual).
    */
  private[plans] def narrowForTotals(
      needed: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Option[RangeIntervalJoinExec] = {
    val e = intervals.output(eOrdinal)
    BandLayout.pruneSides(Seq(points, intervals), needed + e, residual.toSeq)
      .map { case (keep, Seq(p, iv)) =>
        copy(output = output.filter(a => keep(a.exprId)), points = p,
          intervals = iv, eOrdinal = iv.output.indexWhere(_.exprId == e.exprId))
      }
  }
}

private final class IntervalPartition(override val index: Int,
    val pGroup: OrderedBandGroup,
    val iGroups: Seq[OrderedBandGroup]) extends Partition

/** The per-partition sweep: points stream in key order; intervals
  * stream in s order and copy into the ACTIVE buffer as their s passes
  * the current point key; an entry retires (swap-removed) the moment
  * its e falls behind the point key — keys only ascend, so a retired
  * interval can never match again. Every surviving entry either
  * matches the current point (its s was ≤ the key at admission and
  * stays ≤ later keys; its e check is the retire test's complement) or
  * awaits the residual. Active rows are COPIES (readers reuse their
  * row buffers); the point row is projected before its stream
  * advances — the standard row-buffer contract.
  */
private final class RangeIntervalJoinRDD(
    sc: org.apache.spark.SparkContext, keyType: DataType,
    points: MergeSideExec, intervals: MergeSideExec,
    pFactory: PartitionReaderFactory, iFactory: PartitionReaderFactory,
    eOrdinal: Int, strictS: Boolean, strictE: Boolean, outer: Boolean,
    residual: Option[Expression], outAttrs: Seq[Attribute], cap: Long,
    @transient parts: Seq[(OrderedBandGroup, Seq[OrderedBandGroup])],
    rowCount: SQLMetric, peakActive: SQLMetric)
    extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    parts.zipWithIndex.map { case ((pg, igs), i) =>
      new IntervalPartition(i, pg, igs)
    }.toArray

  private def cmp(a: Any, b: Any): Int =
    FilterEval.compareInternal(keyType, a, b)

  override def compute(split: Partition,
      context: TaskContext): Iterator[InternalRow] = {
    val p = split.asInstanceOf[IntervalPartition]
    val l = BandStreams.sideRows(points, pFactory, Seq(p.pGroup), keyType,
      context, p.index)
    val r = BandStreams.sideRows(intervals, iFactory, p.iGroups, keyType,
      context, p.index)
    val kOrd = points.outKeyOrdinal
    val sOrd = intervals.outKeyOrdinal
    val iWidth = intervals.output.length
    val outA = points.output ++
      (if (outer) intervals.output.map(_.withNullability(true))
      else intervals.output)
    val proj = UnsafeProjection.create(BandStreams.schemaOf(outA))
    val joined = new JoinedRow
    val nullRight = new GenericInternalRow(iWidth)
    val pred = residual.map { ex =>
      val pr = Predicate.create(ex, points.output ++ intervals.output)
      pr.initialize(p.index)
      pr
    }
    val base = new Iterator[InternalRow] {
      private var lRow: InternalRow = _
      private var lKey: Any = _
      private var rRow: InternalRow = if (r.hasNext) r.next() else null
      // live intervals: rows and their e keys, parallel buffers
      private val active = new ArrayBuffer[InternalRow]
      private val activeE = new ArrayBuffer[Any]
      private var idx = 0
      private var emittedAny = false
      private var pendingNull = false
      private var peak = 0L

      private def admit(sVal: Any, k: Any): Boolean = {
        val c = cmp(sVal, k)
        if (strictS) c < 0 else c <= 0
      }
      private def retired(eVal: Any, k: Any): Boolean = {
        val c = cmp(eVal, k)
        if (strictE) c <= 0 else c < 0
      }

      private def loadPoint(): Unit = {
        lRow = l.next()
        lKey = lRow.get(kOrd, keyType)
        idx = 0
        emittedAny = false
        // admit every interval whose s has passed the key; null-e
        // intervals match nothing and never enter
        while (rRow != null && admit(rRow.get(sOrd, keyType), lKey)) {
          if (!rRow.isNullAt(eOrdinal)) {
            val copy = rRow.copy()
            active += copy
            activeE += copy.get(eOrdinal, keyType)
            if (active.length > cap)
              throw new org.apache.spark.SparkException(
                s"graft interval-join active set exceeds $cap intervals; " +
                  "raise spark.graft.window.maxRangeFrameRows or let " +
                  "Spark's nested-loop join plan this shape")
          }
          rRow = if (r.hasNext) r.next() else null
        }
        if (active.length > peak) { peak = active.length; peakActive.set(peak) }
      }

      private def findNext(): Boolean = {
        while (true) {
          if (pendingNull) return true
          if (lRow != null) {
            var found = false
            while (!found && idx < active.length) {
              if (retired(activeE(idx), lKey)) {
                // swap-remove: order within the active set is
                // irrelevant (each point emits its full match set)
                active(idx) = active(active.length - 1)
                activeE(idx) = activeE(active.length - 1)
                active.remove(active.length - 1)
                activeE.remove(activeE.length - 1)
              } else if (pred.forall(_.eval(joined(lRow, active(idx))))) {
                found = true
              } else idx += 1
            }
            if (found) return true
            if (outer && !emittedAny) { pendingNull = true; return true }
            lRow = null
          } else if (!l.hasNext) return false
          else loadPoint()
        }
        false
      }

      override def hasNext: Boolean = findNext()

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        if (pendingNull) {
          // project BEFORE the left stream advances (buffer reuse)
          val out = proj(joined(lRow, nullRight))
          pendingNull = false
          lRow = null
          out
        } else {
          emittedAny = true
          val out = proj(joined(lRow, active(idx)))
          idx += 1
          out
        }
      }
    }
    // remap to the exec's declared output attribute order when the
    // stream layout differs (row-local; claims survive)
    BandStreams.remap(base, outA, outAttrs).map { row => rowCount += 1; row }
  }
}
