package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeReference, BasePredicate, EqualTo, Expression, GenericInternalRow, JoinedRow, Predicate, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.DataType

import graft.ingest.v2.{FilterEval, OrderedBandGroup}

/** ZERO-exchange, ZERO-sort equi-join of RANGE-LANDED document drops
  * — the range-layout analogue of the storage-partitioned join: when the
  * zone-map sidecars prove every side's files internally sorted and
  * groupable into strictly-disjoint key bands on their join keys
  * ([[graft.sink.CorpusSink.landJsonlRangeIndexed]] writes exactly this
  * layout; co-band with its `bounds` parameter for aligned parallelism),
  * the equi-join — INNER, LEFT OUTER, LEFT SEMI, LEFT ANTI (the
  * decontamination shape: "drop every document whose key appears in the
  * benchmark drop", otherwise a full-shuffle anti-join), RIGHT OUTER
  * (planned as the mirrored LEFT OUTER with a final row-local
  * projection back to the declared attribute order — the preserved
  * side streams as the merge base, so ordering/partitioning claims
  * hold on the RIGHT key), or FULL OUTER
  * (the snapshot-diff shape: matched, left-only, and right-only rows in
  * one pass, otherwise a shuffle-and-sort of BOTH corpora) — plans as a
  * streamed MERGE JOIN over band-aligned partitions: each partition
  * reads the files whose key ranges overlap ITS range and nothing else.
  * At 100 TB the ordinary plan shuffles every corpus and sorts every
  * side; this plan reads each side once, in place, already ordered —
  * and whole one-sided key ranges prune at plan time: right-only ranges
  * for every left-typed join (no left row to emit), left-only ranges
  * for INNER/SEMI (no match possible), while OUTER/ANTI keep them as
  * right-empty partitions (their left rows are exactly the match-less
  * output) and FULL OUTER keeps every populated component (right-only
  * ranges are its null-extended output). A FULL OUTER step drops the
  * output's key-ordering and range-partitioning claims (right-only
  * rows carry a null left key) and nothing chains on top of it.
  *
  * The match admits the shapes real SQL leaves between a join and its
  * scans — none of which defeats the layout proof:
  *
  *  - the join-side peel of [[BandLayout]] on EITHER side: a pushed-only
  *    Filter preserves sortedness and band disjointness alike (the join
  *    needs no completeness, unlike the window's metadata path), so the
  *    peeled Filters and Projects re-stage INSIDE the merge partitions,
  *    before the merge;
  *  - a CONJUNCTIVE condition `l.k = r.k AND <residual>`: the merge
  *    runs on the provable band-key equality and evaluates the
  *    remaining conjuncts per candidate pair — TRUE joins, FALSE/NULL
  *    does not, uniformly across all four join types (Spark's own ON
  *    semantics; `NOT IN`'s null-tolerant `Or(=, isnull(=))` shape is
  *    not a conjunct of an EqualTo and correctly refuses);
  *  - a JOIN CHAIN `(A ⋈ B) ⋈ C` whose every equality binds the SAME
  *    base left key (by exprId): the chained merge streams the inner
  *    join's key-ordered output straight into the next merge — N
  *    co-landed drops join end-to-end with ZERO exchanges, where the
  *    ordinary plan pays a shuffle per hop. The side peel's Filters and
  *    Projects between the joins re-stage between steps.
  *
  * Partition construction is the cross-side overlap sweep over ALL
  * sides at once: every side's disjoint band groups, min-sorted
  * together, coalesce into components separated by strict key gaps
  * ACROSS ALL SIDES — so a key present anywhere in component i can
  * never find a join partner outside it (sound for ANY band layouts;
  * matching `bounds` just makes components fine-grained).
  *
  * The transformation is EXACT (key equality under null-free proven
  * keys — which also makes the null-key semantics of every left-typed
  * join vacuous), so like [[OrderedScanStrategy]] it needs no opt-in
  * conf; any unprovable condition falls through to Spark's own join
  * planning. A USER HINT on either side also refuses — a broadcast hint
  * must keep meaning broadcast. Float/double keys arrive wrapped in
  * normalization (`KnownFloatingPointNormalized`) by Spark's own rule
  * and fall through correctly: the raw layout's total order
  * distinguishes -0.0 from 0.0, which the normalized equality must not.
  */
class RangeMergeJoinStrategy(session: SparkSession) extends SparkStrategy
    with PredicateHelper {
  import BandLayout.{peel, side}
  import RangeMergeJoinStrategy._

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: Join => matchChain(j) match {
      case Some(chain) => buildExec(chain) :: Nil
      case None => Nil
    }
    case _ => Nil
  }

  /** The chain matcher exposed for COMPOSING strategies: the band
    * window strategy accepts a provable merge-join chain as its ordered,
    * range-partitioned child (a running window over q185's
    * enrich+decontaminate chain would otherwise re-collapse the chain's
    * zero-exchange stream into one partition).
    */
  private[plans] def planChain(j: Join): Option[RangeMergeJoinExec] =
    matchChain(j).map(buildExec)

  /** Match a join (possibly a left-deep chain of joins) over peelable
    * range-landed scans. Every join's condition must contain one
    * provable band-key equality conjunct; for chained joins the
    * left-side key must be the SAME base attribute (exprId) — the
    * stream each step emits is ordered and range-partitioned on it.
    */
  private def matchChain(j: Join): Option[Chain] = j match {
    // RIGHT OUTER is the LEFT OUTER with sides swapped: re-match the
    // mirrored join (the merge then streams the PRESERVED side as its
    // base — ordered and range-partitioned on the right key) and keep
    // the original output attribute order; the exec's final projection
    // remaps the swapped stream layout to it. Right-semi/anti have no
    // SQL surface (Spark canonicalizes both to left), so this one arm
    // closes the outer-join family.
    case Join(l, r, RightOuter, Some(cond), hint) =>
      matchChain(Join(r, l, LeftOuter, Some(cond),
        JoinHint(hint.rightHint, hint.leftHint)))
        .map(_.copy(output = j.output))
    case Join(l, r, jt @ (Inner | LeftOuter | LeftSemi | LeftAnti |
        FullOuter), Some(cond), hint) if hint == JoinHint.NONE =>
      val conjuncts = splitConjunctivePredicates(cond)
      if (!conjuncts.forall(c => c.deterministic && !c.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
        return None
      side(r).flatMap { rSide =>
        val (lCore, lOps) = peel(l, joinSide = true)
        val lOut = l.outputSet

        def orient(e: Expression): Option[(AttributeReference, AttributeReference)] =
          e match {
            case EqualTo(a: AttributeReference, b: AttributeReference) =>
              if (lOut.contains(a) && rSide.owns(b)) Some((a, b))
              else if (lOut.contains(b) && rSide.owns(a)) Some((b, a))
              else None
            case _ => None
          }

        def residualOf(chosen: Expression): Option[Expression] = {
          val rest = conjuncts.filterNot(_ eq chosen)
          if (rest.isEmpty) None else Some(rest.reduce(And))
        }

        lCore match {
          case lj: Join =>
            // nothing chains ON TOP of a FULL OUTER step: its right-only
            // rows carry a NULL left key, so the stream is no longer
            // key-ordered/null-free — the contract every later merge
            // step relies on
            matchChain(lj).filterNot(
              _.steps.exists(_.joinType == FullOuter)).flatMap { inner =>
              conjuncts.iterator.flatMap { c =>
                orient(c).flatMap { case (lk, rk) =>
                  if (lk.exprId == inner.keyAttr.exprId &&
                    lk.dataType == rk.dataType)
                    rSide.groups(rk).map(g =>
                      inner.copy(
                        steps = inner.steps :+ ChainStep(jt, rSide, g, rk,
                          residualOf(c), lOps),
                        output = j.output))
                  else None
                }
              }.nextOption()
            }
          case _ =>
            side(l).flatMap { lSide =>
              conjuncts.iterator.flatMap { c =>
                orient(c).filter { case (lk, rk) => lk.dataType == rk.dataType }
                  .flatMap { case (lk, rk) =>
                    for (lg <- lSide.groups(lk); rg <- rSide.groups(rk))
                      yield Chain(lk.dataType, lk, lSide, lg,
                        List(ChainStep(jt, rSide, rg, rk, residualOf(c), Nil)),
                        j.output)
                  }
              }.nextOption()
            }
        }
      }
    case _ => None
  }
}

private[plans] object RangeMergeJoinStrategy {
  import BandLayout.Side

  /** One chained join step: its type, right side + proven groups, the
    * right key, the residual condition (over prev-output ++ right
    * output), and the interstitial ops peeled between this join and the
    * previous one (innermost-first, as peeled).
    */
  final case class ChainStep(joinType: JoinType, side: Side,
      groups: Seq[OrderedBandGroup], rightKey: AttributeReference,
      residual: Option[Expression], pre: List[LogicalPlan])

  final case class Chain(keyType: DataType, keyAttr: AttributeReference,
      base: Side, baseGroups: Seq[OrderedBandGroup],
      steps: List[ChainStep], output: Seq[Attribute])

  private[plans] def buildExec(c: Chain): RangeMergeJoinExec = {
    val sides = c.base.exec(c.keyAttr) +: c.steps.map(s => s.side.exec(s.rightKey))
    val steps = c.steps.map { s =>
      MergeStepExec(s.joinType, s.residual,
        // the peel returns innermost-first — the application order
        s.pre.map {
          case pr: Project => StreamProject(
            pr.projectList.map(_.asInstanceOf[AttributeReference]))
          case f: Filter => StreamFilter(f.condition)
          case other => throw new IllegalStateException(
            s"unpeelable interstitial ${other.nodeName}")
        })
    }
    val keepWhenEmpty =
      // FULL OUTER emits right-only rows too: every component with any
      // content anywhere must survive plan-time pruning (an empty base
      // side still yields the right side null-extended)
      if (c.steps.exists(_.joinType == FullOuter))
        Seq.fill(c.steps.length + 1)(true)
      else false +: c.steps.map(s =>
        s.joinType == LeftOuter || s.joinType == LeftAnti)
    val parts = RangeMergeJoinExec.alignN(c.keyType,
      c.baseGroups +: c.steps.map(_.groups), keepWhenEmpty)
    val keyInOutput = c.output.find(_.exprId == c.keyAttr.exprId)
      .getOrElse(c.keyAttr)
    RangeMergeJoinExec(c.keyType, c.output, sides, steps,
      SortOrder(keyInOutput, Ascending), parts)
  }
}

/** Interstitial stream ops re-staged between chained merge steps —
  * exactly the peelable set: a deterministic filter and an alias-free
  * projection (both row-order- and claim-preserving).
  */
sealed trait StreamOp extends Serializable
final case class StreamFilter(cond: Expression) extends StreamOp
final case class StreamProject(out: Seq[Attribute]) extends StreamOp

final case class MergeStepExec(joinType: JoinType,
    residual: Option[Expression], preOps: Seq[StreamOp])

object RangeMergeJoinExec {

  /** The cross-side overlap sweep over N sides: every side's
    * strictly-disjoint, min-sorted groups coalesce into components
    * separated by strict key gaps across ALL sides. A component is
    * DROPPED at plan time when it cannot emit: base side empty (no left
    * rows), or a later side empty whose step is INNER/SEMI (its join
    * annuls the stream); OUTER/ANTI steps keep their side-empty
    * components — their left rows are exactly the match-less output.
    * Returns per-component, per-side group lists (side order = input).
    */
  private[plans] def alignN(dt: DataType,
      sides: Seq[Seq[OrderedBandGroup]],
      keepWhenEmpty: Seq[Boolean]): Seq[Seq[Seq[OrderedBandGroup]]] = {
    val n = sides.length
    val tagged: Seq[(Int, OrderedBandGroup)] =
      sides.zipWithIndex.flatMap { case (gs, i) => gs.map(i -> _) }
        .sortWith((x, y) =>
          FilterEval.compareInternal(dt, x._2.min, y._2.min) < 0)
    val out = Seq.newBuilder[Seq[Seq[OrderedBandGroup]]]
    val cur = Array.fill(n)(List.empty[OrderedBandGroup])
    var curMax: Any = null
    def flush(): Unit =
      if ((0 until n).forall(i => keepWhenEmpty(i) || cur(i).nonEmpty) &&
        (0 until n).exists(cur(_).nonEmpty))
        out += cur.toIndexedSeq.map(_.reverse)
    tagged.foreach { case (side, g) =>
      if (curMax != null && FilterEval.compareInternal(dt, g.min, curMax) > 0) {
        flush()
        (0 until n).foreach(cur(_) = Nil)
        curMax = null
      }
      cur(side) ::= g
      if (curMax == null ||
        FilterEval.compareInternal(dt, g.max, curMax) > 0) curMax = g.max
    }
    flush()
    out.result()
  }

  /** Back-compat 2-way alignment (property tests exercise it directly):
    * (left groups, right groups) per component.
    */
  private[plans] def align(dt: DataType, left: Seq[OrderedBandGroup],
      right: Seq[OrderedBandGroup], keepLeftOnly: Boolean = false)
      : Seq[(Seq[OrderedBandGroup], Seq[OrderedBandGroup])] =
    alignN(dt, Seq(left, right), Seq(false, keepLeftOnly))
      .map(p => (p(0), p(1)))
}

/** One aligned component = one partition; output rows stream in
  * base-key ASC order (the merge order), claimed via `outputOrdering`;
  * partitions own strictly-disjoint key ranges, claimed via
  * `RangePartitioning` on that key — both honest for the same reason
  * the ordered scan's claims are (equal keys never straddle
  * components). A chained plan folds its steps inside the SAME
  * partition: the inner merge's key-ordered stream feeds the next
  * step's left input directly — no materialization between steps.
  */
case class RangeMergeJoinExec(keyType: DataType,
    output: Seq[Attribute], sides: Seq[MergeSideExec],
    steps: Seq[MergeStepExec], leftKeyOrder: SortOrder,
    @transient parts: Seq[Seq[Seq[OrderedBandGroup]]])
    extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  override def outputPartitioning: Partitioning =
    if (parts.isEmpty) UnknownPartitioning(0)
    else if (parts.length == 1) SinglePartition
    else if (steps.exists(_.joinType == FullOuter))
      // right-only rows carry a NULL left key — neither the range claim
      // nor the key ordering is honest for the full-outer stream
      UnknownPartitioning(parts.length)
    else RangePartitioning(Seq(leftKeyOrder), parts.length)

  override def outputOrdering: Seq[SortOrder] =
    if (steps.exists(_.joinType == FullOuter)) Nil else Seq(leftKeyOrder)

  override def simpleStringWithNodeId(): String =
    s"RangeMergeJoin(${steps.map(_.joinType).mkString("+")}, " +
      s"${leftKeyOrder.child}, partitions=${parts.length}" +
      (if (steps.exists(_.residual.isDefined)) ", residual" else "") +
      (if (sides.exists(_.filters.nonEmpty) ||
        steps.exists(_.preOps.nonEmpty)) ", restaged" else "") + ")"

  override protected def doExecute(): RDD[InternalRow] = {
    val factories = sides.map(_.scan.createReaderFactory())
    new RangeMergeChainRDD(sparkContext, keyType,
      sides.toArray, factories.toArray, steps.toArray, output,
      parts, longMetric("numOutputRows"))
  }

  /** A column-pruned clone for the band window's TOTALS pass: the chain
    * streams the same partitions and merges on the same keys, but every
    * side reads only the columns the pass folds — `needed` plus the
    * structural set (side keys, side filters, residuals, interstitial
    * stream filters). None when a side's reader cannot mirror a pruned
    * output ([[BandLayout.prunable]]) — the caller falls back to the
    * full chain, never wrong.
    */
  private[plans] def narrowForTotals(
      needed: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Option[RangeMergeJoinExec] =
    BandLayout.pruneSides(sides, needed, steps.flatMap(st =>
      st.residual.toSeq ++ st.preOps.collect { case StreamFilter(c) => c })
    ).map { case (keep, nSides) =>
      copy(output = output.filter(a => keep(a.exprId)), sides = nSides,
        steps = steps.map(st => st.copy(preOps = st.preOps.map {
          case StreamProject(o) => StreamProject(o.filter(a => keep(a.exprId)))
          case f => f
        })))
    }
}

private final class ChainPartition(override val index: Int,
    val groups: Seq[Seq[OrderedBandGroup]]) extends Partition

/** The streamed merge chain over one aligned component: each side's
  * groups concatenate (disjoint, min-ordered) with in-group k-way
  * merges where a side's own bands overlap — so every input arrives
  * key-sorted and null-free (the sidecar proof) and the classic
  * run-buffered merge applies, then the steps fold left-to-right
  * inside the partition.
  *
  * ROW-BUFFER CONTRACT: every iterator in the chain (side streams,
  * projections, and the join iterators' own output) promises only the
  * standard Spark row-iterator contract — a returned row stays valid
  * until the NEXT call on THAT iterator. The join iterators are safe
  * under that contract on both inputs: the single held left row is
  * always projected BEFORE its stream advances, right rows are copied
  * into the run buffer before the right stream advances, and each
  * iterator's output lives in its own projection buffer. No step
  * requires fresh-allocating readers.
  */
private final class RangeMergeChainRDD(
    sc: org.apache.spark.SparkContext, keyType: DataType,
    sides: Array[MergeSideExec], factories: Array[PartitionReaderFactory],
    steps: Array[MergeStepExec], outAttrs: Seq[Attribute],
    @transient parts: Seq[Seq[Seq[OrderedBandGroup]]],
    rowCount: SQLMetric)
    extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    parts.indices.map(i => new ChainPartition(i, parts(i))).toArray

  private def cmpKeys(a: Any, b: Any): Int =
    FilterEval.compareInternal(keyType, a, b)

  override def compute(split: Partition,
      context: TaskContext): Iterator[InternalRow] = {
    val p = split.asInstanceOf[ChainPartition]
    def sideStream(i: Int) = BandStreams.sideRows(sides(i), factories(i),
      p.groups(i), keyType, context, split.index)

    var cur = sideStream(0)
    var attrs = sides(0).output
    var keyOrd = sides(0).outKeyOrdinal
    val keyExprId = attrs(keyOrd).exprId
    steps.zipWithIndex.foreach { case (st, k) =>
      st.preOps.foreach {
        case StreamFilter(c) =>
          val pred = Predicate.create(c, attrs)
          pred.initialize(split.index)
          cur = cur.filter(pred.eval)
        case StreamProject(out) =>
          cur = BandStreams.remap(cur, attrs, out)
          attrs = out
          keyOrd = attrs.indexWhere(_.exprId == keyExprId)
      }
      val right = sides(k + 1)
      val residual = st.residual.map { e =>
        val pr = Predicate.create(e, attrs ++ right.output)
        pr.initialize(split.index)
        pr
      }
      val nullable = (as: Seq[Attribute]) => as.map(_.withNullability(true))
      val outAttrs = st.joinType match {
        case LeftSemi | LeftAnti => attrs
        case Inner => attrs ++ right.output
        case LeftOuter => attrs ++ nullable(right.output)
        case FullOuter => nullable(attrs) ++ nullable(right.output)
        case other => throw new IllegalStateException(
          s"unplannable merge join type $other")
      }
      cur = new MergeIter(cur, sideStream(k + 1), st.joinType, keyOrd,
        right.outKeyOrdinal, attrs.length, right.output.length, residual,
        UnsafeProjection.create(BandStreams.schemaOf(outAttrs)))
      attrs = outAttrs
    }
    // a SWAPPED step (right outer planned as the mirrored left outer)
    // leaves the stream in swapped layout — remap to the exec's declared
    // output attribute order (row-local: every claim survives)
    BandStreams.remap(cur, attrs, outAttrs).map { row => rowCount += 1; row }
  }

  /** The run-buffered streamed merge, every join type. Only the CURRENT
    * right-key run is materialized — as copies: right rows come from
    * buffer-reusing readers and must outlive their advance — with a
    * matched flag per run row; the left side streams row by row, never
    * copied, and each left row is projected before its stream advances.
    * Residual semantics are the ON clause's: TRUE matches, FALSE/NULL
    * does not. A left row none of whose key-equal pairs passed —
    * including every row of a left-only aligned component — is
    * match-less: OUTER emits it null-extended, ANTI emits it alone,
    * SEMI emits a left row once, on its first passing pair. FULL OUTER
    * (the snapshot-diff shape) also emits every right row below the
    * current left key (null-left, in key position) and, when a run
    * closes, each run row no pair of which passed; the exec drops the
    * left-key ordering claim, since those rows carry a null left key.
    * SEMI and ANTI without a residual buffer nothing: the right stream
    * only advances to the first row at-or-past the left key, and
    * duplicate left keys re-test that same row.
    */
  private final class MergeIter(l: Iterator[InternalRow],
      r: Iterator[InternalRow], jt: JoinType, lKey: Int, rKey: Int,
      lWidth: Int, rWidth: Int, residual: Option[BasePredicate],
      proj: UnsafeProjection) extends Iterator[InternalRow] {
    private val existence = jt == LeftSemi || jt == LeftAnti
    private val full = jt == FullOuter
    private val keepUnmatched = jt == LeftOuter || full || jt == LeftAnti
    private val joined = new JoinedRow
    private val nullLeft = new GenericInternalRow(lWidth)
    private val nullRight = new GenericInternalRow(rWidth)
    private val run = new ArrayBuffer[InternalRow]
    private var matched: Array[Boolean] = _
    private var lRow = step(l)
    private var rRow = step(r)
    private var runKey: Any = null
    private var runIdx = 0
    private var inRun = false // lRow's key is runKey; it scans the run
    private var anyMatch = false
    private var flushIdx = -1 // ≥ 0: the closed run's unmatched rows emit
    private var out: InternalRow = _

    private def step(it: Iterator[InternalRow]) = if (it.hasNext) it.next() else null
    private def key(row: InternalRow, ord: Int) = row.get(ord, keyType)
    private def pairOk(rr: InternalRow) = residual.forall(_.eval(joined(lRow, rr)))
    private def leftOnly() =
      if (existence) proj(lRow) else proj(joined(lRow, nullRight))

    /** The next left row: an equal key rescans the run, any other key
      * closes it (FULL OUTER flushes it first).
      */
    private def nextLeft(): Unit = {
      lRow = step(l)
      if (inRun) {
        if (lRow != null && cmpKeys(key(lRow, lKey), runKey) == 0) {
          runIdx = 0; anyMatch = false
        } else {
          inRun = false
          if (full) flushIdx = 0 else run.clear()
        }
      }
    }

    private def fetch(): Boolean = {
      while (out == null) {
        if (flushIdx >= 0) {
          while (flushIdx < run.length && matched(flushIdx)) flushIdx += 1
          if (flushIdx < run.length) {
            out = proj(joined(nullLeft, run(flushIdx)))
            flushIdx += 1
          } else { flushIdx = -1; run.clear() }
        } else if (inRun) {
          while (runIdx < run.length && !pairOk(run(runIdx))) runIdx += 1
          if (runIdx == run.length) {
            if (!anyMatch && keepUnmatched) out = leftOnly()
            nextLeft()
          } else if (existence) {
            if (jt == LeftSemi) out = proj(lRow)
            nextLeft()
          } else {
            anyMatch = true
            if (full) matched(runIdx) = true
            out = proj(joined(lRow, run(runIdx)))
            runIdx += 1
          }
        } else if (lRow == null) {
          if (!full || rRow == null) return false
          out = proj(joined(nullLeft, rRow))
          rRow = step(r)
        } else {
          val c = if (rRow == null) -1
            else cmpKeys(key(lRow, lKey), key(rRow, rKey))
          if (c < 0) {
            if (keepUnmatched) out = leftOnly()
            else if (rRow == null) return false
            nextLeft()
          } else if (c > 0) {
            if (full) out = proj(joined(nullLeft, rRow))
            rRow = step(r)
          } else if (existence && residual.isEmpty) {
            if (jt == LeftSemi) out = proj(lRow)
            nextLeft()
          } else {
            // the key is read off the COPY: the reader reuses its buffer
            run.clear()
            run += rRow.copy()
            runKey = key(run(0), rKey)
            rRow = step(r)
            while (rRow != null && cmpKeys(key(rRow, rKey), runKey) == 0) {
              run += rRow.copy()
              rRow = step(r)
            }
            if (full) matched = new Array[Boolean](run.length)
            runIdx = 0; anyMatch = false; inRun = true
          }
        }
      }
      true
    }

    override def hasNext: Boolean = out != null || fetch()

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val o = out
      out = null
      o
    }
  }
}
