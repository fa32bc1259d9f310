package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, BindReferences, CurrentRow, Descending, Expression, GenericInternalRow, JoinedRow, Literal, NamedExpression, NullsFirst, RangeFrame, Rank, RowFrame, RowNumber, SortOrder, SpecifiedWindowFrame, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{ExternalAppendOnlyUnsafeRowArray, SortExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.v2.{ExtJsonScan, FilterEval, ZoneMaps}

/** Per-partition running-window evaluation over an order-claiming child
  * (the strategy guarantees the child streams each partition in
  * `orderSpec` order, partitions globally ordered). `partitionTotals`:
  * per-partition per-function totals from the SIDECAR, or None — then
  * one narrow pass computes them (below the per-band sort when one
  * exists: totals are order-free). Tie groups buffer in a spillable
  * UnsafeRow array (all-equal-keys is memory-bounded the same way
  * Spark's own WindowExec partitions are).
  */
case class BandRunningWindowExec(windowExprs: Seq[NamedExpression],
    funcs: Seq[RunningWindow.Fn], orderSpec: Seq[SortOrder],
    partitionTotals: Option[Seq[Array[Any]]], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] =
    child.output ++ windowExprs.map(_.toAttribute)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    // columns the computed-totals pass actually decoded (0 = metadata
    // prefix, no pass at all) — the narrowing observability hook
    "totalsPassColumns" -> SQLMetrics.createMetric(sparkContext,
      "totals pass columns"))

  override def stringArgs: Iterator[Any] = Iterator(
    windowExprs.map(_.name).mkString("[", ", ", "]"),
    orderSpec.mkString("[", ", ", "]"),
    if (partitionTotals.isDefined) "prefix=metadata" else "prefix=computed")

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  /** The totals pass never needs the per-band sort (totals are
    * order-free) — run it below a local SortExec when that is the
    * direct child shape.
    */
  private def unsortedChild(p: SparkPlan): SparkPlan = p match {
    case s: SortExec if !s.global => s.child
    case w: WholeStageCodegenExec => unsortedChild(w.child)
    case _ => p
  }

  /** A column-pruned clone of the totals pass's plan: the second stream
    * over the data (or over the whole merge-join chain — q192's 2×-IO
    * shape) re-reads the same files and partitions but CONVERTS only
    * the columns the accumulators fold, instead of the query's full
    * output. Structure-preserving: same partitioning, same merge keys,
    * same filters; None for any shape it can't prove (the caller runs
    * the full plan — never wrong, just unpruned).
    */
  private def narrowTotalsPlan(p: SparkPlan,
      needed: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Option[SparkPlan] = p match {
    case w: WholeStageCodegenExec => narrowTotalsPlan(w.child, needed)
    case a: org.apache.spark.sql.execution.InputAdapter =>
      narrowTotalsPlan(a.child, needed)
    case s: SortExec if !s.global =>
      narrowTotalsPlan(s.child, needed ++
        org.apache.spark.sql.catalyst.expressions.AttributeSet(
          s.sortOrder.flatMap(_.references)))
        .map(SortExec(s.sortOrder, global = false, _))
    case pr: org.apache.spark.sql.execution.ProjectExec =>
      val kept = pr.projectList.filter(ne => needed.contains(ne.toAttribute))
      if (kept.isEmpty) None
      else narrowTotalsPlan(pr.child,
        org.apache.spark.sql.catalyst.expressions.AttributeSet(
          kept.flatMap(_.references)))
        .map(org.apache.spark.sql.execution.ProjectExec(kept, _))
    case f: org.apache.spark.sql.execution.FilterExec =>
      narrowTotalsPlan(f.child, needed ++ f.condition.references)
        .map(org.apache.spark.sql.execution.FilterExec(f.condition, _))
    case o: OrderedBandScanExec if BandLayout.prunable(o.scan) =>
      val keep = needed ++
        org.apache.spark.sql.catalyst.expressions.AttributeSet(
          o.sortOrder.flatMap(_.references))
      val kept = o.output.filter(keep.contains)
      if (kept.isEmpty || kept.length == o.output.length) None
      else Some(o.copy(output = kept,
        scan = o.scan.pruneTo(kept.map(_.name))))
    case m: RangeMergeJoinExec => m.narrowForTotals(needed)
    case iv: RangeIntervalJoinExec => iv.narrowForTotals(needed)
    case _ => None
  }

  override protected def doExecute(): RDD[InternalRow] = {
    import RunningWindow.{Acc, PendingRow}
    val childOut = child.output
    val bound = funcs.map(_.bound(childOut)).toArray
    val totals: Seq[Array[Any]] = partitionTotals.getOrElse {
      // order-sensitive totals must see the sorted stream; order-free
      // totals run below the local sort
      val base =
        if (bound.exists(_.orderSensitive)) child else unsortedChild(child)
      // …and CONVERTS only the columns the accumulators read: the
      // narrowed clone streams the same partitions with the rest of the
      // query's columns left undecoded (totals snapshots are plain
      // values, so binding against the narrow output changes nothing
      // downstream)
      val needed = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        windowExprs.flatMap(_.references))
      val (tPlan, tBound) = narrowTotalsPlan(base, needed) match {
        case Some(np) if needed.subsetOf(np.outputSet) =>
          (np, funcs.map(_.bound(np.output)))
        case _ => (base, bound.toSeq)
      }
      longMetric("totalsPassColumns") += tPlan.output.length
      sparkContext.runJob(tPlan.execute(),
        (it: Iterator[InternalRow]) => {
          val accs = tBound.map(new Acc(_, null)).toArray
          it.foreach(r => accs.foreach(_.update(r)))
          accs.map(_.total()).toArray
        }).toSeq
    }
    // driver-side exclusive prefix scan: offsets(i) = fold of totals < i;
    // the GRAND fold (every band merged) is what suffix frames subtract
    // from and the size-based rank family divides by
    val scanAccs = bound.map(new Acc(_, null))
    val offsets: Array[Array[Any]] = totals.indices.map { i =>
      val off = scanAccs.map(_.total()).toArray
      scanAccs.zip(totals(i)).foreach { case (a, t) => a.mergeTotal(t) }
      off
    }.toArray
    val grands: Array[Any] = scanAccs.map(_.total()).toArray
    val suffixes = RunningWindow.suffixes(bound, totals)
    val ordering = new LazilyGeneratedOrdering(orderSpec, childOut)
    val schema = output
    val inMemT = conf.windowExecBufferInMemoryThreshold
    val spillT = conf.windowExecBufferSpillThreshold
    val spillSize = conf.windowExecBufferSpillSizeThreshold
    val rows = longMetric("numOutputRows")
    val rdd = child.execute()
    require(partitionTotals.isEmpty ||
      rdd.getNumPartitions == totals.length,
      s"band window prefix count ${totals.length} != " +
        s"${rdd.getNumPartitions} partitions")
    def idx(p: RunningWindow.Fn => Boolean): Array[Int] =
      bound.indices.filter(j => p(bound(j))).toArray
    // the ONE emission delay, set by each frame's forward end: none
    // (read at the row, or at its tie group's start/end), bounded (rows
    // wait in the pending queue until their frame end arrives), or the
    // whole partition (spilled first, every row then reads)
    val whole = idx(_.whole)
    val delayed = idx(_.delayed)
    val atStart = idx(f => !f.whole && !f.delayed && !f.frame.rows && f.excl)
    val atEnd = idx(f => !f.whole && !f.delayed && !f.frame.rows && !f.excl)
    val perRow = idx(f => !f.whole && !f.delayed && f.frame.rows)
    val excl = bound.map(_.excl)
    val isDelayed = delayed.nonEmpty
    rdd.mapPartitionsWithIndex { (i, iter0) =>
      val accs = bound.indices.map(j => new Acc(bound(j), grands(j))).toArray
      accs.zip(offsets(i)).foreach { case (a, o) => a.mergeTotal(o) }
      def at(j: Int, ord: Long, grp: Long) = if (bound(j).frame.rows) ord else grp
      val iter: Iterator[InternalRow] =
        if (whole.isEmpty) iter0
        else {
          val pbuf = new ExternalAppendOnlyUnsafeRowArray(inMemT,
            spillSize, spillT, spillSize)
          val low = new Array[Long](whole.length)
          var ord = 0L
          var grp = -1L
          var prev: UnsafeRow = null
          while (iter0.hasNext) {
            val r = iter0.next().asInstanceOf[UnsafeRow]
            if (prev == null || ordering.compare(prev, r) != 0) {
              grp += 1; prev = r.copy()
            }
            var p = 0
            while (p < whole.length) {
              val a = accs(whole(p))
              val k = a.keyOf(r, at(whole(p), ord, grp))
              if (ord == 0L) low(p) = k
              a.arrive(r, k, low(p))
              p += 1
            }
            pbuf.add(r)
            ord += 1
          }
          whole.foreach(j => accs(j).finish(suffixes(i)(j)))
          pbuf.generateIterator()
        }
      val buf = new ExternalAppendOnlyUnsafeRowArray(inMemT, spillSize,
        spillT, spillSize)
      val winRow = new GenericInternalRow(bound.length)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(schema, schema)
      // delayed rows leave as carriers (copied row + its window values)
      // for the pending queue; the rest project at once, allocation-free
      val inner: Iterator[AnyRef] = new Iterator[AnyRef] {
        private val groupVals = new Array[Any](bound.length)
        private var pending: UnsafeRow = _
        private var emit: Iterator[AnyRef] = Iterator.empty
        private var ord = 0L
        private var grp = -1L

        private def arriveGroup(r: InternalRow): Unit = {
          var p = 0
          while (p < atStart.length + atEnd.length) {
            val j = if (p < atStart.length) atStart(p) else atEnd(p - atStart.length)
            val k = accs(j).keyOf(r, grp)
            accs(j).arrive(r, k, k)
            p += 1
          }
        }

        private def loadGroup(): Unit = {
          buf.clear()
          grp += 1
          val first =
            if (pending != null) pending
            else iter.next().asInstanceOf[UnsafeRow].copy()
          pending = null
          atStart.foreach(j => groupVals(j) = accs(j).value(accs(j).keyOf(first, grp)))
          buf.add(first)
          arriveGroup(first)
          var open = true
          while (open && iter.hasNext) {
            val r = iter.next().asInstanceOf[UnsafeRow]
            if (ordering.compare(first, r) == 0) {
              buf.add(r)
              arriveGroup(r)
            } else { pending = r.copy(); open = false }
          }
          atEnd.foreach(j => groupVals(j) = accs(j).value(accs(j).keyOf(first, grp)))
          emit = buf.generateIterator().map { row =>
            val wr =
              if (isDelayed) new GenericInternalRow(bound.length) else winRow
            var k = 0
            while (k < bound.length) { wr(k) = groupVals(k); k += 1 }
            var p = 0
            while (p < perRow.length) {
              val j = perRow(p)
              val a = accs(j)
              val key = a.keyOf(row, ord)
              if (excl(j)) { wr(j) = a.value(key); a.arrive(row, key, key) }
              else { a.arrive(row, key, key); wr(j) = a.value(key) }
              p += 1
            }
            p = 0
            while (p < whole.length) {
              val j = whole(p)
              wr(j) = accs(j).value(accs(j).keyOf(row, at(j, ord, grp)))
              p += 1
            }
            ord += 1
            if (isDelayed)
              new PendingRow(row.asInstanceOf[UnsafeRow].copy(), wr, ord - 1, grp)
            else {
              rows += 1
              proj(joined(row, wr)): AnyRef
            }
          }
        }

        override def hasNext: Boolean = {
          while (!emit.hasNext && (pending != null || iter.hasNext))
            loadGroup()
          emit.hasNext
        }
        override def next(): AnyRef = {
          if (!hasNext) throw new NoSuchElementException
          emit.next()
        }
      }
      if (delayed.isEmpty) inner.asInstanceOf[Iterator[InternalRow]]
      else new Iterator[InternalRow] {
        // the PENDING QUEUE: each delayed function answers its rows in
        // order as their frames complete (a ROWS frame once its last
        // position arrives, a value frame once a key strictly beyond its
        // end does, every frame at partition end once the later bands'
        // leading entries arrive); a row leaves once all have answered
        private val queue = new RunningWindow.Ring
        private val cursor = new Array[Int](delayed.length)
        private val last = new Array[Long](delayed.length)
        private val cap = delayed.map(bound(_).cap).min
        private var finished = false
        private def keyAt(p: Int, pr: PendingRow): Long =
          accs(delayed(p)).keyOf(pr.row, at(delayed(p), pr.ord, pr.grp))
        private val fns = delayed.map(bound(_))
        private val ends = fns.map(_.frame.hi.get)
        private val ordinalEnd = fns.map(_.key == null)
        private def complete(p: Int, k: Long): Boolean = {
          val end = fns(p).frame.at(k, ends(p))
          if (ordinalEnd(p)) last(p) >= end else fns(p).frame.before(end, last(p))
        }
        private def filled: Boolean = {
          var p = 0
          while (p < cursor.length && cursor(p) > 0) p += 1
          p == cursor.length
        }
        private def fill(p: Int): Unit = {
          var go = true
          while (go && cursor(p) < queue.size) {
            val pr = queue(cursor(p)).asInstanceOf[PendingRow]
            val k = keyAt(p, pr)
            if (finished || complete(p, k)) {
              pr.vals(delayed(p)) = accs(delayed(p)).value(k)
              cursor(p) += 1
            } else go = false
          }
        }
        override def hasNext: Boolean = queue.size > 0 || inner.hasNext
        override def next(): InternalRow = {
          while (true) {
            if (queue.size > 0 && filled) {
              val pr = queue.pop().asInstanceOf[PendingRow]
              var p = 0
              while (p < cursor.length) { cursor(p) -= 1; p += 1 }
              rows += 1
              return proj(joined(pr.row, pr.vals))
            }
            if (inner.hasNext) {
              val pr = inner.next().asInstanceOf[PendingRow]
              queue.push(0L, pr)
              if (queue.size > cap) throw new org.apache.spark.SparkException(
                s"graft band-window pending queue exceeds $cap rows; raise " +
                  "spark.graft.window.maxRangeFrameRows or let Spark's " +
                  "spillable window plan this frame")
              var p = 0
              while (p < delayed.length) {
                val k = keyAt(p, pr)
                accs(delayed(p)).arrive(pr.row, k,
                  keyAt(p, queue(cursor(p)).asInstanceOf[PendingRow]))
                last(p) = k
                fill(p)
                p += 1
              }
            } else if (!finished && queue.size > 0) {
              finished = true
              delayed.indices.foreach { p =>
                accs(delayed(p)).finish(suffixes(i)(delayed(p)))
                fill(p)
              }
            } else throw new NoSuchElementException
          }
          throw new IllegalStateException("unreachable")
        }
      }
    }
  }
}
