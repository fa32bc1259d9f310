package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Descending, DynamicPruning, ExprId, Expression, NullsFirst, PlanExpression, Predicate, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ingest.v2.{ExtJsonInputPartition, ExtJsonScan, OrderedBandGroup}

/** The band-layout plumbing every range strategy shares — the ordered
  * scan, the range aggregate, the band windows, the merge join and the
  * interval join all match a plan down to a range-landed drop
  * ([[graft.sink.CorpusSink.landJsonlRangeIndexed]]) and read it band
  * by band.
  *
  * THE PEEL RULE. A band rewrite may be separated from its leaf (a scan
  * relation, a join, or a window) by deterministic Projects and
  * Filters: a row-local Project keeps row order, row count and the
  * band partitioning claim, and removal never reorders. SQL text plans
  * these intermediates routinely — a permuted SELECT list leaves a
  * Project above the pruned scan, an unpushable predicate a residual
  * Filter, and the analyzer puts complex window inputs
  * (`sum(cast(v)) OVER …`) and computed output columns into an
  * ALIASING Project — so without the peel the SQL twin of a DataFrame
  * query silently pays the full exchange. The band KEY itself must
  * still reach the scan unaliased: [[bandKey]] binds it by exprId
  * against the relation's output, so an alias that shadows an indexed
  * column's name never borrows its layout or its sidecar stats, and an
  * ORDER BY over a computed expression refuses. Nondeterministic nodes
  * are row-order-sensitive and stop the peel. The peeled nodes come
  * back innermost-first and [[restage]] rebuilds them above the
  * rewritten leaf in their original nesting.
  *
  * JOIN SIDES are the one exception: their filters and projections run
  * inside the merge and sweep RDDs over the raw scan output, so the
  * side peel admits only attribute-only Projects (pure column selection
  * and permutation) and subquery-free Filters. It DROPS dynamic-pruning
  * conjuncts — runtime filters Spark injects expecting its own shuffle
  * join, redundant by construction (Spark itself replaces an unusable
  * one with `true`, and the band alignment prunes one-sided ranges at
  * plan time).
  */
private[plans] object BandLayout extends PredicateHelper {

  /** Descend through the peelable Projects and Filters of `p`: the leaf
    * and the peeled nodes, innermost first (see the peel rule above).
    */
  def peel(p: LogicalPlan, joinSide: Boolean = false,
      above: List[LogicalPlan] = Nil): (LogicalPlan, List[LogicalPlan]) =
    p match {
      case pr: Project if pr.projectList.forall(e =>
          if (joinSide) e.isInstanceOf[AttributeReference] else e.deterministic) =>
        peel(pr.child, joinSide, pr :: above)
      case f: Filter if f.condition.deterministic && !joinSide =>
        peel(f.child, joinSide, f :: above)
      case f: Filter if f.condition.deterministic =>
        val (dpp, rest) = splitConjunctivePredicates(f.condition)
          .partition(_.isInstanceOf[DynamicPruning])
        if (rest.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) (p, above)
        else if (rest.isEmpty) peel(f.child, joinSide, above)
        else peel(f.child, joinSide,
          (if (dpp.isEmpty) f else Filter(rest.reduce(And), f.child)) :: above)
      case _ => (p, above)
    }

  /** Re-stage the peeled nodes over `base`, innermost first — the
    * original nesting, so a Filter below a Project that drops one of its
    * columns still binds.
    */
  def restage(above: List[LogicalPlan], base: SparkPlan): SparkPlan =
    above.foldLeft(base) {
      case (child, pr: Project) => ProjectExec(pr.projectList, child)
      case (child, f: Filter) => FilterExec(f.condition, child)
      case (_, other) => throw new IllegalStateException(
        s"unpeelable node ${other.nodeName}")
    }

  /** The extjson scan of a peeled leaf. */
  object BandRel {
    def unapply(p: LogicalPlan): Option[(DataSourceV2ScanRelation, ExtJsonScan)] =
      p match {
        case rel: DataSourceV2ScanRelation => rel.scan match {
          case scan: ExtJsonScan => Some((rel, scan))
          case _ => None
        }
        case _ => None
      }
  }

  /** The first of `keys` that is the relation's own output attribute
    * (by exprId) with a proven, non-empty band layout, and its groups.
    */
  def bandKey(rel: DataSourceV2ScanRelation, scan: ExtJsonScan,
      keys: Seq[Expression]): Option[(AttributeReference, Seq[OrderedBandGroup])] =
    keys.iterator.collect {
      case a: AttributeReference if rel.output.exists(_.exprId == a.exprId) => a
    }.flatMap(a => scan.orderedBandPartitions(a.name).filter(_.nonEmpty)
      .map(a -> _)).nextOption()

  /** The band scan under the peeled `above`, in the order `order`
    * (its head the band key): bands in key order, reversed for DESC,
    * with a per-band local sort unless the read itself is the order (a
    * single ASC NULLS FIRST key). `sorted = false` serves the
    * clustering consumers (aggregates, partitioned windows): bands ASC,
    * no ordering claim, no sort.
    */
  def bandScan(rel: DataSourceV2ScanRelation, scan: ExtJsonScan,
      groups: Seq[OrderedBandGroup], order: Seq[SortOrder],
      above: List[LogicalPlan], sorted: Boolean = true): SparkPlan = {
    val desc = sorted && order.head.direction == Descending
    val bands = OrderedBandScanExec(rel.output, order, scan,
      if (desc) groups.reverse else groups,
      // the read streams rows ASC in-band; null ordering is vacuous
      // (the proof is null-free) but the claim must match the ask
      claimOrdering = sorted && !desc && order.length == 1 &&
        order.head.nullOrdering == NullsFirst)
    val chain = restage(above, bands)
    if (!sorted || bands.claimOrdering) chain
    else SortExec(order, global = false, chain)
  }

  /** Scans whose pruned reader mirrors the pruned output: no partition
    * columns, and no pushed aggregate, sort or top-N that could
    * reference a pruned column.
    */
  def prunable(scan: ExtJsonScan): Boolean =
    scan != null && scan.partCols.isEmpty && !scan.aggPushed &&
      scan.pushedSorts.isEmpty && scan.pushedTopN < 0

  /** One join side after the side peel: the scan, the peeled filter
    * conditions (over the scan's raw output), and the side's logical
    * output.
    */
  final case class Side(rel: DataSourceV2ScanRelation, scan: ExtJsonScan,
      filters: Seq[Expression], output: Seq[Attribute]) {
    def owns(a: Attribute): Boolean = output.exists(_.exprId == a.exprId)
    def groups(key: Expression): Option[Seq[OrderedBandGroup]] =
      bandKey(rel, scan, Seq(key)).map(_._2)
    def exec(key: Attribute): MergeSideExec =
      MergeSideExec(rel.output, output, filters,
        rel.output.indexWhere(_.exprId == key.exprId),
        output.indexWhere(_.exprId == key.exprId), scan)
  }

  def side(p: LogicalPlan): Option[Side] = peel(p, joinSide = true) match {
    case (BandRel(rel, scan), ops) =>
      Some(Side(rel, scan, ops.collect { case f: Filter => f.condition }, p.output))
    case _ => None
  }

  /** Column-pruned join sides for the band window's TOTALS pass: each
    * side keeps `needed`, every side key, its filters' columns and the
    * columns of `structural` (residuals, stream filters). None when a
    * side's reader cannot mirror a pruned output — the caller then runs
    * the unpruned plan, never wrong.
    */
  def pruneSides(sides: Seq[MergeSideExec], needed: AttributeSet,
      structural: Seq[Expression]): Option[(Set[ExprId], Seq[MergeSideExec])] =
    if (!sides.forall(s => prunable(s.scan))) None
    else {
      val keep = (needed.toSeq ++ sides.map(_.key) ++
        (sides.flatMap(_.filters) ++ structural).flatMap(_.references))
        .map(_.exprId).toSet
      Some((keep, sides.map { s =>
        val relOut = s.relOutput.filter(a => keep(a.exprId))
        val out = s.output.filter(a => keep(a.exprId))
        MergeSideExec(relOut, out, s.filters,
          relOut.indexWhere(_.exprId == s.key.exprId),
          out.indexWhere(_.exprId == s.key.exprId),
          s.scan.pruneTo(relOut.map(_.name)))
      }))
    }
}

/** One join side, serializable up to the transient scan: the scan's
  * raw output, the peeled filters over it, the side's logical output,
  * and the key's ordinal in both.
  */
final case class MergeSideExec(relOutput: Seq[Attribute],
    output: Seq[Attribute], filters: Seq[Expression],
    relKeyOrdinal: Int, outKeyOrdinal: Int,
    @transient scan: ExtJsonScan) {
  def key: Attribute = relOutput(relKeyOrdinal)
}

/** The row streams every band consumer shares — the ordered scan's RDD
  * and the join sides.
  */
private[plans] object BandStreams {

  def schemaOf(attrs: Seq[Attribute]): StructType =
    DataTypeUtils.fromAttributes(attrs)

  /** `it`'s rows re-laid from the `in` to the `out` attribute order (by
    * exprId); `it` itself when the layouts agree.
    */
  def remap(it: Iterator[InternalRow], in: Seq[Attribute],
      out: Seq[Attribute]): Iterator[InternalRow] =
    if (in.map(_.exprId) == out.map(_.exprId)) it
    else {
      val proj = UnsafeProjection.create(out.map { a =>
        val ix = in.indexWhere(_.exprId == a.exprId)
        BoundReference(ix, a.dataType, a.nullable || in(ix).nullable): Expression
      })
      it.map(proj)
    }

  /** One file's rows in file order: its splits chained, each reader
    * closed EAGERLY at exhaustion — a wide band chops into many splits
    * and one open stream per split held to task completion would
    * exhaust file descriptors; the completion listener stays as the
    * failure-path (task-killed mid-band) safety net, and Hadoop stream
    * close is idempotent.
    */
  def fileRows(factory: PartitionReaderFactory,
      splits: Seq[ExtJsonInputPartition],
      context: TaskContext): Iterator[InternalRow] =
    splits.iterator.flatMap { p =>
      val reader = factory.createReader(p)
      var closed = false
      def closeOnce(): Unit = if (!closed) { closed = true; reader.close() }
      context.addTaskCompletionListener[Unit](_ => closeOnce())
      new Iterator[InternalRow] {
        private var ready = false
        private var done = false
        override def hasNext: Boolean = {
          if (!ready && !done) {
            ready = reader.next()
            if (!ready) { done = true; closeOnce() }
          }
          ready
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          ready = false
          reader.get()
        }
      }
    }

  /** K-way merge of per-file sorted streams under `ord`. Each stream
    * gets its OWN projection (projections reuse their target buffer)
    * and every buffered head is a copy — one live copy per stream;
    * rows come out as UnsafeRows in `schema` order.
    */
  def merged(factory: PartitionReaderFactory,
      files: Seq[Seq[ExtJsonInputPartition]], schema: StructType,
      ord: Ordering[InternalRow],
      context: TaskContext): Iterator[InternalRow] = {
    final class Stream(it: Iterator[InternalRow]) {
      private val proj = UnsafeProjection.create(schema)
      var head: InternalRow = _
      def advance(): Boolean =
        it.hasNext && { head = proj(it.next()).copy(); true }
    }
    val pq = new java.util.PriorityQueue[Stream](files.length,
      (a: Stream, b: Stream) => ord.compare(a.head, b.head))
    files.foreach { splits =>
      val s = new Stream(fileRows(factory, splits, context))
      if (s.advance()) pq.add(s)
    }
    new Iterator[InternalRow] {
      override def hasNext: Boolean = !pq.isEmpty
      override def next(): InternalRow = {
        val s = pq.poll()
        val r = s.head
        if (s.advance()) pq.add(s)
        r
      }
    }
  }

  /** One join side's key-sorted stream over `groups` (disjoint, in min
    * order; each sequential for one file or k-way merged for several),
    * its peeled filters applied and its rows laid out as the side's
    * output.
    */
  def sideRows(s: MergeSideExec, factory: PartitionReaderFactory,
      groups: Seq[OrderedBandGroup], keyType: DataType,
      context: TaskContext, partIndex: Int): Iterator[InternalRow] = {
    val schema = schemaOf(s.relOutput)
    val ord = new LazilyGeneratedOrdering(Seq(SortOrder(
      BoundReference(s.relKeyOrdinal, keyType, nullable = false), Ascending)))
    var it = groups.iterator.flatMap { g =>
      if (g.files.lengthCompare(1) <= 0)
        g.files.iterator.flatMap(fileRows(factory, _, context))
      else merged(factory, g.files, schema, ord, context)
    }
    if (s.filters.nonEmpty) {
      val pred = Predicate.create(s.filters.reduce(And), s.relOutput)
      pred.initialize(partIndex)
      it = it.filter(pred.eval)
    }
    remap(it, s.relOutput, s.output)
  }
}
