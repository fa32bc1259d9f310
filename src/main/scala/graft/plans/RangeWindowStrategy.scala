package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, BindReferences, CurrentRow, Descending, Expression, GenericInternalRow, JoinedRow, Literal, NamedExpression, NullsFirst, RangeFrame, Rank, RowFrame, RowNumber, SortOrder, SpecifiedWindowFrame, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{ExternalAppendOnlyUnsafeRowArray, SortExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.v2.{ExtJsonScan, FilterEval, ZoneMaps}

/** EXCHANGE-FREE global running window over a range-landed drop — the
  * single-partition-collapse rung: `SUM(x) OVER (ORDER BY key)`,
  * `row_number() / rank() OVER (ORDER BY key)` with NO `PARTITION BY` is
  * the canonical "does not scale" shape — Spark's WindowExec requires
  * `AllTuples`, so the ordinary plan funnels the ENTIRE input through one
  * partition (worse than a shuffle: a 100 TB corpus simply cannot run
  * it). Over the [[graft.sink.CorpusSink.landJsonlRangeIndexed]] layout
  * it decomposes exactly: bands are strictly disjoint and internally
  * sorted on the key, so a running aggregate is a per-band LOCAL running
  * aggregate plus a constant per-band PREFIX (the totals of all earlier
  * bands). [[BandRunningWindowExec]] runs the local half over
  * [[OrderedBandScanExec]]'s partitions — full band parallelism, zero
  * exchange — and gets the prefixes either
  *
  *  - from the SIDECAR (`prefix=metadata` in the plan string): when the
  *    scan provably delivers every indexed row (no pushed/runtime
  *    filters, no limit/top-N/agg modes) and every needed total is
  *    derivable (row counts always; exact sums for integer/decimal
  *    columns; min/max for any indexed column), the prefix costs ZERO
  *    reads — the window is planned entirely from metadata; or
  *  - from ONE narrow partials pass (`prefix=computed`): per-partition
  *    totals collected to the driver (a few values per band — the
  *    zipWithIndex shape), then the data streams once more for output.
  *    Two sequential scans beat any exchange at 100 TB, and the pass
  *    runs BELOW the per-band sort when one exists (totals are
  *    order-free).
  *
  * Supported functions — the family whose value at a row depends only
  * on a bounded neighborhood of it in window order, or on the whole
  * partition through an invertible or extreme fold — are parsed into
  * [[RunningWindow.Fn]]s: a frame plus an accumulator kind (invertible:
  * count, sum, avg, the rank family; monotone deque: min/max and the
  * argmax carries; positional: lag, lead, first, last, nth). `parse`
  * below is the single list of accepted shapes; everything else —
  * distinct or filtered aggregates, UNBOUNDED FOLLOWING beyond the
  * suffix frame, expression offsets or defaults, huge bounds, a node
  * mixing a RANGE … FOLLOWING frame with a row-count forward frame —
  * falls through to Spark's ordinary window. EXACT — no opt-in conf; any
  * unprovable layout falls through like the ordered scan does. A
  * `PARTITION BY` window never matches the decomposition (Spark's own
  * hash-partitioned WindowExec already scales that shape — the second
  * rule below re-stages it over the band scan instead).
  */
class RangeWindowStrategy(session: SparkSession) extends SparkStrategy {
  import BandLayout.{BandRel, bandKey, bandScan, peel, restage}
  import RunningWindow._

  /** The merge-join and interval-sweep matchers, for composing a running
    * window over a provable join chain: both execs claim ordering and
    * RangePartitioning on their key — exactly the child contract the
    * band window needs.
    */
  private lazy val mergeJoin = new RangeMergeJoinStrategy(session)
  private lazy val intervalJoin = new RangeIntervalJoinStrategy(session)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Window(windowExprs, Seq(), orderSpec, child, _)
        if orderSpec.nonEmpty && windowExprs.nonEmpty &&
          orderSpec.forall(_.references.subsetOf(child.outputSet)) =>
      orderSpec.head match {
        case first @ SortOrder(attr: AttributeReference,
            Ascending | Descending, _, _) =>
          val parsed = windowExprs.map(parse(_, child.outputSet, orderSpec))
          if (parsed.exists(_.isEmpty)) return Nil
          val funcs = parsed.map(_.get)
          if (!RunningWindow.delayCompatible(funcs)) return Nil
          // a join chain or an inner band window streams ASC on its own
          // key, in ASC partition order: only ASC NULLS FIRST on that
          // key reuses it (a local sort adds any tiebreak keys)
          val asc = first.direction == Ascending && first.nullOrdering == NullsFirst
          def onKey(ordering: Seq[SortOrder]) = ordering.headOption.exists(o =>
            o.direction == Ascending && (o.child match {
              case a: AttributeReference => a.exprId == attr.exprId
              case _ => false
            }))
          def overChain(exec: SparkPlan, above: List[LogicalPlan]) = {
            val chain = restage(above, exec)
            if (orderSpec.length == 1) chain
            else SortExec(orderSpec, global = false, chain)
          }
          val planned: Option[(SparkPlan, Option[Seq[Array[Any]]])] =
            peel(child) match {
              case (BandRel(rel, scan), above)
                  // value-frame population bound: a RANGE frame denser
                  // than the configured cap must run on Spark's
                  // spillable WindowExec, not an in-memory deque
                  if rangeFramesBounded(scan, attr.name, funcs) =>
                bandKey(rel, scan, Seq(attr)).map { case (_, groups) =>
                  // the metadata prefix is sound only when nothing
                  // between the scan and the window drops rows: the
                  // scan itself proves its side (orderedBandFileStats
                  // refuses under any pushed filter/limit/agg mode), and
                  // a peeled residual Filter above it must refuse too
                  (bandScan(rel, scan, groups, orderSpec, above),
                    if (above.exists(_.isInstanceOf[Filter])) None
                    else metadataTotals(scan, rel.output, attr.name, funcs,
                      first.direction == Descending))
                }
              // a running window OVER A MERGE OR INTERVAL JOIN CHAIN: the
              // window decomposes over the chain's partitions exactly as
              // over the scan's bands (prefixes always computed — join
              // output sizes have no sidecar form; the totals pass
              // streams the chain once more, still zero exchange)
              case (join: Join, above) if asc =>
                mergeJoin.planChain(join).orElse(intervalJoin.planJoin(join))
                  .filter(exec => onKey(exec.outputOrdering))
                  .map(exec => (overChain(exec, above), None))
              // STACKED windows — a window over another window's OUTPUTS
              // (the sessionization idiom: lag-flag the gaps, then
              // session-id = running SUM of the flags; the analyzer
              // stacks the nodes because the outer's inputs are the
              // inner's outputs). The inner plans with THIS strategy; a
              // band-window result claims its child's ordering and range
              // partitioning, so the outer decomposes over ITS partitions
              // (prefixes computed — the inner window re-executes for
              // the totals pass; never a collapse)
              case (inner: Window, above) if asc =>
                apply(inner) match {
                  case Seq(exec: BandRunningWindowExec) if onKey(exec.outputOrdering) =>
                    Some((overChain(exec, above), None))
                  case _ => None
                }
              case _ => None
            }
          planned.map { case (sortedChild, metadata) =>
            BandRunningWindowExec(windowExprs, funcs, orderSpec, metadata,
              sortedChild)
          }.toList
        case _ => Nil
      }
    // PARTITION BY containing the band key: Spark's OWN WindowExec runs
    // over the band scan with zero exchange — the layout's
    // RangePartitioning claim satisfies its ClusteredDistribution (equal
    // keys never straddle bands), and EnsureRequirements adds only the
    // LOCAL per-band sort its ordering requirement asks for. FULL window
    // generality (any function, any frame, lead, ntile, sliding windows)
    // because the evaluation is Spark's, not ours — the decomposition
    // trick is only needed when there is no partitioning to cluster by.
    case org.apache.spark.sql.catalyst.planning.PhysicalWindow(
        org.apache.spark.sql.catalyst.expressions.WindowFunctionType.SQL,
        windowExprs, partSpec, orderSpec, child)
        if partSpec.nonEmpty =>
      // the SQL gate mirrors Spark's own Window strategy: a Python /
      // pandas window function must route to WindowInPandasExec, which
      // only the builtin strategy plans — fall through for those.
      // FLOAT/DOUBLE partition keys arrive wrapped in
      // KnownFloatingPointNormalized(NormalizeNaNAndZero(...)) and fall
      // through too, CORRECTLY: the normalization clusters -0.0 with
      // 0.0, but the raw band layout may place them in different bands
      // (the sidecar's total order distinguishes them), so the layout
      // cannot honestly satisfy the normalized clustering.
      //
      // GROUP-TOP-N composes: `rank() OVER (PARTITION BY key …) <= k`
      // makes InferWindowGroupLimit insert a WindowGroupLimit directly
      // under the Window — strip it here and re-stage it as the
      // FINAL-mode exec over the band scan (its clustered distribution
      // is the same one the band claim satisfies; exact over clustered
      // input, and the rank Filter above re-checks regardless). The
      // best-k-documents-per-group curation shape, zero exchange.
      val (wgl, inner) = child match {
        case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit =>
          (Some(w), w.child)
        case other => (None, other)
      }
      peel(inner) match {
        case (BandRel(rel, scan), above) =>
          bandKey(rel, scan, partSpec).map { case (k, groups) =>
            val bands = bandScan(rel, scan, groups,
              Seq(SortOrder(k, Ascending)), above, sorted = false)
            val limited = wgl.fold(bands)(w =>
              org.apache.spark.sql.execution.window.WindowGroupLimitExec(
                w.partitionSpec, w.orderSpec, w.rankLikeFunction, w.limit,
                org.apache.spark.sql.execution.window.Final, bands))
            org.apache.spark.sql.execution.window.WindowExec(
              windowExprs, partSpec, orderSpec, limited)
          }.toList
        case _ => Nil
      }
    case _ => Nil
  }

  /** One window expression → its running-function spec, or None (the
    * whole strategy then refuses — partial acceleration would still plan
    * Spark's single-partition WindowExec for the rest, gaining nothing).
    */
  private def parse(ne: NamedExpression,
      childOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      orderSpec: Seq[SortOrder]): Option[Fn] = ne match {
    case Alias(we @ WindowExpression(fn, spec), _)
        if spec.partitionSpec.isEmpty &&
          fn.references.subsetOf(childOut) && fn.deterministic =>
      // Right(rows?) = cumulative (UNBOUNDED PRECEDING..CURRENT ROW;
      // true = ROWS, false = RANGE); Left(n) = the bounded sliding
      // frame ROWS BETWEEN n PRECEDING AND CURRENT ROW (the optimizer
      // folds `n PRECEDING` to a negative literal by planning time)
      val frame: Option[Either[Int, Boolean]] =
        spec.frameSpecification match {
          case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) =>
            Some(Right(true))
          case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow) =>
            Some(Right(false))
          case SpecifiedWindowFrame(RowFrame, Literal(lo: Int, _), CurrentRow)
              // bounded: the frame's values live on the heap, so a huge
              // frame falls through to Spark's own (spilling) window
              if lo < 0 && lo >= -65536 => Some(Left(-lo))
          case _ => None
        }
      // `RANGE BETWEEN x PRECEDING AND [CURRENT ROW | y PRECEDING]` —
      // the VALUE-based sliding frame (a 7-DAY mean over a day key, not
      // 7 rows; `13 PRECEDING AND 7 PRECEDING` is the LAGGED-window
      // twin): frame membership is a key-distance test, so the buffer
      // holds only the rows whose key is within x of the current one —
      // in the KEY's own units. Integral keys take integral boundaries;
      // DATE keys take whole-day `INTERVAL 'x' DAY` boundaries (dates
      // are day numbers internally, so the distance arithmetic is
      // identical; sub-day intervals never reach us — the analyzer
      // rejects them) or CALENDAR `INTERVAL 'm' MONTH` boundaries
      // (month distance is monotone in the key: the bound is
      // `add_months(current, -m)` with Spark's own month-end clamping,
      // so the same front-eviction applies — the 3-month rolling mean);
      // both bounds of a dual-bound frame must be the same kind (a
      // month lower against a day upper has no shared unit and refuses)
      val rangeSlide: Option[Frame] = {
        import org.apache.spark.sql.types.{DateType, DayTimeIntervalType, YearMonthIntervalType}
        val keyDt = orderSpec.head.child.dataType
        // one boundary expression → (kind, distance ≥ 0): kind 0 =
        // fixed (linear key units), 1 = calendar months over a DATE
        // key, 2 = calendar months over a TIMESTAMP key (session-tz
        // wall-clock arithmetic), 3 = months over TIMESTAMP_NTZ
        // (zone-less local arithmetic). Wrap guards: Long.MinValue
        // negates to itself, and a distance of exactly Long.MaxValue
        // would tie the eviction's wrapped-distance clamp (dist caps at
        // MaxValue, which must stay > d) — frames that wide refuse
        def bound(e: Expression, allowZero: Boolean)
            : Option[(Int, Long)] = e match {
          case CurrentRow if allowZero => Some((0, 0L))
          case l: Literal if l.value != null =>
            (keyDt, l.dataType) match {
              case (kdt, bdt) if integralVal(kdt) && integralVal(bdt) &&
                  asLong(l.value) < 0 && asLong(l.value) > -Long.MaxValue =>
                Some((0, -asLong(l.value)))
              case (DateType, _: DayTimeIntervalType) =>
                val micros = l.value.asInstanceOf[java.lang.Long].longValue()
                val MicrosPerDay = 86400L * 1000000L
                if (micros < 0 && micros % MicrosPerDay == 0L)
                  Some((0, -(micros / MicrosPerDay)))
                else None
              case (DateType, _: YearMonthIntervalType) =>
                // year-month intervals are month counts internally
                // (years arrive ×12) — LocalDate calendar arithmetic
                // with Spark's month-end clamping
                val months = l.value.asInstanceOf[java.lang.Integer].intValue()
                if (months < 0 && months > Int.MinValue)
                  Some((1, -months.toLong))
                else None
              // month intervals over a TIMESTAMP key: the bound is
              // Spark's own TimestampAddYMInterval arithmetic —
              // session-timezone wall-clock month adds with month-end
              // clamping (DateTimeUtils.timestampAddMonths), still
              // monotone in the key, so the same front-eviction applies
              case (org.apache.spark.sql.types.TimestampType,
                  _: YearMonthIntervalType) =>
                val months = l.value.asInstanceOf[java.lang.Integer].intValue()
                if (months < 0 && months > Int.MinValue)
                  Some((2, -months.toLong))
                else None
              // TIMESTAMP_NTZ month adds are zone-less local-calendar
              // arithmetic — the same adds pinned at UTC
              case (org.apache.spark.sql.types.TimestampNTZType,
                  _: YearMonthIntervalType) =>
                val months = l.value.asInstanceOf[java.lang.Integer].intValue()
                if (months < 0 && months > Int.MinValue)
                  Some((3, -months.toLong))
                else None
              // TIMESTAMP keys are microsecond counts — ANY day-time
              // interval is already in the key's unit (the sliding
              // 15-minute event-time window, exact to the microsecond)
              case (org.apache.spark.sql.types.TimestampType |
                  org.apache.spark.sql.types.TimestampNTZType,
                  _: DayTimeIntervalType) =>
                val micros = l.value.asInstanceOf[java.lang.Long].longValue()
                if (micros < 0 && micros > -Long.MaxValue) Some((0, -micros))
                else None
              case _ => None
            }
          case _ => None
        }
        spec.frameSpecification match {
          case SpecifiedWindowFrame(RangeFrame, loE, hiE)
              if orderSpec.lengthCompare(1) == 0 =>
            (bound(loE, allowZero = false), bound(hiE, allowZero = true))
              match {
              case (Some((loM, lo)), Some((hiM, hi)))
                  // the CurrentRow upper (hi = 0) pairs with any kind;
                  // an explicit upper must match the lower's
                  if lo >= hi && (hi == 0L || loM == hiM) =>
                val desc = orderSpec.head.direction == Descending
                def fr(d: Dist) = Some(Frame(false, Some(-lo), Some(-hi), desc, d))
                loM match {
                  case 0 => fr(Linear)
                  case 1 => fr(Months(None))
                  // ts-months: SINGLE-bound frames only (upper =
                  // CURRENT ROW). A dual-bound upper inverts on the
                  // clamp plateau like the lower does, and matching
                  // Spark's forward-only upper pointer would need its
                  // running-max state carried across bands — refuse
                  // the lagged ts-month shape to Spark instead
                  case 2 if hi == 0L =>
                    fr(Months(Some(session.sessionState.conf.sessionLocalTimeZone)))
                  case 3 if hi == 0L => fr(Months(Some("UTC")))
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }
      }
      // `RANGE BETWEEN d1 PRECEDING|CURRENT ROW AND f FOLLOWING` — the
      // VALUE-based FOLLOWING frame (the ±window around each event):
      // rows release from a pending queue once a key strictly beyond
      // the frame end arrives. Kinds: FIXED (integral / whole-day /
      // any day-time over timestamps), or MONTHLY over a DATE key
      // (add_months bounds — non-strictly monotone over dates, so the
      // per-row release bound add_months(rk, +m) is a valid release
      // test; ASC only, and both explicit bounds must be months).
      // Month-forward over TIMESTAMP keys refuses (the ts clamp
      // plateau inverts with time-of-day — see RunningWindow.Frame)
      val rangeFwd: Option[Frame] =
        spec.frameSpecification match {
        case SpecifiedWindowFrame(RangeFrame, loE, hiE)
            if orderSpec.lengthCompare(1) == 0 =>
          import org.apache.spark.sql.types.{DateType, DayTimeIntervalType, YearMonthIntervalType}
          val keyDt = orderSpec.head.child.dataType
          val MicrosPerDay = 86400L * 1000000L
          // kind: 0 = fixed, 1 = months over a DATE key, -1 = the
          // CURRENT ROW bound (zero in either kind's units)
          def fixed(e: Expression, sign: Int, allowZero: Boolean)
              : Option[(Int, Long)] = e match {
            case CurrentRow if allowZero => Some((-1, 0L))
            case l: Literal if l.value != null =>
              (keyDt, l.dataType) match {
                case (kdt, bdt) if integralVal(kdt) && integralVal(bdt) &&
                    asLong(l.value) * sign > 0 &&
                    asLong(l.value) != Long.MinValue &&
                    math.abs(asLong(l.value)) < Long.MaxValue =>
                  Some((0, math.abs(asLong(l.value))))
                case (DateType, _: DayTimeIntervalType) =>
                  val micros = l.value.asInstanceOf[java.lang.Long].longValue()
                  if (micros * sign > 0 && micros % MicrosPerDay == 0L)
                    Some((0, math.abs(micros / MicrosPerDay)))
                  else None
                case (DateType, _: YearMonthIntervalType)
                    if orderSpec.head.direction == Ascending =>
                  val months = l.value.asInstanceOf[java.lang.Integer]
                    .intValue()
                  if (months * sign > 0 && months > Int.MinValue)
                    Some((1, math.abs(months.toLong)))
                  else None
                case (org.apache.spark.sql.types.TimestampType |
                    org.apache.spark.sql.types.TimestampNTZType,
                    _: DayTimeIntervalType) =>
                  val micros = l.value.asInstanceOf[java.lang.Long].longValue()
                  if (micros * sign > 0 && micros != Long.MinValue &&
                    math.abs(micros) < Long.MaxValue)
                    Some((0, math.abs(micros)))
                  else None
                case _ => None
              }
            case _ => None
          }
          (fixed(loE, -1, allowZero = true), fixed(hiE, 1, allowZero = false))
            match {
            case (Some((k1, d1)), Some((k2, f)))
                // CURRENT ROW (-1) pairs with either kind; explicit
                // bounds must agree. The combined fixed width must not
                // saturate the release and eviction arithmetic
                if (k1 == -1 || k1 == k2) && k2 != -1 &&
                  (k2 == 1 || d1 < Long.MaxValue - f) =>
              Some(Frame(false, Some(-d1), Some(f),
                orderSpec.head.direction == Descending,
                if (k2 == 1) Months(None) else Linear))
            case _ => None
          }
        case _ => None
      }
      // `ROWS BETWEEN n PRECEDING|CURRENT ROW AND m FOLLOWING` — the
      // bounded FOLLOWING frame (the centered moving average): a row
      // waits until row +m arrives; same 65,536 guard as the other
      // bounded frames
      val rowsFwd: Option[Frame] = spec.frameSpecification match {
        case SpecifiedWindowFrame(RowFrame, lo, Literal(m: Int, _))
            if m > 0 && m <= 65536 =>
          lo match {
            case CurrentRow => Some(Frame(true, Some(0L), Some(m.toLong)))
            case Literal(l: Int, _) if l < 0 && l >= -65536 =>
              Some(Frame(true, Some(l.toLong), Some(m.toLong)))
            case _ => None
          }
        case _ => None
      }
      // `CURRENT ROW AND UNBOUNDED FOLLOWING` — the SUFFIX frame (the
      // "remaining total from here" shape): invertible aggregates
      // derive it as grand − prefix (the Inv kind)
      val suffixFrame: Option[Boolean] = spec.frameSpecification match {
        case SpecifiedWindowFrame(RowFrame, CurrentRow,
            org.apache.spark.sql.catalyst.expressions.UnboundedFollowing) =>
          Some(true)
        case SpecifiedWindowFrame(RangeFrame, CurrentRow,
            org.apache.spark.sql.catalyst.expressions.UnboundedFollowing) =>
          Some(false)
        case _ => None
      }
      val ansi = session.sessionState.conf.ansiEnabled
      val cap = RangeWindowStrategy.maxRangeFrameRows(session)
      val key = orderSpec.head.child
      val desc = orderSpec.head.direction == Descending
      def cumul(rows: Boolean) = Frame(rows, None, Some(0L))
      def posFn(lg: Expression, input: Expression, ign: Boolean,
          offset: Expression)(f: (Int, Any) => Option[Fn]) =
        constDefault(lg, input.dataType).flatMap(d => offset match {
          case Literal(k: Int, _) if k >= 1 && k <= 65536 => f(k, d)
          case _ => None
        })
      // Pos(pick, fromEnd, ignoreNulls, default): lag reads the entry n
      // rows back, lead n rows ahead; IGNORE NULLS admits non-nulls only,
      // so lag reads the n-th most recent one and lead the n-th next
      // (no bounded forward end: a null run defers it — the partition
      // is buffered, spillable, its values cap-guarded). Constant
      // defaults only (the analyzer coerces them to the input type).
      (fn, frame) match {
        case (ae: AggregateExpression, None)
            if suffixFrame.isDefined && !ae.isDistinct && ae.filter.isEmpty =>
          val fr = Frame(suffixFrame.get, Some(0L), None)
          ae.aggregateFunction match {
            case c: Count if c.children.lengthCompare(1) == 0 =>
              Some(Fn(Inv(Op.Count), c.children.head, fr))
            // grand − prefix must equal the per-row refold: ANSI long sums
            // refuse (a refold can overflow where the subtraction does
            // not), doubles refuse (subtraction is not the refold's IEEE
            // value); decimals and wrapping longs are exact
            case s: Sum => s.dataType match {
              case LongType if !ansi => Some(Fn(Inv(Op.SumLong(false)), s.child, fr))
              case d: DecimalType => Some(Fn(Inv(Op.SumDecimal(d, ansi)), s.child, fr))
              case _ => None
            }
            case a: org.apache.spark.sql.catalyst.expressions.aggregate.Average
                if a.dataType == DoubleType && integralVal(a.child.dataType) =>
              Some(Fn(Inv(Op.AvgExact), a.child, fr))
            // not invertible: the deque over the buffered partition,
            // seeded with the later bands' fold
            case m: Min if orderable(m.dataType) =>
              Some(Fn(Mono(m.dataType, isMin = true), m.child, fr, cap = cap))
            case m: Max if orderable(m.dataType) =>
              Some(Fn(Mono(m.dataType, isMin = false), m.child, fr, cap = cap))
            // the global last value (the grand fold); IGNORE NULLS is not
            // constant over all-null tails and refuses
            case l: org.apache.spark.sql.catalyst.expressions.aggregate.Last
                if !l.ignoreNulls && orderable(l.dataType) =>
              Some(Fn(Pos(0, fromEnd = true, ignoreNulls = false), l.child, fr))
            case _ => None
          }
        case (_: RowNumber, Some(Right(true))) =>
          Some(Fn(Inv(Op.RowNumber), null, cumul(true)))
        case (_: Rank, Some(Right(true))) => Some(Fn(Inv(Op.Rank), null, cumul(false)))
        // the size-based rank family divides by the GLOBAL row count (the
        // grand fold); their frames are the analyzer's rank-like shapes
        case (_: org.apache.spark.sql.catalyst.expressions.DenseRank, _) =>
          Some(Fn(Inv(Op.DenseRank(orderSpec)), null, cumul(false)))
        case (_: org.apache.spark.sql.catalyst.expressions.PercentRank, _) =>
          Some(Fn(Inv(Op.PercentRank), null, cumul(false)))
        case (_: org.apache.spark.sql.catalyst.expressions.CumeDist, _) =>
          Some(Fn(Inv(Op.CumeDist), null, cumul(false)))
        case (nt: org.apache.spark.sql.catalyst.expressions.NTile, _) =>
          nt.buckets match {
            case Literal(b: Int, _) if b > 0 => Some(Fn(Inv(Op.NTile(b)), null, cumul(true)))
            case _ => None
          }
        case (lg: org.apache.spark.sql.catalyst.expressions.Lag, _)
            if orderable(lg.input.dataType) =>
          posFn(lg.default, lg.input, lg.ignoreNulls, lg.inputOffset) { (k, d) =>
            Some(if (lg.ignoreNulls) Fn(Pos(k - 1, fromEnd = true, ignoreNulls = true, d),
                lg.input, Frame(true, None, Some(-1L)))
              else Fn(Pos(0, fromEnd = false, ignoreNulls = false, d), lg.input,
                Frame(true, Some(-k.toLong), Some(-k.toLong))))
          }
        case (ld: org.apache.spark.sql.catalyst.expressions.Lead, _)
            if orderable(ld.input.dataType) =>
          posFn(ld.default, ld.input, ld.ignoreNulls, ld.offset) { (k, d) =>
            Some(if (ld.ignoreNulls) Fn(Pos(k - 1, fromEnd = false, ignoreNulls = true, d),
                ld.input, Frame(true, Some(1L), None), cap = cap)
              else Fn(Pos(0, fromEnd = false, ignoreNulls = false, d), ld.input,
                Frame(true, Some(k.toLong), Some(k.toLong))))
          }
        case (ae: AggregateExpression, Some(Right(rows)))
            if !ae.isDistinct && ae.filter.isEmpty =>
          slideOpFor(ae).map { case (in, k) => Fn(k, in, cumul(rows)) }.orElse(
            ae.aggregateFunction match {
              // the carries: last non-null, first (non-null) value, and
              // the argmax (stream-first wins ordering ties, like Spark)
              case l: org.apache.spark.sql.catalyst.expressions.aggregate.Last
                  if l.ignoreNulls && orderable(l.dataType) =>
                Some(Fn(Pos(0, fromEnd = true, ignoreNulls = true), l.child, cumul(rows)))
              case f: org.apache.spark.sql.catalyst.expressions.aggregate.First
                  if orderable(f.dataType) =>
                Some(Fn(Pos(0, fromEnd = false, f.ignoreNulls), f.child, cumul(rows)))
              case mb: org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
                  if orderable(mb.valueExpr.dataType) &&
                    orderable(mb.orderingExpr.dataType) =>
                Some(Fn(Mono(mb.orderingExpr.dataType, isMin = false, mb.orderingExpr),
                  mb.valueExpr, cumul(rows)))
              case mb: org.apache.spark.sql.catalyst.expressions.aggregate.MinBy
                  if orderable(mb.valueExpr.dataType) &&
                    orderable(mb.orderingExpr.dataType) =>
                Some(Fn(Mono(mb.orderingExpr.dataType, isMin = true, mb.orderingExpr),
                  mb.valueExpr, cumul(rows)))
              case _ => None
            })
        case (nv: org.apache.spark.sql.catalyst.expressions.NthValue,
            Some(Right(rows))) if orderable(nv.input.dataType) =>
          nv.offset match {
            case Literal(k: Int, _) if k >= 1 && k <= 65536 =>
              Some(Fn(Pos(k - 1, fromEnd = false, nv.ignoreNulls), nv.input, cumul(rows)))
            case _ => None
          }
        // bounded ROWS frames (trailing, or FOLLOWING through the delay)
        // and value frames (trailing, lagged, or ±FOLLOWING), one fold
        // set; value frames carry the key and the runtime cap
        case (ae: AggregateExpression, _)
            if !ae.isDistinct && ae.filter.isEmpty => (frame match {
              case Some(Left(n)) => Some(Frame(true, Some(-n.toLong), Some(0L)))
              case _ => rowsFwd
            }).map(f => (f, false)).orElse(rangeSlide.orElse(rangeFwd).map(f => (f, true)))
            .flatMap { case (fr, keyed) =>
              slideOpFor(ae).map { case (in, k) =>
                if (keyed) Fn(k, in, fr, key, cap) else Fn(k, in, fr)
              }
            }
        case _ => None
      }
    case _ => None
  }

  /** The aggregate folds shared by every bounded frame: (input, kind),
    * or None outside count/sum/avg/min/max. Overflow follows the
    * session's ANSI setting, exactly as WindowExec's Sum would.
    */
  private def slideOpFor(ae: AggregateExpression): Option[(Expression, Kind)] = {
    val ansi = session.sessionState.conf.ansiEnabled
    ae.aggregateFunction match {
      case c: Count if c.children.lengthCompare(1) == 0 =>
        Some((c.children.head, Inv(Op.Count)))
      case s: Sum => s.dataType match {
        case LongType => Some((s.child, Inv(Op.SumLong(ansi))))
        case DoubleType => Some((s.child, Inv(Op.SumDouble)))
        case d: DecimalType => Some((s.child, Inv(Op.SumDecimal(d, ansi))))
        case _ => None
      }
      case a: org.apache.spark.sql.catalyst.expressions.aggregate.Average
          if a.dataType == DoubleType =>
        Some((a.child, Inv(Op.AvgDouble)))
      case m: Min if orderable(m.dataType) => Some((m.child, Mono(m.dataType, isMin = true)))
      case m: Max if orderable(m.dataType) => Some((m.child, Mono(m.dataType, isMin = false)))
      case _ => None
    }
  }

  /** Types whose internal value the RANGE frame's key-distance
    * arithmetic can read as a long (dates excluded: their SQL frame
    * boundaries are intervals, not bare integers).
    */
  private def integralVal(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  private def asLong(v: Any): Long = v.asInstanceOf[Number].longValue()

  /** lag/lead default as a plan-time constant, or None (an expression
    * default — rare, but legal SQL — refuses the whole strategy). The
    * analyzer coerces a constant default to the input type, so a typed
    * literal either matches or the shape is one we must not guess at.
    */
  private def constDefault(e: Expression, dt: DataType): Option[Any] =
    e match {
      case Literal(null, _) => Some(null)
      case Literal(v, ldt) if ldt == dt => Some(v)
      case _ => None
    }

  /** Atomic orderable types whose values the accumulator can RETAIN
    * safely (UTF8String is cloned; the rest are immutable) — arrays,
    * maps, and structs would alias the transient row buffer.
    */
  private def orderable(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | StringType | DateType | TimestampType |
          TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Per-partition (= per final group, post-reverse for DESC) TOTALS for
    * every function, straight from the sidecar — None if any single
    * total is underivable (the exec then computes them all in one pass;
    * mixing sources would read the data anyway). A function input maps
    * to a sidecar column only when it is the SCAN'S OWN output attribute
    * (exprId check): a peeled Project alias that SHADOWS an indexed
    * column's name (`(k+1).as("v")`) must never borrow the real column's
    * stats — that would be a silently wrong prefix, the one forbidden
    * outcome.
    */
  private def metadataTotals(scan: ExtJsonScan, relOutput: Seq[Attribute],
      keyCol: String, funcs: Seq[Fn],
      desc: Boolean): Option[Seq[Array[Any]]] = {
    def scanCol(e: Expression): Option[String] = e match {
      case a: AttributeReference
          if relOutput.exists(o => o.exprId == a.exprId) => Some(a.name)
      case _ => None
    }
    scan.orderedBandFileStats(keyCol).flatMap { groups0 =>
      val groups = if (desc) groups0.reverse else groups0
      val out = groups.map { files =>
        val rows = files.map(_.cols(keyCol).rows).sum
        def stats(input: Expression) =
          scanCol(input).flatMap(colTotals(files, _))
        def nonNull(cs: Seq[ZoneMaps.ColStats]) = cs.map(c => c.rows - c.nulls).sum
        // exact sums when every file records one
        def exact(cs: Seq[ZoneMaps.ColStats]) =
          if (cs.exists(_.sum.isEmpty)) None
          else Some(cs.flatMap(_.sum).foldLeft(java.math.BigDecimal.ZERO)(_.add(_)))
        // summary totals only: buffered frames and order-dependent folds
        // (doubles, carries, positions) have no sidecar form
        val totals = funcs.map { f =>
          f.kind match {
            case Inv(op) if !f.buffered => op match {
              case _ if op.rowsOnly => Some(Tot(rows, null))
              case Op.Count => f.input match {
                case l: Literal => Some(Tot(if (l.value == null) 0L else rows, null))
                case in => stats(in).map(cs => Tot(nonNull(cs), null))
              }
              case Op.SumLong(ansi) => stats(f.input).flatMap(cs => exact(cs).flatMap { s =>
                // ANSI: an overflowing band total would have thrown in
                // the data pass — refuse the shortcut rather than differ;
                // default mode WRAPS: the low 64 bits of the exact sum
                val l = if (ansi) try Some(s.longValueExact())
                  catch { case _: ArithmeticException => None }
                  else Some(s.toBigInteger.longValue())
                l.map(v => Tot(nonNull(cs), java.lang.Long.valueOf(v)))
              })
              case _: Op.SumDecimal | Op.AvgExact =>
                stats(f.input).flatMap(cs => exact(cs).map(Tot(nonNull(cs), _)))
              // dense_rank's prefix is the earlier bands' DISTINCT-KEY
              // count — the v4 sidecar records exact per-file distincts
              // for monotone columns, and strict band disjointness makes
              // them additive ACROSS groups; valid only when the window
              // orders by exactly the band key (a tiebreak column would
              // split tie groups the key-only count can't see)
              case Op.DenseRank(order) =>
                val keyOnly = order.lengthCompare(1) == 0 &&
                  (order.head.child match {
                    case a: AttributeReference => a.name == keyCol &&
                      relOutput.exists(_.exprId == a.exprId)
                    case _ => false
                  })
                if (!keyOnly) None
                else relOutput.find(_.name == keyCol)
                  .flatMap(a => chainDistinct(files, keyCol, a.dataType))
                  .map(d => Tot(d.longValue(), null))
              case _ => None
            }
            // min/max (cumulative or suffix): a stats row exists for
            // every file; empty min/max means an all-null file — neutral
            case Mono(dt, isMin, null) if !f.buffered || f.frame.hi.isEmpty =>
              stats(f.input).map { cs =>
                val vals = cs.flatMap(c => if (isMin) c.min else c.max)
                if (vals.isEmpty) null
                else vals.reduce((x, y) =>
                  if ((FilterEval.compareInternal(dt, x, y) < 0) == isMin) x else y)
              }
            case _ => None
          }
        }
        if (totals.exists(_.isEmpty)) None
        else Some(totals.map(_.get.asInstanceOf[Any]).toArray)
      }
      if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
    }
  }

  private def colTotals(files: Seq[ZoneMaps.FileStats],
      col: String): Option[Seq[ZoneMaps.ColStats]] = {
    val cs = files.map(_.cols.get(col))
    if (cs.exists(_.isEmpty)) None else Some(cs.map(_.get))
  }

  /** Exact distinct-key count of one band GROUP from the v4 sidecar's
    * per-file distincts. One file answers directly; a multi-file group
    * (files merged because their ranges touch or overlap) folds when
    * the files form a CHAIN overlapping in at most single boundary
    * values: counts ADD, minus one per adjacent pair sharing its
    * boundary (min/max ARE that boundary for a monotone null-free
    * file) — the same rule the metadata COUNT(DISTINCT) pushdown
    * applies across files. Genuine overlap returns None (the distincts
    * would double-count unknowably), falling back to the computed pass.
    */
  private def chainDistinct(files: Seq[ZoneMaps.FileStats], keyCol: String,
      dt: DataType): Option[java.lang.Long] = {
    val stats = files.flatMap { f =>
      f.cols.get(keyCol) match {
        case Some(cs) =>
          if (cs.rows - cs.nulls == 0L) None // contributes no keys
          else if (cs.distinct.isEmpty || cs.min.isEmpty) return None
          else Some((cs.min.get, cs.max.get, cs.distinct.get))
        case None => return None
      }
    }
    if (stats.isEmpty) return Some(java.lang.Long.valueOf(0L))
    val sorted = stats.sortWith((a, b) =>
      FilterEval.compareInternal(dt, a._1, b._1) < 0)
    var total = sorted.head._3
    var prevMax = sorted.head._2
    sorted.drop(1).foreach { case (mn, mx, d) =>
      val c = FilterEval.compareInternal(dt, mn, prevMax)
      if (c < 0) return None // genuine overlap
      total += d - (if (c == 0) 1L else 0L)
      if (FilterEval.compareInternal(dt, mx, prevMax) > 0) prevMax = mx
    }
    Some(java.lang.Long.valueOf(total))
  }

  /** Plan-time population bound for value-based RANGE frames: an upper
    * bound on the densest frame's row count, from the sidecar's per-file
    * (key min, key max, rows). A frame ending at key c holds only rows
    * of files whose [min, max] intersects [c − lo, c], so the max over c
    * of that file-row sum bounds every frame; the sweep evaluates it at
    * arrival points (the sum only grows there). Over-estimates freely
    * (whole files count even when one row overlaps) — it only gates
    * whether the in-memory buffer is SAFE; the runtime cap still guards
    * paths with no stats (filtered scans, chain windows). Returns true
    * when every frame provably fits, false to refuse to Spark's
    * spillable WindowExec, true-with-runtime-guard when stats are
    * underivable.
    */
  private def rangeFramesBounded(scan: ExtJsonScan, keyCol: String,
      funcs: Seq[Fn]): Boolean = {
    // frame widths whose window population the sweep must bound: the
    // PRECEDING width for trailing frames, d1+f for ±FOLLOWING frames
    // (the buffer plus the pending queue both live inside that window)
    val MicrosPerDay = 86400L * 1000000L
    val widths = funcs.filter(_.key != null).map { f =>
      val d1 = -f.frame.lo.get
      val fw = math.max(0L, f.frame.hi.get)
      f.frame.dist match {
        // months → conservative day width (31 days each + slack), in
        // micros over ts keys (saturating: ~3.4M+ months overflow)
        case Months(None) => if (fw > 0) 31L * (d1 + fw) + 6L else 31L * d1 + 3L
        case Months(Some(_)) =>
          val days = 31L * d1 + 3L
          if (days > Long.MaxValue / MicrosPerDay) Long.MaxValue - 1
          else days * MicrosPerDay
        case Linear =>
          if (fw == 0L) d1
          else if (d1 > Long.MaxValue - fw - 1) Long.MaxValue - 1
          else d1 + fw + 1
      }
    }
    val wholeBand = funcs.exists(_.whole)
    if (widths.isEmpty && !wholeBand) return true
    val cap = RangeWindowStrategy.maxRangeFrameRows(session)
    scan.orderedBandFileStats(keyCol) match {
      case Some(groups) =>
        // lead IGNORE NULLS buffers the whole partition's values: the
        // densest band group must fit the cap
        if (wholeBand && groups.nonEmpty) {
          val maxBand = groups.map(_.flatMap(_.cols.get(keyCol))
            .map(_.rows).sum).max
          if (maxBand > cap) return false
        }
        if (widths.isEmpty) return true
        val files = groups.flatten
        val stats = files.flatMap { f =>
          f.cols.get(keyCol).flatMap { cs =>
            (cs.min, cs.max) match {
              case (Some(mn), Some(mx)) =>
                Some((asLong(mn), asLong(mx), cs.rows))
              case _ => None
            }
          }
        }
        // any underivable file → no plan-time bound; the runtime cap
        // still fails fast before an OOM
        if (stats.length != files.length) return true
        widths.forall(lo =>
          RangeWindowStrategy.maxWindowRows(stats, lo, cap) <= cap)
      case None => true
    }
  }
}

object RangeWindowStrategy {
  /** Runtime/plan-time cap on a value-based RANGE frame's live buffered
    * rows per function — past it the frame belongs to Spark's spillable
    * WindowExec, not an in-memory deque.
    */
  val MaxRangeFrameRowsKey = "spark.graft.window.maxRangeFrameRows"

  private[plans] def maxRangeFrameRows(session: SparkSession): Long =
    session.sessionState.conf
      .getConfString(MaxRangeFrameRowsKey, "4194304").toLong

  /** Max file-row sum over any width-`lo` key window (see
    * [[RangeWindowStrategy.rangeFramesBounded]]); early-exits once past
    * `cap`. Direction-free: the max over sliding windows of one width
    * is the same swept either way.
    */
  private[plans] def maxWindowRows(stats: Seq[(Long, Long, Long)],
      lo: Long, cap: Long): Long = {
    val arr = stats.sortBy(_._1)
    // a file [mn, mx] is live for frame-end c while mn ≤ c ≤ mx + lo
    // (saturating: huge hash-range keys must not wrap the departure)
    val pq = scala.collection.mutable.PriorityQueue
      .empty[(Long, Long)](Ordering.by((e: (Long, Long)) => -e._1))
    var sum = 0L
    var best = 0L
    arr.foreach { case (mn, mx, rows) =>
      val c = mn
      while (pq.nonEmpty && pq.head._1 < c) {
        sum -= pq.head._2
        pq.dequeue()
      }
      sum += rows
      val dep = if (mx > Long.MaxValue - lo) Long.MaxValue else mx + lo
      pq.enqueue((dep, rows))
      if (sum > best) best = sum
      if (best > cap) return best
    }
    best
  }
}

