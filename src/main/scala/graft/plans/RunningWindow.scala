package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, TypeUtils}
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType}
import org.apache.spark.unsafe.types.UTF8String

/** The band running window's one frame driver. Every supported window
  * function is a [[Fn]]: a [[Frame]] (where it reads, relative to the
  * current row) plus one of three accumulator [[Kind]]s (how it folds
  * what the frame holds):
  *
  *  - [[Inv]] — invertible: count, long/decimal sums, avg and the rank
  *    family. Add on admission, subtract on eviction; the suffix frame
  *    reads grand − prefix. Double sums (and an ANSI long sum whose live
  *    frame could overflow) re-fold the frame in stream order instead.
  *  - [[Mono]] — the monotone deque: min, max, min_by/max_by. Its
  *    front is the frame's extreme, so sliding frames cost O(1)
  *    amortized per row.
  *  - [[Pos]] — positional: lag, lead, first, last and nth. IGNORE
  *    NULLS filters what the frame admits; the value is one entry
  *    picked from either end of the frame.
  *
  * [[Acc]] runs one function over one band: the live entries of its
  * frame (window + not-yet-admitted arrivals), the band protocol
  * (`total()` snapshots what neighbouring bands need, `mergeTotal(t)`
  * folds an earlier band's snapshot in — the driver's prefix scan and
  * the executor's prefix load are the same operation) and `finish`,
  * which appends the later bands' leading entries at partition end.
  */
private[plans] object RunningWindow {

  /** One delayed output row: the copied input row, its window values
    * (filled as each function's frame completes) and its positions.
    */
  private[plans] final class PendingRow(val row: UnsafeRow,
      val vals: GenericInternalRow, val ord: Long, val grp: Long)

  /** Retain a value extracted from a TRANSIENT row (a reader's or
    * buffer's reused holder): UTF8Strings are cloned — they alias the
    * row's bytes past the next advance — and every other type the
    * accumulators accept here is an immutable boxed value.
    */
  private[plans] def retain(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case other => other
  }

  /** A growable FIFO of (key, value) entries with index access. */
  private[plans] final class Ring {
    private var ks = new Array[Long](16)
    private var vs = new Array[Any](16)
    private var h = 0
    var size = 0
    def key(i: Int): Long = ks((h + i) & (ks.length - 1))
    def apply(i: Int): Any = vs((h + i) & (vs.length - 1))
    def push(k: Long, v: Any): Unit = {
      if (size == ks.length) {
        val (k2, v2) = (new Array[Long](size * 2), new Array[Any](size * 2))
        var i = 0
        while (i < size) { k2(i) = key(i); v2(i) = apply(i); i += 1 }
        ks = k2; vs = v2; h = 0
      }
      val j = (h + size) & (ks.length - 1)
      ks(j) = k; vs(j) = v; size += 1
    }
    def pop(): Any = {
      val v = vs(h); vs(h) = null
      h = (h + 1) & (ks.length - 1); size -= 1; v
    }
    def popLast(): Unit = { size -= 1; vs((h + size) & (vs.length - 1)) = null }
  }

  /** RANGE distance units: linear key arithmetic (integral keys, days
    * over DATE keys, micros over TIMESTAMP keys), or calendar months —
    * `add_months` with LocalDate's month-end clamping over DATE keys
    * (`zone` None; Spark's DateAddYMInterval), session-zone wall-clock
    * month adds over TIMESTAMP keys (Spark's TimestampAddYMInterval).
    */
  sealed trait Dist extends Serializable
  case object Linear extends Dist
  final case class Months(zone: Option[String]) extends Dist

  /** Frame bounds as signed offsets from the current row (negative =
    * preceding, None = unbounded): ROWS count positions; RANGE counts
    * key distance in `dist` units when the function carries a key, and
    * whole tie groups otherwise (a frame with no value offset). `desc`
    * mirrors the key direction. Every test is against a BOUND computed
    * from the current key: linear adds saturate, which makes them exact
    * even across 2^63-wide key spans. Timestamp month bounds are not
    * monotone in the key (the clamp plateau follows time-of-day);
    * eviction by each row's bound keeps "entries at or past every bound
    * so far" — Spark's forward-only frame-head pointer — so the
    * strategy plans them single-bound only.
    */
  final case class Frame(rows: Boolean, lo: Option[Long], hi: Option[Long],
      desc: Boolean = false, dist: Dist = Linear) {
    @transient private lazy val zoneId = dist match {
      case Months(Some(z)) => DateTimeUtils.getZoneId(z)
      case _ => java.time.ZoneOffset.UTC
    }
    def at(k: Long, d0: Long): Long = {
      val d = if (desc) -d0 else d0
      if (d == 0L) k
      else dist match {
        case Linear =>
          val r = k + d
          if (((k ^ r) & (d ^ r)) < 0) (if (d > 0) Long.MaxValue else Long.MinValue)
          else r
        case Months(None) =>
          java.time.LocalDate.ofEpochDay(k).plusMonths(d).toEpochDay
        case Months(Some(_)) =>
          DateTimeUtils.timestampAddMonths(k, d.toInt, zoneId)
      }
    }
    /** `a` strictly precedes `b` in stream order. */
    def before(a: Long, b: Long): Boolean = if (desc) a > b else a < b
  }

  sealed trait Kind extends Serializable
  final case class Inv(op: Op) extends Kind
  /** `by` (min_by/max_by): the ordering expression; the input is then
    * the carried value. Cumulative frames only for `by`.
    */
  final case class Mono(dt: DataType, isMin: Boolean,
      by: Expression = null) extends Kind
  /** The entry `pick` places from the frame's lo end (or hi end). */
  final case class Pos(pick: Int, fromEnd: Boolean, ignoreNulls: Boolean,
      default: Any = null) extends Kind

  /** An invertible op over the (count, sum) state. `sum`: 'n' none,
    * 'l' long (wrapping, or Math.addExact under ANSI), 'd' double, 'b'
    * exact BigDecimal. `rowsOnly`: counts rows (no input). `excl`: read
    * before the row/group joins the state (rank's group START).
    */
  sealed abstract class Op(val sum: Char, val rowsOnly: Boolean = false,
      val excl: Boolean = false) extends Serializable {
    /** `gn`: the grand row count (the size-based rank family's N). */
    def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal,
        gn: Long): Any
  }
  object Op {
    case object RowNumber extends Op('n', rowsOnly = true) {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any = n.toInt
    }
    /** Ties never straddle bands, so rows-before-the-group + 1 is rank. */
    case object Rank extends Op('n', rowsOnly = true, excl = true) {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any = (n + 1).toInt
    }
    case object PercentRank extends Op('n', rowsOnly = true, excl = true) {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any =
        if (gn <= 1L) 0.0 else n.toDouble / (gn - 1).toDouble
    }
    case object CumeDist extends Op('n', rowsOnly = true) {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any =
        n.toDouble / gn.toDouble
    }
    /** Spark's bucketing: the first `N mod b` buckets hold `N/b + 1`. */
    final case class NTile(buckets: Int) extends Op('n', rowsOnly = true) {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any = {
        val base = if (gn > 0) gn / buckets else 0L
        val rem = if (gn > 0) (gn % buckets).toInt else 0
        val cut = rem.toLong * (base + 1)
        if (n <= cut) ((n - 1) / (base + 1)).toInt + 1
        else rem + ((n - 1 - cut) / math.max(1L, base)).toInt + 1
      }
    }
    /** Distinct order-key tuples before the group (order-sensitive: the
      * state watches tie boundaries; strict band disjointness makes the
      * per-band counts additive).
      */
    final case class DenseRank(order: Seq[SortOrder]) extends Op('n', excl = true) {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any = (n + 1).toInt
    }
    case object Count extends Op('n') {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any = n
    }
    /** ANSI throws on overflow (Sum's ANSI posture); default mode wraps,
      * and wrapping addition is associative and invertible mod 2^64.
      */
    final case class SumLong(ansi: Boolean) extends Op('l') {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any =
        if (n == 0L) null else l
    }
    /** Running double sums reassociate at band boundaries — the same
      * last-ulp caveat as any distributed double aggregation; sliding
      * frames re-fold in stream order and are bit-identical.
      */
    case object SumDouble extends Op('d') {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any =
        if (n == 0L) null else d
    }
    case object AvgDouble extends Op('d') {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any =
        if (n == 0L) null else d / n
    }
    /** The exact sum renders like CheckOverflow in Spark's own Sum: ANSI
      * throws, default mode nulls the overflowing rows.
      */
    final case class SumDecimal(rt: DecimalType, ansi: Boolean) extends Op('b') {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any =
        if (n == 0L) null
        else {
          val v = Decimal(b)
          if (v.changePrecision(rt.precision, rt.scale)) v
          else if (ansi) throw new ArithmeticException(
            s"window sum overflows ${rt.simpleString}")
          else null
        }
    }
    /** avg over an integral child from its exact sum: agrees with the
      * per-row double re-fold while partial sums stay within 2^53.
      */
    case object AvgExact extends Op('b') {
      def render(n: Long, l: Long, d: Double, b: java.math.BigDecimal, gn: Long): Any =
        if (n == 0L) null else java.lang.Double.valueOf(b.doubleValue() / n.toDouble)
    }
  }

  /** Summary total of an [[Inv]]: count plus the boxed sum (null, Long,
    * Double or BigDecimal by the op's `sum`).
    */
  final case class Tot(n: Long, s: Any)

  /** Entry total of a buffered function: the band's trailing entries (a
    * later band's prefix) and leading entries (an earlier band's forward
    * suffix), keys alongside, and the band's last key for the suffix
    * assembly's reach.
    */
  final case class Ent(tk: Array[Long], tv: Array[Any], lk: Array[Long],
      lv: Array[Any], last: Long, any: Boolean)

  /** One node emits in one delay order: a key-released value frame
    * (RANGE … FOLLOWING) cannot share it with a row-count forward frame
    * (lead beyond 1, ROWS … FOLLOWING) — such a node refuses whole.
    */
  private[plans] def delayCompatible(fs: Seq[Fn]): Boolean =
    !(fs.exists(f => f.delayed && f.key != null) && fs.exists(f =>
      f.delayed && f.key == null && f.frame != Frame(true, Some(1L), Some(1L))))

  /** One window function: a frame plus a kind. `key`: the order-key
    * expression of a RANGE frame with value offsets (null otherwise —
    * positions then count rows or tie groups). `cap`: the live-entry
    * cap (`spark.graft.window.maxRangeFrameRows`) for frames whose
    * population only the data bounds.
    */
  final case class Fn(kind: Kind, input: Expression, frame: Frame,
      key: Expression = null, cap: Long = Long.MaxValue) {
    private def fromEnd = kind match { case p: Pos => p.fromEnd; case _ => false }
    /** Retains frame entries: bounded invertible frames, deques with a
      * lower bound, every positional.
      */
    def buffered: Boolean = kind match {
      case _: Inv => frame.lo.isDefined && frame.hi.isDefined
      case _: Mono => frame.lo.isDefined
      case _: Pos => true
    }
    /** Reads past the current row: emission waits for the frame end. */
    def delayed: Boolean = buffered && frame.hi.exists(_ > 0)
    /** Unbounded forward end read per row: the whole partition arrives
      * before the first read (suffix deques, lead IGNORE NULLS).
      */
    def whole: Boolean = buffered && frame.hi.isEmpty && !fromEnd
    /** Read before the row (group) joins the state. */
    def excl: Boolean = kind match {
      case Inv(op) => op.excl || frame.hi.isEmpty
      case _ => false
    }
    /** Totals depend on row order: the totals pass must see the sort. */
    def orderSensitive: Boolean = kind match {
      case Inv(_: Op.DenseRank) => true
      case Mono(_, _, by) => by != null || (buffered && frame.hi.isDefined)
      case _ => buffered
    }
    def bound(in: Seq[Attribute]): Fn = {
      def b(e: Expression) = if (e == null) null else BindReferences.bindReference(e, in)
      copy(input = b(input), key = b(key), kind = kind match {
        case Inv(Op.DenseRank(o)) =>
          Inv(Op.DenseRank(o.map(s => s.copy(child = b(s.child)))))
        case m: Mono => m.copy(by = b(m.by))
        case other => other
      })
    }
  }

  /** The frame driver for one function over one band (see the object
    * doc). Positions are keys: order keys for value frames, otherwise
    * row or tie-group ordinals shifted past the merged prefix entries.
    * The live entries split into the frame's window (admitted, not yet
    * evicted) and the arrivals ahead of it.
    */
  private[plans] final class Acc(fn: Fn, grand: Any) {
    import fn.{frame => fr, input}
    private val buffered = fn.buffered
    private val op: Op = fn.kind match { case Inv(o) => o; case _ => null }
    private val mono: Mono = fn.kind match { case m: Mono => m; case _ => null }
    private val pos: Pos = fn.kind match { case p: Pos => p; case _ => null }
    private val live = new Ring
    private var nWin = 0
    private var popped = 0L
    private var base = 0L
    private var seeded = false
    private var lastKey = 0L
    private var firstKey = 0L
    private var any = false
    private var counter = 0L
    private val lead = new Ring
    private var leadOpen = true
    // invertible state; `exact`: ANSI Math.addExact on every add
    private var n = 0L
    private var l = 0L
    private var d = 0.0
    private var b = java.math.BigDecimal.ZERO
    private var prev: InternalRow = _
    private val ansiSlide = op match { case Op.SumLong(a) => a && buffered; case _ => false }
    private val exact = op match { case Op.SumLong(a) => a && !buffered; case _ => false }
    private lazy val denseOrd = op match {
      case Op.DenseRank(o) => new LazilyGeneratedOrdering(o)
      case _ => null
    }
    private val gTot = grand match { case t: Tot => t; case _ => null }
    // deques of absolute entry indices: the kind's extreme, and the
    // live |x| bound that proves an ANSI long sum cannot overflow
    private val dq, absDq = new Ring
    private var bestO: Any = null
    private var bestV: Any = null
    private lazy val mOrd = TypeUtils.getInterpretedOrdering(mono.dt)
    private def better(o: Any, cur: Any): Boolean = {
      val c = mOrd.compare(o, cur)
      if (mono.isMin) c < 0 else if (mono.by != null) c > 0 else c >= 0
    }
    private val ordinal = fn.key == null
    private val (hasLo, lo) = (fr.lo.isDefined, fr.lo.getOrElse(0L))
    private val (hasHi, hi) = (fr.hi.isDefined, fr.hi.getOrElse(0L))
    private def valAt(abs: Long): Any = live((abs - popped).toInt)
    private def absOf(v: Any): Long = {
      val x = v.asInstanceOf[Number].longValue()
      if (x == Long.MinValue) Long.MaxValue else math.abs(x)
    }
    private def big(v: Any): java.math.BigDecimal = v match {
      case x: Decimal => x.toJavaBigDecimal
      case x => java.math.BigDecimal.valueOf(x.asInstanceOf[Number].longValue())
    }

    private def add(v: Any): Unit = if (v != null) {
      n += 1
      op.sum match {
        case 'l' =>
          val x = v.asInstanceOf[Number].longValue()
          l = if (exact) Math.addExact(l, x) else l + x
        case 'd' => d += v.asInstanceOf[Number].doubleValue()
        case 'b' => b = b.add(big(v))
        case _ =>
      }
    }
    private def remove(v: Any): Unit = if (v != null) {
      n -= 1
      op.sum match {
        case 'l' => l -= v.asInstanceOf[Number].longValue()
        case 'b' => b = b.subtract(big(v))
        case _ =>
      }
    }
    /** Entry `i` enters the window; the deques drop every entry it
      * dominates from their back.
      */
    private def enter(i: Int): Unit = {
      val v = live(i)
      val abs = popped + i
      if (op != null) {
        add(v)
        if (ansiSlide && v != null) {
          val a = absOf(v)
          while (absDq.size > 0 && absOf(valAt(absDq.key(absDq.size - 1))) <= a)
            absDq.popLast()
          absDq.push(abs, null)
        }
      } else if (mono != null && v != null) {
        while (dq.size > 0 && better(v, valAt(dq.key(dq.size - 1)))) dq.popLast()
        dq.push(abs, null)
      }
    }
    /** The front entry leaves the buffer (and the window, if inside). */
    private def drop(): Unit = {
      if (nWin > 0) {
        if (op != null) remove(live(0))
        if (dq.size > 0 && dq.key(0) == popped) dq.pop()
        if (absDq.size > 0 && absDq.key(0) == popped) absDq.pop()
        nWin -= 1
      }
      live.pop(); popped += 1
    }
    // ordinal keys ascend and never approach the Long range: plain adds
    private def at(k: Long, d: Long): Long = if (ordinal) k + d else fr.at(k, d)
    private def evict(low: Long): Unit = if (hasLo && !lastOnly) {
      val bnd = at(low, lo)
      if (ordinal) while (live.size > 0 && live.key(0) < bnd) drop()
      else while (live.size > 0 && fr.before(live.key(0), bnd)) drop()
    }
    private def admit(k: Long): Unit =
      if (!hasHi) while (nWin < live.size) { enter(nWin); nWin += 1 }
      else {
        val bnd = at(k, hi)
        while (nWin < live.size && !fr.before(bnd, live.key(nWin))) {
          enter(nWin); nWin += 1
        }
      }
    /** Positional retention with an unbounded side: the first (or last)
      * `pick + 1` admitted entries are all the function can ever read.
      */
    private val firstOnly = pos != null && !pos.fromEnd && fr.lo.isEmpty
    private val lastOnly = pos != null && pos.fromEnd && (fr.lo.isEmpty || fr.hi.isEmpty)
    private def push(k: Long, v: Any): Unit =
      if (!(firstOnly && live.size > pos.pick)) {
        live.push(k, v)
        if (lastOnly) while (live.size > pos.pick + 2) drop()
      }

    def keyOf(row: InternalRow, at: Long): Long =
      if (ordinal) at + base
      else fn.key.eval(row).asInstanceOf[Number].longValue()

    /** One arriving row at key `k`; `low`: the key of the oldest row this
      * function has not answered yet (no entry it can reach is evicted).
      */
    def arrive(row: InternalRow, k: Long, low: Long): Unit = {
      if (!any) { firstKey = k; any = true }
      lastKey = k
      if (op != null && !buffered) {
        if (op.rowsOnly) n += 1
        else if (denseOrd != null) {
          if (prev == null || denseOrd.compare(prev, row) != 0) {
            n += 1; prev = row.asInstanceOf[UnsafeRow].copy()
          }
        } else add(input.eval(row))
        return
      }
      val v0 = input.eval(row)
      if (mono != null) {
        val o = if (mono.by == null) v0 else mono.by.eval(row)
        if (o != null && (bestO == null || better(o, bestO))) {
          bestV = retain(v0)
          bestO = if (mono.by == null) bestV else retain(o)
        }
        if (!buffered) return
      }
      val v = retain(v0)
      if (pos != null && pos.ignoreNulls && v == null) return
      evict(low)
      push(k, v)
      if (!seeded && leadOpen) {
        leadOpen = fr.hi match {
          case Some(h) if h > 0 =>
            !fr.before(fr.at(if (ordinal) firstKey - 1 else firstKey, h), k)
          case None if pos != null && !pos.fromEnd => lead.size <= pos.pick
          case _ => false
        }
        if (leadOpen) lead.push(k, v)
      }
      if (live.size > fn.cap) throw new org.apache.spark.SparkException(
        s"graft band-window frame exceeds ${fn.cap} live rows per " +
          "function; raise spark.graft.window.maxRangeFrameRows or let " +
          "Spark's spillable window plan this frame")
    }

    /** Totals pass: arrivals only, positions counted here. */
    def update(row: InternalRow): Unit = {
      val k = keyOf(row, counter)
      counter += 1
      arrive(row, k, k)
    }

    /** The function's value for the row (or tie group) at key `k`. */
    def value(k: Long): Any = {
      if (op != null && !buffered) {
        val gn = if (gTot == null) 0L else gTot.n
        if (hasHi) return op.render(n, l, d, b, gn)
        // the suffix frame: grand − prefix (exact for counts, wrapping
        // longs and BigDecimal sums — the only sums it plans for)
        val gs = gTot.s
        return op.render(gn - n,
          if (op.sum == 'l') gs.asInstanceOf[Long] - l else 0L, 0.0,
          if (op.sum == 'b') gs.asInstanceOf[java.math.BigDecimal].subtract(b) else null,
          gn)
      }
      if (mono != null && !buffered) return bestV
      if (lastOnly && !hasHi) return grand match {
        case e: Ent if e.tv.nonEmpty => e.tv.last
        case _ => null
      }
      evict(k); admit(k)
      if (op != null) {
        val unsafe = ansiSlide && n > 0 && {
          val m = absOf(valAt(absDq.key(0)))
          m > 0 && n > Long.MaxValue / m
        }
        if (op.sum == 'd' || unsafe) refold() else op.render(n, l, d, b, 0L)
      } else if (mono != null) { if (dq.size == 0) null else valAt(dq.key(0)) }
      else {
        if (lastOnly) while (nWin > pos.pick + 1) drop()
        val i = if (pos.fromEnd) nWin - 1 - pos.pick else pos.pick
        if (i >= 0 && i < nWin) live(i) else pos.default
      }
    }

    /** Stream-order re-fold of the window: bit-identical double sums and
      * the ANSI throw exactly where a prefix of the frame overflows.
      */
    private def refold(): Any = {
      var cn = 0L; var cl = 0L; var cd = 0.0; var i = 0
      while (i < nWin) {
        val v = live(i)
        if (v != null) {
          cn += 1
          if (op.sum == 'l') cl = Math.addExact(cl, v.asInstanceOf[Number].longValue())
          else cd += v.asInstanceOf[Number].doubleValue()
        }
        i += 1
      }
      op.render(cn, cl, cd, null, 0L)
    }

    /** The later bands' leading entries (or their fold, for a suffix
      * deque) arrive at partition end.
      */
    def finish(suffix: Any): Unit = suffix match {
      case null =>
      case e: Ent =>
        var i = 0
        while (i < e.lk.length) {
          live.push(if (ordinal) lastKey + 1 + i else e.lk(i), e.lv(i))
          i += 1
        }
      case v => live.push(lastKey + 1, v)
    }

    def total(): Any =
      if (op != null && !buffered)
        Tot(n, op.sum match {
          case 'l' => java.lang.Long.valueOf(l)
          case 'd' => java.lang.Double.valueOf(d)
          case 'b' => b
          case _ => null
        })
      else if (mono != null && (!buffered || fr.hi.isEmpty))
        if (mono.by == null) bestO else Array[Any](bestO, bestV)
      else {
        val from =
          if (firstOnly) 0
          else if (lastOnly) math.max(0, live.size - pos.pick - 1)
          else {
            val bnd = fr.at(if (ordinal) lastKey + 1 else lastKey, lo)
            var i = 0
            while (i < live.size && fr.before(live.key(i), bnd)) i += 1
            i
          }
        val to = if (firstOnly) math.min(live.size, pos.pick + 1) else live.size
        Ent(Array.tabulate(to - from)(i => live.key(from + i)),
          Array.tabulate(to - from)(i => live(from + i)),
          Array.tabulate(lead.size)(lead.key), Array.tabulate(lead.size)(lead(_)),
          lastKey, any)
      }

    /** Folds an EARLIER band's total in (band order). */
    def mergeTotal(t: Any): Unit = {
      seeded = true
      if (t != null) t match {
        case Tot(tn, s) =>
          n += tn
          op.sum match {
            case 'l' =>
              val x = s.asInstanceOf[java.lang.Long].longValue()
              l = if (exact) Math.addExact(l, x) else l + x
            case 'd' => d += s.asInstanceOf[java.lang.Double].doubleValue()
            case 'b' => b = b.add(s.asInstanceOf[java.math.BigDecimal])
            case _ =>
          }
        case e: Ent if e.any =>
          var i = 0
          while (i < e.tk.length) {
            push(if (ordinal) { base += 1; base - 1 } else e.tk(i), e.tv(i))
            i += 1
          }
          if (!ordinal) lastKey = e.last
          any = true
          evict(if (ordinal) base else e.last)
        case _: Ent =>
        case a: Array[Any] if mono != null =>
          if (a(0) != null && (bestO == null || better(a(0), bestO))) {
            bestO = a(0); bestV = a(1)
          }
        case v if mono != null =>
          if (bestO == null || better(v, bestO)) { bestO = v; bestV = v }
      }
    }
  }

  /** Per band, per function: what the band's rows read past its end —
    * the later bands' leading entries within the frame's forward reach
    * (a count for positions, a key bound for value frames), or the fold
    * of the later bands' totals for a suffix deque. Null when the
    * function reads nothing forward.
    */
  def suffixes(fns: Seq[Fn], totals: Seq[Array[Any]]): Array[Array[Any]] =
    Array.tabulate(totals.length) { i =>
      fns.indices.map { j =>
        val fn = fns(j)
        if (!fn.delayed && !fn.whole) null
        else if (fn.kind.isInstanceOf[Mono] && fn.frame.hi.isEmpty) {
          val a = new Acc(fn, null)
          totals.drop(i + 1).foreach(t => a.mergeTotal(t(j)))
          a.total()
        } else {
          val ks = new scala.collection.mutable.ArrayBuffer[Long]()
          val vs = new scala.collection.mutable.ArrayBuffer[Any]()
          val mine = totals(i)(j).asInstanceOf[Ent]
          val reach: Long => Boolean = fn.frame.hi match {
            case Some(h) if fn.key != null =>
              k => !fn.frame.before(fn.frame.at(mine.last, h), k)
            case Some(h) => _ => ks.length < h
            case None => _ => ks.length <= fn.kind.asInstanceOf[Pos].pick
          }
          val it = totals.iterator.drop(i + 1).map(_(j).asInstanceOf[Ent])
          var stop = false
          while (!stop && it.hasNext) {
            val e = it.next()
            var q = 0
            while (!stop && q < e.lk.length) {
              if (reach(e.lk(q))) { ks += e.lk(q); vs += e.lv(q); q += 1 }
              else stop = true
            }
          }
          Ent(Array.empty, Array.empty, ks.toArray, vs.toArray, 0L, ks.nonEmpty)
        }
      }.toArray[Any]
    }
}
