package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Direct unit coverage for the value-frame safety rails: the RUNTIME
  * live-buffer cap (the path with no plan-time sidecar bound — chain
  * windows, filtered scans) and the PLAN-TIME max-window-population
  * sweep ([[RangeWindowStrategy.maxWindowRows]]).
  */
class RangeFrameGuardSpec extends AnyFunSuite {
  import RunningWindow._

  /** `count(v) OVER (ORDER BY k RANGE BETWEEN lo PRECEDING AND CURRENT
    * ROW)`, `lo` in `dist` units; `value()` reads at the last key fed.
    */
  private final class Probe(lo: Long, dist: Dist, cap: Long) {
    private val a = new Acc(Fn(Inv(Op.Count),
      BoundReference(1, LongType, nullable = true),
      Frame(rows = false, Some(-lo), Some(0L), dist = dist),
      BoundReference(0, LongType, nullable = false), cap), null)
    private var last = 0L
    def update(r: GenericInternalRow): Unit = { last = r.getLong(0); a.update(r) }
    def value(): Any = a.value(last)
  }
  private def acc(dist: (Long, Dist), cap: Long) = new Probe(dist._1, dist._2, cap)
  private def FixedDist(lo: Long, hi: Long) = (lo, Linear)
  private def MonthDist(lo: Int, hi: Int) = (lo.toLong, Months(None))

  private def row(k: Long, v: Long): GenericInternalRow =
    new GenericInternalRow(Array[Any](k, v))

  test("runtime cap: a frame denser than the cap fails fast with the conf named") {
    val a = acc(FixedDist(1000L, 0L), cap = 3L)
    (1L to 3L).foreach(i => a.update(row(i, i)))
    val e = intercept[org.apache.spark.SparkException] {
      a.update(row(4L, 4L))
    }
    assert(e.getMessage.contains(RangeWindowStrategy.MaxRangeFrameRowsKey.split('.').last) ||
      e.getMessage.contains("maxRangeFrameRows"))
    // sparse keys never trip it: eviction keeps the buffer at the
    // frame's true population
    val b = acc(FixedDist(2L, 0L), cap = 3L)
    (1L to 100L).foreach(i => b.update(row(i * 10, i)))
    assert(b.value() == 1L)
  }

  test("month bounds: eviction and admission follow add_months clamping") {
    // keys are epoch days; 2024-03-31 minus 1 month clamps to Feb 29
    def day(s: String): Long = java.time.LocalDate.parse(s).toEpochDay
    val a = acc(MonthDist(1, 0), cap = Long.MaxValue)
    a.update(row(day("2024-02-28"), 1L))
    a.update(row(day("2024-02-29"), 1L))
    a.update(row(day("2024-03-31"), 1L))
    // frame at Mar 31 = [Feb 29, Mar 31]: Feb 28 evicted, Feb 29 kept
    assert(a.value() == 2L)
  }

  test("plan-time sweep: max window population over file stats") {
    // (min, max, rows); width-5 windows
    val stats = Seq((0L, 10L, 4L), (8L, 20L, 6L), (100L, 110L, 3L))
    // window ending at c=13 (say) intersects both early files: 10
    assert(RangeWindowStrategy.maxWindowRows(stats, 5L, Long.MaxValue) == 10L)
    // a narrow window far from the overlap sees single files only
    assert(RangeWindowStrategy.maxWindowRows(
      Seq((0L, 1L, 4L), (50L, 51L, 6L)), 5L, Long.MaxValue) == 6L)
    // a width spanning everything sums everything
    assert(RangeWindowStrategy.maxWindowRows(stats, 1000L,
      Long.MaxValue) == 13L)
    // saturating departure: max-range keys must not wrap
    assert(RangeWindowStrategy.maxWindowRows(
      Seq((Long.MinValue + 5, Long.MinValue + 6, 2L),
        (Long.MaxValue - 6, Long.MaxValue - 5, 3L)), 20L,
      Long.MaxValue) == 3L)
  }
}
