package graft.ingest.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck soundness of the ZONE ALGEBRA against the reader's OWN
  * row evaluation ([[FilterEval.compile]]) — the two invariants every
  * prune/skip in the engine rests on, checked over randomized rows and
  * filter trees (no Spark session; everything here is pure JVM):
  *
  *  - `!truth(f, stats).maybe` ⇒ NO row of the zone satisfies `f`
  *    (a violated instance would be a wrong prune — silently dropped
  *    rows, the one forbidden outcome);
  *  - `truth(f, stats).all` ⇒ EVERY row satisfies `f`
  *    (a violated instance would let residual elimination skip a filter
  *    that still drops rows, or a metadata aggregate answer for rows the
  *    real scan would reject).
  *
  * Stats are derived from the rows exactly as [[ZoneMaps]] builds them
  * (same comparator, same bloom key normalization — signed zeros
  * included), and the value pools are deliberately collision-dense with
  * the nasty cases: -0.0 vs 0.0, NaN, ±Infinity, Long extremes, empty
  * strings, null-heavy columns, nested And/Or trees, and `Not`/string
  * prefix leaves the zone algebra cannot bound.
  */
object ZoneAlgebraProps extends Properties("graft.zonealgebra") {

  // pure-JVM properties are cheap — buy a deeper sweep than the default
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("x", DoubleType),
    StructField("s", StringType)))

  private val longPool: Gen[Long] =
    Gen.oneOf(-3L, -1L, 0L, 1L, 2L, 3L, Long.MinValue, Long.MaxValue)
  private val doublePool: Gen[Double] =
    Gen.oneOf(-2.5, -1.0, -0.0, 0.0, 1.5, 2.5, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
  private val stringPool: Gen[String] =
    Gen.oneOf("", "a", "ab", "b", "zz", "été")

  private val rowGen: Gen[(Option[Long], Option[Double], Option[String])] =
    for {
      k <- Gen.option(longPool)
      x <- Gen.option(doublePool)
      s <- Gen.option(stringPool)
    } yield (k, x, s)

  private val rowsGen: Gen[List[(Option[Long], Option[Double], Option[String])]] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, rowGen))

  private def leafGen(col: String, v: Gen[Any]): Gen[Filter] = Gen.oneOf(
    v.map(EqualTo(col, _)),
    v.map(EqualNullSafe(col, _)),
    Gen.const(EqualNullSafe(col, null)),
    v.map(GreaterThan(col, _)),
    v.map(GreaterThanOrEqual(col, _)),
    v.map(LessThan(col, _)),
    v.map(LessThanOrEqual(col, _)),
    Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, v).map(vs => In(col, vs.toArray))),
    Gen.const(IsNull(col)),
    Gen.const(IsNotNull(col)))

  private val boundedLeaf: Gen[Filter] = Gen.oneOf(
    leafGen("k", longPool.map(x => x: Any)),
    leafGen("x", doublePool.map(x => x: Any)),
    leafGen("s", stringPool.map(x => x: Any)))

  private val anyLeaf: Gen[Filter] = Gen.frequency(
    6 -> boundedLeaf,
    1 -> boundedLeaf.map(Not(_)),
    1 -> stringPool.map(StringStartsWith("s", _)))

  private def filterGen(depth: Int): Gen[Filter] =
    if (depth <= 0) anyLeaf
    else Gen.frequency(
      3 -> anyLeaf,
      1 -> (for { l <- filterGen(depth - 1); r <- filterGen(depth - 1) }
        yield And(l, r)),
      1 -> (for { l <- filterGen(depth - 1); r <- filterGen(depth - 1) }
        yield Or(l, r)))

  /** Stats for one column, derived the way [[ZoneMaps.statRows]] derives
    * them: reader-comparator min/max, null/row counts, a bloom over the
    * signed-zero-normalized key renderings, exact sums for longs.
    */
  private def colStats(vals: Seq[Option[Any]], dt: DataType): ZoneMaps.ColStats = {
    val nonNull = vals.flatten
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1024, 0.01)
    nonNull.foreach(v => bloom.putString(ZoneMaps.bloomKey(v, dt)))
    val sum = dt match {
      case LongType => Some(nonNull.foldLeft(java.math.BigDecimal.ZERO) {
        (a, v) => a.add(java.math.BigDecimal.valueOf(v.asInstanceOf[Long]))
      })
      case _ => None
    }
    if (nonNull.isEmpty)
      ZoneMaps.ColStats(None, None, vals.size.toLong, vals.size.toLong,
        Some(bloom), sum)
    else ZoneMaps.ColStats(
      Some(nonNull.reduce((a, b) =>
        if (FilterEval.compareInternal(dt, a, b) <= 0) a else b)),
      Some(nonNull.reduce((a, b) =>
        if (FilterEval.compareInternal(dt, a, b) >= 0) a else b)),
      (vals.size - nonNull.size).toLong, vals.size.toLong, Some(bloom), sum)
  }

  private def toIR(r: (Option[Long], Option[Double], Option[String])): InternalRow =
    new GenericInternalRow(Array[Any](
      r._1.map(x => x: Any).orNull,
      r._2.map(x => x: Any).orNull,
      r._3.map(UTF8String.fromString).orNull))

  property("zone algebra is sound against the reader's row evaluation") =
    forAll(rowsGen, filterGen(2)) { (rows, f) =>
      !FilterEval.supported(f, schema) || {
        val stats = Map(
          "k" -> colStats(rows.map(_._1.map(x => x: Any)), LongType),
          "x" -> colStats(rows.map(_._2.map(x => x: Any)), DoubleType),
          "s" -> colStats(rows.map(_._3.map(s =>
            UTF8String.fromString(s): Any)), StringType))
        val keep = FilterEval.compile(Array(f), schema)
        val irs = rows.map(toIR)
        val ZoneMaps.Truth(mt, dt) = ZoneMaps.truth(f, stats, schema)
        // 1. a pruned zone may not contain a satisfying row
        val noWrongPrune = mt || !irs.exists(keep)
        // 2. a covered zone may not contain a rejected row
        val noWrongCoverage = !dt || irs.forall(keep)
        // 3. internal consistency on nonempty zones: provably-all-true
        //    implies possibly-true
        val consistent = rows.isEmpty || !dt || mt
        if (!(noWrongPrune && noWrongCoverage && consistent))
          println(s"ZONE ALGEBRA VIOLATION: f=$f rows=$rows mt=$mt dt=$dt")
        noWrongPrune && noWrongCoverage && consistent
      }
    }
}
