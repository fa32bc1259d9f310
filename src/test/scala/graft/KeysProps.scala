package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.keys.SurrogateKeys

/** ScalaCheck DIFFERENTIAL property for [[SurrogateKeys.reconcile]]: over
  * random incoming and live sets it must give the same `(row, id)`
  * multiset as the join-and-window formulation it replaced (copied below
  * as the oracle: a left-outer join on the key, the max id through a
  * broadcast cross join, one `row_number` window over the new keys).
  *
  * The pools are small so that the cases collide: duplicate incoming keys,
  * known and new; null keys on BOTH sides (a null key never matches, yet a
  * `partitionBy(key)` groups nulls together); an empty live side and an
  * empty incoming side; live ids typed `int` as well as `bigint`. Live
  * keys are unique apart from nulls — the precondition the conflict key's
  * `UNIQUE` gives (`KeysSpec` pins what happens when it is broken).
  */
object KeysProps extends Properties("graft.keys") {
  import TestSpark.spark
  import spark.implicits._

  // every case runs two Spark plans: a modest sweep
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(40)

  private val keyPool = Seq("a", "b", "c", "d", "e", "f")

  private def sized[T](g: Gen[T], max: Int): Gen[List[T]] =
    Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, max))
      .flatMap(n => Gen.listOfN(n, g))

  private val incomingGen: Gen[List[(Option[String], Option[Int])]] =
    sized(for {
      k <- Gen.frequency(1 -> Gen.const(None), 5 -> Gen.oneOf(keyPool).map(Some(_)))
      v <- Gen.option(Gen.choose(0, 3))
    } yield (k, v), 12)

  /** Distinct keys (nulls may repeat), distinct ids. */
  private val liveGen: Gen[List[(Option[String], Long)]] = for {
    keys <- Gen.someOf(keyPool).map(_.toList)
    nulls <- Gen.frequency(3 -> Gen.const(0), 1 -> Gen.choose(1, 2))
    ids <- Gen.pick(keys.length + nulls, 1L to 40L).map(_.toList)
    empty <- Gen.frequency(1 -> true, 5 -> false)
  } yield if (empty) Nil else (keys.map(Some(_)) ++ List.fill(nulls)(None)).zip(ids)

  /** The formulation `reconcile` replaced. */
  private def oracle(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val maxId = existing.agg(coalesce(max(col("id")), lit(0L)).cast("long").as("m"))
    val joined = incoming.join(existing.select("k", "id"), Seq("k"), "left_outer")
    val known = joined.filter(col("id").isNotNull)
    val fresh = joined.filter(col("id").isNull).drop("id").crossJoin(broadcast(maxId))
    val numbered = fresh
      .withColumn("id", col("m") + row_number().over(Window.orderBy(col("k"), col("v"))))
      .drop("m")
    known.unionByName(numbered)
  }

  private def rows(df: DataFrame): Seq[(Option[String], Option[Int], Long)] =
    df.select("k", "v", "id").as[(Option[String], Option[Int], Long)].collect().toSeq
      .sortBy(_.toString)

  property("reconcile equals the join-and-window formulation") =
    forAll(incomingGen, liveGen, Gen.oneOf(true, false)) { (in, live, intIds) =>
      val incoming = in.toDF("k", "v")
      val existing =
        if (intIds) live.map { case (k, id) => (k, id.toInt) }.toDF("k", "id")
        else live.toDF("k", "id")
      val got = rows(SurrogateKeys.reconcile(existing, incoming, "k"))
      val want = rows(oracle(existing, incoming))
      (got == want) :| s"got $got\nwant $want"
    }
}
