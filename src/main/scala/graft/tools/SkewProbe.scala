package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HOT-BAND straggler A/B probe — the measurement behind the skew
  * adjudication in [[graft.sink.CorpusSink.landJsonlRangeIndexed]]'s
  * doc: land the same rows twice (balanced unique keys vs ~30% of rows
  * collapsed onto ONE hot key), then time the three claim-bearing
  * exchange-free rungs — ordered scan, global band window, range merge
  * join against a co-landed distinct-key drop — on both layouts, and
  * report the per-band row profile. Prints ONE JSON line; bank it as a
  * bench record. Run: SPARK_GRAFT_SF_DIR=… runMain graft.tools.SkewProbe
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // replicate the input so band tasks carry real work (row counts at
    // the base sf leave every task overhead-dominated and the
    // straggler invisible); keys stay unique in the balanced layout
    val rep = sys.env.getOrElse("SPARK_GRAFT_SKEW_REP", "20").toInt
    val orders = graft.core.Tables.orders(spark, sfDir)
      .select(col("o_orderkey").cast("long").as("ok0"),
        col("o_custkey").cast("long").as("v"))
      .crossJoin(spark.range(rep.toLong).select(col("id")))
      .select((col("ok0") * rep + col("id")).as("ok"), col("v"))
    val hotKey = 8999999999L * rep // beyond every key: the hot band lands last
    val balanced = orders.select(col("ok").as("k"), col("v"))
    val skewed = orders.select(
      when(col("ok") % 10 < 3, lit(hotKey)).otherwise(col("ok")).as("k"),
      col("v"))

    def land(df: DataFrame, tag: String, key: String = "k"): String = {
      val dir = s"${graft.core.Scratch.ephemeralDir(s"graft_skewab_$tag")}/d"
      graft.sink.CorpusSink.landJsonlRangeIndexed(df, key, dir,
        numBands = 8, zoneCols = Seq(key))
      dir
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val dimSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dk",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dv",
        org.apache.spark.sql.types.LongType)))

    val balDir = land(balanced, "bal")
    val skwDir = land(skewed, "skw")
    // one co-banded DISTINCT-key drop per layout (the join's dim side:
    // one row per key, so join cardinality matches row count and the
    // measurement isolates the layout, not a key-explosion)
    val balDim = land(balanced.select(col("k")).distinct()
      .select(col("k").as("dk"), (col("k") % 97).as("dv")), "bald", "dk")
    val skwDim = land(skewed.select(col("k")).distinct()
      .select(col("k").as("dk"), (col("k") % 97).as("dv")), "skwd", "dk")

    def read(dir: String, sch: org.apache.spark.sql.types.StructType) =
      graft.ingest.ExtendedJson.read(spark, sch, dir)

    def consume(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.foreachPartition { it =>
        while (it.hasNext) it.next()
      }
      (System.nanoTime() - t0) / 1e9
    }
    // min of 3 runs — the box's noise floor discipline
    def best(df: => DataFrame): Double =
      (1 to 3).map(_ => consume(df)).min

    def scanQ(dir: String) = read(dir, schema).orderBy(col("k"))
    def winQ(dir: String) = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
      read(dir, schema).select(col("k"), col("v"),
        sum(col("v")).over(w).as("rs"),
        count(lit(1)).over(w).as("rn"))
    }
    def joinQ(dir: String, dimDir: String) = {
      val f = read(dir, schema)
      val d = read(dimDir, dimSchema)
      f.join(d, f("k") === d("dk")).select(col("k"), col("v"), col("dv"))
    }

    // per-band row profile of the ordered scan (partitions = bands)
    def profile(dir: String): (Int, Long, Long) = {
      val counts = scanQ(dir).queryExecution.toRdd
        .mapPartitions(it => Iterator(it.length.toLong)).collect()
      (counts.length, counts.max, counts.sum)
    }
    val (balBands, balMax, total) = profile(balDir)
    val (skwBands, skwMax, _) = profile(skwDir)

    val out = Map(
      "scan" -> (best(scanQ(balDir)), best(scanQ(skwDir))),
      "window" -> (best(winQ(balDir)), best(winQ(skwDir))),
      "join" -> (best(joinQ(balDir, balDim)), best(joinQ(skwDir, skwDim))))
    val secs = out.map { case (k, (b, s)) =>
      f""""$k":{"balanced":$b%.3f,"skewed":$s%.3f,"ratio":${s / b}%.2f}"""
    }.mkString(",")
    println(
      s"""{"metric":"skew_ab","sf":"$sfDir","rows":$total,""" +
        s""""bands":{"balanced":$balBands,"skewed":$skwBands},""" +
        f""""maxBandFrac":{"balanced":${balMax.toDouble / total}%.3f,""" +
        f""""skewed":${skwMax.toDouble / total}%.3f},""" +
        s""""sec":{$secs}}""")
    spark.stop()
  }
}
