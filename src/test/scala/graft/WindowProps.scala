package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.ExtendedJson
import graft.ingest.v2.ZoneMaps
import graft.plans.BandRunningWindowExec

/** Randomized DIFFERENTIAL sweep for the band running window: random
  * per-file sorted key runs (duplicate-dense pools, arbitrary overlap
  * across files, null-heavy values, single-row files) are landed and
  * indexed, then every window query runs TWICE over the same bytes —
  * once through the band strategy (plan-asserted to use
  * [[BandRunningWindowExec]] with no exchange) and once over the same
  * read materialized with `localCheckpoint()` — a plan no graft strategy
  * can claim, so Spark's own single-partition WindowExec answers
  * (plan-asserted) — and the row MULTISETS must match exactly. Spark itself is the
  * ground truth, so a semantics drift in any accumulator, prefix merge,
  * tie-group boundary, or frame timing fails the sweep.
  *
  * Duplicate-key cases compare only tie-deterministic functions (rank,
  * RANGE-frame count/sum/min/max); the unique-key case adds row_number,
  * the ROWS-frame sum, and the order-sensitive carry. Deterministic
  * seeds: a failure names its case and reproduces.
  */
class WindowProps extends AnyFunSuite {
  import TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  /** Files of sorted key runs from a duplicate-dense pool; ~quarter of
    * the values null (field omitted). `uniqueKeys` draws every key once
    * — the regime where order-dependent functions are deterministic.
    */
  private def gen(rnd: scala.util.Random, keyPool: Int, maxFiles: Int,
      uniqueKeys: Boolean): String = {
    val root = Files.createTempDirectory("graft_wprops").toString
    val nFiles = 1 + rnd.nextInt(maxFiles)
    val pool =
      if (uniqueKeys) rnd.shuffle((0 until keyPool).toList).map(_.toLong)
      else List.fill(keyPool)(rnd.nextInt(keyPool).toLong)
    var rest = pool
    (0 until nFiles).foreach { f =>
      val take = if (f == nFiles - 1) rest.length
        else 1 + rnd.nextInt(math.max(1, rest.length - (nFiles - f - 1)))
      val keys = rest.take(take).sorted
      rest = rest.drop(take)
      if (keys.nonEmpty)
        Files.write(Paths.get(root, f"f$f%02d.jsonl"),
          (keys.map { k =>
            if (rnd.nextInt(4) == 0) s"""{"k": $k}"""
            else s"""{"k": $k, "v": ${rnd.nextInt(100) - 50}}"""
          }.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    ZoneMaps.build(spark, root, schema, Seq("k"))
    root
  }

  private def sets(q: DataFrame => DataFrame, root: String,
      sch: StructType = schema): Unit = {
    val banded = q(ExtendedJson.read(spark, sch, root))
    val plain = q(ExtendedJson.read(spark, sch, root).localCheckpoint())
    spark.catalog.clearCache()
    val b = banded.collect().map(_.toSeq.toList).toSeq
    val p = plain.collect().map(_.toSeq.toList).toSeq
    val bn = TestPlans.executedNodes(banded)
    assert(bn.exists(_.isInstanceOf[BandRunningWindowExec]) &&
      !bn.exists(_.isInstanceOf[WindowExec]) &&
      !bn.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "banded side must plan the band window: " +
        bn.map(_.nodeName).mkString(", "))
    assert(TestPlans.executedNodes(plain).exists(_.isInstanceOf[WindowExec]),
      "control side must plan Spark's own window")
    assert(b.groupBy(identity).view.mapValues(_.size).toMap ==
      p.groupBy(identity).view.mapValues(_.size).toMap,
      s"multiset mismatch: banded ${b.length} rows vs plain ${p.length}")
  }

  test("duplicate-key sweep: rank + RANGE count/sum/min/max match WindowExec") {
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = gen(rnd, keyPool = 30 + rnd.nextInt(40),
        maxFiles = 5, uniqueKeys = false)
      val w = Window.orderBy(col("k"))
      sets(_.select(col("k"), col("v"),
        rank().over(w).as("rk"),
        count(lit(1)).over(w).as("rn"),
        sum(col("v")).over(w).as("sv"),
        min(col("v")).over(w).as("mn"),
        max(col("v")).over(w).as("mx"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        dense_rank().over(w).as("dr")), root)
      // bounded VALUE-based frames (tie-deterministic — duplicate keys
      // are exactly the peer-group semantics to pin): widths below, at,
      // and beyond typical band key spans, so eviction and the
      // cross-band trailing-frame carry both exercise
      Seq(0x3L, 11L, 1000L).foreach { d =>
        val wv = w.rangeBetween(-d, Window.currentRow)
        sets(_.select(col("k"), col("v"),
          sum(col("v")).over(wv).as("vsum"),
          count(col("v")).over(wv).as("vcnt"),
          min(col("v")).over(wv).as("vmin"),
          max(col("v")).over(wv).as("vmax"),
          avg(col("v")).over(wv).as("vavg")), root)
      }
      // DUAL-BOUND (lagged) value frames — `d1 PRECEDING AND d2
      // PRECEDING`: eviction on d1, admission on d2; empty frames and
      // the degenerate d1 = d2 pin both included
      Seq((11L, 4L), (7L, 7L), (1000L, 30L)).foreach { case (d1, d2) =>
        val wl = w.rangeBetween(-d1, -d2)
        sets(_.select(col("k"), col("v"),
          sum(col("v")).over(wl).as("lsum"),
          count(col("v")).over(wl).as("lcnt"),
          max(col("v")).over(wl).as("lmax")), root)
      }
      // DESC dual-bound twin
      sets(_.select(col("k"), col("v"),
        sum(col("v")).over(Window.orderBy(col("k").desc)
          .rangeBetween(-9L, -3L)).as("dlag")), root)
      // VALUE-based FOLLOWING frames (the ±window around each event):
      // symmetric, pure-forward, asymmetric, and wider-than-a-band
      // bounds — the forward suffix then spans several bands; mixed f
      // widths in ONE node share the pending queue at different release
      // depths; all tie-shared hence deterministic under duplicates
      Seq((3L, 3L), (0L, 5L), (11L, 2L), (4L, 1000L)).foreach {
        case (d1, f) =>
          val wf = w.rangeBetween(-d1, f)
          sets(_.select(col("k"), col("v"),
            sum(col("v")).over(wf).as("vfsum"),
            count(col("v")).over(wf).as("vfcnt"),
            min(col("v")).over(wf).as("vfmin"),
            max(col("v")).over(wf).as("vfmax")), root)
      }
      sets(_.select(col("k"), col("v"),
        sum(col("v")).over(w.rangeBetween(-2L, 7L)).as("a"),
        count(col("v")).over(w.rangeBetween(0L, 2L)).as("b"),
        sum(col("v")).over(w.rangeBetween(-1000L, Window.currentRow))
          .as("c")), root)
      // DESC ±window twin
      sets(_.select(col("k"), col("v"),
        sum(col("v")).over(Window.orderBy(col("k").desc)
          .rangeBetween(-4L, 6L)).as("dvf")), root)
      // SUFFIX frames (grand − prefix): the RANGE form is tie-shared —
      // decimal sums carry ANSI-exact inversion; long sums sweep in the
      // non-ANSI block of the overflow test
      sets(_.select(col("k"), col("v"),
        count(col("v")).over(w.rangeBetween(Window.currentRow,
          Window.unboundedFollowing)).as("remn"),
        sum(col("v").cast("decimal(18,0)"))
          .over(w.rangeBetween(Window.currentRow,
            Window.unboundedFollowing)).as("rems"),
        // min/max ride the partition-buffered backward fold — RANGE
        // form reads at the tie group's first index, so duplicates
        // share the value
        min(col("v")).over(w.rangeBetween(Window.currentRow,
          Window.unboundedFollowing)).as("remmin"),
        max(col("v")).over(w.rangeBetween(Window.currentRow,
          Window.unboundedFollowing)).as("remmax"),
        sum(col("v")).over(w).as("run")), root)
      sets(_.select(col("k"), col("v"),
        count(col("v")).over(Window.orderBy(col("k").desc)
          .rangeBetween(Window.currentRow, Window.unboundedFollowing))
          .as("dremn"),
        max(col("v")).over(Window.orderBy(col("k").desc)
          .rangeBetween(Window.currentRow, Window.unboundedFollowing))
          .as("dremx")), root)
      // DESC twin (value-frame direction mirrors too)
      val wd = Window.orderBy(col("k").desc)
      sets(_.select(col("k"), col("v"),
        rank().over(wd).as("rk"),
        sum(col("v")).over(wd).as("sv"),
        sum(col("v")).over(wd.rangeBetween(-7L, Window.currentRow))
          .as("vsum")), root)
    }
  }

  test("partitioned-window sweep: band-key PARTITION BY matches the shuffled WindowExec") {
    (9 to 12).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = gen(rnd, keyPool = 30 + rnd.nextInt(30),
        maxFiles = 4, uniqueKeys = false)
      val wp = Window.partitionBy(col("k"))
      val wo = wp.orderBy(col("v"))
      def q(src: DataFrame): DataFrame = src.select(col("k"), col("v"),
        sum(col("v")).over(wp).as("ks"),
        count(lit(1)).over(wp).as("kn"),
        // v may repeat within a key; RANGE default keeps ties shared
        sum(col("v")).over(wo).as("rs"),
        min(col("v")).over(wo.rowsBetween(-1, 1)).as("sl"))
      val banded = q(ExtendedJson.read(spark, schema, root))
      val plain = q(ExtendedJson.read(spark, schema, root).localCheckpoint())
      spark.catalog.clearCache()
      val b = banded.collect().map(_.toSeq.toList).toSeq
      val p = plain.collect().map(_.toSeq.toList).toSeq
      val bn = TestPlans.executedNodes(banded)
      assert(bn.exists(_.isInstanceOf[WindowExec]) &&
        bn.exists(n => n.nodeName.contains("OrderedBandScan")) &&
        !bn.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"seed $seed: " + bn.map(_.nodeName).mkString(", "))
      assert(TestPlans.executedNodes(plain)
        .exists(_.isInstanceOf[ShuffleExchangeLike]),
        "control side must pay the ordinary window exchange")
      // every window input is v itself, so permuting equal-v ties never
      // changes any attached value: full row multisets must match
      assert(b.groupBy(identity).view.mapValues(_.size).toMap ==
        p.groupBy(identity).view.mapValues(_.size).toMap,
        s"seed $seed: multiset mismatch banded ${b.length} vs ${p.length}")
      // GROUP-TOP-N: the rank filter's WindowGroupLimit re-stages as
      // the Final-mode exec over the band scan — same rows, no exchange
      def qt(src: DataFrame): DataFrame = src
        .select(col("k"), col("v"), rank().over(wo).as("rk"))
        .filter(col("rk") <= 2)
      val bt = qt(ExtendedJson.read(spark, schema, root))
      val pt = qt(ExtendedJson.read(spark, schema, root).localCheckpoint())
      spark.catalog.clearCache()
      val btr = bt.collect().map(_.toSeq.toList).toSeq
      val ptr = pt.collect().map(_.toSeq.toList).toSeq
      assert(btr.groupBy(identity).view.mapValues(_.size).toMap ==
        ptr.groupBy(identity).view.mapValues(_.size).toMap,
        s"seed $seed: group-top-n multiset")
      val btn = TestPlans.executedNodes(bt)
      assert(btn.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.window.WindowGroupLimitExec]) &&
        !btn.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"seed $seed: " + btn.map(_.nodeName).mkString(", "))
    }
  }

  test("running-sum overflow follows the session's ANSI setting, matching WindowExec") {
    val w = Window.orderBy(col("k"))
    val big = Long.MaxValue / 2 + 100
    def land(zc: Seq[String]): String = {
      val root = Files.createTempDirectory("graft_wprops_ovf").toString
      Files.write(Paths.get(root, "f0.jsonl"),
        s"""{"k": 1, "v": $big}\n{"k": 2, "v": $big}\n""".getBytes("UTF-8"))
      Files.write(Paths.get(root, "f1.jsonl"),
        s"""{"k": 3, "v": $big}\n{"k": 4, "v": 7}\n""".getBytes("UTF-8"))
      ZoneMaps.build(spark, root, schema, zc)
      root
    }
    val root = land(Seq("k"))
    val root2 = land(Seq("k", "v"))
    // ANSI mode (Spark 4's default): overflow THROWS, exactly as
    // WindowExec's Sum would — never a silently wrapped value
    intercept[Exception] {
      ExtendedJson.read(spark, schema, root)
        .select(col("k"), sum(col("v")).over(w).as("sv")).collect()
    }
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      // non-ANSI: long overflow WRAPS — computed-prefix path (v not
      // indexed: the accumulators fold the wrap themselves)…
      sets(_.select(col("k"), sum(col("v")).over(w).as("sv")), root)
      // …and the METADATA-prefix path (v indexed: band totals come from
      // the sidecar's exact sums, wrapped to the long the wrapping fold
      // would have produced)
      val banded = ExtendedJson.read(spark, schema, root2)
        .select(col("k"), sum(col("v")).over(w).as("sv"))
      assert(banded.queryExecution.executedPlan.toString
        .contains("prefix=metadata"),
        "indexed v must plan the metadata prefix")
      sets(_.select(col("k"), sum(col("v")).over(w).as("sv")), root2)
      // suffix LONG sums plan in wrap mode only (grand − prefix is
      // exact mod 2^64), and the indexed column answers from METADATA —
      // zero extra passes for the remaining-total shape
      val wsuf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val sufDf = ExtendedJson.read(spark, schema, root2)
        .select(col("k"), sum(col("v")).over(wsuf).as("rs"),
          count(col("v")).over(wsuf).as("rn"))
      assert(sufDf.queryExecution.executedPlan.toString
        .contains("prefix=metadata"),
        "indexed suffix sums must plan the metadata prefix")
      sets(_.select(col("k"), sum(col("v")).over(wsuf).as("rs"),
        count(col("v")).over(wsuf).as("rn")), root2)
      sets(_.select(col("k"), sum(col("v")).over(wsuf).as("rs")), root)
      // decimal overflow returns NULL in non-ANSI (CheckOverflow's
      // render), and values back in range render normally
      val dSchema = StructType(Seq(
        StructField("k", LongType),
        StructField("d", org.apache.spark.sql.types.DecimalType(38, 0))))
      val root3 = Files.createTempDirectory("graft_wprops_ovf3").toString
      val bigDec = "9" + "0" * 37 // 9e37; two of them overflow decimal(38,0)
      Files.write(Paths.get(root3, "f0.jsonl"),
        s"""{"k": 1, "d": $bigDec}\n{"k": 2, "d": $bigDec}\n"""
          .getBytes("UTF-8"))
      Files.write(Paths.get(root3, "f1.jsonl"),
        s"""{"k": 3, "d": -$bigDec}\n{"k": 4, "d": 5}\n""".getBytes("UTF-8"))
      ZoneMaps.build(spark, root3, dSchema, Seq("k"))
      def q(src: DataFrame): DataFrame =
        src.select(col("k"), sum(col("d")).over(w).as("sd"))
      val b3 = q(ExtendedJson.read(spark, dSchema, root3))
      val p3 = q(ExtendedJson.read(spark, dSchema, root3).localCheckpoint())
      assert(TestPlans.executedNodes(b3)
        .exists(_.isInstanceOf[BandRunningWindowExec]))
      val got = b3.collect().map(r => (r.getLong(0), r.get(1))).toMap
      val want = p3.collect().map(r => (r.getLong(0), r.get(1))).toMap
      assert(got == want, s"decimal overflow drift: $got vs $want")
      assert(got(2L) == null, "overflowing running decimal must be null")
      assert(got(4L) != null, "back-in-range running decimal must render")
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("unique-key sweep: row_number, ROWS sum, and the carry match WindowExec") {
    (5 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = gen(rnd, keyPool = 40 + rnd.nextInt(40),
        maxFiles = 4, uniqueKeys = true)
      val w = Window.orderBy(col("k"))
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sets(_.select(col("k"), col("v"),
        row_number().over(w).as("rn"),
        sum(col("v")).over(wr).as("sv"),
        last(col("v"), ignoreNulls = true).over(wr).as("carry"),
        lag(col("v"), 1).over(w).as("pv"),
        ntile(5).over(w).as("nt")), root)
      // ROWS-form suffix frames (per-row: the prefix snapshots before
      // the current row) — unique keys make them deterministic
      sets(_.select(col("k"), col("v"),
        count(col("v")).over(w.rowsBetween(Window.currentRow,
          Window.unboundedFollowing)).as("remn"),
        sum(col("v").cast("decimal(18,0)"))
          .over(w.rowsBetween(Window.currentRow,
            Window.unboundedFollowing)).as("rems"),
        min(col("v")).over(w.rowsBetween(Window.currentRow,
          Window.unboundedFollowing)).as("remmin"),
        row_number().over(w).as("rn")), root)
      // suffix AVG (exact-integer-sum inversion ÷ count — values are
      // small ints, so WindowExec's per-row double refold is exact
      // too) and suffix LAST_VALUE (the global last; null-v rows make
      // it a legitimate null sometimes), both ROWS and RANGE forms
      sets(_.select(col("k"), col("v"),
        avg(col("v")).over(w.rowsBetween(Window.currentRow,
          Window.unboundedFollowing)).as("rava"),
        last(col("v")).over(w.rowsBetween(Window.currentRow,
          Window.unboundedFollowing)).as("rlast"),
        count(col("v")).over(w.rowsBetween(Window.currentRow,
          Window.unboundedFollowing)).as("rn2")), root)
      sets(_.select(col("k"), col("v"),
        avg(col("v")).over(w.rangeBetween(Window.currentRow,
          Window.unboundedFollowing)).as("gava"),
        last(col("v")).over(w.rangeBetween(Window.currentRow,
          Window.unboundedFollowing)).as("glast")), root)
    }
  }

  test("sliding frames, running avg, and lead match WindowExec") {
    (13 to 16).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = gen(rnd, keyPool = 40 + rnd.nextInt(40),
        maxFiles = 4, uniqueKeys = true)
      val w = Window.orderBy(col("k"))
      // sliding widths beyond, at, and below typical band sizes — the
      // prefix must stitch bands for ANY n, including n larger than a
      // whole band (the carry then spans several bands)
      Seq(1, 3, 17).foreach { n =>
        val ws = w.rowsBetween(-n, Window.currentRow)
        sets(_.select(col("k"), col("v"),
          sum(col("v")).over(ws).as("ssum"),
          count(col("v")).over(ws).as("scnt"),
          min(col("v")).over(ws).as("smin"),
          max(col("v")).over(ws).as("smax"),
          avg(col("v")).over(ws).as("savg")), root)
      }
      // bounded FOLLOWING frames (the delay-ring family): centered,
      // pure-forward, asymmetric, and wider-than-a-band shapes — the
      // forward suffix then spans several bands; m = 1 pins the
      // smallest ring
      Seq((2, 2), (0, 3), (5, 1), (3, 19), (0, 23)).foreach { case (n, m) =>
        val wf = w.rowsBetween(-n, m)
        sets(_.select(col("k"), col("v"),
          sum(col("v")).over(wf).as("fsum"),
          count(col("v")).over(wf).as("fcnt"),
          min(col("v")).over(wf).as("fmin"),
          max(col("v")).over(wf).as("fmax"),
          avg(col("v")).over(wf).as("favg")), root)
      }
      // FOLLOWING frames mixed with deep leads in ONE window (same
      // frame per Window node is not required for offset funcs — lead
      // bypasses the frame gate), sharing the delay ring at different
      // depths; and the DESC twin
      sets(_.select(col("k"), col("v"),
        sum(col("v")).over(w.rowsBetween(-1, 2)).as("c3"),
        lead(col("v"), 4).over(w).as("nv4"),
        row_number().over(w).as("rn")), root)
      sets(_.select(col("k"), col("v"),
        sum(col("v")).over(Window.orderBy(col("k").desc)
          .rowsBetween(-2, 2)).as("dc5")), root)
      // running avg (cumulative) + lead across band boundaries; null-v
      // rows exercise lead's null-vs-missing distinction; deeper lag
      // offsets ride the ring (prefix = earlier bands' last n values)
      sets(_.select(col("k"), col("v"),
        avg(col("v")).over(w).as("ravg"),
        lead(col("v"), 1).over(w).as("nv"),
        lag(col("v"), 1).over(w).as("pv"),
        lag(col("v"), 3).over(w).as("pv3"),
        lag(col("v"), 19).over(w).as("pv19")), root)
      // deep leads (delay-ring emission, cross-band suffixes) and
      // constant non-null defaults for both offset directions — offsets
      // beyond a whole band make the suffix span several bands; mixed
      // depths in ONE window exercise per-func fill timing in the ring
      sets(_.select(col("k"), col("v"),
        lead(col("v"), 3).over(w).as("nv3"),
        lead(col("v"), 19).over(w).as("nv19"),
        lead(col("v"), 2, -7L).over(w).as("nv2d"),
        lead(col("v"), 1, -5L).over(w).as("nv1d"),
        lag(col("v"), 2, -1L).over(w).as("pv2d"),
        lag(col("v"), 1, 0L).over(w).as("pv1d"),
        row_number().over(w).as("rn")), root)
      // first/nth/argmax carries: both first_value null postures,
      // nth_value at depths below and beyond a band, and max_by/min_by
      // keyed on the UNIQUE ordering -k (ties impossible, so the banded
      // and control streams must agree exactly)
      sets(_.select(col("k"), col("v"),
        first(col("v")).over(w).as("fv"),
        first(col("v"), ignoreNulls = true).over(w).as("fnn"),
        nth_value(col("v"), 3).over(w).as("n3"),
        nth_value(col("v"), 23, ignoreNulls = true).over(w).as("n23nn"),
        max_by(col("v"), -col("k")).over(w).as("atmin"),
        min_by(col("v"), -col("k")).over(w).as("atmax")), root)
      // lag IGNORE NULLS (the ~quarter-null v column is exactly its
      // regime): depths within and beyond a band, defaulted and not,
      // plus the DESC twin
      sets(_.select(col("k"), col("v"),
        lag(col("v"), 1, null, ignoreNulls = true).over(w).as("pn1"),
        lag(col("v"), 5, -9L, ignoreNulls = true).over(w).as("pn5"),
        lag(col("v"), 21, null, ignoreNulls = true).over(w).as("pn21")),
        root)
      sets(_.select(col("k"), col("v"),
        lag(col("v"), 3, null, ignoreNulls = true)
          .over(Window.orderBy(col("k").desc)).as("pn3d")), root)
      // lead IGNORE NULLS (the partition-buffered index path): depths
      // within and beyond a band — the suffix then spans several
      // bands — defaulted and not, mixed with ring-evaluated funcs in
      // one node, plus the DESC twin
      sets(_.select(col("k"), col("v"),
        lead(col("v"), 1, null, ignoreNulls = true).over(w).as("fn1"),
        lead(col("v"), 5, -9L, ignoreNulls = true).over(w).as("fn5"),
        lead(col("v"), 21, null, ignoreNulls = true).over(w).as("fn21"),
        lead(col("v"), 2).over(w).as("nv2"),
        lag(col("v"), 2, null, ignoreNulls = true).over(w).as("bn2"),
        row_number().over(w).as("rn")), root)
      sets(_.select(col("k"), col("v"),
        lead(col("v"), 3, -4L, ignoreNulls = true)
          .over(Window.orderBy(col("k").desc)).as("fn3d")), root)
      // DESC: lead's suffix flows along the reversed partition order,
      // and deep-lag/lead carries assemble over the reversed bands too
      val wd = Window.orderBy(col("k").desc)
      sets(_.select(col("k"), col("v"),
        lead(col("v"), 1).over(wd).as("nv"),
        lead(col("v"), 6, -3L).over(wd).as("nv6d"),
        lag(col("v"), 19).over(wd).as("pv19"),
        first(col("v"), ignoreNulls = true).over(wd).as("fnn"),
        sum(col("v")).over(wd.rowsBetween(-2, Window.currentRow))
          .as("ssum")), root)
    }
    // refusal pins: shapes the strategy must NOT claim fall through to
    // Spark's own window (plan shows WindowExec, not the band exec)
    val rnd = new scala.util.Random(17)
    val root = gen(rnd, keyPool = 50, maxFiles = 3, uniqueKeys = true)
    val w = Window.orderBy(col("k"))
    def fallsThrough(c: org.apache.spark.sql.Column): Unit = {
      val df = ExtendedJson.read(spark, schema, root).select(col("k"), c.as("x"))
      val ns = TestPlans.executedNodes(df)
      assert(ns.exists(_.isInstanceOf[WindowExec]) &&
        !ns.exists(_.isInstanceOf[BandRunningWindowExec]),
        "unsupported frame must fall through: " +
          ns.map(_.nodeName).mkString(", "))
    }
    // an EXPRESSION default (legal SQL) cannot evaluate at plan time —
    // refuse; and HUGE lead offsets fall through like huge frames do
    fallsThrough(expr("lead(v, 1, k) OVER (ORDER BY k)"))
    fallsThrough(lead(col("v"), 1000000).over(w))
    // lead IGNORE NULLS with a huge offset falls through like every
    // huge bound (n ≤ 65,536 plans via the partition-buffered path)
    fallsThrough(lead(col("v"), 1000000, null, ignoreNulls = true).over(w))
    fallsThrough(sum(col("v"))      // unbounded forward: no bounded ring
      .over(w.rowsBetween(-3, Window.unboundedFollowing)))
    // ANSI long sums over the SUFFIX frame refuse (a per-row suffix
    // refold can overflow where grand − prefix does not — the session
    // default is ANSI here); decimal/count suffix forms plan instead
    fallsThrough(sum(col("v"))
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    // suffix avg over a DOUBLE child refuses (subtraction ≠ the IEEE
    // refold); the integral-child form plans via exact-sum inversion
    fallsThrough(avg(col("v").cast("double"))
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    fallsThrough(sum(col("v"))      // unbounded value-forward likewise
      .over(w.rangeBetween(-3, Window.unboundedFollowing)))
    fallsThrough(sum(col("v"))      // huge FOLLOWING bound
      .over(w.rowsBetween(-3, 1000000)))
    // HUGE sliding bounds fall through instead of pre-allocating
    // n-sized rings (or overflowing n+1) — Spark buffers actual rows
    fallsThrough(sum(col("v"))
      .over(w.rowsBetween(-2147483647, Window.currentRow)))
    fallsThrough(sum(col("v"))
      .over(w.rowsBetween(-1000000, Window.currentRow)))
  }

  test("sliding min/max whose extreme leaves the frame, and ANSI sums past a huge value, match WindowExec") {
    import org.apache.spark.sql.types.StringType
    val sSchema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType), StructField("s", StringType)))
    // per file, a sorted key run whose values fall then rise (the
    // frame's extreme sits at its trailing edge and is evicted next),
    // with nulls and repeated values; strings ride the same shape
    def land(keys: Seq[Long], name: String): String = {
      val root = Files.createTempDirectory(name).toString
      keys.grouped(9).zipWithIndex.foreach { case (ks, f) =>
        Files.write(Paths.get(root, f"f$f%02d.jsonl"), (ks.map { k =>
          val v = math.abs((k % 13) - 6)
          if (k % 7 == 3) s"""{"k": $k}"""
          else s"""{"k": $k, "v": $v, "s": "s_${"%02d".format(v)}"}"""
        }.mkString("\n") + "\n").getBytes("UTF-8"))
      }
      ZoneMaps.build(spark, root, sSchema, Seq("k"))
      root
    }
    val uniq = land((0L until 40L), "graft_wprops_dq")
    val ties = land((0L until 40L).map(_ / 3), "graft_wprops_dqt")
    Seq(Window.orderBy(col("k")), Window.orderBy(col("k").desc)).foreach { w =>
      // ROWS frames over UNIQUE keys (positional frames are only
      // deterministic there), trailing and forward
      sets(_.select(col("k"), col("v"), col("s"),
        min(col("v")).over(w.rowsBetween(-3, 0)).as("a"),
        max(col("v")).over(w.rowsBetween(-3, 0)).as("b"),
        min(col("s")).over(w.rowsBetween(-2, 0)).as("c"),
        max(col("s")).over(w.rowsBetween(-4, 0)).as("d")), uniq, sSchema)
      sets(_.select(col("k"), col("v"), col("s"),
        min(col("v")).over(w.rowsBetween(-2, 3)).as("e"),
        max(col("s")).over(w.rowsBetween(0, 4)).as("f")), uniq, sSchema)
      // RANGE frames over DUPLICATE keys: tie groups share the frame
      sets(_.select(col("k"), col("v"), col("s"),
        min(col("v")).over(w.rangeBetween(-2, 0)).as("g"),
        max(col("v")).over(w.rangeBetween(-3, -1)).as("h"),
        min(col("s")).over(w.rangeBetween(-1, 0)).as("i"),
        max(col("s")).over(w.rangeBetween(-2, 0)).as("j")), ties, sSchema)
      sets(_.select(col("k"), col("v"), col("s"),
        max(col("v")).over(w.rangeBetween(-1, 2)).as("l"),
        min(col("s")).over(w.rangeBetween(0, 3)).as("m")), ties, sSchema)
    }
    // ANSI long sums (the session default): a huge early value that
    // LEAVES the frame must not make later frames throw, and frames
    // whose live values overflow must throw exactly where WindowExec does
    val big = Long.MaxValue - 100
    def landBig(vs: Seq[Long], name: String): String = {
      val root = Files.createTempDirectory(name).toString
      vs.zipWithIndex.grouped(4).zipWithIndex.foreach { case (g, f) =>
        Files.write(Paths.get(root, f"f$f%02d.jsonl"), (g.map { case (v, k) =>
          s"""{"k": $k, "v": $v}"""
        }.mkString("\n") + "\n").getBytes("UTF-8"))
      }
      ZoneMaps.build(spark, root, schema, Seq("k"))
      root
    }
    val w = Window.orderBy(col("k"))
    val leaves = landBig(Seq(big) ++ Seq.fill(15)(1L), "graft_wprops_big")
    sets(_.select(col("k"), col("v"),
      sum(col("v")).over(w.rowsBetween(-2, 0)).as("r"),
      sum(col("v")).over(w.rowsBetween(-1, 2)).as("f"),
      sum(col("v")).over(w.rangeBetween(-2, 0)).as("g")), leaves)
    val overflows = landBig(Seq(1L, 2L, big, 3L, big, 5L, 6L, 7L), "graft_wprops_ovf2")
    Seq(w.rowsBetween(-2, 0), w.rangeBetween(-3, 0), w.rowsBetween(-1, 1)).foreach { f =>
      def q(src: DataFrame) = src.select(col("k"), sum(col("v")).over(f).as("x"))
      val banded = q(ExtendedJson.read(spark, schema, overflows))
      assert(TestPlans.executedNodes(banded).exists(_.isInstanceOf[BandRunningWindowExec]))
      intercept[Exception](banded.collect())
      intercept[Exception](q(ExtendedJson.read(spark, schema, overflows).localCheckpoint()).collect())
    }
  }

  test("lag, lead and nth offsets across many small bands match WindowExec") {
    (71 to 73).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // up to 14 files over ~40 unique keys: bands of a few rows, so
      // every offset below reaches across several band boundaries
      val root = gen(rnd, keyPool = 30 + rnd.nextInt(15), maxFiles = 14,
        uniqueKeys = true)
      Seq(Window.orderBy(col("k")), Window.orderBy(col("k").desc)).foreach { w =>
        sets(_.select(col("k"), col("v"),
          lag(col("v"), 5).over(w).as("a"),
          lead(col("v"), 7, -1L).over(w).as("b"),
          lag(col("v"), 4, null, ignoreNulls = true).over(w).as("c"),
          lead(col("v"), 6, null, ignoreNulls = true).over(w).as("d")), root)
        sets(_.select(col("k"), col("v"),
          nth_value(col("v"), 6).over(w).as("e"),
          nth_value(col("v"), 9, ignoreNulls = true).over(w).as("f"),
          lead(col("v"), 1).over(w).as("g"),
          lag(col("v"), 1).over(w).as("h")), root)
      }
    }
  }

  test("deep lead mixed with lead(1): string lookahead survives spilled tie groups") {
    import org.apache.spark.sql.types.StringType
    val sSchema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    val root = Files.createTempDirectory("graft_wpropss").toString
    // duplicate-heavy sorted keys with PER-ROW-unique string payloads:
    // multi-row tie groups route the lookahead through the
    // sorter-backed (spilled) group buffer while the deep ring DELAYS
    // projection — the regime where lead(1)'s eval'd value must be
    // RETAINED (the row-iterator contract only guarantees a row until
    // the next call on that iterator; the deferred read would otherwise
    // be illegal, even where the current spill reader happens not to
    // recycle the bytes). Checked by INTERNAL consistency on the banded
    // stream (its collect order IS the stream order): n1 at position i
    // must be s at i+1, n7 the s at i+7 — tie-order-free.
    val rnd = new scala.util.Random(41)
    var uid = 0
    (0 until 2).foreach { f =>
      val keys = Seq.fill(40)(rnd.nextInt(6).toLong + f * 6).sorted
      Files.write(Paths.get(root, s"f$f.jsonl"),
        (keys.map { k =>
          uid += 1
          s"""{"k": $k, "s": "value_${k}_${uid}_${"pad" * 5}"}"""
        }.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    ZoneMaps.build(spark, root, sSchema, Seq("k"))
    val w = Window.orderBy(col("k"))
    val prevSpill = spark.conf.get(
      "spark.sql.windowExecBufferSpillThreshold", "4096")
    val prevMem = spark.conf.get(
      "spark.sql.windowExecBufferInMemoryThreshold", "4096")
    try {
      spark.conf.set("spark.sql.windowExecBufferSpillThreshold", "2")
      spark.conf.set("spark.sql.windowExecBufferInMemoryThreshold", "2")
      val df = ExtendedJson.read(spark, sSchema, root)
        .select(col("k"), col("s"),
          lead(col("s"), 1).over(w).as("n1"),
          lead(col("s"), 7).over(w).as("n7"))
      val out = df.collect()
      val ns = TestPlans.executedNodes(df)
      assert(ns.exists(_.isInstanceOf[BandRunningWindowExec]) &&
        !ns.exists(_.isInstanceOf[WindowExec]) &&
        !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
        ns.map(_.nodeName).mkString(", "))
      out.indices.foreach { i =>
        val n1 = if (out(i).isNullAt(2)) null else out(i).getString(2)
        val want1 =
          if (i + 1 < out.length) out(i + 1).getString(1) else null
        assert(n1 == want1, s"lead(1) at $i: $n1 vs $want1")
        val n7 = if (out(i).isNullAt(3)) null else out(i).getString(3)
        val want7 =
          if (i + 7 < out.length) out(i + 7).getString(1) else null
        assert(n7 == want7, s"lead(7) at $i: $n7 vs $want7")
      }
    } finally {
      spark.conf.set("spark.sql.windowExecBufferSpillThreshold", prevSpill)
      spark.conf.set("spark.sql.windowExecBufferInMemoryThreshold", prevMem)
    }
  }

  test("string values survive spilled buffers in vf frames and lead IGNORE NULLS") {
    import org.apache.spark.sql.types.StringType
    val sSchema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    val root = Files.createTempDirectory("graft_wpropsvs").toString
    // UNIQUE keys (ROWS frames and per-row index paths are positional —
    // under duplicate keys both engines are permutation-nondeterministic
    // and a differential compare is unsound), per-row-unique string
    // payloads, ~quarter null: the ±FOLLOWING buffer and the
    // lead-IGNORE-NULLS value list both RETAIN evaluated strings past
    // their source row's buffer — with the sorter-backed (row-reusing)
    // store forced on, an unretained UTF8String would alias recycled
    // bytes
    var uid = 0
    (0 until 3).foreach { f =>
      val keys = (0 until 30).map(i => (f * 30 + i).toLong)
      Files.write(Paths.get(root, s"f$f.jsonl"),
        (keys.map { k =>
          uid += 1
          if (uid % 4 == 0) s"""{"k": $k}"""
          else s"""{"k": $k, "s": "val_${k}_${uid}_${"pad" * 6}"}"""
        }.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    ZoneMaps.build(spark, root, sSchema, Seq("k"))
    val w = Window.orderBy(col("k"))
    val prevSpill = spark.conf.get(
      "spark.sql.windowExecBufferSpillThreshold", "4096")
    val prevMem = spark.conf.get(
      "spark.sql.windowExecBufferInMemoryThreshold", "4096")
    try {
      spark.conf.set("spark.sql.windowExecBufferSpillThreshold", "2")
      spark.conf.set("spark.sql.windowExecBufferInMemoryThreshold", "2")
      // differential on separate queries (vf + leadNulls mix fine, but
      // keep each shape attributable)
      sets(_.select(col("k"), col("s"),
        min(col("s")).over(w.rangeBetween(-2L, 3L)).as("vmin"),
        max(col("s")).over(w.rangeBetween(-4L, -1L)).as("vmax")),
        root, sSchema)
      sets(_.select(col("k"), col("s"),
        lead(col("s"), 2, null, ignoreNulls = true).over(w).as("fn2"),
        lag(col("s"), 2, null, ignoreNulls = true).over(w).as("bn2"),
        min(col("s")).over(w.rowsBetween(-1, 2)).as("rmin")),
        root, sSchema)
      // lead IGNORE NULLS (partition pre-buffer) + a ±FOLLOWING value
      // frame (pending queue) in ONE node: the buffered replay feeds
      // the queue
      sets(_.select(col("k"), col("s"),
        lead(col("s"), 1, null, ignoreNulls = true).over(w).as("fn1"),
        max(col("s")).over(w.rangeBetween(-1L, 2L)).as("vmax2")),
        root, sSchema)
      // suffix min/max over STRINGS (the backward fold retains values
      // past recycled buffers), mixed with the lead-ignore-nulls
      // pre-buffer in one node
      sets(_.select(col("k"), col("s"),
        min(col("s")).over(w.rowsBetween(Window.currentRow,
          Window.unboundedFollowing)).as("smin"),
        max(col("s")).over(w.rangeBetween(Window.currentRow,
          Window.unboundedFollowing)).as("smax"),
        lag(col("s"), 1, null, ignoreNulls = true).over(w).as("bn1")),
        root, sSchema)
    } finally {
      spark.conf.set("spark.sql.windowExecBufferSpillThreshold", prevSpill)
      spark.conf.set("spark.sql.windowExecBufferInMemoryThreshold", prevMem)
    }
  }

  test("value-frame eviction is overflow-safe across 2^63 key spans") {
    // two bands at opposite ends of the Long range: the eviction
    // distance cur - k wraps negative for cross-band pairs, which must
    // read as "farther than any d", never as "in frame"
    val root = Files.createTempDirectory("graft_wpropso").toString
    Files.write(Paths.get(root, "f0.jsonl"),
      ((0 until 8).map(i =>
        s"""{"k": ${Long.MinValue + 10 + i}, "v": $i}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "f1.jsonl"),
      ((0 until 8).map(i =>
        s"""{"k": ${Long.MaxValue - 20 + i}, "v": ${100 + i}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, root, schema, Seq("k"))
    val w = Window.orderBy(col("k"))
    sets(_.select(col("k"), col("v"),
      sum(col("v")).over(w.rangeBetween(-5L, Window.currentRow))
        .as("s5"),
      count(col("v")).over(w.rangeBetween(-5L, Window.currentRow))
        .as("c5")), root)
    // the ±FOLLOWING twin across the same 2^63 span: pending-queue
    // release and suffix distances must read the wrap as "beyond"
    sets(_.select(col("k"), col("v"),
      sum(col("v")).over(w.rangeBetween(-5L, 5L)).as("pm5"),
      count(col("v")).over(w.rangeBetween(-5L, 5L)).as("pc5")), root)
    // a d of exactly Long.MaxValue would tie the eviction's wrapped-
    // distance clamp — it must refuse to Spark's own window
    val huge = ExtendedJson.read(spark, schema, root)
      .select(col("k"), sum(col("v"))
        .over(w.rangeBetween(-Long.MaxValue, Window.currentRow)).as("x"))
    val hns = TestPlans.executedNodes(huge)
    assert(hns.exists(_.isInstanceOf[WindowExec]) &&
      !hns.exists(_.isInstanceOf[BandRunningWindowExec]),
      "a Long.MaxValue-wide frame must fall through: " +
        hns.map(_.nodeName).mkString(", "))
  }

  test("date-key INTERVAL RANGE frames match WindowExec") {
    import org.apache.spark.sql.types.DateType
    val dSchema = StructType(Seq(
      StructField("k", DateType), StructField("v", LongType)))
    (31 to 33).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = Files.createTempDirectory("graft_wpropsd").toString
      val nFiles = 1 + rnd.nextInt(4)
      (0 until nFiles).foreach { f =>
        val n = 5 + rnd.nextInt(20)
        val days = Seq.fill(n)(rnd.nextInt(60)).sorted
        Files.write(Paths.get(root, f"f$f%02d.jsonl"),
          (days.map { dd =>
            val date = java.time.LocalDate.of(2024, 1, 1).plusDays(dd)
            if (rnd.nextInt(4) == 0) s"""{"k": "$date"}"""
            else s"""{"k": "$date", "v": ${rnd.nextInt(100) - 50}}"""
          }.mkString("\n") + "\n").getBytes("UTF-8"))
      }
      ZoneMaps.build(spark, root, dSchema, Seq("k"))
      // duplicate dates are peer groups sharing the frame — the
      // tie-deterministic RANGE semantics; widths below, near, and
      // beyond the whole calendar span
      sets(_.select(col("k"), col("v"),
        expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '3' DAY " +
          "PRECEDING AND CURRENT ROW)").as("s3"),
        expr("count(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '3' DAY " +
          "PRECEDING AND CURRENT ROW)").as("c3"),
        expr("min(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '14' DAY " +
          "PRECEDING AND CURRENT ROW)").as("m14"),
        expr("avg(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '100' DAY " +
          "PRECEDING AND CURRENT ROW)").as("a100")), root, dSchema)
      // DESC mirrors the day-distance direction
      sets(_.select(col("k"), col("v"),
        expr("sum(v) OVER (ORDER BY k DESC RANGE BETWEEN INTERVAL '7' " +
          "DAY PRECEDING AND CURRENT ROW)").as("s7d")), root, dSchema)
      // TIMESTAMP keys: any day-time interval is already in micros —
      // sub-minute frames over millisecond-grained event times
      val tSchema = StructType(Seq(
        StructField("k", org.apache.spark.sql.types.TimestampType),
        StructField("v", LongType)))
      val troot = Files.createTempDirectory("graft_wpropst").toString
      (0 until 2).foreach { f =>
        val n = 8 + rnd.nextInt(15)
        val ms = Seq.fill(n)(rnd.nextInt(600000).toLong).sorted
        Files.write(Paths.get(troot, s"t$f.jsonl"),
          (ms.map { m =>
            val t = java.time.Instant.parse("2024-03-01T00:00:00Z")
              .plusMillis(m + f * 600000L)
            if (rnd.nextInt(4) == 0) s"""{"k": "$t"}"""
            else s"""{"k": "$t", "v": ${rnd.nextInt(100) - 50}}"""
          }.mkString("\n") + "\n").getBytes("UTF-8"))
      }
      ZoneMaps.build(spark, troot, tSchema, Seq("k"))
      sets(_.select(col("k"), col("v"),
        expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '90' " +
          "SECOND PRECEDING AND CURRENT ROW)").as("s90"),
        expr("count(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL " +
          "'0 00:03:30' DAY TO SECOND PRECEDING AND CURRENT ROW)")
          .as("c210"),
        expr("max(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '2' " +
          "HOUR PRECEDING AND CURRENT ROW)").as("m2h")), troot, tSchema)
      // MONTH intervals over TIMESTAMP keys: session-tz (UTC here)
      // wall-clock month arithmetic — differential against Spark's own
      // TimestampAddYMInterval boundary on a multi-month ts spread
      val tmroot = Files.createTempDirectory("graft_wpropstm2").toString
      (0 until 2).foreach { f =>
        val n = 6 + rnd.nextInt(10)
        val hours = Seq.fill(n)(rnd.nextInt(24 * 200).toLong).sorted
        Files.write(Paths.get(tmroot, s"m$f.jsonl"),
          (hours.map { h =>
            val t = java.time.Instant.parse("2024-01-05T00:00:00Z")
              .plusSeconds(h * 3600L + f * 17280000L)
            if (rnd.nextInt(4) == 0) s"""{"k": "$t"}"""
            else s"""{"k": "$t", "v": ${rnd.nextInt(100) - 50}}"""
          }.mkString("\n") + "\n").getBytes("UTF-8"))
      }
      ZoneMaps.build(spark, tmroot, tSchema, Seq("k"))
      sets(_.select(col("k"), col("v"),
        expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '1' MONTH " +
          "PRECEDING AND CURRENT ROW)").as("tm1"),
        expr("count(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '0-2' " +
          "YEAR TO MONTH PRECEDING AND CURRENT ROW)").as("tm2"),
        expr("min(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '3' MONTH " +
          "PRECEDING AND CURRENT ROW)").as("tm3")),
        tmroot, tSchema)
      // DESC ts-month twin (its own query: a different ordering stacks)
      sets(_.select(col("k"), col("v"),
        expr("sum(v) OVER (ORDER BY k DESC RANGE BETWEEN INTERVAL '1' " +
          "MONTH PRECEDING AND CURRENT ROW)").as("tmd")), tmroot, tSchema)
      // MONTH intervals are calendar arithmetic with Spark's month-end
      // clamping — the bound is add_months(current, -m), monotone in
      // the key, so the same live-pair buffer applies; Spark is ground
      // truth for the clamping (sub-day intervals never reach the
      // strategy: the analyzer itself rejects INTERVAL HOUR against a
      // DATE order key)
      // MIXED frames share ONE Window node (the analyzer groups by
      // partition/order spec, not frame — a DIFFERENT ordering would
      // stack nodes): month widths, YEAR TO MONTH, dual-bound month,
      // and dual-bound day frames all evaluate in one band exec here
      sets(_.select(col("k"), col("v"),
        expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '1' MONTH " +
          "PRECEDING AND CURRENT ROW)").as("ms1"),
        expr("count(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '1' " +
          "MONTH PRECEDING AND CURRENT ROW)").as("mc1"),
        expr("min(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '0-2' YEAR " +
          "TO MONTH PRECEDING AND CURRENT ROW)").as("mm2"),
        // dual-bound months: the window ending one month back
        expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '2' MONTH " +
          "PRECEDING AND INTERVAL '1' MONTH PRECEDING)").as("mlag"),
        // dual-bound fixed (lagged) day frames, empty frames included
        expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '7' DAY " +
          "PRECEDING AND INTERVAL '5' DAY PRECEDING)").as("dlag"),
        expr("count(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '7' DAY " +
          "PRECEDING AND INTERVAL '7' DAY PRECEDING)").as("dpin"))
        , root, dSchema)
      // DESC month twin (the bound mirrors to add_months(current, +m);
      // its OWN query: a different ordering would stack Window nodes)
      sets(_.select(col("k"), col("v"),
        expr("sum(v) OVER (ORDER BY k DESC RANGE BETWEEN INTERVAL '1' " +
          "MONTH PRECEDING AND CURRENT ROW)").as("msd")), root, dSchema)
      // ±FOLLOWING calendar frames over the DATE key (whole-day
      // intervals both sides) and the pure-forward twin
      sets(_.select(col("k"), col("v"),
        expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '3' DAY " +
          "PRECEDING AND INTERVAL '3' DAY FOLLOWING)").as("pm3"),
        expr("count(v) OVER (ORDER BY k RANGE BETWEEN CURRENT ROW " +
          "AND INTERVAL '7' DAY FOLLOWING)").as("f7")), root, dSchema)
    }
    // month-end clamping fixture: every boundary Spark clamps
    // (Mar 31 − 1 MONTH = Feb 29 in 2024, Apr 30/May 31 chains) with
    // duplicate month-end dates as peer groups — differential, so any
    // clamping drift from Spark's own DateAddYMInterval fails
    val clampRoot = Files.createTempDirectory("graft_wpropsm").toString
    val dSchema2 = StructType(Seq(
      StructField("k", org.apache.spark.sql.types.DateType),
      StructField("v", LongType)))
    val clampDates = Seq("2024-01-30", "2024-01-31", "2024-02-29",
      "2024-02-29", "2024-03-30", "2024-03-31", "2024-04-29", "2024-04-30",
      "2024-05-31", "2024-06-30", "2024-07-31", "2024-08-31")
    Files.write(Paths.get(clampRoot, "f0.jsonl"),
      (clampDates.zipWithIndex.map { case (dd, i) =>
        s"""{"k": "$dd", "v": ${i * 7 % 13}}"""
      }.mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, clampRoot, dSchema2, Seq("k"))
    sets(_.select(col("k"), col("v"),
      expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '1' MONTH " +
        "PRECEDING AND CURRENT ROW)").as("m1"),
      expr("count(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '3' MONTH " +
        "PRECEDING AND INTERVAL '1' MONTH PRECEDING)").as("m31")),
      clampRoot, dSchema2)
    sets(_.select(col("k"), col("v"),
      expr("max(v) OVER (ORDER BY k DESC RANGE BETWEEN INTERVAL '2' " +
        "MONTH PRECEDING AND CURRENT ROW)").as("m2d")), clampRoot, dSchema2)
    // …and the TIMESTAMP twin of the clamping fixture: month-end
    // instants WITH time-of-day (the bound preserves the wall-clock
    // time while clamping the date — 2024-03-31T18:00 − 1 MONTH =
    // 2024-02-29T18:00), duplicate instants as peer groups
    val tcRoot = Files.createTempDirectory("graft_wpropsmt").toString
    val tcSchema = StructType(Seq(
      StructField("k", org.apache.spark.sql.types.TimestampType),
      StructField("v", LongType)))
    val clampTs = Seq("2024-01-30T06:30:00Z", "2024-01-31T18:00:00Z",
      "2024-02-29T18:00:00Z", "2024-02-29T18:00:00Z",
      "2024-03-30T00:00:00Z", "2024-03-31T18:00:00Z",
      "2024-04-29T12:00:00Z", "2024-04-30T23:59:59Z",
      "2024-05-31T18:00:00Z", "2024-06-30T06:00:00Z",
      "2024-07-31T18:00:00Z", "2024-08-31T17:59:59Z")
    Files.write(Paths.get(tcRoot, "f0.jsonl"),
      (clampTs.zipWithIndex.map { case (tt, i) =>
        s"""{"k": "$tt", "v": ${i * 7 % 13}}"""
      }.mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, tcRoot, tcSchema, Seq("k"))
    sets(_.select(col("k"), col("v"),
      expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '1' MONTH " +
        "PRECEDING AND CURRENT ROW)").as("tc1"),
      expr("count(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '3' MONTH " +
        "PRECEDING AND CURRENT ROW)").as("tc3")),
      tcRoot, tcSchema)
    sets(_.select(col("k"), col("v"),
      expr("max(v) OVER (ORDER BY k DESC RANGE BETWEEN INTERVAL '2' " +
        "MONTH PRECEDING AND CURRENT ROW)").as("tc2d")), tcRoot, tcSchema)
    // PLATEAU-INVERSION fixture: month-end clamping collapses Mar
    // 28–31 onto Feb 28, so the bound follows TIME-OF-DAY against the
    // key's date order — Mar 28 23:50 bounds at Feb 28 23:50 while the
    // LATER Mar 29 00:10 bounds at the EARLIER Feb 28 00:10. Spark's
    // WindowExec resolves the inversion with its forward-only
    // frame-head pointer (the effective bound is the running MAX —
    // Mar 29's frame does NOT retreat to re-admit Feb 28 00:30/12:00),
    // and the band eviction must reproduce exactly that; an
    // exact-per-row-bound evaluation differs on these rows and fails
    // this differential
    val piRoot = Files.createTempDirectory("graft_wpropspi").toString
    val invTs = Seq("2023-02-28T00:05:00Z", "2023-02-28T00:30:00Z",
      "2023-02-28T12:00:00Z", "2023-02-28T23:55:00Z",
      "2023-03-05T10:00:00Z", "2023-03-28T23:50:00Z",
      "2023-03-29T00:10:00Z", "2023-03-30T11:00:00Z",
      "2023-03-31T00:01:00Z")
    Files.write(Paths.get(piRoot, "f0.jsonl"),
      (invTs.zipWithIndex.map { case (tt, i) =>
        s"""{"k": "$tt", "v": ${i + 1}}"""
      }.mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, piRoot, tcSchema, Seq("k"))
    sets(_.select(col("k"), col("v"),
      expr("sum(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '1' MONTH " +
        "PRECEDING AND CURRENT ROW)").as("pi1"),
      expr("count(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '1' MONTH " +
        "PRECEDING AND CURRENT ROW)").as("pin")), piRoot, tcSchema)
    sets(_.select(col("k"), col("v"),
      expr("sum(v) OVER (ORDER BY k DESC RANGE BETWEEN INTERVAL '1' " +
        "MONTH PRECEDING AND CURRENT ROW)").as("pid")), piRoot, tcSchema)
    // DUAL-BOUND ts-month frames refuse (the upper bound inverts on
    // the clamp plateau too, and Spark's forward-only upper pointer
    // state has no cross-band carry here) — must fall through whole
    val dual = ExtendedJson.read(spark, tcSchema, piRoot)
      .select(col("k"), expr("sum(v) OVER (ORDER BY k RANGE BETWEEN " +
        "INTERVAL '3' MONTH PRECEDING AND INTERVAL '1' MONTH " +
        "PRECEDING)").as("x"))
    val dns = TestPlans.executedNodes(dual)
    assert(dns.exists(_.isInstanceOf[WindowExec]) &&
      !dns.exists(_.isInstanceOf[BandRunningWindowExec]),
      "dual-bound ts-month frames must fall through: " +
        dns.map(_.nodeName).mkString(", "))
  }

  test("stacked windows: a window over another window's outputs decomposes end-to-end") {
    // the SESSIONIZATION idiom — flag the gaps with lag, then
    // session-id = running SUM of the flags: the outer window's inputs
    // are the inner's OUTPUTS, so the analyzer stacks two Window nodes
    // with a Project between; both must plan as band windows (no
    // WindowExec, no exchange anywhere), and the multiset must match
    // Spark's own stacked evaluation
    (61 to 63).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = gen(rnd, keyPool = 50 + rnd.nextInt(30),
        maxFiles = 4, uniqueKeys = true)
      val w = Window.orderBy(col("k"))
      def q(src: DataFrame): DataFrame = src
        .select(col("k"), col("v"),
          lag(col("k"), 1).over(w).as("pk"))
        .select(col("k"), col("v"),
          when(col("pk").isNull || col("k") - col("pk") > 5, 1L)
            .otherwise(0L).as("gap"))
        .select(col("k"), col("v"), col("gap"),
          sum(col("gap")).over(w).as("session_id"))
      val banded = q(ExtendedJson.read(spark, schema, root))
      val plain = q(ExtendedJson.read(spark, schema, root).localCheckpoint())
      spark.catalog.clearCache()
      val b = banded.collect().map(_.toSeq.toList).toSeq
      val p = plain.collect().map(_.toSeq.toList).toSeq
      val bn = TestPlans.executedNodes(banded)
      assert(bn.count(_.isInstanceOf[BandRunningWindowExec]) == 2 &&
        !bn.exists(_.isInstanceOf[WindowExec]) &&
        !bn.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"seed $seed stacked plan: " + bn.map(_.nodeName).mkString(", "))
      assert(b.groupBy(identity).view.mapValues(_.size).toMap ==
        p.groupBy(identity).view.mapValues(_.size).toMap,
        s"seed $seed stacked multiset: ${b.length} vs ${p.length}")
      // THREE levels (flag → session id → per-session rank would need
      // PARTITION BY; instead stack a third ORDER-BY window reading
      // session_id — running max of session ids, trivially = session_id
      // but exercises the depth) and a FILTER between levels
      def q3(src: DataFrame): DataFrame = q(src)
        .filter(col("v").isNotNull)
        .select(col("k"), col("session_id"),
          max(col("session_id")).over(w).as("sx"),
          row_number().over(w).as("rn"))
        .select(col("k"), col("session_id"), col("sx"), col("rn"),
          // a ±FOLLOWING value frame READING a stacked window's output:
          // same ordering ⇒ it JOINS the third node (mixed with the
          // cumulative max and row_number — queue + group machinery in
          // one node) over the band-window child chain
          sum(col("session_id")).over(w.rangeBetween(-2L, 2L)).as("vf"))
      val b3 = q3(ExtendedJson.read(spark, schema, root))
      val p3 = q3(ExtendedJson.read(spark, schema, root).localCheckpoint())
      spark.catalog.clearCache()
      val b3r = b3.collect().map(_.toSeq.toList).toSeq
      val p3r = p3.collect().map(_.toSeq.toList).toSeq
      val b3n = TestPlans.executedNodes(b3)
      assert(b3n.count(_.isInstanceOf[BandRunningWindowExec]) == 3 &&
        !b3n.exists(_.isInstanceOf[WindowExec]) &&
        !b3n.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"seed $seed 3-level plan: " + b3n.map(_.nodeName).mkString(", "))
      assert(b3r.groupBy(identity).view.mapValues(_.size).toMap ==
        p3r.groupBy(identity).view.mapValues(_.size).toMap,
        s"seed $seed 3-level multiset")
    }
  }

  test("value-frame refusal pins: non-UTC ts months stay differential, and the population cap") {
    val rnd = new scala.util.Random(51)
    // a MONTH interval over a TIMESTAMP key is timezone-local calendar
    // arithmetic — the strategy captures the SESSION timezone at plan
    // time and the bound is timestampAddMonths in it, matching Spark's
    // own TimestampAddYMInterval boundary in ANY session tz: pin the
    // differential under a DST-bearing zone, not just UTC
    val tSchema = StructType(Seq(
      StructField("k", org.apache.spark.sql.types.TimestampType),
      StructField("v", LongType)))
    val troot = Files.createTempDirectory("graft_wpropstm").toString
    Files.write(Paths.get(troot, "t0.jsonl"),
      ((0 until 10).map { i =>
        s"""{"k": "2024-0${1 + i % 6}-11T0$i:00:00Z", "v": $i}"""
      }.toSeq.sorted.mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, troot, tSchema, Seq("k"))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      sets(_.select(col("k"), col("v"),
        expr("sum(v) OVER (ORDER BY k RANGE BETWEEN " +
          "INTERVAL '1' MONTH PRECEDING AND CURRENT ROW)").as("x")),
        troot, tSchema)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // MONTH FOLLOWING bounds: over DATE keys the per-row release bound
    // add_months(rk, +m) is non-strictly monotone, so the pending
    // queue plans — differential; over TIMESTAMP keys the clamp
    // plateau inverts with time-of-day and the shape refuses. Also: a
    // node MIXING the key-released pending queue with the row-count
    // delay ring refuses (each owns the partition's emission order)
    val root0 = gen(new scala.util.Random(52), keyPool = 40,
      maxFiles = 2, uniqueKeys = true)
    def refuses(c: org.apache.spark.sql.Column, root: String,
        sch: StructType, what: String): Unit = {
      val df = ExtendedJson.read(spark, sch, root).select(col("k"), c.as("x"))
      val ns = TestPlans.executedNodes(df)
      assert(ns.exists(_.isInstanceOf[WindowExec]) &&
        !ns.exists(_.isInstanceOf[BandRunningWindowExec]),
        s"$what must fall through: " + ns.map(_.nodeName).mkString(", "))
    }
    val w0 = Window.orderBy(col("k"))
    val dSchemaF = StructType(Seq(
      StructField("k", org.apache.spark.sql.types.DateType),
      StructField("v", LongType)))
    val dRootF = {
      val droot = java.nio.file.Files
        .createTempDirectory("graft_wpropsmf").toString
      // two files; month-end dates included so the release bound's
      // clamping (Jan 31 + 1 MONTH = Feb 29 in 2024) exercises
      java.nio.file.Files.write(
        java.nio.file.Paths.get(droot, "f0.jsonl"),
        (((1 to 6).map(i => s"""{"k": "2024-0$i-15", "v": $i}""") ++
          Seq("""{"k": "2024-01-31", "v": 10}""",
            """{"k": "2024-03-31", "v": 11}"""))
          .sorted.mkString("\n") + "\n").getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(droot, "f1.jsonl"),
        (((7 to 9).map(i => s"""{"k": "2024-0$i-15", "v": $i}""") ++
          Seq("""{"k": "2024-08-31", "v": 12}""",
            """{"k": "2024-10-30", "v": 13}"""))
          .sorted.mkString("\n") + "\n").getBytes("UTF-8"))
      ZoneMaps.build(spark, droot, dSchemaF, Seq("k"))
      droot
    }
    sets(_.select(col("k"), col("v"),
      expr("sum(v) OVER (ORDER BY k RANGE BETWEEN CURRENT ROW " +
        "AND INTERVAL '1' MONTH FOLLOWING)").as("mf1"),
      expr("count(v) OVER (ORDER BY k RANGE BETWEEN INTERVAL '2' " +
        "MONTH PRECEDING AND INTERVAL '1' MONTH FOLLOWING)").as("mpf"),
      expr("min(v) OVER (ORDER BY k RANGE BETWEEN CURRENT ROW " +
        "AND INTERVAL '0-3' YEAR TO MONTH FOLLOWING)").as("mf3")),
      dRootF, dSchemaF)
    // ts-month FOLLOWING refuses (plateau inversion — see MonthTsDist)
    refuses(expr("sum(v) OVER (ORDER BY k RANGE BETWEEN CURRENT ROW " +
      "AND INTERVAL '1' MONTH FOLLOWING)"),
      {
        val troot2 = java.nio.file.Files
          .createTempDirectory("graft_wpropsmft").toString
        java.nio.file.Files.write(
          java.nio.file.Paths.get(troot2, "f0.jsonl"),
          ((1 to 9).map(i => s"""{"k": "2024-0$i-15T0$i:00:00Z", "v": $i}""")
            .mkString("\n") + "\n").getBytes("UTF-8"))
        val ts = StructType(Seq(
          StructField("k", org.apache.spark.sql.types.TimestampType),
          StructField("v", LongType)))
        ZoneMaps.build(spark, troot2, ts, Seq("k"))
        troot2
      },
      StructType(Seq(
        StructField("k", org.apache.spark.sql.types.TimestampType),
        StructField("v", LongType))), "ts-month FOLLOWING")
    // (a MIXED day/month ±FOLLOWING frame never reaches the strategy:
    // the analyzer itself rejects SPECIFIED_WINDOW_FRAME_DIFF_TYPES)
    // mixed delay regimes: RANGE ±f + ROWS FOLLOWING in one node
    locally {
      val df = ExtendedJson.read(spark, schema, root0).select(col("k"), col("v"),
        sum(col("v")).over(w0.rangeBetween(-3L, 3L)).as("a"),
        sum(col("v")).over(w0.rowsBetween(-1, 2)).as("b"))
      val ns = TestPlans.executedNodes(df)
      assert(ns.exists(_.isInstanceOf[WindowExec]) &&
        !ns.exists(_.isInstanceOf[BandRunningWindowExec]),
        "mixed delay regimes must refuse whole: " +
          ns.map(_.nodeName).mkString(", "))
    }
    // the PLAN-TIME population bound: with the cap dialed down, a frame
    // wide enough to hold a whole band's rows must refuse to Spark's
    // spillable window (the sidecar proves the density); back at the
    // default it plans — and answers stay differential-identical
    val root = gen(rnd, keyPool = 60, maxFiles = 3, uniqueKeys = true)
    val w = Window.orderBy(col("k"))
    val wide = w.rangeBetween(-1000L, Window.currentRow)
    def q(src: DataFrame): DataFrame =
      src.select(col("k"), sum(col("v")).over(wide).as("x"))
    val prior = spark.conf.getOption(
      graft.plans.RangeWindowStrategy.MaxRangeFrameRowsKey)
    try {
      spark.conf.set(
        graft.plans.RangeWindowStrategy.MaxRangeFrameRowsKey, "4")
      val capped = q(ExtendedJson.read(spark, schema, root))
      val cns = TestPlans.executedNodes(capped)
      assert(cns.exists(_.isInstanceOf[WindowExec]) &&
        !cns.exists(_.isInstanceOf[BandRunningWindowExec]),
        "a frame denser than the cap must fall through: " +
          cns.map(_.nodeName).mkString(", "))
    } finally prior match {
      case Some(v) => spark.conf.set(
        graft.plans.RangeWindowStrategy.MaxRangeFrameRowsKey, v)
      case None => spark.conf.unset(
        graft.plans.RangeWindowStrategy.MaxRangeFrameRowsKey)
    }
    sets(q, root)
  }
}
