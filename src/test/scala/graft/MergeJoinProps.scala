package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.ExtendedJson
import graft.ingest.v2.ZoneMaps
import graft.plans.{OrderedBandScanExec, RangeMergeJoinExec}

/** Randomized adversarial sweep for the band-layout read/join machinery:
  * random per-file sorted key runs (duplicate-heavy pools, arbitrary
  * overlaps across files AND across join sides, single-row files, fully
  * disjoint sides) are landed, sidecar-indexed, and then every
  * merge-planned result is checked against the answer computed directly
  * from the generated rows — multiset-exact, with the ordering claims
  * verified on the collected output. Each case also asserts the plan
  * SHAPE (band scan / merge join planned, zero shuffle exchange), so a
  * soundness regression and a silent fall-through both fail.
  *
  * Deterministic seeds: a failure names its case and reproduces.
  */
class MergeJoinProps extends AnyFunSuite {
  import TestSpark.spark

  private val lSchema = StructType(Seq(
    StructField("k", LongType), StructField("lv", StringType)))
  private val rSchema = StructType(Seq(
    StructField("k", LongType), StructField("rv", StringType)))

  /** One side: files of SORTED key runs drawn from a duplicate-dense
    * pool; returns (dir, rows as (key, payload)).
    */
  private def genSide(rnd: scala.util.Random, tag: String, keyPool: Int,
      maxFiles: Int, vcol: String): (String, Seq[(Long, String)]) = {
    val root = Files.createTempDirectory(s"graft_mjp$tag").toString
    val all = Seq.newBuilder[(Long, String)]
    val nFiles = 1 + rnd.nextInt(maxFiles)
    var uid = 0
    (0 until nFiles).foreach { f =>
      val nRows = 1 + rnd.nextInt(12)
      val keys = Seq.fill(nRows)(rnd.nextInt(keyPool).toLong).sorted
      val rows = keys.map { k => uid += 1; (k, s"$tag$f-$uid") }
      all ++= rows
      Files.write(Paths.get(root, f"f$f%02d.jsonl"),
        (rows.map { case (k, v) => s"""{"k": $k, "$vcol": "$v"}""" }
          .mkString("\n") + "\n").getBytes("UTF-8"))
    }
    (root, all.result())
  }

  private def nodes(df: DataFrame) = TestPlans.executedNodes(df)

  private def sortedByKey[T](rows: Seq[(Long, T)]): Boolean =
    rows.map(_._1) == rows.map(_._1).sorted

  test("randomized band layouts: merge read and all four join types match the direct answer") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      // small pools force heavy duplication; occasionally disjoint pools
      // force empty overlaps (plan-time pruning to zero partitions)
      val pool = 4 + rnd.nextInt(20)
      val (lDir, lRows) = genSide(rnd, s"l$seed", pool, 4, "lv")
      val (rDir, rRows) = genSide(rnd, s"r$seed", pool, 3, "rv")
      ZoneMaps.build(spark, lDir, lSchema, Seq("k"))
      ZoneMaps.build(spark, rDir, rSchema, Seq("k"))
      val l = ExtendedJson.read(spark, lSchema, lDir)
      val r = ExtendedJson.read(spark, rSchema, rDir)
      val ctx = s"seed=$seed pool=$pool l=${lRows.size} r=${rRows.size}"

      // merge read: ORDER BY over arbitrarily overlapping sorted files
      val ordered = l.orderBy(col("k"))
      val got = ordered.collect().map(x => (x.getLong(0), x.getString(1)))
      assert(sortedByKey(got.toSeq), s"$ctx: merge read must be key-ordered")
      assert(got.toSeq.sorted == lRows.sorted, s"$ctx: merge read multiset")
      val ons = nodes(ordered)
      assert(ons.exists(_.isInstanceOf[OrderedBandScanExec]) &&
        !ons.exists(_.isInstanceOf[ShuffleExchangeLike]), s"$ctx: plan")

      // direct answers from the generated rows
      val rByKey = rRows.groupBy(_._1)
      val inner = for ((lk, lv) <- lRows; (_, rv) <- rByKey.getOrElse(lk, Nil))
        yield (lk, lv, rv)
      val semi = lRows.filter { case (k, _) => rByKey.contains(k) }
      val anti = lRows.filterNot { case (k, _) => rByKey.contains(k) }
      val outer = inner ++ anti.map { case (k, v) => (k, v, null: String) }

      def joined(tpe: String) = l.join(r, l("k") === r("k"), tpe)
      def checkPlan(df: DataFrame, what: String): Unit = {
        val ns = nodes(df)
        assert(ns.exists(_.isInstanceOf[RangeMergeJoinExec]),
          s"$ctx $what: merge join must plan: " +
            ns.map(_.nodeName).mkString(", "))
        assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
          s"$ctx $what: zero exchange")
      }

      val in = joined("inner").select(l("k"), col("lv"), col("rv"))
      val inGot = in.collect().map(x =>
        (x.getLong(0), x.getString(1), x.getString(2)))
      assert(inGot.toSeq.sorted == inner.sorted, s"$ctx inner multiset")
      assert(inGot.map(_._1).toSeq == inGot.map(_._1).sorted.toSeq,
        s"$ctx inner must stream key-ordered")
      checkPlan(in, "inner")

      val se = joined("left_semi")
      assert(se.collect().map(x => (x.getLong(0), x.getString(1)))
        .toSeq.sorted == semi.sorted, s"$ctx semi multiset")
      checkPlan(se, "semi")

      val an = joined("left_anti")
      assert(an.collect().map(x => (x.getLong(0), x.getString(1)))
        .toSeq.sorted == anti.sorted, s"$ctx anti multiset")
      checkPlan(an, "anti")

      val ou = joined("left_outer").select(l("k"), col("lv"), col("rv"))
      val ouGot = ou.collect().map(x => (x.getLong(0), x.getString(1),
        if (x.isNullAt(2)) null else x.getString(2)))
      assert(ouGot.toSeq.sortBy(t => (t._1, t._2, String.valueOf(t._3))) ==
        outer.sortBy(t => (t._1, t._2, String.valueOf(t._3))),
        s"$ctx outer multiset")
      checkPlan(ou, "outer")

      // FULL OUTER: matched + left-only + right-only, one streamed pass
      val rOnly = rRows.filterNot { case (k, _) => lRows.exists(_._1 == k) }
      val fullExp: Seq[(java.lang.Long, String, java.lang.Long, String)] =
        inner.map { case (k, lv, rv) =>
          (java.lang.Long.valueOf(k), lv, java.lang.Long.valueOf(k), rv) } ++
          anti.map { case (k, v) =>
            (java.lang.Long.valueOf(k), v, null: java.lang.Long,
              null: String) } ++
          rOnly.map { case (k, rv) =>
            (null: java.lang.Long, null: String,
              java.lang.Long.valueOf(k), rv) }
      val fo = joined("full_outer")
        .select(l("k").as("lk"), col("lv"), r("k").as("rk"), col("rv"))
      val foGot = fo.collect().map(x => (
        if (x.isNullAt(0)) null else java.lang.Long.valueOf(x.getLong(0)),
        if (x.isNullAt(1)) null else x.getString(1),
        if (x.isNullAt(2)) null else java.lang.Long.valueOf(x.getLong(2)),
        if (x.isNullAt(3)) null else x.getString(3)))
      def skey(t: (java.lang.Long, String, java.lang.Long, String)) =
        (String.valueOf(t._1), String.valueOf(t._2),
          String.valueOf(t._3), String.valueOf(t._4))
      assert(foGot.toSeq.sortBy(skey) == fullExp.sortBy(skey),
        s"$ctx full outer multiset")
      checkPlan(fo, "full_outer")

      // RIGHT OUTER (planned as the mirrored left outer + final
      // projection): every right row kept, left null-extended when
      // match-less; output attribute order is the ORIGINAL (l ++ r)
      val roExp: Seq[(java.lang.Long, String, java.lang.Long, String)] =
        inner.map { case (k, lv, rv) =>
          (java.lang.Long.valueOf(k), lv, java.lang.Long.valueOf(k), rv) } ++
          rOnly.map { case (k, rv) =>
            (null: java.lang.Long, null: String,
              java.lang.Long.valueOf(k), rv) }
      val ro = joined("right_outer")
        .select(l("k").as("lk"), col("lv"), r("k").as("rk"), col("rv"))
      val roGot = ro.collect().map(x => (
        if (x.isNullAt(0)) null else java.lang.Long.valueOf(x.getLong(0)),
        if (x.isNullAt(1)) null else x.getString(1),
        if (x.isNullAt(2)) null else java.lang.Long.valueOf(x.getLong(2)),
        if (x.isNullAt(3)) null else x.getString(3)))
      assert(roGot.toSeq.sortBy(skey) == roExp.sortBy(skey),
        s"$ctx right outer multiset")
      // the preserved side streams as the merge base: output must be
      // RIGHT-key ordered (every row's right key is non-null)
      assert(roGot.forall(_._3 != null) &&
        roGot.map(_._3.longValue()).toSeq ==
          roGot.map(_._3.longValue()).sorted.toSeq,
        s"$ctx right outer must stream right-key-ordered")
      checkPlan(ro, "right_outer")
    }
  }

  test("residual conjuncts, filtered sides, and chains match Spark's own join plans") {
    val xSchemas = Map(
      "ln" -> StructType(Seq(StructField("k", LongType),
        StructField("ln", LongType))),
      "rn" -> StructType(Seq(StructField("k", LongType),
        StructField("rn", LongType))),
      "cn" -> StructType(Seq(StructField("k", LongType),
        StructField("cn", LongType))))
    def genNum(rnd: scala.util.Random, tag: String, keyPool: Int,
        maxFiles: Int, ncol: String): String = {
      val root = Files.createTempDirectory(s"graft_mjx$tag").toString
      val nFiles = 1 + rnd.nextInt(maxFiles)
      (0 until nFiles).foreach { f =>
        val nRows = 1 + rnd.nextInt(12)
        val keys = Seq.fill(nRows)(rnd.nextInt(keyPool).toLong).sorted
        Files.write(Paths.get(root, f"f$f%02d.jsonl"),
          (keys.map(k => s"""{"k": $k, "$ncol": ${rnd.nextInt(20)}}""")
            .mkString("\n") + "\n").getBytes("UTF-8"))
      }
      ZoneMaps.build(spark, root, xSchemas(ncol), Seq("k"))
      root
    }
    for (seed <- 21 to 26) {
      val rnd = new scala.util.Random(seed)
      val pool = 4 + rnd.nextInt(16)
      val lDir = genNum(rnd, s"l$seed", pool, 4, "ln")
      val rDir = genNum(rnd, s"r$seed", pool, 3, "rn")
      val cDir = genNum(rnd, s"c$seed", pool, 2, "cn")
      // the control reads the same rows materialized, a plan no graft
      // strategy can claim
      def read(ncol: String, dir: String, banded: Boolean): DataFrame = {
        val df = ExtendedJson.read(spark, xSchemas(ncol), dir)
        if (banded) df else df.localCheckpoint()
      }
      def diff(what: String, merged: Boolean,
          q: (DataFrame, DataFrame, DataFrame) => DataFrame): Unit = {
        val banded = q(read("ln", lDir, true), read("rn", rDir, true),
          read("cn", cDir, true))
        val plain = q(read("ln", lDir, false), read("rn", rDir, false),
          read("cn", cDir, false))
        spark.catalog.clearCache()
        val b = banded.collect().map(_.toSeq.toList).toSeq
        val p = plain.collect().map(_.toSeq.toList).toSeq
        assert(b.groupBy(identity).view.mapValues(_.size).toMap ==
          p.groupBy(identity).view.mapValues(_.size).toMap,
          s"seed=$seed $what: multiset banded ${b.length} vs ${p.length}")
        val bn = nodes(banded)
        assert(bn.exists(_.isInstanceOf[RangeMergeJoinExec]) == merged,
          s"seed=$seed $what: " + bn.map(_.nodeName).mkString(", "))
        if (merged)
          assert(!bn.exists(_.isInstanceOf[ShuffleExchangeLike]),
            s"seed=$seed $what: zero exchange")
        assert(!nodes(plain).exists(_.isInstanceOf[RangeMergeJoinExec]),
          s"seed=$seed $what: control must use Spark's own join")
      }
      // cross-side residual over every join type (the residual column
      // is random per row, so TRUE/FALSE/"no pair passes" all occur —
      // for full outer that exercises both unmatched directions at once)
      Seq("inner", "left_outer", "left_semi", "left_anti",
        "full_outer", "right_outer").foreach { jt =>
        diff(s"$jt+residual", merged = true, (l, r, _) =>
          l.join(r, l("k") === r("k") && l("ln") < r("rn"), jt))
      }
      // chaining ON TOP of a swapped right outer: the preserved (right)
      // key stays ordered/non-null, so a second hop keyed on it folds
      // into the chain exactly like a left-outer step would
      diff("chain right_outer+anti", merged = true, (l, r, c) =>
        l.join(r, l("k") === r("k"), "right_outer")
          .join(c, r("k") === c("k"), "left_anti"))
      // residual filter on the right side (arithmetic — not pushable)
      diff("filtered-right outer", merged = true, (l, r, _) =>
        l.join(r.filter(col("rn") % 3 === 0), l("k") === r("k"),
          "left_outer"))
      // left-deep chains on the shared key: enrich + decontaminate,
      // and a 3-way inner with a residual at the second hop
      diff("chain inner+anti", merged = true, (l, r, c) =>
        l.join(r, l("k") === r("k"))
          .join(c, l("k") === c("k"), "left_anti"))
      diff("chain inner+inner residual", merged = true, (l, r, c) =>
        l.join(r, l("k") === r("k"))
          .join(c, l("k") === c("k") && r("rn") =!= c("cn")))
      // full outer may END a chain (the enriched-diff shape)…
      diff("chain inner+full_outer", merged = true, (l, r, c) =>
        l.join(r, l("k") === r("k"))
          .join(c, l("k") === c("k"), "full_outer"))
      // …and a RUNNING WINDOW over the chain decomposes over the chain
      // exec's partitions (the q192 composition) instead of
      // re-collapsing its zero-exchange stream — tie groups share the
      // RANGE-default running values, so duplicates stay deterministic
      locally {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{count, lit, min, rank, sum}
        val wk = Window.orderBy(col("k"))
        diff("window over chain", merged = true, (l, r, c) =>
          l.join(r, l("k") === r("k"))
            .join(c, l("k") === c("k"), "left_anti")
            .select(l("k"), col("ln"), col("rn"))
            .select(col("k"), col("ln"),
              sum(col("ln")).over(wk).as("run"),
              count(lit(1)).over(wk).as("rn2"),
              rank().over(wk).as("rk")))
        // value frames over the chain (no sidecar bound there — the
        // runtime cap governs): trailing, dual-bound, and ±FOLLOWING
        diff("value frames over chain", merged = true, (l, r, _) =>
          l.join(r, l("k") === r("k"))
            .select(l("k"), col("ln"))
            .select(col("k"), col("ln"),
              sum(col("ln")).over(wk.rangeBetween(-3L, Window.currentRow))
                .as("t3"),
              count(col("ln")).over(wk.rangeBetween(-5L, -2L)).as("lg"),
              min(col("ln")).over(wk.rangeBetween(-2L, 2L)).as("pm")))
        // GROUP BY the chain key rides the chain's range claim with no
        // exchange (the q205 composition) — multiset vs Spark's plan
        diff("agg over chain", merged = true, (l, r, c) =>
          l.join(r, l("k") === r("k"))
            .join(c, l("k") === c("k"), "left_anti")
            .groupBy(l("k"))
            .agg(sum(col("ln")).as("s"), count(lit(1)).as("n")))
        // the banded side must ALSO plan the band window (not a silent
        // single-partition WindowExec over the merge)
        val banded = {
          val l2 = read("ln", lDir, true); val r2 = read("rn", rDir, true)
          l2.join(r2, l2("k") === r2("k"))
            .select(l2("k"), col("ln"))
            .select(col("k"), col("ln"),
              sum(col("ln")).over(wk).as("run"))
        }
        banded.collect()
        val ns = nodes(banded)
        assert(ns.exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]) &&
          ns.exists(_.isInstanceOf[RangeMergeJoinExec]) &&
          !ns.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.window.WindowExec]) &&
          !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
          s"seed=$seed window-over-chain plan: " +
            ns.map(_.nodeName).mkString(", "))
      }
      // …but nothing chains ON TOP of one: its output can carry null
      // keys, so the outer hop pays Spark's ordinary join — the inner
      // full outer still merges, answers still match. (The top join
      // must be LEFT OUTER: an INNER equality above a full outer
      // null-filters the key, and Spark's own EliminateOuterJoin then
      // correctly degrades the full outer to LEFT OUTER — which DOES
      // chain, and should.)
      locally {
        val q = (l: DataFrame, r: DataFrame, c: DataFrame) =>
          l.join(c, l("k") === c("k"), "full_outer")
            .join(r, l("k") === r("k"), "left_outer")
        val banded = q(read("ln", lDir, true), read("rn", rDir, true),
          read("cn", cDir, true))
        val plain = q(read("ln", lDir, false), read("rn", rDir, false),
          read("cn", cDir, false))
        spark.catalog.clearCache()
        val b = banded.collect().map(_.toSeq.toList).toSeq
        val p = plain.collect().map(_.toSeq.toList).toSeq
        assert(b.groupBy(identity).view.mapValues(_.size).toMap ==
          p.groupBy(identity).view.mapValues(_.size).toMap,
          s"seed=$seed full-outer-below chain: multiset")
        val execs = nodes(banded)
          .collect { case j: RangeMergeJoinExec => j }
        assert(execs.nonEmpty && execs.forall(_.steps.length == 1),
          s"seed=$seed: nothing may chain on top of a full outer")
      }
      // a second hop keyed on an UNPROVABLE attribute must not chain:
      // the inner join still merges (partial acceleration), the outer
      // hop pays Spark's ordinary join — answers still match
      locally {
        val q = (l: DataFrame, r: DataFrame, c: DataFrame) =>
          l.join(r, l("k") === r("k")).join(c, r("rn") === c("cn"))
        val banded = q(read("ln", lDir, true), read("rn", rDir, true),
          read("cn", cDir, true))
        val plain = q(read("ln", lDir, false), read("rn", rDir, false),
          read("cn", cDir, false))
        spark.catalog.clearCache()
        val b = banded.collect().map(_.toSeq.toList).toSeq
        val p = plain.collect().map(_.toSeq.toList).toSeq
        assert(b.groupBy(identity).view.mapValues(_.size).toMap ==
          p.groupBy(identity).view.mapValues(_.size).toMap,
          s"seed=$seed wrong-key chain: multiset")
        val execs = nodes(banded)
          .collect { case j: RangeMergeJoinExec => j }
        assert(execs.nonEmpty && execs.forall(_.steps.length == 1),
          s"seed=$seed: the unprovable hop must NOT fold into the chain")
      }
    }
  }

  test("fully disjoint sides: inner/semi answer empty from ZERO partitions, anti/outer keep every left row") {
    val rnd = new scala.util.Random(99)
    val (lDir, lRows) = genSide(rnd, "dl", 10, 3, "lv")
    val rDir = Files.createTempDirectory("graft_mjpdr").toString
    Files.write(Paths.get(rDir, "r.jsonl"),
      (0 until 10).map(i => s"""{"k": ${1000 + i}, "rv": "z$i"}""")
        .mkString("\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, lDir, lSchema, Seq("k"))
    ZoneMaps.build(spark, rDir, rSchema, Seq("k"))
    val l = ExtendedJson.read(spark, lSchema, lDir)
    val r = ExtendedJson.read(spark, rSchema, rDir)
    val in = l.join(r, l("k") === r("k"), "inner")
    assert(in.collect().isEmpty)
    val inExec = nodes(in).collect { case j: RangeMergeJoinExec => j }
    assert(inExec.length == 1 && inExec.head.parts.isEmpty,
      "disjoint ranges must prune to ZERO partitions at plan time")
    assert(l.join(r, l("k") === r("k"), "left_semi").collect().isEmpty)
    val anti = l.join(r, l("k") === r("k"), "left_anti")
    assert(anti.collect().map(x => (x.getLong(0), x.getString(1)))
      .toSeq.sorted == lRows.sorted)
    val outer = l.join(r, l("k") === r("k"), "left_outer")
    val oGot = outer.collect()
    assert(oGot.length == lRows.size && oGot.forall(_.isNullAt(2)))
    // full outer keeps BOTH disjoint sides, each null-extended — the
    // right-only range survives plan-time pruning as its own component
    val fo = l.join(r, l("k") === r("k"), "full_outer")
      .select(l("k").as("lk"), col("lv"), r("k").as("rk"), col("rv"))
    val foGot = fo.collect()
    assert(foGot.length == lRows.size + 10)
    assert(foGot.count(_.isNullAt(0)) == 10 &&
      foGot.count(_.isNullAt(2)) == lRows.size)
    val foExec = nodes(fo).collect { case j: RangeMergeJoinExec => j }
    assert(foExec.length == 1 && foExec.head.parts.nonEmpty)
    // right outer with fully disjoint sides: every RIGHT row kept,
    // left side all-null; the left-only component prunes at plan time
    val ro = l.join(r, l("k") === r("k"), "right_outer")
      .select(l("k").as("lk"), col("lv"), r("k").as("rk"), col("rv"))
    val roGot = ro.collect()
    assert(roGot.length == 10 && roGot.forall(_.isNullAt(0)))
    val roExec = nodes(ro).collect { case j: RangeMergeJoinExec => j }
    assert(roExec.length == 1 && roExec.head.parts.length == 1,
      "the left-only range must prune; the right-only range must survive")
  }
}
