package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Generations
import graft.sink.CorpusSink

/** The sharded-writer determinism contract: same input → same shard files,
  * byte-stable per file across independent runs.
  */
class CorpusSinkSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def corpus(seed: Int) = {
    // built through a shuffle+repartition so the two runs' INPUT partition
    // layouts differ — determinism must come from the writer, not luck
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((1 to 500).toList).map(i => (i.toLong, s"doc $i"))
    rows.toDF("doc_id", "text").repartition(3 + seed % 2)
  }

  private def fileContents(dir: String): Map[String, Seq[Long]] = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    files.map { f =>
      // key by shard ordinal (the part index prefix), not the full name
      // (it embeds a per-job UUID)
      val ord = f.getName.split("-")(1)
      ord -> spark.read.parquet(f.getAbsolutePath)
        .select("doc_id").as[Long].collect().toSeq
    }.toMap
  }

  test("writeSharded: shard count, within-shard order, rerun-identical layout") {
    val d1 = Files.createTempDirectory("graft_shards1").toString
    val d2 = Files.createTempDirectory("graft_shards2").toString
    CorpusSink.writeSharded(corpus(0), "doc_id", d1, numShards = 4)
    CorpusSink.writeSharded(corpus(1), "doc_id", d2, numShards = 4)
    val c1 = fileContents(d1)
    val c2 = fileContents(d2)
    assert(c1.size == 4)
    // every shard file is sorted by id
    assert(c1.values.forall(ids => ids == ids.sorted))
    // shard-by-shard identical across the two independent runs
    assert(c1 == c2)
    // nothing lost or duplicated
    assert(c1.values.flatten.toSeq.sorted == (1L to 500L))
  }

  test("landJsonlIndexed: zone maps ride the landing; appends prune without a rebuild") {
    import org.apache.spark.sql.types._
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val dir = Files.createTempDirectory("graft_land").toString + "/docs"
    // initial drop: ids 1..300 land sharded + indexed in one call
    val first = (1 to 300).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    assert(CorpusSink.landJsonlIndexed(first, "doc_id", dir, numShards = 3,
      zoneCols = Seq("doc_id")) == 3L)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def src = graft.ingest.ExtendedJson.read(spark, schema, dir)
    assert(src.count() == 300L)
    // a later batch lands with appendTag: only ITS files are indexed
    // (one pass over the new shards, not the corpus), and the sidecar
    // generation participates in pruning immediately
    val second = (301 to 400).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    assert(CorpusSink.landJsonlIndexed(second, "doc_id", dir, numShards = 2,
      zoneCols = Seq("doc_id"), appendTag = Some("b1")) == 2L)
    assert(ZoneMaps.loadStats(spark, dir, schema).size == 5)
    val hi = src.filter(col("doc_id") > 300L)
    assert(hi.count() == 100L)
    val scan = hi.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
      .head.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    val planned = scan.planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition].file).toSet
    assert(planned.size == 2,
      s"id > 300 lives only in the appended shards, planned $planned")
    // REPLAY of the same landing tag converges: the batch directory is
    // deterministic + overwrite, so the drop holds ONE copy and the
    // re-indexed sidecar generation matches the re-landed files
    assert(CorpusSink.landJsonlIndexed(second, "doc_id", dir, numShards = 2,
      zoneCols = Seq("doc_id"), appendTag = Some("b1")) == 2L)
    assert(src.filter(col("doc_id") > 300L).count() == 100L,
      "a re-offered landing batch must converge, not duplicate")
    assert(ZoneMaps.loadStats(spark, dir, schema).size == 5)
    // a malformed tag must fail BEFORE anything lands — a post-write
    // failure would leave a readable-but-unindexed batch behind
    val bad = intercept[IllegalArgumentException](
      CorpusSink.landJsonlIndexed(second, "doc_id", dir, numShards = 1,
        zoneCols = Seq("doc_id"), appendTag = Some("x/y")))
    assert(bad.getMessage.contains("directory-safe"))
    assert(!new java.io.File(s"$dir/batch_x").exists() &&
      !new java.io.File(s"$dir/batch_x/y").exists())
    assert(src.count() == 400L, "the failed landing must write nothing")
  }

  test("landJsonlRangeIndexed: disjoint sorted bands, reproducible layout, one-band probes") {
    import org.apache.spark.sql.types._
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("score", DoubleType)))
    // deterministic but shuffled input with DUPLICATE keys (each score
    // repeats 4x): reproducibility must come from the full-row
    // tiebreak, not key uniqueness
    val data = (1 to 400).map(i =>
      (i.toLong, ((i * 137) % 100) * 10.0)).toDF("doc_id", "score")
    def land(dir: String): Long = CorpusSink.landJsonlRangeIndexed(
      data, "score", dir, numBands = 4,
      zoneCols = Seq("score", "doc_id"))
    val d1 = Files.createTempDirectory("graft_rgl1").toString + "/docs"
    val d2 = Files.createTempDirectory("graft_rgl2").toString + "/docs"
    assert(land(d1) == 4L)
    assert(land(d2) == 4L)
    // REPRODUCIBLE: same input → byte-identical band files both runs
    def bandFiles(dir: String): Map[String, Seq[String]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("band="))
        .flatMap(b => b.listFiles().filter(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith(".")))
        .map(f => s"${f.getParentFile.getName}" ->
          new String(Files.readAllBytes(f.toPath), "UTF-8"))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq.sorted }
    }
    assert(bandFiles(d1) == bandFiles(d2),
      "range landing must be rerun-reproducible")
    // DISJOINT sorted bands: per-file [min, max] ranges never overlap,
    // every file carries the sorted proof, and rows are all there
    val stats = ZoneMaps.loadStats(spark, d1, schema).values.toSeq
    assert(stats.size == 4)
    assert(stats.forall(_.cols("score").sorted),
      "every band file must be key-sorted")
    val ranges = stats.map(s => (
      s.cols("score").min.get.asInstanceOf[Double],
      s.cols("score").max.get.asInstanceOf[Double])).sortBy(_._1)
    assert(ranges.zip(ranges.tail).forall { case (a, b) => a._2 < b._1 },
      s"bands must own disjoint ranges: $ranges")
    def src = graft.ingest.ExtendedJson.read(spark, schema, d1)
    assert(src.count() == 400L)
    // a top-band range probe plans exactly one file
    val probe = src.filter(col("score") >= ranges.last._1)
    probe.collect()
    val planned = probe.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
      .head.asInstanceOf[graft.ingest.v2.ExtJsonScan].planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition].file).distinct
    assert(planned.length == 1, s"one band must plan: $planned")
    // append path: a later batch lands banded under its own tag and the
    // sidecar generation rides along (replay-convergent by tag)
    val extra = (401 to 450).map(i => (i.toLong, 5000.0 + i))
      .toDF("doc_id", "score")
    assert(CorpusSink.landJsonlRangeIndexed(extra, "score", d1,
      numBands = 2, zoneCols = Seq("score", "doc_id"),
      appendTag = Some("b1")) == 2L)
    assert(src.count() == 450L)
    val hi = src.filter(col("score") > 4999.0)
    assert(hi.count() == 50L)
    // the sort key must be zone-indexed — an unindexed key refuses loudly
    val bad = intercept[IllegalArgumentException](
      CorpusSink.landJsonlRangeIndexed(extra, "score", d1, 2,
        zoneCols = Seq("doc_id")))
    assert(bad.getMessage.contains("zone-indexed"))
    // ...and orderable-indexable: a boolean key has no zone ordering
    val bkdata = Seq((1L, true), (2L, false)).toDF("doc_id", "bk")
    val nonIdx = intercept[IllegalArgumentException](
      CorpusSink.landJsonlRangeIndexed(bkdata, "bk",
        Files.createTempDirectory("graft_rgls").toString + "/d", 2,
        zoneCols = Seq("bk")))
    assert(nonIdx.getMessage.contains("indexable"))
    // a data column named 'band' would be silently overwritten in the
    // landed JSON — refuse loudly instead
    val bdata = Seq((1L, 1.0, "x")).toDF("doc_id", "score", "band")
    val clash = intercept[IllegalArgumentException](
      CorpusSink.landJsonlRangeIndexed(bdata, "score",
        Files.createTempDirectory("graft_rglb").toString + "/d", 2,
        zoneCols = Seq("score")))
    assert(clash.getMessage.contains("band"))
    // an EMPTY batch has no quantiles (SQL NULL): lands as one band,
    // no NPE — the landJsonlIndexed empty-input posture
    val emptyDir = Files.createTempDirectory("graft_rgle").toString + "/d"
    CorpusSink.landJsonlRangeIndexed(
      data.filter(col("doc_id") < 0L), "score", emptyDir, 4,
      zoneCols = Seq("score"))
    assert(!new java.io.File(emptyDir).exists() ||
      new java.io.File(emptyDir).listFiles()
        .forall(f => f.getName.startsWith("_") ||
          f.getName.startsWith(".") || f.isDirectory),
      "an empty landing must write no visible data files")
  }

  test("landJsonlRangeIndexed on a STRING key: lexicographically disjoint sorted bands") {
    import org.apache.spark.sql.types._
    import graft.ingest.v2.ZoneMaps
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("sk", StringType)))
    // the classic numeric-vs-lexicographic trap lives IN the data: "9"
    // and "10"-style keys (zero-unpadded decimals) order differently by
    // value and by bytes — the landing must band and prove by BYTES,
    // consistently with the sidecar comparator, or bands overlap
    val data = (1 to 300).map(i => (i.toLong, i.toString))
      .toDF("doc_id", "sk")
    val dir = Files.createTempDirectory("graft_rglstr").toString + "/docs"
    assert(CorpusSink.landJsonlRangeIndexed(data, "sk", dir, numBands = 4,
      zoneCols = Seq("sk", "doc_id")) == 4L)
    val stats = ZoneMaps.loadStats(spark, dir, schema).values.toSeq
    assert(stats.size == 4)
    assert(stats.forall(_.cols("sk").sorted),
      "every band file must carry the string sorted proof")
    // disjoint under BINARY string order (UTF8String), the comparator
    // every consumer (zone prune, ordered scan) shares
    val ranges = stats.map(s => (
      s.cols("sk").min.get.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      s.cols("sk").max.get.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]))
      .sortBy(_._1)
    assert(ranges.zip(ranges.tail).forall { case (a, b) =>
      a._2.compareTo(b._1) < 0
    }, s"string bands must own disjoint byte ranges: $ranges")
    // the exchange-free ordered scan composes on the string layout
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val src = graft.ingest.ExtendedJson.read(spark, schema, dir)
    val sorted = src.orderBy(col("sk")).select(col("sk"), col("doc_id"))
    val got = sorted.collect().map(_.getString(0)).toSeq
    assert(got.length == 300)
    assert(got == (1 to 300).map(_.toString).sorted,
      "rows must arrive in global lexicographic order")
    val ns = TestPlans.executedNodes(sorted)
    assert(ns.exists(_.isInstanceOf[graft.plans.OrderedBandScanExec]),
      ns.map(_.nodeName).mkString(", "))
    assert(!ns.exists(_.isInstanceOf[SortExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "a string-key layout must get the same exchange-free, sort-free plan")
  }

  test("landJsonlIndexed maxSidecarGenerations: landings self-compact past the cadence") {
    import org.apache.spark.sql.types._
    import graft.ingest.v2.ZoneMaps
    val dir = Files.createTempDirectory("graft_landc").toString + "/docs"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def batch(r: Range) = r.map(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text")
    CorpusSink.landJsonlIndexed(batch(1 to 100), "doc_id", dir,
      numShards = 2, zoneCols = Seq("doc_id"))
    def gens(): Set[String] = {
      val f = new java.io.File(s"$dir/${ZoneMaps.SidecarDir}")
      f.listFiles().filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).toSet
    }
    // cadence 2: the first append leaves 2 generations (no fold), the
    // second exceeds the cadence and the landing folds itself — no
    // separate maintenance job, planning cost stays bounded
    CorpusSink.landJsonlIndexed(batch(101 to 200), "doc_id", dir,
      numShards = 1, zoneCols = Seq("doc_id"), appendTag = Some("b1"),
      maxSidecarGenerations = 2)
    assert(gens() == Set("base", "add_b1"))
    CorpusSink.landJsonlIndexed(batch(201 to 300), "doc_id", dir,
      numShards = 1, zoneCols = Seq("doc_id"), appendTag = Some("b2"),
      maxSidecarGenerations = 2)
    assert(gens() == Set("base"), s"expected a self-compacted sidecar: ${gens()}")
    // the folded sidecar still prunes: the last batch's band plans alone
    def src = graft.ingest.ExtendedJson.read(spark, schema, dir)
    assert(src.count() == 300L)
    assert(ZoneMaps.loadStats(spark, dir, schema).size == 4)
    val hi = src.filter(col("doc_id") > 200L)
    assert(hi.count() == 100L)
    val planned = hi.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
      .head.asInstanceOf[graft.ingest.v2.ExtJsonScan].planInputPartitions()
    assert(planned.length == 1, s"folded stats must keep pruning: ${planned.length}")
  }

  test("range-landing lifecycle: blooms and block rows survive the sidecar fold") {
    import org.apache.spark.sql.types._
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val dir = Files.createTempDirectory("graft_rglc").toString + "/docs"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("score", DoubleType)))
    val data = (1 to 400).map(i => (i.toLong, i * 10.0))
      .toDF("doc_id", "score")
    CorpusSink.landJsonlRangeIndexed(data, "score", dir, numBands = 4,
      zoneCols = Seq("score", "doc_id"), bloomCols = Seq("doc_id"),
      blockBytes = 512L)
    val extra = (1001 to 1100).map(i => (i.toLong, i * 10.0))
      .toDF("doc_id", "score")
    CorpusSink.landJsonlRangeIndexed(extra, "score", dir, numBands = 1,
      zoneCols = Seq("score", "doc_id"), bloomCols = Seq("doc_id"),
      blockBytes = 512L, appendTag = Some("b1"))
    val before = ZoneMaps.loadStats(spark, dir, schema)
    assert(before.size == 5)
    // FOLD base + add_b1 — the bloom blobs and block rows must ride
    // through (the fold is a row-preserving parquet rewrite; a column
    // lost here would silently disarm point lookups and split skipping)
    assert(ZoneMaps.compact(spark, dir) == 2L)
    val after = ZoneMaps.loadStats(spark, dir, schema)
    assert(after == before, "the fold must preserve every live stats row")
    assert(after.values.forall(_.blocks.isDefined),
      "block rows must survive the fold")
    assert(after.values.forall(_.cols("score").sorted),
      "sorted proofs must survive the fold")
    def plannedOf(df: org.apache.spark.sql.DataFrame): (Seq[String], Int) = {
      val scan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan
        .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
        .head.asInstanceOf[graft.ingest.v2.ExtJsonScan]
      df.collect()
      (scan.planInputPartitions()
        .map(_.asInstanceOf[ExtJsonInputPartition].file).distinct.toSeq,
        scan.bloomBlobsFetched)
    }
    def src = graft.ingest.ExtendedJson.read(spark, schema, dir)
    // bloom point lookup through the FOLDED sidecar: one surviving band
    // file, with its blob actually probed
    val (lookFiles, blobs) = plannedOf(src.filter(col("doc_id") === 1050L))
    assert(lookFiles.length == 1 && lookFiles.head.contains("batch_b1"),
      s"folded blooms must still prune: $lookFiles")
    assert(blobs >= 1, "the folded blob must be fetched and probed")
    // block stats through the folded sidecar: a narrow range plans less
    // than the surviving file's bytes
    val narrow = src.filter(col("score") >= 1500.0 && col("score") < 1700.0)
    narrow.collect()
    val scan2 = narrow.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
      .head.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    val parts = scan2.planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition])
    assert(parts.map(_.file).distinct.length == 1)
    val fLen = new java.io.File(
      new java.net.URI(parts.head.file).getPath).length()
    assert(parts.map(_.length).sum < fLen,
      s"folded block rows must still cut splits: ${parts.map(_.length).sum} of $fLen")
  }

  test("compactRangeIndexed: appended overlap folds to disjoint files with no shuffle, no sort") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.ingest.v2.ZoneMaps
    import graft.plans.OrderedBandScanExec
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("score", DoubleType)))
    val src = Files.createTempDirectory("graft_cmp_src").toString + "/docs"
    val dst = Files.createTempDirectory("graft_cmp_dst").toString + "/docs"
    def batch(r: Range) =
      r.map(i => (i.toLong, ((i * 137) % 100) * 10.0)).toDF("doc_id", "score")
    // base landing + two tagged appends, each cutting its OWN boundaries
    // over its own rows: the appended bands overlap the base ones
    CorpusSink.landJsonlRangeIndexed(batch(1 to 200), "score", src,
      numBands = 3, zoneCols = Seq("score", "doc_id"))
    CorpusSink.landJsonlRangeIndexed(batch(201 to 300), "score", src,
      numBands = 2, zoneCols = Seq("score", "doc_id"),
      appendTag = Some("b1"))
    CorpusSink.landJsonlRangeIndexed(batch(301 to 400), "score", src,
      numBands = 2, zoneCols = Seq("score", "doc_id"),
      appendTag = Some("b2"))
    def orderedRead(dir: String) =
      graft.ingest.ExtendedJson.read(spark, schema, dir).orderBy(col("score"))
    // the decayed layout merge-reads: some group holds >1 file
    val before = orderedRead(src)
    val beforeRows = before.collect()
    assert(beforeRows.length == 400)
    val bScan = TestPlans.executedNodes(before)
      .collectFirst { case o: OrderedBandScanExec => o }
    assert(bScan.exists(_.groups.exists(_.files.lengthCompare(1) > 0)),
      "appended landings must overlap (the compaction premise)")
    // the compaction read is the SAME plan — pin that the rewrite pays
    // neither exchange nor sort nor any boundary-sample job
    val ns = TestPlans.executedNodes(before)
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(_.isInstanceOf[SortExec]),
      "compaction input must plan exchange-free and sort-free")
    val nFiles = CorpusSink.compactRangeIndexed(spark, schema, src, dst,
      "score", zoneCols = Seq("score", "doc_id"))
    assert(nFiles == bScan.get.groups.length.toLong,
      "one output file per disjoint overlap group")
    // the compacted drop: every file sorted-proven, ranges disjoint,
    // all rows present, and the ordered scan plans PLAIN bands again
    val stats = ZoneMaps.loadStats(spark, dst, schema).values.toSeq
    assert(stats.size == nFiles.toInt)
    assert(stats.forall(_.cols("score").sorted))
    val ranges = stats.map(s => (
      s.cols("score").min.get.asInstanceOf[Double],
      s.cols("score").max.get.asInstanceOf[Double])).sortBy(_._1)
    assert(ranges.zip(ranges.tail).forall { case (a, b) => a._2 < b._1 },
      s"compacted files must own disjoint ranges: $ranges")
    val after = orderedRead(dst)
    val afterRows = after.collect()
    assert(afterRows.length == 400)
    assert(afterRows.map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq ==
      beforeRows.map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq,
      "compaction must preserve the row multiset")
    assert(afterRows.map(_.getDouble(1)).sliding(2)
      .forall(p => p(0) <= p(1)), "compacted read must stream sorted")
    val aScan = TestPlans.executedNodes(after)
      .collectFirst { case o: OrderedBandScanExec => o }
    assert(aScan.exists(_.groups.forall(_.files.lengthCompare(1) == 0)),
      "compaction must restore one-file-per-group bands")
    // same-directory compaction refuses loudly — including path-
    // equivalent spellings (a trailing slash must not bypass the guard
    // into overwriting the lazily-read source)
    intercept[IllegalArgumentException] {
      CorpusSink.compactRangeIndexed(spark, schema, src, src, "score",
        zoneCols = Seq("score", "doc_id"))
    }
    intercept[IllegalArgumentException] {
      CorpusSink.compactRangeIndexed(spark, schema, src, src + "/",
        "score", zoneCols = Seq("score", "doc_id"))
    }
    // scheme-variant spelling of the same directory: qualification
    // resolves file: vs bare paths to one identity
    intercept[IllegalArgumentException] {
      CorpusSink.compactRangeIndexed(spark, schema, src, "file:" + src,
        "score", zoneCols = Seq("score", "doc_id"))
    }
    // dst INSIDE src: a later source overwrite would sweep it up, and
    // the read lists it — refuse descendants
    intercept[IllegalArgumentException] {
      CorpusSink.compactRangeIndexed(spark, schema, src, src + "/sub",
        "score", zoneCols = Seq("score", "doc_id"))
    }
    // dst an ANCESTOR of src: mode("overwrite") deletes the whole
    // destination tree, source included — the unrecoverable case
    intercept[IllegalArgumentException] {
      CorpusSink.compactRangeIndexed(spark, schema, src,
        new java.io.File(src).getParent, "score",
        zoneCols = Seq("score", "doc_id"))
    }
  }

  test("compactRangeIndexedInPlace: same-path fold, plain bands restored, crash replays converge") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.ingest.v2.ZoneMaps
    import graft.plans.OrderedBandScanExec
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("score", DoubleType)))
    def batch(r: Range) =
      r.map(i => (i.toLong, ((i * 137) % 100) * 10.0)).toDF("doc_id", "score")
    def land(dir: String): Unit = {
      CorpusSink.landJsonlRangeIndexed(batch(1 to 200), "score", dir,
        numBands = 3, zoneCols = Seq("score", "doc_id"))
      CorpusSink.landJsonlRangeIndexed(batch(201 to 300), "score", dir,
        numBands = 2, zoneCols = Seq("score", "doc_id"),
        appendTag = Some("b1"))
      CorpusSink.landJsonlRangeIndexed(batch(301 to 400), "score", dir,
        numBands = 2, zoneCols = Seq("score", "doc_id"),
        appendTag = Some("b2"))
    }
    def orderedRead(dir: String) =
      graft.ingest.ExtendedJson.read(spark, schema, dir).orderBy(col("score"))
    val dir = Files.createTempDirectory("graft_cmpip").toString + "/docs"
    land(dir)
    val before = orderedRead(dir)
    val beforeRows = before.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(TestPlans.executedNodes(before)
      .collectFirst { case o: OrderedBandScanExec => o }
      .exists(_.groups.exists(_.files.lengthCompare(1) > 0)),
      "appended landings must overlap (the compaction premise)")
    val landed = CorpusSink.compactRangeIndexedInPlace(spark, schema, dir,
      "score", zoneCols = Seq("score", "doc_id"))
    assert(landed > 0L)
    // SAME path: plain single-file bands, disjoint, zero merge/sort/
    // exchange, full multiset — and no staging residue
    val after = orderedRead(dir)
    val afterRows = after.collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(afterRows.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    assert(afterRows.sorted.toSeq == beforeRows,
      "in-place compaction must preserve the row multiset")
    val ns = TestPlans.executedNodes(after)
    val aScan = ns.collectFirst { case o: OrderedBandScanExec => o }
    assert(aScan.exists(_.groups.forall(_.files.lengthCompare(1) == 0)),
      "in-place compaction must restore one-file-per-group bands")
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
      !ns.exists(_.isInstanceOf[SortExec]))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_compact")),
      "a completed fold must leave no staging residue")

    // CRASH REPLAY 1: staged + manifested, then "crash" before finish —
    // the next public call detects the manifest and completes the fold
    val dir2 = Files.createTempDirectory("graft_cmpip2").toString + "/docs"
    land(dir2)
    val want2 = orderedRead(dir2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val root2 = fs.makeQualified(new org.apache.hadoop.fs.Path(dir2))
    CorpusSink.stageCompaction(spark, schema, root2, "score")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root2,
      "_compact/_covered.json")))
    CorpusSink.compactRangeIndexedInPlace(spark, schema, dir2, "score",
      zoneCols = Seq("score", "doc_id"))
    assert(orderedRead(dir2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq == want2)
    assert(TestPlans.executedNodes(orderedRead(dir2))
      .collectFirst { case o: OrderedBandScanExec => o }
      .exists(_.groups.forall(_.files.lengthCompare(1) == 0)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root2, "_compact")))

    // CRASH REPLAY 2: crash MID-finish — some staged files already
    // renamed in, some covered files already deleted — replay converges
    // to the same multiset with no duplicates
    val dir3 = Files.createTempDirectory("graft_cmpip3").toString + "/docs"
    land(dir3)
    val want3 = orderedRead(dir3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val root3 = fs.makeQualified(new org.apache.hadoop.fs.Path(dir3))
    CorpusSink.stageCompaction(spark, schema, root3, "score")
    // simulate the partial finish by hand: move ONE staged file to its
    // target name and delete ONE covered file
    val manifest3 = {
      val in = fs.open(new org.apache.hadoop.fs.Path(root3,
        "_compact/_covered.json"))
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    val tag3 = manifest3.split("\"tag\":\"")(1).takeWhile(_ != '"')
    val dataDir3 = new org.apache.hadoop.fs.Path(root3, "_compact/data")
    val staged3 = fs.listStatus(dataDir3).filter(st =>
      st.isFile && !st.getPath.getName.startsWith("_"))
    assert(staged3.nonEmpty)
    val first3 = staged3.head.getPath
    assert(fs.rename(first3, new org.apache.hadoop.fs.Path(root3,
      s"compact-$tag3-${first3.getName}")))
    val covered3 = manifest3.split("\"covered\":\\[")(1)
      .takeWhile(_ != ']').split("\",\"").head
      .stripPrefix("\"").stripSuffix("\"")
    fs.delete(new org.apache.hadoop.fs.Path(root3, covered3), false)
    // the replay completes: same rows, plain bands, no residue — and
    // reports the FULL fold size, not just the files it moved itself
    val landed3 = CorpusSink.compactRangeIndexedInPlace(spark, schema,
      dir3, "score", zoneCols = Seq("score", "doc_id"))
    val compactFiles3 = fs.listStatus(root3).count(st =>
      st.isFile && st.getPath.getName.startsWith(s"compact-$tag3-"))
    // the manually-moved file is OUTSIDE what the replay itself renames,
    // yet the count must still cover it (the drop's compact-* files,
    // not the staging leftovers)
    assert(landed3 == compactFiles3 && landed3 >= 1,
      s"replay must report the whole fold: $landed3 vs $compactFiles3")
    assert(orderedRead(dir3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq == want3,
      "a mid-finish crash must replay to the exact multiset")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root3, "_compact")))

    // a DAMAGED manifest refuses loudly — it must never parse as an
    // empty covered list (which would leave every superseded file in
    // place beside its compacted copy: permanent duplicate rows)
    val dir4 = Files.createTempDirectory("graft_cmpip4").toString + "/docs"
    land(dir4)
    val root4 = fs.makeQualified(new org.apache.hadoop.fs.Path(dir4))
    CorpusSink.stageCompaction(spark, schema, root4, "score")
    val mPath4 = new org.apache.hadoop.fs.Path(root4,
      "_compact/_covered.json")
    val full4 = {
      val in = fs.open(mPath4)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    val out4 = fs.create(mPath4, true)
    try out4.write(full4.dropRight(12).getBytes("UTF-8")) // truncate
    finally out4.close()
    intercept[Exception] {
      CorpusSink.compactRangeIndexedInPlace(spark, schema, dir4, "score",
        zoneCols = Seq("score", "doc_id"))
    }
    // the inputs are untouched by the refusal
    assert(orderedRead(dir4).collect().length == 400)

    // a crash BEFORE the manifest commit (temp file only) discards the
    // stage and refolds cleanly
    val dir5 = Files.createTempDirectory("graft_cmpip5").toString + "/docs"
    land(dir5)
    val root5 = fs.makeQualified(new org.apache.hadoop.fs.Path(dir5))
    CorpusSink.stageCompaction(spark, schema, root5, "score")
    val m5 = new org.apache.hadoop.fs.Path(root5, "_compact/_covered.json")
    assert(fs.rename(m5, new org.apache.hadoop.fs.Path(root5,
      "_compact/._covered.json.tmp"))) // "crashed mid-write"
    val landed5 = CorpusSink.compactRangeIndexedInPlace(spark, schema,
      dir5, "score", zoneCols = Seq("score", "doc_id"))
    assert(landed5 > 0L)
    assert(orderedRead(dir5).collect().length == 400)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root5, "_compact")))
  }

  test("generation-pinned reads: a mid-finish listing sees exactly ONE generation, both orders") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("score", DoubleType)))
    def batch(r: Range) =
      r.map(i => (i.toLong, ((i * 137) % 100) * 10.0)).toDF("doc_id", "score")
    val dir = Files.createTempDirectory("graft_genpin").toString + "/docs"
    CorpusSink.landJsonlRangeIndexed(batch(1 to 200), "score", dir,
      numBands = 3, zoneCols = Seq("score", "doc_id"))
    CorpusSink.landJsonlRangeIndexed(batch(201 to 300), "score", dir,
      numBands = 2, zoneCols = Seq("score", "doc_id"),
      appendTag = Some("b1"))
    def readAll() = graft.ingest.ExtendedJson.read(spark, schema, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val want = readAll()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    CorpusSink.stageCompaction(spark, schema, root, "score")
    val manifest = {
      val in = fs.open(new org.apache.hadoop.fs.Path(root,
        CorpusSink.CompactManifestRelPath))
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    val (tag, covered) = CorpusSink.parseCompactManifest(manifest)
    val staged = fs.listStatus(
      new org.apache.hadoop.fs.Path(root, "_compact/data")).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && st.getLen > 0 &&
          !n.startsWith("_") && !n.startsWith(".")
      }
    assert(staged.nonEmpty && covered.nonEmpty)
    // ORDER 1 — mid-RENAME (manifest present, covered intact, compact
    // set PARTIAL): the listing must pin to the OLD generation — the
    // exact pre-fold multiset, no duplicate rows, no partial new files
    fs.rename(staged.head.getPath, new org.apache.hadoop.fs.Path(root,
      s"compact-$tag-${staged.head.getPath.getName}"))
    assert(readAll() == want,
      "mid-rename read must see exactly the OLD generation")
    // ORDER 2 — post-rename, mid-DELETE (compact set complete, one
    // covered file gone): the listing must pin to the NEW generation —
    // same multiset again, remaining covered files excluded
    staged.drop(1).foreach { st =>
      fs.rename(st.getPath, new org.apache.hadoop.fs.Path(root,
        s"compact-$tag-${st.getPath.getName}"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(root, covered.head), false)
    assert(readAll() == want,
      "mid-delete read must see exactly the NEW generation")
    // the replay still converges to a clean single-generation layout
    CorpusSink.compactRangeIndexedInPlace(spark, schema, dir, "score",
      zoneCols = Seq("score", "doc_id"))
    assert(readAll() == want)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_compact")))
  }

  test("generation-pinned metadata answers: the old-generation window answers from the covered files' stats") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("score", DoubleType)))
    def batch(r: Range) =
      r.map(i => (i.toLong, ((i * 137) % 100) * 10.0)).toDF("doc_id", "score")
    val dir = Files.createTempDirectory("graft_genpinagg").toString + "/docs"
    CorpusSink.landJsonlRangeIndexed(batch(1 to 200), "score", dir,
      numBands = 3, zoneCols = Seq("score", "doc_id"))
    CorpusSink.landJsonlRangeIndexed(batch(201 to 300), "score", dir,
      numBands = 2, zoneCols = Seq("score", "doc_id"),
      appendTag = Some("b1"))
    // (answer row, answered metadata-only)
    def answer() = {
      val df = graft.ingest.ExtendedJson.read(spark, schema, dir)
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo"),
          max(col("score")).as("hi"))
      val scan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }.head.asInstanceOf[graft.ingest.v2.ExtJsonScan]
      (df.collect().head, scan.statsAnswer.isDefined)
    }
    val (want, metaBefore) = answer()
    assert(metaBefore && want.getLong(0) == 300L, want.toString)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    CorpusSink.stageCompaction(spark, schema, root, "score")
    val manifest = Generations.readText(fs,
      new org.apache.hadoop.fs.Path(root, CorpusSink.CompactManifestRelPath)).get
    val (tag, _) = CorpusSink.parseCompactManifest(manifest)
    val staged = fs.listStatus(
      new org.apache.hadoop.fs.Path(root, "_compact/data")).toSeq
      .filter(st => st.isFile && st.getLen > 0 &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    // mid-rename: one unindexed compact file beside the intact covered set
    fs.rename(staged.head.getPath, new org.apache.hadoop.fs.Path(root,
      s"compact-$tag-${staged.head.getPath.getName}"))
    val (got, meta) = answer()
    assert(meta, "the pinned old generation is fully indexed")
    assert(got == want)
  }

  test("manifest round-trips, is order-free, and catches tampering") {
    val d = Files.createTempDirectory("graft_manifest").toString
    CorpusSink.writeSharded(corpus(0), "doc_id", d, numShards = 4)
    val digests = CorpusSink.writeManifest(spark, d)
    assert(digests.size == 4 && digests.map(_.rows).sum == 500)
    // fresh verification passes, and the manifest file is invisible to
    // corpus readers (leading underscore)
    assert(CorpusSink.verifyManifest(spark, d) == Right(4))
    assert(spark.read.parquet(d).count() == 500)
    // the digest is row-order-free: recomputing under different
    // parallelism gives identical hashes
    val again = CorpusSink.computeDigests(
      spark.newSession(), d).map(dg => dg.file -> dg).toMap
    digests.foreach(dg => assert(again(dg.file) == dg))
    // tamper: drop one shard file -> named as missing
    val victim = new java.io.File(d).listFiles()
      .filter(_.getName.startsWith("part-")).minBy(_.getName)
    assert(victim.delete())
    CorpusSink.verifyManifest(spark, d) match {
      case Left(problems) =>
        assert(problems.exists(_.contains(victim.getName)), problems)
      case Right(_) => fail("deleted shard must fail verification")
    }
  }

  test("manifest keys by root-relative path: partitioned layouts don't collide") {
    val d = Files.createTempDirectory("graft_manifest_part").toString
    // partitionBy repeats part-file BASENAMES across partition dirs —
    // the exact layout a basename-keyed manifest would silently shadow
    corpus(0).withColumn("lang",
        org.apache.spark.sql.functions.col("doc_id") % 2)
      .write.mode("overwrite").partitionBy("lang").parquet(d)
    val digests = CorpusSink.writeManifest(spark, d)
    assert(digests.map(_.file).distinct.size == digests.size,
      s"relative keys must be unique: ${digests.map(_.file)}")
    assert(digests.exists(_.file.startsWith("lang=0/")) &&
      digests.exists(_.file.startsWith("lang=1/")), digests.map(_.file))
    assert(CorpusSink.verifyManifest(spark, d) == Right(digests.size))
    // tampering inside ONE partition dir is detected and named in full
    val victim = new java.io.File(d, "lang=1").listFiles()
      .filter(_.getName.startsWith("part-")).minBy(_.getName)
    assert(victim.delete())
    CorpusSink.verifyManifest(spark, d) match {
      case Left(problems) =>
        assert(problems.exists(_.contains(s"lang=1/${victim.getName}")), problems)
      case Right(_) => fail("deleted nested shard must fail verification")
    }
  }

  test("writeSharded: maxRecordsPerFile rolls a shard deterministically") {
    val d = Files.createTempDirectory("graft_shards3").toString
    CorpusSink.writeSharded(corpus(0), "doc_id", d, numShards = 2,
      maxRecordsPerFile = 100L)
    val files = new java.io.File(d).listFiles()
      .filter(_.getName.startsWith("part-"))
    // 2 shards of ~250 rows roll into ceil(250/100)=3 files each
    assert(files.length == 6, files.map(_.getName).mkString(","))
    val all = spark.read.parquet(d).select("doc_id").as[Long].collect()
    assert(all.sorted.toSeq == (1L to 500L))
  }

  test("manifest escaping: quote/backslash/control paths survive the round trip") {
    // caller-provided layouts can contain characters the hand-built JSON
    // would otherwise corrupt; the regex parse must recover them exactly
    val paths = Seq("""lang=we"ird/part-0.parquet""", """a\b/part-1.parquet""",
      "tab\there/p.parquet", "plain/part-2.parquet", """both\"mixed""")
    paths.foreach { p =>
      val rt = Generations.junesc(Generations.jesc(p))
      assert(rt == p, s"round-trip broke: $p -> $rt")
      // the escaped form parses as ONE entry under the verify regex
      val entry = s"""{"file":"${Generations.jesc(p)}","rows":1,"hash":-2}"""
      val m = """\{"file":"((?:[^"\\]|\\.)*)","rows":(-?\d+),"hash":(-?\d+)\}""".r
        .findAllMatchIn(entry).toSeq
      assert(m.size == 1 && Generations.junesc(m.head.group(1)) == p, entry)
    }
    // conservative decode: a LEGACY manifest (pre-escaping writer) whose
    // file field carries a raw backslash must parse back unchanged — only
    // the writer's own three escape forms decode
    assert(Generations.junesc("""lang=a\b/part-0.parquet""") ==
      """lang=a\b/part-0.parquet""")
    // a legacy raw backslash-u NOT followed by four hex digits stays
    // literal (no NumberFormatException); four-hex legacy paths are
    // ambiguous by construction and decode — the documented residual
    // risk. (Built by concatenation: Scala's lexer would otherwise eat
    // the \-u sequence in the source literal itself.)
    val legacyU = "shard" + "\\" + "universe/p.parquet"
    assert(Generations.junesc(legacyU) == legacyU)
    assert(Generations.junesc("""a\\b""") == """a\b""")
    assert(Generations.junesc("""a\"b""") == """a"b""")
    assert(Generations.junesc("""t	b""") == "t\tb")
  }
}
