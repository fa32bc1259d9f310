package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.ExtendedJson
import graft.ingest.v2.ExtJsonScan
import graft.schema.Bson

/** The DataSourceV2 extended-JSON document source: decode fidelity against
  * the builtin reader (raw wrapper mode), schema-driven wrapper decode
  * (decoded mode), REAL scan-level column pruning and filter pushdown, and
  * the byte-range split contract.
  */
class DocSourceV2Spec extends AnyFunSuite {
  import TestSpark.spark

  /** `body` with the session's split size set to `bytes`. */
  private def withMaxPartitionBytes[T](bytes: String)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def writeLines(name: String, lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft_v2src").toString
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  private def v2Scan(df: DataFrame): ExtJsonScan = {
    val scans = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
      .collect { case b: BatchScanExec => b.scan }
    assert(scans.length == 1, s"expected one V2 scan, got $scans")
    scans.head.asInstanceOf[ExtJsonScan]
  }

  private val userDocs = Seq(
    """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b8c1"}, "username": "ada", """ +
      """"personalInformation": {"firstName": "Ada", "lastName": "L"}, """ +
      """"roles": ["admin", "user"], "deleted": false, """ +
      """"dateCreated": {"$date": "2022-11-02T08:15:30Z"}}""",
    """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b8c2"}, "username": "bob", """ +
      """"unknownField": {"nested": [1, 2, {"x": true}]}, "deleted": true}""",
    """{"username": "carol", "roles": []}""")

  private val rawSchema = StructType(Seq(
    StructField("_id", Bson.oidType),
    StructField("username", StringType),
    StructField("personalInformation", StructType(Seq(
      StructField("firstName", StringType), StructField("lastName", StringType)))),
    StructField("roles", ArrayType(StringType)),
    StructField("deleted", BooleanType),
    StructField("dateCreated", Bson.dateType)))

  test("raw wrapper mode agrees with the builtin JSON reader on every field") {
    val dir = writeLines("users.jsonl", userDocs)
    val v2 = ExtendedJson.read(spark, rawSchema, s"$dir/users.jsonl")
    val builtin = ExtendedJson.readBuiltin(spark, rawSchema, s"$dir/users.jsonl")
    assert(v2.orderBy("username").collect().toSeq ==
      builtin.orderBy("username").collect().toSeq)
  }

  test("decoded mode unwraps $oid and relaxed/canonical $date schema-driven") {
    val docs = Seq(
      """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b8c9"}, """ +
        """"ts": {"$date": "2022-11-02T08:15:30Z"}, "n": {"$numberLong": "9007199254740993"}}""",
      """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b8ca"}, """ +
        """"ts": {"$date": {"$numberLong": "1667376930000"}}, "n": 7}""")
    val dir = writeLines("d.jsonl", docs)
    val decoded = StructType(Seq(
      StructField("_id", StringType), StructField("ts", TimestampType),
      StructField("n", LongType)))
    val rows = ExtendedJson.read(spark, decoded, s"$dir/d.jsonl")
      .select(col("_id"), col("ts").cast("string").as("ts"), col("n"))
      .orderBy("_id").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("63e1f0a1b2c3d4e5f6a7b8c9", "63e1f0a1b2c3d4e5f6a7b8ca"))
    // both forms decode to the same instant (UTC session timezone)
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("2022-11-02 08:15:30", "2022-11-02 08:15:30"))
    assert(rows.map(_.getLong(2)).toSeq == Seq(9007199254740993L, 7L))
  }

  test("column pruning reaches the V2 scan; pruned fields are not parsed") {
    val dir = writeLines("users.jsonl", userDocs)
    val df = ExtendedJson.read(spark, rawSchema, s"$dir/users.jsonl")
      .select("username", "deleted")
    assert(v2Scan(df).readSchema().fieldNames.toSeq == Seq("username", "deleted"))
    assert(df.orderBy("username").collect().map(r => (r.getString(0), r.get(1)))
      .toSeq == Seq(("ada", false), ("bob", true), ("carol", null)))
  }

  test("supported filters push to the scan and drop rows reader-side") {
    val docs = Seq(
      """{"k": 1, "status": "open", "when": {"$date": "2022-10-01T00:00:00Z"}}""",
      """{"k": 2, "status": "open", "when": {"$date": "2022-10-09T00:00:00Z"}}""",
      """{"k": 3, "status": "closed", "when": {"$date": "2022-10-10T00:00:00Z"}}""",
      """{"k": 4, "status": "open"}""")
    val dir = writeLines("t.jsonl", docs)
    val decoded = StructType(Seq(
      StructField("k", LongType), StructField("status", StringType),
      StructField("when", TimestampType)))
    val df = ExtendedJson.read(spark, decoded, s"$dir/t.jsonl")
      .filter(col("when") > lit(java.sql.Timestamp.valueOf("2022-10-05 00:00:00")) &&
        col("status") === "open")
      .select("k")
    val scan = v2Scan(df)
    // both predicates accepted: they appear as pushed filters AND the
    // filtered column is pruned OUT of the read schema (no residual needs it)
    assert(scan.pushed.map(_.toString).exists(_.contains("when")), scan.description())
    assert(scan.pushed.map(_.toString).exists(_.contains("status")), scan.description())
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // null `when` (k=4) fails the comparison under three-valued logic

    // a negated equality pushes too (Not in the v1 matrix): k=3 closed
    // drops, null-status rows drop under Kleene NOT
    val neg = ExtendedJson.read(spark, decoded, s"$dir/t.jsonl")
      .filter(col("status") =!= "closed").select("k")
    val negScan = v2Scan(neg)
    assert(negScan.pushed.map(_.toString).exists(_.contains("Not")),
      negScan.description())
    assert(neg.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))
  }

  test("LIMIT pushes to the scan as a per-split partial limit") {
    val docs = (1 to 50).map(i => s"""{"k": $i}""")
    val dir = writeLines("lim.jsonl", docs)
    val schema = StructType(Seq(StructField("k", LongType)))
    val df = ExtendedJson.read(spark, schema, s"$dir/lim.jsonl").limit(3)
    val scan = v2Scan(df)
    assert(scan.pushedLimit == 3, scan.description())
    assert(scan.description().contains("PushedLimit: 3"))
    // global semantics intact: exactly 3 rows, from the file's prefix
    assert(df.collect().length == 3)
    // and a limit larger than the data is harmless
    assert(ExtendedJson.read(spark, schema, s"$dir/lim.jsonl")
      .limit(500).collect().length == 50)
  }

  test("scan reports file-listing statistics to the planner") {
    val docs = Seq("""{"k": 1}""", """{"k": 2}""")
    val dir = writeLines("st.jsonl", docs)
    val schema = StructType(Seq(StructField("k", LongType)))
    val df = ExtendedJson.read(spark, schema, s"$dir/st.jsonl")
    val stats = v2Scan(df).estimateStatistics()
    val fileLen = new java.io.File(s"$dir/st.jsonl").length()
    assert(stats.sizeInBytes().getAsLong == fileLen)
    assert(!stats.numRows().isPresent, "row count must stay honestly unknown")
    // the optimizer sees the real size, not the default guess
    val planned = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(planned <= fileLen * 16,
      s"V2 relation stats should derive from the scan listing, got $planned")
  }

  test("COUNT(*) pushes to the scan: parse-free skim, filtered counts exact") {
    val docs = (1 to 40).map(i => s"""{"k": $i, "s": "v$i"}""") ++ Seq("")
    val dir = writeLines("cnt.jsonl", docs)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    def src = ExtendedJson.read(spark, schema, s"$dir/cnt.jsonl")
    // aggregate plans carry an Exchange, so AQE wraps them and hides the
    // scan from executedPlan.collect — inspect the pre-AQE physical plan
    def aggScan(df: org.apache.spark.sql.DataFrame) = {
      val scans = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.sparkPlan
        .collect { case b: BatchScanExec => b.scan }
      assert(scans.length == 1, s"expected one V2 scan, got $scans")
      scans.head.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    }
    // plain global count: pushed, blank line skipped like the row reader
    val plain = src.agg(count(lit(1)))
    val scan = aggScan(plain)
    assert(scan.aggPushed, scan.description())
    assert(scan.description().contains("PushedAggregation: [COUNT(*)]"))
    assert(plain.collect().head.getLong(0) == 40L)
    // everything else is Spark's aggregate over the row reader, with the
    // same answers: a filtered count (the pushed filter evaluates per
    // row), grouped counts, SUMs, DISTINCT aggregates
    val filtered = src.filter(col("k") > 30).agg(count(lit(1)))
    assert(!aggScan(filtered).aggPushed)
    assert(filtered.collect().head.getLong(0) == 10L)
    val grouped = src.groupBy(col("s")).agg(count(lit(1)))
    assert(!aggScan(grouped).aggPushed, aggScan(grouped).description())
    assert(grouped.count() == 40L)
    val summed = src.agg(sum(col("k")))
    assert(!aggScan(summed).aggPushed)
    val distinctSum = src.agg(sum_distinct(col("k")))
    assert(!aggScan(distinctSum).aggPushed)
    assert(distinctSum.collect().head.getLong(0) == (1 to 40).sum.toLong)
    val mm = src.agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
      count(col("s")).as("ns"), count(lit(1)).as("n"))
    val mmScan = aggScan(mm)
    assert(!mmScan.aggPushed, mmScan.description())
    val mmRow = mm.collect().head
    assert((mmRow.getLong(0), mmRow.getLong(1), mmRow.getLong(2), mmRow.getLong(3)) ==
      ((1L, 40L, 40L, 40L)), mmRow.toString)
    val fm = src.filter(col("k") > 10).agg(min(col("k")), max(col("k")))
    assert(!aggScan(fm).aggPushed)
    assert(fm.collect().head.toSeq == Seq(11L, 40L))
    assert(summed.collect().head.getLong(0) == (1 to 40).sum.toLong)
  }

  test("grouped aggregates over the scan: null keys, builtin parity") {
    // 60 docs over 7 group keys incl. an ABSENT field (null group) and a
    // null mid-path struct
    val docs = (1 to 60).map { i =>
      val g = i % 7
      if (g == 0) s"""{"k": $i, "p": {"v": ${i * 2}}}""" // s absent → null key
      else if (g == 1) s"""{"k": $i, "s": "g$g"}""" // p absent → null min/max
      else s"""{"k": $i, "s": "g$g", "p": {"v": ${i * 2}}}"""
    }
    val dir = writeLines("grp.jsonl", docs)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("p", StructType(Seq(StructField("v", LongType))))))
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("s")).agg(count(lit(1)).as("n"),
        min(col("p.v")).as("mn"), max(col("p.v")).as("mx"),
        count(col("p.v")).as("nv"))
    val expected = agg(spark.read.schema(schema).json(s"$dir/grp.jsonl"))
      .collect().map(_.toSeq).toSet
    // Spark's grouped aggregate over the row reader (nothing pushed)
    val pushed = agg(ExtendedJson.read(spark, schema, s"$dir/grp.jsonl"))
    val scan = pushed.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.sparkPlan
      .collect { case b: BatchScanExec => b.scan }
      .head.asInstanceOf[graft.ingest.v2.ExtJsonScan]
    assert(!scan.aggPushed, scan.description())
    assert(expected == pushed.collect().map(_.toSeq).toSet)
    // DISTINCT: grouped with no aggregate functions
    val distinct = ExtendedJson.read(spark, schema, s"$dir/grp.jsonl")
      .select("s").distinct()
    assert(distinct.collect().map(_.toSeq).toSet ==
      ((1 to 6).map(g => Seq(s"g$g")) :+ Seq(null)).toSet)
  }

  test("SUM/AVG over the scan: long/double/decimal sums, null sums, builtin parity") {
    // group g0 carries NO value fields — its sums must be NULL; decimal
    // column m is typed (3,2), so a running sum outgrows the child type
    // after two rows
    val docs = (1 to 40).map { i =>
      val g = i % 3
      if (g == 0) s"""{"k": $i, "s": "g$g"}"""
      else s"""{"k": $i, "s": "g$g", "l": ${i * 1000}, "d": $i.5, """ +
        s""""m": 9.${i % 10}${i % 10}, "p": {"v": $i}}"""
    }
    val dir = writeLines("sum.jsonl", docs)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("m", DecimalType(3, 2)),
      StructField("p", StructType(Seq(StructField("v", IntegerType))))))
    // d values are i.5 (exact in binary, sums exact) so builtin-vs-pushed
    // double totals compare EQUAL regardless of accumulation order
    def agg(df: DataFrame) = df
      .groupBy(col("s")).agg(sum(col("l")).as("sl"), sum(col("d")).as("sd"),
        sum(col("m")).as("sm"), sum(col("p.v")).as("sv"),
        avg(col("l")).as("al"), count(lit(1)).as("n"))
    val expected = agg(spark.read.schema(schema).json(s"$dir/sum.jsonl"))
      .collect().map(_.toSeq).toSet
    val pushedDf = agg(ExtendedJson.read(spark, schema, s"$dir/sum.jsonl"))
    val scan = pushedDf.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.sparkPlan
      .collect { case b: BatchScanExec => b.scan }
      .head.asInstanceOf[ExtJsonScan]
    // no sidecar: Spark's SUM/AVG over the row reader answers
    assert(!scan.aggPushed, scan.description())
    assert(expected == pushedDf.collect().map(_.toSeq).toSet)
    // ungrouped: one row of corpus totals
    def tot(df: DataFrame) = df.agg(sum(col("l")).as("sl"),
      sum(col("m")).as("sm"), avg(col("l")).as("al"),
      count(lit(1)).as("n"))
    assert(tot(spark.read.schema(schema).json(s"$dir/sum.jsonl")).collect().toSeq
      == tot(ExtendedJson.read(spark, schema, s"$dir/sum.jsonl")).collect().toSeq)
    // an all-null slice (filter keeps only g0): SUMs are NULL, count 0
    def nul(df: DataFrame) = df.filter(col("s") === "g0")
      .agg(sum(col("l")).as("sl"), sum(col("m")).as("sm"),
        count(col("l")).as("nl"))
    assert(nul(spark.read.schema(schema).json(s"$dir/sum.jsonl")).collect().toSeq
      == nul(ExtendedJson.read(spark, schema, s"$dir/sum.jsonl")).collect().toSeq)
  }

  private def writePart(root: String, rel: String, lines: Seq[String]): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  test("partition columns: typed path values, directory pruning, null layout holes") {
    val root = Files.createTempDirectory("graft_v2part").toString
    // two-level hive layout; dt is a DATE, region a STRING with an
    // escaped '=' in one value; one file sits OUTSIDE any dt dir (its
    // partition values are null); one dir uses the hive null marker
    writePart(root, "dt=2024-01-01/region=eu/a.jsonl",
      Seq("""{"k": 1}""", """{"k": 2}"""))
    writePart(root, "dt=2024-01-01/region=a%3Db/b.jsonl", Seq("""{"k": 3}"""))
    writePart(root, "dt=2024-02-01/region=us/c.jsonl",
      Seq("""{"k": 4}""", """{"k": 5}"""))
    writePart(root, "dt=__HIVE_DEFAULT_PARTITION__/region=eu/d.jsonl",
      Seq("""{"k": 6}"""))
    writePart(root, "loose.jsonl", Seq("""{"k": 7}"""))
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("dt", DateType),
      StructField("region", StringType)))
    def src = ExtendedJson.read(spark, schema, root,
      Map("partitionColumns" -> "dt,region"))
    // values decode typed from the path: the escaped region round-trips,
    // the hive default marker and the loose file read as null
    val all = src.select(col("k"), date_format(col("dt"), "yyyy-MM-dd")
      .as("d"), col("region")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all == Set((1L, "2024-01-01", "eu"), (2L, "2024-01-01", "eu"),
      (3L, "2024-01-01", "a=b"), (4L, "2024-02-01", "us"),
      (5L, "2024-02-01", "us"), (6L, null, "eu"), (7L, null, null)))
    // a date range predicate prunes the non-matching dt SUBTREE at
    // listing time: the 2024-01-01 tree is never listed into splits
    val pruned = src.filter(col("dt") >= java.sql.Date.valueOf("2024-02-01"))
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(4L, 5L))
    val scan = v2Scan(pruned)
    val files = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition].file)
    assert(files.nonEmpty && files.forall(_.contains("dt=2024-02-01")), files.toSeq)
    assert(scan.description().contains("PartitionColumns: [dt date, region string]"),
      scan.description())
    assert(scan.description().matches(".*PartitionPruning: [1-9]\\d* dirs.*"),
      scan.description())
    // a filter MIXING partition and data columns can't prune dirs but
    // evaluates correctly per row against the spliced-in constants
    val mixed = src.filter(col("region") === "us" || col("k") === 1L)
    assert(mixed.collect().map(_.getLong(0)).toSet == Set(1L, 4L, 5L))
    // IsNull on a partition column keeps exactly the layout holes
    assert(src.filter(col("dt").isNull).collect().map(_.getLong(0)).toSet ==
      Set(6L, 7L))
  }

  test("partition columns: skim-grouped counts, pushed SUM over data, runtime pruning") {
    val root = Files.createTempDirectory("graft_v2part2").toString
    writePart(root, "py=1995/a.jsonl", Seq("""{"v": 10}""", """{"v": 20}"""))
    writePart(root, "py=1996/b.jsonl", Seq("""{"v": 30}"""))
    // blank-lines-only file: its group must NOT appear (phantom-group
    // guard — SQL emits no row for an empty group)
    writePart(root, "py=1997/c.jsonl", Seq("", "", ""))
    val schema = StructType(Seq(
      StructField("v", LongType), StructField("py", IntegerType)))
    def src = ExtendedJson.read(spark, schema, root,
      Map("partitionColumns" -> "py"))
    // agg plans sit under AQE in executedPlan — pull the scan from the
    // pre-adaptive sparkPlan (same Scan instance)
    def aggScan(df: DataFrame) = {
      val scans = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.sparkPlan
        .collect { case b: BatchScanExec => b.scan }
      assert(scans.length == 1, s"expected one V2 scan, got $scans")
      scans.head.asInstanceOf[ExtJsonScan]
    }
    // GROUP BY partition col + COUNT(*): Spark's aggregate over the row
    // reader's skim — constant group key per split, zero bytes parsed
    val counted = src.groupBy(col("py")).agg(count(lit(1)).as("n"))
    val scan = aggScan(counted)
    assert(!scan.aggPushed, scan.description())
    assert(counted.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((1995, 2L), (1996, 1L)))
    // grouped SUM over a data column keyed by the partition col: rows
    // parse with the constants spliced in
    val summed = src.groupBy(col("py")).agg(sum(col("v")).as("sv"))
    assert(summed.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((1995, 30L), (1996, 30L)))
    // MIN over the partition column itself: empty parse schema, value
    // from the path constant
    assert(src.agg(min(col("py"))).collect().head.getInt(0) == 1995)
    // runtime partition filters (dynamic pruning) drop FILES at plan
    // time even though the listing is already cached
    val scan2 = v2Scan(src.filter(col("v") > 0))
    val before = scan2.planInputPartitions().length
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("py", 1996)))
    val after = scan2.planInputPartitions()
    assert(after.length < before, s"$before -> ${after.length}")
    assert(after.forall(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition]
      .file.contains("py=1996")))
    // a malformed directory value for the declared type fails LOUDLY
    writePart(root, "py=notayear/z.jsonl", Seq("""{"v": 1}"""))
    val e = intercept[Exception] {
      ExtendedJson.read(spark, schema, root, Map("partitionColumns" -> "py"))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("notayear")), e.toString)
    // a partitionColumns entry that is not in the schema fails at build
    val e2 = intercept[Exception] {
      ExtendedJson.read(spark, schema, root, Map("partitionColumns" -> "nope"))
        .collect()
    }
    assert(msgs(e2).exists(_.contains("nope")), e2.toString)
  }

  test("compiled filter closures are value-identical to per-row keep") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.sources._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.ingest.v2.FilterEval
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("n", LongType),
      StructField("t", TimestampType)))
    def row(s: String, n: java.lang.Long, t: java.lang.Long): InternalRow =
      InternalRow(if (s == null) null else UTF8String.fromString(s), n, t)
    val rows = Seq(
      row("open", 1L, 1000000L), row("closed", 2L, null),
      row(null, 3L, 2000000L), row("op", null, 0L))
    // the full supported predicate matrix, incl. three-valued and/or
    val cases: Seq[Array[Filter]] = Seq(
      Array(EqualTo("s", "open")),
      Array(GreaterThan("n", 1L), LessThanOrEqual("n", 3L)),
      Array(Or(IsNull("t"), GreaterThanOrEqual("t", new java.sql.Timestamp(1L)))),
      Array(And(StringStartsWith("s", "op"), LessThan("n", 2L))),
      Array(In("n", Array(1L, 3L))),
      Array(StringContains("s", "lo"), IsNotNull("t")),
      Array(StringEndsWith("s", "en"), Or(EqualTo("n", 1L), EqualTo("n", 2L))))
    for (fs <- cases) {
      assert(fs.forall(FilterEval.supported(_, schema)))
      val compiled = FilterEval.compile(fs, schema)
      rows.foreach(r =>
        assert(compiled(r) == FilterEval.keep(fs, schema, r),
          s"${fs.mkString(",")} on $r"))
    }

    // the same identity over NESTED paths, incl. null structs mid-path
    val nested = StructType(Seq(
      StructField("k", LongType),
      StructField("a", StructType(Seq(
        StructField("s", StringType),
        StructField("b", StructType(Seq(StructField("n", LongType)))))))))
    def nrow(k: java.lang.Long, s: String, n: java.lang.Long): InternalRow =
      InternalRow(k, InternalRow(
        if (s == null) null else UTF8String.fromString(s),
        if (n == null) null else InternalRow(n)))
    val nrows = Seq(
      nrow(1L, "open", 5L), nrow(2L, null, 9L), nrow(3L, "op", null),
      InternalRow(4L, null))
    val nestedCases: Seq[Array[Filter]] = Seq(
      Array(EqualTo("a.s", "open")),
      Array(GreaterThan("a.b.n", 4L)),
      Array(Or(IsNull("a.b.n"), LessThan("a.b.n", 6L))),
      Array(StringStartsWith("a.s", "op"), IsNotNull("a.b")),
      Array(In("a.b.n", Array(5L, 9L))),
      Array(And(IsNull("a"), EqualTo("k", 4L))))
    for (fs <- nestedCases) {
      assert(fs.forall(FilterEval.supported(_, nested)), fs.mkString(","))
      val compiled = FilterEval.compile(fs, nested)
      nrows.foreach(r =>
        assert(compiled(r) == FilterEval.keep(fs, nested, r),
          s"${fs.mkString(",")} on $r"))
    }
    // unresolvable / non-struct-step / quoted paths stay residual
    assert(!FilterEval.supported(EqualTo("a.missing", "x"), nested))
    assert(!FilterEval.supported(EqualTo("k.n", 1L), nested))
    assert(!FilterEval.supported(EqualTo("`a.s`", "x"), nested))

    // Not / EqualNullSafe / Always* complete the v1 matrix — compile ≡
    // keep on the same rows, incl. the never-UNKNOWN <=> semantics and
    // Kleene negation (NOT unknown = unknown)
    val extraCases: Seq[Array[Filter]] = Seq(
      Array(Not(EqualTo("a.s", "open"))),
      Array(Not(Or(IsNull("a.b.n"), LessThan("a.b.n", 6L)))),
      Array(EqualNullSafe("a.s", "open")),
      Array(EqualNullSafe("a.b.n", null)),
      Array(Not(EqualNullSafe("a.s", null))),
      Array(AlwaysTrue(), GreaterThan("k", 1L)),
      Array(AlwaysFalse()))
    for (fs <- extraCases) {
      assert(fs.forall(FilterEval.supported(_, nested)), fs.mkString(","))
      val compiled = FilterEval.compile(fs, nested)
      nrows.foreach(r =>
        assert(compiled(r) == FilterEval.keep(fs, nested, r),
          s"${fs.mkString(",")} on $r"))
    }
    // semantics spot-checks: <=> is never UNKNOWN; NOT propagates UNKNOWN
    val neq = FilterEval.compile(Array(EqualNullSafe("a.s", "open")), nested)
    assert(!neq(nrow(2L, null, 9L)), "null <=> 'open' must be definite false")
    val nns = FilterEval.compile(Array(EqualNullSafe("a.s", null)), nested)
    assert(nns(nrow(2L, null, 9L)) && !nns(nrow(1L, "open", 5L)))
    // NOT(s = 'open') on a null s is UNKNOWN -> row dropped, same as the
    // un-negated comparison
    val notEq = FilterEval.compile(Array(Not(EqualTo("a.s", "open"))), nested)
    assert(!notEq(nrow(2L, null, 9L)))
  }

  test("unsupported predicates stay residual; results still correct") {
    val docs = Seq("""{"a": "xy", "b": 2}""", """{"a": "zz", "b": 3}""")
    val dir = writeLines("r.jsonl", docs)
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", LongType)))
    val df = ExtendedJson.read(spark, schema, s"$dir/r.jsonl")
      .filter(length(col("a")) + col("b") === lit(4)) // not a v1-translatable leaf
    assert(df.collect().map(_.getString(0)).toSeq == Seq("xy"))
  }

  test("byte-range splits reassemble every line exactly once") {
    val docs = (1 to 500).map(i => s"""{"i": $i, "s": "row_$i"}""")
    val dir = writeLines("big.jsonl", docs)
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("s", StringType)))
    // force many tiny splits so lines straddle split boundaries constantly
    withMaxPartitionBytes("64") {
      val split = spark.read.format("graft-extjson").schema(schema)
        .load(s"$dir/big.jsonl")
      assert(split.rdd.getNumPartitions > 10)
      val got = split.select("i").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (1L to 500L))
    }
  }

  test("malformed lines become all-null rows (PERMISSIVE twin)") {
    val docs = Seq("""{"a": "ok", "b": 1}""", """{"a": "broken""",
      """{"a": "bad_b", "b": "not_a_number"}""")
    val dir = writeLines("m.jsonl", docs)
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", LongType)))
    val rows = ExtendedJson.read(spark, schema, s"$dir/m.jsonl").collect()
    assert(rows.length == 3)
    assert(rows.count(r => r.isNullAt(0) && r.isNullAt(1)) == 2)
    assert(rows.exists(r => !r.isNullAt(0) && r.getString(0) == "ok" && r.getLong(1) == 1L))
  }

  test("nested-field filters push to the scan: dotted $match, minimal parse, null-propagating") {
    val docs = Seq(
      """{"k": 1, "profile": {"age": 41, "city": "berlin", "score": 9}}""",
      """{"k": 2, "profile": {"age": 25, "city": "lagos", "score": 5}}""",
      """{"k": 3, "profile": {"city": "quito", "score": 7}}""",
      """{"k": 4}""",
      """{"k": 5, "profile": {"age": 66, "city": "berlin", "score": 1}}""")
    val dir = writeLines("n.jsonl", docs)
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("profile", StructType(Seq(
        StructField("age", LongType), StructField("city", StringType),
        StructField("score", LongType))))))
    def src = ExtendedJson.read(spark, schema, s"$dir/n.jsonl")

    // a dotted predicate lands ON the scan with zero residual FilterExec;
    // a missing nested field (k=3) and a missing struct (k=4) both fail
    // the comparison under null propagation, like GetStructField would
    val df = src.filter(col("profile.age") > 30).select("k")
    val scan = v2Scan(df)
    assert(scan.pushed.map(_.toString).exists(f =>
      f.contains("profile.age") && f.contains("GreaterThan")), scan.description())
    val residual = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }
    assert(residual.isEmpty, "nested pushed filter must leave no residual")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L))

    // mixing a nested push with nested-column output: the filter-only
    // subfield (age) is parsed for the predicate but the OUTPUT keeps the
    // nested-pruned shape (city only)
    val mixed = src.filter(col("profile.age") > 30 && col("profile.city") === "berlin")
      .select(col("k"), col("profile.city").as("city"))
    assert(mixed.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "berlin"), (5L, "berlin")))

    // string ops and IsNull work on nested paths too
    assert(src.filter(col("profile.city").startsWith("b")).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L))
    val isNullDf = src.filter(col("profile.age").isNull).select("k")
    assert(v2Scan(isNullDf).pushed.map(_.toString)
      .exists(_.contains("profile.age")), v2Scan(isNullDf).description())
    assert(isNullDf.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))

    // filtered COUNT(*) on a nested path parses just that subtree
    val cnt = src.filter(col("profile.score") >= 5).agg(count(lit(1)))
    assert(cnt.collect().head.getLong(0) == 3L)
  }

  test("array-element filters push as bracket paths: builtin parity, minimal parse") {
    // every null shape an ordinal step must null-propagate through:
    // passing head, failing head, null qty, short/empty array, absent
    // array, null element, plus a second-element reference
    val docs = Seq(
      """{"id": 1, "status": "A", "items": [{"line": 1, "qty": 50.0, "price": 9.0}, {"line": 2, "qty": 1.0, "price": 1.0}]}""",
      """{"id": 2, "status": "A", "items": [{"line": 1, "qty": 10.0, "price": 2.0}]}""",
      """{"id": 3, "status": "A", "items": [{"line": 1, "qty": null, "price": 3.0}]}""",
      """{"id": 4, "status": "A", "items": []}""",
      """{"id": 5, "status": "A"}""",
      """{"id": 6, "status": "A", "items": [null, {"line": 2, "qty": 99.0, "price": 4.0}]}""",
      """{"id": 7, "status": "B", "items": [{"line": 1, "qty": 77.0, "price": 5.0}]}""")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("status", StringType),
      StructField("items", ArrayType(StructType(Seq(
        StructField("line", IntegerType),
        StructField("qty", DoubleType),
        StructField("price", DoubleType)))))))
    val dir = writeLines("arr.jsonl", docs)
    def headQty(df: DataFrame) =
      get(col("items"), lit(0)).getField("qty")
    def q(df: DataFrame): DataFrame = df
      .filter(headQty(df) >= 45.0 && col("status") === "A")
      .select(col("id"))

    val v2 = q(ExtendedJson.read(spark, schema, s"$dir/arr.jsonl"))
    // PARITY with vanilla Catalyst evaluation of the same expression:
    // the rewrite must keep exactly the rows an unpushed
    // GetArrayItem(failOnError = false) filter keeps
    val builtin = q(ExtendedJson.readBuiltin(spark, schema, s"$dir/arr.jsonl"))
    assert(v2.collect().map(_.getLong(0)).toSet ==
      builtin.collect().map(_.getLong(0)).toSet)
    assert(v2.collect().map(_.getLong(0)).toSet == Set(1L))

    // the conjunct reached the scan as a bracket path, zero residual
    val scan = v2Scan(v2)
    val pushed = scan.pushed.map(_.toString)
    assert(pushed.exists(f => f.contains("items[0].qty")),
      pushed.mkString(", "))
    assert(v2.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }
      .isEmpty)
    // filter-only array reference: the output ships just `id`; the
    // array parses only for the predicate (and only its qty subfield)
    assert(scan.readSchema().fieldNames.toSeq == Seq("id"))

    // a SECOND-element reference and an IsNull on a beyond-bounds index
    // follow the same GetArrayItem(failOnError=false) semantics
    def q2(df: DataFrame): DataFrame = df
      .filter(get(col("items"), lit(1)).getField("qty") > 50.0)
      .select(col("id"))
    val v2b = q2(ExtendedJson.read(spark, schema, s"$dir/arr.jsonl"))
    val builtinB = q2(ExtendedJson.readBuiltin(spark, schema, s"$dir/arr.jsonl"))
    assert(v2b.collect().map(_.getLong(0)).toSet ==
      builtinB.collect().map(_.getLong(0)).toSet)
    assert(v2b.collect().map(_.getLong(0)).toSet == Set(6L))
    assert(v2Scan(v2b).pushed.map(_.toString)
      .exists(_.contains("items[1].qty")))

    def q3(df: DataFrame): DataFrame = df
      .filter(get(col("items"), lit(3)).isNull && col("id") <= 2)
      .select(col("id"))
    val v2c = q3(ExtendedJson.read(spark, schema, s"$dir/arr.jsonl"))
    val builtinC = q3(ExtendedJson.readBuiltin(spark, schema, s"$dir/arr.jsonl"))
    assert(v2c.collect().map(_.getLong(0)).toSet ==
      builtinC.collect().map(_.getLong(0)).toSet)
    assert(v2c.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("array-of-array ordinals and element_at both push; ANSI getItem stays residual") {
    val docs = Seq(
      """{"id": 1, "mat": [[1, 2], [5, 6]]}""",
      """{"id": 2, "mat": [[1]]}""",
      """{"id": 3, "mat": [[9, 9], [5]]}""")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("mat", ArrayType(ArrayType(LongType)))))
    val dir = writeLines("mat.jsonl", docs)
    val df = ExtendedJson.read(spark, schema, s"$dir/mat.jsonl")
    // stacked ordinals render as consecutive bracket steps
    val v2 = df.filter(get(get(col("mat"), lit(1)), lit(0)) === 5L)
      .select(col("id"))
    assert(v2.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(v2Scan(v2).pushed.map(_.toString)
      .exists(_.contains("mat[1][0]")), v2Scan(v2).pushed.mkString(", "))
    // 1-based try-style element_at translates to the 0-based bracket
    val v2b = df.filter(try_element_at(col("mat"), lit(1)).isNotNull)
      .select(col("id"))
    assert(v2b.collect().length == 3)
    assert(v2Scan(v2b).pushed.map(_.toString).exists(_.contains("mat[0]")),
      v2Scan(v2b).pushed.mkString(", "))
    // ANSI-mode getItem THROWS on out-of-bounds — its conjunct must stay
    // Spark-side so the error surfaces instead of becoming a silent drop
    if (spark.conf.get("spark.sql.ansi.enabled") == "true") {
      val ansi = df.filter(col("mat").getItem(5).isNotNull).select(col("id"))
      // the inferred IsNotNull(mat) still pushes; the ordinal access must
      // not (no bracket path anywhere in the pushed set)
      assert(!v2Scan(ansi).pushed.map(_.toString).exists(_.contains("[")),
        v2Scan(ansi).pushed.mkString(", "))
    }
  }

  test("array-head projection truncates at parse; bare/size uses never truncate") {
    // long arrays where only the head is referenced — the trades shape
    val docs = (1 to 10).map { i =>
      val items = (1 to 20).map(j =>
        s"""{"line": $j, "qty": ${i * 100 + j}.0}""").mkString(", ")
      s"""{"id": $i, "items": [$items]}"""
    }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("items", ArrayType(StructType(Seq(
        StructField("line", IntegerType),
        StructField("qty", DoubleType)))))))
    val dir = writeLines("long.jsonl", docs)
    def src = ExtendedJson.read(spark, schema, s"$dir/long.jsonl")

    // head-only uses → the scan materializes ONE element per document
    val head = src
      .filter(get(col("items"), lit(0)).getField("qty") > 300.0)
      .select(col("id"), get(col("items"), lit(0)).getField("qty").as("q"))
    val expected = (3 to 10).map(i => (i.toLong, i * 100 + 1.0)).toSet
    assert(head.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      expected)
    val scan = v2Scan(head)
    assert(scan.description().contains("ArrayHead: [items<=1]"),
      scan.description())

    // a SECOND-element reference raises the bound, results exact
    val second = src.select(col("id"),
      get(col("items"), lit(1)).getField("qty").as("q2"))
    assert(v2Scan(second).description().contains("ArrayHead: [items<=2]"),
      v2Scan(second).description())
    assert(second.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      (1 to 10).map(i => (i.toLong, i * 100 + 2.0)).toSet)

    // ANY bare use of the column — size(), pass-through, explode — must
    // keep the full array: truncation would corrupt it
    val sized = src.select(col("id"), size(col("items")).as("n"))
    assert(!v2Scan(sized).description().contains("ArrayHead"),
      v2Scan(sized).description())
    assert(sized.collect().map(_.getInt(1)).forall(_ == 20))
    val mixed = src.select(col("id"),
      get(col("items"), lit(0)).getField("qty").as("q"),
      size(col("items")).as("n"))
    assert(!v2Scan(mixed).description().contains("ArrayHead"),
      v2Scan(mixed).description())
  }

  test("zone maps skip files by min/max; stale or absent stats never mis-prune") {
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2zm").toString
    // three files with DISJOINT k bands (the clustered-drop shape) plus
    // an all-null-v file and a nulls-mixed file
    Files.write(Paths.get(root, "a.jsonl"),
      (1 to 10).map(i => s"""{"k": $i, "v": "x$i"}""").mkString("\n")
        .getBytes("UTF-8"))
    Files.write(Paths.get(root, "b.jsonl"),
      (11 to 20).map(i => s"""{"k": $i, "v": null}""").mkString("\n")
        .getBytes("UTF-8"))
    Files.write(Paths.get(root, "c.jsonl"),
      (21 to 30).map(i =>
        s"""{"k": $i${if (i % 2 == 0) ", \"v\": \"y\"" else ""}}""")
        .mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    assert(ZoneMaps.build(spark, root, schema, Seq("k", "v")) == 3L)
    def src = ExtendedJson.read(spark, schema, root)
    def plannedFiles(df: DataFrame): Set[String] = {
      val scan = v2Scan(df)
      df.collect() // force planning through the real execution
      scan.planInputPartitions()
        .map(_.asInstanceOf[ExtJsonInputPartition].file)
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    }
    // a range predicate keeps only the matching band's file
    val hi = src.filter(col("k") > 20L)
    assert(hi.collect().map(_.getLong(0)).toSet == (21L to 30L).toSet)
    assert(plannedFiles(hi) == Set("c.jsonl"))
    assert(v2Scan(hi).description().contains("ZoneMaps: 3 files indexed"),
      v2Scan(hi).description())
    // equality hits the middle band only
    assert(plannedFiles(src.filter(col("k") === 15L)) == Set("b.jsonl"))
    // IsNotNull skips the all-null file; IsNull skips the no-null file
    assert(plannedFiles(src.filter(col("v").isNotNull)) ==
      Set("a.jsonl", "c.jsonl"))
    assert(plannedFiles(src.filter(col("v").isNull)) ==
      Set("b.jsonl", "c.jsonl"))
    // disjunction keeps the union of maybe-true bands
    assert(plannedFiles(src.filter(col("k") < 5L || col("k") > 25L)) ==
      Set("a.jsonl", "c.jsonl"))
    // string equality above every file's max prunes everything: zero
    // partitions, zero rows — and correctness still holds
    val none = src.filter(col("v") === "zzz")
    assert(none.collect().isEmpty)
    assert(plannedFiles(none).isEmpty)

    // BLOOM sidecar: k values are unique per file, so equality on a
    // SCATTERED column skips by membership where min/max couldn't —
    // rebuild with k bloom-indexed and probe values/absences
    assert(ZoneMaps.build(spark, root, schema, Seq("k", "v"),
      bloomCols = Seq("k")) == 3L)
    assert(plannedFiles(src.filter(col("k") === 15L)) == Set("b.jsonl"))
    assert(plannedFiles(src.filter(col("k").isin(3L, 23L))) ==
      Set("a.jsonl", "c.jsonl"))
    // a value inside every file's [min,max] but ABSENT everywhere would
    // survive min/max alone — the blooms prune it (k holds no value 999
    // and ranges are integers 1..30, so probe an in-range absence)
    assert(ZoneMaps.build(spark, root,
      StructType(Seq(StructField("k", LongType))), Seq("k"),
      bloomCols = Seq("k")) == 3L)
    // (ranges 1..10 / 11..20 / 21..30: 13 is in b's range but if absent
    // the bloom must not fire — write a gap file to prove it)
    Files.write(Paths.get(root, "d.jsonl"),
      Seq("""{"k": 12}""", """{"k": 14}""").mkString("\n").getBytes("UTF-8"))
    assert(ZoneMaps.build(spark, root, schema, Seq("k", "v"),
      bloomCols = Seq("k")) == 4L)
    assert(plannedFiles(src.filter(col("k") === 13L)) == Set("b.jsonl"),
      "range says b and d are candidates; d's bloom must rule it out")

    // TYPE drift: the same sidecar read under a different declared type
    // must not prune (a bloom over long renderings would false-negative
    // double probes) — results stay correct off the full scan
    val intSchema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    val drifted = ExtendedJson.read(spark, intSchema, root).filter(col("k") === 15)
    assert(drifted.collect().map(_.getInt(0)).toSet == Set(15))
    val dScan = v2Scan(drifted)
    drifted.collect()
    assert(dScan.planInputPartitions().length == 4,
      "type-drifted stats must be ignored, not trusted")

    // STALENESS: a rewritten file (length changed) keeps scanning on its
    // real content even though its stats row said otherwise
    Files.write(Paths.get(root, "a.jsonl"),
      (Seq("""{"k": 99, "v": "x"}""")).mkString("\n").getBytes("UTF-8"))
    val crc = Paths.get(root, ".a.jsonl.crc")
    if (Files.exists(crc)) Files.delete(crc)
    val stale = src.filter(col("k") > 50L)
    assert(stale.collect().map(_.getLong(0)).toSet == Set(99L),
      "stale zone-map stats must never prune a changed file")
  }

  test("a drop with a sidecar zone-prunes with no read options") {
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2zmdef").toString
    Seq("a" -> (1 to 10), "b" -> (11 to 20), "c" -> (21 to 30)).foreach {
      case (f, ks) => Files.write(Paths.get(root, s"$f.jsonl"),
        ks.map(k => s"""{"k": $k}""").mkString("\n").getBytes("UTF-8"))
    }
    val schema = StructType(Seq(StructField("k", LongType)))
    assert(ZoneMaps.build(spark, root, schema, Seq("k")) == 3L)
    val hi = ExtendedJson.read(spark, schema, root).filter(col("k") > 20L)
    assert(hi.collect().map(_.getLong(0)).toSet == (21L to 30L).toSet)
    val planned = v2Scan(hi).planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition].file)
    assert(planned.length == 1 && planned.head.endsWith("/c.jsonl"),
      planned.mkString(", "))
  }

  test("metadata-only aggregates answer from the sidecar, zero bytes read; gaps refuse") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.ingest.v2.{StatsAnswerPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2ma").toString
    Files.write(Paths.get(root, "a.jsonl"),
      (1 to 10).map(i => s"""{"k": $i, "v": ${if (i % 2 == 0) "null"
        else s""""s$i""""}}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "b.jsonl"),
      (11 to 25).map(i => s"""{"k": $i, "v": "t$i"}""").mkString("\n")
        .getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    ZoneMaps.build(spark, root, schema, Seq("k", "v"))
    def agg() =
      ExtendedJson.read(spark, schema, root)
        .agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
          count(col("v")).as("nv"), count(lit(1)).as("n"))
    // AQE holds stage plans as innerChildren — plain collect misses them
    def scanExecs(plan: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      plan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scanExecs(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scanExecs(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scanExecs)
      }
    val df = agg()
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    val p = qe.sparkPlan
    val exec = scanExecs(qe.executedPlan).head
    val scan = exec.scan.asInstanceOf[ExtJsonScan]
    // the answer is one metadata partition; no aggregate node anywhere
    assert(scan.statsAnswer.isDefined, scan.description())
    assert(scan.description().contains("(complete, metadata-only)"),
      scan.description())
    assert(p.collect { case a: BaseAggregateExec => a }.isEmpty,
      p.toString.take(600))
    val parts = scan.planInputPartitions()
    assert(parts.length == 1 && parts.head.isInstanceOf[StatsAnswerPartition])
    assert(df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))) ==
      Seq((1L, 25L, 20L, 25L)))
    // ...and truly ZERO document bytes were read
    assert(exec.metrics(graft.ingest.v2.ScanMetrics.ParsedDocs).value == 0)
    assert(exec.metrics(graft.ingest.v2.ScanMetrics.SkimmedLines).value == 0)

    // a file rewritten since indexing (fresh mtime/length) breaks the
    // coverage gate: the fast path refuses and the scan computes the
    // real answer from the data
    Files.write(Paths.get(root, "b.jsonl"),
      (11 to 30).map(i => s"""{"k": $i, "v": "t$i"}""").mkString("\n")
        .getBytes("UTF-8"))
    val crc = Paths.get(root, ".b.jsonl.crc")
    if (Files.exists(crc)) Files.delete(crc)
    val df2 = agg()
    assert(df2.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))) ==
      Seq((1L, 30L, 25L, 30L)),
      "stale sidecar must never answer for a changed drop")
    val scan2 = scanExecs(df2
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan).head.scan.asInstanceOf[ExtJsonScan]
    assert(scan2.statsAnswer.isEmpty)
  }

  test("zone maps stand down for partition-column predicates and signed zeros") {
    import graft.ingest.v2.ZoneMaps
    // partition values live in the PATH; every body row parses them as
    // null — zone stats must never answer for a predicate touching one,
    // or a mixed Or loses the rows the spliced values satisfy
    val root = Files.createTempDirectory("graft_v2zmpart").toString
    writePart(root, "dt=A/f1.jsonl", (1 to 10).map(i => s"""{"k": $i}"""))
    writePart(root, "dt=B/f2.jsonl", (11 to 20).map(i => s"""{"k": $i}"""))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("dt", StringType)))
    ZoneMaps.build(spark, root, schema, Seq("k", "dt"))
    val src = ExtendedJson.read(spark, schema, root,
      Map("partitionColumns" -> "dt"))
    val mixed = src.filter(col("dt") === "A" || col("k") > 15L)
    assert(mixed.collect().map(_.getLong(0)).toSet ==
      ((1 to 10) ++ (16 to 20)).map(_.toLong).toSet,
      "zone stats answered for a partition column")
    // pure data-column predicates still prune under the same layout
    val pruned = src.filter(col("k") > 15L)
    pruned.collect()
    assert(v2Scan(pruned).planInputPartitions().length == 1)

    // -0.0 and 0.0 are EQUAL in Spark float semantics: the bloom must
    // normalize or a file of -0.0s is wrongly pruned for `x = 0.0`
    val zroot = Files.createTempDirectory("graft_v2zmzero").toString
    Files.write(Paths.get(zroot, "z.jsonl"),
      """{"x": -0.0}""".getBytes("UTF-8"))
    val zschema = StructType(Seq(StructField("x", DoubleType)))
    ZoneMaps.build(spark, zroot, zschema, Seq("x"), bloomCols = Seq("x"))
    val zsrc = ExtendedJson.read(spark, zschema, zroot)
    assert(zsrc.filter(col("x") === 0.0).count() == 1L,
      "-0.0 must satisfy x = 0.0 through the bloom sidecar")
    // ...and BOTH equality forms: <=> is pushed like = for non-null
    // literals, and its bloom probe must normalize the same way or a
    // pushed `x <=> -0.0` against inserted "0.0" keys false-negatives
    // and wrongly prunes the file
    assert(zsrc.filter(col("x") <=> -0.0).count() == 1L,
      "x <=> -0.0 must keep a file of 0.0s through the bloom sidecar")
    assert(zsrc.filter(col("x") <=> 0.0).count() == 1L,
      "x <=> 0.0 must keep a file of -0.0s through the bloom sidecar")
  }

  test("bloom blobs load lazily: range plans fetch none, point lookups fetch survivors only") {
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2lazy").toString
    Files.write(Paths.get(root, "a.jsonl"),
      (1 to 10).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "b.jsonl"),
      (11 to 20).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "c.jsonl"),
      (21 to 30).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("k"), bloomCols = Seq("k"))
    def src = ExtendedJson.read(spark, schema, root)
    def planned(df: DataFrame): (Set[String], Int) = {
      val scan = v2Scan(df)
      df.collect()
      (scan.planInputPartitions()
        .map(_.asInstanceOf[ExtJsonInputPartition].file)
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet,
        scan.bloomBlobsFetched)
    }
    // a RANGE-only predicate must never deserialize a bloom blob —
    // phase 1 (min/max) decides it alone, at O(files) sidecar rows
    assert(planned(src.filter(col("k") > 20L)) == (Set("c.jsonl"), 0))
    // equality fetches blobs ONLY for the min/max survivors: the bands
    // are disjoint, so one key → one surviving file → one blob
    assert(planned(src.filter(col("k") === 15L)) == (Set("b.jsonl"), 1))
    // two scattered keys → two surviving bands → two blobs, never three
    assert(planned(src.filter(col("k").isin(3L, 23L))) ==
      (Set("a.jsonl", "c.jsonl"), 2))
  }

  test("zone-map append indexes only new files; replay converges; appended stats prune") {
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2zmapp").toString
    Files.write(Paths.get(root, "a.jsonl"),
      (1 to 10).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "b.jsonl"),
      (11 to 20).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType)))
    assert(ZoneMaps.build(spark, root, schema, Seq("k")) == 2L)
    // the drop GROWS: a landed file is unskippable (kept conservatively)
    // until indexed...
    Files.write(Paths.get(root, "c.jsonl"),
      (21 to 30).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    def src = ExtendedJson.read(spark, schema, root)
    def plannedFiles(df: DataFrame): Set[String] = {
      val scan = v2Scan(df)
      df.collect()
      scan.planInputPartitions()
        .map(_.asInstanceOf[ExtJsonInputPartition].file)
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    }
    assert(plannedFiles(src.filter(col("k") <= 10L)) ==
      Set("a.jsonl", "c.jsonl"), "unindexed files must be KEPT, not pruned")
    // ...an incremental append indexes ONLY the new file (one pass over
    // one file, not the corpus) and it prunes like the rest
    assert(ZoneMaps.append(spark, root, schema, Seq("k"),
      batchTag = "t1") == 1L)
    assert(ZoneMaps.loadStats(spark, root, schema).size == 3)
    assert(plannedFiles(src.filter(col("k") <= 10L)) == Set("a.jsonl"))
    assert(plannedFiles(src.filter(col("k") > 20L)) == Set("c.jsonl"),
      "appended stats must prune OLD files and keep the new band")
    // replay of the same tag converges (append-twice ≡ append-once), and
    // a no-new-files append writes nothing
    val before = ZoneMaps.loadStats(spark, root, schema)
    assert(ZoneMaps.append(spark, root, schema, Seq("k"),
      batchTag = "t1") == 0L)
    assert(ZoneMaps.append(spark, root, schema, Seq("k"),
      batchTag = "t2") == 0L)
    assert(ZoneMaps.loadStats(spark, root, schema) == before)
    assert(!new java.io.File(s"$root/${ZoneMaps.SidecarDir}/add_t2").exists(),
      "a no-op append must not leave a row-less generation behind")
    // a full rebuild clears superseded generations
    assert(ZoneMaps.build(spark, root, schema, Seq("k")) == 3L)
    assert(!new java.io.File(s"$root/${ZoneMaps.SidecarDir}/add_t1").exists())
    assert(plannedFiles(src.filter(col("k") > 20L)) == Set("c.jsonl"))
  }

  test("block-level zone stats prune SPLITS of a clustered file; stale blocks stand down") {
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2blk").toString
    // one file, 100 fixed-width lines sorted on k: 12 bytes per line
    // ({"k": 1000} + \n), so blockBytes = 120 gives exactly 10 lines per
    // block and clean boundaries to cut at
    val lines = (0 until 100).map(i => s"""{"k": ${1000 + i}}""")
    Files.write(Paths.get(root, "sorted.jsonl"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val fileLen = new java.io.File(s"$root/sorted.jsonl").length()
    assert(fileLen == 1200L)
    val schema = StructType(Seq(StructField("k", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("k"), blockBytes = 120L)
    def src = ExtendedJson.read(spark, schema, root)
    def parts(df: DataFrame): Seq[ExtJsonInputPartition] = {
      val scan = v2Scan(df)
      df.collect()
      scan.planInputPartitions().map(_.asInstanceOf[ExtJsonInputPartition])
        .toSeq
    }
    // a mid-range predicate: k in [1025, 1044] lives in blocks 2..4
    // (1025 is row 25 → block 2; 1044 is row 44 → block 4); adjacent
    // surviving blocks coalesce into ONE split covering [240, 600)
    val mid = src.filter(col("k") >= 1025L && col("k") <= 1044L)
    assert(mid.collect().map(_.getLong(0)).toSet ==
      (1025L to 1044L).toSet)
    val midParts = parts(mid)
    assert(midParts.map(p => (p.start, p.length)) == Seq((240L, 360L)),
      s"expected one coalesced 3-block split, got $midParts")
    // DISJOINT ranges plan disjoint runs — the gap blocks are never read
    val twoRanges = src.filter(col("k") <= 1004L || col("k") >= 1095L)
    assert(twoRanges.collect().map(_.getLong(0)).toSet ==
      ((1000L to 1004L) ++ (1095L to 1099L)).toSet)
    assert(parts(twoRanges).map(p => (p.start, p.length)) ==
      Seq((0L, 120L), (1080L, 120L)))
    assert(v2Scan(twoRanges).description().contains("blocks"),
      v2Scan(twoRanges).description())
    // a REWRITTEN file (fresh length/mtime) falls back to full byte
    // splits — stale block stats must never cut
    Files.write(Paths.get(root, "sorted.jsonl"),
      (lines ++ Seq("""{"k": 1}""")).mkString("\n").getBytes("UTF-8"))
    val crc = Paths.get(root, ".sorted.jsonl.crc")
    if (Files.exists(crc)) Files.delete(crc)
    val stale = src.filter(col("k") <= 1004L)
    assert(stale.collect().map(_.getLong(0)).toSet ==
      Set(1L, 1000L, 1001L, 1002L, 1003L, 1004L),
      "stale block stats must never prune a changed file")
  }

  test("all-true zone coverage skips per-row filter eval; filtered metadata aggs answer when decidable") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.ingest.v2.{ExtJsonInputPartition, StatsAnswerPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2alltrue").toString
    // one file per status — the clustered-by-write-key layout where a
    // status predicate is zone-DECIDABLE per file (min == max)
    Files.write(Paths.get(root, "f.jsonl"),
      (1 to 10).map(i => s"""{"s": "F", "k": $i}""").mkString("\n")
        .getBytes("UTF-8"))
    Files.write(Paths.get(root, "o.jsonl"),
      (11 to 25).map(i => s"""{"s": "O", "k": $i}""").mkString("\n")
        .getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("k", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("s", "k"))
    def src = ExtendedJson.read(spark, schema, root)
    // RESIDUAL ELIMINATION, reader side: `s = 'F'` is provably true for
    // every row of the one surviving file, so its split is marked
    // all-true (per-row filter eval skipped); rows are identical either
    // way
    val covered = src.filter(col("s") === "F")
    assert(covered.collect().map(_.getLong(1)).toSet ==
      (1L to 10L).toSet)
    val cScan = v2Scan(covered)
    val cParts = cScan.planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition])
    assert(cParts.length == 1 && cParts.head.allTrue,
      cParts.mkString(", "))
    // coverage is decided PER FILE: k > 5 straddles f.jsonl (keeps
    // per-row eval) but provably covers o.jsonl (min = 11, skips it)
    val straddle = src.filter(col("k") > 5L)
    assert(straddle.collect().map(_.getLong(1)).toSet ==
      (6L to 25L).toSet)
    val sFlags = v2Scan(straddle).planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition])
      .map(p => p.file.substring(p.file.lastIndexOf('/') + 1) -> p.allTrue)
      .toMap
    assert(sFlags == Map("f.jsonl" -> false, "o.jsonl" -> true), sFlags)

    // RESIDUAL ELIMINATION, metadata side: the FILTERED MIN/MAX/COUNT is
    // answered from the sidecar alone — pruned files contribute nothing,
    // the surviving file is all-true, zero data bytes read
    def scanExecs(plan: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      plan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scanExecs(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scanExecs(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scanExecs)
      }
    val agg = src.filter(col("s") === "F")
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
        count(col("k")).as("nk"), count(lit(1)).as("n"))
    val qe = agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    val exec = scanExecs(qe.executedPlan).head
    val scan = exec.scan.asInstanceOf[ExtJsonScan]
    assert(scan.statsAnswer.isDefined, scan.description())
    assert(qe.sparkPlan.collect { case a: BaseAggregateExec => a }.isEmpty)
    assert(scan.planInputPartitions().head.isInstanceOf[StatsAnswerPartition])
    assert(agg.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))) ==
      Seq((1L, 10L, 10L, 10L)))
    assert(exec.metrics(graft.ingest.v2.ScanMetrics.ParsedDocs).value == 0)
    // an UNDECIDABLE filter (k > 5 straddles the surviving file) refuses
    // the metadata path and computes the real answer from the data
    val mixed = src.filter(col("k") > 5L)
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
        count(lit(1)).as("n"))
    assert(mixed.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))) == Seq((6L, 25L, 20L)))
    val mScan = scanExecs(mixed
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan).head.scan.asInstanceOf[ExtJsonScan]
    assert(mScan.statsAnswer.isEmpty,
      "a straddling filter must refuse the metadata path")
  }

  test("metadata-only SUM: exact sidecar sums answer; double sums and overflow refuse") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.ingest.v2.{StatsAnswerPartition, ZoneMaps}
    def scanExecs(plan: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      plan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scanExecs(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scanExecs(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scanExecs)
      }
    def scanOf(df: DataFrame) = scanExecs(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan).head.scan.asInstanceOf[ExtJsonScan]
    val root = Files.createTempDirectory("graft_v2msum").toString
    Files.write(Paths.get(root, "a.jsonl"),
      (1 to 10).map(i => s"""{"k": $i, "x": $i.5, "nul": null}""")
        .mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "b.jsonl"),
      (11 to 25).map(i => s"""{"k": $i, "x": $i.5, "nul": null}""")
        .mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("x", DoubleType), StructField("nul", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("k", "x", "nul"))
    def src = ExtendedJson.read(spark, schema, root)
    // exact LONG sum answers from the sidecar: one metadata partition,
    // no aggregate node, zero parsed documents
    val ksum = src.agg(sum(col("k")).as("sk"), count(lit(1)).as("n"))
    assert(ksum.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((325L, 25L)))
    val kScan = scanOf(ksum)
    assert(kScan.statsAnswer.isDefined, kScan.description())
    assert(kScan.planInputPartitions().head.isInstanceOf[StatsAnswerPartition])
    // a DOUBLE sum is order-dependent — no sidecar form, Spark's SUM
    // over the scanned rows answers (and statsAnswer stays empty)
    val xsum = src.agg(sum(col("x")).as("sx"))
    assert(scanOf(xsum).statsAnswer.isEmpty)
    assert(xsum.collect().head.getDouble(0) == (1 to 25).map(_ + 0.5).sum)
    // SQL: SUM over zero non-null values is NULL — and still metadata
    val nsum = src.agg(sum(col("nul")).as("sn"))
    assert(scanOf(nsum).statsAnswer.isDefined)
    assert(nsum.collect().head.isNullAt(0))
    // a sum that would overflow LONG refuses the metadata path — the
    // real computation then carries Spark's own overflow semantics
    val oroot = Files.createTempDirectory("graft_v2osum").toString
    Files.write(Paths.get(oroot, "o1.jsonl"),
      s"""{"k": ${Long.MaxValue}}\n{"k": ${Long.MaxValue}}"""
        .getBytes("UTF-8"))
    val oschema = StructType(Seq(StructField("k", LongType)))
    ZoneMaps.build(spark, oroot, oschema, Seq("k"))
    val osum = ExtendedJson.read(spark, oschema, oroot).agg(sum(col("k")).as("sk"))
    assert(scanOf(osum).statsAnswer.isEmpty,
      "an overflowing sidecar sum must refuse, not wrap")
  }

  test("grouped metadata aggregates: constant-per-file keys fold; non-constant refuses") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.ingest.v2.{StatsAnswerPartition, ZoneMaps}
    def scanExecs(plan: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      plan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scanExecs(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scanExecs(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scanExecs)
      }
    def scanOf(df: DataFrame) = scanExecs(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan).head.scan.asInstanceOf[ExtJsonScan]
    val root = Files.createTempDirectory("graft_v2gmeta").toString
    // write-key-clustered layout: each file holds ONE key value — two
    // files share key "a" (the fold must merge them), one carries a
    // NULL key (the SQL null group)
    Files.write(Paths.get(root, "a1.jsonl"),
      (1 to 5).map(i => s"""{"g": "a", "k": $i}""").mkString("\n")
        .getBytes("UTF-8"))
    Files.write(Paths.get(root, "a2.jsonl"),
      (6 to 9).map(i => s"""{"g": "a", "k": $i}""").mkString("\n")
        .getBytes("UTF-8"))
    Files.write(Paths.get(root, "b.jsonl"),
      (10 to 12).map(i => s"""{"g": "b", "k": $i}""").mkString("\n")
        .getBytes("UTF-8"))
    Files.write(Paths.get(root, "n.jsonl"),
      (13 to 14).map(i => s"""{"g": null, "k": $i}""").mkString("\n")
        .getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("k", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("g", "k"))
    def src = ExtendedJson.read(spark, schema, root)
    val grouped = src.groupBy(col("g"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
        sum(col("k")).as("sk"), count(lit(1)).as("n"))
    val got = grouped.collect().map(r =>
      (if (r.isNullAt(0)) null else r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(("a", 1L, 9L, 45L, 9L), ("b", 10L, 12L, 33L, 3L),
      (null, 13L, 14L, 27L, 2L)))
    val scan = scanOf(grouped)
    assert(scan.statsAnswer.isDefined, scan.description())
    assert(scan.statsAnswer.get._1.length == 3)
    val qe = grouped.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    assert(qe.sparkPlan.collect { case a: BaseAggregateExec => a }.isEmpty,
      qe.sparkPlan.toString.take(600))
    assert(scan.planInputPartitions().head.isInstanceOf[StatsAnswerPartition])
    // a group key that is NOT constant per file refuses — Spark's
    // grouped aggregate answers instead (and still correctly)
    val byK = src.groupBy(col("k")).agg(count(lit(1)).as("n"))
    assert(scanOf(byK).statsAnswer.isEmpty)
    assert(byK.collect().length == 14)
    // group-only complete pushdown (pushed DISTINCT): the key set reads
    // straight from the sidecar — the SHOW PARTITIONS catalog probe
    val dist = src.select(col("g")).distinct()
    assert(dist.collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0)).toSet ==
      Set("a", "b", null))
    assert(scanOf(dist).statsAnswer.isDefined, scanOf(dist).description())
    // a grouped query whose EVERY file is zone-pruned answers an EMPTY
    // row set through the metadata path (the type array must be complete
    // even with zero groups — a correct no-group result, not a crash)
    val none = src.filter(col("g") === "zzz").groupBy(col("g"))
      .agg(min(col("k")).as("mn"), sum(col("k")).as("sk"),
        count(lit(1)).as("n"))
    assert(none.collect().isEmpty)
    assert(scanOf(none).statsAnswer.isDefined, scanOf(none).description())
  }

  test("top-N zone pruning: ORDER BY LIMIT reads only the reachable bands/blocks") {
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2topn").toString
    Files.write(Paths.get(root, "a.jsonl"),
      (1 to 10).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "b.jsonl"),
      (11 to 20).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "c.jsonl"),
      (21 to 30).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "n.jsonl"),
      Seq.fill(3)("""{"k": null}""").mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("k"))
    def src = ExtendedJson.read(spark, schema, root)
    def planned(df: DataFrame): Set[String] = {
      val scan = v2Scan(df)
      df.collect()
      scan.planInputPartitions()
        .map(_.asInstanceOf[ExtJsonInputPartition].file)
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    }
    // DESC (nulls last): the top band alone guarantees 5 rows >= 21;
    // every other file's max is strictly below — including the all-null
    // file, which sorts after everything
    val top5 = src.orderBy(col("k").desc).limit(5)
    assert(top5.collect().map(_.getLong(0)).toSet == (26L to 30L).toSet)
    assert(planned(top5) == Set("c.jsonl"))
    assert(v2Scan(top5).description().contains("TopN-pruned"),
      v2Scan(top5).description())
    // a larger limit reaches into the second band, never the third
    val top15 = src.orderBy(col("k").desc).limit(15)
    assert(top15.collect().map(_.getLong(0)).toSet == (16L to 30L).toSet)
    assert(planned(top15) == Set("b.jsonl", "c.jsonl"))
    // ASC with Spark's default NULLS FIRST: the null file's rows occupy
    // top slots (unprunable), the remainder comes from the low band
    val asc5 = src.orderBy(col("k").asc).limit(5)
    assert(asc5.collect().map(r =>
      if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq ==
      Seq(-1L, -1L, -1L, 1L, 2L))
    assert(planned(asc5) == Set("a.jsonl", "n.jsonl"))
    // FILTERS compose: guarantees come only from zone-proved all-true
    // files (c under k > 3), so b prunes by threshold and a — though it
    // survives the filter — prunes too; the all-null file falls to the
    // filter itself
    val filtered = src.filter(col("k") > 3L).orderBy(col("k").desc).limit(5)
    assert(filtered.collect().map(_.getLong(0)).toSet == (26L to 30L).toSet)
    assert(planned(filtered) == Set("c.jsonl"))
    // BLOCK granularity: one sorted file — only the tail blocks of the
    // file are planned for a DESC probe
    val broot = Files.createTempDirectory("graft_v2topnb").toString
    val lines = (0 until 100).map(i => s"""{"k": ${1000 + i}}""")
    Files.write(Paths.get(broot, "sorted.jsonl"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, broot, schema, Seq("k"), blockBytes = 120L)
    val bsrc = ExtendedJson.read(spark, schema, broot)
    val btop = bsrc.orderBy(col("k").desc).limit(5)
    assert(btop.collect().map(_.getLong(0)).toSet == (1095L to 1099L).toSet)
    val bscan = v2Scan(btop)
    btop.collect()
    val bparts = bscan.planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition])
    assert(bparts.map(_.length).sum < 1200L,
      s"expected tail-block top-N planning, got ${bparts.toSeq}")
    // and ASC (nulls first, none present): only the HEAD block plans
    val basc = bsrc.orderBy(col("k").asc).limit(5)
    assert(basc.collect().map(_.getLong(0)).toSet == (1000L to 1004L).toSet)
    val bascScan = v2Scan(basc)
    basc.collect()
    assert(bascScan.planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition])
      .forall(p => p.start == 0L),
      "an ASC probe should plan only head blocks")
  }

  test("LIMIT coverage pruning: enough guaranteed rows and the listing tail never plans") {
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2limcov").toString
    Files.write(Paths.get(root, "a.jsonl"),
      (1 to 10).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "b.jsonl"),
      (11 to 20).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "c.jsonl"),
      (21 to 30).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("k"))
    def src = ExtendedJson.read(spark, schema, root)
    def plannedOf(df: DataFrame): Seq[ExtJsonInputPartition] = {
      val scan = v2Scan(df)
      df.collect()
      scan.planInputPartitions().map(_.asInstanceOf[ExtJsonInputPartition])
        .toSeq
    }
    // LIMIT 5: the first file alone guarantees coverage — one file plans
    val lim5 = src.limit(5)
    assert(lim5.collect().length == 5)
    assert(plannedOf(lim5).length == 1)
    assert(v2Scan(lim5).description().contains("Limit-covered"),
      v2Scan(lim5).description())
    // LIMIT 15 needs two files; LIMIT 31 exceeds the corpus — no pruning
    assert(plannedOf(src.limit(15)).length == 2)
    assert(src.limit(15).collect().length == 15)
    assert(plannedOf(src.limit(31)).length == 3)
    assert(src.limit(31).collect().length == 30)
    // a filter the zones can't prove all-true gives NO guarantee — every
    // file still plans, and results stay correct
    val filtered = src.filter(col("k") % 2 === 0L).limit(5)
    assert(filtered.collect().length == 5)
    // (% is not pushable — the residual filter means no pushed filters,
    // so coverage applies; use a pushed straddling range instead)
    // a straddling file (a: k 1..10 under k > 5) gives NO guarantee —
    // one all-true file (10 surviving rows) completes coverage; the
    // planned prefix is listing-order dependent but never the whole drop
    val straddle = src.filter(col("k") > 5L).limit(8)
    assert(straddle.collect().length == 8)
    val sPlanned = plannedOf(straddle)
    assert(sPlanned.length <= 2, s"coverage should drop the tail: $sPlanned")
    assert(sPlanned.exists(_.allTrue),
      "coverage must rest on an all-true file's guarantee")
    // ...but an all-true-provable filter does: k > 0 covers every file,
    // so LIMIT 5 plans one file again
    val covered = src.filter(col("k") > 0L).limit(5)
    assert(covered.collect().length == 5)
    assert(plannedOf(covered).length == 1)
    // BLOCK granularity: a block-indexed single file plans one covering
    // block for a small LIMIT
    val broot = Files.createTempDirectory("graft_v2limblk").toString
    val lines = (0 until 100).map(i => s"""{"k": ${1000 + i}}""")
    Files.write(Paths.get(broot, "sorted.jsonl"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, broot, schema, Seq("k"), blockBytes = 120L)
    val bsrc = ExtendedJson.read(spark, schema, broot)
    val blim = bsrc.limit(5)
    assert(blim.collect().length == 5)
    val bparts = plannedOf(blim)
    assert(bparts.map(_.length).sum < 1200L,
      s"expected covering-block planning, got $bparts")
  }

  test("nested directory trees read completely (recursive listing)") {
    val root = Files.createTempDirectory("graft_v2tree").toString
    Files.createDirectories(Paths.get(root, "drop", "date=2024-01-01"))
    Files.createDirectories(Paths.get(root, "drop", "date=2024-01-02", "deep"))
    Files.write(Paths.get(root, "drop", "top.jsonl"),
      """{"k": 1}""".getBytes("UTF-8"))
    Files.write(Paths.get(root, "drop", "date=2024-01-01", "p.jsonl"),
      "{\"k\": 2}\n{\"k\": 3}".getBytes("UTF-8"))
    Files.write(Paths.get(root, "drop", "date=2024-01-02", "deep", "q.jsonl"),
      """{"k": 4}""".getBytes("UTF-8"))
    // hidden entries skipped at every level, like the builtin sources
    Files.write(Paths.get(root, "drop", "_SUCCESS"), "".getBytes("UTF-8"))
    Files.write(Paths.get(root, "drop", "date=2024-01-01", ".hidden.jsonl"),
      """{"k": 99}""".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType)))
    val got = ExtendedJson.read(spark, schema, s"$root/drop")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L),
      s"nested layout must read completely, got $got")
  }

  test("wildcard matches skip hidden roots; explicit hidden paths still read") {
    val root = Files.createTempDirectory("graft_v2hid").toString
    Files.createDirectories(Paths.get(root, "d", "_temporary", "0"))
    Files.write(Paths.get(root, "d", "data.jsonl"), """{"k": 1}""".getBytes("UTF-8"))
    Files.write(Paths.get(root, "d", "_temporary", "0", "part.jsonl"),
      """{"k": 99}""".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType)))
    // a glob must NOT recurse into another job's in-flight _temporary
    // tree — orphaned task output read as data is silent duplication
    val globbed = ExtendedJson.read(spark, schema, s"$root/d/*")
      .collect().map(_.getLong(0)).toSeq
    assert(globbed == Seq(1L), s"glob read hidden tree: $globbed")
    // the directory read skips it too (hidden child filter)
    assert(ExtendedJson.read(spark, schema, s"$root/d")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // but an EXPLICIT literal path into the hidden tree reads it — the
    // caller asked for that exact directory
    assert(ExtendedJson.read(spark, schema, s"$root/d/_temporary")
      .collect().map(_.getLong(0)).toSeq == Seq(99L))
    // a glob matching ONLY hidden entries fails loudly — never a silent
    // zero-row scan
    val e = intercept[Exception] {
      ExtendedJson.read(spark, schema, s"$root/d/_tem*").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("hidden")), e.toString)
  }

  test("ORDER BY … LIMIT pushes as partial top-N: bounded per-split, globally exact") {
    val rnd = new scala.util.Random(5)
    val docs = rnd.shuffle((1 to 300).toList).map(i =>
      s"""{"k": $i, "v": ${i * 7 % 100}, "s": "r$i"}""") ++
      Seq("""{"k": 1000, "s": "nullv"}""")
    val dir = writeLines("top.jsonl", docs)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType),
      StructField("s", StringType)))
    def src() = spark.read.format("graft-extjson").schema(schema)
      .load(s"$dir/top.jsonl")
    withMaxPartitionBytes("256") {
      // two sort keys (desc + tiebreak asc), many tiny splits — each split
      // ships at most 5 rows, the global TakeOrdered assembles the answer
      val df = src().orderBy(col("v").desc, col("k").asc).limit(5)
      val scan = v2Scan(df)
      assert(scan.pushedTopN == 5, scan.description())
      assert(scan.description().contains("PushedTopN"), scan.description())
      val expect = (1 to 300).map(i => (i.toLong, (i * 7 % 100).toLong))
        .sortBy { case (k, v) => (-v, k) }.take(5)
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expect)
      // ascending with NULLS FIRST: the null-v row must surface
      val asc = src().orderBy(col("v").asc_nulls_first, col("k").asc).limit(3)
      assert(v2Scan(asc).pushedTopN == 3)
      val ascRows = asc.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toSeq
      assert(ascRows.head == ((1000L, null)), ascRows.toString)
      // with a pushed filter: top-N of the KEPT rows only
      val filtered = src().filter(col("v") < 50)
        .orderBy(col("v").desc, col("k").asc).limit(4)
      val expectF = (1 to 300).map(i => (i.toLong, (i * 7 % 100).toLong))
        .filter(_._2 < 50).sortBy { case (k, v) => (-v, k) }.take(4)
      assert(filtered.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expectF)
    }
    // a non-field sort key refuses the pushdown and stays correct
    val computed = src().orderBy((col("v") + col("k")).asc).limit(2)
    assert(v2Scan(computed).pushedTopN == -1)
    assert(computed.collect().length == 2)
  }

  test("gzip files read whole-file through the codec, never byte-split") {
    val dir = Files.createTempDirectory("graft_v2gz").toString
    val lines = (1 to 200).map(i => s"""{"k": $i, "s": "row_$i"}""")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/data.jsonl.gz"))
    gz.write(lines.mkString("\n").getBytes("UTF-8")); gz.close()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    // a tiny split size MUST NOT byte-split the gzip stream: exactly
    // one partition per compressed file, all rows decoded
    withMaxPartitionBytes("64") {
      val df = spark.read.format("graft-extjson").schema(schema)
        .load(s"$dir/data.jsonl.gz")
      assert(df.rdd.getNumPartitions == 1,
        "compressed files must be whole-file partitions")
      assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq == (1L to 200L))
      // pushdown still applies through the codec: filter, count skim, top-N
      assert(df.filter(col("k") > 190).collect().length == 10)
      assert(df.agg(count(lit(1))).collect().head.getLong(0) == 200L)
      val top = df.orderBy(col("k").desc).limit(3).select("k")
        .collect().map(_.getLong(0)).toSeq
      assert(top == Seq(200L, 199L, 198L))
      // grouped aggregate pushdown composes with the codec too: per-file
      // partials of the decompressed stream, merged upstream
      val byKey = df.groupBy(col("s")).agg(min(col("k")).as("mn")).collect()
      assert(byKey.length == 200 && byKey.forall(r =>
        r.getString(0) == s"row_${r.getLong(1)}"), byKey.take(3).mkString(","))
    }
    // mixed directory: plain + gz files combine completely
    Files.write(Paths.get(dir, "extra.jsonl"),
      """{"k": 1000, "s": "plain"}""".getBytes("UTF-8"))
    val mixed = ExtendedJson.read(spark, schema, dir)
    assert(mixed.count() == 201L)
  }

  test("runtime join filters reach the scan and drop rows reader-side") {
    import spark.implicits._
    val docs = (1 to 400).map(i => s"""{"k": ${i % 20}, "v": $i}""")
    val dir = writeLines("rf.jsonl", docs)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    // the dim side must be a FILE relation: a filtered LocalRelation
    // constant-folds away and leaves no selective Filter for the dynamic
    // pruning rule to key on
    (1 to 20).map(i => (i.toLong, if (i == 3 || i == 7) "hot" else s"c$i"))
      .toDF("k", "tag").write.parquet(s"$dir/dim.parquet")
    val dim = spark.read.parquet(s"$dir/dim.parquet").filter(col("tag") === "hot")
    val fact = ExtendedJson.read(spark, schema, s"$dir/rf.jsonl")
    val joined = fact.join(dim, Seq("k"))
    val rows = joined.collect()
    assert(rows.length == 40, s"${rows.length}")
    // the scan instance in the executed plan is the one Spark hands
    // runtime filters to; after execution it must have received the join
    // keys as an In filter. AQE wraps the join and query stages hold
    // their plans as inner children, so recurse through them explicitly.
    def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[ExtJsonScan] =
      (p match {
        case b: BatchScanExec => Seq(b.scan.asInstanceOf[ExtJsonScan])
        case _ => Nil
      }) ++ p.children.flatMap(findScans) ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findScans(q.plan)
        case _ => Nil
      })
    val ep = joined.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
    val finalPlan = ep match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = findScans(finalPlan)
    assert(scans.length == 1, finalPlan.toString.take(500))
    assert(scans.head.runtimeFilters.nonEmpty,
      "join build-side keys should arrive as runtime filters at the scan")
    assert(scans.head.runtimeFilters.map(_.toString)
      .exists(f => f.contains("In(k") && f.contains("3") && f.contains("7")),
      scans.head.runtimeFilters.mkString(", "))
  }

  test("runtime join filters skip whole FILES through the bloom sidecar") {
    import spark.implicits._
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2dynzm").toString
    // three fact files keyed on disjoint k bands — a selective dim join
    // should read only the file(s) holding the surviving keys
    Files.write(Paths.get(root, "f1.jsonl"),
      (1 to 400).map(i => s"""{"k": ${i % 30 + 1}, "v": $i}""")
        .mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "f2.jsonl"),
      (1 to 400).map(i => s"""{"k": ${i % 30 + 31}, "v": $i}""")
        .mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "f3.jsonl"),
      (1 to 400).map(i => s"""{"k": ${i % 30 + 61}, "v": $i}""")
        .mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("k"), bloomCols = Seq("k"))
    (1 to 90).map(i => (i.toLong, if (i == 40 || i == 55) "hot" else s"c$i"))
      .toDF("k", "tag").write.parquet(s"$root/_dim.parquet")
    val dim = spark.read.parquet(s"$root/_dim.parquet")
      .filter(col("tag") === "hot")
    val fact = ExtendedJson.read(spark, schema, root)
    val joined = fact.join(dim, Seq("k"))
    // k=40 and k=55 each occur ~13x in f2's band
    assert(joined.collect().forall(r =>
      r.getLong(0) == 40L || r.getLong(0) == 55L))
    def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[ExtJsonScan] =
      (p match {
        case b: BatchScanExec => Seq(b.scan.asInstanceOf[ExtJsonScan])
        case _ => Nil
      }) ++ p.children.flatMap(findScans) ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findScans(q.plan)
        case _ => Nil
      })
    val ep = joined.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
    val finalPlan = ep match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = findScans(finalPlan)
    assert(scans.length == 1, finalPlan.toString.take(500))
    assert(scans.head.runtimeFilters.nonEmpty,
      "join keys should arrive as runtime filters")
    // DYNAMIC data skipping: re-planning under the runtime In consults
    // the sidecar — both surviving keys live in f2's band, so f1/f3 are
    // never split, read, or parsed
    val planned = scans.head.planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition].file)
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(planned == Set("f2.jsonl"),
      s"runtime bloom/zone skipping should plan only f2: $planned")
  }

  test("runtime join filters prune on NESTED (dotted) join keys too") {
    import spark.implicits._
    val docs = (1 to 400).map(i => s"""{"p": {"k": ${i % 20}, "s": "x"}, "v": $i}""")
    val dir = writeLines("rfn.jsonl", docs)
    val schema = StructType(Seq(
      StructField("p", StructType(Seq(
        StructField("k", LongType), StructField("s", StringType)))),
      StructField("v", LongType)))
    // file-backed dim with a selective filter (a filtered LocalRelation
    // constant-folds away and the pruning rule sees nothing)
    (1 to 20).map(i => (i.toLong, if (i == 4 || i == 9) "hot" else s"c$i"))
      .toDF("dk", "tag").write.parquet(s"$dir/dimn.parquet")
    val dim = spark.read.parquet(s"$dir/dimn.parquet").filter(col("tag") === "hot")
    val fact = ExtendedJson.read(spark, schema, s"$dir/rfn.jsonl")
    val joined = fact.join(dim, fact.col("p.k") === dim.col("dk"))
    assert(joined.collect().length == 40)
    def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[ExtJsonScan] =
      (p match {
        case b: BatchScanExec => Seq(b.scan.asInstanceOf[ExtJsonScan])
        case _ => Nil
      }) ++ p.children.flatMap(findScans) ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findScans(q.plan)
        case _ => Nil
      })
    val ep = joined.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
    val finalPlan = ep match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = findScans(finalPlan)
    assert(scans.length == 1, finalPlan.toString.take(500))
    // the dotted key arrives as a runtime In filter and evaluates through
    // the nested getter machinery — fact documents outside the dim's two
    // hot keys never leave the reader
    assert(scans.head.runtimeFilters.map(_.toString)
      .exists(f => f.contains("In(p.k") && f.contains("4") && f.contains("9")),
      scans.head.runtimeFilters.mkString(", "))
  }

  test("runtime In on a NESTED key takes the bloom path: scattered keys skip files") {
    import spark.implicits._
    import graft.ingest.v2.{ExtJsonInputPartition, ZoneMaps}
    val root = Files.createTempDirectory("graft_v2dynnb").toString
    // keys INTERLEAVED by residue class: every file's [min,max] covers
    // the whole key space, so min/max can skip nothing — only the
    // per-file blooms can answer a membership probe. The keys are
    // NESTED (p.k): the dynamic filter arrives as a dotted
    // backtick-quoted In and must still reach the bloom probe.
    // sized past the runtime-filter benefit heuristic (a byte-tiny fact
    // side makes Spark skip dynamic pruning as not worth a subquery)
    def lines(res: Int): Seq[String] =
      for { j <- 1 to 30; i <- 0 until 10 }
        yield s"""{"p": {"k": ${3 * j + res - 2}}, "v": $i, "pad": "${"x" * 48}"}"""
    Files.write(Paths.get(root, "r1.jsonl"),
      lines(1).mkString("\n").getBytes("UTF-8")) // k ≡ 2 mod 3: 2,5,...,89
    Files.write(Paths.get(root, "r2.jsonl"),
      lines(2).mkString("\n").getBytes("UTF-8")) // k ≡ 0 mod 3: 3,6,...,90
    Files.write(Paths.get(root, "r3.jsonl"),
      lines(3).mkString("\n").getBytes("UTF-8")) // k ≡ 1 mod 3: 4,7,...,91
    val schema = StructType(Seq(
      StructField("p", StructType(Seq(StructField("k", LongType)))),
      StructField("v", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("p.k"), bloomCols = Seq("p.k"))
    // both hot keys ≡ 0 mod 3 → both live ONLY in r2.jsonl
    (1 to 90).map(i => (i.toLong, if (i == 42 || i == 57) "hot" else s"c$i"))
      .toDF("dk", "tag").write.parquet(s"$root/_dim.parquet")
    val dim = spark.read.parquet(s"$root/_dim.parquet")
      .filter(col("tag") === "hot")
    val fact = ExtendedJson.read(spark, schema, root)
    val joined = fact.join(dim, fact.col("p.k") === dim.col("dk"))
    assert(joined.collect().forall(r =>
      r.getStruct(0).getLong(0) == 42L || r.getStruct(0).getLong(0) == 57L))
    def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[ExtJsonScan] =
      (p match {
        case b: BatchScanExec => Seq(b.scan.asInstanceOf[ExtJsonScan])
        case _ => Nil
      }) ++ p.children.flatMap(findScans) ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findScans(q.plan)
        case _ => Nil
      })
    val ep = joined.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
    val finalPlan = ep match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = findScans(finalPlan)
    assert(scans.length == 1, finalPlan.toString.take(500))
    assert(scans.head.runtimeFilters.map(_.toString)
      .exists(_.contains("In(`p`.`k`")) ||
      scans.head.runtimeFilters.map(_.toString).exists(_.contains("In(p.k")),
      scans.head.runtimeFilters.mkString(", "))
    // the composition that matters at 100 TB: dynamic pruning × bloom
    // sidecar on a nested leaf — min/max is blind here, so planning only
    // r2 PROVES the dotted runtime In probed the blooms
    val planned = scans.head.planInputPartitions()
      .map(_.asInstanceOf[ExtJsonInputPartition].file)
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(planned == Set("r2.jsonl"),
      s"dotted runtime In must prune through the blooms: $planned")
    assert(scans.head.bloomBlobsFetched > 0, "blooms were never probed")
  }

  test("complete COUNT(*) pushdown: single-split merges in the scan, multi-split stays partial") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val schema = StructType(Seq(StructField("k", LongType)))
    def scanOf(df: DataFrame) = {
      // aggregate plans AQE-wrap; the pre-AQE plan carries the shape
      val p = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.sparkPlan
      (p, p.collect { case b: BatchScanExec => b.scan }
        .head.asInstanceOf[ExtJsonScan])
    }
    // ONE small file → one split → the scan's row IS the answer: no
    // aggregate node anywhere in the plan
    val dir = writeLines("c.jsonl", (1 to 37).map(i => s"""{"k": $i}"""))
    val one = ExtendedJson.read(spark, schema, s"$dir/c.jsonl")
      .agg(count(lit(1)).as("n"))
    assert(one.collect().head.getLong(0) == 37L)
    val (p1, s1) = scanOf(one)
    assert(s1.completeCount && s1.description().contains("(complete)"),
      s1.description())
    assert(p1.collect { case a: BaseAggregateExec => a }.isEmpty,
      p1.toString.take(600))

    // TWO files → the offer is refused: Spark's partial aggregate over
    // the parallel skims + final merge (the 100 TB shape — complete
    // would serialize the read)
    val dir2 = Files.createTempDirectory("graft_v2cc").toString
    Files.write(Paths.get(dir2, "a.jsonl"),
      (1 to 20).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(dir2, "b.jsonl"),
      (21 to 37).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    val two = ExtendedJson.read(spark, schema, dir2)
      .agg(count(lit(1)).as("n"))
    assert(two.collect().head.getLong(0) == 37L)
    val (p2, s2) = scanOf(two)
    assert(!s2.aggPushed, s2.description())
    assert(p2.collect { case a: BaseAggregateExec => a }.nonEmpty)

    // one file that SPLITS (tiny split size) refuses too — each range
    // counts its own lines and the merge must stay
    withMaxPartitionBytes("64") {
      val split = ExtendedJson.read(spark, schema, s"$dir/c.jsonl")
        .agg(count(lit(1)).as("n"))
      assert(split.collect().head.getLong(0) == 37L)
      val (p3, s3) = scanOf(split)
      assert(!s3.aggPushed, s3.description())
      assert(p3.collect { case a: BaseAggregateExec => a }.nonEmpty)
    }

    // a filtered count refuses complete (rows must evaluate per row)
    val filtered = ExtendedJson.read(spark, schema, s"$dir/c.jsonl")
      .filter(col("k") > 30).agg(count(lit(1)).as("n"))
    assert(filtered.collect().head.getLong(0) == 7L)
    assert(!scanOf(filtered)._2.aggPushed)
  }

  test("a planned complete COUNT(*) answers from its own snapshot after a file lands") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val dir = writeLines("a.jsonl", (1 to 37).map(i => s"""{"k": $i}"""))
    val df = ExtendedJson.read(spark, schema, dir).agg(count(lit(1)).as("n"))
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    // planning takes the snapshot: one file, so the count is complete
    qe.optimizedPlan
    Files.write(Paths.get(dir, "b.jsonl"),
      (38 to 40).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    assert(df.collect().head.getLong(0) == 37L)
    assert(qe.sparkPlan.collect { case b: BatchScanExec => b.scan }
      .head.asInstanceOf[ExtJsonScan].completeCount)
  }

  test("ORDER BY partition columns + LIMIT degenerates to per-split early exit") {
    val root = Files.createTempDirectory("graft_v2ptopn").toString
    writePart(root, "py=1996/a.jsonl", (1 to 40).map(i => s"""{"k": $i}"""))
    writePart(root, "py=1997/b.jsonl", (41 to 80).map(i => s"""{"k": $i}"""))
    writePart(root, "py=1998/c.jsonl",
      Seq("""{"k": 100}""", """{"k": 101}""", """{"k": 102}"""))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("py", IntegerType)))
    val src = ExtendedJson.read(spark, schema, root,
      Map("partitionColumns" -> "py"))
    // the top partition value holds exactly 3 rows, so the answer is
    // deterministic even though all sort keys are path-constants
    val df = src.orderBy(col("py").desc).limit(3)
      .select(col("k"), col("py"))
    val execs = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(execs.length == 1)
    assert(df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((100L, 1998), (101L, 1998), (102L, 1998)))
    val scan = execs.head.scan.asInstanceOf[ExtJsonScan]
    assert(scan.pushedTopN == 3 && scan.pushedSorts.head.field == "py",
      scan.description())
    // all sort keys are partition columns → per-split rows TIE, so the
    // bounded heap degenerates to an early-exit limit: each of the 3
    // splits parses its first 3 kept rows (9 total), never the 83-row
    // corpus
    assert(execs.head.metrics(graft.ingest.v2.ScanMetrics.ParsedDocs)
      .value <= 9L, execs.head.metrics.toString)
  }

  test("scan task metrics report parsed/filtered/skimmed counts") {
    val docs = (1 to 50).map(i => s"""{"k": $i}""")
    val dir = writeLines("mx.jsonl", docs)
    val schema = StructType(Seq(StructField("k", LongType)))
    def scanExec(df: DataFrame) = {
      val plans = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(plans.length == 1)
      plans.head
    }
    // filtered read: 50 parsed, 40 dropped reader-side — the rows a plan
    // never sees, now visible per scan node
    val df = ExtendedJson.read(spark, schema, s"$dir/mx.jsonl")
      .filter(col("k") > 40)
    val exec = scanExec(df)
    assert(df.collect().length == 10)
    assert(exec.metrics(graft.ingest.v2.ScanMetrics.ParsedDocs).value == 50)
    assert(exec.metrics(graft.ingest.v2.ScanMetrics.FilteredDocs).value == 40)
    assert(exec.metrics(graft.ingest.v2.ScanMetrics.SkimmedLines).value == 0)
    // the UI path re-creates each CustomMetric REFLECTIVELY from its
    // class name (0-arg constructor required) — a parameterized metric
    // class silently renders "N/A" in the SQL UI while this driver-side
    // assertion still passes, so pin instantiability directly
    exec.scan.supportedCustomMetrics().foreach { m =>
      val re = Class.forName(m.getClass.getName)
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.connector.metric.CustomMetric]
      assert(re.name() == m.name(), m.getClass.getName)
      assert(re.aggregateTaskMetrics(Array(2L, 3L)).contains("5"),
        s"${m.name()} must sum task values")
    }
  }

  test("the row reader skims every COUNT(*): multi-split, partition-grouped, unpushed") {
    import graft.ingest.v2.ScanMetrics
    // executed scan nodes after the run (AQE-aware), for their metrics
    def scanExecs(df: DataFrame): Seq[BatchScanExec] =
      TestPlans.executedNodes(df).collect { case b: BatchScanExec => b }
    def metric(bs: Seq[BatchScanExec], name: String): Long =
      bs.map(_.metrics(name).value).sum
    // 40 documents, a blank line (no row) and a malformed line (a PERMISSIVE
    // row, as the builtin reader also counts it) over two files
    val root = Files.createTempDirectory("graft_v2skim").toString
    Files.write(Paths.get(root, "a.jsonl"),
      ((1 to 20).map(i => s"""{"k": $i}""") ++ Seq("", "{oops"))
        .mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "b.jsonl"),
      (21 to 40).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType)))
    val lines = 41L
    assert(spark.read.schema(schema).json(root).count() == lines)
    // multi-split COUNT(*): Spark's partial aggregate over the skims
    val counted = ExtendedJson.read(spark, schema, root).agg(count(lit(1)))
    assert(counted.collect().head.getLong(0) == lines)
    val cs = scanExecs(counted)
    assert(cs.nonEmpty && !cs.head.scan.asInstanceOf[ExtJsonScan].aggPushed)
    assert(metric(cs, ScanMetrics.ParsedDocs) == 0L)
    assert(metric(cs, ScanMetrics.SkimmedLines) == lines)
    // an empty projection counted as an RDD never reaches an aggregate
    // at all: the rows are skimmed just the same (toRdd runs the very
    // exec whose metrics are read back)
    val bare = ExtendedJson.read(spark, schema, root).select()
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    assert(bare.toRdd.count() == lines)
    val bs = bare.executedPlan.collect { case b: BatchScanExec => b }
    assert(metric(bs, ScanMetrics.ParsedDocs) == 0L)
    assert(metric(bs, ScanMetrics.SkimmedLines) == lines)
    // GROUP BY a partition column: the key is the split's path constant
    val proot = Files.createTempDirectory("graft_v2skimp").toString
    writePart(proot, "py=1995/a.jsonl", Seq("""{"v": 1}""", "", """{"v": 2}"""))
    writePart(proot, "py=1996/b.jsonl", Seq("""{"v": 3}"""))
    val pschema = StructType(Seq(
      StructField("v", LongType), StructField("py", IntegerType)))
    val byPy = ExtendedJson.read(spark, pschema, proot,
      Map("partitionColumns" -> "py")).groupBy(col("py")).agg(count(lit(1)))
    assert(byPy.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((1995, 2L), (1996, 1L)))
    val ps = scanExecs(byPy)
    assert(metric(ps, ScanMetrics.ParsedDocs) == 0L)
    assert(metric(ps, ScanMetrics.SkimmedLines) == 3L)
  }

  test("explicit schema is required — inference refuses loudly") {
    val dir = writeLines("x.jsonl", Seq("""{"a": 1}"""))
    val e = intercept[Exception] {
      spark.read.format("graft-extjson").load(s"$dir/x.jsonl").collect()
    }
    assert(e.getMessage.contains("explicit schema") ||
      Option(e.getCause).exists(_.getMessage.contains("explicit schema")))
  }

  test("split-parallel stats build: identical sidecar at any split size; sorted proof folds across boundaries") {
    import graft.ingest.v2.ZoneMaps
    // one 1200-byte file of 100 sorted fixed-width lines (12 B each):
    // blockBytes = 120 → 10 clean blocks; statSplitBytes = 240 → 5 tasks
    val lines = (0 until 100).map(i => s"""{"k": ${1000 + i}}""")
    def writeSorted(root: String): Unit =
      Files.write(Paths.get(root, "sorted.jsonl"),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType)))
    val oneTask = Files.createTempDirectory("graft_v2sp1").toString
    writeSorted(oneTask)
    ZoneMaps.build(spark, oneTask, schema, Seq("k"),
      bloomCols = Seq("k"), blockBytes = 120L)
    val manyTasks = Files.createTempDirectory("graft_v2spN").toString
    writeSorted(manyTasks)
    // count the build's real task parallelism through the listener bus
    val maxStageTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        maxStageTasks.accumulateAndGet(s.stageInfo.numTasks, math.max(_, _))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ZoneMaps.build(spark, manyTasks, schema, Seq("k"),
        bloomCols = Seq("k"), blockBytes = 120L, statSplitBytes = 240L)
      // listener delivery is async: poll briefly for the stage events
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (maxStageTasks.get() < 5 && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(maxStageTasks.get() >= 5,
      s"a 5-split build must run >1 stats task, saw ${maxStageTasks.get()}")
    // the per-file merge must reproduce the single-task sidecar EXACTLY:
    // same min/max/null/sum/rows, same tiled blocks, same sorted proof
    def stats(root: String) = ZoneMaps.loadStats(spark, root, schema)
      .map { case ((f, _, _), v) => f -> v }
    assert(stats(manyTasks) == stats(oneTask))
    val fs = stats(manyTasks)("sorted.jsonl")
    assert(fs.cols("k").sorted, "a sorted file must carry the proof")
    assert(fs.cols("k").distinct.contains(100L),
      "unique sorted keys: distinct = rows")
    assert(fs.blocks.exists(_.size == 10) && fs.blockRows.contains(10L))
    // v4 distinct counts survive split boundaries INSIDE duplicate
    // runs: 300 fixed-width rows of key i/3 (100 distinct, runs of 3)
    // built at a split size that cuts mid-run — split counts add minus
    // one per boundary whose adjacent values are equal; and nulls
    // interleaved in an otherwise-monotone column leave distinct valid
    // (COUNT DISTINCT ignores nulls) while killing the sorted proof
    val dupRoot = Files.createTempDirectory("graft_v2spD").toString
    Files.write(Paths.get(dupRoot, "dup.jsonl"),
      ((0 until 300).map(i => f"""{"k": ${1000 + i / 3}%04d}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, dupRoot, schema, Seq("k"), statSplitBytes = 160L)
    val dupCs = ZoneMaps.loadStats(spark, dupRoot, schema)
      .head._2.cols("k")
    assert(dupCs.sorted && dupCs.distinct.contains(100L),
      s"mid-run split boundaries must not double-count: $dupCs")
    val nullRoot = Files.createTempDirectory("graft_v2spDN").toString
    Files.write(Paths.get(nullRoot, "n.jsonl"),
      (Seq("""{"k": 1}""", """{"j": 2}""", """{"k": 1}""",
        """{"k": 3}""").mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, nullRoot, schema, Seq("k"))
    val nullCs = ZoneMaps.loadStats(spark, nullRoot, schema)
      .head._2.cols("k")
    assert(!nullCs.sorted && nullCs.distinct.contains(2L),
      s"null-interleaved monotone: distinct valid, sorted not: $nullCs")
    // merged blooms answer like single-task blooms: a present key probes
    // true, pruning still drops the file for an absent one
    val src = ExtendedJson.read(spark, schema, manyTasks)
    assert(src.filter(col("k") === 1042L).count() == 1L)
    val miss = src.filter(col("k") === 1500L)
    miss.collect()
    assert(v2Scan(miss).planInputPartitions().isEmpty,
      "out-of-range key must plan zero partitions")

    // the sorted proof is CONSERVATIVE across split boundaries: row 20
    // (the last row OWNED by the first 240-byte split task) spikes to
    // 2000 — both splits stay internally monotone, so only the
    // boundary check last(split0) ≤ first(split1) can catch it
    val inverted = Files.createTempDirectory("graft_v2spI").toString
    val bad = lines.updated(20, """{"k": 2000}""")
    Files.write(Paths.get(inverted, "sorted.jsonl"),
      (bad.mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, inverted, schema, Seq("k"), statSplitBytes = 240L)
    assert(!ZoneMaps.loadStats(spark, inverted, schema)
      .head._2.cols("k").sorted,
      "a boundary inversion must break the sorted proof")
    // ...and a null anywhere breaks it too (NULLS FIRST would outrank)
    val nulled = Files.createTempDirectory("graft_v2spZ").toString
    Files.write(Paths.get(nulled, "n.jsonl"),
      (Seq("""{"k": 1}""", """{"j": 2}""", """{"k": 3}""")
        .mkString("\n")).getBytes("UTF-8"))
    ZoneMaps.build(spark, nulled, schema, Seq("k"))
    assert(!ZoneMaps.loadStats(spark, nulled, schema)
      .head._2.cols("k").sorted,
      "a null must break the sorted proof")
  }

  test("split-parallel build equivalence sweep: random lines, split sizes, block sizes — byte-identical sidecars") {
    import graft.ingest.v2.ZoneMaps
    val schema = StructType(Seq(
      StructField("k", DoubleType), StructField("s", StringType)))
    // the full sidecar rows — min/max/null/sum/sorted/nblocks AND the
    // serialized bloom bytes — as a comparable set (bloom bit positions
    // depend only on the inserted key set, so single-task and merged
    // filters must be bit-identical, not merely equivalent)
    def rows(dir: String): Set[Seq[Any]] =
      spark.read.parquet(s"$dir/${ZoneMaps.SidecarDir}/base").collect()
        .map(_.toSeq.map {
          case a: Array[Byte] => a.toSeq
          case x => x
        }).toSet
    // collision-dense value pool: signed zeros, extremes, duplicates,
    // nulls, absent fields, empty lines, with/without trailing newline
    val pool = Seq("-0.0", "0.0", "1.0", "-1.0", "1e300", "-1e300",
      "123.456", "2.0", "2.0", "3.5")
    (1 to 10).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919)
      val lines = (0 until 30 + rnd.nextInt(50)).map { i =>
        rnd.nextInt(10) match {
          case 0 => "" // blank line: skipped by builder and readers alike
          case 1 => s"""{"s": "only${rnd.nextInt(5)}"}""" // k absent → null
          case _ =>
            s"""{"k": ${pool(rnd.nextInt(pool.size))}, "s": "v${rnd.nextInt(7)}"}"""
        }
      }
      val body = lines.mkString("\n") + (if (rnd.nextBoolean()) "\n" else "")
      val blockBytes = Seq(0L, 24L, 120L)(rnd.nextInt(3))
      val splitBytes = Seq(23L, 57L, 120L, 1000L)(rnd.nextInt(4))
      def mk(tag: String, split: Long): String = {
        val d = Files.createTempDirectory(s"graft_v2eq${seed}$tag").toString
        Files.write(Paths.get(d, "f.jsonl"), body.getBytes("UTF-8"))
        ZoneMaps.build(spark, d, schema, Seq("k", "s"),
          bloomCols = Seq("s"), blockBytes = blockBytes,
          statSplitBytes = split)
        d
      }
      val one = mk("a", Long.MaxValue / 4) // single task
      val many = mk("b", splitBytes) // up to dozens of tasks
      // identical LAYOUT keys aside (len/mtime match: same bytes, but
      // mtime can differ between writes — strip the mtime column)
      def noMtime(r: Set[Seq[Any]]): Set[Seq[Any]] =
        r.map(row => row.patch(2, Nil, 1))
      assert(noMtime(rows(many)) == noMtime(rows(one)),
        s"seed $seed (blockBytes=$blockBytes, splitBytes=$splitBytes): " +
          "split-parallel sidecar diverged from the single-task build")
    }
  }

  test("block rows load lazily: file-level plans fetch none, block plans fetch survivors only") {
    import graft.ingest.v2.ZoneMaps
    val schema = StructType(Seq(StructField("k", LongType)))
    // drop WITHOUT block stats: its file-level rows record nblocks = 0,
    // so a filtered plan must deserialize ZERO block rows (no second
    // sidecar read at all — the mirror of the lazy-bloom pin)
    val flat = Files.createTempDirectory("graft_v2lzf").toString
    Files.write(Paths.get(flat, "a.jsonl"),
      (1 to 10).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(flat, "b.jsonl"),
      (11 to 20).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, flat, schema, Seq("k"))
    def fetched(df: DataFrame): Int = {
      val scan = v2Scan(df)
      df.collect()
      scan.planInputPartitions()
      scan.blockRowsFetched
    }
    val fsrc = ExtendedJson.read(spark, schema, flat)
    assert(fetched(fsrc.filter(col("k") > 15L)) == 0,
      "a file-level-only sidecar must never deserialize block rows")
    // drop WITH block stats on two one-block-band files: a filter that
    // kills one file at the min/max phase fetches only the SURVIVOR's
    // block rows — planning cost scales with survivors, not the corpus
    val blocky = Files.createTempDirectory("graft_v2lzb").toString
    def fixed(i: Int) = s"""{"k": ${1000 + i}}"""
    Files.write(Paths.get(blocky, "lo.jsonl"),
      ((0 until 100).map(fixed).mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(Paths.get(blocky, "hi.jsonl"),
      ((100 until 200).map(fixed).mkString("\n") + "\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, blocky, schema, Seq("k"), blockBytes = 120L)
    val bsrc = ExtendedJson.read(spark, schema, blocky)
    // k in [1150, 1160): hi.jsonl survives (10 blocks fetched), lo.jsonl
    // dies at file level (its 10 block rows never leave the parquet)
    val mid = bsrc.filter(col("k") >= 1150L && col("k") < 1160L)
    assert(fetched(mid) == 10,
      s"only the survivor's block rows may load (${v2Scan(mid).description()})")
    assert(mid.count() == 10L)
  }

  test("planner statistics are zone-aware: pruned bands contribute neither bytes nor rows") {
    import graft.ingest.v2.ZoneMaps
    val root = Files.createTempDirectory("graft_v2est").toString
    def land(name: String, range: Range): Long = {
      val p = Paths.get(root, name)
      Files.write(p,
        range.map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
      p.toFile.length()
    }
    land("a.jsonl", 1 to 10)
    land("b.jsonl", 11 to 20)
    val cLen = land("c.jsonl", 21 to 30)
    val schema = StructType(Seq(StructField("k", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("k"))
    def statsOf(df: DataFrame) = {
      val st = v2Scan(df).estimateStatistics()
      (st.sizeInBytes().getAsLong,
        if (st.numRows().isPresent) Some(st.numRows().getAsLong) else None)
    }
    val src = ExtendedJson.read(spark, schema, root)
    // unfiltered: full bytes, EXACT corpus row count from the sidecar —
    // "unknown rows" was the pre-v3 answer, and unknown means the
    // optimizer guesses at broadcast decisions
    val (allB, allR) = statsOf(src)
    assert(allR.contains(30L), s"expected exact rows, got $allR")
    // a band-killing filter: only the surviving band's bytes/rows remain
    // — the size a broadcast decision should see
    val (prunedB, prunedR) = statsOf(src.filter(col("k") > 20L))
    assert(prunedB == cLen && prunedB < allB, s"$prunedB vs $allB")
    assert(prunedR.contains(10L), s"expected the surviving band's rows, got $prunedR")
    // sidecar-less drops keep the honest unknown
    val bare = Files.createTempDirectory("graft_v2estb").toString
    Files.write(Paths.get(bare, "x.jsonl"),
      (1 to 5).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    val (bareB, bareR) = statsOf(
      ExtendedJson.read(spark, schema, bare))
    assert(bareB > 0L && bareR.isEmpty)
  }

  test("sorted drops stop ORDER BY key LIMIT n at the bound; unsorted and DESC consume the split") {
    import graft.ingest.v2.ZoneMaps
    val root = Files.createTempDirectory("graft_v2ord").toString
    Files.write(Paths.get(root, "s.jsonl"),
      ((0 until 100).map(i => s"""{"k": ${1000 + i}}""").mkString("\n") + "\n")
        .getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("k", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("k"))
    def run(df: DataFrame): (Seq[Long], Long) = {
      val execs = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(execs.length == 1)
      val rows = df.collect().map(_.getLong(0)).toSeq
      (rows, execs.head.metrics(graft.ingest.v2.ScanMetrics.ParsedDocs).value)
    }
    val src = ExtendedJson.read(spark, schema, root)
    // ASC over the proven-sorted file: the reader banks 5 kept rows,
    // then the 6th row's strictly-greater key proves the rest of the
    // split irrelevant — 6 rows parsed, not 100
    val (ascRows, ascParsed) = run(
      src.orderBy(col("k").asc).limit(5).select(col("k")))
    assert(ascRows == (1000L to 1004L).toSeq)
    assert(ascParsed <= 7L, s"sorted ASC top-N must stop early, parsed $ascParsed")
    // DESC over the same (ascending) proof: no early exit — the best
    // rows are at the END, so the split must be consumed
    val (descRows, descParsed) = run(
      src.orderBy(col("k").desc).limit(5).select(col("k")))
    assert(descRows.toSet == (1095L to 1099L).toSet)
    assert(descParsed == 100L)
    // ties at the bound keep flowing: 5 copies of the minimum plus a
    // tiebreak column — the exit must not cut ties of the n-th key, or
    // the tiebreak-best copies could be lost
    val troot = Files.createTempDirectory("graft_v2ordt").toString
    val tlines = (0 until 5).map(j => s"""{"k": 1, "j": ${9 - j}}""") ++
      (1 to 20).map(i => s"""{"k": ${1 + i}, "j": 0}""")
    Files.write(Paths.get(troot, "t.jsonl"),
      (tlines.mkString("\n") + "\n").getBytes("UTF-8"))
    val tschema = StructType(Seq(
      StructField("k", LongType), StructField("j", LongType)))
    ZoneMaps.build(spark, troot, tschema, Seq("k"))
    val tsrc = ExtendedJson.read(spark, tschema, troot)
    val top = tsrc.orderBy(col("k").asc, col("j").asc).limit(3)
      .select(col("k"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top == Seq((1L, 5L), (1L, 6L), (1L, 7L)),
      s"tiebreaks among the bound's ties must survive the early exit: $top")
  }

  test("sidecar compaction folds generations, drops stale rows, and crashed folds converge") {
    import graft.ingest.v2.ZoneMaps
    val root = Files.createTempDirectory("graft_v2cmp").toString
    val schema = StructType(Seq(StructField("k", LongType)))
    def land(name: String, range: Range): Unit =
      Files.write(Paths.get(root, name),
        range.map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    land("a.jsonl", 1 to 10)
    land("b.jsonl", 11 to 20)
    assert(ZoneMaps.build(spark, root, schema, Seq("k")) == 2L)
    land("c.jsonl", 21 to 30)
    assert(ZoneMaps.append(spark, root, schema, Seq("k"), "t1") == 1L)
    // REWRITE b with a DIFFERENT row count: its old stats row is now
    // dead weight in base (the length change makes staleness
    // deterministic — same-millisecond rewrites can collide on mtime)
    land("b.jsonl", 31 to 45)
    val crc = Paths.get(root, ".b.jsonl.crc")
    if (Files.exists(crc)) Files.delete(crc)
    assert(ZoneMaps.append(spark, root, schema, Seq("k"), "t2") == 1L)
    val sidecar = new java.io.File(s"$root/${ZoneMaps.SidecarDir}")
    def gens(): Set[String] =
      sidecar.listFiles().filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).toSet
    assert(gens() == Set("base", "add_t1", "add_t2"))
    val before = ZoneMaps.loadStats(spark, root, schema)
    assert(before.size == 4, "3 live files + 1 stale key for old b")
    def src = ExtendedJson.read(spark, schema, root)
    def plannedFiles(df: DataFrame): Set[String] = {
      val scan = v2Scan(df)
      df.collect()
      scan.planInputPartitions()
        .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition].file)
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    }
    assert(plannedFiles(src.filter(col("k") > 30L)) == Set("b.jsonl"))
    // COMPACT: one generation remains, stale rows gone, reads identical
    assert(ZoneMaps.compact(spark, root) == 3L)
    assert(gens() == Set("base"))
    val after = ZoneMaps.loadStats(spark, root, schema)
    assert(after.size == 3, "the stale pre-rewrite b key must be dropped")
    val live = before.filter { case (k, _) => after.contains(k) }
    assert(after == live, "compaction must preserve live rows exactly")
    assert(plannedFiles(src.filter(col("k") > 30L)) == Set("b.jsonl"))
    assert(plannedFiles(src.filter(col("k") <= 10L)) == Set("a.jsonl"))
    // idempotent no-op when already compact and fully fresh
    assert(ZoneMaps.compact(spark, root) == 0L)
    assert(ZoneMaps.loadStats(spark, root, schema) == after)

    // CRASH REPLAY 1 — after the manifest, before deletes/rename (the
    // manifested staging dir must be FINISHED, never refolded): simulate
    // by moving base to _folding with a manifest naming it
    val staging = new java.io.File(sidecar, "_folding")
    assert(new java.io.File(sidecar, "base").renameTo(staging))
    // the renamed dir carries the PREVIOUS fold's manifest (+ its Hadoop
    // checksum sidecar) — replace both so the simulated crash state is
    // exactly "manifest names base, deletes/rename pending"
    Files.deleteIfExists(staging.toPath.resolve("_folded.json"))
    Files.deleteIfExists(staging.toPath.resolve("._folded.json.crc"))
    Files.write(staging.toPath.resolve("_folded.json"),
      """["base"]""".getBytes("UTF-8"))
    assert(ZoneMaps.compact(spark, root) == 1L)
    assert(gens() == Set("base") && !staging.exists())
    assert(ZoneMaps.loadStats(spark, root, schema) == after)
    // CRASH REPLAY 2 — mid-write (no manifest): the junk staging dir is
    // discarded and the fold reruns from the intact generations
    assert(staging.mkdir())
    Files.write(staging.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    land("d.jsonl", 100 to 110)
    assert(ZoneMaps.append(spark, root, schema, Seq("k"), "t3") == 1L)
    assert(ZoneMaps.compact(spark, root) == 2L)
    assert(gens() == Set("base") && !staging.exists())
    assert(ZoneMaps.loadStats(spark, root, schema).size == 4)
    assert(plannedFiles(src.filter(col("k") > 50L)) == Set("d.jsonl"))
  }

  test("sidecar compaction crashed inside its commit leaves one generation on rerun") {
    import graft.ingest.v2.ZoneMaps
    val root = Files.createTempDirectory("graft_v2cmpcrash").toString
    val schema = StructType(Seq(StructField("k", LongType)))
    def land(name: String, range: Range): Unit =
      Files.write(Paths.get(root, name),
        range.map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    land("a.jsonl", 1 to 10)
    land("b.jsonl", 11 to 20)
    ZoneMaps.build(spark, root, schema, Seq("k"))
    land("c.jsonl", 21 to 30)
    ZoneMaps.append(spark, root, schema, Seq("k"), "t1")
    land("d.jsonl", 31 to 40)
    ZoneMaps.append(spark, root, schema, Seq("k"), "t2")
    val sidecar = new java.io.File(s"$root/${ZoneMaps.SidecarDir}")
    def gens(): Set[String] =
      sidecar.listFiles().filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).toSet
    def rows(): Seq[Long] = ExtendedJson.read(spark, schema, root).filter(col("k") > 25L)
      .select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq.sorted
    val stats = ZoneMaps.loadStats(spark, root, schema)
    val want = rows()
    // the fold's data lands in staging, its manifest write dies midway
    CrashFs.install(spark.sparkContext.hadoopConfiguration)
    intercept[java.io.IOException](CrashFs.armed(".*_folded\\.json.*")(
      ZoneMaps.compact(spark, CrashFs.path(root))))
    assert(ZoneMaps.loadStats(spark, root, schema) == stats)
    assert(ZoneMaps.compact(spark, CrashFs.path(root)) == 3L)
    assert(gens() == Set("base"), s"one generation expected: ${gens()}")
    assert(ZoneMaps.loadStats(spark, root, schema) == stats)
    assert(rows() == want)
  }

  test("storage-partitioned reads: co-partitioned drops join and aggregate with zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(df: DataFrame): Seq[ShuffleExchangeLike] = {
      df.collect()
      TestPlans.executedNodes(df)
        .collect { case s: ShuffleExchangeLike => s }
    }
    def mkDrop(seed: Int): String = {
      val root = Files.createTempDirectory(s"graft_v2spj$seed").toString
      Seq(1996, 1997, 1998).foreach { py =>
        writePart(root, s"py=$py/part.jsonl",
          (1 to 10).map(i => s"""{"k": ${seed * 1000 + py + i}}"""))
      }
      root
    }
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("py", IntegerType)))
    def read(root: String) = ExtendedJson.read(spark, schema, root,
      Map("partitionColumns" -> "py", "reportPartitioning" -> "true"))
    val dropA = mkDrop(1)
    val dropB = mkDrop(2)
    // GROUP BY the partition column: the layout already clusters by py,
    // so the final aggregate runs exchange-free on the key groups
    val agg = read(dropA).groupBy(col("py"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("s"))
    assert(agg.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((1996, 10), (1997, 10), (1998, 10)))
    assert(shuffles(agg).isEmpty,
      "a partition-key GROUP BY must not exchange")
    // co-partitioned JOIN: same layout both sides — zero exchange even
    // with broadcast off (the storage-partitioned join)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = read(dropA).groupBy(col("py")).agg(count(lit(1)).as("n_a"))
      val b = read(dropB).groupBy(col("py")).agg(sum(col("k")).as("s_b"))
      val joined = a.join(b, Seq("py"))
      assert(joined.collect().length == 3)
      assert(shuffles(joined).isEmpty,
        "co-partitioned drops must join with zero exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    // pruning the partition column away drops the report gracefully —
    // the query plans and answers as before
    val pruned = read(dropA).select(col("k")).filter(col("k") > 1000L)
    assert(pruned.collect().length == 30)
    // the non-reporting default presents NO partition keys (plans are
    // byte-identical to pre-feature)
    val plain = ExtendedJson.read(spark, schema, dropA,
      Map("partitionColumns" -> "py"))
      .groupBy(col("py")).agg(count(lit(1)).as("n"))
    assert(shuffles(plain).nonEmpty,
      "without the option the aggregate shuffles as before")

    // COMPOSITION with zone maps: a data-column predicate zone-prunes
    // whole files — emptying one side's key group entirely — while the
    // join still runs storage-partitioned (mismatched partition values
    // are pushed down, not an error) and the rows stay exact
    import graft.ingest.v2.ZoneMaps
    ZoneMaps.build(spark, dropA, schema, Seq("k"))
    ZoneMaps.build(spark, dropB, schema, Seq("k"))
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def readZ(root: String) = ExtendedJson.read(spark, schema, root,
        Map("partitionColumns" -> "py", "reportPartitioning" -> "true"))
      // dropA files hold k = 1000 + py + i (i in 1..10): k > 3007
      // exceeds py=1996's max (3006) and py=1997's max (3007), so zone
      // maps prune both files outright; only py=1998's tail row survives
      val left = readZ(dropA).filter(col("k") > 3007L)
        .groupBy(col("py")).agg(count(lit(1)).as("n_l"))
      val right = readZ(dropB)
        .groupBy(col("py")).agg(count(lit(1)).as("n_r"))
      val j = left.join(right, Seq("py"))
      assert(j.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSet == Set((1998, 1, 10)))
      assert(shuffles(j).isEmpty,
        "zone pruning inside key groups must not reintroduce exchanges")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
  }

  test("exchange-free ORDER BY: proven sorted bands plan no SortExec and no Exchange") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.ingest.v2.ZoneMaps
    import graft.plans.OrderedBandScanExec
    def nodes(df: DataFrame): Seq[SparkPlan] = TestPlans.executedNodes(df)
    // three strictly-disjoint sorted bands (the landJsonlRangeIndexed
    // shape, hand-laid for exact control)
    val root = Files.createTempDirectory("graft_v2oband").toString
    def band(name: String, range: Range): Unit =
      Files.write(Paths.get(root, name),
        (range.map(i => s"""{"k": $i, "s": "v$i"}""").mkString("\n") + "\n")
          .getBytes("UTF-8"))
    band("b0.jsonl", 1 to 40)
    band("b1.jsonl", 41 to 80)
    band("b2.jsonl", 81 to 120)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    ZoneMaps.build(spark, root, schema, Seq("k"))
    def src = ExtendedJson.read(spark, schema, root)
    // the global ASC sort IS the layout: OrderedBandScan plans, no
    // SortExec, no exchange of any kind, rows arrive globally ordered
    val sorted = src.orderBy(col("k"))
    val got = sorted.collect().map(_.getLong(0)).toSeq
    assert(got == (1L to 120L).toSeq, "rows must arrive globally sorted")
    val ns = nodes(sorted)
    assert(ns.exists(_.isInstanceOf[OrderedBandScanExec]), ns.map(_.nodeName))
    assert(!ns.exists(_.isInstanceOf[SortExec]), "no SortExec may plan")
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "no exchange may plan")
    // a pushed filter composes: removal never reorders
    val filtered = src.filter(col("k") > 50L).orderBy(col("k"))
    assert(filtered.collect().map(_.getLong(0)).toSeq == (51L to 120L).toSeq)
    assert(nodes(filtered).exists(_.isInstanceOf[OrderedBandScanExec]))
    // (the exec also claims RangePartitioning's clustered property —
    // honest only because of STRICT band disjointness; a groupBy over
    // the sorted frame can't observe it, since EliminateSorts removes
    // the Sort under an Aggregate and the ordinary scan plans instead)
    // DESC: bands read in REVERSE order + a per-band LOCAL sort — the
    // exchange (the 100 TB cost) is still gone
    val desc = src.orderBy(col("k").desc)
    assert(desc.collect().map(_.getLong(0)).toSeq == (120L to 1L by -1L).toSeq)
    val dns = nodes(desc)
    assert(dns.exists(_.isInstanceOf[OrderedBandScanExec]), dns.map(_.nodeName))
    assert(dns.collect { case se: SortExec => se }.forall(!_.global),
      "DESC needs only a LOCAL per-band sort")
    assert(dns.exists { case se: SortExec => !se.global; case _ => false })
    assert(!dns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the DESC sort must not exchange either")
    // tiebreak keys: local sort reorders WITHIN bands, first-key band
    // order still decides across bands — no exchange
    val tie = src.orderBy(col("k").asc, col("s").desc)
    assert(tie.collect().map(_.getLong(0)).toSeq == (1L to 120L).toSeq)
    val tns = nodes(tie)
    assert(tns.exists(_.isInstanceOf[OrderedBandScanExec]) &&
      !tns.exists(_.isInstanceOf[ShuffleExchangeLike]), tns.map(_.nodeName))
    // an UNSORTED file breaks the proof: falls through to the real sort
    val uroot = Files.createTempDirectory("graft_v2obandu").toString
    Files.write(Paths.get(uroot, "u.jsonl"),
      """{"k": 5, "s": "a"}
{"k": 2, "s": "b"}""".getBytes("UTF-8"))
    ZoneMaps.build(spark, uroot, schema, Seq("k"))
    val usorted = ExtendedJson.read(spark, schema, uroot).orderBy(col("k"))
    assert(usorted.collect().map(_.getLong(0)).toSeq == Seq(2L, 5L))
    assert(nodes(usorted).exists(_.isInstanceOf[SortExec]))
    // OVERLAPPING sorted files coalesce into one MERGE group: the k-way
    // merge read keeps the exchange-free, SORT-free plan and rows still
    // arrive globally ordered — duplicate keys across files included
    val oroot = Files.createTempDirectory("graft_v2obando").toString
    Files.write(Paths.get(oroot, "a.jsonl"),
      (1 to 20).map(i => s"""{"k": $i, "s": "x"}""").mkString("\n")
        .getBytes("UTF-8"))
    Files.write(Paths.get(oroot, "b.jsonl"),
      (10 to 30).map(i => s"""{"k": $i, "s": "y"}""").mkString("\n")
        .getBytes("UTF-8"))
    ZoneMaps.build(spark, oroot, schema, Seq("k"))
    val osorted = ExtendedJson.read(spark, schema, oroot).orderBy(col("k"))
    val orows = osorted.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(orows.length == 41)
    assert(orows.map(_._1).toSeq == orows.map(_._1).sortBy(identity).toSeq,
      "merged rows must arrive globally key-ordered")
    assert(orows.toSet ==
      ((1 to 20).map(i => (i.toLong, "x")) ++
        (10 to 30).map(i => (i.toLong, "y"))).toSet,
      "no duplicate-key row may be lost or doubled by the merge")
    val ons = nodes(osorted)
    assert(ons.exists(_.isInstanceOf[OrderedBandScanExec]), ons.map(_.nodeName))
    assert(!ons.exists(_.isInstanceOf[SortExec]) &&
      !ons.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "overlapping bands must merge-read, not re-sort or exchange")
  }

  test("range merge join: duplicate-key cross products, one-sided pruning, hint and unsorted refusals") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.broadcast
    import graft.ingest.v2.ZoneMaps
    import graft.plans.RangeMergeJoinExec
    def nodes(df: DataFrame): Seq[SparkPlan] = TestPlans.executedNodes(df)
    val lSchema = StructType(Seq(
      StructField("k", LongType), StructField("lv", StringType)))
    val rSchema = StructType(Seq(
      StructField("k", LongType), StructField("rv", StringType)))
    def write(root: String, name: String, rows: Seq[(Long, String)],
        v: String): Unit =
      Files.write(Paths.get(root, name),
        (rows.map { case (k, s) => s"""{"k": $k, "$v": "$s"}""" }
          .mkString("\n") + "\n").getBytes("UTF-8"))
    // left: L1 [1..10] with key 8 TWICE; L2 [20..30] has no right match.
    // right: R1 [5..12] with key 7 twice; R2 [40..50] has no left match.
    val lRoot = Files.createTempDirectory("graft_v2rmjl").toString
    val rRoot = Files.createTempDirectory("graft_v2rmjr").toString
    write(lRoot, "l1.jsonl",
      (1L to 10L).flatMap(k => if (k == 8) Seq(k -> "a8x", k -> "a8y")
        else Seq(k -> s"a$k")), "lv")
    write(lRoot, "l2.jsonl", (20L to 30L).map(k => k -> s"b$k"), "lv")
    write(rRoot, "r1.jsonl",
      (5L to 12L).flatMap(k => if (k == 7) Seq(k -> "c7x", k -> "c7y")
        else Seq(k -> s"c$k")), "rv")
    write(rRoot, "r2.jsonl", (40L to 50L).map(k => k -> s"d$k"), "rv")
    ZoneMaps.build(spark, lRoot, lSchema, Seq("k"))
    ZoneMaps.build(spark, rRoot, rSchema, Seq("k"))
    val l = ExtendedJson.read(spark, lSchema, lRoot)
    val r = ExtendedJson.read(spark, rSchema, rRoot)
    val joined = l.join(r, l("k") === r("k"))
      .select(l("k").as("k"), col("lv"), col("rv"))
    val rows = joined.collect().map(x =>
      (x.getLong(0), x.getString(1), x.getString(2)))
    // keys 5,6,9,10 join 1:1; key 7 joins 1x2; key 8 joins 2x1
    val expected =
      Seq(5L, 6L, 9L, 10L).map(k => (k, s"a$k", s"c$k")).toSet ++
        Set((7L, "a7", "c7x"), (7L, "a7", "c7y"),
          (8L, "a8x", "c8"), (8L, "a8y", "c8"))
    assert(rows.toSet == expected, rows.sortBy(_._1).mkString("\n"))
    assert(rows.map(_._1).toSeq == rows.map(_._1).sortBy(identity).toSeq,
      "join output must stream key-ordered")
    val ns = nodes(joined)
    val execs = ns.collect { case j: RangeMergeJoinExec => j }
    assert(execs.length == 1, ns.map(_.nodeName).mkString(", "))
    // one-sided key ranges never read: L2 and R2 are in NO partition
    val plannedFiles = execs.head.parts.flatMap(
      _.flatten.flatMap(_.files.flatten.map(_.file)))
    // basename match only: the random temp-dir suffix can contain
    // "l2"/"r2" as a substring (it did — a latent name flake)
    assert(!plannedFiles.exists(f => f.endsWith("l2.jsonl") ||
      f.endsWith("r2.jsonl")),
      s"one-sided bands must be pruned at plan time: $plannedFiles")
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // LEFT SEMI: every matching left row once (both a8 copies), zero
    // run buffering; L2 (left-only) is pruned like inner
    val semi = l.join(r, l("k") === r("k"), "left_semi")
    val semiRows = semi.collect().map(x => (x.getLong(0), x.getString(1)))
    assert(semiRows.toSet == Set((5L, "a5"), (6L, "a6"), (7L, "a7"),
      (8L, "a8x"), (8L, "a8y"), (9L, "a9"), (10L, "a10")))
    val semiExec = nodes(semi).collect { case j: RangeMergeJoinExec => j }
    assert(semiExec.length == 1 &&
      !semiExec.head.parts.flatMap(_.head).flatMap(_.files.flatten)
        .exists(_.file.endsWith("l2.jsonl")))
    // LEFT ANTI: the match-less left rows — INCLUDING all of the
    // left-only L2 component, which anti must KEEP, not prune
    val anti = l.join(r, l("k") === r("k"), "left_anti")
    val antiRows = anti.collect().map(x => (x.getLong(0), x.getString(1)))
    assert(antiRows.toSet ==
      ((1L to 4L).map(k => (k, s"a$k")) ++
        (20L to 30L).map(k => (k, s"b$k"))).toSet)
    val antiExec = nodes(anti).collect { case j: RangeMergeJoinExec => j }
    assert(antiExec.length == 1 &&
      antiExec.head.parts.flatMap(_.head).flatMap(_.files.flatten)
        .exists(_.file.endsWith("l2.jsonl")),
      "anti must keep the left-only component")
    assert(!nodes(anti).exists(_.isInstanceOf[ShuffleExchangeLike]))
    // LEFT OUTER: inner rows plus null-right rows for every match-less
    // left row (L2's right stream is simply empty)
    val outerJ = l.join(r, l("k") === r("k"), "left_outer")
      .select(l("k").as("k"), col("lv"), col("rv"))
    val outerRows = outerJ.collect().map(x =>
      (x.getLong(0), x.getString(1),
        if (x.isNullAt(2)) null else x.getString(2)))
    assert(outerRows.toSet ==
      expected.map { case (k, a, c) => (k, a, c: String) } ++
        ((1L to 4L).map(k => (k, s"a$k", null: String)) ++
          (20L to 30L).map(k => (k, s"b$k", null: String))).toSet)
    assert(nodes(outerJ).exists(_.isInstanceOf[RangeMergeJoinExec]))
    // a user hint must keep meaning what it says: broadcast wins
    val hinted = l.join(broadcast(r), l("k") === r("k"))
    assert(hinted.collect().length == rows.length)
    assert(!nodes(hinted).exists(_.isInstanceOf[RangeMergeJoinExec]))
    // an UNSORTED right file breaks the proof: ordinary join, same rows
    Files.write(Paths.get(rRoot, "r3.jsonl"),
      """{"k": 9, "rv": "z9"}
{"k": 5, "rv": "z5"}""".getBytes("UTF-8"))
    ZoneMaps.append(spark, rRoot, rSchema, Seq("k"), "t1")
    val fallback = l.join(r, l("k") === r("k"))
      .select(l("k").as("k"), col("lv"), col("rv"))
    val frows = fallback.collect().map(x =>
      (x.getLong(0), x.getString(1), x.getString(2)))
    assert(frows.toSet == expected ++ Set((9L, "a9", "z9"), (5L, "a5", "z5")))
    assert(!nodes(fallback).exists(_.isInstanceOf[RangeMergeJoinExec]),
      "an unsorted file must refuse to the ordinary join")
  }

  test("range-layout aggregation: key groupings one-stage; non-key, distinct, and option-off fall back") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.ingest.v2.ZoneMaps
    import graft.plans.OrderedBandScanExec
    def nodes(df: DataFrame): Seq[SparkPlan] = TestPlans.executedNodes(df)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("g", LongType), StructField("v", LongType)))
    // three disjoint sorted band files: k = i/10 repeats within files
    // (12 distinct keys, 10 rows each) and never straddles files
    val root = Files.createTempDirectory("graft_v2ragg").toString
    Seq(0 until 40, 40 until 80, 80 until 120).zipWithIndex.foreach {
      case (r, b) =>
        Files.write(Paths.get(root, s"b$b.jsonl"),
          (r.map(i => s"""{"k": ${i / 10}, "g": ${i % 2}, "v": $i}""")
            .mkString("\n") + "\n").getBytes("UTF-8"))
    }
    ZoneMaps.build(spark, root, schema, Seq("k"))
    def src(ra: Boolean) = ExtendedJson.read(spark, schema, root,
      Map("rangeAggregation" -> ra.toString))
    val expected = (0 until 120).groupBy(_ / 10)
      .map { case (k, is) => (k.toLong, is.size.toLong, is.map(_.toLong).sum) }
      .toSet
    // GROUP BY the band key: one stage, zero exchange
    val rollup = src(ra = true).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    assert(rollup.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == expected)
    val ns = nodes(rollup)
    assert(ns.exists(_.isInstanceOf[OrderedBandScanExec]) &&
      ns.count(_.isInstanceOf[HashAggregateExec]) == 2 &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      ns.map(_.nodeName).mkString(", "))
    // grouping by (key, more) still contains the key: still exchange-free
    val multi = src(ra = true).groupBy(col("k"), col("g"))
      .agg(sum(col("v")).as("s"))
    assert(multi.collect().length == 24)
    val mns = nodes(multi)
    assert(mns.exists(_.isInstanceOf[OrderedBandScanExec]) &&
      !mns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      mns.map(_.nodeName).mkString(", "))
    // NON-KEY grouping: equal g values straddle bands — the strategy
    // must fall back to the ordinary (exchanging) aggregation
    val byG = src(ra = true).groupBy(col("g")).agg(sum(col("v")).as("s"))
    assert(byG.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0 until 120).groupBy(_ % 2)
        .map { case (g, is) => (g.toLong, is.map(_.toLong).sum) }.toSet)
    assert(!nodes(byG).exists(_.isInstanceOf[OrderedBandScanExec]))
    // DISTINCT aggregates over ONE distinct set plan the one-stage
    // pipeline too: equal (key, g) pairs never straddle bands, so the
    // four-exec distinct plan's BOTH exchanges are gone — mixed with a
    // plain aggregate in the same GROUP BY
    val dist = src(ra = true).groupBy(col("k"))
      .agg(countDistinct(col("g")).as("nd"), sum(col("v")).as("s"))
    val dRows = dist.collect()
    assert(dRows.length == 12 && dRows.forall(_.getLong(1) == 2L))
    assert(dRows.map(r => (r.getLong(0), r.getLong(2))).toSet ==
      expected.map { case (k, _, s) => (k, s) })
    val dns = nodes(dist)
    assert(dns.exists(_.isInstanceOf[OrderedBandScanExec]) &&
      !dns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      dns.map(_.nodeName).mkString(", "))
    // TWO distinct sets rewrite to Expand in the optimizer and group by
    // (key, gid) — a non-key-only grouping extension the strategy still
    // accepts (key is IN the grouping); values must stay exact
    val dist2 = src(ra = true).groupBy(col("k"))
      .agg(countDistinct(col("g")).as("ndg"),
        countDistinct(col("v")).as("ndv"))
    assert(dist2.collect().forall(r =>
      r.getLong(1) == 2L && r.getLong(2) == 10L))
    // FLOAT distinct values normalize like Spark's own plan: 0.0 and
    // -0.0 dedup as ONE value, not two raw bit patterns
    val fRoot = Files.createTempDirectory("graft_v2raggf").toString
    Files.write(Paths.get(fRoot, "f0.jsonl"),
      """{"k": 1, "dv": 0.0}
        |{"k": 1, "dv": -0.0}
        |{"k": 1, "dv": 2.5}
        |{"k": 2, "dv": 1.0}
        |{"k": 2, "dv": 1.0}
        |{"k": 2, "dv": 3.0}
        |""".stripMargin.getBytes("UTF-8"))
    val fSchema = StructType(Seq(StructField("k", LongType),
      StructField("dv", DoubleType)))
    ZoneMaps.build(spark, fRoot, fSchema, Seq("k"))
    val fDist = ExtendedJson.read(spark, fSchema, fRoot,
      Map("rangeAggregation" -> "true"))
      .groupBy(col("k")).agg(countDistinct(col("dv")).as("nd"))
    val fRows = fDist.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fRows == Map(1L -> 2L, 2L -> 2L),
      s"float distinct must normalize signed zero and NaN: $fRows")
    assert(nodes(fDist).exists(_.isInstanceOf[OrderedBandScanExec]),
      "the normalized distinct must still take the one-stage band plan")
    // option OFF: identical rows through Spark's ordinary aggregation
    val off = src(ra = false).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    assert(off.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == expected)
    assert(!nodes(off).exists(_.isInstanceOf[OrderedBandScanExec]))
    // a pushed FILTER composes: zone pruning drops whole bands BEFORE
    // the aggregation, which stays exchange-free over the survivors
    val filtered = src(ra = true).filter(col("k") >= 8L)
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    assert(filtered.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      expected.collect { case (k, _, s) if k >= 8 => (k, s) })
    val fns = nodes(filtered)
    val fScan = fns.collectFirst { case o: OrderedBandScanExec => o }
    assert(fScan.exists(_.groups.length == 1),
      "the filter must zone-prune to the one surviving band: " +
        fScan.map(_.groups.length))
    assert(!fns.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // ORDER BY the grouped key composes for FREE: the aggregate's
    // RangePartitioning claim satisfies the sort's OrderedDistribution,
    // so the sorted rollup pays a local sort and ZERO exchange
    import org.apache.spark.sql.execution.SortExec
    val sortedRollup = src(ra = true).groupBy(col("k"))
      .agg(sum(col("v")).as("s")).orderBy(col("k"))
    val sr = sortedRollup.collect().map(_.getLong(0)).toSeq
    assert(sr == sr.sorted && sr.length == 12)
    val sns = nodes(sortedRollup)
    assert(sns.exists(_.isInstanceOf[OrderedBandScanExec]) &&
      !sns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      sns.map(_.nodeName).mkString(", "))
  }

  test("metadata answers win under rangeAggregation") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.ingest.v2.ZoneMaps
    import graft.plans.OrderedBandScanExec
    // three one-key files: k is constant per file, so the sidecar answers
    // GROUP BY k COUNT(*) without reading a line
    val root = Files.createTempDirectory("graft_v2rmeta").toString
    Seq(1 -> 4, 2 -> 3, 3 -> 5).foreach { case (k, n) =>
      Files.write(Paths.get(root, s"k$k.jsonl"),
        Seq.fill(n)(s"""{"k": $k}""").mkString("\n").getBytes("UTF-8"))
    }
    val schema = StructType(Seq(StructField("k", LongType)))
    ZoneMaps.build(spark, root, schema, Seq("k"))
    Seq(false, true).foreach { ra =>
      val df = ExtendedJson.read(spark, schema, root,
        Map("rangeAggregation" -> ra.toString))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 4L), (2L, 3L), (3L, 5L)))
      val nodes = TestPlans.executedNodes(df)
      val scans = nodes.collect { case b: BatchScanExec => b.scan }
      assert(scans.length == 1, nodes.map(_.nodeName).mkString(", "))
      assert(scans.head.description().contains("(complete, metadata-only)"),
        s"rangeAggregation=$ra: ${scans.head.description()}")
      assert(!nodes.exists(n => n.isInstanceOf[OrderedBandScanExec] ||
        n.isInstanceOf[BaseAggregateExec]), nodes.map(_.nodeName).mkString(", "))
    }
  }

  test("k-way merge read: partial overlap groups, DESC, and the merge-width refusal") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.ingest.v2.{ExtJsonScan, ZoneMaps}
    import graft.plans.OrderedBandScanExec
    def nodes(df: DataFrame): Seq[SparkPlan] = TestPlans.executedNodes(df)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    // A [1..20] and B [10..30] overlap; C [50..60] is strictly past both:
    // two groups — {A,B} merged, {C} sequential — in min order
    val root = Files.createTempDirectory("graft_v2merge").toString
    def land(name: String, range: Range, tag: String): Unit =
      Files.write(Paths.get(root, name),
        (range.map(i => s"""{"k": $i, "s": "$tag$i"}""").mkString("\n") + "\n")
          .getBytes("UTF-8"))
    land("a.jsonl", 1 to 20, "a")
    land("b.jsonl", 10 to 30, "b")
    land("c.jsonl", 50 to 60, "c")
    ZoneMaps.build(spark, root, schema, Seq("k"))
    def src = ExtendedJson.read(spark, schema, root)
    val sorted = src.orderBy(col("k"))
    val collected = sorted.collect().map(r => (r.getLong(0), r.getString(1)))
    val got = collected.map(_._1).toSeq
    assert(got == got.sorted && got.length == 52)
    val scans = nodes(sorted).collect { case o: OrderedBandScanExec => o }
    assert(scans.length == 1)
    assert(scans.head.groups.map(_.files.length) == Seq(2, 1),
      "A+B must merge in one group, C stays its own sequential band")
    // ties across the overlap: every payload must survive the merge
    val ties = collected.toSet
    assert((10 to 20).forall(i =>
      ties((i.toLong, s"a$i")) && ties((i.toLong, s"b$i"))))
    // DESC over an overlapping layout: groups reversed, in-group merge
    // is subsumed by the LOCAL sort — still no exchange
    val desc = src.orderBy(col("k").desc)
    assert(desc.collect().map(_.getLong(0)).toSeq == got.sorted.reverse)
    val dns = nodes(desc)
    assert(dns.exists(_.isInstanceOf[OrderedBandScanExec]))
    assert(dns.collect { case se: SortExec => se }.nonEmpty &&
      dns.collect { case se: SortExec => se }.forall(!_.global))
    assert(!dns.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // a group wider than MaxMergeWidth refuses: one task holding
    // hundreds of streams is the wrong trade — the ordinary sort plans
    val wroot = Files.createTempDirectory("graft_v2mergew").toString
    (0 to ExtJsonScan.MaxMergeWidth).foreach { i =>
      Files.write(Paths.get(wroot, f"w$i%03d.jsonl"),
        s"""{"k": 1, "s": "w$i"}
{"k": 1000, "s": "z$i"}""".getBytes("UTF-8"))
    }
    ZoneMaps.build(spark, wroot, schema, Seq("k"))
    val wide = ExtendedJson.read(spark, schema, wroot).orderBy(col("k"))
    assert(wide.collect().length == 2 * (ExtJsonScan.MaxMergeWidth + 1))
    assert(nodes(wide).exists(_.isInstanceOf[SortExec]),
      "an over-wide merge group must fall through to the real sort")
  }

  test("band running window: metadata vs computed prefixes, frames, DESC, nulls, fallbacks") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.expressions.Window
    import graft.ingest.v2.ZoneMaps
    import graft.plans.BandRunningWindowExec
    def nodes(df: DataFrame): Seq[SparkPlan] = TestPlans.executedNodes(df)
    def planStr(df: DataFrame): String =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan.toString
    def bandWindowed(df: DataFrame): Boolean = {
      // cached subtrees from other suites substitute InMemoryRelations
      // (with THEIR exchanges) into matching plans — measure ours
      spark.catalog.clearCache()
      val ns = nodes(df)
      ns.exists(_.isInstanceOf[BandRunningWindowExec]) &&
        !ns.exists(_.isInstanceOf[WindowExec]) &&
        !ns.exists(_.isInstanceOf[ShuffleExchangeLike])
    }
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("g", LongType), StructField("v", LongType),
      StructField("nv", LongType)))
    // three disjoint sorted band files; k = i/10 repeats WITHIN files and
    // never straddles them; v = i is unique and also sorted+disjoint; nv
    // is entirely null in the FIRST band (the all-null-file metadata edge)
    val root = Files.createTempDirectory("graft_v2rwin").toString
    Seq(0 until 40, 40 until 80, 80 until 120).zipWithIndex.foreach {
      case (r, b) =>
        Files.write(Paths.get(root, s"b$b.jsonl"),
          (r.map(i => s"""{"k": ${i / 10}, "g": ${i % 2}, "v": $i""" +
            (if (i < 40) "}" else s""", "nv": $i}"""))
            .mkString("\n") + "\n").getBytes("UTF-8"))
    }
    ZoneMaps.build(spark, root, schema, Seq("k", "v", "nv"))
    val src = ExtendedJson.read(spark, schema, root)
    val w = Window.orderBy(col("k"))
    // 1. METADATA prefixes: every total (rows, exact long sums incl. an
    // all-null band, min/max) derives from the sidecar — zero extra pass
    val meta = src.select(col("k"), col("v"),
      rank().over(w).as("rk"), count(lit(1)).over(w).as("rn"),
      sum(col("v")).over(w).as("sv"), max(col("v")).over(w).as("mv"),
      count(col("nv")).over(w).as("cnv"), sum(col("nv")).over(w).as("snv"))
    val rows = meta.collect()
    assert(rows.length == 120)
    assert(bandWindowed(meta) && planStr(meta).contains("prefix=metadata"))
    rows.foreach { r =>
      val k = r.getLong(0)
      val below = k * 10 // rows with smaller key
      val through = below + 10 // RANGE frame: the whole tie group
      assert(r.getInt(2) == below + 1, s"rank at $r")
      assert(r.getLong(3) == through, s"run count at $r")
      assert(r.getLong(4) == (0L until through).sum, s"run sum at $r")
      assert(r.getLong(5) == through - 1, s"run max at $r")
      val nnv = math.max(0L, through - 40L) // nv null for v < 40
      assert(r.getLong(6) == nnv, s"run non-null count at $r")
      if (nnv == 0L) assert(r.isNullAt(7), s"all-null running sum at $r")
      else assert(r.getLong(7) == (40L until through).sum, s"nv sum at $r")
    }
    // 2. a pushed keep-everything FILTER forfeits the metadata proof but
    // not the shape: one narrow totals pass, still zero exchange,
    // identical values
    val comp = src.filter(col("g") >= 0L).select(col("k"), col("v"),
      rank().over(w).as("rk"), sum(col("v")).over(w).as("sv"))
    val compRows = comp.collect()
    assert(compRows.length == 120)
    assert(bandWindowed(comp) && planStr(comp).contains("prefix=computed"))
    compRows.foreach { r =>
      assert(r.getInt(2) == r.getLong(0) * 10 + 1)
      assert(r.getLong(3) == (0L until (r.getLong(0) * 10 + 10)).sum)
    }
    // 3. explicit ROWS frame over the UNIQUE sorted key v: per-row
    // running values (v is also a proven band key, so the same layout
    // serves a different ORDER BY column)
    val wv = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rowsFrame = src.select(col("v"),
      sum(col("v")).over(wv).as("sv"), count(lit(1)).over(wv).as("rn"))
    val rfRows = rowsFrame.collect()
    assert(bandWindowed(rowsFrame))
    rfRows.foreach { r =>
      val v = r.getLong(0)
      assert(r.getLong(1) == (0L to v).sum, s"ROWS running sum at $r")
      assert(r.getLong(2) == v + 1, s"ROWS running count at $r")
    }
    // 4. DECIMAL running sum (cast input => expression, computed prefix)
    val dec = src.select(col("v"),
      sum(col("v").cast("decimal(20,2)")).over(w).as("ds"))
    assert(bandWindowed(dec) && planStr(dec).contains("prefix=computed"))
    dec.collect().foreach { r =>
      val v = r.getLong(0)
      val through = (v / 10) * 10 + 10
      assert(r.getDecimal(1) ==
        new java.math.BigDecimal((0L until through).sum).setScale(2),
        s"decimal running sum at $r")
    }
    // 4b. an alias SHADOWING an indexed column's name must never borrow
    // the real column's sidecar stats: the prefix refuses to metadata
    // (the shadow is not the scan's attribute) and the values follow the
    // SHADOW expression, not the column
    val shadow = src.select(col("k"), (col("k") * 0L + lit(3L)).as("v"))
      .select(col("k"), sum(col("v")).over(w).as("sv"))
    assert(bandWindowed(shadow) && planStr(shadow).contains("prefix=computed"),
      "a shadowed name must forfeit the metadata prefix")
    shadow.collect().foreach { r =>
      val through = (r.getLong(0) + 1) * 10
      assert(r.getLong(1) == 3L * through, s"shadowed running sum at $r")
    }
    // 5. DESC order: reversed bands + per-band local sort, zero exchange
    val wd = Window.orderBy(col("k").desc)
    val desc = src.select(col("k"), rank().over(wd).as("rk"),
      count(lit(1)).over(wd).as("rn"))
    val dRows = desc.collect()
    assert(bandWindowed(desc) && planStr(desc).contains("prefix=metadata"))
    dRows.foreach { r =>
      val k = r.getLong(0)
      assert(r.getInt(1) == (11 - k) * 10 + 1, s"DESC rank at $r")
      assert(r.getLong(2) == (12 - k) * 10, s"DESC run count at $r")
    }
    // 5b. lag(x, 1) — the global delta: previous-row value in window
    // order, null at the very first row, crossing band boundaries via
    // the previous band's last-row prefix. Ordered by the UNIQUE v so
    // tie assignment can't blur the expectation.
    val lagged = src.select(col("v"),
      lag(col("v"), 1).over(Window.orderBy(col("v"))).as("pv"))
    assert(bandWindowed(lagged) && planStr(lagged).contains("prefix=computed"))
    lagged.collect().foreach { r =>
      val v = r.getLong(0)
      if (v == 0L) assert(r.isNullAt(1), s"first-row lag at $r")
      else assert(r.getLong(1) == v - 1, s"lag at $r")
    }
    // 5c. PARTITION BY the band key: Spark's OWN WindowExec runs over
    // the band scan — FULL frame generality (here a sliding ROWS avg the
    // running family refuses) with zero exchange
    val pw = src.select(col("k"), col("v"),
      sum(col("v")).over(Window.partitionBy(col("k"))).as("ks"),
      avg(col("v")).over(Window.partitionBy(col("k")).orderBy(col("v"))
        .rowsBetween(-1, 1)).as("sl"))
    spark.catalog.clearCache()
    val pns = nodes(pw)
    assert(pns.exists(_.isInstanceOf[WindowExec]) &&
      pns.exists(n => n.nodeName.contains("OrderedBandScan")) &&
      !pns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      pns.map(_.nodeName).mkString(", "))
    pw.collect().foreach { r =>
      val k = r.getLong(0); val v = r.getLong(1)
      val group = (k * 10 until k * 10 + 10)
      assert(r.getLong(2) == group.sum, s"per-key sum at $r")
      val win = group.filter(x => math.abs(x - v) <= 1)
      assert(math.abs(r.getDouble(3) - win.sum.toDouble / win.size) < 1e-9,
        s"sliding avg at $r")
    }
    // 6. FALLBACKS: shapes the running decomposition cannot express plan
    // Spark's ordinary window (and stay correct) — non-band PARTITION
    // BY, huge offsets, unbounded-forward frames (sliding ROWS, bounded
    // RANGE frames BOTH directions, deep lead/lag, and constant
    // defaults are now SUPPORTED — WindowProps sweeps them
    // differentially)
    val fallbacks = Seq(
      src.select(col("k"), row_number().over(
        Window.partitionBy(col("g")).orderBy(col("k"))).as("x")),
      src.select(col("k"), sum(col("v")).over(
        Window.orderBy(col("k"))
          .rangeBetween(-1, Window.unboundedFollowing)).as("x")),
      src.select(col("k"), lag(col("v"), 100000).over(w).as("x")),
      src.select(col("k"), lead(col("v"), 100000).over(w).as("x")))
    fallbacks.foreach { df =>
      val ns = nodes(df)
      assert(!ns.exists(_.isInstanceOf[BandRunningWindowExec]),
        "unsupported window shapes must fall through untouched: " +
          ns.map(_.nodeName).mkString(", "))
      assert(df.collect().length == 120)
    }
    // dense_rank: the distinct-key prefix now comes from the v4
    // sidecar's exact per-file distinct counts — METADATA, zero passes
    // (single-file disjoint bands ordered by exactly the band key)
    val drDf = src.select(col("k"), dense_rank().over(w).as("x"))
    assert(bandWindowed(drDf) && planStr(drDf).contains("prefix=metadata"))
    // …but a TIEBREAK column in the order spec splits tie groups the
    // key-only count can't see: computed path, still band-windowed
    val drTie = src.select(col("k"), dense_rank().over(
      Window.orderBy(col("k"), col("g"))).as("x"))
    assert(bandWindowed(drTie) && planStr(drTie).contains("prefix=computed"))
    // each key holds g ∈ {0, 1}: distinct (k, g) tuples = 2 per key
    drTie.collect().groupBy(_.getLong(0)).foreach { case (k, rs) =>
      assert(rs.map(_.getInt(1)).distinct.sorted.toSeq ==
        Seq(2 * k.toInt + 1, 2 * k.toInt + 2),
        s"dense_rank tiebreak at k=$k")
    }
    drDf.collect().foreach(r => assert(r.getInt(1) == r.getLong(0) + 1,
      s"dense_rank at $r"))
    // 7. OVERLAPPING bands (the append lifecycle) window through the
    // k-way merge read: one merged group, prefixes still exact
    val root2 = Files.createTempDirectory("graft_v2rwin2").toString
    Files.write(Paths.get(root2, "a.jsonl"), (0 until 20)
      .map(i => s"""{"k": $i, "g": 0, "v": $i, "nv": $i}""")
      .mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root2, "b.jsonl"), (10 until 30)
      .map(i => s"""{"k": $i, "g": 0, "v": $i, "nv": $i}""")
      .mkString("\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, root2, schema, Seq("k"))
    val merged = ExtendedJson.read(spark, schema, root2)
      .select(col("k"), rank().over(w).as("rk"),
        count(lit(1)).over(w).as("rn"))
    val mRows = merged.collect()
    assert(mRows.length == 40)
    assert(bandWindowed(merged) && planStr(merged).contains("prefix=metadata"))
    // duplicate keys 10..19 appear twice; rank counts rows strictly below
    def rowsBelow(k: Long): Long =
      (0L until k).map(i => if (i >= 10 && i < 20) 2L else 1L).sum
    def tieSize(k: Long): Long = if (k >= 10 && k < 20) 2L else 1L
    mRows.foreach { r =>
      val k = r.getLong(0)
      assert(r.getInt(1) == rowsBelow(k) + 1, s"merged rank at $r")
      assert(r.getLong(2) == rowsBelow(k) + tieSize(k), s"merged count at $r")
    }
  }

  test("as-of layout: cross-band carry, pre-snapshot nulls, string payloads, shape refusals") {
    import org.apache.spark.sql.types._
    import graft.ops.AsOfJoin
    import graft.plans.BandRunningWindowExec
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2asof").toString + "/x"
    // events at every t in [0, 60); references ONLY at t = 0 and t = 40
    // with STRING payloads — band 0 carries across bands 1+ until the
    // second reference overrides mid-stream
    val events = (0 until 60).map(i => (i.toLong, i.toLong))
      .toDF("t", "eid")
    val refs = Seq((0L, "alpha"), (40L, "beta")).toDF("rt", "tag")
    AsOfJoin.landAsOfLayout(events, "t", refs, "rt", dir, numBands = 4)
    val out = AsOfJoin.layoutAsOf(spark, dir,
      StructType(Seq(StructField("eid", LongType))),
      StructType(Seq(StructField("tag", StringType))), LongType)
    val rows = out.collect()
    assert(rows.length == 60)
    assert(TestPlans.executedNodes(out)
      .exists(_.isInstanceOf[BandRunningWindowExec]))
    rows.foreach { r =>
      val t = r.getLong(0)
      val expect = if (t >= 40) "beta" else "alpha"
      assert(r.getString(2) == expect, s"carry at $r")
    }
    // events BEFORE the first reference carry null (left as-of)
    val dir2 = Files.createTempDirectory("graft_v2asof2").toString + "/x"
    AsOfJoin.landAsOfLayout(events, "t",
      Seq((30L, "late")).toDF("rt", "tag"), "rt", dir2, numBands = 3)
    val out2 = AsOfJoin.layoutAsOf(spark, dir2,
      StructType(Seq(StructField("eid", LongType))),
      StructType(Seq(StructField("tag", StringType))), LongType).collect()
    out2.foreach { r =>
      if (r.getLong(0) < 30) assert(r.isNullAt(2), s"pre-ref at $r")
      else assert(r.getString(2) == "late", s"post-ref at $r")
    }
    // the carry is ATOMIC: a later reference row with a NULL field must
    // not let the older row's value for that field leak through (per-
    // column carries would tear tuples into combinations no reference
    // row ever held)
    val dir3 = Files.createTempDirectory("graft_v2asof3").toString + "/x"
    val refs2 = Seq((0L, Some("alpha"), Some("one")),
      (40L, Some("gamma"), None))
      .toDF("rt", "tag", "sub")
    AsOfJoin.landAsOfLayout(events, "t", refs2, "rt", dir3, numBands = 4)
    val out3 = AsOfJoin.layoutAsOf(spark, dir3,
      StructType(Seq(StructField("eid", LongType))),
      StructType(Seq(StructField("tag", StringType),
        StructField("sub", StringType))), LongType).collect()
    out3.foreach { r =>
      val t = r.getLong(0)
      if (t >= 40) {
        assert(r.getString(2) == "gamma", s"atomic carry tag at $r")
        assert(r.isNullAt(3),
          s"the LATEST reference's null must not tear to the older value: $r")
      } else {
        assert(r.getString(2) == "alpha" && r.getString(3) == "one",
          s"pre-update carry at $r")
      }
    }
    // shape refusals: colliding payload names, reserved names, time-type
    // mismatch
    intercept[IllegalArgumentException] {
      AsOfJoin.landAsOfLayout(events, "t",
        Seq((1L, 2L)).toDF("rt", "eid"), "rt", dir2, 2)
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.landAsOfLayout(events.withColumnRenamed("eid", "asof_side"),
        "t", refs, "rt", dir2, 2)
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.landAsOfLayout(events, "t",
        Seq((1.5, "x")).toDF("rt", "tag"), "rt", dir2, 2)
    }
  }

  test("layout quantiles: endpoints, duplicate keys, and the unprovable refusals") {
    import graft.ingest.v2.ZoneMaps
    import graft.ops.Quantiles
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    // duplicate-dense keys (each repeats 10x) across three disjoint bands
    val root = Files.createTempDirectory("graft_v2lq").toString
    Seq(0 until 40, 40 until 80, 80 until 120).zipWithIndex.foreach {
      case (r, b) =>
        Files.write(Paths.get(root, s"b$b.jsonl"),
          (r.map(i => s"""{"k": ${i / 10}, "v": $i}""")
            .mkString("\n") + "\n").getBytes("UTF-8"))
    }
    ZoneMaps.build(spark, root, schema, Seq("k"))
    val src = ExtendedJson.read(spark, schema, root)
    // 120 rows of keys 0,0,…,11; position k = floor(q*119)
    val got = Quantiles.layoutQuantiles(src, "k",
      Seq(0.0, 0.25, 0.5, 0.75, 1.0))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    val sortedKeys = (0 until 120).map(_ / 10).sorted
    Seq(0.0, 0.25, 0.5, 0.75, 1.0).foreach { q =>
      val k = math.floor(q * 119).toInt
      assert(got(q) == sortedKeys(k).toLong, s"q=$q")
    }
    // a FILTERED frame could have dropped rows the counts include:
    // refuse rather than mislocate — BOTH the pushed form (the scan
    // refuses stats) and the RESIDUAL form (the plan-shape check
    // catches the Filter the scan never saw), and limits likewise
    intercept[IllegalArgumentException] {
      Quantiles.layoutQuantiles(src.filter(col("v") > 3L), "k", Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      Quantiles.layoutQuantiles(src.filter(col("v") % 7 === 3L), "k",
        Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      Quantiles.layoutQuantiles(src.limit(5), "k", Seq(0.5))
    }
    // an ALIASING Project can redefine or shadow keyCol — the filter/
    // sort below would run on the alias while band boundaries come from
    // the raw column's stats, silently mislocating every position:
    // refuse both the redefining and the shadowing shapes…
    intercept[IllegalArgumentException] {
      Quantiles.layoutQuantiles(
        src.select((col("k") * 2).as("k"), col("v")), "k", Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      Quantiles.layoutQuantiles(src.select(col("v").as("k")), "k", Seq(0.5))
    }
    // …while a pure column selection/permutation still peels
    assert(Quantiles.layoutQuantiles(src.select(col("v"), col("k")), "k",
      Seq(0.5)).collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
      .apply(0.5) == sortedKeys(59).toLong)
    // a non-document frame has no layout to prove: refuse
    intercept[IllegalArgumentException] {
      Quantiles.layoutQuantiles(
        spark.range(10).selectExpr("id AS k"), "k", Seq(0.5))
    }
    // out-of-range positions refuse up front
    intercept[IllegalArgumentException] {
      Quantiles.layoutQuantiles(src, "k", Seq(1.5))
    }
  }

  test("pre-generational flat sidecars are detected; their rows are ignored, never trusted") {
    import graft.ingest.v2.ZoneMaps
    // the detection below fires ZoneMaps' one-line operator warning by
    // design — silence just that logger so the suite's output stays
    // clean (the warning itself is the product behavior; the DETECTION
    // is what this test asserts)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.ingest.v2.ZoneMaps$", org.apache.logging.log4j.Level.ERROR)
    val root = Files.createTempDirectory("graft_v2v1").toString
    val schema = StructType(Seq(StructField("k", LongType)))
    Files.write(Paths.get(root, "a.jsonl"),
      (1 to 10).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
    ZoneMaps.build(spark, root, schema, Seq("k"))
    assert(!ZoneMaps.hasLegacyFlatSidecar(spark, root))
    // flatten: move the base part files up to the sidecar root — the v1
    // layout. Detection flips; the stats must NOT load (conservative:
    // the v1 row schema predates block/sum columns)
    val sidecar = new java.io.File(s"$root/${ZoneMaps.SidecarDir}")
    val base = new java.io.File(sidecar, "base")
    base.listFiles().filter(f => f.isFile && !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")).foreach { f =>
      assert(f.renameTo(new java.io.File(sidecar, f.getName)))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(base)
    assert(ZoneMaps.hasLegacyFlatSidecar(spark, root))
    assert(ZoneMaps.loadStats(spark, root, schema).isEmpty,
      "flat v1 rows must be ignored, not half-trusted")
  }
}
