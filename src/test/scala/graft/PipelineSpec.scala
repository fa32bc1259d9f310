package graft

import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.ExtendedJsonDirSource
import graft.pipelines.{DailyUpdatePipeline, MigrationPipeline, ResetPipeline, StreamingUpdatePipeline, TargetDb}
import graft.schema.{Specs, TableSpec}
import graft.sink.DerbyUpsertDialect

/** End-to-end §3 lifecycles against embedded Derby: full migration (users +
  * loanapplications — the SURVEY §7.2 slices), rerun idempotency, daily
  * incremental merge with PK reconciliation, the Q9 no-op guard, and S8
  * archive. Golden oracle: the reference's behaviors traced in SURVEY §3.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.spark

  private val url = "jdbc:derby:memory:graftpipe;create=true"
  private val db = TargetDb(url, DerbyUpsertDialect, TableSpec.derbyType,
    supportsIfNotExists = false, supportsForeignKeys = false)
  private val work = Files.createTempDirectory("graft_pipe").toString

  private def q(ident: String) = "\"" + ident + "\""

  private def queryAll(table: String, cols: String*): Seq[Seq[Any]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT ${cols.map(q).mkString(", ")} FROM ${q(table)} ORDER BY ${q("id")}")
      val out = Seq.newBuilder[Seq[Any]]
      while (rs.next()) out += cols.indices.map(i => rs.getObject(i + 1)).toSeq
      out.result()
    } finally conn.close()
  }

  private def writeJsonl(name: String, lines: Seq[String]): String = {
    val p = Paths.get(work, name)
    Files.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  private val usersDocs = Seq(
    """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b8c9"}, "username": "jadoe", "personalInformation": {"firstName": "Jane"}, "roles": ["admin"], "deleted": false, "dateCreated": {"$date": "2022-11-02T08:15:30Z"}}""",
    """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b8ca"}}""",
    """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b8cb", "$extra": null}, "username": "zed", "blocked": true}"""
      .replace(""", "$extra": null""", ""))

  test("users migration: end-to-end load with staging, contiguous ids in _id order") {
    MigrationPipeline.run(spark, Specs.users, writeJsonl("users.jsonl", usersDocs),
      db, staging = Some(s"$work/staging"))
    val rows = queryAll("users", "id", "_id", "username", "deleted", "date_created")
    assert(rows.map(_(0)) == Seq(1L, 2L, 3L))
    assert(rows.map(_(1)) == Seq("63e1f0a1b2c3d4e5f6a7b8c9",
      "63e1f0a1b2c3d4e5f6a7b8ca", "63e1f0a1b2c3d4e5f6a7b8cb"))
    assert(rows(0)(2) == "jadoe")
    assert(rows(1)(2) == null)
    assert(rows(0)(4).toString == "2022-11-02")
    assert(rows(1)(4).toString == "1990-01-01") // sentinel
    // staging file materialized (the inter-task data plane is real)
    assert(Files.list(Paths.get(s"$work/staging/users")).count() > 0)
  }

  test("runAll migrates specs in order, one file per collection") {
    val url6 = "jdbc:derby:memory:graftrunall;create=true"
    val db6 = TargetDb(url6, DerbyUpsertDialect, TableSpec.derbyType,
      supportsIfNotExists = false, supportsForeignKeys = false)
    // whole-corpus layout: <root>/<collection>.jsonl per spec
    val root = Files.createTempDirectory("graft_runall").toString
    Files.write(Paths.get(root, "users.jsonl"),
      String.join("\n", usersDocs: _*).getBytes)
    Files.write(Paths.get(root, "organizations.jsonl"),
      """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b900"}, "businessName": "Acme"}"""
        .getBytes)
    val counts = MigrationPipeline.runAll(
      spark, Seq(Specs.users, Specs.organizations()), root, db6)
    assert(counts == Map("users" -> 0L, "organizations" -> 0L))
    val conn = DriverManager.getConnection(url6)
    try {
      val st = conn.createStatement()
      val rsU = st.executeQuery("SELECT COUNT(*) FROM \"users\"")
      rsU.next()
      assert(rsU.getLong(1) == 3L) // users rows only — no cross-table bleed
      val rsO = st.executeQuery("SELECT COUNT(*) FROM \"organizations\"")
      rsO.next()
      assert(rsO.getLong(1) == 1L)
    } finally conn.close()
  }

  test("users migration rerun is a no-op diff (idempotency)") {
    val before = queryAll("users", "id", "_id", "username", "deleted")
    MigrationPipeline.run(spark, Specs.users, writeJsonl("users.jsonl", usersDocs),
      db, staging = Some(s"$work/staging"))
    assert(queryAll("users", "id", "_id", "username", "deleted") == before)
  }

  test("users daily: known keys keep ids, new keys extend contiguously, delta archived") {
    // delta: updates ...c9 (deleted flips true), inserts a new user ...cc
    val deltaDir = s"$work/daily/users.csv"
    val header = Specs.users.targetSchema.fieldNames.filterNot(_ == "id").mkString(",")
    val deltaCsv = Seq(header,
      "63e1f0a1b2c3d4e5f6a7b8c9,jadoe,,,,,,\"[\"\"admin\"\",\"\"ops\"\"]\",true,false,false,false,false,false,false,2022-11-02,2023-02-01",
      "63e1f0a1b2c3d4e5f6a7b8cc,newbie,,,,,,,false,false,false,false,false,false,false,2023-02-01,2023-02-01")
    Files.createDirectories(Paths.get(deltaDir))
    Files.write(Paths.get(deltaDir, "part-0.csv"), String.join("\n", deltaCsv: _*).getBytes)

    val applied = DailyUpdatePipeline.run(spark, Specs.users, deltaDir, db,
      s"$work/archive", stamp = "07_02_2023")
    assert(applied)
    val rows = queryAll("users", "id", "_id", "username", "deleted", "roles")
    assert(rows.length == 4)
    // known _id kept id=1 and took the update set (deleted, roles updated;
    // username NOT in the users update set -> unchanged)
    assert(rows(0)(0) == 1L && rows(0)(3) == true)
    assert(rows(0)(4) == """["admin","ops"]""")
    assert(rows(0)(2) == "jadoe")
    // new _id got max(id)+1 = 4
    assert(rows(3)(0) == 4L && rows(3)(1) == "63e1f0a1b2c3d4e5f6a7b8cc")
    // delta archived away under the date stamp (S8)
    assert(!Files.exists(Paths.get(deltaDir)))
    assert(Files.exists(Paths.get(s"$work/archive/users.csv_07_02_2023")))
  }

  test("archive with a secondary destination lands BOTH copies (dual-destination)") {
    // the reference's archive step keeps a local stamped copy AND uploads
    // to S3 before deleting the original (erase_copy_daily_tables.py:14-27)
    val src = s"$work/dual/users.csv"
    Files.createDirectories(Paths.get(src))
    Files.write(Paths.get(src, "part-0.csv"), "a,b\n1,2".getBytes)
    graft.ingest.Staging.archive(spark, src, s"$work/dual_arch", "09_02_2023",
      secondaryDir = Some(s"$work/dual_s3"))
    assert(!Files.exists(Paths.get(src)))
    val primary = Paths.get(s"$work/dual_arch/users.csv_09_02_2023")
    val secondary = Paths.get(s"$work/dual_s3/users.csv_09_02_2023")
    assert(Files.exists(primary) && Files.exists(secondary))
    assert(Files.readAllBytes(secondary.resolve("part-0.csv")).toSeq ==
      "a,b\n1,2".getBytes.toSeq)
  }

  test("daily with absent delta is a guarded no-op (Q9)") {
    val before = queryAll("users", "id", "_id")
    val applied = DailyUpdatePipeline.run(spark, Specs.users,
      s"$work/daily/nonexistent.csv", db, s"$work/archive", "08_02_2023")
    assert(!applied)
    assert(queryAll("users", "id", "_id") == before)
  }

  test("loanapplications migration: filter + unwind land one row per product, keyed on products") {
    val docs = Seq(
      """{"_id": {"$oid": "63e1faa10000000000000001"}, "businessDetails": {"name": "GV"}, "dateCreated": {"$date": "2022-12-15T00:00:00Z"}, "status": "review", "products": ["prod-a", "prod-b"]}""",
      """{"_id": {"$oid": "63e1faa10000000000000002"}, "dateCreated": {"$date": "2022-09-01T00:00:00Z"}, "products": ["p-old"]}""")
    MigrationPipeline.run(spark, Specs.loanapplications,
      writeJsonl("loanapplications.jsonl", docs), db)
    val rows = queryAll("loanapplications", "id", "_id", "products", "status")
    assert(rows.length == 2) // old doc filtered; 2 products unwound
    assert(rows.map(_(2)).toSet == Set("prod-a", "prod-b"))
    assert(rows.forall(_(1) == "63e1faa10000000000000001"))

    // upsert keyed on products: status flips for prod-a only
    val delta = Seq(
      """{"_id": {"$oid": "63e1faa10000000000000001"}, "businessDetails": {"name": "GV"}, "dateCreated": {"$date": "2022-12-15T00:00:00Z"}, "status": "approved", "products": ["prod-a"]}""")
    MigrationPipeline.run(spark, Specs.loanapplications,
      writeJsonl("loanapplications.jsonl", delta), db)
    val after = queryAll("loanapplications", "id", "_id", "products", "status")
    assert(after.find(_(2) == "prod-a").get(3) == "approved")
    assert(after.find(_(2) == "prod-b").get(3) == "review")
  }

  test("loanapplications: NEW product under an existing _id gets a fresh id (non-_id conflict key)") {
    // The landed table is unique on the unwound `products` value, NOT `_id`
    // (loan_applications_to_postgres_migration.py:52) — reconciling on _id
    // would join one incoming row to BOTH existing product rows and hand the
    // new product an already-used id (PK violation). Reconciling on the
    // conflict key must land prod-c with a fresh id instead.
    val delta = Seq(
      """{"_id": {"$oid": "63e1faa10000000000000001"}, "businessDetails": {"name": "GV"}, "dateCreated": {"$date": "2022-12-15T00:00:00Z"}, "status": "funded", "products": ["prod-a", "prod-c"]}""")
    MigrationPipeline.run(spark, Specs.loanapplications,
      writeJsonl("loanapplications.jsonl", delta), db)
    val rows = queryAll("loanapplications", "id", "_id", "products", "status")
    assert(rows.length == 3)
    assert(rows.map(_(0)).distinct.length == 3) // all PKs unique
    val byProduct = rows.map(r => r(2) -> r).toMap
    assert(byProduct("prod-c")(0) == 3L) // max(1,2) + 1
    assert(byProduct("prod-a")(3) == "funded") // update set applied
    assert(byProduct("prod-b")(3) == "review") // untouched
    // rerun idempotent
    MigrationPipeline.run(spark, Specs.loanapplications,
      writeJsonl("loanapplications.jsonl", delta), db)
    assert(queryAll("loanapplications", "id", "_id", "products", "status") == rows)
  }

  test("snapshot pipeline: full snapshots diff into insert/update/delete legs") {
    import graft.pipelines.SnapshotUpdatePipeline
    val url7 = "jdbc:derby:memory:graftsnap;create=true"
    // readPartitions = 3: the live-table reads run as parallel id-range
    // scans (day 1 additionally exercises the empty-table fallback)
    val db7 = TargetDb(url7, DerbyUpsertDialect, TableSpec.derbyType,
      supportsIfNotExists = false, supportsForeignKeys = false,
      readPartitions = 3)
    def queryAll7(cols: String*): Seq[Seq[Any]] = {
      val conn = DriverManager.getConnection(url7)
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT ${cols.map(q).mkString(", ")} FROM ${q("users")} ORDER BY ${q("id")}")
        val out = Seq.newBuilder[Seq[Any]]
        while (rs.next()) out += cols.indices.map(i => rs.getObject(i + 1)).toSeq
        out.result()
      } finally conn.close()
    }
    val header = Specs.users.targetSchema.fieldNames.filterNot(_ == "id").mkString(",")
    def row(id: String, user: String, deleted: String, roles: String = "admin") =
      s"63e1f0a1b2c3d4e5f6a7b8$id,$user,,,,,," +
        s"""\"[\"\"$roles\"\"]\",$deleted,false,false,false,false,false,false,2022-11-02,2023-01-01"""
    def drop(name: String, rows: Seq[String]): String = {
      val dir = Paths.get(work, "snap", name)
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-0.csv"),
        String.join("\n", (header +: rows): _*).getBytes)
      dir.toString
    }

    // day 1: cold start — every row is an insert against the empty table
    val day1 = drop("day1", Seq(
      row("c9", "jadoe", "false"), row("ca", "beth", "false"), row("cb", "zed", "false")))
    assert(SnapshotUpdatePipeline.run(spark, Specs.users, day1, db7) == (0L, 0L))
    assert(queryAll7("id", "_id").map(r => (r(0), r(1))) == Seq(
      (1L, "63e1f0a1b2c3d4e5f6a7b8c9"), (2L, "63e1f0a1b2c3d4e5f6a7b8ca"),
      (3L, "63e1f0a1b2c3d4e5f6a7b8cb")))

    // day 2: c9 flips deleted (update), ca vanishes (delete), cb unchanged,
    // cc appears (insert)
    val day2 = drop("day2", Seq(
      row("c9", "jadoe", "true"), row("cb", "zed", "false"),
      row("cc", "newbie", "false")))
    assert(SnapshotUpdatePipeline.run(spark, Specs.users, day2, db7) == (0L, 1L))
    val rows2 = queryAll7("id", "_id", "username", "deleted")
    assert(rows2.map(_(0)) == Seq(1L, 3L, 4L)) // ca's id 2 deleted, ids stable
    assert(rows2(0)(3) == true) // c9 took the update
    assert(rows2(1) == Seq(3L, "63e1f0a1b2c3d4e5f6a7b8cb", "zed", false)) // untouched
    assert(rows2(2)(1) == "63e1f0a1b2c3d4e5f6a7b8cc") // insert got max+1

    // replaying the same snapshot is a full no-op (idempotency)
    assert(SnapshotUpdatePipeline.run(spark, Specs.users, day2, db7) == (0L, 0L))
    assert(queryAll7("id", "_id", "username", "deleted") == rows2)

    // day 3: cb vanishes but deleteVanished=false retains it (append-only)
    val day3 = drop("day3", Seq(
      row("c9", "jadoe", "true"), row("cc", "newbie", "false")))
    assert(SnapshotUpdatePipeline.run(spark, Specs.users, day3, db7,
      deleteVanished = false) == (0L, 0L))
    assert(queryAll7("id", "_id", "username", "deleted") == rows2)
  }

  test("DocSource seam: runFrom with a directory source loads identically") {
    // S1 production form: the source is a config object; swapping
    // extended-JSON files for the Mongo connector changes no pipeline code
    val url4 = "jdbc:derby:memory:graftdocsrc;create=true"
    val db4 = TargetDb(url4, DerbyUpsertDialect, TableSpec.derbyType,
      supportsIfNotExists = false, supportsForeignKeys = false)
    Files.createDirectories(Paths.get(s"$work/corpus"))
    Files.write(Paths.get(s"$work/corpus/users.jsonl"),
      String.join("\n", usersDocs: _*).getBytes)
    MigrationPipeline.runFrom(spark, Specs.users,
      ExtendedJsonDirSource(s"$work/corpus"), db4)
    val conn = DriverManager.getConnection(url4)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT COUNT(*) FROM \"users\"")
      rs.next()
      assert(rs.getInt(1) == 3)
    } finally conn.close()
  }

  test("CSV staging round-trips embedded newlines, quotes, and commas") {
    // SURVEY §7.4.1 fidelity risk: the writer quotes these; the reader must
    // parse them back (multiLine), not split records at raw newlines
    import spark.implicits._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", StringType)))
    val df = Seq(("a", "line1\nline2"), ("b", "say \"hi\", ok"), ("c", null))
      .toDF("k", "v")
    graft.ingest.Staging.write(df, s"$work/tricky")
    val back = graft.ingest.Staging.read(spark, schema, s"$work/tricky")
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
  }

  test("JSONL ingest quarantines malformed lines, admits the rest") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = s"$work/jsonl_in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-000.jsonl"),
      Seq(
        """{"doc_id": 1, "text": "good row"}""",
        """{"doc_id": 2 "text": "missing comma"}""", // malformed
        """not json at all""",                       // malformed
        """{"doc_id": 3, "text": null}"""            // valid, null field
      ).mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val (good, bad) = graft.ingest.Staging.readJsonl(spark, schema, dir)
    assert(good.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    assert(good.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L))
    val quarantined = bad.collect().map(_.getString(0))
    assert(quarantined.length == 2)
    assert(quarantined.exists(_.contains("missing comma")))
    assert(quarantined.contains("not json at all"))
  }

  test("ORC columnar staging round-trips types exactly, no dialect in play") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", StringType),
      StructField("n", LongType), StructField("ok", BooleanType)))
    // the same hostile strings the CSV dialect needs quoting for are just
    // bytes here; null/bool/long come back type-identical, not re-inferred
    val df = Seq(
      ("a", "line1\nline2", 1L, true),
      ("b", "say \"hi\", ok", 2L, false),
      ("c", null, 3L, true))
      .toDF("k", "v", "n", "ok")
    graft.ingest.Staging.writeColumnar(df, s"$work/tricky_orc")
    val back = graft.ingest.Staging.readColumnar(spark, schema, s"$work/tricky_orc")
    assert(back.schema == schema)
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
  }

  test("canonical-form extended JSON dates decode via Bson.tsCanonical") {
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(Seq(
      StructField("_id", graft.schema.Bson.oidType),
      StructField("dateCreated", graft.schema.Bson.dateTypeCanonical)))
    val doc =
      """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b8c9"}, "dateCreated": {"$date": {"$numberLong": "1667376930000"}}}"""
    val row = graft.ingest.ExtendedJson.fromLines(spark, schema, Seq(doc))
      .select(
        graft.schema.Bson.oid(org.apache.spark.sql.functions.col("_id")).as("id"),
        graft.schema.Bson.tsCanonical(org.apache.spark.sql.functions.col("dateCreated"))
          .cast("string").as("ts"))
      .head()
    assert(row.getString(0) == "63e1f0a1b2c3d4e5f6a7b8c9")
    assert(row.getString(1) == "2022-11-02 08:15:30") // UTC session timezone
  }

  test("users pipeline skips a poison row end-to-end (spec-declared Permissive tolerance)") {
    // users is one of the reference's two skip-bad-rows tables
    // (user_table.py:116-121): a varchar-overflow row must be dropped while
    // the rest of the batch lands
    val url5 = "jdbc:derby:memory:graftpoison;create=true"
    val db5 = TargetDb(url5, DerbyUpsertDialect, TableSpec.derbyType,
      supportsIfNotExists = false, supportsForeignKeys = false)
    val poison = "x" * 5000 // overflows VARCHAR(4000)
    val docs = Seq(
      """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b901"}, "username": "good1"}""",
      s"""{"_id": {"$$oid": "63e1f0a1b2c3d4e5f6a7b902"}, "username": "$poison"}""",
      """{"_id": {"$oid": "63e1f0a1b2c3d4e5f6a7b903"}, "username": "good2"}""")
    MigrationPipeline.run(spark, Specs.users, writeJsonl("users_poison.jsonl", docs), db5)
    val conn = DriverManager.getConnection(url5)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT \"username\" FROM \"users\" ORDER BY \"id\"")
      val names = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
      assert(names == List("good1", "good2"))
    } finally conn.close()
  }

  test("schema reset erases landed tables; migration rebuilds from scratch (erase_schema)") {
    // the reference's fourth DAG (erase_schema.py:24-30): DROP SCHEMA
    // CASCADE + CREATE SCHEMA; Derby spelling = drop each spec table
    val url3 = "jdbc:derby:memory:graftreset;create=true"
    val db3 = TargetDb(url3, DerbyUpsertDialect, TableSpec.derbyType,
      supportsIfNotExists = false, supportsDropSchemaCascade = false, supportsForeignKeys = false)
    def count(): Int = {
      val conn = DriverManager.getConnection(url3)
      try {
        val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM \"users\"")
        rs.next(); rs.getInt(1)
      } finally conn.close()
    }
    MigrationPipeline.run(spark, Specs.users, writeJsonl("users.jsonl", usersDocs), db3)
    assert(count() == 3)
    ResetPipeline.run(db3, "APP", Specs.all())
    val conn = DriverManager.getConnection(url3)
    try intercept[java.sql.SQLException](
      conn.createStatement().executeQuery("SELECT COUNT(*) FROM \"users\""))
    finally conn.close()
    // resetting an already-reset schema is a no-op (absent tables swallowed)
    ResetPipeline.run(db3, "APP", Specs.all())
    // migration rebuilds from scratch
    MigrationPipeline.run(spark, Specs.users, writeJsonl("users.jsonl", usersDocs), db3)
    assert(count() == 3)
  }

  test("Postgres schema reset emits the reference's statement pair") {
    assert(ResetPipeline.resetStatements("public") == Seq(
      """DROP SCHEMA "public" CASCADE""", """CREATE SCHEMA "public""""))
  }

  test("streaming daily update: AvailableNow processes only new deltas, replay-safe") {
    val url6 = "jdbc:derby:memory:graftstream;create=true"
    val db6 = TargetDb(url6, DerbyUpsertDialect, TableSpec.derbyType,
      supportsIfNotExists = false, supportsForeignKeys = false)
    val streamDir = s"$work/stream_deltas"
    val ckpt = s"$work/stream_ckpt"
    Files.createDirectories(Paths.get(streamDir))
    val header = Specs.users.targetSchema.fieldNames.filterNot(_ == "id").mkString(",")
    def writeDelta(name: String, rows: String*): Unit =
      Files.write(Paths.get(streamDir, name),
        String.join("\n", (header +: rows): _*).getBytes)
    def count(): Int = {
      val conn = DriverManager.getConnection(url6)
      try {
        val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM \"users\"")
        rs.next(); rs.getInt(1)
      } finally conn.close()
    }

    writeDelta("d1.csv",
      "63e1f0a1b2c3d4e5f6a7c001,s1,,,,,,,false,false,false,false,false,false,false,2023-02-01,2023-02-01",
      "63e1f0a1b2c3d4e5f6a7c002,s2,,,,,,,false,false,false,false,false,false,false,2023-02-01,2023-02-01")
    StreamingUpdatePipeline.run(spark, Specs.users, streamDir, db6, ckpt)
    assert(count() == 2)

    // rerun with nothing new: the checkpoint already covers d1 — no change
    StreamingUpdatePipeline.run(spark, Specs.users, streamDir, db6, ckpt)
    assert(count() == 2)

    // a second drop arrives: one new user + an update to s1 (deleted flips)
    writeDelta("d2.csv",
      "63e1f0a1b2c3d4e5f6a7c001,s1,,,,,,,true,false,false,false,false,false,false,2023-02-01,2023-02-02",
      "63e1f0a1b2c3d4e5f6a7c003,s3,,,,,,,false,false,false,false,false,false,false,2023-02-02,2023-02-02")
    StreamingUpdatePipeline.run(spark, Specs.users, streamDir, db6, ckpt)
    assert(count() == 3)
    val conn = DriverManager.getConnection(url6)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT \"deleted\" FROM \"users\" WHERE \"_id\" = '63e1f0a1b2c3d4e5f6a7c001'")
      rs.next()
      assert(rs.getBoolean(1)) // update set applied through the stream
    } finally conn.close()

    // a delta row with a QUOTED EMBEDDED NEWLINE (RFC-4180) must land
    // intact — the streaming reader shares Staging.readOptions (multiLine),
    // without which the record is split at the raw newline and corrupted
    writeDelta("d3.csv",
      "63e1f0a1b2c3d4e5f6a7c004,s4,\"line one\nline two\",,,,,," +
        "false,false,false,false,false,false,false,2023-02-03,2023-02-03")
    StreamingUpdatePipeline.run(spark, Specs.users, streamDir, db6, ckpt)
    assert(count() == 4)
    val conn2 = DriverManager.getConnection(url6)
    try {
      val rs = conn2.createStatement().executeQuery(
        "SELECT \"first_name\" FROM \"users\" WHERE \"_id\" = '63e1f0a1b2c3d4e5f6a7c004'")
      rs.next()
      assert(rs.getString(1) == "line one\nline two")
    } finally conn2.close()
  }

  test("streaming IVF ingest: checkpointed batches, drift gate, replay-idempotent layout") {
    import org.apache.spark.sql.functions.{col, transform, lit}
    import spark.implicits._
    import graft.ops.Similarity
    import graft.pipelines.StreamingIvfIngest
    val rnd = new scala.util.Random(31)
    val centers = Seq.fill(10)(Array.fill(16)(rnd.nextGaussian()))
    val corpus = (for {
      (c, ci) <- centers.zipWithIndex; p <- 0 until 20
    } yield ((ci * 20 + p).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, lloydIters = 1)
    val batchDir = s"$work/ivf_batches"
    val invDir = s"$work/ivf_inverted"
    val ckpt = s"$work/ivf_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    val schema = corpus.schema

    // batch 1: in-distribution ×2 copies (one per cluster) — gate quiet
    corpus.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 5000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .coalesce(1).write.parquet(s"$batchDir/b1")
    val s1 = StreamingIvfIngest.run(spark, index, batchDir, schema,
      "vec_id", "embedding", invDir, ckpt)
    assert(s1.batches == 1L && !s1.rebuildFlagged, s1.toString)
    assert(spark.read.parquet(invDir).count() == 10)

    // rerun with nothing new: checkpoint covers b1 — no batch, no rows
    val s2 = StreamingIvfIngest.run(spark, index, batchDir, schema,
      "vec_id", "embedding", invDir, ckpt)
    assert(s2.batches == 0L && spark.read.parquet(invDir).count() == 10)

    // the landed inverted file is queryable: each source vector's ×2 copy
    // is its exact-cosine-1 nearest neighbor in its own cell
    val queries = corpus.filter(col("vec_id") % 20 === 0)
    val res = Similarity.ivfTopKWithAssigned(index, queries,
      spark.read.parquet(invDir), "vec_id", "embedding", k = 1, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(res == (0 until 10).map(i => (i * 20L, i * 20L + 5000L)).toSet)

    // batch 2: alien isotropic vectors — processed incrementally, gate trips
    Seq.tabulate(50)(i => ((9000 + i).toLong,
      Array.fill(16)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$batchDir/b2")
    val s3 = StreamingIvfIngest.run(spark, index, batchDir, schema,
      "vec_id", "embedding", invDir, ckpt)
    assert(s3.batches == 1L && s3.rebuildFlagged, s3.toString)
    assert(s3.worstDrift.exists(d =>
      d.batchScoreMill.get < d.buildScoreMill.get))
    assert(spark.read.parquet(invDir).count() == 60)

    // checkpoint loss: a fresh checkpoint re-offers every file with batch
    // ids restarting at 0 — the run-id namespace must land them beside,
    // never over, the first run's data
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val s4 = StreamingIvfIngest.run(spark, index, batchDir, schema,
      "vec_id", "embedding", invDir, ckpt)
    assert(s4.batches >= 1L)
    assert(spark.read.parquet(invDir).count() == 120,
      "fresh-checkpoint run overwrote the previous run's batches")

    // --- compaction: fold the CURRENT checkpoint's committed batches into
    // the canonical cell-partitioned layout ---
    val compDir = s"$work/ivf_compacted"
    val c1 = StreamingIvfIngest.compact(spark, invDir, compDir, ckpt).get
    // only the current run folds (60 rows); the stale first run's batches
    // carry no commit evidence and stay untouched on disk
    val compacted = StreamingIvfIngest.loadCompacted(spark, compDir)
    assert(compacted.count() == 60)
    assert(spark.read.parquet(invDir).count() == 60,
      "the stale run's 60 rows must remain after the current run folds out")
    // the compacted corpus answers queries identically: every source
    // vector's ×2 copy is still its exact nearest neighbor
    val resC = Similarity.ivfTopKWithAssigned(index, queries, compacted,
      "vec_id", "embedding", k = 1, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(resC == (0 until 10).map(i => (i * 20L, i * 20L + 5000L)).toSet)
    // bounded file count: one shuffle on cell → each cell is ONE file,
    // however many micro-batches fed it
    val genDir = new java.io.File(c1.path)
    val perCell = genDir.listFiles().filter(_.getName.startsWith("cell="))
    assert(perCell.nonEmpty)
    assert(perCell.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    // re-compacting with nothing new is a no-op on the same generation
    val c2 = StreamingIvfIngest.compact(spark, invDir, compDir, ckpt).get
    assert(c2.foldedBatches == 0L && c2.generation == c1.generation)

    // a further ingest + compact folds the NEW batch INTO the previous
    // generation: gen advances, superseded gen is deleted, rows accrete
    corpus.filter(col("vec_id") % 20 === 1)
      .select((col("vec_id") + 7000L).as("vec_id"), col("embedding"))
      .coalesce(1).write.parquet(s"$batchDir/b3")
    val s5 = StreamingIvfIngest.run(spark, index, batchDir, schema,
      "vec_id", "embedding", invDir, ckpt)
    assert(s5.batches == 1L)
    val c3 = StreamingIvfIngest.compact(spark, invDir, compDir, ckpt).get
    assert(c3.generation > c1.generation)
    assert(StreamingIvfIngest.loadCompacted(spark, compDir).count() == 70)
    assert(!new java.io.File(c1.path).exists(),
      "superseded generation must be removed")
  }

  test("streaming PQ encode-append: checkpointed, replay-idempotent, folds into searchable codes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.ops.{ProductQuantize, Similarity}
    import graft.pipelines.{StreamingIvfIngest, StreamingPqIngest}
    val rnd = new scala.util.Random(41)
    val centers = Seq.fill(6)(Array.fill(16)(rnd.nextGaussian()))
    val corpus = (for {
      (c, ci) <- centers.zipWithIndex; p <- 0 until 20
    } yield ((ci * 20 + p).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 6, lloydIters = 1)
    val cb = ProductQuantize.train(corpus, "vec_id", "embedding", 16,
      m = 4, k = 4, iters = 1)
    val batchDir = s"$work/pq_batches"
    val codesDir = s"$work/pq_codes"
    val ckpt = s"$work/pq_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    def codeRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Seq[Int])] =
      df.select(col("vec_id"), col("cell").cast("int"), col("code"))
        .as[(Long, Int, Seq[Int])].collect().toSet

    // batch 1: exact copies of one vector per cluster at fresh ids —
    // in-distribution, gate quiet
    val late = corpus.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    late.coalesce(1).write.parquet(s"$batchDir/b1")
    val s1 = StreamingPqIngest.run(spark, index, cb, batchDir, corpus.schema,
      "vec_id", "embedding", codesDir, ckpt)
    assert(s1.batches == 1L && !s1.rebuildFlagged, s1.toString)
    // streamed rows are ROW-IDENTICAL to a direct encode of the batch —
    // search over them is therefore identical by construction
    val direct = codeRows(ProductQuantize.encode(
      late, "vec_id", "embedding", index, cb))
    assert(codeRows(spark.read.parquet(codesDir)) == direct)

    // rerun with nothing new: the checkpoint covers b1
    val s2 = StreamingPqIngest.run(spark, index, cb, batchDir, corpus.schema,
      "vec_id", "embedding", codesDir, ckpt)
    assert(s2.batches == 0L)
    assert(codeRows(spark.read.parquet(codesDir)) == direct)

    // the float ingest's compaction machinery folds the identical layout
    val compDir = s"$work/pq_compacted"
    val c1 = StreamingIvfIngest.compact(spark, codesDir, compDir, ckpt).get
    assert(c1.foldedBatches == 1L)
    val folded = StreamingIvfIngest.loadCompacted(spark, compDir)
    assert(codeRows(folded) == direct)
    // and the folded codes drop into the search as an encoded side:
    // unioned with the base encode, every planted copy is findable
    val baseEnc = ProductQuantize.encode(
      corpus, "vec_id", "embedding", index, cb)
    val res = ProductQuantize.ivfPqTopK(index, cb,
        corpus.filter(col("vec_id") % 20 === 0),
        baseEnc.unionByName(folded.select(col("vec_id"),
          col("cell").cast("int").as("cell"), col("code"))),
        "vec_id", "embedding", topK = 20, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((0 until 6).forall(i => res.contains((i * 20L, i * 20L + 5000L))),
      s"streamed copies missing from the probed top-k: $res")

    // batch 2: alien isotropic vectors — lands incrementally, gate trips
    Seq.tabulate(40)(i => ((9000 + i).toLong,
      Array.fill(16)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$batchDir/b2")
    val s3 = StreamingPqIngest.run(spark, index, cb, batchDir, corpus.schema,
      "vec_id", "embedding", codesDir, ckpt)
    assert(s3.batches == 1L && s3.rebuildFlagged, s3.toString)
  }

  test("compaction never re-folds a batch already inside a generation") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.ops.Similarity
    import graft.pipelines.StreamingIvfIngest
    val rnd = new scala.util.Random(77)
    val corpus = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 2)
    val batchDir = s"$work/cmp_batches"
    val invDir = s"$work/cmp_inverted"
    val compDir = s"$work/cmp_compacted"
    val ckpt = s"$work/cmp_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    val schema = corpus.schema
    corpus.limit(10).coalesce(1).write.parquet(s"$batchDir/b1")
    StreamingIvfIngest.run(spark, index, batchDir, schema,
      "vec_id", "embedding", invDir, ckpt)
    // stash batch 0's dir, compact, then RESTORE it — simulating a crash
    // between the generation write and the pending-dir cleanup
    val runDir = new java.io.File(invDir).listFiles()
      .find(_.getName.startsWith("run=")).get
    val b0 = new java.io.File(runDir, "batch=0")
    val stash = new java.io.File(s"$work/cmp_stash")
    org.apache.commons.io.FileUtils.copyDirectory(b0, stash)
    StreamingIvfIngest.compact(spark, invDir, compDir, ckpt)
    org.apache.commons.io.FileUtils.copyDirectory(stash, b0)
    // a new committed batch arrives; the next compact must fold ONLY it
    corpus.filter(col("vec_id") >= 10).limit(5)
      .select((col("vec_id") + 100L).as("vec_id"), col("embedding"))
      .coalesce(1).write.parquet(s"$batchDir/b2")
    StreamingIvfIngest.run(spark, index, batchDir, schema,
      "vec_id", "embedding", invDir, ckpt)
    StreamingIvfIngest.compact(spark, invDir, compDir, ckpt)
    val rows = StreamingIvfIngest.loadCompacted(spark, compDir)
      .select("vec_id").as[Long].collect().toSeq
    assert(rows.size == 15, s"re-folded a covered batch: ${rows.size} rows")
    assert(rows.distinct.size == 15)
    assert(!b0.exists(), "the leftover covered batch dir must be cleaned up")
  }

  test("IVF compaction crashed inside its commit folds each batch exactly once on rerun") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.ops.Similarity
    import graft.pipelines.StreamingIvfIngest
    val rnd = new scala.util.Random(78)
    val corpus = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 2)
    val batchDir = s"$work/tc_batches"
    val invDir = s"$work/tc_inverted"
    val compDir = s"$work/tc_compacted"
    val ckpt = s"$work/tc_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    def ingest(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$batchDir/$name")
      StreamingIvfIngest.run(spark, index, batchDir, corpus.schema,
        "vec_id", "embedding", invDir, ckpt)
      ()
    }
    def ids(): Seq[Long] = StreamingIvfIngest.loadCompacted(spark, compDir)
      .select("vec_id").as[Long].collect().toSeq
    ingest(corpus.limit(10), "b1")
    assert(StreamingIvfIngest.compact(spark, invDir, compDir, ckpt).get
      .foldedBatches == 1L)
    ingest(corpus.filter(col("vec_id") >= 10).limit(5)
      .select((col("vec_id") + 100L).as("vec_id"), col("embedding")), "b2")
    // the next generation's data lands, its manifest write dies midway
    CrashFs.install(spark.sparkContext.hadoopConfiguration)
    intercept[java.io.IOException](CrashFs.armed(".*_folded.*")(
      StreamingIvfIngest.compact(spark, CrashFs.path(invDir),
        CrashFs.path(compDir), CrashFs.path(ckpt))))
    assert(ids().size == 10, "readers must still see the committed generation")
    val c = StreamingIvfIngest.compact(spark, invDir, compDir, ckpt).get
    assert(c.foldedBatches == 1L)
    val rows = ids()
    assert(rows.size == 15 && rows.distinct.size == 15,
      s"${rows.size} rows over ${rows.distinct.size} ids")
    assert(StreamingIvfIngest.compact(spark, invDir, compDir, ckpt)
      .exists(n => n.foldedBatches == 0L && n.generation == c.generation))
  }

  test("an empty run-id marker is refused, never read as one shared namespace") {
    import graft.pipelines.StreamingIvfIngest
    val ckpt = s"$work/em_ckpt"
    Files.createDirectories(Paths.get(ckpt))
    Files.write(Paths.get(ckpt, "_graft_run_id"), Array.emptyByteArray)
    val e = intercept[IllegalArgumentException](StreamingIvfIngest.compact(
      spark, s"$work/em_inverted", s"$work/em_compacted", ckpt))
    assert(e.getMessage.contains("empty run-id marker"), e.getMessage)
    // a starter that loses the creation race keeps the winner's id: the
    // marker commit never replaces, and leaves no temp file behind
    val fresh = new org.apache.hadoop.fs.Path(s"$work/em_ckpt2", "_graft_run_id")
    val fs = fresh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.core.Generations.commitText(fs, fresh, "first"))
    assert(!graft.core.Generations.commitText(fs, fresh, "second"))
    assert(graft.core.Generations.readText(fs, fresh).contains("first"))
    assert(fs.listStatus(fresh.getParent).map(_.getPath.getName)
      .forall(n => !n.endsWith(".tmp")))
  }

  test("an IVF run root folded before generations carried manifests stays readable, never folded over") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.ops.Similarity
    import graft.pipelines.StreamingIvfIngest
    val rnd = new scala.util.Random(79)
    val corpus = Seq.tabulate(30)(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 2)
    val batchDir = s"$work/ol_batches"
    val invDir = s"$work/ol_inverted"
    val compDir = s"$work/ol_compacted"
    val ckpt = s"$work/ol_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    def ingest(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$batchDir/$name")
      StreamingIvfIngest.run(spark, index, batchDir, corpus.schema,
        "vec_id", "embedding", invDir, ckpt)
      ()
    }
    def ids(): Seq[Long] = StreamingIvfIngest.loadCompacted(spark, compDir)
      .select("vec_id").as[Long].collect().toSeq
    ingest(corpus.limit(10), "b1")
    // the older fold: batch 0 rewritten as `gen=<highest batch id>` (done
    // once Spark's _SUCCESS lands; no manifest, no format marker), then
    // the batch dir deleted
    val run = new java.io.File(invDir).listFiles()
      .find(_.getName.startsWith("run=")).get.getName
    val oldGen = new java.io.File(s"$compDir/$run/gen=0")
    spark.read.parquet(s"$invDir/$run/batch=0").repartition(col("cell"))
      .write.partitionBy("cell").parquet(oldGen.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$invDir/$run/batch=0"))
    ingest(corpus.filter(col("vec_id") >= 10).limit(5), "b2")
    assert(ids().sorted == (0L until 10L), "the older generation must stay readable")
    val e = intercept[IllegalArgumentException](
      StreamingIvfIngest.compact(spark, invDir, compDir, ckpt))
    assert(e.getMessage.contains("older layout"), e.getMessage)
    assert(oldGen.exists() && new java.io.File(s"$invDir/$run/batch=1").exists(),
      "a refused fold must delete nothing")
    assert(ids().sorted == (0L until 10L))
  }

  test("streaming near-dup ingest: intra-batch + vs-history rejection, incremental index") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.pipelines.StreamingNearDupIngest
    val batchDir = s"$work/nd_batches"
    val idxDir = s"$work/nd_index"
    val accDir = s"$work/nd_accepted"
    val ckpt = s"$work/nd_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema

    // batch 1: two distinct docs + an intra-batch near-dup of the first
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "spark plans scans joins aggregates and shuffles data well"),
      (3L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b1")
    val s1 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt)
    assert(s1 == StreamingNearDupIngest.Summary(1L, 2L, 1L), s1.toString)
    assert(StreamingNearDupIngest.loadAccepted(spark, accDir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))

    // rerun with nothing new: checkpoint covers b1 — no batch, no change
    val s2 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt)
    assert(s2.batches == 0L)

    // batch 2: a history near-dup of doc 2 (rejected WITHOUT re-reading
    // history text — only the saved postings index) + one genuinely new
    Seq(
      (10L, "spark plans scans joins aggregates and shuffles data well"),
      (11L, "an entirely different subject matter appears in this line"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b2")
    val s3 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt)
    assert(s3 == StreamingNearDupIngest.Summary(1L, 1L, 1L), s3.toString)
    assert(StreamingNearDupIngest.loadAccepted(spark, accDir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))

    // lost checkpoint: every file re-offers under a fresh run id — the
    // old run's index rows are HISTORY, so every re-offered doc is a
    // near-dup of its own previous acceptance and the accepted corpus
    // gains nothing (the incremental-dedup semantics a re-ingest wants)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val s4 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt)
    assert(s4.accepted == 0L && s4.rejected == 5L, s4.toString)
    assert(StreamingNearDupIngest.loadAccepted(spark, accDir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))
  }

  test("streaming near-dup ingest with zoneCols: the accepted corpus is zone-skippable batch-by-batch") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import spark.implicits._
    import graft.pipelines.StreamingNearDupIngest
    val batchDir = s"$work/ndz_batches"
    val idxDir = s"$work/ndz_index"
    val accDir = s"$work/ndz_accepted"
    val ckpt = s"$work/ndz_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def ingest() = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt,
      zoneCols = Seq("doc_id"))
    // two id-banded micro-batches of mutually distinct documents
    Seq((1L, "alpha bravo charlie delta echo foxtrot golf"),
      (2L, "hotel india juliet kilo lima mike november"),
      (3L, "oscar papa quebec romeo sierra tango uniform"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b1")
    assert(ingest().accepted == 3L)
    Seq((100L, "victor whiskey xray yankee zulu zero one"),
      (101L, "two three four five six seven eight"),
      (102L, "nine ten eleven twelve thirteen fourteen fifteen"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b2")
    assert(ingest().accepted == 3L)
    // the landings wrote the sidecar IN the foreachBatch: one add_
    // generation per (run, batch), no build ever ran
    val sidecar = new java.io.File(
      s"$accDir/${graft.ingest.v2.ZoneMaps.SidecarDir}")
    val gens = sidecar.listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("add_")).toSeq
    assert(gens.size == 2 && gens.forall(_.matches("add_[0-9a-f]+_b\\d")),
      gens.mkString(", "))
    // a zone-pruned read over the accepted JSONL corpus plans ONLY the
    // matching batch's files — streaming-built means skippable, not
    // "unskippable until someone remembers a full rebuild"
    val readSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val acc = StreamingNearDupIngest.loadAcceptedJsonl(spark, readSchema,
      accDir)
    assert(acc.count() == 6L)
    val hi = acc.filter(col("doc_id") >= 100L)
    assert(hi.select("doc_id").as[Long].collect().toSet ==
      Set(100L, 101L, 102L))
    val scans = hi.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    val planned = scans.head.scan
      .asInstanceOf[graft.ingest.v2.ExtJsonScan].planInputPartitions()
      .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition].file)
    assert(planned.nonEmpty && planned.forall(_.contains("batch=1")),
      s"only the matching batch's files may plan: ${planned.mkString(", ")}")
    // the per-batch manifests still land (text format) beside the shards
    assert(new java.io.File(sidecar.getParentFile.listFiles()
      .filter(_.getName.startsWith("run=")).head,
      "batch=0/_graft_manifest.json").getParentFile.listFiles()
      .exists(_.getName == "_graft_manifest.json"))
    // a third batch under zoneMaxGenerations=1 SELF-COMPACTS the sidecar
    // (one add_ per micro-batch would otherwise grow forever) — and the
    // folded stats keep pruning
    Seq((200L, "sixteen seventeen eighteen nineteen twenty twentyone twentytwo"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b3")
    val s3 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt,
      zoneCols = Seq("doc_id"), zoneMaxGenerations = 1)
    assert(s3.accepted == 1L)
    val gensAfter = sidecar.listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).toSeq
    assert(gensAfter == Seq("base"),
      s"expected a self-compacted sidecar, got $gensAfter")
    val hi2 = StreamingNearDupIngest.loadAcceptedJsonl(spark, readSchema,
      accDir).filter(col("doc_id") >= 200L)
    assert(hi2.select("doc_id").as[Long].collect().toSet == Set(200L))
    val planned2 = hi2.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .head.scan.asInstanceOf[graft.ingest.v2.ExtJsonScan]
      .planInputPartitions()
      .map(_.asInstanceOf[graft.ingest.v2.ExtJsonInputPartition].file)
    assert(planned2.nonEmpty && planned2.forall(_.contains("batch=2")),
      s"folded stats must keep pruning: ${planned2.mkString(", ")}")
  }

  test("streaming near-dup ingest with zoneSortCol: range-banded batches merge-read exchange-free") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import spark.implicits._
    import graft.pipelines.StreamingNearDupIngest
    import graft.plans.OrderedBandScanExec
    val batchDir = s"$work/ndr_batches"
    val idxDir = s"$work/ndr_index"
    val accDir = s"$work/ndr_accepted"
    val ckpt = s"$work/ndr_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def ingest() = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt,
      zoneCols = Seq("doc_id"), zoneSortCol = "doc_id",
      zoneRangeBands = 2)
    // two batches whose id ranges INTERLEAVE: each batch's own band
    // boundaries overlap the other's, the append-lifecycle shape
    Seq((1L, "alpha bravo charlie delta echo foxtrot golf"),
      (5L, "hotel india juliet kilo lima mike november"),
      (9L, "oscar papa quebec romeo sierra tango uniform"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b1")
    assert(ingest().accepted == 3L)
    Seq((2L, "victor whiskey xray yankee zulu zero one"),
      (6L, "two three four five six seven eight"),
      (10L, "nine ten eleven twelve thirteen fourteen fifteen"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b2")
    assert(ingest().accepted == 3L)
    val readSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val acc = StreamingNearDupIngest.loadAcceptedJsonl(spark, readSchema,
      accDir)
    assert(acc.count() == 6L)
    // every landed band file carries the sorted proof as a side effect
    val stats = graft.ingest.v2.ZoneMaps.loadStats(spark, accDir,
      readSchema)
    assert(stats.nonEmpty && stats.values.forall(_.cols("doc_id").sorted),
      "every streamed band file must land key-sorted and proven")
    // the whole-corpus ORDER BY: overlapping per-batch bands k-way
    // merge — no SortExec, no Exchange, rows globally ordered
    val sorted = acc.orderBy(col("doc_id")).select(col("doc_id"))
    assert(sorted.as[Long].collect().toSeq ==
      Seq(1L, 2L, 5L, 6L, 9L, 10L))
    val ns = TestPlans.executedNodes(sorted)
    val bandScans = ns.collect { case o: OrderedBandScanExec => o }
    assert(bandScans.length == 1, ns.map(_.nodeName).mkString(", "))
    assert(bandScans.head.groups.exists(_.files.lengthCompare(1) > 0),
      "interleaved batch bands must merge: " +
        bandScans.head.groups.map(_.files.length).mkString(","))
    assert(!ns.exists(_.isInstanceOf[SortExec]) &&
      !ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "a streamed corpus must keep the exchange-free ordered read")
    // manifests land beside the range batches (batch_<runId>_b<id> dirs)
    val batchDirs = new java.io.File(accDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
    assert(batchDirs.length == 2 && batchDirs.forall(d =>
      new java.io.File(d, "_graft_manifest.json").exists()),
      batchDirs.map(_.getName).mkString(", "))
    // the running window composes over the streamed corpus too: the
    // exchange-free rank through the k-way merge read
    val win = acc.select(col("doc_id"),
      org.apache.spark.sql.functions.rank().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id")))
        .as("rk"))
    assert(win.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      Seq((1L, 1), (2L, 2), (5L, 3), (6L, 4), (9L, 5), (10L, 6)))
    assert(TestPlans.executedNodes(win)
      .exists(_.isInstanceOf[graft.plans.BandRunningWindowExec]),
      "the streamed corpus must take the band window path")
    // ...and zero-shuffle compaction folds the streamed overlap away:
    // the maintenance close of the streaming lifecycle
    val cDir = s"$work/ndr_compacted"
    graft.sink.CorpusSink.compactRangeIndexed(spark, readSchema, accDir,
      cDir, "doc_id", zoneCols = Seq("doc_id"))
    val compacted = graft.ingest.ExtendedJson.read(spark, readSchema, cDir).orderBy(col("doc_id"))
    assert(compacted.select(col("doc_id")).as[Long].collect().toSeq ==
      Seq(1L, 2L, 5L, 6L, 9L, 10L))
    val cScans = TestPlans.executedNodes(compacted)
      .collect { case o: OrderedBandScanExec => o }
    assert(cScans.length == 1 &&
      cScans.head.groups.forall(_.files.lengthCompare(1) == 0),
      "compaction must restore sequential one-file groups")
  }

  test("near-dup index compaction: bounded history dirs, decisions unchanged, manifested corpus") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.pipelines.StreamingNearDupIngest
    val batchDir = s"$work/ndc_batches"
    val idxDir = s"$work/ndc_index"
    val accDir = s"$work/ndc_accepted"
    val ckpt = s"$work/ndc_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def batchDirsIn(runRoot: java.io.File): Seq[String] =
      Option(runRoot.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("batch=")).map(_.getName)

    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "spark plans scans joins aggregates and shuffles data well"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b1")
    val s1 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt)
    assert(s1.accepted == 2L)
    // fold batch 0 into a generation: the run namespace holds NO batch
    // dirs afterwards, the compacted tree ONE generation
    val c1 = StreamingNearDupIngest.compact(spark, idxDir, ckpt).get
    assert(c1.foldedBatches == 1L)
    val runRoot = new java.io.File(idxDir).listFiles()
      .find(_.getName.startsWith("run=")).get
    assert(batchDirsIn(runRoot).isEmpty, "folded batch dir must be removed")

    // post-compaction decisions are IDENTICAL to the uncompacted flow:
    // doc 10 near-dups history doc 2 (now only inside the generation) and
    // is rejected; doc 11 is new and accepted
    Seq(
      (10L, "spark plans scans joins aggregates and shuffles data well"),
      (11L, "an entirely different subject matter appears in this line"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b2")
    val s2 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt)
    assert(s2 == StreamingNearDupIngest.Summary(1L, 1L, 1L), s2.toString)
    assert(StreamingNearDupIngest.loadAccepted(spark, accDir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))

    // second fold accretes batch 1 into a later generation; re-compacting
    // with nothing new is a no-op on that generation
    val c2 = StreamingNearDupIngest.compact(spark, idxDir, ckpt).get
    assert(c2.foldedBatches == 1L && c2.generation > c1.generation)
    assert(batchDirsIn(runRoot).isEmpty)
    assert(StreamingNearDupIngest.compact(spark, idxDir, ckpt)
      .exists(c => c.foldedBatches == 0L && c.generation == c2.generation))

    // a doc near-dupping 11 (folded in c2) is still rejected — history
    // survives any number of folds
    Seq((20L, "an entirely different subject matter appears in this line"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b3")
    val s3 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt)
    assert(s3 == StreamingNearDupIngest.Summary(1L, 0L, 1L), s3.toString)

    // every landed accepted-batch dir carries a verifying manifest; a
    // tampered shard fails its batch's verification
    val batchAccDirs = for {
      r <- new java.io.File(accDir).listFiles().toSeq
      if r.getName.startsWith("run=")
      b <- r.listFiles().toSeq if b.getName.startsWith("batch=")
    } yield b
    assert(batchAccDirs.nonEmpty)
    batchAccDirs.foreach { d =>
      assert(new java.io.File(d, "_graft_manifest.json").exists(), d.toString)
      assert(graft.sink.CorpusSink.verifyManifest(spark, d.toString).isRight,
        d.toString)
    }
    val victim = batchAccDirs.flatMap(_.listFiles())
      .find(f => f.getName.endsWith(".parquet") && f.getName.startsWith("part-")).get
    val tampered = victim.getParentFile
    spark.read.parquet(victim.getAbsolutePath)
      .withColumn("doc_id", col("doc_id") + 1000L)
      .coalesce(1).write.mode("overwrite").parquet(s"$work/ndc_tamper")
    val replacement = new java.io.File(s"$work/ndc_tamper").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(replacement.toPath, victim.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the local-FS checksum sidecar: the tamper must surface as a
    // manifest mismatch, not a Hadoop ChecksumException
    new java.io.File(tampered, s".${victim.getName}.crc").delete()
    assert(graft.sink.CorpusSink.verifyManifest(spark, tampered.toString).isLeft,
      "tampered shard must fail manifest verification")
  }

  test("near-dup history reads a run root folded before generations carried manifests") {
    import spark.implicits._
    import graft.pipelines.StreamingNearDupIngest
    val batchDir = s"$work/ndo_batches"
    val idxDir = s"$work/ndo_index"
    val accDir = s"$work/ndo_accepted"
    val ckpt = s"$work/ndo_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "spark plans scans joins aggregates and shuffles data well"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b1")
    assert(StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt).accepted == 2L)
    // the older fold: batch 0's postings moved to `_compacted/run=<id>/gen=0`
    // (Spark's _SUCCESS inside; no manifest, no format marker)
    val run = new java.io.File(idxDir).listFiles()
      .find(_.getName.startsWith("run=")).get.getName
    val oldGen = Paths.get(StreamingNearDupIngest.compactedDir(idxDir), run, "gen=0")
    Files.createDirectories(oldGen.getParent)
    Files.move(Paths.get(idxDir, run, "batch=0"), oldGen)
    // doc 10 near-dups doc 2, whose postings live only in the older generation
    Seq(
      (10L, "spark plans scans joins aggregates and shuffles data well"),
      (11L, "an entirely different subject matter appears in this line"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b2")
    val s2 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt)
    assert(s2 == StreamingNearDupIngest.Summary(1L, 1L, 1L), s2.toString)
    intercept[IllegalArgumentException](StreamingNearDupIngest.compact(spark, idxDir, ckpt))
    assert(Files.exists(oldGen.resolve("_SUCCESS")))
  }

  test("streaming curation: near-dup + decontamination + classifier gates compose") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.ops.{Classifier, NearDup}
    import graft.pipelines.StreamingNearDupIngest
    val batchDir = s"$work/cur_batches"
    val idxDir = s"$work/cur_index"
    val accDir = s"$work/cur_accepted"
    val ckpt = s"$work/cur_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema

    // benchmark release: one eval doc, indexed once
    val probeIdx = s"$work/cur_probe_idx"
    NearDup.saveShingleIndex(
      Seq((9000L, "the secret benchmark answer is forty two exactly"))
        .toDF("doc_id", "text"), "doc_id", "text", 3, probeIdx)
    // quality model: trained on planted separable classes, saved
    val modelPath = s"$work/cur_model"
    val labeled = Seq(
      (1L, "the clear structured prose with citations and depth", true),
      (2L, "the thorough careful analysis with citations included", true),
      (3L, "the buy cheap now click win free prize", false),
      (4L, "the click free spam win cheap prize now", false))
      .toDF("doc_id", "text", "y")
    Classifier.saveModel(
      Classifier.trainDiagRidge(labeled, "doc_id", "text", "y", 256, 1L),
      modelPath)

    // one batch: a good doc, its near-dup, a contaminated doc, a spam
    // doc, an empty doc, and an out-of-vocabulary doc (no feature bucket
    // in the model — scoreWithTable emits NO row for the last two, and
    // the gate must reject them rather than pass them vacuously)
    Seq(
      (10L, "careful structured citations and clear depth in prose"),
      (11L, "careful structured citations and clear depth in prose"),
      (12L, "copied text the secret benchmark answer is forty two exactly here"),
      (13L, "cheap spam prize click now win free offers cheap"),
      (14L, ""),
      (15L, "zxqv"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b1")
    val gates = Seq(
      StreamingNearDupIngest.decontaminationGate(spark, probeIdx,
        "doc_id", "text", 3, minContainment = 0.5),
      StreamingNearDupIngest.classifierGate(spark, modelPath,
        "doc_id", "text", 256))
    val s1 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt,
      rejectGates = gates)
    // 11 near-dups 10; 12 contains the benchmark; 13 fails the model;
    // 14/15 have no score row (degenerate) — only the good doc survives
    assert(s1 == StreamingNearDupIngest.Summary(1L, 1L, 5L), s1.toString)
    assert(StreamingNearDupIngest.loadAccepted(spark, accDir)
      .select("doc_id").as[Long].collect().toSeq == Seq(10L))

    // a later batch near-dupping the REJECTED contaminated doc is NOT
    // history-rejected (rejects never enter the index) — it is judged on
    // its own merits: decontamination rejects it again
    Seq((20L, "copied text the secret benchmark answer is forty two exactly here"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$batchDir/b2")
    val s2 = StreamingNearDupIngest.run(spark, batchDir, schema,
      "doc_id", "text", n = 3, minJaccard = 0.8, idxDir, accDir, ckpt,
      rejectGates = gates)
    assert(s2 == StreamingNearDupIngest.Summary(1L, 0L, 1L), s2.toString)
  }

  test("IVF compaction survives checkpoint loss: a new run's batches are never deleted unfolded") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.ops.Similarity
    import graft.pipelines.StreamingIvfIngest
    val rnd = new scala.util.Random(99)
    val corpus = Seq.tabulate(30)(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 2)
    val batchDir = s"$work/xr_batches"
    val invDir = s"$work/xr_inverted"
    val compDir = s"$work/xr_compacted"
    val ckpt = s"$work/xr_ckpt"
    Files.createDirectories(Paths.get(batchDir))
    val schema = corpus.schema
    corpus.limit(10).coalesce(1).write.parquet(s"$batchDir/b1")
    StreamingIvfIngest.run(spark, index, batchDir, schema,
      "vec_id", "embedding", invDir, ckpt)
    StreamingIvfIngest.compact(spark, invDir, compDir, ckpt)
    assert(StreamingIvfIngest.loadCompacted(spark, compDir).count() == 10)

    // checkpoint loss: batch numbering restarts at 0 under a NEW run id.
    // The old layout's shared top-level generation would classify the new
    // run's batches 0..N as "already folded" and delete them unfolded —
    // the run-scoped layout must fold them instead
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    StreamingIvfIngest.run(spark, index, batchDir, schema,
      "vec_id", "embedding", invDir, ckpt)
    val c = StreamingIvfIngest.compact(spark, invDir, compDir, ckpt).get
    assert(c.foldedBatches == 1L,
      "the new run's committed batch must be folded, not discarded")
    val all = StreamingIvfIngest.loadCompacted(spark, compDir)
      .select("vec_id").as[Long].collect().toSeq
    assert(all.size == 20 && all.toSet == (0L until 10L).toSet,
      s"cross-run compaction lost rows: ${all.size}")
  }

  test("all 13 specs create tables and load a minimal corpus end-to-end") {
    val db2url = "jdbc:derby:memory:graftpipe13;create=true"
    val db2 = TargetDb(db2url, DerbyUpsertDialect, TableSpec.derbyType,
      supportsIfNotExists = false, supportsForeignKeys = false)
    for (spec0 <- Specs.all()) {
      // Derby cannot express the bare ON CONFLICT DO NOTHING (loandeals);
      // substitute the keyed ignore for the JDBC round trip — the Postgres
      // bare form is asserted textually in UpsertSinkSpec
      val spec = spec0.policy match {
        case graft.sink.ConflictPolicy.IgnoreAny =>
          spec0.copy(policy = graft.sink.ConflictPolicy.IgnoreOnConflict("_id"))
        case _ => spec0
      }
      val doc =
        if (spec.unwind.isDefined)
          s"""{"_id": {"$$oid": "00000000000000000000000${Specs.all().indexOf(spec)}"}, "dateCreated": {"$$date": "2023-01-01T00:00:00Z"}, "products": ["x-${spec.table}"]}"""
        else
          s"""{"_id": {"$$oid": "00000000000000000000000${Specs.all().indexOf(spec)}"}}"""
      MigrationPipeline.run(spark, spec,
        writeJsonl(s"${spec.table}.jsonl", Seq(doc)), db2)
      val conn = DriverManager.getConnection(db2url)
      try {
        val rs = conn.createStatement()
          .executeQuery(s"SELECT COUNT(*) FROM ${q(spec.table)}")
        rs.next()
        assert(rs.getInt(1) == 1, spec.table)
      } finally conn.close()
    }
  }

  test("a second daily cycle with new keys, paths and stamps compiles no class") {
    // a daily cycle (a delta and a snapshot diff per table, as perfbench's
    // `incremental` runs them) compiles more classes than Spark's default
    // codegen cache of 100 holds (129 here under Spark's defaults, ~145 in
    // perfbench): the cyclic reuse then hits 0% and every cycle recompiles
    // nearly all of them (GraftSession.codegenCacheEntries).
    // Any per-call value inlined as a literal into generated code (a max id,
    // a stamp) makes the second cycle's code new and fails this too, as does
    // a per-call class name (AQE's whole-stage codegen ids).
    import scala.collection.mutable
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.types.{BooleanType, DateType}
    import graft.pipelines.SnapshotUpdatePipeline
    val urlC = "jdbc:derby:memory:graftcycle;create=true"
    val dbC = TargetDb(urlC, DerbyUpsertDialect, TableSpec.derbyType,
      supportsIfNotExists = false, supportsForeignKeys = false)
    val root = Files.createTempDirectory("graft_cycle")
    val specs = Seq(Specs.users, Specs.loanapplications)
    val rnd = new scala.util.Random(11)
    def key(s: TableSpec): String = s.policy.keyOption.getOrElse("_id")
    // live model per table: business key -> flat row (CSV field values)
    val live = specs.map(s => s.table -> mutable.LinkedHashMap.empty[String, Seq[String]]).toMap
    var docs = 0
    def fresh(s: TableSpec): Seq[String] = {
      docs += 1
      val id = f"$docs%024x"
      s.flatSchema.fields.toSeq.map { f =>
        if (f.name == "_id") id
        else if (f.name == key(s)) s"$id-0"
        else f.dataType match {
          case BooleanType => rnd.nextBoolean().toString
          case DateType => java.time.LocalDate.ofEpochDay(19000L + rnd.nextInt(900)).toString
          case _ => s"${f.name}-${rnd.nextInt(1000)}"
        }
      }
    }
    def changed(s: TableSpec, row: Seq[String]): Seq[String] =
      s.flatSchema.fieldNames.toSeq.zip(row).zip(fresh(s)).map { case ((name, old), next) =>
        if (name == "_id" || name == key(s)) old else next }
    def put(s: TableSpec, rows: Seq[Seq[String]]): Unit =
      rows.foreach(r => live(s.table)(r(s.flatSchema.fieldIndex(key(s)))) = r)
    def drop(s: TableSpec, dir: String, rows: Iterable[Seq[String]]): String = {
      val p = root.resolve(dir).resolve(s.table)
      Files.createDirectories(p)
      val lines = s.flatSchema.fieldNames.mkString(",") +: rows.map(_.mkString(",")).toSeq
      Files.write(p.resolve("part-0.csv"), String.join("\n", lines: _*).getBytes)
      p.toString
    }
    def landedKeys(s: TableSpec): Set[String] = {
      val conn = DriverManager.getConnection(urlC)
      try {
        val rs = conn.createStatement().executeQuery(s"SELECT ${q(key(s))} FROM ${q(s.table)}")
        val out = Set.newBuilder[String]
        while (rs.next()) out += rs.getString(1)
        out.result()
      } finally conn.close()
    }
    def snapshot(s: TableSpec, dir: String): Unit = {
      SnapshotUpdatePipeline.run(spark, s, drop(s, dir, live(s.table).values), dbC)
      assert(landedKeys(s) == live(s.table).keySet, s.table)
    }
    // one cycle: per table a delta of 16 changed known keys and 4 new keys,
    // then per table a snapshot with 8 updated, 4 vanished and 4 new keys
    def cycle(c: Int): Unit = {
      specs.foreach { s =>
        val known = rnd.shuffle(live(s.table).keys.toSeq).take(16).map(k => changed(s, live(s.table)(k)))
        val batch = known ++ Seq.fill(4)(fresh(s))
        assert(DailyUpdatePipeline.run(spark, s, drop(s, s"delta_$c", batch), dbC,
          root.resolve("archive").toString, s"d$c"))
        put(s, batch)
        assert(landedKeys(s) == live(s.table).keySet, s.table)
      }
      specs.foreach { s =>
        val m = live(s.table)
        val (upd, gone) = rnd.shuffle(m.keys.toSeq).take(12).splitAt(8)
        put(s, upd.map(k => changed(s, m(k))) ++ Seq.fill(4)(fresh(s)))
        gone.foreach(m.remove)
        snapshot(s, s"snapshot_$c")
      }
    }
    specs.foreach { s => put(s, Seq.fill(200)(fresh(s))); snapshot(s, "seed") }
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles(cycle(1))
    val second = compiles(cycle(2))
    info(s"classes compiled: first cycle $first, second cycle $second")
    assert(second == 0)
  }
}
