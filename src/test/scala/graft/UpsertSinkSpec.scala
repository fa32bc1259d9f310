package graft

import java.sql.DriverManager

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.{ConflictPolicy, Ddl, DerbyUpsertDialect, PostgresUpsertDialect, UpsertSink, WriteTolerance}

/** S4 upsert sink semantics against embedded Derby (real JDBC round trip):
  * §2.4 policy matrix behaviors, batching, within-batch dedup, idempotency.
  * Postgres SQL generation is asserted textually (no server in the sandbox).
  */
class UpsertSinkSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.spark
  import spark.implicits._

  private val url = "jdbc:derby:memory:grafttest;create=true"

  override def beforeAll(): Unit = {
    super.beforeAll()
    Ddl.ensureTable(url,
      """CREATE TABLE "users" (
        |  "id" INT PRIMARY KEY,
        |  "_id" VARCHAR(24) UNIQUE NOT NULL,
        |  "name" VARCHAR(64),
        |  "deleted" BOOLEAN
        |)""".stripMargin)
  }

  private def readAll(): Seq[(Int, String, String, Boolean)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("""SELECT "id", "_id", "name", "deleted" FROM "users" ORDER BY "id"""")
      val buf = Seq.newBuilder[(Int, String, String, Boolean)]
      while (rs.next()) buf += ((rs.getInt(1), rs.getString(2), rs.getString(3), rs.getBoolean(4)))
      buf.result()
    } finally conn.close()
  }

  private def clear(): Unit = {
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute("""DELETE FROM "users"""")
    finally conn.close()
  }

  private val update = ConflictPolicy.UpdateOnConflict("_id", Seq("name", "deleted"))
  private val ignore = ConflictPolicy.IgnoreOnConflict("_id")

  test("insert then update via UpdateOnConflict policy") {
    clear()
    val v1 = Seq((1, "a", "Alice", false), (2, "b", "Bob", false))
      .toDF("id", "_id", "name", "deleted")
    UpsertSink.upsert(v1, url, "users", update, DerbyUpsertDialect, batchSize = 1)
    assert(readAll() == Seq((1, "a", "Alice", false), (2, "b", "Bob", false)))

    // second wave: 'a' changes name+deleted (id column NOT in update set and
    // must keep its original value), 'c' is new
    val v2 = Seq((9, "a", "Alicia", true), (3, "c", "Cara", false))
      .toDF("id", "_id", "name", "deleted")
    UpsertSink.upsert(v2, url, "users", update, DerbyUpsertDialect)
    assert(readAll() == Seq(
      (1, "a", "Alicia", true), (2, "b", "Bob", false), (3, "c", "Cara", false)))
  }

  test("IgnoreOnConflict keeps the existing row untouched") {
    clear()
    val v1 = Seq((1, "a", "Alice", false)).toDF("id", "_id", "name", "deleted")
    UpsertSink.upsert(v1, url, "users", ignore, DerbyUpsertDialect)
    val v2 = Seq((5, "a", "Changed", true), (2, "b", "Bob", false))
      .toDF("id", "_id", "name", "deleted")
    UpsertSink.upsert(v2, url, "users", ignore, DerbyUpsertDialect)
    assert(readAll() == Seq((1, "a", "Alice", false), (2, "b", "Bob", false)))
  }

  test("upsert is idempotent: apply(batch) twice == once") {
    clear()
    val batch = Seq((1, "a", "Alice", false), (2, "b", "Bob", true))
      .toDF("id", "_id", "name", "deleted")
    UpsertSink.upsert(batch, url, "users", update, DerbyUpsertDialect)
    val once = readAll()
    UpsertSink.upsert(batch, url, "users", update, DerbyUpsertDialect)
    assert(readAll() == once)
  }

  test("within-batch duplicate keys are pre-deduplicated (keep-first)") {
    clear()
    // same _id twice in one batch — raw multi-row upsert would double-hit
    // the key; the sink must keep the first under all-column order
    val batch = Seq((2, "a", "Second", true), (1, "a", "First", false), (3, "b", "B", false))
      .toDF("id", "_id", "name", "deleted")
    UpsertSink.upsert(batch, url, "users", update, DerbyUpsertDialect)
    assert(readAll() == Seq((1, "a", "First", false), (3, "b", "B", false)))
  }

  test("batch boundaries don't lose or duplicate rows") {
    clear()
    val n = 257 // not a multiple of batchSize
    val big = (1 to n).map(i => (i, f"k$i%04d", s"name$i", i % 2 == 0))
      .toDF("id", "_id", "name", "deleted")
    UpsertSink.upsert(big, url, "users", update, DerbyUpsertDialect, batchSize = 50)
    val rows = readAll()
    assert(rows.length == n)
    assert(rows.map(_._1).toSet == (1 to n).toSet)
  }

  test("an upsert above the writer cap reads its input once") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    clear()
    val n = 2000
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_once").toString
    (1 to n).map(i => (i, f"k$i%05d", s"name$i", i % 2 == 0))
      .toDF("id", "_id", "name", "deleted").write.mode("overwrite").parquet(dir)
    // source records read by every task between two marker jobs; listener
    // delivery is async but in order, so the end marker's job start arrives
    // after every task of the upsert
    val marker = "graft.test.marker"
    val recordsRead = new AtomicLong
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      private var counting = false
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(marker))) match {
          case Some("start") => counting = true
          case Some("end") => counting = false; drained.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (counting && e.taskMetrics != null)
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    def mark(m: String): Unit = {
      sc.setLocalProperty(marker, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
    }
    // without coalescing the keep-first dedup keeps all its shuffle
    // partitions: more than the single writer, so the sink repartitions
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    sc.addSparkListener(listener)
    try {
      mark("start")
      UpsertSink.upsert(spark.read.parquet(dir), url, "users", update,
        DerbyUpsertDialect, maxConnections = 1)
      mark("end")
      assert(drained.await(30, TimeUnit.SECONDS), "end marker never delivered")
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set(coalesce, prevCoalesce)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt >= 2)
    assert(recordsRead.get() == n, s"read ${recordsRead.get()} source records for $n rows")
    assert(readAll().length == n)
  }

  test("permissive tolerance skips poison rows and loads the rest; strict fails fast") {
    clear()
    val poison = "x" * 100 // overflows "name" VARCHAR(64)
    val batch = Seq((1, "a", "Alice", false), (2, "b", poison, false), (3, "c", "Cara", true))
      .toDF("id", "_id", "name", "deleted")
    // strict (default): one bad row fails the load — the reference's
    // unguarded tables (organizations_table.py:118)
    intercept[org.apache.spark.SparkException] {
      UpsertSink.upsert(batch, url, "users", update, DerbyUpsertDialect)
    }
    clear()
    // permissive: batch replayed row-wise, offender skipped and counted —
    // the reference's users form (user_table.py:116-121)
    val skipped = UpsertSink.upsert(batch, url, "users", update, DerbyUpsertDialect,
      tolerance = WriteTolerance.Permissive)
    assert(skipped == 1L)
    assert(readAll() == Seq((1, "a", "Alice", false), (3, "c", "Cara", true)))
    // rerun over the same batch stays idempotent and still skips only the offender
    assert(UpsertSink.upsert(batch, url, "users", update, DerbyUpsertDialect,
      tolerance = WriteTolerance.Permissive) == 1L)
    assert(readAll() == Seq((1, "a", "Alice", false), (3, "c", "Cara", true)))
  }

  test("permissive replay skips only data/constraint SQLSTATEs, rethrows transient ones") {
    import java.sql.SQLException
    // row faults the replay may attribute to the row and skip:
    assert(UpsertSink.isRowFault(new SQLException("truncation", "22001")))
    assert(UpsertSink.isRowFault(new SQLException("overflow", "22003")))
    assert(UpsertSink.isRowFault(new SQLException("duplicate key", "23505")))
    assert(UpsertSink.isRowFault(new SQLException("not null", "23502")))
    // transient/environmental failures that MUST fail the task for Spark's
    // retry instead of being miscounted as skipped rows:
    assert(!UpsertSink.isRowFault(new SQLException("conn closed", "08003")))
    assert(!UpsertSink.isRowFault(new SQLException("conn failure", "08006")))
    assert(!UpsertSink.isRowFault(new SQLException("deadlock", "40001")))
    assert(!UpsertSink.isRowFault(new SQLException("lock timeout", "40XL1")))
    assert(!UpsertSink.isRowFault(new SQLException("no state", null: String)))
  }

  test("permissive replay keeps the batch's root cause when the rollback fails too") {
    import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
    import java.sql.{Connection, PreparedStatement, SQLException}
    clear()
    // a driver whose batches fail with a non-row SQLSTATE and take the
    // session down with them (Derby's behaviour after an internal error):
    // the replay's rollback then sees 08003 on the closed connection
    def proxy[T](cls: Class[T], target: AnyRef)(
        hook: (Method, Array[AnyRef]) => Option[AnyRef]): T =
      cls.cast(Proxy.newProxyInstance(getClass.getClassLoader,
        Array[Class[_]](cls), new InvocationHandler {
          override def invoke(p: AnyRef, m: Method, a: Array[AnyRef]): AnyRef =
            hook(m, a).getOrElse {
              try m.invoke(target, (if (a == null) Array.empty[AnyRef] else a): _*)
              catch { case e: InvocationTargetException => throw e.getCause }
            }
        }))
    val prefix = "jdbc:graftfault:"
    val driver = new java.sql.Driver {
      override def connect(u: String, info: java.util.Properties): Connection =
        if (!acceptsURL(u)) null
        else {
          val real = DriverManager.getConnection(url)
          proxy(classOf[Connection], real) { (m, a) =>
            if (m.getName != "prepareStatement") None
            else Some(proxy(classOf[PreparedStatement],
                real.prepareStatement(a(0).asInstanceOf[String])) { (pm, _) =>
              if (pm.getName != "executeBatch") None
              else {
                real.rollback(); real.close()
                throw new SQLException("injected batch failure", "XJ001")
              }
            })
          }
        }
      override def acceptsURL(u: String): Boolean = u.startsWith(prefix)
      override def getPropertyInfo(u: String, info: java.util.Properties) =
        Array.empty[java.sql.DriverPropertyInfo]
      override def getMajorVersion: Int = 1
      override def getMinorVersion: Int = 0
      override def jdbcCompliant(): Boolean = false
      override def getParentLogger = java.util.logging.Logger.getGlobal
    }
    DriverManager.registerDriver(driver)
    try {
      val batch = Seq((1, "a", "Alice", false)).toDF("id", "_id", "name", "deleted")
      val e = intercept[org.apache.spark.SparkException] {
        UpsertSink.upsert(batch, prefix + "grafttest", "users", update,
          DerbyUpsertDialect, tolerance = WriteTolerance.Permissive)
      }
      val root = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq.last
      assert(root.isInstanceOf[SQLException] &&
        root.asInstanceOf[SQLException].getSQLState == "XJ001",
        s"innermost cause must be the batch failure, not $root")
      assert(root.getSuppressed.exists {
        case s: SQLException => s.getSQLState == "08003"
        case _ => false
      }, "the failed rollback rides along as suppressed")
    } finally DriverManager.deregisterDriver(driver)
    assert(readAll().isEmpty)
  }

  test("policy referencing an absent column is rejected eagerly") {
    val df = Seq((1, "a")).toDF("id", "_id")
    intercept[IllegalArgumentException] {
      UpsertSink.upsert(df, url, "users",
        ConflictPolicy.UpdateOnConflict("_id", Seq("nope")), DerbyUpsertDialect)
    }
  }

  test("Postgres dialect generates the reference ON CONFLICT forms") {
    val cols = Seq("id", "_id", "name", "deleted")
    assert(PostgresUpsertDialect.sql("users", cols, update) ==
      """INSERT INTO "users" ("id", "_id", "name", "deleted") VALUES (?, ?, ?, ?)""" +
        """ ON CONFLICT ("_id") DO UPDATE SET "name" = EXCLUDED."name", "deleted" = EXCLUDED."deleted"""")
    assert(PostgresUpsertDialect.sql("users", cols, ignore) ==
      """INSERT INTO "users" ("id", "_id", "name", "deleted") VALUES (?, ?, ?, ?)""" +
        """ ON CONFLICT ("_id") DO NOTHING""")
    assert(PostgresUpsertDialect.sql("users", cols, ConflictPolicy.IgnoreAny) ==
      """INSERT INTO "users" ("id", "_id", "name", "deleted") VALUES (?, ?, ?, ?)""" +
        """ ON CONFLICT DO NOTHING""")
    assert(PostgresUpsertDialect.paramCols(cols, update) == cols)
  }
}
