package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types._

import graft.sink.{ConflictPolicy, WriteTolerance}

/** One target column: name, landed SQL type, and the extraction expression
  * over the (decoded) source document.
  *
  * `references` declares a foreign-key target `(table, column)` emitted as
  * an inline `REFERENCES` clause by [[TableSpec.ddl]] — the reference
  * declares these on five tables (`mongo_to_postgres_migration.py:61-97`).
  */
final case class TargetColumn(name: String, dataType: DataType, expr: Column,
    references: Option[(String, String)] = None) {

  /** Mark this column as a foreign key into `table(column)`. */
  def refs(table: String, column: String = "_id"): TargetColumn =
    copy(references = Some((table, column)))
}

/** Declarative description of one collection→table pipeline (SURVEY.md §1.4):
  * explicit nested source schema (never inferred), server-side-pushable
  * filter (T2), optional unwind (Q1), flat target column list (T1, T3–T12),
  * and the §2.4 conflict policy. The 13 instances live in [[Specs]].
  */
final case class TableSpec(
    table: String,
    collection: String,
    source: StructType,
    columns: Seq[TargetColumn],
    policy: ConflictPolicy,
    filter: Option[Column] = None,
    unwind: Option[String] = None,
    tolerance: WriteTolerance = WriteTolerance.Strict) {

  /** Source documents → flat target rows (without the surrogate `id`;
    * key assignment is [[graft.keys.SurrogateKeys]]' job).
    *
    * Order mirrors the reference's Mongo pipelines: `$match` before
    * `$unwind` before `$project` (`loanapplication_table.py:25-49`) —
    * though Catalyst would push the filter below the Generate anyway.
    * `explode` (not `explode_outer`): `$unwind` drops documents whose
    * array is empty or missing, and so does the reference.
    */
  def transform(raw: DataFrame): DataFrame = {
    val filtered = filter.fold(raw)(raw.filter)
    val unwound = unwind.fold(filtered)(c => filtered.withColumn(c, explode(col(c))))
    unwound.select(columns.map(c => c.expr.as(c.name)): _*)
  }

  /** Flat target schema including the surrogate `id`. */
  def targetSchema: StructType =
    StructType(StructField("id", LongType, nullable = false) +:
      columns.map(c => StructField(c.name, c.dataType)))

  /** [[targetSchema]] without the surrogate `id`: the staging, delta and
    * snapshot layout the pipelines read before key reconcile.
    */
  def flatSchema: StructType = StructType(targetSchema.filterNot(_.name == "id"))

  /** `CREATE TABLE` DDL (SURVEY.md §2 S9) under a vendor type mapping, with
    * the serial-equivalent surrogate key and the unique business key the
    * conflict policy declares. `IF NOT EXISTS` is included only when the
    * vendor supports it (Derby doesn't — [[graft.sink.Ddl.ensureTable]]
    * swallows its already-exists error instead).
    *
    * `foreignKeys = true` (the Postgres/reference form) emits the inline
    * `REFERENCES` clause for every column carrying
    * [[TargetColumn.references]], matching the reference's
    * referential-integrity gates (`mongo_to_postgres_migration.py:61-97` —
    * note its invoices FK cites `public.users` where every other cites
    * `{schema_name}.users`, an apparent reference bug; this DDL is
    * unqualified throughout, so both spell the same table here). Callers
    * whose target can't order table creation to satisfy the constraints
    * (the embedded Derby test harness creates tables standalone) pass
    * `foreignKeys = false`.
    */
  def ddl(sqlType: DataType => String = TableSpec.postgresType,
      ifNotExists: Boolean = true, foreignKeys: Boolean = true): String = {
    val cols = columns.map { c =>
      val fk =
        if (foreignKeys)
          c.references.map { case (t, cl) =>
            s""" REFERENCES "$t" ("$cl")""" }.getOrElse("")
        else ""
      s"  \"${c.name}\" ${sqlType(c.dataType)}$fk"
    }
    val unique = policy.keyOption.map(k => s",\n  UNIQUE (\"$k\")").getOrElse("")
    val ine = if (ifNotExists) "IF NOT EXISTS " else ""
    s"CREATE TABLE $ine\"$table\" (\n  \"id\" bigint PRIMARY KEY,\n" +
      cols.mkString(",\n") + unique + "\n)"
  }
}

object TableSpec {

  /** Postgres type spelling (the reference's target dialect). */
  val postgresType: DataType => String = {
    case StringType     => "varchar"
    case BooleanType    => "boolean"
    case IntegerType    => "integer"
    case LongType       => "bigint"
    case DoubleType     => "double precision"
    case DateType       => "date"
    case TimestampType  => "timestamp"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(s"no SQL type for $other")
  }

  /** Derby spelling (the embedded test database): sized varchar, precision
    * capped at Derby's 31-digit decimal limit.
    */
  val derbyType: DataType => String = {
    case StringType     => "VARCHAR(4000)"
    case BooleanType    => "BOOLEAN"
    case IntegerType    => "INTEGER"
    case LongType       => "BIGINT"
    case DoubleType     => "DOUBLE"
    case DateType       => "DATE"
    case TimestampType  => "TIMESTAMP"
    case d: DecimalType =>
      s"DECIMAL(${math.min(d.precision, 31)},${math.min(d.scale, 10)})"
    case other => throw new IllegalArgumentException(s"no SQL type for $other")
  }
}
