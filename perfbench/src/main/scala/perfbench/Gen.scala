package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.types._

import graft.schema.{Bson, TableSpec}

/** Deterministic inputs, derived only from the seed and the specs' declared
  * source schemas. The same seed always yields byte-identical files.
  *
  * Document shapes follow FIXTURES.md: absent fields, `{_id}`-only
  * documents, empty and multi-element arrays, and loanapplications dates on
  * both sides of the spec's `$match` cutoff (2022-10-05).
  */
final class Gen(seed: Long) {

  def rng(stream: String): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xBF58476D1CE4E5B9L)

  private val alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
  private def word(r: Random): String = {
    val n = 4 + r.nextInt(10)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += alnum.charAt(r.nextInt(alnum.length)); i += 1 }
    sb.toString
  }

  /** Unique 24-hex object id: a random 8-hex prefix (so key order is not
    * generation order) followed by the 16-hex generation index.
    */
  def oid(r: Random, i: Long): String = f"${r.nextInt() & 0x7fffffff}%08x$i%016x"

  private val epochDay0 = LocalDate.of(2020, 1, 1).toEpochDay
  private def isoDate(day: Long, r: Random): String =
    LocalDate.ofEpochDay(day).toString +
      f"T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02dZ"

  // 96 of 960 days fall on or before the 2022-10-05 cutoff: about 10% of
  // loanapplications documents fail the spec's $match
  private val laDay0 = LocalDate.of(2022, 7, 1).toEpochDay

  /** One extended-JSON document of `spec`'s collection. */
  def doc(spec: TableSpec, r: Random, i: Long): String = {
    val sb = new StringBuilder(256)
    val isLoanApp = spec.collection == "loanapplications"
    val id = oid(r, i)
    val idOnly = r.nextInt(50) == 0
    sb ++= "{\"_id\": {\"$oid\": \"" ++= id ++= "\"}"
    if (!idOnly) spec.source.fields.filter(_.name != "_id").foreach { f =>
      val forced = isLoanApp && (f.name == "dateCreated" || f.name == "products")
      if (forced || r.nextInt(10) != 0) {
        sb ++= ", \"" ++= f.name ++= "\": "
        if (isLoanApp && f.name == "dateCreated")
          sb ++= "{\"$date\": \"" ++= isoDate(laDay0 + r.nextInt(960), r) ++= "\"}"
        else if (isLoanApp && f.name == "products") {
          // about two products each; the product value is the table's
          // unique key, so it is derived from the unique document id
          val n = r.nextInt(5)
          sb ++= (0 until n).map(j => s"\"$id-$j\"").mkString("[", ", ", "]")
        } else value(f.name, f.dataType, r, sb)
      }
    }
    sb += '}'
    sb.toString
  }

  private def value(name: String, dt: DataType, r: Random, sb: StringBuilder): Unit = dt match {
    case t if t == Bson.oidType =>
      sb ++= "{\"$oid\": \"" ++= oid(r, r.nextInt(1 << 20).toLong) ++= "\"}"
    case t if t == Bson.dateType =>
      sb ++= "{\"$date\": \"" ++= isoDate(epochDay0 + r.nextInt(1500), r) ++= "\"}"
    case st: StructType =>
      sb += '{'
      var first = true
      st.fields.foreach { f =>
        if (r.nextInt(10) != 0) {
          if (!first) sb ++= ", "
          first = false
          sb += '"' ++= f.name ++= "\": "
          value(f.name, f.dataType, r, sb)
        }
      }
      sb += '}'
    case ArrayType(et, _) =>
      val n = r.nextInt(4) // 0 = the empty-array shape
      sb += '['
      (0 until n).foreach { j =>
        if (j > 0) sb ++= ", "
        value(name, et, r, sb)
      }
      sb += ']'
    case StringType   => sb += '"' ++= name ++= "-" ++= word(r) += '"'
    case BooleanType  => sb ++= r.nextBoolean().toString
    case IntegerType  => sb ++= r.nextInt(1000).toString
    case _: DecimalType =>
      val cents = r.nextInt(10000000)
      sb ++= f"${cents / 100}%d.${cents % 100}%02d"
    case other => throw new IllegalArgumentException(s"no generator for $other")
  }

  /** Writes `n` documents of `spec` to `<dir>/<collection>.jsonl`. */
  def writeCollection(spec: TableSpec, n: Int, dir: Path): Unit = {
    val r = rng("docs/" + spec.collection)
    val p = dir.resolve(spec.collection + ".jsonl")
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try (0 until n).foreach { i => w.write(doc(spec, r, i.toLong)); w.write('\n') }
    finally w.close()
  }

  // ---- flat target rows (the incremental workload's live tables) ----

  /** A random landed value of a flat target column: non-null booleans and
    * dates (the transform default-fills both), strings null one time in
    * ten.
    */
  def flatValue(f: StructField, r: Random): Any = f.dataType match {
    case StringType  => if (r.nextInt(10) == 0) null else f.name + "-" + word(r)
    case BooleanType => java.lang.Boolean.valueOf(r.nextBoolean())
    case DateType    => java.sql.Date.valueOf(LocalDate.ofEpochDay(epochDay0 + r.nextInt(1500)))
    case other => throw new IllegalArgumentException(s"no flat generator for $other")
  }
}
