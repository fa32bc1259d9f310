package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.GraftSession
import graft.schema.TableSpec

/** Golden fingerprints of every spec's transform over a fixed canary
  * corpus, recorded when the benchmark was defined.
  *
  * A `migrate` run derives its expected tables from the spec's own
  * transform, so that check alone cannot see a change in what the
  * transform lands. The canary can: the corpus comes from a fixed seed,
  * whatever seed the run has, and covers the same document shapes, so any
  * change in the transform's output shows as a changed fingerprint.
  *
  * After a deliberate change of the landed tables, print the new values
  * with `java -cp <classpath> perfbench.Golden <scratch dir>` (the
  * classpath is the last line of `sbt "export Runtime/fullClasspath"` in
  * perfbench/, with the JVM options run.py passes) and paste them here.
  */
object Golden {
  val CanarySeed = 20221005L
  val CanaryDocs = 300

  /** table -> fingerprint of its transformed canary rows (no `id`). */
  val transform: Map[String, Fingerprint] = Map(
    "accounts" -> Fingerprint(300L, -1169676573379974328L),
    "agribusinesses" -> Fingerprint(300L, 7604010967658858186L),
    "cashflow_events" -> Fingerprint(300L, -7110115471363837426L),
    "cashflow_events_goals" -> Fingerprint(300L, 4141046702689594549L),
    "invoices" -> Fingerprint(300L, -1964552366035942010L),
    "loanapplications" -> Fingerprint(517L, 917430120157197184L),
    "loandeals" -> Fingerprint(300L, -4262483360821579212L),
    "loanoffers" -> Fingerprint(300L, 3021251267774809921L),
    "loanproducts" -> Fingerprint(300L, -679212328363981414L),
    "mlscore" -> Fingerprint(300L, 4940180144831687195L),
    "organizations" -> Fingerprint(300L, 3053031613608687534L),
    "trades" -> Fingerprint(300L, 1945960973407122302L),
    "users" -> Fingerprint(300L, 4077050963754168625L))

  /** Spark's own JSON reader over `path` under the spec's source schema. */
  def readBuiltin(spark: SparkSession, spec: TableSpec, path: String): DataFrame =
    spark.read.schema(spec.source).json(path)

  /** Writes the canary corpus under `dir` and fingerprints each spec's
    * transform over it.
    */
  def canary(spark: SparkSession, specs: Seq[TableSpec], dir: Path): Map[String, Fingerprint] = {
    Files.createDirectories(dir)
    val gen = new Gen(CanarySeed)
    specs.map { s =>
      gen.writeCollection(s, CanaryDocs, dir)
      val cols = Pipes.flatSchema(s).fieldNames.toSeq
      val rows = s.transform(readBuiltin(spark, s, dir.resolve(s.collection + ".jsonl").toString))
        .select(cols.map(col): _*).collect()
      s.table -> Fingerprint.of(rows.iterator.map(r => (0 until r.length).map(r.get)))
    }.toMap
  }

  /** The first table whose canary fingerprint differs from the golden one. */
  def mismatch(got: Map[String, Fingerprint]): Option[String] =
    got.toSeq.sortBy(_._1).collectFirst {
      case (t, fp) if !transform.get(t).contains(fp) =>
        s"$t: transform of the canary corpus gives $fp, golden ${transform.get(t)}"
    }

  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    val spark = GraftSession.builder("local[2]", 2).getOrCreate()
    try canary(spark, Pipes.derbySpecs, dir).toSeq.sortBy(_._1).foreach { case (t, fp) =>
      println(s"""    "$t" -> Fingerprint(${fp.rows}L, ${fp.hash}L),""")
    } finally spark.stop()
  }
}
