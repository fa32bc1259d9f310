package perfbench

import java.sql.{Connection, DriverManager}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.types.StructType

/** Order-independent content fingerprint of a table: the row count plus the
  * wrapping sum of 64-bit row hashes, where a row is rendered column by
  * column in the target schema's order (the surrogate `id` included, so the
  * id each key carries is part of the content).
  */
final case class Fingerprint(rows: Long, hash: Long)

object Fingerprint {

  def render(v: Any): String = v match {
    case null                    => "␀"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other                   => other.toString
  }

  def rowHash(values: Seq[Any]): Long = {
    val s = values.map(render).mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def of(rows: Iterator[Seq[Any]]): Fingerprint = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    Fingerprint(n, h)
  }
}

/** Reads a landed table back over one plain JDBC connection (no Spark), so
  * a check never depends on the code it checks.
  */
object TargetCheck {

  private def q(ident: String) = "\"" + ident + "\""

  def withConn[T](url: String)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def tableExists(url: String, table: String): Boolean = withConn(url) { c =>
    val rs = c.getMetaData.getTables(null, null, table, null)
    try rs.next() finally rs.close()
  }

  /** Fingerprint of `table` plus its (id, key) pairs in key order. */
  def read(url: String, table: String, schema: StructType, key: String)
      : (Fingerprint, Array[(Long, String)]) = withConn(url) { c =>
    val cols = schema.fieldNames
    val keyIdx = cols.indexOf(key)
    val rs = c.createStatement().executeQuery(
      s"SELECT ${cols.map(q).mkString(", ")} FROM ${q(table)}")
    val ids = Array.newBuilder[(Long, String)]
    var n = 0L
    var h = 0L
    while (rs.next()) {
      val row = cols.indices.map(i => rs.getObject(i + 1))
      n += 1
      h += Fingerprint.rowHash(row)
      ids += ((rs.getLong(1), String.valueOf(row(keyIdx))))
    }
    rs.close()
    (Fingerprint(n, h), ids.result().sortBy(_._2))
  }

  /** Compares a landed table with the expected one; returns the mismatch
    * or None.
    */
  def compare(url: String, table: String, schema: StructType, key: String,
      expected: Fingerprint, expectedIds: Array[(Long, String)]): Option[String] = {
    val (fp, ids) = read(url, table, schema, key)
    if (fp.rows != expected.rows)
      Some(s"$table: ${fp.rows} rows, expected ${expected.rows}")
    else if (!ids.sameElements(expectedIds)) {
      val i = ids.indices.find(j => ids(j) != expectedIds(j)).get
      Some(s"$table: id/key mismatch at key rank $i: got ${ids(i)}, expected ${expectedIds(i)}")
    } else if (fp.hash != expected.hash)
      Some(s"$table: content fingerprint differs")
    else None
  }
}

/** The benchmark's own model of a live table: key -> (id, flat values in
  * target-schema order without `id`). Deltas and snapshots are applied to
  * it with the engine's documented contract (known keys keep their id and
  * take the policy's update set; new keys get max+1… in key order), so the
  * expected table never comes from the code under test.
  */
final class TableModel(val schema: StructType, val key: String, val updateCols: Seq[String]) {
  val flatCols: Array[String] = schema.fieldNames.filter(_ != "id")
  private val keyIdx = flatCols.indexOf(key)
  private val updIdx = updateCols.map(c => flatCols.indexOf(c)).toArray
  val rows = scala.collection.mutable.HashMap.empty[String, (Long, Array[Any])]

  def keyOf(v: Array[Any]): String = v(keyIdx).asInstanceOf[String]
  def updateIdx: Array[Int] = updIdx
  def maxId: Long = if (rows.isEmpty) 0L else rows.valuesIterator.map(_._1).max

  /** Upsert a batch under the update-set policy. */
  def upsert(batch: Seq[Array[Any]]): Unit = {
    val (known, fresh) = batch.partition(v => rows.contains(keyOf(v)))
    known.foreach { v =>
      val (id, old) = rows(keyOf(v))
      val next = old.clone()
      updIdx.foreach(i => next(i) = v(i))
      rows(keyOf(v)) = (id, next)
    }
    val base = maxId
    fresh.sortBy(keyOf).zipWithIndex.foreach { case (v, i) =>
      rows(keyOf(v)) = (base + i + 1, v)
    }
  }

  def delete(keys: Iterable[String]): Unit = keys.foreach(rows.remove)

  def expected: (Fingerprint, Array[(Long, String)]) = {
    val fp = Fingerprint.of(rows.valuesIterator.map { case (id, v) =>
      java.lang.Long.valueOf(id) +: v.toSeq })
    (fp, rows.iterator.map { case (k, (id, _)) => (id, k) }.toArray.sortBy(_._2))
  }
}
