package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.keys.{GlobalIndex, SurrogateKeys}
import graft.ops.{Dedup, Packing, UpsertSplit}

/** Unit semantics for the key-management operators (SURVEY §2 T6/Q7/Q8 +
  * Q5/Q6), oracle: /root/reference/dags/includes/utils.py:5-39 behavior.
  */
class KeysSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val existing = Seq((10L, "b"), (7L, "d")).toDF("id", "_id")
  private val incoming = Seq("a", "b", "c", "d", "e").toDF("_id")

  test("reconcile keeps existing ids and numbers new keys contiguously in key order") {
    val out = SurrogateKeys.reconcile(existing, incoming, "_id")
      .orderBy("_id").as[(String, Long)].collect().toSeq
    // max existing id = 10; new keys a, c, e get 11, 12, 13 in _id order
    assert(out == Seq(("a", 11L), ("b", 10L), ("c", 12L), ("d", 7L), ("e", 13L)))
  }

  test("reconcile with empty existing starts at 1") {
    val out = SurrogateKeys.reconcile(existing.filter(lit(false)), incoming, "_id")
      .orderBy("_id").as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L), ("e", 5L)))
  }

  test("reconcileAtScale matches reconcile") {
    val a = SurrogateKeys.reconcile(existing, incoming, "_id")
      .orderBy("_id").collect().toSeq
    val b = SurrogateKeys.reconcileAtScale(existing, incoming, "_id")
      .select("_id", "id").orderBy("_id").collect().toSeq
    assert(a == b)
  }

  test("reconcile over duplicate live keys emits each incoming row once, with the largest live id") {
    // live keys are unique under the conflict key's UNIQUE; when that
    // precondition is broken, a row is never repeated (a join would emit
    // it once per live row) and takes the largest of its key's live ids
    val dupLive = Seq((10L, "b"), (4L, "b"), (7L, "d"), (3L, "d")).toDF("id", "_id")
    val out = SurrogateKeys.reconcile(dupLive, incoming, "_id")
      .orderBy("_id").as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 11L), ("b", 10L), ("c", 12L), ("d", 7L), ("e", 13L)))
  }

  test("reconcile refuses incoming rows that already carry the id column") {
    val e = intercept[IllegalArgumentException] {
      SurrogateKeys.reconcile(existing, existing, "_id")
    }
    assert(e.getMessage.contains("id column"))
  }

  test("reconcile id assignment is a bijection onto incoming") {
    val out = SurrogateKeys.reconcile(existing, incoming, "_id")
    assert(out.count() == 5)
    assert(out.select("id").distinct().count() == 5)
  }

  test("reconcile is stable under permutation of incoming rows") {
    val shuffled = incoming.orderBy(rand(seed = 1))
    val a = SurrogateKeys.reconcile(existing, incoming, "_id").orderBy("_id").collect().toSeq
    val b = SurrogateKeys.reconcile(existing, shuffled, "_id").orderBy("_id").collect().toSeq
    assert(a == b)
  }

  test("reconcile numbers duplicate business keys deterministically and matches reconcileAtScale") {
    // duplicate NEW keys (legal when reconciling on a non-unique key):
    // numbering must tiebreak on the remaining columns, so ids are
    // reproducible and both variants agree
    val dup = Seq(("a", 2), ("a", 1), ("b", 9), ("c", 5), ("c", 4)).toDF("_id", "v")
    val a = SurrogateKeys.reconcile(existing, dup, "_id")
      .select("_id", "v", "id").orderBy("_id", "v").as[(String, Int, Long)].collect().toSeq
    val b = SurrogateKeys.reconcileAtScale(existing, dup, "_id")
      .select("_id", "v", "id").orderBy("_id", "v").as[(String, Int, Long)].collect().toSeq
    val expected = Seq(("a", 1, 11L), ("a", 2, 12L), ("b", 9, 10L),
      ("c", 4, 13L), ("c", 5, 14L))
    assert(a == expected)
    assert(b == expected)
  }

  test("globalIndex assigns 1..n in total order across partitions") {
    val df = spark.range(1000).toDF("v").repartition(8)
    val out = GlobalIndex.withGlobalIndex(df, Seq(col("v").desc), "pos")
    val rows = out.orderBy("pos").as[(Long, Long)].collect()
    assert(rows.length == 1000)
    assert(rows.head == ((999L, 1L)))
    assert(rows.last == ((0L, 1000L)))
    assert(rows.map(_._2).toSeq == (1L to 1000L))
  }

  test("globalIndex honors the offset") {
    val out = GlobalIndex.withGlobalIndex(spark.range(3).toDF("v"), Seq(col("v")), "pos", offset = 100L)
    assert(out.select(min("pos"), max("pos")).as[(Long, Long)].head() == ((101L, 103L)))
  }

  test("withRunningSum equals the single-partition window prefix sum") {
    val rows = (1 to 500).map(i => ((i * 13) % 997L, ((i * 7) % 50).toLong))
    val df = rows.toDF("k", "v").repartition(8)
    val got = GlobalIndex
      .withRunningSum(df, Seq(col("k").asc), "v", "cum")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val expected = rows.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (k, v)) => (k, v, acc + v) }
      .drop(1)
    assert(got.toSeq == expected)
  }

  test("withRunningSum rejects non-long value columns") {
    val df = Seq((1L, 1.5)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      GlobalIndex.withRunningSum(df, Seq(col("k")), "v", "cum")
    }
    assert(e.getMessage.contains("LongType"))
  }

  test("packSequences: documents span cuts, offsets are in-chunk exact") {
    // tokens 1000,1500,600,2048,4 in id order; maxTokens 2048:
    //   starts 0,1000,2500,3100,5148 -> seq 0,0,1,1,2 offsets 0,1000,452,1052,1052
    val docs = Seq((1L, 1000L), (2L, 1500L), (3L, 600L), (4L, 2048L), (5L, 4L))
      .toDF("doc_id", "n_tokens").repartition(4)
    val got = Packing
      .packSequences(docs, Seq(col("doc_id").asc), "n_tokens", 2048L)
      .select("doc_id", "seq_id", "seq_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 0L, 0L), (2L, 0L, 1000L), (3L, 1L, 452L),
      (4L, 1L, 1052L), (5L, 2L, 1052L)))
  }

  test("packSequences invariants hold on random token streams") {
    val rnd = new scala.util.Random(99)
    val docs = (1L to 300L).map(i => (i, 1L + rnd.nextInt(4000)))
    val max = 2048L
    val got = Packing
      .packSequences(docs.toDF("doc_id", "n_tokens").repartition(8),
        Seq(col("doc_id").asc), "n_tokens", max)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // offsets bounded; seq_id nondecreasing in layout order; each doc's
    // start position reconstructs the exclusive prefix sum exactly
    var prefix = 0L
    for ((docId, n, seqId, off) <- got) {
      assert(off >= 0 && off < max, s"doc $docId offset $off")
      assert(seqId == prefix / max, s"doc $docId seq $seqId")
      assert(off == prefix % max, s"doc $docId off $off")
      prefix += n
    }
    assert(prefix == docs.map(_._2).sum) // token mass preserved
  }

  test("slidingChunks: windows cover every token with exact overlap") {
    // 10 tokens, chunk 4, stride 3 -> starts 0,3,6 plus final partial at 9?
    // m = ceil((10-4)/3)+1 = 3 -> starts 0,3,6: [t0..t3],[t3..t6],[t6..t9]
    val docs = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val got = Packing.slidingChunks(docs, "doc_id", "text", chunkSize = 4, stride = 3)
      .as[(Long, Long, String, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 0L, "t0 t1 t2 t3", 4), (1L, 1L, "t3 t4 t5 t6", 4),
      (1L, 2L, "t6 t7 t8 t9", 4),
      (2L, 0L, "a b", 2), (3L, 0L, "solo", 1)))
  }

  test("slidingChunks invariants hold on random documents") {
    val rnd = new scala.util.Random(2024)
    val docs = (1L to 60L).map(i =>
      (i, (0 until (1 + rnd.nextInt(200))).map(j => s"w$j").mkString(" ")))
    val (c, s) = (16, 11)
    val got = Packing.slidingChunks(docs.toDF("doc_id", "text"), "doc_id", "text", c, s)
      .as[(Long, Long, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    for ((id, text) <- docs) {
      val toks = text.split(" ").toSeq
      val chunks = got(id)
      // indexes contiguous from 0; every chunk is the exact token slice;
      // union of chunks covers all tokens; only the last may be short
      assert(chunks.map(_._2).toSeq == (0L until chunks.length.toLong).toSeq)
      for ((_, k, chunkText, n) <- chunks) {
        val expect = toks.slice(k.toInt * s, k.toInt * s + c)
        assert(chunkText == expect.mkString(" "), s"doc $id chunk $k")
        assert(n == expect.length)
      }
      assert(chunks.init.forall(_._4 == c))
      assert(chunks.last._2 * s + chunks.last._4 == toks.length,
        s"doc $id tail coverage")
    }
  }

  test("keepFirst keeps exactly the first row per key under the order") {
    val df = Seq(("k1", 2, "b"), ("k1", 1, "a"), ("k2", 5, "z")).toDF("k", "ord", "v")
    val out = Dedup.keepFirst(df, Seq("k"), Seq(col("ord").asc))
      .orderBy("k").as[(String, Int, String)].collect().toSeq
    assert(out == Seq(("k1", 1, "a"), ("k2", 5, "z")))
  }

  test("upsert split flags known keys as update, new as insert; halves partition the input") {
    val keys = Seq("b", "d").toDF("_id")
    val out = UpsertSplit.split(incoming, keys, "_id")
      .orderBy("_id").as[(String, String)].collect().toSeq
    assert(out == Seq(("a", "insert"), ("b", "update"), ("c", "insert"),
      ("d", "update"), ("e", "insert")))
    assert(UpsertSplit.inserts(incoming, keys, "_id").count() == 3)
    assert(UpsertSplit.updates(incoming, keys, "_id").count() == 2)
  }

  test("content-defined chunking re-synchronizes after an insertion") {
    // doc 2 = doc 1 with one token PREPENDED: fixed-window chunking would
    // shift every chunk; CDC boundaries derive from token content, so all
    // chunks after the first boundary stay byte-identical and surface as
    // duplicate digests spanning both docs
    val words = (1 to 400).map(i => s"w$i").mkString(" ")
    val docs = Seq(1L -> words, 2L -> s"inserted $words").toDF("doc_id", "text")
    val dups = Packing.contentDefinedChunks(docs, "doc_id", "text").collect()
    assert(dups.nonEmpty)
    // every duplicate digest here must span both documents exactly once
    assert(dups.forall(r =>
      r.getAs[Long]("n_occ") == 2L && r.getAs[Long]("n_docs") == 2L))
  }
}
