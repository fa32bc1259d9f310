package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RandomProjectKernel
import graft.ops.{Classifier, ProductQuantize, Quantize, Similarity}

/** Unit semantics for the embedding-compression trio: sign random
  * projection (JL), int8 scalar quantization, and the hashed linear
  * classifier filter.
  */
class ProjectQuantizeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def randVec(seed: Int, dim: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextFloat() - 0.5f)
  }

  // ---- random projection -------------------------------------------------

  test("sign mix is balanced and not rank-1 (no s_i XOR s_j structure)") {
    val dim = 64; val out = 16
    val signs = Array.tabulate(dim, out)((i, j) => RandomProjectKernel.sign(i, j, 42L))
    val total = signs.flatten.sum
    assert(math.abs(total) < dim * out / 4, s"unbalanced: $total")
    // a rank-1 sign matrix has |column dot| = dim for every column pair;
    // require every pair decorrelated well below that
    for (a <- 0 until out; b <- (a + 1) until out) {
      val d = (0 until dim).map(i => signs(i)(a) * signs(i)(b)).sum
      assert(math.abs(d) < dim / 2, s"columns $a,$b correlated: $d")
    }
  }

  test("projection preserves planted-duplicate nearest neighbors") {
    val dim = 64
    val base = (0 until 40).map(i => (i.toLong, randVec(i, dim)))
    // plant an exact duplicate of vec 0 at id 100: after ANY linear map
    // its image is identical, so it must be the projected top-1 of vec 0
    val df = (base :+ (100L, base.head._2)).toDF("vec_id", "embedding")
    val proj = df.select(col("vec_id"),
      Similarity.randomProject(col("embedding"), 8, 42).as("p"))
    val rows = proj.as[(Long, Array[Long])].collect().toMap
    assert(rows(0L).sameElements(rows(100L)))
    // and distinct vectors project to distinct images (no collapse)
    assert(rows.values.map(_.toSeq).toSet.size == 41 - 1)
  }

  test("projected distances separate near pairs from far pairs (JL)") {
    val dim = 64
    // pairs at well-separated original distances: ε-perturbed copies vs
    // independent vectors. JL guarantees approximate preservation only
    // up to (1 ± ε) distortion, so the testable contract is separation
    // of SCALES, not total rank order among concentrated random pairs.
    val base = (0 until 10).map(i => randVec(1000 + i, dim))
    def perturb(v: Array[Float], eps: Float, s: Int): Array[Float] = {
      val r = new scala.util.Random(s)
      v.map(x => x + (r.nextFloat() - 0.5f) * eps)
    }
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 10L, v), (i * 10L + 1, perturb(v, 0.02f, i)))
    }
    val proj = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.randomProject(col("embedding"), 16, 42).as("p"))
      .as[(Long, Array[Long])].collect().toMap
    def pd2(a: Array[Long], b: Array[Long]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val nearMax = base.indices.map(i =>
      pd2(proj(i * 10L), proj(i * 10L + 1))).max
    val farMin = (for (i <- base.indices; j <- base.indices if i != j)
      yield pd2(proj(i * 10L), proj(j * 10L))).min
    assert(nearMax < farMin,
      s"every ε-pair ($nearMax) must project closer than every independent pair ($farMin)")
  }

  // ---- hashed document embeddings ---------------------------------------

  test("graft_hash_embed equals the composed buckets→sign reference") {
    import graft.ops.{Dsir, TextAnalysis}
    val texts = Seq("apple banana apple", "single",
      "the quick brown fox jumps over the lazy dog", "a b c a b", "zz")
    val (buckets, outDim, seed) = (64, 8, 42)
    val got = texts.toDF("text")
      .select(col("text"), TextAnalysis.hashEmbed(col("text"), buckets, outDim, seed).as("e"))
      .as[(String, Array[Long])].collect().toMap
    // reference: explicit bucket occurrences, signs summed on the driver
    val bucketRows = texts.toDF("text")
      .select(col("text"), graft.ops.Dsir.featureBucketsNative(col("text"), buckets).as("bs"))
      .as[(String, Array[Long])].collect().toMap
    texts.foreach { t =>
      val expect = (0 until outDim).map(j =>
        bucketRows(t).map(b =>
          graft.functions.RandomProjectKernel.sign(b.toInt, j, seed)).sum)
      assert(got(t).toSeq == expect, t)
    }
  }

  test("hashed embeddings: identical texts tie, shared features pull closer") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "data quality filters for corpus curation pipelines"),
      (2L, "data quality filters for corpus curation pipelines"), // exact dup
      (3L, "data quality filters for large corpus curation work"), // near
      (4L, "zebra xylophone quark umbrella nebula wombat"))        // unrelated
      .toDF("doc_id", "text")
    val e = df.select(col("doc_id"),
        TextAnalysis.hashEmbed(col("text"), 512, 16, 42).as("e"))
      .as[(Long, Array[Long])].collect().toMap
    assert(e(1L).sameElements(e(2L)))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    assert(cos(e(1L), e(3L)) > cos(e(1L), e(4L)),
      "near-duplicate must sit closer than the unrelated text")
  }

  // ---- scalar quantization ----------------------------------------------

  test("codes are integral, clamped to [0, 255], and exact duplicates tie") {
    val dim = 16
    val base = (0 until 25).map(i => (i.toLong, randVec(i, dim)))
    val df = base.toDF("vec_id", "embedding")
    val (mn, mx) = Quantize.dimStats(df, "embedding")
    val codes = df.select(col("vec_id"),
        Quantize.codes(col("embedding"), mn, mx).as("c"))
      .as[(Long, Array[Float])].collect()
    codes.foreach { case (_, c) =>
      assert(c.length == dim)
      c.foreach(v => assert(v == math.rint(v) && v >= 0f && v <= 255f))
    }
    // a vector OUTSIDE the corpus range clamps, never wraps
    val hot = Seq((999L, Array.fill(dim)(10f))).toDF("vec_id", "embedding")
    val hc = hot.select(Quantize.codes(col("embedding"), mn, mx))
      .as[Array[Float]].head()
    assert(hc.forall(_ == 255f))
  }

  test("dimStats accepts array<double> corpora like the sibling vector APIs") {
    val f = (0 until 10).map(i => (i.toLong, randVec(i, 4))).toDF("vec_id", "embedding")
    val d = f.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("embedding"))
    val (fm, fx) = Quantize.dimStats(f, "embedding")
    val (dm, dx) = Quantize.dimStats(d, "embedding")
    // float→double widening is exact, so the stats agree bit-for-bit
    assert(dm == fm && dx == fx)
  }

  test("quantized top-1 finds a planted exact duplicate") {
    val dim = 32
    val base = (0 until 40).map(i => (i.toLong, randVec(50 + i, dim)))
    val corpus = (base :+ (100L, base.head._2)).toDF("vec_id", "embedding")
    val top = Quantize.quantizedTopK(
      corpus.filter(col("vec_id") === 0), corpus, "vec_id", "embedding", 1)
      .select("neighbor_id").as[Long].head()
    assert(top == 100L, "identical codes maximize the integer dot")
  }

  test("dequantization error is bounded by half a step per dimension") {
    val dim = 24
    val df = (0 until 50).map(i => (i.toLong, randVec(400 + i, dim)))
      .toDF("vec_id", "embedding")
    val (mn, mx) = Quantize.dimStats(df, "embedding")
    val rows = df.select(col("vec_id"), col("embedding"),
        Quantize.codes(col("embedding"), mn, mx).as("c"))
      .as[(Long, Array[Float], Array[Float])].collect()
    rows.foreach { case (_, x, c) =>
      for (i <- 0 until dim) {
        val step = (mx(i) - mn(i)) / 255.0
        val dequant = mn(i) + c(i) * step
        // in-range values round to the nearest code: error <= step/2
        // (plus an ulp of slack for the double arithmetic)
        assert(math.abs(dequant - x(i)) <= step / 2 + 1e-9,
          s"dim $i: x=${x(i)} code=${c(i)} dequant=$dequant step=$step")
      }
    }
  }

  test("constant dimension quantizes to 0, not NaN/divide-by-zero") {
    val df = Seq((1L, Array(1f, 0.5f)), (2L, Array(1f, -0.5f)))
      .toDF("vec_id", "embedding")
    val (mn, mx) = Quantize.dimStats(df, "embedding")
    val c = df.orderBy("vec_id")
      .select(Quantize.codes(col("embedding"), mn, mx))
      .as[Array[Float]].collect()
    assert(c(0)(0) == 0f && c(1)(0) == 0f) // mx == mn → code 0
    assert(c(0)(1) == 255f && c(1)(1) == 0f)
  }

  test("IVF-SQ8 finds planted exact duplicates at distance 0 in one probe") {
    val dim = 32
    val base = (0 until 60).map(i => (i.toLong, randVec(200 + i, dim)))
    val corpus = (base ++ Seq((500L, base(3)._2), (501L, base(3)._2)))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 4)
    val (mn, mx) = Quantize.dimStats(corpus, "embedding")
    val assigned = Quantize.assignCellsSq8(
      corpus, "vec_id", "embedding", index, mn, mx)
    val top = Quantize.ivfSq8TopK(index,
        corpus.filter(col("vec_id") === 3), assigned, "vec_id", "embedding",
        mn, mx, k = 2, nProbe = 1)
      .orderBy("rank").select("neighbor_id", "qdist")
      .as[(Long, Long)].collect().toSeq
    assert(top == Seq((500L, 0L), (501L, 0L)),
      "identical codes in the query's own cell, distance exactly 0")
  }

  test("SQ8 squared-L2 expansion equals the direct code difference sum") {
    val dim = 16
    val rows = (0 until 12).map(i => (i.toLong, randVec(300 + i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val (mn, mx) = Quantize.dimStats(df, "embedding")
    val index = Similarity.buildIvfIndex(df, "vec_id", "embedding",
      numCentroids = 2)
    val assigned = Quantize.assignCellsSq8(df, "vec_id", "embedding", index, mn, mx)
    val got = Quantize.ivfSq8TopK(index, df, assigned, "vec_id", "embedding",
        mn, mx, k = 3, nProbe = 2)
      .select("query_id", "neighbor_id", "qdist")
      .as[(Long, Long, Long)].collect()
    val codes = df.select(col("vec_id"), Quantize.codes(col("embedding"), mn, mx))
      .as[(Long, Array[Float])].collect().toMap
    got.foreach { case (q, n, dist) =>
      val direct = codes(q).zip(codes(n))
        .map { case (a, b) => ((a - b) * (a - b)).toLong }.sum
      assert(dist == direct, s"($q,$n)")
    }
  }

  // ---- product quantization ----------------------------------------------

  test("PQ codes are per-subspace indices in [0, k); exact duplicates share codes") {
    val dim = 32
    val base = (0 until 60).map(i => (i.toLong, randVec(200 + i, dim)))
    val corpus = (base ++ base.take(5).map { case (id, v) => (id + 500, v) })
      .toDF("vec_id", "embedding")
    val cb = ProductQuantize.train(corpus, "vec_id", "embedding", dim,
      m = 4, k = 8, iters = 2)
    assert(cb.m == 4 && cb.k == 8 && cb.subDim == 8)
    val codes = corpus.select(col("vec_id"),
        ProductQuantize.encodeExpr(col("embedding"), cb).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    codes.values.foreach { c =>
      assert(c.length == 4 && c.forall(j => j >= 0 && j < 8), c.toString)
    }
    (0 until 5).foreach(i =>
      assert(codes(i.toLong) == codes(i + 500L), s"dup $i code drifted"))
    // codes are not degenerate: more than one distinct code in use
    assert(codes.values.toSet.size > 1)
  }

  test("IVF-PQ finds planted exact duplicates at the top ranks in one probe") {
    val dim = 32
    val base = (0 until 50).map(i => (i.toLong, randVec(300 + i, dim)))
    // 3 exact copies of each of the first 10 vectors, at high ids
    val corpus = (base ++ (for {
      (id, v) <- base.take(10); c <- 1 to 3
    } yield (1000 + id * 10 + c, v))).toDF("vec_id", "embedding")
    val queries = base.take(10).toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 4)
    val cb = ProductQuantize.train(corpus, "vec_id", "embedding", dim,
      m = 4, k = 16, iters = 2)
    val encoded = ProductQuantize.encode(corpus, "vec_id", "embedding", index, cb)
    val got = ProductQuantize.ivfPqTopK(index, cb, queries, encoded,
        "vec_id", "embedding", topK = 3, nProbe = 1)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._3).map(_._2).toSeq }
    (0 until 10).foreach { i =>
      assert(got(i.toLong) == Seq(1001L + i * 10, 1002L + i * 10, 1003L + i * 10),
        s"query $i: ${got(i.toLong)}")
    }
  }

  test("residual PQ reconstructs clustered data tighter than raw PQ, and keeps planted recall") {
    val dim = 16
    val rnd = new scala.util.Random(11)
    // clustered corpus: points tight around 3 well-separated centers —
    // the regime where residuals are small and by_residual=true pays
    val centers = Seq.fill(3)(Array.fill(dim)(rnd.nextGaussian().toFloat * 4f))
    val base = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.3f))
    }
    val corpus = (base ++ base.take(6).map { case (id, v) => (id + 500, v) })
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 3)
    val raw = ProductQuantize.train(corpus, "vec_id", "embedding", dim,
      m = 4, k = 4, iters = 2)
    val res = ProductQuantize.trainResidual(corpus, "vec_id", "embedding",
      index, dim, m = 4, k = 4, iters = 2)
    // mean squared reconstruction error, decoded test-side:
    // raw: x ≈ cb[code(x)]; residual: x ≈ coarse[cell] + cb[code(x − coarse)]
    val cents = index.centroids
    val rawCodes = ProductQuantize.encode(corpus, "vec_id", "embedding", index, raw)
      .select("vec_id", "code").as[(Long, Seq[Int])].collect().toMap
    val resCodes = ProductQuantize.encodeResidual(corpus, "vec_id", "embedding", index, res)
      .select("vec_id", "cell", "code").as[(Long, Int, Seq[Int])].collect()
      .map { case (id, cell, code) => id -> (cell, code) }.toMap
    val vecs = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def recon(cb: ProductQuantize.PqCodebooks, code: Seq[Int],
        baseVec: Array[Double]): Array[Double] =
      baseVec.indices.map { d =>
        baseVec(d) + cb.books(d / cb.subDim)(code(d / cb.subDim))(d % cb.subDim)
      }.toArray
    def mse(pairs: Iterable[(Array[Float], Array[Double])]): Double =
      pairs.map { case (x, y) =>
        x.indices.map(d => (x(d) - y(d)) * (x(d) - y(d))).sum
      }.sum / pairs.size
    val rawErr = mse(vecs.map { case (id, x) =>
      (x, recon(raw, rawCodes(id), Array.fill(dim)(0.0))) })
    val resErr = mse(vecs.map { case (id, x) =>
      val (cell, code) = resCodes(id)
      (x, recon(res, code, cents(cell).map(_.toDouble).toArray)) })
    assert(resErr < rawErr,
      f"residual mode should reconstruct tighter: res=$resErr%.4f raw=$rawErr%.4f")
    // planted recall holds in residual mode at one probe — at a codebook
    // resolution where tight-cluster neighbors don't collide in code
    // space (k=4 above is deliberately coarse to expose reconstruction
    // error; a full-code collision there ties a neighbor with the copy)
    val fine = ProductQuantize.trainResidual(corpus, "vec_id", "embedding",
      index, dim, m = 4, k = 16, iters = 2)
    val queries = base.take(6).toDF("vec_id", "embedding")
    val encoded = ProductQuantize.encodeResidual(corpus, "vec_id", "embedding", index, fine)
    val got = ProductQuantize.ivfPqResTopK(index, fine, queries, encoded,
        "vec_id", "embedding", topK = 1, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0 until 6).foreach(i => assert(got(i.toLong) == i + 500L, s"query $i: ${got.get(i.toLong)}"))
  }

  test("PQ codebooks round-trip the save/load lifecycle") {
    val dim = 16
    val corpus = (0 until 40).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val cb = ProductQuantize.train(corpus, "vec_id", "embedding", dim,
      m = 4, k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pqcb").toString
    ProductQuantize.saveCodebooks(spark, cb, s"$dir/cb")
    val back = ProductQuantize.loadCodebooks(spark, s"$dir/cb")
    assert(back == cb)
  }

  test("OPQ quantizer artifact persists the rotation; mismatched loaders refuse") {
    val dim = 16
    val corpus = (0 until 50).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val rot = ProductQuantize.trainOpqRotation(corpus, "vec_id", "embedding",
      dim, m = 4, k = 4, opqIters = 1, lloydIters = 1)
    val cb = ProductQuantize.train(corpus, "vec_id", "embedding", dim,
      m = 4, k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("opqcb").toString
    ProductQuantize.saveOpqCodebooks(spark, cb, rot, dim, s"$dir/pq")
    val (cb2, rot2, dim2) = ProductQuantize.loadOpqCodebooks(spark, s"$dir/pq")
    // doubles round-trip parquet BIT-EXACTLY — loaded-rotation outputs
    // must equal training-time outputs bit-for-bit
    assert(cb2 == cb && dim2 == dim && rot2.sameElements(rot))
    // the rotation-less loader must refuse an OPQ artifact: its codes
    // encode rotated vectors, and searching them without R silently
    // loses recall — the composition hole the lifecycle closes
    val e = intercept[IllegalArgumentException](
      ProductQuantize.loadCodebooks(spark, s"$dir/pq"))
    assert(e.getMessage.contains("loadOpqCodebooks"))
    ProductQuantize.saveCodebooks(spark, cb, s"$dir/plain")
    val e2 = intercept[IllegalArgumentException](
      ProductQuantize.loadOpqCodebooks(spark, s"$dir/plain"))
    assert(e2.getMessage.contains("no rotation"))
  }

  test("encoded append is replay-idempotent and searches like a from-scratch union encode") {
    val dim = 16
    val base = (0 until 60).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    // the batch: exact copies of vecs 0..5 at fresh ids
    val batch = (0 until 6).map(i => ((500 + i).toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(base, "vec_id", "embedding",
      numCentroids = 4, lloydIters = 1)
    val cb = ProductQuantize.train(base, "vec_id", "embedding", dim,
      m = 4, k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pqapp").toString
    ProductQuantize.saveEncoded(ProductQuantize.encode(
      base, "vec_id", "embedding", index, cb), s"$dir/codes")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Seq[Int])] =
      df.select("vec_id", "cell", "code").as[(Long, Int, Seq[Int])]
        .collect().toSet
    val scratch = rows(ProductQuantize.encode(
      base.unionByName(batch), "vec_id", "embedding", index, cb))
    // a Set compare alone passes duplicated rows: also pin the row COUNT
    def load() = ProductQuantize.loadEncoded(spark, s"$dir/codes")
    def assertExact(step: String): Unit = {
      val df = load()
      assert(rows(df) == scratch, s"$step: row set != union encode")
      assert(df.count() == scratch.size.toLong,
        s"$step: ${df.count()} rows for ${scratch.size} distinct")
    }

    ProductQuantize.appendEncodedBatch(index, cb, batch, "vec_id",
      "embedding", s"$dir/codes", batchTag = "b1")
    // REPLAY of the same tag: deterministic dir + overwrite must
    // converge — append-twice ≡ append-once
    ProductQuantize.appendEncodedBatch(index, cb, batch, "vec_id",
      "embedding", s"$dir/codes", batchTag = "b1")
    val loaded = ProductQuantize.loadEncoded(spark, s"$dir/codes")
    assert(rows(loaded) == scratch, "appended artifact != union encode")
    assertExact("replayed append")

    // search-after-append row-identical to searching the union encode
    val queries = base.filter(col("vec_id") < 6)
    def search(enc: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      ProductQuantize.ivfPqTopK(index, cb, queries, enc, "vec_id",
          "embedding", topK = 3, nProbe = 2)
        .as[(Long, Long, Int)].collect().toSet
    assert(search(loaded) == search(ProductQuantize.encode(
      base.unionByName(batch), "vec_id", "embedding", index, cb)))

    // compaction folds the batch dir into the next generation; the row
    // set is invariant and the folded dir is gone
    assert(ProductQuantize.compactEncoded(spark, s"$dir/codes")
      .contains(1L))
    assert(rows(ProductQuantize.loadEncoded(spark, s"$dir/codes")) == scratch)
    assertExact("fold")
    assert(!new java.io.File(s"$dir/codes/batch=b1").exists())

    // a LATE replay of the already-folded tag re-creates the dir; the
    // manifest keeps readers from double-counting it and the next
    // compaction finish-cleans it instead of re-folding
    ProductQuantize.appendEncodedBatch(index, cb, batch, "vec_id",
      "embedding", s"$dir/codes", batchTag = "b1")
    assert(rows(ProductQuantize.loadEncoded(spark, s"$dir/codes")) == scratch)
    assertExact("late replay")
    assert(ProductQuantize.compactEncoded(spark, s"$dir/codes")
      .contains(1L))
    assert(!new java.io.File(s"$dir/codes/batch=b1").exists())
    assert(rows(ProductQuantize.loadEncoded(spark, s"$dir/codes")) == scratch)
    assertExact("late-replay fold")

    // an EMPTY batch must leave NO row-less `batch=` directory behind —
    // one would break schema inference for every later read of the root
    ProductQuantize.appendEncodedBatch(index, cb, batch.limit(0), "vec_id",
      "embedding", s"$dir/codes", batchTag = "b_empty")
    assert(!new java.io.File(s"$dir/codes/batch=b_empty").exists(),
      "empty append must not write a _SUCCESS-only batch directory")
    assert(rows(ProductQuantize.loadEncoded(spark, s"$dir/codes")) == scratch)
    assertExact("empty append")
    assert(ProductQuantize.compactEncoded(spark, s"$dir/codes")
      .contains(1L))
    assertExact("empty-append fold")
  }

  test("encoded fold crashed inside its commit reads and replays without duplicates") {
    val dim = 16
    val base = (0 until 60).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val batch = (0 until 6).map(i => ((500 + i).toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(base, "vec_id", "embedding",
      numCentroids = 4, lloydIters = 1)
    val cb = ProductQuantize.train(base, "vec_id", "embedding", dim,
      m = 4, k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pqcrash").toString
    val codes = s"$dir/codes"
    ProductQuantize.saveEncoded(ProductQuantize.encode(
      base, "vec_id", "embedding", index, cb), codes)
    ProductQuantize.appendEncodedBatch(index, cb, batch, "vec_id",
      "embedding", codes, batchTag = "b1")
    def ids(): Seq[Long] = ProductQuantize.loadEncoded(spark, codes)
      .select("vec_id").as[Long].collect().toSeq
    assert(ids().size == 66)
    CrashFs.install(spark.sparkContext.hadoopConfiguration)
    // the new generation's data lands, its manifest write dies midway
    intercept[java.io.IOException](CrashFs.armed(".*_folded.*")(
      ProductQuantize.compactEncoded(spark, CrashFs.path(codes))))
    assert(ids().size == 66, "a torn fold must not change what readers see")
    // the replay converges: every row exactly once
    assert(ProductQuantize.compactEncoded(spark, CrashFs.path(codes))
      .contains(1L))
    val after = ids()
    assert(after.size == 66 && after.distinct.size == 66,
      s"${after.size} rows over ${after.distinct.size} ids")
    assert(!new java.io.File(s"$codes/batch=b1").exists())
  }

  test("a re-save replaces folded and appended generations; siblings stay") {
    val dim = 16
    val base = (0 until 60).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val batch = (0 until 6).map(i => ((500 + i).toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val fresh = (0 until 10).map(i => ((900 + i).toLong, randVec(100 + i, dim)))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(base, "vec_id", "embedding",
      numCentroids = 4, lloydIters = 1)
    val cb = ProductQuantize.train(base, "vec_id", "embedding", dim,
      m = 4, k = 4, iters = 1)
    val codes = java.nio.file.Files.createTempDirectory("pqresave").toString
    def save(df: org.apache.spark.sql.DataFrame, root: String = codes): Unit =
      ProductQuantize.saveEncoded(
        ProductQuantize.encode(df, "vec_id", "embedding", index, cb), root)
    def ids(): Seq[Long] = ProductQuantize.loadEncoded(spark, codes)
      .select("vec_id").as[Long].collect().toSeq.sorted
    val sibling = java.nio.file.Paths.get(codes, "notes.txt")
    java.nio.file.Files.write(sibling, "kept".getBytes("UTF-8"))
    // save, append, fold, then save again: the new save is all there is
    save(base)
    ProductQuantize.appendEncodedBatch(index, cb, batch, "vec_id",
      "embedding", codes, batchTag = "b1")
    assert(ProductQuantize.compactEncoded(spark, codes).contains(1L))
    assert(ids().size == 66)
    save(fresh)
    assert(ids() == (900L until 910L), "a folded generation shadowed the re-save")
    // a save over an UNFOLDED append replaces the batch too
    ProductQuantize.appendEncodedBatch(index, cb, batch, "vec_id",
      "embedding", codes, batchTag = "b2")
    assert(ids().size == 16)
    save(base)
    assert(ids() == (0L until 60L), "an appended batch outlived the re-save")
    assert(!new java.io.File(s"$codes/batch=b2").exists())
    assert(java.nio.file.Files.exists(sibling), "a save deleted a sibling")
    // the replaced batch's tag is free again: save-then-append reruns
    ProductQuantize.appendEncodedBatch(index, cb, batch, "vec_id",
      "embedding", codes, batchTag = "b2")
    assert(ids().size == 66, "a re-save left its replaced tag covered")
    // a save that dies inside its commit leaves the old artifact readable,
    // and its rerun converges to the new one
    CrashFs.install(spark.sparkContext.hadoopConfiguration)
    intercept[java.io.IOException](CrashFs.armed(".*_folded.*")(
      save(fresh, CrashFs.path(codes))))
    assert(ids().size == 66, "a torn save changed what readers see")
    save(fresh, CrashFs.path(codes))
    assert(ids() == (900L until 910L))
  }

  test("an encoded artifact of the older manifest format fails loudly, never folded over") {
    val dim = 16
    val base = (0 until 40).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(base, "vec_id", "embedding",
      numCentroids = 4, lloydIters = 1)
    val cb = ProductQuantize.train(base, "vec_id", "embedding", dim,
      m = 4, k = 4, iters = 1)
    val codes = java.nio.file.Files.createTempDirectory("pqold").toString
    ProductQuantize.saveEncoded(ProductQuantize.encode(
      base, "vec_id", "embedding", index, cb), codes)
    ProductQuantize.appendEncodedBatch(index, cb, base.limit(4), "vec_id",
      "embedding", codes, batchTag = "b1")
    // the older format: no format marker, a newline-separated `_folded`
    val root = java.nio.file.Paths.get(codes)
    Seq("_generations", "._generations.crc", "gen=0/_folded", "gen=0/._folded.crc")
      .foreach(n => java.nio.file.Files.deleteIfExists(root.resolve(n)))
    java.nio.file.Files.write(root.resolve("gen=0/_folded"), Array.emptyByteArray)
    val e = intercept[IllegalStateException](ProductQuantize.loadEncoded(spark, codes))
    assert(e.getMessage.contains("older format"), e.getMessage)
    intercept[IllegalArgumentException](ProductQuantize.compactEncoded(spark, codes))
    assert(java.nio.file.Files.exists(root.resolve("gen=0/_SUCCESS")) &&
      java.nio.file.Files.exists(root.resolve("batch=b1")))
  }

  test("appendEncodedBatch check-first mode skips the write when the gate trips") {
    val dim = 16
    val rnd = new scala.util.Random(5)
    val centers = Seq.fill(4)(Array.fill(dim)(rnd.nextGaussian()))
    val base = (for {
      (c, ci) <- centers.zipWithIndex; p <- 0 until 15
    } yield ((ci * 15 + p).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(base, "vec_id", "embedding",
      numCentroids = 4, lloydIters = 1)
    val cb = ProductQuantize.train(base, "vec_id", "embedding", dim,
      m = 4, k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pqdrift").toString
    ProductQuantize.saveEncoded(ProductQuantize.encode(
      base, "vec_id", "embedding", index, cb), s"$dir/codes")
    val alien = Seq.tabulate(30)(i => ((900 + i).toLong,
      Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    // check-first: the drifting batch is reported AND kept out — nothing
    // encoded under stale quantizers reaches the artifact
    val d1 = ProductQuantize.appendEncodedBatch(index, cb, alien, "vec_id",
      "embedding", s"$dir/codes", batchTag = "alien", skipOnDrift = true)
    assert(d1.needsRebuild, d1.toString)
    assert(!new java.io.File(s"$dir/codes/batch=alien").exists())
    assert(ProductQuantize.loadEncoded(spark, s"$dir/codes").count() == 60)
    // default mode matches Similarity.appendBatch: write AND report
    val d2 = ProductQuantize.appendEncodedBatch(index, cb, alien, "vec_id",
      "embedding", s"$dir/codes", batchTag = "alien")
    assert(d2.needsRebuild)
    assert(ProductQuantize.loadEncoded(spark, s"$dir/codes").count() == 90)
  }

  // ---- classifier filter -------------------------------------------------

  test("closed-form scoring equals the explicit weight-table join") {
    val docs = Seq((1L, "the quick brown fox"), (2L, "spark scan agg"),
      (3L, "a"), (4L, "x y x y x y")).toDF("doc_id", "text")
    val a = Classifier.scoreDocs(docs, "doc_id", "text", 64, 7L)
      .orderBy("doc_id").collect().toSeq
    val b = Classifier.scoreWithTable(docs,
        Classifier.weightTable(spark, 64, 7L), "doc_id", "text", 64)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("classifier inference is map-only: zero Exchange in the plan") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = Classifier.scoreDocs(docs, "doc_id", "text", 64, 7L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("saved classifier model round-trips and scores identically") {
    val dir = java.nio.file.Files.createTempDirectory("clfmodel").toString
    val docs = Seq((1L, "the quick brown fox"), (2L, "spark scan agg"))
      .toDF("doc_id", "text")
    Classifier.saveModel(Classifier.weightTable(spark, 64, 7L), s"$dir/m")
    val viaLoaded = Classifier.scoreWithTable(docs,
        Classifier.loadModel(spark, s"$dir/m"), "doc_id", "text", 64)
      .orderBy("doc_id").collect().toSeq
    val closed = Classifier.scoreDocs(docs, "doc_id", "text", 64, 7L)
      .orderBy("doc_id").collect().toSeq
    assert(viaLoaded == closed)
  }

  test("trained diagonal-ridge filter separates planted classes, incl. held-out docs") {
    // planted separable corpus: positives speak one vocabulary, negatives
    // another; some shared stopwords so the fit has noise to shrug off
    val pos = Seq("clear structured prose with citations and depth",
      "thorough careful analysis with citations included here",
      "structured depth and careful clear analysis prose")
    val neg = Seq("buy cheap now click win free prize",
      "click free spam win cheap prize now",
      "win now spam click free cheap offers")
    val train = (pos.zipWithIndex.map { case (t, i) => (i.toLong, s"the $t", true) } ++
      neg.zipWithIndex.map { case (t, i) => ((10 + i).toLong, s"the $t", false) })
      .toDF("doc_id", "text", "y")
    val w = Classifier.trainDiagRidge(train, "doc_id", "text", "y",
      buckets = 256, lambda = 1L)
    // the fitted table separates the TRAINING docs perfectly...
    val scored = Classifier.scoreWithTable(train.drop("y"), w,
        "doc_id", "text", 256)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    pos.indices.foreach(i => assert(scored(i.toLong), s"pos $i rejected"))
    neg.indices.foreach(i => assert(!scored((10 + i).toLong), s"neg $i kept"))
    // ...and generalizes to held-out recombinations of the vocabulary
    val held = Seq((100L, "careful structured citations and clear depth"),
      (101L, "cheap spam prize click now")).toDF("doc_id", "text")
    val heldScores = Classifier.scoreWithTable(held, w, "doc_id", "text", 256)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(heldScores(100L) && !heldScores(101L), heldScores.toString)
    // the trained table round-trips the saveModel seam bit-identically
    val dir = java.nio.file.Files.createTempDirectory("clftrain").toString
    Classifier.saveModel(w, s"$dir/m")
    assert(Classifier.loadModel(spark, s"$dir/m").orderBy("b").collect().toSeq ==
      w.orderBy("b").collect().toSeq)
  }

  test("weights span [-1000, 1000] with both signs present") {
    val w = Classifier.weightTable(spark, 512, 7L)
      .agg(min("w_mill"), max("w_mill")).as[(Long, Long)].head()
    assert(w._1 >= -1000L && w._2 <= 1000L && w._1 < 0 && w._2 > 0)
  }

  // ---- OPQ rotation (Ge et al. 2013) -------------------------------------

  /** A deterministic orthogonal matrix: Gram-Schmidt over a seeded
    * pseudo-random square matrix (scala.util.Random is a fixed LCG, so
    * this is bit-stable across JVMs).
    */
  private def scrambler(dim: Int, seed: Int): Array[Array[Double]] = {
    val r = new scala.util.Random(seed)
    val m = Array.fill(dim, dim)(r.nextGaussian())
    for (i <- 0 until dim) {
      for (p <- 0 until i) {
        val d = (0 until dim).map(j => m(i)(j) * m(p)(j)).sum
        for (j <- 0 until dim) m(i)(j) -= d * m(p)(j)
      }
      val nrm = math.sqrt((0 until dim).map(j => m(i)(j) * m(i)(j)).sum)
      for (j <- 0 until dim) m(i)(j) /= nrm
    }
    m
  }

  test("trainOpqRotation returns an orthogonal matrix; rotation kernel applies it") {
    val dim = 8
    val df = (0 until 80).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val rot = ProductQuantize.trainOpqRotation(df, "vec_id", "embedding",
      dim, m = 2, k = 4, opqIters = 3, lloydIters = 2)
    assert(rot.length == dim * dim)
    // R·Rᵀ = I: the Procrustes update can only ever produce orthogonal
    // matrices, whatever the data
    for (i <- 0 until dim; j <- 0 until dim) {
      val d = (0 until dim).map(t => rot(i * dim + t) * rot(j * dim + t)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RRᵀ($i,$j)=$d")
    }
    // the kernel computes R·x exactly (float in, float out) and nulls a
    // wrong-length vector instead of guessing
    val x = randVec(99, dim)
    val got = df.limit(1).select(
      ProductQuantize.rotateExpr(typedLit(x), rot, dim).as("y"),
      ProductQuantize.rotateExpr(typedLit(Array(1.0f, 2.0f)), rot, dim).as("bad"))
      .head()
    val want = (0 until dim).map(i =>
      (0 until dim).map(j => rot(i * dim + j) * x(j)).sum.toFloat)
    assert(got.getSeq[Float](0) == want)
    assert(got.isNullAt(1))
  }

  /** The Ge et al. motivation, measured: embeddings whose variance
    * concentrates in a few latent directions SCRAMBLED across every
    * coordinate (a fixed orthogonal mix — the shape learned encoders
    * produce) defeat axis-aligned subspace splitting, and the trained
    * rotation recovers the lost ADC recall at identical code size with
    * zero float reads. Exhaustive ADC on a one-cell index isolates the
    * quantizer (no probe effects); all randomness is seed-pinned, so the
    * measured recalls are deterministic and the floors are real.
    */
  test("OPQ rotation lifts ADC recall on anisotropic embeddings") {
    val dim = 16
    val n = 240
    val q = scrambler(dim, 11)
    val rnd = new scala.util.Random(23)
    def mk(): Array[Float] = {
      // latent: 4 dominant directions, 12 near-noise
      val z = Array.tabulate(dim)(j =>
        rnd.nextGaussian() * (if (j < 4) 4.0 else 0.25))
      Array.tabulate(dim)(i =>
        (0 until dim).map(j => q(i)(j) * z(j)).sum.toFloat)
    }
    val corpus = (0 until n).map(i => (i.toLong, mk()))
      .toDF("vec_id", "embedding").persist()
    try {
      val k = 5
      val queries = corpus.filter(col("vec_id") < 20)
      val exact = Similarity
        .bruteForceTopK(queries, corpus, "vec_id", "embedding", k)
        .select("query_id", "neighbor_id").persist()
      // one designated cell → nProbe=1 is EXHAUSTIVE ADC
      val index = Similarity.indexFromVectors(corpus, "vec_id", "embedding",
        Seq(0L))
      def adcHits(df: org.apache.spark.sql.DataFrame): Long = {
        val cb = ProductQuantize.train(df, "vec_id", "embedding", dim,
          m = 4, k = 16, iters = 2)
        val enc = ProductQuantize.encode(df, "vec_id", "embedding", index, cb)
        ProductQuantize.ivfPqTopK(index, cb, df.filter(col("vec_id") < 20),
          enc, "vec_id", "embedding", k, nProbe = 1)
          .select("query_id", "neighbor_id")
          .join(exact, Seq("query_id", "neighbor_id")).count()
      }
      val plain = adcHits(corpus)
      val rot = ProductQuantize.trainOpqRotation(corpus, "vec_id",
        "embedding", dim, m = 4, k = 16, opqIters = 8, lloydIters = 3)
      val rotated = corpus.select(col("vec_id"),
        ProductQuantize.rotateExpr(col("embedding"), rot, dim)
          .as("embedding")).persist()
      try {
        // exact neighbors are rotation-invariant (orthogonality), so the
        // same `exact` frame grades both quantizers
        val opq = adcHits(rotated)
        val total = 20.0 * k
        info(f"ADC recall@5: plain=${plain / total}%.3f opq=${opq / total}%.3f")
        assert(opq > plain,
          s"OPQ recall did not lift: plain=$plain opq=$opq of ${total.toLong}")
        // observed deterministic operating points (seed-pinned): plain
        // 39/100, OPQ 48/100 — floors leave headroom for benign
        // reduction-order drift while keeping the lift claim real
        assert(opq >= 44, s"OPQ recall floor: $opq")
        assert(plain >= 30, s"plain-PQ sanity floor: $plain")
      } finally { rotated.unpersist(blocking = false); () }
    } finally { corpus.unpersist(blocking = false); () }
  }

  // ---- recall profiling of the LEARNED indexes ---------------------------

  /** q134 profiles the SQL-portable designated-vector index; the LLOYD-
    * TRAINED indexes (IVF-SQ8 int8 codes, IVF-PQ 4-bit ADC) are profiled
    * here against the exact top-k on the same standard embeddings —
    * recall must rise with nProbe and reach a usable operating point,
    * the pre-deployment tuning check a 100 TB index build needs. (Unlike
    * the float path, quantized ranking has no superset-monotonicity
    * PROOF — a new candidate can quantize-outrank a true neighbor — so
    * this pins the observed deterministic curve: end-to-end
    * nondecreasing with a floor at full probe.)
    */
  test("learned-index recall rises with nProbe: IVF-SQ8 and IVF-PQ curves") {
    import graft.core.Tables
    val emb = Tables.embeddings(spark, TestSpark.sf).persist()
    try {
      val k = 5
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity
        .bruteForceTopK(queries, emb, "vec_id", "embedding", k)
        .select("query_id", "neighbor_id").persist()
      val dim = emb.select(size(col("embedding"))).first().getInt(0)
      val index = Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        numCentroids = 8)
      def hits(ann: org.apache.spark.sql.DataFrame): Long =
        ann.select("query_id", "neighbor_id")
          .join(exact, Seq("query_id", "neighbor_id")).count()
      val probes = Seq(1, 2, 4, 8)

      val (mn, mx) = Quantize.dimStats(emb, "embedding")
      val sq8 = Quantize.assignCellsSq8(
        emb, "vec_id", "embedding", index, mn, mx).persist()
      val sq8Curve = probes.map(np => hits(Quantize.ivfSq8TopK(
        index, queries, sq8, "vec_id", "embedding", mn, mx, k, np)))

      // classic 8-bit PQ (m=8, k=256): uniform random embeddings are the
      // 4-bit default's hard case (the m=8/k=16 curve tops out near 15%
      // recall@5 here) — the profile is exactly the tool that reveals an
      // under-provisioned codebook before deploying it
      val cb = ProductQuantize.train(emb, "vec_id", "embedding", dim,
        m = 8, k = 256)
      val encoded = ProductQuantize.encode(
        emb, "vec_id", "embedding", index, cb).persist()
      val pqCurve = probes.map(np => hits(ProductQuantize.ivfPqTopK(
        index, cb, queries, encoded, "vec_id", "embedding", k, np)))
      // FAISS-style refine: exact re-rank of a 4·k ADC shortlist —
      // refined hits provably CONTAIN the plain ADC hits (the ADC top-k
      // is inside the shortlist, and under exact (cos desc, id) order
      // only true top-k members outrank a true member)
      val refineCurve = probes.map(np => hits(ProductQuantize.ivfPqRefineTopK(
        index, cb, queries, encoded, emb, "vec_id", "embedding", k,
        shortlist = 4 * k, nProbe = np)))
      info(s"sq8 curve: $sq8Curve, pq curve: $pqCurve, refine curve: $refineCurve")
      pqCurve.zip(refineCurve).foreach { case (p, r) =>
        assert(r >= p, s"refine must dominate plain ADC: pq=$pqCurve refine=$refineCurve")
      }
      // the refine stage recovers most of the 4-bit rank error: at full
      // probe it must clear the SQ8-grade floor the plain codes miss
      assert(refineCurve.last >= (10 * k) / 2,
        s"refined recall at full probe below 50%: $refineCurve")

      // the third ANN family's knob: LSH recall falls as planes rise
      // (2^planes buckets → finer partitions → fewer candidates per
      // probe) — the numPlanes twin of the nProbe curve, pinned at the
      // deterministic observed direction
      val lshCurve = Seq(2, 4, 6).map(pl => hits(Similarity.lshTopK(
        queries, emb, "vec_id", "embedding", k, numPlanes = pl)))
      info(s"lsh curve (planes 2,4,6): $lshCurve")
      assert(lshCurve.zip(lshCurve.tail).forall { case (a, b) => a >= b },
        s"lsh recall must not rise with finer buckets: $lshCurve")

      // the (m, k) axis of the operating surface: at full probe (no
      // routing loss left, pure quantization rank error) a bigger
      // codebook budget must not rank WORSE — 8×256 (8-bit, 64 bits/vec)
      // vs 16×16 (4-bit, 64 bits/vec at twice the subspaces): same code
      // size, the k-heavy split wins on this corpus (23 vs 15 of 50)
      val cb16 = ProductQuantize.train(emb, "vec_id", "embedding", dim,
        m = 16, k = 16)
      val enc16 = ProductQuantize.encode(
        emb, "vec_id", "embedding", index, cb16).persist()
      val pq16Full = hits(ProductQuantize.ivfPqTopK(
        index, cb16, queries, enc16, "vec_id", "embedding", k, 8))
      info(s"m=16/k=16 full-probe hits: $pq16Full vs m=8/k=256: ${pqCurve.last}")
      assert(pqCurve.last >= pq16Full,
        s"8-bit codebooks under-ranked the 4-bit split: ${pqCurve.last} < $pq16Full")

      for ((name, curve, floor) <- Seq(
          // SQ8's int8 grid keeps ~80% of the exact neighbors here; 4-bit
          // ADC keeps ~46% even at k=256 codebooks — uniform random
          // vectors are PQ's worst case (neighbor gaps ~ quantization
          // distortion), and surfacing that BEFORE deployment is the
          // profile's whole job. Floors sit under the deterministic
          // observed values (41 and 23 of 50) with margin.
          ("sq8", sq8Curve, (10 * k) / 2), ("pq", pqCurve, (10 * k) * 2 / 5))) {
        assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
          s"$name recall curve not nondecreasing: $curve")
        assert(curve.last >= floor,
          s"$name recall at full probe under $floor of ${10 * k}: $curve")
      }
      sq8.unpersist(); encoded.unpersist(); enc16.unpersist(); exact.unpersist(); ()
    } finally { emb.unpersist(); () }
  }
}
