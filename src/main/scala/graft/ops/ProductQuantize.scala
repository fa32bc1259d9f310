package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search" — public paper): the vector is cut into `m`
  * subspaces, each subspace gets its own small L2-k-means codebook, and a
  * vector's code is the per-subspace nearest-centroid index — `m` nibbles
  * at the default `k = 16` (the 4-bit "fast-scan" PQ operating point), a
  * 16× compression of a float32 embedding where [[Quantize]]'s SQ8 gives
  * 4×. Query scoring is ADC (asymmetric distance computation): ONE
  * `m × k` distance table per query, then each candidate costs `m` table
  * lookups instead of a `dim`-length dot product.
  *
  * This is the IVF-PQ composition FAISS deploys at billion scale: the
  * coarse [[Similarity.IvfIndex]] routes the search to `nProbe` cells,
  * the PQ codes make each cell's candidate list 16× smaller on the wire.
  * (Raw vectors are encoded, not coarse-cell residuals — FAISS's
  * `by_residual=false` variant — keeping encode strictly map-only.)
  *
  * Determinism/oracle posture: distances are doubles, so raw ADC values
  * are NOT oracle-portable — the search therefore RANKS but never emits
  * them, and the q-registry oracle is the planted-copy construction: an
  * exact duplicate encodes to the identical code, its ADC is the
  * per-subspace minimum summed (provably ≤ every other candidate), so
  * the top-k per query IS the planted copy set ranked by id — a contract
  * a SQL oracle can state without re-deriving the codebooks.
  *
  * Scale shape: codebooks are `m·k·(dim/m)` floats — plan literals, never
  * data. Training is Lloyd over a bounded deterministic sample with ONE
  * fused assignment-aggregation job per iteration covering ALL subspaces.
  * Encoding is map-only. The search shuffles (cell, id, m-byte code)
  * — not vectors — and builds the per-query distance table once in the
  * query projection.
  */
object ProductQuantize {

  /** Trained PQ codebooks: `books(s)(j)` is subspace `s`'s centroid `j`
    * (length `subDim`). Small by construction — travels as ONE flattened
    * array<double> literal folded into the kernels' constant
    * [[graft.functions.PqRef]] at plan time.
    */
  final case class PqCodebooks(subDim: Int, books: Seq[Seq[Seq[Float]]]) {
    require(books.nonEmpty && books.forall(_.nonEmpty), "empty codebooks")
    def m: Int = books.size
    def k: Int = books.head.size

    /** `((s·k + j)·subDim + d)` layout, the [[graft.functions.PqRef]]
      * contract. Centroid components widen float→double exactly.
      */
    def flat: Array[Double] =
      books.flatMap(_.flatMap(_.map(_.toDouble))).toArray
  }

  /** Map-only code column: array<int> of the `m` per-subspace L2-nearest
    * centroid indices (`graft_pq_encode` — requires a GraftExtensions
    * session; ties break toward the larger index, deterministically).
    */
  def encodeExpr(vec: Column, cb: PqCodebooks): Column =
    call_function("graft_pq_encode", vec, lit(cb.flat), lit(cb.m), lit(cb.k))

  /** Train per-subspace L2 codebooks by Lloyd refinement over a bounded
    * deterministic sample (`trainPerCentroid · k` rows, hash-selected —
    * the [[Similarity.buildIvfIndex]] discipline). One seeded collect
    * initializes every subspace from the same `k` sample rows; each
    * iteration is ONE fused assignment-aggregation job covering all `m`
    * subspaces (cells resolved per subspace in the projection, means
    * grouped on the global dimension index). Driver state per iteration
    * is `m·k·subDim` values.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int = 8, k: Int = 16, iters: Int = 2, seed: Long = 42L,
      trainPerCentroid: Int = 64): PqCodebooks = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val (mat, pinned) = graft.core.CacheOnce.pinIfUnpinned(corpus)
    try {
      val n = mat.count()
      val sampleMod = math.max(1L, n / (k.toLong * trainPerCentroid))
      val (train0, pinnedTrain) = graft.core.CacheOnce.pinIfUnpinned(
        if (sampleMod == 1L) mat
        else mat.filter(
          pmod(xxhash64(col(idCol), lit(seed + 1)), lit(sampleMod)) === 0))
      try {
        val init = train0.select(col(vecCol))
          .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
          .limit(k)
          .collect()
          // Number-tolerant: residual training columns arrive as
          // array<float> after the cast, but keep this robust to double
          .map(_.getSeq[Number](0).map(_.floatValue()).toIndexedSeq)
        require(init.length == k,
          s"training sample has ${init.length} rows < k=$k")
        var books: Seq[Seq[Seq[Float]]] = (0 until m).map(s =>
          init.toSeq.map(v => v.slice(s * subDim, (s + 1) * subDim).toSeq))
        for (_ <- 1 to iters) {
          val cb = PqCodebooks(subDim, books)
          val cells = encodeExpr(col(vecCol), cb)
          val means = train0
            .select(cells.as("cells"), posexplode(col(vecCol)).as(Seq("d", "x")))
            // graft_pq_encode nulls out malformed vectors (wrong length /
            // null element) — drop them here rather than let a null
            // assignment group crash the mean collection
            .filter(col("cells").isNotNull)
            .select(element_at(col("cells"), (col("d") / subDim).cast("int") + 1)
              .as("j"), col("d"), col("x"))
            .groupBy("j", "d")
            .agg((sum(col("x").cast(DecimalType(28, 10))) / count(lit(1)))
              .cast("float").as("mean"))
            .collect()
            .map(r => (r.getInt(0), r.getInt(1)) -> r.getFloat(2))
            .toMap
          books = books.zipWithIndex.map { case (book, s) =>
            book.zipWithIndex.map { case (old, j) =>
              // a centroid that captured no sample rows keeps its position
              if (means.contains((j, s * subDim)))
                (0 until subDim).map(dd => means((j, s * subDim + dd)))
              else old
            }
          }
        }
        PqCodebooks(subDim, books)
      } finally if (pinnedTrain) { train0.unpersist(blocking = false); () }
    } finally if (pinned) { mat.unpersist(blocking = false); () }
  }

  /** `R·vec` through the native [[graft.functions.OpqRotate]] kernel —
    * the rotation rides the plan as ONE constant reference object, and
    * the output keeps the input's element type, so a rotated embedding
    * column drops into [[Similarity.buildIvfIndex]] / [[train]] /
    * [[encode]] unchanged.
    */
  def rotateExpr(vec: Column, rot: Array[Double], dim: Int): Column =
    call_function("graft_opq_rotate", vec, lit(rot), lit(dim))

  /** OPQ rotation training (Ge et al. 2013, "Optimized Product
    * Quantization" — public paper; the non-parametric alternation): an
    * orthogonal `R` minimizing PQ reconstruction error IN THE ROTATED
    * SPACE, alternating (1) per-subspace Lloyd on `R·x` with (2) the
    * orthogonal-Procrustes update `R = V·Uᵀ` from the SVD of
    * `Σ xᵢ·yᵢᵀ` (yᵢ = the rotated sample's PQ reconstruction). Plain PQ
    * wastes code budget when variance is spread unevenly ACROSS
    * subspaces (correlated/anisotropic embeddings — the common case for
    * learned encoders); the trained rotation re-balances it, lifting ADC
    * recall at identical code size with zero float reads at query time.
    *
    * Runs on the SAME bounded deterministic sample as [[train]] — OPQ
    * matrix training is sample-bound by design (FAISS trains its OPQ
    * transform on the training sample, never the corpus), so driver
    * state is O(sample·dim + dim²) and the cluster never sees a dim²
    * shuffle. Returned row-major; orthogonality makes every downstream
    * distance invariant, so the matrix composes in FRONT of the coarse
    * index, the codebooks, and the queries (the FAISS `OPQnxM`
    * VectorTransform position) with all search machinery reused as-is.
    */
  def trainOpqRotation(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, k: Int = 16, opqIters: Int = 8,
      seed: Long = 42L, trainPerCentroid: Int = 64,
      lloydIters: Int = 4): Array[Double] = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val (mat, pinned) = graft.core.CacheOnce.pinIfUnpinned(corpus)
    val sample: Array[Array[Double]] =
      try {
        val n = mat.count()
        val sampleMod = math.max(1L, n / (k.toLong * trainPerCentroid))
        val train0 =
          if (sampleMod == 1L) mat
          else mat.filter(
            pmod(xxhash64(col(idCol), lit(seed + 1)), lit(sampleMod)) === 0)
        // ONE deterministic hash-ordered collect: the first k rows seed
        // every subspace's Lloyd (the [[train]] init convention), and the
        // fixed order makes all local double accumulation reproducible
        train0.select(col(vecCol))
          .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
          .collect()
          .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
          .filter(v => v.length == dim)
      } finally if (pinned) { mat.unpersist(blocking = false); () }
    require(sample.length >= k,
      s"OPQ training sample has ${sample.length} rows < k=$k")
    import breeze.linalg.{svd, DenseMatrix => BDM}
    var r = BDM.eye[Double](dim)
    for (_ <- 1 to opqIters) {
      // z = R·x for the whole sample
      val z = sample.map { x =>
        val out = new Array[Double](dim)
        var i = 0
        while (i < dim) {
          var acc = 0.0
          var j = 0
          while (j < dim) { acc += r(i, j) * x(j); j += 1 }
          out(i) = acc
          i += 1
        }
        out
      }
      // per-subspace local Lloyd (k is small; the sample is bounded):
      // init from the first k hash-ordered rows, ties and empty clusters
      // resolved exactly like the distributed [[train]]/kernel path
      val recon = Array.fill(z.length)(new Array[Double](dim))
      for (s <- 0 until m) {
        val off = s * subDim
        var cents = Array.tabulate(k)(j => z(j).slice(off, off + subDim))
        var assign = new Array[Int](z.length)
        for (_ <- 1 to lloydIters) {
          var i = 0
          while (i < z.length) {
            var best = 0
            var bestScore = Double.NegativeInfinity
            var j = 0
            while (j < k) {
              var dot = 0.0
              var cc = 0.0
              var d = 0
              while (d < subDim) {
                dot += z(i)(off + d) * cents(j)(d)
                cc += cents(j)(d) * cents(j)(d)
                d += 1
              }
              val score = dot - cc / 2.0
              if (score >= bestScore) { bestScore = score; best = j }
              j += 1
            }
            assign(i) = best
            i += 1
          }
          val sums = Array.fill(k)(new Array[Double](subDim))
          val cnt = new Array[Long](k)
          var i2 = 0
          while (i2 < z.length) {
            val j = assign(i2)
            cnt(j) += 1
            var d = 0
            while (d < subDim) { sums(j)(d) += z(i2)(off + d); d += 1 }
            i2 += 1
          }
          cents = Array.tabulate(k)(j =>
            if (cnt(j) == 0) cents(j)
            else sums(j).map(_ / cnt(j)))
        }
        var i3 = 0
        while (i3 < z.length) {
          System.arraycopy(cents(assign(i3)), 0, recon(i3), off, subDim)
          i3 += 1
        }
      }
      // orthogonal Procrustes: maximize tr(R·A), A = Σ xᵢ·yᵢᵀ → R = V·Uᵀ
      val a = BDM.zeros[Double](dim, dim)
      var i4 = 0
      while (i4 < sample.length) {
        val x = sample(i4)
        val y = recon(i4)
        var p = 0
        while (p < dim) {
          var q = 0
          while (q < dim) { a(p, q) += x(p) * y(q); q += 1 }
          p += 1
        }
        i4 += 1
      }
      val svd.SVD(u, _, vt) = svd(a)
      r = vt.t * u.t
    }
    val flat = new Array[Double](dim * dim)
    for (i <- 0 until dim; j <- 0 until dim) flat(i * dim + j) = r(i, j)
    flat
  }

  /** The IVF-PQ inverted file: coarse cell from the raw vector
    * ([[Similarity.assignCells]] routing, untouched by quantization) with
    * the m-nibble PQ code in place of the floats. Rows: (idCol, cell,
    * code) — the 16×-smaller corpus a billion-scale deployment persists
    * partitioned by cell.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      index: Similarity.IvfIndex, cb: PqCodebooks): DataFrame =
    Similarity.assignCells(df, idCol, vecCol, index)
      .select(col(idCol), col("cell"),
        encodeExpr(col(vecCol), cb).as("code"))

  /** The coarse centroid table flattened for the residual kernels
    * (`cell·dim + d` layout).
    */
  private def coarseFlat(index: Similarity.IvfIndex): Array[Double] =
    index.centroids.flatMap(_.map(_.toDouble)).toArray

  /** Train codebooks on coarse-cell RESIDUALS (FAISS `by_residual=true`,
    * the default IVFPQ fidelity mode: residuals are smaller and better
    * centered than raw vectors, so the same codebook budget quantizes
    * them tighter). The residual column is materialized only over the
    * BOUNDED training sample inside [[train]]'s own sampling — corpus
    * encode/search always fuse the subtraction into the native kernels.
    */
  def trainResidual(corpus: DataFrame, idCol: String, vecCol: String,
      index: Similarity.IvfIndex, dim: Int, m: Int = 8, k: Int = 16,
      iters: Int = 2, seed: Long = 42L,
      trainPerCentroid: Int = 64): PqCodebooks = {
    // native residual kernel (r20, guide §4): the interpreted
    // `transform`/`element_at(lit(cells·dim))` chain this replaces
    // dominated the training-sample materialization (measured 0.8 s of
    // q128's 3.3 s at sf0.1); graft_pq_residual is element-for-element
    // bit-identical (IvfKernelsSpec pins it differentially)
    val residual = Similarity.assignCells(corpus, idCol, vecCol, index)
      .select(col(idCol),
        call_function("graft_pq_residual", col(vecCol), col("cell"),
          lit(coarseFlat(index)), lit(dim)).as("__res"))
    train(residual, idCol, "__res", dim, m, k, iters, seed, trainPerCentroid)
  }

  /** Residual-mode inverted file: (idCol, cell, code) where the code
    * quantizes `vec − coarse[cell]`, fused in `graft_pq_encode_res` — the
    * residual vector is never materialized, so this stays map-only.
    */
  def encodeResidual(df: DataFrame, idCol: String, vecCol: String,
      index: Similarity.IvfIndex, cb: PqCodebooks): DataFrame =
    Similarity.assignCells(df, idCol, vecCol, index)
      .select(col(idCol), col("cell"),
        call_function("graft_pq_encode_res", col(vecCol), col("cell"),
          lit(coarseFlat(index)), lit(cb.flat), lit(cb.m), lit(cb.k))
          .as("code"))

  /** The per-query ADC distance table, SHIFTED: entry `s·k + j` is
    * `c_j·c_j − 2·q_s·c_j` — the true per-subspace squared distance minus
    * the candidate-independent `q_s·q_s`, so candidate ORDER (and every
    * tie) is identical to true ADC at `k` fewer multiplies per entry.
    * Computed once per query row by the native `graft_pq_dtab` kernel.
    */
  private def distTable(vec: Column, cb: PqCodebooks): Column =
    call_function("graft_pq_dtab", vec, lit(cb.flat), lit(cb.m), lit(cb.k))

  /** IVF-PQ search: probe the query's `nProbe` best coarse cells, score
    * every candidate code by ADC table lookup (`m` lookups, left-to-right
    * fold — deterministic doubles), rank ascending with ties by neighbor
    * id. Output (query_id, neighbor_id, rank) — distances deliberately
    * not emitted (double-valued, not engine-portable; the rank contract
    * is, via the planted-copy construction).
    *
    * An exact duplicate of a query shares its code, so its shifted ADC is
    * `Σ_s min_j dtab[s][j]` — the provable minimum over all codes —
    * and it lives in the query's own argmax cell (probe rank 1): planted
    * copies occupy the top ranks in id order, structurally.
    */
  def ivfPqTopK(index: Similarity.IvfIndex, cb: PqCodebooks,
      queries: DataFrame, encoded: DataFrame, idCol: String, vecCol: String,
      topK: Int, nProbe: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= index.numCentroids,
      "1 <= nProbe <= numCentroids")
    val q = queries.select(col(idCol).as("query_id"),
        distTable(col(vecCol), cb).as("dtab"),
        explode(Similarity.probeCells(col(vecCol), index, nProbe)).as("cell"))
    adcRankTail(q, encoded, idCol, cb, topK)
  }

  /** Shared ranking tail of both PQ search modes: join the (query_id,
    * cell, dtab) probe frame to the encoded candidates, ADC-score, rank
    * ascending with ties by neighbor id, keep rank <= topK — one place
    * owns the self-match filter and the tie-break contract.
    */
  private def adcRankTail(q: DataFrame, encoded: DataFrame, idCol: String,
      cb: PqCodebooks, topK: Int): DataFrame = {
    val c = encoded.select(col("cell"), col(idCol).as("neighbor_id"),
      col("code"))
    val adc = call_function("graft_pq_adc", col("dtab"), col("code"),
      lit(cb.m), lit(cb.k))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__adc").asc, col("neighbor_id").asc)
    q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("__adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .drop("__adc")
  }

  /** Residual-mode IVF-PQ search: each probed cell gets its OWN query
    * distance table (the residual frame differs per cell —
    * `graft_pq_dtab_res` computes it per (query, probed cell) pair,
    * nProbe tables per query instead of one), candidates score by the
    * same m-lookup ADC fold. Residual tables are UNSHIFTED — each carries
    * its cell's `r_s·r_s` self-terms (Σ = ‖q − coarse[cell]‖², FAISS
    * `by_residual`'s coarse-distance term), so totals are true ADC
    * distances and ranks from DIFFERENT probed cells compare correctly at
    * `nProbe > 1` (a shifted table would bias toward farther cells).
    * Same rank-only output contract as [[ivfPqTopK]]; the planted-copy
    * guarantee is airtight at `nProbe = 1` (every candidate shares the
    * query's cell, so all score against one residual frame and the copy's
    * code attains the per-subspace minimum — q128's oracle setting).
    */
  def ivfPqResTopK(index: Similarity.IvfIndex, cb: PqCodebooks,
      queries: DataFrame, encoded: DataFrame, idCol: String, vecCol: String,
      topK: Int, nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1 && nProbe <= index.numCentroids,
      "1 <= nProbe <= numCentroids")
    val cf = lit(coarseFlat(index))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol),
        explode(Similarity.probeCells(col(vecCol), index, nProbe)).as("cell"))
      .select(col("query_id"), col("cell"),
        call_function("graft_pq_dtab_res", col(vecCol), col("cell"),
          cf, lit(cb.flat), lit(cb.m), lit(cb.k)).as("dtab"))
    adcRankTail(q, encoded, idCol, cb, topK)
  }

  /** Two-stage IVF-PQ search with EXACT re-ranking — FAISS's refine stage
    * (`IndexRefineFlat`): ADC ranks a `shortlist`-deep candidate list per
    * query over the 16×-compressed codes (cheap m-lookup scoring, the
    * corpus-scale pass), then ONLY the shortlist rows join back to the
    * float corpus for exact cosine re-ranking to `topK`. This is the
    * standard fix for ADC rank error: the recall profile shows 4-bit PQ
    * keeping <50% of exact neighbors on uniform embeddings, while a
    * 4·k shortlist re-ranked exactly recovers most of the gap for
    * `shortlist/corpus` of the full-precision read cost. Refined hits
    * PROVABLY contain the plain ADC hits: the ADC top-k is a subset of
    * the shortlist, and a true top-k member in the shortlist can only be
    * outranked under exact (cos desc, id) order by other true top-k
    * members.
    *
    * Scale shape: the corpus-wide work stays code-space (nothing new);
    * the refine join touches |queries|·shortlist float rows — the small
    * side broadcasts against the corpus scan, which at deployment scale
    * is a point-lookup pattern into the cell-partitioned float corpus.
    * Same rank-only output contract as [[ivfPqTopK]] (exact copies score
    * cos ≈ 1 with every non-copy ≪ 1, so the planted-copy oracle holds
    * unchanged through the re-rank).
    */
  def ivfPqRefineTopK(index: Similarity.IvfIndex, cb: PqCodebooks,
      queries: DataFrame, encoded: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, topK: Int, shortlist: Int,
      nProbe: Int = 2): DataFrame = {
    require(shortlist >= topK, s"shortlist=$shortlist must be >= topK=$topK")
    val short = ivfPqTopK(index, cb, queries, encoded, idCol, vecCol,
      shortlist, nProbe).select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Similarity.l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      Similarity.l2Norm(col(vecCol)).as("cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    short.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .drop("cos")
  }

  // ---- encoded-artifact lifecycle ------------------------------------

  /** The appendable encoded artifact is a [[graft.core.Generations]]
    * layout under one root: `path/gen=<n>/cell=<c>/…` folded generations
    * beside `path/batch=<tag>/cell=<c>/…` appends. Commit, read set and
    * crash discipline are the module's. `writeCells` is the fold writer
    * every cell-partitioned generation shares (the streaming IVF/PQ
    * ingests' too).
    */
  private[graft] def writeCells(df: DataFrame, target: String): Unit =
    df.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(target)

  /** Incremental encode-append for the PQ inverted file — FAISS's
    * add-with-existing-codebooks semantic, pairing with the float index's
    * [[Similarity.appendBatch]]: the NEW batch alone is coarse-assigned
    * and PQ-encoded under the SAVED quantizers (both map-only; centroids
    * and codebooks are plan literals), its rows land as the
    * cell-partitioned directory `path/batch=<batchTag>`, and the drift
    * gate reports whether the batch's assignment score says the
    * quantizers need a rebuild. The DETERMINISTIC tag + overwrite write
    * make a replayed append converge instead of duplicating
    * (append-twice ≡ append-once — ProjectQuantizeSpec pins it), the
    * failure mode a raw `mode("append")` can't survive. Cost is one scan
    * of the batch, zero scans of the existing corpus, zero shuffles;
    * determinism of [[encodeExpr]] makes search-after-append
    * row-identical to a from-scratch encode of the union corpus
    * (ProjectQuantizeSpec pins that equality too).
    *
    * The gate is CHECK-FIRST: with `skipOnDrift` set, a batch that trips
    * it is NOT written (nothing encoded under stale quantizers reaches
    * the artifact — the caller rebuilds, then re-offers the batch). The
    * default keeps writing, matching [[Similarity.appendBatch]]: drift
    * marks degrading recall, not wrong rows, and dropping data silently
    * is the worse default — but callers that act on the verdict must
    * rebuild/overwrite the artifact either way.
    */
  def appendEncodedBatch(index: Similarity.IvfIndex, cb: PqCodebooks,
      batch: DataFrame, idCol: String, vecCol: String, path: String,
      batchTag: String, relTolerance: Double = 0.05,
      skipOnDrift: Boolean = false): Similarity.IvfDrift = {
    require(batchTag.nonEmpty && !batchTag.exists(c =>
      c == '/' || c == '=' || c.isWhitespace),
      s"batchTag '$batchTag' must be a plain directory-safe token")
    val assigned = Similarity.assignCells(batch, idCol, vecCol, index)
      .persist()
    try {
      val drift = Similarity.driftCheck(index, assigned, vecCol, relTolerance)
      // an EMPTY batch writes nothing: a row-less `batch=` directory
      // (only `_SUCCESS`) would break schema inference for every later
      // loadEncoded/compactEncoded over the artifact root
      if (!(skipOnDrift && drift.needsRebuild) && !assigned.isEmpty)
        assigned.select(col(idCol), col("cell"),
          encodeExpr(col(vecCol), cb).as("code"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$path/batch=$batchTag")
      drift
    } finally { assigned.unpersist(blocking = false); () }
  }

  /** Persist the PQ-encoded inverted file as the base generation of the
    * appendable layout (parquet PARTITIONED BY CELL), replacing whatever
    * an earlier save, append or fold left at `path` — the
    * [[Similarity.saveAssignedCorpus]] twin for code space, and THE
    * artifact a billion-scale deployment queries: 16×-smaller rows, and a
    * probe of `nProbe` cells reads `nProbe` directories, not the corpus.
    */
  def saveEncoded(encoded: DataFrame, path: String): Unit = {
    // Cluster by cell before the partitioned write when the artifact is
    // big enough for the small-files problem to exist (r20, guide §6
    // small files, §2 scale-adaptive partitioning): without clustering
    // every encode task opens one file in every cell directory it
    // touches — tasks×cells small files (thousands×cells at deployment
    // scale). The clustering shuffle is row-identical but not free
    // (measured +0.3-0.4 s per save at sf0.1, where the whole artifact
    // is smaller than one scan split and tasks are few anyway), so it
    // engages by ESTIMATED SIZE — below one scan split the task count is
    // already bounded and the write stays map-side; compaction
    // ([[compactEncoded]]) re-clusters later regardless.
    graft.core.Generations.saveBase(encoded.sparkSession, path, path) { target =>
      graft.core.Layout.clusterIfLarge(encoded, col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(target)
    }
  }

  /** Fold the appended `batch=` directories (plus the previous
    * generation) into the next generation — the LSM maintenance step a
    * long-lived appendable artifact needs (without it every append
    * leaves its own small per-cell files forever; one shuffle on `cell`
    * re-bounds the file count). A [[graft.core.Generations.fold]]: a
    * replayed tag that is already folded is deleted, never re-folded.
    * Returns the covering generation id, or None when the artifact holds
    * nothing.
    */
  def compactEncoded(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Long] =
    graft.core.Generations.fold(spark, path, path)(writeCells).map(_.generation)

  /** Read a [[saveEncoded]]/[[appendEncodedBatch]] artifact: the
    * [[graft.core.Generations.readSet]] (last complete generation plus
    * every uncovered batch), each root read as its own cell-partitioned
    * tree. The discovered `cell` column casts back to the int the
    * searches join on.
    */
  def loadEncoded(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val roots = graft.core.Generations.readSet(spark, path, path)
    require(roots.nonEmpty, s"no encoded inverted file under $path")
    val df = graft.core.Generations.union(spark, roots)
    df.select((df.columns.filterNot(_ == "cell").map(col) :+
      col("cell").cast("int").as("cell")).toIndexedSeq: _*)
  }

  // ---- quantizer artifacts --------------------------------------------

  /** Persist codebooks as engine-neutral parquet rows (s, j, c) at
    * `path/books` — the build-once/query-many artifact lifecycle the IVF
    * index has. Plain-PQ form: no rotation is stored, and
    * [[loadCodebooks]] refuses an artifact that carries one.
    */
  def saveCodebooks(spark: org.apache.spark.sql.SparkSession,
      cb: PqCodebooks, path: String): Unit = {
    import spark.implicits._
    cb.books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cv, j) => (s, j, cv) }
    }.toDF("s", "j", "c").coalesce(1).write.mode("overwrite")
      .parquet(s"$path/books")
  }

  /** Persist an OPQ-rotated quantizer: the codebooks AND the trained
    * rotation `R` in one artifact (`path/books` + `path/rotation`) — the
    * FAISS posture, which persists the OPQ matrix inside the index,
    * because the two are meaningless apart: codes encode ROTATED
    * vectors, so a reader without `R` would score un-rotated queries
    * against rotated codes and silently lose recall. Rows of `R` persist
    * as (i, array<double>) — doubles round-trip parquet bit-exactly, so
    * the reloaded rotation reproduces training-time outputs bit-for-bit.
    */
  def saveOpqCodebooks(spark: org.apache.spark.sql.SparkSession,
      cb: PqCodebooks, rot: Array[Double], dim: Int, path: String): Unit = {
    require(rot.length == dim * dim,
      s"rotation length ${rot.length} != dim²=${dim * dim}")
    import spark.implicits._
    // sibling single-file artifacts — write them concurrently
    // (guide §2.6: two independent one-task jobs, one latency)
    graft.core.Par.par2(
      saveCodebooks(spark, cb, path),
      (0 until dim).map(i =>
          (i, rot.slice(i * dim, (i + 1) * dim).toSeq))
        .toDF("i", "row").coalesce(1).write.mode("overwrite")
        .parquet(s"$path/rotation"))
    ()
  }

  private def hasRotation(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/rotation")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def readBooks(spark: org.apache.spark.sql.SparkSession,
      path: String): PqCodebooks = {
    val rows = spark.read.parquet(s"$path/books")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toSeq)
      .toMap
    require(rows.nonEmpty, s"empty codebooks at $path")
    val m = rows.keys.map(_._1).max + 1
    val k = rows.keys.map(_._2).max + 1
    val books = (0 until m).map(s => (0 until k).map(j => rows((s, j))).toSeq)
    PqCodebooks(books.head.head.length, books)
  }

  /** Load a plain-PQ [[saveCodebooks]] artifact. FAILS LOUDLY on an OPQ
    * artifact: searching its codes without the rotation is the silent
    * composition hole this lifecycle exists to close — use
    * [[loadOpqCodebooks]].
    */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): PqCodebooks = {
    require(!hasRotation(spark, path),
      s"$path holds an OPQ-rotated quantizer (rotation present) — load " +
        "it with loadOpqCodebooks and rotate queries with the returned R")
    readBooks(spark, path)
  }

  /** Load an OPQ [[saveOpqCodebooks]] artifact: (codebooks, R row-major,
    * dim). Every vector entering this quantizer's space — queries
    * included — must pass through [[rotateExpr]] with the returned
    * matrix first.
    */
  def loadOpqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): (PqCodebooks, Array[Double], Int) = {
    require(hasRotation(spark, path),
      s"$path holds no rotation — a plain PQ artifact loads with " +
        "loadCodebooks")
    // sibling single-file artifacts — read them concurrently (guide §2.6)
    val (rows, books) = graft.core.Par.par2(
      spark.read.parquet(s"$path/rotation").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1),
      readBooks(spark, path))
    val dim = rows.length
    require(rows.map(_._1).sameElements(0 until dim) &&
      rows.forall(_._2.length == dim),
      s"malformed rotation at $path: need rows 0..${dim - 1} of width $dim")
    (books, rows.flatMap(_._2), dim)
  }
}
