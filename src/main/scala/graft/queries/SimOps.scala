package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Components, EmbedProfile, NearDup, ProductQuantize, Quantize, Similarity}

/** Oracle-checked queries for the similarity-search / near-dup operator
  * family: ANN over the `embeddings` table, n-gram Jaccard and MinHash-LSH
  * near-dup over `documents`.
  *
  * q23/q25 are exact and DuckDB-verified. q26 is the LSH-accelerated pipeline
  * whose VERIFIED output equals the exact answer (candidates are checked
  * against true Jaccard), so it shares q25's oracle — the correctness gate
  * itself proves the LSH recall. q24/q27 are approximate/engine-hashed and
  * carry no SQL oracle (unit-tested instead).
  */
object SimOps {

  private val topK = 5
  private val nShingle = 3
  private val minJaccard = 0.8

  /** Brute-force exact cosine top-k (the correctness baseline): 20 query
    * vectors scored against the whole corpus, per-query window rank.
    */
  private def q23AnnCosine(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", topK)
  }

  /** Planted-clustered corpus shared by q24/q32: the base embeddings plus
    * `topK` power-of-two-scaled copies (×2..×32) of every query vector, at
    * ids `1e6 + 10·q + m`. Power-of-two scaling is EXACT in IEEE float, so
    * each copy is bit-for-bit parallel to its source: identical LSH sign
    * pattern on every hyperplane, identical IVF argmax cell, and a cosine
    * exactly equal across all copies (numerator and denominator scale by
    * the same power of two). Approximate recall is therefore provably 1 —
    * the q30 construction, extended to top-k — and the LSH/IVF result
    * equals the exact top-k answer a DuckDB oracle can compute (planted
    * cos ≈ 1 vs ≤ ~0.65 between independent uniform vectors).
    */
  private def plantedCorpus(emb: DataFrame): DataFrame =
    (1 to topK).foldLeft(emb.select(col("vec_id"), col("embedding"))) { (acc, m) =>
      acc.union(
        emb.filter(col("vec_id") < 20).select(
          (col("vec_id") * 10 + lit(1000000L + m)).as("vec_id"),
          transform(col("embedding"),
            x => x * lit(math.pow(2, m).toFloat)).as("embedding")))
    }

  private val plantedSql: String =
    "SELECT vec_id, embedding FROM embeddings " +
      (1 to topK).map { m =>
        s"UNION ALL SELECT vec_id * 10 + ${1000000 + m}, " +
          s"list_transform(embedding, x -> x * CAST(${1 << m} AS FLOAT)) " +
          "FROM embeddings WHERE vec_id < 20"
      }.mkString(" ")

  /** Random-hyperplane LSH ANN — the bucketed scale path, exact-verified on
    * the planted corpus (see [[plantedCorpus]]: recall is provably 1 there,
    * so the bucketed result hash-matches the exact top-k oracle; recall on
    * clustered vs uniform data generally is characterized in
    * SimilaritySpec).
    */
  private def q24AnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(
      emb.filter(col("vec_id") < 20), plantedCorpus(emb), "vec_id", "embedding",
      topK, numPlanes = 4)
  }

  /** The eight designated corpus vectors that ARE q134's coarse centroids
    * (cell = rank of the id): a [[Similarity.indexFromVectors]] index is a
    * pure function of named corpus rows, which is exactly what lets the
    * DuckDB oracle re-derive the same cells, probes, and candidate sets
    * in SQL — a Lloyd-trained centroid table is not portable, so the
    * learned-index recall curves live in SimilaritySpec instead.
    */
  private val q134CentroidIds = Seq(23L, 37L, 51L, 65L, 79L, 93L, 107L, 121L)
  private val q134Probes = Seq(1, 2, 4, 8)

  /** The ANN recall-profile table (the operating-point tool): recall@k of
    * the IVF search vs the exact top-k on the STANDARD non-planted
    * embeddings, one row per nProbe — integer hits and floor-divided
    * millionths, so the whole curve is oracle-exact. Monotone
    * nondecreasing in nProbe by the candidate-superset argument
    * ([[Similarity.recallProfile]]), reaching exactly 1.0 at
    * nProbe = numCentroids (all cells probed ⇒ ANN ≡ exact).
    */
  private def q134RecallProfile(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val index = Similarity.indexFromVectors(emb, "vec_id", "embedding",
      q134CentroidIds)
    Similarity.recallProfile(index, emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", topK, q134Probes)
  }

  /** Exact word-3-gram Jaccard near-dup pairs via inverted shingle index —
    * never an all-pairs crossJoin.
    */
  private def q25NgramJaccard(s: SparkSession, d: String): DataFrame =
    NearDup.ngramJaccardPairs(
      Tables.documents(s, d), "doc_id", "text", nShingle, minJaccard)

  /** The hot-shingle-capped variant of q25 — the 100 TB form of the
    * inverted-index near-dup. Shingles appearing in more than `maxDf`
    * documents are dropped from the candidate index (one boilerplate
    * shingle can never generate O(df²) candidate pairs), and surviving
    * candidates are verified against the exact Jaccard over the full
    * shingle sets, so the cap changes candidate generation only — reported
    * values stay exact.
    *
    * The cap SCALES with corpus size rather than being a constant:
    * document frequency grows linearly with document count at a constant
    * duplication rate, so a fixed cap would silently start dropping
    * qualifying pairs at larger scale factors. `max(16, |docs| / 32)`
    * reproduces the sf0.1-calibrated value (500 docs → 16; measured max
    * qualifying-pair df there is 10) and keeps ~3% of the corpus as the
    * hotness bar at any SF — a pair is missed only if its ENTIRE overlap
    * consists of shingles each shared by >3% of all documents, i.e. pure
    * boilerplate, the documented and intended exclusion. The `count()` is
    * one metadata-cheap parquet row-count action per invocation.
    */
  private def q35NgramJaccardCapped(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cap = math.max(16L, docs.count() / 32L)
    NearDup.ngramJaccardPairs(
      docs, "doc_id", "text", nShingle, minJaccard, maxDf = cap.toInt)
  }

  /** MinHash(64 perms) + LSH(16 bands × 4 rows) near-dup, exact-verified:
    * must produce the identical pair set to q25 while shuffling signatures
    * instead of shingles.
    */
  private def q26MinhashLsh(s: SparkSession, d: String): DataFrame =
    NearDup.minhashLshPairs(
      Tables.documents(s, d), "doc_id", "text", nShingle, minJaccard)

  /** SimHash near-dup, oracle-checked via the planted construction the
    * round-5 verdict asked for: the corpus is unioned with an exact copy of
    * itself at `doc_id + 1e6`. Identical text → identical shingle set →
    * identical SimHash fingerprint, so every planted pair collides in
    * [[NearDup.simhashDupPairs]]' fingerprint-equality blocking — recall is
    * provably 1 — and the exact set-equality verification makes the result
    * precisely "all pairs with identical 3-gram sets", which DuckDB
    * recomputes from the strings. (The Hamming-radius variant
    * [[NearDup.simhashPairs]] remains unit-tested in NearDupSpec; raw
    * Hamming values over engine hashes are inherently not SQL-expressible.)
    */
  private def q27Simhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    NearDup.simhashDupPairs(docs.union(planted), "doc_id", "text", nShingle)
  }

  /** Embedding-cosine near-dup pairs, sign-bucket LSH blocked + exact
    * verified. The corpus is unioned with a ×2-scaled copy of itself
    * (vec_id + 1e6): power-of-two scaling is EXACT in IEEE float, so every
    * planted pair is bit-for-bit parallel to its source — identical sign
    * pattern on every hyperplane — making LSH recall exactly 1 and the
    * result set equal to the exact all-pairs answer (random uniform
    * vectors top out near cos 0.6, far below the 0.999 gate). That is what
    * lets an LSH-blocked pipeline share an exact DuckDB oracle.
    */
  private def q30CosineNearDup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    Similarity.cosineNearDupPairs(
      emb.union(planted), "vec_id", "embedding", minCos = 0.999)
  }

  /** IVF ANN — the inverted-file scale path, exact-verified the same way as
    * q24: every planted copy lands in its source's argmax cell, and a query
    * always probes its own best cell first, so recall is 1 and the result
    * equals the exact top-k oracle.
    *
    * Measured cost note: the build also computes the incremental-add
    * drift BASELINE (`Similarity.buildIvfIndex`), one extra bounded agg
    * job. Stage-timed at sf0.1 (2k embedding rows): the query's ~2.5 s is
    * fixed per-job orchestration across the ~6 bounded build/search jobs,
    * not data — the baseline job's marginal cost is one of those fixed
    * slices (~0.2-0.3 s), and run-to-run variance at this size is the
    * same magnitude. It is NOT folded into the final Lloyd aggregation on
    * purpose: that agg runs against the PREVIOUS iterate's centroids (the
    * final centroids are its OUTPUT), so a folded baseline would measure
    * the wrong quantizer — understating assignment quality exactly when
    * the last iteration moved centroids most. The training sample is
    * pinned (`buildIvfIndex`), so at real corpus sizes the baseline reads
    * a few thousand cached rows, never the corpus.
    */
  private def q32AnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(
      emb.filter(col("vec_id") < 20), plantedCorpus(emb), "vec_id", "embedding",
      topK, numCentroids = 16, nProbe = 4)
  }

  /** Benchmark decontamination: training split (doc_id >= 50) checked for
    * containment of evaluation split (doc_id < 50) items at word-3-gram
    * level — the standard contamination sweep before a training run.
    */
  private def q42Decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    NearDup.containmentPairs(
      docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
      "doc_id", "text", nShingle, minContainment = 0.5)
  }

  /** q42's sweep through the SAVED-INDEX lifecycle
    * ([[NearDup.saveShingleIndex]] → [[NearDup.containmentVsIndex]]): the
    * benchmark suite is indexed ONCE per release and every corpus sweep
    * joins the loaded 16-byte postings — the probe is never re-shingled.
    * This is the batch twin of the streaming ingest's decontamination
    * gate, and it shares q42's oracle: the lifecycle must change nothing
    * about the answer.
    */
  private def q130ContainmentIndex(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = graft.core.Scratch.landing("graft_probe_idx", s, d)
    NearDup.saveShingleIndex(docs.filter(col("doc_id") < 50),
      "doc_id", "text", nShingle, path)
    NearDup.containmentVsIndex(docs.filter(col("doc_id") >= 50),
      NearDup.loadShingleIndex(s, path), "doc_id", "text", nShingle,
      minContainment = 0.5)
  }

  /** q42's sweep through the Bloom-prefiltered corpus path
    * ([[NearDup.bloomContainmentPairs]]): the benchmark shingle set is
    * compiled into a broadcast Bloom filter probed map-side at the corpus
    * scan, so only might-match postings reach the intersection join.
    * Shares q42's oracle — no false negatives plus exact downstream
    * verification means the prefilter must change the shuffle volume, not
    * the answer.
    */
  private def q112BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    NearDup.bloomContainmentPairs(
      docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
      "doc_id", "text", nShingle, minContainment = 0.5)
  }

  /** Near-dup clusters: the q25 pair set closed under transitivity via
    * [[Components.connectedComponents]] (min-label propagation; dup
    * clusters have tiny diameter, so the loop converges in 2-3 rounds).
    * Output: one row per paired document with its cluster id (= least
    * member).
    */
  private def q52DedupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = NearDup.ngramJaccardPairs(
      Tables.documents(s, d), "doc_id", "text", nShingle, minJaccard)
    Components.connectedComponents(pairs, "i", "j")
      .select(col("node").as("doc_id"), col("component"))
  }

  /** Cluster-level dedup: keep every unpaired document plus the least
    * member of each near-dup cluster ([[Components.keepClusterRepresentatives]]
    * — the standard "collapse transitive dup groups to one survivor" pass
    * that pairwise keep-first cannot express when dups chain A~B, B~C,
    * A!~C).
    */
  private def q53ClusterDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = NearDup.ngramJaccardPairs(docs, "doc_id", "text",
      nShingle, minJaccard)
    Components.keepClusterRepresentatives(
      docs.select("doc_id", "lang", "source"), "doc_id", pairs, "i", "j")
  }

  /** SemDeDup-style semantic dedup ([[Similarity.semanticDedup]]): cluster
    * with the trained IVF index, exact-verify cosine within cells, keep the
    * lowest id of each near-dup group. Planted construction as q30: ×2
    * copies are exactly parallel, so they provably share their source's
    * argmax cell and score cosine ~1 — the cell-scoped engine result
    * equals the all-pairs oracle (independent uniform vectors stay below
    * ~0.65, far under the 0.999 gate).
    */
  private def q75SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val corpus = emb.union(planted)
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 16, lloydIters = 1)
    Similarity.semanticDedup(corpus, "vec_id", "embedding", index,
      minCos = 0.999)
  }

  /** Leakage-proof train/validation split: a hash split on the DOCUMENT id
    * leaks — near-duplicate pairs land on opposite sides and the
    * validation set scores memorization. Here the split key is the
    * near-dup CLUSTER label ([[Components.connectedComponents]] over the
    * q25 pair graph; singletons label themselves), so an entire dup
    * cluster rides on one side by construction. Deterministic
    * (Knuth-scatter hash on the label, ~80/20).
    */
  private def q90LeakageSplit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = NearDup.ngramJaccardPairs(docs, "doc_id", "text", nShingle,
      minJaccard)
    val comps = Components.connectedComponents(pairs, "i", "j")
    docs.select("doc_id")
      .join(comps.select(col("node").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("split_label"))
      .withColumn("side",
        when(pmod(pmod(col("split_label"), lit(1000000L)) * 435761L,
          lit(1000000L)) < 800000L, "train").otherwise("val"))
  }

  /** Embedding cohesion outliers ([[EmbedProfile.groupOutliers]]): the 3
    * least-cohesive vectors of every label group by cosine to the group
    * centroid — mislabel/junk triage. Floor-scaled integer sums make the
    * centroid partitioning-independent; cosines fold in dimension order.
    */
  private def q93EmbedOutliers(s: SparkSession, d: String): DataFrame =
    EmbedProfile.groupOutliers(Tables.embeddings(s, d), "vec_id", "label",
      "embedding", k = 3)

  /** The DECLARATIVE similarity join — the same pair set as q30, but
    * written as a plain inner join on
    * `cosineSim(vi, vj) >= 0.999 && i < j` and planned by
    * [[graft.plans.SimilarityJoinStrategy]] into the sign-bucket LSH
    * physical operator ([[graft.plans.CosineJoinExec]]) instead of the
    * BroadcastNestedLoopJoin Spark would otherwise emit for a non-equi
    * condition. Same planted ×2 construction as q30, so LSH recall is
    * provably 1 and the oracle is the exact all-pairs answer; `i < j`
    * rides along as the exec's residual conjunct. The opt-in is the
    * PER-JOIN `cosineSimApprox` marker — embedded in this query's own
    * plan, so no session state changes and no other join in the shared
    * Verify/Bench session can be approximated by side effect.
    */
  private def q111SimJoin(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val u = emb.union(planted)
    val l = u.select(col("vec_id").as("i"), col("embedding").as("vi"))
    val r = u.select(col("vec_id").as("j"), col("embedding").as("vj"))
    // the PER-JOIN approx marker, not the session conf: approximation
    // must never leak onto other joins built in this shared session
    l.join(r,
        Similarity.cosineSimApprox(col("vi"), col("vj")) >= lit(0.999) &&
          col("i") < col("j"))
      .select(col("i"), col("j"),
        Similarity.cosineSim(col("vi"), col("vj")).as("cos"))
  }

  /** Sign random projection (JL) of the whole embeddings table to 8
    * integer-millionth components — the pre-ANN compression map pass,
    * exact in both engines (one row per (vec_id, output dim)).
    */
  private def q114RandomProject(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
      posexplode(Similarity.randomProject(col("embedding"), 8, 42))
        .as(Seq("j", "out_mill")))

  /** Quantized-domain exact ANN: int8 scalar codes (corpus min/max per
    * dimension), integer code dot products, per-query top-k — the
    * compressed-index search path, bit-reproducible because every score
    * is an exact integer.
    */
  private def q116QuantizedAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Quantize.quantizedTopK(
      emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", topK)
  }

  /** EXACT copies of every query vector at known ids — the planted
    * construction for quantized-domain recall: identical vectors get
    * identical codes (squared-L2 distance 0, the provable minimum) and
    * identical argmax cells, so an IVF probe that covers the query's own
    * cell finds every copy. (q24/q32's power-of-two scaling preserves
    * cosine but NOT affine int8 codes — quantized planting must copy.)
    */
  private def exactPlantedCorpus(emb: DataFrame): DataFrame =
    (1 to topK).foldLeft(emb.select(col("vec_id"), col("embedding"))) { (acc, m) =>
      acc.union(
        emb.filter(col("vec_id") < 20).select(
          (col("vec_id") * 10 + lit(1000000L + m)).as("vec_id"),
          col("embedding")))
    }

  private val exactPlantedSql: String =
    "SELECT vec_id, embedding FROM embeddings " +
      (1 to topK).map { m =>
        s"UNION ALL SELECT vec_id * 10 + ${1000000 + m}, embedding " +
          "FROM embeddings WHERE vec_id < 20"
      }.mkString(" ")

  /** The planted-copy rank contract of the PQ searches, stated directly:
    * each query's `topK` exact copies occupy ranks 1..topK in id order —
    * no codebook, no distance (shared by q126 raw-mode and q128
    * residual-mode).
    */
  private val pqPlantedOracleSql: String =
    "SELECT e.vec_id AS query_id, " +
      "e.vec_id * 10 + 1000000 + g.m AS neighbor_id, " +
      "CAST(g.m AS INT) AS rank " +
      "FROM embeddings e CROSS JOIN " +
      s"(SELECT unnest(range(1, ${topK + 1})) AS m) g " +
      "WHERE e.vec_id < 20"

  /** The SQ8 probed search restated exhaustively (the planted corpus
    * makes probed == exhaustive) — shared by q117 (window rank) and q127
    * (bounded-heap aggregate rank), which must be row-identical.
    */
  private val ivfSq8OracleSql: String =
    s"WITH u AS ($exactPlantedSql), " +
      "x AS (SELECT vec_id, unnest([{'i': i, 'x': embedding[i]} " +
      "  for i in range(1, len(embedding) + 1)], recursive := true) FROM u), " +
      "st AS (SELECT i, CAST(MIN(x) AS DOUBLE) AS mn, CAST(MAX(x) AS DOUBLE) AS mx " +
      "  FROM x GROUP BY i), " +
      "c AS (SELECT vec_id, x.i, CASE WHEN mx > mn THEN " +
      "  GREATEST(0, LEAST(255, CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT))) " +
      "  ELSE 0 END AS code FROM x JOIN st ON x.i = st.i), " +
      "p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, " +
      "  CAST(SUM((q.code - n.code) * (q.code - n.code)) AS BIGINT) AS qdist " +
      "  FROM c q JOIN c n ON q.vec_id < 20 AND n.vec_id <> q.vec_id AND q.i = n.i " +
      "  GROUP BY 1, 2) " +
      "SELECT query_id, neighbor_id, qdist, rank FROM (" +
      "  SELECT query_id, neighbor_id, qdist, CAST(ROW_NUMBER() OVER (" +
      "    PARTITION BY query_id ORDER BY qdist ASC, neighbor_id) AS INT) AS rank FROM p) " +
      s"WHERE rank <= $topK"

  /** IVF over the int8-quantized inverted file (the FAISS IVF-SQ8 shape):
    * honest in-query index build + corpus quantization, then probed
    * integer-L2 search. Exact-verified on the planted corpus — each
    * query's [[topK]] exact copies sit at distance 0 in its own cell, so
    * the probed result equals the exhaustive quantized top-k the oracle
    * computes.
    */
  /** IVF-PQ ([[graft.ops.ProductQuantize]]): coarse IVF routing + 4-bit
    * product-quantized codes + ADC table-lookup scoring — the 16×
    * compression point beyond q117's SQ8. Honest in-query build of BOTH
    * quantizers (coarse Lloyd + per-subspace Lloyd), then a 2-probe
    * search. ADC distances are doubles and never emitted; the oracle is
    * the planted-copy rank contract: each query's 5 exact copies share
    * its code, their ADC is the per-subspace-minimum sum (provably the
    * global minimum), and they sit in the query's own probe-rank-1 cell
    * — so ranks 1..5 are exactly the copies in id order, a statement SQL
    * can make without re-deriving any codebook.
    */
  private def q126IvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // persisted once: the coarse build, the PQ training, and the encode
    // pass all scan the planted union (the q117 sharing pattern)
    val corpus = exactPlantedCorpus(emb).persist()
    val queries = emb.filter(col("vec_id") < 20)
    // the coarse build and the PQ training are independent ladders of
    // small jobs over the SAME persisted corpus — run them concurrently
    // (guide §2.6 overlap independent jobs; identical outputs)
    val (index, cb) = graft.core.Par.par2(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"),
      ProductQuantize.train(corpus, "vec_id", "embedding", dim = 64))
    val encoded = ProductQuantize.encode(corpus, "vec_id", "embedding",
      index, cb)
    ProductQuantize.ivfPqTopK(index, cb, queries, encoded,
      "vec_id", "embedding", topK, nProbe = 2)
  }

  /** q126's search with the EXACT re-ranking stage (FAISS refine): ADC
    * ranks a 4·topK shortlist over the compressed codes, then only those
    * rows join back to the float corpus for exact cosine re-ranking —
    * the standard recovery of ADC rank error at a bounded full-precision
    * read cost. Planted copies share the query's code (ADC minimum → in
    * the shortlist) and re-rank to cos ≈ 1 with every non-copy ≪ 1, so
    * the q126 planted oracle holds unchanged through the second stage.
    */
  private def q135IvfPqRefine(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val corpus = exactPlantedCorpus(emb).persist()
    val queries = emb.filter(col("vec_id") < 20)
    // one Lloyd iteration: the refine stage is the subject here, and the
    // planted-copy contract is codebook-independent (identical vectors
    // share codes under ANY codebook) — don't re-pay q126's full train.
    // Coarse build ∥ PQ train: independent job ladders over the same
    // persisted corpus (guide §2.6)
    val (index, cb) = graft.core.Par.par2(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"),
      ProductQuantize.train(corpus, "vec_id", "embedding", dim = 64,
        iters = 1))
    val encoded = ProductQuantize.encode(corpus, "vec_id", "embedding",
      index, cb)
    ProductQuantize.ivfPqRefineTopK(index, cb, queries, encoded, corpus,
      "vec_id", "embedding", topK, shortlist = 4 * topK, nProbe = 2)
  }

  /** q126's search through the FULL saved-artifact lifecycle: coarse
    * index ([[Similarity.saveIvfIndex]]), PQ codebooks
    * ([[ProductQuantize.saveCodebooks]]), and the ENCODED inverted file
    * ([[ProductQuantize.saveEncoded]] — parquet partitioned by cell, the
    * 16×-smaller artifact a deployment actually queries) are all written
    * once and read back before searching. Graded against q126's own
    * oracle: the persistence round-trip must change nothing about the
    * answer (float and int32 columns round-trip parquet bit-exactly).
    */
  private def q137IvfPqSaved(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val corpus = exactPlantedCorpus(emb).persist()
    val queries = emb.filter(col("vec_id") < 20)
    val root = graft.core.Scratch.landing("graft_pq_life", s, d)
    // one Lloyd iteration: the artifact ROUND-TRIP is the subject, and
    // the planted-copy contract is codebook-independent. The coarse
    // build→save→load chain and the PQ train→save→load chain touch
    // disjoint artifacts and share only the READ-ONLY persisted corpus —
    // run them concurrently (guide §2.6: the query's cost is sequential
    // small-job latency, not compute)
    val (loadedIndex, loadedCb) = graft.core.Par.par2(
      {
        val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding")
        Similarity.saveIvfIndex(index, s, s"$root/ivf")
        Similarity.loadIvfIndex(s, s"$root/ivf")
      },
      {
        val cb = ProductQuantize.train(corpus, "vec_id", "embedding",
          dim = 64, iters = 1)
        ProductQuantize.saveCodebooks(s, cb, s"$root/books")
        ProductQuantize.loadCodebooks(s, s"$root/books")
      })
    ProductQuantize.saveEncoded(ProductQuantize.encode(
      corpus, "vec_id", "embedding", loadedIndex, loadedCb), s"$root/codes")
    ProductQuantize.ivfPqTopK(loadedIndex, loadedCb, queries,
      ProductQuantize.loadEncoded(s, s"$root/codes"),
      "vec_id", "embedding", topK, nProbe = 2)
  }

  /** q126's IVF-PQ with a trained OPQ rotation in front (Ge et al. 2013;
    * the FAISS `OPQnxM` VectorTransform position): the rotation is
    * learned from the bounded sample
    * ([[ProductQuantize.trainOpqRotation]]), then EVERYTHING — coarse
    * index build, PQ training, corpus encode, and the queries — runs in
    * the rotated space through the one native `graft_opq_rotate` kernel,
    * so every downstream search operator is reused verbatim.
    * Orthogonality preserves distances exactly, which is also why the
    * planted-copy oracle holds unchanged: rotated copies still share
    * their query's rotated vector bit-for-bit (same input ⇒ same kernel
    * output), share its code, and rank 1..topK in id order.
    */
  private def q142OpqIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val raw = exactPlantedCorpus(emb).persist()
    val rot = ProductQuantize.trainOpqRotation(raw, "vec_id", "embedding",
      dim = 64, opqIters = 2, lloydIters = 2)
    val corpus = raw.select(col("vec_id"),
      ProductQuantize.rotateExpr(col("embedding"), rot, 64).as("embedding"))
      .persist()
    val queries = corpus.filter(col("vec_id") < 20)
    // coarse build ∥ PQ train over the same persisted rotated corpus
    // (guide §2.6)
    val (index, cb) = graft.core.Par.par2(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"),
      ProductQuantize.train(corpus, "vec_id", "embedding", dim = 64,
        iters = 1))
    val encoded = ProductQuantize.encode(corpus, "vec_id", "embedding",
      index, cb)
    ProductQuantize.ivfPqTopK(index, cb, queries, encoded,
      "vec_id", "embedding", topK, nProbe = 2)
  }

  /** q137's saved inverted file grown INCREMENTALLY
    * ([[ProductQuantize.appendEncodedBatch]] — FAISS's
    * add-with-existing-codebooks): the initial encode persists WITHOUT
    * each query's two highest-id planted copies, then those arrive as
    * the streaming batch — coarse-assigned and encoded under the saved
    * quantizers, appended to the cell directories, never retraining.
    * Graded against the full planted oracle: ranks 1..5 must include the
    * APPENDED copies (m ∈ {4,5}), which fails unless appended rows are
    * searched exactly like originally-encoded ones.
    */
  private def q143PqAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val corpus = exactPlantedCorpus(emb).persist()
    // planted ids are orig·10 + 1000000 + m (m ∈ 1..topK): copies m ≥ 4
    // form the late-arriving batch
    val isLate = col("vec_id") > 1000000L &&
      pmod(col("vec_id") - 1000000L, lit(10L)) >= 4
    val base = corpus.filter(!isLate)
    val batch = corpus.filter(isLate)
    val queries = emb.filter(col("vec_id") < 20)
    val root = graft.core.Scratch.landing("graft_pq_append", s, d)
    // coarse build ∥ PQ train over the same persisted base (guide §2.6)
    val (index, cb) = graft.core.Par.par2(
      Similarity.buildIvfIndex(base, "vec_id", "embedding"),
      ProductQuantize.train(base, "vec_id", "embedding", dim = 64,
        iters = 1))
    ProductQuantize.saveEncoded(ProductQuantize.encode(
      base, "vec_id", "embedding", index, cb), s"$root/codes")
    ProductQuantize.appendEncodedBatch(index, cb, batch, "vec_id",
      "embedding", s"$root/codes", batchTag = "late")
    ProductQuantize.ivfPqTopK(index, cb, queries,
      ProductQuantize.loadEncoded(s, s"$root/codes"),
      "vec_id", "embedding", topK, nProbe = 2)
  }

  /** q142's OPQ-rotated index through the FULL saved-artifact lifecycle —
    * the composition q142 alone can't prove: the trained rotation
    * persists INSIDE the quantizer artifact
    * ([[ProductQuantize.saveOpqCodebooks]], the FAISS posture of
    * storing the OPQ matrix in the index), and the search session
    * reloads coarse index + codebooks + rotation + encoded corpus from
    * disk, rotating the RAW queries with the LOADED matrix. A rotation
    * that failed to round-trip (or wasn't applied to queries) would
    * score un-rotated queries against rotated codes and break the
    * planted ranks by construction; doubles round-trip parquet
    * bit-exactly, so loaded-rotation outputs equal training-time ones
    * bit-for-bit and the q126 planted oracle holds unchanged.
    */
  private def q144OpqPqSaved(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val raw = exactPlantedCorpus(emb).persist()
    val rot = ProductQuantize.trainOpqRotation(raw, "vec_id", "embedding",
      dim = 64, opqIters = 2, lloydIters = 2)
    val corpus = raw.select(col("vec_id"),
      ProductQuantize.rotateExpr(col("embedding"), rot, 64).as("embedding"))
      .persist()
    val root = graft.core.Scratch.landing("graft_opq_life", s, d)
    // one Lloyd iteration: the artifact round-trip is the subject, and
    // the planted-copy contract is codebook-independent. Coarse
    // build→save→load ∥ PQ train→save→load: disjoint artifacts, shared
    // read-only persisted corpus (guide §2.6 — the q137 rationale)
    val ((loadedIndex), (loadedCb, loadedRot, loadedDim)) =
      graft.core.Par.par2(
        {
          val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding")
          Similarity.saveIvfIndex(index, s, s"$root/ivf")
          Similarity.loadIvfIndex(s, s"$root/ivf")
        },
        {
          val cb = ProductQuantize.train(corpus, "vec_id", "embedding",
            dim = 64, iters = 1)
          ProductQuantize.saveOpqCodebooks(s, cb, rot, 64, s"$root/pq")
          ProductQuantize.loadOpqCodebooks(s, s"$root/pq")
        })
    ProductQuantize.saveEncoded(ProductQuantize.encode(
      corpus, "vec_id", "embedding", loadedIndex, loadedCb), s"$root/codes")
    // queries enter RAW and pass through the LOADED rotation — the
    // deployment shape this lifecycle exists for
    val queries = emb.filter(col("vec_id") < 20).select(col("vec_id"),
      ProductQuantize.rotateExpr(col("embedding"), loadedRot, loadedDim)
        .as("embedding"))
    ProductQuantize.ivfPqTopK(loadedIndex, loadedCb, queries,
      ProductQuantize.loadEncoded(s, s"$root/codes"),
      "vec_id", "embedding", topK, nProbe = 2)
  }

  /** q143's incremental growth driven by the CHECKPOINTED STREAM
    * ([[graft.pipelines.StreamingPqIngest]] — the code-space twin of the
    * near-dup ingest's replay-idempotent landing): the late planted
    * copies arrive as a parquet micro-batch drop, the stream
    * coarse-assigns + PQ-encodes them under the saved quantizers into
    * `run=/batch=` directories, compaction folds them into a
    * cell-partitioned generation, and the search unions the loaded base
    * artifact with the compacted stream output. Graded against the full
    * planted oracle — ranks 1..5 must include the STREAMED copies, which
    * fails unless streamed rows search identically to base ones. Every
    * invocation gets its own scratch root (fresh checkpoint, fresh drop),
    * so every run pays its own landing and micro-batch.
    */
  private def q145PqStreamingAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val corpus = exactPlantedCorpus(emb).persist()
    val isLate = col("vec_id") > 1000000L &&
      pmod(col("vec_id") - 1000000L, lit(10L)) >= 4
    val base = corpus.filter(!isLate)
    val batch = corpus.filter(isLate)
    val queries = emb.filter(col("vec_id") < 20)
    val root = graft.core.Scratch.ephemeralDir(s"graft_pq_stream_" +
      s"${graft.core.Scratch.landingTag(s, d)}_${q145Runs.incrementAndGet()}")
    // coarse build ∥ PQ train over the same persisted base (guide §2.6)
    val (index, cb) = graft.core.Par.par2(
      Similarity.buildIvfIndex(base, "vec_id", "embedding"),
      ProductQuantize.train(base, "vec_id", "embedding", dim = 64,
        iters = 1))
    ProductQuantize.saveEncoded(ProductQuantize.encode(
      base, "vec_id", "embedding", index, cb), s"$root/codes")
    batch.write.parquet(s"$root/incoming/b0")
    graft.pipelines.StreamingPqIngest.run(s, index, cb, s"$root/incoming",
      batch.schema, "vec_id", "embedding", s"$root/stream", s"$root/ckpt")
    graft.pipelines.StreamingIvfIngest.compact(s, s"$root/stream",
      s"$root/stream_compacted", s"$root/ckpt")
    val streamed = graft.pipelines.StreamingIvfIngest.loadCompacted(
      s, s"$root/stream_compacted")
    ProductQuantize.ivfPqTopK(index, cb, queries,
      ProductQuantize.loadEncoded(s, s"$root/codes").unionByName(streamed),
      "vec_id", "embedding", topK, nProbe = 2)
  }

  /** Per-invocation suffix of q145's scratch root. */
  private val q145Runs = new java.util.concurrent.atomic.AtomicLong()

  /** q117's probed SQ8 search ranked by the EXACT bounded-heap aggregate
    * (`graft_topk_rows`) instead of the per-query window — the
    * billion-query shape (map-side partials prune candidates to k-entry
    * buffers before the shuffle; no per-query sort task). Row-identical
    * by the min-k exactness argument, so it shares q117's oracle — the
    * hash gate itself proves the aggregate equals the window ranking.
    */
  private def q127IvfSq8Agg(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val corpus = exactPlantedCorpus(emb).persist()
    val queries = emb.filter(col("vec_id") < 20)
    // coarse build ∥ dim-stats: independent passes over the same
    // persisted corpus (guide §2.6)
    val (index, (mn, mx)) = graft.core.Par.par2(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"),
      Quantize.dimStats(corpus, "embedding"))
    val assigned = Quantize.assignCellsSq8(
      corpus, "vec_id", "embedding", index, mn, mx)
    Quantize.ivfSq8TopKAgg(index, queries, assigned, "vec_id", "embedding",
      mn, mx, topK)
  }

  /** q126's IVF-PQ in RESIDUAL mode (FAISS `by_residual=true`, the
    * default fidelity setting): codebooks trained on coarse-cell
    * residuals, codes and query tables residualized inside the fused
    * kernels, one-probe search. Same planted-copy rank oracle — at
    * nProbe=1 every candidate scores against the query's own residual
    * frame, so the exact copies' codes attain the per-subspace minimum
    * and ranks 1..5 are the copies in id order.
    */
  private def q128IvfPqRes(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val corpus = exactPlantedCorpus(emb).persist()
    val queries = emb.filter(col("vec_id") < 20)
    val index = Similarity.buildIvfIndex(corpus, "vec_id", "embedding")
    val cb = ProductQuantize.trainResidual(corpus, "vec_id", "embedding",
      index, dim = 64)
    val encoded = ProductQuantize.encodeResidual(corpus, "vec_id",
      "embedding", index, cb)
    ProductQuantize.ivfPqResTopK(index, cb, queries, encoded,
      "vec_id", "embedding", topK, nProbe = 1)
  }

  private def q117IvfSq8(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // persisted ONCE: the index build, the dim-stats pass, and the
    // inverted-file quantization all scan the planted union — uncached
    // each stage re-executes it (measured 3.3 s → 1.9 s at sf0.1; needs
    // buildIvfIndex's pinIfUnpinned so the build doesn't drop this pin)
    val corpus = exactPlantedCorpus(emb).persist()
    val queries = emb.filter(col("vec_id") < 20)
    // coarse build ∥ dim-stats: independent passes over the same
    // persisted corpus (guide §2.6)
    val (index, (mn, mx)) = graft.core.Par.par2(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"),
      Quantize.dimStats(corpus, "embedding"))
    val assigned = Quantize.assignCellsSq8(
      corpus, "vec_id", "embedding", index, mn, mx)
    Quantize.ivfSq8TopK(index, queries, assigned, "vec_id", "embedding",
      mn, mx, topK)
  }

  /** Incremental near-dup through the SAVED inverted shingle index — the
    * near-dup family's build-once/query-many lifecycle ([[graft.ops
    * .NearDup.saveShingleIndex]]/[[graft.ops.NearDup
    * .incrementalNearDupPairs]]): a batch of 30 exact history copies at
    * fresh ids is checked against the loaded history index; history TEXT
    * is never re-read. The oracle recomputes the cross-corpus Jaccard
    * from the strings, so both the index round-trip and the incremental
    * join are hash-graded.
    */
  private def q119IncrementalNeardup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val history = docs.filter(col("doc_id") >= 50)
    val batch = docs.filter(col("doc_id").between(50, 79))
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val path = graft.core.Scratch.landing("graft_shingle_idx", s, d)
    NearDup.saveShingleIndex(history, "doc_id", "text", nShingle, path)
    NearDup.incrementalNearDupPairs(batch,
      NearDup.loadShingleIndex(s, path), "doc_id", "text", nShingle, minJaccard)
  }

  /** End-to-end MODEL-FREE document ANN — the full compression funnel as
    * one query: raw text → hashed dense embedding (q118's fused kernel)
    * → int8 scalar quantization (q116's affine codes) → exact
    * integer-dot top-k. No trained model anywhere and no float
    * arithmetic outside the 3-op engine-exact affine map, so every stage
    * AND their composition is hash-reproducible by the oracle — the
    * composition-drift coverage q100 gives the curation chain, for the
    * similarity stack.
    *
    * Scale shape: embed is one fused map pass; quantization stats are a
    * 16-row aggregate; scoring shuffles 16-byte code rows. The
    * exhaustive pair scan is the deliberate q23/q116 baseline — swap in
    * [[Quantize.ivfSq8TopK]] (q117) for the probed path.
    */
  private def q120DocAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.documents(s, d).select(col("doc_id"),
      // hashed components are « 2^24, so the float cast is exact and
      // Quantize's float-typed stats/codes path applies unchanged
      transform(graft.ops.TextAnalysis.hashEmbed(col("text"), 512, 16, 42),
        v => v.cast("float")).as("embedding"))
    Quantize.quantizedTopK(
      emb.filter(col("doc_id") < 20), emb, "doc_id", "embedding", topK)
  }

  /** The PROBED form of q120 — documents through the full IVF-SQ8 scale
    * path: plant [[topK]] EXACT text copies of each query document
    * (identical text → identical hashed embedding → identical codes AND
    * identical argmax cell), build the IVF index over the planted
    * hashed-embedding corpus, quantize the inverted file, probe. The
    * copies sit at squared-L2 distance 0 in the query's own cell, so the
    * probed answer equals the exhaustive quantized top-k the oracle
    * replays — q117's construction, driven from raw text.
    */
  private def q122DocAnnIvf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val planted = (1 to topK).foldLeft(docs) { (acc, m) =>
      acc.union(docs.filter(col("doc_id") < 20).select(
        (col("doc_id") * 10 + lit(3000000L + m)).as("doc_id"), col("text")))
    }
    def embed(df: DataFrame): DataFrame = df.select(col("doc_id"),
      transform(graft.ops.TextAnalysis.hashEmbed(col("text"), 512, 16, 42),
        v => v.cast("float")).as("embedding"))
    val corpus = embed(planted).persist() // index build + stats + quantize
    val queries = embed(docs.filter(col("doc_id") < 20))
    val index = Similarity.buildIvfIndex(corpus, "doc_id", "embedding")
    val (mn, mx) = Quantize.dimStats(corpus, "embedding")
    val assigned = Quantize.assignCellsSq8(
      corpus, "doc_id", "embedding", index, mn, mx)
    Quantize.ivfSq8TopK(index, queries, assigned, "doc_id", "embedding",
      mn, mx, topK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_doc_ann_ivf" -> q122DocAnnIvf _,
    "q120_doc_ann" -> q120DocAnn _,
    "q119_incremental_neardup" -> q119IncrementalNeardup _,
    "q114_random_projection" -> q114RandomProject _,
    "q116_quantized_ann" -> q116QuantizedAnn _,
    "q117_ivf_sq8" -> q117IvfSq8 _,
    "q126_ivf_pq" -> q126IvfPq _,
    "q135_ivf_pq_refine" -> q135IvfPqRefine _,
    "q137_ivf_pq_saved" -> q137IvfPqSaved _,
    "q142_opq_ivf_pq" -> q142OpqIvfPq _,
    "q143_pq_append" -> q143PqAppend _,
    "q144_opq_pq_saved" -> q144OpqPqSaved _,
    "q145_pq_streaming_append" -> q145PqStreamingAppend _,
    "q127_ivf_sq8_agg" -> q127IvfSq8Agg _,
    "q128_ivf_pq_res" -> q128IvfPqRes _,
    "q111_sim_join" -> q111SimJoin _,
    "q112_bloom_decontaminate" -> q112BloomDecontaminate _,
    "q90_leakage_split" -> q90LeakageSplit _,
    "q93_embed_outliers" -> q93EmbedOutliers _,
    "q75_semantic_dedup" -> q75SemanticDedup _,
    "q42_decontaminate" -> q42Decontaminate _,
    "q130_containment_index" -> q130ContainmentIndex _,
    "q52_dedup_clusters" -> q52DedupClusters _,
    "q53_cluster_dedup" -> q53ClusterDedup _,
    "q23_ann_cosine" -> q23AnnCosine _,
    "q134_ann_recall_profile" -> q134RecallProfile _,
    "q24_ann_lsh" -> q24AnnLsh _,
    "q25_ngram_jaccard" -> q25NgramJaccard _,
    "q26_minhash_lsh" -> q26MinhashLsh _,
    "q27_simhash" -> q27Simhash _,
    "q30_cosine_neardup" -> q30CosineNearDup _,
    "q32_ann_ivf" -> q32AnnIvf _,
    "q35_ngram_jaccard_capped" -> q35NgramJaccardCapped _)

  /** Exact word-3-gram containment of the eval split (doc_id < 50) inside
    * the training split — the truth BOTH decontamination paths (q42 plain,
    * q112 Bloom-prefiltered) must reproduce.
    */
  private val containmentSql: String =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "shl AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') " +
      "        for i in range(1, len(t) - 1)]) AS s FROM toks), " +
      "sh AS (SELECT doc_id, unnest(s) AS s FROM shl), " +
      "tr AS (SELECT * FROM sh WHERE doc_id >= 50), " +
      "ev AS (SELECT * FROM sh WHERE doc_id < 50), " +
      "szj AS (SELECT doc_id AS j, COUNT(*) AS n_j FROM ev GROUP BY 1), " +
      "p AS (SELECT tr.doc_id AS i, ev.doc_id AS j, COUNT(*) AS c " +
      "      FROM tr JOIN ev USING (s) GROUP BY 1, 2) " +
      "SELECT i, j, CAST(c AS DOUBLE) / n_j AS containment " +
      "FROM p JOIN szj USING (j) WHERE CAST(c AS DOUBLE) / n_j >= 0.5"

  /** Cosine in DuckDB with the same left-to-right double fold Spark's
    * `aggregate` performs — bit-exact agreement verified by the gate.
    */
  private val cosSql =
    "list_sum(list_transform(range(1, len(qv) + 1), k -> qv[k] * cv[k])) / " +
      "(sqrt(list_sum(list_transform(qv, x -> x * x))) * " +
      "sqrt(list_sum(list_transform(cv, x -> x * x))))"

  /** Shared CTE body: exact word-3-gram Jaccard over all doc pairs. */
  private val jaccardCtes =
    "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') " +
      "        for i in range(1, len(t) - 1)]) AS s FROM toks), " +
      "p AS (SELECT a.doc_id AS i, b.doc_id AS j, " +
      "  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
      "  CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard " +
      "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)"

  private val jaccardSql =
    s"WITH $jaccardCtes SELECT i, j, jaccard FROM p WHERE jaccard >= $minJaccard"

  /** CTEs extending [[jaccardCtes]] to per-node connected components of the
    * near-dup pair graph: symmetric edges, then transitive reachability via
    * a recursive CTE (UNION dedup guarantees termination), then the least
    * reachable id per node — exactly [[graft.ops.Components]]' fixpoint.
    */
  private val componentCtes =
    s"$jaccardCtes, " +
      s"pr AS (SELECT i, j FROM p WHERE jaccard >= $minJaccard), " +
      "e AS (SELECT i AS a, j AS b FROM pr UNION SELECT j, i FROM pr), " +
      "n AS (SELECT DISTINCT a AS v FROM e), " +
      "reach(v, r) AS (SELECT v, v FROM n " +
      "  UNION SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.v), " +
      "comp AS (SELECT v, MIN(r) AS c FROM reach GROUP BY v)"

  /** Exact top-k over the planted corpus — the shared q24/q32 oracle: with
    * recall provably 1 (see [[plantedCorpus]]), the approximate pipelines
    * must hash-match this exact answer.
    */
  private val plantedTopKSql: String =
    s"WITH u AS ($plantedSql), " +
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v " +
      "      FROM u), " +
      "p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv " +
      "      FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id), " +
      s"r AS (SELECT query_id, neighbor_id, $cosSql AS cos FROM p) " +
      "SELECT query_id, neighbor_id, cos, rank FROM (" +
      "  SELECT query_id, neighbor_id, cos, CAST(ROW_NUMBER() OVER (" +
      "    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM r) " +
      s"WHERE rank <= $topK"

  val oracle: Map[String, String] = Map(
    // the exact integer replay of RandomProjectKernel: same millionths
    // rounding (floor, never CAST — CAST rounds in DuckDB, truncates in
    // Spark), same nonlinear (i, j, seed) sign mix mod 2^40, so the sum
    // is an order-free integer both engines agree on bit-for-bit
    "q114_random_projection" ->
      ("WITH sg AS (SELECT i, j, CASE WHEN " +
        "  ((((h2 % 1048576) * (h2 % 1048576) + h2) % 1099511627776) // 1048576) % 2 = 0 " +
        "  THEN 1 ELSE -1 END AS sgn FROM (" +
        "  SELECT i, j, ((h0 % 1048576) * (h0 % 1048576) + h0) % 1099511627776 AS h2 FROM (" +
        "  SELECT i, j, (i * 1048573 + j * 8191 + 42) % 1099511627776 AS h0 " +
        "  FROM (SELECT unnest(range(64)) AS i), (SELECT unnest(range(8)) AS j)))), " +
        "e AS (SELECT vec_id, unnest([{'i': CAST(i - 1 AS BIGINT), " +
        "  'xm': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)} " +
        "  for i in range(1, len(embedding) + 1)], recursive := true) FROM embeddings) " +
        "SELECT e.vec_id, CAST(sg.j AS INT) AS j, " +
        "  CAST(SUM(sg.sgn * e.xm) AS BIGINT) AS out_mill " +
        "FROM e JOIN sg ON sg.i = e.i GROUP BY e.vec_id, sg.j"),
    // full replay of the scalar-quantization pipeline: per-dim float
    // min/max (exact element selections), the 3-op affine map in double
    // with the same association, floor + clamp, integer code dot
    "q116_quantized_ann" ->
      ("WITH x AS (SELECT vec_id, unnest([{'i': i, 'x': embedding[i]} " +
        "  for i in range(1, len(embedding) + 1)], recursive := true) FROM embeddings), " +
        "st AS (SELECT i, CAST(MIN(x) AS DOUBLE) AS mn, CAST(MAX(x) AS DOUBLE) AS mx " +
        "  FROM x GROUP BY i), " +
        "c AS (SELECT vec_id, x.i, CASE WHEN mx > mn THEN " +
        "  GREATEST(0, LEAST(255, CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT))) " +
        "  ELSE 0 END AS code FROM x JOIN st ON x.i = st.i), " +
        "p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, " +
        "  CAST(SUM(q.code * n.code) AS BIGINT) AS qdot " +
        "  FROM c q JOIN c n ON q.vec_id < 20 AND n.vec_id <> q.vec_id AND q.i = n.i " +
        "  GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, qdot, rank FROM (" +
        "  SELECT query_id, neighbor_id, qdot, CAST(ROW_NUMBER() OVER (" +
        "    PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS INT) AS rank FROM p) " +
        s"WHERE rank <= $topK"),
    // the full funnel replayed stage by stage: q118's hashed-embedding
    // CTEs (512 buckets, 16 dims) → q116's quantization CTEs over the
    // (doc_id, j, x) rows → integer-dot ranking. Multiply-referenced
    // CTEs are MATERIALIZED (the trigram-KN precedent: DuckDB inlines
    // non-materialized CTEs per reference and re-expands the chain)
    // exhaustive quantized squared-L2 over the text-planted corpus: the
    // probed IVF-SQ8 answer must equal it (copies at distance 0 in the
    // query's own cell — q117's recall argument, from raw text)
    "q122_doc_ann_ivf" ->
      ("WITH dpl AS (SELECT doc_id, text FROM documents " +
        (1 to topK).map(m =>
          s"UNION ALL SELECT doc_id * 10 + ${3000000 + m}, text " +
            "FROM documents WHERE doc_id < 20").mkString(" ") + "), " +
        s"${QueryHelpers.hashEmbedCtes(512, 16, 42, "dpl")}, " +
        "st AS (SELECT j, CAST(MIN(x) AS DOUBLE) AS mn, CAST(MAX(x) AS DOUBLE) AS mx " +
        "  FROM e GROUP BY j), " +
        "c AS MATERIALIZED (SELECT doc_id, e.j, CASE WHEN mx > mn THEN " +
        "  GREATEST(0, LEAST(255, CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT))) " +
        "  ELSE 0 END AS code FROM e JOIN st ON e.j = st.j), " +
        "p AS (SELECT q.doc_id AS query_id, n.doc_id AS neighbor_id, " +
        "  CAST(SUM((q.code - n.code) * (q.code - n.code)) AS BIGINT) AS qdist " +
        "  FROM c q JOIN c n ON q.doc_id < 20 AND n.doc_id <> q.doc_id AND q.j = n.j " +
        "  GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, qdist, rank FROM (" +
        "  SELECT query_id, neighbor_id, qdist, CAST(ROW_NUMBER() OVER (" +
        "    PARTITION BY query_id ORDER BY qdist ASC, neighbor_id) AS INT) AS rank FROM p) " +
        s"WHERE rank <= $topK"),
    "q120_doc_ann" ->
      (s"WITH ${QueryHelpers.hashEmbedCtes(512, 16, 42)}, " +
        "st AS (SELECT j, CAST(MIN(x) AS DOUBLE) AS mn, CAST(MAX(x) AS DOUBLE) AS mx " +
        "  FROM e GROUP BY j), " +
        "c AS MATERIALIZED (SELECT doc_id, e.j, CASE WHEN mx > mn THEN " +
        "  GREATEST(0, LEAST(255, CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT))) " +
        "  ELSE 0 END AS code FROM e JOIN st ON e.j = st.j), " +
        "p AS (SELECT q.doc_id AS query_id, n.doc_id AS neighbor_id, " +
        "  CAST(SUM(q.code * n.code) AS BIGINT) AS qdot " +
        "  FROM c q JOIN c n ON q.doc_id < 20 AND n.doc_id <> q.doc_id AND q.j = n.j " +
        "  GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, qdot, rank FROM (" +
        "  SELECT query_id, neighbor_id, qdot, CAST(ROW_NUMBER() OVER (" +
        "    PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS INT) AS rank FROM p) " +
        s"WHERE rank <= $topK"),
    // exhaustive quantized squared-L2 over the exact-copy planted corpus:
    // recall of the probed IVF result is structurally 1 there (copies at
    // distance 0 in the query's own cell), so the approximate engine
    // answer equals this exact replay
    // the planted-copy rank contract stated directly: no codebook, no
    // distance — each query's 5 exact copies provably occupy ranks 1..5
    // in id order (identical code → per-subspace-minimum ADC, same
    // argmax coarse cell), and the hash gate fails if the engine's
    // probed ADC ranking ever lets any other candidate displace them
    "q126_ivf_pq" -> pqPlantedOracleSql,
    // the exact re-rank must not disturb the planted answer — same truth
    "q135_ivf_pq_refine" -> pqPlantedOracleSql,
    // the saved-artifact lifecycle must not disturb it either
    "q137_ivf_pq_saved" -> pqPlantedOracleSql,
    // an ORTHOGONAL rotation in front preserves the contract exactly:
    // rotated copies still share the query's vector, code, and cell
    "q142_opq_ivf_pq" -> pqPlantedOracleSql,
    // encode-append must leave appended rows indistinguishable from
    // originally-encoded ones — the m ∈ {4,5} copies arrive by append
    // and must still claim their ranks
    "q143_pq_append" -> pqPlantedOracleSql,
    "q144_opq_pq_saved" -> pqPlantedOracleSql,
    "q145_pq_streaming_append" -> pqPlantedOracleSql,
    // same contract in residual mode: the copies' residual codes attain
    // the per-subspace minimum against the query's own residual frame
    "q128_ivf_pq_res" -> pqPlantedOracleSql,
    "q117_ivf_sq8" -> ivfSq8OracleSql,
    // row-identical by construction (exact min-k == window rank), and
    // PROVEN so by grading the aggregate formulation against the same
    // oracle — the q25/q26 shared-oracle pattern for ranking machinery
    "q127_ivf_sq8_agg" -> ivfSq8OracleSql,
    // floor-scaled (2^20) integer component sums → centroid; cosine folds
    // left-to-right in dim order — mirrors EmbedProfile.groupOutliers
    // bit-for-bit (floor, not cast: cast rounds in DuckDB, truncates in
    // Spark)
    "q93_embed_outliers" ->
      ("WITH s AS (SELECT vec_id, label, " +
        "  [floor(CAST(x AS DOUBLE) * 1048576.0) for x in embedding] AS v " +
        "  FROM embeddings), " +
        "e AS (SELECT label, unnest([{'dim': i, 'x': CAST(v[i] AS BIGINT)} " +
        "  for i in range(1, len(v)+1)], recursive := true) FROM s), " +
        "g AS (SELECT label, dim, SUM(x) AS sm, COUNT(*) AS n " +
        "  FROM e GROUP BY label, dim), " +
        "c AS (SELECT label, list(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) " +
        "  ORDER BY dim) AS c FROM g GROUP BY label), " +
        "d AS (SELECT s.vec_id, s.label, " +
        "  list_sum([s.v[i] * c.c[i] for i in range(1, len(s.v)+1)]) / " +
        "  (sqrt(list_sum([x * x for x in s.v])) * " +
        "   sqrt(list_sum([x * x for x in c.c]))) AS cos_centroid " +
        "  FROM s JOIN c ON s.label = c.label), " +
        "r AS (SELECT vec_id, label, cos_centroid, ROW_NUMBER() OVER " +
        "  (PARTITION BY label ORDER BY cos_centroid ASC, vec_id) AS rnk " +
        "  FROM d) " +
        "SELECT vec_id, label, cos_centroid, CAST(rnk AS INT) AS rnk " +
        "FROM r WHERE rnk <= 3"),
    "q42_decontaminate" -> containmentSql,
    // the saved-index lifecycle must not change the answer — same truth
    "q130_containment_index" -> containmentSql,
    // the Bloom prefilter must be invisible in the answer: q112 is graded
    // against the same exact-containment truth as q42
    "q112_bloom_decontaminate" -> containmentSql,
    "q24_ann_lsh" -> plantedTopKSql,
    "q32_ann_ivf" -> plantedTopKSql,
    // the full IVF pipeline replayed in SQL: designated-vector centroids
    // (a pure function of named corpus rows), argmax cells with the
    // (score desc, cell desc) tie order of array_max-over-structs, probe
    // ranks, per-level candidate sets, and the same (cos desc, id) top-k
    // — recall is then integer counting both engines agree on exactly
    "q134_ann_recall_profile" ->
      ("WITH e AS MATERIALIZED (SELECT vec_id, " +
        "  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "en AS MATERIALIZED (SELECT vec_id, v, " +
        "  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e), " +
        "cents AS MATERIALIZED (SELECT " +
        "  CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv, " +
        "  sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm " +
        s"  FROM e WHERE vec_id IN (${q134CentroidIds.mkString(", ")})), " +
        "scores AS MATERIALIZED (SELECT en.vec_id, c.cell, " +
        "  list_sum(list_transform(range(1, len(en.v) + 1), k -> en.v[k] * c.cv[k])) / c.cnrm AS score " +
        "  FROM en CROSS JOIN cents c), " +
        "assign AS MATERIALIZED (SELECT vec_id, cell FROM (" +
        "  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id " +
        "    ORDER BY score DESC, cell DESC) AS rn FROM scores) WHERE rn = 1), " +
        "probes AS MATERIALIZED (SELECT vec_id AS query_id, cell, " +
        "  row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS prnk " +
        "  FROM scores WHERE vec_id < 20), " +
        "exact AS MATERIALIZED (SELECT query_id, neighbor_id FROM (" +
        "  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "    row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "      list_sum(list_transform(range(1, len(q.v) + 1), k -> q.v[k] * c.v[k])) / (q.nrm * c.nrm) DESC, " +
        "      c.vec_id) AS rnk " +
        s"  FROM en q JOIN en c ON q.vec_id < 20 AND c.vec_id <> q.vec_id) WHERE rnk <= $topK), " +
        "cand AS MATERIALIZED (SELECT np.n_probe, p.query_id, a.vec_id AS neighbor_id, " +
        "  list_sum(list_transform(range(1, len(q.v) + 1), k -> q.v[k] * c.v[k])) / (q.nrm * c.nrm) AS cos " +
        s"  FROM (VALUES ${q134Probes.map(p => s"($p)").mkString(", ")}) np(n_probe) " +
        "  JOIN probes p ON p.prnk <= np.n_probe " +
        "  JOIN assign a ON a.cell = p.cell " +
        "  JOIN en q ON q.vec_id = p.query_id " +
        "  JOIN en c ON c.vec_id = a.vec_id " +
        "  WHERE a.vec_id <> p.query_id), " +
        "ann AS MATERIALIZED (SELECT n_probe, query_id, neighbor_id FROM (" +
        "  SELECT n_probe, query_id, neighbor_id, row_number() OVER (" +
        "    PARTITION BY n_probe, query_id ORDER BY cos DESC, neighbor_id) AS rnk " +
        s"  FROM cand) WHERE rnk <= $topK), " +
        "hits AS (SELECT ann.n_probe, COUNT(*) AS h FROM ann " +
        "  JOIN exact ON ann.query_id = exact.query_id " +
        "    AND ann.neighbor_id = exact.neighbor_id GROUP BY ann.n_probe) " +
        s"SELECT np.n_probe, 20 AS n_queries, $topK AS k, " +
        "  COALESCE(h.h, 0) AS total_hits, " +
        s"  COALESCE(h.h, 0) * 1000000 // ${topK * 20} AS recall_millionths " +
        s"FROM (VALUES ${q134Probes.map(p => s"($p)").mkString(", ")}) np(n_probe) " +
        "LEFT JOIN hits h ON h.n_probe = np.n_probe"),
    "q23_ann_cosine" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v " +
        "           FROM embeddings), " +
        "p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv " +
        "      FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id), " +
        s"r AS (SELECT query_id, neighbor_id, $cosSql AS cos FROM p) " +
        "SELECT query_id, neighbor_id, cos, rank FROM (" +
        "  SELECT query_id, neighbor_id, cos, CAST(ROW_NUMBER() OVER (" +
        "    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM r) " +
        s"WHERE rank <= $topK"),
    "q25_ngram_jaccard" -> jaccardSql,
    "q26_minhash_lsh" -> jaccardSql,
    "q35_ngram_jaccard_capped" -> jaccardSql,
    // cross-corpus truth for the incremental index path: the batch is 30
    // exact history copies at +2e6 ids; Jaccard recomputed from strings
    "q119_incremental_neardup" ->
      ("WITH h AS (SELECT doc_id, text FROM documents WHERE doc_id >= 50), " +
        "bt AS (SELECT doc_id + 2000000 AS doc_id, text FROM documents " +
        "  WHERE doc_id BETWEEN 50 AND 79), " +
        "hs AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') " +
        "  for i in range(1, len(t) - 1)]) AS s FROM " +
        "  (SELECT doc_id, string_split(text, ' ') AS t FROM h)), " +
        "bs AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') " +
        "  for i in range(1, len(t) - 1)]) AS s FROM " +
        "  (SELECT doc_id, string_split(text, ' ') AS t FROM bt)), " +
        "p AS (SELECT b.doc_id AS i, a.doc_id AS j, " +
        "  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
        "  CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard " +
        "  FROM bs b JOIN hs a ON true) " +
        s"SELECT i, j, jaccard FROM p WHERE jaccard >= $minJaccard"),
    "q52_dedup_clusters" ->
      (s"WITH RECURSIVE $componentCtes " +
        "SELECT v AS doc_id, c AS component FROM comp"),
    "q90_leakage_split" ->
      (s"WITH RECURSIVE $componentCtes, " +
        "l AS (SELECT d.doc_id, COALESCE(comp.c, d.doc_id) AS split_label " +
        "  FROM documents d LEFT JOIN comp ON d.doc_id = comp.v) " +
        "SELECT doc_id, split_label, " +
        "CASE WHEN ((split_label % 1000000) * 435761) % 1000000 < 800000 " +
        "THEN 'train' ELSE 'val' END AS side FROM l"),
    "q53_cluster_dedup" ->
      (s"WITH RECURSIVE $componentCtes " +
        "SELECT doc_id, lang, source FROM documents " +
        "WHERE doc_id NOT IN (SELECT v FROM comp WHERE v <> c)"),
    "q27_simhash" ->
      ("WITH u AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text FROM documents), " +
        "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM u), " +
        "sh AS (SELECT doc_id, list_sort(list_distinct([array_to_string(t[i:i+2], ' ') " +
        "        for i in range(1, len(t) - 1)])) AS s FROM toks) " +
        "SELECT a.doc_id AS i, b.doc_id AS j, CAST(1.0 AS DOUBLE) AS jaccard " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.s = b.s AND len(a.s) > 0"),
    // q111 shares q30's exact all-pairs truth: the declarative LSH join
    // must reproduce precisely what the explicit cosineNearDupPairs
    // pipeline does (recall provably 1 on the planted corpus)
    "q111_sim_join" ->
      ("WITH u AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, " +
        "list_transform(embedding, x -> x * CAST(2 AS FLOAT)) FROM embeddings), " +
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM u), " +
        "p AS (SELECT a.vec_id AS i, b.vec_id AS j, a.v AS qv, b.v AS cv " +
        "      FROM e a JOIN e b ON a.vec_id < b.vec_id), " +
        s"r AS (SELECT i, j, $cosSql AS cos FROM p) " +
        "SELECT i, j, cos FROM r WHERE cos >= 0.999"),
    "q30_cosine_neardup" ->
      ("WITH u AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, " +
        "list_transform(embedding, x -> x * CAST(2 AS FLOAT)) FROM embeddings), " +
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM u), " +
        "p AS (SELECT a.vec_id AS i, b.vec_id AS j, a.v AS qv, b.v AS cv " +
        "      FROM e a JOIN e b ON a.vec_id < b.vec_id), " +
        s"r AS (SELECT i, j, $cosSql AS cos FROM p) " +
        "SELECT i, j, cos FROM r WHERE cos >= 0.999"),
    // the all-pairs truth the cell-scoped engine must reproduce (recall is
    // provably 1 on the planted corpus; see q75SemanticDedup)
    "q75_semantic_dedup" ->
      ("WITH u AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, " +
        "list_transform(embedding, x -> x * CAST(2 AS FLOAT)) FROM embeddings), " +
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM u), " +
        "p AS (SELECT a.vec_id AS i, b.vec_id AS j, a.v AS qv, b.v AS cv " +
        "      FROM e a JOIN e b ON a.vec_id < b.vec_id), " +
        s"r AS (SELECT i, j, $cosSql AS cos FROM p), " +
        "d AS (SELECT DISTINCT j FROM r WHERE cos >= 0.999) " +
        "SELECT vec_id FROM u WHERE vec_id NOT IN (SELECT j FROM d)"))
}
