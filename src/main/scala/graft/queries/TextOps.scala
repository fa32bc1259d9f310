package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.core.Tables
import graft.ops.{Dedup, Dsir, Quantiles, Retrieval, SpanDedup, TextAnalysis}

/** Oracle-checked queries for the text-analysis / dedup operator family over
  * the `documents` table: exact-dup dedup, per-document statistics,
  * language-ID + quality scoring (the standard pre-training corpus filters).
  *
  * Everything is pure column arithmetic (see [[graft.ops.TextAnalysis]]) —
  * map-only plans except the dedup's single hash shuffle on the fingerprint.
  */
object TextOps {

  /** Exact-dup dedup via canonical md5 fingerprint, keep lowest doc_id per
    * group (deterministic survivor). Shuffle key = 32-char hash, not text.
    */
  private def q20ExactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exactByFingerprint(
      Tables.documents(s, d).select("doc_id", "lang", "source", "text"),
      "text", Seq(col("doc_id").asc))
      .select("doc_id", "lang", "source")

  /** Per-document statistics: token/char counts, mean token length,
    * punctuation ratio, English-stopword ratio. All exact int-derived
    * doubles (single IEEE division each) — bit-stable across engines.
    */
  private def q21TextStats(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.tokenCount(t).as("n_tokens"),
      TextAnalysis.charCount(t).as("n_chars"),
      TextAnalysis.avgTokenLen(t).as("avg_tok_len"),
      TextAnalysis.punctRatio(t).as("punct_ratio"),
      TextAnalysis.stopwordRatio(t, TextAnalysis.langStopwords("en"))
        .as("stop_ratio_en"))
  }

  /** Language-ID heuristic (argmax of per-language stopword hit ratios) +
    * composite quality score — the C4/Gopher-style filter columns.
    */
  private def q22LangQuality(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    Tables.documents(s, d).select(
      col("doc_id"),
      col("lang").as("lang_label"),
      TextAnalysis.langId(t).as("lang_pred"),
      TextAnalysis.qualityScore(t, TextAnalysis.langStopwords("en"))
        .as("quality"))
  }

  /** Winnowing document fingerprints, one (doc_id, fp) row per selected
    * hash. Runs the native fused kernel
    * ([[graft.functions.WinnowFingerprints]], injected as `graft_winnow`):
    * one O(n) pass per document — rolling k-gram hash + monotonic-deque
    * window minimum — inside whole-stage codegen, replacing the three
    * stacked interpreted higher-order projections of the reference
    * formulation in [[TextAnalysis]] (kept as the tested semantic spec;
    * the two are asserted value-identical). Map-only plan: scan, project,
    * explode; no shuffle until someone joins on fp.
    */
  private def q31WinnowFp(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(call_function("graft_winnow",
          col("text"), lit(winnowK), lit(winnowW))).as("fp"))

  private val winnowK = 8
  private val winnowW = 4

  /** MOSS-style fingerprint-overlap pairs
    * ([[graft.ops.NearDup.winnowOverlapPairs]]): document pairs sharing
    * winnowing fingerprints, hot fingerprints pruned, overlap fraction on
    * the smaller set. Planted byte-identical copies (ids +1e6) guarantee
    * deterministic full-overlap pairs; the oracle replays the identical
    * winnow + prune + pair pipeline in SQL, so any genuine boilerplate
    * pairs in the corpus are checked too.
    */
  private def q78WinnowPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val planted = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"))
    graft.ops.NearDup.winnowOverlapPairs(docs.union(planted), "doc_id",
      "text", winnowK, winnowW, maxDf = 10L, minShared = 2L)
  }

  /** Corpus-level reporting rollup: per declared language, document count,
    * total token mass, and the quality-score envelope. One hash shuffle on
    * `lang` with full map-side partial aggregation. Doubles enter only
    * through order-independent MIN/MAX (a SUM of doubles would be
    * fold-order-dependent and unhashable cross-engine).
    */
  private def q36CorpusStats(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(t).cast("long")).as("total_tokens"),
        min(TextAnalysis.qualityScore(t, TextAnalysis.langStopwords("en")))
          .as("min_quality"),
        max(TextAnalysis.qualityScore(t, TextAnalysis.langStopwords("en")))
          .as("max_quality"))
  }

  /** Vocabulary head: the 20 most document-frequent word trigrams (the
    * BPE-vocabulary/stop-shingle prep view). explode → count → top-k with a
    * full tiebreak order so the limit is deterministic.
    */
  private def q37TopNgrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(graft.ops.Shingles.wordShinglesNative(col("text"), 3)).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(20)

  /** PII redaction (emails/URLs → typed placeholders). The corpus carries
    * no PII, so each document gets one planted email and URL appended —
    * every row then exercises a real redaction the oracle recomputes;
    * counts are taken BEFORE scrubbing. Map-only regexp chain.
    */
  private def q40Redact(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com via https://ex.com/p/"), col("doc_id").cast("string"))
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.redact(planted).as("clean"),
      regexp_count(planted, lit(TextAnalysis.emailPattern)).as("n_emails"),
      regexp_count(planted, lit(TextAnalysis.urlPattern)).as("n_urls"))
  }

  /** Repetition signal + line-level boilerplate scrub. The corpus is
    * single-line word soup with no punctuation, so deterministic sentence
    * boundaries are planted first (every " table " occurrence becomes a
    * terminated line break; same literal rewrite in the oracle) — most
    * documents then exercise real multi-line filtering: short lines and
    * lines without terminal punctuation are dropped.
    */
  private def q41LineQuality(s: SparkSession, d: String): DataFrame = {
    val lined = regexp_replace(col("text"), " table ", ".\ntable ")
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.repetitionRatio(col("text"), 3).as("rep_ratio"),
      TextAnalysis.filterLines(lined, 4).as("kept_text"))
  }

  /** Token-length distribution per language ([[Quantiles.exactQuantiles]]):
    * exact p25/p50/p75 of the per-document token count. Dyadic percentiles
    * over integer counts interpolate to exact doubles, so the result is
    * bit-identical to DuckDB's `quantile_cont` (see [[Quantiles]] for why —
    * and why the 100 TB path for unbounded groups is `approxQuantiles`,
    * which this corpus-reporting shape does not need).
    */
  private def q48TokenQuantiles(s: SparkSession, d: String): DataFrame =
    Quantiles.exactQuantiles(
      Tables.documents(s, d).select(col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      keys = Seq("lang"), valueCol = "n_tokens", ps = Seq(0.25, 0.5, 0.75))

  /** Per-document top-3 terms by term frequency, with corpus document
    * frequency attached — the document-term-matrix / tf-idf prep view.
    * The tf table (one shuffle on (doc_id, term)) is persisted and feeds
    * BOTH the df aggregation and the per-document ranking, so the explode
    * over the corpus happens once; the final df join moves only 3 rows per
    * document. Integer-only outputs keep the oracle hash exact (an idf
    * float would be libm-dependent cross-engine).
    *
    * Stays on the WINDOW formulation deliberately, with the measurement
    * that decided it: the weighted sketch re-plan
    * (`graft_topk(term, tf, 3, 65536)`, tried and oracle-green) ran 1.4×
    * slower at sf0.1 and offers no asymptotic win HERE — with capacity ≥
    * per-doc distinct terms (required for exactness) each group's partial
    * sketch IS its term table, so the shuffle ships the same bytes plus
    * sketch overhead. The sketch aggregate earns its keep when groups are
    * few and heavy (q105: per-language over the whole corpus, term table
    * >> capacity); for many small groups the sorted window is the right
    * plan at every scale.
    */
  private def q49TopTerms(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .persist()
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("rnk", row_number().over(byDoc))
      .where(col("rnk") <= 3)
      .join(docFreq, "term")
      .select("doc_id", "term", "tf", "df", "rnk")
  }

  /** Bigram language-model counts: every adjacent token pair's occurrence
    * count plus its left-context total — the n-gram-LM / tokenizer-prep
    * statistics (P(w2|w1) = n_pair/n_ctx, left as integers so the oracle
    * hash is exact). Occurrence n-grams, NOT the distinct shingle sets the
    * similarity family uses. Two hash aggregations + one equi-join on w1;
    * the `n_pair >= 5` floor is the standard count-threshold prune and
    * keeps the emitted table to the statistically meaningful head.
    */
  private def q59BigramCounts(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.documents(s, d)
      .select(explode(
        graft.ops.Shingles.wordNgramOccurrencesNative(col("text"), 2)).as("bg"))
      .groupBy("bg")
      .agg(count(lit(1)).as("n_pair"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("n_pair"))
      .persist() // feeds BOTH the context agg and the final join: one explode
    val ctx = pairs.groupBy("w1").agg(sum(col("n_pair")).as("n_ctx"))
    pairs.join(ctx, "w1")
      .where(col("n_pair") >= 5)
      .select("w1", "w2", "n_pair", "n_ctx")
  }

  /** Bigram-LM document scoring ([[graft.ops.Lm]]): train a
    * count-thresholded bigram LM over the corpus, then score every
    * document's fluency against it — OOV rate plus integer-exact
    * conditional-probability mass (the CC-Net-style corpus filter).
    * Deliberately TWO corpus scans (train + score): occurrence-level
    * persist would pin corpus-sized state at scale, while the extra scan
    * is a map-only explode.
    */
  private def q73LmScore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    graft.ops.Lm.scoreDocuments(docs, "doc_id", "text",
      graft.ops.Lm.bigramLm(docs, "text", minCount = 5L))
  }

  /** Incremental exact dedup ([[Dedup.incrementalByFingerprint]]): the
    * corpus-that-grows-by-batches shape. Documents with id % 5 != 0 play
    * the existing corpus (reduced to its fingerprint index); the new batch
    * is the id % 5 == 0 slice plus planted re-crawls (copies of existing
    * docs at ids +1e6) that the index join must reject.
    */
  private def q83IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
    val existing = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val fresh = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      .union(existing.where(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("text")))
    Dedup.incrementalByFingerprint(fresh, "text",
      Dedup.fingerprintIndex(existing, "text"), Seq(col("doc_id").asc))
      .select("doc_id", "lang")
  }

  /** Gopher-style repetition profile ([[graft.ops.Repetition]]): the
    * character-mass concentration metrics (duplicate-word char fraction,
    * top-word char fraction) plus the composite gate. One explode, one
    * combine-collapsed (doc, word) count, one per-doc agg.
    */
  private def q74Repetition(s: SparkSession, d: String): DataFrame =
    graft.ops.Repetition.wordRepetitionProfile(
      Tables.documents(s, d), "doc_id", "text")

  /** BPE pair statistics ([[graft.ops.Bpe]]): the weighted adjacent
    * character-pair counts of the initial merge round — the counting core
    * of the tokenizer trainer, oracle-checked (the iterative merge loop is
    * driver-sequential by nature and pinned against the textbook corpus in
    * BpeSpec instead). The corpus is touched once (token-frequency agg);
    * the pair counting runs over the bounded vocabulary.
    */
  private def q60BpePairs(s: SparkSession, d: String): DataFrame =
    graft.ops.Bpe.pairCounts(
      graft.ops.Bpe.tokenFreqs(Tables.documents(s, d), "text")
        .select(graft.ops.Bpe.symbols(col("tok")).as("syms"), col("freq")))
      .select(concat(col("l"), col("r")).as("pair"), col("freq"))
      .where(col("freq") >= 50)

  /** BPE ENCODING with a fixed merge table ([[graft.ops.Bpe.encodePieces]]
    * — the native `graft_bpe` kernel): segment every distinct corpus token
    * into subword pieces, applying the ranked merges to their
    * leftmost-greedy fixpoint in rank order. The table is a pinned
    * constant here (training's output is covered by q60 + BpeSpec) so the
    * oracle can replay the exact merge sequence — as a DuckDB RECURSIVE
    * CTE doing one leftmost replacement per step over a
    * boundary-delimited symbol string, which is step-for-step the
    * kernel's contract. Letter-only tokens keep the oracle's '/'
    * delimiter unambiguous. Vocabulary-sized output: the corpus is
    * touched once (the token-frequency agg feeding the distinct-token
    * list); see [[graft.ops.Bpe.encodeCorpus]] for the occurrence-level
    * join-back.
    */
  private def q66BpeEncode(s: SparkSession, d: String): DataFrame = {
    val p = graft.ops.Bpe.encodePieces(col("tok"), q66Merges)
    graft.ops.Bpe.tokenFreqs(Tables.documents(s, d), "text")
      .where(col("tok").rlike("^[A-Za-z]+$"))
      .select(col("tok"), p.as("__p"))
      .select(col("tok"), array_join(col("__p"), " ").as("pieces"),
        size(col("__p")).as("n_pieces"))
  }

  /** Tokenizer fertility by language: occurrence-weighted average
    * subword-pieces-per-word under the q66 merge table — THE number a
    * tokenizer is judged by per language (fertility ≫ 1 for a language
    * means its text costs proportionally more context window, the standard
    * multilingual-tokenizer equity metric). Pieces are computed once per
    * DISTINCT vocabulary token and broadcast back onto the per-language
    * occurrence counts — the corpus is never re-encoded per occurrence.
    */
  private def q103Fertility(s: SparkSession, d: String): DataFrame = {
    val occ = Tables.documents(s, d)
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .where(col("tok").rlike("^[A-Za-z]+$"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n_occ"))
    val pieces = occ.select("tok").distinct()
      .select(col("tok"),
        size(graft.ops.Bpe.encodePieces(col("tok"), q66Merges))
          .cast("long").as("n_pieces"))
    occ.join(broadcast(pieces), "tok")
      .groupBy("lang")
      .agg(sum(col("n_occ")).as("n_words"),
        sum(col("n_occ") * col("n_pieces")).as("n_subwords"))
      .withColumn("fertility",
        col("n_subwords").cast("double") / col("n_words").cast("double"))
  }

  /** A realistic English-bigram head, deliberately including CHAINED merges
    * (es→est, th→the, an→and) so the oracle exercises rank ordering, not
    * just independent pair replacement.
    */
  private val q66Merges = Seq(
    "e" -> "s", "es" -> "t", "t" -> "h", "th" -> "e", "i" -> "n",
    "a" -> "n", "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")

  /** Unicode canonicalization (native `graft_normtext` — NFC, diacritic
    * strip, root-locale lowercase, whitespace collapse). The corpus is
    * ASCII, so q40-style planting appends accented, mixed-case,
    * tab-ridden text to every row — each row then exercises the real
    * normalization path and the oracle recomputes it with DuckDB's
    * nfc_normalize/strip_accents/lower. Map-only.
    */
  private def q68Normalize(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit("  Café NAÏVE\trésumé  Über  "))
    Tables.documents(s, d).select(
      col("doc_id"),
      call_function("graft_normtext", planted).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("norm_text")).as("n_chars"))
  }

  /** Deterministic stratified sample ([[graft.ops.Sampling.stratifiedTopK]]):
    * exactly 50 documents per language, the hash-smallest ids — the
    * eval-set carve-out, rerun- and engine-reproducible. The engine runs
    * the filter-and-refine shape (loose hash filter + small-window refine,
    * exactness fallback for short groups); the oracle is the naive
    * full-window argsort it must equal row-for-row.
    */
  private def q70StratifiedSample(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.stratifiedTopK(Tables.documents(s, d), "lang", "doc_id", k = 50)
      .select(col("doc_id"), col("lang"), col("rank").as("smp_rank"))

  /** Sliding-window context chunks ([[graft.ops.Packing.slidingChunks]]):
    * 64-token windows advancing by 48 (16 tokens of overlap kept as
    * lookback context) — the per-document half of sequence prep, next to
    * q55's cross-document packing. Map-only bounded explode.
    */
  private def q69Chunks(s: SparkSession, d: String): DataFrame =
    graft.ops.Packing.slidingChunks(
      Tables.documents(s, d), "doc_id", "text", chunkSize = 64, stride = 48)

  /** Corpus-relative outlier filter: documents whose token count exceeds
    * their language's p75 — the Gopher-style "threshold derived FROM the
    * corpus, not hardcoded" quality-gating pattern, composed from
    * [[Quantiles.exactQuantiles]] + a broadcast-size threshold join (one
    * row per language).
    */
  private def q61LengthOutliers(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .persist() // feeds BOTH the quantile agg and the filter: one scan
    val thresholds = Quantiles
      .exactQuantiles(stats.select("lang", "n_tokens"),
        Seq("lang"), "n_tokens", Seq(0.75))
      .select(col("lang"), col("p75"))
    stats.join(thresholds, "lang")
      .where(col("n_tokens") > col("p75"))
      .select("doc_id", "lang", "n_tokens")
  }

  /** The composed one-pass cleaning report: every gate of a C4/Gopher-style
    * corpus filter evaluated together — length window, punctuation ratio,
    * language-ID confidence, bigram repetition — with per-rule verdicts
    * (so dropped mass is attributable per rule, the thing a corpus recipe
    * audit needs) and the composite keep. Pure column arithmetic over the
    * existing kernels: one map-only pass, no shuffle, whole-stage codegen.
    */
  private def q86FilterReport(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nTok = TextAnalysis.tokenCount(t)
    val lenOk = nTok >= 10 && nTok <= 100000
    val punctOk = TextAnalysis.punctRatio(t) <= 0.2
    val langKnown = TextAnalysis.langId(t) =!= "und"
    val repOk = TextAnalysis.repetitionRatio(t, 2) <= 0.2
    Tables.documents(s, d).select(col("doc_id"),
      lenOk.as("len_ok"), punctOk.as("punct_ok"),
      langKnown.as("lang_known"), repOk.as("rep_ok"),
      (lenOk && punctOk && langKnown && repOk).as("keep"))
  }

  /** Quality-weighted importance sampling: each document keeps with
    * probability equal to its own quality score — the soft alternative to
    * a hard quality cutoff (q61/q36's metric, q43/q65's deterministic
    * hash-bucket selection, composed). Map-only; rerun-identical (the
    * Knuth-scatter hash, not rand()), and the keep test is one multiply +
    * one compare of engine-exact doubles.
    */
  private def q85QualitySample(s: SparkSession, d: String): DataFrame = {
    val q = TextAnalysis.qualityScore(col("text"),
      TextAnalysis.langStopwords("en"))
    val h = pmod(pmod(col("doc_id"), lit(1000000L)) * 435761L, lit(1000000L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), q.as("quality"), h.as("__h"))
      .where(col("__h").cast("double") < col("quality") * 1000000.0)
      .drop("__h")
  }

  /** Markup scrub ([[TextAnalysis.stripMarkup]]): the q40-style planted
    * construction — every row gains a deterministic tag/entity payload so
    * the scrub path actually executes — with the tag count emitted
    * alongside the cleaned text. Map-only.
    */
  private def q89StripMarkup(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" <div class=\"x\">Tail &amp; <b>tags</b> &lt;escaped&gt;</div>"))
    Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.stripMarkup(planted).as("clean"),
      regexp_count(planted, lit("<[^>]*>")).cast("int").as("n_tags"))
  }

  /** Exact-substring span dedup ([[SpanDedup.removeDuplicateSpans]]):
    * duplicated 15-token spans are cut from every document but the
    * canonical first occurrence — Lee et al.'s ExactSubstr re-expressed as
    * window hashing + interval merge (the suffix-array build is the one
    * piece of that paper a single machine must own; the window-hash form
    * is the distributed equivalent and detects every shared run >= w).
    */
  private def q91SpanDedup(s: SparkSession, d: String): DataFrame =
    SpanDedup.removeDuplicateSpans(Tables.documents(s, d), "doc_id", "text",
      w = 15)

  /** Corpus duplication-mass profile ([[SpanDedup.duplicationProfile]]):
    * per-document fraction of 15-token windows that occur elsewhere in the
    * corpus, with max multiplicity — the diagnostic that sizes (or
    * waives) a q91 span-dedup pass before paying for it.
    */
  private def q94DupProfile(s: SparkSession, d: String): DataFrame =
    SpanDedup.duplicationProfile(Tables.documents(s, d), "doc_id", "text",
      w = 15)

  /** BM25 keyword retrieval ([[Retrieval.bm25TopK]]): top-10 documents for
    * a three-term probe query — the corpus-audit / decontamination-triage
    * lexical search. Rational-idf variant (no libm in the score), term
    * filter pushed map-side so text never shuffles, TakeOrdered top-k.
    */
  private def q92Bm25(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
      queryTerms = Seq("spark", "window", "merge"), k = 10)

  /** Content-defined chunk dedup ([[graft.ops.Packing
    * .contentDefinedChunks]]): rsync/LBFS-style boundaries (md5-prefix
    * 1-in-16 rule) make chunking insertion-robust, then byte-identical
    * chunks across the corpus surface as the duplicate-chunk candidate
    * table — chunk-granular storage dedup beside the document-granular
    * q20 and span-granular q91.
    */
  private def q97CdcChunks(s: SparkSession, d: String): DataFrame =
    graft.ops.Packing.contentDefinedChunks(Tables.documents(s, d),
      "doc_id", "text")

  /** Source-overlap contamination matrix: distinct trigram-shingle overlap
    * between every source pair (shared count, per-source vocabulary sizes,
    * Jaccard) — the corpus-governance view that catches one feed
    * mirroring another BEFORE both are ingested as "independent" data.
    * Distinct (source, shingle-hash) rows block the self-join; a shingle
    * present in S sources costs S² pair rows within its own hash group
    * (bounded by the source count squared, not the corpus — at thousands
    * of sources, prune universal shingles first the way NearDup's df cap
    * does).
    */
  private def q99SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.ops.Shingles.wordShinglesNative(col("text"), 3)).as("sh"))
      .select(col("source"), xxhash64(col("sh")).as("h"))
      .distinct()
      .persist() // feeds the size agg and both sides of the pair join
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = sh.select(col("source").as("src_i"), col("h"))
      .join(sh.select(col("source").as("src_j"), col("h")), "h")
      .where(col("src_i") < col("src_j"))
      .groupBy("src_i", "src_j").agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("src_i"),
        col("n").as("n_i"))), "src_i")
      .join(broadcast(sizes.select(col("source").as("src_j"),
        col("n").as("n_j"))), "src_j")
      .select(col("src_i"), col("src_j"), col("n_shared"), col("n_i"),
        col("n_j"),
        (col("n_shared").cast("double") /
          (col("n_i") + col("n_j") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  /** The composed curation recipe, end-to-end as ONE oracle-checked query:
    * token-length gate → canonical exact dedup (keep-first) →
    * exact-substring span removal — the minimal version of the pass a
    * training-data pipeline runs over a raw crawl, with every stage an
    * already-verified operator ([[TextAnalysis.tokenCount]],
    * [[Dedup.exactByFingerprint]], [[SpanDedup.removeDuplicateSpans]]).
    * Checking the COMPOSITION catches stage-contract drift (column
    * renames, null handling, ordering assumptions) that per-stage oracles
    * cannot.
    */
  private def q100CurationRecipe(s: SparkSession, d: String): DataFrame = {
    val filtered = Tables.documents(s, d)
      .where(TextAnalysis.tokenCount(col("text")).between(20, 1000))
      .select("doc_id", "text")
    val ded = Dedup.exactByFingerprint(filtered, "text",
      Seq(col("doc_id").asc))
    SpanDedup.removeDuplicateSpans(ded, "doc_id", "text", w = 15)
  }

  /** CC-Net-style per-language quality buckets: documents bucketed
    * head/middle/tail by their bigram-LM quality relative to THEIR OWN
    * language's quartiles — the thresholds are corpus-derived per group,
    * never global constants (a global cut systematically starves
    * low-resource languages). Composes two verified operators:
    * [[graft.ops.Lm.scoreDocuments]] for the per-doc quality (integer
    * millionths per bigram, exact) and [[Quantiles.exactQuantiles]] at the
    * dyadic 0.25/0.75 (bit-exact vs quantile_cont — q48's contract);
    * thresholds broadcast back, bucketing is map-side.
    */
  private def q102QualityBuckets(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
    val scored = graft.ops.Lm.scoreDocuments(docs, "doc_id", "text",
      graft.ops.Lm.bigramLm(docs, "text", minCount = 5L))
    val q = scored
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"),
        expr("prob_mass div n_bigrams").as("q"))
    val thr = Quantiles.exactQuantiles(q, Seq("lang"), "q", Seq(0.25, 0.75))
      .select(col("lang"), col("p25"), col("p75"))
    q.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("q"),
        when(col("q") >= col("p75"), "head")
          .when(col("q") <= col("p25"), "tail")
          .otherwise("middle").as("bucket"))
  }

  /** Kneser-Ney smoothed bigram table ([[graft.ops.Lm.kneserNeyTable]]):
    * the standard n-gram smoother — continuation-novelty counts, absolute
    * discount 3/4, exact integer millionths via one common-denominator
    * division. Complements q59's raw counts and q73's MLE scoring.
    */
  private def q104KneserNey(s: SparkSession, d: String): DataFrame =
    graft.ops.Lm.kneserNeyTable(Tables.documents(s, d), "text",
      minCount = 5L)

  /** Per-language top-5 terms via the NATIVE heavy-hitters aggregate
    * ([[graft.functions.TopKAgg]], injected as `graft_topk`) — the q49
    * top-n-per-group family re-planned as ONE aggregation: explode →
    * groupBy(lang) → graft_topk, then a map-only posexplode of the k-row
    * result. No second shuffle of the term-frequency table, no sort, no
    * Window (PlanSpec pins the single-ObjectHashAggregate plan); between
    * partial and final aggregation each group ships a capacity-bounded
    * sketch, not its term table.
    *
    * Skew is PLANTED — three `hot_<lang>` tokens per document, making the
    * planted term each language's unambiguous rank-1 — and `capacity` (64)
    * exceeds the per-language distinct-token count, so by the
    * [[graft.functions.TopKSketch]] exactness contract the sketch never
    * evicts and the output is the exact deterministic top-5 the DuckDB
    * window-rank oracle computes. At 100 TB, capacity stays
    * vocabulary-sized while N grows — the regime the sketch exists for.
    */
  private def q105TopkTerms(s: SparkSession, d: String): DataFrame = {
    val hot = concat(lit("hot_"), col("lang"))
    Tables.documents(s, d)
      .select(col("lang"), explode(concat(
        TextAnalysis.tokens(col("text")), array(hot, hot, hot))).as("term"))
      .groupBy("lang")
      .agg(call_function("graft_topk", col("term"), lit(5), lit(64)).as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), col("col.item").as("term"), col("col.cnt").as("tf"),
        (col("pos") + 1).as("rnk"))
  }

  /** Interpolated trigram Kneser-Ney table
    * ([[graft.ops.Lm.kneserNeyTrigramTable]]): the standard corpus-fluency
    * scorer — trigram absolute discounting backed off through the
    * continuation-count bigram distribution, one interpolation, exact
    * integer millionths with DECIMAL(38,0) intermediates. Extends q104's
    * bigram table to the order real quality filters use.
    */
  private def q106KneserNeyTrigram(s: SparkSession, d: String): DataFrame =
    graft.ops.Lm.kneserNeyTrigramTable(Tables.documents(s, d), "text",
      minCount = 3L)

  /** Trigram-KN corpus-fluency scoring
    * ([[graft.ops.Lm.scoreDocumentsTrigram]] over the q106 table): per
    * document, total trigrams, OOV count against the count-thresholded
    * table, exact integer-millionths probability mass, OOV rate — the
    * composition (train the smoother, score the corpus with it) a quality
    * pipeline actually runs, as ONE oracle row.
    *
    * Runs the full [[graft.ops.Lm.saveTable]]/[[graft.ops.Lm.loadTable]]
    * lifecycle: the table is trained and persisted once per (JVM, scale
    * factor) and every scoring run consumes the LOADED artifact — training
    * cost out of the scoring path, the train-once/score-many shape real
    * pipelines run (the r8 verdict's missing-lifecycle item). The oracle
    * is unchanged: the round-trip is exact (strings + integer millionths).
    */
  private def q107KnScore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    graft.ops.Lm.scoreDocumentsTrigram(docs, "doc_id", "text",
      graft.ops.Lm.loadTable(s, knTablePath(s, d)))
  }

  /** Train-and-save the q106 trigram-KN table once per (JVM, sfDir). */
  private val knTableBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def knTablePath(s: SparkSession, d: String): String =
    knTableBuilt.computeIfAbsent(d, _ => {
      // Scratch-owned: concurrent JVMs must not overwrite each other's
      // table mid-read, and the artifact must not outlive the JVM
      val path = graft.core.Scratch.landing("graft_kn3", s, d)
      graft.ops.Lm.saveTable(
        graft.ops.Lm.kneserNeyTrigramTable(
          Tables.documents(s, d).select("doc_id", "text"), "text",
          minCount = 3L), path)
      path
    })

  /** Token-budget-constrained corpus mix: per source, documents are taken
    * in deterministic hash order until the source's token budget (40% of
    * its own token mass — scale-free) is crossed; the crossing document is
    * included, so every budget is met exactly once. This is how a training
    * mixture hits per-source token targets — the mix dimension the doc-
    * count mixes (q65/q87) cannot control, because documents have wildly
    * different lengths.
    *
    * Scale shape: the running total is [[graft.keys.GlobalIndex
    * .withRunningSum]]'s two-pass range-shuffle prefix sum over
    * (source, hash, id) — NOT a per-source window, whose partition would
    * funnel a hot source's full history through one task (PlanSpec pins
    * the window-free plan). Each source's in-stream offset (`base`) and
    * budget come from ONE small per-source aggregation broadcast back;
    * within-source cumulative = global cumulative − base, exactly the
    * per-source window sum the DuckDB oracle computes.
    */
  private def q108BudgetMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .where(col("source").isNotNull)
      .select(col("doc_id"), col("source"),
        // written declaratively; the injected TokenCountRewrite substitutes
        // the allocation-free native token count (PlanSpec pins this on q21)
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
        // mod-1e6 BEFORE the multiply (the Mix.scala:52 convention): the
        // reduced product stays < 2^40, so no engine hits 64-bit overflow
        // however large the ids grow
        pmod(pmod(col("doc_id"), lit(1000000L)) * lit(435761L),
          lit(1000000L)).as("h"))
    val cum = graft.keys.GlobalIndex.withRunningSum(docs,
      Seq(col("source"), col("h"), col("doc_id")), "n_tokens", "cum")
    // base = global cumulative just before the source's first row; budget =
    // 40% of the source's token mass, integer floor-div (exact cross-engine)
    val stats = cum.groupBy(col("source").as("src"))
      .agg(min(col("cum") - col("n_tokens")).as("base"),
        sum(col("n_tokens")).as("tot"))
      .select(col("src"), col("base"), expr("(4 * tot) div 10").as("budget"))
    cum.join(broadcast(stats), col("source") === col("src"))
      .where(col("cum") - col("n_tokens") - col("base") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("cum") - col("base")).as("cum_tokens"))
  }

  /** DSIR-style hashed-ngram importance weights ([[graft.ops.Dsir]]):
    * every document scored for how target-domain-like (here: the English
    * sub-corpus) its unigram+bigram bucket profile is versus the raw
    * corpus average, with `keep = weight_mill > 0` as the map-only
    * selection gate. 512 buckets — the model both engines agree on
    * bit-for-bit (portable rolling-hash bucketing, integer-millionths
    * Laplace probabilities, exact long sums; see the op's scaladoc for
    * why no log / no libm).
    */
  private def q113DsirWeights(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dsir.importanceWeights(docs, docs.filter(col("lang") === "en"),
      "doc_id", "text", buckets = 512)
  }

  /** Model-based quality filter ([[graft.ops.Classifier]]): hashed
    * linear classifier inference over the DSIR feature space — the
    * fastText-shaped quality gate, MAP-ONLY (the score folds inside each
    * document's row; PlanSpec pins zero Exchange).
    */
  private def q115ClassifierFilter(s: SparkSession, d: String): DataFrame =
    graft.ops.Classifier.scoreDocs(
      Tables.documents(s, d), "doc_id", "text", buckets = 512, seed = 7L)

  /** TRAIN-then-score through the full model lifecycle
    * ([[graft.ops.Classifier.trainDiagRidge]] → `saveModel` → `loadModel`
    * → `scoreWithTable`): the quality classifier is FIT in-engine by
    * closed-form per-bucket ridge on the hashed features (labels: is the
    * document English — the q113 target pairing), persisted, reloaded,
    * and applied — so the trained-model path is hash-graded end to end,
    * not just the pseudo-weight inference (q115). All-integer weights
    * and scores; the oracle recomputes the identical closed form.
    */
  private def q124ClassifierTrain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val weights = graft.ops.Classifier.trainDiagRidge(
      docs.withColumn("__y", col("lang") === "en"),
      "doc_id", "text", "__y", buckets = 512, lambda = 1L)
    val path = s"${graft.core.Scratch.landing("graft_clf", s, d)}/model"
    graft.ops.Classifier.saveModel(weights, path)
    graft.ops.Classifier.scoreWithTable(docs,
      graft.ops.Classifier.loadModel(s, path), "doc_id", "text", buckets = 512)
  }

  /** Model-free hashed document embeddings ([[TextAnalysis.hashEmbed]]):
    * the hashing trick + sign projection as one fused native pass — raw
    * text gains a dense integer vector for the ANN/dedup stack. One row
    * per (doc_id, output dim); map-only.
    */
  private def q118HashEmbed(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      posexplode(TextAnalysis.hashEmbed(col("text"), 512, 8, 42))
        .as(Seq("j", "emb_val")))

  /** Epoch-weighted replication ([[graft.ops.Mix.epochMix]]): upsample
    * high-value languages by fractional epoch counts (en ×1.3, de ×2.5,
    * rest ×0.4) with each copy tagged by epoch ordinal — the upsampling
    * half of corpus mixing (q65 downsamples). Deterministic per document;
    * map-only explode.
    */
  private def q87EpochMix(s: SparkSession, d: String): DataFrame =
    graft.ops.Mix.epochMix(Tables.documents(s, d), "lang", "doc_id",
      Map("en" -> 1.3, "de" -> 2.5), defaultWeight = 0.4)

  /** Temperature-sampled corpus mixture ([[graft.ops.Mix]]): keep ~40% of
    * the corpus with per-language rates proportional to sqrt(group size) —
    * the UniMax/alpha-sampling rebalance between proportional and uniform.
    * Fully deterministic (hash-mod selection, in-plan thresholds), so the
    * oracle recomputes the identical document set.
    */
  private def q65TemperatureMix(s: SparkSession, d: String): DataFrame =
    graft.ops.Mix.temperatureMix(
      Tables.documents(s, d), groupCol = "lang", idCol = "doc_id",
      targetFraction = 0.4)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q59_bigram_counts" -> q59BigramCounts _,
    "q73_lm_score" -> q73LmScore _,
    "q74_repetition" -> q74Repetition _,
    "q78_winnow_pairs" -> q78WinnowPairs _,
    "q83_incremental_dedup" -> q83IncrementalDedup _,
    "q85_quality_sample" -> q85QualitySample _,
    "q86_filter_report" -> q86FilterReport _,
    "q87_epoch_mix" -> q87EpochMix _,
    "q89_strip_markup" -> q89StripMarkup _,
    "q91_span_dedup" -> q91SpanDedup _,
    "q92_bm25" -> q92Bm25 _,
    "q94_dup_profile" -> q94DupProfile _,
    "q97_cdc_chunks" -> q97CdcChunks _,
    "q99_source_overlap" -> q99SourceOverlap _,
    "q100_curation_recipe" -> q100CurationRecipe _,
    "q102_quality_buckets" -> q102QualityBuckets _,
    "q103_fertility" -> q103Fertility _,
    "q104_kneser_ney" -> q104KneserNey _,
    "q105_topk_terms" -> q105TopkTerms _,
    "q106_kneser_ney_trigram" -> q106KneserNeyTrigram _,
    "q107_kn_score" -> q107KnScore _,
    "q108_budget_mix" -> q108BudgetMix _,
    "q113_dsir_weights" -> q113DsirWeights _,
    "q115_classifier_filter" -> q115ClassifierFilter _,
    "q118_hash_embed" -> q118HashEmbed _,
    "q124_classifier_train" -> q124ClassifierTrain _,
    "q60_bpe_pairs" -> q60BpePairs _,
    "q66_bpe_encode" -> q66BpeEncode _,
    "q68_normalize" -> q68Normalize _,
    "q69_chunks" -> q69Chunks _,
    "q70_stratified_sample" -> q70StratifiedSample _,
    "q61_length_outliers" -> q61LengthOutliers _,
    "q65_temperature_mix" -> q65TemperatureMix _,
    "q20_exact_dedup" -> q20ExactDedup _,
    "q21_text_stats" -> q21TextStats _,
    "q22_lang_quality" -> q22LangQuality _,
    "q31_winnow_fp" -> q31WinnowFp _,
    "q36_corpus_stats" -> q36CorpusStats _,
    "q37_top_ngrams" -> q37TopNgrams _,
    "q40_redact" -> q40Redact _,
    "q41_line_quality" -> q41LineQuality _,
    "q43_corpus_mix" -> q43CorpusMix _,
    "q48_token_quantiles" -> q48TokenQuantiles _,
    "q49_top_terms" -> q49TopTerms _)

  /** Reproducible weighted corpus mix: deterministic per-language sampling
    * (en 80%, de 50%, rest 20%) via [[TextAnalysis.sampleBucket]] — a
    * rerun of the mix selects the IDENTICAL document set, which is what
    * makes training-data recipes auditable (rand()-based sampling is not
    * even task-retry-safe). Map-only filter.
    */
  private def q43CorpusMix(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(TextAnalysis.mixFilter(col("doc_id"), col("lang"),
        Map("en" -> 80, "de" -> 50), defaultRate = 20))
      .select("doc_id", "lang", "source")

  private val fpSql =
    "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

  /** The q91 exact-substring span-dedup chain over an arbitrary source
    * relation `src(doc_id, text)` — shared by q91 (whole corpus) and q100
    * (the composed curation recipe). Standalone WITH query.
    */
  private def spanDedupSql(src: String): String =
    s"WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src), " +
      "wd AS (SELECT doc_id, unnest([{'pos': i, " +
      "  'h': array_to_string(t[i:i+14], ' ')} " +
      "  for i in range(1, len(t)-13)], recursive := true) FROM t), " +
      "fl AS (SELECT doc_id, pos, pos + 15 AS e FROM " +
      "  (SELECT doc_id, pos, ROW_NUMBER() OVER " +
      "   (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM wd) WHERE rn > 1), " +
      "st AS (SELECT doc_id, pos, e, MAX(e) OVER (PARTITION BY doc_id " +
      "  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
      "  AS mx FROM fl), " +
      "il AS (SELECT doc_id, pos, e, SUM(CASE WHEN mx IS NULL OR pos > mx " +
      "  THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos " +
      "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM st), " +
      "iv AS (SELECT doc_id, isl, MIN(pos) AS s, MAX(e) AS e " +
      "  FROM il GROUP BY doc_id, isl), " +
      "dp AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM iv), " +
      "tk AS (SELECT doc_id, unnest([{'pos': i, 'tok': t[i]} " +
      "  for i in range(1, len(t)+1)], recursive := true) FROM t), " +
      "kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk " +
      "  ANTI JOIN dp ON tk.doc_id = dp.doc_id AND tk.pos = dp.pos), " +
      "rb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text, " +
      "  COUNT(*) AS n_kept FROM kept GROUP BY doc_id) " +
      "SELECT t.doc_id, COALESCE(rb.text, '') AS text, " +
      "  COALESCE(rb.n_kept, 0) AS n_kept, " +
      "  len(t.t) - COALESCE(rb.n_kept, 0) AS n_dropped " +
      "FROM t LEFT JOIN rb ON t.doc_id = rb.doc_id"

  private def stopRatioSql(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
    "CAST(len(list_filter(string_split(text, ' '), t -> list_contains(" +
      s"$list, t))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)"
  }

  /** DuckDB spelling of [[TextAnalysis.langId]]: scores per language, argmax
    * with ties broken toward the lexicographically GREATEST language code
    * (matches Spark's array_max over (score, label) structs), 'und' below
    * the 0.01 floor.
    */
  private val langIdSql: String = {
    val langs = TextAnalysis.langStopwords.keys.toSeq.sorted // de, en, es, fr
    val scores = langs.map(l => s"${stopRatioSql(TextAnalysis.langStopwords(l))} AS s_$l")
      .mkString(", ")
    val cases = langs.reverse.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $geAll THEN CASE WHEN s_$l >= 0.01 THEN '$l' ELSE 'und' END"
    }.mkString(" ")
    s"SELECT doc_id, lang AS lang_label, CASE $cases END AS lang_pred, " +
      "quality FROM (SELECT doc_id, lang, text, " + scores + ", " + qualitySql +
      " FROM documents)"
  }

  /** q86's oracle: the same gates from the same SQL macros the q21/q22/q41
    * oracles already validate bit-for-bit, AND-composed.
    */
  private def q86OracleSql: String = {
    val langs = TextAnalysis.langStopwords.keys.toSeq.sorted
    val scores = langs
      .map(l => s"${stopRatioSql(TextAnalysis.langStopwords(l))} AS s_$l")
      .mkString(", ")
    val cases = langs.reverse.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $geAll THEN CASE WHEN s_$l >= 0.01 THEN '$l' ELSE 'und' END"
    }.mkString(" ")
    val lenOk = "(len(tk) >= 10 AND len(tk) <= 100000)"
    val punctOk = "(CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) " +
      "AS DOUBLE) / CAST(length(text) AS DOUBLE) <= 0.2)"
    val langOk = s"((CASE $cases END) <> 'und')"
    val repOk = "(CASE WHEN len(tk) - 1 > 0 THEN 1.0 - " +
      "CAST(len(list_distinct([array_to_string(tk[i:i+1], ' ') " +
      "for i in range(1, len(tk))])) AS DOUBLE) / (len(tk) - 1) " +
      "ELSE 0.0 END <= 0.2)"
    s"WITH b AS (SELECT doc_id, text, string_split(text, ' ') AS tk, $scores " +
      "FROM documents) " +
      s"SELECT doc_id, $lenOk AS len_ok, $punctOk AS punct_ok, " +
      s"$langOk AS lang_known, $repOk AS rep_ok, " +
      s"($lenOk AND $punctOk AND $langOk AND $repOk) AS keep FROM b"
  }

  private def qualitySql: String = {
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    val punct = "CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)"
    val stop = stopRatioSql(TextAnalysis.langStopwords("en"))
    s"(CASE WHEN $nTok >= 10 AND $nTok <= 100000 THEN 1.0 ELSE 0.0 END + " +
      s"CASE WHEN $punct <= 0.2 THEN 1.0 - $punct ELSE 0.0 END + " +
      s"CASE WHEN $stop >= 0.005 THEN 1.0 ELSE 0.5 END) / 3.0 AS quality"
  }

  /** The merge-replay CTE chain shared by the q66 oracle (per-token
    * pieces) and q103 (per-language fertility): it replays the BPE
    * kernel's contract mechanically — symbols as a '/'-delimited string
    * ('/l/o/w/'), merges in rank order, each applied by replacing the
    * FIRST occurrence of '/l/r/' until none remains (leftmost single
    * replacement iterated = the leftmost-greedy pass: a merge's output can
    * never recreate its own pair to the left). The recursion carries
    * (token, state, current rank); a row advances to rank+1 when its state
    * has no occurrence at the current rank, and finishes past the last
    * rank. Produces the CTE LIST only (no WITH RECURSIVE prefix, no final
    * SELECT), ending at `fin(tok, t)` with `t` the '/'-separated piece
    * string. Generated FROM `q66Merges`, so queries and oracles cannot
    * drift.
    */
  private def bpePiecesCtes: String = {
    val values = q66Merges.zipWithIndex.map { case ((l, r), i) =>
      s"(${i + 1}, '/$l/$r/', '/$l$r/')"
    }.mkString(", ")
    "m(r, find, repl) AS (VALUES " + values + "), " +
      "toks AS (SELECT DISTINCT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok " +
      "  FROM documents) WHERE regexp_matches(tok, '^[A-Za-z]+$')), " +
      "init AS (SELECT tok, '/' || array_to_string(string_split(tok, ''), '/') || '/' AS s " +
      "  FROM toks), " +
      "enc(tok, s, r) AS (SELECT tok, s, 1 AS r FROM init " +
      "  UNION ALL SELECT e.tok, " +
      "  CASE WHEN strpos(e.s, m.find) > 0 " +
      "    THEN substr(e.s, 1, strpos(e.s, m.find) - 1) || m.repl || " +
      "      substr(e.s, strpos(e.s, m.find) + length(m.find)) " +
      "    ELSE e.s END, " +
      "  CASE WHEN strpos(e.s, m.find) > 0 THEN e.r ELSE e.r + 1 END " +
      "  FROM enc e JOIN m ON m.r = e.r), " +
      s"fin AS (SELECT tok, trim(s, '/') AS t FROM enc WHERE r = ${q66Merges.size + 1})"
  }

  /** The bigram-LM scoring CTE chain shared by the q73 and q102 oracles
    * (train the count-thresholded LM from the corpus, then left-join every
    * bigram occurrence against it): ends at `sc(doc_id, n_pair, n_ctx)`,
    * one row per occurrence, nulls marking OOV. CTE list only — callers
    * supply the WITH prefix and their own reduction.
    */
  private val lmScoreCtes =
    "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "occ AS (SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ') " +
      "  for i in range(1, len(t))]) AS bg FROM toks), " +
      "pc AS (SELECT bg, COUNT(*) AS n_pair FROM occ GROUP BY bg), " +
      "cx AS (SELECT split_part(bg, ' ', 1) AS w1, " +
      "  CAST(SUM(n_pair) AS BIGINT) AS n_ctx FROM pc GROUP BY w1), " +
      "lm AS (SELECT pc.bg, pc.n_pair, cx.n_ctx FROM pc " +
      "  JOIN cx ON split_part(pc.bg, ' ', 1) = cx.w1 WHERE pc.n_pair >= 5), " +
      "sc AS (SELECT o.doc_id, lm.n_pair, lm.n_ctx FROM occ o " +
      "  LEFT JOIN lm ON o.bg = lm.bg)"

  /** Shared trigram-KN oracle chain (q106 table / q107 scoring): ends at
    * `kn(tg, w1, w2, w3, c, p)` — the count-thresholded interpolated
    * trigram table keyed by both the split words and the raw trigram
    * string — with `occ(doc_id, tg)` available for scoring reductions.
    * Every smoothing statistic derives from the trigram type/count
    * tables; HUGEINT keeps the common-denominator product exact
    * (mirrors the engine's DECIMAL(38,0) intermediates).
    *
    * The multi-referenced CTEs are `AS MATERIALIZED`: DuckDB otherwise
    * INLINES a CTE at every reference — tri feeds six statistics, so the
    * whole explode+count chain re-expands per reference and the optimizer
    * loses the cardinalities, picking a join order that runs for minutes
    * at sf0.001 (measured: >300 s inlined, 0.1 s materialized).
    */
  private val knTrigramCtes =
    "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "occ AS (SELECT doc_id, unnest([array_to_string(t[i:i+2], ' ') " +
      "  for i in range(1, len(t) - 1)]) AS tg FROM toks), " +
      "tri0 AS MATERIALIZED (SELECT tg, COUNT(*) AS c FROM occ GROUP BY tg), " +
      "tri AS MATERIALIZED (SELECT split_part(tg, ' ', 1) AS w1, " +
      "  split_part(tg, ' ', 2) AS w2, split_part(tg, ' ', 3) AS w3, " +
      "  tg, c FROM tri0), " +
      "ctx AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS c12, " +
      "  COUNT(*) AS n3 FROM tri GROUP BY w1, w2), " +
      "mt AS (SELECT w2, w3, COUNT(*) AS m FROM tri GROUP BY w2, w3), " +
      "mid AS (SELECT w2, COUNT(*) AS mm FROM tri GROUP BY w2), " +
      "pt AS MATERIALIZED (SELECT DISTINCT w2, w3 FROM tri), " +
      "nbt AS (SELECT w2, COUNT(*) AS nb FROM pt GROUP BY w2), " +
      "pw AS (SELECT w3, COUNT(*) AS p FROM pt GROUP BY w3), " +
      "ty AS (SELECT COUNT(*) AS t FROM pt), " +
      "kn AS MATERIALIZED (SELECT tri.tg, tri.w1, tri.w2, tri.w3, tri.c, " +
      "  CAST((1000000 * (4 * (4 * CAST(tri.c AS HUGEINT) - 3) " +
      "      * mid.mm * ty.t " +
      "    + 3 * ctx.n3 * ((4 * CAST(mt.m AS HUGEINT) - 3) * ty.t " +
      "      + 3 * CAST(nbt.nb AS HUGEINT) * pw.p))) // " +
      "    (16 * CAST(ctx.c12 AS HUGEINT) * mid.mm * ty.t) AS BIGINT) AS p " +
      "  FROM tri JOIN ctx ON tri.w1 = ctx.w1 AND tri.w2 = ctx.w2 " +
      "  JOIN mt ON tri.w2 = mt.w2 AND tri.w3 = mt.w3 " +
      "  JOIN mid ON tri.w2 = mid.w2 " +
      "  JOIN nbt ON tri.w2 = nbt.w2 " +
      "  JOIN pw ON tri.w3 = pw.w3, ty " +
      "  WHERE tri.c >= 3)"

  private def q66OracleSql: String =
    s"WITH RECURSIVE $bpePiecesCtes " +
      "SELECT tok, replace(t, '/', ' ') AS pieces, " +
      "CAST(len(string_split(t, '/')) AS INT) AS n_pieces FROM fin"

  val oracle: Map[String, String] = Map(
    "q66_bpe_encode" -> q66OracleSql,
    // same merge-replay chain as q66, weighted by per-language occurrences
    "q103_fertility" ->
      (s"WITH RECURSIVE $bpePiecesCtes, " +
        "np AS (SELECT tok, CAST(len(string_split(t, '/')) AS BIGINT) " +
        "  AS n_pieces FROM fin), " +
        "oc AS (SELECT lang, tok, COUNT(*) AS n_occ FROM " +
        "  (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "  WHERE regexp_matches(tok, '^[A-Za-z]+$') GROUP BY lang, tok) " +
        "SELECT oc.lang, CAST(SUM(oc.n_occ) AS BIGINT) AS n_words, " +
        "  CAST(SUM(oc.n_occ * np.n_pieces) AS BIGINT) AS n_subwords, " +
        "  CAST(SUM(oc.n_occ * np.n_pieces) AS DOUBLE) / " +
        "  CAST(SUM(oc.n_occ) AS DOUBLE) AS fertility " +
        "FROM oc JOIN np ON oc.tok = np.tok GROUP BY oc.lang"),
    // the whitespace class is spelled out because regex \s differs between
    // engines (Java includes vertical tab, RE2 does not) — the kernel and
    // this oracle both collapse exactly { space \t \n \r \f }
    "q68_normalize" ->
      ("WITH p AS (SELECT doc_id, text || '  Café NAÏVE' || chr(9) || " +
        "'résumé  Über  ' AS t FROM documents), " +
        "n AS (SELECT doc_id, trim(regexp_replace(" +
        "lower(strip_accents(nfc_normalize(t))), '[\\t\\n\\f\\r ]+', ' ', 'g')) " +
        "AS norm_text FROM p) " +
        "SELECT doc_id, norm_text, CAST(length(norm_text) AS INT) AS n_chars FROM n"),
    // the oracle is the NAIVE per-group argsort — the engine's
    // filter-and-refine must equal it row-for-row
    "q70_stratified_sample" ->
      ("WITH d AS (SELECT doc_id, lang, " +
        "  ((doc_id % 1000000) * 435761) % 1000000 AS h " +
        "  FROM documents WHERE lang IS NOT NULL), " +
        "r AS (SELECT doc_id, lang, ROW_NUMBER() OVER " +
        "  (PARTITION BY lang ORDER BY h, doc_id) AS rnk FROM d) " +
        "SELECT doc_id, lang, CAST(rnk AS INT) AS smp_rank FROM r WHERE rnk <= 50"),
    "q69_chunks" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "p AS (SELECT doc_id, toks, len(toks) AS n FROM t), " +
        "m AS (SELECT doc_id, toks, CASE WHEN n <= 64 THEN 1 " +
        "  ELSE (n - 64 + 47) // 48 + 1 END AS m FROM p), " +
        "k AS (SELECT doc_id, toks, unnest(range(0, m)) AS k FROM m) " +
        "SELECT doc_id, k AS chunk_idx, " +
        "array_to_string(toks[k*48+1 : k*48+64], ' ') AS chunk_text, " +
        "CAST(len(toks[k*48+1 : k*48+64]) AS INT) AS n_chunk_tokens FROM k"),
    "q86_filter_report" -> q86OracleSql,
    // same op ORDER as stripMarkup: tags out first, &amp; decoded last,
    // explicit whitespace class (Java \s vs RE2 disagree on \v)
    "q89_strip_markup" ->
      ("WITH p AS (SELECT doc_id, text || " +
        "' <div class=\"x\">Tail &amp; <b>tags</b> &lt;escaped&gt;</div>' AS t " +
        "FROM documents) " +
        "SELECT doc_id, trim(regexp_replace(" +
        "replace(replace(replace(replace(replace(" +
        "regexp_replace(t, '<[^>]*>', ' ', 'g'), " +
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), " +
        "'&amp;', '&'), " +
        "'[\\t\\n\\f\\r ]+', ' ', 'g')) AS clean, " +
        "CAST(len(regexp_extract_all(t, '<[^>]*>')) AS INT) AS n_tags FROM p"),
    // engine keys window groups on xxhash64(window string); the oracle keys
    // on the string itself — identical grouping absent 64-bit collisions
    // (same contract as the NearDup shingle index)
    "q91_span_dedup" -> spanDedupSql("documents"),
    // same stages, same order: length gate, canonical keep-first dedup,
    // then the shared span-dedup chain reading the deduped relation
    "q100_curation_recipe" ->
      ("WITH flt AS (SELECT doc_id, text FROM documents " +
        "  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000), " +
        "ded AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
        s"  ROW_NUMBER() OVER (PARTITION BY $fpSql ORDER BY doc_id) AS rn " +
        "  FROM flt) WHERE rn = 1), " +
        spanDedupSql("ded").stripPrefix("WITH ")),
    // multiplicity = COUNT() over the window-hash partition, as in the
    // engine; dup_fraction is one exact integer-ratio division
    "q94_dup_profile" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "wd AS (SELECT doc_id, unnest([{'pos': i, " +
        "  'h': array_to_string(t[i:i+14], ' ')} " +
        "  for i in range(1, len(t)-13)], recursive := true) FROM t), " +
        "wc AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS c FROM wd), " +
        "pd AS (SELECT doc_id, COUNT(*) AS n_windows, " +
        "  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "    AS n_dup_windows, " +
        "  MAX(c) AS max_mult FROM wc GROUP BY doc_id) " +
        "SELECT t.doc_id, COALESCE(pd.n_windows, 0) AS n_windows, " +
        "  COALESCE(pd.n_dup_windows, 0) AS n_dup_windows, " +
        "  COALESCE(pd.max_mult, 0) AS max_mult, " +
        "  CASE WHEN pd.n_windows IS NULL THEN 0.0 " +
        "    ELSE CAST(pd.n_dup_windows AS DOUBLE) / " +
        "      CAST(pd.n_windows AS DOUBLE) END AS dup_fraction " +
        "FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id"),
    // stats over ALL observed bigrams, output pruned at the end; the
    // millionths division is one all-integer common-denominator floor-div
    "q104_kneser_ney" ->
      ("WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents), " +
        "occ AS (SELECT unnest([array_to_string(t[i:i+1], ' ') " +
        "  for i in range(1, len(t))]) AS bg FROM toks), " +
        "pc AS (SELECT bg, COUNT(*) AS c FROM occ GROUP BY bg), " +
        "sp AS (SELECT split_part(bg, ' ', 1) AS w1, " +
        "  split_part(bg, ' ', 2) AS w2, c FROM pc), " +
        "s1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cw1, " +
        "  COUNT(*) AS n1w1 FROM sp GROUP BY w1), " +
        "s2 AS (SELECT w2, COUNT(*) AS n2w2 FROM sp GROUP BY w2), " +
        "ty AS (SELECT COUNT(*) AS t FROM sp) " +
        "SELECT sp.w1, sp.w2, sp.c, " +
        "  CAST((1000000 * ((4 * sp.c - 3) * ty.t + 3 * s1.n1w1 * s2.n2w2)) // " +
        "    (4 * s1.cw1 * ty.t) AS BIGINT) AS p_kn_mill " +
        "FROM sp JOIN s1 ON sp.w1 = s1.w1 JOIN s2 ON sp.w2 = s2.w2, ty " +
        "WHERE sp.c >= 5"),
    // the engine runs ONE sketch aggregation; the oracle is the classic
    // agg + window-rank formulation of the same exact top-5 (capacity
    // exceeds the per-language vocabulary, so the sketch is exact)
    "q105_topk_terms" ->
      ("WITH toks AS (SELECT lang, unnest(string_split(text, ' ') || " +
        "  ['hot_' || lang, 'hot_' || lang, 'hot_' || lang]) AS term " +
        "  FROM documents), " +
        "tf AS (SELECT lang, term, COUNT(*) AS tf FROM toks " +
        "  GROUP BY lang, term), " +
        "r AS (SELECT lang, term, tf, ROW_NUMBER() OVER (PARTITION BY lang " +
        "  ORDER BY tf DESC, term ASC) AS rnk FROM tf) " +
        "SELECT lang, term, tf, rnk FROM r WHERE rnk <= 5"),
    // all statistics from the trigram type/count tables; HUGEINT keeps the
    // common-denominator product exact (mirrors the engine's DECIMAL(38,0))
    "q106_kneser_ney_trigram" ->
      s"WITH $knTrigramCtes SELECT w1, w2, w3, c, p AS p_kn3_mill FROM kn",
    // q106's table, left-joined back onto every trigram occurrence and
    // reduced per document (the q73 reduction one order up); the lone
    // double op is the final rate division, identical IEEE in both engines
    "q107_kn_score" ->
      (s"WITH $knTrigramCtes, " +
        "sc AS (SELECT o.doc_id, kn.p FROM occ o " +
        "  LEFT JOIN kn ON o.tg = kn.tg) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams, " +
        "CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST(COALESCE(SUM(p), 0) AS BIGINT) AS kn_mass, " +
        "CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS DOUBLE) " +
        "  / CAST(COUNT(*) AS DOUBLE) AS oov_rate " +
        "FROM sc GROUP BY doc_id"),
    // the oracle states the semantics directly as a per-source window sum;
    // the engine's global prefix sum minus the source base is the same
    // value in the same (h, doc_id) order. % == pmod and // == div on the
    // non-negative ids/counts here
    "q108_budget_mix" ->
      ("WITH d AS (SELECT doc_id, source, " +
        "  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "  ((doc_id % 1000000) * 435761) % 1000000 AS h FROM documents " +
        "  WHERE source IS NOT NULL), " +
        "c AS (SELECT doc_id, source, n_tokens, h, " +
        "  CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id " +
        "    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d), " +
        "t AS (SELECT source AS src, " +
        "  CAST((4 * SUM(n_tokens)) // 10 AS BIGINT) AS budget " +
        "  FROM d GROUP BY source) " +
        "SELECT c.doc_id, c.source, c.n_tokens, c.cum AS cum_tokens " +
        "FROM c JOIN t ON c.source = t.src " +
        "WHERE c.cum - c.n_tokens < t.budget"),
    // the same hashed-ngram model stated relationally: q31's rolling hash
    // (list_reduce == Spark's 0-init fold, mod 2^40 in the loop so BIGINT
    // never overflows where DuckDB would raise), Laplace millionths by
    // floor division (// == div on these non-negative counts), and the
    // full-join delta so unobserved buckets fall back to the smoothing
    // floor on either side
    "q113_dsir_weights" ->
      ("WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents), " +
        "feats AS (SELECT doc_id, lang, list_concat(t, " +
        "  [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS fs FROM toks), " +
        "f AS (SELECT doc_id, lang, unnest(fs) AS s FROM feats), " +
        "h AS (SELECT doc_id, lang, " +
        "  (list_reduce(list_transform(string_split(s, ''), " +
        "    c -> CAST(ascii(c) AS BIGINT)), " +
        "    (a, c) -> (a * 31 + c) % 1099511627776)) % 512 AS b FROM f), " +
        "tc AS (SELECT b, COUNT(*) AS cnt FROM h WHERE lang = 'en' GROUP BY b), " +
        "tt AS (SELECT SUM(cnt) + 512 AS dn FROM tc), " +
        "rc AS (SELECT b, COUNT(*) AS cnt FROM h GROUP BY b), " +
        "rt AS (SELECT SUM(cnt) + 512 AS dn FROM rc), " +
        "delta AS (SELECT COALESCE(tc.b, rc.b) AS b, " +
        "  CAST(COALESCE((1000000 * (tc.cnt + 1)) // tt.dn, 1000000 // tt.dn) " +
        "  - COALESCE((1000000 * (rc.cnt + 1)) // rt.dn, 1000000 // rt.dn) " +
        "  AS BIGINT) AS delta_mill FROM tc FULL JOIN rc ON tc.b = rc.b, tt, rt) " +
        "SELECT h.doc_id, COUNT(*) AS n_feats, " +
        "  CAST(SUM(delta_mill) AS BIGINT) AS weight_mill, " +
        "  SUM(delta_mill) > 0 AS keep " +
        "FROM h JOIN delta USING (b) GROUP BY h.doc_id"),
    // q113's hashed uni+bigram feature space, scored by the closed-form
    // weight table: w_mill(b) = ((b·2654435761 + 7) mod 2^40) mod 2001
    // − 1000 — all-integer, so the per-document sum is engine-exact
    "q115_classifier_filter" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "feats AS (SELECT doc_id, list_concat(t, " +
        "  [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS fs FROM toks), " +
        "f AS (SELECT doc_id, unnest(fs) AS s FROM feats), " +
        "h AS (SELECT doc_id, " +
        "  (list_reduce(list_transform(string_split(s, ''), " +
        "    c -> CAST(ascii(c) AS BIGINT)), " +
        "    (a, c) -> (a * 31 + c) % 1099511627776)) % 512 AS b FROM f), " +
        "w AS (SELECT doc_id, " +
        "  ((b * 2654435761 + 7) % 1099511627776) % 2001 - 1000 AS w_mill FROM h) " +
        "SELECT doc_id, COUNT(*) AS n_feats, " +
        "  CAST(SUM(w_mill) AS BIGINT) AS score_mill, " +
        "  SUM(w_mill) > 0 AS keep FROM w GROUP BY doc_id"),
    // the trainer's closed form stated relationally: per-(doc, bucket)
    // occurrence counts, per-bucket Σc·y and λ+Σc², the sign-split floor
    // division (// floors in DuckDB but Spark's div truncates — identical
    // only on non-negative operands, hence the CASE), then q115's scoring
    // join against the FITTED table instead of the closed-form one.
    // h is MATERIALIZED: it feeds both the trainer and the scorer
    "q124_classifier_train" ->
      ("WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents), " +
        "feats AS (SELECT doc_id, lang, list_concat(t, " +
        "  [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS fs FROM toks), " +
        "f AS (SELECT doc_id, lang, unnest(fs) AS s FROM feats), " +
        "h AS MATERIALIZED (SELECT doc_id, lang, " +
        "  (list_reduce(list_transform(string_split(s, ''), " +
        "    c -> CAST(ascii(c) AS BIGINT)), " +
        "    (a, c) -> (a * 31 + c) % 1099511627776)) % 512 AS b FROM f), " +
        "cb AS (SELECT doc_id, b, " +
        "  CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y, " +
        "  COUNT(*) AS c FROM h GROUP BY doc_id, b, lang), " +
        "wt AS (SELECT b, CAST(SUM(c * y) AS BIGINT) AS num, " +
        "  CAST(SUM(c * c) + 1 AS BIGINT) AS den FROM cb GROUP BY b), " +
        "w AS (SELECT b, CASE WHEN num >= 0 THEN (1000000 * num) // den " +
        "  ELSE -((1000000 * (-num)) // den) END AS w_mill FROM wt) " +
        "SELECT h.doc_id, COUNT(*) AS n_feats, " +
        "  CAST(SUM(w_mill) AS BIGINT) AS score_mill, " +
        "  SUM(w_mill) > 0 AS keep FROM h JOIN w USING (b) GROUP BY h.doc_id"),
    // q113's per-occurrence bucket CTE joined against q114's two-round
    // sign mix evaluated on the (bucket, j) grid — the signed occurrence
    // count per output dim is an exact integer both engines agree on
    "q118_hash_embed" ->
      (s"WITH ${QueryHelpers.hashEmbedCtes(512, 8, 42)} " +
        "SELECT doc_id, CAST(j AS INT) AS j, x AS emb_val FROM e"),
    // q73's scoring chain, reduced per-doc, then per-language dyadic
    // quartiles (quantile_cont == Spark percentile at dyadic p — q48)
    "q102_quality_buckets" ->
      (s"WITH $lmScoreCtes, " +
        "ds AS (SELECT doc_id, COUNT(*) AS n_bigrams, " +
        "  CAST(COALESCE(SUM(CASE WHEN n_pair IS NOT NULL " +
        "    THEN (1000000 * n_pair) // n_ctx END), 0) AS BIGINT) AS prob_mass " +
        "  FROM sc GROUP BY doc_id), " +
        "ql AS (SELECT ds.doc_id, d.lang, ds.prob_mass // ds.n_bigrams AS q " +
        "  FROM ds JOIN documents d ON ds.doc_id = d.doc_id), " +
        "th AS (SELECT lang, quantile_cont(q, 0.25) AS p25, " +
        "  quantile_cont(q, 0.75) AS p75 FROM ql GROUP BY lang) " +
        "SELECT ql.doc_id, ql.lang, CAST(ql.q AS BIGINT) AS q, " +
        "  CASE WHEN ql.q >= th.p75 THEN 'head' " +
        "  WHEN ql.q <= th.p25 THEN 'tail' ELSE 'middle' END AS bucket " +
        "FROM ql JOIN th ON ql.lang = th.lang"),
    // engine groups on xxhash64(shingle), oracle on the shingle string —
    // identical grouping absent 64-bit collisions (NearDup contract)
    "q99_source_overlap" ->
      ("WITH t AS (SELECT source, string_split(text, ' ') AS t FROM documents), " +
        "sl AS (SELECT source, unnest(list_distinct([array_to_string(" +
        "  t[i:i+2], ' ') for i in range(1, len(t) - 1)])) AS s FROM t), " +
        "sh AS (SELECT DISTINCT source, s FROM sl), " +
        "sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source), " +
        "p AS (SELECT a.source AS src_i, b.source AS src_j, " +
        "  COUNT(*) AS n_shared FROM sh a " +
        "  JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT p.src_i, p.src_j, p.n_shared, i.n AS n_i, j.n AS n_j, " +
        "  CAST(p.n_shared AS DOUBLE) / " +
        "  CAST(i.n + j.n - p.n_shared AS DOUBLE) AS jaccard " +
        "FROM p JOIN sz i ON p.src_i = i.source " +
        "JOIN sz j ON p.src_j = j.source"),
    // identical chunking recomputed with string functions only: md5-hex
    // boundary rule, per-doc prefix-sum chunk ids, ordered string_agg
    "q97_cdc_chunks" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "tk AS (SELECT doc_id, unnest([{'pos': i, 'tok': t[i]} " +
        "  for i in range(1, len(t)+1)], recursive := true) FROM t), " +
        "fb AS (SELECT doc_id, pos, tok, CASE WHEN substr(md5(tok), 1, 1) " +
        "  = '0' THEN 1 ELSE 0 END AS b FROM tk), " +
        "a AS (SELECT doc_id, pos, tok, COALESCE(SUM(b) OVER " +
        "  (PARTITION BY doc_id ORDER BY pos " +
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "  AS chunk_idx FROM fb), " +
        "c AS (SELECT doc_id, chunk_idx, " +
        "  md5(string_agg(tok, ' ' ORDER BY pos)) AS digest, " +
        "  COUNT(*) AS n_tokens FROM a GROUP BY doc_id, chunk_idx), " +
        "d AS (SELECT digest, COUNT(*) AS n_occ, " +
        "  COUNT(DISTINCT doc_id) AS n_docs, MIN(n_tokens) AS n_tokens " +
        "  FROM c GROUP BY digest) " +
        "SELECT digest, n_occ, n_docs, n_tokens FROM d WHERE n_occ >= 2"),
    // arithmetic tree mirrors Retrieval.bm25TopK term-for-term (every
    // +,*,/ exactly rounded; constant folds happen in-engine on both
    // sides) and the per-doc sum folds in sorted-term order — bit-exact
    "q92_bm25" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, " +
        "  CAST(SUM(len(t)) AS DOUBLE) AS n_toks FROM t), " +
        "e AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, " +
        "  unnest(t) AS term FROM t), " +
        "g AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf " +
        "  FROM e WHERE term IN ('spark', 'window', 'merge') " +
        "  GROUP BY doc_id, dl, term), " +
        "f AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM g GROUP BY term), " +
        "sc AS (SELECT g.doc_id, g.term, " +
        "  ((2.0 * c.n_docs - 2.0 * f.df + 1.0) / (2.0 * f.df + 1.0)) * " +
        "  (((1.2 + 1.0) * g.tf) / (g.tf + 1.2 * ((1.0 - 0.75) + " +
        "    0.75 * (g.dl * c.n_docs / c.n_toks)))) AS contrib " +
        "  FROM g JOIN f ON g.term = f.term, c), " +
        "a AS (SELECT doc_id, list_sum(list(contrib ORDER BY term)) AS score, " +
        "  COUNT(*) AS n_terms FROM sc GROUP BY doc_id) " +
        "SELECT doc_id, score, n_terms FROM a " +
        "ORDER BY score DESC, doc_id LIMIT 10"),
    // weight split (whole, frac-millionths): en=(1,300000) de=(2,500000)
    // default=(0,400000) — the same longs Mix.epochMix derives at plan time
    "q87_epoch_mix" ->
      ("WITH b AS (SELECT doc_id, lang, " +
        "  ((doc_id % 1000000) * 435761) % 1000000 AS h " +
        "  FROM documents WHERE lang IS NOT NULL), " +
        "n AS (SELECT doc_id, lang, " +
        "  (CASE WHEN lang = 'en' THEN 1 WHEN lang = 'de' THEN 2 ELSE 0 END) + " +
        "  (CASE WHEN h < (CASE WHEN lang = 'en' THEN 300000 " +
        "     WHEN lang = 'de' THEN 500000 ELSE 400000 END) " +
        "   THEN 1 ELSE 0 END) AS n FROM b), " +
        "k AS (SELECT doc_id, lang, unnest(range(0, n)) AS e " +
        "  FROM n WHERE n > 0) " +
        "SELECT doc_id, lang, CAST(e AS INT) AS epoch FROM k"),
    "q85_quality_sample" ->
      ("SELECT doc_id, lang, quality FROM " +
        s"(SELECT doc_id, lang, $qualitySql FROM documents) " +
        "WHERE CAST(((doc_id % 1000000) * 435761) % 1000000 AS DOUBLE) " +
        "< quality * 1000000.0"),
    "q83_incremental_dedup" ->
      ("WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0), " +
        "nb AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0 " +
        "  UNION ALL SELECT doc_id + 1000000, lang, text FROM documents " +
        "  WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0), " +
        s"k AS (SELECT doc_id, lang, $fpSql AS fp FROM nb), " +
        "r AS (SELECT doc_id, lang, fp, ROW_NUMBER() OVER " +
        "  (PARTITION BY fp ORDER BY doc_id) AS rn FROM k), " +
        s"ex AS (SELECT DISTINCT $fpSql AS fp FROM old) " +
        "SELECT doc_id, lang FROM r WHERE rn = 1 " +
        "AND fp NOT IN (SELECT fp FROM ex)"),
    "q20_exact_dedup" ->
      ("SELECT doc_id, lang, source FROM (SELECT doc_id, lang, source, " +
        s"ROW_NUMBER() OVER (PARTITION BY $fpSql ORDER BY doc_id) AS rn " +
        "FROM documents) WHERE rn = 1"),
    "q21_text_stats" ->
      ("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
        "length(text) AS n_chars, " +
        "CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE) " +
        "  / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_tok_len, " +
        "CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) " +
        "  / CAST(length(text) AS DOUBLE) AS punct_ratio, " +
        s"${stopRatioSql(TextAnalysis.langStopwords("en"))} AS stop_ratio_en " +
        "FROM documents"),
    "q22_lang_quality" -> langIdSql,
    "q36_corpus_stats" ->
      ("SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens, " +
        "MIN(quality) AS min_quality, MAX(quality) AS max_quality " +
        s"FROM (SELECT lang, text, $qualitySql FROM documents) GROUP BY lang"),
    "q37_top_ngrams" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+2], ' ') " +
        "       for i in range(1, len(t) - 1)])) AS shingle FROM toks), " +
        "df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle) " +
        "SELECT shingle, df FROM df ORDER BY df DESC, shingle LIMIT 20"),
    "q40_redact" ->
      ("WITH p AS (SELECT doc_id, text || ' contact: user' || CAST(doc_id AS VARCHAR) " +
        "  || '@example.com via https://ex.com/p/' || CAST(doc_id AS VARCHAR) AS t " +
        "  FROM documents) " +
        "SELECT doc_id, regexp_replace(regexp_replace(t, " +
        "  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "  'https?://[^\\s]+', '<URL>', 'g') AS clean, " +
        "CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, " +
        "CAST(len(regexp_extract_all(t, 'https?://[^\\s]+')) AS INT) AS n_urls FROM p"),
    "q41_line_quality" ->
      ("WITH b AS (SELECT doc_id, text, string_split(text, ' ') AS t, " +
        "  replace(text, ' table ', '.' || chr(10) || 'table ') AS lined FROM documents) " +
        "SELECT doc_id, " +
        "CASE WHEN len(t) - 2 > 0 THEN 1.0 - " +
        "  CAST(len(list_distinct([array_to_string(t[i:i+2], ' ') " +
        "    for i in range(1, len(t) - 1)])) AS DOUBLE) / (len(t) - 2) " +
        "ELSE 0.0 END AS rep_ratio, " +
        // DuckDB's array_to_string of an empty list is NULL; Spark's
        // array_join is '' — coalesce to match
        "COALESCE(array_to_string(list_filter(string_split(lined, chr(10)), " +
        "  l -> len(string_split(l, ' ')) >= 4 AND regexp_matches(l, '[.!?]$')), " +
        "  chr(10)), '') AS kept_text FROM b"),
    "q43_corpus_mix" ->
      ("SELECT doc_id, lang, source FROM documents " +
        "WHERE (doc_id * 1000003) % 100 < " +
        "  CASE WHEN lang = 'de' THEN 50 WHEN lang = 'en' THEN 80 ELSE 20 END"),
    // Same rolling hash in DuckDB list comprehensions. list_reduce seeds
    // with the FIRST element (no zero init), which equals Spark's 0-init
    // fold because 0*31 + c1 = c1. Slices are 1-based inclusive on both
    // engines' semantics here; range(a, b) is exclusive of b.
    "q31_winnow_fp" ->
      ("WITH cs AS (SELECT doc_id, list_transform(string_split(text, ''), " +
        "c -> CAST(ascii(c) AS BIGINT)) AS codes, length(text) AS n FROM documents), " +
        s"h AS (SELECT doc_id, [list_reduce(codes[i:i+${winnowK - 1}], (a,c) -> a*31+c) " +
        s"for i in range(1, n - $winnowK + 2)] AS hs FROM cs), " +
        s"w AS (SELECT doc_id, list_sort(list_distinct([list_min(hs[j:j+${winnowW - 1}]) " +
        s"for j in range(1, len(hs) - $winnowW + 2)])) AS fps FROM h) " +
        "SELECT doc_id, unnest(fps) AS fp FROM w"),
    // q31's winnow CTEs over the planted union, then the same
    // df-prune / pair-count / overlap pipeline the operator runs
    "q78_winnow_pairs" ->
      ("WITH ud AS (SELECT doc_id, text FROM documents " +
        "  UNION ALL SELECT doc_id + 1000000, text FROM documents), " +
        "cs AS (SELECT doc_id, list_transform(string_split(text, ''), " +
        "  c -> CAST(ascii(c) AS BIGINT)) AS codes, length(text) AS n FROM ud), " +
        s"h AS (SELECT doc_id, [list_reduce(codes[i:i+${winnowK - 1}], (a,c) -> a*31+c) " +
        s"  for i in range(1, n - $winnowK + 2)] AS hs FROM cs), " +
        s"w AS (SELECT doc_id, list_distinct([list_min(hs[j:j+${winnowW - 1}]) " +
        s"  for j in range(1, len(hs) - $winnowW + 2)]) AS fps FROM h), " +
        "f AS (SELECT doc_id, unnest(fps) AS fp FROM w), " +
        "dfq AS (SELECT fp, COUNT(*) AS df FROM f GROUP BY fp), " +
        "fr AS (SELECT f.doc_id, f.fp FROM f JOIN dfq ON f.fp = dfq.fp " +
        "  WHERE dfq.df <= 10), " +
        "cnt AS (SELECT doc_id, COUNT(*) AS nf FROM fr GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS n_shared " +
        "  FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "  GROUP BY a.doc_id, b.doc_id) " +
        "SELECT p.i, p.j, p.n_shared, CAST(p.n_shared AS DOUBLE) " +
        "  / CAST(LEAST(ci.nf, cj.nf) AS DOUBLE) AS overlap " +
        "FROM p JOIN cnt ci ON p.i = ci.doc_id JOIN cnt cj ON p.j = cj.doc_id " +
        "WHERE p.n_shared >= 2"),
    // quantile_cont interpolates at rank p*(n-1) exactly like Spark's
    // percentile; integer inputs + dyadic p keep every step bit-exact
    "q48_token_quantiles" ->
      ("SELECT lang, " +
        "quantile_cont(len(string_split(text, ' ')), 0.25) AS p25, " +
        "quantile_cont(len(string_split(text, ' ')), 0.5) AS p50, " +
        "quantile_cont(len(string_split(text, ' ')), 0.75) AS p75, " +
        "COUNT(*) AS n_rows FROM documents GROUP BY lang"),
    // mirror Mix.temperatureMix's exact op order: sqrt is correctly-rounded
    // IEEE (engine-identical); weights floor to integer millionths so the
    // cross-group sum is exact integer addition. NULL-group rows are
    // excluded from the counts exactly as temperatureMix excludes them —
    // counting them here would inflate sumw/total and depress every real
    // group's threshold the moment the corpus gains a null lang
    "q65_temperature_mix" ->
      ("WITH c AS (SELECT lang, COUNT(*) AS n, " +
        "  CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS w " +
        "  FROM documents WHERE lang IS NOT NULL GROUP BY lang), " +
        "t AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw, " +
        "  CAST(SUM(n) AS BIGINT) AS total FROM c), " +
        "th AS (SELECT lang, CAST(FLOOR(LEAST(1000000.0, " +
        "  0.4 * CAST(total AS DOUBLE) * CAST(w AS DOUBLE) * 1000000.0 / " +
        "  (CAST(sumw AS DOUBLE) * CAST(n AS DOUBLE)))) AS BIGINT) AS thr " +
        "  FROM c, t) " +
        "SELECT d.doc_id, d.lang FROM documents d JOIN th ON d.lang = th.lang " +
        "WHERE ((d.doc_id % 1000000) * 435761) % 1000000 < th.thr"),
    "q61_length_outliers" ->
      ("WITH st AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens " +
        "  FROM documents), " +
        "th AS (SELECT lang, quantile_cont(n_tokens, 0.75) AS p75 " +
        "  FROM st GROUP BY lang) " +
        "SELECT s.doc_id, s.lang, s.n_tokens FROM st s " +
        "JOIN th t ON s.lang = t.lang WHERE s.n_tokens > t.p75"),
    "q60_bpe_pairs" ->
      ("WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "tf AS (SELECT tok, COUNT(*) AS freq FROM toks " +
        "  WHERE length(tok) > 0 GROUP BY tok), " +
        "sy AS (SELECT string_split(tok, '') AS s, freq FROM tf), " +
        "pr AS (SELECT unnest([s[i] || s[i+1] for i in range(1, len(s))]) AS pair, " +
        "  freq FROM sy WHERE len(s) >= 2) " +
        "SELECT pair, CAST(SUM(freq) AS BIGINT) AS freq FROM pr " +
        "GROUP BY pair HAVING SUM(freq) >= 50"),
    // every metric is int/int with one final division; zero-char-mass docs
    // report 0.0 via the same guard the operator applies
    "q74_repetition" ->
      ("WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "  FROM documents), " +
        "wc AS (SELECT doc_id, w, COUNT(*) AS c, " +
        "  COUNT(*) * length(w) AS cm FROM w GROUP BY doc_id, w), " +
        "a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, " +
        "  CAST(COUNT(*) AS BIGINT) AS nd, " +
        "  CAST(SUM(cm) AS BIGINT) AS tcm, " +
        "  CAST(COALESCE(SUM(CASE WHEN c > 1 THEN cm END), 0) AS BIGINT) AS dcm, " +
        "  CAST(MAX(cm) AS BIGINT) AS topcm FROM wc GROUP BY doc_id) " +
        "SELECT doc_id, n_words, " +
        "CASE WHEN n_words > 0 THEN CAST(n_words - nd AS DOUBLE) " +
        "  / CAST(n_words AS DOUBLE) ELSE 0.0 END AS dup_word_frac, " +
        "CASE WHEN tcm > 0 THEN CAST(dcm AS DOUBLE) / CAST(tcm AS DOUBLE) " +
        "  ELSE 0.0 END AS dup_char_frac, " +
        "CASE WHEN tcm > 0 THEN CAST(topcm AS DOUBLE) / CAST(tcm AS DOUBLE) " +
        "  ELSE 0.0 END AS top_char_frac, " +
        "(CASE WHEN n_words > 0 THEN CAST(n_words - nd AS DOUBLE) " +
        "   / CAST(n_words AS DOUBLE) ELSE 0.0 END > 0.5 " +
        " OR CASE WHEN tcm > 0 THEN CAST(dcm AS DOUBLE) / CAST(tcm AS DOUBLE) " +
        "   ELSE 0.0 END > 0.5 " +
        " OR CASE WHEN tcm > 0 THEN CAST(topcm AS DOUBLE) / CAST(tcm AS DOUBLE) " +
        "   ELSE 0.0 END > 0.2) AS flagged " +
        "FROM a"),
    // integer-domain scoring: (1000000 * n_pair) // n_ctx matches Spark's
    // `div` exactly for the non-negative counts (the truncate-vs-floor
    // divergence only exists for negative operands); the lone double op is
    // the final n_oov / n_bigrams division, identical IEEE in both engines
    "q73_lm_score" ->
      (s"WITH $lmScoreCtes " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
        "CAST(SUM(CASE WHEN n_pair IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST(COALESCE(SUM(CASE WHEN n_pair IS NOT NULL " +
        "  THEN (1000000 * n_pair) // n_ctx END), 0) AS BIGINT) AS prob_mass, " +
        "CAST(SUM(CASE WHEN n_pair IS NULL THEN 1 ELSE 0 END) AS DOUBLE) " +
        "  / CAST(COUNT(*) AS DOUBLE) AS oov_rate " +
        "FROM sc GROUP BY doc_id"),
    "q59_bigram_counts" ->
      ("WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents), " +
        "bg AS (SELECT unnest([array_to_string(t[i:i+1], ' ') " +
        "  for i in range(1, len(t))]) AS bg FROM toks), " +
        "pc AS (SELECT bg, COUNT(*) AS n_pair FROM bg GROUP BY bg), " +
        "sp AS (SELECT split_part(bg, ' ', 1) AS w1, " +
        "  split_part(bg, ' ', 2) AS w2, n_pair FROM pc), " +
        "cx AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_ctx " +
        "  FROM sp GROUP BY w1) " +
        "SELECT s.w1, s.w2, s.n_pair, c.n_ctx FROM sp s " +
        "JOIN cx c ON s.w1 = c.w1 WHERE s.n_pair >= 5"),
    "q49_top_terms" ->
      ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term " +
        "  FROM documents), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term), " +
        "df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
        "r AS (SELECT doc_id, term, tf, ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "  ORDER BY tf DESC, term ASC) AS rnk FROM tf) " +
        "SELECT r.doc_id, r.term, r.tf, d.df, r.rnk FROM r " +
        "JOIN df d ON r.term = d.term WHERE r.rnk <= 3"))
}
