package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-substring span dedup — the ExactSubstr operator of "Deduplicating
  * Training Data Makes Language Models Better" (Lee et al., 2022) /
  * RefinedWeb: when the SAME `w`-token span occurs more than once across
  * the corpus, every occurrence except the canonical first is REMOVED from
  * its document (the document survives with the span cut out), unlike the
  * whole-document dedup family ([[Dedup]]/[[NearDup]]) which keeps or
  * drops documents wholesale. Lee et al. build a corpus-wide suffix array —
  * inherently single-machine; the distributed re-expression is fixed-width
  * window hashing: every length-`w` token window is hashed, windows with
  * ≥2 occurrences flag all-but-first, flagged windows merge into maximal
  * covered intervals (gaps-and-islands), and covered token positions are
  * cut. Overlapping/adjacent duplicated windows coalesce, so a shared
  * 50-token run is excised as ONE span, and any shared run of ≥ w tokens
  * is always detected (its first w-window is a duplicate).
  *
  * Scale shape: the occurrence table shuffles (hash8, doc_id, pos) — 24
  * bytes per window position, never text. The only stages that move token
  * text are the per-document interval merge and the final reassembly, both
  * partitioned by doc_id (bounded by the largest single document, the same
  * unit any per-document transform carries). A pathological window value
  * repeated millions of times funnels its occurrence rows (24 B each)
  * through one row_number task — the same hot-key exposure NearDup bounds
  * with a df cap; here the canonical-first contract needs the full group,
  * and the rows are fixed-width, so 10^6 occurrences ≈ 24 MB: acceptable.
  *
  * Determinism: the canonical occurrence is the lexicographic minimum of
  * (doc_id, pos), so output is independent of partitioning and retry.
  */
object SpanDedup {

  /** Every `w`-token window position of every document: (doc_id, pos, h)
    * with `h` = xxhash64 of the space-joined window and 1-based `pos` —
    * the output id column is ALWAYS named `doc_id` (this is an internal
    * candidate-table schema, unlike the public operators which preserve
    * the caller's column names). Map-only; the shared candidate table for
    * span removal ([[removeDuplicateSpans]]) and duplication-mass
    * profiling ([[duplicationProfile]]). Documents shorter than `w` emit
    * no rows.
    */
  def windowOccurrences(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"span width must be >= 2, got $w")
    require(docs.columns.contains(idCol) && docs.columns.contains(textCol),
      s"missing $idCol/$textCol in [${docs.columns.mkString(",")}]")
    // the fused native kernel ([[graft.functions.TokenWindowHashes]]):
    // bit-identical to the HOF formulation
    // transform(sequence(1, n-w+1), i -> xxhash64(concat_ws(" ",
    // slice(split(text," "), i, w)))) but hashed in place over the text's
    // byte ranges inside whole-stage codegen (the interpreted chain
    // measured ~14 µs/window and dominated the operator's runtime)
    docs.select(col(idCol).as("doc_id"),
      posexplode(call_function("graft_winhash", col(textCol), lit(w)))
        .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
  }

  /** Per-document duplication-mass profile: how much of each document is
    * made of `w`-token windows that occur elsewhere in the corpus — the
    * cheap diagnostic run BEFORE committing to a full
    * [[removeDuplicateSpans]] pass (its answer sizes that job: a corpus at
    * 0.1% dup mass doesn't need one). Output per document: `n_windows`,
    * `n_dup_windows` (corpus occurrence count ≥ 2, the document's own
    * repeats included), `max_mult` (highest multiplicity any of its
    * windows reaches), `dup_fraction`.
    *
    * One shuffle: multiplicities come from a count window over the hash
    * partition of the occurrence table (24-byte rows), then a per-doc
    * re-aggregation. Short documents (< w tokens) report zeros.
    */
  def duplicationProfile(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val occ = windowOccurrences(docs, idCol, textCol, w)
    val withC = occ.withColumn("c",
      count(lit(1)).over(Window.partitionBy("h")))
    val perDoc = withC.groupBy("doc_id").agg(
      count(lit(1)).as("n_windows"),
      sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_windows"),
      max(col("c")).as("max_mult"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("max_mult"), lit(0L)).as("max_mult"),
        when(col("n_windows").isNull, lit(0.0))
          .otherwise(col("n_dup_windows").cast("double") /
            col("n_windows").cast("double")).as("dup_fraction"))
  }

  /** Remove every non-canonical occurrence of any duplicated `w`-token
    * span. Output: one row per input document — `idCol`, rewritten
    * `textCol` (tokens joined by single spaces; empty string if everything
    * was cut), `n_kept`/`n_dropped` token counts.
    *
    * Tokenization is single-space split ([[TextAnalysis.tokens]]'s
    * convention), positions are 1-based.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"span width must be >= 2, got $w")
    require(docs.columns.contains(idCol) && docs.columns.contains(textCol),
      s"missing $idCol/$textCol in [${docs.columns.mkString(",")}]")
    // persisted: three branches re-derive from the input (the occurrence
    // stream, the token explode, and the final length join) — without the
    // pin, everything UPSTREAM of this operator (e.g. q100's whole dedup
    // chain) re-executes once per branch. Blocks are reclaimed by the
    // ContextCleaner when the returned frame's plan becomes unreachable
    // (the GlobalIndex.persistSorted lifetime pattern).
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__txt"),
      split(col(textCol), " ", -1).as("t")).persist()
    // derives from the PERSISTED base, through the one shared candidate
    // generator
    val occ = windowOccurrences(base, "doc_id", "__txt", w)

    // all-but-first occurrence of every window value; shuffle carries
    // (h, doc_id, pos) only
    val byH = Window.partitionBy("h")
      .orderBy(col("doc_id").asc, col("pos").asc)
    val flagged = occ.withColumn("rn", row_number().over(byH))
      .where(col("rn") > 1)
      .select(col("doc_id"), col("pos"), (col("pos") + w).as("e"))

    // merge overlapping/adjacent [pos, pos+w) intervals per document
    // (gaps-and-islands): an island starts where pos exceeds the running
    // max end of everything before it
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = flagged
      .withColumn("mx",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(
        when(col("mx").isNull || col("pos") > col("mx"), 1).otherwise(0))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val intervals = islands.groupBy("doc_id", "isl")
      .agg(min("pos").as("s"), max("e").as("e"))

    // Per-doc interval LISTS — bounded by duplicated-span MASS, tiny next
    // to the corpus. The rebuild attaches them to the persisted base and
    // cuts each flagged document's token array IN PLACE (r21, guide §2.3
    // "shuffle keys and metadata instead of payloads"): the previous form
    // exploded EVERY token of EVERY document, anti-joined the covered
    // positions, and re-collected/sorted all tokens through a
    // corpus-sized shuffle — moving the heavy token payload twice to
    // delete a few spans. Now the corpus is never shuffled — as long as
    // AQE broadcasts the interval table; past the broadcast threshold the
    // join sort-merges, shuffling the persisted base (`__txt` and token
    // array both). Clean documents short-circuit on the
    // NULL interval list (split-on-space/join-by-space with every token
    // kept is the string identity, so emitting the original text is
    // exact), and only flagged documents pay the positional filter.
    // Row-identical to the explode/re-collect form: same kept tokens in
    // the same (positional) order, same counts — SpanDedupSpec pins the
    // edges (fully-cut doc, merged intervals, consecutive-space tokens).
    val ivs = intervals.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("__ivs"))

    // the kept-token array is PROJECTED ONCE (house HOF rule: an inline
    // higher-order filter referenced by both the text and the count
    // would re-evaluate per reference)
    val cut = base.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__txt"), col("t"), col("__ivs"),
        when(col("__ivs").isNotNull,
          filter(col("t"), (_, i) =>
            !exists(col("__ivs"), iv =>
              (i + 1 >= iv.getField("s")) && (i + 1 < iv.getField("e")))))
          .as("__kept"))

    val nKept = when(col("t").isNull, lit(0L))
      .when(col("__ivs").isNull, size(col("t")).cast("long"))
      .otherwise(size(col("__kept")).cast("long"))
    cut.select(col("doc_id").as(idCol),
      when(col("t").isNull, lit(""))
        .when(col("__ivs").isNull, col("__txt"))
        .otherwise(concat_ws(" ", col("__kept"))).as(textCol),
      nKept.as("n_kept"),
      (size(col("t")).cast("long") - nKept).as("n_dropped"))
  }
}
