package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.keys.{GlobalIndex, SurrogateKeys}
import graft.ops.{Dedup, Packing, TextAnalysis, UpsertSplit}

/** Oracle-checked queries for the key-management operator family
  * (SURVEY.md §2: T6 surrogate keys, Q2 global sort, Q5 upsert split,
  * Q6 keyed dedup, Q7 reconciliation join, Q8 contiguous sequences).
  *
  * Fixture convention: "existing" table state is derived deterministically
  * from the testdata (customers holding ≥1 urgent order, with surrogate id
  * `2 * c_custkey` — a sparse id space, so reconciliation must respect
  * max(id), not count(*)); "incoming" is the full customer table.
  */
object KeyOps {

  /** The deterministic "already in the target" fixture: (c_custkey, id). */
  private def existing(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), (col("c_custkey") * 2).cast("long").as("id"))

  private val existingSql =
    """SELECT c_custkey, CAST(2 * c_custkey AS BIGINT) AS id FROM customer
      | WHERE c_custkey IN (SELECT o_custkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')""".stripMargin.replace("\n", " ")

  /** T6/Q7/Q8 — surrogate-key reconciliation: known keys keep their id, new
    * keys get contiguous max(id)+1.. in key order (ref: utils.py:5-39,
    * rewritten from N+1 lookups into one exchange and three windows).
    */
  private def q16PkReconcile(s: SparkSession, d: String): DataFrame = {
    val incoming = Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment")
    SurrogateKeys.reconcile(existing(s, d), incoming, "c_custkey")
  }

  /** Q6 — keyed keep-first dedup: one row per l_orderkey, the lowest
    * (l_linenumber, l_quantity) wins (deterministic dropDuplicates; ref: ON
    * CONFLICT DO NOTHING keep-first, loanoffers_table.py:69-70). The order
    * spans all projected columns: the synthetic lineitem has duplicate
    * (orderkey, linenumber) pairs, so any shorter order would leave the
    * survivor ambiguous.
    */
  private def q17KeyedDedup(s: SparkSession, d: String): DataFrame =
    Dedup.keepFirst(
      Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity"),
      Seq("l_orderkey"), Seq(col("l_linenumber").asc, col("l_quantity").asc))

  /** Q5 — upsert insert/update split on the unique key: one join, one flag
    * (ref: Postgres resolving ON CONFLICT; here the split is in-engine).
    */
  private def q18UpsertSplit(s: SparkSession, d: String): DataFrame =
    UpsertSplit.split(
      Tables.customer(s, d).select("c_custkey", "c_name"),
      existing(s, d), "c_custkey")

  /** Q2 — standalone global sort, made hash-verifiable by materializing the
    * position: range-shuffle + per-partition sort + two-pass zipWithIndex
    * ([[GlobalIndex]]) — never a single-partition window.
    */
  private def q19GlobalSort(s: SparkSession, d: String): DataFrame =
    GlobalIndex.withGlobalIndex(
      Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), "pos")

  /** Distributed prefix sum ([[GlobalIndex.withRunningSum]]): running
    * order-value total (in exact integer cents) over the o_orderkey order —
    * the scale-safe replacement for `sum().over(Window.orderBy(...))`,
    * whose unpartitioned frame funnels everything through one task.
    */
  private def q54RunningTotal(s: SparkSession, d: String): DataFrame =
    GlobalIndex.withRunningSum(
      Tables.orders(s, d).select(col("o_orderkey"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast("long").as("cents")),
      Seq(col("o_orderkey").asc), "cents", "cum_cents")

  /** Sequence packing ([[Packing.packSequences]]): documents in doc_id
    * order, concatenated token streams cut every 2048 tokens; each document
    * reports the chunk and in-chunk offset where it starts.
    */
  private def q55PackSequences(s: SparkSession, d: String): DataFrame =
    Packing.packSequences(
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
      Seq(col("doc_id").asc), "n_tokens", maxTokens = 2048L)

  /** Reproducible multi-epoch training order: each epoch is an independent
    * deterministic permutation of the corpus (per-epoch multiplicative
    * scatter of doc_id as the sort key — rand() is not even retry-stable),
    * with the global position materialized by [[GlobalIndex]]'s
    * range-shuffle (never a single-partition window). Byte-stable order is
    * what lets a crashed training run resume mid-epoch on the exact row it
    * stopped at; hash collisions are broken by doc_id, so the order is a
    * total one.
    */
  private def q96EpochOrder(s: SparkSession, d: String): DataFrame = {
    val byEpoch = Tables.documents(s, d).select("doc_id")
      .select(col("doc_id"), explode(sequence(lit(0L), lit(1L))).as("epoch"))
      // the epoch picks a DIFFERENT multiplier, not an additive term: any
      // affine mix of epoch (k0 + c·e, or (d + c·e)·M — the multiply
      // distributes) makes every epoch a cyclic ROTATION of epoch 0's
      // order; distinct multipliers scramble the relative order itself.
      // Step 193810 keeps every multiplier odd and ≡1 (mod 5), i.e.
      // coprime to 10^6, for ANY epoch count.
      .withColumn("k",
        pmod(pmod(col("doc_id"), lit(1000000L)) *
          (lit(435761L) + col("epoch") * 193810L), lit(1000000L)))
    GlobalIndex.withGlobalIndex(byEpoch,
      Seq(col("epoch").asc, col("k").asc, col("doc_id").asc), "position")
      .select("doc_id", "epoch", "position")
  }

  /** Fair round-robin source interleave: position documents so the
    * training stream cycles through sources (one from each, repeat) —
    * the fairness ordering that keeps any window of the stream
    * source-balanced even when source sizes differ wildly (a size-skewed
    * concatenation front-loads the big feed; a q96-style global shuffle
    * is only balanced in expectation). Rank within source is a per-source
    * window (bounded partitions); the global position over (round,
    * source) comes from [[GlobalIndex]]'s range shuffle, never a
    * one-partition window.
    */
  private def q101Interleave(s: SparkSession, d: String): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val ranked = Tables.documents(s, d).select("doc_id", "source")
      .withColumn("round", row_number().over(bySource).cast("long"))
    GlobalIndex.withGlobalIndex(ranked,
      Seq(col("round").asc, col("source").asc, col("doc_id").asc),
      "position")
      .select("doc_id", "source", "round", "position")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q96_epoch_order" -> q96EpochOrder _,
    "q101_interleave" -> q101Interleave _,
    "q16_pk_reconcile" -> q16PkReconcile _,
    "q17_keyed_dedup" -> q17KeyedDedup _,
    "q18_upsert_split" -> q18UpsertSplit _,
    "q19_global_sort" -> q19GlobalSort _,
    "q54_running_total" -> q54RunningTotal _,
    "q55_pack_sequences" -> q55PackSequences _)

  val oracle: Map[String, String] = Map(
    // doc_id and epoch are non-negative, so DuckDB's truncating % agrees
    // with Spark's pmod (negative operands would not — verify gotcha)
    "q96_epoch_order" ->
      ("WITH e AS (SELECT doc_id, unnest(range(0, 2)) AS epoch FROM documents), " +
        "h AS (SELECT doc_id, epoch, " +
        "  ((doc_id % 1000000) * (435761 + epoch * 193810)) % 1000000 AS k " +
        "  FROM e) " +
        "SELECT doc_id, epoch, CAST(ROW_NUMBER() OVER " +
        "  (ORDER BY epoch, k, doc_id) AS BIGINT) AS position FROM h"),
    "q101_interleave" ->
      ("WITH r AS (SELECT doc_id, source, CAST(ROW_NUMBER() OVER " +
        "  (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS round " +
        "  FROM documents) " +
        "SELECT doc_id, source, round, CAST(ROW_NUMBER() OVER " +
        "  (ORDER BY round, source, doc_id) AS BIGINT) AS position FROM r"),
    "q16_pk_reconcile" ->
      (s"WITH existing AS ($existingSql), " +
        "incoming AS (SELECT c_custkey, c_name, c_mktsegment FROM customer), " +
        "j AS (SELECT i.c_custkey, i.c_name, i.c_mktsegment, e.id AS eid " +
        "      FROM incoming i LEFT JOIN existing e ON i.c_custkey = e.c_custkey) " +
        "SELECT c_custkey, c_name, c_mktsegment, " +
        "CASE WHEN eid IS NULL THEN (SELECT COALESCE(MAX(id), 0) FROM existing) " +
        "  + ROW_NUMBER() OVER (PARTITION BY (eid IS NULL) ORDER BY c_custkey) " +
        "ELSE eid END AS id FROM j"),
    "q17_keyed_dedup" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM (" +
        "SELECT l_orderkey, l_linenumber, l_quantity, " +
        "ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS rn " +
        "FROM lineitem) WHERE rn = 1"),
    "q18_upsert_split" ->
      (s"WITH existing AS ($existingSql) " +
        "SELECT c_custkey, c_name, " +
        "CASE WHEN c_custkey IN (SELECT c_custkey FROM existing) " +
        "THEN 'update' ELSE 'insert' END AS op FROM customer"),
    "q19_global_sort" ->
      ("SELECT o_orderkey, o_totalprice, " +
        "ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS pos " +
        "FROM orders"),
    "q54_running_total" ->
      ("SELECT o_orderkey, cents, " +
        "CAST(SUM(cents) OVER (ORDER BY o_orderkey) AS BIGINT) AS cum_cents " +
        "FROM (SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) " +
        "  * 100 AS BIGINT) AS cents FROM orders)"),
    "q55_pack_sequences" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) " +
        "  AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER (" +
        "  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "  AS BIGINT) AS strt FROM t) " +
        "SELECT doc_id, n_tokens, (strt - (strt % 2048)) // 2048 AS seq_id, " +
        "  strt % 2048 AS seq_offset FROM c"))
}
