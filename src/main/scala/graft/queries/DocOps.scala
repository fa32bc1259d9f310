package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Scratch, Tables}
import graft.ingest.ExtendedJson

/** Oracle-checked queries through the DataSourceV2 extended-JSON document
  * source ([[graft.ingest.v2.ExtJsonDataSource]]) — SURVEY.md §2 S1/T1/T2
  * run against the DOCUMENT files themselves, proving the reference's
  * server-side `$project` (`user_table.py:26-53`) and `$match`
  * (`loanapplication_table.py:27-31`) as engine pushdown, not a seam.
  *
  * Each query first materializes the `orders` table as Mongo extended
  * JSON (`$oid`-wrapped synthetic ObjectId, relaxed `$date` order date) —
  * once per (JVM, scale factor), the honest document-drop setup cost, like
  * q44's in-query bucketed layout — then reads it back through the V2
  * source with a DECODED schema, so the oracle can verify every decoded
  * value against the parquet ground truth.
  */
object DocOps {

  /** One extended-JSON materialization per (JVM, sfDir). */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ordersJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(d, _ => {
      // one landing per (scale factor, application), removed at JVM exit
      val dir = s"${Scratch.landing("graft_extjson", s, d)}/orders"
      Tables.orders(s, d).select(to_json(struct(
        struct(lower(lpad(hex(col("o_orderkey")), 24, "0")).as("$oid")).as("_id"),
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        struct(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("$date")).as("o_orderdate"),
        col("o_orderpriority"))).as("value"))
        .write.mode("overwrite").text(dir)
      dir
    })

  /** Decoded read schema: wrappers unwrap in the source ($oid → STRING,
    * $date → TIMESTAMP), exactly how the Mongo connector presents BSON
    * under a user schema.
    */
  private val decodedOrders = StructType(Seq(
    StructField("_id", StringType),
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  private def readOrders(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrders, ordersJsonl(s, d))

  /** The SAME document drop read with a DECIMAL money column — the user
    * schema decides the decode (Mongo `$numberDecimal` discipline), and a
    * decimal-typed `o_totalprice` is what makes its `$sum` partials
    * exactly mergeable (and its metadata sums exact) where double
    * partials would be order-dependent.
    */
  private val decodedOrdersDec = StructType(Seq(
    StructField("_id", StringType),
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  private def readOrdersDec(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersDec, ordersJsonl(s, d))

  /** One hive-layout materialization per (JVM, sfDir): the same orders
    * drop written DATE-PARTITIONED — `status=F/py=1995/part-….txt` —
    * the reference's daily-delta S3 layout shape
    * (`dags/includes/utils.py:42-47`: date-keyed files). The partition
    * values live ONLY in the path; the JSON lines carry just the data
    * fields.
    */
  private val builtPart = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ordersPartJsonl(s: SparkSession, d: String): String =
    builtPart.computeIfAbsent(d, _ => {
      val dir = s"${Scratch.landing("graft_extjson_part", s, d)}/orders"
      Tables.orders(s, d)
        .withColumn("py", year(col("o_orderdate")))
        .select(col("o_orderstatus").as("status"), col("py"),
          to_json(struct(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority"))).as("value"))
        .repartition(col("status"), col("py"))
        .write.mode("overwrite").partitionBy("status", "py").text(dir)
      dir
    })

  /** Decoded schema of the partitioned drop: `status`/`py` are declared
    * like any column but marked as partition columns at read time — their
    * values decode from the `k=v` directories, typed by this schema.
    */
  private val decodedOrdersPart = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderpriority", StringType),
    StructField("status", StringType),
    StructField("py", IntegerType)))

  private def readOrdersPart(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersPart, ordersPartJsonl(s, d),
      Map("partitionColumns" -> "status,py"))

  /** T1 through the document source: a three-column projection whose
    * pruning lands ON the V2 scan (PlanSpec-pinned ReadSchema) — the four
    * pruned fields are `skipChildren()`-ed, never materialized.
    */
  private def q109Project(s: SparkSession, d: String): DataFrame =
    readOrders(s, d).select("_id", "o_orderkey", "o_totalprice")

  /** T2 through the document source: a timestamp range + status equality,
    * both accepted by the scan (PlanSpec-pinned PushedFilters, zero
    * residual FilterExec) — rejected documents never leave the reader,
    * the `$match` contract.
    */
  private def q110Filter(s: SparkSession, d: String): DataFrame =
    readOrders(s, d)
      // to_timestamp parses in the SESSION timezone (pinned UTC) —
      // java.sql.Timestamp.valueOf would read the wall-clock string in
      // the JVM default zone and shift the cutoff on any non-UTC host,
      // silently diverging from the oracle's naive TIMESTAMP literal
      .filter(col("o_orderdate") >
        to_timestamp(lit("1997-06-01 00:00:00")) &&
        col("o_orderstatus") === "O")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"))

  /** The global COUNT(*) — `$count` through the document source. Over a
    * one-split drop it is a COMPLETE pushdown: the scan counts its lines
    * without parsing them (the newline skim) and its one row is the
    * answer, with no exchange or final aggregate. Over more splits Spark's
    * partial/final aggregate sums the per-split skims. One row out.
    */
  private def q121Count(s: SparkSession, d: String): DataFrame =
    readOrders(s, d).agg(count(lit(1)).as("n_orders"))

  /** NESTED customer documents (the reference's documents are nested —
    * `user_table.py:31-34` `personalInformation.firstName`): name/balance/
    * segment under a `profile` subdocument, so dotted `$match` paths have
    * something real to push against.
    */
  private def customersJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#customer", _ => {
      val dir = s"${Scratch.landing("graft_extjson", s, d)}/customer"
      Tables.customer(s, d).select(to_json(struct(
        struct(lower(lpad(hex(col("c_custkey")), 24, "0")).as("$oid")).as("_id"),
        col("c_custkey"), col("c_name"),
        struct(col("c_nationkey").cast("long").as("nationkey"),
          col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("mktsegment")).as("profile"))).as("value"))
        .write.mode("overwrite").text(dir)
      dir
    })

  private val decodedCustomers = StructType(Seq(
    StructField("_id", StringType),
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("profile", StructType(Seq(
      StructField("nationkey", LongType),
      StructField("acctbal", DoubleType),
      StructField("mktsegment", StringType))))))

  private def readCustomers(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedCustomers, customersJsonl(s, d))

  /** Dotted `$match` through the document source: both nested predicates
    * accepted by the scan (PlanSpec-pinned PushedFilters with dotted
    * paths, zero residual FilterExec) — the filter-only `mktsegment`
    * subfield is parsed for the predicate but never shipped, and the
    * output keeps the nested-pruned shape.
    */
  private def q123NestedFilter(s: SparkSession, d: String): DataFrame =
    readCustomers(s, d)
      .filter(col("profile.acctbal") > 5000.0 &&
        col("profile.mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"),
        col("profile.nationkey").as("nationkey"),
        col("profile.acctbal").as("acctbal"))

  /** `$sort + $limit` through the document source: partial top-N pushed
    * to every split (PlanSpec-pinned PushedTopN — each split ships 10
    * rows, not its row count), Spark's TakeOrdered assembles the exact
    * global answer. Tiebreak on the unique key keeps the row set
    * deterministic for the oracle.
    */
  private def q125TopN(s: SparkSession, d: String): DataFrame =
    readOrders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** `$group: {_id: null, …}` over the document source: a
    * MIN/MAX/COUNT(col)/COUNT(*) combination. Like the reference, which
    * pushes no `$group` into MongoDB, the scan only prunes columns (it
    * parses the three referenced fields) and Spark's partial/final
    * aggregate answers (PlanSpec pins that nothing is pushed). The
    * timestamp min is formatted ABOVE the aggregate so the oracle output
    * stays string-typed (the raw-timestamp hashing rule).
    */
  private def q129AggPush(s: SparkSession, d: String): DataFrame =
    readOrders(s, d)
      .agg(min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("__first"),
        count(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_all"))
      .select(col("min_price"), col("max_price"),
        date_format(col("__first"), "yyyy-MM-dd").as("first_date"),
        col("n_prio"), col("n_all"))

  /** `$group: {_id: "$o_orderstatus", …}` over the document source:
    * the idiomatic MQL group-by-field shape. The scan prunes to the
    * three referenced fields and Spark's partial/final aggregate groups
    * the rows (sum of counts, min of mins); nothing is pushed.
    */
  private def q131GroupAgg(s: SparkSession, d: String): DataFrame =
    readOrders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        count(col("o_orderpriority")).as("n_prio"))

  /** `$sort + $limit` on a NESTED key through the document source: the
    * dotted `profile.acctbal` sort pushes as partial top-N (each split's
    * heap orders by the compiled nested getter), Spark's TakeOrdered
    * assembles the exact global answer above it.
    */
  private def q132NestedTopN(s: SparkSession, d: String): DataFrame =
    readCustomers(s, d)
      .orderBy(col("profile.acctbal").desc, col("c_custkey").asc)
      .limit(10)
      .select(col("c_custkey"),
        col("profile.acctbal").as("acctbal"),
        col("profile.mktsegment").as("mktsegment"))

  /** Grouped aggregate on NESTED paths over the document source: both
    * the group key (`profile.mktsegment`) and the extremes
    * (`profile.acctbal`) live a struct level down. The scan
    * nested-prunes `profile` to those two subfields; Spark's own
    * aggregate groups the rows.
    */
  private def q133NestedGroupAgg(s: SparkSession, d: String): DataFrame =
    readCustomers(s, d)
      .groupBy(col("profile.mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        min(col("profile.acctbal")).as("min_bal"),
        max(col("profile.acctbal")).as("max_bal"))

  /** DISTINCT over the document source: a grouped aggregation with NO
    * aggregate functions, the `$group: {_id: "$field"}` shape with an
    * empty accumulator map. The scan parses only the status field;
    * Spark's partial aggregate dedups each split before the exchange.
    */
  private def q136Distinct(s: SparkSession, d: String): DataFrame =
    readOrders(s, d).select(col("o_orderstatus")).distinct()

  /** The composed `$match + $group` pipeline: the nested predicate is
    * pushed to the scan (no residual FilterExec — rejected documents
    * never leave the reader), and Spark's aggregate groups the survivors
    * by the nested segment. The reference's split exactly: `$match` runs
    * in the source, `$group` in Spark.
    */
  private def q138FilteredGroup(s: SparkSession, d: String): DataFrame =
    readCustomers(s, d)
      .filter(col("profile.acctbal") > 0.0)
      .groupBy(col("profile.mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        max(col("profile.acctbal")).as("max_bal"))

  /** `$group: {_id: "$o_orderstatus", total: {$sum: "$o_totalprice"}}`
    * over the document source — MQL's most idiomatic accumulator, as
    * Spark's own grouped decimal SUM over the scanned rows (exact under
    * any merge order). Output follows the dsum discipline: the decimal
    * total casts to double (and to exact integer cents) ABOVE the
    * aggregate, so the oracle hash is engine-portable.
    */
  private def q139GroupSum(s: SparkSession, d: String): DataFrame =
    readOrdersDec(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("o_totalprice")).as("__t"), count(lit(1)).as("n_orders"))
      .select(col("o_orderstatus"),
        col("__t").cast("double").as("sum_price"),
        (col("__t") * 100).cast("long").as("sum_cents"),
        col("n_orders"))

  /** `$match + $group: {avg: {$avg: …}}` over one document scan: the
    * status predicate is pushed to the scan, and Spark's AVG over the
    * survivors divides its long sum by its count once — a single
    * rounding, bit-identical to the oracle's
    * `CAST(SUM AS DOUBLE) / CAST(COUNT AS DOUBLE)`.
    */
  private def q140FilteredAvg(s: SparkSession, d: String): DataFrame =
    readOrders(s, d)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(avg(col("o_custkey")).as("avg_cust"),
        count(lit(1)).as("n_orders"))

  /** A date predicate over a hive-partitioned document drop: the status
    * and year filters prune DIRECTORIES at listing time (non-matching
    * subtrees are never listed, let alone parsed — the scan description
    * records the pruned counts), and Spark's aggregate groups the
    * surviving rows by their path-constant `py`. At 100 TB this is the
    * difference between reading one year and reading the archive.
    */
  private def q141PartitionPrune(s: SparkSession, d: String): DataFrame =
    readOrdersPart(s, d)
      .filter(col("status") === "F" && col("py") >= 1995)
      .groupBy(col("py"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_custkey")).as("__s"))
      .select(col("py"), col("n_orders"), col("__s").cast("long").as("sum_cust"))

  /** Orders with their LINE ITEMS embedded as an array-of-structs sorted
    * by line number — the reference's trades/invoices document shape,
    * where the business value lives at the HEAD of an embedded array
    * (T8: `trades_table.py:17-21`, `invoices_table.py:83-96`).
    */
  private def ordersItemsJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#items", _ => {
      val dir = s"${Scratch.landing("graft_extjson_items", s, d)}/orders"
      // sort_array orders structs by field order — `line` first, unique
      // per order, so items[0] is deterministically line number 1
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey"), struct(
          col("l_linenumber").as("line"),
          col("l_quantity").as("qty"),
          col("l_extendedprice").as("price")).as("item"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("item"))).as("items"))
      Tables.orders(s, d)
        .join(items, col("o_orderkey") === col("l_orderkey"), "left")
        .select(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
          col("items"))).as("value"))
        .write.mode("overwrite").text(dir)
      dir
    })

  private val decodedOrdersItems = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("items", ArrayType(StructType(Seq(
      StructField("line", IntegerType),
      StructField("qty", DoubleType),
      StructField("price", DoubleType)))))))

  private def readOrdersItems(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersItems, ordersItemsJsonl(s, d))

  /** `$match` on an ARRAY-HEAD field through the document source — the
    * reference's T8 access shape as scan pushdown: `items[0].qty` can't
    * ride Spark's own filter translation (GetArrayItem never reaches
    * `pushFilters`), so [[graft.ingest.v2.ArrayMatchPushdown]] rewrites
    * the conjunct into a bracket-path filter baked into the scan — zero
    * residual FilterExec (PlanSpec-pinned), documents failing the head
    * predicate never leave the reader, and the parse schema carries only
    * the referenced element subfields. The projection also lands on the
    * scan: only `qty`/`price` of each element parse; `line` is skipped.
    */
  private def q146ArrayHeadFilter(s: SparkSession, d: String): DataFrame =
    readOrdersItems(s, d)
      .filter(get(col("items"), lit(0)).getField("qty") >= 45.0 &&
        col("o_orderstatus") === "F")
      .select(col("o_orderkey"),
        get(col("items"), lit(0)).getField("qty").as("head_qty"),
        get(col("items"), lit(0)).getField("price").as("head_price"))

  /** `$sort + $limit` ordered on PARTITION columns over the hive-layout
    * drop: the pushed sort keys `py`/`status` are path-constants — they
    * feed each split's heap from the spliced directory values, never the
    * parse — with the data-column tiebreak keeping the global answer
    * deterministic for the oracle. (When EVERY pushed key is a partition
    * column the heap degenerates further, to a per-split early-exit
    * limit — DocSourceV2Spec pins that path; an oracle query can't,
    * because an all-constant sort leaves the row CHOICE arbitrary.)
    */
  private def q147PartitionTopN(s: SparkSession, d: String): DataFrame =
    readOrdersPart(s, d)
      .orderBy(col("py").desc, col("status").asc, col("o_orderkey").asc)
      .limit(15)
      .select(col("o_orderkey"), col("py"), col("status"))

  /** One CLUSTERED + zone-map-indexed materialization per (JVM, sfDir):
    * the orders drop range-written on `o_totalprice` (each file owns a
    * disjoint price band — the natural clustering any sorted/appended
    * drop has on its write key) and indexed once at write time by
    * [[graft.ingest.v2.ZoneMaps.build]], the way a producer would.
    */
  private def ordersClusteredJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#clustered", _ => {
      val dir = s"${Scratch.landing("graft_extjson_zm", s, d)}/orders"
      Tables.orders(s, d)
        .repartitionByRange(8, col("o_totalprice"))
        .sortWithinPartitions(col("o_totalprice"))
        .select(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))).as("value"))
        .write.mode("overwrite").text(dir)
      graft.ingest.v2.ZoneMaps.build(s, dir, decodedOrdersClustered,
        Seq("o_totalprice", "o_orderkey"), bloomCols = Seq("o_orderkey"))
      dir
    })

  private val decodedOrdersClustered = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  /** Zone-map data skipping (`$match` over a clustered drop): the pushed
    * price predicate consults the `_graft_zonemaps` sidecar at PLANNING
    * time and drops every file whose max price provably fails it —
    * min/max file skipping on a DATA column, the parquet-footer /
    * Iceberg-manifest capability the JSONL drop otherwise lacks, and the
    * complement of q141's partition-directory pruning (which needs the
    * layout to encode the key). PlanSpec pins files actually pruned;
    * correctness is oracle-graded because pruning only removes files the
    * pushed filter would empty anyway.
    */
  private def q148ZoneMapSkip(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersClusteredJsonl(s, d))
      .filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** Metadata-only aggregates over the zone-mapped drop: the unfiltered
    * MIN/MAX/COUNT combination is answered ENTIRELY from the
    * `_graft_zonemaps` sidecar — the scan plans ONE answer "partition"
    * and reads zero document bytes at any corpus size (the
    * parquet-footer aggregate pushdown, `spark.sql.parquet
    * .aggregatePushdown`, re-created for the JSONL drop). Every listed
    * file must carry a length+mtime-fresh stats row for every referenced
    * column; one gap refuses and Spark's own aggregate over the scanned
    * rows runs instead — so the fast path can never return stale numbers for
    * a drop that changed under it.
    */
  private def q149MetadataAgg(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersClusteredJsonl(s, d))
      .agg(min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        count(col("o_totalprice")).as("n_priced"),
        count(lit(1)).as("n_orders"))

  /** Bloom-sidecar point lookup: `o_orderkey` is scattered across the
    * price-clustered files, so min/max can't skip anything — the
    * per-file BLOOM filter can: each file's membership filter answers
    * "definitely absent" at planning (no false negatives, so pruning is
    * sound; false positives only cost a skipped skip), and a 3-key
    * lookup plans ~3 of 8 files instead of the drop. The parquet
    * bloom-filter capability, sidecar-form.
    */
  private def q150BloomPointLookup(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersClusteredJsonl(s, d))
      .filter(col("o_orderkey").isin(1L, 7L, 38L))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** An APPENDING drop with incremental zone-map maintenance: 6 price
    * bands land and are indexed ([[graft.ingest.v2.ZoneMaps.build]]),
    * then 2 more bands land AFTER the build and are indexed by
    * [[graft.ingest.v2.ZoneMaps.append]] — one stats pass over the NEW
    * files only, written as a sidecar generation (deterministic
    * `add_<tag>` dir + overwrite, replay-convergent). The lifecycle
    * every appending 100 TB drop needs: skipping must not decay to a
    * full O(corpus) rebuild each landing.
    */
  private def ordersAppendedJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#appended", _ => {
      val dir = s"${Scratch.landing("graft_extjson_zmapp", s, d)}/orders"
      def land(df: DataFrame, bands: Int, mode: String): Unit =
        df.repartitionByRange(bands, col("o_totalprice"))
          .sortWithinPartitions(col("o_totalprice"))
          .select(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))).as("value"))
          .write.mode(mode).text(dir)
      val orders = Tables.orders(s, d)
      land(orders.filter(col("o_totalprice") <= 300000.0), 6, "overwrite")
      graft.ingest.v2.ZoneMaps.build(s, dir, decodedOrdersClustered,
        Seq("o_totalprice", "o_orderkey"), bloomCols = Seq("o_orderkey"))
      land(orders.filter(col("o_totalprice") > 300000.0), 2, "append")
      graft.ingest.v2.ZoneMaps.append(s, dir, decodedOrdersClustered,
        Seq("o_totalprice", "o_orderkey"), batchTag = "landing1",
        bloomCols = Seq("o_orderkey"))
      dir
    })

  /** Zone-map skipping over the APPENDED drop: the pushed price
    * predicate exceeds every pre-append band, so the only plannable
    * files are the two post-append ones — provable only if the
    * incremental `add_` generation participates in pruning (PlanSpec
    * pins ≤ 2 of 8 files planned). Same oracle shape as q148; the
    * lifecycle step is result-neutral by construction.
    */
  private def q151ZoneMapAppend(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersAppendedJsonl(s, d))
      .filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** ONE price-sorted file indexed at BLOCK granularity (16 KiB stats
    * rows in the same sidecar) — the shape where file-level stats are
    * useless (one file owns the whole range) but parquet would still
    * skip row groups. Built once per (JVM, sfDir).
    */
  private def ordersSortedJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#sorted", _ => {
      val dir = s"${Scratch.landing("graft_extjson_zmblk", s, d)}/orders"
      Tables.orders(s, d)
        .repartitionByRange(1, col("o_totalprice"))
        .sortWithinPartitions(col("o_totalprice"))
        .select(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))).as("value"))
        .write.mode("overwrite").text(dir)
      graft.ingest.v2.ZoneMaps.build(s, dir, decodedOrdersClustered,
        Seq("o_totalprice", "o_orderkey"), blockBytes = 16L * 1024)
      dir
    })

  /** BLOCK-level data skipping (`$match` on the sort key of one large
    * file): per-block min/max rows let the planner drop non-matching
    * byte-range SPLITS — adjacent survivors coalesce into runs, the gap
    * ranges are never read or parsed (PlanSpec pins planned bytes ≪
    * file bytes, zero residual). The row-group-granularity half of the
    * parquet-footer story, which file-level zone maps can't give a
    * single clustered file.
    */
  private def q152BlockSkip(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersSortedJsonl(s, d))
      .filter(col("o_totalprice") >= 300000.0 &&
        col("o_totalprice") < 360000.0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** Status-clustered drop (one file per `o_orderstatus` value): the
    * layout where an equality on the write key is zone-DECIDABLE per
    * file — min == max on every file. Built once per (JVM, sfDir).
    */
  private def ordersByStatusJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#bystatus", _ => {
      val dir = s"${Scratch.landing("graft_extjson_zmst", s, d)}/orders"
      val orders = Tables.orders(s, d)
      Seq("F", "O", "P").foreach { st =>
        orders.filter(col("o_orderstatus") === st)
          .select(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))).as("value"))
          .coalesce(1).write.mode("append").text(dir)
      }
      graft.ingest.v2.ZoneMaps.build(s, dir, decodedOrdersClustered,
        Seq("o_orderstatus", "o_totalprice", "o_orderkey"))
      dir
    })

  /** FILTERED metadata-only aggregates — residual elimination applied to
    * aggregation: `$match` on the clustering key + MIN/MAX/COUNT is
    * answered entirely from the sidecar because every pushed conjunct is
    * zone-decidable per file (non-matching status files are provably
    * all-false and contribute nothing; the matching file is provably
    * all-TRUE, so its stats speak for its filtered rows —
    * [[graft.ingest.v2.ZoneMaps.Truth.all]]). Zero data bytes read
    * at any corpus size; one undecidable file and the scan refuses,
    * falling back to Spark's own aggregate over the scan (spec-pinned).
    */
  private def q153FilteredMetadataAgg(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersByStatusJsonl(s, d))
      .filter(col("o_orderstatus") === "F")
      .agg(min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        count(col("o_totalprice")).as("n_priced"),
        count(lit(1)).as("n_f"))

  /** The status-clustered drop under a DECIMAL money schema (its own
    * sidecar: type tags must match the read schema), for the exact-sum
    * metadata path — double sums are order-dependent and never stored.
    */
  private val decodedOrdersClusteredDec = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(12, 2))))

  private def ordersByStatusDecJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#bystatusdec", _ => {
      val dir = s"${Scratch.landing("graft_extjson_zmsum", s, d)}/orders"
      val orders = Tables.orders(s, d)
      Seq("F", "O", "P").foreach { st =>
        orders.filter(col("o_orderstatus") === st)
          .select(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))).as("value"))
          .coalesce(1).write.mode("append").text(dir)
      }
      graft.ingest.v2.ZoneMaps.build(s, dir, decodedOrdersClusteredDec,
        Seq("o_orderstatus", "o_totalprice", "o_orderkey"))
      dir
    })

  /** Metadata-only SUM — past parquet's MIN/MAX/COUNT: integer/decimal
    * columns carry an EXACT order-free per-file sum in the sidecar
    * (float/double sums are order-dependent and are never stored), so a
    * filtered SUM/COUNT over the status-clustered drop folds O(files)
    * sidecar rows and reads zero data bytes — composing the q153
    * residual elimination with the q149 metadata answer. A sum that
    * would overflow the SQL result type refuses, falling back so
    * Spark's own overflow semantics apply.
    */
  private def q154MetadataSum(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClusteredDec,
      ordersByStatusDecJsonl(s, d))
      .filter(col("o_orderstatus") === "F")
      .agg(sum(col("o_totalprice")).as("__t"),
        sum(col("o_orderkey")).as("sum_key"),
        count(lit(1)).as("n_f"))
      .select(col("__t").cast("double").as("sum_price"),
        (col("__t") * 100).cast("long").as("sum_cents"),
        col("sum_key"), col("n_f"))

  /** GROUPED metadata-only aggregates — GROUP BY the clustering key over
    * the status-clustered drop: every group column is constant per file
    * (min == max in the sidecar), so the per-file stats fold by key
    * tuple into one answer row per group — the JDBC-style complete
    * GROUP BY pushdown, answered from metadata (parquet's aggregate
    * pushdown refuses grouped shapes outright). Zero data bytes at any
    * corpus size; a key that is not provably constant in some file
    * refuses to Spark's own grouped aggregate (spec-pinned).
    */
  private def q155GroupedMetadataAgg(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClusteredDec,
      ordersByStatusDecJsonl(s, d))
      .groupBy(col("o_orderstatus"))
      .agg(min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        sum(col("o_totalprice")).as("__t"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderstatus"),
        col("min_price").cast("double").as("min_price_d"),
        col("max_price").cast("double").as("max_price_d"),
        (col("__t") * 100).cast("long").as("sum_cents"),
        col("n_orders"))

  /** TOP-N zone pruning over the price-banded drop: `ORDER BY
    * o_totalprice DESC LIMIT 10` accumulates enough files, best-first by
    * their sidecar MINIMA, to guarantee 10 rows at-or-above a threshold,
    * then drops every file whose MAXIMUM is strictly below it — the top
    * band alone plans (PlanSpec pin). The archive-probe shape at 100 TB:
    * "latest/largest n" reads one band, not the corpus — the capability
    * parquet's row-group stats don't give Spark (no top-N file skipping
    * exists there), styled after Snowflake's top-k pruning.
    */
  private def q156TopNSkip(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersClusteredJsonl(s, d))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** TOP-N BLOCK pruning inside one sorted file: the same guarantee/
    * threshold construction at block granularity — `ORDER BY price DESC
    * LIMIT 5` over the single price-sorted file reads only its TAIL
    * blocks (PlanSpec pins planned bytes ≪ file bytes), the shape where
    * file-level stats are powerless.
    */
  private def q157TopNBlockSkip(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersSortedJsonl(s, d))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(5)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** DISTINCT from metadata — the group-only complete pushdown: a
    * pushed DISTINCT on the clustering key over the status-clustered
    * drop answers as the set of per-file constant keys straight from the
    * sidecar (every file's min == max IS its key) — zero data bytes, the
    * `SHOW PARTITIONS`-style catalog probe a JSONL drop otherwise pays a
    * full scan for.
    */
  private def q158MetadataDistinct(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClusteredDec,
      ordersByStatusDecJsonl(s, d))
      .select(col("o_orderstatus")).distinct()

  /** Metadata-only AVG — no engine change needed, the composition pays
    * off: Spark rewrites AVG to SUM + COUNT before pushdown, the scan's
    * metadata path answers the exact long SUM and COUNT from the sidecar
    * (filtered: the status files are zone-decidable), and the single
    * division happens above — one rounding, bit-identical to the
    * oracle's `CAST(SUM AS DOUBLE) / CAST(COUNT AS DOUBLE)`. Zero data
    * bytes read.
    */
  private def q159MetadataAvg(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClusteredDec,
      ordersByStatusDecJsonl(s, d))
      .filter(col("o_orderstatus") === "F")
      .agg(avg(col("o_orderkey")).as("avg_key"),
        count(lit(1)).as("n_f"))

  /** One hash-sharded, id-sorted, WRITE-TIME-INDEXED landing per (JVM,
    * sfDir): the [[graft.sink.CorpusSink.landJsonlIndexed]] producer
    * path. Each shard file is sorted on `o_orderkey` (the sink's
    * determinism contract), so the v3 sidecar records the per-file
    * `sorted` proof as a side effect of the landing — no extra pass.
    */
  private def ordersShardedJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#sharded", _ => {
      val dir = s"${Scratch.landing("graft_extjson_shard", s, d)}/orders"
      graft.sink.CorpusSink.landJsonlIndexed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")),
        "o_orderkey", dir, numShards = 6,
        zoneCols = Seq("o_orderkey", "o_totalprice"))
      dir
    })

  /** SORTEDNESS-AWARE scan — `ORDER BY key LIMIT n` over a drop whose
    * shards the sidecar PROVES sorted on the key: every split's reader
    * banks its first n kept rows and stops at the first key strictly
    * past the n-th (ties keep flowing), so the probe parses ~n rows per
    * shard instead of the corpus — the merge-read ORDER BY foundation,
    * and the ascending complement of q156/q157's top-N zone pruning
    * (which needs DISJOINT key bands; hash shards all span the full
    * range, so only the in-file order can help here). The unique sort
    * key keeps the row set oracle-deterministic (q156 convention).
    */
  private def q160SortedScan(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersShardedJsonl(s, d))
      .orderBy(col("o_orderkey").asc)
      .limit(20)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** The hive-layout drop read in STORAGE-PARTITIONED mode: the scan
    * reports identity KeyGroupedPartitioning over (status, py) and every
    * split carries its partition-value key.
    */
  private def readOrdersPartKeyed(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersPart, ordersPartJsonl(s, d),
      Map("partitionColumns" -> "status,py", "reportPartitioning" -> "true"))

  /** STORAGE-PARTITIONED join/aggregation — the Iceberg SPJ shape over
    * the JSONL lake: both branches GROUP BY the layout keys, so the
    * scan's reported KeyGroupedPartitioning satisfies their clustered
    * distributions straight from the `status=…/py=…` directories — the
    * whole plan runs with ZERO shuffle exchange (PlanSpec-pinned). At
    * 100 TB this is a layout lookup where the unpartitioned plan
    * shuffles the corpus twice and exchanges the join.
    */
  private def q161PartitionedJoin(s: SparkSession, d: String): DataFrame = {
    val counts = readOrdersPartKeyed(s, d)
      .groupBy(col("status"), col("py"))
      .agg(count(lit(1)).as("n_orders"))
    val sums = readOrdersPartKeyed(s, d)
      .groupBy(col("status"), col("py"))
      .agg(sum(col("o_custkey")).as("__s"))
      .select(col("status"), col("py"), col("__s").cast("long").as("sum_cust"))
    counts.join(sums, Seq("status", "py"))
      .select(col("status"), col("py"), col("n_orders"), col("sum_cust"))
  }

  /** One RANGE-BANDED sorted landing per (JVM, sfDir):
    * [[graft.sink.CorpusSink.landJsonlRangeIndexed]] — disjoint price
    * bands, each band one key-sorted file, block-level stats, sidecar
    * built in the landing call. The producer API for the layout q148–
    * q160 exploit piecewise.
    */
  private def ordersRangeLandedJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangeland", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgl", s, d)}/orders"
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")),
        "o_totalprice", dir, numBands = 8,
        zoneCols = Seq("o_totalprice", "o_orderkey"),
        // fine-grained blocks so even the sf0.001 band files (~12 KB)
        // carry several: the PlanSpec pin proves intra-band tail reads
        blockBytes = 2048L)
      dir
    })

  /** Top-N over the RANGE-LANDED drop — the q156/q157 capabilities from
    * a single producer call: `ORDER BY price DESC LIMIT 10` accumulates
    * the top band's guarantee and prunes every other band FILE, then
    * block stats inside the surviving band prune down to its tail
    * blocks (PlanSpec pins one file, partial bytes). Same oracle shape
    * as q156 — the layout is result-neutral by construction.
    */
  private def q162RangeLandedTopN(s: SparkSession, d: String): DataFrame =
    ordersRangeLandedSource(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** The raw range-landed source frame (q162–q164's input) — exposed so
    * the SQL-text ordered-scan plan pins can register it as a view.
    */
  private[graft] def ordersRangeLandedSource(s: SparkSession,
      d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersRangeLandedJsonl(s, d))

  /** One range-landed drop WITH a tagged append per (JVM, sfDir): the
    * base landing holds two thirds of orders, the appended batch the
    * rest — each landing computes its own percentile boundaries over its
    * own rows, so the appended bands OVERLAP the base ones (the
    * append-mostly corpus lifecycle that used to forfeit the
    * exchange-free ORDER BY).
    */
  private def ordersRangeAppendedJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangeappend", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rga", s, d)}/orders"
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        orders.filter(col("o_orderkey") % 3 =!= 0), "o_totalprice", dir,
        numBands = 4, zoneCols = Seq("o_totalprice", "o_orderkey"))
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        orders.filter(col("o_orderkey") % 3 === 0), "o_totalprice", dir,
        numBands = 4, zoneCols = Seq("o_totalprice", "o_orderkey"),
        appendTag = Some("b2"))
      dir
    })

  /** MERGE-READ global ORDER BY over the APPENDED range landing — the
    * append-lifecycle rung of q163: the appended batch's bands overlap
    * the base's, so the planner coalesces overlapping files into
    * strictly-disjoint GROUPS and k-way heap-merges each group's proven
    * sorted streams at read time ([[graft.plans.OrderedBandScanExec]]) —
    * still NO SortExec, NO range Exchange (PlanSpec pins a merged group
    * and the global collect order). At 100 TB an append-mostly corpus
    * keeps the exchange-free sort without periodic re-lands.
    */
  private def q165MergeReadOrderBy(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersRangeAppendedJsonl(s, d))
      .orderBy(col("o_totalprice"))
      .select(col("o_orderkey"), col("o_totalprice"))

  /** EXCHANGE-FREE global ORDER BY — the planner rung over the q162
    * layout: the sidecar proves the range-landed drop's bands strictly
    * disjoint and internally sorted, so
    * [[graft.plans.OrderedScanStrategy]] replaces the global sort with
    * [[graft.plans.OrderedBandScanExec]] — one sequential reader per
    * band, NO SortExec, NO range Exchange (PlanSpec-pinned; at 100 TB
    * the sort's shuffle is the materialization's entire cost). The
    * oracle checks the row SET (the driver's compare is order-free);
    * the ordering guarantee itself is spec-pinned, the q147 precedent
    * for plan-level claims.
    */
  private def q163OrderedScan(s: SparkSession, d: String): DataFrame =
    ordersRangeLandedSource(s, d)
      .orderBy(col("o_totalprice"))
      .select(col("o_orderkey"), col("o_totalprice"))

  /** The DESC form of q163: bands read in REVERSE key order with a
    * per-band LOCAL sort (memory-bounded by the band, shuffle-free) —
    * the range Exchange, a 100 TB sort's dominant cost, is gone in
    * every accepted shape; only the single-ASC-key form drops the
    * comparator too. PlanSpec pins local-only SortExec + zero Exchange.
    */
  private def q164OrderedScanDesc(s: SparkSession, d: String): DataFrame =
    ordersRangeLandedSource(s, d)
      .orderBy(col("o_totalprice").desc)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** A STRING-keyed range landing: the synthetic ObjectId hex rendering
    * of the order key — fixed-width, so lexicographic order equals
    * numeric order and the oracle can state it portably.
    */
  private val decodedOrdersOid = StructType(Seq(
    StructField("oid", StringType),
    StructField("o_totalprice", DoubleType)))

  /** Test hook: the oid landing's directory (PlanSpec pins the
    * metadata-prefix path over the landed column itself).
    */
  private[graft] def oidLandingDir(s: SparkSession, d: String): String =
    ordersOidRangeJsonl(s, d)

  private def ordersOidRangeJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangeoid", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgo", s, d)}/orders"
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        Tables.orders(s, d).select(
          lower(lpad(hex(col("o_orderkey")), 24, "0")).as("oid"),
          col("o_totalprice")),
        "oid", dir, numBands = 6, zoneCols = Seq("oid"))
      dir
    })

  /** STRING-key exchange-free ORDER BY — the q163 rung on a
    * lexicographic key (the reference's own id-like sort target):
    * [[graft.sink.CorpusSink.landJsonlRangeIndexed]] bands through the
    * column's OWN ordering (binary UTF8 — the same comparator the
    * sidecar's sorted proofs use), so the planner gets disjoint sorted
    * string bands and the global sort costs neither a SortExec nor an
    * Exchange (PlanSpec-pinned).
    */
  private def q166StringOrderedScan(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .orderBy(col("oid"))
      .select(col("oid"), col("o_totalprice"))

  /** CO-RANGE-LANDED fact/detail pair: orders and lineitem landed by
    * their shared order key with the SAME explicit boundaries (even cuts
    * of the dense key domain — fully deterministic), so the two drops'
    * bands align pairwise. The producer side of the range merge join.
    */
  private val decodedOrdersRj = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_totalprice", DoubleType)))

  private val decodedLineitemRj = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", LongType),
    StructField("l_quantity", DoubleType)))

  private def rangeJoinBase(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangejoin", _ => {
      val base = Scratch.landing("graft_extjson_rgj", s, d)
      val orders = Tables.orders(s, d)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val bounds = Some((1 to 4).map(i => maxKey * i / 5): Seq[Any])
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        orders.select(col("o_orderkey"), col("o_totalprice")),
        "o_orderkey", s"$base/orders", numBands = 5,
        zoneCols = Seq("o_orderkey"), bounds = bounds)
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        Tables.lineitem(s, d).select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity")),
        "l_orderkey", s"$base/lineitem", numBands = 5,
        zoneCols = Seq("l_orderkey"), bounds = bounds)
      base
    })

  /** RANGE MERGE JOIN — the zero-exchange, zero-sort equi-join over the
    * co-range-landed pair ([[graft.plans.RangeMergeJoinStrategy]]): both
    * sidecars prove sorted disjoint bands on the join key, the bands
    * align by construction (shared `bounds`), and each of the 5 join
    * partitions streams a merge join over exactly its key range's files.
    * At 100 TB the ordinary plan shuffles AND sorts both corpora; this
    * plan reads each side once, in place, already ordered — q161's
    * storage-partitioned join, rebuilt for the range layout
    * (PlanSpec pins the exec, band parallelism, zero Exchange/Sort).
    */
  private def q167RangeMergeJoin(s: SparkSession, d: String): DataFrame = {
    val base = rangeJoinBase(s, d)
    val o = ExtendedJson.read(s, decodedOrdersRj, s"$base/orders")
    val li = ExtendedJson.read(s, decodedLineitemRj, s"$base/lineitem")
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("l_linenumber"), col("l_quantity"))
  }

  /** A "contamination" drop co-banded with the orders side of
    * [[rangeJoinBase]]: every 7th order key, landed by the SAME
    * deterministic boundaries — the benchmark-key drop a decontamination
    * pass anti-joins against.
    */
  private val decodedContamRj = StructType(Seq(
    StructField("ck", LongType)))

  private def contamJoinDir(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangecontam", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgc", s, d)}/contam"
      val orders = Tables.orders(s, d)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val bounds = Some((1 to 4).map(i => maxKey * i / 5): Seq[Any])
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey").as("ck")),
        "ck", dir, numBands = 5, zoneCols = Seq("ck"), bounds = bounds)
      dir
    })

  private val decodedDiffRj = StructType(Seq(
    StructField("dk", LongType)))

  /** The SNAPSHOT-DIFF side: every third order key plus 50 keys BEYOND
    * the orders drop's range — so a full outer join has matched,
    * left-only, and right-only rows, including a whole right-only band
    * component past the left side's last band. Co-banded with the
    * orders drop (same bounds).
    */
  private def diffJoinDir(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangediff", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgd", s, d)}/diff"
      val orders = Tables.orders(s, d)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val bounds = Some((1 to 4).map(i => maxKey * i / 5): Seq[Any])
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        orders.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey").as("dk"))
          .union(s.range(1, 51).select((lit(maxKey) + col("id")).as("dk"))),
        "dk", dir, numBands = 5, zoneCols = Seq("dk"), bounds = bounds)
      dir
    })

  /** FULL OUTER range merge — the SNAPSHOT DIFF at scale: matched,
    * left-only (dropped), and right-only (added) keys in ONE streamed
    * pass over two co-banded drops, zero exchange, zero sort
    * ([[graft.plans.RangeMergeJoinStrategy]] — the ordinary plan
    * shuffles AND sorts both corpora). Right-only rows carry a null
    * left key, so the exec honestly drops its ordering/partitioning
    * claims; the diff itself needs neither.
    */
  private def q193RangeMergeFullOuter(s: SparkSession, d: String): DataFrame = {
    val base = rangeJoinBase(s, d)
    val o = ExtendedJson.read(s, decodedOrdersRj, s"$base/orders")
    val dd = ExtendedJson.read(s, decodedDiffRj, diffJoinDir(s, d))
    o.join(dd, o("o_orderkey") === dd("dk"), "full_outer")
      .select(col("o_orderkey"), col("o_totalprice"), col("dk"))
  }

  /** RIGHT OUTER range merge — `a RIGHT JOIN b` on two co-banded drops:
    * planned as the MIRRORED left outer (the preserved diff side streams
    * as the merge base, ordered and range-partitioned on ITS key) with a
    * final row-local projection back to the declared attribute order —
    * still zero exchange, zero sort
    * ([[graft.plans.RangeMergeJoinStrategy]]). The diff drop's 50
    * beyond-range keys exercise the null-extended (match-less right)
    * rows, including a whole right-only band component.
    */
  private def q198RangeMergeRightOuter(s: SparkSession, d: String): DataFrame = {
    val base = rangeJoinBase(s, d)
    val o = ExtendedJson.read(s, decodedOrdersRj, s"$base/orders")
    val dd = ExtendedJson.read(s, decodedDiffRj, diffJoinDir(s, d))
    o.join(dd, o("o_orderkey") === dd("dk"), "right_outer")
      .select(col("o_orderkey"), col("o_totalprice"), col("dk"))
  }

  /** The lineitem side of the co-banded join family — exposed so
    * SQL-text plan pins can register it as a view.
    */
  private[graft] def rangeJoinLineitemSide(s: SparkSession,
      d: String): DataFrame =
    ExtendedJson.read(s, decodedLineitemRj, s"${rangeJoinBase(s, d)}/lineitem")

  private[graft] def rangeJoinSides(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val o = ExtendedJson.read(s, decodedOrdersRj,
      s"${rangeJoinBase(s, d)}/orders")
    val c = ExtendedJson.read(s, decodedContamRj, contamJoinDir(s, d))
    (o, c)
  }

  /** RANGE MERGE ANTI-JOIN — decontamination as a layout lookup: "drop
    * every order whose key appears in the contamination drop" plans as
    * the zero-exchange streamed merge with NO run buffering at all (the
    * existence probe never copies a row). Left-only key ranges are kept
    * as right-empty partitions — their rows are exactly the clean
    * output. At 100 TB this is THE decontamination shape, paid today as
    * a full shuffle of the corpus.
    */
  private def q168RangeMergeAnti(s: SparkSession, d: String): DataFrame = {
    val (o, c) = rangeJoinSides(s, d)
    o.join(c, o("o_orderkey") === c("ck"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** The SEMI twin of q168: "keep only benchmark-listed keys" — same
    * zero-copy existence merge, opposite verdict.
    */
  private def q169RangeMergeSemi(s: SparkSession, d: String): DataFrame = {
    val (o, c) = rangeJoinSides(s, d)
    o.join(c, o("o_orderkey") === c("ck"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** LEFT OUTER over the co-banded pair: match-less left rows emit with
    * a null right side (left-only components ride as right-empty
    * partitions), matched rows emit the inner rows — still zero
    * exchange, zero sort.
    */
  private def q170RangeMergeOuter(s: SparkSession, d: String): DataFrame = {
    val (o, c) = rangeJoinSides(s, d)
    o.join(c, o("o_orderkey") === c("ck"), "left_outer")
      .select(col("o_orderkey"), col("o_totalprice"), col("ck"))
  }

  /** A DAY-keyed range landing — the time-series layout: orders keyed by
    * days-since-epoch, landed as disjoint sorted date bands.
    */
  private val decodedOrdersDay = StructType(Seq(
    StructField("o_day", IntegerType),
    StructField("o_custkey", LongType)))

  /** The day-banded source frame (q171/q174/q179/q182's input) — exposed
    * so SQL-text plan pins can register it as a view (an INT band key:
    * float keys arrive normalization-wrapped in window partition specs
    * and correctly fall through).
    */
  private[graft] def ordersDayRangeSource(s: SparkSession,
      d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d))

  private def ordersDayRangeJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangeday", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgd", s, d)}/orders"
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        Tables.orders(s, d).select(
          datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            .as("o_day"),
          col("o_custkey")),
        "o_day", dir, numBands = 8, zoneCols = Seq("o_day"))
      dir
    })

  /** EXCHANGE-FREE daily rollup — [[graft.plans.RangeAggStrategy]] over
    * the day-banded landing: `GROUP BY o_day` runs partial+final
    * aggregation in ONE stage over the band partitions (equal days never
    * straddle bands), with NO shuffle anywhere in the plan
    * (PlanSpec-pinned). At 100 TB the rollup's aggregation exchange —
    * its entire post-scan cost — is a layout property, like q161's
    * storage-partitioned aggregation but for a CONTINUOUS key the hive
    * layout can't encode.
    */
  private def q171RangeAggRollup(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d),
      Map("rangeAggregation" -> "true"))
      .groupBy(col("o_day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_custkey")).as("__s"))
      .select(col("o_day"), col("n_orders"),
        col("__s").cast("long").as("sum_cust"))

  /** EXCHANGE-FREE global running window — the single-partition-collapse
    * rung ([[graft.plans.RangeWindowStrategy]]): `rank()`, running
    * `COUNT(*)` and running `SUM` over `ORDER BY o_totalprice` with no
    * `PARTITION BY` — the shape Spark's WindowExec funnels through ONE
    * partition (at 100 TB: cannot run) — decompose over the range-landed
    * bands into per-band local running aggregation plus a per-band
    * prefix. Here every prefix total (row counts, the exact long sum of
    * the indexed o_orderkey) comes straight from the SIDECAR
    * (`prefix=metadata`, PlanSpec-pinned): the window plans with zero
    * exchange and ZERO extra passes. Ties share rank/count/sum values
    * (RANGE frame), so the result is deterministic and oracle-checkable.
    */
  private def q172RangeRunningWindow(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("o_totalprice"))
    ordersRangeLandedSource(s, d)
      .select(col("o_orderkey"), col("o_totalprice"),
        rank().over(w).as("rk"),
        count(lit(1)).over(w).as("run_n"),
        sum(col("o_orderkey")).over(w).as("run_key"))
  }

  /** The COMPUTED-prefix twin of q172 over the string-keyed landing:
    * `row_number()` and a running `MAX` of the UNINDEXED o_totalprice —
    * the sidecar cannot supply that prefix, so the exec runs ONE narrow
    * totals pass (per-band counts and maxes to the driver — the
    * zipWithIndex shape) and still never exchanges. The unique oid key
    * makes row_number deterministic.
    */
  private def q173RangeRowNumber(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("oid"))
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        max(col("o_totalprice")).over(w).as("run_max"))
  }

  /** EXCHANGE-FREE distinct rollup — `COUNT(DISTINCT custkey) GROUP BY
    * day` over the day-banded landing: Spark's four-exec distinct
    * pipeline ordinarily pays TWO exchanges (cluster on (day, custkey),
    * then on day); the band layout satisfies both clustered
    * distributions at once — equal days, hence equal (day, custkey)
    * pairs, never straddle bands — so
    * [[graft.plans.RangeAggStrategy]] plans the whole pipeline over the
    * band partitions with zero shuffle (PlanSpec-pinned), mixed with a
    * plain COUNT in the same aggregation. The daily-unique-users rollup
    * at 100 TB as a pure layout property.
    */
  private def q174RangeDistinctRollup(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d),
      Map("rangeAggregation" -> "true"))
      .groupBy(col("o_day"))
      .agg(countDistinct(col("o_custkey")).as("nd_cust"),
        count(lit(1)).as("n_orders"))
      .select(col("o_day"), col("nd_cust"), col("n_orders"))

  /** The APPENDED landing compacted once per (JVM, sfDir):
    * [[graft.sink.CorpusSink.compactRangeIndexed]] folds the overlapping
    * per-batch bands back to one-file-per-group disjoint layout through
    * the exchange-free merge read — no range shuffle, no sort, no
    * boundary-sample job, just one read + one write + the sidecar build.
    */
  private def ordersRangeCompactedJsonl(s: SparkSession, d: String): String = {
    // resolve the source landing BEFORE entering computeIfAbsent: a
    // builder nested inside another builder's mapping function is a
    // recursive update on the shared cache map (ConcurrentHashMap throws)
    val srcDir = ordersRangeAppendedJsonl(s, d)
    built.computeIfAbsent(s"$d#rangecompact", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgk", s, d)}/orders"
      graft.sink.CorpusSink.compactRangeIndexed(s, decodedOrdersClustered,
        srcDir, dir, "o_totalprice",
        zoneCols = Seq("o_totalprice", "o_orderkey"))
      dir
    })
  }

  /** ORDER BY over the COMPACTED drop — the maintenance rung closing the
    * append lifecycle: q165's overlapping landing, folded back to plain
    * disjoint bands by the zero-shuffle compaction, plans the
    * sequential-read exchange-free ordered scan again (PlanSpec pins
    * one-file groups, zero merge, zero Exchange/Sort). land → append →
    * merge-read → compact → plain bands: the full 100 TB corpus
    * lifecycle, every step shuffle-free.
    */
  private def q175RangeCompactedScan(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered,
      ordersRangeCompactedJsonl(s, d))
      .orderBy(col("o_totalprice"))
      .select(col("o_orderkey"), col("o_totalprice"))

  /** EXACT global quantiles as a LAYOUT LOOKUP
    * ([[graft.ops.Quantiles.layoutQuantiles]]): the sidecar's per-band
    * row counts locate the band holding each requested global position,
    * a zone-pruned filter plans exactly that band's ONE file, and the
    * exchange-free running window picks the row — four quantiles read
    * four bands of eight, with NO global sort, NO shuffle, NO sketch
    * (PlanSpec pins one file per branch). The exact-quantile answer
    * `approx_percentile` only approximates, at a fraction of one scan.
    */
  private def q176RangeQuantiles(s: SparkSession, d: String): DataFrame =
    graft.ops.Quantiles.layoutQuantiles(ordersRangeLandedSource(s, d),
      "o_totalprice", Seq(0.25, 0.5, 0.75, 0.99))

  private val asofLeftSchema = StructType(Seq(
    StructField("o_orderkey", LongType)))
  private val asofRightSchema = StructType(Seq(
    StructField("rate", DoubleType)))

  /** The as-of LAYOUT landing: order events and a SPARSE reference
    * series (a "rate" snapshot on every 7th day) interleaved into one
    * day-banded drop ([[graft.ops.AsOfJoin.landAsOfLayout]]) — reference
    * rows sort before events at equal days, so the carry boundary is
    * inclusive.
    */
  private def ordersAsOfLayoutJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#asoflayout", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rga2", s, d)}/orders"
      val days = Tables.orders(s, d).select(
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .as("o_day"),
        col("o_orderkey"))
      val snaps = days.select(col("o_day")).filter(col("o_day") % 7 === 0)
        .distinct()
        .select(col("o_day"), (col("o_day") * 2.0).as("rate"))
      graft.ops.AsOfJoin.landAsOfLayout(
        days.select(col("o_day"), col("o_orderkey")), "o_day",
        snaps, "o_day", dir, numBands = 8)
      dir
    })

  /** EXCHANGE-FREE as-of join — the time-series enrichment rung
    * ([[graft.ops.AsOfJoin.layoutAsOf]]): every order carries the most
    * recent reference rate at-or-before its day, answered as ONE running
    * `last(rate, ignoreNulls)` carry over the time-banded layout — the
    * band window strategy plans it with zero exchange (per-band local
    * carry + one narrow sorted prefix pass), where the windowed-union
    * form (q45) pays a full hash shuffle and the naive join form an
    * O(pairs) blowup. Orders before the first snapshot carry null (the
    * LEFT as-of form — the oracle's correlated max reproduces it
    * exactly).
    */
  private def q177RangeAsOf(s: SparkSession, d: String): DataFrame =
    graft.ops.AsOfJoin.layoutAsOf(s, ordersAsOfLayoutJsonl(s, d),
      asofLeftSchema, asofRightSchema, IntegerType)
      .select(col("o_orderkey"), col("asof_t").as("o_day"), col("rate"))

  /** GLOBAL delta — `lag(x, 1) OVER (ORDER BY key)` with no PARTITION BY,
    * the time-series step shape: the previous row's value crosses band
    * boundaries via the preceding band's last-row prefix
    * ([[graft.plans.RunningWindow.Pos]]), zero exchange. The unique
    * oid key makes the pairing deterministic and oracle-checkable.
    */
  private def q178RangeLag(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("oid"))
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"))
  }

  /** PARTITIONED window over the band key — Spark's OWN WindowExec at
    * FULL generality (any function, any frame) with zero exchange: the
    * band layout's partitioning claim satisfies the window's clustered
    * distribution (equal days never straddle bands), so only the local
    * per-band sort remains. The per-key time-series analytics shape —
    * per-day ranks, totals, running counts — as a layout property
    * (PlanSpec pins WindowExec over the band scan, zero Exchange).
    */
  private def q179RangePartWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy(col("o_day"))
    val wo = wp.orderBy(col("o_custkey"))
    ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d))
      .select(col("o_day"), col("o_custkey"),
        rank().over(wo).as("rk"),
        count(lit(1)).over(wo).as("run_n"),
        sum(col("o_custkey")).over(wp).cast("long").as("day_sum"))
  }

  private val keyedAsofLeftSchema = StructType(Seq(
    StructField("o_orderkey", LongType)))
  private val keyedAsofRightSchema = StructType(Seq(
    StructField("rate", DoubleType)))

  /** The KEYED as-of layout: per-customer order events and per-customer
    * sparse snapshots (each customer's order days divisible by 7),
    * interleaved into ONE custkey-banded landing.
    */
  private def ordersKeyedAsOfJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#keyedasof", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rga3", s, d)}/orders"
      val o = Tables.orders(s, d).select(col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .as("o_day"),
        col("o_orderkey"))
      val snaps = o.filter(col("o_day") % 7 === 0)
        .select(col("o_custkey"), col("o_day").as("snap_day")).distinct()
        .select(col("o_custkey"), col("snap_day"),
          (col("snap_day") * 2.0).as("rate"))
      graft.ops.AsOfJoin.landKeyedAsOfLayout(o, "o_day", snaps,
        "snap_day", "o_custkey", dir, numBands = 8)
      dir
    })

  /** KEYED as-of join — the reference q45 shape with ZERO exchange
    * ([[graft.ops.AsOfJoin.layoutKeyedAsOf]]): each order carries its
    * customer's most recent snapshot rate at-or-before its day, as one
    * per-key carry window over the custkey-banded layout (Spark's own
    * WindowExec over the band scan — PlanSpec pins zero Exchange and no
    * join operator). The windowed-union form pays a full hash shuffle;
    * the naive join form an O(pairs) blowup per key.
    */
  private def q180RangeKeyedAsOf(s: SparkSession, d: String): DataFrame =
    graft.ops.AsOfJoin.layoutKeyedAsOf(s, ordersKeyedAsOfJsonl(s, d),
      "o_custkey", LongType, keyedAsofLeftSchema, keyedAsofRightSchema,
      IntegerType)
      .select(col("o_orderkey"), col("o_custkey"),
        col("asof_t").as("o_day"), col("rate"))

  /** VALUE-FRAME window over the KEYED AS-OF layout — q180's carried
    * snapshot rate with a per-customer 7-DAY rolling mean on top
    * (`PARTITION BY custkey ORDER BY day RANGE 6 PRECEDING`): the
    * as-of carry plans as Spark's own WindowExec over the
    * custkey-banded scan (the layout claim satisfies its clustering),
    * and the second window's clustering is satisfied by the FIRST
    * WindowExec's preserved partitioning — two windows, zero exchange
    * end-to-end (PlanSpec pins it). The enrich-then-smooth shape every
    * feature pipeline runs after an as-of join, as a pure layout
    * property. The rate is integer-valued (snap_day × 2) and rides as
    * a long; the avg divides sum/count per the house rule.
    */
  private def q210RangeAsofValueWindow(s: SparkSession, d: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.ops.AsOfJoin.layoutKeyedAsOf(s,
      ordersKeyedAsOfJsonl(s, d), "o_custkey", LongType,
      keyedAsofLeftSchema, keyedAsofRightSchema, IntegerType)
      .select(col("o_orderkey"), col("o_custkey"),
        col("asof_t").as("o_day"), col("rate").cast("long").as("rate_l"))
    val wv = Window.partitionBy(col("o_custkey")).orderBy(col("o_day"))
      .rangeBetween(-6, Window.currentRow)
    base.select(col("o_orderkey"), col("o_custkey"), col("o_day"),
      col("rate_l"),
      sum(col("rate_l")).over(wv).as("r7_sum"),
      count(col("rate_l")).over(wv).as("r7_n"))
      .withColumn("r7_avg", col("r7_sum").cast("double") / col("r7_n"))
  }

  private val decodedPromos = StructType(Seq(
    StructField("ps", IntegerType), StructField("pe", IntegerType),
    StructField("promo_id", LongType)))

  /** The PROMO-WINDOW landing: 5-day promotional windows anchored at
    * every 11th day of the order calendar, banded on their start day
    * with the end day zone-indexed alongside — the interval side of
    * the overlap join (the sidecar's per-file (start, end) spans are
    * what prove the bounded sweep).
    */
  private def promoRangeJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangepromo", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgpr", s, d)}/promos"
      val promos = Tables.orders(s, d)
        .select(datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01"))).as("o_day"))
        .filter(col("o_day") % 11 === 0).distinct()
        .select(col("o_day").as("ps"),
          (col("o_day") + lit(4)).as("pe"),
          expr("CAST(o_day DIV 11 AS BIGINT)").as("promo_id"))
      graft.sink.CorpusSink.landJsonlRangeIndexed(promos, "ps", dir,
        numBands = 6, zoneCols = Seq("ps", "pe"))
      dir
    })

  /** INTERVAL-OVERLAP join — `promo.ps <= o_day AND o_day <= promo.pe`
    * (which orders landed inside which promotional window): the
    * non-equi containment join Spark can only nested-loop, planned as
    * the bounded one-pass SWEEP over the two range landings
    * ([[graft.plans.RangeIntervalJoinStrategy]]): each points band
    * streams once in day order, intervals admit as their start passes
    * the current day and retire as their end falls behind it — the
    * active set is plan-bounded from the sidecar's per-file
    * (start, end) spans and cap-guarded at runtime. Zero exchange,
    * zero sort; output keeps the day ordering and range-partitioning
    * claims, so windows and aggregates compose on top.
    */
  private def q211RangeIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val p = ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d))
    val iv = ExtendedJson.read(s, decodedPromos, promoRangeJsonl(s, d))
    p.join(iv, iv("ps") <= p("o_day") && p("o_day") <= iv("pe"))
      .select(col("o_day"), col("o_custkey"), col("ps"), col("pe"),
        col("promo_id"))
  }

  /** LEFT-OUTER interval-overlap join — label EVERY order with its
    * containing promo window or NULL (the enrichment twin of q211):
    * the points side is preserved, match-less days emit null-extended
    * from the same bounded sweep, and the output keeps the day
    * ordering/partitioning claims. The every-row-labeled shape a
    * curation pipeline writes back.
    */
  private def q212RangeIntervalLabel(s: SparkSession, d: String)
      : DataFrame = {
    val p = ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d))
    val iv = ExtendedJson.read(s, decodedPromos, promoRangeJsonl(s, d))
    p.join(iv, iv("ps") <= p("o_day") && p("o_day") <= iv("pe"),
      "left_outer")
      .select(col("o_day"), col("o_custkey"), col("promo_id"))
  }

  /** RUNNING WINDOW over the INTERVAL-SWEEP join — q212's labeled
    * stream with a running promo-exposure counter on top
    * (`count(promo_id) OVER (ORDER BY o_day)` — "how many
    * promo-covered orders so far"): the sweep exec claims ordering +
    * RangePartitioning on the point key, and the band window strategy
    * accepts it as its ordered child exactly as it accepts the merge
    * chain — per-partition local running aggregation plus computed
    * prefixes, zero exchange end-to-end (previously this shape
    * re-collapsed the sweep's stream into one partition).
    */
  private def q213RangeIntervalWindow(s: SparkSession, d: String)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("o_day"))
    val p = ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d))
    val iv = ExtendedJson.read(s, decodedPromos, promoRangeJsonl(s, d))
    p.join(iv, iv("ps") <= p("o_day") && p("o_day") <= iv("pe"),
      "left_outer")
      .select(col("o_day"), col("o_custkey"), col("promo_id"))
      .select(col("o_day"), col("o_custkey"), col("promo_id"),
        count(col("promo_id")).over(w).as("promo_seen"),
        count(lit(1)).over(w).as("seen"))
  }

  /** The GLOBAL size-based rank family — `percent_rank`, `cume_dist`,
    * `ntile` with no PARTITION BY: all divide by the global row count N,
    * which the sidecar supplies for free, so the whole family plans as
    * the exchange-free band window with a metadata prefix (zero extra
    * passes — PlanSpec pins `prefix=metadata`). Quantile bucketing of an
    * entire corpus by a sort key — the quality-percentile labeling shape
    * — at metadata cost.
    */
  private def q181RangeRankFamily(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("oid"))
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(7).over(w).as("nt"))
  }

  /** GLOBAL `dense_rank` — the one rank-family member whose prefix is a
    * DISTINCT count: each band's distinct-key count rides the
    * computed-totals pass (strict disjointness makes the counts
    * additive — no key straddles a band boundary), and the day column's
    * heavy duplication makes dense ranks genuinely diverge from ranks.
    */
  private def q182RangeDenseRank(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("o_day"))
    ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d))
      .select(col("o_day"), col("o_custkey"),
        dense_rank().over(w).as("dr"))
  }

  /** GROUP-TOP-N over the band key — the best-k-rows-per-group curation
    * shape (`rank() OVER (PARTITION BY day ORDER BY x) <= 2`):
    * InferWindowGroupLimit inserts a WindowGroupLimit under the window,
    * and the band strategy re-stages it as the FINAL-mode exec over the
    * band scan — per-group limiting, rank evaluation, and the filter
    * all run exchange-free on the layout's clustering (PlanSpec pins
    * WindowGroupLimitExec + zero Exchange). At 100 TB: top-k documents
    * per domain/day without the hash shuffle that is otherwise the
    * entire cost.
    */
  private def q189RangeGroupTopN(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_day")).orderBy(col("o_custkey"))
    ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d))
      .select(col("o_day"), col("o_custkey"), rank().over(w).as("rk"))
      .filter(col("rk") <= 2)
  }

  /** Its OWN appended landing (q165's shared dir must keep its decayed
    * layout for the merge-read queries), folded IN PLACE once per
    * (JVM, sfDir) — same path before and after.
    */
  private def ordersRangeInPlaceJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangeinplace", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgq", s, d)}/orders"
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        orders.filter(col("o_orderkey") % 3 =!= 0), "o_totalprice", dir,
        numBands = 4, zoneCols = Seq("o_totalprice", "o_orderkey"))
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        orders.filter(col("o_orderkey") % 3 === 0), "o_totalprice", dir,
        numBands = 4, zoneCols = Seq("o_totalprice", "o_orderkey"),
        appendTag = Some("b2"))
      graft.sink.CorpusSink.compactRangeIndexedInPlace(s,
        decodedOrdersClustered, dir, "o_totalprice",
        zoneCols = Seq("o_totalprice", "o_orderkey"))
      dir
    })

  /** ORDER BY over the IN-PLACE compacted drop — q175's maintenance rung
    * without the path migration
    * ([[graft.sink.CorpusSink.compactRangeIndexedInPlace]]): the
    * appended overlapping bands fold back to plain disjoint files
    * INSIDE the same directory under a crash-idempotent covered-files
    * manifest, and the ordered read at the unchanged path plans the
    * sequential exchange-free band scan again (PlanSpec pins one-file
    * groups, zero Exchange/Sort). At 100 TB: maintenance that no
    * consumer has to know happened.
    */
  private def q188RangeInPlaceCompactedScan(s: SparkSession,
      d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersClustered, ordersRangeInPlaceJsonl(s, d))
      .orderBy(col("o_totalprice"))
      .select(col("o_orderkey"), col("o_totalprice"))

  /** METADATA-ONLY COUNT(DISTINCT key) — the v4 sidecar's exact
    * per-file distinct counts (one comparison per row the sorted proof
    * already pays, recorded at landing time) fold across the range
    * layout's strictly-disjoint bands: counts add, minus one per
    * adjacent pair sharing a boundary value. The cardinality probe
    * every corpus profile runs — `COUNT(DISTINCT day)`, `COUNT(*)` —
    * answers from O(files) sidecar rows with ZERO data bytes read at
    * any corpus size, where the ordinary plan pays a full scan plus a
    * distinct shuffle.
    */
  private def q187MetadataDistinctCount(s: SparkSession,
      d: String): DataFrame =
    ordersDayRangeSource(s, d)
      .agg(countDistinct(col("o_day")).as("nd_day"),
        count(lit(1)).as("n_rows"))

  /** SLIDING frames, running AVG, and LEAD — the realistic time-series
    * shapes over the range layout ([[graft.plans.RangeWindowStrategy]]):
    * the 7-row sliding mean/min/sum (`ROWS BETWEEN 6 PRECEDING AND
    * CURRENT ROW` — per-band prefix = the previous bands' last 6
    * values), the cumulative mean, and `lead(v, 1)` (the only
    * backward-flowing carry: each band's last row reads the NEXT band's
    * first value) — all exchange-free where Spark's WindowExec funnels
    * the corpus through ONE partition. The value column is integer
    * cents, so every double fold is exact and engine-identical.
    */
  private def q186RangeSlidingLead(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("oid"))
    val ws = w.rowsBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .select(col("oid"), col("v"),
        avg(col("v")).over(ws).as("sl_avg"),
        min(col("v")).over(ws).as("sl_min"),
        sum(col("v")).over(ws).as("sl_sum"),
        avg(col("v")).over(w).as("run_avg"),
        lead(col("v"), 1).over(w).as("next_v"))
  }

  private val decodedOrdersDate = StructType(Seq(
    StructField("o_orderdate", DateType),
    StructField("o_custkey", LongType)))

  /** The DATE-banded landing: the same orders stream banded on the raw
    * `o_orderdate` DATE column (not a derived day int) — the layout a
    * time-series user lands without thinking about internal day
    * numbers.
    */
  private def ordersDateRangeJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangedate", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgdt", s, d)}/orders"
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        Tables.orders(s, d).select(
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_custkey")),
        "o_orderdate", dir, numBands = 8, zoneCols = Seq("o_orderdate"))
      dir
    })

  /** CALENDAR RANGE frame over a raw DATE key — `RANGE BETWEEN INTERVAL
    * '6' DAY PRECEDING AND CURRENT ROW` is the exact SQL a time-series
    * user writes over a date column: the whole-day interval boundary
    * converts to the date key's own day units and the frame evicts by
    * day distance, zero exchange
    * ([[graft.plans.RunningWindow.Frame]]). Output projects
    * the day int (never a raw DATE in an oracle-checked result — the
    * house tz rule).
    */
  private def q195RangeDateInterval(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersDate, ordersDateRangeJsonl(s, d))
      .select(col("o_orderdate"), col("o_custkey"),
        expr("CAST(sum(o_custkey) OVER (ORDER BY o_orderdate " +
          "RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW) " +
          "AS BIGINT)").as("w7_sum"),
        expr("count(*) OVER (ORDER BY o_orderdate " +
          "RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW)")
          .as("w7_n"))
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .as("o_day"), col("o_custkey"), col("w7_sum"), col("w7_n"))

  /** CALENDAR MONTH RANGE frame — `RANGE BETWEEN INTERVAL '3' MONTH
    * PRECEDING AND CURRENT ROW` over the raw-DATE-banded landing: the
    * single most common business-calendar window (the 3-month rolling
    * mean). Month distance is monotone in the key — the frame bound is
    * `add_months(current, -3)` with Spark's month-end clamping, so the
    * live-pair buffer evicts by the per-row calendar bound, zero
    * exchange ([[graft.plans.RunningWindow.Frame]] with
    * [[graft.plans.RunningWindow.Months]]). The avg rides as
    * sum/count per the house oracle rule.
    */
  private def q199RangeMonthInterval(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersDate, ordersDateRangeJsonl(s, d))
      .select(col("o_orderdate"), col("o_custkey"),
        expr("CAST(sum(o_custkey) OVER (ORDER BY o_orderdate " +
          "RANGE BETWEEN INTERVAL '3' MONTH PRECEDING AND CURRENT ROW) " +
          "AS BIGINT)").as("m3_sum"),
        expr("count(*) OVER (ORDER BY o_orderdate " +
          "RANGE BETWEEN INTERVAL '3' MONTH PRECEDING AND CURRENT ROW)")
          .as("m3_n"))
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .as("o_day"), col("o_custkey"), col("m3_sum"), col("m3_n"))
      .withColumn("m3_avg", col("m3_sum").cast("double") / col("m3_n"))

  /** DUAL-BOUND value frame — `RANGE BETWEEN 13 PRECEDING AND 7
    * PRECEDING` over the day-banded landing: the LAGGED window ("the
    * week ending 7 days ago" — the baseline a week-over-week comparison
    * divides by). One eviction bound (13) plus one admission bound (7)
    * on the same live buffer, zero exchange; empty frames (no orders in
    * the lagged week) emit NULL sums and zero counts, SQL's semantics.
    */
  private def q200RangeLaggedWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wl = Window.orderBy(col("o_day")).rangeBetween(-13, -7)
    ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d))
      .select(col("o_day"), col("o_custkey"),
        sum(col("o_custkey")).over(wl).as("lag7_sum"),
        count(lit(1)).over(wl).as("lag7_n"),
        min(col("o_custkey")).over(wl).as("lag7_min"))
  }

  /** BOUNDED FOLLOWING frames — the centered moving average (`ROWS
    * BETWEEN 3 PRECEDING AND 3 FOLLOWING`, the standard smoothing
    * shape) and its pure-forward twin (`CURRENT ROW AND 2 FOLLOWING`),
    * zero exchange: emission delays behind the m-slot ring, each row's
    * frame completes when its +m row arrives, and the cross-band
    * forward SUFFIX is the next bands' first m values
    * ([[graft.plans.RunningWindow.Frame]]). Both frames share
    * one Window node (the analyzer groups by ordering, not frame) and
    * one band exec. Unique oid keys make every ROWS frame
    * deterministic.
    */
  private def q201RangeCenteredWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("oid"))
    val wc = w.rowsBetween(-3, 3)
    val wf = w.rowsBetween(Window.currentRow, 2)
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .select(col("oid"), col("v"),
        sum(col("v")).over(wc).as("c7_sum"),
        count(col("v")).over(wc).as("c7_n"),
        min(col("v")).over(wf).as("f3_min"),
        count(col("v")).over(wf).as("f3_n"))
      .withColumn("c7_avg", col("c7_sum").cast("double") / col("c7_n"))
  }

  private val decodedEventsTs = StructType(Seq(
    StructField("ts", org.apache.spark.sql.types.TimestampType),
    StructField("user_id", LongType)))

  /** The EVENT-TIME-banded landing: events banded on their raw
    * timestamp, millisecond-truncated at the source — the JSONL wire
    * format renders milliseconds, so truncating keeps the landed bytes
    * an exact round-trip (the oracle applies the same truncation).
    */
  private def eventsTsRangeJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangets", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgts", s, d)}/events"
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        Tables.events(s, d).select(
          date_trunc("millisecond", col("ts")).as("ts"),
          col("user_id")),
        "ts", dir, numBands = 8, zoneCols = Seq("ts"))
      dir
    })

  /** EVENT-TIME sliding window — `RANGE BETWEEN INTERVAL '15' MINUTE
    * PRECEDING AND CURRENT ROW` over a raw TIMESTAMP key: timestamps
    * are microsecond counts, so any day-time interval is already in the
    * key's own unit and the value-frame eviction applies exactly — the
    * per-event trailing-window analytics shape (rate counters, rolling
    * engagement) with zero exchange. Output projects epoch micros (no
    * raw timestamps in oracle-checked results — the house tz rule).
    */
  private def q196RangeEventTimeWindow(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedEventsTs, eventsTsRangeJsonl(s, d))
      .select(col("ts"), col("user_id"),
        expr("CAST(sum(user_id) OVER (ORDER BY ts RANGE BETWEEN " +
          "INTERVAL '15' MINUTE PRECEDING AND CURRENT ROW) AS BIGINT)")
          .as("w15_sum"),
        expr("count(*) OVER (ORDER BY ts RANGE BETWEEN " +
          "INTERVAL '15' MINUTE PRECEDING AND CURRENT ROW)").as("w15_n"))
      .select(unix_micros(col("ts")).as("t_us"), col("user_id"),
        col("w15_sum"), col("w15_n"))

  /** The multi-year TIMESTAMP-banded landing: orders with a derived
    * event instant (midnight of the order date plus a deterministic
    * per-row second offset — intra-day variation without a random
    * source), banded on the raw timestamp across the full 1992–1998
    * span. The month-window landing: events.parquet spans only 30
    * days, too narrow for a calendar month frame to discriminate.
    */
  private def ordersTsRangeJsonl(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#rangetsm", _ => {
      val dir = s"${Scratch.landing("graft_extjson_rgtm", s, d)}/orders"
      graft.sink.CorpusSink.landJsonlRangeIndexed(
        Tables.orders(s, d).select(
          expr("timestampadd(SECOND, CAST(o_custkey % 86400 AS INT), " +
            "CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP))").as("o_ts"),
          col("o_custkey")),
        "o_ts", dir, numBands = 8, zoneCols = Seq("o_ts"))
      dir
    })

  private val decodedOrdersTs = StructType(Seq(
    StructField("o_ts", org.apache.spark.sql.types.TimestampType),
    StructField("o_custkey", LongType)))

  /** CALENDAR MONTH RANGE frame over a raw TIMESTAMP key — the monthly
    * rolling window over event timestamps (`RANGE BETWEEN INTERVAL '1'
    * MONTH PRECEDING AND CURRENT ROW`), the natural next query after
    * q196 (day-time intervals over ts) and q199 (months over DATE).
    * The frame bound is session-timezone wall-clock month arithmetic
    * with month-end clamping — `timestampAddMonths(current, -1, tz)`,
    * Spark's own TimestampAddYMInterval boundary — still monotone in
    * the key, so the live-pair buffer evicts by the per-row calendar
    * bound with zero exchange
    * ([[graft.plans.RunningWindow.Months]]). The session tz is
    * UTC house-wide (GraftSession), where DuckDB's zone-less
    * `ts - INTERVAL 1 MONTH` agrees instant-for-instant, so the frame
    * is oracle-checkable; output projects epoch micros per the house
    * tz rule. The avg rides as sum/count.
    */
  private def q207RangeTsMonthWindow(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersTs, ordersTsRangeJsonl(s, d))
      .select(col("o_ts"), col("o_custkey"),
        expr("CAST(sum(o_custkey) OVER (ORDER BY o_ts RANGE BETWEEN " +
          "INTERVAL '1' MONTH PRECEDING AND CURRENT ROW) AS BIGINT)")
          .as("m1_sum"),
        expr("count(*) OVER (ORDER BY o_ts RANGE BETWEEN " +
          "INTERVAL '1' MONTH PRECEDING AND CURRENT ROW)").as("m1_n"))
      .select(unix_micros(col("o_ts")).as("t_us"), col("o_custkey"),
        col("m1_sum"), col("m1_n"))
      .withColumn("m1_avg", col("m1_sum").cast("double") / col("m1_n"))

  /** MONTH-FOLLOWING value frame over the raw-DATE-banded landing —
    * `RANGE BETWEEN CURRENT ROW AND INTERVAL '1' MONTH FOLLOWING`
    * ("orders landing in the month ahead", the forward-looking
    * calendar twin of q199): each pending row's release bound is its
    * own `add_months(key, +1)` — non-strictly monotone over DATE keys
    * (the clamp plateau carries no time-of-day), so the key-released
    * pending queue applies with zero exchange
    * ([[graft.plans.RunningWindow.Frame]] with `monthly`);
    * month-forward over TIMESTAMP keys refuses (plateau inversion —
    * [[graft.plans.RunningWindow.Months]]'s adjudication).
    * DuckDB agrees exactly over dates, so the frame is directly
    * oracle-checkable; output projects the day int per the house rule.
    */
  private def q208RangeMonthAhead(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedOrdersDate, ordersDateRangeJsonl(s, d))
      .select(col("o_orderdate"), col("o_custkey"),
        expr("CAST(sum(o_custkey) OVER (ORDER BY o_orderdate " +
          "RANGE BETWEEN CURRENT ROW AND INTERVAL '1' MONTH FOLLOWING) " +
          "AS BIGINT)").as("ma_sum"),
        expr("count(*) OVER (ORDER BY o_orderdate " +
          "RANGE BETWEEN CURRENT ROW AND INTERVAL '1' MONTH FOLLOWING)")
          .as("ma_n"))
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .as("o_day"), col("o_custkey"), col("ma_sum"), col("ma_n"))

  /** SUFFIX family closure — the q206 remaining-budget shape extended
    * with `avg(v)` (exact-integer-sum inversion ÷ count,
    * [[graft.plans.RunningWindow.Inv]] — the render is
    * one IEEE division of exact operands, so the oracle's
    * `CAST(sum AS DOUBLE)/count` matches bit-for-bit) and
    * `last_value(v)` (the GLOBAL last in window order — a constant
    * through the grand fold,
    * [[graft.plans.RunningWindow.Pos]]); zero exchange.
    * This query's prefix pass COMPUTES (v is a derived alias — no
    * sidecar borrow — and the last-value carry is order-dependent);
    * PlanSpec pins the zero-pass metadata prefix for a suffix count
    * over the landed column itself.
    */
  private def q209RangeSuffixClose(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("oid"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .select(col("oid"), col("v"),
        avg(col("v")).over(w).as("rem_avg"),
        last(col("v")).over(w).as("rem_last"),
        count(col("v")).over(w).as("rem_n"))
  }

  /** SUFFIX aggregates — the REMAINING-BUDGET shape: `count(v)` /
    * `sum(v)` `OVER (ORDER BY oid ROWS BETWEEN CURRENT ROW AND
    * UNBOUNDED FOLLOWING)` ("tokens left from this document onward" —
    * what corpus packing reads). The suffix inverts from the GRAND fold
    * minus the running prefix ([[graft.plans.RunningWindow
    * .Inv]] and kin) — zero exchange, zero extra state; the
    * decimal sum keeps ANSI-exact inversion (ANSI LONG suffix sums
    * refuse: subtraction can't reproduce a per-row refold's overflow);
    * the max rides the partition-buffered backward fold
    * ([[graft.plans.RunningWindow.Mono]]).
    */
  private def q206RangeRemainingBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("oid"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .select(col("oid"), col("v"),
        count(col("v")).over(w).as("rem_n"),
        sum(col("v").cast("decimal(18,0)")).over(w).cast("long")
          .as("rem_sum"),
        max(col("v")).over(w).as("rem_max"))
  }

  /** ±WINDOW EVENT CONTEXT — `RANGE BETWEEN INTERVAL '15' MINUTE
    * PRECEDING AND INTERVAL '15' MINUTE FOLLOWING` over the
    * TIMESTAMP-banded events: the symmetric smoothing / local-density
    * shape over an irregular time series. Each row releases from a
    * key-ordered pending queue once an event strictly beyond its +15min
    * bound arrives (keys only ascend, so the frame is then provably
    * complete); the cross-band forward suffix is the next bands'
    * leading entries ([[graft.plans.RunningWindow.Frame]]) — zero
    * exchange, buffers bounded by the 30-minute window population.
    */
  private def q204RangeEventContext(s: SparkSession, d: String): DataFrame =
    ExtendedJson.read(s, decodedEventsTs, eventsTsRangeJsonl(s, d))
      .select(col("ts"), col("user_id"),
        expr("CAST(sum(user_id) OVER (ORDER BY ts RANGE BETWEEN " +
          "INTERVAL '15' MINUTE PRECEDING AND INTERVAL '15' MINUTE " +
          "FOLLOWING) AS BIGINT)").as("ctx_sum"),
        expr("count(*) OVER (ORDER BY ts RANGE BETWEEN " +
          "INTERVAL '15' MINUTE PRECEDING AND INTERVAL '15' MINUTE " +
          "FOLLOWING)").as("ctx_n"))
      .select(unix_micros(col("ts")).as("t_us"), col("user_id"),
        col("ctx_sum"), col("ctx_n"))

  /** SESSIONIZATION over the event-time landing — STACKED band windows:
    * flag a session boundary where the gap to the previous event
    * exceeds 60 seconds (`lag(ts) OVER (ORDER BY ts)` — window 1), then
    * session-id = running SUM of the flags (window 2, whose INPUT is
    * window 1's output, so the analyzer stacks two Window nodes). Both
    * decompose over the TIMESTAMP bands with zero exchange: the band
    * window exec preserves its child's ordering/partitioning claims, so
    * the outer accepts the inner as its ordered child
    * ([[graft.plans.RangeWindowStrategy]]'s stacked-window arm). The
    * per-row boundary flag is tie-order-dependent (duplicate
    * timestamps) and not output; the tie group's session_id — the
    * running sum at group end — is deterministic: exactly one row of a
    * tie group carries each boundary regardless of permutation.
    */
  private def q203RangeSessionize(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"))
    ExtendedJson.read(s, decodedEventsTs, eventsTsRangeJsonl(s, d))
      .select(col("ts"), col("user_id"),
        lag(col("ts"), 1).over(w).as("pts"))
      .select(col("ts"), col("user_id"),
        when(col("pts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("pts")) > 60000000L, 1L)
          .otherwise(0L).as("boundary"))
      .select(unix_micros(col("ts")).as("t_us"), col("user_id"),
        sum(col("boundary")).over(w).as("session_id"))
  }

  /** FIRST/NTH/ARGMAX running carries — `first_value(v)`,
    * `nth_value(v, 5)`, `min_by(v, oid)` (the value at the smallest key
    * seen — a cross-band backward carry) and `max_by(v, oid)` over the
    * range layout, zero exchange: each decomposes into a per-band local
    * carry plus an earliest-band-wins (first/nth) or best-pair
    * (min_by/max_by) prefix. The unique oid ordering makes every
    * answer tie-free and oracle-checkable.
    */
  private def q194RangeArgCarry(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("oid"))
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .select(col("oid"), col("v"),
        first(col("v")).over(w).as("fv"),
        nth_value(col("v"), 5).over(w).as("n5"),
        min_by(col("v"), col("oid")).over(w).as("mbv"),
        max_by(col("v"), col("oid")).over(w).as("xbv"))
  }

  /** LAG IGNORE NULLS — the previous-KNOWN-value shape (`lag(v, n)
    * IGNORE NULLS`): the n-th most recent non-null among strictly
    * preceding rows, over a column that is null on every 7th cent
    * value. Bounded: a deque of the last n non-nulls per band, with
    * the earlier bands' trailing non-nulls as the prefix — zero
    * exchange ([[graft.plans.RunningWindow.Pos]]); lead IGNORE
    * NULLS takes the partition-buffered index path instead (q202).
    */
  private def q197RangeLagIgnoreNulls(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("oid"))
    val cents = round(col("o_totalprice") * 100).cast("long")
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"),
        when(cents % 7 === 0, lit(null)).otherwise(cents).as("v"))
      .select(col("oid"), col("v"),
        lag(col("v"), 1, null, true).over(w).as("pk1"),
        lag(col("v"), 4, -1L, true).over(w).as("pk4"))
  }

  /** LEAD IGNORE NULLS — the next-KNOWN-value shape (`lead(v, n)
    * IGNORE NULLS`): the n-th non-null strictly AFTER each row, over
    * the every-7th-cent-null column. No bounded ring form exists (a
    * null run defers the lookahead unboundedly), so the exec buffers
    * the partition — rows in the spillable window buffer, the non-null
    * values on the heap — and answers by INDEX into the non-null list,
    * with the later bands' first n non-nulls as the cross-band suffix:
    * still zero exchange, full band parallelism
    * ([[graft.plans.RunningWindow.Pos]]).
    */
  private def q202RangeLeadIgnoreNulls(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("oid"))
    val cents = round(col("o_totalprice") * 100).cast("long")
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"),
        when(cents % 7 === 0, lit(null)).otherwise(cents).as("v"))
      .select(col("oid"), col("v"),
        lead(col("v"), 1, null, true).over(w).as("nk1"),
        lead(col("v"), 4, -1L, true).over(w).as("nk4"))
  }

  /** WINDOW OVER THE MERGE CHAIN — q185's enrich+decontaminate chain
    * with a running total `OVER (ORDER BY o_orderkey)` on top, zero
    * exchange END-TO-END: the chained merge exec claims
    * RangePartitioning + ordering on the band key, and the band window
    * strategy now accepts it as its child — per-partition local running
    * aggregation plus computed prefixes (ONE extra streamed pass of the
    * chain for the totals; no exchange anywhere). Previously the
    * windowed form re-collapsed the chain's zero-exchange stream into a
    * single partition. Duplicate order keys (one order × its lineitems)
    * are tie groups sharing the running value — deterministic, so
    * hash-checkable.
    *
    * ADJUDICATED (round 19): the ~1.8× cost over the bare chain (two
    * sequential streams plus the window evaluation itself) is the
    * intended 100 TB design. The totals pass is COLUMN-PRUNED (PlanSpec
    * pins the 2-column pass; A/B-probed ~3–5% on wide rows — JSONL
    * tokenization, not field conversion, dominates a re-stream), and
    * the one-pass alternative (a barrier-stage allGather of
    * per-partition totals) is structurally wrong at scale: barrier
    * stages require every partition resident simultaneously, which
    * thousands of bands on a finite cluster cannot satisfy, and
    * buffering each partition locally costs a full write+read where
    * the re-stream costs a parallel re-read. Two sequential
    * zero-exchange streams beat both.
    */
  private def q192RangeChainWindow(s: SparkSession, d: String): DataFrame = {
    val base = rangeJoinBase(s, d)
    val o = ExtendedJson.read(s, decodedOrdersRj, s"$base/orders")
    val li = ExtendedJson.read(s, decodedLineitemRj, s"$base/lineitem")
    val c = ExtendedJson.read(s, decodedContamRj, contamJoinDir(s, d))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("o_orderkey"))
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .join(c, o("o_orderkey") === c("ck"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("l_linenumber"), col("l_quantity"))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("l_linenumber"), col("l_quantity"),
        sum(col("l_linenumber")).over(w).as("run_ln"),
        count(lit(1)).over(w).as("run_n"))
  }

  /** AGGREGATE OVER THE MERGE CHAIN — q185's enrich+decontaminate chain
    * with a `GROUP BY o_orderkey` rollup on top: the chain exec's
    * RangePartitioning claim satisfies the aggregate's clustered
    * distribution, so Spark plans partial+final HashAggregate DIRECTLY
    * over the chained merge — zero exchange end-to-end, the per-entity
    * rollup a curation pipeline runs after enriching and
    * decontaminating (per-order line counts and quantity totals here).
    * No new operator: the claim composes for free; this query pins it.
    */
  private def q205RangeChainAgg(s: SparkSession, d: String): DataFrame = {
    val base = rangeJoinBase(s, d)
    val o = ExtendedJson.read(s, decodedOrdersRj, s"$base/orders")
    val li = ExtendedJson.read(s, decodedLineitemRj, s"$base/lineitem")
    val c = ExtendedJson.read(s, decodedContamRj, contamJoinDir(s, d))
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .join(c, o("o_orderkey") === c("ck"), "left_anti")
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        QueryHelpers.dsum(col("l_quantity")).as("sum_qty"),
        max(col("l_linenumber")).cast("int").as("max_ln"))
  }

  /** VALUE-based sliding frame — the 7-DAY mean over the day-banded
    * landing: `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` on the int
    * day key is what time-series users actually write (7 days, not 7
    * rows), and it previously collapsed to the single-partition
    * WindowExec. The band strategy buffers only the frame's live
    * (key, value) pairs, evicting by key distance, with the trailing
    * frame carried across bands
    * ([[graft.plans.RunningWindow.Frame]]) — zero exchange.
    * Duplicate days are peer groups sharing the frame (tie-deterministic,
    * so hash-checkable); the avg rides as sum/count, not a windowed
    * avg, per the house oracle rule.
    */
  private def q191RangeValueSliding(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wv = Window.orderBy(col("o_day"))
      .rangeBetween(-6, Window.currentRow)
    ExtendedJson.read(s, decodedOrdersDay, ordersDayRangeJsonl(s, d))
      .select(col("o_day"), col("o_custkey"),
        sum(col("o_custkey")).over(wv).as("w7_sum"),
        count(lit(1)).over(wv).as("w7_n"),
        min(col("o_custkey")).over(wv).as("w7_min"),
        max(col("o_custkey")).over(wv).as("w7_max"))
      .withColumn("w7_avg", col("w7_sum").cast("double") / col("w7_n"))
  }

  /** DEEP OFFSETS with DEFAULTS — `lead(v, 3)`, `lag(v, 2, -1)` and
    * `lead(v, 1, -5)` over the range layout, zero exchange: deep lead
    * delays each row's emission behind a 3-slot ring whose cross-band
    * SUFFIX is the next bands' first values
    * ([[graft.plans.RunningWindow.Pos]]); lag(2, -1) rides the
    * O(1) ring with the constant default replacing the
    * fell-off-the-start nulls; lead(1, -5) keeps the one-row lookahead
    * with a defaulted global last row. The unique oid key makes every
    * pairing deterministic and oracle-checkable.
    */
  private def q190RangeDeepOffsets(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("oid"))
    ExtendedJson.read(s, decodedOrdersOid, ordersOidRangeJsonl(s, d))
      .select(col("oid"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .select(col("oid"), col("v"),
        lead(col("v"), 3).over(w).as("next3"),
        lag(col("v"), 2, -1L).over(w).as("prev2"),
        lead(col("v"), 1, -5L).over(w).as("next1d"))
  }

  /** CONJUNCTIVE merge join — `l.k = r.k AND <cross-side residual>`:
    * the merge runs on the provable band-key equality while the extra
    * conjunct (referencing BOTH sides, so no pushdown can strip it)
    * evaluates per candidate pair inside the streamed merge — still
    * zero exchange, zero sort ([[graft.plans.RangeMergeJoinStrategy]]
    * plans the residual form; PlanSpec pins it). The realistic join
    * shape a user actually writes, previously a silent full-shuffle
    * fall-through.
    */
  private def q183RangeMergeResidual(s: SparkSession, d: String): DataFrame = {
    val base = rangeJoinBase(s, d)
    val o = ExtendedJson.read(s, decodedOrdersRj, s"$base/orders")
    val li = ExtendedJson.read(s, decodedLineitemRj, s"$base/lineitem")
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        o("o_totalprice") > li("l_quantity") * lit(3000.0))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("l_linenumber"), col("l_quantity"))
  }

  /** FILTERED merge join — a residual `WHERE` on the build side (the
    * arithmetic predicate no scan pushdown translates): the filter
    * re-stages INSIDE the merge partitions (removal never reorders and
    * the band claims survive), so the left-outer join still plans the
    * zero-exchange merge — the round-15-style match-shape gap, closed
    * for joins.
    */
  private def q184RangeMergeFiltered(s: SparkSession, d: String): DataFrame = {
    val base = rangeJoinBase(s, d)
    val o = ExtendedJson.read(s, decodedOrdersRj, s"$base/orders")
    val li = ExtendedJson.read(s, decodedLineitemRj, s"$base/lineitem")
      .filter(col("l_quantity") * lit(2.0) >= lit(60.0))
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_outer")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("l_linenumber"), col("l_quantity"))
  }

  /** MERGE-JOIN CHAIN — enrich then decontaminate, zero exchanges
    * END-TO-END: orders ⋈ lineitem (inner merge) then ANTI against the
    * co-banded contamination drop, all on the one shared band key. The
    * strategy folds the whole left-deep chain into ONE chained merge
    * exec: the inner join's key-ordered stream feeds the anti probe
    * directly inside the same band partition — at 100 TB the second
    * hop's shuffle (the verdict's standing gap) is gone, not just the
    * first's.
    */
  private def q185RangeMergeChain(s: SparkSession, d: String): DataFrame = {
    val base = rangeJoinBase(s, d)
    val o = ExtendedJson.read(s, decodedOrdersRj, s"$base/orders")
    val li = ExtendedJson.read(s, decodedLineitemRj, s"$base/lineitem")
    val c = ExtendedJson.read(s, decodedContamRj, contamJoinDir(s, d))
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .join(c, o("o_orderkey") === c("ck"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("l_linenumber"), col("l_quantity"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q213_docsource_range_interval_window" -> q213RangeIntervalWindow,
    "q212_docsource_range_interval_label" -> q212RangeIntervalLabel,
    "q211_docsource_range_interval_join" -> q211RangeIntervalJoin,
    "q210_docsource_range_asof_value_window" -> q210RangeAsofValueWindow,
    "q209_docsource_range_suffix_close" -> q209RangeSuffixClose,
    "q208_docsource_range_month_ahead" -> q208RangeMonthAhead,
    "q207_docsource_range_ts_month_window" -> q207RangeTsMonthWindow,
    "q206_docsource_range_remaining_budget" -> q206RangeRemainingBudget,
    "q205_docsource_range_chain_agg" -> q205RangeChainAgg,
    "q204_docsource_range_event_context" -> q204RangeEventContext,
    "q203_docsource_range_sessionize" -> q203RangeSessionize,
    "q202_docsource_range_lead_ignore_nulls" -> q202RangeLeadIgnoreNulls,
    "q201_docsource_range_centered_window" -> q201RangeCenteredWindow,
    "q200_docsource_range_lagged_window" -> q200RangeLaggedWindow,
    "q199_docsource_range_month_interval" -> q199RangeMonthInterval,
    "q198_docsource_range_merge_right_outer" -> q198RangeMergeRightOuter,
    "q197_docsource_range_lag_ignore_nulls" -> q197RangeLagIgnoreNulls,
    "q196_docsource_range_event_time" -> q196RangeEventTimeWindow,
    "q195_docsource_range_date_interval" -> q195RangeDateInterval,
    "q194_docsource_range_arg_carry" -> q194RangeArgCarry,
    "q193_docsource_range_merge_full_outer" -> q193RangeMergeFullOuter,
    "q192_docsource_range_chain_window" -> q192RangeChainWindow,
    "q191_docsource_range_value_sliding" -> q191RangeValueSliding,
    "q190_docsource_range_deep_offsets" -> q190RangeDeepOffsets,
    "q189_docsource_range_group_topn" -> q189RangeGroupTopN,
    "q188_docsource_range_inplace_compacted" -> q188RangeInPlaceCompactedScan,
    "q187_docsource_metadata_distinct_count" -> q187MetadataDistinctCount,
    "q186_docsource_range_sliding_lead" -> q186RangeSlidingLead,
    "q185_docsource_range_merge_chain" -> q185RangeMergeChain,
    "q184_docsource_range_merge_filtered" -> q184RangeMergeFiltered,
    "q183_docsource_range_merge_residual" -> q183RangeMergeResidual,
    "q182_docsource_range_dense_rank" -> q182RangeDenseRank,
    "q181_docsource_range_rank_family" -> q181RangeRankFamily,
    "q180_docsource_range_keyed_asof" -> q180RangeKeyedAsOf,
    "q179_docsource_range_part_window" -> q179RangePartWindow,
    "q178_docsource_range_lag" -> q178RangeLag,
    "q177_docsource_range_asof" -> q177RangeAsOf,
    "q176_docsource_range_quantiles" -> q176RangeQuantiles,
    "q175_docsource_range_compacted_scan" -> q175RangeCompactedScan,
    "q172_docsource_range_running_window" -> q172RangeRunningWindow,
    "q173_docsource_range_row_number" -> q173RangeRowNumber,
    "q174_docsource_range_distinct_rollup" -> q174RangeDistinctRollup,
    "q171_docsource_range_agg_rollup" -> q171RangeAggRollup,
    "q170_docsource_range_merge_outer" -> q170RangeMergeOuter,
    "q169_docsource_range_merge_semi" -> q169RangeMergeSemi,
    "q168_docsource_range_merge_anti" -> q168RangeMergeAnti,
    "q167_docsource_range_merge_join" -> q167RangeMergeJoin,
    "q166_docsource_string_ordered_scan" -> q166StringOrderedScan,
    "q165_docsource_merge_read" -> q165MergeReadOrderBy,
    "q164_docsource_ordered_scan_desc" -> q164OrderedScanDesc,
    "q163_docsource_ordered_scan" -> q163OrderedScan,
    "q162_docsource_range_landed_topn" -> q162RangeLandedTopN,
    "q161_docsource_partitioned_join" -> q161PartitionedJoin,
    "q160_docsource_sorted_scan" -> q160SortedScan,
    "q159_docsource_metadata_avg" -> q159MetadataAvg,
    "q158_docsource_metadata_distinct" -> q158MetadataDistinct,
    "q157_docsource_topn_block_skip" -> q157TopNBlockSkip,
    "q156_docsource_topn_skip" -> q156TopNSkip,
    "q155_docsource_grouped_metadata_agg" -> q155GroupedMetadataAgg,
    "q154_docsource_metadata_sum" -> q154MetadataSum,
    "q153_docsource_filtered_metadata_agg" -> q153FilteredMetadataAgg,
    "q152_docsource_block_skip" -> q152BlockSkip,
    "q151_docsource_zonemap_append" -> q151ZoneMapAppend,
    "q150_docsource_bloom_lookup" -> q150BloomPointLookup,
    "q149_docsource_metadata_agg" -> q149MetadataAgg,
    "q148_docsource_zonemap_skip" -> q148ZoneMapSkip,
    "q147_docsource_partition_topn" -> q147PartitionTopN,
    "q146_docsource_array_head" -> q146ArrayHeadFilter,
    "q141_docsource_partition_prune" -> q141PartitionPrune,
    "q139_docsource_group_sum" -> q139GroupSum,
    "q140_docsource_filtered_avg" -> q140FilteredAvg,
    "q138_docsource_filtered_group" -> q138FilteredGroup,
    "q136_docsource_distinct" -> q136Distinct,
    "q131_docsource_group_agg" -> q131GroupAgg,
    "q132_docsource_nested_topn" -> q132NestedTopN,
    "q133_docsource_nested_group_agg" -> q133NestedGroupAgg,
    "q129_docsource_agg" -> q129AggPush,
    "q109_docsource_project" -> q109Project,
    "q110_docsource_filter" -> q110Filter,
    "q121_docsource_count" -> q121Count,
    "q123_docsource_nested" -> q123NestedFilter,
    "q125_docsource_topn" -> q125TopN)

  def oracle: Map[String, String] = Map(
    "q182_docsource_range_dense_rank" ->
      ("WITH o AS (SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, o_custkey " +
        "FROM orders) " +
        "SELECT o_day, o_custkey, " +
        "CAST(dense_rank() OVER (ORDER BY o_day) AS INT) AS dr FROM o"),
    "q181_docsource_range_rank_family" ->
      ("SELECT oid, percent_rank() OVER (ORDER BY oid) AS pr, " +
        "cume_dist() OVER (ORDER BY oid) AS cd, " +
        "CAST(ntile(7) OVER (ORDER BY oid) AS INT) AS nt FROM " +
        "(SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid " +
        "FROM orders)"),
    "q180_docsource_range_keyed_asof" ->
      ("WITH o AS (SELECT o_orderkey, o_custkey, " +
        "CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day FROM orders), " +
        "snaps AS (SELECT DISTINCT o_custkey AS ck, o_day AS d FROM o " +
        "WHERE o_day % 7 = 0) " +
        "SELECT o.o_orderkey, o.o_custkey, o.o_day, " +
        "(SELECT CAST(max(s.d) * 2 AS DOUBLE) FROM snaps s " +
        "WHERE s.ck = o.o_custkey AND s.d <= o.o_day) AS rate FROM o"),
    "q179_docsource_range_part_window" ->
      ("WITH o AS (SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, o_custkey " +
        "FROM orders) " +
        "SELECT o_day, o_custkey, " +
        "CAST(rank() OVER (PARTITION BY o_day ORDER BY o_custkey) AS INT) " +
        "AS rk, " +
        "count(*) OVER (PARTITION BY o_day ORDER BY o_custkey) AS run_n, " +
        "CAST(sum(o_custkey) OVER (PARTITION BY o_day) AS BIGINT) " +
        "AS day_sum FROM o"),
    "q178_docsource_range_lag" ->
      ("SELECT oid, o_totalprice, " +
        "lag(o_totalprice, 1) OVER (ORDER BY oid) AS prev_price FROM " +
        "(SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "o_totalprice FROM orders)"),
    "q177_docsource_range_asof" ->
      ("WITH o AS (SELECT o_orderkey, CAST(datediff('day', " +
        "DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS o_day " +
        "FROM orders), " +
        "snaps AS (SELECT DISTINCT o_day AS d FROM o WHERE o_day % 7 = 0) " +
        "SELECT o.o_orderkey, o.o_day, " +
        "(SELECT CAST(max(s.d) * 2 AS DOUBLE) FROM snaps s " +
        "WHERE s.d <= o.o_day) AS rate FROM o"),
    "q176_docsource_range_quantiles" ->
      ("WITH s AS (SELECT o_totalprice AS v, " +
        "row_number() OVER (ORDER BY o_totalprice) AS rn, " +
        "count(*) OVER () AS n FROM orders) " +
        "SELECT CAST(t.q AS DOUBLE) AS q, s.v AS value " +
        "FROM (VALUES (0.25), (0.5), (0.75), (0.99)) t(q) JOIN s " +
        "ON s.rn = CAST(floor(CAST(t.q AS DOUBLE) * (s.n - 1)) AS BIGINT) + 1"),
    "q175_docsource_range_compacted_scan" ->
      "SELECT o_orderkey, o_totalprice FROM orders",
    "q174_docsource_range_distinct_rollup" ->
      ("SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, " +
        "COUNT(DISTINCT o_custkey) AS nd_cust, COUNT(*) AS n_orders " +
        "FROM orders GROUP BY 1"),
    "q172_docsource_range_running_window" ->
      ("SELECT o_orderkey, o_totalprice, " +
        "CAST(rank() OVER (ORDER BY o_totalprice) AS INT) AS rk, " +
        "count(*) OVER (ORDER BY o_totalprice) AS run_n, " +
        "CAST(sum(o_orderkey) OVER (ORDER BY o_totalprice) AS BIGINT) " +
        "AS run_key FROM orders"),
    "q173_docsource_range_row_number" ->
      ("SELECT oid, o_totalprice, " +
        "CAST(row_number() OVER (ORDER BY oid) AS INT) AS rn, " +
        "max(o_totalprice) OVER (ORDER BY oid) AS run_max FROM " +
        "(SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "o_totalprice FROM orders)"),
    "q171_docsource_range_agg_rollup" ->
      ("SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, " +
        "COUNT(*) AS n_orders, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust " +
        "FROM orders GROUP BY 1"),
    "q170_docsource_range_merge_outer" ->
      ("SELECT o.o_orderkey, o.o_totalprice, c.ck FROM orders o " +
        "LEFT JOIN (SELECT o_orderkey AS ck FROM orders " +
        "WHERE o_orderkey % 7 = 0) c ON c.ck = o.o_orderkey"),
    "q169_docsource_range_merge_semi" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey % 7 = 0"),
    "q168_docsource_range_merge_anti" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey % 7 <> 0"),
    "q189_docsource_range_group_topn" ->
      ("WITH o AS (SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, o_custkey " +
        "FROM orders) " +
        "SELECT o_day, o_custkey, rk FROM (SELECT o_day, o_custkey, " +
        "CAST(rank() OVER (PARTITION BY o_day ORDER BY o_custkey) " +
        "AS INT) AS rk FROM o) WHERE rk <= 2"),
    "q188_docsource_range_inplace_compacted" ->
      "SELECT o_orderkey, o_totalprice FROM orders",
    "q187_docsource_metadata_distinct_count" ->
      ("SELECT CAST(count(DISTINCT CAST(datediff('day', " +
        "DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT)) " +
        "AS BIGINT) AS nd_day, count(*) AS n_rows FROM orders"),
    "q213_docsource_range_interval_window" ->
      ("WITH o AS (SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, o_custkey " +
        "FROM orders), " +
        "pr AS (SELECT DISTINCT o_day AS ps, o_day + 4 AS pe, " +
        "CAST(o_day // 11 AS BIGINT) AS promo_id FROM o " +
        "WHERE o_day % 11 = 0), " +
        "lab AS (SELECT o.o_day, o.o_custkey, pr.promo_id " +
        "FROM o LEFT JOIN pr ON pr.ps <= o.o_day AND o.o_day <= pr.pe) " +
        "SELECT o_day, o_custkey, promo_id, " +
        "count(promo_id) OVER w AS promo_seen, " +
        "count(*) OVER w AS seen FROM lab " +
        "WINDOW w AS (ORDER BY o_day)"),
    "q212_docsource_range_interval_label" ->
      ("WITH o AS (SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, o_custkey " +
        "FROM orders), " +
        "pr AS (SELECT DISTINCT o_day AS ps, o_day + 4 AS pe, " +
        "CAST(o_day // 11 AS BIGINT) AS promo_id FROM o " +
        "WHERE o_day % 11 = 0) " +
        "SELECT o.o_day, o.o_custkey, pr.promo_id " +
        "FROM o LEFT JOIN pr ON pr.ps <= o.o_day AND o.o_day <= pr.pe"),
    "q211_docsource_range_interval_join" ->
      ("WITH o AS (SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, o_custkey " +
        "FROM orders), " +
        "pr AS (SELECT DISTINCT o_day AS ps, o_day + 4 AS pe, " +
        "CAST(o_day // 11 AS BIGINT) AS promo_id FROM o " +
        "WHERE o_day % 11 = 0) " +
        "SELECT o.o_day, o.o_custkey, pr.ps, pr.pe, pr.promo_id " +
        "FROM o JOIN pr ON pr.ps <= o.o_day AND o.o_day <= pr.pe"),
    "q210_docsource_range_asof_value_window" ->
      ("WITH o AS (SELECT o_orderkey, o_custkey, " +
        "CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day FROM orders), " +
        "snaps AS (SELECT DISTINCT o_custkey AS ck, o_day AS d FROM o " +
        "WHERE o_day % 7 = 0), " +
        "a AS (SELECT o.o_orderkey, o.o_custkey, o.o_day, " +
        "CAST((SELECT CAST(max(s.d) * 2 AS DOUBLE) FROM snaps s " +
        "WHERE s.ck = o.o_custkey AND s.d <= o.o_day) AS BIGINT) " +
        "AS rate_l FROM o) " +
        "SELECT o_orderkey, o_custkey, o_day, rate_l, " +
        "CAST(sum(rate_l) OVER w AS BIGINT) AS r7_sum, " +
        "count(rate_l) OVER w AS r7_n, " +
        "CAST(CAST(sum(rate_l) OVER w AS BIGINT) AS DOUBLE) / " +
        "count(rate_l) OVER w AS r7_avg FROM a " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_day " +
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"),
    "q209_docsource_range_suffix_close" ->
      ("WITH o AS (SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders) " +
        "SELECT oid, v, " +
        "CAST(sum(v) OVER w AS DOUBLE) / count(v) OVER w AS rem_avg, " +
        "last_value(v) OVER w AS rem_last, " +
        "count(v) OVER w AS rem_n FROM o " +
        "WINDOW w AS (ORDER BY oid " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"),
    "q208_docsource_range_month_ahead" ->
      ("WITH o AS (SELECT CAST(o_orderdate AS DATE) AS od, o_custkey " +
        "FROM orders) " +
        "SELECT CAST(datediff('day', DATE '1970-01-01', od) AS INT) " +
        "AS o_day, o_custkey, " +
        "CAST(sum(o_custkey) OVER w AS BIGINT) AS ma_sum, " +
        "count(*) OVER w AS ma_n FROM o " +
        "WINDOW w AS (ORDER BY od " +
        "RANGE BETWEEN CURRENT ROW AND INTERVAL 1 MONTH FOLLOWING)"),
    // Spark's RANGE month frame over timestamps uses a FORWARD-ONLY
    // frame head: on month-end clamp plateaus the per-row bound
    // inverts (Mar 29 00:10 − 1 MONTH = Feb 28 00:10 < Mar 28 23:50's
    // bound) and the head never retreats, so the EFFECTIVE lower bound
    // is the running MAX of the per-row bounds. DuckDB's window frame
    // evaluates the exact per-row bound instead — the oracle encodes
    // Spark's semantics explicitly (runmax bound + inequality join).
    "q207_docsource_range_ts_month_window" ->
      ("WITH o AS (SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) " +
        "+ CAST(o_custkey % 86400 AS INT) * INTERVAL 1 SECOND AS o_ts, " +
        "o_custkey FROM orders), " +
        "b AS (SELECT o_ts, o_custkey, " +
        "max(o_ts - INTERVAL 1 MONTH) OVER (ORDER BY o_ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo " +
        "FROM o), " +
        "w AS (SELECT b.o_ts, b.o_custkey, " +
        "CAST((SELECT sum(o2.o_custkey) FROM b o2 " +
        "WHERE o2.o_ts >= b.lo AND o2.o_ts <= b.o_ts) AS BIGINT) " +
        "AS m1_sum, " +
        "CAST((SELECT count(*) FROM b o2 " +
        "WHERE o2.o_ts >= b.lo AND o2.o_ts <= b.o_ts) AS BIGINT) " +
        "AS m1_n FROM b) " +
        "SELECT epoch_us(o_ts) AS t_us, o_custkey, m1_sum, m1_n, " +
        "CAST(m1_sum AS DOUBLE) / m1_n AS m1_avg FROM w"),
    "q206_docsource_range_remaining_budget" ->
      ("WITH o AS (SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders) " +
        "SELECT oid, v, " +
        "count(v) OVER w AS rem_n, " +
        "CAST(sum(CAST(v AS DECIMAL(18,0))) OVER w AS BIGINT) " +
        "AS rem_sum, " +
        "max(v) OVER w AS rem_max FROM o " +
        "WINDOW w AS (ORDER BY oid " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"),
    "q205_docsource_range_chain_agg" ->
      ("SELECT o.o_orderkey, count(*) AS n_lines, " +
        "CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_qty, " +
        "CAST(max(l.l_linenumber) AS INT) AS max_ln " +
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        "WHERE o.o_orderkey % 7 <> 0 GROUP BY o.o_orderkey"),
    "q204_docsource_range_event_context" ->
      ("WITH e AS (SELECT date_trunc('ms', ts) AS ts, user_id " +
        "FROM events) " +
        "SELECT epoch_us(ts) AS t_us, user_id, " +
        "CAST(sum(user_id) OVER w AS BIGINT) AS ctx_sum, " +
        "count(*) OVER w AS ctx_n FROM e " +
        "WINDOW w AS (ORDER BY ts RANGE BETWEEN " +
        "INTERVAL 15 MINUTE PRECEDING AND INTERVAL 15 MINUTE FOLLOWING)"),
    "q203_docsource_range_sessionize" ->
      ("WITH e AS (SELECT date_trunc('ms', ts) AS ts, user_id " +
        "FROM events), " +
        "f AS (SELECT ts, user_id, lag(ts, 1) OVER (ORDER BY ts) AS pts " +
        "FROM e), " +
        "g AS (SELECT ts, user_id, CASE WHEN pts IS NULL OR " +
        "epoch_us(ts) - epoch_us(pts) > 60000000 THEN 1 ELSE 0 END " +
        "AS boundary FROM f) " +
        "SELECT epoch_us(ts) AS t_us, user_id, " +
        "CAST(sum(boundary) OVER (ORDER BY ts) AS BIGINT) AS session_id " +
        "FROM g"),
    "q202_docsource_range_lead_ignore_nulls" ->
      ("WITH o AS (SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) % 7 = 0 " +
        "THEN NULL ELSE CAST(round(o_totalprice * 100) AS BIGINT) END " +
        "AS v FROM orders) " +
        "SELECT oid, v, " +
        "lead(v, 1 IGNORE NULLS) OVER (ORDER BY oid) AS nk1, " +
        "lead(v, 4, -1 IGNORE NULLS) OVER (ORDER BY oid) AS nk4 FROM o"),
    "q201_docsource_range_centered_window" ->
      ("WITH o AS (SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders) " +
        "SELECT oid, v, " +
        "CAST(sum(v) OVER wc AS BIGINT) AS c7_sum, " +
        "count(v) OVER wc AS c7_n, " +
        "min(v) OVER wf AS f3_min, " +
        "count(v) OVER wf AS f3_n, " +
        "CAST(CAST(sum(v) OVER wc AS BIGINT) AS DOUBLE) / " +
        "count(v) OVER wc AS c7_avg FROM o " +
        "WINDOW wc AS (ORDER BY oid " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), " +
        "wf AS (ORDER BY oid ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)"),
    "q200_docsource_range_lagged_window" ->
      ("WITH o AS (SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, o_custkey " +
        "FROM orders) " +
        "SELECT o_day, o_custkey, " +
        "CAST(sum(o_custkey) OVER w AS BIGINT) AS lag7_sum, " +
        "count(*) OVER w AS lag7_n, " +
        "min(o_custkey) OVER w AS lag7_min FROM o " +
        "WINDOW w AS (ORDER BY o_day " +
        "RANGE BETWEEN 13 PRECEDING AND 7 PRECEDING)"),
    "q199_docsource_range_month_interval" ->
      ("WITH o AS (SELECT CAST(o_orderdate AS DATE) AS od, o_custkey " +
        "FROM orders) " +
        "SELECT CAST(datediff('day', DATE '1970-01-01', od) AS INT) " +
        "AS o_day, o_custkey, " +
        "CAST(sum(o_custkey) OVER w AS BIGINT) AS m3_sum, " +
        "count(*) OVER w AS m3_n, " +
        "CAST(CAST(sum(o_custkey) OVER w AS BIGINT) AS DOUBLE) / " +
        "count(*) OVER w AS m3_avg FROM o " +
        "WINDOW w AS (ORDER BY od " +
        "RANGE BETWEEN INTERVAL 3 MONTH PRECEDING AND CURRENT ROW)"),
    "q198_docsource_range_merge_right_outer" ->
      ("SELECT o.o_orderkey, o.o_totalprice, d.dk FROM orders o " +
        "RIGHT JOIN (SELECT o_orderkey AS dk FROM orders " +
        "WHERE o_orderkey % 3 = 0 " +
        "UNION ALL SELECT (SELECT max(o_orderkey) FROM orders) + r " +
        "AS dk FROM range(1, 51) t(r)) d ON d.dk = o.o_orderkey"),
    "q197_docsource_range_lag_ignore_nulls" ->
      ("WITH o AS (SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) % 7 = 0 " +
        "THEN NULL ELSE CAST(round(o_totalprice * 100) AS BIGINT) END " +
        "AS v FROM orders) " +
        "SELECT oid, v, " +
        "lag(v, 1 IGNORE NULLS) OVER (ORDER BY oid) AS pk1, " +
        "lag(v, 4, -1 IGNORE NULLS) OVER (ORDER BY oid) AS pk4 FROM o"),
    "q196_docsource_range_event_time" ->
      ("WITH e AS (SELECT date_trunc('ms', ts) AS ts, user_id " +
        "FROM events) " +
        "SELECT epoch_us(ts) AS t_us, user_id, " +
        "CAST(sum(user_id) OVER w AS BIGINT) AS w15_sum, " +
        "count(*) OVER w AS w15_n FROM e " +
        "WINDOW w AS (ORDER BY ts " +
        "RANGE BETWEEN INTERVAL 15 MINUTE PRECEDING AND CURRENT ROW)"),
    "q195_docsource_range_date_interval" ->
      ("WITH o AS (SELECT CAST(o_orderdate AS DATE) AS od, o_custkey " +
        "FROM orders) " +
        "SELECT CAST(datediff('day', DATE '1970-01-01', od) AS INT) " +
        "AS o_day, o_custkey, " +
        "CAST(sum(o_custkey) OVER w AS BIGINT) AS w7_sum, " +
        "count(*) OVER w AS w7_n FROM o " +
        "WINDOW w AS (ORDER BY od " +
        "RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)"),
    "q194_docsource_range_arg_carry" ->
      ("WITH o AS (SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders) " +
        "SELECT oid, v, " +
        "first_value(v) OVER (ORDER BY oid) AS fv, " +
        "nth_value(v, 5) OVER (ORDER BY oid) AS n5, " +
        "min_by(v, oid) OVER (ORDER BY oid) AS mbv, " +
        "max_by(v, oid) OVER (ORDER BY oid) AS xbv FROM o"),
    "q193_docsource_range_merge_full_outer" ->
      ("SELECT o.o_orderkey, o.o_totalprice, d.dk FROM orders o " +
        "FULL JOIN (SELECT o_orderkey AS dk FROM orders " +
        "WHERE o_orderkey % 3 = 0 " +
        "UNION ALL SELECT (SELECT max(o_orderkey) FROM orders) + r " +
        "AS dk FROM range(1, 51) t(r)) d ON d.dk = o.o_orderkey"),
    "q192_docsource_range_chain_window" ->
      ("WITH j AS (SELECT o.o_orderkey, o.o_totalprice, " +
        "CAST(l.l_linenumber AS BIGINT) AS l_linenumber, l.l_quantity " +
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        "WHERE o.o_orderkey % 7 <> 0) " +
        "SELECT o_orderkey, o_totalprice, l_linenumber, l_quantity, " +
        "CAST(sum(l_linenumber) OVER (ORDER BY o_orderkey) AS BIGINT) " +
        "AS run_ln, " +
        "count(*) OVER (ORDER BY o_orderkey) AS run_n FROM j"),
    "q191_docsource_range_value_sliding" ->
      ("WITH o AS (SELECT CAST(datediff('day', DATE '1970-01-01', " +
        "CAST(o_orderdate AS DATE)) AS INT) AS o_day, o_custkey " +
        "FROM orders) " +
        "SELECT o_day, o_custkey, " +
        "CAST(sum(o_custkey) OVER w AS BIGINT) AS w7_sum, " +
        "count(*) OVER w AS w7_n, " +
        "min(o_custkey) OVER w AS w7_min, " +
        "max(o_custkey) OVER w AS w7_max, " +
        "CAST(CAST(sum(o_custkey) OVER w AS BIGINT) AS DOUBLE) / " +
        "count(*) OVER w AS w7_avg FROM o " +
        "WINDOW w AS (ORDER BY o_day " +
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"),
    "q190_docsource_range_deep_offsets" ->
      ("WITH o AS (SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders) " +
        "SELECT oid, v, " +
        "lead(v, 3) OVER (ORDER BY oid) AS next3, " +
        "lag(v, 2, -1) OVER (ORDER BY oid) AS prev2, " +
        "lead(v, 1, -5) OVER (ORDER BY oid) AS next1d FROM o"),
    "q186_docsource_range_sliding_lead" ->
      // avg rides as CAST(sum)/count, NOT DuckDB's windowed avg(): the
      // integer sums make that division exact and engine-identical,
      // while DuckDB's avg accumulator drifts a ulp off exact-sum/count
      ("WITH o AS (SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders) " +
        "SELECT oid, v, " +
        "CAST(sum(v) OVER (ORDER BY oid ROWS BETWEEN 6 PRECEDING AND " +
        "CURRENT ROW) AS DOUBLE) / count(v) OVER (ORDER BY oid ROWS " +
        "BETWEEN 6 PRECEDING AND CURRENT ROW) AS sl_avg, " +
        "min(v) OVER (ORDER BY oid ROWS BETWEEN 6 PRECEDING AND " +
        "CURRENT ROW) AS sl_min, " +
        // CAST to BIGINT: DuckDB's sum(BIGINT) is HUGEINT, which pandas
        // renders float64 and the driver's dtype-sensitive hash rejects
        // against Spark's int64 (the q171 pattern)
        "CAST(sum(v) OVER (ORDER BY oid ROWS BETWEEN 6 PRECEDING AND " +
        "CURRENT ROW) AS BIGINT) AS sl_sum, " +
        "CAST(sum(v) OVER (ORDER BY oid) AS DOUBLE) / " +
        "count(v) OVER (ORDER BY oid) AS run_avg, " +
        "lead(v, 1) OVER (ORDER BY oid) AS next_v FROM o"),
    "q185_docsource_range_merge_chain" ->
      ("SELECT o.o_orderkey, o.o_totalprice, " +
        "CAST(l.l_linenumber AS BIGINT) AS l_linenumber, l.l_quantity " +
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        "WHERE o.o_orderkey % 7 <> 0"),
    "q184_docsource_range_merge_filtered" ->
      ("SELECT o.o_orderkey, o.o_totalprice, " +
        "CAST(l.l_linenumber AS BIGINT) AS l_linenumber, l.l_quantity " +
        "FROM orders o LEFT JOIN " +
        "(SELECT * FROM lineitem WHERE l_quantity * 2.0 >= 60.0) l " +
        "ON l.l_orderkey = o.o_orderkey"),
    "q183_docsource_range_merge_residual" ->
      ("SELECT o.o_orderkey, o.o_totalprice, " +
        "CAST(l.l_linenumber AS BIGINT) AS l_linenumber, l.l_quantity " +
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        "AND o.o_totalprice > l.l_quantity * 3000.0"),
    "q167_docsource_range_merge_join" ->
      ("SELECT o.o_orderkey, o.o_totalprice, " +
        "CAST(l.l_linenumber AS BIGINT) AS l_linenumber, l.l_quantity " +
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"),
    "q166_docsource_string_ordered_scan" ->
      ("SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS oid, " +
        "o_totalprice FROM orders"),
    "q165_docsource_merge_read" ->
      "SELECT o_orderkey, o_totalprice FROM orders",
    "q164_docsource_ordered_scan_desc" ->
      "SELECT o_orderkey, o_totalprice FROM orders",
    "q163_docsource_ordered_scan" ->
      "SELECT o_orderkey, o_totalprice FROM orders",
    "q162_docsource_range_landed_topn" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),
    "q161_docsource_partitioned_join" ->
      ("WITH g AS (SELECT o_orderstatus AS status, " +
        "CAST(EXTRACT(year FROM o_orderdate) AS INT) AS py, " +
        "COUNT(*) AS n_orders, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust " +
        "FROM orders GROUP BY 1, 2) " +
        "SELECT status, py, n_orders, sum_cust FROM g"),
    "q160_docsource_sorted_scan" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_orderkey ASC LIMIT 20"),
    "q159_docsource_metadata_avg" ->
      ("SELECT CAST(SUM(o_orderkey) AS DOUBLE) / CAST(COUNT(o_orderkey) AS DOUBLE) " +
        "AS avg_key, COUNT(*) AS n_f FROM orders WHERE o_orderstatus = 'F'"),
    "q158_docsource_metadata_distinct" ->
      "SELECT DISTINCT o_orderstatus FROM orders",
    "q157_docsource_topn_block_skip" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5"),
    "q156_docsource_topn_skip" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),
    "q155_docsource_grouped_metadata_agg" ->
      ("SELECT o_orderstatus, " +
        "CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price_d, " +
        "CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price_d, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_cents, " +
        "COUNT(*) AS n_orders FROM orders GROUP BY o_orderstatus"),
    "q154_docsource_metadata_sum" ->
      ("SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_cents, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS sum_key, COUNT(*) AS n_f " +
        "FROM orders WHERE o_orderstatus = 'F'"),
    "q153_docsource_filtered_metadata_agg" ->
      ("SELECT MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price, " +
        "COUNT(o_totalprice) AS n_priced, COUNT(*) AS n_f FROM orders " +
        "WHERE o_orderstatus = 'F'"),
    "q152_docsource_block_skip" ->
      ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_totalprice >= 300000.0 AND o_totalprice < 360000.0"),
    "q151_docsource_zonemap_append" ->
      ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_totalprice > 450000.0"),
    "q150_docsource_bloom_lookup" ->
      ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_orderkey IN (1, 7, 38)"),
    "q149_docsource_metadata_agg" ->
      ("SELECT MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price, " +
        "COUNT(o_totalprice) AS n_priced, COUNT(*) AS n_orders FROM orders"),
    "q148_docsource_zonemap_skip" ->
      ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_totalprice > 450000.0"),
    "q147_docsource_partition_topn" ->
      ("SELECT o_orderkey, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS py, " +
        "o_orderstatus AS status FROM orders " +
        "ORDER BY py DESC, status ASC, o_orderkey ASC LIMIT 15"),
    // the head element is sort_array's min struct — lexicographic by
    // (line, qty, price); the testdata's linenumbers are NOT unique per
    // order, so the oracle must state the same full tiebreak
    "q146_docsource_array_head" ->
      ("WITH h AS (SELECT l_orderkey, l_quantity, l_extendedprice, " +
        "ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY " +
        "l_linenumber, l_quantity, l_extendedprice) AS rn FROM lineitem) " +
        "SELECT o.o_orderkey, h.l_quantity AS head_qty, " +
        "h.l_extendedprice AS head_price FROM orders o " +
        "JOIN h ON h.l_orderkey = o.o_orderkey AND h.rn = 1 " +
        "WHERE h.l_quantity >= 45.0 AND o.o_orderstatus = 'F'"),
    "q141_docsource_partition_prune" ->
      ("SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS py, " +
        "COUNT(*) AS n_orders, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust " +
        "FROM orders WHERE o_orderstatus = 'F' " +
        "AND EXTRACT(year FROM o_orderdate) >= 1995 GROUP BY 1"),
    "q139_docsource_group_sum" ->
      ("SELECT o_orderstatus, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_cents, " +
        "COUNT(*) AS n_orders FROM orders GROUP BY o_orderstatus"),
    "q140_docsource_filtered_avg" ->
      ("SELECT o_orderpriority, " +
        "CAST(SUM(o_custkey) AS DOUBLE) / CAST(COUNT(o_custkey) AS DOUBLE) AS avg_cust, " +
        "COUNT(*) AS n_orders FROM orders " +
        "WHERE o_orderstatus = 'F' GROUP BY o_orderpriority"),
    "q138_docsource_filtered_group" ->
      ("SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_cust, " +
        "MAX(c_acctbal) AS max_bal FROM customer " +
        "WHERE c_acctbal > 0.0 GROUP BY c_mktsegment"),
    "q136_docsource_distinct" ->
      "SELECT DISTINCT o_orderstatus FROM orders",
    "q131_docsource_group_agg" ->
      ("SELECT o_orderstatus, COUNT(*) AS n_orders, " +
        "MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price, " +
        "COUNT(o_orderpriority) AS n_prio FROM orders GROUP BY o_orderstatus"),
    "q132_docsource_nested_topn" ->
      ("SELECT c_custkey, c_acctbal AS acctbal, c_mktsegment AS mktsegment " +
        "FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10"),
    "q133_docsource_nested_group_agg" ->
      ("SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_cust, " +
        "MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal " +
        "FROM customer GROUP BY c_mktsegment"),
    "q109_docsource_project" ->
      ("SELECT lpad(lower(to_hex(o_orderkey)), 24, '0') AS _id, o_orderkey, " +
        "o_totalprice FROM orders"),
    "q110_docsource_filter" ->
      ("SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, " +
        "o_totalprice FROM orders " +
        "WHERE o_orderdate > TIMESTAMP '1997-06-01 00:00:00' " +
        "AND o_orderstatus = 'O'"),
    "q121_docsource_count" ->
      "SELECT COUNT(*) AS n_orders FROM orders",
    "q123_docsource_nested" ->
      ("SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS nationkey, " +
        "c_acctbal AS acctbal FROM customer " +
        "WHERE c_acctbal > 5000.0 AND c_mktsegment = 'BUILDING'"),
    "q125_docsource_topn" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q129_docsource_agg" ->
      ("SELECT MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price, " +
        "strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_date, " +
        "COUNT(o_orderpriority) AS n_prio, COUNT(*) AS n_all FROM orders"))
}
