package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** Mongo extended-JSON document source (SURVEY.md §2 S1, hermetic form).
  *
  * Always an EXPLICIT schema — never `inferSchema` (SURVEY §1.4): absent
  * fields become typed nulls for the T4 default chain, and `$oid`/`$date`
  * wrappers decode via [[graft.schema.Bson]]. In a deployment with a live
  * MongoDB this is swapped for `spark.read.format("mongodb")`, which pushes
  * the spec's projection and filter server-side as `$project`/`$match`; the
  * transform layer is identical either way.
  */
object ExtendedJson {

  /** Read JSONL files (one document per line) through the engine's own
    * DataSourceV2 source ([[graft.ingest.v2.ExtJsonDataSource]]): column
    * pruning and supported filters reach the DOCUMENT scan itself — the
    * reference's server-side `$project`/`$match`, as engine code. Every
    * [[DocSource]]-backed pipeline reads through this.
    */
  def read(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.format("graft-extjson").schema(schema).load(path)

  /** Same, with scan options:
    *  - `partitionColumns` — hive-layout (`k=v` directories) drops whose
    *    partition values come from the PATH and prune directories at
    *    listing time;
    *  - `reportPartitioning=true` — report the hive layout as
    *    KeyGroupedPartitioning so co-partitioned drops join/aggregate
    *    with zero exchange (storage-partitioned reads);
    *  - `rangeAggregation=true` — let the range-layout strategy
    *    aggregate `GROUP BY key` band-locally with zero exchange.
    *
    * Splits are `spark.sql.files.maxPartitionBytes` long. A drop that
    * carries a `_graft_zonemaps` sidecar is read with it, with or without
    * options: file/block data skipping, metadata-only aggregates,
    * top-N/LIMIT pruning, sorted-scan early exit, and zone-aware planner
    * stats. Each read lists its drop, loads the sidecar and sizes its
    * splits once, and plans and answers from that one snapshot. An
    * aggregate reaches the scan only as a metadata answer or a one-split
    * COUNT(*); every other aggregate is Spark's own over the scanned rows.
    */
  def read(spark: SparkSession, schema: StructType, path: String,
      options: Map[String, String]): DataFrame =
    spark.read.format("graft-extjson").schema(schema).options(options)
      .load(path)

  /** The builtin JSON reader over the same files — kept as the
    * cross-validation twin for tests (both readers must agree on every
    * fixture; the V2 source is the engine path).
    */
  def readBuiltin(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Parse in-memory lines — fixture/test entry point. */
  def fromLines(spark: SparkSession, schema: StructType, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    val ds: Dataset[String] = spark.createDataset(lines)
    spark.read.schema(schema).json(ds)
  }
}
