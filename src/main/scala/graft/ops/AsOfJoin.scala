package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, NumericType, TimestampNTZType, TimestampType}

/** As-of join — attach to every left row the single most recent right row
  * at or before the left row's time, per key. The canonical time-series /
  * feature-store lookup (latest account state at event time, latest price
  * at trade time) that Spark has no native operator for.
  *
  * The naive formulation is an equi-key join with a time inequality and an
  * argmax: Spark executes that as a SortMergeJoin producing EVERY
  * (left, qualifying-right) pair before the per-left-row top-1 — with r
  * right rows per key, an O(l·r)-pair blowup that is the join's actual cost
  * at scale. This composition instead UNIONS the two sides and runs one
  * keyed window with a running last-non-null carry:
  *
  *   1. tag right rows (side 0) and left rows (side 1), union by name;
  *   2. one window partitioned by key, ordered by (time, side, tiebreak),
  *      running frame `rowsBetween(unboundedPreceding, currentRow)`;
  *   3. `last(rightPayload, ignoreNulls = true)` over that frame — at each
  *      left row this is exactly the latest right row with
  *      `rightTime <= leftTime` (right sorts before left on time ties, so
  *      the match is inclusive);
  *   4. keep left rows, drop the ones with no prior right row (inner
  *      as-of).
  *
  * Cost: ONE hash shuffle of (key, time, payload) plus an O(n log n)
  * per-partition sort — no pair materialization, no range join. Ties on
  * `rightTime` within a key resolve to the greatest `tiebreak`
  * (deterministic output; mirrors `ORDER BY time DESC, tiebreak DESC
  * LIMIT 1` semantics).
  *
  * ==Hot-key skew: the two-level carry (`bucketSec > 0`)==
  *
  * A window partitioned by the key alone funnels a hot key's FULL history
  * through one task — and AQE cannot split a window partition the way it
  * splits a skewed sort-merge join. With `bucketSec > 0` the carry runs in
  * two levels, bounding any single task's share by the bucket width:
  *
  *   1. within-bucket: the same running carry, partitioned by
  *      (key, floor(time / bucketSec)) — a hot key's rows spread over its
  *      time buckets;
  *   2. per (key, bucket), the bucket's FINAL right payload (the argmax
  *      right row by (time, tiebreak) — one row per non-empty bucket);
  *   3. the bucket-boundary carry: per key, the latest final payload of any
  *      STRICTLY earlier bucket, via a window over the (key, bucket) spine
  *      — rows per partition = buckets per key, not rows per key;
  *   4. each row's answer = coalesce(within-bucket carry, boundary carry),
  *      joined back on (key, bucket) — the big side is already hash-
  *      partitioned on exactly those columns by step 1's window, so the
  *      join re-shuffles only the tiny spine.
  *
  * Any right row in the row's own bucket is strictly newer than every
  * right row of an earlier bucket, so the coalesce preference order IS the
  * time order and the semantics are identical to the single-level carry
  * (property-tested across bucket widths).
  */
object AsOfJoin {

  /** The combined row shape of an as-of LAYOUT landing: the shared time
    * key first, then the side tag (0 = reference/right, 1 = event/left —
    * the position RIGHT AFTER the sort key makes the landing's full-row
    * tiebreak order reference rows before event rows at equal times, the
    * inclusive "at or before" boundary), then each side's columns,
    * nullable (a row carries only its own side's values).
    */
  def layoutSchema(leftSchema: org.apache.spark.sql.types.StructType,
      rightSchema: org.apache.spark.sql.types.StructType,
      timeType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val names = leftSchema.fieldNames ++ rightSchema.fieldNames
    require(names.distinct.length == names.length,
      "left and right payload column names must be disjoint")
    require(!names.exists(n => n == "asof_t" || n == "asof_side"),
      "asof_t and asof_side are reserved by the as-of layout")
    StructType(
      StructField("asof_t", timeType, nullable = true) +:
        StructField("asof_side", IntegerType, nullable = true) +:
        (leftSchema.fields ++ rightSchema.fields)
          .map(f => f.copy(nullable = true)))
  }

  /** TIME-BANDED as-of layout — the producer half of the EXCHANGE-FREE
    * as-of join: event (left) and reference (right) rows INTERLEAVE into
    * one range landing banded on the shared time key, reference rows
    * sorting before event rows at equal times. One landing instead of
    * two: the as-of match is a pure carry over the combined time order,
    * so co-locating the sides AT WRITE TIME is what lets the read side
    * answer with a running window instead of a join ([[layoutAsOf]]).
    * `leftTime`/`rightTime` name each side's time column (same type,
    * zone-indexable); payload column sets must be disjoint.
    */
  def landAsOfLayout(left: DataFrame, leftTime: String, right: DataFrame,
      rightTime: String, dir: String, numBands: Int,
      blockBytes: Long = 0L, appendTag: Option[String] = None,
      maxSidecarGenerations: Int = 0): Long = {
    import org.apache.spark.sql.types._
    val lPay = StructType(left.schema.fields.filterNot(_.name == leftTime))
    val rPay = StructType(right.schema.fields.filterNot(_.name == rightTime))
    val tType = left.schema(leftTime).dataType
    require(right.schema(rightTime).dataType == tType,
      s"time columns must share a type: $leftTime is $tType, " +
        s"$rightTime is ${right.schema(rightTime).dataType}")
    val combined = layoutSchema(lPay, rPay, tType)
    def shape(df: DataFrame, time: String, side: Int): DataFrame =
      df.select(col(time).as("asof_t") +: lit(side).as("asof_side") +:
        combined.fields.drop(2).map(f =>
          if (df.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
    graft.sink.CorpusSink.landJsonlRangeIndexed(
      shape(left, leftTime, 1).unionByName(shape(right, rightTime, 0)),
      "asof_t", dir, numBands, zoneCols = Seq("asof_t"),
      blockBytes = blockBytes, appendTag = appendTag,
      maxSidecarGenerations = maxSidecarGenerations)
  }

  /** The KEYED as-of layout: like [[landAsOfLayout]] but banded on the
    * JOIN KEY (both sides must carry `keyCol` under the same name and
    * type), with the time and side columns right after the key in the
    * landing's tiebreak order — so each band holds complete key
    * histories, rows within a key already in (time, side) order, and
    * the per-key carry window runs exchange-free
    * ([[layoutKeyedAsOf]]).
    */
  def landKeyedAsOfLayout(left: DataFrame, leftTime: String,
      right: DataFrame, rightTime: String, keyCol: String, dir: String,
      numBands: Int, blockBytes: Long = 0L, appendTag: Option[String] = None,
      maxSidecarGenerations: Int = 0): Long = {
    import org.apache.spark.sql.types._
    val kType = left.schema(keyCol).dataType
    require(right.schema(keyCol).dataType == kType,
      s"key column '$keyCol' must share a type across sides")
    val tType = left.schema(leftTime).dataType
    require(right.schema(rightTime).dataType == tType,
      s"time columns must share a type: $leftTime is $tType, " +
        s"$rightTime is ${right.schema(rightTime).dataType}")
    val lPay = StructType(left.schema.fields
      .filterNot(f => f.name == leftTime || f.name == keyCol))
    val rPay = StructType(right.schema.fields
      .filterNot(f => f.name == rightTime || f.name == keyCol))
    val combined = keyedLayoutSchema(keyCol, kType, lPay, rPay, tType)
    def shape(df: DataFrame, time: String, side: Int): DataFrame =
      df.select(col(keyCol) +: col(time).as("asof_t") +:
        lit(side).as("asof_side") +:
        combined.fields.drop(3).map(f =>
          if (df.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
    graft.sink.CorpusSink.landJsonlRangeIndexed(
      shape(left, leftTime, 1).unionByName(shape(right, rightTime, 0)),
      keyCol, dir, numBands, zoneCols = Seq(keyCol),
      blockBytes = blockBytes, appendTag = appendTag,
      maxSidecarGenerations = maxSidecarGenerations)
  }

  /** Combined row shape of the keyed as-of layout: join key first (the
    * band key), then time and side (the within-key tiebreak order), then
    * each side's payload columns, nullable.
    */
  def keyedLayoutSchema(keyCol: String,
      keyType: org.apache.spark.sql.types.DataType,
      leftPayload: org.apache.spark.sql.types.StructType,
      rightPayload: org.apache.spark.sql.types.StructType,
      timeType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val names = keyCol +: (leftPayload.fieldNames ++ rightPayload.fieldNames)
    require(names.distinct.length == names.length,
      "key and payload column names must be disjoint across sides")
    require(!names.exists(n => n == "asof_t" || n == "asof_side"),
      "asof_t and asof_side are reserved by the as-of layout")
    StructType(
      StructField(keyCol, keyType, nullable = true) +:
        StructField("asof_t", timeType, nullable = true) +:
        StructField("asof_side", IntegerType, nullable = true) +:
        (leftPayload.fields ++ rightPayload.fields)
          .map(f => f.copy(nullable = true)))
  }

  /** KEYED as-of join over a [[landKeyedAsOfLayout]] drop — the
    * reference shape (latest per-key reference row at or before each
    * event), answered with zero exchange: one running
    * `last(payload, ignoreNulls)` carry per reference column over
    * `PARTITION BY key ORDER BY (time, side)`, which plans Spark's own
    * WindowExec straight over the band scan (the key-banded layout
    * satisfies the window's clustered distribution — only the local
    * per-band sort remains). The per-key enrichment that
    * [[asOf]]'s windowed union pays a full hash shuffle for.
    */
  def layoutKeyedAsOf(spark: org.apache.spark.sql.SparkSession, dir: String,
      keyCol: String, keyType: org.apache.spark.sql.types.DataType,
      leftSchema: org.apache.spark.sql.types.StructType,
      rightSchema: org.apache.spark.sql.types.StructType,
      timeType: org.apache.spark.sql.types.DataType): DataFrame = {
    val combined = keyedLayoutSchema(keyCol, keyType, leftSchema,
      rightSchema, timeType)
    val df = graft.ingest.ExtendedJson.read(spark, combined, dir)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("asof_t"), col("asof_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carryRight(df, rightSchema, w)
      .select(col(keyCol) +: col("asof_t") +:
        leftSchema.fieldNames.map(col) ++:
        rightSchema.fieldNames.map(refField): _*)
  }

  /** EXCHANGE-FREE as-of join over a [[landAsOfLayout]] drop — the
    * time-series enrichment every feature pipeline pays a shuffle+sort
    * for, answered as a LAYOUT PROPERTY: one running
    * `last(payload, ignoreNulls)` carry per reference column over
    * `ORDER BY (asof_t, asof_side)` — which
    * [[graft.plans.RangeWindowStrategy]] plans over the proven time
    * bands with ZERO exchange (per-band local carry + per-band prefix
    * from one narrow sorted pass) — then keep the event rows. LEFT
    * as-of: events before the first reference row carry nulls; filter
    * them for the inner form. Ties: a reference row at exactly the
    * event's time IS visible to it ("at or before"); equal reference
    * times resolve by the landing's deterministic tiebreak — land
    * unique reference times when that matters. At 100 TB the windowed
    * union alternative ([[asOf]]) pays a full hash shuffle of both
    * sides; this reads the combined drop once, in place.
    */
  def layoutAsOf(spark: org.apache.spark.sql.SparkSession, dir: String,
      leftSchema: org.apache.spark.sql.types.StructType,
      rightSchema: org.apache.spark.sql.types.StructType,
      timeType: org.apache.spark.sql.types.DataType): DataFrame = {
    val combined = layoutSchema(leftSchema, rightSchema, timeType)
    val df = graft.ingest.ExtendedJson.read(spark, combined, dir)
    val w = Window.orderBy(col("asof_t"), col("asof_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carryRight(df, rightSchema, w)
      .select(col("asof_t") +: leftSchema.fieldNames.map(col) ++:
        rightSchema.fieldNames.map(refField): _*)
  }

  /** The carry itself, shared by both as-of forms: ONE running
    * last-non-null of the reference row as an ATOMIC JSON rendering —
    * per-column carries would TEAR tuples (a later reference row with a
    * null field would let the OLDER row's value for that field leak
    * through, yielding a combination no reference row ever held). The
    * JSON hop costs a render+parse per row but keeps the carried value
    * atomic AND a single retainable string for the band window's
    * accumulator; doubles/longs/strings roundtrip exactly (the corpus
    * already lives as the same canonical JSON).
    */
  private def carryRight(df: DataFrame,
      rightSchema: org.apache.spark.sql.types.StructType,
      w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    val payload = to_json(struct(rightSchema.fieldNames.map(col): _*))
    val nullableRight = org.apache.spark.sql.types.StructType(
      rightSchema.fields.map(_.copy(nullable = true)))
    df.withColumn("__asof_carry",
        last(when(col("asof_side") === 0, payload),
          ignoreNulls = true).over(w))
      .filter(col("asof_side") === 1)
      .withColumn("__asof_ref",
        from_json(col("__asof_carry"), nullableRight))
  }

  private def refField(c: String): org.apache.spark.sql.Column =
    col("__asof_ref").getField(c).as(c)

  /** Numeric bucket id `floor(time / bucketSec)` for timestamp, date, or
    * numeric time columns. Timestamps quantize on epoch seconds (the
    * engine session is pinned UTC, where the NTZ→TZ cast is the identity
    * on the wall-clock value); numeric time is taken in its own units.
    */
  private def bucketOf(c: Column, dt: org.apache.spark.sql.types.DataType,
      bucketSec: Long): Column = dt match {
    case TimestampType | TimestampNTZType | DateType =>
      Num.floorDiv(unix_micros(c.cast("timestamp")), bucketSec * 1000000L)
    case _: NumericType => Num.floorDiv(c.cast("long"), bucketSec)
    case other => throw new IllegalArgumentException(
      s"asOf bucketing needs a timestamp/date/numeric time column, got $other")
  }

  /** Derive a `bucketSec` from a TARGET ROWS-PER-(KEY, BUCKET) — the
    * statistic that actually bounds a carry task's share — instead of
    * calendar intuition ("90 days") which says nothing about density.
    *
    * Every key whose row count exceeds `target` states a width
    * requirement from ITS OWN time span: `ceil(span_k × target / n_k)`
    * splits key k's history into ≈ `n_k / target` buckets of ≈ `target`
    * rows each. The answer is the MINIMUM over those requirements — the
    * widest width that still satisfies the densest key (a global-span
    * derivation would let a hot key with a short history hide inside one
    * bucket of a long-lived corpus). Under roughly uniform-in-time
    * arrivals per key; a key whose rows additionally cluster in time
    * keeps a worst-case bucket of its densest burst — lower `target` if
    * bursts dominate.
    *
    * Returns 0 when every key fits `target` — the two-level carry's two
    * extra stages (a second window over the bucket spine and a spine
    * join; ~2-2.5× the single-level wall time at sf0.1) buy nothing if no
    * key's history overfills one task, and `asOf(bucketSec = 0)` runs the
    * cheap single-level form. That is the crossover rule: pay two-level
    * ONLY when some key's rows exceed `target`.
    *
    * `target` defaults to 1 << 20 rows — a (key, time, payload) slice of
    * order tens of MB, comfortably one task's work; the right number moves
    * with payload width, not cluster size. Cost of the derivation: one
    * count-per-key aggregation over `df` (the carried, usually-right
    * side) — a planning-time statistics pass, run it once per layout, not
    * per query.
    */
  def bucketWidthFor(df: DataFrame, keyCol: String, timeCol: String,
      targetRowsPerBucket: Long = 1L << 20): Long = {
    require(targetRowsPerBucket >= 1, "targetRowsPerBucket >= 1")
    val tSec = df.schema(timeCol).dataType match {
      case TimestampType | TimestampNTZType | DateType =>
        // floor-div, not `/`: Column division is IEEE double
        Num.floorDiv(unix_micros(col(timeCol).cast("timestamp")), 1000000L)
      case _: NumericType => col(timeCol).cast("long")
      case other => throw new IllegalArgumentException(
        s"bucketWidthFor needs a timestamp/date/numeric time column, got $other")
    }
    // DECIMAL(38,0) product: a NUMERIC time column's units are caller-
    // defined (nanos are plausible), so span × target can overflow a long
    import org.apache.spark.sql.types.DecimalType
    val stats = df
      .filter(col(keyCol).isNotNull && col(timeCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__n"),
        min(tSec).as("__lo"), max(tSec).as("__hi"))
      .where(col("__n") > targetRowsPerBucket)
      .select(greatest(lit(1L),
        ceil((greatest(col("__hi") - col("__lo"), lit(1L))
            .cast(DecimalType(38, 0)) * targetRowsPerBucket)
          / col("__n")).cast("long")).as("__w"))
      .agg(min(col("__w")).as("w"))
      .first()
    if (stats.isNullAt(0)) 0L else stats.getLong(0)
  }

  /** @param rightCols right columns to carry onto the left row; returned as
    *   fields of a single `asof` struct column appended to the left schema.
    * @param bucketSec 0 = single-level carry (one window per key); > 0 =
    *   two-level carry with the per-task share of a hot key bounded by the
    *   bucket width (see class doc). Identical results either way. Size it
    *   from a rows-per-(key, bucket) target with [[bucketWidthFor]], not
    *   from calendar intuition — and take its 0 answer seriously: the
    *   two-level form costs ~2-2.5× single-level and buys nothing without
    *   a hot key.
    */
  def asOf(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      tiebreak: String, rightCols: Seq[String],
      bucketSec: Long = 0L): DataFrame = {
    // Null right keys/times can never satisfy the SQL contract
    // (`rightKey = leftKey AND rightTime <= leftTime` is UNKNOWN on null),
    // but the asc-nulls-first window order would treat a null-time right
    // row as "older than everything" and carry it into every left row of
    // its key — drop them before the union. (Null LEFT keys/times already
    // fall out: their partitions hold no surviving right rows, so the
    // inner filter below removes them, same as the equi-join would.)
    val r = right
      .filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
      .select(
        col(rightKey).as("__k"), col(rightTime).as("__t"),
        lit(0).as("__side"), col(tiebreak).as("__tb"),
        struct(rightCols.map(col): _*).as("__rp"))
    val leftCols = left.columns.toSeq
    val l = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"),
      lit(1).as("__side"),
      lit(null).cast(r.schema("__tb").dataType).as("__tb"),
      lit(null).cast(r.schema("__rp").dataType).as("__rp"),
      struct(leftCols.map(col): _*).as("__lp"))
    val u = r
      .withColumn("__lp", lit(null).cast(l.schema("__lp").dataType))
      .unionByName(l)
    // Running frame, not the default range frame: with a row frame the
    // carry at a left row can only see rows sorted before it, which the
    // (time, side, tiebreak) order makes exactly the <= right rows.
    // tiebreak NULLS FIRST: the LAST right row in the frame wins, so a
    // null-tiebreak right row must sort before its non-null time-twins —
    // mirroring `ORDER BY time DESC, tiebreak DESC NULLS LAST LIMIT 1`
    // (a null tiebreak wins only when it is the sole candidate)
    val carried =
      if (bucketSec <= 0L) {
        val w = Window.partitionBy("__k")
          .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.withColumn("__asof", last(col("__rp"), ignoreNulls = true).over(w))
      } else {
        val ub = u.withColumn("__b",
          bucketOf(col("__t"), u.schema("__t").dataType, bucketSec))
        // level 1: the same running carry, but the partition adds the time
        // bucket — a hot key's history spreads over its buckets
        val wIn = Window.partitionBy("__k", "__b")
          .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val within = ub.withColumn("__w", last(col("__rp"), ignoreNulls = true).over(wIn))
        // level 2a: each non-empty bucket's final right payload — the argmax
        // right row by (time, tiebreak DESC NULLS LAST), one row per bucket
        val wFin = Window.partitionBy("__k", "__b")
          .orderBy(col("__t").desc, col("__tb").desc_nulls_last)
        val finals = ub.filter(col("__side") === 0)
          .withColumn("__rn", row_number().over(wFin))
          .filter(col("__rn") === 1)
          // renamed key/bucket: finals and the spine both descend from u, so
          // bare-name equi-joins would be same-expression-id self-joins
          .select(col("__k").as("__fk"), col("__b").as("__fb"), col("__rp").as("__bf"))
        // level 2b: boundary carry over the (key, bucket) SPINE — every
        // bucket either side touches, so a left-only bucket still sees the
        // latest earlier final. Partition rows = buckets per key, bounded by
        // the key's time span / bucketSec, never by its row count.
        val spine = ub.select("__k", "__b").distinct()
          .join(finals, col("__k") === col("__fk") && col("__b") === col("__fb"),
            "left_outer")
        val wB = Window.partitionBy("__k").orderBy(col("__b").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val incoming = spine
          .withColumn("__in", last(col("__bf"), ignoreNulls = true).over(wB))
          .select(col("__k").as("__ik"), col("__b").as("__ib"), col("__in"))
        // the big side arrives hash-partitioned on (__k, __b) from wIn, so
        // this join only shuffles the tiny spine
        within
          .join(incoming, col("__k") === col("__ik") && col("__b") === col("__ib"))
          .withColumn("__asof", coalesce(col("__w"), col("__in")))
      }
    carried
      .filter(col("__side") === 1 && col("__asof").isNotNull)
      .select((leftCols.map(c => col(s"__lp.$c").as(c)) :+
        col("__asof").as("asof")): _*)
  }
}
