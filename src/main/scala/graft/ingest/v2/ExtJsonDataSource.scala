package graft.ingest.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader

import org.apache.spark.SerializableWritable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 Mongo-extended-JSON document source (SURVEY.md §2 S1) —
  * the engine-shaped half of the reference's MongoDB read: server-side
  * `$project` (`user_table.py:26-53`) and `$match`
  * (`loanapplication_table.py:27-31`) become REAL scan-level column
  * pruning ([[SupportsPushDownRequiredColumns]]) and filter pushdown
  * ([[SupportsPushDownFilters]]) on the document files themselves, not
  * just on downstream parquet.
  *
  *  - `spark.read.format("graft-extjson").schema(s).load(path)` — the
  *    schema is EXPLICIT, always (the repo invariant: absent fields are
  *    typed nulls, never inference; [[ExtJsonParser]] decodes `$oid` /
  *    `$date` wrappers schema-driven).
  *  - Pruned columns are never materialized: the parser `skipChildren()`s
  *    document fields outside the required schema (including nested
  *    pruning — the required schema arrives already nested-pruned).
  *  - Accepted filters are evaluated per row AT THE SCAN on the parse
  *    schema (required ∪ filter-referenced fields), so rejected documents
  *    never leave the reader; unsupported predicates stay Spark-side
  *    residuals. Correctness does not depend on the split: pushdown only
  *    REMOVES rows a residual `FilterExec` would remove anyway.
  *
  * Scale shape: files are listed once at planning and split into byte
  * ranges of `spark.sql.files.maxPartitionBytes` (JSONL is newline-
  * splittable; the standard half-open contract — a reader owns lines
  * STARTING in `[start, start+length)`, reads one line past its end, and
  * every non-initial split discards its first partial line). A 100 TB
  * document drop therefore parallelizes across executors exactly like the
  * builtin file sources, with no driver-side row movement.
  */
final class ExtJsonDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-extjson"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-extjson requires an explicit schema (.schema(...)): document " +
        "sources never infer (SURVEY §1.4) — absent fields must become " +
        "typed nulls for the default chain")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft-extjson needs a path: .load(<file|dir|glob>)")
    new ExtJsonTable(path, schema)
  }
}

/** @param preFilters v1 filters PRE-PUSHED by the logical rewrite
  *   ([[ArrayMatchPushdown]] — predicates on fixed array elements, which
  *   Spark's own filter translation can't hand to `pushFilters`): baked
  *   into every scan this table builds, exactly as if `pushFilters` had
  *   accepted them. Always [[FilterEval.supported]] by construction (the
  *   rewrite checks before it removes anything from the plan).
  * @param arrayTrunc per-top-level-field array-head truncation
  *   ([[ArrayHeadProjection]]'s contract): the parser materializes only
  *   the first k elements of the named array field and token-skips the
  *   rest — sound because the rewrite proved every plan-side use is a
  *   fixed ordinal below k or a null check.
  */
final class ExtJsonTable(path: String, tableSchema: StructType,
    private[v2] val preFilters: Array[Filter] = Array.empty,
    private[v2] val arrayTrunc: Map[String, Int] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String =
    s"extjson:$path" + (if (preFilters.isEmpty) ""
    else s" [${preFilters.mkString(", ")}]") +
      (if (arrayTrunc.isEmpty) ""
      else s" [${arrayTrunc.toSeq.sorted.map { case (f, k) => s"$f<=$k" }
        .mkString(", ")}]")
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ExtJsonScanBuilder(path, tableSchema, options, preFilters, arrayTrunc)

  /** This table with `extra` also pre-pushed (the rewrite's accumulator —
    * stacked Filter nodes each contribute their array conjuncts).
    */
  private[graft] def withPreFilters(extra: Seq[Filter]): ExtJsonTable =
    new ExtJsonTable(path, tableSchema, (preFilters ++ extra).distinct,
      arrayTrunc)

  /** This table with head truncation for `field` at `k` elements; a
    * second registration keeps the LOOSER (larger) bound.
    */
  private[graft] def withArrayTrunc(field: String, k: Int): ExtJsonTable =
    new ExtJsonTable(path, tableSchema, preFilters,
      arrayTrunc + (field -> math.max(k, arrayTrunc.getOrElse(field, 0))))
}

/** One pushed `ORDER BY` key in the reader's serializable form: a
  * top-level field name plus direction/null placement. Nested or computed
  * sort keys are refused at [[ExtJsonScanBuilder.pushTopN]] — Spark then
  * keeps its ordinary global sort.
  */
final case class PushedSort(field: String, descending: Boolean,
    nullsFirst: Boolean)

/** One pushed aggregate in the reader's serializable form. `kind` is
  * `count*` (rows), `count` (non-null values), `min`, `max`, or `sum`;
  * `field` is empty for `count*`.
  */
final case class PushedAgg(kind: String, field: String) {
  def render: String = kind match {
    case "count*" => "COUNT(*)"
    case "countd" => s"COUNT(DISTINCT $field)"
    case k => s"${k.toUpperCase(java.util.Locale.ROOT)}($field)"
  }
}

/** Sum typing shared by the aggregate translation and the metadata
  * answer: which children sum, and Spark's Sum RESULT type, which a
  * metadata answer row carries (it is the final result; nothing re-sums
  * it above the scan).
  */
private[v2] object SumTypes {
  import org.apache.spark.sql.types._
  def summable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | _: DecimalType => true
    case _ => false
  }
  def resultType(child: DataType): DataType = child match {
    case IntegerType | LongType => LongType
    case FloatType | DoubleType => DoubleType
    case d: DecimalType =>
      DecimalType(math.min(38, d.precision + 10), d.scale)
    case other => throw new IllegalStateException(s"unsummable type $other")
  }
}

/** Hive-style `k=v` partition-directory columns for the document source
  * (the `partitionColumns` scan option). A 100 TB document drop is laid
  * out date-keyed (the reference's daily-delta S3 layout,
  * `dags/includes/utils.py:42-47`), and a date predicate must prune
  * DIRECTORIES at listing time — never list-then-filter 100 TB of rows.
  * Values come from the PATH, typed by the user schema; the parser never
  * sees these fields (a same-named JSON field is ignored — the layout is
  * the source of truth, matching the builtin file sources).
  */
private[v2] object PartitionValues {
  import org.apache.spark.sql.types._

  val HiveDefault = "__HIVE_DEFAULT_PARTITION__"

  /** Types a path string can round-trip losslessly. Timestamps are
    * deliberately absent: their path rendering is zone-dependent — a
    * date-partitioned drop should declare DateType.
    */
  def supported(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | DoubleType | BooleanType |
        DateType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Split a directory name into its `k=v` halves, unescaping Hive's
    * `%xx` encoding in the value. Not `URLDecoder`: that decodes '+' to
    * space, which Hive's escapePathName never emits — a literal '+' in a
    * partition value would be silently mangled.
    */
  def segment(name: String): Option[(String, String)] = {
    val eq = name.indexOf('=')
    if (eq <= 0) None
    else Some((name.substring(0, eq), unescape(name.substring(eq + 1))))
  }

  private def unescape(v: String): String =
    if (!v.contains('%')) v
    else {
      val sb = new java.lang.StringBuilder(v.length)
      var i = 0
      while (i < v.length) {
        val c = v.charAt(i)
        if (c == '%' && i + 2 < v.length) {
          val hi = Character.digit(v.charAt(i + 1), 16)
          val lo = Character.digit(v.charAt(i + 2), 16)
          if (hi >= 0 && lo >= 0) { sb.append(((hi << 4) | lo).toChar); i += 3 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Path string → internal value under the DECLARED type. Malformed is
    * LOUD: a directory that doesn't parse at its declared type is a
    * layout bug, and a silent null would group/filter wrong rows.
    */
  def toInternal(raw: String, dt: DataType, where: String): Any =
    if (raw == null || raw == HiveDefault) null
    else try dt match {
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
      case IntegerType => raw.trim.toInt
      case LongType => raw.trim.toLong
      case DoubleType => raw.trim.toDouble
      case BooleanType => raw.trim.toBoolean
      case DateType => java.time.LocalDate.parse(raw.trim).toEpochDay.toInt
      case d: DecimalType =>
        Decimal(new java.math.BigDecimal(raw.trim), d.precision, d.scale)
      case other =>
        throw new IllegalStateException(s"unsupported partition type $other")
    } catch {
      case e: IllegalStateException => throw e
      case e: Exception => throw new IllegalArgumentException(
        s"partition value '$raw' does not parse as ${dt.simpleString} ($where)", e)
    }

  /** Split the reader's row schema into the PARSED part (partition fields
    * removed) and a per-row inserter that splices this split's constant
    * partition values back in at their row-schema ordinals. Identity when
    * the row schema references no partition field (the common case pays
    * nothing).
    */
  def inserter(rowSchema: StructType, partCols: Array[String],
      partValues: Array[String],
      where: String): (StructType, InternalRow => InternalRow) = {
    val isPart: Array[Boolean] = rowSchema.fields.map(f =>
      partCols.exists(_.equalsIgnoreCase(f.name)))
    if (!isPart.exists(identity)) (rowSchema, identity)
    else {
      val dataFields = rowSchema.fields.zip(isPart).collect {
        case (f, false) => f
      }
      val dataSchema = StructType(dataFields)
      val consts: Array[Any] = rowSchema.fields.zip(isPart).map {
        case (f, true) =>
          val j = partCols.indexWhere(_.equalsIgnoreCase(f.name))
          toInternal(if (j >= 0 && j < partValues.length) partValues(j)
            else null, f.dataType, where)
        case _ => null
      }
      val dataTypes = dataFields.map(_.dataType)
      val n = rowSchema.length
      val f = (row: InternalRow) => {
        val out = new Array[Any](n)
        var i = 0
        var j = 0
        while (i < n) {
          if (isPart(i)) out(i) = consts(i)
          else {
            out(i) = if (row.isNullAt(j)) null else row.get(j, dataTypes(j))
            j += 1
          }
          i += 1
        }
        new GenericInternalRow(out)
      }
      (dataSchema, f)
    }
  }
}

final class ExtJsonScanBuilder(path: String, fullSchema: StructType,
    options: CaseInsensitiveStringMap,
    preFilters: Array[Filter] = Array.empty,
    arrayTrunc: Map[String, Int] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  // pre-pushed array-element predicates are part of the pushed set from
  // the start — pushFilters may never run (the rewrite can consume the
  // plan's only Filter node)
  private var pushed: Array[Filter] = preFilters
  private var limit: Int = -1
  private var topSorts: Array[PushedSort] = Array.empty
  private var topLimit: Int = -1
  private var aggs: Array[PushedAgg] = Array.empty
  private var groups: Array[String] = Array.empty

  /** Hive-style partition columns (the `partitionColumns` option, comma
    * separated): each must be a declared TOP-LEVEL field of a path-
    * expressible atomic type — its value comes from `k=v` directory
    * segments, never the JSON ([[PartitionValues]]). Stored under the
    * schema's declared spelling so filter references (which Spark
    * resolves against the relation output) match exactly.
    */
  private val partCols: Array[String] =
    Option(options.get("partitionColumns")).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).map { raw =>
        val f = fullSchema.fields.find(_.name.equalsIgnoreCase(raw))
          .getOrElse(throw new IllegalArgumentException(
            s"partitionColumns names '$raw', not a top-level field of the " +
              s"declared schema ${fullSchema.catalogString}"))
        require(PartitionValues.supported(f.dataType),
          s"partition column '${f.name}' has unsupported type " +
            s"${f.dataType.simpleString} — path values round-trip only " +
            "string/int/long/double/boolean/date/decimal")
        f.name
      }).getOrElse(Array.empty)

  /** A pushable column reference — any depth of struct nesting, resolved
    * through the declared schema ([[FilterEval.resolve]], the same dotted
    * machinery the filter pushdown uses). A reference whose SEGMENTS
    * contain dots or backticks is refused rather than risked: the dotted
    * rendering would be ambiguous, and none of this engine's document
    * schemas need such names.
    */
  private def pathOf(e: org.apache.spark.sql.connector.expressions.Expression,
      needComparable: Boolean): Option[String] = e match {
    case nr: NamedReference
        if !nr.fieldNames().exists(s =>
          s.contains(".") || s.contains("`") || s.contains("[")) =>
      val dotted = nr.fieldNames().mkString(".")
      FilterEval.resolve(dotted, fullSchema)
        .filter(p => !needComparable || comparableAtomic(p.leaf.dataType))
        .map(_ => dotted)
    case _ => None
  }

  /** One v2 aggregate expression → the reader's serializable form —
    * THE single translation, shared by [[pushAggregation]] and the
    * metadata-only answer ([[statsAggAnswer]]) so the two can never
    * disagree on accepted shapes or output order.
    */
  private def translateAggExpr(
      e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc): Option[PushedAgg] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, Max, Min, Sum}
    e match {
      case _: CountStar => Some(PushedAgg("count*", ""))
      case c: Count if !c.isDistinct =>
        pathOf(c.column(), needComparable = false).map(PushedAgg("count", _))
      // COUNT(DISTINCT x): metadata-only — Spark only pushes distinct
      // aggregates under COMPLETE pushdown (partial distincts cannot
      // merge), and pushAggregation refuses the kind without a
      // metadata answer, so it can never reach a scanning reader
      case c: Count if c.isDistinct =>
        pathOf(c.column(), needComparable = true).map(PushedAgg("countd", _))
      case m: Min =>
        pathOf(m.column(), needComparable = true).map(PushedAgg("min", _))
      case m: Max =>
        pathOf(m.column(), needComparable = true).map(PushedAgg("max", _))
      case s: Sum if !s.isDistinct =>
        pathOf(s.column(), needComparable = false)
          .filter(dotted => SumTypes.summable(
            FilterEval.resolve(dotted, fullSchema).get.leaf.dataType))
          .map(PushedAgg("sum", _))
      case _ => None
    }
  }

  /** The document scan answers an aggregate in exactly two ways, both
    * COMPLETE: from metadata ([[statsAggAnswer]]) or, for an unfiltered
    * ungrouped COUNT(*) over one split, by counting that split's rows.
    * So this accepts exactly what [[supportCompletePushDown]] just
    * offered. Every other aggregate (the `$group` stage, which the
    * reference never pushes into MongoDB either) runs as Spark's own
    * partial/final aggregate over the row reader, which counts a
    * COUNT(*)'s lines without parsing them (the newline skim).
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!completeOffered) return false
    groups = aggregation.groupByExpressions().toSeq
      .flatMap(pathOf(_, needComparable = true)).toArray
    aggs = aggregation.aggregateExpressions().toSeq.flatMap(translateAggExpr)
      .toArray
    true
  }

  /** COMPLETE pushdown — Spark plans NO final-merge aggregate, taking the
    * scan's rows as the answer — is offered for a metadata answer, and for
    * the unfiltered, ungrouped, all-COUNT(*) skim over an input that
    * planInputPartitions will plan as ONE split anyway (one nonempty
    * visible file, within the split size or compressed): that split's
    * count IS the answer, and the exchange plus final aggregate above it
    * would buy nothing. Beyond one split the count is REFUSED
    * deliberately: complete pushdown would force a single sequential
    * reader over the whole drop, while Spark's partial aggregate over the
    * row reader skims splits in parallel and ships one LONG each — at
    * 100 TB that final merge costs nothing and the parallelism is
    * everything. (JSONL has no row-count metadata; a parquet-style
    * metadata count exists only through the zone-map sidecar.)
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = {
    val shapeOk =
      limit < 0 && topLimit < 0 && partCols.isEmpty &&
        (aggregation.aggregateExpressions().nonEmpty ||
          aggregation.groupByExpressions().nonEmpty) // group-only = DISTINCT
    // the metadata path accepts FILTERED and GROUPED shapes too (every
    // pushed conjunct zone-decidable per file, every group key constant
    // per file — see statsAggAnswer); the single-split complete count
    // keeps the unfiltered ungrouped gate, since a filter or group makes
    // the count data-dependent without making it cheaper
    statsAnswer = if (shapeOk) statsAggAnswer(aggregation) else None
    completeOffered = (shapeOk && statsAnswer.isDefined) ||
      (shapeOk && pushed.isEmpty &&
        aggregation.groupByExpressions().isEmpty &&
        aggregation.aggregateExpressions().forall(_.isInstanceOf[CountStar]) &&
        singleSplitInput)
    completeOffered
  }

  /** The metadata-only answer row, when one exists: value/type pairs in
    * pushed-aggregate order, rendered in the zone-map canonical string
    * form (null value string = SQL NULL).
    */
  private var statsAnswer: Option[(Array[Array[String]], Array[String])] = None

  /** This read's [[DropSnapshot]], taken at the builder's first need and
    * handed to the scan, so the probes below and the planned splits see
    * the same files. Spark pushes filters before it offers aggregates,
    * so the listing's directory pruning sees the final pushed set.
    */
  private lazy val snap = new DropSnapshot(path, fullSchema, partCols, pushed)

  /** MIN/MAX/COUNT/SUM answered ENTIRELY from the zone-map sidecar — the
    * parquet-footer aggregate pushdown equivalent (Spark's own
    * `spark.sql.parquet.aggregatePushdown` answers these from row-group
    * statistics; a JSONL drop's footer is the `_graft_zonemaps` sidecar):
    * when the drop has a sidecar and EVERY listed file carries a
    * length+mtime-matched stats row for every referenced column, the
    * answer is a fold over O(files) sidecar rows — the scan reads ZERO
    * data bytes at any corpus size. FILTERED shapes are accepted when
    * the pushed conjuncts are zone-DECIDABLE for every file: files where
    * some conjunct is provably all-false contribute nothing (exactly
    * what the scan would prune), and every surviving file must be
    * provably ALL-TRUE ([[ZoneMaps.Truth.all]]) so its stats speak
    * for its filtered rows — Iceberg's residual elimination applied to
    * aggregation. GROUPED shapes are accepted when every group-by column
    * is CONSTANT per file (min == max, no nulls — or all-null: the null
    * group) — the write-key-clustered layout — folding files per key
    * tuple, one answer row per group (the JDBC-style complete GROUP BY
    * pushdown, from metadata). Any gap (one unindexed or rewritten file,
    * one uncovered column, one undecidable survivor, one non-constant
    * group key) refuses, falling back to Spark's own aggregate over the
    * row reader.
    */
  private def statsAggAnswer(
      aggregation: Aggregation): Option[(Array[Array[String]], Array[String])] = {
    // the SAME translations pushAggregation registers, so the answer
    // rows align with the pushed layout (group columns first) by
    // construction; float/double sums refuse per-aggregate below
    // (order-dependent — no exact sidecar form), integer/decimal sums
    // answer from the exact per-file sums
    val parsed: Seq[Option[PushedAgg]] =
      aggregation.aggregateExpressions().toSeq.map(translateAggExpr)
    if (parsed.exists(_.isEmpty)) return None
    val wanted = parsed.flatten
    val groupParsed: Seq[Option[String]] = aggregation.groupByExpressions()
      .toSeq.map(pathOf(_, needComparable = true))
    if (groupParsed.exists(_.isEmpty)) return None
    val groupCols = groupParsed.flatten
    try {
      if (snap.stats.isEmpty) return None
      // every file must be covered by a fresh stats row — one gap and
      // the metadata can't speak for the corpus. Then zone-decide the
      // pushed filter set per file: all-false files drop (they
      // contribute no rows to the true answer either); anything kept
      // must be all-TRUE or the stats can't speak for its subset of
      // rows. Phase-1 stats carry no blooms — `maybe` is then purely
      // min/max, which only costs refusals, never wrong answers.
      val perFile = snap.listing.flatMap { case (st, _) =>
        val m = snap.statsOf(st).getOrElse(return None).cols
        val t = ZoneMaps.truth(pushed.toSeq, m, fullSchema)
        if (!t.maybe) None else if (t.all) Some(m) else return None
      }
      // group key per file: every group column must be provably
      // single-valued across the file — constant (min == max, no nulls)
      // or all-null (the SQL null group). Zero-row files join no group.
      val keyed: Seq[(Seq[String], Map[String, ZoneMaps.ColStats])] =
        perFile.flatMap { m =>
          if (m.values.headOption.exists(_.rows == 0L)) None
          else Some((groupCols.map { g =>
            val dt = leafType(g)
            m.get(g) match {
              case Some(cs) if cs.nulls == cs.rows => null
              case Some(cs) if cs.nulls == 0L && cs.min.isDefined &&
                  FilterEval.compareInternal(dt, cs.min.get, cs.max.get) == 0 =>
                ZoneMaps.render(cs.min.get, dt)
              case _ => return None
            }
          }, m))
        }
      val byKey = scala.collection.mutable.LinkedHashMap
        .empty[Seq[String], Vector[Map[String, ZoneMaps.ColStats]]]
      keyed.foreach { case (k, m) =>
        byKey(k) = byKey.getOrElse(k, Vector.empty) :+ m
      }
      // ungrouped: ONE answer row even over zero files (a global
      // aggregate of an empty set is a row of 0/NULL, not no rows)
      if (groupCols.isEmpty && byKey.isEmpty) byKey(Seq.empty) = Vector.empty
      // the TYPES depend only on the pushed shape — filled up front so a
      // grouped query whose every file was zone-pruned answers an EMPTY
      // row set with a complete type array (a per-row fill would ship
      // null type slots and crash the reader on a correct zero-group
      // result)
      val types = new Array[String](groupCols.length + wanted.length)
      groupCols.zipWithIndex.foreach { case (g, i) =>
        types(i) = leafType(g).json
      }
      wanted.zipWithIndex.foreach { case (a, j) =>
        types(groupCols.length + j) = a.kind match {
          case "count*" | "count" | "countd" =>
            org.apache.spark.sql.types.LongType.json
          case "sum" =>
            val dt = leafType(a.field)
            if (!ZoneMaps.exactSummable(dt)) return None
            SumTypes.resultType(dt).json
          case _ => leafType(a.field).json
        }
      }
      val rows = byKey.toSeq.map { case (key, group) =>
        val row = new Array[String](types.length)
        key.zipWithIndex.foreach { case (v, i) => row(i) = v }
        wanted.zipWithIndex.foreach { case (a, j) =>
          val i = groupCols.length + j
          a.kind match {
            case "count*" =>
              // rows is carried on every indexed column's row — any one
              // column per file suffices
              val n = group.map { m =>
                m.values.headOption match {
                  case Some(cs) => cs.rows
                  case None => return None
                }
              }
              row(i) = n.sum.toString
            case "count" =>
              val nonNull = group.map(m => m.get(a.field) match {
                case Some(cs) => cs.rows - cs.nulls
                case None => return None
              })
              row(i) = nonNull.sum.toString
            case "countd" =>
              // per-file EXACT distinct counts (the v4 sidecar records
              // them whenever the column's non-null sequence is proven
              // file-order monotone) fold across files ONLY when the
              // files' value ranges form a chain overlapping in at most
              // single boundary values: counts add, minus one per
              // adjacent pair sharing its boundary value (min/max are
              // that boundary for a monotone file). Any genuine overlap
              // refuses — the distincts would double-count unknowably.
              val dt = leafType(a.field)
              val fl = group.flatMap { m =>
                m.get(a.field) match {
                  case Some(cs) =>
                    if (cs.rows - cs.nulls == 0L) None // contributes 0
                    else if (cs.distinct.isEmpty || cs.min.isEmpty)
                      return None
                    else Some((cs.min.get, cs.max.get, cs.distinct.get))
                  case None => return None
                }
              }
              val chain = fl.sortWith { (x, y) =>
                val c = FilterEval.compareInternal(dt, x._1, y._1)
                c < 0 || (c == 0 &&
                  FilterEval.compareInternal(dt, x._2, y._2) < 0)
              }
              var total = 0L
              chain.foreach(f => total += f._3)
              chain.zip(chain.drop(1)).foreach { case (p, q) =>
                val c = FilterEval.compareInternal(dt, p._2, q._1)
                if (c > 0) return None
                if (c == 0) total -= 1L
              }
              row(i) = total.toString
            case "sum" =>
              // exact (integer/decimal) sums fold from the per-file
              // sidecar sums; a value that would overflow the SQL result
              // type refuses — the real computation then reproduces
              // Spark's own overflow semantics instead of a
              // silently-different answer
              val dt = leafType(a.field)
              val resT = SumTypes.resultType(dt)
              var total = java.math.BigDecimal.ZERO
              var nonNull = 0L
              group.foreach { m =>
                m.get(a.field) match {
                  case Some(cs) if cs.sum.isDefined =>
                    total = total.add(cs.sum.get)
                    nonNull += cs.rows - cs.nulls
                  case _ => return None
                }
              }
              row(i) =
                if (nonNull == 0L) null // SQL: SUM over no values is NULL
                else resT match {
                  case org.apache.spark.sql.types.LongType =>
                    try total.longValueExact().toString
                    catch { case _: ArithmeticException => return None }
                  case d: org.apache.spark.sql.types.DecimalType =>
                    val dec = org.apache.spark.sql.types.Decimal(total)
                    if (!dec.changePrecision(d.precision, d.scale))
                      return None
                    dec.toJavaBigDecimal.toPlainString
                  case _ => return None
                }
            case k =>
              val dt = leafType(a.field)
              var best: Any = null
              group.foreach { m =>
                m.get(a.field) match {
                  case Some(cs) =>
                    val v = if (k == "min") cs.min.orNull else cs.max.orNull
                    if (v != null && (best == null || {
                      val c = FilterEval.compareInternal(dt, v, best)
                      if (k == "min") c < 0 else c > 0
                    })) best = v
                  case None => return None
                }
              }
              row(i) = if (best == null) null else ZoneMaps.render(best, dt)
          }
        }
        row
      }
      // the pushed-aggs registration happens in pushAggregation; the
      // answer rows just have to align with its layout, which this shares
      Some((rows.toArray, types))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Leaf type of a (possibly dotted) path against the declared schema. */
  private def leafType(field: String): org.apache.spark.sql.types.DataType =
    FilterEval.resolve(field, fullSchema).get.leaf.dataType

  /** Whether the last [[supportCompletePushDown]] probe said yes — Spark
    * then calls `pushAggregation`, which accepts exactly then, and plans
    * WITHOUT the final merge, so the scan must hold the single-partition
    * invariant.
    */
  private var completeOffered = false

  /** Does the snapshot plan as exactly one split: one nonempty file,
    * within the split size or compressed? The scan plans from the same
    * snapshot, so its single-partition `require` holds by construction.
    */
  private def singleSplitInput: Boolean = try snap.listing match {
    case Seq((f, _)) => f.getLen <= snap.maxSplit || snap.compressed(f)
    case _ => false
  } catch { case scala.util.control.NonFatal(_) => false }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) =
      filters.partition(FilterEval.supported(_, fullSchema))
    pushed = (preFilters ++ accepted).distinct
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** `LIMIT n` reaches the reader as a PARTIAL limit (each split stops
    * parsing after its first `n` kept rows — [[isPartiallyPushed]] stays
    * true, so Spark's own global Limit still runs on top): a
    * `.limit(100)` probe over a 100 TB document drop parses ~100 lines
    * per split instead of every line, the `$limit`-stage analogue of the
    * reference's aggregate pipeline.
    */
  override def pushLimit(n: Int): Boolean = {
    // defensive: Spark never pushes a limit below an Aggregate today, but
    // a partial limit applied under a pushed aggregation would change the
    // aggregates — refuse rather than rely on the reader ignoring it
    if (aggs.nonEmpty || groups.nonEmpty) return false
    limit = n
    true
  }

  /** `ORDER BY … LIMIT n` reaches each split as a PARTIAL top-N (the
    * `$sort + $limit` probe): the reader keeps a bounded n-row heap of
    * its kept rows instead of shipping every parsed row into Spark's
    * global sort — the global top-N is a subset of the per-split top-Ns,
    * so [[isPartiallyPushed]]'s outer TakeOrdered stays correct while a
    * 100 TB probe ships n rows per split instead of the corpus. Accepted
    * for comparable atomic fields at ANY struct depth (dotted paths —
    * `ORDER BY profile.acctbal` is idiomatic over nested documents);
    * anything else falls back to the full scan + sort.
    */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (aggs.nonEmpty || groups.nonEmpty || n < 0) return false
    val parsed: Seq[Option[PushedSort]] = orders.toSeq.map { so =>
      pathOf(so.expression(), needComparable = true).map(dotted =>
        PushedSort(dotted,
          so.direction() == SortDirection.DESCENDING,
          so.nullOrdering() == NullOrdering.NULLS_FIRST))
    }
    if (parsed.exists(_.isEmpty)) false
    else {
      topSorts = parsed.flatten.toArray
      topLimit = n
      true
    }
  }

  override def isPartiallyPushed(): Boolean = true

  private def comparableAtomic(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | BooleanType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | _: DecimalType => true
      case _ => false
    }
  }

  override def build(): Scan = {
    val aggPushed = aggs.nonEmpty || groups.nonEmpty
    new ExtJsonScan(snap, required, pushed, limit, aggs,
      topSorts, topLimit, groups,
      completeCount = aggs.nonEmpty && statsAnswer.isEmpty,
      arrayTrunc = arrayTrunc,
      statsAnswer = if (aggPushed) statsAnswer else None,
      // storage-partitioned reads (KeyGroupedPartitioning over the hive
      // layout) and the range-layout aggregation strategy's opt-in
      reportPartitioning =
        Option(options.get("reportPartitioning")).exists(_.toBoolean),
      rangeAggregation =
        Option(options.get("rangeAggregation")).exists(_.toBoolean))
  }
}

final class ExtJsonScan(snap: DropSnapshot,
    required: StructType, val pushed: Array[Filter],
    val pushedLimit: Int = -1,
    val pushedAggs: Array[PushedAgg] = Array.empty,
    val pushedSorts: Array[PushedSort] = Array.empty,
    val pushedTopN: Int = -1,
    val pushedGroups: Array[String] = Array.empty,
    val completeCount: Boolean = false,
    val arrayTrunc: Map[String, Int] = Map.empty,
    val statsAnswer: Option[(Array[Array[String]], Array[String])] = None,
    val reportPartitioning: Boolean = false,
    val rangeAggregation: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  import snap.{fullSchema, listing, partRow, partSchema, partTypes,
    partitionOnly, path, statsOf}

  val partCols: Array[String] = snap.partCols

  /** RUNTIME filters (dynamic pruning): Spark derives them from a join's
    * build side after it materializes — e.g. `k IN (join keys actually
    * present)` — and hands them here mid-execution, BEFORE partitions are
    * re-planned and readers are created. Evaluated per row at the scan
    * exactly like statically pushed filters, so a selective dimension
    * join drops fact-side documents in the reader instead of shipping
    * them to the join. Correctness-neutral by the same argument as
    * static pushdown: the join above would drop those rows anyway.
    */
  private var runtime: Array[Filter] = Array.empty

  /** Only the scan's OUTPUT columns are declared filterable: the pruning
    * rule resolves these names against the relation's output, so a
    * pruned-away field here is an AnalysisException in any query that
    * joins this scan (count pushdown exposes no columns at all). NESTED
    * leaves are exposed as dotted paths alongside their parent structs —
    * a join keyed on `profile.custkey` then gets dynamic pruning too
    * (Spark's runtime-filter translation goes through
    * `PushableColumnAndNestedColumn`, and the resulting dotted v1 `In`
    * evaluates through the same compiled struct-walking getters as
    * statically pushed nested predicates). Segments containing dots or
    * backticks stay unexposed — their dotted rendering would be
    * ambiguous.
    */
  override def filterAttributes(): Array[NamedReference] =
    if (aggPushed) Array.empty
    else {
      def paths(prefix: Seq[String],
          st: StructType): Seq[Seq[String]] =
        st.fields.toSeq
          .filter(f => !f.name.contains(".") && !f.name.contains("`") &&
            !f.name.contains("["))
          .flatMap { f =>
            f.dataType match {
              case s: StructType =>
                (prefix :+ f.name) +: paths(prefix :+ f.name, s)
              case _ => Seq(prefix :+ f.name)
            }
          }
      // Expressions.column PARSES its argument as a multipart SQL
      // identifier — a raw `$oid` segment is a parse error — so every
      // segment is backtick-quoted (backtick-carrying names are already
      // filtered out above)
      paths(Nil, readSchema())
        .map(p => org.apache.spark.sql.connector.expressions.Expressions
          .column(p.map(s => s"`$s`").mkString(".")))
        .toArray
    }

  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters.filter(FilterEval.supported(_, fullSchema))
  }

  /** Whether an aggregation is pushed to this scan: always a complete
    * one — the metadata answer ([[statsAnswer]]) or the single-split
    * COUNT(*) ([[completeCount]]).
    */
  def aggPushed: Boolean = pushedAggs.nonEmpty || pushedGroups.nonEmpty

  /** Static + runtime predicates, the set the readers actually apply. */
  private def allFilters: Array[Filter] = pushed ++ runtime

  /** Test hook: the runtime filters this scan actually received. */
  private[graft] def runtimeFilters: Array[Filter] = runtime

  /** Leaf type of a (possibly dotted) pushed path. */
  private def leafType(field: String): org.apache.spark.sql.types.DataType =
    FilterEval.resolve(field, fullSchema).get.leaf.dataType

  /** With a pushed aggregation: group columns FIRST (in pushed order),
    * then aggregate columns — the layout `V2ScanRelationPushDown` splits
    * the scan output on (`splitAt(groupingExpressions.length)`). Group
    * keys are nullable (SQL groups null keys into one group).
    */
  override def readSchema(): StructType =
    if (aggPushed)
      StructType(pushedGroups.map(g => org.apache.spark.sql.types.StructField(
        g, leafType(g), nullable = true)) ++
        pushedAggs.map { a =>
          a.kind match {
            case "count*" | "count" | "countd" =>
              org.apache.spark.sql.types.StructField(
                a.render.toLowerCase(java.util.Locale.ROOT),
                org.apache.spark.sql.types.LongType, nullable = false)
            case "sum" => org.apache.spark.sql.types.StructField(
              a.render.toLowerCase(java.util.Locale.ROOT),
              SumTypes.resultType(leafType(a.field)), nullable = true)
            case _ => org.apache.spark.sql.types.StructField(
              a.render.toLowerCase(java.util.Locale.ROOT),
              leafType(a.field), nullable = true)
          }
        })
    else required

  override def description(): String =
    s"ExtJson $path, ReadSchema: ${readSchema().catalogString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      (if (pushedLimit >= 0) s", PushedLimit: $pushedLimit" else "") +
      (if (pushedTopN >= 0)
        s", PushedTopN: ORDER BY [${pushedSorts.mkString(", ")}] LIMIT $pushedTopN"
      else "") +
      (if (aggPushed)
        s", PushedAggregation: [${pushedAggs.map(_.render).mkString(", ")}]" +
          (if (statsAnswer.isDefined) " (complete, metadata-only)"
          else " (complete)") +
          (if (pushedGroups.nonEmpty)
            s", PushedGroupBy: [${pushedGroups.mkString(", ")}]"
          else "")
      else "") +
      (if (arrayTrunc.nonEmpty)
        s", ArrayHead: [${arrayTrunc.toSeq.sorted
          .map { case (f, k) => s"$f<=$k" }.mkString(", ")}]"
      else "") +
      // reports only once planning has loaded the sidecar — description
      // must never force a sidecar read just to explain a plan
      (snap.loadedStats match {
        case Some(m) if m.nonEmpty =>
          s", ZoneMaps: ${m.size} files indexed, pruned $zonePrunedFiles" +
            (if (zonePrunedBlocks > 0) s" files, $zonePrunedBlocks blocks"
            else "") +
            (if (bloomBlobsFetched > 0) s", $bloomBlobsFetched blooms probed"
            else "") +
            (if (blockRowsFetched > 0) s", $blockRowsFetched block rows fetched"
            else "") +
            (if (topNPrunedFiles > 0 || topNPrunedBlocks > 0)
              s", TopN-pruned $topNPrunedFiles files, $topNPrunedBlocks blocks"
            else "") +
            (if (limitPrunedFiles > 0 || limitPrunedBlocks > 0)
              s", Limit-covered: dropped $limitPrunedFiles files, $limitPrunedBlocks blocks"
            else "")
        case _ => ""
      }) +
      (if (partCols.nonEmpty)
        s", PartitionColumns: [${partCols.zip(partTypes)
          .map { case (c, t) => s"$c ${t.simpleString}" }.mkString(", ")}]" +
          // counts only once the walk has happened — description must
          // never FORCE a listing just to explain a plan
          (if (snap.listed)
            s", PartitionPruning: ${snap.prunedDirs.get} dirs, ${prunedFiles.get} files"
          else "")
      else "")

  /** Planner statistics ([[SupportsReportStatistics]]): real byte size
    * from the listing instead of the default-to-
    * spark.sql.defaultSizeInBytes guess a statless V2 relation gets —
    * and, when the drop has a sidecar, POST-PRUNE numbers: files the pushed
    * static filters provably empty (partition-path or zone-decided)
    * contribute neither bytes nor rows, and surviving indexed files
    * contribute their exact sidecar row counts. At 100 TB this is what
    * lets the optimizer BROADCAST a selectively-filtered document scan
    * (one matching band of a clustered drop) instead of shuffle-joining
    * the whole corpus' advertised size. Row counts are reported only
    * when every surviving file is indexed — a sum with a hole isn't an
    * estimate, it's a guess — and are an UPPER bound (per-row filtering
    * inside surviving files may drop more), the safe direction for
    * broadcast decisions. Runtime filters arrive after optimization and
    * deliberately don't participate.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val (bytes, rows) = {
      val partFilters = pushed.filter(partitionOnly)
      val kept =
        if (partFilters.isEmpty) listing
        else listing.filter { case (f, vals) =>
          FilterEval.keep(partFilters, partSchema,
            partRow(vals, f.getPath.toString))
        }
      val zoneFilters = pushed.filterNot(f =>
        f.references.exists(r => partCols.exists(_.equalsIgnoreCase(r))))
      if (snap.stats.isEmpty)
        (kept.map(_._1.getLen).sum, None)
      else {
        var b = 0L
        var r = 0L
        var complete = true
        kept.foreach { case (f, _) =>
          statsOf(f) match {
            case Some(s)
              if ZoneMaps.truth(zoneFilters.toSeq, s.cols, fullSchema).maybe =>
              b += f.getLen
              s.cols.values.headOption match {
                case Some(cs) => r += cs.rows
                case None => complete = false
              }
            case Some(_) => () // provably all-drop: contributes nothing
            case None => b += f.getLen; complete = false
          }
        }
        (b, if (complete) Some(r) else None)
      }
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      rows.map(java.util.OptionalLong.of)
        .getOrElse(java.util.OptionalLong.empty())
  }

  override def toBatch: Batch = this

  /** STORAGE-PARTITIONED reads ([[SupportsReportPartitioning]], opted in
    * via `reportPartitioning`): a hive-layout drop's rows are clustered
    * by their `k=v` path values BY CONSTRUCTION, so the scan reports
    * identity [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * over the partition columns and every planned split carries its
    * partition-value tuple as a [[HasPartitionKey]] key. Spark then
    * satisfies clustered distributions straight from the layout: two
    * co-partitioned drops JOIN on the partition keys with ZERO exchange
    * (the Iceberg storage-partitioned join, rebuilt for the JSONL lake),
    * and a GROUP BY the partition keys aggregates exchange-free — at
    * 100 TB the difference between a layout lookup and shuffling the
    * corpus. Identity transforms resolve against the relation output
    * without any function catalog; when a query prunes the partition
    * columns away, Spark drops the partitioning report (fail-soft, plans
    * as before). A pushed aggregate never meets partition columns (both
    * complete modes refuse them), so its one partition needs no key.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    if (!reportPartitioning || partCols.isEmpty)
      return new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    val keys: Array[org.apache.spark.sql.connector.expressions.Expression] =
      partCols.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)
          .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression])
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      keys, listing.map(_._2.toSeq).distinct.size)
  }

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    ScanMetrics.supported

  /** Filter-referenced fields the pruned schema dropped (Spark prunes a
    * column out of the required schema precisely when only fully pushed
    * filters touch it) — the reader parses the DEEP MERGE of required and
    * the filter-referenced paths and emits the required projection. The
    * merge is prefix-preserving at every nesting level (required fields
    * first, in order; filter-only fields/subfields appended), so the
    * reader's projection is a recursive prefix copy.
    */
  private def parseSchema: StructType = {
    // count pushdown: Spark builds the scan BEFORE its prune step runs,
    // so `required` still carries the full schema — but the complete
    // count reads no column (a metadata answer reads no line at all)
    val base = if (aggPushed) Array.empty[StructField] else required.fields
    // partition-only filters never reach a reader (enforced at listing /
    // plan time), so their references don't belong in the row schema
    val paths = readerFilters.flatMap(_.references).distinct.toSeq
      .filterNot(_.contains("`"))
      .map(_.split("\\.", -1).toSeq)
    SchemaMerge.merge(base, paths, fullSchema)
  }

  /** The filters the READERS evaluate per row: everything pushed or
    * runtime, minus partition-only predicates — those are fully decided
    * by the file's path and already enforced by directory/file pruning
    * (every row of a surviving file satisfies them; a file outside the
    * matching layout was dropped at plan time).
    */
  private def readerFilters: Array[Filter] =
    if (partCols.isEmpty) allFilters else allFilters.filterNot(partitionOnly)

  /** Files the full partition-filter set (static + runtime) dropped at
    * the LATEST planning round (AQE / runtime-filter re-planning
    * re-plans; the newest count is the one a plan description should
    * show) — beside the snapshot's pruned directories, the observability
    * a pruning scan owes: "read 3 files" must be distinguishable from
    * "there were only 3".
    */
  private val prunedFiles = new java.util.concurrent.atomic.AtomicInteger(0)

  @volatile private var zonePrunedFiles = 0
  @volatile private var zonePrunedBlocks = 0

  /** Test/observability hook: bloom blobs actually deserialized by the
    * LAST planning round — the phase-2 load is lazy, so a range-only
    * query must leave this at 0.
    */
  @volatile private[graft] var bloomBlobsFetched = 0

  /** Test/observability hook: block stats rows actually deserialized by
    * the LAST planning round — the phase-1.5 load is lazy and scoped to
    * min/max survivors whose file-level row says blocks exist, so a
    * file-level-only plan (no block-indexed files) must leave this at 0.
    */
  @volatile private[graft] var blockRowsFetched = 0

  /** Zone-map pruning over the reader-side filter set, TWO-PHASE: files
    * are dropped when some pushed conjunct is PROVABLY false for every
    * row under their min/max stats ([[ZoneMaps.truth]] is conservative;
    * stats-less and length/mtime-changed files always survive); bloom
    * blobs are then fetched ONLY for equality/IN-probed columns and ONLY
    * for the min/max survivors — the lazy second read parquet gives bloom
    * pages, so a range-only query never pays a blob byte and a point
    * lookup pays survivors × probed columns. Runtime filters participate
    * — a dimension join's observed keys can skip whole fact files
    * mid-execution. Each survivor is a [[KeptFile]]: its stats, its
    * surviving blocks for split-level skipping, and the all-rows-survive
    * proof for residual elimination and top-N/LIMIT coverage.
    */
  private def zonePrune(
      files: Seq[(FileStatus, Array[String])]): Seq[KeptFile] = {
    // a filter touching ANY partition column is out of the zone algebra's
    // reach: partition values come from the PATH and the file bodies
    // parse them as null, so body stats would answer "no non-null
    // values" and wrongly kill a disjunct the spliced values satisfy
    // (partition-ONLY filters were already removed; this drops the MIXED
    // ones). Emptiness is checked before the stats so an unfiltered scan
    // never pays the sidecar load.
    val filters = readerFilters.filterNot(f =>
      f.references.exists(r => partCols.exists(_.equalsIgnoreCase(r)))).toSeq
    // top-N pruning applies even to UNFILTERED scans (ORDER BY key
    // LIMIT n over a clustered drop is the archive-probe shape); a
    // partition-column first key is path-decided and handled elsewhere
    val wantTopN = pushedTopN >= 0 && pushedSorts.nonEmpty &&
      !partCols.exists(_.equalsIgnoreCase(pushedSorts.head.field))
    // a plain LIMIT takes ANY n rows: once the sidecar GUARANTEES n
    // surviving rows in a prefix of zones, the rest of a 100 TB listing
    // need not be planned at all
    val wantLimit = pushedLimit >= 0 && pushedTopN < 0 && !aggPushed
    topNPrunedFiles = 0
    topNPrunedBlocks = 0
    limitPrunedFiles = 0
    limitPrunedBlocks = 0
    // every row of a zone survives when the readers evaluate nothing, or
    // the zone algebra proved the WHOLE reader-side filter set true (a
    // mixed partition/data filter is excluded above but still evaluated
    // per row)
    val noFilters = readerFilters.isEmpty
    val sawAll = filters.nonEmpty && filters.length == readerFilters.length
    def allRows(t: ZoneMaps.Truth): Boolean = noFilters || (sawAll && t.all)
    if ((filters.isEmpty && !wantTopN && !wantLimit) || snap.stats.isEmpty)
      return files.map { case (f, v) => KeptFile(f, v, None, noFilters, None) }
    // phase 1: min/max/null (the loaded stats carry no blooms or blocks
    // yet — both load lazily below, scoped to this phase's survivors)
    val phase1 = files.flatMap { case (f, vals) =>
      val key = snap.key(f)
      snap.stats.get(key) match {
        case None => Some((f, vals, key, None))
        case Some(s) =>
          val t = ZoneMaps.truth(filters, s.cols, fullSchema)
          if (t.maybe) Some((f, vals, key, Some((s, t)))) else None
      }
    }
    // phase 1.5: block rows for the min/max SURVIVORS whose file-level
    // row says block stats exist (None = pre-v3 sidecar: probe anyway).
    // The lazy read is what keeps planning O(survivors · blocks), not
    // O(corpus · blocks): a query whose file pass keeps three files pays
    // three files' block rows however many the drop holds.
    val blockProbed = phase1.collect {
      case (_, _, key, Some((s, _))) if s.blockRows.forall(_ > 0L) => key._1
    }.toSet
    val blockMap: Map[(String, Long, Long), Seq[ZoneMaps.BlockStats]] =
      if (blockProbed.isEmpty) Map.empty
      else try ZoneMaps.loadBlockStats(SparkSession.active, path,
        fullSchema, blockProbed)
      catch { case scala.util.control.NonFatal(_) => Map.empty }
    blockRowsFetched =
      blockMap.valuesIterator.map(_.iterator.map(_.cols.size).sum).sum
    // phase 2: bloom membership for the survivors' equality/IN probes
    val eqCols = filters.flatMap(ZoneMaps.eqProbedCols).toSet
      .filter(c => FilterEval.resolve(c, fullSchema).isDefined)
    val probed = phase1.collect { case (_, _, key, Some(_)) => key._1 }.toSet
    val blooms: Map[(String, Long, Long), Map[String, org.apache.spark.util.sketch.BloomFilter]] =
      if (eqCols.isEmpty || probed.isEmpty) Map.empty
      else try ZoneMaps.loadBlooms(SparkSession.active, path, fullSchema,
        eqCols, probed)
      catch { case scala.util.control.NonFatal(_) => Map.empty }
    bloomBlobsFetched = blooms.valuesIterator.map(_.size).sum
    // order-aware verdicts: with a pushed ASC top-N whose first key the
    // sidecar PROVES null-free and non-decreasing in file order, readers
    // may stop parsing at the n-th kept row (any byte-range split of a
    // sorted file is itself sorted)
    val sortKeyAsc: Option[String] =
      if (wantTopN && !pushedSorts.head.descending) Some(pushedSorts.head.field)
      else None
    var blocksDropped = 0
    val kept = phase1.flatMap {
      case (f, vals, _, None) => Some(KeptFile(f, vals, None, noFilters, None))
      case (f, vals, key, Some((s, t))) =>
        // only a bloom-augmented stats map can change the phase-1
        // verdict (blooms inform `maybe` alone) — re-evaluating against
        // unchanged stats would double the planning-time zone work of
        // every bloomless file on a large listing
        val dropped = blooms.get(key).exists { bs =>
          val cols = s.cols.map { case (c, cs) =>
            c -> bs.get(c).map(b => cs.copy(bloom = Some(b))).getOrElse(cs)
          }
          !ZoneMaps.truth(filters, cols, fullSchema).maybe
        }
        if (dropped) None
        else {
          val all = allRows(t)
          // block verdicts: min/max only (blooms are file-level); a
          // block the algebra can't bound survives, like a file
          val blocks = blockMap.get(key).map { bs =>
            val surviving = bs.flatMap { b =>
              val bt = ZoneMaps.truth(filters, b.cols, fullSchema)
              Option.when(bt.maybe)((b, all || allRows(bt)))
            }
            blocksDropped += bs.size - surviving.size
            surviving
          }
          Some(KeptFile(f, vals, Some(s), all, blocks,
            sortKeyAsc.exists(k => s.cols.get(k).exists(_.sorted))))
        }
    }
    val narrowedTop = if (wantTopN) topNPrune(kept) else kept
    val narrowed = if (wantLimit) limitPrune(narrowedTop) else narrowedTop
    zonePrunedFiles = files.size - narrowed.size
    zonePrunedBlocks = blocksDropped
    narrowed
  }

  /** LIMIT coverage pruning: `LIMIT n` may return ANY n surviving rows,
    * so once a PREFIX of zones (files, or blocks when block stats exist)
    * whose rows are all guaranteed to survive the pushed filters — no
    * filters, or zone-proved all-true — accumulates ≥ n rows, every
    * remaining file is dropped and the covering file is truncated to its
    * covering blocks. A `.limit(100)` probe of a 100 TB drop then plans
    * one file (one block, when indexed) instead of the listing. No
    * pruning happens unless coverage is actually reached — partial
    * guarantees keep everything, and non-guaranteed zones in the prefix
    * ride along untouched (they can only ADD surviving rows).
    */
  private def limitPrune(kept: Seq[KeptFile]): Seq[KeptFile] = {
    var acc = 0L
    var covered = false
    def count(all: Boolean, cols: Map[String, ZoneMaps.ColStats]): Unit =
      if (all) cols.values.headOption.foreach { cs =>
        acc += cs.rows
        if (acc >= pushedLimit) covered = true
      }
    val out = Seq.newBuilder[KeptFile]
    var droppedFiles = 0
    var droppedBlocks = 0
    kept.foreach { k =>
      if (covered) droppedFiles += 1
      else k.blocks match {
        case Some(bs) =>
          // block-granular coverage: keep only the prefix of surviving
          // blocks needed to finish the guarantee
          val taken = Seq.newBuilder[(ZoneMaps.BlockStats, Boolean)]
          bs.foreach { case z @ (b, all) =>
            if (covered) droppedBlocks += 1
            else { taken += z; count(all, b.cols) }
          }
          out += k.copy(blocks = Some(taken.result()))
        case None =>
          // stats-less files carry unknown rows: they ride along
          out += k
          k.stats.foreach(s => count(k.all, s.cols))
      }
    }
    if (covered) {
      limitPrunedFiles = droppedFiles
      limitPrunedBlocks = droppedBlocks
      out.result()
    } else kept
  }

  @volatile private var limitPrunedFiles = 0
  @volatile private var limitPrunedBlocks = 0

  @volatile private var topNPrunedFiles = 0
  @volatile private var topNPrunedBlocks = 0

  /** TOP-N zone pruning — the Snowflake-style capability parquet lacks:
    * `ORDER BY key [DESC] LIMIT n` drops files (and blocks) that
    * provably cannot reach the global top-N. Construction: accumulate,
    * best-first by each file's WORST surviving value on the first sort
    * key (min for DESC, max for ASC), enough files to GUARANTEE `n`
    * surviving rows at-or-better-than a threshold T; any file/block
    * whose BEST value is strictly worse than T can then never displace
    * them — strictness makes later tiebreak keys irrelevant. Soundness
    * details:
    *  - guarantees come only from zones whose rows ALL survive the
    *    pushed filters (no filters, or zone-proved all-true) — a
    *    partially filtered zone's row count can't back the threshold;
    *    PRUNING needs no such proof (dropping rows below n guaranteed
    *    rows is safe whatever the filters would have done to them);
    *  - accumulated guarantee files have bound ≥ T, so their own best
    *    (max ≥ min ≥ T for DESC) is never strictly worse — the rows
    *    backing the threshold can never be pruned, file- or block-level;
    *  - NULLS FIRST makes null rows outrank everything: they join the
    *    guarantee count, and any file/block holding one is unprunable;
    *    NULLS LAST ranks them below everything — prunable alongside;
    *  - stats-less/stale files neither guarantee nor prune (kept).
    */
  private def topNPrune(kept: Seq[KeptFile]): Seq[KeptFile] = {
    val s0 = pushedSorts.head
    val dt = FilterEval.resolve(s0.field, fullSchema)
      .map(_.leaf.dataType).getOrElse(return kept)
    if (!ZoneMaps.indexable(dt)) return kept
    val desc = s0.descending
    def cmp(a: Any, b: Any): Int = FilterEval.compareInternal(dt, a, b)
    // guarantee pass: bounds and counts of fully-surviving zones — at
    // BLOCK granularity when block stats exist (a single sorted file's
    // file-level bound is its global worst and guarantees nothing; its
    // tail block's bound is sharp), else the file as one zone
    var nullsTotal = 0L
    val bounds = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
    def addZone(all: Boolean, cols: Map[String, ZoneMaps.ColStats]): Unit =
      if (all) cols.get(s0.field).foreach { cs =>
        if (s0.nullsFirst) nullsTotal += cs.nulls
        val bound = if (desc) cs.min.orNull else cs.max.orNull
        if (bound != null) bounds += ((bound, cs.rows - cs.nulls))
      }
    kept.foreach { k =>
      k.stats.foreach { s =>
        k.blocks match {
          case Some(bs) => bs.foreach { case (b, all) => addZone(all, b.cols) }
          case None => addZone(k.all, s.cols)
        }
      }
    }
    val remaining = pushedTopN.toLong -
      (if (s0.nullsFirst) nullsTotal else 0L)
    // threshold: Some(Some(t)) = prune strictly-worse-than-t;
    // Some(None) = the top-N is all nulls (prune any all-non-null zone);
    // None = can't guarantee n rows — no pruning
    val thresh: Option[Option[Any]] =
      if (remaining <= 0L) Some(None)
      else {
        val sorted = bounds.sortWith((a, b) =>
          if (desc) cmp(a._1, b._1) > 0 else cmp(a._1, b._1) < 0)
        var acc = 0L
        var t: Any = null
        val it = sorted.iterator
        while (acc < remaining && it.hasNext) {
          val (b, c) = it.next(); acc += c; t = b
        }
        if (acc >= remaining) Some(Some(t)) else None
      }
    val tOpt = thresh.getOrElse(return kept)
    def prunable(cs: ZoneMaps.ColStats): Boolean =
      if (s0.nullsFirst && cs.nulls > 0) false // its nulls outrank T
      else {
        val best = if (desc) cs.max.orNull else cs.min.orNull
        if (best == null) true // only nulls (or no rows): below the n
        else tOpt match {
          case Some(t) => if (desc) cmp(best, t) < 0 else cmp(best, t) > 0
          case None => true // null wall: any non-null zone is worse
        }
      }
    kept.flatMap { k =>
      k.stats.flatMap(_.cols.get(s0.field)) match {
        case Some(cs) if prunable(cs) =>
          topNPrunedFiles += 1
          None
        case Some(_) => Some(k.blocks.fold(k) { bs =>
          val surviving = bs.filter { case (b, _) =>
            b.cols.get(s0.field).forall(!prunable(_))
          }
          topNPrunedBlocks += bs.size - surviving.size
          k.copy(blocks = Some(surviving))
        })
        case None => Some(k)
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // metadata-only aggregate: the sidecar already answered; the one
    // "partition" carries the rendered answer row and reads NOTHING
    statsAnswer match {
      case Some((rows, types)) =>
        return Array(StatsAnswerPartition(rows, types))
      case None =>
    }
    // file-level partition pruning over the FULL filter set: runtime
    // filters (dynamic partition pruning — a dimension join's observed
    // keys) arrive after the listing may already be cached, and files
    // outside every `k=v` directory carry null partition values, which a
    // partition equality correctly drops here
    val partFilters = allFilters.filter(partitionOnly)
    val partKept =
      if (partFilters.isEmpty) listing
      else {
        val kept = listing.filter { case (f, vals) =>
          FilterEval.keep(partFilters, partSchema,
            partRow(vals, f.getPath.toString))
        }
        prunedFiles.set(listing.size - kept.size)
        kept
      }
    // residual elimination only where there is a filter to eliminate:
    // partitions planned before runtime filters arrive must still
    // evaluate them
    val filtered = readerFilters.nonEmpty
    val parts = zonePrune(partKept).flatMap { k =>
      val f = k.file
      val vals = k.partValues
      val allTrue = k.all && filtered
      // a COMPRESSED file is never byte-split: a gzip stream has no
      // mid-file entry points, so a range split would decode garbage —
      // silent wrong results, the worst kind. One whole-file partition
      // instead; the reader decompresses through the codec.
      if (snap.compressed(f))
        // sortedAsc holds for a whole-file codec split too: the stats
        // pass read the decoded lines in stream order, the same order
        // this reader will
        Seq(ExtJsonInputPartition(f.getPath.toString, 0L, f.getLen,
          wholeFile = true, partValues = vals, allTrue = allTrue,
          sortedAsc = k.sortedAsc))
      else k.blocks match {
        case Some(blocks) =>
          // SPLIT-LEVEL skipping: plan only the surviving blocks —
          // adjacent survivors coalesce into runs (each run re-chopped
          // at the split size, preserving the line-ownership contract: any
          // cut of a byte range at interior boundaries partitions its
          // lines), non-matching ranges of the file are never read.
          // Pruned blocks tile the gap, so the row loss is exactly the
          // rows the pushed filter drops anyway.
          // (start, end, every-block-all-true) per maximal contiguous run
          val runs = Seq.newBuilder[(Long, Long, Boolean)]
          var runStart = -1L
          var runEnd = -1L
          var runCovered = true
          blocks.foreach { case (b, all) =>
            val (off, len, covered) = (b.off, b.len, all && filtered)
            if (runStart >= 0 && runEnd == off) {
              runEnd = off + len
              runCovered &&= covered
            } else {
              if (runStart >= 0) runs += ((runStart, runEnd, runCovered))
              runStart = off; runEnd = off + len; runCovered = covered
            }
          }
          if (runStart >= 0) runs += ((runStart, runEnd, runCovered))
          runs.result().flatMap { case (s, e, covered) =>
            // a run's rows are the union of its blocks' rows, so if
            // every block is all-true, any re-chop of the run is too
            (s until e by snap.maxSplit).map { off =>
              ExtJsonInputPartition(f.getPath.toString, off,
                math.min(snap.maxSplit, e - off), partValues = vals,
                allTrue = allTrue || covered, sortedAsc = k.sortedAsc)
            }
          }
        case None =>
          (0L until f.getLen by snap.maxSplit).map { off =>
            ExtJsonInputPartition(f.getPath.toString, off,
              math.min(snap.maxSplit, f.getLen - off),
              partValues = vals, allTrue = allTrue, sortedAsc = k.sortedAsc)
          }
      }
    }.toArray
    // COMPLETE-pushdown invariant, held loudly: Spark plans no final
    // merge, so two partitions would each surface as an answer row —
    // wrong results. The builder only offers complete when this same
    // snapshot plans as one split, so this holds by construction.
    require(!completeCount || parts.length == 1,
      s"complete COUNT pushdown planned ${parts.length} partitions ($path)")
    // storage-partitioned mode: every split carries its partition-value
    // tuple (internal form) so Spark can group splits by key — the
    // HasPartitionKey contract KeyGroupedPartitioning requires of ALL
    // partitions. Files outside the k=v layout carry null values — a
    // legal key tuple (the null group), never an error.
    if (reportPartitioning && partCols.nonEmpty)
      parts.map { p =>
        new KeyedExtJsonInputPartition(p,
          partCols.indices.map(i => PartitionValues.toInternal(
            if (i < p.partValues.length) p.partValues(i) else null,
            partTypes(i), p.file)).toArray)
      }.toArray[InputPartition]
    else parts.toArray[InputPartition]
  }

  /** ORDERED-BAND plan for an exchange-free global `ORDER BY col`
    * ([[graft.plans.OrderedScanStrategy]]): Some(groups) when the sidecar
    * PROVES every planned file internally sorted on `colName` — each
    * group a strictly-disjoint key range, groups ordered by their
    * minima. A fresh range landing's bands are pairwise disjoint, so
    * every group is ONE file (one sequential reader; pushed filters and
    * block pruning only REMOVE rows, never reorder). Files whose ranges
    * OVERLAP — the append lifecycle, where each batch computes its own
    * percentile boundaries — coalesce into one group of per-file sorted
    * streams, k-way heap-merged at read time: the exchange-free ORDER BY
    * now survives appends instead of refusing on the first one. Strict
    * disjointness BETWEEN groups (`max(g) < min(g+1)`) is what makes the
    * physical RangePartitioning claim honest for CLUSTERED distributions
    * too: equal keys can never straddle groups. Refuses (None) on any
    * gap: no sidecar, an aggregate pushed, storage-partitioned mode
    * (key-grouped wrappers), a stats-less/stale/unsorted/nullable file,
    * a zero-row file, or a group wider than [[ExtJsonScan.MaxMergeWidth]]
    * (a merge that wide means the layout has decayed to
    * effectively-unbanded — one task holding hundreds of open streams is
    * the wrong trade against the ordinary sort; re-land to restore it).
    */
  @volatile private var orderedBandCache:
      Map[String, Option[Seq[OrderedBandGroup]]] = Map.empty

  private[graft] def orderedBandPartitions(
      colName: String): Option[Seq[OrderedBandGroup]] =
    orderedBandCache.getOrElse(colName, {
      val computed = computeOrderedBands(colName)
      orderedBandCache += colName -> computed
      computed
    })

  /** EXACT per-group, per-file sidecar stats aligned with
    * [[orderedBandPartitions]]'s groups (outer Seq = groups in band-min
    * order, inner Seq = that group's files in the group's file order) —
    * the metadata half of the exchange-free running window: per-band
    * totals (row counts, exact sums, min/max) come straight from the
    * sidecar with NO extra pass over the data. Some only when the scan
    * provably delivers EVERY row of every planned file: any pushed or
    * runtime filter, limit, top-N, or aggregate mode could drop rows the
    * stats counted, so those modes refuse and the consumer falls back to
    * computing its totals with one narrow pass.
    */
  private[graft] def orderedBandFileStats(
      colName: String): Option[Seq[Seq[ZoneMaps.FileStats]]] = {
    if (pushed.nonEmpty || runtime.nonEmpty || pushedLimit >= 0 ||
      pushedTopN >= 0)
      return None
    orderedBandFileStatsBound(colName)
  }

  /** The UPPER-BOUND form of [[orderedBandFileStats]]: pushed/runtime
    * filters and limits only REMOVE rows, so each planned file's
    * sidecar (min, max, rows) stays a conservative BOUND on what its
    * readers can emit — valid for width/population bounding (the
    * interval join's active-set cap), NEVER for exact totals (the
    * window's metadata prefix must keep using the completeness-gated
    * form above). A pushed aggregate refuses (no band plan): the scan's
    * output rows are no longer the file's rows at all.
    */
  private[graft] def orderedBandFileStatsBound(
      colName: String): Option[Seq[Seq[ZoneMaps.FileStats]]] = {
    orderedBandPartitions(colName).map { groups =>
      val statusByPath = listing.map { case (f, _) =>
        f.getPath.toString -> f
      }.toMap
      groups.map(_.files.map(splits =>
        statsOf(statusByPath(splits.head.file)).get))
    }
  }

  /** The uncached probe — runs the scan's full partition planning, so a
    * refusal must not be recomputed per strategy invocation / AQE round
    * (the memo above; the listing and phase-1 stats are cached either
    * way, but zone pruning is re-evaluated per call).
    */
  private def computeOrderedBands(
      colName: String): Option[Seq[OrderedBandGroup]] = {
    if (aggPushed || reportPartitioning) return None
    val dt = FilterEval.resolve(colName, fullSchema)
      .map(_.leaf.dataType).getOrElse(return None)
    if (!ZoneMaps.indexable(dt)) return None
    val parts = planInputPartitions().toSeq
    if (parts.isEmpty) return None
    val splits = parts.map {
      case p: ExtJsonInputPartition => p
      case _ => return None
    }
    val statusByPath = listing.map { case (f, _) =>
      f.getPath.toString -> f
    }.toMap
    val maybeBands = splits.groupBy(_.file).toSeq.map { case (file, ps) =>
      for {
        st <- statusByPath.get(file)
        fs <- statsOf(st)
        cs <- fs.cols.get(colName)
        if cs.sorted && cs.nulls == 0L && cs.rows > 0L &&
          cs.min.isDefined && cs.max.isDefined
      } yield (cs.min.get, cs.max.get, ps.sortBy(_.start))
    }
    if (maybeBands.exists(_.isEmpty)) return None
    val bands = maybeBands.flatten.sortWith((a, b) =>
      FilterEval.compareInternal(dt, a._1, b._1) < 0)
    // overlap components over the min-sorted bands: a band whose min is
    // strictly past the running max starts a new group (equal keys can
    // then never straddle a boundary); anything else joins the current
    // one, extending its max. A non-appended landing degenerates to one
    // file per group — the zero-copy sequential read, unchanged.
    val groups = Seq.newBuilder[OrderedBandGroup]
    var cur = List(bands.head)
    var curMin = bands.head._1
    var curMax = bands.head._2
    bands.drop(1).foreach { b =>
      if (FilterEval.compareInternal(dt, b._1, curMax) > 0) {
        groups += OrderedBandGroup(cur.reverse.map(_._3), curMin, curMax)
        cur = List(b); curMin = b._1; curMax = b._2
      } else {
        cur ::= b
        if (FilterEval.compareInternal(dt, b._2, curMax) > 0) curMax = b._2
      }
    }
    groups += OrderedBandGroup(cur.reverse.map(_._3), curMin, curMax)
    val gs = groups.result()
    if (gs.exists(_.files.length > ExtJsonScan.MaxMergeWidth)) None
    else Some(gs)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableWritable(
      SparkSession.active.sparkContext.hadoopConfiguration)
    // the complete COUNT(*) reads rows of the (empty) parse schema and
    // counts them
    ExtJsonReaderFactory(conf, parseSchema.json,
      (if (aggPushed) parseSchema else required).json, readerFilters,
      pushedLimit, pushedSorts, pushedTopN, partCols, arrayTrunc,
      countColumns = if (completeCount) pushedAggs.length else 0)
  }

  /** A clone reading only `cols` (exact top-level names, in `required`
    * order) — the band window's totals-pass column pruning hook:
    * everything else (the drop snapshot, pushed filters, split planning)
    * is shared, so the clone's readers visit the same files and
    * byte ranges while CONVERTING fewer fields per row. Callers own the
    * alignment contract (their row consumers must expect exactly the
    * kept columns) and must not prune under pushed aggregates or
    * partition columns (readSchema stops mirroring `required` there).
    */
  private[graft] def pruneTo(cols: Seq[String]): ExtJsonScan = {
    require(!aggPushed && partCols.isEmpty,
      "pruneTo applies to plain column scans only")
    val keep = cols.toSet
    new ExtJsonScan(snap,
      StructType(required.fields.filter(f => keep(f.name))), pushed,
      pushedLimit, pushedAggs, pushedSorts, pushedTopN,
      pushedGroups, completeCount, arrayTrunc,
      statsAnswer, reportPartitioning, rangeAggregation)
  }
}

/** @param wholeFile the file is compressed (no mid-file entry points):
  *   the reader opens through the codec at offset 0 and consumes to EOF
  *   instead of honoring a byte range
  * @param partValues raw `k=v` path values aligned to the scan's
  *   partition columns (null entry: no such directory on this file's
  *   path). Shipped as STRINGS — the deterministic wire form — and
  *   converted to internal values reader-side by the shared
  *   [[PartitionValues]] rules.
  * @param allTrue zone maps PROVED every reader-side filter true for
  *   every row of this split ([[ZoneMaps.Truth.all]]): its reader
  *   skips per-row filter evaluation — residual elimination, the dual
  *   of pruning.
  * @param sortedAsc zone maps PROVED the file null-free and
  *   non-decreasing on the pushed ASC top-N's first sort key (byte order
  *   = row order, so every byte range of the file inherits the proof):
  *   its reader stops parsing once `topN` kept rows are in hand and the
  *   current key strictly exceeds the n-th kept key — `ORDER BY key
  *   LIMIT n` over a sorted drop parses ~n rows per split, not the split.
  */
final case class ExtJsonInputPartition(file: String, start: Long, length: Long,
    wholeFile: Boolean = false, partValues: Array[String] = Array.empty,
    allTrue: Boolean = false, sortedAsc: Boolean = false)
    extends InputPartition

/** One read's view of its drop, shared by the scan builder's probes, the
  * scan and every [[ExtJsonScan.pruneTo]] clone, so the metadata answer,
  * the complete-COUNT offer and the planned splits all speak for the same
  * files: the generation-pinned, partition-pruned [[listing]], the
  * phase-1 sidecar [[stats]] and the split size
  * (`spark.sql.files.maxPartitionBytes`). Each part is taken once, on
  * first use — a plan description never forces one — so stats and
  * splits re-read per planning round (and per AQE re-optimization) pay
  * no fresh glob and listStatus RPCs.
  *
  * @param pushed the statically pushed filters: the partition-only ones
  *   prune DIRECTORIES during the walk
  */
private[v2] final class DropSnapshot(val path: String,
    val fullSchema: StructType, val partCols: Array[String],
    pushed: Array[Filter]) {

  private def conf = SparkSession.active.sparkContext.hadoopConfiguration

  /** Declared types of the partition columns, in `partCols` order. */
  val partTypes: Array[org.apache.spark.sql.types.DataType] =
    partCols.map(c => fullSchema.fields.find(_.name.equalsIgnoreCase(c)).get
      .dataType)

  /** A filter whose every reference is a partition column: fully decided
    * by the file's path, so it prunes directories/files at planning and
    * never reaches a reader. A filter mixing partition and data columns
    * (one `Or`, say) can't prune — it evaluates per row against the
    * spliced-in constants instead.
    */
  def partitionOnly(f: Filter): Boolean = {
    val refs = f.references
    refs.nonEmpty && refs.forall(r => partCols.exists(_.equalsIgnoreCase(r)))
  }

  /** The one-row evaluation frame for partition-only filters: the filter
    * machinery is exactly [[FilterEval]], over a schema of just the
    * partition columns.
    */
  val partSchema = StructType(partCols.zip(partTypes).map {
    case (c, t) => StructField(c, t, nullable = true)
  })

  def partRow(vals: Array[String], where: String): InternalRow =
    new GenericInternalRow(partCols.indices.map(i =>
      PartitionValues.toInternal(
        if (i < vals.length) vals(i) else null, partTypes(i), where)).toArray)

  lazy val maxSplit: Long = org.apache.spark.network.util.JavaUtils
    .byteStringAsBytes(SparkSession.active.conf
      .get("spark.sql.files.maxPartitionBytes", "134217728")).max(1L)

  private lazy val codecs =
    new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)

  /** A compressed file is never byte-split (no mid-stream entry points). */
  def compressed(f: FileStatus): Boolean = codecs.getCodec(f.getPath) != null

  /** Directories the static partition filters pruned during the listing
    * walk (subtrees never listed), exposed through the scan's description
    * once [[listed]]. An atomic: planning can in principle run
    * concurrently (observability only — results never depend on it).
    */
  val prunedDirs = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var listed = false

  /** The loaded zone-map sidecar (PHASE 1: FILE-level min/max/null rows
    * only — block rows load lazily in phase 1.5, scoped to the min/max
    * survivors, and bloom blobs in phase 2), read whenever the drop has
    * one — empty when the path is not a plain directory, no sidecar
    * exists or the load fails (fail-soft: absent stats cost pruning,
    * never rows). At a block-indexed 100 TB drop the block rows are the
    * sidecar's bulk (columns × blocks-per-file × files); collecting them
    * here would make EVERY zone-mapped query pay O(corpus-metadata)
    * driver work before one file is pruned.
    */
  lazy val stats: Map[(String, Long, Long), ZoneMaps.FileStats] = {
    loadedStats = Some(
      try ZoneMaps.dropStats(SparkSession.active, path, fullSchema)
      catch { case scala.util.control.NonFatal(_) => Map.empty })
    loadedStats.get
  }

  /** [[stats]] once loaded — for descriptions, which must never force a
    * sidecar read just to explain a plan.
    */
  @volatile var loadedStats: Option[Map[(String, Long, Long), ZoneMaps.FileStats]] = None

  private lazy val rootUri = {
    val root = new Path(path)
    root.getFileSystem(conf).makeQualified(root).toUri
  }

  /** The sidecar key of a listed file ([[ZoneMaps.statsKey]]). */
  def key(f: FileStatus): (String, Long, Long) = ZoneMaps.statsKey(rootUri, f)

  /** The ONE stats lookup: a listed file's phase-1 stats, None when it
    * is stats-less or stale.
    */
  def statsOf(f: FileStatus): Option[ZoneMaps.FileStats] = stats.get(key(f))

  /** Expand the glob and RECURSE into matched directories: a nested
    * document drop (`orders/date=…/part-….jsonl`) reads completely — the
    * one-level listing this replaces silently dropped subdirectory trees,
    * the worst kind of wrong (partial results with no error). Hidden
    * entries (`_`/`.` prefixes) are skipped at every level, matching the
    * builtin file sources.
    */
  lazy val listing: Seq[(FileStatus, Array[String])] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matches = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    require(matches.nonEmpty, s"extjson path matches no files: $path")
    // directory-level pruning: statically pushed filters referencing ONLY
    // partition columns, evaluated as soon as every referenced column is
    // bound on the path — a definitively-false subtree is never even
    // LISTED (at 100 TB the listing RPCs are themselves the cost)
    val staticPart = pushed.filter(partitionOnly)
    def pruned(vals: Array[String], bound: Array[Boolean],
        where: String): Boolean = {
      val decided = staticPart.filter(_.references.forall(r =>
        partCols.indices.exists(i =>
          partCols(i).equalsIgnoreCase(r) && bound(i))))
      decided.nonEmpty &&
        !FilterEval.keep(decided, partSchema, partRow(vals, where))
    }
    def expand(st: FileStatus, vals: Array[String],
        bound: Array[Boolean]): Seq[(FileStatus, Array[String])] =
      if (st.isDirectory) {
        val (vals2, bound2) = PartitionValues.segment(st.getPath.getName) match {
          case Some((k, v)) =>
            val i = partCols.indexWhere(_.equalsIgnoreCase(k))
            if (i < 0) (vals, bound)
            else {
              val nv = vals.clone(); nv(i) = v
              val nb = bound.clone(); nb(i) = true
              (nv, nb)
            }
          case None => (vals, bound)
        }
        if ((bound2 ne bound) && pruned(vals2, bound2, st.getPath.toString)) {
          prunedDirs.incrementAndGet()
          Seq.empty
        } else fs.listStatus(st.getPath).toSeq.filter(DocListing.visible)
          .flatMap(expand(_, vals2, bound2))
      } else Seq((st, vals))
    // a WILDCARD match on a hidden name is dropped like the builtin file
    // sources drop it — otherwise `dir/*` would recurse into another
    // job's in-flight `_temporary` tree and read orphaned task output as
    // data. Only an EXPLICIT literal path (no glob metacharacters) may
    // name a hidden root: the caller asked for that exact directory.
    val isGlob = path.exists("*?[{".contains(_))
    val roots = if (isGlob) matches.filter(DocListing.visible) else matches
    // a glob whose every match is hidden-named must fail LOUDLY like an
    // unmatched path — a silent zero-partition scan is partial results
    // with no error, the failure mode this listing exists to prevent
    require(roots.nonEmpty,
      s"extjson glob matches only hidden (_/. prefixed) entries: $path — " +
        "name the hidden directory explicitly (no wildcards) to read it")
    def doList(): Seq[(FileStatus, Array[String])] = roots
      .flatMap(expand(_, new Array[String](partCols.length),
        new Array[Boolean](partCols.length)))
      .filter { case (f, _) => f.isFile && f.getLen > 0 }
    val out = doList()
    listed = true
    // generation pinning under an in-flight in-place compaction: while
    // the fold's commit manifest exists, a raw listing could see BOTH a
    // covered (superseded) file and its compacted replacement —
    // duplicate rows. Pin to ONE generation (non-glob directory reads
    // only — the landing contract's shape)
    if (isGlob || matches.lengthCompare(1) != 0 ||
      !matches.head.isDirectory) out
    else pinGeneration(fs, fs.makeQualified(matches.head.getPath), out,
      () => {
        // the re-listed walk replaces the first: reset the pruning
        // observability counter so the description reflects ONE walk
        prunedDirs.set(0)
        doList()
      })
  }

  /** Resolve a listing taken while an IN-PLACE compaction
    * ([[graft.sink.CorpusSink.compactRangeIndexedInPlace]]) is between
    * its rename and delete steps: the covered-files manifest is the
    * fold's commit record, and while it exists the listing reads EITHER
    * generation, never a mix —
    *
    *  - the OLD one (drop `compact-<tag>-*` files) while EVERY covered
    *    file still exists: renames may be mid-flight, so the compact
    *    set may be partial, but the covered set is whole (the probes
    *    run AFTER the walk, so covered-all-present at probe time means
    *    no delete had started when the walk ran either — the walked
    *    covered set is complete);
    *  - the NEW one (drop covered files) once any covered file is gone:
    *    deletes only begin after every rename landed, so the compact
    *    set is complete ON THE FILESYSTEM — but not necessarily in the
    *    walk's earlier snapshot (a rename could land between the walk
    *    and the probe), so this branch RE-LISTS once and filters the
    *    fresh snapshot: taken after the missing-covered observation,
    *    it is guaranteed to hold every compact file.
    *
    * One manifest probe per listing in the common case (no manifest);
    * O(covered) probes plus at most one re-list only during the
    * maintenance window itself. The manifest vanishing mid-check (the
    * fold just finished) simply un-pins — the finished layout is
    * single-generation again.
    */
  private def pinGeneration(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      files: Seq[(FileStatus, Array[String])],
      relist: () => Seq[(FileStatus, Array[String])],
      depth: Int = 0): Seq[(FileStatus, Array[String])] = {
    val manifestPath =
      new Path(root, graft.sink.CorpusSink.CompactManifestRelPath)
    // the validated manifest (None = absent — unpinned), kept for the
    // changed-since check below; a damaged one also un-pins (the finish
    // path validates BEFORE any rename or delete, so a damaged manifest
    // means the fold never acted and the raw listing IS the intact
    // pre-fold generation). Genuine IO errors still propagate: silently
    // unpinning on a transient read failure mid-fold could mix
    // generations.
    def readManifest(): Option[(String, Seq[String])] =
      try graft.core.Generations.read(fs, manifestPath)
        .map(graft.sink.CorpusSink.tagged)
      catch { case _: IllegalStateException => None }
    val parsed = readManifest().getOrElse(return files)
    val (tag, covered) = parsed
    val rootUri = root.toUri
    def rel(st: FileStatus): String =
      rootUri.relativize(fs.makeQualified(st.getPath).toUri).getPath
    val oldGeneration =
      covered.forall(c => fs.exists(new Path(root, c)))
    if (oldGeneration) {
      val prefix = s"compact-$tag-"
      files.filterNot { case (st, _) => rel(st).startsWith(prefix) }
    } else {
      // the walk predates the missing-covered observation: re-list so
      // the filtered snapshot provably contains every compact file —
      // then RE-READ the manifest: a second back-to-back fold could
      // have committed between the parse and the re-list, and the
      // stale covered set would admit a mix of that fold's partial
      // compact files and its covered files. Unchanged text → the
      // filter is sound; changed/gone → resolve the fresh snapshot
      // against the CURRENT state instead. Bounded: each retry
      // witnesses a distinct committed fold, so an unbounded chain
      // means maintenance is racing faster than reads — fail loudly
      // rather than risk a mixed-generation listing.
      val fresh = relist()
      val coveredSet = covered.toSet
      readManifest() match {
        case Some(now) if now == parsed =>
          fresh.filterNot { case (st, _) => coveredSet.contains(rel(st)) }
        case _ if depth < 8 =>
          pinGeneration(fs, root, fresh, relist, depth + 1)
        case _ => throw new IllegalStateException(
          s"extjson generation pinning at $root could not settle after " +
            "8 manifest changes (the retry limit) — back-to-back in-place " +
            "compactions are outrunning this listing; pause maintenance " +
            "or retry the read")
      }
    }
  }

}

object ExtJsonScan {
  /** Widest k-way merge an ordered-band read will plan: one read task
    * holds one open stream per file in its group, so an
    * every-batch-overlaps-everything layout (dozens of appends with no
    * re-land) must refuse to the ordinary sort rather than funnel the
    * drop through a single task of hundreds of streams.
    */
  val MaxMergeWidth: Int = 64
}

/** One strictly-disjoint key range of an ordered-band plan: `files` in
  * band-min order, each entry ONE file's splits in offset order (a
  * file's concatenated splits stream its proven sorted order); `min`/
  * `max` are the group's key bounds in internal form (the alignment
  * handle for range-layout joins). One file = sequential read; several
  * (overlapping appended bands) = k-way merge at read time.
  */
final case class OrderedBandGroup(files: Seq[Seq[ExtJsonInputPartition]],
    min: Any, max: Any)

/** A file zone pruning kept, with what its splits and the top-N/LIMIT
  * narrowing need: `stats` — its phase-1 sidecar stats (None:
  * stats-less or stale); `all` — EVERY row of the file survives the
  * reader-side filters (there are none, or the zone algebra proved them
  * all true); `blocks` — the SURVIVING blocks with their stats and their
  * own every-row-survives flag, in offset order, when the file carries
  * tiled block stats (None ⇒ split by bytes as usual); `sortedAsc` — the
  * sidecar proves the file null-free and non-decreasing on the pushed ASC
  * top-N's first sort key, so readers may stop parsing once the n-th
  * kept row's key is strictly exceeded.
  */
private[v2] final case class KeptFile(file: FileStatus,
    partValues: Array[String], stats: Option[ZoneMaps.FileStats],
    all: Boolean, blocks: Option[Seq[(ZoneMaps.BlockStats, Boolean)]],
    sortedAsc: Boolean = false)

/** A split plus its partition-value KEY (internal form, `partCols`
  * order) — the [[HasPartitionKey]] wrapper storage-partitioned reads
  * require of every planned partition. Kept separate from
  * [[ExtJsonInputPartition]] so non-reporting scans never present keys
  * (Spark groups splits by key whenever ALL partitions carry one).
  */
final class KeyedExtJsonInputPartition(val delegate: ExtJsonInputPartition,
    key: Array[Any]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
}

/** The metadata-only aggregate answer as a "partition": one row per
  * group (one row total when ungrouped), each row's values in scan
  * output order (group columns first, then aggregates) in the zone-map
  * canonical string rendering (null = SQL NULL), column types as their
  * JSON forms. Reading it costs zero data bytes.
  */
final case class StatsAnswerPartition(rows: Array[Array[String]],
    types: Array[String]) extends InputPartition

/** Ships to executors: Hadoop conf via the public [[SerializableWritable]],
  * the parse and required schemas as their JSON forms (self-contained,
  * version-stable).
  *
  * @param countColumns with the complete single-split COUNT(*) pushed:
  *   the width of its one answer row ([[CountReader]]); 0 = emit rows
  */
final case class ExtJsonReaderFactory(conf: SerializableWritable[Configuration],
    parseSchemaJson: String, requiredSchemaJson: String, pushed: Array[Filter],
    limit: Int = -1, sorts: Array[PushedSort] = Array.empty, topN: Int = -1,
    partCols: Array[String] = Array.empty,
    arrayTrunc: Map[String, Int] = Map.empty, countColumns: Int = 0)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case sp: StatsAnswerPartition => return new StatsAnswerReader(sp)
      case k: KeyedExtJsonInputPartition => return createReader(k.delegate)
      case _ =>
    }
    val p = partition.asInstanceOf[ExtJsonInputPartition]
    // the ROW schema is what filters/getters/projection see; the parser
    // gets it with partition fields removed, and `insert` splices this
    // split's constant path values back in per row
    val rowSchema = DataTypeJson.structFromJson(parseSchemaJson)
    val (dataSchema, insert) =
      PartitionValues.inserter(rowSchema, partCols, p.partValues, p.file)
    // residual elimination: the planner PROVED every pushed conjunct
    // true for every row of this split, so compiling and evaluating the
    // filters per line would be work spent confirming a theorem
    val effFilters = if (p.allTrue) Array.empty[Filter] else pushed
    val required = DataTypeJson.structFromJson(requiredSchemaJson)
    val rows =
      if (topN >= 0 && sorts.nonEmpty && sorts.forall(s =>
        partCols.exists(_.equalsIgnoreCase(s.field))))
        // every pushed sort key is a PARTITION column — constant across
        // this split (one `k=v` directory tuple per file), so all its kept
        // rows tie and ANY topN of them is a valid per-split top-N: the
        // heap degenerates to a partial LIMIT, which parses nothing past
        // the first topN kept rows instead of consuming the split
        // (Spark's outer TakeOrdered still picks the global answer)
        new ExtJsonPartitionReader(p, conf.value, rowSchema, required,
          effFilters, topN, dataSchema = dataSchema, insert = insert,
          arrayTrunc = arrayTrunc)
      else new ExtJsonPartitionReader(p, conf.value, rowSchema, required,
        effFilters, limit, sorts, topN, dataSchema, insert, arrayTrunc)
    if (countColumns > 0) new CountReader(rows, countColumns) else rows
  }
}

/** Reads the lines of one byte-range split, parses, filters, projects.
  * Split contract mirrors Hadoop's `LineRecordReader`: seek to `start`;
  * a non-initial split discards its first (possibly partial) line; then
  * lines are consumed while they START at a position `<= end`, so the
  * line straddling `end` is read in full here and skipped by the next
  * split's discard. Blank lines are no rows.
  *
  * The NEWLINE SKIM: with an empty parse schema (partition columns
  * aside) and no reader filter, every non-blank line is the empty row
  * plus this split's partition constants — exactly what a PERMISSIVE
  * parse against an empty schema returns, malformed lines included — so
  * the lines are counted ([[ScanMetrics.SkimmedLines]]), never parsed.
  * Every COUNT(*) the scan serves (pushed or Spark's own aggregate over
  * these rows, grouped by partition columns or not) reads this way.
  *
  * With a pushed top-N the split is consumed into a BOUNDED `topN`-row
  * heap (worst row at the head, evicted on overflow) and the survivors
  * are emitted afterwards — per-split memory is `topN` projected rows, so
  * an `ORDER BY … LIMIT 10` probe holds 10 rows however large the split.
  */
final class ExtJsonPartitionReader(split: ExtJsonInputPartition,
    conf: Configuration, parseSchema: StructType, requiredSchema: StructType,
    pushed: Array[Filter], limit: Int = -1,
    sorts: Array[PushedSort] = Array.empty, topN: Int = -1,
    dataSchema: StructType = null, insert: InternalRow => InternalRow = null,
    arrayTrunc: Map[String, Int] = Map.empty)
    extends PartitionReader[InternalRow] {

  // partition-column support: parse the DATA fields only, splice the
  // split's constant path values in per row (identity when the scan has
  // no partition columns — the defaults keep direct construction simple)
  private val parsedSchema = if (dataSchema == null) parseSchema else dataSchema
  private val toRow: InternalRow => InternalRow =
    if (insert == null) identity else insert

  // pushed PARTIAL limit: this split stops parsing after its first
  // `limit` kept rows (Spark's global Limit still runs above)
  private var emitted = 0L
  private var parsedDocs = 0L
  private var filteredDocs = 0L
  private var skimmedLines = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(ScanMetrics.TaskValue(ScanMetrics.ParsedDocs, parsedDocs),
      ScanMetrics.TaskValue(ScanMetrics.FilteredDocs, filteredDocs),
      ScanMetrics.TaskValue(ScanMetrics.SkimmedLines, skimmedLines))

  // the skim's one row, or null when lines must be parsed
  private val skimRow: InternalRow =
    if (parsedSchema.isEmpty && pushed.isEmpty)
      toRow(new GenericInternalRow(0))
    else null
  private val parser =
    if (skimRow == null) new ExtJsonParser(parsedSchema, arrayTrunc) else null
  // compiled ONCE per reader: field indices, literal conversions, and
  // pattern objects all hoisted out of the per-line loop
  private val keepRow: InternalRow => Boolean =
    if (pushed.isEmpty) _ => true else FilterEval.compile(pushed, parseSchema)
  private val project: InternalRow => InternalRow =
    RowProject.projector(parseSchema, requiredSchema)
  private val end = SplitIO.endBound(split)
  private val text = new Text()
  private var pos = split.start
  private var current: InternalRow = _

  // LineReader.close() closes the wrapped split stream too
  private val lines = new LineReader(SplitIO.open(split, conf))
  if (split.start != 0) pos += lines.readLine(text)

  // pushed partial top-N state: built on first next(), drained after
  private var heapIter: Iterator[InternalRow] = _

  /** The row of the next owned non-blank line (skimmed or parsed, not
    * yet filtered), or null once the split is consumed.
    */
  private def nextLine(): InternalRow = {
    while (pos <= end) {
      val n = lines.readLine(text)
      if (n == 0) return null
      pos += n
      if (text.getLength > 0) {
        if (skimRow != null) {
          skimmedLines += 1
          return skimRow
        }
        parsedDocs += 1
        return toRow(parser.parse(text.getBytes, 0, text.getLength))
      }
    }
    null
  }

  override def next(): Boolean = {
    if (topN >= 0) {
      if (heapIter == null) heapIter = buildTopN()
      if (!heapIter.hasNext) return false
      current = heapIter.next()
      return true
    }
    if (limit >= 0 && emitted >= limit) return false
    var row = nextLine()
    while (row != null) {
      if (keepRow(row)) {
        current = project(row)
        emitted += 1
        return true
      }
      filteredDocs += 1
      row = nextLine()
    }
    false
  }

  /** Consume the split into the bounded heap of its `topN` best kept
    * rows under the pushed order. Emission order is arbitrary — Spark's
    * outer TakeOrdered re-sorts globally (partial pushdown).
    *
    * ORDER-AWARE EARLY EXIT (`split.sortedAsc`): the planner proved the
    * file's rows null-free and non-decreasing on the first sort key, so
    * once `topN` kept rows are in hand, the n-th kept key bounds the
    * answer — any later row's key is ≥ the current one's, and a key
    * STRICTLY above the bound loses to all n banked rows on the first
    * key alone, whatever the tiebreaks say. Rows tying the bound keep
    * flowing into the heap (tiebreaks may displace), so the exit is
    * exact, not approximate: `ORDER BY key LIMIT n` over a sorted drop
    * parses ~n rows (+ ties) per split instead of consuming it.
    */
  private def buildTopN(): Iterator[InternalRow] = {
    val ord = RowProject.sortOrdering(requiredSchema, sorts)
    // max-heap of the WORST row under ord: evict it when over capacity
    val heap = new java.util.PriorityQueue[InternalRow](
      math.max(1, topN), ord.reverse)
    val keyGetter =
      if (split.sortedAsc && sorts.nonEmpty)
        FilterEval.compiledGetter(sorts.head.field, parseSchema)
      else null
    val keyType =
      if (keyGetter == null) null
      else FilterEval.resolve(sorts.head.field, parseSchema)
        .map(_.leaf.dataType).orNull
    var kept = 0L
    var bound: Any = null
    var row = nextLine()
    while (row != null) {
      val key =
        if (keyGetter != null && keyType != null) keyGetter(row) else null
      // the exit tests EVERY parsed row, kept or filtered — keys are
      // monotone over the whole file, so a filtered row's key bounds
      // the remainder just as well
      if (bound != null && key != null &&
        FilterEval.compareInternal(keyType, key, bound) > 0)
        return drain(heap)
      if (keepRow(row)) {
        heap.offer(project(row))
        if (heap.size() > topN) heap.poll()
        kept += 1
        // bind at (or first non-null key after) the n-th kept row; a
        // later-than-n-th bind is a LARGER key, which only delays the
        // exit — never wrongly triggers it
        if (bound == null && kept >= topN && key != null) bound = key
      } else filteredDocs += 1
      row = nextLine()
    }
    drain(heap)
  }

  private def drain(heap: java.util.PriorityQueue[InternalRow]): Iterator[InternalRow] = {
    val out = new Array[InternalRow](heap.size())
    var i = 0
    while (i < out.length) { out(i) = heap.poll(); i += 1 }
    out.iterator
  }

  override def get(): InternalRow = current

  override def close(): Unit = lines.close()
}

/** The complete single-split COUNT(*): counts its row reader's rows (a
  * newline skim — nothing is parsed) and emits them as the one answer
  * row, `width` copies of the count.
  */
final class CountReader(rows: PartitionReader[InternalRow], width: Int)
    extends PartitionReader[InternalRow] {
  private var count = -1L
  override def next(): Boolean =
    if (count >= 0) false
    else {
      count = 0L
      while (rows.next()) count += 1
      true
    }
  override def get(): InternalRow =
    new GenericInternalRow(Array.fill[Any](width)(count))
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    rows.currentMetricsValues()
  override def close(): Unit = rows.close()
}

/** The document scan's task metrics — the observability a pushdown-heavy
  * source owes its operators: rows a plan never sees are otherwise
  * invisible (a scan that "returns 10 rows" could have parsed 10 or ten
  * billion). Surfaced per-node in the Spark SQL UI as sums over tasks.
  */
private[graft] object ScanMetrics {
  final val ParsedDocs = "parsedDocs"
  final val FilteredDocs = "filteredDocs"
  final val SkimmedLines = "skimmedLines"

  // each metric is its own CONCRETE NO-ARG class: the SQL UI re-creates
  // the aggregator reflectively from the class name (Utils.loadExtensions
  // needs a 0-arg or SparkConf constructor) — a parameterized class makes
  // every value render as "N/A" in the UI while driver-side SQLMetrics
  // still look fine, the silent half-failure mode
  final class ParsedDocsMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = ParsedDocs
    override def description(): String = "documents parsed"
  }
  final class FilteredDocsMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = FilteredDocs
    override def description(): String = "documents dropped by pushed filters"
  }
  final class SkimmedLinesMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = SkimmedLines
    override def description(): String = "lines counted without parsing"
  }

  def supported: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ParsedDocsMetric, new FilteredDocsMetric, new SkimmedLinesMetric)

  final case class TaskValue(override val name: String,
      override val value: Long)
      extends org.apache.spark.sql.connector.metric.CustomTaskMetric
}

/** Emits the one metadata-only aggregate answer row: values decoded
  * from their zone-map canonical renderings — the exact strings
  * [[ZoneMaps.build]] rendered from internal values, so the round-trip
  * is bit-exact. Zero bytes of document data are opened.
  */
final class StatsAnswerReader(p: StatsAnswerPartition)
    extends PartitionReader[InternalRow] {
  private val types = p.types.map(org.apache.spark.sql.types.DataType.fromJson)
  private var i = -1
  override def next(): Boolean = { i += 1; i < p.rows.length }
  override def get(): InternalRow =
    new GenericInternalRow(p.rows(i).zip(types).map { case (v, t) =>
      if (v == null) null else ZoneMaps.decode(v, t)
    }.toArray[Any])
  override def close(): Unit = ()
}

/** Listing rules shared by every walk over a document drop — a read's
  * [[DropSnapshot]] listing and the writers' walks (the zone-map builder,
  * the corpus compaction) MUST agree on what counts as a data file (a
  * divergence would let metadata speak for files the scan never reads,
  * or vice versa).
  */
private[graft] object DocListing {

  /** Hidden-entry rule of the builtin file sources: `_`/`.` prefixes are
    * never data (checkpoint trees, sidecars, in-flight `_temporary`).
    */
  def visible(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** Every nonempty visible file under `roots`, recursively. */
  def walkFiles(fs: org.apache.hadoop.fs.FileSystem,
      roots: Seq[FileStatus]): Seq[FileStatus] = {
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(visible).flatMap(walk)
      else if (st.isFile && st.getLen > 0) Seq(st)
      else Seq.empty
    roots.filter(visible).flatMap(walk)
  }
}

/** Split stream setup shared by the row reader and the zone-map build. */
private[v2] object SplitIO {

  /** Open the split's line stream: a plain byte-range split seeks to its
    * start; a compressed whole-file split decodes through the codec from
    * offset 0 (gzip has no mid-file entry points — byte-splitting it
    * would decode garbage silently).
    */
  def open(split: ExtJsonInputPartition,
      conf: Configuration): java.io.InputStream = {
    val p = new Path(split.file)
    val raw = p.getFileSystem(conf).open(p)
    if (split.wholeFile) {
      val codec =
        new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
          .getCodec(p)
      require(codec != null, s"no codec for whole-file split ${split.file}")
      codec.createInputStream(raw)
    } else {
      raw.seek(split.start)
      raw
    }
  }

  /** Line-ownership bound: byte-range splits own lines starting in
    * `[start, start+length)` plus one line past `end`; a whole-file split
    * owns everything (positions count DECOMPRESSED bytes, which the
    * on-disk length says nothing about).
    */
  def endBound(split: ExtJsonInputPartition): Long =
    if (split.wholeFile) Long.MaxValue else split.start + split.length
}

/** `StructType.fromJson` shim kept in one place. */
private[v2] object DataTypeJson {
  def structFromJson(json: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]
}

/** Parse-schema construction: deep-merge filter-referenced paths into the
  * required schema. The merge is PREFIX-PRESERVING at every level — the
  * required fields stay first, in order, and filter-only additions append
  * (new top-level fields pruned to exactly the referenced subpaths; new
  * subfields appended after a struct's required subfields) — which is
  * what lets [[RowProject.projector]] emit the required shape as a
  * recursive prefix copy. A segment's fixed array ordinals
  * (`items[0].qty`) descend through the ARRAY ELEMENT type: the parse
  * schema keeps the array (every element parses — the reader can't know
  * which index a later row's filter will hit until the array is built)
  * with its element struct pruned to exactly the referenced subfields.
  */
private[v2] object SchemaMerge {
  import org.apache.spark.sql.types.{ArrayType, DataType}

  def merge(base: Array[StructField], paths: Seq[Seq[String]],
      full: StructType): StructType =
    StructType(paths.foldLeft(base.toVector)(addFields(_, _, full)))

  private def addFields(fields: Vector[StructField], path: Seq[String],
      full: StructType): Vector[StructField] = {
    // a path that doesn't resolve against the declared schema can't have
    // been accepted by FilterEval.supported; tolerate it as a no-op
    val (name, ords) = FilterEval.parseSegment(path.head) match {
      case Some(p) => p
      case None => return fields
    }
    val fullField = full.fields.find(_.name == name) match {
      case Some(f) => f
      case None => return fields
    }
    val idx = fields.indexWhere(_.name == name)
    if (idx < 0)
      fields :+ fullField.copy(dataType =
        pruneType(fullField.dataType, ords.length, path.tail))
    else
      fields.updated(idx, fields(idx).copy(dataType = addType(
        fields(idx).dataType, fullField.dataType, ords.length, path.tail)))
  }

  /** The full type narrowed to just this path's needs: descend `ords`
    * array levels, then prune the struct chain to the `rest` subpath
    * (sibling subfields stay skipped).
    */
  private def pruneType(full: DataType, ords: Int,
      rest: Seq[String]): DataType =
    if (ords > 0) full match {
      case ArrayType(et, n) => ArrayType(pruneType(et, ords - 1, rest), n)
      case other => other
    }
    else if (rest.isEmpty) full
    else full match {
      case s: StructType =>
        val (name, subOrds) = FilterEval.parseSegment(rest.head) match {
          case Some(p) => p
          case None => return full
        }
        s.fields.find(_.name == name) match {
          case Some(child) => StructType(Array(child.copy(dataType =
            pruneType(child.dataType, subOrds.length, rest.tail))))
          case None => full
        }
      case other => other
    }

  /** An existing (possibly already-narrowed) type widened to ALSO cover
    * this path — appended subfields land after the existing ones at
    * every level, preserving the prefix-copy invariant.
    */
  private def addType(cur: DataType, full: DataType, ords: Int,
      rest: Seq[String]): DataType =
    if (ords > 0) (cur, full) match {
      case (ArrayType(cet, n), ArrayType(fet, _)) =>
        ArrayType(addType(cet, fet, ords - 1, rest), n)
      case _ => cur
    }
    else if (rest.isEmpty) cur
    else (cur, full) match {
      case (cs: StructType, fs: StructType) =>
        StructType(addFields(cs.fields.toVector, rest, fs))
      case _ => cur
    }
}

/** Reader-side row shaping: the parse→required projection and the
  * pushed top-N's row order.
  */
private[v2] object RowProject {

  /** parse→required projector. Identity when the schemas already agree;
    * otherwise a recursive PREFIX copy — [[SchemaMerge]] guarantees the
    * required schema is, at every nesting level, the leading fields of
    * the parse schema (struct fields possibly widened deeper).
    */
  def projector(parse: StructType, required: StructType): InternalRow => InternalRow =
    if (parse == required) identity
    else {
      val copiers: Array[InternalRow => Any] =
        required.fields.zipWithIndex.map { case (rf, i) =>
          val pf = parse.fields(i)
          require(pf.name == rf.name,
            s"parse/required misalignment at $i: ${pf.name} vs ${rf.name}")
          fieldCopier(pf.dataType, rf.dataType, i)
        }
      row => {
        val out = new Array[Any](copiers.length)
        var i = 0
        while (i < copiers.length) { out(i) = copiers(i)(row); i += 1 }
        new GenericInternalRow(out)
      }
    }

  private def fieldCopier(pdt: org.apache.spark.sql.types.DataType,
      rdt: org.apache.spark.sql.types.DataType, i: Int): InternalRow => Any = {
    val copy = valueCopier(pdt, rdt)
    row => if (row.isNullAt(i)) null else copy(row.get(i, pdt))
  }

  /** Non-null value narrowing parse type → required type: identity when
    * equal, recursive prefix copy for structs, and PER-ELEMENT narrowing
    * for arrays (a filter-only element subfield widens the parse
    * element struct; the required array keeps its own element shape).
    */
  private def valueCopier(pdt: org.apache.spark.sql.types.DataType,
      rdt: org.apache.spark.sql.types.DataType): Any => Any =
    (pdt, rdt) match {
      case (p, r) if p == r => identity
      case (ps: StructType, rs: StructType) =>
        val inner = projector(ps, rs)
        v => inner(v.asInstanceOf[InternalRow])
      case (org.apache.spark.sql.types.ArrayType(pe, _),
          org.apache.spark.sql.types.ArrayType(re, _)) =>
        val elem = valueCopier(pe, re)
        v => {
          val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          val n = a.numElements()
          val out = new Array[Any](n)
          var j = 0
          while (j < n) {
            out(j) = if (a.isNullAt(j)) null else elem(a.get(j, pe))
            j += 1
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
        }
      case (p, r) =>
        throw new IllegalStateException(s"unprojectable parse field $p -> $r")
    }

  /** Comparator of OUTPUT rows under the pushed sort keys — the per-split
    * heap order for partial top-N. Keys are (possibly dotted) required
    * fields: a sort key is always referenced by the Sort node itself, so
    * column pruning keeps its full path in the required schema; dotted
    * keys resolve through the same compiled-getter machinery as pushed
    * filters (null anywhere along the path sorts as a null leaf, matching
    * `GetStructField`-based ordering above).
    */
  def sortOrdering(required: StructType,
      sorts: Array[PushedSort]): Ordering[InternalRow] = {
    val keys = sorts.map { s =>
      val p = FilterEval.resolve(s.field, required).getOrElse(throw
        new IllegalStateException(
          s"pushed sort field ${s.field} missing from ${required.catalogString}"))
      (FilterEval.compiledGetter(s.field, required), p.leaf.dataType, s)
    }
    new Ordering[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = {
        var k = 0
        while (k < keys.length) {
          val (g, dt, s) = keys(k)
          val av = g(a)
          val bv = g(b)
          val c =
            if (av == null && bv == null) 0
            else if (av == null) { if (s.nullsFirst) -1 else 1 }
            else if (bv == null) { if (s.nullsFirst) 1 else -1 }
            else {
              val raw = FilterEval.compareInternal(dt, av, bv)
              if (s.descending) -raw else raw
            }
          if (c != 0) return c
          k += 1
        }
        0
      }
    }
  }
}
