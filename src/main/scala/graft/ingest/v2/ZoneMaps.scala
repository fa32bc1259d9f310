package graft.ingest.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader

import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ZONE MAPS for the document source — min/max/null statistics per
  * (file, column), and optionally per BLOCK (byte range) within a file,
  * in a `_graft_zonemaps` parquet sidecar: the data skipping layer
  * parquet gets from row-group footers and table formats
  * (Iceberg/Delta manifests, Trino zone maps — all public designs) keep
  * per data file. JSONL has no footer to mine, so the stats are built by
  * a distributed pass ([[ZoneMaps.build]] full, [[ZoneMaps.append]]
  * incremental) and consulted at PLANNING time: a pushed predicate that
  * is provably false for every row of a file (`o_totalprice > 400000`
  * against a file whose max is 180000) drops the FILE before it is ever
  * split, read, or parsed — and with block stats, drops non-matching
  * byte-range SPLITS of a large clustered file (the row-group analogue).
  *
  * This is the data-column complement of the `partitionColumns`
  * directory pruning: partition pruning needs the layout to encode the
  * key; zone maps exploit natural CLUSTERING of any indexed column (a
  * date-appended drop is clustered on time; a range-written drop on its
  * sort key). RUNTIME filters prune too — a selective dimension join's
  * observed keys can skip whole fact files mid-execution.
  *
  * Sidecar LAYOUT is generational so an appending drop never decays to
  * unskippable: [[build]] rewrites `<sidecar>/base`; [[append]] indexes
  * only files with no fresh stats row and lands them at
  * `<sidecar>/add_<tag>` (deterministic dir + overwrite — replay of the
  * same tag converges, the [[graft.ops.ProductQuantize.appendEncodedBatch]]
  * contract). Loading reads every generation.
  *
  * Loading is TWO-PHASE so planning never pays for blob bytes it may not
  * need: [[loadStats]] reads the O(files·cols) min/max/null rows and
  * NEVER the serialized bloom column (at ~1–3 MB of bloom per large file
  * a whole-sidecar collect would be multi-GB of driver heap at 100 TB);
  * [[loadBlooms]] fetches bloom blobs afterwards, only for
  * equality/IN-probed columns and only for files that survived the
  * min/max phase — the way parquet readers touch bloom pages on demand.
  *
  * Correctness posture — pruning may only REMOVE files/blocks whose
  * every row a residual filter would drop anyway:
  *  - the evaluation is conservative three-valued ([[ZoneMaps.truth]]):
  *    a file survives unless a pushed conjunct is definitely-not-true for
  *    all rows; unknown columns, unsupported shapes, and `Not`/string
  *    matches all answer "maybe";
  *  - stats rows carry the file's byte LENGTH and MODIFICATION TIME; a
  *    file whose current (length, mtime) differs (rewritten since
  *    indexing) is treated as stats-less and kept — stale stats can cost
  *    speed, never rows (the sidecar lives OUTSIDE the files it
  *    describes, unlike a parquet footer, so drift is detected, not
  *    assumed away);
  *  - files with no stats row (landed after the last build/append) are
  *    kept; block stats that do not TILE the file exactly are ignored;
  *  - ordering uses the SAME comparator as the readers
  *    ([[FilterEval.compareInternal]] — binary UTF8String order for
  *    strings), and min/max round-trip through their internal canonical
  *    renderings, so "provably false" here means provably false under
  *    exactly the reader's comparison semantics.
  *
  * The same walk also proves the opposite bound ([[Truth.all]]) — a
  * conjunct TRUE for every row under the stats — enabling two
  * Iceberg-style residual eliminations: a reader whose file/block is
  * fully covered skips per-row filter evaluation, and a filtered
  * MIN/MAX/COUNT whose every surviving file is fully covered is
  * answered from metadata alone.
  */
object ZoneMaps {

  /** Sidecar directory name under the drop root (underscore-prefixed:
    * invisible to the scan's own listings, like `_compacted`).
    */
  val SidecarDir = "_graft_zonemaps"

  /** Types a zone map can index: comparable atomics whose internal form
    * has a canonical string rendering.
    */
  def indexable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Internal value → canonical sidecar string (per leaf type). */
  private[v2] def render(v: Any, dt: DataType): String = dt match {
    case StringType => v.asInstanceOf[UTF8String].toString
    case IntegerType | DateType => v.asInstanceOf[Int].toString
    case LongType | TimestampType => v.asInstanceOf[Long].toString
    case FloatType => v.asInstanceOf[Float].toString
    case DoubleType => v.asInstanceOf[Double].toString
    case _: DecimalType =>
      v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
    case other => throw new IllegalStateException(s"unindexable $other")
  }

  /** Canonical sidecar string → internal value. */
  private[v2] def decode(s: String, dt: DataType): Any = dt match {
    case StringType => UTF8String.fromString(s)
    case IntegerType | DateType => s.toInt
    case LongType | TimestampType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case d: DecimalType =>
      Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
    case other => throw new IllegalStateException(s"unindexable $other")
  }

  /** Types whose SUM is EXACT and order-free (integers and decimals
    * accumulate without rounding): only these carry a per-file sum in the
    * sidecar, so a metadata-only SUM can never disagree with a per-row
    * recomputation. Float/double sums are order-dependent — a sidecar
    * value would be one arbitrary ordering's answer — so they are never
    * stored.
    */
  def exactSummable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The column's value as an exact BigDecimal for sum accumulation. */
  private def toBig(v: Any, dt: DataType): java.math.BigDecimal = dt match {
    case IntegerType => java.math.BigDecimal.valueOf(v.asInstanceOf[Int].toLong)
    case LongType => java.math.BigDecimal.valueOf(v.asInstanceOf[Long])
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal
    case other => throw new IllegalStateException(s"unsummable $other")
  }

  /** Bloom insert/probe key: the canonical rendering with signed float
    * zeros NORMALIZED — the comparator treats -0.0 and 0.0 as EQUAL
    * (Spark semantics), so the membership filter must too, or a file of
    * -0.0s would be wrongly pruned for a pushed `col = 0.0` (renderings
    * "-0.0" vs "0.0" differ). `x + 0.0` maps -0.0 to 0.0, NaN-safe.
    */
  private[v2] def bloomKey(v: Any, dt: DataType): String = dt match {
    case FloatType => render(v.asInstanceOf[Float] + 0.0f, dt)
    case DoubleType => render(v.asInstanceOf[Double] + 0.0d, dt)
    case _ => render(v, dt)
  }

  /** One file's (or block's) stats for one column (values decoded to
    * internal form). `min`/`max` are None when the column had no
    * non-null values; `bloom` carries the file's membership filter once
    * [[loadBlooms]] has fetched it (no false negatives, so "definitely
    * absent" may prune; fpp only costs skipped skips). Blooms are
    * FILE-level only — blocks carry min/max/null, bounding sidecar size.
    * `sorted` is the builder's PROOF that the column is null-free and
    * non-decreasing in FILE ORDER (byte order = row order for JSONL), so
    * any byte-range split of the file is itself sorted — the foundation
    * for order-aware reads (`ORDER BY key LIMIT n` stops parsing at the
    * n-th kept row instead of heaping the split). False means "unproven",
    * never "proven unsorted" — pre-v3 sidecars load as false.
    */
  final case class ColStats(min: Option[Any], max: Option[Any],
      nulls: Long, rows: Long,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      sum: Option[java.math.BigDecimal] = None,
      sorted: Boolean = false,
      distinct: Option[Long] = None)

  /** Stats for one BLOCK — the byte range `[off, off+len)` of its file.
    * A block owns the lines that START in its range under the readers'
    * split-ownership rule (line at offset 0 → block 0; line at offset
    * `o > 0` → the block whose range is `(i·B, (i+1)·B]`, matching a
    * byte-range split's "discard first partial line, read through the
    * end-straddling line" contract), so any split cut at block
    * boundaries reads exactly the union of its blocks' rows.
    */
  final case class BlockStats(off: Long, len: Long,
      cols: Map[String, ColStats])

  /** One file's sidecar entry: file-level column stats plus, when the
    * file was indexed with `blockBytes > 0` and the block rows tile the
    * file exactly, per-block stats in offset order. `blockRows` is the
    * file-level row's recorded count of block stats ROWS written for the
    * file (0 = none, None = pre-v3 sidecar, unknown) — the hint that
    * lets a planner skip the lazy block-row fetch entirely for drops
    * indexed without block stats.
    */
  final case class FileStats(cols: Map[String, ColStats],
      blocks: Option[Seq[BlockStats]],
      blockRows: Option[Long] = None)

  /** Sidecar row schema (v2: `boff`/`blen` locate block rows; the
    * file-level row has `boff = -1`; v3 adds `sorted` — file-order
    * monotonicity proof — and `nblocks` — the file's block-row count —
    * both nullable so v2 generations keep reading, as "unknown").
    */
  private val statSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("len", LongType, nullable = false),
    StructField("mtime", LongType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("boff", LongType, nullable = false),
    StructField("blen", LongType, nullable = false),
    StructField("col", StringType, nullable = false),
    StructField("typ", StringType, nullable = false),
    StructField("min", StringType),
    StructField("max", StringType),
    StructField("nulls", LongType, nullable = false),
    StructField("sum", StringType),
    StructField("bloom", BinaryType),
    StructField("sorted", BooleanType),
    StructField("nblocks", LongType),
    // v4: exact DISTINCT non-null value count, recorded when the
    // column's non-null sequence is proven file-order monotone — one
    // comparison per row the mono check already pays. Null = unknown
    // (pre-v4 rows, unsorted files); nullable so older generations
    // keep reading.
    StructField("distinct", LongType)))

  private def requireIndexable(schema: StructType, cols: Seq[String],
      bloomCols: Seq[String]): Unit = {
    require(cols.nonEmpty, "zone maps need at least one column")
    require(bloomCols.forall(cols.contains),
      s"bloomCols ${bloomCols.filterNot(cols.contains).mkString(", ")} " +
        "must also be min/max-indexed (list them in cols)")
    cols.foreach { c =>
      val p = FilterEval.resolve(c, schema).getOrElse(throw
        new IllegalArgumentException(
          s"zone-map column '$c' does not resolve in ${schema.catalogString}"))
      require(indexable(p.leaf.dataType),
        s"zone-map column '$c' has unindexable type ${p.leaf.dataType.simpleString}")
    }
  }

  /** Sidecar writer parallelism: one part file per ~4096 indexed data
    * files — a small drop stays a single tidy file while a 100 TB
    * listing's stats don't funnel through one write task (readers union
    * every part of every generation either way).
    */
  private def sidecarParts(nFiles: Int): Int =
    math.max(1, nFiles / 4096)

  /** Every visible nonempty file under `root` as
    * (absolute, root-relative, length, mtime).
    */
  private def listVisible(fs: FileSystem,
      root: Path): Seq[(String, String, Long, Long)] = {
    require(fs.getFileStatus(root).isDirectory,
      s"zone maps index a document DIRECTORY, got $root")
    val rootUri = fs.makeQualified(root).toUri
    DocListing.walkFiles(fs, fs.listStatus(root).toSeq).map { st =>
      val (rel, len, mtime) = statsKey(rootUri, st)
      (st.getPath.toString, rel, len, mtime)
    }
  }

  /** The sidecar stats KEY of a listed file under the (qualified) drop
    * root: its root-relative path, length and modification time — the
    * one rendering the writers index by and every planning lookup
    * probes with. A file rewritten since indexing changes its length or
    * mtime, misses, and falls back to scanning.
    */
  def statsKey(root: java.net.URI, st: FileStatus): (String, Long, Long) =
    (root.relativize(st.getPath.toUri).getPath, st.getLen,
      st.getModificationTime)

  /** Default byte size of one stats-build task. Files larger than this
    * index with SPLIT parallelism — the reader's own granularity — so a
    * single 100 GB clustered file (exactly the shape block stats exist
    * for) no longer builds on one core in one task.
    */
  val DefaultStatSplitBytes: Long = 64L * 1024 * 1024

  /** One split task's contribution to its file's stats: everything in
    * the canonical STRING renderings (engine-portable, serializer-free),
    * plus the split's finished block rows (block boundaries align to
    * split boundaries by construction, so no block ever straddles two
    * tasks and block rows need no merging). `first`/`last` are the
    * split's first and last non-null values in read order and `mono` its
    * internal monotonicity — the per-file `sorted` proof folds as
    * "every split monotone ∧ every boundary last ≤ next first". Blooms
    * ride the partial ONLY for single-task files (one split, or
    * compressed whole-file); multi-split files ship theirs in a
    * dedicated bloom-only partial (start = -1, all stats neutral) so no
    * whole-file-sized blob is ever built per split or shuffled in
    * multiplicity.
    */
  private final case class SplitPartial(start: Long, rows: Long,
      nBlockRows: Long, mins: Array[String], maxs: Array[String],
      nulls: Array[Long], sums: Array[String], firsts: Array[String],
      lasts: Array[String], mono: Array[Boolean], dists: Array[Long],
      blooms: Array[Array[Byte]], blockRows: Seq[Row])

  /** The distributed stats pass: one task per SPLIT (files chop at
    * `statSplitBytes`, rounded up to a multiple of `blockBytes` so block
    * boundaries align to task boundaries), each computing
    * min/max/nullCount/sum/monotonicity for the requested (possibly
    * dotted/nested) columns over the minimal parse schema — then one
    * small merge per FILE. Line ownership is the readers' own
    * split-ownership rule, so per-split stats attribute every line to
    * exactly one task and the merged numbers equal a single-task pass
    * bit-for-bit. Compressed files decode through the codec as one
    * whole-file task (no mid-stream entry points, no block rows);
    * malformed lines count as all-null rows — exactly the reader's
    * permissive semantics, so the stats describe what the scan would
    * actually see.
    */
  private def statRows(spark: SparkSession,
      files: Seq[(String, String, Long, Long)], schema: StructType,
      cols: Seq[String], bloomCols: Seq[String], bloomFpp: Double,
      blockBytes: Long,
      statSplitBytes: Long = DefaultStatSplitBytes): org.apache.spark.rdd.RDD[Row] = {
    require(statSplitBytes > 0, "statSplitBytes > 0")
    val conf = new SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val schemaJson = SchemaMerge.merge(Array.empty,
      cols.map(_.split("\\.", -1).toSeq), schema).json
    val colsB = cols.toArray
    val bloomB = cols.map(bloomCols.contains).toArray
    // split planning is driver-side and codec-aware: codec detection is
    // filename-based, so driver and task agree by construction
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      spark.sparkContext.hadoopConfiguration)
    val effSplit =
      if (blockBytes > 0)
        ((statSplitBytes + blockBytes - 1) / blockBytes) * blockBytes
      else statSplitBytes
    // (abs, rel, len, mtime, splitStart, splitLen, mode). Modes: 0 =
    // stats + inline blooms (single-task files), 1 = stats only, 2 =
    // bloom only. Bloom filters must be sized to the FILE's expected
    // items to merge (mergeInPlace requires identical bit layouts), so a
    // split-parallel bloom build would create one whole-file-sized blob
    // PER SPLIT — at 100 GB / 64 MB splits, ~1600 potentially-GB blobs
    // shuffled to a single reducer. Instead, a multi-split file with
    // bloom columns builds its blooms in ONE dedicated whole-file task
    // (2, a second sequential pass over just that file) while its
    // min/max/block stats stay split-parallel (1): exactly one
    // full-sized blob per (file, column) ever exists or shuffles.
    val anyBloom = bloomB.exists(identity)
    val splits: Seq[(String, String, Long, Long, Long, Long, Int)] =
      files.flatMap { case (abs, rel, len, mtime) =>
        if (codecs.getCodec(new Path(abs)) != null)
          Seq((abs, rel, len, mtime, 0L, len, 0))
        else {
          val offs = (0L until len by effSplit)
          if (offs.lengthCompare(1) <= 0)
            offs.map(off => (abs, rel, len, mtime, off, len, 0))
          else {
            val stats = offs.map(off =>
              (abs, rel, len, mtime, off, math.min(effSplit, len - off), 1))
            if (anyBloom) stats :+ ((abs, rel, len, mtime, 0L, len, 2))
            else stats
          }
        }
      }
    val partials = spark.sparkContext
      .parallelize(splits, math.max(1, splits.size))
      .map { case (abs, rel, len, mtime, start, slen, mode) =>
        val doStats = mode != 2
        val doBloomHere = mode != 1
        val parseSchema = DataTypeJson.structFromJson(schemaJson)
        val parser = new ExtJsonParser(parseSchema)
        val getters = colsB.map(FilterEval.compiledGetter(_, parseSchema))
        val types = colsB.map(
          FilterEval.resolve(_, parseSchema).get.leaf.dataType)
        val n = colsB.length
        val mins = new Array[Any](n)
        val maxs = new Array[Any](n)
        val nulls = new Array[Long](n)
        val firsts = new Array[Any](n)
        val lasts = new Array[Any](n)
        val mono = Array.fill(n)(true)
        val dists = new Array[Long](n)
        // exact order-free sums (integers/decimals only) ride the
        // file-level row, extending metadata-only aggregates to SUM
        val sums: Array[java.math.BigDecimal] =
          types.map(t => if (doStats && exactSummable(t))
            java.math.BigDecimal.ZERO else null)
        // expected-items heuristic from the FILE byte size (>= ~64
        // B/doc); undersizing only raises the false-positive rate,
        // never breaks correctness
        val blooms: Array[org.apache.spark.util.sketch.BloomFilter] =
          colsB.indices.map(i =>
            if (bloomB(i) && doBloomHere)
              org.apache.spark.util.sketch.BloomFilter
                .create(math.max(1024L, len / 64L), bloomFpp)
            else null).toArray
        var rows = 0L
        val codec = new org.apache.hadoop.io.compress
          .CompressionCodecFactory(conf.value).getCodec(new Path(abs))
        // block accumulators (uncompressed files only: codec streams
        // have no line-seekable byte offsets to range over)
        val doBlocks = blockBytes > 0 && codec == null && doStats
        val out = Seq.newBuilder[Row]
        val bMins = new Array[Any](n)
        val bMaxs = new Array[Any](n)
        val bNulls = new Array[Long](n)
        var bRows = 0L
        var blockRowCount = 0L
        // this split owns blocks [start/B, end/B) — boundaries align by
        // the effSplit rounding — except the final split, which owns
        // through the file's last (possibly short) block
        val firstBlk = if (doBlocks) start / blockBytes else 0L
        val lastBlkExcl =
          if (!doBlocks) 0L
          else if (start + slen >= len) (len + blockBytes - 1) / blockBytes
          else (start + slen) / blockBytes
        var curBlk = firstBlk
        def flushBlock(i: Long): Unit = {
          val off = i * blockBytes
          val blen = math.min(blockBytes, len - off)
          var c = 0
          while (c < n) {
            out += Row(rel, len, mtime, bRows, off, blen, colsB(c),
              types(c).json,
              if (bMins(c) == null) null else render(bMins(c), types(c)),
              if (bMaxs(c) == null) null else render(bMaxs(c), types(c)),
              bNulls(c), null, null, null, null, null)
            bMins(c) = null; bMaxs(c) = null; bNulls(c) = 0L
            c += 1
            blockRowCount += 1
          }
          bRows = 0L
        }
        val split = ExtJsonInputPartition(abs, start, slen,
          wholeFile = codec != null)
        val end = SplitIO.endBound(split)
        val stream = SplitIO.open(split, conf.value)
        val lines = new LineReader(stream)
        val text = new Text()
        var pos = start
        try {
          // the readers' contract: a non-initial split discards its
          // first (possibly partial) line — owned by the previous task
          if (start != 0) pos += lines.readLine(text)
          var done = false
          while (!done && pos <= end) {
            val read = lines.readLine(text)
            if (read == 0) done = true
            else {
              val lineOff = pos
              pos += read
              if (text.getLength > 0) {
                if (doBlocks) {
                  // split-ownership attribution: offset 0 → block 0;
                  // offset o > 0 → the block whose half-open byte range
                  // precedes it, i.e. (o-1)/B — a line starting exactly
                  // ON a boundary belongs to the block BEFORE it,
                  // exactly as a byte-range split reads one line past
                  // its end
                  val blk =
                    if (lineOff == 0) 0L else (lineOff - 1) / blockBytes
                  while (curBlk < blk) { flushBlock(curBlk); curBlk += 1 }
                }
                if (doStats) { rows += 1; bRows += 1 }
                val row = parser.parse(text.getBytes, 0, text.getLength)
                var i = 0
                while (i < getters.length) {
                  val v = getters(i)(row)
                  if (v == null) {
                    if (doStats) { nulls(i) += 1; bNulls(i) += 1 }
                  } else {
                    if (doStats) {
                      if (mins(i) == null ||
                        FilterEval.compareInternal(types(i), v, mins(i)) < 0)
                        mins(i) = v
                      if (maxs(i) == null ||
                        FilterEval.compareInternal(types(i), v, maxs(i)) > 0)
                        maxs(i) = v
                      if (firsts(i) == null) { firsts(i) = v; dists(i) = 1L }
                      else if (mono(i)) {
                        // ONE comparison serves both proofs: order
                        // violation kills mono; a strict increase is a
                        // new distinct value (exact while mono holds —
                        // and only consumed when it does)
                        val c = FilterEval.compareInternal(types(i), v,
                          lasts(i))
                        if (c < 0) mono(i) = false
                        else if (c > 0) dists(i) += 1L
                      }
                      lasts(i) = v
                      if (sums(i) != null)
                        sums(i) = sums(i).add(toBig(v, types(i)))
                      if (doBlocks) {
                        if (bMins(i) == null ||
                          FilterEval.compareInternal(types(i), v, bMins(i)) < 0)
                          bMins(i) = v
                        if (bMaxs(i) == null ||
                          FilterEval.compareInternal(types(i), v, bMaxs(i)) > 0)
                          bMaxs(i) = v
                      }
                    }
                    if (blooms(i) != null)
                      blooms(i).putString(bloomKey(v, types(i)))
                  }
                  i += 1
                }
              }
            }
          }
        } finally { lines.close(); stream.close() }
        // flush the tail: every owned block gets a row (empty blocks
        // included — a block with NO stats row would break the tiling
        // gate and disable block skipping for the whole file)
        if (doBlocks) {
          while (curBlk < lastBlkExcl) { flushBlock(curBlk); curBlk += 1 }
        }
        def rendered(a: Array[Any]): Array[String] =
          colsB.indices.map(i =>
            if (a(i) == null) null else render(a(i), types(i))).toArray
        val bloomBytes: Array[Array[Byte]] = blooms.map { b =>
          if (b == null) null
          else {
            val bos = new java.io.ByteArrayOutputStream()
            b.writeTo(bos)
            bos.toByteArray
          }
        }
        // a bloom-only partial keys start = -1 (deterministic merge
        // order; its null firsts/lasts and zero counts are neutral in
        // every stats fold — it carries ONLY the blobs)
        ((rel, len, mtime), SplitPartial(if (doStats) start else -1L,
          rows, blockRowCount,
          rendered(mins), rendered(maxs), nulls.clone(),
          sums.map(s => if (s == null) null else s.toPlainString),
          rendered(firsts), rendered(lasts), mono.clone(), dists.clone(),
          bloomBytes, out.result()))
      }
    // per-FILE merge: a handful of small partials per file (stats rows
    // and bloom bytes, never document data), folded in split order so
    // the boundary monotonicity checks see adjacent splits
    partials.groupByKey().flatMap { case ((rel, len, mtime), ps) =>
      val parts = ps.toSeq.sortBy(_.start)
      val parseSchema = DataTypeJson.structFromJson(schemaJson)
      val types = colsB.map(
        FilterEval.resolve(_, parseSchema).get.leaf.dataType)
      val n = colsB.length
      val rows = parts.map(_.rows).sum
      val nBlockRows = parts.map(_.nBlockRows).sum
      val out = Seq.newBuilder[Row]
      parts.foreach(p => out ++= p.blockRows)
      var i = 0
      while (i < n) {
        val dt = types(i)
        def lt(a: String, b: String): Boolean =
          FilterEval.compareInternal(dt, decode(a, dt), decode(b, dt)) < 0
        val mins = parts.map(_.mins(i)).filter(_ != null)
        val maxs = parts.map(_.maxs(i)).filter(_ != null)
        val minS = if (mins.isEmpty) null else mins.reduce((a, b) =>
          if (lt(b, a)) b else a)
        val maxS = if (maxs.isEmpty) null else maxs.reduce((a, b) =>
          if (lt(a, b)) b else a)
        val nulls = parts.map(_.nulls(i)).sum
        val sumS =
          if (!exactSummable(dt)) null
          else parts.map(_.sums(i)).filter(_ != null)
            .foldLeft(java.math.BigDecimal.ZERO)((acc, s) =>
              acc.add(new java.math.BigDecimal(s))).toPlainString
        // sorted proof: null-free, every split internally monotone, and
        // every adjacent nonempty pair joins non-decreasingly
        val nonEmpty = parts.filter(_.firsts(i) != null)
        val orderedNonNull = parts.forall(_.mono(i)) &&
          nonEmpty.zip(nonEmpty.drop(1)).forall { case (a, b) =>
            !lt(b.firsts(i), a.lasts(i))
          }
        val sorted = nulls == 0L && orderedNonNull
        // exact DISTINCT non-null count, valid whenever the NON-NULL
        // sequence is file-order monotone (COUNT DISTINCT ignores nulls,
        // so null interleaving doesn't matter): split counts add, minus
        // one per split boundary whose adjacent values are EQUAL (the
        // shared value was counted on both sides)
        val distS: java.lang.Long =
          if (!orderedNonNull) null
          else {
            var d = nonEmpty.map(_.dists(i)).sum
            nonEmpty.zip(nonEmpty.drop(1)).foreach { case (a, b) =>
              if (!lt(a.lasts(i), b.firsts(i)) &&
                !lt(b.firsts(i), a.lasts(i))) d -= 1L
            }
            java.lang.Long.valueOf(d)
          }
        val bloomParts = parts.map(_.blooms(i)).filter(_ != null)
        val bloomMerged: Array[Byte] =
          if (bloomParts.isEmpty) null
          else if (bloomParts.size == 1) bloomParts.head
          else {
            val acc = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bloomParts.head))
            bloomParts.tail.foreach(b =>
              acc.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
                .readFrom(new java.io.ByteArrayInputStream(b))))
            val bos = new java.io.ByteArrayOutputStream()
            acc.writeTo(bos)
            bos.toByteArray
          }
        out += Row(rel, len, mtime, rows, -1L, len, colsB(i),
          dt.json, minS, maxS, nulls, sumS, bloomMerged,
          java.lang.Boolean.valueOf(sorted),
          java.lang.Long.valueOf(nBlockRows), distS)
        i += 1
      }
      out.result()
    }
  }

  /** Build (REBUILD) the sidecar for every visible file under `dropDir`,
    * replacing all prior generations. Returns the number of files
    * indexed. `blockBytes > 0` additionally writes per-block stats rows
    * so large clustered files prune at split granularity.
    */
  def build(spark: SparkSession, dropDir: String, schema: StructType,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01, blockBytes: Long = 0L,
      statSplitBytes: Long = DefaultStatSplitBytes): Long = {
    requireIndexable(schema, cols, bloomCols)
    val root = new Path(dropDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = listVisible(fs, root)
    val rows = statRows(spark, files, schema, cols, bloomCols, bloomFpp,
      blockBytes, statSplitBytes)
    // full rebuild: clear EVERY generation (base + appends) so no stale
    // add_ rows linger beside the fresh base
    fs.delete(new Path(s"$dropDir/$SidecarDir"), true)
    spark.createDataFrame(rows, statSchema)
      .coalesce(sidecarParts(files.size)).write.mode("overwrite")
      .parquet(s"$dropDir/$SidecarDir/base")
    files.size.toLong
  }

  /** INCREMENTALLY index the files that landed since the last
    * build/append: every visible file with no fresh (length+mtime-keyed)
    * stats row is indexed and written as generation `add_<batchTag>` —
    * deterministic directory + overwrite, so a replay of the same tag
    * converges (append-twice ≡ append-once) and an appending 100 TB drop
    * never decays to unskippable between full rebuilds. Cost is one pass
    * over the NEW files only. Returns the number of files indexed (0
    * writes nothing — a row-less generation would break later reads).
    *
    * Producers should call this at landing time (see
    * [[graft.sink.CorpusSink.writeShardedIndexed]]); [[build]] remains
    * the full-rebuild path that also clears superseded generations.
    */
  def append(spark: SparkSession, dropDir: String, schema: StructType,
      cols: Seq[String], batchTag: String, bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01, blockBytes: Long = 0L,
      statSplitBytes: Long = DefaultStatSplitBytes): Long = {
    requireIndexable(schema, cols, bloomCols)
    require(batchTag.nonEmpty && batchTag.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"batchTag '$batchTag' must be a plain directory-safe token")
    val root = new Path(dropDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // known keys from the cached file-level rows (one row per column per
    // file — same distinct key set as the whole sidecar, zero extra jobs
    // on an unchanged fingerprint)
    val known: Set[(String, Long, Long)] = snapshot(spark, dropDir) match {
      case None => Set.empty
      case Some(snap) => snapFileRows(snap)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    val fresh = listVisible(fs, root)
      .filterNot { case (_, rel, len, mtime) => known((rel, len, mtime)) }
    if (fresh.isEmpty) return 0L
    val rows = statRows(spark, fresh, schema, cols, bloomCols, bloomFpp,
      blockBytes, statSplitBytes)
    spark.createDataFrame(rows, statSchema)
      .coalesce(sidecarParts(fresh.size)).write.mode("overwrite")
      .parquet(s"$dropDir/$SidecarDir/add_$batchTag")
    fresh.size.toLong
  }

  /** One listed-and-loaded sidecar generation set, CACHED per drop: the
    * fingerprint is the exact (path, length, mtime) set of every
    * generation part file, so any [[build]]/[[append]]/[[compact]]
    * invalidates on the next listing; `df` is the aligned
    * cross-generation union (its construction — one `spark.read.parquet`
    * schema read per generation — is the planning cost this cache
    * amortizes); `fileRows` caches the COLLECTED file-level rows (the
    * phase-1 collect job, paid once per fingerprint instead of once per
    * planning round — the bloom blob column is never selected);
    * `blockRows` caches ALL block rows when the drop's block-row total
    * (known from the file rows' `nblocks` hints) fits
    * [[ZoneMaps.BlockRowCacheMax]] — above that, phase-1.5 stays a lazy
    * survivor-scoped read, exactly the 100 TB posture. Before this
    * cache, ONE planning round re-entered the listing + union + collect
    * up to four times (known-keys, phase 1, phase 1.5, blooms) — the
    * measured 2–3× planning regression on block-skipping probes.
    */
  private final class SidecarSnapshot(
      val fingerprint: Seq[(String, Long, Long)],
      val df: DataFrame) {
    @volatile var fileRows: Option[IndexedSeq[Row]] = None
    @volatile var blockRows: Option[IndexedSeq[Row]] = None
  }

  /** Block-row count past which the all-blocks cache is refused and the
    * lazy survivor-scoped phase-1.5 read stays in force: at bench/test
    * scale everything caches (repeat planning rounds pay zero Spark
    * jobs); at a block-indexed 100 TB drop the block rows are the
    * sidecar's bulk and must never be collected unscoped.
    */
  val BlockRowCacheMax: Long = 1L << 18

  private val snapshots =
    new java.util.concurrent.ConcurrentHashMap[String, SidecarSnapshot]()

  /** The cached snapshot for `dropDir`'s sidecar, or None when
    * absent/empty. Every call re-LISTS the generation files (freshness
    * is correctness: a landing between planning rounds must be seen) but
    * reuses the union DataFrame and collected rows whenever the listing
    * fingerprint is unchanged. Pre-generational sidecars (v1 flat part
    * files at the root, before the append lifecycle existed) are
    * deliberately NOT read: their row schema predates the block/sum
    * columns, and ignoring them is the conservative direction (pruning
    * turns off, rows never wrong) until the next [[build]] rewrites the
    * layout.
    */
  private def snapshot(spark: SparkSession,
      dropDir: String): Option[SidecarSnapshot] = {
    val p = new Path(s"$dropDir/$SidecarDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val entries = fs.listStatus(p).toSeq
    // flat v1 part files at the root are IGNORED data-wise (conservative:
    // pruning off, rows never wrong) but loudly so — a drop indexed
    // before the generational layout silently reads unskippable until a
    // rebuild, and "silently" is the part operators can't act on
    if (entries.exists(st => st.isFile && DocListing.visible(st)))
      warnLegacyFlatSidecar(p.toString)
    val genFiles = entries
      .filter(st => st.isDirectory && DocListing.visible(st))
      .map(st => st.getPath.toString -> DocListing.walkFiles(fs, Seq(st)))
      .filter(_._2.nonEmpty)
    if (genFiles.isEmpty) return None
    val fingerprint = genFiles.flatMap(_._2)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sorted
    // key by application too: a DataFrame outlives its session unusably
    val key = s"${spark.sparkContext.applicationId}#${fs.makeQualified(p)}"
    val cached = snapshots.get(key)
    if (cached != null && cached.fingerprint == fingerprint)
      return Some(cached)
    val gens = genFiles.map(_._1).sorted
    // generations can span sidecar schema VERSIONS (a v2 base with v3
    // appends): align each to the current schema, absent columns null
    // ("unknown" — every consumer treats null as its conservative
    // direction), then union. Filters still push into each leaf read.
    import org.apache.spark.sql.functions.{col => c, lit}
    val aligned = gens.map { g =>
      val df = spark.read.parquet(g)
      val have = df.columns.toSet
      val widened = statSchema.fields.foldLeft(df)((d, f) =>
        if (have(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType)))
      widened.select(statSchema.fieldNames.map(c): _*)
    }
    val snap = new SidecarSnapshot(fingerprint, aligned.reduce(_.unionByName(_)))
    // crude bound: the test suite churns hundreds of throwaway drops and
    // entries hold collected rows — correctness never depends on a hit
    if (snapshots.size > 128) snapshots.clear()
    snapshots.put(key, snap)
    Some(snap)
  }

  /** The file-level stats rows (every column EXCEPT the bloom blob),
    * collected once per snapshot — the phase-1 job every later planning
    * round on the unchanged sidecar gets for free.
    */
  private def snapFileRows(snap: SidecarSnapshot): IndexedSeq[Row] =
    snap.fileRows.getOrElse {
      import org.apache.spark.sql.functions.{col => c}
      val rows = snap.df.where(c("boff") < 0L)
        .select("file", "len", "mtime", "rows", "boff", "blen", "col",
          "typ", "min", "max", "nulls", "sum", "sorted", "nblocks",
          "distinct")
        .collect().toIndexedSeq
      snap.fileRows = Some(rows)
      rows
    }

  /** ALL block rows when the sidecar's block-row total — summed from the
    * file rows' `nblocks` hints — fits [[BlockRowCacheMax]]; None when
    * over budget or unknown (a pre-v3 file row), keeping the lazy scoped
    * read in force. Cached: the sum re-checks per call (in-memory), the
    * collect runs once per snapshot.
    */
  private def snapAllBlockRows(
      snap: SidecarSnapshot): Option[IndexedSeq[Row]] =
    snap.blockRows.orElse {
      val perFile = scala.collection.mutable.Map
        .empty[(String, Long, Long), Long]
      snapFileRows(snap).foreach { r =>
        if (r.isNullAt(13)) return None
        perFile((r.getString(0), r.getLong(1), r.getLong(2))) = r.getLong(13)
      }
      if (perFile.valuesIterator.sum > BlockRowCacheMax) None
      else {
        import org.apache.spark.sql.functions.{col => c}
        val rows = snap.df.where(c("boff") >= 0L)
          .select("file", "len", "mtime", "rows", "boff", "blen", "col",
            "typ", "min", "max", "nulls")
          .collect().toIndexedSeq
        snap.blockRows = Some(rows)
        Some(rows)
      }
    }

  /** Once-per-path warning for pre-generational sidecar layouts (flat
    * part files at the sidecar root): their rows are deliberately not
    * read — schema predates the block/sum columns — so skipping is OFF
    * for the drop until [[build]] rewrites the layout. Detection is
    * separate from logging so specs can assert it without emitting
    * stderr lines.
    */
  private val legacyWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def warnLegacyFlatSidecar(sidecarPath: String): Unit =
    if (legacyWarned.add(sidecarPath))
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"pre-generational (v1 flat-layout) zone-map sidecar at " +
          s"$sidecarPath is ignored — data skipping is OFF for this drop " +
          "until ZoneMaps.build rewrites it into the generational layout")

  /** Detection hook for the legacy layout (spec-assertable, no logging):
    * true when visible part FILES sit at the sidecar root instead of
    * inside generation directories.
    */
  private[graft] def hasLegacyFlatSidecar(spark: SparkSession,
      dropDir: String): Boolean = {
    val p = new Path(s"$dropDir/$SidecarDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).toSeq.exists(st =>
      st.isFile && DocListing.visible(st))
  }

  /** The PHASE-1 stats a document scan plans with: [[loadStats]]
    * without block rows, read whenever the drop has a sidecar. Empty when
    * `path` is not a directory — a single file or a glob carries no
    * sidecar, and one status call says so.
    */
  def dropStats(spark: SparkSession, path: String,
      schema: StructType): Map[(String, Long, Long), FileStats] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.getFileStatus(root).isDirectory) Map.empty
    else loadStats(spark, path, schema, withBlocks = false)
  }

  /** PHASE-1 load: min/max/null/rows per (file, column) — file-level and
    * block-level — decoded against the DECLARED schema, never touching
    * the bloom blob column (that's [[loadBlooms]], paid only for files
    * this phase keeps). Empty when absent. The three-part key is the
    * staleness gate: a file rewritten since indexing changes its length
    * or modification time and falls back to scanning. Block stats that
    * do not tile `[0, len)` exactly are dropped (never trusted halfway).
    */
  def loadStats(spark: SparkSession, dropDir: String,
      schema: StructType, withBlocks: Boolean = true): Map[(String, Long, Long), FileStats] = {
    val snap = snapshot(spark, dropDir) match {
      case None => return Map.empty
      case Some(s) => s
    }
    // a caller that folds FILE-level stats only (the metadata-aggregate
    // probe and the scan's phase 1) never touches the O(blocks·cols)
    // rows; withBlocks callers get the cached all-blocks set when it
    // fits, else pay one uncached collect (the boff predicate pushes
    // into the parquet read either way)
    val collected: Seq[Row] =
      if (!withBlocks) snapFileRows(snap)
      else snapFileRows(snap) ++ snapAllBlockRows(snap).getOrElse {
        snap.df.where(org.apache.spark.sql.functions.col("boff") >= 0L)
          .select("file", "len", "mtime", "rows", "boff", "blen", "col",
            "typ", "min", "max", "nulls").collect().toSeq
      }
    val parsed = collected.flatMap { r =>
      val col = r.getString(6)
      // block rows carry 11 columns (no sum/sorted/nblocks slots)
      val isFile = r.getLong(4) < 0L && r.length > 11
      // TYPE drift gate: stats rendered under a different declared
      // type must not prune (a bloom over "123" would false-negative
      // a probe rendered "123.0" — a wrong prune, the one forbidden
      // outcome)
      FilterEval.resolve(col, schema)
        .filter(_.leaf.dataType.json == r.getString(7)).map { fp =>
          val dt = fp.leaf.dataType
          ((r.getString(0), r.getLong(1), r.getLong(2)),
            r.getLong(4), r.getLong(5), col, ColStats(
              Option(r.getString(8)).map(decode(_, dt)),
              Option(r.getString(9)).map(decode(_, dt)),
              r.getLong(10), r.getLong(3),
              sum = if (!isFile) None else Option(r.getString(11))
                .map(new java.math.BigDecimal(_)),
              // null (pre-v3 row) reads as false — "unproven", the
              // conservative direction for an order-aware consumer
              sorted = isFile && !r.isNullAt(12) && r.getBoolean(12),
              // null (pre-v4 row / unordered column) reads as unknown
              distinct = if (!isFile || r.length < 15 || r.isNullAt(14))
                None else Some(r.getLong(14))),
            if (!isFile || r.isNullAt(13)) None else Some(r.getLong(13)))
        }
    }
    parsed.groupBy(_._1).map { case (key @ (_, len, _), rows) =>
      val fileRows = rows.filter(_._2 < 0L)
      val fileCols = fileRows.map { case (_, _, _, c, s, _) => c -> s }.toMap
      // block-row-count hint: any file-level row carries it (all agree
      // by construction); None = pre-v3, "unknown, must probe"
      val nb = fileRows.flatMap(_._6).headOption
      val blocks = tiledBlocks(rows.filter(_._2 >= 0L)
        .map { case (_, off, blen, c, s, _) => (off, blen, c, s) }, len)
      key -> FileStats(fileCols, blocks, nb)
    }
  }

  /** Assemble block rows into offset-ordered [[BlockStats]], applying the
    * tiling gate: trusted only when the blocks cover `[0, len)` exactly
    * and contiguously — a gap could hide rows, and a pruned "gap" is a
    * wrong prune.
    */
  private def tiledBlocks(rows: Seq[(Long, Long, String, ColStats)],
      len: Long): Option[Seq[BlockStats]] = {
    val blocks = rows.groupBy(t => (t._1, t._2)).toSeq.sortBy(_._1._1)
      .map { case ((off, blen), rs) =>
        BlockStats(off, blen, rs.map { case (_, _, c, s) => c -> s }.toMap)
      }
    val tiled = blocks.nonEmpty && blocks.head.off == 0L &&
      blocks.zip(blocks.tail).forall { case (a, b) =>
        a.off + a.len == b.off
      } && blocks.last.off + blocks.last.len == len
    if (tiled) Some(blocks) else None
  }

  /** The LAZY block-row load — phase 1.5, the block-stats twin of
    * [[loadBlooms]]: per-block min/max/null rows restricted to `files`
    * (root-relative paths), read only AFTER file-level min/max pruning
    * and only for its survivors. At a block-indexed 100 TB drop the
    * block rows dwarf the file rows by orders of magnitude; a query
    * whose file-level pass keeps three files must pay for three files'
    * blocks, not the corpus's. Small survivor sets push an `IN` filter
    * into the parquet read (row groups of other files never decode);
    * larger sets scope through a broadcast join — the unrestricted
    * collect never happens at any survivor count. Returns only files
    * whose block rows pass the tiling gate.
    */
  def loadBlockStats(spark: SparkSession, dropDir: String,
      schema: StructType, files: Set[String]): Map[(String, Long, Long), Seq[BlockStats]] = {
    if (files.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col => c}
    val snap = snapshot(spark, dropDir) match {
      case None => return Map.empty
      case Some(s) => s
    }
    // cached all-blocks set when the drop fits the budget (the survivor
    // restriction is then an in-memory filter, zero jobs on a repeat
    // planning round); over budget, the survivor-scoped read as before
    val collected: Seq[Row] = snapAllBlockRows(snap) match {
      case Some(all) => all.filter(r => files(r.getString(0)))
      case None =>
        scopeToFiles(spark, snap.df.where(c("boff") >= 0L), files)
          .select("file", "len", "mtime", "rows", "boff", "blen", "col",
            "typ", "min", "max", "nulls").collect().toSeq
    }
    val parsed = collected.flatMap { r =>
      val col = r.getString(6)
      if (!files(r.getString(0))) None
      else FilterEval.resolve(col, schema)
        .filter(_.leaf.dataType.json == r.getString(7)).map { fp =>
          val dt = fp.leaf.dataType
          ((r.getString(0), r.getLong(1), r.getLong(2)),
            (r.getLong(4), r.getLong(5), col, ColStats(
              Option(r.getString(8)).map(decode(_, dt)),
              Option(r.getString(9)).map(decode(_, dt)),
              r.getLong(10), r.getLong(3))))
        }
    }
    parsed.groupBy(_._1).flatMap { case (key @ (_, len, _), rows) =>
      tiledBlocks(rows.map(_._2), len).map(key -> _)
    }
  }

  /** PHASE-2 load: the serialized bloom filters for `cols`, restricted
    * to `files` (root-relative paths) when that set is small enough to
    * push as a filter. Returns (file, len, mtime) → column → bloom;
    * absent entries simply mean "no bloom indexed" (keep). The caller
    * pays this read only when an equality/IN probe exists and only
    * after min/max pruning — blooms load lazily, like parquet bloom
    * pages.
    */
  /** Survivor count past which the bloom phase is SKIPPED outright:
    * blooms only ever REMOVE files min/max already kept, so omitting
    * them is fail-soft — and a probe that still matches 16k+ files
    * after min/max pruning is not a point lookup; collecting that many
    * ~1 MB blobs would trade driver heap for skips that barely matter.
    */
  val BloomPhaseMaxFiles = 16384

  def loadBlooms(spark: SparkSession, dropDir: String, schema: StructType,
      cols: Set[String], files: Set[String]): Map[(String, Long, Long), Map[String, org.apache.spark.util.sketch.BloomFilter]] = {
    if (cols.isEmpty || files.isEmpty) return Map.empty
    if (files.size > BloomPhaseMaxFiles) return Map.empty
    import org.apache.spark.sql.functions.{col => c}
    // blobs themselves are never cached (MBs per large file); the shared
    // snapshot still spares this phase the listing + union + schema read
    val df = snapshot(spark, dropDir) match {
      case None => return Map.empty
      case Some(s) => s.df
    }
    val scoped = scopeToFiles(spark, df
      .where(c("boff") < 0L && c("bloom").isNotNull &&
        c("col").isin(cols.toSeq: _*)), files)
    scoped.select("file", "len", "mtime", "col", "typ", "bloom")
      .collect().toSeq
      .flatMap { r =>
        val colName = r.getString(3)
        if (!files(r.getString(0))) None
        else FilterEval.resolve(colName, schema)
          .filter(_.leaf.dataType.json == r.getString(4)).map { _ =>
            ((r.getString(0), r.getLong(1), r.getLong(2)), colName,
              org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(
                  r.get(5).asInstanceOf[Array[Byte]])))
          }
      }
      .groupBy(_._1)
      .map { case (k, rows) =>
        k -> rows.map { case (_, cn, b) => cn -> b }.toMap
      }
  }

  /** Restrict sidecar rows to the SURVIVOR file set — the one scoping
    * discipline both lazy loads (block rows, bloom blobs) share, so a
    * threshold or join-shape change can never drift between them: small
    * sets push an `IN` filter into the parquet read (row-group pruning
    * on the file column); larger sets scope through a broadcast join —
    * never an unrestricted collect, which at 100 TB would be driver heap
    * paid for files the min/max phase already dismissed.
    */
  private def scopeToFiles(spark: SparkSession, df: DataFrame,
      files: Set[String]): DataFrame =
    if (files.size <= 1024)
      df.where(org.apache.spark.sql.functions.col("file")
        .isin(files.toSeq: _*))
    else {
      val names = spark.createDataFrame(
        spark.sparkContext.parallelize(files.toSeq.map(Row(_)), 1),
        StructType(Seq(StructField("file", StringType, nullable = false))))
      df.join(org.apache.spark.sql.functions.broadcast(names), Seq("file"))
    }

  /** Complete (visible, nonempty) sidecar generations under `dropDir` —
    * the same rule [[snapshot]] loads by, so a cadence decision and
    * the fold see the identical generation set.
    */
  def generationCount(spark: SparkSession, dropDir: String): Int = {
    val p = new Path(s"$dropDir/$SidecarDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && DocListing.visible(st))
      .count(st => DocListing.walkFiles(fs, Seq(st)).nonEmpty)
  }

  /** The maintenance CADENCE producers call after a landing: folds the
    * sidecar ([[compact]]) when more than `maxGenerations` complete
    * generations exist. `maxGenerations <= 0` disables. Returns whether
    * a fold ran.
    */
  def compactIfOver(spark: SparkSession, dropDir: String,
      maxGenerations: Int): Boolean =
    maxGenerations > 0 &&
      generationCount(spark, dropDir) > maxGenerations && {
        compact(spark, dropDir); true
      }

  /** Columns probed by equality/IN somewhere in `f` — the only shapes a
    * bloom can answer, hence the only columns worth fetching blobs for.
    */
  def eqProbedCols(f: Filter): Set[String] = f match {
    case And(l, r) => eqProbedCols(l) ++ eqProbedCols(r)
    case Or(l, r) => eqProbedCols(l) ++ eqProbedCols(r)
    case EqualTo(a, _) => Set(a)
    case EqualNullSafe(a, v) if v != null => Set(a)
    case In(a, _) => Set(a)
    case _ => Set.empty
  }

  /** What a zone's stats prove about a filter: `maybe` — some row of
    * the zone may satisfy it (false ⇒ no row does, so the zone may be
    * skipped); `all` — every row satisfies it (per-row evaluation is
    * redundant there — residual elimination, Iceberg-style — and a
    * metadata-only aggregate may speak for the zone). A zero-row zone is
    * vacuously `all`.
    */
  final case class Truth(maybe: Boolean, all: Boolean) {
    def and(o: Truth): Truth = Truth(maybe && o.maybe, all && o.all)
    // `all` is sufficient, not necessary: one branch covering ALL rows
    // covers the disjunction (a row-wise split between branches is
    // invisible to min/max stats)
    def or(o: Truth): Truth = Truth(maybe || o.maybe, all || o.all)
  }

  /** Anything the zone algebra cannot bound: keep, and evaluate per row. */
  private val Unknown = Truth(maybe = true, all = false)

  /** The ONE zone evaluator: what `stats` (a file's or a block's) prove
    * about `f`, both answers from one walk of the filter tree. Each
    * answer errs in its own safe direction — `maybe` towards keeping,
    * `all` towards evaluating — so unknown columns, unconvertible
    * literals, and `Not`/string matches answer [[Unknown]]. Blooms only
    * ever inform `maybe`: membership proves possible presence, never
    * universality.
    */
  def truth(f: Filter, stats: Map[String, ColStats],
      schema: StructType): Truth = {
    // a comparison leaf: (maybe, all) tests on the non-null bounds; a
    // null row evaluates the predicate to NULL, not TRUE, so `all` also
    // needs a null-free zone
    def cmp(a: String, v: Any)(
        test: (ColStats, Any, DataType) => (Boolean, Boolean)): Truth =
      (stats.get(a), FilterEval.resolve(a, schema).map(_.leaf.dataType)) match {
        case (Some(s), Some(dt)) =>
          val vacuous = s.rows == 0L
          if (s.min.isEmpty || s.max.isEmpty) Truth(maybe = false, vacuous)
          else FilterEval.toInternal(v, dt) match {
            case Some(iv) =>
              val (maybe, all) = test(s, iv, dt)
              Truth(maybe, vacuous || (s.nulls == 0L && all))
            case None => Truth(maybe = true, vacuous)
          }
        case _ => Unknown
      }
    // `upward` (>, >=): a row may pass iff the max does, every row
    // passes iff the min does; downward (<, <=) the other way round
    def bound(a: String, v: Any, upward: Boolean)(pass: Int => Boolean): Truth =
      cmp(a, v) { (s, iv, dt) =>
        val (best, worst) =
          if (upward) (s.max.get, s.min.get) else (s.min.get, s.max.get)
        (pass(FilterEval.compareInternal(dt, best, iv)),
          pass(FilterEval.compareInternal(dt, worst, iv)))
      }
    // ONE shared probe for both equality forms: `=` and a non-null `<=>`
    // have identical zone semantics, and a separate code path is how the
    // <=> branch once probed the un-normalized rendering and wrongly
    // pruned a file of +0.0s for a pushed `col <=> -0.0`
    def eq(a: String, v: Any): Truth = cmp(a, v) { (s, iv, dt) =>
      val lo = FilterEval.compareInternal(dt, s.min.get, iv)
      val hi = FilterEval.compareInternal(dt, s.max.get, iv)
      (lo <= 0 && hi >= 0 && s.bloom.forall(_.mightContainString(bloomKey(iv, dt))),
        lo == 0 && hi == 0)
    }
    def nulls(a: String, maybe: ColStats => Boolean, all: ColStats => Boolean) =
      Truth(stats.get(a).forall(maybe), stats.get(a).exists(all))
    f match {
      case And(l, r) => truth(l, stats, schema) and truth(r, stats, schema)
      case Or(l, r) => truth(l, stats, schema) or truth(r, stats, schema)
      case EqualTo(a, v) => eq(a, v)
      case EqualNullSafe(a, null) => nulls(a, _.nulls > 0, s => s.nulls == s.rows)
      case EqualNullSafe(a, v) => eq(a, v)
      case GreaterThan(a, v) => bound(a, v, upward = true)(_ > 0)
      case GreaterThanOrEqual(a, v) => bound(a, v, upward = true)(_ >= 0)
      case LessThan(a, v) => bound(a, v, upward = false)(_ < 0)
      case LessThanOrEqual(a, v) => bound(a, v, upward = false)(_ <= 0)
      case In(a, vs) =>
        // `all` is provable only in the constant-column case: min == max
        // == some listed value (null list entries can't cover anything)
        Truth(vs.isEmpty || vs.exists(eq(a, _).maybe),
          vs.exists(v => v != null && eq(a, v).all))
      case IsNull(a) => nulls(a, _.nulls > 0, s => s.nulls == s.rows)
      case IsNotNull(a) => nulls(a, s => s.nulls < s.rows, _.nulls == 0L)
      case _ => Unknown
    }
  }

  /** [[truth]] of a conjunction: every filter in `filters` at once. */
  def truth(filters: Seq[Filter], stats: Map[String, ColStats],
      schema: StructType): Truth =
    filters.foldLeft(Truth(maybe = true, all = true))(
      _ and truth(_, stats, schema))

  /** In-flight fold directory and its completion manifest (the covered
    * generation names, a [[graft.core.Generations]] commit record).
    */
  private val FoldingDir = "_folding"
  private val FoldedManifest = "_folded.json"

  /** FOLD the sidecar's generations (`base` + every `add_<tag>`) into a
    * fresh single `base`, dropping superseded rows — stats keyed by a
    * (file, len, mtime) that no longer matches a visible data file
    * (rewritten or deleted since indexing). Without this a long-lived
    * appending drop accumulates `add_` directories forever: every
    * planning round lists and unions every generation, and dead rows for
    * rewritten files ride along until a full O(corpus) [[build]]. The
    * fold is O(sidecar) — generation parquet in, generation parquet out,
    * zero document bytes read — so its cadence can be "every N appends"
    * at any corpus size.
    *
    * Crash-idempotent by the [[graft.core.Generations]] commit: the fold
    * lands in a hidden `_folding` staging dir (invisible to [[snapshot]])
    * committed by its manifest; unmanifested staging is discarded and
    * refolded, manifested staging is finished (covered inputs deleted,
    * then renamed to `base`). A reader racing the window between input
    * deletion and rename sees a reduced generation set — reduced stats
    * only ever DISABLE pruning for the affected files, never mis-prune.
    *
    * Returns the number of INPUT generation directories folded (base
    * included when present — a routine fold of base plus two appends
    * returns 3); 0 = nothing to fold: already a lone, fully fresh base.
    */
  def compact(spark: SparkSession, dropDir: String): Long = {
    import org.apache.spark.sql.functions.{broadcast, col => c}
    val root = new Path(dropDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecar = new Path(s"$dropDir/$SidecarDir")
    if (!fs.exists(sidecar)) return 0L
    val staging = new Path(sidecar, FoldingDir)
    val basePath = new Path(sidecar, "base")

    val manifest = new Path(staging, FoldedManifest)
    def finishFold(covered: Seq[String]): Long = {
      covered.foreach { name =>
        val p = new Path(sidecar, name)
        if (fs.exists(p)) fs.delete(p, true)
      }
      // the manifest stays INSIDE the renamed base (hidden to parquet
      // reads) — deleting it before the rename would open a crash window
      // where the staging dir looks unmanifested while its inputs are
      // already gone; recovery only ever probes the _folding path, so a
      // manifest inside base is inert
      //
      // any base still present here is UNTRUSTWORTHY leftover (a complete
      // nonempty base was in the covered set and deleted above; what
      // remains is a crashed build's empty/partial dir) — delete it, or
      // Hadoop rename semantics would move the fold INSIDE base/ and
      // "succeed", silently losing every stat until a full rebuild
      if (fs.exists(basePath)) fs.delete(basePath, true)
      require(fs.rename(staging, basePath),
        s"sidecar fold rename failed: $staging -> $basePath")
      covered.size.toLong
    }

    graft.core.Generations.read(fs, manifest) match {
      case Some(m) => return finishFold(m.covered.toSeq)
      // crashed mid-write (or never staged): the inputs are intact —
      // discard and refold
      case None => fs.delete(staging, true)
    }
    val gens = fs.listStatus(sidecar).toSeq
      .filter(st => st.isDirectory && DocListing.visible(st))
      .filter(st => DocListing.walkFiles(fs, Seq(st)).nonEmpty)
      .map(_.getPath.getName).sorted
    if (gens.isEmpty) return 0L
    val snap = snapshot(spark, dropDir).getOrElse(return 0L)
    val df = snap.df
    // freshness = the same (file, len, mtime) key every load path gates
    // on: a row that would stand down at planning is dead weight here
    val current = listVisible(fs, root)
    val live = current.map { case (_, rel, len, mtime) => (rel, len, mtime) }
    val indexed = snapFileRows(snap)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val stale = indexed -- live.toSet
    if (gens == Seq("base") && stale.isEmpty) return 0L
    val keysDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        live.filter(indexed).map { case (f, l, m) => Row(f, l, m) }, 1),
      StructType(Seq(
        StructField("file", StringType, nullable = false),
        StructField("len", LongType, nullable = false),
        StructField("mtime", LongType, nullable = false))))
    df.join(broadcast(keysDf), Seq("file", "len", "mtime"))
      .select(statSchema.fieldNames.map(c): _*)
      .coalesce(sidecarParts(current.size))
      .write.mode("overwrite").parquet(staging.toString)
    // completion manifest AFTER the parquet _SUCCESS: the commit record
    // the replay path keys on
    graft.core.Generations.commit(fs, manifest,
      graft.core.Generations.Manifest(graft.core.Generations.Covered.of(gens)))
    finishFold(gens)
  }
}
