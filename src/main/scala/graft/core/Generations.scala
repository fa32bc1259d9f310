package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe generations for the engine's appendable artifacts — the
  * ONE answer to "when is a fold committed, and which batches does it
  * cover", shared by the PQ inverted file ([[graft.ops.ProductQuantize]]),
  * the streaming ingests ([[graft.pipelines.StreamingIvfIngest]],
  * [[graft.pipelines.StreamingNearDupIngest]]), and the commit records of
  * the zone-map sidecar fold and the in-place corpus compaction.
  *
  * Layout: `genRoot/gen=<n>/…` folded generations beside (or apart from)
  * `batchRoot/batch=<tag>/…` appended batches, and a `_generations`
  * format marker at `genRoot`, committed before anything is staged there.
  *
  *  - A generation is COMPLETE iff its `_folded` manifest exists; the
  *    manifest is the cumulative set of batch tags it covers.
  *  - Manifests commit atomically (hidden temp file, then a no-replace
  *    rename: a commit creates its file, never rewrites one) and read
  *    back validated (re-rendering must reproduce the bytes): a damaged
  *    one fails loudly, never reads as a shorter covered set.
  *  - Readers see the last complete generation plus every batch its
  *    manifest does not cover.
  *  - [[saveBase]] replaces the artifact the same way: its generation
  *    shadows every batch present until they are deleted.
  *  - [[fold]] writes generation n+1 from generation n plus the eligible
  *    uncovered batches, commits the cumulative manifest, and only then
  *    deletes covered batches and superseded generations. A rerun from any
  *    crash point converges; a batch re-created after its fold (a late
  *    replay) is deleted, never re-folded.
  *  - A root holding `gen=` directories but no marker is the OLDER
  *    streaming layout ([[legacy]]): generation `gen=<w>`, complete once
  *    Spark's `_SUCCESS` exists, covers batch ids `0..w`. Such a root is
  *    read, never folded, replaced or deleted; an older root whose
  *    generations carry a `_folded` (the older PQ format) fails loudly.
  *
  * Single writer per root, like every artifact here.
  */
object Generations {

  /** Covered tags in order, each ascending run of consecutive canonical
    * integers held as ONE closed range: a stream fold's cumulative record
    * grows with the gaps in its batch ids, not with their count.
    */
  final case class Covered(runs: Vector[Either[String, (Long, Long)]]) {
    private lazy val names = runs.collect { case Left(s) => s }.toSet
    def contains(tag: String): Boolean = names(tag) ||
      num(tag).exists(n => runs.exists(_.exists { case (a, b) => a <= n && n <= b }))
    def toSeq: Seq[String] =
      runs.flatMap(_.fold(Seq(_), { case (a, b) => (a to b).map(_.toString) }))
    def ++(tags: Seq[String]): Covered = Covered(tags.foldLeft(runs) { (rs, t) =>
      (rs.lastOption, num(t)) match {
        case (Some(Right((a, b))), Some(n)) if n == b + 1 => rs.init :+ Right((a, n))
        case (Some(Left(s)), Some(n)) if num(s).contains(n - 1) =>
          rs.init :+ Right((n - 1, n))
        case _ => rs :+ Left(t)
      }
    })
  }

  object Covered { def of(tags: Seq[String]): Covered = Covered(Vector.empty) ++ tags }

  /** A canonical non-negative integer tag (no sign, no leading zero). */
  private def num(t: String): Option[Long] =
    if (t.nonEmpty && t.length <= 18 && t.forall(c => c >= '0' && c <= '9') &&
      (t.length == 1 || t.head != '0')) Some(t.toLong) else None

  /** One commit record: the entries it covers, plus an optional fold tag.
    * Renders as a JSON array of strings and `[a,b]` ranges, or
    * `{"tag":…,"covered":[…]}` when tagged.
    */
  final case class Manifest(covered: Covered, tag: Option[String] = None)

  /** One fold's outcome: the covering generation and how many batches
    * this call folded into it (0 = nothing new).
    */
  final case class Fold(foldedBatches: Long, generation: Long, path: String)

  val ManifestName = "_folded"
  val FormatName = "_generations"
  /** Beside a save's manifest once the batches it covered are deleted:
    * their tags are free again, so the generation covers nothing.
    */
  val ReleasedName = "_released"

  def render(m: Manifest): String = {
    def str(s: String) = "\"" + jesc(s) + "\""
    val covered = m.covered.runs.map(_.fold(str, { case (a, b) => s"[$a,$b]" }))
      .mkString("[", ",", "]")
    m.tag.fold(covered)(t => s"""{"tag":${str(t)},"covered":$covered}""")
  }

  /** Parse a rendered manifest, validated by re-rendering byte-for-byte. */
  def parse(text: String): Manifest = {
    val tokens = "\"((?:[^\"\\\\]|\\\\.)*)\"|\\[(\\d{1,18}),(\\d{1,18})\\]".r
      .findAllMatchIn(text).map(m => Option(m.group(1)).map(junesc)
        .toLeft((m.group(2).toLong, m.group(3).toLong))).toVector
    val m = (text.startsWith("{"), tokens) match {
      case (true, Left("tag") +: Left(t) +: Left("covered") +: covered) =>
        Manifest(Covered(covered), Some(t))
      case (false, covered) => Manifest(Covered(covered))
      case (_, other) => throw new IllegalStateException(
        s"damaged manifest: fields ${other.take(3)}")
    }
    if (render(m) != text) throw new IllegalStateException(
      s"damaged manifest (round-trip mismatch): ${text.take(200)}")
    m
  }

  /** Atomic create: a hidden temp file beside `path`, then a no-replace
    * rename — a crash never leaves a partial file AT `path`, and the first
    * writer wins: false (the temp file deleted, `path` unchanged) when
    * `path` already exists. A scheme with no `AbstractFileSystem` binding
    * renames only after checking `path` is absent, which is atomic for
    * the single writer every root here has.
    */
  def commitText(fs: FileSystem, path: Path, text: String): Boolean = {
    val tmp = new Path(path.getParent, s".${path.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    val created = try {
      FileContext.getFileContext(fs.getUri, fs.getConf).rename(tmp, path, Options.Rename.NONE)
      true
    } catch {
      case _: FileAlreadyExistsException => false
      case _: UnsupportedFileSystemException => !fs.exists(path) && fs.rename(tmp, path)
    }
    if (!created) fs.delete(tmp, false)
    created
  }

  /** [[commitText]] of a record nothing else writes: an existing file at
    * `path` is reported, never replaced.
    */
  def commit(fs: FileSystem, path: Path, m: Manifest): Unit =
    commitNew(fs, path, render(m))

  private def commitNew(fs: FileSystem, path: Path, text: String): Unit =
    if (!commitText(fs, path, text))
      throw new IllegalStateException(s"commit refused: $path already exists")

  /** None when `path` does not exist. */
  def readText(fs: FileSystem, path: Path): Option[String] =
    try {
      val in = fs.open(path)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** None when absent; throws on a damaged manifest. */
  def read(fs: FileSystem, path: Path): Option[Manifest] =
    readText(fs, path).map(parse)

  /** `prefix<name>` subdirectories of `root` as (name, path). */
  def subdirs(fs: FileSystem, root: Path, prefix: String): Seq[(String, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) =>
        st.getPath.getName.stripPrefix(prefix) -> st.getPath
    }

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True for a root of the older layout: `gen=` directories, no marker. */
  def legacy(fs: FileSystem, genRoot: Path): Boolean =
    !fs.exists(new Path(genRoot, FormatName)) && subdirs(fs, genRoot, "gen=").nonEmpty

  /** Complete generations under `genRoot`, ascending, with manifests. In
    * an older-layout root, `gen=<w>` is complete once Spark's `_SUCCESS`
    * exists and covers batch ids `0..w`.
    */
  private def complete(fs: FileSystem, genRoot: String): Seq[(Long, Path, Manifest)] = {
    val gens = subdirs(fs, new Path(genRoot), "gen=")
    val old = gens.nonEmpty && !fs.exists(new Path(genRoot, FormatName))
    gens.flatMap { case (n, p) =>
      if (!old) read(fs, new Path(p, ManifestName)).map(m => (n.toLong, p,
        if (fs.exists(new Path(p, ReleasedName))) Manifest(Covered(Vector.empty)) else m))
      else if (fs.exists(new Path(p, ManifestName))) throw new IllegalStateException(
        s"$p: a manifest of an older format (no $FormatName marker); rebuild the artifact")
      else Option.when(fs.exists(new Path(p, "_SUCCESS")))(
        (n.toLong, p, Manifest(Covered(Vector(Right((0L, n.toLong)))))))
    }.sortBy(_._1)
  }

  /** The last complete generation's path, if any. */
  def latest(spark: SparkSession, genRoot: String): Option[String] =
    complete(fsOf(spark, genRoot), genRoot).lastOption.map(_._2.toString)

  /** The read set: the last complete generation plus every batch its
    * manifest does not cover (and `keep` admits, by tag).
    */
  def readSet(spark: SparkSession, genRoot: String, batchRoot: String,
      keep: String => Boolean = _ => true): Seq[String] = {
    val fs = fsOf(spark, genRoot)
    val last = complete(fs, genRoot).lastOption
    last.map(_._2.toString).toSeq ++ subdirs(fs, new Path(batchRoot), "batch=")
      .collect { case (tag, p) if !last.exists(_._3.covered.contains(tag)) && keep(tag) =>
        p.toString
      }
  }

  /** Per-root parquet reads unioned by name: each root is its own
    * partitioned tree, so discovery recovers partition columns per root
    * (a multi-root single read would need a common basePath).
    */
  def union(spark: SparkSession, roots: Seq[String]): DataFrame =
    roots.map(spark.read.parquet(_)).reduce(_.unionByName(_))

  /** Refuse an older-layout root; with `mark`, mark it ours (before
    * anything is staged under it).
    */
  private def claim(fs: FileSystem, genRoot: Path, mark: Boolean = true): Unit = {
    require(!legacy(fs, genRoot), s"$genRoot holds generations of an older " +
      "layout: readable, but never folded, replaced or deleted here; fold into a fresh root")
    if (mark && !fs.exists(new Path(genRoot, FormatName)))
      commitText(fs, new Path(genRoot, FormatName), "1")
  }

  /** Replace the artifact with a fresh base: `write` lands it as the NEXT
    * generation, whose manifest covers every batch present, so once
    * committed it shadows everything older; only then are the older
    * generations and those batches deleted, and the generation marked
    * [[ReleasedName]], so their tags are free for later appends. A crash
    * before the commit leaves the old artifact readable, after it the new
    * one; a crash before the mark leaves those tags covered until the
    * next save. Nothing outside `gen=`/`batch=` is touched.
    */
  def saveBase(spark: SparkSession, genRoot: String, batchRoot: String)(
      write: String => Unit): Unit = {
    val fs = fsOf(spark, genRoot)
    claim(fs, new Path(genRoot))
    val n = complete(fs, genRoot).lastOption.fold(0L)(_._1 + 1L)
    val target = new Path(genRoot, s"gen=$n")
    fs.delete(target, true) // a crashed earlier attempt's uncommitted output
    val batches = subdirs(fs, new Path(batchRoot), "batch=")
    write(target.toString)
    commit(fs, new Path(target, ManifestName),
      Manifest(Covered.of(batches.map(_._1))))
    batches.foreach { case (_, p) => fs.delete(p, true) }
    subdirs(fs, new Path(genRoot), "gen=").foreach { case (g, p) =>
      if (g != n.toString) fs.delete(p, true)
    }
    if (batches.nonEmpty) commitNew(fs, new Path(target, ReleasedName), "1")
  }

  /** Fold generation n plus the `eligible` uncovered batches into
    * generation n+1 via `write(inputs, targetPath)`, then commit the
    * cumulative manifest, then delete what it supersedes. None when the
    * artifact holds no generation and nothing to fold. Refuses (before
    * touching anything) a root of the older layout.
    */
  def fold(spark: SparkSession, genRoot: String, batchRoot: String,
      eligible: String => Boolean = _ => true)(
      write: (DataFrame, String) => Unit): Option[Fold] = {
    val fs = fsOf(spark, genRoot)
    claim(fs, new Path(genRoot), mark = false)
    val gens = complete(fs, genRoot)
    val last = gens.lastOption
    val covered = last.fold(Covered(Vector.empty))(_._3.covered)
    val (done, pending) = subdirs(fs, new Path(batchRoot), "batch=")
      .partition { case (tag, _) => covered.contains(tag) }
    // covered leftovers (an interrupted cleanup or a late replay of a
    // folded tag): their rows are inside the generation already
    done.foreach { case (_, p) => fs.delete(p, true) }
    val fresh = pending.filter { case (tag, _) => eligible(tag) }
      .sortBy { case (tag, _) => (num(tag).getOrElse(Long.MaxValue), tag) }
    def at(n: Long) = new Path(genRoot, s"gen=$n")
    if (fresh.isEmpty) {
      gens.dropRight(1).foreach { case (_, p, _) => fs.delete(p, true) }
      return last.map { case (n, _, _) => Fold(0L, n, at(n).toString) }
    }
    claim(fs, new Path(genRoot))
    val n = last.fold(0L)(_._1 + 1L)
    fs.delete(at(n), true) // a crashed earlier attempt's uncommitted output
    write(union(spark, (last.map(_._2) ++ fresh.map(_._2)).map(_.toString).toSeq),
      at(n).toString)
    commit(fs, new Path(at(n), ManifestName), Manifest(covered ++ fresh.map(_._1)))
    fresh.foreach { case (_, p) => fs.delete(p, true) }
    gens.foreach { case (_, p, _) => fs.delete(p, true) }
    Some(Fold(fresh.size.toLong, n, at(n).toString))
  }

  /** JSON string escaping — the one escape grammar of the engine's
    * manifests: caller-provided names can contain `"`, `\` or control
    * characters that would otherwise corrupt a hand-built entry.
    */
  def jesc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Inverse of [[jesc]], CONSERVATIVE: only the three escape forms the
    * writer produces (`\"`, `\\`, `\uXXXX`) are decoded; any other
    * backslash stays literal — so a manifest written by a pre-escaping
    * writer for a path containing a raw backslash still parses to the
    * original name.
    */
  def junesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length &&
              (2 to 5).forall(d => Character.digit(s.charAt(i + d), 16) >= 0) =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case e @ ('"' | '\\') => b.append(e); i += 2
          case _ => b.append(c); i += 1
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }
}
