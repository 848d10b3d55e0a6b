package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one protocol for on-disk state directories. Every probe,
  * rename and delete goes through the Hadoop FileSystem of the path, so a
  * bare local path, a `file:` URI, `hdfs://` and `s3a://` all behave alike.
  *
  * Two layouts:
  *
  *  - VERSIONED dir (the parquet `visitantes` table and the CDC, Count-Min
  *    and preference-fold stream sinks): version n lives in `dir/v=<n>`, and
  *    `dir/_CURRENT` names the published one. A writer lists [[versions]],
  *    writes the next version whole, then [[publish]]es it: the pointer
  *    moves by temp write + rename, and all but the two newest prior
  *    versions are deleted. Readers go through [[read]], never a listing,
  *    so a half-written version is never observed (Delta Lake's
  *    log-then-pointer commit, reduced to one pointer file).
  *  - SWAPPED dir (the compactions): a rewrite lands beside the live dir
  *    and [[swapIn]] replaces it with two renames; [[recover]] repairs any
  *    crash point of a previous swap.
  *
  * Single writer per dir, like every sink in this engine.
  */
object StateDir {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether `path` exists on its own filesystem. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  /** Directory of version `v` of `dir`. */
  def versionPath(dir: String, v: Long): String = s"$dir/v=$v"

  /** Versions (`v=N` dirs with N < `below`) present in `dir`, ascending.
    * toLongOption: a stray non-numeric v=* entry (partial create, foreign
    * tool artifact) is skipped rather than failing the writer.
    */
  def versions(spark: SparkSession, dir: String, below: Long): Seq[Long] = {
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.stripPrefix("v=") }
      .flatMap(_.toLongOption)
      .filter(_ < below)
      .sorted
  }

  /** Publish `v=version` as `_CURRENT` and GC all but the two newest of
    * `prior` (the versions that existed below it): current + 2 prior is the
    * grace window for a reader still scanning a superseded version.
    * Crash-safe order: the version is complete before the pointer moves,
    * and a crash mid-GC only leaves stale versions, pruned next time.
    */
  def publish(spark: SparkSession, dir: String, version: Long, prior: Seq[Long]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, new Path(dir))
    // The swap must be a single overwrite-rename: delete-then-rename opens a
    // window where [[current]] sees NO pointer, so use
    // FileContext.rename(OVERWRITE) — atomic on HDFS-like stores — and it
    // throws (rather than returning false like FileSystem.rename) if the
    // swap fails, so a broken pointer is loud, not silent. Replays rewrite
    // the pointer identically.
    val tmp = fs.makeQualified(new Path(s"$dir/_CURRENT.tmp"))
    val out = fs.create(tmp, true)
    try out.write(s"v=$version".getBytes("UTF-8")) finally out.close()
    val cur = fs.makeQualified(new Path(s"$dir/_CURRENT"))
    // Object stores without an AbstractFileSystem binding (e.g. s3a by
    // default) can't serve FileContext; fall back to delete+rename with
    // the rename CHECKED. The no-pointer window reopens there, but those
    // stores' "atomic" rename is delete+copy anyway — [[current]]
    // re-probes once to absorb the window.
    def fallbackSwap(): Unit = {
      if (fs.exists(cur)) fs.delete(cur, false)
      if (!fs.rename(tmp, cur))
        throw new java.io.IOException(s"StateDir.publish: pointer swap $tmp -> $cur failed")
    }
    if (supportsFileContext(cur.toUri, conf)) {
      // The cached probe can go stale if a DIFFERENT Configuration (another
      // session in this JVM) loses the AbstractFileSystem binding — keep the
      // catch so a stale `true` degrades to the fallback instead of failing
      // the batch after its data write.
      try FileContext.getFileContext(cur.toUri, conf).rename(tmp, cur, Options.Rename.OVERWRITE)
      catch { case _: UnsupportedFileSystemException => fallbackSwap() }
    } else fallbackSwap()
    prior.sorted.dropRight(2).foreach(v => fs.delete(new Path(versionPath(dir, v)), true))
  }

  /** Whether `uri`'s store serves FileContext (an AbstractFileSystem
    * binding exists). Probed ONCE per (scheme, authority) and cached: the
    * swap strategy is a property of the store, not of the batch, and a
    * FileContext-less store (e.g. s3a by default) would otherwise pay a
    * thrown UnsupportedFileSystemException on every pointer swap.
    */
  private val fileContextSupport =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def supportsFileContext(uri: java.net.URI, conf: Configuration): Boolean =
    fileContextSupport.computeIfAbsent(
      s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}",
      _ => try { FileContext.getFileContext(uri, conf); true }
      catch { case _: UnsupportedFileSystemException => false })

  /** The version `_CURRENT` names, if any. One bounded re-probe on a
    * missing pointer: on stores where the swap degrades to delete+rename
    * (no FileContext binding) a reader can land in the no-pointer window;
    * a single 50 ms retry absorbs that case. The retry only fires when a
    * version dir ALREADY exists (so a swap could genuinely be in flight) —
    * a never-created dir, or one polled before its first data write,
    * returns None immediately instead of paying a driver sleep per call.
    */
  def current(spark: SparkSession, dir: String): Option[Long] = {
    val cur = new Path(s"$dir/_CURRENT")
    val fs = fsOf(spark, cur)
    def anyVersionDir: Boolean = fs.exists(cur.getParent) &&
      fs.listStatus(cur.getParent).exists(_.getPath.getName.startsWith("v="))
    val present = fs.exists(cur) ||
      (anyVersionDir && { Thread.sleep(50); fs.exists(cur) })
    if (!present) None
    else {
      val in = fs.open(cur)
      val name = try new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8")).readLine().trim
      finally in.close()
      Some(name.stripPrefix("v=").toLongOption.getOrElse(throw new java.io.IOException(
        s"StateDir.current: $cur names '$name', not a v=<n> version")))
    }
  }

  /** The published version as a DataFrame (None before the first publish). */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    current(spark, dir).map(v => spark.read.parquet(versionPath(dir, v)))

  private def swapSiblings(spark: SparkSession, dir: String): (FileSystem, Path, Path, Path) = {
    val d = new Path(dir)
    (fsOf(spark, d), d, new Path(d.getParent, d.getName + ".compact.tmp"),
      new Path(d.getParent, d.getName + ".compact.old"))
  }

  private def mv(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"StateDir: rename $src -> $dst failed")

  /** Entry-time crash recovery for [[swapIn]]; call before reading `dir`.
    * A previous swap can die at any point; every reachable state is
    * repairable from the sibling dirs alone:
    *  - live dir absent + tmp present: died between the two renames and
    *    tmp holds the complete rewrite — finish the swap (roll forward).
    *  - live dir absent + tmp absent + old present: only the pre-swap copy
    *    survives — restore it (roll back).
    *  - live dir present: any leftover tmp (partial rewrite) or old
    *    (interrupted post-swap delete) is garbage — remove it.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val (fs, d, tmp, old) = swapSiblings(spark, dir)
    if (!fs.exists(d)) {
      if (fs.exists(tmp)) mv(fs, tmp, d)
      else if (fs.exists(old)) mv(fs, old, d)
    }
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Replace `dir` with what `write` puts at the temp path it is given,
    * then return `write`'s result. Rename-aside swap: the directory is
    * absent only between two renames (a delete-then-move window would
    * strand readers, and a crash there loses the live dir; [[recover]]
    * repairs every crash point). Every rename targets a non-existent
    * destination, so checked FileSystem.rename suffices; it is atomic on
    * HDFS and posix local FS (on S3A it degrades to copy+delete, the
    * documented trade of every rename-based swap there).
    */
  def swapIn[T](spark: SparkSession, dir: String)(write: String => T): T = {
    val (fs, d, tmp, old) = swapSiblings(spark, dir)
    val result = write(tmp.toString)
    mv(fs, d, old)
    mv(fs, tmp, d)
    fs.delete(old, true)
    result
  }
}
