package graft.operators

import java.io.{BufferedInputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

/** S7 — archive/cleanup post-steps (SURVEY.md §2.1).
  *
  * Reference: move processed file to backup + delete from SFTP
  * (utils/utils_postprocessing.py:8-24, tasks/post_processing.py:7-19) and
  * daily zip of the backup dir (utils/utils_postprocessing.py:27-50,
  * tasks/post_processing.py:22-26). These are driver-side filesystem ops,
  * not dataflow — they stay out of the Spark plan on purpose. The SFTP
  * deletion collapses into the move (our source is a filesystem the engine
  * can move from directly; divergence documented in SURVEY.md S2/S7).
  */
object PostProcess {

  /** Move processed inputs into `backupDir` (created if absent). Returns the
    * backup paths. Idempotent: an existing same-name backup is replaced.
    */
  def moveToBackup(files: Seq[Path], backupDir: Path): Seq[Path] = {
    Files.createDirectories(backupDir)
    files.map { f =>
      val dest = backupDir.resolve(f.getFileName)
      Files.move(f, dest, StandardCopyOption.REPLACE_EXISTING)
      dest
    }
  }

  /** Zip every regular file currently in `backupDir` into
    * `<backupDir>/<stamp>.zip` (deterministic entry order) and delete the
    * originals — the reference's daily compress step. Returns the zip path,
    * or None when the dir has nothing to compress.
    */
  def zipBackup(backupDir: Path, stamp: String): Option[Path] = {
    if (!Files.isDirectory(backupDir)) return None
    val files = Files.list(backupDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".zip"))
      .toSeq.sortBy(_.getFileName.toString)
    if (files.isEmpty) return None
    val zipPath = backupDir.resolve(s"$stamp.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
    try {
      files.foreach { f =>
        zos.putNextEntry(new ZipEntry(f.getFileName.toString))
        val in = new BufferedInputStream(new FileInputStream(f.toFile))
        try in.transferTo(zos) finally in.close()
        zos.closeEntry()
      }
    } finally zos.close()
    files.foreach(Files.delete)
    Some(zipPath)
  }

  /** Full post-processing pass: archive the just-processed inputs, then
    * compress the backup dir under the given day stamp (`ddMMyy` in the
    * reference — utils/utils_postprocessing.py:42).
    */
  def archiveAndCompress(processed: Seq[String], backupDir: String, stamp: String): Option[Path] = {
    moveToBackup(processed.map(Paths.get(_)), Paths.get(backupDir))
    zipBackup(Paths.get(backupDir), stamp)
  }

  /** Age-based retention sweep — the reference's ops policy
    * (README.md:133-143: logs kept 30 days, backups 90 days) that the
    * archive/zip steps above otherwise grow without bound on a long-lived
    * deployment. Deletes regular files DIRECTLY under `dir` whose mtime is
    * older than `maxAgeDays` before `asOf`, optionally restricted to a
    * filename suffix. Crash-safe and idempotent by construction: list →
    * filter by age → delete; a crash mid-sweep leaves only files that
    * still qualify on the rerun, and files inside the horizon are never
    * touched. `asOf` is a parameter (not wall clock) so sweeps are
    * reproducible and testable. Returns the deleted paths; a missing dir
    * is a no-op.
    */
  def retentionSweep(dir: Path, asOf: java.time.Instant, maxAgeDays: Int,
                     suffix: Option[String] = None): Seq[Path] = {
    require(maxAgeDays >= 1, s"maxAgeDays must be >= 1, got $maxAgeDays")
    if (!Files.isDirectory(dir)) return Seq.empty
    val cutoff = asOf.minus(java.time.Duration.ofDays(maxAgeDays.toLong))
    val s = Files.list(dir)
    val victims =
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filter(p => suffix.forall(sfx => p.getFileName.toString.endsWith(sfx)))
        // the stat tolerates the same concurrent-removal race the delete
        // below does: a file another sweep (or the uploader) removed
        // between list and stat is simply not a victim, not a sweep abort
        .filter(p => scala.util.Try(
          Files.getLastModifiedTime(p).toInstant.isBefore(cutoff)).getOrElse(false))
        .toSeq
      finally s.close()
    // deleteIfExists: a concurrent/crashed earlier sweep may have removed
    // a victim already — idempotence over strictness
    victims.foreach(Files.deleteIfExists)
    victims
  }

  /** The reference retention policy in one call: 90-day `.zip` backups in
    * `backupDir`, 30-day `.log` files in `logDir` (README.md:133-143).
    * Returns (deleted backups, deleted logs).
    */
  def applyRetention(backupDir: Path, logDir: Path, asOf: java.time.Instant,
                     backupDays: Int = 90, logDays: Int = 30): (Seq[Path], Seq[Path]) =
    (retentionSweep(backupDir, asOf, backupDays, Some(".zip")),
      retentionSweep(logDir, asOf, logDays, Some(".log")))

  /** Small-file compaction for an append-accumulating parquet directory —
    * the ops counterpart of the per-file micro-batch design: every processed
    * file appends its own parquet parts, and at 100 TB a scan over millions
    * of KB-sized files is seek-bound long before it is byte-bound. Rewrites
    * `dir` into ~`targetBytes`-sized files (one shuffle-free coalesce when
    * shrinking), swapped in place of the original by the crash-safe
    * [[graft.StateDir.swapIn]] on the dir's own Hadoop filesystem.
    * Returns (files before, files after). Single-writer assumption: callers
    * serialize compaction against concurrent writers of the same dir.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
                     targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listParquet(): Array[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    graft.StateDir.recover(spark, dir)
    val parts = listParquet()
    val before = parts.length
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (nOut >= before) return (before, before) // already at/under target
    graft.StateDir.swapIn(spark, dir)(tmp =>
      spark.read.parquet(dir).coalesce(nOut).write.mode("overwrite").parquet(tmp))
    (before, listParquet().length)
  }
}
