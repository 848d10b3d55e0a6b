package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Pipeline

/** One disagreement between the outputs and the generator's truth. `file`
  * is the submitted file it concerns, or None when it concerns the output
  * as a whole (every file of the repetition then counts as failed).
  */
final case class Failure(file: Option[String], reason: String)

/** Compares what the pipeline wrote under `outDir` with what the generator
  * says it must hold: one bitacora row per file with the expected counts and
  * status, each file's row count in estadisticas and errores, and the
  * visitantes table's row count and Σ visitasTotales (the SCD-2 open slice
  * must hold one row per visitor too). Runs outside the timed window; row
  * counts come from parquet footers, so only bitacora and visitantes are
  * read through Spark.
  */
object Check {

  def apply(spark: SparkSession, outDir: String, files: Seq[FileTruth],
            visitors: Long, visits: Long): Seq[Failure] = {
    val expected = files.map(f => f.name -> f).toMap
    def unexpected(where: String, names: Iterable[String]) =
      names.filterNot(expected.contains).map(n => Failure(None, s"$where has a row for unknown file $n"))

    val ledger = readOr(spark, s"$outDir/bitacora") { df =>
      df.select("nombreArchivo", "registrosExitosos", "registrosFallidos", "estatus").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toSeq
    }(Seq.empty).groupMap(_._1)(_._2)
    val ledgerFailures = files.flatMap { f =>
      val want = Seq((f.okRows, f.errRows, f.status))
      val got = ledger.getOrElse(f.name, Nil)
      if (got == want) None
      else Some(Failure(Some(f.name), s"bitacora ${got.mkString(",")} != ${want.head}"))
    } ++ unexpected("bitacora", ledger.keys)

    def perFile(sink: String, want: FileTruth => Long): Seq[Failure] = {
      val got = partitions(Paths.get(outDir, sink)).par.map { p =>
        p.getFileName.toString.stripPrefix("nombreArchivo=") -> parquetRows(p)
      }.seq.toMap
      files.flatMap { f =>
        val n = got.getOrElse(f.name, 0L)
        if (n == want(f)) None else Some(Failure(Some(f.name), s"$sink has $n rows, expected ${want(f)}"))
      } ++ unexpected(sink, got.keys)
    }

    val (rows, visitSum) = Pipeline.currentVisitantes(spark, outDir)
      .map(_.agg(count(lit(1)), coalesce(sum("visitasTotales"), lit(0L))).head())
      .map(r => (r.getLong(0), r.getLong(1))).getOrElse((0L, 0L))
    val open = parquetRows(Paths.get(outDir, "visitantes_scd", "open"))
    val stateFailures = Seq(
      Option.when(rows != visitors)(s"visitantes has $rows rows, expected $visitors"),
      Option.when(visitSum != visits)(s"visitantes sums $visitSum visits, expected $visits"),
      Option.when(open != visitors)(s"visitantes_scd/open has $open rows, expected $visitors")
    ).flatten.map(Failure(None, _))

    ledgerFailures ++ perFile("estadisticas", _.okRows) ++ perFile("errores", _.errRows) ++
      stateFailures
  }

  private val hadoopConf = new org.apache.hadoop.conf.Configuration()

  private def partitions(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("nombreArchivo=")).toSeq
      finally s.close()
    }

  /** Rows in the parquet files directly under `dir`, from their footers. */
  private def parquetRows(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.list(dir)
      val files = try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        finally s.close()
      files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), hadoopConf))
        try r.getRecordCount finally r.close()
      }.sum
    }

  private def readOr[T](spark: SparkSession, dir: String)(f: org.apache.spark.sql.DataFrame => T)(
      absent: T): T =
    if (Files.exists(Paths.get(dir))) f(spark.read.parquet(dir)) else absent
}
