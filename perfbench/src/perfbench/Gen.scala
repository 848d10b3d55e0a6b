package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import graft.operators.Layout

/** What the pipeline must record for one generated file: its bitacora row
  * and its contribution to estadisticas (`okRows`) and errores (`errRows`,
  * one row per failed check of an invalid row).
  */
final case class FileTruth(name: String, rows: Int, okRows: Long, errRows: Long,
                           status: String)

/** One generated input directory and the truth the generator knows about it.
  * `emails` holds the universe indices of every email that appears on a
  * valid row; the visitantes table must end with one row per distinct email
  * and Σ visitasTotales equal to `okRows`.
  */
final case class Load(dir: Path, files: Seq[FileTruth], rows: Long, bytes: Long,
                      emails: java.util.BitSet) {
  def okRows: Long = files.map(_.okRows).sum
  def errRows: Long = files.map(_.errRows).sum
}

/** Shape of one generated load. File indices in `wrongLayout` get a header
  * without the last column (quarantined as 'Fallido'); those in `headerOnly`
  * get a header and no rows (ledgered 'Completado' 0/0).
  */
final case class Spec(files: Int, rowsPerFile: Int, universe: Int,
                      wrongLayout: Set[Int] = Set.empty, headerOnly: Set[Int] = Set.empty)

/** Seeded, single-threaded writer of 15-column `report_*.txt` files in
  * `Layout.validColumns` order. Each row's validity is decided before it is
  * written, so the expected outputs are known by construction: each of the
  * four checks (email, Fecha envio, Fecha open, Fecha click) fails
  * independently with probability `badShare`, using values the layout's
  * regexes reject. The rate is arbitrary: no source gives one; it is low
  * enough that most rows are valid and high enough that every file with
  * rows has errores rows. Every file draws from its own generator, derived from the
  * seed and the file's index, so two seeds give loads of the same shape.
  */
object Gen {

  private val badShare = 0.015
  private val header = Layout.validColumns.mkString(",")
  private val browsers = Array("Chrome", "Firefox", "Safari", "Edge")
  private val platforms = Array("Windows", "Linux", "Android", "iOS", "macOS")
  private val badEmails = Array("u%d.m.com", "u%d@m", "@m%d.com", "u %d@m.com")
  private val badDates = Array("2024-02-%02d 10:00", "%d/2/2024 10:00", "32/01/2024 %02d:00",
    "%02d/02/2024")

  def email(idx: Int): String = s"u$idx@m${idx % 31}.com"

  private def date(r: SplittableRandom): String =
    f"${1 + r.nextInt(28)}%02d/${1 + r.nextInt(3)}%02d/2024 ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d"

  private def count(r: SplittableRandom): String = r.nextInt(8) match {
    case 7 => "-"
    case n => n.toString
  }

  /** Writes `spec.files` files named `report_<tag>_NNNNN.txt` into `dir`. */
  def write(dir: Path, tag: String, spec: Spec, seed: Long): Load = {
    Files.createDirectories(dir)
    val emails = new java.util.BitSet(spec.universe)
    var rows = 0L
    var bytes = 0L
    val files = (0 until spec.files).map { i =>
      val name = f"report_${tag}_$i%05d.txt"
      val r = new SplittableRandom(seed * 1000003L + tag.hashCode * 7919L + i)
      val out = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(dir.resolve(name).toFile), StandardCharsets.US_ASCII), 1 << 20)
      val sb = new java.lang.StringBuilder(256)
      var fileBytes = 0L
      def line(s: CharSequence): Unit = {
        out.append(s).append('\n')
        fileBytes += s.length + 1
      }
      val wrong = spec.wrongLayout(i)
      val n = if (spec.headerOnly(i)) 0 else spec.rowsPerFile
      var ok = 0L
      var err = 0L
      try {
        line(if (wrong) Layout.validColumns.init.mkString(",") else header)
        var k = 0
        while (k < n) {
          val idx = r.nextInt(spec.universe)
          val bad = Array.fill(4)(r.nextDouble() < badShare)
          sb.setLength(0)
          sb.append(if (bad(0)) badEmails(r.nextInt(badEmails.length)).format(idx) else email(idx))
          sb.append(',').append(if (r.nextBoolean()) "J" else "V")
          sb.append(',').append(if (r.nextInt(20) == 0) "SI" else "")
          sb.append(',').append(if (r.nextInt(50) == 0) "SI" else "")
          // Fecha envio is always present on valid rows; open and click may
          // be empty (null), which the date check accepts.
          def dateCol(isBad: Boolean, mayBeEmpty: Boolean): Unit = {
            sb.append(',')
            if (isBad) sb.append(badDates(r.nextInt(badDates.length)).format(1 + r.nextInt(9)))
            else if (!mayBeEmpty || r.nextInt(3) > 0) sb.append(date(r))
          }
          dateCol(bad(1), mayBeEmpty = false)
          dateCol(bad(2), mayBeEmpty = true)
          sb.append(',').append(count(r)).append(',').append(count(r))
          dateCol(bad(3), mayBeEmpty = true)
          sb.append(',').append(count(r)).append(',').append(count(r))
          sb.append(",https://s.example.com/p").append(r.nextInt(1000))
          sb.append(",10.").append(r.nextInt(256)).append('.').append(r.nextInt(256))
            .append('.').append(r.nextInt(256))
          sb.append(',').append(browsers(r.nextInt(browsers.length)))
          if (!wrong) sb.append(',').append(platforms(r.nextInt(platforms.length)))
          line(sb)
          val fails = bad.count(identity)
          if (fails == 0) {
            ok += 1
            if (!wrong) emails.set(idx)
          } else err += fails
          k += 1
        }
      } finally out.close()
      rows += n
      bytes += fileBytes
      if (wrong) FileTruth(name, n, 0, 0, "Fallido")
      else FileTruth(name, n, ok, err, if (err > 0) "Completado con errores" else "Completado")
    }
    Load(dir, files, rows, bytes, emails)
  }
}
