package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** The benchmark's own test: the failure accounting must see a corrupted
  * output and a thrown call, and neither may yield a timing.
  */
object SelfTest {

  /** Delegates to `rep`, then breaks one output after the calls return. */
  private class Corrupting(rep: Rep, corrupt: Rep => Unit) extends Rep {
    def files = rep.files
    def rows = rep.rows
    def inputBytes = rep.inputBytes
    def outDir = rep.outDir
    def inputDirs = rep.inputDirs
    def check() = rep.check()
    def run(): Calls = { val c = rep.run(); corrupt(rep); c }
  }

  def apply(spark: SparkSession, work: Path): Boolean = {
    val wl = new Workloads.Bulk(spark, work, seed = 7,
      Spec(files = 4, rowsPerFile = 500, universe = 2000, wrongLayout = Set(1), headerOnly = Set(2)))
    wl.prepareOnce()
    val runner = new Runner(spark, work)
    def prepared(i: Int, corrupt: Rep => Unit) =
      (new Corrupting(wl.prepare(i, work.resolve(s"selftest$i")), corrupt), 0.0)
    val results = Seq[(String, () => Option[RepResult], Int)](
      ("clean repetition", () => runner.rep(wl, 0, traced = true), 0),
      ("one estadisticas partition removed", () => runner.measure(1, traced = false,
        prepared(1, r => {
          val f = r.files.find(_.okRows > 0).get.name
          Workloads.deleteTree(r.outDir.resolve("estadisticas").resolve(s"nombreArchivo=$f"))
        })), 1),
      ("one bitacora row rewritten", () => runner.measure(2, traced = false,
        prepared(2, r => {
          val path = r.outDir.resolve("bitacora").toString
          val df = spark.read.parquet(path)
          val first = df.orderBy("nombreArchivo").head().getString(0)
          import org.apache.spark.sql.functions._
          val changed = df.withColumn("registrosExitosos",
            when(col("nombreArchivo") === first, col("registrosExitosos") + 1)
              .otherwise(col("registrosExitosos"))).localCheckpoint()
          changed.write.mode("overwrite").parquet(path)
        })), 1),
      ("a call that throws", () => runner.measure(3, traced = false,
        prepared(3, _ => throw new java.io.IOException("injected"))), wl.spec.files * 2))
    results.map { case (what, run, expectFailed) =>
      val before = runner.failed
      val r = run()
      val got = runner.failed - before
      val pass = got == expectFailed && r.isDefined == (expectFailed == 0) &&
        r.forall(_.trace.forall(_.coverage > 0))
      println(s"${if (pass) "ok" else "FAIL"}: $what: $got failed files (expected $expectFailed)" +
        r.flatMap(_.trace).fold("")(t => f", trace coverage ${t.coverage}%.3f"))
      pass
    }.forall(identity) && {
      println(s"fail_ratio ${runner.failed.toDouble / runner.attempted} (${runner.failed} of ${runner.attempted})")
      runner.failed > 0
    }
  }
}
