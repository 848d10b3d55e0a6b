package perfbench

import java.nio.file.{Files, Path}
import java.sql.Date
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.Pipeline
import graft.streaming.StreamingPipeline

/** What one timed repetition did: the latency of each batch that admitted
  * at least one file, and (streaming only) the trigger time outside
  * `addBatch`.
  */
final case class Calls(batchS: Seq[Double], triggerMs: Double = 0)

/** One repetition of a workload, with its inputs in place. [[run]] is the
  * timed part: it calls the program's public entry points and nothing else.
  * [[check]] compares the outputs with the generator's truth.
  */
trait Rep {
  def files: Seq[FileTruth]
  def rows: Long
  def inputBytes: Long
  def outDir: Path
  def inputDirs: Seq[Path]
  def run(): Calls
  def check(): Seq[Failure]
  /** Input property worth printing beside the figures. */
  def note: String = ""
}

/** A workload generates its inputs once, from the seed, in `prepareOnce`;
  * `prepare` gives repetition `i` a fresh output directory under `dir`.
  * The `warm` repetition runs once, untimed, on a smaller input of the same
  * shape, so that the timed repetitions find the JVM's and Spark's code
  * paths compiled.
  */
trait Workload {
  def prepareOnce(): Unit
  def prepare(i: Int, dir: Path, warm: Boolean = false): Rep
  def describe: String
}

object Workloads {
  val names: Seq[String] = Seq("bulk_2day", "stream_state")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload = name match {
    case "bulk_2day" => new Bulk(spark, work, seed)
    case "stream_state" => new StreamState(spark, work, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${names.mkString(", ")})")
  }

  private val day1 = Date.valueOf("2024-03-01")
  private val day2 = Date.valueOf("2024-03-02")

  private def union(loads: Load*): java.util.BitSet = {
    val b = new java.util.BitSet()
    loads.foreach(l => b.or(l.emails))
    b
  }

  private def summaryFailures(what: String, got: Pipeline.RunSummary, files: Seq[FileTruth],
                              ok: Long, err: Long): Seq[Failure] = {
    val want = Pipeline.RunSummary(files.size.toLong, ok, err)
    if (got == want) Nil else Seq(Failure(None, s"$what returned $got, expected $want"))
  }

  /** Two daily runBatch calls, a cold day into an empty output and a day
    * that merges into day 1's visitantes, then day 2 again as an idempotent
    * rerun that the ledger must turn away. Each day holds one wrong-layout
    * file (quarantined) and one header-only file. The warm-up repetition
    * runs the same calls on a tenth of the rows.
    */
  final class Bulk(spark: SparkSession, work: Path, seed: Long,
                   val spec: Spec = Spec(files = 10, rowsPerFile = 15000, universe = 15000,
                     wrongLayout = Set(3), headerOnly = Set(7)))
      extends Workload {
    private var days, warmDays: Seq[Load] = Nil
    def describe = s"2 days x ${spec.files} files x ${spec.rowsPerFile} rows " +
      s"(1 wrong-layout, 1 header-only), ${spec.universe} emails, then a rerun of day 2"

    def prepareOnce(): Unit = {
      def gen(s: Spec, dir: String) =
        Seq("d1", "d2").map(tag => Gen.write(work.resolve(dir).resolve(tag), tag, s, seed))
      days = gen(spec, "inputs")
      warmDays = gen(spec.copy(rowsPerFile = spec.rowsPerFile / 10), "warm-inputs")
    }

    def prepare(i: Int, dir: Path, warm: Boolean): Rep = new Rep {
      private val Seq(d1, d2) = if (warm) warmDays else days
      val files = d1.files ++ d2.files
      val rows = d1.rows + d2.rows
      val inputBytes = d1.bytes + d2.bytes
      val outDir = dir.resolve("out")
      val inputDirs = Seq(d1.dir, d2.dir)
      private var summaries = Seq.empty[Pipeline.RunSummary]
      private def call(load: Load, asOf: Date): Double = {
        val t = System.nanoTime()
        summaries :+= Pipeline.runBatch(spark, load.dir.toString, outDir.toString, asOf)
        (System.nanoTime() - t) / 1e9
      }
      def run(): Calls = {
        val times = Seq(call(d1, day1), call(d2, day2))
        call(d2, day2)
        Calls(times)
      }
      def check(): Seq[Failure] =
        summaries.zip(Seq(d1.files, d2.files, Nil)).zip(Seq("day 1", "day 2", "rerun")).flatMap {
          case ((s, fs), what) =>
            summaryFailures(what, s, fs, fs.map(_.okRows).sum, fs.map(_.errRows).sum)
        } ++ Check(spark, outDir.toString, files, union(d1, d2).cardinality, d1.okRows + d2.okRows)
    }
  }

  /** A visitantes state seeded once by a large runBatch; each repetition
    * copies it and drains small files through runAvailableNow, a few files
    * per micro-batch, then calls reconcilePendingFiles (which ledgers the
    * header-only file the stream cannot see). The warm-up repetition
    * drains one micro-batch.
    */
  final class StreamState(spark: SparkSession, work: Path, seed: Long) extends Workload {
    val seedSpec = Spec(files = 4, rowsPerFile = 25000, universe = 150000)
    val streamSpec = Spec(files = 16, rowsPerFile = 2000, universe = 150000, headerOnly = Set(9))
    val perTrigger = 4
    private val seedOut = work.resolve("seed-out")
    private var seedLoad, stream, warmStream: Load = _
    def describe = s"state from ${seedSpec.files} x ${seedSpec.rowsPerFile} rows; stream " +
      s"${streamSpec.files} files x ${streamSpec.rowsPerFile} rows (1 header-only), " +
      s"$perTrigger per trigger"

    def prepareOnce(): Unit = {
      val in = work.resolve("inputs")
      seedLoad = Gen.write(in.resolve("seed"), "seed", seedSpec, seed)
      stream = Gen.write(in.resolve("stream"), "s", streamSpec, seed)
      warmStream = Gen.write(in.resolve("warm"), "w",
        streamSpec.copy(files = perTrigger, headerOnly = Set()), seed)
      val s = Pipeline.runBatch(spark, seedLoad.dir.toString, seedOut.toString, day1)
      val bad = summaryFailures("seed runBatch", s, seedLoad.files, seedLoad.okRows, seedLoad.errRows)
      require(bad.isEmpty, bad.map(_.reason).mkString("; "))
    }

    def prepare(i: Int, dir: Path, warm: Boolean): Rep = {
      val load = if (warm) warmStream else stream
      val out = dir.resolve("out")
      copyTree(seedOut, out)
      new Rep {
        val files = load.files
        val rows = load.rows
        val inputBytes = seedLoad.bytes + load.bytes
        val outDir = out
        val inputDirs = Seq(load.dir)
        def run(): Calls = {
          val q = StreamingPipeline.runAvailableNow(spark, load.dir.toString, out.toString,
            dir.resolve("checkpoint").toString, day2, maxFilesPerTrigger = Some(perTrigger))
          try q.awaitTermination() finally q.stop()
          StreamingPipeline.reconcilePendingFiles(spark, load.dir.toString, out.toString, day2)
          val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
          Calls(progress.map(_.batchDuration / 1000.0),
            progress.map(_.durationMs.asScala.collect {
              case (k, v) if k != "addBatch" && k != "triggerExecution" => v.longValue
            }.sum).sum.toDouble)
        }
        def check(): Seq[Failure] = {
          val fs = Check(spark, out.toString, seedLoad.files ++ load.files,
            union(seedLoad, load).cardinality, seedLoad.okRows + load.okRows)
          val mine = load.files.map(_.name).toSet
          // a failure on a seed file means the drain damaged existing state
          fs.map(f => if (f.file.forall(mine)) f else Failure(None, f.reason))
        }
        override def note = {
          val b = load.emails.clone().asInstanceOf[java.util.BitSet]
          b.and(seedLoad.emails)
          f"share of batch emails already in the state: " +
            f"${b.cardinality.toDouble / load.emails.cardinality}%.3f"
        }
      }
    }
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def treeBytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }
}
