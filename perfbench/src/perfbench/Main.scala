package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.{Try, Success, Failure => Thrown}
import org.apache.spark.sql.SparkSession
import graft.Pipeline

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Outcome of one repetition that matched the truth. */
final case class RepResult(setupS: Double, wallS: Double, calls: Calls, rows: Long,
                           storedPerInput: Double, trace: Option[TraceResult], gateMs: Double)

/** Runs repetitions and keeps the failure accounting: a repetition whose
  * calls throw or whose outputs disagree with the truth counts its files as
  * failed and yields no timing.
  */
final class Runner(spark: SparkSession, work: Path) {
  var attempted = 0
  var failed = 0
  private lazy val tracer = new Tracer(spark)

  def rep(wl: Workload, i: Int, traced: Boolean, warm: Boolean = false): Option[RepResult] =
    measure(i, traced, {
      val t = System.nanoTime()
      (wl.prepare(i, work.resolve(f"rep$i%03d"), warm), secs(t))
    })

  def measure(i: Int, traced: Boolean, prepared: => (Rep, Double)): Option[RepResult] = {
    val (rep, setupS) = prepared
    if (traced) tracer.start()
    val t = System.nanoTime()
    val calls = Try(rep.run())
    val wallS = secs(t)
    val trace = if (traced) Some(tracer.finish(rep.outDir.toString, wallS * 1000)) else None
    val tc = System.nanoTime()
    val failures = calls match {
      case Thrown(e) => Seq(Failure(None, s"pipeline call threw $e"))
      case Success(_) => Try(rep.check()).fold(e => Seq(Failure(None, s"check threw $e")), identity)
    }
    println(f"repetition $i: set-up $setupS%.3f s, calls $wallS%.3f s, check ${secs(tc)}%.3f s")
    val nFailed =
      if (failures.exists(_.file.isEmpty)) rep.files.size
      else failures.flatMap(_.file).distinct.size
    attempted += rep.files.size
    failed += nFailed
    failures.take(10).foreach { f =>
      println(s"FAILED repetition $i: ${f.file.getOrElse("all files")}: ${f.reason}")
    }
    val result = Option.when(nFailed == 0) {
      val gateMs = if (!traced) 0.0 else {
        val t = System.nanoTime()
        rep.inputDirs.foreach(d => Pipeline.listReports(spark, d.toString)
          .foreach(f => Pipeline.checkHeader(spark, f)))
        secs(t) * 1000
      }
      RepResult(setupS, wallS, calls.get, rep.rows,
        Workloads.treeBytes(rep.outDir).toDouble / rep.inputBytes, trace, gateMs)
    }
    if (rep.note.nonEmpty) println(s"repetition $i: ${rep.note}")
    Workloads.deleteTree(rep.outDir.getParent)
    result
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Entry point of the ETL benchmark; see perfbench/README.md. Prints the
  * figures as text, then one JSON line with the metrics.
  */
object Main {
  final case class Metric(name: String, value: Double, unit: String)

  /** A repetition is not started once this much time has passed since the
    * JVM started, so that a run ends well within its time limit.
    */
  val startLimitS = 110.0

  /** A correct run times at least this many untraced repetitions, so that
    * its figures never rest on one.
    */
  val minReps = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    // A benchmark run that completes reports its correctness in the JSON
    // line and exits 0; only the self-test turns its verdict into the code.
    val ok =
      try {
        if (opts.contains("selftest")) SelfTest(spark, work)
        else {
          bench(spark, work, opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
            opts("trace") == "1", sessionS, jvmStart)
          true
        }
      } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  def bench(spark: SparkSession, work: Path, name: String, seed: Long, seconds: Double,
            traced: Boolean, sessionS: Double, jvmStart: Long): Unit = {
    val wl = Workloads(name, spark, work, seed)
    println(s"workload $name (${wl.describe}), seed $seed, local[4]")
    var t = System.nanoTime()
    wl.prepareOnce()
    val onceS = (System.nanoTime() - t) / 1e9
    val runner = new Runner(spark, work)
    t = System.nanoTime()
    runner.rep(wl, 0, traced = false, warm = true)
    val warmS = (System.nanoTime() - t) / 1e9

    // Timed window: repetitions until `seconds` of pipeline calls have run.
    // A traced run alternates untraced and traced repetitions and ends on an
    // untraced one, so the traced ones sit between untraced ones as the JVM
    // keeps warming; their difference is the tracing overhead.
    val plain = ArrayBuffer.empty[RepResult]
    val withTrace = ArrayBuffer.empty[RepResult]
    // A failed repetition ends the window: the run is already not correct.
    var timed = 0.0
    var i = 1
    var stop = runner.failed > 0
    def elapsedS = (System.currentTimeMillis() - jvmStart) / 1000.0
    def more = timed < seconds || plain.size < minReps ||
      (traced && (withTrace.isEmpty || i % 2 == 1))
    while (!stop && more && elapsedS < startLimitS) {
      val tracedRep = traced && i % 2 == 0
      runner.rep(wl, i, tracedRep) match {
        case Some(r) =>
          (if (tracedRep) withTrace else plain) += r
          timed += r.wallS
        case None => stop = true
      }
      i += 1
    }

    val failRatio = runner.failed.toDouble / math.max(runner.attempted, 1)
    val samples = plain.flatMap(_.calls.batchS).toSeq
    val endToEnd = Seq(
      Metric("setup_s", sessionS + onceS + warmS + Stats.median(plain.map(_.setupS).toSeq), "s"),
      Metric("rows_per_s", plain.map(_.rows).sum / plain.map(_.wallS).sum, "rows/s"),
      Metric("batch_s_p50", Stats.median(samples), "s"),
      Metric("stored_per_input", Stats.median(plain.map(_.storedPerInput).toSeq), "bytes/byte"))
    println(f"setup_s: session $sessionS%.3f + shared state $onceS%.3f + warm-up $warmS%.3f " +
      f"+ median repetition set-up (n=${plain.size})")
    println(f"timed: ${plain.size} repetitions, ${plain.map(_.wallS).sum}%.3f s of pipeline calls, " +
      s"batch samples n=${samples.size}")
    val shown = endToEnd :+ Metric("fail_ratio", failRatio, "files/files")
    shown.foreach(m => println(f"${m.name} ${m.value}%.6g ${m.unit}"))
    println(s"fail_ratio: ${runner.failed} of ${runner.attempted} files failed")

    val metrics =
      if (!traced) endToEnd
      else {
        val tr = withTrace.toSeq
        val spans = Spans.names.flatMap { s =>
          Spans.fields.map { f =>
            val v = Stats.median(tr.map(r => r.trace.get.spans.get(s).fold(0.0)(
              _.fields.toMap.apply(f))))
            Metric(s"$s.$f", v, unitOf(f))
          }
        }
        val wallUntraced = Stats.median(plain.map(_.wallS).toSeq)
        val layer = spans ++ Seq(
          Metric("Pipeline.gate.ms", Stats.median(tr.map(_.gateMs)), "ms"),
          Metric("Pipeline.driver.ms", Stats.median(tr.map(_.trace.get.driverMs)), "ms"),
          Metric("StreamingPipeline.trigger.ms", Stats.median(tr.map(_.calls.triggerMs)), "ms"),
          Metric("trace.coverage", Stats.median(tr.map(_.trace.get.coverage)), "ratio"),
          Metric("trace.overhead", Stats.median(tr.map(_.wallS)) / wallUntraced - 1, "ratio"))
        printSpans(tr)
        layer.takeRight(5).foreach(m => println(f"${m.name} ${m.value}%.6g ${m.unit}"))
        layer
      }
    val enoughReps = plain.size >= minReps && (!traced || withTrace.nonEmpty)
    if (!enoughReps)
      println(f"NOT ENOUGH REPETITIONS: ${plain.size} untraced and ${withTrace.size} traced " +
        f"by the start limit of $startLimitS%.0f s; need $minReps untraced" +
        (if (traced) " and 1 traced" else ""))
    val correct = runner.failed == 0 && enoughReps
    println(json(correct, runner.attempted, runner.failed, if (correct) metrics else Nil))
  }

  private def unitOf(field: String): String =
    if (field == "ms" || field.startsWith("task_ms")) "ms"
    else if (field.endsWith("bytes")) "bytes" else "count"

  private def printSpans(tr: Seq[RepResult]): Unit = {
    println(s"per-layer medians over ${tr.size} traced repetitions:")
    println(("span" +: Spans.fields).map(f => f"$f%16s").mkString(" "))
    (Spans.names :+ Spans.Other).foreach { s =>
      val vs = Spans.fields.map(f => Stats.median(tr.map(_.trace.get.spans.get(s)
        .fold(0.0)(_.fields.toMap.apply(f)))))
      println((f"$s%-24s" +: vs.map(v => f"$v%16.1f")).mkString(" "))
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
        .mkString(", ") + "}}"
}
