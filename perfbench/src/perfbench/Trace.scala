package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Totals of one span over one traced repetition. */
final case class SpanStats(ms: Double = 0, actions: Int = 0, jobs: Int = 0, tasks: Int = 0,
                           writtenBytes: Long = 0, shuffleBytes: Long = 0,
                           spillBytes: Long = 0, taskMs: Vector[Long] = Vector.empty) {
  def fields: Seq[(String, Double)] = Seq(
    "ms" -> ms, "actions" -> actions.toDouble, "jobs" -> jobs.toDouble,
    "tasks" -> tasks.toDouble, "written_bytes" -> writtenBytes.toDouble,
    "shuffle_bytes" -> shuffleBytes.toDouble, "spill_bytes" -> spillBytes.toDouble,
    "task_ms_p50" -> Stats.median(taskMs.map(_.toDouble)),
    "task_ms_max" -> (if (taskMs.isEmpty) 0.0 else taskMs.max.toDouble))
}

/** One traced repetition: spans by name, the wall they sit in, and the
  * action time no span claimed (`other`).
  */
final case class TraceResult(spans: Map[String, SpanStats], wallMs: Double) {
  def coveredMs: Double = spans.valuesIterator.map(_.ms).sum
  def coverage: Double = Spans.names.map(spans.get(_).fold(0.0)(_.ms)).sum / wallMs
  def driverMs: Double = wallMs - coveredMs
}

/** The per-layer spans, named after the program's modules, and the rules
  * that attribute each Spark action to one of them:
  *  - a write goes to the span of its output directory;
  *  - any other action goes by the first `graft.*` frame of its call site,
  *    skipping the shared materialization helpers (their caller owns the
  *    work). Inside `Pipeline.processBatch`, a `collect` is the bitacora
  *    ledger collect; any other action (the emptiness probe, a parquet
  *    schema read) belongs to the stage the batch is in, which is the span
  *    of the last write `processBatch` made, or `Validate.staged` before it
  *    made one.
  */
object Spans {
  val names: Seq[String] = Seq("Validate.staged", "Prepare.estadisticas", "Prepare.errores",
    "Merge.visitantes", "Scd.history", "Pipeline.bitacora", "Pipeline.ledger_skip",
    "StreamingPipeline.files")
  val fields: Seq[String] = SpanStats().fields.map(_._1)
  val Other = "other"

  private val sinks = Map("_staged" -> "Validate.staged", "estadisticas" -> "Prepare.estadisticas",
    "errores" -> "Prepare.errores", "visitantes" -> "Merge.visitantes",
    "visitantes_scd" -> "Scd.history", "bitacora" -> "Pipeline.bitacora",
    "reintentos" -> "Pipeline.bitacora")
  private val helpers = Seq("graft.operators.Materialize$", "graft.operators.Checkpoints$")
  private val Frame = """(graft\.[\w.$]*?)\$\.([\w$]+)\(.*""".r
  private val Lambda = """\$anonfun\$([^$]+)\$.*""".r

  /** Span of a write to `path`, which lies under `outDir`. */
  def ofWrite(path: String, outDir: String): String = {
    val i = path.indexOf(outDir)
    if (i < 0) Other
    else sinks.getOrElse(path.substring(i + outDir.length).split('/').find(_.nonEmpty)
      .getOrElse(""), Other)
  }

  /** (object, method) of the first program frame of a long-form call site. */
  def firstFrame(callSite: String): Option[(String, String)] =
    programFrames(callSite).collectFirst { case Frame(obj, m) =>
      (obj, m match { case Lambda(outer) => outer; case plain => plain })
    }

  /** True when the call site does not say which program code ran the
    * action: there is no program frame, or the first one is the streaming
    * query's start, which Spark stamps on every job the query runs.
    */
  def needsSample(callSite: String): Boolean =
    programFrames(callSite).nextOption().forall(
      _.startsWith("graft.streaming.StreamingPipeline$.runAvailableNow("))

  private def programFrames(callSite: String): Iterator[String] =
    callSite.split('\n').iterator.map(_.trim)
      .filter(f => f.startsWith("graft.") && !helpers.exists(f.startsWith))

  /** Span of a non-write action, given its short description (`collect at
    * ...`) and the span of the batch's current stage.
    */
  def ofAction(frame: Option[(String, String)], description: String, stage: String): String =
    frame match {
      case Some(("graft.operators.Scd", _)) => "Scd.history"
      case Some(("graft.operators.Merge", _)) => "Merge.visitantes"
      case Some(("graft.operators.Validate", _)) => "Validate.staged"
      case Some(("graft.operators.Prepare", _)) => "Prepare.estadisticas"
      case Some(("graft.streaming.StreamingPipeline", _)) => "StreamingPipeline.files"
      case Some(("graft.Pipeline", m)) => m match {
        case "processedFiles" => "Pipeline.ledger_skip"
        case "currentVisitantes" => "Merge.visitantes"
        case "recordSystemFailures" | "quarantine" | "ledgerRows" | "emptyFileLedger" =>
          "Pipeline.bitacora"
        case _ => if (description.startsWith("collect")) "Pipeline.bitacora" else stage
      }
      case _ => Other
    }
}

/** Samples, every few milliseconds, the stacks of the threads that run
  * streaming micro-batches. Spark gives every job of a streaming query the
  * call site of the query's start, so an action run inside `foreachBatch`
  * carries no frame of its own; the samples taken while it ran supply it.
  */
private final class StackSampler extends Thread("perfbench-stack-sampler") {
  setDaemon(true)
  val samples = new ConcurrentLinkedQueue[(Long, Array[StackTraceElement])]()
  @volatile private var running = true

  private def streamThreads(): Seq[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val all = new Array[Thread](g.activeCount() * 2 + 16)
    all.take(g.enumerate(all)).filter(_.getName.startsWith("stream execution thread")).toSeq
  }

  override def run(): Unit = {
    var threads = Seq.empty[Thread]
    var scanned = 0L
    while (running) {
      val now = System.currentTimeMillis()
      if (now - scanned >= 100) { threads = streamThreads(); scanned = now }
      threads.foreach { t =>
        val st = t.getStackTrace
        if (st.exists(_.getClassName.startsWith("graft."))) samples.add((now, st))
      }
      Thread.sleep(5)
    }
  }

  def finish(): Unit = { running = false; join() }

  /** Call site (long form) and action name of the most frequent program
    * stack sampled in [from, to].
    */
  def callSite(from: Long, to: Long): Option[(String, String)] = {
    val sites = samples.asScala.iterator.collect { case (t, st) if t >= from && t <= to =>
      val i = st.indexWhere(_.getClassName.startsWith("graft."))
      val action = st.take(i).reverseIterator.find(_.getClassName.startsWith("org.apache.spark"))
        .fold("")(_.getMethodName)
      val frames = st.drop(i).map(e =>
        s"${e.getClassName}.${e.getMethodName}(${e.getFileName}:${e.getLineNumber})")
      (frames.mkString("\n"), action)
    }.toSeq
    if (sites.isEmpty) None else Some(sites.groupBy(identity).maxBy(_._2.size)._1)
  }
}

/** Listens to Spark's job, task and SQL-execution events for one traced
  * repetition. Register with [[start]], run the repetition, then [[finish]]:
  * it waits until the listener bus has delivered every event of the
  * repetition, unregisters, and attributes the events to spans.
  *
  * An action's time is its SQL execution's duration as Spark measures it
  * for `QueryExecutionListener.onSuccess`, which includes physical planning;
  * it is read from the execution's end event because that event also covers
  * the executions a streaming query runs in its own cloned session, which a
  * listener on the main session is not told about. Actions whose call site
  * names no program code (those run inside a streaming micro-batch) take it
  * from a [[StackSampler]]. An execution that other
  * executions run inside (a streaming micro-batch) is a container, not an
  * action: its nested executions are the actions, and its remaining time is
  * driver time.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private final case class Exec(callSite: String, description: String, write: Option[String],
                                root: Long, start: Long, var end: Long = -1, var ms: Double = -1)
  private final case class Job(start: Long, exec: Option[Long], callSite: String,
                               description: String, stages: Seq[Int], var end: Long = -1)
  private final case class Task(stage: Int, ms: Long, written: Long, shuffle: Long, spill: Long)
  private final case class Action(start: Long, ms: Double, callSite: String, description: String,
                                  write: Option[String], jobIds: Seq[Int])

  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val FlushTag = "perfbench-flush"
  @volatile private var flushed = new CountDownLatch(1)
  @volatile private var flushJob = -1
  private val flushStages = ConcurrentHashMap.newKeySet[Int]()
  private var sampler = new StackSampler

  private def writePath(p: SparkPlanInfo): Option[String] =
    if (p.nodeName.startsWith("Execute InsertIntoHadoopFsRelationCommand"))
      Some(p.simpleString.stripPrefix(p.nodeName).trim.takeWhile(_ != ','))
    else p.children.iterator.map(writePath).collectFirst { case Some(w) => w }

  /** Nanoseconds Spark measured for the execution, planning included. */
  private def durationNs(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Try(e.getClass.getMethod("duration").invoke(e).asInstanceOf[Long]).toOption.filter(_ > 0)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, Exec(s.details, s.description, writePath(s.sparkPlanInfo),
        s.rootExecutionId.getOrElse(s.executionId), s.time))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach { x =>
        x.end = s.time
        x.ms = durationNs(s).fold((s.time - x.start).toDouble)(_ / 1e6)
      }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    if (props.exists(p => p.getProperty("spark.job.description") == FlushTag)) {
      j.stageIds.foreach(flushStages.add)
      flushJob = j.jobId
      return
    }
    val stage = j.stageInfos.sortBy(-_.stageId).headOption
    jobs.put(j.jobId, Job(j.time,
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
      stage.fold("")(_.details), stage.fold("")(_.name), j.stageIds))
  }

  /** Ends of jobs that started before [[start]] are ignored; only the
    * marker job's end releases [[finish]].
    */
  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.get(j.jobId)) match {
      case Some(job) => job.end = j.time
      case None => if (j.jobId == flushJob) flushed.countDown()
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = Option(t.taskMetrics)
    if (!flushStages.contains(t.stageId)) tasks.add(Task(t.stageId, t.taskInfo.duration,
      m.fold(0L)(_.outputMetrics.bytesWritten),
      m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      m.fold(0L)(_.diskBytesSpilled)))
  }

  def start(): Unit = {
    execs.clear(); jobs.clear(); tasks.clear(); flushStages.clear()
    flushed = new CountDownLatch(1)
    flushJob = -1
    spark.sparkContext.addSparkListener(this)
    sampler = new StackSampler
    sampler.start()
  }

  /** Ends the traced repetition whose pipeline calls ran under `outDir` and
    * took `wallMs`. A tiny marker job is run so that, once its end event
    * arrives, every earlier event has been delivered.
    */
  def finish(outDir: String, wallMs: Double): TraceResult = {
    val sc = spark.sparkContext
    sc.setJobDescription(FlushTag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val delivered = flushed.await(60, TimeUnit.SECONDS)
    sc.removeSparkListener(this)
    sampler.finish()
    if (!delivered) throw new IllegalStateException("listener bus did not deliver the trace in 60 s")
    attribute(outDir, wallMs)
  }

  /** Orders the actions by start time and gives each one span, following
    * [[Spans]]. Actions are the SQL executions that contain no others, plus
    * the jobs that run outside any such execution.
    */
  private def attribute(outDir: String, wallMs: Double): TraceResult = {
    val es = execs.asScala.toMap
    val containers = es.collect { case (id, e) if e.root != id => e.root }.toSet
    val (inExec, outside) = jobs.asScala.toSeq.partition { case (_, j) =>
      j.exec.exists(x => es.contains(x) && !containers(x))
    }
    val jobsOf = inExec.groupMap(_._2.exec.get)(_._1)
    val actions =
      es.toSeq.collect { case (id, e) if !containers(id) && e.ms >= 0 =>
        Action(e.end - e.ms.toLong, e.ms, e.callSite, e.description, e.write, jobsOf.getOrElse(id, Nil))
      } ++ outside.map { case (id, j) =>
        Action(j.start, math.max(j.end - j.start, 0L).toDouble, j.callSite, j.description, None, Seq(id))
      }
    var stage = "Validate.staged"
    val spanOf = actions.sortBy(_.start).map { a0 =>
      val a =
        if (!Spans.needsSample(a0.callSite)) a0
        else sampler.callSite(a0.start, a0.start + a0.ms.toLong).fold(a0) { case (site, action) =>
          a0.copy(callSite = site, description = s"$action (sampled)")
        }
      val frame = Spans.firstFrame(a.callSite)
      val span = a.write match {
        case Some(path) =>
          val s = Spans.ofWrite(path, outDir)
          if (frame.exists(_._2 == "processBatch") || frame.exists(_._1 == "graft.operators.Scd"))
            stage = s
          s
        case None =>
          val s = Spans.ofAction(frame, a.description, stage)
          if (s == "Pipeline.ledger_skip" || s == "StreamingPipeline.files") stage = "Validate.staged"
          s
      }
      a -> span
    }
    val stageSpan: Map[Int, String] = spanOf.flatMap { case (a, s) =>
      a.jobIds.flatMap(id => jobs.get(id).stages.map(_ -> s))
    }.toMap
    val taskBySpan = tasks.asScala.toSeq.groupBy(t => stageSpan.getOrElse(t.stage, Spans.Other))
    val spans = (spanOf.map(_._2) ++ taskBySpan.keys).distinct.map { name =>
      val as = spanOf.collect { case (a, s) if s == name => a }
      val ts = taskBySpan.getOrElse(name, Nil)
      name -> SpanStats(
        ms = as.map(_.ms).sum, actions = as.size, jobs = as.map(_.jobIds.size).sum,
        tasks = ts.size, writtenBytes = ts.map(_.written).sum,
        shuffleBytes = ts.map(_.shuffle).sum, spillBytes = ts.map(_.spill).sum,
        taskMs = ts.map(_.ms).toVector)
    }.toMap
    TraceResult(spans, wallMs)
  }
}
