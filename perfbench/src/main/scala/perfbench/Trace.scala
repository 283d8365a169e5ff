package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Which engine module issued a stage, from its call-site details. */
object Modules {
  val Names: Seq[String] = Seq("operators", "functions", "queries", "io", "analytics",
    "streaming", "other")
  private val Frame = """(?:^|[\s/])graft\.([A-Za-z_][A-Za-z0-9_]*)([.$])""".r

  /** The module of the first `graft.` frame in a call site, if any; graft
    * classes outside the six named packages count as `other`. */
  def frame(details: String): Option[String] =
    details.linesIterator.flatMap(l => Frame.findFirstMatchIn(l)).nextOption().map { m =>
      if (m.group(2) == "." && Names.contains(m.group(1))) m.group(1) else "other"
    }

  /** Micro-batch jobs belong to `streaming`. Otherwise the first `graft.`
    * frame of the stage's call site names the module; a stage submitted
    * from a helper thread (a broadcast or an adaptive query stage) has none,
    * and takes the module of the call site that started its SQL execution.
    * Stacks with no graft frame at all (the harness's own timed write) are
    * `other`. */
  def of(details: String, streamingJob: Boolean, execution: => Option[String] = None): String =
    if (streamingJob) "streaming" else frame(details).orElse(execution).getOrElse("other")
}

/** One traced interval. Times are epoch milliseconds. All spans of one
  * operation carry its sequence number in `op`. */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = math.max(0.0, end - start)
}

object Span {
  /** Sum over spans of (duration − the union of its children's intervals),
    * grouped by span kind: the time a layer spends outside the layer below. */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).view.mapValues(_.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      (s.dur - covered) / 1000.0
    }.sum).toMap
  }

  /** The spans of the timed regions: drops each check phase and all below it. */
  def timed(spans: Seq[Span]): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def below(ids: Set[Long]): Set[Long] =
      if (ids.isEmpty) ids else ids ++ below(ids.flatMap(i => kids.getOrElse(i, Nil).map(_.id)))
    val drop = below(spans.filter(s => s.kind == "phase" && s.name == "check").map(_.id).toSet)
    spans.filterNot(s => drop(s.id))
  }

  /** Spans that are not inside their parent (beyond `slackMs`, which covers
    * the millisecond clocks of Spark's events). */
  def misnested(spans: Seq[Span], slackMs: Double = 5.0): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter { s =>
      byId.get(s.parent).exists(p => s.start < p.start - slackMs || s.end > p.end + slackMs)
    }
  }
}

/** Collects job, stage, task, SQL-execution and streaming events with
  * listeners it registers itself, and ties each to the operation and phase
  * the harness thread was in. It implements the harness hooks, so it also
  * sets a job group per phase and records the operation and phase spans.
  */
final class Tracer(spark: SparkSession, cores: Int, storeDir: Path, inputBytes: Long)
    extends Harness.Hooks {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def ms(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  @volatile private var curOp = -1L
  @volatile private var curPhase = "none"

  private val opNames = mutable.LinkedHashMap[Long, String]()
  private val opSpans = mutable.Map[Long, (Double, Double)]()
  private val phaseSpans = mutable.ArrayBuffer[(Long, String, Double, Double)]()
  private val notes = mutable.Map[Long, mutable.Map[String, Double]]()
  private val passStats = mutable.Map[Int, mutable.Map[String, Double]]()

  // listener-side records, written on the bus thread, read after a drain
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val execTag = new ConcurrentHashMap[Long, (Long, String)]()
  private val execModule = new ConcurrentHashMap[Long, String]()
  private val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[PlanRec]())
  private val batches = java.util.Collections.synchronizedList(new java.util.ArrayList[BatchRec]())
  // The SQL-execution-end event (which says whose execution it was) and the
  // query-execution listener (which gets the planning tracker) fire for the
  // same query in either order; whichever comes second joins the two.
  // Executions the harness did not tag join to nothing; halves left over
  // when an operation ends are dropped.
  private val halfJoined = new java.util.IdentityHashMap[QueryExecution,
    Either[Option[(Long, String)], PlanRec]]()
  private def meet(qe: QueryExecution, half: Either[Option[(Long, String)], PlanRec]): Unit =
    halfJoined.synchronized {
      (Option(halfJoined.remove(qe)), half) match {
        case (Some(Left(Some((op, phase)))), Right(p)) => plans.add(p.copy(op = op, phase = phase))
        case (Some(Right(p)), Left(Some((op, phase)))) => plans.add(p.copy(op = op, phase = phase))
        case (None, _) => halfJoined.put(qe, half)
        case _ =>
      }
    }

  private def tagOf(props: java.util.Properties): (Long, String) = {
    val op = Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong)
    val phase = Option(props).flatMap(p => Option(p.getProperty(PhaseKey)))
    // a pooled thread can carry the properties of an earlier operation
    if (op.contains(curOp) && phase.isDefined) (curOp, phase.get) else (curOp, curPhase)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (op, phase) = tagOf(e.properties)
      val streamingJob = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
      val execution = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))))
        .flatMap(id => Option(execModule.get(id.toLong))).headOption
      val last = e.stageInfos.maxByOption(_.stageId)
      val module = Modules.of(last.map(_.details).getOrElse(""), streamingJob, execution)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobs.put(e.jobId, JobRec(e.jobId, op, phase, e.time.toDouble, e.stageIds, module,
        streamingJob, execution))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val job = Option(stageJob.get(info.stageId)).map(_.intValue).getOrElse(-1)
      val j = Option(jobs.get(job))
      jobs.values.asScala.filter(r => r.end.isNaN && r.stageIds.contains(info.stageId))
        .foreach(_.ran += info.stageId)
      val module = Modules.of(info.details, j.exists(_.streaming), j.flatMap(_.execution))
      stages.put((info.stageId, info.attemptNumber()), StageRec(info.stageId, job,
        j.map(_.op).getOrElse(curOp), j.map(_.phase).getOrElse(curPhase), module,
        info.submissionTime.getOrElse(System.currentTimeMillis()).toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber()))).foreach { s =>
        s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get((e.stageId, e.stageAttemptId))).foreach { s =>
        s.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
        s.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          s.output += m.outputMetrics.bytesWritten
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.flatMap(parseGroup).foreach(t => execTag.put(s.executionId, t))
        Modules.frame(s.details).foreach(m => execModule.put(s.executionId, m))
      case s: SparkListenerSQLExecutionEnd =>
        execModule.remove(s.executionId)
        Option(Bridge.queryExecution(s)).foreach(qe =>
          meet(qe, Left(Option(execTag.remove(s.executionId)))))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    {
      val ph = qe.tracker.phases
      def phaseMs(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
        .getOrElse(0.0)
      val nodes = qe.optimizedPlan.collectWithSubqueries { case p => p }.size
      meet(qe, Right(PlanRec(-1, "", phaseMs("analysis"), phaseMs("optimization"),
        phaseMs("planning"), nodes)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        d.getOrElse("triggerExecution", 0.0)
      batches.add(BatchRec(curOp, curPhase, p.runId.toString, p.batchId,
        end - d.getOrElse("triggerExecution", 0.0), end, p.numInputRows,
        d.getOrElse("triggerExecution", 0.0),
        d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0) +
          d.getOrElse("commitBatch", 0.0),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    Bridge.drain(sc)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  /** Adds `value` to a per-operation figure, e.g. an analytics table time. */
  def note(key: String, value: Double): Unit =
    if (curOp >= 0) notes.getOrElseUpdate(curOp, mutable.Map()).updateWith(key)(
      v => Some(v.getOrElse(0.0) + value))

  // ---- harness hooks ----

  def apply[A](name: String)(body: => A): A = {
    val prevPhase = curPhase
    sc.setJobGroup(s"$GroupPrefix$curOp/$name", s"op $curOp $name", interruptOnCancel = false)
    sc.setLocalProperty(OpKey, curOp.toString)
    sc.setLocalProperty(PhaseKey, name)
    curPhase = name
    val a = System.nanoTime()
    try body
    finally {
      phaseSpans += ((curOp, name, ms(a), ms(System.nanoTime())))
      curPhase = prevPhase
      sc.clearJobGroup()
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  override def beforeOp(seq: Long, pass: Int, name: String): Unit = {
    curOp = seq
    opNames(seq) = name
  }

  override def afterTimed(seq: Long, startNs: Long, endNs: Long): Unit = {
    opSpans(seq) = (ms(startNs), ms(endNs))
    Bridge.drain(sc)
  }

  override def afterOp(seq: Long): Unit = {
    Bridge.drain(sc)
    halfJoined.synchronized(halfJoined.clear())
    curOp = -1
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  private def heapUsed: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
  private var lastHeap = Double.NaN

  override def beforePass(pass: Int): Unit = {
    // the caller collects garbage between passes, so this is the live heap
    val st = passStats.getOrElseUpdate(pass, mutable.Map())
    st("gc0") = gcMs
    st("heap0") = heapUsed
  }

  override def afterPass(pass: Int): Unit = {
    val st = passStats(pass)
    st("gc1") = gcMs
    // stores and checkpoints live in directories; the top-level files are
    // native libraries the JVM unpacked there
    val dirs = if (Files.isDirectory(storeDir))
      Files.list(storeDir).iterator().asScala.filter(Files.isDirectory(_)).toSeq else Nil
    val (bytes, files) = dirs.map(Tracer.du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    st("storeBytes") = bytes.toDouble
    st("storeFiles") = files.toDouble
  }

  /** The live heap after the final collection, for the last pass's growth. */
  def finish(liveHeap: Double): Unit = lastHeap = liveHeap

  // ---- per-layer metrics ----

  private def heapAfter(pass: Int): Double =
    passStats.get(pass + 1).map(_("heap0")).getOrElse(lastHeap)

  /** Every per-layer figure of one pass. */
  def passMetrics(pass: Harness.PassRun): Map[String, Double] = {
    val seqs = pass.ops.map(_.seq).toSet
    val timed = Set("build", "exec")
    val ph = phaseSpans.filter(p => seqs(p._1))
    def phaseS(n: String) = ph.filter(_._2 == n).map(p => p._4 - p._3).sum / 1000
    val js = jobs.values.asScala.filter(j => seqs(j.op)).toSeq
    val tj = js.filter(j => timed(j.phase))
    val tjIds = tj.map(_.id).toSet
    val st = stages.values.asScala.filter(s => tjIds(s.job)).toSeq
    val opWall = pass.wall
    val taskS = st.map(_.taskMs).sum / 1000
    val pl = plans.asScala.filter(p => seqs(p.op) && p.phase == "exec").toSeq
    val bt = batches.asScala.filter(b => seqs(b.op)).toSeq
    val lastBatch = bt.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    val nt = pass.ops.flatMap(o => notes.getOrElse(o.seq, Map.empty[String, Double]).toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    val ps = passStats(pass.index)
    val mb = 1024.0 * 1024.0
    val m = mutable.LinkedHashMap[String, Double](
      "queries.build_s" -> phaseS("build"),
      "queries.build_jobs" -> js.count(_.phase == "build").toDouble,
      "plans.analysis_s" -> pl.map(_.analysisMs).sum / 1000,
      "plans.optimization_s" -> pl.map(_.optimizationMs).sum / 1000,
      "plans.planning_s" -> pl.map(_.planningMs).sum / 1000,
      "plans.plan_nodes" -> pl.map(_.nodes).sum.toDouble,
      "exec.exec_s" -> phaseS("exec"),
      "exec.jobs" -> js.count(_.phase == "exec").toDouble,
      "exec.stages" -> st.size.toDouble,
      "exec.stages_skipped" -> tj.map(j => j.stageIds.size - j.ran.size).sum.toDouble,
      "exec.tasks" -> st.map(_.tasks).sum.toDouble,
      "exec.task_s" -> taskS,
      "exec.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> st.map(_.gcMs).sum / 1000,
      "exec.idle_core_s" -> (opWall * cores - taskS),
      "exec.busy_ratio" -> (if (opWall > 0) taskS / (opWall * cores) else 0.0),
      "exec.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> st.map(_.spill).sum / mb,
      "exec.input_mb" -> st.map(_.input).sum / mb,
      "exec.output_mb" -> st.map(_.output).sum / mb,
      "exec.failed_tasks" -> st.map(_.failedTasks).sum.toDouble)
    Modules.Names.foreach { mod =>
      m(s"jobs.$mod") = tj.count(_.module == mod).toDouble
    }
    Modules.Names.foreach { mod =>
      m(s"task_s.$mod") = st.filter(_.module == mod).map(_.taskMs).sum / 1000
    }
    Seq("io.rows_in", "io.rows_kept", "io.output_mb", "io.output_files")
      .foreach(k => m(k) = nt.getOrElse(k, 0.0))
    AnalyticsTables.foreach(t => m(s"analytics.${t}_s") = nt.getOrElse(s"analytics.${t}_s", 0.0))
    m ++= Seq(
      "streaming.batches" -> bt.size.toDouble,
      "streaming.input_rows" -> bt.map(_.inputRows).sum.toDouble,
      "streaming.trigger_s" -> bt.map(_.triggerMs).sum / 1000,
      "streaming.commit_s" -> bt.map(_.commitMs).sum / 1000,
      "streaming.state_rows" -> lastBatch.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> lastBatch.map(_.stateBytes).sum / mb,
      "operators.store_mb" -> ps("storeBytes") / mb,
      "operators.store_files" -> ps("storeFiles"),
      "operators.store_bytes_per_input_byte" -> ps("storeBytes") / math.max(1L, inputBytes),
      "driver.gc_s" -> (ps("gc1") - ps("gc0")) / 1000,
      "driver.heap_growth_mb_per_pass" -> (heapAfter(pass.index) - ps("heap0")) / mb)
    m.toMap
  }

  /** Jobs of a pass's operations by phase, and the total the listener saw. */
  def jobCounts(pass: Harness.PassRun): (Map[String, Int], Int) = {
    val seqs = pass.ops.map(_.seq).toSet
    val js = jobs.values.asScala.filter(j => seqs(j.op)).toSeq
    (js.groupMapReduce(_.phase)(_ => 1)(_ + _), js.size)
  }

  /** Every span: operation → phase → job → stage, and streaming batches. */
  def spans: Seq[Span] = {
    var next = 0L
    def id() = { next += 1; next }
    val out = mutable.ArrayBuffer[Span]()
    val opIds = opNames.map { case (seq, name) =>
      val (a, b) = opSpans.getOrElse(seq, (Double.NaN, Double.NaN))
      val sid = id()
      out += Span(sid, 0, seq, "op", name, a, b)
      seq -> sid
    }.toMap
    val phaseIds = phaseSpans.map { case (seq, name, a, b) =>
      val sid = id()
      // the check runs after the timed region, so it hangs off the root
      val parent = if (name == "check") 0L else opIds.getOrElse(seq, 0L)
      out += Span(sid, parent, seq, "phase", name, a, b)
      (seq, name) -> sid
    }.toMap
    val jobIds = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val sid = id()
      out += Span(sid, phaseIds.getOrElse((j.op, j.phase), 0L), j.op, "job",
        s"job ${j.id} ${j.module}", j.start, j.end)
      j.id -> sid
    }.toMap
    stages.values.asScala.toSeq.sortBy(s => (s.stage, s.start)).foreach { s =>
      out += Span(id(), jobIds.getOrElse(s.job, 0L), s.op, "stage",
        s"stage ${s.stage} ${s.module}", s.start, s.end)
    }
    batches.asScala.toSeq.foreach { b =>
      out += Span(id(), phaseIds.getOrElse((b.op, b.phase), 0L), b.op, "batch",
        s"batch ${b.batchId} ${b.runId.take(8)}", b.start, b.end)
    }
    out.toSeq
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val GroupPrefix = "perfbench/"

  val AnalyticsTables: Seq[String] = Seq("district_monthly_weather", "highest_precipitation",
    "top_temperate_cities", "evapotranspiration_by_season", "radiation_analysis",
    "weekly_max_temp_hottest_months", "raw_weather_data", "locations",
    "top_temperate_cities_hql")

  def parseGroup(g: String): Option[(Long, String)] =
    if (!g.startsWith(GroupPrefix)) None
    else g.stripPrefix(GroupPrefix).split("/", 2) match {
      case Array(op, phase) => op.toLongOption.map(_ -> phase)
      case _ => None
    }

  /** Bytes and regular files under `dir` (0, 0 when it is absent). */
  def du(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) =>
          (b + (try Files.size(p) catch { case _: java.io.IOException => 0L }), n + 1) }
      catch { case _: java.io.UncheckedIOException => (0L, 0L) }
      finally s.close()
    }

  final case class JobRec(id: Int, op: Long, phase: String, start: Double,
      stageIds: Seq[Int], module: String, streaming: Boolean, execution: Option[String]) {
    @volatile var end: Double = Double.NaN
    val ran: mutable.Set[Int] = mutable.Set[Int]()
  }

  final case class StageRec(stage: Int, job: Int, op: Long, phase: String, module: String,
      start: Double) {
    var end: Double = Double.NaN
    var tasks = 0; var failedTasks = 0
    var taskMs = 0.0; var cpuNs = 0.0; var gcMs = 0.0
    var shuffleRead = 0.0; var shuffleWrite = 0.0; var spill = 0.0
    var input = 0.0; var output = 0.0
  }

  final case class PlanRec(op: Long, phase: String, analysisMs: Double,
      optimizationMs: Double, planningMs: Double, nodes: Int)

  final case class BatchRec(op: Long, phase: String, runId: String, batchId: Long,
      start: Double, end: Double, inputRows: Long, triggerMs: Double, commitMs: Double,
      stateRows: Long, stateBytes: Long)
}
