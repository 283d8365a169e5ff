package graft.tools

import graft.{Bench, LocalSession, SparkEntry}
import graft.functions.HostStats
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}

/** Per-query probe; `sfDir` defaults to `SPARK_GRAFT_SF_DIR`, as for Bench.
  *
  * `runMain graft.tools.Probe profile <q1,q2,...|all> [sfDir] [iters]`:
  * Bench's warm-up, then `iters` runs of each query timed exactly as Bench
  * times them. One JSON line per query: the min and all runs' wall seconds,
  * the 1-min load average before and after, and the fastest run's wall split
  * into `build_s` (constructing the DataFrame, eager jobs included),
  * `plan_s` (analysis, optimization and physical planning of the sink
  * write, from that write's own planning tracker) and `exec_s` (the rest),
  * with the jobs, completed stages, tasks, summed task seconds and shuffle
  * MB written of the whole run, and the classes Spark's code generator
  * compiled during it (`codegen_compiles`, the growth of
  * `CodegenMetrics.METRIC_COMPILATION_TIME`'s count) and the seconds spent
  * compiling them (`codegen_s`): a warm query that still compiles has
  * outgrown the generated-class cache. Each completed stage prints one
  * line to stderr. Run once per query, each in a fresh JVM, its lines are
  * the isolation timings `tools/merge_isolation.py` merges.
  *
  * `runMain graft.tools.Probe explain <q1,q2,...|all> [sfDir] [outDir]`:
  * each query's formatted physical plan (not executed), on stdout or as
  * `<outDir>/<query>.txt`.
  */
object Probe {

  private final case class Run(wall: Double, build: Double, plan: Double,
      jobs: Int, stages: Int, tasks: Int, taskSec: Double,
      shuffleWriteMb: Double, compiles: Long, codegenSec: Double) {
    def exec: Double = wall - build - plan
  }

  /** Scheduler counters plus the planning time of the last SQL execution
    * to finish; read them after [[Bridge.drain]]. */
  private final class Tap extends SparkListener with QueryExecutionListener {
    @volatile var jobs, stages, tasks = 0
    @volatile var taskMs, shuffleBytes, planMs = 0L
    def reset(): Unit = {
      jobs = 0; stages = 0; tasks = 0; taskMs = 0; shuffleBytes = 0; planMs = 0
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages += 1
      shuffleBytes += i.taskMetrics.shuffleWriteMetrics.bytesWritten
      val ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
      System.err.println(f"[stage] id=${i.stageId} dur=${ms}ms tasks=${i.numTasks} " +
        f"exec=${i.taskMetrics.executorRunTime}ms " +
        f"srMB=${i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%.1f " +
        i.name.takeWhile(_ != '\n').take(90))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (e.taskMetrics != null) taskMs += e.taskMetrics.executorRunTime
    }
    private def planned(qe: QueryExecution): Unit =
      planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
  }

  /** JVM-wide totals so far: generated classes compiled, and nanoseconds
    * spent compiling them (both counted at each compile, by Spark). */
  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Times `iters` runs of one query; returns its JSON line. */
  def profile(spark: SparkSession, name: String, sfDir: String,
      iters: Int): String = {
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    val tap = new Tap
    sc.addSparkListener(tap)
    spark.listenerManager.register(tap)
    try {
      val ld0 = HostStats.loadAvg1
      val runs = (1 to iters).map { _ =>
        Bridge.drain(sc)
        tap.reset()
        val (compiles0, codegenNs0) = codegen
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        Bench.sink(df)
        val t2 = System.nanoTime()
        // the write's own execution is the last to finish
        Bridge.drain(sc)
        val (compiles1, codegenNs1) = codegen
        Run((t2 - t0) / 1e9, (t1 - t0) / 1e9, tap.planMs / 1e3, tap.jobs,
          tap.stages, tap.tasks, tap.taskMs / 1e3, tap.shuffleBytes / 1e6,
          compiles1 - compiles0, (codegenNs1 - codegenNs0) / 1e9)
      }
      val ld1 = HostStats.loadAvg1
      val r = runs.minBy(_.wall)
      def f(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      s"""{"query":"$name","min":${f(r.wall)},"runs":[${
        runs.map(x => f(x.wall)).mkString(",")}],"ld":[${f(ld0)},${f(ld1)}],""" +
        s""""build_s":${f(r.build)},"plan_s":${f(r.plan)},"exec_s":${f(r.exec)},""" +
        s""""jobs":${r.jobs},"stages":${r.stages},"tasks":${r.tasks},""" +
        s""""task_s":${f(r.taskSec)},"shuffle_write_mb":${f(r.shuffleWriteMb)},""" +
        s""""codegen_compiles":${r.compiles},"codegen_s":${f(r.codegenSec)}}"""
    } finally {
      spark.listenerManager.unregister(tap)
      sc.removeSparkListener(tap)
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe profile <q1,q2,...|all> [sfDir] [iters]" +
      " | explain <q1,q2,...|all> [sfDir] [outDir]"
    require(args.length >= 2 && Set("profile", "explain")(args(0)), usage)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw new IllegalArgumentException(usage))
    val spark = LocalSession()
    try args(0) match {
      case "profile" =>
        val iters = args.lift(3).fold(3)(_.toInt)
        Bench.warmUp(spark, sfDir)
        names.foreach(n => println(profile(spark, n, sfDir, iters)))
      case "explain" =>
        val outDir = args.lift(3).map(d => Files.createDirectories(Paths.get(d)))
        names.foreach { n =>
          try {
            val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution
              .explainString(FormattedMode)
            outDir.fold(println(s"== $n ==\n$txt"))(d =>
              Files.writeString(d.resolve(s"$n.txt"), txt))
          } catch { case e: Exception =>
            System.err.println(s"[probe] $n failed: ${e.getMessage}")
          }
        }
    } finally spark.stop()
  }
}
