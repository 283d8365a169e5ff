package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import perfbench.Harness.{Check, Op, Phase}

/** The tracer on a real local session: jobs are split by phase without
  * loss, and every span sits inside its parent. Also the output signature,
  * which needs a session too. */
class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val root = {
    Files.createDirectories(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    Files.createTempDirectory("tracer-spec")
  }
  private lazy val spark: SparkSession = Main.session(2, root)

  override def afterAll(): Unit = spark.stop()

  /** Two eager actions while "building", then a timed noop write. */
  private val op = new Op {
    val name = "two_phase"
    def run(phase: Phase): Check = {
      val df = phase("build") {
        val n = spark.range(0, 2000, 1, 4).count()
        spark.range(0, 50).collect()
        spark.range(0, n, 1, 4).groupBy((col("id") % 7).as("k")).count()
      }
      phase("exec") { df.write.format("noop").mode("overwrite").save() }
      verify => if (!verify || df.count() == 7) None else Some("expected 7 groups")
    }
  }

  test("phase job counts add up to the job total, and spans nest") {
    val tracer = new Tracer(spark, 2, root.resolve("stores"), 1L)
    val passes = Harness.runAll(Seq(op, op), seed = 5, steadyPasses = 1, tracer, _ => System.gc())
    tracer.finish(0.0)
    assert(Harness.summarize(passes).failed == 0)
    passes.foreach { p =>
      val (byPhase, total) = tracer.jobCounts(p)
      assert(byPhase.values.sum == total)
      assert(byPhase.keySet == Set("build", "exec", "check"))
      val m = tracer.passMetrics(p)
      assert(m("queries.build_jobs") >= 4) // two actions per operation
      assert(m("exec.jobs") >= 2)
      assert(m("queries.build_jobs") + m("exec.jobs") ==
        byPhase("build") + byPhase("exec"))
      // every timed job is attributed to exactly one module
      assert(Modules.Names.map(n => m(s"jobs.$n")).sum == m("queries.build_jobs") + m("exec.jobs"))
      assert(m("exec.tasks") > 0 && m("exec.task_s") > 0)
      assert(m("plans.plan_nodes") > 0)
    }
    val spans = tracer.spans
    tracer.close()
    assert(Span.misnested(spans).isEmpty, Span.misnested(spans).mkString("\n"))
    val byId = spans.map(s => s.id -> s).toMap
    // job → phase → op: each operation's jobs hang off that operation's phases
    spans.filter(_.kind == "job").foreach { j =>
      val phase = byId(j.parent)
      assert(phase.kind == "phase" && phase.op == j.op)
    }
    spans.filter(_.kind == "stage").foreach(s => assert(byId(s.parent).kind == "job"))
    assert(spans.count(_.kind == "op") == 4)
  }

  test("signatures ignore row order, see a changed value, and take map columns") {
    val df = spark.range(0, 100, 1, 4).select(col("id"), (col("id") * 0.5).as("x"),
      map(lit("k"), col("id")).as("m"), array(map(lit("k"), col("id") % 3)).as("am"))
    val sig = Checksum.of(df)
    assert(sig.rows == 100 && sig.floats.map(_._1) == Seq("x"))
    assert(Checksum.compare(Checksum.of(df.orderBy(col("id").desc).repartition(3)), sig).isEmpty)
    val changed = df.withColumn("m", map(lit("k"), col("id") + (col("id") === 7).cast("long")))
    assert(Checksum.compare(Checksum.of(changed), sig).exists(_.startsWith("row hash")))
  }
}
