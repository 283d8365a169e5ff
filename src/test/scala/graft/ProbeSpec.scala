package graft

import graft.tools.Probe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

/** `Probe profile`'s line: the layer split adds up to the timed wall, the
  * codegen figures are there, and so are the fields
  * `tools/merge_isolation.py` reads. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("profile splits the fastest run into build + plan + exec") {
    import spark.implicits._
    // a slow listener on the same bus queue: the counters are only whole
    // when the probe waits for the bus to drain, not for a fixed pause
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(300)
    }
    spark.sparkContext.addSparkListener(slow)
    val line =
      try Probe.profile(spark, "q13_district_monthly", TestSpark.sf0001, 2)
      finally spark.sparkContext.removeSparkListener(slow)
    val r = spark.read.json(Seq(line).toDS()).head()
    assert(r.getAs[String]("query") === "q13_district_monthly")
    val min = r.getAs[Double]("min")
    val runs = r.getAs[collection.Seq[Double]]("runs")
    assert(runs.length === 2 && runs.min === min)
    assert(r.getAs[collection.Seq[Double]]("ld").length === 2)
    assert(r.getAs[Long]("jobs") >= 1)
    assert(r.getAs[Double]("plan_s") > 0, line)
    val layers = Seq("build_s", "plan_s", "exec_s").map(r.getAs[Double])
    assert(layers.forall(_ >= 0), line)
    assert(math.abs(layers.sum - min) <= 0.05 * min, line)
    Seq("stages", "tasks", "task_s", "shuffle_write_mb")
      .foreach(f => assert(!r.isNullAt(r.fieldIndex(f)), f))
    assert(r.getAs[Long]("codegen_compiles") >= 0, line)
    assert(r.getAs[Double]("codegen_s") >= 0, line)
  }
}
