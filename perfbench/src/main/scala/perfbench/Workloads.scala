package perfbench

import graft.SparkEntry
import graft.app.WeatherRunner
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import perfbench.Harness.{Check, Op, Phase}

/** The workloads and the operations they are made of. */
object Workloads {

  val Names: Seq[String] = Seq("etl_weather", "stateful")

  /** The dup-cluster store served three ways (incremental connected
    * components, the two-generation store, the compacted store) and three
    * streaming drains with state stores (an hourly rollup, a dedup and a
    * stream-stream join). The cold pass builds the stores; steady passes
    * only serve them. */
  val Stateful: Seq[String] = Seq("q128_cc_incremental", "q132_cc_store", "q140_cc_compacted",
    "q61_stream_hourly", "q82_stream_dedup", "q97_stream_interval_join")

  /** Wall time of one steady pass of either workload, checks included, on
    * the 4-core host the benchmark was sized on. `--seconds` of steady time
    * becomes `seconds / NominalPassS` passes, at least three, the same count
    * on every run. */
  val NominalPassS = 6.5

  def steadyPasses(seconds: Double): Int =
    math.max(3, math.round(seconds / NominalPassS).toInt)

  /** Builds the query's DataFrame through the public entry point (the build
    * phase: eager driver actions happen here), then times its `noop` write
    * (plan + execute). The output signature is compared afterwards. */
  def queryOp(spark: SparkSession, dataDir: String, queryName: String,
      expected: Option[Checksum.Sig]): Op = new Op {
    val name: String = queryName
    def run(phase: Phase): Check = {
      val df = phase("build") { SparkEntry.queries(name)(spark, dataDir) }
      phase("exec") { df.write.format("noop").mode("overwrite").save() }
      verify => if (!verify) None else expected match {
        case None => Some("no expected signature recorded")
        case Some(want) => Checksum.compare(Checksum.of(df), want)
      }
    }
  }

  /** One `WeatherRunner.runAllTimed` into a fresh directory; the nine row
    * counts it returns are checked against the fixture's own counts. */
  def etlOp(spark: SparkSession, fixture: Path, outRoot: Path, expected: Map[String, Long],
      note: (String, Double) => Unit): Op = new Op {
    val name = "weather_run_all"
    private var n = 0
    def run(phase: Phase): Check = {
      n += 1
      val out = outRoot.resolve(s"run-$n")
      val (counts, times) = phase("exec") {
        WeatherRunner.runAllTimed(spark, fixture.resolve("weather").toString,
          fixture.resolve("locations").toString, out.toString)
      }
      verify => {
        times.foreach { case (t, s) => note(s"analytics.${t}_s", s) }
        val (bytes, files) = Tracer.du(out)
        note("io.rows_in", (WeatherFixture.Locations * WeatherFixture.Days).toDouble)
        note("io.rows_kept", counts.getOrElse("raw_weather_data", 0L).toDouble)
        note("io.output_mb", bytes / (1024.0 * 1024.0))
        note("io.output_files", files.toDouble)
        Files.walk(out).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
        if (!verify || counts == expected) None
        else Some(expected.toSeq.sorted.collect {
          case (t, want) if !counts.get(t).contains(want) => s"$t ${counts.get(t)} != $want"
        }.mkString("; ") + counts.keySet.diff(expected.keySet).mkString(" extra: ", ",", ""))
      }
    }
  }
}
