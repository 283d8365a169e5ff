package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built, so every entry point
  * (Bench, Verify, the apps, the tools, the tests) runs under the same
  * engine policy:
  *  - the SQL extensions (`graft_*` functions, the Jaccard prefilter rule);
  *  - one shuffle partition per core, no UI, AQE on;
  *  - a UTC session reading tz-naive parquet timestamps as LTZ instants
  *    (NTZ inference off: watermarks and `unix_*()` need TIMESTAMP, and the
  *    DuckDB oracle does naive-as-UTC math), with int64 nanos read as Long
  *    (`Tables.events` normalizes a Long `ts`).
  */
object LocalSession {

  /** Cores for the local master and the shuffle: `SPARK_GRAFT_CPUS`, else
    * the host's available processors. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  val master: String = s"local[$cpus]"

  val confs: Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
  )

  /** `extra` adds to (or overrides) [[confs]]; `master` is a deployment
    * setting, e.g. a cluster URL. Log level WARN. */
  def apply(master: String = LocalSession.master,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().master(master)
    (confs ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
