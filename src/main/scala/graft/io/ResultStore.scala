package graft.io

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{ExecutionContext, Future}

/** Result-table store re-expressing the reference's two sink dialects
  * (SURVEY.md §2.1):
  *
  *  - **overwrite tables** (the Spark-analysis path: TRUNCATE + batch
  *    insert, `weather_spark_analysis_new.py:127-178`) → plain parquet
  *    overwrite;
  *  - **append-only tables with a monotone watermark** (the MR/Hive path:
  *    timestamped run folders, `meta.updated_time` advanced only after a
  *    successful load, `load_mapreduce_output.py:36-119,239-243`) →
  *    [[appendRun]]/[[loadNewRuns]]: each run writes under `run_id=<id>/`,
  *    a loader consumes only runs newer than the watermark and advances it
  *    after the read — append-only, exactly-once-per-run-folder, monotone.
  *
  * At scale the run id is a partition column, so readers prune to new runs
  * without listing old data; the watermark file is tiny driver-side state
  * (in production a table in the catalog / a Delta txn — same semantics).
  */
object ResultStore {

  /** Overwrite-dialect write (idempotent full refresh). */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** [[overwrite]], returning the number of rows written. The write counts
    * them itself through an observed metric, so no job re-reads the table.
    * The count reaches the session's listeners just after the write
    * returns, hence the future: whatever only needs the stored table can
    * start without waiting for it. The observation is unnamed, so
    * concurrent writes on one session keep their counts apart.
    */
  def overwriteCounted(df: DataFrame, path: String): Future[Long] = {
    val written = Observation()
    overwrite(df.observe(written, count(lit(1)).as("rows")), path)
    written.future.map(_.getLong(0))(ExecutionContext.parasitic)
  }

  /** Append one run folder: `<base>/run_id=<runId>/`. Fails if the run
    * already exists (exactly-once per run id).
    */
  def appendRun(df: DataFrame, base: String, runId: Long): Unit =
    df.withColumn("run_id", lit(runId))
      .write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$base/run_id=$runId")

  private def watermarkFile(base: String) = new java.io.File(base, "_watermark")

  def readWatermark(base: String): Long = {
    val f = watermarkFile(base)
    if (f.exists()) java.nio.file.Files.readString(f.toPath).trim.toLong else Long.MinValue
  }

  private def writeWatermark(base: String, v: Long): Unit =
    java.nio.file.Files.writeString(watermarkFile(base).toPath, v.toString)

  /** List run folders newer than the watermark, in ascending run order. */
  def pendingRuns(base: String): Seq[Long] = {
    val wm = readWatermark(base)
    val dir = new java.io.File(base)
    if (!dir.exists()) Seq.empty
    else dir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("run_id="))
      .map(_.getName.stripPrefix("run_id=").toLong)
      .filter(_ > wm)
      .sorted.toSeq
  }

  /** Load all runs newer than the watermark and advance it — ONLY after
    * the action `consume` succeeds (the reference advances
    * `meta.updated_time` after the ClickHouse insert returns,
    * `load_mapreduce_output.py:239-243`). Returns the loaded run ids.
    */
  def loadNewRuns(spark: SparkSession, base: String)(consume: DataFrame => Unit): Seq[Long] = {
    val runs = pendingRuns(base)
    if (runs.nonEmpty) {
      val df = spark.read.parquet(runs.map(r => s"$base/run_id=$r"): _*)
        .withColumn("run_id", regexp_extract(input_file_name(), "run_id=(\\d+)", 1).cast("long"))
      consume(df)
      writeWatermark(base, runs.max) // monotone advance, post-success
    }
    runs
  }
}
