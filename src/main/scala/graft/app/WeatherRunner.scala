package graft.app

import graft.analytics.WeatherAnalytics
import graft.io.{CsvIngest, ResultStore}
import java.util.concurrent.{Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

/** Batch runner (SURVEY.md §7.1 `app/`): the whole reference system as one
  * Spark job — typed CSV ingest → the six analytics pipelines → result
  * tables. What took the reference four engines, five loaders, and a
  * PowerShell relay is one `runAll` call; every output lands as a parquet
  * table named after its reference counterpart (§1.4 catalog).
  *
  * `main`: `runMain graft.app.WeatherRunner <weather.csv> <locations.csv>
  * <outDir>`.
  */
object WeatherRunner {

  /** FIXTURES.md §1 — the 21-column weather fact (normalized names). */
  val weatherSchema: StructType = StructType(Seq(
    StructField("location_id", IntegerType),
    StructField("date", StringType),
    StructField("weather_code", IntegerType),
    StructField("temperature_2m_max", DoubleType),
    StructField("temperature_2m_min", DoubleType),
    StructField("temperature_2m_mean", DoubleType),
    StructField("apparent_temperature_max", DoubleType),
    StructField("apparent_temperature_min", DoubleType),
    StructField("apparent_temperature_mean", DoubleType),
    StructField("daylight_duration", DoubleType),
    StructField("sunshine_duration", DoubleType),
    StructField("precipitation_sum", DoubleType),
    StructField("rain_sum", DoubleType),
    StructField("precipitation_hours", DoubleType),
    StructField("wind_speed_10m_max", DoubleType),
    StructField("wind_gusts_10m_max", DoubleType),
    StructField("wind_direction_10m_dominant", DoubleType),
    StructField("shortwave_radiation_sum", DoubleType),
    StructField("et0_fao_evapotranspiration", DoubleType),
    StructField("sunrise", StringType),
    StructField("sunset", StringType)))

  /** FIXTURES.md §2 — the 8-column location dimension. */
  val locationSchema: StructType = StructType(Seq(
    StructField("location_id", IntegerType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("elevation", DoubleType),
    StructField("utc_offset_seconds", IntegerType),
    StructField("timezone", StringType),
    StructField("timezone_abbreviation", StringType),
    StructField("city_name", StringType)))

  /** The reference's Hive SQL surface (`run_hive_analysis_simple.py:278-331`):
    * external tables over the raw CSVs (the weather date column is `dt`
    * there — `date` is a Hive reserved word), queried by name through
    * `spark.sql` with the reference's Query 1 verbatim, as it reads after
    * its script's `USE weather_analytics` (plus the deterministic city
    * tie-break, intentional deviation #1). Bad rows arrive as nulls and are
    * filtered by the query's own IS NOT NULL — exactly how the Hive path
    * behaves. Columns bind by header name ([[CsvIngest.readCsvByHeader]],
    * the mapping the ingest uses), so a CSV whose columns come in another
    * order, or with unit-suffixed headers, feeds the query the same
    * fields.
    *
    * The two tables are temporary views of a child session, so each call
    * reads its own CSVs even while another call on the same session binds
    * the same names, and neither the shared catalog nor the caller's
    * current database changes. The query is analyzed there and handed back
    * as a frame of `spark`, so it runs, and is observed, as the caller's:
    * an observation on the child's own frame would register a listener
    * that keeps the child alive as long as the Spark context.
    */
  def runSqlSurface(spark: SparkSession, weatherCsv: String,
      locationsCsv: String): DataFrame = {
    val surface = Bridge.childSession(spark)
    CsvIngest.readCsvByHeader(surface, weatherCsv, weatherSchema)
      .withColumnRenamed("date", "dt").createOrReplaceTempView("weather_data")
    CsvIngest.readCsvByHeader(surface, locationsCsv, locationSchema)
      .createOrReplaceTempView("location_data")
    Bridge.adopt(spark, surface.sql("""
      SELECT
          l.city_name,
          ROUND(AVG(w.temperature_2m_max), 2) AS avg_max_temp,
          ABS(AVG(w.temperature_2m_max) - 22) AS temp_deviation
      FROM weather_data w
      JOIN location_data l
          ON w.location_id = l.location_id
      WHERE w.temperature_2m_max IS NOT NULL
      GROUP BY l.city_name
      ORDER BY temp_deviation ASC, l.city_name
      LIMIT 10"""))
  }

  /** The six analytics pipelines, each a result table over the stored
    * weather fact and location dimension. */
  private val pipelines: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "district_monthly_weather" -> ((w, l) => WeatherAnalytics.districtMonthly(w, l)),
    "highest_precipitation" -> ((w, _) => WeatherAnalytics.highestPrecipitationMonth(w)),
    "top_temperate_cities" -> ((w, l) => WeatherAnalytics.topTemperateCities(w, l)),
    "evapotranspiration_by_season" -> ((w, l) => WeatherAnalytics.seasonalEvapotranspiration(w, l)),
    "radiation_analysis" -> ((w, _) => WeatherAnalytics.radiationAnalysis(w)),
    "weekly_max_temp_hottest_months" -> ((w, l) => WeatherAnalytics.weeklyMaxTempHottestMonths(w, l)))

  /** One written table: its stored schema, its row count (counted by the
    * write, arriving just after it) and its own build + write wall. */
  private final case class Stored(name: String, schema: StructType, rows: Future[Long],
      seconds: Double)

  /** Ingest both CSVs (any header dialect, whole-row malformed policy)
    * and run all six pipelines, writing each result table under `outDir`.
    * Returns table name → row count.
    */
  def runAll(spark: SparkSession, weatherCsv: String, locationsCsv: String,
      outDir: String): Map[String, Long] =
    runAllTimed(spark, weatherCsv, locationsCsv, outDir)._1

  /** [[runAll]] with per-table wall seconds — the WeatherBench artifact's
    * detail rows.
    *
    * Store, then scan, in two steps on one session:
    *  1. three writes at once: `raw_weather_data` (the weather CSV,
    *     malformed rows dropped, prepared, ingested straight to parquet),
    *     `locations`, and the HQL surface table;
    *  2. once both stored tables are written, the six pipelines at once,
    *     each reading `raw_weather_data` and `locations` back from
    *     `outDir` with the written schema (so no job infers it).
    * Nothing is cached or persisted: the ingest is parsed once, by its own
    * write, and every pipeline scans the stored parquet. Each table's row
    * count comes from its own write, not from reading it back; dependents
    * start when the write returns, without waiting for the count.
    *
    * Each table's seconds are its own build + write wall, from the moment
    * its inputs are ready; the walls overlap and do not sum to the call.
    * The pool is created here, so its threads inherit the caller's Spark
    * job group and description. If a table fails, the call still waits for
    * every table already started, then throws the first failure in table
    * order; the pipelines do not start if a stored table failed.
    */
  def runAllTimed(spark: SparkSession, weatherCsv: String,
      locationsCsv: String, outDir: String)
      : (Map[String, Long], Seq[(String, Double)]) = {
    val pool = Executors.newFixedThreadPool(3 + pipelines.size)
    val onPool = ExecutionContext.fromExecutor(pool)
    def store(name: String)(write: String => (StructType, Future[Long])): Future[Stored] =
      Future {
        val t0 = System.nanoTime()
        val (schema, rows) = write(s"$outDir/$name")
        Stored(name, schema, rows, (System.nanoTime() - t0) / 1e9)
      }(onPool)
    def table(name: String)(build: => DataFrame): Future[Stored] =
      store(name) { path => val df = build; (df.schema, ResultStore.overwriteCounted(df, path)) }
    def readBack(t: Stored): DataFrame =
      spark.read.schema(t.schema).parquet(s"$outDir/${t.name}")
    try {
      val weather = store("raw_weather_data")(CsvIngest.ingestToParquet(spark, weatherCsv,
        weatherSchema, _, WeatherAnalytics.prepare))
      val locations = store("locations")(CsvIngest.ingestToParquet(spark, locationsCsv,
        locationSchema, _))
      // the catalog/SQL route to the same answer, exercised end-to-end
      val hql = table("top_temperate_cities_hql")(runSqlSurface(spark, weatherCsv, locationsCsv))
      val stored = Seq(weather, locations, hql)
      // step 2 is started by whichever stored table finishes last; if
      // either failed, nothing more starts
      val started = weather.zip(locations).transform {
        case Success((w, l)) => Success(stored ++ pipelines.map { case (name, build) =>
          table(name)(build(readBack(w), readBack(l)))
        })
        case Failure(_) => Success(stored)
      }(ExecutionContext.parasitic)
      val done = Await.result(started, Duration.Inf)
        .map(Await.ready(_, Duration.Inf)) // every started table settles,
        .map(_.value.get.get) // then the first failure, in table order, throws
      (done.map(t => t.name -> Await.result(t.rows, Duration.Inf)).toMap,
        done.map(t => t.name -> t.seconds))
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(weatherCsv, locationsCsv, outDir) = args.take(3)
    val spark = graft.LocalSession(
      sys.env.getOrElse("SPARK_MASTER", graft.LocalSession.master))
    runAll(spark, weatherCsv, locationsCsv, outDir).toSeq.sortBy(_._1)
      .foreach { case (t, n) => println(f"$t%-32s $n%8d rows") }
    spark.stop()
  }
}
