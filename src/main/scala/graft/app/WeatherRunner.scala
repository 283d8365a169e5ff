package graft.app

import graft.analytics.WeatherAnalytics
import graft.io.{Catalog, CsvIngest, ResultStore}
import java.util.concurrent.{Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

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
    * a `weather_analytics` database of EXTERNAL tables over the raw CSVs
    * (the weather date column is `dt` there — `date` is a Hive reserved
    * word), queried by name through `spark.sql` with the reference's
    * Query 1 verbatim (plus the deterministic city tie-break, intentional
    * deviation #1). Bad rows arrive as nulls and are filtered by the
    * query's own IS NOT NULL — exactly how the Hive path behaves.
    * Tables are addressed by qualified name: the session's current
    * database is never switched.
    */
  def runSqlSurface(spark: SparkSession, weatherCsv: String,
      locationsCsv: String): DataFrame = {
    val hiveWeatherSchema = StructType(weatherSchema.map(f =>
      if (f.name == "date") f.copy(name = "dt") else f))
    val db = "weather_analytics"
    Catalog.createDatabase(spark, db)
    Catalog.createExternalCsv(spark, "weather_data", weatherCsv, hiveWeatherSchema,
      database = Some(db))
    Catalog.createExternalCsv(spark, "location_data", locationsCsv, locationSchema,
      database = Some(db))
    spark.sql("""
      SELECT
          l.city_name,
          ROUND(AVG(w.temperature_2m_max), 2) AS avg_max_temp,
          ABS(AVG(w.temperature_2m_max) - 22) AS temp_deviation
      FROM weather_analytics.weather_data w
      JOIN weather_analytics.location_data l
          ON w.location_id = l.location_id
      WHERE w.temperature_2m_max IS NOT NULL
      GROUP BY l.city_name
      ORDER BY temp_deviation ASC, l.city_name
      LIMIT 10""")
  }

  /** Ingest both CSVs (any header dialect, whole-row malformed policy)
    * and run all six pipelines, writing each result table under `outDir`.
    * Returns table name → row count.
    */
  def runAll(spark: SparkSession, weatherCsv: String, locationsCsv: String,
      outDir: String): Map[String, Long] =
    runAllTimed(spark, weatherCsv, locationsCsv, outDir)._1

  /** [[runAll]] with a per-table wall-time breakdown (build + write +
    * count-back, seconds) — the WeatherBench artifact's detail rows.
    *
    * The nine tables are written concurrently on one session, one pool
    * thread per table, so the per-table times are overlapping walls, not
    * parts of a sum. The pool is created here, so its threads inherit the
    * caller's Spark job group and description. Every materialization the
    * call makes (the raw CSV reads, the prepared weather cache) is
    * released before it returns, whether or not a write failed: nothing is
    * cached across runs.
    */
  def runAllTimed(spark: SparkSession, weatherCsv: String,
      locationsCsv: String, outDir: String)
      : (Map[String, Long], Seq[(String, Double)]) = {
    val releases = mutable.Buffer.empty[() => Unit]
    def ingest(path: String, schema: StructType): DataFrame = {
      val (df, release) = CsvIngest.readCsvManaged(spark, path, schema)
      releases += release
      df
    }
    try {
      val weather = WeatherAnalytics.prepare(ingest(weatherCsv, weatherSchema)).cache()
      releases += (() => weather.unpersist())
      val locations = ingest(locationsCsv, locationSchema)

      val tables: Seq[(String, () => DataFrame)] = Seq(
        "district_monthly_weather" -> (() => WeatherAnalytics.districtMonthly(weather, locations)),
        "highest_precipitation" -> (() => WeatherAnalytics.highestPrecipitationMonth(weather)),
        "top_temperate_cities" -> (() => WeatherAnalytics.topTemperateCities(weather, locations)),
        "evapotranspiration_by_season" -> (() => WeatherAnalytics.seasonalEvapotranspiration(weather, locations)),
        "radiation_analysis" -> (() => WeatherAnalytics.radiationAnalysis(weather)),
        "weekly_max_temp_hottest_months" -> (() => WeatherAnalytics.weeklyMaxTempHottestMonths(weather, locations)),
        "raw_weather_data" -> (() => weather),
        "locations" -> (() => locations),
        // the catalog/SQL route to the same answer, exercised end-to-end
        "top_temperate_cities_hql" -> (() => runSqlSurface(spark, weatherCsv, locationsCsv)),
      )
      val pool = Executors.newFixedThreadPool(tables.size)
      val onPool = ExecutionContext.fromExecutor(pool)
      val timed =
        try Await.result(Future.traverse(tables) { case (name, build) =>
          Future {
            val t0 = System.nanoTime()
            ResultStore.overwrite(build(), s"$outDir/$name")
            val n = spark.read.parquet(s"$outDir/$name").count()
            (name, n, (System.nanoTime() - t0) / 1e9)
          }(onPool)
          // parasitic: results are gathered on the finishing threads, so
          // the pool only ever runs the table writes
        }(implicitly, ExecutionContext.parasitic), Duration.Inf)
        finally { // a failed table still waits for the others to finish
          pool.shutdown()
          pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        }
      (timed.map(t => t._1 -> t._2).toMap, timed.map(t => t._1 -> t._3))
    } finally releases.foreach(_())
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
