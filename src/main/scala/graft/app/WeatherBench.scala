package graft.app

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end wall-time figure for the full weather system (BASELINE.md:
  * the reference's orchestrator allots 600 s for the Spark analysis stage
  * on the 142 K-row corpus, `kafka_hdfs_consumer.py:187`; our target is
  * < 30 s for ingest + all six pipelines + all result tables).
  *
  * Generates a deterministic fixture with the reference corpus's exact
  * shape — 26 districts × daily 2010–2024 = 142,454 rows, unit-suffixed
  * headers, non-padded `M/d/yyyy` dates, ~0.1 % malformed numeric rows —
  * then times one `WeatherRunner.runAll`. Prints one JSON line:
  * `value` is the timed region's wall; `pipelines` holds each table's own
  * build + write wall from `WeatherRunner.runAllTimed`, counted from when
  * its inputs were ready. The fact, the locations and the HQL table are
  * written at once, then the six pipelines scan the stored fact at once,
  * so those walls overlap and do not sum to `value`.
  *
  * `runMain graft.app.WeatherBench [workDir]`
  */
object WeatherBench {

  /** Deterministic synthetic weather fact in the raw-CSV dialect.
    * Value formulas are arbitrary-but-plausible seasonal curves; the point
    * is volume and dialect, not meteorology.
    */
  def generateWeatherCsv(spark: SparkSession, dir: String,
      nLocations: Int = 26, nDays: Int = 5479): Unit = {
    val d = col("d"); val loc = col("location_id")
    val dayOfYear = d % 365
    val season = sin(dayOfYear * (2 * math.Pi / 365))
    val noise = pmod(xxhash64(loc, d), lit(1000)) / lit(1000.0)
    def r2(c: org.apache.spark.sql.Column) = round(c, 2)

    val base = spark.range(nLocations.toLong * nDays)
      .select((col("id") % nLocations + 1).cast("int").as("location_id"),
        (col("id") / nLocations).cast("int").as("d"))
      .withColumn("date",
        date_format(date_add(to_date(lit("2010-01-01")), d), "M/d/yyyy"))

    val tMax = r2(lit(29.0) + lit(3.5) * season + (loc % 5) + noise * 2)
    val tMin = r2(tMax - 6 - noise * 2)
    val precipH = r2(greatest(lit(0.0), lit(6.0) - lit(8.0) * season + noise * 10))
    // one numeric column poisoned on ~0.1 % of rows: whole-row drop path
    val poisoned = pmod(xxhash64(loc, d, lit(7)), lit(1000)) === 0

    val out = base.select(
      loc.as("location_id"),
      col("date"),
      (pmod(xxhash64(d), lit(4)) * 10).cast("int").as("weather_code"),
      when(poisoned, lit("not_a_number")).otherwise(tMax.cast("string"))
        .as("temperature_2m_max (°C)"),
      tMin.as("temperature_2m_min (°C)"),
      r2((tMax + tMin) / 2).as("temperature_2m_mean (°C)"),
      r2(tMax + 2).as("apparent_temperature_max (°C)"),
      r2(tMin - 1).as("apparent_temperature_min (°C)"),
      r2((tMax + tMin) / 2 + 1).as("apparent_temperature_mean (°C)"),
      r2(lit(43000.0) + lit(1500.0) * season).as("daylight_duration (s)"),
      r2(lit(30000.0) - precipH * 1200).as("sunshine_duration (s)"),
      r2(precipH * 2.5).as("precipitation_sum (mm)"),
      r2(precipH * 2.0).as("rain_sum (mm)"),
      precipH.as("precipitation_hours (h)"),
      r2(lit(12.0) + noise * 18).as("wind_speed_10m_max (km/h)"),
      r2(lit(20.0) + noise * 25).as("wind_gusts_10m_max (km/h)"),
      r2(noise * 360).as("wind_direction_10m_dominant (°)"),
      r2(lit(16.0) + lit(5.0) * season - precipH / 4)
        .as("shortwave_radiation_sum (MJ/m²)"),
      // ~0.5 % nulls: the null-rejection predicates have work to do
      when(pmod(xxhash64(loc, d, lit(11)), lit(200)) === 0, lit(null))
        .otherwise(r2(lit(4.0) + lit(1.5) * season - precipH / 10))
        .as("et0_fao_evapotranspiration (mm)"),
      concat(col("date"), lit("T06:0"), (pmod(xxhash64(d, lit(3)), lit(10))).cast("string"))
        .as("sunrise"),
      concat(col("date"), lit("T18:1"), (pmod(xxhash64(d, lit(5)), lit(10))).cast("string"))
        .as("sunset"))

    out.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
  }

  def generateLocationsCsv(spark: SparkSession, dir: String,
      nLocations: Int = 26): Unit = {
    val loc = col("location_id")
    spark.range(nLocations).select(
      (col("id") + 1).cast("int").as("location_id"))
      .select(loc,
        round(lit(5.9) + loc * 0.14, 4).as("latitude"),
        round(lit(79.8) + loc * 0.08, 4).as("longitude"),
        round(loc * 17.3, 1).as("elevation"),
        lit(19800).as("utc_offset_seconds"),
        lit("Asia/Colombo").as("timezone"),
        lit("+0530").as("timezone_abbreviation"),
        concat(lit("District_"), loc.cast("string")).as("city_name"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft_weather_bench").toString)
    val spark = graft.LocalSession()

    generateWeatherCsv(spark, s"$work/weather_csv")
    generateLocationsCsv(spark, s"$work/locations_csv")

    // timed region = what the reference's 600 s envelope covers: read the
    // landed CSVs, run every pipeline, write every result table
    val t0 = System.nanoTime()
    val (counts, times) = WeatherRunner.runAllTimed(spark,
      s"$work/weather_csv", s"$work/locations_csv", s"$work/out")
    val sec = (System.nanoTime() - t0) / 1e9
    val rows = counts("raw_weather_data")
    spark.stop()
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val per = times.map { case (n, s) => s""""$n":${f2(s)}""" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"weather_e2e","value":${f2(sec)},""" +
      s""""unit":"sec","rows":$rows,"tables":${counts.size},""" +
      s""""pipelines":$per}"""
    // committed per-round artifact: the end-to-end record at the
    // reference corpus scale, per-pipeline breakdown included
    try java.nio.file.Files.writeString(
      java.nio.file.Path.of("WEATHER_BENCH.json"), line + "\n")
    catch { case _: Throwable => () }
    println(line)
  }
}
