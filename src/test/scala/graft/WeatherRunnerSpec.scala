package graft

import graft.app.WeatherRunner
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: CSVs in, the ten-table catalog (§1.4, minus the two
  * ML-run tables) out, one call.
  */
class WeatherRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A temp dir holding `weather.csv` (3 rows, then `extraRows`) and
    * `locations.csv` (2). */
  private def fixture(extraRows: String = ""): String = {
    val dir = Files.createTempDirectory("graft_runner").toString
    Files.writeString(java.nio.file.Path.of(s"$dir/weather.csv"),
      """location_id,date,weather_code (wmo code),temperature_2m_max (°C),temperature_2m_min (°C),temperature_2m_mean (°C),apparent_temperature_max (°C),apparent_temperature_min (°C),apparent_temperature_mean (°C),daylight_duration (s),sunshine_duration (s),precipitation_sum (mm),rain_sum (mm),precipitation_hours (h),wind_speed_10m_max (km/h),wind_gusts_10m_max (km/h),wind_direction_10m_dominant (°),shortwave_radiation_sum (MJ/m²),et0_fao_evapotranspiration (mm),sunrise,sunset
        |1,1/5/2010,61,31.2,24.1,27.4,33.0,26.2,29.1,42300.5,28800.0,12.4,12.0,6.5,14.2,38.9,225.0,18.2,4.1,06:21,18:05
        |1,4/10/2010,0,33.0,25.0,29.0,35.0,27.0,31.0,43000.0,30000.0,0.0,0.0,2.0,10.0,20.0,180.0,22.0,6.0,06:00,18:20
        |2,12/28/2014,63,29.8,23.5,26.1,31.1,25.0,27.8,41900.0,10800.0,45.7,44.2,18.0,22.6,61.3,240.0,9.8,2.2,06:19,18:01
        |""".stripMargin + extraRows)
    Files.writeString(java.nio.file.Path.of(s"$dir/locations.csv"),
      """location_id,latitude,longitude,elevation,utc_offset_seconds,timezone,timezone_abbreviation,city_name
        |1,6.93,79.85,8.0,19800,Asia/Colombo,+0530,Colombo
        |2,7.29,80.63,500.0,19800,Asia/Colombo,+0530,Kandy
        |""".stripMargin)
    dir
  }

  /** No plan is cached anywhere in the session's shared state. */
  private def cacheIsEmpty = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager.isEmpty

  test("runAll produces the full result-table catalog from raw CSVs") {
    val dir = fixture()
    val counts = WeatherRunner.runAll(spark,
      s"$dir/weather.csv", s"$dir/locations.csv", s"$dir/out")

    assert(counts("raw_weather_data") === 3)
    assert(counts("locations") === 2)
    assert(counts("district_monthly_weather") === 3) // (Colombo,2010-01/04),(Kandy,2014-12)
    assert(counts("highest_precipitation") === 1)
    assert(counts("top_temperate_cities") === 2)
    assert(counts("evapotranspiration_by_season") === 3)
    assert(counts("radiation_analysis") === 3)
    assert(counts("weekly_max_temp_hottest_months") >= 3)

    // spot value through the stored table: argmax month is Dec 2014
    val hp = spark.read.parquet(s"$dir/out/highest_precipitation").head()
    assert(hp.getString(0) === "2014-12")
    assert(hp.getDouble(1) === 18.0)

    // HiveQL-parity: the reference's Query 1 run through registered
    // catalog tables (run_hive_analysis_simple.py:278-331) lands on the
    // same rows as the DataFrame-API pipeline
    assert(counts("top_temperate_cities_hql") === 2)
    def rows(t: String) = spark.read.parquet(s"$dir/out/$t")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(rows("top_temperate_cities_hql") === rows("top_temperate_cities"))
  }

  test("runAll leaves the session's current database as it found it") {
    spark.sql("CREATE DATABASE IF NOT EXISTS weather_runner_caller")
    spark.sql("USE weather_runner_caller")
    try {
      val dir = fixture()
      WeatherRunner.runAll(spark, s"$dir/weather.csv", s"$dir/locations.csv", s"$dir/out")
      assert(spark.catalog.currentDatabase === "weather_runner_caller")
    } finally {
      spark.sql("USE default")
      spark.sql("DROP DATABASE IF EXISTS weather_runner_caller")
    }
  }

  test("runAll releases every materialization it makes: nothing is cached across runs") {
    spark.catalog.clearCache() // start from an empty cache, whatever ran before
    val dir = fixture()
    WeatherRunner.runAll(spark, s"$dir/weather.csv", s"$dir/locations.csv", s"$dir/out")
    assert(cacheIsEmpty)
  }

  test("a failed table write propagates and still releases the materializations") {
    spark.catalog.clearCache()
    val dir = fixture()
    val notADir = Files.writeString(java.nio.file.Path.of(s"$dir/out"), "a regular file")
    intercept[Exception] {
      WeatherRunner.runAll(spark, s"$dir/weather.csv", s"$dir/locations.csv", notADir.toString)
    }
    assert(cacheIsEmpty)
  }

  test("a row with one bad field, in a column no pipeline reads, is dropped whole") {
    // wind_gusts_10m_max is read by no pipeline: only the ingest's write
    // parses it, so only the whole-row policy can drop this row
    val dir = fixture(
      """2,12/29/2014,63,29.0,23.0,26.0,31.0,25.0,27.0,41900.0,10800.0,1.0,1.0,1.0,22.6,gusty,240.0,30.0,2.2,06:19,18:01
        |2,notadate,63,29.0,23.0,26.0,31.0,25.0,27.0,41900.0,10800.0,1.0,1.0,1.0,22.6,61.3,240.0,30.0,2.2,06:19,18:01
        |""".stripMargin)
    val out = s"$dir/out"
    val counts = WeatherRunner.runAll(spark, s"$dir/weather.csv", s"$dir/locations.csv", out)

    val raw = spark.read.parquet(s"$out/raw_weather_data")
    assert(raw.select("dt").collect().map(_.getString(0)).toSet ===
      Set("1/5/2010", "4/10/2010", "12/28/2014"))
    val days = spark.read.parquet(s"$out/radiation_analysis").collect()
      .map(r => (r.getAs[Int]("year"), r.getAs[Int]("month")) -> r.getAs[Long]("total_days")).toMap
    assert(days === Map((2010, 1) -> 1L, (2010, 4) -> 1L, (2014, 12) -> 1L))
    // every count is the stored table's own
    counts.foreach { case (t, n) =>
      assert(spark.read.parquet(s"$out/$t").count() === n, t)
    }
  }

  test("concurrent runAll calls on one session each query their own CSVs") {
    // a cooler Kandy: both cities' averages move, so the two answers differ
    val cool = """2,6/1/2011,3,18.0,12.0,15.0,18.0,12.0,15.0,41900.0,10800.0,1.0,1.0,1.0,10.0,20.0,240.0,15.0,2.0,06:19,18:01
      |""".stripMargin
    val dirs = Seq(fixture(), fixture(cool))
    def rows(dir: String, t: String) = spark.read.parquet(s"$dir/out/$t")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(dirs) { dir =>
      Future(WeatherRunner.runAll(spark, s"$dir/weather.csv", s"$dir/locations.csv", s"$dir/out"))
    }, Duration.Inf)
    dirs.foreach { dir =>
      assert(rows(dir, "top_temperate_cities_hql") === rows(dir, "top_temperate_cities"), dir)
    }
    assert(rows(dirs(0), "top_temperate_cities") !== rows(dirs(1), "top_temperate_cities"))
  }

  test("the HQL surface binds CSV columns by header name, not by position") {
    // the same weather rows with the columns in reverse order: the ingest
    // maps them by header, and the HQL table must see the same fields
    val dir = fixture()
    val path = java.nio.file.Path.of(s"$dir/weather.csv")
    val lines = Files.readAllLines(path)
    Files.write(path, java.util.Arrays.asList(lines.toArray(new Array[String](0))
      .map(_.split(",", -1).reverse.mkString(",")): _*))
    val counts = WeatherRunner.runAll(spark, s"$dir/weather.csv", s"$dir/locations.csv", s"$dir/out")
    assert(counts("top_temperate_cities") === 2)
    def rows(t: String) = spark.read.parquet(s"$dir/out/$t")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(rows("top_temperate_cities_hql") === rows("top_temperate_cities"))
  }
}
