package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.temporal.IsoFields

/** The `etl_weather` input: a seeded weather CSV of the reference corpus's
  * shape (26 districts × daily 2010-01-01 .. 2024-12-31 = 142,454 rows) in
  * the raw dialect of `graft.app.WeatherBench.generateWeatherCsv`:
  * unit-suffixed headers, non-padded `M/d/yyyy` dates, about 0.1 % rows
  * with a non-numeric `temperature_2m_max` and about 0.5 % null ET0.
  *
  * It is written with plain JVM I/O, and the expected row counts of the
  * nine result tables are computed here from the same rows without Spark,
  * so the check does not share code with the engine it checks.
  */
object WeatherFixture {

  val Locations = 26
  val Days = 5479
  private val Start = LocalDate.of(2010, 1, 1)

  val Header: String = Seq("location_id", "date", "weather_code (wmo code)",
    "temperature_2m_max (°C)", "temperature_2m_min (°C)", "temperature_2m_mean (°C)",
    "apparent_temperature_max (°C)", "apparent_temperature_min (°C)",
    "apparent_temperature_mean (°C)", "daylight_duration (s)", "sunshine_duration (s)",
    "precipitation_sum (mm)", "rain_sum (mm)", "precipitation_hours (h)",
    "wind_speed_10m_max (km/h)", "wind_gusts_10m_max (km/h)",
    "wind_direction_10m_dominant (°)", "shortwave_radiation_sum (MJ/m²)",
    "et0_fao_evapotranspiration (mm)", "sunrise", "sunset").mkString(",")

  /** splitmix64: a fixed, seedable mix, independent of any library. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def unit(seed: Long, loc: Int, d: Int, salt: Int): Double =
    (mix(mix(mix(seed) ^ loc) ^ (d.toLong << 8 | salt)) >>> 11) * (1.0 / (1L << 53))

  /** Two decimals (every generated value is positive). */
  private def r2(v: Double): String = (math.round(v * 100) / 100.0).toString

  /** One generated row, plus what the checker needs to know about it. */
  final case class Row(loc: Int, date: LocalDate, line: String, poisoned: Boolean,
      tMax: Double, et0Null: Boolean)

  def rows(seed: Long): Iterator[Row] =
    for (d <- Iterator.range(0, Days); loc <- Iterator.range(1, Locations + 1)) yield {
      val date = Start.plusDays(d.toLong)
      val season = math.sin((d % 365) * (2 * math.Pi / 365))
      val noise = unit(seed, loc, d, 1)
      val tMax = r2(29.0 + 3.5 * season + loc % 5 + noise * 2)
      val tMaxV = tMax.toDouble
      val tMin = r2(tMaxV - 6 - noise * 2).toDouble
      val precipH = r2(math.max(0.0, 6.0 - 8.0 * season + noise * 10)).toDouble
      val poisoned = unit(seed, loc, d, 2) < 0.001
      val et0Null = unit(seed, loc, d, 3) < 0.005
      val dateText = s"${date.getMonthValue}/${date.getDayOfMonth}/${date.getYear}"
      val fields = Seq(
        loc.toString, dateText, ((unit(seed, 0, d, 4) * 4).toInt * 10).toString,
        if (poisoned) "not_a_number" else tMax, r2(tMin), r2((tMaxV + tMin) / 2),
        r2(tMaxV + 2), r2(tMin - 1), r2((tMaxV + tMin) / 2 + 1),
        r2(43000.0 + 1500.0 * season), r2(30000.0 - precipH * 1200),
        r2(precipH * 2.5), r2(precipH * 2.0), r2(precipH),
        r2(12.0 + noise * 18), r2(20.0 + noise * 25), r2(noise * 360),
        r2(16.0 + 5.0 * season - precipH / 4),
        if (et0Null) "" else r2(4.0 + 1.5 * season - precipH / 10),
        s"${date}T06:0${d % 10}", s"${date}T18:1${(d * 7) % 10}")
      Row(loc, date, fields.mkString(","), poisoned, tMaxV, et0Null)
    }

  private def writeLines(file: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(file.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** Writes `weather/part-00000.csv` and `locations/part-00000.csv` under
    * `dir` and returns the expected row count of every result table. */
  def write(dir: Path, seed: Long): Map[String, Long] = {
    val kept = scala.collection.mutable.ArrayBuffer[Row]()
    writeLines(dir.resolve("weather/part-00000.csv"),
      Iterator.single(Header) ++ rows(seed).map { r =>
        if (!r.poisoned) kept += r
        r.line
      })
    writeLines(dir.resolve("locations/part-00000.csv"),
      Iterator.single("location_id,latitude,longitude,elevation,utc_offset_seconds," +
        "timezone,timezone_abbreviation,city_name") ++
        (1 to Locations).iterator.map { l =>
          Seq(l.toString, r2(5.9 + l * 0.14), r2(79.8 + l * 0.08), r2(l * 17.3),
            "19800", "Asia/Colombo", "+0530", s"District_$l").mkString(",")
        })
    expectedCounts(kept.toSeq)
  }

  /** Row counts of the nine tables `WeatherRunner.runAll` writes, from the
    * rows that survive the whole-row malformed policy. */
  def expectedCounts(kept: Seq[Row]): Map[String, Long] = {
    def ym(r: Row) = (r.date.getYear, r.date.getMonthValue)
    val maha = Set(9, 10, 11, 12, 1, 2, 3)
    val monthly = kept.groupBy(ym).view.mapValues(rs => rs.map(_.tMax).sum / rs.size).toMap
    val hottest = monthly.toSeq.groupBy(_._1._1).values.flatMap(
      _.sortBy { case ((_, m), avg) => (-avg, m) }.take(3).map(_._1)).toSet
    Map(
      "district_monthly_weather" -> kept.map(r => (r.loc, ym(r))).distinct.size,
      "highest_precipitation" -> 1,
      "top_temperate_cities" -> math.min(10, kept.map(_.loc).distinct.size),
      "evapotranspiration_by_season" -> kept.filterNot(_.et0Null).map { r =>
        val m = r.date.getMonthValue
        (r.loc, maha(m), if (m <= 3) r.date.getYear - 1 else r.date.getYear)
      }.distinct.size,
      "radiation_analysis" -> kept.map(ym).distinct.size,
      "weekly_max_temp_hottest_months" -> kept.filter(r => hottest(ym(r))).map(r =>
        (ym(r), r.date.get(IsoFields.WEEK_OF_WEEK_BASED_YEAR), r.loc)).distinct.size,
      "raw_weather_data" -> kept.size,
      "locations" -> Locations,
      "top_temperate_cities_hql" -> math.min(10, kept.map(_.loc).distinct.size),
    ).view.mapValues(_.toLong).toMap
  }
}
