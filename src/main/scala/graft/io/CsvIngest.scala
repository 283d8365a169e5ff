package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.concurrent.Future

/** Typed CSV ingest (SURVEY.md §2.1 scans + §1.3 schema decisions):
  *
  *  - explicit schema always (the reference's `inferSchema` path at
  *    `/root/reference/src/spark_mllib/train_et_model.py:214-217` is the
  *    one deviation we deliberately do not reproduce — §4.1);
  *  - header normalization: the corpus has two header dialects, bare
  *    (`precipitation_hours`) and unit-suffixed (`precipitation_hours (h)`,
  *    `load_raw_data.py:198-218`); we strip ` (unit)` suffixes at ingest
  *    and record the unit in the StructField metadata;
  *  - malformed-row policy: DROPMALFORMED matches the reference's silent
  *    NumberFormatException-swallowing (`DistrictMonthlyWeather.java:88-92`),
  *    PERMISSIVE+corrupt-record column is the auditable alternative. The
  *    marker only sees the fields a query parses, so a frame handed to
  *    arbitrary consumers ([[readCsv]]) is persisted once, whole; an ingest
  *    stored whole ([[ingestToParquet]]) parses every field anyway and
  *    needs no persist;
  *  - one canonical date parse at ingest (`to_date(col, "M/d/yyyy")`) —
  *    three reference subsystems each re-parsed `M/D/YYYY` strings
  *    (SURVEY.md §1.2); a single typed parse removes the class of bugs.
  */
object CsvIngest {

  /** Strip a ` (unit)` suffix from a raw header, returning (name, unit). */
  def normalizeHeader(raw: String): (String, Option[String]) = {
    val m = "^(.*?)\\s*\\(([^)]*)\\)\\s*$".r
    raw.trim match {
      case m(name, unit) => (name.trim, Some(unit))
      case other         => (other, None)
    }
  }

  /** Read a CSV with an explicit schema declared against NORMALIZED names;
    * raw headers may carry unit suffixes in any mix. Unit strings are kept
    * as `unit` metadata on the matching StructField.
    *
    * `corruptFilterStorage` sizes the one materialization this read needs
    * (see the persist below): MEMORY_AND_DISK (default) spills overflow to
    * disk; pass DISK_ONLY for inputs far beyond executor memory so the
    * deserialized rows never compete with the query's own working set.
    * The materialization lives until session end; use [[readCsvManaged]]
    * when ingesting many files in one session and release each once its
    * downstream results are written. A caller that only stores the ingest
    * whole needs no materialization: use [[ingestToParquet]].
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      dropMalformed: Boolean = true,
      corruptFilterStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    readCsvManaged(spark, path, schema, dropMalformed, corruptFilterStorage)._1

  /** [[readCsv]] plus a release handle that unpersists the ingest's
    * internal materialization (the returned frame's own plan does not
    * match the persisted one, so `result.unpersist()` cannot release it).
    */
  def readCsvManaged(spark: SparkSession, path: String, schema: StructType,
      dropMalformed: Boolean = true,
      corruptFilterStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): (DataFrame, () => Unit) = {
    val (df0, rawNames) = parse(spark, path, schema)
    val (df, release) =
      if (dropMalformed) {
        // persist: the returned frame may feed a consumer that reads only
        // some columns, or none (a count()). The parser then parses only
        // those, so the corrupt-record marker would miss bad fields in the
        // others, and Spark disallows filtering a raw CSV scan by the marker
        // alone. The parsed rows are therefore materialized once, whole.
        // The default MEMORY_AND_DISK spills rather than recomputes when the
        // input outgrows memory; DISK_ONLY keeps a huge ingest from evicting
        // hot cached data entirely.
        val cached = df0.persist(corruptFilterStorage)
        (cached.filter(col("_corrupt").isNull), () => { cached.unpersist(); () })
      } else (df0, () => ())
    (normalized(df, rawNames), release)
  }

  /** Ingest the CSV at `path` straight to a parquet table at `out`, with
    * the whole-row malformed policy and no materialization: the write
    * consumes every column, so every field of every row is parsed and the
    * corrupt-record marker sees each bad one. `derive` runs on the clean,
    * normalized rows before the write; it may add or replace columns but
    * must keep reading every column, or the policy narrows to the ones it
    * keeps. Returns the stored frame's schema and its row count, counted
    * by the write itself ([[ResultStore.overwriteCounted]]).
    */
  def ingestToParquet(spark: SparkSession, path: String, schema: StructType,
      out: String, derive: DataFrame => DataFrame = identity): (StructType, Future[Long]) = {
    val (df0, rawNames) = parse(spark, path, schema)
    val df = derive(normalized(df0.filter(col("_corrupt").isNull), rawNames))
    (df.schema, ResultStore.overwriteCounted(df, out))
  }

  /** The CSV at `path` with its columns bound by header name, as the
    * other routes here bind them (raw headers normalized, unit metadata
    * attached), but with the table semantics of a plain external CSV: no
    * row is dropped and a malformed field reads as null. The columns come
    * in the file's order.
    */
  def readCsvByHeader(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val (df0, rawNames) = parse(spark, path, schema)
    normalized(df0, rawNames)
  }

  /** The raw scan: every column typed as `schema` declares it under its
    * raw header, plus the `_corrupt` marker, which is set on a row when
    * any field the query parses is malformed. Returns it with the raw
    * header names, in file order.
    */
  private def parse(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, Seq[String]) = {
    // pass 1 (driver-side, one line): raw header -> normalized mapping
    val headerLine = spark.read.text(path).limit(1).collect().head.getString(0)
    val rawNames = headerLine.split(",", -1).map(_.trim).toSeq

    val rawSchema = StructType(rawNames.map { raw =>
      val (name, _) = normalizeHeader(raw)
      val f = schema.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"CSV column '$raw' ($name) not in schema"))
      StructField(raw, f.dataType, f.nullable)
    })

    // Whole-row malformed semantics. Plain DROPMALFORMED is projection-
    // dependent (a count() parses zero columns and drops nothing), so the
    // row-level policy the reference's Java parser had (any bad field ->
    // skip row) needs PERMISSIVE + a corrupt-record marker column.
    (spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(rawSchema.add("_corrupt", StringType))
      .csv(path), rawNames)
  }

  /** Rename to normalized names and attach unit metadata; drops `_corrupt`. */
  private def normalized(df: DataFrame, rawNames: Seq[String]): DataFrame =
    df.select(rawNames.map { raw =>
      val (name, unit) = normalizeHeader(raw)
      val meta = unit.map(u => new MetadataBuilder().putString("unit", u).build())
        .getOrElse(Metadata.empty)
      col(s"`$raw`").as(name, meta)
    }: _*)

  /** Canonical non-padded date parse (`1/5/2010`-style). */
  def parseDate(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_date(c, "M/d/yyyy")
}
