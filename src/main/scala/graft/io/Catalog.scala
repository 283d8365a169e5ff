package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The persistent SQL/catalog surface (SURVEY.md §2.1 Hive-external-table
  * scan + §3.3 lifecycle), mirroring the reference's
  * `src/hive/01_create_tables.hql:13-60`: a database of EXTERNAL tables
  * pointing at ingested files, declared once, queried by name through
  * `spark.sql`.
  *
  * Spark-first shape: `CREATE TABLE ... USING csv/parquet` against the
  * session catalog (in-memory by default, Hive metastore when configured —
  * the DDL is identical), with explicit schemas always (§4.1: never
  * inferSchema). Dropping an external table never deletes data — only the
  * catalog entry — matching Hive EXTERNAL semantics.
  */
object Catalog {

  /** Backtick-quoted identifier: embedded backticks double, per Spark's
    * identifier lexer (a bare interpolation would let a name containing a
    * backtick escape the quoting).
    */
  private def ident(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Single-quoted string literal with backslash escaping. Spark's lexer
    * treats `''` inside a literal as END + a new adjacent literal (implicit
    * concatenation drops the quote), so the SQL-standard doubling used by
    * other dialects silently mangles values here — backslash is the only
    * correct escape.
    */
  private def str(value: String): String =
    "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** `CREATE DATABASE IF NOT EXISTS` + `USE` (01_create_tables.hql:7-8). */
  def useDatabase(spark: SparkSession, name: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${ident(name)}")
    spark.sql(s"USE ${ident(name)}")
  }

  /** External CSV table over `path` with an explicit schema — the
    * `CREATE EXTERNAL TABLE ... ROW FORMAT DELIMITED ... TBLPROPERTIES
    * ('skip.header.line.count'='1')` analog (01_create_tables.hql:13-28):
    * USING csv + header option is the Spark-native spelling of both.
    */
  def createExternalCsv(spark: SparkSession, name: String, path: String,
      schema: StructType, header: Boolean = true, sep: String = ","): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${ident(name)}")
    spark.sql(s"CREATE TABLE ${ident(name)} (${schema.toDDL}) USING csv " +
      s"OPTIONS (header '$header', sep ${str(sep)}, path ${str(path)})")
  }

  /** External parquet table over `path` (schema from the footers). */
  def createExternalParquet(spark: SparkSession, name: String, path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${ident(name)}")
    spark.sql(s"""
      CREATE TABLE ${ident(name)}
      USING parquet
      OPTIONS (path ${str(path)})""")
  }

  /** Register every (name → parquet path) pair as an external table —
    * the batch form of the reference's per-table DDL script.
    */
  def registerParquetTables(spark: SparkSession, tables: Map[String, String]): Unit =
    tables.foreach { case (name, path) => createExternalParquet(spark, name, path) }

  /** A named view over arbitrary SQL — the reference's derived-table
    * pattern (its HQL scripts SELECT into intermediate tables; a view is
    * the non-materialized Spark-native equivalent).
    */
  def createView(spark: SparkSession, name: String, sql: String): Unit = {
    spark.sql(s"DROP VIEW IF EXISTS ${ident(name)}")
    spark.sql(s"CREATE VIEW ${ident(name)} AS $sql")
  }
}
