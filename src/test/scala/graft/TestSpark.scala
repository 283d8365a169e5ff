package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (spark_guide.md: per-suite
  * lazy val, never per-test), built like Verify/Bench's.
  */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(extra = Map(
    "spark.app.name" -> "graft-test",
    // per-JVM warehouse: managed-table tests never collide with leftovers
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString))

  val sf0001 = "/root/testdata/sf0.001"
}
