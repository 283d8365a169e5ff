package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared test session is built by [[LocalSession]], so every suite
  * runs under the engine policy Bench and Verify run under. */
class LocalSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the test session carries the engine policy") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") === "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    // every policy conf reaches the live session, not only the ones the
    // build also sets as JVM system properties
    LocalSession.confs.foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
    assert(spark.sparkContext.master === LocalSession.master)
  }

  test("the SQL extensions are installed without GraftExtensions.register") {
    // a new session shares the builder-time extensions but not any temp
    // functions an earlier suite registered on the shared one
    val fresh = spark.newSession()
    val v = fresh.sql("SELECT graft_simhash64(array('x','y','z')) AS v").head()
    assert(!v.isNullAt(0))
  }
}
