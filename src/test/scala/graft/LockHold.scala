package graft

/** Child-process half of the cross-process writer-lock law
  * (StoreLifecycleSpec): acquires [[graft.operators.Generations]]'
  * writer lock on a store directory through the REAL acquisition path
  * (its own SparkSession and Hadoop FileSystem — a genuinely separate
  * JVM, not a simulated foreign lock file), touches a sentinel file so
  * the parent knows the lock is held, then holds it for `holdMs`.
  *
  * `java -cp <test class path> graft.LockHold <storeDir> <sentinelFile> <holdMs>`
  */
object LockHold {
  def main(args: Array[String]): Unit = {
    val Array(storeDir, sentinel, holdMs) = args
    val spark = LocalSession("local[1]")
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.Generations.withWriterLock(spark, storeDir) {
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(sentinel), "held\n")
      Thread.sleep(holdMs.toLong)
    }
    spark.stop()
  }
}
