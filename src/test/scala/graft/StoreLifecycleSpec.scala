package graft

import graft.operators.{ClusterStore, Generations, History, Indexing, LmStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-store lifecycle laws that VectorStoreSpec pioneered for the ANN
  * store, promoted to every persisted store:
  *
  *  - a reader holding a RESOLVED plan survives a concurrent compact+sweep
  *    with identical results (real two threads, not the single-threaded
  *    reader-grace law) — index, LM register, cluster store, SCD2 store;
  *  - the single-WRITER contract is ENFORCED, not documented: a second
  *    concurrent writer (thread or process) fails fast with
  *    `IllegalStateException` instead of interleaving `add`/`commit` and
  *    losing a generation; stale lock files of crashed writers are broken;
  *  - the manifest snapshot history gives cheap time travel: after two
  *    compactions a reader can still resolve and read the store state of
  *    two commits ago (`Generations.liveAt`), because the sweep protects
  *    every generation a retained snapshot references.
  */
class StoreLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/store"

  private def docs = Tables.documents(spark, TestSpark.sf0001)

  /** Collect `resolved` repeatedly on the main thread while `writer` runs
    * on a second thread; every read must equal `before` and the writer
    * must not throw. */
  private def readUnderWriter(resolved: => Seq[String], before: Seq[String])(
      writer: => Unit): Unit = {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val w = new Thread(() => {
      try writer
      catch { case t: Throwable => failure.set(t) }
      finally done.set(true)
    })
    w.start()
    var reads = 0
    while (!done.get() || reads == 0) {
      assert(resolved === before, s"read $reads under concurrent writer diverged")
      reads += 1
    }
    w.join()
    assert(failure.get() === null, s"writer failed: ${failure.get()}")
    // the lapsed plan STILL collects after the writer finished (grace)
    assert(resolved === before)
  }

  // ---- reader survives a live compact+sweep, per store ----

  test("index: a resolved indexStats survives a concurrent compact+sweep") {
    val dir = tmp("idx_conc")
    Indexing.indexBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text",
      dir, nShards = 8)
    Indexing.indexAppend(docs.filter($"doc_id" % 2 === 1), "doc_id", "text", dir)
    val resolved = Indexing.indexStats(spark, dir, minDf = 5L, postingCap = 10)
    def read = resolved.orderBy("token").collect().map(_.toString).toSeq
    val before = read
    readUnderWriter(read, before) { Indexing.indexCompact(spark, dir) }
    assert(Generations.live(spark, dir).forall(_.startsWith("c")))
    // a fresh resolve serves the folded store identically
    assert(Indexing.indexStats(spark, dir, minDf = 5L, postingCap = 10)
      .orderBy("token").collect().map(_.toString).toSeq === before)
  }

  test("LM register: a resolved lmScore survives a concurrent compact+sweep") {
    val dir = tmp("lm_conc")
    LmStore.lmBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text",
      dir, nShards = 4)
    LmStore.lmAppend(spark, docs.filter($"doc_id" % 2 === 1), "doc_id",
      "text", dir)
    val scored = docs.filter($"doc_id" < 40)
    val resolved = LmStore.lmScore(spark, scored, "doc_id", "text", dir)
    def read = resolved.orderBy("id").collect().map(_.toString).toSeq
    val before = read
    readUnderWriter(read, before) { LmStore.lmCompact(spark, dir) }
    assert(LmStore.lmScore(spark, scored, "doc_id", "text", dir)
      .orderBy("id").collect().map(_.toString).toSeq === before)
  }

  test("cluster store: a resolved ccRead survives a concurrent compact+sweep") {
    val dir = tmp("cc_conc")
    ClusterStore.ccBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dir)
    ClusterStore.ccApply(spark, dir, docs.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text")
    val resolved = ClusterStore.ccRead(spark, dir)
    def read = resolved.orderBy("id").collect().map(_.toString).toSeq
    val before = read
    readUnderWriter(read, before) { ClusterStore.ccCompact(spark, dir) }
    assert(ClusterStore.ccRead(spark, dir)
      .orderBy("id").collect().map(_.toString).toSeq === before)
  }

  test("SCD2 store: a resolved scd2Read survives a concurrent compact+sweep") {
    def ev(rows: (Long, Long, String, Long)*): DataFrame =
      rows.toSeq.toDF("user_id", "event_id", "event_type", "ms")
        .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val dir = tmp("scd2_conc")
    History.scd2Build(
      ev((1L, 1L, "a", 1000L), (1L, 2L, "b", 2000L), (2L, 1L, "x", 1000L),
        (3L, 1L, "p", 5000L)),
      "user_id", "event_type", "ts", "event_id", dir, nBuckets = 4)
    History.scd2Apply(spark, dir,
      ev((1L, 3L, "c", 3000L), (2L, 2L, "y", 9000L), (4L, 1L, "q", 1000L)),
      "user_id", "event_type", "ts", "event_id")
    val resolved = History.scd2Read(spark, dir)
    def read = resolved.orderBy("user_id", "version").collect()
      .map(_.toString).toSeq
    val before = read
    readUnderWriter(read, before) { History.scd2Compact(spark, dir) }
    assert(History.scd2Read(spark, dir)
      .orderBy("user_id", "version").collect().map(_.toString).toSeq === before)
  }

  test("dedup band state: a resolved corpus read survives a concurrent compactState") {
    import spark.implicits._
    val dir = tmp("dedup_conc")
    def ingest(df: org.apache.spark.sql.DataFrame, id: Long) =
      graft.streaming.DedupStream.ingestBatch(spark, df, id, dir,
        "doc_id", "text", 3, 0.5, 32, 16)
    ingest(docs.filter($"doc_id" % 2 === 0).limit(60)
      .select($"doc_id", $"text"), 0L)
    ingest(docs.filter($"doc_id" % 2 === 1).limit(60)
      .select(($"doc_id" + 100000).as("doc_id"), $"text"), 1L)
    ingest(docs.filter($"doc_id" % 3 === 0).limit(40)
      .select(($"doc_id" + 200000).as("doc_id"), $"text"), 2L)
    val resolved = graft.streaming.DedupStream.corpus(spark, dir)
    def read = resolved.orderBy("doc_id").collect().map(_.toString).toSeq
    val before = read
    readUnderWriter(read, before) {
      graft.streaming.DedupStream.compactState(spark, dir, uptoBatch = 3L)
    }
    assert(graft.streaming.DedupStream.corpus(spark, dir)
      .orderBy("doc_id").collect().map(_.toString).toSeq === before)
  }

  // ---- the single-writer contract is enforced ----

  test("a second concurrent writer thread fails fast; the first completes") {
    val dir = tmp("lock_thread")
    Indexing.indexBuild(docs.filter($"doc_id" < 20), "doc_id", "text",
      dir, nShards = 4)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      Generations.withWriterLock(spark, dir) {
        entered.countDown()
        release.await()
      })
    holder.start()
    entered.await()
    // a real mutator on the main thread must fail fast, not queue
    val e = intercept[IllegalStateException] {
      Indexing.indexAppend(docs.filter($"doc_id" >= 20 && $"doc_id" < 40),
        "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("single-writer"))
    release.countDown()
    holder.join()
    // once released, the same append succeeds and commits its generation
    Indexing.indexAppend(docs.filter($"doc_id" >= 20 && $"doc_id" < 40),
      "doc_id", "text", dir)
    assert(Generations.live(spark, dir).size === 2)
  }

  test("a fresh foreign lock file blocks a writer and is left untouched; a stale one is broken") {
    val dir = tmp("lock_file")
    LmStore.lmBuild(docs.filter($"doc_id" < 20), "doc_id", "text",
      dir, nShards = 4)
    val lock = new java.io.File(dir, "_WRITER_LOCK")
    // fresh foreign lock (another process, mtime = now): fail fast,
    // and NEVER delete the other writer's lock on the way out
    assert(lock.createNewFile())
    val e = intercept[IllegalStateException] {
      LmStore.lmAppend(spark, docs.filter($"doc_id" >= 20 && $"doc_id" < 40),
        "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("locked by another writer process"))
    assert(lock.exists(), "a blocked writer must not remove the foreign lock")
    // stale lock (crashed writer, mtime 31 min ago): broken, append lands
    assert(lock.setLastModified(System.currentTimeMillis() - 31 * 60 * 1000L))
    LmStore.lmAppend(spark, docs.filter($"doc_id" >= 20 && $"doc_id" < 40),
      "doc_id", "text", dir)
    assert(Generations.live(spark, dir).size === 2)
    assert(!lock.exists(), "the successful writer releases the broken lock")
  }

  test("the writer lock is reentrant per thread (a compact may call an apply)") {
    val dir = tmp("lock_reent")
    val got = Generations.withWriterLock(spark, dir) {
      Generations.withWriterLock(spark, dir) { 42 }
    }
    assert(got === 42)
    // fully released afterwards: an independent acquisition succeeds
    assert(Generations.withWriterLock(spark, dir) { 7 } === 7)
  }

  test("a writer in a genuinely separate JVM blocks a parent append (cross-process lock)") {
    val dir = tmp("lock_xproc")
    LmStore.lmBuild(docs.filter($"doc_id" < 20), "doc_id", "text",
      dir, nShards = 4)
    val sentinel = dir + ".sentinel"
    // fork a real child JVM through the REAL acquisition path (its own
    // SparkSession + FileSystem), not a simulated foreign lock file
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
    val addOpens = inherited.sliding(2).collect {
      case Array(f, v) if f == "--add-opens" => Seq(f, v)
    }.flatten.toSeq
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp",
      System.getProperty("java.class.path"), "graft.LockHold",
      dir, sentinel, "180000")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectErrorStream(false).start()
    try {
      // the sentinel lands only AFTER the child holds the lock
      val deadline = System.currentTimeMillis() + 120000L
      while (!new java.io.File(sentinel).exists() &&
        System.currentTimeMillis() < deadline && proc.isAlive)
        Thread.sleep(100)
      assert(new java.io.File(sentinel).exists(),
        "child JVM never acquired the lock")
      // a real mutator in THIS process must fail fast with the
      // lock-holder message, and must not disturb the child's lock
      val e = intercept[IllegalStateException] {
        LmStore.lmAppend(spark, docs.filter($"doc_id" >= 20 && $"doc_id" < 40),
          "doc_id", "text", dir)
      }
      assert(e.getMessage.contains("locked by another writer process"))
      assert(new java.io.File(dir, "_WRITER_LOCK").exists())
    } finally {
      proc.destroyForcibly()
      proc.waitFor()
    }
    // a killed holder leaves its lock behind (the stale-break law covers
    // recovery by age); clear it and the same append must land
    new java.io.File(dir, "_WRITER_LOCK").delete()
    LmStore.lmAppend(spark, docs.filter($"doc_id" >= 20 && $"doc_id" < 40),
      "doc_id", "text", dir)
    assert(Generations.live(spark, dir).size === 2)
  }

  // ---- manifest snapshot history: cheap time travel ----

  test("asOf serving: every store answers at the pre-compaction snapshot") {
    import graft.operators.VectorStore
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toIndexedSeq
    // each store: build + append (two commits — the append rotates the
    // build manifest into _MANIFEST.0), capture the live read, compact
    // (rotates the pre-compaction manifest into the history), then the
    // asOf read at the NEWEST retained snapshot must equal the captured
    // pre-compaction read even though live() now serves the folded state.
    val idx = tmp("asof_idx")
    Indexing.indexBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text",
      idx, nShards = 4)
    Indexing.indexAppend(docs.filter($"doc_id" % 2 === 1), "doc_id", "text", idx)
    val idxBefore = canon(Indexing.indexLookup(spark, idx, Seq("the", "a")))
    Indexing.indexCompact(spark, idx)
    val idxSnap = Generations.snapshotIds(spark, idx).max
    assert(canon(Indexing.indexLookup(spark, idx, Seq("the", "a"),
      asOf = Some(idxSnap))) === idxBefore)

    val lm = tmp("asof_lm")
    LmStore.lmBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text",
      lm, nShards = 4)
    LmStore.lmAppend(spark, docs.filter($"doc_id" % 2 === 1), "doc_id",
      "text", lm)
    val scored = docs.filter($"doc_id" < 30)
    val lmBefore = canon(LmStore.lmScore(spark, scored, "doc_id", "text", lm))
    LmStore.lmCompact(spark, lm)
    val lmSnap = Generations.snapshotIds(spark, lm).max
    assert(canon(LmStore.lmScore(spark, scored, "doc_id", "text", lm,
      asOf = Some(lmSnap))) === lmBefore)
    // and the snapshot genuinely differs from the live state when the
    // corpus changed between the commits: score against the OLDEST
    // retained snapshot (build-only register) — a smaller corpus shifts
    // the counts, so the scores must differ
    val lmSnap0 = Generations.snapshotIds(spark, lm).min
    assert(canon(LmStore.lmScore(spark, scored, "doc_id", "text", lm,
      asOf = Some(lmSnap0))) !== lmBefore)

    val cc = tmp("asof_cc")
    ClusterStore.ccBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", cc)
    ClusterStore.ccApply(spark, cc, docs.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text")
    val ccBefore = canon(ClusterStore.ccRead(spark, cc))
    ClusterStore.ccCompact(spark, cc)
    val ccSnap = Generations.snapshotIds(spark, cc).max
    assert(canon(ClusterStore.ccRead(spark, cc, asOf = Some(ccSnap)))
      === ccBefore)

    val ann = tmp("asof_ann")
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    VectorStore.annBuild(emb.filter($"vec_id" % 2 === 0), "vec_id",
      "embedding", ann, nCells = 8)
    VectorStore.annAppend(spark, emb.filter($"vec_id" % 2 === 1), "vec_id",
      "embedding", ann)
    val q = emb.filter($"vec_id" < 3)
    val annBefore = canon(VectorStore.annSearch(spark, q, "vec_id",
      "embedding", ann, k = 5))
    VectorStore.annCompact(spark, ann)
    val annSnap = Generations.snapshotIds(spark, ann).max
    assert(canon(VectorStore.annSearch(spark, q, "vec_id", "embedding", ann,
      k = 5, asOf = Some(annSnap))) === annBefore)

    def ev(rows: (Long, Long, String, Long)*): DataFrame =
      rows.toSeq.toDF("user_id", "event_id", "event_type", "ms")
        .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val scd = tmp("asof_scd2")
    History.scd2Build(
      ev((1L, 1L, "a", 1000L), (1L, 2L, "b", 2000L), (2L, 1L, "x", 1000L)),
      "user_id", "event_type", "ts", "event_id", scd, nBuckets = 4)
    History.scd2Apply(spark, scd,
      ev((1L, 3L, "c", 3000L), (3L, 1L, "p", 5000L)),
      "user_id", "event_type", "ts", "event_id")
    val scdBefore = canon(History.scd2Read(spark, scd))
    History.scd2Compact(spark, scd)
    val scdSnap = Generations.snapshotIds(spark, scd).max
    assert(canon(History.scd2ReadAsOf(spark, scd, scdSnap,
      "user_id", "event_type", "ts", "event_id")) === scdBefore)
  }

  test("after two compactions a reader still resolves and reads the state of two commits ago") {
    val dir = tmp("snap")
    val half1 = docs.filter($"doc_id" % 4 === 0)
    val half2 = docs.filter($"doc_id" % 4 === 1)
    val half3 = docs.filter($"doc_id" % 4 === 2)
    val n1 = half1.count(); val n2 = half2.count(); val n3 = half3.count()
    Indexing.indexBuild(half1, "doc_id", "text", dir, nShards = 4)
    Indexing.indexAppend(half2, "doc_id", "text", dir) // snapshot: [g0]
    Indexing.indexCompact(spark, dir) // snapshot: [g0, g1]
    Indexing.indexAppend(half3, "doc_id", "text", dir) // snapshot: [c0]
    Indexing.indexCompact(spark, dir) // snapshot: [c0, g2]; retained: last 2
    assert(Generations.live(spark, dir) === Seq("c1"))
    val snaps = Generations.snapshotIds(spark, dir)
    assert(snaps.size === Generations.HistoryKeep)
    // oldest retained snapshot = the state right after the FIRST compact
    // (two commits ago): its generations survived the second compact's
    // sweep because the snapshot references them
    val gensThen = Generations.liveAt(spark, dir, snaps.min)
    assert(gensThen === Seq("c0"))
    val doclenThen = Generations.readSurface(spark, dir, "doclen", gensThen)
    assert(doclenThen.count() === n1 + n2, "time-travel read sees the pre-append corpus")
    // newest retained snapshot = the pre-second-compact state
    val gensPrev = Generations.liveAt(spark, dir, snaps.max)
    assert(gensPrev.toSet === Set("c0", "g2"))
    assert(Generations.readSurface(spark, dir, "doclen", gensPrev).count()
      === n1 + n2 + n3)
    // resolving a pruned snapshot fails fast with the retained list
    val e = intercept[IllegalArgumentException] {
      Generations.liveAt(spark, dir, snaps.min - 1)
    }
    assert(e.getMessage.contains("retained"))
  }
}
