package graft

import graft.operators.Components
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for connected components (dup-cluster resolution): multi-hop
  * chains merge, isolated vertices self-label, the result is
  * partitioning-independent, and the labelling matches a local union-find
  * on a random graph — plus the fail-fast on an unconverged run. The
  * driver union-find path (graphs within `spark.graft.cc.driverMaxBatch`)
  * and the distributed rounds (forced by setting that bound to 0) return
  * identical labellings; the cases written for the rounds pin them.
  */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val boundKey = "spark.graft.cc.driverMaxBatch"

  /** `body` with the driver-path bound set to `n` rows. */
  private def withBound[T](n: Long)(body: => T): T = {
    spark.conf.set(boundKey, n.toString)
    try body finally spark.conf.unset(boundKey)
  }

  /** `body` on the distributed rounds only (the driver path off). */
  private def distributed[T](body: => T): T = withBound(0L)(body)

  private def cc(vs: Seq[Long], es: Seq[(Long, Long)], maxIter: Int = 20) =
    Components.connectedComponents(
      vs.toDF("id"), es.toDF("src", "dst"), maxIter)
      .as[(Long, Long)].collect().toMap

  /** Every (id, cluster_id) row, sorted, so duplicates would show. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "cluster_id").as[(Long, Long)].collect().toSeq.sorted

  /** The labelling of both paths for one graph: (driver, distributed). */
  private def bothPaths(vs: Seq[Long], es: Seq[(Long, Long)]) = {
    def run() = rowsOf(Components.connectedComponents(
      vs.toDF("id"), es.toDF("src", "dst")))
    (run(), distributed(run()))
  }

  private def randomGraph(seed: Int, n: Int, m: Int) = {
    val rnd = new scala.util.Random(seed)
    ((0L until n).toSeq,
      Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)))
  }

  /** Jobs started in `body`'s own job group. */
  private def jobsIn(body: => Unit): Int = {
    val group = s"cc-jobs-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.sql.graft.Bridge.drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  test("chain a-b-c-d merges into one cluster labelled by the min id") {
    val got = cc(Seq(1L, 2L, 3L, 4L, 9L), Seq((4L, 3L), (2L, 1L), (3L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
  }

  test("disjoint clusters keep distinct labels; direction and dups ignored") {
    val got = cc(Seq(1L, 2L, 3L, 10L, 11L),
      Seq((2L, 1L), (1L, 2L), (2L, 1L), (11L, 10L), (3L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 10L -> 10L, 11L -> 10L))
  }

  test("empty edge set: every vertex is its own cluster") {
    val got = cc(Seq(5L, 6L), Seq.empty)
    assert(got == Map(5L -> 5L, 6L -> 6L))
  }

  test("matches a local union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 200
    val vs = (0L until n).toSeq
    val es = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // local union-find reference
    val parent = Array.tabulate(n.toInt)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = vs.map(v => v -> {
      // min id in the component == root under min-union
      find(v.toInt).toLong
    }).toMap
    assert(cc(vs, es) == want)
  }

  test("result is invariant under input partitioning") {
    val vs = (0L until 12L).toSeq
    val es = (0L until 11L).map(i => (i, i + 1)) // one path: worst-case diameter
    def run() = Components.connectedComponents(
      vs.toDF("id").repartition(1), es.toDF("src", "dst").repartition(7), 16)
      .as[(Long, Long)].collect().toMap
    assert(distributed(run()) == vs.map(_ -> 0L).toMap)
    assert(run() == vs.map(_ -> 0L).toMap)
  }

  test("fails fast instead of returning an under-merged labelling") {
    // maxIter <= starAfter disables the star escape: strict fail-fast mode
    // of the distributed rounds (the driver union-find always converges)
    val vs = (0L until 20L).toSeq
    val es = (0L until 19L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      distributed(Components.connectedComponents(
        vs.toDF("id"), es.toDF("src", "dst"), 2, 8))
    }
    assert(e.getMessage.contains("no fixpoint"))
  }

  test("large-star/small-star escape converges on a 10k-vertex path graph") {
    // diameter 10k: plain propagation would need 10k rounds; the star
    // phase must close it in O(log n) rounds within the maxIter budget.
    // The driver path labels the same graph whatever the round budget.
    val n = 10000L
    def check(): Unit = {
      val vs = spark.range(n).toDF("id")
      val es = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1L).as("dst"))
      val got = Components.connectedComponents(vs, es, maxIter = 30, starAfter = 2)
      assert(got.filter(col("cluster_id") =!= 0L).isEmpty)
      assert(got.count() == n)
    }
    distributed(check())
    check()
  }

  test("star escape labelling equals plain propagation on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 300
    val vs = (0L until n).toSeq
    val es = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    distributed {
      val plain = cc(vs, es, maxIter = 20)
      // starAfter=1 forces the escape after a single propagation round
      val viaStars = Components.connectedComponents(
        vs.toDF("id"), es.toDF("src", "dst"), maxIter = 20, starAfter = 1)
        .as[(Long, Long)].collect().toMap
      assert(viaStars == plain)
    }
  }

  test("incremental CC equals batch CC on a random graph split") {
    val rnd = new scala.util.Random(11)
    val n = 240
    val vs = (0L until n).toSeq
    val es = Seq.fill(200)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // old = even vertices with their internal edges; new = odd vertices
    // with every edge touching an odd endpoint (the caller's contract)
    val oldEs = es.filter { case (a, b) => a % 2 == 0 && b % 2 == 0 }
    val newEs = es.filter { case (a, b) => a % 2 != 0 || b % 2 != 0 }
    def inc() = {
      val oldCC = Components.connectedComponents(
        vs.filter(_ % 2 == 0).toDF("id"), oldEs.toDF("src", "dst"))
      Components.connectedComponentsIncremental(oldCC,
        vs.filter(_ % 2 != 0).toDF("id"), newEs.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
    }
    assert(distributed(inc()) === distributed(cc(vs, es)),
      "incremental labelling must equal batch")
    assert(inc() === cc(vs, es), "incremental labelling must equal batch")
  }

  test("driver path equals the distributed rounds on random graphs") {
    for ((seed, n, m) <- Seq((1, 50, 30), (2, 200, 150), (3, 300, 400), (4, 120, 0))) {
      val (vs, es) = randomGraph(seed, n, m)
      val (drv, dist) = bothPaths(vs, es)
      assert(drv === dist, s"seed $seed")
    }
  }

  test("driver path equals the rounds on edge endpoints outside the vertex set") {
    // {0,2,3} holds one vertex (2): 0 and 3 are labelled 2, not the
    // component's min id; {7,8} holds none and is not emitted
    val vs = Seq(1L, 2L, 5L, 9L)
    val es = Seq((0L, 2L), (2L, 3L), (7L, 8L), (5L, 6L), (6L, 100L))
    val (drv, dist) = bothPaths(vs, es)
    assert(drv === dist)
    assert(drv.toMap === Map(0L -> 2L, 1L -> 1L, 2L -> 2L, 3L -> 2L,
      5L -> 5L, 6L -> 5L, 100L -> 5L, 9L -> 9L))
  }

  test("driver path equals the rounds on an isolated vertex and an empty edge set") {
    val isolated = bothPaths(Seq(1L, 2L, 3L, 42L), Seq((1L, 2L), (3L, 2L)))
    assert(isolated._1 === isolated._2)
    assert(isolated._1.toMap.apply(42L) == 42L)
    val empty = bothPaths(Seq(5L, 6L, 6L), Seq.empty)
    assert(empty._1 === empty._2)
    assert(empty._1 === Seq(5L -> 5L, 6L -> 6L))
  }

  test("incremental driver path equals the distributed rounds on a random split") {
    val (vs, es0) = randomGraph(23, 260, 220)
    val es = es0.filter { case (a, b) => a != b }
    val isNew = (v: Long) => v % 3 == 0
    val oldEs = es.filter { case (a, b) => !isNew(a) && !isNew(b) }
    val newEs = es.filter { case (a, b) => isNew(a) || isNew(b) }
    def inc() = rowsOf(Components.connectedComponentsIncremental(
      Components.connectedComponents(vs.filterNot(isNew).toDF("id"),
        oldEs.toDF("src", "dst")),
      vs.filter(isNew).toDF("id"), newEs.toDF("src", "dst")))
    val drv = inc()
    assert(drv === distributed(inc()))
    assert(drv === bothPaths(vs, es)._2, "incremental labelling must equal batch")
  }

  test("the driver-path bound is honoured: over it, the rounds run") {
    val vs = (1L to 6L).toSeq
    val es = Seq((1L, 2L), (2L, 3L), (4L, 5L))
    var small, over = Seq.empty[(Long, Long)]
    val smallJobs = jobsIn { small = rowsOf(Components.connectedComponents(
      vs.toDF("id"), es.toDF("src", "dst"))) }
    // N = 1: three edges exceed the bound, so the distributed rounds run
    val overJobs = withBound(1L) { jobsIn { over = rowsOf(
      Components.connectedComponents(vs.toDF("id"), es.toDF("src", "dst"))) } }
    assert(small === over)
    assert(overJobs > smallJobs, s"rounds ran $overJobs jobs, driver path $smallJobs")
  }

  test("fingerprintEdges: star edges point at group-min; short docs emit none") {
    val docs = Seq(
      (10L, "a b c d e f g h TAIL1 x y z p q r s t"), // prefix grp A, mid grp M1
      (11L, "a b c d e f g h TAIL2 j k l m n o u v"), // prefix grp A
      (12L, "zz b c d e f g h j k l m n o u v w"),    // mid grp of 11? no — differs
      (13L, "short doc")                              // < 8 tokens: no edges
    ).toDF("doc_id", "text")
    val es = Components.fingerprintEdges(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(es.contains((11L, 10L))) // 11 -> min of its prefix group
    assert(!es.exists(e => e._1 == 13L || e._2 == 13L))
    assert(es.forall { case (s, d) => s != d })
  }

  test("dupClusters: prefix+mid windows chain near-dups transitively") {
    // A≈B share the prefix window (tokens 1-8); B≈C share the mid window
    // (tokens 5-12): A and C share NOTHING directly but must co-cluster.
    val docs = Seq(
      (1L, "p1 p2 p3 p4 m1 m2 m3 m4 a1 a2 a3 a4 t1 t2"),
      (2L, "p1 p2 p3 p4 m1 m2 m3 m4 m5 m6 m7 m8 t3 t4"),
      (3L, "q1 q2 q3 q4 m1 m2 m3 m4 m5 m6 m7 m8 t5 t6"),
      (4L, "r1 r2 r3 r4 r5 r6 r7 r8 r9 ra rb rc rd re")
    ).toDF("doc_id", "text")
    val got = Components.dupClusters(docs, "doc_id", "text")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (4L, 4L, 1L)))
  }
}
