package perfbench

/** The closed loop: one client thread runs a workload's operations pass by
  * pass and times each one. Nothing here depends on Spark, so the failure
  * and ordering rules are testable on plain functions.
  *
  * An operation's timed part returns its output check, which runs after the
  * clock has stopped. An operation fails if the timed part throws or if the
  * check reports a mismatch. A failed operation is left out of the latency
  * samples, and the pass it ran in is flagged so its wall time is never
  * credited.
  */
object Harness {

  /** Runs after the clock stops, in every pass. With `verify` it compares
    * the output and returns `None` when it matches, else what differs;
    * without, it only does the operation's housekeeping. */
  type Check = Boolean => Option[String]

  /** One operation. `run` is the timed region; the phase hook lets it mark
    * its build and exec phases for tracing. */
  trait Op {
    def name: String
    def run(phase: Phase): Check
  }

  /** Marks a named phase of the running operation. */
  trait Phase {
    def apply[A](name: String)(body: => A): A
  }

  /** Callbacks around each operation; the tracer hooks in here. */
  trait Hooks extends Phase {
    def beforeOp(seq: Long, pass: Int, name: String): Unit = ()
    /** Called with the timed region's bounds, before the check runs. */
    def afterTimed(seq: Long, startNs: Long, endNs: Long): Unit = ()
    def afterOp(seq: Long): Unit = ()
    def beforePass(pass: Int): Unit = ()
    def afterPass(pass: Int): Unit = ()
  }

  object NoHooks extends Hooks {
    def apply[A](name: String)(body: => A): A = body
  }

  final case class OpRun(seq: Long, name: String, seconds: Double, error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  final case class PassRun(index: Int, ops: Vector[OpRun]) {
    def failures: Int = ops.count(!_.ok)
    def flagged: Boolean = failures > 0
    /** Sum of the timed regions: checks and housekeeping are excluded. */
    def wall: Double = ops.map(_.seconds).sum
  }

  /** The pass order: a seeded shuffle, a different one for every pass. */
  def order[T](items: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)

  private def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
    s"${e.getClass.getSimpleName}: ${msg.take(300)}"
  }

  /** Passes whose outputs are checked: the cold pass and the first steady
    * pass, so every operation is checked both building and serving. A
    * check re-executes the query, as costly as the operation itself, so
    * checking later passes too would halve the samples a run can take. An
    * operation that throws fails in every pass. */
  val CheckedPasses = 2

  /** Runs one pass over `ops` in the given order. */
  def runPass(index: Int, ops: Seq[Op], hooks: Hooks, nextSeq: () => Long): PassRun = {
    hooks.beforePass(index)
    val runs = ops.map { op =>
      val seq = nextSeq()
      hooks.beforeOp(seq, index, op.name)
      val t0 = System.nanoTime()
      val outcome: Either[Throwable, Check] =
        try Right(op.run(hooks)) catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      hooks.afterTimed(seq, t0, t1)
      val error = outcome match {
        case Left(e) => Some(describe(e))
        case Right(check) =>
          try hooks("check")(check(index < CheckedPasses))
          catch { case e: Throwable => Some("check: " + describe(e)) }
      }
      hooks.afterOp(seq)
      OpRun(seq, op.name, (t1 - t0) / 1e9, error)
    }.toVector
    hooks.afterPass(index)
    PassRun(index, runs)
  }

  /** Pass 0 is the cold pass, then `steadyPasses` steady passes. The count
    * is fixed per run, not read off a clock: steady passes keep getting
    * faster as the JIT warms, so a count that varied with timing made the
    * medians jump between runs. */
  def runAll(ops: Seq[Op], seed: Long, steadyPasses: Int, hooks: Hooks,
      between: Int => Unit = _ => ()): Vector[PassRun] = {
    var seq = 0L
    val next = () => { seq += 1; seq }
    (0 to steadyPasses).map { p =>
      val r = runPass(p, order(ops, seed, p), hooks, next)
      between(p)
      r
    }.toVector
  }

  /** The end-to-end figures of one run. */
  final case class Summary(attempted: Int, failed: Int, coldS: Option[Double],
      passS: Option[Double], opP50S: Option[Double], tail: Option[Stats.Tail],
      steadyPasses: Int, creditedPasses: Int)

  def summarize(passes: Vector[PassRun]): Summary = {
    val cold = passes.head
    val steady = passes.tail
    val credited = steady.filterNot(_.flagged)
    val samples = steady.flatMap(_.ops.filter(_.ok).map(_.seconds))
    Summary(
      attempted = passes.map(_.ops.size).sum,
      failed = passes.map(_.failures).sum,
      coldS = if (cold.flagged) None else Some(cold.wall),
      passS = if (credited.isEmpty) None else Some(Stats.median(credited.map(_.wall))),
      opP50S = if (samples.isEmpty) None else Some(Stats.median(samples)),
      tail = if (samples.isEmpty) None else Some(Stats.tail(samples)),
      steadyPasses = steady.size,
      creditedPasses = credited.size)
  }
}
