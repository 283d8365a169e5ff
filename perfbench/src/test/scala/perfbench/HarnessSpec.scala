package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.Harness.{Check, Op, Phase}

class HarnessSpec extends AnyFunSuite {

  private def op(n: String, sleepMs: Long = 0, fail: Boolean = false,
      mismatch: Boolean = false): Op = new Op {
    val name: String = n
    def run(phase: Phase): Check = {
      phase("exec") { if (sleepMs > 0) Thread.sleep(sleepMs) }
      if (fail) throw new IllegalStateException("injected")
      verify => if (verify && mismatch) Some("rows 1 != 2") else None
    }
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 90.0 && t.pct == 90.0 && t.samples == 100 && t.beyond == 10)
    assert(xs.count(_ > t.value) == 10)
    val big = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(big).pct == 99.0)
    assert(big.count(_ > Stats.tail(big).value) == 10)
    // 21 samples: the eleventh is the highest rank with ten above it
    assert(Stats.tail((1 to 21).map(_.toDouble)).value == 11.0)
  }

  test("tail: below 21 samples it falls back to the median, never under it") {
    val t = Stats.tail(Seq(5.0, 1.0, 3.0))
    assert(t.value == 3.0 && t.pct == 50.0 && t.beyond == 1)
    assert(Stats.tail(Seq(1.0, 2.0, 3.0, 4.0)).value == 2.5)
    val twelve = (1 to 12).map(_.toDouble)
    assert(Stats.tail(twelve).value == Stats.median(twelve))
  }

  test("the same seed gives the same operation order, passes differ") {
    val names = (1 to 40).map(i => s"q$i")
    assert(Harness.order(names, 7, 3) == Harness.order(names, 7, 3))
    assert(Harness.order(names, 7, 3).sorted == names.sorted)
    assert(Harness.order(names, 7, 3) != Harness.order(names, 8, 3))
    assert(Harness.order(names, 7, 3) != Harness.order(names, 7, 4))
  }

  test("a throwing operation counts as a failure and no time is credited") {
    val ops = Seq(op("a", sleepMs = 5), op("boom", fail = true), op("c", sleepMs = 5))
    val passes = Harness.runAll(ops, seed = 1, steadyPasses = 1, Harness.NoHooks)
    assert(passes.size == 2) // the cold pass and one steady pass
    assert(passes.forall(_.flagged))
    val s = Harness.summarize(passes)
    assert(s.attempted == 6 && s.failed == 2)
    assert(s.coldS.isEmpty && s.passS.isEmpty && s.creditedPasses == 0)
    // latency samples hold the two good operations of the steady pass only
    assert(s.tail.get.samples == 2)
    assert(passes.flatMap(_.ops).filter(_.name == "boom").forall(_.error.get.contains("injected")))
  }

  test("one injected failure: one failure, its pass not credited, the rest is") {
    var calls = 0
    val flaky = new Op {
      val name = "flaky"
      def run(phase: Phase): Check = {
        calls += 1
        if (calls == 2) throw new RuntimeException("second call fails")
        _ => None
      }
    }
    val passes = Harness.runAll(Seq(flaky, op("b")), seed = 3, steadyPasses = 1, Harness.NoHooks)
    val s = Harness.summarize(passes)
    assert(s.failed == 1)
    assert(passes.count(_.flagged) == 1)
    assert(s.coldS.isDefined == !passes.head.flagged)
    assert(s.creditedPasses == passes.tail.count(!_.flagged))
  }

  test("an output mismatch is a failure too, in the passes that are checked") {
    val passes = Harness.runAll(Seq(op("m", mismatch = true)), 1, 2, Harness.NoHooks)
    assert(Harness.summarize(passes).failed == Harness.CheckedPasses)
    assert(passes.head.ops.head.error.contains("rows 1 != 2"))
    assert(!passes.last.flagged) // pass 2 is timed but not compared
  }

  test("call sites map to the module of the first graft frame") {
    val viaOperator =
      """org.apache.spark.sql.Dataset.count(Dataset.scala:1)
        |graft.operators.Dedup$.clusters(Dedup.scala:120)
        |graft.queries.CorpusQueries$.$anonfun$entries$3(CorpusQueries.scala:40)""".stripMargin
    assert(Modules.of(viaOperator, streamingJob = false) == "operators")
    assert(Modules.of("app//graft.io.ResultStore$.overwrite(ResultStore.scala:9)", false) == "io")
    assert(Modules.of("graft.analytics.WeatherAnalytics$.x(W.scala:1)", false) == "analytics")
    assert(Modules.of("graft.Tables$.table(Tables.scala:39)", false) == "other")
    assert(Modules.of("graft.plans.Rule.apply(Rule.scala:3)", false) == "other")
    assert(Modules.of("perfbench.Workloads$$anon$1.run(Workloads.scala:44)", false) == "other")
    assert(Modules.of("graft.operators.Dedup$.clusters(Dedup.scala:120)", streamingJob = true) ==
      "streaming")
    // a helper thread's stack has no graft frame: the SQL execution's call site decides
    val helper = "java.util.concurrent.FutureTask.run(FutureTask.java:264)"
    assert(Modules.of(helper, false, Some("operators")) == "operators")
    assert(Modules.of(helper, false) == "other")
    assert(Modules.of("graft.io.Catalog$.x(Catalog.scala:5)", false, Some("operators")) == "io")
  }

  test("self time and nesting of spans") {
    val spans = Seq(
      Span(1, 0, 1, "op", "q", 0, 100),
      Span(2, 1, 1, "phase", "build", 0, 40),
      Span(3, 1, 1, "phase", "exec", 40, 100),
      Span(4, 3, 1, "job", "j", 50, 90),
      Span(5, 4, 1, "stage", "s1", 50, 70),
      Span(6, 4, 1, "stage", "s2", 60, 80),
      Span(7, 0, 1, "phase", "check", 100, 120),
      Span(8, 7, 1, "job", "jc", 101, 119))
    val self = Span.selfTime(Span.timed(spans))
    assert(self("op") == 0.0)
    assert(self("phase") == (40 + 20) / 1000.0)
    assert(self("job") == 10 / 1000.0)
    assert(self("stage") == 40 / 1000.0)
    assert(Span.timed(spans).map(_.id).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(Span.misnested(spans).isEmpty)
    assert(Span.misnested(spans :+ Span(9, 3, 1, "job", "late", 95, 130)).map(_.id) == Seq(9L))
  }
}
