package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. `run.py` builds the classpath and calls
  *
  * {{{
  * perfbench.Main run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --cores <n> --data <dir> --expected <file> --root <dir> [--trace-out <file>]
  * perfbench.Main record --from <dir> --out <file>
  * }}}
  *
  * `run` prints one detail line and then, as the last line, the result
  * object. `record` writes the expected output signatures from a `graft.Verify`
  * dump whose outputs have passed the DuckDB oracle.
  */
object Main {

  private def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => sys.exit(run(opts(args.toSeq.tail)))
    case Some("record") => record(opts(args.toSeq.tail))
    case _ =>
      System.err.println("usage: perfbench.Main run|record --key value ...")
      sys.exit(2)
  }

  def session(cores: Int, root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** Heap in use after full collections; the pause lets Spark's cleaner
    * release what the first collection made unreachable. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Session set-ups per run. The first is timed from JVM start
    * (`jvm_ready_s` in the detail line); the median of the others, each a
    * session rebuilt in the warm JVM, is `setup_s`. */
  val SetupRepeats = 5

  def run(o: Map[String, String]): Int = {
    val workload = o("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val cores = o.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val dataDir = Paths.get(o("data")).toAbsolutePath
    val root = Paths.get(o("root")).toAbsolutePath
    val fixtures = root.resolve("fixtures")

    // ---- set-up: session and one warm-up action, repeated ----
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def setupOnce(): SparkSession = {
      val spark = session(cores, root)
      spark.read.parquet(dataDir.resolve("nation.parquet").toString)
        .groupBy("n_regionkey").count().write.format("noop").mode("overwrite").save()
      spark
    }
    var spark = setupOnce()
    val jvmReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setups = (2 to SetupRepeats).map { _ =>
      stop(spark)
      val t0 = System.nanoTime()
      spark = setupOnce()
      (System.nanoTime() - t0) / 1e9
    }

    // the fixture is harness work, so it is timed apart from the set-up
    val f0 = System.nanoTime()
    val expectedEtl =
      if (workload == "etl_weather") WeatherFixture.write(fixtures, seed) else Map.empty[String, Long]
    val fixtureS = (System.nanoTime() - f0) / 1e9

    // ---- operations ----
    val inputBytes = Tracer.du(dataDir)._1
    val tracer = if (trace) Some(new Tracer(spark, cores,
      Paths.get(System.getProperty("java.io.tmpdir")), inputBytes)) else None
    val note: (String, Double) => Unit = (k, v) => tracer.foreach(_.note(k, v))
    val ops: Seq[Harness.Op] = workload match {
      case "etl_weather" =>
        Seq(Workloads.etlOp(spark, fixtures, root.resolve("etl"), expectedEtl, note))
      case "stateful" =>
        val expected = Checksum.load(Paths.get(o("expected")))
        Workloads.Stateful.map(q =>
          Workloads.queryOp(spark, dataDir.toString, q, expected.get(q)))
    }

    System.gc()
    val passes = Harness.runAll(ops, seed, Workloads.steadyPasses(seconds),
      tracer.getOrElse(Harness.NoHooks), _ => System.gc())
    val heapMb = liveHeapMb()
    tracer.foreach(_.finish(heapMb * 1024 * 1024))
    val sum = Harness.summarize(passes)

    val e2e: Seq[(String, Option[Double], String)] = Seq(
      ("setup_s", Some(Stats.median(setups)), "s"),
      ("cold_s", sum.coldS, "s"),
      ("pass_s", sum.passS, "s"),
      ("op_p50_s", sum.opP50S, "s"),
      ("op_tail_s", sum.tail.map(_.value), "s"),
      ("heap_live_mb", Some(heapMb), "MB"))

    val steadyCredited = passes.tail.filterNot(_.flagged).sortBy(_.wall)
    val medianPass = steadyCredited.lift((steadyCredited.size - 1) / 2)
    val layer: Seq[(String, Option[Double], String)] = tracer.toSeq.flatMap { t =>
      val cold = t.passMetrics(passes.head)
      val steady = medianPass.map(t.passMetrics)
      cold.keys.toSeq.sorted.flatMap { k =>
        Seq((s"cold.$k", Some(cold(k)), Units.of(k)),
          (s"steady.$k", steady.map(_(k)), Units.of(k)))
      }
    }

    tracer.foreach { t =>
      o.get("trace-out").foreach { out =>
        val spans = t.spans
        val perPass = passes.map { p =>
          val (byPhase, total) = t.jobCounts(p)
          val seqs = p.ops.map(_.seq).toSet
          Json.obj(Seq(
            "pass" -> p.index.toString,
            "wall_s" -> Json.num(p.wall),
            "flagged" -> p.flagged.toString,
            "jobs_by_phase" -> Json.obj(byPhase.toSeq.sorted.map { case (k, v) => k -> v.toString }),
            "jobs_total" -> total.toString,
            "self_s" -> Json.obj(Span.selfTime(Span.timed(spans).filter(s => seqs(s.op)))
              .toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
        }
        val rec = Json.obj(Seq(
          "workload" -> Json.str(workload), "seed" -> seed.toString, "cores" -> cores.toString,
          "end_to_end" -> Json.obj(e2e.map { case (k, v, _) => k -> Json.num(v.getOrElse(Double.NaN)) }),
          "per_layer" -> Json.obj(layer.map { case (k, v, _) => k -> Json.num(v.getOrElse(Double.NaN)) }),
          "median_steady_pass" -> medianPass.map(_.index.toString).getOrElse("null"),
          "passes" -> Json.arr(perPass),
          "misnested_spans" -> Span.misnested(spans).size.toString,
          "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
            "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
            "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
            "start" -> Json.num(s.start), "end" -> Json.num(s.end)))))))
        Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
        Files.writeString(Paths.get(out), rec + "\n")
      }
      t.close()
    }
    stop(spark)

    val reported = if (trace) layer else e2e
    val failures = passes.flatMap(p => p.ops.filterNot(_.ok).map(r =>
      Json.obj(Seq("pass" -> p.index.toString, "op" -> Json.str(r.name),
        "error" -> Json.str(r.error.get)))))
    val detail = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "cores" -> cores.toString,
      "trace" -> trace.toString,
      "jvm_ready_s" -> Json.num(jvmReadyS),
      "setups_s" -> Json.arr(setups.map(Json.num)),
      "fixture_s" -> Json.num(fixtureS),
      "pass_walls_s" -> Json.arr(passes.map(p => Json.num(p.wall))),
      "op_s" -> Json.obj(passes.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).map {
        case (n, rs) => n -> Json.arr(rs.map(r => Json.num(r.seconds))) }),
      "flagged_passes" -> Json.arr(passes.filter(_.flagged).map(_.index.toString)),
      "fail_ratio" -> Json.num(sum.failed.toDouble / math.max(1, sum.attempted)),
      "op_tail_pct" -> Json.num(sum.tail.map(_.pct).getOrElse(Double.NaN)),
      "op_tail_samples" -> sum.tail.map(_.samples.toString).getOrElse("0"),
      "op_tail_beyond" -> sum.tail.map(_.beyond.toString).getOrElse("0"),
      "failures" -> Json.arr(failures)))
    println(Json.obj(Seq("detail" -> detail)))
    val correct = sum.failed == 0 && reported.forall(_._2.isDefined)
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> sum.attempted.toString,
      "failed" -> sum.failed.toString,
      "metrics" -> Json.obj(reported.map { case (k, v, unit) =>
        k -> Json.obj(Seq("value" -> Json.num(v.getOrElse(Double.NaN)), "unit" -> Json.str(unit)))
      }))))
    0
  }

  /** Expected signatures from a `graft.Verify` dump: one parquet directory
    * per query. */
  def record(o: Map[String, String]): Unit = {
    val from = Paths.get(o("from"))
    val root = Files.createTempDirectory("perfbench-record")
    val spark = session(Runtime.getRuntime.availableProcessors, root)
    val names = Files.list(from).toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isDirectory(p)).map(_.getFileName.toString).sorted
    val lines = names.map(n => Checksum.of(spark.read.parquet(from.resolve(n).toString)).line(n))
    Files.writeString(Paths.get(o("out")),
      "# query\trows\trow-hash sum\tfloat column=sum:non-null count ...\n" +
        lines.mkString("", "\n", "\n"))
    stop(spark)
    deleteTree(root)
  }
}

/** Units of the per-layer figures, from their names. */
object Units {
  def of(metric: String): String = metric match {
    case m if m.endsWith("_s") || m.startsWith("task_s.") => "s"
    case m if m.endsWith("_mb") || m.endsWith("_mb_per_pass") => "MB"
    case m if m.endsWith("busy_ratio") || m.endsWith("_per_input_byte") => "ratio"
    case m if m.endsWith("_rows") || m.endsWith("rows_in") || m.endsWith("rows_kept") => "rows"
    case m if m.endsWith("_files") => "files"
    case _ => "count"
  }
}
