package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's entry point. One invocation runs one workload:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *        [--spans <file>]
 *
 * `--trace 0` prints the end-to-end metrics; `--trace 1` prints the
 * per-layer metrics from spans and scheduler events. The last stdout line is
 * the result object; a failed output check sets `correct` to false and the
 * exit code to 1.
 */
object Main {
  val SetupReps = 3
  val MinRecall = 0.99

  final class Run(val w: Workload) {
    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer.empty[String]
    private var reference: Option[String] = None

    /** One round of operations, checked: recall against the planted truth,
      * and counts identical to the first timed round of this seed. A `warm`
      * round is checked but its operations are not timed. */
    def attempt(i: Int, span: (String, => OpResult) => OpResult,
                warm: Boolean = false): Seq[OpResult] =
      try {
        val rs = w.round(i, span).map(r => if (warm) r.copy(warm = true) else r)
        attempted += rs.size
        println(s"[perfbench] round $i: " +
          rs.map(r => f"${r.wallS}%.3f").mkString(" ") + s" ${rs.headOption.map(_.counts).getOrElse("")}")
        rs.filter { r =>
          val problem =
            if (!(r.recall >= MinRecall)) Some(f"truth_recall ${r.recall}%.4f < $MinRecall")
            else if (!r.warm && reference.exists(_ != r.counts))
              Some(s"counts ${r.counts} != ${reference.get}")
            else None
          if (!r.warm && reference.isEmpty) reference = Some(r.counts)
          problem.foreach { p => failed += 1; failures += s"op $i: $p" }
          problem.isEmpty
        }
      } catch {
        case e: Throwable =>
          attempted += 1
          failed += 1
          failures += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          Nil
      }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.builder(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")

    val run = new Run(Workloads(workload, Ctx(spark, seed, work)))
    val metrics =
      try {
        if (traced) tracedRun(spark, run, cores, workload, work, opt.get("spans"))
        else untracedRun(run, seconds)
      } catch {
        case e: Throwable =>
          run.failed += 1
          run.attempted += 1
          run.failures += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          Map.empty[String, (Double, String)]
      }
    spark.stop()

    run.failures.foreach(f => println(s"[perfbench] FAILED $f"))
    val correct = run.failed == 0 && metrics.nonEmpty &&
      metrics.values.forall { case (v, _) => !v.isNaN && !v.isInfinite }
    val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, unit)) =>
      s""""$k": {"value": ${java.lang.Double.toString(v)}, "unit": "$unit"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1, run.attempted)}, """ +
      s""""failed": ${run.failed}, "metrics": {$body}}""")
    sys.exit(if (correct) 0 else 1)
  }

  private def untracedRun(run: Run, seconds: Double): Map[String, (Double, String)] = {
    import Workloads.time
    val plain: (String, => OpResult) => OpResult = (_, body) => body
    val setups = (0 until SetupReps).map(_ => time(run.w.setup())._2)
    val checked = ArrayBuffer.empty[OpResult]
    if (run.w.warmUpRound) checked ++= run.attempt(0, plain, warm = true)
    val t0 = System.nanoTime()
    var i = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      checked ++= run.attempt(i, plain)
      i += 1
    }
    val ops = checked.filterNot(_.warm).toSeq
    require(ops.nonEmpty, "no timed operation succeeded")
    val walls = ops.map(_.wallS)
    println(s"[perfbench] ${run.w.name}: setups ${setups.mkString(" ")} timed ops ${walls.size}")
    Map(
      "setup_s" -> (Stats.median(setups) -> "s"),
      "op_p50_s" -> (Stats.median(walls) -> "s"),
      "docs_per_s" -> (ops.map(_.docs).sum / walls.sum -> "1/s"),
      "truth_recall" -> (checked.map(_.recall).min -> "ratio"))
  }

  private def tracedRun(spark: SparkSession, run: Run, cores: Int,
                        workload: String, work: String, spansOut: Option[String])
      : Map[String, (Double, String)] = {
    val accum = AccumErrors.attach()
    val tracer = new Tracer(spark, workload)
    val stats = new SchedulerStats
    spark.sparkContext.addSparkListener(stats)
    tracer.span("setup")(run.w.setup())
    if (run.w.warmUpRound)
      tracer.span("warmup")(run.attempt(0, (_, body) => body, warm = true))
    tracer.rep = 1
    val ops = tracer.span("round")(run.attempt(1, (_, body) => tracer.span("op")(body)))
      .filterNot(_.warm)
    require(ops.nonEmpty, "no traced operation succeeded")
    tracer.rep = 0

    // scheduler counters per timed operation
    val opSpans = tracer.named("op")
    val opJobs = stats.jobs(spark).filter(j => tracer.owner(j).exists(opSpans.contains))
    val nOps = opSpans.size.toDouble
    val cpuS = opJobs.map(_.cpuNs).sum / 1e9
    val scheduler = Map(
      "spark.jobs" -> (opJobs.size / nOps -> "count"),
      "spark.tasks" -> (opJobs.map(_.tasks).sum / nOps -> "count"),
      "spark.exec_cpu_s" -> (cpuS / nOps -> "s"),
      "spark.core_util" -> (cpuS / (opSpans.map(_.durS).sum * cores) -> "ratio"),
      "spark.shuffle_write_mb" -> (opJobs.map(_.shuffleWriteB).sum / 1e6 / nOps -> "MB"),
      "spark.spill_mb" -> (opJobs.map(_.spillB).sum / 1e6 / nOps -> "MB"),
      "spark.gc_s" -> (opJobs.map(_.gcMs).sum / 1e3 / nOps -> "s"),
      "trace.op_p50_s" -> (Stats.median(ops.map(_.wallS)) -> "s"))

    val layers = tracer.span("layers") {
      new Layers(spark, tracer, stats, run.w.corpus, work).run() ++
        run.w.runLayer(tracer) ++ run.w.streamLayer(tracer)
    }
    val jobs = stats.jobs(spark)
    val unattributed = jobs.filterNot(j => tracer.owner(j).isDefined)
    spansOut.foreach(p => tracer.write(java.nio.file.Paths.get(p)))
    println(s"[perfbench] ${run.w.name}: ${tracer.spans.size} spans, ${jobs.size} jobs, " +
      s"${unattributed.size} outside any span (${unattributed.map(_.wallS).sum} s)")
    scheduler ++ layers.map { case (k, v) => k -> (v -> Units.of(k)) } ++ Map(
      "spark.unattributed_jobs" -> (unattributed.size.toDouble -> "count"),
      "host.peak_rss_mb" -> (Host.peakRssMb -> "MB"),
      "spark.accum_errors" -> (accum.count.get.toDouble -> "count"),
      "trace.self_s" -> ((tracer.selfNs + stats.selfNs) / 1e9 -> "s"))
  }
}

/** Units of the per-layer readings, from their names. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb") || name.endsWith("_mb_per_batch")) "MB"
    else if (name.endsWith(".par")) "ratio"
    else if (Seq("yield", "ratio", "completeness", "coverage").exists(name.endsWith)) "ratio"
    else "count"
}
