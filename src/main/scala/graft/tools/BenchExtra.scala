package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/**
 * Weather-calibrated per-query micro-bench (guide §1.4): for each selected
 * SparkEntry query, runs `SPARK_GRAFT_REPS` reps (default 5) of the
 * computation into the noop sink, reporting per rep
 *   - wall seconds,
 *   - Σ executor CPU seconds (contention-robust: ambient CPU theft inflates
 *     walls much more than consumed CPU),
 *   - Σ executor run seconds and Spark job count (the fixed-overhead
 *     signal: every driver-synced job pays scheduling + tail latency),
 *   - a short Burn wall before the rep, on as many threads as the session
 *     has task slots (ambient marker — read walls against it).
 *
 * This is a SEPARATE main from the frozen graft.Bench (the driver harness);
 * its numbers are cited in OPTIMIZATION_r07.md as isolation evidence only.
 * Session config mirrors Bench exactly (local[cpus], shuffle=cpus, AQE on,
 * tmpfs spark.local.dir) so plan shapes match the graded run.
 *
 * Usage: runMain graft.tools.BenchExtra [q03_...,q22_...|all] [sfDir]
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val subset: Option[Set[String]] =
      if (args.nonEmpty && args(0).nonEmpty && args(0) != "all") Some(args(0).split(",").toSet)
      else None
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = graft.Sessions.toolCores
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val localDir =
      if (new java.io.File("/dev/shm").isDirectory) {
        val d = new java.io.File("/dev/shm/graft-shuffle-extra")
        d.mkdirs(); d.getAbsolutePath
      } else System.getProperty("java.io.tmpdir")
    val spark = graft.Sessions.local(cpus,
      "spark.local.dir" -> localDir, "spark.sql.shuffle.partitions" -> cpus.toString)

    // per-window job/task accounting
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val trace = sys.env.get("SPARK_GRAFT_TRACE").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        runMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        cpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
        if (trace) {
          val m = sc.stageInfo.taskMetrics
          println(f"TRACE stage=${sc.stageInfo.stageId} tasks=${sc.stageInfo.numTasks} " +
            f"run=${m.executorRunTime / 1e3}%.2f cpu=${m.executorCpuTime / 1e9}%.2f " +
            f"gc=${m.jvmGCTime / 1e3}%.2f deser=${m.executorDeserializeTime / 1e3}%.2f " +
            f"name=${sc.stageInfo.name.takeWhile(_ != '\n').take(80)}")
        }
      }
    })

    def burn(): Double = {
      // ambient marker: same 4-chain ALU mix as Burn, two chunks per thread
      // of a pool as wide as the session's task slots
      val threads = spark.sparkContext.defaultParallelism
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val t0 = System.nanoTime()
        val futs = (0 until 2 * threads).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var a = 0x9E3779B97F4A7C15L; var i = 0L
            var b = 0xC2B2AE3D27D4EB4FL; var c = 0x165667B19E3779F9L; var d = 0x27D4EB2F165667C5L
            while (i < 30000000L) {
              a = a * 6364136223846793005L + 1442695040888963407L; a ^= a >>> 33
              b = b * 6364136223846793005L + 1442695040888963407L; b ^= b >>> 29
              c = c * 6364136223846793005L + 1442695040888963407L; c ^= c >>> 31
              d = d * 6364136223846793005L + 1442695040888963407L; d ^= d >>> 27
              i += 1
            }
            a ^ b ^ c ^ d
          }
        }))
        futs.foreach(_.get())
        (System.nanoTime() - t0) / 1e9
      } finally pool.shutdown()
    }

    val sel = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    // one warmup pass (JIT/page cache), excluded
    try graft.SparkEntry.queries("q01_doc_stats")(spark, sfDir).count() catch { case _: Throwable => }
    sel.foreach { case (name, fn) =>
      val rows = (1 to reps).map { r =>
        val amb = burn()
        jobs.set(0); runMs.set(0); cpuNs.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        // release leftover checkpoint blocks so reps are independent
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        (w, cpuNs.get / 1e9, runMs.get / 1e3, jobs.get, amb)
      }
      def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      val best = rows.minBy(_._1)
      println(s"EXTRA $name min_wall=${f(best._1)} cpu@min=${f(best._2)} run@min=${f(best._3)} " +
        s"jobs=${best._4} walls=[${rows.map(r => f(r._1)).mkString(",")}] " +
        s"cpus=[${rows.map(r => f(r._2)).mkString(",")}] burn=[${rows.map(r => f(r._5)).mkString(",")}]")
    }
    spark.stop()
  }
}
