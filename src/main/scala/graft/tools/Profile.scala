package graft.tools

import graft.{Dedup, DedupConfig, Scope, Sessions, SparkEntry}
import graft.functions.Fns
import graft.operators.{ConnectedComponents, ExactSubstr, Lsh}
import graft.run.{Checkpoint, DedupMain, Metrics}
import graft.sources.{PagesGen, TestData}
import graft.streaming.StreamingDedup
import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/**
 * The profiler: every measurement outside the frozen `graft.Bench`.
 *
 *   runMain graft.tools.Profile <mode> [key=value …]
 *
 *   plans    `.explain("formatted")` of SparkEntry queries into
 *            <out>/<query>_<tag>.txt              queries out tag sf
 *   queries  per query: noop-sink walls, Σ executor CPU and run time, job
 *            count, a Burn ambient marker, phase table    queries reps sf
 *   stages   pipeline legs as fresh chains       sf | docs, reps, only
 *   scale    Dedup.dupPairs → CC on a PagesGen corpus        docs reps
 *   main     DedupMain.run from scratch                docs reps keepBest
 *   append   DedupMain day append vs from scratch      docs days keepBest
 *   stream   StreamingDedup.processBatch over hash batches
 *                                                   docs batches keepBest
 *
 * `queries` takes a comma-separated subset (default all); `sf` an sf dir
 * (TESTDATA.md); `docs` the PagesGen corpus size (default 60000, written
 * once under /tmp); `keepBest` an SQL score expression. Cores:
 * `SPARK_GRAFT_CPUS` (default: the host's). Over an sf dir the session
 * runs one shuffle partition per core, as graft.Bench does, so plan
 * shapes match the frozen bench's.
 *
 * Every timed measurement is one untimed warm run, then `reps` runs, each
 * from an empty block store, reported as min and all samples. One
 * listener accounts jobs, CPU and phases for every run.
 */
object Profile {
  private val Keys = Map(
    "plans" -> Set("queries", "out", "tag", "sf"),
    "queries" -> Set("queries", "reps", "sf"),
    "stages" -> Set("sf", "docs", "reps", "only"),
    "scale" -> Set("docs", "reps"),
    "main" -> Set("docs", "reps", "keepBest"),
    "append" -> Set("docs", "days", "keepBest"),
    "stream" -> Set("docs", "batches", "keepBest"))

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <mode> [key=value ...]; " +
      Keys.map { case (m, ks) => s"$m: ${ks.mkString(" ")}" }.mkString("; ")
    require(args.nonEmpty && Keys.contains(args(0)), usage)
    val kv = args.tail.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'; $usage")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cpus = Sessions.toolCores
    val dir = localDir()
    val onSf = Set("plans", "queries")(args(0)) || (args(0) == "stages" && !kv.contains("docs"))
    val spark = Sessions.local(cpus, Seq("spark.local.dir" -> dir,
      "spark.sql.warehouse.dir" -> s"$dir/warehouse") ++
      (if (onSf) Seq("spark.sql.shuffle.partitions" -> cpus.toString) else Nil): _*)
    try run(spark, args(0), kv) finally spark.stop()
  }

  /** Run one mode on `spark` (which the caller owns). */
  def run(spark: SparkSession, mode: String, kv: Map[String, String]): Unit = {
    val unknown = kv.keySet -- Keys.getOrElse(mode, Set.empty)
    require(Keys.contains(mode) && unknown.isEmpty,
      s"mode '$mode' takes ${Keys.getOrElse(mode, Set.empty).mkString(" ")}; unknown: ${unknown.mkString(" ")}")
    val listener = new PhaseListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val p = new Profile(spark, kv, listener)
      mode match {
        case "plans" => p.plans()
        case "queries" => p.queries()
        case "stages" => p.stages()
        case "scale" => p.scale()
        case "main" => p.dedupMain()
        case "append" => p.append()
        case "stream" => p.stream()
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Shuffle and stage files on tmpfs when there is one: local[N] puts all
    * N task threads on one disk, which caps measured thread scaling; a
    * cluster has a local disk set per executor. */
  private def localDir(): String =
    if (new java.io.File("/dev/shm").isDirectory) {
      val d = new java.io.File("/dev/shm/graft-profile")
      d.mkdirs(); d.getAbsolutePath
    } else System.getProperty("java.io.tmpdir")

  /** Release every persistent block (checkpoints, caches) so the next run
    * neither pays for nor reuses the previous run's blocks. */
  private def dropBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** `df` consumed through a hash of every output column: under a bare
    * `.count()` Catalyst prunes every projected expression, so a
    * fingerprint leg would time its scan. */
  private[tools] def consumed(df: DataFrame): DataFrame =
    df.agg(bit_xor(xxhash64(df.columns.toSeq.map(col): _*)), count(lit(1)))

  /** The `stages` legs: name → fresh chain over (doc_id, text) docs. */
  private[tools] def legs(cfg: DedupConfig): Seq[(String, DataFrame => DataFrame)] = {
    def sigs(d: DataFrame) = Lsh.signatures(Lsh.shingled(d, cfg), cfg)
    def salted(d: DataFrame) = Lsh.saltBandKeys(Lsh.minhashBandKeys(sigs(d), cfg), cfg)
    Seq[(String, DataFrame => DataFrame)](
      ("extract", d => d),
      ("shingles", d => Lsh.shingled(d, cfg)),
      ("minhash", d => sigs(d)),
      ("simhash", d => Lsh.simhashes(d, cfg)),
      // the facade's fingerprint pass: both per-doc fingerprints, one scan
      ("fingerprints", d => d.select(col("doc_id"),
        Fns.shingleHashes(col("text"), cfg).as("shingles"),
        Fns.simhash64(col("text"), cfg).as("simhash"))),
      ("band+salt", d => salted(d)),
      ("candidates", d => Lsh.candidatePairs(salted(d))),
      ("mh-family", d => Lsh.minhashDupPairs(d, cfg)),
      ("sh-family", d => Lsh.simhashDupPairs(d, cfg)),
      ("substr-gram", d => ExactSubstr.verifyExtend(
        ExactSubstr.candidates(ExactSubstr.gramIndex(d, cfg), cfg), d, cfg).toDF()),
      ("substr-shard", d => ExactSubstr.shardRepeats(d, cfg).toDF()),
      ("substr-family", d => ExactSubstr.substrDupPairs(d, cfg)),
      ("dupPairs", d => Dedup.dupPairs(d, cfg)),
      ("clusters", d => Dedup.clusters(d, cfg)))
  }

  final case class Rep[T](wall: Double, out: T, window: Window, marker: Double = 0.0)
  final case class Phase(label: String, jobs: Int, jobWall: Double, stageWall: Double,
                         runS: Double, cpuS: Double)
  final case class StageRow(label: String, scope: String, wall: Double, runS: Double,
                            cpuS: Double, tasks: Int)
  final case class Window(jobs: Long, runS: Double, cpuS: Double, phases: Seq[Phase],
                          stages: Seq[StageRow])

  private val Settle = "graft-profile:settle"

  /** Spark accounting for one measured window. Totals count every job and
    * stage; phases group jobs by their `spark.job.description` label
    * (`Scope.phase`). A phase's Σ job wall is its critical-path time:
    * stage walls overlap within a job, so their sum overstates it. */
  final class PhaseListener extends SparkListener {
    private val stageLabel = TrieMap[Int, String]()
    private val open = TrieMap[Int, (String, Long, Seq[Int])]()
    private val settleJobs = TrieMap[Int, Unit]()
    private val jobs = new ConcurrentLinkedQueue[(String, Double)]()
    private val stages = new ConcurrentLinkedQueue[StageRow]()
    private val started = new AtomicLong
    @volatile private var settled = new CountDownLatch(0)

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val label = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      if (label == Settle) settleJobs(js.jobId) = ()
      else {
        started.incrementAndGet()
        js.stageIds.foreach(stageLabel(_) = label)
        open(js.jobId) = (label, js.time, js.stageIds)
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      if (settleJobs.remove(je.jobId).isDefined) settled.countDown()
      else open.remove(je.jobId).foreach { case (label, t0, stageIds) =>
        jobs.add((label, (je.time - t0) / 1e3))
        stageIds.foreach(stageLabel.remove) // skipped stages never complete
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      stageLabel.remove(si.stageId).foreach { label =>
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield (c - s) / 1e3)
          .getOrElse(0.0)
        // stage identity beyond the all-identical action callsite: the
        // distinct RDD scope names inside it, root-most last
        val scope = si.rddInfos.sortBy(_.id)
          .flatMap(r => r.scope.map(_.name).orElse(Option(r.name))).distinct.takeRight(4).mkString("<")
        val m = si.taskMetrics
        stages.add(StageRow(label, scope, wall, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
          si.numTasks))
      }
    }

    def reset(): Unit = { jobs.clear(); stages.clear(); started.set(0) }

    /** Everything since `reset`. The bus delivers events asynchronously, so
      * this first waits for the end of a marker job: every event posted
      * before it has then reached this listener. */
    def window(spark: SparkSession): Window = {
      settled = new CountDownLatch(1)
      Scope.phase(spark, Settle)(spark.sparkContext.parallelize(Seq(0), 1).count())
      settled.await(60, TimeUnit.SECONDS)
      val js = jobs.asScala.toSeq
      val ss = stages.asScala.toSeq
      val phases = (js.map(_._1) ++ ss.map(_.label)).distinct.map { l =>
        val pj = js.filter(_._1 == l)
        val ps = ss.filter(_.label == l)
        Phase(l, pj.size, pj.map(_._2).sum, ps.map(_.wall).sum, ps.map(_.runS).sum, ps.map(_.cpuS).sum)
      }
      Window(started.get, ss.map(_.runS).sum, ss.map(_.cpuS).sum, phases, ss)
    }
  }

  private def f2(v: Double) = "%.2f".formatLocal(Locale.ROOT, v)
  private def arr(xs: Seq[Double]) = xs.map(f2).mkString("[", ",", "]")
}

/** The mode bodies over one caller-owned session. */
final class Profile private (spark: SparkSession, kv: Map[String, String],
                             listener: Profile.PhaseListener) {
  import Profile._

  private val cfg = DedupConfig.test
  private val cpus = spark.sparkContext.defaultParallelism
  private lazy val dir = localDir()
  private lazy val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
  // the ambient ceiling, measured when the JSON line is printed so it
  // reflects the window the walls ran in
  private lazy val burn = Burn.measure()

  private def int(k: String, default: Int) = kv.get(k).map(_.toInt).getOrElse(default)
  private def sf = kv.getOrElse("sf", sys.error("this mode needs sf=<sf dir>"))
  private def n = int("docs", 60000)
  private def keepBest = kv.get("keepBest")
  private def selected = {
    val subset = kv.get("queries").filter(q => q.nonEmpty && q != "all").map(_.split(",").toSet)
    val unknown = subset.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (q, _) => subset.forall(_.contains(q)) }
  }

  /** The deterministic PagesGen corpus of `n` docs, written once (64 files,
    * so every parallelism level sees ≥ 64 input splits). */
  private def corpus(n: Int): String = {
    val path = s"/tmp/graft_scale_corpus_$n"
    if (!new java.io.File(path + "/_SUCCESS").exists())
      PagesGen.pages(spark, n, cfg).toDF().repartition(64).write.mode("overwrite").parquet(path)
    path
  }

  /** An empty DedupMain root: its directory and its bucketed stage tables
    * (which live in the warehouse, where a stale LOCATION from an earlier
    * JVM blocks saveAsTable) are gone. */
  private def freshRoot(root: String): String = {
    fs.delete(new Path(root), true)
    Seq("shingled", "signatures", "band_keys").foreach { st =>
      val tbl = Checkpoint.bucketedTableName(root, st)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      fs.delete(new Path(s"$dir/warehouse/$tbl"), true)
    }
    root
  }

  /** One run of `body` with its jobs labelled `graft:<label>` (phases the
    * body labels itself keep their own label). */
  private def measure[T](label: String)(body: => T): Rep[T] = {
    listener.reset()
    val t0 = System.nanoTime()
    val out = Scope.phase(spark, s"graft:$label")(body)
    val wall = (System.nanoTime() - t0) / 1e9
    Rep(wall, out, listener.window(spark))
  }

  /** One warm run (JIT, codegen, page cache), then `reps` runs, each
    * followed by `dropBlocks`; `marker` is taken before each timed run. */
  private def timed[T](label: String, reps: Int, marker: => Double = 0.0)(body: => T): Seq[Rep[T]] =
    (0 to reps).map { i =>
      val m = if (i > 0) marker else 0.0
      val r = measure(label)(body).copy(marker = m)
      dropBlocks(spark)
      r
    }.tail

  /** The min-wall line of `reps` and that run's phase table. */
  private def report[T](tag: String, name: String, reps: Seq[Rep[T]], extra: String = ""): Rep[T] = {
    val best = reps.minBy(_.wall)
    println(s"$tag $name min_wall=${f2(best.wall)} cpu@min=${f2(best.window.cpuS)} " +
      s"run@min=${f2(best.window.runS)} jobs=${best.window.jobs} walls=${arr(reps.map(_.wall))} " +
      s"cpus=${arr(reps.map(_.window.cpuS))}$extra")
    best.window.phases.sortBy(-_.jobWall).foreach { p =>
      println(f"  PHASE ${p.label}%-36s jobs=${p.jobs}%4d job-wall=${p.jobWall}%7.2fs " +
        f"stage-wall-sum=${p.stageWall}%7.2fs task-sum=${p.runS}%8.2fs cpu=${p.cpuS}%8.2fs " +
        f"par=${p.runS / math.max(p.jobWall, 1e-9)}%5.1f")
    }
    best.window.stages.sortBy(-_.wall).take(8).foreach { s =>
      println(f"    STAGE ${s.label}%-34s ${s.scope.take(72)}%-72s wall=${s.wall}%6.2fs " +
        f"tasks=${s.tasks}%4d par=${s.runS / math.max(s.wall, 1e-9)}%5.1f")
    }
    best
  }

  /** The `{"bench":…}` line of a timed corpus run. */
  private def json(bench: String, reps: Seq[Rep[Long]]): Unit = {
    val best = reps.minBy(_.wall)
    println(s"""{"bench":"$bench","docs":$n,"cpus":$cpus,"wall_sec":${best.wall},""" +
      s""""walls":[${reps.map(_.wall).mkString(",")}],""" +
      s""""docs_per_sec":${n / best.wall},"clustered_docs":${best.out},${burn.json}}""")
  }

  def plans(): Unit = {
    val out = kv.getOrElse("out", sys.error("plans needs out=<dir>"))
    val tag = kv.getOrElse("tag", "before")
    Files.createDirectories(Paths.get(out))
    selected.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sf).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$out/${name}_$tag.txt"), plan)
        println(s"[explain] wrote $name")
      } catch {
        case e: Throwable => System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
  }

  /** Each query into the noop sink, with a short Burn on as many threads
    * as the session has task slots before each run (read walls against
    * it): contention inflates walls far more than consumed CPU, and the
    * job count is the fixed-overhead signal. */
  def queries(): Unit = selected.foreach { case (name, fn) =>
    val reps = timed(name, int("reps", 5), Burn.wall(cpus, 2 * cpus, 30000000L)) {
      fn(spark, sf).write.format("noop").mode("overwrite").save()
    }
    report("EXTRA", name, reps, s" burn=${arr(reps.map(_.marker))}")
  }

  /** Each leg as a fresh chain, consumed whole; `only` keeps the legs whose
    * name contains it. `cc` times ConnectedComponents alone, over the
    * facade's pairs written beforehand. */
  def stages(): Unit = {
    val docs =
      if (kv.contains("docs")) DedupMain.toDocs(spark.read.parquet(corpus(n)))
      else TestData.documents(spark, sf).select(col("doc_id"), col("text"))
    val only = kv.get("only")
    val reps = int("reps", 3)
    def leg(name: String)(df: => DataFrame): Unit = if (only.forall(name.contains)) {
      val runs = timed(name, reps)(consumed(df).head().getLong(1))
      report("LEG", name, runs, s" rows=${runs.head.out}")
    }
    legs(cfg).foreach { case (name, build) => leg(name)(build(docs)) }
    if (only.forall("cc".contains)) {
      val pairs = s"$dir/graft_profile_pairs"
      Dedup.dupPairs(docs, cfg).select("a", "b").write.mode("overwrite").parquet(pairs)
      dropBlocks(spark)
      leg("cc")(ConnectedComponents.assign(spark.read.parquet(pairs)))
    }
  }

  /** The facade pipeline on the corpus: extraction where text is null →
    * three families → verification → connected components. */
  def scale(): Unit = {
    val path = corpus(n)
    val reps = timed("scale", int("reps", 3)) {
      val pairs = Dedup.dupPairs(DedupMain.toDocs(spark.read.parquet(path)), cfg)
        .select("a", "b").localCheckpoint()
      println(s"  pairs=${pairs.count()}")
      Scope.phase(spark, "graft:cc")(ConnectedComponents.assign(pairs).count())
    }
    report("SCALE", s"docs=$n", reps)
    json("scaling", reps)
  }

  /** The production path: DedupMain.run under a fresh root per run. */
  def dedupMain(): Unit = {
    val path = corpus(n)
    val reps = int("reps", 2)
    val roots = (0 to reps).map(i => freshRoot(s"$dir/graft_main_${n}_$i")).iterator
    val runs = timed("main", reps) {
      val root = roots.next()
      DedupMain.run(spark, path, root, cfg, root.split('/').last, keepBest = keepBest).count()
    }
    report("MAIN", s"docs=$n", runs)
    json("scaling-main", runs)
  }

  /** The day-append protocol over the corpus's crawl days (docs are 1 s
    * apart: one day per 86400 docs): a full run on all days but the last
    * `days`, the append run adding them in one invocation, then a
    * from-scratch run on everything. The two cluster partitions are
    * diffed label-free. */
  def append(): Unit = {
    val path = corpus(n)
    val pendK = int("days", 1)
    require(pendK >= 1, s"days must be >= 1, got $pendK")
    val all = spark.read.parquet(path)
    val days = all.select(date_trunc("day", col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0))
    require(days.length > pendK, s"append needs > $pendK crawl days " +
      s"(one day per 86400 docs); $path spans ${days.length} day(s)")
    val cutoff = days(days.length - pendK)
    val headPath = s"$dir/graft_append_head_${n}_p$pendK"
    if (!new java.io.File(headPath + "/_SUCCESS").exists())
      all.where(date_trunc("day", col("warc_ts")) < lit(cutoff))
        .write.mode("overwrite").parquet(headPath)
    val aRoot = freshRoot(s"$dir/graft_append_root_${n}_p$pendK")
    val fRoot = freshRoot(s"$dir/graft_full_root_${n}_p$pendK")
    def once(label: String, input: String, root: String): Rep[Long] = {
      val r = measure(label)(DedupMain.run(spark, input, root, cfg, label, keepBest = keepBest).count())
      dropBlocks(spark)
      report("APPEND", label, Seq(r), s" clustered=${r.out}")
    }
    val head = once("head", headPath, aRoot)
    val app = once("append", path, aRoot)
    Metrics.read(spark, aRoot)
      .where(col("run_id") === "append").orderBy("ts").collect()
      .foreach(r => println(f"  append-stage ${r.getAs[String]("stage")}%-28s " +
        f"rows=${r.getAs[Long]("rows_out")}%10d wall=${r.getAs[Long]("wall_ms") / 1000.0}%7.1fs " +
        f"resumed=${r.getAs[Boolean]("resumed")}"))
    val full = once("full", path, fRoot)
    // Label-free partition diff, not inflated by mega-clusters: docs
    // clustered by one run only, and common docs whose partition
    // disagrees after relabeling each side's clusters to the min doc_id
    // among common members (an added doc taking over a cluster's label
    // does not count the whole cluster). Cold structure is exact by
    // construction; hot buckets run under the loud-drop cap on both paths,
    // where only verified pairs merge, so a delta is reported, not hidden.
    def assignment(root: String) =
      spark.read.parquet(s"$root/clusters").select("doc_id", "cluster_id").localCheckpoint()
    val aA = assignment(aRoot)
    val aF = assignment(fRoot)
    val common = aA.select("doc_id").join(aF.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    def relabeled(asg: DataFrame) = {
      val onCommon = asg.join(common, Seq("doc_id"), "left_semi")
      onCommon.join(onCommon.groupBy("cluster_id").agg(min("doc_id").as("lbl")), "cluster_id")
        .select("doc_id", "lbl")
    }
    val onlyAppend = aA.join(aF.select("doc_id"), Seq("doc_id"), "left_anti").count()
    val onlyFull = aF.join(aA.select("doc_id"), Seq("doc_id"), "left_anti").count()
    val disagree = relabeled(aA).withColumnRenamed("lbl", "la")
      .join(relabeled(aF).withColumnRenamed("lbl", "lf"), "doc_id")
      .where(col("la") =!= col("lf")).count()
    dropBlocks(spark)
    println(s"""{"bench":"day-append","docs":$n,"cpus":$cpus,"pending_days":$pendK,""" +
      s""""head_sec":${head.wall},"append_sec":${app.wall},"full_sec":${full.wall},""" +
      s""""speedup":${full.wall / app.wall},"clustered_docs":${app.out},""" +
      s""""clustered_docs_full":${full.out},""" +
      s""""docs_only_in_append":$onlyAppend,"docs_only_in_full":$onlyFull,""" +
      s""""common_docs_disagreeing":$disagree,""" +
      s""""clusters_identical":${onlyAppend + onlyFull + disagree == 0L},${burn.json}}""")
  }

  /** `batches` disjoint hash batches of the corpus through
    * StreamingDedup.processBatch, the foreachBatch bridge's per-batch body.
    * The claim under measure is flatness: per-batch wall and durable bytes
    * read track the batch, not the accumulated stream. Blocks are NOT
    * dropped between batches — the resident state is persisted blocks,
    * and dropping them would force the O(state) rebuild this measures the
    * absence of. With `keepBest`, each batch also times the quality-dedup
    * consumer over the current snapshot. */
  def stream(): Unit = {
    val path = corpus(n)
    val k = int("batches", 16)
    val root = s"$dir/graft_stream_root_${n}_k$k"
    fs.delete(new Path(root), true)
    // durable input bytes from Hadoop FileSystem statistics (file scheme:
    // actual file reads only; task input metrics also count block reads)
    def fileBytesRead(): Long =
      FileSystem.getGlobalStorageStatistics.iterator().asScala
        .filter(_.getScheme == "file")
        .map(s => Option(s.getLong("bytesRead")).map(_.longValue).getOrElse(0L)).sum
    val measured = (0 until k).map { i =>
      val b = DedupMain.toDocs(spark.read.parquet(path))
        .where(pmod(xxhash64(col("doc_id")), lit(k)) === i)
      val b0 = fileBytesRead()
      val w = measure(s"batch-$i")(StreamingDedup.processBatch(b, i.toLong, cfg, root)).wall
      val mb = (fileBytesRead() - b0) / 1e6
      val kb = keepBest.fold("") { score =>
        val t1 = System.nanoTime()
        val kept = StreamingDedup.keepBest(DedupMain.toDocs(spark.read.parquet(path)), root,
          expr(score).cast("long")).count()
        f" keepbest=${(System.nanoTime() - t1) / 1e9}%5.1fs kept=$kept%8d"
      }
      println(f"  stream-batch $i%3d wall=$w%7.1fs src=${StreamingDedup.lastStateSource}%-13s " +
        f"durable_read=$mb%8.1f MB resident_probes=${StreamingDedup.lastResidentRowsProbed}%9d " +
        f"resident_matches=${StreamingDedup.lastResidentRowsMatched}%9d$kb")
      (w, mb)
    }
    val walls = measured.map(_._1)
    val bytesMb = measured.map(_._2)
    val clustered = StreamingDedup.latestClusters(spark, root).count()
    def stateFiles(sub: String): Int = {
      val p = new Path(s"$root/$sub")
      if (!fs.exists(p)) 0
      else {
        val it = fs.listFiles(p, true)
        var c = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) c += 1 }
        c
      }
    }
    def avg(xs: Seq[Double]) = xs.sum / xs.length
    println(s"""{"bench":"stream","docs":$n,"cpus":$cpus,"batches":$k,""" +
      s""""total_sec":${walls.sum},"first4_avg_sec":${avg(walls.take(4))},""" +
      s""""last4_avg_sec":${avg(walls.takeRight(4))},""" +
      s""""read_mb_per_batch":[${bytesMb.map(b => "%.1f".formatLocal(Locale.ROOT, b)).mkString(",")}],""" +
      s""""first4_avg_read_mb":${avg(bytesMb.take(4))},""" +
      s""""last4_avg_read_mb":${avg(bytesMb.takeRight(4))},""" +
      s""""docs_per_sec":${n / walls.sum},"clustered_docs":$clustered,""" +
      s""""state_files":{"keys":${stateFiles("keys")},"keys_sh":${stateFiles("keys_sh")},""" +
      s""""shingled":${stateFiles("shingled")},"simhashes":${stateFiles("simhashes")}},${burn.json}}""")
  }
}
