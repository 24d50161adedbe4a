package graft.perfbench

import graft.{Dedup, DedupConfig}
import graft.operators.ConnectedComponents
import graft.run.DedupMain
import graft.streaming.StreamingDedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one operation produced: its wall, the docs it deduplicated, its
  * truth recall and the counts that must repeat across operations. A `warm`
  * operation is checked but not timed: it runs on a cold JVM. */
final case class OpResult(wallS: Double, docs: Long, recall: Double, counts: String,
                          warm: Boolean = false)

/** Everything a workload needs from the run. `work` is a directory private
  * to this run. */
final case class Ctx(spark: SparkSession, seed: Long, work: String) {
  val cfg: DedupConfig = DedupConfig.test
  def fresh(name: String): String = {
    val p = new Path(s"$work/$name")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    p.toString
  }
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "batch-planted" => new BatchPlanted(ctx)
    case "stream-batches" => new StreamBatches(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Drops every cached block: a facade operation's checkpoints must not
    * carry over into the next one. */
  def releaseBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

import Workloads._

/** A closed-loop workload over a generated corpus: one thread runs
  * one operation at a time. Besides its own operation, every workload can
  * probe the staged and the streaming entry points on its corpus. */
abstract class Workload(ctx: Ctx) {
  protected val spark: SparkSession = ctx.spark
  private var current: Corpus = _

  def name: String
  def corpusDocs: Int
  /** Whether a run needs an untimed warm-up round before the timed ones. */
  def warmUpRound: Boolean
  /** One round of operations (a stream pass holds several). `span` wraps
    * each operation. */
  def round(i: Int, span: (String, => OpResult) => OpResult): Seq[OpResult]

  def corpus: Corpus = current

  /** Makes the inputs from the seed: the corpus and its truth. */
  def setup(): Unit = {
    current = Corpus.write(spark, corpusDocs, ctx.seed, ctx.fresh("corpus"))
  }

  /** A full `DedupMain.run` over the corpus at a fresh root, traced: the
    * wall, each stage's `_metrics` row and the durable bytes moved. */
  def runLayer(tracer: Tracer): Map[String, Double] = {
    val runId = s"layer-${System.nanoTime()}"
    val root = ctx.fresh("root-run")
    val (r0, w0) = Host.fileBytes
    val wall = tracer.span("DedupMain.run")(
      time(DedupMain.run(spark, corpus.path, root, ctx.cfg, runId = runId))._2)
    val (r1, w1) = Host.fileBytes
    val assignment = Corpus.assignmentOf(spark.read.parquet(s"$root/clusters"))
    val recall = Corpus.recall(corpus.truth, assignment)
    require(recall >= Main.MinRecall, f"DedupMain.run truth_recall $recall%.4f")
    val rows = graft.run.Metrics.read(spark, root).where(col("run_id") === runId)
      .select("stage", "wall_ms").collect()
      .map(x => (x.getString(0), x.getLong(1)))
    def stageS(names: String*) =
      rows.filter(x => names.contains(x._1)).map(_._2).sum / 1e3
    releaseBlocks(spark)
    Map(
      "run.build_s" -> wall,
      "run.stage.docs_s" -> stageS("docs"),
      "run.stage.fingerprints_s" -> stageS("shingled", "signatures"),
      "run.stage.band_keys_s" -> stageS("band_keys"),
      "run.stage.dup_pairs_s" -> stageS("dup_pairs"),
      "run.stage.clusters_s" -> stageS("clusters"),
      "run.stages" -> rows.length.toDouble,
      "run.read_mb" -> (r1 - r0) / 1e6,
      "run.write_mb" -> (w1 - w0) / 1e6)
  }

  // ---- stream split: disjoint hash batches ---------------------------
  /** The corpus as documents, each tagged with its batch of `split`. */
  private def docsInBatches(split: Int): DataFrame =
    DedupMain.toDocs(corpus.pages(spark))
      .withColumn("batch", pmod(xxhash64(col("doc_id")), lit(split.toLong)))

  private var passNo = 0
  /** Per-batch readings of the last stream pass: (durable bytes read,
    * resident rows probed, resident rows matched, state source). */
  private var lastPass: Option[(Seq[OpResult], Seq[(Long, Long, Long, String)], String)] = None

  /** One stream on a fresh root: the first `batches` of the corpus split
    * into `split` hash batches, through `processBatch` in order. The bridge
    * runs the MinHash and SimHash families only, so its recall is measured
    * against their planted pairs among the streamed docs. */
  protected def streamPass(span: (String, => OpResult) => OpResult, split: Int, batches: Int,
                           warm: Boolean = false)
      : (Seq[OpResult], Seq[(Long, Long, Long, String)], String) = {
    passNo += 1
    val root = ctx.fresh(s"stream-$passNo")
    val per = (0 until batches).map { i =>
      val b = docsInBatches(split).where(col("batch") === i).drop("batch")
      val docs = b.count()
      val (r0, _) = Host.fileBytes
      val r = span("StreamingDedup.processBatch", {
        val (_, wall) = time(StreamingDedup.processBatch(b, i.toLong, ctx.cfg, root))
        OpResult(wall, docs, Double.NaN, "", warm)
      })
      val (r1, _) = Host.fileBytes
      (r, (r1 - r0, StreamingDedup.lastResidentRowsProbed,
        StreamingDedup.lastResidentRowsMatched, StreamingDedup.lastStateSource))
    }
    val assignment = Corpus.assignmentOf(StreamingDedup.latestClusters(spark, root))
    val streamed = docsInBatches(split).where(col("batch") < batches)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val recall = Corpus.recall(
      corpus.lshTruth.filter { case (a, b) => streamed(a) && streamed(b) }, assignment)
    val counts = s"clustered=${assignment.size} clusters=${assignment.values.toSet.size}"
    val out = (per.map(_._1.copy(recall = recall, counts = counts)), per.map(_._2), root)
    if (!warm) lastPass = Some(out)
    out
  }

  /** Readings of the last traced stream pass, or of a probe pass. */
  def streamLayer(tracer: Tracer): Map[String, Double] = {
    val (ops, readings, root) = lastPass.getOrElse(
      // workloads that do not stream probe three eighths of their corpus
      streamPass((n, body) => tracer.span(n)(body), split = 8, batches = 3))
    val q = math.max(1, ops.size / 4)
    def p50(xs: Seq[Double]) = Stats.median(xs)
    val probes = readings.map(_._2).sum
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = {
      val it = fs.listFiles(new Path(root), true)
      var c = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) c += 1
      c
    }
    Map(
      "streaming.first_q_p50_s" -> p50(ops.take(q).map(_.wallS)),
      "streaming.last_q_p50_s" -> p50(ops.takeRight(q).map(_.wallS)),
      "streaming.read_mb_per_batch" -> readings.map(_._1).sum / 1e6 / readings.size,
      "streaming.resident_probes" -> probes.toDouble / readings.size,
      "streaming.resident_matches" -> readings.map(_._3).sum.toDouble / readings.size,
      "streaming.match_ratio" ->
        (if (probes == 0) 0.0 else readings.map(_._3).sum.toDouble / probes),
      "streaming.rebuilds" -> readings.count(_._4 == "rebuild").toDouble,
      "streaming.state_files" -> files.toDouble)
  }
}

/** Compute-bound: raw pages to the cluster assignment through the facade. */
final class BatchPlanted(ctx: Ctx) extends Workload(ctx) {
  val name = "batch-planted"
  val corpusDocs = 4000
  val warmUpRound = true

  def round(i: Int, span: (String, => OpResult) => OpResult): Seq[OpResult] = {
    var assignment: Map[Long, Long] = Map.empty
    var pairs = 0L
    val r = span("op", {
      val (_, wall) = time {
        val docs = DedupMain.toDocs(corpus.pages(spark))
        val p = Dedup.dupPairs(docs, ctx.cfg)
        assignment = Corpus.assignmentOf(ConnectedComponents.assign(p.select("a", "b")))
        pairs = p.count()
      }
      OpResult(wall, corpus.n.toLong, Double.NaN, "")
    })
    releaseBlocks(spark)
    Seq(r.copy(recall = Corpus.recall(corpus.truth, assignment),
      counts = s"pairs=$pairs clustered=${assignment.size} clusters=${assignment.values.toSet.size}"))
  }
}

/** Resident state: hash batches through the streaming bridge, in order. The
  * warm-up round streams one small batch on a root of its own. */
final class StreamBatches(ctx: Ctx) extends Workload(ctx) {
  val name = "stream-batches"
  val corpusDocs = 1000
  val batches = 4
  val warmUpRound = true

  def round(i: Int, span: (String, => OpResult) => OpResult): Seq[OpResult] =
    if (i == 0) streamPass(span, 4 * batches, 1, warm = true)._1
    else streamPass(span, batches, batches)._1
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
