package graft.perfbench

import graft.{Dedup, DedupConfig, SparkEntry}
import graft.operators.{ConnectedComponents, ExactSubstr, Lsh}
import graft.run.DedupMain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The traced layer pass: each layer's public functions called on a
  * materialized input, one span per call, so a span's time is the layer's
  * own. Runs on the workload's corpus. */
final class Layers(spark: SparkSession, tracer: Tracer, stats: SchedulerStats,
                   corpus: Corpus, work: String) {
  private val cfg = DedupConfig.test

  private def mat(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK_SER)

  /** Forces every row and column through an order-insensitive XOR, so column
    * pruning cannot skip the work. */
  private def xorAll(df: DataFrame): Long =
    df.select(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head().getLong(0)

  private def jobsIn(name: String): Seq[JobStat] = {
    val all = stats.jobs(spark)
    all.filter(j => tracer.owner(j).exists(_.name == name))
  }

  private def spanS(name: String): Double = tracer.named(name).map(_.durS).sum

  private def lshTruthDf: DataFrame = {
    import spark.implicits._
    corpus.lshTruth.toSeq.toDF("a", "b")
  }

  private def canon(df: DataFrame): DataFrame =
    df.select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))

  def run(): Map[String, Double] = {
    val pages = tracer.span("prep")(mat(corpus.pages(spark)))
    tracer.span("extract.toDocs")(xorAll(DedupMain.toDocs(pages)))
    val docs = tracer.span("prep")(mat(DedupMain.toDocs(pages).select("doc_id", "text", "lang")))

    tracer.span("functions.fingerprints") {
      val sh = Lsh.shingled(docs, cfg)
      xorAll(Lsh.signatures(sh, cfg).select(col("doc_id"), xxhash64(col("minhash")).as("m"))
        .join(Lsh.simhashes(docs, cfg), "doc_id"))
    }
    val fpCpu = jobsIn("functions.fingerprints").map(_.cpuNs).sum / 1e9

    // families: the verified pairs, then the raw blocking candidates
    val mhVerified = tracer.span("Lsh.minhashDupPairs")(Lsh.minhashDupPairs(docs, cfg).count())
    val shVerified = tracer.span("Lsh.simhashDupPairs")(Lsh.simhashDupPairs(docs, cfg).count())
    val sh = mat(Lsh.shingled(docs, cfg))
    val sims = mat(Lsh.simhashes(docs, cfg))
    val (mhCands, shCands) = tracer.span("Lsh.candidatePairs") {
      val mh = mat(canon(Lsh.candidatePairs(Lsh.saltBandKeys(
        Lsh.minhashBandKeys(Lsh.signatures(sh, cfg), cfg), cfg))).distinct())
      val shc = mat(canon(Lsh.candidatePairs(Lsh.saltBandKeys(
        Lsh.simhashBandKeys(sims, cfg), cfg))).distinct())
      (mh, shc)
    }
    val (nMh, nSh) = (mhCands.count(), shCands.count())
    val lshTruth = corpus.lshTruth.length
    val blocked = lshTruthDf.join(mhCands.unionByName(shCands).distinct(), Seq("a", "b")).count()

    val substr = tracer.span("ExactSubstr.substrDupPairs")(
      ExactSubstr.substrDupPairs(docs, cfg).count())

    // eager: the facade materializes its pair table before it returns
    val pairs = tracer.span("Dedup.dupPairs")(Dedup.dupPairs(docs, cfg))
    val assignment = tracer.span("ConnectedComponents.assign")(
      Corpus.assignmentOf(ConnectedComponents.assign(pairs.select("a", "b"))))

    // SparkEntry's full-pipeline query over the corpus written in the
    // documents shape; its single-family queries (q03, q21) are the Lsh and
    // ExactSubstr calls above plus an ORDER BY
    val dir = s"$work/sf"
    tracer.span("prep") {
      docs.select(col("doc_id"), col("text"), col("lang"), lit("synth").as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    val q22 = tracer.span("SparkEntry.q22")(
      SparkEntry.queries("q22_eac_clusters")(spark, dir).collect())
    val q22Assignment = q22.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    require(q22Assignment == assignment,
      s"q22 clusters differ from ConnectedComponents.assign over Dedup.dupPairs " +
        s"(${q22Assignment.size} vs ${assignment.size} docs)")
    Workloads.releaseBlocks(spark)

    dedupPhases() ++ Map(
      "extract.to_docs_s" -> spanS("extract.toDocs"),
      "functions.fingerprints_s" -> spanS("functions.fingerprints"),
      "functions.fingerprints_cpu_s" -> fpCpu,
      "Lsh.minhash_pairs_s" -> spanS("Lsh.minhashDupPairs"),
      "Lsh.simhash_pairs_s" -> spanS("Lsh.simhashDupPairs"),
      "Lsh.minhash_candidates" -> nMh.toDouble,
      "Lsh.minhash_verified" -> mhVerified.toDouble,
      "Lsh.minhash_yield" -> mhVerified.toDouble / math.max(1L, nMh),
      "Lsh.simhash_candidates" -> nSh.toDouble,
      "Lsh.simhash_verified" -> shVerified.toDouble,
      "Lsh.simhash_yield" -> shVerified.toDouble / math.max(1L, nSh),
      "Lsh.pair_completeness" -> blocked.toDouble / math.max(1L, lshTruth),
      "ExactSubstr.pairs_s" -> spanS("ExactSubstr.substrDupPairs"),
      "ExactSubstr.pairs" -> substr.toDouble,
      "ConnectedComponents.assign_s" -> spanS("ConnectedComponents.assign"),
      "ConnectedComponents.jobs" -> jobsIn("ConnectedComponents.assign").size.toDouble,
      "ConnectedComponents.clustered_docs" -> assignment.size.toDouble,
      "SparkEntry.q22.wall_s" -> spanS("SparkEntry.q22"),
      "SparkEntry.q22.jobs" -> jobsIn("SparkEntry.q22").size.toDouble)
  }

  /** The facade's phases, from the `graft:*` job labels it sets: Σ job wall
    * per phase, its achieved parallelism (Σ task time ÷ job wall), and the
    * share of the `Dedup.dupPairs` span the labeled jobs cover. */
  private def dedupPhases(): Map[String, Double] = {
    val span = tracer.named("Dedup.dupPairs").head
    val jobs = jobsIn("Dedup.dupPairs")
    val phases = Seq("listing_prep" -> "graft:listing-prep",
      "listing_substr" -> "graft:listing-substr",
      "famcounts_barrier" -> "graft:listings-famcounts-barrier",
      "verify_union" -> "graft:verify-union-ckpt")
    val perPhase = phases.flatMap { case (short, label) =>
      val js = jobs.filter(_.desc == label)
      val wall = js.map(_.wallS).sum
      Seq(s"Dedup.$short.wall_s" -> wall,
        s"Dedup.$short.par" -> (if (wall > 0) js.map(_.runMs).sum / 1e3 / wall else 0.0))
    }
    val labeled = jobs.filter(_.desc.startsWith("graft:"))
      .map(j => (j.startMs, j.endMs)).sortBy(_._1)
    val covered = labeled.foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
      if (e <= end) (acc, end) else (acc + e - math.max(s, end), e)
    }._1
    perPhase.toMap ++ Map(
      "Dedup.dupPairs_s" -> span.durS,
      "Dedup.phase_coverage" -> covered / 1e3 / span.durS,
      "Dedup.jobs" -> jobs.size.toDouble)
  }
}
