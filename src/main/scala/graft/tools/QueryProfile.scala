package graft.tools

import graft.{DedupConfig, Sessions}
import graft.functions.Fns
import graft.operators.{ConnectedComponents, ExactSubstr, Lsh}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Phase-level timing of the q22 facade chain at a given sf dir — the
  * bench-constant hunting tool (min-of-k per phase, fresh chains). */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val cpus = Runtime.getRuntime.availableProcessors
    // one shuffle partition per core, as graft.Bench runs
    val spark = Sessions.local(cpus, "spark.sql.shuffle.partitions" -> cpus.toString)
    val cfg = DedupConfig.test
    def docs = graft.sources.TestData.documents(spark, dir)
      .select(col("doc_id"), col("text"))

    def t(name: String)(f: => Long): Unit = {
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val rows = f
        val w = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        (w, rows)
      }
      println(f"PROFILE $name%-22s min=${walls.map(_._1).min}%6.2fs rows=${walls.head._2} walls=${walls.map(w => f"${w._1}%.2f").mkString(",")}")
    }

    t("docs-scan") { docs.count() }
    t("fp-pass") {
      docs.select(col("doc_id"),
        Fns.shingleHashes(col("text"), cfg).as("shingles"),
        Fns.simhash64(col("text"), cfg).as("simhash")).count()
    }
    t("mh-family") { Lsh.minhashDupPairs(docs, cfg).count() }
    t("sh-family") { Lsh.simhashDupPairs(docs, cfg).count() }
    t("substr-gram-route") {
      ExactSubstr.verifyExtend(
        ExactSubstr.candidates(ExactSubstr.gramIndex(docs, cfg), cfg), docs, cfg).count()
    }
    t("substr-shard-route") { ExactSubstr.shardRepeats(docs, cfg).count() }
    t("substr-family") { ExactSubstr.substrDupPairs(docs, cfg).count() }
    t("facade-dupPairs") { graft.Dedup.dupPairs(docs, cfg).count() }
    t("facade-clusters") { graft.Dedup.clusters(docs, cfg).count() }
    t("cc-only") {
      val pairs = graft.Dedup.dupPairs(docs, cfg).select("a", "b")
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
      val t0 = System.nanoTime()
      val n = ConnectedComponents.clusters(ConnectedComponents.assign(pairs)).count()
      println(f"  (cc inner ${(System.nanoTime() - t0) / 1e9}%.2fs)")
      n
    }
    spark.stop()
  }
}
