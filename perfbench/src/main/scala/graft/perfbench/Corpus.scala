package graft.perfbench

import graft.DedupConfig
import graft.operators.Lsh
import graft.run.DedupMain
import graft.sources.PagesGen
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded planted-duplicate corpus in the pages shape, written to parquet,
  * with its truth pairs in the doc_id space `DedupMain.toDocs` derives
  * (xxhash64 of the url).
  *
  * Truth is measured on the docs the pipeline actually sees (extracted
  * text, the pipeline's own shingle and SimHash functions): a planted
  * near-duplicate is a truth pair when its exact Jaccard or Hamming distance
  * clears `DedupConfig.test`; a planted substring splice always is.
  * `lshTruth` holds the Jaccard/Hamming pairs, the ones the MinHash and
  * SimHash families must find.
  *
  * The seed reaches only `PagesGen`; the pipeline always runs
  * `DedupConfig.test`. Crawl days are spread by url hash, so every day holds
  * a random slice of the corpus and planted pairs cross days. */
final case class Corpus(n: Int, seed: Long, path: String, truth: Array[(Long, Long)],
                        lshTruth: Array[(Long, Long)]) {
  def pages(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

object Corpus {
  val Days = 4
  private val Day0 = 1704067200L // 2024-01-01T00:00:00Z

  def dayOf(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(url), lit(Days.toLong))

  private def docId(genId: org.apache.spark.sql.Column) =
    xxhash64(concat(lit("synth://gen/"), genId.cast("string")))

  def write(spark: SparkSession, n: Int, seed: Long, path: String): Corpus = {
    import spark.implicits._
    val cfg = DedupConfig.test
    PagesGen.pages(spark, n, cfg.copy(seed = seed)).toDF()
      .withColumn("warc_ts",
        timestamp_seconds(lit(Day0) + dayOf(col("url")) * 86400L + lit(3600L)))
      .write.mode(SaveMode.Overwrite).parquet(path)

    val planted = (0L until n.toLong).flatMap { id =>
      PagesGen.role(n, seed, id) match {
        case PagesGen.MinhashDup(t) => Some((id, t, false))
        case PagesGen.SimhashDup(t) => Some((id, t, false))
        case PagesGen.SubstrDup(t) => Some((id, t, true))
        case _ => None
      }
    }.toDF("x", "y", "splice")
      .select(docId(col("x")).as("a"), docId(col("y")).as("b"), col("splice"))
    val docs = DedupMain.toDocs(spark.read.parquet(path))
    val fp = Lsh.shingled(docs, cfg).join(Lsh.simhashes(docs, cfg), "doc_id")
    def side(s: String) =
      fp.select(col("doc_id").as(s), col("shingles").as(s"sh_$s"), col("simhash").as(s"h_$s"))
    val measured = planted.join(side("a"), "a").join(side("b"), "b")
      .select(least(col("a"), col("b")), greatest(col("a"), col("b")), col("splice"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))) >= cfg.jaccardThreshold ||
          bit_count(col("h_a") bitwiseXOR col("h_b")) <= cfg.hammingThreshold).as("near"))
      .where(col("splice") || col("near"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getBoolean(3)))
    require(measured.exists(_._2), s"corpus of $n docs at seed $seed has no planted truth")
    Corpus(n, seed, path, measured.map(_._1).distinct,
      measured.filter(_._2).map(_._1).distinct)
  }

  /** Share of truth pairs whose two docs share a cluster (1.0 when there
    * is none to find). Docs missing from `assignment` (doc_id -> cluster_id)
    * are singletons. */
  def recall(truth: Array[(Long, Long)], assignment: Map[Long, Long]): Double =
    if (truth.isEmpty) 1.0
    else truth.count { case (a, b) =>
      assignment.get(a).exists(ca => assignment.get(b).contains(ca))
    }.toDouble / truth.length

  def assignmentOf(df: DataFrame): Map[Long, Long] =
    df.select("doc_id", "cluster_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
}
