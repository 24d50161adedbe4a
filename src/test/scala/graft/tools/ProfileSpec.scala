package graft.tools

import graft.{DedupConfig, SparkSuite}
import graft.functions.{MinHashSig, ShingleHashes, SimHash64}
import graft.sources.TestData
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.length

class ProfileSpec extends SparkSuite {
  /** A one-table sf dir: documents.parquet with the columns q01 reads. */
  private lazy val sf: String = {
    val spark = this.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("profile-sf").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog", "en"),
        (2L, "the quick brown fox jumps over the lazy cat", "en"))
      .toDF("doc_id", "text", "lang").withColumn("n_chars", length($"text"))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** The fingerprint expression classes left in `df`'s optimized plan. */
  private def fingerprints(df: DataFrame): Set[Class[_]] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: ShingleHashes | _: MinHashSig | _: SimHash64) => e.getClass
    })).toSet

  test("stages fingerprint legs still compute their fingerprints once consumed") {
    val docs = TestData.documents(spark, sf).select("doc_id", "text")
    val legs = Profile.legs(DedupConfig.test).toMap
    val sh = classOf[ShingleHashes]
    val mh = classOf[MinHashSig]
    val sim = classOf[SimHash64]
    Map("shingles" -> Set(sh), "minhash" -> Set(sh, mh), "simhash" -> Set(sim),
        "fingerprints" -> Set(sh, sim)).foreach { case (leg, want) =>
      assert(fingerprints(Profile.consumed(legs(leg)(docs))) === want, leg)
    }
    // a bare count, as the legs were once consumed, prunes every fingerprint
    assert(fingerprints(legs("fingerprints")(docs).groupBy().count()).isEmpty)
  }

  test("plans writes one formatted plan per query, named <query>_<tag>.txt") {
    val out = Files.createTempDirectory("profile-plans")
    Profile.run(spark, "plans",
      Map("queries" -> "q01_doc_stats", "out" -> out.toString, "tag" -> "t", "sf" -> sf))
    val written = out.toFile.list().toSeq
    assert(written === Seq("q01_doc_stats_t.txt"))
    assert(Files.readString(out.resolve(written.head)).contains("Scan parquet"))
  }
}
