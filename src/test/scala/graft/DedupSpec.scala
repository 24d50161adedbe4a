package graft

import graft.sources.PagesGen
import org.apache.spark.sql.functions._

/** The façade (`graft.Dedup`) — the API a user of the reference switches
  * to: pairs, clusters, and the dedupe operation itself. */
class DedupSpec extends SparkSuite {
  import spark.implicits._
  private val cfg = DedupConfig.test
  private lazy val docs = PagesGen.docs(spark, 300, cfg).toDF()

  test("dedupe keeps exactly canonical members plus singletons") {
    val cl = Dedup.clusters(docs, cfg)
      .select("doc_id", "is_canonical").as[(Long, Boolean)].collect().toMap
    val kept = Dedup.dedupe(docs, cfg).select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    val expected = all.filter(id => cl.getOrElse(id, true))
    assert(kept === expected)
    assert(kept.size < all.size, "planted corpus must actually shrink")
  }

  test("dedupe is idempotent") {
    val once = Dedup.dedupe(docs, cfg)
    val twice = Dedup.dedupe(once, cfg)
    assert(twice.count() === once.count())
  }

  test("dedupeBy keeps the highest-score member per cluster, min doc_id on ties") {
    val cl = Dedup.clusters(docs, cfg)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    val lens = docs.select(col("doc_id"), octet_length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val kept = Dedup.dedupeBy(docs, octet_length(col("text")).cast("long"), cfg)
      .select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    val expectedWinners = cl.groupBy(_._2).values.map { members =>
      members.map(_._1).minBy(id => (-lens(id), id)) // longest, then smallest id
    }.toSet
    val clustered = cl.map(_._1).toSet
    assert(kept === (all -- clustered) ++ expectedWinners)
    // same cluster count survives as min-doc_id dedupe, different policy
    assert(kept.size === Dedup.dedupe(docs, cfg).count())
    // the winners really are the longest members
    expectedWinners.foreach { w =>
      val myCluster = cl.filter(p => cl.find(_._1 == w).get._2 == p._2).map(_._1)
      assert(myCluster.forall(m => lens(m) <= lens(w)))
    }
  }

  test("dupPairs labels its jobs with exactly the four phases, restoring the caller's") {
    // the phase listeners (and the benchmark's Dedup.* metrics) key on
    // these exact labels — a rename would silently zero them
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        labels.add(Option(js.properties).flatMap(p => Option(p.getProperty(key))).getOrElse(""))
    }
    // marker jobs bracket the call; events arrive in posting order, so the
    // end marker's arrival means every job in between has been seen
    def marker(label: String): Unit =
      Scope.phase(spark, label)(sc.parallelize(Seq(1), 1).count())
    sc.addSparkListener(listener)
    sc.setJobDescription("caller-label")
    try {
      marker("test:begin")
      Dedup.dupPairs(docs, cfg)
      assert(sc.getLocalProperty(key) === "caller-label")
      marker("test:end")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!labels.contains("test:end") && System.nanoTime() < deadline) Thread.sleep(50)
      val seen = labels.toArray(Array.empty[String]).toSeq
        .dropWhile(_ != "test:begin").drop(1).takeWhile(_ != "test:end")
      assert(seen.toSet === Set("graft:listing-prep", "graft:listing-substr",
        "graft:listings-famcounts-barrier", "graft:verify-union-ckpt"))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("clusters carry all three evidence families on the planted corpus") {
    val fams = Dedup.dupPairs(docs, cfg)
      .select("family").distinct().as[String].collect().toSet
    assert(fams === Set("minhash", "simhash", "substr"))
  }
}
