package graft

/** `Sessions.builder` — host-sized locally, the submitted conf under
  * spark-submit. `getOrCreate` on the suite's live session applies the
  * builder's SQL settings to it, which is what this test reads back. */
class SessionsSpec extends SparkSuite {
  test("shuffle partitions: twice the cores locally, the submitted count under spark-submit") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      assert(Sessions.builder(7).getOrCreate().conf.get(key) === "14")
      spark.conf.set(key, before)
      // spark-submit passes its master (and --conf values) as system properties
      sys.props("spark.master") = spark.sparkContext.master
      try assert(Sessions.builder(7).getOrCreate().conf.get(key) === before)
      finally sys.props -= "spark.master"
    } finally spark.conf.set(key, before)
  }
}
