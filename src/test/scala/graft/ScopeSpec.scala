package graft

/** `Scope` — the one owner of entry-point checkpoint blocks and job labels. */
class ScopeSpec extends SparkSuite {
  private def sc = spark.sparkContext
  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  test("release() unpersists exactly the blocks the scope created") {
    val beforeOwn = persisted
    val own = spark.range(100).toDF("x").localCheckpoint(true)
    val ownIds = persisted -- beforeOwn
    assert(ownIds.nonEmpty)

    val before = persisted
    val scope = new Scope(spark)
    scope.checkpoint(spark.range(50).toDF("x"), eager = true)
    val early = scope.checkpoint(spark.range(30).toDF("x"))
    assert(early.count() === 30)
    scope.checkpoint(spark.range(20).toDF("x")).count()
    val created = persisted -- before
    assert(created.size === 3)

    val beforeEarly = persisted
    scope.release(early)
    assert((beforeEarly -- persisted).size === 1, "release(df) drops one handle")
    scope.release()
    assert((persisted intersect created).isEmpty)
    // the caller's own checkpoint is untouched and still readable
    assert(ownIds.subsetOf(persisted))
    assert(own.count() === 100)
  }

  test("a caller-set job description survives phase, on return and on throw") {
    val key = "spark.job.description"
    val scope = new Scope(spark)
    sc.setJobDescription("caller-label")
    try {
      val inside = scope.phase("graft:test-phase")(sc.getLocalProperty(key))
      assert(inside === "graft:test-phase")
      assert(sc.getLocalProperty(key) === "caller-label")
      intercept[IllegalStateException] {
        scope.phase("graft:test-throw") { throw new IllegalStateException("boom") }
      }
      assert(sc.getLocalProperty(key) === "caller-label")
    } finally sc.setJobDescription(null)
    scope.phase("graft:test-unset")(())
    assert(sc.getLocalProperty(key) === null)
  }
}
