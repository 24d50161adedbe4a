package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The block and job-label lifetime of one pipeline run: every
  * `localCheckpoint` an entry point creates goes through `checkpoint` and
  * is unpersisted by `release()`, or through `Scope.keep` when it outlives
  * the run — repeated runs in one session (bench
  * loops, notebooks, micro-batches) otherwise pile up executor storage
  * until the ContextCleaner happens to notice. `phase` labels the jobs a
  * body runs (`spark.job.description`, the key the phase listeners group
  * by) and hands the caller's own label back afterwards. Thread-safe: a
  * run's legs may checkpoint from their own action threads. */
final class Scope(spark: SparkSession) {
  private val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** `df` checkpointed into blocks this scope owns (lazy unless `eager`). */
  def checkpoint(df: DataFrame, eager: Boolean = false,
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER): DataFrame = {
    val c = df.localCheckpoint(eager, level)
    synchronized { owned += c }
    c
  }

  /** Release one checkpoint ahead of the rest (a superseded round). */
  def release(df: DataFrame): Unit = {
    synchronized { owned -= df }
    Scope.unpersist(df)
  }

  /** Release every block this scope created; the scope stays usable. */
  def release(): Unit = {
    val all = synchronized { val a = owned.toList; owned.clear(); a }
    all.foreach(Scope.unpersist)
  }

  def phase[T](label: String)(body: => T): T = Scope.phase(spark, label)(body)
}

object Scope {
  private val JobDescription = "spark.job.description"

  /** `df` checkpointed into blocks the CALLER keeps and releases itself
    * (`unpersist`): a run's result, or resident state that outlives every
    * run's scope. */
  def keep(df: DataFrame, eager: Boolean = true,
           level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER): DataFrame =
    df.localCheckpoint(eager, level)

  /** Run `body` with its jobs labelled `label`; the calling thread's
    * previous label comes back afterwards, also when `body` throws. */
  def phase[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try body
    finally sc.setLocalProperty(JobDescription, prev)
  }

  /** Unpersist the RDD blocks behind a checkpointed DataFrame (its
    * analyzed plan is a LogicalRDD over them); a no-op for other plans.
    * Best-effort: a handle of an already-stopped session is skipped. */
  def unpersist(df: DataFrame): Unit =
    scala.util.Try(df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false)))
}
