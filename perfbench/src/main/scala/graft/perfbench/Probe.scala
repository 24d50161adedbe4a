package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval around a call into a layer's public function.
  * Times are wall-clock milliseconds (the clock Spark stamps scheduler
  * events with) plus a monotonic duration. */
final case class Span(id: Long, name: String, parent: Long, workload: String, rep: Int,
                      startMs: Long, endMs: Long, durS: Double) {
  def contains(tMs: Long): Boolean = startMs <= tMs && tMs <= endMs
  def json: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"workload":"$workload","rep":$rep,""" +
      s""""start_ms":$startMs,"end_ms":$endMs,"dur_s":$durS}"""
}

/** Spark work of one finished job, as the scheduler reported it. */
final case class JobStat(jobId: Int, desc: String, spanProp: Long, startMs: Long, endMs: Long,
                         tasks: Int, runMs: Long, cpuNs: Long, shuffleWriteB: Long,
                         spillB: Long, gcMs: Long) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Spans kept in memory; written as JSON lines when the run exits. The open
  * span's id rides the `perfbench.span` local property, so the scheduler
  * listener can attribute each job to the span that caused it. */
final class Tracer(spark: SparkSession, workload: String) {
  private val sc = spark.sparkContext
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]
  private var nextId = 1L
  var rep = 0
  /** Time spent in span bookkeeping itself. */
  var selfNs = 0L

  def span[T](name: String)(body: => T): T = {
    val enter = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prev = sc.getLocalProperty(Tracer.Prop)
    stack = id :: stack
    sc.setLocalProperty(Tracer.Prop, id.toString)
    val (t0ms, t0) = (System.currentTimeMillis(), System.nanoTime())
    selfNs += t0 - enter
    try body
    finally {
      val t1 = System.nanoTime()
      done += Span(id, name, parent, workload, rep, t0ms, System.currentTimeMillis(),
        (t1 - t0) / 1e9)
      stack = stack.tail
      sc.setLocalProperty(Tracer.Prop, prev)
      selfNs += System.nanoTime() - t1
    }
  }

  def spans: Seq[Span] = done.toSeq
  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** The innermost span that was open when a job started: the span whose id
    * the job carries when that span was open at its start (threads of a
    * shared pool inherit stale ids), else the deepest span covering the
    * start time, else none. */
  def owner(j: JobStat): Option[Span] = {
    val byProp = done.find(s => s.id == j.spanProp && s.contains(j.startMs))
    byProp.orElse {
      val covering = done.filter(_.contains(j.startMs))
      if (covering.isEmpty) None else Some(covering.maxBy(s => depth(s)))
    }
  }

  private def depth(s: Span): Int = {
    val byId = done.map(x => x.id -> x).toMap
    Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.isDefined).size
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, done.map(_.json).asJava)
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Scheduler listener: per-job task counts, executor run and CPU time,
  * shuffle writes, spill and GC, with the job's description and span id. */
final class SchedulerStats extends SparkListener {
  private final class Acc(val desc: String, val span: Long, val startMs: Long) {
    val tasks = new AtomicLong; val runMs = new AtomicLong; val cpuNs = new AtomicLong
    val shuffleB = new AtomicLong; val spillB = new AtomicLong; val gcMs = new AtomicLong
  }
  private val open = TrieMap.empty[Int, Acc]
  private val stageJob = TrieMap.empty[Int, Int]
  private val finished = new ConcurrentLinkedQueue[JobStat]()
  private val self = new AtomicLong
  /** Time spent in this listener's callbacks. */
  def selfNs: Long = self.get

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    self.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val span = prop(Tracer.Prop).flatMap(_.toLongOption).getOrElse(0L)
    open(e.jobId) = new Acc(prop("spark.job.description").getOrElse(""), span, e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (job <- stageJob.get(e.stageId); a <- open.get(job); m <- Option(e.taskMetrics)) {
      a.tasks.incrementAndGet()
      a.runMs.addAndGet(m.executorRunTime)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.shuffleB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.gcMs.addAndGet(m.jvmGCTime)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    open.remove(e.jobId).foreach { a =>
      finished.add(JobStat(e.jobId, a.desc, a.span, a.startMs, e.time, a.tasks.get.toInt,
        a.runMs.get, a.cpuNs.get, a.shuffleB.get, a.spillB.get, a.gcMs.get))
    }
  }

  def jobs(spark: SparkSession): Seq[JobStat] = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    finished.asScala.toSeq.sortBy(_.jobId)
  }
}

/** Counts the `non-existent accumulator` ERROR events Spark logs when a task
  * reports an accumulator its context has already released: each one is a
  * lost task-metric update, so the listener's CPU totals are lossy by that
  * much. */
final class AccumErrors
    extends AbstractAppender("perfbench-accum-errors", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong

  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
      val thrown = Option(e.getThrown).flatMap(t => Option(t.getMessage)).getOrElse("")
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if ((thrown + msg).contains(AccumErrors.Marker)) count.incrementAndGet()
    }
}

object AccumErrors {
  val Marker = "non-existent accumulator"

  def attach(): AccumErrors = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val a = new AccumErrors
    a.start()
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.ERROR, null)
    ctx.updateLoggers()
    a
  }
}

/** Process and filesystem readings taken from outside the engine. */
object Host {
  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Bytes read and written through Hadoop's local-file scheme so far. */
  def fileBytes: (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .filter(_.getScheme == "file").toSeq
    def sum(k: String) = st.map(s => Option(s.getLong(k)).map(_.longValue).getOrElse(0L)).sum
    (sum("bytesRead"), sum("bytesWritten"))
  }
}
