package graft

import org.apache.spark.sql.SparkSession

/** C1 — canonical session builder (SURVEY.md §2.0): AQE + skew-join on,
  * shuffle partitions sized to cores, UTC, Encoders only (no Kryo config —
  * everything on the wire is Tungsten rows). `spark-submit` deployments
  * keep their submitted master/conf; local callers get local[cores]. */
object Sessions {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // spark-submit injects spark.master: the cluster's partition count is
    // its own (--conf), not twice the driver JVM's cores — builder options
    // would override the submitted value
    if (sys.props.contains("spark.master")) b
    else b.config("spark.sql.shuffle.partitions", (2 * cores).toString)
  }

  /** Cores for the tool mains: `SPARK_GRAFT_CPUS` when set, else the host's. */
  def toolCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local[cores] session, UI off, WARN logs; `conf` overrides the
    * builder's settings. */
  def local(cores: Int, conf: (String, String)*): SparkSession = {
    val s = conf.foldLeft(builder(cores)) { case (b, (k, v)) => b.config(k, v) }
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
