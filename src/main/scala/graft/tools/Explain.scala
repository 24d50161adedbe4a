package graft.tools

import graft.Sessions

/** Dev utility: print the formatted physical plan + timing of one
  * SparkEntry query. Usage: runMain graft.tools.Explain <query> <sfDir>. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = Sessions.toolCores
    // one shuffle partition per core, as graft.Bench runs
    val spark = Sessions.local(cpus, "spark.sql.shuffle.partitions" -> cpus.toString)
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    val t0 = System.nanoTime()
    val n = df.count()
    println(s"rows=$n wall=${(System.nanoTime() - t0) / 1e9}s")
    spark.stop()
  }
}
