package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: run one `SparkEntry.queries` entry with a job-level
  * stopwatch — prints every Spark job's wall time plus the total job
  * count. This is the attribution a driver-orchestrated row
  * (lifecycle walks, graph serves, bucket rewrites) needs, where a
  * final-plan `Explain` says nothing because the time lives in the
  * NUMBER of scheduled jobs, not any one plan. Runs the query once
  * untimed (codegen/JIT warm), then once profiled. Not part of the
  * driver contract.
  *
  * Next to the job count it prints the Janino compiles of the profiled
  * pass (`CodegenMetrics`' compile counter; its time histogram keeps a
  * decaying sample, so no compile-time total is printed). The warm pass
  * runs the same input, so only compiles a row does on EVERY run show —
  * e.g. per-insert graph walks scoring fresh vectors — never the ones a
  * new query input would add. */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: ProfileQ <queryName> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val done = new java.util.concurrent.CopyOnWriteArrayList[(Int, Double, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (j.time,
          j.stageInfos.lastOption.map(_.name).getOrElse("?")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, site) = starts.getOrDefault(j.jobId, (j.time, "?"))
        done.add((j.jobId, (j.time - t0) / 1e3, site))
      }
    })
    def force(df: org.apache.spark.sql.DataFrame): Unit = {
      df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
        .agg(bit_xor(col("h"))).collect(); ()
    }
    force(SparkEntry.queries(name)(spark, sfDir)) // warm, untimed
    done.clear(); starts.clear()
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = compiles.getCount
    val t0 = System.nanoTime()
    force(SparkEntry.queries(name)(spark, sfDir))
    val wall = (System.nanoTime() - t0) / 1e9
    val compiled = compiles.getCount - c0
    import scala.jdk.CollectionConverters._
    val all = done.asScala.toSeq.sortBy(_._1)
    all.foreach { case (id, s, site) =>
      println(f"JOB $id%4d ${s}%8.3f s  $site") }
    println("BY SITE (jobs, total s):")
    all.groupBy(_._3).toSeq
      .map { case (site, js) => (site, js.size, js.map(_._2).sum) }
      .sortBy(-_._3)
      .foreach { case (site, n, s) => println(f"  $n%3d ${s}%8.3f  $site") }
    println(f"PROFILE $name: ${all.size} jobs, $compiled codegen compiles, " +
      f"${all.map(_._2).sum}%.3f s summed, ${wall}%.3f s wall")
    spark.stop()
  }
}
