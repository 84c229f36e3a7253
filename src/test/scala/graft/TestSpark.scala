package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per test JVM (build.sbt forks two, each running
  * its suites one at a time; getOrCreate makes this a process-wide
  * singleton). The large codegen cache lets suites that re-run one query
  * shape many times, such as the layout crash matrix, compile it once. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .getOrCreate()
}
