package graft.util

import java.io.IOException
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.FaultyFs

class TreeCopySuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a failed file copy fails the call only after every started copy has finished") {
    FaultyFs.install(spark)
    val root = Files.createTempDirectory("graft_tree_copy").toString
    val src = Paths.get(root, "src")
    Files.createDirectories(src)
    (0 until 12).foreach(i => Files.write(src.resolve(f"f$i%02d"), Array.fill(64)(i.toByte)))
    val fs = new Path(FaultyFs.uri(root)).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the first file in listing (= copy) order fails at once, while
    // every other copy is still running
    val first = fs.listStatus(new Path(FaultyFs.uri(src.toString))).head.getPath.getName
    val plan = FaultyFs.plan(root)
    plan.onCreate = p =>
      if (p.getName == first) throw new IOException("injected create failure")
      else Thread.sleep(300)
    val staging = Paths.get(root, "staging")
    def written(): Set[(String, Long)] = {
      val w = Files.walk(staging)
      try w.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => staging.relativize(p).toString -> Files.size(p)).toSet
      finally w.close()
    }
    try {
      intercept[IOException](TreeCopy.copy(fs, new Path(FaultyFs.uri(src.toString)),
        new Path(FaultyFs.uri(staging.toString)), spark.sparkContext.hadoopConfiguration))
      val atReturn = written()
      Thread.sleep(1500)
      assert(written() == atReturn, "copies kept writing into the staging dir after copy returned")
      assert(atReturn.size == 11, s"every other file was copied before the call failed: $atReturn")
    } finally FaultyFs.drop(root)
  }
}
