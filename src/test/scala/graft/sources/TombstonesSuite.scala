package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The three lazily deleting layouts mask their reads through one
  * [[Tombstones]] set, so its broadcast gate holds on every read of
  * every one of them. */
class TombstonesSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A layout built under `root` with some ids tombstoned: `read` is its
    * masked serve call, `vacuum` its physical removal, if it has one. */
  private case class Masked(read: () => DataFrame, vacuum: Option[() => Unit])

  private val layouts: Seq[(String, String => Masked)] = Seq(
    "InvertedIndex.bm25" -> { root =>
      val idx = new InvertedIndex(spark, s"$root/inv", buckets = 8)
      idx.build(Seq((1L, "merge sort beats bubble sort"), (2L, "sort merge join strategy"),
        (3L, "unrelated text entirely"), (4L, "another sort merge document"),
        (5L, "no match here")).toDF("doc_id", "text"), "doc_id", col("text"))
      idx.delete(Seq(4L, 5L).toDF("doc_id"))
      Masked(() => idx.bm25(Seq("sort", "merge"), 10), Some(() => idx.vacuum()))
    },
    "QueryStore.percolate" -> { root =>
      val qs = new QueryStore(spark, s"$root/qs", buckets = 8)
      qs.build(Seq(("alert1", "sort", "must"), ("alert1", "spark", "should"),
        ("alert2", "join", "must"), ("alert3", "merge", "must")).toDF("query_id", "term", "clause"))
      qs.delete(Seq("alert2").toDF("query_id"))
      val docs = Seq((1L, "sort merge spark"), (2L, "sort merge join spark"))
        .toDF("doc_id", "text")
      Masked(() => qs.percolate(docs, "doc_id", col("text")), Some(() => qs.vacuum()))
    },
    "GraphIndex.searchTopK" -> { root =>
      // a chain whose only path to the best node runs through the
      // tombstoned one: it routes, but never returns
      val chain = Seq((0L, Seq(1f, 0f)), (1L, Seq(0.5f, 0.5f)), (2L, Seq(0f, 1f)))
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      val gi = new GraphIndex(spark, s"$root/g", buckets = 4)
      gi.build(Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"))
      gi.delete(Seq(1L).toDF("id"))
      Masked(() => gi.searchTopK(chain, "vec_id", "embedding", Array(0f, 1f),
        k = 3, beamWidth = 3, entryId = Some(0L)), None)
    })

  private def readsTombstones(p: LogicalPlan): Boolean = p.collectLeaves().exists {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.exists(_.getName == "tombstones")
      case _ => false
    }
    case _ => false
  }

  /** The sorted rows of `read` and, for every anti-join of a tombstone
    * table in the queries it ran, whether it carries a join hint. */
  private def run(read: () => DataFrame): (Seq[String], Seq[Boolean]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val rows = try {
      val r = read().collect().map(_.toString).toSeq.sorted
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    val hints = plans.toArray(Array.empty[LogicalPlan]).toSeq.flatMap(_.collect {
      case j: Join if j.joinType == LeftAnti && readsTombstones(j.right) =>
        j.hint.rightHint.exists(_.strategy.isDefined)
    })
    (rows, hints)
  }

  test("mask size gate: past maxBytes no layout forces the broadcast") {
    for ((name, open) <- layouts) {
      val m = open(Files.createTempDirectory("graft_tomb_gate").toString)
      // default gate (32 MiB): the tiny tombstone table keeps the hint
      val (small, hinted) = run(m.read)
      assert(hinted.nonEmpty && hinted.forall(identity),
        s"$name: under the gate every mask anti-join carries the broadcast hint: $hinted")
      // over the gate: same rows, the hint gone from every mask (AQE may
      // still broadcast from actual sizes; the engine no longer forces it)
      spark.conf.set(Tombstones.MaskBroadcastKey, "0")
      try {
        val (big, unhinted) = run(m.read)
        assert(big === small, s"$name: the gate must not change results")
        assert(unhinted.nonEmpty && !unhinted.contains(true),
          s"$name: over the gate the forced broadcast hint must be dropped: $unhinted")
        // a vacuum over the gate stays correct, and leaves no mask
        m.vacuum.foreach { vacuum =>
          vacuum()
          val (after, masks) = run(m.read)
          assert(after === small && masks.isEmpty, s"$name: after vacuum $after, masks $masks")
        }
      } finally spark.conf.unset(Tombstones.MaskBroadcastKey)
    }
  }
}
