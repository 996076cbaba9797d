package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.model.PropertyGraph
import graft.model.PropertyGraph.rowCount

/** Release contract of `PropertyGraph.withCheckpoints`, the one owner of
  * every loop's local checkpoints: the scope frees what it registered
  * on the error path too, and an operator built on it leaves the
  * session's persisted storage where it found it, plus the frame it
  * returns. */
class CheckpointScopeSpec extends AnyFunSuite {
  import TestSession._

  /** RDD ids of the checkpoint leaves a frame reads. */
  private def leafRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def storageInfo: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("withCheckpoints frees lazy and eager checkpoints when the body throws") {
    var held = Set.empty[Int]
    val err = intercept[IllegalStateException] {
      PropertyGraph.withCheckpoints { ck =>
        val read = ck.lazily(spark.range(0, 1000, 1, 4).toDF("id"))
        assert(rowCount(read) == 1000L)
        val unread = ck.lazily(spark.range(0, 10).toDF("id"))
        val eager = ck.own(
          spark.range(0, 500, 1, 2).toDF("id").localCheckpoint(eager = true))
        held = Seq(read, unread, eager).flatMap(leafRdds).toSet
        assert(held.size == 3)
        assert(held.subsetOf(persisted))
        throw new IllegalStateException("mid-loop failure")
      }
    }
    assert(err.getMessage == "mid-loop failure")
    assert((held & persisted).isEmpty, held & persisted)
    assert((held & storageInfo).isEmpty, held & storageInfo)
  }

  test("converted fixpoint operators return storage to the post-warm baseline plus their result") {
    graft.operators.Analytics.warmShared(spark, sf)
    val baseline = persisted
    val g = PropertyGraph.load(spark, sf)
    val ops = Seq("g_connected_components", "g_cc_incremental",
      "g_sssp_weighted", "g_widest_path", "g_topo_levels", "g_kcore",
      "g_paths_to").map(n => n -> (() => SparkEntry.queries(n)(spark, sf))) :+
      // the backward-distance prune forced on: its frame is per call too
      ("pathsTo with the prune on" -> (() => g.pathsTo("customer", 1L,
        "nation", 19L, maxDepth = 4,
        nodeLabels = graft.operators.GraphOps.plNodeLabels,
        edgeLabels = graft.operators.GraphOps.plEdgeLabels,
        withEdgeLabels = true, pruneActivationRows = 0L)))
    for ((name, op) <- ops; run <- 1 to 2) {
      val out = op()
      assert(out.count() > 0, s"$name run $run")
      val result = leafRdds(out)
      assert(result.nonEmpty, s"$name run $run returns no checkpoint")
      // compared as additions: the context cleaner may unpersist an
      // unreachable baseline RDD at any time
      assert(persisted -- baseline == result, s"$name run $run")
      out.queryExecution.analyzed.foreach {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
      assert((persisted -- baseline).isEmpty, s"$name run $run")
    }
  }
}
