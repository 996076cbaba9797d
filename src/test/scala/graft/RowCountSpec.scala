package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.model.PropertyGraph
import graft.model.PropertyGraph.rowCount

/** Contract of `PropertyGraph.rowCount`, the one probe every fixpoint
  * round uses: it equals `Dataset.count()` on every frame shape the
  * loops hand it, and on a lazy local checkpoint it is the ONE job that
  * both materializes the checkpoint and counts it. */
class RowCountSpec extends AnyFunSuite {
  import TestSession._

  private def checkpointedRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case other => fail(s"not a checkpoint leaf: ${other.getClass}")
    }

  test("rowCount equals Dataset.count on empty, cached, filtered, aggregated and checkpointed frames") {
    val base = spark.range(0, 10000).select(col("id"), (col("id") % 37).as("g"))
    val cached = base.filter(col("g") < 20).cache()
    val lazyCp = base.filter(col("g") =!= 3).localCheckpoint(eager = false)
    val frames = Seq(
      "empty" -> base.limit(0),
      "empty filter" -> base.filter(col("id") < 0),
      "cached" -> cached,
      "filtered" -> base.filter(col("g") === 5),
      "aggregated" -> base.groupBy("g").agg(count(lit(1)).as("n")),
      "lazy checkpoint" -> lazyCp,
      "slice of lazy checkpoint" -> lazyCp.filter(col("g") > 30))
    try frames.foreach { case (what, df) =>
      assert(rowCount(df) == df.count(), what)
    } finally {
      cached.unpersist()
      PropertyGraph.freeLocalCheckpoint(lazyCp)
    }
  }

  test("rowCount on a lazy checkpoint is one job, materializes it, and the frame stays usable") {
    val prof = new JobProfile
    spark.sparkContext.addSparkListener(prof)
    val df = spark.range(0, 5000, 1, 4)
      .select(col("id"), (col("id") * 7 % 11).as("v"))
      .localCheckpoint(eager = false)
    try {
      val rdd = checkpointedRdd(df)
      assert(!rdd.isCheckpointed)
      assert(prof.drain(spark))
      prof.reset()
      val n = rowCount(df)
      assert(prof.drain(spark))
      assert(n == 5000L)
      assert(prof.snapshot.jobs == 1, prof.snapshot)
      assert(rdd.isCheckpointed)
      // a second action reads the checkpoint blocks
      assert(df.agg(sum("v")).head().getLong(0) ==
        (0L until 5000L).map(i => i * 7 % 11).sum)
    } finally {
      spark.sparkContext.removeSparkListener(prof)
      PropertyGraph.freeLocalCheckpoint(df)
    }
  }
}
