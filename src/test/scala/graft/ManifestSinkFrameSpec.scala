package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Error path of the manifest sinks' commit frame: a batch that fails
  * mid-job propagates its exception, publishes no manifest, and leaves
  * no cached frame behind in the session. */
class ManifestSinkFrameSpec extends AnyFunSuite {
  import TestSession._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `n` rows of `id` from a range (not a local relation, so the
    * optimizer cannot fold the failure away) whose `bad`-th row raises
    * "sink batch failed" when a job evaluates it. */
  private def ids(n: Long, bad: Long = -1L): DataFrame =
    spark.range(0L, n, 1L, 2).select(
      when(col("id") === bad, raise_error(lit("sink batch failed")).cast("long"))
        .otherwise(col("id")).as("id"))

  /** Publishes version 0 from `good`, then feeds `failing` as batch 1.
    * AQE is off while the failing batch runs: a cached frame's blocks
    * are then registered when the job that fills them is planned, so a
    * failure in that job shows whether the sink releases them. Under
    * AQE a failing map stage aborts before the cache registers. */
  private def failedBatchLeavesNothing(name: String,
      sink: String => (DataFrame, Long) => Unit,
      good: DataFrame, failing: DataFrame): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    sink(dir)(good, 0L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/manifest-0")))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val before = persisted
    val err = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      intercept[Exception](sink(dir)(failing, 1L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("sink batch failed")), err)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/manifest-1")),
      "a failed batch published its manifest")
    val leaked = persisted -- before
    assert(leaked.isEmpty, s"cached RDDs left by the failed batch: $leaked")
  }

  test("st_topk_sketch: a batch failing mid-job propagates, publishes no " +
      "manifest and leaves no cached frame") {
    failedBatchLeavesNothing("topkfail", Streams.topkSketchSink,
      ids(40).toDF("k"), ids(40, bad = 17).toDF("k"))
  }

  test("st_degree_incremental: a batch failing mid-job propagates, " +
      "publishes no manifest and leaves no cached frame") {
    def edges(df: DataFrame) = df.select(col("id").as("a"), (col("id") + 1).as("b"))
    failedBatchLeavesNothing("degfail", Streams.degIncSink,
      edges(ids(20)), edges(ids(20, bad = 7)))
  }
}
