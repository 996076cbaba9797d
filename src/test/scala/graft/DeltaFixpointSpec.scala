package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.PropertyGraph.{gated, withCheckpoints}
import graft.operators.Analytics.deltaFixpoint

/** Contract of `Analytics.deltaFixpoint`'s probe schedule, driven by a
  * min-label propagation over a path graph `0 - 1 - … - (len-1)`. After
  * round k node i holds max(0, i - k), so exactly the nodes i >= k
  * change in round k: the delta has len - k rows, and round `len` is
  * the first with an empty delta (the convergence round).
  * - The loop probes even rounds only, so it stops at most one round
  *   after convergence, and its state equals the naive fixed-round
  *   unrolling for any `iters`.
  * - Every step's gate operand bounds its delta: it is the delta's
  *   exact count (probed round) or `bound` (unprobed round), never a
  *   count left over from an earlier round. */
class DeltaFixpointSpec extends AnyFunSuite {
  import TestSession._

  /** Labels after `k` synchronous rounds, replayed in memory. */
  private def naive(len: Int, k: Int): Map[Long, Long] = {
    var lab = Array.tabulate(len)(_.toLong)
    for (_ <- 1 to k) lab = Array.tabulate(len) { i =>
      val nbrs = Seq(i - 1, i + 1).filter(j => j >= 0 && j < len)
      (lab(i) +: nbrs.map(lab)).min
    }
    lab.zipWithIndex.map { case (l, i) => i.toLong -> l }.toMap
  }

  /** One round's record: its number, the gate operand the step got, and
    * the exact row count of the delta it joined. */
  private case class Step(round: Int, rows: Long, exact: Long)

  /** Runs the propagation through `deltaFixpoint`; returns the final
    * labels, the returned count and each step's record. */
  private def run(len: Int, iters: Int, bound: Long,
                  keepLastProbe: Boolean = false)
      : (Map[Long, Long], Long, Seq[Step]) = {
    val und = spark.range(0, len - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
      .union(spark.range(0, len - 1).select((col("id") + 1).as("a"), col("id").as("b")))
      .cache()
    val steps = Seq.newBuilder[Step]
    try withCheckpoints { ck =>
      val seed = ck.lazily(spark.range(0, len).select(col("id"), col("id").as("comp")))
      val (comp, n) = deltaFixpoint(ck, "spec", iters, seed, seed, bound,
          keepLastProbe = keepLastProbe)(
        step = (comp: DataFrame, delta: DataFrame, rows: Long) => {
          steps += Step(0, rows, delta.count())
          val cand = und.join(gated(delta.withColumnRenamed("id", "a"), rows), Seq("a"))
            .groupBy(col("b").as("id")).agg(min("comp").as("m"))
          comp.join(cand, Seq("id"), "left_outer")
            .select(col("id"),
              least(col("comp"), coalesce(col("m"), col("comp"))).as("comp"),
              (col("m") < col("comp")).as("chg"))
        },
        deltaOf = _.filter(col("chg")).select("id", "comp"),
        stateOf = _.select("id", "comp"))
      val labels = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rec = steps.result().zipWithIndex.map { case (st, i) => st.copy(round = i + 1) }
      (labels, n, rec)
    } finally und.unpersist()
  }

  private def checkOperands(len: Int, bound: Long, steps: Seq[Step]): Unit =
    steps.foreach { st =>
      assert(st.rows >= st.exact, s"round ${st.round}: operand below its delta: $st")
      assert(st.rows == st.exact || st.rows == bound,
        s"round ${st.round}: operand neither the delta's count nor the bound: $st")
      // the delta joined in round k is round k-1's: len - (k - 1) rows
      // (the seed delta of round 1 is every node)
      assert(st.exact == math.max(0L, len - st.round + 1L), st)
    }

  test("exact for iters below, at and above convergence, at most one round late") {
    for (len <- Seq(7, 8)) { // converges on round 7 (odd) and round 8 (even)
      val bound = len.toLong
      for (iters <- Seq(3, 4, len - 1, len, len + 1, len + 4)) {
        val (labels, _, steps) = run(len, iters, bound)
        assert(labels == naive(len, iters), s"len=$len iters=$iters")
        checkOperands(len, bound, steps)
        // probed on even rounds only: one round past convergence at most
        val expected = math.min(iters, if (len % 2 == 0) len else len + 1)
        assert(steps.size == expected, s"len=$len iters=$iters steps=$steps")
        // unprobed rounds hand the bound on; probed ones the exact count
        steps.filter(_.round > 1).foreach { st =>
          if ((st.round - 1) % 2 == 1) assert(st.rows == bound, st)
          else assert(st.rows == st.exact, st)
        }
      }
    }
  }

  test("keepLastProbe returns the exact count of the last round's delta") {
    for (iters <- Seq(3, 4)) {
      val (_, n, _) = run(7, iters, 7L, keepLastProbe = true)
      assert(n == 7L - iters, s"iters=$iters")
    }
    // a run that converges returns zero
    assert(run(7, 20, 7L, keepLastProbe = true)._2 == 0L)
  }
}
