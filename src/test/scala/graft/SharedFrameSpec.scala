package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.SessionMemo

/** Cross-query frames are session memos: the first call of a query that
  * reads one builds it, and a later call in the same session builds
  * nothing and returns the same rows. Each case runs in a fresh
  * session; a graph query's session has its graph memos (the snapshot,
  * node and edge counts, the numeric graph, the co projection) built
  * first, so what its first call builds is the frame it shares with
  * its family. */
class SharedFrameSpec extends AnyFunSuite {
  import TestSession._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toIndexedSeq

  private def builds[T](body: => T): (T, Long) = {
    val b0 = SessionMemo.buildCount.get()
    val v = body
    (v, SessionMemo.buildCount.get() - b0)
  }

  for (name <- Seq("s_ann_ivf", "d_containment", "g_triangles",
      "g_pr_convergence"))
    test(s"$name builds its shared frame once per session") {
      val session = spark.newSession()
      if (name.startsWith("g_")) graft.operators.Analytics.warmShared(session, sf)
      val q = SparkEntry.queries(name)
      val (first, firstBuilds) = builds(rows(q(session, sf)))
      assert(firstBuilds > 0,
        s"$name: the first call in a session built no session memo")
      val (second, secondBuilds) = builds(rows(q(session, sf)))
      assert(secondBuilds == 0,
        s"$name: the second call built $secondBuilds session memos")
      assert(second == first, s"$name: the second call's rows differ")
    }
}
