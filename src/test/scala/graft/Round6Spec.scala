package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, TextOps}

/** Round-6 operators: algorithm-level invariants (the oracle proves
  * cross-engine parity; these prove each op computes what its contract
  * claims) plus a concurrency probe for the SessionMemo discipline. */
class Round6Spec extends AnyFunSuite {
  import TestSession._

  test("d_kmeans_eval: one row per Lloyd round, inertia non-increasing, ppm is the exact floor ratio") {
    val rows = Similarity.kmeansEval(spark, sf).collect()
      .sortBy(_.getAs[Int]("round"))
    assert(rows.length == Similarity.kmIters)
    assert(rows.map(_.getAs[Int]("round")).toSeq == (1 to Similarity.kmIters))
    // every vector is assigned every round
    val ns = rows.map(_.getAs[Long]("n_vec")).distinct
    assert(ns.length == 1 && ns.head > 0, s"assignment counts drifted: ${ns.toSeq}")
    // Lloyd monotonicity: the centroid update can only shrink Σ dist
    val inertia = rows.map(_.getAs[Long]("inertia"))
    assert(inertia.zip(inertia.tail).forall { case (a, b) => b <= a },
      s"inertia increased across rounds: ${inertia.mkString(",")}")
    assert(rows.head.getAs[Long]("improvement_ppm") == 0L,
      "round 1 has no predecessor — improvement must be 0")
    rows.zip(rows.tail).foreach { case (prev, cur) =>
      val (ip, ic) = (prev.getAs[Long]("inertia"), cur.getAs[Long]("inertia"))
      assert(cur.getAs[Long]("improvement_ppm") == (ip - ic) * 1000000L / ip,
        s"improvement_ppm is not the exact floor ratio at round ${cur.getAs[Int]("round")}")
    }
  }

  test("d_simhash_eval: counts consistent with the two source pair sets") {
    val r = Dedup.simhashEval(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val (nPred, nTruth, nTp) = (row.getAs[Long]("n_pred"),
      row.getAs[Long]("n_truth"), row.getAs[Long]("n_tp"))
    assert(nTp <= math.min(nPred, nTruth), "true positives exceed a source set")
    // n_pred must equal the hamming<=3 subset of the checked pair op
    val shPairs = Dedup.dedupSimhash(spark, sf)
      .filter(col("hamming") <= Dedup.shEvalHam).count()
    assert(nPred == shPairs, s"pred $nPred != hamming<=${Dedup.shEvalHam} pairs $shPairs")
    // and n_truth the full jaccard truth (the d_ngram_jaccard surface)
    val jp = Dedup.ngramJaccard(spark, sf).count()
    assert(nTruth == jp, s"truth $nTruth != jaccard pairs $jp")
    val (p, rec) = (row.getAs[Long]("precision_ppm"), row.getAs[Long]("recall_ppm"))
    assert(p == (if (nPred == 0) 0L else nTp * 1000000L / nPred))
    assert(rec == (if (nTruth == 0) 0L else nTp * 1000000L / nTruth))
  }

  test("t_bpe_train: in-memory replay of every merge round") {
    // replay the whole training loop on the collected corpus: same
    // vocabulary collapse, same weighted pair counts, same (freq desc,
    // pair asc) argmax, same leftmost-non-overlap merge application
    var words: Map[String, Long] = graft.model.Tables(spark, sf, "documents")
      .select("text").collect().flatMap(_.getString(0).split(" "))
      .filter(_.length >= 2)
      .groupBy(identity).map { case (w, g) =>
        w.map(_.toString).mkString(" ") -> g.length.toLong
      }
    val got = TextOps.bpeTrain(spark, sf).collect()
      .sortBy(_.getAs[Int]("round"))
    assert(got.length == TextOps.bpeIters)
    got.foreach { r =>
      val pairCounts = scala.collection.mutable.Map.empty[String, Long]
      words.foreach { case (w, c) =>
        val sy = w.split(" ")
        (0 until sy.length - 1).foreach { i =>
          val p = sy(i) + " " + sy(i + 1)
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
        }
      }
      val (bestPair, bestFreq) =
        pairCounts.toSeq.sortBy { case (p, f) => (-f, p) }.head
      assert(r.getAs[String]("pair") == bestPair,
        s"round ${r.getAs[Int]("round")}: pair ${r.getAs[String]("pair")} != replay $bestPair")
      assert(r.getAs[Long]("freq") == bestFreq,
        s"round ${r.getAs[Int]("round")}: freq")
      val merged = bestPair.replace(" ", "")
      words = words.toSeq
        .map { case (w, c) => w.replace(bestPair, merged) -> c }
        .groupBy(_._1).map { case (w, g) => w -> g.map(_._2).sum }
    }
  }

  test("d_source_overlap: pair mass conserved and canonically ordered") {
    val rows = Dedup.sourceOverlap(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("source_x") <= r.getAs[String]("source_y"),
        "source pair not canonically ordered")
      assert(r.getAs[Long]("n_pairs") > 0)
    }
    // every jaccard pair lands in exactly one source-pair cell
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val jp = Dedup.ngramJaccard(spark, sf).count()
    assert(total == jp, s"overlap mass $total != jaccard pairs $jp")
  }

  test("g_rich_club: in-memory recompute at every threshold") {
    import graft.operators.Analytics
    val got = Analytics.richClub(spark, sf).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
          r.getAs[Long]("phi_ppm")))).toMap
    assert(got.keySet == Analytics.richClubKs.toSet)
    // independent recompute from the raw graph snapshot
    val g = graft.model.PropertyGraph.load(spark, sf)
    val pairs = g.edges
      .select(concat_ws("|", col("src_label"), col("src_key")).as("u"),
        concat_ws("|", col("dst_label"), col("dst_key")).as("v"))
      .collect().flatMap(r => Seq((r.getString(0), r.getString(1)),
        (r.getString(1), r.getString(0)))).toSet // simple, both directions
    val deg = pairs.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    Analytics.richClubKs.foreach { k =>
      val rich = deg.collect { case (n, d) if d > k => n }.toSet
      val e2 = pairs.count { case (u, v) => rich(u) && rich(v) }.toLong
      val n = rich.size.toLong
      val phi = if (n > 1) e2 * 1000000L / (n * (n - 1)) else 0L
      assert(got(k) == ((n, e2 / 2, phi)), s"k=$k: ${got(k)} != ($n, ${e2 / 2}, $phi)")
    }
  }

  test("s_range_recall: lsh hits are a subset of the radius truth, ppm exact") {
    val rows = Similarity.rangeRecall(spark, sf).collect()
    val truthProbes = Similarity.rangeSearch(spark, sf).collect()
      .groupBy(_.getAs[Long]("probe_id")).view.mapValues(_.length.toLong).toMap
    assert(rows.map(_.getAs[Long]("probe_id")).toSet == truthProbes.keySet)
    rows.foreach { r =>
      val (p, nT, nL, ppm) = (r.getAs[Long]("probe_id"), r.getAs[Long]("n_true"),
        r.getAs[Long]("n_lsh"), r.getAs[Long]("recall_ppm"))
      assert(nT == truthProbes(p), s"probe $p truth count")
      assert(nL <= nT, s"probe $p: lsh found $nL > truth $nT — not a subset")
      assert(ppm == nL * 1000000L / nT, s"probe $p ppm not the exact floor ratio")
    }
  }

  test("d_lsh_tuning: per-config counts coherent, shared truth, exact ppm") {
    val rows = Dedup.lshTuning(spark, sf).collect()
      .map(r => r.getAs[String]("config") -> r).toMap
    assert(rows.keySet == Dedup.lshConfigs.map(_._1).toSet)
    val truths = rows.values.map(_.getAs[Long]("n_truth")).toSet
    assert(truths.size == 1, "configs disagree on the shared truth count")
    assert(truths.head == Dedup.ngramJaccard(spark, sf).count())
    rows.values.foreach { r =>
      val (np, nt, tp) = (r.getAs[Long]("n_pred"), r.getAs[Long]("n_truth"),
        r.getAs[Long]("n_tp"))
      assert(tp <= math.min(np, nt), s"${r.getAs[String]("config")}: tp $tp")
      assert(r.getAs[Long]("precision_ppm") ==
        (if (np == 0) 0L else tp * 1000000L / np))
      assert(r.getAs[Long]("recall_ppm") ==
        (if (nt == 0) 0L else tp * 1000000L / nt))
    }
    // NOTE deliberately no cross-config monotonicity assertion: bucket
    // caps apply per layout, so subset relations between configs are
    // NOT invariants (a full-sig-identical cluster can survive the 1×9
    // cap while every single-minhash bucket it sits in is over cap) —
    // the harness MEASURES the trade-off rather than assuming it.
  }

  test("d_data_card: corpus mass conserved, rates exact, dup census matches the cluster op") {
    val rows = Dedup.dataCard(spark, sf).collect()
    val nDocs = graft.model.Tables(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "per-source doc counts do not sum to the corpus")
    val totalDup = rows.map(_.getAs[Long]("n_dup")).sum
    val clusterDup = Dedup.dedupCluster(spark, sf)
      .filter(col("canon_id") =!= col("doc_id")).count()
    assert(totalDup == clusterDup, s"dup census $totalDup != cluster op $clusterDup")
    rows.foreach { r =>
      val (n, d, k) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup"),
        r.getAs[Long]("n_keep"))
      assert(d <= n && k <= n)
      assert(r.getAs[Long]("dup_ppm") == d * 1000000L / n)
      assert(r.getAs[Long]("keep_ppm") == k * 1000000L / n)
    }
  }

  test("g_path_count: in-memory reverse-DP replay") {
    import graft.operators.Analytics
    val got = Analytics.pathCount(spark, sf).collect()
      .map(r => (r.getAs[String]("label"), r.getAs[Long]("key")) ->
        r.getAs[Long]("np")).toMap
    val g = graft.model.PropertyGraph.load(spark, sf)
    val edges = g.edges
      .select("src_label", "src_key", "dst_label", "dst_key").collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getString(2), r.getLong(3))))
    val target = ("region", 0L)
    var np = Map(target -> 1L)
    for (_ <- 1 to Analytics.pcIters) {
      val sums = edges.groupBy(_._1).view.mapValues(
        _.map(e => np.getOrElse(e._2, 0L)).sum).toMap
      np = (sums.keySet + target).iterator.map { v =>
        v -> ((if (v == target) 1L else 0L) + sums.getOrElse(v, 0L))
      }.filter(_._2 > 0).toMap
    }
    assert(got.nonEmpty && got == np,
      s"route counts differ: op ${got.size} rows vs replay ${np.size}")
  }

  test("SessionMemo: concurrent first access builds the value exactly once") {
    val memo = new graft.model.SessionMemo[String]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            memo(spark, "k") {
              builds.incrementAndGet(); Thread.sleep(50); "v"
            }
        })
      }
      assert(tasks.map(_.get()).distinct == Seq("v"))
      assert(builds.get() == 1,
        s"memo build ran ${builds.get()} times under concurrent first access")
    } finally pool.shutdown()
  }
}
