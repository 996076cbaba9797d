package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Relational, TextOps}

/** Round-5 features: grouping sets / listagg / ntile / gaps-islands /
  * exact-moment correlation / set ops, degree assortativity, neighbor
  * Jaccard, DF vocabulary pruning, MAD outliers, conditional bigrams —
  * semantic invariants the oracle hash can't state directly, plus the
  * plan properties the 100 TB story depends on. */
class Round5Spec extends AnyFunSuite {
  import TestSession._

  test("q_corr: exact-moment correlation agrees with Spark's float corr") {
    // the integer-moment algebra must reproduce the textbook estimator;
    // Spark's corr() is the float reference (±1e-4 tolerates its
    // partial-agg drift — the drift is WHY the operator exists)
    val exact = Relational.qCorr(spark, sf).collect()(0)
      .getAs[Double]("corr_qty_price")
    val ref = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect()(0).getAs[Double]("c")
    assert(math.abs(exact - ref) < 1e-4, s"exact=$exact float=$ref")
    assert(exact >= -1.0 && exact <= 1.0)
  }

  test("g_assortativity: in [-1,1] and moments match a direct recompute") {
    val row = Analytics.assortativity(spark, sf).collect()(0)
    val r = row.getAs[Double]("assortativity")
    assert(r >= -1.0 && r <= 1.0, s"assortativity out of range: $r")
    // edge-row count = 2 * stored edges (both directions)
    val edges = graft.model.PropertyGraph.load(spark, sf).edges.count()
    assert(row.getAs[Long]("n_edge_rows") == 2 * edges)
  }

  test("g_jaccard_neighbors: ppm bounded, one pair verified brute-force") {
    val rows = Analytics.jaccardNeighbors(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val jac = r.getAs[Long]("jac_ppm")
      assert(jac >= 0 && jac <= 1000000, s"jaccard ppm out of range: $r")
    }
    // brute-force the top pair's neighbor sets straight off the edges
    val top = rows.head
    val (p1, p2) = (top.getAs[Long]("p1"), top.getAs[Long]("p2"))
    val hp = graft.model.PropertyGraph.load(spark, sf).edges
      .filter(col("elabel") === "HAS_PART")
      .select(col("src_key").as("o"), col("dst_key").as("p"))
    val n1 = hp.filter(col("p") === p1).select("o").collect().map(_.getLong(0)).toSet
    val n2 = hp.filter(col("p") === p2).select("o").collect().map(_.getLong(0)).toSet
    val expected = n1.intersect(n2).size.toLong * 1000000L / n1.union(n2).size
    assert(top.getAs[Long]("jac_ppm") == expected,
      s"top pair ($p1,$p2): got ${top.getAs[Long]("jac_ppm")}, brute force $expected")
  }

  test("q_gaps_islands: island arithmetic reconciles with distinct days") {
    val out = Relational.qGapsIslands(spark, sf)
    val perCust = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey"),
        expr("CAST(to_unix_timestamp(o_orderdate) div 86400 AS BIGINT)").as("day"))
      .distinct().groupBy("o_custkey").agg(count(lit(1)).as("n_days"))
    val joined = out.join(perCust, Seq("o_custkey")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (ni, run, nd) = (r.getAs[Long]("n_islands"),
        r.getAs[Long]("longest_run"), r.getAs[Long]("n_days"))
      assert(ni >= 1 && run >= 1, s"degenerate islands: $r")
      assert(run <= nd, s"longest run exceeds day count: $r")
      assert(ni <= nd, s"more islands than days: $r")
    }
  }

  test("q_ntile: quartiles partition each segment near-evenly") {
    val rows = Relational.qNtile(spark, sf).collect()
    rows.groupBy(_.getAs[String]("segment")).foreach { case (seg, rs) =>
      val sizes = rs.groupBy(_.getAs[Int]("quartile")).view.mapValues(_.length)
      assert(sizes.keys.toSet == Set(1, 2, 3, 4), s"$seg missing a quartile")
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$seg quartiles uneven: $sizes")
    }
  }

  test("q_grouping_sets: exactly the two declared grains, via one Expand") {
    val rows = Relational.qGroupingSets(spark, sf).collect()
    val (byNation, byYear) = rows.partition(_.getAs[Int]("yr") == -1)
    assert(byNation.forall(_.getAs[String]("nation") != "ALL"))
    assert(byYear.forall(_.getAs[String]("nation") == "ALL"))
    assert(byNation.nonEmpty && byYear.nonEmpty)
    // both grains sum to the same order count — one pass, no grand total
    assert(byNation.map(_.getAs[Long]("n_orders")).sum ==
      byYear.map(_.getAs[Long]("n_orders")).sum)
    val plan = Relational.qGroupingSets(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"grouping sets did not expand map-side:\n$plan")
  }

  test("q_string_agg: rosters are sorted and sized consistently") {
    Relational.qStringAgg(spark, sf).collect().foreach { r =>
      val names = r.getAs[String]("roster").split('|')
      assert(names.length == r.getAs[Long]("n_suppliers"), s"size mismatch: $r")
      assert(names.sameElements(names.sorted), s"roster not sorted: $r")
    }
  }

  test("t_df_prune: buckets partition the vocabulary, df mass conserved") {
    val rows = TextOps.dfPrune(spark, sf).collect()
    val vocab = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(array_distinct(split(col("text"), " "))).as("t"))
      .agg(countDistinct(col("t")).as("v"), count(lit(1)).as("mass")).collect()(0)
    assert(rows.map(_.getAs[Long]("n_terms")).sum == vocab.getAs[Long]("v"))
    assert(rows.map(_.getAs[Long]("total_df")).sum == vocab.getAs[Long]("mass"))
  }

  test("t_mad_outliers: med/mad verified against an in-memory recompute") {
    val rows = TextOps.madOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val bySrc = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    def lowerMedian(xs: Array[Long]): Long = {
      val s = xs.sorted; s((s.length + 1) / 2 - 1)
    }
    rows.foreach { r =>
      val xs = bySrc(r.getAs[String]("source")).map(_._2)
      val med = lowerMedian(xs)
      val mad = lowerMedian(xs.map(x => math.abs(x - med)))
      assert(r.getAs[Long]("med") == med, s"median mismatch: $r")
      assert(r.getAs[Long]("mad") == mad, s"MAD mismatch: $r")
      assert(r.getAs[Long]("n_outliers") ==
        xs.count(x => math.abs(x - med) > 3 * mad), s"outlier count: $r")
    }
  }

  test("t_bigram_cond: conditional mass never exceeds 1e6 ppm") {
    val rows = TextOps.bigramCond(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ppm = r.getAs[Long]("cond_ppm")
      assert(ppm >= 0 && ppm <= 1000000, s"cond_ppm out of range: $r")
      assert(r.getAs[Long]("cb") >= 1)
    }
  }

  test("hexSlice: exact parity with the composed instr/substr form, codegen'd") {
    import org.apache.spark.sql.functions.{expr, lit, md5}
    import spark.implicits._
    // parity over real md5 strings at every (start, len) the engine uses
    val h = spark.range(500).select(md5($"id".cast("string")).as("h32"))
    for ((start, len) <- Seq((1, 15), (1, 10), (6, 5), (11, 5), (1, 4), (1, 2), (3, 1))) {
      val composed = (0 until len).map { i =>
        expr(s"instr('0123456789abcdef', substr(h32, ${start + i}, 1)) - 1") *
          lit(1L << (4 * (len - 1 - i)))
      }.reduce(_ + _)
      val diff = h.select(
        graft.functions.VectorExprs.hexSlice($"h32", start, len).as("a"),
        composed.cast("long").as("b")).filter($"a" =!= $"b").count()
      assert(diff == 0, s"hexSlice($start, $len) diverges from composed form")
    }
    // contract edges: out-of-range position contributes 0, non-hex −1
    val edge = Seq("zz", "a").toDF("h32").select(
      graft.functions.VectorExprs.hexSlice($"h32", 1, 3).as("v")).collect()
    assert(edge(0).getLong(0) == ((-1L * 16 - 1) * 16 + 0)) // z,z,out
    assert(edge(1).getLong(0) == 10L * 256)                 // a,out,out
    // stays inside whole-stage codegen (no CodegenFallback)
    val p = h.select(graft.functions.VectorExprs.hexSlice($"h32", 1, 15).as("v"))
    p.collect()
    assert(p.queryExecution.executedPlan.toString.contains("*(1)"),
      "hexSlice fell out of whole-stage codegen")
  }

  test("d_dedup_eval: confusion-count identities hold") {
    val r = graft.operators.Dedup.dedupEval(spark, sf).collect()(0)
    val (p, t, tp) = (r.getAs[Long]("n_pred"), r.getAs[Long]("n_truth"),
      r.getAs[Long]("n_tp"))
    assert(tp <= p && tp <= t, s"tp exceeds a side: $r")
    assert(r.getAs[Long]("precision_ppm") <= 1000000)
    assert(r.getAs[Long]("recall_ppm") <= 1000000)
  }

  test("q_bloom_prejoin: semi-join reduction filters the fact side and changes nothing") {
    import org.apache.spark.sql.functions.{count => fcount}
    // result identical to the plain join (the oracle states this too —
    // here we also assert the REDUCTION: the bloom probes drop most of
    // the fact before the real join ever sees it)
    val out = Relational.qBloomPrejoin(spark, sf)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val part = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_size") <= 5).select("p_partkey")
    val plainRows = li.join(part, col("l_partkey") === col("p_partkey")).count()
    val factRows = li.count()
    assert(out.agg(fcount(lit(1))).collect()(0).getLong(0) ==
      part.join(li, col("p_partkey") === col("l_partkey"), "left_semi").count(),
      "one output row per matched part")
    // the join feeds ≤ fact rows and ≥ true matches; with a 2²⁰-bit
    // k=3 bloom over this key count, false positives are ~0, so the
    // surviving side should be well under half the fact table
    assert(plainRows * 2 < factRows,
      s"test premise: the dim filter must be selective ($plainRows vs $factRows)")
    assert(out.collect().map(_.getAs[Long]("n_items")).sum == plainRows,
      "bloom pre-filter changed the join result")
  }

  test("GraphX LPA matches the DataFrame labels exactly") {
    val df = Analytics.labelPropagation(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val gx = graft.operators.GraphXAnalytics.lpaGraphX(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gx.size == df.size)
    assert(gx == df, "per-node community labels diverge between the two engines")
  }

  test("q_cdc_diff: statuses reconcile with the membership arithmetic") {
    val out = Relational.qCdcDiff(spark, sf).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_keys")).toMap
    val keys = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0))
    def n(p: Long => Boolean) = keys.count(p).toLong
    assert(out("inserted") == n(k => k % 7 == 0 && k % 5 != 0))
    assert(out("deleted") == n(k => k % 7 != 0 && k % 5 == 0))
    assert(out("changed") == n(k => k % 7 != 0 && k % 5 != 0 && k % 3 == 0))
    assert(out.values.sum == n(k => k % 7 != 0 || k % 5 != 0))
  }

  test("m_modality_dispatch: sniffing recovers every container, bytes reconcile") {
    val rows = graft.operators.Multimodal.modalityDispatch(spark, sf).collect()
    assert(rows.map(_.getAs[String]("modality")).sorted
      .sameElements(Array("jpeg", "png", "wav")))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_match") == r.getAs[Long]("n_files"),
        s"magic-byte detection missed a container: $r")
    }
    val total = spark.read.parquet(s"$sf/documents.parquet")
      .agg(org.apache.spark.sql.functions.sum(length(col("text")))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("body_bytes")).sum == total,
      "magic prefix leaked into the body byte count")
  }

  test("d_entity_resolution: every dirty record resolves to its true entity at distance 1") {
    val rows = graft.operators.Dedup.entityResolution(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("correct"), s"wrong entity: $r")
      assert(r.getAs[Long]("lev") == 1, s"one-char corruption must be distance 1: $r")
    }
  }

  test("g_random_walk: every hop is a real edge, walks are reproducible") {
    val out1 = Analytics.randomWalk(spark, sf).collect()
    val out2 = Analytics.randomWalk(spark, sf).collect()
    assert(out1.map(_.toString).sorted.sameElements(out2.map(_.toString).sorted),
      "walks are not reproducible across runs")
    // validate each consecutive pair against the undirected edge set
    val g = graft.model.PropertyGraph.load(spark, sf)
    val code = Map("region" -> 0L, "nation" -> 1L, "customer" -> 2L,
      "supplier" -> 3L, "part" -> 4L, "order" -> 5L)
    val edges = g.edges.select("src_label", "src_key", "dst_label", "dst_key")
      .collect().flatMap { r =>
        val a = code(r.getString(0)) * 10000000000000L + r.getLong(1)
        val b = code(r.getString(2)) * 10000000000000L + r.getLong(3)
        Seq((a, b), (b, a))
      }.toSet
    out1.foreach { r =>
      val hops = r.getAs[String]("path").split('>').map(_.toLong)
      assert(hops.length == Analytics.walkSteps + 1, s"wrong walk length: $r")
      hops.sliding(2).foreach { case Array(u, v) =>
        assert(edges.contains((u, v)), s"walk used a non-edge $u->$v: $r")
      }
      assert(hops.last == r.getAs[Long]("end_id"))
    }
  }

  test("q_unpivot: long form re-aggregates to the pivot exactly") {
    val long = Relational.qUnpivot(spark, sf).collect()
    assert(long.length == 25, "5 segments x 5 priorities, zero-filled")
    val total = long.map(_.getAs[Long]("n_orders")).sum
    val orders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(total == orders, "unpivoted counts must cover every order")
  }

  test("g_bfs_depth: level joins broadcast below the gate (hint survives)") {
    // the op returns an eager checkpoint (block-retention discipline),
    // so audit the EXTRACTED level step the loop runs: under the cap
    // its joins must plan as broadcasts; past it the hints must drop
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val vis = Seq((1L, 1L, 0)).toDF("seed", "node", "d")
    val plan = Analytics.bfsLevel(und, vis, vis, 1L, 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"gated frontier broadcast missing at small scale:\n$plan")
    val ungated = Analytics.bfsLevel(und, vis, vis, 500001L, 1)
      .queryExecution.optimizedPlan.toString
    assert(!ungated.toLowerCase.contains("broadcast"),
      s"level step past the cap still hints broadcast:\n$ungated")
  }

  test("multiSourceBfs: a seeds x nodes bound past the cap drops the hints") {
    // the multi-seed consumers gate on seeds × nodes: 25 nation seeds
    // over 18,630 nodes (sf0.01) stay under the 500k cap, over 20,001
    // nodes they pass it and the level plans without a broadcast hint
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val vis = Seq((1L, 1L, 0), (3L, 3L, 0)).toDF("seed", "node", "d")
    val under = Analytics.bfsLevel(und, vis, vis, 25L * 18630L, 1)
    assert(under.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("broadcast"), "bound under the cap lost its hints")
    val over = Analytics.bfsLevel(und, vis, vis, 25L * 20001L, 1)
    val plan = over.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("broadcast"),
      s"multi-seed bound past the cap still hints broadcast:\n$plan")
    assert(over.as[(Long, Long, Int)].collect().toSet ==
      Set((1L, 2L, 1), (3L, 1L, 1)), "level rows changed with the gate")
  }
}
