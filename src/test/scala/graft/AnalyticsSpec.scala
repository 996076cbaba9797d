package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.PropertyGraph
import graft.operators.Analytics

class AnalyticsSpec extends AnyFunSuite {
  import TestSession._

  test("pagerank: ranks positive, mass bounded by SCALE") {
    val r = Analytics.pagerank(spark, sf)
    val stats = r.agg(min("r"), sum("r"), count(lit(1))).collect().head
    assert(stats.getLong(0) > 0, "all ranks positive (base term)")
    // total mass can only leak (dangling + floor), never grow
    assert(stats.getLong(1) <= Analytics.prScale * stats.getLong(2))
  }

  test("pagerank: region nodes accumulate the most rank") {
    val top = Analytics.pagerank(spark, sf)
      .orderBy(col("r").desc).limit(1).collect().head
    assert(top.getAs[String]("label") == "region")
  }

  test("connected components: single component containing region 0") {
    val c = Analytics.connectedComponents(spark, sf)
    val comps = c.select("comp").distinct().collect().map(_.getLong(0))
    // min-id propagation with enough iterations: everything that reaches
    // a region converges to that region's id (regions have the smallest ids)
    assert(comps.forall(_ < 10000000000000L),
      s"unconverged comp ids: ${comps.filter(_ >= 10000000000000L).take(5).mkString(",")}")
  }

  test("triangles: counts are non-negative and edges present") {
    val row = Analytics.triangles(spark, sf).collect().head
    assert(row.getAs[Long]("n_edges") > 0)
    assert(row.getAs[Long]("n_triangles") >= 0)
  }

  test("bfs: region 0 at depth 0, depths increase through the schema") {
    val d = Analytics.bfsDepth(spark, sf).collect()
      .map(r => (r.getAs[String]("label"), r.getAs[Long]("key")) -> r.getAs[Int]("depth"))
      .toMap
    assert(d(("region", 0L)) == 0)
    val g = PropertyGraph.load(spark, sf)
    val nations0 = g.edges.filter(col("elabel") === "IN_REGION" &&
      col("dst_key") === 0L).select("src_key").collect().map(_.getLong(0))
    nations0.foreach(k => assert(d(("nation", k)) == 1))
  }

  test("ppr: seed holds the max rank, mass spreads, unreachable stay zero") {
    val rows = SparkEntry.queries("g_ppr")(spark, sf).collect()
    val byNode = rows.map(r =>
      (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val seedRank = byNode(("customer", 1L))
    // the seed keeps its restart mass every iteration; sinks (regions)
    // can accumulate more, so "max" is not the invariant — the floor is
    assert(seedRank >= 15L * graft.operators.Analytics.prScale / 100L,
      s"seed lost its restart mass: $seedRank")
    assert(rows.count(_.getLong(2) > 0L) > 1,
      "mass must spread beyond the seed (degenerate seed?)")
    // nodes outside the seed's forward cone (other customers) stay 0
    assert(rows.count(_.getLong(2) == 0L) > 0, "expected unreachable zeros")
  }

  test("kcore: every survivor qualified with degree >= k") {
    val rows = SparkEntry.queries("g_kcore")(spark, sf).collect()
    assert(rows.nonEmpty, "3-core unexpectedly empty")
    rows.foreach { r =>
      assert(r.getAs[Long]("deg") >= graft.operators.Analytics.kcoreK.toLong,
        s"survivor below k: $r")
    }
  }

  test("kcore: matches an in-memory replay of the synchronous peeling rounds") {
    // exact model of the operator's contract (the oracle's unrolled
    // CTE): round i keeps the nodes whose degree among round i−1's
    // survivors is >= k, counting the undirected multigraph edge list
    // (both directions of every stored edge). The deg >= k check above
    // would pass a wrong peel; this compares every (label, key, deg).
    val g = PropertyGraph.load(spark, sf)
    val und = g.edges
      .select("src_label", "src_key", "dst_label", "dst_key").collect()
      .flatMap { r =>
        val a = (r.getString(0), r.getLong(1))
        val b = (r.getString(2), r.getLong(3))
        Seq(a -> b, b -> a)
      }
    var alive = g.nodes.select("label", "key").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    var deg = Map.empty[(String, Long), Long]
    for (_ <- 1 to Analytics.kcoreIters) {
      deg = und.filter { case (a, b) => alive(a) && alive(b) }
        .groupBy(_._1).map { case (a, es) => a -> es.length.toLong }
        .filter(_._2 >= Analytics.kcoreK)
      alive = deg.keySet
    }
    val got = SparkEntry.queries("g_kcore")(spark, sf).collect()
      .map(r => (r.getAs[String]("label"), r.getAs[Long]("key"),
        r.getAs[Long]("deg")))
    val want = deg.toSeq.map { case ((l, k), d) => (l, k, d) }
    assert(want.nonEmpty, "3-core unexpectedly empty")
    assert(got.length == got.distinct.length, "duplicate survivor rows")
    assert(got.sorted.toSeq == want.sorted)
  }

  test("hits: synthetic 1e6-degree hub does not wrap BIGINT") {
    // star graph: 10^6 spokes each pointing at one hub. The round-3
    // unnormalized contract grew ~SCALE·deg⁴ and wrapped negative at
    // deg ≳ 10⁴; the max-normalized fixed-point keeps every value in
    // [0, SCALE] regardless of degree.
    val deg = 1000000L
    // numeric contract: hub = id 0, spokes = ids 1..deg, spoke i → hub
    val nodes = spark.range(0, deg + 1).toDF("id")
    val edges = spark.range(1, deg + 1)
      .select(col("id").as("src"), lit(0L).as("dst"))
    val out = Analytics.hitsOn(nodes, edges, deg + 1).cache()
    val mins = out.agg(min("a"), min("h")).collect().head
    assert(mins.getLong(0) >= 0 && mins.getLong(1) >= 0,
      s"negative HITS value — BIGINT wrapped: $mins")
    val hub = out.filter(col("id") === 0L).collect().head
    val spoke = out.filter(col("id") =!= 0L).limit(1).collect().head
    out.unpersist()
    // hub is the unique authority at full scale; spokes are the hubs
    assert(hub.getAs[Long]("a") == Analytics.hitsScale, s"hub authority: $hub")
    assert(hub.getAs[Long]("h") == 0L)
    assert(spoke.getAs[Long]("a") == 0L && spoke.getAs[Long]("h") > 0L)
  }
}
