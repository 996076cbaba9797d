package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.graphx.{Edge => GXEdge, Graph => GXGraph}
import graft.model.PropertyGraph

/** GraphX/Pregel execution path for iterative analytics (SURVEY.md §3:
  * "GraphX Pregel as an alternative execution path where profitable").
  *
  * When it IS profitable: deep-diameter propagation. The DataFrame loop
  * pays one shuffle + one materialization per round; Pregel keeps the
  * vertex state partition-resident across supersteps and only ships
  * messages, so a 50-round propagation on a high-diameter graph (road
  * networks, long chains) avoids 50 plan/materialization round-trips.
  * On the low-diameter TPC-H graph (converges in ~7 rounds) the
  * DataFrame path wins — which is why the ORACLE-CHECKED operator stays
  * the DataFrame one and this path is equivalence-tested against it
  * (Round2Spec: identical component assignment at the fixed point).
  *
  * Vertex ids reuse the same label-coded Longs as the DataFrame path
  * (`labelCode·10¹³ + key` — no zipWithIndex, no id-assignment shuffle),
  * so min-id components are directly comparable across both engines.
  */
object GraphXAnalytics {

  /** FW/BW min-label fixpoint for g_scc's trimmed cyclic core — the
    * DEEP-DIAMETER case this module exists for (module doc above): the
    * core's directed diameter is ~23 at sf0.1 and grows with chain
    * length, and a DataFrame round costs a full plan/broadcast/
    * checkpoint trip (~0.3-0.9 s each; worse, the pointer-jumped
    * variant's self-join rounds degraded superlinearly), while a
    * Pregel superstep on the partition-resident vertex state costs
    * milliseconds and is SEMI-NAIVE for free (only improved labels
    * send). Vertex attr = (f, b): f = min id that reaches v (ships
    * src→dst), b = min id v reaches (ships dst→src), merged
    * component-wise — one superstep carries both fixpoints. Runs to
    * convergence (≤ cap); the caller gets a VERIFIED fixpoint: one
    * post-Pregel aggregateMessages asserts no improving message
    * remains (the ccLabels loud-abort contract, stronger than a round
    * cap — it checks the fixpoint itself). Returns an eagerly
    * local-checkpointed (id, f, bk) frame (caller frees it); all
    * Pregel-side caches are unpersisted here after materialization. */
  def sccCoreLabels(s: SparkSession, core: DataFrame, cap: Int): DataFrame = {
    import s.implicits._
    // partition count SCALED TO THE CORE (the edge width rule), not the
    // session default: a superstep schedules a task wave per partition,
    // and 24+ rounds x 32 near-empty partitions cost ~1 s/round in pure
    // scheduling (measured 23 s for the whole fixpoint at sf0.1's
    // 23 k-edge core)
    val parts = PropertyGraph.edgeParts(s, PropertyGraph.rowCount(core))
    val verts = core.select(col("a").as("id"))
      .union(core.select(col("b").as("id"))).distinct()
      .coalesce(parts)
      .rdd.map(r => (r.getLong(0), (r.getLong(0), r.getLong(0))))
    val es = core.coalesce(parts)
      .rdd.map(r => GXEdge(r.getLong(0), r.getLong(1), 1))
    val g0 = GXGraph(verts, es)
    val res = g0.pregel((Long.MaxValue, Long.MaxValue), maxIterations = cap)(
      (_, attr, msg) =>
        (math.min(attr._1, msg._1), math.min(attr._2, msg._2)),
      t => {
        val fw = if (t.srcAttr._1 < t.dstAttr._1)
          Iterator((t.dstId, (t.srcAttr._1, Long.MaxValue)))
        else Iterator.empty
        val bw = if (t.dstAttr._2 < t.srcAttr._2)
          Iterator((t.srcId, (Long.MaxValue, t.dstAttr._2)))
        else Iterator.empty
        fw ++ bw
      },
      (m1, m2) => (math.min(m1._1, m2._1), math.min(m1._2, m2._2)))
    val improving = res.aggregateMessages[Int](ctx => {
      if (ctx.srcAttr._1 < ctx.dstAttr._1 || ctx.dstAttr._2 < ctx.srcAttr._2)
        ctx.sendToDst(1)
    }, _ + _).count()
    if (improving > 0) throw new IllegalStateException(
      s"g_scc: $improving vertices still improvable after $cap Pregel " +
        "rounds — convergence cap too low; exactness contract broken")
    val out = res.vertices
      .map { case (id, (f, bk)) => (id, f, bk) }.toDF("id", "f", "bk")
      .localCheckpoint(eager = true)
    res.unpersist(blocking = false)
    g0.unpersist(blocking = false)
    out
  }

  /** Connected components via GraphX's Pregel implementation, run to
    * convergence over the undirected edge set. */
  def connectedComponentsGraphX(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val graph = PropertyGraph.load(s, dir)
    val sid = Analytics.nodeIdCol(col("src_label"), col("src_key"))
    val did = Analytics.nodeIdCol(col("dst_label"), col("dst_key"))
    val nodes = graph.nodes.select(col("label"), col("key"),
      Analytics.nodeIdCol(col("label"), col("key")).as("id"))
    val vertices = nodes.select("id").rdd.map(r => (r.getLong(0), r.getLong(0)))
    // GraphX CC sends messages along BOTH directions of every edge —
    // the stored directed edge set is already the undirected graph here
    val gxEdges = graph.edges.select(sid.as("a"), did.as("b")).rdd
      .map(r => GXEdge(r.getLong(0), r.getLong(1), 1))
    val cc = org.apache.spark.graphx.lib.ConnectedComponents
      .run(GXGraph(vertices, gxEdges))
    val comp = cc.vertices.toDF("id", "comp")
    nodes.join(comp, Seq("id"))
      .select("label", "key", "comp").orderBy("label", "key")
  }

  /** PageRank on GraphX with the SAME fixed-point integer contract as
    * `Analytics.pagerank` (5 rounds, d = 0.85, BIGINT floor division,
    * dangling mass dropped) — not GraphX's built-in `staticPageRank`,
    * whose double arithmetic and normalization can't be compared
    * bit-for-bit. Each round is one `aggregateMessages` (contributions
    * ship along out-edges, merged by +) + one `outerJoinVertices`
    * (absorb into base) — vertex state stays partition-resident across
    * rounds, the Pregel property that pays off on deep iteration
    * counts. Equivalence-tested against the oracle-checked DataFrame
    * operator (identical integers). */
  def pagerankGraphX(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val graph = PropertyGraph.load(s, dir)
    val sid = Analytics.nodeIdCol(col("src_label"), col("src_key"))
    val did = Analytics.nodeIdCol(col("dst_label"), col("dst_key"))
    val nodes = graph.nodes.select(col("label"), col("key"),
      Analytics.nodeIdCol(col("label"), col("key")).as("id"))
    val n = PropertyGraph.rowCount(nodes)
    val init = Analytics.prScale / n
    val base = (15L * Analytics.prScale) / (100L * n)
    val vertices = nodes.select("id").rdd.map(r => (r.getLong(0), 0L))
    val gxEdges = graph.edges.select(sid.as("a"), did.as("b")).rdd
      .map(r => GXEdge(r.getLong(0), r.getLong(1), 1))
    // vertex attr = (rank, outdeg); outdeg fixed once via outDegrees
    var g = GXGraph(vertices, gxEdges)
      .outerJoinVertices(GXGraph(vertices, gxEdges).outDegrees) {
        (_, _, od) => (init, od.getOrElse(0).toLong)
      }
    for (_ <- 1 to Analytics.prIters) {
      val msgs = g.aggregateMessages[Long](
        ctx => ctx.sendToDst((85L * ctx.srcAttr._1) / (100L * ctx.srcAttr._2)),
        _ + _)
      g = g.outerJoinVertices(msgs) {
        (_, attr, m) => (base + m.getOrElse(0L), attr._2)
      }
    }
    val ranks = g.vertices.map { case (id, (r, _)) => (id, r) }.toDF("id", "r")
    nodes.join(ranks, Seq("id"))
      .select("label", "key", "r").orderBy("label", "key")
  }

  /** Weighted SSSP on GraphX Pregel with the SAME fixed contract as
    * `Analytics.ssspWeighted` (region:0 source, undirected weighted
    * edges, `ssspIters` relaxation rounds, exact BIGINT costs): after
    * k supersteps the vertex holds the cheapest ≤k-edge path cost —
    * superstep k relaxes one more edge layer, exactly like one
    * Bellman-Ford wave of the DataFrame loop. The improvement guard in
    * sendMsg (only propose srcAttr + w when it beats dstAttr) is the
    * Pregel form of the semi-naive delta: settled vertices generate no
    * traffic. Unreached vertices stay at the INF sentinel and are
    * filtered, matching the DataFrame op's reached-only output.
    * Equivalence-tested in Round4Spec (identical integers per node). */
  def ssspGraphX(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val graph = PropertyGraph.load(s, dir)
    val sid = Analytics.nodeIdCol(col("src_label"), col("src_key"))
    val did = Analytics.nodeIdCol(col("dst_label"), col("dst_key"))
    val nodes = graph.nodes.select(col("label"), col("key"),
      Analytics.nodeIdCol(col("label"), col("key")).as("id"))
    val srcId = nodes.filter(col("label") === "region" && col("key") === 0L)
      .select("id").head().getLong(0)
    val und = graph.edges.select(sid.as("a"), did.as("b"), col("weight").as("w"))
      .unionByName(graph.edges.select(did.as("a"), sid.as("b"),
        col("weight").as("w")))
    val gxEdges = und.rdd.map(r => GXEdge(r.getLong(0), r.getLong(1), r.getLong(2)))
    val inf = Long.MaxValue
    val vertices = nodes.select("id").rdd
      .map(r => (r.getLong(0), if (r.getLong(0) == srcId) 0L else inf))
    val res = org.apache.spark.graphx.Pregel(
      GXGraph(vertices, gxEdges), inf, maxIterations = Analytics.ssspIters)(
      (_, d, m) => math.min(d, m),
      t => if (t.srcAttr != inf && t.srcAttr + t.attr < t.dstAttr)
             Iterator((t.dstId, t.srcAttr + t.attr))
           else Iterator.empty,
      math.min)
    val dist = res.vertices.filter(_._2 != inf).toDF("id", "d")
    nodes.join(dist, Seq("id"))
      .select("label", "key", "d").orderBy("label", "key")
  }

  /** LPA on GraphX with the SAME deterministic 2-round synchronous
    * contract as `Analytics.labelPropagation` (highest neighbor-label
    * count, smallest label on ties, no-message vertices keep their
    * label). Each round is one `aggregateMessages` carrying per-label
    * count maps (merged additively — the multiset a Pregel message
    * combiner can ship that a bare label can't) + one
    * `outerJoinVertices` argmax. Fourth equivalence-tested alternative
    * path; the oracle-checked operator remains the DataFrame one. */
  def lpaGraphX(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val graph = PropertyGraph.load(s, dir)
    val sid = Analytics.nodeIdCol(col("src_label"), col("src_key"))
    val did = Analytics.nodeIdCol(col("dst_label"), col("dst_key"))
    val nodes = graph.nodes.select(col("label"), col("key"),
      Analytics.nodeIdCol(col("label"), col("key")).as("id"))
    val und = graph.edges.select(sid.as("a"), did.as("b"))
      .unionByName(graph.edges.select(did.as("a"), sid.as("b")))
    val gxEdges = und.rdd.map(r => GXEdge(r.getLong(0), r.getLong(1), 1))
    var g = GXGraph(
      nodes.select("id").rdd.map(r => (r.getLong(0), r.getLong(0))), gxEdges)
    for (_ <- 1 to Analytics.lpaIters) {
      val msgs = g.aggregateMessages[Map[Long, Long]](
        ctx => ctx.sendToDst(Map(ctx.srcAttr -> 1L)),
        (m1, m2) => (m1.keySet ++ m2.keySet).iterator
          .map(k => k -> (m1.getOrElse(k, 0L) + m2.getOrElse(k, 0L))).toMap)
      g = g.outerJoinVertices(msgs) { (_, lbl, opt) =>
        opt.map { m =>
          // mode with the DataFrame tie rule: max by (count, -label)
          val (_, negL) = m.iterator.map { case (l, n) => (n, -l) }.max
          -negL
        }.getOrElse(lbl)
      }
    }
    val out = g.vertices.toDF("id", "lbl")
    nodes.join(out, Seq("id"))
      .select("label", "key", "lbl").orderBy("label", "key")
  }

  /** GraphX TriangleCount on the SAME part co-occurrence graph as
    * `Analytics.triangles` — the library's node-iterator count and
    * GraphX's independent edge-partition algorithm must agree on the
    * exact total (Σ per-vertex counts = 3 × triangles). The co edge
    * set is built identically (p1 < p2, distinct — already canonical
    * for TriangleCount). 6th equivalence-tested alternative path. */
  def trianglesGraphX(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val graph = PropertyGraph.load(s, dir)
    val hp = graph.edges.filter(col("elabel") === "HAS_PART")
      .select(col("src_key").as("o"), col("dst_key").as("p"))
    val co = hp.join(hp.select(col("o"), col("p").as("p2")), Seq("o"))
      .filter(col("p") < col("p2"))
      .select(col("p").as("p1"), col("p2")).distinct()
    val gxEdges = co.rdd.map(r => GXEdge(r.getLong(0), r.getLong(1), 1))
    val vertices = co.select(col("p1")).union(co.select(col("p2")))
      .distinct().rdd.map(r => (r.getLong(0), 1))
    val tc = org.apache.spark.graphx.lib.TriangleCount
      .run(GXGraph(vertices, gxEdges))
    val total = tc.vertices.map(_._2.toLong).reduce(_ + _) / 3
    Seq(total).toDF("n_triangles")
  }

  /** Eigenvector centrality on GraphX with the SAME integer
    * max-normalization contract as `Analytics.eigencentrality` (3
    * rounds, x ← A·x over the undirected multiset, divisor =
    * max(1, round-max div SCALE)) — each round one `aggregateMessages`
    * + a driver-side scalar max (the exact analogue of the DataFrame
    * op's 1-row broadcast) + one `outerJoinVertices`. Sparse semantics
    * match: a vertex receiving no message holds 0 and contributes
    * nothing next round. Equivalence-tested in Round8Spec against the
    * oracle-checked DataFrame operator (identical integers). */
  def eigencentralityGraphX(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val graph = PropertyGraph.load(s, dir)
    val sid = Analytics.nodeIdCol(col("src_label"), col("src_key"))
    val did = Analytics.nodeIdCol(col("dst_label"), col("dst_key"))
    val nodes = graph.nodes.select(col("label"), col("key"),
      Analytics.nodeIdCol(col("label"), col("key")).as("id"))
    val vertices = nodes.select("id").rdd
      .map(r => (r.getLong(0), Analytics.hitsScale))
    // both directions explicitly — aggregateMessages ships along the
    // edge direction, and the und contract is one row per edge per dir
    val gxEdges = graph.edges.select(sid.as("a"), did.as("b")).rdd
      .flatMap(r => Seq(GXEdge(r.getLong(0), r.getLong(1), 1),
        GXEdge(r.getLong(1), r.getLong(0), 1)))
    var g = GXGraph(vertices, gxEdges)
    // each round's msgs RDD is cached for the max + join reads, then
    // unpersisted after the NEXT round's aggregateMessages has
    // materialized past it (freeing it immediately after
    // outerJoinVertices would yank blocks the lazy joined vertices
    // still reference) — without this the loop leaked one cached RDD
    // per round for the session lifetime
    var prevMsgs: org.apache.spark.rdd.RDD[(Long, Long)] = null
    for (_ <- 1 to Analytics.eigenIters) {
      val msgs = g.aggregateMessages[Long](
        ctx => ctx.sendToDst(ctx.srcAttr), _ + _).cache()
      val mx = if (msgs.isEmpty()) 1L else msgs.values.max()
      val divisor = math.max(1L, mx / Analytics.hitsScale)
      g = g.outerJoinVertices(msgs) {
        (_, _, m) => m.map(_ / divisor).getOrElse(0L)
      }
      if (prevMsgs != null) prevMsgs.unpersist(blocking = false)
      prevMsgs = msgs
    }
    // materialize the final vertices into GraphX's own cache (cheap
    // n-row count), then free the last round's msgs as well — cache()
    // unpersist keeps lineage, so even an eviction later recomputes
    // instead of failing
    g.vertices.count()
    if (prevMsgs != null) prevMsgs.unpersist(blocking = false)
    val xs = g.vertices.toDF("id", "x")
    nodes.join(xs, Seq("id"))
      .select("label", "key", "x").orderBy("label", "key")
  }

  /** Truncated Katz on GraphX with the SAME contract as
    * `Analytics.katz` (β + floor(Σ inbound / 8), `katzRounds`
    * synchronous rounds, exact BIGINT): one `aggregateMessages` along
    * in-edges + one `outerJoinVertices` per round — a no-message
    * vertex resets to β exactly like the DataFrame op's left join.
    * Equivalence-tested in Round10Spec (identical integers). */
  def katzGraphX(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val graph = PropertyGraph.load(s, dir)
    val sid = Analytics.nodeIdCol(col("src_label"), col("src_key"))
    val did = Analytics.nodeIdCol(col("dst_label"), col("dst_key"))
    val nodes = graph.nodes.select(col("label"), col("key"),
      Analytics.nodeIdCol(col("label"), col("key")).as("id"))
    val vertices = nodes.select("id").rdd
      .map(r => (r.getLong(0), Analytics.katzBeta))
    val gxEdges = graph.edges.select(sid.as("a"), did.as("b")).rdd
      .map(r => GXEdge(r.getLong(0), r.getLong(1), 1))
    var g = GXGraph(vertices, gxEdges)
    for (_ <- 1 to Analytics.katzRounds) {
      val msgs = g.aggregateMessages[Long](
        ctx => ctx.sendToDst(ctx.srcAttr), _ + _)
      g = g.outerJoinVertices(msgs) {
        (_, _, m) => Analytics.katzBeta + m.getOrElse(0L) / 8
      }
    }
    val xs = g.vertices.toDF("id", "katz")
    nodes.join(xs, Seq("id"))
      .select("label", "key", "katz").orderBy("label", "key")
  }
}
