package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Immutable property-graph snapshot: two DataFrames.
  *
  * Re-expression of the reference data model (vbmudalige/akka-graph-db,
  * neo4j/Neo4jGraph.scala:37-96): Node {id, label, data}, directed Edge
  * {id, label, _1, _2, data}. At Spark scale identity is the *composite*
  * `(label, key)` — no global id assignment (no zipWithIndex, no driver
  * coordination), so the graph is just two parquet-backed tables and
  * every op shuffles on the composite key. With production tables
  * bucketed by key those shuffles co-locate.
  *
  * Mutations (reference addNode/updateNode/removeNode*, Neo4jGraph.scala
  * :156-490) become batch set operations producing a NEW snapshot —
  * union / anti-join / column-merge — the only transaction shape that
  * scales to 100 TB.
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  private def onNode(l: String, k: Long): Column =
    col("label") === l && col("key") === k

  /** Reference getNode (Neo4jGraph.scala:212-233): key-predicate scan;
    * both predicates reach the parquet reader via pushdown. */
  def getNode(label: String, key: Long): DataFrame =
    nodes.filter(onNode(label, key))

  /** Reference getNodes(label, data) (Neo4jGraph.scala:235-257). */
  def getNodes(label: String, pred: Column): DataFrame =
    nodes.filter(col("label") === label && pred)

  /** Reference getEdges(label, data) (Neo4jGraph.scala:295-332). */
  def getEdges(elabel: String, pred: Column): DataFrame =
    edges.filter(col("elabel") === elabel && pred)

  /** Reference getNodes(label = None, data) (Neo4jGraph.scala:235-257):
    * the label argument is an Option and a None scans EVERY label with
    * only the property predicate — the predicate still reaches the
    * parquet scan; at 100 TB a label-less scan reads all label
    * partitions, which is exactly what the reference semantics ask. */
  def getNodesAny(pred: Column): DataFrame = nodes.filter(pred)

  /** Reference getEdges(label = None, data) (Neo4jGraph.scala:295-332). */
  def getEdgesAny(pred: Column): DataFrame = edges.filter(pred)

  /** Reference getEgressEdges (Neo4jGraph.scala:334-368): out-edges of a
    * node, endpoint data attached. Single-node filter → tiny left side →
    * the node join broadcasts. */
  def egress(label: String, key: Long): DataFrame =
    edges.filter(col("src_label") === label && col("src_key") === key)
      .join(nodes.select(col("label").as("dst_label"),
        col("key").as("dst_key"), col("name").as("dst_name")),
        Seq("dst_label", "dst_key"))
      .select(col("elabel"), col("dst_label"), col("dst_key"),
        col("dst_name"), col("weight"))

  /** Reference getIngressEdges (Neo4jGraph.scala:370-404). */
  def ingress(label: String, key: Long): DataFrame =
    edges.filter(col("dst_label") === label && col("dst_key") === key)
      .join(nodes.select(col("label").as("src_label"),
        col("key").as("src_key"), col("name").as("src_name")),
        Seq("src_label", "src_key"))
      .select(col("elabel"), col("src_label"), col("src_key"),
        col("src_name"), col("weight"))

  /** Reference addNode as batch upsert (Neo4jGraph.scala:156-176):
    * new rows win on (label, key) via anti-join — deterministic, no
    * dropDuplicates lottery. */
  def upsertNodes(updates: DataFrame): PropertyGraph =
    copy(nodes = updates.unionByName(
      nodes.join(updates.select("label", "key"), Seq("label", "key"),
        "left_anti")))

  private val edgeIdCols =
    Seq("elabel", "src_label", "src_key", "dst_label", "dst_key")

  /** Reference addEdge (Neo4jGraph.scala:178-210) as batch upsert: new
    * rows win on the composite edge identity via anti-join — the edge
    * twin of `upsertNodes`, one shuffle on the composite key. */
  def upsertEdges(updates: DataFrame): PropertyGraph =
    copy(edges = updates.unionByName(
      edges.join(updates.select(edgeIdCols.map(col): _*), edgeIdCols,
        "left_anti")))

  /** Reference removeNodes DETACH semantics (Neo4jGraph.scala:406-431):
    * drop matching nodes AND incident edges via anti-join cascade. */
  def removeNodes(label: String, pred: Column): PropertyGraph = {
    val doomed = getNodes(label, pred).select("label", "key")
    PropertyGraph(
      nodes.join(doomed, Seq("label", "key"), "left_anti"),
      edges
        .join(doomed.select(col("label").as("src_label"),
          col("key").as("src_key")), Seq("src_label", "src_key"), "left_anti")
        .join(doomed.select(col("label").as("dst_label"),
          col("key").as("dst_key")), Seq("dst_label", "dst_key"), "left_anti"))
  }

  /** Stable edge identity — the reference's `edge.id` (Neo4jGraph
    * .scala:259-293 addresses edges by id). Derived deterministically
    * from the logical composite, so it needs no global id-assignment
    * shuffle and is reproducible in any engine:
    * `eid = md5(elabel|src_label|src_key|dst_label|dst_key)`. */
  def edgesWithId: DataFrame =
    edges.withColumn("eid", md5(concat_ws("|",
      col("elabel"), col("src_label"), col("src_key"),
      col("dst_label"), col("dst_key"))))

  /** Reference getEdge(id) (Neo4jGraph.scala:259-293): id-addressed
    * edge point lookup, endpoints attached. */
  def getEdgeById(eid: String): DataFrame =
    edgesWithId.filter(col("eid") === eid)
      .join(nodes.select(col("label").as("src_label"),
        col("key").as("src_key"), col("name").as("src_name")),
        Seq("src_label", "src_key"))
      .join(nodes.select(col("label").as("dst_label"),
        col("key").as("dst_key"), col("name").as("dst_name")),
        Seq("dst_label", "dst_key"))
      .select(col("eid"), col("elabel"), col("src_label"), col("src_key"),
        col("src_name"), col("dst_label"), col("dst_key"), col("dst_name"),
        col("weight"))

  /** Edge property maps + merge — the edge twin of `updateNodeProps`
    * (reference updateEdge, Neo4jGraph.scala:469-490). */
  def updateEdgeProps(pred: Column,
                      changes: Map[String, Option[String]]): DataFrame =
    edges.withColumn("props", map_filter(
        map(lit("weight"), col("weight").cast("string")),
        (_, v) => v.isNotNull))
      .withColumn("props",
        when(pred, PropertyGraph.mergeProps(col("props"), changes))
          .otherwise(col("props")))

  /** Reference getEdge (Neo4jGraph.scala:259-293): edge point lookup
    * returning the edge plus both endpoints. Edge identity is the
    * logical composite (elabel, src, dst) — the predicate reaches the
    * parquet scan, endpoint joins broadcast the single-row side. */
  def getEdge(pred: Column): DataFrame =
    edges.filter(pred)
      .join(nodes.select(col("label").as("src_label"),
        col("key").as("src_key"), col("name").as("src_name")),
        Seq("src_label", "src_key"))
      .join(nodes.select(col("label").as("dst_label"),
        col("key").as("dst_key"), col("name").as("dst_name")),
        Seq("dst_label", "dst_key"))
      .select(col("elabel"), col("src_label"), col("src_key"),
        col("src_name"), col("dst_label"), col("dst_key"), col("dst_name"),
        col("weight"))

  /** Reference removeEdge (Neo4jGraph.scala:433-440): drop matching
    * edges, nodes untouched — a predicate anti-filter. A row is removed
    * only when the predicate is definitively TRUE: under SQL
    * three-valued logic a NULL predicate (e.g. over a nullable prop)
    * must KEEP the row, and a bare `filter(!pred)` would drop it. */
  def removeEdges(pred: Column): PropertyGraph =
    copy(edges = edges.filter(coalesce(!pred, lit(true))))

  /** Reference updateEdge property-merge (Neo4jGraph.scala:469-490):
    * column-merge on the matching edge set. */
  def updateEdges(pred: Column, newWeight: Column): PropertyGraph =
    copy(edges = edges.withColumn("weight",
      when(pred, newWeight).otherwise(col("weight"))))

  /** Arbitrary property maps — the reference's `data: Map[String,
    * JsValue]` (Neo4jGraph.scala:37-96). The fixed typed columns stay
    * the storage format (prunable, pushdown-friendly — a 100 TB scan
    * that only needs `balance` must not decode a serialized map), and
    * `props` is the DERIVED MapType view over them; user-defined keys
    * added by updates live only in the map. */
  def nodeProps: DataFrame =
    nodes.withColumn("props", PropertyGraph.derivedProps)

  /** Reference updateNode merge semantics (Neo4jGraph.scala:442-467,
    * `(data ++ changes.filterNot(_._2 == JsNull)) -- nullKeys`): partial
    * map merged key-wise, explicit null ⇒ REMOVE the key. Pure column
    * expression — no shuffle, whole-stage codegen. */
  def updateNodeProps(pred: Column,
                      changes: Map[String, Option[String]]): DataFrame =
    nodeProps.withColumn("props",
      when(pred, PropertyGraph.mergeProps(col("props"), changes))
        .otherwise(col("props")))

  /** Degree per node — two partial-aggregated shuffles, never a
    * node×edge cartesian. */
  def degrees: DataFrame = {
    val out = edges.groupBy(col("src_label").as("label"),
      col("src_key").as("key")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst_label").as("label"),
      col("dst_key").as("key")).agg(count(lit(1)).as("in_deg"))
    nodes.select("label", "key")
      .join(out, Seq("label", "key"), "left_outer")
      .join(in, Seq("label", "key"), "left_outer")
      .select(col("label"), col("key"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Reference pathsTo (Neo4jGraph.scala:492-519):
    * `path =(start)-[:edgeLabels*]-(end)` — UNDIRECTED, unbounded depth,
    * with label constraints on every node of the path
    * (`ALL(x IN NODES(path) WHERE x:label…)`) and on every edge.
    *
    * Re-expression: frontier-driven iterative join over the undirected
    * edge set (each direction of a stored edge is traversable), with the
    * per-path visited array enforcing SIMPLE paths (no node revisit —
    * the re-expressed contract; Cypher's default is no *edge* revisit,
    * which on this schema admits the same path set for the query shapes
    * the reference runs, and simple-path is the variant that terminates
    * without a bound). Depth is unbounded in the reference sense: the
    * loop runs until the frontier is EMPTY (guaranteed — simple paths
    * are finite); `maxDepth` is a safety cap only.
    *
    * Scale shape: the frontier is broadcast only while it is provably
    * small (size known from the per-level probe) through
    * `PropertyGraph.gated`, the one broadcast gate — past its cap the
    * hint is dropped and the join shuffles, because a mid-BFS frontier
    * is O(N) and a blind broadcast hint dies at the 8 GB ceiling on a
    * big graph. Every per-level checkpoint, and the backward-distance
    * frame when the prune runs, is freed with the call's checkpoint
    * scope; the result is materialized first so nothing is recomputed
    * after the release.
    *
    * @param directed   true restores the round-1 directed contract
    *                   (g_paths_to keeps it for oracle continuity)
    */
  def pathsTo(srcLabel: String, srcKey: Long,
              dstLabel: String, dstKey: Long, maxDepth: Int,
              nodeLabels: Seq[String] = Seq.empty,
              edgeLabels: Seq[String] = Seq.empty,
              directed: Boolean = false,
              withEdgeLabels: Boolean = false,
              pruneActivationRows: Long = defaultPruneActivationRows)
      : DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    if (maxDepth <= 0) {
      val empty = Seq.empty[(String, Int, String)].toDF("path", "depth", "elabels")
      return if (withEdgeLabels) empty else empty.drop("elabels")
    }

    val base =
      if (edgeLabels.isEmpty) edges
      else edges.filter(col("elabel").isInCollection(edgeLabels))
    val fwd = base.select(col("src_label").as("a_label"),
      col("src_key").as("a_key"), col("dst_label").as("b_label"),
      col("dst_key").as("b_key"), col("elabel"))
    val undirectedE =
      if (directed) fwd
      else fwd.unionByName(base.select(col("dst_label").as("a_label"),
        col("dst_key").as("a_key"), col("src_label").as("b_label"),
        col("src_key").as("b_key"), col("elabel")))
    // node-label constraint applies to EVERY node of the path (reference
    // ALL(x IN NODES(path))): filter expansion targets; start must pass
    // NO per-call cache on the expanded edge set: the base edge table is
    // already session-cached, so each level's union+filter is a cheap
    // in-memory scan — materializing a second copy per pathsTo call
    // cost more than the 3-4 rescans it saved (and leaked memory
    // pressure across calls). The b_id string is built AFTER the join,
    // on matched rows only — not on the full edge set every level.
    val e = if (nodeLabels.isEmpty) undirectedE
            else undirectedE.filter(col("b_label").isInCollection(nodeLabels))
    val startOk = nodeLabels.isEmpty || nodeLabels.contains(srcLabel)
    val startId = s"$srcLabel:$srcKey"
    var frontier = (if (startOk) nodes.filter(onNode(srcLabel, srcKey))
                    else nodes.limit(0))
      .select(col("label").as("cur_label"), col("key").as("cur_key"),
        lit(startId).as("path"), array(lit(startId)).as("visited"),
        lit(0).as("depth"), lit("").as("elabels"))
    var results: Option[DataFrame] = None
    var depth = 0
    var frontierRows = 1L
    // ---- ADAPTIVE backward-distance pruning (bidirectional search) --
    // dist(v) = min hops v ⇝ dst over the SAME traversable edge set,
    // from a node-bounded backward BFS (distinct nodes, never paths).
    // A path about to step onto node b at depth d+1 can only complete
    // if dist(b) ≤ maxDepth − (d+1): the suffix of any completed path
    // is a walk to dst and dist lower-bounds every walk (simple-path
    // constraints only lengthen suffixes), so the prune never drops a
    // completable path. Undirected enumeration explodes on hubs — one
    // high-degree node pulls its whole label-matching neighborhood
    // into the next frontier even when none of it can reach dst in the
    // remaining budget — and the prune collapses exactly that; at the
    // final level only dst itself survives the inner join.
    //
    // ADAPTIVE because the backward BFS is not free (maxDepth−1
    // distinct-frontier rounds over the edge set): measured at sf0.1
    // it DOUBLES the two path queries when applied unconditionally
    // (8.2 s → 19.4 s) while the frontiers it would prune stay ≤ ~10⁴
    // rows. So it activates only when a materialized frontier exceeds
    // `pruneActivationRows` — small searches never pay, and a search
    // heading into combinatorial blowup (the 100 TB failure mode) pays
    // maxDepth−1 node-bounded rounds to cut path-count-sized work.
    var pruneDist: Option[DataFrame] = None
    PropertyGraph.withCheckpoints { ck =>
    while (depth < maxDepth && frontierRows > 0) {
      if (pruneDist.isEmpty && frontierRows > pruneActivationRows) {
        // one backward BFS per call; its frame is freed with the scope
        val (d, rows) = distancesToDst(e, dstLabel, dstKey, nodeLabels,
          srcLabel, lookout = maxDepth - depth)
        pruneDist = Some(PropertyGraph.gated(ck.own(d), rows))
      }
      depth += 1
      val fr = PropertyGraph.gated(frontier, frontierRows)
      // once pruning is active, expansion targets must still be able
      // to reach dst in the budget left after stepping onto them
      val eStep = pruneDist match {
        case Some(d) => e.join(d, Seq("b_label", "b_key"))
          .filter(col("b_dist") <= maxDepth - depth)
        case None => e
      }
      // materialize the LEVEL (both the done-paths branch and the next
      // level's frontier read it) via localCheckpoint, NOT
      // cache(): a cached level keeps the whole deepening lineage in
      // its logical plan, and by level 4 Catalyst re-analyzes and the
      // cache manager re-canonicalizes a plan containing every prior
      // level on each action — measured as most of the first-call
      // latency at sf0.1. Checkpointing truncates each level to a leaf,
      // so per-level analysis/codegen stays constant-depth and nothing
      // is recomputed by the final result materialization. The
      // checkpoint is lazy: the frontier probe below materializes it in
      // the job that counts it, and the last level's blocks are written
      // by the result's own eager checkpoint (the Analytics round rule).
      val step = ck.lazily(eStep.join(fr,
          col("a_label") === col("cur_label") &&
          col("a_key") === col("cur_key"))
        .withColumn("b_id", concat(col("b_label"), lit(":"), col("b_key")))
        .filter(!array_contains(col("visited"), col("b_id")))
        .select(col("b_label").as("cur_label"),
          col("b_key").as("cur_key"),
          concat(col("path"), lit(">"), col("b_id")).as("path"),
          array_append(col("visited"), col("b_id")).as("visited"),
          (col("depth") + 1).as("depth"),
          // ordered edge-label sequence — the reference Path returns
          // the edge list, not just node ids (Neo4jGraph.scala:85-95)
          when(col("depth") === 0, col("elabel"))
            .otherwise(concat(col("elabels"), lit(">"), col("elabel")))
            .as("elabels")))
      val done = step.filter(col("cur_label") === dstLabel &&
        col("cur_key") === dstKey)
        .select(col("path"), col("depth"), col("elabels"))
      results = Some(results.map(_.unionByName(done)).getOrElse(done))
      frontier = step.filter(
        !(col("cur_label") === dstLabel && col("cur_key") === dstKey))
      if (depth < maxDepth) frontierRows = PropertyGraph.rowCount(frontier)
    }
    // materialize the (path-count-sized, small) result as its OWN
    // checkpoint before the scope frees the levels: returning filters
    // over the level checkpoints pinned every level in the block
    // manager until session end
    (if (withEdgeLabels) results.get
     else results.get.drop("elabels")).localCheckpoint(eager = true)
    }
  }

  /** Backward BFS: minimum hop count from every node to (dstLabel,
    * dstKey) over the traversable edge set `e` (rows a_*→b_*), looking
    * at most `lookout - 1` levels out, where `lookout` is the forward
    * search's remaining depth budget (larger distances can never pass
    * the forward prune, whose loosest remaining budget for an expansion
    * target is lookout − 1). Returns (label, key, dist) keyed as b_*
    * for a direct join against `e`'s target side, plus the total row
    * count so the caller can gate its broadcast hint; the frame is one
    * lazily checkpointed leaf, already materialized by that count, and
    * the caller frees it. The BFS carries
    * DISTINCT nodes — node-bounded, never path-enumerating — with
    * per-level eager materialization and size-gated broadcast, the same
    * shape as the forward loop. Backward candidates keep only labels a
    * forward path could stand on (nodeLabels plus the start label):
    * anything else can't appear mid-path, so including it would only
    * weaken the prune. */
  private def distancesToDst(e: DataFrame, dstLabel: String, dstKey: Long,
                             nodeLabels: Seq[String], srcLabel: String,
                             lookout: Int): (DataFrame, Long) = {
    val spark = nodes.sparkSession
    import spark.implicits._
    PropertyGraph.withCheckpoints { ck =>
    var dist = ck.own(Seq((dstLabel, dstKey, 0))
      .toDF("b_label", "b_key", "b_dist")
      .localCheckpoint(eager = true))
    var frontier = dist
    var frontierRows = 1L
    var total = 1L
    var d = 0
    while (d < lookout - 1 && frontierRows > 0) {
      d += 1
      val fr = PropertyGraph.gated(frontier, frontierRows)
      val cand0 = e.join(fr.select("b_label", "b_key"), Seq("b_label", "b_key"))
        .select(col("a_label").as("b_label"), col("a_key").as("b_key"))
        .distinct()
      val cand = if (nodeLabels.isEmpty) cand0
                 else cand0.filter(
                   col("b_label").isInCollection(nodeLabels :+ srcLabel))
      val next = ck.lazily(cand.join(PropertyGraph.gated(dist, total),
          Seq("b_label", "b_key"), "left_anti")
        .withColumn("b_dist", lit(d)))
      if (d < lookout - 1) {
        frontierRows = PropertyGraph.rowCount(next)
        total += frontierRows
      }
      dist = dist.unionByName(next)
      frontier = next
    }
    // collapse the per-level union into ONE checkpointed leaf; its probe
    // is the exact total and materializes the last level before the
    // scope frees the levels
    val out = dist.localCheckpoint(eager = false)
    (out, PropertyGraph.rowCount(out))
    }
  }

  /** Structured Path view — the reference's `Path` (start node +
    * ordered edge list, Neo4jGraph.scala:85-95) as a typed column:
    * `hops` = array of (elabel, node) structs zipped from the path and
    * edge-label sequences. */
  def pathHops(paths: DataFrame): DataFrame =
    paths.withColumn("hops",
      arrays_zip(split(col("elabels"), ">").as("elabel"),
        // the path sequence includes the start node — hop i pairs edge
        // label i with the node ARRIVED AT, so skip element 1
        slice(split(col("path"), ">"), 2, 1000000).as("node")))

  /** Frontier size past which pathsTo computes backward distances and
    * prunes (see the loop comment). Package-visible so specs can force
    * activation on small data and assert result equality. */
  private[graft] val defaultPruneActivationRows = 50000L
}

object PropertyGraph {
  // one snapshot per (session, dir): every operator in a session shares
  // the SAME cached nodes/edges DataFrames instead of re-deriving
  // plan-identical copies and caching them again
  private val loaded = new SessionMemo[PropertyGraph]

  /** Release the block-manager storage behind a localCheckpoint-ed
    * frame. A checkpointed Dataset's analyzed plan is a LogicalRDD
    * holding the persisted RDD; unpersisting it frees the blocks. No-op
    * for any other plan shape (never throws — callers use it in cleanup
    * paths). The freed frame must not be executed again: local
    * checkpoints are non-recomputable by design. */
  private[graft] def freeLocalCheckpoint(df: DataFrame): Unit =
    try {
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    } catch { case NonFatal(_) => () }

  /** The local checkpoints of one operator call, released together by
    * `withCheckpoints`. One scope per call; not shared across threads. */
  private[graft] final class Checkpoints private[PropertyGraph] () {
    private[PropertyGraph] val held =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** `df.localCheckpoint(eager = false)`, released with the scope. */
    def lazily(df: DataFrame): DataFrame =
      own(df.localCheckpoint(eager = false))

    /** Registers a frame checkpointed elsewhere (an eager checkpoint, a
      * helper's result) for release with the scope. */
    def own(df: DataFrame): DataFrame = { held += df; df }
  }

  /** Runs `body` with a fresh checkpoint scope and frees every frame
    * registered in it when the body ends, normally or by exception.
    * A returned frame must not read a registered one lazily: the
    * operators materialize their result as its own eager checkpoint
    * inside the body. Release runs on the error path too (an OOM or a
    * cancelled job mid-loop) because Bench keeps the session alive past
    * per-query failures: an error-path leak would pin every round's
    * blocks for the rest of the run. */
  private[graft] def withCheckpoints[T](body: Checkpoints => T): T = {
    val ck = new Checkpoints
    try body(ck) finally ck.held.foreach(freeLocalCheckpoint)
  }

  /** Row count of `df` in ONE Spark job: per-partition counts summed on
    * the driver. `Dataset.count()` under AQE costs two jobs (the
    * partial-aggregate shuffle, then a one-task final stage). The job
    * scans every partition, so on a lazily checkpointed frame
    * (`localCheckpoint(eager = false)`) this same job materializes the
    * checkpoint and leaves nothing for `doCheckpoint` to recompute —
    * the fixpoint loops' round rule (Analytics header). */
  private[graft] def rowCount(df: DataFrame): Long =
    df.select().queryExecution.toRdd.count()

  /** THE broadcast size gate: hint a broadcast of `df` only when its
    * counted size `rows` is at most `cap`. Below the cap the hint pins
    * the known-small side deterministically; above it the hint is
    * DROPPED — a forced broadcast past the 8 GB ceiling fails the query
    * outright, it does not degrade — and the join falls back to a
    * shuffle, where AQE can still convert at runtime from observed
    * sizes. `rows` is a real upper bound, never a guess: a loop probe,
    * the session's node count for a node-keyed frame, or a bound the
    * frame has by construction (at most 10 rows for `vec_id < 10`),
    * else one `rowCount`. */
  private[graft] def gated(df: DataFrame, rows: Long,
                           cap: Long = 500000L): DataFrame =
    if (rows <= cap) broadcast(df) else df

  /** Rows per partition for edge-bounded frames: their width derives
    * from ROW COUNT, clamped at the session's parallelism, instead of
    * inheriting spark.sql.shuffle.partitions. At local scale the
    * shuffle width left 32 near-empty blocks, and every scan — dozens
    * per iterative operator round — paid a 32-task wave of pure
    * scheduling; at real scale rows/250k exceeds the clamp and the
    * width is the parallelism. Env-overridable for cluster tuning and
    * A/B without a code change. */
  private lazy val edgeRowsPerPart: Long = sys.env
    .get("SPARK_GRAFT_EDGE_ROWS_PER_PART").map(_.toLong)
    .getOrElse(250000L)

  /** Width for an edge-bounded frame of `rows` rows. */
  private[graft] def edgeParts(s: SparkSession, rows: Long): Int =
    math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
      rows / edgeRowsPerPart)).toInt

  /** Width for node-bounded per-round frames (~24 B/row, ~16 MB per
    * partition): 1 partition at local SFs, parallelism-capped growth at
    * real scale. */
  private[graft] def nodeParts(s: SparkSession, rows: Long): Int =
    math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
      rows * 24L / (16L << 20))).toInt

  /** Deterministic graph from the TPC-H star schema (SURVEY.md §4) —
    * pure SQL-expressible construction so every oracle rebuilds the
    * identical graph in its CTEs.
    */
  def load(spark: SparkSession, dir: String): PropertyGraph =
    loaded(spark, dir)(build(spark, dir))

  private def build(spark: SparkSession, dir: String): PropertyGraph = {
    def t(n: String) = Tables(spark, dir, n)
    def node(df: DataFrame, label: String, key: String, name: String,
             balance: Option[String]): DataFrame =
      df.select(lit(label).as("label"), col(key).cast("long").as("key"),
        col(name).as("name"),
        balance.map(col(_).cast("double")).getOrElse(lit(null).cast("double"))
          .as("balance"))

    val nodes =
      node(t("region"), "region", "r_regionkey", "r_name", None)
        .unionByName(node(t("nation"), "nation", "n_nationkey", "n_name", None))
        .unionByName(node(t("customer"), "customer", "c_custkey", "c_name", Some("c_acctbal")))
        .unionByName(node(t("supplier"), "supplier", "s_suppkey", "s_name", Some("s_acctbal")))
        .unionByName(node(t("part"), "part", "p_partkey", "p_name", None))
        .unionByName(node(t("orders"), "order", "o_orderkey", "o_orderstatus", Some("o_totalprice")))

    def edge(df: DataFrame, elabel: String, srcLabel: String, srcKey: String,
             dstLabel: String, dstKey: String): DataFrame =
      df.select(lit(elabel).as("elabel"),
        lit(srcLabel).as("src_label"), col(srcKey).cast("long").as("src_key"),
        lit(dstLabel).as("dst_label"), col(dstKey).cast("long").as("dst_key"),
        lit(1L).as("weight"))

    val li = t("lineitem")
    val edges =
      edge(t("nation"), "IN_REGION", "nation", "n_nationkey", "region", "n_regionkey")
        .unionByName(edge(t("customer"), "IN_NATION", "customer", "c_custkey", "nation", "c_nationkey"))
        .unionByName(edge(t("supplier"), "IN_NATION", "supplier", "s_suppkey", "nation", "s_nationkey"))
        .unionByName(edge(t("orders"), "PLACED", "customer", "o_custkey", "order", "o_orderkey"))
        .unionByName(li.groupBy(col("l_orderkey"), col("l_partkey"))
          .agg(count(lit(1)).as("weight"))
          .select(lit("HAS_PART").as("elabel"),
            lit("order").as("src_label"), col("l_orderkey").cast("long").as("src_key"),
            lit("part").as("dst_label"), col("l_partkey").cast("long").as("dst_key"),
            col("weight")))
        .unionByName(li.groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(count(lit(1)).as("weight"))
          .select(lit("SUPPLIED_BY").as("elabel"),
            lit("part").as("src_label"), col("l_partkey").cast("long").as("src_key"),
            lit("supplier").as("dst_label"), col("l_suppkey").cast("long").as("dst_key"),
            col("weight")))

    // cache(): the snapshot is the session memo `loaded`, so every query
    // loading the same graph in one session shares ONE materialization
    // of the union + lineitem aggregations (nodes/edges are a few MB
    // even at sf0.1; at 100 TB you'd persist the graph as
    // bucketed tables instead — see SURVEY.md §6). The edge cache is
    // hash-partitioned on the traversal key (src_label, src_key) so the
    // hop-expansion joins (pathsTo / ego / traversals) reuse the cached
    // layout instead of re-tasking the scan-width union per hop.
    PropertyGraph(nodes.cache(),
      edges.repartition(col("src_label"), col("src_key")).cache())
  }

  /** MapType view over the typed prop columns; null-valued props are
    * ABSENT keys (reference maps have no null entries). Balance renders
    * through DECIMAL(18,2) so Spark and DuckDB print the identical
    * string (raw double→string formatting differs between engines). */
  private[graft] val derivedProps: Column = map_filter(
    map(lit("name"), col("name"),
      lit("balance"), col("balance").cast("decimal(18,2)").cast("string")),
    (_, v) => v.isNotNull)

  /** Key-wise merge of a partial change-map: changed keys are dropped
    * from the base map, then non-null new values are appended —
    * null ⇒ remove-key falls out (dropped, never re-added). */
  private[graft] def mergeProps(props: Column,
                                changes: Map[String, Option[String]]): Column = {
    val changedKeys = changes.keys.toSeq
    val kept = map_filter(props, (k, _) => !k.isInCollection(changedKeys))
    val adds = changes.toSeq.collect { case (k, Some(v)) => Seq(lit(k), lit(v)) }
    if (adds.isEmpty) kept else map_concat(kept, map(adds.flatten: _*))
  }

  /** Persist the snapshot as BUCKETED tables — the production storage
    * layout SURVEY.md §6 promises: nodes bucketed (and sorted) by
    * `key`, edges by `src_key`, same bucket count. Every traversal join
    * keys on (label, key) vs (src_label, src_key); hash-partitioning on
    * the bucketed key column satisfies that clustering, so the join
    * needs NO Exchange and (with sortBy) no Sort — at 100 TB this is
    * the difference between a metadata operation and reshuffling the
    * edge table every query (BucketedGraphSpec proves the plan shape).
    */
  def saveBucketed(g: PropertyGraph, name: String, path: String,
                   buckets: Int = 32): Unit = {
    // bucket columns must equal the traversal join keys EXACTLY (the
    // composite identity) — Spark only elides the join exchange when
    // each side's bucket spec matches its join-key sequence
    g.nodes.write.mode("overwrite")
      .option("path", s"$path/${name}_nodes")
      .bucketBy(buckets, "label", "key").sortBy("label", "key")
      .saveAsTable(s"${name}_nodes")
    g.edges.write.mode("overwrite")
      .option("path", s"$path/${name}_edges")
      .bucketBy(buckets, "src_label", "src_key").sortBy("src_label", "src_key")
      .saveAsTable(s"${name}_edges")
  }

  def loadBucketed(spark: SparkSession, name: String): PropertyGraph =
    PropertyGraph(spark.table(s"${name}_nodes"), spark.table(s"${name}_edges"))

  /** DuckDB-side reconstruction of the identical graph — the shared CTE
    * prefix every graph oracle starts with. */
  val oracleCte: String =
    """WITH nodes AS (
      | SELECT 'region' AS label, CAST(r_regionkey AS BIGINT) AS key, r_name AS name, CAST(NULL AS DOUBLE) AS balance FROM region
      | UNION ALL SELECT 'nation', CAST(n_nationkey AS BIGINT), n_name, CAST(NULL AS DOUBLE) FROM nation
      | UNION ALL SELECT 'customer', c_custkey, c_name, c_acctbal FROM customer
      | UNION ALL SELECT 'supplier', s_suppkey, s_name, s_acctbal FROM supplier
      | UNION ALL SELECT 'part', p_partkey, p_name, CAST(NULL AS DOUBLE) FROM part
      | UNION ALL SELECT 'order', o_orderkey, o_orderstatus, o_totalprice FROM orders
      |), edges AS (
      | SELECT 'IN_REGION' AS elabel, 'nation' AS src_label, CAST(n_nationkey AS BIGINT) AS src_key, 'region' AS dst_label, CAST(n_regionkey AS BIGINT) AS dst_key, CAST(1 AS BIGINT) AS weight FROM nation
      | UNION ALL SELECT 'IN_NATION', 'customer', c_custkey, 'nation', CAST(c_nationkey AS BIGINT), 1 FROM customer
      | UNION ALL SELECT 'IN_NATION', 'supplier', s_suppkey, 'nation', CAST(s_nationkey AS BIGINT), 1 FROM supplier
      | UNION ALL SELECT 'PLACED', 'customer', o_custkey, 'order', o_orderkey, 1 FROM orders
      | UNION ALL SELECT 'HAS_PART', 'order', l_orderkey, 'part', l_partkey, count(*) FROM lineitem GROUP BY l_orderkey, l_partkey
      | UNION ALL SELECT 'SUPPLIED_BY', 'part', l_partkey, 'supplier', l_suppkey, count(*) FROM lineitem GROUP BY l_partkey, l_suppkey
      |)""".stripMargin
}
