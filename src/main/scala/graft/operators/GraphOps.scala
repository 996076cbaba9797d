package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.PropertyGraph

/** Property-graph core operators (SURVEY.md §2 A-block) — the reference
  * API surface (vbmudalige/akka-graph-db neo4j/Neo4jGraph.scala)
  * re-expressed as declarative DataFrame plans over the deterministic
  * TPC-H graph. Every oracle rebuilds the identical graph in DuckDB CTEs
  * (PropertyGraph.oracleCte), so correctness is end-to-end: construction
  * AND query.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  private def g(s: SparkSession, dir: String): PropertyGraph =
    PropertyGraph.load(s, dir)
  private val cte = PropertyGraph.oracleCte

  // ---------------------------------------------------------- g_get_node
  /** Reference getNode (Neo4jGraph.scala:212-233): point lookup. */
  def getNode: Q = (s, dir) => g(s, dir).getNode("customer", 42L)

  val getNodeSql: String =
    s"""$cte
       |SELECT label, key, name, balance FROM nodes
       |WHERE label = 'customer' AND key = 42""".stripMargin

  // --------------------------------------------------------- g_get_nodes
  /** Reference getNodes(label, data) (Neo4jGraph.scala:235-257):
    * label + property-predicate scan. */
  def getNodes: Q = (s, dir) =>
    g(s, dir).getNodes("customer", col("balance") > 9000.0)
      .orderBy("key")

  val getNodesSql: String =
    s"""$cte
       |SELECT label, key, name, balance FROM nodes
       |WHERE label = 'customer' AND balance > 9000.0 ORDER BY key""".stripMargin

  // --------------------------------------------------------- g_get_edges
  /** Reference getEdges(label, data) (Neo4jGraph.scala:295-332). */
  def getEdges: Q = (s, dir) =>
    g(s, dir).getEdges("HAS_PART", col("weight") >= 2L)
      .orderBy("src_key", "dst_key")

  val getEdgesSql: String =
    s"""$cte
       |SELECT elabel, src_label, src_key, dst_label, dst_key, weight
       |FROM edges WHERE elabel = 'HAS_PART' AND weight >= 2
       |ORDER BY src_key, dst_key""".stripMargin

  // ----------------------------------------------------- g_get_nodes_any
  /** Reference getNodes(label = None, data) (Neo4jGraph.scala:235-257):
    * the label parameter is an Option — a None scans EVERY label with
    * the property predicate alone. Balance near the acctbal ceiling
    * catches customers AND suppliers (and any order whose total lands
    * in the band) — a genuinely cross-label result the labeled scan
    * cannot express. */
  def getNodesAny: Q = (s, dir) =>
    g(s, dir).getNodesAny(col("balance") > 0.0 && col("balance") < 500.0)
      .orderBy("label", "key")

  val getNodesAnySql: String =
    s"""$cte
       |SELECT label, key, name, balance FROM nodes
       |WHERE balance > 0.0 AND balance < 500.0
       |ORDER BY label, key""".stripMargin

  // ----------------------------------------------------- g_get_edges_any
  /** Reference getEdges(label = None, data) (Neo4jGraph.scala:295-332):
    * label-less edge scan — every multi-lineitem relationship
    * regardless of edge label (HAS_PART and SUPPLIED_BY both carry
    * aggregated weights). */
  def getEdgesAny: Q = (s, dir) =>
    g(s, dir).getEdgesAny(col("weight") >= 2L)
      .orderBy("elabel", "src_key", "dst_key")

  val getEdgesAnySql: String =
    s"""$cte
       |SELECT elabel, src_label, src_key, dst_label, dst_key, weight
       |FROM edges WHERE weight >= 2
       |ORDER BY elabel, src_key, dst_key""".stripMargin

  // ------------------------------------------------------- g_typed_props
  /** Reference property values are TYPED (`data: Map[String, JsValue]`,
    * jsValueToAny at Neo4jGraph.scala:98-119 admits numbers, booleans,
    * strings, nested values) — not the String→String view the map ops
    * use. Storage format: a JSON document per node (the serialization a
    * JsValue map round-trips through); access: ONE `from_json` with an
    * EXPLICIT typed schema (string + double + boolean + int in one
    * document), then typed operations on the extracted values — integer
    * arithmetic on `tier`, boolean logic on `vip` — plus the reference
    * merge semantics on typed keys (customers 1-10: `vip := NOT vip`,
    * a typed-boolean update, and `tier` REMOVED — null ⇒ remove,
    * surfacing as a NULL BIGINT). The oracle builds the same document with
    * json_object and extracts with json_extract/TRY_CAST, so the typed
    * round-trip is verified end-to-end in both engines. */
  def typedProps: Q = (s, dir) => {
    import org.apache.spark.sql.types._
    val c = g(s, dir).nodes
      .filter(col("label") === "customer" && col("key") <= 20L)
    val doc = c.select(col("label"), col("key"),
      to_json(struct(col("name"), col("balance"),
        (col("balance") > 5000.0).as("vip"),
        (col("key") % 5).cast("int").as("tier"))).as("pjson"))
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("balance", DoubleType),
      StructField("vip", BooleanType), StructField("tier", IntegerType)))
    doc.withColumn("p", from_json(col("pjson"), schema))
      .select(col("label"), col("key"),
        col("p.name").as("name"),
        // DECIMAL(18,2) string render — the engine-parity contract for
        // money values (PropertyGraph.derivedProps)
        col("p.balance").cast("decimal(18,2)").cast("string").as("balance"),
        when(col("key") <= 10L, !col("p.vip"))
          .otherwise(col("p.vip")).as("vip"),
        when(col("key") <= 10L, lit(null).cast("long"))
          .otherwise(col("p.tier").cast("long")).as("tier"))
      .orderBy("key")
  }

  val typedPropsSql: String =
    s"""$cte, c AS (
       | SELECT label, key, name, balance FROM nodes
       | WHERE label = 'customer' AND key <= 20
       |), doc AS (
       | SELECT label, key,
       |  json_object('name', name, 'balance', balance,
       |              'vip', balance > 5000.0,
       |              'tier', CAST(key % 5 AS INT)) AS pjson
       | FROM c
       |)
       |SELECT label, key,
       | json_extract_string(pjson, '$$.name') AS name,
       | CAST(CAST(TRY_CAST(json_extract_string(pjson, '$$.balance') AS DOUBLE) AS DECIMAL(18,2)) AS VARCHAR) AS balance,
       | CASE WHEN key <= 10
       |      THEN NOT TRY_CAST(json_extract_string(pjson, '$$.vip') AS BOOLEAN)
       |      ELSE TRY_CAST(json_extract_string(pjson, '$$.vip') AS BOOLEAN) END AS vip,
       | CASE WHEN key <= 10 THEN NULL
       |      ELSE TRY_CAST(json_extract_string(pjson, '$$.tier') AS BIGINT) END AS tier
       |FROM doc ORDER BY key""".stripMargin

  // ------------------------------------------------------- g_multi_edges
  /** MULTI-EDGES — the reference's edges have INDEPENDENT identities
    * (addEdge, Neo4jGraph.scala:178-210 CREATEs a fresh relationship on
    * every call), so two edges with the same (label, src, dst) coexist;
    * the aggregated edge snapshot collapses them into one weighted row.
    * The multi-edge view keeps each INSTANCE: lineitem-level HAS_PART
    * edges discriminated by l_linenumber, each with its own stable id
    * `eid = md5(composite ‖ discriminator)` — identity derives from the
    * (composite, discriminator) pair exactly as the aggregated edges
    * derive from the composite, so no global id assignment at any
    * scale. Output: the parallel-edge groups (same composite, ≥ 2
    * instances) for orders ≤ 500, with n_edges and the count of
    * DISTINCT instance ids proving each instance is independently
    * addressable (n_ids == n_edges). */
  def multiEdges: Q = (s, dir) => {
    val li = graft.model.Tables(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 500L)
    li.select(lit("HAS_PART").as("elabel"),
        col("l_orderkey").cast("long").as("src_key"),
        col("l_partkey").cast("long").as("dst_key"),
        col("l_linenumber").cast("long").as("disc"),
        md5(concat_ws("|", lit("HAS_PART"), lit("order"), col("l_orderkey"),
          lit("part"), col("l_partkey"), col("l_linenumber"))).as("eid"))
      .groupBy("elabel", "src_key", "dst_key")
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("eid")).as("n_ids"),
        min("disc").as("min_disc"), max("disc").as("max_disc"))
      .filter(col("n_edges") >= 2)
      .orderBy("src_key", "dst_key")
  }

  val multiEdgesSql: String =
    """WITH inst AS (
      | SELECT 'HAS_PART' AS elabel,
      |        CAST(l_orderkey AS BIGINT) AS src_key,
      |        CAST(l_partkey AS BIGINT) AS dst_key,
      |        CAST(l_linenumber AS BIGINT) AS disc,
      |        md5('HAS_PART' || '|' || 'order' || '|' || l_orderkey || '|' ||
      |            'part' || '|' || l_partkey || '|' || l_linenumber) AS eid
      | FROM lineitem WHERE l_orderkey <= 500
      |)
      |SELECT elabel, src_key, dst_key, count(*) AS n_edges,
      |       count(DISTINCT eid) AS n_ids,
      |       min(disc) AS min_disc, max(disc) AS max_disc
      |FROM inst GROUP BY 1, 2, 3 HAVING count(*) >= 2
      |ORDER BY src_key, dst_key""".stripMargin

  // ------------------------------------------------------------ g_egress
  /** Reference getEgressEdges (Neo4jGraph.scala:334-368): out-edges of
    * customer 1 with endpoint props. */
  def egress: Q = (s, dir) =>
    g(s, dir).egress("customer", 1L).orderBy("elabel", "dst_label", "dst_key")

  val egressSql: String =
    s"""$cte
       |SELECT e.elabel, e.dst_label, e.dst_key, n.name AS dst_name, e.weight
       |FROM edges e JOIN nodes n ON n.label = e.dst_label AND n.key = e.dst_key
       |WHERE e.src_label = 'customer' AND e.src_key = 1
       |ORDER BY elabel, dst_label, dst_key""".stripMargin

  // ----------------------------------------------------------- g_ingress
  /** Reference getIngressEdges (Neo4jGraph.scala:370-404): in-edges of
    * nation 3 (its customers + suppliers). */
  def ingress: Q = (s, dir) =>
    g(s, dir).ingress("nation", 3L).orderBy("elabel", "src_label", "src_key")

  val ingressSql: String =
    s"""$cte
       |SELECT e.elabel, e.src_label, e.src_key, n.name AS src_name, e.weight
       |FROM edges e JOIN nodes n ON n.label = e.src_label AND n.key = e.src_key
       |WHERE e.dst_label = 'nation' AND e.dst_key = 3
       |ORDER BY elabel, src_label, src_key""".stripMargin

  // ---------------------------------------------------------- g_get_edge
  /** Reference getEdge (Neo4jGraph.scala:259-293): point lookup of the
    * IN_NATION edge of customer 1 (unique by construction), returned
    * with both endpoints attached. */
  def getEdge: Q = (s, dir) =>
    g(s, dir).getEdge(col("elabel") === "IN_NATION" &&
      col("src_label") === "customer" && col("src_key") === 1L)

  val getEdgeSql: String =
    s"""$cte
       |SELECT e.elabel, e.src_label, e.src_key, ns.name AS src_name,
       |       e.dst_label, e.dst_key, nd.name AS dst_name, e.weight
       |FROM edges e
       |JOIN nodes ns ON ns.label = e.src_label AND ns.key = e.src_key
       |JOIN nodes nd ON nd.label = e.dst_label AND nd.key = e.dst_key
       |WHERE e.elabel = 'IN_NATION' AND e.src_label = 'customer' AND e.src_key = 1""".stripMargin

  // ----------------------------------------------------- g_get_edge_by_id
  /** Reference getEdge(id) (Neo4jGraph.scala:259-293): edges addressed
    * by STABLE id, not just the composite predicate — `eid` is the md5
    * of the logical composite, derived (no global id-assignment
    * shuffle) and engine-reproducible. Looks up the SF-invariant
    * IN_REGION edge nation:19 → region:4 by its id. */
  def getEdgeById: Q = (s, dir) =>
    g(s, dir).getEdgeById(md5Hex("IN_REGION|nation|19|region|4"))

  private def md5Hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  val getEdgeByIdSql: String =
    s"""$cte, ei AS (
       | SELECT md5(elabel || '|' || src_label || '|' || src_key || '|' ||
       |            dst_label || '|' || dst_key) AS eid, *
       | FROM edges
       |)
       |SELECT e.eid, e.elabel, e.src_label, e.src_key, ns.name AS src_name,
       |       e.dst_label, e.dst_key, nd.name AS dst_name, e.weight
       |FROM ei e
       |JOIN nodes ns ON ns.label = e.src_label AND ns.key = e.src_key
       |JOIN nodes nd ON nd.label = e.dst_label AND nd.key = e.dst_key
       |WHERE e.eid = md5('IN_REGION|nation|19|region|4')""".stripMargin

  // ------------------------------------------------ g_update_edge_props
  /** Reference updateEdge with arbitrary property maps (Neo4jGraph
    * .scala:469-490) — the edge twin of g_update_node_props: set a
    * user-defined `priority` key and remove `weight` on order 1..10's
    * HAS_PART edges; orders 11..20 keep their untouched maps. */
  def updateEdgeProps: Q = (s, dir) =>
    g(s, dir)
      .updateEdgeProps(
        col("elabel") === "HAS_PART" && col("src_key") <= 10L,
        Map("priority" -> Some("rush"), "weight" -> None))
      .filter(col("elabel") === "HAS_PART" && col("src_key") <= 20L)
      .select(col("elabel"), col("src_key"), col("dst_key"),
        explode(col("props")).as(Seq("pkey", "pval")))
      .orderBy("src_key", "dst_key", "pkey")

  val updateEdgePropsSql: String =
    s"""$cte, he AS (
       | SELECT elabel, src_key, dst_key, weight FROM edges
       | WHERE elabel = 'HAS_PART' AND src_key <= 20
       |)
       |SELECT elabel, src_key, dst_key, pkey, pval FROM (
       | SELECT elabel, src_key, dst_key, 'weight' AS pkey,
       |        CAST(weight AS VARCHAR) AS pval
       | FROM he WHERE src_key > 10
       | UNION ALL
       | SELECT elabel, src_key, dst_key, 'priority', 'rush'
       | FROM he WHERE src_key <= 10
       |) ORDER BY src_key, dst_key, pkey""".stripMargin

  // ------------------------------------------------------- g_remove_edge
  /** Reference removeEdge (Neo4jGraph.scala:433-440): drop part 1's
    * SUPPLIED_BY edges; result is the post-state census around part
    * nodes with key ≤ 10. */
  def removeEdge: Q = (s, dir) =>
    g(s, dir).removeEdges(col("elabel") === "SUPPLIED_BY" &&
        col("src_label") === "part" && col("src_key") === 1L)
      .edges.filter(col("src_label") === "part" && col("src_key") <= 10L)
      .groupBy("elabel", "src_key").agg(count(lit(1)).as("n_edges"))
      .orderBy("elabel", "src_key")

  val removeEdgeSql: String =
    s"""$cte
       |SELECT elabel, src_key, count(*) AS n_edges FROM edges
       |WHERE src_label = 'part' AND src_key <= 10
       |  AND NOT (elabel = 'SUPPLIED_BY' AND src_label = 'part' AND src_key = 1)
       |GROUP BY elabel, src_key ORDER BY elabel, src_key""".stripMargin

  // ------------------------------------------------------- g_update_edge
  /** Reference updateEdge (Neo4jGraph.scala:469-490): property merge —
    * bump the weight of order 1..50's HAS_PART edges by 10; result is
    * the post-state of those edges. */
  def updateEdge: Q = (s, dir) =>
    g(s, dir).updateEdges(
        col("elabel") === "HAS_PART" && col("src_key") <= 50L,
        col("weight") + 10L)
      .edges.filter(col("elabel") === "HAS_PART" && col("src_key") <= 50L)
      .select("elabel", "src_key", "dst_key", "weight")
      .orderBy("src_key", "dst_key")

  val updateEdgeSql: String =
    s"""$cte
       |SELECT elabel, src_key, dst_key, weight + 10 AS weight FROM edges
       |WHERE elabel = 'HAS_PART' AND src_key <= 50
       |ORDER BY src_key, dst_key""".stripMargin

  // --------------------------------------------------------- g_add_node
  /** Reference addNode (Neo4jGraph.scala:156-176) as batch upsert; the
    * query returns the post-mutation region node set. */
  def addNode: Q = (s, dir) => {
    val update = s.range(1).select(
      lit("region").as("label"), lit(100L).as("key"),
      lit("LAPLAND").as("name"), lit(null).cast("double").as("balance"))
    g(s, dir).upsertNodes(update).nodes
      .filter(col("label") === "region").orderBy("key")
  }

  val addNodeSql: String =
    s"""$cte
       |SELECT label, key, name, balance FROM nodes WHERE label = 'region'
       |UNION ALL SELECT 'region', 100, 'LAPLAND', CAST(NULL AS DOUBLE)
       |ORDER BY key""".stripMargin

  // --------------------------------------------------------- g_add_edge
  /** Reference addEdge (Neo4jGraph.scala:178-210) as batch upsert; the
    * query adds a REFERRED edge fan (customer:1 → customers 2..4) and
    * returns the post-mutation slice (new label + the untouched
    * IN_REGION set, proving non-matching edges survive). */
  def addEdge: Q = (s, dir) => {
    val updates = s.range(3).select(
      lit("REFERRED").as("elabel"),
      lit("customer").as("src_label"), lit(1L).as("src_key"),
      lit("customer").as("dst_label"), (col("id") + 2L).as("dst_key"),
      lit(1L).as("weight"))
    g(s, dir).upsertEdges(updates).edges
      .filter(col("elabel").isin("REFERRED", "IN_REGION"))
      .orderBy("elabel", "src_key", "dst_key")
  }

  val addEdgeSql: String =
    s"""$cte
       |SELECT * FROM (
       | SELECT elabel, src_label, src_key, dst_label, dst_key, weight
       | FROM edges WHERE elabel IN ('REFERRED', 'IN_REGION')
       | UNION ALL SELECT 'REFERRED', 'customer', 1, 'customer', 2, 1
       | UNION ALL SELECT 'REFERRED', 'customer', 1, 'customer', 3, 1
       | UNION ALL SELECT 'REFERRED', 'customer', 1, 'customer', 4, 1
       |) ORDER BY elabel, src_key, dst_key""".stripMargin

  // ------------------------------------------------------ g_update_node
  /** Reference updateNode property-merge (Neo4jGraph.scala:442-467):
    * clamp negative customer balances to 0 — a column merge, not a
    * row-at-a-time mutation. */
  def updateNode: Q = (s, dir) => {
    val graph = g(s, dir)
    val updated = graph.nodes
      .filter(col("label") === "customer")
      .withColumn("balance",
        when(col("balance") < 0, 0.0).otherwise(col("balance")))
    graph.upsertNodes(updated).nodes
      .filter(col("label") === "customer").orderBy("key")
  }

  val updateNodeSql: String =
    s"""$cte
       |SELECT label, key, name,
       | CASE WHEN balance < 0 THEN 0.0 ELSE balance END AS balance
       |FROM nodes WHERE label = 'customer' ORDER BY key""".stripMargin

  // ------------------------------------------------ g_update_node_props
  /** Reference updateNode with ARBITRARY property maps (Neo4jGraph
    * .scala:37-96 `data: Map[String, JsValue]`, :442-467 merge): set a
    * user-defined key (`tier` — inexpressible in the fixed round-1
    * schema) and remove `balance` (null ⇒ remove-key) on customers
    * 1..5; customers 6..20 keep their untouched maps. Output is the
    * exploded (key, value) entry set — fully hashable cross-engine. */
  def updateNodeProps: Q = (s, dir) =>
    g(s, dir)
      .updateNodeProps(
        col("label") === "customer" && col("key") <= 5L,
        Map("tier" -> Some("gold"), "balance" -> None))
      .filter(col("label") === "customer" && col("key") <= 20L)
      .select(col("label"), col("key"), explode(col("props")).as(Seq("pkey", "pval")))
      .orderBy("key", "pkey")

  val updateNodePropsSql: String =
    s"""$cte, cust AS (
       | SELECT label, key, name, balance FROM nodes
       | WHERE label = 'customer' AND key <= 20
       |)
       |SELECT label, key, pkey, pval FROM (
       | SELECT label, key, 'name' AS pkey, name AS pval FROM cust
       | UNION ALL
       | SELECT label, key, 'balance',
       |        CAST(CAST(balance AS DECIMAL(18,2)) AS VARCHAR)
       | FROM cust WHERE key > 5 AND balance IS NOT NULL
       | UNION ALL
       | SELECT label, key, 'tier', 'gold' FROM cust WHERE key <= 5
       |) ORDER BY key, pkey""".stripMargin

  // ----------------------------------------------------- g_remove_nodes
  /** Reference removeNodes + DETACH (Neo4jGraph.scala:406-431): drop
    * suppliers with negative balance and their incident edges; result is
    * the post-state edge census. */
  def removeNodes: Q = (s, dir) =>
    g(s, dir).removeNodes("supplier", col("balance") < 0)
      .edges.groupBy("elabel").agg(count(lit(1)).as("n_edges"))
      .orderBy("elabel")

  val removeNodesSql: String =
    s"""$cte, rm AS (
       | SELECT label, key FROM nodes WHERE label = 'supplier' AND balance < 0
       |)
       |SELECT elabel, count(*) AS n_edges FROM edges e
       |WHERE NOT EXISTS (SELECT 1 FROM rm WHERE rm.label = e.src_label AND rm.key = e.src_key)
       |  AND NOT EXISTS (SELECT 1 FROM rm WHERE rm.label = e.dst_label AND rm.key = e.dst_key)
       |GROUP BY elabel ORDER BY elabel""".stripMargin

  // -------------------------------------------------------- g_paths_to
  /** Reference pathsTo (Neo4jGraph.scala:492-519): all simple paths
    * customer:1 → supplier:1, depth ≤ 3. Oracle = unrolled joins, one
    * block per depth, identical simple-path constraints. */
  def pathsTo: Q = (s, dir) =>
    g(s, dir).pathsTo("customer", 1L, "supplier", 1L, maxDepth = 3,
        directed = true)
      .orderBy("path")

  val pathsToSql: String =
    s"""$cte, e AS (
       | SELECT src_label || ':' || src_key AS s, dst_label || ':' || dst_key AS d FROM edges
       |)
       |SELECT path, depth FROM (
       | SELECT e1.s || '>' || e1.d AS path, 1 AS depth
       | FROM e e1 WHERE e1.s = 'customer:1' AND e1.d = 'supplier:1'
       | UNION ALL
       | SELECT e1.s || '>' || e1.d || '>' || e2.d, 2
       | FROM e e1 JOIN e e2 ON e2.s = e1.d
       | WHERE e1.s = 'customer:1' AND e2.d = 'supplier:1'
       |   AND e1.d <> 'customer:1' AND e1.d <> 'supplier:1'
       | UNION ALL
       | SELECT e1.s || '>' || e1.d || '>' || e2.d || '>' || e3.d, 3
       | FROM e e1 JOIN e e2 ON e2.s = e1.d JOIN e e3 ON e3.s = e2.d
       | WHERE e1.s = 'customer:1' AND e3.d = 'supplier:1'
       |   AND e1.d <> 'customer:1' AND e1.d <> 'supplier:1'
       |   AND e2.d <> 'customer:1' AND e2.d <> 'supplier:1'
       |   AND e2.d <> e1.d
       |) ORDER BY path""".stripMargin

  // ---------------------------------------------------- g_paths_labeled
  /** Reference pathsTo FULL semantics (Neo4jGraph.scala:493-519):
    * UNDIRECTED traversal (`path =(start)-[…*]-(end)` — no direction
    * arrow) with node-label and edge-label constraints
    * (`ALL(x IN NODES(path) WHERE x:…)`). All paths customer:1 ⇝
    * nation:19 over {PLACED, HAS_PART, SUPPLIED_BY, IN_NATION} edges and
    * {customer, order, part, supplier, nation} nodes, depth ≤ 4: the
    * depth-1 hop plus every customer→order→part→supplier→nation chain —
    * paths the round-1 directed/unlabeled operator could not express.
    * Oracle = unrolled level blocks over the same label-filtered
    * undirected edge set with identical simple-path constraints. */
  val plNodeLabels = Seq("customer", "order", "part", "supplier", "nation")
  val plEdgeLabels = Seq("PLACED", "HAS_PART", "SUPPLIED_BY", "IN_NATION")
  val plMaxDepth = 4

  def pathsLabeled: Q = (s, dir) =>
    g(s, dir).pathsTo("customer", 1L, "nation", 19L, maxDepth = plMaxDepth,
        nodeLabels = plNodeLabels, edgeLabels = plEdgeLabels,
        withEdgeLabels = true)
      .orderBy("path")

  val pathsLabeledSql: String = {
    val el = plEdgeLabels.map(l => s"'$l'").mkString(", ")
    val nl = plNodeLabels.map(l => s"'$l'").mkString(", ")
    def notNode(e: String, label: String, key: Long) =
      s"NOT ($e.bl = '$label' AND $e.bk = $key)"
    val levels = (1 to plMaxDepth).map { d =>
      val tables = (1 to d).map(i => s"pef e$i").mkString(", ")
      val chain = (2 to d).map(i =>
        s"e$i.al = e${i - 1}.bl AND e$i.ak = e${i - 1}.bk")
      val inter = (1 until d).flatMap { i =>
        // intermediates are not the destination, not the start, and
        // pairwise distinct — the Spark visited-array check, unrolled
        Seq(notNode(s"e$i", "nation", 19L), notNode(s"e$i", "customer", 1L)) ++
          (i + 1 until d).map(j =>
            s"NOT (e$j.bl = e$i.bl AND e$j.bk = e$i.bk)")
      }
      val conds = Seq(s"e1.al = 'customer' AND e1.ak = 1",
        s"e$d.bl = 'nation' AND e$d.bk = 19") ++ chain ++ inter
      val path = (1 to d).map(i => s"e$i.bid").mkString(" || '>' || ")
      val elbs = (1 to d).map(i => s"e$i.elabel").mkString(" || '>' || ")
      s"""SELECT 'customer:1' || '>' || $path AS path, $d AS depth,
         | $elbs AS elabels
         |FROM $tables WHERE ${conds.mkString("\n  AND ")}""".stripMargin
    }
    s"""$cte, pe AS (
       | SELECT src_label AS al, src_key AS ak, dst_label AS bl, dst_key AS bk,
       |        elabel
       | FROM edges WHERE elabel IN ($el)
       | UNION ALL
       | SELECT dst_label, dst_key, src_label, src_key, elabel
       | FROM edges WHERE elabel IN ($el)
       |), pef AS (
       | SELECT al, ak, bl, bk, bl || ':' || bk AS bid, elabel
       | FROM pe WHERE bl IN ($nl)
       |)
       |SELECT path, depth, elabels FROM (
       |${levels.mkString("\nUNION ALL\n")}
       |) ORDER BY path""".stripMargin
  }

  // ----------------------------------------------------------- g_degree
  /** In/out degree for every node (derived op per SURVEY.md §2.A). */
  def degree: Q = (s, dir) => g(s, dir).degrees.orderBy("label", "key")

  val degreeSql: String =
    s"""$cte, od AS (
       | SELECT src_label AS label, src_key AS key, count(*) AS out_deg
       | FROM edges GROUP BY 1, 2
       |), id AS (
       | SELECT dst_label AS label, dst_key AS key, count(*) AS in_deg
       | FROM edges GROUP BY 1, 2
       |)
       |SELECT n.label, n.key,
       | COALESCE(od.out_deg, CAST(0 AS BIGINT)) AS out_deg,
       | COALESCE(id.in_deg, CAST(0 AS BIGINT)) AS in_deg
       |FROM nodes n
       |LEFT JOIN od ON od.label = n.label AND od.key = n.key
       |LEFT JOIN id ON id.label = n.label AND id.key = n.key
       |ORDER BY n.label, n.key""".stripMargin

  // --------------------------------------------------- g_neighbors_2hop
  /** Distinct nodes reachable in ≤2 directed hops from customers with
    * key ≤ 10 — frontier expansion with per-level dedup (the shape BFS
    * uses at scale; dedup caps frontier growth).
    */
  def neighbors2hop: Q = (s, dir) => {
    val graph = g(s, dir)
    val e = graph.edges.select(
      col("src_label"), col("src_key"),
      col("dst_label").as("label"), col("dst_key").as("key"))
    val start = graph.nodes
      .filter(col("label") === "customer" && col("key") <= 10)
      .select("label", "key")
    // h1 feeds BOTH the level-2 expansion and the result union —
    // checkpoint so the first expansion join runs once (it is frontier-
    // bounded, tiny). h2 carries NO per-level distinct: the final
    // union-distinct performs the same map-side partial dedup in its
    // one shuffle, so a pre-distinct on h2 would only add a shuffle.
    val h1 = e.join(start.withColumnRenamed("label", "src_label")
        .withColumnRenamed("key", "src_key"), Seq("src_label", "src_key"))
      .select("label", "key").distinct()
      .localCheckpoint(eager = true)
    val h2 = e.join(h1.withColumnRenamed("label", "src_label")
        .withColumnRenamed("key", "src_key"), Seq("src_label", "src_key"))
      .select("label", "key")
    h1.union(h2).distinct().orderBy("label", "key")
  }

  // ---------------------------------------------------- g_ego_subgraph
  /** 2-hop EGO SUBGRAPH around customer:1 — the serving primitive every
    * graph UI / feature extractor calls ("show me this entity's
    * neighborhood"): the UNDIRECTED ≤2-hop node set, then the INDUCED
    * edge set (both endpoints inside — g_neighbors_2hop returns only
    * the nodes; the subgraph needs the edges BETWEEN them too, which a
    * traversal alone doesn't produce). Shape: two frontier expansions
    * build the (small, checkpointed) ego set, then two left-semi joins
    * induce the edges — the ego set broadcasts, the edge table is never
    * shuffled. Output is the edge list; node count rides along via the
    * path that produced it. */
  def egoSubgraph: Q = (s, dir) => {
    val graph = g(s, dir)
    val und = graph.edges.select(
        col("src_label").as("al"), col("src_key").as("ak"),
        col("dst_label").as("bl"), col("dst_key").as("bk"))
      .unionByName(graph.edges.select(
        col("dst_label").as("al"), col("dst_key").as("ak"),
        col("src_label").as("bl"), col("src_key").as("bk")))
    val start = graph.nodes
      .filter(col("label") === "customer" && col("key") === 1L)
      .select(col("label"), col("key"))
    def expand(f: DataFrame): DataFrame =
      und.join(f.withColumnRenamed("label", "al").withColumnRenamed("key", "ak"),
          Seq("al", "ak"))
        .select(col("bl").as("label"), col("bk").as("key")).distinct()
    // per-call checkpoints → checkpoint the induced edge list, free the
    // frontier/ego sets with the scope (the pathsTo discipline —
    // repeated calls would otherwise pin an ego set per invocation)
    PropertyGraph.withCheckpoints { ck =>
      val h1 = ck.own(expand(start).localCheckpoint(eager = true))
      val ego = ck.own(start.unionByName(h1).unionByName(expand(h1))
        .distinct().localCheckpoint(eager = true))
      // gate like every forced hint here: a 2-hop ego of a hub node can
      // be huge at 100× — past the cap the hints drop and the semi-joins
      // shuffle (the count is a cheap scan of the checkpointed set)
      val egoRows = PropertyGraph.rowCount(ego)
      graph.edges
        .join(PropertyGraph.gated(ego.toDF("src_label", "src_key"), egoRows),
          Seq("src_label", "src_key"), "left_semi")
        .join(PropertyGraph.gated(ego.toDF("dst_label", "dst_key"), egoRows),
          Seq("dst_label", "dst_key"), "left_semi")
        .select("elabel", "src_label", "src_key", "dst_label", "dst_key")
        .orderBy("elabel", "src_label", "src_key", "dst_label", "dst_key")
        .localCheckpoint(eager = true)
    }
  }

  val egoSubgraphSql: String =
    s"""$cte, und AS (
       | SELECT src_label AS al, src_key AS ak, dst_label AS bl, dst_key AS bk
       | FROM edges
       | UNION ALL
       | SELECT dst_label, dst_key, src_label, src_key FROM edges
       |), start AS (
       | SELECT label, key FROM nodes WHERE label = 'customer' AND key = 1
       |), h1 AS (
       | SELECT DISTINCT u.bl AS label, u.bk AS key
       | FROM und u JOIN start s ON u.al = s.label AND u.ak = s.key
       |), ego AS (
       | SELECT DISTINCT label, key FROM (
       |  SELECT * FROM start UNION ALL SELECT * FROM h1
       |  UNION ALL
       |  SELECT DISTINCT u.bl, u.bk FROM und u
       |  JOIN h1 ON u.al = h1.label AND u.ak = h1.key
       | )
       |)
       |SELECT e.elabel, e.src_label, e.src_key, e.dst_label, e.dst_key
       |FROM edges e
       |WHERE EXISTS (SELECT 1 FROM ego a
       |        WHERE a.label = e.src_label AND a.key = e.src_key)
       |  AND EXISTS (SELECT 1 FROM ego b
       |        WHERE b.label = e.dst_label AND b.key = e.dst_key)
       |ORDER BY elabel, src_label, src_key, dst_label, dst_key""".stripMargin

  // ------------------------------------------------------- g_run_query
  /** Reference runQuery (Neo4jGraph.scala:153) — the raw-Cypher
    * passthrough every reference op routes through. The Spark-native
    * equivalent: the graph registered as TEMP VIEWS and the user's
    * TEXTUAL query planned by Catalyst (`spark.sql`), with full access
    * to the optimizer (pushdown, join reorder, AQE) that a string
    * query through the reference's driver never gets. The demonstration
    * query is a 2-hop aggregation (suppliers per nation with region
    * rollup) written as SQL over the views — the shape a reference
    * user's Cypher `MATCH (s:supplier)-[:IN_NATION]->(n)-[:IN_REGION]->(r)`
    * becomes. runInTransaction (Neo4jGraph.scala:532) maps to the batch
    * upsert ops (§3: immutable snapshots, atomic by construction). */
  def runQuery: Q = (s, dir) => {
    val graph = g(s, dir)
    graph.nodes.createOrReplaceTempView("g_nodes")
    graph.edges.createOrReplaceTempView("g_edges")
    s.sql("""
      |SELECT r.name AS region, n.name AS nation, count(*) AS n_suppliers
      |FROM g_edges e
      |JOIN g_nodes n ON n.label = e.dst_label AND n.key = e.dst_key
      |JOIN g_edges ir ON ir.src_label = n.label AND ir.src_key = n.key
      | AND ir.elabel = 'IN_REGION'
      |JOIN g_nodes r ON r.label = ir.dst_label AND r.key = ir.dst_key
      |WHERE e.elabel = 'IN_NATION' AND e.src_label = 'supplier'
      |GROUP BY r.name, n.name
      |ORDER BY region, nation""".stripMargin)
  }

  val runQuerySql: String =
    s"""$cte
       |SELECT r.name AS region, n.name AS nation, count(*) AS n_suppliers
       |FROM edges e
       |JOIN nodes n ON n.label = e.dst_label AND n.key = e.dst_key
       |JOIN edges ir ON ir.src_label = n.label AND ir.src_key = n.key
       | AND ir.elabel = 'IN_REGION'
       |JOIN nodes r ON r.label = ir.dst_label AND r.key = ir.dst_key
       |WHERE e.elabel = 'IN_NATION' AND e.src_label = 'supplier'
       |GROUP BY r.name, n.name
       |ORDER BY region, nation""".stripMargin

  // ---------------------------------------------------- g_graph_summary
  /** GRAPH CATALOG SUMMARY — the stats surface a graph DB exposes
    * (reference: the per-label/per-relationship counts a client asks
    * before planning a traversal): one row per node label and per edge
    * label with row count, distinct endpoint counts, and total edge
    * weight. Each row is one partial-aggregated groupBy; the two small
    * result sets union. At 100 TB this is the query that should feed
    * from table statistics — expressed as aggregates it still scans
    * only the 5 columns involved. */
  def graphSummary: Q = (s, dir) => {
    val graph = g(s, dir)
    val n = graph.nodes.groupBy(col("label"))
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("node").as("kind"), col("label"), col("n_rows"),
        col("n_rows").as("n_src"), lit(0L).as("n_dst"),
        lit(0L).as("total_weight"))
    val e = graph.edges.groupBy(col("elabel").as("label"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("src_label"), col("src_key")).as("n_src"),
        countDistinct(col("dst_label"), col("dst_key")).as("n_dst"),
        sum(col("weight")).as("total_weight"))
      .select(lit("edge").as("kind"), col("label"), col("n_rows"),
        col("n_src"), col("n_dst"), col("total_weight"))
    n.unionByName(e).orderBy("kind", "label")
  }

  val graphSummarySql: String =
    s"""$cte
       |SELECT 'node' AS kind, label, count(*) AS n_rows,
       | count(*) AS n_src, CAST(0 AS BIGINT) AS n_dst,
       | CAST(0 AS BIGINT) AS total_weight
       |FROM nodes GROUP BY label
       |UNION ALL
       |SELECT 'edge', elabel, count(*),
       | count(DISTINCT src_label || '|' || CAST(src_key AS VARCHAR)),
       | count(DISTINCT dst_label || '|' || CAST(dst_key AS VARCHAR)),
       | CAST(sum(weight) AS BIGINT)
       |FROM edges GROUP BY elabel
       |ORDER BY kind, label""".stripMargin

  val neighbors2hopSql: String =
    s"""$cte, start AS (
       | SELECT label, key FROM nodes WHERE label = 'customer' AND key <= 10
       |), h1 AS (
       | SELECT DISTINCT e.dst_label AS label, e.dst_key AS key
       | FROM edges e JOIN start s ON e.src_label = s.label AND e.src_key = s.key
       |), h2 AS (
       | SELECT DISTINCT e.dst_label AS label, e.dst_key AS key
       | FROM edges e JOIN h1 ON e.src_label = h1.label AND e.src_key = h1.key
       |)
       |SELECT DISTINCT label, key FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
       |ORDER BY label, key""".stripMargin

  // ---------------------------------------------------- g_snapshot_diff
  /** GRAPH SNAPSHOT DIFF — the graph twin of q_cdc_diff, and the audit
    * query the immutable-snapshot mutation model (SURVEY §3) makes
    * possible: every mutation produces a new snapshot, so "what did
    * this batch change" is a first-class query, not a transaction-log
    * replay. A deterministic mutation batch composes three reference
    * ops (removeNodes DETACH of negative-balance suppliers, upsertNodes
    * of a new region + clamped customer balances, upsertEdges of a
    * weight bump + a REFERRED fan); the diff full-outer-joins base and
    * next on the stable composite identities ((label, key) for nodes,
    * the 5-column composite for edges — identities are unique by graph
    * construction) and classifies every row added / removed / changed /
    * unchanged. Output: per (section, label) counts. At 100 TB both
    * joins key on the identity the tables are bucketed by (the
    * src_bucketed_join layout) — a metadata-local diff, no re-shuffle;
    * counts partial-aggregate. */
  def snapshotDiff: Q = (s, dir) => {
    val base = g(s, dir)
    val clamped = base.nodes
      .filter(col("label") === "customer" && col("balance") < 0)
      .withColumn("balance", lit(0.0))
    val region100 = s.range(1).select(
      lit("region").as("label"), lit(100L).as("key"),
      lit("LAPLAND").as("name"), lit(null).cast("double").as("balance"))
    val bump = base.edges
      .filter(col("elabel") === "HAS_PART" && col("src_key") <= 50L)
      .withColumn("weight", col("weight") + 10L)
    val fan = s.range(3).select(
      lit("REFERRED").as("elabel"),
      lit("customer").as("src_label"), lit(1L).as("src_key"),
      lit("customer").as("dst_label"), (col("id") + 2L).as("dst_key"),
      lit(1L).as("weight"))
    val next = base.removeNodes("supplier", col("balance") < 0)
      .upsertNodes(region100.unionByName(clamped))
      .upsertEdges(bump.unionByName(fan))

    def classify(changed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(col("in_b").isNull, "removed")
        .when(col("in_a").isNull, "added")
        .when(changed, "changed")
        .otherwise("unchanged")

    val na = base.nodes.select(col("label"), col("key"),
      col("name").as("name_a"), col("balance").as("bal_a"), lit(1).as("in_a"))
    val nb = next.nodes.select(col("label"), col("key"),
      col("name").as("name_b"), col("balance").as("bal_b"), lit(1).as("in_b"))
    val nd = na.join(nb, Seq("label", "key"), "full_outer")
      .select(lit("node").as("section"), col("label"),
        classify(!(col("name_a") <=> col("name_b")) ||
          !(col("bal_a") <=> col("bal_b"))).as("kind"))

    val idCols = Seq("elabel", "src_label", "src_key", "dst_label", "dst_key")
    val ea = base.edges.withColumnRenamed("weight", "w_a")
      .withColumn("in_a", lit(1))
    val eb = next.edges.withColumnRenamed("weight", "w_b")
      .withColumn("in_b", lit(1))
    val ed = ea.join(eb, idCols, "full_outer")
      .select(lit("edge").as("section"), col("elabel").as("label"),
        classify(!(col("w_a") <=> col("w_b"))).as("kind"))

    nd.unionByName(ed).groupBy("section", "label").agg(
      count(when(col("kind") === "added", 1)).as("n_added"),
      count(when(col("kind") === "removed", 1)).as("n_removed"),
      count(when(col("kind") === "changed", 1)).as("n_changed"),
      count(when(col("kind") === "unchanged", 1)).as("n_unchanged"))
      .orderBy("section", "label")
  }

  // count(CASE …) not sum(CASE …): a DuckDB integer sum widens to
  // HUGEINT — the q_running_distinct class the oracle type gate bans.
  val snapshotDiffSql: String =
    s"""$cte, rm AS (
       | SELECT label, key FROM nodes WHERE label = 'supplier' AND balance < 0
       |), n2 AS (
       | SELECT label, key, name,
       |  CASE WHEN label = 'customer' AND balance < 0 THEN 0.0 ELSE balance END AS balance
       | FROM nodes WHERE NOT (label = 'supplier' AND balance < 0)
       | UNION ALL SELECT 'region', 100, 'LAPLAND', CAST(NULL AS DOUBLE)
       |), e2 AS (
       | SELECT elabel, src_label, src_key, dst_label, dst_key,
       |  CASE WHEN elabel = 'HAS_PART' AND src_key <= 50
       |   THEN weight + 10 ELSE weight END AS weight
       | FROM edges e
       | WHERE NOT EXISTS (SELECT 1 FROM rm WHERE rm.label = e.src_label AND rm.key = e.src_key)
       |   AND NOT EXISTS (SELECT 1 FROM rm WHERE rm.label = e.dst_label AND rm.key = e.dst_key)
       | UNION ALL SELECT 'REFERRED', 'customer', 1, 'customer', 2, 1
       | UNION ALL SELECT 'REFERRED', 'customer', 1, 'customer', 3, 1
       | UNION ALL SELECT 'REFERRED', 'customer', 1, 'customer', 4, 1
       |), ndiff AS (
       | SELECT 'node' AS section, COALESCE(a.label, b.label) AS label,
       |  CASE WHEN b.key IS NULL THEN 'removed'
       |       WHEN a.key IS NULL THEN 'added'
       |       WHEN a.name IS DISTINCT FROM b.name
       |         OR a.balance IS DISTINCT FROM b.balance THEN 'changed'
       |       ELSE 'unchanged' END AS kind
       | FROM nodes a FULL OUTER JOIN n2 b
       |   ON a.label = b.label AND a.key = b.key
       |), ediff AS (
       | SELECT 'edge' AS section, COALESCE(a.elabel, b.elabel) AS label,
       |  CASE WHEN b.elabel IS NULL THEN 'removed'
       |       WHEN a.elabel IS NULL THEN 'added'
       |       WHEN a.weight IS DISTINCT FROM b.weight THEN 'changed'
       |       ELSE 'unchanged' END AS kind
       | FROM edges a FULL OUTER JOIN e2 b
       |   ON a.elabel = b.elabel AND a.src_label = b.src_label
       |  AND a.src_key = b.src_key AND a.dst_label = b.dst_label
       |  AND a.dst_key = b.dst_key
       |)
       |SELECT section, label,
       | count(CASE WHEN kind = 'added' THEN 1 END) AS n_added,
       | count(CASE WHEN kind = 'removed' THEN 1 END) AS n_removed,
       | count(CASE WHEN kind = 'changed' THEN 1 END) AS n_changed,
       | count(CASE WHEN kind = 'unchanged' THEN 1 END) AS n_unchanged
       |FROM (SELECT * FROM ndiff UNION ALL SELECT * FROM ediff)
       |GROUP BY section, label
       |ORDER BY section, label""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, Q] = Map(
    "g_snapshot_diff" -> snapshotDiff,
    "g_get_node" -> getNode,
    "g_get_nodes" -> getNodes,
    "g_get_nodes_any" -> getNodesAny,
    "g_get_edges" -> getEdges,
    "g_get_edges_any" -> getEdgesAny,
    "g_typed_props" -> typedProps,
    "g_multi_edges" -> multiEdges,
    "g_get_edge" -> getEdge,
    "g_get_edge_by_id" -> getEdgeById,
    "g_remove_edge" -> removeEdge,
    "g_update_edge" -> updateEdge,
    "g_update_edge_props" -> updateEdgeProps,
    "g_egress" -> egress,
    "g_ingress" -> ingress,
    "g_add_node" -> addNode,
    "g_add_edge" -> addEdge,
    "g_update_node" -> updateNode,
    "g_update_node_props" -> updateNodeProps,
    "g_remove_nodes" -> removeNodes,
    "g_paths_to" -> pathsTo,
    "g_paths_labeled" -> pathsLabeled,
    "g_degree" -> degree,
    "g_ego_subgraph" -> egoSubgraph,
    "g_graph_summary" -> graphSummary,
    "g_run_query" -> runQuery,
    "g_neighbors_2hop" -> neighbors2hop)

  val oracleSql: Map[String, String] = Map(
    "g_snapshot_diff" -> snapshotDiffSql,
    "g_get_node" -> getNodeSql,
    "g_get_nodes" -> getNodesSql,
    "g_get_nodes_any" -> getNodesAnySql,
    "g_get_edges" -> getEdgesSql,
    "g_get_edges_any" -> getEdgesAnySql,
    "g_typed_props" -> typedPropsSql,
    "g_multi_edges" -> multiEdgesSql,
    "g_get_edge" -> getEdgeSql,
    "g_get_edge_by_id" -> getEdgeByIdSql,
    "g_remove_edge" -> removeEdgeSql,
    "g_update_edge" -> updateEdgeSql,
    "g_update_edge_props" -> updateEdgePropsSql,
    "g_egress" -> egressSql,
    "g_ingress" -> ingressSql,
    "g_add_node" -> addNodeSql,
    "g_add_edge" -> addEdgeSql,
    "g_update_node" -> updateNodeSql,
    "g_update_node_props" -> updateNodePropsSql,
    "g_remove_nodes" -> removeNodesSql,
    "g_paths_to" -> pathsToSql,
    "g_paths_labeled" -> pathsLabeledSql,
    "g_degree" -> degreeSql,
    "g_ego_subgraph" -> egoSubgraphSql,
    "g_graph_summary" -> graphSummarySql,
    "g_run_query" -> runQuerySql,
    "g_neighbors_2hop" -> neighbors2hopSql)
}
