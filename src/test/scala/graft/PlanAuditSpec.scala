package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, GraphOps, Relational, Similarity}

/** Physical-plan audits: the properties the 100 TB story depends on,
  * asserted against the ACTUAL executed plan (not hoped for). A plan
  * that silently loses predicate pushdown, column pruning, or its
  * broadcast join still returns correct rows at sf0.001 — these specs
  * are what fails instead of a production cluster. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSession._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Plan AFTER execution — AQE only finalizes (and codegens) stages at
    * runtime, so pre-execution toString carries no codegen markers. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // count() would build a DIFFERENT plan; collect runs this one
    df.queryExecution.executedPlan.toString
  }

  test("point lookups push both predicates into the cached-graph scan") {
    // the graph snapshot is cached; the lookup must push its predicates
    // into the InMemoryTableScan (batch pruning), not filter afterwards
    val p = plan(GraphOps.getNode(spark, sf))
    assert(p.contains("InMemoryTableScan"), s"graph not cached:\n$p")
    assert(p.contains("= customer)") && p.contains("= 42)"),
      s"predicates did not reach the in-memory scan:\n$p")
  }

  test("q1_agg scans only the columns it aggregates") {
    val p = plan(Relational.q1Agg(spark, sf))
    // lineitem has 16 columns; the read schema must carry only the 7 used
    assert(p.contains("l_shipdate"), "filter column present")
    assert(!p.contains("l_comment") && !p.contains("l_receiptdate"),
      s"unused lineitem columns leaked into the scan:\n$p")
  }

  test("q1_agg shipdate filter reaches the scan as a pushed filter") {
    val p = plan(Relational.q1Agg(spark, sf))
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate range did not push down:\n$p")
  }

  test("q5_multijoin broadcasts its dimension sides") {
    val p = plan(Relational.q5Multijoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("hot aggregation paths stay inside whole-stage codegen") {
    // executedPlan.toString marks codegen stages with "*(n)"
    assert(finalPlan(Relational.q1Agg(spark, sf)).contains("*(1)"))
    assert(finalPlan(Dedup.dedupExact(spark, sf)).contains("*(1)"))
  }

  test("minhash/jaccard candidate joins are equi-joins, not cartesian") {
    val mh = plan(Dedup.dedupMinhashRaw(spark, sf))
    assert(!mh.contains("CartesianProduct"),
      s"minhash pair stage degenerated to a cartesian product:\n$mh")
    val jc = plan(Dedup.jaccardPairsRaw(spark, sf))
    assert(!jc.contains("CartesianProduct"),
      s"jaccard pair stage degenerated to a cartesian product:\n$jc")
  }

  test("banded-LSH dedup joins on band buckets, never cross product") {
    val p = plan(Similarity.dedupEmbeddingLsh(spark, sf))
    assert(!p.contains("CartesianProduct"), s"LSH lost its bucket join:\n$p")
  }

  test("brute-force ANN broadcasts the probe side (no shuffle of cands)") {
    val p = plan(Similarity.annTopk(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side not broadcast:\n$p")
  }

  test("LSH ANN broadcast HINTS only cover probe-filtered sides") {
    // every FORCED broadcast (our hint) must sit above a vec_id probe
    // filter — a hint on the unfiltered embeddings table would ship the
    // whole corpus and die at the 8 GB ceiling at scale. Statistics-
    // based broadcasts the optimizer adds at tiny sf are fine: those
    // disappear on their own when the table outgrows the threshold.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, BROADCAST}
    val op = Similarity.annTopkLshRaw(spark, sf).queryExecution.optimizedPlan
    var hinted = 0
    op.foreach {
      case j: Join =>
        def check(side: LogicalPlan,
                  h: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo]): Unit =
          if (h.exists(_.strategy.contains(BROADCAST))) {
            hinted += 1
            assert(side.toString.contains("< 10"),
              s"hinted broadcast side is not probe-filtered:\n$side")
          }
        check(j.left, j.hint.leftHint); check(j.right, j.hint.rightHint)
      case _ =>
    }
    assert(hinted >= 1, "expected at least one hinted broadcast")
  }

  test("knn join carries NO broadcast hints — bucket shuffle by design") {
    // both knn sides are corpus-scale: a forced broadcast anywhere in
    // this plan would ship a corpus and die at the 8 GB ceiling. AQE
    // may still convert at tiny sf from runtime stats — that self-
    // corrects at scale; a HINT would not.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, BROADCAST}
    val op = Similarity.knnJoin(spark, sf).queryExecution.optimizedPlan
    op.foreach {
      case j: Join =>
        assert(!j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
               !j.hint.rightHint.exists(_.strategy.contains(BROADCAST)),
          s"knn join has a forced broadcast:\n$j")
      case _ =>
    }
  }

  test("asof join plans with NO join operator — single window shuffle") {
    // the whole point of the union-tag + last(ignore nulls) shape: the
    // as-of match is a window over one shuffle on user_id, not a join
    val p = plan(Relational.qEventsAsof(spark, sf))
    assert(!p.contains("Join"), s"asof degenerated to a join:\n$p")
    assert(p.contains("Window"), s"expected a window plan:\n$p")
  }

  test("rank-filtered windows execute with WindowGroupLimit pushdown") {
    // per-key top-k is written as window(row_number) + filter(rank <= k):
    // Spark's WindowGroupLimit rule must turn that into bounded per-group
    // scans (partial limits BEFORE the shuffle) — the Spark-first answer
    // to a custom top-k operator. If this assert fails, every rank sorts
    // its whole group at 100 TB.
    val p = plan(graft.operators.TextOps.tfidf(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed into WindowGroupLimit:\n$p")
  }

  test("pack_sequences window is per-shard, never a global single partition") {
    val p = plan(graft.operators.TextOps.packSequences(spark, sf))
    // the cumulative sum must hash-partition by shard; an unpartitioned
    // ordered window would serialize the corpus through one partition
    assert(p.contains("hashpartitioning(shard"),
      s"window not partitioned by shard:\n$p")
  }

  test("partitioned read satisfies the lang filter from directory pruning") {
    val p = plan(graft.sources.Formats.prunedScan(spark, sf))
    // the lang IN (...) predicate must land in PartitionFilters on the
    // file scan (directory pruning — no data IO for other langs), not
    // ride along as a post-scan data Filter
    assert(p.contains("PartitionFilters: [lang"),
      s"lang filter did not become a partition filter:\n$p")
  }

  test("sorted-layout read pushes the date window into the parquet reader") {
    // write the sorted layout first (the op owns the directory)
    graft.sources.Formats.sortedMinmax(spark, sf).collect()
    val p = plan(graft.sources.Formats.sortedScan(spark, sf))
    // the o_orderdate window must reach the scan as PushedFilters —
    // that is what lets footer min/max stats skip files/row-groups on
    // the sorted layout; a post-scan-only Filter would read everything
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"date window not pushed to the parquet reader:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"),
      s"window bounds missing from PushedFilters:\n$p")
  }

  test("z-ordered layout clusters BOTH dims per file and pushes the cust filter") {
    graft.sources.Formats.zorder(spark, sf).collect()
    // pruning mechanics: the custkey slice must reach the reader as
    // PushedFilters (footer stats can then skip files on a column the
    // layout was never SORTED by — that is z-order's whole point)
    val p = plan(graft.sources.Formats.zorderScan(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(o_custkey)"),
      s"custkey slice not pushed to the parquet reader:\n$p")
    // clustering quality: mean per-file envelope on EACH dim must sit
    // well under the global range — a single-column sort leaves the
    // other dim's per-file range at ~100% of global
    val rows = graft.sources.Formats.zorderFileStats(spark, sf).collect()
    assert(rows.length > 1, "z-order write produced a single file")
    def spanShare(lo: Seq[Long], hi: Seq[Long]): Double = {
      val (gmin, gmax) = (lo.min, hi.max)
      val mean = lo.zip(hi).map { case (a, b) => (b - a).toDouble }.sum / lo.length
      mean / math.max(1L, gmax - gmin)
    }
    val cust = spanShare(rows.map(_.getAs[Long]("cmin")).toSeq,
      rows.map(_.getAs[Long]("cmax")).toSeq)
    val day = spanShare(rows.map(_.getAs[Long]("dmin")).toSeq,
      rows.map(_.getAs[Long]("dmax")).toSeq)
    assert(cust < 0.7, f"custkey per-file span $cust%.2f of global — not clustered")
    assert(day < 0.7, f"orderdate per-file span $day%.2f of global — not clustered")
  }

  test("PQ assignment and ADC are equi-joins with top-k pushdown, no cartesian") {
    val p = plan(Similarity.annPq(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PQ plan fell back to a cross product:\n$p")
    // both the per-(vector, subspace) argmin and the final top-k must
    // execute as WindowGroupLimit (partial top-k before the shuffle) —
    // at 10^9 vectors the difference between sorting candidates and
    // keeping k per partition
    assert(p.contains("WindowGroupLimit"),
      s"rank filters did not push down as WindowGroupLimit:\n$p")
  }

  test("decontamination joins shingles equi, eval side broadcast") {
    val p = plan(Dedup.decontaminate(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination plan has a cross product:\n$p")
    // the train x eval candidate stage must be an equi-join on the
    // shingle; the (tiny) eval side is the build/broadcast side
    assert(p.contains("BroadcastHashJoin [sh"), s"shingle join not broadcast-equi:\n$p")
  }

  test("bag ops plan as aggregates, not joins") {
    // INTERSECT ALL / EXCEPT ALL execute as aggregate + replicate_rows
    // (one shuffle each); a join-based plan would be a regression
    val p = plan(Relational.qBagOps(spark, sf))
    assert(p.contains("replicaterows") || p.contains("ReplicateRows") ||
      p.contains("HashAggregate"), s"bag ops lost the aggregate shape:\n$p")
    assert(!p.contains("CartesianProduct"), s"bag ops cartesian:\n$p")
  }

  test("multi-distinct plans ONE Expand, not N self-joined aggregates") {
    val p = plan(Relational.qMultiDistinct(spark, sf))
    assert(p.contains("Expand"), s"multi-distinct lost the Expand plan:\n$p")
    // one scan of orders — the naive rewrite reads the table per distinct
    val scans = "Scan parquet|FileScan|InMemoryTableScan".r
      .findAllIn(p).length
    assert(scans <= 1, s"multi-distinct scans the table $scans times:\n$p")
    assert(!p.toLowerCase.contains("sortmergejoin"),
      s"multi-distinct planned a join:\n$p")
  }

  test("butterfly census wedge join is equi on the order key, no cartesian") {
    val p = finalPlan(graft.operators.Analytics.butterflyCount(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"butterfly wedge join degenerated:\n$p")
  }

  test("retention joins its tiny cohort-size frame broadcast") {
    val p = finalPlan(Relational.qRetention(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"retention cohort-size join not broadcast:\n$p")
  }

  test("betweenness expansion steps ride the counted broadcast gate") {
    // the loop's eager checkpoints truncate lineage (the final plan
    // never shows the expansion joins), so the audit drives the
    // EXTRACTED step builders directly: under the cap the frontier/vis
    // sides must carry broadcast hints; above it the hints must drop
    import spark.implicits._
    val frontier = Seq((1L, 1L, 0, 1L)).toDF("seed", "node", "d", "sigma")
    val und = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val vis = frontier.select("seed", "node")
    def optimized(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString
    val gatedPlan = optimized(graft.operators.Analytics
      .bcForwardStep(frontier, 1L, und, vis, 1L, 1))
    assert(gatedPlan.toLowerCase.contains("broadcast"),
      s"forward step under the cap lost its broadcast hints:\n$gatedPlan")
    val ungatedPlan = optimized(graft.operators.Analytics
      .bcForwardStep(frontier, 2000001L, und, vis, 2000001L, 1))
    assert(!ungatedPlan.toLowerCase.contains("broadcast"),
      s"forward step past the cap still hints broadcast:\n$ungatedPlan")
    val cur = Seq((1L, 1L, 1L)).toDF("seed", "a", "sigma_v")
    val nxt = Seq((1L, 2L, 1L, 0L)).toDF("seed", "b", "sigma_w", "delta_w")
    val bwdGated = optimized(graft.operators.Analytics
      .bcBackwardStep(cur, 1L, und, nxt, 1L))
    assert(bwdGated.toLowerCase.contains("broadcast"),
      s"backward step under the cap lost its broadcast hints:\n$bwdGated")
    // and the real operator's final plan must never degenerate
    val p = finalPlan(graft.operators.Analytics.betweenness(spark, sf))
    assert(!p.contains("CartesianProduct"), s"betweenness cartesian:\n$p")
  }

  test("kmeans assignment is the broadcast-centroid O(n·k) pass, no cartesian") {
    // the centroid side is k = 8 rows: the n×k scoring must plan as a
    // broadcast nested loop (it is a deliberate cross join against a
    // constant-size side), NEVER a CartesianProduct (both sides
    // shuffled) — that is the difference between a map-side linear
    // scan and a corpus² shuffle at scale
    val p = plan(Similarity.kmeansCluster(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"kmeans assignment lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"kmeans cartesian:\n$p")
  }

  test("semdedup pair join is equi on the cluster id, no cartesian") {
    // the quadratic is bounded per cluster ONLY if the pair join keys
    // on cid; a dropped equi-condition degenerates to all-pairs
    val p = plan(Similarity.semDedup(spark, sf))
    assert(!p.contains("CartesianProduct"), s"semdedup cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("Join"),
      s"unexpected semdedup shape:\n$p")
  }

  test("topo-levels round joins ride the gated broadcast under the cap") {
    // per-round eager checkpoints truncate lineage (the final plan
    // never shows the round joins) — drive the extracted step builder,
    // same pattern as the betweenness audit
    import spark.implicits._
    val lvl = Seq((1L, 0L)).toDF("id", "lvl")
    val ed = Seq((1L, 2L)).toDF("a", "b")
    def optimized(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString
    val gatedPlan = optimized(
      graft.operators.Analytics.topoDeltaStep(lvl, lvl, ed, 1L, 1L))
    assert(gatedPlan.toLowerCase.contains("broadcast"),
      s"topo step under the cap lost its broadcast hint:\n$gatedPlan")
    val ungatedPlan = optimized(
      graft.operators.Analytics.topoDeltaStep(lvl, lvl, ed, 2000001L,
        2000001L))
    assert(!ungatedPlan.toLowerCase.contains("broadcast"),
      s"topo step past the cap still hints broadcast:\n$ungatedPlan")
    // and the executed operator must never degenerate
    val p = finalPlan(graft.operators.Analytics.topoLevels(spark, sf))
    assert(!p.contains("CartesianProduct"), s"topo cartesian:\n$p")
  }

  test("span dedup's two window functions share ONE hash exchange") {
    // count-over-h and row_number-over-h both need hashpartitioning(h);
    // losing the shared exchange doubles the biggest shuffle of the op
    val p = plan(Dedup.dedupSpan(spark, sf))
    val n = "Exchange hashpartitioning\\(h#".r.findAllIn(p).length
    assert(n == 1, s"expected 1 span-hash exchange, got $n:\n$p")
  }

  test("phash band join is equi on (band, value), never cartesian") {
    val p = finalPlan(graft.operators.Multimodal.phashDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"phash candidate join degenerated:\n$p")
  }

  test("clustering-coef attribution joins are equi, never cartesian") {
    val p = finalPlan(graft.operators.Analytics.clusteringCoef(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"clustering coef degenerated:\n$p")
  }

  test("q_linreg broadcasts both dims and prunes the lineitem scan") {
    val p = plan(Relational.qLinreg(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"),
      s"unused lineitem columns leaked into the q_linreg scan:\n$p")
  }

  test("q_chi2 marginal joins broadcast the cell-table aggregates") {
    val p = finalPlan(Relational.qChi2(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"marginals not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"chi2 degenerated to a cartesian cell join:\n$p")
  }

  test("q_markov_transitions: pair join is broadcast, window keyed on user") {
    val p = plan(Relational.qMarkovTransitions(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"marginal not broadcast:\n$p")
    assert(p.toLowerCase.contains("window"), s"no window operator:\n$p")
    assert(!p.contains("CartesianProduct"), s"degenerate plan:\n$p")
  }

  test("q_hll_distinct register merge partially aggregates map-side") {
    // the whole point of the sketch: partial_max per register before
    // the 64-row shuffle — a final-only aggregate would shuffle rows
    val p = plan(Relational.qHllDistinct(spark, sf))
    assert(p.contains("partial_max") || p.contains("partial max")
      || p.contains("HashAggregate(keys=[j"),
      s"register max is not a partial (map-side) aggregate:\n$p")
  }

  test("q_topk_per_group rank filter compiles to a WindowGroupLimit") {
    // the rn <= literal-k filter must become the physical per-group
    // partial top-k — if the rewrite silently degrades (non-literal
    // bound, non-rank function), the exchange carries the corpus again
    val p = plan(Relational.qTopkPerGroup(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      s"rank filter did not rewrite to WindowGroupLimit:\n$p")
  }

  test("q21 double-correlation compiles to left-semi + left-anti equi-joins") {
    // the exists / not-exists pair must plan as one semi + one anti
    // self-join on l_orderkey (suppkey inequality as a residual) —
    // never a per-row subquery re-scan or a cartesian
    val p = plan(Relational.q21WaitingSuppliers(spark, sf))
    assert(p.contains("LeftSemi"), s"exists side is not a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"not-exists side is not an anti join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"correlation degenerated to a cartesian:\n$p")
  }

  test("t_dsir selection compiles to a TakeOrderedAndProject, never a corpus sort") {
    // r12: the selection is a single top-dsirKeep under the total
    // order (dsir_ppm desc, doc_id) — the distributive per-task top-k.
    // The registered query returns the memoized checkpoint (opaque to
    // plan audits), so assert on the selection step itself over a
    // representative frame.
    // parquet-backed frame (a local relation would constant-fold the
    // whole selection away at optimize time)
    val fake = graft.model.Tables(spark, sf, "documents")
      .selectExpr("doc_id", "doc_id as n_feat", "doc_id as dsir_ppm")
    val p = plan(graft.operators.TextOps.dsirSelect(fake))
    assert(p.contains("TakeOrderedAndProject"),
      s"t_dsir selection is not a TakeOrderedAndProject:\n$p")
    assert(!p.contains("Window"), s"t_dsir selection still windows:\n$p")
  }

  test("t_code_detect scans only doc_id and text") {
    val p = plan(graft.operators.TextOps.codeDetect(spark, sf))
    assert(!p.contains("source") && !p.contains("lang"),
      s"unused documents columns leaked into the t_code_detect scan:\n$p")
  }

  test("bloom-indexed point lookup pushes the IN predicate to the parquet reader") {
    // pushdown is what hands the keys to the row-group bloom test —
    // a post-scan-only Filter would read every data page
    graft.sources.Formats.parquetBloom(spark, sf).collect()
    val p = plan(graft.sources.Formats.bloomScan(spark, sf))
    assert(p.contains("PushedFilters: [In(o_custkey"),
      s"custkey IN did not push to the bloom-indexed scan:\n$p")
  }

  test("q7 role dims broadcast; the fact is never self-joined or crossed") {
    // both nation aliases, supplier, and the joined-back dims must ride
    // broadcast hash joins — a shuffled nation join or a cartesian
    // between the two role aliases is the naive-planner failure mode
    val p = plan(Relational.q7VolumeShipping(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast dim join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"role-pair filter degenerated to a cartesian:\n$p")
    assert(p.contains("l_shipdate"), "year filter column present")
  }

  test("q15 max-over-view is a 1-row broadcast; the view is reused, not rebuilt") {
    val p = plan(Relational.q15TopSupplier(spark, sf))
    // the scalar max crosses back via a broadcast nested loop over ONE
    // row (the whitelisted scalar idiom); the view itself must come
    // from the cache both times, not two lineitem scans
    assert(p.contains("InMemoryTableScan"),
      s"revenue view not cached (fact scanned twice):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scalar max compare is a real cartesian:\n$p")
  }

  test("q17 per-part stats broadcast back; part dim is broadcast") {
    val p = plan(Relational.q17SmallQuantity(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"stats/part joins are not broadcasts:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"correlated-average compare degenerated:\n$p")
  }

  test("q4 exists-correlation compiles to one left-semi equi-join") {
    // EXISTS must be a semi join keyed on orderkey with the ship-lag
    // test as a residual — a plain inner join would double-count
    // multi-late orders, a per-row subquery would re-scan the fact
    val p = plan(Relational.q4PriorityCount(spark, sf))
    assert(p.contains("LeftSemi"), s"exists side is not a semi join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"correlation degenerated to a cartesian:\n$p")
  }

  test("q8 numerator and denominator share one join tree; dims broadcast") {
    val p = plan(Relational.q8MarketShare(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast dim join:\n$p")
    // the conditional-sum plan must scan lineitem ONCE — a second scan
    // means the naive numerator/denominator double-join came back
    val scans = "ReadSchema:.*l_extendedprice".r.findAllIn(p).size
    assert(scans <= 1, s"lineitem scanned $scans times:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"role joins degenerated:\n$p")
  }

  test("q10 cut is a TakeOrderedAndProject; dims join after the aggregate") {
    val p = plan(Relational.q10ReturnedItems(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 cut is a global sort, not TakeOrdered:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter did not push to the lineitem scan:\n$p")
  }

  test("q14 month filter pushes to the lineitem scan; part is broadcast") {
    val p = plan(Relational.q14PromoShare(spark, sf))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"month window did not push down:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$p")
  }

  test("q19 per-side disjunctions reach both scans as pushed filters") {
    // the Q19 lesson made physical: the part-side OR-of-ANDs and the
    // lineitem-side quantity hull must BOTH appear in PushedFilters —
    // if either stays above its join the scan reads the whole table
    val p = plan(Relational.q19Disjunctive(spark, sf))
    assert(p.contains("Or(And(EqualTo(p_brand,Brand#12)"),
      s"part-side disjunction did not push to the part scan:\n$p")
    // hull constants widened past the DECIMAL(12,2) rounding boundary
    // in r13 (0.99/50.01 — the advisor's rounding-edge fix); the audit
    // tracks the op's actual constants
    assert(p.contains("GreaterThanOrEqual(l_quantity,0.99)"),
      s"quantity hull did not push to the lineitem scan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"disjunctive join degenerated:\n$p")
  }

  test("q2 correlated min decorrelates to a broadcast; no cartesian") {
    val p = plan(Relational.q2MinCostSupplier(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"per-part min did not broadcast back:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"correlated min degenerated:\n$p")
  }

  test("q16 blacklist is an anti join BEFORE the distinct-count aggregate") {
    val p = plan(Relational.q16PartsSupplierCnt(spark, sf))
    assert(p.contains("LeftAnti"), s"NOT IN is not an anti join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"blacklist degenerated:\n$p")
  }

  test("q20 pair-correlated aggregate decorrelates to outer+semi equi-joins") {
    val p = plan(Relational.q20ExcessAvailability(spark, sf))
    assert(p.contains("LeftSemi") || p.contains("LeftOuter"),
      s"nested-IN chain lost its semi/outer joins:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"correlated aggregate degenerated:\n$p")
  }

  test("q_corr_matrix derives all 6 pairs from ONE fact scan") {
    // the one-pass claim is the op's reason to exist — a union-of-
    // selects shape would rebuild the moment aggregate per pair
    val p = plan(Relational.qCorrMatrix(spark, sf))
    val scans = "ReadSchema:.*l_quantity".r.findAllIn(p).size
    assert(scans == 1, s"lineitem scanned $scans times (one-pass lost):\n$p")
  }

  test("q_quantile_kll estimate frame broadcasts onto the fact; windows stay pri-partitioned") {
    val p = plan(Relational.qQuantileKll(spark, sf))
    // the 5-row estimate frame joins the fact by broadcast (the
    // adjudication pass), and no window in the plan is un-partitioned
    // (the sweep enforces this globally; asserted here as the op's own
    // contract too)
    assert(p.contains("BroadcastHashJoin"),
      s"estimate join is not a broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"adjudication join degenerated:\n$p")
  }

  // The un-partitioned-window audit (r10/r11: an enumerated 8-op list
  // here) moved to CrossJoinSweepSpec in r12, where it now sweeps EVERY
  // SparkEntry.queries entry off the shared optimized-plan map — a new
  // op can no longer silently reintroduce the corpus-window
  // anti-pattern by not being on a list.

  test("q_topk_sketch: per-shard rank filter plans as WindowGroupLimit; merge joins broadcast") {
    val p = plan(Relational.qTopkSketch(spark, sf))
    // rn <= k over (shard) must become the keep-k-per-group scan, not
    // a full per-shard sort retained to the filter
    assert(p.contains("WindowGroupLimit"),
      s"rank filter did not push into a group limit:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the S-row residual/extremes frames did not broadcast:\n$p")
  }

  test("t_span_corruption plans with no hash exchange (in-row HOFs; only the output sort moves data)") {
    val p = plan(graft.operators.TextOps.spanCorruption(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"the masking plan should be computable inside the row:\n$p")
  }

  test("q_kll_compactor windows stay (pri,shard)/(pri)-partitioned; adjudication broadcasts") {
    val p = plan(Relational.qKllCompactor(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"estimate frames did not broadcast onto the fact:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"adjudication join degenerated:\n$p")
  }

  test("q_moments: one fact scan, partial-agged (two HashAggregate levels)") {
    val p = plan(Relational.qMoments(spark, sf))
    val scans = "ReadSchema:.*o_totalprice".r.findAllIn(p).size
    assert(scans == 1, s"orders scanned $scans times:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"moment sums not map-side combined:\n$p")
  }

  test("q_decile_lift: cutpoints/total ride 1-row broadcasts; no sort-merge join") {
    val p = plan(Relational.qDecileLift(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row cut/total frames did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"band assignment degenerated to a shuffle join:\n$p")
  }
}
