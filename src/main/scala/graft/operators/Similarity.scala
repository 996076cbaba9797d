package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{PropertyGraph, SessionMemo, Tables}

/** Approximate-nearest-neighbor search over the embedding column
  * (SURVEY.md §2 D-block, `s_ann_topk`).
  *
  * Baseline: brute-force cosine top-k per probe. Ranking is by an
  * integer score monotone in cosine — sign(dot)·⌊1000·dot²/‖b‖²⌋ —
  * computed on round(x·1000) quantized BIGINT vectors, so Spark and
  * DuckDB rank identically (float cosine would drift and flip
  * row_number at ties).
  *
  * Scale paths — BOTH oracle-checked, not spec-only: `s_ann_topk_lsh`
  * (banded random-hyperplane signatures, ±1 planes derived from md5
  * parity, exact integer dots) and `s_ann_ivf` (coarse-centroid
  * inverted file, nprobe = 1). A probe meets only its bucket/cell;
  * `s_ann_topk` remains the exact brute-force baseline they are
  * recall-compared against in Round2Spec.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x =>
        floor(x.cast("double") * 1000 + 0.5).cast("long")).as("qe"))

  /** Candidate-side view with the self-norm PRECOMPUTED per vector:
    * the score divides by ‖cand‖², and computing it inside the
    * pair join repeats the 64-mult dot product once per PAIR instead
    * of once per VECTOR — ~half the per-pair flops at corpus scale. */
  private def quantizedWithNorm(s: SparkSession, dir: String): DataFrame = {
    val q = quantized(s, dir)
    q.withColumn("nb", graft.functions.VectorExprs.dotL(col("qe"), col("qe")))
  }

  private def dot(x: Column, y: Column): Column =
    graft.functions.VectorExprs.dotL(x, y) // codegen'd native expression

  /** Build and materialize the similarity family's session memos (the
    * Analytics.warmShared pattern): the band table, the IVF and k-means
    * assignments, the PQ codes, the 1-bit signature table, the kNN-graph
    * adjacency and the two HNSW layer adjacencies are each read by
    * several queries, and without prewarming whichever family member
    * Bench happened to run first absorbed the whole build into its own
    * number (r5: s_ann_ivf 0.8 → 4.2 s purely from run-order
    * attribution). One `rowCount` job per frame fills its cache. */
  private[graft] def warmShared(s: SparkSession, dir: String): Unit =
    Seq(lshBands(s, dir), ivfAssign(s, dir), pqCodes(s, dir),
      kmeansAssign(s, dir), binarySig(s, dir), graphAnnAdj(s, dir),
      hnswAdj(s, dir, 1), hnswAdj(s, dir, 2)).foreach(PropertyGraph.rowCount)

  // ---------------------------------------------------------- s_ann_topk
  /** Top-5 neighbors for probes vec_id < 10. The probe side is tiny →
    * broadcast; per-candidate work is one codegen'd array dot product;
    * the window sees only (n_probes × n_candidates) rows partitioned by
    * probe. */
  val annK = 5

  /** Shared brute-force stage for s_ann_topk and s_ann_filtered: gated
    * probe broadcast × candidate frame `(cand_id, qc, nb)`, the
    * integer score, deterministic row_number top-k. ONE definition so
    * the exact-parity score expression can never diverge between the
    * unfiltered and filtered baselines.
    *
    * Probe gate: the predicate `vec_id < 10` bounds this side to 10
    * rows by construction, so the gate takes that bound and no count
    * job runs.
    * `div`, not `/`: Spark `/` on BIGINTs is DOUBLE division and the
    * cast-back truncation only matches DuckDB's exact integer `//`
    * below 2^53 — dp²·1000 reaches ~4×10¹⁸. `div` is exact BIGINT
    * floor division in both engines (same fix as pagerank). */
  private def bruteTopk(s: SparkSession, dir: String, cands: DataFrame): DataFrame =
    bruteTopkFrom(quantized(s, dir), cands)

  /** Same stage with an explicit vector frame `(vec_id, qe)` whose
    * `vec_id < 10` rows are the probes — the dimension-truncation eval
    * scores TRUNCATED probes against truncated candidates through the
    * identical expression. */
  private def bruteTopkFrom(q: DataFrame, cands: DataFrame): DataFrame = {
    val probes = PropertyGraph.gated(
      q.filter(col("vec_id") < 10).toDF("probe_id", "qp"), 10)
    val scored = probes
      .crossJoin(cands)
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"),
        expr("CASE WHEN dp >= 0 THEN (dp * dp * 1000) div nb" +
          " ELSE -((dp * dp * 1000) div nb) END").as("score"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK)
      .select(col("probe_id"), col("rn"), col("cand_id"), col("score"))
      .orderBy("probe_id", "rn")
  }

  /** DuckDB twin of bruteTopk; `candWhere` injects the candidate
    * predicate ('' for the unfiltered baseline). */
  private def bruteTopkSql(candWhere: String): String =
    s"""WITH q AS (
       | SELECT vec_id, label, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), scored AS (
       | SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |  CASE WHEN CAST(list_dot_product(p.qe, c.qe) AS BIGINT) >= 0
       |   THEN (CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |        // CAST(list_dot_product(c.qe, c.qe) AS BIGINT)
       |   ELSE -((CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |        // CAST(list_dot_product(c.qe, c.qe) AS BIGINT))
       |  END AS score
       | FROM q p, q c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id$candWhere
       |)
       |SELECT probe_id, rn, cand_id, score FROM (
       | SELECT probe_id, cand_id, score,
       |  row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       | FROM scored
       |) WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin

  def annTopk: Q = (s, dir) =>
    bruteTopk(s, dir, quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb"))

  val annTopkSql: String = bruteTopkSql("")

  // ------------------------------------------------------ s_ann_filtered
  /** FILTERED vector search — top-k under a metadata predicate
    * (label = 0 here; "only English docs", "only this tenant" in
    * production), the retrieval shape RAG systems actually run. This is
    * the exact within-predicate baseline: candidates filter BEFORE
    * scoring (predicate pushdown does the work), so the ranking is the
    * ground truth any filtered-index strategy is recall-measured
    * against. Scale paths, in preference order: partition the corpus by
    * the filter column (the predicate becomes partition pruning, then
    * any per-partition index applies); or over-fetch from an unfiltered
    * LSH/IVF index and post-filter — both compose from the
    * already-checked s_ann_topk_lsh / s_ann_ivf machinery. */
  def annFiltered: Q = (s, dir) => {
    val lbl = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"))
    bruteTopk(s, dir,
      quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb")
        .join(lbl.filter(col("label") === 0)
          .select(col("vec_id").as("cand_id")), Seq("cand_id")))
  }

  val annFilteredSql: String = bruteTopkSql(" AND c.label = 0")

  // ------------------------------------------------------- LSH scale path
  /** Banded random-hyperplane LSH (the AND-OR construction): `lshBands`
    * bands of `lshRowsPerBand` sign bits each. A pair is a candidate
    * when ALL bits of ANY band agree — band width trades precision for
    * recall (4 bits ⇒ ~0.65⁴ ≈ 18% per band at cos 0.45, OR'd over 4
    * bands ≈ 54% recall), and candidates stay bucket-local so the
    * pairwise stage is O(Σ bucket²), never O(n²). A single monolithic
    * 8-bit bucket measured 5/141 recall at sf0.1 — banding is what
    * makes hyperplane LSH usable, exactly as minhash banding does. */
  val lshNumBands = 4
  val lshRowsPerBand = 4

  /** Deterministic ±1 plane matrix: plane p component i is ±1 by the
    * parity of the first byte of md5("p|i") — no RNG, so the Spark plan
    * and the generated oracle SQL embed the IDENTICAL literals. */
  private[graft] lazy val planeMatrix: Seq[Seq[Long]] =
    (0 until lshNumBands * lshRowsPerBand).map { p =>
      (0 until 64).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p|$i".getBytes("UTF-8"))
        if ((hex(0) & 1) == 0) 1L else -1L
      }
    }

  /** Per-vector band rows `(vec_id, band, sig)` — one row per band,
    * sig = the band's sign-bit integer. Candidates join on (band, sig);
    * the vector itself is deliberately NOT carried (3 longs per row,
    * not 64 — the consumers re-attach vectors to the few candidates,
    * never to every band row). Session memo, cached (3 longs per row):
    * consumers read both join sides from it, so the 16 plane dot
    * products per vector run once per session. */
  private val lshMemo = new SessionMemo[DataFrame]

  def lshBands(s: SparkSession, dir: String): DataFrame = lshMemo(s, dir) {
    val q = quantized(s, dir)
    // plane matrix as literal arrays: tiny, broadcast by value
    val bandStructs = (0 until lshNumBands).map { b =>
      val sig = (0 until lshRowsPerBand).map { j =>
        val pl = array(planeMatrix(b * lshRowsPerBand + j).map(lit): _*)
        when(dot(col("qe"), pl) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    q.select(col("vec_id"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("vec_id"), col("bs.band"), col("bs.sig"))
      .cache()
  }

  /** DuckDB twin of `lshBands` — CTEs `q(vec_id, qe)` and
    * `bk(vec_id, band, sig)` from the same literal plane matrix (exact
    * integer signs: quantized dots ≤ 64·10⁶, far inside the
    * double-exact range DuckDB computes list_dot_product in). */
  private def lshBandsSqlCte: String = {
    val bandSelects = (0 until lshNumBands).map { b =>
      val bits = (0 until lshRowsPerBand).map { j =>
        val arr = planeMatrix(b * lshRowsPerBand + j).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(qe, $arr) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n   + ")
      s"SELECT vec_id, $b AS band, CAST($bits AS BIGINT) AS sig FROM q"
    }.mkString("\n UNION ALL\n ")
    s"""q AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), bk AS (
       | $bandSelects
       |)""".stripMargin
  }

  /** s_ann_topk_lsh — the 100 TB path, oracle-checked: a probe meets
    * only candidates sharing one of its band buckets (candidate recall
    * is the LSH contract, replicated exactly by the oracle's band CTE);
    * ranking within the candidate set uses the same exact integer score
    * as annTopk. Probes with fewer than k candidates return fewer rows
    * — in both engines. */
  /** The unsorted top-k stage (PlanAuditSpec audits its plan). */
  private[graft] def annTopkLshRaw(s: SparkSession, dir: String): DataFrame = {
    val bands = lshBands(s, dir)
    val pb = broadcast(bands.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("band"), col("sig")))
    val cb = bands.select(col("vec_id").as("cand_id"), col("band"), col("sig"))
    val cand = pb.join(cb, Seq("band", "sig"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id").distinct()
    // broadcast ONLY the probe vectors (vec_id < 10) — hinting the full
    // quantized table here would ship the whole corpus for a 10-row
    // lookup and die at the 8 GB broadcast ceiling at scale.
    val scored = cand
      .join(broadcast(quantized(s, dir)
        .filter(col("vec_id") < 10).toDF("probe_id", "qp")), "probe_id")
      .join(quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb"), "cand_id")
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"),
        expr("CASE WHEN dp >= 0 THEN (dp * dp * 1000) div nb" +
          " ELSE -((dp * dp * 1000) div nb) END").as("score"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK)
      .select(col("probe_id"), col("rn"), col("cand_id"), col("score"))
  }

  /** The band memo stays resident for the session, deliberately (an
    * eager checkpoint released per call measured slower — see the
    * pagerank note in Analytics). */
  def annTopkLsh: Q = (s, dir) =>
    annTopkLshRaw(s, dir).orderBy("probe_id", "rn")

  val annTopkLshSql: String =
    s"""WITH $lshBandsSqlCte, cand AS (
       | SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
       | FROM bk p JOIN bk c ON c.band = p.band AND c.sig = p.sig
       |  AND c.vec_id <> p.vec_id
       | WHERE p.vec_id < 10
       |), scored AS (
       | SELECT cd.probe_id, cd.cand_id,
       |  CASE WHEN CAST(list_dot_product(p.qe, c.qe) AS BIGINT) >= 0
       |   THEN (CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |        // CAST(list_dot_product(c.qe, c.qe) AS BIGINT)
       |   ELSE -((CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |        // CAST(list_dot_product(c.qe, c.qe) AS BIGINT))
       |  END AS score
       | FROM cand cd JOIN q p ON p.vec_id = cd.probe_id
       |              JOIN q c ON c.vec_id = cd.cand_id
       |)
       |SELECT probe_id, rn, cand_id, score FROM (
       | SELECT probe_id, cand_id, score,
       |  row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       | FROM scored
       |) WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin

  // ----------------------------------------------------------- s_knn_join
  /** Set-to-set kNN JOIN — the embedding-pipeline workhorse (label a
    * corpus against a reference set): every label-1 vector finds its
    * top-3 among the label-0 set. Unlike `s_ann_topk*` there is NO
    * small probe side: BOTH sides are corpus-scale, so candidate
    * generation is a SHUFFLE hash join of the two band tables on
    * (band, sig) — no broadcast hint anywhere; buckets co-locate the
    * work and AQE is free to pick the join strategy per size. This is
    * the shape that survives a 10⁹×10⁹ knn join where every
    * probe-driven variant dies. Scoring and ranking are the same exact
    * integer arithmetic as annTopk. */
  val knnK = 3

  def knnJoin: Q = (s, dir) => {
    val bands = lshBands(s, dir)
    val lbl = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val pb = bands.join(lbl.filter(col("label") === 1), "vec_id")
      .select(col("vec_id").as("probe_id"), col("band"), col("sig"))
    val cb = bands.join(lbl.filter(col("label") === 0), "vec_id")
      .select(col("vec_id").as("cand_id"), col("band"), col("sig"))
    val cand = pb.join(cb, Seq("band", "sig"))
      .select("probe_id", "cand_id").distinct()
    val scored = cand
      .join(quantized(s, dir).toDF("probe_id", "qp"), "probe_id")
      .join(quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb"), "cand_id")
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"),
        expr("CASE WHEN dp >= 0 THEN (dp * dp * 1000) div nb" +
          " ELSE -((dp * dp * 1000) div nb) END").as("score"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= knnK)
      .select(col("probe_id"), col("rn"), col("cand_id"), col("score"))
      .orderBy("probe_id", "rn")
  }

  val knnJoinSql: String =
    s"""WITH $lshBandsSqlCte, lbl AS (
       | SELECT vec_id, label FROM embeddings
       |), cand AS (
       | SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
       | FROM bk p JOIN lbl lp ON lp.vec_id = p.vec_id AND lp.label = 1
       |           JOIN bk c ON c.band = p.band AND c.sig = p.sig
       |           JOIN lbl lc ON lc.vec_id = c.vec_id AND lc.label = 0
       |), scored AS (
       | SELECT cd.probe_id, cd.cand_id,
       |  CASE WHEN CAST(list_dot_product(p.qe, c.qe) AS BIGINT) >= 0
       |   THEN (CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |        // CAST(list_dot_product(c.qe, c.qe) AS BIGINT)
       |   ELSE -((CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |        // CAST(list_dot_product(c.qe, c.qe) AS BIGINT))
       |  END AS score
       | FROM cand cd JOIN q p ON p.vec_id = cd.probe_id
       |              JOIN q c ON c.vec_id = cd.cand_id
       |)
       |SELECT probe_id, rn, cand_id, score FROM (
       | SELECT probe_id, cand_id, score,
       |  row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       | FROM scored
       |) WHERE rn <= $knnK ORDER BY probe_id, rn""".stripMargin

  /** d_dedup_embedding_lsh — banded near-dup pairs (cosine > 0.45 via
    * the exact 81/400 integer test), candidates only within band
    * buckets: the O(Σ bucket²) shape that replaces the brute-force
    * checked variant at 100 TB. Recall vs brute force is the LSH
    * contract (pairs agreeing on no band are missed — by both engines,
    * identically). */
  def dedupEmbeddingLsh: Q = (s, dir) => {
    val bands = lshBands(s, dir)
    val a = bands.select(col("vec_id").as("vec_a"), col("band"), col("sig"))
    val c = bands.select(col("vec_id").as("vec_b"), col("band"), col("sig"))
    val cand = a.join(c, Seq("band", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val qn = quantized(s, dir).withColumn("nn", dot(col("qe"), col("qe")))
    cand
      .join(qn.toDF("vec_a", "qa", "na"), "vec_a")
      .join(qn.toDF("vec_b", "qb", "nb"), "vec_b")
      .select(col("vec_a"), col("vec_b"), dot(col("qa"), col("qb")).as("dp"),
        col("na"), col("nb"))
      .filter(col("dp") > 0 &&
        lit(400L) * col("dp") * col("dp") > lit(81L) * col("na") * col("nb"))
      .orderBy("vec_a", "vec_b")
  }

  val dedupEmbeddingLshSql: String =
    s"""WITH $lshBandsSqlCte, cand AS (
       | SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       | FROM bk a JOIN bk b ON b.band = a.band AND b.sig = a.sig
       |  AND a.vec_id < b.vec_id
       |)
       |SELECT cd.vec_a, cd.vec_b,
       | CAST(list_dot_product(a.qe, b.qe) AS BIGINT) AS dp,
       | CAST(list_dot_product(a.qe, a.qe) AS BIGINT) AS na,
       | CAST(list_dot_product(b.qe, b.qe) AS BIGINT) AS nb
       |FROM cand cd JOIN q a ON a.vec_id = cd.vec_a
       |             JOIN q b ON b.vec_id = cd.vec_b
       |WHERE CAST(list_dot_product(a.qe, b.qe) AS BIGINT) > 0
       |  AND 400 * CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * CAST(list_dot_product(a.qe, b.qe) AS BIGINT)
       |      > 81 * CAST(list_dot_product(a.qe, a.qe) AS BIGINT) * CAST(list_dot_product(b.qe, b.qe) AS BIGINT)
       |ORDER BY vec_a, vec_b""".stripMargin

  // -------------------------------------------------------- IVF scale path
  /** s_ann_ivf — inverted-file ANN, the OTHER standard scale path next
    * to LSH: every vector is assigned to its nearest of `ivfK` coarse
    * centroids (exact integer argmax, ties to the lowest centroid id)
    * and a probe searches ONLY its own cell (nprobe = 1). The centroid
    * "training" is a deterministic stand-in — the first `ivfK` vectors
    * — because a k-means iteration is float-unstable across engines; in
    * production the centroids arrive from an offline training job and
    * the assignment/probe machinery here is unchanged. Assignment is
    * O(n·K) linear scan (the IVF assign step), probing is
    * O(n·m/K) expected. */
  val ivfK = 8

  private val scoreExpr =
    "CASE WHEN dp >= 0 THEN (dp * dp * 1000) div nb" +
      " ELSE -((dp * dp * 1000) div nb) END"

  /** IVF assignment frame `(vec_id, qe, vnb, cid)` — feeds the probe
    * side AND the candidate side of annIvf and the other IVF queries;
    * a cached session memo, so the n×K assignment (cross join + window
    * argmax) runs once per session. In production the assignment is a
    * materialized offline artifact. */
  private val ivfMemo = new SessionMemo[DataFrame]

  private def ivfAssign(s: SparkSession, dir: String): DataFrame = ivfMemo(s, dir) {
    // self-norms precomputed per VECTOR (see quantizedWithNorm): the
    // assignment reuses the centroid's norm across all n×K pairs and
    // the probe stage reuses the candidate's across its cell pairs
    val q = quantizedWithNorm(s, dir)
    val cents = broadcast(q.filter(col("vec_id") < ivfK)
      .toDF("cid", "qc", "cnb"))
    val asg0 = q.crossJoin(cents)
      .select(col("vec_id"), col("qe"), col("nb").as("vnb"), col("cid"),
        dot(col("qe"), col("qc")).as("dp"), col("cnb").as("nb"))
      .select(col("vec_id"), col("qe"), col("vnb"), col("cid"),
        expr(scoreExpr).as("cs"))
    val wAsg = Window.partitionBy("vec_id")
      .orderBy(col("cs").desc, col("cid"))
    asg0.withColumn("rn", row_number().over(wAsg))
      .filter(col("rn") === 1).select("vec_id", "qe", "vnb", "cid").cache()
  }

  def annIvf: Q = (s, dir) => {
    val asg = ivfAssign(s, dir)
    val probes = broadcast(asg.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("qe").as("qp"), col("cid")))
    val scored = probes.join(asg.toDF("cand_id", "qc", "nb", "cid"), "cid")
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"), expr(scoreExpr).as("score"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK)
      .select(col("probe_id"), col("rn"), col("cand_id"), col("score"))
      .orderBy("probe_id", "rn")
  }

  val annIvfSql: String = {
    val score = "CASE WHEN dp >= 0 THEN (dp * dp * 1000) // nb" +
      " ELSE -((dp * dp * 1000) // nb) END"
    s"""WITH q AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), cents AS (
       | SELECT vec_id AS cid, qe AS qc FROM q WHERE vec_id < $ivfK
       |), asg0 AS (
       | SELECT v.vec_id, v.qe, c.cid,
       |  CAST(list_dot_product(v.qe, c.qc) AS BIGINT) AS dp,
       |  CAST(list_dot_product(c.qc, c.qc) AS BIGINT) AS nb
       | FROM q v, cents c
       |), asg1 AS (
       | SELECT vec_id, qe, cid, row_number() OVER (
       |   PARTITION BY vec_id ORDER BY $score DESC, cid) AS rn
       | FROM asg0
       |), asg AS (
       | SELECT vec_id, qe, cid FROM asg1 WHERE rn = 1
       |), sc0 AS (
       | SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |  CAST(list_dot_product(p.qe, c.qe) AS BIGINT) AS dp,
       |  CAST(list_dot_product(c.qe, c.qe) AS BIGINT) AS nb
       | FROM asg p JOIN asg c ON c.cid = p.cid AND c.vec_id <> p.vec_id
       | WHERE p.vec_id < 10
       |), scored AS (
       | SELECT probe_id, cand_id, $score AS score FROM sc0
       |)
       |SELECT probe_id, rn, cand_id, score FROM (
       | SELECT probe_id, cand_id, score,
       |  row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       | FROM scored
       |) WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin
  }

  // ----------------------------------------------------- s_ivf_multiprobe
  /** IVF MULTIPROBE (nprobe = 2) — the recall knob every production IVF
    * exposes (FAISS `nprobe`): a probe searches its `ivfNprobe` nearest
    * cells instead of only its own, trading ~nprobe× scan cost for the
    * recall lost when a true neighbor sits just across a Voronoi
    * boundary. Cell ranking reuses the EXACT integer centroid score of
    * the assignment step (ties to the lowest cid), so the probed-cell
    * set is deterministic in both engines; candidates never duplicate
    * (each vector lives in exactly one cell). The candidate side is the
    * same session-cached `ivfAssign` frame as s_ann_ivf — multiprobe is
    * a pure QUERY-time decision over the same index, which is the point:
    * at 100 TB the index is an offline artifact partitioned by cid, and
    * nprobe only widens the partition-pruned read from 1 to 2 cells.
    * Recall vs nprobe=1 is monotone non-decreasing per probe (the
    * candidate set is a superset — spec-asserted). */
  val ivfNprobe = 2

  def ivfMultiprobe: Q = (s, dir) => {
    val asg = ivfAssign(s, dir)
    val q = quantizedWithNorm(s, dir)
    val cents = broadcast(q.filter(col("vec_id") < ivfK)
      .toDF("cid", "qc", "cnb"))
    // per-probe top-`ivfNprobe` cells: 10 probes × K cells — tiny
    val p0 = q.filter(col("vec_id") < 10).toDF("probe_id", "qp", "pnb")
      .crossJoin(cents)
      .select(col("probe_id"), col("qp"), col("cid"),
        dot(col("qp"), col("qc")).as("dp"), col("cnb").as("nb"))
      .select(col("probe_id"), col("qp"), col("cid"),
        expr(scoreExpr).as("cs"))
    val wp = Window.partitionBy("probe_id")
      .orderBy(col("cs").desc, col("cid"))
    val probes = broadcast(p0.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= ivfNprobe).select("probe_id", "qp", "cid"))
    val scored = probes.join(asg.toDF("cand_id", "qc", "nb", "cid"), "cid")
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"), expr(scoreExpr).as("score"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK)
      .select(col("probe_id"), col("rn"), col("cand_id"), col("score"))
      .orderBy("probe_id", "rn")
  }

  val ivfMultiprobeSql: String = {
    val score = "CASE WHEN dp >= 0 THEN (dp * dp * 1000) // nb" +
      " ELSE -((dp * dp * 1000) // nb) END"
    s"""WITH q AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), cents AS (
       | SELECT vec_id AS cid, qe AS qc FROM q WHERE vec_id < $ivfK
       |), asg0 AS (
       | SELECT v.vec_id, v.qe, c.cid,
       |  CAST(list_dot_product(v.qe, c.qc) AS BIGINT) AS dp,
       |  CAST(list_dot_product(c.qc, c.qc) AS BIGINT) AS nb
       | FROM q v, cents c
       |), asg1 AS (
       | SELECT vec_id, qe, cid, row_number() OVER (
       |   PARTITION BY vec_id ORDER BY $score DESC, cid) AS rn
       | FROM asg0
       |), asg AS (
       | SELECT vec_id, qe, cid FROM asg1 WHERE rn = 1
       |), pr AS (
       | SELECT vec_id AS probe_id, qe, cid FROM asg1
       | WHERE vec_id < 10 AND rn <= $ivfNprobe
       |), sc0 AS (
       | SELECT p.probe_id, c.vec_id AS cand_id,
       |  CAST(list_dot_product(p.qe, c.qe) AS BIGINT) AS dp,
       |  CAST(list_dot_product(c.qe, c.qe) AS BIGINT) AS nb
       | FROM pr p JOIN asg c ON c.cid = p.cid AND c.vec_id <> p.probe_id
       |), scored AS (
       | SELECT probe_id, cand_id, $score AS score FROM sc0
       |)
       |SELECT probe_id, rn, cand_id, score FROM (
       | SELECT probe_id, cand_id, score,
       |  row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       | FROM scored
       |) WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin
  }

  // ------------------------------------------------------ s_hybrid_search
  /** HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION (Cormack et al. 2009
    * — the fusion production RAG stacks ship because it needs no score
    * calibration across legs): for each probe document (id < 5),
    * leg 1 ranks candidates LEXICALLY — Σ over shared DISTINCT terms
    * of the integer idf proxy (N·1000 div df), posting lists df-capped
    * at `hybridDfCap` so stopwords can never flood the candidate join
    * — and leg 2 ranks the banded-LSH VECTOR candidates by the exact
    * integer cosine score (the checked s_ann_topk_lsh machinery, NOT
    * the brute-force baseline). Fused score = Σ 10⁶ div (60 + rank)
    * over the legs that surfaced the candidate (rank 0 = absent,
    * contributes nothing; 60 is the published RRF constant). Output:
    * top `hybridK` per probe with both leg ranks — a candidate only
    * one leg found still surfaces, which is RRF's point. Scale: the
    * lexical leg is a df-bounded term-keyed join (the d_containment
    * blocking discipline), the vector leg is bucket-local LSH; both
    * leg top-Ns are per-probe windows over bounded candidate sets —
    * nothing here is corpus². */
  val hybridDfCap = 50L
  val hybridTopn = 20
  val hybridK = 10

  def hybridSearch: Q = (s, dir) => {
    val docsT = Tables(s, dir, "documents")
    val terms = docsT.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("t"))
    val dfc = terms.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") <= hybridDfCap)
    val nD = docsT.agg(count(lit(1)).as("n_docs"))
    val post = terms.join(dfc, "t")
    val pTerms = post.filter(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), col("t"), col("df"))
    val lex = broadcast(pTerms)
      .join(post.select(col("t"), col("doc_id").as("cand_id")), "t")
      .filter(col("probe_id") =!= col("cand_id"))
      .crossJoin(broadcast(nD)) // 1-row scalar
      .groupBy("probe_id", "cand_id")
      .agg(sum(expr("(n_docs * 1000) div df")).as("lex"))
    val wl = Window.partitionBy("probe_id")
      .orderBy(col("lex").desc, col("cand_id"))
    val lexTop = lex.withColumn("r_lex", row_number().over(wl))
      .filter(col("r_lex") <= hybridTopn)
      .select("probe_id", "cand_id", "r_lex")

    val bands = lshBands(s, dir)
    val pb = broadcast(bands.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("band"), col("sig")))
    val vcand = pb.join(bands.select(col("vec_id").as("cand_id"),
        col("band"), col("sig")), Seq("band", "sig"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id").distinct()
    val vscored = vcand
      .join(broadcast(quantized(s, dir).filter(col("vec_id") < 5)
        .toDF("probe_id", "qp")), "probe_id")
      .join(quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb"), "cand_id")
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"), expr(scoreExpr).as("vscore"))
    val wv = Window.partitionBy("probe_id")
      .orderBy(col("vscore").desc, col("cand_id"))
    val vecTop = vscored.withColumn("r_vec", row_number().over(wv))
      .filter(col("r_vec") <= hybridTopn)
      .select("probe_id", "cand_id", "r_vec")

    val fused = lexTop.join(vecTop, Seq("probe_id", "cand_id"), "full_outer")
      .select(col("probe_id"), col("cand_id"),
        coalesce(col("r_lex"), lit(0)).as("r_lex"),
        coalesce(col("r_vec"), lit(0)).as("r_vec"))
      .withColumn("rrf", expr(
        "CASE WHEN r_lex > 0 THEN 1000000 div (60 + r_lex) ELSE 0 END" +
          " + CASE WHEN r_vec > 0 THEN 1000000 div (60 + r_vec) ELSE 0 END"))
    val wf = Window.partitionBy("probe_id")
      .orderBy(col("rrf").desc, col("cand_id"))
    fused.withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= hybridK)
      .select("probe_id", "rn", "cand_id", "rrf", "r_lex", "r_vec")
      .orderBy("probe_id", "rn")
  }

  val hybridSearchSql: String = {
    val score = "CASE WHEN dp >= 0 THEN (dp * dp * 1000) // nb" +
      " ELSE -((dp * dp * 1000) // nb) END"
    s"""WITH $lshBandsSqlCte, terms AS (
       | SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
       | FROM documents
       |), dfc AS (
       | SELECT t, count(*) AS df FROM terms GROUP BY t
       | HAVING count(*) <= $hybridDfCap
       |), n AS (SELECT count(*) AS n_docs FROM documents
       |), post AS (
       | SELECT tm.doc_id, tm.t, dfc.df FROM terms tm JOIN dfc ON dfc.t = tm.t
       |), lex AS (
       | SELECT p.doc_id AS probe_id, c.doc_id AS cand_id,
       |  CAST(sum((n.n_docs * 1000) // p.df) AS BIGINT) AS lex
       | FROM post p JOIN post c ON c.t = p.t AND c.doc_id <> p.doc_id, n
       | WHERE p.doc_id < 5
       | GROUP BY 1, 2
       |), lexTop AS (
       | SELECT probe_id, cand_id, CAST(rn AS INT) AS r_lex FROM (
       |  SELECT probe_id, cand_id, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY lex DESC, cand_id) AS rn
       |  FROM lex
       | ) WHERE rn <= $hybridTopn
       |), vcand AS (
       | SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
       | FROM bk p JOIN bk c ON c.band = p.band AND c.sig = p.sig
       |  AND c.vec_id <> p.vec_id
       | WHERE p.vec_id < 5
       |), vscored AS (
       | SELECT cd.probe_id, cd.cand_id, $score AS vscore FROM (
       |  SELECT cd0.probe_id, cd0.cand_id,
       |   CAST(list_dot_product(p.qe, c.qe) AS BIGINT) AS dp,
       |   CAST(list_dot_product(c.qe, c.qe) AS BIGINT) AS nb
       |  FROM vcand cd0 JOIN q p ON p.vec_id = cd0.probe_id
       |                 JOIN q c ON c.vec_id = cd0.cand_id
       | ) cd
       |), vecTop AS (
       | SELECT probe_id, cand_id, CAST(rn AS INT) AS r_vec FROM (
       |  SELECT probe_id, cand_id, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY vscore DESC, cand_id) AS rn
       |  FROM vscored
       | ) WHERE rn <= $hybridTopn
       |), fused AS (
       | SELECT COALESCE(l.probe_id, v.probe_id) AS probe_id,
       |  COALESCE(l.cand_id, v.cand_id) AS cand_id,
       |  COALESCE(l.r_lex, 0) AS r_lex, COALESCE(v.r_vec, 0) AS r_vec
       | FROM lexTop l FULL OUTER JOIN vecTop v
       |   ON v.probe_id = l.probe_id AND v.cand_id = l.cand_id
       |), rrfs AS (
       | SELECT probe_id, cand_id, r_lex, r_vec,
       |  CAST(CASE WHEN r_lex > 0 THEN 1000000 // (60 + r_lex) ELSE 0 END
       |   + CASE WHEN r_vec > 0 THEN 1000000 // (60 + r_vec) ELSE 0 END
       |   AS BIGINT) AS rrf
       | FROM fused
       |)
       |SELECT probe_id, CAST(rn AS INT) AS rn, cand_id, rrf, r_lex, r_vec
       |FROM (
       | SELECT probe_id, cand_id, rrf, r_lex, r_vec, row_number() OVER (
       |   PARTITION BY probe_id ORDER BY rrf DESC, cand_id) AS rn
       | FROM rrfs
       |) WHERE rn <= $hybridK ORDER BY probe_id, rn""".stripMargin
  }

  // -------------------------------------------------------------- s_ann_pq
  /** Product-quantization ANN (Jégou et al., the compressed-index scale
    * path that completes the family: brute → LSH → IVF → PQ). The
    * 64-dim vector splits into `pqM` = 4 subspaces of 16 dims; each
    * sub-vector is assigned to its nearest of `pqK` = 8 per-subspace
    * centroids by EXACT integer squared-L2 (‖s‖² + ‖c‖² − 2·s·c over
    * the quantized BIGINT grid — no float decides a code), ties to the
    * lowest centroid id. A vector's code is its 4 centroid ids — the
    * compressed index is n×4 small ints, 1/16th of the vectors, which
    * is the POINT of PQ at 10⁹ vectors. Scoring is ADC (asymmetric
    * distance): the probe stays uncompressed and its distance to a
    * candidate is Σ_m ‖probe_m − centroid[code_m]‖² — here the
    * per-subspace centroid join IS the distance-table lookup a
    * production PQ precomputes per probe. Centroid "training" is the
    * deterministic stand-in (sub-slices of the first pqK vectors),
    * exactly like s_ann_ivf: k-means is float-unstable across engines
    * and arrives from an offline job in production; the
    * assign/compress/ADC machinery is what's exercised. Top-5 per
    * probe by ADC distance ASC (a DISTANCE, not the cosine score —
    * smaller is nearer), ties to the lowest cand_id. */
  val pqM = 4
  val pqSub = 16
  val pqK = 8

  /** (vec_id, m, svec): the M sub-vectors of every vector. */
  private def pqSubs(s: SparkSession, dir: String): DataFrame = {
    val q = quantized(s, dir)
    q.select(col("vec_id"), explode(array(
      (0 until pqM).map { m =>
        struct(lit(m).as("m"),
          slice(col("qe"), m * pqSub + 1, pqSub).as("svec"))
      }: _*)).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.svec").as("svec"))
  }

  /** Per-subspace codebook: sub-slices of the first pqK vectors. */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    broadcast(pqSubs(s, dir).filter(col("vec_id") < pqK)
      .select(col("m"), col("vec_id").as("cid"), col("svec").as("cvec")))

  private def l2(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2L) * dot(a, b)

  /** PQ code table (vec_id, m, code) — the compressed index. A cached
    * session memo: the n×M×K assignment scan is the expensive build
    * step, shared by s_ann_pq and s_ivf_pq (in production this is the
    * offline index artifact). */
  private val pqMemo = new SessionMemo[DataFrame]

  private def pqCodes(s: SparkSession, dir: String): DataFrame = pqMemo(s, dir) {
    val sub = pqSubs(s, dir)
    val cb = pqCodebook(s, dir)
    val wA = Window.partitionBy("vec_id", "m")
      .orderBy(col("d2").asc, col("cid"))
    sub.join(cb, "m")
      .select(col("vec_id"), col("m"), col("cid"),
        l2(col("svec"), col("cvec")).as("d2"))
      .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid").as("code"))
      .cache()
  }

  def annPq: Q = (s, dir) => {
    val sub = pqSubs(s, dir)
    val cb = pqCodebook(s, dir)
    val codes = pqCodes(s, dir)
    val probes = broadcast(sub.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("m"), col("svec")))
    // ADC: per (probe, cand, subspace) look the centroid up by code,
    // sum the per-subspace distances — probe-local, no shuffle of the
    // candidate codes beyond the groupBy
    val adc = probes
      .join(codes.toDF("cand_id", "m", "code"), Seq("m"))
      .filter(col("probe_id") =!= col("cand_id"))
      .join(cb.toDF("m", "code", "cvec"), Seq("m", "code"))
      .select(col("probe_id"), col("cand_id"),
        l2(col("svec"), col("cvec")).as("pd"))
      .groupBy("probe_id", "cand_id").agg(sum("pd").as("adist"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("adist").asc, col("cand_id"))
    adc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK)
      .select(col("probe_id"), col("rn"), col("cand_id"), col("adist"))
      .orderBy("probe_id", "rn")
  }

  val annPqSql: String = {
    def l2(a: String, b: String) =
      s"(CAST(list_dot_product($a, $a) AS BIGINT) + CAST(list_dot_product($b, $b) AS BIGINT)" +
        s" - 2 * CAST(list_dot_product($a, $b) AS BIGINT))"
    s"""WITH q AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), sub AS (
       | SELECT vec_id, m.m AS m, qe[m.m * $pqSub + 1 : m.m * $pqSub + $pqSub] AS svec
       | FROM q, (SELECT unnest(range($pqM)) AS m) m
       |), cb AS (
       | SELECT m, vec_id AS cid, svec AS cvec FROM sub WHERE vec_id < $pqK
       |), asg AS (
       | SELECT vec_id, m, cid AS code FROM (
       |  SELECT s.vec_id, s.m, c.cid, row_number() OVER (
       |    PARTITION BY s.vec_id, s.m
       |    ORDER BY ${l2("s.svec", "c.cvec")} ASC, c.cid) AS rn
       |  FROM sub s JOIN cb c ON c.m = s.m
       | ) WHERE rn = 1
       |), adc AS (
       | SELECT p.vec_id AS probe_id, a.vec_id AS cand_id,
       |  sum(${l2("p.svec", "c.cvec")}) AS adist
       | FROM sub p
       | JOIN asg a ON a.m = p.m AND a.vec_id <> p.vec_id
       | JOIN cb c ON c.m = a.m AND c.cid = a.code
       | WHERE p.vec_id < 10
       | GROUP BY 1, 2
       |)
       |SELECT probe_id, rn, cand_id, CAST(adist AS BIGINT) AS adist FROM (
       | SELECT probe_id, cand_id, adist, row_number() OVER (
       |   PARTITION BY probe_id ORDER BY adist ASC, cand_id) AS rn
       | FROM adc
       |) WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin
  }

  // ---------------------------------------------------------------- s_ivf_pq
  /** IVF-PQ (IVFADC — Jégou et al.'s full production composition and
    * the FAISS default at 10⁹ vectors): the IVF coarse quantizer prunes
    * the search to the probe's `ivfNprobe` nearest cells (the
    * partition-pruned read — at 100 TB cells are storage partitions
    * and this is the ONLY data touched), then candidates inside those
    * cells are ranked by PQ ADC distance over the compressed code
    * table (1/16th the bytes of the raw vectors) — coarse prune ×
    * compressed scan is the whole trick, and both halves are the
    * SESSION-SHARED index artifacts the standalone ops already build
    * (ivfAssign cells, pqCodes codes, one codebook — this op adds
    * query-time composition, no new index). Deterministic everywhere:
    * integer centroid scores with lowest-cid ties (cell ranking),
    * integer L2 codes, ADC sums in BIGINT; top-annK per probe by
    * (adist asc, cand_id). s_ann_recall's exact baseline adjudicates
    * the standalone indexes; here the oracle re-derives the identical
    * composed pipeline. */
  def ivfPq: Q = (s, dir) => {
    val asg = ivfAssign(s, dir).select(col("vec_id").as("cand_id"), col("cid"))
    val codes = pqCodes(s, dir)
    val cb = pqCodebook(s, dir)
    val sub = pqSubs(s, dir)
    val q = quantizedWithNorm(s, dir)
    val cents = broadcast(q.filter(col("vec_id") < ivfK)
      .toDF("cid", "qc", "cnb"))
    val p0 = q.filter(col("vec_id") < 10).toDF("probe_id", "qp", "pnb")
      .crossJoin(cents)
      .select(col("probe_id"), col("cid"),
        dot(col("qp"), col("qc")).as("dp"), col("cnb").as("nb"))
      .select(col("probe_id"), col("cid"), expr(scoreExpr).as("cs"))
    val wp = Window.partitionBy("probe_id")
      .orderBy(col("cs").desc, col("cid"))
    val pcells = broadcast(p0.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= ivfNprobe).select("probe_id", "cid"))
    // the IVF prune: candidates only from the probed cells
    val cand = pcells.join(asg, Seq("cid"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id")
    val probes = broadcast(sub.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("m"), col("svec")))
    val adc = cand.join(codes.toDF("cand_id", "m", "code"), Seq("cand_id"))
      .join(cb.toDF("m", "code", "cvec"), Seq("m", "code"))
      .join(probes, Seq("probe_id", "m"))
      .select(col("probe_id"), col("cand_id"),
        l2(col("svec"), col("cvec")).as("pd"))
      .groupBy("probe_id", "cand_id").agg(sum("pd").as("adist"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("adist").asc, col("cand_id"))
    adc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK)
      .select(col("probe_id"), col("rn"), col("cand_id"), col("adist"))
      .orderBy("probe_id", "rn")
  }

  val ivfPqSql: String = {
    val score = "CASE WHEN dp >= 0 THEN (dp * dp * 1000) // nb" +
      " ELSE -((dp * dp * 1000) // nb) END"
    def l2s(a: String, b: String) =
      s"(CAST(list_dot_product($a, $a) AS BIGINT) + CAST(list_dot_product($b, $b) AS BIGINT)" +
        s" - 2 * CAST(list_dot_product($a, $b) AS BIGINT))"
    s"""WITH q AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), cents AS (
       | SELECT vec_id AS cid, qe AS qc FROM q WHERE vec_id < $ivfK
       |), asg0 AS (
       | SELECT v.vec_id, v.qe, c.cid,
       |  CAST(list_dot_product(v.qe, c.qc) AS BIGINT) AS dp,
       |  CAST(list_dot_product(c.qc, c.qc) AS BIGINT) AS nb
       | FROM q v, cents c
       |), asg1 AS (
       | SELECT vec_id, qe, cid, row_number() OVER (
       |   PARTITION BY vec_id ORDER BY $score DESC, cid) AS rn
       | FROM asg0
       |), asg AS (
       | SELECT vec_id, cid FROM asg1 WHERE rn = 1
       |), pr AS (
       | SELECT vec_id AS probe_id, cid FROM asg1
       | WHERE vec_id < 10 AND rn <= $ivfNprobe
       |), sub AS (
       | SELECT vec_id, m.m AS m, qe[m.m * $pqSub + 1 : m.m * $pqSub + $pqSub] AS svec
       | FROM q, (SELECT unnest(range($pqM)) AS m) m
       |), cb AS (
       | SELECT m, vec_id AS cid, svec AS cvec FROM sub WHERE vec_id < $pqK
       |), pqasg AS (
       | SELECT vec_id, m, cid AS code FROM (
       |  SELECT s.vec_id, s.m, c.cid, row_number() OVER (
       |    PARTITION BY s.vec_id, s.m
       |    ORDER BY ${l2s("s.svec", "c.cvec")} ASC, c.cid) AS rn
       |  FROM sub s JOIN cb c ON c.m = s.m
       | ) WHERE rn = 1
       |), cand AS (
       | SELECT DISTINCT p.probe_id, a.vec_id AS cand_id
       | FROM pr p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.probe_id
       |), adc AS (
       | SELECT c.probe_id, c.cand_id, sum(${l2s("p.svec", "k.cvec")}) AS adist
       | FROM cand c
       | JOIN pqasg a ON a.vec_id = c.cand_id
       | JOIN cb k ON k.m = a.m AND k.cid = a.code
       | JOIN sub p ON p.vec_id = c.probe_id AND p.m = a.m
       | GROUP BY 1, 2
       |)
       |SELECT probe_id, rn, cand_id, CAST(adist AS BIGINT) AS adist FROM (
       | SELECT probe_id, cand_id, adist, row_number() OVER (
       |   PARTITION BY probe_id ORDER BY adist ASC, cand_id) AS rn
       | FROM adc
       |) WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin
  }

  // ------------------------------------------------------- s_ivf_filtered
  /** FILTERED VECTOR SEARCH on the IVF index — the pre-filter vs
    * post-filter decision every production vector store exposes
    * (Qdrant/Milvus/Vespa filtered ANN): the query carries a metadata
    * predicate (label = 0, s_ann_filtered's predicate on the INDEXED
    * path), and the engine either (a) PRE-FILTERS — applies the
    * predicate to the probed cells' candidates BEFORE ranking, always
    * returning k matching results — or (b) POST-FILTERS — ranks the
    * unfiltered top-k then drops non-matching rows, cheaper but
    * returning k·selectivity results in expectation (the famous
    * filtered-recall cliff). This op runs BOTH from ONE scored frame
    * (the probed-cell scan priced once): output is the pre-filtered
    * top-k per probe with `n_post_survivors` riding along — the
    * per-probe table that decides the strategy (selectivity ~1/3 here
    * ⇒ post-filter keeps ~k/3). Same deterministic integer scores,
    * cells and ties as the rest of the IVF family; at 100 TB the
    * pre-filter is a predicate-pushdown scan of 2 cell partitions. */
  def ivfFiltered: Q = (s, dir) => {
    val asg = ivfAssign(s, dir)
    val lbl = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val q = quantizedWithNorm(s, dir)
    val cents = broadcast(q.filter(col("vec_id") < ivfK)
      .toDF("cid", "qc", "cnb"))
    val p0 = q.filter(col("vec_id") < 10).toDF("probe_id", "qp", "pnb")
      .crossJoin(cents)
      .select(col("probe_id"), col("qp"), col("cid"),
        dot(col("qp"), col("qc")).as("dp"), col("cnb").as("nb"))
      .select(col("probe_id"), col("qp"), col("cid"),
        expr(scoreExpr).as("cs"))
    val wp = Window.partitionBy("probe_id")
      .orderBy(col("cs").desc, col("cid"))
    val pcells = broadcast(p0.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= ivfNprobe).select("probe_id", "qp", "cid"))
    val scored = pcells.join(asg.toDF("cand_id", "qc", "nb", "cid"), "cid")
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"), expr(scoreExpr).as("score"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("cand_id"))
    // (a) pre-filter: predicate BEFORE the rank — k matching results
    val pre = scored
      .join(lbl.filter(col("label") === 0).select(col("vec_id").as("cand_id")),
        Seq("cand_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK)
    // (b) post-filter: rank first, then drop — survivors ≤ k
    val post = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK)
      .join(lbl.toDF("cand_id", "label"), Seq("cand_id"))
      .groupBy("probe_id")
      .agg(count(when(col("label") === 0, 1)).as("n_post_survivors"))
    pre.join(post, Seq("probe_id"), "left_outer")
      .select(col("probe_id"), col("rn"), col("cand_id"), col("score"),
        coalesce(col("n_post_survivors"), lit(0L)).as("n_post_survivors"))
      .orderBy("probe_id", "rn")
  }

  val ivfFilteredSql: String = {
    val score = "CASE WHEN dp >= 0 THEN (dp * dp * 1000) // nb" +
      " ELSE -((dp * dp * 1000) // nb) END"
    s"""WITH q AS (
       | SELECT vec_id, label, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), cents AS (
       | SELECT vec_id AS cid, qe AS qc FROM q WHERE vec_id < $ivfK
       |), asg0 AS (
       | SELECT v.vec_id, v.qe, v.label, c.cid,
       |  CAST(list_dot_product(v.qe, c.qc) AS BIGINT) AS dp,
       |  CAST(list_dot_product(c.qc, c.qc) AS BIGINT) AS nb
       | FROM q v, cents c
       |), asg1 AS (
       | SELECT vec_id, qe, label, cid, row_number() OVER (
       |   PARTITION BY vec_id ORDER BY $score DESC, cid) AS rn
       | FROM asg0
       |), asg AS (
       | SELECT vec_id, qe, label, cid FROM asg1 WHERE rn = 1
       |), pr AS (
       | SELECT vec_id AS probe_id, qe, cid FROM asg1
       | WHERE vec_id < 10 AND rn <= $ivfNprobe
       |), sc0 AS (
       | SELECT p.probe_id, c.vec_id AS cand_id, c.label,
       |  CAST(list_dot_product(p.qe, c.qe) AS BIGINT) AS dp,
       |  CAST(list_dot_product(c.qe, c.qe) AS BIGINT) AS nb
       | FROM pr p JOIN asg c ON c.cid = p.cid AND c.vec_id <> p.probe_id
       |), scored AS (
       | SELECT probe_id, cand_id, label, $score AS score FROM sc0
       |), pre AS (
       | SELECT probe_id, cand_id, score, row_number() OVER (
       |   PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       | FROM scored WHERE label = 0
       |), post AS (
       | SELECT probe_id,
       |  count(CASE WHEN label = 0 THEN 1 END) AS n_post_survivors
       | FROM (
       |  SELECT probe_id, label, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       |  FROM scored) WHERE rn <= $annK GROUP BY probe_id
       |)
       |SELECT pre.probe_id, pre.rn, pre.cand_id, pre.score,
       | CAST(COALESCE(post.n_post_survivors, 0) AS BIGINT) AS n_post_survivors
       |FROM pre LEFT JOIN post ON post.probe_id = pre.probe_id
       |WHERE pre.rn <= $annK
       |ORDER BY pre.probe_id, pre.rn""".stripMargin
  }

  // ----------------------------------------------------------- s_ann_recall
  /** ANN RECALL REPORT — "measure, don't guess" as an operator: every
    * ANN deployment ships with a recall harness that scores the
    * approximate indexes against the exact baseline on a probe set,
    * and this is that harness as a query. Per probe: |exact top-k ∩
    * PQ top-k| and |exact top-k ∩ banded-LSH top-k| (left-semi joins
    * on (probe, cand) — set intersections, integer-exact). The judge
    * of an index change is this table moving, not intuition. Composes
    * three already-oracle-checked pipelines; at scale the probe set is
    * the sampled eval slice and each pipeline is its production shape. */
  def annRecall: Q = (s, dir) => {
    val ex = annTopk(s, dir).select(col("probe_id"), col("cand_id"))
    val pq = annPq(s, dir).select(col("probe_id"), col("cand_id"))
    val lsh = annTopkLsh(s, dir).select(col("probe_id"), col("cand_id"))
    val ivf = annIvf(s, dir).select(col("probe_id"), col("cand_id"))
    val hitPq = ex.join(pq, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("hits_pq"))
    val hitLsh = ex.join(lsh, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("hits_lsh"))
    val hitIvf = ex.join(ivf, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("hits_ivf"))
    ex.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
      .join(hitPq, Seq("probe_id"), "left_outer")
      .join(hitLsh, Seq("probe_id"), "left_outer")
      .join(hitIvf, Seq("probe_id"), "left_outer")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("hits_pq"), lit(0L)).as("hits_pq"),
        coalesce(col("hits_lsh"), lit(0L)).as("hits_lsh"),
        coalesce(col("hits_ivf"), lit(0L)).as("hits_ivf"))
      .orderBy("probe_id")
  }

  val annRecallSql: String =
    s"""WITH ex0 AS (
       |$annTopkSql
       |), pq0 AS (
       |$annPqSql
       |), lsh0 AS (
       |$annTopkLshSql
       |), ivf0 AS (
       |$annIvfSql
       |)
       |SELECT e.probe_id, count(*) AS n_exact,
       | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM pq0 p
       |   WHERE p.probe_id = e.probe_id AND p.cand_id = e.cand_id)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS hits_pq,
       | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM lsh0 l
       |   WHERE l.probe_id = e.probe_id AND l.cand_id = e.cand_id)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS hits_lsh,
       | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivf0 v
       |   WHERE v.probe_id = e.probe_id AND v.cand_id = e.cand_id)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS hits_ivf
       |FROM ex0 e GROUP BY e.probe_id
       |ORDER BY probe_id""".stripMargin

  // ---------------------------------------------- s_dim_truncate_eval
  /** DIMENSION-TRUNCATION recall — the Matryoshka (MRL) serving
    * question made a table: for each prefix width d, the exact top-k
    * is recomputed on vectors TRUNCATED to their first d quantized
    * components (prefix slice, the identical integer score through the
    * shared bruteTopkFrom stage) and recall-scored against the
    * full-dimension exact top-k. MRL-trained embeddings are built so
    * small prefixes retain ranking; embeddings trained without it lose
    * recall fast — this table MEASURES which regime a corpus is in and
    * therefore how many leading dimensions the serving index must
    * hold (d× less memory and dot-product work at 100 TB scale).
    * Truncated self-norms floor at 1 (a zero prefix would otherwise
    * divide by zero; the full-dim baseline never does, so the shared
    * stage is unchanged). Cost: the probe-gated brute baseline once
    * per d — the documented s_ann_topk cost class. */
  val truncDims = Seq(8, 16, 32)

  def dimTruncateEval: Q = (s, dir) => {
    // full-dim exact top-k, read twice per dim (hit semi-join + count)
    val ex = annTopk(s, dir).select(col("probe_id"), col("cand_id"))
      .localCheckpoint(eager = true)
    try {
      val rows = truncDims.map { d =>
        val topd = truncTopk(s, dir, d).select("probe_id", "cand_id")
        val hits = ex.join(topd, Seq("probe_id", "cand_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        ex.agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(hits)) // 1-row scalar
          .select(lit(d.toLong).as("dim"), col("n_exact"), col("n_hits"),
            expr("(n_hits * 1000000) div n_exact").as("recall_ppm"))
      }
      rows.reduce(_.unionByName(_)).orderBy("dim")
        // result must be its own checkpoint BEFORE the finally frees ex
        .localCheckpoint(eager = true)
    } finally graft.model.PropertyGraph.freeLocalCheckpoint(ex)
  }

  /** The per-width truncated top-k (private[graft]: Round7Spec's
    * full-width sanity drives it at d = 64, where slicing is the
    * identity and the result must equal s_ann_topk's rows exactly —
    * the self-consistency proof that the truncation pipeline measures
    * truncation and nothing else). */
  private[graft] def truncTopk(s: SparkSession, dir: String, d: Int): DataFrame = {
    val q = quantized(s, dir)
      .select(col("vec_id"), slice(col("qe"), 1, d).as("qe"))
    bruteTopkFrom(q,
      q.select(col("vec_id").as("cand_id"), col("qe").as("qc"),
        greatest(dot(col("qe"), col("qe")), lit(1L)).as("nb")))
  }

  private def truncTopkCtes(d: Int): String = {
    val dp = "CAST(list_dot_product(p.qe, c.qe) AS BIGINT)"
    val nb = "greatest(CAST(list_dot_product(c.qe, c.qe) AS BIGINT), 1)"
    s"""q$d AS (
       | SELECT vec_id, list_transform(embedding[1:$d],
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), t$d AS (
       | SELECT probe_id, cand_id FROM (
       |  SELECT probe_id, cand_id, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       |  FROM (
       |   SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |    CASE WHEN $dp >= 0 THEN ($dp * $dp * 1000) // $nb
       |     ELSE -(($dp * $dp * 1000) // $nb) END AS score
       |   FROM q$d p, q$d c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
       |  )
       | ) WHERE rn <= $annK
       |)""".stripMargin
  }

  lazy val dimTruncateEvalSql: String = {
    val per = truncDims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim,
         | (SELECT count(*) FROM ex0) AS n_exact,
         | (SELECT count(*) FROM ex0 e JOIN t$d t
         |   ON t.probe_id = e.probe_id AND t.cand_id = e.cand_id) AS n_hits"""
        .stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH ex0 AS (
       |$annTopkSql
       |),
       |${truncDims.map(truncTopkCtes).mkString(",\n")}
       |SELECT dim, n_exact, n_hits,
       | CAST((n_hits * 1000000) // n_exact AS BIGINT) AS recall_ppm
       |FROM ($per) ORDER BY dim""".stripMargin
  }

  // ----------------------------------------------- d_kmeans_cluster
  /** Integer-exact LLOYD k-means over the quantized embeddings — the
    * real "training" step that s_ann_ivf's static-centroid stand-in
    * defers to an offline job (its doc notes FLOAT k-means is unstable
    * across engines; quantized-BIGINT Lloyd is not): distances are
    * exact squared L2 via precomputed norms (‖v‖² + ‖c‖² − 2·v·c, all
    * BIGINT through the codegen'd dot expression), argmin ties break to
    * the lowest centroid id, and the centroid update is the
    * non-negative-shifted floor mean ((Σv + n·1024) div n) − 1024 —
    * Spark `div` and DuckDB `//` agree only on non-negative operands
    * and quantized values are ≥ −1024 by construction, so the shift
    * makes the floor identical in both engines. `kmIters` assignment
    * rounds with one update between (fixed rounds ⇒ exact unrolled
    * oracle). A cluster that loses all members drops out of the next
    * round (both engines, identically). Scale shape: assignment is the
    * O(n·k) broadcast-centroid map-side pass (k rows — constants, no
    * gate needed), the update is ONE shuffle partial-agged on
    * (cluster, dim), and the k×d centroid rebuild is driver-scale. */
  val kmK = 8
  val kmIters = 2
  private val kmShift = 1024L // > max |quantized coord| (1000)

  /** The full Lloyd assignment TRAJECTORY — one frame per iteration
    * (1 to kmIters), each `(vec_id, qe, nb, cid, dist)`. The last is
    * what kmeansAssign caches; d_kmeans_eval reads the whole sequence
    * to chart per-round inertia. Pure plan construction — nothing is
    * materialized here. */
  private def kmeansRounds(s: SparkSession, dir: String): Seq[DataFrame] = {
    val q = quantizedWithNorm(s, dir)
    var cents = q.filter(col("vec_id") < kmK)
      .select(col("vec_id").as("cid"), col("qe").as("qc"), col("nb").as("cnb"))
    val rounds = Seq.newBuilder[DataFrame]
    for (it <- 1 to kmIters) {
      val wA = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
      val asg = q.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("qe"), col("nb"), col("cid"),
          (col("nb") + col("cnb") - lit(2L) * dot(col("qe"), col("qc")))
            .as("dist"))
        .withColumn("rn", row_number().over(wA))
        .filter(col("rn") === 1)
        .select("vec_id", "qe", "nb", "cid", "dist")
      rounds += asg
      if (it < kmIters) {
        val sums = asg
          .select(col("cid"), posexplode(col("qe")).as(Seq("pos", "val")))
          .groupBy("cid", "pos")
          .agg(expr(s"((sum(val) + count(1) * $kmShift) div count(1))" +
            s" - $kmShift").as("cval"))
        cents = sums.groupBy("cid").agg(
          transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
            x => x.getField("cval")).as("qc"),
          sum(col("cval") * col("cval")).as("cnb"))
      }
    }
    rounds.result()
  }

  /** Shared final-assignment stage `(vec_id, qe, nb, cid, dist)` of
    * d_kmeans_cluster and d_semdedup: a cached session memo, like
    * s_ann_ivf's assignment. */
  private val kmMemo = new SessionMemo[DataFrame]

  private def kmeansAssign(s: SparkSession, dir: String): DataFrame =
    kmMemo(s, dir)(kmeansRounds(s, dir).last.cache())

  /** Shared CTE chain ending in the final assignment `a$kmIters`
    * (vec_id, qe, nb, cid, dist). DuckDB `sum` returns HUGEINT —
    * CAST back to BIGINT everywhere Spark stays long. lazy: references
    * object-init-ordered vals. */
  private lazy val kmeansSqlCtes: String = {
    val b = new StringBuilder(
      s"""WITH q AS (
         | SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
         | FROM embeddings
         |), qn AS (
         | SELECT vec_id, qe, CAST(list_dot_product(qe, qe) AS BIGINT) AS nb
         | FROM q
         |), c0 AS (
         | SELECT vec_id AS cid, qe AS qc, nb AS cnb FROM qn
         | WHERE vec_id < $kmK
         |)""".stripMargin)
    for (it <- 1 to kmIters) {
      b ++= s""", d$it AS (
               | SELECT v.vec_id, v.qe, v.nb, c.cid,
               |  CAST(v.nb + c.cnb
               |   - 2 * CAST(list_dot_product(v.qe, c.qc) AS BIGINT)
               |   AS BIGINT) AS dist
               | FROM qn v, c${it - 1} c
               |), a$it AS (
               | SELECT vec_id, qe, nb, cid, dist FROM (
               |  SELECT *, row_number() OVER (
               |    PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$it
               | ) WHERE rn = 1
               |)""".stripMargin
      if (it < kmIters) {
        b ++= s""", s$it AS (
                 | SELECT cid, pos,
                 |  CAST(((sum(val) + count(*) * $kmShift) // count(*))
                 |   - $kmShift AS BIGINT) AS cval
                 | FROM (SELECT cid, unnest(qe) AS val,
                 |        generate_subscripts(qe, 1) AS pos FROM a$it)
                 | GROUP BY cid, pos
                 |), c$it AS (
                 | SELECT cid, list(cval ORDER BY pos) AS qc,
                 |  CAST(sum(cval * cval) AS BIGINT) AS cnb
                 | FROM s$it GROUP BY cid
                 |)""".stripMargin
      }
    }
    b.toString
  }

  def kmeansCluster: Q = (s, dir) =>
    kmeansAssign(s, dir)
      .select(col("vec_id"), col("cid").as("cluster"), col("dist"))
      .orderBy("vec_id")

  lazy val kmeansClusterSql: String =
    s"""$kmeansSqlCtes
       |SELECT vec_id, cid AS cluster, dist FROM a$kmIters
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------- d_kmeans_eval
  /** K-MEANS CONVERGENCE harness — per-iteration inertia (Σ dist over
    * the assignment) and its round-over-round improvement in ppm: the
    * table a "did the clustering converge / is one more Lloyd round
    * worth it" decision reads, the clustering analogue of s_ann_recall
    * and d_dedup_eval. Lloyd guarantees inertia is non-increasing, so
    * improvement_ppm ≥ 0 is also a cross-engine invariant the spec
    * asserts. All-BIGINT: inertia ≤ n·max_dist (~10¹² at sf0.1) and the
    * ×10⁶ ppm scale stays under 2⁶³; at much larger n, switch the ppm
    * base to mean inertia. One 1-row aggregate per round over the
    * shared Lloyd trajectory — the assignment plans Catalyst already
    * has; no new shuffle shape. */
  def kmeansEval: Q = (s, dir) => {
    val perRound = kmeansRounds(s, dir).zipWithIndex.map { case (a, i) =>
      a.agg(count(lit(1)).as("n_vec"), sum(col("dist")).as("inertia"))
        .select(lit(i + 1).cast("int").as("round"), col("n_vec"),
          col("inertia"))
    }.reduce(_.unionByName(_))
    perRound
      .withColumn("improvement_ppm",
        coalesce(expr("((lag(inertia) OVER (ORDER BY round)) - inertia)" +
          " * 1000000 div (lag(inertia) OVER (ORDER BY round))"), lit(0L)))
      .orderBy("round")
  }

  lazy val kmeansEvalSql: String = {
    val rows = (1 to kmIters).map(it =>
      s" SELECT $it AS round, count(*) AS n_vec," +
        s" CAST(sum(dist) AS BIGINT) AS inertia FROM a$it")
      .mkString("\n UNION ALL\n")
    s"""$kmeansSqlCtes, r AS (
       |$rows
       |)
       |SELECT round, n_vec, inertia,
       | COALESCE((lag(inertia) OVER (ORDER BY round) - inertia) * 1000000
       |   // lag(inertia) OVER (ORDER BY round), 0) AS improvement_ppm
       |FROM r ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------- d_semdedup
  /** SemDeDup (Abbas et al.): semantic near-dup pruning where the
    * pairwise pass runs only WITHIN a k-means cluster — the clusters
    * bound the quadratic, which is the whole point of the method at
    * corpus scale (Σ (n/k)² ≪ n²). A vector is pruned (keep = 0) when
    * an earlier same-cluster vector (lower vec_id — the deterministic
    * stand-in for SemDeDup's keep-one-per-group choice) passes the
    * exact cosine > 0.45 integer test shared with the dedup family
    * (400·dp² > 81·‖a‖²‖b‖², dp > 0). The corpus-wide brute-force twin
    * d_dedup_embedding finds 15 near-dup pairs at sf0.01; the
    * cluster-scoped pass sees 9 — cross-cluster pairs are invisible BY
    * DESIGN, the recall/efficiency trade both engines express
    * identically. Scale: pair join keyed on cluster id, per-cluster
    * candidate lists bounded by n/k; raise k to shrink the quadratic. */
  def semDedup: Q = (s, dir) => {
    val asg = kmeansAssign(s, dir)
    val x = asg.toDF("va", "qa", "na", "ca", "da")
    val y = asg.toDF("vb", "qb", "nbb", "cb", "db")
    val dup = x.join(y, col("ca") === col("cb") && col("va") < col("vb"))
      .select(col("vb"), dot(col("qa"), col("qb")).as("dp"),
        col("na"), col("nbb"))
      .filter(col("dp") > 0 &&
        lit(400L) * col("dp") * col("dp") > lit(81L) * col("na") * col("nbb"))
      .select("vb").distinct()
    asg.join(dup, col("vec_id") === col("vb"), "left_outer")
      .select(col("vec_id"), col("cid").as("cluster"),
        when(col("vb").isNull, lit(1L)).otherwise(lit(0L)).as("keep"))
      .orderBy("vec_id")
  }

  lazy val semDedupSql: String =
    s"""$kmeansSqlCtes, pr AS (
       | SELECT DISTINCT y.vec_id AS vb
       | FROM a$kmIters x JOIN a$kmIters y
       |  ON y.cid = x.cid AND x.vec_id < y.vec_id
       | WHERE CAST(list_dot_product(x.qe, y.qe) AS BIGINT) > 0
       |  AND 400 * CAST(list_dot_product(x.qe, y.qe) AS BIGINT)
       |      * CAST(list_dot_product(x.qe, y.qe) AS BIGINT)
       |      > 81 * x.nb * y.nb
       |)
       |SELECT a.vec_id, a.cid AS cluster,
       | CAST(CASE WHEN p.vb IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM a$kmIters a LEFT JOIN pr p ON p.vb = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // ------------------------------------------------------ s_scalar_quant
  /** INT8 scalar quantization of the embedding corpus — the storage-
    * compression stage of a vector index (SQ8, FAISS
    * ScalarQuantizer-style): per-DIMENSION corpus min/max define a
    * 256-level grid; code_i = ((x_i−mn_i)·255) div (mx_i−mn_i),
    * reconstruction r_i = mn_i + (code_i·(mx_i−mn_i)) div 255. Output:
    * per-vector total and max per-dimension squared reconstruction
    * error on the 1000-scaled integer grid.
    *
    * Scale shape: the stats pass is ONE 64-key shuffle (posexplode →
    * groupBy(dim), partial-agged map-side); the encode/error pass is
    * SHUFFLE-FREE — the 64-row stats frame collapses to a single sorted
    * array row cross-broadcast to every partition, and all per-vector
    * work is zip_with/aggregate inside codegen. floor-by-double stands
    * in for integer div INSIDE the lambda (no `div` in lambda scope):
    * exact here because operands are ≤ 2048·255 and divisors ≤ 4096 —
    * quotient spacing ≥ 1/4096 dwarfs double ulp, so floor(a/b) equals
    * BIGINT floor division in both engines (DuckDB side uses true
    * `//`). */
  def scalarQuant: Q = (s, dir) => {
    val q = quantized(s, dir)
    val stats = q.select(posexplode(col("qe")).as(Seq("dim", "v")))
      .groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx"))))
        .as("st"))
    q.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        zip_with(col("qe"), col("st"), (v, st) => {
          val mn = st.getField("mn")
          val d = st.getField("mx") - mn
          val code = when(d > 0,
            floor(((v - mn) * 255).cast("double") / d).cast("long"))
            .otherwise(lit(0L))
          val recon = when(d > 0,
            mn + floor((code * d).cast("double") / 255).cast("long"))
            .otherwise(mn)
          (v - recon) * (v - recon)
        }).as("errs"))
      .select(col("vec_id"),
        aggregate(col("errs"), lit(0L), (acc, x) => acc + x).as("qerr"),
        array_max(col("errs")).as("max_dim_err"))
      .orderBy("vec_id")
  }

  val scalarQuantSql: String =
    s"""WITH q AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), x AS (
       | SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i
       | FROM q
       |), d AS (
       | SELECT i, min(v) AS mn, max(v) AS mx FROM x GROUP BY i
       |), e AS (
       | SELECT x.vec_id,
       |  (x.v - (CASE WHEN d.mx > d.mn
       |     THEN d.mn + ((((x.v - d.mn) * 255) // (d.mx - d.mn))
       |                  * (d.mx - d.mn)) // 255
       |     ELSE d.mn END)) AS ev
       | FROM x JOIN d ON d.i = x.i
       |)
       |SELECT vec_id, CAST(sum(ev * ev) AS BIGINT) AS qerr,
       | CAST(max(ev * ev) AS BIGINT) AS max_dim_err
       |FROM e GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- s_mmr
  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein 1998) — the retrieval-diversity op a training-data
    * curator runs after ANN: from each probe's top-`mmrCand` relevance
    * candidates, greedily select `mmrK` with
    * mmr(c) = 7·rel(c) − 3·max_{s∈selected} sim(s,c)  (λ = 0.7 in
    * tenths — all-integer, no float decides). rel/sim use the SAME
    * integer cosine-monotone score as s_ann_topk (directional: divides
    * by the second argument's norm). Ties break to the lowest cand_id;
    * the greedy loop is `mmrK` fixed rounds ⇒ exact unrolled oracle.
    *
    * Scale shape: the relevance pass is the brute-force probe×corpus
    * scan (same plan as s_ann_topk — broadcast probes, windowed
    * top-`mmrCand`); everything after operates on probes×20 rows —
    * driver-scale frames, per-round eager checkpoints keep the
    * twice-referenced selection lineage flat. */
  val mmrCand = 20
  val mmrK = 5

  def mmr: Q = (s, dir) => {
    // probe side ≤ 10 rows BY CONSTRUCTION (vec_id < 10) — broadcast
    // unconditionally, same convention as rangeSearch/binaryQuant; a
    // real probe SET reuses bruteTopk's counted gate
    val probes = broadcast(quantized(s, dir)
      .filter(col("vec_id") < 10).toDF("probe_id", "qp"))
    val scoreCase =
      "CASE WHEN dp >= 0 THEN (dp * dp * 1000) div nb" +
        " ELSE -((dp * dp * 1000) div nb) END"
    val rels = probes.crossJoin(quantizedWithNorm(s, dir)
      .toDF("cand_id", "qc", "nb"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"), col("qc"), col("nb"),
        dot(col("qp"), col("qc")).as("dp"))
      .select(col("probe_id"), col("cand_id"), col("qc"), col("nb"),
        expr(scoreCase).as("rel"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("rel").desc, col("cand_id"))
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val cand = ck.own(rels.withColumn("rn0", row_number().over(w))
        .filter(col("rn0") <= mmrCand)
        .localCheckpoint(eager = true))
      val sims = ck.own(cand.select(col("probe_id"), col("cand_id").as("sel_id"),
        col("qc").as("qa"))
        .join(cand.select(col("probe_id"), col("cand_id"), col("qc"),
          col("nb")), Seq("probe_id"))
        .filter(col("sel_id") =!= col("cand_id"))
        .select(col("probe_id"), col("sel_id"), col("cand_id"),
          dot(col("qa"), col("qc")).as("dp"), col("nb"))
        .select(col("probe_id"), col("sel_id"), col("cand_id"),
          expr(scoreCase).as("sim"))
        .localCheckpoint(eager = true))
      var sel = ck.own(cand.filter(col("rn0") === 1)
        .select(col("probe_id"), col("cand_id"),
          (lit(7L) * col("rel")).as("mmr"), lit(1).as("rn"))
        .localCheckpoint(eager = true))
      for (t <- 2 to mmrK) {
        val picked = sel.select("probe_id", "cand_id")
        val ms = sims
          .join(picked.withColumnRenamed("cand_id", "sel_id"),
            Seq("probe_id", "sel_id"), "left_semi")
          .groupBy("probe_id", "cand_id").agg(max("sim").as("msim"))
        val scoredT = cand
          .join(picked, Seq("probe_id", "cand_id"), "left_anti")
          .join(ms, Seq("probe_id", "cand_id"))
          .select(col("probe_id"), col("cand_id"),
            (lit(7L) * col("rel") - lit(3L) * col("msim")).as("mmr"))
        val wt = Window.partitionBy("probe_id")
          .orderBy(col("mmr").desc, col("cand_id"))
        val pick = scoredT.withColumn("r", row_number().over(wt))
          .filter(col("r") === 1)
          .select(col("probe_id"), col("cand_id"), col("mmr"),
            lit(t).as("rn"))
        sel = ck.own(sel.unionByName(pick).localCheckpoint(eager = true))
      }
      sel.orderBy("probe_id", "rn")
        .select("probe_id", "rn", "cand_id", "mmr")
        .localCheckpoint(eager = true)
    }
  }

  val mmrSql: String = {
    def sc(dp: String, nb: String) =
      s"CASE WHEN $dp >= 0 THEN ($dp * $dp * 1000) // $nb" +
        s" ELSE -(($dp * $dp * 1000) // $nb) END"
    val b = new StringBuilder(
      s"""WITH q AS (
         | SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
         | FROM embeddings
         |), qn AS (
         | SELECT vec_id, qe, CAST(list_dot_product(qe, qe) AS BIGINT) AS nb
         | FROM q
         |), rels AS (
         | SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, c.qe AS qc, c.nb,
         |  ${sc("CAST(list_dot_product(p.qe, c.qe) AS BIGINT)", "c.nb")} AS rel
         | FROM q p, qn c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
         |), cand AS (
         | SELECT * FROM (
         |  SELECT probe_id, cand_id, qc, nb, rel,
         |   row_number() OVER (PARTITION BY probe_id
         |                      ORDER BY rel DESC, cand_id) AS rn0
         |  FROM rels)
         | WHERE rn0 <= $mmrCand
         |), sims AS (
         | SELECT a.probe_id, a.cand_id AS sel_id, b.cand_id AS cand_id,
         |  ${sc("CAST(list_dot_product(a.qc, b.qc) AS BIGINT)", "b.nb")} AS sim
         | FROM cand a JOIN cand b
         |  ON b.probe_id = a.probe_id AND b.cand_id <> a.cand_id
         |), s1 AS (
         | SELECT probe_id, cand_id, 7 * rel AS mmr, 1 AS rn
         | FROM cand WHERE rn0 = 1
         |), sel1 AS (SELECT probe_id, cand_id FROM s1)""".stripMargin)
    for (t <- 2 to mmrK) {
      b ++= s""", ms$t AS (
               | SELECT c.probe_id, c.cand_id, c.rel, max(p.sim) AS msim
               | FROM cand c
               | JOIN sims p ON p.probe_id = c.probe_id
               |  AND p.cand_id = c.cand_id
               | JOIN sel${t - 1} s ON s.probe_id = p.probe_id
               |  AND s.cand_id = p.sel_id
               | WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
               |   WHERE x.probe_id = c.probe_id AND x.cand_id = c.cand_id)
               | GROUP BY 1, 2, 3
               |), s$t AS (
               | SELECT probe_id, cand_id, mmr, $t AS rn FROM (
               |  SELECT probe_id, cand_id, 7 * rel - 3 * msim AS mmr,
               |   row_number() OVER (PARTITION BY probe_id
               |     ORDER BY 7 * rel - 3 * msim DESC, cand_id) AS r
               |  FROM ms$t) WHERE r = 1
               |), sel$t AS (
               | SELECT probe_id, cand_id FROM sel${t - 1}
               | UNION ALL SELECT probe_id, cand_id FROM s$t
               |)""".stripMargin
    }
    b ++= "\nSELECT probe_id, rn, cand_id, mmr FROM (" +
      (1 to mmrK).map(t => s"SELECT * FROM s$t").mkString(" UNION ALL ") +
      ") ORDER BY probe_id, rn"
    b.toString
  }

  // -------------------------------------------------------- s_range_search
  /** RANGE (fixed-radius) retrieval: ALL candidates with cosine > 0.3
    * of each probe — the "find everything at least this similar"
    * surface top-k cannot express (result cardinality is data-
    * dependent; FAISS range_search). Exact integer membership:
    * dp > 0 AND 100·dp² > 9·na·nb (0.3² = 9/100 cross-multiplied;
    * |dp| ≤ 64·10⁶ on this grid keeps both sides under 4.2·10¹⁷ —
    * >20× BIGINT headroom), norms precomputed per vector. This is the
    * exact baseline over the gated-broadcast probe set; at corpus
    * scale the candidate set comes from the SAME banded-LSH machinery
    * as d_dedup_embedding_lsh, with radius recall measured the
    * s_ann_recall way. Deliberately brute-force — whitelisted in
    * CrossJoinSweepSpec like the other exact anchors. */
  def rangeSearch: Q = (s, dir) => {
    // probe side is ≤ 10 rows BY CONSTRUCTION (vec_id < 10) — broadcast
    // unconditionally; a count() gate here was a wasted job per query
    // (r5 advisor). At a real probe-set scale, reuse bruteTopk's
    // counted gate.
    val probes = broadcast(quantizedWithNorm(s, dir).filter(col("vec_id") < 10)
      .toDF("probe_id", "qp", "na"))
    probes.crossJoin(quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("na"), col("nb"))
      .filter(col("dp") > 0 &&
        lit(100L) * col("dp") * col("dp") > lit(9L) * col("na") * col("nb"))
      .orderBy("probe_id", "cand_id")
  }

  val rangeSearchSql: String =
    """WITH q AS (
      | SELECT vec_id, list_transform(embedding,
      |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
      | FROM embeddings
      |), n AS (
      | SELECT vec_id, qe, CAST(list_dot_product(qe, qe) AS BIGINT) AS nn
      | FROM q
      |)
      |SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
      | CAST(list_dot_product(p.qe, c.qe) AS BIGINT) AS dp,
      | p.nn AS na, c.nn AS nb
      |FROM n p JOIN n c ON p.vec_id < 10 AND c.vec_id <> p.vec_id
      |WHERE CAST(list_dot_product(p.qe, c.qe) AS BIGINT) > 0
      |  AND 100 * CAST(list_dot_product(p.qe, c.qe) AS BIGINT)
      |      * CAST(list_dot_product(p.qe, c.qe) AS BIGINT)
      |    > 9 * p.nn * c.nn
      |ORDER BY probe_id, cand_id""".stripMargin

  // ------------------------------------------------------ s_range_recall
  /** RADIUS-RECALL harness — the measurement s_range_search's doc
    * promises: the banded-LSH candidate generator (the corpus-scale
    * path, same machinery as d_dedup_embedding_lsh) run through the
    * SAME exact integer radius test, scored per probe against the
    * exact range-search ground truth. The LSH result is a subset of
    * the truth by construction (identical membership test over a
    * candidate subset), so n_lsh ≤ n_true and recall_ppm is the exact
    * floor ratio — the number that decides how many bands the radius
    * workload needs. Composes two oracle-checked pipelines; the oracle
    * composes both chains. */
  def rangeRecall: Q = (s, dir) => {
    val truth = rangeSearch(s, dir).select("probe_id", "cand_id")
    val bands = lshBands(s, dir)
    val pb = broadcast(bands.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("band"), col("sig")))
    val cand = pb
      .join(bands.select(col("vec_id").as("cand_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id").distinct()
    val qn = quantizedWithNorm(s, dir)
    val lshHits = cand
      .join(broadcast(qn.filter(col("vec_id") < 10).toDF("probe_id", "qp", "na")),
        "probe_id")
      .join(qn.toDF("cand_id", "qc", "nb"), "cand_id")
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("na"), col("nb"))
      .filter(col("dp") > 0 &&
        lit(100L) * col("dp") * col("dp") > lit(9L) * col("na") * col("nb"))
      .select("probe_id", "cand_id")
    truth.groupBy("probe_id").agg(count(lit(1)).as("n_true"))
      .join(lshHits.groupBy("probe_id").agg(count(lit(1)).as("n_lsh")),
        Seq("probe_id"), "left_outer")
      .select(col("probe_id"), col("n_true"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"))
      .withColumn("recall_ppm", expr("(n_lsh * 1000000) div n_true"))
      .orderBy("probe_id")
  }

  val rangeRecallSql: String =
    s"""WITH tr AS (
       |$rangeSearchSql
       |), $lshBandsSqlCte, cand AS (
       | SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
       | FROM bk p JOIN bk c ON c.band = p.band AND c.sig = p.sig
       |  AND c.vec_id <> p.vec_id
       | WHERE p.vec_id < 10
       |), lh AS (
       | SELECT cd.probe_id, cd.cand_id
       | FROM cand cd JOIN q p ON p.vec_id = cd.probe_id
       |              JOIN q c ON c.vec_id = cd.cand_id
       | WHERE CAST(list_dot_product(p.qe, c.qe) AS BIGINT) > 0
       |  AND 100 * CAST(list_dot_product(p.qe, c.qe) AS BIGINT)
       |      * CAST(list_dot_product(p.qe, c.qe) AS BIGINT)
       |    > 9 * CAST(list_dot_product(p.qe, p.qe) AS BIGINT)
       |      * CAST(list_dot_product(c.qe, c.qe) AS BIGINT)
       |)
       |SELECT t.probe_id, t.n_true, COALESCE(l.n_lsh, 0) AS n_lsh,
       | CAST((COALESCE(l.n_lsh, 0) * 1000000) // t.n_true AS BIGINT)
       |  AS recall_ppm
       |FROM (SELECT probe_id, count(*) AS n_true FROM tr GROUP BY 1) t
       |LEFT JOIN (SELECT probe_id, count(*) AS n_lsh FROM lh GROUP BY 1) l
       |  USING (probe_id)
       |ORDER BY probe_id""".stripMargin

  // ------------------------------------------------------ s_binary_quant
  /** BINARY (1-bit sign) QUANTIZATION + Hamming top-k — the modern
    * extreme-compression retrieval path (64 dims → 64 bits, a 32×
    * reduction over float32; rescoring survivors with the full vectors
    * is the documented second stage, = the oracle-checked s_ann_topk
    * plan over a candidate subset). Sign bits pack into TWO BIGINT
    * halves (32 bits each — `1 << 63` wraps differently across
    * engines, the phash banding lesson), built by posexplode +
    * map-side-combined sum so the packing stays in codegen; distance =
    * bit_count(xor) on each half, exact integers, ties to the lower
    * cand_id. Scale shape: the signature table is corpus-sized but
    * 16 bytes/vector — the probe×corpus scan is the brute pass over a
    * structure 32× smaller than the float corpus, and the same banded
    * LSH applies on the halves when even that scan is too big. */
  val bqK = 10

  /** 1-bit sign signature table `(vec_id, sig_lo, sig_hi)` — 16 bytes
    * per vector, feeds both sides of binaryQuant's probe scan and
    * annRerank's; a cached session memo. */
  private val bsigMemo = new SessionMemo[DataFrame]

  private def binarySig(s: SparkSession, dir: String): DataFrame =
    bsigMemo(s, dir)(quantized(s, dir)
      .select(col("vec_id"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy("vec_id")
      .agg(
        sum(expr("IF(pos < 32 AND v > 0, shiftleft(1L, CAST(pos AS INT)), 0L)"))
          .as("sig_lo"),
        sum(expr("IF(pos >= 32 AND v > 0, shiftleft(1L, CAST(pos AS INT) - 32), 0L)"))
          .as("sig_hi"))
      .cache())

  def binaryQuant: Q = (s, dir) => {
    val sig = binarySig(s, dir)
    // ≤ 10 probe rows by construction — broadcast unconditionally
    // (same rationale as rangeSearch; the count() gate was dead code)
    val probes = broadcast(sig.filter(col("vec_id") < 10)
      .toDF("probe_id", "plo", "phi"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("hamming"), col("cand_id"))
    probes.crossJoin(sig.toDF("cand_id", "clo", "chi"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        (expr("bit_count(plo ^ clo)") + expr("bit_count(phi ^ chi)"))
          .cast("long").as("hamming"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= bqK)
      .select("probe_id", "rn", "cand_id", "hamming")
      .orderBy("probe_id", "rn")
  }

  val binaryQuantSql: String =
    """WITH q AS (
      | SELECT vec_id, list_transform(embedding,
      |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
      | FROM embeddings
      |), bits AS (
      | SELECT vec_id, CAST(u.i AS INTEGER) - 1 AS pos, qe[CAST(u.i AS INTEGER)] AS v
      | FROM q, unnest(range(1, len(qe) + 1)) u(i)
      |), sig AS (
      | SELECT vec_id,
      |  CAST(sum(CASE WHEN pos < 32 AND v > 0
      |   THEN (1::BIGINT << pos) ELSE 0 END) AS BIGINT) AS sig_lo,
      |  CAST(sum(CASE WHEN pos >= 32 AND v > 0
      |   THEN (1::BIGINT << (pos - 32)) ELSE 0 END) AS BIGINT) AS sig_hi
      | FROM bits GROUP BY vec_id
      |), scored AS (
      | SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
      |  CAST(bit_count(xor(p.sig_lo, c.sig_lo))
      |     + bit_count(xor(p.sig_hi, c.sig_hi)) AS BIGINT) AS hamming
      | FROM sig p JOIN sig c ON p.vec_id < 10 AND c.vec_id <> p.vec_id
      |), ranked AS (
      | SELECT probe_id, cand_id, hamming,
      |  row_number() OVER (PARTITION BY probe_id
      |    ORDER BY hamming, cand_id) AS rn
      | FROM scored
      |)
      |SELECT probe_id, rn, cand_id, hamming FROM ranked
      |WHERE rn <= 10 ORDER BY probe_id, rn""".stripMargin

  // -------------------------------------------------------- s_quant_eval
  /** QUANTIZATION-RECALL harness — the adjudication table for the
    * compression family, same philosophy as s_ann_recall (which judges
    * the INDEX family): per probe, how many of the exact integer-cosine
    * top-k survive in the 1-bit Hamming top-k (s_binary_quant), as
    * count and floor ppm. This is the number a "can we ship 32×
    * compression" decision actually reads; a threshold/packing change
    * is judged by this table moving. Composes two already-oracle-
    * checked pipelines; the oracle composes their full CTE chains, so
    * the composition itself is cross-engine-verified. */
  def quantEval: Q = (s, dir) => {
    val ex = annTopk(s, dir).select(col("probe_id"), col("cand_id"))
    val bq = binaryQuant(s, dir).select(col("probe_id"), col("cand_id"))
    val hitBq = ex.join(bq, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("hits_bq"))
    ex.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
      .join(hitBq, Seq("probe_id"), "left_outer")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("hits_bq"), lit(0L)).as("hits_bq"))
      .withColumn("recall_ppm", expr("(hits_bq * 1000000) div n_exact"))
      .orderBy("probe_id")
  }

  val quantEvalSql: String =
    s"""WITH ex0 AS (
       |$annTopkSql
       |), bq0 AS (
       |$binaryQuantSql
       |)
       |SELECT probe_id, n_exact, hits_bq,
       | CAST((hits_bq * 1000000) // n_exact AS BIGINT) AS recall_ppm
       |FROM (
       | SELECT e.probe_id, count(*) AS n_exact,
       |  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM bq0 b
       |    WHERE b.probe_id = e.probe_id AND b.cand_id = e.cand_id)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS hits_bq
       | FROM ex0 e GROUP BY e.probe_id
       |)
       |ORDER BY probe_id""".stripMargin

  // -------------------------------------------------------- s_ann_rerank
  /** TWO-STAGE retrieval — the production serving shape: a CHEAP
    * coarse filter (1-bit Hamming over the 64-bit signatures, 2
    * bit_count ops/pair) keeps the top-`rerankC` candidates per probe,
    * then the EXACT integer-cosine score reranks only those C — per
    * probe the expensive 64-mult dot product runs C times instead of
    * n times (C/n of the brute cost; at corpus scale the coarse stage
    * is the only full scan and it reads 16 bytes/vector, a 32×
    * bandwidth cut — this is refine-after-quantize, the PQ/ADC serving
    * pattern). `in_exact` marks survivors of the true top-k, so the
    * row set IS the recall audit (s_quant_eval's judgment, per rank).
    * Both stages reuse already-oracle-checked machinery (binarySig /
    * quantizedWithNorm / the bruteTopk score expression); the oracle
    * composes the same chains. */
  val rerankC = 50

  def annRerank: Q = (s, dir) => {
    val sig = binarySig(s, dir)
    val probesB = broadcast(sig.filter(col("vec_id") < 10)
      .toDF("probe_id", "plo", "phi"))
    val wC = Window.partitionBy("probe_id")
      .orderBy(col("hamming"), col("cand_id"))
    val coarse = probesB.crossJoin(sig.toDF("cand_id", "clo", "chi"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        (expr("bit_count(plo ^ clo)") + expr("bit_count(phi ^ chi)"))
          .cast("long").as("hamming"))
      .withColumn("rn", row_number().over(wC))
      .filter(col("rn") <= rerankC)
      .select("probe_id", "cand_id")
    val qp = broadcast(quantized(s, dir).filter(col("vec_id") < 10)
      .toDF("probe_id", "qp"))
    val cand = quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb")
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("cand_id"))
    val rer = coarse.join(qp, Seq("probe_id")).join(cand, Seq("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"),
        expr("CASE WHEN dp >= 0 THEN (dp * dp * 1000) div nb" +
          " ELSE -((dp * dp * 1000) div nb) END").as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK)
    val exact = annTopk(s, dir).select(col("probe_id"), col("cand_id"),
      lit(1L).as("in_exact"))
    rer.join(exact, Seq("probe_id", "cand_id"), "left_outer")
      .select(col("probe_id"), col("rn"), col("cand_id"), col("score"),
        coalesce(col("in_exact"), lit(0L)).as("in_exact"))
      .orderBy("probe_id", "rn")
  }

  val annRerankSql: String =
    s"""WITH q AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), bits AS (
       | SELECT vec_id, CAST(u.i AS INTEGER) - 1 AS pos, qe[CAST(u.i AS INTEGER)] AS v
       | FROM q, unnest(range(1, len(qe) + 1)) u(i)
       |), sig AS (
       | SELECT vec_id,
       |  CAST(sum(CASE WHEN pos < 32 AND v > 0
       |   THEN (1::BIGINT << pos) ELSE 0 END) AS BIGINT) AS sig_lo,
       |  CAST(sum(CASE WHEN pos >= 32 AND v > 0
       |   THEN (1::BIGINT << (pos - 32)) ELSE 0 END) AS BIGINT) AS sig_hi
       | FROM bits GROUP BY vec_id
       |), coarse AS (
       | SELECT probe_id, cand_id FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |   row_number() OVER (PARTITION BY p.vec_id
       |     ORDER BY bit_count(xor(p.sig_lo, c.sig_lo))
       |            + bit_count(xor(p.sig_hi, c.sig_hi)), c.vec_id) AS rn
       |  FROM sig p JOIN sig c ON p.vec_id < 10 AND c.vec_id <> p.vec_id
       | ) WHERE rn <= $rerankC
       |), resc AS (
       | SELECT co.probe_id, co.cand_id,
       |  CASE WHEN CAST(list_dot_product(p.qe, c.qe) AS BIGINT) >= 0
       |   THEN (CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |        // CAST(list_dot_product(c.qe, c.qe) AS BIGINT)
       |   ELSE -((CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |        // CAST(list_dot_product(c.qe, c.qe) AS BIGINT))
       |  END AS score
       | FROM coarse co
       | JOIN q p ON p.vec_id = co.probe_id
       | JOIN q c ON c.vec_id = co.cand_id
       |), rr AS (
       | SELECT probe_id, cand_id, score,
       |  row_number() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, cand_id) AS rn
       | FROM resc
       |), exact AS (
       | SELECT probe_id, cand_id FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |   row_number() OVER (PARTITION BY p.vec_id ORDER BY
       |    CASE WHEN CAST(list_dot_product(p.qe, c.qe) AS BIGINT) >= 0
       |     THEN (CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |          // CAST(list_dot_product(c.qe, c.qe) AS BIGINT)
       |     ELSE -((CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |          // CAST(list_dot_product(c.qe, c.qe) AS BIGINT))
       |    END DESC, c.vec_id) AS rn
       |  FROM q p, q c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
       | ) WHERE rn <= $annK
       |)
       |SELECT rr.probe_id, rr.rn, rr.cand_id, rr.score,
       | CAST(CASE WHEN EXISTS (SELECT 1 FROM exact e
       |   WHERE e.probe_id = rr.probe_id AND e.cand_id = rr.cand_id)
       |  THEN 1 ELSE 0 END AS BIGINT) AS in_exact
       |FROM rr WHERE rr.rn <= $annK
       |ORDER BY rr.probe_id, rr.rn""".stripMargin

  // ---------------------------------------------------- s_ivf_probe_curve
  /** IVF nprobe TUNING CURVE — the recall-vs-cost sweep an index
    * deployment reads before picking nprobe (the d_lsh_tuning
    * discipline applied to the IVF family: lsh_tuning sizes minhash
    * bands, quant_eval judges compression, this sizes the probe
    * budget): for nprobe ∈ {1,2,4,8}, recall@5 of the multiprobe
    * search against the exact top-5. ONE pass: cells are scored and
    * ranked per probe ONCE, each config materializes as a filter
    * rn ≤ np over the same ranked frame (configs ride an explode —
    * no per-config rescan), candidates score once per (config, probe,
    * cell member). A candidate appears via exactly ONE cell (IVF
    * assignment is functional), so no dedup stage. Exact integer
    * hits/ppm. */
  val ivfCurveNprobes: Seq[Int] = Seq(1, 2, 4, 8)

  def ivfProbeCurve: Q = (s, dir) => {
    val asg = ivfAssign(s, dir)
    val q = quantizedWithNorm(s, dir)
    val cents = broadcast(q.filter(col("vec_id") < ivfK)
      .toDF("cid", "qc", "cnb"))
    val p0 = q.filter(col("vec_id") < 10).toDF("probe_id", "qp", "pnb")
      .crossJoin(cents)
      .select(col("probe_id"), col("qp"), col("cid"),
        dot(col("qp"), col("qc")).as("dp"), col("cnb").as("nb"))
      .select(col("probe_id"), col("qp"), col("cid"),
        expr(scoreExpr).as("cs"))
    val wp = Window.partitionBy("probe_id")
      .orderBy(col("cs").desc, col("cid"))
    val ranked = p0.withColumn("rn", row_number().over(wp))
    val confs = broadcast(ranked
      .withColumn("np",
        explode(array(ivfCurveNprobes.map(n => lit(n)): _*)))
      .filter(col("rn") <= col("np"))
      .select("np", "probe_id", "qp", "cid"))
    val scored = confs.join(asg.toDF("cand_id", "qc", "nb", "cid"), Seq("cid"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("np"), col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("np"), col("probe_id"), col("cand_id"),
        expr(scoreExpr).as("score"))
    val w = Window.partitionBy("np", "probe_id")
      .orderBy(col("score").desc, col("cand_id"))
    val top = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= annK).select("np", "probe_id", "cand_id")
    val exact = annTopk(s, dir).select(col("probe_id"), col("cand_id"))
    val hits = top.join(exact, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy("np").agg(count(lit(1)).as("n_hits"))
    val totals = exact.agg(count(lit(1)).as("n_exact"))
    s.createDataFrame(ivfCurveNprobes.map(n => Tuple1(n))).toDF("np")
      .join(hits, Seq("np"), "left_outer").crossJoin(broadcast(totals))
      .select(col("np").cast("long").as("nprobe"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("(coalesce(n_hits, 0) * 1000000) div n_exact").as("recall_ppm"))
      .orderBy("nprobe")
  }

  val ivfProbeCurveSql: String = {
    val score = "CASE WHEN dp >= 0 THEN (dp * dp * 1000) // nb" +
      " ELSE -((dp * dp * 1000) // nb) END"
    val nps = ivfCurveNprobes.mkString(", ")
    s"""WITH q AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), cents AS (
       | SELECT vec_id AS cid, qe AS qc FROM q WHERE vec_id < $ivfK
       |), asg0 AS (
       | SELECT v.vec_id, v.qe, c.cid,
       |  CAST(list_dot_product(v.qe, c.qc) AS BIGINT) AS dp,
       |  CAST(list_dot_product(c.qc, c.qc) AS BIGINT) AS nb
       | FROM q v, cents c
       |), asg AS (
       | SELECT vec_id, qe, cid FROM (
       |  SELECT vec_id, qe, cid, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY $score DESC, cid) AS rn
       |  FROM asg0
       | ) WHERE rn = 1
       |), pc AS (
       | SELECT p.vec_id AS probe_id, p.qe AS qp, c.cid,
       |  row_number() OVER (PARTITION BY p.vec_id ORDER BY (
       |   CASE WHEN CAST(list_dot_product(p.qe, c.qc) AS BIGINT) >= 0
       |    THEN (CAST(list_dot_product(p.qe, c.qc) AS BIGINT) * CAST(list_dot_product(p.qe, c.qc) AS BIGINT) * 1000)
       |         // CAST(list_dot_product(c.qc, c.qc) AS BIGINT)
       |    ELSE -((CAST(list_dot_product(p.qe, c.qc) AS BIGINT) * CAST(list_dot_product(p.qe, c.qc) AS BIGINT) * 1000)
       |         // CAST(list_dot_product(c.qc, c.qc) AS BIGINT))
       |   END) DESC, c.cid) AS rn
       | FROM q p, cents c WHERE p.vec_id < 10
       |), confs AS (
       | SELECT u.np, pc.probe_id, pc.qp, pc.cid
       | FROM pc, unnest(ARRAY[$nps]) u(np)
       | WHERE pc.rn <= u.np
       |), scored AS (
       | SELECT co.np, co.probe_id, a.vec_id AS cand_id,
       |  CAST(list_dot_product(co.qp, a.qe) AS BIGINT) AS dp,
       |  CAST(list_dot_product(a.qe, a.qe) AS BIGINT) AS nb
       | FROM confs co JOIN asg a ON a.cid = co.cid
       | WHERE a.vec_id <> co.probe_id
       |), top AS (
       | SELECT np, probe_id, cand_id FROM (
       |  SELECT np, probe_id, cand_id, row_number() OVER (
       |    PARTITION BY np, probe_id ORDER BY $score DESC, cand_id) AS rn
       |  FROM scored
       | ) WHERE rn <= $annK
       |), ex AS (
       | SELECT probe_id, cand_id FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |   row_number() OVER (PARTITION BY p.vec_id ORDER BY (
       |    CASE WHEN CAST(list_dot_product(p.qe, c.qe) AS BIGINT) >= 0
       |     THEN (CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |          // CAST(list_dot_product(c.qe, c.qe) AS BIGINT)
       |     ELSE -((CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * CAST(list_dot_product(p.qe, c.qe) AS BIGINT) * 1000)
       |          // CAST(list_dot_product(c.qe, c.qe) AS BIGINT))
       |    END) DESC, c.vec_id) AS rn
       |  FROM q p, q c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
       | ) WHERE rn <= $annK
       |), hits AS (
       | SELECT t.np, count(*) AS n_hits
       | FROM top t WHERE EXISTS (SELECT 1 FROM ex e
       |   WHERE e.probe_id = t.probe_id AND e.cand_id = t.cand_id)
       | GROUP BY t.np
       |), tot AS (SELECT count(*) AS n_exact FROM ex)
       |SELECT CAST(u.np AS BIGINT) AS nprobe, tot.n_exact,
       | CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       | CAST((COALESCE(h.n_hits, 0) * 1000000) // tot.n_exact AS BIGINT)
       |  AS recall_ppm
       |FROM unnest(ARRAY[$nps]) u(np)
       |LEFT JOIN hits h ON h.np = u.np
       |CROSS JOIN tot
       |ORDER BY nprobe""".stripMargin
  }

  // ------------------------------------------------------ s_vector_drift
  /** EMBEDDING-DISTRIBUTION DRIFT monitor — q_ks_drift's question asked
    * of the vector store: has the embedding distribution moved between
    * two slices of the corpus (here: even vs odd vec_id, the stand-in
    * for before/after a model or pipeline change)? Per dimension, the
    * slice means over the SAME milli-quantized components the ANN
    * family scores with (drift measured in the index's own metric
    * space — a drift invisible after quantization cannot affect
    * retrieval), reported as exact integer micro-unit mean difference
    * (milli sums × 1000 div n — one integer division per slice, no
    * float accumulates). Top-8 dimensions by (|drift| DESC, dim) —
    * total order, deterministic cut. At 100 TB: one explode pass, one
    * dim-keyed partial-agged shuffle of 64 groups; slices are column
    * predicates, never separate scans. The follow-up when drift fires
    * is s_dim_truncate_eval / re-training the IVF centroids
    * (s_centroid_balance shows the symptom on the index side). */
  def vectorDrift: Q = (s, dir) => {
    val el = quantized(s, dir)
      .select(col("vec_id"), posexplode(col("qe")).as(Seq("dim", "v")))
    el.groupBy("dim")
      .agg(sum(when(col("vec_id") % 2 === 0, col("v")).otherwise(0L))
          .as("sum_a"),
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("vec_id") % 2 === 1, col("v")).otherwise(0L))
          .as("sum_b"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("dim").cast("long").as("dim"), col("sum_a"), col("n_a"),
        col("sum_b"), col("n_b"),
        // non-negative-shifted floor means (the s_scalar_quant fix):
        // Spark div and DuckDB // agree only on non-negative operands,
        // and component sums CAN be negative
        expr("((sum_a + n_a * 1048576) * 1000) div n_a" +
          " - ((sum_b + n_b * 1048576) * 1000) div n_b").as("drift_micro"))
      .orderBy(abs(col("drift_micro")).desc, col("dim"))
      .limit(8)
      .orderBy("dim")
  }

  val vectorDriftSql: String =
    """WITH q AS (
      | SELECT vec_id, list_transform(embedding,
      |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
      | FROM embeddings
      |), el AS (
      | SELECT vec_id, unnest(qe) AS v,
      |  CAST(generate_subscripts(qe, 1) - 1 AS BIGINT) AS dim
      | FROM q
      |), a AS (
      | SELECT dim,
      |  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_a,
      |  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
      |  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      | FROM el GROUP BY dim
      |), d AS (
      | SELECT dim, sum_a, n_a, sum_b, n_b,
      |  ((sum_a + n_a * 1048576) * 1000) // n_a
      |   - ((sum_b + n_b * 1048576) * 1000) // n_b AS drift_micro
      | FROM a
      | ORDER BY abs(((sum_a + n_a * 1048576) * 1000) // n_a
      |   - ((sum_b + n_b * 1048576) * 1000) // n_b) DESC, dim
      | LIMIT 8
      |)
      |SELECT * FROM d ORDER BY dim""".stripMargin

  // -------------------------------------------------------- s_pca_power
  /** Dominant principal direction of the embedding corpus — power
    * iteration v ← G·v on the EXACT integer Gram matrix G = ΣᵥqᵥqᵥᵀV
    * (uncentered PCA; G is PSD so the iteration converges to the top
    * eigenvector): the direction dimension-reduction, whitening, and
    * ANN rotation tricks all need first. Two stages, both exact:
    * (1) G accumulates as BIGINT sums of quantized products — one
    * (vec, i)×(vec, j) self-equi-join + a 4096-group aggregation,
    * map-side combinable and MERGEABLE across shards (the sketch
    * property: at 100 TB each partition emits its partial Gram and a
    * 4096-row reduce finishes); (2) `pcaIters` matvec rounds on the
    * 4096-row G with the integer max-|·|-normalization contract
    * (divisor = max(1, max|s| div SCALE); signed values divide through
    * the sign-split CASE — truncation toward zero in BOTH engines,
    * where a bare floor-div would disagree on negatives). Matvec sums
    * accumulate in DECIMAL(38,0); the normalized vector re-enters
    * BIGINT (≤ 2·SCALE by the norm bound).
    *
    * MEASURED convergence regime: these near-isotropic synthetic
    * embeddings have a ~1.7% eigengap (top eigenvalues 13.82M vs
    * 13.59M at sf0.01), so full eigenvector alignment needs O(1/gap)
    * ≈ hundreds of rounds — out of scope for an unrolled oracle. The
    * contract is therefore "exactly `pcaIters` rounds": the Rayleigh
    * quotient rises 6.65M → 10.99M (79% of the top eigenvalue) in 3
    * rounds, which Round8Spec asserts, along with per-round
    * monotonicity — the PSD power-iteration guarantee. On a real
    * (anisotropic) corpus the same 3 rounds land far closer. */
  val pcaIters = 3

  def pcaPower: Q = (s, dir) => {
    val el = quantized(s, dir)
      .select(col("vec_id"), posexplode(col("qe")).as(Seq("i", "qi")))
      .cache() // both sides of the Gram self-join
    val g = el.toDF("vec_id", "i", "qi")
      .join(el.toDF("vec_id", "j", "qj"), Seq("vec_id"))
      .groupBy("i", "j")
      .agg(sum(expr("qi * qj")).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("gv"))
      .localCheckpoint(eager = true) // read once per round (3×)
    try {
      var v = s.range(pcaDim).toDF("j").withColumn("v", lit(pcaScale))
      for (_ <- 1 to pcaIters) {
        val r = g.join(broadcast(v), Seq("j"))
          .groupBy("i")
          .agg(sum(col("gv") * col("v")).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("sm"))
        v = r.crossJoin(broadcast(r.agg(max(abs(col("sm"))).as("mx"))))
          .select(col("i").as("j"), expr(
            "CASE WHEN sm >= 0 THEN CAST(sm AS BIGINT) div" +
              s" greatest(1, CAST(mx AS BIGINT) div $pcaScale)" +
              " ELSE -((CAST(-sm AS BIGINT)) div" +
              s" greatest(1, CAST(mx AS BIGINT) div $pcaScale)) END").as("v"))
      }
      v.select(col("j").cast("long").as("component"), col("v"))
        .orderBy("component")
        .localCheckpoint(eager = true) // collapse before g is freed
    } finally graft.model.PropertyGraph.freeLocalCheckpoint(g)
  }

  private val pcaDim = 64
  private val pcaScale = 1000000L

  val pcaPowerSql: String = {
    val b = new StringBuilder(
      s"""WITH q AS (
         | SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
         | FROM embeddings
         |), el AS (
         | SELECT vec_id, CAST(u.i AS INTEGER) - 1 AS i, qe[CAST(u.i AS INTEGER)] AS qi
         | FROM q, unnest(range(1, len(qe) + 1)) u(i)
         |), g AS (
         | SELECT a.i AS i, b.i AS j, CAST(sum(a.qi * b.qi) AS DECIMAL(38,0)) AS gv
         | FROM el a JOIN el b ON a.vec_id = b.vec_id GROUP BY 1, 2
         |), v0 AS (
         | SELECT CAST(r.j AS BIGINT) AS j, CAST($pcaScale AS BIGINT) AS v
         | FROM range($pcaDim) r(j)
         |)""".stripMargin)
    for (t <- 1 to pcaIters) {
      b ++= s""", r$t AS (
               | SELECT g.i, CAST(sum(g.gv * p.v) AS DECIMAL(38,0)) AS sm
               | FROM g JOIN v${t - 1} p ON p.j = g.j GROUP BY g.i
               |), v$t AS (
               | SELECT i AS j, CAST(CASE WHEN sm >= 0
               |   THEN CAST(sm AS BIGINT) // greatest(1,
               |     (SELECT CAST(max(abs(sm)) AS BIGINT) FROM r$t) // $pcaScale)
               |   ELSE -((CAST(-sm AS BIGINT)) // greatest(1,
               |     (SELECT CAST(max(abs(sm)) AS BIGINT) FROM r$t) // $pcaScale))
               |  END AS BIGINT) AS v
               | FROM r$t
               |)""".stripMargin
    }
    b ++= s"\nSELECT j AS component, v FROM v$pcaIters ORDER BY component"
    b.toString
  }

  // -------------------------------------------------------- s_ndcg_eval
  /** NDCG@k of the 1-bit Hamming ranking against the exact-cosine
    * ranking — the graded-relevance eval the recall tables
    * (s_quant_eval / s_ann_recall) can't express: recall treats rank 1
    * == rank k, NDCG discounts by position. Relevance of a candidate =
    * k+1 − its EXACT rank (5..1, 0 if outside the exact top-k); system
    * order = s_binary_quant's top-k. ENTIRELY integer: the 1/log₂(i+1)
    * position discounts are k generated micro-unit literals (the
    * q_hll_distinct table discipline — no cross-engine log), DCG is an
    * exact BIGINT micro sum, IDCG a compile-time constant, and
    * ndcg_ppm one integer division. Per probe one row; composes two
    * already-oracle-checked chains. */
  private val ndcgDiscMicro: IndexedSeq[Long] = // round(1e6 / log2(i+1))
    (1 to annK).map(i => math.round(1000000.0 / (math.log(i + 1) / math.log(2))))

  private val ndcgIdcgMicro: Long = // perfect ranking: rel 5..1 in order
    (1 to annK).map(i => (annK + 1 - i).toLong * ndcgDiscMicro(i - 1)).sum

  def ndcgEval: Q = (s, dir) => {
    val sys = binaryQuant(s, dir)
      .filter(col("rn") <= annK).select(col("probe_id"), col("rn"), col("cand_id"))
    val ex = annTopk(s, dir)
      .select(col("probe_id"), col("cand_id"), col("rn").as("ex_rn"))
    val discCase = "CASE rn " + (1 to annK)
      .map(i => s"WHEN $i THEN ${ndcgDiscMicro(i - 1)}L").mkString(" ") + " END"
    sys.join(ex, Seq("probe_id", "cand_id"), "left_outer")
      .select(col("probe_id"),
        (coalesce(lit(annK + 1) - col("ex_rn"), lit(0L)) *
          expr(discCase)).as("gain_micro"))
      .groupBy("probe_id")
      .agg(sum("gain_micro").as("dcg_micro"))
      .select(col("probe_id"), col("dcg_micro"),
        lit(ndcgIdcgMicro).as("idcg_micro"),
        expr(s"(dcg_micro * 1000000) div $ndcgIdcgMicro").as("ndcg_ppm"))
      .orderBy("probe_id")
  }

  val ndcgEvalSql: String = {
    val discCase = "CASE s.rn " + (1 to annK)
      .map(i => s"WHEN $i THEN ${ndcgDiscMicro(i - 1)}").mkString(" ") + " END"
    s"""WITH sys0 AS (
       |$binaryQuantSql
       |), ex0 AS (
       |$annTopkSql
       |), gains AS (
       | SELECT s.probe_id,
       |  COALESCE(${annK + 1} - e.rn, 0) * ($discCase) AS gain_micro
       | FROM sys0 s LEFT JOIN ex0 e
       |   ON e.probe_id = s.probe_id AND e.cand_id = s.cand_id
       | WHERE s.rn <= $annK
       |)
       |SELECT probe_id, CAST(sum(gain_micro) AS BIGINT) AS dcg_micro,
       | CAST($ndcgIdcgMicro AS BIGINT) AS idcg_micro,
       | CAST((sum(gain_micro) * 1000000) // $ndcgIdcgMicro AS BIGINT) AS ndcg_ppm
       |FROM gains GROUP BY probe_id ORDER BY probe_id""".stripMargin
  }

  // ------------------------------------------------------------ registry
  // ----------------------------------------------------------- s_graph_ann
  /** GRAPH-BASED ANN — beam search over a kNN graph, the index family
    * the serving stack was missing next to LSH (s_ann_topk_lsh), IVF
    * (s_ann_ivf/multiprobe) and PQ (s_ann_pq): the navigable-small-
    * world idea under HNSW (Malkov–Yashunin 2018), base layer only,
    * made deterministic so a DuckDB oracle can replay it exactly.
    *
    * INDEX: each vector keeps its top-`gK` neighbors by the repo's
    * exact integer score, with candidates from the SESSION-SHARED LSH
    * band table — exactly how NN-descent-style distributed graph
    * builds seed their neighbor lists (LSH buckets bound the pair
    * generation; never all-pairs). The neighbor argmax is one window
    * over the banded pair set; the adjacency is a cached session memo
    * like the band table itself.
    *
    * SEARCH: from a single global entry point (min vec_id — a 1-row
    * broadcast aggregate, the planner-scalar idiom), `gHops` rounds of
    * beam expansion: score the beam's out-neighbors against the probe
    * (one nbr-keyed equi-join per hop — the adjacency partitions by
    * node id at 100 TB and each hop touches ≤ probes × beam × gK
    * rows), fold into the walked set, keep the top-`gBeam`. Output =
    * top-`annK` of the walked closure, self excluded. Fixed hops keep
    * the unrolled oracle exact; the walk legitimately passes THROUGH
    * the probe's own corpus copy (its out-edges are the best
    * expansion), it just can't be reported. Recall vs the exact
    * baseline is measured in Round9Spec alongside a full in-memory
    * replay of build + search. */
  val gK = 4     // kNN-graph out-degree
  val gBeam = 4  // beam width
  val gHops = 3  // fixed search depth (oracle-exact)

  /** Banded candidate pairs with the exact integer score — the shared
    * edge-generation stage of the flat NSW adjacency AND the HNSW
    * layer adjacencies (LSH buckets bound pair generation; never
    * all-pairs). */
  private def bandedScoredPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = lshBands(s, dir)
    val pairs = bands.toDF("a", "band", "sig")
      .join(bands.toDF("b", "band", "sig"), Seq("band", "sig"))
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    val q = quantized(s, dir)
    pairs
      .join(q.toDF("a", "qa"), "a")
      .join(quantizedWithNorm(s, dir).toDF("b", "qb", "nb"), "b")
      .select(col("a"), col("b"), dot(col("qa"), col("qb")).as("dp"), col("nb"))
      .select(col("a"), col("b"), expr(scoreExpr).as("score"))
  }

  /** The kNN-graph adjacency `(node, nbr)`: a cached session memo read
    * by s_graph_ann, s_hnsw's base layer and s_beam_curve. */
  private val gAdjMemo = new SessionMemo[DataFrame]

  private[graft] def graphAnnAdj(s: SparkSession, dir: String): DataFrame =
    gAdjMemo(s, dir) {
      val w = Window.partitionBy("a").orderBy(col("score").desc, col("b"))
      bandedScoredPairs(s, dir).withColumn("rn", row_number().over(w))
        .filter(col("rn") <= gK)
        .select(col("a").as("node"), col("b").as("nbr"))
        .cache()
    }

  def graphAnn: Q = (s, dir) => {
    val probes = broadcast(quantized(s, dir)
      .filter(col("vec_id") < 10).toDF("probe_id", "qp"))
    val cands = quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb")
    val adj = graphAnnAdj(s, dir)
    val entry = cands.agg(min(col("cand_id")).as("cand_id")) // 1-row scalar
    def score(frame: DataFrame): DataFrame = frame
      .join(cands, "cand_id").join(probes, "probe_id")
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"), expr(scoreExpr).as("score"))
    var walked = score(probes.select("probe_id").crossJoin(entry))
    for (_ <- 1 to gHops) {
      val beam = walked
        .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
          .orderBy(col("score").desc, col("cand_id"))))
        .filter(col("rn") <= gBeam)
        .select(col("probe_id"), col("cand_id").as("node"))
      val expand = beam.join(adj, "node")
        .select(col("probe_id"), col("nbr").as("cand_id")).distinct()
      // same-pair rescores are equal by construction — max is a dedup
      walked = walked.union(score(expand))
        .groupBy("probe_id", "cand_id").agg(max("score").as("score"))
    }
    walked.filter(col("cand_id") =!= col("probe_id"))
      .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("score").desc, col("cand_id"))))
      .filter(col("rn") <= annK)
      .select("probe_id", "rn", "cand_id", "score")
      .orderBy("probe_id", "rn")
  }

  val graphAnnSql: String = {
    def sc(p: String, c: String): String =
      s"""CASE WHEN CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) >= 0
         |   THEN (CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * 1000)
         |        // CAST(list_dot_product($c.qe, $c.qe) AS BIGINT)
         |   ELSE -((CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * 1000)
         |        // CAST(list_dot_product($c.qe, $c.qe) AS BIGINT))
         |  END""".stripMargin
    // one hop: walked w_{i} -> beam -> expand via adj -> walked w_{i+1}
    def hop(prev: String, next: String): String =
      s"""b$next AS (
         | SELECT probe_id, cand_id FROM (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
         |  FROM $prev) WHERE rn <= $gBeam
         |), e$next AS (
         | SELECT DISTINCT b.probe_id, adj.nbr AS cand_id
         | FROM b$next b JOIN adj ON adj.node = b.cand_id
         |), $next AS (
         | SELECT probe_id, cand_id, max(score) AS score FROM (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT e.probe_id, e.cand_id, ${sc("p", "c")} AS score
         |  FROM e$next e JOIN probes p ON p.probe_id = e.probe_id
         |               JOIN q c ON c.vec_id = e.cand_id
         | ) GROUP BY probe_id, cand_id
         |)""".stripMargin
    s"""WITH $lshBandsSqlCte, pairs AS (
       | SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
       | FROM bk a JOIN bk b ON b.band = a.band AND b.sig = a.sig
       |  AND b.vec_id <> a.vec_id
       |), adjscore AS (
       | SELECT pr.a, pr.b, ${sc("pa", "pb")} AS score
       | FROM pairs pr JOIN q pa ON pa.vec_id = pr.a
       |               JOIN q pb ON pb.vec_id = pr.b
       |), adj AS (
       | SELECT a AS node, b AS nbr FROM (
       |  SELECT a, b, row_number() OVER (
       |    PARTITION BY a ORDER BY score DESC, b) AS rn
       |  FROM adjscore) WHERE rn <= $gK
       |), probes AS (
       | SELECT vec_id AS probe_id, qe FROM q WHERE vec_id < 10
       |), entry AS (SELECT min(vec_id) AS e FROM q),
       |w0 AS (
       | SELECT p.probe_id, c.vec_id AS cand_id, ${sc("p", "c")} AS score
       | FROM probes p, entry JOIN q c ON c.vec_id = entry.e
       |),
       |${hop("w0", "w1")},
       |${hop("w1", "w2")},
       |${hop("w2", "w3")}
       |SELECT probe_id, rn, cand_id, score FROM (
       | SELECT probe_id, cand_id, score, row_number() OVER (
       |   PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       | FROM w3 WHERE cand_id <> probe_id
       |) WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin
  }

  // ---------------------------------------------------------------- s_hnsw
  /** HIERARCHICAL NSW — the coarse-to-fine descent s_graph_ann was
    * missing (Malkov–Yashunin 2018 §4, the piece that makes a graph
    * index log-navigable at 10⁹ vectors): nodes draw a GEOMETRIC level
    * (P[lvl ≥ L] = 4⁻ᴸ), upper layers are sparse subgraphs over the
    * level-≥L nodes, and a query GREEDILY descends — entering at the
    * top layer's fixed entry point, taking `hLevHops` best-neighbor
    * steps per layer — so the base-layer beam starts near the answer
    * instead of at a global entry. Derandomized like everything here:
    * the level is md5-geometric (h%4ᴸ == 0 — nested by construction,
    * the deterministic analogue of ⌊−ln U/ln M⌋), so the DuckDB oracle
    * replays the exact hierarchy. Layer adjacencies reuse the SAME
    * LSH-banded scored pairs as the base graph, restricted to layer
    * members — pair generation stays bucket-bounded at every level.
    * The base beam is seeded by the descent result AND the flat walk's
    * global entry, so the hierarchy ADDS navigation without ever
    * discarding the flat op's seed; recall vs flat NSW is adjudicated
    * by s_hnsw_recall. At 100 TB the upper layers are ~n/4, n/16 …
    * rows — index metadata co-partitioned with the base adjacency. */
  val hLevHops = 2 // greedy best-neighbor steps per upper layer

  /** Deterministic geometric level per vector: 2 if h%16==0, 1 if
    * h%4==0, else 0 (nested: %16 ⇒ %4). */
  private def hnswLevels(s: SparkSession, dir: String): DataFrame =
    quantized(s, dir).select(col("vec_id"),
        graft.functions.VectorExprs.hexSlice(
          md5(concat(lit("hnsw|"), col("vec_id").cast("string"))), 1, 8)
          .as("h"))
      .select(col("vec_id"),
        when(col("h") % 16 === 0, 2L).when(col("h") % 4 === 0, 1L)
          .otherwise(0L).as("lvl"))

  /** Layer-L adjacency: top-gK banded candidates among level-≥L nodes
    * (both endpoints in the layer). A cached session memo per layer. */
  private val hAdjMemo = new SessionMemo[DataFrame]

  private def hnswAdj(s: SparkSession, dir: String, minLvl: Int): DataFrame =
    hAdjMemo(s, s"$dir#$minLvl") {
      val members = hnswLevels(s, dir).filter(col("lvl") >= minLvl)
        .select("vec_id")
      val w = Window.partitionBy("a").orderBy(col("score").desc, col("b"))
      bandedScoredPairs(s, dir)
        .join(members.toDF("a"), Seq("a"), "left_semi")
        .join(members.toDF("b"), Seq("b"), "left_semi")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= gK)
        .select(col("a").as("node"), col("b").as("nbr"))
        .cache()
    }

  /** The final 50-row result is session-memoized as one eager
    * localCheckpoint (the jaccardPairs pattern): the descent + beam
    * composition below references its own intermediates repeatedly —
    * left lazy, each beam round re-executed the whole greedy prefix
    * (measured 38 s at sf0.1; collapsed, the walk costs what the flat
    * NSW walk costs) — and s_hnsw_recall reads the same memo instead
    * of re-walking. */
  private val hnswMemo = new SessionMemo[DataFrame]

  def hnsw: Q = (s, dir) =>
    // hnswBuild's return is already the eager checkpoint
    hnswMemo(s, dir)(hnswBuild(s, dir))

  private def hnswBuild(s: SparkSession, dir: String): DataFrame = {
    val probes = broadcast(quantized(s, dir)
      .filter(col("vec_id") < 10).toDF("probe_id", "qp"))
    val cands = quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb")
    def score(frame: DataFrame): DataFrame = frame
      .join(cands, "cand_id").join(probes, "probe_id")
      .select(col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("probe_id"), col("cand_id"), expr(scoreExpr).as("score"))
    val levels = hnswLevels(s, dir)
    // top-of-hierarchy entry: min id in the top layer; corpus min if
    // that layer is empty (tiny-corpus guard) — a 1-row scalar
    val entry = levels.agg(coalesce(
      min(when(col("lvl") >= 2, col("vec_id"))),
      min(col("vec_id"))).as("cand_id"))
    // every intermediate below is ≤ probes rows (greedy) or ≤ probes ×
    // walked-closure rows (beam) and is referenced TWICE by the next
    // round — eager-checkpoint each one so the composition stays
    // linear, and free the blocks once the memoized result collapses
    // the chain (the nationBfs discipline). (r15: lazy pins were
    // measured 4.7 → 6.8 s here — the next round's broadcast-build
    // racers recompute a lazy pin; eager stays.)
    graft.model.PropertyGraph.withCheckpoints { ck =>
      def pin(df: DataFrame): DataFrame =
        ck.own(df.localCheckpoint(eager = true))
      // greedy = beam width 1: keep only the best-so-far each hop (it
      // rides the union, so the walk is monotone in score)
      def greedy(start: DataFrame, adj: DataFrame): DataFrame = {
        var cur = start
        for (_ <- 1 to hLevHops) {
          val expand = cur.select(col("probe_id"), col("cand_id").as("node"))
            .join(adj, "node")
            .select(col("probe_id"), col("nbr").as("cand_id")).distinct()
          cur = pin(cur.union(score(expand))
            .groupBy("probe_id", "cand_id").agg(max("score").as("score"))
            .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
              .orderBy(col("score").desc, col("cand_id"))))
            .filter(col("rn") <= 1)
            .select("probe_id", "cand_id", "score"))
        }
        cur
      }
      val seed2 = greedy(pin(score(probes.select("probe_id").crossJoin(entry))),
        hnswAdj(s, dir, 2))
      val seed1 = greedy(seed2, hnswAdj(s, dir, 1))
      // base layer: the s_graph_ann beam, seeded by the descent result
      // PLUS the flat global entry (the hierarchy never loses the flat
      // seed)
      val flatEntry = cands.agg(min(col("cand_id")).as("cand_id"))
      var walked = pin(seed1
        .union(score(probes.select("probe_id").crossJoin(flatEntry)))
        .groupBy("probe_id", "cand_id").agg(max("score").as("score")))
      val adj0 = graphAnnAdj(s, dir)
      for (_ <- 1 to gHops) {
        val beam = walked
          .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
            .orderBy(col("score").desc, col("cand_id"))))
          .filter(col("rn") <= gBeam)
          .select(col("probe_id"), col("cand_id").as("node"))
        val expand = beam.join(adj0, "node")
          .select(col("probe_id"), col("nbr").as("cand_id")).distinct()
        walked = pin(walked.union(score(expand))
          .groupBy("probe_id", "cand_id").agg(max("score").as("score")))
      }
      walked.filter(col("cand_id") =!= col("probe_id"))
        .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
          .orderBy(col("score").desc, col("cand_id"))))
        .filter(col("rn") <= annK)
        .select("probe_id", "rn", "cand_id", "score")
        .orderBy("probe_id", "rn")
        // materialize before the scope frees the per-step blocks
        .localCheckpoint(eager = true)
    }
  }

  val hnswSql: String = {
    def sc(p: String, c: String): String =
      s"""CASE WHEN CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) >= 0
         |   THEN (CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * 1000)
         |        // CAST(list_dot_product($c.qe, $c.qe) AS BIGINT)
         |   ELSE -((CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * 1000)
         |        // CAST(list_dot_product($c.qe, $c.qe) AS BIGINT))
         |  END""".stripMargin
    val h8 = OracleSql.hexToLong("md5('hnsw|' || CAST(vec_id AS VARCHAR))", 1, 8)
    def layerAdj(name: String, lv: Int): String =
      s"""$name AS (
         | SELECT a AS node, b AS nbr FROM (
         |  SELECT a, b, row_number() OVER (
         |    PARTITION BY a ORDER BY score DESC, b) AS rn
         |  FROM adjscore
         |  WHERE a IN (SELECT vec_id FROM lvl WHERE lvl >= $lv)
         |    AND b IN (SELECT vec_id FROM lvl WHERE lvl >= $lv)
         | ) WHERE rn <= $gK
         |)""".stripMargin
    // one greedy step: best-so-far ∪ scored out-neighbors, keep rank 1
    def ghop(prev: String, next: String, adj: String): String =
      s"""$next AS (
         | SELECT probe_id, cand_id, score FROM (
         |  SELECT probe_id, cand_id, score, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
         |  FROM (
         |   SELECT probe_id, cand_id, score FROM $prev
         |   UNION ALL
         |   SELECT g.probe_id, a.nbr AS cand_id, ${sc("p", "c")} AS score
         |   FROM $prev g JOIN $adj a ON a.node = g.cand_id
         |    JOIN probes p ON p.probe_id = g.probe_id
         |    JOIN q c ON c.vec_id = a.nbr
         |  )
         | ) WHERE rn = 1
         |)""".stripMargin
    // one base-layer beam hop (the s_graph_ann hop shape)
    def hop(prev: String, next: String): String =
      s"""b$next AS (
         | SELECT probe_id, cand_id FROM (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
         |  FROM $prev) WHERE rn <= $gBeam
         |), e$next AS (
         | SELECT DISTINCT b.probe_id, adj.nbr AS cand_id
         | FROM b$next b JOIN adj ON adj.node = b.cand_id
         |), $next AS (
         | SELECT probe_id, cand_id, max(score) AS score FROM (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT e.probe_id, e.cand_id, ${sc("p", "c")} AS score
         |  FROM e$next e JOIN probes p ON p.probe_id = e.probe_id
         |               JOIN q c ON c.vec_id = e.cand_id
         | ) GROUP BY probe_id, cand_id
         |)""".stripMargin
    s"""WITH $lshBandsSqlCte, pairs AS (
       | SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
       | FROM bk a JOIN bk b ON b.band = a.band AND b.sig = a.sig
       |  AND b.vec_id <> a.vec_id
       |), adjscore AS (
       | SELECT pr.a, pr.b, ${sc("pa", "pb")} AS score
       | FROM pairs pr JOIN q pa ON pa.vec_id = pr.a
       |               JOIN q pb ON pb.vec_id = pr.b
       |), lvl AS (
       | SELECT vec_id,
       |  CASE WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
       | FROM (SELECT vec_id, CAST($h8 AS BIGINT) AS h FROM q)
       |), adj AS (
       | SELECT a AS node, b AS nbr FROM (
       |  SELECT a, b, row_number() OVER (
       |    PARTITION BY a ORDER BY score DESC, b) AS rn
       |  FROM adjscore) WHERE rn <= $gK
       |),
       |${layerAdj("adj2", 2)},
       |${layerAdj("adj1", 1)},
       |probes AS (
       | SELECT vec_id AS probe_id, qe FROM q WHERE vec_id < 10
       |), hentry AS (
       | SELECT coalesce(min(CASE WHEN lvl >= 2 THEN vec_id END),
       |   min(vec_id)) AS e
       | FROM lvl
       |), fentry AS (SELECT min(vec_id) AS e FROM q),
       |g20 AS (
       | SELECT p.probe_id, c.vec_id AS cand_id, ${sc("p", "c")} AS score
       | FROM probes p, hentry JOIN q c ON c.vec_id = hentry.e
       |),
       |${ghop("g20", "g21", "adj2")},
       |${ghop("g21", "g22", "adj2")},
       |${ghop("g22", "g11", "adj1")},
       |${ghop("g11", "g12", "adj1")},
       |w0 AS (
       | SELECT probe_id, cand_id, max(score) AS score FROM (
       |  SELECT probe_id, cand_id, score FROM g12
       |  UNION ALL
       |  SELECT p.probe_id, c.vec_id AS cand_id, ${sc("p", "c")} AS score
       |  FROM probes p, fentry JOIN q c ON c.vec_id = fentry.e
       | ) GROUP BY probe_id, cand_id
       |),
       |${hop("w0", "w1")},
       |${hop("w1", "w2")},
       |${hop("w2", "w3")}
       |SELECT probe_id, rn, cand_id, score FROM (
       | SELECT probe_id, cand_id, score, row_number() OVER (
       |   PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       | FROM w3 WHERE cand_id <> probe_id
       |) WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin
  }

  // --------------------------------------------------------- s_hnsw_recall
  /** HNSW vs flat-NSW adjudication — the descent's VALUE as a table:
    * per probe, |exact top-k ∩ flat NSW| next to |exact top-k ∩ HNSW|
    * (left-semi set intersections, the s_ann_recall pattern). Because
    * the HNSW base beam keeps the flat seed and adds the descent seed,
    * hits_hnsw ≥ hits_nsw is the expected reading; this table is what
    * makes that a measured claim instead of an assumption. Composes
    * three oracle-checked pipelines over the shared cached adjacency. */
  def hnswRecall: Q = (s, dir) => {
    val ex = annTopk(s, dir).select(col("probe_id"), col("cand_id"))
    val nsw = graphAnn(s, dir).select(col("probe_id"), col("cand_id"))
    val hn = hnsw(s, dir).select(col("probe_id"), col("cand_id"))
    val hitNsw = ex.join(nsw, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("hits_nsw"))
    val hitHnsw = ex.join(hn, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("hits_hnsw"))
    ex.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
      .join(hitNsw, Seq("probe_id"), "left_outer")
      .join(hitHnsw, Seq("probe_id"), "left_outer")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("hits_nsw"), lit(0L)).as("hits_nsw"),
        coalesce(col("hits_hnsw"), lit(0L)).as("hits_hnsw"))
      .orderBy("probe_id")
  }

  val hnswRecallSql: String =
    s"""WITH exh AS (
       |$annTopkSql
       |), nsw0 AS (
       |$graphAnnSql
       |), hn0 AS (
       |$hnswSql
       |)
       |SELECT e.probe_id, count(*) AS n_exact,
       | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM nsw0 n
       |   WHERE n.probe_id = e.probe_id AND n.cand_id = e.cand_id)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS hits_nsw,
       | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM hn0 h
       |   WHERE h.probe_id = e.probe_id AND h.cand_id = e.cand_id)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS hits_hnsw
       |FROM exh e GROUP BY e.probe_id
       |ORDER BY probe_id""".stripMargin

  // ------------------------------------------------- s_centroid_balance
  /** IVF CELL-BALANCE AUDIT — the partition-skew table an ANN operator
    * reads before shipping an index: per cell its population and
    * corpus share in exact ppm, plus the global max-over-mean
    * imbalance ratio. At 10⁹ vectors IVF cells ARE the storage
    * partitions — a hot cell is a hot partition, and nprobe multiplies
    * every read by it; this table is what says whether the centroids
    * need re-seeding (read beside s_kmeanspp_seed). One partial-agged
    * groupBy over the session-cached assignment + a 1-row broadcast. */
  def centroidBalance: Q = (s, dir) => {
    val sizes = ivfAssign(s, dir).groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"))
    val tot = sizes.agg(sum("n_vecs").as("total"),
      max("n_vecs").as("mx"), count(lit(1)).as("k_cells"))
    sizes.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        expr("(n_vecs * 1000000) div total").as("share_ppm"),
        expr("(mx * k_cells * 1000000) div total").as("imbalance_ppm"))
      .orderBy("cid")
  }

  val centroidBalanceSql: String = {
    val score = "CASE WHEN dp >= 0 THEN (dp * dp * 1000) // nb" +
      " ELSE -((dp * dp * 1000) // nb) END"
    s"""WITH q AS (
       | SELECT vec_id, list_transform(embedding,
       |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
       | FROM embeddings
       |), cents AS (
       | SELECT vec_id AS cid, qe AS qc FROM q WHERE vec_id < $ivfK
       |), asg0 AS (
       | SELECT v.vec_id, c.cid,
       |  CAST(list_dot_product(v.qe, c.qc) AS BIGINT) AS dp,
       |  CAST(list_dot_product(c.qc, c.qc) AS BIGINT) AS nb
       | FROM q v, cents c
       |), asg1 AS (
       | SELECT vec_id, cid, row_number() OVER (
       |   PARTITION BY vec_id ORDER BY $score DESC, cid) AS rn
       | FROM asg0
       |), sizes AS (
       | SELECT cid, count(*) AS n_vecs FROM asg1 WHERE rn = 1 GROUP BY 1
       |), tot AS (
       | SELECT CAST(sum(n_vecs) AS BIGINT) AS total, max(n_vecs) AS mx,
       |  count(*) AS k_cells
       | FROM sizes
       |)
       |SELECT s.cid, s.n_vecs,
       | CAST((s.n_vecs * 1000000) // t.total AS BIGINT) AS share_ppm,
       | CAST((t.mx * t.k_cells * 1000000) // t.total AS BIGINT)
       |  AS imbalance_ppm
       |FROM sizes s, tot t ORDER BY s.cid""".stripMargin
  }

  // ----------------------------------------------------------- s_beam_curve
  /** BEAM-WIDTH (ef-search) RECALL CURVE — the graph index's serving
    * knob priced, completing the knob-curve family (s_ivf_probe_curve
    * prices nprobe, s_dim_truncate_eval prices dimensions,
    * d_lsh_tuning prices bands): the SAME flat NSW walk at beam
    * 2 / 4 / 8, each walk's top-k intersected with the exact baseline
    * — one (beam, n_exact, hits) row per setting, the table that says
    * what another millisecond of beam actually buys. r12: the three
    * walks COLLAPSED into one config-column walk (the d_lsh_tuning
    * single-explode discipline) — `beam` rides every frame, the
    * frontier is a per-(beam, probe) rank filtered by the column
    * (rn ≤ beam), and all three configs share each round's scoring
    * join and checkpoint instead of paying 3 × gHops pinned rounds;
    * since beam-2/4/8 frontiers share their expansion prefix, the
    * per-round frame is far smaller than 3 disjoint walks. Walk
    * intermediates ride the s_hnsw pin discipline (each frame is
    * referenced twice by the next round; lazy, the chain re-executes
    * its prefix per round). */
  val beamSweep = Seq(2, 4, 8)

  /** One flat-NSW walk carrying every beamSweep config in a `beam`
    * column; returns (beam, probe_id, cand_id) — each config's final
    * top-annK, identical rows to a per-config walk at that width. */
  private def nswWalkAllBeams(s: SparkSession, dir: String): DataFrame = {
    val probes = broadcast(quantized(s, dir)
      .filter(col("vec_id") < 10).toDF("probe_id", "qp"))
    val cands = quantizedWithNorm(s, dir).toDF("cand_id", "qc", "nb")
    val adj = graphAnnAdj(s, dir)
    val entry = cands.agg(min(col("cand_id")).as("cand_id"))
    // score() preserves the beam column: frames are (beam, probe_id,
    // cand_id) and the rescore is identical across configs by
    // construction (same probe, same candidate)
    def score(frame: DataFrame): DataFrame = frame
      .join(cands, "cand_id").join(probes, "probe_id")
      .select(col("beam"), col("probe_id"), col("cand_id"),
        dot(col("qp"), col("qc")).as("dp"), col("nb"))
      .select(col("beam"), col("probe_id"), col("cand_id"),
        expr(scoreExpr).as("score"))
    graft.model.PropertyGraph.withCheckpoints { ck =>
      def pin(df: DataFrame): DataFrame =
        ck.own(df.localCheckpoint(eager = true))
      // seed: probes × configs via explode (never a multi-row join)
      val seed = probes.select(col("probe_id"),
          explode(array(beamSweep.map(b => lit(b.toLong)): _*)).as("beam"))
        .crossJoin(entry) // 1-row scalar
      var walked = pin(score(seed))
      val wBeam = Window.partitionBy("beam", "probe_id")
        .orderBy(col("score").desc, col("cand_id"))
      for (_ <- 1 to gHops) {
        val front = walked
          .withColumn("rn", row_number().over(wBeam))
          .filter(col("rn") <= col("beam"))
          .select(col("beam"), col("probe_id"), col("cand_id").as("node"))
        val expand = front.join(adj, "node")
          .select(col("beam"), col("probe_id"), col("nbr").as("cand_id"))
          .distinct()
        walked = pin(walked.union(score(expand))
          .groupBy("beam", "probe_id", "cand_id")
          .agg(max("score").as("score")))
      }
      walked.filter(col("cand_id") =!= col("probe_id"))
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= annK)
        .select("beam", "probe_id", "cand_id")
        .localCheckpoint(eager = true)
    }
  }

  def beamCurve: Q = (s, dir) => {
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val ex = ck.own(annTopk(s, dir).select(col("probe_id"), col("cand_id"))
        .localCheckpoint(eager = true))
      val walk = ck.own(nswWalkAllBeams(s, dir))
      val hits = walk
        .join(ex, Seq("probe_id", "cand_id"), "left_semi")
        .groupBy("beam").agg(count(lit(1)).as("hits"))
      // left join from the config spine: a beam whose walk missed the
      // exact set entirely still emits its row (hits = 0). `hits` has at
      // most one row per beam and is broadcast from the plan's start: as
      // a sort-merge join, AQE's re-plan to a broadcast raced the
      // spine's shuffle and the job count varied between calls
      ex.sparkSession.range(0, 1)
        .select(explode(array(beamSweep.map(b => lit(b.toLong)): _*))
          .as("beam"))
        .crossJoin(ex.agg(count(lit(1)).as("n_exact"))) // 1-row scalar
        .join(PropertyGraph.gated(hits, beamSweep.size), Seq("beam"),
          "left_outer")
        .select(col("beam"), col("n_exact"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .orderBy("beam")
        .localCheckpoint(eager = true) // materialize before the scope frees
    }
  }

  val beamCurveSql: String = {
    def sc(p: String, c: String): String =
      s"""CASE WHEN CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) >= 0
         |   THEN (CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * 1000)
         |        // CAST(list_dot_product($c.qe, $c.qe) AS BIGINT)
         |   ELSE -((CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * CAST(list_dot_product($p.qe, $c.qe) AS BIGINT) * 1000)
         |        // CAST(list_dot_product($c.qe, $c.qe) AS BIGINT))
         |  END""".stripMargin
    def hop(prev: String, next: String, beamW: Int): String =
      s"""b$next AS (
         | SELECT probe_id, cand_id FROM (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
         |  FROM $prev) WHERE rn <= $beamW
         |), e$next AS (
         | SELECT DISTINCT b.probe_id, adj.nbr AS cand_id
         | FROM b$next b JOIN adj ON adj.node = b.cand_id
         |), $next AS (
         | SELECT probe_id, cand_id, max(score) AS score FROM (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT e.probe_id, e.cand_id, ${sc("p", "c")} AS score
         |  FROM e$next e JOIN probes p ON p.probe_id = e.probe_id
         |               JOIN q c ON c.vec_id = e.cand_id
         | ) GROUP BY probe_id, cand_id
         |)""".stripMargin
    def walk(prefix: String, beamW: Int): String =
      s"""${prefix}w0 AS (
         | SELECT p.probe_id, c.vec_id AS cand_id, ${sc("p", "c")} AS score
         | FROM probes p, entry JOIN q c ON c.vec_id = entry.e
         |),
         |${hop(s"${prefix}w0", s"${prefix}w1", beamW)},
         |${hop(s"${prefix}w1", s"${prefix}w2", beamW)},
         |${hop(s"${prefix}w2", s"${prefix}w3", beamW)},
         |${prefix}top AS (
         | SELECT probe_id, cand_id FROM (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
         |  FROM ${prefix}w3 WHERE cand_id <> probe_id
         | ) WHERE rn <= $annK
         |)""".stripMargin
    val rows = beamSweep.map(b =>
      s"""SELECT CAST($b AS BIGINT) AS beam,
         | (SELECT count(*) FROM exq) AS n_exact,
         | (SELECT count(*) FROM exq e JOIN beam${b}top t
         |   ON t.probe_id = e.probe_id AND t.cand_id = e.cand_id) AS hits""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH $lshBandsSqlCte, pairs AS (
       | SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
       | FROM bk a JOIN bk b ON b.band = a.band AND b.sig = a.sig
       |  AND b.vec_id <> a.vec_id
       |), adjscore AS (
       | SELECT pr.a, pr.b, ${sc("pa", "pb")} AS score
       | FROM pairs pr JOIN q pa ON pa.vec_id = pr.a
       |               JOIN q pb ON pb.vec_id = pr.b
       |), adj AS (
       | SELECT a AS node, b AS nbr FROM (
       |  SELECT a, b, row_number() OVER (
       |    PARTITION BY a ORDER BY score DESC, b) AS rn
       |  FROM adjscore) WHERE rn <= $gK
       |), probes AS (
       | SELECT vec_id AS probe_id, qe FROM q WHERE vec_id < 10
       |), entry AS (SELECT min(vec_id) AS e FROM q),
       |exq AS (
       | -- the exact brute baseline inlined against the SHARED q CTE
       | -- (nesting annTopkSql would redefine q — DuckDB rejects the
       | -- duplicate alias); same expression, identical values
       | SELECT probe_id, cand_id FROM (
       |  SELECT probe_id, cand_id, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
       |  FROM (
       |   SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |    ${sc("p", "c")} AS score
       |   FROM q p, q c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
       |  )
       | ) WHERE rn <= $annK
       |),
       |${beamSweep.map(b => walk(s"beam$b", b)).mkString(",\n")}
       |SELECT beam, n_exact, hits FROM (
       |$rows
       |) ORDER BY beam""".stripMargin
  }

  // -------------------------------------------------------- s_kmeanspp_seed
  /** DETERMINISTIC k-means seeding — farthest-first traversal
    * (Gonzalez 1985; the D²-greedy backbone that k-means++ randomizes,
    * made deterministic so the oracle can replay it: argmax-D² with an
    * id tiebreak instead of D²-proportional sampling — the same
    * derandomization the repo applies everywhere an RNG blocks
    * cross-engine exactness). Completes the k-means family: this op
    * picks seeds, d_kmeans_cluster runs Lloyd from fixed seeds,
    * d_kmeans_eval scores the trajectory. Each round scores the corpus
    * against the ≤k chosen-seed constants (the d_kmeans_eval O(n·k)
    * broadcast shape — linear in the corpus, never corpus²), takes the
    * per-vector min squared-L2 (exact BIGINT: ‖v‖²+‖s‖²−2v·s), and the
    * next seed is the global (d2 desc, id) argmax — one
    * TakeOrderedAndProject, no global sort. Gonzalez guarantees the
    * result is a 2-approximation to the optimal k-center cover; the
    * picked-d2 sequence is provably non-increasing (spec-asserted).
    * Output: (round, seed_id, d2 at pick time). */
  val kppK = 4

  def kmeansppSeed: Q = (s, dir) => {
    val qn = quantizedWithNorm(s, dir) // (vec_id, qe, nb)
    val s0 = qn.orderBy("vec_id").limit(1)
      .select(lit(0).as("round"), col("vec_id").as("seed_id"),
        col("qe").as("qs"), col("nb").as("snb"), lit(0L).as("d2"))
    var seeds = s0
    for (r <- 1 until kppK) {
      val d2min = qn.crossJoin(broadcast(seeds.select("qs", "snb")))
        .select(col("vec_id"),
          (col("nb") + col("snb") - lit(2) * dot(col("qe"), col("qs")))
            .as("d2"))
        .groupBy("vec_id").agg(min("d2").as("d2"))
      val pick = d2min.orderBy(col("d2").desc, col("vec_id")).limit(1)
        .join(qn, "vec_id")
        .select(lit(r).as("round"), col("vec_id").as("seed_id"),
          col("qe").as("qs"), col("nb").as("snb"), col("d2"))
      seeds = seeds.union(pick)
    }
    seeds.select("round", "seed_id", "d2").orderBy("round")
  }

  val kmeansppSeedSql: String = {
    val b = new StringBuilder(
      s"""WITH q AS (
         | SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
         | FROM embeddings
         |), qn AS (
         | SELECT vec_id, qe, CAST(list_dot_product(qe, qe) AS BIGINT) AS nb
         | FROM q
         |), c0 AS (
         | SELECT 0 AS round, vec_id AS seed_id, qe AS qs, nb AS snb,
         |  CAST(0 AS BIGINT) AS d2
         | FROM qn ORDER BY vec_id LIMIT 1
         |)""".stripMargin)
    for (r <- 1 until kppK) {
      val prev = (0 until r).map(i => s"SELECT * FROM c$i")
        .mkString(" UNION ALL ")
      b ++= s""", m$r AS (
               | SELECT v.vec_id,
               |  min(CAST(v.nb + s.snb
               |   - 2 * CAST(list_dot_product(v.qe, s.qs) AS BIGINT)
               |   AS BIGINT)) AS d2
               | FROM qn v, ($prev) s GROUP BY v.vec_id
               |), c$r AS (
               | SELECT $r AS round, m.vec_id AS seed_id, v.qe AS qs,
               |  v.snb, m.d2
               | FROM (SELECT vec_id, d2 FROM m$r
               |       ORDER BY d2 DESC, vec_id LIMIT 1) m
               | JOIN (SELECT vec_id, qe, nb AS snb FROM qn) v
               |   ON v.vec_id = m.vec_id
               |)""".stripMargin
    }
    b ++= "\n" + (0 until kppK).map(i =>
      s"SELECT round, seed_id, d2 FROM c$i").mkString(" UNION ALL ")
    b ++= "\nORDER BY round"
    b.toString
  }

  // ------------------------------------------------------ d_embed_integrity
  /** EMBEDDING-CORPUS INTEGRITY AUDIT — the referential + vector-sanity
    * gate every doc⇄vector store needs before an index build trusts it
    * (the q_dq_checks discipline applied to the multimodal side): docs
    * with no vector and orphaned vectors (two anti-joins — at 100 TB
    * both shuffle on the id, or vanish under id-bucketed storage),
    * duplicate vec_ids (an index would silently keep one), dimension
    * drift (count of distinct lengths — a 63-dim vector poisons every
    * dot product), zero-norm vectors (cosine undefined), and the
    * integer-milli² norm range (quantized exactly as the ANN family
    * scores, so "norm" here is the same number the indexes divide by).
    * One row out; every count BIGINT; norms via the codegen'd dot. */
  def embedIntegrity: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val q = quantized(s, dir)
      .withColumn("n2", graft.functions.VectorExprs.dotL(col("qe"), col("qe")))
      .select(col("vec_id"), col("n2"), size(col("qe")).as("dim"))
    val missing = docs.join(q, col("doc_id") === col("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n_docs_missing_vec"))
    val orphan = q.join(docs, col("vec_id") === col("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_vecs_orphaned"))
    val dups = q.groupBy("vec_id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(count(lit(1)).as("n_dup_vec_id"))
    val stats = q.agg(count(lit(1)).as("n_vecs"),
      countDistinct(col("dim")).as("n_dims"),
      sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
      min("n2").as("min_norm2"), max("n2").as("max_norm2"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    nd.crossJoin(stats).crossJoin(missing).crossJoin(orphan).crossJoin(dups)
      .select(col("n_docs"), col("n_vecs"), col("n_docs_missing_vec"),
        col("n_vecs_orphaned"), col("n_dup_vec_id"), col("n_dims"),
        col("n_zero_norm"), col("min_norm2"), col("max_norm2"))
  }

  val embedIntegritySql: String =
    """WITH q AS (
      | SELECT vec_id,
      |  CAST(list_dot_product(qe, qe) AS BIGINT) AS n2, len(qe) AS dim
      | FROM (SELECT vec_id, list_transform(embedding,
      |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
      |  FROM embeddings)
      |)
      |SELECT
      | (SELECT count(*) FROM documents) AS n_docs,
      | (SELECT count(*) FROM q) AS n_vecs,
      | (SELECT count(*) FROM documents d
      |   WHERE NOT EXISTS (SELECT 1 FROM q WHERE vec_id = d.doc_id))
      |   AS n_docs_missing_vec,
      | (SELECT count(*) FROM q
      |   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = vec_id))
      |   AS n_vecs_orphaned,
      | (SELECT count(*) FROM (SELECT vec_id FROM q GROUP BY 1
      |   HAVING count(*) > 1)) AS n_dup_vec_id,
      | (SELECT count(DISTINCT dim) FROM q) AS n_dims,
      | (SELECT CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |   FROM q) AS n_zero_norm,
      | (SELECT min(n2) FROM q) AS min_norm2,
      | (SELECT max(n2) FROM q) AS max_norm2""".stripMargin

  val queries: Map[String, Q] = Map(
    "d_embed_integrity" -> embedIntegrity,
    "s_graph_ann" -> graphAnn,
    "s_hnsw" -> hnsw,
    "s_hnsw_recall" -> hnswRecall,
    "s_beam_curve" -> beamCurve,
    "s_centroid_balance" -> centroidBalance,
    "s_kmeanspp_seed" -> kmeansppSeed,
    "s_ndcg_eval" -> ndcgEval,
    "s_ivf_probe_curve" -> ivfProbeCurve,
    "s_pca_power" -> pcaPower,
    "s_vector_drift" -> vectorDrift,
    "s_ann_rerank" -> annRerank,
    "s_range_search" -> rangeSearch,
    "s_range_recall" -> rangeRecall,
    "s_binary_quant" -> binaryQuant,
    "s_quant_eval" -> quantEval,
    "s_scalar_quant" -> scalarQuant,
    "s_mmr" -> mmr,
    "d_kmeans_cluster" -> kmeansCluster,
    "d_kmeans_eval" -> kmeansEval,
    "d_semdedup" -> semDedup,
    "s_ann_filtered" -> annFiltered,
    "s_ann_topk" -> annTopk,
    "s_ann_topk_lsh" -> annTopkLsh,
    "s_ann_ivf" -> annIvf,
    "s_ivf_multiprobe" -> ivfMultiprobe,
    "s_hybrid_search" -> hybridSearch,
    "s_ann_pq" -> annPq,
    "s_ivf_pq" -> ivfPq,
    "s_ivf_filtered" -> ivfFiltered,
    "s_knn_join" -> knnJoin,
    "s_ann_recall" -> annRecall,
    "s_dim_truncate_eval" -> dimTruncateEval,
    "d_dedup_embedding_lsh" -> dedupEmbeddingLsh)
  val oracleSql: Map[String, String] = Map(
    "d_embed_integrity" -> embedIntegritySql,
    "s_graph_ann" -> graphAnnSql,
    "s_hnsw" -> hnswSql,
    "s_hnsw_recall" -> hnswRecallSql,
    "s_beam_curve" -> beamCurveSql,
    "s_centroid_balance" -> centroidBalanceSql,
    "s_kmeanspp_seed" -> kmeansppSeedSql,
    "s_ndcg_eval" -> ndcgEvalSql,
    "s_ivf_probe_curve" -> ivfProbeCurveSql,
    "s_pca_power" -> pcaPowerSql,
    "s_vector_drift" -> vectorDriftSql,
    "s_ann_rerank" -> annRerankSql,
    "s_range_search" -> rangeSearchSql,
    "s_range_recall" -> rangeRecallSql,
    "s_binary_quant" -> binaryQuantSql,
    "s_quant_eval" -> quantEvalSql,
    "s_scalar_quant" -> scalarQuantSql,
    "s_mmr" -> mmrSql,
    "d_kmeans_cluster" -> kmeansClusterSql,
    "d_kmeans_eval" -> kmeansEvalSql,
    "d_semdedup" -> semDedupSql,
    "s_ann_filtered" -> annFilteredSql,
    "s_ann_topk" -> annTopkSql,
    "s_ann_topk_lsh" -> annTopkLshSql,
    "s_ann_ivf" -> annIvfSql,
    "s_ivf_multiprobe" -> ivfMultiprobeSql,
    "s_hybrid_search" -> hybridSearchSql,
    "s_ann_pq" -> annPqSql,
    "s_ivf_pq" -> ivfPqSql,
    "s_ivf_filtered" -> ivfFilteredSql,
    "s_knn_join" -> knnJoinSql,
    "s_ann_recall" -> annRecallSql,
    "s_dim_truncate_eval" -> dimTruncateEvalSql,
    "d_dedup_embedding_lsh" -> dedupEmbeddingLshSql)
}
