package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{PropertyGraph, SessionMemo, Tables}

/** Document deduplication family (SURVEY.md §2 D-block).
  *
  * Engine-parity rules (SURVEY.md §5): ALL hashing is md5 (identical hex
  * in Spark and DuckDB); similarity thresholds are integer
  * cross-multiplications (3·|∩| > |A|+|B| instead of J > 0.5) so no float
  * ever decides set membership. Everything stays in whole-stage codegen:
  * shingling via split/transform/aggregate higher-order functions, no
  * UDFs.
  *
  * Scale shape: per-doc work is linear; candidate pairs come only from
  * LSH band buckets or shared-shingle blocks — never a cross product.
  * At 100 TB the band join shuffles on the band key; skewed buckets
  * (boilerplate text) get capped per-bucket (see Similarity for the
  * probe-side variant).
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  // Sharing rule: a frame that more than one query reads is a
  // SessionMemo whose build ends in `.cache()` (signatures, the df-capped
  // shingles + sizes, the cluster pair graph, the weighted tf and
  // signature frames) or in an eager localCheckpoint (the collapsed
  // jaccard and simhash pair sets); callers read the memo and never
  // cache it again. Cache, not checkpoint, for the big frames: the ops
  // stay fast together (d_dedup_cluster after d_ngram_jaccard measured
  // 1.3 s warm vs 4.5 s when an eager checkpoint+release pass replaced
  // the shared cache). A bare `.cache()` here is for reuse inside ONE
  // query's plan (the simhash `sim`, dedupEmbedding's norms).

  // ------------------------------------------------------- d_dedup_exact
  /** Exact dedup: md5 content hash, canonical = min doc_id per hash.
    * One shuffle on the hash; at scale this is a straight hash-groupBy
    * with map-side combine. */
  def dedupExact: Q = (s, dir) => {
    val w = Window.partitionBy(col("fp"))
    docs(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("canon_id", min("doc_id").over(w))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  val dedupExactSql: String =
    """SELECT doc_id, md5(text) AS fp,
      | min(doc_id) OVER (PARTITION BY md5(text)) AS canon_id,
      | count(*) OVER (PARTITION BY md5(text)) AS cluster_size
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- d_dedup_span
  /** Sliding-SPAN exact dedup — the word-granularity form of C4's
    * duplicate-paragraph removal and the ExactSubstr policy of "Dedup-
    * licating Training Data Makes Language Models Better" (Lee et al.,
    * 2022): every 8-word sliding window is hashed, a span occurrence
    * survives only if it is the GLOBAL first occurrence (min (doc_id,
    * pos)) of its hash; every later occurrence is "removed". Per doc:
    * span counts, duplicated-span count, removed count and removed_ppm
    * — the numbers a span-level dedup filter reads. Exact doc
    * duplicates show up as docs whose every span is removed.
    *
    * Scale: the occurrence frame is ~token-count-sized; first-occurrence
    * + multiplicity are two window functions over ONE hash exchange
    * (count needs no order, row_number sorts (doc_id, pos) — same
    * Exchange, one Sort), then a map-side-combinable per-doc re-agg.
    * Boilerplate spans (licence headers) are the skewed keys — AQE /
    * salting territory, same as the band buckets above. The suffix-array
    * construction the paper uses is the single-machine contrast; the
    * rolling-window hash form is the one that distributes. */
  private val spanW = 8

  /** Span occurrences marked with corpus-wide multiplicity (`cnt`) and
    * first-occurrence rank (`rn` over (doc_id, pos)) — the shared stage
    * of d_dedup_span (stats) and d_dedup_span_rewrite (actual token
    * removal). Both window functions ride ONE hash exchange
    * (plan-audited). */
  private def spanMarked(s: SparkSession, dir: String): DataFrame = {
    val words = col("words")
    val spans = when(size(words) >= spanW,
      transform(sequence(lit(1), size(words) - (spanW - 1)),
        i => struct(i.as("pos"),
          md5(concat_ws(" ", slice(words, i, lit(spanW)))).as("h"))))
      .otherwise(expr("cast(array() as array<struct<pos:int,h:string>>)"))
    val occ = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(spans).as("sp"))
      .select(col("doc_id"), col("sp.pos").as("pos"), col("sp.h").as("h"))
    val byH = Window.partitionBy("h")
    occ
      .withColumn("cnt", count(lit(1)).over(byH))
      .withColumn("rn",
        row_number().over(byH.orderBy("doc_id", "pos")))
  }

  def dedupSpan: Q = (s, dir) => {
    val perDoc = spanMarked(s, dir).groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
      sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_removed"))
    docs(s, dir).select("doc_id").join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .withColumn("removed_ppm",
        when(col("n_spans") > 0,
          expr("n_removed * 1000000 div n_spans")).otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  val dedupSpanSql: String =
    """WITH w AS (
      | SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |), occ AS (
      | SELECT doc_id, i AS pos,
      |  md5(array_to_string(words[i:i+7], ' ')) AS h
      | FROM w CROSS JOIN
      |  UNNEST(range(1, greatest(len(words) - 7, 0) + 1)) AS t(i)
      |), mk AS (
      | SELECT doc_id,
      |  count(*) OVER (PARTITION BY h) AS cnt,
      |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      | FROM occ
      |), pd AS (
      | SELECT doc_id, count(*) AS n_spans,
      |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_spans,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_removed
      | FROM mk GROUP BY 1
      |)
      |SELECT d.doc_id,
      | COALESCE(pd.n_spans, 0) AS n_spans,
      | COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
      | COALESCE(pd.n_removed, 0) AS n_removed,
      | CASE WHEN COALESCE(pd.n_spans, 0) > 0
      |  THEN CAST((pd.n_removed * 1000000) // pd.n_spans AS BIGINT)
      |  ELSE 0 END AS removed_ppm
      |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ d_dedup_span_rewrite
  /** The REWRITE stage of span dedup — not just flagging duplicated
    * spans but removing their tokens and rebuilding the text (what
    * ExactSubstr dedup actually does to a corpus; most engines stop at
    * the flag). A token survives unless it is covered by ANY removed
    * (non-first-occurrence) span; per doc we emit kept-token count and
    * the md5 of the rebuilt text — the hash crosses the engine boundary,
    * not the text, so the oracle proves byte-identical reconstruction
    * without hauling documents through the compare. Fully-duplicated
    * docs rebuild to the empty string (md5('') matches cross-engine via
    * the coalesce).
    *
    * Scale: covered positions are an 8× explode of REMOVED spans only
    * (dup-bounded, not corpus-bounded); the rebuild is one corpus-sized
    * anti-join + groupBy — the unavoidable cost of materializing a new
    * corpus — with per-doc array_sort bounded by document length.
    * Deterministic rebuild: collect_list order is salvaged by sorting
    * (tpos, word) structs, tpos unique per doc. */
  def dedupSpanRewrite: Q = (s, dir) => {
    val removed = spanMarked(s, dir).filter(col("rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (spanW - 1))).as("tpos"))
      .distinct()
    val tokens = docs(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("tpos"), col("col").as("word"))
    val kept = tokens.join(removed, Seq("doc_id", "tpos"), "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("tpos"), col("word")))),
        x => x.getField("word")), " ").as("txt"))
    docs(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("txt"), lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  val dedupSpanRewriteSql: String =
    """WITH w AS (
      | SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |), occ AS (
      | SELECT doc_id, i AS pos,
      |  md5(array_to_string(words[i:i+7], ' ')) AS h
      | FROM w CROSS JOIN
      |  UNNEST(range(1, greatest(len(words) - 7, 0) + 1)) AS t(i)
      |), mk AS (
      | SELECT doc_id, pos,
      |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      | FROM occ
      |), cov AS (
      | SELECT DISTINCT doc_id, pos + i AS tpos
      | FROM mk CROSS JOIN UNNEST(range(0, 8)) AS t(i)
      | WHERE rn > 1
      |), tok AS (
      | SELECT doc_id, i AS tpos, words[i] AS word
      | FROM w CROSS JOIN UNNEST(range(1, len(words) + 1)) AS t(i)
      |), kept AS (
      | SELECT t.doc_id, t.tpos, t.word FROM tok t
      | LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.tpos = t.tpos
      | WHERE c.doc_id IS NULL
      |), agg AS (
      | SELECT doc_id, count(*) AS n_kept,
      |  string_agg(word, ' ' ORDER BY tpos) AS txt
      | FROM kept GROUP BY 1
      |)
      |SELECT d.doc_id,
      | CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      | COALESCE(a.n_kept, 0) AS n_kept,
      | md5(COALESCE(a.txt, '')) AS kept_md5
      |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------- shingling
  /** Distinct 3-word shingles per document. Documents with < 3 words
    * emit NO shingles (guarded identically in both engines: Spark's
    * concat_ws would silently skip the null element_at results while
    * DuckDB's || nulls out — so neither side is allowed to produce a
    * partial shingle).
    *
    * Takes the WORDS ARRAY as a bound attribute, not the text: higher-
    * order-function lambdas are interpreted (CodegenFallback, no common-
    * subexpression elimination), so an inline `split(text)` would be
    * re-executed by every element_at of every shingle — O(words²) per
    * document, and the actual hot loop of round 1's 64 s minhash. The
    * caller materializes `split(text, ' ')` ONCE in a child projection
    * via `withShingles`. */
  private[graft] def shingleCol(words: Column): Column =
    when(size(words) >= 3,
      array_distinct(transform(
        sequence(lit(0), size(words) - 3),
        i => concat_ws(" ", element_at(words, i + 1),
          element_at(words, i + 2), element_at(words, i + 3)))))
      .otherwise(expr("cast(array() as array<string>)"))

  /** (doc_id, sh) rows: words materialized once per row, then exploded
    * shingles. */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(shingleCol(col("words"))).as("sh"))

  /** DuckDB twin of shingleCol (1-based list indexing; range(1,1) is
    * empty, so < 3-word docs emit no shingles — same guard as Spark). */
  private[graft] val shingleSqlExpr: String =
    """list_distinct(list_transform(
      | range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
      | i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))""".stripMargin

  // ----------------------------------------------------- d_dedup_minhash
  /** MinHash + LSH banding: 9 hashes, 3 bands × 3 rows; candidate pairs
    * share ≥1 band key, scored by exact signature agreement (n_match of
    * 9).
    *
    * Hash family: ONE md5 per shingle, parsed ONCE to a 60-bit integer
    * (15 hex nibbles — the KMV nibble trick), reduced mod p = 2³¹−1;
    * seed k is the universal-hash mix (a_k·h + b_k) mod p with Lehmer-
    * power constants, and the minhash is the MIN over 64-bit longs.
    * Round 3 took the min over 32-char ROTATED STRINGS: every partial-
    * agg comparison was a 32-byte memcmp and each rotation allocated two
    * substrings × 9 seeds × every shingle occurrence — the integer form
    * does the parse once and then 9 multiply-add-mods, and the 9 min
    * aggregates compare longs (measured ~3× on the driver bench).
    * a_k·h + b_k < 2⁶²+2³¹: no overflow in either engine's BIGINT.
    *
    * Plan: explode shingles → md5 once → parse+mod once → ONE
    * groupBy(doc) computing all 9 integer mins (single shuffle, partial
    * agg) → 3 (band, k0, k1, k2) band rows per doc → self-join on the
    * band key columns. Band buckets are CAPPED at `mhBucketCap` docs via
    * groupBy-count + left-semi join — NOT a count().over(bucket) window,
    * which sorts every bucket; the aggregate shape is partial-agg +
    * exchange-reused join. A boilerplate bucket of k docs would
    * otherwise go O(k²) at 100 TB; dropping oversized buckets is the
    * standard df-cap (those docs still pair through their other, rarer
    * bands) and is part of the documented LSH contract — the oracle
    * applies the same cap.
    */
  val mhSeeds = 9
  val mhBands = 3
  val mhBucketCap = 20
  private[graft] val mhPrime = 2147483647L // 2^31 - 1, Mersenne
  /** Universal-hash constants: successive powers of the MINSTD Lehmer
    * multipliers mod p — deterministic, distinct, inlined as literals in
    * both engines. */
  private[graft] val mhA: IndexedSeq[Long] =
    Iterator.iterate(48271L)(x => x * 48271L % mhPrime).take(mhSeeds).toIndexedSeq
  private[graft] val mhB: IndexedSeq[Long] =
    Iterator.iterate(16807L)(x => x * 16807L % mhPrime).take(mhSeeds).toIndexedSeq

  /** The minhash signature table `(doc_id, mh0..mh8)`: a cached session
    * memo read by every minhash consumer (band explode + both score
    * sides) and the streaming probe's corpus index. */
  private val sigMemo = new SessionMemo[DataFrame]

  private def signatures(s: SparkSession, dir: String): DataFrame = sigMemo(s, dir) {
    // 60-bit integer from the first 15 md5 nibbles via the codegen'd
    // hexSlice expression (one byte pass — the composed instr(substr)
    // chain allocated 15 UTF8Strings per shingle; oracle keeps the
    // strpos arithmetic, value-identical), then mod p once; the 9 seed
    // mixes read the reduced h31
    val h60 = graft.functions.VectorExprs.hexSlice(col("h32"), 1, 15)
    docShingles(s, dir)
      .withColumn("h32", md5(col("sh")))
      .select(col("doc_id"), (h60 % mhPrime).as("h31"))
      .groupBy("doc_id")
      .agg(min((lit(mhA(0)) * col("h31") + lit(mhB(0))) % mhPrime).as("mh0"),
        (1 until mhSeeds).map(k =>
          min((lit(mhA(k)) * col("h31") + lit(mhB(k))) % mhPrime).as(s"mh$k")): _*)
      .cache()
  }

  /** Band rows after the bucket cap — the LSH candidate-generation
    * stage shared by full minhash dedup and the incremental variant. */
  private def cappedBandRows(sig: DataFrame): DataFrame = {
    val bandRows = sig.select(col("doc_id"), explode(array(
      (0 until mhBands).map { b =>
        struct(lit(b).as("c"), col(s"mh${b * 3}").as("k0"),
          col(s"mh${b * 3 + 1}").as("k1"), col(s"mh${b * 3 + 2}").as("k2"))
      }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.c").as("c"), col("bs.k0").as("k0"),
        col("bs.k1").as("k1"), col("bs.k2").as("k2"))
    val bandKey = Seq("c", "k0", "k1", "k2")
    val keep = bandRows.groupBy(bandKey.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= mhBucketCap)
      .select(bandKey.map(col): _*)
    bandRows.join(keep, bandKey, "left_semi")
  }

  /** Static corpus band index for the streaming probe (st_dedup_probe):
    * the capped band rows as a frozen lookup side, over the signature
    * memo the batch ops share. */
  private[graft] def corpusBandIndex(s: SparkSession, dir: String): DataFrame =
    cappedBandRows(signatures(s, dir))

  /** The unsorted scored pair stage (PlanAuditSpec audits its plan). */
  private[graft] def dedupMinhashRaw(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir)
    val capped = cappedBandRows(sig)
    val cand = capped.alias("x")
      .join(capped.alias("y"),
        col("x.c") === col("y.c") && col("x.k0") === col("y.k0") &&
        col("x.k1") === col("y.k1") && col("x.k2") === col("y.k2") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    scorePairs(sig, cand)
  }

  /** Exact signature-agreement scoring of candidate pairs — the n_match
    * contract shared by full and incremental dedup (the incremental-vs-
    * full spec equality depends on ONE scoring implementation, like
    * mhMatchSql on the oracle side). */
  private def scorePairs(sig: DataFrame, cand: DataFrame): DataFrame = {
    val sa = sig.toDF("doc_a" +: (0 until mhSeeds).map(k => s"a$k"): _*)
    val sb = sig.toDF("doc_b" +: (0 until mhSeeds).map(k => s"b$k"): _*)
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (0 until mhSeeds).map(k =>
          when(col(s"a$k") === col(s"b$k"), 1L).otherwise(0L))
          .reduce(_ + _).as("n_match"))
  }

  // ----------------------------------------------------- d_minhash_b_bit
  /** b-BIT MINWISE HASHING adjudication (Li & König 2010): store only
    * the LOWEST BIT of each minhash — 1/60th of the signature bytes,
    * the storage trick that makes billion-doc signature tables fit in
    * memory — and estimate J from the bit-match rate with the b=1
    * unbiased correction Ĵ = 2·(m/k) − 1 (a random bit agrees half
    * the time, so raw agreement overestimates; the correction floors
    * at 0 in integer ppm). One row per blocked-truth pair: exact
    * Jaccard, the full-width 9-hash estimate, the 1-bit estimate, and
    * both absolute errors — the driver-checked table that prices the
    * 60× compression in estimator variance (Li–König: b=1 needs ~3×
    * the hashes for matched accuracy at J ≈ ½ — visible here as the
    * larger err column). Reuses the session signature cache and the
    * blocked-Jaccard truth memo; cost on top is one projection. */
  def minhashBBit: Q = (s, dir) => {
    val truth = jaccardPairs(s, dir)
    val sig = signatures(s, dir)
    val sa = sig.toDF("doc_a" +: (0 until mhSeeds).map(k => s"a$k"): _*)
    val sb = sig.toDF("doc_b" +: (0 until mhSeeds).map(k => s"b$k"): _*)
    truth.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("(inter * 1000000) div uni").as("exact_ppm"),
        (0 until mhSeeds).map(k =>
          when(col(s"a$k") === col(s"b$k"), 1L).otherwise(0L))
          .reduce(_ + _).as("n_full"),
        (0 until mhSeeds).map(k =>
          when(col(s"a$k") % 2 === col(s"b$k") % 2, 1L).otherwise(0L))
          .reduce(_ + _).as("n_bit"))
      .select(col("doc_a"), col("doc_b"), col("exact_ppm"),
        expr(s"(n_full * 1000000) div $mhSeeds").as("est_full_ppm"),
        expr(s"greatest(CAST(0 AS BIGINT)," +
          s" (2 * n_bit * 1000000) div $mhSeeds - 1000000)").as("est_b1_ppm"))
      .withColumn("err_full_ppm", abs(col("est_full_ppm") - col("exact_ppm")))
      .withColumn("err_b1_ppm", abs(col("est_b1_ppm") - col("exact_ppm")))
      .orderBy("doc_a", "doc_b")
  }

  private lazy val mhBitMatchSql: String = (0 until mhSeeds).map(k =>
    s"CASE WHEN sa.mh$k % 2 = sb.mh$k % 2 THEN 1 ELSE 0 END").mkString(" + ")

  // lazy: jaccardPairsSqlCte is a val defined LATER in this object —
  // an eager val here would interpolate null (the avgNeighborDegreeSql
  // lesson, same round)
  lazy val minhashBBitSql: String =
    s"""WITH $minhashBandCtesSql,
       |$jaccardPairsSqlCte
       |SELECT jp.doc_a, jp.doc_b,
       | CAST((jp.inter * 1000000) // jp.uni AS BIGINT) AS exact_ppm,
       | CAST((($mhMatchSql) * 1000000) // $mhSeeds AS BIGINT) AS est_full_ppm,
       | CAST(greatest(0, (2 * ($mhBitMatchSql) * 1000000) // $mhSeeds
       |   - 1000000) AS BIGINT) AS est_b1_ppm,
       | CAST(abs((($mhMatchSql) * 1000000) // $mhSeeds
       |   - (jp.inter * 1000000) // jp.uni) AS BIGINT) AS err_full_ppm,
       | CAST(abs(greatest(0, (2 * ($mhBitMatchSql) * 1000000) // $mhSeeds
       |   - 1000000) - (jp.inter * 1000000) // jp.uni) AS BIGINT) AS err_b1_ppm
       |FROM jp JOIN sig sa ON sa.doc_id = jp.doc_a
       |        JOIN sig sb ON sb.doc_id = jp.doc_b
       |ORDER BY jp.doc_a, jp.doc_b""".stripMargin

  // ------------------------------------------------ d_dedup_incremental
  /** INCREMENTAL minhash dedup — the append-only production shape: only
    * the NEW batch is checked, against the corpus AND against itself,
    * so per-batch cost is ∝ new-batch bands × bucket size instead of
    * corpus² (re-deduping 100 TB per arriving batch is the thing this
    * exists to avoid; corpus-vs-corpus pairs were settled when THOSE
    * batches arrived). The batch split is `doc_id % 5 = 0` — a
    * deterministic stand-in for the append boundary that stays
    * SF-invariant (an id threshold would shift meaning across scale
    * factors). One side of the bucket join is the new-batch band rows
    * only; both-new pairs are generated twice and collapse in the
    * least/greatest distinct. `pair_kind` labels new-new vs new-old —
    * the report a pipeline uses to route "drop the new doc" vs "drop
    * which copy" decisions. */
  def dedupIncremental: Q = (s, dir) => {
    val sig = signatures(s, dir)
    // read twice (new side + corpus side) — eager per the multi-
    // reference checkpoint discipline
    val br = cappedBandRows(sig).localCheckpoint(eager = true)
    // per-call checkpoint → checkpoint the pair result, free the band
    // rows in finally (each arriving batch is a new call; pinning a
    // band-row copy per batch is exactly the leak shape this op exists
    // to avoid at the corpus level)
    try {
      val newBr = br.filter(col("doc_id") % 5 === 0)
      val cand = newBr.alias("x").join(br.alias("y"),
          col("x.c") === col("y.c") && col("x.k0") === col("y.k0") &&
          col("x.k1") === col("y.k1") && col("x.k2") === col("y.k2") &&
          col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
        .distinct()
      scorePairs(sig, cand)
        .withColumn("pair_kind",
          when(col("doc_a") % 5 === 0 && col("doc_b") % 5 === 0, "new-new")
            .otherwise("new-old"))
        .orderBy("doc_a", "doc_b")
        .localCheckpoint(eager = true)
    } finally graft.model.PropertyGraph.freeLocalCheckpoint(br)
  }

  val dedupIncrementalSql: String =
    s"""WITH $minhashBandCtesSql, nb AS (
       | SELECT * FROM br WHERE doc_id % 5 = 0
       |), cand AS (
       | SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
       |        greatest(x.doc_id, y.doc_id) AS doc_b
       | FROM nb x JOIN br y ON x.c = y.c AND x.k0 = y.k0 AND x.k1 = y.k1
       |   AND x.k2 = y.k2 AND x.doc_id <> y.doc_id
       |)
       |SELECT c.doc_a, c.doc_b, CAST($mhMatchSql AS BIGINT) AS n_match,
       | CASE WHEN c.doc_a % 5 = 0 AND c.doc_b % 5 = 0 THEN 'new-new'
       |      ELSE 'new-old' END AS pair_kind
       |FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
       |            JOIN sig sb ON sb.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  def dedupMinhash: Q = (s, dir) =>
    dedupMinhashRaw(s, dir).orderBy("doc_a", "doc_b")

  /** CTE chain through `br` (capped band rows) + `sig` — the candidate-
    * generation stage, shared with the incremental variant. */
  private lazy val minhashBandCtesSql: String = {
    val nib = (0 until 15).map { i =>
      s"(strpos('0123456789abcdef', substr(h32, ${i + 1}, 1)) - 1) * ${1L << (4 * (14 - i))}"
    }.mkString("\n   + ")
    val mins = (0 until mhSeeds).map(k =>
      s"min((${mhA(k)} * h31 + ${mhB(k)}) % $mhPrime) AS mh$k").mkString(",\n  ")
    val bandSel = (0 until mhBands).map(b =>
      s"SELECT doc_id, $b AS c, mh${b * 3} AS k0, mh${b * 3 + 1} AS k1, mh${b * 3 + 2} AS k2 FROM sig")
      .mkString(" UNION ALL ")
    s"""sh AS (
       | SELECT doc_id, md5(unnest($shingleSqlExpr)) AS h32 FROM documents
       |), hx AS (
       | SELECT doc_id, CAST($nib AS BIGINT) % $mhPrime AS h31 FROM sh
       |), sig AS (
       | SELECT doc_id, $mins FROM hx GROUP BY doc_id
       |), br0 AS ($bandSel
       |), bc AS (
       | SELECT c, k0, k1, k2 FROM br0 GROUP BY 1, 2, 3, 4
       | HAVING count(*) <= $mhBucketCap
       |), br AS (
       | SELECT br0.doc_id, br0.c, br0.k0, br0.k1, br0.k2
       | FROM br0 JOIN bc USING (c, k0, k1, k2)
       |)""".stripMargin
  }

  private lazy val mhMatchSql: String = (0 until mhSeeds).map(k =>
    s"CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END").mkString(" + ")

  private val minhashCtesSql: String =
    s"""$minhashBandCtesSql, cand AS (
       | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       | FROM br x JOIN br y ON x.c = y.c AND x.k0 = y.k0 AND x.k1 = y.k1
       |   AND x.k2 = y.k2 AND x.doc_id < y.doc_id
       |), mhscored AS (
       | SELECT c.doc_a, c.doc_b, CAST($mhMatchSql AS BIGINT) AS n_match
       | FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
       |             JOIN sig sb ON sb.doc_id = c.doc_b
       |)""".stripMargin

  val dedupMinhashSql: String =
    s"""WITH $minhashCtesSql
       |SELECT doc_a, doc_b, n_match FROM mhscored
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------- d_weighted_minhash
  /** WEIGHTED MINHASH — integer-weight consistent weighted sampling
    * (Ioffe 2010: for integer weights, CWS reduces EXACTLY to plain
    * minhash over the replicated multiset {(e,1)…(e,tf(e))}), the
    * weighted-Jaccard member the sketch family was missing: flat
    * minhash sees a doc that repeats a paragraph 4× as the SAME
    * distinct-shingle set and underweights the repetition. Each
    * trigram carries its term frequency capped at `wmhCap` (the cap
    * bounds replication blowup to ≤ wmhCap × distinct shingles and is
    * part of the contract — the exact truth in the eval op caps
    * identically), replicas hash as md5(sh#r), and the SAME 9-seed
    * universal-hash / 3-band LSH / bucket-cap machinery runs over them
    * — signatures stay mergeable, candidate generation stays
    * band-bounded, nothing corpus². Output = weighted-LSH candidate
    * pairs scored by signature agreement (the d_dedup_minhash report
    * shape under the weighted measure). */
  val wmhCap = 4L

  /** Non-distinct trigram shingles with capped term frequency —
    * the weighted analogue of docShingles. */
  private def docShingleTfRaw(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(when(size(col("words")) >= 3,
        transform(sequence(lit(0), size(col("words")) - 3),
          i => concat_ws(" ", element_at(col("words"), i + 1),
            element_at(col("words"), i + 2), element_at(col("words"), i + 3))))
        .otherwise(expr("cast(array() as array<string>)"))).as("sh"))
      .groupBy("doc_id", "sh")
      .agg(least(count(lit(1)), lit(wmhCap)).as("tf"))

  /** tf frame memo — the weighted signature build and the eval's
    * exact-weighted-truth leg both start here. Memoized + cached ONCE
    * per (session, dir) (r11 advisor: the two ops each built and
    * cache()d their own copy, so reuse hung on CacheManager
    * plan-matching — any plan drift between the construction paths
    * would silently double the sketch build and the memory). */
  private val wTfMemo = new SessionMemo[DataFrame]

  private def docShingleTf(s: SparkSession, dir: String): DataFrame =
    wTfMemo(s, dir)(
      docShingleTfRaw(s, dir).cache())

  /** Weighted signatures — same column names as the flat `signatures`
    * so cappedBandRows/scorePairs are reused verbatim. */
  private def wSignaturesRaw(s: SparkSession, dir: String): DataFrame = {
    val h60 = graft.functions.VectorExprs.hexSlice(col("h32"), 1, 15)
    docShingleTf(s, dir)
      .select(col("doc_id"), col("sh"),
        explode(sequence(lit(1L), col("tf"))).as("r"))
      .withColumn("h32",
        md5(concat(col("sh"), lit("#"), col("r").cast("string"))))
      .select(col("doc_id"), (h60 % mhPrime).as("h31"))
      .groupBy("doc_id")
      .agg(min((lit(mhA(0)) * col("h31") + lit(mhB(0))) % mhPrime).as("mh0"),
        (1 until mhSeeds).map(k =>
          min((lit(mhA(k)) * col("h31") + lit(mhB(k))) % mhPrime)
            .as(s"mh$k")): _*)
  }

  /** Signature memo — feeds the band explode + both score sides here
    * AND the eval op in the same session; one build per (session, dir)
    * by construction, not by plan-cache coincidence. */
  private val wSigMemo = new SessionMemo[DataFrame]

  private def wSignatures(s: SparkSession, dir: String): DataFrame =
    wSigMemo(s, dir)(
      wSignaturesRaw(s, dir).cache())

  def weightedMinhash: Q = (s, dir) => {
    val sig = wSignatures(s, dir)
    val br = cappedBandRows(sig)
    val cand = br.alias("x").join(br.alias("y"),
        col("x.c") === col("y.c") && col("x.k0") === col("y.k0") &&
        col("x.k1") === col("y.k1") && col("x.k2") === col("y.k2") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    scorePairs(sig, cand).orderBy("doc_a", "doc_b")
  }

  /** DuckDB twin of the non-distinct trigram expr (shingleSqlExpr
    * minus list_distinct). */
  private val wShingleAllSqlExpr: String =
    """list_transform(
      | range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
      | i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])""".stripMargin

  /** Weighted signature CTE chain ending in `wsig` (+ `wtf` for the
    * exact weighted truth). */
  private lazy val wmhSigCtesSql: String = {
    val nib = (0 until 15).map { i =>
      s"(strpos('0123456789abcdef', substr(h32, ${i + 1}, 1)) - 1) * ${1L << (4 * (14 - i))}"
    }.mkString("\n   + ")
    val mins = (0 until mhSeeds).map(k =>
      s"min((${mhA(k)} * h31 + ${mhB(k)}) % $mhPrime) AS mh$k").mkString(",\n  ")
    s"""wtf AS (
       | SELECT doc_id, sh, least(count(*), $wmhCap) AS tf FROM (
       |  SELECT doc_id, unnest($wShingleAllSqlExpr) AS sh FROM documents
       | ) GROUP BY doc_id, sh
       |), wrep AS (
       | SELECT doc_id, md5(sh || '#' || CAST(r AS VARCHAR)) AS h32
       | FROM (SELECT doc_id, sh, unnest(range(1, tf + 1)) AS r FROM wtf)
       |), whx AS (
       | SELECT doc_id, CAST($nib AS BIGINT) % $mhPrime AS h31 FROM wrep
       |), wsig AS (
       | SELECT doc_id, $mins FROM whx GROUP BY doc_id
       |)""".stripMargin
  }

  lazy val weightedMinhashSql: String = {
    val bandSel = (0 until mhBands).map(b =>
      s"SELECT doc_id, $b AS c, mh${b * 3} AS k0, mh${b * 3 + 1} AS k1, mh${b * 3 + 2} AS k2 FROM wsig")
      .mkString(" UNION ALL ")
    s"""WITH $wmhSigCtesSql, wbr0 AS ($bandSel
       |), wbc AS (
       | SELECT c, k0, k1, k2 FROM wbr0 GROUP BY 1, 2, 3, 4
       | HAVING count(*) <= $mhBucketCap
       |), wbr AS (
       | SELECT wbr0.doc_id, wbr0.c, wbr0.k0, wbr0.k1, wbr0.k2
       | FROM wbr0 JOIN wbc USING (c, k0, k1, k2)
       |), cand AS (
       | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       | FROM wbr x JOIN wbr y ON x.c = y.c AND x.k0 = y.k0 AND x.k1 = y.k1
       |   AND x.k2 = y.k2 AND x.doc_id < y.doc_id
       |)
       |SELECT c.doc_a, c.doc_b, CAST($mhMatchSql AS BIGINT) AS n_match
       |FROM cand c JOIN wsig sa ON sa.doc_id = c.doc_a
       |            JOIN wsig sb ON sb.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------- d_weighted_minhash_eval
  /** Weighted-sketch adjudication on the blocked truth pair set: for
    * every exact flat-Jaccard near-dup pair (the memoized J > 1/2 set
    * — bounded by definition), the EXACT capped weighted Jaccard
    * (Σmin(tf)/Σmax(tf), one sh-keyed join between the two docs' tf
    * vectors — pair set × shingles, never corpus²) beside the
    * weighted-minhash estimate AND the flat 9-seed estimate — the
    * d_minhash_est_error pattern under the weighted measure. Either
    * outcome is the product: this table is what says whether the
    * weighted sketch earns its ≤ wmhCap× replication cost on a given
    * corpus. Measured at sf0.01 the two sketches tie within the 1/9
    * quantization floor — the truth pairs here are near-identical docs
    * with almost no internal trigram repetition, exactly the corpus
    * where flat minhash suffices; a corpus that repeats content within
    * documents is where err_flat detaches from err_wmh. */
  def weightedMinhashEval: Q = (s, dir) => {
    val tf = docShingleTf(s, dir) // memoized+cached; three consumers below
    val jp = jaccardPairs(s, dir).select("doc_a", "doc_b")
    val winter = jp.join(tf.toDF("doc_a", "sh", "tfa"), "doc_a")
      .join(tf.toDF("doc_b", "sh", "tfb"), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("tfa"), col("tfb"))).as("winter"))
    val wsz = tf.groupBy("doc_id").agg(sum("tf").as("wn"))
    val wEst = scorePairs(wSignatures(s, dir), jp)
      .withColumnRenamed("n_match", "n_wmh")
    val fEst = scorePairs(signatures(s, dir), jp)
      .withColumnRenamed("n_match", "n_flat")
    jp.join(winter, Seq("doc_a", "doc_b"))
      .join(wsz.toDF("doc_a", "wna"), "doc_a")
      .join(wsz.toDF("doc_b", "wnb"), "doc_b")
      .join(wEst, Seq("doc_a", "doc_b"))
      .join(fEst, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("(winter * 1000000) div (wna + wnb - winter)").as("wexact_ppm"),
        expr(s"(n_wmh * 1000000) div $mhSeeds").as("est_wmh_ppm"),
        expr(s"(n_flat * 1000000) div $mhSeeds").as("est_flat_ppm"))
      .withColumn("err_wmh_ppm", abs(col("est_wmh_ppm") - col("wexact_ppm")))
      .withColumn("err_flat_ppm", abs(col("est_flat_ppm") - col("wexact_ppm")))
      .orderBy("doc_a", "doc_b")
  }

  lazy val weightedMinhashEvalSql: String = {
    def m(a: String, b: String): String = (0 until mhSeeds).map(k =>
      s"CASE WHEN $a.mh$k = $b.mh$k THEN 1 ELSE 0 END").mkString(" + ")
    val wex = "(wint.winter * 1000000) // (sa.wn + sb.wn - wint.winter)"
    val ew = s"((${m("wa", "wb")}) * 1000000) // $mhSeeds"
    val ef = s"((${m("fa", "fb")}) * 1000000) // $mhSeeds"
    s"""WITH $minhashBandCtesSql,
       |$jaccardPairsSqlCte,
       |$wmhSigCtesSql,
       |wsz AS (
       | SELECT doc_id, CAST(sum(tf) AS BIGINT) AS wn FROM wtf GROUP BY doc_id
       |), wint AS (
       | SELECT jp.doc_a, jp.doc_b,
       |  CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS winter
       | FROM jp JOIN wtf ta ON ta.doc_id = jp.doc_a
       |         JOIN wtf tb ON tb.doc_id = jp.doc_b AND tb.sh = ta.sh
       | GROUP BY 1, 2
       |)
       |SELECT jp.doc_a, jp.doc_b,
       | CAST($wex AS BIGINT) AS wexact_ppm,
       | CAST($ew AS BIGINT) AS est_wmh_ppm,
       | CAST($ef AS BIGINT) AS est_flat_ppm,
       | CAST(abs(($ew) - ($wex)) AS BIGINT) AS err_wmh_ppm,
       | CAST(abs(($ef) - ($wex)) AS BIGINT) AS err_flat_ppm
       |FROM jp
       | JOIN wint ON wint.doc_a = jp.doc_a AND wint.doc_b = jp.doc_b
       | JOIN wsz sa ON sa.doc_id = jp.doc_a
       | JOIN wsz sb ON sb.doc_id = jp.doc_b
       | JOIN wsig wa ON wa.doc_id = jp.doc_a
       | JOIN wsig wb ON wb.doc_id = jp.doc_b
       | JOIN sig fa ON fa.doc_id = jp.doc_a
       | JOIN sig fb ON fb.doc_id = jp.doc_b
       |ORDER BY jp.doc_a, jp.doc_b""".stripMargin
  }

  // ---------------------------------------------------- d_ngram_jaccard
  /** Blocked pairwise Jaccard over distinct 3-gram shingles, with the
    * standard document-frequency cap: shingles appearing in more than
    * `jacDfCap` documents are dropped BEFORE blocking (a shingle shared
    * by 10⁴ docs makes a 10⁸-row block at 100 TB while contributing
    * nothing to near-dup detection — boilerplate by definition).
    * Candidates = pairs sharing ≥1 surviving shingle; set sizes are
    * post-cap, so the contract is "Jaccard over the df-capped shingle
    * sets" in BOTH engines. The J > 1/2 test is the integer
    * cross-multiplication 3·|∩| > |A|+|B| — no float decides
    * membership. */
  val jacDfCap = 50

  /** The df-capped distinct shingles `(doc_id, sh)` and their per-doc
    * set sizes `(doc_id, n)`: one cached session memo read by jaccard
    * (both pair sides + sizes), containment and decontamination. */
  private val cappedMemo = new SessionMemo[(DataFrame, DataFrame)]

  private def cappedShingles(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    cappedMemo(s, dir) {
      val ds = docShingles(s, dir)
        .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
        .filter(col("df") <= jacDfCap)
        .drop("df")
        .cache()
      (ds, ds.groupBy("doc_id").agg(count(lit(1)).as("n")).cache())
    }

  /** Doc pairs sharing a df-capped shingle `(doc_b, doc_a, inter, na,
    * nb)`: the overlap and both set sizes — the blocked stage of
    * jaccard and containment (`shinglePairsSqlCte` on the oracle side). */
  private def shinglePairs(s: SparkSession, dir: String): DataFrame = {
    val (ds, sizes) = cappedShingles(s, dir)
    ds.alias("x")
      .join(ds.alias("y"), col("x.sh") === col("y.sh") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
  }

  /** The jaccard pair stage (PlanAuditSpec audits its plan). */
  private[graft] def jaccardPairsRaw(s: SparkSession, dir: String): DataFrame =
    shinglePairs(s, dir)
      .filter(lit(3) * col("inter") > col("na") + col("nb"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))

  /** The J > 1/2 pair set with sizes — shared by `d_ngram_jaccard`,
    * the cluster-canonicalization op, and SoftDeDup. The shingle frame
    * is a cached memo, but the expensive stage is the sh-keyed SELF-JOIN
    * + pair aggregation, which cache() cannot absorb — so the RESULT is
    * session-memoized as one eager localCheckpoint (the nationBfs
    * pattern): the pair set is tiny by definition (near-dups only), and
    * every consumer after the first reads the collapsed frame instead
    * of re-running the join. */
  private val jpMemo = new SessionMemo[DataFrame]

  private[operators] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jpMemo(s, dir)(
      jaccardPairsRaw(s, dir).localCheckpoint(eager = true))

  /** Build and materialize the dedup family's session memos (the
    * Analytics/Similarity warmShared pattern, called from Bench's
    * warmup): the jaccard pair memo feeds six ops and the minhash
    * signature memo more — whichever ran first was absorbing the build
    * (r6: d_source_overlap 3.3 s of which ~3 s was the pair memo). */
  private[graft] def warmShared(s: SparkSession, dir: String): Unit =
    Seq(jaccardPairs(s, dir), signatures(s, dir), simhashPairs(s, dir))
      .foreach(PropertyGraph.rowCount)

  def ngramJaccard: Q = (s, dir) =>
    jaccardPairs(s, dir).orderBy("doc_a", "doc_b")

  /** Shared CTE prefix ending in `pairs(doc_a, doc_b, inter)` +
    * `sizes(doc_id, n)` — the blocked pair stage reused by jaccard AND
    * containment. */
  private val shinglePairsSqlCte: String =
    s"""ds0 AS (
       | SELECT doc_id, unnest($shingleSqlExpr) AS sh FROM documents
       |), ds AS (
       | SELECT doc_id, sh FROM (
       |  SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM ds0
       | ) WHERE df <= $jacDfCap
       |), sizes AS (
       | SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id
       |), pairs AS (
       | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       | FROM ds x JOIN ds y ON x.sh = y.sh AND x.doc_id < y.doc_id
       | GROUP BY 1, 2
       |)""".stripMargin

  /** Shared CTE chain ending in `jp(doc_a, doc_b, inter, uni)`. */
  private[operators] val jaccardPairsSqlCte: String =
    s"""$shinglePairsSqlCte, jp AS (
       | SELECT p.doc_a, p.doc_b, p.inter, sa.n + sb.n - p.inter AS uni
       | FROM pairs p JOIN sizes sa ON sa.doc_id = p.doc_a
       |              JOIN sizes sb ON sb.doc_id = p.doc_b
       | WHERE 3 * p.inter > sa.n + sb.n
       |)""".stripMargin

  // ----------------------------------------------------- d_source_overlap
  /** CROSS-SOURCE duplicate-mass audit — the "which feeds overlap"
    * table a corpus curator reads before setting mixture weights:
    * every exact-Jaccard near-dup pair (J > ½, the shared blocked
    * stage) attributed to its UNORDERED source pair (least/greatest
    * canonicalization, so (src2, src7) and (src7, src2) are one row).
    * The diagonal rows are within-source redundancy; off-diagonal mass
    * is double-ingestion — the signal that two feeds crawl the same
    * sites, which dedup alone hides. Cost on top of the memoized pair
    * set: two broadcast-size joins against the doc→source map and one
    * partial-agged count — nothing corpus-quadratic. */
  def sourceOverlap: Q = (s, dir) => {
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    jaccardPairs(s, dir).select("doc_a", "doc_b")
      .join(src.toDF("doc_a", "source_a"), "doc_a")
      .join(src.toDF("doc_b", "source_b"), "doc_b")
      .select(least(col("source_a"), col("source_b")).as("source_x"),
        greatest(col("source_a"), col("source_b")).as("source_y"))
      .groupBy("source_x", "source_y").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_x", "source_y")
  }

  lazy val sourceOverlapSql: String =
    s"""WITH $jaccardPairsSqlCte
       |SELECT least(sa.source, sb.source) AS source_x,
       |       greatest(sa.source, sb.source) AS source_y,
       |       count(*) AS n_pairs
       |FROM jp p JOIN documents sa ON sa.doc_id = p.doc_a
       |          JOIN documents sb ON sb.doc_id = p.doc_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------- d_containment
  /** ASYMMETRIC containment near-dup detection: C(A→B) = |A∩B| / |A|
    * over the df-capped distinct shingle sets. Jaccard misses the
    * quote/excerpt case — a short doc wholly contained in a long one
    * has J = |A|/|B| ≈ 0 but containment ≈ 1 — and containment is the
    * standard complement (Broder's "superset/subset" resemblance).
    * Pairs are blocked on shared shingles exactly like jaccard (the
    * C > 0 pairs are a subset of the J > 0 pairs), threshold is the
    * integer cross-multiplication 4·inter ≥ 3·n (≥ 75% of the smaller
    * side's shingles shared — no float decides membership), and the
    * per-pair direction labels which side is (near-)contained. Reads
    * the jaccard stage's blocked pairs. */
  def containment: Q = (s, dir) => {
    val aIn = lit(4) * col("inter") >= lit(3) * col("na")
    val bIn = lit(4) * col("inter") >= lit(3) * col("nb")
    shinglePairs(s, dir)
      .filter(aIn || bIn)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"),
        when(aIn && bIn, "both").when(aIn, "a_in_b").otherwise("b_in_a")
          .as("direction"))
      .orderBy("doc_a", "doc_b")
  }

  val containmentSql: String =
    s"""WITH $shinglePairsSqlCte
       |SELECT p.doc_a, p.doc_b, p.inter, sa.n AS na, sb.n AS nb,
       | CASE WHEN 4 * p.inter >= 3 * sa.n AND 4 * p.inter >= 3 * sb.n THEN 'both'
       |      WHEN 4 * p.inter >= 3 * sa.n THEN 'a_in_b'
       |      ELSE 'b_in_a' END AS direction
       |FROM pairs p JOIN sizes sa ON sa.doc_id = p.doc_a
       |             JOIN sizes sb ON sb.doc_id = p.doc_b
       |WHERE 4 * p.inter >= 3 * sa.n OR 4 * p.inter >= 3 * sb.n
       |ORDER BY doc_a, doc_b""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH $jaccardPairsSqlCte
       |SELECT doc_a, doc_b, inter, uni FROM jp
       |ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------------- d_dedup_cluster
  /** Cluster canonicalization — the op that ENDS a dedup pipeline: the
    * near-dup pair graph (J > 1/2 blocks) is contracted to components
    * by `clusterIters` rounds of min-id propagation and every doc maps
    * to its cluster's minimum doc_id (canonical survivor). Near-dup
    * clusters are tiny cliques/chains, so a small fixed round count is
    * exact for any realistic cluster diameter and keeps the DuckDB
    * oracle an unrolled chain. Docs in no pair are their own canon. */
  val clusterIters = 3

  /** The near-dup pair graph `(id, nb)`, both directions: a cached
    * session memo over the jaccard pair memo, read by every
    * clusterAssign call. */
  private val undMemo = new SessionMemo[DataFrame]

  /** Shared min-id contraction: (doc_id → canon_id) for every doc —
    * the assignment stage of d_dedup_cluster, reused by d_soft_dedup. */
  private def clusterAssign(s: SparkSession, dir: String): DataFrame = {
    val und = undMemo(s, dir) {
      val jp = jaccardPairs(s, dir).select("doc_a", "doc_b")
      jp.union(jp.select(col("doc_b"), col("doc_a"))).toDF("id", "nb").cache()
    }
    var comp = docs(s, dir).select(col("doc_id").as("id"),
      col("doc_id").as("canon_id"))
    for (_ <- 1 to clusterIters) {
      // broadcast the PAIR GRAPH, never the corpus: und and the per-
      // round min frame are bounded by the near-dup pair set (tiny by
      // definition at any scale), while comp is corpus-sized — at
      // 100 TB a broadcast(comp) dies at the ceiling, so the corpus
      // side always streams
      val u = und.toDF("uid", "nb")
      val m = comp.join(broadcast(u), col("id") === col("nb"))
        .groupBy(col("uid").as("id")).agg(min("canon_id").as("m"))
      comp = comp.join(broadcast(m), Seq("id"), "left_outer")
        .select(col("id"),
          least(col("canon_id"), coalesce(col("m"), col("canon_id")))
            .as("canon_id"))
    }
    comp.select(col("id").as("doc_id"), col("canon_id"))
  }

  def dedupCluster: Q = (s, dir) =>
    clusterAssign(s, dir).orderBy("doc_id")

  /** CTE chain of the contraction, ending in `c$clusterIters(id,
    * canon_id)` — shared by the cluster and soft-dedup oracles. */
  private lazy val clusterAssignSqlCtes: String = {
    val b = new StringBuilder(
      s"""WITH $jaccardPairsSqlCte, und AS (
         | SELECT doc_a AS id, doc_b AS nb FROM jp
         | UNION ALL SELECT doc_b, doc_a FROM jp
         |), c0 AS (
         | SELECT doc_id AS id, doc_id AS canon_id FROM documents
         |)""".stripMargin)
    for (i <- 1 to clusterIters) {
      b ++= s""", m$i AS (
               | SELECT u.id, min(c${i - 1}.canon_id) AS m
               | FROM und u JOIN c${i - 1} ON c${i - 1}.id = u.nb GROUP BY u.id
               |), c$i AS (
               | SELECT c.id, least(c.canon_id, COALESCE(m$i.m, c.canon_id)) AS canon_id
               | FROM c${i - 1} c LEFT JOIN m$i ON m$i.id = c.id
               |)""".stripMargin
    }
    b.toString
  }

  lazy val dedupClusterSql: String =
    clusterAssignSqlCtes +
      s"\nSELECT id AS doc_id, canon_id FROM c$clusterIters ORDER BY doc_id"

  // ---------------------------------------------------- d_cross_shard_dup
  /** CROSS-SHARD DUPLICATE audit — the measurement that decides
    * whether shard-LOCAL dedup (each worker dedups only its own
    * WebDataset shard — embarrassingly parallel, no global shuffle)
    * is good enough, or whether the global band-join pipeline is
    * actually required: per multi-member near-dup cluster, how many
    * shards (m_shard_pack's packing) do its members land in, and how
    * many duplicate PAIRS are shard-local (Σ per-shard C(mₛ,2) —
    * visible to a local dedup) vs cross-shard (invisible). Exact
    * integer pair counting per span; output is a ≤|max-span|-row
    * histogram. Because the packer assigns doc-id-hashed writers,
    * near-dup members scatter — the audit typically shows most pairs
    * CROSS shards, which is precisely the argument for global dedup
    * before packing (run it after a doc-id-correlated packing to see
    * the opposite). Cost on top of the memoized cluster assignment:
    * one join to the (doc, shard) frame and two bounded aggregates. */
  def crossShardDup: Q = (s, dir) => {
    val sw = Multimodal.shardWriters
    val sb = Multimodal.shardBudget
    val w = Window.partitionBy("writer").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val shards = docs(s, dir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(sw)).as("writer"),
        // BYTE length of the UTF-8 payload — m_shard_pack packs by
        // length(encode(text,'UTF-8')); re-deriving with character
        // length would silently mis-assign shards on non-ASCII text
        // and the audit would no longer describe the actual manifest
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .withColumn("cum_before", coalesce(sum("n_bytes").over(w), lit(0L)))
      .select(col("doc_id"),
        (col("writer") * 1000000L + expr(s"cum_before div $sb"))
          .as("shard_id"))
    val cl = clusterAssign(s, dir)
    val multi = cl.groupBy("canon_id").agg(count(lit(1)).as("mm"))
      .filter(col("mm") >= 2).select("canon_id")
    val perShard = cl.join(multi, "canon_id").join(shards, "doc_id")
      .groupBy("canon_id", "shard_id").agg(count(lit(1)).as("ms"))
    perShard.groupBy("canon_id")
      .agg(sum("ms").as("m"), count(lit(1)).as("n_shards"),
        sum(expr("ms * (ms - 1) div 2")).as("local_pairs"))
      .select(col("canon_id"), col("m"), col("n_shards"),
        expr("m * (m - 1) div 2").as("pairs"), col("local_pairs"))
      .groupBy("n_shards")
      .agg(count(lit(1)).as("n_clusters"), sum("m").as("n_docs"),
        sum("pairs").as("n_pairs"),
        sum(col("pairs") - col("local_pairs")).as("n_cross_pairs"))
      .orderBy("n_shards")
  }

  lazy val crossShardDupSql: String =
    clusterAssignSqlCtes +
      s""", sh AS (
         | SELECT doc_id,
         |  (doc_id % ${Multimodal.shardWriters}) * 1000000
         |   + (CAST(COALESCE(sum(CAST(octet_length(encode(text)) AS BIGINT)) OVER (
         |       PARTITION BY doc_id % ${Multimodal.shardWriters}
         |       ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      // ${Multimodal.shardBudget}) AS shard_id
         | FROM documents
         |), multi AS (
         | SELECT canon_id FROM c$clusterIters GROUP BY canon_id
         | HAVING count(*) >= 2
         |), ps AS (
         | SELECT c.canon_id, sh.shard_id, count(*) AS ms
         | FROM c$clusterIters c
         | JOIN multi USING (canon_id)
         | JOIN sh ON sh.doc_id = c.id
         | GROUP BY 1, 2
         |), pc AS (
         | SELECT canon_id, CAST(sum(ms) AS BIGINT) AS m,
         |  count(*) AS n_shards,
         |  CAST(sum(ms * (ms - 1) // 2) AS BIGINT) AS local_pairs
         | FROM ps GROUP BY canon_id
         |)
         |SELECT n_shards, count(*) AS n_clusters,
         | CAST(sum(m) AS BIGINT) AS n_docs,
         | CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_pairs,
         | CAST(sum(m * (m - 1) // 2 - local_pairs) AS BIGINT) AS n_cross_pairs
         |FROM pc GROUP BY n_shards ORDER BY n_shards""".stripMargin

  // ---------------------------------------------------- d_dedup_keep_best
  /** CANONICAL-COPY SELECTION BY QUALITY — the policy step a real
    * pipeline runs after clustering: per multi-member near-dup
    * cluster, KEEP the highest-quality member (t_quality_score's
    * composite, doc_id tiebreak) instead of the arbitrary min-id
    * canon. Output: one row per multi-member cluster — kept doc, its
    * quality, member count, and whether the quality policy OVERTURNED
    * the min-id default (`kept_ne_canon`) — the audit a curator reads
    * to see what the policy actually changed. Cost on top of the
    * memoized cluster assignment: one join to the per-doc quality
    * frame and a per-cluster argmax via max(struct) — map-side
    * combinable, no window, nothing corpus². */
  def dedupKeepBest: Q = (s, dir) => {
    val cl = clusterAssign(s, dir)
    val q = graft.operators.TextOps.qualityScore(s, dir)
      .select(col("doc_id"), col("quality"))
    val multi = cl.groupBy("canon_id").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    cl.join(multi, "canon_id")
      .join(q, "doc_id")
      .groupBy("canon_id", "n_members")
      // argmax (quality desc, doc_id asc): max quality first, then the
      // negated id turns the min-id tiebreak into a max
      .agg(max(struct(col("quality"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("canon_id"), col("n_members"),
        (-col("best.negid")).as("kept_doc_id"),
        col("best.quality").as("kept_quality"),
        (col("canon_id") =!= -col("best.negid")).as("kept_ne_canon"))
      .orderBy("canon_id")
  }

  lazy val dedupKeepBestSql: String =
    clusterAssignSqlCtes +
      s""", qx AS (
         |${graft.operators.TextOps.qualityScoreSql}
         |), cl AS (
         | SELECT id AS doc_id, canon_id FROM c$clusterIters
         |), multi AS (
         | SELECT canon_id, count(*) AS n_members
         | FROM cl GROUP BY 1 HAVING count(*) >= 2
         |), best AS (
         | SELECT cl.canon_id, multi.n_members, cl.doc_id, qx.quality,
         |  row_number() OVER (PARTITION BY cl.canon_id
         |    ORDER BY qx.quality DESC, cl.doc_id) AS rn
         | FROM cl JOIN multi USING (canon_id)
         |         JOIN qx ON qx.doc_id = cl.doc_id
         |)
         |SELECT canon_id, n_members, doc_id AS kept_doc_id,
         | quality AS kept_quality, canon_id <> doc_id AS kept_ne_canon
         |FROM best WHERE rn = 1 ORDER BY canon_id""".stripMargin

  // ----------------------------------------------------- d_dedup_len_bias
  /** DEDUP LENGTH-BIAS AUDIT — does deduplication skew the surviving
    * corpus's length distribution? Three rows: docs untouched by any
    * near-dup cluster (`unique`), cluster canons (`kept`), and cluster
    * members the min-id policy would drop (`dropped`) — each with
    * count and exact mean length. A `dropped` mean far from `kept`
    * means the dedup step is also an (unintended) length filter; a
    * `unique` mean far from both says duplicated content is itself
    * length-skewed (boilerplate is short, mirrored articles are long).
    * One join against the memoized cluster assignment + a 3-group
    * aggregate — nothing beyond the already-bounded pair machinery. */
  def dedupLenBias: Q = (s, dir) => {
    val cl = clusterAssign(s, dir)
    val sz = cl.groupBy("canon_id").agg(count(lit(1)).as("csz"))
    docs(s, dir).select(col("doc_id"), col("n_chars"))
      .join(cl, "doc_id").join(sz, "canon_id")
      .select(when(col("csz") === 1, "unique")
        .when(col("doc_id") === col("canon_id"), "kept")
        .otherwise("dropped").as("fate"), col("n_chars"))
      .groupBy("fate")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(n_chars) div count(1)").as("mean_chars"))
      .orderBy("fate")
  }

  lazy val dedupLenBiasSql: String =
    clusterAssignSqlCtes +
      s""", cl AS (
         | SELECT id AS doc_id, canon_id FROM c$clusterIters
         |), csz AS (
         | SELECT canon_id, count(*) AS csz FROM cl GROUP BY 1
         |)
         |SELECT fate, count(*) AS n_docs,
         | CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars
         |FROM (
         | SELECT CASE WHEN csz.csz = 1 THEN 'unique'
         |   WHEN cl.doc_id = cl.canon_id THEN 'kept'
         |   ELSE 'dropped' END AS fate, d.n_chars
         | FROM documents d JOIN cl ON cl.doc_id = d.doc_id
         |   JOIN csz ON csz.canon_id = cl.canon_id
         |)
         |GROUP BY fate ORDER BY fate""".stripMargin

  // -------------------------------------------------------- d_soft_dedup
  /** SoftDeDup — REWEIGHT duplicates instead of dropping them (the
    * training-mixture alternative to hard removal): every document gets
    * sampling weight 1e6 div |cluster| in ppm, so a near-dup cluster of
    * n docs contributes ~one document's worth of mass in expectation
    * and singletons keep full weight. Reuses d_dedup_cluster's min-id
    * contraction; the only additional work is ONE count shuffle keyed
    * on canon_id plus the size join back (AQE broadcasts the size frame
    * — distinct canons ≤ corpus, dominated by singletons). Integer div
    * — no float weight crosses the engine boundary. */
  def softDedup: Q = (s, dir) => {
    val comp = clusterAssign(s, dir)
    val sizes = comp.groupBy("canon_id").agg(count(lit(1)).as("n_members"))
    comp.join(sizes, Seq("canon_id"))
      .select(col("doc_id"), col("canon_id"), col("n_members"),
        expr("1000000 div n_members").as("w_ppm"))
      .orderBy("doc_id")
  }

  lazy val softDedupSql: String =
    clusterAssignSqlCtes +
      s""", csize AS (
         | SELECT canon_id, count(*) AS n_members
         | FROM c$clusterIters GROUP BY canon_id
         |)
         |SELECT c.id AS doc_id, c.canon_id, s.n_members,
         | 1000000 // s.n_members AS w_ppm
         |FROM c$clusterIters c JOIN csize s ON s.canon_id = c.canon_id
         |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- d_dup_distribution
  /** DUPLICATION PROFILE — the cluster-SIZE histogram of the near-dup
    * graph (the "how duplicated is this corpus" table a data card
    * leads with, and the input to the dedup-or-reweight decision
    * d_soft_dedup encodes): every doc lands in its min-id cluster
    * (the session-shared contraction d_dedup_cluster/d_soft_dedup
    * already compute — marginal cost is two tiny aggregations), then
    * one row per observed cluster size with the cluster count, doc
    * mass, and corpus share in exact ppm. size 1 = unique docs; the
    * tail IS the boilerplate. Scale: both groupBys partial-aggregate;
    * the histogram is size-bounded by the largest cluster. */
  def dupDistribution: Q = (s, dir) => {
    val comp = clusterAssign(s, dir)
    val total = comp.agg(count(lit(1)).as("n_total"))
    comp.groupBy("canon_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(total)) // 1-row scalar
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        expr("(cluster_size * n_clusters * 1000000) div n_total")
          .as("doc_share_ppm"))
      .orderBy("cluster_size")
  }

  lazy val dupDistributionSql: String =
    clusterAssignSqlCtes +
      s""", csize AS (
         | SELECT canon_id, count(*) AS cluster_size
         | FROM c$clusterIters GROUP BY canon_id
         |), tot AS (
         | SELECT count(*) AS n_total FROM c$clusterIters
         |)
         |SELECT cluster_size, count(*) AS n_clusters,
         | CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
         | CAST((cluster_size * count(*) * 1000000) // tot.n_total AS BIGINT)
         |  AS doc_share_ppm
         |FROM csize, tot
         |GROUP BY cluster_size, tot.n_total
         |ORDER BY cluster_size""".stripMargin

  // ----------------------------------------------------- d_dedup_simhash
  /** 64-bit SimHash over distinct-token md5s, hamming-bucket candidate
    * join. Bit p of a token = bit (3 - p%4) of hex nibble p/4 of
    * md5(token) — pure integer arithmetic, identical in both engines.
    * Candidates share one of four 16-bit chunks (finds all pairs with
    * hamming ≤ 3 exactly; wider matches best-effort — documented LSH
    * contract); output pairs with exact hamming ≤ 12. */
  val shChunks = 4

  def dedupSimhash: Q = (s, dir) =>
    simhashPairs(s, dir).orderBy("doc_a", "doc_b")

  /** Unordered simhash near-dup pairs `(doc_a, doc_b, hamming ≤ 12)` —
    * the shared stage behind d_dedup_simhash and d_simhash_eval.
    * Session-memoized as one eager localCheckpoint (the jaccardPairs
    * pattern): the pair set is small by definition (hamming ≤ 12 only),
    * and the expensive part — the token explode + 16 lane-packed bit
    * sums + chunk self-join — otherwise re-ran per consumer (r6
    * artifact: 6.5 s for d_dedup_simhash where the quiet-host number
    * was 2.4 s — the rebuild made the op contention-sensitive). */
  private val shpMemo = new SessionMemo[DataFrame]

  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    shpMemo(s, dir)(
      simhashPairsRaw(s, dir).localCheckpoint(eager = true))

  private def simhashPairsRaw(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("h", md5(col("w")))
    // nibble q value of the token hash, 0-based q (codegen'd hexSlice)
    def nib(q: Int): Column =
      graft.functions.VectorExprs.hexSlice(col("h"), q + 1, 1)
    // per-doc: for each of 64 bits, count of tokens with that bit set —
    // LANE-PACKED: the 4 bit-counts of one nibble ride ONE BIGINT sum
    // in 16-bit lanes (counts bounded by n_tok, and distinct tokens per
    // doc ≪ 2¹⁵ so even the 2⁴⁸ lane cannot overflow the signed sum).
    // 64 single-bit sum() columns measured 3× slower than these 16.
    def bitOf(q: Int, b: Int): Column =
      shiftright(nib(q), 3 - b).bitwiseAND(lit(1L))
    val bitSums = tok.groupBy("doc_id").agg(
      count(lit(1)).as("n_tok"),
      (for (q <- 0 until 16) yield
        sum((0 until 4).map(b => bitOf(q, b) * lit(1L << (16 * (3 - b))))
          .reduce(_ + _)).as(s"sq$q")): _*)
    // majority per bit (unpacked from its lane) -> nibble value ->
    // hex char -> 16-char simhash
    val nibbles = (0 until 16).map { q =>
      (0 until 4).map { b =>
        val cnt = shiftright(col(s"sq$q"), 16 * (3 - b)).bitwiseAND(lit(0xFFFFL))
        when(cnt * 2 > col("n_tok"),
          lit(1 << (3 - b))).otherwise(lit(0))
      }.reduce(_ + _).as(s"v$q")
    }
    val withNib = bitSums.select(col("doc_id") +: nibbles: _*)
    // sim feeds the chunk explode + both pair sides — cache so the
    // 64-bit-sum aggregation runs once
    val sim = withNib.select(
      col("doc_id") +: (0 until 16).map(q => col(s"v$q")): _*).cache()
    val chunkRows = sim.select(col("doc_id"), explode(array(
      (0 until shChunks).map { c =>
        struct(lit(c).as("c"), concat(
          (0 until 4).map(j => expr(s"substr('0123456789abcdef', v${c * 4 + j} + 1, 1)")): _*).as("ck"))
      }: _*)).as("chunk"))
      .select(col("doc_id"), col("chunk.c"), col("chunk.ck"))
    val cand = chunkRows.alias("x")
      .join(chunkRows.alias("y"), col("x.c") === col("y.c") &&
        col("x.ck") === col("y.ck") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val va = sim.toDF("doc_a" +: (0 until 16).map(q => s"va$q"): _*)
    val vb = sim.toDF("doc_b" +: (0 until 16).map(q => s"vb$q"): _*)
    cand.join(va, "doc_a").join(vb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (0 until 16).map(q =>
          bit_count(col(s"va$q").bitwiseXOR(col(s"vb$q"))).cast("long"))
          .reduce(_ + _).as("hamming"))
      .filter(col("hamming") <= 12)
  }

  /** CTE chain ending in `shp(doc_a, doc_b, hamming)` — shared by
    * d_dedup_simhash's oracle and d_simhash_eval's composition. */
  private lazy val simhashCtesSql: String = {
    def nib(q: Int) = s"(strpos('0123456789abcdef', substr(h, ${q + 1}, 1)) - 1)"
    // same lane-packing as the Spark side: 4 bit-counts per nibble in
    // 16-bit lanes of one sum (DuckDB's HUGEINT intermediate is fine —
    // lanes are extracted before anything reaches the output schema)
    val sums = (for (q <- 0 until 16) yield
      "sum(" + (0 until 4).map(b =>
        s"((${nib(q)} // ${1 << (3 - b)}) % 2) * ${1L << (16 * (3 - b))}")
        .mkString(" + ") + s") AS sq$q").mkString(",\n  ")
    val nibbles = (0 until 16).map { q =>
      "(" + (0 until 4).map { b =>
        val cnt = s"((sq$q // ${1L << (16 * (3 - b))}) % 65536)"
        s"CASE WHEN $cnt * 2 > n_tok THEN ${1 << (3 - b)} ELSE 0 END"
      }.mkString(" + ") + s") AS v$q"
    }.mkString(",\n  ")
    val chunkSel = (0 until shChunks).map { c =>
      val ck = (0 until 4).map(j => s"substr('0123456789abcdef', v${c * 4 + j} + 1, 1)").mkString(" || ")
      s"SELECT doc_id, $c AS c, $ck AS ck FROM sim"
    }.mkString(" UNION ALL ")
    val ham = (0 until 16).map(q => s"bit_count(xor(sa.v$q, sb.v$q))").mkString(" + ")
    s"""tok AS (
       | SELECT doc_id, md5(unnest(list_distinct(string_split(text, ' ')))) AS h FROM documents
       |), bits AS (
       | SELECT doc_id, count(*) AS n_tok,
       |  $sums
       | FROM tok GROUP BY doc_id
       |), sim AS (
       | SELECT doc_id,
       |  $nibbles
       | FROM bits
       |), cr AS ($chunkSel
       |), cand AS (
       | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       | FROM cr x JOIN cr y ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id
       |), shp AS (
       | SELECT c.doc_a, c.doc_b, CAST($ham AS BIGINT) AS hamming
       | FROM cand c JOIN sim sa ON sa.doc_id = c.doc_a
       |             JOIN sim sb ON sb.doc_id = c.doc_b
       | WHERE $ham <= 12
       |)""".stripMargin
  }

  lazy val dedupSimhashSql: String =
    s"""WITH $simhashCtesSql
       |SELECT doc_a, doc_b, hamming FROM shp
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------ d_simhash_eval
  /** SimHash EVAL harness — the d_dedup_eval pattern applied to the
    * OTHER sketch family: simhash-claimed near-dups (hamming ≤
    * `shEvalHam` — within the radius the 16-bit-chunk candidate scheme
    * finds EXHAUSTIVELY, so the claim set is complete, not band-lucky)
    * scored against the same exact blocked-Jaccard truth (J > ½) as
    * integer precision/recall ppm. Puts minhash and simhash on one
    * yardstick: a "which sketch for this corpus" decision reads
    * d_dedup_eval and this table side by side. Composes two
    * independently oracle-checked chains; the oracle composes both CTE
    * chains, verifying the composition itself. */
  val shEvalHam = 3

  def simhashEval: Q = (s, dir) => {
    // per-call checkpoints → checkpoint the single result row, free the
    // pair sets with the scope (the dedupEval discipline)
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val pred = ck.lazily(simhashPairs(s, dir)
        .filter(col("hamming") <= shEvalHam)
        .select("doc_a", "doc_b"))
      val truth = ck.lazily(jaccardPairs(s, dir).select("doc_a", "doc_b"))
      val tp = pred.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      pred.agg(count(lit(1)).as("n_pred"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
        .select(col("n_pred"), col("n_truth"), col("n_tp"),
          expr("CASE WHEN n_pred = 0 THEN 0 ELSE (n_tp * 1000000) div n_pred END")
            .as("precision_ppm"),
          expr("CASE WHEN n_truth = 0 THEN 0 ELSE (n_tp * 1000000) div n_truth END")
            .as("recall_ppm"))
        .localCheckpoint(eager = true)
    }
  }

  lazy val simhashEvalSql: String =
    s"""WITH $simhashCtesSql,
       |$jaccardPairsSqlCte,
       |pred AS (
       | SELECT doc_a, doc_b FROM shp WHERE hamming <= $shEvalHam
       |), tp AS (
       | SELECT p.doc_a, p.doc_b FROM pred p
       | JOIN jp t ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
       |), cts AS (
       | SELECT (SELECT count(*) FROM pred) AS n_pred,
       |        (SELECT count(*) FROM jp) AS n_truth,
       |        (SELECT count(*) FROM tp) AS n_tp
       |)
       |SELECT n_pred, n_truth, n_tp,
       | CAST(CASE WHEN n_pred = 0 THEN 0
       |      ELSE (n_tp * 1000000) // n_pred END AS BIGINT) AS precision_ppm,
       | CAST(CASE WHEN n_truth = 0 THEN 0
       |      ELSE (n_tp * 1000000) // n_truth END AS BIGINT) AS recall_ppm
       |FROM cts""".stripMargin

  // ----------------------------------------------------- d_decontaminate
  /** Benchmark DECONTAMINATION — the cross-set overlap check every LLM
    * training pipeline runs before training (flag training documents
    * that leak evaluation data; GPT-3/Pile-style n-gram overlap). The
    * "eval set" is the deterministic 1%-ish slice doc_id % 97 == 0 (in
    * production it arrives as its own table; the machinery is
    * unchanged). A train×eval pair is reported when they share ≥
    * `decontMinShared` distinct df-capped shingles, and flagged
    * CONTAMINATED when ≥ 75% of the eval doc's shingles appear in the
    * training doc (integer cross-multiplication 4·inter ≥ 3·n_eval —
    * asymmetric containment OF THE EVAL SIDE, the direction that
    * matters: a tiny eval prompt inside a big training doc is a leak
    * even though Jaccard ≈ 0). Scale shape: candidates come from the
    * shingle equi-join (df-capped — boilerplate shingles pair
    * everything with everything and detect nothing), never a
    * train×eval product; at 100 TB the eval side is tiny and its
    * shingle set broadcasts. */
  val decontMinShared = 3

  def decontaminate: Q = (s, dir) => {
    val sh = cappedShingles(s, dir)._1
    val isEval = col("doc_id") % 97 === 0
    val train = sh.filter(!isEval).toDF("train_doc", "sh")
    val eval_ = sh.filter(isEval).toDF("eval_doc", "sh")
    val nEval = eval_.groupBy("eval_doc").agg(count(lit(1)).as("n_eval"))
    train.join(eval_, "sh")
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= decontMinShared)
      .join(nEval, "eval_doc")
      .select(col("train_doc"), col("eval_doc"), col("inter"), col("n_eval"),
        (lit(4) * col("inter") >= lit(3) * col("n_eval")).as("contaminated"))
      .orderBy("train_doc", "eval_doc")
  }

  val decontaminateSql: String =
    s"""WITH ds0 AS (
       | SELECT doc_id, unnest($shingleSqlExpr) AS sh FROM documents
       |), ds AS (
       | SELECT doc_id, sh FROM (
       |  SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM ds0
       | ) WHERE df <= $jacDfCap
       |), ne AS (
       | SELECT doc_id AS eval_doc, count(*) AS n_eval
       | FROM ds WHERE doc_id % 97 = 0 GROUP BY 1
       |), ov AS (
       | SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, count(*) AS inter
       | FROM ds t JOIN ds e ON t.sh = e.sh
       | WHERE t.doc_id % 97 <> 0 AND e.doc_id % 97 = 0
       | GROUP BY 1, 2
       |)
       |SELECT o.train_doc, o.eval_doc AS eval_doc, o.inter, ne.n_eval,
       |       4 * o.inter >= 3 * ne.n_eval AS contaminated
       |FROM ov o JOIN ne ON ne.eval_doc = o.eval_doc
       |WHERE o.inter >= $decontMinShared
       |ORDER BY o.train_doc, o.eval_doc""".stripMargin

  // ----------------------------------------------- d_decontaminate_fuzzy
  /** NEAR-DUP DECONTAMINATION — the fuzzy half of the benchmark-leak
    * check (the published training-report practice: exact n-gram
    * overlap AND near-duplicate matching, because a paraphrased or
    * lightly-edited eval document still leaks): eval docs (the
    * deterministic doc_id % 7 slice — wider than d_decontaminate's
    * % 97 so the near-dup measurement is non-vacuous at sf0.01, where
    * a 1% slice intersects zero of the ~25 near-dup pairs) are matched
    * against training docs through the MINHASH BAND INDEX — eval band
    * rows join the capped training band rows, so the candidate stage
    * is the d_dedup_incremental shape with the eval set as the probe
    * batch: cost ∝ eval bands × bucket cap, never train × eval.
    * Candidates are scored by exact signature agreement (the shared
    * scorePairs stage) and flagged when ≥ `fuzzyDecontMin` of the 9
    * components agree (est. Jaccard ≥ 2/3 — well past the J > 1/2
    * near-dup bar). At 100 TB the eval side is tiny: its band rows
    * broadcast, the training index is the already-built dedup index —
    * decontamination rides the existing structure for free. */
  val fuzzyDecontMin = 6

  def decontaminateFuzzy: Q = (s, dir) => {
    val sig = signatures(s, dir)
    // read twice (eval probe + train side) — eager per the multi-
    // reference checkpoint discipline
    val br = cappedBandRows(sig).localCheckpoint(eager = true)
    try {
      val isEval = col("doc_id") % 7 === 0
      val cand = br.filter(isEval).alias("x")
        .join(br.filter(!isEval).alias("y"),
          col("x.c") === col("y.c") && col("x.k0") === col("y.k0") &&
          col("x.k1") === col("y.k1") && col("x.k2") === col("y.k2"))
        .select(col("y.doc_id").as("doc_a"), col("x.doc_id").as("doc_b"))
        .distinct()
      scorePairs(sig, cand)
        .select(col("doc_a").as("train_doc"), col("doc_b").as("eval_doc"),
          col("n_match"),
          (col("n_match") >= fuzzyDecontMin).as("near_contaminated"))
        .orderBy("train_doc", "eval_doc")
        // the result must be its own eager checkpoint BEFORE the finally
        // releases br's blocks (the dedupIncremental discipline)
        .localCheckpoint(eager = true)
    } finally graft.model.PropertyGraph.freeLocalCheckpoint(br)
  }

  val decontaminateFuzzySql: String =
    s"""WITH $minhashBandCtesSql, cand AS (
       | SELECT DISTINCT y.doc_id AS train_doc, x.doc_id AS eval_doc
       | FROM br x JOIN br y ON x.c = y.c AND x.k0 = y.k0 AND x.k1 = y.k1
       |   AND x.k2 = y.k2
       | WHERE x.doc_id % 7 = 0 AND y.doc_id % 7 <> 0
       |)
       |SELECT c.train_doc, c.eval_doc, CAST($mhMatchSql AS BIGINT) AS n_match,
       | ($mhMatchSql) >= $fuzzyDecontMin AS near_contaminated
       |FROM cand c JOIN sig sa ON sa.doc_id = c.train_doc
       |            JOIN sig sb ON sb.doc_id = c.eval_doc
       |ORDER BY train_doc, eval_doc""".stripMargin

  // -------------------------------------------------- d_minhash_est_error
  /** MINHASH ESTIMATION-ERROR table — the sketch-accuracy adjudication
    * row the minhash family was missing (simhash and pHash already
    * carry theirs): over every exact blocked-Jaccard truth pair, the
    * 9-component signature-agreement ESTIMATE (n_match/9, the standard
    * unbiased minhash estimator) against the exact inter/union Jaccard,
    * per pair in ppm with the absolute error. This is the table that
    * justifies (or indicts) `mhSeeds = 9` — a production corpus reads
    * the error column and sizes its signature accordingly. Cost: one
    * signature join over the (tiny, near-dups-only) memoized truth pair
    * set — both stages are session-shared frames already warmed. */
  def minhashEstError: Q = (s, dir) => {
    val truth = jaccardPairs(s, dir)
    scorePairs(signatures(s, dir), truth.select("doc_a", "doc_b"))
      .join(truth, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("(inter * 1000000) div uni").as("exact_ppm"),
        expr(s"(n_match * 1000000) div $mhSeeds").as("est_ppm"))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("exact_ppm")))
      .orderBy("doc_a", "doc_b")
  }

  val minhashEstErrorSql: String =
    s"""WITH $minhashBandCtesSql,
       |$jaccardPairsSqlCte
       |SELECT jp.doc_a, jp.doc_b,
       | CAST((jp.inter * 1000000) // jp.uni AS BIGINT) AS exact_ppm,
       | CAST((($mhMatchSql) * 1000000) // $mhSeeds AS BIGINT) AS est_ppm,
       | CAST(abs((($mhMatchSql) * 1000000) // $mhSeeds
       |   - (jp.inter * 1000000) // jp.uni) AS BIGINT) AS abs_err_ppm
       |FROM jp JOIN sig sa ON sa.doc_id = jp.doc_a
       |        JOIN sig sb ON sb.doc_id = jp.doc_b
       |ORDER BY jp.doc_a, jp.doc_b""".stripMargin

  // ------------------------------------------------------ d_pipeline_e2e
  /** END-TO-END training-data gate — the operators COMPOSED, the way a
    * pipeline actually runs them: per document, the quality verdict
    * (t_corpus_filter's integer rules), the exact-duplicate verdict
    * (d_dedup_exact's canon ≠ self), the contamination verdict
    * (d_decontaminate's flagged train docs), the eval-set membership,
    * and the final keep = quality ∧ ¬dup ∧ ¬contaminated ∧ ¬eval — the
    * manifest a training run reads. One output row per document, so
    * the oracle (the three pipelines' SQL composed as nested CTEs)
    * checks the COMPOSITION, not just each stage. Scale shape: three
    * doc-keyed joins of already-shaped stages — each stage is its own
    * documented 100 TB plan, and the composition adds only doc-id
    * equi-joins (co-partitioned on the id at scale). */
  def pipelineE2e: Q = (s, dir) => {
    val q = TextOps.corpusFilter(s, dir)
      .select(col("doc_id"), col("keep").as("quality_ok"))
    val dup = dedupExact(s, dir)
      .select(col("doc_id"), (col("canon_id") =!= col("doc_id")).as("is_dup"))
    val cont = decontaminate(s, dir).filter(col("contaminated"))
      .select(col("train_doc").as("doc_id")).distinct()
      .withColumn("is_contaminated", lit(true))
    q.join(dup, "doc_id")
      .join(cont, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("quality_ok"), col("is_dup"),
        coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"),
        (col("doc_id") % 97 === 0).as("is_eval"))
      .withColumn("final_keep",
        col("quality_ok") && !col("is_dup") && !col("is_contaminated") &&
          !col("is_eval"))
      .orderBy("doc_id")
  }

  def pipelineE2eSql(corpusFilterSql: String): String =
    s"""WITH qf AS (
       |${corpusFilterSql}
       |), de AS (
       |${dedupExactSql}
       |), ct AS (
       |${decontaminateSql}
       |)
       |SELECT qf.doc_id, qf.keep AS quality_ok,
       | de.canon_id <> de.doc_id AS is_dup,
       | EXISTS (SELECT 1 FROM ct WHERE ct.contaminated
       |         AND ct.train_doc = qf.doc_id) AS is_contaminated,
       | qf.doc_id % 97 = 0 AS is_eval,
       | qf.keep AND de.canon_id = de.doc_id
       |   AND NOT EXISTS (SELECT 1 FROM ct WHERE ct.contaminated
       |                   AND ct.train_doc = qf.doc_id)
       |   AND qf.doc_id % 97 <> 0 AS final_keep
       |FROM qf JOIN de ON de.doc_id = qf.doc_id
       |ORDER BY qf.doc_id""".stripMargin

  // -------------------------------------------------- d_dedup_embedding
  /** Embedding near-dup pairs, cosine > 0.45, EXACT integer arithmetic:
    * vectors quantized to round(x·1000) BIGINTs, then
    * cos > τ ⇔ dot > 0 ∧ 400·dot² > 81·‖a‖²·‖b‖² (τ² = 0.2025 = 81/400
    * in lowest terms — the reduced coefficients keep the worst case at
    * 81·(64·10⁶)² ≈ 3.3×10¹⁷, a 28× margin under Long.Max, where the
    * unreduced 2025/10⁴ form sat within 10% of silent wraparound).
    * No float ever crosses an engine boundary. Brute-force pairs at
    * oracle scale; the LSH-bucketed scale path is `d_dedup_embedding_lsh`.
    */
  def dedupEmbedding: Q = (s, dir) => {
    // codegen'd native expression — aggregate/zip_with are
    // CodegenFallback and dominate the n²-pair hot path
    def dot(x: Column, y: Column): Column = graft.functions.VectorExprs.dotL(x, y)
    // norms computed ONCE per vector before the pairwise stage — inside
    // the pair loop they'd be recomputed per pair (64 mults × n² pairs)
    val q = Tables(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x =>
        floor(x.cast("double") * 1000 + 0.5).cast("long")).as("qe"))
      .withColumn("nn", dot(col("qe"), col("qe"))).cache()
    val a = q.toDF("vec_a", "qa", "na").repartition(col("vec_a"))
    // the broadcast that makes the exact baseline one-shuffle is GATED
    // like every other hint in the codebase: past the cap a forced
    // broadcast fails outright at the 8 GB ceiling — fall back to the
    // shuffle pair join and let AQE pick (the count is on the cached
    // frame, so the probe costs one cheap job)
    val bRaw = q.toDF("vec_b", "qb", "nb")
    val b = PropertyGraph.gated(bRaw, PropertyGraph.rowCount(q))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), dot(col("qa"), col("qb")).as("dp"),
        col("na"), col("nb"))
      .filter(col("dp") > 0 &&
        lit(400L) * col("dp") * col("dp") > lit(81L) * col("na") * col("nb"))
      .select(col("vec_a"), col("vec_b"), col("dp"), col("na"), col("nb"))
      .orderBy("vec_a", "vec_b")
  }

  val dedupEmbeddingSql: String =
    """WITH q AS (
      | SELECT vec_id, list_transform(embedding,
      |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe
      | FROM embeddings
      |)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      | CAST(list_dot_product(a.qe, b.qe) AS BIGINT) AS dp,
      | CAST(list_dot_product(a.qe, a.qe) AS BIGINT) AS na,
      | CAST(list_dot_product(b.qe, b.qe) AS BIGINT) AS nb
      |FROM q a, q b
      |WHERE a.vec_id < b.vec_id
      |  AND CAST(list_dot_product(a.qe, b.qe) AS BIGINT) > 0
      |  AND 400 * CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * CAST(list_dot_product(a.qe, b.qe) AS BIGINT)
      |      > 81 * CAST(list_dot_product(a.qe, a.qe) AS BIGINT) * CAST(list_dot_product(b.qe, b.qe) AS BIGINT)
      |ORDER BY vec_a, vec_b""".stripMargin

  // ------------------------------------------------------------ registry
  // -------------------------------------------------------- d_dedup_eval
  /** Dedup EVAL harness — the table that adjudicates sketch-parameter
    * changes, the dedup analogue of s_ann_recall: minhash-predicted
    * near-dup pairs (n_match ≥ `mhEvalMatch` of 9 ≈ estimated J ≥ ⅔)
    * scored against the exact ground truth (blocked Jaccard, J > ½) as
    * integer precision/recall ppm. Band count, bucket cap, or seed
    * family changes are judged by these two numbers moving — not by
    * eyeballing pair lists. Composes two independently oracle-checked
    * pipelines; the oracle composes their SQL CTE chains, so the
    * COMPOSITION itself is verified. One extra left-semi join + three
    * 1-row aggregates over the existing stages. */
  val mhEvalMatch = 6

  // ---------------------------------------------- d_dedup_threshold_curve
  /** The SCORE-THRESHOLD S-curve — the tuning axis d_lsh_tuning does
    * not cover: d_lsh_tuning varies the BANDING (candidate generation),
    * this varies the signature-agreement CUTOFF over ONE candidate set
    * (n_match ≥ t for t ∈ `mhCurveTs`), each threshold scored against
    * the same blocked-Jaccard truth. Precision rises and recall falls
    * monotonically in t by construction (spec-asserted) — the table a
    * "tighten the dedup?" decision reads next to the banding curve.
    * Cost: the candidate scoring runs ONCE (lazy checkpoint shared by
    * all thresholds); each row adds two count aggregates. */
  val mhCurveTs: Seq[Int] = Seq(5, 6, 7, 8, 9)

  def dedupThresholdCurve: Q = (s, dir) => {
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val scored = ck.lazily(dedupMinhashRaw(s, dir))
      val truth = ck.lazily(jaccardPairs(s, dir).select("doc_a", "doc_b"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      mhCurveTs.map { t =>
        val pred = scored.filter(col("n_match") >= t).select("doc_a", "doc_b")
        val tp = pred.join(truth, Seq("doc_a", "doc_b"), "left_semi")
        pred.agg(count(lit(1)).as("n_pred"))
          .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
          .crossJoin(broadcast(nTruth))
          .select(lit(t.toLong).as("threshold"), col("n_pred"),
            col("n_tp"), col("n_truth"),
            expr("CASE WHEN n_pred = 0 THEN 0 ELSE (n_tp * 1000000) div n_pred END")
              .as("precision_ppm"),
            expr("CASE WHEN n_truth = 0 THEN 0 ELSE (n_tp * 1000000) div n_truth END")
              .as("recall_ppm"))
      }.reduce(_.unionByName(_)).orderBy("threshold")
        .localCheckpoint(eager = true)
    }
  }

  lazy val dedupThresholdCurveSql: String =
    s"""WITH $minhashCtesSql,
       |$jaccardPairsSqlCte
       |SELECT threshold, n_pred, n_tp, n_truth,
       | CAST(CASE WHEN n_pred = 0 THEN 0
       |      ELSE (n_tp * 1000000) // n_pred END AS BIGINT) AS precision_ppm,
       | CAST(CASE WHEN n_truth = 0 THEN 0
       |      ELSE (n_tp * 1000000) // n_truth END AS BIGINT) AS recall_ppm
       |FROM (""".stripMargin +
      mhCurveTs.map(t =>
        s"""SELECT CAST($t AS BIGINT) AS threshold,
           | (SELECT count(*) FROM mhscored WHERE n_match >= $t) AS n_pred,
           | (SELECT count(*) FROM mhscored m
           |  JOIN jp ON jp.doc_a = m.doc_a AND jp.doc_b = m.doc_b
           |  WHERE m.n_match >= $t) AS n_tp,
           | (SELECT count(*) FROM jp) AS n_truth""".stripMargin)
        .mkString(" UNION ALL ") +
      ") ORDER BY threshold"

  def dedupEval: Q = (s, dir) => {
    // both pair sets are read twice (their count agg + the semi-join);
    // the candidate joins behind them are NOT covered by the upstream
    // sig/shingle caches, so without a checkpoint each runs twice.
    // per-call checkpoints → checkpoint the single result row, free the
    // pair sets with the scope (repeated eval calls would otherwise pin
    // a pred/truth copy per invocation)
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val pred = ck.lazily(dedupMinhashRaw(s, dir)
        .filter(col("n_match") >= mhEvalMatch)
        .select("doc_a", "doc_b"))
      val truth = ck.lazily(jaccardPairs(s, dir).select("doc_a", "doc_b"))
      val tp = pred.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      pred.agg(count(lit(1)).as("n_pred"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
        .select(col("n_pred"), col("n_truth"), col("n_tp"),
          expr("CASE WHEN n_pred = 0 THEN 0 ELSE (n_tp * 1000000) div n_pred END")
            .as("precision_ppm"),
          expr("CASE WHEN n_truth = 0 THEN 0 ELSE (n_tp * 1000000) div n_truth END")
            .as("recall_ppm"))
        .localCheckpoint(eager = true)
    }
  }

  val dedupEvalSql: String =
    s"""WITH $minhashCtesSql,
       |$jaccardPairsSqlCte,
       |pred AS (
       | SELECT doc_a, doc_b FROM mhscored WHERE n_match >= $mhEvalMatch
       |), tp AS (
       | SELECT p.doc_a, p.doc_b FROM pred p
       | JOIN jp t ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
       |), cts AS (
       | SELECT (SELECT count(*) FROM pred) AS n_pred,
       |        (SELECT count(*) FROM jp) AS n_truth,
       |        (SELECT count(*) FROM tp) AS n_tp
       |)
       |SELECT n_pred, n_truth, n_tp,
       | CAST(CASE WHEN n_pred = 0 THEN 0
       |      ELSE (n_tp * 1000000) // n_pred END AS BIGINT) AS precision_ppm,
       | CAST(CASE WHEN n_truth = 0 THEN 0
       |      ELSE (n_tp * 1000000) // n_truth END AS BIGINT) AS recall_ppm
       |FROM cts""".stripMargin

  // ----------------------------------------------------------- d_data_card
  /** PER-SOURCE DATA CARD — the release table a curated corpus ships
    * with (the Datasheets/Data-Cards practice made executable): for
    * every source, document and token mass, language spread, near-dup
    * rate (docs whose min-id cluster canon is not themselves — the
    * d_dedup_cluster assignment), and quality keep rate (the Gopher
    * gate), rates in exact ppm. One row per source; every input column
    * comes from an independently oracle-checked stage, and the oracle
    * composes their CTE chains — so the CARD itself is cross-engine
    * verified, not just its ingredients. Cost: two doc-keyed joins +
    * one partial-agged groupBy on a 20-value key. */
  def dataCard: Q = (s, dir) => {
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val dup = clusterAssign(s, dir).select(col("doc_id"),
      (col("canon_id") =!= col("doc_id")).cast("long").as("is_dup"))
    val keep = TextOps.gopherQuality(s, dir).select(col("doc_id"),
      col("keep").cast("long").as("is_keep"))
    d.join(dup, "doc_id").join(keep, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        countDistinct("lang").as("n_langs"),
        sum("is_dup").as("n_dup"),
        sum("is_keep").as("n_keep"))
      .withColumn("dup_ppm", expr("(n_dup * 1000000) div n_docs"))
      .withColumn("keep_ppm", expr("(n_keep * 1000000) div n_docs"))
      .orderBy("source")
  }

  lazy val dataCardSql: String =
    s"""WITH dc AS (
       |$dedupClusterSql
       |), gq AS (
       |${TextOps.gopherQualitySql}
       |)
       |SELECT source, n_docs, n_tokens, n_langs, n_dup, n_keep,
       | CAST((n_dup * 1000000) // n_docs AS BIGINT) AS dup_ppm,
       | CAST((n_keep * 1000000) // n_docs AS BIGINT) AS keep_ppm
       |FROM (
       | SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
       |  count(DISTINCT d.lang) AS n_langs,
       |  CAST(sum(CASE WHEN c.canon_id <> d.doc_id THEN 1 ELSE 0 END)
       |   AS BIGINT) AS n_dup,
       |  CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
       | FROM documents d
       | JOIN dc c ON c.doc_id = d.doc_id
       | JOIN gq g ON g.doc_id = d.doc_id
       | GROUP BY 1
       |)
       |ORDER BY source""".stripMargin

  // --------------------------------------------------------- d_lsh_tuning
  /** LSH BANDING-TUNING table — the S-curve made empirical: the SAME
    * 9-minhash signature table laid out as 9 bands × 1 row (high
    * recall), 3 × 3 (the production config), and 1 × 9 (near-exact
    * precision), each config's candidate pairs scored against the
    * blocked-Jaccard truth as precision/recall ppm. This is the table
    * a "do we need more bands for this corpus" decision reads —
    * changing the banding means re-running ONE harness, not eyeballing
    * pair lists. Same bucket-cap discipline as the production pipeline
    * (df-capped buckets per band key; identical in the oracle). Cost:
    * the signature table is computed once (session cache shared with
    * d_dedup_minhash); each config adds one band explode + one capped
    * band self-join — the candidate stages stay banded, nothing
    * all-pairs. */
  val lshConfigs: Seq[(String, Int)] = Seq(("b1r9", 9), ("b3r3", 3), ("b9r1", 1))

  def lshTuning: Q = (s, dir) => {
    val sig = signatures(s, dir)
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val truth = ck.lazily(jaccardPairs(s, dir).select("doc_a", "doc_b"))
      // ONE pass over the signature table for all three configs: each
      // config's band rows carry the config name inside a single
      // explode, so the bucket cap, the band self-join, and the truth
      // semi-join each run ONCE grouped by config instead of once per
      // config (the r6 verdict's 3×-duplicated-scan item). The self-join
      // stays capped and banded — the config column only widens the band
      // key, it never crosses configs.
      val bandRows = sig.select(col("doc_id"), explode(array(
        lshConfigs.flatMap { case (name, rows) =>
          val nB = mhSeeds / rows
          (0 until nB).map { b =>
            struct(lit(name).as("cfg"), lit(b).as("c"), concat_ws(",",
              (0 until rows).map(j => col(s"mh${b * rows + j}")): _*).as("key"))
          }
        }: _*)).as("bs"))
        .select(col("doc_id"), col("bs.cfg").as("cfg"), col("bs.c").as("c"),
          col("bs.key").as("key"))
      val keep = bandRows.groupBy("cfg", "c", "key")
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= mhBucketCap).select("cfg", "c", "key")
      val capped = bandRows.join(keep, Seq("cfg", "c", "key"), "left_semi")
      val pred = ck.own(capped.alias("x").join(capped.alias("y"),
          col("x.cfg") === col("y.cfg") && col("x.c") === col("y.c") &&
            col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.cfg").as("cfg"), col("x.doc_id").as("doc_a"),
          col("y.doc_id").as("doc_b"))
        .distinct()
        // read twice (n_pred count + the tp semi-join) — checkpoint once
        .localCheckpoint(eager = true))
      val nPred = pred.groupBy("cfg").agg(count(lit(1)).as("n_pred"))
      val nTp = pred.join(truth, Seq("doc_a", "doc_b"), "left_semi")
        .groupBy("cfg").agg(count(lit(1)).as("n_tp"))
      // literal config seed: a banding that predicts NOTHING must
      // surface as a zero row, not vanish from the groupBy
      val cfgSeed = s.range(lshConfigs.size).select(element_at(
        array(lshConfigs.map(c => lit(c._1)): _*),
        (col("id") + 1).cast("int")).as("config"))
      cfgSeed
        .join(nPred.toDF("config", "n_pred"), Seq("config"), "left_outer")
        .join(nTp.toDF("config", "n_tp"), Seq("config"), "left_outer")
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(col("config"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("n_truth"),
          coalesce(col("n_tp"), lit(0L)).as("n_tp"))
        .select(col("config"), col("n_pred"), col("n_truth"), col("n_tp"),
          expr("CASE WHEN n_pred = 0 THEN 0" +
            " ELSE (n_tp * 1000000) div n_pred END").as("precision_ppm"),
          expr("CASE WHEN n_truth = 0 THEN 0" +
            " ELSE (n_tp * 1000000) div n_truth END").as("recall_ppm"))
        .orderBy("config")
        .localCheckpoint(eager = true)
    }
  }

  lazy val lshTuningSql: String = {
    val b = new StringBuilder(s"WITH $minhashBandCtesSql,\n$jaccardPairsSqlCte")
    for ((name, rows) <- lshConfigs) {
      val nB = mhSeeds / rows
      val bandSel = (0 until nB).map { bb =>
        val key = (0 until rows).map(j => s"CAST(mh${bb * rows + j} AS VARCHAR)")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $bb AS c, $key AS key FROM sig"
      }.mkString(" UNION ALL ")
      b ++= s""", ${name}_b AS ($bandSel
               |), ${name}_k AS (
               | SELECT c, key FROM ${name}_b GROUP BY 1, 2
               | HAVING count(*) <= $mhBucketCap
               |), ${name}_c AS (
               | SELECT x.doc_id, x.c, x.key
               | FROM ${name}_b x JOIN ${name}_k USING (c, key)
               |), ${name}_p AS (
               | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
               | FROM ${name}_c x JOIN ${name}_c y
               |  ON x.c = y.c AND x.key = y.key AND x.doc_id < y.doc_id
               |), ${name}_m AS (
               | SELECT (SELECT count(*) FROM ${name}_p) AS n_pred,
               |  (SELECT count(*) FROM jp) AS n_truth,
               |  (SELECT count(*) FROM ${name}_p p JOIN jp t
               |    ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b) AS n_tp
               |)""".stripMargin
    }
    b ++= "\nSELECT config, n_pred, n_truth, n_tp, precision_ppm, recall_ppm FROM (" +
      lshConfigs.map { case (name, _) =>
        s"""SELECT '$name' AS config, n_pred, n_truth, n_tp,
           | CAST(CASE WHEN n_pred = 0 THEN 0
           |  ELSE (n_tp * 1000000) // n_pred END AS BIGINT) AS precision_ppm,
           | CAST(CASE WHEN n_truth = 0 THEN 0
           |  ELSE (n_tp * 1000000) // n_truth END AS BIGINT) AS recall_ppm
           |FROM ${name}_m""".stripMargin
      }.mkString(" UNION ALL ") +
      ") ORDER BY config"
    b.toString
  }

  // -------------------------------------------------- d_entity_resolution
  /** ENTITY RESOLUTION — fuzzy-matching dirty records back to canonical
    * entities, the metadata-dedup step (author/source/site names) that
    * exact dedup can't do. Shape: character-3-gram BLOCKING with a
    * document-frequency cap (the same df-cap discipline as the shingle
    * ops — a gram shared by every record makes an all-pairs block;
    * selective grams make small ones), then exact Levenshtein scoring
    * ONLY within blocks, then a deterministic argmin per dirty record
    * ((distance, name) struct — ties break lexically). Never all-pairs:
    * work is Σ block², bounded by the cap. The dirty side is a
    * DETERMINISTIC in-query corruption (one character substituted) so
    * both engines build the identical test set and the op doubles as
    * its own eval: `correct` says whether the argmin recovered the true
    * entity. Levenshtein is computed by both engines' native DP —
    * integer, no parity risk. */
  val erGramCap = 20

  def entityResolution: Q = (s, dir) => {
    val sup = Tables(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_name").as("name"))
    // corrupt ONE character (4th from the end) — lev(dirty, true) == 1
    val dirty = sup.select(col("id"),
      expr("concat(substr(name, 1, length(name) - 4), 'X'," +
        " substr(name, length(name) - 2, 3))").as("dirty"),
      col("name").as("true_name"))
    // guard: Spark's sequence(1, 0) is DESCENDING (not empty like
    // DuckDB's range) — a < 3-char value must emit no grams in both
    def grams(src: String): String =
      s"CASE WHEN length($src) >= 3 THEN " +
        s"transform(sequence(1, length($src) - 2), i -> substr($src, i, 3)) " +
        "ELSE cast(array() as array<string>) END"
    val cleanGrams = sup
      .select(col("id").as("cid"), col("name"),
        explode(expr(grams("name"))).as("g")).distinct()
    // df-cap over CLEAN records: grams in > cap entities block nothing
    val keep = cleanGrams.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= erGramCap).select("g")
    val cg = cleanGrams.join(broadcast(keep), Seq("g"))
    val dg = dirty
      .select(col("id"), col("dirty"),
        explode(expr(grams("dirty"))).as("g")).distinct()
    val cand = dg.join(cg, Seq("g"))
      .select(col("id"), col("dirty"), col("cid"), col("name")).distinct()
    val scored = cand.select(col("id"), col("dirty"), col("name"),
      levenshtein(col("dirty"), col("name")).as("lev"))
    val best = scored.groupBy("id", "dirty")
      .agg(min(struct(col("lev"), col("name"))).as("mx"))
      .select(col("id"), col("dirty"),
        col("mx.name").as("matched"), col("mx.lev").as("lev"))
    best.join(dirty.select(col("id"), col("true_name")), Seq("id"))
      .select(col("id"), col("dirty"), col("matched"), col("lev").cast("long").as("lev"),
        (col("matched") === col("true_name")).as("correct"))
      .orderBy("id")
  }

  val entityResolutionSql: String =
    s"""WITH sup AS (
       | SELECT s_suppkey AS id, s_name AS name FROM supplier
       |), dirty AS (
       | SELECT id,
       |  substr(name, 1, length(name) - 4) || 'X' ||
       |    substr(name, length(name) - 2, 3) AS dirty,
       |  name AS true_name
       | FROM sup
       |), cleang AS (
       | SELECT DISTINCT id AS cid, name,
       |  unnest(list_transform(range(1, greatest(length(name) - 2, 0) + 1),
       |    i -> substr(name, CAST(i AS INTEGER), 3))) AS g
       | FROM sup
       |), keep AS (
       | SELECT g FROM cleang GROUP BY g HAVING count(*) <= $erGramCap
       |), cg AS (
       | SELECT cleang.* FROM cleang JOIN keep USING (g)
       |), dg AS (
       | SELECT DISTINCT id, dirty,
       |  unnest(list_transform(range(1, greatest(length(dirty) - 2, 0) + 1),
       |    i -> substr(dirty, CAST(i AS INTEGER), 3))) AS g
       | FROM dirty
       |), cand AS (
       | SELECT DISTINCT dg.id, dg.dirty, cg.cid, cg.name
       | FROM dg JOIN cg USING (g)
       |), scored AS (
       | SELECT id, dirty, name, levenshtein(dirty, name) AS lev
       | FROM cand
       |), best AS (
       | SELECT id, dirty, name AS matched, lev FROM (
       |  SELECT id, dirty, name, lev,
       |   row_number() OVER (PARTITION BY id ORDER BY lev, name) AS rn
       |  FROM scored
       | ) WHERE rn = 1
       |)
       |SELECT b.id, b.dirty, b.matched, CAST(b.lev AS BIGINT) AS lev,
       | b.matched = d.true_name AS correct
       |FROM best b JOIN dirty d ON d.id = b.id
       |ORDER BY b.id""".stripMargin

  // ------------------------------------------------------ d_dataset_split
  /** Deterministic TRAIN/VAL/TEST SPLIT with a leakage guard — the
    * held-out-set cut every training run makes, done the way the dedup
    * literature says to (split on CONTENT, not on row id): the split
    * key is md5(text), so byte-identical duplicates land in the SAME
    * split by construction and exact-dup train→test leakage is
    * impossible. Split = first 8 md5 nibbles mod 10 → 0-7 train,
    * 8 val, 9 test (hash-based — reproducible under re-partitioning,
    * re-ingestion, and engine change, unlike any rand() split).
    * Output: per (source, split) doc count, token mass, and
    * within-source share in exact ppm — the table that shows every
    * source actually contributed to val/test — with the leakage audit
    * riding along: n_leak_hashes = distinct text-hashes seen in more
    * than one split, COMPUTED (one distinct + groupBy over (hash,
    * split)), not assumed; 0 is the invariant, and near-dup leakage
    * (this guard is exact-only) is d_decontaminate's job. Scale: the
    * split is a map-side projection; the report is two partial-agged
    * groupBys; the audit is hash-keyed — all shapes that survive
    * 100 TB. */
  def datasetSplit: Q = (s, dir) => {
    val hashed = docs(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      md5(col("text")).as("h"))
      .withColumn("split",
        when(graft.functions.VectorExprs.hexSlice(col("h"), 1, 8) % 10 <= 7,
          "train")
          .when(graft.functions.VectorExprs.hexSlice(col("h"), 1, 8) % 10 === 8,
            "val")
          .otherwise("test"))
    val leak = hashed.select("h", "split").distinct()
      .groupBy("h").agg(count(lit(1)).as("n_splits"))
      .agg(count(when(col("n_splits") > 1, 1)).as("n_leak_hashes"))
    val bySource = hashed.groupBy("source")
      .agg(count(lit(1)).as("n_src"))
    hashed.groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .join(bySource, "source")
      .crossJoin(broadcast(leak))
      .select(col("source"), col("split"), col("n_docs"), col("n_tokens"),
        expr("(n_docs * 1000000) div n_src").as("share_ppm"),
        col("n_leak_hashes"))
      .orderBy("source", "split")
  }

  val datasetSplitSql: String = {
    val h8 = OracleSql.hexToLong("h", 1, 8)
    s"""WITH hashed AS (
       | SELECT doc_id, source,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  md5(text) AS h
       | FROM documents
       |), sp AS (
       | SELECT doc_id, source, n_tokens, h,
       |  CASE WHEN ($h8) % 10 <= 7 THEN 'train'
       |       WHEN ($h8) % 10 = 8 THEN 'val'
       |       ELSE 'test' END AS split
       | FROM hashed
       |), leak AS (
       | SELECT count(CASE WHEN n_splits > 1 THEN 1 END) AS n_leak_hashes
       | FROM (SELECT h, count(*) AS n_splits
       |       FROM (SELECT DISTINCT h, split FROM sp) GROUP BY h)
       |), bysrc AS (
       | SELECT source, count(*) AS n_src FROM sp GROUP BY source
       |)
       |SELECT g.source, g.split, g.n_docs, g.n_tokens,
       | (g.n_docs * 1000000) // b.n_src AS share_ppm,
       | leak.n_leak_hashes
       |FROM (
       | SELECT source, split, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       | FROM sp GROUP BY source, split
       |) g JOIN bysrc b ON b.source = g.source, leak
       |ORDER BY g.source, g.split""".stripMargin
  }

  // ---------------------------------------------------- d_norm_dedup_gain
  /** NORMALIZATION-UNLOCKED DEDUP GAIN — the measurement that decides
    * whether a canonicalization pass is worth running before exact
    * dedup: distinct counts on the raw text vs the canonical form
    * (lowercase, strip non-alphanumerics, collapse runs of spaces,
    * trim — the standard exact-dedup canonicalizer), and the delta =
    * duplicates ONLY canonicalization exposes ("Hello  World!" vs
    * "hello world"). Hash-distinct both ways in ONE pass over the
    * corpus (two md5s per doc, two approx-free exact distincts); all
    * counts exact. At 100 TB both distincts are the same md5-keyed
    * aggregation exact dedup already pays — the gain table is free
    * relative to the pipeline it evaluates. */
  def normDedupGain: Q = (s, dir) => {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    docs(s, dir)
      .select(md5(col("text")).as("raw_h"), md5(canon).as("norm_h"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("distinct_raw"),
        countDistinct(col("norm_h")).as("distinct_norm"))
      .select(col("n_docs"), col("distinct_raw"), col("distinct_norm"),
        (col("n_docs") - col("distinct_raw")).as("dups_raw"),
        (col("distinct_raw") - col("distinct_norm")).as("dups_unlocked"))
  }

  val normDedupGainSql: String =
    """WITH h AS (
      | SELECT md5(text) AS raw_h,
      |  md5(trim(regexp_replace(
      |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |    ' +', ' ', 'g'))) AS norm_h
      | FROM documents
      |)
      |SELECT count(*) AS n_docs,
      | count(DISTINCT raw_h) AS distinct_raw,
      | count(DISTINCT norm_h) AS distinct_norm,
      | CAST(count(*) - count(DISTINCT raw_h) AS BIGINT) AS dups_raw,
      | CAST(count(DISTINCT raw_h) - count(DISTINCT norm_h) AS BIGINT)
      |  AS dups_unlocked
      |FROM h""".stripMargin

  // --------------------------------------------------------- d_fuzzy_join
  /** EDIT-DISTANCE SIMILARITY JOIN (the ED-Join / PassJoin partition
    * family — Li et al.): doc pairs whose 48-char prefixes are within
    * levenshtein distance ≤ `fuzzyD`, the string-similarity join that
    * complements the set-similarity family (minhash/jaccard measure
    * token overlap; edit distance catches char-level noise — OCR
    * artifacts, typos — that shingles blur). Candidate generation is
    * the PassJoin SHIFTED-PROBE partition scheme (r10 upgrade from the
    * same-position variant): the index side splits the prefix into
    * fuzzyD+1 fixed segments; the probe side extracts, per segment
    * position, every length-L substring starting within ±fuzzyD of it
    * (2·fuzzyD+1 probes per segment — 15 rows/doc at d=2). COMPLETE
    * for ed ≤ d on full-length prefixes: ≤ d edits leave ≥1 segment
    * un-edited by pigeonhole, and un-edited characters shift position
    * by at most d — so every true pair shares an (index-position,
    * probe-substring) key; Round10Spec proves completeness by
    * brute-forcing ALL prefix pairs in memory. Still never a cross
    * product: candidates join on 16-char substring keys (boilerplate
    * buckets would take the mhBucketCap treatment). Verification is
    * both engines' NATIVE levenshtein (full DP, an independent
    * implementation each — the q_events_asof oracle-independence
    * pattern). Docs shorter than the prefix are out of blocking scope
    * (documented; the corpus floor is above it). */
  val fuzzyD = 2
  val fuzzyPrefixLen = 48
  val fuzzySegLen = fuzzyPrefixLen / (fuzzyD + 1)

  def fuzzyJoin: Q = (s, dir) => {
    val pfx = docs(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, fuzzyPrefixLen).as("p"))
    // index side: the d+1 fixed segments
    val seg = pfx.select(col("doc_id"), col("p"),
      explode(expr(s"transform(sequence(1, ${fuzzyD + 1}), i -> " +
        s"struct(i AS i, substring(p, (i - 1) * $fuzzySegLen + 1, " +
        s"$fuzzySegLen) AS sg))")).as("e"))
      .select(col("doc_id"), col("p"), col("e.i").as("i"), col("e.sg").as("sg"))
      .filter(length(col("sg")) === fuzzySegLen)
    // probe side: per segment position, substrings shifted by -d..+d
    val probe = pfx.select(col("doc_id"), col("p"),
      explode(expr(
        s"flatten(transform(sequence(1, ${fuzzyD + 1}), i -> " +
          s"transform(sequence(-$fuzzyD, $fuzzyD), sh -> " +
          s"struct(i AS i, substring(p, (i - 1) * $fuzzySegLen + 1 + sh, " +
          s"$fuzzySegLen) AS sg, sh AS sh))))")).as("e"))
      .filter(expr(s"(e.i - 1) * $fuzzySegLen + 1 + e.sh >= 1"))
      .select(col("doc_id"), col("p"), col("e.i").as("i"), col("e.sg").as("sg"))
      .filter(length(col("sg")) === fuzzySegLen)
    // ordered pairs both ways canonicalize through least/greatest —
    // whichever doc plays index vs probe, the pair lands once
    val cand = seg.select(col("doc_id").as("ia"), col("p").as("pa"),
        col("i"), col("sg"))
      .join(probe.select(col("doc_id").as("ib"), col("p").as("pb"),
        col("i"), col("sg")), Seq("i", "sg"))
      .filter(col("ia") =!= col("ib"))
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"),
        when(col("ia") < col("ib"), col("pa")).otherwise(col("pb")).as("pa"),
        when(col("ia") < col("ib"), col("pb")).otherwise(col("pa")).as("pb"))
      .distinct()
    cand.filter(levenshtein(col("pa"), col("pb")) <= fuzzyD)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
      .orderBy("doc_a", "doc_b")
  }

  val fuzzyJoinSql: String = {
    val segs = (1 to fuzzyD + 1).map(i => s"($i)").mkString(", ")
    val shifts = (-fuzzyD to fuzzyD).map(v => s"($v)").mkString(", ")
    s"""WITH pfx AS (
       | SELECT doc_id, substr(text, 1, $fuzzyPrefixLen) AS p FROM documents
       |), seg AS (
       | SELECT doc_id, p, s.i AS i,
       |  substr(p, (s.i - 1) * $fuzzySegLen + 1, $fuzzySegLen) AS sg
       | FROM pfx, (VALUES $segs) s(i)
       | WHERE length(substr(p, (s.i - 1) * $fuzzySegLen + 1, $fuzzySegLen))
       |  = $fuzzySegLen
       |), probe AS (
       | SELECT doc_id, p, s.i AS i,
       |  substr(p, (s.i - 1) * $fuzzySegLen + 1 + h.sh, $fuzzySegLen) AS sg
       | FROM pfx, (VALUES $segs) s(i), (VALUES $shifts) h(sh)
       | WHERE (s.i - 1) * $fuzzySegLen + 1 + h.sh >= 1
       |  AND length(substr(p, (s.i - 1) * $fuzzySegLen + 1 + h.sh,
       |   $fuzzySegLen)) = $fuzzySegLen
       |), cand AS (
       | SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
       |  greatest(a.doc_id, b.doc_id) AS doc_b,
       |  CASE WHEN a.doc_id < b.doc_id THEN a.p ELSE b.p END AS pa,
       |  CASE WHEN a.doc_id < b.doc_id THEN b.p ELSE a.p END AS pb
       | FROM seg a JOIN probe b ON b.i = a.i AND b.sg = a.sg
       |  AND b.doc_id <> a.doc_id
       |)
       |SELECT doc_a, doc_b, CAST(levenshtein(pa, pb) AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(pa, pb) <= $fuzzyD
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "d_minhash_b_bit" -> minhashBBit,
    "d_fuzzy_join" -> fuzzyJoin,
    "d_norm_dedup_gain" -> normDedupGain,
    "d_dataset_split" -> datasetSplit,
    "d_dup_distribution" -> dupDistribution,
    "d_entity_resolution" -> entityResolution,
    "d_dedup_eval" -> dedupEval,
    "d_dedup_threshold_curve" -> dedupThresholdCurve,
    "d_containment" -> containment,
    "d_decontaminate" -> decontaminate,
    "d_decontaminate_fuzzy" -> decontaminateFuzzy,
    "d_minhash_est_error" -> minhashEstError,
    "d_pipeline_e2e" -> pipelineE2e,
    "d_dedup_exact" -> dedupExact,
    "d_dedup_span" -> dedupSpan,
    "d_dedup_span_rewrite" -> dedupSpanRewrite,
    "d_dedup_minhash" -> dedupMinhash,
    "d_weighted_minhash" -> weightedMinhash,
    "d_dedup_keep_best" -> dedupKeepBest,
    "d_dedup_len_bias" -> dedupLenBias,
    "d_weighted_minhash_eval" -> weightedMinhashEval,
    "d_dedup_incremental" -> dedupIncremental,
    "d_ngram_jaccard" -> ngramJaccard,
    "d_dedup_cluster" -> dedupCluster,
    "d_cross_shard_dup" -> crossShardDup,
    "d_soft_dedup" -> softDedup,
    "d_dedup_simhash" -> dedupSimhash,
    "d_simhash_eval" -> simhashEval,
    "d_source_overlap" -> sourceOverlap,
    "d_lsh_tuning" -> lshTuning,
    "d_data_card" -> dataCard,
    "d_dedup_embedding" -> dedupEmbedding)

  val oracleSql: Map[String, String] = Map(
    "d_minhash_b_bit" -> minhashBBitSql,
    "d_fuzzy_join" -> fuzzyJoinSql,
    "d_norm_dedup_gain" -> normDedupGainSql,
    "d_dataset_split" -> datasetSplitSql,
    "d_dup_distribution" -> dupDistributionSql,
    "d_entity_resolution" -> entityResolutionSql,
    "d_dedup_eval" -> dedupEvalSql,
    "d_dedup_threshold_curve" -> dedupThresholdCurveSql,
    "d_containment" -> containmentSql,
    "d_decontaminate" -> decontaminateSql,
    "d_decontaminate_fuzzy" -> decontaminateFuzzySql,
    "d_minhash_est_error" -> minhashEstErrorSql,
    "d_pipeline_e2e" -> pipelineE2eSql(TextOps.corpusFilterSql),
    "d_dedup_exact" -> dedupExactSql,
    "d_dedup_span" -> dedupSpanSql,
    "d_dedup_span_rewrite" -> dedupSpanRewriteSql,
    "d_dedup_minhash" -> dedupMinhashSql,
    "d_weighted_minhash" -> weightedMinhashSql,
    "d_dedup_keep_best" -> dedupKeepBestSql,
    "d_dedup_len_bias" -> dedupLenBiasSql,
    "d_weighted_minhash_eval" -> weightedMinhashEvalSql,
    "d_dedup_incremental" -> dedupIncrementalSql,
    "d_ngram_jaccard" -> ngramJaccardSql,
    "d_dedup_cluster" -> dedupClusterSql,
    "d_cross_shard_dup" -> crossShardDupSql,
    "d_soft_dedup" -> softDedupSql,
    "d_dedup_simhash" -> dedupSimhashSql,
    "d_simhash_eval" -> simhashEvalSql,
    "d_source_overlap" -> sourceOverlapSql,
    "d_lsh_tuning" -> lshTuningSql,
    "d_data_card" -> dataCardSql,
    "d_dedup_embedding" -> dedupEmbeddingSql)
}
