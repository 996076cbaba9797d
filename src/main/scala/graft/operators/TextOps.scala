package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{PropertyGraph, SessionMemo, Tables}

/** Text analysis operators (SURVEY.md §2 D-block): language id, quality
  * scoring, token counting, fingerprinting — all per-document linear
  * work, pure `org.apache.spark.sql.functions` (codegen'd, no UDFs).
  *
  * Parity rules: counts are exact integers; every ratio is computed as
  * round(CAST(int AS DOUBLE) / int, 4) — the division of identical
  * integers is bit-identical IEEE in both engines, so rounding is safe.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Tiny per-language stopword lists for the n-gram/stopword-hit
    * language heuristic. Deterministic tie-break: list order. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "en", "que", "los", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you", "wo", "ta"))

  // ------------------------------------------------------------ t_lang_id
  /** Stopword-hit language id: count token hits per language over the
    * word multiset, argmax with fixed tie order. One pass, one shuffle-
    * free projection (hits via array intersection sizes). */
  def langId: Q = (s, dir) => {
    val words = split(col("text"), " ")
    val hitCols = langStopwords.map { case (lang, sw) =>
      size(filter(words, w => sw.map(x => w === lit(x)).reduce(_ || _)))
        .cast("long").as(s"hits_$lang")
    }
    val withHits = docs(s, dir).select(col("doc_id") +: hitCols: _*)
    // argmax by strict-greater chain == first-in-list tiebreak
    val best = langStopwords.map(_._1).tail.foldLeft(
      (lit("en"), col("hits_en"))) { case ((bl, bh), lang) =>
      val h = col(s"hits_$lang")
      (when(h > bh, lit(lang)).otherwise(bl), when(h > bh, h).otherwise(bh))
    }
    withHits.select(col("doc_id"), best._1.as("pred_lang"),
      best._2.as("n_hits")).orderBy("doc_id")
  }

  val langIdSql: String = {
    def hits(sw: Seq[String]): String =
      "len(list_filter(string_split(text, ' '), w -> w IN (" +
        sw.map(w => s"'$w'").mkString(", ") + ")))"
    val hitCols = langStopwords.map { case (l, sw) => s"${hits(sw)} AS hits_$l" }
      .mkString(",\n  ")
    val langs = langStopwords.map(_._1)
    val bestLang = langs.tail.foldLeft("'en'") { case (acc, l) =>
      s"CASE WHEN hits_$l > ${greatestSoFar(langs.takeWhile(_ != l))} THEN '$l' ELSE $acc END"
    }
    // replicate the strict-greater fold exactly: later lang wins only if
    // STRICTLY greater than the running max of all earlier langs
    val bestHits = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    s"""WITH h AS (
       | SELECT doc_id,
       |  $hitCols
       | FROM documents
       |)
       |SELECT doc_id, $bestLang AS pred_lang,
       | CAST($bestHits AS BIGINT) AS n_hits
       |FROM h ORDER BY doc_id""".stripMargin
  }

  private def greatestSoFar(earlier: Seq[String]): String =
    if (earlier.size == 1) s"hits_${earlier.head}"
    else "greatest(" + earlier.map(l => s"hits_$l").mkString(", ") + ")"

  // ------------------------------------------------------ t_quality_score
  /** Quality heuristics: length, word count, mean word length, stopword
    * ratio, repetition (1 - distinct/total words). Composite score =
    * weighted sum, all ratios rounded at 4. */
  def qualityScore: Q = (s, dir) => {
    val words = split(col("text"), " ")
    val en = langStopwords.head._2
    docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      size(words).cast("long").as("n_words"),
      size(array_distinct(words)).cast("long").as("n_distinct"),
      size(filter(words, w => en.map(x => w === lit(x)).reduce(_ || _)))
        .cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_chars_m"), col("n_words"),
        round(col("n_chars_m").cast("double") / col("n_words"), 4).as("avg_word_len"),
        round(col("n_stop").cast("double") / col("n_words"), 4).as("stop_ratio"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 4)
          .as("rep_ratio"))
      // round at 6, NOT 4: the summands sit on the 1e-5 decimal grid, so
      // a 4-digit round lands exactly on .5 boundaries where Spark
      // (BigDecimal HALF_UP on the exact binary value) and DuckDB
      // (scaled nearbyint) disagree; at 6 digits the grid keeps every
      // value 5e-7 away from a boundary — far beyond double error.
      .withColumn("quality",
        round(least(col("n_words").cast("double") / 100, lit(1.0)) * 0.4 +
          col("stop_ratio") * 0.3 + (lit(1.0) - col("rep_ratio")) * 0.3, 6))
      .orderBy("doc_id")
  }

  val qualityScoreSql: String = {
    val en = langStopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH m AS (
       | SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_m,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($en))) AS BIGINT) AS n_stop
       | FROM documents
       |), r AS (
       | SELECT doc_id, n_chars_m, n_words,
       |  round(CAST(n_chars_m AS DOUBLE) / n_words, 4) AS avg_word_len,
       |  round(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
       |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 4) AS rep_ratio
       | FROM m
       |)
       |SELECT doc_id, n_chars_m, n_words, avg_word_len, stop_ratio, rep_ratio,
       | round(least(CAST(n_words AS DOUBLE) / 100, 1.0) * 0.4 +
       |       stop_ratio * 0.3 + (1.0 - rep_ratio) * 0.3, 6) AS quality
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- t_quality_calibration
  /** CALIBRATION of the cheap composite score against the rule gate:
    * per 0.1-wide quality bucket, how many docs the Gopher gate keeps
    * (count + keep ppm) — the "does the fast score predict the
    * expensive verdict" table that decides whether a corpus can be
    * pre-filtered by score alone at 100 TB (run the gate on one shard,
    * read this table, pick the score cutoff). Bucket = floor(q·10) on
    * the already-oracle-exact rounded double — both engines floor the
    * IDENTICAL IEEE value, so the binary-float boundary quirk
    * (0.3·10 = 2.999…) lands identically and parity holds. Composes
    * two oracle-checked ops; one groupBy on a ≤11-bucket key. */
  def qualityCalibration: Q = (s, dir) => {
    val q = qualityScore(s, dir).select(col("doc_id"),
      floor(col("quality") * 10).cast("long").as("q_bucket"))
    val g = gopherQuality(s, dir).select(col("doc_id"), col("keep"))
    q.join(g, "doc_id")
      .groupBy("q_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_gopher_keep"))
      .withColumn("keep_ppm", expr("(n_gopher_keep * 1000000) div n_docs"))
      .orderBy("q_bucket")
  }

  lazy val qualityCalibrationSql: String =
    s"""WITH qs AS (
       |$qualityScoreSql
       |), gq AS (
       |$gopherQualitySql
       |)
       |SELECT CAST(floor(q.quality * 10) AS BIGINT) AS q_bucket,
       | count(*) AS n_docs,
       | CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT)
       |  AS n_gopher_keep,
       | CAST((sum(CASE WHEN g.keep THEN 1 ELSE 0 END) * 1000000)
       |  // count(*) AS BIGINT) AS keep_ppm
       |FROM qs q JOIN gq g USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------- t_corpus_filter
  /** Corpus filter — the keep/drop verdict every training-data pipeline
    * ends its text stage with, composed from the quality signals. All
    * rules are INTEGER comparisons (cross-multiplied ratios), so no
    * float ever decides a verdict; `reason` is the first failing rule
    * in fixed order. Linear, shuffle-free, one projection. */
  /** The verdict transform over ANY (doc_id, text) frame — stateless
    * and per-row, so it runs unchanged as a STREAMING gate
    * (st_corpus_filter drives this same definition through MemoryStream
    * micro-batches; StreamsSpec proves streamed == batch under any
    * split). One definition ⇒ the online ingest gate and the batch
    * curation gate can never disagree on a verdict. */
  def corpusFilterOn(d: DataFrame): DataFrame = {
    val en = langStopwords.head._2
    d.select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        size(array_distinct(col("words"))).cast("long").as("n_distinct"),
        size(filter(col("words"), w => en.map(x => w === lit(x)).reduce(_ || _)))
          .cast("long").as("n_stop"))
      .withColumn("reason",
        when(col("n_words") < 20, "too_short")
          .when(col("n_words") > 1000, "too_long")
          .when(lit(5) * col("n_distinct") < lit(2) * col("n_words"), "repetitive")
          .when(lit(50) * col("n_stop") < col("n_words"), "low_stopword")
          .otherwise("ok"))
      .withColumn("keep", (col("reason") === "ok").cast("boolean"))
  }

  def corpusFilter: Q = (s, dir) =>
    corpusFilterOn(docs(s, dir)).orderBy("doc_id")

  val corpusFilterSql: String = {
    val en = langStopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH m AS (
       | SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($en))) AS BIGINT) AS n_stop
       | FROM documents
       |), v AS (
       | SELECT doc_id, n_words, n_distinct, n_stop,
       |  CASE WHEN n_words < 20 THEN 'too_short'
       |       WHEN n_words > 1000 THEN 'too_long'
       |       WHEN 5 * n_distinct < 2 * n_words THEN 'repetitive'
       |       WHEN 50 * n_stop < n_words THEN 'low_stopword'
       |       ELSE 'ok' END AS reason
       | FROM m
       |)
       |SELECT doc_id, n_words, n_distinct, n_stop, reason,
       | (reason = 'ok') AS keep
       |FROM v ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- t_token_count
  /** Whitespace tokens + BPE-ish regex tokens (letter runs / single
    * digits / single punctuation — the GPT-2 pre-tokenizer shape). */
  val bpePattern = "[a-z]+|[A-Z][a-z]*|[0-9]|[^A-Za-z0-9 ]"

  def tokenCount: Q = (s, dir) =>
    docs(s, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_m"))
      .orderBy("doc_id")

  val tokenCountSql: String =
    s"""SELECT doc_id,
       | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       | CAST(len(regexp_extract_all(text, '$bpePattern')) AS BIGINT) AS n_bpe_tokens,
       | CAST(length(text) AS BIGINT) AS n_chars_m
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- t_stratified_sample
  /** Deterministic stratified sampling — the data-mixing primitive of a
    * training pipeline: documents are stratified by length band and
    * each band keeps a different fraction (short 50%, medium 20%, long
    * 10%), selected by a HASH of the doc id rather than an RNG so the
    * sample is reproducible, engine-exact, and stable under re-runs /
    * re-partitioning. The hash is the first 4 md5 nibbles of the id
    * string → uniform 0..65535, mod 100 against the band's rate.
    * Linear, shuffle-free. */
  def stratifiedSample: Q = (s, dir) => {
    val h4 = graft.functions.VectorExprs.hexSlice(
      md5(col("doc_id").cast("string")), 1, 4)
    docs(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .withColumn("stratum",
        when(col("n_words") < 40, "short")
          .when(col("n_words") < 70, "medium")
          .otherwise("long"))
      .withColumn("pct", (h4 % 100).cast("long"))
      .filter(
        (col("stratum") === "short" && col("pct") < 50) ||
        (col("stratum") === "medium" && col("pct") < 20) ||
        (col("stratum") === "long" && col("pct") < 10))
      .select("doc_id", "stratum", "n_words", "pct")
      .orderBy("doc_id")
  }

  val stratifiedSampleSql: String = {
    val h4 = (0 until 4).map { k =>
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), ${k + 1}, 1)) - 1) * ${1 << (4 * (3 - k))}"
    }.mkString(" + ")
    s"""WITH m AS (
       | SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |  CAST(($h4) % 100 AS BIGINT) AS pct
       | FROM documents
       |), st AS (
       | SELECT doc_id, n_words, pct,
       |  CASE WHEN n_words < 40 THEN 'short'
       |       WHEN n_words < 70 THEN 'medium'
       |       ELSE 'long' END AS stratum
       | FROM m
       |)
       |SELECT doc_id, stratum, n_words, pct FROM st
       |WHERE (stratum = 'short' AND pct < 50)
       |   OR (stratum = 'medium' AND pct < 20)
       |   OR (stratum = 'long' AND pct < 10)
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- t_ngram_stats
  /** Corpus-level n-gram statistics: the top-100 word bigrams by global
    * frequency — the vocabulary/tokenizer-training primitive. Explode
    * bigrams (words materialized once — see shingle CSE note in Dedup),
    * one partial-aggregated groupBy, exact top-k with a deterministic
    * (count DESC, bigram ASC) tie-break. At 100 TB this is the
    * canonical map-side-combine wordcount: shuffle volume is the
    * DISTINCT bigram set per partition, not the corpus. */
  val ngramTopK = 100

  def ngramStats: Q = (s, dir) => {
    val words = col("words")
    val bigrams = when(size(words) >= 2,
      transform(sequence(lit(0), size(words) - 2),
        i => concat_ws(" ", element_at(words, i + 1), element_at(words, i + 2))))
      .otherwise(expr("cast(array() as array<string>)"))
    docs(s, dir)
      .select(split(col("text"), " ").as("words"))
      .select(explode(bigrams).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(ngramTopK)
  }

  val ngramStatsSql: String =
    s"""WITH w AS (
       | SELECT string_split(text, ' ') AS words FROM documents
       |), bg AS (
       | SELECT unnest(list_transform(
       |   range(1, greatest(len(words) - 1, 0) + 1),
       |   i -> words[i] || ' ' || words[i+1])) AS bigram
       | FROM w
       |)
       |SELECT bigram, count(*) AS n FROM bg
       |GROUP BY bigram ORDER BY n DESC, bigram LIMIT $ngramTopK""".stripMargin

  // --------------------------------------------------------------- t_pmi
  /** POINTWISE MUTUAL INFORMATION for the top bigrams — the
    * collocation detector tokenizer/phrase-mining pipelines run before
    * merging frequent pairs into vocabulary units. PMI is
    * log(P(ab)/(P(a)P(b))); the LOG never crosses the engine boundary
    * (libm parity is not a contract anyone should sign) — published
    * instead is the exact integer RATIO in ppm:
    * ratio_ppm = (c(ab)·N_uni²·10⁶) div (N_bi·c(a)·c(b)) via
    * DECIMAL(38,0) cross-multiplication (N_uni² ≤ 10²⁴ at 10¹²
    * tokens; ×c(ab)·10⁶ stays under 38 digits for c(ab) ≤ 10⁸ —
    * document the unit scale-down past that). ratio > 10⁶ ⇔ PMI > 0
    * (attraction), monotone in PMI, so ranking/thresholding reads the
    * same. Candidates = the top-`pmiTopK` bigrams by count
    * (deterministic cut); unigram counts attach by two broadcast-side
    * joins of the tiny candidate frame against the word-keyed
    * aggregate — the corpus is scanned twice (unigrams, bigrams), both
    * map-side-combinable wordcounts, nothing else scales with data. */
  val pmiTopK = 30

  def pmi: Q = (s, dir) => {
    val words = col("words")
    val bigrams = when(size(words) >= 2,
      transform(sequence(lit(0), size(words) - 2),
        i => concat_ws(" ", element_at(words, i + 1), element_at(words, i + 2))))
      .otherwise(expr("cast(array() as array<string>)"))
    val wds = docs(s, dir).select(split(col("text"), " ").as("words"))
    val uni = wds.select(explode(words).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val nUni = uni.agg(sum("cw").as("n_uni"))
    val bi = wds.select(explode(bigrams).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cab"))
    val nBi = bi.agg(sum("cab").as("n_bi"))
    val top = bi.orderBy(col("cab").desc, col("bigram")).limit(pmiTopK)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    top
      .join(uni.toDF("w1", "c1"), Seq("w1"))
      .join(uni.toDF("w2", "c2"), Seq("w2"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("bigram"), col("cab"), col("c1"), col("c2"),
        expr("""CAST((CAST(cab AS DECIMAL(38,0)) * n_uni * n_uni * 1000000)
          div (CAST(n_bi AS DECIMAL(38,0)) * c1 * c2) AS BIGINT)""")
          .as("pmi_ratio_ppm"))
      .orderBy("bigram")
  }

  val pmiSql: String =
    s"""WITH w AS (
       | SELECT string_split(text, ' ') AS words FROM documents
       |), uni AS (
       | SELECT unnest(words) AS w FROM w
       |), uc AS (SELECT w, count(*) AS cw FROM uni GROUP BY w
       |), nu AS (SELECT CAST(sum(cw) AS HUGEINT) AS n_uni FROM uc
       |), bg AS (
       | SELECT unnest(list_transform(
       |   range(1, greatest(len(words) - 1, 0) + 1),
       |   i -> words[i] || ' ' || words[i+1])) AS bigram
       | FROM w
       |), bc AS (SELECT bigram, count(*) AS cab FROM bg GROUP BY bigram
       |), nb AS (SELECT CAST(sum(cab) AS HUGEINT) AS n_bi FROM bc
       |), top AS (
       | SELECT bigram, cab,
       |  string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2
       | FROM bc ORDER BY cab DESC, bigram LIMIT $pmiTopK
       |)
       |SELECT t.bigram, t.cab, u1.cw AS c1, u2.cw AS c2,
       | CAST((CAST(t.cab AS HUGEINT) * nu.n_uni * nu.n_uni * 1000000)
       |  // (nb.n_bi * u1.cw * u2.cw) AS BIGINT) AS pmi_ratio_ppm
       |FROM top t
       |JOIN uc u1 ON u1.w = t.w1
       |JOIN uc u2 ON u2.w = t.w2
       |CROSS JOIN nu CROSS JOIN nb
       |ORDER BY t.bigram""".stripMargin

  // -------------------------------------------------------- t_pii_redact
  /** PII-pattern redaction — the pipeline's scrubbing gate, run over
    * `events.props` (the corpus' only free-text-with-digits column):
    * digit runs are replaced with '#' and the op reports, per event
    * type, how many rows changed, the distinct redacted forms, and the
    * total pattern hits. The regex is deliberately in the Java∩RE2
    * common subset (a plain character class — no lookaround, no
    * backrefs) so Spark (java.util.regex) and DuckDB (RE2) agree by
    * construction; production patterns (emails, phones) stay in that
    * subset too. Linear per row, one 5-group shuffle. */
  val piiPattern = "[0-9]+"

  /** The stateless per-row redaction — ONE definition shared by the
    * batch op and the streaming ingest stage (`st_pii_redact`), the
    * corpusFilterOn discipline: the online scrubber and the
    * oracle-checked batch scrubber can never disagree. */
  def piiRedactRows(d: DataFrame): DataFrame =
    d.select(col("event_type"), col("props"),
      regexp_replace(col("props"), piiPattern, "#").as("red"))

  def piiRedact: Q = (s, dir) => {
    piiRedactRows(Tables(s, dir, "events"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("red") =!= col("props"), 1L).otherwise(0L)).as("n_changed"),
        countDistinct(col("red")).as("n_forms"),
        sum(regexp_count(col("props"), lit(piiPattern)).cast("long")).as("n_hits"))
      .orderBy("event_type")
  }

  val piiRedactSql: String =
    s"""WITH r AS (
       | SELECT event_type, props,
       |  regexp_replace(props, '$piiPattern', '#', 'g') AS red
       | FROM events
       |)
       |SELECT event_type, count(*) AS n_events,
       | CAST(sum(CASE WHEN red <> props THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       | count(DISTINCT red) AS n_forms,
       | CAST(sum(len(regexp_extract_all(props, '$piiPattern'))) AS BIGINT) AS n_hits
       |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ t_tfidf
  /** TF-IDF top-3 terms per document — the retrieval/feature primitive.
    * idf is the SCALED-INTEGER proxy (N·1000) div df — like ln(N/df) it
    * strictly decreases in df, but tf·proxy is NOT order-identical to
    * tf·ln(N/df) (the proxy decays polynomially, ln logarithmically, so
    * tf can outvote df differently); it is a deliberate integer
    * surrogate family, chosen because BOTH engines compute the same
    * exact arithmetic — ln would put a float on the engine boundary.
    *
    * Scale shape: one tokenization pass. The term-frequency groupBy is
    * the map-side-combine wordcount (exchange on (doc_id, term),
    * shuffle = distinct (doc, term) pairs); df is `count(1) OVER
    * (PARTITION BY term)` on that tf frame (exchange on term), so the
    * corpus is never tokenized twice and no vocabulary-side join runs.
    * A hot term's window group is buffered in the window operator's
    * spillable row array; a vocabulary-side sort-merge join would route
    * the same skewed key to one task. N is one `rowCount` of the
    * document frame, inlined as a BIGINT literal. The top-3 window
    * exchanges once on doc_id. Ties broken (score DESC, term ASC) —
    * fully deterministic. */
  def tfidf: Q = (s, dir) => {
    val nDocs = PropertyGraph.rowCount(docs(s, dir))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("score", col("tf") * expr(s"(${nDocs}L * 1000) div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy("doc_id", "rank")
  }

  val tfidfSql: String =
    """WITH td AS (
      | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      | SELECT doc_id, term, count(*) AS tf FROM td GROUP BY doc_id, term
      |), df AS (
      | SELECT term, count(*) AS df FROM tf GROUP BY term
      |), n AS (
      | SELECT count(*) AS n_docs FROM documents
      |), scored AS (
      | SELECT tf.doc_id, tf.term, tf.tf * ((n.n_docs * 1000) // df.df) AS score
      | FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      |)
      |SELECT doc_id, CAST(row_number() OVER w AS INT) AS rank, term, score
      |FROM scored
      |WINDOW w AS (PARTITION BY doc_id ORDER BY score DESC, term)
      |QUALIFY row_number() OVER w <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------------- t_heavy_hitters
  /** Count-min-sketch heavy hitters: a depth-3 × width-64 CMS built
    * over the corpus word stream, then the exact top-20 words compared
    * against their sketch estimates (`n_est >= n_exact` always — CMS
    * only overestimates). Like `t_distinct_kmv`, the hash family is
    * deterministic md5-nibble arithmetic, so the SKETCH ITSELF is
    * oracle-exact — the DuckDB twin rebuilds the identical 192 cells.
    *
    * Scale shape: the sketch is built from the PRE-AGGREGATED term
    * counts (cells(r,b) = Σ n over tokens hashing to b — identical to
    * streaming every occurrence, but the md5s run once per DISTINCT
    * token); the cell table is 192 rows (fixed, independent of corpus
    * size — the whole point of a sketch) and broadcast into the
    * estimate joins. One real shuffle (the wordcount). */
  val hhDepth = 3
  val hhWidth = 64
  val hhTopK = 20

  private def hhBucketCol(r: Int): Column =
    graft.functions.VectorExprs.hexSlice(
      md5(concat(lit(s"$r:"), col("token"))), 1, 2) % hhWidth

  def heavyHitters: Q = (s, dir) => {
    val tc = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val tb = tc.select(Seq(col("token"), col("n")) ++
      (0 until hhDepth).map(r => hhBucketCol(r).as(s"b$r")): _*)
      .cache() // feeds the 3 cell builds + the top-k side
    val top = tb.orderBy(col("n").desc, col("token")).limit(hhTopK)
    var est = top
    for (r <- 0 until hhDepth) {
      val cr = tb.groupBy(col(s"b$r")).agg(sum("n").as(s"c$r"))
      est = est.join(broadcast(cr), Seq(s"b$r"))
    }
    est.select(col("token"), col("n").as("n_exact"),
        (0 until hhDepth).map(r => col(s"c$r")).reduce(least(_, _)).as("n_est"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  val heavyHittersSql: String = {
    def bucket(r: Int): String =
      s"((strpos('0123456789abcdef', substr(md5('$r:' || token), 1, 1)) - 1) * 16 + " +
        s"(strpos('0123456789abcdef', substr(md5('$r:' || token), 2, 1)) - 1)) % $hhWidth"
    val bcols = (0 until hhDepth).map(r => s"${bucket(r)} AS b$r").mkString(",\n  ")
    val cellJoins = (0 until hhDepth).map(r =>
      s"JOIN cells$r ON cells$r.b$r = top.b$r").mkString("\n ")
    val cellCtes = (0 until hhDepth).map(r =>
      s"cells$r AS (SELECT b$r, CAST(sum(n) AS BIGINT) AS c$r FROM tb GROUP BY b$r)")
      .mkString(", ")
    s"""WITH tok AS (
       | SELECT unnest(string_split(text, ' ')) AS token FROM documents
       |), tc AS (
       | SELECT token, count(*) AS n FROM tok GROUP BY token
       |), tb AS (
       | SELECT token, n,
       |  $bcols
       | FROM tc
       |), $cellCtes,
       |top AS (
       | SELECT * FROM tb ORDER BY n DESC, token LIMIT $hhTopK
       |)
       |SELECT top.token, top.n AS n_exact,
       | least(${(0 until hhDepth).map(r => s"c$r").mkString(", ")}) AS n_est
       |FROM top $cellJoins
       |ORDER BY n_exact DESC, token""".stripMargin
  }

  // ------------------------------------------------------ t_zipf_profile
  /** ZIPFIAN DECAY PROFILE — rank × frequency for the top-`zipfK`
    * corpus terms, normalized to the top term in exact ppm
    * (zipf_ppm = f(r)·r·10⁶ div f(1) — flat ≈ 10⁶ under a perfect
    * 1/r law, decaying below it when the head is heavier): the
    * one-table check that a corpus's token distribution is natural
    * language rather than boilerplate or noise, read next to t_hapax
    * and t_simpson_diversity. Same tokenization as t_heavy_hitters;
    * one partial-agged term count, TakeOrdered top-k, then rank and
    * normalize INSIDE the 20-row frame (the window is bounded by the
    * limit, never the vocabulary). No logs, no floats — the profile
    * is the integer table a Zipf slope would be fit to. */
  val zipfK = 20

  def zipfProfile: Q = (s, dir) => {
    val tc = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val top = tc.orderBy(col("freq").desc, col("term")).limit(zipfK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term"))
    val f1 = top.agg(max("freq").as("f1"))
    top.withColumn("zrank", row_number().over(w).cast("long"))
      .crossJoin(broadcast(f1))
      .select(col("zrank"), col("term"), col("freq"),
        expr("(freq * zrank * 1000000) div f1").as("zipf_ppm"))
      .orderBy("zrank")
  }

  val zipfProfileSql: String =
    s"""WITH tok AS (
       | SELECT unnest(string_split(text, ' ')) AS term FROM documents
       |), tc AS (
       | SELECT term, count(*) AS freq FROM tok GROUP BY term
       |), top AS (
       | SELECT term, freq FROM tc ORDER BY freq DESC, term LIMIT $zipfK
       |), f1 AS (SELECT max(freq) AS f1 FROM top),
       |r AS (
       | SELECT term, freq, CAST(row_number() OVER (
       |   ORDER BY freq DESC, term) AS BIGINT) AS zrank
       | FROM top
       |)
       |SELECT r.zrank, r.term, r.freq,
       | CAST((r.freq * r.zrank * 1000000) // f1.f1 AS BIGINT) AS zipf_ppm
       |FROM r, f1 ORDER BY zrank""".stripMargin

  // ---------------------------------------------------- t_pack_sequences
  /** Training-sequence packing — the concat-then-chunk step that turns a
    * filtered corpus into fixed-length training sequences: documents are
    * concatenated in deterministic (shard, doc_id) order and chunked
    * into `packSeqLen`-token blocks; each doc records the block it
    * starts in, its offset inside that block, and how many blocks it
    * spans. Packing is PER SHARD (doc_id mod `packShards`): a single
    * global running sum would serialize the whole corpus through one
    * partition, while per-shard windows keep every shard independent —
    * exactly how production pipelines pack per input file. All integer
    * arithmetic (`div`/`%`), window = one partitioned cumulative sum. */
  val packSeqLen = 2048L
  val packShards = 8L

  def packSequences: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs(s, dir)
      .select(col("doc_id"), (col("doc_id") % packShards).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"cum_before div $packSeqLen").as("seq_id"),
        (col("cum_before") % packSeqLen).as("offset"),
        expr(s"((cum_before % $packSeqLen) + n_tokens + ${packSeqLen - 1}) div $packSeqLen")
          .as("n_seqs"))
      .orderBy("doc_id")
  }

  val packSequencesSql: String =
    s"""WITH t AS (
       | SELECT doc_id, doc_id % $packShards AS shard,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       | FROM documents
       |), c AS (
       | SELECT doc_id, shard, n_tokens,
       |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       | FROM t
       |)
       |SELECT doc_id, shard, n_tokens,
       | cum_before // $packSeqLen AS seq_id,
       | cum_before % $packSeqLen AS offset,
       | ((cum_before % $packSeqLen) + n_tokens + ${packSeqLen - 1}) // $packSeqLen AS n_seqs
       |FROM c ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- t_rep_ngram
  /** Duplicate-bigram repetition score — the Gopher-style "fraction of
    * duplicate n-grams" quality rule: per document, total vs distinct
    * word-bigram occurrences; a doc is `repetitive` when strictly more
    * than 5 % of its bigram occurrences are duplicates, decided by the
    * integer cross-multiplication 20·dup > total (no float decides the
    * verdict — threshold chosen to split the corpus: dup ratios here
    * range 0–13 %). < 2-word docs have zero bigrams (guarded identically in
    * both engines) and are never repetitive. Per-row HOF compute over a
    * once-materialized words array — linear, shuffle-free. */
  def repNgram: Q = (s, dir) => {
    val words = col("words")
    val bigrams = when(size(words) >= 2,
      transform(sequence(lit(0), size(words) - 2),
        i => concat_ws(" ", element_at(words, i + 1), element_at(words, i + 2))))
      .otherwise(expr("cast(array() as array<string>)"))
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"),
        size(bigrams).cast("long").as("n_bigrams"),
        size(array_distinct(bigrams)).cast("long").as("n_distinct_bg"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bg"),
        (col("n_bigrams") - col("n_distinct_bg")).as("n_dup"),
        (lit(20L) * (col("n_bigrams") - col("n_distinct_bg")) > col("n_bigrams"))
          .as("repetitive"))
      .orderBy("doc_id")
  }

  val repNgramSql: String =
    """WITH w AS (
      | SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |), bg AS (
      | SELECT doc_id,
      |  CASE WHEN len(words) >= 2 THEN list_transform(
      |    range(1, len(words) - 1 + 1), i -> words[i] || ' ' || words[i+1])
      |   ELSE [] END AS bigrams
      | FROM w
      |), m AS (
      | SELECT doc_id,
      |  CAST(len(bigrams) AS BIGINT) AS n_bigrams,
      |  CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bg
      | FROM bg
      |)
      |SELECT doc_id, n_bigrams, n_distinct_bg,
      | n_bigrams - n_distinct_bg AS n_dup,
      | (20 * (n_bigrams - n_distinct_bg) > n_bigrams) AS repetitive
      |FROM m ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ t_distinct_kmv
  /** KMV (bottom-k minimum values) distinct-count sketch over the
    * corpus's 3-gram shingles, with its exact ground truth beside it.
    * THE deterministic sketch: unlike HLL/approx_percentile (whose
    * registers differ across engines), KMV over md5-derived 40-bit
    * integer hashes is a pure function of the data — both engines
    * compute the identical k-th minimum and the identical estimate
    * (k-1)·2⁴⁰ div h_k, so the sketch itself is oracle-checkable.
    * Scale shape: the bottom-k runs as TakeOrderedAndProject —
    * per-partition k-mins merged at the driver (32·k values), which IS
    * the distributed sketch-merge; the exact countDistinct next to it
    * is the full-shuffle path the sketch replaces at 100 TB. <3-word
    * docs contribute no shingles (standard guard, both engines). */
  val kmvK = 256
  val kmvScale = 1L << 40

  def distinctKmv: Q = (s, dir) => {
    val words = col("words")
    val shingles = when(size(words) >= 3,
      transform(sequence(lit(0), size(words) - 3),
        i => concat_ws(" ", element_at(words, i + 1),
          element_at(words, i + 2), element_at(words, i + 3))))
      .otherwise(expr("cast(array() as array<string>)"))
    val ex = docs(s, dir)
      .select(split(col("text"), " ").as("words"))
      .select(explode(shingles).as("sh"))
    // ONE distinct pass over the corpus explode, cached: round 3 fed
    // `ex` (explode + md5 over every shingle occurrence) into BOTH the
    // bottom-k and the exact countDistinct with no cache, paying the
    // expensive subtree twice — most of its 9.3 s. Both aggregates now
    // derive from this distinct-shingle frame (an intra-query cache);
    // the exact count is a plain count over it and the sketch hashes it. (At 100 TB the exact
    // count IS the full-shuffle path the sketch exists to replace —
    // it's here as the sketch's ground truth.)
    val dd = ex.distinct().cache()
    // 40-bit integer hash from the first 10 md5 nibbles — exact BIGINT
    // in both engines (codegen'd hexSlice; oracle keeps strpos form)
    val h40 = graft.functions.VectorExprs.hexSlice(col("h32"), 1, 10)
    val bk = dd.select(md5(col("sh")).as("h32"))
      .select(h40.as("h")).distinct()
      .orderBy("h").limit(kmvK)
    val sketch = bk.agg(count(lit(1)).cast("long").as("k_used"),
      max("h").as("hk"))
    dd.agg(count(lit(1)).cast("long").as("n_exact")).crossJoin(sketch)
      .select(col("n_exact"), col("k_used"), col("hk"),
        // fewer than k distinct hashes ⇒ the sketch saw everything:
        // return the exact count (standard KMV small-set contract)
        expr(s"CASE WHEN k_used < $kmvK THEN k_used" +
          s" WHEN hk > 0 THEN ((k_used - 1) * $kmvScale) div hk" +
          " ELSE k_used END").as("est_distinct"))
  }

  val distinctKmvSql: String = {
    val nib = (0 until 10).map { i =>
      s"(strpos('0123456789abcdef', substr(h32, ${i + 1}, 1)) - 1) * ${math.pow(16, 9 - i).toLong}"
    }.mkString("\n   + ")
    s"""WITH ex AS (
       | SELECT unnest($shingleKmvSqlExpr) AS sh FROM documents
       |), hh AS (
       | SELECT DISTINCT CAST($nib AS BIGINT) AS h
       | FROM (SELECT md5(sh) AS h32 FROM ex)
       |), bk AS (
       | SELECT h FROM hh ORDER BY h LIMIT $kmvK
       |), agg AS (
       | SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS hk FROM bk
       |)
       |SELECT (SELECT CAST(count(DISTINCT sh) AS BIGINT) FROM ex) AS n_exact,
       | k_used, hk,
       | CASE WHEN k_used < $kmvK THEN k_used
       |  WHEN hk > 0 THEN ((k_used - 1) * $kmvScale) // hk
       |  ELSE k_used END AS est_distinct
       |FROM agg""".stripMargin
  }

  /** DuckDB shingle expression (same <3-word guard as Dedup's). */
  private def shingleKmvSqlExpr: String =
    """list_transform(
      | range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
      | i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])""".stripMargin

  // ---------------------------------------------------------- t_ttr_curve
  /** TYPE-TOKEN RATIO vs LENGTH — lexical diversity confounds with
    * document length (TTR falls mechanically as docs grow — Herdan/
    * Heaps), so a single corpus TTR is uninterpretable; this is the
    * CURVE: docs bucketed by ⌊log₂ word-count⌋ (computed as binary-
    * string length − 1 — an integer picks the bucket, never a float
    * log whose last-ulp error flips power-of-two boundaries between
    * engines), per bucket the pooled TTR (Σtypes/Σtokens) and the
    * mean per-doc TTR in exact ppm. Reading diversity WITHIN a length
    * band is how t_hapax/t_simpson_diversity style signals become
    * comparable across corpora with different length mixes. One
    * partial-agged shuffle on ≤ ~16 buckets. */
  def ttrCurve: Q = (s, dir) => {
    val words = split(col("text"), " ")
    docs(s, dir).select(
        size(words).cast("long").as("n_words"),
        size(array_distinct(words)).cast("long").as("n_types"))
      .filter(col("n_words") > 0)
      .withColumn("len_bucket", expr("length(bin(n_words)) - 1").cast("long"))
      .groupBy("len_bucket")
      .agg(count(lit(1)).as("n_docs"),
        expr("(sum(n_types) * 1000000) div sum(n_words)")
          .as("pooled_ttr_ppm"),
        expr("sum((n_types * 1000000) div n_words) div count(1)")
          .as("mean_doc_ttr_ppm"))
      .orderBy("len_bucket")
  }

  val ttrCurveSql: String =
    """WITH w AS (
      | SELECT len(string_split(text, ' ')) AS n_words,
      |  len(list_distinct(string_split(text, ' '))) AS n_types
      | FROM documents
      |)
      |SELECT CAST(length(bin(n_words)) - 1 AS BIGINT) AS len_bucket,
      | count(*) AS n_docs,
      | CAST((sum(n_types) * 1000000) // sum(n_words) AS BIGINT)
      |  AS pooled_ttr_ppm,
      | CAST(sum((n_types * 1000000) // n_words) // count(*) AS BIGINT)
      |  AS mean_doc_ttr_ppm
      |FROM w WHERE n_words > 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------- t_kmv_merge
  /** KMV MERGEABILITY, proven on real data — the property that makes
    * sketches work across 1000 executors and across ingestion batches:
    * bottom-k of the UNION of per-source bottom-k sketches is exactly
    * the corpus bottom-k (any global bottom-k hash is in its source's
    * bottom-k), so merged and direct sketches agree hash-for-hash.
    * One row: the corpus sketch beside the merge of the per-source
    * sketches, estimates from both, and the `merge_exact` flag — a
    * THEOREM, but here a driver-checked measurement (a buggy merge —
    * re-hashing, truncating before the union — breaks the flag). The
    * per-source bottom-k rides a rank-filter (WindowGroupLimit: each
    * task keeps k per source); the merge touches ≤ k·sources rows. */
  def kmvMerge: Q = (s, dir) => {
    val words = col("words")
    val shingles = when(size(words) >= 3,
      transform(sequence(lit(0), size(words) - 3),
        i => concat_ws(" ", element_at(words, i + 1),
          element_at(words, i + 2), element_at(words, i + 3))))
      .otherwise(expr("cast(array() as array<string>)"))
    val h40 = graft.functions.VectorExprs.hexSlice(col("h32"), 1, 10)
    val perSrc = docs(s, dir)
      .select(col("source"), split(col("text"), " ").as("words"))
      .select(col("source"), explode(shingles).as("sh"))
      .select(col("source"), md5(col("sh")).as("h32"))
      .select(col("source"), h40.as("h")).distinct()
      .cache() // feeds the per-source sketches AND the direct sketch
    val w = Window.partitionBy("source").orderBy("h")
    val sketches = perSrc
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= kmvK)
    def aggOf(bk: DataFrame, tag: String): DataFrame =
      bk.agg(count(lit(1)).cast("long").as(s"k_$tag"),
        max("h").as(s"hk_$tag"))
    val merged = aggOf(sketches.select("h").distinct()
      .orderBy("h").limit(kmvK), "merged")
    val corpus = aggOf(perSrc.select("h").distinct()
      .orderBy("h").limit(kmvK), "corpus")
    def est(tag: String): Column = expr(
      s"CASE WHEN k_$tag < $kmvK THEN k_$tag" +
        s" WHEN hk_$tag > 0 THEN ((k_$tag - 1) * $kmvScale) div hk_$tag" +
        s" ELSE k_$tag END")
    perSrc.agg(countDistinct("source").as("n_sources"))
      .crossJoin(corpus).crossJoin(merged)
      .select(col("n_sources"),
        col("k_corpus"), col("hk_corpus"), est("corpus").as("est_corpus"),
        col("k_merged"), col("hk_merged"), est("merged").as("est_merged"),
        (col("k_corpus") === col("k_merged") &&
          col("hk_corpus") === col("hk_merged")).as("merge_exact"))
  }

  val kmvMergeSql: String = {
    val nib = (0 until 10).map { i =>
      s"(strpos('0123456789abcdef', substr(h32, ${i + 1}, 1)) - 1) * ${math.pow(16, 9 - i).toLong}"
    }.mkString("\n   + ")
    def estSql(tag: String): String =
      s"""CASE WHEN k_$tag < $kmvK THEN k_$tag
         | WHEN hk_$tag > 0 THEN ((k_$tag - 1) * $kmvScale) // hk_$tag
         | ELSE k_$tag END""".stripMargin
    s"""WITH ps AS (
       | SELECT DISTINCT source, CAST($nib AS BIGINT) AS h
       | FROM (SELECT source, md5(sh) AS h32 FROM (
       |  SELECT source, unnest($shingleKmvSqlExpr) AS sh FROM documents))
       |), sk AS (
       | SELECT h FROM (
       |  SELECT h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM ps
       | ) WHERE rn <= $kmvK
       |), mg AS (
       | SELECT h FROM (SELECT DISTINCT h FROM sk) ORDER BY h LIMIT $kmvK
       |), cp AS (
       | SELECT h FROM (SELECT DISTINCT h FROM ps) ORDER BY h LIMIT $kmvK
       |), ma AS (
       | SELECT CAST(count(*) AS BIGINT) AS k_merged, max(h) AS hk_merged
       | FROM mg
       |), ca AS (
       | SELECT CAST(count(*) AS BIGINT) AS k_corpus, max(h) AS hk_corpus
       | FROM cp
       |), ns AS (
       | SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       | FROM documents
       |)
       |SELECT ns.n_sources, ca.k_corpus, ca.hk_corpus,
       | CAST(${estSql("corpus")} AS BIGINT) AS est_corpus,
       | ma.k_merged, ma.hk_merged,
       | CAST(${estSql("merged")} AS BIGINT) AS est_merged,
       | ca.k_corpus = ma.k_merged AND ca.hk_corpus = ma.hk_merged
       |  AS merge_exact
       |FROM ns, ca, ma""".stripMargin
  }

  // --------------------------------------------------------- t_bpe_train
  /** BPE TOKENIZER TRAINING, the first `bpeIters` merge rounds — the
    * "train a tokenizer on the corpus" step every LLM pipeline runs
    * before token counting means anything (Sennrich et al. 2016).
    * Scale shape is the published one: the corpus collapses FIRST to
    * the (word, count) VOCABULARY (one shuffle; vocabulary-sized from
    * then on, not corpus-sized — the property that makes BPE training
    * tractable at 100 TB), words split to space-joined symbols, and
    * each round (a) counts adjacent symbol pairs weighted by word
    * count, (b) picks the best pair (max freq, tie → lexicographically
    * SMALLEST pair — no float, no rand), (c) applies the merge with
    * `replace` (leftmost non-overlapping in both engines). The chosen
    * scalar stays IN-PLAN (1-row broadcast crossJoin, the
    * scalar-subquery pattern) — no collect, no driver loop. Output:
    * one row per round with the merge learned and its corpus
    * frequency, the head of the merges.txt a real tokenizer ships.
    * Fixed rounds ⇒ exact unrolled oracle. */
  val bpeIters = 3

  /** The SHARED merge-round machinery — ONE definition of the BPE
    * recurrence (vocabulary collapse → per-round weighted pair counts →
    * (freq desc, pair asc) argmax → leftmost-non-overlap replace) that
    * BOTH t_bpe_train (reads the per-round bests) and t_bpe_apply
    * (reads the final merged vocabulary) run, so train and apply can
    * never disagree by construction. `wd` (the original word) rides
    * along for the apply side's vocab join; round frames are released
    * with the caller's `ck`. */
  private def bpeMergeRounds(s: SparkSession, dir: String,
      ck: graft.model.PropertyGraph.Checkpoints)
      : (Seq[DataFrame], DataFrame) = {
    var words = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("wd"))
      .filter(length(col("wd")) >= 2)
      .groupBy("wd").agg(count(lit(1)).as("cnt"))
      .select(col("wd"),
        expr("trim(regexp_replace(wd, '(.)', '$1 '))").as("w"), col("cnt"))
    val bests = (1 to bpeIters).map { _ =>
      val pairs = words
        .select(col("cnt"), split(col("w"), " ").as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(sy) - 1)," +
            " i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("freq"))
      // deterministic argmax: global sort-limit (TakeOrderedAndProject
      // — vocabulary-pair-sized input, 1 row out)
      val best = ck.own(pairs.orderBy(col("freq").desc, col("pair")).limit(1)
        .localCheckpoint(eager = true))
      // apply the merge; checkpoint caps the per-round lineage
      words = ck.own(words.crossJoin(broadcast(best.select(col("pair"))))
        .select(col("wd"),
          expr("replace(w, pair, replace(pair, ' ', ''))").as("w"),
          col("cnt"))
        .localCheckpoint(eager = true))
      best
    }
    (bests, words)
  }

  /** The shared oracle twin of `bpeMergeRounds`: CTEs w0..wN (wd
    * carried) + p_r/b_r per round. Train's final select reads the b_r
    * frames, apply's continues the chain with vocab/tok CTEs. */
  private lazy val bpeChainSqlCtes: String = {
    val b = new StringBuilder(
      """w0 AS (
        | SELECT wd, trim(regexp_replace(wd, '(.)', '\1 ', 'g')) AS w, cnt
        | FROM (
        |  SELECT wd, count(*) AS cnt FROM (
        |   SELECT unnest(string_split(text, ' ')) AS wd FROM documents
        |  ) WHERE length(wd) >= 2 GROUP BY wd
        | )
        |)""".stripMargin)
    for (r <- 1 to bpeIters) {
      b ++= s""", p$r AS (
               | SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq FROM (
               |  SELECT cnt, sy[i] || ' ' || sy[i + 1] AS pair
               |  FROM (SELECT cnt, string_split(w, ' ') AS sy FROM w${r - 1}),
               |       unnest(range(1, len(sy))) t(i)
               | ) GROUP BY pair
               |), b$r AS (
               | SELECT pair, freq FROM p$r ORDER BY freq DESC, pair LIMIT 1
               |), w$r AS (
               | SELECT x.wd, replace(x.w, b.pair, replace(b.pair, ' ', '')) AS w,
               |        x.cnt
               | FROM w${r - 1} x, b$r b
               |)""".stripMargin
    }
    b.toString
  }

  def bpeTrain: Q = (s, dir) => {
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val (bests, _) = bpeMergeRounds(s, dir, ck)
      bests.zipWithIndex.map { case (best, i) =>
        best.select(lit(i + 1).cast("int").as("round"), col("pair"),
          col("freq"))
      }.reduce(_.unionByName(_)).orderBy("round")
        .localCheckpoint(eager = true)
    }
  }

  lazy val bpeTrainSql: String =
    s"WITH $bpeChainSqlCtes\nSELECT round, pair, freq FROM (" +
      (1 to bpeIters).map(r => s"SELECT $r AS round, pair, freq FROM b$r")
        .mkString(" UNION ALL ") +
      ") ORDER BY round"

  // --------------------------------------------------------- t_bpe_apply
  /** BPE TOKENIZATION of the corpus under the merges t_bpe_train
    * learns — the apply half of the tokenizer loop, and the number
    * ("how many tokens is my corpus under THIS tokenizer") every
    * mixture/packing/cost decision reads. The merge table is re-derived
    * in-plan by the SAME vocabulary-collapsed recurrence as training
    * (identical corpus ⇒ identical merges — one definition of the
    * recurrence per engine, so train and apply can never disagree),
    * with the original word carried through so the post-merge symbol
    * count lands in a (word → n_sym) VOCAB table. Tokenizing the
    * corpus is then one word-keyed join of the exploded corpus against
    * that vocabulary (stopword skew = the AQE skew case; the vocab
    * side is vocabulary-bounded and broadcasts). Output per source:
    * words, character tokens (the no-merge baseline), BPE tokens, and
    * the saving in exact ppm — after `bpeIters` merges the saving is
    * small by construction; the shape, not the ratio, is the product.
    * Single-char words (excluded from training, 1 symbol either way)
    * fall out of the left join's coalesce. */
  def bpeApply: Q = (s, dir) => {
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val (_, words) = bpeMergeRounds(s, dir, ck)
      val vocab = words.select(col("wd"),
        size(split(col("w"), " ")).cast("long").as("n_sym"))
      docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("wd"))
        .join(vocab, Seq("wd"), "left_outer")
        .groupBy("source").agg(count(lit(1)).as("n_words"),
          sum(length(col("wd")).cast("long")).as("n_chars"),
          sum(coalesce(col("n_sym"), length(col("wd")).cast("long")))
            .as("n_bpe_tokens"))
        .withColumn("saved_ppm",
          expr("((n_chars - n_bpe_tokens) * 1000000) div n_chars"))
        .orderBy("source")
        .localCheckpoint(eager = true)
    }
  }

  lazy val bpeApplySql: String = {
    val b = new StringBuilder(s"WITH $bpeChainSqlCtes")
    b ++= s""", vocab AS (
             | SELECT wd, CAST(len(string_split(w, ' ')) AS BIGINT) AS n_sym
             | FROM w$bpeIters
             |), tok AS (
             | SELECT source, unnest(string_split(text, ' ')) AS wd
             | FROM documents
             |), agg AS (
             | SELECT t.source, count(*) AS n_words,
             |  CAST(sum(length(t.wd)) AS BIGINT) AS n_chars,
             |  CAST(sum(COALESCE(v.n_sym, length(t.wd))) AS BIGINT) AS n_bpe_tokens
             | FROM tok t LEFT JOIN vocab v ON v.wd = t.wd
             | GROUP BY t.source
             |)
             |SELECT source, n_words, n_chars, n_bpe_tokens,
             | ((n_chars - n_bpe_tokens) * 1000000) // n_chars AS saved_ppm
             |FROM agg ORDER BY source""".stripMargin
    b.toString
  }

  // ----------------------------------------------------- t_bpe_fertility
  /** TOKENIZER FERTILITY by language — BPE tokens per whitespace word
    * in exact ppm, plus chars per token: the tokenizer-equity table
    * every multilingual training run reads (a language whose fertility
    * is 2× pays 2× the sequence length for the same text — it is
    * systematically undertrained at a fixed token budget, the
    * documented motivation for per-language vocab balancing). Reuses
    * the SAME trained merge table as t_bpe_apply (one vocab, measured
    * per lang — the real deployment question: how does MY tokenizer
    * treat each language), out-of-vocab words fall back to
    * char-per-symbol exactly as the apply op does. One explode +
    * vocab join + lang-keyed partial-agged groupBy. */
  def bpeFertility: Q = (s, dir) => {
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val (_, words) = bpeMergeRounds(s, dir, ck)
      val vocab = words.select(col("wd"),
        size(split(col("w"), " ")).cast("long").as("n_sym"))
      docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("wd"))
        .join(vocab, Seq("wd"), "left_outer")
        .groupBy("lang").agg(count(lit(1)).as("n_words"),
          sum(length(col("wd")).cast("long")).as("n_chars"),
          sum(coalesce(col("n_sym"), length(col("wd")).cast("long")))
            .as("n_bpe_tokens"))
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
          expr("(n_bpe_tokens * 1000000) div n_words").as("fertility_ppm"),
          expr("(n_chars * 1000000) div n_bpe_tokens")
            .as("chars_per_token_ppm"))
        .orderBy("lang")
        .localCheckpoint(eager = true)
    }
  }

  lazy val bpeFertilitySql: String = {
    val b = new StringBuilder(s"WITH $bpeChainSqlCtes")
    b ++= s""", vocab AS (
             | SELECT wd, CAST(len(string_split(w, ' ')) AS BIGINT) AS n_sym
             | FROM w$bpeIters
             |), tok AS (
             | SELECT lang, unnest(string_split(text, ' ')) AS wd
             | FROM documents
             |), agg AS (
             | SELECT t.lang, count(*) AS n_words,
             |  CAST(sum(length(t.wd)) AS BIGINT) AS n_chars,
             |  CAST(sum(COALESCE(v.n_sym, length(t.wd))) AS BIGINT) AS n_bpe_tokens
             | FROM tok t LEFT JOIN vocab v ON v.wd = t.wd
             | GROUP BY t.lang
             |)
             |SELECT lang, n_words, n_bpe_tokens,
             | (n_bpe_tokens * 1000000) // n_words AS fertility_ppm,
             | (n_chars * 1000000) // n_bpe_tokens AS chars_per_token_ppm
             |FROM agg ORDER BY lang""".stripMargin
    b.toString
  }

  // --------------------------------------------------- t_content_chunking
  /** CONTENT-DEFINED CHUNKING (the LBFS/venti/restic storage-dedup
    * primitive): chunk boundaries are set WHERE THE CONTENT says so —
    * a cut after position p whenever hash(4-gram at p) ≡ 0 mod
    * `cdcMod` (expected chunk ≈ cdcMod chars) — so an insertion early
    * in a document only reshapes the chunks it touches, and every
    * other chunk still hashes the same (fixed-size blocks would shift
    * every later boundary: zero dedup after one edit). Chunks dedupe
    * ACROSS the corpus by content hash; the output row is the storage
    * economics: chunks, distinct chunks, raw vs deduped bytes, saving
    * in exact ppm, mean chunk length. Plan: one position explode
    * (Σ len rows, the m_phash_dedup cost class, codegen'd scalar md5
    * per gram), a per-doc lag window over the cut positions (bounded
    * by cuts per doc), one distinct on (hash, len). The rolling-hash
    * window is 4 chars — a real Rabin window is bigger, but the
    * boundary algebra (and everything that shuffles) is identical.
    * Docs shorter than the gram form one whole-doc chunk. */
  val cdcMod = 64L

  def contentChunking: Q = (s, dir) => {
    val d = docs(s, dir).select(col("doc_id"), col("text"),
      length(col("text")).as("len")).filter(col("len") >= 1)
    val cuts = d.filter(col("len") >= 4)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(1, len - 3)")).as("p"))
      .filter(graft.functions.VectorExprs.hexSlice(
        md5(expr("substring(text, p, 4)")), 1, 8) % cdcMod === 0)
      .select(col("doc_id"), col("p").cast("long").as("cut"))
      // no dedup needed: content cuts reach at most len − 3, so the
      // terminal cut at len can never collide with one (the union is
      // disjoint by construction — a distinct here would only add a
      // shuffle)
      .unionByName(d.select(col("doc_id"), col("len").cast("long").as("cut")))
    val w = Window.partitionBy("doc_id").orderBy("cut")
    val chunks = cuts
      .withColumn("prev", coalesce(lag("cut", 1).over(w), lit(0L)))
      .join(d.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        md5(expr("substring(text, CAST(prev + 1 AS INT), CAST(cut - prev AS INT))"))
          .as("h"),
        (col("cut") - col("prev")).as("n_bytes"))
    val uniq = chunks.select("h", "n_bytes").distinct()
      .agg(count(lit(1)).as("n_unique"), sum("n_bytes").as("unique_bytes"))
    chunks.agg(count(lit(1)).as("n_chunks"), sum("n_bytes").as("total_bytes"))
      .crossJoin(broadcast(uniq)) // 1-row scalar
      .select(col("n_chunks"), col("n_unique"), col("total_bytes"),
        col("unique_bytes"),
        expr("((total_bytes - unique_bytes) * 1000000) div total_bytes")
          .as("saved_ppm"),
        expr("total_bytes div n_chunks").as("mean_chunk_len"))
  }

  val contentChunkingSql: String = {
    val h8 = OracleSql.hexToLong("md5(substr(text, CAST(p AS INTEGER), 4))", 1, 8)
    s"""WITH d AS (
       | SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
       | FROM documents WHERE length(text) >= 1
       |), cuts AS (
       | SELECT DISTINCT doc_id, cut FROM (
       |  SELECT doc_id, CAST(p AS BIGINT) AS cut
       |  FROM (SELECT doc_id, text, unnest(range(1, len - 2)) AS p FROM d
       |        WHERE len >= 4)
       |  WHERE ($h8) % $cdcMod = 0
       |  UNION ALL SELECT doc_id, len FROM d
       | )
       |), chunks AS (
       | SELECT c.doc_id,
       |  md5(substr(d.text, CAST(c.prev + 1 AS INTEGER),
       |      CAST(c.cut - c.prev AS INTEGER))) AS h,
       |  c.cut - c.prev AS n_bytes
       | FROM (
       |  SELECT doc_id, cut,
       |   COALESCE(lag(cut, 1) OVER (PARTITION BY doc_id ORDER BY cut), 0)
       |    AS prev
       |  FROM cuts
       | ) c JOIN d ON d.doc_id = c.doc_id
       |), uniq AS (
       | SELECT count(*) AS n_unique, CAST(sum(n_bytes) AS BIGINT) AS unique_bytes
       | FROM (SELECT DISTINCT h, n_bytes FROM chunks)
       |), tot AS (
       | SELECT count(*) AS n_chunks, CAST(sum(n_bytes) AS BIGINT) AS total_bytes
       | FROM chunks
       |)
       |SELECT n_chunks, n_unique, total_bytes, unique_bytes,
       | ((total_bytes - unique_bytes) * 1000000) // total_bytes AS saved_ppm,
       | total_bytes // n_chunks AS mean_chunk_len
       |FROM tot, uniq""".stripMargin
  }

  // -------------------------------------------------------- t_fingerprint
  /** Document fingerprints: exact content hash, order-independent bag
    * hash (sorted distinct words), and min-shingle hash (rolling-hash
    * family — the winnowing primitive). */
  def fingerprint: Q = (s, dir) => {
    // words materialized ONCE in a child projection: higher-order
    // lambdas are interpreted (no CSE), so an inline split would be
    // re-executed per element_at — O(words²) per document
    val words = col("words")
    val shingles = transform(
      sequence(lit(0), greatest(size(words) - 3, lit(0))),
      i => concat_ws(" ", element_at(words, i + 1),
        element_at(words, i + 2), element_at(words, i + 3)))
    docs(s, dir)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("words"))
      .select(
        col("doc_id"),
        md5(col("text")).as("content_fp"),
        md5(concat_ws(" ", array_sort(array_distinct(words)))).as("bag_fp"),
        // < 3-word docs have no complete shingle → NULL in BOTH engines
        // (unguarded, Spark's concat_ws skips the null element_at results
        // and hashes a partial shingle while DuckDB nulls out — divergent)
        when(size(words) >= 3,
          array_min(transform(shingles, sh => md5(sh))))
          .as("min_shingle_fp"))
      .orderBy("doc_id")
  }

  val fingerprintSql: String =
    """SELECT doc_id,
      | md5(text) AS content_fp,
      | md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp,
      | CASE WHEN len(string_split(text, ' ')) >= 3 THEN list_min(list_transform(
      |   list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
      |     i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]),
      |   sh -> md5(sh))) END AS min_shingle_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ registry
  // ------------------------------------------------------ t_bloom_filter
  /** Bloom-filter membership sketch — the shuffle-free set-membership
    * primitive (does this shingle appear in that other corpus?) that
    * replaces a full distinct-join at 100 TB. m = 2²⁰ bits, k = 3
    * hashes; hash j of a shingle is the 20-bit integer from md5 nibbles
    * 5j+1..5j+5, so the WHOLE sketch is deterministic md5 arithmetic
    * and oracle-exact, like the KMV/CMS sketches (an engine-native
    * bloom_filter_agg's bit layout would not replay in DuckDB). The
    * filter is represented as the distinct set of occupied bit
    * positions (≤ m rows — semantically the bit array, and the form
    * both engines can compute); build = 'en' shingles, probe = 'de'
    * shingles; a probe is `maybe` iff all k of its positions are
    * occupied, reported beside ground truth (`actual`, an exact semi-
    * join) — maybe ≥ actual by construction, the gap is the measured
    * false-positive rate. Scale shape: the position set broadcasts
    * (≤ m rows regardless of build size); the probe side is one
    * map-side hash join — no shuffle of either corpus. */
  val bloomK = 3

  private def shingleSet(s: SparkSession, dir: String, langV: String): DataFrame = {
    val words = col("words")
    val shingles = when(size(words) >= 3,
      transform(sequence(lit(0), size(words) - 3),
        i => concat_ws(" ", element_at(words, i + 1),
          element_at(words, i + 2), element_at(words, i + 3))))
      .otherwise(expr("cast(array() as array<string>)"))
    docs(s, dir).filter(col("lang") === langV)
      .select(split(col("text"), " ").as("words"))
      .select(explode(shingles).as("sh")).distinct()
  }

  /** Bloom position j of the bound md5 column `h32`: 5 md5 nibbles →
    * a 20-bit position (2²⁰ slots per hash). Shared with Relational's
    * q_bloom_prejoin — one deterministic position scheme, one edit
    * point. */
  private[operators] def bloomPos(j: Int): Column =
    graft.functions.VectorExprs.hexSlice(col("h32"), 5 * j + 1, 5)

  def bloomFilter: Q = (s, dir) => {
    val build = shingleSet(s, dir, "en")
    val probe = shingleSet(s, dir, "de")
    val posArr = array((0 until bloomK).map(bloomPos): _*)
    val bloom = build.select(md5(col("sh")).as("h32"))
      .select(explode(posArr).as("pos")).distinct()
    val probePos = probe.withColumn("h32", md5(col("sh")))
      .select(col("sh"), explode(posArr).as("pos"))
    // bloom ≤ m = 2²⁰ rows ALWAYS (the occupied-position set saturates
    // at the bit-array size) — broadcast regardless of corpus size
    val hits = probePos.join(broadcast(bloom), Seq("pos"))
      .groupBy("sh").agg(count(lit(1)).as("nhit"))
    val actual = build.withColumn("actual", lit(1L))
    probe.join(hits, Seq("sh"), "left_outer")
      .join(actual, Seq("sh"), "left_outer")
      .select(col("sh"),
        when(col("nhit") === bloomK, 1L).otherwise(0L).as("maybe"),
        coalesce(col("actual"), lit(0L)).as("actual"))
      .orderBy("sh")
  }

  val bloomFilterSql: String = {
    def pos(j: Int) = (0 until 5).map { i =>
      s"(strpos('0123456789abcdef', substr(h32, ${5 * j + i + 1}, 1)) - 1) * ${1L << (4 * (4 - i))}"
    }.mkString("(", " + ", ")")
    val posList = (0 until bloomK).map(pos).mkString("[", ", ", "]")
    s"""WITH build AS (
       | SELECT DISTINCT unnest($shingleKmvSqlExpr) AS sh
       | FROM documents WHERE lang = 'en'
       |), probe AS (
       | SELECT DISTINCT unnest($shingleKmvSqlExpr) AS sh
       | FROM documents WHERE lang = 'de'
       |), bloom AS (
       | SELECT DISTINCT unnest($posList) AS pos
       | FROM (SELECT md5(sh) AS h32 FROM build)
       |), ppos AS (
       | SELECT sh, unnest($posList) AS pos
       | FROM (SELECT sh, md5(sh) AS h32 FROM probe)
       |), hits AS (
       | SELECT p.sh, count(*) AS nhit
       | FROM ppos p JOIN bloom b ON b.pos = p.pos
       | GROUP BY p.sh
       |)
       |SELECT p.sh,
       | CAST(CASE WHEN h.nhit = $bloomK THEN 1 ELSE 0 END AS BIGINT) AS maybe,
       | CAST(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS actual
       |FROM probe p
       |LEFT JOIN hits h ON h.sh = p.sh
       |LEFT JOIN build b ON b.sh = p.sh
       |ORDER BY p.sh""".stripMargin
  }

  // -------------------------------------------------------- t_winnowing
  /** WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken, the
    * MOSS algorithm): hash every 3-gram IN POSITION ORDER (no distinct
    * — winnowing needs the full sequence), slide a window of `winW`
    * hashes, select the minimum of each full window; the fingerprint
    * set is the distinct selected hashes. Guarantees: any shared run of
    * ≥ winW+2 words between two documents shares ≥ 1 fingerprint, and
    * density is ~2/(winW+1) — the local-selection sketch that exact
    * min-shingle (t_fingerprint) and full shingle sets (d_ngram_jaccard)
    * bracket. Hash = the same deterministic 40-bit md5-nibble integer
    * as t_distinct_kmv, so both engines select identical fingerprints;
    * set-valued output makes tie positions unobservable. Per-doc output
    * is the compact census (n_fp, min/max) — the full set is ~2n/winW
    * rows and this op checks selection, not storage. Scale: ONE window
    * shuffle on doc_id (each doc's sequence is per-partition local),
    * map-side distinct. Docs with < winW shingles have no full window
    * and emit nothing (both engines). */
  val winW = 4

  private def h40Col: Column =
    graft.functions.VectorExprs.hexSlice(col("h32"), 1, 10)

  def winnowing: Q = (s, dir) => {
    val words = col("words")
    val shingles = when(size(words) >= 3,
      transform(sequence(lit(0), size(words) - 3),
        i => concat_ws(" ", element_at(words, i + 1),
          element_at(words, i + 2), element_at(words, i + 3))))
      .otherwise(expr("cast(array() as array<string>)"))
    val hp = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), posexplode(shingles).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"), md5(col("sh")).as("h32"))
      .select(col("doc_id"), col("pos"), h40Col.as("h"))
    val nsh = hp.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, winW - 1)
    val fps = hp.withColumn("fp", min("h").over(w))
      .join(nsh, "doc_id")
      .filter(col("pos") <= col("n_sh") - winW) // full windows only (0-based)
      .select("doc_id", "n_sh", "fp").distinct()
    fps.groupBy("doc_id", "n_sh")
      .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"),
        max("fp").as("max_fp"))
      .orderBy("doc_id")
  }

  val winnowingSql: String = {
    val nib = (0 until 10).map { i =>
      s"(strpos('0123456789abcdef', substr(h32, ${i + 1}, 1)) - 1) * ${math.pow(16, 9 - i).toLong}"
    }.mkString("\n   + ")
    s"""WITH ex AS (
       | SELECT doc_id, unnest(list_transform(range(1, len(shs)+1),
       |   i -> struct_pack(pos := i, sh := shs[i]))) AS u
       | FROM (SELECT doc_id, $shingleKmvSqlExpr AS shs FROM documents)
       |), hp AS (
       | SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, CAST($nib AS BIGINT) AS h
       | FROM (SELECT doc_id, u, md5(u.sh) AS h32 FROM ex)
       |), nsh AS (
       | SELECT doc_id, count(*) AS n_sh FROM hp GROUP BY doc_id
       |), fps AS (
       | SELECT DISTINCT w.doc_id, nsh.n_sh, w.fp
       | FROM (
       |  SELECT doc_id, pos,
       |   min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN CURRENT ROW AND ${winW - 1} FOLLOWING) AS fp
       |  FROM hp
       | ) w JOIN nsh ON nsh.doc_id = w.doc_id
       | WHERE w.pos <= nsh.n_sh - ${winW - 1}
       |)
       |SELECT doc_id, n_sh, count(*) AS n_fp, min(fp) AS min_fp,
       |       max(fp) AS max_fp
       |FROM fps GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- t_source_stats
  /** Training-data MIX REPORT — the per-(source, lang) composition
    * table every dataset card ships (docs, token mass, share of the
    * corpus, quality-gate pass rate). All integer-exact: shares are
    * parts-per-million by integer `div` against the corpus totals
    * (scalar subqueries both engines compute identically); the quality
    * gate reuses the corpus-filter rules' integer shape (words ≥ 5 and
    * mean word length ≤ 12 via cross-multiplication). At 100 TB this is
    * one partial-aggregated shuffle on (source, lang) plus a broadcast
    * scalar — the report that decides sampling weights for the next
    * training mix. */
  def sourceStats: Q = (s, dir) => {
    val d = docs(s, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .withColumn("passes",
        (col("n_words") >= 5L &&
          col("n_chars") <= lit(12L) * col("n_words")).cast("long"))
    val per = d.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"),
        sum("passes").as("n_pass"))
    val tot = per.agg(sum("n_docs").as("tot_docs"),
      sum("n_tokens").as("tot_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        expr("(n_docs * 1000000) div tot_docs").as("doc_share_ppm"),
        expr("(n_tokens * 1000000) div tot_tokens").as("token_share_ppm"),
        expr("(n_pass * 1000000) div n_docs").as("pass_ppm"))
      .orderBy("source", "lang")
  }

  val sourceStatsSql: String =
    """WITH d AS (
      | SELECT source, lang, n_chars,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      | FROM documents
      |), p AS (
      | SELECT source, lang, count(*) AS n_docs,
      |  sum(n_words) AS n_tokens,
      |  sum(CASE WHEN n_words >= 5 AND n_chars <= 12 * n_words
      |       THEN 1 ELSE 0 END) AS n_pass
      | FROM d GROUP BY 1, 2
      |)
      |SELECT source, lang, n_docs,
      | CAST(n_tokens AS BIGINT) AS n_tokens,
      | CAST((n_docs * 1000000) // (SELECT sum(n_docs) FROM p) AS BIGINT) AS doc_share_ppm,
      | CAST((n_tokens * 1000000) // (SELECT sum(n_tokens) FROM p) AS BIGINT) AS token_share_ppm,
      | CAST((n_pass * 1000000) // n_docs AS BIGINT) AS pass_ppm
      |FROM p ORDER BY source, lang""".stripMargin

  // ------------------------------------------------------- t_ccnet_bucket
  /** CCNet-style QUALITY BUCKETING — the head/middle/tail split CCNet
    * (and every quality-stratified mix since) applies per language
    * before sampling. The quality proxy is an INTEGER: distinct-word
    * ratio in ppm, (n_distinct·10⁶) div n_words — monotone in the
    * repetition score, engine-exact (CCNet's LM perplexity is a float
    * model score; an offline scorer would slot into the same column).
    * Docs rank per (lang) partition by (proxy DESC, doc_id) — a TOTAL
    * order, so ntile(3) is deterministic and identical in both engines
    * (equal buckets, remainder to the first) — and the bucket label
    * head/middle/tail drives downstream sampling weights.
    *
    * Scale honesty: exact per-lang ntile sorts each LANGUAGE through
    * one partition — with ~5 languages over 100 TB that partition is
    * ~20 TB and this exact shape does not survive. The production
    * variant computes the two tercile CUTOFF values per lang from a
    * deterministic hash sample (the q_quantile_sampled machinery),
    * broadcasts the ~2×|langs| cutoffs, and assigns buckets in a
    * map-side comparison — no global sort anywhere. The exact ntile is
    * kept here because it is the oracle-checkable contract; the cutoff
    * path replays it within sampling error. */
  def ccnetBucket: Q = (s, dir) => {
    val d = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("lang"),
        size(col("words")).cast("long").as("n_words"),
        size(array_distinct(col("words"))).cast("long").as("n_distinct"))
      .filter(col("n_words") > 0)
      .withColumn("proxy_ppm", expr("(n_distinct * 1000000) div n_words"))
    val w = Window.partitionBy("lang")
      .orderBy(col("proxy_ppm").desc, col("doc_id"))
    d.withColumn("tercile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("proxy_ppm"),
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          col("tercile")).as("bucket"))
      .orderBy("doc_id")
  }

  val ccnetBucketSql: String =
    """WITH m AS (
      | SELECT doc_id, lang,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
      | FROM documents
      |), p AS (
      | SELECT doc_id, lang, (n_distinct * 1000000) // n_words AS proxy_ppm
      | FROM m WHERE n_words > 0
      |)
      |SELECT doc_id, lang, proxy_ppm,
      | ['head', 'middle', 'tail'][ntile(3) OVER (
      |   PARTITION BY lang ORDER BY proxy_ppm DESC, doc_id)] AS bucket
      |FROM p ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- t_ccnet_bucket_scaled
  /** The SCALE PATH for quality bucketing — sampled cutoffs + map-side
    * assignment, no global (or per-lang-global) sort anywhere: tercile
    * cutoff VALUES per language are rank-selected from a deterministic
    * 25% hash sample (md5(doc_id), the q_quantile_sampled trick — a
    * pure function of the key, so the oracle replays it exactly), the
    * ≤ 2×|langs| cutoffs broadcast, and every document gets its bucket
    * from two integer comparisons in the map stage. The only sort is
    * over the SAMPLE (sized to fit one task at any corpus scale).
    * Bucket sizes are approximate where the exact ntile's are balanced
    * — that substitution, cutoffs-for-ranks, is precisely what running
    * CCNet bucketing at 100 TB means, and here it is oracle-checked
    * rather than hand-waved (languages absent from the sample default
    * to head, documented and replayed by the oracle). */
  val ccnetSampleDiv = 4
  val ccnetSampleThresh: Long = (1L << 40) / ccnetSampleDiv

  def ccnetBucketScaled: Q = (s, dir) => {
    val h40 = graft.functions.VectorExprs.hexSlice(col("h32"), 1, 10)
    val m = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("lang"),
        size(col("words")).cast("long").as("n_words"),
        size(array_distinct(col("words"))).cast("long").as("n_distinct"))
      .filter(col("n_words") > 0)
      .withColumn("proxy_ppm", expr("(n_distinct * 1000000) div n_words"))
      .select("doc_id", "lang", "proxy_ppm")
    val samp = m
      .withColumn("h32", md5(col("doc_id").cast("string")))
      .withColumn("h", h40)
      .filter(col("h") < ccnetSampleThresh)
    val wS = Window.partitionBy("lang")
      .orderBy(col("proxy_ppm").desc, col("doc_id"))
    val cut = samp
      .withColumn("rn", row_number().over(wS))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .groupBy("lang")
      .agg(max(when(col("rn") === expr("(n + 2) div 3"), col("proxy_ppm"))).as("c1"),
        max(when(col("rn") === expr("(2 * n + 2) div 3"), col("proxy_ppm"))).as("c2"))
    m.join(broadcast(cut), Seq("lang"), "left_outer")
      .select(col("doc_id"), col("lang"), col("proxy_ppm"),
        when(col("c1").isNull, "head")
          .when(col("proxy_ppm") >= col("c1"), "head")
          .when(col("proxy_ppm") >= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  val ccnetBucketScaledSql: String = {
    val nib = (0 until 10).map { i =>
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), ${i + 1}, 1)) - 1) * ${1L << (4 * (9 - i))}"
    }.mkString(" + ")
    s"""WITH m AS (
       | SELECT doc_id, lang,
       |  (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000)
       |    // CAST(len(string_split(text, ' ')) AS BIGINT) AS proxy_ppm
       | FROM documents WHERE len(string_split(text, ' ')) > 0
       |), sm AS (
       | SELECT doc_id, lang, proxy_ppm FROM m
       | WHERE CAST($nib AS BIGINT) < $ccnetSampleThresh
       |), r AS (
       | SELECT lang, proxy_ppm,
       |  row_number() OVER (PARTITION BY lang ORDER BY proxy_ppm DESC, doc_id) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS n
       | FROM sm
       |), cut AS (
       | SELECT lang,
       |  max(CASE WHEN rn = (n + 2) // 3 THEN proxy_ppm END) AS c1,
       |  max(CASE WHEN rn = (2 * n + 2) // 3 THEN proxy_ppm END) AS c2
       | FROM r GROUP BY lang
       |)
       |SELECT m.doc_id, m.lang, m.proxy_ppm,
       | CASE WHEN cut.c1 IS NULL THEN 'head'
       |      WHEN m.proxy_ppm >= cut.c1 THEN 'head'
       |      WHEN m.proxy_ppm >= cut.c2 THEN 'middle'
       |      ELSE 'tail' END AS bucket
       |FROM m LEFT JOIN cut ON cut.lang = m.lang
       |ORDER BY m.doc_id""".stripMargin
  }

  // ------------------------------------------------------ t_vocab_overlap
  /** PAIRWISE VOCABULARY OVERLAP between sources — the lexical
    * similarity matrix a corpus-mixing decision reads (two sources
    * whose top vocabularies are near-identical add redundancy, not
    * coverage — the complement of d_source_overlap's duplicate-mass
    * view, which sees shared DOCUMENTS, not shared LANGUAGE): per
    * source, the top-`vocabK` terms by document frequency (total
    * (df desc, term) order ⇒ the rank-k cut is deterministic under
    * ties), then Jaccard of each source pair's sets in exact ppm.
    * Scale shape: the df aggregate is the map-side-combined wordcount,
    * the top-k window partitions by source (frames = per-source vocab,
    * never the corpus), and everything after operates on
    * |sources|·k rows — pair generation is a term-keyed equi-join on
    * that reduced frame, NEVER source × source × corpus. All-pairs
    * completeness via the 20-row source-dim self-join (zero-overlap
    * pairs report 0, not absence). */
  val vocabK = 50

  def vocabOverlap: Q = (s, dir) => {
    val d = docs(s, dir)
    val df = d.select(col("source"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("source")
      .orderBy(col("df").desc, col("term"))
    val top = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= vocabK).select("source", "term")
    val inter = top.select(col("source").as("src_a"), col("term"))
      .join(top.select(col("source").as("src_b"), col("term")), Seq("term"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
    val srcs = d.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")),
        col("src_a") < col("src_b"))
    pairs.join(inter, Seq("src_a", "src_b"), "left_outer")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .withColumn("jaccard_ppm",
        expr(s"(n_inter * 1000000) div (${2 * vocabK} - n_inter)"))
      .orderBy("src_a", "src_b")
  }

  val vocabOverlapSql: String =
    s"""WITH df AS (
       | SELECT source, term, count(*) AS df FROM (
       |  SELECT DISTINCT doc_id, source,
       |   unnest(string_split(text, ' ')) AS term
       |  FROM documents
       | ) GROUP BY 1, 2
       |), top AS (
       | SELECT source, term FROM (
       |  SELECT source, term,
       |   row_number() OVER (PARTITION BY source
       |     ORDER BY df DESC, term) AS rn
       |  FROM df
       | ) WHERE rn <= $vocabK
       |), inter AS (
       | SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
       | FROM top a JOIN top b ON a.term = b.term AND a.source < b.source
       | GROUP BY 1, 2
       |), srcs AS (SELECT DISTINCT source FROM documents
       |)
       |SELECT a.source AS src_a, b.source AS src_b,
       | CAST(COALESCE(n_inter, 0) AS BIGINT) AS n_inter,
       | CAST((COALESCE(n_inter, 0) * 1000000)
       |  // (${2 * vocabK} - COALESCE(n_inter, 0)) AS BIGINT) AS jaccard_ppm
       |FROM srcs a JOIN srcs b ON a.source < b.source
       |LEFT JOIN inter ON src_a = a.source AND src_b = b.source
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------- t_df_prune
  /** Vocabulary pruning by DOCUMENT FREQUENCY — the step that sizes an
    * LM tokenizer/feature vocabulary: terms appearing in exactly one
    * document ('hapax', noise/typos) and terms in ≥ 80% of documents
    * ('ubiquitous', carry no signal) get pruned; the rest is the usable
    * vocabulary. Per-document term sets come from array_distinct BEFORE
    * the explode — the exploded row count is Σ distinct-terms-per-doc,
    * not Σ words, and the df aggregation is the map-side-combined
    * wordcount shape. The corpus size joins in as a broadcast 1-row
    * aggregate (never a driver-side collect). Output is one row per
    * bucket with term/mass counts plus the lexical extremes as content
    * witnesses. */
  def dfPrune: Q = (s, dir) => {
    val d = docs(s, dir)
    val nd = d.agg(count(lit(1)).as("nd"))
    d.select(explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .select(col("term"), col("df"),
        when(col("df") === 1, "hapax")
          .when(col("df") * 5 >= col("nd") * 4, "ubiquitous")
          .otherwise("keep").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_terms"), sum(col("df")).as("total_df"),
        min(col("term")).as("first_term"), max(col("term")).as("last_term"))
      .orderBy("bucket")
  }

  val dfPruneSql: String =
    """WITH dw AS (
      | SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      | FROM documents
      |), df AS (
      | SELECT term, count(*) AS df FROM dw GROUP BY term
      |), nd AS (SELECT count(*) AS nd FROM documents
      |), b AS (
      | SELECT term, df,
      |  CASE WHEN df = 1 THEN 'hapax'
      |       WHEN df * 5 >= (SELECT nd FROM nd) * 4 THEN 'ubiquitous'
      |       ELSE 'keep' END AS bucket
      | FROM df
      |)
      |SELECT bucket, count(*) AS n_terms,
      | CAST(sum(df) AS BIGINT) AS total_df,
      | min(term) AS first_term, max(term) AS last_term
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------------------ t_mad_outliers
  /** Robust per-source length outlier detection: median and MAD (median
    * absolute deviation) of n_chars per source — both as EXACT rank
    * selections ((n+1) div 2, the lower median, a member of the
    * multiset) — then docs with |x − med| > 3·MAD counted as outliers.
    * Median/MAD instead of mean/stddev because a corpus with a few
    * giant documents drags a mean-based gate toward the garbage it
    * should catch; all arithmetic stays BIGINT. Two per-source window
    * rank passes (shuffle on source each); per-source output rows.
    * At 100 TB swap the exact rank for approx_percentile per source —
    * kept exact so the oracle hash-matches. */
  def madOutliers: Q = (s, dir) => {
    val bySrc = Window.partitionBy(col("source"))
    val base = docs(s, dir).select(col("source"), col("n_chars"))
    val med = base
      .withColumn("rn", row_number().over(bySrc.orderBy(col("n_chars"))))
      .withColumn("n", count(lit(1)).over(bySrc))
      .groupBy("source")
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("n_chars"))).as("med"))
    // dev feeds BOTH the MAD rank pass and the final aggregate — an
    // intra-query cache (frames shared ACROSS queries are SessionMemos,
    // like dsir's) so the scan + median pipeline runs once
    val dev = base.join(med, Seq("source"))
      .withColumn("dev", abs(col("n_chars") - col("med")))
      .cache()
    val mad = dev
      .withColumn("rn", row_number().over(bySrc.orderBy(col("dev"))))
      .withColumn("n", count(lit(1)).over(bySrc))
      .groupBy("source")
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("dev"))).as("mad"))
    dev.join(mad, Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("source")
  }

  val madOutliersSql: String =
    """WITH base AS (
      | SELECT source, n_chars FROM documents
      |), r1 AS (
      | SELECT source, n_chars,
      |  row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
      |  count(*) OVER (PARTITION BY source) AS n
      | FROM base
      |), med AS (
      | SELECT source,
      |  max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS med
      | FROM r1 GROUP BY source
      |), dev AS (
      | SELECT base.source, base.n_chars, med.med,
      |  abs(base.n_chars - med.med) AS dev
      | FROM base JOIN med ON med.source = base.source
      |), r2 AS (
      | SELECT source, dev,
      |  row_number() OVER (PARTITION BY source ORDER BY dev) AS rn,
      |  count(*) OVER (PARTITION BY source) AS n
      | FROM dev
      |), mad AS (
      | SELECT source,
      |  max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
      | FROM r2 GROUP BY source
      |)
      |SELECT dev.source, count(*) AS n_docs,
      | CAST(max(dev.med) AS BIGINT) AS med,
      | CAST(max(mad.mad) AS BIGINT) AS mad,
      | CAST(sum(CASE WHEN dev.dev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_outliers
      |FROM dev JOIN mad ON mad.source = dev.source
      |GROUP BY dev.source ORDER BY dev.source""".stripMargin

  // ------------------------------------------------------- t_bigram_cond
  /** Conditional bigram statistics — the language-model building block:
    * for the corpus' top bigrams, P(w2 | w1) as exact ppm
    * (c(w1 w2)·10⁶ div c(w1 ·), where the denominator is the count of
    * bigrams STARTING with w1, so the distribution over w2 sums to ~1).
    * Two map-side-combined aggregations (bigram counts, then first-word
    * mass) + a vocabulary-keyed join the optimizer can broadcast;
    * top-20 with full tiebreak is TakeOrderedAndProject. Integer-exact
    * ppm — no float probability crosses the engine boundary. */
  /** Adjacent word pairs of a bound words-array attribute, as
    * struct(w1, w2); < 2 words emit the typed empty array. Shared by
    * t_bigram_cond (the LM table) and t_doc_lm_score (which scores
    * against that same table) — one extraction, one index contract. */
  private def bigramPairsCol(words: Column): Column =
    when(size(words) >= 2,
      transform(sequence(lit(0), size(words) - 2),
        i => struct(element_at(words, i + 1).as("w1"),
          element_at(words, i + 2).as("w2"))))
      .otherwise(expr("cast(array() as array<struct<w1:string,w2:string>>)"))

  def bigramCond: Q = (s, dir) => {
    val pairs = bigramPairsCol(col("words"))
    val bg = docs(s, dir)
      .select(split(col("text"), " ").as("words"))
      .select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val w1mass = bg.groupBy("w1").agg(sum(col("cb")).as("cw"))
    bg.join(w1mass, Seq("w1"))
      .select(col("w1"), col("w2"), col("cb"),
        expr("(cb * 1000000) div cw").as("cond_ppm"))
      .orderBy(col("cb").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val bigramCondSql: String =
    """WITH w AS (
      | SELECT string_split(text, ' ') AS words FROM documents
      |), bgx AS (
      | SELECT unnest(list_transform(
      |   range(1, greatest(len(words) - 1, 0) + 1),
      |   i -> {'w1': words[i], 'w2': words[i+1]})) AS p
      | FROM w
      |), bg AS (
      | SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS cb
      | FROM bgx GROUP BY 1, 2
      |), m AS (
      | SELECT w1, sum(cb) AS cw FROM bg GROUP BY w1
      |)
      |SELECT bg.w1, bg.w2, bg.cb,
      | CAST((bg.cb * 1000000) // m.cw AS BIGINT) AS cond_ppm
      |FROM bg JOIN m ON m.w1 = bg.w1
      |ORDER BY bg.cb DESC, bg.w1, bg.w2 LIMIT 20""".stripMargin

  // ------------------------------------------------------ t_langid_eval
  /** Language-ID EVAL harness — the confusion matrix of t_lang_id's
    * predictions against the corpus' ground-truth lang column, with
    * per-true-language share in exact ppm. The classifier op reports
    * predictions; this op reports whether they're RIGHT, per class —
    * the number a threshold/stopword-list change is judged by (same
    * adjudication philosophy as s_ann_recall and d_dedup_eval). One
    * doc-keyed join + two aggregations. */
  def langidEval: Q = (s, dir) => {
    val pred = langId(s, dir).select(col("doc_id"), col("pred_lang"))
    val truth = docs(s, dir).select(col("doc_id"), col("lang").as("true_lang"))
    val cm = truth.join(pred, Seq("doc_id"))
      .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
    val tot = cm.groupBy("true_lang").agg(sum(col("n")).as("tot"))
    cm.join(tot, Seq("true_lang"))
      .select(col("true_lang"), col("pred_lang"), col("n"),
        expr("(n * 1000000) div tot").as("share_ppm"))
      .orderBy("true_lang", "pred_lang")
  }

  val langidEvalSql: String =
    s"""WITH pred AS ($langIdSql
       |), cm AS (
       | SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
       | FROM documents d JOIN pred p ON p.doc_id = d.doc_id
       | GROUP BY 1, 2
       |), tot AS (
       | SELECT true_lang, sum(n) AS tot FROM cm GROUP BY 1
       |)
       |SELECT cm.true_lang AS true_lang, cm.pred_lang, cm.n,
       | CAST((cm.n * 1000000) // tot.tot AS BIGINT) AS share_ppm
       |FROM cm JOIN tot ON tot.true_lang = cm.true_lang
       |ORDER BY cm.true_lang, pred_lang""".stripMargin

  // --------------------------------------------------------- t_readability
  /** READABILITY SCORING (Flesch reading-ease, integer-quantized): word
    * count (whitespace split), sentence count ([.!?] terminators),
    * syllable proxy (maximal [aeiouy]+ vowel groups — the standard
    * libs-free approximation), then the Flesch linear form computed in
    * MILLI-points with integer division only:
    * `206835 - 1015*words div sentences - 84600*syllables div words`.
    * Quantization (≤1 milli-point per div) is identical in both engines
    * — a double Flesch would drift in the last bits across engines and
    * break hash parity. Char classes only in the regexes, so Java regex
    * and RE2 agree. Per-doc linear work, no shuffle before the sort. */
  def readability: Q = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_words"),
      greatest(expr("size(regexp_extract_all(text, '[.!?]', 0))"), lit(1))
        .cast("long").as("n_sentences"),
      greatest(expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"),
        lit(1)).cast("long").as("n_syllables"))
    base.select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        expr("206835 - (1015 * n_words) div n_sentences" +
          " - (84600 * n_syllables) div n_words").as("flesch_milli"))
      .withColumn("bucket",
        when(col("flesch_milli") >= 60000, "easy")
          .when(col("flesch_milli") >= 30000, "medium")
          .otherwise("hard"))
      .orderBy("doc_id")
  }

  val readabilitySql: String =
    """WITH m AS (
      | SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT) AS n_sentences,
      |  CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS n_syllables
      | FROM documents
      |), f AS (
      | SELECT doc_id, n_words, n_sentences, n_syllables,
      |  206835 - (1015 * n_words) // n_sentences
      |         - (84600 * n_syllables) // n_words AS flesch_milli
      | FROM m
      |)
      |SELECT doc_id, n_words, n_sentences, n_syllables, flesch_milli,
      | CASE WHEN flesch_milli >= 60000 THEN 'easy'
      |      WHEN flesch_milli >= 30000 THEN 'medium'
      |      ELSE 'hard' END AS bucket
      |FROM f ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- t_mixture_resample
  /** SOURCE-MIX RESAMPLING — the "data mixing" step of a training-data
    * pipeline: balance the corpus to a uniform per-source target by
    * keeping the same number of docs from every source (the minimum
    * source count), chosen deterministically as the lowest-md5 docs per
    * source (reproducible under re-partitioning and in the oracle — a
    * `sample()` would never hash-match). Per-source membership is
    * pinned by sum/min/max of kept doc_ids, so the compare fails if the
    * SELECTION differs, not just the counts. The rank is one window
    * shuffle on source; counts and the cap are tiny broadcast frames.
    * At 100 TB the window sorts per-source partitions — salting the
    * window key is the fix if one source dominates. */
  def mixtureResample: Q = (s, dir) => {
    val d = docs(s, dir).select(col("doc_id"), col("source"))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val counts = d.groupBy("source").agg(count(lit(1)).as("avail"))
    val cap = counts.agg(min(col("avail")).as("cap"))
    d.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(cap))
      .filter(col("rk") <= col("cap"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_doc_id"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
      .join(broadcast(counts), Seq("source"))
      .select(col("source"), col("avail"), col("n_kept"),
        expr("n_kept * 1000000 div avail").as("kept_ppm"),
        col("sum_doc_id"), col("min_doc_id"), col("max_doc_id"))
      .orderBy("source")
  }

  val mixtureResampleSql: String =
    """WITH r AS (
      | SELECT doc_id, source,
      |  row_number() OVER (PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      | FROM documents
      |), c AS (
      | SELECT source, count(*) AS avail FROM documents GROUP BY source
      |), cap AS (
      | SELECT min(avail) AS cap FROM c
      |), kept AS (
      | SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      | FROM r, cap WHERE rk <= cap
      | GROUP BY source
      |)
      |SELECT k.source, c.avail, k.n_kept,
      | k.n_kept * 1000000 // c.avail AS kept_ppm,
      | k.sum_doc_id, k.min_doc_id, k.max_doc_id
      |FROM kept k JOIN c ON c.source = k.source
      |ORDER BY k.source""".stripMargin

  // ---------------------------------------------------- t_global_shuffle
  /** Deterministic GLOBAL SHUFFLE + SHARDING — the last step of every
    * training-data pipeline: a seeded pseudorandom permutation of the
    * corpus written as N shards, reproducible run-to-run (the training
    * job's data order is part of the experiment record). Key =
    * md5(seed:doc_id); shard = first key nibble mod 8 (hash-sharding —
    * embarrassingly parallel, no global sort); position = rank of the
    * key WITHIN the shard. No global row_number ever exists: ordering
    * is per-shard (one window over the shard key), which is how a
    * 100 TB corpus is actually laid out — in production n_shards is
    * O(corpus/shard_target) (thousands), so per-shard sort parallelism
    * equals shard count and each task sorts one output file's worth;
    * the 8 here is a demo constant. Partition-stable by construction:
    * key ties are impossible (doc_id is injective into the key) and
    * the (k, doc_id) order pins rank deterministically anyway. */
  def globalShuffle: Q = (s, dir) => {
    val nShards = 8
    val keyed = docs(s, dir).select(col("doc_id"),
      md5(concat(lit("shuf42:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("shard",
        (graft.functions.VectorExprs.hexSlice(col("k"), 1, 1)
          % nShards).cast("long"))
    val w = Window.partitionBy("shard").orderBy(col("k"), col("doc_id"))
    keyed.withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  val globalShuffleSql: String =
    """WITH k AS (
      | SELECT doc_id,
      |  md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS k
      | FROM documents
      |), s AS (
      | SELECT doc_id, k,
      |  CAST((strpos('0123456789abcdef', substr(k, 1, 1)) - 1) % 8
      |   AS BIGINT) AS shard
      | FROM k
      |)
      |SELECT doc_id, shard,
      | CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
      |  AS BIGINT) AS pos
      |FROM s ORDER BY shard, pos""".stripMargin

  // ----------------------------------------------------- t_doc_lm_score
  /** Per-document LM quality score — the CCNet/KenLM perplexity-filter
    * idea with the corpus itself as the model: train a conditional
    * bigram LM on the corpus (c(w1 w2)·10⁶ div c(w1 ·), the
    * t_bigram_cond table without the top-k cut), then score each doc by
    * the MEAN conditional probability of its bigram OCCURRENCES in
    * exact ppm (Σ cond_ppm div n — sum of ints, floor div, no float
    * crosses the engine boundary; a true log-perplexity would). High
    * lm_ppm = predictable/natural text, low = noisy — the number a
    * perplexity threshold filter reads. Every doc bigram hits the model
    * by construction (same corpus); docs with < 2 words score 0 via the
    * left join. Scale: the model is distinct-bigram-bounded (two
    * map-side-combined aggs); scoring is ONE join of occurrences vs
    * model keyed (w1, w2) — stopword-bigram skew is the AQE skew-join
    * case, and the occurrence frame is cached because it feeds both the
    * model build and the scoring pass (the t_distinct_kmv lesson:
    * don't pay the corpus explode twice). */
  def docLmScore: Q = (s, dir) => {
    val pairs = bigramPairsCol(col("words"))
    val ob = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .cache()
    val bg = ob.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val model = bg.groupBy("w1").agg(sum(col("cb")).as("cw"))
      .join(bg, Seq("w1"))
      .select(col("w1"), col("w2"), expr("(cb * 1000000) div cw").as("cond_ppm"))
    val sc = ob.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(cond_ppm) div count(1)").as("lm_ppm"))
    docs(s, dir).select("doc_id").join(sc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_ppm"), lit(0L)).as("lm_ppm"))
      .orderBy("doc_id")
  }

  val docLmScoreSql: String =
    """WITH w AS (
      | SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |), ob AS (
      | SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(len(words) - 1, 0) + 1),
      |    i -> {'w1': words[i], 'w2': words[i+1]})) AS p
      |  FROM w)
      |), bg AS (
      | SELECT w1, w2, count(*) AS cb FROM ob GROUP BY 1, 2
      |), m AS (
      | SELECT w1, sum(cb) AS cw FROM bg GROUP BY 1
      |), model AS (
      | SELECT bg.w1, bg.w2,
      |  CAST((bg.cb * 1000000) // m.cw AS BIGINT) AS cond_ppm
      | FROM bg JOIN m ON m.w1 = bg.w1
      |), sc AS (
      | SELECT ob.doc_id, count(*) AS n_bigrams,
      |  CAST(sum(model.cond_ppm) // count(*) AS BIGINT) AS lm_ppm
      | FROM ob JOIN model ON model.w1 = ob.w1 AND model.w2 = ob.w2
      | GROUP BY ob.doc_id
      |)
      |SELECT d.doc_id,
      | COALESCE(sc.n_bigrams, 0) AS n_bigrams,
      | COALESCE(sc.lm_ppm, 0) AS lm_ppm
      |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- t_dsir
  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") in exact integers:
    * build hashed-bigram bag-of-words models of a TARGET distribution
    * (the lang = 'en' slice stands in for "looks like my eval set") and
    * of the RAW corpus, then score each document by how much more
    * likely its features are under target than raw. The published form
    * sums log(p_t(f)/p_r(f)) per feature and adds Gumbel noise at
    * selection time — both float, neither cross-engine stable — so the
    * score here is the floor-MEAN per-feature likelihood ratio in ppm
    * (add-1 smoothed, corpus-size normalized:
    * score(b) = ((ct+1)·10⁶ div (cr+1)) · ((R+B)·10³ div (T+B)) div 10³)
    * and selection is the deterministic top-`dsirKeep` by
    * (dsir_ppm, doc_id) — the oracle-checkable contract; hash-seeded
    * Gumbel would re-introduce log(). Features are hashed to
    * B = `dsirB` buckets (the paper's hashed n-gram trick — the model
    * is B-bounded regardless of vocabulary, the property that lets the
    * importance model BROADCAST at 100 TB). Plan: one corpus bigram
    * explode (cached compactly — lang collapsed to a tinyint flag
    * before the explode multiplies it; feeds model build + scoring),
    * one B-bounded groupBy where raw and target counts ride the SAME
    * aggregate (count + filtered count, one pass — not two scans),
    * scoring is a broadcast join against the B-row score table,
    * per-doc mean is one partial-agged groupBy. Selection (r12 — was
    * a corpus-wide un-partitioned row_number in r9, then a 3-job
    * histogram-cut + boundary-tie machinery in r10/r11): the exact
    * top-dsirKeep set under the total order (dsir_ppm desc, doc_id)
    * is ONE TakeOrderedAndProject — per-task local top-k, driver
    * merge of k·p rows, the distributive rank-select that is
    * scale-safe at any corpus size — broadcast back over the
    * checkpointed per-doc frame; output is the IDENTICAL exact
    * top-dsirKeep set, so the oracle keeps its row_number form.
    * BIGINT headroom:
    * (ct+1)·10⁶ ≤ 2⁶³ up to ~9·10¹² target-bigram occurrences. */
  val dsirB = 256L
  val dsirKeep = 100

  /** Session-memoized (the hnsw pattern): t_dsir_eval consumes the
    * whole frame again — without the memo each consumer re-runs the
    * explode→model→score chain (~1.4 s of pure job latency at sf0.1;
    * the data itself is small). */
  private val dsirMemo = new SessionMemo[DataFrame]

  def dsir: Q = (s, dir) =>
    dsirMemo(s, dir)(dsirBuild(s, dir))
      .orderBy("doc_id")

  private def dsirBuild(s: SparkSession, dir: String): DataFrame = {
    val pairs = bigramPairsCol(col("words"))
    // r12 note: a fold of the model build into a per-(doc, bucket)
    // pre-aggregate was MEASURED WORSE (0.78 → 3.3 s at sf0.1, 32
    // threads): (doc, b) is nearly occurrence-cardinality on this
    // corpus, so the "compaction" added a full-corpus shuffle + cache
    // the cached-explode shape never pays. Kept shape: one explode
    // cached COMPACTLY — the per-doc lang string is collapsed to a
    // tinyint flag BEFORE the explode multiplies it corpus-wide —
    // feeding the B-bounded model aggregate (map-side combine, no
    // corpus shuffle) and the broadcast-scored per-doc mean (the one
    // corpus shuffle, keyed by doc).
    val occ = docs(s, dir)
      .select(col("doc_id"),
        when(col("lang") === "en", lit(1)).otherwise(lit(0))
          .cast("tinyint").as("en"),
        split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("en"), explode(pairs).as("p"))
      .select(col("doc_id"), col("en"),
        (graft.functions.VectorExprs.hexSlice(
          md5(concat(col("p.w1"), lit(" "), col("p.w2"))), 1, 8) % dsirB)
          .as("b"))
      .cache()
    val model = occ.groupBy("b").agg(
      count(lit(1)).as("cr"),
      count(when(col("en") === 1, 1)).as("ct"))
    val tot = model.agg((sum("cr") + dsirB).as("r_tot"),
      (sum("ct") + dsirB).as("t_tot"))
    val scored = model.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        "((((ct + 1) * 1000000) div (cr + 1)) * ((r_tot * 1000) div t_tot))" +
          " div 1000").as("score_b"))
    val perDoc = occ.join(broadcast(scored), Seq("b"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_feat"),
        expr("sum(score_b) div count(1)").as("dsir_ppm"))
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val full = ck.own(docs(s, dir).select("doc_id")
        .join(perDoc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("n_feat"), lit(0L)).as("n_feat"),
          coalesce(col("dsir_ppm"), lit(0L)).as("dsir_ppm"))
        // materialized ONCE: three consumers (histogram, boundary slice,
        // final output) otherwise each re-run the explode→perDoc chain —
        // measured 2.24 s vs 0.25 s pre-rewrite at sf0.1, mostly this
        // recomputation. Eager (not lazy) checkpoint: the frame is one
        // row per doc, and the g_matching cadence audit showed lazy
        // persist racing concurrent broadcast builds into recomputes.
        .localCheckpoint())
      // selection (r12 — was a 3-job histogram-cut + boundary-tie
      // machinery, itself the r10 fix for a corpus-wide un-partitioned
      // row_number): the exact top-dsirKeep set under the total order
      // (dsir_ppm desc, doc_id) is ONE TakeOrderedAndProject — each task
      // keeps its local top-k, the driver merges k·p rows — the
      // distributive rank-select shape that is scale-safe at any corpus
      // size and costs one job instead of three. The ≤ dsirKeep-row
      // result broadcasts back over the checkpointed frame; the oracle
      // keeps its row_number formulation (identical set by the shared
      // total order).
      val out = dsirSelect(full)
        .localCheckpoint(eager = true) // the memoized frame
      occ.unpersist(blocking = false)
      out
    }
  }

  /** The selection step on its own (PlanAuditSpec asserts its
    * TakeOrderedAndProject shape directly — the memoized checkpoint
    * hides the build plan from the registry sweeps). */
  private[graft] def dsirSelect(full: DataFrame): DataFrame = {
    val topSel = full
      .orderBy(col("dsir_ppm").desc, col("doc_id")).limit(dsirKeep)
      .select(col("doc_id"), lit(1L).as("sel"))
    full.join(broadcast(topSel), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_feat"), col("dsir_ppm"),
        when(col("sel").isNotNull, 1L).otherwise(0L).as("selected"))
  }

  val dsirSql: String = {
    val h8 = OracleSql.hexToLong("md5(bg)", 1, 8)
    s"""WITH w AS (
       | SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
       |), occ AS (
       | SELECT doc_id, lang, CAST(($h8) % $dsirB AS BIGINT) AS b
       | FROM (
       |  SELECT doc_id, lang, unnest(list_transform(
       |    range(1, greatest(len(words) - 1, 0) + 1),
       |    i -> words[i] || ' ' || words[i+1])) AS bg
       |  FROM w)
       |), model AS (
       | SELECT b, count(*) AS cr,
       |  count(CASE WHEN lang = 'en' THEN 1 END) AS ct
       | FROM occ GROUP BY b
       |), tot AS (
       | SELECT CAST(sum(cr) + $dsirB AS BIGINT) AS r_tot,
       |  CAST(sum(ct) + $dsirB AS BIGINT) AS t_tot
       | FROM model
       |), scored AS (
       | SELECT b, CAST(((((ct + 1) * 1000000) // (cr + 1)) *
       |   ((r_tot * 1000) // t_tot)) // 1000 AS BIGINT) AS score_b
       | FROM model, tot
       |), sc AS (
       | SELECT occ.doc_id, count(*) AS n_feat,
       |  CAST(sum(scored.score_b) // count(*) AS BIGINT) AS dsir_ppm
       | FROM occ JOIN scored ON scored.b = occ.b
       | GROUP BY occ.doc_id
       |), f AS (
       | SELECT d.doc_id, COALESCE(sc.n_feat, 0) AS n_feat,
       |  COALESCE(sc.dsir_ppm, 0) AS dsir_ppm
       | FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
       |)
       |SELECT doc_id, n_feat, dsir_ppm,
       | CAST(CASE WHEN row_number() OVER (ORDER BY dsir_ppm DESC, doc_id)
       |   <= $dsirKeep THEN 1 ELSE 0 END AS BIGINT) AS selected
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------- t_dsir_eval
  /** DSIR SELECTION CALIBRATION — does importance resampling toward
    * the target distribution actually pick documents the QUALITY gate
    * keeps? Two rows (selected / not): docs, Gopher-keep count and
    * rate in ppm, mean importance score — read side by side, the table
    * answers whether the cheap distribution-matching score can stand
    * in for (or must compose with) the rule gate, the same question
    * t_quality_calibration asks of the composite score. Either outcome
    * is the product: a flat keep rate across the rows is the
    * measurement that distribution match ≠ quality. Composes two
    * oracle-checked ops; the oracle nests both full chains. */
  def dsirEval: Q = (s, dir) => {
    val sel = dsir(s, dir).select("doc_id", "selected", "dsir_ppm")
    val gate = gopherQuality(s, dir).select("doc_id", "keep")
    sel.join(gate, "doc_id")
      .groupBy("selected")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_gopher_keep"),
        expr("(count(CASE WHEN keep THEN 1 END) * 1000000) div count(1)")
          .as("keep_ppm"),
        expr("sum(dsir_ppm) div count(1)").as("mean_dsir_ppm"))
      .orderBy("selected")
  }

  lazy val dsirEvalSql: String =
    s"""WITH ds AS (
       |$dsirSql
       |), gq AS (
       |$gopherQualitySql
       |)
       |SELECT d.selected, count(*) AS n_docs,
       | count(CASE WHEN g.keep THEN 1 END) AS n_gopher_keep,
       | CAST((count(CASE WHEN g.keep THEN 1 END) * 1000000) // count(*)
       |  AS BIGINT) AS keep_ppm,
       | CAST(sum(d.dsir_ppm) // count(*) AS BIGINT) AS mean_dsir_ppm
       |FROM ds d JOIN gq g USING (doc_id)
       |GROUP BY d.selected ORDER BY d.selected""".stripMargin

  // ---------------------------------------------------- t_gopher_quality
  /** Gopher-rules quality gate (Rae et al. 2021 §A1.1), adapted to this
    * corpus (no punctuation/lines → the symbol/bullet/ellipsis rules are
    * vacuous here and omitted; the word-shape rules carry over):
    *   1. word count in [30, 50000]            → 'word_count'
    *   2. mean word length in [3, 10]          → 'word_len'
    *   3. most-common-word mass ≤ 1/6 of words → 'top_word' (Gopher's
   *      0.2 never fires on this corpus — max observed mass is 0.19;
   *      1/6 keeps the rule live while staying integer-exact)
    *   4. ≥ 2 DISTINCT stopwords present       → 'stopword'
    * All verdicts are INTEGER comparisons (mean word length via
    * cross-multiplied sum-of-word-lengths = n_chars − (n_words−1) for
    * the single-space join; top-word rule as 6·top_freq ≤ n_words) — no
    * float ever decides. `reason` is the FIRST failing rule in the
    * fixed order above. Per-document HOF work only (the top-word scan
    * is O(distinct·words) inside codegen) — linear, shuffle-free,
    * trivially partition-parallel at 100 TB. */
  def gopherQuality: Q = (s, dir) => {
    val en = langStopwords.head._2
    val words = col("words")
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"),
        length(col("text")).cast("long").as("n_chars_m"))
      .select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        (col("n_chars_m") - (size(words).cast("long") - 1)).as("swl"),
        array_max(transform(array_distinct(words),
          w => size(filter(words, x => x === w))))
          .cast("long").as("top_freq"),
        size(array_intersect(array_distinct(words),
          array(en.map(lit): _*))).cast("long").as("n_stop_kinds"))
      .withColumn("reason",
        when(col("n_words") < 30 || col("n_words") > 50000, "word_count")
          .when(col("swl") < lit(3) * col("n_words") ||
            col("swl") > lit(10) * col("n_words"), "word_len")
          .when(lit(6) * col("top_freq") > col("n_words"), "top_word")
          .when(col("n_stop_kinds") < 2, "stopword")
          .otherwise("ok"))
      .withColumn("keep", (col("reason") === "ok").cast("boolean"))
      .orderBy("doc_id")
  }

  val gopherQualitySql: String = {
    val en = langStopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH m AS (
       | SELECT doc_id, string_split(text, ' ') AS ws,
       |  CAST(length(text) AS BIGINT) AS n_chars_m
       | FROM documents
       |), f AS (
       | SELECT doc_id,
       |  CAST(len(ws) AS BIGINT) AS n_words,
       |  n_chars_m - (CAST(len(ws) AS BIGINT) - 1) AS swl,
       |  CAST(list_max(list_transform(list_distinct(ws),
       |    w -> len(list_filter(ws, x -> x = w)))) AS BIGINT) AS top_freq,
       |  CAST(len(list_intersect(list_distinct(ws), [$en])) AS BIGINT)
       |    AS n_stop_kinds
       | FROM m
       |), v AS (
       | SELECT doc_id, n_words, swl, top_freq, n_stop_kinds,
       |  CASE WHEN n_words < 30 OR n_words > 50000 THEN 'word_count'
       |       WHEN swl < 3 * n_words OR swl > 10 * n_words THEN 'word_len'
       |       WHEN 6 * top_freq > n_words THEN 'top_word'
       |       WHEN n_stop_kinds < 2 THEN 'stopword'
       |       ELSE 'ok' END AS reason
       | FROM f
       |)
       |SELECT doc_id, n_words, swl, top_freq, n_stop_kinds, reason,
       | (reason = 'ok') AS keep
       |FROM v ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- t_clean_normalize
  /** C4/CCNet-style text NORMALIZATION (the transform stage that
    * precedes filtering): drop degenerate 1-char tokens, then collapse
    * runs of consecutive duplicate words ("batch batch batch" → one
    * "batch" — the stutter artifact visible throughout this corpus),
    * and rebuild the text. Reference scope: the reference stores raw
    * document properties (vbmudalige/akka-graph-db
    * neo4j/Neo4jGraph.scala:98-119 keeps values verbatim); a training
    * pipeline inserts exactly this canonicalization before dedup so
    * near-dup detection sees normalized bytes.
    *
    * Cross-engine contract: the cleaned text itself crosses the oracle
    * boundary as md5 (the span-rewrite pattern — byte-identical or the
    * row fails), counts as exact integers, the removal rate as floor
    * ppm. Both lambdas are index HOFs: Spark `get(fw, i-1)` (0-based,
    * null OOB) and DuckDB `fw[i-1]` (1-based, null OOB) make the
    * first-element guard pure 3VL — `true OR null = true` in both
    * engines, no short-circuit assumption.
    *
    * Scale: no shuffle at all before the ORDER BY (which a 100 TB
    * pipeline drops — it writes partitioned). Cost model, stated
    * honestly: CollapseProject inlines the `fw` alias into the `clp`
    * lambda (HOF lambdas are evaluated interpreted and get no CSE), so
    * the dedup filter re-derives `fw` per element — O(words²) PER
    * DOCUMENT. Documents are length-bounded (~10² words), so corpus
    * cost stays linear with a small constant; for unbounded documents
    * the fix is the position-explode relational form (see
    * Multimodal.phashDedup, where the same inlining on corpus-scaled
    * arrays was a 140× regression before the rewrite). */
  def cleanNormalize: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("fw", expr("filter(words, w -> length(w) > 1)"))
      .withColumn("clp",
        expr("filter(fw, (w, i) -> i = 0 OR w <> get(fw, i - 1))"))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_raw"),
        size(col("clp")).cast("long").as("n_kept"),
        expr("(1000000 * (size(words) - size(clp))) div size(words)")
          .as("removed_ppm"),
        md5(concat_ws(" ", col("clp"))).as("clean_md5"))
      .orderBy("doc_id")

  val cleanNormalizeSql: String =
    """SELECT doc_id,
      | len(words) AS n_raw,
      | len(clp) AS n_kept,
      | CAST(1000000 * (len(words) - len(clp)) // len(words) AS BIGINT) AS removed_ppm,
      | md5(array_to_string(clp, ' ')) AS clean_md5
      |FROM (
      | SELECT doc_id, words,
      |  list_filter(fw, (w, i) -> i = 1 OR w <> fw[i - 1]) AS clp
      | FROM (
      |  SELECT doc_id, words,
      |   list_filter(words, w -> length(w) > 1) AS fw
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      | )
      |) ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- t_rule_ablation
  /** Quality-rule ABLATION report — the table a curator reads before
    * changing a filter: for each Gopher rule, how many docs fail it at
    * all (n_fail), how many fail ONLY it (n_sole_fail — the docs that
    * rule alone is removing; dropping the rule re-admits exactly
    * these), the token mass those sole-failures carry (tok_readmit),
    * and the corpus share in ppm. Rules share t_gopher_quality's exact
    * integer forms, evaluated INDEPENDENTLY here (the gate's `reason`
    * is first-fail-wins and cannot answer ablation questions). One
    * 4-rules-per-doc explode + one partial-aggregable groupBy; the
    * corpus total joins as a broadcast 1-row aggregate (the t_df_prune
    * discipline). */
  def ruleAblation: Q = (s, dir) => {
    val en = langStopwords.head._2
    val words = col("words")
    val flagged = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"),
        length(col("text")).cast("long").as("n_chars_m"))
      .select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        (col("n_chars_m") - (size(words).cast("long") - 1)).as("swl"),
        array_max(transform(array_distinct(words),
          w => size(filter(words, x => x === w))))
          .cast("long").as("top_freq"),
        size(array_intersect(array_distinct(words),
          array(en.map(lit): _*))).cast("long").as("n_stop_kinds"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") < 30 || col("n_words") > 50000).as("f_wc"),
        (col("swl") < lit(3) * col("n_words") ||
          col("swl") > lit(10) * col("n_words")).as("f_wl"),
        (lit(6) * col("top_freq") > col("n_words")).as("f_tw"),
        (col("n_stop_kinds") < 2).as("f_sw"))
      .withColumn("n_fails",
        col("f_wc").cast("long") + col("f_wl").cast("long") +
          col("f_tw").cast("long") + col("f_sw").cast("long"))
    val total = flagged.agg(count(lit(1)).as("n_docs_total"))
    flagged
      .select(col("doc_id"), col("n_words"), col("n_fails"),
        explode(array(
          struct(lit("1_word_count").as("rule"), col("f_wc").as("fails")),
          struct(lit("2_word_len").as("rule"), col("f_wl").as("fails")),
          struct(lit("3_top_word").as("rule"), col("f_tw").as("fails")),
          struct(lit("4_stopword").as("rule"), col("f_sw").as("fails"))))
          .as("rf"))
      .select(col("doc_id"), col("n_words"), col("n_fails"),
        col("rf.rule").as("rule"), col("rf.fails").as("fails"))
      .groupBy("rule")
      .agg(
        sum(col("fails").cast("long")).as("n_fail"),
        sum((col("fails") && col("n_fails") === 1).cast("long"))
          .as("n_sole_fail"),
        sum(when(col("fails") && col("n_fails") === 1, col("n_words"))
          .otherwise(0L)).as("tok_readmit"))
      .crossJoin(broadcast(total))
      .select(col("rule"), col("n_fail"), col("n_sole_fail"),
        col("tok_readmit"),
        expr("(n_fail * 1000000) div n_docs_total").as("fail_ppm"))
      .orderBy("rule")
  }

  val ruleAblationSql: String =
    """WITH f AS (
      | SELECT doc_id,
      |  len(words) AS n_words,
      |  (length(text) - (len(words) - 1)) AS swl,
      |  list_max(list_transform(list_distinct(words),
      |    w -> len(list_filter(words, x -> x = w)))) AS top_freq,
      |  len(list_intersect(list_distinct(words),
      |    ['the','a','of','and','to','in','is','it'])) AS n_stop_kinds
      | FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
      |), fl AS (
      | SELECT doc_id, n_words,
      |  (n_words < 30 OR n_words > 50000) AS f_wc,
      |  (swl < 3 * n_words OR swl > 10 * n_words) AS f_wl,
      |  (6 * top_freq > n_words) AS f_tw,
      |  (n_stop_kinds < 2) AS f_sw
      | FROM f
      |), nf AS (
      | SELECT doc_id, n_words, f_wc, f_wl, f_tw, f_sw,
      |  (CAST(f_wc AS BIGINT) + CAST(f_wl AS BIGINT)
      |   + CAST(f_tw AS BIGINT) + CAST(f_sw AS BIGINT)) AS n_fails
      | FROM fl
      |), ex AS (
      | SELECT doc_id, n_words, n_fails, '1_word_count' AS rule, f_wc AS fails FROM nf
      | UNION ALL SELECT doc_id, n_words, n_fails, '2_word_len', f_wl FROM nf
      | UNION ALL SELECT doc_id, n_words, n_fails, '3_top_word', f_tw FROM nf
      | UNION ALL SELECT doc_id, n_words, n_fails, '4_stopword', f_sw FROM nf
      |), t AS (SELECT count(*) AS n_docs_total FROM nf)
      |SELECT rule,
      | CAST(sum(CAST(fails AS BIGINT)) AS BIGINT) AS n_fail,
      | CAST(sum(CASE WHEN fails AND n_fails = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sole_fail,
      | CAST(sum(CASE WHEN fails AND n_fails = 1 THEN n_words ELSE 0 END) AS BIGINT) AS tok_readmit,
      | CAST((sum(CAST(fails AS BIGINT)) * 1000000) // (SELECT n_docs_total FROM t) AS BIGINT) AS fail_ppm
      |FROM ex GROUP BY rule ORDER BY rule""".stripMargin

  // -------------------------------------------------- t_simpson_diversity
  /** Per-document lexical CONCENTRATION via the Gini–Simpson index:
    * 1 − Σ p_w² over the word distribution — the repetition signal a
    * corpus-quality pipeline wants where Shannon entropy would force a
    * transcendental per count (the house parity rule bans cross-engine
    * log(): Σ c_w² is EXACT BIGINT, and the index is one double
    * division from exact integers, rounded — engine-bit-identical).
    * Low diversity ⇒ template/boilerplate/keyword-stuffed docs (the
    * same family t_rep_ngram catches at the n-gram level). Per-doc
    * linear; the word-count aggregation is map-side combinable and the
    * per-doc Σc² folds in one groupBy — at corpus scale this is one
    * shuffle keyed by (doc_id, word), no global state. */
  def simpsonDiversity: Q = (s, dir) => {
    val wc = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    wc.groupBy("doc_id")
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sum_sq"),
        max(col("c")).as("top_freq"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        round(lit(1.0) - col("sum_sq").cast("double") /
          (col("n_words") * col("n_words")).cast("double"), 6)
          .as("simpson_div"),
        round(col("top_freq").cast("double") / col("n_words").cast("double"), 6)
          .as("top_word_ratio"))
      .orderBy("doc_id")
  }

  val simpsonDiversitySql: String =
    """WITH wc AS (
      | SELECT doc_id, w, count(*) AS c
      | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |       FROM documents)
      | GROUP BY doc_id, w
      |)
      |SELECT doc_id,
      | CAST(sum(c) AS BIGINT) AS n_words,
      | count(*) AS n_distinct,
      | round(1.0 - CAST(sum(c * c) AS DOUBLE) /
      |   CAST(sum(c) * sum(c) AS DOUBLE), 6) AS simpson_div,
      | round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_word_ratio
      |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- t_hapax
  /** Corpus vocabulary-growth profile: hapax/dis/tris legomena counts
    * (words occurring exactly 1/2/3 times corpus-wide) and the
    * type-token ratio — the Zipf-tail diagnostic that predicts how fast
    * vocabulary grows with corpus size (a high hapax share means the
    * tokenizer/vocab budget is not yet saturated). All counts exact
    * integers; the two ratios are single double divisions, rounded.
    * Plan: one (word)-keyed count aggregation (map-side combinable),
    * then a 1-row re-aggregation over frequency classes — the second
    * stage input is |vocab| rows, never |corpus|. */
  def hapax: Q = (s, dir) => {
    val vocab = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    vocab.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("c")).as("n_tokens"),
      count(when(col("c") === 1, 1)).as("n_hapax"),
      count(when(col("c") === 2, 1)).as("n_dis"),
      count(when(col("c") === 3, 1)).as("n_tris"))
      .select(col("vocab_size"), col("n_tokens"),
        col("n_hapax"), col("n_dis"), col("n_tris"),
        round(col("n_hapax").cast("double") / col("vocab_size").cast("double"), 6)
          .as("hapax_ratio"),
        round(col("vocab_size").cast("double") / col("n_tokens").cast("double"), 6)
          .as("type_token_ratio"))
  }

  val hapaxSql: String =
    """WITH vocab AS (
      | SELECT w, count(*) AS c
      | FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      | GROUP BY w
      |)
      |SELECT count(*) AS vocab_size,
      | CAST(sum(c) AS BIGINT) AS n_tokens,
      | CAST(count(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS n_hapax,
      | CAST(count(CASE WHEN c = 2 THEN 1 END) AS BIGINT) AS n_dis,
      | CAST(count(CASE WHEN c = 3 THEN 1 END) AS BIGINT) AS n_tris,
      | round(CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE) /
      |   CAST(count(*) AS DOUBLE), 6) AS hapax_ratio,
      | round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
      |  AS type_token_ratio
      |FROM vocab""".stripMargin

  // ------------------------------------------------------ t_sentence_stats
  /** Sentence segmentation stats per document — the chunking-granularity
    * profile (sequence packers and context-window planners size on
    * sentences, not characters): split on terminal-punctuation runs
    * `[.!?]+`, drop whitespace-only fragments, report count / mean
    * chars / max words. The regex split and the whitespace-token count
    * are the SAME pattern on both engines; mean is one double division
    * from exact integers. Linear, shuffle-free per-doc projection. */
  def sentenceStats: Q = (s, dir) => {
    val sents = filter(
      transform(split(col("text"), "[.!?]+"), x => trim(x)),
      x => length(x) > 0)
    docs(s, dir)
      .select(col("doc_id"), sents.as("sents"))
      .select(col("doc_id"),
        size(col("sents")).cast("long").as("n_sentences"),
        aggregate(col("sents"), lit(0L), (acc, x) => acc + length(x))
          .as("sum_chars"),
        aggregate(col("sents"), lit(0L),
          (acc, x) => greatest(acc, size(split(x, " +")).cast("long")))
          .as("max_sent_words"))
      .select(col("doc_id"), col("n_sentences"),
        when(col("n_sentences") > 0,
          round(col("sum_chars").cast("double") /
            col("n_sentences").cast("double"), 6))
          .otherwise(lit(0.0)).as("avg_sent_chars"),
        col("max_sent_words"))
      .orderBy("doc_id")
  }

  val sentenceStatsSql: String =
    """WITH sx AS (
      | SELECT doc_id,
      |  list_filter(list_transform(string_split_regex(text, '[.!?]+'),
      |    x -> trim(x)), x -> length(x) > 0) AS sents
      | FROM documents
      |), st AS (
      | SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
      |  CAST(list_sum(list_transform(sents, x -> length(x))) AS BIGINT)
      |   AS sum_chars,
      |  CAST(list_max(list_transform(sents,
      |    x -> len(string_split_regex(x, ' +')))) AS BIGINT)
      |   AS max_sent_words
      | FROM sx
      |)
      |SELECT doc_id, n_sentences,
      | CASE WHEN n_sentences > 0
      |  THEN round(CAST(sum_chars AS DOUBLE) / CAST(n_sentences AS DOUBLE), 6)
      |  ELSE 0.0 END AS avg_sent_chars,
      | COALESCE(max_sent_words, 0) AS max_sent_words
      |FROM st ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- t_code_detect
  /** Code-vs-prose heuristic — the corpus-mix gate that decides whether
    * a document routes to the code pipeline (different tokenizer,
    * different dedup granularity) or the text one: symbol density
    * (braces/brackets/semicolons/operators per char) and digit density
    * as exact integer ppm, thresholded. Counts via one
    * regexp_extract_all per class — identical RE2-compatible patterns
    * on both engines; linear, shuffle-free. The 2% symbol-ppm
    * threshold is the published prose/code separation heuristic
    * (natural prose ≈ 0.1–0.5%, source code ≥ 3%). */
  val codeSymPpmThresh = 20000L

  def codeDetect: Q = (s, dir) =>
    docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_cd"),
      size(regexp_extract_all(col("text"), lit("[{}()<>;=\\[\\]]"), lit(0)))
        .cast("long").as("n_sym"),
      size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
        .cast("long").as("n_digit"))
      .select(col("doc_id"), col("n_chars_cd"), col("n_sym"), col("n_digit"),
        expr("(n_sym * 1000000) div greatest(n_chars_cd, 1)").as("sym_ppm"),
        expr("(n_digit * 1000000) div greatest(n_chars_cd, 1)").as("digit_ppm"))
      .withColumn("is_code",
        (col("sym_ppm") >= codeSymPpmThresh).cast("long"))
      .orderBy("doc_id")

  val codeDetectSql: String =
    s"""SELECT doc_id, n_chars_cd, n_sym, n_digit,
       | CAST((n_sym * 1000000) // greatest(n_chars_cd, 1) AS BIGINT) AS sym_ppm,
       | CAST((n_digit * 1000000) // greatest(n_chars_cd, 1) AS BIGINT) AS digit_ppm,
       | CAST(CASE WHEN (n_sym * 1000000) // greatest(n_chars_cd, 1)
       |   >= $codeSymPpmThresh THEN 1 ELSE 0 END AS BIGINT) AS is_code
       |FROM (
       | SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_cd,
       |  CAST(len(regexp_extract_all(text, '[{}()<>;=\\[\\]]')) AS BIGINT) AS n_sym,
       |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit
       | FROM documents
       |) ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- t_vocab_coverage
  /** Vocabulary-budget coverage curve — the table a tokenizer-size
    * decision reads: for k ∈ {100, 1000, 10000}, what fraction of all
    * token OCCURRENCES is covered by the k most frequent words?
    * (Zipf makes this concave: the first 100 words usually cover
    * 40-50% of mass; the curve's knee is the budget.) Rank ties break
    * deterministically (count desc, word asc). Plan: one word-count
    * aggregation (map-side combinable), ONE vocab-sized window pass
    * computing cumulative mass ordered by rank, probed at the three
    * budgets — the window input is |vocab| rows, never |corpus|; at
    * 100 TB the vocab table is the thing that still fits. */
  val vocabBudgets: Seq[Long] = Seq(100L, 1000L, 10000L)

  def vocabCoverage: Q = (s, dir) => {
    val vocab = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val wOrd = Window.orderBy(col("c").desc, col("w"))
    val ranked = vocab
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("cum", sum("c").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = ranked.agg(sum("c").as("tot"), count(lit(1)).as("vocab_size"))
    val budgets = s.createDataFrame(
      vocabBudgets.map(Tuple1.apply)).toDF("k")
    // probe: the covered mass at budget k = cum at rank min(k, vocab)
    val probes = budgets.crossJoin(broadcast(tot))
      .select(col("k"), least(col("k"), col("vocab_size")).as("rk"),
        col("tot"), col("vocab_size"))
    probes.join(ranked.select("rk", "cum"), Seq("rk"))
      .select(col("k"), col("vocab_size"), col("cum").as("covered"),
        col("tot").as("total_tokens"),
        expr("(cum * 1000000) div tot").as("coverage_ppm"))
      .orderBy("k")
  }

  val vocabCoverageSql: String = {
    val ks = vocabBudgets.mkString(", ")
    s"""WITH vocab AS (
       | SELECT w, count(*) AS c
       | FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       | GROUP BY w
       |), ranked AS (
       | SELECT c,
       |  row_number() OVER (ORDER BY c DESC, w) AS rk,
       |  sum(c) OVER (ORDER BY c DESC, w
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       | FROM vocab
       |), tot AS (
       | SELECT CAST(sum(c) AS BIGINT) AS tot, count(*) AS vocab_size
       | FROM vocab
       |), probes AS (
       | SELECT k, least(k, vocab_size) AS rk, tot, vocab_size
       | FROM (SELECT unnest(ARRAY[$ks]) AS k), tot
       |)
       |SELECT p.k, p.vocab_size, CAST(r.cum AS BIGINT) AS covered,
       | p.tot AS total_tokens,
       | CAST((r.cum * 1000000) // p.tot AS BIGINT) AS coverage_ppm
       |FROM probes p JOIN ranked r ON r.rk = p.rk
       |ORDER BY p.k""".stripMargin
  }

  // ------------------------------------------------------ t_ngram_novelty
  /** Per-document N-GRAM NOVELTY — the share of a doc's 3-gram
    * shingles whose global FIRST occurrence (min doc_id — the corpus
    * ingestion order) is the doc itself: the memorization/redundancy
    * profile training-data analyses read (a near-zero-novelty doc is
    * boilerplate already covered upstream; the per-doc complement of
    * the corpus-level d_dup_distribution view). Shares the
    * d_dedup_minhash shingle definition (one definition — the dedup
    * family and this profile can never disagree on what a shingle is).
    * Plan: explode distinct per-doc shingles, groupBy(sh).min(doc_id)
    * — a map-side-combinable MIN, the wordcount shape — then one
    * sh-keyed equi-join back and a per-doc re-agg; both shuffles key
    * on sh and ReuseExchange unifies them. Docs with < 3 words emit no
    * shingles in either engine (the shared guard). */
  def ngramNovelty: Q = (s, dir) => {
    val sh = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(Dedup.shingleCol(col("words"))).as("sh"))
    val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    sh.join(first, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1000000) div n_shingles").as("novelty_ppm"))
      .orderBy("doc_id")
  }

  val ngramNoveltySql: String =
    s"""WITH sh AS (
       | SELECT doc_id, unnest(${Dedup.shingleSqlExpr}) AS sh
       | FROM documents
       |), fo AS (
       | SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh
       |)
       |SELECT s.doc_id, count(*) AS n_shingles,
       | CAST(sum(CASE WHEN fo.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       | (CAST(sum(CASE WHEN fo.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |   // count(*) AS novelty_ppm
       |FROM sh s JOIN fo USING (sh)
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  // ------------------------------------------------------ t_template_detect
  /** TEMPLATE DETECTION — clusters of documents sharing their opening
    * (first 8 tokens): the boilerplate/templated-spam signal that
    * near-dup similarity misses when bodies diverge after a shared
    * header (form letters, scraped page frames, generated report
    * shells). The prefix is a FIXED-length key, so clustering is one
    * exact groupBy — no pair generation, no bands, no candidate join
    * (contrast d_dedup_minhash, which this complements: prefix
    * collisions catch structured templates cheaply; minhash catches
    * shuffled near-dups the prefix misses). n_distinct_texts beside
    * n_docs separates "same template, different fill" from exact
    * duplication (d_dedup_exact's domain). At 100 TB: the map side
    * reduces each doc to (8-token prefix, source, fp) before the one
    * key-hashed shuffle; output is bounded by the cluster count and
    * the ≥2 filter. Short docs (< 8 tokens) key on their full text —
    * identical semantics in both engines (slice past the end
    * truncates). */
  def templateDetect: Q = (s, dir) => {
    val prefix = concat_ws(" ", slice(split(col("text"), " "), 1, 8))
    docs(s, dir)
      .select(col("doc_id"), col("source"), col("text"),
        prefix.as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("text")).as("n_distinct_texts"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("prefix")
  }

  val templateDetectSql: String =
    """SELECT array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
      |   AS prefix,
      | count(*) AS n_docs,
      | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      | CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
      | min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM documents
      |GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY prefix""".stripMargin

  // ----------------------------------------------------- t_term_burstiness
  /** TERM BURSTINESS (Church–Gale) — does a term spread evenly across
    * documents or clump into a few? The variance-to-mean ratio of
    * per-document counts over the WHOLE corpus (zeros included —
    * which is why the closed form matters: materializing zero rows
    * for every (term, doc) pair is |vocab|×|corpus|): VMR = Var/mean
    * = (N·Σx² − cf²) / (N·cf) in exact integer ppm via DECIMAL(38,0)
    * cross-multiplication (cf²·10⁶ overflows BIGINT at corpus scale),
    * where the only inputs are the per-term aggregates df, cf, Σx² —
    * one explode pass, one (doc,term) count, one term-keyed partial-
    * agged shuffle. VMR ≈ 1 is Poisson (function words); VMR ≫ 1 is
    * bursty content terms — the signal topical-sampling and stopword
    * induction read. Beside it, mean occurrences per CONTAINING doc
    * (cf/df, exact milli) — Church's original burstiness. Output cut
    * to the top 30 terms by (cf DESC, term) — a total order, so the
    * cut is deterministic and scale-independent. */
  def termBurstiness: Q = (s, dir) => {
    val perDoc = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("x"))
    val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    perDoc.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("x").as("cf"),
        sum(col("x") * col("x")).as("sum_x2"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"), col("cf"), col("sum_x2"),
        expr("CAST(((CAST(n_docs AS DECIMAL(38,0)) * sum_x2 - CAST(cf AS DECIMAL(38,0)) * cf) * 1000000) div (CAST(n_docs AS DECIMAL(38,0)) * cf) AS BIGINT)")
          .as("vmr_ppm"),
        expr("(cf * 1000) div df").as("per_doc_milli"))
      .orderBy(col("cf").desc, col("term"))
      .limit(30)
      .orderBy("term")
  }

  val termBurstinessSql: String =
    """WITH pd AS (
      | SELECT doc_id, unnest(string_split(text, ' ')) AS term
      | FROM documents
      |), cnt AS (
      | SELECT doc_id, term, count(*) AS x FROM pd GROUP BY 1, 2
      |), n AS (SELECT count(*) AS n_docs FROM documents
      |), agg AS (
      | SELECT term, count(*) AS df, CAST(sum(x) AS BIGINT) AS cf,
      |  CAST(sum(x * x) AS BIGINT) AS sum_x2
      | FROM cnt GROUP BY term
      |), ranked AS (
      | SELECT term, df, cf, sum_x2,
      |  CAST(((CAST(n.n_docs AS HUGEINT) * sum_x2
      |      - CAST(cf AS HUGEINT) * cf) * 1000000)
      |    // (CAST(n.n_docs AS HUGEINT) * cf) AS BIGINT) AS vmr_ppm,
      |  (cf * 1000) // df AS per_doc_milli
      | FROM agg, n
      | ORDER BY cf DESC, term LIMIT 30
      |)
      |SELECT * FROM ranked ORDER BY term""".stripMargin

  // ------------------------------------------------- t_span_corruption
  /** SPAN-CORRUPTION PLAN (T5/UL2 denoising objective preprocessing,
    * Raffel et al. 2020 §3.1.4 derandomized): per document, the
    * masking plan a span-corruption pretraining run would apply —
    * which token positions fall in masked spans and how many sentinel
    * tokens the target sequence needs (one per span — the sentinel
    * BUDGET is what the op exists to size: targets grow by n_spans,
    * inputs shrink by n_masked − n_spans). The paper's coin flips are
    * derandomized the house way: position i starts a span iff 4
    * md5(doc_id:i) nibbles ≡ 0 (mod 20) — 5% start rate × fixed span
    * length 3 ≈ the paper's 15% corruption rate, with overlapping
    * spans merging exactly as the real algorithm merges them (masked =
    * any start within the trailing window; spans counted at
    * masked-run heads). Entirely array HOFs inside the row — zero
    * explodes, zero shuffles before the final sort; the plan is a pure
    * function of (doc_id, text), so re-runs/re-partitions reproduce
    * the same corruption — the property a resumable pretraining job
    * needs from its data pipeline. */
  def spanCorruption: Q = (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("starts", expr(
        "transform(sequence(1, CAST(n_tokens AS INT)), i -> " +
          "CASE WHEN hex_slice(md5(concat(CAST(doc_id AS STRING), ':', " +
          "CAST(i AS STRING))), 1, 4) % 20 = 0 THEN 1 ELSE 0 END)"))
      .withColumn("masked", expr(
        "transform(sequence(1, CAST(n_tokens AS INT)), i -> " +
          "CASE WHEN starts[i-1] = 1 OR (i >= 2 AND starts[i-2] = 1) " +
          "OR (i >= 3 AND starts[i-3] = 1) THEN 1 ELSE 0 END)"))
      .select(col("doc_id"), col("n_tokens"),
        expr("aggregate(sequence(1, CAST(n_tokens AS INT)), 0L, (acc, i) -> " +
          "acc + CASE WHEN masked[i-1] = 1 AND (i = 1 OR masked[i-2] = 0) " +
          "THEN 1 ELSE 0 END)").as("n_spans"),
        expr("aggregate(masked, 0L, (acc, x) -> acc + x)").as("n_masked"))
      .withColumn("mask_ppm", expr(
        "CASE WHEN n_tokens > 0 THEN (n_masked * 1000000) div n_tokens" +
          " ELSE CAST(0 AS BIGINT) END"))
      .orderBy("doc_id")

  val spanCorruptionSql: String = {
    val h4 = graft.operators.OracleSql.hexToLong(
      "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))", 1, 4)
    s"""WITH d AS (
       | SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
       | FROM documents
       |), st AS (
       | SELECT doc_id, n_tokens, list_transform(range(1, n_tokens + 1),
       |   i -> CASE WHEN ($h4) % 20 = 0 THEN 1 ELSE 0 END) AS starts
       | FROM d
       |), mk AS (
       | SELECT doc_id, n_tokens, list_transform(range(1, n_tokens + 1),
       |   i -> CASE WHEN starts[i] = 1 OR (i >= 2 AND starts[i-1] = 1)
       |     OR (i >= 3 AND starts[i-2] = 1) THEN 1 ELSE 0 END) AS masked
       | FROM st
       |)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       | CAST(COALESCE(list_sum(list_transform(range(1, n_tokens + 1),
       |   i -> CASE WHEN masked[i] = 1 AND (i = 1 OR masked[i-1] = 0)
       |    THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_spans,
       | CAST(COALESCE(list_sum(masked), 0) AS BIGINT) AS n_masked,
       | CAST(CASE WHEN n_tokens > 0
       |  THEN (COALESCE(list_sum(masked), 0) * 1000000) // n_tokens
       |  ELSE 0 END AS BIGINT) AS mask_ppm
       |FROM mk ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "t_span_corruption" -> spanCorruption,
    "t_template_detect" -> templateDetect,
    "t_term_burstiness" -> termBurstiness,
    "t_ngram_novelty" -> ngramNovelty,
    "t_vocab_coverage" -> vocabCoverage,
    "t_code_detect" -> codeDetect,
    "t_simpson_diversity" -> simpsonDiversity,
    "t_hapax" -> hapax,
    "t_sentence_stats" -> sentenceStats,
    "t_dsir" -> dsir,
    "t_dsir_eval" -> dsirEval,
    "t_bpe_apply" -> bpeApply,
    "t_bpe_fertility" -> bpeFertility,
    "t_content_chunking" -> contentChunking,
    "t_rule_ablation" -> ruleAblation,
    "t_clean_normalize" -> cleanNormalize,
    "t_gopher_quality" -> gopherQuality,
    "t_global_shuffle" -> globalShuffle,
    "t_doc_lm_score" -> docLmScore,
    "t_readability" -> readability,
    "t_mixture_resample" -> mixtureResample,
    "t_langid_eval" -> langidEval,
    "t_df_prune" -> dfPrune,
    "t_vocab_overlap" -> vocabOverlap,
    "t_mad_outliers" -> madOutliers,
    "t_bigram_cond" -> bigramCond,
    "t_ccnet_bucket" -> ccnetBucket,
    "t_ccnet_bucket_scaled" -> ccnetBucketScaled,
    "t_source_stats" -> sourceStats,
    "t_winnowing" -> winnowing,
    "t_bloom_filter" -> bloomFilter,
    "t_lang_id" -> langId,
    "t_quality_score" -> qualityScore,
    "t_token_count" -> tokenCount,
    "t_corpus_filter" -> corpusFilter,
    "t_ngram_stats" -> ngramStats,
    "t_pmi" -> pmi,
    "t_tfidf" -> tfidf,
    "t_pii_redact" -> piiRedact,
    "t_heavy_hitters" -> heavyHitters,
    "t_zipf_profile" -> zipfProfile,
    "t_kmv_merge" -> kmvMerge,
    "t_ttr_curve" -> ttrCurve,
    "t_stratified_sample" -> stratifiedSample,
    "t_pack_sequences" -> packSequences,
    "t_rep_ngram" -> repNgram,
    "t_distinct_kmv" -> distinctKmv,
    "t_bpe_train" -> bpeTrain,
    "t_quality_calibration" -> qualityCalibration,
    "t_fingerprint" -> fingerprint)

  val oracleSql: Map[String, String] = Map(
    "t_span_corruption" -> spanCorruptionSql,
    "t_template_detect" -> templateDetectSql,
    "t_term_burstiness" -> termBurstinessSql,
    "t_ngram_novelty" -> ngramNoveltySql,
    "t_vocab_coverage" -> vocabCoverageSql,
    "t_code_detect" -> codeDetectSql,
    "t_simpson_diversity" -> simpsonDiversitySql,
    "t_hapax" -> hapaxSql,
    "t_sentence_stats" -> sentenceStatsSql,
    "t_dsir" -> dsirSql,
    "t_dsir_eval" -> dsirEvalSql,
    "t_bpe_apply" -> bpeApplySql,
    "t_bpe_fertility" -> bpeFertilitySql,
    "t_content_chunking" -> contentChunkingSql,
    "t_bpe_train" -> bpeTrainSql,
    "t_quality_calibration" -> qualityCalibrationSql,
    "t_rule_ablation" -> ruleAblationSql,
    "t_clean_normalize" -> cleanNormalizeSql,
    "t_gopher_quality" -> gopherQualitySql,
    "t_global_shuffle" -> globalShuffleSql,
    "t_doc_lm_score" -> docLmScoreSql,
    "t_readability" -> readabilitySql,
    "t_mixture_resample" -> mixtureResampleSql,
    "t_langid_eval" -> langidEvalSql,
    "t_df_prune" -> dfPruneSql,
    "t_vocab_overlap" -> vocabOverlapSql,
    "t_mad_outliers" -> madOutliersSql,
    "t_bigram_cond" -> bigramCondSql,
    "t_ccnet_bucket" -> ccnetBucketSql,
    "t_ccnet_bucket_scaled" -> ccnetBucketScaledSql,
    "t_source_stats" -> sourceStatsSql,
    "t_winnowing" -> winnowingSql,
    "t_bloom_filter" -> bloomFilterSql,
    "t_lang_id" -> langIdSql,
    "t_quality_score" -> qualityScoreSql,
    "t_token_count" -> tokenCountSql,
    "t_corpus_filter" -> corpusFilterSql,
    "t_ngram_stats" -> ngramStatsSql,
    "t_pmi" -> pmiSql,
    "t_tfidf" -> tfidfSql,
    "t_pii_redact" -> piiRedactSql,
    "t_heavy_hitters" -> heavyHittersSql,
    "t_zipf_profile" -> zipfProfileSql,
    "t_kmv_merge" -> kmvMergeSql,
    "t_ttr_curve" -> ttrCurveSql,
    "t_stratified_sample" -> stratifiedSampleSql,
    "t_pack_sequences" -> packSequencesSql,
    "t_rep_ngram" -> repNgramSql,
    "t_distinct_kmv" -> distinctKmvSql,
    "t_fingerprint" -> fingerprintSql)
}
