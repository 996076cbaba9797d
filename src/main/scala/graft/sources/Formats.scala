package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables
import graft.streaming.Streams

/** Source/sink format coverage (SURVEY.md §2 F-block): the engine's
  * interchange boundary. Parquet is the production storage format
  * (columnar, pushdown, stats); JSON and CSV are the interchange
  * formats a pipeline ingests from and exports to. Each op here is a
  * full sink→source round-trip: write the `documents` table out in the
  * target format (distributed part files — the writer IS the sink),
  * read it back with an EXPLICIT schema (no inference pass over the
  * data at scale), and aggregate per-source integrity stats. The
  * DuckDB oracle computes the same stats from the original parquet, so
  * a green row proves byte-exact value round-tripping, not just "wrote
  * some files".
  *
  * Scale notes: writes are partition-parallel (no driver funnel);
  * reads with explicit schema skip the whole-file inference scan CSV/
  * JSON would otherwise pay; the aggregate is one hash shuffle on
  * `source` (5 groups). Re-reading text through count(DISTINCT md5)
  * keeps the integrity check order-independent.
  */
object Formats {
  type Q = (SparkSession, String) => DataFrame

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Per-(session, sf, format) scratch dir under java.io.tmpdir. The
    * Spark applicationId component isolates concurrent processes on the
    * same machine (two Verify/Bench runs on one sf dir would otherwise
    * race overwrite-vs-read on a shared path) and disambiguates
    * dir.hashCode collisions. The app-scoped root is deleted on JVM
    * shutdown — unique-per-run paths would otherwise leak three
    * serialized corpus copies per invocation and fill /tmp. */
  private val cleanupHooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  private def scratch(s: SparkSession, dir: String, fmt: String): String = {
    val tag = java.lang.Integer.toHexString(dir.hashCode)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_sources/" +
      s.sparkContext.applicationId
    if (cleanupHooked.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(new java.io.File(root))))
    }
    s"$root/$tag/$fmt"
  }

  /** Per-source integrity stats — identical aggregate on both engines. */
  private def integrity(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"),
        countDistinct(md5(col("text"))).as("n_uniq"))
      .orderBy("source")

  private val integritySql: String =
    """SELECT source, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | CAST(sum(length(text)) AS BIGINT) AS sum_len,
      | count(DISTINCT md5(text)) AS n_uniq
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------ src_json_roundtrip
  /** documents → JSON-lines sink → JSON source → integrity aggregate. */
  def jsonRoundtrip: Q = (s, dir) => {
    val path = scratch(s, dir, "json")
    Tables(s, dir, "documents").write.mode("overwrite").json(path)
    integrity(s.read.schema(docSchema).json(path))
  }

  // ------------------------------------------------------- src_csv_roundtrip
  /** documents → CSV sink → CSV source → integrity aggregate. Quoting
    * set explicitly on both sides so embedded delimiters/quotes survive,
    * and the READ side sets multiLine so quoted embedded newlines parse
    * as one record instead of splitting into malformed rows (the
    * synthetic corpus has none, but the contract must not depend on
    * that). multiLine makes a CSV file non-splittable — at 100 TB
    * prefer many moderate files (this sink writes one per partition)
    * or a format with escaped newlines. */
  def csvRoundtrip: Q = (s, dir) => {
    val path = scratch(s, dir, "csv")
    // Explicit nullValue/emptyValue on BOTH sides: with the defaults,
    // Spark writes null and "" indistinguishably and reads empty fields
    // back as null, so a corpus containing empty text would silently
    // change sum_len/n_uniq vs the parquet oracle. Distinct sentinels
    // make empty-vs-null survive the CSV boundary by construction.
    val opts = Map("header" -> "true", "quote" -> "\"", "escape" -> "\"",
      "nullValue" -> "\\N", "emptyValue" -> "\"\"")
    Tables(s, dir, "documents")
      .write.mode("overwrite").options(opts).csv(path)
    integrity(s.read.schema(docSchema).options(opts)
      .option("multiLine", "true").csv(path))
  }

  // ------------------------------------------------------- src_orc_roundtrip
  /** documents → ORC sink → ORC source → integrity aggregate. ORC is
    * the second columnar format Spark ships natively (stripe stats,
    * predicate pushdown) — the round-trip proves the engine can sit on
    * an ORC lake as readily as parquet. */
  def orcRoundtrip: Q = (s, dir) => {
    val path = scratch(s, dir, "orc")
    Tables(s, dir, "documents").write.mode("overwrite").orc(path)
    integrity(s.read.schema(docSchema).orc(path))
  }

  // ------------------------------------------------------ src_text_roundtrip
  /** documents → LINE-ORIENTED text sink → text source → integrity
    * aggregate. Raw line dumps are the lingua franca of text-corpus
    * interchange (one record per line, no schema machinery); the
    * structured columns ride in a delimited envelope
    * `doc_id|lang|source|n_chars|text` with text LAST so it may contain
    * any non-newline bytes after the fourth delimiter — parsed back by
    * 4 split-limit ops, no regex. The integrity aggregate must match
    * the parquet-derived oracle, proving the envelope round-trips every
    * value. Scale: text files split on line boundaries, so the read is
    * as partition-parallel as the write; the envelope parse is pure
    * codegen'd string ops. (A text payload containing newlines needs
    * the JSON/CSV-multiLine boundary instead — documented contract.)
    *
    * Envelope CONTRACT (enforced, not assumed): `concat_ws` silently
    * SKIPS null inputs — a null lang would shift every later field one
    * slot left and silently corrupt the parsed row — so each non-text
    * field is null-encoded as the `\N` sentinel (the CSV nullValue
    * convention) and decoded back on read; and a `|` inside one of the
    * four HEADER fields (everything before text) would split the line
    * at the wrong place, so those raise a per-row error at WRITE time
    * rather than corrupt data at read time. text itself may contain
    * `|` freely (it sits after the fourth delimiter, split-limit 5);
    * a text value exactly equal to the `\N` sentinel decodes to null —
    * the standard sentinel collision, same as any CSV nullValue. */
  def textRoundtrip: Q = (s, dir) => {
    val path = scratch(s, dir, "text")
    val NUL = "\\N"
    // header fields: null → sentinel, embedded delimiter → write error
    def hdr(c: org.apache.spark.sql.Column, name: String): org.apache.spark.sql.Column =
      when(c.isNull, lit(NUL))
        .when(c.contains("|"), raise_error(
          concat(lit(s"src_text_roundtrip: '$name' contains the envelope delimiter: "), c)))
        .otherwise(c)
    // decode: sentinel → null (explicit, so the long casts never see it)
    def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = when(c === NUL, lit(null)).otherwise(c)
    Tables(s, dir, "documents")
      .select(concat_ws("|",
        hdr(col("doc_id").cast("string"), "doc_id"),
        hdr(col("lang"), "lang"),
        hdr(col("source"), "source"),
        hdr(col("n_chars").cast("string"), "n_chars"),
        coalesce(col("text"), lit(NUL))).as("value"))
      .write.mode("overwrite").text(path)
    val back = s.read.text(path)
      .select(split(col("value"), "\\|", 5).as("p"))
      .select(dec(element_at(col("p"), 1)).cast("long").as("doc_id"),
        dec(element_at(col("p"), 2)).as("lang"),
        dec(element_at(col("p"), 3)).as("source"),
        dec(element_at(col("p"), 4)).cast("long").as("n_chars"),
        dec(element_at(col("p"), 5)).as("text"))
    integrity(back)
  }

  // --------------------------------------------------- src_partition_prune
  /** Hive-style PARTITIONED layout + partition-pruned read — the
    * storage idiom that makes 100 TB lakes queryable: documents written
    * `partitionBy("lang")` (one directory per lang value), then read
    * back filtered to two langs. The filter is satisfied by DIRECTORY
    * listing, not data IO — Spark turns it into PartitionFilters on the
    * scan (asserted by PlanAuditSpec) and never opens the other langs'
    * files. The partition column round-trips through the directory
    * NAME, not file bytes; the integrity aggregate regrouped by lang
    * proves the values survived the path encoding. Scale note:
    * partition by LOW-cardinality columns only (lang: ~10²) — a
    * high-cardinality partitionBy (doc_id) makes one directory per
    * value and kills the listing. */
  def partitionPrune: Q = (s, dir) => {
    val path = scratch(s, dir, "part")
    Tables(s, dir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(path)
    // explicit schema minus the partition column (it comes from paths)
    val back = s.read.schema(StructType(docSchema.filterNot(_.name == "lang")))
      .parquet(path)
      .filter(col("lang").isin("en", "de"))
    back.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"),
        countDistinct(md5(col("text"))).as("n_uniq"))
      .orderBy("lang")
  }

  val partitionPruneSql: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | CAST(sum(length(text)) AS BIGINT) AS sum_len,
      | count(DISTINCT md5(text)) AS n_uniq
      |FROM documents WHERE lang IN ('en', 'de')
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** The pruned scan, exposed for PlanAuditSpec: the lang filter must
    * appear as PartitionFilters on the FileScan, not a data Filter. */
  private[graft] def prunedScan(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(s, dir, "part")
    Tables(s, dir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(path)
    s.read.schema(StructType(docSchema.filterNot(_.name == "lang")))
      .parquet(path)
      .filter(col("lang").isin("en", "de"))
  }

  // ------------------------------------------------- src_dynamic_overwrite
  /** DYNAMIC PARTITION OVERWRITE — INSERT-OVERWRITE scoped to the
    * partitions PRESENT in the incoming batch
    * (spark.sql.sources.partitionOverwriteMode=dynamic): the table is
    * written partitioned by lang, then ONLY the 'en' partition is
    * replaced by a transformed half-slice; every other partition must
    * come back untouched (static mode would have wiped them — the
    * difference between an idempotent daily re-load and a table
    * truncation). This is the reload primitive at 100 TB: replacing
    * one day/lang partition never rewrites the table. The op reads the
    * final table back and aggregates per lang; the oracle recomputes
    * the expected post-overwrite state from the base table alone. */
  def dynamicOverwrite: Q = (s, dir) => {
    val path = scratch(s, dir, "dynov")
    val docsT = Tables(s, dir, "documents")
    docsT.write.mode("overwrite").partitionBy("lang").parquet(path)
    // incoming batch: the even half of 'en', visibly transformed so an
    // accidental no-op write can't pass
    val batch = docsT.filter(col("lang") === "en" && col("doc_id") % 2 === 0)
      .withColumn("n_chars", col("n_chars") + 1000000L)
    // per-WRITE option, not s.conf.set: mutating the session conf
    // around the write leaks dynamic mode to any concurrent overwrite
    // in the same session (and the finally-restore races with it);
    // the DataFrameWriter option scopes the mode to this one write
    batch.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(path)
    s.read.parquet(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_uniq"))
      .orderBy("lang")
  }

  val dynamicOverwriteSql: String =
    """WITH final AS (
      | SELECT lang, text, n_chars FROM documents WHERE lang <> 'en'
      | UNION ALL
      | SELECT lang, text, n_chars + 1000000 AS n_chars FROM documents
      | WHERE lang = 'en' AND doc_id % 2 = 0
      |)
      |SELECT lang, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | count(DISTINCT md5(text)) AS n_uniq
      |FROM final GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------- src_sorted_minmax
  /** SORTED LAYOUT + row-group min/max pruning — the other half of the
    * pruning story next to src_partition_prune's directory pruning:
    * orders written `repartitionByRange(o_orderdate)` + sorted within
    * partitions, so every parquet file/row-group carries a TIGHT
    * [min, max] date interval in its footer stats; a time-window read
    * then skips whole files/row-groups at the reader level (the filter
    * shows as PushedFilters on the scan — PlanAuditSpec asserts it).
    * This is the layout rule for every time-series lake: sort/cluster
    * by the dominant filter column at WRITE time and a month query on
    * a 100 TB table touches one range slice instead of every file.
    * (Range partitioning samples boundaries — fine: file SPLITS vary
    * run to run, values and stats-correctness don't.) Month keys as
    * yyyymm integers — no timestamp formatting parity risk. */
  def sortedMinmax: Q = (s, dir) => {
    val path = scratch(s, dir, "sorted")
    Tables(s, dir, "orders")
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(path)
    sortedScan(s, dir)
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(12,2)")) * 100)
          .cast("long").as("sum_cents"))
      .orderBy("month")
  }

  /** The stats-pruned filtered scan over the sorted layout, exposed for
    * PlanAuditSpec (the date window must reach the reader as
    * PushedFilters, not a post-scan Filter only). Assumes sortedMinmax
    * already wrote the directory. */
  private[graft] def sortedScan(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(s, dir, "sorted")
    val o = s.read.parquet(path)
    // literals cast to the column's OWN physical type (generations have
    // flipped between TIMESTAMP and TIMESTAMP_NTZ; the UTC-pinned
    // session makes both readings identical to DuckDB's naive values)
    val dt = o.schema("o_orderdate").dataType
    o.filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast(dt) &&
      col("o_orderdate") < lit("1995-07-01 00:00:00").cast(dt))
  }

  val sortedMinmaxSql: String =
    """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month,
      | count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_cents
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
      |GROUP BY 1 ORDER BY month""".stripMargin

  // ------------------------------------------------- src_manifest_snapshot
  /** SNAPSHOT ISOLATION VIA FILE MANIFESTS — the mechanism under every
    * lakehouse table format (Iceberg/Delta strip to exactly this),
    * built from public primitives because the container allows no
    * format dependency: a table VERSION is an immutable manifest (the
    * list of data files in the snapshot), readers plan from a
    * manifest — never from directory listing — and writers publish a
    * new manifest only after their files are durable. Generation 1
    * writes the even-doc_id half and publishes manifest v1; generation
    * 2 adds the odd half and publishes v2 = v1's files + the new ones
    * (data files are never rewritten — append-only, the O(1)-commit
    * property). The op reads BOTH versions through their manifests and
    * reports per-version integrity; v1's numbers are computed while
    * v2's files already sit in the same tree — the isolation the
    * mechanism guarantees (a directory-listing reader would see phantom
    * rows; Round6bSpec proves the contrast). At 100 TB manifests hold
    * file-level min/max stats for pruning and live in a metadata store;
    * the list-of-paths read (`parquet(paths: _*)`) is exactly how
    * Spark's format readers consume them. */
  // -------- optimistic-concurrency manifest publication (CAS) --------
  /** The concurrent-writer half of the snapshot protocol (the
    * reference's `runInTransaction` implies concurrent mutators —
    * neo4j/Neo4jGraph.scala:532): a writer commits version n+1 by
    * writing its complete file list to a unique tmp file and
    * HARD-LINKING it to manifest-(n+1) (`Streams.linkOnce`: link(2)
    * fails when the target exists, so a reader sees a complete
    * manifest or none; on an object store the same shape is a
    * conditional / put-if-absent PUT — the primitive lakehouse
    * transaction logs are built on). Two writers racing for n+1 cannot
    * both succeed: the loser's link fails, the collision is
    * DETECTED — never a silent overwrite — and the loser re-reads the
    * winner's manifest, REBASES its file list on top (append-only
    * data files make rebase a pure list union) and retries at n+2.
    * Round7Spec interleaves two writers and proves the lost update is
    * impossible: the final manifest contains both commits, or the
    * loser surfaces an explicit conflict. */
  private val manifestName = "manifest-(\\d+)".r

  private[graft] def currentManifestVersion(path: String): Int =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .flatMap(_.getName match {
        case manifestName(v) => Some(v.toInt)
        case _ => None
      }).sorted.lastOption.getOrElse(0)

  private[graft] def readManifestFiles(path: String, v: Int): Seq[String] =
    if (v <= 0) Seq.empty
    else new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/manifest-$v")), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq

  /** One CAS attempt: commit `newFiles` on top of version `basedOn`.
    * Right(newVersion) on success; Left(currentVersion) when another
    * writer already published basedOn+1 (the lost-update signal). */
  private[graft] def tryPublishManifest(path: String, basedOn: Int,
      newFiles: Seq[String]): Either[Int, Int] = {
    val files = readManifestFiles(path, basedOn) ++ newFiles
    if (Streams.linkOnce(java.nio.file.Paths.get(s"$path/manifest-${basedOn + 1}"),
        files.mkString("\n").getBytes("UTF-8"))) Right(basedOn + 1)
    else Left(currentManifestVersion(path))
  }

  /** Rebase-and-retry until committed; exhausting `attempts` surfaces
    * an error — a commit is never silently dropped or overwritten. */
  @annotation.tailrec
  private[graft] def publishManifest(path: String, newFiles: Seq[String],
      attempts: Int = 10): Int =
    tryPublishManifest(path, currentManifestVersion(path), newFiles) match {
      case Right(v) => v
      case Left(_) if attempts > 1 =>
        publishManifest(path, newFiles, attempts - 1)
      case Left(w) => throw new IllegalStateException(
        s"manifest CAS lost $attempts races (current version $w) — aborting")
    }

  def manifestSnapshot: Q = (s, dir) => {
    val path = scratch(s, dir, "manifest")
    // fresh table per run: the generations below must publish versions
    // 1 and 2 deterministically (the CAS publish would otherwise rebase a
    // re-run in the same session onto the previous run's chain)
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => manifestName.pattern.matcher(f.getName).matches())
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    val d = Tables(s, dir, "documents")
    d.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$path/gen1")
    // manifests are METADATA — tiny, immutable, published through the
    // optimistic-concurrency CAS (single lineage here ⇒ versions 1, 2)
    publishManifest(path, Streams.parquetFiles(s"$path/gen1"))
    d.filter(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$path/gen2")
    publishManifest(path, Streams.parquetFiles(s"$path/gen2"))
    def stats(v: Int): DataFrame =
      s.read.parquet(readManifestFiles(path, v): _*)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(md5(col("text"))).as("n_uniq"))
        .select(lit(v.toLong).as("version"), col("n_docs"),
          col("sum_chars"), col("n_uniq"))
    stats(1).unionByName(stats(2)).orderBy("version")
  }

  // --------------------------------------------------- src_manifest_vacuum
  /** MANIFEST-DRIVEN VACUUM — the garbage-collection half of the
    * snapshot protocol (what Delta VACUUM / Iceberg remove_orphan_files
    * strip to): a physical data file not referenced by ANY retained
    * manifest version is an ORPHAN — an aborted writer's landed-but-
    * never-published files, a CAS loser's leftovers — and is deleted by
    * diffing the physical LISTING against the manifest union; files
    * referenced by any retained version stay, so pinned-version readers
    * (time travel) keep working. The op builds the two-generation
    * table through the CAS publish, lands a third generation WITHOUT
    * publishing it (the aborted writer, one coalesced file so the count
    * is layout-independent), vacuums, and reports per-version row
    * counts read AFTER deletion — the oracle proves committed data
    * survived — plus the orphan count removed. At 100 TB the listing
    * side is the expensive half and runs as a distributed listing job;
    * the manifest side is metadata. Retention windows (vacuum only
    * files older than the oldest retained snapshot) are a parameter of
    * the same diff. */
  def manifestVacuum: Q = (s, dir) => {
    val path = scratch(s, dir, "vacuum")
    // fresh table per run — a CAS re-run would rebase onto the previous
    // run's chain and shift the version numbers
    deleteRecursively(new java.io.File(path))
    val d = Tables(s, dir, "documents")
    d.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$path/gen1")
    publishManifest(path, Streams.parquetFiles(s"$path/gen1"))
    d.filter(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$path/gen2")
    publishManifest(path, Streams.parquetFiles(s"$path/gen2"))
    // the aborted writer: data landed, manifest never published
    d.filter(col("doc_id") % 7 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/gen3_aborted")
    // vacuum: live = every file referenced by a retained version
    val live = (1 to currentManifestVersion(path))
      .flatMap(readManifestFiles(path, _)).toSet
    val listed = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .flatMap(g => Option(g.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    val orphans = listed.filterNot(live)
    orphans.foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    def nDocs(v: Int): DataFrame =
      s.read.parquet(readManifestFiles(path, v): _*)
        .agg(count(lit(1)).as(s"n_docs_v$v"))
    nDocs(1).crossJoin(nDocs(2))
      .select(col("n_docs_v1"), col("n_docs_v2"),
        lit(orphans.size.toLong).as("n_orphans_removed"))
  }

  val manifestVacuumSql: String =
    """SELECT
      | CAST((SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
      |  AS BIGINT) AS n_docs_v1,
      | CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs_v2,
      | CAST(1 AS BIGINT) AS n_orphans_removed""".stripMargin

  /** v1 re-read through its manifest (for the isolation spec — called
    * AFTER gen2 exists on disk). */
  private[graft] def manifestRead(s: SparkSession, dir: String, v: Int): DataFrame = {
    val path = scratch(s, dir, "manifest")
    val files = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/manifest-$v")), "UTF-8").split("\n").toSeq
    s.read.parquet(files: _*)
  }

  private[graft] def manifestDirListingRead(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(s, dir, "manifest")
    s.read.parquet(s"$path/gen1", s"$path/gen2")
  }

  val manifestSnapshotSql: String =
    """SELECT version, n_docs, sum_chars, n_uniq FROM (
      | SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  count(DISTINCT md5(text)) AS n_uniq
      | FROM documents WHERE doc_id % 2 = 0
      | UNION ALL
      | SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT),
      |  count(DISTINCT md5(text))
      | FROM documents
      |) ORDER BY version""".stripMargin

  // ----------------------------------------------------------- src_zorder
  /** Z-ORDER (Morton-curve) MULTI-DIMENSIONAL CLUSTERING — the layout
    * answer when a table has TWO dominant filter columns (the Delta/
    * Iceberg OPTIMIZE ZORDER idea): src_sorted_minmax's single-column
    * sort makes date windows cheap but leaves customer filters reading
    * every file; interleaving the bits of BOTH dimensions into one
    * sort key gives every file a tight min/max envelope on EACH column,
    * so either filter prunes at the footer-stats level. Each dimension
    * is first min/max-scaled to 16 bits (production z-order uses
    * rank/range bucket ids per column for the same reason — raw values
    * waste interleave bits when one dim's high bits are constant), the
    * 32-bit Morton code is a pure codegen'd bit-expression, and the
    * write is repartitionByRange + sortWithinPartitions on z. The
    * z-value exists only at WRITE time — queries filter the original
    * columns and the layout is invisible to semantics, which is exactly
    * what the oracle checks (both slice aggregates computed from the
    * original table). Round6cSpec measures the clustering itself: mean
    * per-file range on BOTH dims well under the global range, and the
    * slice scans carry PushedFilters. At 100 TB: z-order per partition
    * dir as a compaction variant (src_compaction's loop with this sort
    * key); beyond 2 dims the same interleave generalizes until bits
    * per dim get too thin (~3-4 dims). */
  private def morton16(c: org.apache.spark.sql.Column,
                       d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  def zorder: Q = (s, dir) => {
    val path = scratch(s, dir, "zorder")
    val o = Tables(s, dir, "orders")
      .withColumn("o_day", datediff(col("o_orderdate"),
        lit("1992-01-01").cast("date")).cast("long"))
    val rng = o.agg(min("o_custkey").as("cmin"), max("o_custkey").as("cmax"),
      min("o_day").as("dmin"), max("o_day").as("dmax"))
    val scaled = o.crossJoin(broadcast(rng)) // 1-row scalar
      .withColumn("c16",
        expr("((o_custkey - cmin) * 65535) div greatest(1, cmax - cmin)"))
      .withColumn("d16",
        expr("((o_day - dmin) * 65535) div greatest(1, dmax - dmin)"))
      .withColumn("z", morton16(col("c16"), col("d16")))
    scaled.select(o.columns.map(col) :+ col("z"): _*)
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions("z")
      .drop("z", "o_day")
      .write.mode("overwrite").parquet(path)
    val zo = s.read.parquet(path)
    val dt = zo.schema("o_orderdate").dataType
    val custSlice = zo.filter(col("o_custkey").between(100L, 200L))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(12,2)")) * 100)
          .cast("long").as("sum_cents"))
      .select(lit("cust_100_200").as("slice"), col("n_orders"), col("sum_cents"))
    val dateSlice = zo
      .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast(dt) &&
        col("o_orderdate") < lit("1995-04-01 00:00:00").cast(dt))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(12,2)")) * 100)
          .cast("long").as("sum_cents"))
      .select(lit("date_1995q1").as("slice"), col("n_orders"), col("sum_cents"))
    custSlice.unionByName(dateSlice).orderBy("slice")
  }

  /** The z-layout path + per-file dual-dimension stats, exposed for the
    * clustering-quality spec (assumes zorder already wrote the dir). */
  private[graft] def zorderFileStats(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(s, dir, "zorder")
    s.read.parquet(path)
      .withColumn("f", input_file_name())
      // epoch-day longs so the spec is independent of the column's
      // physical timestamp flavor (TIMESTAMP vs NTZ across generations)
      .withColumn("d", datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("long"))
      .groupBy("f")
      .agg(min("o_custkey").as("cmin"), max("o_custkey").as("cmax"),
        min("d").as("dmin"), max("d").as("dmax"))
  }

  private[graft] def zorderScan(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(s, dir, "zorder")
    s.read.parquet(path).filter(col("o_custkey").between(100L, 200L))
  }

  val zorderSql: String =
    """SELECT slice, n_orders, sum_cents FROM (
      | SELECT 'cust_100_200' AS slice, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_cents
      | FROM orders WHERE o_custkey BETWEEN 100 AND 200
      | UNION ALL
      | SELECT 'date_1995q1', count(*),
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
      | FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |   AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
      |) ORDER BY slice""".stripMargin

  // ------------------------------------------------------ src_gzip_roundtrip
  /** documents → GZIP-compressed JSON-lines sink → source → integrity
    * aggregate. Compressed interchange is the default shape of a
    * web-scale corpus drop (CommonCrawl et al. ship .gz); Spark's
    * codec layer handles it transparently on both sides. The 100 TB
    * caveat this op encodes: gzip is NOT SPLITTABLE — each .gz file is
    * one read task regardless of size, so write MANY moderate files
    * (here: one per shuffle partition; at scale, repartition to a
    * file-count target of ~128-512 MB compressed each) or use a
    * splittable codec (zstd parquet/orc) for anything one task
    * shouldn't own. Read parallelism = file count, proven by the
    * round-trip reading what the partition-parallel write laid down. */
  def gzipRoundtrip: Q = (s, dir) => {
    val path = scratch(s, dir, "gz")
    Tables(s, dir, "documents")
      .write.mode("overwrite").option("compression", "gzip").json(path)
    integrity(s.read.schema(docSchema).json(path))
  }

  // --------------------------------------------------- src_schema_evolution
  /** SCHEMA EVOLUTION across parquet file generations — the lake
    * reality every long-lived 100 TB dataset hits: generation v=1 was
    * written BEFORE the `lang` column existed, v=2 after. A
    * `mergeSchema` read unions the file schemas and fills the missing
    * column with null for old files; the aggregate groups on
    * coalesce(lang, '<pre_schema>') so the oracle (which reconstructs
    * the generation split from the same doc_id parity) proves exactly
    * which rows surfaced as schema-filled nulls. Scale note:
    * mergeSchema footer-merges EVERY file at planning time — fine per
    * directory generation, wrong as a default on a million-file lake
    * (pin an explicit schema there; this op is the migration-read
    * path). */
  def schemaEvolution: Q = (s, dir) => {
    val path = scratch(s, dir, "evo")
    val d = Tables(s, dir, "documents")
    d.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "text", "source", "n_chars") // v1: no lang yet
      .write.mode("overwrite").parquet(s"$path/v=1")
    d.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$path/v=2")
    s.read.option("mergeSchema", "true").parquet(s"$path/v=1", s"$path/v=2")
      .groupBy(coalesce(col("lang"), lit("<pre_schema>")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_uniq"))
      .orderBy("lang")
  }

  val schemaEvolutionSql: String =
    """SELECT CASE WHEN doc_id % 2 = 0 THEN '<pre_schema>' ELSE lang END AS lang,
      | count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | count(DISTINCT md5(text)) AS n_uniq
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  // --------------------------------------------------- src_codec_roundtrip
  /** Parquet COMPRESSION-CODEC round-trip: the same corpus written with
    * snappy (the throughput default) and zstd (the storage default at
    * archive scale — typically ~30 % smaller at comparable decode cost),
    * each read back and integrity-aggregated. A green row proves codec
    * choice is a pure storage knob — values round-trip byte-exactly
    * through both. At 100 TB the codec decision is per-table: zstd for
    * cold/archival layers, snappy/lz4 for shuffle-adjacent hot paths. */
  def codecRoundtrip: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    Seq("snappy", "zstd").map { codec =>
      val path = scratch(s, dir, s"pq_$codec")
      d.write.mode("overwrite").option("compression", codec).parquet(path)
      integrity(s.read.schema(docSchema).parquet(path))
        .withColumn("codec", lit(codec))
    }.reduce(_ unionByName _)
      .select("codec", "source", "n_docs", "sum_chars", "sum_len", "n_uniq")
      .orderBy("codec", "source")
  }

  val codecRoundtripSql: String =
    """WITH i AS (
      | SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
      |  count(DISTINCT md5(text)) AS n_uniq
      | FROM documents GROUP BY source
      |)
      |SELECT codec, source, n_docs, sum_chars, sum_len, n_uniq
      |FROM (SELECT 'snappy' AS codec, * FROM i
      |      UNION ALL SELECT 'zstd' AS codec, * FROM i)
      |ORDER BY codec, source""".stripMargin

  // ----------------------------------------------------- src_bucketed_join
  /** BUCKETED-TABLE join — the co-located storage layout §6 promises,
    * exercised end-to-end as a query: customer and orders are persisted
    * bucketed (and sorted) on the customer key with the SAME bucket
    * count, then joined and aggregated per nation. Because each side's
    * bucket spec equals its join key, the join needs NO Exchange (and
    * with sortBy, no Sort) — at 100 TB that turns the pipeline's
    * biggest recurring shuffle into a metadata operation. The
    * no-Exchange plan shape is asserted in Round5dSpec; this op checks
    * the VALUES against the plain-join oracle, proving the bucketed
    * path is a pure physical rewrite. Price sums go through
    * DECIMAL(12,2) (exact, order-independent) — a double sum would
    * drift with partial-agg order. */
  def bucketedJoin: Q = (s, dir) => {
    val path = scratch(s, dir, "buck")
    val buckets = 8
    Tables(s, dir, "customer")
      .write.mode("overwrite").option("path", s"$path/customer_b")
      .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_customer_b")
    Tables(s, dir, "orders")
      .write.mode("overwrite").option("path", s"$path/orders_b")
      .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_orders_b")
    s.table("graft_orders_b")
      .join(s.table("graft_customer_b"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nation_key"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .orderBy("nation_key")
  }

  val bucketedJoinSql: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nation_key,
      | count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------- src_binary_files
  /** ONE-OBJECT-PER-ITEM landing-directory ingestion via Spark's
    * `binaryFile` source — the shape a multimodal corpus actually
    * arrives in (an image/audio drop is millions of small objects, not
    * parquet). Sink: each document's payload bytes written as its own
    * `<source>__<doc_id>.bin` from `foreachPartition` (distributed, no
    * driver funnel — the writer pattern of an object-store upload).
    * Source: `format("binaryFile")` surfaces (path, length, content);
    * provenance is recovered from the file NAME (regexp on path — the
    * only metadata an object listing carries), then the standard
    * integrity aggregate: file count, byte mass, distinct payload md5
    * per source, oracle-checked against the original table. 100 TB
    * caveats encoded here: the many-small-files listing is the
    * bottleneck at scale (binaryFile lists before reading — compact to
    * WebDataset-style shards, see m_shard_pack, once ingested), and
    * `pathGlobFilter` keeps stray files out of the scan. */
  def binaryFiles: Q = (s, dir) => {
    val path = scratch(s, dir, "binfiles")
    // executors write with java.nio to a LOCAL path and the driver-side
    // read lists the same path — correct only when all tasks share the
    // driver's filesystem. On a real cluster each executor would write
    // its own local disk and the read would silently under-count, so
    // fail fast instead (r5 advisor); the cluster deployment writes
    // through the Hadoop FileSystem API to an object store.
    require(s.sparkContext.isLocal,
      "src_binary_files' landing-dir writer assumes a shared local " +
        "filesystem — on a cluster, write via the Hadoop FileSystem API")
    Tables(s, dir, "documents").select("doc_id", "source", "text")
      .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        it.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(
              s"$path/${r.getAs[String]("source")}__${r.getAs[Long]("doc_id")}.bin"),
            r.getAs[String]("text").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(path)
      .select(
        regexp_extract(col("path"), "([^/]+)__\\d+\\.bin$", 1).as("source"),
        col("content"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_files"),
        sum(octet_length(col("content"))).cast("long").as("sum_bytes"),
        countDistinct(md5(col("content"))).as("n_uniq"))
      .orderBy("source")
  }

  val binaryFilesSql: String =
    """SELECT source, count(*) AS n_files,
      | CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
      | count(DISTINCT md5(text)) AS n_uniq
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------ src_compaction
  /** SMALL-FILES COMPACTION — the maintenance job src_binary_files'
    * caveat demands: a landing directory of one-object-per-item files
    * (here: one parquet part per document, the worst case a streaming
    * ingest produces) is rewritten into a bounded number of
    * right-sized files. Read side lists once; write side
    * `repartition(compactTarget)` — a round-robin exchange, the only
    * shuffle, sized so each output file lands near the HDFS/object
    * block size at scale (file count is a physical spec assertion, not
    * an oracle column). The oracle checks INTEGRITY through the full
    * fragment → compact → read-back chain, so a green row proves
    * compaction is a pure physical rewrite. At 100 TB this runs per
    * partition-directory with `maxRecordsPerFile` as the finer knob. */
  val compactTarget = 4
  val fragTarget = 64

  def compaction: Q = (s, dir) => {
    val fragDir = scratch(s, dir, "frag")
    val compDir = scratch(s, dir, "compact")
    val d = Tables(s, dir, "documents")
    // fragment: an EXPLICIT 64-way hash repartition (user-specified
    // counts are exempt from AQE coalescing) — a few rows per part
    // file, the shape a high-parallelism streaming ingest leaves behind
    d.repartition(fragTarget, col("doc_id"))
      .write.mode("overwrite").parquet(fragDir)
    s.read.schema(docSchema).parquet(fragDir)
      .repartition(compactTarget)
      .write.mode("overwrite").parquet(compDir)
    integrity(s.read.schema(docSchema).parquet(compDir))
      .select("source", "n_docs", "sum_chars", "sum_len", "n_uniq")
      .orderBy("source")
  }

  val compactionSql: String =
    """SELECT source, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | CAST(sum(length(text)) AS BIGINT) AS sum_len,
      | count(DISTINCT md5(text)) AS n_uniq
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------- src_rowgroup_stats
  /** ROW-GROUP FOOTER INTROSPECTION — the metadata a pruning scan
    * actually reads: sorted data is written with a bounded
    * rows-per-file budget (so file = row group at this size), then the
    * op opens ONLY the parquet FOOTERS (`ParquetFileReader.getFooter`
    * — zero data-page IO; this is the planner's cost profile, and on
    * 100 TB it is the difference between listing metadata and reading
    * the lake) and reports per-row-group row counts and l_orderkey
    * min/max. Because the write is key-sorted, the physical stats are
    * LOGICALLY REPLAYABLE: group g must hold exactly the g-th
    * 10k-row slice of the sorted key sequence — which is what the
    * DuckDB oracle computes from the view, making the footer path
    * cross-engine-verified without the oracle ever touching the files.
    * (Boundary TIES are safe: the per-slice key multiset is fixed by
    * the sort regardless of tie order.) Driver-side footer reads: at
    * cluster scale footers are listed in parallel via the same API on
    * executors — metadata volume, not data volume. */
  val rgRowsPerFile = 10000L

  def rowgroupStats: Q = (s, dir) => {
    val path = scratch(s, dir, "rgstats")
    Tables(s, dir, "lineitem").select(col("l_orderkey"))
      .coalesce(1).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rgRowsPerFile)
      .parquet(path)
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    import scala.jdk.CollectionConverters._
    val rows = files.flatMap { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try rd.getFooter.getBlocks.asScala.map { b =>
        val st = b.getColumns.get(0).getStatistics
        (b.getRowCount,
          st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
      }.toSeq
      finally rd.close()
    }
    // physical order == key order (single sorted partition writes its
    // files sequentially); group id = position in that order
    import s.implicits._
    rows.toSeq.sortBy(r => (r._2, r._3)).zipWithIndex
      .map { case ((n, mn, mx), g) => (g.toLong, n, mn, mx) }
      .toDF("grp", "num_rows", "okey_min", "okey_max")
      .orderBy("grp")
  }

  val rowgroupStatsSql: String =
    s"""WITH o AS (
       | SELECT l_orderkey,
       |  row_number() OVER (ORDER BY l_orderkey) AS rn
       | FROM lineitem
       |)
       |SELECT CAST((rn - 1) // $rgRowsPerFile AS BIGINT) AS grp,
       | count(*) AS num_rows,
       | CAST(min(l_orderkey) AS BIGINT) AS okey_min,
       | CAST(max(l_orderkey) AS BIGINT) AS okey_max
       |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------- src_delete_vectors
  /** MERGE-ON-READ with DELETION VECTORS — the modern lakehouse delete
    * (Delta DVs / Iceberg position deletes): a delete commits a tiny
    * POSITION file, the immutable base parquet is never rewritten, and
    * readers apply the vector as a position anti-join. Positions come
    * from the engine's own `_metadata.row_index` (stable per file); at
    * scale the vector is keyed (file, row_index) and the anti-join is
    * per-file-local — delete cost ∝ deleted rows, read overhead ∝
    * vector size, versus copy-on-write's full-file rewrite. The oracle
    * replays the MERGE LOGICALLY (the delete predicate over the view):
    * physical positions never cross engines, but the merged result
    * must equal the logical delete exactly — which also proves the
    * row_index round-trip is lossless. */
  def deleteVectors: Q = (s, dir) => {
    val path = scratch(s, dir, "delvec")
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .coalesce(1).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$path/base")
    def base = s.read.parquet(s"$path/base")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
        col("_metadata.row_index").as("pos"))
    // the DELETE: writes ONLY positions — base files untouched
    base.filter(col("l_orderkey") % 13 === 0).select("pos")
      .write.mode("overwrite").parquet(s"$path/dv")
    val dv = s.read.parquet(s"$path/dv")
    base.join(dv, Seq("pos"), "left_anti")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double")
          .as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val deleteVectorsSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_orderkey % 13 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------- src_parquet_bloom
  /** PARQUET BLOOM FILTER INDEX — the point-lookup companion to footer
    * min/max stats (src_sorted_minmax): min/max prunes only when the
    * layout is SORTED by the filter column; a bloom filter skips row
    * groups for an arbitrary high-cardinality key on ANY layout (the
    * reader tests the key against each group's bloom before touching
    * data pages — Parquet's SBBF, one setting at write time). The
    * write enables `parquet.bloom.filter.enabled#o_custkey` with an
    * expected-NDV sizing hint; the read is an IN point-lookup whose
    * predicate reaches the scan as PushedFilters (PlanAuditSpec
    * asserts it — pushdown is what hands the keys to the bloom).
    * Values are layout-independent (the oracle reads the original
    * table), which is the invariant that makes the index SAFE: blooms
    * have no false negatives, so a skip can never drop a matching
    * row. Keys chosen ≢ 0 mod 3 (TPC-H leaves those custkeys
    * orderless) and ≤ the smallest SF's key space. */
  def parquetBloom: Q = (s, dir) => {
    val path = scratch(s, dir, "bloomidx")
    Tables(s, dir, "orders")
      .repartition(4)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_custkey", "25000")
      .parquet(path)
    bloomScan(s, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(12,2)")) * 100)
          .cast("long").as("sum_cents"))
      .orderBy("o_custkey")
  }

  /** The bloom-indexed point lookup, exposed for PlanAuditSpec (the IN
    * predicate must reach the reader as PushedFilters). Assumes
    * parquetBloom already wrote the directory. */
  private[graft] def bloomScan(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(s, dir, "bloomidx")
    s.read.parquet(path)
      .filter(col("o_custkey").isin(1L, 7L, 19L, 23L, 43L))
  }

  val parquetBloomSql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_cents
      |FROM orders WHERE o_custkey IN (1, 7, 19, 23, 43)
      |GROUP BY 1 ORDER BY o_custkey""".stripMargin

  // ------------------------------------------------------ src_csv_malformed
  /** MALFORMED-RECORD HANDLING at the ingestion boundary — real feeds
    * carry broken rows, and silently dropping (or crashing on) them is
    * how corpora lose data unaudited. Deterministically corrupted CSV
    * (every o_orderkey % 13 = 0 row renders as an unparseable line)
    * read back in PERMISSIVE mode with an explicit
    * `columnNameOfCorruptRecord`: corrupt rows land with the raw line
    * preserved and NULL typed columns — never lost, never aborting the
    * read (DROPMALFORMED/FAILFAST are the documented alternatives).
    * Output: per-priority integrity stats over the GOOD rows plus a
    * `_corrupt` census row; the oracle recomputes both from the
    * ORIGINAL table with the corruption predicate — green means
    * PERMISSIVE classified every row exactly and the good rows
    * round-tripped value-exact. Money rides as integer cents in the
    * CSV (no decimal-formatting parity risk). The parsed frame is
    * cached: Spark disallows corrupt-record-only queries on the raw
    * read (the internal-column restriction). */
  def csvMalformed: Q = (s, dir) => {
    val path = scratch(s, dir, "malformed_csv")
    val o = Tables(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority"),
      (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
        .as("cents"))
    o.select(
        when(col("o_orderkey") % 13 === 0,
          concat(lit("CORRUPT#"), col("o_orderkey").cast("string"), lit(",x")))
          .otherwise(concat_ws(",", col("o_orderkey"),
            col("o_orderpriority"), col("cents"))).as("value"))
      .write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("cents", LongType),
      StructField("_corrupt_record", StringType)))
    val parsed = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path).cache()
    val good = parsed.filter(col("_corrupt_record").isNull)
      .groupBy(col("o_orderpriority").as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
    val bad = parsed.filter(col("_corrupt_record").isNotNull)
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("_corrupt").as("bucket"), col("n_rows"),
        lit(0L).as("sum_cents"))
    good.unionByName(bad).orderBy("bucket")
  }

  val csvMalformedSql: String =
    """SELECT o_orderpriority AS bucket, count(*) AS n_rows,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS sum_cents
      |FROM orders WHERE o_orderkey % 13 <> 0 GROUP BY 1
      |UNION ALL
      |SELECT '_corrupt', count(*), 0 FROM orders WHERE o_orderkey % 13 = 0
      |ORDER BY bucket""".stripMargin

  // -------------------------------------------------- src_manifest_branch
  /** BRANCHED WRITES over the manifest table (write-audit-publish — the
    * Iceberg/Nessie branch mechanism stripped to its primitive): a
    * BRANCH is a named manifest chain forked from a main version's file
    * list; writers land data on the branch (main readers never see it),
    * an audit reads the branch, and PUBLISH fast-forwards main to the
    * branch tip — with append-only data files, fast-forward is
    * publishing the branch's new files onto main's chain (content-
    * identical to pointing main at the branch snapshot, the documented
    * simplification). Generations: main v1 = even doc_ids, main v2
    * adds doc_id≡1 (mod 4); the `audit` branch forks AT v2 and lands
    * doc_id≡3 (mod 4); main v3 is the fast-forward. The op reads main
    * @1, @2 (AFTER the branch write — the isolation statement), the
    * branch tip, and main@3 through their manifests and reports the
    * manifestSnapshot integrity stats; the oracle recomputes each ref's
    * stats from the doc_id predicates, so a green row proves both the
    * isolation (main@2 has no branch rows despite the files sitting in
    * the same tree) and the fast-forward (main@3 == branch tip). */
  private[graft] def branchManifestPath(path: String, name: String,
      v: Int): java.nio.file.Path =
    java.nio.file.Paths.get(s"$path/manifest-$name-$v")

  def manifestBranch: Q = (s, dir) => {
    val path = scratch(s, dir, "manifest_branch")
    // fresh chains per run (both main and branch manifests)
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("manifest-"))
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    val d = Tables(s, dir, "documents")
    d.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$path/gen1")
    publishManifest(path, Streams.parquetFiles(s"$path/gen1")) // main v1
    d.filter(col("doc_id") % 4 === 1)
      .write.mode("overwrite").parquet(s"$path/gen2")
    publishManifest(path, Streams.parquetFiles(s"$path/gen2")) // main v2
    // branch 'audit' forked at main v2; branch writer lands gen3 —
    // main's chain has no reference to it until the fast-forward
    d.filter(col("doc_id") % 4 === 3)
      .write.mode("overwrite").parquet(s"$path/gen3")
    require(Streams.linkOnce(branchManifestPath(path, "audit", 1),
      (readManifestFiles(path, 2) ++ Streams.parquetFiles(s"$path/gen3"))
        .mkString("\n").getBytes("UTF-8")), "branch audit v1 already published")
    // WAP publish: fast-forward main to the audited branch tip
    publishManifest(path, Streams.parquetFiles(s"$path/gen3")) // main v3
    def branchFiles(name: String, v: Int): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(
        branchManifestPath(path, name, v)), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSeq
    def stats(ref: String, v: Int, files: Seq[String]): DataFrame =
      s.read.parquet(files: _*)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(md5(col("text"))).as("n_uniq"))
        .select(lit(ref).as("ref"), lit(v.toLong).as("version"),
          col("n_docs"), col("sum_chars"), col("n_uniq"))
    stats("audit", 1, branchFiles("audit", 1))
      .unionByName(stats("main", 1, readManifestFiles(path, 1)))
      .unionByName(stats("main", 2, readManifestFiles(path, 2)))
      .unionByName(stats("main", 3, readManifestFiles(path, 3)))
      .orderBy("ref", "version")
  }

  val manifestBranchSql: String = {
    def block(ref: String, v: Int, where: String): String =
      s"""SELECT '$ref' AS ref, CAST($v AS BIGINT) AS version,
         | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         | count(DISTINCT md5(text)) AS n_uniq
         |FROM documents$where""".stripMargin
    Seq(
      block("audit", 1, ""),
      block("main", 1, "\nWHERE doc_id % 2 = 0"),
      block("main", 2, "\nWHERE doc_id % 2 = 0 OR doc_id % 4 = 1"),
      block("main", 3, "")).mkString("\nUNION ALL\n") +
      "\nORDER BY ref, version"
  }

  // ---------------------------------------------- src_manifest_time_travel
  /** TIME TRAVEL over the manifest-versioned sinks (r13 verdict #5) —
    * the Delta-style `VERSION AS OF` read a real user does first,
    * promoted from spec-internal plumbing to a driver-checked query:
    * drive TWO different sink types (the ivm join-aggregate view and
    * the incremental-CC label view — one aggregate-shaped, one
    * entity-shaped with delta-composed reads) through three
    * deterministic batches derived from the orders/lineitem tables,
    * then read each view AT each version through its manifest
    * (`ivmViewRead` / `ccLabelsRead`) and publish per-(sink, version)
    * summary stats. The DuckDB oracle recomputes the SAME stats from
    * scratch over each version's batch PREFIX — so the green row IS
    * the proof that view-at-version-v equals a full recompute over
    * prefix v, for both sink shapes, through the actual pinned-read
    * path (manifest file list, never directory listing; the cc side
    * additionally exercises last-writer-wins delta composition).
    * Batching: orders by o_orderkey mod 3, lineitem by l_partkey mod
    * 3 — DIFFERENT keys, so all three ivm delta terms (ΔA⋈B₀, A₀⋈ΔB,
    * ΔA⋈ΔB) carry pairs; cc edges form customer-order stars bridged
    * into mod-50 hubs by every 7th order, so later batches RELABEL
    * earlier nodes (the delta-publication path, not just appends). */
  def manifestTimeTravel: Q = (s, dir) => {
    val ivmPath = scratch(s, dir, "tt_ivm")
    val ccPath = scratch(s, dir, "tt_cc")
    val o = Tables(s, dir, "orders")
    val oD = o.select(lit("o").as("side"), col("o_orderkey").as("key"),
      col("o_orderpriority").as("pri"), lit(0L).as("cents"),
      (col("o_orderkey") % 3).as("b"))
    val lD = Tables(s, dir, "lineitem").select(lit("l").as("side"),
      col("l_orderkey").as("key"), lit("").as("pri"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"),
      (col("l_partkey") % 3).as("b"))
    val ccD = o.select(col("o_custkey").as("a"),
        (lit(100000000L) + col("o_orderkey")).as("bn"),
        (col("o_orderkey") % 3).as("b"))
      .unionByName(o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_custkey").as("a"), (col("o_custkey") % 50).as("bn"),
          (col("o_orderkey") % 3).as("b")))
    (0L to 2L).foreach { b =>
      // the sinks are plain idempotent functions (manifest = commit
      // marker): a warm re-run finds the manifests and only re-reads
      Streams.ivmJoinSink(ivmPath)(
        oD.filter(col("b") === b).unionByName(lD.filter(col("b") === b))
          .drop("b"), b)
      Streams.ccIncSink(ccPath)(
        ccD.filter(col("b") === b).select(col("a"), col("bn").as("b")), b)
    }
    (0 to 2).map { v =>
      Streams.ivmViewRead(s, ivmPath, v.toLong)
        .agg(count(lit(1)).as("n_rows"), sum("rev_cents").as("m1"),
          sum("n_pairs").as("m2"))
        .select(lit("ivm").as("sink"), lit(v.toLong).as("version"),
          col("n_rows"), col("m1"), col("m2"))
        .unionByName(Streams.ccLabelsRead(s, ccPath, v.toLong)
          .agg(count(lit(1)).as("n_rows"), sum("comp").as("m1"),
            countDistinct("comp").as("m2"))
          .select(lit("cc").as("sink"), lit(v.toLong).as("version"),
            col("n_rows"), col("m1"), col("m2")))
    }.reduce(_ unionByName _).orderBy("sink", "version")
  }

  val manifestTimeTravelSql: String = {
    val ttCcIters = 6
    val b = new StringBuilder("WITH tl AS (\n")
    b ++= """ SELECT l_orderkey, l_partkey,
             |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
             | FROM lineitem
             |)""".stripMargin
    for (v <- 0 to 2) {
      // cc side: edge prefix, undirected, unrolled min-label rounds
      b ++= s""", tte$v AS (
               | SELECT o_custkey AS a, 100000000 + o_orderkey AS b
               | FROM orders WHERE o_orderkey % 3 <= $v
               | UNION ALL
               | SELECT o_custkey, o_custkey % 50 FROM orders
               | WHERE o_orderkey % 3 <= $v AND o_orderkey % 7 = 0
               |), ttu$v AS (
               | SELECT a, b FROM tte$v UNION ALL SELECT b, a FROM tte$v
               |), ttc${v}_0 AS (
               | SELECT DISTINCT a AS id, a AS comp FROM ttu$v
               |)""".stripMargin
      for (i <- 1 to ttCcIters) {
        b ++= s""", ttm${v}_$i AS (
                 | SELECT u.b AS id, min(c.comp) AS m FROM ttu$v u
                 | JOIN ttc${v}_${i - 1} c ON c.id = u.a GROUP BY u.b
                 |), ttc${v}_$i AS (
                 | SELECT c.id, least(c.comp, m.m) AS comp
                 | FROM ttc${v}_${i - 1} c LEFT JOIN ttm${v}_$i m ON m.id = c.id
                 |)""".stripMargin
      }
    }
    b ++= "\n" + (0 to 2).map { v =>
      s"""SELECT 'ivm' AS sink, CAST($v AS BIGINT) AS version,
         | count(*) AS n_rows, CAST(sum(rev) AS BIGINT) AS m1,
         | CAST(sum(np) AS BIGINT) AS m2
         |FROM (
         | SELECT o.o_orderpriority, sum(l.cents) AS rev, count(*) AS np
         | FROM orders o JOIN tl l ON l.l_orderkey = o.o_orderkey
         | WHERE o.o_orderkey % 3 <= $v AND l.l_partkey % 3 <= $v
         | GROUP BY 1
         |) g$v
         |UNION ALL
         |SELECT 'cc' AS sink, CAST($v AS BIGINT) AS version,
         | count(*) AS n_rows, CAST(sum(comp) AS BIGINT) AS m1,
         | CAST(count(DISTINCT comp) AS BIGINT) AS m2
         |FROM ttc${v}_$ttCcIters""".stripMargin
    }.mkString("\nUNION ALL\n")
    b ++= "\nORDER BY sink, version"
    b.toString
  }

  val queries: Map[String, Q] = Map(
    "src_manifest_time_travel" -> manifestTimeTravel,
    "src_manifest_branch" -> manifestBranch,
    "src_csv_malformed" -> csvMalformed,
    "src_parquet_bloom" -> parquetBloom,
    "src_delete_vectors" -> deleteVectors,
    "src_rowgroup_stats" -> rowgroupStats,
    "src_compaction" -> compaction,
    "src_binary_files" -> binaryFiles,
    "src_codec_roundtrip" -> codecRoundtrip,
    "src_bucketed_join" -> bucketedJoin,
    "src_schema_evolution" -> schemaEvolution,
    "src_gzip_roundtrip" -> gzipRoundtrip,
    "src_json_roundtrip" -> jsonRoundtrip,
    "src_csv_roundtrip" -> csvRoundtrip,
    "src_orc_roundtrip" -> orcRoundtrip,
    "src_text_roundtrip" -> textRoundtrip,
    "src_partition_prune" -> partitionPrune,
    "src_dynamic_overwrite" -> dynamicOverwrite,
    "src_sorted_minmax" -> sortedMinmax,
    "src_zorder" -> zorder,
    "src_manifest_snapshot" -> manifestSnapshot,
    "src_manifest_vacuum" -> manifestVacuum)

  val oracleSql: Map[String, String] = Map(
    "src_manifest_time_travel" -> manifestTimeTravelSql,
    "src_manifest_branch" -> manifestBranchSql,
    "src_csv_malformed" -> csvMalformedSql,
    "src_parquet_bloom" -> parquetBloomSql,
    "src_compaction" -> compactionSql,
    "src_delete_vectors" -> deleteVectorsSql,
    "src_rowgroup_stats" -> rowgroupStatsSql,
    "src_binary_files" -> binaryFilesSql,
    "src_codec_roundtrip" -> codecRoundtripSql,
    "src_bucketed_join" -> bucketedJoinSql,
    "src_schema_evolution" -> schemaEvolutionSql,
    "src_gzip_roundtrip" -> integritySql,
    "src_json_roundtrip" -> integritySql,
    "src_csv_roundtrip" -> integritySql,
    "src_orc_roundtrip" -> integritySql,
    "src_text_roundtrip" -> integritySql,
    "src_partition_prune" -> partitionPruneSql,
    "src_dynamic_overwrite" -> dynamicOverwriteSql,
    "src_sorted_minmax" -> sortedMinmaxSql,
    "src_zorder" -> zorderSql,
    "src_manifest_snapshot" -> manifestSnapshotSql,
    "src_manifest_vacuum" -> manifestVacuumSql)
}
