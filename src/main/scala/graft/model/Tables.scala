package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructField, TimestampNTZType, TimestampType}

/** Parquet table access for the driver-generated star schema.
  * Reads are lazy scans — Catalyst pushes filters/projections into the
  * parquet reader, so callers should never pre-materialize.
  *
  * One read per source table per session: the frame of
  * `$dir/$name.parquet` is built once per session (its parquet schema
  * inference is a Spark job, its file listing a driver round-trip) and
  * every later call returns that same frame. Input tables are therefore
  * IMMUTABLE for the life of a session: a file added to or replaced in
  * a table directory after its first read is not seen until a new
  * session reads it. Reads do not count as memo builds
  * (`SessionMemo.buildCount`). A self-join of one table must alias its
  * sides, since both are the same frame.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val read = new SessionMemo[DataFrame](counted = false)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet") {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") normalizeTs(df) else df
    }

  /** Every events consumer does INTEGER time arithmetic on `ts` as
    * BIGINT NANOS since epoch (codegen-friendly, no timezone
    * semantics). The generated parquet has carried two physical types
    * across driver regenerations: TIMESTAMP(NANOS) — which Spark has no
    * native type for and reads as BIGINT via
    * `spark.sql.legacy.parquet.nanosAsLong` — and TIMESTAMP(MICROS),
    * which arrives as TIMESTAMP_NTZ. Normalize both to the same BIGINT
    * nanos here so operators and their oracle pairings are
    * generation-independent. The NTZ→instant lift is exact: the session
    * timezone is pinned to UTC (GraftSession), matching DuckDB's
    * treatment of the same naive values in `epoch()`. A pure projection
    * — pushdown/pruning on the other columns is unaffected. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.collectFirst { case StructField("ts", t, _, _) => t } match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      case Some(LongType) | None => df
      // fail AT LOAD on any other physical type (a future regeneration
      // landing as e.g. INT96 or STRING) — silently passing it through
      // deferred the break to downstream integer arithmetic with
      // confusing symptoms (r5 advisor; the r4 regeneration break cost
      // half a session to localize)
      case Some(other) => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — " +
          "extend Tables.normalizeTs for this generation")
    }
}
