package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * Every table is a single parquet file per scale factor; Spark splits it
  * into row-group-aligned input partitions automatically, so at 100 TB the
  * same call against a directory of many files parallelizes with no code
  * change. Column pruning and predicate pushdown happen at the scan because
  * all downstream operators stay declarative (no early `.collect`/`.rdd`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table, read with the schema from its parquet footer
    * ([[org.apache.spark.sql.graft.FooterSchema]], under the session
    * conf): a schema-less `spark.read.parquet` launches a
    * schema-inference job on every call, which every query pays once
    * per table it reads. A directory of part files falls back to
    * Spark's own inference. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    org.apache.spark.sql.graft.FooterSchema.of(spark, path)
      .fold(spark.read)(spark.read.schema).parquet(path)
  }

  /** `events.ts` normalization. Two generator layouts exist:
    *
    *  - TIMESTAMP(NANOS) (early testdata): Spark rejects it by default;
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` it reads as an
    *    exact ns long, which we truncate to a µs timestamp — exactly
    *    what DuckDB does on read (it coerces timestamp_ns to µs
    *    `timestamp`), so both engines see identical values.
    *  - `timestamp[us]` (current testdata): arrives as TIMESTAMP_NTZ;
    *    DuckDB reads the same file as its (ntz) `TIMESTAMP`. We cast to
    *    the session-local TimestampType — an identity on the epoch
    *    because every harness session pins timeZone=UTC — so every
    *    downstream query sees one `ts` type regardless of layout.
    *
    * Either way the exact epoch-ns long stays available as `ts_ns`
    * (µs-aligned in the second layout). The branch keys on the READ
    * schema, not on session conf: a loader must not mutate shared conf,
    * and `nanosAsLong=true` is harmless when the column is already µs.
    */
  private def eventsNs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read under nanosAsLong
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType | _: TimestampType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected TIMESTAMP " +
            "or a nanosAsLong-read ns long")
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsNs(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so the whole engine surface
    * is reachable from `spark.sql(...)` (with `events` carrying the
    * same ns→µs normalization as the typed loader). Catalyst plans a
    * SQL query over these views identically to the DataFrame form —
    * same pushdown, same join strategies (pinned by SqlSpec). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
