package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loading for the driver's synthetic TPC-H-ish corpus
  * (`/root/testdata/sf{N}/<name>.parquet`, see TESTDATA.md) — the batch twin of
  * the reference's Kafka source (O1, `PaymentTopology.java:41-42`).
  *
  * Scale notes: plain `spark.read.parquet` so Catalyst drives column pruning
  * and predicate pushdown into the scan; at cluster scale the same call reads
  * a partitioned directory tree, and `spark.sql.files.maxPartitionBytes`
  * controls split sizing. No schema inference cost — parquet carries its
  * schema.
  */
object Tables {

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"${sfDir.stripSuffix("/")}/$name.parquet")

  /** `events.ts` has shipped in two physical encodings across corpus
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * only accepts as a raw long under `spark.sql.legacy.parquet.nanosAsLong`)
    * and plain TIMESTAMP(MICROS). Dispatch on the dtype the scan actually
    * produced so both read to the same microsecond TimestampType — the
    * nanos branch floor-converts exactly as DuckDB truncates TIMESTAMP_NS,
    * so oracle results agree either way.
    *
    * For nanos-era files the legacy conf is a SESSION setting the caller
    * must own (`graft.GraftSession` sets it on every session it builds):
    * it is consulted again at execution time when the scan builds its
    * readers, so a set-and-restore around this call would still break the
    * query later. Micros-era files need no conf at all.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) read as raw long
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _: org.apache.spark.sql.types.TimestampType =>
        raw
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): under the UTC
        // session every query runs with, NTZ->TIMESTAMP is the identity on
        // the stored micros, matching both the old nanos path and DuckDB's
        // naive-timestamp oracle read.
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts read as $other; expected LongType (nanos under " +
            "spark.sql.legacy.parquet.nanosAsLong=true), TimestampType, or TimestampNTZType")
    }
  }

  /** Spread a small scan across all cores before heavy narrow work
    * (tokenization, shingle explosion, vector scoring).
    *
    * Why this exists: the harness parquet files are written as a SINGLE row
    * group (`parquet_metadata` shows row_groups=1 at every SF), and a
    * parquet scan can never split below one row group — the scan stage runs
    * in ONE task regardless of `spark.sql.files.maxPartitionBytes`. AQE
    * (on by default in Spark 4) cannot help either: adaptive execution
    * re-plans at shuffle boundaries; it cannot create parallelism inside a
    * scan stage. One explicit hash shuffle of the raw rows (~1 MB here) is
    * the only way to put the narrow work on every core.
    *
    * At 100 TB this call is DELETED, not tuned: cluster inputs arrive in
    * thousands of row groups and the scan parallelizes by itself. Keeping
    * the shim in one named place makes that a one-line change per query and
    * keeps the hand-tuning out of the query logic.
    *
    * Measured (sf0.1, local[32], min-of-3 per query): the twelve scan-heavy
    * dedup/similarity queries total ~11 s with the shim vs ~32 s with it
    * stubbed to identity — q47 3.4→10.9 s, q42 1.0→5.8 s, q46 1.2→5.5 s.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = df.repartition(keys: _*)
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
}
