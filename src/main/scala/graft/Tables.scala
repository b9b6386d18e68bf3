package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated star schema
  * (TESTDATA.md). Every query takes the scale-factor directory as a
  * parameter, so the same plan runs at sf0.001 → 100 TB unchanged —
  * only the number of input splits grows.
  *
  * Scale note: `spark.read.parquet` yields a columnar `FileScan` whose
  * partitioning follows `spark.sql.files.maxPartitionBytes`; filters
  * and projections from downstream operators are pushed into the scan
  * by Catalyst (visible as PushedFilters/ReadSchema in explain), so no
  * query here ever reads more bytes than it needs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A table read under the stored [[schema]]: Spark still lists the
    * files on every read, but starts no footer-inference job. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** The session confs parquet schema inference depends on: one file
    * infers differently under each setting (`events` flips the first). */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (path, inference confs) → (source fingerprint, schema). */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[Option[String]]), (String, StructType)]()

  /** The schema Spark infers for the parquet data at `path` — the one
    * schema cache. Inferred once per path and inference confs, and
    * again whenever `Scratch.sourceFingerprint` of the path changes:
    * a table regenerated in place is read with its new schema. A
    * missing path infers every time, so Spark raises its own error.
    * Metadata only — no data is cached. */
  def schema(s: SparkSession, path: String): StructType = {
    val key = (path, inferenceConfs.map(s.conf.getOption))
    val fp = Scratch.sourceFingerprint(s, path)
    val hit = schemas.get(key)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val inferred = s.read.parquet(path).schema
      schemas.put(key, (fp, inferred))
      inferred
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.parquet has shipped with two different physical layouts
    * for `ts` across testdata generations: INT64 TIMESTAMP(NANOS)
    * (which the vectorized reader rejects unless read as raw longs)
    * and plain timestamp[us] (which Spark infers as TIMESTAMP_NTZ).
    * Hard-coding either one breaks silently or loudly when the data
    * regenerates, so normalization branches on the type the reader
    * ACTUALLY produced and fails loud on anything else — the
    * schema-drift guard. The session runs with timeZone=UTC, so the
    * ntz→ltz cast is value-preserving. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      // legacy layout: TIMESTAMP(NANOS) surfaced as raw long nanos via
      // nanosAsLong; integer division — a double division would lose
      // precision (nanos-since-2024 ≈ 1.7e18 > 2^53)
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other — testdata layout drifted; " +
        "extend Tables.normalizeTs for the new physical type")
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    // harmless when ts is not NANOS; required to read the legacy layout
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
