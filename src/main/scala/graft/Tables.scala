package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * All engine queries take `(spark, sfDir)` and read parquet lazily so
  * Catalyst sees the scan and can push filters/prune columns into it.
  * At cluster scale these would be catalog tables partitioned by a
  * date/seqno bucket; the loader is the single seam where that layout
  * swap happens.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  /** `events.ts` contract: epoch-nanos long. Early testdata generations
    * wrote parquet TIMESTAMP(NANOS) (read as long via nanosAsLong); the
    * current generation writes timestamp[us], which Spark reads as
    * TIMESTAMP_NTZ. Normalize here — with the engine-wide UTC session
    * timezone the NTZ→LTZ cast is the identity wall-clock mapping, so
    * unix_micros×1000 reproduces the exact nano value either way. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType, LongType}
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions
          .unix_micros(org.apache.spark.sql.functions.col("ts").cast(TimestampType)) * 1000L)
      case other => sys.error(s"unexpected events.ts type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** One engine query: the Spark program plus the equivalent ANSI SQL the
  * driver runs in DuckDB over the same parquet.
  * Column names and row order must match between the two (the driver
  * sorts columns by name then hashes values), so every query ends in a
  * fully deterministic ORDER BY with unique tie-breakers.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, oracle)
}
