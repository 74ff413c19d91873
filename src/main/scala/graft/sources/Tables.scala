package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables.
  *
  * The engine-wide contract is that `events.ts` is a LongType of epoch
  * NANOSECONDS: every consumer (EventAdapter, B-block time bucketing,
  * as-of/range joins, the whole C block) derives epoch-ms / epoch-us /
  * timestamps from it with exact integer arithmetic (never double
  * division, which would lose precision on int64 nanos).
  *
  * The driver's parquet has shipped `ts` in two physical forms across
  * testdata generations: TIMESTAMP(NANOS) (readable only as a raw long
  * via spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(micros)
  * (read natively as TimestampType / TimestampNTZType). We sniff the
  * loaded schema and normalize either form to the long-ns contract,
  * so downstream code never sees the difference:
  *   - LongType (nanos-as-long)       → already the contract, pass through
  *   - Timestamp[NTZ]Type (micros)    → unix_micros(ts) * 1000L, exact
  *     (micros fit in ~2^51, so ×1000 cannot overflow int64; sub-µs
  *     digits are zero, matching what DuckDB oracles see via epoch_us)
  * NTZ values are wall-clock; all graft entry points pin
  * spark.sql.session.timeZone=UTC, so the cast to TimestampType is the
  * identity on the underlying micros.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // session-global conf toggle: serialized under the per-session
  // conf monitor — with graft.Par
  // making intra-driver concurrency routine, two overlapping loads
  // could interleave save/restore and leave the flag wrong for the
  // whole session
  private def withNanosAsLong[T](spark: SparkSession)(f: => T): T =
    spark.sessionState.conf.synchronized {
      val k = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(k)
      spark.conf.set(k, "true")
      try f finally prev match {
        case Some(v) => spark.conf.set(k, v)
        case None    => spark.conf.set(k, "false")
      }
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") withNanosAsLong(spark) {
      normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize any physical `ts` encoding to the LongType epoch-ns
    * contract (see class doc). Exact integer arithmetic in all paths.
    */
  private[graft] def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw // TIMESTAMP(NANOS) read as nanos-as-long
      case TimestampType =>
        raw.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case TimestampNTZType =>
        // UTC session timezone (pinned by every graft entry point)
        // makes this cast the identity on the underlying micros.
        raw.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected LongType " +
            "(nanos-as-long), TimestampType, or TimestampNTZType")
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `ts` column is LongType epoch-nanoseconds (see class doc). */
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
