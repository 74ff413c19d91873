package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Derives dt/hour PARTITION predicates from an epoch-ms time range.
  *
  * A `time >= f` row filter over a store-backed frame pushes to
  * parquet as a row-group filter, but Spark cannot infer from it that
  * whole dt/hour directories are out of range — the scan still lists
  * and opens every partition. The reference got directory-level
  * elision from Athena partition projection (terraform/main.tf:87-95);
  * this is the Spark analog: emit the implied predicates on the dt and
  * hour partition columns so Catalyst prunes directories at planning
  * time (visible as PartitionFilters in `.explain`).
  *
  * The derived predicates are implied by the row predicate (every row
  * in a pruned partition violates `time >= f` / `time <= t`), so
  * adding them never changes results. Calendar math is UTC epoch
  * arithmetic, matching [[graft.sources.EventStore
  * .withPartitionColumns]]; dt compares lexicographically
  * (yyyy-MM-dd is order-isomorphic).
  */
object PartitionPruning {

  private def dtOf(ms: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(ms, 86400000L)).toString
  private def hourOf(ms: Long): Int =
    (Math.floorMod(ms, 86400000L) / 3600000L).toInt

  /** Partition predicate implied by `fromTime <= time <= toTime`, or
    * None when the frame is not dt/hour-partitioned (adapter-built
    * frames without partition columns). */
  def timeRangePredicate(df: DataFrame, fromTime: Option[Long],
      toTime: Option[Long]): Option[Column] = {
    val cols = df.columns.toSet
    if (!cols.contains("dt") || !cols.contains("hour")) return None
    val lower = fromTime.map { f =>
      col("dt") > dtOf(f) ||
        (col("dt") === dtOf(f) && col("hour") >= hourOf(f))
    }
    val upper = toTime.map { t =>
      col("dt") < dtOf(t) ||
        (col("dt") === dtOf(t) && col("hour") <= hourOf(t))
    }
    (lower ++ upper).reduceOption(_ && _)
  }
}
