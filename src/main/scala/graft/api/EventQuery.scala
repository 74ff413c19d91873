package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.KeycloakEvent

/** Fluent user-event query — the Spark-native re-expression of the
  * reference's Athena builder (AthenaEventQuery.java:46-125 for the
  * setters, :136-198 for the generated SQL).
  *
  * Where the reference concatenates a SQL string and ships it to
  * Athena, we compose declarative `Column` predicates over the event
  * DataFrame: Catalyst pushes the equality / IN / range filters into
  * the parquet scan (PushedFilters) and collapses orderBy+offset+limit
  * into a TakeOrderedAndProject — the same pushdown Athena's engine
  * performed for the reference, but decided by the optimizer instead
  * of string templating.
  *
  * Ordering adds `id` as a tie-break after `time` (the reference
  * orders by `time` alone, AthenaEventQuery.java:173, which is
  * nondeterministic under equal timestamps — a paging hazard we fix).
  */
final class EventQuery private (
    events: DataFrame,
    eventTypes: Vector[String],
    realmId: Option[String],
    clientId: Option[String],
    userId: Option[String],
    ip: Option[String],
    fromTime: Option[Long],
    toTime: Option[Long],
    first: Option[Int],
    max: Option[Int],
    asc: Boolean) {

  private def copy(
      eventTypes: Vector[String] = eventTypes,
      realmId: Option[String] = realmId,
      clientId: Option[String] = clientId,
      userId: Option[String] = userId,
      ip: Option[String] = ip,
      fromTime: Option[Long] = fromTime,
      toTime: Option[Long] = toTime,
      first: Option[Int] = first,
      max: Option[Int] = max,
      asc: Boolean = asc): EventQuery =
    new EventQuery(events, eventTypes, realmId, clientId, userId, ip,
      fromTime, toTime, first, max, asc)

  /** type IN (...) — deduplicated, insertion-ordered like the
    * reference's LinkedHashSet (AthenaEventQuery.java:23,48-53). */
  def types(ts: String*): EventQuery =
    copy(eventTypes = (eventTypes ++ ts).distinct)
  def realm(id: String): EventQuery = copy(realmId = Option(id))
  def client(id: String): EventQuery = copy(clientId = Option(id))
  def user(id: String): EventQuery = copy(userId = Option(id))
  def ipAddress(a: String): EventQuery = copy(ip = Option(a))
  def fromDate(epochMs: Long): EventQuery = copy(fromTime = Some(epochMs))
  def toDate(epochMs: Long): EventQuery = copy(toTime = Some(epochMs))
  /** OFFSET — negative means unset, like AthenaEventQuery.java:104-107. */
  def firstResult(n: Int): EventQuery =
    copy(first = if (n >= 0) Some(n) else None)
  /** LIMIT — non-positive means unset, AthenaEventQuery.java:110-113. */
  def maxResults(n: Int): EventQuery =
    copy(max = if (n > 0) Some(n) else None)
  def orderByAscTime: EventQuery = copy(asc = true)
  def orderByDescTime: EventQuery = copy(asc = false)

  /** The composed predicate (AthenaEventQuery.java:161-198's WHERE). */
  def predicate: Option[Column] = {
    val conds = Seq(
      Option.when(eventTypes.nonEmpty)(col("eventtype").isin(eventTypes: _*)),
      realmId.map(col("realmid") === _),
      clientId.map(col("clientid") === _),
      userId.map(col("userid") === _),
      ip.map(col("ipaddress") === _),
      fromTime.map(col("time") >= _),
      toTime.map(col("time") <= _),
      // over a dt/hour-partitioned store the time range also implies
      // dt/hour partition bounds → planning-time directory pruning
      PartitionPruning.timeRangePredicate(events, fromTime, toTime)
    ).flatten
    conds.reduceOption(_ && _)
  }

  /** Build the declarative plan (the analog of buildSql +
    * executeQuery). */
  def toDF: DataFrame = {
    val filtered = predicate.fold(events)(events.filter)
    val ordered =
      if (asc) filtered.orderBy(col("time").asc, col("id").asc)
      else filtered.orderBy(col("time").desc, col("id").desc)
    val offset = first.filter(_ > 0).fold(ordered)(ordered.offset)
    max.fold(offset)(offset.limit)
  }

  /** Typed result stream analog of getResultStream
    * (AthenaEventQuery.java:128-134) with the reference's blank→null
    * normalization (AthenaEventQuery.java:247-255). */
  def results(spark: SparkSession): Dataset[KeycloakEvent] = {
    import spark.implicits._
    EventQuery.normalized(toDF).as[KeycloakEvent]
  }
}

object EventQuery {
  /** @param events a KeycloakEvent-shaped DataFrame (e.g.
    *   EventAdapter.keycloakEvents or SnapshotEventStore.read). */
  def apply(events: DataFrame): EventQuery =
    new EventQuery(events, Vector.empty, None, None, None, None, None,
      None, None, None, asc = false)

  /** Blank/empty strings → null, mirroring the reference's row mapper
    * (AthenaEventQuery.java:247-255: isBlank → null). */
  def normalized(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.filter(_.dataType.typeName == "string")
      .map(_.name).toSet
    df.select(df.columns.map { c =>
      if (stringCols(c)) when(trim(col(c)) === "", lit(null)).otherwise(col(c)).as(c)
      else col(c)
    }: _*)
  }
}
