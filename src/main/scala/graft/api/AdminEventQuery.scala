package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.KeycloakAdminEvent

/** Fluent admin-event query — Spark re-expression of
  * AthenaAdminEventQuery.java (setters :46-155, WHERE construction
  * :185-240). Same declarative-predicate design as [[EventQuery]].
  */
final class AdminEventQuery private (
    events: DataFrame,
    realmId: Option[String],
    authRealmId: Option[String],
    authClientId: Option[String],
    authUserId: Option[String],
    authIp: Option[String],
    operationTypes: Vector[String],
    resourceTypes: Vector[String],
    resourcePathValue: Option[String],
    fromTime: Option[Long],
    toTime: Option[Long],
    first: Option[Int],
    max: Option[Int],
    asc: Boolean) {

  private def copy(
      realmId: Option[String] = realmId,
      authRealmId: Option[String] = authRealmId,
      authClientId: Option[String] = authClientId,
      authUserId: Option[String] = authUserId,
      authIp: Option[String] = authIp,
      operationTypes: Vector[String] = operationTypes,
      resourceTypes: Vector[String] = resourceTypes,
      resourcePathValue: Option[String] = resourcePathValue,
      fromTime: Option[Long] = fromTime,
      toTime: Option[Long] = toTime,
      first: Option[Int] = first,
      max: Option[Int] = max,
      asc: Boolean = asc): AdminEventQuery =
    new AdminEventQuery(events, realmId, authRealmId, authClientId,
      authUserId, authIp, operationTypes, resourceTypes,
      resourcePathValue, fromTime, toTime, first, max, asc)

  def realm(id: String): AdminEventQuery = copy(realmId = Option(id))
  def authRealm(id: String): AdminEventQuery = copy(authRealmId = Option(id))
  def authClient(id: String): AdminEventQuery = copy(authClientId = Option(id))
  def authUser(id: String): AdminEventQuery = copy(authUserId = Option(id))
  def authIpAddress(a: String): AdminEventQuery = copy(authIp = Option(a))
  def operation(ops: String*): AdminEventQuery =
    copy(operationTypes = (operationTypes ++ ops).distinct)
  def resourceType(rs: String*): AdminEventQuery =
    copy(resourceTypes = (resourceTypes ++ rs).distinct)
  def resourcePath(p: String): AdminEventQuery =
    copy(resourcePathValue = Option(p))
  def fromTime(epochMs: Long): AdminEventQuery = copy(fromTime = Some(epochMs))
  def toTime(epochMs: Long): AdminEventQuery = copy(toTime = Some(epochMs))
  def firstResult(n: Int): AdminEventQuery =
    copy(first = if (n >= 0) Some(n) else None)
  def maxResults(n: Int): AdminEventQuery =
    copy(max = if (n > 0) Some(n) else None)
  def orderByAscTime: AdminEventQuery = copy(asc = true)
  def orderByDescTime: AdminEventQuery = copy(asc = false)

  def predicate: Option[Column] = {
    val conds = Seq(
      realmId.map(col("realmid") === _),
      authRealmId.map(col("authrealmid") === _),
      authClientId.map(col("authclientid") === _),
      authUserId.map(col("authuserid") === _),
      authIp.map(col("authipaddress") === _),
      Option.when(operationTypes.nonEmpty)(
        col("operationtype").isin(operationTypes: _*)),
      Option.when(resourceTypes.nonEmpty)(
        col("resourcetype").isin(resourceTypes: _*)),
      resourcePathValue.map(col("resourcepath") === _),
      fromTime.map(col("time") >= _),
      toTime.map(col("time") <= _),
      // over a dt/hour-partitioned store the time range also implies
      // dt/hour partition bounds → planning-time directory pruning
      PartitionPruning.timeRangePredicate(events, fromTime, toTime)
    ).flatten
    conds.reduceOption(_ && _)
  }

  def toDF: DataFrame = {
    val filtered = predicate.fold(events)(events.filter)
    val ordered =
      if (asc) filtered.orderBy(col("time").asc, col("id").asc)
      else filtered.orderBy(col("time").desc, col("id").desc)
    val offset = first.filter(_ > 0).fold(ordered)(ordered.offset)
    max.fold(offset)(offset.limit)
  }

  def results(spark: SparkSession): Dataset[KeycloakAdminEvent] = {
    import spark.implicits._
    EventQuery.normalized(toDF).as[KeycloakAdminEvent]
  }
}

object AdminEventQuery {
  def apply(events: DataFrame): AdminEventQuery =
    new AdminEventQuery(events, None, None, None, None, None,
      Vector.empty, Vector.empty, None, None, None, None, None,
      asc = false)
}
