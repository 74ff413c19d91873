package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{AdminEventQuery, EventQuery}
import graft.model.EventAdapter
import graft.sources.Tables

/** Fluent-builder semantics (the reference's EventQuery contract) and
  * the Catalyst pushdown the design relies on. */
class EventQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def ke = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))

  test("filters compose as AND (reference buildConditions semantics)") {
    import org.apache.spark.sql.functions._
    val got = EventQuery(ke).types("ERROR").realm("realm-1").toDF
    val want = ke.filter(col("eventtype") === "ERROR" && col("realmid") === "realm-1")
    assert(got.count() == want.count())
    assert(got.count() > 0)
  }

  test("paging: limit/offset against deterministic time order") {
    val q = EventQuery(ke).orderByAscTime
    val all = q.maxResults(30).toDF.collect().map(_.getAs[String]("id"))
    val page = q.firstResult(10).maxResults(10).toDF.collect().map(_.getAs[String]("id"))
    assert(page.toSeq == all.slice(10, 20).toSeq)
  }

  test("unset guards mirror the reference (negative first, zero max)") {
    val n = ke.count()
    assert(EventQuery(ke).firstResult(-5).maxResults(0).toDF.count() == n)
  }

  test("time-range filters are pushed to the parquet scan") {
    val q = EventQuery(ke).user("user-7").fromDate(1704153600000L)
    val plan = q.toDF.queryExecution.executedPlan.toString
    // the userid/time predicates derive from user_id/ts parquet columns;
    // pushdown shows up as PushedFilters on the scan
    assert(plan.contains("PushedFilters: ["), plan.take(1500))
    assert(plan.contains("IsNotNull") || plan.contains("GreaterThan"),
      plan.take(1500))
  }

  test("time range over an EventStore frame prunes dt/hour partitions") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_eq_store_").toString
    graft.sources.SnapshotEventStore.append(ke, dir)
    val store = graft.sources.SnapshotEventStore.read(spark, dir)

    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    }

    // 3-hour slice, mid-range
    val f = 1704153600000L + 3600000L
    val t = f + 3 * 3600000L - 1
    val q = EventQuery(store).fromDate(f).toDate(t).orderByAscTime.toDF
    // partition predicates appear as PartitionFilters in the scan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim.nonEmpty,
      plan.take(2000))
    // and the scan opens strictly fewer files than a full read
    val total = numFiles(store.select(col("id")))
    val pruned = numFiles(q)
    assert(pruned < total, s"expected pruning: $pruned vs $total files")
    // results identical to the plain row-filter semantics
    val want = store.filter(col("time") >= f && col("time") <= t).count()
    assert(q.count() == want && want > 0)
  }

  test("typed results map to KeycloakEvent with null normalization") {
    val ds = EventQuery(ke).types("ERROR").maxResults(5).results(spark)
    val rows = ds.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.error.contains("invalid_user_credentials")))
    val ok = EventQuery(ke).types("CLICK").maxResults(5).results(spark).collect()
    assert(ok.forall(_.error.isEmpty), "blank/absent error must map to None")
  }

  test("admin query filters operation + resource type") {
    val got = AdminEventQuery(kae).operation("CREATE").resourceType("USER")
      .toDF.collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getAs[String]("operationtype") == "CREATE"
      && r.getAs[String]("resourcetype") == "USER"))
  }

  private def kae = EventAdapter.keycloakAdminEvents(Tables.events(spark, TestSpark.sf))
}
