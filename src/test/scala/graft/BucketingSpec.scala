package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Bucketing, Tables}

/** Bucketed co-located join: both sides pre-bucketed on the join key
  * must join with ZERO Exchange in the plan (the shuffle is paid once
  * at write time, not per query). */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("join of two tables bucketed on the key plans no shuffle") {
    import org.apache.spark.sql.functions._
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force a non-broadcast join so the shuffle question is real
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")

      Bucketing.writeBucketed(
        Tables.lineitem(spark, TestSpark.sf), "li_bucketed", "l_orderkey", 4)
      Bucketing.writeBucketed(
        Tables.orders(spark, TestSpark.sf), "ord_bucketed", "o_orderkey", 4)

      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))

      val plan = joined.queryExecution.executedPlan.toString
      // the join subtree must contain no shuffle: the only Exchange
      // allowed in the whole plan is the one for the final groupBy
      val exchanges = plan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("Reused"))
      assert(exchanges == 1, s"expected only the groupBy exchange:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)

      // and the result matches the unbucketed join
      val expected = Tables.lineitem(spark, TestSpark.sf)
        .join(Tables.orders(spark, TestSpark.sf),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("bucketed event store: per-user agg shuffles nothing, time still prunes") {
    import org.apache.spark.sql.functions._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val ke = graft.model.EventAdapter.keycloakEvents(
        Tables.events(spark, TestSpark.sf))
      Bucketing.writeBucketedEvents(ke, "ev_bucketed", numBuckets = 4)
      val store = spark.table("ev_bucketed")

      // per-user aggregation over bucketed layout: zero Exchange
      val perUser = store.groupBy(col("userid"))
        .agg(count(lit(1)).as("n"), max(col("time")).as("last_time"))
      val aggPlan = perUser.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"per-user agg must read buckets shuffle-free:\n$aggPlan")
      assert(perUser.count() == ke.select("userid").distinct().count())

      // partition pruning still applies on top of bucketing
      val pruned = store.filter(col("dt") === "2024-01-02" && col("hour") === 5)
      val prunedPlan = pruned.queryExecution.executedPlan.toString
      assert(prunedPlan.contains("PartitionFilters: ["), prunedPlan.take(1500))
      assert(pruned.count() ==
        graft.sources.EventStore.withPartitionColumns(ke)
          .filter(col("dt") === "2024-01-02" && col("hour") === 5).count())
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    }
  }

  test("pointer resolves are prefix-isolated: decoy warehouse entries never leak in") {
    import spark.implicits._
    import graft.sources.Bucketing
    // the r20 prefix-filtered resolve (globStatus on the pointer
    // prefix instead of a full warehouse listStatus — O(matches) on
    // stores with native prefix listing) must not change WHAT
    // resolves: populate the warehouse with the adversarial decoys a
    // full-listing filter used to wade through, including a sibling
    // table whose name EXTENDS this one's
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    Bucketing.writeBucketed(df, "pfx_a", "k", 2)
    Bucketing.writeBucketed(df, "pfx_a", "k", 2)  // swap → gen 1
    // sibling whose pointers share every character up to the table
    // boundary, at a HIGHER generation number
    Bucketing.writeBucketed(df, "pfx_a_b", "k", 2)
    (1 to 9).foreach { _ =>
      Bucketing.writeBucketed(df, "pfx_a_b", "k", 2)
    } // pfx_a_b at gen 9
    // junk files that merely share the prefix shape
    Seq("pfx_a__gptr_notanumber", "pfx_a__gptrx_77", "pfx_a__lease_x")
      .foreach(n => fs.create(
        new org.apache.hadoop.fs.Path(wh, n), true).close())
    try {
      assert(spark.table("pfx_a").count() == 2L)
      // the audit read resolves THIS table's generation, not the
      // sibling's gen 9 and not the junk
      assert(Bucketing.readGeneration(spark, "pfx_a", 1L).count() == 2L)
      intercept[IllegalArgumentException] {
        Bucketing.readGeneration(spark, "pfx_a", 9L)
      }
      // and the next swap still lands generation 2, proving the
      // resolve read 1, not 9
      Bucketing.writeBucketed(df, "pfx_a", "k", 2)
      assert(Bucketing.readGeneration(spark, "pfx_a", 2L).count() == 2L)
    } finally {
      Bucketing.dropTableAndDir(spark, "pfx_a")
      Bucketing.dropTableAndDir(spark, "pfx_a_b")
      Seq("pfx_a__gptr_notanumber", "pfx_a__gptrx_77", "pfx_a__lease_x")
        .foreach(n =>
          fs.delete(new org.apache.hadoop.fs.Path(wh, n), false))
    }
  }
}
