package graft.sinks

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

/** Pins the whole point of bucketing: a join between two tables
  * bucketed to the same count on the join key must plan with ZERO
  * shuffle exchanges and ZERO sorts (the write already paid both). */
class BucketingSpec extends SparkSpec {

  test("bucketed-by-key join plans with no shuffle and no sort") {
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables.load(spark, sfDir, "customer")
      .select("c_custkey", "c_name")
    val dir = tempDir("graft-bucketing")
    Bucketing.writeBucketed(orders, "b_orders", "o_custkey", 8,
      s"$dir/b_orders")
    Bucketing.writeBucketed(customer, "b_customer", "c_custkey", 8,
      s"$dir/b_customer")

    val joined = spark.table("b_orders")
      .hint("merge")
      .join(spark.table("b_customer"),
        col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // shuffle exchanges print as "Exchange hashpartitioning(...)" /
    // "Exchange rangepartitioning(...)" (node name "Exchange";
    // BroadcastExchange prints its full name)
    assert(!plan.contains("Exchange hashpartitioning")
        && !plan.contains("Exchange rangepartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"scan must be bucket-aware:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // Spark still inserts partition-LOCAL sorts (sorted-bucket metadata
    // is not trusted across multiple files per bucket, SPARK-19256) —
    // those stream within a task. The expensive thing bucketing removes
    // is the exchange, asserted above; pin that the sorts are local
    // (global sorts print "true" for their global flag).
    assert(!plan.contains("ASC NULLS FIRST], true"),
      s"no global sort expected:\n$plan")

    // and it is still the right answer
    val got = joined.count()
    val want = orders.join(customer,
      col("o_custkey") === col("c_custkey")).count()
    assert(got == want)
  }

  test("point filter on the bucket key prunes to one bucket") {
    // a bare filter has no distribution requirement, so Spark's
    // autoBucketedScan turns the bucketed scan (and with it, bucket
    // pruning) off — disable the auto-off to pin the pruning behavior
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val q = spark.table("b_orders")
        .filter(col("o_custkey") === 7L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning must select a single bucket:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("aggregation on the bucket key skips its exchange") {
    val agg = spark.table("b_orders")
      .groupBy("o_custkey").agg(sum("o_totalprice").as("rev"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning")
        && !plan.contains("Exchange rangepartitioning"),
      s"bucket-key agg must not shuffle:\n$plan")
    assert(agg.count() > 0)
  }
}
