package graft

import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** Physical-layout levers for 100 TB: bucketed co-located joins (no
  * exchange on the join key) and hive-partitioned pruning (scan touches
  * only matching directories). Asserted on the actual physical plans. */
class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bucketed tables join without a shuffle exchange") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    // bucketing co-locates both sides: the join itself needs no exchange
    // (the only exchange allowed is the final aggregation's, and even that
    // is avoided since grouping matches the bucket key)
    val joinSubtree = plan.split("HashAggregate").head
    joinSubtree should not include "Exchange"
    joined.count() shouldBe lineitem.select("l_orderkey").distinct().count()
  }

  test("pre-bucketed pubAuthors runs t5's window with no exchange below it") {
    val pa = graft.sources.Tables.materializePubAuthors(spark, sf,
      table = "pub_authors_b_test", buckets = 8)
    val t5 = graft.queries.DblpAnalog.t5TopCoauthorAuthorsFrom(pa)
    val plan = t5.queryExecution.executedPlan.toString
    // Printed parent-first: everything after the Window line is its subtree;
    // the bucketed scan must satisfy the window's pub_key distribution
    // directly (only the author-aggregation above it may exchange).
    plan should include ("Window")
    plan.substring(plan.lastIndexOf("Window")) should not include "Exchange"
    // and the bucketed path must be RESULT-identical to the per-query path
    rows(t5) shouldBe rows(graft.queries.DblpAnalog.t5TopCoauthorAuthors(spark, sf))
  }

  test("partitioned parquet scans prune to the filtered partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    val events = graft.sources.Tables.events(spark, sf)
      .withColumn("event_date", to_date(col("ts")))
    Sinks.writeParquet(events, s"$out/events", partitionBy = Seq("event_type"))
    val read = spark.read.parquet(s"$out/events")
      .filter(col("event_type") === "click")
    val scan = read.queryExecution.executedPlan.toString
    scan should include ("PartitionFilters")
    scan should include ("event_type")
    read.select("event_type").distinct().as[String].collect().toSeq shouldBe Seq("click")
  }

  test("AQE re-plans a sort-merge join to broadcast from runtime statistics") {
    // static planning must NOT see the small size (threshold off), the
    // adaptive re-optimization must (adaptive threshold on): the filtered
    // dimension's true size is only known at runtime — exactly the 100 TB
    // case of a selective dim filter the optimizer can't estimate.
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.autoBroadcastJoinThreshold" ->
        spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold").getOrElse(""),
      "spark.sql.adaptive.nonEmptyPartitionRatioForBroadcastJoin" ->
        spark.conf.getOption("spark.sql.adaptive.nonEmptyPartitionRatioForBroadcastJoin").getOrElse(""))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "8m")
      // a HANDFUL of rows spread over 32 shuffle partitions trips AQE's
      // empty-partition demotion heuristic and keeps the SMJ; this test
      // asserts the SIZE-based conversion, so pin the ratio gate open
      spark.conf.set("spark.sql.adaptive.nonEmptyPartitionRatioForBroadcastJoin", "0")
      val c = spark.read.parquet(s"$sf/customer.parquet")
        .filter(col("c_custkey") % 50 === 0) // tiny at runtime, opaque statically
      val o = spark.read.parquet(s"$sf/orders.parquet")
      val j = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      j.collect() // run, so AQE finalizes
      val finalPlan = j.queryExecution.executedPlan.toString
      finalPlan should include ("BroadcastHashJoin")
    } finally prev.foreach { case (k, v) =>
      if (v.nonEmpty) spark.conf.set(k, v) else spark.conf.unset(k)
    }
  }
}
