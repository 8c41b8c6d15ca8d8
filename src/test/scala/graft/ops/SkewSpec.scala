package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.lake.LakeWriter
import graft.model.Tables

class SkewSpec extends SparkTestBase {

  test("salted aggregation equals plain aggregation") {
    val li = Tables.lineitem(spark, sf0001)
    val plain = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val salted = Skew.saltedAggregate(
      li, Seq("l_returnflag"), salts = 8,
      partial = Seq("n" -> count(lit(1)), "q" -> sum(col("l_quantity"))),
      merge = c => sum(col(c)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted.keySet === plain.keySet)
    plain.foreach { case (k, (n, q)) =>
      assert(salted(k)._1 === n)
      assert(math.abs(salted(k)._2 - q) < 1e-6)
    }
  }

  test("salted join equals plain join") {
    val orders = Tables.orders(spark, sf0001)
    val custAgg = Tables.customer(spark, sf0001)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = orders.join(custAgg, Seq("o_custkey"))
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(orders, custAgg, "o_custkey", salts = 4)
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    // one pathological key holds ~90% of the left side; with tiny
    // advisory/skew thresholds AQE must mark the SMJ partition skewed
    // and split it instead of letting one task absorb the hot key
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(300000).select(
        when(pmod(col("id"), lit(10)) =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val agg = left.join(right, "k").groupBy().count()
      val n = agg.collect().head.getLong(0)
      assert(n > 0)
      // query stages are leaf nodes to collect(); recurse through them
      def findSkewJoins(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.joins.SortMergeJoinExec] =
        p.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec if j.isSkewJoin => Seq(j)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findSkewJoins(q.plan)
        }.flatten
      val finalPlan = agg.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(findSkewJoins(finalPlan).nonEmpty,
        s"expected a runtime skew-split sort-merge join:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // a selective dim-side filter lets Catalyst inject a bloom filter
    // on the fact side's join key — rows that can't match are dropped
    // at the scan instead of surviving to the shuffle (the runtime
    // row-level filtering lever at 100 TB)
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val urgent = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = Tables.lineitem(spark, sf0001)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom filter (might_contain) in:\n$plan")
      // and the filtered join still returns correct results
      val n = joined.collect().head.getLong(1)
      val want = Tables.lineitem(spark, sf0001)
        .join(Tables.orders(spark, sf0001).filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey"), col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(n === want)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    LakeWriter.writeBucketed(
      Tables.orders(spark, sf0001), "orders_b", Seq("o_custkey"), 4, Seq("o_custkey"))
    LakeWriter.writeBucketed(
      Tables.customer(spark, sf0001).withColumnRenamed("c_custkey", "o_custkey"),
      "customer_b", Seq("o_custkey"), 4, Seq("o_custkey"))
    val joined = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
    // under AQE the executed plan is an AdaptiveSparkPlanExec leaf:
    // walk its initial plan, or an exchange would go unseen
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"bucketed join should be shuffle-free:\n$plan")
    // and it still returns the right rows
    val plain = Tables.orders(spark, sf0001).join(
      Tables.customer(spark, sf0001).withColumnRenamed("c_custkey", "o_custkey"),
      "o_custkey").count()
    assert(joined.count() === plain)
  }
}
