package graft

import org.apache.spark.sql.functions._

class ScalePostureSpec extends SparkSpec {

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      Tables.load(s2, sf0001, "orders")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      Tables.load(s2, sf0001, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")
      val joined = s2.table("lineitem_b").join(s2.table("orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === Tables.load(s2, sf0001, "lineitem").count())
    } finally {
      s2.sql("DROP TABLE IF EXISTS orders_b")
      s2.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}

class PartitionPruningSpec extends SparkSpec {
  test("partitioned write + filter prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part")
    Tables.load(spark, sf0001, "orders")
      .write.partitionBy("o_orderstatus").mode("overwrite")
      .parquet(dir.toString)
    val q = spark.read.parquet(dir.toString)
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("o_orderstatus#") && plan.contains("= F"), plan)
    // only the F partition directory is read
    val filesRead = q.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(q.count() === Tables.load(spark, sf0001, "orders")
      .filter("o_orderstatus = 'F'").count())
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("transitive chains collapse to one cluster with min label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val labels = graft.dedup.ConnectedComponents.clusterLabels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }
}
