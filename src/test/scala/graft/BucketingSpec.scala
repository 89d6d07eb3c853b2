package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located joins via bucketing — the pre-shuffle strategy for repeated
  * big-table joins at scale (SURVEY.md "Partitioning & shuffle"): both
  * sides bucketed on the join key means the join plans with NO exchange.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("join of co-bucketed tables plans without a shuffle exchange") {
    // external tables under the scratch root, not in spark-warehouse/
    val tables = Seq("graft_li_bucketed", "graft_ord_bucketed")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").option("path", Tables.scratch("graft_li_bucketed"))
      .saveAsTable("graft_li_bucketed")
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").option("path", Tables.scratch("graft_ord_bucketed"))
      .saveAsTable("graft_ord_bucketed")
    try {
      val joined = spark.table("graft_li_bucketed")
        .join(spark.table("graft_ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
      // disable broadcast so the join strategy itself is under test
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan.take(1500))
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join should not shuffle:\n${plan.take(1500)}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Tables.rm(new java.io.File(Tables.scratch(t)))
    }
  }
}
