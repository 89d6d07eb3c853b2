package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import scala.jdk.CollectionConverters._

class CoreQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("entry (flagship) returns the 6 returnflag×linestatus groups") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 6)
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length == 6)
  }

  test("q03 aggregates are internally consistent") {
    val rows = Registry.byName("q03_group_agg").run(spark, sf).collect()
    rows.foreach { r =>
      val sumQty = r.getAs[Double]("sum_qty")
      val avgQty = r.getAs[Double]("avg_qty")
      val n = r.getAs[Long]("count_order")
      assert(math.abs(sumQty / n - avgQty) < 1e-6)
      assert(r.getAs[Double]("sum_charge") >= r.getAs[Double]("sum_disc_price"))
    }
  }

  test("q07 semi + anti partition the customer table") {
    val m = Registry.byName("q07_semi_anti").run(spark, sf).collect()
      .map(r => r.getAs[String]("kind") -> r.getAs[Long]("n")).toMap
    val nCust = Tables.customer(spark, sf).count()
    assert(m("semi") + m("anti") == nCust)
  }

  test("q09 fetch window matches a manual slice of q10-style ordering") {
    val fetched = Registry.byName("q09_sort_fetch").run(spark, sf).collect()
    assert(fetched.length == 20)
    val all = Tables.orders(spark, sf)
      .orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc,
        org.apache.spark.sql.functions.col("o_orderkey"))
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(fetched.map(_.getAs[Long]("o_orderkey")).toSeq == all.slice(10, 30).toSeq)
  }

  test("q10 top-5 prices are non-increasing") {
    val prices = Registry.byName("q10_topk").run(spark, sf).collect()
      .map(_.getAs[Double]("o_totalprice"))
    assert(prices.length == 5)
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q13 unpivot doubles the part rows") {
    val n = Registry.byName("q13_unpivot").run(spark, sf).count()
    assert(n == 2 * Tables.part(spark, sf).count())
  }

  test("every declared capability runs at sf0.001") {
    // one build + count per capability, shared with LintSpec's inventory
    val failures = TestSpark.reviewed.collect { case (name, Left(err)) => s"$name: $err" }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("Bench.runOnce names the query's jobs and restores the caller's description") {
    val sc = spark.sparkContext
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("caller")
      Bench.runOnce(spark, sf, "q03_group_agg")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      eventually(timeout(Span(10, Seconds))) { assert(!descriptions.isEmpty) }
      assert(descriptions.asScala.forall(_ == "q03_group_agg"), descriptions)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("a query rerun after the interactive workload compiles no generated class") {
    // the 19 queries of perfbench's interactive workload generate over
    // 100 distinct classes, more than Spark's default codegen cache holds
    val interactive = Seq(
      "q01_filter_project", "q02_scalar_agg", "q03_group_agg",
      "q04_inner_join", "q05_star_join", "q06_outer_joins", "q07_semi_anti",
      "q09_sort_fetch", "q10_topk", "q12_value_counts", "q14_strings",
      "q15b_temporal_ts", "q16_math", "q19_ranking", "q20_cumulative",
      "q21_asof_join", "q22_window_agg", "q23b_pivot", "q24a_array_kernels")
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Bench.runOnce(spark, sf, "q03_group_agg")
    interactive.foreach(Bench.runOnce(spark, sf, _))
    val before = compiles
    Bench.runOnce(spark, sf, "q03_group_agg")
    assert(compiles - before == 0)
  }

  test("flagship query is deterministic across runs") {
    val a = Registry.byName("q03_group_agg").run(spark, sf).collect().toSeq
    val b = Registry.byName("q03_group_agg").run(spark, sf).collect().toSeq
    assert(a == b)
  }
}
