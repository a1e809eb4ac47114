package graft.etl

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSpec

class EnricherSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // hand-derivable fixture in the FIXTURES.md §3 golden style
  private def txns = Seq(
    (ts("2024-03-05 09:00:00"), "t1", "SFO-001", "SKU-APPLE", 2, 199, "cash", null: String),
    (ts("2024-03-05 10:00:00"), "t2", "SFO-001", "SKU-MILK", 1, 299, "card", "c1"),
    (ts("2024-03-05 11:00:00"), "t3", "NYC-014", "SKU-RICE", 3, 899, "ebt", "c2"),
    (ts("2024-03-06 09:30:00"), "t4", "SFO-001", "SKU-COFFEE", 1, 599, "card", null: String)
  ).toDF("event_time", "txn_id", "store_id", "sku", "quantity",
    "unit_price_cents", "tender_type", "customer_id")

  test("enrich: dim join adds region/category and derives revenue_cents") {
    val fct = Enricher.enrich(spark, txns)
    val byId = fct.collect().map(r => r.getAs[String]("txn_id") -> r).toMap
    assert(byId("t1").getAs[Long]("revenue_cents") == 398L)
    assert(byId("t1").getAs[String]("region") == "west")
    assert(byId("t1").getAs[String]("category") == "produce")
    assert(byId("t3").getAs[Long]("revenue_cents") == 2697L)
    assert(byId("t3").getAs[String]("region") == "east")
    assert(byId("t4").getAs[String]("category") == "beverages")
  }

  test("enrich by lookup: no join or exchange, no Spark job in the enrich stage") {
    val unknown = txns.union(Seq(
      (ts("2024-03-05 12:00:00"), "t5", "LAX-404", "SKU-APPLE", 1, 199, "cash", null: String),
      (ts("2024-03-05 12:00:00"), "t6", "SFO-001", "SKU-NONE", 1, 199, "cash", null: String)
    ).toDF(txns.columns.toSeq: _*))
    val fct = Enricher.enrich(spark, unknown)
    val plan = fct.queryExecution.executedPlan
    assert(plan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty, plan)
    assert(plan.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty, plan)
    // inner-join semantics: an unknown store or sku drops out
    assert(fct.collect().map(_.getAs[String]("txn_id")).sorted.toSeq == Seq("t1", "t2", "t3", "t4"))

    val sc = spark.sparkContext
    def jobsIn(group: String)(f: => Unit): Int = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val paths = RunPaths(java.nio.file.Files.createTempDirectory("enrich-jobs").toString, "run-jobs")
    GroceryPipeline.ingest(spark, paths, "ok")
    GroceryPipeline.validate(spark, paths)
    // the stage evaluates the same plan on the driver
    assert(jobsIn("enrich-stage")(GroceryPipeline.enrich(spark, paths)) == 0)
  }

  test("daily mart golden values") {
    val mart = Enricher.dailySalesMart(Enricher.enrich(spark, txns))
    val rows = mart.collect().map { r =>
      (r.getAs[java.sql.Date]("day").toString, r.getAs[String]("store_id")) ->
        ((r.getAs[Long]("txns"), r.getAs[Long]("gross_revenue_cents"), r.getAs[Long]("units")))
    }.toMap
    assert(rows(("2024-03-05", "SFO-001")) == ((2L, 398L + 299L, 3L)))
    assert(rows(("2024-03-05", "NYC-014")) == ((1L, 2697L, 3L)))
    assert(rows(("2024-03-06", "SFO-001")) == ((1L, 599L, 1L)))
    assert(rows.size == 3)
  }
}
