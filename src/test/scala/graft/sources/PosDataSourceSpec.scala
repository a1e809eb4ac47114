package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.PosGenerator
import graft.testkit.SparkSpec

class PosDataSourceSpec extends AnyFunSuite with SparkSpec {

  private def read(n: Long, partitions: Int = 4) =
    spark.read.format("graft-pos")
      .option("run_id", "run-dsv2").option("scenario", "ok")
      .option("n", n).option("partitions", partitions)
      .load()

  test("generates n rows with the wire schema, split across partitions") {
    val df = read(1000, partitions = 8)
    assert(df.schema == PosDataSource.schema)
    assert(df.count() == 1000)
    assert(df.rdd.getNumPartitions == 8)
    assert(df.select("txn_id").distinct().count() == 1000)
  }

  test("deterministic per (run_id, scenario): same data on re-read") {
    val a = read(200).collect().map(_.toString).sorted
    val b = read(200).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("reference distributions: qty 1-5, known stores/skus/prices, ~40% null customers") {
    val df = read(2000).cache()
    try {
      assert(df.filter(col("quantity") < 1 || col("quantity") > 5).count() == 0)
      assert(df.filter(!col("sku").isin(PosGenerator.skus: _*)).count() == 0)
      assert(df.filter(!col("unit_price_cents")
        .isin(PosGenerator.pricesCents.map(Integer.valueOf): _*)).count() == 0)
      val nullFrac = df.filter(col("customer_id").isNull).count() / 2000.0
      assert(nullFrac > 0.3 && nullFrac < 0.5, s"nullFrac=$nullFrac")
    } finally df.unpersist()
  }

  test("LIMIT is pushed into the scan") {
    val limited = read(1000000, partitions = 16).limit(7)
    val scanDesc = limited.queryExecution.executedPlan.toString
    assert(limited.count() == 7)
    // the pushed limit rewrites the scan to n=7 (visible in its description)
    assert(scanDesc.contains("n=7"), s"scan not limited:\n$scanDesc")
  }

  test("streaming read: rowsPerBatch per trigger, same rows as the batch read") {
    val stream = spark.readStream.format("graft-pos")
      .option("run_id", "run-dsv2").option("scenario", "ok")
      .option("n", 100).option("partitions", 2).option("rowsPerBatch", 40)
      .load()
    val q = stream.writeStream.format("memory").queryName("pos_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // 40 + 40 + 20 across three micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(q.recentProgress.map(_.numInputRows).sum == 100)
    val streamed = spark.table("pos_stream").collect().map(_.toString).sorted
    val batch = read(100).collect().map(_.toString).sorted
    assert(streamed.sameElements(batch))
  }

  test("different run_ids generate different data") {
    val a = spark.read.format("graft-pos").option("run_id", "run-a")
      .option("n", 50).load().select("sku", "quantity").collect().toSeq
    val b = spark.read.format("graft-pos").option("run_id", "run-b")
      .option("n", 50).load().select("sku", "quantity").collect().toSeq
    assert(a != b)
  }
}
