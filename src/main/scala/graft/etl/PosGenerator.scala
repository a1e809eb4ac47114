package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.HttpFetch.HttpStatusError

/** Deterministic POS transaction source (reference: mock_pos_api/app.py
  * :15-36 — seeded RNG per (run_id, scenario); sku∈5, qty 1-5,
  * price∈{199,299,399,599,899}, tender∈{cash,card,ebt}, customer_id null
  * with p=0.4).
  *
  * Spark-first: `spark.range(n)` plus seeded `hash`/`pmod` column
  * expressions — fully distributed and codegen'd, no RNG UDF, no driver
  * loop. At 100 TB-scale synthetic loads the same expressions generate any
  * `n` across executors with per-row determinism.
  */
object PosGenerator {

  val stores: Seq[String] = Seq("SFO-001", "NYC-014", "AUS-002")
  val skus: Seq[String] =
    Seq("SKU-APPLE", "SKU-MILK", "SKU-BREAD", "SKU-COFFEE", "SKU-RICE")
  val pricesCents: Seq[Int] = Seq(199, 299, 399, 599, 899)
  val tenders: Seq[String] = Seq("cash", "card", "ebt")

  private val baseEpoch = 1704067200L // 2024-01-01T00:00:00Z

  /** Deterministic field hash: murmur3 over (seed, field tag, row id). */
  private def h(seed: Long, tag: String): Column =
    hash(lit(seed), lit(tag), col("id"))

  private def pick(seed: Long, tag: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (pmod(h(seed, tag), lit(values.size)) + 1).cast("int"))

  /** n deterministic wire transactions for (runId, scenario).
    *
    * scenario=schema_drift reproduces app.py:69-73 — record 0 loses
    * `unit_price_cents` and gains `unit_price` instead (all other records
    * keep the contract shape).
    */
  def transactions(spark: SparkSession, runId: String, scenario: String,
      n: Int = 40): DataFrame = {
    val seed = Scenario.seed(runId, scenario)
    val base = spark.range(n.toLong)
      .withColumn("event_time",
        timestamp_seconds(lit(baseEpoch) + col("id") * 7))
      .withColumn("txn_id",
        concat(lit(runId), lit("-txn-"), lpad(col("id").cast("string"), 6, "0")))
      .withColumn("store_id", pick(seed, "store", stores))
      .withColumn("sku", pick(seed, "sku", skus))
      .withColumn("quantity", (pmod(h(seed, "qty"), lit(5)) + 1).cast("int"))
      .withColumn("unit_price_cents",
        element_at(array(pricesCents.map(lit): _*),
          (pmod(h(seed, "price"), lit(pricesCents.size)) + 1).cast("int")))
      .withColumn("tender_type", pick(seed, "tender", tenders))
      .withColumn("customer_id",
        when(pmod(h(seed, "cnull"), lit(10)) < 4, lit(null: String))
          .otherwise(concat(lit("cust-"), md5(concat(lit(seed), col("id"))))))
      .drop("id")
    if (scenario == Scenario.SchemaDrift.name) {
      // record 0: unit_price_cents → unit_price (app.py:69-73). The global
      // window is fine here: the wire payload is one small API batch.
      base.withColumn("__idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("txn_id"))) - 1)
        .withColumn("unit_price",
          when(col("__idx") === 0, col("unit_price_cents")))
        .withColumn("unit_price_cents",
          when(col("__idx") === 0, lit(null: Integer)).otherwise(col("unit_price_cents")))
        .drop("__idx")
    } else base
  }

  /** The API envelope `{ok, run_id, transactions: [...]}` (app.py:77-81)
    * as a single JSON document string — the raw artifact the ingest stage
    * writes. Driver-side by design: the reference source is one small HTTP
    * response per run, not a distributed dataset.
    *
    * scenario=temporal_error → HttpStatusError(500) with probability 0.7
    * (seeded; app.py:59-65). scenario=malformed_json → body truncated to
    * half (app.py:75-79).
    */
  def envelopeJson(spark: SparkSession, runId: String, scenario: String,
      n: Int = 40): String = {
    if (scenario == Scenario.TemporalError.name &&
        Scenario.draw(runId, scenario, "http500") < 0.7)
      throw HttpStatusError(500, s"POS API returned 500 for run_id=$runId")
    val rows = transactions(spark, runId, scenario, n)
      .toJSON.collect().mkString(",")
    val body = s"""{"ok": true, "run_id": "$runId", "transactions": [$rows]}"""
    if (scenario == Scenario.MalformedJson.name) body.substring(0, body.length / 2)
    else body
  }
}
