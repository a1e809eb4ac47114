package graft.etl

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSpec

class PosGeneratorSpec extends AnyFunSuite with SparkSpec {

  private def posRead(runId: String, n: Int, partitions: Int = 1) =
    spark.read.format("graft-pos")
      .option("run_id", runId).option("scenario", "ok")
      .option("n", n).option("partitions", partitions).load()

  test("deterministic per (runId, scenario)") {
    val a = PosGenerator.envelopeJson("run-1", "ok")
    val b = PosGenerator.envelopeJson("run-1", "ok")
    val c = PosGenerator.envelopeJson("run-2", "ok")
    val d = PosGenerator.envelopeJson("run-1", "bad_data")
    assert(a == b)
    assert(a != c)
    // same run_id and txn_ids: only the seed, which folds in the
    // scenario as the mock API does, can tell them apart
    assert(a != d)
  }

  test("row count and field domains match the wire contract") {
    val rows = ContractValidator.parseEnvelope(PosGenerator.envelopeJson("run-dom", "ok", 200))
    assert(rows.size == 200)
    assert(rows.forall(r => PosGenerator.stores.contains(r("store_id"))))
    assert(rows.forall(r => PosGenerator.skus.contains(r("sku"))))
    assert(rows.forall(r => PosGenerator.tenders.contains(r("tender_type"))))
    assert(rows.forall { r =>
      val q = r("quantity").asInstanceOf[Long]; q >= 1 && q <= 5
    })
    assert(rows.forall(r =>
      PosGenerator.pricesCents.contains(r("unit_price_cents").asInstanceOf[Long].toInt)))
    // customer_id null with p≈0.4 (app.py:34)
    val nullRate = rows.count(!_.contains("customer_id")).toDouble / 200
    assert(nullRate > 0.2 && nullRate < 0.6, s"null rate $nullRate")
  }

  test("graft-pos rows for verify-run equal the PosSourcePinned pin") {
    val got = posRead("verify-run", 200, partitions = 4).collect()
      .map(_.toSeq).sortBy(_(1).toString).toSeq
    val pinned = spark.sql(s"SELECT * FROM ${PosSourcePinned.valuesSql}").collect()
      .map(_.toSeq).sortBy(_(1).toString).toSeq
    assert(got.size == 200)
    assert(got == pinned,
      "the POS derivation drifted from its pin — q_pos_source, q_pos_generate and " +
        "q_grocery_daily_mart's oracles would all diverge")
  }

  test("envelope records are byte for byte the toJSON of the same graft-pos rows") {
    for ((runId, n) <- Seq(("verify-run", 200), ("run-7", 40), ("run-one", 1), ("run-none", 0))) {
      val rows = posRead(runId, n, partitions = 3).toJSON.collect().mkString(",")
      assert(PosGenerator.envelopeJson(runId, "ok", n) ==
        s"""{"ok": true, "run_id": "$runId", "transactions": [$rows]}""", s"($runId, $n)")
    }
  }

  test("ingest renders the envelope on the driver: no Spark job") {
    val sc = spark.sparkContext
    def jobsIn(group: String)(f: => Unit): Int = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    // the counter sees a job started from this thread
    assert(jobsIn("pos-ingest-control")(spark.range(3).count()) > 0)
    val paths = RunPaths(Files.createTempDirectory("pos-ingest").toString, "run-nojob")
    assert(jobsIn("pos-ingest")(GroceryPipeline.ingest(spark, paths, "ok")) == 0)
    assert(Files.size(Paths.get(paths.rawFile)) > 0)
  }

  test("envelope escapes run_id: quotes and backslashes round-trip") {
    val runId = "run\"q\\x"
    val body = PosGenerator.envelopeJson(runId, "ok", 3)
    assert(ContractValidator.parseEnvelope(body).size == 3)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(body).get("run_id").asText == runId)
  }

  test("schema_drift mutates exactly record 0: unit_price_cents → unit_price") {
    val body = PosGenerator.envelopeJson("run-d", "schema_drift", 40)
    val raw = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(body).get("transactions")
    val drifted = (0 until raw.size).filter(i =>
      !raw.get(i).has("unit_price_cents") && raw.get(i).has("unit_price"))
    assert(drifted == Seq(0))
    assert((0 until raw.size).count(i => raw.get(i).has("unit_price_cents")) == 39)
    // the drifted record carries the derived price under the new name
    assert(raw.get(0).get("unit_price").asInt() ==
      PosGenerator.txns("run-d", "schema_drift")(0).unitPriceCents)
  }

  test("temporal_error throws deterministically per runId") {
    val failing = (1 to 50).map(i => s"run-t$i")
      .find(r => Scenario.draw(r, "temporal_error", "http500") < 0.7).get
    val ok = (1 to 50).map(i => s"run-t$i")
      .find(r => Scenario.draw(r, "temporal_error", "http500") >= 0.7).get
    intercept[RuntimeException] {
      PosGenerator.envelopeJson(failing, "temporal_error")
    }
    // same runId fails again (seeded per request, app.py:15-17) …
    intercept[RuntimeException] {
      PosGenerator.envelopeJson(failing, "temporal_error")
    }
    // … while a luckier runId succeeds
    assert(PosGenerator.envelopeJson(ok, "temporal_error").nonEmpty)
  }

  test("malformed_json truncates the envelope body") {
    val good = PosGenerator.envelopeJson("run-m", "ok")
    val bad = PosGenerator.envelopeJson("run-m", "malformed_json")
    assert(bad.length < good.length)
  }
}
