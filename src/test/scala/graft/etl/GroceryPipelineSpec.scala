package graft.etl

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSpec

/** E2E scenario failure matrix (SURVEY.md §2.8 / FIXTURES.md §4): each
  * scenario must fail at a specific stage with a specific error class.
  */
class GroceryPipelineSpec extends AnyFunSuite with SparkSpec {

  private def tmp() = Files.createTempDirectory("grocery").toString

  /** The failure event a stage attempt wrote, parsed. */
  private def event(base: String, name: String): JsonNode =
    new ObjectMapper().readTree(Paths.get(s"$base/failure_events/$name.json").toFile)

  test("ok: full chain passes, canary ≥ 10 rows, reconcile verdict written") {
    val base = tmp()
    val wh = s"$base/warehouse/fct_sales"
    val verdict = GroceryPipeline.run(spark, base, wh, "run-ok", "ok")
    assert(verdict.pass)
    assert(spark.read.parquet(wh).filter("run_id = 'run-ok'").count() == 40)
    assert(Files.exists(java.nio.file.Paths.get(
      RunPaths(base, "run-ok").reconcileFile)))
  }

  test("rerunning the same run_id is idempotent (upsert, not append)") {
    val base = tmp()
    val wh = s"$base/warehouse/fct_sales"
    GroceryPipeline.run(spark, base, wh, "run-idem", "ok")
    GroceryPipeline.run(spark, base, wh, "run-idem", "ok")
    assert(spark.read.parquet(wh).filter("run_id = 'run-idem'").count() == 40)
  }

  test("two runs coexist keyed by (run_id, txn_id)") {
    val base = tmp()
    val wh = s"$base/warehouse/fct_sales"
    GroceryPipeline.run(spark, base, wh, "run-a", "ok")
    GroceryPipeline.run(spark, base, wh, "run-b", "ok")
    assert(spark.read.parquet(wh).count() == 80)
  }

  test("K4: enriched single-doc envelope matches the reference shape") {
    val base = tmp()
    val paths = RunPaths(base, "run-env")
    GroceryPipeline.ingest(spark, paths, "ok")
    GroceryPipeline.validate(spark, paths)
    GroceryPipeline.enrich(spark, paths)
    val n = GroceryPipeline.writeEnrichedEnvelope(spark, paths, "ok")
    assert(n == 40)
    val doc = spark.read.option("multiLine", true).json(paths.enrichedDocFile)
    assert(doc.count() == 1) // ONE document, not NDJSON
    val row = doc.selectExpr("run_id", "scenario", "size(enriched)").head()
    assert(row.getString(0) == "run-env" && row.getString(1) == "ok"
      && row.getInt(2) == 40)
    // atomic commit: no .tmp left behind
    assert(!Files.exists(java.nio.file.Paths.get(paths.enrichedDocFile + ".tmp")))
  }

  test("malformed_json fails in validate with DataContractError + failure event") {
    val base = tmp()
    intercept[DataContractError] {
      GroceryPipeline.run(spark, base, s"$base/wh", "run-mj", "malformed_json")
    }
    val events = new java.io.File(s"$base/failure_events").list()
    assert(events.exists(_.contains("validate")))
    // a contract error is deterministic: no retry, one try recorded
    assert(event(base, "run-mj-validate-1").get("try_number").asInt == 1)
    assert(events.toSeq == Seq("run-mj-validate-1.json"))
  }

  test("schema_drift passes validation but fails in enrich (the contract gap)") {
    val base = tmp()
    val paths = RunPaths(base, "run-sd")
    GroceryPipeline.ingest(spark, paths, "schema_drift")
    assert(GroceryPipeline.validate(spark, paths) == 40) // gap: drift not caught
    val e = intercept[DataContractError] { GroceryPipeline.enrich(spark, paths) }
    assert(e.getMessage.contains("revenue_cents"))
    // the failed stage leaves no artifact behind, so load cannot go on
    assert(!Files.exists(Paths.get(paths.enrichedDir)))
    intercept[java.io.FileNotFoundException] {
      GroceryPipeline.load(spark, paths, s"$base/wh")
    }
  }

  test("temporal_error: deterministic per runId; retries cannot save a doomed run") {
    val doomed = (1 to 50).map(i => s"run-te$i")
      .find(r => Scenario.draw(r, "temporal_error", "http500") < 0.7).get
    val base = tmp()
    intercept[RuntimeException] {
      GroceryPipeline.run(spark, base, s"$base/wh", doomed, "temporal_error")
    }
    val events = new java.io.File(s"$base/failure_events").list()
    assert(events.exists(_.contains("ingest")))
    // the simulated 500 is transient: ingest's 2 retries were all spent
    val ev = event(base, s"$doomed-ingest-3")
    assert(ev.get("exception_class").asText.endsWith("HttpStatusError"))
    assert(ev.get("try_number").asInt == 3)
  }

  test("temporal_error: a run that draws no 500 commits") {
    val lucky = (1 to 50).map(i => s"run-te$i")
      .find(r => Scenario.draw(r, "temporal_error", "http500") >= 0.7).get
    val base = tmp()
    assert(GroceryPipeline.run(spark, base, s"$base/wh", lucky, "temporal_error").pass)
    assert(spark.read.parquet(s"$base/wh").count() == 40)
  }

  test("failure events and reconcile verdicts are valid JSON for any run_id and message") {
    val base = tmp()
    val runId = "run-\"q\"\\x"
    FailureNotifier.notify(base, "grocery_pipeline", runId, "enrich", 1,
      new RuntimeException("ctl \u0001 tab\t nl\n"))
    val ev = event(base, s"$runId-enrich-1")
    assert(ev.get("run_id").asText == runId)
    assert(ev.get("exception").asText == "ctl \u0001 tab\t nl\n")
    val paths = RunPaths(base, runId)
    paths.mkdirs()
    val wh = s"$base/wh"
    import spark.implicits._
    Seq.tabulate(12)(i => (runId, s"t$i")).toDF("run_id", "txn_id").write.parquet(wh)
    assert(GroceryPipeline.reconcile(spark, paths, wh).pass)
    val verdict = new ObjectMapper().readTree(new java.io.File(paths.reconcileFile))
    assert(verdict.get("run_id").asText == runId)
    assert(verdict.get("pass").asBoolean)
  }

  test("partial_write: a concurrent reader inside the race window sees torn JSON") {
    val base = tmp()
    val paths = RunPaths(base, "run-pw")
    // latches synchronize writer and reader deterministically: the writer
    // parks inside the torn-file window until the reader has observed it
    val halfWritten = new java.util.concurrent.CountDownLatch(1)
    val readerDone = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() =>
      try GroceryPipeline.ingest(spark, paths, "partial_write",
        midWrite = Some { () =>
          halfWritten.countDown()
          readerDone.await()
        })
      finally halfWritten.countDown() // never leave the main thread hanging
    )
    writer.start()
    assert(halfWritten.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "writer never reached the torn-file window")
    assert(Files.exists(java.nio.file.Paths.get(paths.rawFile)),
      "writer failed before the first half landed")
    val torn = new String(Files.readAllBytes(java.nio.file.Paths.get(paths.rawFile)))
    readerDone.countDown()
    intercept[DataContractError] {
      ContractValidator.parseEnvelope(torn)
    }
    writer.join()
    // after the writer finishes the artifact is whole again
    assert(GroceryPipeline.validate(spark, paths) == 40)
  }

  test("missing upstream artifact yields FileNotFoundException with run diagnostics") {
    val base = tmp()
    val e = intercept[java.io.FileNotFoundException] {
      GroceryPipeline.validate(spark, RunPaths(base, "run-missing"))
    }
    assert(e.getMessage.contains("run-missing"))
  }

  test("reconcile canary fails a short run (< 10 rows)") {
    val base = tmp()
    val wh = s"$base/wh"
    val paths = RunPaths(base, "run-short")
    GroceryPipeline.ingest(spark, paths, "ok", n = 3)
    GroceryPipeline.validate(spark, paths)
    GroceryPipeline.enrich(spark, paths)
    GroceryPipeline.load(spark, paths, wh)
    intercept[DataQualityError] {
      GroceryPipeline.reconcile(spark, paths, wh)
    }
  }
}
