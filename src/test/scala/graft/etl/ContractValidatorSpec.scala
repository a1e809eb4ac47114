package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Try}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSpec

class ContractValidatorSpec extends AnyFunSuite with SparkSpec {

  private def envelope(txns: String*): String =
    s"""{"ok": true, "run_id": "r1", "transactions": [${txns.mkString(",")}]}"""

  private val goodTxn =
    """{"event_time": "2024-01-01T00:00:00Z", "txn_id": "t1", "store_id": "SFO-001",
      | "sku": "SKU-APPLE", "quantity": 2, "unit_price_cents": 199,
      | "tender_type": "cash", "customer_id": null}""".stripMargin

  test("valid payload produces zero violations") {
    val txns = ContractValidator.parseEnvelope(envelope(goodTxn))
    assert(ContractValidator.violations(txns).isEmpty)
    ContractValidator.assertValid(txns) // must not throw
  }

  test("generated ok payload passes the contract end-to-end") {
    val body = PosGenerator.envelopeJson(spark, "run-cv", "ok")
    val txns = ContractValidator.parseEnvelope(body)
    assert(txns.size == 40)
    ContractValidator.assertValid(txns)
  }

  test("drifted payload still passes — unit_price_cents is optional (the contract gap)") {
    // grocery_validate_dag.py:33: unit_price_cents typed but NOT required;
    // the schema_drift scenario sails through validation and fails later.
    val body = PosGenerator.envelopeJson(spark, "run-gap", "schema_drift")
    ContractValidator.assertValid(ContractValidator.parseEnvelope(body))
  }

  test("missing required field and wrong type are both violations, sorted by path") {
    val noTxnId =
      """{"event_time": "2024-01-01T00:00:00Z", "store_id": "SFO-001",
        | "sku": "SKU-APPLE", "quantity": "two", "tender_type": "cash"}""".stripMargin
    val txns = ContractValidator.parseEnvelope(envelope(goodTxn, noTxnId))
    val v = ContractValidator.violations(txns)
    assert(v.length == 2)
    val paths = v.map(_._1)
    assert(paths == paths.sorted)
    assert(paths.exists(_.endsWith("quantity")))
    assert(paths.exists(_.endsWith("txn_id")))
  }

  test("assertValid reports at most 5 violations but the full total") {
    val empties = Seq.fill(3)("{}")
    val txns = ContractValidator.parseEnvelope(envelope(empties: _*))
    val e = intercept[DataContractError] { ContractValidator.assertValid(txns) }
    assert(e.violations.size == 5)
    assert(e.total == 18) // 3 records × 6 required fields
    // the first 5 by path, not by record: [0] and [1] before [2]
    assert(e.violations.head.startsWith("$.transactions[0].event_time:"))
  }

  test("malformed JSON document is a hard stop") {
    val good = PosGenerator.envelopeJson(spark, "run-mf", "ok")
    val truncated = good.substring(0, good.length / 2)
    intercept[DataContractError] {
      ContractValidator.parseEnvelope(truncated)
    }
  }

  test("strict parse: every strict prefix of a generated envelope is a DataContractError") {
    // a prefix cut inside the transactions array used to parse with
    // transactions = null and pass validation with 0 rows
    for (scenario <- Seq("ok", "schema_drift")) {
      val body = PosGenerator.envelopeJson(spark, s"run-cut-$scenario", scenario)
      assert(ContractValidator.parseEnvelope(body).size == 40)
      val wrong = (0 until body.length).filter { i =>
        Try(ContractValidator.parseEnvelope(body.substring(0, i))) match {
          case Failure(_: DataContractError) => false
          case _ => true
        }
      }
      assert(wrong.isEmpty, s"$scenario: ${wrong.size} of ${body.length} prefixes not rejected, " +
        s"first at ${wrong.headOption}")
    }
  }

  test("strict parse: null, missing or non-array transactions and trailing data are rejected") {
    def rejected(doc: String): String =
      intercept[DataContractError](ContractValidator.parseEnvelope(doc)).getMessage
    for (txns <- Seq(""""transactions": null""", """"transactions": {}""",
        """"transactions": "x""""))
      assert(rejected(s"""{"ok": true, "run_id": "r1", $txns}""").contains("$.transactions"))
    assert(rejected("""{"ok": true, "run_id": "r1"}""").contains("$.transactions"))
    assert(rejected("""{"ok": false, "run_id": "r1", "transactions": []}""").contains("ok=false"))
    assert(rejected("""{"run_id": "r1", "transactions": []}""").contains("malformed"))
    assert(rejected(envelope(goodTxn) + " {}").contains("malformed"))
    assert(rejected("").contains("malformed"))
    assert(rejected("[]").contains("malformed"))
    // surrounding whitespace is still one document
    assert(ContractValidator.parseEnvelope(s"\n ${envelope(goodTxn)}\n").size == 1)
  }

  test("validate stage rejects truncated envelopes at sampled cut points") {
    val body = PosGenerator.envelopeJson(spark, "run-cutv", "ok")
    // right after complete records (the cuts the old parse let through),
    // inside a record, and inside the envelope's header
    val afterRecord = Seq(0, 17, 38).map(k => body.indexOf("},{", body.indexOf("txn-" + f"$k%06d")) + 1)
    val cuts = afterRecord ++ Seq(body.length / 3, body.length - 2, 10)
    val paths = RunPaths(Files.createTempDirectory("cut").toString, "run-cutv")
    paths.mkdirs()
    for (cut <- cuts) {
      Files.write(Paths.get(paths.rawFile), body.substring(0, cut).getBytes(StandardCharsets.UTF_8))
      intercept[DataContractError](GroceryPipeline.validate(spark, paths))
    }
    Files.write(Paths.get(paths.rawFile), body.getBytes(StandardCharsets.UTF_8))
    assert(GroceryPipeline.validate(spark, paths) == 40)
  }

  test("staged NDJSON reads back exactly as Spark's from_json gave the same envelope") {
    import spark.implicits._
    val envelopeSchema = StructType(Seq(StructField("ok", BooleanType),
      StructField("run_id", StringType),
      StructField("transactions", ArrayType(ContractValidator.txnSchema))))
    val oddTypes = // number into a string field, string into a long field
      """{"event_time": "2024-01-01T00:00:01Z", "txn_id": "t2", "store_id": "SFO-001",
        | "sku": "SKU-MILK", "quantity": 1, "unit_price_cents": "299",
        | "tender_type": "card", "customer_id": 12, "extra": {"a": [1]}}""".stripMargin
    val bodies = Seq(PosGenerator.envelopeJson(spark, "run-par", "ok"),
      PosGenerator.envelopeJson(spark, "run-par", "schema_drift"), envelope(goodTxn, oddTypes))
    for (body <- bodies) {
      val viaSpark = Seq(body).toDF("raw")
        .select(explode(from_json(col("raw"), envelopeSchema)("transactions")).as("t"))
        .select("t.*").withColumn("run_id", lit("run-par")).collect().toSeq
      val ndjson = ContractValidator.toNdjson(ContractValidator.parseEnvelope(body), "run-par")
      val viaDriver = spark.read
        .schema(ContractValidator.txnSchema.add("run_id", "string"))
        .json(ndjson.split("\n").toSeq.toDS()).collect().toSeq
      assert(viaDriver == viaSpark)
    }
  }

  test("schema-version pinning rejects v2 payloads and reports field diff") {
    val v1 = StructType(Seq(StructField("id", StringType), StructField("amount", LongType)))
    val v2 = StructType(Seq(StructField("id", StringType),
      StructField("amount_cents", LongType), StructField("currency", StringType)))
    ContractValidator.assertSchemaVersion(v1, v1, 1, 1) // ok
    intercept[DataContractError] {
      ContractValidator.assertSchemaVersion(v2, v1, 2, 1) // version mismatch
    }
    val e = intercept[DataContractError] {
      ContractValidator.assertSchemaVersion(v2, v1, 1, 1) // field drift
    }
    assert(e.getMessage.contains("amount"))
  }
}
