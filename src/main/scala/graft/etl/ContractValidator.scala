package graft.etl

import java.io.StringWriter

import com.fasterxml.jackson.core.{JacksonException, JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.types._

/** Contract validation error carrying the first violations, sorted by path
  * (reference: DataContractError, grocery_validate_dag.py:56-62 — "collect
  * all errors, sort by path, raise with first 5").
  */
final class DataContractError(val violations: Seq[String], val total: Long)
  extends RuntimeException(
    s"contract validation failed with $total violation(s); first ${violations.size}: " +
      violations.mkString("; "))

/** Schema-contract validation operators (reference: JSON Schema Draft
  * 2020-12 applied at ingest, grocery_validate_dag.py:17-62; versioned
  * contract check, validation_schema_drift_dag.py:36-70).
  *
  * A run's envelope is ONE small JSON document that the validate stage
  * has already read into the driver, so it is parsed and checked there
  * with a Jackson streaming parser: no Spark job, and strict by
  * construction — any truncation or trailing garbage is a parse error,
  * never a partial result.
  */
object ContractValidator {

  /** Wire transaction schema (FIXTURES.md §1; contract at
    * grocery_validate_dag.py:17-41). `unit_price_cents` is intentionally
    * absent from `required` — the contract gap the schema_drift scenario
    * exploits (typed-only, line 33).
    */
  val txnSchema: StructType = StructType(Seq(
    StructField("event_time", StringType),
    StructField("txn_id", StringType),
    StructField("store_id", StringType),
    StructField("sku", StringType),
    StructField("quantity", LongType),
    StructField("unit_price_cents", LongType),
    StructField("tender_type", StringType),
    StructField("customer_id", StringType)))

  val requiredTxnFields: Seq[String] =
    Seq("event_time", "txn_id", "store_id", "sku", "quantity", "tender_type")

  /** One wire transaction: the contract fields that arrived with their
    * declared type (String or Long). An absent, null or wrong-typed field
    * is simply not in the map.
    */
  type Txn = Map[String, Any]

  private val json = new JsonFactory()
  private val fieldType: Map[String, DataType] =
    txnSchema.fields.map(f => f.name -> f.dataType).toMap

  private def malformed =
    new DataContractError(Seq("$: malformed JSON envelope"), 1)

  /** Parse a raw envelope JSON document (the raw/transactions.json
    * artifact) into its transactions, in wire order. A document that is
    * not exactly one JSON object (the malformed_json / partial_write
    * scenarios, any truncated body) → DataContractError, matching the
    * reference's JSONDecodeError hard stop (grocery_validate_dag.py:
    * 52-54); so does a missing or non-boolean `ok`, `ok = false` (the
    * producer's error channel, not a payload to process), and a missing
    * or non-array `transactions`.
    */
  def parseEnvelope(rawJson: String): IndexedSeq[Txn] = {
    val p = json.createParser(rawJson)
    var ok: Option[Boolean] = None
    var txns: Option[IndexedSeq[Txn]] = None
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) throw malformed
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        val t = p.nextToken()
        name match {
          case "ok" => ok = t match {
            case JsonToken.VALUE_TRUE => Some(true)
            case JsonToken.VALUE_FALSE => Some(false)
            case _ => p.skipChildren(); None
          }
          case "transactions" => txns =
            if (t == JsonToken.START_ARRAY) Some(parseTxns(p))
            else { p.skipChildren(); None }
          case _ => p.skipChildren()
        }
      }
      // the loop ends on the root's END_OBJECT (an unclosed root throws);
      // anything after it but whitespace is not one JSON document
      if (p.currentToken() != JsonToken.END_OBJECT || p.nextToken() != null) throw malformed
    } catch {
      case _: JacksonException => throw malformed
    } finally p.close()
    ok match {
      case None => throw malformed
      case Some(false) =>
        throw new DataContractError(Seq("$.ok: producer signalled failure (ok=false)"), 1)
      case Some(true) =>
    }
    txns.getOrElse(throw new DataContractError(
      Seq("$.transactions: required array missing or wrong type"), 1))
  }

  private def parseTxns(p: JsonParser): IndexedSeq[Txn] = {
    val out = IndexedSeq.newBuilder[Txn]
    while (p.nextToken() != JsonToken.END_ARRAY) {
      if (p.currentToken() == null) throw malformed
      if (p.currentToken() != JsonToken.START_OBJECT) { p.skipChildren(); out += Map.empty }
      else {
        val txn = Map.newBuilder[String, Any]
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          val t = p.nextToken()
          fieldType.get(name).flatMap(value(p, t, _)).foreach(v => txn += name -> v)
          p.skipChildren()
        }
        out += txn.result()
      }
    }
    out.result()
  }

  /** A scalar as its declared type, or None when null or wrong-typed. A
    * string field takes any scalar's text, a long field only an integer
    * that fits (the coercions Spark's JSON reader applies).
    */
  private def value(p: JsonParser, t: JsonToken, dt: DataType): Option[Any] =
    (dt, t) match {
      case (StringType, _) if t.isScalarValue && t != JsonToken.VALUE_NULL => Some(p.getText)
      case (LongType, JsonToken.VALUE_NUMBER_INT)
          if p.getNumberType != JsonParser.NumberType.BIG_INTEGER => Some(p.getLongValue)
      case _ => None
    }

  /** Check transactions against the contract → (path, message) violations
    * ordered by path. Missing required field and type mismatch both
    * surface as an absent field, mirroring the union of the JSON-schema
    * `required` + `type` checks.
    */
  def violations(txns: Seq[Txn]): Seq[(String, String)] =
    txns.zipWithIndex.flatMap { case (txn, pos) =>
      requiredTxnFields.filterNot(txn.contains).map { f =>
        s"$$.transactions[$pos].$f" -> s"required field missing or wrong type: $f"
      }
    }.sortBy(_._1)

  /** Hard-stop validation: raise DataContractError with the first
    * `reportFirst` violations (sorted by path) if any exist.
    */
  def assertValid(txns: Seq[Txn], reportFirst: Int = 5): Unit = {
    val v = violations(txns)
    if (v.nonEmpty)
      throw new DataContractError(
        v.take(reportFirst).map { case (path, msg) => s"$path: $msg" }, v.size.toLong)
  }

  /** Transactions as the staged NDJSON artifact: one object per line in
    * [[txnSchema]] order plus `run_id`, null fields omitted (the shape
    * Spark's JSON writer gives the same rows).
    */
  def toNdjson(txns: Seq[Txn], runId: String): String = {
    val w = new StringWriter()
    val g = json.createGenerator(w)
    txns.foreach { txn =>
      g.writeStartObject()
      txnSchema.fieldNames.foreach { f =>
        txn.get(f).foreach {
          case s: String => g.writeStringField(f, s)
          case n: Long => g.writeNumberField(f, n)
        }
      }
      g.writeStringField("run_id", runId)
      g.writeEndObject()
      g.writeRaw('\n')
    }
    g.close()
    w.toString
  }

  /** Versioned-contract check (reference:
    * validation_schema_drift_dag.py:50-70 — consumer pinned to v1 fails on
    * a v2 payload). Compares the actual schema against the expected one
    * and fails with a field-level diff.
    */
  def assertSchemaVersion(actual: StructType, expected: StructType,
      version: Int, expectedVersion: Int): Unit = {
    if (version != expectedVersion)
      throw new DataContractError(
        Seq(s"$$.schema_version: expected $expectedVersion, got $version"), 1)
    val missing = expected.fieldNames.toSet -- actual.fieldNames.toSet
    val extra = actual.fieldNames.toSet -- expected.fieldNames.toSet
    if (missing.nonEmpty || extra.nonEmpty) {
      val msgs = missing.toSeq.sorted.map(f => s"$$.$f: missing from payload") ++
        extra.toSeq.sorted.map(f => s"$$.$f: unexpected field")
      throw new DataContractError(msgs.take(5), msgs.size.toLong)
    }
  }
}
