package graft.etl

import java.io.StringWriter
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.core.JsonFactory

import graft.Json
import graft.sources.HttpFetch.HttpStatusError

/** Deterministic POS transaction source (reference: mock_pos_api/app.py
  * :15-36 — seeded RNG per (run_id, scenario); sku∈5, qty 1-5,
  * price∈{199,299,399,599,899}, tender∈{cash,card,ebt}, customer_id null
  * with p=0.4).
  *
  * Every field of row `id` is a plain-Scala seeded hash,
  * `floorMod(MurmurHash3.stringHash(s"$seed::$tag::$id"), size)` with the
  * seed of [[Scenario.seed]], so a row depends only on (run_id, scenario,
  * id). [[txns]] is the one derivation. The `graft-pos` DSv2 connector
  * ([[graft.sources.PosDataSource]]) calls it per partition for any `n`;
  * [[envelopeJson]] calls it on the driver to render one run's small API
  * response. `PosSourcePinned` freezes the first 200 rows of
  * ("verify-run", "ok"), and `tools/gen_pos_oracle.py` replays the
  * derivation independently.
  */
object PosGenerator {

  val stores: IndexedSeq[String] = IndexedSeq("SFO-001", "NYC-014", "AUS-002")
  val skus: IndexedSeq[String] =
    IndexedSeq("SKU-APPLE", "SKU-MILK", "SKU-BREAD", "SKU-COFFEE", "SKU-RICE")
  val pricesCents: IndexedSeq[Int] = IndexedSeq(199, 299, 399, 599, 899)
  val tenders: IndexedSeq[String] = IndexedSeq("cash", "card", "ebt")

  private val baseEpochMicros = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  /** One wire transaction, fields in `PosDataSource.schema` order;
    * `eventTime` is microseconds since the epoch.
    */
  final case class Txn(eventTime: Long, txnId: String, storeId: String,
      sku: String, quantity: Int, unitPriceCents: Int, tenderType: String,
      customerId: Option[String])

  /** Row `id` of (runId, scenario); the seed is hashed once per call. */
  def txns(runId: String, scenario: String): Long => Txn = {
    val seed = Scenario.seed(runId, scenario)
    def hash(tag: String, id: Long): Int = MurmurHash3.stringHash(s"$seed::$tag::$id")
    def pick[T](tag: String, id: Long, values: IndexedSeq[T]): T =
      values(math.floorMod(hash(tag, id), values.size))
    id => Txn(
      baseEpochMicros + id * 7L * 1000000L,
      f"$runId-txn-$id%06d",
      pick("store", id, stores),
      pick("sku", id, skus),
      math.floorMod(hash("qty", id), 5) + 1,
      pick("price", id, pricesCents),
      pick("tender", id, tenders),
      if (math.floorMod(hash("cnull", id), 10) < 4) None
      else Some(s"cust-${hash("cust", id) & 0x7FFFFFFF}"))
  }

  /** The API envelope `{ok, run_id, transactions: [...]}` (app.py:77-81)
    * as a single JSON document string — the raw artifact the ingest stage
    * writes. Rendered on the driver, no Spark job: the reference source
    * is one small HTTP response per run.
    *
    * scenario=temporal_error → HttpStatusError(500) with probability 0.7
    * (seeded; app.py:59-65). scenario=schema_drift → record 0 carries
    * `unit_price` instead of `unit_price_cents` (app.py:69-73).
    * scenario=malformed_json → body truncated to half (app.py:75-79).
    */
  def envelopeJson(runId: String, scenario: String, n: Int = 40): String = {
    if (scenario == Scenario.TemporalError.name &&
        Scenario.draw(runId, scenario, "http500") < 0.7)
      throw HttpStatusError(500, s"POS API returned 500 for run_id=$runId")
    val txn = txns(runId, scenario)
    val drift = scenario == Scenario.SchemaDrift.name
    val rows = (0L until n).map(id => record(txn(id), drift && id == 0)).mkString(",")
    val body = s"""{"ok": true, "run_id": ${Json.str(runId)}, "transactions": [$rows]}"""
    if (scenario == Scenario.MalformedJson.name) body.substring(0, body.length / 2)
    else body
  }

  private val json = new JsonFactory()
  private val isoMillis =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(ZoneOffset.UTC)

  /** One transaction as `Dataset.toJSON` renders its row under a UTC
    * session: compact, keys in schema order, null fields left out,
    * timestamps in millis. A drifted record moves `unit_price_cents` to
    * a trailing `unit_price`.
    */
  private def record(t: Txn, drifted: Boolean): String = {
    val w = new StringWriter()
    val g = json.createGenerator(w)
    g.writeStartObject()
    g.writeStringField("event_time",
      isoMillis.format(Instant.EPOCH.plus(t.eventTime, ChronoUnit.MICROS)))
    g.writeStringField("txn_id", t.txnId)
    g.writeStringField("store_id", t.storeId)
    g.writeStringField("sku", t.sku)
    g.writeNumberField("quantity", t.quantity)
    if (!drifted) g.writeNumberField("unit_price_cents", t.unitPriceCents)
    g.writeStringField("tender_type", t.tenderType)
    t.customerId.foreach(g.writeStringField("customer_id", _))
    if (drifted) g.writeNumberField("unit_price", t.unitPriceCents)
    g.writeEndObject()
    g.close()
    w.toString
  }
}
