package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** One wire transaction as the mock POS API emits it. `customer` is null
  * when the shopper is anonymous (the reference emits null with p = 0.4).
  */
final case class Txn(eventSec: Long, txnId: String, store: String, sku: String,
    qty: Int, price: Int, tender: String, customer: String)

/** What the pipeline must do with a delivery: commit it, or raise
  * `errorClass` from `stage`.
  */
sealed trait Expect
case object Commit extends Expect
final case class Raise(stage: String, errorClass: String) extends Expect

/** One HTTP response the mock API serves for (runId, scenario). `failures`
  * is how many leading requests get a 500 before the body is served
  * (Int.MaxValue: always 500).
  */
final case class Delivery(runId: String, scenario: String, txns: IndexedSeq[Txn],
    body: Array[Byte], failures: Int, expect: Expect)

/** The benchmark's own input generator, in plain Scala and independent of
  * the program's `PosGenerator`: every byte the program receives comes
  * from here, and the oracle is computed from the same values.
  */
object Gen {
  val Stores: Vector[String] = Vector("SFO-001", "NYC-014", "AUS-002")
  val Skus: Vector[String] =
    Vector("SKU-APPLE", "SKU-MILK", "SKU-BREAD", "SKU-COFFEE", "SKU-RICE")
  val Prices: Vector[Int] = Vector(199, 299, 399, 599, 899)
  val Tenders: Vector[String] = Vector("cash", "card", "ebt")
  /** Dimension attributes as seeded by the reference DDL (sql/init.sql). */
  val Region: Map[String, String] =
    Map("SFO-001" -> "west", "NYC-014" -> "east", "AUS-002" -> "south")
  val Category: Map[String, String] = Map("SKU-APPLE" -> "produce",
    "SKU-MILK" -> "dairy", "SKU-BREAD" -> "bakery",
    "SKU-COFFEE" -> "beverages", "SKU-RICE" -> "pantry")

  /** Event times span 28 UTC days from 2024-01-01, so the daily mart has
    * 28 x 3 groups.
    */
  val BaseEpoch = 1704067200L
  val Days = 28

  /** Independent stream per (seed, purpose, index). */
  def rng(seed: Long, tag: String, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ tag.hashCode.toLong * 0xBF58476D1CE4E5B9L ^ i)

  def txn(r: SplittableRandom, txnId: String): Txn =
    Txn(BaseEpoch + r.nextLong(Days * 86400L), txnId,
      Stores(r.nextInt(Stores.size)), Skus(r.nextInt(Skus.size)),
      1 + r.nextInt(5), Prices(r.nextInt(Prices.size)),
      Tenders(r.nextInt(Tenders.size)),
      if (r.nextInt(10) < 4) null else f"cust-${r.nextInt(1000000)}%06d")

  def txns(r: SplittableRandom, runId: String, n: Int, from: Int = 0): IndexedSeq[Txn] =
    (from until from + n).map(i => txn(r, f"$runId-t$i%06d"))

  /** Redelivered content: every other field may change, the key stays. */
  def changed(r: SplittableRandom, t: Txn): Txn =
    t.copy(qty = 1 + r.nextInt(5), price = Prices(r.nextInt(Prices.size)),
      tender = Tenders(r.nextInt(Tenders.size)))

  /** How a delivery's body is damaged, if at all. */
  sealed trait Damage
  case object Clean extends Damage
  final case class DropField(idx: Int, field: String) extends Damage
  final case class RenameField(idx: Int, from: String, to: String) extends Damage

  /** The API envelope `{"ok", "run_id", "transactions"}` as JSON bytes. */
  def envelope(runId: String, ts: IndexedSeq[Txn], damage: Damage = Clean): Array[Byte] = {
    val sb = new java.lang.StringBuilder(ts.size * 180 + 64)
    sb.append("{\"ok\": true, \"run_id\": \"").append(runId).append("\", \"transactions\": [")
    var i = 0
    while (i < ts.size) {
      if (i > 0) sb.append(", ")
      appendTxn(sb, ts(i), i, damage)
      i += 1
    }
    sb.append("]}")
    sb.toString.getBytes(UTF_8)
  }

  /** Transactions as NDJSON, one object a line, the way the program stages them. */
  def ndjson(ts: Iterable[Txn]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(ts.size * 180)
    ts.foreach { t => appendTxn(sb, t, -1, Clean); sb.append('\n') }
    sb.toString.getBytes(UTF_8)
  }

  /** One transaction object, the i-th of its body, with `damage` applied
    * when it targets index i.
    */
  private def appendTxn(sb: java.lang.StringBuilder, t: Txn, i: Int, damage: Damage): Unit = {
    def field(name: String, quoted: Boolean, v: String, first: Boolean = false): Unit = {
      val shown = damage match {
        case DropField(j, n) if j == i && n == name => None
        case RenameField(j, n, to) if j == i && n == name => Some(to)
        case _ => Some(name)
      }
      shown.foreach { n =>
        if (!first) sb.append(", ")
        sb.append('"').append(n).append("\": ")
        if (v == null) sb.append("null")
        else if (quoted) sb.append('"').append(v).append('"')
        else sb.append(v)
      }
    }
    sb.append('{')
    field("event_time", quoted = true,
      java.time.Instant.ofEpochSecond(t.eventSec).toString, first = true)
    field("txn_id", quoted = true, t.txnId)
    field("store_id", quoted = true, t.store)
    field("sku", quoted = true, t.sku)
    field("quantity", quoted = false, t.qty.toString)
    field("unit_price_cents", quoted = false, t.price.toString)
    field("tender_type", quoted = true, t.tender)
    field("customer_id", quoted = true, t.customer)
    sb.append('}')
  }

  /** Running SHA-256 over every generated delivery, in schedule order. */
  final class Checksum {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(d: Delivery): Unit = {
      md.update(d.runId.getBytes(UTF_8)); md.update(d.scenario.getBytes(UTF_8))
      md.update(d.body)
    }
    def add(ts: Iterable[Txn]): Unit = ts.foreach(t => md.update(t.toString.getBytes(UTF_8)))
    def hex: String = md.clone().asInstanceOf[MessageDigest].digest().map("%02x".format(_)).mkString
  }
}

/** The expected warehouse state, computed from the generated inputs alone:
  * one fact per (run_id, txn_id), last delivery wins, plus the daily mart
  * per (UTC day, store_id) kept incrementally.
  */
final class Oracle {
  import Oracle._
  val facts = new java.util.HashMap[(String, String), Fact]()
  val mart = new java.util.HashMap[(Long, String), Array[Long]]()

  def upsert(runId: String, ts: Iterable[Txn]): Unit = ts.foreach { t =>
    val f = Fact(t.eventSec, t.store, t.sku, t.qty.toLong, t.price.toLong,
      t.qty.toLong * t.price, t.tender, t.customer, Gen.Region(t.store),
      Gen.Category(t.sku))
    val old = facts.put((runId, t.txnId), f)
    if (old != null) addMart(old, -1)
    addMart(f, 1)
  }

  private def addMart(f: Fact, sign: Int): Unit = {
    val m = mart.computeIfAbsent((Math.floorDiv(f.eventSec, 86400L), f.store),
      _ => new Array[Long](3))
    m(0) += sign; m(1) += sign * f.revenue; m(2) += sign * f.qty
    if (m(0) == 0) mart.remove((Math.floorDiv(f.eventSec, 86400L), f.store))
  }

  def martSnapshot: Map[(Long, String), (Long, Long, Long)] = {
    val b = Map.newBuilder[(Long, String), (Long, Long, Long)]
    mart.forEach((k, v) => b += k -> ((v(0), v(1), v(2))))
    b.result()
  }
}

object Oracle {
  final case class Fact(eventSec: Long, store: String, sku: String, qty: Long,
      price: Long, revenue: Long, tender: String, customer: String,
      region: String, category: String)

  /** Compare warehouse rows `(run_id, txn_id, fact)` with the expected
    * facts; returns the total mismatch count and the first few, described.
    */
  def diffFacts(expected: java.util.HashMap[(String, String), Fact],
      actual: Iterator[((String, String), Fact)]): (Long, Seq[String]) = {
    val seen = new java.util.HashSet[(String, String)]()
    var n = 0L
    val first = scala.collection.mutable.ArrayBuffer.empty[String]
    def miss(s: => String): Unit = { n += 1; if (first.size < 5) first += s }
    actual.foreach { case (k, f) =>
      if (!seen.add(k)) miss(s"duplicate key $k")
      else {
        val e = expected.get(k)
        if (e == null) miss(s"unexpected row $k")
        else if (e != f) {
          val fields = e.productElementNames.zip(e.productIterator.zip(f.productIterator))
            .collect { case (name, (x, y)) if x != y => s"$name expected $x got $y" }
          miss(s"row $k: ${fields.mkString(", ")}")
        }
      }
    }
    expected.keySet.forEach(k => if (!seen.contains(k)) miss(s"missing row $k"))
    (n, first.toSeq)
  }

  def diffMart(what: String, expected: Map[(Long, String), (Long, Long, Long)],
      actual: Seq[((Long, String), (Long, Long, Long))]): Seq[String] = {
    val dup = actual.groupBy(_._1).collect { case (k, v) if v.size > 1 => s"$what: duplicate group $k" }
    val got = actual.toMap
    dup.toSeq ++ (expected.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      (expected.get(k), got.get(k)) match {
        case (e, g) if e == g => None
        case (e, g) => Some(s"$what group $k: expected ${e.getOrElse("none")} got ${g.getOrElse("none")}")
      }
    }
  }
}
