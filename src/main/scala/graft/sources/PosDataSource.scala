package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownLimit}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.PosGenerator

/** DataSource V2 connector for the deterministic POS transaction
  * generator — the reference's HTTP source + mock API (SURVEY.md §2.1
  * S1/S2: grocery_ingest_dag.py:36-47 fetching mock_pos_api/app.py)
  * re-expressed as a first-class Spark table:
  *
  * {{{
  *   spark.read.format("graft-pos")
  *     .option("run_id", "run-42").option("scenario", "ok")
  *     .option("n", 1000000).option("partitions", 32)
  *     .load()
  * }}}
  *
  * Scale shape: `n` rows split across `partitions` input partitions,
  * each reader generating its id-range independently and
  * deterministically (seeded per (run_id, scenario, id)) — no driver
  * materialization, so the same source generates 40 rows or 40 billion.
  * LIMIT is pushed into the scan (SupportsPushDownLimit), so
  * `.load().limit(10)` plans 10 generated rows, not n.
  *
  * Each row comes from [[graft.etl.PosGenerator.txns]], the one POS
  * derivation; [[graft.etl.PosGenerator.envelopeJson]] renders the same
  * rows as the API's JSON envelope.
  */
class PosDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-pos"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PosDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new PosTable(new CaseInsensitiveStringMap(properties))
}

object PosDataSource {
  val schema: StructType = StructType(Seq(
    StructField("event_time", TimestampType, nullable = false),
    StructField("txn_id", StringType, nullable = false),
    StructField("store_id", StringType, nullable = false),
    StructField("sku", StringType, nullable = false),
    StructField("quantity", IntegerType, nullable = false),
    StructField("unit_price_cents", IntegerType, nullable = false),
    StructField("tender_type", StringType, nullable = false),
    StructField("customer_id", StringType, nullable = true)))
}

private[sources] class PosTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-pos(${options.getOrDefault("run_id", "run")})"
  override def schema(): StructType = PosDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new PosScanBuilder(
      o.getOrDefault("run_id", "run"),
      o.getOrDefault("scenario", "ok"),
      o.getOrDefault("n", "40").toLong,
      o.getOrDefault("partitions", "1").toInt,
      o.getOrDefault("rowsPerBatch", "40").toLong)
}

private[sources] class PosScanBuilder(runId: String, scenario: String,
    var n: Long, partitions: Int, rowsPerBatch: Long)
    extends ScanBuilder with SupportsPushDownLimit {

  require(n >= 0, s"n must be >= 0, got $n")
  require(partitions > 0, s"partitions must be > 0, got $partitions")
  // 0 would stall the stream forever; negative would walk offsets backwards
  require(rowsPerBatch > 0, s"rowsPerBatch must be > 0, got $rowsPerBatch")

  override def pushLimit(limit: Int): Boolean = {
    n = math.min(n, limit.toLong)
    true // fully pushed: the scan generates exactly min(n, limit) rows
  }

  private def splitRange(start: Long, end: Long): Array[InputPartition] = {
    val span = end - start
    val parts = math.max(1L, math.min(partitions.toLong, span)).toInt
    (0 until parts).map { p =>
      PosRange(runId, scenario,
        start + span * p / parts, start + span * (p + 1) / parts): InputPartition
    }.toArray
  }

  private val readerFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PosPartitionReader(p.asInstanceOf[PosRange])
  }

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = PosDataSource.schema
    override def description(): String =
      s"graft-pos run_id=$runId scenario=$scenario n=$n"
    override def toBatch: Batch = this

    override def planInputPartitions(): Array[InputPartition] =
      splitRange(0L, n)

    override def createReaderFactory(): PartitionReaderFactory = readerFactory

    /** Streaming form: the generator is an ordered, replayable row space
      * [0, n); offsets are plain row counters, each trigger serves up to
      * `rowsPerBatch` rows, and any offset range replans exactly the
      * same partitions — which is all exactly-once recovery needs.
      */
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new MicroBatchStream {
        // rate limiting lives HERE: latestOffset advances the cursor by
        // rowsPerBatch per trigger. planInputPartitions must serve the
        // engine's [start, end) verbatim — truncating there would commit
        // offsets for rows never emitted.
        private var cursor = 0L
        override def initialOffset(): Offset = PosOffset(0L)
        override def deserializeOffset(json: String): Offset = {
          val p = json.toLong
          cursor = math.max(cursor, p) // resume after restart
          PosOffset(p)
        }
        override def latestOffset(): Offset = {
          cursor = math.min(cursor + rowsPerBatch, n)
          PosOffset(cursor)
        }
        override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
          splitRange(start.asInstanceOf[PosOffset].pos,
            end.asInstanceOf[PosOffset].pos)
        override def createReaderFactory(): PartitionReaderFactory = readerFactory
        override def commit(end: Offset): Unit = ()
        override def stop(): Unit = ()
      }
  }
}

/** Row-counter offset for the streaming POS source. */
private[sources] final case class PosOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

private[sources] final case class PosRange(runId: String, scenario: String,
    start: Long, end: Long) extends InputPartition

private[sources] class PosPartitionReader(range: PosRange)
    extends PartitionReader[InternalRow] {

  private val txn = PosGenerator.txns(range.runId, range.scenario)
  private var id = range.start - 1

  override def next(): Boolean = { id += 1; id < range.end }

  override def get(): InternalRow = {
    val t = txn(id)
    InternalRow(t.eventTime,
      UTF8String.fromString(t.txnId),
      UTF8String.fromString(t.storeId),
      UTF8String.fromString(t.sku),
      t.quantity,
      t.unitPriceCents,
      UTF8String.fromString(t.tenderType),
      t.customerId.map(UTF8String.fromString).orNull)
  }

  override def close(): Unit = ()
}
